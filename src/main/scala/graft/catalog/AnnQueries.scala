package graft
package catalog

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.operators._
import graft.SparkEntry.scoped

/** Similarity search: exact and approximate nearest neighbours over
  * `embeddings`, quantization, reranking, and the geographic radius and
  * k-NN joins. A query lands here when it reads `embeddings` or calls
  * `Similarity`, the vector kernels or `Geo`. */
object AnnQueries {

  def defs: Seq[QueryDef] = Seq(
    // Brute-force cosine top-5 neighbors for 5 query vectors (exact ANN
    // baseline; broadcast queries, one corpus scan).
    QueryDef("q26_embed_topk", (s, d) => {
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter($"vec_id" < 5)
      Similarity.bruteForceTopK(emb, "vec_id", "embedding",
          queries, "vec_id", "embedding", k = 5)
        .orderBy($"query_id", $"rk")
    }, Some(
      """WITH q AS (
        |  SELECT vec_id AS query_id, embedding AS qv FROM embeddings
        |  WHERE vec_id < 5),
        |scored AS (
        |  SELECT q.query_id, e.vec_id AS neighbor_id,
        |    list_cosine_similarity(
        |      CAST(e.embedding AS DOUBLE[]), CAST(q.qv AS DOUBLE[])) AS s
        |  FROM embeddings e, q WHERE e.vec_id <> q.query_id),
        |r AS (
        |  SELECT query_id, neighbor_id, s, row_number() OVER (
        |    PARTITION BY query_id ORDER BY s DESC, neighbor_id) AS rk
        |  FROM scored)
        |SELECT query_id, CAST(rk AS INT) AS rk, neighbor_id,
        |  floor((s) * 10000 + 0.5) / 10000.0 AS sim
        |FROM r WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin)),

    // IVF approximate ANN: 10 deterministic centroids, probe 3 cells
    // (rows-only: approximate by construction).
    QueryDef("q27_embed_ann_ivf", (s, d) => {
      val emb = Tables.embeddings(s, d)
      val centroids = emb.filter($"vec_id" % 50 === 0)
        .select($"vec_id".as("cid"), $"embedding".as("cvec"))
      val queries = emb.filter($"vec_id" < 5)
      Similarity.ivfTopK(emb, "vec_id", "embedding",
          centroids, "cid", "cvec", queries, "vec_id", "embedding",
          k = 5, nprobe = 3)
        .orderBy($"query_id", $"rk")
    },
    // Full IVF mirror: deterministic centroids (vec_id % 50 = 0), argmax
    // cell assignment, top-3 probe, exact scoring inside probed cells —
    // the approximation is in the ALGORITHM, not the engine, so the
    // oracle replicates it step for step.
    Some(
      """WITH c AS (SELECT vec_id AS cell_id, embedding AS cvec
        |  FROM embeddings WHERE vec_id % 50 = 0),
        |a AS (
        |  SELECT e.vec_id, e.embedding, c.cell_id,
        |    list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |      CAST(c.cvec AS DOUBLE[])) AS csim
        |  FROM embeddings e CROSS JOIN c),
        |assigned AS (
        |  SELECT vec_id, embedding, cell_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id
        |      ORDER BY csim DESC, cell_id ASC) AS arn FROM a)
        |  WHERE arn = 1),
        |q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
        |  WHERE vec_id < 5),
        |qc AS (
        |  SELECT q.query_id, q.qv, c.cell_id,
        |    row_number() OVER (PARTITION BY q.query_id ORDER BY
        |      list_cosine_similarity(CAST(q.qv AS DOUBLE[]),
        |        CAST(c.cvec AS DOUBLE[])) DESC, c.cell_id ASC) AS crk
        |  FROM q CROSS JOIN c),
        |probes AS (SELECT query_id, qv, cell_id FROM qc WHERE crk <= 3),
        |""".stripMargin + ivfScoredTopK)),

    // Embedding near-duplicate pairs: same-label blocking + exact cosine
    // threshold (the verification step of embedding dedup; oracle-able).
    // Triangle-partitioned self-join (Similarity.blockedSelfJoin): result
    // identical to the naive label join, but a skewed label's quadratic
    // comparisons spread over 36 chunk-pair tasks instead of one reducer.
    QueryDef("q35_embed_neardup", (s, d) => {
      Similarity.blockedSelfJoin(Tables.embeddings(s, d), "label",
          "vec_id", "embedding", chunks = 8)
        .withColumn("sim", Similarity.cosine($"va", $"vb"))
        .filter($"sim" >= 0.35)
        .select($"label", $"id_a", $"id_b",
          Fns.roundU($"sim", 4).as("sim"))
        .orderBy($"label", $"id_a", $"id_b")
    }, Some(
      """SELECT a.label, a.vec_id AS id_a, b.vec_id AS id_b,
        |  floor((list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |    CAST(b.embedding AS DOUBLE[]))) * 10000 + 0.5) / 10000.0
        |    AS sim
        |FROM embeddings a JOIN embeddings b ON a.label = b.label
        |  AND a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |  CAST(b.embedding AS DOUBLE[])) >= 0.35
        |ORDER BY a.label, id_a, id_b""".stripMargin)),

    // IVF with TRAINED centroids: 2 Lloyd iterations of k-means over the
    // corpus, then probe-limited search (rows-only: iterative float
    // means are not SQL-oracle-able).
    QueryDef("q40_embed_ann_kmeans", (s, d) => {
      // cache: the trainer scans the corpus once per Lloyd iteration and
      // the search scans it again — at cluster scale this is the
      // standard persist-for-iterative-ML pattern
      val emb = Tables.embeddings(s, d).cache()
      val centroids = Similarity.kmeans(emb, "vec_id", "embedding",
        k = 8, iters = 2)
      val queries = emb.filter($"vec_id" < 5)
      Similarity.ivfTopK(emb, "vec_id", "embedding",
          centroids, "cell_id", "cvec", queries, "vec_id", "embedding",
          k = 5, nprobe = 2)
        .orderBy($"query_id", $"rk")
    },
    // No oracle: the k-means centroids come from iterative float Lloyd
    // steps whose partial-sum order is engine-specific, so centroid
    // floats cannot be reproduced bit-exactly in SQL. RecallSpec gates
    // it instead (recall@5 >= 0.8 against q26's oracled exact top-k), and
    // the algorithm itself is hash-oracled as q329_kmeans_fixedpoint, a
    // fixed-point Long twin that benchmarked 1.64x slower, which is why
    // q40 stays the production form.
    None),

    // Int8 symmetric quantization of the embedding corpus — the 4×-
    // smaller storage path for a 100 TB vector store — with its error
    // measured against the exact vectors. Quantizer is floor(x·127/
    // max_abs + 0.5): plain IEEE ops, so the DuckDB oracle reproduces
    // every quantized value bit-for-bit.
    QueryDef("q51_embed_quantize", (s, d) => {
      val emb = Tables.embeddings(s, d)
        .withColumn("exact",
          transform($"embedding", x => x.cast("double")))
        .withColumn("max_abs",
          array_max(transform($"exact", x => abs(x))))
        .filter($"max_abs" > 0)
      val withQ = emb
        .withColumn("qvec", transform($"exact", x =>
          floor(x * 127.0 / $"max_abs" + 0.5)))
        .withColumn("deq", transform($"qvec", x =>
          x * $"max_abs" / 127.0))
      val scored = withQ.select($"label",
        (aggregate(zip_with($"exact", $"deq",
            (a, b) => (a - b) * (a - b)), lit(0.0), (acc, v) => acc + v)
          / size($"exact")).as("mse"),
        Similarity.cosine($"exact", $"deq").as("cs"))
      scored.groupBy($"label")
        .agg(count(lit(1)).as("n"),
          Fns.roundU(avg($"mse") * 1e6, 4).as("avg_mse_ppm"),
          Fns.roundU(avg($"cs"), 6).as("avg_cos"))
        .orderBy($"label")
    }, Some(
      """WITH q AS (
        |  SELECT label,
        |    [CAST(x AS DOUBLE) for x in embedding] AS exact,
        |    list_max([abs(CAST(x AS DOUBLE)) for x in embedding])
        |      AS max_abs
        |  FROM embeddings),
        |dq AS (
        |  SELECT label, exact, max_abs,
        |    [floor(x * 127.0 / max_abs + 0.5) * max_abs / 127.0
        |      for x in exact] AS deq
        |  FROM q WHERE max_abs > 0),
        |m AS (
        |  SELECT label,
        |    list_sum([pow(exact[i] - deq[i], 2)
        |      for i in range(1, len(exact) + 1)]) / len(exact) AS mse,
        |    list_cosine_similarity(exact, deq) AS cs
        |  FROM dq)
        |SELECT label, count(*) AS n,
        |  floor((avg(mse) * 1000000.0) * 10000 + 0.5) / 10000.0
        |    AS avg_mse_ppm,
        |  floor((avg(cs)) * 1000000 + 0.5) / 1000000.0 AS avg_cos
        |FROM m GROUP BY label ORDER BY label""".stripMargin)),

    // Random-hyperplane LSH index over the embedding corpus: the
    // bit-signature blocking key for vector near-dup search, with
    // DERIVED (hash-seeded) hyperplanes so every engine reproduces the
    // same buckets — the exactly-testable counterpart of q23's MinHash
    // banding. Output is the bucket-occupancy/purity report, bounded by
    // 2^nBits rows at any corpus size.
    QueryDef("q68_embed_rp_lsh", (s, d) => {
      Similarity.rpLshBucketStats(Tables.embeddings(s, d),
          "embedding", "label", nBits = 8, dims = 64)
        .orderBy($"bucket")
    },
    // plane component (i,d) = ±1 by the same multiplicative-hash
    // arithmetic as the Spark side; list_reduce is a left fold, matching
    // Spark's aggregate() accumulation order bit for bit
    Some(
      """WITH sig AS (
        |  SELECT vec_id, label,
        |    [CASE WHEN list_reduce(
        |        [CASE WHEN ((i*64+d)*2654435761) % 4294967296
        |              < 2147483648 THEN 1.0 ELSE -1.0 END
        |         * CAST(embedding[d+1] AS DOUBLE)
        |         for d in range(0, 64)], (a,b) -> a+b) >= 0
        |     THEN 1 ELSE 0 END for i in range(0, 8)] AS bits
        |  FROM embeddings),
        |b AS (
        |  SELECT vec_id, label,
        |    list_reduce(bits, (a,b) -> a*2+b) AS bucket
        |  FROM sig),
        |lc AS (SELECT bucket, label, count(*) AS c
        |  FROM b GROUP BY bucket, label),
        |bs AS (SELECT bucket, CAST(sum(c) AS BIGINT) AS n_vecs,
        |    CAST(count(*) AS BIGINT) AS n_labels, max(c) AS maxc
        |  FROM lc GROUP BY bucket),
        |tl AS (SELECT lc.bucket, min(lc.label) AS top_label
        |  FROM lc JOIN bs ON lc.bucket = bs.bucket AND lc.c = bs.maxc
        |  GROUP BY lc.bucket)
        |SELECT CAST(bs.bucket AS BIGINT) AS bucket, n_vecs, n_labels,
        |  top_label,
        |  floor(CAST(maxc AS DOUBLE) / n_vecs * 10000 + 0.5) / 10000.0
        |    AS purity
        |FROM bs JOIN tl ON bs.bucket = tl.bucket
        |ORDER BY bs.bucket""".stripMargin)),

    // SEMANTIC dedup (SemDeDup shape): embeddings bucket into IVF cells
    // (deterministic first-mod-50 centroids, like q27, so the whole
    // pipeline — including the "approximate" blocking — is exactly
    // DuckDB-oracle-able), near-dup pairs form only within a SHARED
    // cell, connected components resolve pair → cluster, and each
    // cluster keeps its most central member (highest cosine to its
    // primary centroid, ties → lowest id). Blocking is MULTI-PROBE
    // (each vector in its 3 nearest cells): single-cell blocking loses
    // boundary-straddling pairs (recall 0.26 at these settings vs 0.92
    // probed — RecallSpec gates this), while candidate work stays
    // N²·nprobe/ncells, not N². The pair join itself is
    // triangle-partitioned against cell skew.
    QueryDef("q71_semantic_dedup", (s, d) => {
      import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      val emb = Tables.embeddings(s, d)
      val cents = emb.filter($"vec_id" % 50 === 0)
        .select($"vec_id".as("cell_id"), $"embedding".as("cvec"))
      // feeds the pair join AND the primary-cell report: persist so the
      // probe selection runs once. Persisted at a DATA-SIZED width
      // (planner stats, no job — ~64 MB per cache partition, coalesce
      // only ever narrows): the r14/r15 A/Bs both show this query wins
      // ~0.6 s when its cache stops materializing at shuffle-partition
      // width (32 near-empty partitions = 32 per-consumer-stage task
      // constants), and both its consumers re-shuffle anyway (prim's
      // groupBy, blockedSelfJoin's chunk join), so a narrow cache
      // cannot serialize their compute — unlike q65/q74, whose heavy
      // verify runs ON the cache partitions and which therefore keep
      // full width (the session-wide knob stays rejected).
      val probedRaw = Similarity.assignCellsMulti(emb, "vec_id",
        "embedding", cents, "cell_id", "cvec", nprobe = 3)
      val pBytes = probedRaw.queryExecution.optimizedPlan.stats.sizeInBytes
      val pWidth = ((pBytes / (64L << 20)) + 1).min(BigInt(1 << 20)).toInt
      val probed = probedRaw.coalesce(pWidth).transform(scoped)
      val prim = probed.groupBy($"vec_id")
        .agg(max_by($"cell_id", struct($"cell_sim",
            (-$"cell_id").as("__n"))).as("cell_id"),
          max($"cell_sim").as("__csim"))
      // a pair sharing two probed cells would emit twice → distinct
      // BEFORE clustering; sim is identical from either cell
      // 0.4, not 0.35: at 0.35 transitive chaining welds 84% of this
      // corpus into ONE "duplicate cluster" (max component 1688 of
      // 2000, 10 propagation rounds) — a degenerate dedup. At 0.4 the
      // clustering is meaningful (287 clusters, max 24 members) and
      // the loop converges in 7 rounds. Threshold choice is the
      // SemDeDup knob a real pipeline tunes against its embedding
      // space; the RecallSpec ground truth pins the same value.
      val pairs = Similarity.blockedSelfJoin(
          probed.select($"cell_id", $"vec_id", $"embedding"),
          "cell_id", "vec_id", "embedding", chunks = 4)
        .withColumn("sim", Similarity.cosine($"va", $"vb"))
        .filter($"sim" >= 0.4)
        .select($"id_a", $"id_b")
        .distinct()
      Dedup.dupClusters(pairs, "id_a", "id_b")
        .join(prim.withColumnRenamed("vec_id", "node"), Seq("node"))
        .groupBy($"cluster_id")
        .agg(min($"cell_id").as("cell_id"),
          count(lit(1)).as("n_members"),
          max_by($"node", struct($"__csim", (-$"node").as("__ni")))
            .as("survivor_id"),
          Fns.roundU(max($"__csim"), 4).as("max_centroid_sim"))
        .orderBy($"cluster_id")
    },
    // q71: probe ranking replicates q27's (csim DESC, cell ASC) order,
    // kept to rank ≤ 3 (the multi-probe blocking) with rank 1 as the
    // primary cell; components replicate q52's recursive-CTE
    // reachability; the survivor is row_number 1 over (csim DESC,
    // node ASC) = Spark's max_by key.
    Some(
      """WITH RECURSIVE c AS (
        |  SELECT vec_id AS cell_id, embedding AS cvec
        |  FROM embeddings WHERE vec_id % 50 = 0),
        |a AS (
        |  SELECT e.vec_id, e.embedding, c.cell_id,
        |    list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |      CAST(c.cvec AS DOUBLE[])) AS csim
        |  FROM embeddings e CROSS JOIN c),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY vec_id
        |    ORDER BY csim DESC, cell_id ASC) AS arn FROM a),
        |probed AS (
        |  SELECT vec_id, embedding, cell_id FROM ranked WHERE arn <= 3),
        |prim AS (
        |  SELECT vec_id, cell_id, csim FROM ranked WHERE arn = 1),
        |near AS (
        |  SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
        |  FROM probed x JOIN probed y
        |    ON x.cell_id = y.cell_id AND x.vec_id < y.vec_id
        |  WHERE list_cosine_similarity(CAST(x.embedding AS DOUBLE[]),
        |    CAST(y.embedding AS DOUBLE[])) >= 0.4),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM near
        |  UNION SELECT id_b, id_a FROM near),
        |nodes AS (SELECT DISTINCT src AS node FROM edges),
        |cc AS (
        |  SELECT node, node AS label FROM nodes
        |  UNION
        |  SELECT e.dst AS node, c2.label
        |  FROM cc c2 JOIN edges e ON e.src = c2.node),
        |labeled AS (SELECT node, min(label) AS cluster_id FROM cc
        |  GROUP BY node),
        |mem AS (
        |  SELECT l.cluster_id, l.node, s.cell_id, s.csim
        |  FROM labeled l JOIN prim s ON s.vec_id = l.node),
        |surv AS (
        |  SELECT cluster_id, node, row_number() OVER (
        |    PARTITION BY cluster_id ORDER BY csim DESC, node ASC) AS rn
        |  FROM mem),
        |agg AS (
        |  SELECT cluster_id, CAST(min(cell_id) AS BIGINT) AS cell_id,
        |    CAST(count(*) AS BIGINT) AS n_members,
        |    floor(max(csim) * 10000 + 0.5) / 10000.0 AS max_centroid_sim
        |  FROM mem GROUP BY cluster_id)
        |SELECT agg.cluster_id, agg.cell_id, agg.n_members,
        |  surv.node AS survivor_id, agg.max_centroid_sim
        |FROM agg JOIN surv ON surv.cluster_id = agg.cluster_id
        |  AND surv.rn = 1
        |ORDER BY agg.cluster_id""".stripMargin)),

    // Matryoshka-style TRUNCATION audit: how much of each embedding's
    // norm survives keeping the first 16 of 64 dims. cos(full, zero-
    // padded truncation) reduces analytically to ‖head‖/‖full‖, so the
    // report is one narrow projection + per-label aggregate — the cheap
    // pre-check before committing a 4× vector-storage cut (the q51
    // quantization trade, along the dimension axis instead of the
    // precision axis).
    QueryDef("q78_embed_truncate", (s, d) => {
      val keep = 16
      val emb = Tables.embeddings(s, d)
        .select($"label",
          transform($"embedding", x => x.cast("double")).as("__e"))
        .withColumn("__nf", sqrt(aggregate(col("__e"), lit(0.0),
          (acc, v) => acc + v * v)))
        .withColumn("__nh", sqrt(aggregate(slice(col("__e"), 1, keep),
          lit(0.0), (acc, v) => acc + v * v)))
        .filter($"__nf" > 0)
        .withColumn("__cos", $"__nh" / $"__nf")
      emb.groupBy($"label")
        .agg(count(lit(1)).as("n"),
          Fns.roundU(avg($"__cos"), 6).as("avg_cos_trunc"),
          Fns.roundU(min($"__cos"), 6).as("min_cos_trunc"),
          Fns.roundU(avg($"__cos" * $"__cos"), 6).as("avg_energy_kept"))
        .orderBy($"label")
    }, Some(
      """WITH e AS (
        |  SELECT label,
        |    sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
        |      for x in embedding])) AS nf,
        |    sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
        |      for x in embedding[1:16]])) AS nh
        |  FROM embeddings),
        |c AS (
        |  SELECT label, nh / nf AS cos FROM e WHERE nf > 0)
        |SELECT label, CAST(count(*) AS BIGINT) AS n,
        |  floor((avg(cos)) * 1000000 + 0.5) / 1000000.0 AS avg_cos_trunc,
        |  floor((min(cos)) * 1000000 + 0.5) / 1000000.0 AS min_cos_trunc,
        |  floor((avg(cos * cos)) * 1000000 + 0.5) / 1000000.0
        |    AS avg_energy_kept
        |FROM c GROUP BY label ORDER BY label""".stripMargin)),

    // TWO-LEVEL IVF ANN — q27 with a coarse quantizer in front of both
    // the data-side assignment and the query probes (the standard fix
    // for flat assignment's points × ncells cost, the one super-linear
    // stage the round-6 replication probe measured). Candidate cells
    // come only from each vector's 2 nearest coarse centroids (cells
    // routed to their 2 nearest coarse parents); selection within the
    // candidates is byte-identical to flat (RecallSpec pins exact
    // parity at full coarse probe). Fully deterministic, so the oracle
    // reproduces the whole two-level funnel in SQL.
    QueryDef("q96_ann_two_level", (s, d) => {
      val emb = Tables.embeddings(s, d)
      val cells = emb.filter($"vec_id" % 50 === 0)
        .select($"vec_id".as("cid"), $"embedding".as("cvec"))
      val coarse = emb.filter($"vec_id" % 200 === 0)
        .select($"vec_id".as("gid"), $"embedding".as("gvec"))
      val queries = emb.filter($"vec_id" < 5)
      Similarity.ivfTopKTwoLevel(emb, "vec_id", "embedding",
          cells, "cid", "cvec", coarse, "gid", "gvec",
          queries, "vec_id", "embedding",
          k = 5, wCoarse = 2, nprobeCoarse = 2, nprobe = 3)
        .orderBy($"query_id", $"rk")
    },
    // q96: the full two-level IVF funnel (cell→coarse routing, per-point
    // coarse probes, candidate-restricted assignment and query probes)
    // reproduced in SQL
    Some(ivfTwoLevelCtes + ",\n" + ivfScoredTopK)),

    // HYBRID RETRIEVAL (RRF) — the modern search stack in one query:
    // query-by-example over the doc corpus, lexical token-Jaccard via
    // an INVERTED-INDEX join (never query×corpus — candidates only
    // where a token is shared) fused with embedding cosine via
    // reciprocal-rank fusion 1/(60+rank). Both modality top-50 lists
    // come from the bounded-heap TopKPerKey plan, so no stage sorts a
    // per-query candidate set on one task; the fuse is a full-outer
    // join on (query, doc) with a missing modality contributing 0 —
    // the standard RRF treatment. At web scale the lexical index join
    // takes a df-cap on tokens (stopword pruning bounds posting
    // lists); the tiny synthetic vocabulary here makes that cap moot.
    QueryDef("q130_hybrid_rrf", (s, d) => {
      val docs = Tables.documents(s, d)
      // persisted: feeds sizes + both sides of the index join within
      // the returned plan; released by the per-query session cache
      // clear (Verify/Bench), per the call-site-persist convention
      val toks = docs.select($"doc_id",
          explode(array_distinct(split(trim($"text"), "\\s+"))).as("t"))
        .transform(scoped)
      val sizes = toks.groupBy($"doc_id").agg(count(lit(1)).as("__sz"))
      val qt = toks.filter($"doc_id" < 3)
        .select($"doc_id".as("query_id"), $"t")
      val inter = qt.join(toks, "t")
        .filter($"doc_id" =!= $"query_id")
        .groupBy($"query_id", $"doc_id").agg(count(lit(1)).as("__ni"))
      val qsz = sizes.select($"doc_id".as("query_id"),
        $"__sz".as("__qs"))
      val scored = inter
        .join(broadcast(qsz), "query_id")
        .join(sizes, "doc_id")
        .withColumn("__jac", $"__ni" / ($"__qs" + $"__sz" - $"__ni"))
      val lexKept = graft.plans.TopKPerKey(
        scored.select($"query_id", $"doc_id", $"__jac"),
        Seq("query_id"), Seq($"__jac".desc, $"doc_id".asc), 50)
      val wl = Window.partitionBy($"query_id")
        .orderBy($"__jac".desc, $"doc_id".asc)
      val lexTop = lexKept.withColumn("__rl", row_number().over(wl))
        .select($"query_id", $"doc_id", $"__rl")
      val emb = Tables.embeddings(s, d)
      val semTop = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
          emb.filter($"vec_id" < 3), "vec_id", "embedding", k = 50)
        .select($"query_id", $"neighbor_id".as("doc_id"),
          $"rk".as("__rs"))
      val fused = lexTop
        .join(semTop, Seq("query_id", "doc_id"), "full_outer")
        .withColumn("rrf", Fns.roundU(
          coalesce(lit(1.0) / (lit(60.0) + $"__rl"), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60.0) + $"__rs"), lit(0.0)), 6))
      val wf = Window.partitionBy($"query_id")
        .orderBy($"rrf".desc, $"doc_id".asc)
      fused.withColumn("rk", row_number().over(wf).cast("long"))
        .filter($"rk" <= 10)
        .select($"query_id", $"rk", $"doc_id", $"rrf")
        .orderBy($"query_id", $"rk")
    },
    // q130: same two ranked lists (token Jaccard, embedding cosine)
    // fused by 1/(60+rank); CAST to DOUBLE everywhere DuckDB would
    // otherwise run DECIMAL arithmetic (1.0/(60+r) as a decimal
    // divides with different rounding than the engine's double)
    Some(
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    string_split_regex(trim(text), '\s+'))) AS t
        |  FROM documents),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM toks GROUP BY 1),
        |qt AS (SELECT doc_id AS query_id, t FROM toks WHERE doc_id < 3),
        |inter AS (
        |  SELECT q.query_id, x.doc_id, count(*) AS ni
        |  FROM qt q JOIN toks x ON x.t = q.t AND x.doc_id <> q.query_id
        |  GROUP BY 1, 2),
        |lex AS (
        |  SELECT i.query_id, i.doc_id,
        |    row_number() OVER (PARTITION BY i.query_id
        |      ORDER BY CAST(i.ni AS DOUBLE) / (sq.sz + sd.sz - i.ni)
        |        DESC, i.doc_id) AS rl
        |  FROM inter i JOIN sizes sq ON sq.doc_id = i.query_id
        |  JOIN sizes sd ON sd.doc_id = i.doc_id),
        |sem AS (
        |  SELECT q.vec_id AS query_id, e.vec_id AS doc_id,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(
        |        CAST(e.embedding AS DOUBLE[]),
        |        CAST(q.embedding AS DOUBLE[])) DESC, e.vec_id) AS rs
        |  FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
        |  WHERE q.vec_id < 3),
        |fused AS (
        |  SELECT coalesce(l.query_id, s.query_id) AS query_id,
        |    coalesce(l.doc_id, s.doc_id) AS doc_id,
        |    round(coalesce(CAST(1.0 AS DOUBLE) / (60 + l.rl), 0)
        |      + coalesce(CAST(1.0 AS DOUBLE) / (60 + s.rs), 0), 6)
        |      AS rrf
        |  FROM (SELECT * FROM lex WHERE rl <= 50) l
        |  FULL OUTER JOIN (SELECT * FROM sem WHERE rs <= 50) s
        |    ON s.query_id = l.query_id AND s.doc_id = l.doc_id),
        |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY rrf DESC, doc_id) AS rk FROM fused)
        |SELECT query_id, rk, doc_id, rrf FROM r WHERE rk <= 10
        |ORDER BY query_id, rk""".stripMargin)),

    // kNN LABEL EVAL — does embedding-space proximity predict the
    // label? For 50 query vectors: exact top-5 neighbors (q26's
    // brute-force baseline — the IVF path is the scale swap-in),
    // majority vote with the (count desc, label asc) tie-break, and
    // the per-query verdict. The vote's argmax is one max-of-struct
    // aggregate — count ties resolve to the SMALLEST label on both
    // engines via the negated-label struct field, no per-query sort.
    QueryDef("q159_knn_label_eval", (s, d) => {
      val emb = Tables.embeddings(s, d)
      val top = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        emb.filter($"vec_id" < 50), "vec_id", "embedding", k = 5)
      val lbl = emb.select($"vec_id", $"label")
      top.join(lbl.withColumnRenamed("vec_id", "neighbor_id"),
          Seq("neighbor_id"))
        .groupBy($"query_id", $"label").agg(count(lit(1)).as("__c"))
        .groupBy($"query_id")
        .agg(max(struct($"__c", (-$"label").as("__nl"))).as("__w"))
        .select($"query_id", (-$"__w.__nl").as("pred_label"))
        .join(lbl.withColumnRenamed("vec_id", "query_id")
          .withColumnRenamed("label", "true_label"), Seq("query_id"))
        .select($"query_id", $"true_label", $"pred_label",
          ($"pred_label" === $"true_label").as("correct"))
        .orderBy($"query_id")
    },
    // q159: q26's exact-cosine ranking + majority vote; count ties
    // resolve to the smallest label on both engines
    Some(
      """WITH q AS (
        |  SELECT vec_id AS query_id, embedding AS qv,
        |    label AS true_label
        |  FROM embeddings WHERE vec_id < 50),
        |scored AS (
        |  SELECT q.query_id, q.true_label, e.vec_id AS nid,
        |    e.label AS nl,
        |    list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |      CAST(q.qv AS DOUBLE[])) AS s
        |  FROM embeddings e, q WHERE e.vec_id <> q.query_id),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY s DESC, nid) AS rk
        |  FROM scored),
        |v AS (
        |  SELECT query_id, true_label, nl, count(*) AS c
        |  FROM r WHERE rk <= 5 GROUP BY 1, 2, 3),
        |p AS (
        |  SELECT query_id, true_label, nl AS pred_label,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY c DESC, nl) AS pr
        |  FROM v)
        |SELECT query_id, CAST(true_label AS INT) AS true_label,
        |  CAST(pred_label AS INT) AS pred_label,
        |  pred_label = true_label AS correct
        |FROM p WHERE pr = 1 ORDER BY query_id""".stripMargin)),

    // EMBEDDING DIMENSION PROFILE — the embedding-QA readout (dead or
    // collapsed dimensions, off-center means): per-dim mean/variance/
    // zero-fraction through DimStatsAgg, ONE typed hash aggregate
    // whose buffer is (sums, Gram triangle, zero counts) — ~18 KB at
    // d=64 — with map-side combine, so |partitions| buffers cross the
    // wire however many vectors flow in. The composable alternative
    // (double posexplode self-join) shuffles N·d² rows — the plan
    // that dies first at corpus scale. Variance is the population
    // form G_ii/n − mean², mirrored exactly by the oracle's
    // avg(v²) − avg(v)².
    QueryDef("q186_embed_dim_profile", (s, d) => {
      Tables.embeddings(s, d)
        .agg(graft.functions.DimStatsAgg($"embedding").as("__p"))
        .select(explode($"__p.dims").as("__s"))
        .select($"__s.i".as("dim"),
          Fns.roundU($"__s.mean", 6).as("mean"),
          Fns.roundU($"__s.variance", 6).as("variance"),
          Fns.roundU($"__s.zero_frac", 6).as("zero_frac"))
        .orderBy($"dim")
    }, Some(
      """WITH x AS (
        |  SELECT vec_id, CAST(i AS INT) AS i,
        |    CAST(embedding[CAST(i AS INT) + 1] AS DOUBLE) AS v
        |  FROM (SELECT vec_id, embedding,
        |    unnest(range(len(embedding))) AS i FROM embeddings))
        |SELECT i AS dim,
        |  floor(avg(v) * 1000000 + 0.5) / 1000000.0 AS mean,
        |  floor((avg(v * v) - avg(v) * avg(v)) * 1000000 + 0.5)
        |    / 1000000.0 AS variance,
        |  floor(avg(CASE WHEN v = 0 THEN 1.0 ELSE 0.0 END)
        |    * 1000000 + 0.5) / 1000000.0 AS zero_frac
        |FROM x GROUP BY 1 ORDER BY 1""".stripMargin)),

    // DIMENSION CORRELATION HOTSPOTS — q186's pair tier: the top-10
    // most-correlated dimension pairs (redundancy → the truncation/
    // PCA candidates q78 would drop first). Same single DimStatsAgg
    // reduce; the d(d−1)/2 upper-triangle cells explode from the one
    // reduced row (2016 cells at d=64 — driver-free, bounded), the
    // cut rides |rounded corr| with an (i, j) tiebreak.
    QueryDef("q187_embed_dim_corr", (s, d) => {
      Tables.embeddings(s, d)
        .agg(graft.functions.DimStatsAgg($"embedding").as("__p"))
        .select(explode($"__p.pairs").as("__q"))
        .select($"__q.i".as("i"), $"__q.j".as("j"),
          Fns.roundU($"__q.corr", 6).as("corr"))
        .orderBy(abs($"corr").desc, $"i", $"j")
        .limit(10)
    }, Some(
      """WITH x AS (
        |  SELECT vec_id, CAST(i AS INT) AS i,
        |    CAST(embedding[CAST(i AS INT) + 1] AS DOUBLE) AS v
        |  FROM (SELECT vec_id, embedding,
        |    unnest(range(len(embedding))) AS i FROM embeddings)),
        |p AS (
        |  SELECT a.i AS i, b.i AS j,
        |    floor(greatest(-1.0, least(1.0,
        |      (avg(a.v * b.v) - avg(a.v) * avg(b.v))
        |      / sqrt((avg(a.v * a.v) - avg(a.v) * avg(a.v))
        |        * (avg(b.v * b.v) - avg(b.v) * avg(b.v)))))
        |      * 1000000 + 0.5) / 1000000.0 AS corr
        |  FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.i < b.i
        |  GROUP BY 1, 2
        |  HAVING (avg(a.v * a.v) - avg(a.v) * avg(a.v))
        |      > 1e-12 * avg(a.v * a.v)
        |    AND (avg(b.v * b.v) - avg(b.v) * avg(b.v))
        |      > 1e-12 * avg(b.v * b.v))
        |SELECT i, j, corr FROM p
        |ORDER BY abs(corr) DESC, i, j LIMIT 10""".stripMargin)),

    // GEO RADIUS JOIN — "suppliers within 60 km of each customer" per
    // nation, through Geo.radiusJoin's grid-cell equi-join (shuffle
    // |C| + 9·|S| keyed rows; NEVER the cartesian product Spark would
    // plan for the raw inequality join — the oracle runs exactly that
    // cross-join-filter and must agree row-for-row, which is the
    // correctness proof of the 3×3 neighborhood). Coordinates are the
    // engine-portable Knuth-hash fixtures; the planar metric is pure
    // IEEE arithmetic so the d ≤ r predicate decides identically on
    // both engines, and per-customer nearest distances integerize to
    // metres before the nation-level average (exact long sums — no
    // summation-order boundary).
    QueryDef("q190_geo_radius_join", (s, d) => {
      val (clat, clon) = Geo.syntheticPoint($"c_custkey")
      val cust = Tables.customer(s, d)
        .select($"c_custkey", $"c_nationkey",
          clat.as("c_lat"), clon.as("c_lon"))
      val (slat, slon) = Geo.syntheticPoint($"s_suppkey" + lit(500000L))
      val sup = Tables.supplier(s, d)
        .select($"s_suppkey", slat.as("s_lat"), slon.as("s_lon"))
      val pairs = Geo.radiusJoin(cust, "c_lat", "c_lon",
        sup, "s_lat", "s_lon", radiusKm = 60.0)
      val per = pairs.groupBy($"c_custkey", $"c_nationkey")
        .agg(count(lit(1)).as("__k"),
          floor(min($"dist_km") * 1000 + 0.5).as("__nm"))
      val base = cust.groupBy($"c_nationkey")
        .agg(count(lit(1)).as("n_cust"))
      val nat = per.groupBy($"c_nationkey")
        .agg(count(lit(1)).as("n_matched"), sum($"__k").as("n_pairs"),
          Fns.roundU(sum($"__nm").cast("double") / count(lit(1))
            / 1000.0, 4).as("avg_nearest_km"),
          max($"__k").as("max_within"))
      base.join(nat, Seq("c_nationkey"), "left")
        .na.fill(0L, Seq("n_matched", "n_pairs", "max_within"))
        .select($"c_nationkey", $"n_cust", $"n_matched", $"n_pairs",
          $"avg_nearest_km", $"max_within")
        .orderBy($"c_nationkey")
    },
    // q190: the oracle IS the cartesian product + distance filter the
    // grid join replaces — row-for-row agreement proves the 3×3 cell
    // neighborhood loses no within-radius pair. Same Knuth-hash
    // coordinates, same IEEE-exact planar metric, same operation order.
    Some(geoPointCtes("c_custkey, c_nationkey") + """,
        |w AS (
        |  SELECT c.c_custkey, c.c_nationkey,
        |    sqrt(((c.lat - s.lat) * 111.0) * ((c.lat - s.lat) * 111.0)
        |       + ((c.lon - s.lon) * 85.0) * ((c.lon - s.lon) * 85.0))
        |      AS d
        |  FROM c, s
        |  WHERE sqrt(((c.lat - s.lat) * 111.0)
        |        * ((c.lat - s.lat) * 111.0)
        |       + ((c.lon - s.lon) * 85.0) * ((c.lon - s.lon) * 85.0))
        |      <= 60.0),
        |per AS (
        |  SELECT c_custkey, c_nationkey, CAST(count(*) AS BIGINT) AS k,
        |    CAST(floor(min(d) * 1000 + 0.5) AS BIGINT) AS nm
        |  FROM w GROUP BY 1, 2),
        |base AS (
        |  SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_cust
        |  FROM c GROUP BY 1),
        |agg AS (
        |  SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_matched,
        |    CAST(sum(k) AS BIGINT) AS n_pairs,
        |    floor(CAST(sum(nm) AS DOUBLE) / count(*) / 1000.0 * 10000
        |      + 0.5) / 10000.0 AS avg_nearest_km,
        |    CAST(max(k) AS BIGINT) AS max_within
        |  FROM per GROUP BY 1)
        |SELECT b.c_nationkey, b.n_cust,
        |  coalesce(n_matched, 0) AS n_matched,
        |  coalesce(n_pairs, 0) AS n_pairs, avg_nearest_km,
        |  coalesce(max_within, 0) AS max_within
        |FROM base b LEFT JOIN agg USING (c_nationkey)
        |ORDER BY c_nationkey""".stripMargin)),

    // GEOFENCING — point-in-polygon classification, the missing
    // companion to q190's radius join: which customers sit inside
    // each operating zone, with zone balance rollups. Crossing-number
    // parity in PURE INT64 (coordinates in micro-degrees, the PNPOLY
    // (y1>py)≠(y2>py) half-open rule skips horizontal edges and
    // counts ray-through-vertex hits exactly once; the "px left of
    // the edge at py" test is cross-multiplied by (y2−y1) with the
    // sign flip spelled out, so no division and no float anywhere —
    // both engines evaluate the identical integer predicate, shared
    // vertex-y collisions included). Plan shape: the polygon set is a
    // DIMENSION — broadcast nested-loop of points × 13 edge rows with
    // the crossing predicate inline, map-side partial counts, then a
    // shuffle of only the CROSSING rows (≈2 per inside point), never
    // |points|×|edges|. At a million-edge polygon layer the same
    // operator grid-buckets edges by y-band first (the Geo.radiusJoin
    // discipline); the parity math is unchanged.
    QueryDef("q256_geofence", (s, d) => {
      val polys: Seq[(String, Seq[(Long, Long)])] = Seq(
        // (zone, vertices as (x=lon, y=lat) micro-degrees, CCW-ish,
        // closed implicitly) — tri/quad convex, "ell" CONCAVE so the
        // parity count genuinely exceeds 1 on real rows
        "ell" -> Seq((-79000000L, 45000000L), (-76000000L, 45000000L),
          (-76000000L, 46000000L), (-78000000L, 46000000L),
          (-78000000L, 48500000L), (-79000000L, 48500000L)),
        "quad" -> Seq((-75000000L, 45000000L), (-72000000L, 45500000L),
          (-71500000L, 48000000L), (-74500000L, 47500000L)),
        "tri" -> Seq((-79500000L, 41000000L), (-76000000L, 41500000L),
          (-78000000L, 44000000L)))
      val edges = { // scoped: the object's $-sugar stays unambiguous
        import s.implicits._
        polys.flatMap { case (z, vs) =>
          vs.zip(vs.tail :+ vs.head).map { case ((x1, y1), (x2, y2)) =>
            (z, x1, y1, x2, y2) } }
          .toDF("zone", "x1", "y1", "x2", "y2")
      }
      val pts = Tables.customer(s, d).select($"c_custkey",
        (lit(40000000L) +
          Sampling.consistentHash($"c_custkey") % 10000000L).as("py"),
        (lit(-80000000L) +
          Sampling.consistentHash($"c_custkey" + lit(1000003))
            % 10000000L).as("px"),
        floor($"c_acctbal" * 100 + 0.5).cast("long").as("__cents"))
      Geo.pointInPolygons(pts, "c_custkey", "px", "py", edges)
        .groupBy($"zone")
        .agg(count(lit(1)).as("n_inside"),
          sum($"__cents").as("balance_cents"))
        .orderBy($"zone")
    },
    // q256: the identical integer PNPOLY predicate over the same
    // VALUES edge list — parity per (zone, customer), then the rollup
    Some(
      """WITH p AS (
        |  SELECT c_custkey,
        |    40000000 + ((c_custkey % 2147483647) * 2654435761
        |      % 4294967296) % 10000000 AS py,
        |    -80000000 + (((c_custkey + 1000003) % 2147483647)
        |      * 2654435761 % 4294967296) % 10000000 AS px,
        |    CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS cents
        |  FROM customer),
        |e(zone, x1, y1, x2, y2) AS (VALUES
        |  ('ell', -79000000, 45000000, -76000000, 45000000),
        |  ('ell', -76000000, 45000000, -76000000, 46000000),
        |  ('ell', -76000000, 46000000, -78000000, 46000000),
        |  ('ell', -78000000, 46000000, -78000000, 48500000),
        |  ('ell', -78000000, 48500000, -79000000, 48500000),
        |  ('ell', -79000000, 48500000, -79000000, 45000000),
        |  ('quad', -75000000, 45000000, -72000000, 45500000),
        |  ('quad', -72000000, 45500000, -71500000, 48000000),
        |  ('quad', -71500000, 48000000, -74500000, 47500000),
        |  ('quad', -74500000, 47500000, -75000000, 45000000),
        |  ('tri', -79500000, 41000000, -76000000, 41500000),
        |  ('tri', -76000000, 41500000, -78000000, 44000000),
        |  ('tri', -78000000, 44000000, -79500000, 41000000)),
        |cr AS (
        |  SELECT e.zone, p.c_custkey, count(*) AS k,
        |    max(cents) AS cents
        |  FROM p JOIN e ON ((y1 > py) <> (y2 > py)) AND
        |    (CASE WHEN y2 > y1
        |      THEN (py - y1) * (x2 - x1) - (px - x1) * (y2 - y1) > 0
        |      ELSE (py - y1) * (x2 - x1) - (px - x1) * (y2 - y1) < 0
        |     END)
        |  GROUP BY 1, 2)
        |SELECT zone, CAST(count(*) AS BIGINT) AS n_inside,
        |  CAST(sum(cents) AS BIGINT) AS balance_cents
        |FROM cr WHERE k % 2 = 1 GROUP BY zone ORDER BY zone""".stripMargin)),

    // TRADE AREAS — q190's radius join taken to its assignment
    // readout: every customer is assigned to its NEAREST depot within
    // 60 km (argmin), then depots roll up their captured demand. The
    // argmin rides min(struct(µkm, depot)) over INTEGER micro-km —
    // the distance is floored to int64 BEFORE the comparison, so the
    // selection never compares raw doubles and a µkm TIE breaks on
    // the depot key identically in both engines. Per-depot averages
    // ride exact integer sums. Top 15 depots by captured customers.
    QueryDef("q258_trade_areas", (s, d) => {
      val (clat, clon) = Geo.syntheticPoint($"c_custkey")
      val cust = Tables.customer(s, d)
        .select($"c_custkey", clat.as("c_lat"), clon.as("c_lon"))
      val (slat, slon) = Geo.syntheticPoint($"s_suppkey" + lit(500000L))
      val sup = Tables.supplier(s, d)
        .select($"s_suppkey", slat.as("s_lat"), slon.as("s_lon"))
      Geo.radiusJoin(cust, "c_lat", "c_lon",
          sup, "s_lat", "s_lon", radiusKm = 60.0)
        .select($"c_custkey",
          struct(floor($"dist_km" * 1000000 + 0.5).cast("long")
            .as("um"), $"s_suppkey").as("__p"))
        .groupBy($"c_custkey").agg(min($"__p").as("__p"))
        .select($"c_custkey", $"__p.um".as("__um"),
          $"__p.s_suppkey".as("depot"))
        .groupBy($"depot")
        .agg(count(lit(1)).as("n_customers"),
          Fns.roundU(sum($"__um").cast("double") / count(lit(1))
            / 1000000.0, 4).as("avg_km"))
        .orderBy($"n_customers".desc, $"depot")
        .limit(15)
    },
    // q258: q190's cross-join-filter world, argmin by (µkm, depot)
    // via row_number — the deterministic-tie mirror of min(struct)
    Some(geoPointCtes("c_custkey") + """,
        |w AS (
        |  SELECT c.c_custkey, s.s_suppkey,
        |    CAST(floor(sqrt(((c.lat - s.lat) * 111.0)
        |        * ((c.lat - s.lat) * 111.0)
        |      + ((c.lon - s.lon) * 85.0) * ((c.lon - s.lon) * 85.0))
        |      * 1000000 + 0.5) AS BIGINT) AS um
        |  FROM c, s
        |  WHERE sqrt(((c.lat - s.lat) * 111.0)
        |        * ((c.lat - s.lat) * 111.0)
        |      + ((c.lon - s.lon) * 85.0) * ((c.lon - s.lon) * 85.0))
        |      <= 60.0),
        |near AS (
        |  SELECT c_custkey, um, s_suppkey AS depot,
        |    row_number() OVER (PARTITION BY c_custkey
        |      ORDER BY um, s_suppkey) AS rn
        |  FROM w)
        |SELECT depot, CAST(count(*) AS BIGINT) AS n_customers,
        |  floor(CAST(sum(um) AS DOUBLE) / count(*) / 1000000.0
        |    * 10000 + 0.5) / 10000.0 AS avg_km
        |FROM near WHERE rn = 1 GROUP BY depot
        |ORDER BY n_customers DESC, depot LIMIT 15""".stripMargin)),

    // PRODUCT QUANTIZATION + ADC SHORTLIST + EXACT RERANK — the
    // memory-compression member of the ANN family (brute q26, IVF
    // q27/q96, RP-LSH q68), in its production shape: vectors are
    // stored as 16 codes (16 × 4-dim subspaces, 64 sampled codewords
    // each — k-means at iteration 0, deterministic and data-derived),
    // a query scans ONLY the code table against its broadcast 16×64
    // lookup table, the ADC top-100 becomes the shortlist, and the
    // float corpus is touched exactly |shortlist| times for the exact
    // rerank — at 100 TB the 32×-smaller code table is the only full
    // scan. EVERYTHING is integer-exact (millis quantization, int64
    // sum-of-squares, argmin ties on the code index via min(struct)),
    // so the DuckDB oracle replays encode→LUT→scan→rerank bit-exactly
    // — unlike q27/q40 there is no no-oracle concession, because the
    // rerank output is exact integers whatever the shortlist quality
    // (RecallSpec pins that quality: the shortlist contains the true
    // top-5 at the fixture SFs). Both top-k cuts ride the native
    // TopKPerKey plan, never a corpus-wide window.
    QueryDef("q265_pq_adc", (s, d) => {
      val emb = Tables.embeddings(s, d)
        .select($"vec_id", transform($"embedding", x =>
          floor(x.cast("double") * 1000 + 0.5).cast("long"))
          .as("mil"))
      val cbBase = emb.filter($"vec_id" % 7 === 1)
        .orderBy($"vec_id").limit(64)
        .withColumn("k",
          row_number().over(Window.orderBy($"vec_id")) - 1)
      val cb = cbBase
        .select($"k", explode(sequence(lit(0), lit(15))).as("m"),
          $"mil")
        .select($"k", $"m", expr("slice(mil, m * 4 + 1, 4)")
          .as("csub"))
      val sub = emb
        .select($"vec_id", explode(sequence(lit(0), lit(15))).as("m"),
          $"mil")
        .select($"vec_id", $"m", expr("slice(mil, m * 4 + 1, 4)")
          .as("vsub"))
      // native integer L2 kernel (same arithmetic/null semantics as the
      // zip_with/aggregate form — see SqDistLong) for the 64-per-row
      // code-assignment loop, and a PINNED repartition so that loop's
      // compute is not serialized onto the input's split count (the
      // embeddings file is one split at fixture SF: the whole encode ran
      // as ONE 2.5 s task; compute-dense stages deserve task counts set
      // by the shuffle width, not by input bytes)
      val d2 = graft.functions.SqDistLong($"vsub", $"csub")
      val nP = s.sessionState.conf.numShufflePartitions
      val codes = sub.repartition(nP, $"vec_id")
        .join(broadcast(cb), Seq("m"))
        .select($"vec_id", $"m", struct(d2.as("d"), $"k").as("p"))
        .groupBy($"vec_id", $"m")
        .agg(min($"p").getField("k").as("code"))
      val lut = sub.filter($"vec_id" < 5)
        .withColumnRenamed("vec_id", "query_id")
        .join(broadcast(cb), Seq("m"))
        .select($"query_id", $"m", $"k".as("code"), d2.as("ld"))
      val est = codes.join(broadcast(lut), Seq("m", "code"))
        .filter($"vec_id" =!= $"query_id")
        .groupBy($"query_id", $"vec_id".as("neighbor_id"))
        .agg(sum($"ld").as("adc_d2"))
      val shortlist = graft.plans.TopKPerKey(est, Seq("query_id"),
        Seq($"adc_d2".asc, $"neighbor_id".asc), k = 100)
      val exact = graft.functions.SqDistLong($"qmil", $"nmil")
      val rr = shortlist
        .join(emb.select($"vec_id".as("query_id"),
          $"mil".as("qmil")), Seq("query_id"))
        .join(emb.select($"vec_id".as("neighbor_id"),
          $"mil".as("nmil")), Seq("neighbor_id"))
        .select($"query_id", $"neighbor_id", exact.as("d2"))
      graft.plans.TopKPerKey(rr, Seq("query_id"),
          Seq($"d2".asc, $"neighbor_id".asc), k = 5)
        .orderBy($"query_id", $"d2", $"neighbor_id")
    },
    // q265: the full encode→LUT→scan→rerank replay — millis
    // quantization, sampled codebook, int64 sum-of-squares distances,
    // row_number argmin with the (d, k) tie order
    Some(
      """WITH mil AS (
        |  SELECT vec_id, list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5)
        |      AS BIGINT)) AS mil
        |  FROM embeddings),
        |cbb AS (
        |  SELECT mil, row_number() OVER (ORDER BY vec_id) - 1 AS k
        |  FROM mil WHERE vec_id % 7 = 1 ORDER BY vec_id LIMIT 64),
        |cb AS (
        |  SELECT k, u.m, mil[u.m * 4 + 1 : u.m * 4 + 4] AS csub
        |  FROM cbb, range(0, 16) u(m)),
        |sub AS (
        |  SELECT vec_id, u.m, mil[u.m * 4 + 1 : u.m * 4 + 4] AS vsub
        |  FROM mil, range(0, 16) u(m)),
        |encd AS (
        |  SELECT s.vec_id, s.m, c.k,
        |    (SELECT sum((s.vsub[j.i] - c.csub[j.i])
        |       * (s.vsub[j.i] - c.csub[j.i]))
        |     FROM range(1, 5) j(i)) AS d
        |  FROM sub s JOIN cb c ON s.m = c.m),
        |codes AS (
        |  SELECT vec_id, m, k AS code FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id, m
        |      ORDER BY d, k) AS rn FROM encd)
        |  WHERE rn = 1),
        |lut AS (
        |  SELECT s.vec_id AS query_id, s.m, c.k AS code,
        |    (SELECT sum((s.vsub[j.i] - c.csub[j.i])
        |       * (s.vsub[j.i] - c.csub[j.i]))
        |     FROM range(1, 5) j(i)) AS ld
        |  FROM sub s JOIN cb c ON s.m = c.m WHERE s.vec_id < 5),
        |est AS (
        |  SELECT l.query_id, c.vec_id AS neighbor_id,
        |    CAST(sum(l.ld) AS BIGINT) AS adc_d2
        |  FROM codes c JOIN lut l ON c.m = l.m AND c.code = l.code
        |  WHERE c.vec_id <> l.query_id
        |  GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
        |  ORDER BY adc_d2, neighbor_id) AS rk FROM est),
        |sl AS (SELECT query_id, neighbor_id FROM r WHERE rk <= 100),
        |rr AS (
        |  SELECT s.query_id, s.neighbor_id,
        |    (SELECT sum((qm.mil[j.i] - nm.mil[j.i])
        |       * (qm.mil[j.i] - nm.mil[j.i]))
        |     FROM range(1, 65) j(i)) AS d2
        |  FROM sl s JOIN mil qm ON qm.vec_id = s.query_id
        |  JOIN mil nm ON nm.vec_id = s.neighbor_id),
        |r2 AS (SELECT *, row_number() OVER (PARTITION BY query_id
        |  ORDER BY d2, neighbor_id) AS rk FROM rr)
        |SELECT query_id, neighbor_id, CAST(d2 AS BIGINT) AS d2
        |FROM r2 WHERE rk <= 5
        |ORDER BY query_id, d2, neighbor_id""".stripMargin)),

    // GEO k-NN — each customer's 3 nearest depots within 60 km,
    // through the radius-join grid (candidates only from the 3×3
    // cell neighborhood) and the bounded-heap TopKPerKey cut — never
    // a per-customer sort of the full candidate list. Distances
    // compare as exact integer micro-km (ties broken on depot id
    // inside the struct), and the readout — how many customers rank
    // each depot in their top 3 / at rank 1 — is the site-planning
    // number the k=1 assignment (q258) cannot see.
    QueryDef("q293_geo_knn", (s, d) => {
      val (clat, clon) = Geo.syntheticPoint($"c_custkey")
      val cust = Tables.customer(s, d)
        .select($"c_custkey", clat.as("c_lat"), clon.as("c_lon"))
      val (slat, slon) = Geo.syntheticPoint($"s_suppkey" + lit(500000L))
      val sup = Tables.supplier(s, d)
        .select($"s_suppkey", slat.as("s_lat"), slon.as("s_lon"))
      val cand = Geo.radiusJoin(cust, "c_lat", "c_lon",
          sup, "s_lat", "s_lon", radiusKm = 60.0)
        .select($"c_custkey", $"s_suppkey",
          floor($"dist_km" * 1000000 + 0.5).cast("long").as("um"))
      val top3 = graft.plans.TopKPerKey(cand, Seq("c_custkey"),
        Seq($"um".asc, $"s_suppkey".asc), k = 3)
      val r1 = cand.groupBy($"c_custkey")
        .agg(min(struct($"um", $"s_suppkey")).as("__m"))
        .select($"__m.s_suppkey".as("s_suppkey"))
        .groupBy($"s_suppkey").agg(count(lit(1)).as("n_rank1"))
      top3.groupBy($"s_suppkey").agg(count(lit(1)).as("n_top3"))
        .join(r1, Seq("s_suppkey"), "left")
        .select($"s_suppkey".as("depot"), $"n_top3",
          coalesce($"n_rank1", lit(0L)).as("n_rank1"))
        .orderBy($"n_top3".desc, $"depot")
        .limit(15)
    },
    // q293: the oracle ranks the cartesian + radius filter (q190's
    // model) with the identical (um, depot) tie order
    Some(geoPointCtes("c_custkey") + """,
        |w AS (
        |  SELECT c.c_custkey, s.s_suppkey,
        |    CAST(floor(sqrt(((c.lat - s.lat) * 111.0)
        |        * ((c.lat - s.lat) * 111.0)
        |      + ((c.lon - s.lon) * 85.0) * ((c.lon - s.lon) * 85.0))
        |      * 1000000 + 0.5) AS BIGINT) AS um
        |  FROM c, s
        |  WHERE sqrt(((c.lat - s.lat) * 111.0)
        |      * ((c.lat - s.lat) * 111.0)
        |    + ((c.lon - s.lon) * 85.0) * ((c.lon - s.lon) * 85.0))
        |    <= 60.0),
        |r AS (
        |  SELECT c_custkey, s_suppkey, um, row_number() OVER (
        |    PARTITION BY c_custkey ORDER BY um, s_suppkey) AS rn
        |  FROM w),
        |t3 AS (SELECT s_suppkey, CAST(count(*) AS BIGINT) AS n_top3
        |  FROM r WHERE rn <= 3 GROUP BY 1),
        |r1 AS (SELECT s_suppkey, CAST(count(*) AS BIGINT) AS n_rank1
        |  FROM r WHERE rn = 1 GROUP BY 1)
        |SELECT t3.s_suppkey AS depot, n_top3,
        |  CAST(coalesce(n_rank1, 0) AS BIGINT) AS n_rank1
        |FROM t3 LEFT JOIN r1 USING (s_suppkey)
        |ORDER BY n_top3 DESC, depot LIMIT 15""".stripMargin)),

    // EXACT-INTEGER NEAREST NEIGHBOR — q258's assignment with the
    // final sqrt kept OUT of float space: coordinates quantized to
    // integer micro-degrees, the axis-scaled squared distance summed
    // in int64, and the root taken by the native `isqrt` expression
    // (functions.IntMath — floor(√x) exact for every int64, where
    // floor(sqrt(double)) mis-floors near perfect squares and above
    // 2⁵³). The oracle seeds from DuckDB's own floor(sqrt) and
    // applies the same ±1 integer correction, so hash equality
    // certifies the native expression against an independent
    // implementation on every candidate pair.
    QueryDef("q295_exact_int_nn", (s, d) => {
      val (clat, clon) = Geo.syntheticPoint($"c_custkey")
      val cust = Tables.customer(s, d)
        .select($"c_custkey", clat.as("c_lat"), clon.as("c_lon"))
      val (slat, slon) = Geo.syntheticPoint($"s_suppkey" + lit(500000L))
      val sup = Tables.supplier(s, d)
        .select($"s_suppkey", slat.as("s_lat"), slon.as("s_lon"))
      val cand = Geo.radiusJoin(cust, "c_lat", "c_lon",
          sup, "s_lat", "s_lon", radiusKm = 60.0)
        .select($"c_custkey", $"s_suppkey",
          (floor($"c_lat" * 1000000).cast("long") -
            floor($"s_lat" * 1000000).cast("long")).as("__dx"),
          (floor($"c_lon" * 1000000).cast("long") -
            floor($"s_lon" * 1000000).cast("long")).as("__dy"))
        .select($"c_custkey", $"s_suppkey",
          expr("isqrt((111 * __dx) * (111 * __dx) + " +
            "(85 * __dy) * (85 * __dy))").as("um"))
      cand.groupBy($"c_custkey")
        .agg(min(struct($"um", $"s_suppkey")).as("__m"))
        .select($"__m.um".as("um"), $"__m.s_suppkey".as("depot"))
        .groupBy($"depot")
        .agg(count(lit(1)).as("n_customers"), sum($"um").as("sum_um"))
        .withColumn("mean_um", expr("sum_um div n_customers"))
        .orderBy($"n_customers".desc, $"depot")
        .limit(15)
    },
    // q295: DuckDB's floor(sqrt) seed + the same ±1 integer
    // correction = an independent exact isqrt
    Some(geoPointCtes("c_custkey") + """,
        |w AS (
        |  SELECT c.c_custkey, s.s_suppkey,
        |    CAST(floor(c.lat * 1000000) AS BIGINT)
        |      - CAST(floor(s.lat * 1000000) AS BIGINT) AS dx,
        |    CAST(floor(c.lon * 1000000) AS BIGINT)
        |      - CAST(floor(s.lon * 1000000) AS BIGINT) AS dy
        |  FROM c, s
        |  WHERE sqrt(((c.lat - s.lat) * 111.0)
        |      * ((c.lat - s.lat) * 111.0)
        |    + ((c.lon - s.lon) * 85.0) * ((c.lon - s.lon) * 85.0))
        |    <= 60.0),
        |e AS (SELECT c_custkey, s_suppkey,
        |    (111 * dx) * (111 * dx) + (85 * dy) * (85 * dy) AS d2
        |  FROM w),
        |f AS (SELECT c_custkey, s_suppkey, d2,
        |    CAST(floor(sqrt(CAST(d2 AS DOUBLE))) AS BIGINT) AS f0
        |  FROM e),
        |q AS (SELECT c_custkey, s_suppkey,
        |    CASE WHEN (f0 + 1) * (f0 + 1) <= d2 THEN f0 + 1
        |      WHEN f0 > 0 AND f0 * f0 > d2 THEN f0 - 1
        |      ELSE f0 END AS um
        |  FROM f),
        |a AS (SELECT c_custkey, s_suppkey, um, row_number() OVER (
        |    PARTITION BY c_custkey ORDER BY um, s_suppkey) AS rn
        |  FROM q)
        |SELECT s_suppkey AS depot, CAST(count(*) AS BIGINT)
        |    AS n_customers,
        |  CAST(sum(um) AS BIGINT) AS sum_um,
        |  CAST(CAST(sum(um) AS BIGINT) // count(*) AS BIGINT)
        |    AS mean_um
        |FROM a WHERE rn = 1 GROUP BY 1
        |ORDER BY n_customers DESC, depot LIMIT 15""".stripMargin)),

    // CONTRASTIVE HARD-NEGATIVE MINING — the embedding-training data
    // pass: for each anchor, the k most-similar vectors with a
    // DIFFERENT label (the negatives that actually move a contrastive
    // loss). Distances ride the q265/q295 exact-integer idiom
    // (milli-quantized embeddings, integer L2), so the ranking is
    // ulp-immune and fully oracled. Scale shape: the anchor set is a
    // TRAINING BATCH — bounded and broadcast — the candidate stream
    // is one linear scan, and the per-anchor cut is the bounded-heap
    // TopKPerKey custom plan (k rows per anchor per partition cross
    // the shuffle, nothing sorts). Bigger anchor sets route through
    // the q96 IVF funnel first; the scorer below is the exact tier.
    QueryDef("q317_hard_negatives", (s, d) => {
      val emb = Tables.embeddings(s, d)
        .select($"vec_id", $"label", transform($"embedding", x =>
          floor(x.cast("double") * 1000 + 0.5).cast("long")).as("mil"))
      val anchors = emb.filter($"vec_id" < 30)
        .select($"vec_id".as("query_id"), $"label".as("q_label"),
          $"mil".as("qmil"))
      val scored = emb.crossJoin(broadcast(anchors))
        .filter($"label" =!= $"q_label")
        .select($"query_id",
          $"vec_id".as("neighbor_id"), $"label".as("neighbor_label"),
          graft.functions.SqDistLong($"qmil", $"mil").as("d2"))
      graft.plans.TopKPerKey(scored, Seq("query_id"),
          Seq($"d2".asc, $"neighbor_id".asc), k = 3)
        .select($"query_id", $"neighbor_id", $"neighbor_label", $"d2")
        .orderBy($"query_id", $"d2", $"neighbor_id")
    },
    // q317: the same milli-quantization (floor(x·1000+0.5)) and the
    // same integer L2, cross join + QUALIFY top-3 with the identical
    // (d2, neighbor_id) tie-break as the Spark heap's order columns.
    Some(
      """WITH e AS (
        |  SELECT vec_id, label,
        |    list_transform(embedding, x ->
        |      CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT))
        |      AS mil
        |  FROM embeddings),
        |a AS (
        |  SELECT vec_id AS query_id, label AS q_label, mil AS qmil
        |  FROM e WHERE vec_id < 30),
        |c AS (
        |  SELECT a.query_id, e.vec_id AS neighbor_id,
        |    e.label AS neighbor_label,
        |    list_sum(list_transform(range(1, len(qmil) + 1),
        |      i -> (qmil[CAST(i AS INT)] - mil[CAST(i AS INT)])
        |        * (qmil[CAST(i AS INT)] - mil[CAST(i AS INT)])))
        |      AS d2
        |  FROM a, e
        |  WHERE e.label <> a.q_label)
        |SELECT query_id, neighbor_id, neighbor_label,
        |  CAST(d2 AS BIGINT) AS d2
        |FROM c
        |QUALIFY row_number() OVER (PARTITION BY query_id
        |  ORDER BY d2, neighbor_id) <= 3
        |ORDER BY query_id, d2, neighbor_id""".stripMargin)),

    // ANN RECALL AUDIT — the quality-monitoring pass every production
    // vector index needs: run the approximate funnel (q96's two-level
    // IVF, unchanged) AND the exact brute force (q26's scorer,
    // unchanged) over the same queries and report recall@5 per query.
    // Set intersection is integer counting, so the audit itself is
    // hash-oracled end to end — both funnels were already replicated
    // in SQL (q96/q26), and this composes them. At scale the exact
    // side runs on a SAMPLE of queries (it is the expensive leg — one
    // corpus scan per audit, still a single broadcast-join pass);
    // the recall estimate is what gates an index rebuild.
    QueryDef("q320_ann_recall", (s, d) => {
      val emb = Tables.embeddings(s, d)
      val cells = emb.filter($"vec_id" % 50 === 0)
        .select($"vec_id".as("cid"), $"embedding".as("cvec"))
      val coarse = emb.filter($"vec_id" % 200 === 0)
        .select($"vec_id".as("gid"), $"embedding".as("gvec"))
      val queries = emb.filter($"vec_id" < 5)
      val ann = Similarity.ivfTopKTwoLevel(emb, "vec_id", "embedding",
          cells, "cid", "cvec", coarse, "gid", "gvec",
          queries, "vec_id", "embedding",
          k = 5, wCoarse = 2, nprobeCoarse = 2, nprobe = 3)
        .select($"query_id", $"neighbor_id")
      val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
          queries, "vec_id", "embedding", k = 5)
        .select($"query_id", $"neighbor_id")
      val hits = ann.join(exact, Seq("query_id", "neighbor_id"))
        .groupBy($"query_id").agg(count(lit(1)).as("__h"))
      queries.select($"vec_id".as("query_id"))
        .join(hits, Seq("query_id"), "left")
        .select($"query_id",
          coalesce($"__h", lit(0L)).as("n_hits"),
          Fns.roundU(coalesce($"__h", lit(0L)).cast("double") / 5.0, 4)
            .as("recall_at_5"))
        .orderBy($"query_id")
    },
    // q320: q96's two-level funnel (ivfTwoLevelCtes) + q26's exact
    // scorer + an integer set intersection — recall@5 per query.
    Some(ivfTwoLevelCtes + """,
        |scored AS (
        |  SELECT p.query_id, s.vec_id AS neighbor_id,
        |    list_cosine_similarity(CAST(s.embedding AS DOUBLE[]),
        |      CAST(p.qv AS DOUBLE[])) AS sim
        |  FROM assigned s JOIN probes p ON s.cell_id = p.cell_id
        |  WHERE s.vec_id <> p.query_id),
        |annr AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT query_id, neighbor_id, row_number() OVER (
        |      PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC)
        |      AS rk
        |    FROM scored)
        |  WHERE rk <= 5),
        |ex AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
        |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |        list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |          CAST(q.embedding AS DOUBLE[])) DESC, e.vec_id ASC)
        |        AS rk
        |    FROM embeddings e
        |      CROSS JOIN (SELECT vec_id, embedding FROM embeddings
        |                  WHERE vec_id < 5) q
        |    WHERE e.vec_id <> q.vec_id)
        |  WHERE rk <= 5),
        |hits AS (
        |  SELECT query_id, count(*) AS h
        |  FROM annr JOIN ex USING (query_id, neighbor_id)
        |  GROUP BY query_id)
        |SELECT q.vec_id AS query_id,
        |  CAST(coalesce(h, 0) AS BIGINT) AS n_hits,
        |  floor(CAST(coalesce(h, 0) AS DOUBLE) / 5.0 * 10000 + 0.5)
        |    / 10000.0 AS recall_at_5
        |FROM (SELECT vec_id FROM embeddings WHERE vec_id < 5) q
        |LEFT JOIN hits ON q.vec_id = hits.query_id
        |ORDER BY query_id""".stripMargin)),

    // MMR DIVERSITY RERANK — the retrieval-diversity pass (Carbonell
    // & Goldstein 1998) a RAG pipeline runs after ANN: greedily pick
    // k results balancing query relevance against redundancy with
    // what's already picked (score = 3·min-dist-to-selected −
    // 7·dist-to-query, the λ=0.7 trade-off in integer tenths).
    // Everything is milli-quantized integer L2 with (score, id)
    // tie-breaks, so the greedy argmax chain — selection ORDER
    // included — is byte-exact under the DuckDB oracle (a recursive
    // CTE carrying the selected set replays all four steps; validated
    // against an independent greedy replay). Scale shape: candidates
    // come from a bounded per-query top-12 (the ANN funnel's output
    // tier), so each greedy step is a join between two
    // candidate-bounded sides — the loop never rescans the corpus.
    QueryDef("q321_mmr_rerank", (s, d) => {
      val emb = Tables.embeddings(s, d)
        .select($"vec_id", transform($"embedding", x =>
          floor(x.cast("double") * 1000 + 0.5).cast("long")).as("mil"))
      val queries = emb.filter($"vec_id" < 5)
        .select($"vec_id".as("query_id"), $"mil".as("qmil"))
      def dist(a: Column, b: Column): Column =
        graft.functions.SqDistLong(a, b)
      val scoredAll = emb.crossJoin(broadcast(queries))
        .filter($"vec_id" =!= $"query_id")
        .select($"query_id", $"vec_id".as("cid"), $"mil",
          dist($"qmil", $"mil").as("d2"))
      // Greedy MMR is PER-QUERY-LOCAL over a BOUNDED candidate set
      // (k = 12 by construction), so the selection loop runs inside
      // ONE flatMapGroups job ([[Similarity.mmrSelect]]) instead of
      // the previous ~10 cluster-wide stages over ≤ 60 rows — pure
      // scheduler latency, and the reason the query read 2.75 s on
      // one box and 5.69 s on another at r12 (the verdict's watch
      // item). Same-box interleaved A/B, 4 reps: 4.50–6.17 s →
      // 0.80–1.13 s solo. Arithmetic and tie-breaks are identical,
      // pinned by the UNCHANGED recursive-SQL oracle.
      val cand = graft.plans.TopKPerKey(scoredAll, Seq("query_id"),
        Seq($"d2".asc, $"cid".asc), k = 12)
      Similarity.mmrSelect(cand, steps = 4)
        .orderBy($"query_id", $"step")
    },
    // q321: the greedy MMR chain replayed in a recursive CTE that
    // carries the selected set as a list; arg_min/arg_max on composite
    // integer keys (score·1e6 ± cid) reproduce the exact tie-breaks.
    // q321: greedy-step tie-breaks (d2 asc, cid asc; score desc, cid
    // asc) are spelled as the composite integer keys d2·1e6 + cid and
    // score·1e6 − cid, which assumes vec_id < 1e6 — true of every
    // testdata SF (embeddings has ~1k rows at sf0.1, vec_id dense from
    // 0) and asserted here: on a table where vec_id could reach 1e6,
    // widen the multiplier or switch to arg_min over a struct. The
    // q322 oracle documents its claim<100 bound the same way.
    Some(
      """WITH RECURSIVE e AS (
        |  SELECT vec_id, list_transform(embedding, x ->
        |    CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT))
        |    AS mil
        |  FROM embeddings),
        |q AS (SELECT vec_id AS query_id, mil AS qmil FROM e
        |  WHERE vec_id < 5),
        |d2q AS (
        |  SELECT q.query_id, e.vec_id AS cid, e.mil,
        |    list_sum(list_transform(range(1, len(qmil) + 1),
        |      i -> (qmil[CAST(i AS INT)] - mil[CAST(i AS INT)])
        |        * (qmil[CAST(i AS INT)] - mil[CAST(i AS INT)]))) AS d2
        |  FROM q, e WHERE e.vec_id <> q.query_id),
        |cand AS (
        |  SELECT query_id, cid, mil, CAST(d2 AS BIGINT) AS d2
        |  FROM d2q
        |  QUALIFY row_number() OVER (PARTITION BY query_id
        |    ORDER BY d2, cid) <= 12),
        |pairs AS (
        |  SELECT a.query_id, a.cid AS ca, b.cid AS cb,
        |    CAST(list_sum(list_transform(range(1, len(a.mil) + 1),
        |      i -> (a.mil[CAST(i AS INT)] - b.mil[CAST(i AS INT)])
        |        * (a.mil[CAST(i AS INT)] - b.mil[CAST(i AS INT)])))
        |      AS BIGINT) AS d2
        |  FROM cand a JOIN cand b
        |    ON a.query_id = b.query_id AND a.cid <> b.cid),
        |sel AS (
        |  SELECT query_id, 1 AS step,
        |    arg_min(cid, d2 * 1000000 + cid) AS pick,
        |    [arg_min(cid, d2 * 1000000 + cid)] AS selset
        |  FROM cand GROUP BY query_id
        |  UNION ALL
        |  SELECT query_id, step + 1, pick,
        |    list_append(selset, pick) FROM (
        |    WITH scores AS (
        |      SELECT s.query_id, s.step, s.selset, c.cid,
        |        3 * min(p.d2) - 7 * min(c.d2) AS score
        |      FROM sel s
        |      JOIN cand c ON c.query_id = s.query_id
        |        AND NOT list_contains(s.selset, c.cid)
        |      JOIN pairs p ON p.query_id = c.query_id
        |        AND p.ca = c.cid AND list_contains(s.selset, p.cb)
        |      WHERE s.step < 4
        |      GROUP BY s.query_id, s.step, s.selset, c.cid)
        |    SELECT query_id, step, selset,
        |      arg_max(cid, score * 1000000 - cid) AS pick
        |    FROM scores GROUP BY query_id, step, selset) t)
        |SELECT sel.query_id AS query_id, CAST(sel.step AS INT) AS step,
        |  sel.pick AS vec_id, cand.d2 AS d2_query
        |FROM sel JOIN cand
        |  ON cand.query_id = sel.query_id AND cand.cid = sel.pick
        |ORDER BY sel.query_id, step""".stripMargin)),

    // LLOYD'S K-MEANS UNDER THE HASH ORACLE — q40's trained-IVF chain
    // rebuilt in FIXED-POINT integer arithmetic so both Lloyd
    // iterations, the cell assignment, and the probed top-k replay in
    // DuckDB exactly. Vectors quantize once (round(x·1000), Long);
    // a centroid is the pair (component-sum vector, member count) —
    // never a float mean — and the assignment metric compares
    // Σ_j (n·v_j − S_j)² / n², whose numerator and denominator are
    // Longs < 2^53 so the ONE double division is bit-identical IEEE on
    // both engines; ties break by cell_id, scores are exact integer
    // dot products. q40 keeps float Lloyd as the production form;
    // this twin certifies the ALGORITHM (both iterations, empty-cell
    // carry-over, probe routing, top-k) by hash equality, leaving only
    // q105's derivation fixpoint unoracled. Scale shape: centroids are
    // a k-row driver loop (the classic broadcast-kmeans contract — the
    // per-iteration collect is exactly k=8 rows); the corpus is
    // scanned once per iteration and never collected.
    QueryDef("q329_kmeans_fixedpoint", (s, d) => {
      val k = 8
      val emb = scoped(Tables.embeddings(s, d).select($"vec_id",
        transform($"embedding", x =>
          floor(x.cast("double") * 1000 + 0.5).cast("long")).as("qv")))
      def centArr(cs: Seq[(Long, Long, Seq[Long])]): Column =
        array(cs.map { case (cid, n, sv) => struct(
          lit(cid).as("cell_id"), lit(n).as("n"),
          array(sv.map(lit): _*).as("sv")) }: _*)
      def distTo(c: Column): Column =
        aggregate(zip_with($"qv", c.getField("sv"),
            (x, sj) => (c.getField("n") * x - sj) *
              (c.getField("n") * x - sj)),
          lit(0L), (a, b) => a + b).cast("double") /
          (c.getField("n") * c.getField("n")).cast("double")
      def bestCell(cs: Seq[(Long, Long, Seq[Long])]): Column =
        array_min(transform(centArr(cs), c =>
          struct(distTo(c).as("dist"),
            c.getField("cell_id").as("cell_id")))).getField("cell_id")
      // init: first k vectors by id as singleton cells
      var cents: Seq[(Long, Long, Seq[Long])] =
        emb.orderBy($"vec_id").limit(k).collect().toSeq.zipWithIndex
          .map { case (r, i) => ((i + 1).toLong, 1L, r.getSeq[Long](1)) }
      // SCALE BOUND, checked not assumed (round-10 advice): the
      // assignment metric sums d terms (n·x − S_j)², each ≤ (2nM)²
      // with M = max|qv| (|S_j| ≤ n·M), so the numerator is exact in
      // a double — and the oracle division bit-identical — only while
      // d·(2nM)² < 2^53. Past that Spark would silently wrap Longs
      // where DuckDB raises on BIGINT overflow; THROW here instead of
      // letting the contract fail downstream. Two 1-row bounded jobs
      // (M; n is the max cell size, checked per iteration below).
      val dims = cents.head._3.length
      val maxAbsQ = emb.agg(max(aggregate($"qv", lit(0L), (a, x) =>
        greatest(a, abs(x))))).head().getLong(0)
      def checkBound(cs: Seq[(Long, Long, Seq[Long])]): Unit = {
        val nMax = cs.map(_._2).max.toDouble
        val term = 2.0 * nMax * maxAbsQ
        require(dims.toDouble * term * term < math.pow(2, 53),
          s"q329 fixed-point bound exceeded: d=$dims, max cell n=$nMax" +
            s", max|qv|=$maxAbsQ -> d*(2nM)^2 >= 2^53; the exact-" +
            "integer contract does not hold at this scale (re-quantize " +
            "with a coarser factor or center the vectors)")
      }
      checkBound(cents)
      for (_ <- 1 to 2) {
        val assigned = emb.select($"vec_id", $"qv",
          bestCell(cents).as("cell_id"))
        val sums = assigned
          .select($"cell_id", posexplode($"qv"))
          .groupBy($"cell_id", $"pos").agg(sum($"col").as("sj"))
          .groupBy($"cell_id")
          .agg(transform(array_sort(collect_list(
            struct($"pos", $"sj"))), p => p.getField("sj")).as("sv"))
        val ns = assigned.groupBy($"cell_id").agg(count(lit(1)).as("n"))
        // bounded collect: exactly k rows (cells)
        val upd = sums.join(ns, Seq("cell_id")).collect()
          .map(r => r.getLong(0) -> ((r.getSeq[Long](1), r.getLong(2))))
          .toMap
        cents = cents.map { case (cid, n0, sv0) =>
          upd.get(cid).map { case (sv, n) => (cid, n, sv) }
            .getOrElse((cid, n0, sv0)) }
        checkBound(cents)
      }
      val av = emb.select($"vec_id", $"qv", bestCell(cents).as("cell_id"))
      val queries = emb.filter($"vec_id" < 5)
        .select($"vec_id".as("query_id"), $"qv".as("qqv"),
          explode(slice(array_sort(transform(centArr(cents), c =>
            struct(distTo(c).as("dist"),
              c.getField("cell_id").as("cell_id")))), 1, 2)).as("pc"))
        .select($"query_id", $"qqv", $"pc.cell_id".as("cell_id"))
      val scoredC = av.join(broadcast(queries), Seq("cell_id"))
        .filter($"vec_id" =!= $"query_id")
        .select($"query_id", $"vec_id",
          aggregate(zip_with($"qqv", $"qv", (a, b) => a * b),
            lit(0L), (x, y) => x + y).as("score"))
      val wq = Window.partitionBy($"query_id")
        .orderBy($"score".desc, $"vec_id")
      scoredC.withColumn("rk", row_number().over(wq))
        .filter($"rk" <= 5)
        .select($"query_id", $"rk", $"vec_id", $"score")
        .orderBy($"query_id", $"rk")
    },
    // q329: both Lloyd iterations unrolled as chained CTEs (the
    // iteration count is part of the algorithm contract, so no
    // recursion is needed); centroids are (sum-vector, count) pairs,
    // the assignment ratio is the one IEEE double division both
    // engines compute from identical sub-2^53 integers, scores are
    // exact integer dot products, every ORDER BY totally ordered.
    Some(
      """WITH v AS (
        |  SELECT vec_id, list_transform(embedding, x ->
        |    CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS qv
        |  FROM embeddings),
        |c0 AS (
        |  SELECT CAST(row_number() OVER (ORDER BY vec_id) AS BIGINT) AS cell_id,
        |    qv AS sv, CAST(1 AS BIGINT) AS n
        |  FROM v ORDER BY vec_id LIMIT 8),
        |a1 AS (
        |  SELECT vec_id, qv, cell_id FROM (
        |    SELECT v.vec_id, v.qv, c.cell_id, row_number() OVER (
        |      PARTITION BY v.vec_id ORDER BY
        |      CAST(list_sum(list_transform(range(1, 65), j ->
        |      (c.n * v.qv[CAST(j AS INT)] - c.sv[CAST(j AS INT)])
        |      * (c.n * v.qv[CAST(j AS INT)] - c.sv[CAST(j AS INT)])))
        |      AS DOUBLE) / CAST(c.n * c.n AS DOUBLE),
        |      c.cell_id) AS rn
        |    FROM v, c0 c) z WHERE rn = 1),
        |s1 AS (
        |  SELECT cell_id, list(sj ORDER BY j) AS sv FROM (
        |    SELECT cell_id, j, CAST(sum(qv[CAST(j AS INT)]) AS BIGINT) AS sj
        |    FROM a1, unnest(range(1, 65)) u(j)
        |    GROUP BY cell_id, j) z GROUP BY cell_id),
        |n1 AS (
        |  SELECT cell_id, CAST(count(*) AS BIGINT) AS n
        |  FROM a1 GROUP BY cell_id),
        |c1 AS (
        |  SELECT p.cell_id, COALESCE(s1.sv, p.sv) AS sv,
        |    COALESCE(n1.n, p.n) AS n
        |  FROM c0 p LEFT JOIN s1 USING (cell_id)
        |  LEFT JOIN n1 USING (cell_id)),
        |a2 AS (
        |  SELECT vec_id, qv, cell_id FROM (
        |    SELECT v.vec_id, v.qv, c.cell_id, row_number() OVER (
        |      PARTITION BY v.vec_id ORDER BY
        |      CAST(list_sum(list_transform(range(1, 65), j ->
        |      (c.n * v.qv[CAST(j AS INT)] - c.sv[CAST(j AS INT)])
        |      * (c.n * v.qv[CAST(j AS INT)] - c.sv[CAST(j AS INT)])))
        |      AS DOUBLE) / CAST(c.n * c.n AS DOUBLE),
        |      c.cell_id) AS rn
        |    FROM v, c1 c) z WHERE rn = 1),
        |s2 AS (
        |  SELECT cell_id, list(sj ORDER BY j) AS sv FROM (
        |    SELECT cell_id, j, CAST(sum(qv[CAST(j AS INT)]) AS BIGINT) AS sj
        |    FROM a2, unnest(range(1, 65)) u(j)
        |    GROUP BY cell_id, j) z GROUP BY cell_id),
        |n2 AS (
        |  SELECT cell_id, CAST(count(*) AS BIGINT) AS n
        |  FROM a2 GROUP BY cell_id),
        |c2 AS (
        |  SELECT p.cell_id, COALESCE(s2.sv, p.sv) AS sv,
        |    COALESCE(n2.n, p.n) AS n
        |  FROM c1 p LEFT JOIN s2 USING (cell_id)
        |  LEFT JOIN n2 USING (cell_id)),
        |a3 AS (
        |  SELECT vec_id, qv, cell_id FROM (
        |    SELECT v.vec_id, v.qv, c.cell_id, row_number() OVER (
        |      PARTITION BY v.vec_id ORDER BY
        |      CAST(list_sum(list_transform(range(1, 65), j ->
        |      (c.n * v.qv[CAST(j AS INT)] - c.sv[CAST(j AS INT)])
        |      * (c.n * v.qv[CAST(j AS INT)] - c.sv[CAST(j AS INT)])))
        |      AS DOUBLE) / CAST(c.n * c.n AS DOUBLE),
        |      c.cell_id) AS rn
        |    FROM v, c2 c) z WHERE rn = 1),
        |qs AS (
        |  SELECT vec_id AS query_id, qv AS qqv, cell_id FROM (
        |    SELECT v.vec_id, v.qv, c.cell_id, row_number() OVER (
        |      PARTITION BY v.vec_id ORDER BY
        |      CAST(list_sum(list_transform(range(1, 65), j ->
        |      (c.n * v.qv[CAST(j AS INT)] - c.sv[CAST(j AS INT)])
        |      * (c.n * v.qv[CAST(j AS INT)] - c.sv[CAST(j AS INT)])))
        |      AS DOUBLE) / CAST(c.n * c.n AS DOUBLE),
        |      c.cell_id) AS rn
        |    FROM v, c2 c WHERE v.vec_id < 5) z WHERE rn <= 2),
        |sc AS (
        |  SELECT q.query_id, a.vec_id,
        |    CAST(list_sum(list_transform(range(1, 65), j ->
        |      q.qqv[CAST(j AS INT)] * a.qv[CAST(j AS INT)])) AS BIGINT) AS score
        |  FROM qs q JOIN a3 a USING (cell_id)
        |  WHERE a.vec_id <> q.query_id)
        |SELECT query_id, CAST(rk AS INT) AS rk, vec_id, score FROM (
        |  SELECT query_id, vec_id, score, row_number() OVER (
        |    PARTITION BY query_id ORDER BY score DESC, vec_id) AS rk
        |  FROM sc) z WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin)),

    // BITEXT MINING (LASER/CCMatrix margin criterion) — the parallel-
    // corpus miner behind the public CCMatrix/WikiMatrix datasets:
    // each source's best target, scored by cosine NORMALIZED by the
    // two sides' k-NN neighborhood averages (hubness suppression —
    // see Similarity.marginMine), plus the mutual-best flag. The
    // synthetic bitext model splits embeddings by vec_id parity: a
    // bounded batch of 100 even-id sources mined against the full
    // odd-id corpus — the per-shard shape real mining runs, with the
    // candidate stage (here a broadcast cross-score, q26's pattern)
    // swappable for ivfTopK both ways at corpus×corpus scale. Means
    // are explicit ordered sums, so the oracle replays the doubles
    // term for term.
    QueryDef("q336_bitext_margin", (s, d) => {
      val emb = Tables.embeddings(s, d)
      val src = emb.filter($"vec_id" % 2 === 0 && $"vec_id" < 200)
        .select($"vec_id".as("src_id"), $"embedding".as("__sv"))
      val tgt = emb.filter($"vec_id" % 2 === 1)
        .select($"vec_id".as("tgt_id"), $"embedding".as("__tv"))
      val scored = tgt.crossJoin(broadcast(src))
        .select($"src_id", $"tgt_id",
          Similarity.cosine($"__tv", $"__sv").as("s"))
      Similarity.marginMine(scored, k = 4)
        .select($"src_id", $"tgt_id",
          Fns.roundU($"sim", 4).as("sim"),
          Fns.roundU($"margin", 4).as("margin"), $"mutual")
        .orderBy($"src_id")
    },
    // q336: the margin criterion replayed term for term — same
    // cosine builtin and argument order as q26's oracle, the two
    // rank windows with the same tie-breaks, the neighborhood means
    // as the SAME explicit ordered sum (s1+s2+s3+s4)/4.0 the Spark
    // side reduces, and the margin division in the same shape.
    Some(
      """WITH src AS (
        |  SELECT vec_id AS src_id, embedding AS sv FROM embeddings
        |  WHERE vec_id % 2 = 0 AND vec_id < 200),
        |tgt AS (
        |  SELECT vec_id AS tgt_id, embedding AS tv FROM embeddings
        |  WHERE vec_id % 2 = 1),
        |sc AS (
        |  SELECT src_id, tgt_id,
        |    list_cosine_similarity(
        |      CAST(tv AS DOUBLE[]), CAST(sv AS DOUBLE[])) AS s
        |  FROM tgt, src),
        |r AS (
        |  SELECT src_id, tgt_id, s,
        |    row_number() OVER (PARTITION BY src_id
        |      ORDER BY s DESC, tgt_id) AS fr,
        |    row_number() OVER (PARTITION BY tgt_id
        |      ORDER BY s DESC, src_id) AS br
        |  FROM sc),
        |ax AS (
        |  SELECT src_id,
        |    (max(CASE WHEN fr = 1 THEN s END)
        |     + max(CASE WHEN fr = 2 THEN s END)
        |     + max(CASE WHEN fr = 3 THEN s END)
        |     + max(CASE WHEN fr = 4 THEN s END)) / 4.0 AS ax
        |  FROM r WHERE fr <= 4 GROUP BY src_id),
        |ay AS (
        |  SELECT tgt_id,
        |    (max(CASE WHEN br = 1 THEN s END)
        |     + max(CASE WHEN br = 2 THEN s END)
        |     + max(CASE WHEN br = 3 THEN s END)
        |     + max(CASE WHEN br = 4 THEN s END)) / 4.0 AS ay
        |  FROM r WHERE br <= 4 GROUP BY tgt_id),
        |bb AS (SELECT tgt_id, src_id AS bsrc FROM r WHERE br = 1)
        |SELECT f.src_id, f.tgt_id,
        |  floor((f.s) * 10000 + 0.5) / 10000.0 AS sim,
        |  floor((f.s / ((ax.ax + ay.ay) / 2.0)) * 10000 + 0.5)
        |    / 10000.0 AS margin,
        |  (bb.bsrc = f.src_id) AS mutual
        |FROM r f
        |JOIN ax ON ax.src_id = f.src_id
        |JOIN ay ON ay.tgt_id = f.tgt_id
        |JOIN bb ON bb.tgt_id = f.tgt_id
        |WHERE f.fr = 1
        |ORDER BY f.src_id""".stripMargin)),

    // q336 AT CORPUS×CORPUS SCALE — the composition the 100 TB design
    // prescribes (Similarity.marginMine doc): candidates come from
    // ivfTopK run in BOTH directions over the full parity-split
    // embeddings table (every source's top-4 targets ∪ every target's
    // top-4 sources, deduped — cosine is exactly symmetric, so the
    // same pair from both directions carries the same score), then
    // the margin criterion mines that sparse table. Nothing is
    // all-pairs: each direction scans nprobe/ncells of the opposite
    // corpus. margin-k (6) deliberately EXCEEDS the ANN k (4) so the
    // sparse-side mean path is exercised — a side holds between 4 and
    // 4+|backward extras| candidates, and sides with n < 6 average
    // the n they have (the count-aware ordered mean; the old ≥ k
    // contract would have emitted NULL margins here). The oracle
    // replays both IVF selections (q27's replay, twice), the union-
    // distinct, and the count-aware margin arithmetic term for term.
    QueryDef("q337_bitext_margin_ivf", (s, d) => {
      val emb = Tables.embeddings(s, d)
      val src = emb.filter($"vec_id" % 2 === 0)
        .select($"vec_id".as("src_id"), $"embedding".as("__sv"))
      val tgt = emb.filter($"vec_id" % 2 === 1)
        .select($"vec_id".as("tgt_id"), $"embedding".as("__tv"))
      val cents = emb.filter($"vec_id" % 50 === 0)
        .select($"vec_id".as("cid"), $"embedding".as("cvec"))
      val fwd = Similarity.ivfTopK(tgt, "tgt_id", "__tv",
          cents, "cid", "cvec", src, "src_id", "__sv",
          k = 4, nprobe = 3)
        .select($"query_id".as("src_id"),
          $"neighbor_id".as("tgt_id"), $"sim".as("s"))
      val bwd = Similarity.ivfTopK(src, "src_id", "__sv",
          cents, "cid", "cvec", tgt, "tgt_id", "__tv",
          k = 4, nprobe = 3)
        .select($"neighbor_id".as("src_id"),
          $"query_id".as("tgt_id"), $"sim".as("s"))
      val cand = fwd.unionByName(bwd).distinct()
      Similarity.marginMine(cand, k = 6)
        .select($"src_id", $"tgt_id",
          Fns.roundU($"sim", 4).as("sim"),
          Fns.roundU($"margin", 4).as("margin"), $"mutual")
        .orderBy($"src_id")
    },
    // q337: the full corpus×corpus replay — q27's IVF selection run
    // TWICE (tgt-corpus/src-queries, then src-corpus/tgt-queries),
    // union-distinct on the ROUNDED score (the Spark side dedups
    // ivfTopK's rounded output; cosine is exactly symmetric in both
    // engines), then q336's margin replay generalized to the
    // count-aware ordered mean: sum of 6 coalesce'd rank terms over
    // count(*) of the side's ranked rows (= the Spark reduce's
    // (s1+..+sn)/n term for term).
    Some(
      """WITH c AS (SELECT vec_id AS cell_id, embedding AS cvec
        |  FROM embeddings WHERE vec_id % 50 = 0),
        |s0 AS (SELECT vec_id AS sid, embedding AS sv FROM embeddings
        |  WHERE vec_id % 2 = 0),
        |t0 AS (SELECT vec_id AS tid, embedding AS tv FROM embeddings
        |  WHERE vec_id % 2 = 1),
        |ta AS (
        |  SELECT tid, tv, cell_id FROM (
        |    SELECT t0.tid, t0.tv, c.cell_id,
        |      row_number() OVER (PARTITION BY t0.tid ORDER BY
        |        list_cosine_similarity(CAST(t0.tv AS DOUBLE[]),
        |          CAST(c.cvec AS DOUBLE[])) DESC, c.cell_id ASC) AS arn
        |    FROM t0 CROSS JOIN c) WHERE arn = 1),
        |sa AS (
        |  SELECT sid, sv, cell_id FROM (
        |    SELECT s0.sid, s0.sv, c.cell_id,
        |      row_number() OVER (PARTITION BY s0.sid ORDER BY
        |        list_cosine_similarity(CAST(s0.sv AS DOUBLE[]),
        |          CAST(c.cvec AS DOUBLE[])) DESC, c.cell_id ASC) AS arn
        |    FROM s0 CROSS JOIN c) WHERE arn = 1),
        |sp AS (
        |  SELECT sid, sv, cell_id FROM (
        |    SELECT s0.sid, s0.sv, c.cell_id,
        |      row_number() OVER (PARTITION BY s0.sid ORDER BY
        |        list_cosine_similarity(CAST(s0.sv AS DOUBLE[]),
        |          CAST(c.cvec AS DOUBLE[])) DESC, c.cell_id ASC) AS crk
        |    FROM s0 CROSS JOIN c) WHERE crk <= 3),
        |tp AS (
        |  SELECT tid, tv, cell_id FROM (
        |    SELECT t0.tid, t0.tv, c.cell_id,
        |      row_number() OVER (PARTITION BY t0.tid ORDER BY
        |        list_cosine_similarity(CAST(t0.tv AS DOUBLE[]),
        |          CAST(c.cvec AS DOUBLE[])) DESC, c.cell_id ASC) AS crk
        |    FROM t0 CROSS JOIN c) WHERE crk <= 3),
        |fsc AS (
        |  SELECT sp.sid, ta.tid,
        |    list_cosine_similarity(CAST(ta.tv AS DOUBLE[]),
        |      CAST(sp.sv AS DOUBLE[])) AS sc
        |  FROM ta JOIN sp ON ta.cell_id = sp.cell_id
        |  WHERE ta.tid <> sp.sid),
        |fk AS (SELECT sid, tid, sc FROM (
        |    SELECT sid, tid, sc, row_number() OVER (PARTITION BY sid
        |      ORDER BY sc DESC, tid ASC) AS rk FROM fsc)
        |  WHERE rk <= 4),
        |bsc AS (
        |  SELECT sa.sid, tp.tid,
        |    list_cosine_similarity(CAST(sa.sv AS DOUBLE[]),
        |      CAST(tp.tv AS DOUBLE[])) AS sc
        |  FROM sa JOIN tp ON sa.cell_id = tp.cell_id
        |  WHERE sa.sid <> tp.tid),
        |bk AS (SELECT sid, tid, sc FROM (
        |    SELECT sid, tid, sc, row_number() OVER (PARTITION BY tid
        |      ORDER BY sc DESC, sid ASC) AS rk FROM bsc)
        |  WHERE rk <= 4),
        |cand AS (
        |  SELECT DISTINCT sid AS src_id, tid AS tgt_id,
        |    floor(sc * 10000 + 0.5) / 10000.0 AS s
        |  FROM (SELECT * FROM fk UNION ALL SELECT * FROM bk)),
        |r AS (
        |  SELECT src_id, tgt_id, s,
        |    row_number() OVER (PARTITION BY src_id
        |      ORDER BY s DESC, tgt_id) AS fr,
        |    row_number() OVER (PARTITION BY tgt_id
        |      ORDER BY s DESC, src_id) AS br
        |  FROM cand),
        |ax AS (
        |  SELECT src_id,
        |    (coalesce(max(CASE WHEN fr = 1 THEN s END), 0)
        |     + coalesce(max(CASE WHEN fr = 2 THEN s END), 0)
        |     + coalesce(max(CASE WHEN fr = 3 THEN s END), 0)
        |     + coalesce(max(CASE WHEN fr = 4 THEN s END), 0)
        |     + coalesce(max(CASE WHEN fr = 5 THEN s END), 0)
        |     + coalesce(max(CASE WHEN fr = 6 THEN s END), 0))
        |      / CAST(count(*) AS DOUBLE) AS ax
        |  FROM r WHERE fr <= 6 GROUP BY src_id),
        |ay AS (
        |  SELECT tgt_id,
        |    (coalesce(max(CASE WHEN br = 1 THEN s END), 0)
        |     + coalesce(max(CASE WHEN br = 2 THEN s END), 0)
        |     + coalesce(max(CASE WHEN br = 3 THEN s END), 0)
        |     + coalesce(max(CASE WHEN br = 4 THEN s END), 0)
        |     + coalesce(max(CASE WHEN br = 5 THEN s END), 0)
        |     + coalesce(max(CASE WHEN br = 6 THEN s END), 0))
        |      / CAST(count(*) AS DOUBLE) AS ay
        |  FROM r WHERE br <= 6 GROUP BY tgt_id),
        |bb AS (SELECT tgt_id, src_id AS bsrc FROM r WHERE br = 1)
        |SELECT f.src_id, f.tgt_id,
        |  floor((f.s) * 10000 + 0.5) / 10000.0 AS sim,
        |  floor((f.s / ((ax.ax + ay.ay) / 2.0)) * 10000 + 0.5)
        |    / 10000.0 AS margin,
        |  (bb.bsrc = f.src_id) AS mutual
        |FROM r f
        |JOIN ax ON ax.src_id = f.src_id
        |JOIN ay ON ay.tgt_id = f.tgt_id
        |JOIN bb ON bb.tgt_id = f.tgt_id
        |WHERE f.fr = 1
        |ORDER BY f.src_id""".stripMargin))
  )

  /** The two-level IVF funnel of q96 and q320 in SQL, ending at each
    * query's probed cells: cells routed to their 2 nearest coarse
    * centroids, per-point coarse probes, candidate-restricted
    * assignment and the 3 probes per query. */
  private val ivfTwoLevelCtes: String =
    """WITH c AS (SELECT vec_id AS cell_id, embedding AS cvec
      |  FROM embeddings WHERE vec_id % 50 = 0),
      |g AS (SELECT vec_id AS gid, embedding AS gvec
      |  FROM embeddings WHERE vec_id % 200 = 0),
      |cg AS (
      |  SELECT cell_id, cvec, gid FROM (
      |    SELECT c.cell_id, c.cvec, g.gid,
      |      row_number() OVER (PARTITION BY c.cell_id ORDER BY
      |        list_cosine_similarity(CAST(c.cvec AS DOUBLE[]),
      |          CAST(g.gvec AS DOUBLE[])) DESC, g.gid ASC) AS grn
      |    FROM c CROSS JOIN g)
      |  WHERE grn <= 2),
      |pg AS (
      |  SELECT vec_id, embedding, gid FROM (
      |    SELECT e.vec_id, e.embedding, g.gid,
      |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |        list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
      |          CAST(g.gvec AS DOUBLE[])) DESC, g.gid ASC) AS prn
      |    FROM embeddings e CROSS JOIN g)
      |  WHERE prn <= 2),
      |cand AS (
      |  SELECT DISTINCT p.vec_id, p.embedding, cg.cell_id, cg.cvec
      |  FROM pg p JOIN cg ON p.gid = cg.gid),
      |assigned AS (
      |  SELECT vec_id, embedding, cell_id FROM (
      |    SELECT vec_id, embedding, cell_id,
      |      row_number() OVER (PARTITION BY vec_id ORDER BY
      |        list_cosine_similarity(CAST(embedding AS DOUBLE[]),
      |          CAST(cvec AS DOUBLE[])) DESC, cell_id ASC) AS arn
      |    FROM cand)
      |  WHERE arn = 1),
      |probes AS (
      |  SELECT vec_id AS query_id, embedding AS qv, cell_id FROM (
      |    SELECT vec_id, embedding, cell_id,
      |      row_number() OVER (PARTITION BY vec_id ORDER BY
      |        list_cosine_similarity(CAST(embedding AS DOUBLE[]),
      |          CAST(cvec AS DOUBLE[])) DESC, cell_id ASC) AS crk
      |    FROM cand WHERE vec_id < 5)
      |  WHERE crk <= 3)""".stripMargin

  /** The IVF readout of q27 and q96 in SQL: every assigned point in a
    * query's probed cells scored by cosine, top 5 per query. */
  private val ivfScoredTopK: String =
    """scored AS (
      |  SELECT p.query_id, s.vec_id AS neighbor_id,
      |    list_cosine_similarity(CAST(s.embedding AS DOUBLE[]),
      |      CAST(p.qv AS DOUBLE[])) AS sim
      |  FROM assigned s JOIN probes p ON s.cell_id = p.cell_id
      |  WHERE s.vec_id <> p.query_id),
      |r AS (SELECT query_id, neighbor_id, sim, row_number() OVER (
      |  PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rk
      |  FROM scored)
      |SELECT query_id, CAST(rk AS INT) AS rk, neighbor_id,
      |  floor(sim * 10000 + 0.5) / 10000.0 AS sim
      |FROM r WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin

  /** The depot world of q190, q258, q293 and q295 in SQL: customers `c`
    * (`custCols` plus lat/lon) and suppliers `s` at
    * [[graft.operators.Geo.syntheticPoint]]'s Knuth-hash coordinates,
    * supplier keys offset by 500000 as on the Spark side. */
  private def geoPointCtes(custCols: String): String =
    s"""WITH c AS (
       |  SELECT $custCols,
       |    40.0 + ((c_custkey % 2147483647) * 2654435761 % 4294967296)
       |      / 4294967296.0 * 10.0 AS lat,
       |    -80.0 + (((c_custkey + 1000003) % 2147483647) * 2654435761
       |      % 4294967296) / 4294967296.0 * 10.0 AS lon
       |  FROM customer),
       |s AS (
       |  SELECT s_suppkey,
       |    40.0 + (((s_suppkey + 500000) % 2147483647) * 2654435761
       |      % 4294967296) / 4294967296.0 * 10.0 AS lat,
       |    -80.0 + (((s_suppkey + 500000 + 1000003) % 2147483647)
       |      * 2654435761 % 4294967296) / 4294967296.0 * 10.0 AS lon
       |  FROM supplier)""".stripMargin
}
