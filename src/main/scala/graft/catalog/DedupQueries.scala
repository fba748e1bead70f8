package graft
package catalog

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.operators._
import graft.SparkEntry.scoped

/** Near-duplicate detection: exact and MinHash/SimHash dedup, shingle
  * Jaccard, clustering of duplicates and the portable hash twins. A
  * query lands here when its build calls `Dedup` or the hashing and
  * shingling families. */
object DedupQueries {

  def defs: Seq[QueryDef] = Seq(
    // Exact dedup: hash group-by on content digest; only the 128-bit
    // digest shuffles, never the text.
    QueryDef("q22_dedup_exact", (s, d) => {
      Dedup.exactGroups(Tables.documents(s, d), "text", "doc_id")
        .orderBy($"content_hash")
    }, Some(
      """SELECT md5(text) AS content_hash, min(doc_id) AS keep_id,
        |  count(*) AS n_dups
        |FROM documents GROUP BY 1 ORDER BY content_hash""".stripMargin)),

    // MinHash+LSH near-dup candidates. est_jaccard = signature
    // agreement fraction. FULLY ORACLED since round 11: the signature
    // family is the portable polynomial/affine one (promoted from the
    // q327 twin after measuring it within noise of xxhash64 — see
    // Dedup.minHashSignature), so DuckDB replays shingling, signatures,
    // banding, bucket pruning, candidacy, and the exact-Jaccard verify
    // stage for stage.
    QueryDef("q23_dedup_minhash_lsh", (s, d) => {
      val docs = Tables.documents(s, d)
      // candidates via threshold-tuned banded MinHash (lshParams picks
      // (bands=8, rows=4) for t=0.6: inflection (1/8)^(1/4) ≈ 0.59),
      // then exact-Jaccard verify of the top candidates — the full
      // near-dup pipeline shape.
      val cands = Dedup.minHashCandidatesAt(docs, "text", "doc_id",
          threshold = 0.6, shingleWords = 3, k = 32)
        .orderBy($"est_jaccard".desc, $"id_a", $"id_b")
        .limit(200)
      Dedup.exactJaccard(docs, "text", "doc_id", cands, shingleWords = 3)
        .select($"id_a", $"id_b", $"est_jaccard", $"jaccard")
        .orderBy($"jaccard".desc, $"id_a", $"id_b")
        .limit(100)
    },
    // q23: the FULL production MinHash-LSH pipeline replayed stage for
    // stage — word-3 shingles (the q24 CTE), portable polynomial
    // shingle hashes, the affine 32-position signatures, the
    // dual-base (1000003/1000033) 60-bit band keys, bucket
    // pruning (1 < size <= 64),
    // distinct candidate pairs, signature-agreement estimates, the
    // est-top-200 cut, exact word-shingle Jaccard verification, and
    // the jaccard-top-100 cut. Promoted from the q327 twin in round
    // 11 (hash family measured within noise of xxhash64), making LSH
    // candidacy itself hash-oracle-able.
    Some(
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |  FROM documents),
        |shl AS (
        |  SELECT doc_id, list_distinct([array_to_string(t[i:i+2], ' ')
        |    for i in range(1, greatest(len(t) - 2, 1) + 1)]) AS gs
        |  FROM toks),
        |hs AS (
        |  SELECT doc_id, gs,
        |    list_transform(gs, g -> list_reduce(
        |      list_prepend(CAST(0 AS BIGINT),
        |        list_transform(range(1, length(g) + 1), p ->
        |          CAST(ascii(substr(g, CAST(p AS INT), 1)) AS BIGINT))),
        |      (a, c) -> (a * 257 + c) % 1000000007)) AS gh
        |  FROM shl WHERE len(gs) > 0),
        |sg AS (
        |  SELECT doc_id, gs,
        |    list_transform(range(0, 32), i ->
        |      list_min(list_transform(gh, h ->
        |        ((2 * i + 1) * h + 7919 * i) % 1000000007))) AS sig
        |  FROM hs),
        |""".stripMargin + lshBandPairsCtes + """,
        |est AS (
        |  SELECT id_a, id_b,
        |    CAST(list_sum(list_transform(range(1, 33), i ->
        |      CASE WHEN sa.sig[CAST(i AS INT)] = sb.sig[CAST(i AS INT)]
        |        THEN 1 ELSE 0 END)) AS DOUBLE) / 32 AS est_jaccard
        |  FROM pairs
        |  JOIN sg sa ON sa.doc_id = id_a
        |  JOIN sg sb ON sb.doc_id = id_b),
        |cand AS (
        |  SELECT id_a, id_b, est_jaccard FROM est
        |  ORDER BY est_jaccard DESC, id_a, id_b LIMIT 200),
        |ver AS (
        |  SELECT c.id_a, c.id_b, c.est_jaccard,
        |    floor((CAST(len(list_filter(sa.gs, x ->
        |          list_contains(sb.gs, x))) AS DOUBLE) /
        |        (len(sa.gs) + len(sb.gs)
        |          - len(list_filter(sa.gs, x -> list_contains(sb.gs, x)))))
        |      * 10000 + 0.5) / 10000.0 AS jaccard
        |  FROM cand c
        |  JOIN sg sa ON sa.doc_id = c.id_a
        |  JOIN sg sb ON sb.doc_id = c.id_b)
        |SELECT id_a, id_b, est_jaccard, jaccard
        |FROM ver ORDER BY jaccard DESC, id_a, id_b LIMIT 100""".stripMargin)),

    // Exact word-3-gram Jaccard on a defined pair set (consecutive doc
    // ids) — the verification step of near-dup dedup, SQL-oracle-able.
    QueryDef("q24_ngram_jaccard", (s, d) => {
      val docs = Tables.documents(s, d)
      val pairs = docs.select($"doc_id".as("id_a"))
        .join(docs.select($"doc_id".as("id_b")),
          col("id_b") === col("id_a") + 1)
      Dedup.exactJaccard(docs, "text", "doc_id", pairs, shingleWords = 3)
        .select($"id_a", $"id_b", $"jaccard")
        .orderBy($"id_a")
    }, Some(
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |  FROM documents),
        |shl AS (
        |  SELECT doc_id, list_distinct([array_to_string(t[i:i+2], ' ')
        |    for i in range(1, greatest(len(t) - 2, 1) + 1)]) AS gs
        |  FROM toks),
        |sh AS (SELECT doc_id, unnest(gs) AS g FROM shl),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1),
        |inter AS (
        |  SELECT p.id_a, p.id_b, count(*) AS ni
        |  FROM pairs p
        |  JOIN sh sa ON sa.doc_id = p.id_a
        |  JOIN sh sb ON sb.doc_id = p.id_b AND sb.g = sa.g
        |  GROUP BY 1, 2),
        |sizes AS (SELECT doc_id, count(*) AS ns FROM sh GROUP BY 1)
        |SELECT p.id_a, p.id_b,
        |  floor((CAST(coalesce(ni, 0) AS DOUBLE) /
        |        (za.ns + zb.ns - coalesce(ni, 0))) * 10000 + 0.5) / 10000.0 AS jaccard
        |FROM pairs p
        |LEFT JOIN inter USING (id_a, id_b)
        |JOIN sizes za ON za.doc_id = p.id_a
        |JOIN sizes zb ON zb.doc_id = p.id_b
        |ORDER BY id_a""".stripMargin)),

    // SimHash fingerprints via native Catalyst Expressions. FULLY
    // ORACLED since round 11: the per-bit projections are the portable
    // affine family (promoted from the q328 twin — measured 0.97× of
    // the xxhash64 form on this exact pipeline at sf0.1) and the
    // document fingerprint is the mod-P polynomial (PolyStrHash —
    // closed-form integer arithmetic, unlike the wrapping base-31
    // Horner it replaces, which no overflow-checked engine could
    // follow). Emits fingerprint + hamming distance to the next doc —
    // the building block of simhash near-dup clustering. k=32 bits:
    // the q328 separation spec holds at 32, and doubling to 63 would
    // double the per-token vote work for margin the verdicts don't use.
    QueryDef("q25_simhash", (s, d) => {
      import graft.functions.TextHashes
      val fp = Tables.documents(s, d).select($"doc_id", $"lang",
        graft.functions.AffineSimHash(graft.functions.PolyHashArr(
          split(trim($"text"), "\\s+")), 32).as("simhash"),
        graft.functions.PolyStrHash($"text").as("fingerprint"),
        TextHashes.charShingleCount($"text", 5).as("n_char_shingles"))
      // partitioned window: hamming distance to the next doc in the same
      // language — keyed, so the sort distributes (no global window).
      val w = Window.partitionBy($"lang").orderBy($"doc_id")
      fp.withColumn("next_hash", lead($"simhash", 1).over(w))
        .withColumn("hamming_next",
          when($"next_hash".isNotNull,
            bit_count($"simhash".bitwiseXOR($"next_hash"))))
        .drop("next_hash")
        .orderBy($"doc_id")
    },
    // q25: production simhash replayed in full — whitespace tokens,
    // portable polynomial token hashes (multiset: votes repeat with
    // token frequency, exactly PolyHashArr's no-distinct semantics),
    // 32 affine-parity per-bit votes, the mod-P polynomial document
    // fingerprint, the distinct-5-char-shingle count, and the
    // per-language neighbor hamming. Promoted from the q328 twin in
    // round 11; the old wrapping base-31 fingerprint (which no
    // overflow-checked engine could replay) became the closed-form
    // polynomial.
    Some(
      """WITH d AS (
        |  SELECT doc_id, lang, text,
        |    string_split_regex(trim(text), '\s+') AS t
        |  FROM documents),
        |h AS (
        |  SELECT doc_id, lang,
        |    list_transform(t, w -> list_reduce(
        |      list_prepend(CAST(0 AS BIGINT),
        |        list_transform(range(1, length(w) + 1), p ->
        |          CAST(ascii(substr(w, CAST(p AS INT), 1)) AS BIGINT))),
        |      (a, c) -> (a * 257 + c) % 1000000007)) AS th,
        |    list_reduce(
        |      list_prepend(CAST(0 AS BIGINT),
        |        list_transform(range(1, length(text) + 1), p ->
        |          CAST(ascii(substr(text, CAST(p AS INT), 1)) AS BIGINT))),
        |      (a, c) -> (a * 257 + c) % 1000000007) AS fingerprint,
        |    CAST(len(list_distinct([substr(text, i, 5)
        |      for i in range(1, greatest(length(text) - 5, 0) + 2)]))
        |      AS INT) AS n_char_shingles
        |  FROM d),
        |sh AS (
        |  SELECT doc_id, lang,
        |    CAST(list_sum(list_transform(range(0, 32), s ->
        |      CASE WHEN list_sum(list_transform(th, g ->
        |          CASE WHEN (((2 * s + 1) * g + 7919 * s) % 1000000007)
        |            % 2 = 1 THEN 1 ELSE -1 END)) > 0
        |        THEN (CAST(1 AS BIGINT) << CAST(s AS INT))
        |        ELSE 0 END)) AS BIGINT) AS simhash,
        |    fingerprint, n_char_shingles
        |  FROM h),
        |hn AS (
        |  SELECT doc_id, lang, simhash, fingerprint, n_char_shingles,
        |    lead(simhash) OVER (PARTITION BY lang ORDER BY doc_id) AS nh
        |  FROM sh)
        |SELECT doc_id, lang, simhash, fingerprint, n_char_shingles,
        |  CASE WHEN nh IS NOT NULL
        |    THEN CAST(bit_count(xor(simhash, nh)) AS INT)
        |  END AS hamming_next
        |FROM hn ORDER BY doc_id""".stripMargin)),

    // Duplicate-CLUSTER resolution — the final step of corpus dedup:
    // exact-verified near-dup pairs (rare-shingle candidates, Jaccard ≥
    // 0.5) → connected components (iterative min-label propagation) →
    // one canonical survivor per cluster. Deterministic end to end, so
    // the oracle rebuilds the same graph and walks it with a recursive
    // CTE.
    QueryDef("q52_dup_clusters", (s, d) => {
      import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      // ONE scan-and-shingle pass, persisted: candidate generation reads
      // it twice (df count + rarity join), verification attaches it to
      // every candidate pair, and the cluster loop's pair materialization
      // replays the whole pipeline — unshared, the shingling of the full
      // corpus re-runs 4-5×, and under cache-eviction pressure that is
      // exactly what made this query blow up 5× in a shared session.
      // (Bench/Verify clear the session cache between queries, which is
      // this table's release point.)
      val sets = Dedup.hashedShingleSets(Tables.documents(s, d),
        "text", "doc_id", shingleWords = 3).transform(scoped)
      val cands = Dedup.rareShinglePairsFromSets(sets, maxDf = 10)
      // array-attach verification (hashed-long arrays): this corpus has
      // near-uniform doc lengths, so the (lossless) sizeCompatiblePairs
      // length filter prunes almost nothing here and its joins are pure
      // overhead; on length-varied corpora insert it between candidates
      // and verification. The per-pair counts variant loses for near-dup
      // candidates (they share most shingles — see exactJaccardCounts
      // scaladoc).
      val near = Dedup.jaccardFromSets(sets, cands)
        .filter($"jaccard" >= 0.5)
        .select($"id_a", $"id_b")
      // cluster_id doubles as the canonical survivor: it IS the
      // component's minimum doc id
      Dedup.dupClusters(near, "id_a", "id_b")
        .groupBy($"cluster_id")
        .agg(count(lit(1)).as("n_docs"))
        .orderBy($"cluster_id")
    },
    // Same graph, same labels: candidates by rare-shingle co-occurrence,
    // exact-Jaccard edge filter, then reachability min-label via a
    // recursive CTE.
    Some(dupClusterOracleCtes + """
        |SELECT cluster_id, count(*) AS n_docs
        |FROM labeled GROUP BY cluster_id ORDER BY cluster_id""".stripMargin)),

    // Train/eval CONTAMINATION screen: per eval document (source=src0),
    // the fraction of its 3-gram shingles present anywhere in the rest
    // of the corpus (the "training set"). The screen every benchmark
    // eval runs before trusting its numbers. Shingles compare by 64-bit
    // hash (collision odds ~2^-64, same accepted class as q52).
    QueryDef("q53_contamination", (s, d) => {
      // ONE scan-and-shingle pass with `source` carried along, persisted;
      // the train/eval split filters the RESULT (two separate
      // hashedShingleSets calls would scan and shingle the corpus twice)
      val sets = Dedup.hashedShingleSets(Tables.documents(s, d),
          "text", "doc_id", 3, carryCols = Seq("source"))
        .transform(scoped)
      val train = sets.filter($"source" =!= "src0").select($"id", $"sh")
      val eval = sets.filter($"source" === "src0").select($"id", $"sh")
      Dedup.containment(train, eval)
        .select($"id".as("doc_id"), $"n_shingles", $"n_matched",
          $"containment")
        .orderBy($"doc_id")
    },
    // Shingle construction mirrors q52's (exact strings; the Spark side
    // compares 64-bit hashes — identical counts modulo ~2^-64 collisions)
    Some(
      """WITH toks AS (
        |  SELECT doc_id, source, string_split_regex(trim(text), '\s+') AS t
        |  FROM documents),
        |shl AS (
        |  SELECT doc_id, source,
        |    list_distinct([array_to_string(t[i:i+2], ' ')
        |      for i in range(1, greatest(len(t) - 2, 1) + 1)]) AS gs
        |  FROM toks),
        |sh AS (SELECT doc_id, source, unnest(gs) AS g FROM shl),
        |train AS (SELECT DISTINCT g FROM sh WHERE source <> 'src0'),
        |ev AS (SELECT doc_id, g FROM sh WHERE source = 'src0')
        |SELECT e.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
        |  CAST(count(t.g) AS BIGINT) AS n_matched,
        |  floor(CAST(count(t.g) AS DOUBLE) / count(*) * 10000 + 0.5)
        |    / 10000.0 AS containment
        |FROM ev e LEFT JOIN train t ON e.g = t.g
        |GROUP BY e.doc_id ORDER BY e.doc_id""".stripMargin)),

    // Dedup SURVIVORSHIP: after q52's clustering, CHOOSE the canonical
    // doc per duplicate cluster (longest tokenized text, ties → lowest
    // id) and account for what dedup keeps vs drops — the decision step
    // every dedup pipeline needs after finding the clusters. Selection
    // is one hash aggregate (max_by over a total ordering key), not a
    // per-cluster window sort.
    QueryDef("q65_dedup_survivorship", (s, d) => {
      import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      // n_tok rides through the ONE scan-and-shingle pass (carryCols),
      // so the survivorship join reads the persisted set table instead
      // of re-scanning and re-tokenizing the corpus
      val docs = Tables.documents(s, d)
        .withColumn("n_tok",
          TextAnalysis.tokenCountWs($"text").cast("long"))
      val sets = Dedup.hashedShingleSets(docs, "text", "doc_id",
        shingleWords = 3, carryCols = Seq("n_tok"))
        .transform(scoped)
      val pairSets = sets.select($"id", $"sh")
      val near = Dedup
        .jaccardFromSets(pairSets,
          Dedup.rareShinglePairsFromSets(pairSets, 10))
        .filter($"jaccard" >= 0.5)
        .select($"id_a", $"id_b")
      val members = Dedup.dupClusters(near, "id_a", "id_b")
        .join(sets.select($"id".as("node"), $"n_tok"), "node")
      Dedup.survivorship(members, "cluster_id", "node", "n_tok")
        .select($"cluster_id", $"survivor_id", $"n_members",
          $"weight_kept".as("tokens_kept"),
          $"weight_dropped".as("tokens_dropped"))
        .orderBy($"cluster_id")
    }, Some(dupClusterOracleCtes + """,
        |tk AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |      ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tok
        |  FROM documents),
        |mem AS (
        |  SELECT l.cluster_id, l.node AS doc_id, tk.n_tok
        |  FROM labeled l JOIN tk ON tk.doc_id = l.node),
        |r AS (
        |  SELECT cluster_id, doc_id, n_tok, row_number() OVER (
        |    PARTITION BY cluster_id ORDER BY n_tok DESC, doc_id) AS rn
        |  FROM mem)
        |SELECT cluster_id,
        |  max(CASE WHEN rn = 1 THEN doc_id END) AS survivor_id,
        |  CAST(count(*) AS BIGINT) AS n_members,
        |  CAST(max(CASE WHEN rn = 1 THEN n_tok END) AS BIGINT)
        |    AS tokens_kept,
        |  CAST(sum(n_tok) - max(CASE WHEN rn = 1 THEN n_tok END)
        |    AS BIGINT) AS tokens_dropped
        |FROM r GROUP BY cluster_id ORDER BY cluster_id""".stripMargin)),

    // INCREMENTAL dedup — the ingestion admission screen: which docs of
    // an incoming batch (src0 stands in) near-duplicate something the
    // existing corpus (every other source) already has, and their best
    // match. ONE rare-shingle aggregation over the union generates
    // cross-boundary candidates (df counts both sides on purpose: a
    // shingle common in the corpus is non-discriminative even if new to
    // the batch); exact Jaccard verifies; a max_by hash aggregate picks
    // the canonical match — no per-doc window sort.
    QueryDef("q69_incremental_dedup", (s, d) => {
      import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      val sets = Dedup.hashedShingleSets(Tables.documents(s, d),
          "text", "doc_id", 3, carryCols = Seq("source"))
        .transform(scoped)
      val pairs = Dedup.crossCorpusPairsFromSets(
        sets.filter($"source" === "src0").select($"id", $"sh"),
        sets.filter($"source" =!= "src0").select($"id", $"sh"),
        maxDf = 10)
      Dedup.jaccardFromSets(sets.select($"id", $"sh"),
          pairs.select($"new_id".as("id_a"), $"corpus_id".as("id_b")))
        .filter($"jaccard" >= 0.5)
        .groupBy($"id_a")
        .agg(max_by($"id_b", struct($"jaccard", -$"id_b"))
            .as("match_id"),
          max($"jaccard").as("jaccard"),
          count(lit(1)).as("n_matches"))
        .select($"id_a".as("new_id"), $"match_id", $"jaccard",
          $"n_matches")
        .orderBy($"new_id")
    },
    // union-wide rare shingles, candidates cut to cross-source pairs,
    // exact Jaccard on ROUNDED values (matching jaccardFromSets), best
    // match by (jaccard desc, corpus id asc)
    Some(
      """WITH toks AS (
        |  SELECT doc_id, source,
        |    string_split_regex(trim(text), '\s+') AS t
        |  FROM documents),
        |shl AS (
        |  SELECT doc_id, source,
        |    list_distinct([array_to_string(t[i:i+2], ' ')
        |      for i in range(1, greatest(len(t) - 2, 1) + 1)]) AS gs
        |  FROM toks),
        |sh AS (SELECT doc_id, source, unnest(gs) AS g FROM shl),
        |rare AS (SELECT g FROM sh GROUP BY g HAVING count(*) <= 10),
        |cand AS (
        |  SELECT DISTINCT
        |    CASE WHEN sa.source = 'src0' THEN sa.doc_id
        |         ELSE sb.doc_id END AS new_id,
        |    CASE WHEN sa.source = 'src0' THEN sb.doc_id
        |         ELSE sa.doc_id END AS corpus_id
        |  FROM sh sa JOIN rare USING (g) JOIN sh sb USING (g)
        |  WHERE sb.doc_id > sa.doc_id
        |    AND (sa.source = 'src0') <> (sb.source = 'src0')),
        |inter AS (
        |  SELECT p.new_id, p.corpus_id, count(*) AS ni FROM cand p
        |  JOIN sh sa ON sa.doc_id = p.new_id
        |  JOIN sh sb ON sb.doc_id = p.corpus_id AND sb.g = sa.g
        |  GROUP BY 1, 2),
        |sizes AS (SELECT doc_id, count(*) AS ns FROM sh GROUP BY 1),
        |near AS (
        |  SELECT p.new_id, p.corpus_id,
        |    floor((CAST(ni AS DOUBLE) / (za.ns + zb.ns - ni))
        |      * 10000 + 0.5) / 10000.0 AS j
        |  FROM cand p
        |  JOIN inter USING (new_id, corpus_id)
        |  JOIN sizes za ON za.doc_id = p.new_id
        |  JOIN sizes zb ON zb.doc_id = p.corpus_id),
        |hit AS (SELECT * FROM near WHERE j >= 0.5),
        |best AS (
        |  SELECT new_id, corpus_id, j,
        |    row_number() OVER (PARTITION BY new_id
        |      ORDER BY j DESC, corpus_id ASC) AS rn,
        |    count(*) OVER (PARTITION BY new_id) AS n_matches
        |  FROM hit)
        |SELECT new_id, corpus_id AS match_id, j AS jaccard,
        |  CAST(n_matches AS BIGINT) AS n_matches
        |FROM best WHERE rn = 1 ORDER BY new_id""".stripMargin)),

    // LEAKAGE-SAFE train/val/test split: near-dup clusters (the q52/q65
    // pipeline head) are the assignment unit — the split hashes the
    // CLUSTER id, not the doc id, so two near-duplicate documents can
    // never land in different splits (the eval-contamination mode a
    // doc-id split allows). Singleton docs are their own cluster. The
    // report carries its own audit: n_leaky_clusters counts clusters
    // straddling splits and is 0 by construction.
    QueryDef("q74_leakage_split", (s, d) => {
      import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      val docs = Tables.documents(s, d).withColumn("n_tok",
        TextAnalysis.tokenCountWs($"text").cast("long"))
      val sets = Dedup.hashedShingleSets(docs, "text", "doc_id",
        shingleWords = 3, carryCols = Seq("n_tok"))
        .transform(scoped)
      val pairSets = sets.select($"id", $"sh")
      val near = Dedup
        .jaccardFromSets(pairSets,
          Dedup.rareShinglePairsFromSets(pairSets, 10))
        .filter($"jaccard" >= 0.5)
        .select($"id_a", $"id_b")
      val clusters = Dedup.dupClusters(near, "id_a", "id_b")
      val withCluster = sets.select($"id", $"n_tok")
        .join(clusters.withColumnRenamed("node", "id"), Seq("id"),
          "left_outer")
        .withColumn("cluster_id", coalesce($"cluster_id", $"id"))
      val split = Sampling.stratifiedSplit(withCluster, "cluster_id",
        Seq("train" -> 80, "val" -> 10, "test" -> 10))
      val leak = split.groupBy($"cluster_id")
        .agg(countDistinct($"split").as("__ns"))
        .agg(coalesce(sum(when($"__ns" > 1, 1L).otherwise(0L)), lit(0L))
          .as("n_leaky_clusters"))
      split.groupBy($"split")
        .agg(count(lit(1)).as("n_docs"),
          sum($"n_tok").as("n_tokens"),
          countDistinct($"cluster_id").as("n_clusters"))
        .crossJoin(broadcast(leak))
        .orderBy($"split")
    },
    // q74: q52's recursive-CTE clusters (dupClusterOracleCtes),
    // singleton docs fall back to their own id, split arithmetic
    // copied from q61's hash mirror.
    Some(dupClusterOracleCtes + """,
        |allc AS (
        |  SELECT d.doc_id,
        |    CASE WHEN length(trim(d.text)) = 0 THEN 0
        |      ELSE len(string_split_regex(trim(d.text), '\s+')) END
        |      AS n_tok,
        |    coalesce(l.cluster_id, d.doc_id) AS cluster_id
        |  FROM documents d LEFT JOIN labeled l ON l.node = d.doc_id),
        |sp AS (
        |  SELECT *, (cluster_id % 2147483647 + 2147483647) % 2147483647
        |    * 2654435761 % 4294967296 % 100 AS b
        |  FROM allc),
        |spl AS (
        |  SELECT *, CASE WHEN b < 80 THEN 'train'
        |    WHEN b < 90 THEN 'val' ELSE 'test' END AS split
        |  FROM sp),
        |leak AS (
        |  SELECT CAST(coalesce(sum(CASE WHEN ns > 1 THEN 1 ELSE 0 END),
        |    0) AS BIGINT) AS n_leaky_clusters
        |  FROM (SELECT cluster_id, count(DISTINCT split) AS ns
        |    FROM spl GROUP BY 1))
        |SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
        |  CAST(count(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
        |  leak.n_leaky_clusters
        |FROM spl, leak
        |GROUP BY split, leak.n_leaky_clusters ORDER BY split""".stripMargin)),

    // SORTED-NEIGHBORHOOD BLOCKING — the third blocking family next
    // to LSH (q23) and rare-shingle (q52): rank every doc by a cheap
    // sort key (text prefix + id makes the order total), compare only
    // rank-adjacent docs (window w=3). Rank is the q128 two-phase
    // scan; the "sliding window" is NOT a window function — each doc
    // explodes 3 offset rows and equi-joins rank→rank+o, so candidate
    // volume is exactly 3n and every stage is hash-partitioned.
    // Verification reuses the digest-only Jaccard join (shingles
    // travel as 64-bit hashes, q24's oracle-proven path).
    QueryDef("q134_sorted_neighborhood", (s, d) => {
      val docs = Tables.documents(s, d)
      val keyed = docs
        .select($"doc_id", substring($"text", 1, 20).as("__sk"))
        .withColumn("__g", lit(1)).withColumn("__one", lit(1L))
      val ranked = Packing.prefixSum(keyed, Seq("__g"),
        Seq("__sk", "doc_id"), "__one", "__rk")
      val pairs = ranked
        .select($"doc_id".as("id_a"), $"__rk",
          explode(array(lit(1L), lit(2L), lit(3L))).as("__o"))
        .select($"id_a", ($"__rk" + $"__o").as("__rk2"))
        .join(ranked.select($"doc_id".as("id_b"),
          $"__rk".as("__rk2")), "__rk2")
        .select($"id_a", $"id_b")
      Dedup.exactJaccardCounts(docs, "text", "doc_id", pairs,
          shingleWords = 3)
        .filter($"jaccard" >= 0.3)
        .select($"id_a", $"id_b", $"jaccard")
        .orderBy($"id_a", $"id_b")
    },
    // q134: same total order (prefix, id), same rank-band pairs, q24's
    // shingle-Jaccard tail; threshold applies to the ROUNDED value on
    // both sides so the boundary can't diverge
    Some(
      """WITH k AS (
        |  SELECT doc_id, substr(text, 1, 20) AS sk FROM documents),
        |r AS (SELECT doc_id,
        |    row_number() OVER (ORDER BY sk, doc_id) AS rk FROM k),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM r a JOIN r b ON b.rk - a.rk BETWEEN 1 AND 3),
        |toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |  FROM documents),
        |shl AS (
        |  SELECT doc_id, list_distinct([array_to_string(t[i:i+2], ' ')
        |    for i in range(1, greatest(len(t) - 2, 1) + 1)]) AS gs
        |  FROM toks),
        |sh AS (SELECT doc_id, unnest(gs) AS g FROM shl),
        |inter AS (
        |  SELECT p.id_a, p.id_b, count(*) AS ni
        |  FROM pairs p
        |  JOIN sh sa ON sa.doc_id = p.id_a
        |  JOIN sh sb ON sb.doc_id = p.id_b AND sb.g = sa.g
        |  GROUP BY 1, 2),
        |sizes AS (SELECT doc_id, count(*) AS ns FROM sh GROUP BY 1),
        |j AS (
        |  SELECT p.id_a, p.id_b,
        |    floor((CAST(coalesce(ni, 0) AS DOUBLE) /
        |      (za.ns + zb.ns - coalesce(ni, 0))) * 10000 + 0.5)
        |      / 10000.0 AS jaccard
        |  FROM pairs p
        |  LEFT JOIN inter USING (id_a, id_b)
        |  JOIN sizes za ON za.doc_id = p.id_a
        |  JOIN sizes zb ON zb.doc_id = p.id_b)
        |SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= 0.3
        |ORDER BY id_a, id_b""".stripMargin)),

    // EXACT similarity self-join via prefix filtering (AllPairs/PPJoin
    // candidate scheme): ALL document pairs with word-3-gram Jaccard
    // ≥ 1/2 — no sampling, no fixed pair set, no probabilistic recall.
    // The oracle computes ground truth by brute force, so this query
    // also machine-checks the prefix-filter COMPLETENESS lemma on real
    // data at every SF. τ compares as integers (2·i ≥ u) — the cut can
    // never sit on a float boundary; the reported jaccard is a single
    // division of two exact longs (bit-identical across engines).
    QueryDef("q249_prefix_filter_join", (s, d) => {
      Dedup.prefixFilterJoin(Tables.documents(s, d), "text", "doc_id",
          tauNum = 1, tauDen = 2, shingleWords = 3)
        .orderBy($"id_a", $"id_b")
    },
    // Ground-truth brute force: every pair sharing ANY token — the
    // quadratic join the Spark side's prefix filter exists to avoid.
    // Shingling mirrors WordShingles: i in 1..max(len-2, 1), window
    // clipped at the text end (a 1-2 word doc yields one short
    // shingle), distinct per doc.
    Some(
      """WITH t AS (
        |  SELECT doc_id,
        |    regexp_split_to_array(trim(text), '\s+') AS w
        |  FROM documents WHERE length(trim(text)) > 0),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    array_to_string(w[i:least(i + 2, len(w))], ' ') AS tok
        |  FROM t, UNNEST(range(1, greatest(len(w) - 2, 1) + 1)) AS g(i)),
        |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |xi AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
        |  FROM sh a JOIN sh b ON a.tok = b.tok AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b,
        |  CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) AS jaccard
        |FROM xi JOIN sz sa ON xi.id_a = sa.doc_id
        |JOIN sz sb ON xi.id_b = sb.doc_id
        |WHERE 2 * i >= sa.n + sb.n - i
        |ORDER BY id_a, id_b""".stripMargin)),

    // WINNOWING FINGERPRINTS — the MOSS document-fingerprint scheme
    // (Schleimer/Wilkerson/Aiken): hash every char 8-gram with a
    // PORTABLE polynomial rolling hash (h = fold h·257 + code mod
    // 1e9+7 — both engines on identical int64 ops, unlike the
    // xxhash64-based q23/q25 family, so the fingerprints themselves
    // sit under the hash oracle), then keep each 4-window's MINIMUM —
    // the winnowing guarantee: any shared substring of length ≥
    // k+w−1 = 11 yields at least one shared fingerprint, with a
    // w-fold density cut. The whole selection runs INSIDE the scan
    // projection as higher-order lambdas (no explode until the
    // bounded per-doc fingerprint SET exists); the per-source rollup
    // then counts distinct and cross-doc-shared fingerprints — the
    // dedup-overlap signal a crawl pipeline actually keys on. Text
    // capped at 200 chars per doc (documented fixture bound, same
    // class as q205's substr).
    //
    // SHAPE LESSON (measured): the tempting nested-lambda form
    // (transform over windows of an array-of-gram-hashes column) is
    // quadratic in disguise — CollapseProject inlines the whole
    // hash-array expression into EVERY window element, and
    // higher-order lambdas run interpreted, so 5k docs took >13 min.
    // The relational form below is linear and fully codegen'd:
    // explode the gram index, hash each gram with an UNROLLED 8-term
    // polynomial (plain expression tree, no lambda), take the
    // 4-window minimum as a per-doc window frame (rowsBetween 0..3 —
    // short per-doc sequences, the sessionize-class partitioned
    // window), distinct per doc.
    QueryDef("q309_winnowing", (s, d) => {
      // ONE native codegen'd expression per doc (WinnowFingerprints):
      // gram hashes (fold (h·257 + code) mod 1e9+7 over 8 chars),
      // 4-window sliding minima, per-doc distinct — all map-side, so
      // the only shuffles are the aggregates over already-distinct
      // (doc, fp) rows. The relational form (explode gram index →
      // per-doc window min → distinct) computes the identical set but
      // its window stage is a full shuffle+sort of every gram row
      // (~190× the doc count) — two-decade probe measured 8.3× on the
      // second decade once that sort spills vs 2.9× for this shape,
      // and bench time fell 3.2 → ~1 s at sf0.1. The oracle replays
      // the closed form relationally in DuckDB, so hash equality pins
      // the native kernel against an independent implementation.
      val base = Tables.documents(s, d)
        .filter($"text".isNotNull && length($"text") >= 11)
        .select($"doc_id", $"source",
          substring($"text", 1, 200).as("__t"))
      val fps = base.select($"doc_id", $"source",
        explode(graft.functions.WinnowFingerprints($"__t", 8, 4))
          .as("__wm"))
      val nd = base.groupBy($"source").agg(count(lit(1)).as("n_docs"))
      val perSrc = fps.groupBy($"source", $"__wm")
        .agg(count(lit(1)).as("__nd"))
        .groupBy($"source")
        .agg(sum($"__nd").as("n_fp_occurrences"),
          count(lit(1)).as("n_distinct_fp"),
          sum(when($"__nd" >= 2, 1L).otherwise(0L)).as("n_shared_fp"))
      perSrc.join(broadcast(nd), Seq("source"))
        .select($"source", $"n_docs", $"n_fp_occurrences",
          $"n_distinct_fp", $"n_shared_fp")
        .orderBy($"source")
    },
    // q309: DuckDB replays the identical polynomial hash (its
    // list_reduce without an init seeds with the first element —
    // equal to the 0-seeded fold since 0·257+c₁ = c₁) and the same
    // window-min selection; list_slice/list_min/list_distinct mirror
    // slice/array_min/array_distinct 1-based and bytewise.
    Some(
      """WITH t AS (
        |  SELECT doc_id, source, substr(text, 1, 200) AS s
        |  FROM documents
        |  WHERE text IS NOT NULL AND length(text) >= 11),
        |hs AS (
        |  SELECT doc_id, source,
        |    list_transform(range(1, length(s) - 7 + 1),
        |      i -> list_reduce(
        |        list_transform(range(i, i + 8),
        |          p -> CAST(ascii(substr(s, CAST(p AS INT), 1))
        |            AS BIGINT)),
        |        (a, c) -> (a * 257 + c) % 1000000007)) AS h
        |  FROM t),
        |fps AS (
        |  SELECT doc_id, source,
        |    list_distinct(list_transform(range(1, len(h) - 3 + 1),
        |      j -> list_min(list_slice(h, j, j + 3)))) AS f
        |  FROM hs),
        |nd AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(len(f)) AS BIGINT) AS n_fp_occurrences
        |  FROM fps GROUP BY source),
        |ex AS (
        |  SELECT source, u.fp, count(*) AS ndocs
        |  FROM fps, unnest(fps.f) u(fp) GROUP BY 1, 2),
        |ag AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_distinct_fp,
        |    CAST(sum(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_shared_fp
        |  FROM ex GROUP BY source)
        |SELECT source, n_docs, n_fp_occurrences, n_distinct_fp,
        |  n_shared_fp
        |FROM ag JOIN nd USING (source) ORDER BY source""".stripMargin)),

    // MINHASH-LSH UNDER THE HASH ORACLE — q23's banded near-dup
    // pipeline rebuilt on a PORTABLE hash family so every stage
    // replays in DuckDB: gram hash = the q309/q325 polynomial rolling
    // hash over 8-char shingles (mod p = 1e9+7), MinHash family
    // h_i(g) = ((2i+1)·g + 7919·i) mod p (odd multipliers — injective
    // mod 2^64 slices of the gram domain), band key = the production
    // dual-base fold pair over each 4-row band (round-12 recall fix). q23 keeps xxhash64 as the
    // production-speed form (one codegen'd native expression per
    // row); this twin certifies the PIPELINE — signatures, banding,
    // bucket-cap pruning, candidate pairs, signature-agreement
    // estimate, exact gram-set Jaccard verify — end to end by hash
    // equality, shrinking the no_oracle set to engine-specific
    // float/hash internals (q25/q40/q105). Scale shape is q23's: one
    // shuffle on (band, bkey), window bucket cap (stop-shingle skew
    // guard), bounded bucket self-join, signatures joined back once
    // per unique pair; signatures/grams build MAP-SIDE as per-doc
    // native kernels (GramHashSet / AffineMinHash — the composable
    // higher-order forms compute identical values but run interpreted
    // at ~6k lambda ops/row, measured 16 s of the sf0.1 bench on this
    // query alone; NativeEquivalenceSpec pins the equivalence), never
    // an exploded 32× shuffle.
    QueryDef("q327_minhash_portable", (s, d) => {
      val P = 1000000007L
      val docs = Tables.documents(s, d)
        .filter($"text".isNotNull && length($"text") >= 8)
        .select($"doc_id", substring($"text", 1, 200).as("__t"))
      val withG = docs.select($"doc_id",
        graft.functions.GramHashSet($"__t", 8).as("gh"))
      val withSig = withG.select($"doc_id", $"gh",
        graft.functions.AffineMinHash($"gh", 32).as("sig"))
      // consumed by the banded explode and joined back twice (est +
      // exact verify) — scoped persist, released by the runner
      val sigs = scoped(withSig)
      // the production lshBandKeys dual-base 60-bit fold pair (the
      // round-12 recall fix), via the NATIVE kernel — the composable
      // HOF form is interpreted and the dual fold doubled its tree
      val banded = sigs.select($"doc_id",
          posexplode(graft.functions.LshBandKeys($"sig", 8, 4)))
        .select($"doc_id", $"pos".as("band"), $"col".as("bkey"))
      val wB = Window.partitionBy($"band", $"bkey")
      val pruned = banded.withColumn("__bsz", count(lit(1)).over(wB))
        .filter($"__bsz" > 1 && $"__bsz" <= 64).drop("__bsz")
      val pairs = pruned.select($"band", $"bkey", $"doc_id".as("id_a"))
        .join(pruned.select($"band", $"bkey", $"doc_id".as("id_b")),
          Seq("band", "bkey"))
        .filter($"id_a" < $"id_b")
        .select($"id_a", $"id_b").distinct()
      val scored = pairs
        .join(sigs.select($"doc_id".as("id_a"), $"sig".as("sa"),
          $"gh".as("ga")), Seq("id_a"))
        .join(sigs.select($"doc_id".as("id_b"), $"sig".as("sb"),
          $"gh".as("gb")), Seq("id_b"))
        .select($"id_a", $"id_b",
          (size(filter(zip_with($"sa", $"sb", (x, y) => x === y),
            p => p)).cast("double") / 32).as("est_jaccard"),
          size(array_intersect($"ga", $"gb")).as("__i"),
          (size($"ga") + size($"gb")).as("__ab"))
        .select($"id_a", $"id_b", $"est_jaccard",
          ($"__i".cast("double") / ($"__ab" - $"__i")).as("jaccard"))
      scored.orderBy($"est_jaccard".desc, $"id_a", $"id_b").limit(200)
        .orderBy($"jaccard".desc, $"id_a", $"id_b").limit(100)
    },
    // q327: the whole MinHash-LSH pipeline replayed — polynomial gram
    // hash (q325's list_reduce spelling), 32 affine min-hashes, 4-row
    // polynomial band keys, window bucket cap, bucket self-join,
    // signature-agreement estimate and exact gram-set Jaccard. Both
    // doubles are single divisions of small exact integers (x/32 and
    // inter/union), so no rounding is needed for hash parity; ORDER
    // BY is totally ordered (ties broken by id_a, id_b) so both
    // LIMITs cut identically.
    Some(
      """WITH t AS (
        |  SELECT doc_id, substr(text, 1, 200) AS s
        |  FROM documents WHERE text IS NOT NULL AND length(text) >= 8),
        |g AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, length(s) - 7 + 1),
        |      i -> list_reduce(list_transform(range(i, i + 8),
        |        p -> CAST(ascii(substr(s, CAST(p AS INT), 1))
        |          AS BIGINT)),
        |        (a, c) -> (a * 257 + c) % 1000000007))) AS gh
        |  FROM t),
        |sg AS (
        |  SELECT doc_id, gh, list_transform(range(0, 32), i ->
        |    list_min(list_transform(gh, h ->
        |      ((2 * i + 1) * h + 7919 * i) % 1000000007))) AS sig
        |  FROM g),
        |""".stripMargin + lshBandPairsCtes + """,
        |sc AS (
        |  SELECT id_a, id_b,
        |    CAST(list_sum(list_transform(range(1, 33), i ->
        |      CASE WHEN sa.sig[CAST(i AS INT)] = sb.sig[CAST(i AS INT)]
        |        THEN 1 ELSE 0 END)) AS DOUBLE) / 32 AS est_jaccard,
        |    len(list_filter(sa.gh, x -> list_contains(sb.gh, x))) AS ic,
        |    len(sa.gh) + len(sb.gh) AS ab
        |  FROM pairs
        |  JOIN sg sa ON sa.doc_id = id_a
        |  JOIN sg sb ON sb.doc_id = id_b),
        |cand AS (
        |  SELECT id_a, id_b, est_jaccard,
        |    CAST(ic AS DOUBLE) / (ab - ic) AS jaccard
        |  FROM sc ORDER BY est_jaccard DESC, id_a, id_b LIMIT 200)
        |SELECT id_a, id_b, est_jaccard, jaccard
        |FROM cand ORDER BY jaccard DESC, id_a, id_b LIMIT 100""".stripMargin)),

    // SIMHASH UNDER THE HASH ORACLE — q25's fingerprint+hamming chain
    // rebuilt on the q327 portable family so DuckDB replays it bit for
    // bit: gram hashes are the same polynomial 8-gram set, and bit s
    // of the fingerprint is the sign of Σ over grams of ±1 votes,
    // +1 iff h_s(g) = ((2s+1)·g + 7919·s) mod 1e9+7 is odd (parity of
    // an affine image mod an odd prime ~halves the gram domain per
    // seed — all the per-bit projection simhash needs). q25 keeps
    // xxhash64 bit-slices as the production form; this twin certifies
    // fingerprint construction, per-language neighbor hamming, and the
    // near-dup verdict by hash equality, leaving only float internals
    // (q40) and the derivation fixpoint (q105) unoracled. One codegen
    // pass per row (AffineSimHash kernel), one keyed window — no
    // shuffle beyond the lang partition, same shape as q25.
    QueryDef("q328_simhash_portable", (s, d) => {
      val docs = Tables.documents(s, d)
        .filter($"text".isNotNull && length($"text") >= 8)
        .select($"doc_id", $"lang", substring($"text", 1, 200).as("__t"))
      val fp = docs.select($"doc_id", $"lang",
        graft.functions.AffineSimHash(
          graft.functions.GramHashSet($"__t", 8), 32).as("simhash"))
      val w = Window.partitionBy($"lang").orderBy($"doc_id")
      fp.withColumn("next_hash", lead($"simhash", 1).over(w))
        .withColumn("hamming_next",
          when($"next_hash".isNotNull,
            bit_count($"simhash".bitwiseXOR($"next_hash"))
              .cast("long")))
        .withColumn("near_dup",
          when($"hamming_next".isNotNull, $"hamming_next" <= 3))
        .drop("next_hash")
        .orderBy($"doc_id")
    },
    // q328: portable simhash — the q327 gram CTE, then bit s votes by
    // parity of the affine image, fingerprint as Σ 2^s over positive
    // accumulators, neighbor hamming via xor+bit_count in the same
    // per-language window as the Spark side.
    Some(
      """WITH t AS (
        |  SELECT doc_id, lang, substr(text, 1, 200) AS s
        |  FROM documents WHERE text IS NOT NULL AND length(text) >= 8),
        |g AS (
        |  SELECT doc_id, lang,
        |    list_distinct(list_transform(range(1, length(s) - 7 + 1),
        |      i -> list_reduce(list_transform(range(i, i + 8),
        |        p -> CAST(ascii(substr(s, CAST(p AS INT), 1))
        |          AS BIGINT)),
        |        (a, c) -> (a * 257 + c) % 1000000007))) AS gh
        |  FROM t),
        |sh AS (
        |  SELECT doc_id, lang,
        |    CAST(list_sum(list_transform(range(0, 32), s ->
        |      CASE WHEN list_sum(list_transform(gh, h ->
        |          CASE WHEN (((2 * s + 1) * h + 7919 * s) % 1000000007)
        |            % 2 = 1 THEN 1 ELSE -1 END)) > 0
        |        THEN (CAST(1 AS BIGINT) << CAST(s AS INT))
        |        ELSE 0 END)) AS BIGINT) AS simhash
        |  FROM g),
        |hn AS (
        |  SELECT doc_id, lang, simhash,
        |    lead(simhash) OVER (PARTITION BY lang ORDER BY doc_id)
        |      AS nh
        |  FROM sh)
        |SELECT doc_id, lang, simhash,
        |  CASE WHEN nh IS NOT NULL
        |    THEN CAST(bit_count(xor(simhash, nh)) AS BIGINT)
        |  END AS hamming_next,
        |  CASE WHEN nh IS NOT NULL
        |    THEN bit_count(xor(simhash, nh)) <= 3
        |  END AS near_dup
        |FROM hn ORDER BY doc_id""".stripMargin))
  )

  /** q52's duplicate clusters in SQL, shared by q52, q65 and q74:
    * word-3 shingles, rare-shingle (df <= 10) candidate pairs, exact
    * Jaccard >= 0.5 edges, then min-label reachability through a
    * recursive CTE, ending at `labeled` (node, cluster_id). */
  private val dupClusterOracleCtes: String =
    """WITH RECURSIVE toks AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
      |  FROM documents),
      |shl AS (
      |  SELECT doc_id, list_distinct([array_to_string(t[i:i+2], ' ')
      |    for i in range(1, greatest(len(t) - 2, 1) + 1)]) AS gs
      |  FROM toks),
      |sh AS (SELECT doc_id, unnest(gs) AS g FROM shl),
      |rare AS (SELECT g FROM sh GROUP BY g HAVING count(*) <= 10),
      |cand AS (
      |  SELECT DISTINCT sa.doc_id AS id_a, sb.doc_id AS id_b
      |  FROM sh sa JOIN rare USING (g) JOIN sh sb USING (g)
      |  WHERE sb.doc_id > sa.doc_id),
      |inter AS (
      |  SELECT p.id_a, p.id_b, count(*) AS ni FROM cand p
      |  JOIN sh sa ON sa.doc_id = p.id_a
      |  JOIN sh sb ON sb.doc_id = p.id_b AND sb.g = sa.g
      |  GROUP BY 1, 2),
      |sizes AS (SELECT doc_id, count(*) AS ns FROM sh GROUP BY 1),
      |near AS (
      |  SELECT p.id_a, p.id_b FROM cand p
      |  JOIN inter USING (id_a, id_b)
      |  JOIN sizes za ON za.doc_id = p.id_a
      |  JOIN sizes zb ON zb.doc_id = p.id_b
      |  WHERE floor((CAST(ni AS DOUBLE) / (za.ns + zb.ns - ni))
      |    * 10000 + 0.5) / 10000.0 >= 0.5),
      |edges AS (
      |  SELECT id_a AS src, id_b AS dst FROM near
      |  UNION SELECT id_b, id_a FROM near),
      |nodes AS (SELECT DISTINCT src AS node FROM edges),
      |cc AS (
      |  SELECT node, node AS label FROM nodes
      |  UNION
      |  SELECT e.dst AS node, c.label
      |  FROM cc c JOIN edges e ON e.src = c.node),
      |labeled AS (SELECT node, min(label) AS cluster_id FROM cc
      |  GROUP BY node)""".stripMargin

  /** The MinHash-LSH banding of q23 and q327 in SQL, from each doc's
    * 32-position `sig`: dual-base (1000003/1000033) 60-bit band keys
    * over 8 bands of 4 rows, buckets of size 2..64, and the distinct
    * candidate `pairs` (id_a < id_b). */
  private val lshBandPairsCtes: String =
    """bk AS (
      |  SELECT doc_id, bx.band,
      |    ((((sig[CAST(bx.band * 4 + 1 AS INT)] * 1000003
      |        + sig[CAST(bx.band * 4 + 2 AS INT)]) % 1000000007)
      |      * 1000003
      |        + sig[CAST(bx.band * 4 + 3 AS INT)]) % 1000000007
      |      * 1000003
      |        + sig[CAST(bx.band * 4 + 4 AS INT)]) % 1000000007
      |      * 1073741824 +
      |    ((((sig[CAST(bx.band * 4 + 1 AS INT)] * 1000033
      |        + sig[CAST(bx.band * 4 + 2 AS INT)]) % 1000000007)
      |      * 1000033
      |        + sig[CAST(bx.band * 4 + 3 AS INT)]) % 1000000007
      |      * 1000033
      |        + sig[CAST(bx.band * 4 + 4 AS INT)]) % 1000000007
      |      AS bkey
      |  FROM sg, unnest(range(0, 8)) bx(band)),
      |pr AS (
      |  SELECT doc_id, band, bkey FROM (
      |    SELECT doc_id, band, bkey,
      |      count(*) OVER (PARTITION BY band, bkey) AS bsz FROM bk) z
      |  WHERE bsz > 1 AND bsz <= 64),
      |pairs AS (
      |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM pr a JOIN pr b ON a.band = b.band AND a.bkey = b.bkey
      |    AND a.doc_id < b.doc_id)""".stripMargin
}
