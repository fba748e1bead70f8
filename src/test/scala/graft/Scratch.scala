package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

/** Throwaway profiling/debug harness (not part of the library surface;
  * lives in TEST scope so the production jar is exactly the library +
  * entry points — run with `sbt "Test/runMain graft.Scratch"`).
  * Scaling probes: the heavy query chains at 1× and 10× corpus size,
  * in-memory (no files written), growth factors printed for
  * ENGINE.md §measured-scaling.
  *
  * Replication model per chain:
  *  - text chains (q52 dedup, q74 leakage split, q75 span dedup):
  *    docs unioned with shifted ids — exact copies. Worst case on
  *    purpose: shingle df and span counts saturate, which must hit the
  *    designed guards (df cap, span-hash joins), not a blowup.
  *  - q71 semantic dedup: exact vector copies are DEGENERATE (every
  *    replica pairs with every other at sim 1.0 — a 100× pair blowup
  *    that measures data pathology, not the plan), so each replica k
  *    applies a deterministic per-k sign flip to the embedding dims.
  *    Sign flips are isometries: sims WITHIN a replica equal the
  *    originals (same duplicate rate per replica — the "10× corpus at
  *    the same dup rate" a real crawl produces), while cross-replica
  *    sims scramble to unrelated values.
  */
object Scratch {
  def main(args: Array[String]): Unit = {
    val d = GraftSession.sfDir
    val spark = GraftSession.local(GraftSession.cpus)
    GraftSession.warmUp(spark, d)
    // A/B knob for the traversal Bloom pushdown (probe-only): the
    // production default engages only in the sort-merge regime; set
    // GRAFT_BLOOM_FORCE=1 to force it on in the hash regime for a
    // controlled same-box comparison (the round-11 A/B that scoped it:
    // SSSP 10× probe 16.8 s without vs 20.7 s with)
    if (sys.env.get("GRAFT_BLOOM_FORCE").contains("1")) {
      spark.conf.set(operators.Graph.BloomForceKey, "true")
      println("[scratch] bloomForce=true (session conf)")
    }

    def timed(body: => Unit): Double = {
      val t0 = System.nanoTime()
      body
      val dt = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache(); System.gc()
      dt
    }

    // the replica offset must exceed the id range or replicas collide
    // into spurious duplicate ids and corrupt the measured factor
    def replicate(base: DataFrame, idCol: String, mult: Int)
                 (project: (Int, DataFrame) => DataFrame): DataFrame = {
      val maxId = base.agg(max(col(idCol))).collect()(0).getLong(0)
      require(maxId < 1000000L, s"replica offset too small for maxId=$maxId")
      (0 until mult).map { k =>
        project(k, base)
          .withColumn(idCol, col(idCol) + lit(k * 1000000L))
      }.reduce(_.unionByName(_))
    }

    def replicateDocs(mult: Int): DataFrame =
      replicate(Tables.documents(spark, d), "doc_id", mult)(
        (_, df) => df.select(col("doc_id"), col("text")))

    def replicateEmb(mult: Int): DataFrame =
      replicate(Tables.embeddings(spark, d), "vec_id", mult) { (k, df) =>
        val emb =
          if (k == 0) col("embedding")
          else transform(col("embedding"), (x, i) =>
            (x * when(pmod(xxhash64(i, lit(k)), lit(2)) === 0, 1.0f)
              .otherwise(-1.0f)).cast("float"))
        df.select(col("vec_id"), emb.as("embedding"))
      }

    /** q52-shape dedup chain (shingle → rare-pair → verify → cluster). */
    def dedupChain(mult: Int): Double = {
      val docs = replicateDocs(mult)
      timed {
        val sets = operators.Dedup.hashedShingleSets(docs, "text",
          "doc_id", shingleWords = 3).persist(MEMORY_AND_DISK)
        val cands = operators.Dedup.rareShinglePairsFromSets(sets, maxDf = 10)
        val near = operators.Dedup.jaccardFromSets(sets, cands)
          .filter(col("jaccard") >= 0.5)
          .select(col("id_a"), col("id_b"))
        val n = operators.Dedup.dupClusters(near, "id_a", "id_b")
          .groupBy(col("cluster_id"))
          .agg(count(lit(1)).as("n_docs")).count()
        println(s"[scratch]   dedup mult=$mult clusters=$n")
      }
    }

    /** q74 leakage-safe split: the q52 head plus cluster-keyed
      * stratified split and the leak audit. */
    def leakageChain(mult: Int): Double = {
      val docs = replicateDocs(mult).withColumn("n_tok",
        operators.TextAnalysis.tokenCountWs(col("text")).cast("long"))
      timed {
        val sets = operators.Dedup.hashedShingleSets(docs, "text",
            "doc_id", shingleWords = 3, carryCols = Seq("n_tok"))
          .persist(MEMORY_AND_DISK)
        val pairSets = sets.select(col("id"), col("sh"))
        val near = operators.Dedup
          .jaccardFromSets(pairSets,
            operators.Dedup.rareShinglePairsFromSets(pairSets, 10))
          .filter(col("jaccard") >= 0.5)
          .select(col("id_a"), col("id_b"))
        val clusters = operators.Dedup.dupClusters(near, "id_a", "id_b")
        val withCluster = sets.select(col("id"), col("n_tok"))
          .join(clusters.withColumnRenamed("node", "id"), Seq("id"),
            "left_outer")
          .withColumn("cluster_id", coalesce(col("cluster_id"), col("id")))
        val split = operators.Sampling.stratifiedSplit(withCluster,
          "cluster_id", Seq("train" -> 80, "val" -> 10, "test" -> 10))
        val rows = split.groupBy(col("split"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
            countDistinct(col("cluster_id")).as("n_clusters")).count()
        println(s"[scratch]   leakage mult=$mult splits=$rows")
      }
    }

    /** q75 span-coverage chain (span hashes → global counts → per-doc
      * coverage). */
    def spanChain(mult: Int): Double = {
      val docs = replicateDocs(mult)
      timed {
        val n = operators.TextAnalysis.spanDupStats(docs, "text",
            "doc_id", spanTok = 8)
          .filter(col("n_cov") > 0).count()
        println(s"[scratch]   span mult=$mult covered_docs=$n")
      }
    }

    /** q71 semantic dedup (multi-probe IVF blocking → pair verify →
      * clusters); centroid count scales with the corpus like the query
      * itself (vec_id % 50), keeping per-cell density constant — the
      * standard IVF sizing. */
    def semanticChain(mult: Int): Double = semanticChainImpl(mult, twoLevel = false)
    def semanticChain2(mult: Int): Double = semanticChainImpl(mult, twoLevel = true)

    def semanticChainImpl(mult: Int, twoLevel: Boolean): Double = {
      val emb = replicateEmb(mult)
      timed {
        val cents = emb.filter(col("vec_id") % 50 === 0)
          .select(col("vec_id").as("cell_id"), col("embedding").as("cvec"))
        val probed = (if (twoLevel) {
          // coarse quantizer = every 10th cell; assignment work drops
          // from points × ncells to points × (ncoarse + routed cells)
          val coarse = emb.filter(col("vec_id") % 500 === 0)
            .select(col("vec_id").as("gid"), col("embedding").as("gvec"))
          operators.Similarity.assignCellsTwoLevel(emb, "vec_id",
            "embedding", cents, "cell_id", "cvec", coarse, "gid", "gvec",
            wCoarse = 2, nprobeCoarse = 2, nprobe = 3)
        } else operators.Similarity.assignCellsMulti(emb, "vec_id",
            "embedding", cents, "cell_id", "cvec", nprobe = 3))
          .persist(MEMORY_AND_DISK)
        val pairs = operators.Similarity.blockedSelfJoin(
            probed.select(col("cell_id"), col("vec_id"), col("embedding")),
            "cell_id", "vec_id", "embedding", chunks = 4)
          .withColumn("sim", operators.Similarity.cosine(col("va"), col("vb")))
          .filter(col("sim") >= 0.4)
          .select(col("id_a"), col("id_b"))
          .distinct()
        val n = operators.Dedup.dupClusters(pairs, "id_a", "id_b").count()
        println(s"[scratch]   semantic(two=$twoLevel) mult=$mult cluster_rows=$n")
      }
    }

    /** q97 span-removal transform: the q75 head plus per-doc
      * interval-complement reconstruction. */
    def spanRemovalChain(mult: Int): Double = {
      val docs = replicateDocs(mult)
      timed {
        val r = operators.TextAnalysis.removeDupSpans(docs, "text",
            "doc_id", spanTok = 8)
          .agg(sum(col("n_removed")).as("nr"), count(lit(1)).as("n"))
          .collect()(0)
        println(s"[scratch]   spanRemoval mult=$mult docs=${r.getLong(1)} " +
          s"removed=${r.getLong(0)}")
      }
    }

    /** q99 per-source quality gate: exact histogram quantiles →
      * broadcast threshold → keep report. Source cardinality stays
      * fixed as the corpus grows (real pipelines add docs, not
      * sources), so the quantile state must stay bounded. */
    def qualityGateChain(mult: Int): Double = {
      // replicas keep their base doc's source: the source set stays
      // fixed while the corpus grows, exactly a crawl's shape
      val docs = replicate(Tables.documents(spark, d), "doc_id", mult)(
        (_, df) => df.select(col("doc_id"), col("text"), col("source")))
      timed {
        val scored = docs.select(col("doc_id"), col("source"),
          operators.TextAnalysis.qualityScore(col("text")).as("quality"))
        val thr = operators.Percentiles.exactQuantiles(scored, "source",
            "quality", Seq(0.25))
          .select(col("source"), col("value").as("q25"))
        val n = scored.join(broadcast(thr), Seq("source"))
          .groupBy(col("source"))
          .agg(sum(when(col("quality") >= col("q25"), 1L).otherwise(0L))
            .as("n_kept")).count()
        println(s"[scratch]   qualityGate mult=$mult sources=$n")
      }
    }

    /** q105 BPE apply: corpus-derived merge table (one aggregation) +
      * broadcast tokenize pass. Pure map-side compute after the small
      * derive agg — the probe checks the tokenize pass scales linearly
      * and the derive agg's pair domain stays bounded. */
    def bpeChain(mult: Int): Double = {
      val docs = replicateDocs(mult)
      timed {
        val merges = operators.Tokenize.deriveCharMerges(docs, "text", 20)
        val r = operators.Tokenize.bpeStats(docs, "doc_id", "text",
            merges, "a", "b", "rank")
          .agg(sum(col("n_tokens")).as("nt"), count(lit(1)).as("n"))
          .collect()(0)
        println(s"[scratch]   bpe mult=$mult docs=${r.getLong(1)} " +
          s"tokens=${r.getLong(0)}")
      }
    }

    /** q114 PMI: tokenize → distinct → vocab cap → per-doc pair
      * projection. The probe checks the vocab cap does its job: pair
      * volume is bounded by docs × V², so 10× docs must be ~linear. */
    def pmiChain(mult: Int): Double = {
      val docs = replicateDocs(mult)
      timed {
        val tok = docs.filter(length(trim(col("text"))) > 0)
          .select(col("doc_id"),
            explode(split(trim(col("text")), "\\s+")).as("term"))
          .distinct()
        val vocab = tok.groupBy(col("term")).agg(count(lit(1)).as("df"))
          .orderBy(col("df").desc, col("term")).limit(100)
        val arrs = tok.join(broadcast(vocab.select(col("term"))), "term")
          .groupBy(col("doc_id"))
          .agg(sort_array(collect_set(col("term"))).as("t"))
        val n = arrs.select(explode(flatten(transform(col("t"),
            (x, i) => transform(slice(col("t"), i + 2, size(col("t"))),
              y => struct(x.as("a"), y.as("b")))))).as("p"))
          .groupBy(col("p.a"), col("p.b"))
          .agg(count(lit(1)).as("n_ab"))
          .filter(col("n_ab") >= 5).count()
        println(s"[scratch]   pmi mult=$mult pairs=$n")
      }
    }

    /** q121 PageRank: replicas are DISCONNECTED graph copies (node ids
      * suffixed per replica) — rank mass stays within each copy, so
      * 10× edges is 10× join/agg volume through the same 3 iterations,
      * the pure edge-scaling measurement. */
    def pagerankChain(mult: Int): Double = {
      val eDir = Tables.lineitem(spark, d)
        .join(Tables.orders(spark, d),
          col("l_orderkey") === col("o_orderkey"))
        .select(concat(lit("c"), col("o_custkey")).as("cust"),
          concat(lit("s"), col("l_suppkey")).as("supp"))
        .distinct()
      val rep = (0 until mult).map { k =>
        eDir.select(concat(col("cust"), lit(s"_$k")).as("cust"),
          concat(col("supp"), lit(s"_$k")).as("supp"))
      }.reduce(_.unionByName(_))
      timed {
        val edges = rep.select(col("cust").as("src"), col("supp").as("dst"))
          .union(rep.select(col("supp").as("src"), col("cust").as("dst")))
        val n = operators.Graph.pageRank(edges, "src", "dst",
          damping = 0.85, iters = 3).count()
        println(s"[scratch]   pagerank mult=$mult nodes=$n")
      }
    }

    /** Round-14 A/B (r13 verdict item #2): [[pagerankChain]] with the
      * disk-bucketed adjacency forced — pageRank now plans its edge
      * list through the same planAdjacency as the traversals. Unlike
      * BFS/SSSP there is NO bucket pruning to win (every iteration
      * touches every node), so this measures pure storage-regime
      * substitution: columnar parquet re-scan + per-round shuffle vs
      * the pre-partitioned in-memory checkpoint. */
    def pagerankBucketChain(mult: Int): Double = {
      val dir = java.nio.file.Files
        .createTempDirectory("graft-adjpr").toString
      spark.conf.set(operators.Graph.AdjScratchKey, dir)
      spark.conf.set(operators.Graph.AdjDiskForceKey, "true")
      try pagerankChain(mult)
      finally {
        spark.conf.unset(operators.Graph.AdjScratchKey)
        spark.conf.unset(operators.Graph.AdjDiskForceKey)
        org.apache.commons.io.FileUtils.deleteDirectory(
          new java.io.File(dir))
      }
    }

    /** q281 label propagation: the q121 disconnected-copies model —
      * node/edge volume scales 10× at fixed per-node degree and fixed
      * round count (3), so the per-round join + min-aggregate must
      * grow linearly; distinct final labels scale exactly 10× (each
      * replica floods independently). */
    def lpaChain(mult: Int): Double = {
      val eDir = Tables.lineitem(spark, d)
        .join(Tables.orders(spark, d),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(concat(lit("c"), col("o_custkey")).as("cust"),
          concat(lit("s"), col("l_suppkey")).as("supp"))
        .agg(countDistinct(col("o_orderkey")).as("no"))
        .filter(col("no") >= 2).select(col("cust"), col("supp"))
        .persist(MEMORY_AND_DISK)
      eDir.count()
      val rep = (0 until mult).map { k =>
        eDir.select(concat(col("cust"), lit(s"_$k")).as("cust"),
          concat(col("supp"), lit(s"_$k")).as("supp"))
      }.reduce(_.unionByName(_))
      val r = timed {
        val edges = rep.select(col("cust").as("src"),
            col("supp").as("dst"))
          .union(rep.select(col("supp").as("src"),
            col("cust").as("dst")))
        val n = operators.Graph.labelPropagate(edges, "src", "dst",
            iters = 3)
          .select(col("label")).distinct().count()
        println(s"[scratch]   lpa mult=$mult communities=$n")
      }
      eDir.unpersist()
      r
    }

    /** q290 Apriori triples: exact doc copies (doc_id offset per
      * replica) — N and every support scale 10× together, so the
      * relative 5 % threshold admits the IDENTICAL itemsets with 10×
      * supports; time must grow linearly in basket volume (the pair
      * broadcast and candidate semi-joins are support-bounded and
      * size-invariant). */
    def aprioriChain(mult: Int): Double = {
      val base = Tables.documents(spark, d)
        .select(col("doc_id"),
          explode(org.apache.spark.sql.functions.split(
            trim(col("text")), "\\s+")).as("tok"))
        .filter(length(col("tok")) > 0)
        .groupBy(col("doc_id"))
        .agg(slice(sort_array(collect_set(col("tok"))), 1, 8)
          .as("items"))
        .persist(MEMORY_AND_DISK)
      base.count()
      val rep = (0 until mult).map { k =>
        base.select((col("doc_id") + lit(k * 1000000L)).as("doc_id"),
          col("items"))
      }.reduce(_.unionByName(_))
      val r = timed {
        // r8 (second cut): q290's bounded-collect shape — the frequent
        // pair set (≤560 rows by the support bound) re-enters the plan
        // as a LocalRelation, and the frequent-item alphabet prunes
        // baskets MAP-SIDE via a literal array_intersect before the
        // C(k,3) expansion. The first r8 cut (explode→semi-join→
        // regroup) measured WORSE at 100x: 93.5% of capped-basket
        // items are pair-frequent, so the regroup shuffle cost more
        // than the prune saved.
        val nBv = rep.count()
        val fpArr = rep.select(explode(flatten(transform(col("items"),
            (x, i) => transform(
              slice(col("items"), i + 2, size(col("items"))),
              y => struct(x.as("a"), y.as("b")))))).as("p"))
          .select(col("p.a").as("a"), col("p.b").as("b"))
          .groupBy(col("a"), col("b")).agg(count(lit(1)).as("s"))
          .filter(col("s") * 20 >= nBv)
          .select(col("a"), col("b"))
          .as[(String, String)](org.apache.spark.sql.Encoders
            .tuple(org.apache.spark.sql.Encoders.STRING,
              org.apache.spark.sql.Encoders.STRING))
          .collect().sortBy(identity)
        val freq = spark.createDataFrame(fpArr.toSeq).toDF("a", "b")
        val fiArr = fpArr.flatMap(p => Seq(p._1, p._2)).distinct.sorted
        val prunedB = rep.select(col("doc_id"),
            array_intersect(col("items"), typedLit(fiArr)).as("items"))
          .filter(size(col("items")) >= 3)
        val triples = prunedB.select(explode(flatten(flatten(
            transform(col("items"), (x, i) =>
              transform(slice(col("items"), i + 2, size(col("items"))),
                (y, j) => transform(
                  slice(col("items"), i + j + 3, size(col("items"))),
                  z => struct(x.as("a"), y.as("b"), z.as("c"))))))))
            .as("t"))
          .select(col("t.a").as("a"), col("t.b").as("b"),
            col("t.c").as("c"))
        val pruned = triples
          .join(broadcast(freq), Seq("a", "b"), "left_semi")
          .join(broadcast(freq.select(col("a"), col("b").as("c"))),
            Seq("a", "c"), "left_semi")
          .join(broadcast(freq.select(col("a").as("b"),
            col("b").as("c"))), Seq("b", "c"), "left_semi")
        val n = pruned.groupBy(col("a"), col("b"), col("c"))
          .agg(count(lit(1)).as("s"))
          .filter(col("s") * 20 >= nBv).count()
        println(s"[scratch]   apriori mult=$mult frequent_triples=$n")
      }
      base.unpersist()
      r
    }

    /** q294 interval merge: suppliers replicated under offset keys
      * with identical interval sets — 10× keys at constant per-key
      * history; the partitioned window + two hash aggregates must be
      * linear, and merged-island counts scale exactly 10×. */
    def intervalMergeChain(mult: Int): Double = {
      val base = Tables.lineitem(spark, d)
        .join(Tables.orders(spark, d),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_suppkey"),
          datediff(col("o_orderdate"),
            lit("1992-01-01").cast("date")).cast("long").as("d1"),
          datediff(col("l_shipdate"),
            lit("1992-01-01").cast("date")).cast("long").as("d2"))
        .filter(col("d2") >= col("d1"))
        .persist(MEMORY_AND_DISK)
      base.count()
      val rep = (0 until mult).map { k =>
        base.select((col("l_suppkey") + lit(k * 1000000L))
          .as("l_suppkey"), col("d1"), col("d2"))
      }.reduce(_.unionByName(_))
      val r = timed {
        val ord = org.apache.spark.sql.expressions.Window
          .partitionBy(col("l_suppkey"))
          .orderBy(col("d1"), col("d2").desc)
        val flagged = rep
          .withColumn("pm", max(col("d2")).over(ord.rowsBetween(
            org.apache.spark.sql.expressions.Window.unboundedPreceding,
            -1)))
          .withColumn("st", when(col("pm").isNull ||
            col("d1") > col("pm"), 1L).otherwise(0L))
        val n = flagged.groupBy(col("l_suppkey"))
          .agg(sum(col("st")).as("ni")).agg(sum(col("ni"))).collect()(0)
          .getLong(0)
        println(s"[scratch]   intervalmerge mult=$mult islands=$n")
      }
      base.unpersist()
      r
    }

    /** q131 triangles: disconnected graph copies (node ids suffixed
      * per replica, the q121 model) — triangle/wedge counts scale
      * exactly 10×, so the probe isolates how the oriented wedge join
      * grows with edge volume at FIXED per-node degree. */
    def triangleChain(mult: Int): Double = {
      val base = Tables.lineitem(spark, d)
        .select(col("l_orderkey"), col("l_partkey")).distinct()
        .groupBy(col("l_orderkey"))
        .agg(slice(sort_array(collect_set(col("l_partkey"))), 1, 5)
          .as("items"))
        .select(explode(flatten(transform(col("items"), (x, i) =>
          transform(slice(col("items"), i + 2, size(col("items"))),
            y => struct(x.as("a"), y.as("b")))))).as("p"))
        .select(col("p.a").as("a"), col("p.b").as("b")).distinct()
        .persist(MEMORY_AND_DISK)
      base.count()
      val rep = (0 until mult).map { k =>
        base.select(concat(col("a"), lit(s"_$k")).as("a"),
          concat(col("b"), lit(s"_$k")).as("b"))
      }.reduce(_.unionByName(_))
      val r = timed {
        // the production plan: Graph.triangles' adaptive enumeration
        // (value-order adjacency intersect on this low-skew graph)
        val edges = rep.persist(MEMORY_AND_DISK)
        edges.count()
        val n = operators.Graph.triangles(edges).count()
        println(s"[scratch]   triangles mult=$mult n=$n")
        edges.unpersist()
      }
      base.unpersist()
      r
    }

    /** q128 sweep: replicas shift user ids AND time (each replica its
      * own day offset) — 10× sessions over a 10×-longer timeline, the
      * shape a longer retention window produces; prefix-scan stages
      * must grow linearly. */
    def sweepChain(mult: Int): Double = {
      val ev = Tables.events(spark, d)
        .select(col("user_id"), col("ts")).persist(MEMORY_AND_DISK)
      ev.count()
      val rep = (0 until mult).map { k =>
        ev.select((col("user_id") + lit(k * 1000000L)).as("user_id"),
          (col("ts") + expr(s"INTERVAL ${k * 400} DAYS")).as("ts"))
      }.reduce(_.unionByName(_))
      val r = timed {
        val sess = rep
          .groupBy(col("user_id"),
            session_window(col("ts"), "30 minutes").as("w"))
          .agg(count(lit(1)).as("n"))
          .select(col("w.start").as("st"), col("w.end").as("en"))
        val net = sess.select(col("st").as("ts"), lit(1L).as("dl"))
          .unionAll(sess.select(col("en").as("ts"), lit(-1L).as("dl")))
          .groupBy(col("ts")).agg(sum(col("dl")).as("net"))
          .withColumn("g", lit(1)).withColumn("one", lit(1L))
        val run = operators.Packing.prefixSum(net, Seq("g"), Seq("ts"),
          "net", "conc")
        val rk = operators.Packing.prefixSum(run, Seq("g"), Seq("ts"),
          "one", "rk")
        val nxt = rk.select((col("rk") - 1).as("rk2"), col("ts").as("nxt"))
        val n = rk.join(nxt, col("rk") === col("rk2"))
          .filter(col("conc") >= 1)
          .groupBy(col("conc")).agg(count(lit(1)).as("n")).count()
        println(s"[scratch]   sweep mult=$mult levels=$n")
      }
      ev.unpersist()
      r
    }

    /** q149 BFS: disconnected graph copies with the SAME 10 seeds in
      * every replica — the reachable set, the frontier, and the edges
      * touched per round all scale 10×, so linear growth is the pass
      * criterion for the "per-round cost ∝ touched edges" claim. */
    /** Shared traversal-probe model (q149 BFS / q166 SSSP): the
      * product basket-pair graph (mirrors SparkEntry.cappedBaskets —
      * no pre-distinct, collect_set dedups), disconnected replica
      * copies with the SAME 10 seeds suffixed into every replica, so
      * reachable set / frontier / touched edges all scale exactly
      * `mult`×. Runs `body(repEdges, repSeeds)` timed. */
    def traversalProbe(name: String, mult: Int, withWeight: Boolean)
                      (body: (DataFrame, DataFrame) => Long): Double = {
      val pairs = Tables.lineitem(spark, d)
        .select(col("l_orderkey"), col("l_partkey"))
        .groupBy(col("l_orderkey"))
        .agg(slice(sort_array(collect_set(col("l_partkey"))), 1, 5)
          .as("items"))
        .select(explode(flatten(transform(col("items"), (x, i) =>
          transform(slice(col("items"), i + 2, size(col("items"))),
            y => struct(x.as("a"), y.as("b")))))).as("p"))
        .select(col("p.a").as("a"), col("p.b").as("b")).distinct()
      // weights derive from the ORIGINAL long ids, before the replica
      // suffix turns ids into strings
      val base = (if (withWeight)
          pairs.withColumn("w", lit(1L) + (col("a") + col("b")) % 5)
        else pairs).persist(MEMORY_AND_DISK)
      base.count()
      val seeds0 = base.select(col("a").as("node"))
        .unionAll(base.select(col("b").as("node")))
        .distinct().orderBy(col("node")).limit(10)
        .persist(MEMORY_AND_DISK)
      seeds0.count()
      val wCols = if (withWeight) Seq(col("w")) else Nil
      val rep = (0 until mult).map { k =>
        base.select(Seq(concat(col("a"), lit(s"_$k")).as("a"),
          concat(col("b"), lit(s"_$k")).as("b")) ++ wCols: _*)
      }.reduce(_.unionByName(_))
      val repSeeds = (0 until mult).map { k =>
        seeds0.select(concat(col("node"), lit(s"_$k")).as("node"))
      }.reduce(_.unionByName(_))
      val r = timed {
        val n = body(rep, repSeeds)
        println(s"[scratch]   $name mult=$mult reached=$n")
      }
      seeds0.unpersist(); base.unpersist()
      r
    }

    def bfsChain(mult: Int): Double =
      traversalProbe("bfs", mult, withWeight = false) { (rep, seeds) =>
        operators.Graph.bfsHops(rep, "a", "b", seeds, "node", 4).count()
      }

    /** Round-12 probe (verdict item #4), now driving the PRODUCTION
      * disk-bucketed path in [[operators.Graph.bfsHops]] (scratch-dir
      * conf + force knob): adjacency written once as parquet
      * partitioned by pmod(xxhash64(key), 64), per-round (__bk, key)
      * joins with DPP on a broadcastable frontier. Measured same-box
      * vs the in-memory form: 18.2/30.2/159.0 s over 1×/10×/100×
      * against 2.95/15.9/191.9 s — loses 6× small, wins the second
      * decade (0.83×) with per-decade growth 5.3× vs 12.0×; hence
      * the production row-count gate. */
    def bfsBucketChain(mult: Int): Double =
      traversalProbe("bfsBucket", mult, withWeight = false) {
        (rep, seeds) =>
        val dir = java.nio.file.Files
          .createTempDirectory("graft-adjbk").toString
        spark.conf.set(operators.Graph.AdjScratchKey, dir)
        spark.conf.set(operators.Graph.AdjDiskForceKey, "true")
        try operators.Graph.bfsHops(rep, "a", "b", seeds, "node", 4)
          .count()
        finally {
          spark.conf.unset(operators.Graph.AdjScratchKey)
          spark.conf.unset(operators.Graph.AdjDiskForceKey)
          org.apache.commons.io.FileUtils.deleteDirectory(
            new java.io.File(dir))
        }
      }

    /** q166 SSSP: the bfs probe's model with integer weights —
      * sublinear time is the frontier-only-proposals claim holding. */
    def ssspChain(mult: Int): Double =
      traversalProbe("sssp", mult, withWeight = true) { (rep, seeds) =>
        operators.Graph.ssspHops(rep, "a", "b", "w", seeds, "node", 4)
          .count()
      }

    /** q178 local clustering: triangleChain's graph and orientation,
      * but the per-node tail (inner closing join + corner explode +
      * count) instead of the semi-join count — the probe separates
      * the shared core from the per-node tail so a regression in
      * either is attributable. */
    def lccChain(mult: Int): Double = {
      val base = Tables.lineitem(spark, d)
        .select(col("l_orderkey"), col("l_partkey")).distinct()
        .groupBy(col("l_orderkey"))
        .agg(slice(sort_array(collect_set(col("l_partkey"))), 1, 5)
          .as("items"))
        .select(explode(flatten(transform(col("items"), (x, i) =>
          transform(slice(col("items"), i + 2, size(col("items"))),
            y => struct(x.as("a"), y.as("b")))))).as("p"))
        .select(col("p.a").as("a"), col("p.b").as("b")).distinct()
        .persist(MEMORY_AND_DISK)
      base.count()
      val rep = (0 until mult).map { k =>
        base.select(concat(col("a"), lit(s"_$k")).as("a"),
          concat(col("b"), lit(s"_$k")).as("b"))
      }.reduce(_.unionByName(_))
      val r = timed {
        // the production q178 plan: Graph.triangles → explode →
        // per-node counts
        val edges = rep.persist(MEMORY_AND_DISK)
        edges.count()
        val nNodes = operators.Graph.triangles(edges)
          .select(explode(array(col("a"), col("b"), col("c"))).as("n"))
          .groupBy(col("n")).agg(count(lit(1)).as("t")).count()
        println(f"[scratch]   lcc mult=$mult nodesWithTri=$nNodes")
        edges.unpersist()
      }
      base.unpersist()
      r
    }

    /** q176 item-CF: capped baskets replicated with disjoint item
      * spaces — co-occurrence pairs, item counts, the two count
      * joins and the bounded top-k must all grow linearly in
      * baskets. */
    def itemcfChain(mult: Int): Double = {
      val base = Tables.lineitem(spark, d)
        .select(col("l_orderkey"), col("l_partkey")).distinct()
        .groupBy(col("l_orderkey"))
        .agg(slice(sort_array(collect_set(col("l_partkey"))), 1, 8)
          .as("items"))
        .persist(MEMORY_AND_DISK)
      base.count()
      val rep = (0 until mult).map { k =>
        base.select((col("l_orderkey") + lit(k * 10000000L))
            .as("l_orderkey"),
          transform(col("items"), x => concat(x, lit(s"_$k")))
            .as("items"))
      }.reduce(_.unionByName(_))
      val r = timed {
        val capped = rep.persist(MEMORY_AND_DISK)
        val cnt = capped.select(explode(col("items")).as("n"))
          .groupBy(col("n")).agg(count(lit(1)).as("cn"))
        val cooc = capped
          .select(explode(flatten(transform(col("items"), (x, i) =>
            transform(slice(col("items"), i + 2, size(col("items"))),
              y => struct(x.as("a"), y.as("b")))))).as("p"))
          .select(col("p.a").as("a"), col("p.b").as("b"))
          .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_both"))
          .filter(col("n_both") >= 2)
        val scored = cooc
          .join(cnt.withColumnsRenamed(Map("n" -> "a", "cn" -> "ca")),
            "a")
          .join(cnt.withColumnsRenamed(Map("n" -> "b", "cn" -> "cb")),
            "b")
          .select(col("a"), col("b"), col("n_both"),
            (col("n_both") / sqrt(col("ca") * col("cb"))).as("cos"))
        val n = graft.plans.TopKPerKey(
            scored.withColumn("g", lit(1)), Seq("g"),
            Seq(col("cos").desc, col("a").asc, col("b").asc), 20)
          .count()
        println(s"[scratch]   itemcf mult=$mult topk=$n")
        capped.unpersist()
      }
      base.unpersist()
      r
    }

    /** q185 growth accounting: orders replicated with disjoint
      * customer spaces over the SAME timeline (a bigger business,
      * not a longer one) — activity, first-quarter, shifted-join and
      * churn anti-join all must grow linearly in customers. */
    def growthChain(mult: Int): Double = {
      val base = Tables.orders(spark, d)
        .select(col("o_custkey").as("c"),
          (year(col("o_orderdate")) * 4 + quarter(col("o_orderdate"))
            - 1).as("qi"))
        .distinct().persist(MEMORY_AND_DISK)
      base.count()
      val rep = (0 until mult).map { k =>
        base.select((col("c") + lit(k * 10000000L)).as("c"), col("qi"))
      }.reduce(_.unionByName(_))
      val r = timed {
        val act = rep.persist(MEMORY_AND_DISK)
        val firstq = act.groupBy(col("c")).agg(min(col("qi")).as("fq"))
        val shifted = act.select(col("c"), (col("qi") + 1).as("qi"))
        val statused = act.join(firstq, Seq("c"))
          .join(shifted.withColumn("p", lit(1)), Seq("c", "qi"), "left")
          .groupBy(col("qi"))
          .agg(count(lit(1)).as("n_active"),
            sum(when(col("qi") === col("fq"), 1).otherwise(0))
              .as("n_new"))
        val t0 = System.nanoTime()
        statused.count()
        val tS = (System.nanoTime() - t0) / 1e9
        val churn = shifted.join(act, Seq("c", "qi"), "left_anti")
          .groupBy(col("qi")).agg(count(lit(1)).as("n_churned"))
        val t1 = System.nanoTime()
        churn.count()
        val tC = (System.nanoTime() - t1) / 1e9
        val n = statused.join(churn, Seq("qi"), "left").count()
        println(f"[scratch]   growth mult=$mult quarters=$n " +
          f"statused=$tS%.2f s churn=$tC%.2f s")
        act.unpersist()
      }
      base.unpersist()
      r
    }

    /** q196 clamped-balance ledger: lineitem replicated with disjoint
      * part spaces (more entities, same per-entity history) — the
      * windowed prefix-sum + running-min + order-free aggregate must
      * grow linearly: one hash partition by partkey, per-key sort of
      * constant-size histories. */
    def ledgerChain(mult: Int): Double = {
      val base = Tables.lineitem(spark, d)
        .select(col("l_partkey"), col("l_shipdate"), col("l_orderkey"),
          col("l_linenumber"),
          when(col("l_returnflag") === "R",
            col("l_quantity").cast("long"))
            .otherwise(-col("l_quantity").cast("long")).as("dlt"))
        .persist(MEMORY_AND_DISK)
      base.count()
      val rep = (0 until mult).map { k =>
        base.select((col("l_partkey") + lit(k * 10000000L))
          .as("l_partkey"), col("l_shipdate"), col("l_orderkey"),
          col("l_linenumber"), col("dlt"))
      }.reduce(_.unionByName(_))
      val r = timed {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("l_partkey"))
          .orderBy(col("l_shipdate"), col("l_orderkey"),
            col("l_linenumber"))
        val n = rep
          .withColumn("s", sum(col("dlt")).over(w))
          .withColumn("m", min(col("s")).over(w))
          .withColumn("bal", col("s") - least(col("m"), lit(0L)))
          .groupBy(col("l_partkey"))
          .agg(count(lit(1)).as("n_events"),
            (sum(col("dlt")) - least(min(col("s")), lit(0L)))
              .as("end_balance"),
            max(col("bal")).as("max_balance"))
          .count()
        println(s"[scratch]   ledger mult=$mult parts=$n")
      }
      base.unpersist()
      r
    }

    /** q199 BOM explosion: the div3/div5 DAG extended to mult× the
      * node count with the SAME fixed root set — every node is
      * reachable (parent chains terminate below 10), so the result
      * grows linearly in nodes while depth grows only as log₃(N);
      * the per-level semiring aggregation must keep the whole run
      * near-linear (a path-enumerating plan would grow with the 2^d
      * path count instead). */
    def bomChain(mult: Int): Double = {
      val n = 20000L * mult
      val part = spark.range(0, n).select(col("id").as("p"))
      val kids = part.filter(col("p") >= 10)
      val edges = kids.select(expr("p div 3").as("parent"),
          col("p").as("child"), (lit(1) + col("p") % 4).as("qty"))
        .unionAll(kids.select(expr("p div 5").as("parent"),
          col("p").as("child"), (lit(1) + col("p") % 3).as("qty")))
      val roots = part.filter(col("p") < 30)
      timed {
        val out = operators.Graph.bomExplode(edges, "parent", "child",
          "qty", roots, "p").count()
        println(s"[scratch]   bom mult=$mult pairs=$out")
      }
    }

    /** q255 critical path: the div3/div5 DAG at mult× nodes, the same
      * growth model as [[bomChain]] — node count scales, DEPTH grows
      * only logarithmically (one level per 3×), so the expected curve
      * is linear-in-nodes with the per-round fixed overhead amortizing
      * — the honest test that the (max,+) closure never enumerates
      * paths (2^depth of them at any scale). */
    def cpmChain(mult: Int): Double = {
      val n = 20000L * mult
      val part = spark.range(0, n).select(col("id").as("p"))
      val nodes = part.select(col("p").as("node"),
        (lit(1L) + col("p") % 7).as("dur"))
      val kids = part.filter(col("p") >= 10)
      val edges = kids.select(expr("p div 3").as("pred"),
          col("p").as("succ"))
        .unionAll(kids.select(expr("p div 5").as("pred"),
          col("p").as("succ")))
      timed {
        val crit = operators.Graph.criticalPath(nodes, "node", "dur",
            edges, "pred", "succ")
          .filter(col("is_critical")).count()
        println(s"[scratch]   cpm mult=$mult critical=$crit")
      }
    }

    /** q211 fuzzy linkage: each replica applies a DISTINCT affine
      * cipher to the letter alphabet (j → a·j + b mod 26, a coprime
      * to 26 — 312 distinct bijections, enough for a 100× probe; a
      * plain rotation repeats at k=26 and same-rotation replicas
      * cross-match, which the first 100× run of this probe measured
      * as 56× pair growth — a replication-model artifact, not an
      * operator leak). A bijective character map preserves every
      * replica's block-size distribution while making blocks disjoint
      * across replicas — mult× entities at constant per-block
      * density, the shape a bigger crawl produces. Pairs and time
      * must grow ~mult×; superlinear growth would mean the blocked
      * join is leaking cross-block comparisons. */
    def linkageChain(mult: Int): Double = {
      require(mult <= 312, "affine maps exhausted")
      val alpha = "abcdefghijklmnopqrstuvwxyz"
      val coprime = Seq(1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25)
      val base = Tables.documents(spark, d)
        .select(col("doc_id"), col("lang"), col("text"))
        .persist(MEMORY_AND_DISK)
      base.count()
      val rep = (0 until mult).map { k =>
        val a = coprime(k / 26); val b = k % 26
        val mapped = (0 until 26).map(j => alpha((a * j + b) % 26))
          .mkString
        base.select((col("doc_id") + lit(k * 1000000L)).as("doc_id"),
          col("lang"),
          translate(col("text"), alpha, mapped).as("text"))
      }.reduce(_.unionByName(_))
      val r = timed {
        val kd = rep.select(col("doc_id"), col("lang"),
            trim(col("text")).as("t"))
          .filter(length(col("t")) >= 32)
          .select(col("doc_id"), col("lang"),
            substring(col("t"), 1, 32).as("k"),
            substring(col("t"), 1, 4).as("blk"),
            floor(length(col("t")) / 64).cast("long").as("lb"))
        val a = kd.toDF("a_id", "lang", "ka", "blk", "lb")
        val b = kd.toDF("b_id", "lang2", "kb", "blk2", "lb2")
        val n = a.join(b, col("lang") === col("lang2") &&
            col("blk") === col("blk2") && col("lb") === col("lb2") &&
            col("a_id") < col("b_id"))
          .filter(expr("jaro_winkler_sim(ka, kb)") >= 0.8)
          .count()
        println(s"[scratch]   linkage mult=$mult pairs=$n")
      }
      base.unpersist()
      r
    }

    /** q227 bucketed interval join: orders replicated over disjoint
      * day ranges (each replica shifts by the full domain), promos
      * replicated to cover each replica's range — entities and
      * intervals both grow mult×, per-bucket density constant. Time
      * and matched pairs must grow ~linearly; superlinear growth
      * would mean interval replication or bucket skew is leaking. */
    def intervalChain(mult: Int): Double = {
      val span = 4000L
      val base = Tables.orders(spark, d)
        .select(datediff(col("o_orderdate"), to_date(lit("1992-01-01")))
          .cast("long").as("day"),
          floor(col("o_totalprice") * 100 + 0.5).cast("long")
            .as("cents"))
        .persist(MEMORY_AND_DISK)
      base.count()
      val ord = (0 until mult).map { k =>
        base.select((col("day") + lit(k * span)).as("day"), col("cents"))
      }.reduce(_.unionByName(_))
      val promos = (0 until mult).map { k =>
        Tables.nation(spark, d)
          .select((col("n_nationkey").cast("long") + lit(k * 100L))
            .as("promo_id"))
          .select(col("promo_id"),
            ((col("promo_id") % 100) * 137 % 2400 + lit(k * span))
              .as("lo"))
          .select(col("promo_id"), col("lo"),
            (col("lo") + 10 + (col("promo_id") % 100) * 37 % 60)
              .as("hi"))
      }.reduce(_.unionByName(_))
      val r = timed {
        val n = operators.Joins.bucketedRangeJoin(ord, col("day"),
            promos, col("lo"), col("hi"), 32L)
          .groupBy(col("promo_id"))
          .agg(count(lit(1)).as("n"), sum(col("cents")).as("s"))
          .count()
        println(s"[scratch]   interval mult=$mult promos_hit=$n")
      }
      base.unpersist()
      r
    }

    /** q249 prefix-filter exact similarity join. Replication model:
      * per-replica TOKEN SUFFIX (every word gets "_k") — replicas are
      * vocabulary-disjoint, so per-replica pair structure and the df
      * distribution are preserved while no cross-replica candidate can
      * form (exact doc copies would be degenerate: every doc J=1 with
      * its 9 copies, a quadratic pair blowup that measures data
      * pathology, not the plan). Qualifying pairs must scale exactly
      * 10x; time should stay near-linear. */
    def prefixChain(mult: Int): Double = {
      val docs = replicate(Tables.documents(spark, d), "doc_id", mult) {
        (k, df) =>
          val text = if (k == 0) col("text")
            else array_join(transform(split(trim(col("text")), "\\s+"),
              t => concat(t, lit(s"_$k"))), " ")
          df.select(col("doc_id"), text.as("text"))
      }.persist(MEMORY_AND_DISK)
      docs.count()
      val r = timed {
        val n = operators.Dedup.prefixFilterJoin(docs, "text", "doc_id",
          tauNum = 1, tauDen = 2).count()
        println(s"[scratch]   prefix mult=$mult pairs=$n")
      }
      docs.unpersist()
      r
    }

    /** q309 winnowing fingerprints: exact doc copies under a FIXED
      * source set (the crawl shape — more documents, same provenance
      * buckets). Per-doc work (gram hash + 4-row window min) is
      * independent across docs, so time should stay near-linear;
      * fingerprint OCCURRENCES must scale exactly with the corpus
      * (the replica-validity check), while distinct fingerprints per
      * source stay constant (copies mint no new fingerprints). */
    def winnowChain(mult: Int): Double = {
      val docs = replicate(
        Tables.documents(spark, d)
          .filter(col("text").isNotNull && length(col("text")) >= 11)
          .select(col("doc_id"), col("source"), col("text")),
        "doc_id", mult)((_, df) => df)
        .persist(MEMORY_AND_DISK)
      docs.count()
      val r = timed {
        def gramHash(t: org.apache.spark.sql.Column,
                     i: org.apache.spark.sql.Column)
            : org.apache.spark.sql.Column =
          (0 until 8).foldLeft(lit(0L): org.apache.spark.sql.Column) {
            (h, o) => (h * 257 + ascii(t.substr(i + lit(o), lit(1)))
              .cast("long")) % 1000000007L
          }
        val base = docs.select(col("doc_id"), col("source"),
          substring(col("text"), 1, 200).as("__t"))
        val grams = base
          .select(col("doc_id"),
            (length(col("__t")) - 7).as("__m"),
            explode(sequence(lit(1), length(col("__t")) - 7)).as("__i"),
            col("__t"))
          .select(col("doc_id"), col("__m"), col("__i"),
            col("__t").substr(col("__i"), lit(8)).as("__g"))
          .select(col("doc_id"), col("__m"), col("__i"),
            gramHash(col("__g"), lit(1)).as("__h"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("doc_id")).orderBy(col("__i"))
          .rowsBetween(0, 3)
        val fps = grams
          .select(col("doc_id"), col("__m"), col("__i"),
            min(col("__h")).over(w).as("__wm"))
          .filter(col("__i") <= col("__m") - 3)
          .select(col("doc_id"), col("__wm"))
          .distinct()
          .join(base.select(col("doc_id"), col("source")), Seq("doc_id"))
        val perSrc = fps.groupBy(col("source"), col("__wm"))
          .agg(count(lit(1)).as("__nd"))
          .groupBy(col("source"))
          .agg(sum(col("__nd")).as("occ"),
            count(lit(1)).as("dfp"))
        val tot = perSrc.agg(sum(col("occ")), sum(col("dfp"))).collect()(0)
        println(s"[scratch]   winnow mult=$mult occ=${tot.getLong(0)} " +
          s"distinct=${tot.getLong(1)}")
      }
      docs.unpersist()
      r
    }

    /** winnowChain's window stage re-expressed MAP-SIDE: the per-doc
      * hash array materializes once per row (4 slice references at
      * projection level — CollapseProject only inlines single-reference
      * expensive expressions), sliding minima = zip_with-least over 4
      * shifted slices, fingerprints = array_distinct, THEN explode.
      * No window sort at all: the only shuffles are the aggregates
      * over the already-distinct (doc, fp) rows. */
    def least2(a: org.apache.spark.sql.Column,
               b: org.apache.spark.sql.Column) =
      zip_with(a, b, (x, y) => least(x, y))

    def winnow2Chain(mult: Int): Double = {
      val docs = replicate(
        Tables.documents(spark, d)
          .filter(col("text").isNotNull && length(col("text")) >= 11)
          .select(col("doc_id"), col("source"), col("text")),
        "doc_id", mult)((_, df) => df)
        .persist(MEMORY_AND_DISK)
      docs.count()
      val r = timed {
        val base = docs.select(col("doc_id"), col("source"),
          substring(col("text"), 1, 200).as("__t"))
        val P = 1000000007L
        val withH = base.select(col("doc_id"), col("source"),
          transform(sequence(lit(1), length(col("__t")) - 7), i =>
            (0 until 8).foldLeft(lit(0L): org.apache.spark.sql.Column) {
              (h, o) => (h * 257 +
                ascii(col("__t").substr(i + lit(o), lit(1))).cast("long")) % P
            }).as("__hs"))
        val m3 = size(col("__hs")) - 3
        val wm = least2(
          least2(slice(col("__hs"), lit(1), m3),
            slice(col("__hs"), lit(2), m3)),
          least2(slice(col("__hs"), lit(3), m3),
            slice(col("__hs"), lit(4), m3)))
        val fps = withH
          .select(col("doc_id"), col("source"),
            explode(array_distinct(wm)).as("__wm"))
        val perSrc = fps.groupBy(col("source"), col("__wm"))
          .agg(count(lit(1)).as("__nd"))
          .groupBy(col("source"))
          .agg(sum(col("__nd")).as("occ"), count(lit(1)).as("dfp"))
        val tot = perSrc.agg(sum(col("occ")), sum(col("dfp"))).collect()(0)
        println(s"[scratch]   winnow2 mult=$mult occ=${tot.getLong(0)} " +
          s"distinct=${tot.getLong(1)}")
      }
      docs.unpersist()
      r
    }

    /** The q309 PRODUCTION shape: the native WinnowFingerprints
      * expression — codegen-resident single pass per doc, no shuffle
      * before the aggregates. */
    def winnow3Chain(mult: Int): Double = {
      val docs = replicate(
        Tables.documents(spark, d)
          .filter(col("text").isNotNull && length(col("text")) >= 11)
          .select(col("doc_id"), col("source"), col("text")),
        "doc_id", mult)((_, df) => df)
        .persist(MEMORY_AND_DISK)
      docs.count()
      val r = timed {
        val base = docs.select(col("doc_id"), col("source"),
          substring(col("text"), 1, 200).as("__t"))
        val fps = base.select(col("doc_id"), col("source"),
          explode(functions.WinnowFingerprints(col("__t"), 8, 4))
            .as("__wm"))
        val perSrc = fps.groupBy(col("source"), col("__wm"))
          .agg(count(lit(1)).as("__nd"))
          .groupBy(col("source"))
          .agg(sum(col("__nd")).as("occ"), count(lit(1)).as("dfp"))
        val tot = perSrc.agg(sum(col("occ")), sum(col("dfp"))).collect()(0)
        println(s"[scratch]   winnow3 mult=$mult occ=${tot.getLong(0)} " +
          s"distinct=${tot.getLong(1)}")
      }
      docs.unpersist()
      r
    }

    /** q321 MMR rerank: sign-flip replicated corpus (the semantic-chain
      * isometry model) against the FIXED 5-query batch — the realistic
      * shape: the training-batch side stays bounded while the candidate
      * corpus grows. The broadcast-scan + bounded-heap cut is the
      * linear part; the greedy 4-step loop runs over ≤12 candidates per
      * query regardless of corpus size, so its cost must stay constant.
      * Replica-validity check: output is EXACTLY 5 queries × 4 steps at
      * every scale. */
    def mmrChain(mult: Int): Double = {
      val embAll = replicateEmb(mult).persist(MEMORY_AND_DISK)
      embAll.count()
      val r = timed {
        val emb = embAll.select(col("vec_id"),
          transform(col("embedding"), x =>
            floor(x.cast("double") * 1000 + 0.5).cast("long")).as("mil"))
        val queries = emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("query_id"), col("mil").as("qmil"))
        def dist(a: org.apache.spark.sql.Column,
                 b: org.apache.spark.sql.Column) =
          aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
            lit(0L), (acc, v) => acc + v)
        val scoredAll = emb.crossJoin(broadcast(queries))
          .filter(col("vec_id") =!= col("query_id"))
          .select(col("query_id"), col("vec_id").as("cid"), col("mil"),
            dist(col("qmil"), col("mil")).as("d2"))
        // production form: the greedy loop is per-query-local inside
        // one flatMapGroups (operators.Similarity.mmrSelect) — the
        // probe exercises the same code path the query ships
        val cand = plans.TopKPerKey(scoredAll, Seq("query_id"),
          Seq(col("d2").asc, col("cid").asc), k = 12)
        val selected = operators.Similarity.mmrSelect(cand, steps = 4)
        val n = selected.count()
        println(s"[scratch]   mmr mult=$mult rows=$n (want 20)")
      }
      embAll.unpersist()
      r
    }

    // One-off phase breakdown for q307 kTruss (arg "ktrussphase"):
    // times edge derivation, triangle enumeration, the round-0 support
    // aggregate, and each peel round separately so optimization effort
    // lands on the phase that actually costs.
    if (args.contains("ktrussphase")) {
      def tmr[T](label: String)(body: => T): T = {
        val t0 = System.nanoTime(); val r = body
        println(f"[ktruss] $label: ${(System.nanoTime() - t0) / 1e9}%.2f s")
        r
      }
      val items = Tables.lineitem(spark, d)
        .select(col("l_orderkey"), col("l_partkey"))
        .groupBy(col("l_orderkey"))
        .agg(slice(sort_array(collect_set(col("l_partkey"))), 1, 5)
          .as("__items"))
      val pairs = items.select(explode(flatten(transform(col("__items"),
          (x, i) => transform(slice(col("__items"), i + 2,
            size(col("__items"))), y => struct(x.as("a"), y.as("b"))))))
          .as("p"))
        .select(col("p.a").as("a"), col("p.b").as("b")).distinct()
      val k = 4
      val e = tmr("edges")(pairs.select(
          least(col("a"), col("b")).as("a"),
          greatest(col("a"), col("b")).as("b"))
        .filter(col("a") =!= col("b")).distinct().localCheckpoint())
      println(s"[ktruss] |E| = ${e.count()}")
      val triOld = tmr("enumerate-wedge")(e.select(col("a"), col("b"))
        .join(e.select(col("a").as("b"), col("b").as("c")), Seq("b"))
        .join(e.select(col("a"), col("b").as("c")), Seq("a", "c"),
          "left_semi")
        .select(col("a"), col("b"), col("c")).localCheckpoint())
      println(s"[ktruss] |T|wedge = ${triOld.count()}")
      val adjHi = e.groupBy(col("a"))
        .agg(sort_array(collect_list(col("b"))).as("nbrs"))
      val tri = tmr("enumerate-intersect")(e
        .join(adjHi.select(col("a"), col("nbrs").as("__na")), Seq("a"))
        .join(adjHi.select(col("a").as("b"), col("nbrs").as("__nb")),
          Seq("b"))
        .select(col("a"), col("b"),
          explode(array_intersect(col("__na"), col("__nb"))).as("c"))
        .localCheckpoint())
      println(s"[ktruss] |T| = ${tri.count()}")
      val sup0 = tmr("round0-agg")(tri.select(col("a"), col("b"))
        .unionAll(tri.select(col("a"), col("c").as("b")))
        .unionAll(tri.select(col("b").as("a"), col("c").as("b")))
        .groupBy(col("a"), col("b"))
        .agg(count(lit(1)).as("support")).localCheckpoint())
      var sup = sup0
      val aF = sup.schema("a"); val bF = sup.schema("b")
      val ledger = scala.collection.mutable.ArrayBuffer
        .empty[org.apache.spark.sql.Row]
      def remDf(c1: String, c2: String, rr: String): DataFrame = {
        import scala.jdk.CollectionConverters._
        spark.createDataFrame(ledger.asJava,
          org.apache.spark.sql.types.StructType(Seq(aF.copy(name = c1),
            bF.copy(name = c2), org.apache.spark.sql.types.StructField(
              rr, org.apache.spark.sql.types.IntegerType,
              nullable = false))))
      }
      var round = 1
      var done = false
      while (!done && round <= 50) {
        val t0 = System.nanoTime()
        val remNew = sup.filter(col("support") < k - 2)
          .select(col("a"), col("b"))
        val rows = remNew.limit(1000001).collect()
        val tColl = (System.nanoTime()-t0)/1e9
        if (rows.isEmpty) { done = true; println(f"[ktruss] round$round collect=$tColl%.2f s (empty)") }
        else {
          rows.foreach(r => ledger += org.apache.spark.sql.Row(
            r.get(0), r.get(1), round))
          val t1 = System.nanoTime()
          def isNew(c: org.apache.spark.sql.Column) =
            coalesce(c === lit(round), lit(false))
          def isOld(c: org.apache.spark.sql.Column) =
            coalesce(c < lit(round), lit(false))
          val flagged = tri
            .join(broadcast(remDf("a", "b", "__r1")), Seq("a", "b"), "left")
            .join(broadcast(remDf("a", "c", "__r2")), Seq("a", "c"), "left")
            .join(broadcast(remDf("b", "c", "__r3")), Seq("b", "c"), "left")
          val retired = flagged.filter(
              (isNew(col("__r1")) || isNew(col("__r2")) ||
                isNew(col("__r3"))) &&
              !(isOld(col("__r1")) || isOld(col("__r2")) ||
                isOld(col("__r3"))))
            .select(col("a"), col("b"), col("c"))
          val dec = retired.select(col("a"), col("b"))
            .unionAll(retired.select(col("a"), col("c").as("b")))
            .unionAll(retired.select(col("b").as("a"), col("c").as("b")))
            .groupBy(col("a"), col("b")).agg(count(lit(1)).as("__dec"))
          val supNext = sup
            .join(broadcast(remDf("a", "b", "__rr")), Seq("a", "b"), "left")
            .filter(col("__rr").isNull)
            .join(dec, Seq("a", "b"), "left")
            .select(col("a"), col("b"),
              (col("support") - coalesce(col("__dec"), lit(0L)))
                .as("support"))
            .localCheckpoint()
          sup = supNext
          val tSup = (System.nanoTime()-t1)/1e9
          println(f"[ktruss] round$round (rem=${rows.length}) collect=$tColl%.2f s sup=$tSup%.2f s")
        }
        round += 1
      }
      println(s"[ktruss] fixpoint, |truss| = ${sup.count()}")
      spark.stop(); return
    }

    /** q338/q339 classifier chain: feature scan (persisted) + 8
      * full-batch fixed-point delta-rule iterations + the scoring
      * pass. The model is 5 Longs inlined as literals, so every stage
      * is ONE corpus scan ending in a ≤5-column aggregate — the probe
      * checks the 9 passes scale linearly and that replication leaves
      * the learned weights EXACTLY unchanged (mean gradient is
      * replication-invariant: same sums over k copies, k·n rows). */
    def classifierChain(mult: Int): Double = {
      val docs = replicate(Tables.documents(spark, d), "doc_id", mult)(
        (_, df) => df.select(col("doc_id"), col("text")))
      timed {
        def cnt(tok: String) =
          ((length(col("text")) - length(replace(col("text"), lit(tok),
            lit("")))) / tok.length).cast("long")
        val f = docs.filter(col("text").isNotNull)
          .select(col("doc_id"), cnt("spark").as("x1"),
            cnt("query").as("x2"), cnt("slow").as("x3"),
            cnt("batch").as("x4"))
          .withColumn("y",
            when(col("x1") + col("x2") > col("x3") + col("x4"), 1L)
              .otherwise(0L))
          .persist(MEMORY_AND_DISK)
        val t = operators.Classify.trainDelta(f,
          Seq("x1", "x2", "x3", "x4"), "y",
          iters = 8, etaNum = 2, etaDen = 1)
        val feats = Seq(col("x1"), col("x2"), col("x3"), col("x4"))
        val acc = f.select(
            ((operators.Classify.scoreQ(t.weights, feats) >=
              lit(operators.Classify.Q / 2)).cast("long") === col("y"))
              .cast("long").as("ok"))
          .agg(sum(col("ok")).as("nok"), count(lit(1)).as("n"))
          .collect()(0)
        f.unpersist()
        println(s"[scratch]   classifier mult=$mult " +
          s"acc=${acc.getLong(0)}/${acc.getLong(1)} " +
          s"w=${t.weights.mkString(",")}")
      }
    }

    val probes: Seq[(String, Int => Double)] = Seq(
      "winnow" -> winnowChain, "winnow2" -> winnow2Chain,
      "winnow3" -> winnow3Chain,
      "mmr" -> mmrChain,
      "prefix" -> prefixChain,
      "lcc" -> lccChain, "itemcf" -> itemcfChain,
      "growth" -> growthChain,
      "dedup" -> dedupChain, "leakage" -> leakageChain,
      "span" -> spanChain, "semantic" -> semanticChain,
      "semantic2" -> semanticChain2, "spanRemoval" -> spanRemovalChain,
      "qualityGate" -> qualityGateChain, "bpe" -> bpeChain,
      "pmi" -> pmiChain, "pagerank" -> pagerankChain,
      "pagerankBucket" -> pagerankBucketChain,
      "triangles" -> triangleChain, "sweep" -> sweepChain,
      "bfs" -> bfsChain, "bfsBucket" -> bfsBucketChain,
      "sssp" -> ssspChain,
      "ledger" -> ledgerChain, "bom" -> bomChain,
      "linkage" -> linkageChain, "interval" -> intervalChain,
      "cpm" -> cpmChain, "lpa" -> lpaChain,
      "apriori" -> aprioriChain, "intervalmerge" -> intervalMergeChain,
      "classifier" -> classifierChain)
    val wanted = if (args.isEmpty) probes.map(_._1) else args.toSeq
    probes.filter(p => wanted.contains(p._1)).foreach { case (name, f) =>
      f(1); f(1) // warm
      val t1 = f(1)
      val t10 = f(10)
      println(f"[scratch] $name: 1x=$t1%.2f s  10x=$t10%.2f s  " +
        f"=> ${t10 / t1}%.1fx time")
    }
    // two-decade variant: "<name>100" runs 1x -> 10x -> 100x in one
    // run pair — the "does the growth factor itself stay flat a
    // decade further" check
    wanted.filter(_.endsWith("100"))
      .flatMap(w => probes.find(_._1 == w.dropRight(3)))
      .foreach { case (name, f) =>
        f(1); f(1)
        val t1 = f(1)
        val t10 = f(10)
        val t100 = f(100)
        println(f"[scratch] ${name}100: 1x=$t1%.2f s  10x=$t10%.2f s " +
          f" 100x=$t100%.2f s  => ${t10 / t1}%.1fx then " +
          f"${t100 / t10}%.1fx per decade")
      }
    spark.stop()
  }
}
