package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, XxHash64}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{BinaryType, LongType}

/** Distributed graph analytics over edge DataFrames.
  *
  * Reference behavior: none (the reference has no graph stage); this is
  * SURVEY §2.4-class coverage, sibling to [[Dedup.dupClusters]]'s
  * connected components. Same iterative-DataFrame discipline as there:
  * each iteration is hash joins + hash aggregates on the edge
  * partitioning, lineage is truncated with `localCheckpoint` on a fixed
  * cadence so a 50-iteration run doesn't compile a 50-deep plan, and
  * nothing ever collects to the driver.
  */
object Graph {

  /** Max frontier size for which the per-round Bloom pushdown is built
    * (8M keys at 2% fpp ≈ 8 MB of filter — one aggregate over the
    * frontier plus a driver round-trip; past this the filter itself
    * becomes the shipping cost and the plain join is the right plan). */
  private val BloomMaxItems = 8000000L

  /** The Bloom pushdown engages ONLY in the sort-merge regime (when
    * the visited/dist table outgrows [[HashHintMaxRows]] and the
    * shuffle_hash hint is dropped). A same-box A/B in the HASH regime
    * measured the filter as pure overhead — SSSP probe at 10×:
    * 16.8 s without vs 20.7 s with (+23%) — because the adjacency is
    * pre-partitioned and build-side-probed there, so the join already
    * emits only frontier-adjacent rows and the bloom check duplicates
    * the O(1) hash probe while adding a per-round build job. In the
    * sort-merge regime the economics invert: the un-hinted plan SORTS
    * the full adjacency every round (measured 17.6× on the r10 100×
    * BFS decade before the hint), and the pushdown cuts that sort's
    * input from Θ(|E|) to the frontier's neighborhood. The
    * [[BloomForceKey]] session conf lets the spec pin the Bloom
    * path's exactness at fixture scale — a PER-SESSION conf key, not
    * a JVM-global var, so a parallel test or concurrent session can
    * never observe another session's flipped plan (round-11 advice:
    * shared mutable planner state was a cross-test hazard). */
  private[graft] val BloomForceKey = "graft.graph.bloomForce"

  private def bloomForced(df: DataFrame): Boolean =
    df.sparkSession.conf.getOption(BloomForceKey).exists(_.toBoolean)

  /** Row-count bound under which the visited/dist side of a traversal
    * join keeps the `shuffle_hash` hint. ShuffledHashJoin builds an
    * in-memory per-partition hash map of the build side; visited/dist
    * grow toward O(V) over rounds, so past this bound the hint is
    * DROPPED and Spark falls back to sort-merge — slower per round but
    * spill-safe, the right trade once the table no longer fits
    * per-partition memory (round-10 advice item). The frontier-side
    * hint has no such gate: the frontier is the small side by
    * construction and is bloom-bounded anyway. */
  private val HashHintMaxRows = 64000000L

  /** Opt-in DISK-BUCKETED adjacency for traversals — the round-12
    * probe's winner at scale, productionized behind a conf. When
    * [[AdjScratchKey]] names a scratch directory (local path in
    * local mode; shared storage on a cluster) and the doubled
    * adjacency exceeds [[AdjDiskMinRows]] rows (or
    * [[AdjDiskForceKey]] is set, for the fixture-scale equality
    * spec), the adjacency is written ONCE as parquet directory-
    * partitioned by `__bk = pmod(xxhash64(key), 64)` and every round
    * joins on (__bk, key): with a broadcastable frontier, dynamic
    * partition pruning pushes the frontier's bucket-id set into the
    * FILE SCAN, and the columnar-compressed layout replaces the
    * in-memory doubled-row checkpoint. Measured same-box on the
    * q149 probe model (ENGINE.md round-12): the in-memory form reads
    * 2.95/15.9/191.9 s over 1×/10×/100× (12.0× second decade), the
    * bucketed form 18.2/30.2/159.0 s (5.3×) — it loses 6× at small
    * scale and wins past the memory comfort zone, hence the row
    * gate. Default OFF (no scratch dir): nothing changes for
    * existing callers; results are identical either way (the spec
    * pins forced-path equality like the Bloom's). */
  private[graft] val AdjScratchKey = "graft.graph.adjacencyScratchDir"
  private[graft] val AdjDiskForceKey = "graft.graph.adjacencyDiskForce"
  private val AdjDiskMinRows = 16000000L

  /** Bucket count for the disk layout, scaled with the adjacency
    * (round-12 verdict: a FIXED 64 is 1.5 TB/bucket at 100 TB):
    * ~4M doubled rows per bucket past the 64-bucket floor, rounded up
    * to a power of two so the pmod key distributes evenly under
    * xxhash64. The floor keeps fixture-scale layouts from shattering
    * into confetti files; the ceiling is whatever the adjacency
    * demands — at 10^12 doubled rows this yields 2^18 buckets of ~4M
    * rows (~hundreds of MB columnar) each, scan- and DPP-friendly. */
  private[graft] def adjBucketsFor(rows: Long): Long = {
    val want = math.max(64L, (rows + 3999999L) / 4000000L)
    if ((want & (want - 1)) == 0) want
    else java.lang.Long.highestOneBit(want) * 2
  }

  /** Everything a traversal needs to know about its planned adjacency:
    * the frame to join against, its row count, the scratch dir to
    * delete when done (disk regime only), and the bucket count the
    * layout was written with — the frontier's `__bk` probe key MUST
    * be derived with the same modulus. */
  private case class PlannedAdj(adj: DataFrame, rows: Long,
                                scratch: Option[String], buckets: Long)

  /** Local-mode scratch base for the auto-engaged disk adjacency: the
    * first non-blank entry of `spark.local.dir`, which may list several
    * comma-separated directories, else `java.io.tmpdir`. */
  private[graft] def localScratchDir(localDir: Option[String]): String =
    localDir.iterator.flatMap(_.split(',')).map(_.trim).find(_.nonEmpty)
      .getOrElse(System.getProperty("java.io.tmpdir", "/tmp"))

  /** Plan the traversal adjacency: the in-memory hash-partitioned
    * checkpoint (default), or the opt-in disk-bucketed parquet layout
    * (see [[AdjScratchKey]]). The disk path writes STRAIGHT from the
    * doubled union — an earlier form materialized the in-memory
    * checkpoint first and then copied it to parquet, which held the
    * adjacency TWICE and OOM'd the 100× probe under a 4g heap; the
    * distinct shuffle behind `doubled` is computed once (the gate's
    * pre-count) and its shuffle files are reused by the write, so
    * nothing is resident twice. Returns (adjacency frame, row count,
    * scratch dir to delete when the traversal finishes). */
  /** `keyPartitionInMemory`: the traversals keep the in-memory
    * checkpoint hash-partitioned on the probe key (their join's other
    * side is a small frontier, so the graph never moving again is the
    * win). pageRank passes FALSE — a measured refutation (round-14
    * two-decade probe, reproduced twice): with the edge checkpoint
    * pre-partitioned on __src AND ranks co-partitioned on node, the
    * per-iteration join needs no exchange at all, fusing checkpoint
    * scan + join + the __dst partial aggregate into ONE stage whose
    * overlapped memory demands OOM the 117M-row 100× probe under a
    * 16g heap (UNABLE_TO_ACQUIRE in the fused hashAgg) — while the
    * exchange-per-iteration form completes it in 237 s: the exchange
    * is a stage boundary that isolates the sort/agg memory phases and
    * gives AQE a re-planning point. The 1× win it bought (q121 4.75 →
    * 3.54 s) is not worth a memory cliff two decades up. */
  private def planAdjacency(doubled: DataFrame, keyCol: String,
      keyPartitionInMemory: Boolean = true): PlannedAdj = {
    val spark = doubled.sparkSession
    val scratchConf = spark.conf.getOption(AdjScratchKey)
    val force = spark.conf.getOption(AdjDiskForceKey).exists(_.toBoolean)
    lazy val preCount = doubled.count() // only the opt-in/auto path pays it
    // AUTO-ENGAGE past the measured row gate (round-15, closing the r14
    // "disk regime is opt-in only" gap): when no scratch dir is
    // configured but the PLANNER-ESTIMATED adjacency size clears
    // [[AdjDiskMinRows]] (stats only — no job; the exact preCount still
    // confirms below, and is only paid once the estimate says the graph
    // is big), default the scratch dir so the 100 TB survival path needs
    // no operator knowledge. Local mode only: on a cluster a node-local
    // path is NOT shared storage — executors would write buckets no
    // reader can list — so there the conf stays required, loudly.
    val estRows: BigInt = {
      val st = doubled.queryExecution.optimizedPlan.stats
      st.rowCount.getOrElse {
        val sz = st.sizeInBytes
        // stat-less sources report defaultSizeInBytes = Long.MaxValue —
        // "unknown", not "huge"; stay in-memory rather than guess
        if (sz >= BigInt(Long.MaxValue) / 2) BigInt(0) else sz / 16
      }
    }
    val scratch = scratchConf.orElse {
      if (estRows < AdjDiskMinRows) None
      else if (spark.sparkContext.isLocal)
        Some(localScratchDir(spark.conf.getOption("spark.local.dir")))
      else {
        System.err.println(
          s"graft: adjacency estimated at ~$estRows rows exceeds the " +
            s"disk-regime gate ($AdjDiskMinRows) but $AdjScratchKey is " +
            "unset — staying in-memory; set it to shared storage to " +
            "engage the bucketed layout")
        None
      }
    }
    val useDisk =
      scratch.isDefined && (force || preCount >= AdjDiskMinRows)
    if (useDisk) {
      val dir = scratch.get.stripSuffix("/") +
        s"/graft_adj_${java.util.UUID.randomUUID().toString.take(12)}"
      val nb = adjBucketsFor(preCount)
      // __bk is written as INT deliberately: parquet partition-value
      // inference reads the directory values back as IntegerType, so a
      // LONG here makes every probe join key `cast(__bk as bigint)` —
      // and DPP CANNOT prune through a cast on the partition column.
      // The round-14 plan-assertion spec caught exactly that: the
      // shipped long-typed layout ran every round as a full scan with
      // PartitionFilters=[isnotnull(__bk)] and no dynamicpruning.
      // Aligning the types (int on both sides) restores the pruning
      // the layout exists for.
      doubled
        .withColumn("__bk",
          pmod(xxhash64(col(keyCol)), lit(nb)).cast("int"))
        .write.partitionBy("__bk").mode("overwrite").parquet(dir)
      val adj = spark.read.parquet(dir)
      PlannedAdj(adj, adj.count(), Some(dir), nb) // count: metadata-cheap
    } else {
      // The checkpoint's whole purpose is that the graph NEVER MOVES
      // AGAIN — but two things silently broke that and every round was
      // re-shuffling the full adjacency (the round-15 stage profile
      // showed four 19.8 MB adjacency re-exchanges per q166 run, one
      // per round):
      //  1. repartition(col) without a number is REPARTITION_BY_COL,
      //     whose partition count AQE may coalesce — pin it to
      //     spark.sql.shuffle.partitions so it matches what every
      //     frontier join's other side exchanges to;
      //  2. a localCheckpoint built UNDER AQE records no usable output
      //     partitioning at all (the adaptive plan hides the final
      //     exchange's partitioning from LogicalRDD), so EnsureRequirements
      //     re-exchanges the checkpointed side in every consumer join.
      //     Building this one query with AQE off restores the recorded
      //     hash(key, n) and the consumer joins move only the frontier.
      val sess = doubled.sparkSession
      val nShuffle = sess.sessionState.conf.numShufflePartitions
      val aqeKey = "spark.sql.adaptive.enabled"
      val adj = if (keyPartitionInMemory) {
        val prevAqe = sess.conf.get(aqeKey)
        sess.conf.set(aqeKey, "false")
        try doubled.repartition(nShuffle, col(keyCol)).localCheckpoint()
        finally sess.conf.set(aqeKey, prevAqe)
      } else doubled.localCheckpoint()
      PlannedAdj(adj, adj.count(), None, 0L)
    }
  }

  /** Best-effort: this runs in `finally` blocks, and a filesystem
    * delete is most likely to throw in EXACTLY the executor-loss /
    * job-cancellation scenarios those blocks guard — swallowing (with
    * a log line) preserves the primary exception instead of masking
    * it with the cleanup's (round-13 advice item). A leaked scratch
    * dir is a UUID-named orphan a janitor can reap; a masked root
    * cause is undebuggable. */
  private def deleteScratch(df: DataFrame, dir: String): Unit =
    try {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
        .delete(p, true)
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(
          s"graft: failed to delete adjacency scratch $dir: $e")
    }

  /** Serialized Bloom filter over `xxhash64(keyCol)` of a (small,
    * already-materialized) frontier, built with the grouped
    * [[graft.functions.BloomAgg]] — map-side partials, one binary row
    * collected. Returns the `might_contain` predicate to push into the
    * adjacency scan: Spark's own codegen'd BloomFilterMightContain over
    * the same xxhash64 key, deserialized once per task. False
    * positives only leak extra rows into the (exact) join behind it —
    * the filter never changes the result, it makes the join machinery
    * (probe output, distinct, anti-join) track the FRONTIER's
    * neighborhood instead of Θ(|E|) per round. */
  private def frontierBloomFilter(frontier: DataFrame, keyCol: String,
                                  nItems: Long, probeKey: Column): Column = {
    val bytes = frontier
      .agg(graft.functions.BloomAgg(math.max(nItems, 1024L), 0.02)(
        xxhash64(col(keyCol))).as("bf"))
      .head().getAs[Array[Byte]](0)
    // build side put xxhash64(key) longs; probe with the same hash of
    // the adjacency's key — one codegen'd mightContainLong per row
    Bridge.column(BloomFilterMightContain(
      Literal.create(bytes, BinaryType),
      Bridge.toCatalyst(xxhash64(probeKey))))
  }

  /** PageRank over a DIRECTED edge list (pass both directions for an
    * undirected graph). Fixed `iters` power iterations of
    *
    *   r'(v) = (1-d)/N + d·( Σ_{(u,v)∈E} r(u)/outdeg(u) + dangling/N )
    *
    * where `dangling` is the rank mass sitting on nodes with no
    * out-edges — redistributed uniformly, the standard correction that
    * keeps Σr = 1 (drop it and ranks leak every iteration on any graph
    * with sinks). Per iteration: one join of ranks onto edges (both
    * sides pre-partitioned on the node key by the shuffle, so iterations
    * 2..k reuse the exchange), one hash aggregate per destination, one
    * broadcast of the 1-row dangling aggregate. State per iteration is
    * one (node, rank) row per node — never materialized on the driver.
    *
    * Fixed iteration count (not convergence-tested) on purpose: the
    * result is a deterministic function of the graph, so it can be
    * oracle-checked, and at cluster scale a convergence test is one
    * extra aggregate the caller can layer on top.
    *
    * Each iteration's rank table is EAGERLY localCheckpoint'ed. Not
    * optional: ranks_k feeds iteration k+1 twice (dangling aggregate +
    * contribution join), so a lazy chain re-evaluates ranks_k twice,
    * ranks_{k-1} four times — 2^k re-derivations of the caller's edge
    * build. Materializing per iteration makes each round one pass, the
    * [[Dedup.dupClusters]] discipline; the checkpointed state is one
    * (node, rank) row per node, never the edges. */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               damping: Double = 0.85, iters: Int = 3): DataFrame = {
    require(iters >= 1 && damping > 0 && damping < 1)
    // edges also evaluate once per iteration (contrib join) — truncate
    // whatever lineage the caller handed in and keep the slim
    // (src, dst) projection instead of re-deriving it per round.
    // Planned like the traversals' adjacency (round-13 verdict item:
    // pageRank is the same Θ(|E|)-per-round shape), EXCEPT the
    // in-memory checkpoint stays distinct-partitioned — see
    // [[planAdjacency]]'s keyPartitionInMemory doc for the measured
    // refutation of pre-partitioning it on __src (zero-exchange
    // iterations fuse into one stage and OOM the 100× probe the
    // exchange-per-iteration form completes). The opt-in disk regime
    // writes the bucketed parquet layout instead of holding doubled
    // rows in block storage; no bucket pruning applies here (every
    // iteration touches every node), so the disk win is purely the
    // columnar layout once the in-memory form outgrows executor
    // storage.
    // Default (no scratch dir configured): the r13-exact inline build.
    // Round-14 A/B note, recorded because it cost three probe runs:
    // routing the default path through [[planAdjacency]] — whose only
    // code delta here was an extra count() action over the fresh
    // checkpoint — made the 117M-row 100× probe OOM DETERMINISTICALLY
    // (same stage, twice) where this exact inline form completes
    // (166 s, same box, same hour; also 2/2 on the r13 tree). The
    // macro A/B is conclusive even though the micro-mechanism is not
    // understood; the default path therefore stays byte-identical to
    // the proven form and pays no count. The disk regime only engages
    // when the session names a scratch dir — that opt-in path accepts
    // planAdjacency's gate count (it needs the row count anyway).
    val eProj = edges
      .select(col(srcCol).as("__src"), col(dstCol).as("__dst"))
      .distinct()
    val planned =
      if (eProj.sparkSession.conf.getOption(AdjScratchKey).isDefined)
        Some(planAdjacency(eProj, "__src", keyPartitionInMemory = false))
      else None
    val e = planned.map(_.adj).getOrElse(eProj.localCheckpoint())
    val scratch = planned.flatMap(_.scratch)
    try {
    // node set and out-degree in ONE shuffle: src rows carry weight 1,
    // dst rows weight 0 (keeps pure sinks in the node set); a zero sum
    // IS the sink marker (NULL __deg), replacing the three-shuffle
    // distinct ∪ + groupBy + left-join build. Degree rides the rank
    // table so the per-iteration join is ranks⋈edges only.
    val base = e.select(col("__src").as("node"), lit(1L).as("__s"))
      .unionAll(e.select(col("__dst").as("node"), lit(0L).as("__s")))
      .groupBy(col("node"))
      .agg(when(sum(col("__s")) > 0, sum(col("__s"))).as("__deg"))
      .localCheckpoint()
    val nN = base.count()
    var ranks = base.withColumn("rank", lit(1.0 / nN))
    // each round's checkpoint is freed once the NEXT round has
    // materialized (localCheckpoint is eager): Dataset.unpersist only
    // talks to the CacheManager, so the RDD blocks behind a checkpoint
    // need the Bridge helper or every round leaks a full rank-table
    // copy until driver GC (the dupClusters discipline). prevCk starts
    // null because round 1's input is a lazy projection OVER base —
    // walking ITS plan would free base, which every round still joins.
    var prevCk: DataFrame = null
    for (_ <- 1 to iters) {
      val dangling = ranks.filter(col("__deg").isNull)
        .agg(coalesce(sum(col("rank")), lit(0.0)).as("__dm"))
      val contrib = ranks.filter(col("__deg").isNotNull)
        .join(e, col("node") === col("__src"))
        .groupBy(col("__dst").as("node"))
        .agg(sum(col("rank") / col("__deg")).as("__in"))
      ranks = base
        .join(contrib, Seq("node"), "left")
        .crossJoin(broadcast(dangling))
        .select(col("node"), col("__deg"),
          (lit((1.0 - damping) / nN) +
            lit(damping) * (coalesce(col("__in"), lit(0.0)) +
              col("__dm") / nN)).as("rank"))
        .localCheckpoint()
      if (prevCk != null)
        org.apache.spark.sql.graft.Bridge.unpersistCheckpoint(prevCk)
      prevCk = ranks
    }
    // the loop no longer references the inputs; only the FINAL rank
    // checkpoint (the return value, caller-owned) stays resident
    org.apache.spark.sql.graft.Bridge.unpersistCheckpoint(e)
    org.apache.spark.sql.graft.Bridge.unpersistCheckpoint(base)
    ranks.select(col("node"), col("rank"))
    } finally {
      scratch.foreach(dir => deleteScratch(e, dir))
    }
  }

  /** K-CORE decomposition over an UNDIRECTED edge list (one row per
    * edge, either orientation; self-loops must be pre-dropped): the
    * maximal subgraph in which every node has degree ≥ k, found by
    * iterative peeling — drop every node with current degree < k,
    * remove its edges, repeat until a fixed point. Peeling is order-
    * insensitive (removing any sub-k node never makes another node's
    * final membership change), so the result is a deterministic
    * function of the graph.
    *
    * Per round: one degree aggregate, one semi-join of edges onto the
    * surviving-node set per endpoint — all hash-partitioned on node
    * keys; the surviving edge set is localCheckpoint'ed each round
    * (the [[pageRank]] lineage discipline — a lazy chain would
    * re-derive round r from scratch 2^r times), and each round frees
    * the previous round's checkpoint blocks. The loop exits as soon
    * as a round removes nothing; if the fixed point is not reached
    * within `maxIters` the operator THROWS rather than return a
    * plausible-looking non-core (a path graph peels one layer per
    * round, so deep chains legitimately need a higher `maxIters`;
    * real clustered graphs peel in tens of rounds).
    *
    * Returns the surviving nodes with their degree INSIDE the core
    * (≥ k by construction); empty output means no k-core exists. */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
            maxIters: Int = 50): DataFrame = {
    require(k >= 1 && maxIters >= 1)
    // undirected: normalize to (lo, hi) and dedup BEFORE doubling —
    // the doubled form of a dup-free normalized set is dup-free by
    // construction, so deduping first halves the distinct's shuffle
    // (measured 8M vs 4M rows on the sf0.1 co-purchase graph).
    // Degree = out-degree in the doubled form, and peeling both
    // endpoint sides keeps the doubling invariant. Self-loops are
    // dropped here rather than trusted away.
    val norm = edges.select(
        least(col(srcCol), col(dstCol)).as("__lo"),
        greatest(col(srcCol), col(dstCol)).as("__hi"))
      .filter(col("__lo") =!= col("__hi"))
      .distinct()
    var e = norm.select(col("__lo").as("__src"), col("__hi").as("__dst"))
      .unionAll(norm.select(col("__hi").as("__src"),
        col("__lo").as("__dst")))
      .localCheckpoint()
    var prevEdges = e.count()
    var done = prevEdges == 0L
    var i = 0
    while (!done && i < maxIters) {
      val keep = e.groupBy(col("__src").as("__n"))
        .agg(count(lit(1)).as("__deg"))
        .filter(col("__deg") >= k)
        .select(col("__n"))
      val next = e
        .join(keep.withColumnRenamed("__n", "__src"), Seq("__src"),
          "left_semi")
        .join(keep.withColumnRenamed("__n", "__dst"), Seq("__dst"),
          "left_semi")
        .localCheckpoint()
      val n = next.count()
      // free the previous round's checkpoint blocks (Bridge, not
      // unpersist — see pageRank); next is already materialized so
      // nothing can recompute through the truncated lineage
      org.apache.spark.sql.graft.Bridge.unpersistCheckpoint(e)
      e = next
      done = n == prevEdges || n == 0L
      prevEdges = n
      i += 1
    }
    // FAIL LOUD on a truncated peel: returning the intermediate edge
    // set would be a plausible-looking NON-core (nodes still below k
    // survive on a long peeling chain — a 2(maxIters+2)-node path
    // graph at k=2 peels one layer per round). The scaladoc's
    // "deterministic function of the graph" contract forbids that.
    if (!done) throw new IllegalStateException(
      s"kCore(k=$k) did not reach a fixed point in $maxIters rounds; " +
        "raise maxIters for deep-peeling graphs")
    e.groupBy(col("__src").as("node"))
      .agg(count(lit(1)).as("core_deg"))
      .filter(col("core_deg") >= k)
  }

  /** k-TRUSS — the triangle-density sibling of [[kCore]]: the maximal
    * subgraph whose EVERY edge closes ≥ k−2 triangles within the
    * subgraph (a k-truss is a stricter community signal than a k-core
    * — cores count neighbors, trusses count mutual neighbors, so a
    * star survives a core peel but never a truss peel). The peel is
    * INCREMENTAL: triangles are enumerated ONCE through the
    * value-ordered a<b<c wedge join (e(a,b) ⋈ e(b,c) ⋈ e(a,c), the
    * q131 shape) and checkpointed; each round then folds the
    * surviving triangles' three incidences into per-edge support (one
    * hash aggregate, partials map-side), keeps edges with support
    * ≥ k−2, and retires dead triangles with three semi-joins — a
    * triangle dies with its first removed edge. Re-enumerating per
    * round was measured 8× slower on a triangle-dense graph whose
    * survivor set barely shrinks. Round state (edges + triangles) is
    * localCheckpoint'ed and freed on the [[pageRank]] discipline;
    * THROWS if `maxIters` rounds don't reach the fixed point (the
    * [[kCore]] loud-failure contract). The enumeration is ADAPTIVE: a
    * bounded 1-row degree aggregate picks the plain value-ordered
    * wedge join on low-skew graphs (two joins, no degree machinery)
    * and switches to DEGREE ORIENTATION (each edge points at its
    * higher (degree, id) endpoint, the q131 discipline — oriented
    * out-degree caps at O(√m)) once the hub degree crosses 2·√(2m),
    * so the wedge join — the only quadratic-risk stage — stays
    * bounded per node however skewed the raw degrees, without taxing
    * the common case. Oriented triangles map back to value order
    * (array_sort over the three endpoints — label-type generic) so
    * the peel's support fold and anti-joins run on the same
    * value-normalized (a<b<c) keys as the edge set either way.
    *
    * Returns the truss edges with their in-truss support
    * (≥ k−2 by construction); empty output = no k-truss exists. */
  def kTruss(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
             maxIters: Int = 50): DataFrame = {
    require(k >= 3 && maxIters >= 1)
    val norm = edges.select(
        least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
    val e = norm.localCheckpoint()
    // ONE triangle enumeration (the adaptive [[triangles]] plan),
    // then the peel works off the checkpointed set — re-enumerating
    // per round was measured 56 s at sf0.1 (the survivor set stays
    // ~600k edges for 8 rounds on this triangle-dense graph, so every
    // round paid the full q131-scale join); the one-shot form pays it
    // once. |T| is the same O(Σ deg·√m) the one-shot triangle count
    // materializes anyway — checkpointed and partitioned, nothing
    // driver-side.
    val tri = triangles(e).localCheckpoint()
    org.apache.spark.sql.graft.Bridge.unpersistCheckpoint(e)
    // The peel is a DRIVER-COORDINATED CASCADE. Profiling killed two
    // earlier shapes: the classic loop (full 3·|tri| support
    // re-aggregate + triangle re-checkpoint per round) floored at
    // ~1.1 s/round of shuffle+checkpoint cost to learn a removed set
    // measured 67k → 20k → 1.4k → … → 3, and an incremental-decrement
    // rewrite floored at ~1 s/round of per-round JOB COUNT (broadcast
    // collects, count, checkpoint) — for late rounds whose change set
    // is THREE edges. The peel's total work is tiny (74k retired
    // triangles of 811k at sf0.1); only its coordination was cluster-
    // priced. So coordinate on the driver, bounded:
    //  - round 0: collect the sub-threshold edges (support < k−2)
    //    once — capped at 1M rows (~the footprint the old broadcast
    //    hash build already put on the driver); past the cap the
    //    whole peel falls back to the classic all-shuffle loop below.
    //  - each round: ONE job probes the checkpointed-once triangle
    //    set against the (small) dying-edge frontier — three
    //    broadcast hash probes built from local relations, no
    //    shuffle — and collects the touched triangles (4M-row limit
    //    guard → shuffle fallback). The driver retires them exactly
    //    once (a seen-set), applies per-edge support decrements, and
    //    derives the next frontier locally; a second tiny job fetches
    //    base supports for edges decremented for the first time.
    //    Frontier edges whose current support is zero probe nothing.
    //  - the result is ONE final plan: sup0 minus removed edges,
    //    supports folded with the driver's decrement table (both
    //    attached as RDD-backed local relations — embedding 100k+
    //    rows as LocalRelation was measured at ~17 µs/row of
    //    optimizer tax PER ROUND, the actual cost of attempt two).
    // Driver memory is O(removed edges + decremented edges), capped;
    // supports equal live-triangle counts by induction (a triangle
    // retires in the round its FIRST edge dies). At 100 TB an
    // adversarial graph rides the shuffle path end-to-end — correct,
    // just cluster-priced.
    // explode, not union: one scan of t feeds the aggregate instead of
    // three (same shuffle volume either way)
    def supportAgg(t: DataFrame): DataFrame = t
      .select(explode(array(
        struct(col("a"), col("b")),
        struct(col("a"), col("c").as("b")),
        struct(col("b").as("a"), col("c").as("b")))).as("__e"))
      .groupBy(col("__e.a").as("a"), col("__e.b").as("b"))
      .agg(count(lit(1)).as("support"))
    val sup0 = supportAgg(tri).localCheckpoint()
    val spark = tri.sparkSession
    val aF = sup0.schema("a"); val bF = sup0.schema("b")
    def pairSchema(extra: org.apache.spark.sql.types.StructField*) =
      org.apache.spark.sql.types.StructType(
        Seq(aF.copy(name = "a"), bF.copy(name = "b")) ++ extra)
    // local rows as a relation: tiny sets inline (LocalRelation),
    // bigger ones ride an RDD so the optimizer never copies the rows
    def localDf(rows: Seq[org.apache.spark.sql.Row],
                schema: org.apache.spark.sql.types.StructType): DataFrame =
      if (rows.length <= 4096) {
        import scala.jdk.CollectionConverters._
        spark.createDataFrame(rows.asJava, schema)
      } else spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schema)
    // classic all-shuffle peel: the scale fallback, and the round-for
    // -round shape a cluster run degrades to past the driver caps.
    // `sup0First` seeds round 0 with an ALREADY-materialized support
    // table (the cascade's sup0) so the fallback doesn't re-aggregate
    // 3·|tri| rows it just paid for; the normal unpersist-after-round
    // discipline then frees it like any other round's table.
    def peelShuffle(t0: DataFrame,
                    sup0First: Option[DataFrame] = None): DataFrame = {
      var t = t0
      var sup: DataFrame = null
      var done = false
      var i = 0
      while (!done && i < maxIters) {
        val supAll = if (i == 0 && sup0First.isDefined) sup0First.get
          else supportAgg(t).localCheckpoint()
        val removed = supAll.filter(col("support") < k - 2)
          .select(col("a"), col("b"))
        val nRem = removed.count()
        if (nRem == 0L) {
          done = true
          sup = supAll.filter(col("support") >= k - 2)
        } else {
          val rem = if (nRem <= 1000000L) broadcast(removed) else removed
          val tNext = t
            .join(rem, Seq("a", "b"), "left_anti")
            .join(rem.select(col("a"), col("b").as("c")), Seq("a", "c"),
              "left_anti")
            .join(rem.select(col("a").as("b"), col("b").as("c")),
              Seq("b", "c"), "left_anti")
            .localCheckpoint()
          org.apache.spark.sql.graft.Bridge.unpersistCheckpoint(t)
          org.apache.spark.sql.graft.Bridge.unpersistCheckpoint(supAll)
          t = tNext
        }
        i += 1
      }
      if (!done) throw new IllegalStateException(
        s"kTruss(k=$k) did not reach a fixed point in $maxIters " +
          "rounds; raise maxIters for deep-peeling graphs")
      sup
    }
    // ONE collect of the WHOLE support table when it fits the same
    // 1M-row driver budget the weak-set collect already had: the weak
    // set, the prefetch histogram and the fragile bucket then all
    // derive driver-locally (two jobs gone), and — because every
    // edge's base support is known up front — the per-round
    // base-support FETCH jobs below never fire (measured 1.7 s of
    // fixed job latency per q307 run at sf0.1). Past the budget,
    // the demand-paged path is exactly as before.
    val supAll0 = sup0.limit(1000001).collect()
    val fullSup = supAll0.length <= 1000000
    val weak0 = if (fullSup) supAll0.filter(_.getLong(2) < k - 2)
      else sup0.filter(col("support") < k - 2)
        .limit(1000001).collect()
    // SUPPORT-BUCKETED PREFETCH (round 11): edges in [k−2, k−2+Δ) are
    // not dying yet but are within Δ decrements of dying — the profile
    // showed the cascade's rounds 2..7 paging in exactly these edges'
    // neighborhoods one death-wave at a time (18.8k, 1.3k, 412, 60,
    // 15, 3 edges — each a full probe job over the triangle set).
    // Paging them WITH probe 1 makes their triangle knowledge complete
    // up front, so a later death retires driver-locally and the probe
    // count collapses to the deep-cascade tail (edges that fall > Δ).
    // Δ is chosen FROM THE SUPPORT HISTOGRAM (≤ 6 rows collected):
    // the widest Δ ≤ 4 whose bucket stays within ~2× the dying set —
    // a fixed Δ was measured WORSE on this triangle-dense graph
    // (Δ=4 swept in 500k+ edges ≈ the whole triangle set, 13.1 s vs
    // 12.0 s solo); bounding it keeps probe 1 proportional to the
    // peel's actual working set. Truncation/skip-safe: prefetch only
    // ADDS knowledge — fewer paged edges just means more probes
    // later, never a wrong answer.
    val fragile0 = if (weak0.length > 1000000) Array.empty[
      org.apache.spark.sql.Row]
    else {
      val hist: Map[Long, Long] = if (fullSup)
        supAll0.iterator.map(_.getLong(2))
          .filter(s => s >= k - 2 && s < k - 2 + 4)
          .toSeq.groupBy(identity)
          .map { case (s, xs) => s -> xs.length.toLong }
      else sup0.filter(col("support") >= k - 2 &&
          col("support") < k - 2 + 4)
        .groupBy(col("support")).agg(count(lit(1)).as("n"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val budget = math.max(50000L, 3L * weak0.length)
      var delta = 0
      var cum = 0L
      while (delta < 4 &&
          cum + hist.getOrElse((k - 2 + delta).toLong, 0L) <= budget) {
        cum += hist.getOrElse((k - 2 + delta).toLong, 0L)
        delta += 1
      }
      if (delta == 0) Array.empty[org.apache.spark.sql.Row]
      else if (fullSup) supAll0.filter(r =>
        r.getLong(2) >= k - 2 && r.getLong(2) < k - 2 + delta)
      else sup0.filter(col("support") >= k - 2 &&
          col("support") < k - 2 + delta)
        .limit(1000001).collect()
    }
    val sup: DataFrame = if (weak0.length > 1000000) {
      // all-shuffle fallback: seed round 0 with the sup0 aggregate
      // already materialized above (peelShuffle frees it after its
      // first round like any round table — the round-10 advice leak)
      peelShuffle(tri, Some(sup0))
    } else {
      import scala.collection.mutable
      // Demand-paged peel state. Knowledge is CUMULATIVE: every
      // triangle a probe ever returns is indexed by its three edges,
      // so a dying edge whose live triangles are all already known
      // retires them locally — zero cluster work. Soundness of the
      // local test: knownLive(e) ⊆ live(e) always, and |live(e)| =
      // baseSup(e) − dec(e) exactly (supports are live-triangle
      // counts by induction), so |knownLive(e)| == cur(e) proves
      // completeness. A probe returns ALL triangles containing the
      // probed edges, so probed edges resolve on the spot. In
      // practice the first probe (the round-0 weak set) pages in the
      // whole fragile neighborhood and the rest of the cascade runs
      // driver-local.
      val removedAt = mutable.HashMap.empty[(Any, Any), Int]
      val decOf = mutable.HashMap.empty[(Any, Any), Long]
      val baseSup = mutable.HashMap.empty[(Any, Any), Long]
      val retired = mutable.HashSet.empty[(Any, Any, Any)]
      val knownTri = mutable.HashSet.empty[(Any, Any, Any)]
      val triOf = mutable.HashMap
        .empty[(Any, Any), mutable.ArrayBuffer[(Any, Any, Any)]]
      def edgesOf(t: (Any, Any, Any)) =
        Seq((t._1, t._2), (t._1, t._3), (t._2, t._3))
      def cur(e: (Any, Any)): Long =
        baseSup(e) - decOf.getOrElse(e, 0L)
      val work = mutable.Queue.empty[(Any, Any)]
      // full support table in hand: every edge's base support is known,
      // so the per-round `unknown` fetch below is always empty
      if (fullSup) supAll0.foreach { r =>
        baseSup((r.get(0), r.get(1))) = r.getLong(2)
      }
      weak0.foreach { r =>
        val e = (r.get(0), r.get(1))
        baseSup(e) = r.getLong(2); removedAt(e) = 0; work += e
      }
      // fragile edges: page-in only — probed with round 1 but NEVER
      // retired from (they are not dying); their complete triangle
      // lists make later deaths driver-local
      val pageSet = mutable.ArrayBuffer.empty[(Any, Any)]
      fragile0.foreach { r =>
        val e = (r.get(0), r.get(1))
        baseSup(e) = r.getLong(2); pageSet += e
      }
      // retire t: decrement ALL its edges (removed ones too — their
      // counters must keep tracking live-triangle counts, or a dead
      // edge dequeued after a neighboring retirement would overstate
      // cur() and flunk the completeness test), queue fresh deaths
      def retire(t: (Any, Any, Any), round: Int): Unit = {
        retired += t
        for (f <- edgesOf(t)) {
          val nd = decOf.getOrElse(f, 0L) + 1L
          decOf(f) = nd
          if (!removedAt.contains(f) && baseSup(f) - nd < k - 2) {
            removedAt(f) = round; work += f
          }
        }
      }
      var escaped: DataFrame = null
      var probes = 0
      while (escaped == null && work.nonEmpty && probes <= maxIters) {
        val probeSet = mutable.ArrayBuffer.empty[(Any, Any)]
        while (work.nonEmpty) {
          val e = work.dequeue()
          val c = cur(e)
          if (c > 0L) {
            val liveKnown = triOf.getOrElse(e, mutable.ArrayBuffer.empty)
              .filterNot(retired.contains)
            if (liveKnown.length == c)
              liveKnown.foreach(retire(_, probes))
            else probeSet += e
          }
        }
        if (probeSet.nonEmpty) {
          probes += 1
          // first probe also pages the fragile bucket (prefetch);
          // retirement below still runs over the DYING edges only
          val probeRows = probeSet ++ pageSet
          pageSet.clear()
          val remRel = localDf(probeRows.map(e =>
            org.apache.spark.sql.Row(e._1, e._2)).toSeq, pairSchema())
          // ONE broadcast, not three: the round-12 profile put probe 1
          // at 1.8-2.0 s, and the three same-relation probes (left
          // join per edge position) each built their OWN broadcast of
          // the 200k-row frontier — 3× the driver serialize/ship cost
          // per probe. Exploding the triangle's three edge incidences
          // (2.4M cheap codegen rows at sf0.1) and inner-joining the
          // single broadcast returns the same touched-triangle set,
          // with a triangle appearing once PER probed edge it
          // contains (≤3×); the driver's knownTri dedup absorbs the
          // multiplicity. Same-box A/B at sf0.1: probe 1 warm
          // 1.77 → 1.03 s (cold 1.99 → 1.41), q307 solo 8.44 → 7.56 s.
          // Completeness is untouched: each incidence row of a
          // triangle meets the frontier set independently, so every
          // triangle containing a probed edge survives the join. The
          // 4M cand cap below now counts WITH multiplicity (sf0.1
          // measures 2.1×), so the shuffle escape fires earlier than
          // before — a safe-direction shift (the escape is the
          // always-correct path).
          val cand = tri
            .select(col("a"), col("b"), col("c"), explode(array(
              struct(col("a").as("x"), col("b").as("y")),
              struct(col("a").as("x"), col("c").as("y")),
              struct(col("b").as("x"), col("c").as("y")))).as("__e"))
            .select(col("a"), col("b"), col("c"),
              col("__e.x").as("x"), col("__e.y").as("y"))
            .join(broadcast(remRel.select(col("a").as("x"),
              col("b").as("y"))), Seq("x", "y"))
            .select(col("a"), col("b"), col("c"))
            .limit(4000001).collect()
          if (cand.length > 4000000 || knownTri.size > 4000000) {
            // touched-triangle volume outgrew the driver budget:
            // rebuild the live triangle set (minus everything removed
            // so far) and finish on the all-shuffle path
            val remAll = localDf(removedAt.keysIterator.map(e =>
              org.apache.spark.sql.Row(e._1, e._2)).toSeq, pairSchema())
            val liveTri = tri
              .join(broadcast(remAll), Seq("a", "b"), "left_anti")
              .join(broadcast(remAll.select(col("a"),
                col("b").as("c"))), Seq("a", "c"), "left_anti")
              .join(broadcast(remAll.select(col("a").as("b"),
                col("b").as("c"))), Seq("b", "c"), "left_anti")
              .localCheckpoint()
            // the escape re-aggregates from liveTri: the cascade's
            // sup0 and the full triangle checkpoint are dead weight
            // from here (the round-10 advice leak on this path)
            org.apache.spark.sql.graft.Bridge.unpersistCheckpoint(sup0)
            org.apache.spark.sql.graft.Bridge.unpersistCheckpoint(tri)
            escaped = peelShuffle(liveTri)
          } else {
            val fresh = mutable.ArrayBuffer.empty[(Any, Any, Any)]
            cand.foreach { r =>
              val t = (r.get(0), r.get(1), r.get(2))
              if (knownTri.add(t)) {
                fresh += t
                edgesOf(t).foreach(f =>
                  triOf.getOrElseUpdate(f,
                    mutable.ArrayBuffer.empty) += t)
              }
            }
            // base supports for every edge of the paged-in triangles
            // (one broadcast-probe of sup0; skipped when nothing new)
            val unknown = fresh.iterator.flatMap(edgesOf)
              .filterNot(baseSup.contains).toSet.toSeq
            if (unknown.nonEmpty) {
              val uRel = localDf(unknown.map(e =>
                org.apache.spark.sql.Row(e._1, e._2)), pairSchema())
              sup0.join(broadcast(uRel), Seq("a", "b")).collect()
                .foreach { r =>
                  baseSup((r.get(0), r.get(1))) = r.getLong(2)
                }
            }
            // probed edges now have complete triangle lists: retire
            for (e <- probeSet) {
              val c = cur(e)
              if (c > 0L) {
                val liveKnown = triOf.getOrElse(e,
                  mutable.ArrayBuffer.empty).filterNot(retired.contains)
                require(liveKnown.length == c,
                  s"kTruss: probe incomplete for edge $e")
                liveKnown.foreach(retire(_, probes))
              }
            }
          }
        }
      }
      if (escaped != null) escaped
      else if (work.nonEmpty) throw new IllegalStateException(
        s"kTruss(k=$k) did not reach a fixed point in $maxIters " +
          "rounds; raise maxIters for deep-peeling graphs")
      else {
        val removedRows = removedAt.keysIterator.map(e =>
          org.apache.spark.sql.Row(e._1, e._2)).toSeq
        val decRows = decOf.iterator
          .filter { case (e, _) => !removedAt.contains(e) }
          .map { case ((x, y), dd) =>
            org.apache.spark.sql.Row(x, y, dd) }.toSeq
        val afterRm = if (removedRows.isEmpty) sup0 else sup0
          .join(broadcast(localDf(removedRows, pairSchema())
            .withColumn("__rm", lit(true))), Seq("a", "b"), "left")
          .filter(col("__rm").isNull)
        val folded = if (decRows.isEmpty) afterRm else afterRm
          .join(broadcast(localDf(decRows, pairSchema(
            org.apache.spark.sql.types.StructField("__dec",
              org.apache.spark.sql.types.LongType, nullable = false)))),
            Seq("a", "b"), "left")
          .select(col("a"), col("b"),
            (col("support") - coalesce(col("__dec"), lit(0L)))
              .as("support"))
        // the output references only sup0's checkpoint — the triangle
        // set is free to go
        org.apache.spark.sql.graft.Bridge.unpersistCheckpoint(tri)
        folded.select(col("a"), col("b"), col("support"))
      }
    }
    sup.select(col("a").as("node_a"), col("b").as("node_b"),
      col("support"))
  }

  /** Adaptive triangle enumeration over a value-NORMALIZED distinct
    * edge list `e` (columns a < b, no duplicates — callers prep with
    * least/greatest + distinct). Two plans produce the same triangle
    * set, chosen by a bounded 1-row aggregate (max HIGHER-degree +
    * edge count — the statistic that bounds the intersect branch):
    *
    *  - VALUE-ORDER ADJACENCY INTERSECT (default): one groupBy packs
    *    each node's sorted higher-neighbor list, two joins attach both
    *    endpoints' lists to every edge, array_intersect emits the
    *    closing nodes. No wedge stream ever materializes or shuffles —
    *    measured 2.1 s vs 3.9 s for the e ⋈ e ⋈ e wedge join on the
    *    841k-edge co-purchase graph (same 811,516 triangles), and it
    *    replaced the oriented wedge join in q131/q178 (whose dominant
    *    cost was sorting/probing tens of millions of wedge rows). A
    *    degree-ORIENTED intersect variant was measured ~2× slower
    *    here: the two degree-attach shuffles cost more than the
    *    O(√m) list bound buys on a low-skew graph.
    *  - DEGREE-ORIENTED WEDGE JOIN (hub graphs): orient a→b iff
    *    (deg(a), a) < (deg(b), b), carrying each dst's (deg, id) key
    *    so the wedge join orders endpoints without a global
    *    relabeling pass; fan-out caps at O(√m) on ANY skew. Engaged
    *    only when the max higher-degree exceeds 2·√(2m) — past that
    *    point the value-order adjacency payloads (and the intersect
    *    merge cost) grow with the hub, while orientation's fixed join
    *    overhead stays flat. The adaptive-planning posture AQE takes
    *    for join strategies, applied to a shape AQE cannot see.
    *
    * Returns one (a, b, c) row per triangle in VALUE order (a<b<c). */
  def triangles(e: DataFrame): DataFrame = {
    val degStats = e.groupBy(col("a")).agg(count(lit(1)).as("__dg"))
      .agg(max(col("__dg")).as("mx"), sum(col("__dg")).as("tot"))
      .collect()(0)
    val skewed = !degStats.isNullAt(0) && {
      val m = degStats.getLong(1)
      degStats.getLong(0).toDouble > 2.0 * math.sqrt(2.0 * m)
    }
    if (!skewed) {
      val adjHi = e.groupBy(col("a"))
        .agg(sort_array(collect_list(col("b"))).as("__nbrs"))
      // Edges re-derived FROM the adjacency (b = __nbrs[i]) instead of a
      // join of e against adjHi: the old attach join was a full
      // SortMergeJoin (exchange + two sorts) whose only product was a row
      // the adjacency already contains. And the payload attached for the
      // second endpoint is only the sorted SUFFIX past b: every element
      // of L_b is > b, so elements of L_a ≤ b can never intersect —
      // dropping them BEFORE the exchange (§2.3 project early) cuts the
      // shuffled array bytes from Σ_edges |L_a| = Σ dh² to Σ_a C(dh,2)
      // (measured 54M → 26.5M longs on the sf0.1 co-purchase graph, and
      // the removed attach join was another 453 MiB exchange + sorts).
      val withSfx = adjHi
        .select(col("a"), col("__nbrs"),
          posexplode(col("__nbrs")).as(Seq("__i", "b")))
        .select(col("a"), col("b"),
          slice(col("__nbrs"), col("__i") + lit(2),
            size(col("__nbrs"))).as("__sa"))
        .filter(size(col("__sa")) > 0)
      // Both lists are sorted + distinct by construction, so on long node
      // ids the intersect runs as the native merge-walk kernel
      // (bit-identical result; array_intersect boxes every element into a
      // per-row OpenHashSet — the measured GC driver of this family).
      // shuffle_hash on the adjacency side: the build side is the packed
      // per-partition adjacency (O(|E|/R) bytes with data-sized R), and
      // the hint removes the TWO sorts a sort-merge join would run — one
      // of them over the suffix stream, the plan's widest intermediate.
      def intersect(x: Column, y: Column): Column =
        e.schema("a").dataType match {
          case LongType => graft.functions.SortedLongIntersect(x, y)
          case _ => array_intersect(x, y)
        }
      withSfx
        .join(adjHi.select(col("a").as("b"), col("__nbrs").as("__nb"))
          .hint("shuffle_hash"), Seq("b"))
        .select(col("a"), col("b"),
          explode(intersect(col("__sa"), col("__nb"))).as("c"))
    } else {
      val deg = e.select(col("a").as("n")).unionAll(
          e.select(col("b").as("n")))
        .groupBy(col("n")).agg(count(lit(1)).as("__dg"))
      val oriented = e
        .join(deg.withColumnsRenamed(Map("n" -> "a", "__dg" -> "__da")),
          "a")
        .join(deg.withColumnsRenamed(Map("n" -> "b", "__dg" -> "__db")),
          "b")
        .select(
          when(struct(col("__da"), col("a")) <
              struct(col("__db"), col("b")),
            struct(col("a").as("src"), col("b").as("dst"),
              struct(col("__db").as("d"), col("b").as("i")).as("k")))
          .otherwise(
            struct(col("b").as("src"), col("a").as("dst"),
              struct(col("__da").as("d"), col("a").as("i")).as("k")))
          .as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"),
          col("e.k").as("k"))
      // oriented is consumed 3× (two wedge legs + the closer) as
      // IDENTICAL subtrees — ReuseExchange dedupes the shuffle, so a
      // checkpoint here would only add a full extra materialization
      val wedges = oriented.select(col("src"), col("dst").as("v"),
          col("k").as("kv"))
        .join(oriented.select(col("src"), col("dst").as("w"),
          col("k").as("kw")), Seq("src"))
        .filter(col("kv") < col("kw"))
      // back to VALUE order (a<b<c): array_sort is generic over the
      // label type, so string node ids sort too
      val srt = array_sort(array(col("src"), col("v"), col("w")))
      wedges
        .join(oriented.select(col("src").as("v"), col("dst").as("w")),
          Seq("v", "w"), "left_semi")
        .select(element_at(srt, 1).as("a"), element_at(srt, 2).as("b"),
          element_at(srt, 3).as("c"))
    }
  }

  /** Multi-source BFS hop distance over an UNDIRECTED edge list:
    * returns `(node, hops)` for every node reachable from `seeds`
    * within `maxHops` hops (seeds themselves at hops 0; unreachable
    * nodes are absent). Level-synchronous frontier expansion — the
    * textbook distributed BFS: each round is one hash join of the
    * frontier onto the adjacency list plus one anti-join against the
    * visited set, all partitioned on the node key, so a round's cost
    * is proportional to the edges TOUCHED by the frontier, never the
    * whole graph. The frontier and visited set are localCheckpoint'ed
    * per round and the previous round's blocks are freed through the
    * Bridge ([[pageRank]] discipline); the loop exits early once a
    * frontier comes back empty. Bounded `maxHops` keeps the result
    * oracle-checkable (a recursive SQL walk with the same cap) and is
    * the honest cluster contract: unbounded BFS on a 100 TB graph is
    * a diameter-length chain of barriers.
    */
  def bfsHops(edges: DataFrame, srcCol: String, dstCol: String,
              seeds: DataFrame, seedCol: String,
              maxHops: Int): DataFrame = {
    require(maxHops >= 1)
    val norm = edges.select(
        least(col(srcCol), col(dstCol)).as("__lo"),
        greatest(col(srcCol), col(dstCol)).as("__hi"))
      .filter(col("__lo") =!= col("__hi"))
      .distinct()
    // hash-partition the doubled adjacency on the probe key BEFORE the
    // checkpoint: LogicalRDD keeps the partitioning, so when a round's
    // frontier is too big to broadcast the join reuses this layout and
    // only the frontier shuffles — the graph never moves again
    val doubled = norm
      .select(col("__lo").as("__w"), col("__hi").as("__n"))
      .unionAll(norm.select(col("__hi").as("__w"),
        col("__lo").as("__n")))
    val PlannedAdj(adj, adjRows, disk, nBuckets) =
      planAdjacency(doubled, "__w")
    var frontier = seeds.select(col(seedCol).as("node")).distinct()
      .localCheckpoint()
    var frontierN = frontier.count()
    var visited = frontier.withColumn("hops", lit(0)).localCheckpoint()
    var visitedN = frontierN
    var h = 1
    var done = frontierN == 0L
    try {
    while (!done && h <= maxHops) {
      // shuffle_hash on the frontier: once the frontier outgrows the
      // broadcast threshold (measured at the 100× probe decade) Spark
      // would otherwise SORT-MERGE this join — i.e. sort the full
      // cached adjacency EVERY round (17.6× on the second probe
      // decade). The hint builds a hash table of the (small) frontier
      // per partition and streams adj in place — adj is already
      // hash-partitioned on __w from before its checkpoint, so only
      // the frontier moves. The visited anti-join keeps the same hint
      // only while visited is provably hash-table-sized
      // (HashHintMaxRows); past that it reverts to sort-merge, whose
      // spill path is the correct behavior for an O(V) build side —
      // and THAT is where the FRONTIER BLOOM PUSHDOWN engages: a
      // 2%-fpp filter over the frontier's keys probed inside the
      // adjacency scan, cutting the sort-merge's adjacency-side sort
      // input from Θ(|E|) to the frontier's neighborhood. In the hash
      // regime the filter is measured pure overhead (see [[BloomForceKey]])
      // — the hinted join already probes an O(1) hash per row.
      // Exactness is untouched either way: false positives only leak
      // rows into the exact join behind the filter.
      val sortMergeRegime = visitedN > HashHintMaxRows
      val vis = visited.select(col("node"))
      val visSide = if (!sortMergeRegime) vis.hint("shuffle_hash")
        else vis
      val probed = if (disk.isDefined) {
        // disk-bucketed regime: join on (__bk, __w) with the frontier's
        // bucket set pushed into the scan as a STATIC partition filter
        // (round-14 plan-assertion finding: the r12 design leaned on
        // DPP, but Spark's PartitionPruning rule only injects the
        // runtime filter when the probe side carries a selective
        // predicate — a checkpointed frontier never does, so the
        // shipped path full-scanned every round. The frontier is
        // already materialized and bounded, so its distinct bucket ids
        // — at most min(frontierN, buckets) values — are one tiny
        // collect, and the resulting IN filter prunes the FILE LISTING
        // deterministically, no optimizer heuristics involved.)
        val fB = frontier
          .withColumn("__bk",
            pmod(xxhash64(col("node")), lit(nBuckets)).cast("int"))
          .withColumnRenamed("node", "__w")
        if (frontierN <= BloomMaxItems) {
          val bks = fB.select(col("__bk")).distinct()
            .collect().map(_.getInt(0))
          // a frontier that covers every bucket prunes nothing — skip
          // the degenerate IN(all) filter
          val pruned = if (bks.length < nBuckets)
            adj.filter(col("__bk").isin(bks.map(Int.box): _*))
          else adj
          pruned.join(broadcast(fB), Seq("__bk", "__w"))
        } else adj.join(fB, Seq("__bk", "__w"))
      } else {
        val fAdj = if ((sortMergeRegime || bloomForced(adj)) &&
            frontierN <= BloomMaxItems && frontierN * 4 <= adjRows)
          adj.filter(frontierBloomFilter(frontier, "node", frontierN,
            col("__w")))
        else adj
        fAdj.join(frontier.withColumnRenamed("node", "__w")
          .hint("shuffle_hash"), Seq("__w"))
      }
      val next = probed
        .select(col("__n").as("node")).distinct()
        .join(visSide, Seq("node"), "left_anti")
        .localCheckpoint()
      org.apache.spark.sql.graft.Bridge.unpersistCheckpoint(frontier)
      frontier = next
      frontierN = frontier.count()
      if (frontierN == 0L) { done = true }
      else {
        val nv = visited
          .unionAll(frontier.withColumn("hops", lit(h)))
          .localCheckpoint()
        org.apache.spark.sql.graft.Bridge.unpersistCheckpoint(visited)
        visited = nv
        visitedN += frontierN
      }
      h += 1
    }
    if (disk.isEmpty)
      org.apache.spark.sql.graft.Bridge.unpersistCheckpoint(adj)
    org.apache.spark.sql.graft.Bridge.unpersistCheckpoint(frontier)
    // the final visited checkpoint is the return value, caller-owned
    visited
    } finally {
      // the returned visited table is checkpointed per round, so the
      // scratch layout is droppable the moment the loop exits — and
      // it must not LEAK if the loop throws (job cancellation,
      // executor loss), hence the finally (round-12 advice item)
      disk.foreach(dir => deleteScratch(visited, dir))
    }
  }

  /** Bounded-hop single/multi-source shortest path over an UNDIRECTED
    * weighted edge list (LONG weights ≥ 0 — integer costs keep every
    * relaxation exact, so the result is engine-checkable): returns
    * `(node, dist)` for nodes reachable from `seeds` within `maxHops`
    * edges, `dist` = cheapest such path. Level-synchronous Bellman-Ford
    * relaxation: each round joins the CHANGED frontier (not the full
    * distance table) onto the adjacency, takes the per-node min of the
    * proposals, and keeps only strict improvements — so a round's cost
    * is proportional to edges touched by still-improving nodes, and
    * the loop exits early once nothing improves. Same checkpoint/free
    * discipline as [[bfsHops]]; the hop cap is the honest cluster
    * contract (and what makes a recursive-walk SQL oracle finite).
    */
  def ssspHops(edges: DataFrame, srcCol: String, dstCol: String,
               wCol: String, seeds: DataFrame, seedCol: String,
               maxHops: Int): DataFrame = {
    require(maxHops >= 1)
    val norm = edges.select(
        least(col(srcCol), col(dstCol)).as("__lo"),
        greatest(col(srcCol), col(dstCol)).as("__hi"),
        col(wCol).cast("long").as("__w"))
      .filter(col("__lo") =!= col("__hi") && col("__w") >= 0)
      .groupBy(col("__lo"), col("__hi"))
      .agg(min(col("__w")).as("__w")) // parallel edges: cheapest wins
    val doubled = norm
      .select(col("__lo").as("__s"), col("__hi").as("__n"), col("__w"))
      .unionAll(norm.select(col("__hi").as("__s"),
        col("__lo").as("__n"), col("__w")))
    // opt-in disk-bucketed adjacency — see [[AdjScratchKey]]/bfsHops
    val PlannedAdj(adj, adjRows, disk, nBuckets) =
      planAdjacency(doubled, "__s")
    var dist = seeds.select(col(seedCol).as("node")).distinct()
      .withColumn("dist", lit(0L)).localCheckpoint()
    var frontier = dist
    var frontierN = frontier.count()
    // upper bound on |dist| for the hint gate: dist gains at most the
    // frontier's rows per round (improved rows replace, new rows add)
    var distN = frontierN
    var h = 1
    var done = frontierN == 0L
    try {
    while (!done && h <= maxHops) {
      // proposals from the frontier only; min per node, then keep
      // strict improvements vs the current distance table.
      // Gated shuffle_hash + sort-merge-regime Bloom: see [[bfsHops]]
      // — while dist fits a per-partition hash table the hinted plan
      // is measured best (a bloom there was +23% at the 10× probe);
      // past the gate the plan reverts to spill-safe sort-merge and
      // the frontier Bloom cuts the adjacency-side sort input to the
      // frontier's neighborhood (false positives only leak rows into
      // the exact join).
      val sortMergeRegime = distN > HashHintMaxRows
      val distSide = if (!sortMergeRegime)
        dist.hint("shuffle_hash") else dist
      val probed = if (disk.isDefined) {
        // static bucket-set partition filter — see [[bfsHops]]'s disk
        // branch for why this replaces the DPP assumption
        val fB = frontier
          .withColumn("__bk",
            pmod(xxhash64(col("node")), lit(nBuckets)).cast("int"))
          .withColumnRenamed("node", "__s")
        if (frontierN <= BloomMaxItems) {
          val bks = fB.select(col("__bk")).distinct()
            .collect().map(_.getInt(0))
          val pruned = if (bks.length < nBuckets)
            adj.filter(col("__bk").isin(bks.map(Int.box): _*))
          else adj
          pruned.join(broadcast(fB), Seq("__bk", "__s"))
        } else adj.join(fB, Seq("__bk", "__s"))
      } else {
        val fAdj = if ((sortMergeRegime || bloomForced(adj)) &&
            frontierN <= BloomMaxItems && frontierN * 4 <= adjRows)
          adj.filter(frontierBloomFilter(frontier, "node", frontierN,
            col("__s")))
        else adj
        fAdj.join(frontier.withColumnRenamed("node", "__s")
          .hint("shuffle_hash"), Seq("__s"))
      }
      val next = probed
        .groupBy(col("__n").as("node"))
        .agg(min(col("dist") + col("__w")).as("__cand"))
        .join(distSide, Seq("node"), "left")
        .filter(col("dist").isNull || col("__cand") < col("dist"))
        .select(col("node"), col("__cand").as("dist"))
        .localCheckpoint()
      if (frontier ne dist)
        org.apache.spark.sql.graft.Bridge.unpersistCheckpoint(frontier)
      frontier = next
      frontierN = frontier.count()
      if (frontierN == 0L) { done = true }
      else {
        val nd = dist.join(frontier.select(col("node")), Seq("node"),
            "left_anti")
          .unionAll(frontier)
          .localCheckpoint()
        org.apache.spark.sql.graft.Bridge.unpersistCheckpoint(dist)
        dist = nd
        distN += frontierN
      }
      h += 1
    }
    if (disk.isEmpty)
      org.apache.spark.sql.graft.Bridge.unpersistCheckpoint(adj)
    if (frontier ne dist)
      org.apache.spark.sql.graft.Bridge.unpersistCheckpoint(frontier)
    dist
    } finally {
      // scratch must not leak when the loop throws — see bfsHops
      disk.foreach(dir => deleteScratch(dist, dir))
    }
  }

  /** BOM EXPLOSION — weighted transitive closure over a DAG: for each
    * root, every reachable descendant with its TOTAL effective
    * multiplicity (sum over all paths of the product of edge
    * quantities), minimum depth, and path count. The recursive-query
    * operator class (SQL's `WITH RECURSIVE` over parts/assemblies,
    * org charts, account rollups), computed level-synchronously.
    *
    * The scale property that matters: the frontier is aggregated per
    * (root, node) EVERY round — multiplicity sums, path counts, and
    * min-depth all combine in the (+, ×) / (+) / (min, +1) semirings,
    * so path-level rows never materialize. A path-enumerating plan is
    * exponential in depth on reconvergent DAGs (a diamond ladder of
    * depth d has 2^d paths but only d·|roots| aggregated rows); this
    * one is bounded by |roots| × |nodes| per round regardless of path
    * structure. Each round is one hash join (frontier ⋈ edges on the
    * node key — the same partitioning every round, so the exchange
    * reuses) + one hash aggregate; frontiers are localCheckpoint'ed
    * and freed on the [[pageRank]] discipline.
    *
    * THROWS if `maxDepth` rounds leave a non-empty frontier: on a DAG
    * that means the depth bound is too small; on a cyclic input the
    * closure is infinite and returning the partial sum would be a
    * plausible-looking wrong answer (same contract as [[kCore]]).
    *
    * Returns (root, node, total_mult, min_depth, n_paths) — one row
    * per reachable (root, descendant) pair, roots excluded. */
  def bomExplode(edges: DataFrame, parentCol: String, childCol: String,
                 qtyCol: String, roots: DataFrame, rootCol: String,
                 maxDepth: Int = 32): DataFrame = {
    require(maxDepth >= 1)
    val e = edges.select(col(parentCol).as("__p"), col(childCol).as("__c"),
        col(qtyCol).cast("long").as("__q"))
      .localCheckpoint()
    val r = roots.select(col(rootCol).as("__root")).distinct()
    // fixed column order throughout: unionAll is position-based
    var frontier = e
      .join(broadcast(r), col("__p") === col("__root"), "left_semi")
      .groupBy(col("__p").as("root"), col("__c").as("node"))
      .agg(sum(col("__q")).as("mult"), count(lit(1)).as("n_paths"))
      .select(col("root"), col("node"), col("mult"),
        lit(1).as("depth"), col("n_paths"))
      .localCheckpoint()
    var acc = frontier
    var depth = 1
    while (!frontier.isEmpty && depth < maxDepth) {
      val next = frontier
        .join(e, col("node") === col("__p"))
        .groupBy(col("root"), col("__c").as("__node"))
        .agg(sum(col("mult") * col("__q")).as("mult"),
          sum(col("n_paths")).as("n_paths"))
        .select(col("root"), col("__node").as("node"), col("mult"),
          lit(depth + 1).as("depth"), col("n_paths"))
        .localCheckpoint()
      // round 1 aliases acc and frontier — freeing the shared blocks
      // here would yank them out from under the accumulator's union
      if (frontier ne acc)
        org.apache.spark.sql.graft.Bridge.unpersistCheckpoint(frontier)
      frontier = next
      if (!frontier.isEmpty) {
        val na = acc.unionAll(frontier).localCheckpoint()
        org.apache.spark.sql.graft.Bridge.unpersistCheckpoint(acc)
        acc = na
      }
      depth += 1
    }
    if (!frontier.isEmpty) throw new IllegalStateException(
      s"bomExplode did not exhaust the DAG in $maxDepth rounds; " +
        "raise maxDepth (or the input has a cycle — the closure of a " +
        "cyclic graph is infinite)")
    // different rounds reach the same (root, node) by paths of
    // different lengths; the final combine is the same semiring
    acc.groupBy(col("root"), col("node"))
      .agg(sum(col("mult")).as("total_mult"),
        min(col("depth")).as("min_depth"),
        sum(col("n_paths")).as("n_paths"))
  }

  /** CRITICAL-PATH METHOD (CPM / PERT) over a task DAG: per task the
    * earliest finish, the longest remaining tail, total float (slack),
    * and the critical flag — the longest-path problem, which is
    * [[bomExplode]]'s closure run in the (max, +) SEMIRING instead of
    * (+, ×): per round the frontier aggregates `max(len + dur)` per
    * node, so path-level rows never materialize (a reconvergent
    * diamond ladder has 2^depth paths but at most |nodes| frontier
    * rows per round). Two passes share one edge table annotated with
    * the successor's duration:
    *
    *   ef(n) = dur(n) + max over predecessors p of ef(p)   (0 at sources)
    *   lt(n) = max over successors c of (lt(c) + dur(c))   (0 at sinks)
    *
    * then with T = max ef over all nodes (attained at a sink — ef is
    * monotone along edges), slack(n) = T − ef(n) − lt(n) ≥ 0, and the
    * critical tasks are exactly slack = 0. Pure integer arithmetic:
    * durations are cast to long, so two engines computing the same
    * recurrences agree exactly (the q255 oracle replays both passes as
    * path-enumerating recursive CTEs — max-of-sums equals the
    * level-synchronous max-aggregation by the (max,+) distributivity,
    * which is precisely what the hash compare certifies).
    *
    * Propagation is level-synchronous over ALL of a round's arrivals
    * (not Bellman-Ford's improved-only frontier): on a DAG the round
    * count is the hop depth, and re-proposals from non-final values
    * are monotonically absorbed by the final per-node max — one hash
    * join + one hash aggregate per round, frontiers checkpointed and
    * freed on the [[pageRank]] discipline, nothing on the driver.
    *
    * THROWS if `maxDepth` rounds leave a non-empty frontier — on a
    * cyclic input the longest path is infinite and a partial answer
    * would be a plausible-looking wrong one (the [[bomExplode]]
    * contract).
    *
    * Returns (node, dur, ef, lt, slack, is_critical). */
  def criticalPath(nodes: DataFrame, nodeCol: String, durCol: String,
                   edges: DataFrame, predCol: String, succCol: String,
                   maxDepth: Int = 64): DataFrame = {
    require(maxDepth >= 1)
    val n = nodes.select(col(nodeCol).as("node"),
        col(durCol).cast("long").as("dur"))
      .localCheckpoint()
    // one edge table for both passes, successor duration riding along:
    // forward adds __cd on arrival at __c, backward adds __cd leaving __c
    val e = edges.select(col(predCol).as("__p"), col(succCol).as("__c"))
      .distinct()
      .join(n.select(col("node").as("__c"), col("dur").as("__cd")),
        Seq("__c"))
      .localCheckpoint()

    // one (max,+) closure, shared by both passes: from `start` rows
    // (node, len), repeatedly len' = max(len + dur(step-target)) per
    // node along `fromCol`→`toCol`, accumulating every round's
    // arrivals; final answer = max per node over all rounds
    def closure(start: DataFrame, fromCol: String, toCol: String,
                outCol: String): DataFrame = {
      // each round's frontier is checkpointed once and BUFFERED; the
      // final answer unions the flat buffer in one pass instead of
      // re-checkpointing a growing accumulator every round (which
      // re-materializes O(rounds²) rows). Together with running the
      // two passes concurrently below, q255 at sf0.1 measured
      // 4.4 s → 2.5 s. The union of k checkpointed frontiers has
      // lineage depth 1, so nothing re-derives.
      val rounds = collection.mutable.ListBuffer.empty[DataFrame]
      var frontier = start.localCheckpoint()
      rounds += frontier
      var depth = 1
      while (!frontier.isEmpty && depth < maxDepth) {
        val next = frontier
          .withColumnRenamed("node", fromCol)
          .join(e, Seq(fromCol))
          .groupBy(col(toCol).as("node"))
          .agg(max(col("len") + col("__cd")).as("len"))
          .localCheckpoint()
        frontier = next
        if (!frontier.isEmpty) rounds += frontier
        depth += 1
      }
      if (!frontier.isEmpty) throw new IllegalStateException(
        s"criticalPath did not exhaust the DAG in $maxDepth rounds; " +
          "raise maxDepth (or the input has a cycle — the longest " +
          "path of a cyclic graph is infinite)")
      rounds.reduce(_ unionAll _)
        .groupBy(col("node")).agg(max(col("len")).as(outCol))
    }

    // the two passes are INDEPENDENT (shared state is only the
    // checkpointed e/n) — submit them from two driver threads so the
    // ~depth small jobs of each interleave in the scheduler instead
    // of serializing ~2·depth rounds of fixed overhead
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    // forward: sources (no incoming edge) start at their own duration
    val efF = Future(closure(
      n.join(e.select(col("__c").as("node")).distinct(),
          Seq("node"), "left_anti")
        .select(col("node"), col("dur").as("len")),
      "__p", "__c", "ef"))
    // backward: sinks (no outgoing edge) start at tail 0; the step
    // pred ← succ adds the SUCCESSOR's duration — the same __cd
    val ltF = Future(closure(
      n.join(e.select(col("__p").as("node")).distinct(),
          Seq("node"), "left_anti")
        .select(col("node"), lit(0L).as("len")),
      "__c", "__p", "lt"))
    val ef = Await.result(efF, Duration.Inf)
    val lt = Await.result(ltF, Duration.Inf)
    // CYCLE GUARD, part two: the in-loop maxDepth throw only fires for
    // cycles REACHABLE from a source/sink. A component with no source
    // at all (A→B plus B→A) never enters either start frontier, both
    // closures exit cleanly, and the final inner joins would silently
    // drop its nodes — a plausible-looking partial answer. Every node
    // of a true DAG lies on a source→sink path, so ef/lt covering
    // fewer nodes than the input is proof of a source-less (or
    // sink-less) cycle. Three 1-row count jobs over checkpointed
    // frames — driver-side constants, not data movement.
    val nCount = n.count()
    val efCount = ef.count()
    val ltCount = lt.count()
    if (efCount < nCount || ltCount < nCount) throw new IllegalStateException(
      s"criticalPath input is not a DAG: ${nCount - math.min(efCount, ltCount)} " +
        "node(s) unreachable from any source/sink — a source-less or " +
        "sink-less cycle (e.g. A→B plus B→A); the longest path of a " +
        "cyclic graph is infinite")
    // project duration: 1-row aggregate, broadcast onto every node
    val t = ef.agg(max(col("ef")).as("__t"))
    // n and e stay checkpointed — the returned plan still reads n, and
    // truncated lineage cannot rebuild dropped blocks; the session-level
    // cache clear (Bench/Verify per query) reclaims them
    n.join(ef, Seq("node")).join(lt, Seq("node"))
      .crossJoin(broadcast(t))
      .select(col("node"), col("dur"), col("ef"), col("lt"),
        (col("__t") - col("ef") - col("lt")).as("slack"),
        (col("__t") === col("ef") + col("lt")).as("is_critical"))
  }

  /** Synchronous min-label propagation over a DIRECTED edge list (pass
    * both directions for an undirected graph), fixed `iters` rounds:
    *
    *   l_{r+1}(v) = min( l_r(v), min_{(u,v)∈E} l_r(u) )
    *
    * with l_0(v) = v (the node's own id; labels order lexicographically
    * — both engines compare strings bytewise). The synchronous rule
    * with a fixed round count is a deterministic function of the graph
    * (unlike the usual randomized-order LPA), so it oracle-checks by
    * unrolling the rounds as SQL CTEs; run to the graph's diameter it
    * converges to connected components — at a fixed small `iters` it is
    * the bounded-frontier community view (each label has flooded its
    * `iters`-hop ball), the per-round cost one labels⋈edges join + one
    * per-destination min aggregate, both hash-partitioned on the node
    * key. Per-round state is one (node, label) row per node,
    * localCheckpoint'ed eagerly and freed once the next round has
    * materialized (the [[pageRank]] lineage discipline — a lazy chain
    * re-derives round r 2^r times). */
  def labelPropagate(edges: DataFrame, srcCol: String, dstCol: String,
                     iters: Int = 3): DataFrame = {
    require(iters >= 1)
    val e = edges.select(col(srcCol).as("__src"), col(dstCol).as("__dst"))
      .distinct().localCheckpoint()
    var labels = e.select(col("__src").as("node"))
      .unionAll(e.select(col("__dst").as("node")))
      .distinct()
      .withColumn("label", col("node"))
      .localCheckpoint()
    var prevCk = labels
    for (_ <- 1 to iters) {
      val nbrMin = labels.join(e, col("node") === col("__src"))
        .groupBy(col("__dst").as("node"))
        .agg(min(col("label")).as("__nl"))
      labels = labels.join(nbrMin, Seq("node"), "left")
        .select(col("node"),
          least(col("label"), coalesce(col("__nl"), col("label")))
            .as("label"))
        .localCheckpoint()
      org.apache.spark.sql.graft.Bridge.unpersistCheckpoint(prevCk)
      prevCk = labels
    }
    org.apache.spark.sql.graft.Bridge.unpersistCheckpoint(e)
    labels
  }
}
