package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class GraphSpec extends SparkSpec {
  import spark.implicits._

  /** Independent reference power iteration (plain Scala maps). */
  private def pageRankRef(edges: Seq[(String, String)], d: Double,
                          iters: Int): Map[String, Double] = {
    val e = edges.distinct
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct.sorted
    val n = nodes.length
    val out = e.groupBy(_._1).map { case (s, es) => s -> es.length }
    var r = nodes.map(_ -> 1.0 / n).toMap
    (1 to iters).foreach { _ =>
      val dangling = nodes.filterNot(out.contains).map(r).sum
      val in = e.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (s, _) => r(s) / out(s) }.sum
      }
      r = nodes.map(v => v -> ((1.0 - d) / n +
        d * (in.getOrElse(v, 0.0) + dangling / n))).toMap
    }
    r
  }

  test("disk adjacency scratch base: first non-blank spark.local.dir " +
      "entry, else java.io.tmpdir") {
    val tmp = System.getProperty("java.io.tmpdir", "/tmp")
    assert(Graph.localScratchDir(Some("/a,/b")) === "/a")
    assert(Graph.localScratchDir(Some(" /a ")) === "/a")
    assert(Graph.localScratchDir(Some("/a")) === "/a")
    assert(Graph.localScratchDir(Some(" , /b")) === "/b")
    assert(Graph.localScratchDir(None) === tmp)
    assert(Graph.localScratchDir(Some(" ")) === tmp)
  }

  test("pageRank matches reference on a seeded digraph WITH sinks") {
    val rnd = new scala.util.Random(11)
    // 30 nodes, ~90 random edges; nodes 27..29 get no out-edges (sinks)
    val edges = Seq.fill(90)(
      (s"n${rnd.nextInt(27)}", s"n${rnd.nextInt(30)}"))
      .filter { case (a, b) => a != b }.distinct
    assert(edges.map(_._2).distinct.exists(d =>
      !edges.map(_._1).contains(d)), "fixture must contain a sink")
    val ref = pageRankRef(edges, 0.85, 10)
    val got = Graph.pageRank(edges.toDF("src", "dst"), "src", "dst",
        damping = 0.85, iters = 10)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got.keySet === ref.keySet)
    got.foreach { case (node, rank) =>
      assert(math.abs(rank - ref(node)) < 1e-9,
        s"$node: $rank vs ${ref(node)}")
    }
    // mass conservation: the dangling redistribution keeps Σr = 1
    assert(math.abs(got.values.sum - 1.0) < 1e-9)
  }

  /** Independent reference peeling (plain Scala sets). */
  private def kCoreRef(edges: Seq[(String, String)], k: Int)
      : Map[String, Int] = {
    var e = edges.flatMap { case (a, b) => Seq((a, b), (b, a)) }.distinct
    var changed = true
    while (changed && e.nonEmpty) {
      val deg = e.groupBy(_._1).map { case (n, es) => n -> es.length }
      val keep = deg.filter(_._2 >= k).keySet
      val ne = e.filter { case (a, b) => keep(a) && keep(b) }
      changed = ne.length != e.length
      e = ne
    }
    e.groupBy(_._1).map { case (n, es) => n -> es.length }
      .filter(_._2 >= k)
  }

  test("kCore matches reference peeling on a seeded graph") {
    val rnd = new scala.util.Random(7)
    // clique of 6 (5-core) + sparse periphery that must peel away in
    // cascades (a path hanging off the clique peels one hop per round)
    val clique = for {
      i <- 0 until 6; j <- (i + 1) until 6
    } yield (s"c$i", s"c$j")
    val path = (0 until 5).map(i => (s"p$i", s"p${i + 1}")) :+
      (("c0", "p0"))
    val noise = Seq.fill(40)(
      (s"x${rnd.nextInt(15)}", s"x${rnd.nextInt(15)}"))
      .filter { case (a, b) => a != b }.distinct
    val edges = (clique ++ path ++ noise).distinct
    for (k <- Seq(2, 3, 5)) {
      val ref = kCoreRef(edges, k)
      val got = Graph.kCore(edges.toDF("src", "dst"), "src", "dst", k)
        .collect().map(r => r.getString(0) -> r.getLong(1).toInt).toMap
      assert(got === ref, s"k=$k")
    }
    // 6-core of this graph is empty — the loop must terminate on the
    // all-peeled fixed point, not spin
    assert(Graph.kCore(edges.toDF("src", "dst"), "src", "dst", 6)
      .count() === 0L)
    // idempotence: the k-core of the k-core is itself
    val core3 = kCoreRef(edges, 3)
    val coreEdges = edges.filter { case (a, b) =>
      core3.contains(a) && core3.contains(b) }
    val again = Graph.kCore(coreEdges.toDF("src", "dst"), "src", "dst", 3)
      .collect().map(r => r.getString(0) -> r.getLong(1).toInt).toMap
    assert(again === core3)
  }

  /** Independent reference truss peeling (plain Scala sets): drop
    * edges whose triangle support within the survivors is < k−2. */
  private def kTrussRef(edges: Seq[(String, String)], k: Int)
      : Map[(String, String), Int] = {
    def norm(e: (String, String)) =
      if (e._1 < e._2) e else (e._2, e._1)
    var es = edges.filter(e => e._1 != e._2).map(norm).distinct.toSet
    var changed = true
    var sup = Map.empty[(String, String), Int]
    while (changed && es.nonEmpty) {
      val nbr = (es.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) })
        .groupBy(_._1).map { case (n, ps) => n -> ps.map(_._2).toSet }
      sup = es.toSeq.map { case (a, b) =>
        (a, b) -> (nbr(a) intersect nbr(b)).size
      }.toMap
      val keep = es.filter(e => sup(e) >= k - 2)
      changed = keep.size != es.size
      es = keep
    }
    es.toSeq.map(e => e -> sup(e)).toMap
  }

  test("kTruss matches reference peeling; star has no truss; truss of " +
      "truss is itself") {
    val rnd = new scala.util.Random(13)
    // two 4-cliques sharing an edge + a pendant triangle + noise: the
    // 4-truss is exactly the two cliques (every clique edge closes ≥2
    // triangles; the pendant triangle's edges close 1 and peel)
    def clique(p: String, n: Int) = for {
      i <- 0 until n; j <- (i + 1) until n
    } yield (s"$p$i", s"$p$j")
    val c1 = clique("a", 4)
    val c2 = clique("b", 4).map { case (x, y) =>
      // share the edge (a0, a1) by aliasing b0 -> a0, b1 -> a1
      def m(v: String) = if (v == "b0") "a0" else if (v == "b1") "a1" else v
      (m(x), m(y))
    }
    val tri = Seq(("t0", "t1"), ("t1", "t2"), ("t0", "t2"), ("a2", "t0"))
    val noise = Seq.fill(30)(
      (s"x${rnd.nextInt(12)}", s"x${rnd.nextInt(12)}"))
      .filter { case (p, q) => p != q }.distinct
    val edges = (c1 ++ c2 ++ tri ++ noise).distinct
    for (k <- Seq(3, 4, 5)) {
      val ref = kTrussRef(edges, k)
      val got = Graph.kTruss(edges.toDF("src", "dst"), "src", "dst", k)
        .collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2).toInt)
        .toMap
      assert(got === ref, s"k=$k")
    }
    // a star is the canonical core-vs-truss separator: hub degree is
    // huge but NO edge closes a triangle — 3-truss empty
    val star = (0 until 8).map(i => ("hub", s"s$i"))
    assert(Graph.kTruss(star.toDF("src", "dst"), "src", "dst", 3)
      .count() === 0L)
    // idempotence: the 4-truss of the 4-truss is itself
    val t4 = kTrussRef(edges, 4).keySet
    val again = Graph.kTruss(
        t4.toSeq.toDF("src", "dst"), "src", "dst", 4)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2).toInt)
      .toMap
    assert(again === kTrussRef(edges, 4))
  }

  test("kTruss SKEWED path: a hub past 2·√(2m) forces the oriented " +
      "enumeration and matches the reference peel") {
    // 40-leaf star (hub degree 40) + a K5 hung off one leaf:
    // m = 50, threshold 2·√100 = 20 < 40 ⇒ the adaptive enumeration
    // takes the degree-ORIENTED branch. Expected 4-truss: exactly the
    // K5 (every K5 edge closes 3 triangles; star edges close none)
    val star = (0 until 40).map(i => ("hub", f"leaf$i%02d"))
    val k5 = for {
      i <- 0 until 5; j <- (i + 1) until 5
    } yield (s"k$i", s"k$j")
    val bridge = Seq(("leaf00", "k0"))
    val edges = star ++ k5 ++ bridge
    for (k <- Seq(3, 4, 5)) {
      val ref = kTrussRef(edges, k)
      val got = Graph.kTruss(edges.toDF("src", "dst"), "src", "dst", k)
        .collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2).toInt)
        .toMap
      assert(got === ref, s"k=$k")
    }
    // and the K5 is what survives at k=4 (10 edges, support 3 each)
    val t4 = Graph.kTruss(edges.toDF("src", "dst"), "src", "dst", 4)
      .collect()
    assert(t4.length === 10 && t4.forall(_.getLong(2) === 3L))
  }

  test("kCore throws on a peel deeper than maxIters (no silent non-core)") {
    // a 14-node path at k=2 peels exactly one layer from each end per
    // round (7 rounds to empty); maxIters=3 must throw, not return the
    // still-degree-2 middle as a fake 2-core
    val path = (0 until 13).map(i => (s"p$i", s"p${i + 1}"))
    val ex = intercept[IllegalStateException] {
      Graph.kCore(path.toDF("src", "dst"), "src", "dst", k = 2,
        maxIters = 3).count()
    }
    assert(ex.getMessage.contains("fixed point"))
    // with enough rounds the same graph resolves to the true empty core
    assert(Graph.kCore(path.toDF("src", "dst"), "src", "dst", k = 2,
      maxIters = 20).count() === 0L)
  }

  test("bfsHops: hop distances, cap truncation, unreachable absent") {
    // two components: a 7-node path p0..p6 plus a disjoint triangle;
    // seed at p0 — hop = index along the path, triangle unreachable
    val path = (0 until 6).map(i => (s"p$i", s"p${i + 1}"))
    val tri = Seq(("t0", "t1"), ("t1", "t2"), ("t0", "t2"))
    val edges = (path ++ tri).toDF("src", "dst")
    val seeds = Seq("p0").toDF("node")
    val got = Graph.bfsHops(edges, "src", "dst", seeds, "node", 4)
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(got === (0 to 4).map(i => s"p$i" -> i).toMap) // p5,p6 > cap
    // multi-source takes the MIN distance across seeds; early exit
    // (frontier empties at hop 3) must still return complete results
    val both = Graph.bfsHops(edges, "src", "dst",
        Seq("p0", "p6", "t0").toDF("node"), "node", 10)
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(both === Map("p0" -> 0, "p6" -> 0, "t0" -> 0,
      "p1" -> 1, "p5" -> 1, "t1" -> 1, "t2" -> 1,
      "p2" -> 2, "p4" -> 2, "p3" -> 3))
  }

  test("bfsHops/ssspHops: the frontier Bloom pushdown path is " +
      "result-identical (forced via the session conf)") {
    // the Bloom filter only engages in the sort-merge regime (visited/
    // dist past the hash-hint gate) — force it on fixture scale so
    // the pushdown's exactness (false positives leak INTO an exact
    // join, never out of it) is pinned by a result comparison
    val path = (0 until 6).map(i => (s"p$i", s"p${i + 1}"))
    val tri = Seq(("t0", "t1"), ("t1", "t2"), ("t0", "t2"))
    val edges = (path ++ tri).toDF("src", "dst")
    val seeds = Seq("p0", "t1").toDF("node")
    val wEdges = Seq(("a", "b", 10L), ("a", "c", 1L), ("c", "b", 1L),
      ("b", "d", 1L)).toDF("src", "dst", "w")
    def bfs() = Graph.bfsHops(edges, "src", "dst", seeds, "node", 6)
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    def sssp() = Graph.ssspHops(wEdges, "src", "dst", "w",
        Seq("a").toDF("node"), "node", 6)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // pageRank plans its edge list through the same planAdjacency
    // (round 14), so its disk regime is pinned here too. Ranks are
    // DOUBLES whose per-destination sum order can legitimately differ
    // with the adjacency's physical row order, so the pin is a 1e-12
    // relative band, not bit equality (the q121 oracle's 1e-6 rounding
    // absorbs the same reorder)
    def pr() = Graph.pageRank(edges.unionByName(
        edges.select(col("dst").as("src"), col("src").as("dst"))),
        "src", "dst", 0.85, 3)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    def prClose(a: Map[String, Double], b: Map[String, Double]): Unit = {
      assert(a.keySet === b.keySet)
      a.foreach { case (k, v) =>
        assert(math.abs(v - b(k)) <= 1e-12 * math.max(math.abs(v), 1e-30),
          s"rank of $k: $v vs ${b(k)}")
      }
    }
    val (plainB, plainS, plainP) = (bfs(), sssp(), pr())
    // per-session conf, not a JVM-global var (round-11 advice): only
    // THIS session sees the flipped plan, parallel suites are immune
    spark.conf.set(Graph.BloomForceKey, "true")
    try {
      assert(bfs() === plainB)
      assert(sssp() === plainS)
    } finally spark.conf.unset(Graph.BloomForceKey)
    // disk-bucketed adjacency (round 12, opt-in via scratch-dir conf):
    // force it at fixture scale and pin result equality — the layout
    // and (__bk, key) join must be invisible to the answer
    val scratch = java.nio.file.Files
      .createTempDirectory("graft-adj-spec").toString
    spark.conf.set(Graph.AdjScratchKey, scratch)
    spark.conf.set(Graph.AdjDiskForceKey, "true")
    try {
      assert(bfs() === plainB)
      assert(sssp() === plainS)
      prClose(pr(), plainP)
    } finally {
      spark.conf.unset(Graph.AdjScratchKey)
      spark.conf.unset(Graph.AdjDiskForceKey)
      // traversals delete their own layout; only the root remains
      val left = new java.io.File(scratch).list()
      assert(left == null || left.isEmpty,
        s"scratch not cleaned: ${left.mkString(",")}")
      new java.io.File(scratch).delete()
    }
  }

  test("bfsHops/ssspHops round joins move only the frontier: the " +
      "adjacency checkpoint declares hash(key, n); AQE stays on") {
    import org.apache.spark.sql.execution.{QueryExecution, RDDScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = ()
    }
    // children through AQE wrappers, query stages and reused exchanges
    def kids(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case other => other.children
    }
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: kids(p).flatMap(nodes)
    // the adjacency scan is the checkpoint carrying the neighbour column
    // __n; one flag per scan below `p` short of a nested join: true iff
    // an exchange lies between
    def adjScans(p: SparkPlan, moved: Boolean): Seq[Boolean] = p match {
      case r: RDDScanExec if r.output.exists(_.name == "__n") => Seq(moved)
      case _: BaseJoinExec => Nil
      case _ => kids(p).flatMap(adjScans(_,
        moved || p.isInstanceOf[Exchange] || p.isInstanceOf[ReusedExchangeExec]))
    }
    val edges = (0 until 64).flatMap(i => Seq(
        (s"n$i", s"n${(i + 1) % 64}", 1L + i % 5),
        (s"n$i", s"n${(i + 7) % 64}", 3L)))
      .toDF("src", "dst", "w")
    val seeds = Seq("n0").toDF("node")
    spark.listenerManager.register(listener)
    try {
      assert(Graph.bfsHops(edges, "src", "dst", seeds, "node", 3)
        .count() > 1)
      assert(Graph.ssspHops(edges, "src", "dst", "w", seeds, "node", 3)
        .count() > 1)
      org.apache.spark.sql.graft.TestBridge.drainListeners(spark)
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    val roundJoins = plans.asScala.toSeq.flatMap(nodes).collect {
      case j: BaseJoinExec => j.children.flatMap(adjScans(_, false))
    }.filter(_.nonEmpty)
    // three rounds per traversal, each joining the frontier onto adj
    assert(roundJoins.size >= 6, s"${roundJoins.size} round joins")
    assert(roundJoins.forall(!_.contains(true)),
      "the adjacency was exchanged again in a round join")
    assert(spark.conf.get("spark.sql.adaptive.enabled") === "true")
  }

  test("bfsHops and bomExplode job counts: each round's frontier size " +
      "comes with its checkpoint") {
    // pinned at the counted checkpoint; a separate count() or isEmpty
    // per round adds jobs on top (AQE runs every query stage as a job)
    val path = (0 until 6).map(i => (s"p$i", s"p${i + 1}"))
    val tri = Seq(("t0", "t1"), ("t1", "t2"), ("t0", "t2"))
    val edges = (path ++ tri).toDF("src", "dst")
    val seeds = Seq("p0").toDF("node")
    val bfs = org.apache.spark.sql.graft.TestBridge.recorded(spark)(
      Graph.bfsHops(edges, "src", "dst", seeds, "node", 4).collect())
    assert(bfs.value.length === 5)
    val bom = Seq(("A", "B", 2L), ("A", "C", 3L), ("B", "D", 5L),
      ("C", "D", 7L), ("D", "E", 1L)).toDF("parent", "child", "qty")
    val exploded = org.apache.spark.sql.graft.TestBridge.recorded(spark)(
      Graph.bomExplode(bom, "parent", "child", "qty",
        Seq("A").toDF("r"), "r").collect())
    assert(exploded.value.length === 4)
    assert((bfs.jobs, exploded.jobs) === ((25, 17)))
  }

  test("ssspHops: relaxation beats the direct edge; hop cap binds") {
    // a-b direct costs 10, but a-c-b costs 2 — the cheap route needs
    // 2 hops, so maxHops=1 must report 10 and maxHops>=2 report 2.
    // d hangs off b (cheapest a→d = 3 via 3 hops); parallel a-b edge
    // of cost 7 checks the min-of-parallel-edges normalization.
    val edges = Seq(("a", "b", 10L), ("a", "b", 7L), ("a", "c", 1L),
      ("c", "b", 1L), ("b", "d", 1L)).toDF("src", "dst", "w")
    val seeds = Seq("a").toDF("node")
    def run(h: Int) = Graph.ssspHops(edges, "src", "dst", "w",
        seeds, "node", h)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(run(1) === Map("a" -> 0, "b" -> 7, "c" -> 1))
    assert(run(2) === Map("a" -> 0, "b" -> 2, "c" -> 1, "d" -> 8))
    // early exit: nothing improves after round 3 even with slack cap
    assert(run(10) === Map("a" -> 0, "b" -> 2, "c" -> 1, "d" -> 3))
  }

  test("bomExplode: diamond DAG sums path products in the semiring") {
    // A→B(2), A→C(3), B→D(5), C→D(7), D→E(1): D's effective qty from
    // A is 2·5 + 3·7 = 31 over TWO paths (the reconvergence the
    // per-level aggregation must combine, not enumerate); E inherits
    // 31·1 at min depth 3
    val edges = Seq(("A", "B", 2L), ("A", "C", 3L), ("B", "D", 5L),
      ("C", "D", 7L), ("D", "E", 1L)).toDF("parent", "child", "qty")
    val roots = Seq("A", "B").toDF("r")
    val out = Graph.bomExplode(edges, "parent", "child", "qty",
        roots, "r")
      .collect()
      .map(x => (x.getString(0), x.getString(1)) ->
        ((x.getLong(2), x.getInt(3), x.getLong(4)))).toMap
    assert(out(("A", "B")) === ((2L, 1, 1L)))
    assert(out(("A", "C")) === ((3L, 1, 1L)))
    assert(out(("A", "D")) === ((31L, 2, 2L)))
    assert(out(("A", "E")) === ((31L, 3, 2L)))
    // B is ALSO a root: its own sub-explosion is independent
    assert(out(("B", "D")) === ((5L, 1, 1L)))
    assert(out(("B", "E")) === ((5L, 2, 1L)))
    assert(out.size === 6) // roots never appear as their own descendant
  }

  test("bomExplode: multi-depth reconvergence reaches the same (root, " +
      "node) in different rounds and still combines") {
    // A→D direct (depth 1) AND A→B→C→D (depth 3): mult 10 + 2·3·4=34,
    // min depth 1, 2 paths — the accumulator's final re-aggregation
    val edges = Seq(("A", "D", 10L), ("A", "B", 2L), ("B", "C", 3L),
      ("C", "D", 4L)).toDF("parent", "child", "qty")
    val roots = Seq("A").toDF("r")
    val out = Graph.bomExplode(edges, "parent", "child", "qty",
        roots, "r")
      .collect()
      .map(x => (x.getString(1),
        (x.getLong(2), x.getInt(3), x.getLong(4)))).toMap
    assert(out("D") === ((34L, 1, 2L)))
  }

  test("bomExplode THROWS on a cycle / exhausted depth instead of " +
      "returning a partial closure") {
    val cyc = Seq(("A", "B", 1L), ("B", "A", 1L)).toDF("p", "c", "q")
    val roots = Seq("A").toDF("r")
    intercept[IllegalStateException] {
      Graph.bomExplode(cyc, "p", "c", "q", roots, "r", maxDepth = 8)
        .collect()
    }
    // a legitimate chain deeper than maxDepth also refuses loudly
    val chain = (0 until 6).map(i => (s"n$i", s"n${i + 1}", 1L))
      .toDF("p", "c", "q")
    val r0 = Seq("n0").toDF("r")
    intercept[IllegalStateException] {
      Graph.bomExplode(chain, "p", "c", "q", r0, "r", maxDepth = 3)
        .collect()
    }
    // and succeeds once the bound covers the depth
    assert(Graph.bomExplode(chain, "p", "c", "q", r0, "r", maxDepth = 8)
      .count() === 6L)
  }

  test("criticalPath reproduces the hand-worked PERT example") {
    // A(3) B(2) sources; A→C, B→C, C→D, C→E, B→E; C(4) D(2) E(3).
    // ef: A 3, B 2, C 7, D 9, E 10; T = 10; lt: C 3, A 7, B 7;
    // slack: A 0, B 1, C 0, D 1, E 0 — critical chain A→C→E.
    val nodes = Seq(("A", 3L), ("B", 2L), ("C", 4L), ("D", 2L),
      ("E", 3L)).toDF("n", "w")
    val edges = Seq(("A", "C"), ("B", "C"), ("C", "D"), ("C", "E"),
      ("B", "E")).toDF("p", "c")
    val got = Graph.criticalPath(nodes, "n", "w", edges, "p", "c")
      .collect()
      .map(r => r.getString(0) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5))))
      .toMap
    assert(got === Map(
      "A" -> ((3L, 7L, 0L, true)),
      "B" -> ((2L, 7L, 1L, false)),
      "C" -> ((7L, 3L, 0L, true)),
      "D" -> ((9L, 0L, 1L, false)),
      "E" -> ((10L, 0L, 0L, true))))
  }

  test("criticalPath invariants vs an independent memoized reference " +
      "on a random DAG") {
    val rnd = new scala.util.Random(23)
    // DAG on 0..59: edges only low → high, so acyclicity is structural
    val edges = Seq.fill(150)((rnd.nextInt(59), rnd.nextInt(60)))
      .collect { case (a, b) if a < b => (s"n$a", s"n$b") }.distinct
    val durs = (0 until 60).map(i => s"n$i" -> (1L + rnd.nextInt(9)))
    val nodeSet = (edges.map(_._1) ++ edges.map(_._2)).toSet
    val nd = durs.filter(x => nodeSet(x._1))
    // memoized longest path INTO each node (inclusive of its duration)
    val preds = edges.groupBy(_._2)
    val durMap = nd.toMap
    val memo = collection.mutable.Map[String, Long]()
    def efRef(n: String): Long = memo.getOrElseUpdate(n,
      durMap(n) + preds.get(n).map(_.map(e => efRef(e._1)).max)
        .getOrElse(0L))
    val got = Graph.criticalPath(nd.toDF("n", "w"),
        "n", "w", edges.toDF("p", "c"), "p", "c")
      .collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    val t = got.values.map(x => x._2).max
    got.foreach { case (n, (dur, ef, lt, slack)) =>
      assert(ef === efRef(n), s"ef($n)")
      assert(slack === t - ef - lt && slack >= 0, s"slack($n)")
    }
    // the critical chain is connected: every critical non-sink node
    // has a critical successor tight on both passes
    val succs = edges.groupBy(_._1)
    got.filter { case (_, (_, _, lt, slack)) => slack == 0 && lt > 0 }
      .foreach { case (n, (_, ef, lt, _)) =>
        assert(succs(n).exists { case (_, c) =>
          val (cd, cef, clt, cslack) = got(c)
          cslack == 0 && cef == ef + cd && lt == clt + cd
        }, s"critical $n must have a tight critical successor")
      }
  }

  /** Independent synchronous min-label reference (plain Scala maps). */
  private def lpaRef(edges: Seq[(String, String)], iters: Int)
      : Map[String, String] = {
    val e = edges.distinct
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct
    var l = nodes.map(v => v -> v).toMap
    (1 to iters).foreach { _ =>
      val nbr = e.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map(x => l(x._1)).min
      }
      l = l.map { case (v, lab) =>
        v -> Seq(lab, nbr.getOrElse(v, lab)).min }
    }
    l
  }

  test("labelPropagate matches the synchronous reference per round; " +
      "run to diameter it yields connected components") {
    // two components: a 6-node path (diameter 5 — exposes the
    // synchronous frontier: labels flood exactly one hop per round)
    // and a 3-node triangle, both passed in both directions
    val und = Seq("a" -> "b", "b" -> "c", "c" -> "d", "d" -> "e",
      "e" -> "f", "x" -> "y", "y" -> "z", "z" -> "x")
    val e = und ++ und.map(_.swap)
    for (iters <- Seq(1, 2, 5)) {
      val got = Graph.labelPropagate(e.toDF("src", "dst"),
          "src", "dst", iters)
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(got === lpaRef(e, iters), s"iters=$iters")
    }
    // at diameter rounds the min label owns each component
    val conv = Graph.labelPropagate(e.toDF("src", "dst"),
        "src", "dst", iters = 5)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(Seq("a", "b", "c", "d", "e", "f").forall(conv(_) == "a"))
    assert(Seq("x", "y", "z").forall(conv(_) == "x"))
    // one round on the path: only direct neighbors of 'a' have 'a'
    val one = Graph.labelPropagate(e.toDF("src", "dst"),
        "src", "dst", iters = 1)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(one("b") == "a" && one("c") == "b" && one("f") == "e")
  }
}
