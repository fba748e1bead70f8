package graft
package catalog

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.operators._
import graft.SparkEntry.scoped

/** Graphs and market baskets: item-pair supports, triangles, k-core,
  * traversals and link scores, all over the basket graph that
  * [[cappedBaskets]] and [[basketPairs]] derive once. A query lands here
  * when its build calls `Graph` or those two helpers. */
object GraphQueries {

  def defs: Seq[QueryDef] = Seq(
    // MARKET-BASKET co-occurrence — item-pair support counts, the
    // frequent-itemset k=2 pass: distinct items per order, pairs
    // generated INSIDE the scan projection from each order's own
    // sorted item array (a<b by construction — no self-join, no
    // duplicate/reversed pairs), one hash aggregate over pairs, then
    // the bounded top-20. The basket cap (slice to 8 items, vacuous on
    // TPC-H's <=7-line orders) is the quadratic guard a real
    // transaction log needs: pair fanout is bounded per order however
    // large one degenerate basket gets.
    QueryDef("q111_basket_pairs", (s, d) => {
      basketPairs(cappedBaskets(s, d, cap = 8))
        .groupBy($"a".as("part_a"), $"b".as("part_b"))
        .agg(count(lit(1)).as("n_orders"))
        .orderBy($"n_orders".desc, $"part_a", $"part_b")
        .limit(20)
    },
    // q111: pair generation as a capped self-join (the SQL dual of the
    // array form); the cap's row_number mirrors the sorted-slice
    Some(
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |capped AS (
        |  SELECT l_orderkey, l_partkey FROM (
        |    SELECT *, row_number() OVER (PARTITION BY l_orderkey
        |      ORDER BY l_partkey) AS rn FROM items) WHERE rn <= 8)
        |SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
        |  CAST(count(*) AS BIGINT) AS n_orders
        |FROM capped a JOIN capped b
        |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |GROUP BY 1, 2
        |ORDER BY n_orders DESC, part_a, part_b LIMIT 20""".stripMargin)),

    // PAGERANK — power iteration over the customer↔supplier
    // co-transaction graph (undirected: both edge directions), 3
    // iterations at d = 0.85 through [[operators.Graph.pageRank]]:
    // per iteration one ranks⋈edges join + one per-destination hash
    // aggregate, dangling mass redistributed from a broadcast 1-row
    // aggregate, lineage checkpointed on cadence — the iterative-
    // DataFrame shape that scales to billion-edge graphs. Top 20 by
    // ROUNDED rank (rounding first makes the order/limit boundary
    // immune to double addition-order jitter in the contribution sums).
    QueryDef("q121_pagerank", (s, d) => {
      val eDir = Tables.lineitem(s, d)
        .join(Tables.orders(s, d),
          $"l_orderkey" === $"o_orderkey")
        .select(concat(lit("c"), $"o_custkey").as("cust"),
          concat(lit("s"), $"l_suppkey").as("supp"))
        .distinct()
      val edges = eDir.select($"cust".as("src"), $"supp".as("dst"))
        .union(eDir.select($"supp".as("src"), $"cust".as("dst")))
      Graph.pageRank(edges, "src", "dst", damping = 0.85, iters = 3)
        .select($"node", Fns.roundU($"rank" * 1000, 6).as("rank_pm"))
        .orderBy($"rank_pm".desc, $"node")
        .limit(20)
    },
    // q121: the 3 power iterations unrolled as CTEs — same uniform
    // start, same (1-d)/N + d·Σ r/deg update; the undirected edge set
    // has no sinks so the dangling term is identically zero
    Some(
      """WITH ed AS (
        |  SELECT DISTINCT 'c' || o_custkey AS cust,
        |    's' || l_suppkey AS supp
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |e AS (SELECT cust AS src, supp AS dst FROM ed
        |  UNION ALL SELECT supp, cust FROM ed),
        |""".stripMargin + pageRank3OracleCtes + """
        |SELECT node,
        |  floor(r * 1000 * 1000000 + 0.5) / 1000000.0 AS rank_pm
        |FROM r3 ORDER BY rank_pm DESC, node LIMIT 20""".stripMargin)),

    // ASSOCIATION RULES — q111's pair supports promoted to the full
    // market-basket rule mining pass: confidence(a→b) = n_ab/n_a and
    // lift = n_ab·N / (n_a·n_b) for every pair above min support.
    // One extra hash aggregate (per-item supports over the SAME capped
    // item set as the pairs — a rule's denominators must count the
    // baskets its numerator could have come from, so the cap applies
    // to both or conf can exceed 1) and two broadcast-sized joins on
    // the item key; the pair table itself is the q111 bounded-fanout
    // derivation, so the whole chain stays cap-bounded per basket.
    QueryDef("q126_assoc_rules", (s, d) => {
      // persisted because three branches (count, supports, pairs)
      // share it within the returned plan; released by the session
      // cache clear Verify/Bench run per query
      val items = cappedBaskets(s, d, cap = 8).transform(scoped)
      val nBaskets = items.count()
      val itemSupp = items.select(explode($"__items").as("item"))
        .groupBy($"item").agg(count(lit(1)).as("__n"))
      val pairs = basketPairs(items)
        .groupBy($"a".as("part_a"), $"b".as("part_b"))
        .agg(count(lit(1)).as("n_ab"))
        .filter($"n_ab" >= 3)
      pairs
        .join(itemSupp.withColumnsRenamed(
          Map("item" -> "part_a", "__n" -> "__na")), "part_a")
        .join(itemSupp.withColumnsRenamed(
          Map("item" -> "part_b", "__n" -> "__nb")), "part_b")
        .select($"part_a", $"part_b", $"n_ab",
          Fns.roundU($"n_ab" / $"__na", 6).as("conf_ab"),
          Fns.roundU($"n_ab" / $"__nb", 6).as("conf_ba"),
          // lift in DOUBLE end-to-end: a long na*nb product overflows
          // once per-item supports pass ~3e9 baskets; the double form
          // is exact below 2^53 so it still hash-matches the oracle's
          // integer-product form at test SFs
          Fns.roundU($"n_ab".cast("double") * lit(nBaskets.toDouble)
            / ($"__na".cast("double") * $"__nb".cast("double")), 6)
            .as("lift"))
        .orderBy($"lift".desc, $"part_a", $"part_b")
        .limit(20)
    },
    // q126: same capped basket derivation as q111; supports from the
    // same capped set; round(x, 6) vs Fns.roundU as everywhere else
    Some(
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |capped AS (
        |  SELECT l_orderkey, l_partkey FROM (
        |    SELECT *, row_number() OVER (PARTITION BY l_orderkey
        |      ORDER BY l_partkey) AS rn FROM items) WHERE rn <= 8),
        |nb AS (SELECT count(DISTINCT l_orderkey) AS n FROM capped),
        |supp AS (SELECT l_partkey AS item, count(*) AS ns
        |  FROM capped GROUP BY 1),
        |pairs AS (
        |  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
        |    CAST(count(*) AS BIGINT) AS n_ab
        |  FROM capped a JOIN capped b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 3)
        |SELECT part_a, part_b, n_ab,
        |  round(n_ab / sa.ns, 6) AS conf_ab,
        |  round(n_ab / sb.ns, 6) AS conf_ba,
        |  round(n_ab * nb.n / (sa.ns * sb.ns), 6) AS lift
        |FROM pairs JOIN supp sa ON sa.item = part_a
        |JOIN supp sb ON sb.item = part_b CROSS JOIN nb
        |ORDER BY lift DESC, part_a, part_b LIMIT 20""".stripMargin)),

    // TRIANGLE COUNT + global clustering coefficient — the graph
    // cohesion metric over the parts co-purchase graph (q111's capped
    // basket pairs as the edge set). The naive 3-way self-join
    // enumerates every triangle 6 times and wedges explode at hub
    // nodes; DEGREE ORIENTATION (point each edge at the higher
    // (degree, id) endpoint) gives every triangle exactly one source
    // node and caps oriented out-degree at O(√m), so the wedge join —
    // the only quadratic-risk stage — is bounded per node however
    // skewed the raw degrees. Wedge closes iff the oriented (v, w)
    // edge exists: one more semi-join. n_wedges uses RAW degrees
    // (deg·(deg−1)/2), the clustering-coefficient denominator.
    QueryDef("q131_triangles", (s, d) => {
      // cap 5 (vs q111's 8): triangle cost grows ~m^1.5, so the edge
      // cap is the query's cost dial. Enumeration is the adaptive
      // Graph.triangles plan (value-order adjacency-intersect on this
      // low-skew graph — no wedge stream shuffled; degree-oriented
      // wedge join past the hub threshold); the old hardcoded wedge
      // join sorted/probed tens of millions of wedge rows to count
      // the same 811k triangles.
      val edges = basketPairs(cappedBaskets(s, d, cap = 5))
      val eN = edges.select(least($"a", $"b").as("a"),
          greatest($"a", $"b").as("b"))
        .filter($"a" =!= $"b").distinct().transform(scoped)
      val nTri = Graph.triangles(eN).count()
      // one scan of the cached edge list, not a two-scan union of ends
      val deg = eN.select(explode(array($"a", $"b")).as("n"))
        .groupBy($"n").agg(count(lit(1)).as("deg"))
      // deg·(deg−1) is even, so the /2 is exact in double; cast to
      // long per row BEFORE the sum so the total stays integer-exact
      val nWedge = deg.agg(
        sum(($"deg" * ($"deg" - 1) / 2).cast("long"))).collect()(0)
        .getLong(0)
      val cc = if (nWedge > 0) 3.0 * nTri / nWedge else 0.0
      import s.implicits._
      Seq((nTri, nWedge,
          math.floor(cc * 1e6 + 0.5) / 1e6))
        .toDF("n_triangles", "n_wedges", "global_cc")
    },
    // q131: same capped pair edges, same (deg, id) orientation — the
    // oracle pays the naive wedge join the engine's orientation bounds
    Some("WITH " + basketEdgeOracleCtes + """,
        |deg AS (
        |  SELECT n, count(*) AS deg FROM (
        |    SELECT a AS n FROM edges UNION ALL SELECT b FROM edges)
        |  GROUP BY n),
        |o AS (
        |  SELECT CASE WHEN (da.deg, e.a) < (db.deg, e.b)
        |      THEN e.a ELSE e.b END AS src,
        |    CASE WHEN (da.deg, e.a) < (db.deg, e.b)
        |      THEN e.b ELSE e.a END AS dst,
        |    CASE WHEN (da.deg, e.a) < (db.deg, e.b)
        |      THEN db.deg ELSE da.deg END AS ddeg
        |  FROM edges e JOIN deg da ON da.n = e.a
        |  JOIN deg db ON db.n = e.b),
        |tri AS (
        |  SELECT count(*) AS n FROM o e1
        |  JOIN o e2 ON e2.src = e1.src
        |    AND (e1.ddeg, e1.dst) < (e2.ddeg, e2.dst)
        |  WHERE EXISTS (SELECT 1 FROM o e3
        |    WHERE e3.src = e1.dst AND e3.dst = e2.dst)),
        |wg AS (SELECT CAST(sum(deg * (deg - 1) // 2) AS BIGINT) AS n
        |  FROM deg)
        |SELECT CAST(tri.n AS BIGINT) AS n_triangles,
        |  wg.n AS n_wedges,
        |  floor(CAST(3.0 AS DOUBLE) * tri.n / wg.n * 1e6 + 0.5) / 1e6
        |    AS global_cc
        |FROM tri CROSS JOIN wg""".stripMargin)),

    // K-CORE — the dense-subgraph extraction next to q121/q122's
    // PageRank and q52's connected components: iterative peeling of
    // sub-k-degree nodes over the parts co-purchase graph until the
    // surviving subgraph is everywhere ≥ k. ORACLED since r8: the
    // fixpoint replays as a DuckDB recursive CTE at the fixed k=40
    // (see the oracle's comment); GraphSpec's independent reference
    // peeling (clique + cascading path fixture, k ∈ {2,3,5},
    // empty-core termination, idempotence) stays as the unit gate.
    // Output is the core membership
    // histogram: how many nodes survive at each in-core degree. The
    // cap-5 graph's degree distribution is SF-stable (parts grow with
    // orders), so k=40 peels real cascades at every test SF without
    // emptying the core (collapse sits near 50; probed per-SF).
    QueryDef("q135_kcore", (s, d) => {
      val edges = basketPairs(cappedBaskets(s, d, cap = 5)).distinct()
      Graph.kCore(edges, "a", "b", k = 40)
        .groupBy($"core_deg").agg(count(lit(1)).as("n_nodes"))
        .orderBy($"core_deg")
    },
    // q135: the k-core fixpoint replayed as a recursive CTE at the
    // query's FIXED k=40 (DuckDB permits multiple self-references and
    // aggregates in the recursive member, so each round joins the
    // survivor set onto both edge endpoints, keeps degree ≥ k, and
    // recurses only while the survivor count still shrinks — the
    // window-sum nsurv vs the scalar count(*) of the working table is
    // the stop test). Peel depth is data-dependent but the CTE runs
    // to ITS OWN fixpoint, not a guessed depth; this is oracle-side
    // only — the Spark operator stays the iterative checkpointed
    // peel, which is the 100 TB-shaped plan.
    Some(
      """WITH RECURSIVE
        |bk AS (
        |  SELECT l_orderkey,
        |    list_slice(list_sort(list_distinct(list(l_partkey))), 1, 5)
        |      AS items
        |  FROM lineitem GROUP BY l_orderkey),
        |e0 AS (
        |  SELECT DISTINCT u1.a AS a, u2.b AS b
        |  FROM bk, unnest(bk.items) u1(a), unnest(bk.items) u2(b)
        |  WHERE u1.a < u2.b),
        |e AS (SELECT a AS s, b AS d FROM e0
        |      UNION ALL SELECT b AS s, a AS d FROM e0),
        |peel(round, node) AS (
        |  SELECT 0, s FROM e GROUP BY s
        |  UNION ALL
        |  SELECT round + 1, s FROM (
        |    SELECT p1.round AS round, e.s AS s, count(*) AS deg,
        |      sum(CASE WHEN count(*) >= 40 THEN 1 ELSE 0 END)
        |        OVER () AS nsurv
        |    FROM e
        |    JOIN peel p1 ON e.s = p1.node
        |    JOIN peel p2 ON e.d = p2.node
        |    GROUP BY p1.round, e.s) q
        |  WHERE deg >= 40 AND nsurv < (SELECT count(*) FROM peel)),
        |mx AS (SELECT max(round) AS r FROM peel),
        |core AS (SELECT node FROM peel, mx WHERE round = mx.r),
        |dg AS (
        |  SELECT e.s AS node, count(*) AS core_deg
        |  FROM e JOIN core c1 ON e.s = c1.node
        |  JOIN core c2 ON e.d = c2.node
        |  GROUP BY e.s HAVING count(*) >= 40)
        |SELECT CAST(core_deg AS BIGINT) AS core_deg,
        |  CAST(count(*) AS BIGINT) AS n_nodes
        |FROM dg GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ADAMIC-ADAR LINK PREDICTION — scores for NON-edges at distance 2
    // in the q131 co-purchase graph: AA(a,b) = Σ_{w ∈ N(a)∩N(b)}
    // 1/ln(deg w). The pair fan-out explodes through hubs (deg² pairs
    // per node), and hubs contribute least (1/ln deg → 0) — so wedge
    // centers are DEGREE-CAPPED at 50, bounding per-node fanout at
    // 50²/2 pairs however dense the graph; the cap is part of the
    // query's contract and the oracle applies the same one. Existing
    // edges are removed with a left-anti join; top 20 by (score, pair).
    QueryDef("q148_adamic_adar", (s, d) => {
      val edges = basketPairs(cappedBaskets(s, d, 5)).distinct()
      val adj = edges.select($"a".as("w"), $"b".as("n"))
        .union(edges.select($"b".as("w"), $"a".as("n")))
      val deg = adj.groupBy($"w").agg(count(lit(1)).as("__deg"))
        .filter($"__deg".between(2, 50))
      val centers = adj.join(deg, Seq("w"))
      val pairs = centers.alias("x")
        .join(centers.alias("y"), Seq("w"))
        .filter($"x.n" < $"y.n")
        .select($"x.n".as("a"), $"y.n".as("b"),
          (lit(1.0) / log($"x.__deg")).as("__c"))
      // round BEFORE the cut: the top-20 threshold must sit on the
      // rounded score both engines agree on, not a raw double sum
      // whose last ulp depends on reduction order
      val scores = pairs.groupBy($"a", $"b")
        .agg(Fns.roundU(sum($"__c"), 6).as("aa"),
          count(lit(1)).as("n_common"))
        .join(edges, Seq("a", "b"), "left_anti")
      graft.plans.TopKPerKey(scores.withColumn("__g", lit(1)), Seq("__g"),
          Seq($"aa".desc, $"a".asc, $"b".asc), 20)
        .select($"a", $"b", $"n_common", $"aa")
        .orderBy($"aa".desc, $"a", $"b")
    },
    // q148: q131's capped basket graph; deg cap 2..50 on wedge
    // centers is part of the query contract; scores rounded BEFORE
    // the top-20 cut on both engines
    Some("WITH " + basketEdgeOracleCtes + """,
        |adj AS (
        |  SELECT a AS w, b AS n FROM edges
        |  UNION ALL SELECT b, a FROM edges),
        |deg AS (
        |  SELECT w, count(*) AS deg FROM adj GROUP BY w
        |  HAVING count(*) BETWEEN 2 AND 50),
        |ctr AS (SELECT adj.w, adj.n, deg.deg FROM adj JOIN deg USING (w)),
        |pr AS (
        |  SELECT x.n AS a, y.n AS b, 1.0 / ln(x.deg) AS c
        |  FROM ctr x JOIN ctr y ON x.w = y.w AND x.n < y.n),
        |sc AS (
        |  SELECT a, b, floor(sum(c) * 1000000 + 0.5) / 1000000.0 AS aa,
        |    CAST(count(*) AS BIGINT) AS n_common
        |  FROM pr GROUP BY a, b),
        |ne AS (
        |  SELECT sc.a, sc.b, sc.n_common, sc.aa
        |  FROM sc LEFT JOIN edges e ON sc.a = e.a AND sc.b = e.b
        |  WHERE e.a IS NULL)
        |SELECT a, b, n_common, aa FROM ne
        |ORDER BY aa DESC, a, b LIMIT 20""".stripMargin)),

    // BFS HOP DISTANCE — level-synchronous frontier expansion from the
    // 10 lowest-numbered parts of the co-purchase graph, capped at 4
    // hops (Graph.bfsHops). Per round the work is frontier⋈adjacency +
    // one anti-join against visited — proportional to edges TOUCHED,
    // never the whole graph. The oracle is a recursive SQL walk with
    // the same cap: (node, walk-length) pairs are finite under the
    // cap, and min(walk length) = hop distance.
    QueryDef("q149_bfs_hops", (s, d) => {
      // no .distinct() here: bfsHops value-normalizes and distincts its
      // input itself, so the outer one was a second full edge shuffle
      // (the q307 lesson applied; seeds' own .distinct() is unaffected).
      // scoped-persisted: the pair stream is consumed by BOTH the seed
      // chain and the traversal, and its subtree contains the basket
      // shuffle — the case where a persist pays (q122's counter-lesson)
      val edges = basketPairs(cappedBaskets(s, d, 5)).transform(scoped)
      // one scan of the cached pair stream, not a two-scan union of ends
      val seeds = edges.select(explode(array($"a", $"b")).as("node"))
        .distinct().orderBy($"node").limit(10)
      Graph.bfsHops(edges, "a", "b", seeds, "node", maxHops = 4)
        .groupBy($"hops")
        .agg(count(lit(1)).as("n_parts"),
          min($"node").as("min_part"), max($"node").as("max_part"))
        .orderBy($"hops")
    },
    // q149: recursive walk capped at 4 steps; min(walk length) = hop
    // distance; UNION dedups (node, d) pairs so the recursion is finite
    Some("WITH RECURSIVE " + basketEdgeOracleCtes + """,
        |adj AS (
        |  SELECT a AS w, b AS n FROM edges
        |  UNION ALL SELECT b, a FROM edges),
        |seeds AS (
        |  SELECT n FROM (SELECT a AS n FROM edges
        |                 UNION SELECT b FROM edges)
        |  ORDER BY n LIMIT 10),
        |walk(n, d) AS (
        |  SELECT n, 0 FROM seeds
        |  UNION
        |  SELECT adj.n, walk.d + 1 FROM walk JOIN adj ON adj.w = walk.n
        |  WHERE walk.d < 4),
        |dist AS (SELECT n, min(d) AS hops FROM walk GROUP BY n)
        |SELECT hops, CAST(count(*) AS BIGINT) AS n_parts,
        |  min(n) AS min_part, max(n) AS max_part
        |FROM dist GROUP BY hops ORDER BY hops""".stripMargin)),

    // WEIGHTED SHORTEST PATH — bounded-hop Bellman-Ford over the
    // co-purchase graph with deterministic integer edge weights
    // (Graph.ssspHops): q149's frontier discipline generalized from
    // hop counting to min-plus relaxation — each round proposes only
    // from nodes that IMPROVED last round, so round cost tracks the
    // still-converging subgraph, not the whole graph. Integer costs
    // keep every relaxation exact; the oracle is the same DP unrolled
    // (d_k = min(d_{k-1}, relax(d_{k-1}))), four explicit rounds.
    QueryDef("q166_sssp", (s, d) => {
      // no .distinct() here: ssspHops normalizes + min-aggregates
      // parallel edges itself (and the weight is a pure function of
      // (a, b), so duplicate pairs carry identical weights — the
      // groupBy(lo, hi).min(w) collapses them to the same rows).
      // scoped-persisted: consumed by both the seed chain and the
      // traversal, and the subtree contains the basket shuffle
      val edges = basketPairs(cappedBaskets(s, d, 5)).transform(scoped)
        .withColumn("w", lit(1L) + ($"a" + $"b") % 5)
      // one scan of the cached pair stream, not a two-scan union of ends
      val seeds = edges.select(explode(array($"a", $"b")).as("node"))
        .distinct().orderBy($"node").limit(10)
      Graph.ssspHops(edges, "a", "b", "w", seeds, "node", maxHops = 4)
        .groupBy($"dist")
        .agg(count(lit(1)).as("n_nodes"),
          min($"node").as("min_node"), max($"node").as("max_node"))
        .orderBy($"dist")
    },
    // q166: the same bounded-hop DP unrolled — d_k(v) = cheapest walk
    // of <= k edges; integer weights keep it exact
    Some("WITH " + basketEdgeOracleCtes + """,
        |we AS (SELECT a, b, 1 + (a + b) % 5 AS w FROM edges),
        |adj AS (
        |  SELECT a AS s, b AS n, w FROM we
        |  UNION ALL SELECT b, a, w FROM we),
        |seeds AS (
        |  SELECT n FROM (SELECT a AS n FROM edges
        |                 UNION SELECT b FROM edges)
        |  ORDER BY n LIMIT 10),
        |d0 AS (SELECT n AS node, CAST(0 AS BIGINT) AS c FROM seeds),
        |d1 AS (SELECT node, min(c) AS c FROM (
        |  SELECT node, c FROM d0
        |  UNION ALL SELECT adj.n, d0.c + adj.w FROM d0
        |    JOIN adj ON adj.s = d0.node) GROUP BY node),
        |d2 AS (SELECT node, min(c) AS c FROM (
        |  SELECT node, c FROM d1
        |  UNION ALL SELECT adj.n, d1.c + adj.w FROM d1
        |    JOIN adj ON adj.s = d1.node) GROUP BY node),
        |d3 AS (SELECT node, min(c) AS c FROM (
        |  SELECT node, c FROM d2
        |  UNION ALL SELECT adj.n, d2.c + adj.w FROM d2
        |    JOIN adj ON adj.s = d2.node) GROUP BY node),
        |d4 AS (SELECT node, min(c) AS c FROM (
        |  SELECT node, c FROM d3
        |  UNION ALL SELECT adj.n, d3.c + adj.w FROM d3
        |    JOIN adj ON adj.s = d3.node) GROUP BY node)
        |SELECT CAST(c AS BIGINT) AS dist,
        |  CAST(count(*) AS BIGINT) AS n_nodes,
        |  min(node) AS min_node, max(node) AS max_node
        |FROM d4 GROUP BY c ORDER BY dist""".stripMargin)),

    // ITEM-ITEM COLLABORATIVE FILTERING — "orders with X also carried
    // Y": cosine similarity between items over the capped basket
    // incidence (cos = cooc/√(n_a·n_b)). Reuses the ONE shared basket
    // derivation (q111's cap 8) so pair supports agree with the
    // market-basket family by construction. The support floor (≥2)
    // kills the singleton-pair noise tier BEFORE the similarity joins,
    // and the score is rounded BEFORE the top-k cut (q148's lesson:
    // the cut must sit on a value both engines agree on, not a raw
    // double whose last ulp depends on reduction order).
    QueryDef("q176_item_cf", (s, d) => {
      val capped = cappedBaskets(s, d, cap = 8).transform(scoped)
      val cnt = capped.select(explode($"__items").as("n"))
        .groupBy($"n").agg(count(lit(1)).as("__cn"))
      val cooc = basketPairs(capped)
        .groupBy($"a", $"b").agg(count(lit(1)).as("n_both"))
        .filter($"n_both" >= 2)
      val scored = cooc
        .join(cnt.withColumnsRenamed(Map("n" -> "a", "__cn" -> "__ca")),
          "a")
        .join(cnt.withColumnsRenamed(Map("n" -> "b", "__cn" -> "__cb")),
          "b")
        .select($"a".as("part_a"), $"b".as("part_b"), $"n_both",
          Fns.roundU($"n_both" / sqrt($"__ca" * $"__cb"), 6).as("cosine"))
      graft.plans.TopKPerKey(scored.withColumn("__g", lit(1)), Seq("__g"),
          Seq($"cosine".desc, $"part_a".asc, $"part_b".asc), 20)
        .select($"part_a", $"part_b", $"n_both", $"cosine")
        .orderBy($"cosine".desc, $"part_a", $"part_b")
    }, Some(
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |capped AS (
        |  SELECT l_orderkey, l_partkey FROM (
        |    SELECT *, row_number() OVER (PARTITION BY l_orderkey
        |      ORDER BY l_partkey) AS rn FROM items) WHERE rn <= 8),
        |cnt AS (SELECT l_partkey AS n, CAST(count(*) AS BIGINT) AS cn
        |        FROM capped GROUP BY 1),
        |cooc AS (
        |  SELECT a.l_partkey AS pa, b.l_partkey AS pb,
        |    CAST(count(*) AS BIGINT) AS n_both
        |  FROM capped a JOIN capped b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |sc AS (
        |  SELECT pa, pb, n_both,
        |    floor(n_both / sqrt(CAST(ca.cn * cb.cn AS DOUBLE))
        |      * 1000000 + 0.5) / 1000000.0 AS cosine
        |  FROM cooc JOIN cnt ca ON pa = ca.n JOIN cnt cb ON pb = cb.n)
        |SELECT pa AS part_a, pb AS part_b, n_both, cosine
        |FROM sc ORDER BY cosine DESC, part_a, part_b LIMIT 20"""
        .stripMargin)),

    // LOCAL CLUSTERING COEFFICIENT — q131's triangle machinery taken
    // per-node: how clique-like is each part's co-purchase
    // neighborhood (2·tri/(deg·(deg−1))). Same degree-oriented wedge
    // join (work bounded by Σ d_out², the skew guard), but the
    // closing edge is an INNER join — the orientation rule puts the
    // closing edge at exactly (v,w), so each triangle lands exactly
    // once — and fans out to its three corners through one explode.
    // Degree ≥4 keeps the report on nodes where the denominator
    // means something; the cut rides the rounded coefficient.
    QueryDef("q178_local_clustering", (s, d) => {
      // per-node triangle counts via the adaptive adjacency
      // intersect (Graph.trianglesIntersect): each (a,b,c) row credits
      // its three nodes — no wedge stream, no shuffle_hash tuning of a
      // sort-merge over tens of millions of wedge rows (the old plan).
      val edges = basketPairs(cappedBaskets(s, d, cap = 5))
        .select(least($"a", $"b").as("a"), greatest($"a", $"b").as("b"))
        .filter($"a" =!= $"b").distinct().transform(scoped)
      // one scan of the cached edge list, not a two-scan union of ends
      val deg = edges.select(explode(array($"a", $"b")).as("n"))
        .groupBy($"n").agg(count(lit(1)).as("degree"))
      val triPerNode = Graph.triangles(edges)
        .select(explode(array($"a", $"b", $"c")).as("n"))
        .groupBy($"n").agg(count(lit(1)).as("n_tri"))
      val scored = deg.filter($"degree" >= 4)
        .join(triPerNode, Seq("n"), "left")
        .na.fill(0L, Seq("n_tri"))
        .select($"n".as("part"), $"degree", $"n_tri",
          Fns.roundU(lit(2.0) * $"n_tri" /
            ($"degree" * ($"degree" - 1)), 6).as("coef"))
      graft.plans.TopKPerKey(scored.withColumn("__g", lit(1)), Seq("__g"),
          Seq($"coef".desc, $"part".asc), 20)
        .select($"part", $"degree", $"n_tri", $"coef")
        .orderBy($"coef".desc, $"part")
    }, Some("WITH " + basketEdgeOracleCtes + """,
        |deg AS (
        |  SELECT n, CAST(count(*) AS BIGINT) AS degree FROM (
        |    SELECT a AS n FROM edges UNION ALL SELECT b FROM edges)
        |  GROUP BY n),
        |tri AS (
        |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |  FROM edges e1 JOIN edges e2 ON e2.a = e1.b
        |  JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b),
        |tn AS (
        |  SELECT n, CAST(count(*) AS BIGINT) AS n_tri FROM (
        |    SELECT x AS n FROM tri UNION ALL SELECT y FROM tri
        |    UNION ALL SELECT z FROM tri)
        |  GROUP BY n),
        |sc AS (
        |  SELECT deg.n AS part, degree, coalesce(n_tri, 0) AS n_tri,
        |    floor(2.0 * coalesce(n_tri, 0) / (degree * (degree - 1))
        |      * 1000000 + 0.5) / 1000000.0 AS coef
        |  FROM deg LEFT JOIN tn ON deg.n = tn.n WHERE degree >= 4)
        |SELECT part, degree, n_tri, coef FROM sc
        |ORDER BY coef DESC, part LIMIT 20""".stripMargin)),

    // DEGREE ASSORTATIVITY — do hub parts co-purchase with hubs (r>0)
    // or with the periphery (r<0)? Newman's r, literally corr() over
    // both orientations of each edge's endpoint degrees: degrees are
    // exact longs from one hash aggregate joined twice, and the
    // correlation is a one-pass sufficient-statistics reduce. One
    // more single-row readout of the q111 co-purchase graph's shape
    // (q131 closure, q135 cores, q148 affinity, this one mixing).
    QueryDef("q180_assortativity", (s, d) => {
      val edges = basketPairs(cappedBaskets(s, d, cap = 5)).distinct()
      val dir = edges.select($"a".as("s"), $"b".as("t"))
        .unionAll(edges.select($"b".as("s"), $"a".as("t")))
      val degS = dir.groupBy($"s").agg(count(lit(1)).as("__ds"))
      val degT = degS.select($"s".as("t"), $"__ds".as("__dt"))
      dir.join(degS, Seq("s")).join(degT, Seq("t"))
        .agg((count(lit(1)) / 2).cast("long").as("n_edges"),
          count_distinct($"s").as("n_nodes"),
          Fns.roundU(corr($"__ds".cast("double"),
            $"__dt".cast("double")), 6).as("assortativity"))
    }, Some("WITH " + basketEdgeOracleCtes + """,
        |dir AS (SELECT a AS s, b AS t FROM edges
        |        UNION ALL SELECT b, a FROM edges),
        |deg AS (SELECT s, CAST(count(*) AS BIGINT) AS d
        |        FROM dir GROUP BY 1),
        |p AS (
        |  SELECT ds.d AS x, dt.d AS y
        |  FROM dir JOIN deg ds ON dir.s = ds.s
        |  JOIN deg dt ON dir.t = dt.s)
        |SELECT CAST(count(*) / 2 AS BIGINT) AS n_edges,
        |  (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
        |  floor(corr(x, y) * 1000000 + 0.5) / 1000000.0 AS assortativity
        |FROM p""".stripMargin)),

    // BOM EXPLOSION — the recursive-query operator class (parts/
    // assemblies, org charts, account rollups): weighted transitive
    // closure over a synthesized part-containment DAG (child p hangs
    // under parents p div 3 and p div 5 — acyclic because both
    // parents are strictly smaller). Graph.bomExplode aggregates the
    // frontier per (root, node) EVERY round in the (+,×) semiring, so
    // path-level rows never materialize — a reconvergent diamond
    // ladder has 2^depth paths but only depth·|roots| frontier rows.
    // The oracle (WITH RECURSIVE) enumerates paths — fine at oracle
    // scale, and distributivity makes the two reductions provably
    // equal, which is exactly what the hash checks.
    QueryDef("q199_bom_explosion", (s, d) => {
      val part = Tables.part(s, d).select($"p_partkey")
      val kids = part.filter($"p_partkey" >= 10)
      val edges = kids.select(expr("p_partkey div 3").as("parent"),
          $"p_partkey".as("child"),
          (lit(1) + $"p_partkey" % 4).cast("long").as("qty"))
        .unionAll(kids.select(expr("p_partkey div 5").as("parent"),
          $"p_partkey".as("child"),
          (lit(1) + $"p_partkey" % 3).cast("long").as("qty")))
      val roots = part.filter($"p_partkey" < 30)
      Graph.bomExplode(edges, "parent", "child", "qty",
          roots, "p_partkey")
        .select($"root", $"node", $"total_mult", $"min_depth",
          $"n_paths")
        .orderBy($"root", $"node")
    },
    // q199: the oracle ENUMERATES paths with WITH RECURSIVE and
    // aggregates once at the end; the engine aggregates per level —
    // distributivity of × over + makes them equal, which is what the
    // hash checks
    Some(
      """WITH RECURSIVE e AS (
        |  SELECT p_partkey // 3 AS parent, p_partkey AS child,
        |    CAST(1 + p_partkey % 4 AS BIGINT) AS q
        |  FROM part WHERE p_partkey >= 10
        |  UNION ALL
        |  SELECT p_partkey // 5, p_partkey,
        |    CAST(1 + p_partkey % 3 AS BIGINT)
        |  FROM part WHERE p_partkey >= 10),
        |paths AS (
        |  SELECT parent AS root, child AS node, q AS mult, 1 AS depth
        |  FROM e WHERE parent < 30
        |    AND parent IN (SELECT p_partkey FROM part)
        |  UNION ALL
        |  SELECT p.root, e.child, p.mult * e.q, p.depth + 1
        |  FROM paths p JOIN e ON e.parent = p.node)
        |SELECT root, node, CAST(sum(mult) AS BIGINT) AS total_mult,
        |  CAST(min(depth) AS INT) AS min_depth,
        |  CAST(count(*) AS BIGINT) AS n_paths
        |FROM paths GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // CRITICAL-PATH METHOD — the project-scheduling readout of the
    // longest-path problem, q199's recursive-query class run in the
    // (max,+) semiring instead of (+,×): per task the earliest finish
    // (forward closure from sources), the longest remaining tail
    // (backward closure from sinks), total float, and the critical
    // flag. Same div3/div5 part-containment DAG as q199 (acyclic:
    // both parents strictly smaller), durations 1 + key % 7 days —
    // all integer, so the level-synchronous max-aggregation here and
    // the oracle's path-enumerating recursive CTE agree EXACTLY (the
    // (max,+) distributivity max-of-sums = max-of-maxes is what the
    // hash certifies). Top 25 by float, earliest-finish, key.
    QueryDef("q255_critical_path", (s, d) => {
      val part = Tables.part(s, d)
        .select($"p_partkey".cast("long").as("node"))
      val nodes = part.select($"node",
        (lit(1L) + $"node" % 7).as("dur"))
      val kids = part.filter($"node" >= 10)
      val edges = kids.select(expr("node div 3").as("pred"),
          $"node".as("succ"))
        .unionAll(kids.select(expr("node div 5").as("pred"),
          $"node".as("succ")))
      Graph.criticalPath(nodes, "node", "dur", edges, "pred", "succ")
        .orderBy($"slack", $"ef".desc, $"node")
        .limit(25)
    },
    // q255: both CPM passes as path-enumerating recursive CTEs — the
    // max over enumerated path sums equals the engine's per-round
    // max-aggregation by (max,+) distributivity
    Some(
      """WITH RECURSIVE
        |nodes AS (SELECT CAST(p_partkey AS BIGINT) AS node,
        |  CAST(1 + p_partkey % 7 AS BIGINT) AS dur FROM part),
        |edges AS (
        |  SELECT DISTINCT CAST(p_partkey // 3 AS BIGINT) AS p,
        |    CAST(p_partkey AS BIGINT) AS c FROM part
        |  WHERE p_partkey >= 10
        |  UNION
        |  SELECT CAST(p_partkey // 5 AS BIGINT),
        |    CAST(p_partkey AS BIGINT) FROM part WHERE p_partkey >= 10),
        |fwd(node, len) AS (
        |  SELECT n.node, n.dur FROM nodes n
        |  WHERE n.node NOT IN (SELECT c FROM edges)
        |  UNION ALL
        |  SELECT e.c, f.len + n2.dur
        |  FROM fwd f JOIN edges e ON f.node = e.p
        |  JOIN nodes n2 ON n2.node = e.c),
        |ef AS (SELECT node, max(len) AS ef FROM fwd GROUP BY 1),
        |bwd(node, len) AS (
        |  SELECT n.node, CAST(0 AS BIGINT) FROM nodes n
        |  WHERE n.node NOT IN (SELECT p FROM edges)
        |  UNION ALL
        |  SELECT e.p, b.len + n2.dur
        |  FROM bwd b JOIN edges e ON b.node = e.c
        |  JOIN nodes n2 ON n2.node = e.c),
        |lt AS (SELECT node, max(len) AS lt FROM bwd GROUP BY 1),
        |t AS (SELECT max(ef) AS t FROM ef)
        |SELECT n.node, n.dur, ef.ef, lt.lt,
        |  t.t - ef.ef - lt.lt AS slack,
        |  (t.t = ef.ef + lt.lt) AS is_critical
        |FROM nodes n JOIN ef USING (node) JOIN lt USING (node)
        |CROSS JOIN t
        |ORDER BY slack, ef DESC, node LIMIT 25""".stripMargin)),

    // TEXTRANK KEYWORDS — graph-based keyword extraction (Mihalcea &
    // Tarau's TextRank): terms are nodes, an edge links terms
    // ADJACENT anywhere in the corpus (window 1), and q121's
    // PageRank (dangling-corrected, 3 fixed iterations) ranks them.
    // The pair build is one zip_with over each doc's token array
    // (map-side — no explode-then-self-join), deduped to an
    // undirected edge set; the oracle replays tokenization, pair
    // build, and all three iterations in SQL. Corpus scale: the edge
    // set is VOCABULARY-sized (not corpus-sized) after the distinct,
    // so the iteration cost is bounded by the lexicon — the
    // whole-corpus scan happens exactly once.
    QueryDef("q261_textrank", (s, d) => {
      val toks = Tables.documents(s, d)
        .filter(length(trim($"text")) > 0)
        .select(split(trim($"text"), "\\s+").as("t"))
      val pairs = toks
        .select(explode(zip_with($"t", slice($"t", 2, 1000000),
          (a, b) => struct(a.as("a"), b.as("b")))).as("p"))
        .select($"p.a".as("a"), $"p.b".as("b"))
        .filter($"b".isNotNull && $"a" =!= $"b")
        .select(least($"a", $"b").as("u"), greatest($"a", $"b").as("v"))
        .distinct()
      val edges = pairs.select($"u".as("src"), $"v".as("dst"))
        .unionAll(pairs.select($"v".as("src"), $"u".as("dst")))
      Graph.pageRank(edges, "src", "dst", damping = 0.85, iters = 3)
        .select($"node".as("term"),
          Fns.roundU($"rank" * 1000, 6).as("rank_pm"))
        .orderBy($"rank_pm".desc, $"term")
        .limit(20)
    },
    // q261: same tokenization as q63, adjacent pairs via a list
    // comprehension, then q121's three-iteration PageRank replay
    Some(
      """WITH tok AS (
        |  SELECT string_split_regex(trim(text), '\s+') AS t
        |  FROM documents WHERE length(trim(text)) > 0),
        |pr AS (
        |  SELECT unnest([{'a': t[i], 'b': t[i+1]}
        |    for i in range(1, len(t))]) AS p
        |  FROM tok),
        |p2 AS (SELECT p.a AS a, p.b AS b FROM pr WHERE p.a <> p.b),
        |e0 AS (SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v
        |  FROM p2),
        |e AS (SELECT u AS src, v AS dst FROM e0
        |  UNION ALL SELECT v, u FROM e0),
        |""".stripMargin + pageRank3OracleCtes + """
        |SELECT node AS term,
        |  floor(r * 1000 * 1000000 + 0.5) / 1000000.0 AS rank_pm
        |FROM r3 ORDER BY rank_pm DESC, term LIMIT 20""".stripMargin)),

    // COMMUNITY DETECTION — synchronous min-label propagation over the
    // q121 customer↔supplier co-transaction graph, 3 fixed rounds
    // through [[operators.Graph.labelPropagate]]: per round one
    // labels⋈edges join + one per-destination min aggregate, state one
    // (node, label) row per node, lineage checkpointed per round. The
    // synchronous fixed-round rule (unlike randomized-order LPA) is a
    // deterministic graph function, so the rounds unroll as oracle
    // CTEs; at round 3 every label has flooded its 3-hop ball — the
    // bounded-frontier community view, converging to connected
    // components as rounds → diameter. Edges are REPEAT relationships
    // only (pairs co-transacting in ≥ 2 distinct orders) — the raw
    // bipartite graph is so hub-dense its diameter is ~4 and one label
    // floods everything by round 3; the repeat filter is the standard
    // noise cut that leaves genuine community structure. Top 20
    // communities by size.
    QueryDef("q281_label_propagation", (s, d) => {
      val eDir = Tables.lineitem(s, d)
        .join(Tables.orders(s, d), $"l_orderkey" === $"o_orderkey")
        .groupBy(concat(lit("c"), $"o_custkey").as("cust"),
          concat(lit("s"), $"l_suppkey").as("supp"))
        .agg(countDistinct($"o_orderkey").as("__no"))
        .filter($"__no" >= 2)
        .select($"cust", $"supp")
      val edges = eDir.select($"cust".as("src"), $"supp".as("dst"))
        .union(eDir.select($"supp".as("src"), $"cust".as("dst")))
      Graph.labelPropagate(edges, "src", "dst", iters = 3)
        .groupBy($"label".as("community"))
        .agg(count(lit(1)).as("n_nodes"))
        .orderBy($"n_nodes".desc, $"community")
        .limit(20)
    },
    // q281: the three synchronous min-label rounds unrolled; least()
    // with the left-join coalesce is exactly the Spark-side update
    Some(
      """WITH ed AS (
        |  SELECT 'c' || o_custkey AS cust, 's' || l_suppkey AS supp
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY 1, 2 HAVING count(DISTINCT l_orderkey) >= 2),
        |e AS (SELECT cust AS src, supp AS dst FROM ed
        |  UNION ALL SELECT supp, cust FROM ed),
        |l0 AS (SELECT DISTINCT src AS node, src AS label FROM e),
        |m1 AS (SELECT e.dst AS node, min(p.label) AS nl
        |  FROM e JOIN l0 p ON e.src = p.node GROUP BY 1),
        |l1 AS (SELECT l0.node,
        |    least(l0.label, coalesce(m1.nl, l0.label)) AS label
        |  FROM l0 LEFT JOIN m1 USING (node)),
        |m2 AS (SELECT e.dst AS node, min(p.label) AS nl
        |  FROM e JOIN l1 p ON e.src = p.node GROUP BY 1),
        |l2 AS (SELECT l1.node,
        |    least(l1.label, coalesce(m2.nl, l1.label)) AS label
        |  FROM l1 LEFT JOIN m2 USING (node)),
        |m3 AS (SELECT e.dst AS node, min(p.label) AS nl
        |  FROM e JOIN l2 p ON e.src = p.node GROUP BY 1),
        |l3 AS (SELECT l2.node,
        |    least(l2.label, coalesce(m3.nl, l2.label)) AS label
        |  FROM l2 LEFT JOIN m3 USING (node))
        |SELECT label AS community, CAST(count(*) AS BIGINT) AS n_nodes
        |FROM l3 GROUP BY 1
        |ORDER BY n_nodes DESC, community LIMIT 20""".stripMargin)),

    // ITEM-ITEM COLLABORATIVE SIMILARITY — the recommender staple
    // over the q111 capped basket pairs: cosine²(a,b) =
    // co²/(n_a·n_b) emitted as the exact integer
    // (co²·10⁶) div (n_a·n_b) — monotone in cosine, so the top-20
    // ranking is float-free and hash-exact. Support floor co ≥ 2
    // (a single co-purchase is noise, and it keeps the pair table
    // bounded); basket caps keep hub orders from going quadratic —
    // the same guarantee the whole graph family rides.
    QueryDef("q288_item_cosine", (s, d) => {
      val baskets = cappedBaskets(s, d, cap = 8)
      val co = basketPairs(baskets)
        .groupBy($"a", $"b").agg(count(lit(1)).as("co"))
        .filter($"co" >= 2)
      val n = baskets.select(explode($"__items").as("item"))
        .groupBy($"item").agg(count(lit(1)).as("n"))
      co.join(n.select($"item".as("a"), $"n".as("__na")), Seq("a"))
        .join(n.select($"item".as("b"), $"n".as("__nb")), Seq("b"))
        .select($"a".as("part_a"), $"b".as("part_b"), $"co",
          $"__na".as("n_a"), $"__nb".as("n_b"),
          expr("(co * co * 1000000) div (__na * __nb)")
            .as("cosine2_ppm"))
        .orderBy($"cosine2_ppm".desc, $"part_a", $"part_b")
        .limit(20)
    },
    // q288: q111's capped-basket self-join with per-item basket
    // counts; the same integer cosine² ranking
    Some(
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |capped AS (
        |  SELECT l_orderkey, l_partkey FROM (
        |    SELECT *, row_number() OVER (PARTITION BY l_orderkey
        |      ORDER BY l_partkey) AS rn FROM items) WHERE rn <= 8),
        |co AS (
        |  SELECT a.l_partkey AS pa, b.l_partkey AS pb,
        |    CAST(count(*) AS BIGINT) AS co
        |  FROM capped a JOIN capped b
        |    ON a.l_orderkey = b.l_orderkey
        |    AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |n AS (SELECT l_partkey AS item, CAST(count(*) AS BIGINT) AS n
        |  FROM capped GROUP BY 1)
        |SELECT co.pa AS part_a, co.pb AS part_b, co.co,
        |  na.n AS n_a, nb.n AS n_b,
        |  CAST((co.co * co.co * 1000000) // (na.n * nb.n) AS BIGINT)
        |    AS cosine2_ppm
        |FROM co JOIN n na ON co.pa = na.item
        |JOIN n nb ON co.pb = nb.item
        |ORDER BY cosine2_ppm DESC, part_a, part_b LIMIT 20""".stripMargin)),

    // APRIORI TRIPLES — frequent 3-itemsets over per-document token
    // baskets, with the level-wise CANDIDATE PRUNE that makes Apriori
    // scale: triples are counted only when all three constituent
    // pairs are frequent (the frequent-pair set broadcasts — it is
    // support-bounded however large the corpus is). The prune is pure
    // performance: by downward closure support(abc) ≤ support(any
    // pair), so the oracle computes triples DIRECTLY with the same
    // HAVING — hash equality is the closure lemma itself. The support
    // threshold (≥ 5 % of baskets) is the cross-multiplied integer
    // test 20·s ≥ N; tokens per doc are capped 8 sorted, so triple
    // generation is ≤ C(8,3) per basket, never vocabulary-quadratic.
    QueryDef("q290_apriori_triples", (s, d) => {
      val baskets = Tables.documents(s, d)
        .select($"doc_id",
          explode(TextAnalysis.wsTokens($"text")).as("__tok"))
        .groupBy($"doc_id")
        .agg(slice(sort_array(collect_set($"__tok")), 1, 8)
          .as("__items"))
      // BOUNDED COLLECT of the frequent-pair set: ≤ C(8,2)/0.05 = 560
      // rows by the support threshold alone, corpus-size-independent
      // (Σ pair support ≤ 28·N and each frequent pair carries ≥ N/20)
      // — the same class as the suite's 1-row aggregates. Pulling it
      // to the driver once means (a) the basket derivation is computed
      // twice total (supports + expansion) instead of once per
      // broadcast semi-join, and (b) the frequent-ITEM alphabet
      // becomes a literal array_intersect that prunes each basket
      // MAP-SIDE before the C(k,3) expansion — no added shuffle. The
      // r7 two-decade probe showed the 56·N-row pre-prune candidate
      // stream is what goes super-linear at fixed cores; an explode→
      // semi-join→regroup cure was measured WORSE (the item shuffle
      // cost more than the prune saved — 93.5 % of capped-basket items
      // are pair-frequent on this Zipfian corpus), so the prune must
      // be shuffle-free to pay.
      val nBv = baskets.count()
      val fpArr = basketPairs(baskets)
        .groupBy($"a", $"b").agg(count(lit(1)).as("__s"))
        .filter($"__s" * 20 >= nBv)
        .select($"a", $"b")
        .as[(String, String)](org.apache.spark.sql.Encoders
          .tuple(org.apache.spark.sql.Encoders.STRING,
            org.apache.spark.sql.Encoders.STRING))
        .collect().sortBy(identity)
      val freqPairs = s.createDataFrame(fpArr.toSeq).toDF("a", "b")
      val fiArr = fpArr.flatMap(p => Seq(p._1, p._2)).distinct.sorted
      val prunedBaskets = baskets.select($"doc_id",
          array_intersect($"__items", typedLit(fiArr)).as("__items"))
        .filter(size($"__items") >= 3)
      val triples = prunedBaskets.select(explode(flatten(flatten(
          transform($"__items", (x, i) =>
            transform(slice($"__items", i + 2, size($"__items")),
              (y, j) => transform(
                slice($"__items", i + j + 3, size($"__items")),
                z => struct(x.as("a"), y.as("b"), z.as("c"))))))))
          .as("t"))
        .select($"t.a".as("a"), $"t.b".as("b"), $"t.c".as("c"))
      val pruned = triples
        .join(broadcast(freqPairs), Seq("a", "b"), "left_semi")
        .join(broadcast(freqPairs
          .select($"a", $"b".as("c"))), Seq("a", "c"), "left_semi")
        .join(broadcast(freqPairs
          .select($"a".as("b"), $"b".as("c"))), Seq("b", "c"),
          "left_semi")
      pruned.groupBy($"a".as("item_a"), $"b".as("item_b"),
          $"c".as("item_c"))
        .agg(count(lit(1)).as("support"))
        .filter($"support" * 20 >= nBv)
        .select($"item_a", $"item_b", $"item_c", $"support")
        .orderBy($"support".desc, $"item_a", $"item_b", $"item_c")
        .limit(20)
    },
    // q290: triples computed DIRECTLY (no prune) with the same
    // HAVING — equality with the pruned Spark plan is downward
    // closure: support(abc) ≤ support of every constituent pair
    Some(
      """WITH b AS (
        |  SELECT DISTINCT doc_id, tok FROM (
        |    SELECT doc_id,
        |      unnest(string_split_regex(trim(text), '\s+')) AS tok
        |    FROM documents WHERE length(trim(text)) > 0)),
        |capped AS (
        |  SELECT doc_id, tok FROM (
        |    SELECT *, row_number() OVER (PARTITION BY doc_id
        |      ORDER BY tok) AS rn FROM b) WHERE rn <= 8),
        |nb AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n
        |  FROM capped),
        |t AS (
        |  SELECT x.tok AS item_a, y.tok AS item_b, z.tok AS item_c,
        |    CAST(count(*) AS BIGINT) AS support
        |  FROM capped x
        |  JOIN capped y ON x.doc_id = y.doc_id AND x.tok < y.tok
        |  JOIN capped z ON y.doc_id = z.doc_id AND y.tok < z.tok
        |  GROUP BY 1, 2, 3)
        |SELECT item_a, item_b, item_c, support
        |FROM t CROSS JOIN nb WHERE support * 20 >= nb.n
        |ORDER BY support DESC, item_a, item_b, item_c
        |LIMIT 20""".stripMargin)),

    // K-TRUSS — the triangle-density community extraction next to
    // q135's k-core (cores count neighbors, trusses count MUTUAL
    // neighbors: a star survives any core peel but no truss peel).
    // Iterative support peel over the co-purchase graph until every
    // surviving edge closes ≥ k−2 triangles among survivors; output
    // is the support histogram of the 4-truss. Oracled since the
    // q135 lesson generalizes: DuckDB's recursive CTEs take a nested
    // WITH inside the recursive member, so each round's triangle
    // join + support fold + peel replays to ITS OWN fixpoint at the
    // fixed k — no guessed depth. Spark side is the checkpointed
    // iterative peel (Graph.kTruss), the 100 TB-shaped plan.
    QueryDef("q307_ktruss", (s, d) => {
      // no .distinct() here: kTruss value-normalizes and distincts its
      // input itself, so the outer one was a second full edge shuffle
      val edges = basketPairs(cappedBaskets(s, d, cap = 5))
      Graph.kTruss(edges, "a", "b", k = 4)
        .groupBy($"support").agg(count(lit(1)).as("n_edges"))
        .orderBy($"support")
    },
    // q307: the truss peel replayed to its own fixpoint at k=4 — the
    // q135 recursive-CTE pattern with a nested WITH in the recursive
    // member (triangle join once, three incidence folds, the
    // window-sum vs working-table-count stop test); the final support
    // histogram recounts triangles over the fixed point.
    Some(
      """WITH RECURSIVE
        |bk AS (
        |  SELECT l_orderkey,
        |    list_slice(list_sort(list_distinct(list(l_partkey))), 1, 5)
        |      AS items
        |  FROM lineitem GROUP BY l_orderkey),
        |e0 AS (
        |  SELECT DISTINCT u1.a AS a, u2.b AS b
        |  FROM bk, unnest(bk.items) u1(a), unnest(bk.items) u2(b)
        |  WHERE u1.a < u2.b),
        |peel(round, a, b) AS (
        |  SELECT 0, a, b FROM e0
        |  UNION ALL
        |  SELECT round + 1, a, b FROM (
        |    WITH tri AS (
        |      SELECT e1.a AS ta, e1.b AS tb, e2.b AS tc
        |      FROM peel e1
        |      JOIN peel e2 ON e1.b = e2.a
        |      JOIN peel e3 ON e3.a = e1.a AND e3.b = e2.b),
        |    sup AS (
        |      SELECT a, b, count(*) AS s FROM (
        |        SELECT ta AS a, tb AS b FROM tri
        |        UNION ALL SELECT ta AS a, tc AS b FROM tri
        |        UNION ALL SELECT tb AS a, tc AS b FROM tri) x
        |      GROUP BY a, b)
        |    SELECT (SELECT min(round) FROM peel) AS round,
        |      sup.a, sup.b, sup.s,
        |      sum(CASE WHEN sup.s >= 2 THEN 1 ELSE 0 END)
        |        OVER () AS nsurv
        |    FROM sup) q
        |  WHERE s >= 2 AND nsurv < (SELECT count(*) FROM peel)),
        |mx AS (SELECT max(round) AS r FROM peel),
        |truss AS (SELECT a, b FROM peel, mx WHERE round = mx.r),
        |tri2 AS (
        |  SELECT e1.a AS ta, e1.b AS tb, e2.b AS tc
        |  FROM truss e1 JOIN truss e2 ON e1.b = e2.a
        |  JOIN truss e3 ON e3.a = e1.a AND e3.b = e2.b),
        |sup2 AS (
        |  SELECT a, b, count(*) AS s FROM (
        |    SELECT ta AS a, tb AS b FROM tri2
        |    UNION ALL SELECT ta AS a, tc AS b FROM tri2
        |    UNION ALL SELECT tb AS a, tc AS b FROM tri2) x
        |  GROUP BY a, b)
        |SELECT CAST(s AS BIGINT) AS support,
        |  CAST(count(*) AS BIGINT) AS n_edges
        |FROM sup2 GROUP BY 1 ORDER BY 1""".stripMargin))
  )

  /** Capped basket item sets over distinct (order, part) rows — ONE
    * derivation for the whole market-basket/graph family (q111 pair
    * supports, q126 rules, q131 triangles, q135 k-core), so the cap
    * and dedup order can never drift between the queries (q126's
    * supports/pairs consistency depends on exactly that). `cap`
    * bounds per-basket pair fanout at cap·(cap−1)/2 however large one
    * degenerate basket gets; the sorted slice makes WHICH items
    * survive the cap deterministic. */
  private def cappedBaskets(s: SparkSession, d: String, cap: Int)
      : org.apache.spark.sql.DataFrame =
    // collect_set dedups per order on its own — a distinct() before
    // this groupBy would be a second full shuffle of the fact scan
    // for nothing (measured ~15% off the graph-query derivation)
    Tables.lineitem(s, d)
      .select($"l_orderkey", $"l_partkey")
      .groupBy($"l_orderkey")
      .agg(slice(sort_array(collect_set($"l_partkey")), 1, cap)
        .as("__items"))

  /** One row per within-basket item pair (a < b — the items arrive
    * sorted), NOT deduped across baskets: q111/q126 count pair
    * support per basket; graph consumers `.distinct()` to edges. */
  private def basketPairs(items: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    // two Generates (posexplode + explode of the sorted suffix) instead
    // of the nested transform/flatten/struct lambda chain: higher-order
    // functions evaluate as interpreted lambdas OUTSIDE whole-stage
    // codegen and allocate a struct per pair — measured ~14 µs/row on
    // the 1.2M-pair basket stream every graph query derives. The two
    // explodes emit the identical pair multiset (a at position i pairs
    // with every later element) in the same order, in generated code,
    // with no intermediate arrays-of-structs.
    items
      .select($"__items", posexplode($"__items").as(Seq("__i", "a")))
      .select($"a", explode(slice($"__items", $"__i" + 2,
        size($"__items"))).as("b"))

  /** Three PageRank power iterations in SQL over an undirected edge
    * set `e` (src, dst), shared by q121 and q261: uniform start, then
    * (1-d)/N + d·Σ r/deg with d = 0.85, ending at `r3` (node, r). The
    * edge sets have no sinks, so the dangling term is zero. */
  private val pageRank3OracleCtes: String =
    """deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg
      |  FROM e GROUP BY 1),
      |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM deg),
      |r0 AS (SELECT src AS node, 1.0 / nn.n AS r
      |  FROM deg CROSS JOIN nn),
      |r1 AS (
      |  SELECT e.dst AS node,
      |    0.15 / max(nn.n) + 0.85 * sum(p.r / deg.deg) AS r
      |  FROM e JOIN r0 p ON e.src = p.node
      |  JOIN deg ON e.src = deg.src CROSS JOIN nn
      |  GROUP BY e.dst),
      |r2 AS (
      |  SELECT e.dst AS node,
      |    0.15 / max(nn.n) + 0.85 * sum(p.r / deg.deg) AS r
      |  FROM e JOIN r1 p ON e.src = p.node
      |  JOIN deg ON e.src = deg.src CROSS JOIN nn
      |  GROUP BY e.dst),
      |r3 AS (
      |  SELECT e.dst AS node,
      |    0.15 / max(nn.n) + 0.85 * sum(p.r / deg.deg) AS r
      |  FROM e JOIN r2 p ON e.src = p.node
      |  JOIN deg ON e.src = deg.src CROSS JOIN nn
      |  GROUP BY e.dst)""".stripMargin

  /** [[cappedBaskets]] (cap 5) and [[basketPairs]]' distinct edges in
    * SQL, for the co-purchase graph queries' oracles: one row per
    * (order, part), the 5 lowest parts per order, and the distinct
    * within-basket edges (a < b). */
  private val basketEdgeOracleCtes: String =
    """items AS (
      |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |capped AS (
      |  SELECT l_orderkey, l_partkey FROM (
      |    SELECT *, row_number() OVER (PARTITION BY l_orderkey
      |      ORDER BY l_partkey) AS rn FROM items) WHERE rn <= 5),
      |edges AS (
      |  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
      |  FROM capped a JOIN capped b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey)""".stripMargin
}
