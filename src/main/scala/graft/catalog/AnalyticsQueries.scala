package graft
package catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.operators._
import graft.SparkEntry.scoped

/** Statistics and ordered analytics over the star schema: quantiles,
  * tests, regressions, model-evaluation tables and window-function
  * series. A query lands here when its build calls `Percentiles`,
  * `Stats`, `Sampling`, `Packing`, a statistical aggregate, or `Window`. */
object AnalyticsQueries {

  def defs: Seq[QueryDef] = Seq(
    // Window ranking: top-3 orders by totalprice per priority class.
    QueryDef("q07_topk_per_group", (s, d) => {
      val w = Window.partitionBy($"o_orderpriority")
        .orderBy($"o_totalprice".desc, $"o_orderkey".asc)
      Tables.orders(s, d)
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter($"rk" <= 3)
        .select($"o_orderpriority", $"rk", $"o_orderkey", $"o_totalprice")
        .orderBy($"o_orderpriority", $"rk")
    }, Some(
      """SELECT o_orderpriority, rk, o_orderkey, o_totalprice FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice, row_number()
        |    OVER (PARTITION BY o_orderpriority
        |          ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
        |  FROM orders) WHERE rk <= 3
        |ORDER BY o_orderpriority, rk""".stripMargin)),

    // Exact median per group via the multi-level histogram (see
    // operators.Percentiles): every stage a parallel hash aggregate or a
    // window over ≤4096 rows per group, regardless of data size. The
    // previous distinct-value form was still a near-row-level sort here —
    // l_extendedprice is near-unique, so 3 tasks each sorted ~n/3 values.
    QueryDef("q33_percentiles", (s, d) => {
      // NOT persisted at the call site despite the levels+2 re-reads:
      // measured at sf0.1, re-scanning the column-pruned parquet beats
      // the row-format cache scan (2-col scan is cheaper than cache
      // materialization + InMemoryTableScan for this few passes).
      Percentiles.exactMedian(Tables.lineitem(s, d), "l_returnflag",
          "l_extendedprice")
        .select($"l_returnflag",
          Fns.roundU($"median", 2).as("median_price"), $"n_mid")
        .orderBy($"l_returnflag")
    }, Some(
      """WITH ranked AS (
        |  SELECT l_returnflag, l_extendedprice,
        |    row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY l_extendedprice) AS rn,
        |    count(*) OVER (PARTITION BY l_returnflag) AS n
        |  FROM lineitem)
        |SELECT l_returnflag,
        |  floor((avg(l_extendedprice)) * 100 + 0.5) / 100.0
        |    AS median_price,
        |  count(*) AS n_mid
        |FROM ranked
        |WHERE rn = (n + 1) // 2 OR rn = n // 2 + 1
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // Ranking-function suite: rank/dense_rank/percent_rank/ntile/
    // cume_dist over one window (the analytic functions §2.4 lists as
    // absent from the reference).
    QueryDef("q41_rank_suite", (s, d) => {
      val w = Window.partitionBy($"o_orderpriority")
        .orderBy($"o_totalprice".desc, $"o_orderkey")
      Tables.orders(s, d)
        .filter($"o_orderkey" % 100 === 0)
        .select($"o_orderpriority", $"o_orderkey", $"o_totalprice",
          rank().over(w).as("rnk"),
          dense_rank().over(w).as("drnk"),
          Fns.roundU(percent_rank().over(w), 6).as("prnk"),
          ntile(4).over(w).as("quartile"),
          Fns.roundU(cume_dist().over(w), 6).as("cdist"))
        .orderBy($"o_orderpriority", $"rnk")
    }, Some(
      """SELECT o_orderpriority, o_orderkey, o_totalprice,
        |  CAST(rank() OVER w AS INT) AS rnk,
        |  CAST(dense_rank() OVER w AS INT) AS drnk,
        |  floor((percent_rank() OVER w) * 1000000 + 0.5) / 1000000.0
        |    AS prnk,
        |  CAST(ntile(4) OVER w AS INT) AS quartile,
        |  floor((cume_dist() OVER w) * 1000000 + 0.5) / 1000000.0
        |    AS cdist
        |FROM orders WHERE o_orderkey % 100 = 0
        |WINDOW w AS (PARTITION BY o_orderpriority
        |             ORDER BY o_totalprice DESC, o_orderkey)
        |ORDER BY o_orderpriority, rnk""".stripMargin)),

    // Exact p25/p50/p75 per group via the same multi-level histogram
    // (type-1 nearest-rank), each quantile narrowing its own range.
    QueryDef("q50_quantiles", (s, d) => {
      // not persisted — same measured call as q33
      Percentiles.exactQuantiles(Tables.lineitem(s, d), "l_returnflag",
          "l_extendedprice", Seq(0.25, 0.5, 0.75))
        .select($"l_returnflag", $"q", $"value")
        .orderBy($"l_returnflag", $"q")
    }, Some(
      """WITH ranked AS (
        |  SELECT l_returnflag, l_extendedprice,
        |    row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY l_extendedprice) AS rn,
        |    count(*) OVER (PARTITION BY l_returnflag) AS n
        |  FROM lineitem)
        |SELECT l_returnflag, CAST(q AS DOUBLE) AS q,
        |  l_extendedprice AS value
        |FROM ranked, (VALUES (0.25), (0.5), (0.75)) AS qs(q)
        |WHERE rn = greatest(1, CAST(ceil(CAST(q AS DOUBLE) * n) AS BIGINT))
        |ORDER BY l_returnflag, q""".stripMargin)),

    // FEATURE CORRELATION matrix — the ML-prep stats pass: Pearson
    // corr for every numeric column pair in ONE scan (corr is a
    // sufficient-statistics aggregate — sums/products with map-side
    // combine — so k² pairs cost one pass, no per-pair rescans), then
    // the wide row unpivots to (col_a, col_b, corr).
    QueryDef("q85_feature_corr", (s, d) => {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount",
        "l_tax")
      val pairs = for {
        i <- cols.indices; j <- cols.indices if i < j
      } yield (cols(i), cols(j))
      val aggs = pairs.map { case (a, b) =>
        Fns.roundU(corr(col(a), col(b)), 6).as(s"__c_${a}_$b")
      }
      val stacked = pairs.map { case (a, b) =>
        s"'$a', '$b', __c_${a}_$b"
      }.mkString(", ")
      Tables.lineitem(s, d).agg(aggs.head, aggs.tail: _*)
        .selectExpr(s"stack(${pairs.length}, $stacked) as " +
          "(col_a, col_b, pearson_corr)")
        .orderBy($"col_a", $"col_b")
    }, Some(
      """WITH w AS (SELECT
        |  floor((corr(l_quantity, l_extendedprice)) * 1000000 + 0.5)
        |    / 1000000.0 AS c_qty_price,
        |  floor((corr(l_quantity, l_discount)) * 1000000 + 0.5)
        |    / 1000000.0 AS c_qty_disc,
        |  floor((corr(l_quantity, l_tax)) * 1000000 + 0.5)
        |    / 1000000.0 AS c_qty_tax,
        |  floor((corr(l_extendedprice, l_discount)) * 1000000 + 0.5)
        |    / 1000000.0 AS c_price_disc,
        |  floor((corr(l_extendedprice, l_tax)) * 1000000 + 0.5)
        |    / 1000000.0 AS c_price_tax,
        |  floor((corr(l_discount, l_tax)) * 1000000 + 0.5)
        |    / 1000000.0 AS c_disc_tax
        |FROM lineitem)
        |SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b,
        |  c_qty_price AS pearson_corr FROM w
        |UNION ALL SELECT 'l_quantity', 'l_discount', c_qty_disc FROM w
        |UNION ALL SELECT 'l_quantity', 'l_tax', c_qty_tax FROM w
        |UNION ALL SELECT 'l_extendedprice', 'l_discount', c_price_disc
        |  FROM w
        |UNION ALL SELECT 'l_extendedprice', 'l_tax', c_price_tax FROM w
        |UNION ALL SELECT 'l_discount', 'l_tax', c_disc_tax FROM w
        |ORDER BY col_a, col_b""".stripMargin)),

    // Per-group OLS — group-wise linear fit from sufficient statistics
    // (regr_slope/regr_intercept are single-pass aggregates): price as
    // a function of quantity per return flag. The 1-D least-squares
    // fit needs NO iterative solver, so "train a model per group"
    // stays one hash aggregate at any data size.
    QueryDef("q86_group_regression", (s, d) => {
      Tables.lineitem(s, d)
        .groupBy($"l_returnflag")
        .agg(count(lit(1)).as("n"),
          Fns.roundU(regr_slope($"l_extendedprice", $"l_quantity"), 4)
            .as("slope"),
          Fns.roundU(regr_intercept($"l_extendedprice", $"l_quantity"), 2)
            .as("intercept"),
          Fns.roundU(corr($"l_extendedprice", $"l_quantity"), 6)
            .as("fit_corr"))
        .orderBy($"l_returnflag")
    }, Some(
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |  floor((regr_slope(l_extendedprice, l_quantity)) * 10000 + 0.5)
        |    / 10000.0 AS slope,
        |  floor((regr_intercept(l_extendedprice, l_quantity)) * 100
        |    + 0.5) / 100.0 AS intercept,
        |  floor((corr(l_extendedprice, l_quantity)) * 1000000 + 0.5)
        |    / 1000000.0 AS fit_corr
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin)),

    // WINSORIZED mean — robust aggregation composed from the exact
    // histogram quantiles: per-group p05/p95 bounds (each a parallel
    // multi-level histogram, q33's machinery) broadcast back onto the
    // facts, values clipped, then a plain mean. The robust-stats pass
    // quality-score pipelines run to stop outliers steering thresholds.
    QueryDef("q90_winsorized_mean", (s, d) => {
      val li = Tables.lineitem(s, d)
      val qs = Percentiles.exactQuantiles(li, "l_returnflag",
          "l_extendedprice", Seq(0.05, 0.95))
      val bounds = qs.groupBy($"l_returnflag")
        .agg(min(when($"q" === 0.05, $"value")).as("__lo"),
          min(when($"q" === 0.95, $"value")).as("__hi"))
      li.select($"l_returnflag", $"l_extendedprice")
        .join(broadcast(bounds), "l_returnflag")
        .select($"l_returnflag",
          least(greatest($"l_extendedprice", $"__lo"), $"__hi")
            .as("__clipped"), $"l_extendedprice")
        .groupBy($"l_returnflag")
        .agg(count(lit(1)).as("n"),
          Fns.roundU(avg($"l_extendedprice"), 2).as("raw_mean"),
          Fns.roundU(avg($"__clipped"), 2).as("winsorized_mean"))
        .orderBy($"l_returnflag")
    },
    // q90: the nearest-rank (type-1) bound formula matches q50's oracle
    Some(
      """WITH ranked AS (
        |  SELECT l_returnflag, l_extendedprice,
        |    row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY l_extendedprice) AS rn,
        |    count(*) OVER (PARTITION BY l_returnflag) AS n
        |  FROM lineitem),
        |b AS (
        |  SELECT l_returnflag,
        |    max(CASE WHEN rn = greatest(1,
        |      CAST(ceil(0.05 * n) AS BIGINT)) THEN l_extendedprice END)
        |      AS lo,
        |    max(CASE WHEN rn = greatest(1,
        |      CAST(ceil(0.95 * n) AS BIGINT)) THEN l_extendedprice END)
        |      AS hi
        |  FROM ranked GROUP BY l_returnflag)
        |SELECT r.l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |  floor((avg(r.l_extendedprice)) * 100 + 0.5) / 100.0
        |    AS raw_mean,
        |  floor((avg(least(greatest(r.l_extendedprice, b.lo), b.hi)))
        |    * 100 + 0.5) / 100.0 AS winsorized_mean
        |FROM ranked r JOIN b USING (l_returnflag)
        |GROUP BY r.l_returnflag ORDER BY r.l_returnflag""".stripMargin)),

    // MAD ROBUST OUTLIERS — median absolute deviation per return flag:
    // med = exact median(price), mad = exact median(|price − med|),
    // outliers counted at the 3·MAD fence. Both medians go through the
    // multi-level histogram (q33's operator — bounded hash aggregates,
    // no per-group sort), composed: the second pass scans with the
    // 3-row med table broadcast on. The robust-statistics alternative
    // to q90's winsorized mean.
    QueryDef("q122_mad_outliers", (s, d) => {
      // Deliberately NOT scoped-persisted despite three downstream
      // scans (median pass, deviation-median pass, fence aggregate):
      // measured at sf0.1 solo, persisting this 2-column projection
      // was 10.8 s vs 4.5 s without — building the columnar
      // InMemoryRelation for 6M rows costs more than two extra
      // column-pruned parquet scans (dictionary-decoded doubles are
      // nearly free to re-read; the q208 persist pays off only when
      // the REUSED subtree contains a shuffle or wide decode, which
      // this one doesn't).
      val li = Tables.lineitem(s, d)
        .select($"l_returnflag", $"l_extendedprice")
      // ONE stats pass shared by both medians (one fewer full scan +
      // aggregate in the plan): the price pass takes it verbatim, and
      // the deviation pass derives its bounds from it — |v − med| is
      // in [0, max(hi − med, med − lo)] and the counts are unchanged
      // (prices are finite non-null, so |v − med| is too; the wider
      // range is exactness-safe per the statsHint contract).
      val stats0 = li
        .filter($"l_extendedprice".isNotNull &&
          !isnan($"l_extendedprice"))
        .groupBy($"l_returnflag".as("__g"))
        .agg(min($"l_extendedprice").cast("double").as("__lo"),
          max($"l_extendedprice").cast("double").as("__hi"),
          count(lit(1)).as("__n"))
        .withColumn("__nneg", lit(0L)).withColumn("__npos", lit(0L))
        .transform(scoped)
      val med = Percentiles.exactMedian(li, "l_returnflag",
          "l_extendedprice", statsHint = Some(stats0))
        .select($"l_returnflag", $"median".as("__med"))
      val dev = li.join(broadcast(med), "l_returnflag")
        .select($"l_returnflag",
          abs($"l_extendedprice" - $"__med").as("__dev"))
      val devStats = stats0
        .join(broadcast(med.withColumnRenamed("l_returnflag", "__g")),
          Seq("__g"))
        .select($"__g", lit(0.0).as("__lo"),
          greatest($"__hi" - $"__med", $"__med" - $"__lo").as("__hi"),
          $"__n", $"__nneg", $"__npos")
      val mad = Percentiles.exactMedian(dev, "l_returnflag", "__dev",
          statsHint = Some(devStats))
        .select($"l_returnflag", $"median".as("__mad"))
      li.join(broadcast(med), "l_returnflag")
        .join(broadcast(mad), "l_returnflag")
        .groupBy($"l_returnflag")
        .agg(Fns.roundU(max($"__med"), 2).as("median_price"),
          Fns.roundU(max($"__mad"), 2).as("mad"),
          sum(when(abs($"l_extendedprice" - $"__med") >
            lit(3.0) * $"__mad", 1L).otherwise(0L)).as("n_outliers"),
          count(lit(1)).as("n"))
        .orderBy($"l_returnflag")
    },
    // q122: both medians via the ranked middle-pair average (the q33
    // dual), composed exactly like the Spark side
    Some(
      """WITH li AS (
        |  SELECT l_returnflag, l_extendedprice FROM lineitem),
        |r1 AS (
        |  SELECT l_returnflag, l_extendedprice,
        |    row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY l_extendedprice) AS rn,
        |    count(*) OVER (PARTITION BY l_returnflag) AS n FROM li),
        |med AS (
        |  SELECT l_returnflag, avg(l_extendedprice) AS med FROM r1
        |  WHERE rn = (n + 1) // 2 OR rn = n // 2 + 1 GROUP BY 1),
        |dv AS (
        |  SELECT li.l_returnflag,
        |    abs(li.l_extendedprice - med.med) AS dev
        |  FROM li JOIN med USING (l_returnflag)),
        |r2 AS (
        |  SELECT l_returnflag, dev,
        |    row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY dev) AS rn,
        |    count(*) OVER (PARTITION BY l_returnflag) AS n FROM dv),
        |mad AS (
        |  SELECT l_returnflag, avg(dev) AS mad FROM r2
        |  WHERE rn = (n + 1) // 2 OR rn = n // 2 + 1 GROUP BY 1)
        |SELECT li.l_returnflag,
        |  floor(max(med.med) * 100 + 0.5) / 100.0 AS median_price,
        |  floor(max(mad.mad) * 100 + 0.5) / 100.0 AS mad,
        |  CAST(sum(CASE WHEN abs(li.l_extendedprice - med.med)
        |    > 3.0 * mad.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM li JOIN med USING (l_returnflag)
        |JOIN mad USING (l_returnflag)
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // BENFORD FIRST-DIGIT AUDIT — fraud-screening staple: the leading
    // digit distribution of order totals vs Benford's log law. Digit
    // extraction is a LIBM-FREE decade CASE (log10 would put each
    // engine's math library in the hash path; nested division by
    // exact powers of 10 keeps both engines on identical IEEE ops).
    // One scan, 9-row output, expected freqs from ln (display-only,
    // rounded).
    QueryDef("q123_benford", (s, d) => {
      val x = $"o_totalprice"
      val mag = when(x >= 1000000, x / 1000000)
        .when(x >= 100000, x / 100000)
        .when(x >= 10000, x / 10000)
        .when(x >= 1000, x / 1000)
        .when(x >= 100, x / 100)
        .when(x >= 10, x / 10)
        .otherwise(x)
      val tot = Tables.orders(s, d)
        .filter($"o_totalprice" >= 1)
        .select(floor(mag).cast("int").as("digit"))
        .groupBy($"digit").agg(count(lit(1)).as("n"))
      val all = tot.agg(sum($"n").as("__tot"))
      tot.crossJoin(broadcast(all))
        .select($"digit", $"n",
          Fns.roundU($"n" / $"__tot".cast("double"), 4).as("obs_frac"),
          Fns.roundU(log(lit(1.0) + lit(1.0) / $"digit") / log(lit(10.0)),
            4).as("benford_frac"))
        .orderBy($"digit")
    },
    // q123: identical libm-free decade CASE for the leading digit;
    // Benford expectation from ln on both sides (display-rounded)
    Some(
      """WITH digits AS (
        |  SELECT CAST(floor(CASE
        |      WHEN o_totalprice >= 1000000 THEN o_totalprice / 1000000
        |      WHEN o_totalprice >= 100000 THEN o_totalprice / 100000
        |      WHEN o_totalprice >= 10000 THEN o_totalprice / 10000
        |      WHEN o_totalprice >= 1000 THEN o_totalprice / 1000
        |      WHEN o_totalprice >= 100 THEN o_totalprice / 100
        |      WHEN o_totalprice >= 10 THEN o_totalprice / 10
        |      ELSE o_totalprice END) AS INTEGER) AS digit
        |  FROM orders WHERE o_totalprice >= 1),
        |c AS (SELECT digit, CAST(count(*) AS BIGINT) AS n
        |  FROM digits GROUP BY 1),
        |t AS (SELECT sum(n) AS tot FROM c)
        |SELECT digit, n,
        |  floor(n / CAST(tot AS DOUBLE) * 10000 + 0.5) / 10000.0
        |    AS obs_frac,
        |  floor(ln(1.0 + 1.0 / digit) / ln(10.0) * 10000 + 0.5)
        |    / 10000.0 AS benford_frac
        |FROM c CROSS JOIN t ORDER BY digit""".stripMargin)),

    // SKYLINE (Pareto frontier) — parts where no other part is both
    // cheaper-or-equal and larger-or-equal (strict in one): the
    // multi-objective shortlist query. The naive form is an all-pairs
    // NOT EXISTS (the oracle — quadratic, fine for DuckDB at sf0.01);
    // the engine's plan is the bucket-pruned scan: collapse to
    // distinct prices (hash agg, max size each), bucket prices into
    // ≤1024 fixed-width bins, take each bin's best size, cum-max over
    // the BIN table (≤1024 rows — the only single-task window, sized
    // by the bin count, not the data), then a per-bin window finds
    // prices beating both the in-bin prefix best and the
    // strictly-lower-bins best. Frontier ⇔ msize(p) > best size at
    // any cheaper price — the 2-D dominance test in O(n) after the
    // per-price collapse.
    QueryDef("q129_skyline", (s, d) => {
      val pts = Tables.part(s, d)
        .select($"p_retailprice".as("price"), $"p_size".as("size"))
      val dp = pts.groupBy($"price", $"size")
        .agg(count(lit(1)).as("n_parts"))
      // n_parts is unique per (price,size), so max(struct) picks the
      // max size and carries its count
      val perPrice = dp.groupBy($"price")
        .agg(max(struct($"size", $"n_parts")).as("__m"))
        .select($"price", $"__m.size".as("__msize"),
          $"__m.n_parts".as("__nat"))
      val Array(bounds) = pts.agg(min($"price").as("lo"),
        max($"price").as("hi")).collect()
      val (lo, hi) = (bounds.getDouble(0), bounds.getDouble(1))
      val width = math.max((hi - lo) / 1024.0, 1e-9)
      val bucketed = perPrice.withColumn("__b",
        least(floor(($"price" - lit(lo)) / lit(width)), lit(1023.0)))
      val binBest = bucketed.groupBy($"__b")
        .agg(max($"__msize").as("__bb"))
      val wBins = Window.orderBy($"__b")
        .rowsBetween(Window.unboundedPreceding, -1)
      val below = binBest.withColumn("__below", max($"__bb").over(wBins))
        .select($"__b", $"__below")
      val wIn = Window.partitionBy($"__b").orderBy($"price")
        .rowsBetween(Window.unboundedPreceding, -1)
      bucketed.join(below, Seq("__b"))
        .withColumn("__prev", max($"__msize").over(wIn))
        .filter($"__msize" > coalesce(
          greatest(coalesce($"__prev", lit(Int.MinValue)),
            coalesce($"__below", lit(Int.MinValue))),
          lit(Int.MinValue)))
        .select($"price", $"__msize".as("size"),
          $"__nat".as("n_parts"))
        .orderBy($"price")
    },
    // q129: the declarative dominance form — NOT EXISTS a point
    // cheaper-or-equal AND larger-or-equal, strict in one coordinate;
    // quadratic over distinct (price, size) pairs, which is exactly
    // why the engine runs the bucket-pruned linear plan instead
    Some(
      """WITH pt AS (
        |  SELECT p_retailprice AS price, p_size AS size FROM part),
        |dp AS (SELECT price, size, CAST(count(*) AS BIGINT) AS n_parts
        |  FROM pt GROUP BY 1, 2)
        |SELECT price, size, n_parts FROM dp d
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM dp q
        |  WHERE q.price <= d.price AND q.size >= d.size
        |    AND (q.price < d.price OR q.size > d.size))
        |ORDER BY price""".stripMargin)),

    // EQUI-DEPTH HISTOGRAM — 10 bins of equal row count over a
    // near-unique column, the stats pass behind range partitioning
    // and optimizer selectivity tables. Global rank is the q128
    // two-phase scan (Packing.prefixSum of 1 — never a
    // single-partition window); bin = (rank−1)·10 div n. Ties may
    // rank either way across engines, but every per-bin output
    // (count, min, max, sum) is tie-insensitive: bin SIZES are fixed
    // by the formula, and a tie run straddling a boundary contributes
    // the same value to both bins' min/max whichever copy lands
    // where.
    QueryDef("q132_equidepth_bins", (s, d) => {
      val li = Tables.lineitem(s, d).select($"l_extendedprice".as("v"))
        .withColumn("__g", lit(1)).withColumn("__one", lit(1L))
      val n = li.count()
      val rk = Packing.prefixSum(li, Seq("__g"), Seq("v"),
        "__one", "__rk")
      rk.withColumn("bin", expr(s"(__rk - 1) * 10 div ${n}L"))
        .groupBy($"bin")
        .agg(count(lit(1)).as("n_rows"),
          min($"v").as("min_v"), max($"v").as("max_v"),
          Fns.roundU(sum($"v"), 2).as("sum_v"))
        .orderBy($"bin")
    },
    // q132: rank via row_number — tie placement may differ from the
    // engine's, but per-bin count/min/max/sum are tie-insensitive
    Some(
      """WITH r AS (
        |  SELECT l_extendedprice AS v,
        |    row_number() OVER (ORDER BY l_extendedprice) AS rn,
        |    count(*) OVER () AS n
        |  FROM lineitem)
        |SELECT CAST((rn - 1) * 10 // n AS BIGINT) AS bin,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  min(v) AS min_v, max(v) AS max_v,
        |  floor(sum(v) * 100 + 0.5) / 100.0 AS sum_v
        |FROM r GROUP BY 1 ORDER BY bin""".stripMargin)),

    // KAPLAN–MEIER survival curve — churn analysis with CENSORING
    // done right: a customer's observed lifetime is first→last order
    // date, they "die" (churn) only if silent for 90+ days before the
    // dataset ends, and still-active customers are CENSORED at their
    // observed lifetime (they leave the risk set without counting as
    // churn) — exactly what a plain lifetime CDF gets wrong. The
    // per-customer collapse is a hash aggregate; everything after
    // runs on the DURATION-bucketed table — two windows over at most
    // date-span rows (bounded by the calendar, not the data), so the
    // estimator's sequential product (as exp∘Σln) never touches
    // row-scale data.
    QueryDef("q138_kaplan_meier", (s, d) => {
      val ud = Tables.orders(s, d)
        .groupBy($"o_custkey")
        .agg(min(to_date($"o_orderdate")).as("__f"),
          max(to_date($"o_orderdate")).as("__l"))
      val mx = ud.agg(max($"__l").as("__mx"))
      val u = ud.crossJoin(broadcast(mx))
        .select(datediff($"__l", $"__f").as("dur"),
          (datediff($"__mx", $"__l") < 90).as("__cens"))
      // persisted: the totals aggregate and the window chain both read
      // it; released by the per-query session cache clear
      val byDur = u.groupBy($"dur")
        .agg(sum(when($"__cens", 0L).otherwise(1L)).as("n_deaths"),
          sum(when($"__cens", 1L).otherwise(0L)).as("n_censored"))
        .transform(scoped)
      val tot = byDur.agg(sum($"n_deaths" + $"n_censored").as("__n"))
      val wPrev = Window.orderBy($"dur")
        .rowsBetween(Window.unboundedPreceding, -1)
      val wCur = Window.orderBy($"dur")
        .rowsBetween(Window.unboundedPreceding, 0)
      // a row where EVERY at-risk member dies (n_deaths == n_risk) has
      // survival factor 0: Spark's log(0) is NULL (sum would silently
      // DROP it — survival wrongly stays flat) while the oracle's ln(0)
      // is -inf, so both sides carry an explicit cumulative dead flag
      // and pin survival to 0.0 from that row on; the log sum then only
      // ever sees strictly positive factors
      byDur.crossJoin(broadcast(tot))
        .withColumn("n_risk", $"__n" - coalesce(
          sum($"n_deaths" + $"n_censored").over(wPrev), lit(0L)))
        .withColumn("__dead", max(when($"n_deaths" === $"n_risk", 1)
          .otherwise(0)).over(wCur))
        .withColumn("survival", when($"__dead" === 1, lit(0.0))
          .otherwise(Fns.roundU(exp(sum(
            when($"n_deaths" > 0 && $"n_deaths" < $"n_risk",
              log(lit(1.0) - $"n_deaths".cast("double") / $"n_risk"))
              .otherwise(0.0)).over(wCur)), 6)))
        .select($"dur", $"n_risk", $"n_deaths", $"n_censored",
          $"survival")
        .orderBy($"dur")
    },
    // q138: same churn rule (90+ days silent before dataset end),
    // same risk-set windows, same exp∘Σln product form
    Some(
      """WITH ud AS (
        |  SELECT o_custkey, min(CAST(o_orderdate AS DATE)) AS f,
        |    max(CAST(o_orderdate AS DATE)) AS l
        |  FROM orders GROUP BY 1),
        |mx AS (SELECT max(l) AS m FROM ud),
        |u AS (SELECT l - f AS dur, (m - l) < 90 AS cens
        |  FROM ud CROSS JOIN mx),
        |tot AS (SELECT count(*) AS n FROM u),
        |bydur AS (
        |  SELECT dur,
        |    CAST(sum(CASE WHEN cens THEN 0 ELSE 1 END) AS BIGINT)
        |      AS n_deaths,
        |    CAST(sum(CASE WHEN cens THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_censored
        |  FROM u GROUP BY 1),
        |r AS (
        |  SELECT *, tot.n - coalesce(sum(n_deaths + n_censored)
        |      OVER (ORDER BY dur
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS n_risk
        |  FROM bydur CROSS JOIN tot),
        |s AS (
        |  SELECT *,
        |    max(CASE WHEN n_deaths = n_risk THEN 1 ELSE 0 END)
        |      OVER (ORDER BY dur
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS dead,
        |    exp(sum(CASE WHEN n_deaths > 0 AND n_deaths < n_risk
        |      THEN ln(1 - CAST(n_deaths AS DOUBLE) / n_risk)
        |      ELSE 0.0 END) OVER (ORDER BY dur
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |      AS sv
        |  FROM r)
        |SELECT CAST(dur AS INT) AS dur, CAST(n_risk AS BIGINT)
        |  AS n_risk, n_deaths, n_censored,
        |  CASE WHEN dead = 1 THEN 0.0
        |       ELSE floor(sv * 1e6 + 0.5) / 1e6 END AS survival
        |FROM s ORDER BY dur""".stripMargin)),

    // WEIGHTED MEDIAN — quantity-weighted price per returnflag: the
    // smallest price whose cumulative QUANTITY reaches half the
    // group's total, i.e. "the price at which half the units moved" —
    // a row median answers the wrong question whenever weights vary.
    // Percentiles.weightedMedian generalizes the histogram family's
    // rank target from row counts to weight mass: per-bucket weight
    // sums (hash agg), a ≤nBuckets-row window locates the crossing
    // bucket, per-value collapse + a bounded window resolve inside
    // it. Integer weights keep every cumulative comparison exact on
    // both engines.
    QueryDef("q142_weighted_median", (s, d) => {
      Percentiles.weightedMedian(Tables.lineitem(s, d),
          "l_returnflag", "l_extendedprice", "l_quantity")
        .orderBy($"l_returnflag")
    },
    // q142: the declarative cum-weight form (row-scale window — the
    // plan the histogram operator exists to avoid)
    Some(
      """WITH r AS (
        |  SELECT l_returnflag AS g, l_extendedprice AS v,
        |    CAST(l_quantity AS DOUBLE) AS w
        |  FROM lineitem WHERE l_quantity > 0),
        |tw AS (SELECT g, sum(w) AS tot FROM r GROUP BY 1),
        |vw AS (SELECT g, v, sum(w) AS vw FROM r GROUP BY 1, 2),
        |c AS (
        |  SELECT g, v, sum(vw) OVER (PARTITION BY g ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM vw)
        |SELECT c.g AS l_returnflag, min(v) AS weighted_median
        |FROM c JOIN tw ON tw.g = c.g
        |WHERE cum >= tot / 2
        |GROUP BY 1 ORDER BY l_returnflag""".stripMargin)),

    // SPEARMAN RANK CORRELATION — the monotone-association companion to
    // q85's Pearson matrix: rho over fractional (average) ranks per
    // returnflag. The point of the query is the RANKING PLAN: no
    // per-group window sort anywhere — ranks come from a (group, value)
    // compaction + the distributed prefix scan (Stats.avgRanks /
    // Packing.prefixSum), then shuffle-join back and one corr aggregate.
    // The oracle ranks with rank() + (tied-1)/2 windows, which DuckDB
    // can afford at sf0.01.
    QueryDef("q143_spearman", (s, d) => {
      Stats.spearman(Tables.lineitem(s, d), "l_returnflag",
          Seq("l_quantity", "l_extendedprice", "l_discount"),
          Seq(("l_quantity", "l_extendedprice"),
            ("l_quantity", "l_discount"),
            ("l_extendedprice", "l_discount")))
        .orderBy($"l_returnflag")
    }, Some(
      """WITH rk AS (SELECT l_returnflag,
        |  rank() OVER (PARTITION BY l_returnflag ORDER BY l_quantity)
        |    + (count(*) OVER (PARTITION BY l_returnflag, l_quantity)
        |       - 1) / 2.0 AS rq,
        |  rank() OVER (PARTITION BY l_returnflag
        |               ORDER BY l_extendedprice)
        |    + (count(*) OVER (PARTITION BY l_returnflag,
        |                      l_extendedprice) - 1) / 2.0 AS rp,
        |  rank() OVER (PARTITION BY l_returnflag ORDER BY l_discount)
        |    + (count(*) OVER (PARTITION BY l_returnflag, l_discount)
        |       - 1) / 2.0 AS rd
        |FROM lineitem)
        |SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |  floor((corr(rq, rp)) * 1000000 + 0.5) / 1000000.0
        |    AS rho_l_quantity_l_extendedprice,
        |  floor((corr(rq, rd)) * 1000000 + 0.5) / 1000000.0
        |    AS rho_l_quantity_l_discount,
        |  floor((corr(rp, rd)) * 1000000 + 0.5) / 1000000.0
        |    AS rho_l_extendedprice_l_discount
        |FROM rk GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // OUT-OF-FOLD TARGET ENCODING — the leakage-safe categorical
    // encoder of a feature pipeline (CatBoost/Kaggle style): fold f's
    // encoding of a category uses only the OTHER folds' rows (a target
    // mean must never see the row it encodes — the training-serving
    // leak q74 guards at the split level, applied to features), with
    // m-estimate smoothing toward the out-of-fold GLOBAL mean so rare
    // categories don't memorize their own targets. ONE (cat, fold)
    // hash aggregate is the only data-sized stage; category totals,
    // fold totals, the global total and the blend all run over its
    // ≤ |cats|·k rows. Folds ride the engine-independent consistent
    // hash (replayable; the oracle reproduces them exactly), partial
    // sums ride DECIMAL so out-of-fold subtraction is exact on both
    // engines, and the final blend casts to double in one shared
    // expression shape — bit-identical results.
    QueryDef("q144_target_encoding", (s, d) => {
      val pf = Tables.orders(s, d)
        .select($"o_orderpriority".as("cat"),
          (Sampling.consistentHash($"o_orderkey") % 5).as("fold"),
          $"o_totalprice".cast("decimal(18,2)").as("__t"))
        .groupBy($"cat", $"fold")
        .agg(sum($"__t").as("__sdec"), count(lit(1)).as("n_rows"))
      val catTot = pf.groupBy($"cat")
        .agg(sum($"__sdec").as("__csdec"), sum($"n_rows").as("__cn"))
      val foldTot = pf.groupBy($"fold")
        .agg(sum($"__sdec").as("__fsdec"), sum($"n_rows").as("__fn"))
      val allTot = pf.agg(sum($"__sdec").as("__gsdec"),
        sum($"n_rows").as("__gn"))
      pf.join(catTot, Seq("cat")).join(foldTot, Seq("fold"))
        .crossJoin(broadcast(allTot))
        .select($"cat", $"fold", $"n_rows",
          Fns.roundU(
            (($"__csdec".cast("double") - $"__sdec".cast("double"))
              + lit(20.0) * (($"__gsdec".cast("double")
                - $"__fsdec".cast("double")) / ($"__gn" - $"__fn")))
              / (($"__cn" - $"n_rows") + lit(20.0)), 4).as("enc"))
        .orderBy($"cat", $"fold")
    }, Some(
      """WITH pf AS (
        |  SELECT o_orderpriority AS cat,
        |    (o_orderkey % 2147483647 + 2147483647) % 2147483647
        |      * 2654435761 % 4294967296 % 5 AS fold,
        |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS sdec,
        |    count(*) AS n_rows
        |  FROM orders GROUP BY 1, 2),
        |ct AS (SELECT cat, sum(sdec) AS csdec, sum(n_rows) AS cn
        |       FROM pf GROUP BY cat),
        |ft AS (SELECT fold, sum(sdec) AS fsdec, sum(n_rows) AS fn
        |       FROM pf GROUP BY fold),
        |gt AS (SELECT sum(sdec) AS gsdec, sum(n_rows) AS gn FROM pf)
        |SELECT pf.cat, pf.fold, CAST(pf.n_rows AS BIGINT) AS n_rows,
        |  floor(((CAST(csdec AS DOUBLE) - CAST(sdec AS DOUBLE))
        |    + 20.0 * ((CAST(gsdec AS DOUBLE) - CAST(fsdec AS DOUBLE))
        |        / (gn - fn)))
        |    / ((cn - pf.n_rows) + 20.0) * 10000 + 0.5) / 10000.0 AS enc
        |FROM pf JOIN ct USING (cat) JOIN ft USING (fold), gt
        |ORDER BY cat, fold""".stripMargin)),

    // GAINS / LIFT TABLE — the model-calibration readout: rank
    // customers by score (acctbal), cut into deciles, report each
    // decile's positive rate (placed an URGENT order), cumulative
    // capture and lift. Decile BOUNDARIES come from the exact-quantile
    // histogram (Percentiles.exactQuantiles, rank = ceil(q·n) — q50's
    // convention, mirrored in the oracle) so no global row sort ever
    // runs: assignment is a broadcast of 9 boundary values folded over
    // each row, the cumulative window covers ≤ 10 decile rows. Ties at
    // a boundary fall to the LOWER bucket on both engines (strict >).
    QueryDef("q145_gains_table", (s, d) => {
      val scored = urgentScored(s, d)
      val bounds = decileBounds(
        Tables.customer(s, d).select($"c_acctbal"), "c_acctbal")
      val g = scored.crossJoin(broadcast(bounds))
        .select($"__y", decileOf($"c_acctbal").as("decile"))
        .groupBy($"decile")
        .agg(count(lit(1)).as("n_cust"), sum($"__y").as("n_pos"))
      val tot = g.agg(sum($"n_cust").as("__tn"), sum($"n_pos").as("__tp"))
      // ≤ 10 rows past this point: the unpartitioned window is bounded
      val w = Window.orderBy($"decile")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      g.crossJoin(broadcast(tot))
        .select($"decile", $"n_cust", $"n_pos",
          Fns.roundU($"n_pos" / $"n_cust", 6).as("pos_rate"),
          Fns.roundU(sum($"n_pos").over(w) / $"__tp", 6)
            .as("cum_capture"),
          Fns.roundU(($"n_pos" / $"n_cust") / ($"__tp" / $"__tn"), 6)
            .as("lift"))
        .orderBy($"decile")
    },
    // q145: decile boundaries via q50's rank = ceil(q·n) convention;
    // boundary ties fall to the lower bucket (strict >) on both sides
    Some(
      """WITH pos AS (SELECT DISTINCT o_custkey FROM orders
        |             WHERE o_orderpriority = '1-URGENT'),
        |ranked AS (
        |  SELECT c_acctbal, row_number() OVER (ORDER BY c_acctbal) AS rn,
        |    count(*) OVER () AS n
        |  FROM customer),
        |bounds AS (
        |  SELECT c_acctbal AS b
        |  FROM ranked, (VALUES (0.1),(0.2),(0.3),(0.4),(0.5),(0.6),
        |                       (0.7),(0.8),(0.9)) qs(q)
        |  WHERE rn = greatest(1, CAST(ceil(CAST(q AS DOUBLE) * n)
        |    AS BIGINT))),
        |dec AS (
        |  SELECT CASE WHEN p.o_custkey IS NULL THEN 0 ELSE 1 END AS y,
        |    10 - (SELECT count(*) FROM bounds WHERE c.c_acctbal > b)
        |      AS decile
        |  FROM customer c LEFT JOIN pos p ON c.c_custkey = p.o_custkey),
        |g AS (SELECT decile, CAST(count(*) AS BIGINT) AS n_cust,
        |        CAST(sum(y) AS BIGINT) AS n_pos FROM dec GROUP BY decile),
        |t AS (SELECT CAST(sum(n_cust) AS DOUBLE) AS tn,
        |        CAST(sum(n_pos) AS DOUBLE) AS tp FROM g)
        |SELECT decile, n_cust, n_pos,
        |  floor(CAST(n_pos AS DOUBLE) / n_cust * 1000000 + 0.5)
        |    / 1000000.0 AS pos_rate,
        |  floor(CAST(sum(n_pos) OVER (ORDER BY decile) AS DOUBLE) / tp
        |    * 1000000 + 0.5) / 1000000.0 AS cum_capture,
        |  floor((CAST(n_pos AS DOUBLE) / n_cust) / (tp / tn)
        |    * 1000000 + 0.5) / 1000000.0 AS lift
        |FROM g, t ORDER BY decile""".stripMargin)),

    // REVENUE CONCENTRATION — HHI and Gini of supplier revenue per
    // nation: the market-structure readout (is one supplier taking the
    // nation's volume?). Per-supplier revenue sums ride DECIMAL so both
    // engines agree bit-for-bit BEFORE any ranking — Gini needs a rank
    // over revenue, and FP-noisy sums would make near-tied suppliers
    // rank differently per engine. Ranks come from Stats.avgRanks (the
    // q143 prefix-scan — no per-nation window sort); HHI is one
    // share² aggregate. Gini uses the average-rank form
    // 2·Σ(r·x)/(n·Σx) − (n+1)/n, correct under ties.
    QueryDef("q146_concentration", (s, d) => {
      val sup = Tables.supplier(s, d)
        .select($"s_suppkey", $"s_nationkey")
      val n = Tables.nation(s, d).select($"n_nationkey", $"n_name")
      val rev = Tables.lineitem(s, d)
        .join(broadcast(sup), $"l_suppkey" === $"s_suppkey")
        .join(broadcast(n), $"s_nationkey" === $"n_nationkey")
        .groupBy($"n_name", $"s_suppkey")
        .agg(sum($"l_extendedprice".cast("decimal(18,2)")
          * (lit(1).cast("decimal(3,2)")
            - $"l_discount".cast("decimal(3,2)"))).as("__rev"))
      val ranked = rev.join(
        Stats.avgRanks(rev, "n_name", "__rev"), Seq("n_name", "__rev"))
      // totals/denominators sum the DECIMAL (exact, then one cast);
      // only Σx² and Σr·x are double sums — their noise washes out in
      // the normalizing division. x*x, not pow(x,2): pow may differ
      // from the product by an ulp across engines.
      val revd = $"__rev".cast("double")
      ranked.groupBy($"n_name")
        .agg(count(lit(1)).as("n_suppliers"),
          Fns.roundU(sum($"__rev").cast("double"), 2).as("total_rev"),
          Fns.roundU(sum(revd * revd) * 10000.0
            / (sum($"__rev").cast("double")
              * sum($"__rev").cast("double")), 4).as("hhi"),
          Fns.roundU(lit(2.0) * sum($"__rk___rev" * revd)
            / (count(lit(1)) * sum($"__rev").cast("double"))
            - (count(lit(1)) + 1.0) / count(lit(1)), 6).as("gini"))
        .orderBy($"n_name")
    },
    // q146: per-supplier revenue as DECIMAL (exact, so ranks agree),
    // avg-rank via the q143 rank()+ties/2 identity
    Some(
      """WITH rev AS (
        |  SELECT n_name, s_suppkey,
        |    sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |      * (CAST(1 AS DECIMAL(3,2))
        |        - CAST(l_discount AS DECIMAL(3,2)))) AS r
        |  FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  GROUP BY 1, 2),
        |rk AS (
        |  SELECT n_name, CAST(r AS DOUBLE) AS rd, r,
        |    rank() OVER (PARTITION BY n_name ORDER BY r)
        |      + (count(*) OVER (PARTITION BY n_name, r) - 1) / 2.0 AS rr
        |  FROM rev)
        |SELECT n_name, CAST(count(*) AS BIGINT) AS n_suppliers,
        |  floor(CAST(sum(r) AS DOUBLE) * 100 + 0.5) / 100.0 AS total_rev,
        |  floor(sum(rd * rd) * 10000.0
        |    / (CAST(sum(r) AS DOUBLE) * CAST(sum(r) AS DOUBLE))
        |    * 10000 + 0.5) / 10000.0 AS hhi,
        |  floor((2.0 * sum(rr * rd)
        |      / (count(*) * CAST(sum(r) AS DOUBLE))
        |      - (count(*) + 1.0) / count(*))
        |    * 1000000 + 0.5) / 1000000.0 AS gini
        |FROM rk GROUP BY n_name ORDER BY n_name""".stripMargin)),

    // PSI DRIFT — population stability index of the order-value
    // distribution, 1995 reference vs year-2000 current: the
    // model-monitoring staple. Bins are the REFERENCE window's exact
    // deciles (q145's histogram bounds + broadcast fold — no sort);
    // both windows bin through the same 9 broadcast values. Counts are
    // +1-smoothed so an empty current bin contributes a finite,
    // well-defined term instead of ln(0); the ref spine has all 10
    // bins by construction (its own deciles), so a left join + fill 0
    // completes the current side.
    QueryDef("q153_psi_drift", (s, d) => {
      val ord = Tables.orders(s, d)
        .select($"o_orderdate", $"o_totalprice")
      val ref = ord.filter($"o_orderdate" >= "1995-01-01"
        && $"o_orderdate" < "1996-01-01").select($"o_totalprice")
      val cur = ord.filter($"o_orderdate" >= "2000-01-01"
        && $"o_orderdate" < "2001-01-01").select($"o_totalprice")
      val bounds = decileBounds(ref, "o_totalprice")
      def binned(df: DataFrame, as: String) = df
        .crossJoin(broadcast(bounds))
        .select(decileOf($"o_totalprice").as("bin"))
        .groupBy($"bin").agg(count(lit(1)).as(as))
      val j = binned(ref, "n_ref")
        .join(binned(cur, "n_cur"), Seq("bin"), "left")
        .na.fill(0L, Seq("n_cur"))
      val tot = j.agg(sum($"n_ref").as("__tr"), sum($"n_cur").as("__tc"))
      j.crossJoin(broadcast(tot))
        .select($"bin", $"n_ref", $"n_cur",
          (($"n_ref" + 1) / ($"__tr" + 10)).as("__pr"),
          (($"n_cur" + 1) / ($"__tc" + 10)).as("__pc"))
        .select($"bin", $"n_ref", $"n_cur",
          Fns.roundU($"__pr", 6).as("p_ref"),
          Fns.roundU($"__pc", 6).as("p_cur"),
          Fns.roundU(($"__pc" - $"__pr") * log($"__pc" / $"__pr"), 6)
            .as("psi_term"))
        .orderBy($"bin")
    },
    // q153: bins from the reference window's exact deciles (q145
    // convention); +1 smoothing so empty current bins stay finite
    Some(
      """WITH ref AS (
        |  SELECT o_totalprice AS v FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1995-01-01'
        |    AND o_orderdate < TIMESTAMP '1996-01-01'),
        |cur AS (
        |  SELECT o_totalprice AS v FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '2000-01-01'
        |    AND o_orderdate < TIMESTAMP '2001-01-01'),
        |rk AS (SELECT v, row_number() OVER (ORDER BY v) AS rn,
        |         count(*) OVER () AS n FROM ref),
        |bounds AS (
        |  SELECT v AS b
        |  FROM rk, (VALUES (0.1),(0.2),(0.3),(0.4),(0.5),(0.6),
        |                   (0.7),(0.8),(0.9)) qs(q)
        |  WHERE rn = greatest(1, CAST(ceil(CAST(q AS DOUBLE) * n)
        |    AS BIGINT))),
        |rb AS (SELECT 10 - (SELECT count(*) FROM bounds WHERE r.v > b)
        |         AS bin FROM ref r),
        |cb AS (SELECT 10 - (SELECT count(*) FROM bounds WHERE c.v > b)
        |         AS bin FROM cur c),
        |rc AS (SELECT bin, CAST(count(*) AS BIGINT) AS n_ref
        |       FROM rb GROUP BY bin),
        |cc AS (SELECT bin, CAST(count(*) AS BIGINT) AS n_cur
        |       FROM cb GROUP BY bin),
        |j AS (SELECT rc.bin, n_ref, coalesce(n_cur, 0) AS n_cur
        |      FROM rc LEFT JOIN cc USING (bin)),
        |t AS (SELECT CAST(sum(n_ref) AS BIGINT) AS tr,
        |        CAST(sum(n_cur) AS BIGINT) AS tc FROM j),
        |p AS (SELECT bin, n_ref, n_cur,
        |        (n_ref + 1) / CAST(tr + 10 AS DOUBLE) AS pr,
        |        (n_cur + 1) / CAST(tc + 10 AS DOUBLE) AS pc
        |      FROM j, t)
        |SELECT bin, n_ref, n_cur,
        |  floor(pr * 1000000 + 0.5) / 1000000.0 AS p_ref,
        |  floor(pc * 1000000 + 0.5) / 1000000.0 AS p_cur,
        |  floor((pc - pr) * ln(pc / pr) * 1000000 + 0.5)
        |    / 1000000.0 AS psi_term
        |FROM p ORDER BY bin""".stripMargin)),

    // COHORT LTV CURVE — cumulative revenue per first-order cohort,
    // normalized by cohort size: the retention economics readout
    // (q109's retention matrix, revenue-weighted). Monthly revenue
    // sums ride DECIMAL then cast once; the cumulative window runs
    // per cohort over AGGREGATED month rows — bounded by the
    // calendar, never the data — and the double cumsum folds in the
    // same age order on both engines.
    QueryDef("q156_ltv_curve", (s, d) => {
      val ord = Tables.orders(s, d)
        .select($"o_custkey", $"o_orderdate", $"o_totalprice")
      val first = ord.groupBy($"o_custkey")
        .agg(min($"o_orderdate").as("__f"))
      val sizes = first
        .groupBy(date_format($"__f", "yyyy-MM").as("cohort"))
        .agg(count(lit(1)).as("n_customers"))
      val r = ord.join(first, Seq("o_custkey"))
        .groupBy(date_format($"__f", "yyyy-MM").as("cohort"),
          ((year($"o_orderdate") - year($"__f")) * 12
            + (month($"o_orderdate") - month($"__f")))
            .cast("long").as("age"))
        .agg(sum($"o_totalprice".cast("decimal(18,2)"))
          .cast("double").as("__mrev"))
      val wc = Window.partitionBy($"cohort").orderBy($"age")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      r.withColumn("__cum", sum($"__mrev").over(wc))
        .join(sizes, Seq("cohort"))
        .filter($"age" <= 12)
        .select($"cohort", $"age", $"n_customers",
          Fns.roundU($"__mrev", 2).as("month_rev"),
          Fns.roundU($"__cum" / $"n_customers", 6).as("cum_ltv_per_cust"))
        .orderBy($"cohort", $"age")
    },
    // q156: double cumsum folds in the same age order on both engines;
    // month revenue is DECIMAL then one cast
    Some(
      """WITH f AS (
        |  SELECT o_custkey, min(o_orderdate) AS fd FROM orders
        |  GROUP BY 1),
        |sizes AS (
        |  SELECT strftime(fd, '%Y-%m') AS cohort,
        |    CAST(count(*) AS BIGINT) AS n_customers
        |  FROM f GROUP BY 1),
        |r AS (
        |  SELECT strftime(f.fd, '%Y-%m') AS cohort,
        |    (year(o.o_orderdate) - year(f.fd)) * 12
        |      + (month(o.o_orderdate) - month(f.fd)) AS age,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |      AS mrev
        |  FROM orders o JOIN f ON o.o_custkey = f.o_custkey
        |  GROUP BY 1, 2),
        |c AS (
        |  SELECT cohort, age, mrev,
        |    sum(mrev) OVER (PARTITION BY cohort ORDER BY age
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM r)
        |SELECT c.cohort, c.age, s.n_customers,
        |  floor(mrev * 100 + 0.5) / 100.0 AS month_rev,
        |  floor(cum / s.n_customers * 1000000 + 0.5)
        |    / 1000000.0 AS cum_ltv_per_cust
        |FROM c JOIN sizes s USING (cohort)
        |WHERE age <= 12 ORDER BY cohort, age""".stripMargin)),

    // PARETO 80/20 — per nation, the minimal top-customer set covering
    // 80% of revenue. NO per-nation sort: revenue becomes exact cents
    // (DECIMAL×100 → long) and the descending cumulative comes from
    // the distributed prefix scan ordered by (−cents, custkey) — a
    // total order, so the crossing is engine-exact. The 80% test is
    // pure integer arithmetic (5·cum_before < 4·total), never a
    // floating threshold.
    QueryDef("q157_pareto", (s, d) => {
      val rev = Tables.orders(s, d)
        .join(Tables.customer(s, d).select($"c_custkey", $"c_nationkey"),
          $"o_custkey" === $"c_custkey")
        .groupBy($"c_nationkey", $"c_custkey")
        .agg((sum($"o_totalprice".cast("decimal(18,2)")) * 100)
          .cast("long").as("__u"))
        .withColumn("__nu", -$"__u")
      val cum = Packing.prefixSum(rev, Seq("c_nationkey"),
        Seq("__nu", "c_custkey"), "__u", "__cum")
      val tot = rev.groupBy($"c_nationkey").agg(sum($"__u").as("__t"))
      cum.join(tot, Seq("c_nationkey"))
        .withColumn("__in", lit(5) * ($"__cum" - $"__u") < lit(4) * $"__t")
        .groupBy($"c_nationkey")
        .agg(count(lit(1)).as("n_customers"),
          sum(when($"__in", 1L).otherwise(0L)).as("n_top"),
          sum(when($"__in", $"__u").otherwise(0L)).as("__cov"),
          max($"__t").as("__tt"))
        .select($"c_nationkey", $"n_customers", $"n_top",
          Fns.roundU($"n_top" / $"n_customers", 6).as("top_frac"),
          Fns.roundU($"__cov" / $"__tt", 6).as("covered_share"))
        .orderBy($"c_nationkey")
    },
    // q157: exact cents, integer 80% test 5*(cum-u) < 4*t under a
    // (u DESC, custkey) total order
    Some(
      """WITH rev AS (
        |  SELECT c_nationkey, c_custkey,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100
        |      AS BIGINT) AS u
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2),
        |c AS (
        |  SELECT c_nationkey, u,
        |    sum(u) OVER (PARTITION BY c_nationkey
        |      ORDER BY u DESC, c_custkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(u) OVER (PARTITION BY c_nationkey) AS t
        |  FROM rev)
        |SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_customers,
        |  CAST(sum(CASE WHEN 5 * (cum - u) < 4 * t THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_top,
        |  floor(CAST(sum(CASE WHEN 5 * (cum - u) < 4 * t
        |      THEN 1 ELSE 0 END) AS DOUBLE) / count(*)
        |    * 1000000 + 0.5) / 1000000.0 AS top_frac,
        |  floor(CAST(sum(CASE WHEN 5 * (cum - u) < 4 * t
        |      THEN u ELSE 0 END) AS DOUBLE) / max(t)
        |    * 1000000 + 0.5) / 1000000.0 AS covered_share
        |FROM c GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin)),

    // PURCHASE INTERVALS — per repeat customer, the gap statistics
    // between consecutive orders. The lag window partitions by
    // customer and is bounded by that customer's order count; ties on
    // order date break on o_orderkey so both engines see the same
    // neighbor. Gaps are integer days — every stat except the mean is
    // integer-exact, and the mean is one exact-ratio division.
    QueryDef("q158_purchase_intervals", (s, d) => {
      val wo = Window.partitionBy($"o_custkey")
        .orderBy($"o_orderdate", $"o_orderkey")
      Tables.orders(s, d)
        .select($"o_custkey", $"o_orderkey", $"o_orderdate")
        .withColumn("__gap", datediff($"o_orderdate",
          lag($"o_orderdate", 1).over(wo)))
        .groupBy($"o_custkey")
        .agg(count(lit(1)).as("n_orders"),
          min($"__gap").as("min_gap_days"),
          max($"__gap").as("max_gap_days"),
          sum($"__gap").as("__sg"), count($"__gap").as("__ng"))
        .filter($"n_orders" >= 2)
        .select($"o_custkey", $"n_orders", $"min_gap_days",
          $"max_gap_days",
          Fns.roundU($"__sg" / $"__ng", 6).as("mean_gap_days"))
        .orderBy($"o_custkey")
    }, Some(
      """WITH g AS (
        |  SELECT o_custkey,
        |    date_diff('day',
        |      CAST(lag(o_orderdate) OVER (PARTITION BY o_custkey
        |        ORDER BY o_orderdate, o_orderkey) AS DATE),
        |      CAST(o_orderdate AS DATE)) AS gap
        |  FROM orders)
        |SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(min(gap) AS INT) AS min_gap_days,
        |  CAST(max(gap) AS INT) AS max_gap_days,
        |  floor(CAST(sum(gap) AS DOUBLE) / count(gap)
        |    * 1000000 + 0.5) / 1000000.0 AS mean_gap_days
        |FROM g GROUP BY o_custkey HAVING count(*) >= 2
        |ORDER BY o_custkey""".stripMargin)),

    // PR CURVE — precision/recall/F1 at each of the 9 decile
    // thresholds of the q145 score. One decile assignment (broadcast
    // fold), one ≤10-row pos/neg table, and every threshold's
    // confusion matrix falls out of a cumulative window over that
    // bounded table — never a per-threshold rescan, never a score
    // sort. All counts integer; the three ratios are the only doubles.
    QueryDef("q162_pr_curve", (s, d) => {
      val scored = urgentScored(s, d)
      val bounds = decileBounds(
        Tables.customer(s, d).select($"c_acctbal"), "c_acctbal")
      val dec = scored.crossJoin(broadcast(bounds))
        .select($"__y", decileOf($"c_acctbal").as("__dec"))
        .groupBy($"__dec")
        .agg(sum($"__y").as("__p"), sum(lit(1L) - $"__y").as("__n"))
      val tot = dec.agg(sum($"__p").as("__tp_all"))
      // ≤ 10 decile rows: cumulative TP/FP from the top is bounded
      val w = Window.orderBy($"__dec")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      dec.crossJoin(broadcast(tot))
        .select($"__dec", $"__tp_all",
          sum($"__p").over(w).as("__tp"), sum($"__n").over(w).as("__fp"))
        // threshold k predicts positive on deciles 1..(10-k): row
        // __dec = 10-k carries threshold k's cumulative counts
        .filter($"__dec" <= 9)
        .select((lit(10) - $"__dec").as("threshold_rank"),
          $"__tp".as("tp"), $"__fp".as("fp"),
          ($"__tp_all" - $"__tp").as("fn"))
        .select($"threshold_rank", $"tp", $"fp", $"fn",
          Fns.roundU($"tp" / ($"tp" + $"fp"), 6).as("precision"),
          Fns.roundU($"tp" / ($"tp" + $"fn"), 6).as("recall"),
          Fns.roundU(lit(2.0) * $"tp"
            / (lit(2.0) * $"tp" + $"fp" + $"fn"), 6).as("f1"))
        .orderBy($"threshold_rank")
    },
    // q162: q145's decile bounds; each threshold's confusion matrix
    // from the cumulative over the 10-row decile table
    Some(
      """WITH pos AS (SELECT DISTINCT o_custkey FROM orders
        |             WHERE o_orderpriority = '1-URGENT'),
        |ranked AS (
        |  SELECT c_acctbal, row_number() OVER (ORDER BY c_acctbal) AS rn,
        |    count(*) OVER () AS n
        |  FROM customer),
        |bounds AS (
        |  SELECT c_acctbal AS b
        |  FROM ranked, (VALUES (0.1),(0.2),(0.3),(0.4),(0.5),(0.6),
        |                       (0.7),(0.8),(0.9)) qs(q)
        |  WHERE rn = greatest(1, CAST(ceil(CAST(q AS DOUBLE) * n)
        |    AS BIGINT))),
        |dec AS (
        |  SELECT CASE WHEN p.o_custkey IS NULL THEN 0 ELSE 1 END AS y,
        |    10 - (SELECT count(*) FROM bounds WHERE c.c_acctbal > b)
        |      AS d
        |  FROM customer c LEFT JOIN pos p ON c.c_custkey = p.o_custkey),
        |g AS (SELECT d, CAST(sum(y) AS BIGINT) AS p,
        |        CAST(sum(1 - y) AS BIGINT) AS nn FROM dec GROUP BY d),
        |t AS (SELECT CAST(sum(p) AS BIGINT) AS tpall FROM g),
        |c AS (SELECT d, sum(p) OVER (ORDER BY d) AS tp,
        |        sum(nn) OVER (ORDER BY d) AS fp FROM g)
        |SELECT CAST(10 - d AS BIGINT) AS threshold_rank,
        |  CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
        |  CAST(tpall - tp AS BIGINT) AS fn,
        |  floor(CAST(tp AS DOUBLE) / (tp + fp) * 1000000 + 0.5)
        |    / 1000000.0 AS precision,
        |  floor(CAST(tp AS DOUBLE) / (tp + (tpall - tp))
        |    * 1000000 + 0.5) / 1000000.0 AS recall,
        |  floor(2.0 * tp / (2.0 * tp + fp + (tpall - tp))
        |    * 1000000 + 0.5) / 1000000.0 AS f1
        |FROM c, t WHERE d <= 9 ORDER BY threshold_rank""".stripMargin)),

    // TWO-SAMPLE KS TEST — D = max |F_A − F_B| between the 1995 and
    // 2000 order-value distributions (q153's windows, the exact
    // companion to its binned PSI). INTEGER-EXACT: the argmax runs on
    // |cumA·nB − cumB·nA| (cross-multiplied longs, never a float
    // CDF), cumulative counts come from the distributed prefix scan
    // over the per-value aggregate — no global sort of raw rows, and
    // the one division happens after the max.
    QueryDef("q163_ks_test", (s, d) => {
      val ord = Tables.orders(s, d)
        .select($"o_orderdate", $"o_totalprice")
      def win(lo: String, hi: String) = ord
        .filter($"o_orderdate" >= lo && $"o_orderdate" < hi)
        .select($"o_totalprice".as("v"))
      val cnt = win("1995-01-01", "1996-01-01")
        .select($"v", lit(1L).as("__a"), lit(0L).as("__b"))
        .unionAll(win("2000-01-01", "2001-01-01")
          .select($"v", lit(0L).as("__a"), lit(1L).as("__b")))
        .groupBy($"v")
        .agg(sum($"__a").as("__ca"), sum($"__b").as("__cb"))
        .withColumn("__g", lit(1))
      val cum = Packing.prefixSum(
        Packing.prefixSum(cnt, Seq("__g"), Seq("v"), "__ca", "__cumA"),
        Seq("__g"), Seq("v"), "__cb", "__cumB")
      val tot = cnt.agg(sum($"__ca").as("__na"), sum($"__cb").as("__nb"))
      val diff = cum.crossJoin(broadcast(tot))
        .select($"v", $"__na", $"__nb",
          abs($"__cumA" * $"__nb" - $"__cumB" * $"__na").as("__dn"))
      val mx = diff.groupBy($"__na", $"__nb")
        .agg(max($"__dn").as("__mx"))
      diff.join(mx, Seq("__na", "__nb"))
        .filter($"__dn" === $"__mx")
        .groupBy($"__na", $"__nb", $"__mx")
        .agg(min($"v").as("ks_at_value"))
        .select($"__na".as("n_a"), $"__nb".as("n_b"), $"ks_at_value",
          Fns.roundU($"__mx" / ($"__na" * $"__nb"), 6).as("ks_stat"))
    },
    // q163: integer-exact argmax on |cumA*nB - cumB*nA|; the one
    // division happens after the max
    Some(
      """WITH a AS (
        |  SELECT o_totalprice AS v FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1995-01-01'
        |    AND o_orderdate < TIMESTAMP '1996-01-01'),
        |b AS (
        |  SELECT o_totalprice AS v FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '2000-01-01'
        |    AND o_orderdate < TIMESTAMP '2001-01-01'),
        |cnt AS (
        |  SELECT v, CAST(sum(ia) AS BIGINT) AS ca,
        |    CAST(sum(ib) AS BIGINT) AS cb
        |  FROM (SELECT v, 1 AS ia, 0 AS ib FROM a
        |        UNION ALL SELECT v, 0, 1 FROM b)
        |  GROUP BY v),
        |c AS (
        |  SELECT v, sum(ca) OVER (ORDER BY v) AS cuma,
        |    sum(cb) OVER (ORDER BY v) AS cumb
        |  FROM cnt),
        |t AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
        |        CAST(sum(cb) AS BIGINT) AS nb FROM cnt),
        |dd AS (SELECT v, na, nb, abs(cuma * nb - cumb * na) AS dn
        |       FROM c, t),
        |m AS (SELECT max(dn) AS mx FROM dd)
        |SELECT dd.na AS n_a, dd.nb AS n_b, min(v) AS ks_at_value,
        |  floor(CAST(m.mx AS DOUBLE) / (dd.na * dd.nb)
        |    * 1000000 + 0.5) / 1000000.0 AS ks_stat
        |FROM dd, m WHERE dn = mx
        |GROUP BY dd.na, dd.nb, m.mx""".stripMargin)),

    // EXACT DISTRIBUTED AUC — of the q145 score/label pair, via the
    // rank-sum (Mann-Whitney) identity: AUC = (ΣR⁺ − nP(nP+1)/2) /
    // (nP·nN). NO sort of raw rows: average ranks come from the
    // per-value aggregate + distributed prefix scan, carried DOUBLED
    // (2·rank = 2·cum − (cnt−1)) so tie midpoints stay integer — the
    // whole computation is long arithmetic until the final division.
    QueryDef("q164_auc_exact", (s, d) => {
      val cnts = urgentScored(s, d).groupBy($"c_acctbal")
        .agg(count(lit(1)).as("__cnt"), sum($"__y").as("__pos"))
        .withColumn("__g", lit(1))
      val cum = Packing.prefixSum(cnts, Seq("__g"), Seq("c_acctbal"),
          "__cnt", "__cum")
        .withColumn("__r2", lit(2) * $"__cum" - ($"__cnt" - 1))
      cum.agg(sum($"__pos" * $"__r2").as("__s2"),
          sum($"__pos").as("__np"),
          sum($"__cnt" - $"__pos").as("__nn"))
        .select($"__np".as("n_pos"), $"__nn".as("n_neg"),
          Fns.roundU(($"__s2" - $"__np" * ($"__np" + 1))
            / (lit(2.0) * $"__np" * $"__nn"), 6).as("auc"))
    },
    // q164: rank-sum AUC with doubled ranks — long arithmetic until
    // the final division
    Some(
      """WITH pos AS (SELECT DISTINCT o_custkey FROM orders
        |             WHERE o_orderpriority = '1-URGENT'),
        |s AS (
        |  SELECT c_acctbal AS v,
        |    CASE WHEN p.o_custkey IS NULL THEN 0 ELSE 1 END AS y
        |  FROM customer c LEFT JOIN pos p ON c.c_custkey = p.o_custkey),
        |cnts AS (
        |  SELECT v, count(*) AS cnt, CAST(sum(y) AS BIGINT) AS posn
        |  FROM s GROUP BY v),
        |c AS (
        |  SELECT v, cnt, posn, sum(cnt) OVER (ORDER BY v) AS cum
        |  FROM cnts),
        |a AS (
        |  SELECT CAST(sum(posn * (2 * cum - (cnt - 1))) AS BIGINT) AS s2,
        |    CAST(sum(posn) AS BIGINT) AS np,
        |    CAST(sum(cnt - posn) AS BIGINT) AS nn
        |  FROM c)
        |SELECT np AS n_pos, nn AS n_neg,
        |  floor(CAST(s2 - np * (np + 1) AS DOUBLE) / (2.0 * np * nn)
        |    * 1000000 + 0.5) / 1000000.0 AS auc
        |FROM a""".stripMargin)),

    // MUTUAL INFORMATION — I(returnflag; quantity) from the joint
    // count table: the feature-selection readout (is this column
    // informative about that one?). Every log argument is a ratio of
    // exact LONG products ((cnt·n)/(cx·cy)) — the joint/marginal
    // structure is three hash aggregates and two broadcast joins, and
    // the ≤ |X|·|Y| cell sum is the only float accumulation.
    QueryDef("q168_mutual_info", (s, d) => {
      val li = Tables.lineitem(s, d)
        .select($"l_returnflag".as("x"), $"l_quantity".cast("int").as("y"))
      val joint = li.groupBy($"x", $"y").agg(count(lit(1)).as("__c"))
      val mx = joint.groupBy($"x").agg(sum($"__c").as("__cx"))
      val my = joint.groupBy($"y").agg(sum($"__c").as("__cy"))
      val n = joint.agg(sum($"__c").as("__n"),
        count(lit(1)).as("n_cells"))
      joint.join(broadcast(mx), Seq("x")).join(broadcast(my), Seq("y"))
        .crossJoin(broadcast(n))
        .select($"n_cells", $"__n",
          (($"__c" / $"__n")
            * log(($"__c" * $"__n") / ($"__cx" * $"__cy"))).as("__t"),
          ($"__c" / $"__n" * log($"__n" / $"__cx")).as("__hx0"),
          ($"__c" / $"__n" * log($"__n" / $"__cy")).as("__hy0"))
        .groupBy($"n_cells", $"__n")
        .agg(sum($"__t").as("__mi"), sum($"__hx0").as("__hx"),
          sum($"__hy0").as("__hy"))
        .select($"n_cells",
          Fns.roundU($"__mi", 6).as("mi_nats"),
          Fns.roundU($"__hx", 6).as("h_x"),
          Fns.roundU($"__hy", 6).as("h_y"),
          Fns.roundU($"__mi" / least($"__hx", $"__hy"), 6)
            .as("normalized_mi"))
    },
    // q168: every log argument is a ratio of exact long products
    Some(
      """WITH li AS (
        |  SELECT l_returnflag AS x, CAST(l_quantity AS INT) AS y
        |  FROM lineitem),
        |joint AS (SELECT x, y, count(*) AS c FROM li GROUP BY 1, 2),
        |mx AS (SELECT x, CAST(sum(c) AS BIGINT) AS cx
        |       FROM joint GROUP BY 1),
        |my AS (SELECT y, CAST(sum(c) AS BIGINT) AS cy
        |       FROM joint GROUP BY 1),
        |nt AS (SELECT CAST(sum(c) AS BIGINT) AS nn,
        |         CAST(count(*) AS BIGINT) AS n_cells FROM joint),
        |cells AS (
        |  SELECT n_cells, nn,
        |    (c / nn) * ln((c * nn) / (cx * cy)) AS t,
        |    c / nn * ln(nn / cx) AS hx0,
        |    c / nn * ln(nn / cy) AS hy0
        |  FROM joint JOIN mx USING (x) JOIN my USING (y), nt),
        |a AS (
        |  SELECT n_cells, sum(t) AS mi, sum(hx0) AS hx, sum(hy0) AS hy
        |  FROM cells GROUP BY n_cells, nn)
        |SELECT n_cells,
        |  floor(mi * 1000000 + 0.5) / 1000000.0 AS mi_nats,
        |  floor(hx * 1000000 + 0.5) / 1000000.0 AS h_x,
        |  floor(hy * 1000000 + 0.5) / 1000000.0 AS h_y,
        |  floor(mi / least(hx, hy) * 1000000 + 0.5)
        |    / 1000000.0 AS normalized_mi
        |FROM a""".stripMargin)),

    // QQ POINTS — ventile-by-ventile comparison of the two q153/q163
    // windows: the POINTWISE member of the drift trio (PSI = binned
    // mass, KS = sup-norm, QQ = where in the range the shift lives).
    // Two exact-quantile histogram passes (no sorts), one 19-row join.
    QueryDef("q171_qq_points", (s, d) => {
      val ord = Tables.orders(s, d)
        .select($"o_orderdate", $"o_totalprice")
      def win(lo: String, hi: String) = ord
        .filter($"o_orderdate" >= lo && $"o_orderdate" < hi)
        .select($"o_totalprice")
      val qs = (1 to 19).map(_ / 20.0)
      def quant(df: DataFrame) = Percentiles.exactQuantiles(
        df.withColumn("__g", lit(1)), "__g", "o_totalprice", qs)
      quant(win("1995-01-01", "1996-01-01"))
        .select($"q", $"value".as("v_ref"))
        .join(quant(win("2000-01-01", "2001-01-01"))
          .select($"q", $"value".as("v_cur")), Seq("q"))
        .select($"q", $"v_ref", $"v_cur",
          Fns.roundU($"v_cur" - $"v_ref", 2).as("shift"))
        .orderBy($"q")
    },
    // q171: q50's rank = ceil(q·n) convention on both windows
    Some(
      """WITH ref AS (
        |  SELECT o_totalprice AS v FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1995-01-01'
        |    AND o_orderdate < TIMESTAMP '1996-01-01'),
        |cur AS (
        |  SELECT o_totalprice AS v FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '2000-01-01'
        |    AND o_orderdate < TIMESTAMP '2001-01-01'),
        |qs AS (SELECT CAST(i AS DOUBLE) / 20 AS q
        |       FROM unnest(range(1, 20)) t(i)),
        |ra AS (SELECT v, row_number() OVER (ORDER BY v) AS rn,
        |         count(*) OVER () AS n FROM ref),
        |rb AS (SELECT v, row_number() OVER (ORDER BY v) AS rn,
        |         count(*) OVER () AS n FROM cur),
        |qa AS (SELECT q, v AS v_ref FROM ra, qs
        |       WHERE rn = greatest(1, CAST(ceil(q * n) AS BIGINT))),
        |qb AS (SELECT q, v AS v_cur FROM rb, qs
        |       WHERE rn = greatest(1, CAST(ceil(q * n) AS BIGINT)))
        |SELECT q, v_ref, v_cur,
        |  floor((v_cur - v_ref) * 100 + 0.5) / 100.0 AS shift
        |FROM qa JOIN qb USING (q) ORDER BY q""".stripMargin)),

    // WELCH TWO-SAMPLE T — the drift trio's SIGNIFICANCE readout: PSI/
    // KS/QQ (q153/q163/q171) say the windows differ; this says whether
    // the MEAN shift clears sampling noise (unequal variances assumed —
    // Welch–Satterthwaite df, plus Cohen's d for effect size). ONE scan
    // with conditional projections feeds one 6-value reduce; every
    // emitted stat is a RATIO of aggregates (never a raw variance), so
    // the cross-engine float agreement is relative-error-tight.
    QueryDef("q172_welch_ttest", (s, d) => {
      val ord = Tables.orders(s, d)
        .select($"o_orderdate", $"o_totalprice")
      def win(lo: String, hi: String) =
        when($"o_orderdate" >= lo && $"o_orderdate" < hi,
          $"o_totalprice")
      val st = ord
        .select(win("1995-01-01", "1996-01-01").as("a"),
          win("2000-01-01", "2001-01-01").as("b"))
        .agg(count($"a").as("n_ref"), avg($"a").as("__ma"),
          var_samp($"a").as("__va"),
          count($"b").as("n_cur"), avg($"b").as("__mb"),
          var_samp($"b").as("__vb"))
      val sa = $"__va" / $"n_ref"
      val sb = $"__vb" / $"n_cur"
      st.select($"n_ref", $"n_cur",
        Fns.roundU($"__ma", 2).as("mean_ref"),
        Fns.roundU($"__mb", 2).as("mean_cur"),
        Fns.roundU(($"__mb" - $"__ma") / sqrt(sa + sb), 6).as("t_stat"),
        Fns.roundU(pow(sa + sb, 2) /
          (pow(sa, 2) / ($"n_ref" - 1) + pow(sb, 2) / ($"n_cur" - 1)),
          4).as("df_welch"),
        Fns.roundU(($"__mb" - $"__ma") /
          sqrt((($"n_ref" - 1) * $"__va" + ($"n_cur" - 1) * $"__vb") /
            ($"n_ref" + $"n_cur" - 2)), 6).as("cohens_d"))
    }, Some(
      """WITH a AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n, avg(o_totalprice) AS m,
        |    var_samp(o_totalprice) AS v
        |  FROM orders WHERE o_orderdate >= TIMESTAMP '1995-01-01'
        |    AND o_orderdate < TIMESTAMP '1996-01-01'),
        |b AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n, avg(o_totalprice) AS m,
        |    var_samp(o_totalprice) AS v
        |  FROM orders WHERE o_orderdate >= TIMESTAMP '2000-01-01'
        |    AND o_orderdate < TIMESTAMP '2001-01-01')
        |SELECT a.n AS n_ref, b.n AS n_cur,
        |  floor(a.m * 100 + 0.5) / 100.0 AS mean_ref,
        |  floor(b.m * 100 + 0.5) / 100.0 AS mean_cur,
        |  floor((b.m - a.m) / sqrt(a.v / a.n + b.v / b.n)
        |    * 1000000 + 0.5) / 1000000.0 AS t_stat,
        |  floor((a.v / a.n + b.v / b.n) * (a.v / a.n + b.v / b.n)
        |      / ((a.v / a.n) * (a.v / a.n) / (a.n - 1)
        |        + (b.v / b.n) * (b.v / b.n) / (b.n - 1))
        |    * 10000 + 0.5) / 10000.0 AS df_welch,
        |  floor((b.m - a.m)
        |      / sqrt(((a.n - 1) * a.v + (b.n - 1) * b.v)
        |        / (a.n + b.n - 2))
        |    * 1000000 + 0.5) / 1000000.0 AS cohens_d
        |FROM a, b""".stripMargin)),

    // ONE-WAY ANOVA — does order priority move the money? F over the
    // o_orderpriority groups of o_totalprice: one per-group hash
    // aggregate (k rows out however many rows in), then ONE reduce of
    // those k rows — SSW from the per-group sample variances, SSB in
    // moment form (Σn·m² − (Σn·m)²/N, exactly Σn(m−m̄)² in exact
    // arithmetic). The moment form is what keeps the plan to a SINGLE
    // fact scan (PlanShapeSpec-pinned): the centered form needs the
    // grand mean first, i.e. the k-row table twice, and Catalyst
    // plans that as a second scan. Its cancellation costs ~6 of 16
    // digits here (terms ~1e15 vs SSB ~1e9) — both engines lose the
    // SAME digits, so the rounded ratios still agree.
    QueryDef("q173_anova_f", (s, d) => {
      Tables.orders(s, d)
        .groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("__ng"), avg($"o_totalprice").as("__mg"),
          var_samp($"o_totalprice").as("__vg"))
        .agg(sum($"__ng").as("__n"), count(lit(1)).as("__k"),
          sum($"__ng" * $"__mg").as("__s1"),
          sum($"__ng" * $"__mg" * $"__mg").as("__s2"),
          sum(($"__ng" - 1) * $"__vg").as("__ssw"))
        .select($"__k".as("k_groups"), $"__n".as("n"),
          (($"__s2" - $"__s1" * $"__s1" / $"__n")).as("__ssb"),
          $"__ssw", $"__k", $"__n")
        .select($"k_groups", $"n",
          Fns.roundU(($"__ssb" / ($"__k" - 1)) /
            ($"__ssw" / ($"__n" - $"__k")), 6).as("f_stat"),
          Fns.roundU($"__ssb" / ($"__ssb" + $"__ssw"), 6).as("eta_sq"))
    }, Some(
      """WITH g AS (
        |  SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS ng,
        |    avg(o_totalprice) AS mg, var_samp(o_totalprice) AS vg
        |  FROM orders GROUP BY 1),
        |t AS (SELECT CAST(sum(ng) AS BIGINT) AS n,
        |        CAST(count(*) AS BIGINT) AS k_groups,
        |        sum(ng * mg) AS s1, sum(ng * mg * mg) AS s2,
        |        sum((ng - 1) * vg) AS ssw FROM g),
        |a AS (SELECT k_groups, n, s2 - s1 * s1 / n AS ssb, ssw FROM t)
        |SELECT k_groups, n,
        |  floor((ssb / (k_groups - 1)) / (ssw / (n - k_groups))
        |    * 1000000 + 0.5) / 1000000.0 AS f_stat,
        |  floor(ssb / (ssb + ssw) * 1000000 + 0.5) / 1000000.0 AS eta_sq
        |FROM a""".stripMargin)),

    // CRAMÉR'S V — q119's chi² made comparable across table shapes:
    // the returnflag × linestatus association normalized to [0,1] by
    // n·(min(r,c)−1). The contingency table is one hash aggregate
    // (≤ |flags|·|statuses| cells regardless of row count); expecteds
    // come from broadcast marginals; observed counts stay exact longs
    // until the single chi² division.
    QueryDef("q174_cramers_v", (s, d) => {
      val obs = Tables.lineitem(s, d)
        .groupBy($"l_returnflag".as("r"), $"l_linestatus".as("c"))
        .agg(count(lit(1)).as("__o"))
      val mr = obs.groupBy($"r").agg(sum($"__o").as("__nr"))
      val mc = obs.groupBy($"c").agg(sum($"__o").as("__nc"))
      val nt = obs.agg(sum($"__o").as("__n"),
        countDistinct($"r").as("r_levels"),
        countDistinct($"c").as("c_levels"))
      obs.join(broadcast(mr), Seq("r")).join(broadcast(mc), Seq("c"))
        .crossJoin(broadcast(nt))
        .select($"__n", $"r_levels", $"c_levels",
          (pow($"__o" - $"__nr" * $"__nc" / $"__n", 2) /
            ($"__nr" * $"__nc" / $"__n")).as("__x"))
        .groupBy($"__n", $"r_levels", $"c_levels")
        .agg(sum($"__x").as("__chi2"))
        .select($"__n".as("n"), $"r_levels", $"c_levels",
          Fns.roundU($"__chi2", 4).as("chi2"),
          Fns.roundU(sqrt($"__chi2" / ($"__n" *
            (least($"r_levels", $"c_levels") - 1))), 6).as("cramers_v"))
    }, Some(
      """WITH obs AS (
        |  SELECT l_returnflag AS r, l_linestatus AS c,
        |    CAST(count(*) AS BIGINT) AS o
        |  FROM lineitem GROUP BY 1, 2),
        |mr AS (SELECT r, CAST(sum(o) AS BIGINT) AS nr FROM obs GROUP BY 1),
        |mc AS (SELECT c, CAST(sum(o) AS BIGINT) AS nc FROM obs GROUP BY 1),
        |nt AS (SELECT CAST(sum(o) AS BIGINT) AS n,
        |         CAST(count(DISTINCT r) AS BIGINT) AS r_levels,
        |         CAST(count(DISTINCT c) AS BIGINT) AS c_levels FROM obs),
        |x AS (SELECT n, r_levels, c_levels,
        |        (o - nr * nc / CAST(n AS DOUBLE))
        |          * (o - nr * nc / CAST(n AS DOUBLE))
        |          / (nr * nc / CAST(n AS DOUBLE)) AS xx
        |      FROM obs JOIN mr USING (r) JOIN mc USING (c), nt),
        |a AS (SELECT n, r_levels, c_levels, sum(xx) AS chi2
        |      FROM x GROUP BY 1, 2, 3)
        |SELECT n, r_levels, c_levels,
        |  floor(chi2 * 10000 + 0.5) / 10000.0 AS chi2,
        |  floor(sqrt(chi2 / (n * (least(r_levels, c_levels) - 1)))
        |    * 1000000 + 0.5) / 1000000.0 AS cramers_v
        |FROM a""".stripMargin)),

    // CALIBRATION CURVE + BRIER — the model-eval suite's missing
    // member: q162/q164 grade RANKING (PR, AUC); this grades the
    // PROBABILITIES themselves. Scores normalize to [0,1] by the
    // broadcast min/max, bins reuse the q145 exact-decile machinery
    // (decile of the normalized score = decile of the raw score — the
    // map is monotone, so the bounds come straight off c_acctbal), and
    // each bin reports mean predicted vs observed rate plus its Brier
    // contribution. Two broadcasts and two hash aggregates end to end.
    QueryDef("q175_calibration", (s, d) => {
      val scored = urgentScored(s, d)
      val mm = scored.agg(min($"c_acctbal").as("__lo"),
        max($"c_acctbal").as("__hi"))
      scored.crossJoin(broadcast(decileBounds(scored, "c_acctbal")))
        .crossJoin(broadcast(mm))
        .select(decileOf($"c_acctbal").as("decile"), $"__y",
          (($"c_acctbal" - $"__lo") / ($"__hi" - $"__lo")).as("__p"))
        .groupBy($"decile")
        .agg(count(lit(1)).as("n_cust"),
          Fns.roundU(avg($"__p"), 6).as("mean_pred"),
          Fns.roundU(avg($"__y"), 6).as("pos_rate"),
          Fns.roundU(avg(pow($"__p" - $"__y", 2)), 6).as("bin_brier"))
        .orderBy($"decile")
    }, Some(
      """WITH pos AS (SELECT DISTINCT o_custkey FROM orders
        |             WHERE o_orderpriority = '1-URGENT'),
        |sc AS (
        |  SELECT c_acctbal,
        |    CASE WHEN p.o_custkey IS NULL THEN 0 ELSE 1 END AS y
        |  FROM customer c LEFT JOIN pos p ON c.c_custkey = p.o_custkey),
        |ranked AS (
        |  SELECT c_acctbal, row_number() OVER (ORDER BY c_acctbal) AS rn,
        |    count(*) OVER () AS n FROM sc),
        |bounds AS (
        |  SELECT c_acctbal AS b
        |  FROM ranked, (VALUES (0.1),(0.2),(0.3),(0.4),(0.5),(0.6),
        |                       (0.7),(0.8),(0.9)) qs(q)
        |  WHERE rn = greatest(1, CAST(ceil(CAST(q AS DOUBLE) * n)
        |    AS BIGINT))),
        |mm AS (SELECT min(c_acctbal) AS lo, max(c_acctbal) AS hi FROM sc),
        |dec AS (
        |  SELECT 10 - (SELECT count(*) FROM bounds WHERE s.c_acctbal > b)
        |      AS decile,
        |    y, (s.c_acctbal - lo) / (hi - lo) AS p
        |  FROM sc s, mm)
        |SELECT decile, CAST(count(*) AS BIGINT) AS n_cust,
        |  floor(avg(p) * 1000000 + 0.5) / 1000000.0 AS mean_pred,
        |  floor(avg(CAST(y AS DOUBLE)) * 1000000 + 0.5)
        |    / 1000000.0 AS pos_rate,
        |  floor(avg((p - y) * (p - y)) * 1000000 + 0.5)
        |    / 1000000.0 AS bin_brier
        |FROM dec GROUP BY decile ORDER BY decile""".stripMargin)),

    // MULTI-FEATURE OLS VIA NORMAL EQUATIONS — ŷ = β0 + β1·acctbal +
    // β2·n_items over every order, closed form: ONE scan reduces to
    // the covariance sufficient statistics, and the 2×2 Cramer solve
    // + R² happen on that single row. Covariance form, NOT raw
    // ΣxᵢxⱼE: centering is built into the one-pass aggregate, so the
    // solve conditions on spreads (~1e3) instead of raw second
    // moments (~1e9) and the cross-engine float agreement stays
    // relative-error-tight. q86's "a model per group with no
    // iterative solver", one feature wider — the same recipe extends
    // to any k with a k×k driver-side solve over k(k+3)/2 aggregates.
    QueryDef("q179_ols_normal_eq", (s, d) => {
      val ni = Tables.lineitem(s, d).groupBy($"l_orderkey")
        .agg(count(lit(1)).as("__k"))
      val rows = Tables.orders(s, d)
        .join(ni, $"o_orderkey" === $"l_orderkey")
        .join(Tables.customer(s, d), $"o_custkey" === $"c_custkey")
        .select($"o_totalprice".as("__y"), $"c_acctbal".as("__x1"),
          $"__k".cast("double").as("__x2"))
      val st = rows.agg(count(lit(1)).as("n"),
        avg($"__y").as("__my"), avg($"__x1").as("__m1"),
        avg($"__x2").as("__m2"),
        var_samp($"__x1").as("__v11"), var_samp($"__x2").as("__v22"),
        covar_samp($"__x1", $"__x2").as("__v12"),
        covar_samp($"__x1", $"__y").as("__c1"),
        covar_samp($"__x2", $"__y").as("__c2"),
        var_samp($"__y").as("__vy"))
      val det = $"__v11" * $"__v22" - $"__v12" * $"__v12"
      val b1 = ($"__c1" * $"__v22" - $"__c2" * $"__v12") / det
      val b2 = ($"__c2" * $"__v11" - $"__c1" * $"__v12") / det
      st.select($"n",
        Fns.roundU($"__my" - b1 * $"__m1" - b2 * $"__m2", 4).as("b0"),
        Fns.roundU(b1, 6).as("b1"),
        Fns.roundU(b2, 6).as("b2"),
        Fns.roundU((b1 * $"__c1" + b2 * $"__c2") / $"__vy", 6).as("r2"))
    }, Some(
      """WITH ni AS (
        |  SELECT l_orderkey, CAST(count(*) AS DOUBLE) AS k
        |  FROM lineitem GROUP BY 1),
        |r AS (
        |  SELECT o_totalprice AS y, c_acctbal AS x1, k AS x2
        |  FROM orders JOIN ni ON o_orderkey = l_orderkey
        |  JOIN customer ON o_custkey = c_custkey),
        |st AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n, avg(y) AS my,
        |    avg(x1) AS m1, avg(x2) AS m2,
        |    var_samp(x1) AS v11, var_samp(x2) AS v22,
        |    covar_samp(x1, x2) AS v12,
        |    covar_samp(x1, y) AS c1, covar_samp(x2, y) AS c2,
        |    var_samp(y) AS vy
        |  FROM r),
        |b AS (
        |  SELECT n, my, m1, m2, c1, c2, vy,
        |    (c1 * v22 - c2 * v12) / (v11 * v22 - v12 * v12) AS b1,
        |    (c2 * v11 - c1 * v12) / (v11 * v22 - v12 * v12) AS b2
        |  FROM st)
        |SELECT n,
        |  floor((my - b1 * m1 - b2 * m2) * 10000 + 0.5) / 10000.0 AS b0,
        |  floor(b1 * 1000000 + 0.5) / 1000000.0 AS b1,
        |  floor(b2 * 1000000 + 0.5) / 1000000.0 AS b2,
        |  floor((b1 * c1 + b2 * c2) / vy * 1000000 + 0.5)
        |    / 1000000.0 AS r2
        |FROM b""".stripMargin)),

    // RFM SEGMENTATION — the classic CRM cube: per customer Recency
    // (days since last order vs the corpus max date), Frequency
    // (order count), Monetary (lifetime totalprice), each scored 1-5
    // by EXACT quintile bounds (q50's histogram machinery over the
    // per-customer aggregate — bounds are actual data values, so both
    // engines cut at bit-identical points), assigned by the q145
    // broadcast-fold. One fact aggregate, three 1-row broadcasts, and
    // a ≤125-cell readout — no windows, no sorts, at any scale.
    QueryDef("q182_rfm", (s, d) => {
      val mx = Tables.orders(s, d).agg(max($"o_orderdate").as("__mx"))
      val cust = Tables.orders(s, d)
        .groupBy($"o_custkey")
        .agg(max($"o_orderdate").as("__last"),
          count(lit(1)).as("__f"),
          // monetary is an EXACT decimal sum everywhere — both the
          // reported cell total AND the quintile-bound input (a double
          // sum is summation-order-dependent, so a customer sitting
          // exactly on a bound could flip m_score between engines)
          sum($"o_totalprice".cast("decimal(18,2)")).as("__md"))
        .crossJoin(broadcast(mx))
        .select($"o_custkey",
          datediff($"__mx", $"__last").cast("long").as("__r"),
          $"__f", $"__md")
      // ONE exact-quantile pass for all three metrics, grouped by
      // metric name, instead of three independent job chains (each a
      // histogram cascade + its own broadcast): the quantile operator
      // is already per-group, so the metric axis IS a group key. The
      // selected bounds are rank-exact (value at ceil(q·n)), hence
      // bit-identical to the per-column calls — the oracle and the
      // output hash are untouched. Values unify as double exactly as
      // before (exactQuantiles works in double internally; the
      // decimal discipline above protects the SUM, and the one
      // exact-sum→double conversion is order-independent).
      val metrics = cust.select(explode(map(
          lit("r"), $"__r".cast("double"),
          lit("f"), $"__f".cast("double"),
          lit("m"), $"__md".cast("double"))))
        .toDF("__metric", "__value")
      val bounds = Percentiles.exactQuantiles(metrics, "__metric",
          "__value", Seq(0.2, 0.4, 0.6, 0.8))
        .groupBy($"__metric")
        .agg(sort_array(collect_list($"value")).as("__bs"))
        .agg(map_from_entries(collect_list(struct($"__metric", $"__bs")))
          .as("__bm"))
      def score(x: org.apache.spark.sql.Column,
          bs: org.apache.spark.sql.Column) =
        lit(1) + aggregate(bs, lit(0),
          (acc, b) => acc + when(x > b, 1).otherwise(0))
      cust.crossJoin(broadcast(bounds))
        // recency inverts: score 5 = most recent (smallest gap).
        // Scores cast to long so the output type matches the oracle's
        // BIGINT (the driver's hash is type-sensitive).
        .select((lit(6) - score($"__r", element_at($"__bm", "r")))
            .cast("long").as("r_score"),
          score($"__f", element_at($"__bm", "f")).cast("long")
            .as("f_score"),
          score($"__md", element_at($"__bm", "m")).cast("long")
            .as("m_score"),
          $"__md")
        .groupBy($"r_score", $"f_score", $"m_score")
        .agg(count(lit(1)).as("n_cust"),
          // emit EXACT INTEGER CENTS, not the raw decimal sum: a wide
          // DECIMAL(38,2) final column proved comparator-fragile across
          // DuckDB versions (r6/r7 driver hash reds with bit-identical
          // values locally) — the house idiom (q238-q248) is a BIGINT
          // cents column, which hashes identically everywhere. __md is
          // DECIMAL(18,2) so *100 and the long cast are both exact.
          sum(($"__md" * lit(100)).cast("long")).as("sum_monetary"))
        .orderBy($"r_score", $"f_score", $"m_score")
    }, Some(
      """WITH mx AS (SELECT max(o_orderdate) AS m FROM orders),
        |cust AS (
        |  SELECT o_custkey,
        |    date_diff('day', CAST(max(o_orderdate) AS DATE),
        |      CAST((SELECT m FROM mx) AS DATE)) AS r,
        |    CAST(count(*) AS BIGINT) AS f,
        |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS md
        |  FROM orders GROUP BY 1),
        |qs AS (SELECT CAST(q AS DOUBLE) AS q
        |       FROM (VALUES (0.2),(0.4),(0.6),(0.8)) v(q)),
        |rb AS (
        |  SELECT v AS b FROM (
        |    SELECT r AS v, row_number() OVER (ORDER BY r) AS rn,
        |      count(*) OVER () AS n FROM cust), qs
        |  WHERE rn = greatest(1, CAST(ceil(q * n) AS BIGINT))),
        |fb AS (
        |  SELECT v AS b FROM (
        |    SELECT f AS v, row_number() OVER (ORDER BY f) AS rn,
        |      count(*) OVER () AS n FROM cust), qs
        |  WHERE rn = greatest(1, CAST(ceil(q * n) AS BIGINT))),
        |mb AS (
        |  SELECT v AS b FROM (
        |    SELECT md AS v, row_number() OVER (ORDER BY md) AS rn,
        |      count(*) OVER () AS n FROM cust), qs
        |  WHERE rn = greatest(1, CAST(ceil(q * n) AS BIGINT))),
        |sc AS (
        |  SELECT
        |    CAST(6 - (1 + (SELECT count(*) FROM rb WHERE c.r > b))
        |      AS BIGINT) AS r_score,
        |    CAST(1 + (SELECT count(*) FROM fb WHERE c.f > b)
        |      AS BIGINT) AS f_score,
        |    CAST(1 + (SELECT count(*) FROM mb WHERE c.md > b)
        |      AS BIGINT) AS m_score,
        |    md
        |  FROM cust c)
        |SELECT r_score, f_score, m_score,
        |  CAST(count(*) AS BIGINT) AS n_cust,
        |  CAST(sum(CAST(md * 100 AS BIGINT)) AS BIGINT) AS sum_monetary
        |FROM sc GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin)),

    // FORECAST BACKTEST — grade the seasonal-naive forecaster
    // (ŷ_t = y_{t-7}) over the 2000 evaluation year: MAE/MAPE/bias/
    // RMSE of daily revenue. The series is ONE bounded hash aggregate
    // (a row per day, however many fact rows feed it), the 7-day
    // shift is an equi-JOIN of that table against itself shifted —
    // q169's shifted-day idiom, no window over the raw facts — and
    // the scorecard is a single reduce. The eval harness generalizes:
    // swap the fc branch for any per-day prediction table.
    QueryDef("q183_forecast_backtest", (s, d) => {
      val days = Tables.orders(s, d)
        .groupBy(to_date($"o_orderdate").as("__d"))
        .agg(sum($"o_totalprice").as("__v"))
      val fc = days.select(date_add($"__d", 7).as("__d"),
        $"__v".as("__f"))
      days.filter($"__d" >= "2000-01-01" && $"__d" < "2001-01-01")
        .join(fc, Seq("__d"))
        .agg(count(lit(1)).as("n_days"),
          Fns.roundU(avg(abs($"__v" - $"__f")), 2).as("mae"),
          // MAPE averages only days with v > 0 (avg skips the nulls):
          // a zero-revenue day would otherwise poison the scorecard
          // with Inf on both engines
          Fns.roundU(avg(when($"__v" > 0, abs($"__v" - $"__f") / $"__v")),
            6).as("mape"),
          Fns.roundU(avg($"__v" - $"__f"), 2).as("bias"),
          Fns.roundU(sqrt(avg(pow($"__v" - $"__f", 2))), 2).as("rmse"))
    }, Some(
      """WITH days AS (
        |  SELECT CAST(o_orderdate AS DATE) AS dd,
        |    sum(o_totalprice) AS v
        |  FROM orders GROUP BY 1),
        |fc AS (SELECT dd + 7 AS dd, v AS f FROM days),
        |e AS (
        |  SELECT d.v, fc.f FROM days d JOIN fc USING (dd)
        |  WHERE d.dd >= DATE '2000-01-01' AND d.dd < DATE '2001-01-01')
        |SELECT CAST(count(*) AS BIGINT) AS n_days,
        |  floor(avg(abs(v - f)) * 100 + 0.5) / 100.0 AS mae,
        |  floor(avg(CASE WHEN v > 0 THEN abs(v - f) / v END)
        |    * 1000000 + 0.5) / 1000000.0 AS mape,
        |  floor(avg(v - f) * 100 + 0.5) / 100.0 AS bias,
        |  floor(sqrt(avg((v - f) * (v - f))) * 100 + 0.5)
        |    / 100.0 AS rmse
        |FROM e""".stripMargin)),

    // CLAMPED RUNNING BALANCE — the inventory ledger recurrence
    // b_t = max(0, b_{t-1} + delta_t), which is NOT a linear window
    // aggregate, computed distributed anyway via the prefix-sum
    // identity  b_t = S_t - min(0, min_{k<=t} S_k): one running sum
    // and one running min over the same (partkey, event-order) window
    // — same shuffle, same sort, no iteration. Returns ('R') restock,
    // everything else issues; lost (unserved) units fall out of the
    // same identity as -min(0, global min prefix). All-integer:
    // quantities are exact BIGINTs, so no float boundary anywhere.
    // Scales as one hash-partition by partkey + per-key sort — the
    // 100 TB shape of every per-entity ledger replay.
    QueryDef("q196_clamped_balance", (s, d) => {
      val w = Window.partitionBy($"l_partkey")
        .orderBy($"l_shipdate", $"l_orderkey", $"l_linenumber")
      Tables.lineitem(s, d)
        .select($"l_partkey", $"l_shipdate", $"l_orderkey",
          $"l_linenumber",
          when($"l_returnflag" === "R", $"l_quantity".cast("long"))
            .otherwise(-$"l_quantity".cast("long")).as("__d"))
        .withColumn("__s", sum($"__d").over(w))
        .withColumn("__m", min($"__s").over(w))
        .withColumn("__bal", $"__s" - least($"__m", lit(0L)))
        .groupBy($"l_partkey")
        // every aggregate below is ORDER-FREE (sum/min/max/count over
        // the window-derived columns) — end balance comes from the
        // same identity (total sum minus clamped global min prefix),
        // never from a row-order-dependent last()
        .agg(count(lit(1)).as("n_events"),
          (sum($"__d") - least(min($"__s"), lit(0L)))
            .as("end_balance"),
          max($"__bal").as("max_balance"),
          sum(when($"__bal" === 0 && $"__d" < 0, 1L).otherwise(0L))
            .as("n_stockout_events"),
          greatest(-min($"__s"), lit(0L)).as("lost_units"))
        .select($"l_partkey".as("p_partkey"), $"n_events",
          $"end_balance", $"max_balance", $"n_stockout_events",
          $"lost_units")
        .orderBy($"p_partkey")
    },
    // q196: same prefix-sum identity, same windows — all-integer so
    // the balances are exact on both engines
    Some(
      """WITH e AS (
        |  SELECT l_partkey, l_shipdate, l_orderkey, l_linenumber,
        |    CASE WHEN l_returnflag = 'R' THEN CAST(l_quantity AS BIGINT)
        |         ELSE -CAST(l_quantity AS BIGINT) END AS d
        |  FROM lineitem),
        |w AS (
        |  SELECT l_partkey, d, l_shipdate, l_orderkey, l_linenumber,
        |    sum(d) OVER (PARTITION BY l_partkey
        |      ORDER BY l_shipdate, l_orderkey, l_linenumber) AS s
        |  FROM e),
        |w2 AS (
        |  SELECT l_partkey, d, s,
        |    min(s) OVER (PARTITION BY l_partkey
        |      ORDER BY l_shipdate, l_orderkey, l_linenumber) AS m
        |  FROM w),
        |b AS (SELECT *, s - LEAST(m, 0) AS bal FROM w2)
        |SELECT l_partkey AS p_partkey,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(d) - LEAST(min(s), 0) AS BIGINT) AS end_balance,
        |  CAST(max(bal) AS BIGINT) AS max_balance,
        |  CAST(sum(CASE WHEN bal = 0 AND d < 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_stockout_events,
        |  CAST(GREATEST(-min(s), 0) AS BIGINT) AS lost_units
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin)),

    // LARGEST-REMAINDER (Hamilton) APPORTIONMENT — allocate a fixed
    // integer budget (1000 promo slots) across nations proportional
    // to revenue. ALL-INTEGER: revenue in cents (exact long), floor
    // share = (SEATS*cents) // total, remainder = the exact modulo,
    // leftover seats go to the largest remainders (tie: nation name).
    // No floating quota anywhere, so no boundary class. The final
    // rank runs over 25 one-row-per-nation aggregates — global-window
    //-on-aggregate, not on data (the q192 pattern).
    QueryDef("q197_apportionment", (s, d) => {
      val seats = 1000L
      val cents = Tables.orders(s, d)
        .join(Tables.customer(s, d), $"o_custkey" === $"c_custkey")
        .join(broadcast(Tables.nation(s, d)),
          $"c_nationkey" === $"n_nationkey")
        .groupBy($"n_name")
        .agg(sum(floor($"o_totalprice" * 100 + 0.5).cast("long"))
          .as("__c"))
      // `div` is LONG integer division (Spark's `/` is always double —
      // a quotient one ulp above an integer would floor wrong)
      val withTot = cents.crossJoin(broadcast(
        cents.agg(sum($"__c").as("__t"))))
        .withColumn("__floor", expr(s"($seats * __c) div __t"))
        .withColumn("__rem", lit(seats) * $"__c" % $"__t")
      val leftover = withTot.agg(
        (lit(seats) - sum($"__floor")).as("__l"))
      withTot.crossJoin(broadcast(leftover))
        .withColumn("__rk", row_number().over(
          Window.orderBy($"__rem".desc, $"n_name")))
        .select($"n_name",
          ($"__c".cast("double") / 100.0).as("revenue"),
          $"__floor".as("floor_seats"),
          when($"__rk" <= $"__l", 1L).otherwise(0L).as("bonus_seat"),
          ($"__floor" + when($"__rk" <= $"__l", 1L).otherwise(0L))
            .as("seats"))
        .orderBy($"n_name")
    },
    // q197: identical integer quota arithmetic — // is DuckDB's
    // integer division, matching Spark's `div`
    Some(
      """WITH c AS (
        |  SELECT n_name,
        |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS c
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY 1),
        |t AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM c),
        |f AS (
        |  SELECT n_name, c, CAST((1000 * c) // t AS BIGINT) AS fl,
        |    (1000 * c) % t AS rem
        |  FROM c, t),
        |l AS (SELECT CAST(1000 - sum(fl) AS BIGINT) AS lf FROM f),
        |r AS (SELECT *, row_number() OVER (ORDER BY rem DESC, n_name)
        |        AS rk FROM f)
        |SELECT n_name, CAST(c AS DOUBLE) / 100.0 AS revenue,
        |  fl AS floor_seats,
        |  CAST(CASE WHEN rk <= lf THEN 1 ELSE 0 END AS BIGINT)
        |    AS bonus_seat,
        |  CAST(fl + CASE WHEN rk <= lf THEN 1 ELSE 0 END AS BIGINT)
        |    AS seats
        |FROM r, l ORDER BY n_name""".stripMargin)),

    // THEIL-SEN ROBUST TREND — the median-of-pairwise-slopes
    // estimator over daily revenue, the outlier-immune counterpart to
    // q179's OLS. Day pairs are pairs of DAILY AGGREGATES (bounded by
    // the calendar, not by data volume — ~n_days²/2 rows, never
    // data×data), and each slope is ONE double division of exact
    // integer cent/day differences, so the slope multiset is
    // bit-identical across engines. Median = the LOWER median (the
    // ⌈n/2⌉-th smallest ELEMENT, selected by rank) on BOTH sides —
    // never interpolated: percentile()'s midpoint average is
    // 0.5a+0.5b on Spark but a+0.5(b-a) on DuckDB, a last-ulp
    // divergence this selection-based definition removes by
    // construction. Intercept = lower median over days of
    // (cents - slope*day), the standard Theil-Sen pairing. The rank
    // windows run over day-pair aggregates (calendar-bounded), not
    // data rows.
    QueryDef("q198_theil_sen", (s, d) => {
      val daily = Tables.orders(s, d)
        .groupBy(to_date($"o_orderdate").as("__day"))
        .agg(sum(floor($"o_totalprice" * 100 + 0.5).cast("long"))
          .as("__c"))
        .select(datediff($"__day", to_date(lit("1970-01-01")))
          .cast("long").as("__x"), $"__c")
      val a = daily.select($"__x".as("__x1"), $"__c".as("__c1"))
      val b = daily.select($"__x".as("__x2"), $"__c".as("__c2"))
      // median SELECTION rides the distributed prefix-sum rank (the
      // q98 machinery: range partition + local sort + boundary
      // offsets), not a one-task row_number window — ~n_days²/2 pair
      // rows sort on every core (measured 3.5 → 1.8 s at sf0.1); with
      // duplicate slope values ranks are still unique per ROW, and
      // the VALUE at the median rank is what both engines agree on
      // persisted because THREE executions read it (the count, the
      // range-partitioner's sample pass, the ranked pass) — without
      // this the pair join re-runs each time; released by the
      // session-level cache clear (Bench/Verify per query)
      import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      val slopes = a.join(b, $"__x1" < $"__x2")
        .select((($"__c2" - $"__c1").cast("double") /
          ($"__x2" - $"__x1")).as("__slope"))
        .withColumn("__g", lit(1))
        .transform(scoped)
      val np = slopes.agg(count(lit(1)).as("n_pairs"))
      val slope = Packing.prefixSum(slopes, Seq("__g"), Seq("__slope"),
          "__g", "__rk")
        .crossJoin(broadcast(np))
        .filter($"__rk" === expr("(n_pairs + 1) div 2"))
        .select($"n_pairs", $"__slope".as("__m"))
      val resid = daily.crossJoin(broadcast(slope))
        .select($"n_pairs", $"__m",
          ($"__c".cast("double") - $"__m" * $"__x").as("__r"))
        .withColumn("__g", lit(1))
      val nd = resid.agg(count(lit(1)).as("n_days"))
      Packing.prefixSum(resid, Seq("__g"), Seq("__r"), "__g", "__rk")
        .crossJoin(broadcast(nd))
        .filter($"__rk" === expr("(n_days + 1) div 2"))
        .select($"n_days", $"n_pairs",
          Fns.roundU($"__m", 4).as("slope_cents_per_day"),
          Fns.roundU($"__r", 4).as("intercept_cents"))
    },
    // q198: identical slope/residual doubles (one division of exact
    // ints), LOWER median selected by rank on both engines — no
    // interpolation formula to diverge
    Some(
      """WITH daily AS (
        |  SELECT CAST(date_diff('day', DATE '1970-01-01',
        |      CAST(o_orderdate AS DATE)) AS BIGINT) AS x,
        |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS c
        |  FROM orders GROUP BY 1),
        |p AS (
        |  SELECT CAST(b.c - a.c AS DOUBLE) / (b.x - a.x) AS slope
        |  FROM daily a, daily b WHERE a.x < b.x),
        |np AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs FROM p),
        |ms AS (
        |  SELECT n_pairs, slope AS m
        |  FROM (SELECT slope, row_number() OVER (ORDER BY slope) AS rk
        |        FROM p), np
        |  WHERE rk = (n_pairs + 1) // 2),
        |res AS (
        |  SELECT n_pairs, m, CAST(c AS DOUBLE) - m * x AS r
        |  FROM daily, ms),
        |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM res),
        |mi AS (
        |  SELECT n_days, n_pairs, m, r
        |  FROM (SELECT *, row_number() OVER (ORDER BY r) AS rk
        |        FROM res), nd
        |  WHERE rk = (n_days + 1) // 2)
        |SELECT n_days, n_pairs,
        |  floor(m * 10000 + 0.5) / 10000.0 AS slope_cents_per_day,
        |  floor(r * 10000 + 0.5) / 10000.0 AS intercept_cents
        |FROM mi""".stripMargin)),

    // POISSON-BOOTSTRAP CI — resampling-based uncertainty without
    // moving data: each (order, replica) draws a Poisson(1) count
    // from an ENGINE-INDEPENDENT multiplicative hash (the q101
    // uniform, fixed inverse-CDF thresholds identical on both
    // sides), replica means ride exact integer cent sums with one
    // division, and the 95% CI is the 5th/196th ORDER STATISTIC of
    // the 200 replica means — selected by rank (the q198 discipline,
    // no interpolation). The scale shape: B×N rows but the aggregate
    // is 200 groups with map-side partial sums — the shuffle carries
    // 200·partitions rows, not B×N; this is the textbook cluster
    // bootstrap (Poisson counts avoid coordinating a true
    // N-out-of-N resample across executors).
    QueryDef("q200_bootstrap_ci", (s, d) => {
      val ord = Tables.orders(s, d)
        .select($"o_orderkey",
          floor($"o_totalprice" * 100 + 0.5).cast("long").as("__cents"))
      val rep = ord
        .select($"o_orderkey", $"__cents",
          explode(sequence(lit(0), lit(199))).as("__b"))
        .withColumn("__x",
          ($"o_orderkey" * 1009 + $"__b" * 9176) % 2147483647L)
        .withColumn("__k", ($"__x" * 2654435761L) % 4294967296L)
        .withColumn("__u", $"__k".cast("double") / 4294967296.0)
        .withColumn("__c",
          when($"__u" < 0.36787944117144233, 0L)
            .when($"__u" < 0.7357588823428847, 1L)
            .when($"__u" < 0.9196986029286058, 2L)
            .when($"__u" < 0.9810118431238462, 3L)
            .when($"__u" < 0.9963401531726563, 4L)
            .when($"__u" < 0.9994058151824183, 5L)
            .otherwise(6L))
      val means = rep.groupBy($"__b")
        .agg((sum($"__c" * $"__cents").cast("double") / sum($"__c"))
          .as("__m"))
      val ci = means
        .withColumn("__rk", row_number().over(Window.orderBy($"__m")))
        .agg(count(lit(1)).as("b_replicas"),
          min(when($"__rk" === 5, $"__m")).as("__lo"),
          min(when($"__rk" === 196, $"__m")).as("__hi"))
      ord.agg(count(lit(1)).as("n_orders"),
          (sum($"__cents").cast("double") / count(lit(1))).as("__pm"))
        .crossJoin(broadcast(ci))
        .select($"n_orders", $"b_replicas",
          Fns.roundU($"__pm" / 100.0, 4).as("mean_price"),
          Fns.roundU($"__lo" / 100.0, 4).as("ci_lo"),
          Fns.roundU($"__hi" / 100.0, 4).as("ci_hi"))
    },
    // q200: identical hash, thresholds and rank selection — the
    // replica means are bit-identical doubles on both engines
    Some(
      """WITH o AS (
        |  SELECT o_orderkey,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        |  FROM orders),
        |rep AS (
        |  SELECT cents, b.i AS b,
        |    ((o_orderkey * 1009 + b.i * 9176) % 2147483647)
        |      * 2654435761 % 4294967296 AS k
        |  FROM o, range(0, 200) b(i)),
        |cnt AS (
        |  SELECT b, cents,
        |    CASE WHEN u < 0.36787944117144233 THEN 0
        |         WHEN u < 0.7357588823428847 THEN 1
        |         WHEN u < 0.9196986029286058 THEN 2
        |         WHEN u < 0.9810118431238462 THEN 3
        |         WHEN u < 0.9963401531726563 THEN 4
        |         WHEN u < 0.9994058151824183 THEN 5
        |         ELSE 6 END AS c
        |  FROM (SELECT b, cents, CAST(k AS DOUBLE) / 4294967296.0 AS u
        |        FROM rep)),
        |means AS (
        |  SELECT b, CAST(sum(c * cents) AS DOUBLE)
        |    / CAST(sum(c) AS BIGINT) AS m
        |  FROM cnt GROUP BY b),
        |r AS (SELECT m, row_number() OVER (ORDER BY m) AS rk FROM means),
        |ci AS (
        |  SELECT CAST(count(*) AS BIGINT) AS b_replicas,
        |    min(CASE WHEN rk = 5 THEN m END) AS lo,
        |    min(CASE WHEN rk = 196 THEN m END) AS hi
        |  FROM r),
        |base AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_orders,
        |    CAST(sum(cents) AS DOUBLE) / count(*) AS pm
        |  FROM o)
        |SELECT n_orders, b_replicas,
        |  floor((pm / 100.0) * 10000 + 0.5) / 10000.0 AS mean_price,
        |  floor((lo / 100.0) * 10000 + 0.5) / 10000.0 AS ci_lo,
        |  floor((hi / 100.0) * 10000 + 0.5) / 10000.0 AS ci_hi
        |FROM base, ci""".stripMargin)),

    // FD-BASED DATA REPAIR -- the cleaning step after q151's FD
    // profiling: rows with a corrupted attribute are imputed from the
    // MODE of their functional-dependency group (nationkey ->
    // mktsegment here), with the deterministic (count desc, value
    // asc) tie-break. Corruption is synthetic (custkey % 7) so ground
    // truth is KNOWN, and the report scores the repair: per nation,
    // the imputed mode, how many rows were repaired, and how many
    // matched the true value. The mode ranks over the (nation,
    // segment) AGGREGATE (bounded cells), never over rows.
    QueryDef("q207_fd_repair", (s, d) => {
      val cust = Tables.customer(s, d)
        .select($"c_custkey", $"c_nationkey", $"c_mktsegment",
          ($"c_custkey" % 7 === 0).as("__corrupt"))
      val mode = cust.filter(!$"__corrupt")
        .groupBy($"c_nationkey", $"c_mktsegment")
        .agg(count(lit(1)).as("__n"))
        .withColumn("__rk", row_number().over(
          Window.partitionBy($"c_nationkey")
            .orderBy($"__n".desc, $"c_mktsegment")))
        .filter($"__rk" === 1)
        .select($"c_nationkey", $"c_mktsegment".as("__mode"),
          $"__n".as("__mode_n"))
      cust.filter($"__corrupt")
        .join(broadcast(mode), Seq("c_nationkey"))
        .groupBy($"c_nationkey")
        .agg(min($"__mode").as("mode_segment"),
          count(lit(1)).as("n_repaired"),
          sum(when($"c_mktsegment" === $"__mode", 1L).otherwise(0L))
            .as("n_correct"))
        .orderBy($"c_nationkey")
    },
    // q207: same mode with the same (count desc, segment asc)
    // tie-break, scored against the known truth
    Some(
      """WITH c AS (
        |  SELECT c_custkey, c_nationkey, c_mktsegment,
        |    c_custkey % 7 = 0 AS corrupt
        |  FROM customer),
        |m AS (
        |  SELECT c_nationkey, c_mktsegment AS md, n FROM (
        |    SELECT c_nationkey, c_mktsegment,
        |      CAST(count(*) AS BIGINT) AS n,
        |      row_number() OVER (PARTITION BY c_nationkey
        |        ORDER BY count(*) DESC, c_mktsegment) AS rk
        |    FROM c WHERE NOT corrupt GROUP BY 1, 2)
        |  WHERE rk = 1)
        |SELECT c_nationkey, min(md) AS mode_segment,
        |  CAST(count(*) AS BIGINT) AS n_repaired,
        |  CAST(sum(CASE WHEN c_mktsegment = md THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_correct
        |FROM c JOIN m USING (c_nationkey)
        |WHERE corrupt GROUP BY 1 ORDER BY 1""".stripMargin)),

    // LINEAR-INTERPOLATION GAP FILL -- q120's forward-fill sibling
    // for quantities where a step function is wrong (prices, rates):
    // missing days get the straight line between the LAST previous
    // and FIRST next observed value (edges clamp to the nearest
    // observation). Two ignore-nulls window passes over the calendar
    // spine -- same partition, opposite frames, one sort. The
    // interpolant is exact ints into ONE double expression written
    // identically on both engines.
    QueryDef("q208_interpolate", (s, d) => {
      val ord = Tables.orders(s, d)
        .join(Tables.customer(s, d), $"o_custkey" === $"c_custkey")
        .filter($"c_nationkey" < 10)
      // persisted: the nation spine AND the left join both read it,
      // and it is the ~24k-row aggregate — without this the
      // orders⋈customer join underneath runs twice (measured 3.4 s →
      // the join, not the windows, dominated)
      import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      val daily = ord.groupBy($"c_nationkey", to_date($"o_orderdate")
          .as("day"))
        .agg(sum(floor($"o_totalprice" * 100 + 0.5).cast("long"))
          .as("__v"))
        .transform(scoped)
      val cal = Tables.orders(s, d)
        .agg(min(to_date($"o_orderdate")).as("__lo"),
          max(to_date($"o_orderdate")).as("__hi"))
        .select(explode(sequence($"__lo", $"__hi")).as("day"))
      // any nation with >=1 order has a daily row, so the spine's
      // nation set from `daily` equals the one from `ord`
      val spine = daily.select($"c_nationkey").distinct()
        .crossJoin(broadcast(cal))
      val wB = Window.partitionBy($"c_nationkey").orderBy($"day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // The forward fill is expressed as a RUNNING frame over the
      // DESCENDING day order — `last(x) over (desc, unboundedPreceding..
      // current)` ≡ `first(x) over (asc, current..unboundedFollowing)`
      // exactly (day is unique per nation, so the row sets match 1:1).
      // NOT the textbook (currentRow, unboundedFollowing) frame:
      // Spark's UnboundedFollowingWindowFunctionFrame re-aggregates
      // from each row to the partition end — O(rows²) per partition,
      // measured 2×~1 s single-task stages on 48k spine rows (SQL-tab
      // metrics, round 14) where the two running frames are O(rows)
      // incremental; at 100 TB a quadratic per-partition frame is the
      // difference between a streaming pass and a dead executor.
      val wF = Window.partitionBy($"c_nationkey").orderBy($"day".desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      spine.join(daily, Seq("c_nationkey", "day"), "left")
        // all four window expressions in ONE projection: same-frame
        // pairs fuse into a single WindowExec each (chained
        // withColumns interleave projects and planned a third window
        // pass — PlanShapeSpec guards the fused shape)
        .select($"c_nationkey", $"day", $"__v",
          last($"__v", ignoreNulls = true).over(wB).as("__pv"),
          last(when($"__v".isNotNull, $"day"), ignoreNulls = true)
            .over(wB).as("__pd"),
          last($"__v", ignoreNulls = true).over(wF).as("__nv"),
          last(when($"__v".isNotNull, $"day"), ignoreNulls = true)
            .over(wF).as("__nd"))
        .select($"c_nationkey", $"day", $"__v".isNull.as("interpolated"),
          Fns.roundU(when($"__v".isNotNull, $"__v".cast("double"))
            .when($"__pv".isNull, $"__nv".cast("double"))
            .when($"__nv".isNull, $"__pv".cast("double"))
            .otherwise($"__pv" + ($"__nv" - $"__pv").cast("double")
              * datediff($"day", $"__pd")
              / datediff($"__nd", $"__pd")) / 100.0, 4).as("cents"))
        .orderBy($"c_nationkey", $"day")
    },
    // q208: identical spine, identical ignore-nulls frames, identical
    // interpolant expression
    Some(
      """WITH o AS (
        |  SELECT c_nationkey, CAST(o_orderdate AS DATE) AS day,
        |    o_totalprice
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  WHERE c_nationkey < 10),
        |daily AS (
        |  SELECT c_nationkey, day,
        |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS v
        |  FROM o GROUP BY 1, 2),
        |cal AS (
        |  SELECT unnest(generate_series(
        |    (SELECT min(CAST(o_orderdate AS DATE)) FROM orders),
        |    (SELECT max(CAST(o_orderdate AS DATE)) FROM orders),
        |    INTERVAL 1 DAY))::DATE AS day),
        |spine AS (
        |  SELECT n.c_nationkey, cal.day
        |  FROM (SELECT DISTINCT c_nationkey FROM o) n, cal),
        |j AS (
        |  SELECT s.c_nationkey, s.day, d.v,
        |    last_value(d.v IGNORE NULLS) OVER (
        |      PARTITION BY s.c_nationkey ORDER BY s.day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
        |    last_value(CASE WHEN d.v IS NOT NULL THEN s.day END
        |      IGNORE NULLS) OVER (
        |      PARTITION BY s.c_nationkey ORDER BY s.day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
        |    first_value(d.v IGNORE NULLS) OVER (
        |      PARTITION BY s.c_nationkey ORDER BY s.day
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
        |    first_value(CASE WHEN d.v IS NOT NULL THEN s.day END
        |      IGNORE NULLS) OVER (
        |      PARTITION BY s.c_nationkey ORDER BY s.day
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
        |  FROM spine s LEFT JOIN daily d
        |    ON s.c_nationkey = d.c_nationkey AND s.day = d.day)
        |SELECT c_nationkey, day, v IS NULL AS interpolated,
        |  floor((CASE WHEN v IS NOT NULL THEN CAST(v AS DOUBLE)
        |    WHEN pv IS NULL THEN CAST(nv AS DOUBLE)
        |    WHEN nv IS NULL THEN CAST(pv AS DOUBLE)
        |    ELSE pv + CAST(nv - pv AS DOUBLE)
        |      * date_diff('day', pd, day) / date_diff('day', pd, nd)
        |    END) / 100.0 * 10000 + 0.5) / 10000.0 AS cents
        |FROM j ORDER BY c_nationkey, day""".stripMargin)),

    // CUSUM CHANGE-POINT — where does the daily-revenue level shift?
    // dev_t = S_t − t·μ over the exact-cents prefix sum; the change
    // point is the |dev| argmax. S_t and t come from ONE distributed
    // prefix scan (Packing.prefixSum — never a one-task window over
    // the raw facts), μ is the exact total over exact n, and the
    // before/after means are recovered FROM THE PREFIX VALUES at the
    // argmax (no second pass over the data). The last day is excluded
    // from the argmax on both engines: its deviation is ~0 by
    // construction and its "after" side is empty.
    QueryDef("q218_cusum_changepoint", (s, d) => {
      val daily = Tables.orders(s, d)
        .groupBy(to_date($"o_orderdate").as("day"))
        .agg(sum(floor($"o_totalprice" * 100 + 0.5).cast("long"))
          .as("__c"))
        .withColumn("__g", lit(1)).withColumn("__one", lit(1L))
      val withS = Packing.prefixSum(daily, Seq("__g"), Seq("day"),
        "__c", "__s")
      val withRk = Packing.prefixSum(withS, Seq("__g"), Seq("day"),
        "__one", "__rk")
      val tot = daily.agg(sum($"__c").as("__st"),
        count(lit(1)).as("__n"))
      val dev = withRk.crossJoin(broadcast(tot))
        .withColumn("__dv",
          $"__s" - $"__rk" * ($"__st".cast("double") / $"__n"))
        .filter($"__rk" < $"__n")
      dev.orderBy(abs($"__dv").desc, $"day").limit(1)
        .select($"day".as("cp_day"), $"__n".as("n_days"),
          Fns.roundU(abs($"__dv"), 2).as("max_abs_cusum"),
          Fns.roundU($"__s".cast("double") / $"__rk", 2)
            .as("mean_before_cents"),
          Fns.roundU(($"__st" - $"__s").cast("double") /
            ($"__n" - $"__rk"), 2).as("mean_after_cents"))
    }, Some(
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |    sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS c
        |  FROM orders GROUP BY 1),
        |t AS (
        |  SELECT day, c,
        |    CAST(sum(c) OVER (ORDER BY day) AS BIGINT) AS s,
        |    CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS rk
        |  FROM daily),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS st,
        |  CAST(count(*) AS BIGINT) AS n FROM daily),
        |dev AS (
        |  SELECT day, s, rk, st, n,
        |    s - rk * (CAST(st AS DOUBLE) / n) AS dv
        |  FROM t, tot WHERE rk < n)
        |SELECT day AS cp_day, n AS n_days,
        |  floor(abs(dv) * 100 + 0.5) / 100.0 AS max_abs_cusum,
        |  floor(CAST(s AS DOUBLE) / rk * 100 + 0.5) / 100.0
        |    AS mean_before_cents,
        |  floor(CAST(st - s AS DOUBLE) / (n - rk) * 100 + 0.5) / 100.0
        |    AS mean_after_cents
        |FROM dev ORDER BY abs(dv) DESC, day LIMIT 1""".stripMargin)),

    // ADDITIVE SEASONAL DECOMPOSITION — daily revenue split into
    // trend (centered 7-day moving average over exact cents; edge
    // days without a full window are excluded on both engines),
    // per-weekday seasonal index (mean detrended), and remainder
    // (mean |detr − seasonal|). The moving average windows over the
    // BOUNDED daily aggregate (one row per day, not per fact) — the
    // q117 shape; weekday is Spark's weekday()/DuckDB's isodow()−1
    // (0 = Monday), aligned explicitly because the engines' default
    // dow origins differ.
    QueryDef("q219_seasonal_decomp", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val daily = Tables.orders(s, d)
        .groupBy(to_date($"o_orderdate").as("day"))
        .agg(sum(floor($"o_totalprice" * 100 + 0.5).cast("long"))
          .as("__c"))
      val w = Window.orderBy($"day").rowsBetween(-3, 3)
      // detrending in ×7 INTEGER space: 7·c − Σwindow is an exact
      // long, so the per-dow seasonal mean is an exact-sum / count —
      // order-independent — divided by 7 exactly once at the end (the
      // avg-of-doubles form here was the one order-dependent sum left
      // in the q211+ tail; residual magnitudes made a rounded-cent
      // boundary hit plausible at sf0.1)
      val detr = daily
        .withColumn("__wn", count($"__c").over(w))
        .withColumn("__ws", sum($"__c").over(w))
        .filter($"__wn" === 7)
        .select(weekday($"day").cast("long").as("dow"),
          ($"__c" * 7 - $"__ws").as("__d7"))
      val seas = detr.groupBy($"dow")
        .agg(count(lit(1)).as("n_days"), sum($"__d7").as("__s7"))
      detr.join(broadcast(seas), Seq("dow"))
        .groupBy($"dow", $"n_days", $"__s7")
        .agg(avg(abs($"__d7" - $"__s7".cast("double") / $"n_days"))
          .as("__mar7"))
        .select($"dow", $"n_days",
          Fns.roundU($"__s7".cast("double") / $"n_days" / 7, 2)
            .as("seasonal_cents"),
          Fns.roundU($"__mar7" / 7, 2).as("mean_abs_remainder"))
        .orderBy($"dow")
    }, Some(
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |    sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS c
        |  FROM orders GROUP BY 1),
        |ma AS (
        |  SELECT day, c,
        |    count(c) OVER (ORDER BY day
        |      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS wn,
        |    CAST(sum(c) OVER (ORDER BY day
        |      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS BIGINT)
        |      AS ws
        |  FROM daily),
        |detr AS (
        |  SELECT CAST(isodow(day) - 1 AS BIGINT) AS dow,
        |    CAST(c * 7 - ws AS BIGINT) AS d7
        |  FROM ma WHERE wn = 7),
        |seas AS (
        |  SELECT dow, CAST(count(*) AS BIGINT) AS n_days,
        |    CAST(sum(d7) AS BIGINT) AS s7
        |  FROM detr GROUP BY 1)
        |SELECT d.dow, s.n_days,
        |  floor(CAST(s.s7 AS DOUBLE) / s.n_days / 7 * 100 + 0.5)
        |    / 100.0 AS seasonal_cents,
        |  floor(avg(abs(d.d7 - CAST(s.s7 AS DOUBLE) / s.n_days)) / 7
        |    * 100 + 0.5) / 100.0 AS mean_abs_remainder
        |FROM detr d JOIN seas s ON d.dow = s.dow
        |GROUP BY d.dow, s.n_days, s.s7
        |ORDER BY d.dow""".stripMargin)),

    // KAPLAN-MEIER SURVIVAL — customer-lifetime churn with CENSORING,
    // the estimator naive retention curves get wrong (dropping
    // still-active customers biases survival down). Churn = no order
    // in the final 365 days (event at last order); otherwise censored
    // at observation end. Lifetimes quantize to 30-day months, so the
    // curve is a BOUNDED month-level table (two aggregates out of any
    // order count); at-risk counts come from cumulative event+censor
    // sums, and the survival product Π(1 − d/n) evaluates as
    // exp(Σ ln(·)) over the month order — the one float chain, same
    // spelling both engines (q168 ln-parity precedent).
    QueryDef("q228_kaplan_meier", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val obs = Tables.orders(s, d)
        .agg(max(to_date($"o_orderdate")).as("__e"))
      val cust = Tables.orders(s, d)
        .groupBy($"o_custkey")
        .agg(min(to_date($"o_orderdate")).as("__f"),
          max(to_date($"o_orderdate")).as("__l"))
        .crossJoin(broadcast(obs))
        .select(
          (datediff($"__e", $"__l") > 365).as("__churned"),
          when(datediff($"__e", $"__l") > 365,
            expr("datediff(__l, __f) div 30"))
            .otherwise(expr("datediff(__e, __f) div 30"))
            .cast("long").as("__m"))
      val months = cust.groupBy($"__m")
        .agg(sum($"__churned".cast("long")).as("n_events"),
          sum((!$"__churned").cast("long")).as("__cens"))
      val tot = cust.agg(count(lit(1)).as("__n"))
      val w = Window.orderBy($"__m")
        .rowsBetween(Window.unboundedPreceding, -1)
      val wS = Window.orderBy($"__m")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      months.crossJoin(broadcast(tot))
        .withColumn("n_risk",
          $"__n" - coalesce(sum($"n_events" + $"__cens").over(w),
            lit(0L)))
        .withColumn("__lnterm",
          log(lit(1.0) - $"n_events".cast("double") / $"n_risk"))
        .withColumn("survival", exp(sum($"__lnterm").over(wS)))
        .select($"__m".as("month"), $"n_risk", $"n_events",
          $"__cens".as("n_censored"),
          Fns.roundU($"survival", 6).as("survival"))
        .orderBy($"month")
    }, Some(
      """WITH obs AS (
        |  SELECT CAST(max(o_orderdate) AS DATE) AS e FROM orders),
        |cust AS (
        |  SELECT o_custkey, CAST(min(o_orderdate) AS DATE) AS f,
        |    CAST(max(o_orderdate) AS DATE) AS l
        |  FROM orders GROUP BY 1),
        |lt AS (
        |  SELECT date_diff('day', l, e) > 365 AS churned,
        |    CASE WHEN date_diff('day', l, e) > 365
        |      THEN date_diff('day', f, l) // 30
        |      ELSE date_diff('day', f, e) // 30 END AS m
        |  FROM cust, obs),
        |months AS (
        |  SELECT m,
        |    CAST(sum(CASE WHEN churned THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_events,
        |    CAST(sum(CASE WHEN churned THEN 0 ELSE 1 END) AS BIGINT)
        |      AS cens
        |  FROM lt GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM lt),
        |risk AS (
        |  SELECT m, n_events, cens,
        |    n - coalesce(sum(n_events + cens) OVER (ORDER BY m
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS n_risk
        |  FROM months, tot),
        |surv AS (
        |  SELECT m, n_risk, n_events, cens,
        |    exp(sum(ln(1.0 - CAST(n_events AS DOUBLE) / n_risk))
        |      OVER (ORDER BY m
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |      AS s
        |  FROM risk)
        |SELECT m AS month, CAST(n_risk AS BIGINT) AS n_risk, n_events,
        |  cens AS n_censored,
        |  floor(s * 1000000 + 0.5) / 1000000.0 AS survival
        |FROM surv ORDER BY month""".stripMargin)),

    // FIFO INVENTORY MATCHING — which receipt satisfied which issue,
    // first-in-first-out: the classic "hard in SQL" allocation that
    // naive solutions loop over. The scalable identity: order each
    // part's receipts and issues by time and give every line its
    // CUMULATIVE-quantity interval [cum−q, cum); FIFO matched
    // quantity between a receipt and an issue is EXACTLY the overlap
    // of their intervals (FifoProps proves the identity against a
    // queue simulation). Pair generation is the q227 grid trick on
    // the CUMULATIVE axis: each interval explodes to the ≤2 64-unit
    // buckets it spans (line qty ≤ 50 < 64), the join is equi-keyed
    // on (part, bucket), and the canonical-bucket gate (overlap
    // start's bucket) emits each pair once — a hot part with 100k
    // lines pairs per-bucket neighbors, never R×I. A join on part
    // alone would enumerate R·I pairs per part before the residual;
    // this shape is what survives the hot key. Every quantity is an
    // exact integer.
    QueryDef("q236_fifo_match", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy($"l_partkey")
        .orderBy($"l_shipdate", $"l_orderkey", $"l_linenumber")
      val li = Tables.lineitem(s, d).select($"l_partkey",
        $"l_shipdate", $"l_orderkey", $"l_linenumber",
        $"l_quantity".cast("long").as("__q"),
        ($"l_returnflag" === "R").as("__isR"))
      def side(isR: Boolean, tag: String) = li.filter($"__isR" === isR)
        .withColumn("__hi", sum($"__q").over(w))
        .select($"l_partkey".as(s"${tag}_part"),
          ($"__hi" - $"__q").as(s"${tag}_lo"), $"__hi".as(s"${tag}_hi"))
        .withColumn(s"${tag}_b", explode(expr(
          s"sequence(${tag}_lo div 64, (${tag}_hi - 1) div 64)")))
      val r = side(isR = true, "r")
      val i = side(isR = false, "i")
      val matched = r.join(i, $"r_part" === $"i_part" &&
          $"r_b" === $"i_b" &&
          $"r_lo" < $"i_hi" && $"i_lo" < $"r_hi" &&
          $"r_b" === expr("greatest(r_lo, i_lo) div 64"))
        .select($"r_part".as("l_partkey"),
          (least($"r_hi", $"i_hi") - greatest($"r_lo", $"i_lo"))
            .as("__m"))
        .groupBy($"l_partkey")
        .agg(count(lit(1)).as("n_matches"), sum($"__m").as("matched_qty"))
      val totals = li.groupBy($"l_partkey").agg(
        sum(when($"__isR", $"__q").otherwise(0L)).as("received_qty"),
        sum(when(!$"__isR", $"__q").otherwise(0L)).as("issued_qty"))
      totals.join(matched, Seq("l_partkey"), "left")
        .select($"l_partkey", $"received_qty", $"issued_qty",
          coalesce($"n_matches", lit(0L)).as("n_matches"),
          coalesce($"matched_qty", lit(0L)).as("matched_qty"),
          ($"issued_qty" - coalesce($"matched_qty", lit(0L)))
            .as("unfilled_qty"))
        .orderBy($"matched_qty".desc, $"l_partkey")
        .limit(100)
    }, Some(
      """WITH li AS (
        |  SELECT l_partkey, l_shipdate, l_orderkey, l_linenumber,
        |    CAST(l_quantity AS BIGINT) AS q,
        |    l_returnflag = 'R' AS isr
        |  FROM lineitem),
        |r AS (
        |  SELECT l_partkey AS part,
        |    CAST(sum(q) OVER (PARTITION BY l_partkey
        |      ORDER BY l_shipdate, l_orderkey, l_linenumber) - q
        |      AS BIGINT) AS lo,
        |    CAST(sum(q) OVER (PARTITION BY l_partkey
        |      ORDER BY l_shipdate, l_orderkey, l_linenumber)
        |      AS BIGINT) AS hi
        |  FROM li WHERE isr),
        |i AS (
        |  SELECT l_partkey AS part,
        |    CAST(sum(q) OVER (PARTITION BY l_partkey
        |      ORDER BY l_shipdate, l_orderkey, l_linenumber) - q
        |      AS BIGINT) AS lo,
        |    CAST(sum(q) OVER (PARTITION BY l_partkey
        |      ORDER BY l_shipdate, l_orderkey, l_linenumber)
        |      AS BIGINT) AS hi
        |  FROM li WHERE NOT isr),
        |m AS (
        |  SELECT r.part,
        |    least(r.hi, i.hi) - greatest(r.lo, i.lo) AS mq
        |  FROM r JOIN i ON r.part = i.part
        |    AND r.lo < i.hi AND i.lo < r.hi),
        |mm AS (
        |  SELECT part, CAST(count(*) AS BIGINT) AS n_matches,
        |    CAST(sum(mq) AS BIGINT) AS matched_qty
        |  FROM m GROUP BY 1),
        |t AS (
        |  SELECT l_partkey,
        |    CAST(sum(CASE WHEN isr THEN q ELSE 0 END) AS BIGINT)
        |      AS received_qty,
        |    CAST(sum(CASE WHEN NOT isr THEN q ELSE 0 END) AS BIGINT)
        |      AS issued_qty
        |  FROM li GROUP BY 1)
        |SELECT t.l_partkey, t.received_qty, t.issued_qty,
        |  coalesce(mm.n_matches, 0) AS n_matches,
        |  coalesce(mm.matched_qty, 0) AS matched_qty,
        |  t.issued_qty - coalesce(mm.matched_qty, 0) AS unfilled_qty
        |FROM t LEFT JOIN mm ON t.l_partkey = mm.part
        |ORDER BY matched_qty DESC, l_partkey LIMIT 100""".stripMargin)),

    // SKYLINE / PARETO FRONTIER — parts where nothing is both cheaper
    // AND bigger (minimize price, maximize size): the dominance query
    // whose naive form is an all-pairs NOT EXISTS. The scalable sweep
    // rides the NEW distributed exclusive prefix-max
    // (Packing.prefixMaxExclusive — prefixSum's two-phase scan for
    // the max monoid): a part is on the frontier iff its size equals
    // its PRICE LEVEL's max and strictly exceeds the max size over
    // all strictly-cheaper levels. Equal (price, size) twins both
    // stay (neither strictly dominates) — matching the oracle's
    // NOT EXISTS semantics exactly; all comparisons exact integers.
    QueryDef("q237_skyline", (s, d) => {
      val p = Tables.part(s, d).select($"p_partkey",
        floor($"p_retailprice" * 100 + 0.5).cast("long").as("__pc"),
        $"p_size".cast("long").as("__sz"))
      val levels = p.groupBy($"__pc").agg(max($"__sz").as("__lmax"))
        .withColumn("__g", lit(1))
      val pm = Packing.prefixMaxExclusive(levels, Seq("__g"),
        Seq("__pc"), "__lmax", "__before")
      p.join(pm.select($"__pc", $"__lmax", $"__before"), Seq("__pc"))
        .filter($"__sz" === $"__lmax" && $"__sz" > $"__before")
        .select($"p_partkey",
          Fns.roundU($"__pc".cast("double") / 100, 2).as("price"),
          $"__sz".as("psize"))
        .orderBy($"p_partkey")
    }, Some(
      """WITH p AS (
        |  SELECT p_partkey,
        |    CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS pc,
        |    CAST(p_size AS BIGINT) AS sz
        |  FROM part)
        |SELECT p_partkey,
        |  floor(CAST(pc AS DOUBLE) / 100 * 100 + 0.5) / 100.0
        |    AS price,
        |  sz AS psize
        |FROM p a WHERE NOT EXISTS (
        |  SELECT 1 FROM p b WHERE b.pc <= a.pc AND b.sz >= a.sz
        |    AND (b.pc < a.pc OR b.sz > a.sz))
        |ORDER BY p_partkey""".stripMargin)),

    // V-SHAPE PATTERN SCAN — MATCH_RECOGNIZE-class sequence
    // detection over per-desk daily revenue: a maximal strictly-DOWN
    // run of ≥ 2 moves immediately followed by a maximal strictly-UP
    // run of ≥ 2 moves. Moves classify day-over-day on EXACT integer
    // cents (flat days are their own class so they break both runs);
    // maximal runs come from the gaps-and-islands double
    // row_number; the pattern itself is a self-join of CONSECUTIVE
    // runs (up.start = down.end + 1 in the desk's row sequence) —
    // the regex "D{2,}U{2,}" as one equi-join. V depth = peak cents
    // (the value BEFORE the first down move, carried on each move
    // row by the lag) minus valley cents. Every window partitions by
    // desk — never a one-task window; the run table is ~runs-sized,
    // so the pattern join is tiny.
    QueryDef("q259_vshape_patterns", (s, d) => {
      val daily = Tables.orders(s, d)
        .groupBy(($"o_custkey" % 97).cast("long").as("desk"),
          $"o_orderdate".as("dt"))
        .agg(sum(floor($"o_totalprice" * 100 + 0.5).cast("long"))
          .as("c"))
      val wd = Window.partitionBy($"desk").orderBy($"dt")
      val mv = daily
        .withColumn("__pc", lag($"c", 1).over(wd))
        .filter($"__pc".isNotNull)
        .withColumn("mv", when($"c" > $"__pc", 1)
          .when($"c" < $"__pc", -1).otherwise(0))
        .withColumn("__ra", row_number().over(wd))
        .withColumn("__rm", row_number().over(
          Window.partitionBy($"desk", $"mv").orderBy($"dt")))
      val runs = mv
        .groupBy($"desk", $"mv", ($"__ra" - $"__rm").as("__g"))
        .agg(count(lit(1)).as("len"),
          min($"__ra").as("srn"), max($"__ra").as("ern"),
          min(struct($"__ra", $"__pc")).getField("__pc").as("openv"),
          max(struct($"__ra", $"c")).getField("c").as("closev"))
      val dn = runs.filter($"mv" === -1 && $"len" >= 2)
        .select($"desk", $"ern".as("__de"), $"len".as("__dl"),
          ($"openv" - $"closev").as("__fall"))
      val up = runs.filter($"mv" === 1 && $"len" >= 2)
        .select($"desk".as("__k2"), $"srn".as("__us"),
          $"len".as("__ul"))
      dn.join(up, $"desk" === $"__k2" && $"__us" === $"__de" + 1)
        .groupBy($"desk")
        .agg(count(lit(1)).as("n_v"),
          max($"__fall").as("max_fall_cents"),
          max($"__dl" + $"__ul").as("max_span"))
        .orderBy($"n_v".desc, $"desk")
        .limit(20)
    },
    // q259: the same move classification, double row_number islands,
    // and consecutive-run join; run opens/closes via min_by/max_by
    Some(
      """WITH daily AS (
        |  SELECT CAST(o_custkey % 97 AS BIGINT) AS desk,
        |    o_orderdate AS dt,
        |    sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS c
        |  FROM orders GROUP BY 1, 2),
        |lagged AS (
        |  SELECT desk, dt, c,
        |    lag(c) OVER (PARTITION BY desk ORDER BY dt) AS pc
        |  FROM daily),
        |mv AS (
        |  SELECT desk, dt, c, pc,
        |    CASE WHEN c > pc THEN 1 WHEN c < pc THEN -1 ELSE 0 END
        |      AS m,
        |    row_number() OVER (PARTITION BY desk ORDER BY dt) AS ra
        |  FROM lagged WHERE pc IS NOT NULL),
        |mv2 AS (
        |  SELECT *, ra - row_number() OVER (PARTITION BY desk, m
        |    ORDER BY dt) AS g FROM mv),
        |runs AS (
        |  SELECT desk, m, g, CAST(count(*) AS BIGINT) AS len,
        |    min(ra) AS srn, max(ra) AS ern,
        |    min_by(pc, ra) AS openv, max_by(c, ra) AS closev
        |  FROM mv2 GROUP BY 1, 2, 3),
        |dn AS (SELECT desk, ern, len AS dl, openv - closev AS fall
        |  FROM runs WHERE m = -1 AND len >= 2),
        |up AS (SELECT desk, srn, len AS ul
        |  FROM runs WHERE m = 1 AND len >= 2)
        |SELECT d.desk, CAST(count(*) AS BIGINT) AS n_v,
        |  CAST(max(d.fall) AS BIGINT) AS max_fall_cents,
        |  CAST(max(d.dl + u.ul) AS BIGINT) AS max_span
        |FROM dn d JOIN up u ON d.desk = u.desk AND u.srn = d.ern + 1
        |GROUP BY 1 ORDER BY n_v DESC, d.desk LIMIT 20""".stripMargin)),

    // LOG-LINEAR QUANTILE SKETCH — the MERGEABLE bounded-error
    // sibling of q33/q50's exact rank statistics (the DDSketch/HDR
    // histogram idea): bucket = decade·1000 + leading two digits,
    // with the decade as an integer CASE ladder (q123's libm-free
    // discipline — log10 would put each engine's math library in the
    // hash path). Bucket width ≤ 1/10 of its lower bound ⇒ every
    // reported quantile carries a ≤ 10 % relative-error guarantee;
    // state is ≤ ~90 buckets per decade PER GROUP — constant
    // regardless of row count, so shards/streams/pre-agg tiers merge
    // by summing counts. The oracle replays the identical ladder.
    QueryDef("q260_quantile_sketch", (s, d) => {
      val li = Tables.lineitem(s, d)
        .select($"l_returnflag".as("flag"),
          floor($"l_extendedprice" * 100 + 0.5).cast("long").as("c"))
      val sk = Percentiles.logHistSketch(li, "flag", "c")
      Percentiles.logHistQuantiles(sk, "flag", Seq(50, 90, 99))
        .orderBy($"flag")
    },
    // q260: the identical decade ladder, cumulative window, and
    // ceil-rank pick — DuckDB's // is exact int64 division here
    Some(
      """WITH v AS (
        |  SELECT l_returnflag AS flag,
        |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS c
        |  FROM lineitem),
        |b AS (
        |  SELECT flag,
        |    CASE WHEN c >= 10000000 THEN 8000 + c // 1000000
        |         WHEN c >= 1000000 THEN 7000 + c // 100000
        |         WHEN c >= 100000 THEN 6000 + c // 10000
        |         WHEN c >= 10000 THEN 5000 + c // 1000
        |         WHEN c >= 1000 THEN 4000 + c // 100
        |         WHEN c >= 100 THEN 3000 + c // 10
        |         WHEN c >= 10 THEN 2000 + c
        |         ELSE 1000 + c END AS bk
        |  FROM v),
        |sk AS (SELECT flag, bk, CAST(count(*) AS BIGINT) AS cnt
        |  FROM b GROUP BY 1, 2),
        |cum AS (
        |  SELECT flag, bk, cnt,
        |    CAST(sum(cnt) OVER (PARTITION BY flag ORDER BY bk
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cm,
        |    CAST(sum(cnt) OVER (PARTITION BY flag) AS BIGINT) AS n
        |  FROM sk),
        |low AS (
        |  SELECT *,
        |    CASE bk // 1000 WHEN 8 THEN (bk % 1000) * 1000000
        |      WHEN 7 THEN (bk % 1000) * 100000
        |      WHEN 6 THEN (bk % 1000) * 10000
        |      WHEN 5 THEN (bk % 1000) * 1000
        |      WHEN 4 THEN (bk % 1000) * 100
        |      WHEN 3 THEN (bk % 1000) * 10
        |      ELSE bk % 1000 END AS lo
        |  FROM cum)
        |SELECT flag, max(n) AS n, CAST(count(*) AS BIGINT) AS n_buckets,
        |  min(CASE WHEN cm >= (n * 50 + 99) // 100
        |    AND cm - cnt < (n * 50 + 99) // 100 THEN lo END)
        |    AS p50_cents,
        |  min(CASE WHEN cm >= (n * 90 + 99) // 100
        |    AND cm - cnt < (n * 90 + 99) // 100 THEN lo END)
        |    AS p90_cents,
        |  min(CASE WHEN cm >= (n * 99 + 99) // 100
        |    AND cm - cnt < (n * 99 + 99) // 100 THEN lo END)
        |    AS p99_cents
        |FROM low GROUP BY flag ORDER BY flag""".stripMargin)),

    // FRACTIONAL-KNAPSACK BUDGET ALLOCATION — the greedy-selection
    // operator class at scale: spend 1 % of total catalog cost on the
    // best value-per-cost items (densest first, one fractional item
    // at the cut — optimal for the fractional relaxation). The
    // ENTIRE selection is integer-exact: value density ranks by
    // (v·10⁶ div c) — an int64 rational, never a float ratio — and
    // the "sort + running total + cut" rides the DISTRIBUTED
    // two-phase prefix scan (q76/q198's operator), so one global
    // greedy order costs a range shuffle, not a single-task window.
    // The budget, the cut item, and its awarded ppm fraction are all
    // exact integers; the oracle replays the identical arithmetic
    // with a window scan.
    QueryDef("q262_budget_allocation", (s, d) => {
      val items = Tables.part(s, d)
        .select($"p_partkey".cast("long").as("key"),
          floor($"p_retailprice" * 100 + 0.5).cast("long").as("c"))
        .filter($"c" > 0)
        .withColumn("u", Sampling.consistentHash($"key") % 100L)
        .withColumn("v", $"c" + expr("(c * u) div 100"))
        .withColumn("nr", -expr("(v * 1000000) div c"))
        .withColumn("__g", lit(1))
      val cum = Packing.prefixSum(items, Seq("__g"), Seq("nr", "key"),
        "c", "cumc")
      val bud = items.agg(expr("sum(c) div 100").as("bud"))
      val j = cum.crossJoin(broadcast(bud))
      val full = j.filter($"cumc" <= $"bud")
        .agg(max($"bud").as("budget_cents"),
          count(lit(1)).as("n_full"),
          sum($"v").as("value_full"),
          max($"cumc").as("spent_full"))
      val partial = j.filter($"cumc" > $"bud" && $"cumc" - $"c" < $"bud")
        .select($"key".as("__pk"),
          expr("((bud - (cumc - c)) * 1000000) div c").as("__ppm"),
          expr("(v * (((bud - (cumc - c)) * 1000000) div c))" +
            " div 1000000").as("__pv"))
      full.join(partial, lit(true), "left")
        .select($"budget_cents", $"n_full", $"value_full",
          $"spent_full",
          coalesce($"__pk", lit(0L)).as("partial_key"),
          coalesce($"__ppm", lit(0L)).as("partial_ppm"),
          ($"value_full" + coalesce($"__pv", lit(0L)))
            .as("total_value"))
    },
    // q262: the same integer density rank and running-total cut as a
    // single window scan (fine at oracle scale; the engine side uses
    // the distributed two-phase prefix sum)
    Some(
      """WITH it AS (
        |  SELECT CAST(p_partkey AS BIGINT) AS key,
        |    CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS c
        |  FROM part WHERE floor(p_retailprice * 100 + 0.5) > 0),
        |iv AS (
        |  SELECT key, c,
        |    ((key % 2147483647) * 2654435761 % 4294967296) % 100 AS u
        |  FROM it),
        |vv AS (SELECT key, c, c + (c * u) // 100 AS v FROM iv),
        |rr AS (SELECT *, -((v * 1000000) // c) AS nr FROM vv),
        |cum AS (
        |  SELECT *, CAST(sum(c) OVER (ORDER BY nr, key
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumc FROM rr),
        |b AS (SELECT CAST(sum(c) // 100 AS BIGINT) AS bud FROM rr),
        |f AS (
        |  SELECT max(bud) AS budget_cents,
        |    CAST(count(*) AS BIGINT) AS n_full,
        |    CAST(sum(v) AS BIGINT) AS value_full,
        |    CAST(max(cumc) AS BIGINT) AS spent_full
        |  FROM cum CROSS JOIN b WHERE cumc <= bud),
        |p AS (
        |  SELECT key AS pk,
        |    ((bud - (cumc - c)) * 1000000) // c AS ppm,
        |    (v * (((bud - (cumc - c)) * 1000000) // c)) // 1000000
        |      AS pv
        |  FROM cum CROSS JOIN b WHERE cumc > bud AND cumc - c < bud)
        |SELECT f.budget_cents, f.n_full, f.value_full, f.spent_full,
        |  CAST(coalesce(p.pk, 0) AS BIGINT) AS partial_key,
        |  CAST(coalesce(p.ppm, 0) AS BIGINT) AS partial_ppm,
        |  CAST(f.value_full + coalesce(p.pv, 0) AS BIGINT)
        |    AS total_value
        |FROM f LEFT JOIN p ON TRUE""".stripMargin)),

    // HYPERPARAMETER GRID SCORING — model selection as a data-
    // parallel operator: five blend weights α for the one-step daily
    // revenue forecast ŷ_t = (α·y_{t−7} + (100−α)·y_{t−1}) div 100
    // are scored per order-priority segment on EXACT integer-cent
    // absolute error over the year-2000 eval window, and the winner
    // is the one-aggregate argmin min(struct(loss, α)) — ties to the
    // smaller α inside the struct order. The 5-row grid broadcasts
    // onto the lagged daily series (scan × |grid| map-side rows, one
    // (segment, α) aggregate, |segments| output rows) — the shape a
    // 10 000-configuration sweep needs at 100 TB: params are a
    // dimension, data is scanned once.
    QueryDef("q267_grid_search", (s, d) => {
      val daily = Tables.orders(s, d)
        .groupBy($"o_orderpriority".as("seg"),
          $"o_orderdate".cast("date").as("dt"))
        .agg(sum(floor($"o_totalprice" * 100 + 0.5).cast("long"))
          .as("c"))
      val w = Window.partitionBy($"seg").orderBy($"dt")
      val lagged = daily
        .withColumn("__l1", lag($"c", 1).over(w))
        .withColumn("__l7", lag($"c", 7).over(w))
        .filter($"__l1".isNotNull && $"__l7".isNotNull &&
          $"dt" >= "2000-01-01" && $"dt" < "2001-01-01")
      val grid = { import s.implicits._
        Seq(0L, 25L, 50L, 75L, 100L).toDF("alpha") }
      lagged.crossJoin(broadcast(grid))
        .select($"seg", $"alpha",
          abs($"c" - expr("(alpha * __l7 + (100 - alpha) * __l1)" +
            " div 100")).as("__e"))
        .groupBy($"seg", $"alpha")
        .agg(sum($"__e").as("__loss"), count(lit(1)).as("__n"))
        .groupBy($"seg")
        .agg(min(struct($"__loss", $"alpha")).getField("alpha")
          .as("best_alpha"),
          min(struct($"__loss", $"alpha")).getField("__loss")
            .as("best_loss_cents"),
          max($"__n").as("n_days"))
        .orderBy($"seg")
    },
    // q267: the same lagged blend grid as a window + cross join +
    // rank — argmin tie to the smaller alpha, mirrored
    Some(
      """WITH daily AS (
        |  SELECT o_orderpriority AS seg, CAST(o_orderdate AS DATE)
        |      AS dt,
        |    sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS c
        |  FROM orders GROUP BY 1, 2),
        |lagged AS (
        |  SELECT seg, dt, c,
        |    lag(c, 1) OVER (PARTITION BY seg ORDER BY dt) AS l1,
        |    lag(c, 7) OVER (PARTITION BY seg ORDER BY dt) AS l7
        |  FROM daily),
        |ev AS (SELECT * FROM lagged
        |  WHERE l1 IS NOT NULL AND l7 IS NOT NULL
        |    AND dt >= DATE '2000-01-01' AND dt < DATE '2001-01-01'),
        |g(alpha) AS (VALUES (0), (25), (50), (75), (100)),
        |sc AS (
        |  SELECT seg, alpha,
        |    CAST(sum(abs(c - (alpha * l7 + (100 - alpha) * l1)
        |      // 100)) AS BIGINT) AS loss,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM ev CROSS JOIN g GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (PARTITION BY seg
        |  ORDER BY loss, alpha) AS rn FROM sc)
        |SELECT seg, CAST(alpha AS BIGINT) AS best_alpha,
        |  loss AS best_loss_cents, n AS n_days
        |FROM r WHERE rn = 1 ORDER BY seg""".stripMargin)),

    // SEQUENCE-GAP AUDIT — the missing-invoice-numbers check over the
    // finance extract (status 'F' orders): holes in the observed key
    // sequence, found SHARD-LOCALLY. The scale shape is the point: a
    // global lead() would be the one-task window, so keys bucket by
    // range (k div 10000), adjacency inside a bucket is a PARTITIONED
    // window, and the cross-bucket seams stitch through the
    // bucket-summary table — metadata-sized (one row per non-empty
    // bucket), where a global window is fine. Internal + seam gaps
    // together are EXACTLY global adjacency (the oracle computes the
    // global form — their equality is what the hash certifies).
    QueryDef("q268_sequence_gaps", (s, d) => {
      val k = Tables.orders(s, d).filter($"o_orderstatus" === "F")
        .select($"o_orderkey".as("k")).distinct()
        .withColumn("bkt", expr("k div 10000"))
      val wi = Window.partitionBy($"bkt").orderBy($"k")
      val internal = k.withColumn("nx", lead($"k", 1).over(wi))
        .filter($"nx".isNotNull && $"nx" - $"k" > 1)
        .agg(count(lit(1)).as("__gi"),
          coalesce(sum($"nx" - $"k" - 1), lit(0L)).as("__mi"),
          coalesce(max($"nx" - $"k" - 1), lit(0L)).as("__xi"))
      val summary = k.groupBy($"bkt")
        .agg(min($"k").as("__mn"), max($"k").as("__mx"))
      val ws = Window.orderBy($"bkt") // bucket-count rows: metadata
      val seam = summary
        .withColumn("__nmn", lead($"__mn", 1).over(ws))
        .filter($"__nmn".isNotNull && $"__nmn" - $"__mx" > 1)
        .agg(count(lit(1)).as("__gb"),
          coalesce(sum($"__nmn" - $"__mx" - 1), lit(0L)).as("__mb"),
          coalesce(max($"__nmn" - $"__mx" - 1), lit(0L)).as("__xb"))
      val base = k.agg(count(lit(1)).as("n_present"))
      base.crossJoin(broadcast(internal)).crossJoin(broadcast(seam))
        .select($"n_present",
          ($"__gi" + $"__gb").as("n_gaps"),
          ($"__mi" + $"__mb").as("n_missing"),
          greatest($"__xi", $"__xb").as("max_gap"))
    },
    // q268: the GLOBAL adjacency form — equality with the engine's
    // bucket-local + seam-stitch decomposition is the audited claim
    Some(
      """WITH k AS (
        |  SELECT DISTINCT o_orderkey AS k FROM orders
        |  WHERE o_orderstatus = 'F'),
        |dd AS (SELECT k, lead(k) OVER (ORDER BY k) AS nx FROM k),
        |g AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_gaps,
        |    CAST(coalesce(sum(nx - k - 1), 0) AS BIGINT) AS n_missing,
        |    CAST(coalesce(max(nx - k - 1), 0) AS BIGINT) AS max_gap
        |  FROM dd WHERE nx IS NOT NULL AND nx - k > 1)
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM k) AS n_present,
        |  n_gaps, n_missing, max_gap
        |FROM g""".stripMargin)),

    // ABC-XYZ INVENTORY CLASSIFICATION — the planner's 3×3 matrix:
    // ABC by cumulative revenue share (A ≤ 80 %, B ≤ 95 % — the
    // running total rides the DISTRIBUTED prefix scan in revenue-desc
    // order, and every share test is CROSS-MULTIPLIED integer cents:
    // 5·cum ≤ 4·T, 20·cum ≤ 19·T — no percentage float ever exists),
    // XYZ by demand variability (weekly quantity CV² against 1/4 and
    // 1, again cross-multiplied: 4·w·Σq² < 5·(Σq)² etc., exact in
    // int64 because quantities are small integers). Weeks are
    // calendar-free day div 7 buckets so both engines bucket
    // identically. Output: the 9-cell matrix with part counts and
    // exact revenue mass.
    QueryDef("q277_abc_xyz", (s, d) => {
      val li = Tables.lineitem(s, d)
        .select($"l_partkey".as("pk"),
          floor($"l_extendedprice" * 100 + 0.5).cast("long").as("c"),
          $"l_quantity".cast("long").as("q"),
          expr("datediff(l_shipdate, date'1995-01-01') div 7")
            .as("wk"))
      val wq = li.groupBy($"pk", $"wk").agg(sum($"q").as("wq"))
      val xyz = wq.groupBy($"pk")
        .agg(count(lit(1)).as("w"), sum($"wq").as("sq"),
          sum($"wq" * $"wq").as("sq2"))
        .select($"pk", when(
            lit(4L) * $"w" * $"sq2" < lit(5L) * $"sq" * $"sq", "X")
          .when($"w" * $"sq2" < lit(2L) * $"sq" * $"sq", "Y")
          .otherwise("Z").as("xyz"))
      val rev = li.groupBy($"pk").agg(sum($"c").as("r"))
        .withColumn("__nr", -$"r").withColumn("__g", lit(1))
      val tot = rev.agg(sum($"r").as("__t"))
      val abc = Packing.prefixSum(rev, Seq("__g"), Seq("__nr", "pk"),
          "r", "cum")
        .crossJoin(broadcast(tot))
        .select($"pk", $"r",
          when(lit(5L) * $"cum" <= lit(4L) * $"__t", "A")
            .when(lit(20L) * $"cum" <= lit(19L) * $"__t", "B")
            .otherwise("C").as("abc"))
      abc.join(xyz, Seq("pk"))
        .groupBy($"abc", $"xyz")
        .agg(count(lit(1)).as("n_parts"), sum($"r").as("revenue_cents"))
        .orderBy($"abc", $"xyz")
    },
    // q277: same cross-multiplied class boundaries; the prefix runs
    // as one window at oracle scale
    Some(
      """WITH li AS (
        |  SELECT l_partkey AS pk,
        |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS c,
        |    CAST(l_quantity AS BIGINT) AS q,
        |    date_diff('day', DATE '1995-01-01',
        |      CAST(l_shipdate AS DATE)) // 7 AS wk
        |  FROM lineitem),
        |wq AS (SELECT pk, wk, CAST(sum(q) AS BIGINT) AS wq
        |  FROM li GROUP BY 1, 2),
        |x AS (
        |  SELECT pk, CAST(count(*) AS BIGINT) AS w,
        |    CAST(sum(wq) AS BIGINT) AS sq,
        |    CAST(sum(wq * wq) AS BIGINT) AS sq2
        |  FROM wq GROUP BY 1),
        |xyz AS (
        |  SELECT pk, CASE WHEN 4 * w * sq2 < 5 * sq * sq THEN 'X'
        |    WHEN w * sq2 < 2 * sq * sq THEN 'Y' ELSE 'Z' END AS xyz
        |  FROM x),
        |rev AS (SELECT pk, CAST(sum(c) AS BIGINT) AS r
        |  FROM li GROUP BY 1),
        |t AS (SELECT CAST(sum(r) AS BIGINT) AS tt FROM rev),
        |cm AS (SELECT pk, r, CAST(sum(r) OVER (ORDER BY -r, pk
        |  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM rev),
        |abc AS (
        |  SELECT pk, r, CASE WHEN 5 * cum <= 4 * tt THEN 'A'
        |    WHEN 20 * cum <= 19 * tt THEN 'B' ELSE 'C' END AS abc
        |  FROM cm CROSS JOIN t)
        |SELECT abc, xyz, CAST(count(*) AS BIGINT) AS n_parts,
        |  CAST(sum(r) AS BIGINT) AS revenue_cents
        |FROM abc JOIN xyz USING (pk)
        |GROUP BY 1, 2 ORDER BY abc, xyz""".stripMargin)),

    // BOLLINGER BREAKOUT — 20-day rolling mean ± 2σ on per-flag daily
    // quantity, the band test CROSS-MULTIPLIED to integers so no
    // sqrt/float exists anywhere: x − μ > 2σ over the frame
    // ⟺ (n·x − S)² > 4·(n·Q − S²) with S = Σx, Q = Σx² — every
    // operand an int64 the two engines compute identically. One
    // window pass (rows frame, count-complete days only), breakout
    // days emitted with direction.
    QueryDef("q283_bollinger", (s, d) => {
      val daily = Tables.lineitem(s, d)
        .groupBy($"l_returnflag", to_date($"l_shipdate").as("day"))
        .agg(sum(floor($"l_quantity").cast("long")).as("v"))
      val w = Window.partitionBy($"l_returnflag").orderBy($"day")
        .rowsBetween(-19, 0)
      val dev = lit(20) * $"v" - $"__s"
      val varTerm = lit(4) * (lit(20) * $"__q" - $"__s" * $"__s")
      daily.select($"l_returnflag", $"day", $"v",
          sum($"v").over(w).as("__s"),
          sum($"v" * $"v").over(w).as("__q"),
          count(lit(1)).over(w).as("__n"))
        .filter($"__n" === 20)
        .withColumn("dir",
          when(dev > 0 && dev * dev > varTerm, "up")
            .when(dev < 0 && dev * dev > varTerm, "down"))
        .filter($"dir".isNotNull)
        .select($"l_returnflag", $"day", $"v", $"__s".as("win_sum"),
          $"__q".as("win_sumsq"), $"dir")
        .orderBy($"l_returnflag", $"day")
    },
    // q283: identical frame, identical cross-multiplied band test
    Some(
      """WITH d AS (
        |  SELECT l_returnflag, CAST(l_shipdate AS DATE) AS day,
        |    CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS v
        |  FROM lineitem GROUP BY 1, 2),
        |w AS (
        |  SELECT l_returnflag, day, v,
        |    CAST(sum(v) OVER fr AS BIGINT) AS s,
        |    CAST(sum(v * v) OVER fr AS BIGINT) AS q,
        |    count(*) OVER fr AS n
        |  FROM d WINDOW fr AS (PARTITION BY l_returnflag ORDER BY day
        |    ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)),
        |b AS (
        |  SELECT l_returnflag, day, v, s, q,
        |    20 * v - s AS dev, 4 * (20 * q - s * s) AS vt
        |  FROM w WHERE n = 20)
        |SELECT l_returnflag, day, v, s AS win_sum, q AS win_sumsq,
        |  CASE WHEN dev > 0 THEN 'up' ELSE 'down' END AS dir
        |FROM b WHERE dev * dev > vt AND dev <> 0
        |ORDER BY l_returnflag, day""".stripMargin)),

    // RUNNING DISTINCT — cumulative distinct customers per segment by
    // month, the "total logos to date" curve. COUNT(DISTINCT) over an
    // expanding window is inexpressible/explosive in both engines; the
    // scale form is first-occurrence semantics: distinct collapses to
    // each customer's FIRST month (one hash aggregate over (segment,
    // customer)), then a prefix sum over the ≤84-row month spine per
    // segment — the window runs over month counts, never customer
    // rows.
    QueryDef("q289_running_distinct", (s, d) => {
      val c = Tables.customer(s, d)
        .select($"c_custkey", $"c_mktsegment")
      val fm = Tables.orders(s, d)
        .join(broadcast(c), $"o_custkey" === $"c_custkey")
        .select($"c_mktsegment", $"o_custkey",
          ((year($"o_orderdate") - 1992) * 12 +
            month($"o_orderdate") - 1).cast("long").as("__m"))
        .groupBy($"c_mktsegment", $"o_custkey")
        .agg(min($"__m").as("month_idx"))
      val w = Window.partitionBy($"c_mktsegment").orderBy($"month_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      fm.groupBy($"c_mktsegment", $"month_idx")
        .agg(count(lit(1)).as("n_new"))
        .select($"c_mktsegment", $"month_idx", $"n_new",
          sum($"n_new").over(w).as("cum_distinct"))
        .orderBy($"c_mktsegment", $"month_idx")
    },
    // q289: first-month collapse + prefix sum over the month spine
    Some(
      """WITH fm AS (
        |  SELECT c_mktsegment, o_custkey,
        |    min(CAST((year(o_orderdate) - 1992) * 12
        |      + month(o_orderdate) - 1 AS BIGINT)) AS month_idx
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2),
        |n AS (SELECT c_mktsegment, month_idx,
        |    CAST(count(*) AS BIGINT) AS n_new
        |  FROM fm GROUP BY 1, 2)
        |SELECT c_mktsegment, month_idx, n_new,
        |  CAST(sum(n_new) OVER (PARTITION BY c_mktsegment
        |    ORDER BY month_idx
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS cum_distinct
        |FROM n ORDER BY c_mktsegment, month_idx""".stripMargin)),

    // GRID-DENSITY CLUSTERING — the DBSCAN point taxonomy
    // (core / border / noise) on the grid approximation that scales:
    // one hash aggregate folds N points to ≤1600 cells, and ALL
    // density logic (3×3 neighborhood sums, the core test, core
    // adjacency for border cells) runs on the metadata-sized cell
    // table — the 9× neighbor replication multiplies cells, never
    // points. Core ⟺ 1600·nbhd ≥ 9·N (density ≥ the uniform
    // expectation, cross-multiplied to integers); border = non-core
    // cell with a core cell among its 9 neighbors; the rest is
    // noise. Coordinates are CHAINED Knuth hashes (cy hashes cx's
    // hash, not the key) — two affine-in-key hashes land every point
    // on one line of the grid (u2 − u1 is constant mod 2³²), which
    // collapses the taxonomy to all-core; the chained form breaks
    // the linearity through the mod-p reduction between multiplies.
    QueryDef("q292_dbscan_grid", (s, d) => {
      val u1 = Sampling.consistentHash($"c_custkey")
      val u2 = Sampling.consistentHash(u1 + lit(1000003L))
      val cells = Tables.customer(s, d)
        .select(
          floor(u1.cast("double") / 4294967296.0 * 40.0)
            .cast("long").as("cx"),
          floor(u2.cast("double") / 4294967296.0 * 40.0)
            .cast("long").as("cy"))
        .groupBy($"cx", $"cy").agg(count(lit(1)).as("cnt"))
      val offs = { import s.implicits._
        (for (dx <- -1 to 1; dy <- -1 to 1) yield (dx.toLong, dy.toLong))
          .toDF("dx", "dy") }
      val nbhd = cells.crossJoin(broadcast(offs))
        .groupBy(($"cx" + $"dx").as("cx"), ($"cy" + $"dy").as("cy"))
        .agg(sum($"cnt").as("nbhd"))
      val nPts = cells.agg(sum($"cnt").as("__n"))
      val tab = cells.join(nbhd, Seq("cx", "cy"))
        .crossJoin(broadcast(nPts))
        .withColumn("__core", $"nbhd" * 1600 >= $"__n" * 9)
      val coreCells = tab.filter($"__core").select($"cx", $"cy")
      val borderCells = tab.filter(!$"__core")
        .crossJoin(broadcast(offs))
        .select(($"cx" + $"dx").as("cx"), ($"cy" + $"dy").as("cy"),
          $"cx".as("__ox"), $"cy".as("__oy"))
        .join(coreCells, Seq("cx", "cy"), "left_semi")
        .select($"__ox".as("cx"), $"__oy".as("cy")).distinct()
      tab.join(borderCells.withColumn("__b", lit(true)),
          Seq("cx", "cy"), "left")
        .select($"cnt",
          when($"__core", "core").when($"__b", "border")
            .otherwise("noise").as("cls"))
        .groupBy($"cls")
        .agg(count(lit(1)).as("n_cells"), sum($"cnt").as("n_points"))
        .orderBy($"cls")
    },
    // q292: same chained Knuth-hash cells, same cross-multiplied core
    // test, border via core adjacency
    Some(
      """WITH h AS (
        |  SELECT (c_custkey % 2147483647) * 2654435761 % 4294967296
        |    AS u1 FROM customer),
        |pts AS (
        |  SELECT
        |    CAST(floor(u1 / 4294967296.0 * 40.0) AS BIGINT) AS cx,
        |    CAST(floor(((u1 + 1000003) % 2147483647) * 2654435761
        |      % 4294967296 / 4294967296.0 * 40.0) AS BIGINT) AS cy
        |  FROM h),
        |cells AS (SELECT cx, cy, CAST(count(*) AS BIGINT) AS cnt
        |  FROM pts GROUP BY 1, 2),
        |nbhd AS (
        |  SELECT c.cx + o1.dx AS cx, c.cy + o2.dy AS cy,
        |    CAST(sum(cnt) AS BIGINT) AS nbhd
        |  FROM cells c, range(-1, 2) o1(dx), range(-1, 2) o2(dy)
        |  GROUP BY 1, 2),
        |n AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM cells),
        |tab AS (
        |  SELECT cells.cx, cells.cy, cells.cnt, nbhd.nbhd,
        |    nbhd.nbhd * 1600 >= n.n * 9 AS core
        |  FROM cells JOIN nbhd USING (cx, cy) CROSS JOIN n),
        |cc AS (SELECT cx, cy FROM tab WHERE core),
        |bd AS (
        |  SELECT DISTINCT t.cx, t.cy
        |  FROM tab t, range(-1, 2) o1(dx), range(-1, 2) o2(dy)
        |  JOIN cc ON cc.cx = t.cx + o1.dx AND cc.cy = t.cy + o2.dy
        |  WHERE NOT t.core)
        |SELECT CASE WHEN t.core THEN 'core'
        |    WHEN bd.cx IS NOT NULL THEN 'border'
        |    ELSE 'noise' END AS cls,
        |  CAST(count(*) AS BIGINT) AS n_cells,
        |  CAST(sum(t.cnt) AS BIGINT) AS n_points
        |FROM tab t LEFT JOIN bd ON t.cx = bd.cx AND t.cy = bd.cy
        |GROUP BY 1 ORDER BY cls""".stripMargin)),

    // INTERVAL MERGE — gaps-and-islands on real intervals (each
    // line's [order, ship] fulfillment window per supplier): islands
    // form where an interval's start exceeds the running max end of
    // everything before it in (start, end DESC) order — the end-DESC
    // tiebreak matters for determinism: with equal starts, end-ASC
    // first would let the short interval's end under-seed the prefix
    // max and the tie ORDER would decide island starts. Coverage
    // (busy days), idle days and the overlap ratio are the
    // utilization numbers interval UNION answers and q125's
    // concurrency histogram cannot. One partitioned window pass +
    // two hash aggregates; ratios are floored ppm integers.
    QueryDef("q294_interval_merge", (s, d) => {
      val iv = Tables.lineitem(s, d)
        .join(Tables.orders(s, d), $"l_orderkey" === $"o_orderkey")
        .select($"l_suppkey",
          datediff($"o_orderdate", lit("1992-01-01").cast("date"))
            .cast("long").as("d1"),
          datediff($"l_shipdate", lit("1992-01-01").cast("date"))
            .cast("long").as("d2"))
        .filter($"d2" >= $"d1")
      val ord = Window.partitionBy($"l_suppkey")
        .orderBy($"d1", $"d2".desc)
      val flagged = iv
        .withColumn("__pm", max($"d2").over(
          ord.rowsBetween(Window.unboundedPreceding, -1)))
        .withColumn("__st",
          when($"__pm".isNull || $"d1" > $"__pm", 1L).otherwise(0L))
        .withColumn("__isl", sum($"__st").over(
          ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val islands = flagged.groupBy($"l_suppkey", $"__isl")
        .agg(min($"d1").as("__s"), max($"d2").as("__e"),
          count(lit(1)).as("__n"),
          sum($"d2" - $"d1" + 1).as("__ivdays"))
      islands.groupBy($"l_suppkey")
        .agg(count(lit(1)).as("n_islands"),
          sum($"__e" - $"__s" + 1).as("coverage_days"),
          max($"__e" - $"__s" + 1).as("max_island_days"),
          sum($"__ivdays").as("__tot"))
        .select($"l_suppkey".as("supplier"), $"n_islands",
          $"coverage_days", $"max_island_days",
          expr("((__tot - coverage_days) * 1000000) div __tot")
            .as("overlap_ppm"))
        .orderBy($"coverage_days".desc, $"supplier")
        .limit(20)
    },
    // q294: identical (d1, d2 DESC) order, identical prefix-max
    // island derivation
    Some(
      """WITH iv AS (
        |  SELECT l_suppkey,
        |    CAST(datediff('day', DATE '1992-01-01',
        |      CAST(o_orderdate AS DATE)) AS BIGINT) AS d1,
        |    CAST(datediff('day', DATE '1992-01-01',
        |      CAST(l_shipdate AS DATE)) AS BIGINT) AS d2
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE CAST(l_shipdate AS DATE)
        |    >= CAST(o_orderdate AS DATE)),
        |f AS (
        |  SELECT l_suppkey, d1, d2,
        |    max(d2) OVER (PARTITION BY l_suppkey ORDER BY d1, d2 DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS pm
        |  FROM iv),
        |g AS (
        |  SELECT l_suppkey, d1, d2,
        |    CASE WHEN pm IS NULL OR d1 > pm THEN 1 ELSE 0 END AS st
        |  FROM f),
        |h AS (
        |  SELECT l_suppkey, d1, d2,
        |    sum(st) OVER (PARTITION BY l_suppkey ORDER BY d1, d2 DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS isl
        |  FROM g),
        |islands AS (
        |  SELECT l_suppkey, isl, min(d1) AS s, max(d2) AS e,
        |    CAST(sum(d2 - d1 + 1) AS BIGINT) AS ivdays
        |  FROM h GROUP BY 1, 2),
        |agg AS (
        |  SELECT l_suppkey AS supplier,
        |    CAST(count(*) AS BIGINT) AS n_islands,
        |    CAST(sum(e - s + 1) AS BIGINT) AS coverage_days,
        |    CAST(max(e - s + 1) AS BIGINT) AS max_island_days,
        |    CAST(sum(ivdays) AS BIGINT) AS tot
        |  FROM islands GROUP BY 1)
        |SELECT supplier, n_islands, coverage_days, max_island_days,
        |  CAST(((tot - coverage_days) * 1000000) // tot AS BIGINT)
        |    AS overlap_ppm
        |FROM agg ORDER BY coverage_days DESC, supplier
        |LIMIT 20""".stripMargin)),

    // RANGE-INTERVAL FRAME — the window semantics ROWS frames get
    // WRONG on sparse time series: RANGE BETWEEN 29 PRECEDING uses
    // VALUE distance, so calendar gaps shrink the trailing window
    // instead of silently reaching further back in time (a ROWS
    // BETWEEN 29 PRECEDING over gappy days spans >30 calendar days).
    // Peak trailing-30-day revenue per nation, exact cents, the
    // (value, day) argmax via one max(struct) — ties resolved on the
    // later day identically on both engines.
    QueryDef("q297_range_frame", (s, d) => {
      val daily = Tables.orders(s, d)
        .join(broadcast(Tables.customer(s, d)
          .select($"c_custkey", $"c_nationkey")),
          $"o_custkey" === $"c_custkey")
        .groupBy($"c_nationkey",
          datediff($"o_orderdate", lit("1992-01-01").cast("date"))
            .cast("long").as("__day"))
        .agg(sum(floor($"o_totalprice" * 100 + 0.5).cast("long"))
          .as("__c"))
      val w = Window.partitionBy($"c_nationkey").orderBy($"__day")
        .rangeBetween(-29, 0)
      daily.select($"c_nationkey", $"__day",
          sum($"__c").over(w).as("__t30"))
        .groupBy($"c_nationkey")
        .agg(count(lit(1)).as("n_days"),
          max(struct($"__t30", $"__day")).as("__m"))
        .select($"c_nationkey", $"n_days",
          $"__m.__t30".as("peak_30d_cents"),
          $"__m.__day".as("peak_day"))
        .orderBy($"c_nationkey")
    },
    // q297: identical RANGE value-frame, identical (t30, day) argmax
    Some(
      """WITH daily AS (
        |  SELECT c.c_nationkey,
        |    CAST(datediff('day', DATE '1992-01-01',
        |      CAST(o_orderdate AS DATE)) AS BIGINT) AS day,
        |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS c
        |  FROM orders JOIN customer c ON o_custkey = c_custkey
        |  GROUP BY 1, 2),
        |w AS (
        |  SELECT c_nationkey, day,
        |    CAST(sum(c) OVER (PARTITION BY c_nationkey ORDER BY day
        |      RANGE BETWEEN 29 PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS t30
        |  FROM daily),
        |r AS (
        |  SELECT c_nationkey, day, t30, row_number() OVER (
        |    PARTITION BY c_nationkey ORDER BY t30 DESC, day DESC)
        |    AS rn,
        |    count(*) OVER (PARTITION BY c_nationkey) AS n
        |  FROM w)
        |SELECT c_nationkey, CAST(n AS BIGINT) AS n_days,
        |  t30 AS peak_30d_cents, day AS peak_day
        |FROM r WHERE rn = 1 ORDER BY c_nationkey""".stripMargin)),

    // RANK WITH TIES — the top-N-per-group cut where VALUE ties must
    // all surface (rank() ≤ 3, not row_number ≤ 3): top revenue
    // brands per segment on exact cents. The tie semantics make the
    // output a deterministic function of the DATA — no tiebreak
    // column needed for hash stability, which is exactly when
    // rank() is the right cut and row_number would silently drop
    // tied peers. Window runs over the bounded (segment, brand)
    // aggregate, never the fact.
    QueryDef("q301_rank_ties", (s, d) => {
      val rev = Tables.lineitem(s, d)
        .join(Tables.orders(s, d), $"l_orderkey" === $"o_orderkey")
        .join(broadcast(Tables.customer(s, d)
          .select($"c_custkey", $"c_mktsegment")),
          $"o_custkey" === $"c_custkey")
        .join(broadcast(Tables.part(s, d)
          .select($"p_partkey", $"p_brand")),
          $"l_partkey" === $"p_partkey")
        .groupBy($"c_mktsegment", $"p_brand")
        .agg(sum(floor($"l_extendedprice" * 100 + 0.5).cast("long"))
          .as("revenue_cents"))
      val w = Window.partitionBy($"c_mktsegment")
        .orderBy($"revenue_cents".desc)
      rev.withColumn("rk", rank().over(w).cast("long"))
        .filter($"rk" <= 3)
        .orderBy($"c_mktsegment", $"rk", $"p_brand")
    },
    // q301: the same rank() value-tie cut
    Some(
      """WITH rev AS (
        |  SELECT c.c_mktsegment, p.p_brand,
        |    CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5)
        |      AS BIGINT)) AS BIGINT) AS revenue_cents
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer c ON o_custkey = c_custkey
        |  JOIN part p ON l_partkey = p_partkey
        |  GROUP BY 1, 2),
        |r AS (
        |  SELECT c_mktsegment, p_brand, revenue_cents,
        |    CAST(rank() OVER (PARTITION BY c_mktsegment
        |      ORDER BY revenue_cents DESC) AS BIGINT) AS rk
        |  FROM rev)
        |SELECT c_mktsegment, p_brand, revenue_cents, rk
        |FROM r WHERE rk <= 3
        |ORDER BY c_mktsegment, rk, p_brand""".stripMargin)),

    // DESEASONALIZATION — ratio-to-moving-average, the classical
    // decomposition a seasonality-aware forecast starts from:
    // monthly revenue over a centered 12-month MA, the ratio as a
    // floored ppm integer, the month-of-year seasonal index as the
    // integer mean of those ratios, and the deseasonalized series as
    // rev·10⁶ div index — every division floored on non-negative
    // operands so both engines agree bit-for-bit. All windows run on
    // the ≤84-row monthly spine (metadata-sized by construction).
    QueryDef("q302_deseasonalize", (s, d) => {
      val monthly = Tables.orders(s, d)
        .groupBy(((year($"o_orderdate") - 1992) * 12 +
          month($"o_orderdate") - 1).cast("long").as("m"))
        .agg(sum(floor($"o_totalprice" * 100 + 0.5).cast("long"))
          .as("rev"))
      val w = Window.orderBy($"m").rowsBetween(-6, 5)
      val ma = monthly
        .withColumn("__n", count(lit(1)).over(w))
        .withColumn("__s", sum($"rev").over(w))
        .filter($"__n" === 12)
        .withColumn("ma", expr("__s div 12"))
        .withColumn("ratio_ppm", expr("(rev * 1000000) div ma"))
      val idx = ma.groupBy(($"m" % 12).as("moy"))
        .agg(expr("sum(ratio_ppm) div count(*)").as("seas_idx_ppm"))
      ma.join(broadcast(idx), ($"m" % 12) === $"moy")
        .select($"m", $"rev".as("revenue_cents"), $"ma".as("ma_cents"),
          $"ratio_ppm", $"seas_idx_ppm",
          expr("(rev * 1000000) div seas_idx_ppm")
            .as("deseason_cents"))
        .orderBy($"m")
    },
    // q302: identical centered MA frame, identical floored ppm chain
    Some(
      """WITH monthly AS (
        |  SELECT CAST((year(o_orderdate) - 1992) * 12
        |      + month(o_orderdate) - 1 AS BIGINT) AS m,
        |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS rev
        |  FROM orders GROUP BY 1),
        |w AS (
        |  SELECT m, rev,
        |    count(*) OVER fr AS n,
        |    CAST(sum(rev) OVER fr AS BIGINT) AS s
        |  FROM monthly WINDOW fr AS (ORDER BY m
        |    ROWS BETWEEN 6 PRECEDING AND 5 FOLLOWING)),
        |ma AS (
        |  SELECT m, rev, s // 12 AS ma,
        |    (rev * 1000000) // (s // 12) AS ratio_ppm
        |  FROM w WHERE n = 12),
        |idx AS (
        |  SELECT m % 12 AS moy,
        |    CAST(sum(ratio_ppm) // count(*) AS BIGINT)
        |      AS seas_idx_ppm
        |  FROM ma GROUP BY 1)
        |SELECT m, rev AS revenue_cents, CAST(ma AS BIGINT)
        |    AS ma_cents,
        |  CAST(ratio_ppm AS BIGINT) AS ratio_ppm, seas_idx_ppm,
        |  CAST((rev * 1000000) // seas_idx_ppm AS BIGINT)
        |    AS deseason_cents
        |FROM ma JOIN idx ON m % 12 = moy
        |ORDER BY m""".stripMargin))
  )

  /** Urgent-order score/label pair shared by the model-eval suite
    * (q145 gains, q162 PR curve, q164 AUC): one row per customer with
    * the acctbal score and __y = placed a 1-URGENT order. */
  private def urgentScored(s: SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    val pos = Tables.orders(s, d)
      .filter($"o_orderpriority" === "1-URGENT")
      .select($"o_custkey").distinct()
    Tables.customer(s, d)
      .join(pos.withColumnRenamed("o_custkey", "__pk"),
        $"c_custkey" === $"__pk", "left")
      .select($"c_acctbal", $"__pk".isNotNull.cast("long").as("__y"))
  }

  /** The 9 exact decile bounds of valCol as ONE sorted-array row
    * (q50's rank = ceil(q·n) convention) — broadcast it and assign
    * with [[decileOf]]; ties at a boundary fall to the lower bucket
    * (strict >) on both engines. Shared by q145/q153/q162. */
  private def decileBounds(df: org.apache.spark.sql.DataFrame,
      valCol: String): org.apache.spark.sql.DataFrame =
    Percentiles.exactQuantiles(df.withColumn("__g", lit(1)), "__g",
        valCol, (1 to 9).map(_ / 10.0))
      .agg(sort_array(collect_list($"value")).as("__bs"))

  /** Decile 1 = top values: 10 − (#bounds strictly below x). Long so
    * the emitted column type matches the oracle's BIGINT exactly. */
  private def decileOf(x: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    (lit(10) - aggregate($"__bs", lit(0),
      (acc, b) => acc + when(x > b, 1).otherwise(0))).cast("long")
}
