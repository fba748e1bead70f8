package graft
package catalog

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators._
import graft.SparkEntry.scoped

/** Relational core: scans, filters, joins, aggregates, grouping sets,
  * pivots, subqueries and decision-support shapes over the star schema,
  * plus the data-quality and incremental-maintenance queries that need
  * nothing beyond them. The fallback module: a query lands here when its
  * build calls none of the other modules' operator families. */
object RelationalQueries {

  def defs: Seq[QueryDef] = Seq(
    // O24/O27-family: hash aggregate with partial (map-side) combine.
    QueryDef("q01_pricing_summary", (s, d) => {
      Tables.lineitem(s, d)
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(
          Fns.roundU(sum($"l_quantity"), 2).as("sum_qty"),
          Fns.roundU(sum($"l_extendedprice"), 2).as("sum_base_price"),
          Fns.roundU(sum($"l_extendedprice" * (lit(1) - $"l_discount")), 2)
            .as("sum_disc_price"),
          Fns.roundU(avg($"l_quantity"), 2).as("avg_qty"),
          Fns.roundU(avg($"l_discount"), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy($"l_returnflag", $"l_linestatus")
    }, Some(
      """SELECT l_returnflag, l_linestatus,
        |  floor((sum(l_quantity)) * 100 + 0.5) / 100.0 AS sum_qty,
        |  floor((sum(l_extendedprice)) * 100 + 0.5) / 100.0 AS sum_base_price,
        |  floor((sum(l_extendedprice * (1 - l_discount))) * 100 + 0.5) / 100.0 AS sum_disc_price,
        |  floor((avg(l_quantity)) * 100 + 0.5) / 100.0 AS avg_qty,
        |  floor((avg(l_discount)) * 10000 + 0.5) / 10000.0 AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // Predicate + projection pushed to the parquet scan (PushedFilters).
    QueryDef("q02_filter_pushdown", (s, d) => {
      Tables.lineitem(s, d)
        .filter($"l_shipdate" >= lit("1995-01-01").cast("timestamp") &&
          $"l_shipdate" < lit("1996-01-01").cast("timestamp") &&
          $"l_discount" >= 0.05 && $"l_discount" <= 0.07 &&
          $"l_quantity" < 24)
        .select($"l_orderkey", $"l_linenumber", $"l_quantity",
          Fns.roundU($"l_extendedprice" * $"l_discount", 4).as("revenue"))
        .orderBy($"l_orderkey", $"l_linenumber")
    }, Some(
      """SELECT l_orderkey, l_linenumber, l_quantity,
        |  floor((l_extendedprice * l_discount) * 10000 + 0.5) / 10000.0 AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01'
        |  AND l_shipdate < TIMESTAMP '1996-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
        |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // 3-way join: broadcast customer/orders dims into the lineitem fact.
    QueryDef("q03_join_agg", (s, d) => {
      val li = Tables.lineitem(s, d)
      val o = Tables.orders(s, d)
      val c = Tables.customer(s, d)
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy($"c_mktsegment")
        .agg(
          Fns.roundU(sum($"l_extendedprice" * (lit(1) - $"l_discount")), 2)
            .as("revenue"),
          count(lit(1)).as("n_lines"))
        .orderBy($"c_mktsegment")
    }, Some(
      """SELECT c_mktsegment,
        |  floor((sum(l_extendedprice * (1 - l_discount))) * 100 + 0.5) / 100.0 AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    // O20: broadcast LEFT SEMI join (EXISTS).
    QueryDef("q04_semi_join", (s, d) => {
      val o = Tables.orders(s, d)
      val bigDisc = Tables.lineitem(s, d).filter($"l_discount" > lit(0.08))
      Joins.semiFilter(o, "o_orderkey", bigDisc, "l_orderkey")
        .groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
          Fns.roundU(sum($"o_totalprice"), 2).as("sum_price"))
        .orderBy($"o_orderpriority")
    }, Some(
      """SELECT o_orderpriority, count(*) AS n_orders,
        |  floor((sum(o_totalprice)) * 100 + 0.5) / 100.0 AS sum_price
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |  WHERE l_orderkey = o_orderkey AND l_discount > 0.08)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // LEFT ANTI join (NOT EXISTS).
    QueryDef("q05_anti_join", (s, d) => {
      val c = Tables.customer(s, d)
      val jumbo = Tables.orders(s, d).filter($"o_totalprice" > 450000)
      Joins.antiFilter(c, "c_custkey", jumbo, "o_custkey")
        .select($"c_custkey", $"c_name", $"c_mktsegment")
        .orderBy($"c_custkey")
    }, Some(
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 450000)
        |ORDER BY c_custkey""".stripMargin)),

    // Distinct aggregation (exact). Approx variant is a separate
    // rows-only query (HLL implementations differ across engines).
    QueryDef("q09_distinct_agg", (s, d) => {
      Tables.lineitem(s, d)
        .groupBy($"l_returnflag")
        .agg(countDistinct($"l_partkey").as("n_parts"),
          countDistinct($"l_suppkey").as("n_supps"),
          count(lit(1)).as("n_rows"))
        .orderBy($"l_returnflag")
    }, Some(
      """SELECT l_returnflag,
        |  count(DISTINCT l_partkey) AS n_parts,
        |  count(DISTINCT l_suppkey) AS n_supps,
        |  count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // Grouping sets / ROLLUP with explicit null-first ordering.
    QueryDef("q10_rollup", (s, d) => {
      Tables.lineitem(s, d)
        .rollup($"l_returnflag", $"l_linestatus")
        .agg(Fns.roundU(sum($"l_quantity"), 2).as("sum_qty"),
          count(lit(1)).as("n_rows"))
        .orderBy($"l_returnflag".asc_nulls_first, $"l_linestatus".asc_nulls_first)
    }, Some(
      """SELECT l_returnflag, l_linestatus,
        |  floor((sum(l_quantity)) * 100 + 0.5) / 100.0 AS sum_qty, count(*) AS n_rows
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST,
        |  l_linestatus ASC NULLS FIRST""".stripMargin)),

    // Global sort + limit (top-k). TakeOrderedAndProject, not a full sort.
    QueryDef("q11_sort_limit", (s, d) => {
      Tables.lineitem(s, d)
        .orderBy($"l_extendedprice".desc, $"l_orderkey".asc,
          $"l_linenumber".asc)
        .select($"l_orderkey", $"l_linenumber", $"l_extendedprice")
        .limit(10)
    }, Some(
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC
        |LIMIT 10""".stripMargin)),

    // Date/time scalar functions (O28/O34 family).
    QueryDef("q15_dates", (s, d) => {
      Tables.orders(s, d)
        .groupBy(year($"o_orderdate").as("yr"),
          month($"o_orderdate").as("mo"),
          date_format($"o_orderdate", "yyyy-MM").as("month_str"))
        .agg(count(lit(1)).as("n_orders"),
          Fns.roundU(sum($"o_totalprice"), 2).as("sum_price"))
        .orderBy($"yr", $"mo")
    }, Some(
      """SELECT CAST(year(o_orderdate) AS INT) AS yr,
        |  CAST(month(o_orderdate) AS INT) AS mo,
        |  strftime(o_orderdate, '%Y-%m') AS month_str,
        |  count(*) AS n_orders, floor((sum(o_totalprice)) * 100 + 0.5) / 100.0 AS sum_price
        |FROM orders GROUP BY 1, 2, 3 ORDER BY yr, mo""".stripMargin)),

    // Range join with an equi-key prefilter: lineitems shipped within 30
    // days of their order's date (hash join + residual range predicate).
    QueryDef("q19_range_join", (s, d) => {
      val li = Tables.lineitem(s, d)
      val o = Tables.orders(s, d)
      Joins.rangeJoin(li, o, li("l_orderkey") === o("o_orderkey"),
          li("l_shipdate"), o("o_orderdate"),
          o("o_orderdate") + expr("INTERVAL 30 DAYS"))
        .groupBy(year($"o_orderdate").as("yr"))
        .agg(count(lit(1)).as("n_fast_lines"),
          Fns.roundU(sum($"l_extendedprice"), 2).as("sum_price"))
        .orderBy($"yr")
    }, Some(
      """SELECT CAST(year(o_orderdate) AS INT) AS yr,
        |  count(*) AS n_fast_lines,
        |  floor((sum(l_extendedprice)) * 100 + 0.5) / 100.0 AS sum_price
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  AND l_shipdate >= o_orderdate
        |  AND l_shipdate <= o_orderdate + INTERVAL 30 DAY
        |GROUP BY 1 ORDER BY yr""".stripMargin)),

    // O37/O38: guarded derived scalars (div-by-zero defaulting, casts).
    QueryDef("q21_scalars", (s, d) => {
      Tables.lineitem(s, d)
        .filter($"l_orderkey" % 997 === 0)
        .select($"l_orderkey", $"l_linenumber",
          Fns.roundU($"l_extendedprice" * (lit(1) - $"l_discount") *
            (lit(1) + $"l_tax"), 2).as("charge"),
          when($"l_discount" > 0, Fns.roundU($"l_tax" / $"l_discount", 4))
            .otherwise(0.0).as("tax_ratio"),
          $"l_quantity".cast("int").as("qty_int"))
        .orderBy($"l_orderkey", $"l_linenumber")
    }, Some(
      """SELECT l_orderkey, l_linenumber,
        |  floor((l_extendedprice * (1 - l_discount) * (1 + l_tax)) * 100 + 0.5) / 100.0
        |    AS charge,
        |  CASE WHEN l_discount > 0 THEN floor((l_tax / l_discount) * 10000 + 0.5) / 10000.0
        |       ELSE 0.0 END AS tax_ratio,
        |  CAST(l_quantity AS INT) AS qty_int
        |FROM lineitem WHERE l_orderkey % 997 = 0
        |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // Approximate distinct (HLL) — rows-only: sketch implementations are
    // engine-specific. Paired with q09's exact counts for calibration.
    // Approx distinct WITH an oracle: the HLL++ estimate itself is
    // engine-specific (no SQL oracle can reproduce Spark's hash), but
    // its ERROR BOUND is the portable contract — so the query emits the
    // exact counts plus a deterministic within-10% check of the
    // estimate, and DuckDB oracles exact counts + literal TRUE. A
    // drifting HLL implementation fails the hash compare loudly.
    QueryDef("q31_approx_distinct", (s, d) => {
      // exact distincts as SEPARATE two-stage branches joined on the
      // group key, not one multi-distinct aggregate: Spark plans two
      // countDistincts in one agg via EXPAND (every row ×3 through the
      // shuffle); per-branch, each shuffle carries only that column's
      // distinct (flag, value) pairs — the q81 pruned-scan trade, per
      // aggregate. The HLL sketches ride the cheap single-pass branch.
      val li = Tables.lineitem(s, d)
      // isNotNull BEFORE the distinct: distinct() keeps a NULL as a
      // value, but count(DISTINCT c) — the semantics being replaced,
      // and the oracle's — excludes it
      def exactDistinct(c: String, as: String) =
        li.select($"l_returnflag", col(c)).filter(col(c).isNotNull)
          .distinct()
          .groupBy($"l_returnflag").agg(count(lit(1)).as(as))
      val approx = li.groupBy($"l_returnflag")
        .agg(approx_count_distinct($"l_partkey").as("__ap"),
          approx_count_distinct($"l_orderkey").as("__ao"))
      // LEFT-join the exact branches ONTO the approx branch: approx
      // covers every group, while exactDistinct drops a group whose
      // values are all NULL (its isNotNull filter empties it) — an
      // inner join would drop that group entirely where count(DISTINCT)
      // reports 0. Null-safe key compare so a NULL returnflag group
      // still lines up. coalesce(...,0) restores the 0 counts.
      val ep = exactDistinct("l_partkey", "n_parts")
        .withColumnRenamed("l_returnflag", "__rfp")
      val eo = exactDistinct("l_orderkey", "n_orders")
        .withColumnRenamed("l_returnflag", "__rfo")
      approx
        .join(ep, $"l_returnflag" <=> $"__rfp", "left")
        .join(eo, $"l_returnflag" <=> $"__rfo", "left")
        .select($"l_returnflag",
          coalesce($"n_parts", lit(0L)).as("n_parts"),
          coalesce($"n_orders", lit(0L)).as("n_orders"),
          (abs($"__ap" - coalesce($"n_parts", lit(0L)))
            <= coalesce($"n_parts", lit(0L)) * 0.1)
            .as("approx_parts_ok"),
          (abs($"__ao" - coalesce($"n_orders", lit(0L)))
            <= coalesce($"n_orders", lit(0L)) * 0.1)
            .as("approx_orders_ok"))
        .orderBy($"l_returnflag")
    }, Some(
      """SELECT l_returnflag,
        |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
        |  CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
        |  TRUE AS approx_parts_ok, TRUE AS approx_orders_ok
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin)),

    // CUBE grouping sets (all 4 combinations).
    QueryDef("q32_cube", (s, d) => {
      Tables.orders(s, d)
        .cube($"o_orderstatus", $"o_orderpriority")
        .agg(count(lit(1)).as("n"),
          Fns.roundU(sum($"o_totalprice"), 2).as("sum_price"))
        .orderBy($"o_orderstatus".asc_nulls_first,
          $"o_orderpriority".asc_nulls_first)
    }, Some(
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |  floor((sum(o_totalprice)) * 100 + 0.5) / 100.0 AS sum_price
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus ASC NULLS FIRST,
        |  o_orderpriority ASC NULLS FIRST""".stripMargin)),

    // Explicit GROUPING SETS (neither rollup nor cube): totals by status
    // and, separately, by priority — one pass.
    QueryDef("q45_grouping_sets", (s, d) => {
      val o = Tables.orders(s, d)
      o.groupingSets(
          Seq(Seq($"o_orderstatus"), Seq($"o_orderpriority")),
          $"o_orderstatus", $"o_orderpriority")
        .agg(count(lit(1)).as("n"),
          Fns.roundU(sum($"o_totalprice"), 2).as("sum_price"))
        .orderBy($"o_orderstatus".asc_nulls_first,
          $"o_orderpriority".asc_nulls_first)
    }, Some(
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |  floor((sum(o_totalprice)) * 100 + 0.5) / 100.0 AS sum_price
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        |ORDER BY o_orderstatus ASC NULLS FIRST,
        |  o_orderpriority ASC NULLS FIRST""".stripMargin)),

    // UNPIVOT (melt): wide per-flag aggregates back to long form.
    QueryDef("q46_unpivot", (s, d) => {
      val wide = Tables.lineitem(s, d)
        .groupBy($"l_returnflag")
        .agg(Fns.roundU(sum($"l_quantity"), 2).as("qty"),
          Fns.roundU(sum($"l_extendedprice"), 2).as("price"),
          Fns.roundU(sum($"l_tax"), 2).as("tax"))
      wide.unpivot(Array($"l_returnflag"),
          Array($"qty", $"price", $"tax"), "metric", "val")
        .orderBy($"l_returnflag", $"metric")
    }, Some(
      """WITH wide AS (
        |  SELECT l_returnflag,
        |    floor((sum(l_quantity)) * 100 + 0.5) / 100.0 AS qty,
        |    floor((sum(l_extendedprice)) * 100 + 0.5) / 100.0 AS price,
        |    floor((sum(l_tax)) * 100 + 0.5) / 100.0 AS tax
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, metric, val FROM (
        |  SELECT l_returnflag, 'qty' AS metric, qty AS val FROM wide
        |  UNION ALL
        |  SELECT l_returnflag, 'price', price FROM wide
        |  UNION ALL
        |  SELECT l_returnflag, 'tax', tax FROM wide)
        |ORDER BY l_returnflag, metric""".stripMargin)),

    // SQL-parser surface: the same engine driven through spark.sql with
    // a correlated scalar subquery (orders whose priciest line exceeds
    // 90% of the order total).
    QueryDef("q47_sql_subquery", (s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("v_orders")
      Tables.lineitem(s, d).createOrReplaceTempView("v_lineitem")
      // 0.5D/100.0D: Spark SQL parses bare decimal literals as DECIMAL
      // (the DataFrame API uses double lits), which would widen the
      // output type away from the oracle's DOUBLE
      s.sql(
        """SELECT o_orderkey, o_totalprice,
          |  (SELECT floor(max(l_extendedprice) * 100 + 0.5D) / 100.0D
          |   FROM v_lineitem WHERE l_orderkey = o_orderkey) AS max_line
          |FROM v_orders
          |WHERE (SELECT max(l_extendedprice) FROM v_lineitem
          |       WHERE l_orderkey = o_orderkey) > o_totalprice * 0.9D
          |ORDER BY o_orderkey""".stripMargin)
    }, Some(
      """SELECT o_orderkey, o_totalprice,
        |  (SELECT floor(max(l_extendedprice) * 100 + 0.5) / 100.0
        |   FROM lineitem WHERE l_orderkey = o_orderkey) AS max_line
        |FROM orders
        |WHERE (SELECT max(l_extendedprice) FROM lineitem
        |       WHERE l_orderkey = o_orderkey) > o_totalprice * 0.9
        |ORDER BY o_orderkey""".stripMargin)),

    // DECIMAL(38,18) exact arithmetic (SURVEY §7.4d): synthetic amounts
    // with 18 fractional digits summed per group. The group sums carry
    // ~24 significant digits — a double pipeline would corrupt the low
    // digits, so a hash-match here PROVES the decimal path is lossless
    // end-to-end (string → decimal cast → sum → parquet).
    QueryDef("q48_decimal_sums", (s, d) => {
      val amount = concat(
        $"l_quantity".cast("int").cast("string"), lit("."),
        lpad((($"l_orderkey" * 1000000007L + $"l_partkey") %
          1000000000000000000L).cast("string"), 18, "0"))
        .cast(Fns.AmountType)
      // The sum is emitted as its canonical STRING form (scale-18 plain
      // decimal): the driver's DuckDB build may widen sum(DECIMAL) to
      // DOUBLE, so a decimal-typed result can hash-mismatch on value
      // canonicalization even when numerically identical. Strings are
      // byte-exact on both sides (the oracle assembles the same form
      // from exact HUGEINT integer arithmetic).
      Tables.lineitem(s, d)
        .select($"l_returnflag", amount.as("amount"))
        .groupBy($"l_returnflag")
        .agg(sum($"amount").cast("string").as("sum_amount"),
          count(lit(1)).as("n"))
        .orderBy($"l_returnflag")
    },
    // Exact-integer mirror: sums the integer and 18-digit fractional
    // parts as HUGEINTs (never a DECIMAL sum, which some DuckDB builds
    // widen to DOUBLE and lose the low digits of a 24-significant-digit
    // total), then assembles the canonical scale-18 string Spark's
    // cast(sum AS string) produces.
    Some(
      """WITH amt AS (
        |  SELECT l_returnflag,
        |    CAST(CAST(l_quantity AS INT) AS HUGEINT) AS ip,
        |    CAST((l_orderkey * 1000000007 + l_partkey)
        |      % 1000000000000000000 AS HUGEINT) AS fp
        |  FROM lineitem)
        |SELECT l_returnflag,
        |  concat(CAST(sum(ip) + sum(fp) // 1000000000000000000 AS VARCHAR),
        |    '.', lpad(CAST(sum(fp) % 1000000000000000000 AS VARCHAR),
        |      18, '0')) AS sum_amount,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM amt GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // Per-key top-k through the CUSTOM PLAN (plans.TopKPerKey: logical
    // node → TopKStrategy → partial/final bounded-heap SparkPlans): only
    // k rows per key per partition reach the shuffle and nothing sorts —
    // q07 is the same semantics through the window composition.
    QueryDef("q59_topk_native", (s, d) => {
      graft.plans.TopKPerKey(
          Tables.lineitem(s, d).select($"l_returnflag", $"l_extendedprice",
            $"l_orderkey", $"l_linenumber"),
          Seq("l_returnflag"),
          Seq($"l_extendedprice".desc, $"l_orderkey".asc,
            $"l_linenumber".asc), k = 5)
        .orderBy($"l_returnflag", $"l_extendedprice".desc, $"l_orderkey",
          $"l_linenumber")
    }, Some(
      """SELECT l_returnflag, l_extendedprice, l_orderkey, l_linenumber
        |FROM (
        |  SELECT l_returnflag, l_extendedprice, l_orderkey, l_linenumber,
        |    row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber)
        |      AS rn
        |  FROM lineitem)
        |WHERE rn <= 5
        |ORDER BY l_returnflag, l_extendedprice DESC, l_orderkey,
        |  l_linenumber""".stripMargin)),

    // ANALYZE-style COLUMN PROFILE — the stats-collection pass an
    // engine runs for its optimizer and a pipeline runs as its data
    // contract check: per column, null count, exact distinct count,
    // min/max (canonical strings). One PRUNED SCAN PER COLUMN, not one
    // multi-distinct aggregate: on columnar storage the per-column
    // scans read the same total bytes as a single 4-column scan, while
    // Spark's multi-distinct form EXPANDs every row ×(k+1) and
    // shuffles the multiplied rows — measured 5.5 s vs 0.8 s at sf0.1.
    // Each column's distinct count shuffles only its distinct values
    // (partial agg collapses), so the per-column form is also the one
    // whose shuffle is bounded by cardinality, not row count.
    QueryDef("q81_table_profile", (s, d) => {
      val cols = Seq("l_orderkey", "l_quantity", "l_returnflag",
        "l_shipdate")
      val li = Tables.lineitem(s, d)
      cols.map { c =>
        li.select(col(c)).agg(count(lit(1)).as("n_rows"),
            sum(when(col(c).isNull, 1L).otherwise(0L)).as("n_null"),
            countDistinct(col(c)).as("n_distinct"),
            min(col(c)).cast("string").as("min_val"),
            max(col(c)).cast("string").as("max_val"))
          .select(lit(c).as("col_name"), $"n_rows", $"n_null",
            $"n_distinct", $"min_val", $"max_val")
      }.reduce(_.unionByName(_)).orderBy($"col_name")
    }, Some(
      """SELECT 'l_orderkey' AS col_name,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_null,
        |  CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_distinct,
        |  CAST(min(l_orderkey) AS VARCHAR) AS min_val,
        |  CAST(max(l_orderkey) AS VARCHAR) AS max_val
        |FROM lineitem
        |UNION ALL
        |SELECT 'l_quantity', CAST(count(*) AS BIGINT),
        |  CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END)
        |    AS BIGINT),
        |  CAST(count(DISTINCT l_quantity) AS BIGINT),
        |  CAST(min(l_quantity) AS VARCHAR),
        |  CAST(max(l_quantity) AS VARCHAR)
        |FROM lineitem
        |UNION ALL
        |SELECT 'l_returnflag', CAST(count(*) AS BIGINT),
        |  CAST(sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END)
        |    AS BIGINT),
        |  CAST(count(DISTINCT l_returnflag) AS BIGINT),
        |  CAST(min(l_returnflag) AS VARCHAR),
        |  CAST(max(l_returnflag) AS VARCHAR)
        |FROM lineitem
        |UNION ALL
        |SELECT 'l_shipdate', CAST(count(*) AS BIGINT),
        |  CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END)
        |    AS BIGINT),
        |  CAST(count(DISTINCT l_shipdate) AS BIGINT),
        |  CAST(min(l_shipdate) AS VARCHAR),
        |  CAST(max(l_shipdate) AS VARCHAR)
        |FROM lineitem
        |ORDER BY col_name""".stripMargin)),

    // REFERENTIAL-INTEGRITY audit — orphan counts across every FK edge
    // of the star schema (the data-contract check a warehouse runs
    // after each load): per edge, child rows whose key has no parent,
    // via LEFT ANTI joins aggregated to one report row each. The
    // parent side ships only its distinct key column; small parents
    // broadcast, big ones hash-join on the key.
    QueryDef("q94_fk_audit", (s, d) => {
      val li = Tables.lineitem(s, d)
      val ord = Tables.orders(s, d)
      // ONE scan per edge: a left join against the parent's distinct
      // keys yields total and orphan counts in the same aggregate (a
      // separate anti-join branch would scan the child twice)
      def edge(name: String, child: DataFrame, ck: String,
               parent: DataFrame, pk: String) = {
        child.select(col(ck))
          .join(parent.select(col(pk).as(ck), lit(true).as("__hit"))
            .distinct(), Seq(ck), "left_outer")
          .agg(count(lit(1)).as("n_rows"),
            sum(when(col("__hit").isNull, 1L).otherwise(0L))
              .as("n_orphans"))
          .select(lit(name).as("fk_edge"), $"n_rows", $"n_orphans",
            Fns.roundU($"n_orphans".cast("double") / $"n_rows", 6)
              .as("orphan_rate"))
      }
      Seq(
        edge("lineitem.orderkey->orders", li, "l_orderkey",
          ord, "o_orderkey"),
        edge("lineitem.partkey->part", li, "l_partkey",
          Tables.part(s, d), "p_partkey"),
        edge("lineitem.suppkey->supplier", li, "l_suppkey",
          Tables.supplier(s, d), "s_suppkey"),
        edge("orders.custkey->customer", ord, "o_custkey",
          Tables.customer(s, d), "c_custkey"))
        .reduce(_.unionByName(_)).orderBy($"fk_edge")
    }, Some(
      """SELECT 'lineitem.orderkey->orders' AS fk_edge,
        |  CAST((SELECT count(*) FROM lineitem) AS BIGINT) AS n_rows,
        |  CAST((SELECT count(*) FROM lineitem l
        |    WHERE NOT EXISTS (SELECT 1 FROM orders o
        |      WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT)
        |    AS n_orphans,
        |  floor((CAST((SELECT count(*) FROM lineitem l
        |    WHERE NOT EXISTS (SELECT 1 FROM orders o
        |      WHERE o.o_orderkey = l.l_orderkey)) AS DOUBLE)
        |    / (SELECT count(*) FROM lineitem)) * 1000000 + 0.5)
        |    / 1000000.0 AS orphan_rate
        |UNION ALL
        |SELECT 'lineitem.partkey->part',
        |  CAST((SELECT count(*) FROM lineitem) AS BIGINT),
        |  CAST((SELECT count(*) FROM lineitem l
        |    WHERE NOT EXISTS (SELECT 1 FROM part p
        |      WHERE p.p_partkey = l.l_partkey)) AS BIGINT),
        |  floor((CAST((SELECT count(*) FROM lineitem l
        |    WHERE NOT EXISTS (SELECT 1 FROM part p
        |      WHERE p.p_partkey = l.l_partkey)) AS DOUBLE)
        |    / (SELECT count(*) FROM lineitem)) * 1000000 + 0.5)
        |    / 1000000.0
        |UNION ALL
        |SELECT 'lineitem.suppkey->supplier',
        |  CAST((SELECT count(*) FROM lineitem) AS BIGINT),
        |  CAST((SELECT count(*) FROM lineitem l
        |    WHERE NOT EXISTS (SELECT 1 FROM supplier s
        |      WHERE s.s_suppkey = l.l_suppkey)) AS BIGINT),
        |  floor((CAST((SELECT count(*) FROM lineitem l
        |    WHERE NOT EXISTS (SELECT 1 FROM supplier s
        |      WHERE s.s_suppkey = l.l_suppkey)) AS DOUBLE)
        |    / (SELECT count(*) FROM lineitem)) * 1000000 + 0.5)
        |    / 1000000.0
        |UNION ALL
        |SELECT 'orders.custkey->customer',
        |  CAST((SELECT count(*) FROM orders) AS BIGINT),
        |  CAST((SELECT count(*) FROM orders o
        |    WHERE NOT EXISTS (SELECT 1 FROM customer c
        |      WHERE c.c_custkey = o.o_custkey)) AS BIGINT),
        |  floor((CAST((SELECT count(*) FROM orders o
        |    WHERE NOT EXISTS (SELECT 1 FROM customer c
        |      WHERE c.c_custkey = o.o_custkey)) AS DOUBLE)
        |    / (SELECT count(*) FROM orders)) * 1000000 + 0.5)
        |    / 1000000.0
        |ORDER BY fk_edge""".stripMargin)),

    // SKETCH-ACCELERATED EXACT HEAVY HITTERS — the two-phase pattern
    // that makes "every key with count >= T, exactly" affordable at
    // 100 TB: phase 1 builds ONE Count-Min sketch (fixed 256 KB of
    // state however many keys exist) and keeps only rows whose key the
    // sketch says MIGHT reach T — sound, because CM never
    // underestimates, so the survivor set is a superset of the truth;
    // phase 2 exact-counts only the survivors, so the shuffle carries
    // candidate-key rows instead of the whole key domain. The FINAL
    // output is exact and engine-independent (the sketch only prunes),
    // which is why this query rides a plain GROUP BY/HAVING oracle
    // while the sketch itself (q-less, engine-hash) stays spec-gated.
    // The probe is deliberately a Scala UDF over the broadcast sketch:
    // depth array lookups per row against 256 KB of shared state —
    // the expression-literal alternative would embed the sketch in the
    // plan.
    QueryDef("q108_sketch_heavy", (s, d) => {
      val T = 45L
      val depth = 4; val width = 8192
      val li = Tables.lineitem(s, d).select($"l_partkey")
      val sketch = li.agg(graft.functions.CountMinAgg(depth, width)(
          $"l_partkey".cast("string")).as("sk"))
        .collect()(0).getSeq[Long](0).toArray
      val bc = s.sparkContext.broadcast(sketch)
      val mayReachT = udf((k: Long) => graft.functions.CountMinAgg
        .estimate(bc.value, k.toString, depth, width) >= T)
      li.filter(mayReachT($"l_partkey"))
        .groupBy($"l_partkey")
        .agg(count(lit(1)).as("n"))
        .filter($"n" >= T)
        .orderBy($"l_partkey")
    },
    // q108: the sketch only PRUNES — the exact output is plain
    // GROUP BY/HAVING, which is the point of the two-phase pattern
    Some(
      """SELECT l_partkey, CAST(count(*) AS BIGINT) AS n
        |FROM lineitem GROUP BY l_partkey HAVING count(*) >= 45
        |ORDER BY l_partkey""".stripMargin)),

    // STAR-SCHEMA 5-WAY JOIN (TPC-H Q5's shape) — local supplier
    // volume: revenue where customer and supplier sit in the same
    // nation, per nation in one region-year. THE canonical join-order
    // test: the fact table (lineitem) must join dimensions smallest-
    // outward with every dimension BROADCAST (region→nation prunes
    // before touching the fact; customer and supplier hash maps ride
    // the fact scan), so the only shuffle in the whole plan is the
    // final per-nation aggregate. The c_nationkey = s_nationkey
    // equality lands as a broadcast-side filter, never a
    // fact-vs-fact shuffle. Guarded by PlanShapeSpec.
    QueryDef("q140_star_join", (s, d) => {
      val li = Tables.lineitem(s, d)
      val o = Tables.orders(s, d)
        .filter(year($"o_orderdate") === 1995)
      val c = Tables.customer(s, d)
      val sup = Tables.supplier(s, d)
      val n = Tables.nation(s, d)
      val r = Tables.region(s, d).filter($"r_name" === "ASIA")
      val asiaNations = n.join(broadcast(r),
          $"n_regionkey" === $"r_regionkey")
        .select($"n_nationkey", $"n_name")
      li.join(o, $"l_orderkey" === $"o_orderkey")
        .join(broadcast(c), $"o_custkey" === $"c_custkey")
        .join(broadcast(sup.withColumnRenamed("s_nationkey", "__sn")),
          $"l_suppkey" === $"s_suppkey" && $"c_nationkey" === $"__sn")
        .join(broadcast(asiaNations), $"__sn" === $"n_nationkey")
        .groupBy($"n_name")
        .agg(Fns.roundU(sum($"l_extendedprice" * (lit(1) - $"l_discount")),
          2).as("revenue"),
          count(lit(1)).as("n_lines"))
        .orderBy($"revenue".desc, $"n_name")
    },
    // q140: Q5's declarative form
    Some(
      """SELECT n_name,
        |  floor(sum(l_extendedprice * (1 - l_discount)) * 100 + 0.5)
        |    / 100.0 AS revenue,
        |  CAST(count(*) AS BIGINT) AS n_lines
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |  AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA' AND year(o_orderdate) = 1995
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin)),

    // MARKET SHARE (TPC-H Q8's shape) — a ratio of conditional
    // aggregates per group: one nation's share of a region's revenue
    // per year. The share is sum(CASE)/sum(*) inside ONE aggregate —
    // never two scans joined back — and the join tree reuses q140's
    // broadcast-chain discipline.
    QueryDef("q141_market_share", (s, d) => {
      val li = Tables.lineitem(s, d)
      val o = Tables.orders(s, d)
      val c = Tables.customer(s, d)
      val n = Tables.nation(s, d)
      val r = Tables.region(s, d).filter($"r_name" === "AMERICA")
      val amNations = n.join(broadcast(r),
          $"n_regionkey" === $"r_regionkey")
        .select($"n_nationkey", $"n_name")
      li.join(o, $"l_orderkey" === $"o_orderkey")
        .join(broadcast(c), $"o_custkey" === $"c_custkey")
        .join(broadcast(amNations), $"c_nationkey" === $"n_nationkey")
        .select(year($"o_orderdate").cast("long").as("yr"),
          ($"l_extendedprice" * (lit(1) - $"l_discount")).as("__v"),
          ($"n_name" === "BRAZIL").as("__tgt"))
        .groupBy($"yr")
        .agg(Fns.roundU(sum(when($"__tgt", $"__v").otherwise(0.0)), 2)
          .as("brazil_rev"),
          Fns.roundU(sum($"__v"), 2).as("region_rev"),
          Fns.roundU(sum(when($"__tgt", $"__v").otherwise(0.0))
            / sum($"__v"), 6).as("mkt_share"))
        .orderBy($"yr")
    },
    // q141: Q8's conditional-aggregate ratio in one pass
    Some(
      """SELECT year(o_orderdate) AS yr,
        |  floor(sum(CASE WHEN n_name = 'BRAZIL'
        |      THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END)
        |    * 100 + 0.5) / 100.0 AS brazil_rev,
        |  floor(sum(l_extendedprice * (1 - l_discount)) * 100 + 0.5)
        |    / 100.0 AS region_rev,
        |  floor(sum(CASE WHEN n_name = 'BRAZIL'
        |      THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END)
        |    / sum(l_extendedprice * (1 - l_discount)) * 1e6 + 0.5)
        |    / 1e6 AS mkt_share
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'AMERICA'
        |GROUP BY 1 ORDER BY yr""".stripMargin)),

    // FUNCTIONAL-DEPENDENCY PROFILE — does A determine B? For each
    // candidate (determinant → dependent) pair: group count, how many
    // groups see >1 dependent value, the worst fan-out, and the
    // verdict. The distinct runs on (A, B) PAIRS then regroups on A —
    // the two-stage exact-distinct plan (map-side combine on both
    // stages, no count(DISTINCT) expand, skew on a hot A key stays in
    // the second, already-compacted stage). One true FD (o_orderkey →
    // o_custkey) pins the holds=true path.
    QueryDef("q151_fd_profile", (s, d) => {
      def audit(df: DataFrame, det: String, dep: String) =
        df.select(col(det).as("__k"), col(dep).as("__v")).distinct()
          .groupBy($"__k").agg(count(lit(1)).as("__nd"))
          .agg(count(lit(1)).as("n_groups"),
            sum(when($"__nd" > 1, 1L).otherwise(0L)).as("n_violating"),
            max($"__nd").as("max_distinct"))
          .select(lit(det).as("determinant"), lit(dep).as("dependent"),
            $"n_groups", $"n_violating", $"max_distinct",
            ($"n_violating" === 0).as("fd_holds"))
      val li = Tables.lineitem(s, d)
      val ord = Tables.orders(s, d)
      audit(li, "l_orderkey", "l_returnflag")
        .unionAll(audit(li, "l_orderkey", "l_suppkey"))
        .unionAll(audit(li, "l_partkey", "l_linestatus"))
        .unionAll(audit(ord, "o_orderkey", "o_custkey"))
        .unionAll(audit(ord, "o_custkey", "o_orderpriority"))
        .orderBy($"determinant", $"dependent")
    },
    // q151: same two-stage distinct as the engine (DISTINCT pairs then
    // regroup) — not count(DISTINCT), so NULL semantics can never skew
    Some(
      """WITH
        |a1 AS (SELECT l_orderkey AS k, count(*) AS nd FROM
        |  (SELECT DISTINCT l_orderkey, l_returnflag FROM lineitem)
        |  GROUP BY 1),
        |a2 AS (SELECT l_orderkey AS k, count(*) AS nd FROM
        |  (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem)
        |  GROUP BY 1),
        |a3 AS (SELECT l_partkey AS k, count(*) AS nd FROM
        |  (SELECT DISTINCT l_partkey, l_linestatus FROM lineitem)
        |  GROUP BY 1),
        |a4 AS (SELECT o_orderkey AS k, count(*) AS nd FROM
        |  (SELECT DISTINCT o_orderkey, o_custkey FROM orders)
        |  GROUP BY 1),
        |a5 AS (SELECT o_custkey AS k, count(*) AS nd FROM
        |  (SELECT DISTINCT o_custkey, o_orderpriority FROM orders)
        |  GROUP BY 1),
        |u AS (
        |  SELECT 'l_orderkey' AS determinant, 'l_returnflag' AS dependent,
        |    count(*) AS n_groups,
        |    CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_violating,
        |    CAST(max(nd) AS BIGINT) AS max_distinct FROM a1
        |  UNION ALL
        |  SELECT 'l_orderkey', 'l_suppkey', count(*),
        |    CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(max(nd) AS BIGINT) FROM a2
        |  UNION ALL
        |  SELECT 'l_partkey', 'l_linestatus', count(*),
        |    CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(max(nd) AS BIGINT) FROM a3
        |  UNION ALL
        |  SELECT 'o_orderkey', 'o_custkey', count(*),
        |    CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(max(nd) AS BIGINT) FROM a4
        |  UNION ALL
        |  SELECT 'o_custkey', 'o_orderpriority', count(*),
        |    CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(max(nd) AS BIGINT) FROM a5)
        |SELECT determinant, dependent, n_groups, n_violating,
        |  max_distinct, n_violating = 0 AS fd_holds
        |FROM u ORDER BY determinant, dependent""".stripMargin)),

    // K-ANONYMITY AUDIT — the release-safety readout for the
    // anonymize family (q73): bucket every customer into its
    // quasi-identifier equivalence class (nation, segment, coarse
    // balance band) and report the class-size histogram with the
    // at-risk flag (size < k = 5). Two hash aggregates, nothing else.
    QueryDef("q152_k_anonymity", (s, d) => {
      Tables.customer(s, d)
        .groupBy($"c_nationkey", $"c_mktsegment",
          floor($"c_acctbal" / 1000).as("__b"))
        .agg(count(lit(1)).as("cls_size"))
        .groupBy($"cls_size")
        .agg(count(lit(1)).as("n_classes"))
        .select($"cls_size", $"n_classes",
          ($"cls_size" * $"n_classes").as("n_rows"),
          ($"cls_size" < 5).as("at_risk"))
        .orderBy($"cls_size")
    }, Some(
      """WITH cls AS (
        |  SELECT count(*) AS cls_size
        |  FROM customer
        |  GROUP BY c_nationkey, c_mktsegment, floor(c_acctbal / 1000))
        |SELECT cls_size, CAST(count(*) AS BIGINT) AS n_classes,
        |  CAST(cls_size * count(*) AS BIGINT) AS n_rows,
        |  cls_size < 5 AS at_risk
        |FROM cls GROUP BY cls_size ORDER BY cls_size""".stripMargin)),

    // TPC-H Q22 SHAPE — "cold customers worth a call": above-average
    // positive balances in a fixed nation set, no order in the
    // dataset's final year (this generator gives EVERY customer
    // historical orders, so Q22's "never ordered" is vacuous —
    // recency keeps the identical plan and a real answer), grouped
    // by nation. The classic three-part plan survives any scale: a
    // 1-row average broadcast (never a correlated re-scan), a LEFT
    // ANTI join whose probe side is date-pruned AT THE SCAN before
    // anything shuffles, and a k-row group readout. No c_phone in
    // this star schema, so nationkey plays Q22's country-code role.
    QueryDef("q177_cold_customers", (s, d) => {
      val cust = Tables.customer(s, d)
        .filter($"c_nationkey".isin(1, 3, 7, 11, 13, 17, 19))
        .select($"c_custkey", $"c_nationkey", $"c_acctbal")
      val avgBal = cust.filter($"c_acctbal" > 0)
        .agg(avg($"c_acctbal").as("__ab"))
      cust.crossJoin(broadcast(avgBal))
        .filter($"c_acctbal" > $"__ab")
        .join(Tables.orders(s, d)
            .filter($"o_orderdate" >= "2001-01-01")
            .select($"o_custkey"),
          $"c_custkey" === $"o_custkey", "left_anti")
        .groupBy($"c_nationkey".as("nation"))
        .agg(count(lit(1)).as("numcust"),
          Fns.roundU(sum($"c_acctbal"), 2).as("totacctbal"))
        .orderBy($"nation")
    }, Some(
      """WITH cust AS (
        |  SELECT c_custkey, c_nationkey, c_acctbal FROM customer
        |  WHERE c_nationkey IN (1, 3, 7, 11, 13, 17, 19)),
        |ab AS (SELECT avg(c_acctbal) AS a FROM cust WHERE c_acctbal > 0)
        |SELECT c_nationkey AS nation, CAST(count(*) AS BIGINT) AS numcust,
        |  floor(sum(c_acctbal) * 100 + 0.5) / 100.0 AS totacctbal
        |FROM cust, ab
        |WHERE c_acctbal > a
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |    WHERE o_custkey = c_custkey
        |      AND o_orderdate >= TIMESTAMP '2001-01-01')
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // HIERARCHY SUBTREE ROLLUP — revenue rolled to every ancestor of
    // a 3-level part taxonomy (node = partkey div 10^k, the
    // digit-prefix tree that catalog/geo/org hierarchies flatten to).
    // The FIXED-DEPTH path idiom: each per-part revenue row explodes
    // to its ≤3 ancestors ONCE, so subtree totals for the whole tree
    // come out of one hash aggregate — no per-level re-aggregation,
    // no iterative climb (that is for unbounded-depth graphs: q149/
    // q166). Work is depth × part rows into one shuffle regardless of
    // fanout; per-level leaders ride the bounded heap, and the cut
    // sits on the ROUNDED total (the q148 rule).
    QueryDef("q181_hierarchy_rollup", (s, d) => {
      // revenue in INTEGER CENTS from the first aggregate on: the
      // per-row product is one identical double on both engines,
      // floored to cents BEFORE any summation — the double subtree
      // sum hit a .005 rounding boundary at sf0.1 (summation order
      // flipped the last cent between engines), the q48/q154 class
      val rev = Tables.lineitem(s, d)
        .groupBy($"l_partkey")
        .agg(sum(floor($"l_extendedprice" * (lit(1) - $"l_discount")
            * 100 + 0.5).cast("long"))
          .as("__rev"), count(lit(1)).as("__nl"))
      val anc = rev.select(explode(array(
          struct(lit(1).as("level"),
            expr("l_partkey div 1000").as("node")),
          struct(lit(2).as("level"),
            expr("l_partkey div 100").as("node")),
          struct(lit(3).as("level"),
            expr("l_partkey div 10").as("node")))).as("a"),
          $"__rev", $"__nl")
        .select($"a.level".as("level"), $"a.node".as("node"),
          $"__rev", $"__nl")
      val sub = anc.groupBy($"level", $"node")
        .agg((sum($"__rev").cast("double") / 100.0).as("subtree_rev"),
          sum($"__nl").as("n_lines"), count(lit(1)).as("n_parts"))
      graft.plans.TopKPerKey(sub, Seq("level"),
          Seq($"subtree_rev".desc, $"node".asc), 5)
        .select($"level", $"node", $"subtree_rev", $"n_lines",
          $"n_parts")
        .orderBy($"level", $"subtree_rev".desc, $"node")
    }, Some(
      """WITH rev AS (
        |  SELECT l_partkey,
        |    CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount)
        |      * 100 + 0.5) AS BIGINT)) AS BIGINT) AS r,
        |    CAST(count(*) AS BIGINT) AS nl
        |  FROM lineitem GROUP BY 1),
        |anc AS (
        |  SELECT 1 AS level, l_partkey // 1000 AS node, r, nl FROM rev
        |  UNION ALL
        |  SELECT 2, l_partkey // 100, r, nl FROM rev
        |  UNION ALL
        |  SELECT 3, l_partkey // 10, r, nl FROM rev),
        |sub AS (
        |  SELECT level, node,
        |    CAST(sum(r) AS DOUBLE) / 100.0 AS subtree_rev,
        |    CAST(sum(nl) AS BIGINT) AS n_lines,
        |    CAST(count(*) AS BIGINT) AS n_parts
        |  FROM anc GROUP BY 1, 2),
        |rk AS (
        |  SELECT *, row_number() OVER (PARTITION BY level
        |    ORDER BY subtree_rev DESC, node) AS rn FROM sub)
        |SELECT level, node, subtree_rev, n_lines, n_parts FROM rk
        |WHERE rn <= 5 ORDER BY level, subtree_rev DESC, node"""
        .stripMargin)),

    // PRICE-VOLUME-MIX BRIDGE — the FP&A waterfall: per brand, how
    // much of the 1999→2000 revenue change is volume (base price ×
    // quantity shift) vs price ((new−base price) × new quantity, the
    // cross term folded into price per convention; brands absent from
    // a period contribute their whole revenue as volume). ONE
    // conditional-projection scan of the two-year slice (the q172
    // shape: never a scan per period) into one per-brand aggregate;
    // part rides the scan as a broadcast. The identity delta = price
    // + volume holds per row by construction — an oracle-checked
    // waterfall that can't leak.
    QueryDef("q184_pvm_bridge", (s, d) => {
      val li = Tables.lineitem(s, d)
        .filter($"l_shipdate" >= "1999-01-01"
          && $"l_shipdate" < "2001-01-01")
        .join(broadcast(Tables.part(s, d)
          .select($"p_partkey", $"p_brand")),
          $"l_partkey" === $"p_partkey")
      val base = $"l_shipdate" < "2000-01-01"
      val rv = $"l_extendedprice" * (lit(1) - $"l_discount")
      li.groupBy($"p_brand")
        .agg(sum(when(base, rv)).as("__r0"),
          sum(when(base, $"l_quantity")).as("__q0"),
          sum(when(!base, rv)).as("__r1"),
          sum(when(!base, $"l_quantity")).as("__q1"))
        .na.fill(0.0, Seq("__r0", "__q0", "__r1", "__q1"))
        .select($"p_brand".as("brand"),
          Fns.roundU($"__r0", 2).as("rev_base"),
          Fns.roundU($"__r1", 2).as("rev_cur"),
          Fns.roundU($"__r1" - $"__r0", 2).as("delta"),
          Fns.roundU(when($"__q0" > 0 && $"__q1" > 0,
            ($"__r1" / $"__q1" - $"__r0" / $"__q0") * $"__q1")
            .otherwise(0.0), 2).as("price_effect"),
          Fns.roundU(when($"__q0" > 0,
            ($"__r0" / $"__q0") * ($"__q1" - $"__q0"))
            .otherwise($"__r1"), 2).as("volume_effect"))
        .orderBy($"brand")
    }, Some(
      """WITH li AS (
        |  SELECT p_brand, l_shipdate,
        |    l_extendedprice * (1 - l_discount) AS rv, l_quantity AS q
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE l_shipdate >= TIMESTAMP '1999-01-01'
        |    AND l_shipdate < TIMESTAMP '2001-01-01'),
        |g AS (
        |  SELECT p_brand,
        |    coalesce(sum(CASE WHEN l_shipdate < TIMESTAMP '2000-01-01'
        |      THEN rv END), 0) AS r0,
        |    coalesce(sum(CASE WHEN l_shipdate < TIMESTAMP '2000-01-01'
        |      THEN q END), 0) AS q0,
        |    coalesce(sum(CASE WHEN l_shipdate >= TIMESTAMP '2000-01-01'
        |      THEN rv END), 0) AS r1,
        |    coalesce(sum(CASE WHEN l_shipdate >= TIMESTAMP '2000-01-01'
        |      THEN q END), 0) AS q1
        |  FROM li GROUP BY 1)
        |SELECT p_brand AS brand,
        |  floor(r0 * 100 + 0.5) / 100.0 AS rev_base,
        |  floor(r1 * 100 + 0.5) / 100.0 AS rev_cur,
        |  floor((r1 - r0) * 100 + 0.5) / 100.0 AS delta,
        |  floor((CASE WHEN q0 > 0 AND q1 > 0
        |      THEN (r1 / q1 - r0 / q0) * q1 ELSE 0 END)
        |    * 100 + 0.5) / 100.0 AS price_effect,
        |  floor((CASE WHEN q0 > 0 THEN (r0 / q0) * (q1 - q0)
        |      ELSE r1 END) * 100 + 0.5) / 100.0 AS volume_effect
        |FROM g ORDER BY brand""".stripMargin)),

    // GROWTH ACCOUNTING — the SaaS-board quarterly customer ledger:
    // every active (customer, quarter) is exactly one of new (first
    // quarter ever), retained (also active the quarter before) or
    // resurrected; churn is charged to the quarter a previously
    // active customer went quiet. All set algebra on exact ints: one
    // distinct activity table, a min-aggregate for first quarters,
    // the quarter-1 comparison as a self equi-join on the shifted
    // key (never a per-customer window), churn as an anti-join of
    // the shifted table against activity. Integer counts end to end
    // — no float surface at all.
    QueryDef("q185_growth_accounting", (s, d) => {
      val act = Tables.orders(s, d)
        .select($"o_custkey".as("c"),
          (year($"o_orderdate") * 4 + quarter($"o_orderdate") - 1)
            .as("qi"))
        .distinct().transform(scoped)
      val firstq = act.groupBy($"c").agg(min($"qi").as("__fq"))
      val shifted = act.select($"c", ($"qi" + 1).as("qi"))
      // shifted is distinct by construction (act is), so the left
      // join marks prev-quarter activity without row multiplication
      val statused = act.join(firstq, Seq("c"))
        .join(shifted.withColumn("__p", lit(1)), Seq("c", "qi"), "left")
        .groupBy($"qi")
        .agg(count(lit(1)).as("n_active"),
          sum(when($"qi" === $"__fq", 1).otherwise(0)).as("n_new"),
          sum(when($"qi" =!= $"__fq" && $"__p".isNotNull, 1)
            .otherwise(0)).as("n_retained"),
          sum(when($"qi" =!= $"__fq" && $"__p".isNull, 1)
            .otherwise(0)).as("n_resurrected"))
      val churn = shifted.join(act, Seq("c", "qi"), "left_anti")
        .groupBy($"qi").agg(count(lit(1)).as("n_churned"))
      statused.join(churn, Seq("qi"), "left")
        .na.fill(0L, Seq("n_churned"))
        .select((($"qi" / 4).cast("long")).as("year"),
          ($"qi" % 4 + 1).cast("long").as("quarter"),
          $"n_active", $"n_new", $"n_retained", $"n_resurrected",
          $"n_churned",
          ($"n_new" + $"n_resurrected" - $"n_churned").as("net"))
        .orderBy($"year", $"quarter")
    }, Some(
      """WITH act AS (
        |  SELECT DISTINCT o_custkey AS c,
        |    year(o_orderdate) * 4 + quarter(o_orderdate) - 1 AS qi
        |  FROM orders),
        |firstq AS (SELECT c, min(qi) AS fq FROM act GROUP BY 1),
        |shifted AS (SELECT c, qi + 1 AS qi FROM act),
        |st AS (
        |  SELECT a.qi, CAST(count(*) AS BIGINT) AS n_active,
        |    CAST(sum(CASE WHEN a.qi = f.fq THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_new,
        |    CAST(sum(CASE WHEN a.qi <> f.fq AND s.c IS NOT NULL
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_retained,
        |    CAST(sum(CASE WHEN a.qi <> f.fq AND s.c IS NULL
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected
        |  FROM act a JOIN firstq f ON a.c = f.c
        |  LEFT JOIN shifted s ON a.c = s.c AND a.qi = s.qi
        |  GROUP BY 1),
        |ch AS (
        |  SELECT s.qi, CAST(count(*) AS BIGINT) AS n_churned
        |  FROM shifted s
        |  WHERE NOT EXISTS (SELECT 1 FROM act a
        |    WHERE a.c = s.c AND a.qi = s.qi)
        |  GROUP BY 1)
        |SELECT CAST(st.qi // 4 AS BIGINT) AS year,
        |  CAST(st.qi % 4 + 1 AS BIGINT) AS quarter,
        |  n_active, n_new, n_retained, n_resurrected,
        |  coalesce(n_churned, 0) AS n_churned,
        |  n_new + n_resurrected - coalesce(n_churned, 0) AS net
        |FROM st LEFT JOIN ch ON st.qi = ch.qi
        |ORDER BY year, quarter""".stripMargin)),

    // WAITING SUPPLIERS (TPC-H Q21's plan shape): the sole-blame
    // pattern — a supplier was LATE on a finished multi-supplier order
    // while every OTHER supplier was on time. Two correlated
    // subqueries against the same derived table become one LEFT SEMI
    // (another supplier exists) and one LEFT ANTI (no other late
    // supplier) hash join, both keyed on the order with the
    // same-supplier inequality as residual condition — never a
    // cartesian, never a per-order loop. "Late" = shipped > 90 days
    // after order date (this schema carries no commit/receipt dates).
    QueryDef("q191_waiting_suppliers", (s, d) => {
      val li = Tables.lineitem(s, d)
        .join(Tables.orders(s, d).filter($"o_orderstatus" === "F")
          .select($"o_orderkey", $"o_orderdate"),
          $"l_orderkey" === $"o_orderkey")
        .select($"o_orderkey".as("__o"), $"l_suppkey".as("__s"),
          (to_date($"l_shipdate") >
            date_add(to_date($"o_orderdate"), 90)).as("__late"))
      // distinct (order, supplier) sets: blame is per supplier, not
      // per line — persisted, both feed two joins each
      val sups = li.select($"__o", $"__s").distinct().transform(scoped)
      val lateS = li.filter($"__late").select($"__o", $"__s")
        .distinct().transform(scoped)
      val waiting = lateS.as("a")
        .join(sups.as("o2"), col("a.__o") === col("o2.__o")
          && col("a.__s") =!= col("o2.__s"), "left_semi")
        .join(lateS.as("l2"), col("a.__o") === col("l2.__o")
          && col("a.__s") =!= col("l2.__s"), "left_anti")
      waiting.groupBy($"__s")
        .agg(count(lit(1)).as("numwait"))
        .join(broadcast(Tables.supplier(s, d)
          .select($"s_suppkey", $"s_name")),
          $"__s" === $"s_suppkey")
        .select($"s_name", $"numwait")
        .orderBy($"numwait".desc, $"s_name")
        .limit(20)
    },
    // q191: the EXISTS/NOT EXISTS pair verbatim — DuckDB plans the
    // correlated subqueries its own way; the Spark side must reach the
    // same rows through its semi/anti joins
    Some(
      """WITH l AS (
        |  SELECT o_orderkey AS o, l_suppkey AS sk,
        |    CAST(l_shipdate AS DATE) > CAST(o_orderdate AS DATE) + 90
        |      AS late
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderstatus = 'F'),
        |sups AS (SELECT DISTINCT o, sk FROM l),
        |lates AS (SELECT DISTINCT o, sk FROM l WHERE late),
        |w AS (
        |  SELECT * FROM lates a
        |  WHERE EXISTS (SELECT 1 FROM sups o2
        |                WHERE o2.o = a.o AND o2.sk <> a.sk)
        |    AND NOT EXISTS (SELECT 1 FROM lates l2
        |                    WHERE l2.o = a.o AND l2.sk <> a.sk))
        |SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
        |FROM w JOIN supplier ON sk = s_suppkey
        |GROUP BY 1 ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin)),

    // MIN-COST SUPPLIER (TPC-H Q2's plan shape): for each qualifying
    // part, the cheapest regional supplier — the groupwise-argmin-
    // against-a-correlated-aggregate pattern. Supply costs derive from
    // observed lineitem unit prices (this schema has no partsupp);
    // the argmin is ONE min(struct(cost, suppkey)) hash aggregate —
    // total order, engine-exact tie-break, no window sort — and every
    // dimension join is a broadcast.
    QueryDef("q192_min_cost_supplier", (s, d) => {
      val eur = Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d)
          .join(broadcast(Tables.region(s, d)
            .filter($"r_name" === "EUROPE")),
            $"n_regionkey" === $"r_regionkey")
          .select($"n_nationkey", $"n_name")),
          $"s_nationkey" === $"n_nationkey")
        .select($"s_suppkey", $"s_name", $"s_acctbal", $"n_name")
      val costs = Tables.lineitem(s, d)
        .join(broadcast(eur.select($"s_suppkey".as("__sk"))),
          $"l_suppkey" === $"__sk", "left_semi")
        .groupBy($"l_partkey", $"l_suppkey")
        .agg(min($"l_extendedprice" / $"l_quantity").as("__c"))
      val best = costs
        .groupBy($"l_partkey")
        .agg(min(struct($"__c", $"l_suppkey")).as("__b"))
        .select($"l_partkey", $"__b.__c".as("__c"),
          $"__b.l_suppkey".as("__sk"))
      best
        .join(broadcast(Tables.part(s, d)
          .filter($"p_type" === "PROMO" && $"p_size" % 5 === 0)
          .select($"p_partkey", $"p_brand")),
          $"l_partkey" === $"p_partkey")
        .join(broadcast(eur), $"__sk" === $"s_suppkey")
        .select($"s_acctbal", $"s_name", $"n_name", $"p_partkey",
          $"p_brand", Fns.roundU($"__c", 4).as("supply_cost"))
        .orderBy($"s_acctbal".desc, $"s_name", $"p_partkey")
        .limit(50)
    },
    // q192: argmin via row_number over (cost, suppkey) — the same
    // total order as Spark's min(struct(...))
    Some(
      """WITH eur AS (
        |  SELECT s_suppkey, s_name, s_acctbal, n_name
        |  FROM supplier
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'EUROPE'),
        |costs AS (
        |  SELECT l_partkey, l_suppkey,
        |    min(l_extendedprice / l_quantity) AS c
        |  FROM lineitem
        |  WHERE l_suppkey IN (SELECT s_suppkey FROM eur)
        |  GROUP BY 1, 2),
        |best AS (
        |  SELECT l_partkey, c, l_suppkey FROM (
        |    SELECT *, row_number() OVER (PARTITION BY l_partkey
        |      ORDER BY c, l_suppkey) AS rn FROM costs)
        |  WHERE rn = 1)
        |SELECT s_acctbal, s_name, n_name, p_partkey, p_brand,
        |  floor(c * 10000 + 0.5) / 10000.0 AS supply_cost
        |FROM best
        |JOIN part ON l_partkey = p_partkey
        |JOIN eur ON l_suppkey = s_suppkey
        |WHERE p_type = 'PROMO' AND p_size % 5 = 0
        |ORDER BY s_acctbal DESC, s_name, p_partkey LIMIT 50"""
        .stripMargin)),

    // IMPORTANT PARTS (TPC-H Q11's plan shape): parts holding an
    // outsized share of one nation's supplied value — the group-
    // aggregate-vs-global-aggregate correlated HAVING. INTEGER-EXACT:
    // line values become cents (floor(x·100+0.5), identical doubles
    // both engines), per-part and national totals are long sums, and
    // the share gate is the cross-multiplied integer test
    // 1000·part_cents > total_cents — no floating threshold anywhere.
    QueryDef("q193_important_parts", (s, d) => {
      val natSup = Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d)
          .filter($"n_name" === "NATION_7")),
          $"s_nationkey" === $"n_nationkey")
        .select($"s_suppkey".as("__sk"))
      val cents = Tables.lineitem(s, d)
        .join(broadcast(natSup), $"l_suppkey" === $"__sk", "left_semi")
        .select($"l_partkey",
          floor($"l_extendedprice" * 100 + 0.5).as("__cents"))
      val perPart = cents.groupBy($"l_partkey")
        .agg(sum($"__cents").as("__pc"))
      val tot = perPart.agg(sum($"__pc").as("__tc"))
      perPart.crossJoin(broadcast(tot))
        .filter($"__pc" * 1000 > $"__tc")
        .select($"l_partkey".as("p_partkey"),
          ($"__pc".cast("double") / 100.0).as("value"))
        .orderBy($"value".desc, $"p_partkey")
    },
    // q193: integer-cents share gate, cross-multiplied — no floating
    // threshold on either engine
    Some(
      """WITH cents AS (
        |  SELECT l_partkey,
        |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS c
        |  FROM lineitem
        |  WHERE l_suppkey IN (
        |    SELECT s_suppkey FROM supplier
        |    JOIN nation ON s_nationkey = n_nationkey
        |    WHERE n_name = 'NATION_7')),
        |pp AS (SELECT l_partkey, CAST(sum(c) AS BIGINT) AS pc
        |       FROM cents GROUP BY 1),
        |t AS (SELECT CAST(sum(pc) AS BIGINT) AS tc FROM pp)
        |SELECT l_partkey AS p_partkey,
        |  CAST(pc AS DOUBLE) / 100.0 AS value
        |FROM pp, t WHERE pc * 1000 > tc
        |ORDER BY value DESC, p_partkey""".stripMargin)),

    // DIFFERENCE-IN-DIFFERENCES — the two-group two-period causal
    // readout (CUPED q137's observational sibling): treated nations
    // (even nationkey) vs control, pre/post 1996, outcome = mean
    // order value. Four cell means from ONE grouped scan (each an
    // exact long cent sum with one division), pivoted to a single
    // row by conditional aggregation; the estimate is the standard
    // (T,post − T,pre) − (C,post − C,pre). An absent cell yields
    // NULL (a data fact at tiny SFs), never a fabricated zero.
    QueryDef("q201_diff_in_diff", (s, d) => {
      val cells = Tables.orders(s, d)
        .join(Tables.customer(s, d), $"o_custkey" === $"c_custkey")
        .select(($"c_nationkey" % 2 === 0).as("__treat"),
          ($"o_orderdate" >= lit("1996-01-01").cast("timestamp"))
            .as("__post"),
          floor($"o_totalprice" * 100 + 0.5).cast("long").as("__cents"))
        .groupBy($"__treat", $"__post")
        .agg(count(lit(1)).as("__n"),
          (sum($"__cents").cast("double") / count(lit(1))).as("__m"))
      cells.agg(
          sum($"__n").as("n_orders"),
          min(when($"__treat" && $"__post", $"__m")).as("__tp"),
          min(when($"__treat" && !$"__post", $"__m")).as("__tq"),
          min(when(!$"__treat" && $"__post", $"__m")).as("__cp"),
          min(when(!$"__treat" && !$"__post", $"__m")).as("__cq"))
        .select($"n_orders",
          Fns.roundU(($"__tp" - $"__tq") / 100.0, 4).as("treat_delta"),
          Fns.roundU(($"__cp" - $"__cq") / 100.0, 4)
            .as("control_delta"),
          Fns.roundU((($"__tp" - $"__tq") - ($"__cp" - $"__cq")) / 100.0,
            4).as("did"))
    },
    // q201: the same four cell means (one division each) and the
    // same subtraction order
    Some(
      """WITH cells AS (
        |  SELECT c_nationkey % 2 = 0 AS tr,
        |    o_orderdate >= TIMESTAMP '1996-01-01' AS post,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |      AS DOUBLE) / count(*) AS m
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2),
        |p AS (
        |  SELECT CAST(sum(n) AS BIGINT) AS n_orders,
        |    min(CASE WHEN tr AND post THEN m END) AS tp,
        |    min(CASE WHEN tr AND NOT post THEN m END) AS tq,
        |    min(CASE WHEN NOT tr AND post THEN m END) AS cp,
        |    min(CASE WHEN NOT tr AND NOT post THEN m END) AS cq
        |  FROM cells)
        |SELECT n_orders,
        |  floor(((tp - tq) / 100.0) * 10000 + 0.5) / 10000.0
        |    AS treat_delta,
        |  floor(((cp - cq) / 100.0) * 10000 + 0.5) / 10000.0
        |    AS control_delta,
        |  floor((((tp - tq) - (cp - cq)) / 100.0) * 10000 + 0.5)
        |    / 10000.0 AS did
        |FROM p""".stripMargin)),

    // SMALL-QUANTITY PARTS (TPC-H Q17's plan shape): revenue lost to
    // below-one-fifth-of-average orders of one brand's parts — the
    // correlated SCALAR-AVG subquery, decorrelated into a per-part
    // aggregate joined back onto the same scan. The 0.2·avg gate is
    // the cross-multiplied INTEGER test 5·qty·cnt < sum_qty (q193's
    // discipline — no floating threshold), so the row set is exact;
    // only the final /7.0 yearly average is a double, and it divides
    // an exact cent sum once. Brand-filtered parts broadcast; the
    // per-part stats come from the UNfiltered lineitem (the Q17
    // semantics) but only survive the join for the brand's parts.
    QueryDef("q202_small_qty_revenue", (s, d) => {
      val li = Tables.lineitem(s, d)
      val stats = li.groupBy($"l_partkey".as("__pk"))
        .agg(count(lit(1)).as("__cnt"),
          sum($"l_quantity".cast("long")).as("__sq"))
      val brand = Tables.part(s, d).filter($"p_brand" === "Brand#23")
        .select($"p_partkey")
      li.join(broadcast(brand), $"l_partkey" === $"p_partkey")
        .join(stats, $"l_partkey" === $"__pk")
        .filter($"l_quantity".cast("long") * 5 * $"__cnt" < $"__sq")
        .agg(count(lit(1)).as("n_lines"),
          (sum(floor($"l_extendedprice" * 100 + 0.5).cast("long"))
            .cast("double") / 700.0).as("__a"))
        .select($"n_lines", Fns.roundU($"__a", 4).as("avg_yearly"))
    },
    // q202: the same cross-multiplied integer gate — 5·qty·cnt <
    // sum_qty — so the row set is exact; one double division at the end
    Some(
      """WITH st AS (
        |  SELECT l_partkey AS pk, CAST(count(*) AS BIGINT) AS cnt,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sq
        |  FROM lineitem GROUP BY 1),
        |r AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_lines,
        |    CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
        |      AS DOUBLE) / 700.0 AS a
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey AND p_brand = 'Brand#23'
        |  JOIN st ON l_partkey = pk
        |  WHERE CAST(l_quantity AS BIGINT) * 5 * cnt < sq)
        |SELECT n_lines,
        |  floor(a * 10000 + 0.5) / 10000.0 AS avg_yearly
        |FROM r""".stripMargin)),

    // PER-GROUP OLS TREND — slope/intercept/R² of daily revenue vs
    // day index for each market segment over 1995: the least-squares
    // complement of q198's robust Theil-Sen. Two bounded aggregates
    // (days per segment, then 5 moment rows) — no window, no sort.
    // Numeric determinism: y is exact CENTS (the q193 floor idiom), x
    // an exact day index, and all five moments accumulate as
    // DECIMAL(20,0) products — order-independent integer sums (Σy²
    // overflows a BIGINT; decimal keeps it exact) — converted to
    // double ONCE before the closed-form fit, which both engines then
    // evaluate with the identical operation sequence.
    QueryDef("q215_ols_trend", (s, d) => {
      val daily = Tables.orders(s, d)
        .filter($"o_orderdate" >= "1995-01-01" &&
          $"o_orderdate" < "1996-01-01")
        .join(Tables.customer(s, d)
          .select($"c_custkey", $"c_mktsegment"),
          $"o_custkey" === $"c_custkey")
        .groupBy($"c_mktsegment",
          datediff($"o_orderdate", to_date(lit("1995-01-01")))
            .as("__x"))
        .agg(sum(floor($"o_totalprice" * 100 + 0.5).cast("long"))
          .as("__y"))
      val m = daily.select($"c_mktsegment",
          $"__x".cast("decimal(20,0)").as("__xd"),
          $"__y".cast("decimal(20,0)").as("__yd"))
        .groupBy($"c_mktsegment")
        .agg(count(lit(1)).as("n_days"),
          sum($"__xd").cast("double").as("__sx"),
          sum($"__yd").cast("double").as("__sy"),
          sum($"__xd" * $"__yd").cast("double").as("__sxy"),
          sum($"__xd" * $"__xd").cast("double").as("__sx2"),
          sum($"__yd" * $"__yd").cast("double").as("__sy2"))
      val n = $"n_days".cast("double")
      val sxx = n * $"__sx2" - $"__sx" * $"__sx"
      val sxy = n * $"__sxy" - $"__sx" * $"__sy"
      val syy = n * $"__sy2" - $"__sy" * $"__sy"
      m.select($"c_mktsegment", $"n_days",
          Fns.roundU(sxy / sxx, 4).as("slope_cents_per_day"),
          Fns.roundU(($"__sy" - sxy / sxx * $"__sx") / n, 2)
            .as("intercept_cents"),
          Fns.roundU(sxy * sxy / (sxx * syy), 6).as("r2"))
        .orderBy($"c_mktsegment")
    }, Some(
      """WITH daily AS (
        |  SELECT c_mktsegment,
        |    date_diff('day', TIMESTAMP '1995-01-01', o_orderdate) AS x,
        |    sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS y
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  WHERE o_orderdate >= TIMESTAMP '1995-01-01'
        |    AND o_orderdate < TIMESTAMP '1996-01-01'
        |  GROUP BY 1, 2),
        |m AS (
        |  SELECT c_mktsegment,
        |    CAST(count(*) AS DOUBLE) AS n,
        |    CAST(count(*) AS BIGINT) AS n_days,
        |    CAST(sum(CAST(x AS DECIMAL(20,0))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(y AS DECIMAL(20,0))) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(x AS DECIMAL(20,0)) * CAST(y AS DECIMAL(20,0)))
        |      AS DOUBLE) AS sxy,
        |    CAST(sum(CAST(x AS DECIMAL(20,0)) * CAST(x AS DECIMAL(20,0)))
        |      AS DOUBLE) AS sx2,
        |    CAST(sum(CAST(y AS DECIMAL(20,0)) * CAST(y AS DECIMAL(20,0)))
        |      AS DOUBLE) AS sy2
        |  FROM daily GROUP BY 1)
        |SELECT c_mktsegment, n_days,
        |  floor((n * sxy - sx * sy) / (n * sx2 - sx * sx)
        |    * 10000 + 0.5) / 10000.0 AS slope_cents_per_day,
        |  floor((sy - (n * sxy - sx * sy) / (n * sx2 - sx * sx) * sx)
        |    / n * 100 + 0.5) / 100.0 AS intercept_cents,
        |  floor((n * sxy - sx * sy) * (n * sxy - sx * sy)
        |    / ((n * sx2 - sx * sx) * (n * sy2 - sy * sy))
        |    * 1000000 + 0.5) / 1000000.0 AS r2
        |FROM m ORDER BY c_mktsegment""".stripMargin)),

    // BENFORD FIRST-DIGIT TEST — the classic fabricated-data screen:
    // leading digit of every order's exact-cents amount vs the
    // Benford distribution. The digit comes from an INTEGER magnitude
    // ladder (div by powers of 10 in a CASE chain — never
    // floor(log10(x)), whose 2.999... boundary at exact powers of 10
    // differs per libm), and the nine Benford probabilities are
    // HARDCODED 17-digit literals so both engines parse identical
    // doubles instead of calling their own log implementations.
    QueryDef("q222_benford", (s, d) => {
      val c = floor($"o_totalprice" * 100 + 0.5).cast("long")
      val mags = Seq(1000000000L, 100000000L, 10000000L, 1000000L,
        100000L, 10000L, 1000L, 100L, 10L)
      val digit = mags.foldLeft(when(lit(false), lit(0L))) { (acc, m) =>
        acc.when($"__c" >= m, expr(s"__c div $m"))
      }.otherwise($"__c")
      val probs = Map(1 -> 0.3010299956639812, 2 -> 0.17609125905568124,
        3 -> 0.12493873660829992, 4 -> 0.09691001300805642,
        5 -> 0.07918124604762482, 6 -> 0.06694678963061322,
        7 -> 0.05799194697768673, 8 -> 0.05115252244738129,
        9 -> 0.04575749056067514)
      val p = probs.foldLeft(when(lit(false), lit(0.0))) {
        case (acc, (dd, pp)) => acc.when($"digit" === dd, lit(pp))
      }
      Tables.orders(s, d).select(c.as("__c"))
        .select($"__c", digit.as("digit"))
        .groupBy($"digit").agg(count(lit(1)).as("n_obs"))
        .crossJoin(broadcast(Tables.orders(s, d)
          .agg(count(lit(1)).as("__n"))))
        .select($"digit", $"n_obs",
          Fns.roundU($"__n" * p, 2).as("expected"),
          Fns.roundU(($"n_obs" - $"__n" * p) * ($"n_obs" - $"__n" * p)
            / ($"__n" * p), 4).as("chi2_term"))
        .orderBy($"digit")
    }, Some(
      """WITH c AS (
        |  SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS c
        |  FROM orders),
        |dg AS (
        |  SELECT CASE
        |    WHEN c >= 1000000000 THEN c // 1000000000
        |    WHEN c >= 100000000 THEN c // 100000000
        |    WHEN c >= 10000000 THEN c // 10000000
        |    WHEN c >= 1000000 THEN c // 1000000
        |    WHEN c >= 100000 THEN c // 100000
        |    WHEN c >= 10000 THEN c // 10000
        |    WHEN c >= 1000 THEN c // 1000
        |    WHEN c >= 100 THEN c // 100
        |    WHEN c >= 10 THEN c // 10
        |    ELSE c END AS digit
        |  FROM c),
        |g AS (SELECT digit, CAST(count(*) AS BIGINT) AS n_obs FROM dg
        |  GROUP BY 1),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM c),
        |p AS (
        |  SELECT digit, n_obs, n, CAST(CASE digit
        |    WHEN 1 THEN 0.3010299956639812
        |    WHEN 2 THEN 0.17609125905568124
        |    WHEN 3 THEN 0.12493873660829992
        |    WHEN 4 THEN 0.09691001300805642
        |    WHEN 5 THEN 0.07918124604762482
        |    WHEN 6 THEN 0.06694678963061322
        |    WHEN 7 THEN 0.05799194697768673
        |    WHEN 8 THEN 0.05115252244738129
        |    WHEN 9 THEN 0.04575749056067514 END AS DOUBLE) AS pr
        |  FROM g, n)
        |SELECT digit, n_obs,
        |  floor(n * pr * 100 + 0.5) / 100.0 AS expected,
        |  floor((n_obs - n * pr) * (n_obs - n * pr) / (n * pr)
        |    * 10000 + 0.5) / 10000.0 AS chi2_term
        |FROM p ORDER BY digit""".stripMargin)),

    // INTERVAL JOIN WITHOUT AN EQUI-KEY — every order matched to every
    // OVERLAPPING promo window (IP-range/tax-bracket shape): the naive
    // plan is a cartesian with a BETWEEN residual; the scalable plan
    // is Joins.bucketedRangeJoin — day → bucket, each interval
    // replicated across the buckets it overlaps, pair generation as an
    // EQUI-join on bucket id (the 1-D sibling of q190's geo grid).
    // Promos derive deterministically from the nation table (spans
    // 10–69 days, bucket 32 → ≤3 copies each); the oracle runs the
    // plain BETWEEN join, and JoinsSpec pins bucketed == brute-force
    // on a fixture.
    QueryDef("q227_interval_join", (s, d) => {
      val promos = Tables.nation(s, d)
        .select($"n_nationkey".cast("long").as("promo_id"))
        .select($"promo_id", (($"promo_id" * 137) % 2400).as("lo"))
        .select($"promo_id", $"lo",
          ($"lo" + 10 + ($"promo_id" * 37) % 60).as("hi"))
      val ord = Tables.orders(s, d).select(
        datediff($"o_orderdate", to_date(lit("1992-01-01")))
          .cast("long").as("day"),
        floor($"o_totalprice" * 100 + 0.5).cast("long").as("cents"))
      Joins.bucketedRangeJoin(ord, $"day", promos, $"lo", $"hi", 32L)
        .groupBy($"promo_id", $"lo", $"hi")
        .agg(count(lit(1)).as("n_orders"), sum($"cents").as("rev_cents"))
        .orderBy($"promo_id")
    }, Some(
      """WITH promos AS (
        |  SELECT CAST(n_nationkey AS BIGINT) AS promo_id,
        |    CAST((n_nationkey * 137) % 2400 AS BIGINT) AS lo,
        |    CAST((n_nationkey * 137) % 2400
        |      + 10 + (n_nationkey * 37) % 60 AS BIGINT) AS hi
        |  FROM nation),
        |ord AS (
        |  SELECT date_diff('day', TIMESTAMP '1992-01-01', o_orderdate)
        |      AS day,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        |  FROM orders)
        |SELECT promo_id, lo, hi,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(cents) AS BIGINT) AS rev_cents
        |FROM ord JOIN promos ON day >= lo AND day <= hi
        |GROUP BY 1, 2, 3 ORDER BY promo_id""".stripMargin)),

    // TPC-H Q22 SHAPE — rich-but-dormant customers: above their
    // nation's average POSITIVE balance yet orderless. The schema has
    // no phone, so the country-code group is the nation; the plan
    // shape is Q22's: a bounded per-nation aggregate broadcast back,
    // the threshold as CROSS-MULTIPLIED integer cents (cents·n >
    // sum_cents — no double avg at the gate), and a LEFT ANTI against
    // RECENT orders (dormant = nothing since 2000 — the date-pruned
    // anti probe side). Readout per nation in exact cents divided
    // once.
    QueryDef("q230_dormant_rich", (s, d) => {
      val cust = Tables.customer(s, d).select($"c_custkey",
        $"c_nationkey".cast("long").as("nation"),
        floor($"c_acctbal" * 100 + 0.5).cast("long").as("__cents"))
      val pos = cust.filter($"__cents" > 0).groupBy($"nation")
        .agg(sum($"__cents").as("__s"), count(lit(1)).as("__n"))
      cust.join(broadcast(pos), Seq("nation"))
        .filter($"__cents" * $"__n" > $"__s")
        .join(Tables.orders(s, d)
          .filter($"o_orderdate" >= "2000-01-01")
          .select($"o_custkey"),
          $"c_custkey" === $"o_custkey", "left_anti")
        .groupBy($"nation")
        .agg(count(lit(1)).as("n_cust"),
          Fns.roundU(sum($"__cents").cast("double") / 100, 2)
            .as("total_bal"))
        .orderBy($"nation")
    }, Some(
      """WITH cust AS (
        |  SELECT c_custkey, CAST(c_nationkey AS BIGINT) AS nation,
        |    CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS cents
        |  FROM customer),
        |pos AS (
        |  SELECT nation, CAST(sum(cents) AS BIGINT) AS s,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM cust WHERE cents > 0 GROUP BY 1),
        |rich AS (
        |  SELECT c.c_custkey, c.nation, c.cents
        |  FROM cust c JOIN pos p ON c.nation = p.nation
        |  WHERE c.cents * p.n > p.s),
        |dormant AS (
        |  SELECT * FROM rich r WHERE NOT EXISTS (
        |    SELECT 1 FROM orders o WHERE o.o_custkey = r.c_custkey
        |      AND o.o_orderdate >= TIMESTAMP '2000-01-01'))
        |SELECT nation, CAST(count(*) AS BIGINT) AS n_cust,
        |  floor(CAST(sum(cents) AS DOUBLE) / 100 * 100 + 0.5) / 100.0
        |    AS total_bal
        |FROM dormant GROUP BY 1 ORDER BY nation""".stripMargin)),

    // TPC-H Q20 SHAPE — dominant suppliers of SMALL-type parts: a
    // supplier qualifies when its 1995 shipped share of some small
    // part exceeds 30% (cross-multiplied integers: 10·q > 3·total —
    // quantities are exact small ints). Nested-semi-join plan:
    // per-(part,supp) aggregate → per-part total joined back → the
    // qualifying supplier set LEFT SEMI-joins the supplier dim; the
    // part-type filter broadcasts onto the fact scan.
    QueryDef("q231_dominant_suppliers", (s, d) => {
      val small = Tables.part(s, d).filter($"p_type" === "SMALL")
        .select($"p_partkey")
      val qty = Tables.lineitem(s, d)
        .filter($"l_shipdate" >= "1995-01-01" &&
          $"l_shipdate" < "1996-01-01")
        .join(broadcast(small), $"l_partkey" === $"p_partkey")
        .groupBy($"l_partkey", $"l_suppkey")
        .agg(sum($"l_quantity".cast("long")).as("__q"))
      val tot = qty.groupBy($"l_partkey").agg(sum($"__q").as("__tq"))
      val dom = qty.join(tot, Seq("l_partkey"))
        .filter($"__q" * 10 > $"__tq" * 3)
        .select($"l_suppkey").distinct()
      Tables.supplier(s, d)
        .join(dom, $"s_suppkey" === $"l_suppkey", "left_semi")
        .select($"s_suppkey", $"s_name", $"s_nationkey".cast("long")
          .as("nation"))
        .orderBy($"s_suppkey")
    }, Some(
      """WITH qty AS (
        |  SELECT l_partkey, l_suppkey,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_type = 'SMALL'
        |    AND l_shipdate >= TIMESTAMP '1995-01-01'
        |    AND l_shipdate < TIMESTAMP '1996-01-01'
        |  GROUP BY 1, 2),
        |tot AS (
        |  SELECT l_partkey, CAST(sum(q) AS BIGINT) AS tq
        |  FROM qty GROUP BY 1),
        |dom AS (
        |  SELECT DISTINCT l_suppkey
        |  FROM qty JOIN tot USING (l_partkey)
        |  WHERE q * 10 > tq * 3)
        |SELECT s_suppkey, s_name, CAST(s_nationkey AS BIGINT) AS nation
        |FROM supplier WHERE s_suppkey IN (SELECT l_suppkey FROM dom)
        |ORDER BY s_suppkey""".stripMargin)),

    // TPC-H Q4 shape — ORDER PRIORITY CHECKING: orders in a one-year
    // window that had at least one returned line, counted by priority.
    // The EXISTS is a LEFT-SEMI join on the order key: the lineitem
    // side is pre-filtered to returnflag='R' (scan-level pushdown)
    // and deduplicates inside the semi-join build — never a join-then-
    // distinct. Both sides shuffle once on l_orderkey; the aggregate
    // is 5 groups with map-side combine.
    QueryDef("q238_priority_semi", (s, d) => {
      val o = Tables.orders(s, d)
        .filter($"o_orderdate" >= lit("1996-01-01").cast("timestamp") &&
          $"o_orderdate" < lit("1997-01-01").cast("timestamp"))
      val ret = Tables.lineitem(s, d)
        .filter($"l_returnflag" === "R").select($"l_orderkey")
      o.join(ret, $"o_orderkey" === $"l_orderkey", "left_semi")
        .groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("n_orders"))
        .orderBy($"o_orderpriority")
    }, Some(
      """SELECT o_orderpriority, count(*) AS n_orders
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |    WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin)),

    // TPC-H Q7 shape — VOLUME SHIPPING between a nation pair, by ship
    // year, in both directions. Supplier/nation broadcast (bounded
    // dims at this schema's scale); orders and customer are scaling
    // dims, so the fact reaches them through shuffle hash joins on
    // their own keys — never broadcast-by-hope. Revenue rides the
    // EXACT integer path: cents(extprice) × (100 − pct(discount)) is
    // a lossless long in 1e-4 currency units, so the per-group sum is
    // summation-order-independent and the final double division is
    // bit-identical on both engines (no rounding boundary to sit on).
    QueryDef("q239_volume_shipping", (s, d) => {
      val n = Tables.nation(s, d)
      val li = Tables.lineitem(s, d).select($"l_orderkey", $"l_suppkey",
        year($"l_shipdate").as("l_year"),
        (floor($"l_extendedprice" * 100 + 0.5).cast("long") *
          (lit(100L) - floor($"l_discount" * 100 + 0.5).cast("long")))
          .as("__rev4"))
      val sn = Tables.supplier(s, d)
        .join(broadcast(n), $"s_nationkey" === $"n_nationkey")
        .select($"s_suppkey", $"n_name".as("supp_nation"))
      val cn = Tables.customer(s, d)
        .join(broadcast(n), $"c_nationkey" === $"n_nationkey")
        .select($"c_custkey", $"n_name".as("cust_nation"))
      val oc = Tables.orders(s, d).select($"o_orderkey", $"o_custkey")
        .join(cn, $"o_custkey" === $"c_custkey")
        .select($"o_orderkey", $"cust_nation")
      li.join(broadcast(sn), $"l_suppkey" === $"s_suppkey")
        .join(oc, $"l_orderkey" === $"o_orderkey")
        .filter(($"supp_nation" === "NATION_1" &&
            $"cust_nation" === "NATION_2") ||
          ($"supp_nation" === "NATION_2" &&
            $"cust_nation" === "NATION_1"))
        .groupBy($"supp_nation", $"cust_nation", $"l_year")
        .agg(sum($"__rev4").as("__r"))
        .select($"supp_nation", $"cust_nation", $"l_year",
          ($"__r".cast("double") / 10000.0).as("revenue"))
        .orderBy($"supp_nation", $"cust_nation", $"l_year")
    }, Some(
      """WITH li AS (
        |  SELECT l_orderkey, l_suppkey,
        |    CAST(year(l_shipdate) AS INT) AS l_year,
        |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) *
        |      (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT))
        |      AS rev4
        |  FROM lineitem)
        |SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
        |  l_year, CAST(CAST(sum(rev4) AS BIGINT) AS DOUBLE) / 10000.0
        |    AS revenue
        |FROM li
        |JOIN supplier s ON li.l_suppkey = s.s_suppkey
        |JOIN nation sn ON s.s_nationkey = sn.n_nationkey
        |JOIN orders o ON li.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation cn ON c.c_nationkey = cn.n_nationkey
        |WHERE (sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
        |   OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1')
        |GROUP BY 1, 2, 3
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin)),

    // TPC-H Q9 shape — PRODUCT TYPE PROFIT by supplier nation and
    // order year. No partsupp/supplycost in this schema, so cost is
    // the deterministic proxy 50% of retail per unit — kept EXACT:
    // profit4 = cents(extprice)·(100−pct) − cents(retail)·qty·50,
    // all integer. The part filter (name contains 'widget') prunes at
    // the scan before the partkey shuffle join; supplier+nation
    // broadcast; the order-date lookup is a second fact shuffle on
    // the order key.
    QueryDef("q240_product_profit", (s, d) => {
      val p = Tables.part(s, d)
        .filter($"p_name".contains("widget"))
        .select($"p_partkey",
          floor($"p_retailprice" * 100 + 0.5).cast("long").as("__rc"))
      val sn = Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d)),
          $"s_nationkey" === $"n_nationkey")
        .select($"s_suppkey", $"n_name")
      val o = Tables.orders(s, d)
        .select($"o_orderkey", year($"o_orderdate").as("o_year"))
      Tables.lineitem(s, d)
        .select($"l_orderkey", $"l_partkey", $"l_suppkey",
          $"l_quantity".cast("long").as("__q"),
          (floor($"l_extendedprice" * 100 + 0.5).cast("long") *
            (lit(100L) - floor($"l_discount" * 100 + 0.5).cast("long")))
            .as("__rev4"))
        .join(p, $"l_partkey" === $"p_partkey")
        .join(broadcast(sn), $"l_suppkey" === $"s_suppkey")
        .join(o, $"l_orderkey" === $"o_orderkey")
        .groupBy($"n_name", $"o_year")
        .agg(sum($"__rev4" - $"__rc" * $"__q" * 50L).as("__p"))
        .select($"n_name", $"o_year",
          ($"__p".cast("double") / 10000.0).as("profit"))
        .orderBy($"n_name", $"o_year".desc)
    }, Some(
      """WITH li AS (
        |  SELECT l_orderkey, l_partkey, l_suppkey,
        |    CAST(l_quantity AS BIGINT) AS q,
        |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) *
        |      (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT))
        |      AS rev4
        |  FROM lineitem)
        |SELECT n.n_name, CAST(year(o.o_orderdate) AS INT) AS o_year,
        |  CAST(CAST(sum(li.rev4 -
        |    CAST(floor(p.p_retailprice * 100 + 0.5) AS BIGINT)
        |    * li.q * 50) AS BIGINT) AS DOUBLE) / 10000.0 AS profit
        |FROM li
        |JOIN part p ON li.l_partkey = p.p_partkey
        |JOIN supplier s ON li.l_suppkey = s.s_suppkey
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |JOIN orders o ON li.l_orderkey = o.o_orderkey
        |WHERE p.p_name LIKE '%widget%'
        |GROUP BY 1, 2 ORDER BY n_name, o_year DESC""".stripMargin)),

    // TPC-H Q10 shape — RETURNED ITEM REPORTING: top 20 customers by
    // revenue lost to returns in a quarter. Ranking and the reported
    // value both ride the exact 1e-4-unit long sum, so the top-20 cut
    // can never flip on a summation-order ulp; custkey breaks exact
    // ties. TakeOrdered(20) — a bounded per-partition heap, no global
    // sort at any scale.
    QueryDef("q241_returned_items", (s, d) => {
      val o = Tables.orders(s, d)
        .filter($"o_orderdate" >= lit("1996-10-01").cast("timestamp") &&
          $"o_orderdate" < lit("1997-01-01").cast("timestamp"))
        .select($"o_orderkey", $"o_custkey")
      val li = Tables.lineitem(s, d)
        .filter($"l_returnflag" === "R")
        .select($"l_orderkey",
          (floor($"l_extendedprice" * 100 + 0.5).cast("long") *
            (lit(100L) - floor($"l_discount" * 100 + 0.5).cast("long")))
            .as("__rev4"))
      li.join(o, $"l_orderkey" === $"o_orderkey")
        .groupBy($"o_custkey").agg(sum($"__rev4").as("__r"))
        .join(Tables.customer(s, d),
          $"o_custkey" === $"c_custkey")
        .select($"c_custkey", $"c_name", $"c_mktsegment",
          ($"__r".cast("double") / 10000.0).as("revenue"), $"__r")
        .orderBy($"__r".desc, $"c_custkey")
        .limit(20)
        .drop("__r")
    }, Some(
      """WITH r AS (
        |  SELECT o_custkey, CAST(sum(
        |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) *
        |    (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT)))
        |    AS BIGINT) AS r4
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE l_returnflag = 'R'
        |    AND o_orderdate >= TIMESTAMP '1996-10-01'
        |    AND o_orderdate < TIMESTAMP '1997-01-01'
        |  GROUP BY 1)
        |SELECT c_custkey, c_name, c_mktsegment,
        |  CAST(r4 AS DOUBLE) / 10000.0 AS revenue
        |FROM r JOIN customer ON o_custkey = c_custkey
        |ORDER BY r4 DESC, c_custkey LIMIT 20""".stripMargin)),

    // TPC-H Q12 shape — LINE PRIORITY AUDIT (no shipmode column here;
    // returnflag plays the mode bucket): lines shipped in 1996,
    // counting high- vs low-priority orders per bucket. One fact
    // shuffle on the order key, conditional map-side aggregate.
    QueryDef("q242_shipmode_priority", (s, d) => {
      val o = Tables.orders(s, d).select($"o_orderkey", $"o_orderpriority")
      Tables.lineitem(s, d)
        .filter($"l_shipdate" >= lit("1996-01-01").cast("timestamp") &&
          $"l_shipdate" < lit("1997-01-01").cast("timestamp"))
        .select($"l_orderkey", $"l_returnflag")
        .join(o, $"l_orderkey" === $"o_orderkey")
        .groupBy($"l_returnflag")
        .agg(sum(when($"o_orderpriority" === "1-URGENT" ||
            $"o_orderpriority" === "2-HIGH", 1L).otherwise(0L))
            .as("high_line_count"),
          sum(when($"o_orderpriority" =!= "1-URGENT" &&
            $"o_orderpriority" =!= "2-HIGH", 1L).otherwise(0L))
            .as("low_line_count"))
        .orderBy($"l_returnflag")
    }, Some(
      """SELECT l_returnflag,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority NOT IN
        |    ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |GROUP BY 1 ORDER BY l_returnflag""".stripMargin)),

    // TPC-H Q13 shape — CUSTOMER ORDER-COUNT DISTRIBUTION: how many
    // customers placed exactly k qualifying orders, INCLUDING k=0 —
    // the left-outer join whose unmatched rows are the point of the
    // query (count(o_orderkey) skips the nulls). Two aggregations:
    // per-customer (fact-sized shuffle) then per-count (≤ a few
    // hundred groups).
    QueryDef("q243_cust_distribution", (s, d) => {
      val o = Tables.orders(s, d)
        .filter($"o_orderpriority" =!= "4-NOT SPECIFIED")
        .select($"o_orderkey", $"o_custkey")
      Tables.customer(s, d).select($"c_custkey")
        .join(o, $"c_custkey" === $"o_custkey", "left_outer")
        .groupBy($"c_custkey")
        .agg(count($"o_orderkey").as("c_count"))
        .groupBy($"c_count")
        .agg(count(lit(1)).as("custdist"))
        .orderBy($"custdist".desc, $"c_count".desc)
    }, Some(
      """WITH pc AS (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |    AND o_orderpriority <> '4-NOT SPECIFIED'
        |  GROUP BY 1)
        |SELECT c_count, count(*) AS custdist
        |FROM pc GROUP BY 1
        |ORDER BY custdist DESC, c_count DESC""".stripMargin)),

    // TPC-H Q14 shape — PROMOTION EFFECT: the share of one month's
    // revenue from PROMO-type parts. Both the numerator and the
    // denominator are exact 1e-4-unit longs, so the single division
    // (and hence the single output row) is bit-identical across
    // engines — a ratio of two doubles summed in engine-specific
    // order would not be. Part lookup is a partkey shuffle join after
    // the one-month scan prune.
    QueryDef("q244_promo_revenue", (s, d) => {
      val p = Tables.part(s, d).select($"p_partkey", $"p_type")
      Tables.lineitem(s, d)
        .filter($"l_shipdate" >= lit("1997-09-01").cast("timestamp") &&
          $"l_shipdate" < lit("1997-10-01").cast("timestamp"))
        .select($"l_partkey",
          (floor($"l_extendedprice" * 100 + 0.5).cast("long") *
            (lit(100L) - floor($"l_discount" * 100 + 0.5).cast("long")))
            .as("__rev4"))
        .join(p, $"l_partkey" === $"p_partkey")
        .agg(sum(when($"p_type" === "PROMO", $"__rev4").otherwise(0L))
            .as("__pr"),
          sum($"__rev4").as("__tr"), count(lit(1)).as("n_lines"))
        .select((lit(100.0) * $"__pr".cast("double") /
            $"__tr".cast("double")).as("promo_pct"),
          $"n_lines")
    }, Some(
      """WITH li AS (
        |  SELECT l_partkey,
        |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) *
        |      (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT))
        |      AS rev4
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-09-01'
        |    AND l_shipdate < TIMESTAMP '1997-10-01')
        |SELECT 100.0 * CAST(CAST(sum(CASE WHEN p_type = 'PROMO'
        |      THEN rev4 ELSE 0 END) AS BIGINT) AS DOUBLE) /
        |    CAST(CAST(sum(rev4) AS BIGINT) AS DOUBLE) AS promo_pct,
        |  count(*) AS n_lines
        |FROM li JOIN part ON l_partkey = p_partkey""".stripMargin)),

    // TPC-H Q16 shape — PARTS/SUPPLIER RELATIONSHIP: how many
    // distinct suppliers can supply each surviving (brand, type,
    // size) combo. The supplies relation is lineitem's DISTINCT
    // (part, supp) pairs (no partsupp table in this schema); the
    // supplier denylist (negative balance, the complaints stand-in)
    // is a broadcast LEFT-ANTI; count(DISTINCT) rides Spark's expand
    // path on already-distinct pairs.
    QueryDef("q245_parts_supplier", (s, d) => {
      val sizes = Seq(1, 4, 9, 16, 25, 36, 49)
      val p = Tables.part(s, d)
        .filter($"p_brand" =!= "Brand#3" && $"p_type" =!= "PROMO" &&
          $"p_size".isin(sizes: _*))
        .select($"p_partkey", $"p_brand", $"p_type", $"p_size")
      val bad = Tables.supplier(s, d)
        .filter($"s_acctbal" < 0).select($"s_suppkey")
      Tables.lineitem(s, d)
        .select($"l_partkey", $"l_suppkey").distinct()
        .join(broadcast(bad), $"l_suppkey" === $"s_suppkey", "left_anti")
        .join(p, $"l_partkey" === $"p_partkey")
        .groupBy($"p_brand", $"p_type", $"p_size")
        .agg(countDistinct($"l_suppkey").as("supplier_cnt"))
        .orderBy($"supplier_cnt".desc, $"p_brand", $"p_type", $"p_size")
    }, Some(
      """SELECT p_brand, p_type, p_size,
        |  count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) sp
        |JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#3' AND p_type <> 'PROMO'
        |  AND p_size IN (1, 4, 9, 16, 25, 36, 49)
        |  AND l_suppkey NOT IN
        |    (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin)),

    // TPC-H Q18 shape — LARGE-VOLUME CUSTOMERS: orders whose total
    // quantity clears a threshold, with customer attribution. The
    // qualifying set is a fact aggregate (quantities are integral
    // doubles — the long sum is exact), joined back to orders and
    // customer on their natural keys; top 100 by a pass-through
    // totalprice (identical bits on both engines) with key tiebreaks
    // via TakeOrdered.
    QueryDef("q246_large_orders", (s, d) => {
      val big = Tables.lineitem(s, d)
        .groupBy($"l_orderkey")
        .agg(sum($"l_quantity".cast("long")).as("total_qty"))
        .filter($"total_qty" > 300L)
      Tables.orders(s, d)
        .join(big, $"o_orderkey" === $"l_orderkey")
        .join(Tables.customer(s, d), $"o_custkey" === $"c_custkey")
        .select($"c_name", $"c_custkey", $"o_orderkey",
          date_format($"o_orderdate", "yyyy-MM-dd").as("o_date"),
          $"o_totalprice", $"total_qty")
        .orderBy($"o_totalprice".desc, $"o_orderkey")
        .limit(100)
    }, Some(
      """WITH big AS (
        |  SELECT l_orderkey,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT)
        |      AS total_qty
        |  FROM lineitem GROUP BY 1
        |  HAVING sum(CAST(l_quantity AS BIGINT)) > 300)
        |SELECT c_name, c_custkey, o_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS o_date,
        |  o_totalprice, total_qty
        |FROM orders JOIN big ON o_orderkey = l_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin)),

    // TPC-H Q19 shape — DISJUNCTIVE DISCOUNTED REVENUE: three
    // (brand, size-range, quantity-range) OR branches. The join is a
    // plain partkey equi-join; the disjunction is a post-join filter
    // whose part-side conjuncts (brand ∈ {..}, size ≤ 15) still
    // prune the part scan — the plan guard asserts the pushed
    // filter. Single exact-integer output row.
    QueryDef("q247_disjunctive_revenue", (s, d) => {
      val p = Tables.part(s, d)
        .filter($"p_brand".isin("Brand#12", "Brand#23", "Brand#34") &&
          $"p_size" >= 1 && $"p_size" <= 15)
        .select($"p_partkey", $"p_brand", $"p_size")
      Tables.lineitem(s, d)
        .select($"l_partkey", $"l_quantity",
          (floor($"l_extendedprice" * 100 + 0.5).cast("long") *
            (lit(100L) - floor($"l_discount" * 100 + 0.5).cast("long")))
            .as("__rev4"))
        .join(p, $"l_partkey" === $"p_partkey")
        .filter(($"p_brand" === "Brand#12" && $"p_size" <= 5 &&
            $"l_quantity" >= 1 && $"l_quantity" <= 11) ||
          ($"p_brand" === "Brand#23" && $"p_size" <= 10 &&
            $"l_quantity" >= 10 && $"l_quantity" <= 20) ||
          ($"p_brand" === "Brand#34" && $"p_size" <= 15 &&
            $"l_quantity" >= 20 && $"l_quantity" <= 30))
        .agg(sum($"__rev4").as("__r"), count(lit(1)).as("n_lines"))
        .select(($"__r".cast("double") / 10000.0).as("revenue"),
          $"n_lines")
    }, Some(
      """WITH j AS (
        |  SELECT p_brand, p_size, l_quantity,
        |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) *
        |      (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT))
        |      AS rev4
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_brand IN ('Brand#12', 'Brand#23', 'Brand#34')
        |    AND p_size BETWEEN 1 AND 15)
        |SELECT CAST(CAST(sum(rev4) AS BIGINT) AS DOUBLE) / 10000.0
        |    AS revenue,
        |  count(*) AS n_lines
        |FROM j
        |WHERE (p_brand = 'Brand#12' AND p_size <= 5
        |    AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#23' AND p_size <= 10
        |    AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#34' AND p_size <= 15
        |    AND l_quantity BETWEEN 20 AND 30)""".stripMargin)),

    // TPC-H Q15 shape — TOP SUPPLIER(S) by quarterly revenue, ties
    // kept: per-supplier exact revenue, the maximum as a broadcast
    // 1-row aggregate (the view+subquery of the original), equality
    // join back. No global sort; the max is order-independent because
    // the sum is an integer.
    QueryDef("q248_top_supplier", (s, d) => {
      val rev = Tables.lineitem(s, d)
        .filter($"l_shipdate" >= lit("1996-01-01").cast("timestamp") &&
          $"l_shipdate" < lit("1996-04-01").cast("timestamp"))
        .groupBy($"l_suppkey")
        .agg(sum(floor($"l_extendedprice" * 100 + 0.5).cast("long") *
          (lit(100L) - floor($"l_discount" * 100 + 0.5).cast("long")))
          .as("__r4"))
      val mx = rev.agg(max($"__r4").as("__mx"))
      rev.crossJoin(broadcast(mx)).filter($"__r4" === $"__mx")
        .join(broadcast(Tables.supplier(s, d)),
          $"l_suppkey" === $"s_suppkey")
        .select($"s_suppkey", $"s_name",
          ($"__r4".cast("double") / 10000.0).as("total_revenue"))
        .orderBy($"s_suppkey")
    }, Some(
      """WITH rev AS (
        |  SELECT l_suppkey, CAST(sum(
        |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) *
        |    (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT)))
        |    AS BIGINT) AS r4
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY 1)
        |SELECT s_suppkey, s_name, CAST(r4 AS DOUBLE) / 10000.0
        |  AS total_revenue
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE r4 = (SELECT max(r4) FROM rev)
        |ORDER BY s_suppkey""".stripMargin)),

    // KMV (k-minimum-values) DISTINCT-COUNT SKETCH, fully oracled —
    // the mergeable distinct estimator (Bar-Yossef et al. 2002,
    // public) whose sketch is just the k smallest hash values: merge =
    // k-min of a union, estimate = (k−1)·p/h_k. Unlike HLL (q31,
    // engine-specific hash → rows-only check), the hash here is a
    // UNIVERSAL integer hash (a·x+b mod p, Mersenne prime 2³¹−1) both
    // engines compute bit-identically, so the estimates themselves are
    // oracle-checked. Scale: distinct(flag, part) is one map-side-
    // combine shuffle; the k smallest per group ride TopKPerKey's
    // bounded per-partition heap (never a per-group sort — the oracle
    // uses the window form, DuckDB's problem); everything after is
    // ≤ k·groups rows. The 'ALL' row demonstrates the merge property:
    // k-min over the union equals the merged per-group sketches.
    QueryDef("q250_kmv_distinct", (s, d) => {
      val (a, b, p, k) = (1000003L, 12345L, 2147483647L, 128)
      val li = Tables.lineitem(s, d).select($"l_returnflag", $"l_partkey")
      val keyed = li.union(li.select(lit("ALL"), $"l_partkey"))
      val dp = keyed.distinct()
        .select($"l_returnflag",
          (($"l_partkey" * a + b) % p).as("__hv"))
        .distinct()
      val mins = graft.plans.TopKPerKey(dp, Seq("l_returnflag"),
        Seq($"__hv".asc), k)
      val sk = mins.groupBy($"l_returnflag")
        .agg(count(lit(1)).as("__nk"), max($"__hv").as("__hk"))
      val exact = keyed.groupBy($"l_returnflag")
        .agg(countDistinct($"l_partkey").as("n_exact"))
      exact.join(sk, Seq("l_returnflag"))
        .select($"l_returnflag", $"n_exact",
          when($"__nk" < k, $"__nk".cast("double"))
            .otherwise(lit(((k - 1).toLong * p).toDouble) /
              $"__hk".cast("double")).as("kmv_est"))
        .withColumn("rel_err_pct", Fns.roundU(
          abs($"kmv_est" - $"n_exact".cast("double")) /
            $"n_exact".cast("double") * 100, 4))
        .orderBy($"l_returnflag")
    },
    // KMV oracle: same universal hash, k-th smallest via a window
    // (correctness-only engine — the Spark side uses the bounded heap)
    Some(
      """WITH keyed AS (
        |  SELECT l_returnflag, l_partkey FROM lineitem
        |  UNION ALL
        |  SELECT 'ALL', l_partkey FROM lineitem),
        |dp AS (
        |  SELECT DISTINCT l_returnflag,
        |    (l_partkey * 1000003 + 12345) % 2147483647 AS hv
        |  FROM (SELECT DISTINCT l_returnflag, l_partkey FROM keyed)),
        |rk AS (
        |  SELECT l_returnflag, hv, row_number() OVER (
        |    PARTITION BY l_returnflag ORDER BY hv) AS r
        |  FROM dp),
        |sk AS (
        |  SELECT l_returnflag, count(*) AS nk,
        |    max(CASE WHEN r = 128 THEN hv END) AS hk
        |  FROM rk WHERE r <= 128 GROUP BY 1),
        |ex AS (
        |  SELECT l_returnflag, count(DISTINCT l_partkey) AS n_exact
        |  FROM keyed GROUP BY 1)
        |SELECT ex.l_returnflag, n_exact,
        |  CASE WHEN nk < 128 THEN CAST(nk AS DOUBLE)
        |    ELSE CAST(127 * CAST(2147483647 AS BIGINT) AS DOUBLE) / CAST(hk AS DOUBLE)
        |  END AS kmv_est,
        |  floor(abs(CASE WHEN nk < 128 THEN CAST(nk AS DOUBLE)
        |      ELSE CAST(127 * CAST(2147483647 AS BIGINT) AS DOUBLE) / CAST(hk AS DOUBLE)
        |      END - CAST(n_exact AS DOUBLE)) / CAST(n_exact AS DOUBLE)
        |    * 100 * 10000 + 0.5) / 10000.0 AS rel_err_pct
        |FROM ex JOIN sk ON ex.l_returnflag = sk.l_returnflag
        |ORDER BY 1""".stripMargin)),

    // GROUP-WISE MODE (argmax) — the most frequent order priority per
    // customer nation, by the ONE-AGGREGATE argmax pattern:
    // max(struct(count, key)) picks the winner inside the hash
    // aggregate with map-side combine — no per-group sort, no window,
    // no second shuffle of the counted table. Tiebreak is part of the
    // struct ordering (largest key among equal counts), mirrored in
    // the oracle's window ORDER BY. Two bounded shuffles total:
    // (nation, priority) counts, then 25-row argmax.
    QueryDef("q252_group_mode", (s, d) => {
      val cn = Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)),
          $"c_nationkey" === $"n_nationkey")
        .select($"c_custkey", $"n_name")
      val counts = Tables.orders(s, d)
        .join(cn, $"o_custkey" === $"c_custkey")
        .groupBy($"n_name", $"o_orderpriority")
        .agg(count(lit(1)).as("__c"))
      counts.groupBy($"n_name")
        .agg(max(struct($"__c", $"o_orderpriority")).as("__m"))
        .select($"n_name", $"__m.o_orderpriority".as("mode_priority"),
          $"__m.__c".as("n_orders"))
        .orderBy($"n_name")
    }, Some(
      """WITH counts AS (
        |  SELECT n_name, o_orderpriority, count(*) AS c
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY 1, 2),
        |rk AS (
        |  SELECT n_name, o_orderpriority, c, row_number() OVER (
        |    PARTITION BY n_name
        |    ORDER BY c DESC, o_orderpriority DESC) AS r
        |  FROM counts)
        |SELECT n_name, o_orderpriority AS mode_priority, c AS n_orders
        |FROM rk WHERE r = 1 ORDER BY n_name""".stripMargin)),

    // KMV SET ALGEBRA — the point of a mergeable sketch: union and
    // intersection distinct-count ESTIMATES for two part sets
    // (returned vs non-returned) from their k-min sketches alone.
    // Merge = k smallest of the two sketches' union (never re-scans
    // the data); intersection rides the standard ρ·û estimator where
    // ρ is the fraction of the union sketch present in BOTH input
    // sketches. After the two bounded TopKPerKey heaps everything is
    // ≤ 2k rows. Same cross-engine universal hash as q250, so all
    // four estimates sit under the oracle.
    QueryDef("q253_kmv_setops", (s, d) => {
      val (ha, hb, p, k) = (1000003L, 12345L, 2147483647L, 128)
      def sketch(flag: String) =
        graft.plans.TopKPerKey(
          Tables.lineitem(s, d).filter($"l_returnflag" === flag)
            .select((($"l_partkey" * ha + hb) % p).as("__hv"))
            .distinct().withColumn("__g", lit(1)),
          Seq("__g"), Seq($"__hv".asc), k)
          .select($"__hv")
      val ka = sketch("R").withColumn("__inA", lit(1L))
      val kb = sketch("N").withColumn("__inB", lit(1L))
      val ku = graft.plans.TopKPerKey(
        ka.select($"__hv").union(kb.select($"__hv")).distinct()
          .withColumn("__g", lit(1)),
        Seq("__g"), Seq($"__hv".asc), k)
        .select($"__hv")
      val sk = ku.join(broadcast(ka), Seq("__hv"), "left")
        .join(broadcast(kb), Seq("__hv"), "left")
        .agg(count(lit(1)).as("__nk"), max($"__hv").as("__hk"),
          sum(when($"__inA".isNotNull && $"__inB".isNotNull, 1L)
            .otherwise(0L)).as("__both"))
      val exact = Tables.lineitem(s, d)
        .filter($"l_returnflag".isin("R", "N"))
        .select($"l_partkey", $"l_returnflag").distinct()
        .groupBy($"l_partkey")
        .agg(count(lit(1)).as("__nf"))
        .agg(count(lit(1)).as("exact_union"),
          sum(when($"__nf" === 2, 1L).otherwise(0L)).as("exact_inter"))
      exact.crossJoin(broadcast(sk))
        .withColumn("__eu", when($"__nk" < k, $"__nk".cast("double"))
          .otherwise(lit(((k - 1).toLong * p).toDouble) /
            $"__hk".cast("double")))
        .select($"exact_union", $"exact_inter",
          Fns.roundU($"__eu", 2).as("kmv_union"),
          Fns.roundU($"__both".cast("double") / k * $"__eu", 2)
            .as("kmv_inter"))
    }, Some(
      """WITH ha AS (
        |  SELECT DISTINCT (l_partkey * 1000003 + 12345) % 2147483647
        |    AS hv FROM lineitem WHERE l_returnflag = 'R'),
        |ka AS (SELECT hv FROM (SELECT hv,
        |  row_number() OVER (ORDER BY hv) AS r FROM ha) WHERE r <= 128),
        |hb AS (
        |  SELECT DISTINCT (l_partkey * 1000003 + 12345) % 2147483647
        |    AS hv FROM lineitem WHERE l_returnflag = 'N'),
        |kb AS (SELECT hv FROM (SELECT hv,
        |  row_number() OVER (ORDER BY hv) AS r FROM hb) WHERE r <= 128),
        |cu AS (SELECT DISTINCT hv FROM
        |  (SELECT hv FROM ka UNION ALL SELECT hv FROM kb) u),
        |ku AS (SELECT hv FROM (SELECT hv,
        |  row_number() OVER (ORDER BY hv) AS r FROM cu) WHERE r <= 128),
        |ag AS (SELECT count(*) AS nk, max(hv) AS hk,
        |  CAST(sum(CASE WHEN hv IN (SELECT hv FROM ka)
        |    AND hv IN (SELECT hv FROM kb) THEN 1 ELSE 0 END)
        |    AS BIGINT) AS bo
        |  FROM ku),
        |ex AS (SELECT count(*) AS exact_union,
        |  CAST(sum(CASE WHEN nf = 2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS exact_inter
        |  FROM (SELECT l_partkey, count(DISTINCT l_returnflag) AS nf
        |    FROM lineitem WHERE l_returnflag IN ('R', 'N')
        |    GROUP BY 1)),
        |eu AS (SELECT nk, hk, bo,
        |  CASE WHEN nk < 128 THEN CAST(nk AS DOUBLE)
        |    ELSE CAST(127 * CAST(2147483647 AS BIGINT) AS DOUBLE)
        |      / CAST(hk AS DOUBLE) END AS euv
        |  FROM ag)
        |SELECT exact_union, exact_inter,
        |  floor(euv * 100 + 0.5) / 100.0 AS kmv_union,
        |  floor(CAST(bo AS DOUBLE) / 128 * euv * 100 + 0.5) / 100.0
        |    AS kmv_inter
        |FROM ex CROSS JOIN eu""".stripMargin)),

    // L-DIVERSITY AUDIT — q152's k-anonymity bounds re-identification
    // by class SIZE, but a class whose members all share the
    // SENSITIVE value still leaks it (the homogeneity attack).
    // Distinct-l diversity per equivalence class over the same
    // quasi-identifiers (nation, balance band), sensitive = market
    // segment — computed as TWO STACKED hash aggregates (class+value,
    // then class) instead of count(distinct)'s EXPAND: the q31
    // discipline, one shuffle each, partials map-side. Per nation:
    // classes and rows below l = 3 and the worst class's diversity.
    QueryDef("q257_l_diversity", (s, d) => {
      Tables.customer(s, d)
        .groupBy($"c_nationkey", floor($"c_acctbal" / 1000).as("__b"),
          $"c_mktsegment")
        .agg(count(lit(1)).as("__n"))
        .groupBy($"c_nationkey", $"__b")
        .agg(count(lit(1)).as("__l"), sum($"__n").as("__rows"))
        .groupBy($"c_nationkey")
        .agg(count(lit(1)).as("n_classes"),
          sum(when($"__l" < 3, 1L).otherwise(0L))
            .as("n_risky_classes"),
          sum(when($"__l" < 3, $"__rows").otherwise(0L))
            .as("n_risky_rows"),
          min($"__l").as("min_l"))
        .orderBy($"c_nationkey")
    },
    // q257: the same two stacked aggregates, spelled out
    Some(
      """WITH cls AS (
        |  SELECT c_nationkey, floor(c_acctbal / 1000) AS b,
        |    c_mktsegment, count(*) AS n
        |  FROM customer GROUP BY 1, 2, 3),
        |dv AS (
        |  SELECT c_nationkey, b, CAST(count(*) AS BIGINT) AS l,
        |    CAST(sum(n) AS BIGINT) AS nr
        |  FROM cls GROUP BY 1, 2)
        |SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_classes,
        |  CAST(sum(CASE WHEN l < 3 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_risky_classes,
        |  CAST(sum(CASE WHEN l < 3 THEN nr ELSE 0 END) AS BIGINT)
        |    AS n_risky_rows,
        |  min(l) AS min_l
        |FROM dv GROUP BY 1 ORDER BY c_nationkey""".stripMargin)),

    // HITS HUBS & AUTHORITIES — Kleinberg's coupled power iteration
    // over the directed customer→supplier trade graph, run
    // UNNORMALIZED so every score is an INTEGER PATH COUNT
    // (a₁ = in-degree, h₁(c) = Σ_{c→s} a₁(s), a₂(s) = Σ_{c→s} h₁(c)
    // — the number of c→s'→c'→s walk completions): normalization
    // divides every score by the same global scalar, so the ranking
    // is identical and the integer readout is the cross-engine-exact
    // form (no float in the hash path — the q123 discipline applied
    // to a graph algorithm). Two hash-join + hash-aggregate rounds
    // on the edge partitioning; top 20 authorities.
    QueryDef("q264_hits_authorities", (s, d) => {
      val e = Tables.lineitem(s, d)
        .join(Tables.orders(s, d), $"l_orderkey" === $"o_orderkey")
        .select($"o_custkey".as("cust"), $"l_suppkey".as("supp"))
        .distinct()
      val a1 = e.groupBy($"supp").agg(count(lit(1)).as("a1"))
      val h1 = e.join(a1, Seq("supp"))
        .groupBy($"cust").agg(sum($"a1").as("h1"))
      e.join(h1, Seq("cust"))
        .groupBy($"supp")
        .agg(count(lit(1)).as("indeg"), sum($"h1").as("a2"))
        .orderBy($"a2".desc, $"supp")
        .limit(20)
    },
    // q264: the two unnormalized HITS steps as plain aggregation
    // rounds — every score an integer walk count
    Some(
      """WITH e AS (
        |  SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |a1 AS (SELECT supp, CAST(count(*) AS BIGINT) AS a1
        |  FROM e GROUP BY 1),
        |h1 AS (
        |  SELECT e.cust, CAST(sum(a1.a1) AS BIGINT) AS h1
        |  FROM e JOIN a1 ON e.supp = a1.supp GROUP BY 1)
        |SELECT e.supp, CAST(count(*) AS BIGINT) AS indeg,
        |  CAST(sum(h1.h1) AS BIGINT) AS a2
        |FROM e JOIN h1 ON e.cust = h1.cust
        |GROUP BY 1 ORDER BY a2 DESC, supp LIMIT 20""".stripMargin)),

    // DATA-QUALITY SUITE — the dbt-test/Great-Expectations operator
    // class as ONE scan-bounded audit: a battery of integrity checks
    // (PK uniqueness as a two-level aggregate — never a
    // count-distinct EXPAND; FK orphans as left joins with the dim
    // broadcast; domain/range membership) plus policy checks that
    // flag real rows (quantity/price caps, freshness), emitted as a
    // uniform (check, n_checked, n_violations, pass) scorecard. Each
    // check is a one-row aggregate with map-side partials; the fact
    // tables are scanned once per check family, dimensions broadcast.
    QueryDef("q266_dq_suite", (s, d) => {
      val cust = Tables.customer(s, d)
      val ord = Tables.orders(s, d)
      val li = Tables.lineitem(s, d)
      def named(name: String, df: DataFrame): DataFrame =
        df.select(lit(name).as("check"), $"n_checked", $"n_violations")
      val checks = Seq(
        named("customer_pk_unique",
          cust.groupBy($"c_custkey").agg(count(lit(1)).as("__n"))
            .agg(sum($"__n").as("n_checked"),
              sum($"__n" - 1).as("n_violations"))),
        named("customer_segment_domain",
          cust.agg(count(lit(1)).as("n_checked"),
            sum(when(!$"c_mktsegment".isin("AUTOMOBILE", "HOUSEHOLD",
              "BUILDING", "FURNITURE", "MACHINERY"), 1L)
              .otherwise(0L)).as("n_violations"))),
        named("orders_custkey_fk",
          ord.select($"o_custkey")
            .join(broadcast(cust.select($"c_custkey")),
              $"o_custkey" === $"c_custkey", "left")
            .agg(count(lit(1)).as("n_checked"),
              sum(when($"c_custkey".isNull, 1L).otherwise(0L))
                .as("n_violations"))),
        named("orders_price_positive",
          ord.agg(count(lit(1)).as("n_checked"),
            sum(when($"o_totalprice" <= 0, 1L).otherwise(0L))
              .as("n_violations"))),
        named("orders_price_leq_500k_policy",
          ord.agg(count(lit(1)).as("n_checked"),
            sum(when($"o_totalprice" > 500000, 1L).otherwise(0L))
              .as("n_violations"))),
        named("orders_fresh_before_2001h2_policy",
          ord.agg(count(lit(1)).as("n_checked"),
            sum(when($"o_orderdate" >= "2001-07-01", 1L)
              .otherwise(0L)).as("n_violations"))),
        named("lineitem_orderkey_fk",
          li.select($"l_orderkey")
            .join(ord.select($"o_orderkey"),
              $"l_orderkey" === $"o_orderkey", "left")
            .agg(count(lit(1)).as("n_checked"),
              sum(when($"o_orderkey".isNull, 1L).otherwise(0L))
                .as("n_violations"))),
        named("lineitem_qty_in_1_50",
          li.agg(count(lit(1)).as("n_checked"),
            sum(when($"l_quantity" < 1 || $"l_quantity" > 50, 1L)
              .otherwise(0L)).as("n_violations"))),
        named("lineitem_qty_leq_45_policy",
          li.agg(count(lit(1)).as("n_checked"),
            sum(when($"l_quantity" > 45, 1L).otherwise(0L))
              .as("n_violations"))),
        named("lineitem_discount_in_0_10pct",
          li.agg(count(lit(1)).as("n_checked"),
            sum(when($"l_discount" < 0 || $"l_discount" > 0.10001, 1L)
              .otherwise(0L)).as("n_violations"))))
      checks.reduce(_ unionAll _)
        .withColumn("pass", $"n_violations" === 0)
        .orderBy($"check")
    },
    // q266: the same ten checks as one UNION ALL battery
    Some(
      """WITH all_checks AS (
        |  SELECT 'customer_pk_unique' AS chk,
        |    CAST(sum(n) AS BIGINT) AS n_checked,
        |    CAST(sum(n - 1) AS BIGINT) AS n_violations
        |  FROM (SELECT count(*) AS n FROM customer GROUP BY c_custkey)
        |  UNION ALL
        |  SELECT 'customer_segment_domain', CAST(count(*) AS BIGINT),
        |    CAST(sum(CASE WHEN c_mktsegment NOT IN ('AUTOMOBILE',
        |      'HOUSEHOLD', 'BUILDING', 'FURNITURE', 'MACHINERY')
        |      THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM customer
        |  UNION ALL
        |  SELECT 'orders_custkey_fk', CAST(count(*) AS BIGINT),
        |    CAST(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT)
        |  FROM orders o LEFT JOIN customer c
        |    ON o.o_custkey = c.c_custkey
        |  UNION ALL
        |  SELECT 'orders_price_positive', CAST(count(*) AS BIGINT),
        |    CAST(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END)
        |      AS BIGINT)
        |  FROM orders
        |  UNION ALL
        |  SELECT 'orders_price_leq_500k_policy',
        |    CAST(count(*) AS BIGINT),
        |    CAST(sum(CASE WHEN o_totalprice > 500000 THEN 1 ELSE 0
        |      END) AS BIGINT)
        |  FROM orders
        |  UNION ALL
        |  SELECT 'orders_fresh_before_2001h2_policy',
        |    CAST(count(*) AS BIGINT),
        |    CAST(sum(CASE WHEN o_orderdate >= '2001-07-01'
        |      THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM orders
        |  UNION ALL
        |  SELECT 'lineitem_orderkey_fk', CAST(count(*) AS BIGINT),
        |    CAST(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0
        |      END) AS BIGINT)
        |  FROM lineitem l LEFT JOIN orders o
        |    ON l.l_orderkey = o.o_orderkey
        |  UNION ALL
        |  SELECT 'lineitem_qty_in_1_50', CAST(count(*) AS BIGINT),
        |    CAST(sum(CASE WHEN l_quantity < 1 OR l_quantity > 50
        |      THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'lineitem_qty_leq_45_policy',
        |    CAST(count(*) AS BIGINT),
        |    CAST(sum(CASE WHEN l_quantity > 45 THEN 1 ELSE 0 END)
        |      AS BIGINT)
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'lineitem_discount_in_0_10pct',
        |    CAST(count(*) AS BIGINT),
        |    CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 0.10001
        |      THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM lineitem)
        |SELECT chk AS "check", n_checked, n_violations,
        |  n_violations = 0 AS pass
        |FROM all_checks ORDER BY chk""".stripMargin)),

    // INCREMENTAL VIEW MAINTENANCE (join view) — the delta algebra
    // for V = A ⋈ B aggregated, under BOTH a fact append (ΔA = 1996H1
    // orders) and a dimension payload update (ΔB = +$100 balance on
    // every custkey % 10 = 0, which can shift the balance BAND the
    // view groups by). The engine answers INCREMENTALLY:
    //   V' = V₀ + ΔA⋈B' − A₀[upd]⋈B_old + A₀[upd]⋈B_new
    // four aggregates over deltas and the affected slice only — never
    // a re-scan of unaffected history — folded with a sign column.
    // The oracle computes V' by FULL recompute ((A₀ ∪ ΔA) ⋈ B'), so
    // the hash equality IS the IVM correctness theorem on real data,
    // boundary band-shifts included. At 100 TB this is the difference
    // between touching |Δ| and touching everything.
    QueryDef("q271_join_ivm", (s, d) => {
      val cust = Tables.customer(s, d)
        .select($"c_custkey", $"c_nationkey", $"c_acctbal")
      val bOld = cust.withColumn("band",
        floor($"c_acctbal" / 1000).cast("long"))
      val bNew = cust.withColumn("c_acctbal",
          when($"c_custkey" % 10 === 0, $"c_acctbal" + 100)
            .otherwise($"c_acctbal"))
        .withColumn("band", floor($"c_acctbal" / 1000).cast("long"))
      val ords = Tables.orders(s, d)
        .select($"o_custkey", $"o_orderdate",
          floor($"o_totalprice" * 100 + 0.5).cast("long").as("__c"))
      val a0 = ords.filter($"o_orderdate" < "1996-01-01")
      val dA = ords.filter($"o_orderdate" >= "1996-01-01" &&
        $"o_orderdate" < "1996-07-01")
      def grp(fact: DataFrame, dim: DataFrame, sign: Long) =
        fact.join(broadcast(dim),
            fact("o_custkey") === dim("c_custkey"))
          .groupBy($"c_nationkey", $"band")
          .agg((sum($"__c") * sign).as("__v"),
            (count(lit(1)) * sign).as("__n"))
      val upd = $"c_custkey" % 10 === 0
      val terms = Seq(
        grp(a0, bOld, 1L),                      // V0
        grp(dA, bNew, 1L),                      // ΔA ⋈ B'
        grp(a0, bOld.filter(upd), -1L),         // − A0[upd] ⋈ B_old
        grp(a0, bNew.filter(upd), 1L))          // + A0[upd] ⋈ B_new
      terms.reduce(_ unionAll _)
        .groupBy($"c_nationkey", $"band")
        .agg(sum($"__v").as("revenue_cents"), sum($"__n").as("n_rows"))
        .filter($"n_rows" > 0)
        .orderBy($"c_nationkey", $"band")
    },
    // q271: FULL RECOMPUTE — (A0 ∪ ΔA) ⋈ B'; equality with the
    // engine's incremental fold is the IVM theorem under test
    Some(
      """WITH bnew AS (
        |  SELECT c_custkey, c_nationkey,
        |    CAST(floor((CASE WHEN c_custkey % 10 = 0
        |      THEN c_acctbal + 100 ELSE c_acctbal END) / 1000)
        |      AS BIGINT) AS band
        |  FROM customer),
        |f AS (
        |  SELECT o_custkey,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS c
        |  FROM orders WHERE o_orderdate < '1996-07-01')
        |SELECT b.c_nationkey, b.band,
        |  CAST(sum(f.c) AS BIGINT) AS revenue_cents,
        |  CAST(count(*) AS BIGINT) AS n_rows
        |FROM f JOIN bnew b ON f.o_custkey = b.c_custkey
        |GROUP BY 1, 2 ORDER BY c_nationkey, band""".stripMargin)),

    // ERASURE CASCADE — the right-to-be-forgotten audit: for a
    // requested delete set (every customer with custkey % 53 = 7),
    // the exact blast radius across the referencing tables before
    // any tombstone is written. Cascade membership is two broadcast
    // semi-joins down the FK chain (customer → orders → lineitem);
    // counts and the payment mass being erased are exact integers.
    QueryDef("q272_erasure_cascade", (s, d) => {
      val del = Tables.customer(s, d)
        .filter($"c_custkey" % 53 === 7).select($"c_custkey")
      val ords = Tables.orders(s, d)
        .join(broadcast(del), $"o_custkey" === $"c_custkey",
          "left_semi")
      val li = Tables.lineitem(s, d)
        .join(ords.select($"o_orderkey".as("__ok")),
          $"l_orderkey" === $"__ok", "left_semi")
      val a = del.agg(count(lit(1)).as("n_customers"))
      val b = ords.agg(count(lit(1)).as("n_orders"),
        sum(floor($"o_totalprice" * 100 + 0.5).cast("long"))
          .as("erased_cents"))
      val c = li.agg(count(lit(1)).as("n_lineitems"))
      a.crossJoin(broadcast(b)).crossJoin(broadcast(c))
    },
    // q272: the same two-hop cascade as joins
    Some(
      """WITH del AS (
        |  SELECT c_custkey FROM customer WHERE c_custkey % 53 = 7),
        |o AS (
        |  SELECT o_orderkey, o_totalprice FROM orders
        |  WHERE o_custkey IN (SELECT c_custkey FROM del)),
        |l AS (
        |  SELECT 1 AS x FROM lineitem
        |  WHERE l_orderkey IN (SELECT o_orderkey FROM o))
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM del)
        |    AS n_customers,
        |  (SELECT CAST(count(*) AS BIGINT) FROM o) AS n_orders,
        |  (SELECT CAST(sum(CAST(floor(o_totalprice * 100 + 0.5)
        |    AS BIGINT)) AS BIGINT) FROM o) AS erased_cents,
        |  (SELECT CAST(count(*) AS BIGINT) FROM l) AS n_lineitems"""
        .stripMargin)),

    // BITEMPORAL SLICE — the valid-time × transaction-time matrix
    // that q93's single-axis time travel cannot answer: "what did we
    // BELIEVE on date TT about the state valid on date VT?" Records
    // are orders with valid_from = order date and recorded_at lagged
    // by a few days (late-arriving bookkeeping), and the slice picks
    // per customer the LATEST valid_from ≤ VT among records KNOWN by
    // TT — one argmax via max(struct(valid_from, recorded_at, key)),
    // no window over the fact. Two (VT, TT) corners are answered in
    // one scan (conditional aggregates), and their DIFFERENCE is the
    // audit readout: how much the TT₂ knowledge revises the TT₁
    // belief about the same VT — the restatement report.
    QueryDef("q276_bitemporal", (s, d) => {
      val rec = Tables.orders(s, d)
        .select($"o_custkey",
          $"o_orderdate".cast("date").as("vf"),
          date_add($"o_orderdate".cast("date"),
            ($"o_orderkey" % 5).cast("int")).as("ra"),
          $"o_orderkey",
          floor($"o_totalprice" * 100 + 0.5).cast("long").as("__c"))
        .filter($"vf" <= "2000-06-30")
      def slice(tt: String, tag: String) =
        rec.filter($"ra" <= tt)
          .groupBy($"o_custkey")
          .agg(max(struct($"vf", $"ra", $"o_orderkey", $"__c"))
            .getField("__c").as("__bal"))
          .agg(lit(tag).as("slice"),
            count(lit(1)).as("n_customers"),
            sum($"__bal").as("believed_cents"))
      slice("2000-07-01", "tt1_naive")
        .unionAll(slice("2000-07-15", "tt2_settled"))
        .orderBy($"slice")
    },
    // q276: both corners via the row_number mirror of max(struct)
    Some(
      """WITH rec AS (
        |  SELECT o_custkey, CAST(o_orderdate AS DATE) AS vf,
        |    CAST(o_orderdate AS DATE) + CAST(o_orderkey % 5 AS INT)
        |      AS ra,
        |    o_orderkey,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS c
        |  FROM orders
        |  WHERE CAST(o_orderdate AS DATE) <= DATE '2000-06-30'),
        |p1 AS (
        |  SELECT o_custkey, c FROM (
        |    SELECT o_custkey, c, row_number() OVER (
        |      PARTITION BY o_custkey
        |      ORDER BY vf DESC, ra DESC, o_orderkey DESC) AS rn
        |    FROM rec WHERE ra <= DATE '2000-07-01') WHERE rn = 1),
        |p2 AS (
        |  SELECT o_custkey, c FROM (
        |    SELECT o_custkey, c, row_number() OVER (
        |      PARTITION BY o_custkey
        |      ORDER BY vf DESC, ra DESC, o_orderkey DESC) AS rn
        |    FROM rec WHERE ra <= DATE '2000-07-15') WHERE rn = 1)
        |SELECT 'tt1_naive' AS slice,
        |  CAST(count(*) AS BIGINT) AS n_customers,
        |  CAST(sum(c) AS BIGINT) AS believed_cents FROM p1
        |UNION ALL
        |SELECT 'tt2_settled', CAST(count(*) AS BIGINT),
        |  CAST(sum(c) AS BIGINT) FROM p2
        |ORDER BY slice""".stripMargin)),

    // ROUNDING-POLICY AUDIT — the finance-consolidation drift report:
    // the same per-order 7 % fee computed under three rounding
    // policies (truncate, half-up, half-even/banker's), each as pure
    // integer arithmetic on cents×100 fixed-point (half-even decides
    // the tie on the QUOTIENT's parity — spelled out, no library
    // rounding mode anywhere), then the per-nation totals and the
    // policy drift: Σhalf-up − Σhalf-even is the number an auditor
    // asks for, and it is exact here because every policy is a pure
    // int64 function both engines evaluate identically.
    QueryDef("q278_rounding_policy", (s, d) => {
      val ord = Tables.orders(s, d)
        .join(broadcast(Tables.customer(s, d)
          .select($"c_custkey", $"c_nationkey")),
          $"o_custkey" === $"c_custkey")
        .select($"c_nationkey",
          floor($"o_totalprice" * 100 + 0.5).cast("long").as("c"))
        // fee = 7% of cents → numerator n = 7·c over denominator 100
        .withColumn("__q", expr("(7 * c) div 100"))
        .withColumn("__r", expr("(7 * c) % 100"))
      val trunc = $"__q"
      val halfUp = $"__q" + when($"__r" >= 50, 1L).otherwise(0L)
      val halfEven = $"__q" + when($"__r" > 50, 1L)
        .when($"__r" === 50 && $"__q" % 2 === 1, 1L).otherwise(0L)
      ord.groupBy($"c_nationkey")
        .agg(count(lit(1)).as("n_orders"),
          sum(trunc).as("fee_trunc"),
          sum(halfUp).as("fee_halfup"),
          sum(halfEven).as("fee_halfeven"),
          sum(halfUp - halfEven).as("policy_drift"))
        .orderBy($"c_nationkey")
    },
    // q278: the three integer rounding policies spelled out
    Some(
      """WITH o AS (
        |  SELECT c.c_nationkey,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS c
        |  FROM orders JOIN customer c ON o_custkey = c_custkey),
        |f AS (
        |  SELECT c_nationkey, (7 * c) // 100 AS q, (7 * c) % 100 AS r
        |  FROM o)
        |SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(q) AS BIGINT) AS fee_trunc,
        |  CAST(sum(q + CASE WHEN r >= 50 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS fee_halfup,
        |  CAST(sum(q + CASE WHEN r > 50 THEN 1
        |    WHEN r = 50 AND q % 2 = 1 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS fee_halfeven,
        |  CAST(sum(CASE WHEN r >= 50 THEN 1 ELSE 0 END
        |    - CASE WHEN r > 50 THEN 1
        |      WHEN r = 50 AND q % 2 = 1 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS policy_drift
        |FROM f GROUP BY 1 ORDER BY c_nationkey""".stripMargin)),

    // JOIN-CARDINALITY ESTIMATION — the cost-based-optimizer
    // estimator as a first-class query, on a genuinely m:n join
    // (1995-96 lines ⋈ 1997+ lines per part — the cross-year
    // co-occurrence join): the MCV + uniform-tail model every CBO
    // keeps. Top-20 heavy keys ride the bounded TopKPerKey heap and
    // contribute Σ a_k·b_k EXACTLY; the tail uses System-R's
    // ta·tb div max(da, db) on the remaining mass. Everything is
    // integer to the end (the error is a floored ppm ratio), so the
    // (actual, estimate, err_ppm) readout — the number a CBO
    // regression suite tracks — is hash-exact across engines.
    QueryDef("q279_join_cardinality", (s, d) => {
      val li = Tables.lineitem(s, d)
        .select($"l_partkey".as("k"), $"l_shipdate")
      val a = li.filter($"l_shipdate" < "1997-01-01")
        .groupBy($"k").agg(count(lit(1)).as("ca"))
      val b = li.filter($"l_shipdate" >= "1997-01-01")
        .groupBy($"k").agg(count(lit(1)).as("cb"))
      val topB = graft.plans.TopKPerKey(
        b.withColumn("__g", lit(1)), Seq("__g"),
        Seq($"cb".desc, $"k".asc), k = 20).drop("__g")
      val top = topB.join(a, Seq("k"), "left")
        .agg(coalesce(sum($"ca" * $"cb"), lit(0L)).as("__top"),
          coalesce(sum($"cb"), lit(0L)).as("__btop"),
          coalesce(sum($"ca"), lit(0L)).as("__atop"),
          count(lit(1)).as("__ktop"))
      val sa = a.agg(sum($"ca").as("__ta"),
        count(lit(1)).as("__da"))
      val sb = b.agg(sum($"cb").as("__tb"),
        count(lit(1)).as("__db"))
      val actual = a.join(b, Seq("k"))
        .agg(coalesce(sum($"ca" * $"cb"), lit(0L)).as("actual"))
      top.crossJoin(broadcast(sa)).crossJoin(broadcast(sb))
        .crossJoin(broadcast(actual))
        .select($"actual",
          ($"__top" + expr("((__ta - __atop) * (__tb - __btop)) div " +
            "greatest(1L, greatest(__da - __ktop, __db - __ktop))"))
            .as("estimate"))
        // sign × |diff| quotient: the numerator stays non-negative so
        // Spark's trunc-div and DuckDB's floor-div agree
        .withColumn("err_ppm",
          expr("((abs(estimate - actual) * 1000000) div actual) * " +
            "(CASE WHEN estimate >= actual THEN 1L ELSE -1L END)"))
    },
    // q279: MCV top-20 via row_number, the same System-R tail
    Some(
      """WITH li AS (
        |  SELECT l_partkey AS k, l_shipdate FROM lineitem),
        |a AS (SELECT k, CAST(count(*) AS BIGINT) AS ca FROM li
        |  WHERE l_shipdate < '1997-01-01' GROUP BY 1),
        |b AS (SELECT k, CAST(count(*) AS BIGINT) AS cb FROM li
        |  WHERE l_shipdate >= '1997-01-01' GROUP BY 1),
        |tb AS (SELECT k, cb FROM (
        |  SELECT k, cb, row_number() OVER (ORDER BY cb DESC, k) AS rn
        |  FROM b) WHERE rn <= 20),
        |top AS (
        |  SELECT CAST(coalesce(sum(a.ca * tb.cb), 0) AS BIGINT)
        |      AS topsum,
        |    CAST(coalesce(sum(tb.cb), 0) AS BIGINT) AS btop,
        |    CAST(coalesce(sum(a.ca), 0) AS BIGINT) AS atop,
        |    CAST(count(*) AS BIGINT) AS ktop
        |  FROM tb LEFT JOIN a ON tb.k = a.k),
        |sa AS (SELECT CAST(sum(ca) AS BIGINT) AS ta,
        |  CAST(count(*) AS BIGINT) AS da FROM a),
        |sb AS (SELECT CAST(sum(cb) AS BIGINT) AS tbb,
        |  CAST(count(*) AS BIGINT) AS db FROM b),
        |act AS (SELECT CAST(coalesce(sum(a.ca * b.cb), 0) AS BIGINT)
        |  AS actual FROM a JOIN b ON a.k = b.k),
        |e AS (
        |  SELECT act.actual,
        |    topsum + ((ta - atop) * (tbb - btop))
        |      // greatest(1, greatest(da - ktop, db - ktop))
        |      AS estimate
        |  FROM top CROSS JOIN sa CROSS JOIN sb CROSS JOIN act)
        |SELECT actual, CAST(estimate AS BIGINT) AS estimate,
        |  CAST(((abs(estimate - actual) * 1000000) // actual)
        |    * (CASE WHEN estimate >= actual THEN 1 ELSE -1 END)
        |    AS BIGINT) AS err_ppm
        |FROM e""".stripMargin)),

    // OLAP CUBE — the multi-level rollup surface itself (every BI tool
    // emits it): all four grouping levels of (priority, returnflag) in
    // ONE pass (Catalyst expands the cube in the aggregate, not by
    // rescanning per level), revenue on the exact-cents integer path,
    // the level tagged by grouping_id so subtotal rows are first-class
    // addressable output. NULLs in grouping columns are the rollup
    // marker; the ORDER BY pins their position identically on both
    // engines (ASC NULLS FIRST).
    QueryDef("q280_cube_grouping", (s, d) => {
      Tables.lineitem(s, d)
        .join(Tables.orders(s, d), $"l_orderkey" === $"o_orderkey")
        .select($"o_orderpriority", $"l_returnflag",
          floor($"l_extendedprice" * 100 + 0.5).cast("long").as("__c"))
        .cube($"o_orderpriority", $"l_returnflag")
        .agg(grouping_id().cast("long").as("gid"),
          count(lit(1)).as("n_lines"),
          sum($"__c").as("revenue_cents"))
        .orderBy($"gid", $"o_orderpriority".asc_nulls_first,
          $"l_returnflag".asc_nulls_first)
    },
    // q280: GROUPING(a)*2 + GROUPING(b) is Spark's grouping_id bit
    // order (first cube column = MSB)
    Some(
      """WITH j AS (
        |  SELECT o_orderpriority, l_returnflag,
        |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS c
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
        |SELECT o_orderpriority, l_returnflag,
        |  CAST(GROUPING(o_orderpriority) * 2 + GROUPING(l_returnflag)
        |    AS BIGINT) AS gid,
        |  CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(sum(c) AS BIGINT) AS revenue_cents
        |FROM j GROUP BY CUBE (o_orderpriority, l_returnflag)
        |ORDER BY gid, o_orderpriority ASC NULLS FIRST,
        |  l_returnflag ASC NULLS FIRST""".stripMargin)),

    // MULTI-CLASS EVAL — confusion-derived per-class metrics for the
    // plurality-rule classifier (predict each customer's segment as
    // their nation's modal segment; mode via one max(struct) pass,
    // tie broken on (count, segment) — no window): tp / n_actual /
    // n_predicted per class, precision/recall/F1 as exact integer ppm
    // (F1's harmonic mean as (2·P·R) div (P+R) on the ppm integers),
    // so the scorecard a model-eval suite tracks is hash-exact.
    QueryDef("q284_multiclass_eval", (s, d) => {
      val c = Tables.customer(s, d)
        .select($"c_custkey", $"c_nationkey", $"c_mktsegment")
      val mode = c.groupBy($"c_nationkey", $"c_mktsegment")
        .agg(count(lit(1)).as("__n"))
        .groupBy($"c_nationkey")
        .agg(max(struct($"__n", $"c_mktsegment")).as("__m"))
        .select($"c_nationkey", $"__m.c_mktsegment".as("__pred"))
      val scored = c.join(broadcast(mode), "c_nationkey")
        .select($"c_mktsegment".as("actual"), $"__pred".as("predicted"))
      val classes = scored.select($"actual".as("cls")).distinct()
      val tp = scored.filter($"actual" === $"predicted")
        .groupBy($"actual".as("cls")).agg(count(lit(1)).as("tp"))
      val act = scored.groupBy($"actual".as("cls"))
        .agg(count(lit(1)).as("n_actual"))
      val prd = scored.groupBy($"predicted".as("cls"))
        .agg(count(lit(1)).as("n_predicted"))
      classes.join(act, Seq("cls"), "left")
        .join(prd, Seq("cls"), "left")
        .join(tp, Seq("cls"), "left")
        .select($"cls", coalesce($"n_actual", lit(0L)).as("n_actual"),
          coalesce($"n_predicted", lit(0L)).as("n_predicted"),
          coalesce($"tp", lit(0L)).as("tp"))
        .withColumn("precision_ppm", when($"n_predicted" > 0,
          expr("(tp * 1000000) div n_predicted")).otherwise(0L))
        .withColumn("recall_ppm", when($"n_actual" > 0,
          expr("(tp * 1000000) div n_actual")).otherwise(0L))
        .withColumn("f1_ppm",
          when($"precision_ppm" + $"recall_ppm" > 0,
            expr("(2 * precision_ppm * recall_ppm) div " +
              "(precision_ppm + recall_ppm)")).otherwise(0L))
        .orderBy($"cls")
    },
    // q284: the same plurality rule (row_number on (n DESC, seg DESC)
    // = Spark's max(struct)), the same ppm integer metrics
    Some(
      """WITH c AS (
        |  SELECT c_custkey, c_nationkey, c_mktsegment FROM customer),
        |cnt AS (SELECT c_nationkey, c_mktsegment, count(*) AS n
        |  FROM c GROUP BY 1, 2),
        |md AS (SELECT c_nationkey, c_mktsegment AS pred FROM (
        |  SELECT c_nationkey, c_mktsegment, row_number() OVER (
        |    PARTITION BY c_nationkey
        |    ORDER BY n DESC, c_mktsegment DESC) AS rn
        |  FROM cnt) WHERE rn = 1),
        |sc AS (SELECT c.c_mktsegment AS actual, md.pred AS predicted
        |  FROM c JOIN md USING (c_nationkey)),
        |cls AS (SELECT DISTINCT actual AS cls FROM sc),
        |tp AS (SELECT actual AS cls, CAST(count(*) AS BIGINT) AS tp
        |  FROM sc WHERE actual = predicted GROUP BY 1),
        |na AS (SELECT actual AS cls,
        |  CAST(count(*) AS BIGINT) AS n_actual FROM sc GROUP BY 1),
        |np AS (SELECT predicted AS cls,
        |  CAST(count(*) AS BIGINT) AS n_predicted FROM sc GROUP BY 1),
        |j AS (SELECT cls.cls,
        |    CAST(coalesce(n_actual, 0) AS BIGINT) AS n_actual,
        |    CAST(coalesce(n_predicted, 0) AS BIGINT) AS n_predicted,
        |    CAST(coalesce(tp.tp, 0) AS BIGINT) AS tp
        |  FROM cls LEFT JOIN na USING (cls)
        |  LEFT JOIN np USING (cls) LEFT JOIN tp USING (cls)),
        |m AS (SELECT cls, n_actual, n_predicted, tp,
        |    CAST(CASE WHEN n_predicted > 0
        |      THEN (tp * 1000000) // n_predicted ELSE 0 END
        |      AS BIGINT) AS precision_ppm,
        |    CAST(CASE WHEN n_actual > 0
        |      THEN (tp * 1000000) // n_actual ELSE 0 END
        |      AS BIGINT) AS recall_ppm
        |  FROM j)
        |SELECT cls, n_actual, n_predicted, tp, precision_ppm,
        |  recall_ppm,
        |  CAST(CASE WHEN precision_ppm + recall_ppm > 0
        |    THEN (2 * precision_ppm * recall_ppm)
        |      // (precision_ppm + recall_ppm) ELSE 0 END
        |    AS BIGINT) AS f1_ppm
        |FROM m ORDER BY cls""".stripMargin)),

    // PIVOT — the long→wide reshape every BI export runs: segment ×
    // order-year revenue matrix in exact cents. The year values are
    // ENUMERATED (`.pivot(col, values)`), which skips Spark's extra
    // distinct-collection job AND fixes the output schema at plan
    // time — at 100 TB a discovery pass over the fact table just to
    // learn 7 known column names is a full scan wasted. Missing cells
    // are 0 (na.fill), matching the oracle's coalesce.
    QueryDef("q286_pivot", (s, d) => {
      val o = Tables.orders(s, d)
        .select($"o_custkey",
          concat(lit("y"), year($"o_orderdate")).as("__yr"),
          floor($"o_totalprice" * 100 + 0.5).cast("long").as("__c"))
      val c = Tables.customer(s, d)
        .select($"c_custkey", $"c_mktsegment")
      o.join(broadcast(c), $"o_custkey" === $"c_custkey")
        .groupBy($"c_mktsegment")
        .pivot("__yr", Seq("y1992", "y1993", "y1994", "y1995",
          "y1996", "y1997", "y1998"))
        .agg(sum($"__c"))
        .na.fill(0L)
        .orderBy($"c_mktsegment")
    },
    // q286: the conditional-aggregation expansion pivot replaces
    Some(
      """WITH j AS (
        |  SELECT c_mktsegment, year(o_orderdate) AS yr,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS c
        |  FROM orders JOIN customer ON o_custkey = c_custkey)
        |SELECT c_mktsegment,
        |  CAST(coalesce(sum(CASE WHEN yr = 1992 THEN c END), 0)
        |    AS BIGINT) AS y1992,
        |  CAST(coalesce(sum(CASE WHEN yr = 1993 THEN c END), 0)
        |    AS BIGINT) AS y1993,
        |  CAST(coalesce(sum(CASE WHEN yr = 1994 THEN c END), 0)
        |    AS BIGINT) AS y1994,
        |  CAST(coalesce(sum(CASE WHEN yr = 1995 THEN c END), 0)
        |    AS BIGINT) AS y1995,
        |  CAST(coalesce(sum(CASE WHEN yr = 1996 THEN c END), 0)
        |    AS BIGINT) AS y1996,
        |  CAST(coalesce(sum(CASE WHEN yr = 1997 THEN c END), 0)
        |    AS BIGINT) AS y1997,
        |  CAST(coalesce(sum(CASE WHEN yr = 1998 THEN c END), 0)
        |    AS BIGINT) AS y1998
        |FROM j GROUP BY 1 ORDER BY c_mktsegment""".stripMargin)),

    // UNPIVOT — the wide→long dual (Spark's Dataset.unpivot / SQL
    // UNPIVOT): per-brand part metrics melted to (brand, metric,
    // value) rows. All three measures ride int64 so the melted value
    // column has one exact type; the oracle is the UNION ALL
    // expansion the operator replaces.
    QueryDef("q287_unpivot", (s, d) => {
      Tables.part(s, d)
        .groupBy($"p_brand")
        .agg(sum(floor($"p_retailprice" * 100 + 0.5).cast("long"))
            .as("retail_cents"),
          sum($"p_size".cast("long")).as("total_size"),
          count(lit(1)).as("n_parts"))
        .unpivot(Array(col("p_brand")),
          Array(col("retail_cents"), col("total_size"),
            col("n_parts")),
          "metric", "value")
        .orderBy($"p_brand", $"metric")
    },
    // q287: the UNION ALL expansion unpivot replaces
    Some(
      """WITH a AS (
        |  SELECT p_brand,
        |    CAST(sum(CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS retail_cents,
        |    CAST(sum(p_size) AS BIGINT) AS total_size,
        |    CAST(count(*) AS BIGINT) AS n_parts
        |  FROM part GROUP BY 1)
        |SELECT p_brand, 'retail_cents' AS metric,
        |  retail_cents AS value FROM a
        |UNION ALL
        |SELECT p_brand, 'total_size', total_size FROM a
        |UNION ALL
        |SELECT p_brand, 'n_parts', n_parts FROM a
        |ORDER BY p_brand, metric""".stripMargin)),

    // ROLLUP — the hierarchy-subtotal dual of q280's CUBE: region →
    // nation revenue with per-region subtotals and the grand total,
    // one Expand+aggregate pass, levels tagged by grouping_id. The
    // dims chain down broadcast joins onto orders; revenue rides
    // exact cents.
    QueryDef("q291_rollup", (s, d) => {
      val c = Tables.customer(s, d).select($"c_custkey", $"c_nationkey")
      val n = Tables.nation(s, d)
        .select($"n_nationkey", $"n_name", $"n_regionkey")
      val r = Tables.region(s, d).select($"r_regionkey", $"r_name")
      Tables.orders(s, d)
        .select($"o_custkey",
          floor($"o_totalprice" * 100 + 0.5).cast("long").as("__c"))
        .join(broadcast(c), $"o_custkey" === $"c_custkey")
        .join(broadcast(n), $"c_nationkey" === $"n_nationkey")
        .join(broadcast(r), $"n_regionkey" === $"r_regionkey")
        .rollup($"r_name", $"n_name")
        .agg(grouping_id().cast("long").as("gid"),
          count(lit(1)).as("n_orders"),
          sum($"__c").as("revenue_cents"))
        .orderBy($"gid", $"r_name".asc_nulls_first,
          $"n_name".asc_nulls_first)
    },
    // q291: GROUP BY ROLLUP, same grouping_id bit order as q280
    Some(
      """WITH j AS (
        |  SELECT r_name, n_name,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS c
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey)
        |SELECT r_name, n_name,
        |  CAST(GROUPING(r_name) * 2 + GROUPING(n_name) AS BIGINT)
        |    AS gid,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(c) AS BIGINT) AS revenue_cents
        |FROM j GROUP BY ROLLUP (r_name, n_name)
        |ORDER BY gid, r_name ASC NULLS FIRST,
        |  n_name ASC NULLS FIRST""".stripMargin)),

    // HIERARCHY PATH MATERIALIZATION — the org-chart/category-tree
    // flatten: every node of a synthetic 3-ary tree (parent(k) =
    // max(1, k div 3) over part keys ≤ 1000) gets its root path as a
    // breadcrumb string plus its depth, built by a FIXED-depth
    // iterative parent join (7 rounds ≥ log₃ 1000) — each round one
    // broadcast-sized join of the frontier onto the parent map,
    // never a driver-side walk; the oracle is the recursive CTE
    // building identical paths. Materialized paths are what turn
    // subtree queries into prefix filters at 100 TB.
    QueryDef("q298_tree_paths", (s, d) => {
      val nodes = Tables.part(s, d)
        .filter($"p_partkey" <= 1000)
        .select($"p_partkey".cast("long").as("node"))
      // edges checkpoint once, paths once per round (the pageRank
      // lineage discipline): each round references `paths` THREE
      // times (frontier join, anti-join, union) — a lazy chain
      // re-derives round r 3^r times and the 7-round plan blew the
      // bench run to 36 s before this materialization
      val edges = nodes.filter($"node" > 1)
        .select($"node", greatest(lit(1L), expr("node div 3"))
          .as("parent"))
        .localCheckpoint()
      var paths = nodes.filter($"node" === 1)
        .select($"node", lit("1").as("path"), lit(0L).as("depth"))
        .localCheckpoint()
      var prevCk = paths
      for (_ <- 1 to 7) {
        val next = edges
          .join(paths.select($"node".as("parent"),
            $"path".as("__pp"), $"depth".as("__pd")), Seq("parent"))
          .select($"node", concat($"__pp", lit("/"),
            $"node".cast("string")).as("path"),
            ($"__pd" + 1).as("depth"))
        paths = paths.unionByName(
          next.join(paths.select($"node"), Seq("node"), "left_anti"))
          .localCheckpoint()
        org.apache.spark.sql.graft.Bridge.unpersistCheckpoint(prevCk)
        prevCk = paths
      }
      org.apache.spark.sql.graft.Bridge.unpersistCheckpoint(edges)
      paths.orderBy($"node")
    },
    // q298: the recursive CTE builds the same breadcrumbs
    Some(
      """WITH RECURSIVE n AS (
        |  SELECT CAST(p_partkey AS BIGINT) AS node FROM part
        |  WHERE p_partkey <= 1000),
        |t AS (
        |  SELECT node, '1' AS path, CAST(0 AS BIGINT) AS depth
        |  FROM n WHERE node = 1
        |  UNION ALL
        |  SELECT n.node, t.path || '/' || CAST(n.node AS VARCHAR),
        |    t.depth + 1
        |  FROM n JOIN t ON greatest(1, n.node // 3) = t.node
        |  WHERE n.node > 1)
        |SELECT node, path, depth FROM t ORDER BY node""".stripMargin)),

    // LUHN VALIDATION — the checksum format gate every account/card
    // ingest runs: 12-digit synthetic account numbers, the Luhn sum
    // UNROLLED over fixed digit positions as pure int64 arithmetic
    // (digit d_i = (a div 10^i) mod 10; odd positions doubled with
    // the >9 fold as 2d − 9·(d≥5)) — identical closed form on both
    // engines, no loop construct needed. Per-segment validity rates
    // as floored ppm; the deliberate corruption (every 7th account
    // gets +1) pins that the validator actually rejects.
    QueryDef("q300_luhn", (s, d) => {
      // Luhn digit term: double at the flagged positions, fold >9 as
      // 2d − 9 (the standard sum-of-digits shortcut)
      def term(col: String, i: Int, double: Boolean): String = {
        val p = "1" + "0" * i
        if (double)
          s"(2 * (($col div $p) % 10) - 9 * " +
            s"(CASE WHEN ($col div $p) % 10 >= 5 THEN 1 ELSE 0 END))"
        else s"(($col div $p) % 10)"
      }
      // payload digits sit at final positions 1..11 → doubled when
      // their payload index is EVEN; the full 12-digit account
      // doubles ODD positions
      val s11 = (0 to 10).map(i => term("__p", i, i % 2 == 0))
        .mkString(" + ")
      val s12 = (0 to 11).map(i => term("__a", i, i % 2 == 1))
        .mkString(" + ")
      Tables.customer(s, d)
        .select($"c_mktsegment", $"c_custkey")
        // key rides in MOD 9e6 so the payload tops out at
        // 10^10 + 8999999·9973 + 96 < 10^11 — the account stays
        // exactly 12 digits (check digit included) at EVERY scale
        // factor; the raw key would overflow the 11-digit payload
        // window past c_custkey ≈ 9.02M (TPC-H sf ≳ 60), silently
        // breaking the planted valid/decoy semantics
        .withColumn("__p", expr("CAST(10000000000 + (c_custkey % 9000000)" +
          " * 9973 + (c_custkey % 97) AS BIGINT)"))
        .withColumn("__a0",
          expr(s"__p * 10 + (10 - (($s11) % 10)) % 10"))
        // corrupt every 7th account: rotate the last digit (+1 mod
        // 10, no carry) — always breaks the checksum
        .withColumn("__a", expr("CASE WHEN c_custkey % 7 = 0 " +
          "THEN __a0 - (__a0 % 10) + ((__a0 % 10) + 1) % 10 " +
          "ELSE __a0 END"))
        .withColumn("__ok",
          when(expr(s"($s12) % 10") === 0, 1L).otherwise(0L))
        .groupBy($"c_mktsegment")
        .agg(count(lit(1)).as("n_accounts"),
          sum($"__ok").as("n_valid"))
        .withColumn("valid_ppm",
          expr("(n_valid * 1000000) div n_accounts"))
        .orderBy($"c_mktsegment")
    },
    // q300: the identical unrolled Luhn closed form (construct +
    // corrupt + validate), // for div
    // q300's oracle assembled from the same position terms the Spark
    // side unrolls (kept in one place so the two cannot drift).
    Some {
      def term(col: String, i: Int, double: Boolean): String = {
        val p = "1" + "0" * i
        if (double)
          s"(2 * (($col // $p) % 10) - 9 * " +
            s"(CASE WHEN ($col // $p) % 10 >= 5 THEN 1 ELSE 0 END))"
        else s"(($col // $p) % 10)"
      }
      val s11 = (0 to 10).map(i => term("p", i, i % 2 == 0))
        .mkString(" + ")
      val s12 = (0 to 11).map(i => term("a", i, i % 2 == 1))
        .mkString(" + ")
      s"""WITH b AS (
         |  SELECT c_mktsegment, c_custkey,
         |    CAST(10000000000 + (c_custkey % 9000000) * 9973 + (c_custkey % 97)
         |      AS BIGINT) AS p
         |  FROM customer),
         |a0 AS (
         |  SELECT c_mktsegment, c_custkey,
         |    p * 10 + (10 - (($s11) % 10)) % 10 AS a0
         |  FROM b),
         |ac AS (
         |  SELECT c_mktsegment,
         |    CASE WHEN c_custkey % 7 = 0
         |      THEN a0 - (a0 % 10) + ((a0 % 10) + 1) % 10
         |      ELSE a0 END AS a
         |  FROM a0)
         |SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_accounts,
         |  CAST(sum(CASE WHEN ($s12) % 10 = 0 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_valid,
         |  CAST((sum(CASE WHEN ($s12) % 10 = 0 THEN 1 ELSE 0 END)
         |    * 1000000) // count(*) AS BIGINT) AS valid_ppm
         |FROM ac GROUP BY 1 ORDER BY c_mktsegment""".stripMargin
    }),

    // GROUPING() indicators + the grand-total set — what q45's
    // grouping-sets coverage left out: the GROUPING() discriminator
    // is the only way to tell "NULL because rolled up" from a NULL
    // dimension VALUE, and the empty set () exercises the all-rows
    // grouping. Same single expand + hash aggregate plan as
    // q45/q280/q291.
    QueryDef("q316_grouping_sets", (s, d) => {
      Tables.lineitem(s, d)
        .groupingSets(
          Seq(Seq($"l_returnflag", $"l_linestatus"), Seq($"l_returnflag"),
            Seq()),
          $"l_returnflag", $"l_linestatus")
        .agg(grouping($"l_returnflag").cast("int").as("g_flag"),
          grouping($"l_linestatus").cast("int").as("g_status"),
          count(lit(1)).as("n"),
          Fns.roundU(sum($"l_quantity"), 2).as("sum_qty"))
        .select($"l_returnflag", $"l_linestatus", $"g_flag", $"g_status",
          $"n", $"sum_qty")
        .orderBy($"g_flag", $"g_status", $"l_returnflag", $"l_linestatus")
    }, Some(
      """SELECT l_returnflag, l_linestatus,
        |  CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
        |  CAST(GROUPING(l_linestatus) AS INT) AS g_status,
        |  count(*) AS n,
        |  floor(sum(l_quantity) * 100 + 0.5) / 100.0 AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
        |  (l_returnflag), ())
        |ORDER BY g_flag, g_status, l_returnflag, l_linestatus""".stripMargin)),

    // MERGE INTO — the lakehouse upsert statement, realized at the
    // engine level: ONE full-outer join between target and source
    // batch, then a case-wise projection deciding
    // matched+U → UPDATE, matched+D → DELETE, unmatched-by-target →
    // INSERT, unmatched-by-source → keep. (Delta/Iceberg implement
    // exactly this plan under their MERGE syntax; the join is the
    // only shuffle and it's on the merge key, so the op scales as
    // one co-partitioned join at any table size.) The source batch
    // is derived deterministically from the target (update/delete/
    // insert thirds on disjoint key classes, integer-cents balances)
    // and the output is the per-action audit: row count, balance
    // checksum, key range — which pins every row's routing without
    // materializing the merged table in the result.
    QueryDef("q318_merge_into", (s, d) => {
      val cents = (c: Column) => floor(c * 100 + 0.5).cast("long")
      val cust = Tables.customer(s, d)
        .select($"c_custkey", cents($"c_acctbal").as("bal0"))
      val upd = cust
        .filter($"c_custkey" % 5 === 0 || $"c_custkey" % 11 === 0)
        .select($"c_custkey".as("k"),
          when($"c_custkey" % 11 === 0, lit("D")).otherwise(lit("U"))
            .as("op"),
          ($"bal0" + ($"c_custkey" % 9700) - 4850).as("nb"))
      // insert keys derive from max(c_custkey), not a literal offset:
      // a fixed +10M would collide with real custkeys once SF ≥ ~67
      // (TPC-H custkey max = 150000·SF) and silently reclassify
      // matched rows as inserts — the broadcast 1-row max keeps the
      // fixture collision-free at ANY table size, which is what the
      // "scales at any size" claim requires
      val mx = cust.agg(max($"c_custkey").as("__mx"))
      val ins = cust.filter($"c_custkey" % 13 === 0)
        .crossJoin(broadcast(mx))
        .select(($"c_custkey" + $"__mx").as("k"), lit("I").as("op"),
          (($"c_custkey" % 5000) * 100 + 99).as("nb"))
      val merged = cust
        .join(upd.unionByName(ins), $"c_custkey" === $"k", "full_outer")
        .select(
          coalesce($"c_custkey", $"k").as("key"),
          when($"op".isNull, lit("kept"))
            .when($"op" === "D", lit("deleted"))
            .when($"op" === "U", lit("updated"))
            .otherwise(lit("inserted")).as("action"),
          // audit value: the post-merge balance (deleted rows audit
          // their pre-image — the row leaves the table)
          when($"op".isNull || $"op" === "D", $"bal0")
            .otherwise($"nb").as("bal"))
      merged.groupBy($"action")
        .agg(count(lit(1)).as("n"), sum($"bal").as("sum_bal_cents"),
          min($"key").as("min_key"), max($"key").as("max_key"))
        .orderBy($"action")
    }, Some(
      """WITH cust AS (
        |  SELECT c_custkey,
        |    CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS bal0
        |  FROM customer),
        |upd AS (
        |  SELECT c_custkey AS k,
        |    CASE WHEN c_custkey % 11 = 0 THEN 'D' ELSE 'U' END AS op,
        |    bal0 + (c_custkey % 9700) - 4850 AS nb
        |  FROM cust WHERE c_custkey % 5 = 0 OR c_custkey % 11 = 0),
        |ins AS (
        |  SELECT c_custkey + (SELECT max(c_custkey) FROM cust) AS k,
        |    'I' AS op,
        |    (c_custkey % 5000) * 100 + 99 AS nb
        |  FROM cust WHERE c_custkey % 13 = 0),
        |src AS (SELECT * FROM upd UNION ALL SELECT * FROM ins),
        |merged AS (
        |  SELECT coalesce(c_custkey, k) AS key,
        |    CASE WHEN op IS NULL THEN 'kept'
        |         WHEN op = 'D' THEN 'deleted'
        |         WHEN op = 'U' THEN 'updated'
        |         ELSE 'inserted' END AS action,
        |    CASE WHEN op IS NULL OR op = 'D' THEN bal0 ELSE nb END
        |      AS bal
        |  FROM cust FULL OUTER JOIN src ON c_custkey = k)
        |SELECT action, count(*) AS n,
        |  CAST(sum(bal) AS BIGINT) AS sum_bal_cents,
        |  CAST(min(key) AS BIGINT) AS min_key,
        |  CAST(max(key) AS BIGINT) AS max_key
        |FROM merged GROUP BY action ORDER BY action""".stripMargin)),

    // FD-VIOLATION REPAIR — the data-cleaning pass beside the
    // expectations report (q102) and FD profiling: a denormalized
    // fact carries a redundant attribute that must be functionally
    // determined by its key (custkey → nation), a deterministic
    // corruption plants conflicting claims, and the repair picks each
    // key's MAJORITY value (count desc, value asc — the
    // HoloClean-style voting baseline). Scale shape: one
    // (key, claim) count aggregate, one per-key argmax over a
    // struct max (no sort, no window over the fact), one broadcast-
    // size rollup — the fact shuffles once, on its key.
    QueryDef("q322_fd_repair", (s, d) => {
      val cust = Tables.customer(s, d)
        .select($"c_custkey", $"c_nationkey".cast("long").as("nat"))
      val claims = Tables.orders(s, d)
        .join(cust, $"o_custkey" === $"c_custkey")
        .select($"o_custkey".as("k"),
          when($"o_orderkey" % 97 === 0,
            ($"nat" + 1 + $"o_orderkey" % 7) % 25)
            .otherwise($"nat").as("claim"))
      val counted = claims.groupBy($"k", $"claim")
        .agg(count(lit(1)).as("cnt"))
      val majority = counted.groupBy($"k")
        .agg(max(struct($"cnt", (-$"claim").as("negc"))).as("m"))
        .select($"k", (-$"m.negc").as("maj"))
      counted.join(majority, Seq("k"))
        .groupBy($"maj".as("nation"))
        .agg(countDistinct($"k").as("n_keys"),
          sum($"cnt").as("n_rows"),
          sum(when($"claim" =!= $"maj", $"cnt").otherwise(0L))
            .as("n_repaired_rows"))
        .orderBy($"nation")
    },
    // q322: same planted corruption, same majority vote — the argmax
    // tie-break (count desc, claim asc) spelled as the composite
    // integer key cnt·100 − claim (claims are < 25 < 100).
    Some(
      """WITH claims AS (
        |  SELECT o_custkey AS k,
        |    CASE WHEN o_orderkey % 97 = 0
        |      THEN (CAST(c_nationkey AS BIGINT) + 1 + o_orderkey % 7)
        |        % 25
        |      ELSE CAST(c_nationkey AS BIGINT) END AS claim
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |counted AS (
        |  SELECT k, claim, count(*) AS cnt
        |  FROM claims GROUP BY k, claim),
        |majority AS (
        |  SELECT k, arg_max(claim, cnt * 100 - claim) AS maj
        |  FROM counted GROUP BY k)
        |SELECT maj AS nation,
        |  CAST(count(DISTINCT counted.k) AS BIGINT) AS n_keys,
        |  CAST(sum(cnt) AS BIGINT) AS n_rows,
        |  CAST(sum(CASE WHEN claim <> maj THEN cnt ELSE 0 END)
        |    AS BIGINT) AS n_repaired_rows
        |FROM counted JOIN majority ON counted.k = majority.k
        |GROUP BY maj ORDER BY nation""".stripMargin)),

    // DIFFERENCE-IN-DIFFERENCES — the workhorse causal estimator
    // beside CUPED (q140-era): treatment group × pre/post period cell
    // means on exact integer cents, estimate = (postT − preT) −
    // (postC − preC). One scan, one 4-group aggregate, one 1-row
    // reduction — each mean is an exact-integer ratio divided once,
    // so the whole readout (estimate included) is deterministic on
    // both engines. Output = the four cells plus the 'did' row, all
    // at the same (cell, n_orders, value) grain.
    QueryDef("q323_diff_in_diff", (s, d) => {
      val cells = Tables.orders(s, d)
        .join(Tables.customer(s, d)
          .select($"c_custkey", $"c_nationkey"),
          $"o_custkey" === $"c_custkey")
        .select(
          when($"c_nationkey" < 12, lit("treat")).otherwise(lit("ctrl"))
            .as("grp"),
          when($"o_orderdate" >= lit("1998-01-01").cast("timestamp"),
            lit("post")).otherwise(lit("pre")).as("period"),
          floor($"o_totalprice" * 100 + 0.5).cast("long").as("cents"))
        .groupBy($"grp", $"period")
        .agg(count(lit(1)).as("n_orders"), sum($"cents").as("sc"))
        .select($"grp", $"period", $"n_orders",
          ($"sc".cast("double") / $"n_orders").as("mean_cents"))
      val w = cells.agg(
        max(when($"grp" === "treat" && $"period" === "pre",
          $"mean_cents")).as("tp"),
        max(when($"grp" === "treat" && $"period" === "post",
          $"mean_cents")).as("ta"),
        max(when($"grp" === "ctrl" && $"period" === "pre",
          $"mean_cents")).as("cp"),
        max(when($"grp" === "ctrl" && $"period" === "post",
          $"mean_cents")).as("ca"),
        sum($"n_orders").as("n"))
      cells
        .select(concat($"period", lit("_"), $"grp").as("cell"),
          $"n_orders", Fns.roundU($"mean_cents", 4).as("value"))
        .unionByName(w.select(lit("did").as("cell"),
          $"n".as("n_orders"),
          Fns.roundU(($"ta" - $"tp") - ($"ca" - $"cp"), 4).as("value")))
        .orderBy($"cell")
    }, Some(
      """WITH j AS (
        |  SELECT CASE WHEN c_nationkey < 12 THEN 'treat'
        |      ELSE 'ctrl' END AS grp,
        |    CASE WHEN o_orderdate >= TIMESTAMP '1998-01-01'
        |      THEN 'post' ELSE 'pre' END AS period,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |cells AS (
        |  SELECT grp, period, count(*) AS n_orders,
        |    CAST(sum(cents) AS DOUBLE) / count(*) AS mean_cents
        |  FROM j GROUP BY grp, period),
        |w AS (
        |  SELECT
        |    max(CASE WHEN grp = 'treat' AND period = 'pre'
        |      THEN mean_cents END) AS tp,
        |    max(CASE WHEN grp = 'treat' AND period = 'post'
        |      THEN mean_cents END) AS ta,
        |    max(CASE WHEN grp = 'ctrl' AND period = 'pre'
        |      THEN mean_cents END) AS cp,
        |    max(CASE WHEN grp = 'ctrl' AND period = 'post'
        |      THEN mean_cents END) AS ca,
        |    CAST(sum(n_orders) AS BIGINT) AS n
        |  FROM cells)
        |SELECT period || '_' || grp AS cell,
        |  CAST(n_orders AS BIGINT) AS n_orders,
        |  floor(mean_cents * 10000 + 0.5) / 10000.0 AS value
        |FROM cells
        |UNION ALL
        |SELECT 'did', n,
        |  floor(((ta - tp) - (ca - cp)) * 10000 + 0.5) / 10000.0
        |FROM w
        |ORDER BY cell""".stripMargin)),

    // INTEGER HAAR WAVELET (S-transform) — the multi-resolution
    // member of the signal tier beside q269's FIR and q296's RMS
    // windows: per-nation spend series (32 buckets, exact cents)
    // through 3 levels of the LIFTING scheme — d_i = a−b, s_i =
    // b + (d_i >> 1) — which is exactly invertible in integers (the
    // compression/denoising transform). The Spark side is pure
    // Column array arithmetic inside one projection (shiftright is
    // the arithmetic shift, exact at ANY magnitude); the oracle
    // replays the lifting with the shift spelled floor(d/2.0)
    // (exact below 2^53 — these SFs' cent sums are ≤ ~1e11; the
    // q305 >>-vs-truncating-division lesson applied). Per-level
    // detail energy (Σ|d|) and the final approx checksum pin every
    // coefficient.
    QueryDef("q324_haar_dwt", (s, d) => {
      val base = Tables.orders(s, d)
        .join(Tables.customer(s, d)
          .select($"c_custkey", $"c_nationkey"),
          $"o_custkey" === $"c_custkey")
        .groupBy($"c_nationkey".as("nation"),
          ($"o_orderkey" % 32).as("b"))
        .agg(sum(floor($"o_totalprice" * 100 + 0.5).cast("long"))
          .as("sc"))
      val arr = base.groupBy($"nation")
        .agg(map_from_entries(collect_list(struct($"b", $"sc")))
          .as("m"))
        .select($"nation", transform(sequence(lit(0L), lit(31L)),
          i => coalesce(element_at($"m", i), lit(0L))).as("s0"))
      def dOf(sv: Column, half: Int): Column =
        transform(sequence(lit(0), lit(half - 1)), i =>
          element_at(sv, i * 2 + 1) - element_at(sv, i * 2 + 2))
      def sOf(sv: Column, half: Int): Column =
        transform(sequence(lit(0), lit(half - 1)), i =>
          element_at(sv, i * 2 + 2) + shiftright(
            element_at(sv, i * 2 + 1) - element_at(sv, i * 2 + 2), 1))
      val lifted = arr
        .withColumn("d1", dOf($"s0", 16)).withColumn("s1", sOf($"s0", 16))
        .withColumn("d2", dOf($"s1", 8)).withColumn("s2", sOf($"s1", 8))
        .withColumn("d3", dOf($"s2", 4)).withColumn("s3", sOf($"s2", 4))
      def sumAbs(c: Column): Column =
        aggregate(c, lit(0L), (acc, x) => acc + abs(x))
      val nullCk = lit(null).cast("long")
      lifted.select($"nation", explode(array(
          struct(lit(1).as("level"), lit(16).as("n_coeffs"),
            sumAbs($"d1").as("sum_abs_d"), nullCk.as("approx_ck")),
          struct(lit(2).as("level"), lit(8).as("n_coeffs"),
            sumAbs($"d2").as("sum_abs_d"), nullCk.as("approx_ck")),
          struct(lit(3).as("level"), lit(4).as("n_coeffs"),
            sumAbs($"d3").as("sum_abs_d"),
            aggregate(zip_with($"s3",
              sequence(lit(1L), lit(4L)), (v, i) => v * i),
              lit(0L), (acc, x) => acc + x).as("approx_ck"))))
          .as("r"))
        .select($"nation", $"r.level", $"r.n_coeffs", $"r.sum_abs_d",
          $"r.approx_ck")
        .orderBy($"nation", $"level")
    },
    // q324: the lifting replayed with the arithmetic shift spelled
    // floor(d/2.0) — exact below 2^53, which these SFs' cent sums
    // respect (the Spark side's shiftright is exact at any scale).
    Some(
      """WITH nb AS (
        |  SELECT c_nationkey AS nation, o_orderkey % 32 AS b,
        |    sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |      AS sc
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2),
        |spine AS (
        |  SELECT n.nation, r.i AS b
        |  FROM (SELECT DISTINCT nation FROM nb) n,
        |    unnest(range(0, 32)) r(i)),
        |dense AS (
        |  SELECT spine.nation, spine.b, coalesce(sc, 0) AS v
        |  FROM spine LEFT JOIN nb
        |    ON spine.nation = nb.nation AND spine.b = nb.b),
        |arr AS (
        |  SELECT nation, list(v ORDER BY b) AS s0
        |  FROM dense GROUP BY nation),
        |l1 AS (
        |  SELECT nation,
        |    list_transform(range(0, 16), i ->
        |      s0[2 * CAST(i AS INT) + 1] - s0[2 * CAST(i AS INT) + 2])
        |      AS d1,
        |    list_transform(range(0, 16), i ->
        |      s0[2 * CAST(i AS INT) + 2] + CAST(floor(
        |        (s0[2 * CAST(i AS INT) + 1]
        |          - s0[2 * CAST(i AS INT) + 2]) / 2.0) AS BIGINT))
        |      AS s1
        |  FROM arr),
        |l2 AS (
        |  SELECT nation,
        |    list_transform(range(0, 8), i ->
        |      s1[2 * CAST(i AS INT) + 1] - s1[2 * CAST(i AS INT) + 2])
        |      AS d2,
        |    list_transform(range(0, 8), i ->
        |      s1[2 * CAST(i AS INT) + 2] + CAST(floor(
        |        (s1[2 * CAST(i AS INT) + 1]
        |          - s1[2 * CAST(i AS INT) + 2]) / 2.0) AS BIGINT))
        |      AS s2
        |  FROM l1),
        |l3 AS (
        |  SELECT nation,
        |    list_transform(range(0, 4), i ->
        |      s2[2 * CAST(i AS INT) + 1] - s2[2 * CAST(i AS INT) + 2])
        |      AS d3,
        |    list_transform(range(0, 4), i ->
        |      s2[2 * CAST(i AS INT) + 2] + CAST(floor(
        |        (s2[2 * CAST(i AS INT) + 1]
        |          - s2[2 * CAST(i AS INT) + 2]) / 2.0) AS BIGINT))
        |      AS s3
        |  FROM l2),
        |u AS (
        |  SELECT nation, 1 AS level, 16 AS n_coeffs,
        |    CAST(list_sum(list_transform(d1, x -> abs(x)))
        |      AS BIGINT) AS sum_abs_d,
        |    CAST(NULL AS BIGINT) AS approx_ck
        |  FROM l1
        |  UNION ALL
        |  SELECT nation, 2, 8,
        |    CAST(list_sum(list_transform(d2, x -> abs(x))) AS BIGINT),
        |    CAST(NULL AS BIGINT)
        |  FROM l2
        |  UNION ALL
        |  SELECT l3.nation, 3, 4,
        |    CAST(list_sum(list_transform(d3, x -> abs(x))) AS BIGINT),
        |    CAST(list_sum(list_transform(range(1, 5),
        |      i -> s3[CAST(i AS INT)] * i)) AS BIGINT)
        |  FROM l3)
        |SELECT nation, level, n_coeffs, sum_abs_d, approx_ck
        |FROM u ORDER BY nation, level""".stripMargin))
  )
}
