package graft
package catalog

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.operators._
import graft.domain.TokenFlows
import graft.SparkEntry.scoped

/** The event log and the pipeline operators the rugpull dataflow is
  * made of: sessions, change suppression, pre/post merges, CDC, SCD-2,
  * layouts and the token-flow slice. A query lands here when it reads
  * `Tables.events` or the blocks connector, or calls one of those
  * operator families. */
object PipelineQueries {

  def defs: Seq[QueryDef] = Seq(
    // O24+O25: pre/post FULL OUTER merge with last-write-wins, single hash
    // aggregate (mergeAgg) — view events are the 'pre' side, purchase the
    // 'post' side, latest per (user, side) wins.
    QueryDef("q06_prepost_merge", (s, d) => {
      val e = Tables.events(s, d)
      val tagged = e
        .filter($"event_type".isin("view", "purchase"))
        .withColumn("side",
          when($"event_type" === "view", "pre").otherwise("post"))
      val merged = PrePostMerge.mergeAgg(tagged, Seq("user_id"), "side",
        "value", struct($"ts", $"event_id"))
      PrePostMerge.eitherPresent(merged)
        .orderBy($"user_id")
    }, Some(
      """WITH tagged AS (
        |  SELECT user_id, ts, event_id, value,
        |    CASE WHEN event_type = 'view' THEN 'pre' ELSE 'post' END AS side
        |  FROM events WHERE event_type IN ('view', 'purchase')),
        |ranked AS (
        |  SELECT user_id, side, value, row_number() OVER (
        |    PARTITION BY user_id, side ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM tagged)
        |SELECT user_id,
        |  max(CASE WHEN side = 'pre' AND rn = 1 THEN value END) AS pre_value,
        |  max(CASE WHEN side = 'post' AND rn = 1 THEN value END) AS post_value
        |FROM ranked GROUP BY user_id
        |HAVING pre_value IS NOT NULL OR post_value IS NOT NULL
        |ORDER BY user_id""".stripMargin)),

    // O35 batch form: lag-window change suppression (>10% relative move).
    QueryDef("q08_change_suppression", (s, d) => {
      ChangeSuppression.lagFilter(
          Tables.events(s, d).filter($"event_type" === "purchase"),
          "user_id", struct($"ts", $"event_id"), "value", 0.1)
        .select($"user_id", $"event_id", $"value")
        .orderBy($"user_id", $"event_id")
    }, Some(
      """SELECT user_id, event_id, value FROM (
        |  SELECT user_id, event_id, value, lag(value) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events WHERE event_type = 'purchase')
        |WHERE prev IS NULL OR abs(value - prev) > abs(prev) * 0.1
        |ORDER BY user_id, event_id""".stripMargin)),

    // Set operations: INTERSECT / EXCEPT on user sets.
    QueryDef("q12_setops", (s, d) => {
      val e = Tables.events(s, d)
      def users(t: String, minV: Double) =
        e.filter($"event_type" === t && $"value" > minV)
          .select($"user_id").distinct()
      users("click", 90).intersect(users("purchase", 90))
        .except(users("error", 97))
        .orderBy($"user_id")
    }, Some(
      """(SELECT DISTINCT user_id FROM events
        |   WHERE event_type = 'click' AND value > 90
        | INTERSECT
        | SELECT DISTINCT user_id FROM events
        |   WHERE event_type = 'purchase' AND value > 90)
        |EXCEPT
        |SELECT DISTINCT user_id FROM events
        |  WHERE event_type = 'error' AND value > 97
        |ORDER BY user_id""".stripMargin)),

    // Flagship: the SURVEY §7.2 token-flow slice (semi-join → pre/post
    // merge → tags → broadcast price attach → projection).
    QueryDef("q13_tokenflow", (s, d) => TokenFlows.eventLedger(s, d),
      Some(TokenFlows.eventLedgerOracle)),

    // JSON extraction (§2.2 collapsed): props is a JSON string column.
    QueryDef("q16_json", (s, d) => {
      Tables.events(s, d)
        .withColumn("k_val", get_json_object($"props", "$.k").cast("int"))
        .groupBy($"k_val")
        .agg(count(lit(1)).as("n"), Fns.roundU(avg($"value"), 2).as("avg_value"))
        .orderBy($"k_val")
    }, Some(
      """SELECT CAST(json_extract_string(props, '$.k') AS INT) AS k_val,
        |  count(*) AS n, floor((avg(value)) * 100 + 0.5) / 100.0 AS avg_value
        |FROM events GROUP BY 1 ORDER BY k_val""".stripMargin)),

    // O22: positional join — per-user event sequence with position index.
    // Window form (row_number - 1): a per-key sort that streams, with no
    // per-group array materialization — a collect_list form would buffer a
    // user's whole history in one aggregation buffer, the thing that OOMs
    // on a hot key at scale.
    QueryDef("q17_positional", (s, d) => {
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      Tables.events(s, d).filter($"user_id" < 20)
        .select($"user_id",
          (row_number().over(w) - 1).as("pos"),
          $"event_type", $"event_id")
        .orderBy($"user_id", $"pos")
    }, Some(
      """SELECT user_id,
        |  CAST(row_number() OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) - 1 AS INT) AS pos,
        |  event_type, event_id
        |FROM events WHERE user_id < 20 ORDER BY user_id, pos""".stripMargin)),

    // As-of join: each click sees the latest prior-or-simultaneous
    // purchase value of the same user. Sort-based single-pass (no per-row
    // range probe) — the formulation that survives 100× scale.
    QueryDef("q18_asof_join", (s, d) => {
      val e = Tables.events(s, d)
      val clicks = e.filter($"event_type" === "click")
        .select($"user_id", $"ts", $"event_id", $"value")
      val purchases = e.filter($"event_type" === "purchase")
        .select($"user_id", $"ts", $"value")
      Joins.asOfJoin(clicks, purchases, "user_id", "ts", "value",
          "last_purchase", $"event_id")
        .select($"user_id", $"event_id", $"value", $"last_purchase")
        .orderBy($"user_id", $"event_id")
    }, Some(
      """WITH u AS (
        |  SELECT user_id, ts, event_id, value,
        |    CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END AS side
        |  FROM events WHERE event_type IN ('click', 'purchase')),
        |w AS (
        |  SELECT *, last_value(CASE WHEN side = 0 THEN value END
        |      IGNORE NULLS) OVER (PARTITION BY user_id
        |      ORDER BY ts, side, value
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS last_purchase
        |  FROM u)
        |SELECT user_id, event_id, value, last_purchase FROM w
        |WHERE side = 1 ORDER BY user_id, event_id""".stripMargin)),

    // Skew-safe salted join (result identical to the plain equi-join):
    // events (5-key skew) against a per-type dim derived from itself.
    QueryDef("q20_salted_join", (s, d) => {
      val e = Tables.events(s, d)
      val dim = e.groupBy($"event_type")
        .agg(Fns.roundU(avg($"value"), 2).as("price"))
      Joins.saltedJoin(e, "event_type", $"event_id", dim, "event_type", 8)
        .groupBy($"event_type", $"price")
        .agg(count(lit(1)).as("n"))
        .orderBy($"event_type")
    }, Some(
      """WITH dim AS (SELECT event_type, floor((avg(value)) * 100 + 0.5) / 100.0 AS price
        |  FROM events GROUP BY event_type)
        |SELECT e.event_type, d.price, count(*) AS n
        |FROM events e JOIN dim d ON e.event_type = d.event_type
        |GROUP BY 1, 2 ORDER BY e.event_type""".stripMargin)),

    // Map-typed processing: per-user map<event_type, count>, then lookup.
    QueryDef("q34_map_funcs", (s, d) => {
      Tables.events(s, d)
        .filter($"user_id" < 30)
        .groupBy($"user_id", $"event_type")
        .agg(count(lit(1)).as("n"))
        .groupBy($"user_id")
        .agg(map_from_entries(sort_array(collect_list(
          struct($"event_type", $"n")))).as("m"))
        // try_element_at: ANSI-mode element_at throws on a missing key;
        // the oracle's CASE yields NULL — match that
        .select($"user_id",
          try_element_at($"m", lit("click")).as("n_click"),
          try_element_at($"m", lit("purchase")).as("n_purchase"),
          size($"m").as("n_types"))
        .orderBy($"user_id")
    }, Some(
      """WITH c AS (
        |  SELECT user_id, event_type, count(*) AS n FROM events
        |  WHERE user_id < 30 GROUP BY 1, 2)
        |SELECT user_id,
        |  max(CASE WHEN event_type = 'click' THEN n END) AS n_click,
        |  max(CASE WHEN event_type = 'purchase' THEN n END) AS n_purchase,
        |  CAST(count(*) AS INT) AS n_types
        |FROM c GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // O35 exact semantics (previous-EMITTED comparison) as a batch query —
    // the secondary-sort mapPartitions path. Inherently sequential per
    // key, but still SQL-expressible via a RECURSIVE CTE walking each
    // key's rows in rank order — so it gets a real DuckDB oracle.
    QueryDef("q36_suppress_stateful", (s, d) => {
      val purchases = Tables.events(s, d)
        .filter($"event_type" === "purchase")
        .withColumn("ts_us",
          unix_micros($"ts"))
      ChangeSuppression.suppress(purchases, "user_id", "ts_us", "event_id",
          "value", 0.1)
        // suppress carries its key as string internally; restore the type
        .select($"user_id".cast("long").as("user_id"), $"ts_us",
          $"event_id", $"value")
        .orderBy($"user_id", $"ts_us")
    },
    // Previous-EMITTED change suppression is sequential per key — the
    // oracle walks each key's rank-ordered rows with a recursive CTE,
    // carrying the last emitted value.
    Some(
      """WITH RECURSIVE base AS (
        |  SELECT user_id, epoch_ns(ts) // 1000 AS ts_us, event_id, value,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY epoch_ns(ts) // 1000, event_id) AS rn
        |  FROM events WHERE event_type = 'purchase'),
        |walk AS (
        |  SELECT user_id, rn, ts_us, event_id, value,
        |    value AS last_emit, true AS emitted
        |  FROM base WHERE rn = 1
        |  UNION ALL
        |  SELECT b.user_id, b.rn, b.ts_us, b.event_id, b.value,
        |    CASE WHEN abs(b.value - w.last_emit) > abs(w.last_emit) * 0.1
        |         THEN b.value ELSE w.last_emit END,
        |    abs(b.value - w.last_emit) > abs(w.last_emit) * 0.1
        |  FROM walk w JOIN base b
        |    ON b.user_id = w.user_id AND b.rn = w.rn + 1)
        |SELECT user_id, ts_us, event_id, value FROM walk WHERE emitted
        |ORDER BY user_id, ts_us""".stripMargin)),

    // Sessionization via Spark's session_window (30-min gap), oracled by
    // the classic gaps-and-islands SQL derivation — the streaming-native
    // session operator, validated in batch.
    QueryDef("q37_sessionize", (s, d) => {
      Tables.events(s, d)
        .filter($"user_id" < 40)
        .groupBy($"user_id", session_window($"ts", "30 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"),
          Fns.roundU(sum($"value"), 2).as("sum_value"))
        .select($"user_id", $"w.start".as("session_start"),
          $"n_events", $"sum_value")
        .orderBy($"user_id", $"session_start")
    }, Some(
      """WITH e AS (SELECT user_id, ts, value FROM events
        |  WHERE user_id < 40),
        |flags AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |           IS NULL
        |      OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |           >= INTERVAL 30 MINUTE
        |      THEN 1 ELSE 0 END AS new_s
        |  FROM e),
        |sess AS (
        |  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM flags)
        |SELECT user_id, min(ts) AS session_start, count(*) AS n_events,
        |  floor((sum(value)) * 100 + 0.5) / 100.0 AS sum_value
        |FROM sess GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin)),

    // Window frames: per-user running total and moving average over the
    // last 3 events (ROWS BETWEEN frames).
    QueryDef("q38_running_frames", (s, d) => {
      val byUser = Window.partitionBy($"user_id")
        .orderBy($"ts", $"event_id")
      Tables.events(s, d)
        .filter($"user_id" < 15)
        .select($"user_id", $"event_id", $"value",
          Fns.roundU(sum($"value").over(
            byUser.rowsBetween(Window.unboundedPreceding, 0)), 2)
            .as("running_total"),
          Fns.roundU(sum($"value").over(byUser.rowsBetween(-2, 0)), 2)
            .as("sum_last3"))
        .orderBy($"user_id", $"event_id")
    }, Some(
      """SELECT user_id, event_id, value,
        |  floor((sum(value) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) * 100
        |    + 0.5) / 100.0 AS running_total,
        |  floor((sum(value) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id
        |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)) * 100 + 0.5)
        |    / 100.0 AS sum_last3
        |FROM events WHERE user_id < 15
        |ORDER BY user_id, event_id""".stripMargin)),

    // Native PIVOT: per-user-bucket event counts pivoted by type.
    QueryDef("q43_pivot", (s, d) => {
      Tables.events(s, d)
        .withColumn("bucket", ($"user_id" % 10).cast("int"))
        .groupBy($"bucket")
        .pivot("event_type",
          Seq("click", "view", "purchase", "signup", "error"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy($"bucket")
    }, Some(
      """SELECT CAST(user_id % 10 AS INT) AS bucket,
        |  count(*) FILTER (event_type = 'click') AS click,
        |  count(*) FILTER (event_type = 'view') AS view,
        |  count(*) FILTER (event_type = 'purchase') AS purchase,
        |  count(*) FILTER (event_type = 'signup') AS signup,
        |  count(*) FILTER (event_type = 'error') AS error
        |FROM events GROUP BY 1 ORDER BY bucket""".stripMargin)),

    // Delta-style MERGE / CDC apply (operators.Merge): fold a change batch
    // (upserts, deletes, inserts of new keys, last-writer-wins within the
    // batch) into a keyed snapshot — winning change via hash aggregate +
    // one full-outer join, no window, no driver state.
    QueryDef("q49_cdc_apply", (s, d) => {
      val target = Tables.customer(s, d)
        .select($"c_custkey", $"c_name", $"c_acctbal")
      val key = when($"o_orderkey" % 100 === 0, $"o_custkey" + 1000000)
        .otherwise($"o_custkey")
      val changes = Tables.orders(s, d)
        .filter($"o_orderkey" % 50 === 0)
        .select(key.as("c_custkey"),
          concat(lit("cust-"), key.cast("string")).as("c_name"),
          $"o_totalprice".as("c_acctbal"),
          when($"o_orderstatus" === "F", "D").otherwise("U").as("op"),
          $"o_orderkey".as("ord"))
      Merge.applyChanges(target, changes, Seq("c_custkey"),
          Seq("c_name", "c_acctbal"), "op", "ord")
        .orderBy($"c_custkey")
    }, Some(
      """WITH target AS (SELECT c_custkey, c_name, c_acctbal FROM customer),
        |changes AS (
        |  SELECT CASE WHEN o_orderkey % 100 = 0 THEN o_custkey + 1000000
        |              ELSE o_custkey END AS c_custkey,
        |    concat('cust-', CAST(CASE WHEN o_orderkey % 100 = 0
        |      THEN o_custkey + 1000000 ELSE o_custkey END AS VARCHAR))
        |      AS c_name,
        |    o_totalprice AS c_acctbal,
        |    CASE WHEN o_orderstatus = 'F' THEN 'D' ELSE 'U' END AS op,
        |    o_orderkey AS ord
        |  FROM orders WHERE o_orderkey % 50 = 0),
        |win AS (
        |  SELECT c_custkey, c_name, c_acctbal, op FROM (
        |    SELECT *, row_number() OVER (PARTITION BY c_custkey
        |      ORDER BY ord DESC) AS rn FROM changes) WHERE rn = 1)
        |SELECT coalesce(t.c_custkey, w.c_custkey) AS c_custkey,
        |  CASE WHEN w.op = 'U' THEN w.c_name ELSE t.c_name END AS c_name,
        |  CASE WHEN w.op = 'U' THEN w.c_acctbal ELSE t.c_acctbal END
        |    AS c_acctbal
        |FROM target t FULL OUTER JOIN win w ON t.c_custkey = w.c_custkey
        |WHERE coalesce(w.op, 'U') <> 'D'
        |ORDER BY c_custkey""".stripMargin)),

    // Event FUNNEL: first view → first later click → first later
    // purchase per user, strictly ordered by event time — the classic
    // product-analytics conversion query. Three per-user min
    // aggregates chained by co-partitioned user_id joins; no windows,
    // no per-user event arrays.
    QueryDef("q82_event_funnel", (s, d) => {
      val ev = Tables.events(s, d)
        .select($"user_id", $"event_type", $"ts")
      val v = ev.filter($"event_type" === "view")
        .groupBy($"user_id").agg(min($"ts").as("vt"))
      val c = ev.filter($"event_type" === "click").join(v, "user_id")
        .filter($"ts" > $"vt")
        .groupBy($"user_id").agg(min($"ts").as("ct"))
      val p = ev.filter($"event_type" === "purchase").join(c, "user_id")
        .filter($"ts" > $"ct")
        .groupBy($"user_id").agg(min($"ts").as("pt"))
      v.agg(count(lit(1)).as("n_viewed"))
        .crossJoin(c.agg(count(lit(1)).as("n_clicked")))
        .crossJoin(p.agg(count(lit(1)).as("n_purchased")))
        .select($"n_viewed", $"n_clicked", $"n_purchased",
          Fns.roundU($"n_clicked".cast("double") / $"n_viewed", 4)
            .as("click_rate"),
          Fns.roundU($"n_purchased".cast("double") / $"n_clicked", 4)
            .as("purchase_rate"))
    }, Some(
      """WITH v AS (
        |  SELECT user_id, min(ts) AS vt FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |c AS (
        |  SELECT e.user_id, min(e.ts) AS ct
        |  FROM events e JOIN v USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts > v.vt
        |  GROUP BY e.user_id),
        |p AS (
        |  SELECT e.user_id, min(e.ts) AS pt
        |  FROM events e JOIN c USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > c.ct
        |  GROUP BY e.user_id),
        |n AS (
        |  SELECT (SELECT CAST(count(*) AS BIGINT) FROM v) AS n_viewed,
        |    (SELECT CAST(count(*) AS BIGINT) FROM c) AS n_clicked,
        |    (SELECT CAST(count(*) AS BIGINT) FROM p) AS n_purchased)
        |SELECT n_viewed, n_clicked, n_purchased,
        |  floor((CAST(n_clicked AS DOUBLE) / n_viewed) * 10000 + 0.5)
        |    / 10000.0 AS click_rate,
        |  floor((CAST(n_purchased AS DOUBLE) / n_clicked) * 10000 + 0.5)
        |    / 10000.0 AS purchase_rate
        |FROM n""".stripMargin)),

    // OHLC BARS — the market-data resample the reference's price feed
    // implies (SURVEY §3.3 price path): per (type, hour) open/high/
    // low/close/volume. Open/close are order-sensitive — min_by/max_by
    // over the total (ts, event_id) key keeps them ONE hash aggregate
    // (no per-bar sort, no window); a bar's state is five numbers
    // however many trades it holds. Streams.priceBars is the
    // watermarked streaming twin.
    QueryDef("q83_ohlc_bars", (s, d) => {
      Tables.events(s, d)
        .groupBy($"event_type",
          window($"ts", "1 hour").getField("start").as("bar_start"))
        .agg(min_by($"value", struct($"ts", $"event_id")).as("open"),
          max($"value").as("high"), min($"value").as("low"),
          max_by($"value", struct($"ts", $"event_id")).as("close"),
          count(lit(1)).as("n_trades"),
          Fns.roundU(sum($"value"), 2).as("volume"))
        .orderBy($"event_type", $"bar_start")
    }, Some(
      """WITH r AS (
        |  SELECT event_type, date_trunc('hour', ts) AS bar_start, value,
        |    row_number() OVER (PARTITION BY event_type,
        |      date_trunc('hour', ts) ORDER BY ts, event_id) AS ra,
        |    row_number() OVER (PARTITION BY event_type,
        |      date_trunc('hour', ts) ORDER BY ts DESC, event_id DESC)
        |      AS rd
        |  FROM events)
        |SELECT event_type, bar_start,
        |  max(CASE WHEN ra = 1 THEN value END) AS open,
        |  max(value) AS high, min(value) AS low,
        |  max(CASE WHEN rd = 1 THEN value END) AS close,
        |  CAST(count(*) AS BIGINT) AS n_trades,
        |  floor((sum(value)) * 100 + 0.5) / 100.0 AS volume
        |FROM r GROUP BY event_type, bar_start
        |ORDER BY event_type, bar_start""".stripMargin)),

    // DRAIN ALERTS — the reference's actual detection signal as a
    // query: a watch-listed key whose post balance collapsed vs its
    // pre balance (the liquidity-pull signature, SURVEY §0) with the
    // USD impact priced through the ledger's dim join. Pure filter +
    // hash aggregate over the q13 ledger — the alerting layer costs
    // nothing beyond the pipeline it reads.
    QueryDef("q84_drain_alerts", (s, d) => {
      val drained = TokenFlows.eventLedger(s, d)
        .filter($"pre_value" > 0 && $"post_value".isNotNull)
        .withColumn("drop_frac",
          ($"pre_value" - $"post_value") / $"pre_value")
        .filter($"drop_frac" >= 0.5)
      drained.groupBy($"user_id")
        .agg(count(lit(1)).as("n_drained"),
          Fns.roundU(max($"drop_frac"), 4).as("worst_drop"),
          Fns.roundU(sum(($"pre_value" - $"post_value") * $"price"), 2)
            .as("usd_impact"))
        .orderBy($"user_id")
    }, Some(
      s"""WITH drained AS (
        |  SELECT user_id,
        |    (pre_value - post_value) / pre_value AS drop_frac,
        |    (pre_value - post_value) * price AS impact
        |  FROM (
        |${TokenFlows.eventLedgerOracle.linesIterator
            .map("    " + _).mkString("\n")}
        |  ) ledger
        |  WHERE pre_value > 0 AND post_value IS NOT NULL
        |    AND (pre_value - post_value) / pre_value >= 0.5)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_drained,
        |  floor((max(drop_frac)) * 10000 + 0.5) / 10000.0 AS worst_drop,
        |  floor((sum(impact)) * 100 + 0.5) / 100.0 AS usd_impact
        |FROM drained GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // TRENDING top-k — per (type, hour) leaders through the native
    // TopKPerKey plan on a COMPOSITE key (the custom operator
    // generalizes past single-column keys): only k candidate rows per
    // (type, hour) per partition reach the shuffle, vs a window sort
    // of every (type, hour, user) count row.
    QueryDef("q87_trending", (s, d) => {
      val counts = Tables.events(s, d)
        .groupBy($"event_type",
          window($"ts", "1 hour").getField("start").as("hr"),
          $"user_id")
        .agg(count(lit(1)).as("n"))
      graft.plans.TopKPerKey(counts, Seq("event_type", "hr"),
          Seq($"n".desc, $"user_id".asc), k = 3)
        .orderBy($"event_type", $"hr", $"n".desc, $"user_id")
    }, Some(
      """WITH c AS (
        |  SELECT event_type, date_trunc('hour', ts) AS hr, user_id,
        |    count(*) AS n
        |  FROM events GROUP BY event_type, hr, user_id),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY event_type, hr
        |    ORDER BY n DESC, user_id ASC) AS rk
        |  FROM c)
        |SELECT event_type, hr, user_id, CAST(n AS BIGINT) AS n
        |FROM r WHERE rk <= 3
        |ORDER BY event_type, hr, n DESC, user_id""".stripMargin)),

    // MAX DRAWDOWN per user — the risk metric behind q84's alert
    // threshold: largest peak-to-trough value drop over each user's
    // purchase history. Running peak is a rows-frame window
    // PARTITIONED BY USER — high-cardinality key, so every partition's
    // sort is small and parallel (the unpartitioned-window taboo does
    // not apply).
    QueryDef("q89_max_drawdown", (s, d) => {
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
      Tables.events(s, d)
        .filter($"event_type" === "purchase")
        .withColumn("peak", max($"value").over(w))
        .filter($"peak" > 0)
        .withColumn("dd", ($"peak" - $"value") / $"peak")
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n_obs"),
          Fns.roundU(max($"dd"), 4).as("max_drawdown"))
        .orderBy($"user_id")
    }, Some(
      """WITH p AS (
        |  SELECT user_id, value,
        |    max(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
        |  FROM events WHERE event_type = 'purchase')
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_obs,
        |  floor((max((peak - value) / peak)) * 10000 + 0.5) / 10000.0
        |    AS max_drawdown
        |FROM p WHERE peak > 0 GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // SCD TYPE-2 apply — q49's history-keeping sibling (the other half
    // of warehouse dimension maintenance): changed keys CLOSE their
    // open row at the change timestamp and append the new version;
    // identical-value changes are no-ops (no interval churn). Same
    // scale shape as the SCD-1 merge: winner-per-key hash aggregate +
    // one keyed outer join; history rows never enter the join.
    QueryDef("q92_scd2_apply", (s, d) => {
      val (target, changes) = scd2Fixture(s, d)
      Merge.applyScd2(target, changes, Seq("c_custkey"), Seq("val"),
          "ts", "valid_from", "valid_to")
        .orderBy($"c_custkey", $"valid_from")
    }, Some(
      """WITH target AS (
        |  SELECT c_custkey, c_acctbal AS val,
        |    CAST(0 AS BIGINT) AS valid_from,
        |    CAST(NULL AS BIGINT) AS valid_to
        |  FROM customer),
        |ch0 AS (
        |  SELECT CASE WHEN o_orderkey % 100 = 0 THEN o_custkey + 1000000
        |    ELSE o_custkey END AS c_custkey,
        |    o_totalprice AS val, o_orderkey AS ts
        |  FROM orders WHERE o_orderkey % 50 = 0),
        |ch AS (
        |  SELECT c_custkey, val, ts FROM (
        |    SELECT *, row_number() OVER (PARTITION BY c_custkey
        |      ORDER BY ts DESC) AS rn FROM ch0) WHERE rn = 1),
        |keep AS (
        |  SELECT t.c_custkey, t.val, t.valid_from, t.valid_to
        |  FROM target t LEFT JOIN ch USING (c_custkey)
        |  WHERE ch.ts IS NULL OR t.val = ch.val),
        |closed AS (
        |  SELECT t.c_custkey, t.val, t.valid_from,
        |    CAST(ch.ts AS BIGINT) AS valid_to
        |  FROM target t JOIN ch USING (c_custkey)
        |  WHERE t.val <> ch.val),
        |ins AS (
        |  SELECT ch.c_custkey, ch.val, CAST(ch.ts AS BIGINT)
        |    AS valid_from, CAST(NULL AS BIGINT) AS valid_to
        |  FROM ch LEFT JOIN target t USING (c_custkey)
        |  WHERE t.c_custkey IS NULL OR t.val <> ch.val)
        |SELECT * FROM keep UNION ALL SELECT * FROM closed
        |UNION ALL SELECT * FROM ins
        |ORDER BY c_custkey, valid_from""".stripMargin)),

    // POINT-IN-TIME read over the q92 versioned table — time travel as
    // a pure interval filter (valid_from ≤ T < valid_to): the payoff
    // of SCD-2's close-and-append discipline is that any historical
    // snapshot is one predicate, no log replay. T = half the max
    // change timestamp, DERIVED from the data so both pre- and
    // post-change versions exist at EVERY scale factor (a fixed
    // literal exceeded all sf0.001 timestamps, leaving the
    // closed-interval branch dead there).
    QueryDef("q93_time_travel", (s, d) => {
      val (target, changes) = scd2Fixture(s, d)
      val asOf = changes.agg((max($"ts") / 2).cast("long").as("__asof"))
      Merge.applyScd2(target, changes, Seq("c_custkey"), Seq("val"),
          "ts", "valid_from", "valid_to")
        .crossJoin(broadcast(asOf))
        .filter($"valid_from" <= $"__asof" &&
          ($"valid_to".isNull || $"valid_to" > $"__asof"))
        .select($"c_custkey", $"val", $"valid_from")
        .orderBy($"c_custkey")
    }, Some(
      """WITH target AS (
        |  SELECT c_custkey, c_acctbal AS val,
        |    CAST(0 AS BIGINT) AS valid_from,
        |    CAST(NULL AS BIGINT) AS valid_to
        |  FROM customer),
        |ch0 AS (
        |  SELECT CASE WHEN o_orderkey % 100 = 0 THEN o_custkey + 1000000
        |    ELSE o_custkey END AS c_custkey,
        |    o_totalprice AS val, o_orderkey AS ts
        |  FROM orders WHERE o_orderkey % 50 = 0),
        |ch AS (
        |  SELECT c_custkey, val, ts FROM (
        |    SELECT *, row_number() OVER (PARTITION BY c_custkey
        |      ORDER BY ts DESC) AS rn FROM ch0) WHERE rn = 1),
        |keep AS (
        |  SELECT t.c_custkey, t.val, t.valid_from, t.valid_to
        |  FROM target t LEFT JOIN ch USING (c_custkey)
        |  WHERE ch.ts IS NULL OR t.val = ch.val),
        |closed AS (
        |  SELECT t.c_custkey, t.val, t.valid_from,
        |    CAST(ch.ts AS BIGINT) AS valid_to
        |  FROM target t JOIN ch USING (c_custkey)
        |  WHERE t.val <> ch.val),
        |ins AS (
        |  SELECT ch.c_custkey, ch.val, CAST(ch.ts AS BIGINT)
        |    AS valid_from, CAST(NULL AS BIGINT) AS valid_to
        |  FROM ch LEFT JOIN target t USING (c_custkey)
        |  WHERE t.c_custkey IS NULL OR t.val <> ch.val),
        |v AS (
        |  SELECT * FROM keep UNION ALL SELECT * FROM closed
        |  UNION ALL SELECT * FROM ins),
        |a AS (SELECT CAST(max(ts) / 2 AS BIGINT) AS asof FROM ch)
        |SELECT c_custkey, val, valid_from
        |FROM v, a WHERE valid_from <= a.asof
        |  AND (valid_to IS NULL OR valid_to > a.asof)
        |ORDER BY c_custkey""".stripMargin)),

    // Z-ORDER LAYOUT audit — multi-dimensional clustering (the lakehouse
    // OPTIMIZE ZORDER technique): bucket rows by Morton z-value prefix
    // of (partkey, suppkey) and report BOTH dimensions' min/max per
    // bucket — the per-file stats a z-ordered write exposes, bounded in
    // both columns so predicates on either side prune. The z-value is a
    // flat OR chain of masked shifts (whole-stage codegen, no UDF);
    // DuckDB recomputes it bit-for-bit, so an interleaving error breaks
    // the hash.
    QueryDef("q100_zorder_layout", (s, d) => {
      Layout.zOrderBuckets(Tables.lineitem(s, d), "l_partkey",
          "l_suppkey", bits = 16, shift = 16)
        .orderBy($"bucket_id")
    },
    // q100: the Morton interleave recomputed bit-for-bit in SQL (sum of
    // disjoint bit terms == the OR chain)
    Some(
      """WITH z AS (
        |  SELECT l_partkey AS x, l_suppkey AS y,
        |    (SELECT sum(((((l_partkey & 65535) >> u.i) & 1) << (2*u.i))
        |              + ((((l_suppkey & 65535) >> u.i) & 1) << (2*u.i+1)))
        |     FROM range(0, 16) u(i)) AS zv
        |  FROM lineitem)
        |SELECT CAST(zv >> 16 AS BIGINT) AS bucket_id,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(min(x) AS BIGINT) AS min_x, CAST(max(x) AS BIGINT) AS max_x,
        |  CAST(min(y) AS BIGINT) AS min_y, CAST(max(y) AS BIGINT) AS max_y
        |FROM z GROUP BY bucket_id ORDER BY bucket_id""".stripMargin)),

    // SLIDING (hopping) event-time windows — the one window flavor the
    // suite hadn't pinned (q83/q87 are tumbling, q37 is session):
    // 2-hour windows sliding hourly, so each event lands in exactly 2
    // windows. Spark's window() replicates rows per overlapping window
    // inside the scan projection, then it's one hash aggregate — the
    // oracle reproduces the same epoch-aligned window arithmetic.
    QueryDef("q103_sliding_window", (s, d) => {
      Tables.events(s, d)
        .groupBy($"event_type", window($"ts", "2 hours", "1 hour").as("w"))
        .agg(count(lit(1)).as("n"),
          Fns.roundU(sum($"value"), 2).as("sum_value"))
        .select($"event_type", $"w.start".as("w_start"), $"n",
          $"sum_value")
        .orderBy($"event_type", $"w_start")
    },
    // q103: every event replicated into its 2 overlapping hour-aligned
    // windows, then the same aggregate
    Some(
      """WITH w AS (
        |  SELECT event_type, value,
        |    date_trunc('hour', ts) - to_hours(u.i) AS w_start
        |  FROM events, range(0, 2) u(i))
        |SELECT event_type, w_start, CAST(count(*) AS BIGINT) AS n,
        |  floor((sum(value)) * 100 + 0.5) / 100.0 AS sum_value
        |FROM w GROUP BY event_type, w_start
        |ORDER BY event_type, w_start""".stripMargin)),

    // INCREMENTAL AGGREGATE MAINTENANCE — materialized-view delta
    // merge (self-maintainable-view theory: counts/sums maintain under
    // inserts AND retracts with no base-table rescan). Base = the
    // pricing summary over 90% of lineitem; the delta batch inserts
    // the held-out 10% and retracts every 7th base row. The oracle
    // recomputes the aggregate FROM SCRATCH over the effective row
    // set — the maintained view must hash-match it exactly, which is
    // the defining identity of incremental view maintenance.
    QueryDef("q106_agg_delta", (s, d) => {
      val li = Tables.lineitem(s, d).select($"l_returnflag",
        $"l_linestatus", $"l_quantity", $"l_extendedprice",
        $"l_orderkey")
      val baseAgg = li.filter($"l_orderkey" % 10 =!= 0)
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(count(lit(1)).as("n_rows"),
          sum($"l_quantity").as("sum_qty"),
          sum($"l_extendedprice").as("sum_price"))
      val delta = li.filter($"l_orderkey" % 10 === 0)
        .withColumn("__op", lit("I"))
        .unionByName(li.filter($"l_orderkey" % 10 =!= 0 &&
          $"l_orderkey" % 7 === 0).withColumn("__op", lit("D")))
      Merge.applyAggDelta(baseAgg, delta,
          Seq("l_returnflag", "l_linestatus"), "n_rows",
          Seq("sum_qty" -> "l_quantity",
            "sum_price" -> "l_extendedprice"), "__op")
        .select($"l_returnflag", $"l_linestatus", $"n_rows",
          Fns.roundU($"sum_qty", 2).as("sum_qty"),
          Fns.roundU($"sum_price", 2).as("sum_price"))
        .orderBy($"l_returnflag", $"l_linestatus")
    },
    // q106: the oracle recomputes the aggregate from scratch over the
    // effective set — (base minus retracts) plus inserts collapses to
    // one predicate: kept iff inserted (%10=0) or not retracted (%7<>0)
    Some(
      """SELECT l_returnflag, l_linestatus,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  floor((sum(l_quantity)) * 100 + 0.5) / 100.0 AS sum_qty,
        |  floor((sum(l_extendedprice)) * 100 + 0.5) / 100.0 AS sum_price
        |FROM lineitem
        |WHERE l_orderkey % 10 = 0 OR l_orderkey % 7 <> 0
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // LAST-TOUCH ATTRIBUTION — the marketing-analytics staple: each
    // purchase credits the user's latest view/click at-or-before it;
    // revenue rolls up by credited touch type, purchases with no prior
    // touch report as unattributed. Pure REUSE of the q18 as-of join
    // (union + one window pass, one shuffle on user_id — never a
    // per-purchase range probe), with its tie discipline: touches sort
    // before same-ts purchases, equal-ts touches resolve to the
    // greatest type, all mirrored in the oracle.
    QueryDef("q107_attribution", (s, d) => {
      val ev = Tables.events(s, d)
      val purchases = ev.filter($"event_type" === "purchase")
        .select($"user_id", $"ts", $"event_id", $"value")
      val touches = ev.filter($"event_type".isin("view", "click"))
        .select($"user_id", $"ts", $"event_type")
      Joins.asOfJoin(purchases, touches, "user_id", "ts", "event_type",
          "credited", tieBreak = $"event_id")
        .groupBy(coalesce($"credited", lit("unattributed"))
          .as("credited"))
        .agg(count(lit(1)).as("n_purchases"),
          Fns.roundU(sum($"value"), 2).as("revenue"))
        .orderBy($"credited")
    },
    // q107: the q18 union-window derivation with purchase/touch sides
    // swapped; same tie discipline (touch before same-ts purchase,
    // greatest type among equal-ts touches)
    Some(
      """WITH u AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS side,
        |    CASE WHEN event_type <> 'purchase' THEN event_type END
        |      AS touch
        |  FROM events WHERE event_type IN ('view', 'click', 'purchase')),
        |w AS (
        |  SELECT *, last_value(touch IGNORE NULLS) OVER (
        |      PARTITION BY user_id ORDER BY ts, side, touch
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS credited
        |  FROM u)
        |SELECT coalesce(credited, 'unattributed') AS credited,
        |  CAST(count(*) AS BIGINT) AS n_purchases,
        |  floor((sum(value)) * 100 + 0.5) / 100.0 AS revenue
        |FROM w WHERE side = 1
        |GROUP BY 1 ORDER BY credited""".stripMargin)),

    // COHORT RETENTION — the product-analytics matrix: users cohorted
    // by first-activity week, retention = fraction of the cohort
    // active k weeks later. Window-free: first-week and activity are
    // two hash aggregates over (user, week) — the distinct collapses
    // per-user event volume BEFORE any join, so the retention join
    // moves at most users × weeks rows however many raw events exist.
    QueryDef("q109_cohort_retention", (s, d) => {
      val ev = Tables.events(s, d)
        .select($"user_id", date_trunc("week", $"ts").as("w"))
      val act = ev.distinct()
      val firstw = act.groupBy($"user_id").agg(min($"w").as("cw"))
      val sizes = firstw.groupBy($"cw").agg(count(lit(1)).as("n_users"))
      act.join(firstw, "user_id")
        .select($"cw", (datediff($"w", $"cw") / 7).cast("int").as("off"))
        .filter($"off" <= 4)
        .groupBy($"cw", $"off").agg(count(lit(1)).as("n_active"))
        .join(sizes, "cw")
        .select($"cw".cast("date").as("cohort_week"),
          $"off".as("week_offset"), $"n_active", $"n_users",
          Fns.roundU($"n_active".cast("double") / $"n_users", 4)
            .as("retention"))
        .orderBy($"cohort_week", $"week_offset")
    },
    // q109: same derivation — distinct (user, week) activity, min week
    // as the cohort, day-diff // 7 as the offset
    Some(
      """WITH a AS (
        |  SELECT DISTINCT user_id,
        |    CAST(date_trunc('week', ts) AS DATE) AS w
        |  FROM events),
        |f AS (SELECT user_id, min(w) AS cw FROM a GROUP BY user_id),
        |cs AS (SELECT cw, CAST(count(*) AS BIGINT) AS n_users
        |  FROM f GROUP BY cw),
        |j AS (
        |  SELECT f.cw, CAST(date_diff('day', f.cw, a.w) // 7 AS INT)
        |    AS off
        |  FROM a JOIN f USING (user_id))
        |SELECT CAST(j.cw AS DATE) AS cohort_week, off AS week_offset,
        |  CAST(count(*) AS BIGINT) AS n_active, n_users,
        |  floor((count(*) / CAST(n_users AS DOUBLE)) * 10000 + 0.5)
        |    / 10000.0 AS retention
        |FROM j JOIN cs USING (cw) WHERE off <= 4
        |GROUP BY j.cw, off, n_users
        |ORDER BY cohort_week, week_offset""".stripMargin)),

    // JOIN-SKEW diagnostICS — the pre-flight report that decides
    // whether a join key needs salting (q20) or AQE's skew split
    // before a 100 TB run finds out the hard way: per-key counts
    // collapse in one hash aggregate (the shuffle carries distinct
    // keys, not rows), one bounded aggregate derives the straggler
    // factor and the leveling salt count.
    QueryDef("q110_skew_report", (s, d) => {
      Layout.skewReport(Tables.events(s, d), "user_id")
        .select($"n_rows", $"n_keys", $"max_count", $"top_key",
          $"avg_count", $"skew_ratio", $"suggested_salts")
    },
    // q110: per-key counts then shape stats; the top key resolves by
    // (count desc, key desc) — the Spark side's max_by struct order
    Some(
      """WITH c AS (
        |  SELECT user_id AS key, count(*) AS c FROM events GROUP BY 1),
        |t AS (SELECT CAST(key AS VARCHAR) AS top_key FROM c
        |  ORDER BY c DESC, key DESC LIMIT 1),
        |s AS (SELECT CAST(sum(c) AS BIGINT) AS n_rows,
        |  CAST(count(*) AS BIGINT) AS n_keys,
        |  CAST(max(c) AS BIGINT) AS max_count FROM c)
        |SELECT n_rows, n_keys, max_count, top_key,
        |  floor((n_rows / CAST(n_keys AS DOUBLE)) * 100 + 0.5) / 100.0
        |    AS avg_count,
        |  floor((max_count * CAST(n_keys AS DOUBLE) / n_rows) * 100
        |    + 0.5) / 100.0 AS skew_ratio,
        |  CAST(ceil(max_count * CAST(n_keys AS DOUBLE) / n_rows) AS INT)
        |    AS suggested_salts
        |FROM s, t""".stripMargin)),

    // LONGEST ACTIVITY STREAK — gaps-and-islands over distinct
    // activity dates (the engagement metric): date minus per-user
    // row_number is constant within a run of consecutive days, so
    // islands fall out of one user-partitioned window + two hash
    // aggregates; output is the per-streak-length user histogram.
    QueryDef("q112_activity_streaks", (s, d) => {
      val act = Tables.events(s, d)
        .select($"user_id", to_date($"ts").as("d")).distinct()
      val w = Window.partitionBy($"user_id").orderBy($"d")
      act.withColumn("__g", date_sub($"d", row_number().over(w)))
        .groupBy($"user_id", $"__g").agg(count(lit(1)).as("len"))
        .groupBy($"user_id").agg(max($"len").as("max_streak"))
        .groupBy($"max_streak").agg(count(lit(1)).as("n_users"))
        .orderBy($"max_streak")
    },
    // q112: same gaps-and-islands derivation (date minus row_number)
    Some(
      """WITH a AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
        |i AS (
        |  SELECT user_id, d - CAST(row_number() OVER (
        |    PARTITION BY user_id ORDER BY d) AS INT) AS g
        |  FROM a),
        |l AS (SELECT user_id, CAST(count(*) AS BIGINT) AS len
        |  FROM i GROUP BY user_id, g),
        |m AS (SELECT user_id, max(len) AS max_streak FROM l
        |  GROUP BY user_id)
        |SELECT max_streak, CAST(count(*) AS BIGINT) AS n_users
        |FROM m GROUP BY max_streak ORDER BY max_streak""".stripMargin)),

    // EVENT-TYPE TRANSITION MATRIX — the first-order Markov view of
    // user behavior: per user, each event's type paired with its
    // predecessor's (lag over the user-partitioned, totally-ordered
    // stream), transition counts + per-source-state probabilities.
    // One window pass + one hash aggregate; the (ts, event_id) order
    // key makes equal-ts neighbors deterministic.
    QueryDef("q113_event_transitions", (s, d) => {
      val w = Window.partitionBy($"user_id")
        .orderBy($"ts", $"event_id")
      val t = Tables.events(s, d)
        .select($"user_id", $"ts", $"event_id", $"event_type")
        .withColumn("__from", lag($"event_type", 1).over(w))
        .filter($"__from".isNotNull)
        .groupBy($"__from".as("from_type"),
          $"event_type".as("to_type"))
        .agg(count(lit(1)).as("n"))
      val totals = t.groupBy($"from_type")
        .agg(sum($"n").as("__tot"))
      t.join(totals, "from_type")
        .select($"from_type", $"to_type", $"n",
          Fns.roundU($"n".cast("double") / $"__tot", 4).as("p"))
        .orderBy($"from_type", $"to_type")
    },
    // q113: lag over the same (ts, event_id) total order
    Some(
      """WITH t AS (
        |  SELECT lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS from_type,
        |    event_type AS to_type
        |  FROM events),
        |c AS (
        |  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
        |  FROM t WHERE from_type IS NOT NULL GROUP BY 1, 2),
        |s AS (SELECT from_type, sum(n) AS tot FROM c GROUP BY 1)
        |SELECT c.from_type, c.to_type, c.n,
        |  floor((c.n / CAST(s.tot AS DOUBLE)) * 10000 + 0.5) / 10000.0
        |    AS p
        |FROM c JOIN s USING (from_type)
        |ORDER BY from_type, to_type""".stripMargin)),

    // FUNNEL TIME-TO-CONVERT — latency from each user's first 'view'
    // to their first subsequent 'purchase', exact p50/p90 per signup-
    // week cohort through the multi-level histogram (q33/q50's
    // operator): every stage a bounded hash aggregate, no per-cohort
    // row sort, so the same plan holds when a cohort has 100M
    // converters. Latency travels as MICROSECONDS (exact long in both
    // engines — no float epoch division to disagree over).
    QueryDef("q115_funnel_latency", (s, d) => {
      val ev = Tables.events(s, d)
      val v = ev.filter($"event_type" === "view")
        .groupBy($"user_id").agg(min($"ts").as("v_ts"))
      val p = ev.filter($"event_type" === "purchase")
        .join(v, "user_id")
        .filter($"ts" > $"v_ts")
        .groupBy($"user_id").agg(min($"ts").as("p_ts"), min($"v_ts").as("v_ts"))
      val lat = p.select(
        date_trunc("week", $"v_ts").cast("date").as("cohort_week"),
        (unix_micros($"p_ts") - unix_micros($"v_ts"))
          .cast("double").as("lat"))
      Percentiles.exactQuantiles(lat, "cohort_week", "lat",
          Seq(0.5, 0.9))
        .withColumnRenamed("value", "lat_us")
        .orderBy($"cohort_week", $"q")
    },
    // q115: nearest-rank (type-1) quantile at ⌈q·n⌉ min 1, the
    // histogram operator's contract; latency in exact microseconds
    Some(
      """WITH v AS (
        |  SELECT user_id, min(ts) AS v_ts FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |p AS (
        |  SELECT e.user_id, min(e.ts) AS p_ts, min(v.v_ts) AS v_ts
        |  FROM events e JOIN v USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > v.v_ts
        |  GROUP BY 1),
        |l AS (
        |  SELECT CAST(date_trunc('week', v_ts) AS DATE) AS cohort_week,
        |    CAST(epoch_us(p_ts) - epoch_us(v_ts) AS DOUBLE) AS lat
        |  FROM p),
        |r AS (
        |  SELECT cohort_week, lat,
        |    row_number() OVER (PARTITION BY cohort_week
        |      ORDER BY lat) AS rn,
        |    count(*) OVER (PARTITION BY cohort_week) AS n
        |  FROM l),
        |qs AS (SELECT unnest([CAST(0.5 AS DOUBLE),
        |    CAST(0.9 AS DOUBLE)]) AS q)
        |SELECT r.cohort_week, qs.q, r.lat AS lat_us
        |FROM r CROSS JOIN qs
        |WHERE r.rn = greatest(1, CAST(ceil(qs.q * r.n) AS BIGINT))
        |ORDER BY cohort_week, q""".stripMargin)),

    // ROLLING 7-DAY DISTINCT ACTIVE USERS — the DAU/WAU dashboard
    // metric. COUNT(DISTINCT) over a range window doesn't exist in
    // Spark (and the self-join-per-day alternative rescans 7× per
    // day); the scalable form is CONTRIBUTION EXPANSION: each distinct
    // (user, day) activity emits the ≤7 window days it contributes to,
    // distinct again, count per day. Blowup is a constant 7× on the
    // deduped activity table (not the raw events), every stage a hash
    // aggregate — the plan is identical at 100 TB.
    QueryDef("q116_rolling_active", (s, d) => {
      val act = Tables.events(s, d)
        .select($"user_id", to_date($"ts").as("d")).distinct()
      val contrib = act.select($"user_id",
          explode(sequence($"d", date_add($"d", 6))).as("day"))
        .distinct()
      val bounds = act.agg(max($"d").as("__max_d"))
      contrib.join(broadcast(bounds))
        .filter($"day" <= $"__max_d")
        .groupBy($"day").agg(count(lit(1)).as("active_7d"))
        .orderBy($"day")
    },
    // q116: same contribution expansion (activity day emits its 7
    // covered window days), deduped, counted
    Some(
      """WITH a AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
        |c AS (
        |  SELECT DISTINCT user_id, d + CAST(x.i AS INTEGER) AS day
        |  FROM a, unnest(generate_series(0, 6)) AS x(i)),
        |b AS (SELECT max(d) AS max_d FROM a)
        |SELECT c.day, CAST(count(*) AS BIGINT) AS active_7d
        |FROM c CROSS JOIN b WHERE c.day <= b.max_d
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // EWMA ANOMALY SCAN — exponentially-weighted moving average over
    // each event type's daily count series, flagging days that deviate
    // >50% from the prior smoothed level. alpha = 0.5 ON PURPOSE: the
    // closed form ewma_t = 0.5^t · Σ c_i·x_i with c_0 = 1,
    // c_i = 2^(i-1) keeps every intermediate an exactly-representable
    // scaled integer (powers of two are exact doubles), so the
    // recursive definition, this window form, and the oracle's SQL all
    // agree BIT-FOR-BIT — no libm in the loop. One partitioned window
    // pass; series length per key is bounded by the calendar, not the
    // data. Exactness bound: partial sums are integers and stay exact
    // while x̄·2^(L-1) < 2^53 (L = series length) — ~40 days at these
    // daily volumes; past that, restart the recurrence per window
    // (e.g. monthly) rather than trusting one unbounded closed form.
    QueryDef("q117_ewma_anomaly", (s, d) => {
      val daily = Tables.events(s, d)
        .groupBy($"event_type", to_date($"ts").as("day"))
        .agg(count(lit(1)).as("x"))
      val w = Window.partitionBy($"event_type").orderBy($"day")
      val scored = daily
        .withColumn("__i", row_number().over(w) - 1)
        .withColumn("__c", when($"__i" === 0, lit(1.0))
          .otherwise(pow(lit(2.0), $"__i" - 1)))
        .withColumn("__s", sum($"x" * $"__c").over(w))
        .withColumn("ewma", pow(lit(0.5), $"__i") * $"__s")
        .withColumn("__prev", lag($"ewma", 1).over(w))
        .withColumn("dev",
          abs($"x" - $"__prev") / $"__prev")
      scored.select($"event_type", $"day", $"x",
          Fns.roundU($"ewma", 4).as("ewma"),
          Fns.roundU(coalesce($"dev", lit(0.0)), 4).as("dev"),
          coalesce($"dev" > 0.5, lit(false)).as("anomaly"))
        .orderBy($"event_type", $"day")
    },
    // q117: identical closed form — 0.5^t · running Σ x_i·2^(i-1);
    // powers of two are exact doubles so both engines agree exactly
    Some(
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |i AS (
        |  SELECT *, row_number() OVER (PARTITION BY event_type
        |    ORDER BY day) - 1 AS idx
        |  FROM daily),
        |s AS (
        |  SELECT *, pow(0.5, idx) * sum(x * CASE WHEN idx = 0 THEN 1.0
        |      ELSE pow(2.0, idx - 1) END) OVER (
        |    PARTITION BY event_type ORDER BY day
        |    ROWS UNBOUNDED PRECEDING) AS ewma
        |  FROM i),
        |p AS (
        |  SELECT *, lag(ewma) OVER (PARTITION BY event_type
        |    ORDER BY day) AS prev
        |  FROM s)
        |SELECT event_type, day, x,
        |  floor(ewma * 10000 + 0.5) / 10000.0 AS ewma,
        |  floor(coalesce(abs(x - prev) / prev, 0.0) * 10000 + 0.5)
        |    / 10000.0 AS dev,
        |  coalesce(abs(x - prev) / prev > 0.5, false) AS anomaly
        |FROM p ORDER BY event_type, day""".stripMargin)),

    // CHI-SQUARED INDEPENDENCE — is event mix independent of user
    // segment? Pearson chi² over the (event_type × user_id mod 3)
    // contingency table: observed from one hash aggregate, expected
    // from broadcast marginals, the statistic one bounded sum. The
    // contingency table is |types|·|segments| cells regardless of row
    // count — the classic reduce-then-test shape.
    QueryDef("q119_chi_squared", (s, d) => {
      val cells = Tables.events(s, d)
        .groupBy($"event_type", pmod($"user_id", lit(3)).as("seg"))
        .agg(count(lit(1)).as("o"))
      val rowT = cells.groupBy($"event_type").agg(sum($"o").as("__rt"))
      val colT = cells.groupBy($"seg").agg(sum($"o").as("__ct"))
      val tot = cells.agg(sum($"o").as("__n"))
      cells.join(broadcast(rowT), "event_type")
        .join(broadcast(colT), "seg")
        .crossJoin(broadcast(tot))
        .select(($"__rt" * $"__ct" / $"__n").as("__e"), $"o",
          $"event_type", $"seg")
        .agg(
          // 4 digits, not 6: the 15-cell double sum's addition order
          // is engine/partitioning-dependent (~1e-15 relative jitter);
          // the coarser grid keeps the rounding boundary far away
          Fns.roundU(sum(($"o" - $"__e") * ($"o" - $"__e") / $"__e"), 4)
            .as("chi2"),
          ((countDistinct($"event_type") - 1) *
            (countDistinct($"seg") - 1)).as("dof"))
    },
    // q119: Pearson chi² from the same contingency marginals
    Some(
      """WITH cells AS (
        |  SELECT event_type, user_id % 3 AS seg,
        |    CAST(count(*) AS BIGINT) AS o
        |  FROM events GROUP BY 1, 2),
        |rt AS (SELECT event_type, sum(o) AS r FROM cells GROUP BY 1),
        |ct AS (SELECT seg, sum(o) AS c FROM cells GROUP BY 1),
        |n AS (SELECT sum(o) AS n FROM cells),
        |e AS (
        |  SELECT cells.event_type, cells.seg, cells.o,
        |    rt.r * ct.c / CAST(n.n AS DOUBLE) AS ex
        |  FROM cells JOIN rt USING (event_type)
        |  JOIN ct USING (seg) CROSS JOIN n)
        |SELECT
        |  floor(sum((o - ex) * (o - ex) / ex) * 10000 + 0.5)
        |    / 10000.0 AS chi2,
        |  CAST((count(DISTINCT event_type) - 1) *
        |    (count(DISTINCT seg) - 1) AS BIGINT) AS dof
        |FROM e""".stripMargin)),

    // CALENDAR GAP-FILL + FORWARD FILL — the time-series ETL staple:
    // build the dense user×day spine (users crossJoin a BROADCAST
    // calendar — the calendar is bounded by the clock, not the data),
    // left-join the sparse daily facts, carry the last observation
    // forward with an ignore-nulls window. Leading gaps (before a
    // user's first activity) fill with 0. Per-user series length is
    // calendar-bounded, so the window partitions stay small at any
    // data scale.
    QueryDef("q120_gap_fill", (s, d) => {
      val ev = Tables.events(s, d).filter($"user_id" < 40)
      val daily = ev.groupBy($"user_id", to_date($"ts").as("day"))
        .agg(Fns.roundU(sum($"value"), 4).as("v"))
      val cal = ev.agg(min(to_date($"ts")).as("__lo"),
          max(to_date($"ts")).as("__hi"))
        .select(explode(sequence($"__lo", $"__hi")).as("day"))
      val spine = ev.select($"user_id").distinct()
        .crossJoin(broadcast(cal))
      val w = Window.partitionBy($"user_id").orderBy($"day")
      spine.join(daily, Seq("user_id", "day"), "left")
        .select($"user_id", $"day",
          coalesce(last($"v", ignoreNulls = true).over(w), lit(0.0))
            .as("v_ffill"),
          $"v".isNull.as("is_gap"))
        .orderBy($"user_id", $"day")
    },
    // q120: same spine + IGNORE NULLS carry-forward window
    Some(
      """WITH ev AS (SELECT * FROM events WHERE user_id < 40),
        |daily AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day,
        |    floor(sum(value) * 10000 + 0.5) / 10000.0 AS v
        |  FROM ev GROUP BY 1, 2),
        |cal AS (
        |  SELECT unnest(generate_series(min(CAST(ts AS DATE)),
        |    max(CAST(ts AS DATE)), INTERVAL 1 DAY)) AS day FROM ev),
        |spine AS (
        |  SELECT u.user_id, CAST(c.day AS DATE) AS day
        |  FROM (SELECT DISTINCT user_id FROM ev) u CROSS JOIN cal c),
        |j AS (
        |  SELECT s.user_id, s.day, d.v
        |  FROM spine s LEFT JOIN daily d USING (user_id, day))
        |SELECT user_id, day,
        |  coalesce(last_value(v IGNORE NULLS) OVER (
        |    PARTITION BY user_id ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0.0)
        |    AS v_ffill,
        |  v IS NULL AS is_gap
        |FROM j ORDER BY user_id, day""".stripMargin)),

    // EVENT TRIGRAMS — the k=3 sequential-pattern mining pass over
    // each user's totally-ordered stream: two leads in ONE window
    // pass (no self-joins), then a hash aggregate over the bounded
    // |types|³ trigram domain. (ts, event_id) ordering makes equal-ts
    // neighbors deterministic, as in q113.
    QueryDef("q125_event_trigrams", (s, d) => {
      val w = Window.partitionBy($"user_id")
        .orderBy($"ts", $"event_id")
      Tables.events(s, d)
        .select($"user_id", $"ts", $"event_id", $"event_type")
        .withColumn("__t1", lead($"event_type", 1).over(w))
        .withColumn("__t2", lead($"event_type", 2).over(w))
        .filter($"__t2".isNotNull)
        .groupBy($"event_type".as("e1"), $"__t1".as("e2"),
          $"__t2".as("e3"))
        .agg(count(lit(1)).as("n"))
        .orderBy($"n".desc, $"e1", $"e2", $"e3")
        .limit(20)
    },
    // q125: same two leads over the same (ts, event_id) total order
    Some(
      """WITH t AS (
        |  SELECT event_type AS e1,
        |    lead(event_type, 1) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS e2,
        |    lead(event_type, 2) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS e3
        |  FROM events)
        |SELECT e1, e2, e3, CAST(count(*) AS BIGINT) AS n
        |FROM t WHERE e3 IS NOT NULL GROUP BY 1, 2, 3
        |ORDER BY n DESC, e1, e2, e3 LIMIT 20""".stripMargin)),

    // AUTOCORRELATION (ACF lags 1–3) — the time-series diagnostic
    // over each event type's daily-count series: lag windows are
    // PARTITIONED by (event_type) so no global sort exists, and the
    // three lags ride one sorted window pass (three lag() calls share
    // the frame); corr() is Spark's numerically-stable covariance
    // aggregate, one hash agg per lag after the unpivot. Lags step
    // over OBSERVED days (gaps collapse), the convention the oracle
    // mirrors; a calendar-spine variant would densify first.
    QueryDef("q127_daily_acf", (s, d) => {
      val daily = Tables.events(s, d)
        .groupBy($"event_type", to_date($"ts").as("day"))
        .agg(count(lit(1)).cast("double").as("n"))
      val w = Window.partitionBy($"event_type").orderBy($"day")
      val lagged = daily.select($"event_type", $"n",
        lag($"n", 1).over(w).as("__l1"),
        lag($"n", 2).over(w).as("__l2"),
        lag($"n", 3).over(w).as("__l3"))
      val acf = (1 to 3).map { k =>
        lagged.filter(col(s"__l$k").isNotNull)
          .groupBy($"event_type")
          .agg(lit(k).as("lag_k"),
            Fns.roundU(corr($"n", col(s"__l$k")), 6).as("acf"),
            count(lit(1)).as("n_obs"))
      }.reduce(_.unionByName(_))
      acf.select($"event_type", $"lag_k", $"acf", $"n_obs")
        .orderBy($"event_type", $"lag_k")
    },
    // q127: same lag-over-observed-days convention; corr is Pearson r
    // on both engines (denominator normalization cancels)
    Some(
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS DOUBLE) AS n
        |  FROM events GROUP BY 1, 2),
        |lagged AS (
        |  SELECT event_type, n,
        |    lag(n, 1) OVER (PARTITION BY event_type ORDER BY day) AS l1,
        |    lag(n, 2) OVER (PARTITION BY event_type ORDER BY day) AS l2,
        |    lag(n, 3) OVER (PARTITION BY event_type ORDER BY day) AS l3
        |  FROM daily),
        |u AS (
        |  SELECT event_type, 1 AS lag_k, round(corr(n, l1), 6) AS acf,
        |    CAST(count(*) AS BIGINT) AS n_obs
        |  FROM lagged WHERE l1 IS NOT NULL GROUP BY 1
        |  UNION ALL
        |  SELECT event_type, 2, round(corr(n, l2), 6),
        |    CAST(count(*) AS BIGINT)
        |  FROM lagged WHERE l2 IS NOT NULL GROUP BY 1
        |  UNION ALL
        |  SELECT event_type, 3, round(corr(n, l3), 6),
        |    CAST(count(*) AS BIGINT)
        |  FROM lagged WHERE l3 IS NOT NULL GROUP BY 1)
        |SELECT event_type, lag_k, acf, n_obs FROM u
        |ORDER BY event_type, lag_k""".stripMargin)),

    // CONCURRENCY SWEEP-LINE — how many sessions are open at once,
    // and for how long: the interval-stabbing aggregate behind
    // capacity planning. Sessions (q37's session_window) emit ±1
    // boundary deltas; collapsing to per-timestamp NET deltas makes
    // the timeline unique, so the running level is a prefix sum over
    // ONE global order — computed by Packing.prefixSum (two-phase
    // scan), NOT a single-partition window. The interval length needs
    // lead(ts) over the same order; rather than a second window, rank
    // each boundary (prefixSum of 1) and shuffle-join rank→rank+1 —
    // every stage stays partition-parallel however long the timeline.
    // Output: per concurrency level, total open time and interval
    // count — the level-duration histogram.
    QueryDef("q128_concurrency_sweep", (s, d) => {
      val sess = Tables.events(s, d)
        .groupBy($"user_id", session_window($"ts", "30 minutes").as("w"))
        .agg(count(lit(1)).as("__n"))
        .select($"w.start".as("__st"), $"w.end".as("__en"))
      val net = sess.select($"__st".as("ts"), lit(1L).as("__d"))
        .unionAll(sess.select($"__en".as("ts"), lit(-1L).as("__d")))
        .groupBy($"ts").agg(sum($"__d").as("__net"))
        .withColumn("__g", lit(1)).withColumn("__one", lit(1L))
      val run = Packing.prefixSum(net, Seq("__g"), Seq("ts"),
        "__net", "concurrency")
      val rk = Packing.prefixSum(run, Seq("__g"), Seq("ts"),
        "__one", "__rk")
      val nxt = rk.select(($"__rk" - 1).as("__rk2"), $"ts".as("__nxt"))
      rk.join(nxt, $"__rk" === $"__rk2")
        .filter($"concurrency" >= 1)
        .groupBy($"concurrency")
        .agg(sum(unix_micros($"__nxt") - unix_micros($"ts"))
          .as("total_us"),
          count(lit(1)).as("n_intervals"))
        .orderBy($"concurrency")
    },
    // q128: q37's manual sessionization (gap >= 30 min starts a new
    // session, end = last event + 30 min), then the plain-window form
    // of the sweep: net delta per ts, running sum + lead over the
    // global order — what the engine computes via the two-phase scan
    Some(
      """WITH flags AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |           IS NULL
        |      OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |           >= INTERVAL 30 MINUTE
        |      THEN 1 ELSE 0 END AS new_s
        |  FROM events),
        |sess AS (
        |  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM flags),
        |iv AS (
        |  SELECT min(ts) AS st, max(ts) + INTERVAL 30 MINUTE AS en
        |  FROM sess GROUP BY user_id, sid),
        |net AS (
        |  SELECT ts, CAST(sum(d) AS BIGINT) AS net FROM (
        |    SELECT st AS ts, 1 AS d FROM iv
        |    UNION ALL SELECT en, -1 FROM iv)
        |  GROUP BY ts),
        |run AS (
        |  SELECT ts,
        |    sum(net) OVER (ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c,
        |    lead(ts) OVER (ORDER BY ts) AS nxt
        |  FROM net)
        |SELECT CAST(c AS BIGINT) AS concurrency,
        |  CAST(sum(epoch_us(nxt) - epoch_us(ts)) AS BIGINT) AS total_us,
        |  CAST(count(*) AS BIGINT) AS n_intervals
        |FROM run WHERE nxt IS NOT NULL AND c >= 1
        |GROUP BY 1 ORDER BY concurrency""".stripMargin)),

    // SNAPSHOT DIFF — the q93 payoff applied twice: reconstruct the
    // dimension at two derived times T1 < T2 from ONE SCD-2 table
    // (interval predicates, no log replay) and classify every key as
    // added / changed / unchanged between them (removed can't occur
    // in a close-and-append dimension — no delete path — so its
    // absence is itself checked by the oracle's hash). One keyed
    // full-outer join between the two snapshots; the history table is
    // scanned once and both interval filters prune from the same
    // cached pass.
    QueryDef("q136_snapshot_diff", (s, d) => {
      val (target, changes) = scd2Fixture(s, d)
      // persisted: both interval snapshots prune from this one pass;
      // released by the per-query session cache clear
      val hist = Merge.applyScd2(target, changes, Seq("c_custkey"),
        Seq("val"), "ts", "valid_from", "valid_to").transform(scoped)
      // integer div on BOTH sides: a double-division + cast would
      // truncate here but ROUND in DuckDB's BIGINT cast, skewing the
      // derived snapshot times by one
      val ts = changes.agg(expr("max(ts) div 3").as("__t1"),
        expr("max(ts) * 2 div 3").as("__t2"))
      def snap(t: Column) = hist.crossJoin(broadcast(ts))
        .filter($"valid_from" <= t && ($"valid_to".isNull ||
          $"valid_to" > t))
      val s1 = snap($"__t1").select($"c_custkey", $"val".as("__v1"))
      val s2 = snap($"__t2").select($"c_custkey", $"val".as("__v2"))
      s1.join(s2, Seq("c_custkey"), "full_outer")
        .select(when($"__v1".isNull, "added")
          .when($"__v2".isNull, "removed")
          .when($"__v1" === $"__v2", "unchanged")
          .otherwise("changed").as("status"))
        .groupBy($"status").agg(count(lit(1)).as("n_keys"))
        .orderBy($"status")
    },
    // q136: q92's SCD-2 CTEs verbatim, then two interval snapshots
    // and the keyed diff — the oracle recomputes the whole history
    Some(
      """WITH target AS (
        |  SELECT c_custkey, c_acctbal AS val,
        |    CAST(0 AS BIGINT) AS valid_from,
        |    CAST(NULL AS BIGINT) AS valid_to
        |  FROM customer),
        |ch0 AS (
        |  SELECT CASE WHEN o_orderkey % 100 = 0 THEN o_custkey + 1000000
        |    ELSE o_custkey END AS c_custkey,
        |    o_totalprice AS val, o_orderkey AS ts
        |  FROM orders WHERE o_orderkey % 50 = 0),
        |ch AS (
        |  SELECT c_custkey, val, ts FROM (
        |    SELECT *, row_number() OVER (PARTITION BY c_custkey
        |      ORDER BY ts DESC) AS rn FROM ch0) WHERE rn = 1),
        |keep AS (
        |  SELECT t.c_custkey, t.val, t.valid_from, t.valid_to
        |  FROM target t LEFT JOIN ch USING (c_custkey)
        |  WHERE ch.ts IS NULL OR t.val = ch.val),
        |closed AS (
        |  SELECT t.c_custkey, t.val, t.valid_from,
        |    CAST(ch.ts AS BIGINT) AS valid_to
        |  FROM target t JOIN ch USING (c_custkey)
        |  WHERE t.val <> ch.val),
        |ins AS (
        |  SELECT ch.c_custkey, ch.val, CAST(ch.ts AS BIGINT)
        |    AS valid_from, CAST(NULL AS BIGINT) AS valid_to
        |  FROM ch LEFT JOIN target t USING (c_custkey)
        |  WHERE t.c_custkey IS NULL OR t.val <> ch.val),
        |hist AS (
        |  SELECT * FROM keep UNION ALL SELECT * FROM closed
        |  UNION ALL SELECT * FROM ins),
        |tt AS (SELECT max(ts) // 3 AS t1,
        |  max(ts) * 2 // 3 AS t2 FROM ch),
        |s1 AS (SELECT c_custkey, val AS v1 FROM hist CROSS JOIN tt
        |  WHERE valid_from <= t1
        |    AND (valid_to IS NULL OR valid_to > t1)),
        |s2 AS (SELECT c_custkey, val AS v2 FROM hist CROSS JOIN tt
        |  WHERE valid_from <= t2
        |    AND (valid_to IS NULL OR valid_to > t2))
        |SELECT CASE WHEN v1 IS NULL THEN 'added'
        |    WHEN v2 IS NULL THEN 'removed'
        |    WHEN v1 = v2 THEN 'unchanged'
        |    ELSE 'changed' END AS status,
        |  CAST(count(*) AS BIGINT) AS n_keys
        |FROM s1 FULL OUTER JOIN s2 USING (c_custkey)
        |GROUP BY 1 ORDER BY status""".stripMargin)),

    // CUPED adjusted A/B readout — the experimentation-platform
    // variance-reduction staple: per-user post-period metric Y
    // adjusted by the pre-period covariate X as Y − θ·(X − E[X]),
    // θ = cov(X,Y)/var(X), which shrinks variance by corr² without
    // biasing the mean. Pre/post split and variant assignment are
    // derived (ts median; user_id parity), θ comes from ONE global
    // 1-row aggregate (broadcast), and the readout is a per-variant
    // hash agg — three bounded aggregates over one user-level table,
    // nothing user-count-sized ever leaves the executors.
    QueryDef("q137_cuped", (s, d) => {
      val ev = Tables.events(s, d)
        .select($"user_id", unix_micros($"ts").as("__us"), $"value")
      // pre/post boundary = timeline midpoint from an EXACT 1-row agg
      // (a percentile_approx sketch here would be engine-specific and
      // unoraclable)
      val mid = ev.agg(expr("(min(__us) + max(__us)) div 2")
        .as("__mid"))
      val user = ev.crossJoin(broadcast(mid))
        .groupBy($"user_id")
        .agg(sum(when($"__us" < $"__mid", $"value").otherwise(0.0))
          .as("__x"),
          sum(when($"__us" >= $"__mid", $"value").otherwise(0.0))
            .as("__y"))
        .withColumn("variant", ($"user_id" % 2).cast("int"))
      val theta = user.agg(
        (covar_pop($"__x", $"__y") / var_pop($"__x")).as("__theta"),
        avg($"__x").as("__mx"))
      user.crossJoin(broadcast(theta))
        .groupBy($"variant")
        .agg(count(lit(1)).as("n_users"),
          Fns.roundU(avg($"__y"), 6).as("raw_mean"),
          Fns.roundU(avg($"__y" - $"__theta" * ($"__x" - $"__mx")), 6)
            .as("cuped_mean"),
          Fns.roundU(stddev_pop($"__y"), 6).as("raw_sd"),
          Fns.roundU(stddev_pop($"__y" - $"__theta" *
            ($"__x" - $"__mx")), 6).as("cuped_sd"))
        .orderBy($"variant")
    },
    // q137: same derived boundary/variant, same population moments;
    // CAST mirrors keep DuckDB in double arithmetic throughout
    Some(
      """WITH ev AS (
        |  SELECT user_id, epoch_us(ts) AS us, value FROM events),
        |mid AS (
        |  SELECT (min(us) + max(us)) // 2 AS m FROM ev),
        |u AS (
        |  SELECT user_id,
        |    sum(CASE WHEN us < m THEN value ELSE 0.0 END) AS x,
        |    sum(CASE WHEN us >= m THEN value ELSE 0.0 END) AS y,
        |    CAST(user_id % 2 AS INT) AS variant
        |  FROM ev CROSS JOIN mid GROUP BY user_id),
        |th AS (
        |  SELECT covar_pop(x, y) / var_pop(x) AS theta,
        |    avg(x) AS mx FROM u)
        |SELECT variant, CAST(count(*) AS BIGINT) AS n_users,
        |  floor(avg(y) * 1e6 + 0.5) / 1e6 AS raw_mean,
        |  floor(avg(y - theta * (x - mx)) * 1e6 + 0.5) / 1e6
        |    AS cuped_mean,
        |  floor(stddev_pop(y) * 1e6 + 0.5) / 1e6 AS raw_sd,
        |  floor(stddev_pop(y - theta * (x - mx)) * 1e6 + 0.5) / 1e6
        |    AS cuped_sd
        |FROM u CROSS JOIN th
        |GROUP BY variant ORDER BY variant""".stripMargin)),

    // CUSUM CHANGEPOINT — per-user level-shift detector over the daily
    // event-count series: S_i = Σ_{j≤i}(x_j − mean), changepoint = the
    // day maximizing |S_i| (earliest on ties). The window partitions
    // by user and spans its OBSERVED days — bounded by the calendar,
    // not the data (q127's per-day discipline). The argmax is a
    // max/join pair, not a second window. The peak search runs on the
    // INTEGER numerator n·cum_i − i·total (= n·S_i, same argmax, zero
    // FP): comparing doubles for the argmax would make a near-tied
    // |S| flip the changepoint date on an ulp; the one division by n
    // happens after the max, on an exact integer.
    QueryDef("q147_cusum", (s, d) => {
      val daily = Tables.events(s, d)
        .select($"user_id", to_date($"ts").as("d"))
        .groupBy($"user_id", $"d").agg(count(lit(1)).as("__x"))
      val wm = Window.partitionBy($"user_id")
      val wo = Window.partitionBy($"user_id").orderBy($"d")
      val wc = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cusum = daily
        .withColumn("__n", count(lit(1)).over(wm))
        .filter($"__n" >= 20)
        .withColumn("__tot", sum($"__x").over(wm))
        .withColumn("__cum", sum($"__x").over(wc))
        .withColumn("__i", row_number().over(wo))
        .select($"user_id", $"d", $"__n",
          abs($"__n" * $"__cum" - $"__i" * $"__tot").as("__abs"))
      val peak = cusum.groupBy($"user_id")
        .agg(max($"__abs").as("__mx"), max($"__n").as("n_days"))
      cusum.join(peak, Seq("user_id"))
        .filter($"__abs" === $"__mx")
        .groupBy($"user_id", $"n_days", $"__mx")
        .agg(min($"d").as("cp_date"))
        .select($"user_id", $"n_days", $"cp_date",
          Fns.roundU($"__mx".cast("double") / $"n_days", 6)
            .as("max_abs_cusum"))
        .orderBy($"user_id")
    },
    // q147: integer numerator n·cum − i·total — exact argmax, the one
    // division happens after the max
    Some(
      """WITH daily AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d, count(*) AS x
        |  FROM events GROUP BY 1, 2),
        |c AS (
        |  SELECT user_id, d,
        |    count(*) OVER (PARTITION BY user_id) AS n,
        |    sum(x) OVER (PARTITION BY user_id) AS tot,
        |    sum(x) OVER (PARTITION BY user_id ORDER BY d) AS cum,
        |    row_number() OVER (PARTITION BY user_id ORDER BY d) AS i
        |  FROM daily),
        |a AS (
        |  SELECT user_id, d, n, abs(n * cum - i * tot) AS ab
        |  FROM c WHERE n >= 20),
        |p AS (SELECT user_id, max(ab) AS mx, max(n) AS nd
        |      FROM a GROUP BY user_id)
        |SELECT a.user_id, CAST(p.nd AS BIGINT) AS n_days,
        |  min(a.d) AS cp_date,
        |  floor(CAST(p.mx AS DOUBLE) / p.nd * 1000000 + 0.5)
        |    / 1000000.0 AS max_abs_cusum
        |FROM a JOIN p ON a.user_id = p.user_id AND a.ab = p.mx
        |GROUP BY a.user_id, p.nd, p.mx
        |ORDER BY a.user_id""".stripMargin)),

    // TIME-WEIGHTED AVERAGE (TWAP) — per-user mean of `value` weighted
    // by how long each observation was current (micros until the next
    // event; the last observation carries no weight). The tie order
    // under equal timestamps CHANGES the answer (the first of two
    // same-ts events gets weight 0), so the window orders by
    // (ts, event_id) — a total order both engines replay identically.
    // Integer-micros weights keep Σw exact; only Σ(v·w) is a double.
    QueryDef("q150_twap", (s, d) => {
      val wo = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      Tables.events(s, d)
        .select($"user_id", $"event_id", $"ts", $"value")
        .withColumn("__wt",
          lead(unix_micros($"ts"), 1).over(wo) - unix_micros($"ts"))
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n_events"),
          sum($"__wt").as("span_micros"),
          sum($"value" * $"__wt").as("__vw"))
        .filter($"span_micros" > 0)
        .select($"user_id", $"n_events", $"span_micros",
          Fns.roundU($"__vw" / $"span_micros", 6).as("twap"))
        .orderBy($"user_id")
    },
    // q150: weights are integer micros; (ts, event_id) total order so
    // zero-weight ties land on the same row on both engines
    Some(
      """WITH w AS (
        |  SELECT user_id, value,
        |    lead(epoch_us(ts)) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) - epoch_us(ts) AS wt
        |  FROM events)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(wt) AS BIGINT) AS span_micros,
        |  floor(sum(value * wt) / sum(wt) * 1000000 + 0.5)
        |    / 1000000.0 AS twap
        |FROM w GROUP BY user_id HAVING sum(wt) > 0
        |ORDER BY user_id""".stripMargin)),

    // EVENT-TYPE DISTRIBUTION PROFILE — per-user entropy, Gini
    // impurity, dominant-type share: the "is this account a bot"
    // shape readout. Two hash aggregates and a join; every p is an
    // exact long/long ratio and the per-user double sums run over at
    // most #event-types terms.
    QueryDef("q154_type_entropy", (s, d) => {
      val cnt = Tables.events(s, d)
        .groupBy($"user_id", $"event_type")
        .agg(count(lit(1)).as("__n"))
      val tot = cnt.groupBy($"user_id")
        .agg(sum($"__n").as("__t"), count(lit(1)).as("n_types"),
          max($"__n").as("__mx"))
      cnt.join(tot, Seq("user_id"))
        .select($"user_id", $"n_types", $"__mx", $"__t", $"__n",
          ($"__n" / $"__t").as("__p"))
        .groupBy($"user_id", $"n_types", $"__mx", $"__t")
        // gini in EXACT integer form (t² − Σn²)/t², never 1 − Σp²: the
        // float-sum form landed 1 ulp across a .0000005 boundary at
        // sf0.1 (both engines compute the same longs here, so the one
        // division — and its rounding — is bit-identical). Entropy has
        // no integer form (ln), so it keeps the float sum.
        .agg(sum(-$"__p" * log($"__p")).as("__H"),
          sum($"__n" * $"__n").as("__S2"))
        .select($"user_id", $"n_types",
          Fns.roundU($"__mx" / $"__t", 6).as("top_share"),
          Fns.roundU($"__H", 6).as("entropy"),
          Fns.roundU(($"__t" * $"__t" - $"__S2")
            / ($"__t" * $"__t"), 6).as("gini_impurity"))
        .orderBy($"user_id")
    }, Some(
      """WITH cnt AS (
        |  SELECT user_id, event_type, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |tot AS (
        |  SELECT user_id, CAST(sum(n) AS BIGINT) AS t,
        |    CAST(count(*) AS BIGINT) AS n_types,
        |    CAST(max(n) AS BIGINT) AS mx
        |  FROM cnt GROUP BY 1),
        |p AS (
        |  SELECT cnt.user_id, tot.n_types, tot.mx, tot.t, n,
        |    CAST(n AS DOUBLE) / t AS p
        |  FROM cnt JOIN tot USING (user_id))
        |SELECT user_id, n_types,
        |  floor(CAST(mx AS DOUBLE) / t * 1000000 + 0.5)
        |    / 1000000.0 AS top_share,
        |  floor(sum(-p * ln(p)) * 1000000 + 0.5)
        |    / 1000000.0 AS entropy,
        |  floor((t * t - CAST(sum(n * n) AS BIGINT)) / (t * t)
        |    * 1000000 + 0.5) / 1000000.0 AS gini_impurity
        |FROM p GROUP BY user_id, n_types, mx, t
        |ORDER BY user_id""".stripMargin)),

    // DAY-OF-WEEK SEASONALITY — per event type, each weekday's average
    // daily volume relative to the type's overall average (observed
    // days only, so a type absent on Mondays is a data fact, not a
    // divide-by-zero). Every ratio is long/long exact; dow is
    // normalized to 0=Sunday on both engines.
    QueryDef("q160_dow_seasonality", (s, d) => {
      val daily = Tables.events(s, d)
        .groupBy($"event_type", to_date($"ts").as("d"))
        .agg(count(lit(1)).as("__n"))
      val tot = daily.groupBy($"event_type")
        .agg(sum($"__n").as("__tn"), count(lit(1)).as("__td"))
      daily.groupBy($"event_type", (dayofweek($"d") - 1).as("dow"))
        .agg(sum($"__n").as("n_events"), count(lit(1)).as("n_days"))
        .join(tot, Seq("event_type"))
        .select($"event_type", $"dow", $"n_events", $"n_days",
          Fns.roundU(($"n_events" / $"n_days") / ($"__tn" / $"__td"), 6)
            .as("seasonality_index"))
        .orderBy($"event_type", $"dow")
    },
    // q160: DuckDB dayofweek is already 0=Sunday; Spark's is shifted
    // by one in the engine
    Some(
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS d, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |tot AS (
        |  SELECT event_type, CAST(sum(n) AS BIGINT) AS tn,
        |    CAST(count(*) AS BIGINT) AS td
        |  FROM daily GROUP BY 1),
        |g AS (
        |  SELECT event_type, dayofweek(d) AS dow,
        |    CAST(sum(n) AS BIGINT) AS n_events,
        |    CAST(count(*) AS BIGINT) AS n_days
        |  FROM daily GROUP BY 1, 2)
        |SELECT g.event_type, CAST(dow AS INT) AS dow, n_events, n_days,
        |  floor((CAST(n_events AS DOUBLE) / n_days)
        |      / (CAST(tn AS DOUBLE) / td) * 1000000 + 0.5)
        |    / 1000000.0 AS seasonality_index
        |FROM g JOIN tot USING (event_type)
        |ORDER BY event_type, dow""".stripMargin)),

    // TIME-DECAY MULTI-TOUCH ATTRIBUTION — q107's last-touch sibling:
    // every view/click in the 7 days before a purchase shares the
    // purchase value, weighted 1/(1+whole-hours-before). The weight is
    // the correctly-rounded reciprocal of an exact integer (micros
    // div), so per-touch weights are bit-identical cross-engine; the
    // join is keyed on user_id (fan-out bounded per user), never a
    // time-only cross join. Purchases with no touch in the window
    // surface as the 'unattributed' row — value is conserved.
    QueryDef("q161_decay_attribution", (s, d) => {
      val ev = Tables.events(s, d)
      val pur = ev.filter($"event_type" === "purchase")
        .select($"user_id", $"event_id".as("__pid"),
          unix_micros($"ts").as("__pt"), $"value")
      val tch = ev.filter($"event_type".isin("view", "click"))
        .select($"user_id".as("__u"), $"event_type",
          unix_micros($"ts").as("__tt"))
      val j = pur.join(tch,
        $"user_id" === $"__u" && $"__tt" <= $"__pt"
          && $"__tt" > $"__pt" - lit(7L * 86400L * 1000000L))
        .withColumn("__w", lit(1.0)
          / (lit(1L) + expr("(__pt - __tt) div 3600000000")))
      val sw = j.groupBy($"__pid").agg(sum($"__w").as("__sw"))
      val credited = j.join(sw, Seq("__pid"))
        .groupBy($"event_type".as("channel"))
        .agg(count(lit(1)).as("n_touches"),
          sum($"value" * $"__w" / $"__sw").as("__cv"))
      val untouched = pur
        .join(j.select($"__pid").distinct(), Seq("__pid"), "left_anti")
        .agg(count(lit(1)).as("n_touches"), sum($"value").as("__cv"))
        .select(lit("unattributed").as("channel"), $"n_touches", $"__cv")
      credited.unionByName(untouched)
        .select($"channel", $"n_touches",
          Fns.roundU($"__cv", 4).as("credited_value"))
        .orderBy($"channel")
    },
    // q161: weights are correctly-rounded reciprocals of exact integer
    // hour counts — bit-identical cross-engine
    Some(
      """WITH pur AS (
        |  SELECT user_id, event_id AS pid, epoch_us(ts) AS pt, value
        |  FROM events WHERE event_type = 'purchase'),
        |tch AS (
        |  SELECT user_id AS u, event_type, epoch_us(ts) AS tt
        |  FROM events WHERE event_type IN ('view', 'click')),
        |j AS (
        |  SELECT pid, value, event_type,
        |    1.0 / (1 + (pt - tt) // 3600000000) AS w
        |  FROM pur JOIN tch ON user_id = u AND tt <= pt
        |    AND tt > pt - 604800000000),
        |sw AS (SELECT pid, sum(w) AS sw FROM j GROUP BY pid),
        |cr AS (
        |  SELECT j.event_type AS channel,
        |    CAST(count(*) AS BIGINT) AS n_touches,
        |    sum(j.value * j.w / sw.sw) AS cv
        |  FROM j JOIN sw USING (pid) GROUP BY 1),
        |un AS (
        |  SELECT 'unattributed' AS channel,
        |    CAST(count(*) AS BIGINT) AS n_touches, sum(value) AS cv
        |  FROM pur WHERE pid NOT IN (SELECT DISTINCT pid FROM j)),
        |u AS (SELECT * FROM cr UNION ALL SELECT * FROM un)
        |SELECT channel, n_touches,
        |  floor(cv * 10000 + 0.5) / 10000.0 AS credited_value
        |FROM u ORDER BY channel""".stripMargin)),

    // LEAD-LAG CROSS-CORRELATION — corr(view volume at t, purchase
    // volume at t+L) for L in −3..+3: does engagement LEAD conversion?
    // q127's ACF generalized to two series. The 7 lags ride ONE
    // exploded join keyed on (shifted) day — never seven rescans — and
    // day counts are exact longs; corr is the only float.
    QueryDef("q169_xcorr", (s, d) => {
      val daily = Tables.events(s, d)
        .groupBy($"event_type", to_date($"ts").as("d"))
        .agg(count(lit(1)).as("__n"))
      val a = daily.filter($"event_type" === "view")
        .select($"d", $"__n".as("__na"))
      val b = daily.filter($"event_type" === "purchase")
        .select(explode(sequence(lit(-3), lit(3))).as("lag_days"),
          $"d", $"__n".as("__nb"))
        .select($"lag_days", date_add($"d", -$"lag_days").as("d"),
          $"__nb")
      a.join(b, Seq("d"))
        .groupBy($"lag_days")
        .agg(count(lit(1)).as("n_obs"),
          Fns.roundU(corr($"__na", $"__nb"), 6).as("xcorr"))
        .orderBy($"lag_days")
    },
    // q169: one exploded join, shifted-day key; counts exact longs
    Some(
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS d, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |a AS (SELECT d, n AS na FROM daily WHERE event_type = 'view'),
        |b AS (
        |  SELECT l.lag_days, d - l.lag_days AS d2, n AS nb
        |  FROM daily, (VALUES (-3),(-2),(-1),(0),(1),(2),(3))
        |    l(lag_days)
        |  WHERE event_type = 'purchase')
        |SELECT lag_days, CAST(count(*) AS BIGINT) AS n_obs,
        |  floor(corr(na, nb) * 1000000 + 0.5) / 1000000.0 AS xcorr
        |FROM a JOIN b ON a.d = b.d2
        |GROUP BY lag_days ORDER BY lag_days""".stripMargin)),

    // POINT-IN-TIME JOIN — every fact matched to the dimension VERSION
    // valid at its timestamp (q93 reads one snapshot; this is the
    // general dimensional join a backfill actually runs). One shuffle
    // join on the key plus the interval predicate; the SCD-2 intervals
    // partition the timeline, so each fact lands on exactly one
    // version — the oracle rebuilds the same history in SQL and the
    // fact counts prove no version is double-matched or dropped.
    QueryDef("q170_pit_join", (s, d) => {
      val (target, changes) = scd2Fixture(s, d)
      val hist = Merge.applyScd2(target, changes, Seq("c_custkey"),
        Seq("val"), "ts", "valid_from", "valid_to")
      val facts = Tables.orders(s, d)
        .select($"o_custkey".as("c_custkey"), $"o_orderkey".as("__ts"))
      facts.join(hist, Seq("c_custkey"))
        .filter($"valid_from" <= $"__ts" &&
          ($"valid_to".isNull || $"valid_to" > $"__ts"))
        .groupBy(($"valid_from" > 0).as("on_updated_version"))
        .agg(count(lit(1)).as("n_facts"),
          countDistinct($"c_custkey").as("n_customers"),
          Fns.roundU(sum($"val"), 2).as("sum_version_val"))
        .orderBy($"on_updated_version")
    },
    // q170: q92's history rebuild + the interval match per fact
    Some(
      """WITH target AS (
        |  SELECT c_custkey, c_acctbal AS val,
        |    CAST(0 AS BIGINT) AS valid_from,
        |    CAST(NULL AS BIGINT) AS valid_to
        |  FROM customer),
        |ch0 AS (
        |  SELECT CASE WHEN o_orderkey % 100 = 0 THEN o_custkey + 1000000
        |    ELSE o_custkey END AS c_custkey,
        |    o_totalprice AS val, o_orderkey AS ts
        |  FROM orders WHERE o_orderkey % 50 = 0),
        |ch AS (
        |  SELECT c_custkey, val, ts FROM (
        |    SELECT *, row_number() OVER (PARTITION BY c_custkey
        |      ORDER BY ts DESC) AS rn FROM ch0) WHERE rn = 1),
        |keep AS (
        |  SELECT t.c_custkey, t.val, t.valid_from, t.valid_to
        |  FROM target t LEFT JOIN ch USING (c_custkey)
        |  WHERE ch.ts IS NULL OR t.val = ch.val),
        |closed AS (
        |  SELECT t.c_custkey, t.val, t.valid_from,
        |    CAST(ch.ts AS BIGINT) AS valid_to
        |  FROM target t JOIN ch USING (c_custkey)
        |  WHERE t.val <> ch.val),
        |ins AS (
        |  SELECT ch.c_custkey, ch.val, CAST(ch.ts AS BIGINT)
        |    AS valid_from, CAST(NULL AS BIGINT) AS valid_to
        |  FROM ch LEFT JOIN target t USING (c_custkey)
        |  WHERE t.c_custkey IS NULL OR t.val <> ch.val),
        |hist AS (
        |  SELECT * FROM keep UNION ALL SELECT * FROM closed
        |  UNION ALL SELECT * FROM ins),
        |f AS (SELECT o_custkey AS c_custkey, o_orderkey AS ts
        |      FROM orders),
        |j AS (
        |  SELECT h.valid_from > 0 AS on_updated_version,
        |    f.c_custkey, h.val
        |  FROM f JOIN hist h ON f.c_custkey = h.c_custkey
        |    AND h.valid_from <= f.ts
        |    AND (h.valid_to IS NULL OR h.valid_to > f.ts))
        |SELECT on_updated_version, CAST(count(*) AS BIGINT) AS n_facts,
        |  CAST(count(DISTINCT c_custkey) AS BIGINT) AS n_customers,
        |  floor(sum(val) * 100 + 0.5) / 100.0 AS sum_version_val
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin)),

    // POSITION-BASED (U-SHAPED) ATTRIBUTION — completes the
    // attribution trio (last-touch q107, time-decay q161): first and
    // last touch take 40% each, the middle splits the remaining 20%
    // evenly (k=1 → 100%, k=2 → 50/50). Same user-keyed 7-day window
    // join as q161; first/last are ONE (min, max) aggregate over the
    // total (touch-time, event-id) key — the event-id tiebreak makes
    // same-timestamp paths deterministic on both engines, never a
    // per-purchase window sort. Weights are exact small rationals
    // from integer k, so value conservation survives the hash check.
    QueryDef("q188_position_attribution", (s, d) => {
      val ev = Tables.events(s, d)
      val pur = ev.filter($"event_type" === "purchase")
        .select($"user_id", $"event_id".as("__pid"),
          unix_micros($"ts").as("__pt"), $"value")
      val tch = ev.filter($"event_type".isin("view", "click"))
        .select($"user_id".as("__u"), $"event_type",
          $"event_id".as("__tid"), unix_micros($"ts").as("__tt"))
      val j = pur.join(tch,
        $"user_id" === $"__u" && $"__tt" <= $"__pt"
          && $"__tt" > $"__pt" - lit(7L * 86400L * 1000000L))
      val ext = j.groupBy($"__pid").agg(count(lit(1)).as("__k"),
        min(struct($"__tt", $"__tid")).as("__first"),
        max(struct($"__tt", $"__tid")).as("__last"))
      val credited = j.join(ext, Seq("__pid"))
        .withColumn("__w",
          when($"__k" === 1, 1.0)
            .when($"__k" === 2, 0.5)
            .when(struct($"__tt", $"__tid") === $"__first", 0.4)
            .when(struct($"__tt", $"__tid") === $"__last", 0.4)
            .otherwise(lit(0.2) / ($"__k" - 2)))
        .groupBy($"event_type".as("channel"))
        .agg(count(lit(1)).as("n_touches"),
          sum($"value" * $"__w").as("__cv"))
      val untouched = pur
        .join(j.select($"__pid").distinct(), Seq("__pid"), "left_anti")
        .agg(count(lit(1)).as("n_touches"), sum($"value").as("__cv"))
        .select(lit("unattributed").as("channel"), $"n_touches",
          $"__cv")
      credited.unionByName(untouched)
        .select($"channel", $"n_touches",
          Fns.roundU($"__cv", 4).as("credited_value"))
        .orderBy($"channel")
    }, Some(
      """WITH pur AS (
        |  SELECT user_id, event_id AS pid, epoch_us(ts) AS pt, value
        |  FROM events WHERE event_type = 'purchase'),
        |tch AS (
        |  SELECT user_id AS u, event_type, event_id AS tid,
        |    epoch_us(ts) AS tt
        |  FROM events WHERE event_type IN ('view', 'click')),
        |j AS (
        |  SELECT pid, value, event_type, tt, tid
        |  FROM pur JOIN tch ON user_id = u AND tt <= pt
        |    AND tt > pt - 604800000000),
        |ext AS (
        |  SELECT pid, CAST(count(*) AS BIGINT) AS k,
        |    min(row(tt, tid)) AS frst, max(row(tt, tid)) AS lst
        |  FROM j GROUP BY pid),
        |w AS (
        |  SELECT j.event_type, j.value,
        |    CASE WHEN k = 1 THEN 1.0
        |      WHEN k = 2 THEN 0.5
        |      WHEN row(tt, tid) = frst THEN 0.4
        |      WHEN row(tt, tid) = lst THEN 0.4
        |      ELSE 0.2 / (k - 2) END AS w
        |  FROM j JOIN ext USING (pid)),
        |cr AS (
        |  SELECT event_type AS channel,
        |    CAST(count(*) AS BIGINT) AS n_touches,
        |    sum(value * w) AS cv
        |  FROM w GROUP BY 1),
        |un AS (
        |  SELECT 'unattributed' AS channel,
        |    CAST(count(*) AS BIGINT) AS n_touches, sum(value) AS cv
        |  FROM pur WHERE pid NOT IN (SELECT DISTINCT pid FROM j)),
        |u AS (SELECT * FROM cr UNION ALL SELECT * FROM un)
        |SELECT channel, n_touches,
        |  floor(cv * 10000 + 0.5) / 10000.0 AS credited_value
        |FROM u ORDER BY channel""".stripMargin)),

    // CAPPED SESSIONIZATION -- the sequential split rule windows
    // cannot express: a session breaks on a 30-min gap OR when the
    // span since the CURRENT session's start exceeds 4h (forced
    // rotation under continuous activity). Split points depend on
    // earlier splits, so q37's gap-indicator prefix sum does not
    // apply; Sessionize.cappedSessions runs the secondary-sort
    // streaming scan (one shuffle, within-partition sort, O(1)
    // state). The oracle replays the recurrence as a recursive CTE
    // walking each user's event sequence one step per iteration.
    QueryDef("q209_capped_sessions", (s, d) => {
      val ev = Tables.events(s, d).filter($"user_id" < 100)
        .select($"user_id", $"ts".cast("long").as("__ts"), $"event_id")
      Sessionize.cappedSessions(ev, "user_id", "__ts", "event_id",
          gapSec = 1800L, capSec = 14400L)
        .groupBy($"user_id", $"session_idx")
        .agg(count(lit(1)).as("n_events"),
          min($"__ts").as("start_ts"), max($"__ts").as("end_ts"))
        .withColumn("duration_sec", $"end_ts" - $"start_ts")
        .orderBy($"user_id", $"session_idx")
    },
    // q209: the oracle WALKS the same recurrence -- anchor at each
    // user's first event (session 0), each iteration advances one
    // event carrying (session, session_start); identical break
    // predicate, identical (ts, event_id) order
    Some(
      """WITH RECURSIVE
        |e AS (
        |  -- floor, not CAST: DuckDB CAST(double->BIGINT) ROUNDS the
        |  -- fractional seconds where Spark's timestamp->long cast
        |  -- truncates; the ORDER BY must use the same truncated value
        |  -- or sub-second ties sort differently on the two engines
        |  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t, event_id,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY floor(epoch(ts)), event_id) AS rn
        |  FROM events WHERE user_id < 100),
        |walk AS (
        |  SELECT user_id, rn, t, CAST(0 AS BIGINT) AS sess,
        |    t AS sess_start
        |  FROM e WHERE rn = 1
        |  UNION ALL
        |  SELECT e.user_id, e.rn, e.t,
        |    CASE WHEN e.t - w.t > 1800 OR e.t - w.sess_start > 14400
        |         THEN w.sess + 1 ELSE w.sess END,
        |    CASE WHEN e.t - w.t > 1800 OR e.t - w.sess_start > 14400
        |         THEN e.t ELSE w.sess_start END
        |  FROM walk w JOIN e ON e.user_id = w.user_id
        |    AND e.rn = w.rn + 1)
        |SELECT user_id, sess AS session_idx,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(min(t) AS BIGINT) AS start_ts,
        |  CAST(max(t) AS BIGINT) AS end_ts,
        |  CAST(max(t) - min(t) AS BIGINT) AS duration_sec
        |FROM walk GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // MANN-WHITNEY U — the nonparametric two-sample location test
    // (click vs purchase spend), with the TIE-CORRECTED normal
    // approximation. Pooled fractional ranks come from Stats.avgRanks
    // (the compacted two-phase prefix scan — never a one-task global
    // sort), and every input to the z formula is EXACT: ranks are
    // multiples of 0.5 below 2^53 (order-independent double sums),
    // counts and the tie term Σ(t³−t) are integers — so the one final
    // double expression evaluates bit-identically on both engines.
    QueryDef("q212_mann_whitney", (s, d) => {
      val ev = Tables.events(s, d)
        .filter($"event_type".isin("click", "purchase"))
        .select($"event_type", $"value")
      val pooled = ev.withColumn("__g", lit(1))
      val st = pooled.join(Stats.avgRanks(pooled, "__g", "value"),
          Seq("__g", "value"))
        .groupBy($"event_type")
        .agg(count(lit(1)).as("__n"), sum($"__rk_value").as("__rs"))
      val ties = pooled.groupBy($"value")
        .agg(count(lit(1)).as("__t"))
        .agg(sum($"__t" * $"__t" * $"__t" - $"__t").as("__ts"))
      val piv = st.agg(
          max(when($"event_type" === "click", $"__n")).as("n1"),
          max(when($"event_type" === "purchase", $"__n")).as("n2"),
          max(when($"event_type" === "click", $"__rs")).as("__r1"))
        .crossJoin(broadcast(ties))
      val u1 = $"__r1" - $"n1" * ($"n1" + 1) / 2.0
      val nn = $"n1" + $"n2"
      piv.select($"n1", $"n2",
        Fns.roundU(u1, 2).as("u1"),
        Fns.roundU((u1 - $"n1" * $"n2" / 2.0) /
          sqrt($"n1" * $"n2" / 12.0 *
            ((nn + 1) - $"__ts" / (nn * (nn - 1.0)))), 6).as("z"),
        Fns.roundU(u1 / ($"n1" * $"n2"), 6).as("auc"),
        $"__ts".as("tie_term"))
    }, Some(
      """WITH ev AS (
        |  SELECT event_type, value FROM events
        |  WHERE event_type IN ('click', 'purchase')),
        |r AS (
        |  SELECT event_type,
        |    rank() OVER (ORDER BY value)
        |      + (count(*) OVER (PARTITION BY value) - 1) / 2.0 AS rk
        |  FROM ev),
        |st AS (
        |  SELECT
        |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 END)
        |      AS BIGINT) AS n1,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 END)
        |      AS BIGINT) AS n2,
        |    sum(CASE WHEN event_type = 'click' THEN rk END) AS r1
        |  FROM r),
        |t AS (
        |  SELECT CAST(sum(c * c * c - c) AS BIGINT) AS ts
        |  FROM (SELECT count(*) AS c FROM ev GROUP BY value))
        |SELECT n1, n2,
        |  floor((r1 - n1 * (n1 + 1) / 2.0) * 100 + 0.5) / 100.0 AS u1,
        |  floor(((r1 - n1 * (n1 + 1) / 2.0) - n1 * n2 / 2.0) /
        |    sqrt(n1 * n2 / 12.0 * ((n1 + n2 + 1)
        |      - ts / ((n1 + n2) * (n1 + n2 - 1.0))))
        |    * 1000000 + 0.5) / 1000000.0 AS z,
        |  floor((r1 - n1 * (n1 + 1) / 2.0) / (n1 * n2)
        |    * 1000000 + 0.5) / 1000000.0 AS auc,
        |  ts AS tie_term
        |FROM st, t""".stripMargin)),

    // BENJAMINI-HOCHBERG FDR — the multiple-testing layer every
    // metric sweep needs: a one-vs-rest Welch battery (each event
    // type's spend against all others) whose p-values are BH-adjusted
    // (p_adj_i = min over j≥i of p_j·m/j) and gated at q=0.05.
    // Scale split: the battery is ONE grouped scan (k rows out of any
    // row count) with rest-moments by EXACT decimal subtraction from
    // the broadcast total — order-independent — and the BH window
    // runs over the HYPOTHESIS table (m rows, bounded by group
    // cardinality, not data). p comes from the Abramowitz-Stegun
    // 7.1.26 erfc polynomial spelled identically in both engines
    // (neither Spark nor DuckDB exposes erf), so the doubles match
    // bit-for-bit from exact integer/decimal inputs.
    QueryDef("q213_bh_fdr", (s, d) => {
      val ev = Tables.events(s, d)
        .select($"event_type", $"value".cast("decimal(18,2)").as("__v"))
      val g = ev.groupBy($"event_type")
        .agg(count(lit(1)).as("__n"), sum($"__v").as("__s"),
          sum($"__v" * $"__v").as("__q"))
      val tot = g.agg(sum($"__n").as("__nn"), sum($"__s").as("__ss"),
        sum($"__q").as("__qq"))
      val m = g.crossJoin(broadcast(tot)).select($"event_type",
        $"__n", ($"__nn" - $"__n").as("__nr"),
        $"__s".cast("double").as("__sd"),
        $"__q".cast("double").as("__qd"),
        ($"__ss" - $"__s").cast("double").as("__sr"),
        ($"__qq" - $"__q").cast("double").as("__qr"))
      val mg = $"__sd" / $"__n"
      val mr = $"__sr" / $"__nr"
      val vg = ($"__qd" - $"__sd" * $"__sd" / $"__n") / ($"__n" - 1)
      val vr = ($"__qr" - $"__sr" * $"__sr" / $"__nr") / ($"__nr" - 1)
      val tS = (mg - mr) / sqrt(vg / $"__n" + vr / $"__nr")
      // two-sided p = erfc(|t|/√2), A&S 7.1.26 (|err| < 1.5e-7);
      // Horner order mirrored character-for-character in the oracle
      val x = abs($"t_stat_full") / sqrt(lit(2.0))
      val tt = lit(1.0) / (lit(1.0) + lit(0.3275911) * x)
      val poly = tt * (lit(0.254829592) + tt * (lit(-0.284496736) +
        tt * (lit(1.421413741) + tt * (lit(-1.453152027) +
          tt * lit(1.061405429)))))
      val hyp = m.select($"event_type", $"__n".as("n"),
          Fns.roundU(mg, 4).as("mean_g"), tS.as("t_stat_full"))
        .withColumn("__p", poly * exp(-x * x))
      import org.apache.spark.sql.expressions.Window
      // hypothesis-table windows: m rows total (one per event type) —
      // bounded by group cardinality, so a global sort is fine here
      val wRank = Window.orderBy($"__p", $"event_type")
      val wTail = Window.orderBy($"__p", $"event_type")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      hyp
        .withColumn("__m", count(lit(1)).over(
          Window.partitionBy().rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing)))
        .withColumn("__i", row_number().over(wRank))
        .withColumn("p_adj_raw",
          min($"__p" * $"__m" / $"__i").over(wTail))
        .select($"event_type", $"n", $"mean_g",
          Fns.roundU($"t_stat_full", 6).as("t_stat"),
          Fns.roundU($"__p", 8).as("p_value"),
          Fns.roundU(least(lit(1.0), $"p_adj_raw"), 8).as("p_adj"),
          (least(lit(1.0), $"p_adj_raw") <= 0.05).as("reject"))
        .orderBy($"event_type")
    }, Some(
      """WITH ev AS (
        |  SELECT event_type, CAST(value AS DECIMAL(18,2)) AS v
        |  FROM events),
        |g AS (
        |  SELECT event_type, count(*) AS n, sum(v) AS s,
        |    sum(v * v) AS q
        |  FROM ev GROUP BY event_type),
        |tot AS (SELECT sum(n) AS nn, sum(s) AS ss, sum(q) AS qq
        |  FROM g),
        |m AS (
        |  SELECT event_type, CAST(n AS BIGINT) AS n,
        |    CAST(nn - n AS BIGINT) AS nr,
        |    CAST(s AS DOUBLE) AS sd, CAST(q AS DOUBLE) AS qd,
        |    CAST(ss - s AS DOUBLE) AS sr, CAST(qq - q AS DOUBLE) AS qr
        |  FROM g, tot),
        |h AS (
        |  SELECT event_type, n, sd / n AS mg,
        |    ((sd / n) - (sr / nr)) /
        |      sqrt(((qd - sd * sd / n) / (n - 1)) / n
        |        + ((qr - sr * sr / nr) / (nr - 1)) / nr) AS tf
        |  FROM m),
        |px AS (
        |  SELECT event_type, n, mg, tf, abs(tf) / sqrt(2.0) AS x,
        |    1.0 / (1.0 + 0.3275911 * (abs(tf) / sqrt(2.0))) AS t1
        |  FROM h),
        |pp AS (
        |  SELECT event_type, n, mg, tf,
        |    t1 * (0.254829592 + t1 * (-0.284496736 + t1 * (1.421413741
        |      + t1 * (-1.453152027 + t1 * 1.061405429))))
        |      * exp(-x * x) AS p
        |  FROM px),
        |b AS (
        |  SELECT event_type, n, mg, tf, p, count(*) OVER () AS m,
        |    row_number() OVER (ORDER BY p, event_type) AS i
        |  FROM pp),
        |a AS (
        |  SELECT *, min(p * m / i) OVER (ORDER BY p, event_type
        |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS praw
        |  FROM b)
        |SELECT event_type, n,
        |  floor(mg * 10000 + 0.5) / 10000.0 AS mean_g,
        |  floor(tf * 1000000 + 0.5) / 1000000.0 AS t_stat,
        |  floor(p * 100000000 + 0.5) / 100000000.0 AS p_value,
        |  floor(least(1.0, praw) * 100000000 + 0.5) / 100000000.0
        |    AS p_adj,
        |  least(1.0, praw) <= 0.05 AS reject
        |FROM a ORDER BY event_type""".stripMargin)),

    // MARKOV TRANSITION ENTROPY — per event type: where does the NEXT
    // event go, and how predictable is it? Successor pairs come from
    // one lead() window PARTITIONED BY USER (millions of small
    // partitions at scale — the scalable window shape, unlike a
    // global sort), ordered by (ts, event_id) so ties are
    // deterministic. Transition counts are exact; the conditional
    // entropy −Σ p·ln p and the top-successor pick (min of the
    // (−count, successor) struct — largest count, lexicographic
    // tie-break) are the q168 entropy idiom.
    QueryDef("q216_markov_entropy", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy($"user_id")
        .orderBy($"ts", $"event_id")
      val tr = Tables.events(s, d)
        .select($"user_id", $"ts", $"event_id",
          $"event_type".as("cur"))
        .withColumn("nxt", lead($"cur", 1).over(w))
        .filter($"nxt".isNotNull)
        .groupBy($"cur", $"nxt").agg(count(lit(1)).as("__c"))
      val tot = tr.groupBy($"cur").agg(sum($"__c").as("__n"),
        count(lit(1)).as("n_successors"))
      tr.join(broadcast(tot), Seq("cur"))
        .select($"cur", $"__n", $"n_successors",
          (($"__c" / $"__n") * log($"__c" / $"__n")).as("__t"),
          struct((-$"__c").as("nc"), $"nxt".as("nx")).as("__top"))
        .groupBy($"cur", $"__n", $"n_successors")
        .agg((-sum($"__t")).as("__h"), min($"__top").as("__tp"))
        .select($"cur".as("event_type"), $"__n".as("n_trans"),
          $"n_successors",
          Fns.roundU($"__h", 6).as("entropy_nats"),
          $"__tp.nx".as("top_next"),
          Fns.roundU((-$"__tp.nc") / $"__n", 4).as("top_frac"))
        .orderBy($"event_type")
    }, Some(
      """WITH seq AS (
        |  SELECT event_type AS cur,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS nxt
        |  FROM events),
        |tr AS (
        |  SELECT cur, nxt, count(*) AS c FROM seq
        |  WHERE nxt IS NOT NULL GROUP BY 1, 2),
        |tot AS (
        |  SELECT cur, CAST(sum(c) AS BIGINT) AS n,
        |    CAST(count(*) AS BIGINT) AS n_successors
        |  FROM tr GROUP BY 1),
        |top AS (
        |  SELECT cur, nxt AS top_next, c AS top_c,
        |    row_number() OVER (PARTITION BY cur
        |      ORDER BY c DESC, nxt) AS rk
        |  FROM tr)
        |SELECT t.cur AS event_type, t.n AS n_trans, t.n_successors,
        |  floor(-(SELECT sum((tr.c / t.n) * ln(tr.c / t.n)) FROM tr
        |      WHERE tr.cur = t.cur) * 1000000 + 0.5) / 1000000.0
        |    AS entropy_nats,
        |  p.top_next,
        |  floor(CAST(p.top_c AS DOUBLE) / t.n * 10000 + 0.5) / 10000.0
        |    AS top_frac
        |FROM tot t JOIN top p ON p.cur = t.cur AND p.rk = 1
        |ORDER BY event_type""".stripMargin)),

    // KENDALL'S TAU-B — the rank-correlation complement of Spearman
    // (q143): does view volume move with purchase volume day-over-day?
    // Concordant/discordant/tie counts come from the CALENDAR-BOUNDED
    // day-pair join (the q198 Theil-Sen model: pairs grow with days²,
    // not data², however many fact rows feed a day) over exact long
    // counts; tau-b's tie-corrected denominator is one double formula
    // over those exact integers.
    QueryDef("q221_kendall_tau", (s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(to_date($"ts").as("day"))
        .agg(sum(when($"event_type" === "view", 1L).otherwise(0L))
            .as("x"),
          sum(when($"event_type" === "purchase", 1L).otherwise(0L))
            .as("y"))
      val a = daily.select($"day".as("d1"), $"x".as("x1"), $"y".as("y1"))
      val b = daily.select($"day".as("d2"), $"x".as("x2"), $"y".as("y2"))
      val st = a.join(b, $"d1" < $"d2")
        .select((($"x2" - $"x1") * ($"y2" - $"y1")).as("__p"),
          ($"x1" === $"x2").cast("long").as("__tx"),
          ($"y1" === $"y2").cast("long").as("__ty"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(($"__p" > 0).cast("long")).as("nc"),
          sum(($"__p" < 0).cast("long")).as("nd"),
          sum($"__tx").as("ties_x"), sum($"__ty").as("ties_y"))
      st.select($"n_pairs", $"nc", $"nd", $"ties_x", $"ties_y",
        Fns.roundU(($"nc" - $"nd").cast("double") /
          sqrt(($"n_pairs" - $"ties_x").cast("double") *
            ($"n_pairs" - $"ties_y")), 6).as("tau_b"))
    }, Some(
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |    CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS x,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
        |      END) AS BIGINT) AS y
        |  FROM events GROUP BY 1),
        |st AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_pairs,
        |    CAST(sum(CASE WHEN (b.x - a.x) * (b.y - a.y) > 0 THEN 1
        |      ELSE 0 END) AS BIGINT) AS nc,
        |    CAST(sum(CASE WHEN (b.x - a.x) * (b.y - a.y) < 0 THEN 1
        |      ELSE 0 END) AS BIGINT) AS nd,
        |    CAST(sum(CASE WHEN a.x = b.x THEN 1 ELSE 0 END) AS BIGINT)
        |      AS ties_x,
        |    CAST(sum(CASE WHEN a.y = b.y THEN 1 ELSE 0 END) AS BIGINT)
        |      AS ties_y
        |  FROM daily a JOIN daily b ON a.day < b.day)
        |SELECT n_pairs, nc, nd, ties_x, ties_y,
        |  floor(CAST(nc - nd AS DOUBLE) /
        |    sqrt(CAST(n_pairs - ties_x AS DOUBLE) * (n_pairs - ties_y))
        |    * 1000000 + 0.5) / 1000000.0 AS tau_b
        |FROM st""".stripMargin)),

    // DEBOUNCE / IDEMPOTENCY-WINDOW DEDUP — keep an event only if ≥
    // 600 s after the last KEPT event of its (user, type): the
    // retry/duplicate-webhook suppression rule. Eligibility depends
    // on which earlier events were kept — a sequential recurrence
    // (the q209 class; "distinct per 10-min bucket" is a DIFFERENT,
    // boundary-artifacted rule) — run as Sessionize.debounce's
    // secondary-sort O(1)-state scan and replayed by the oracle as a
    // recursive CTE. The composite key packs the 5 event types into
    // 3 bits of the user key; the readout unpacks with the same CASE
    // on both engines.
    QueryDef("q224_debounce", (s, d) => {
      val code = when($"event_type" === "click", 0L)
        .when($"event_type" === "error", 1L)
        .when($"event_type" === "purchase", 2L)
        .when($"event_type" === "signup", 3L).otherwise(4L)
      val ev = Tables.events(s, d)
        .select(($"user_id" * 8 + code).as("__k"),
          $"ts".cast("long").as("__t"), $"event_id")
      Sessionize.debounce(ev, "__k", "__t", "event_id", 600L)
        .select(($"__k" % 8).as("__code"), $"kept")
        .groupBy(when($"__code" === 0, "click")
          .when($"__code" === 1, "error")
          .when($"__code" === 2, "purchase")
          .when($"__code" === 3, "signup").otherwise("view")
          .as("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum($"kept".cast("long")).as("n_kept"))
        .select($"event_type", $"n_events", $"n_kept",
          Fns.roundU(lit(1.0) -
            $"n_kept".cast("double") / $"n_events", 4).as("drop_frac"))
        .orderBy($"event_type")
    }, Some(
      """WITH RECURSIVE
        |e AS (
        |  SELECT user_id * 8 + CASE event_type
        |      WHEN 'click' THEN 0 WHEN 'error' THEN 1
        |      WHEN 'purchase' THEN 2 WHEN 'signup' THEN 3
        |      ELSE 4 END AS k,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS t, event_id,
        |    row_number() OVER (PARTITION BY user_id * 8 + CASE
        |        event_type WHEN 'click' THEN 0 WHEN 'error' THEN 1
        |        WHEN 'purchase' THEN 2 WHEN 'signup' THEN 3 ELSE 4 END
        |      ORDER BY floor(epoch(ts)), event_id) AS rn
        |  FROM events),
        |walk AS (
        |  SELECT k, rn, t, TRUE AS kept, t AS last_kept
        |  FROM e WHERE rn = 1
        |  UNION ALL
        |  SELECT e.k, e.rn, e.t, e.t - w.last_kept >= 600,
        |    CASE WHEN e.t - w.last_kept >= 600 THEN e.t
        |         ELSE w.last_kept END
        |  FROM walk w JOIN e ON e.k = w.k AND e.rn = w.rn + 1)
        |SELECT CASE k % 8 WHEN 0 THEN 'click' WHEN 1 THEN 'error'
        |    WHEN 2 THEN 'purchase' WHEN 3 THEN 'signup'
        |    ELSE 'view' END AS event_type,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_kept,
        |  floor((1.0 - CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END)
        |    AS DOUBLE) / count(*)) * 10000 + 0.5) / 10000.0
        |    AS drop_frac
        |FROM walk GROUP BY 1 ORDER BY event_type""".stripMargin)),

    // TOP CONVERSION PATHS — the path-analysis readout behind every
    // attribution model: the ordered touch SEQUENCE (view/click) in
    // each purchase's 7-day window, capped at the first 8 touches,
    // ranked by conversion count. The path string is built from a
    // SORTED struct array ((touch-time, event-id) — the q188
    // tiebreak, so equal-timestamp touches order identically on both
    // engines; collect_list alone would be shuffle-order roulette),
    // and the top-15 is a TakeOrdered, never a full sort.
    QueryDef("q229_conversion_paths", (s, d) => {
      val ev = Tables.events(s, d)
      val pur = ev.filter($"event_type" === "purchase")
        .select($"user_id", $"event_id".as("__pid"),
          unix_micros($"ts").as("__pt"), $"value")
      val tch = ev.filter($"event_type".isin("view", "click"))
        .select($"user_id".as("__u"), $"event_type",
          $"event_id".as("__tid"), unix_micros($"ts").as("__tt"))
      val j = pur.join(tch,
        $"user_id" === $"__u" && $"__tt" <= $"__pt"
          && $"__tt" > $"__pt" - lit(7L * 86400L * 1000000L))
      j.groupBy($"__pid")
        .agg(min($"value").as("__v"),
          concat_ws(">", slice(transform(
            sort_array(collect_list(struct($"__tt", $"__tid",
              $"event_type"))),
            x => x.getField("event_type")), 1, 8)).as("path"))
        .groupBy($"path")
        .agg(count(lit(1)).as("n_conversions"),
          Fns.roundU(sum($"__v"), 2).as("conv_value"))
        .orderBy($"n_conversions".desc, $"path")
        .limit(15)
    }, Some(
      """WITH pur AS (
        |  SELECT user_id, event_id AS pid, epoch_us(ts) AS pt, value
        |  FROM events WHERE event_type = 'purchase'),
        |tch AS (
        |  SELECT user_id AS u, event_type, event_id AS tid,
        |    epoch_us(ts) AS tt
        |  FROM events WHERE event_type IN ('view', 'click')),
        |j AS (
        |  SELECT pid, value, event_type, tt, tid
        |  FROM pur JOIN tch ON user_id = u AND tt <= pt
        |    AND tt > pt - CAST(7 AS BIGINT) * 86400 * 1000000),
        |paths AS (
        |  SELECT pid, min(value) AS v,
        |    array_to_string(list_slice(
        |      list(event_type ORDER BY tt, tid), 1, 8), '>') AS path
        |  FROM j GROUP BY pid)
        |SELECT path, CAST(count(*) AS BIGINT) AS n_conversions,
        |  floor(sum(v) * 100 + 0.5) / 100.0 AS conv_value
        |FROM paths GROUP BY path
        |ORDER BY n_conversions DESC, path LIMIT 15""".stripMargin)),

    // LOG-LINE FIELD EXTRACTION — the grok/log-analytics shape: an
    // Apache-combined-style access line per event (synthesized with
    // concat, the codec-fixture pattern) parsed BACK into typed
    // fields with one codegen'd regexp_extract pass, then the
    // standard status/bytes rollup. The regex sticks to ASCII classes
    // ([0-9], [^ ], [^\]]) that Java regex and RE2 agree on — \d/\s
    // class divergence is the documented cross-engine trap (q205).
    QueryDef("q232_log_parse", (s, d) => {
      val line = concat(
        lit("10."), ($"user_id" % 256).cast("string"),
        lit(".0.1 - - ["), date_format($"ts", "dd/MMM/yyyy:HH:mm:ss"),
        lit(" +0000] \"GET /p/"), $"event_id".cast("string"),
        lit(" HTTP/1.1\" "),
        when($"event_type" === "error", 500)
          .when($"event_type" === "purchase", 201).otherwise(200)
          .cast("string"),
        lit(" "), floor($"value" * 10).cast("long").cast("string"))
      val pat = "^([0-9.]+) - - \\[([^\\]]+)\\] \"([A-Z]+) ([^ ]+)" +
        " [^\"]+\" ([0-9]+) ([0-9]+)$"
      Tables.events(s, d).select(line.as("__line"))
        .select(
          regexp_extract($"__line", pat, 1).as("ip"),
          regexp_extract($"__line", pat, 3).as("method"),
          regexp_extract($"__line", pat, 5).cast("long").as("status"),
          regexp_extract($"__line", pat, 6).cast("long").as("bytes"))
        .groupBy($"status")
        .agg(count(lit(1)).as("n_requests"),
          countDistinct($"ip").as("n_ips"),
          sum($"bytes").as("total_bytes"))
        .orderBy($"status")
    }, Some(
      """WITH l AS (
        |  SELECT concat('10.', CAST(user_id % 256 AS VARCHAR),
        |    '.0.1 - - [', strftime(ts, '%d/%b/%Y:%H:%M:%S'),
        |    ' +0000] "GET /p/', CAST(event_id AS VARCHAR),
        |    ' HTTP/1.1" ',
        |    CASE WHEN event_type = 'error' THEN '500'
        |      WHEN event_type = 'purchase' THEN '201'
        |      ELSE '200' END,
        |    ' ', CAST(CAST(floor(value * 10) AS BIGINT) AS VARCHAR))
        |    AS line
        |  FROM events),
        |p AS (
        |  SELECT
        |    regexp_extract(line, '^([0-9.]+) - - \[([^\]]+)\] ' ||
        |      '"([A-Z]+) ([^ ]+) [^"]+" ([0-9]+) ([0-9]+)$', 1) AS ip,
        |    CAST(regexp_extract(line, '^([0-9.]+) - - \[([^\]]+)\] '
        |      || '"([A-Z]+) ([^ ]+) [^"]+" ([0-9]+) ([0-9]+)$', 5)
        |      AS BIGINT) AS status,
        |    CAST(regexp_extract(line, '^([0-9.]+) - - \[([^\]]+)\] '
        |      || '"([A-Z]+) ([^ ]+) [^"]+" ([0-9]+) ([0-9]+)$', 6)
        |      AS BIGINT) AS bytes
        |  FROM l)
        |SELECT status, CAST(count(*) AS BIGINT) AS n_requests,
        |  CAST(count(DISTINCT ip) AS BIGINT) AS n_ips,
        |  CAST(sum(bytes) AS BIGINT) AS total_bytes
        |FROM p GROUP BY 1 ORDER BY status""".stripMargin)),

    // SEMI-STRUCTURED PROPS — the JSON-column path every event table
    // grows: `props` holds a JSON object; extract $.k typed and roll
    // up per event type. One get_json_object (codegen'd) — no
    // from_json schema needed for a single path — and the readout is
    // exact ints plus one rounded mean.
    QueryDef("q233_props_json", (s, d) => {
      Tables.events(s, d)
        .select($"event_type",
          get_json_object($"props", "$.k").cast("long").as("__k"))
        .groupBy($"event_type")
        .agg(count($"__k").as("n_with_k"),
          min($"__k").as("k_min"), max($"__k").as("k_max"),
          sum($"__k").as("k_sum"),
          Fns.roundU(avg($"__k"), 4).as("k_avg"))
        .orderBy($"event_type")
    }, Some(
      """WITH k AS (
        |  SELECT event_type,
        |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |  FROM events)
        |SELECT event_type, CAST(count(k) AS BIGINT) AS n_with_k,
        |  CAST(min(k) AS BIGINT) AS k_min,
        |  CAST(max(k) AS BIGINT) AS k_max,
        |  CAST(sum(k) AS BIGINT) AS k_sum,
        |  floor(avg(k) * 10000 + 0.5) / 10000.0 AS k_avg
        |FROM k GROUP BY 1 ORDER BY event_type""".stripMargin)),

    // CUSTOM DATASOURCE V2 CONNECTOR — the reference's block feed as
    // a first-class TableProvider (graft.sources.BlocksSource) with
    // REAL filter pushdown (height ranges prune planned partitions —
    // BlocksSourceSpec asserts 1-of-8 shards planned) and column
    // pruning (the reader materializes only the projected schema).
    // Rows are a pure formula of height, so the connector query sits
    // under a DuckDB oracle that rebuilds the same rows from range()
    // — plumbing and semantics checked end-to-end. The height band
    // below lands entirely in the source as pushed bounds; the miner
    // rollup is one hash aggregate over 10k generated rows.
    QueryDef("q234_blocks_connector", (s, d) => {
      s.read.format(classOf[graft.sources.BlocksSource].getName)
        .option("blocks", "20000").option("shards", "8").load()
        .filter($"height" >= 5000L && $"height" < 15000L)
        .groupBy($"miner")
        .agg(count(lit(1)).as("n_blocks"),
          sum($"n_tx").as("total_tx"),
          sum($"fee_cents").as("total_fee_cents"),
          max($"ts").as("last_ts"))
        .orderBy($"miner")
    }, Some(
      """WITH b AS (
        |  SELECT i AS height, 1600000000 + 12 * i AS ts,
        |    1 + (i * 7919) % 50 AS n_tx,
        |    (i * 104729) % 100000 AS fee_cents,
        |    'm' || CAST(i % 97 AS VARCHAR) AS miner
        |  FROM range(5000, 15000) t(i))
        |SELECT miner, CAST(count(*) AS BIGINT) AS n_blocks,
        |  CAST(sum(n_tx) AS BIGINT) AS total_tx,
        |  CAST(sum(fee_cents) AS BIGINT) AS total_fee_cents,
        |  CAST(max(ts) AS BIGINT) AS last_ts
        |FROM b GROUP BY 1 ORDER BY miner""".stripMargin)),

    // SLIDING DISTINCT (DAU/WAU stickiness) — exact trailing-7-day
    // active users per day, the sliding-window DISTINCT that a plain
    // window frame cannot express (count(DISTINCT) over a frame is
    // unsupported, and approximation changes the answer). The
    // scalable shape: dedup to (user, day), EXPLODE each user-day
    // into the 7 trailing windows it covers (bounded 7× growth of the
    // already-deduped table), dedup (user, window), count — never a
    // per-day rescan of the raw events. Stickiness = DAU/WAU, the
    // product-health ratio this exists for; WAU days with no same-day
    // events keep DAU=0 via the left join.
    QueryDef("q235_sliding_distinct", (s, d) => {
      val ud = Tables.events(s, d)
        .select($"user_id", to_date($"ts").as("__d")).distinct()
      val mx = ud.agg(max($"__d").as("__m"))
      val wau = ud
        .select($"user_id",
          explode(sequence($"__d", date_add($"__d", 6))).as("day"))
        .distinct()
        .crossJoin(broadcast(mx))
        .filter($"day" <= $"__m")
        .groupBy($"day").agg(count(lit(1)).as("wau"))
      val dau = ud.groupBy($"__d".as("day"))
        .agg(count(lit(1)).as("__dau"))
      wau.join(dau, Seq("day"), "left")
        .select($"day", coalesce($"__dau", lit(0L)).as("dau"), $"wau",
          Fns.roundU(coalesce($"__dau", lit(0L)).cast("double") /
            $"wau", 4).as("stickiness"))
        .orderBy($"day")
    }, Some(
      """WITH ud AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
        |mx AS (SELECT max(d) AS m FROM ud),
        |win AS (
        |  SELECT DISTINCT user_id,
        |    d + CAST(x.i AS INT) AS w
        |  FROM ud, unnest(range(0, 7)) x(i)),
        |wau AS (
        |  SELECT w AS day, CAST(count(*) AS BIGINT) AS wau
        |  FROM win, mx WHERE w <= m GROUP BY 1),
        |dau AS (
        |  SELECT d AS day, CAST(count(*) AS BIGINT) AS dau
        |  FROM ud GROUP BY 1)
        |SELECT w.day, coalesce(d.dau, 0) AS dau, w.wau,
        |  floor(CAST(coalesce(d.dau, 0) AS DOUBLE) / w.wau
        |    * 10000 + 0.5) / 10000.0 AS stickiness
        |FROM wau w LEFT JOIN dau d ON w.day = d.day
        |ORDER BY w.day""".stripMargin)),

    // HILBERT vs Z-ORDER LOCALITY — the measured half of the storage-
    // layout story: q100 lays files out on the Morton curve; this
    // query WALKS the data's own occupied grid cells in each curve's
    // index order and measures the spatial (Manhattan) jump between
    // consecutive cells — exactly the "how far apart on disk-order are
    // my next rows in space" number a clustered layout is chosen for.
    // Hilbert's defining property (consecutive indices are always
    // grid-adjacent; Morton jumps across power-of-two seams) shows up
    // as a smaller mean jump. The Hilbert index is a native integer
    // expression (`functions.HilbertIndexExpr`); the oracle replays
    // the public xy→d loop as a recursive CTE. Occupied cells are
    // ≤ 64×64 regardless of data size, so the walk window is bounded
    // by the GRID, not the table (the unpartitioned window is
    // bounded by construction).
    QueryDef("q254_hilbert_locality", (s, d) => {
      import graft.operators.Layout
      val cells = Tables.part(s, d)
        .select(($"p_size".cast("long") % 64).as("x"),
          expr("(CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT)" +
            " div 100) % 64").as("y"))
        .distinct()
        .withColumn("h", Layout.hilbertValue($"x", $"y", 6))
        .withColumn("z", Layout.zValue($"x", $"y", 6))
      def walk(curve: String, idx: String) = {
        val w = Window.orderBy(col(idx))
        cells
          .withColumn("__px", lag($"x", 1).over(w))
          .withColumn("__py", lag($"y", 1).over(w))
          .filter($"__px".isNotNull)
          .select((abs($"x" - $"__px") + abs($"y" - $"__py")).as("__j"))
          .agg(count(lit(1)).as("n_steps"), sum($"__j").as("__s"),
            max($"__j").as("max_jump"))
          .select(lit(curve).as("curve"), $"n_steps",
            Fns.roundU($"__s".cast("double") / $"n_steps", 4)
              .as("mean_jump"),
            $"max_jump")
      }
      walk("hilbert", "h").unionByName(walk("zorder", "z"))
        .orderBy($"curve")
    },
    // Hilbert index replayed as the public xy→d loop in a recursive
    // CTE (6 levels, s = 32 → 1); Morton as q100's bit-interleave sum
    Some(
      """WITH RECURSIVE cells AS (
        |  SELECT DISTINCT CAST(p_size AS BIGINT) % 64 AS x,
        |    ((CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) // 100)
        |      % 64) AS y
        |  FROM part),
        |hh(x0, y0, x, y, d, s) AS (
        |  SELECT x, y, x, y, CAST(0 AS BIGINT), CAST(32 AS BIGINT)
        |  FROM cells
        |  UNION ALL
        |  SELECT x0, y0,
        |    CASE WHEN (y & s) > 0 THEN x
        |         WHEN (x & s) > 0 THEN s - 1 - y ELSE y END,
        |    CASE WHEN (y & s) > 0 THEN y
        |         WHEN (x & s) > 0 THEN s - 1 - x ELSE x END,
        |    d + s * s * xor(
        |      3 * (CASE WHEN (x & s) > 0 THEN 1 ELSE 0 END),
        |      CASE WHEN (y & s) > 0 THEN 1 ELSE 0 END),
        |    s // 2
        |  FROM hh WHERE s > 0),
        |hidx AS (SELECT x0 AS x, y0 AS y, d AS h FROM hh WHERE s = 0),
        |zidx AS (SELECT x, y,
        |  (SELECT sum(((((x & 63) >> u.i) & 1) << (2*u.i))
        |            + ((((y & 63) >> u.i) & 1) << (2*u.i+1)))
        |   FROM range(0, 6) u(i)) AS z
        |  FROM cells),
        |idx AS (SELECT c.x, c.y, h.h, z.z FROM cells c
        |  JOIN hidx h ON c.x = h.x AND c.y = h.y
        |  JOIN zidx z ON c.x = z.x AND c.y = z.y),
        |hw AS (
        |  SELECT abs(x - lag(x) OVER (ORDER BY h))
        |       + abs(y - lag(y) OVER (ORDER BY h)) AS j
        |  FROM idx),
        |zw AS (
        |  SELECT abs(x - lag(x) OVER (ORDER BY z))
        |       + abs(y - lag(y) OVER (ORDER BY z)) AS j
        |  FROM idx)
        |SELECT 'hilbert' AS curve, count(j) AS n_steps,
        |  floor(CAST(CAST(sum(j) AS BIGINT) AS DOUBLE)
        |    / count(j) * 10000 + 0.5) / 10000.0 AS mean_jump,
        |  CAST(max(j) AS BIGINT) AS max_jump
        |FROM hw
        |UNION ALL
        |SELECT 'zorder', count(j),
        |  floor(CAST(CAST(sum(j) AS BIGINT) AS DOUBLE)
        |    / count(j) * 10000 + 0.5) / 10000.0,
        |  CAST(max(j) AS BIGINT)
        |FROM zw
        |ORDER BY curve""".stripMargin)),

    // INTERVAL SCHEDULING — activity selection per desk: the maximum
    // set of non-overlapping order-service windows, by the
    // earliest-deadline-first greedy (optimal by the exchange
    // argument). Like q209/q224 this is a genuinely SEQUENTIAL
    // recurrence — no window/prefix-sum form — run as the
    // secondary-sort O(1)-state scan sorted on interval END
    // (Sessionize.greedySchedule), and replayed by the oracle as a
    // one-interval-per-iteration recursive CTE. Half-open [s, e):
    // touching windows are compatible. One staffing year keeps the
    // oracle's recursion depth bounded; the engine side has no such
    // limit — state is two scalars however long a desk's history.
    QueryDef("q263_interval_scheduling", (s, d) => {
      val iv = Tables.orders(s, d)
        .filter($"o_orderdate" >= "1995-01-01" &&
          $"o_orderdate" < "1996-01-01")
        .select(($"o_custkey" % 23).cast("long").as("desk"),
          datediff($"o_orderdate", lit("1992-01-01")).cast("long")
            .as("st"),
          $"o_orderkey".cast("long").as("oid"))
        .withColumn("en", $"st" + lit(1L) + $"oid" % 14)
      Sessionize.greedySchedule(iv, "desk", "st", "en", "oid")
        .groupBy($"desk")
        .agg(count(lit(1)).as("n_intervals"),
          sum(when($"accepted", 1L).otherwise(0L)).as("n_accepted"),
          min(when($"accepted", $"st")).as("first_start"),
          max(when($"accepted", $"en")).as("last_end"))
        .orderBy($"desk")
    },
    // q263: the greedy replayed one interval per iteration in
    // (end, start, id) rank order — q224's walk pattern with the
    // accept-iff-start-clears-last-end recurrence
    Some(
      """WITH RECURSIVE iv0 AS (
        |  SELECT o_custkey % 23 AS k,
        |    date_diff('day', DATE '1992-01-01',
        |      CAST(o_orderdate AS DATE)) AS s,
        |    o_orderkey AS i
        |  FROM orders
        |  WHERE o_orderdate >= '1995-01-01'
        |    AND o_orderdate < '1996-01-01'),
        |iv AS (
        |  SELECT k, s, s + 1 + i % 14 AS e, i,
        |    row_number() OVER (PARTITION BY k
        |      ORDER BY s + 1 + i % 14, s, i) AS rn
        |  FROM iv0),
        |walk AS (
        |  SELECT k, rn, s, e, TRUE AS acc, e AS last_end
        |  FROM iv WHERE rn = 1
        |  UNION ALL
        |  SELECT iv.k, iv.rn, iv.s, iv.e, iv.s >= w.last_end,
        |    CASE WHEN iv.s >= w.last_end THEN iv.e
        |         ELSE w.last_end END
        |  FROM walk w JOIN iv ON iv.k = w.k AND iv.rn = w.rn + 1)
        |SELECT CAST(k AS BIGINT) AS desk,
        |  CAST(count(*) AS BIGINT) AS n_intervals,
        |  CAST(sum(CASE WHEN acc THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_accepted,
        |  CAST(min(CASE WHEN acc THEN s END) AS BIGINT)
        |    AS first_start,
        |  CAST(max(CASE WHEN acc THEN e END) AS BIGINT) AS last_end
        |FROM walk GROUP BY 1 ORDER BY desk""".stripMargin)),

    // TOKEN-BUCKET RATE LIMITER — the API-throttling replay audit:
    // cap 3 tokens, refill 1 per 10 min, cost 1 per event, in
    // integer MILLI-tokens. The two-sided clamp plus the
    // allow-conditional deduction is a genuinely sequential
    // recurrence (q196's prefix identity handles only the one-sided
    // clamp), so it runs as the q209-family secondary-sort
    // O(1)-state scan (Sessionize.rateLimit — two longs of state per
    // key) and the oracle replays it one event per iteration as a
    // recursive CTE. Per user: events, allowed, denied.
    QueryDef("q275_rate_limit", (s, d) => {
      val ev = Tables.events(s, d).filter($"user_id" < 100)
        .select($"user_id", $"ts".cast("long").as("__ts"),
          $"event_id")
      Sessionize.rateLimit(ev, "user_id", "__ts", "event_id",
          capMilli = 3000L, costMilli = 1000L,
          refillNumer = 1000L, refillDenom = 600L)
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n_events"),
          sum(when($"allowed", 1L).otherwise(0L)).as("n_allowed"),
          sum(when(!$"allowed", 1L).otherwise(0L)).as("n_denied"))
        .orderBy($"user_id")
    },
    // q275: the q224 walk pattern with the token-bucket recurrence —
    // refill, two-sided clamp, allow-conditional deduction
    Some(
      """WITH RECURSIVE e AS (
        |  SELECT user_id AS k,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS t, event_id,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY floor(epoch(ts)), event_id) AS rn
        |  FROM events WHERE user_id < 100),
        |walk AS (
        |  SELECT k, rn, t, TRUE AS ok, CAST(2000 AS BIGINT) AS tok,
        |    t AS lt
        |  FROM e WHERE rn = 1
        |  UNION ALL
        |  SELECT e.k, e.rn, e.t,
        |    least(3000, w.tok + (e.t - w.lt) * 1000 // 600) >= 1000,
        |    CASE WHEN least(3000, w.tok + (e.t - w.lt) * 1000 // 600)
        |        >= 1000
        |      THEN least(3000, w.tok + (e.t - w.lt) * 1000 // 600)
        |        - 1000
        |      ELSE least(3000, w.tok + (e.t - w.lt) * 1000 // 600)
        |    END,
        |    e.t
        |  FROM walk w JOIN e ON e.k = w.k AND e.rn = w.rn + 1)
        |SELECT k AS user_id, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_allowed,
        |  CAST(sum(CASE WHEN NOT ok THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_denied
        |FROM walk GROUP BY 1 ORDER BY user_id""".stripMargin)),

    // WILDER RSI — the technical-analysis smoothing recurrence
    // AG' = (AG·13 + gain) div 14 over per-flag daily revenue, kept in
    // pure int64 cents end-to-end ([[operators.Sessionize.wilderSmooth]]:
    // the exponentially-weighted state at day t depends on every
    // earlier day once the div floors each step, so no window/prefix
    // form exists — the same secondary-sort O(1)-state scan as
    // q209/q275, oracled by a recursive CTE advancing every series one
    // day per iteration). The RSI readout is the exact integer
    // (10⁶·AG) div (AG+AL); all operands non-negative, so Spark's
    // trunc-div and DuckDB's floor-div agree everywhere.
    QueryDef("q282_wilder_rsi", (s, d) => {
      val daily = Tables.lineitem(s, d)
        .groupBy($"l_returnflag", to_date($"l_shipdate").as("__day"))
        .agg(sum(floor($"l_extendedprice" * 100 + 0.5).cast("long"))
          .as("__v"))
        .select($"l_returnflag",
          datediff($"__day", lit("1992-01-01").cast("date"))
            .cast("long").as("__t"),
          $"__v")
      Sessionize.wilderSmooth(daily, "l_returnflag", "__t", "__v", n = 14)
        .select($"l_returnflag",
          date_add(lit("1992-01-01").cast("date"), $"__t".cast("int"))
            .as("day"),
          $"__v".as("revenue_cents"), $"avg_gain", $"avg_loss",
          $"rsi_ppm")
        .orderBy($"l_returnflag", $"day")
    },
    // q282: the Wilder recurrence replayed one day per key per
    // recursive iteration; // = div on the non-negative operands
    Some(
      """WITH RECURSIVE d AS (
        |  SELECT l_returnflag AS k,
        |    CAST(datediff('day', DATE '1992-01-01',
        |      CAST(l_shipdate AS DATE)) AS BIGINT) AS t,
        |    CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5)
        |      AS BIGINT)) AS BIGINT) AS v
        |  FROM lineitem GROUP BY 1, 2),
        |s AS (SELECT k, t, v,
        |    row_number() OVER (PARTITION BY k ORDER BY t) AS rn
        |  FROM d),
        |rec AS (
        |  SELECT k, rn, t, v, CAST(0 AS BIGINT) AS ag,
        |    CAST(0 AS BIGINT) AS al
        |  FROM s WHERE rn = 1
        |  UNION ALL
        |  SELECT s.k, s.rn, s.t, s.v,
        |    (r.ag * 13 + greatest(s.v - r.v, 0)) // 14,
        |    (r.al * 13 + greatest(r.v - s.v, 0)) // 14
        |  FROM rec r JOIN s ON s.k = r.k AND s.rn = r.rn + 1)
        |SELECT k AS l_returnflag,
        |  DATE '1992-01-01' + CAST(t AS INTEGER) AS day,
        |  v AS revenue_cents, CAST(ag AS BIGINT) AS avg_gain,
        |  CAST(al AS BIGINT) AS avg_loss,
        |  CASE WHEN ag + al > 0
        |    THEN CAST((1000000 * ag) // (ag + al) AS BIGINT) END
        |    AS rsi_ppm
        |FROM rec ORDER BY l_returnflag, day""".stripMargin)),

    // CIDR CONTAINMENT — the log-analytics network join: q232's
    // synthetic client IPs as int64, a 12-block CIDR dimension
    // (prefix ⟹ [lo, hi] integer range) BROADCAST onto the event
    // stream, longest-prefix match per IP via one max(struct(prefix
    // length, network)) — never a shuffled range join for a
    // metadata-sized dimension. Unmatched traffic lands in the
    // explicit 'unassigned' bucket so the rollup accounts for every
    // event.
    QueryDef("q299_cidr_match", (s, d) => {
      // collapse to DISTINCT ip + event count BEFORE the range join:
      // the dimension probe then touches |ips| rows, not |events|
      val ip = Tables.events(s, d)
        .select(expr("CAST(10 * 16777216 + (user_id % 256) * 65536 " +
          "+ ((event_id div 7) % 256) * 256 + (event_id % 256) " +
          "AS BIGINT)").as("__ip"))
        .groupBy($"__ip").agg(count(lit(1)).as("__n"))
      val cidrs = { import s.implicits._
        ((for (b <- 0 until 8) yield
          (s"10.$b.0.0/16",
            10L * 16777216L + b.toLong * 65536L,
            10L * 16777216L + b.toLong * 65536L + 65535L, 16L)) ++
        Seq(("10.0.128.0/17",
          10L * 16777216L + 32768L,
          10L * 16777216L + 65535L, 17L),
          ("10.1.0.0/24", 10L * 16777216L + 65536L,
            10L * 16777216L + 65536L + 255L, 24L),
          ("10.2.4.0/22", 10L * 16777216L + 2L * 65536L + 1024L,
            10L * 16777216L + 2L * 65536L + 2047L, 22L),
          ("10.0.0.0/8", 10L * 16777216L,
            11L * 16777216L - 1L, 8L)))
          .toDF("network", "lo", "hi", "plen") }
      ip.join(broadcast(cidrs),
          $"__ip" >= $"lo" && $"__ip" <= $"hi", "left")
        .groupBy($"__ip")
        .agg(max(when($"network".isNotNull,
          struct($"plen", $"network"))).as("__m"),
          max($"__n").as("__n"))
        .select(coalesce($"__m.network", lit("unassigned"))
          .as("network"), $"__n")
        .groupBy($"network")
        .agg(count(lit(1)).as("n_ips"), sum($"__n").as("n_events"))
        .orderBy($"network")
    },
    // q299: same distinct-ip collapse, same longest-prefix argmax
    Some(
      """WITH ip AS (
        |  SELECT 10 * 16777216 + (user_id % 256) * 65536
        |    + ((event_id // 7) % 256) * 256 + (event_id % 256) AS ip,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1),
        |cidrs AS (
        |  SELECT * FROM (VALUES
        |    ('10.0.0.0/16', 167772160, 167837695, 16),
        |    ('10.1.0.0/16', 167837696, 167903231, 16),
        |    ('10.2.0.0/16', 167903232, 167968767, 16),
        |    ('10.3.0.0/16', 167968768, 168034303, 16),
        |    ('10.4.0.0/16', 168034304, 168099839, 16),
        |    ('10.5.0.0/16', 168099840, 168165375, 16),
        |    ('10.6.0.0/16', 168165376, 168230911, 16),
        |    ('10.7.0.0/16', 168230912, 168296447, 16),
        |    ('10.0.128.0/17', 167804928, 167837695, 17),
        |    ('10.1.0.0/24', 167837696, 167837951, 24),
        |    ('10.2.4.0/22', 167904256, 167905279, 22),
        |    ('10.0.0.0/8', 167772160, 184549375, 8))
        |    AS v(network, lo, hi, plen)),
        |j AS (
        |  SELECT ip.ip, ip.n, c.network, row_number() OVER (
        |    PARTITION BY ip.ip
        |    ORDER BY c.plen DESC NULLS LAST,
        |      c.network DESC NULLS LAST) AS rn
        |  FROM ip LEFT JOIN cidrs c
        |    ON ip.ip >= c.lo AND ip.ip <= c.hi)
        |SELECT coalesce(network, 'unassigned') AS network,
        |  CAST(count(*) AS BIGINT) AS n_ips,
        |  CAST(sum(n) AS BIGINT) AS n_events
        |FROM j WHERE rn = 1 GROUP BY 1 ORDER BY network""".stripMargin))
  )

  /** Shared SCD-2 fixture for q92 (apply) and q93 (point-in-time read):
    * customer as the day-0 open snapshot, orders-derived changes
    * (q49's key remap — %100 keys become brand-new — LWW-collapsed to
    * one change per key). ONE copy so the write and read sides can
    * never drift apart; the DuckDB oracles replicate the same CTEs. */
  private def scd2Fixture(s: SparkSession, d: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val target = Tables.customer(s, d)
      .select($"c_custkey", $"c_acctbal".as("val"),
        lit(0L).as("valid_from"), lit(null).cast("long").as("valid_to"))
    val key = when($"o_orderkey" % 100 === 0, $"o_custkey" + 1000000)
      .otherwise($"o_custkey")
    val changes = Tables.orders(s, d)
      .filter($"o_orderkey" % 50 === 0)
      .select(key.as("c_custkey"), $"o_totalprice".as("val"),
        $"o_orderkey".as("ts"))
      .groupBy($"c_custkey")
      .agg(max_by($"val", $"ts").as("val"), max($"ts").as("ts"))
    (target, changes)
  }
}
