package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

import graft.domain.{BlockSchema, Rugpull}

/** Structured Streaming forms of the reference's pipelines. The reference
  * hand-built micro-batching (shared-memory mailbox + poll loops, SURVEY.md
  * §1.1); here each arriving block file is a micro-batch and backpressure,
  * retries and exactly-once sink semantics come from the engine.
  */
object Streams {

  /** Price event for stateful change suppression (shape of the reference's
    * prices_channel payloads). */
  case class PriceEvent(pair: String, ts: Long, basePrice: Double,
                        quotePrice: Double)

  /** Streaming token-flow ledger: watch a directory for block JSON files,
    * run the flagship query per micro-batch, hand each batch to `sink`.
    * Dimensions are re-read per batch via the closure — the stream–static
    * join semantics of the reference (dims re-fetched every chunk, O9).
    * A constant dimension (every leaf a local relation, every expression
    * deterministic and UDF-free) cannot change, so it is read on the
    * first trigger only.
    *
    * The flagship is planned once per stream: each trigger reads the
    * dimensions into lookups and, while they are unchanged, swaps its
    * batch relation into the analysed plan of the batch that first saw
    * them; changed dimensions rebuild that plan. A batch of one
    * partition (one block file) is declared `SinglePartition`, so the
    * ledger's distinct runs without an exchange.
    *
    * `blocksPerTrigger` is the latency/throughput dial: 1 (default)
    * reproduces the reference's per-block cadence (its mailbox hands the
    * parser one block at a time) and pays a fixed per-trigger cost:
    * source listing, reading the dimensions that can change (no job for
    * local ones), optimising and planning the kept plan, one Spark job
    * that parses the block and runs the per-block ledger kernel, and
    * three small checkpoint writes (the file-source log, the offset log
    * and the commit log), about 1 ms each through
    * [[LocalCheckpointFiles]]. A batch of several partitions adds a
    * shuffle of its ledger rows and a second job. Larger values amortize
    * that cost across blocks, and ≤ 0 removes the cap entirely (each
    * trigger takes everything available — the backfill shape).
    *
    * `checkpointLocation` is where the stream keeps its offsets and
    * commits; a stream restarted on the same location resumes after the
    * last committed batch and re-delivers an uncommitted one with its id.
    * Unset, Spark picks a fresh location, so nothing resumes.
    */
  def tokenFlowsStream(spark: SparkSession, blocksDir: String,
                       hot: DataFrame, watchlists: DataFrame,
                       prices: DataFrame, blocksPerTrigger: Int = 1,
                       trigger: Trigger = Trigger.AvailableNow(),
                       checkpointLocation: Option[String] = None)
                      (sink: (DataFrame, Long) => Unit): StreamingQuery = {
    val reader = spark.readStream.schema(BlockSchema.block)
    val blocks = (if (blocksPerTrigger > 0)
        reader.option("maxFilesPerTrigger", blocksPerTrigger)
      else reader)
      .json(blocksDir)
    // (dims, the batch relation, the analysed ledger plan reading it).
    // foreachBatch hands every batch a relation with the stream's own
    // output attributes, so a plan built over one batch's relation reads
    // any later one.
    var kept: Option[(Rugpull.Dims, LogicalPlan, LogicalPlan)] = None
    val readDims = Rugpull.Dims.reader(hot, watchlists, prices)
    val writer = blocks.writeStream
    checkpointLocation.foreach(writer.option("checkpointLocation", _))
    writer
      .outputMode(OutputMode.Append())
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val dims = readDims()
        // a one-file batch is one partition: its distinct runs in place
        val one = Bridge.declareSinglePartition(batch)
        val rel = one.queryExecution.analyzed
        val ledger = kept match {
          case Some((d, r, plan)) if d == dims && r.output == rel.output =>
            Bridge.ofAnalyzed(batch.sparkSession,
              plan.transform { case p if p eq r => rel })
          case _ =>
            val df = Rugpull.tokenFlows(one, dims)
            val plan = df.queryExecution.analyzed
            // kept only when the batch relation, which the swap replaces,
            // is the plan's one leaf
            kept = plan.collectLeaves() match {
              case Seq(leaf) if leaf eq rel => Some((dims, rel, plan))
              case _ => None
            }
            df
        }
        sink(ledger, id)
      }
      .start()
  }

  /** Streaming DATA-QUALITY monitor: evaluate a
    * [[graft.operators.Quality]] rule set on every micro-batch and hand
    * the per-batch report (plus the batch id) to `onReport` — the
    * ingestion-time form of the q102 contract check, where a violated
    * contract should gate ADMISSION (quarantine the batch) rather than
    * surface in a morning report. The report is rules-sized (a handful
    * of rows), so the callback can cheaply collect and alert/abort. */
  def qualityMonitor(df: DataFrame,
                     rules: Seq[graft.operators.Quality.Rule])
                    (onReport: (DataFrame, Long) => Unit)
      : StreamingQuery =
    df.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, id: Long) =>
        onReport(graft.operators.Quality.report(batch, rules), id)
      }
      .start()

  /** Stateful change suppression (exact reference semantics, O35): emit a
    * price event iff the pair is unseen or base/quote moved >`threshold`
    * relative to the LAST EMITTED event. State = last emitted prices per
    * pair. Works on both streaming and batch Datasets (same code path).
    */
  def suppressPrices(events: Dataset[PriceEvent], threshold: Double)
      : Dataset[PriceEvent] = {
    import events.sparkSession.implicits._

    def moved(prev: Double, cur: Double): Boolean =
      math.abs(cur - prev) > math.abs(prev) * threshold

    events.groupByKey(_.pair)
      .flatMapGroupsWithState[(Double, Double), PriceEvent](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_, rows, state: GroupState[(Double, Double)]) =>
          // within a batch, process in event order; price fields break
          // timestamp ties (pair is the grouping key — constant here —
          // so it cannot), keeping emission deterministic under
          // whatever order the shuffle delivered equal-ts events
          val sorted = rows.toSeq
            .sortBy(e => (e.ts, e.basePrice, e.quotePrice))
          val out = Seq.newBuilder[PriceEvent]
          var last = state.getOption
          sorted.foreach { e =>
            val emit = last match {
              case None => true
              case Some((b, q)) =>
                moved(b, e.basePrice) || moved(q, e.quotePrice)
            }
            if (emit) {
              out += e
              last = Some((e.basePrice, e.quotePrice))
            }
          }
          last.foreach(state.update)
          out.result().iterator
      }
  }

  /** Windowed event-time aggregation with a watermark — the general
    * streaming aggregation the reference lacked (SURVEY.md §2.4): counts
    * and value sums per tumbling window per key, late data bounded by the
    * watermark. */
  def windowedEventStats(events: DataFrame, tsCol: String, keyCol: String,
                         valueCol: String, window_ : String,
                         watermark: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), window_), col(keyCol))
      .agg(count(lit(1)).as("n"), sum(col(valueCol)).as("sum_value"))

  /** Streaming OHLC bars — the market-data resample of the reference's
    * price feed (q83's batch semantics on an unbounded stream): per
    * (key, tumbling window) open/high/low/close/volume, finalized once
    * the watermark passes the bar close. Open/close are min_by/max_by
    * over the total (ts, idCol) key, so a bar's state is five numbers
    * however many trades it holds — no per-bar buffering, no window
    * sort, and the same declarative aggregate runs batch or streaming.
    */
  def priceBars(events: DataFrame, tsCol: String, keyCol: String,
                idCol: String, valueCol: String, bar: String,
                watermark: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      // group on the window STRUCT (not its start field): the streaming
      // planner recognizes the time column for watermark-based bar
      // finalization through the struct only
      .groupBy(col(keyCol), window(col(tsCol), bar).as("__w"))
      .agg(min_by(col(valueCol), struct(col(tsCol), col(idCol)))
          .as("open"),
        max(col(valueCol)).as("high"), min(col(valueCol)).as("low"),
        max_by(col(valueCol), struct(col(tsCol), col(idCol)))
          .as("close"),
        count(lit(1)).as("n_trades"), sum(col(valueCol)).as("volume"))
      .select(col(keyCol), col("__w.start").as("bar_start"), col("open"),
        col("high"), col("low"), col("close"), col("n_trades"),
        col("volume"))

  /** Session-window aggregation with a watermark — the streaming-native
    * form of the batch sessionization (q37). Sessions merge as events
    * arrive; a session is finalized (and emitted, in append mode) once
    * the watermark passes its close. State per key is bounded by the
    * watermark horizon — the property that lets sessionization run
    * forever on an unbounded stream. */
  def sessionStats(events: DataFrame, tsCol: String, keyCol: String,
                   valueCol: String, gap: String, watermark: String)
      : DataFrame =
    events.withWatermark(tsCol, watermark)
      .groupBy(col(keyCol), session_window(col(tsCol), gap).as("w"))
      .agg(count(lit(1)).as("n_events"), sum(col(valueCol)).as("sum_value"))
      .select(col(keyCol), col("w.start").as("session_start"),
        col("n_events"), col("sum_value"))

  /** Keyed value sample for [[runningQuantiles]]. */
  case class KeyedValue(key: String, value: Double)

  /** Fixed-memory per-key quantile sketch state: an equal-width histogram
    * whose range is learned from the first batch (padded) and frozen;
    * later out-of-range values clamp into the edge bins. */
  case class QSketch(lo: Double, hi: Double, n: Long, bins: Array[Long])

  /** Per-key quantile estimates emitted once per key per micro-batch. */
  case class QuantileEstimate(key: String, n: Long, q: Seq[Double],
                              value: Seq[Double])

  /** RUNNING QUANTILES over an unbounded keyed stream — the streaming twin
    * of the batch [[graft.operators.Percentiles]] histogram: per-key state
    * is a fixed `nBins`-bin histogram (nBins longs + bounds), merged
    * incrementally per micro-batch, so state never grows with stream
    * length — the property that lets a latency-percentile or
    * price-distribution monitor run forever. Each trigger emits the
    * current estimate for every key that received data.
    *
    * Estimates are exact to within one bin width of the learned range
    * (the first batch's [min, max] padded by half its span; values beyond
    * it clamp to the edge bins, biasing tail quantiles toward the clamp
    * point — acceptable for monitoring, not for billing). Deterministic
    * given the batch sequence. Works on batch Datasets too (same code
    * path, one "batch").
    */
  def runningQuantiles(events: Dataset[KeyedValue], qs: Seq[Double],
                       nBins: Int = 64): Dataset[QuantileEstimate] = {
    require(qs.nonEmpty && qs.forall(x => x > 0 && x <= 1))
    import events.sparkSession.implicits._
    events.groupByKey(_.key)
      .mapGroupsWithState[QSketch, QuantileEstimate](
        GroupStateTimeout.NoTimeout()) {
        (key, rows, state: GroupState[QSketch]) =>
          val vs = rows.map(_.value).filter(v => !v.isNaN && !v.isInfinite)
            .toArray
          if (state.getOption.isEmpty && vs.isEmpty)
            // nothing finite yet: no range to learn, no state to keep
            QuantileEstimate(key, 0L, qs, qs.map(_ => Double.NaN))
          else {
            val s0 = state.getOption.getOrElse {
              // learn the range from the first batch, pad by half the
              // span so near-future drift stays in-range
              val lo0 = vs.min; val hi0 = vs.max
              val pad = math.max((hi0 - lo0) / 2, 1e-9)
              QSketch(lo0 - pad, hi0 + pad, 0L, new Array[Long](nBins))
            }
            val w = (s0.hi - s0.lo) / nBins
            vs.foreach { v =>
              val idx = math.min(nBins - 1,
                math.max(0, ((v - s0.lo) / w).toInt))
              s0.bins(idx) += 1
            }
            val s = s0.copy(n = s0.n + vs.length)
            state.update(s)
            // nearest-rank with linear interpolation inside the bin
            val est = qs.map { q =>
              val target = math.max(1L, math.ceil(q * s.n).toLong)
              var cum = 0L
              var i = 0
              var found = Double.NaN
              while (i < nBins && found.isNaN) {
                if (cum + s.bins(i) >= target)
                  found = s.lo + (i + (target - cum).toDouble / s.bins(i)) * w
                cum += s.bins(i); i += 1
              }
              found
            }
            QuantileEstimate(key, s.n, qs, est)
          }
      }
  }

  /** Keyed item occurrence for [[runningHeavyHitters]]. */
  case class ItemEvent(key: String, item: String)

  /** Space-Saving counter state: item → (count, overestimate). */
  case class HHState(counts: Map[String, (Long, Long)])

  /** Per-key heavy-hitter report, one row per key OBSERVED in the
    * micro-batch (a key with no arrivals in a trigger emits nothing
    * that trigger — its last report stands). `err(i)` bounds how much
    * `count(i)` may overestimate the true frequency (0 while the
    * counter table never overflowed). */
  case class HeavyHitters(key: String, items: Seq[String],
                          counts: Seq[Long], errs: Seq[Long])

  /** STREAMING TOP-K (heavy hitters) — the unbounded-stream counterpart
    * of the batch [[graft.plans.TopKPerKey]]: per key, the `k` most
    * frequent items so far, tracked by the Space-Saving sketch in AT
    * MOST `m` counters per key however many distinct items flow past.
    * When a new item meets a full table it REPLACES the minimum counter
    * and inherits its count (+1), recording that count as its possible
    * overestimate — the classic guarantee: any item with true frequency
    * > N/m is in the table, and every count is exact to within its err.
    * Emits the current top-k per key each trigger.
    *
    * Rows within a micro-batch are processed in (item) sorted order so
    * results are deterministic under shuffle — arrival order within one
    * batch is not meaningful anyway. Works on batch Datasets too (one
    * "batch"). */
  def runningHeavyHitters(events: Dataset[ItemEvent], k: Int, m: Int)
      : Dataset[HeavyHitters] = {
    require(k >= 1 && m >= k,
      s"need m >= k >= 1 counters, got k=$k m=$m")
    import events.sparkSession.implicits._
    events.groupByKey(_.key)
      .mapGroupsWithState[HHState, HeavyHitters](
        GroupStateTimeout.NoTimeout()) {
        (key, rows, state: GroupState[HHState]) =>
          var counts = state.getOption.map(_.counts).getOrElse(Map.empty)
          // pre-aggregate the batch to per-item occurrence counts (a
          // heavy-hitter stream is skewed by definition — sorting every
          // occurrence would be O(n log n) on millions of repeats of a
          // few items), then apply Space-Saving per DISTINCT item in
          // sorted order. Batch-equivalent to per-occurrence processing:
          // sorted order groups an item's occurrences consecutively, so
          // a monitored item adds its whole batch count, and an evicting
          // newcomer takes (minC + batchCount, minC) — identical to
          // batchCount sequential arrivals.
          val batch = scala.collection.mutable.Map.empty[String, Long]
          rows.foreach(r => batch.update(r.item,
            batch.getOrElse(r.item, 0L) + 1L))
          batch.toArray.sortBy(_._1).foreach { case (item, c) =>
            counts.get(item) match {
              case Some((c0, e)) => counts += item -> (c0 + c, e)
              case None if counts.size < m => counts += item -> (c, 0L)
              case None =>
                // evict the minimum counter (ties by item for
                // determinism); the newcomer inherits its count
                val (minItem, (minC, _)) =
                  counts.minBy { case (i, (cc, _)) => (cc, i) }
                counts -= minItem
                counts += item -> (minC + c, minC)
            }
          }
          state.update(HHState(counts))
          val top = counts.toSeq
            .sortBy { case (i, (c, _)) => (-c, i) }.take(k)
          HeavyHitters(key, top.map(_._1), top.map(_._2._1),
            top.map(_._2._2))
      }
  }

  /** Scored item for [[runningTopK]]. */
  case class ScoredEvent(key: String, id: String, score: Double)

  /** Per-key leaderboard after each trigger (ids ordered score desc,
    * id asc on ties). */
  case class TopK(key: String, ids: Seq[String], scores: Seq[Double])

  /** STREAMING VALUE-ORDERED TOP-K — the unbounded-stream twin of the
    * batch [[graft.plans.TopKPerKey]] plan: per key, the k
    * highest-scoring EVENTS seen so far, in EXACTLY k rows of state per
    * key forever (contrast [[runningHeavyHitters]], which ranks by
    * frequency under a sketch bound). Each trigger emits the keys that
    * received arrivals; an idle key's last report stands. Merging is a
    * total order (score desc, id asc), so results are deterministic
    * under shuffle and batch boundaries: any arrival order yields the
    * same leaderboard. Works on batch Datasets too (one "batch" —
    * equivalent to the TopKPerKey plan on the same input). */
  def runningTopK(events: Dataset[ScoredEvent], k: Int): Dataset[TopK] = {
    require(k >= 1, s"need k >= 1, got $k")
    import events.sparkSession.implicits._
    // Spark SQL double semantics, so the batch twin really is TopKPerKey
    // with score.desc: NaN sorts GREATER than any value (Scala's default
    // tuple sortBy would bury NaN last — negation maps NaN to NaN) and
    // -0.0 ties 0.0 (so the id tiebreaker, not the sign bit, decides).
    val ord: Ordering[(Double, String)] = new Ordering[(Double, String)] {
      private def norm(x: Double): Double = if (x == 0.0) 0.0 else x
      override def compare(a: (Double, String), b: (Double, String)): Int = {
        val c = java.lang.Double.compare(norm(b._1), norm(a._1)) // desc
        if (c != 0) c else a._2.compareTo(b._2)
      }
    }
    events.groupByKey(_.key)
      .mapGroupsWithState[Seq[(Double, String)], TopK](
        GroupStateTimeout.NoTimeout()) {
        (key, rows, state: GroupState[Seq[(Double, String)]]) =>
          val best = (state.getOption.getOrElse(Seq.empty) ++
            rows.map(r => (r.score, r.id)))
            .sorted(ord)
            .take(k)
          state.update(best)
          TopK(key, best.map(_._2), best.map(_._1))
      }
  }

  /** The SURVEY §3.2 dimension-build pipeline, streaming form: watch the
    * block stream, regex-detect pool-creation transactions (O33), and
    * upsert the candidates into a parquet registry snapshot via
    * [[graft.operators.Registry.snapshotUpserter]] — the Spark analog of
    * the reference's regex-scan → Redis SADD side process. The main
    * ledger query then re-reads the snapshot per micro-batch (O9
    * semantics). */
  def poolRegistryStream(spark: SparkSession, blocksDir: String,
                         programs: Map[String, Seq[String]],
                         registryPath: String,
                         resolver: Rugpull.PoolResolver =
                           Rugpull.stubResolver): StreamingQuery = {
    val blocks = spark.readStream
      .schema(BlockSchema.block)
      .option("maxFilesPerTrigger", 1)
      .json(blocksDir)
    val upsert = graft.operators.Registry.snapshotUpserter(
      registryPath, Seq("pool_address"), "blockTime")
    blocks.writeStream
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, id: Long) =>
        // detect → resolve (pluggable; REST in the reference, stub here)
        // → upsert the 5-field payload keyed on pool_address
        upsert(resolver(Rugpull.detectPools(batch, programs)), id)
      }
      .start()
  }

  /** Streaming exact dedup with bounded state: duplicates of the same
    * keys arriving within the watermark horizon are dropped; state for
    * old keys is evicted once the watermark passes — the property that
    * lets exact dedup run forever on an unbounded stream. */
  def streamingDedup(df: DataFrame, keyCols: Seq[String], tsCol: String,
                     watermark: String): DataFrame =
    df.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Streaming INGESTION ADMISSION screen: each micro-batch of incoming
    * documents is near-dup-screened against a STATIC existing corpus
    * before being admitted — the streaming form of
    * [[graft.operators.Dedup.crossCorpusPairsFromSets]]. Per batch, the
    * batch's shingle sets join the corpus sets through the shared
    * rare-shingle candidate generation, exact Jaccard verifies, and
    * `onBatch` receives (new_id, corpus_id, jaccard) rows ≥ `threshold`
    * — the reject list for that batch.
    *
    * `corpusSets` is a caller-prepared
    * [[graft.operators.Dedup.hashedShingleSets]] table (same
    * `shingleWords` as this call) whose cache lifecycle is the CALLER's —
    * persist it before starting the query and unpersist after stopping
    * (the no-operator-internal-cache policy; an internal persist would
    * outlive the returned StreamingQuery and leak across calls). Hard
    * contract inherited from [[graft.operators.Dedup
    * .crossCorpusPairsFromSets]]: batch ids and corpus ids must be
    * DISJOINT — a shared id makes jaccardFromSets' id joins fan out over
    * the union and emit duplicated/wrong rows. Prefix or offset one
    * side's ids if the two number independently.
    *
    * Per-batch cost: shingling is proportional to the BATCH, but the
    * rare-shingle df aggregation runs over batch ∪ corpus, so every
    * micro-batch re-aggregates the corpus sets (from cache when
    * persisted) — O(|batch| + |corpus|) per batch. That union-wide df is
    * what makes a shingle common in the corpus non-discriminative even
    * when rare in the batch. At cluster scale the corpus sets table
    * lives bucketed on disk and the df side becomes a pre-aggregated
    * (shingle, df, capped-ids) table maintained incrementally. */
  def admissionScreen(docs: DataFrame, corpusSets: DataFrame,
                      textCol: String,
                      idCol: String, shingleWords: Int = 3,
                      maxDf: Int = 10, threshold: Double = 0.5)
                     (onBatch: (DataFrame, Long) => Unit)
      : StreamingQuery = {
    import graft.operators.Dedup
    docs.writeStream
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val batchSets = Dedup.hashedShingleSets(batch, textCol, idCol,
          shingleWords)
        val pairs = Dedup.crossCorpusPairsFromSets(batchSets, corpusSets,
          maxDf)
        val hits = Dedup.jaccardFromSets(
            batchSets.unionByName(corpusSets),
            pairs.select(col("new_id").as("id_a"),
              col("corpus_id").as("id_b")))
          .filter(col("jaccard") >= threshold)
          .select(col("id_a").as("new_id"), col("id_b").as("corpus_id"),
            col("jaccard"))
        onBatch(hits, id)
      }
      .start()
  }

  /** Balance observation for the streaming drain monitor. */
  case class BalanceEvent(key: String, ts: Long, balance: Double)

  /** Drain alert: `peak` is the highest balance seen for the key when
    * the collapse was detected, `current` the observation that tripped
    * the threshold. */
  case class DrainAlert(key: String, ts: Long, peak: Double,
                        current: Double, drop_frac: Double)

  /** STREAMING drain monitor — the real-time form of q84 (and of the
    * reference's whole purpose): track each key's PEAK balance and
    * alert the first time an observation drops ≥ `threshold` below it.
    * State per key is (peak, alerted) — two values forever, however
    * long the stream. Alert-at-most-once per drawdown: the flag
    * re-arms only after the balance recovers above the threshold line,
    * so a pool oscillating around the line doesn't spam (the
    * change-suppression idea, O35, applied to the alerting layer). */
  def drainAlerts(events: Dataset[BalanceEvent], threshold: Double)
      : Dataset[DrainAlert] = {
    require(threshold > 0 && threshold < 1, "threshold in (0,1)")
    import events.sparkSession.implicits._
    events.groupByKey(_.key)
      .flatMapGroupsWithState[(Double, Boolean), DrainAlert](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key, rows, state: GroupState[(Double, Boolean)]) =>
          var (peak, alerted) = state.getOption.getOrElse((0.0, false))
          val out = scala.collection.mutable.ArrayBuffer[DrainAlert]()
          // (ts, balance) secondary sort: two observations sharing a
          // timestamp would otherwise fold in arrival order, making the
          // emitted peak/current/drop_frac nondeterministic across runs
          // (funnelStages' (ts, event_type) tiebreak, applied here)
          rows.toSeq.sortBy(e => (e.ts, e.balance)).foreach { e =>
            if (e.balance > peak) peak = e.balance
            val drop = if (peak > 0) (peak - e.balance) / peak else 0.0
            if (drop >= threshold) {
              if (!alerted) {
                // half-up, matching q84's Fns.roundU convention (rint
                // rounds half-to-even and would disagree with the batch
                // twin on exact .00005 boundaries)
                out += DrainAlert(key, e.ts, peak, e.balance,
                  math.floor(drop * 10000 + 0.5) / 10000)
                alerted = true
              }
            } else alerted = false
          }
          state.update((peak, alerted))
          out.iterator
      }
  }

  /** Inventory ledger input event (shape of q196's batch input). */
  case class LedgerEvent(key: String, ts: Long, delta: Long)

  /** Per-key ledger state: the five running scalars of q196. */
  case class LedgerState(key: String, n_events: Long, balance: Long,
                         max_balance: Long, n_stockouts: Long,
                         lost_units: Long)

  /** STREAMING clamped-balance ledger — the incremental twin of batch
    * q196. Sequentially the recurrence b' = max(0, b + δ) is trivial
    * (per-key state is five scalars, independent of stream length);
    * the batch twin computes the SAME function via the prefix-sum /
    * running-min identity b_t = S_t − min(0, min_{k≤t} S_k), with
    * total lost units = −min(0, min S) = the sum of per-event
    * shortfalls this fold accumulates. StreamsSpec pins stream/batch
    * equality on a shared event log — a machine-checked proof of the
    * identity itself, not just of this applier. Same-timestamp events
    * fold in (ts, delta) order (the drainAlerts tiebreak), so emitted
    * state is deterministic across runs; cross-batch order follows
    * the usual nondecreasing-event-time streaming contract. */
  def ledgerMonitor(events: Dataset[LedgerEvent]): Dataset[LedgerState] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.key)
      .mapGroupsWithState[LedgerState, LedgerState](
        GroupStateTimeout.NoTimeout()) {
        (key, rows, state: GroupState[LedgerState]) =>
          var s = state.getOption.getOrElse(
            LedgerState(key, 0L, 0L, 0L, 0L, 0L))
          rows.toSeq.sortBy(e => (e.ts, e.delta)).foreach { e =>
            val raw = s.balance + e.delta
            val bal = math.max(0L, raw)
            s = LedgerState(key, s.n_events + 1, bal,
              math.max(s.max_balance, bal),
              s.n_stockouts + (if (bal == 0L && e.delta < 0L) 1L else 0L),
              s.lost_units + (if (raw < 0L) -raw else 0L))
          }
          state.update(s)
          s
      }
  }

  /** Debounce input event (shape of q224's batch input). */
  case class StampedEvent(key: Long, ts: Long, id: Long)

  /** A debounce decision: was this event kept? */
  case class DebounceDecision(key: Long, ts: Long, id: Long,
                              kept: Boolean)

  /** STREAMING debounce — the incremental twin of batch
    * [[graft.operators.Sessionize.debounce]]: keep an event iff ≥
    * `minGapSec` after the last KEPT event of its key. Per-key state
    * is ONE scalar (the last kept timestamp) regardless of stream
    * length; within a batch events fold in (ts, id) order so the
    * decision sequence is deterministic under whatever order the
    * shuffle delivers, and cross-batch continuity follows the usual
    * nondecreasing-event-time contract. StreamsSpec pins
    * stream/batch parity on a shared log split across batches — the
    * chain-dependence (an event's fate depends on which EARLIER
    * events were kept, possibly in a previous batch) is exactly what
    * the parity check exercises. */
  def debounceStream(events: Dataset[StampedEvent], minGapSec: Long)
      : Dataset[DebounceDecision] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.key)
      .flatMapGroupsWithState[Long, DebounceDecision](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key, rows, state: GroupState[Long]) =>
          var last = state.getOption.getOrElse(Long.MinValue)
          val out = rows.toSeq.sortBy(e => (e.ts, e.id)).map { e =>
            val kept = last == Long.MinValue || e.ts - last >= minGapSec
            if (kept) last = e.ts
            DebounceDecision(key, e.ts, e.id, kept)
          }
          state.update(last)
          out.iterator
      }
  }

  /** Funnel input event (micro timestamp; shape of q82's batch input). */
  case class FunnelEvent(user_id: Long, event_type: String, ts: Long)

  /** Per-user funnel position: the timestamps of the first view, the
    * first later click and the first later purchase; -1 = not reached.
    * `stage` is the number of completed steps (0-3). */
  case class FunnelStage(user_id: Long, stage: Int, vt: Long, ct: Long,
                         pt: Long)

  /** STREAMING conversion funnel — the incremental twin of batch q82
    * (first view → first later click → first later purchase, strictly
    * increasing event time). Per-user state is exactly three
    * timestamps, independent of stream length; each micro-batch folds
    * its rows in (ts, event_type) order and emits the user's updated
    * stage. Matches the batch query whenever a user's events arrive in
    * nondecreasing event-time order across batches (the standard
    * streaming-funnel contract: a late-arriving EARLIER view could
    * have admitted an earlier click in the batch form — late data
    * needs the batch recompute, not more state). */
  def funnelStages(events: Dataset[FunnelEvent]): Dataset[FunnelStage] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState[(Long, Long, Long), FunnelStage](
        GroupStateTimeout.NoTimeout()) {
        (user, rows, state: GroupState[(Long, Long, Long)]) =>
          var (vt, ct, pt) = state.getOption.getOrElse((-1L, -1L, -1L))
          // deterministic fold: event-time order, type as tiebreak —
          // a view and click sharing a timestamp can never chain
          // (strict > below), matching the batch form
          rows.toSeq.sortBy(e => (e.ts, e.event_type)).foreach { e =>
            e.event_type match {
              case "view" if vt < 0 => vt = e.ts
              case "click" if vt >= 0 && ct < 0 && e.ts > vt => ct = e.ts
              case "purchase" if ct >= 0 && pt < 0 && e.ts > ct =>
                pt = e.ts
              case _ => ()
            }
          }
          state.update((vt, ct, pt))
          val stage = Seq(vt, ct, pt).count(_ >= 0)
          FunnelStage(user, stage, vt, ct, pt)
      }
  }

  case class ActivityEvent(user_id: Long, qi: Int)

  case class LifecycleTransition(user_id: Long, qi: Int, status: String)

  /** STREAMING customer-lifecycle ledger — the incremental twin of
    * batch q185's new/retained/resurrected classification: per user,
    * the first active quarter emits `new`, a quarter directly after
    * the last active one emits `retained`, a later gap-jumping
    * quarter emits `resurrected`. State is two ints per user forever
    * (first and last active quarter). Each micro-batch folds its
    * rows in quarter order; repeat observations of an
    * already-counted quarter emit nothing, so replays are idempotent
    * per quarter. Matches the batch query whenever a user's quarters
    * arrive in nondecreasing order across batches (the funnelStages
    * contract); a quarter arriving BELOW the stored first breaks that
    * contract and emits a loud `contract_violation` row rather than
    * being silently absorbed as a replay. CHURN is inherently an absence signal — noticing it
    * requires a clock, not an event — and stays with the batch form
    * by design. */
  def lifecycleTransitions(events: Dataset[ActivityEvent])
      : Dataset[LifecycleTransition] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[(Int, Int), LifecycleTransition](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user, rows, state: GroupState[(Int, Int)]) =>
          var (first, last) = state.getOption.getOrElse((-1, -1))
          val out =
            scala.collection.mutable.ArrayBuffer[LifecycleTransition]()
          rows.toSeq.map(_.qi).distinct.sorted.foreach { qi =>
            if (first < 0) {
              first = qi; last = qi
              out += LifecycleTransition(user, qi, "new")
            } else if (qi > last) {
              out += LifecycleTransition(user, qi,
                if (qi == last + 1) "retained" else "resurrected")
              last = qi
            } else if (qi < first) {
              // a quarter BELOW the stored first violates the
              // documented nondecreasing-arrival contract (the user's
              // true "new" quarter was misclassified). Silently
              // classifying it as a replay would hide the parity
              // break — emit a loud marker row instead so the
              // violation is observable downstream; `first` is not
              // rewritten (Append mode can't retract the earlier
              // "new" row)
              out += LifecycleTransition(user, qi, "contract_violation")
            } // first <= qi <= last: replay — nothing to emit
          }
          state.update((first, last))
          out.iterator
      }
  }

  /** Watermarked stream–stream interval join: each left event pairs with
    * right events of the same key whose event time is within
    * [leftTs - lookback, leftTs]. Both sides need watermarks so the
    * engine can bound join state — the scale property that matters with
    * unbounded streams. Columns: left(key, lts, ...), right(key, rts,
    * ...); caller ensures distinct names apart from the key. */
  def intervalJoin(left: DataFrame, right: DataFrame, keyCol: String,
                   leftTs: String, rightTs: String, lookback: String,
                   watermark: String): DataFrame = {
    val l = left.withWatermark(leftTs, watermark)
    val r = right.withWatermark(rightTs, watermark)
      .withColumnRenamed(keyCol, s"__r_$keyCol")
    l.join(r, expr(
      s"""$keyCol = __r_$keyCol AND
         |$rightTs >= $leftTs - INTERVAL $lookback AND
         |$rightTs <= $leftTs""".stripMargin))
      .drop(s"__r_$keyCol")
  }

  /** Keyed row for [[kmvDistinctStream]]. */
  case class KeyedId(group: String, id: Long)

  /** Per-batch KMV readout: the running distinct estimate after this
    * micro-batch (`n_mins` = current sketch fill, < k until the group
    * has seen k distinct hashes; `n_seen` = cumulative input rows, the
    * strictly-monotonic batch cursor that identifies the latest
    * readout). */
  case class KmvUpdate(group: String, n_seen: Long, n_mins: Int,
                       estimate: Double)

  /** STREAMING KMV distinct-count — the incremental twin of batch q250:
    * per-group state is the k smallest universal-hash values seen so
    * far (k longs, BOUNDED regardless of stream length — the whole
    * point of the sketch as stream state), updated per micro-batch by
    * the same merge the batch side's set algebra uses (q253): k-min of
    * union. Same hash constants as q250, so after any batch split the
    * final estimate equals the batch query's — KMV merge is
    * associative and order-insensitive, which the parity spec checks
    * by re-feeding the same rows in different splits. */
  def kmvDistinctStream(rows: Dataset[KeyedId], k: Int)
      : Dataset[KmvUpdate] = {
    import rows.sparkSession.implicits._
    val (a, b, p) = (1000003L, 12345L, 2147483647L)
    rows.groupByKey(_.group)
      .flatMapGroupsWithState[(Array[Long], Long), KmvUpdate](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (g, it, state: GroupState[(Array[Long], Long)]) =>
          val (cur, seen) = state.getOption
            .getOrElse((Array.empty[Long], 0L))
          var n = 0L
          val merged = (cur.toSet ++
            it.map { r => n += 1; (r.id * a + b) % p })
            .toArray.sorted.take(k)
          state.update((merged, seen + n))
          val est =
            if (merged.length < k) merged.length.toDouble
            else ((k - 1).toLong * p).toDouble / merged(k - 1)
          Iterator(KmvUpdate(g, seen + n, merged.length, est))
      }
  }

  /** Keyed cents row for [[logHistStream]]. */
  case class CentsRow(group: String, cents: Long)

  /** Per-batch sketch readout: running n, bucket fill, and the three
    * quantile estimates (bucket lower bounds, cents). `n_seen` is the
    * monotone batch cursor identifying the latest readout. */
  case class HistQuantiles(group: String, n_seen: Long, n_buckets: Int,
                           p50_cents: Long, p90_cents: Long,
                           p99_cents: Long)

  /** STREAMING log-linear quantile sketch — the incremental twin of
    * batch q260 ([[graft.operators.Percentiles.logHistSketch]]):
    * per-group state is the bucket→count map of the SAME integer
    * decade ladder, so state is bounded by the bucket space (≤ ~90
    * per decade), never by stream length — and because the sketch
    * merges by summing counts, the readout after any micro-batch
    * split equals the one-shot batch readout exactly (the parity
    * property StreamsSpec pins against the batch operator itself).
    * Quantiles are read per batch by the same ceil-rank walk. */
  def logHistStream(rows: Dataset[CentsRow]): Dataset[HistQuantiles] = {
    import rows.sparkSession.implicits._
    // plain-Scala mirror of Percentiles.logBucket / logBucketLow —
    // spec-pinned equal to the Column ladder via the batch parity
    def bucket(c: Long): Long =
      if (c >= 10000000L) 8000L + c / 1000000L
      else if (c >= 1000000L) 7000L + c / 100000L
      else if (c >= 100000L) 6000L + c / 10000L
      else if (c >= 10000L) 5000L + c / 1000L
      else if (c >= 1000L) 4000L + c / 100L
      else if (c >= 100L) 3000L + c / 10L
      else if (c >= 10L) 2000L + c
      else 1000L + c
    def low(b: Long): Long = {
      val sub = b % 1000L
      (b / 1000L) match {
        case 8 => sub * 1000000L; case 7 => sub * 100000L
        case 6 => sub * 10000L;   case 5 => sub * 1000L
        case 4 => sub * 100L;     case 3 => sub * 10L
        case _ => sub
      }
    }
    rows.groupByKey(_.group)
      .flatMapGroupsWithState[Map[Long, Long], HistQuantiles](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (g, it, state: GroupState[Map[Long, Long]]) =>
          var m = state.getOption.getOrElse(Map.empty[Long, Long])
          it.foreach { r =>
            val b = bucket(r.cents)
            m = m.updated(b, m.getOrElse(b, 0L) + 1L)
          }
          state.update(m)
          val n = m.valuesIterator.sum
          val sorted = m.toArray.sortBy(_._1)
          def q(p: Int): Long = {
            val t = (n * p + 99L) / 100L
            var cum = 0L; var res = 0L; var i = 0
            while (i < sorted.length && cum < t) {
              cum += sorted(i)._2; res = low(sorted(i)._1); i += 1
            }
            res
          }
          Iterator(HistQuantiles(g, n, m.size, q(50), q(90), q(99)))
      }
  }

  /** Keyed timestamped event for [[rateLimitStream]]. */
  case class KeyedTs(key: Long, ts: Long, id: Long)

  /** Per-event throttling decision. */
  case class RateDecision(key: Long, ts: Long, id: Long,
                          allowed: Boolean)

  /** STREAMING token-bucket rate limiter — the live twin of batch
    * q275 ([[graft.operators.Sessionize.rateLimit]]): per-key state
    * is exactly the scan's two longs (milli-tokens, last event time)
    * plus an initialized flag, so a restart resumes mid-stream with
    * no history. Events inside a micro-batch are ordered (ts, id)
    * before replay (a batch's group buffers once — bounded by batch
    * size, not stream length); ACROSS batches the usual
    * nondecreasing-event-time contract applies, under which the
    * decisions equal the batch scan's on any split — StreamsSpec
    * pins that parity against the batch operator itself. */
  def rateLimitStream(rows: Dataset[KeyedTs], capMilli: Long,
                      costMilli: Long, refillNumer: Long,
                      refillDenom: Long): Dataset[RateDecision] = {
    import rows.sparkSession.implicits._
    rows.groupByKey(_.key)
      .flatMapGroupsWithState[(Long, Long, Boolean), RateDecision](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (k, it, state: GroupState[(Long, Long, Boolean)]) =>
          var (tok, lt, init) = state.getOption
            .getOrElse((capMilli, 0L, false))
          val out = it.toArray.sortBy(e => (e.ts, e.id)).map { e =>
            if (!init) { init = true; lt = e.ts }
            tok = math.min(capMilli,
              tok + (e.ts - lt) * refillNumer / refillDenom)
            lt = e.ts
            val ok = tok >= costMilli
            if (ok) tok -= costMilli
            RateDecision(k, e.ts, e.id, ok)
          }
          state.update((tok, lt, init))
          out.iterator
      }
  }

  /** Keyed (ts, value) observation for [[wilderStream]]. */
  case class KeyedVal(key: String, ts: Long, v: Long)

  /** Per-observation Wilder smoothing snapshot. */
  case class WilderState(key: String, ts: Long, v: Long,
                         avg_gain: Long, avg_loss: Long,
                         rsi_ppm: Option[Long])

  /** STREAMING Wilder smoothing / RSI — the live twin of batch q282
    * ([[graft.operators.Sessionize.wilderSmooth]]): per-key state is
    * exactly the scan's three longs (prev value, AG, AL) plus an
    * initialized flag, so a restart resumes mid-series with no
    * history. A micro-batch's group is ordered by ts before replay
    * (buffering bounded by batch size); ACROSS batches the usual
    * nondecreasing-event-time contract applies, under which the
    * emitted states equal the batch scan's on any split —
    * StreamsSpec pins that parity against the batch operator. */
  def wilderStream(rows: Dataset[KeyedVal], n: Int)
      : Dataset[WilderState] = {
    require(n >= 2, "smoothing period >= 2")
    import rows.sparkSession.implicits._
    rows.groupByKey(_.key)
      .flatMapGroupsWithState[(Long, Long, Long, Boolean), WilderState](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (k, it, state: GroupState[(Long, Long, Long, Boolean)]) =>
          var (prev, ag, al, init) = state.getOption
            .getOrElse((0L, 0L, 0L, false))
          val out = it.toArray.sortBy(_.ts).map { e =>
            if (init) {
              ag = (ag * (n - 1) + math.max(e.v - prev, 0L)) / n
              al = (al * (n - 1) + math.max(prev - e.v, 0L)) / n
            }
            prev = e.v; init = true
            val rsi = if (ag + al > 0) Some(1000000L * ag / (ag + al))
              else None
            WilderState(k, e.ts, e.v, ag, al, rsi)
          }
          state.update((prev, ag, al, init))
          out.iterator
      }
  }
}
