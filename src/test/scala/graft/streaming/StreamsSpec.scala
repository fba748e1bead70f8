package graft.streaming

import java.nio.file.{Files, Path => JPath}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException

import graft.SparkSpec

class StreamsSpec extends SparkSpec {
  import spark.implicits._
  import Streams.PriceEvent

  /** Atomic drop into a stream-watched directory: write outside, then
    * ATOMIC_MOVE in. A plain Files.writeString races the running
    * FileStreamSource, which can list-and-ingest a half-written file
    * (and never re-read it) — an intermittent CI failure. */
  private def dropFile(dir: java.io.File, name: String,
                       content: String): Unit = {
    val tmp = Files.createTempFile(dir.toPath.getParent, s".$name", ".tmp")
    Files.writeString(tmp, content)
    Files.move(tmp, dir.toPath.resolve(name),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  test("runningQuantiles: bounded sketch refines across micro-batches") {
    val dir = Files.createTempDirectory("graft-quant").toFile
    def write(name: String, lines: Seq[String]): Unit =
      dropFile(dir, name, lines.mkString("\n"))
    write("b1.json",
      (0 to 100).map(v => s"""{"key":"k1","value":$v.0}"""))
    val stream = spark.readStream.schema("key STRING, value DOUBLE")
      .option("maxFilesPerTrigger", 1).json(dir.getAbsolutePath)
      .as[Streams.KeyedValue]
    val q = Streams.runningQuantiles(stream, Seq(0.5, 0.9))
      .writeStream.format("memory").queryName("quant")
      .outputMode("update").start()
    try {
      q.processAllAvailable()
      val b1 = spark.table("quant").orderBy(desc("n")).collect()(0)
      assert(b1.getAs[Long]("n") === 101L)
      val est1 = b1.getAs[scala.collection.Seq[Double]]("value")
      // range [-50,150] over 64 bins → width 3.125; uniform 0..100 has
      // true p50=50, p90=90 — estimates must land within ~1.5 bins
      assert(math.abs(est1(0) - 50.0) <= 5.0)
      assert(math.abs(est1(1) - 90.0) <= 5.0)
      // batch 2: a burst of far-out-of-range values clamps into the top
      // bin USING THE FROZEN RANGE from batch 1's state
      write("b2.json",
        (1 to 100).map(_ => s"""{"key":"k1","value":2000.0}"""))
      q.processAllAvailable()
      val b2 = spark.table("quant").orderBy(desc("n")).collect()(0)
      assert(b2.getAs[Long]("n") === 201L)
      val est2 = b2.getAs[scala.collection.Seq[Double]]("value")
      // rank 101 of 201 = the top of the original uniform block (~100)
      assert(math.abs(est2(0) - 100.0) <= 5.0)
      // p90 sits in the clamp bin: reported near the frozen hi (150),
      // the documented tail bias
      assert(est2(1) > 140.0 && est2(1) <= 150.0)
    } finally q.stop()
  }

  test("runningHeavyHitters: exact when counters suffice, bounded evict") {
    val dir = Files.createTempDirectory("graft-hh").toFile
    def write(name: String, items: Seq[String]): Unit =
      dropFile(dir, name,
        items.map(i => s"""{"key":"k1","item":"$i"}""").mkString("\n"))
    write("b1.json", Seq.fill(5)("a") ++ Seq.fill(3)("b") ++ Seq("c"))
    val stream = spark.readStream.schema("key STRING, item STRING")
      .option("maxFilesPerTrigger", 1).json(dir.getAbsolutePath)
      .as[Streams.ItemEvent]
    val q = Streams.runningHeavyHitters(stream, k = 2, m = 3)
      .writeStream.format("memory").queryName("hh")
      .outputMode("update").start()
    try {
      q.processAllAvailable()
      val b1 = spark.table("hh").collect().last
      // m=3 holds all distinct items: exact counts, zero error
      assert(b1.getAs[scala.collection.Seq[String]]("items").toSeq ===
        Seq("a", "b"))
      assert(b1.getAs[scala.collection.Seq[Long]]("counts").toSeq ===
        Seq(5L, 3L))
      assert(b1.getAs[scala.collection.Seq[Long]]("errs").toSeq ===
        Seq(0L, 0L))
      // batch 2: a NEW item floods in past the full table — it must
      // evict the current minimum (c:1) and carry its count as err,
      // while the true heavy item a stays exact FROM STATE
      write("b2.json", Seq.fill(10)("d"))
      q.processAllAvailable()
      val b2 = spark.table("hh").orderBy(desc("counts")).collect()
        .maxBy(_.getAs[scala.collection.Seq[Long]]("counts").head)
      val items2 = b2.getAs[scala.collection.Seq[String]]("items").toSeq
      val counts2 = b2.getAs[scala.collection.Seq[Long]]("counts").toSeq
      assert(items2 === Seq("d", "a"))
      assert(counts2 === Seq(11L, 5L)) // d inherited c's 1 + 10 arrivals
      assert(b2.getAs[scala.collection.Seq[Long]]("errs").toSeq ===
        Seq(1L, 0L))
    } finally q.stop()
  }

  test("runningTopK: k-bounded leaderboard merges across micro-batches") {
    val dir = Files.createTempDirectory("graft-rtopk").toFile
    def write(name: String, rows: Seq[(String, Double)]): Unit =
      dropFile(dir, name, rows.map { case (id, s) =>
        s"""{"key":"k1","id":"$id","score":$s}""" }.mkString("\n"))
    write("b1.json", Seq("a" -> 5.0, "b" -> 9.0, "c" -> 1.0, "d" -> 7.0))
    val stream = spark.readStream
      .schema("key STRING, id STRING, score DOUBLE")
      .option("maxFilesPerTrigger", 1).json(dir.getAbsolutePath)
      .as[Streams.ScoredEvent]
    val q = Streams.runningTopK(stream, k = 3)
      .writeStream.format("memory").queryName("rtopk")
      .outputMode("update").start()
    try {
      q.processAllAvailable()
      val b1 = spark.table("rtopk").collect().last
      assert(b1.getAs[scala.collection.Seq[String]]("ids").toSeq ===
        Seq("b", "d", "a"))
      // batch 2: one new entrant beats the floor, one doesn't; survivors
      // come FROM STATE (b, d were not re-sent)
      write("b2.json", Seq("e" -> 8.0, "f" -> 2.0))
      q.processAllAvailable()
      val b2 = spark.table("rtopk").collect().last
      assert(b2.getAs[scala.collection.Seq[String]]("ids").toSeq ===
        Seq("b", "e", "d"))
      assert(b2.getAs[scala.collection.Seq[Double]]("scores").toSeq ===
        Seq(9.0, 8.0, 7.0))
    } finally q.stop()
  }

  test("runningTopK: batch twin equals the TopKPerKey plan (incl. NaN)") {
    // NaN scores sort GREATEST in Spark SQL ordering — the stateful form
    // must agree (Scala's default tuple sort would bury NaN last)
    val ds = ((1 to 200).map(i =>
      Streams.ScoredEvent(s"g${i % 3}", s"id$i", (i * 37 % 101).toDouble))
      ++ Seq(Streams.ScoredEvent("g0", "idnan", Double.NaN)))
      .toDS()
    val viaState = Streams.runningTopK(ds, k = 4).collect()
      .map(t => t.key -> t.ids).toMap
    val viaPlan = graft.plans.TopKPerKey(ds.toDF(), Seq("key"),
        Seq($"score".desc, $"id".asc), k = 4)
      .orderBy($"key", $"score".desc, $"id")
      .collect().groupBy(_.getString(0))
      .map { case (g, rs) => g -> rs.map(_.getString(1)).toSeq }
    assert(viaState.keySet === viaPlan.keySet)
    viaPlan.foreach { case (g, ids) => assert(viaState(g) === ids, g) }
  }

  test("streaming contamination screen: stream docs vs batch train bloom") {
    import graft.operators.Dedup
    // train corpus is batch; its Bloom filter builds once (eagerly, at
    // stream definition time) and every arriving eval doc probes it —
    // the production shape for screening a live eval/ingest feed
    val train = (1L to 30L).map(i =>
      (i, s"train doc t${i}a t${i}b t${i}c t${i}d t${i}e"))
      .toDF("doc_id", "text")
    val trainSets = Dedup.hashedShingleSets(train, "text", "doc_id", 2)
    val dir = Files.createTempDirectory("graft-contam").toFile
    dropFile(dir, "b1.json", Seq(
      """{"doc_id":100,"text":"train doc t3a t3b t3c t3d t3e"}""",
      """{"doc_id":101,"text":"completely novel words only here"}""")
      .mkString("\n"))
    val evalStream = spark.readStream
      .schema("doc_id LONG, text STRING").json(dir.getAbsolutePath)
    val evalSets = Dedup.hashedShingleSets(evalStream, "text", "doc_id", 2)
    val q = Dedup.containmentApprox(trainSets, evalSets,
        expectedItems = 1000)
      .writeStream.format("memory").queryName("contam")
      .outputMode("update").start()
    try {
      q.processAllAvailable()
      val r = spark.table("contam").collect()
        .map(x => x.getAs[Long]("id") -> x.getAs[Double]("containment"))
        .toMap
      assert(r(100L) === 1.0)
      assert(r(101L) < 0.5)
    } finally q.stop()
  }

  test("partitionedStreamSink: micro-batches append into hive layout") {
    import graft.operators.Sinks
    val dir = Files.createTempDirectory("graft-psink-in").toFile
    val out = Files.createTempDirectory("graft-psink-out").toFile
      .getAbsolutePath
    val ckpt = Files.createTempDirectory("graft-psink-ck").toFile
      .getAbsolutePath
    dropFile(dir, "b1.json", Seq(
      """{"lang":"en","doc_id":1,"body":"x"}""",
      """{"lang":"de","doc_id":2,"body":"y"}""").mkString("\n"))
    val stream = spark.readStream
      .schema("lang STRING, doc_id LONG, body STRING")
      .option("maxFilesPerTrigger", 1).json(dir.getAbsolutePath)
    val q = Sinks.partitionedStreamSink(stream, out, ckpt,
      Seq("lang"), Seq("doc_id"))
    try {
      q.processAllAvailable()
      dropFile(dir, "b2.json",
        Seq("""{"lang":"en","doc_id":3,"body":"z"}""").mkString("\n"))
      q.processAllAvailable()
      val dirs = new java.io.File(out).listFiles()
        .filter(_.isDirectory).map(_.getName).sorted
      assert(dirs.toSeq === Seq("lang=de", "lang=en"))
      val back = spark.read.parquet(out)
      assert(back.count() === 3) // batch 2 APPENDED, not overwrote
      assert(back.filter($"lang" === "en").count() === 2)
    } finally q.stop()
  }

  test("runningQuantiles: same code path runs on a batch Dataset") {
    val ds = (1 to 99).map(v => Streams.KeyedValue("k", v.toDouble)).toDS()
    val r = Streams.runningQuantiles(ds, Seq(0.5)).collect()(0)
    assert(r.n === 99L)
    assert(math.abs(r.value.head - 50.0) <= 3.0)
  }

  test("ledgerMonitor: streaming clamp fold EQUALS the batch prefix-" +
      "sum/running-min identity (q196) on a shared event log") {
    // pseudo-random ledger with guaranteed stockouts (issues outweigh
    // restocks); unique ts per key so fold order is unambiguous
    val evs = (0 until 300).map { i =>
      val key = s"p${i % 7}"
      val delta = ((i * 37) % 19) - 11L // range [-11, 7]
      Streams.LedgerEvent(key, i.toLong, delta)
    }
    // batch form: the q196 identity, verbatim
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"key").orderBy($"ts")
    val batch = evs.toDF("key", "ts", "delta")
      .withColumn("s", sum($"delta").over(w))
      .withColumn("m", min($"s").over(w))
      .withColumn("bal", $"s" - least($"m", lit(0L)))
      .groupBy($"key")
      .agg(count(lit(1)).as("n_events"),
        (sum($"delta") - least(min($"s"), lit(0L))).as("balance"),
        max($"bal").as("max_balance"),
        sum(when($"bal" === 0 && $"delta" < 0, 1L).otherwise(0L))
          .as("n_stockouts"),
        greatest(-min($"s"), lit(0L)).as("lost_units"))
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    // streaming form: two micro-batches split mid-key-history
    val dir = Files.createTempDirectory("graft-ledger").toFile
    val stream = spark.readStream
      .schema("key STRING, ts LONG, delta LONG")
      .option("maxFilesPerTrigger", 1).json(dir.getAbsolutePath)
      .as[Streams.LedgerEvent]
    val q = Streams.ledgerMonitor(stream)
      .writeStream.format("memory").queryName("ledger")
      .outputMode("update").start()
    try {
      def js(e: Streams.LedgerEvent): String =
        s"""{"key":"${e.key}","ts":${e.ts},"delta":${e.delta}}"""
      dropFile(dir, "b1.json", evs.take(150).map(js).mkString("\n"))
      q.processAllAvailable()
      dropFile(dir, "b2.json", evs.drop(150).map(js).mkString("\n"))
      q.processAllAvailable()
      val got = spark.table("ledger")
        .groupBy($"key")
        .agg(max(struct($"n_events", $"balance", $"max_balance",
          $"n_stockouts", $"lost_units")).as("s"))
        .select($"key", $"s.*").collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
      assert(got === batch,
        "stream fold and batch identity must agree per key")
      // sanity: the data actually exercised the clamp
      assert(batch.values.exists(_._5 > 0), "no stockouts — weak data")
    } finally q.stop()
  }

  test("debounceStream: decisions EQUAL batch Sessionize.debounce on " +
      "a shared log split across micro-batches mid-chain") {
    // events per key every ~170 s with jitter so some gaps straddle
    // the 300 s window; the batch split lands mid-key-history, so a
    // kept-timestamp carried across batches decides later events
    val evs = (0 until 240).map { i =>
      Streams.StampedEvent((i % 5).toLong,
        (i / 5).toLong * 170 + (i * 29) % 120, i.toLong)
    }
    val batch = graft.operators.Sessionize
      .debounce(evs.toDF("key", "ts", "id"), "key", "ts", "id", 300L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))
        -> r.getBoolean(3)).toMap
    val dir = Files.createTempDirectory("graft-debounce").toFile
    val stream = spark.readStream
      .schema("key LONG, ts LONG, id LONG")
      .option("maxFilesPerTrigger", 1).json(dir.getAbsolutePath)
      .as[Streams.StampedEvent]
    val q = Streams.debounceStream(stream, 300L)
      .writeStream.format("memory").queryName("debounce")
      .outputMode("append").start()
    try {
      def js(e: Streams.StampedEvent): String =
        s"""{"key":${e.key},"ts":${e.ts},"id":${e.id}}"""
      // sort by ts so the cross-batch split respects event time
      val ordered = evs.sortBy(e => (e.ts, e.id))
      dropFile(dir, "b1.json", ordered.take(120).map(js).mkString("\n"))
      q.processAllAvailable()
      dropFile(dir, "b2.json", ordered.drop(120).map(js).mkString("\n"))
      q.processAllAvailable()
      val got = spark.table("debounce").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))
          -> r.getBoolean(3)).toMap
      assert(got === batch,
        "stream decisions and batch scan must agree per event")
      // sanity: both keeps and drops occurred
      assert(batch.values.exists(identity) && batch.values.exists(!_))
    } finally q.stop()
  }

  test("funnelStages: per-user funnel advances across micro-batches") {
    val dir = Files.createTempDirectory("graft-funnel").toFile
    val stream = spark.readStream
      .schema("user_id LONG, event_type STRING, ts LONG")
      .option("maxFilesPerTrigger", 1).json(dir.getAbsolutePath)
      .as[Streams.FunnelEvent]
    val q = Streams.funnelStages(stream)
      .writeStream.format("memory").queryName("funnel")
      .outputMode("update").start()
    try {
      // batch 1: u1 views then clicks; u2 only views; u3's click has no
      // prior view (must not count)
      dropFile(dir, "b1.json", Seq(
        """{"user_id":1,"event_type":"view","ts":10}""",
        """{"user_id":1,"event_type":"click","ts":20}""",
        """{"user_id":2,"event_type":"view","ts":10}""",
        """{"user_id":3,"event_type":"click","ts":10}""").mkString("\n"))
      q.processAllAvailable()
      val s1 = spark.table("funnel").groupBy($"user_id")
        .agg(max($"stage").as("stage")).collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(s1 === Map(1L -> 2, 2L -> 1, 3L -> 0))
      // batch 2: u1 purchases (ts AFTER the click — converts); u2's
      // purchase without a click stays at stage 1; u3 views (stage 1,
      // its old click cannot retroactively chain)
      dropFile(dir, "b2.json", Seq(
        """{"user_id":1,"event_type":"purchase","ts":30}""",
        """{"user_id":2,"event_type":"purchase","ts":30}""",
        """{"user_id":3,"event_type":"view","ts":30}""").mkString("\n"))
      q.processAllAvailable()
      val s2 = spark.table("funnel").groupBy($"user_id")
        .agg(max($"stage").as("stage")).collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(s2 === Map(1L -> 3, 2L -> 1, 3L -> 1))
    } finally q.stop()
  }

  test("funnelStages: batch Dataset path matches the q82 aggregates") {
    // pseudo-random event log; same-ts collisions exercise the strict->
    val evs = (0 until 400).map { i =>
      val t = (i * 2654435761L) % 97
      Streams.FunnelEvent(i % 23,
        Seq("view", "click", "purchase", "error")((i / 23 + i) % 4), t)
    }
    val stages = Streams.funnelStages(evs.toDS()).collect()
    // reference semantics, computed independently: min view, min later
    // click, min later purchase per user
    val byUser = evs.groupBy(_.user_id)
    val expected = byUser.map { case (u, es) =>
      val vt = es.filter(_.event_type == "view").map(_.ts)
        .minOption.getOrElse(-1L)
      val ct = if (vt < 0) -1L
        else es.filter(e => e.event_type == "click" && e.ts > vt)
          .map(_.ts).minOption.getOrElse(-1L)
      val pt = if (ct < 0) -1L
        else es.filter(e => e.event_type == "purchase" && e.ts > ct)
          .map(_.ts).minOption.getOrElse(-1L)
      u -> ((vt, ct, pt))
    }
    assert(stages.map(s => s.user_id -> ((s.vt, s.ct, s.pt))).toMap
      === expected)
  }

  test("drainAlerts: fires once per drawdown, re-arms on recovery") {
    val dir = Files.createTempDirectory("graft-drain").toFile
    val stream = spark.readStream
      .schema("key STRING, ts LONG, balance DOUBLE")
      .option("maxFilesPerTrigger", 1).json(dir.getAbsolutePath)
      .as[Streams.BalanceEvent]
    val q = Streams.drainAlerts(stream, threshold = 0.5)
      .writeStream.format("memory").queryName("drains")
      .outputMode("append").start()
    try {
      // p1 builds a peak of 100 then collapses to 30 (70% drop, one
      // alert) and keeps falling (no second alert while down); p2 dips
      // but never crosses 50%
      dropFile(dir, "b1.json", Seq(
        """{"key":"p1","ts":1,"balance":100.0}""",
        """{"key":"p1","ts":2,"balance":30.0}""",
        """{"key":"p1","ts":3,"balance":10.0}""",
        """{"key":"p2","ts":1,"balance":80.0}""",
        """{"key":"p2","ts":2,"balance":45.0}""").mkString("\n"))
      q.processAllAvailable()
      val a1 = spark.table("drains").collect()
      assert(a1.length === 1, a1.mkString(";"))
      assert(a1(0).getAs[String]("key") === "p1")
      assert(a1(0).getAs[Double]("current") === 30.0)
      assert(a1(0).getAs[Double]("drop_frac") === 0.7)
      // batch 2: p1 recovers above the line (re-arms), then collapses
      // again → exactly one more alert
      dropFile(dir, "b2.json", Seq(
        """{"key":"p1","ts":4,"balance":90.0}""",
        """{"key":"p1","ts":5,"balance":20.0}""").mkString("\n"))
      q.processAllAvailable()
      val a2 = spark.table("drains").orderBy($"ts").collect()
      assert(a2.length === 2, a2.mkString(";"))
      assert(a2(1).getAs[Long]("ts") === 5L)
      assert(a2(1).getAs[Double]("peak") === 100.0)
    } finally q.stop()
  }

  test("lifecycleTransitions: new/retained/resurrected across " +
      "micro-batches; replays emit nothing") {
    val dir = Files.createTempDirectory("graft-lifecycle").toFile
    val stream = spark.readStream
      .schema("user_id LONG, qi INT")
      .option("maxFilesPerTrigger", 1).json(dir.getAbsolutePath)
      .as[Streams.ActivityEvent]
    val q = Streams.lifecycleTransitions(stream)
      .writeStream.format("memory").queryName("lifecycle")
      .outputMode("append").start()
    try {
      // batch 1: u1 active q1+q2 (new, retained — in-batch fold);
      // u2 active q1 only; duplicate q1 row for u1 collapses
      dropFile(dir, "b1.json", Seq(
        """{"user_id":1,"qi":1}""",
        """{"user_id":1,"qi":1}""",
        """{"user_id":1,"qi":2}""",
        """{"user_id":2,"qi":1}""").mkString("\n"))
      q.processAllAvailable()
      val s1 = spark.table("lifecycle").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
      assert(s1 === Set((1L, 1, "new"), (1L, 2, "retained"),
        (2L, 1, "new")))
      // batch 2: u1 jumps q2→q4 (resurrected); u2 replays q1 (no
      // emission) AND arrives at q0 BELOW its stored first — the
      // nondecreasing contract is broken and must surface loudly,
      // not be silently absorbed as a replay; u3 appears (new)
      dropFile(dir, "b2.json", Seq(
        """{"user_id":1,"qi":4}""",
        """{"user_id":2,"qi":1}""",
        """{"user_id":2,"qi":0}""",
        """{"user_id":3,"qi":4}""").mkString("\n"))
      q.processAllAvailable()
      val s2 = spark.table("lifecycle").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
      assert(s2 === s1 ++ Set((1L, 4, "resurrected"), (3L, 4, "new"),
        (2L, 0, "contract_violation")))
    } finally q.stop()
  }

  test("lifecycleTransitions: batch Dataset path matches q185's " +
      "classification on a pseudo-random activity log") {
    // same activity-table shape as q185 (distinct (user, quarter)),
    // replayed through the fold in one batch — every (user, quarter)
    // must classify exactly as the batch set algebra does
    val acts = (0 until 600).map { i =>
      Streams.ActivityEvent(i % 37, ((i * 2654435761L) % 12).toInt)
    }
    val got = Streams.lifecycleTransitions(acts.toDS()).collect()
      .map(t => (t.user_id, t.qi) -> t.status).toMap
    val expected = acts.groupBy(_.user_id).flatMap { case (u, es) =>
      val qs = es.map(_.qi).distinct.sorted
      qs.zipWithIndex.map { case (qi, i) =>
        (u, qi) -> (if (i == 0) "new"
          else if (qi == qs(i - 1) + 1) "retained" else "resurrected")
      }
    }
    assert(got === expected)
  }

  test("priceBars: watermark finalizes OHLC bars in append mode") {
    val dir = Files.createTempDirectory("graft-bars").toFile
    val stream = spark.readStream
      .schema("pair STRING, id LONG, ts TIMESTAMP, value DOUBLE")
      .option("maxFilesPerTrigger", 1).json(dir.getAbsolutePath)
    val q = Streams.priceBars(stream, "ts", "pair", "id", "value",
        bar = "1 hour", watermark = "10 minutes")
      .writeStream.format("memory").queryName("bars")
      .outputMode("append").start()
    try {
      // hour-1 trades arrive out of price order: open must be the
      // EARLIEST trade (3.0), close the latest (2.0) — not min/max
      dropFile(dir, "b1.json", Seq(
        """{"pair":"p1","id":1,"ts":"2024-01-01T10:05:00Z","value":3.0}""",
        """{"pair":"p1","id":2,"ts":"2024-01-01T10:20:00Z","value":9.0}""",
        """{"pair":"p1","id":3,"ts":"2024-01-01T10:40:00Z","value":1.0}""",
        """{"pair":"p1","id":4,"ts":"2024-01-01T10:55:00Z","value":2.0}""")
        .mkString("\n"))
      q.processAllAvailable()
      assert(spark.table("bars").count() === 0, "bar emitted before close")
      // an hour-12 trade advances the watermark far past hour 10's close
      dropFile(dir, "b2.json",
        """{"pair":"p1","id":5,"ts":"2024-01-01T12:30:00Z","value":5.0}""")
      q.processAllAvailable()
      val rows = spark.table("bars").collect()
      assert(rows.length === 1, rows.mkString(";"))
      val r = rows(0)
      assert(r.getAs[Double]("open") === 3.0)
      assert(r.getAs[Double]("high") === 9.0)
      assert(r.getAs[Double]("low") === 1.0)
      assert(r.getAs[Double]("close") === 2.0)
      assert(r.getAs[Long]("n_trades") === 4L)
    } finally q.stop()
  }

  test("suppressPrices: batch Dataset, >10% moves only") {
    val events = Seq(
      PriceEvent("p1", 1, 100.0, 1.0),
      PriceEvent("p1", 2, 104.0, 1.0),  // suppressed
      PriceEvent("p1", 3, 115.0, 1.0),  // base moved 15% vs 100
      PriceEvent("p1", 4, 115.0, 1.2),  // quote moved 20% vs 1.0
      PriceEvent("p2", 1, 5.0, 2.0)     // first for p2
    ).toDS()
    val out = Streams.suppressPrices(events, 0.1)
      .collect().map(e => (e.pair, e.ts)).toSet
    assert(out === Set(("p1", 1L), ("p1", 3L), ("p1", 4L), ("p2", 1L)))
  }

  test("suppressPrices: streaming carries state across micro-batches") {
    val dir = Files.createTempDirectory("graft-prices").toFile
    def write(name: String, lines: Seq[String]): Unit =
      dropFile(dir, name, lines.mkString("\n"))
    // batch 1: first event emits; batch 2: small move must be suppressed
    // USING STATE FROM batch 1 (this is what the lag-window form can't do
    // across batches).
    write("b1.json", Seq("""{"pair":"p1","ts":1,"basePrice":100.0,"quotePrice":1.0}"""))
    val schema = "pair STRING, ts LONG, basePrice DOUBLE, quotePrice DOUBLE"
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(dir.getAbsolutePath)
      .as[PriceEvent]
    val q = Streams.suppressPrices(stream, 0.1)
      .writeStream.format("memory").queryName("suppressed")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      write("b2.json", Seq(
        """{"pair":"p1","ts":2,"basePrice":104.0,"quotePrice":1.0}""",
        """{"pair":"p1","ts":3,"basePrice":120.0,"quotePrice":1.0}"""))
      q.processAllAvailable()
      val rows = spark.table("suppressed").orderBy("ts")
        .collect().map(_.getAs[Long]("ts"))
      assert(rows.toSeq === Seq(1L, 3L)) // ts=2 suppressed via state
    } finally q.stop()
  }

  test("FLAGSHIP PARITY: tokenFlowsStream over multi-batch out-of-order " +
      "block files equals batch Rugpull.tokenFlows row for row") {
    import graft.domain.Rugpull
    val dir = Files.createTempDirectory("graft-flagship-parity").toFile
    def qt(s: String) = "\"" + s + "\""
    def bal(idx: Int, mint: String, owner: String,
            amt: Option[String]): String = {
      val ui = amt.map(a => s""","uiTokenAmount":{"uiAmountString":"$a"}""")
        .getOrElse("")
      s"""{"accountIndex":$idx,"mint":"$mint","owner":"$owner"$ui}"""
    }
    def tx(keys: Seq[String], writable: Seq[String], readonly: Seq[String],
           pre: String, post: String): String =
      s"""{"transaction":{"message":{"accountKeys":[${keys.map(qt).mkString(",")}]}},
         |"meta":{"loadedAddresses":{"writable":[${writable.map(qt).mkString(",")}],
         |"readonly":[${readonly.map(qt).mkString(",")}]},
         |"preTokenBalances":$pre,"postTokenBalances":$post,
         |"logMessages":[]}}""".stripMargin.replaceAll("\n", "")
    def blk(bt: Long, txs: Seq[String]): String =
      s"""{"result":{"blockTime":$bt,"transactions":[${txs.mkString(",")}]}}"""
    // three files = three micro-batches (maxFilesPerTrigger=1), with
    // blockTimes DELIBERATELY out of arrival order (newest name-first,
    // oldest last) — the flagship is stateless per block, so arrival
    // order must not matter, and the union over batches must equal the
    // one-shot batch run over the same directory. Cases per FIXTURES.md
    // §1: hot in readonly/writable/accountKeys, non-hot filtered,
    // pre-only / post-only / both, dup (owner, mint) LWW, missing
    // uiAmountString ⇒ NULL, positional owner override.
    dropFile(dir, "a.json", blk(1700000050L, Seq(
      tx(Seq("X1"), Nil, Seq("VAULT_A"), // hot only in readonly; pre-only
        s"[${bal(0, "MINT_B", "W1", Some("10"))}]", "[]"),
      tx(Seq("COLD1", "COLD2"), Nil, Nil, // not hot — filtered
        s"[${bal(0, "MINT_B", "W9", Some("1"))}]", "[]"))))
    dropFile(dir, "b.json", blk(1700000010L, Seq(
      tx(Seq("X2"), Seq("VAULT_Q"), Nil, // hot in writable; post-only
        "[]", s"[${bal(0, "MINT_Q", "W2", Some("7"))}]"),
      tx(Seq("VAULT_A", "X3"), Nil, Nil, // hot in accountKeys; missing
        // pre uiTokenAmount ⇒ NULL pre; dup (owner, mint) in post —
        // LAST wins (42)
        s"[${bal(1, "MINT_B", "W3", None)}]",
        s"[${bal(1, "MINT_B", "W3", Some("41"))},${
          bal(1, "MINT_B", "W3", Some("42"))}]"))))
    dropFile(dir, "c.json", blk(1700000005L, Seq( // LATE oldest block
      tx(Seq("X4", "VAULT_A"), Nil, Seq("VAULT_A"), // positional
        // override: accountIndex 1 = VAULT_A, owner says OTHER
        "[]", s"[${bal(1, "MINT_B", "OTHER", Some("99"))}]"))))
    val hot = Seq("VAULT_A", "VAULT_Q").toDF("addr")
    val watchlists = Seq(
      ("BASE_VAULTS", "VAULT_A"), ("QUOTE_VAULTS", "VAULT_Q"),
      ("BASE_MINTS", "MINT_B"), ("QUOTE_MINTS", "MINT_Q"))
      .toDF("kind", "addr")
    val prices = Seq(("VAULT_A", "base", 1.25), ("VAULT_Q", "quote", 0.5))
      .toDF("vault", "side", "price_usd")
    var batches = Vector.empty[Array[org.apache.spark.sql.Row]]
    val q = Streams.tokenFlowsStream(spark, dir.getAbsolutePath,
      hot, watchlists, prices) { (df: DataFrame, _: Long) =>
      batches :+= df.collect()
    }
    q.awaitTermination(120000)
    assert(batches.size === 3) // genuinely multi-batch
    val streamed = batches.flatten.map(_.toString).sorted.toSeq
    val batch = Rugpull.tokenFlows(
        Rugpull.parseBlocks(spark, dir.getAbsolutePath),
        hot, watchlists, prices)
      .collect().map(_.toString).sorted.toSeq
    assert(streamed.nonEmpty && streamed === batch)
    // spot-check the hard cases landed (not just an empty == empty)
    val all = batches.flatten
    val w3 = all.filter(_.getAs[String]("wallet") == "W3")
    assert(w3.length === 1 &&
      w3(0).getAs[String]("post_balance") === "42" && // LWW
      w3(0).getAs[String]("pre_balance") == null) // missing amt ⇒ NULL
    val w2 = all.filter(_.getAs[String]("wallet") == "W2")
    assert(w2.length === 1 &&
      w2(0).getAs[String]("post_balance") === "7" &&
      w2(0).getAs[String]("pre_balance") == null) // post-only
    val pos = all.filter(_.getAs[String]("signature") == "1700000005-0-1")
    assert(pos.length === 1 &&
      pos(0).getAs[String]("wallet") === "VAULT_A") // positional override
    assert(!all.exists(_.getAs[String]("wallet") == "W9")) // semi-join
  }

  test("watermark bounds late blocks: within-delay late data lands in " +
      "its window, beyond-watermark late data is dropped") {
    import graft.domain.BlockSchema
    val dir = Files.createTempDirectory("graft-late-blocks").toFile
    def blk(bt: Long, nTx: Int): String =
      s"""{"result":{"blockTime":$bt,"transactions":[${
        List.fill(nTx)("{}").mkString(",")}]}}"""
    val stream = spark.readStream.schema(BlockSchema.block)
      .option("maxFilesPerTrigger", 1).json(dir.getAbsolutePath)
    val events = stream.select(
      to_timestamp(from_unixtime(col("result.blockTime"))).as("ts"),
      lit("flows").as("k"),
      size(coalesce(col("result.transactions"),
        array())).cast("double").as("v"))
    val agg = Streams.windowedEventStats(events, "ts", "k", "v",
      "10 seconds", "15 seconds")
    val q = agg.writeStream.format("memory").queryName("latewin")
      .outputMode("append").start()
    try {
      // t=100 (2 txs): window [100,110) opens
      dropFile(dir, "b1.json", blk(100, 2)); q.processAllAvailable()
      // t=104 (1 tx): LATE but within the 15 s watermark delay
      // (watermark is still 100−15=85 < 110) — must LAND in [100,110)
      dropFile(dir, "b2.json", blk(104, 1)); q.processAllAvailable()
      // t=140: advances the watermark to 125 ⇒ [100,110) finalizes
      dropFile(dir, "b3.json", blk(140, 1)); q.processAllAvailable()
      // t=103 (5 txs): BEYOND the watermark (103 < 125) — dropped;
      // the already-finalized [100,110) must NOT change
      dropFile(dir, "b4.json", blk(103, 5)); q.processAllAvailable()
      // two forward blocks flush the remaining windows through append
      dropFile(dir, "b5.json", blk(200, 1)); q.processAllAvailable()
      dropFile(dir, "b6.json", blk(300, 1)); q.processAllAvailable()
      val rows = spark.table("latewin")
        .select(col("window.start").cast("long").as("ws"),
          col("n"), col("sum_value"))
        .orderBy("ws").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      // [100,110): b1 + the within-delay b2, NEVER the dropped b4
      // (n=2 rows, 3 txs); [140,150) and [200,210) finalized clean;
      // [300,310) is still open (no later watermark) — absent
      assert(rows === Seq((100L, 2L, 3.0), (140L, 1L, 1.0),
        (200L, 1L, 1.0)))
    } finally q.stop()
  }

  test("tokenFlowsStream runs the flagship per micro-batch") {
    val dir = Files.createTempDirectory("graft-stream-blocks").toFile
    val block =
      """{"result":{"blockTime":1700000001,"transactions":[
        |{"transaction":{"message":{"accountKeys":["HOT1"]}},
        |"meta":{"loadedAddresses":{"writable":[],"readonly":[]},
        |"preTokenBalances":[{"accountIndex":0,"mint":"M1","owner":"W1",
        |"uiTokenAmount":{"uiAmountString":"3"}}],
        |"postTokenBalances":[],"logMessages":[]}}]}}"""
        .stripMargin.replaceAll("\n", "")
    Files.writeString(dir.toPath.resolve("b1.json"), block)
    val hot = Seq("HOT1").toDF("addr")
    val watchlists = Seq(("BASE_VAULTS", "HOT1")).toDF("kind", "addr")
    val prices = Seq(("HOT1", "base", 2.0)).toDF("vault", "side", "price_usd")
    var batches = Vector.empty[Array[org.apache.spark.sql.Row]]
    val q = Streams.tokenFlowsStream(spark, dir.getAbsolutePath,
      hot, watchlists, prices) { (df: DataFrame, _: Long) =>
      batches :+= df.collect()
    }
    q.awaitTermination(60000)
    val rows = batches.flatten
    assert(rows.length === 1)
    assert(rows(0).getAs[String]("wallet") === "HOT1")
    assert(rows(0).getAs[String]("pre_balance") === "3")
  }

  /** A block whose one tx names `ADDR_t` and holds one balance. */
  private def addrBlock(t: Int): String =
    s"""{"result":{"blockTime":${1700000000 + t},"transactions":[
      |{"transaction":{"message":{"accountKeys":["ADDR_$t"]}},
      |"meta":{"preTokenBalances":[{"accountIndex":0,"mint":"M",
      |"owner":"W","uiTokenAmount":{"uiAmountString":"$t"}}],
      |"postTokenBalances":[]}}]}}""".stripMargin.replaceAll("\n", "")

  /** (hot, watchlists) holding [[LiveDims]]' contents when read. */
  private def liveDimFrames: (DataFrame, DataFrame) =
    (spark.range(1).select(explode(LiveDims.hotUdf()).as("addr")),
      spark.range(1).select(explode(LiveDims.watchUdf()).as("e"))
        .select($"e._1".as("kind"), $"e._2".as("addr")))

  test("tokenFlowsStream re-reads the dimensions every trigger (O9)") {
    val dir = Files.createTempDirectory("graft-stream-dims").toFile
    LiveDims.set(Seq("ADDR_0"), Nil)
    val (hot, watchlists) = liveDimFrames
    val prices = Seq.empty[(String, String, Double)]
      .toDF("vault", "side", "price_usd")
    var batches = Vector.empty[Seq[(String, String, String)]]
    val q = Streams.tokenFlowsStream(spark, dir.getAbsolutePath, hot,
        watchlists, prices,
        trigger = org.apache.spark.sql.streaming.Trigger
          .ProcessingTime("50 milliseconds")) { (df: DataFrame, _: Long) =>
      batches :+= df.collect().toSeq.map(r => (r.getAs[String]("wallet"),
        r.getAs[String]("baseVault"), r.getAs[String]("quoteMint")))
    }
    try {
      dropFile(dir, "b0.json", addrBlock(0)); q.processAllAvailable()
      // a new hot address and its base-vault tag land between triggers
      LiveDims.set(Seq("ADDR_0", "ADDR_1"), Seq("BASE_VAULTS" -> "ADDR_1"))
      dropFile(dir, "b1.json", addrBlock(1)); q.processAllAvailable()
      LiveDims.set(Seq("ADDR_2"), Seq("QUOTE_MINTS" -> "M"))
      dropFile(dir, "b2.json", addrBlock(2)); q.processAllAvailable()
    } finally q.stop()
    assert(batches === Vector(Seq(("ADDR_0", null, null)),
      Seq(("ADDR_1", "ADDR_1", null)), Seq(("ADDR_2", null, "M"))))
  }

  test("tokenFlowsStream plans once: later triggers swap their batch into " +
      "the first plan until a dimension changes") {
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    val dir = Files.createTempDirectory("graft-stream-plan").toFile
    LiveDims.set((0 until 4).map(t => s"ADDR_$t"), Nil)
    val (hot, watchlists) = liveDimFrames
    val prices = Seq(("ADDR_1", "base", 2.0)).toDF("vault", "side", "price_usd")
    var plans = Vector.empty[LogicalPlan]
    var rows = Vector.empty[Seq[(String, String, Any)]]
    val q = Streams.tokenFlowsStream(spark, dir.getAbsolutePath, hot,
        watchlists, prices,
        trigger = org.apache.spark.sql.streaming.Trigger
          .ProcessingTime("50 milliseconds")) { (df: DataFrame, _: Long) =>
      plans :+= df.queryExecution.analyzed
      rows :+= df.collect().toSeq.map(r => (r.getAs[String]("wallet"),
        r.getAs[String]("baseVault"), r.getAs[Any]("base_price")))
    }
    try {
      (0 until 3).foreach { t =>
        dropFile(dir, s"b$t.json", addrBlock(t)); q.processAllAvailable()
      }
      LiveDims.set((0 until 4).map(t => s"ADDR_$t"),
        Seq("BASE_VAULTS" -> "ADDR_3"))
      dropFile(dir, "b3.json", addrBlock(3)); q.processAllAvailable()
    } finally q.stop()
    assert(rows === Vector(Seq(("ADDR_0", null, null)),
      Seq(("ADDR_1", null, 2.0)), Seq(("ADDR_2", null, null)),
      Seq(("ADDR_3", "ADDR_3", null))))
    def leaf(p: LogicalPlan) = { val Seq(l) = p.collectLeaves(); l }
    // batch i's plan is batch 1's analysed plan over batch i's relation:
    // same operators and expression ids (a rebuild mints new ids)
    def reused(i: Int): Boolean = plans(i) ==
      plans(0).transform { case p if p eq leaf(plans(0)) => leaf(plans(i)) }
    assert(plans.map(leaf).distinct.length === 4) // a relation per batch
    assert(reused(1), "batch 2 rebuilt its plan")
    assert(reused(2), "batch 3 rebuilt its plan")
    assert(!reused(3), "the changed watch-list kept the old plan")
  }

  test("tokenFlowsStream: a one-file trigger runs one job and no shuffle") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.graft.TestBridge
    object plans extends AdaptiveSparkPlanHelper
    val dir = Files.createTempDirectory("graft-stream-onejob").toFile
    val hot = Seq("ADDR_0", "ADDR_1").toDF("addr")
    val watchlists = Seq(("BASE_VAULTS", "ADDR_1")).toDF("kind", "addr")
    val prices = Seq(("ADDR_1", "base", 2.0)).toDF("vault", "side", "price_usd")
    // per trigger: (jobs, shuffle exchanges, ledger rows)
    var runs = Vector.empty[(Int, Int, Int)]
    val q = Streams.tokenFlowsStream(spark, dir.getAbsolutePath, hot,
        watchlists, prices,
        trigger = org.apache.spark.sql.streaming.Trigger
          .ProcessingTime("50 milliseconds")) { (df: DataFrame, _: Long) =>
      val run = TestBridge.recorded(spark)(df.collect())
      val shuffles = plans.collect(df.queryExecution.executedPlan) {
        case s: ShuffleExchangeExec => s }.length
      runs :+= ((run.jobs, shuffles, run.value.length))
    }
    try (0 until 2).foreach { t =>
      dropFile(dir, s"b$t.json", addrBlock(t)); q.processAllAvailable()
    } finally q.stop()
    // the first trigger builds the plan, the second reuses it
    assert(runs === Vector((1, 0, 1), (1, 0, 1)))
  }

  test("tokenFlowsStream: one trigger holding the same block in two files " +
      "yields its ledger once") {
    import graft.domain.Rugpull
    val dir = Files.createTempDirectory("graft-stream-twice")
    val once = Files.createTempDirectory("graft-stream-once")
    Seq(dir.resolve("b0.json"), dir.resolve("b0-again.json"),
      once.resolve("b0.json")).foreach(Files.writeString(_, addrBlock(0)))
    val hot = Seq("ADDR_0").toDF("addr")
    val watchlists = Seq(("BASE_VAULTS", "ADDR_0")).toDF("kind", "addr")
    val prices = Seq(("ADDR_0", "base", 2.0)).toDF("vault", "side", "price_usd")
    var batches = Vector.empty[Seq[String]]
    val q = Streams.tokenFlowsStream(spark, dir.toString, hot, watchlists,
        prices, blocksPerTrigger = 0) { (df: DataFrame, _: Long) =>
      batches :+= df.collect().map(_.toString).sorted.toSeq
    }
    q.awaitTermination(60000)
    val single = Rugpull.tokenFlows(Rugpull.parseBlocks(spark, once.toString),
      hot, watchlists, prices).collect().map(_.toString).sorted.toSeq
    assert(single.length === 1)
    assert(batches === Vector(single))
  }

  test("tokenFlowsStream reads constant dimensions once: later triggers " +
      "start no SQL execution for them") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.graft.TestBridge
    import org.apache.spark.sql.util.QueryExecutionListener
    val dir = Files.createTempDirectory("graft-stream-constdims").toFile
    val hot = (0 until 3).map(t => s"ADDR_$t").toDF("addr")
    val watchlists = Seq(("BASE_VAULTS", "ADDR_1")).toDF("kind", "addr")
    val prices = Seq(("ADDR_2", "base", 2.0)).toDF("vault", "side", "price_usd")
    // executions whose every leaf is a local relation: dimension reads
    val reads = new java.util.concurrent.atomic.AtomicInteger
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.analyzed.collectLeaves().forall(_.isInstanceOf[LocalRelation]))
          reads.incrementAndGet()
      override def onFailure(f: String, qe: QueryExecution,
                             e: Exception): Unit = ()
    }
    // per trigger: (dimension reads so far, ledger rows)
    var seen = Vector.empty[(Int, Seq[(String, String, Any)])]
    spark.listenerManager.register(listener)
    val q = Streams.tokenFlowsStream(spark, dir.getAbsolutePath, hot,
        watchlists, prices,
        trigger = org.apache.spark.sql.streaming.Trigger
          .ProcessingTime("50 milliseconds")) { (df: DataFrame, _: Long) =>
      val rows = df.collect().toSeq.map(r => (r.getAs[String]("wallet"),
        r.getAs[String]("baseVault"), r.getAs[Any]("base_price")))
      TestBridge.drainListeners(spark)
      seen :+= ((reads.get, rows))
    }
    try (0 until 3).foreach { t =>
      dropFile(dir, s"b$t.json", addrBlock(t)); q.processAllAvailable()
    } finally {
      q.stop()
      spark.listenerManager.unregister(listener)
    }
    assert(seen === Vector((3, Seq(("ADDR_0", null, null))),
      (3, Seq(("ADDR_1", "ADDR_1", null))), (3, Seq(("ADDR_2", null, 2.0)))))
  }

  /** One delivery to a flagship sink: batch id, its blocks' timestamps,
    * its ledger rows. */
  private case class Delivery(id: Long, blocks: Seq[Long], rows: Seq[String])

  /** Kills the flagship mid-batch and restarts it on the same checkpoint:
    * five one-block triggers, a sink that throws on batch 2's first
    * delivery (after recording it, before the commit log is written),
    * then a restart on that checkpoint. The first run uses Spark's default
    * checkpoint file manager when `firstRunDefault`. */
  private def killAndRestart(firstRunDefault: Boolean): Unit = {
    val dir = Files.createTempDirectory("graft-stream-restart")
    (0 until 5).foreach { t =>
      val f = dir.resolve(s"b$t.json")
      Files.writeString(f, addrBlock(t))
      // one block per trigger, in block order
      f.toFile.setLastModified(1700000000000L + t * 1000L)
    }
    val hot = (0 until 5).map(t => s"ADDR_$t").toDF("addr")
    val watchlists = Seq(("BASE_VAULTS", "ADDR_1")).toDF("kind", "addr")
    val prices = Seq(("ADDR_3", "base", 2.0)).toDF("vault", "side", "price_usd")

    def run(ckpt: JPath, failOn: Option[Long]): (Seq[Delivery], Option[Throwable]) = {
      var seen = Vector.empty[Delivery]
      val q = Streams.tokenFlowsStream(spark, dir.toString, hot, watchlists,
          prices, checkpointLocation = Some(ckpt.toString)) {
        (df: DataFrame, id: Long) =>
          val rows = df.collect().toSeq
          seen :+= Delivery(id, rows.map(_.getAs[Long]("timestamp")).distinct.sorted,
            rows.map(_.toString).sorted)
          if (failOn.contains(id))
            throw new IllegalStateException(s"killed in batch $id")
      }
      val failed = try { q.awaitTermination(); None }
        catch { case e: StreamingQueryException => Some(e.getCause) }
      (seen, failed)
    }

    val (clean, none) = run(Files.createTempDirectory("graft-ckpt-clean"), None)
    assert(none.isEmpty)
    assert(clean.map(_.id) === (0L until 5L))
    assert(clean.map(_.blocks) === (0 until 5).map(t => Seq(1700000000L + t)))

    val ckpt = Files.createTempDirectory("graft-ckpt-killed")
    val manager = "spark.sql.streaming.checkpointFileManagerClass"
    val ours = spark.conf.get(manager)
    if (firstRunDefault) spark.conf.unset(manager)
    val (first, killed) = try run(ckpt, Some(2L))
      finally spark.conf.set(manager, ours)
    assert(killed.map(_.getMessage) === Some("killed in batch 2"))
    // Hadoop's checksummed writer leaves a .crc beside each log file
    assert(Files.exists(ckpt.resolve("offsets/.2.crc")) === firstRunDefault)
    assert(!Files.exists(ckpt.resolve("commits/2")))

    val (second, ok) = run(ckpt, None)
    assert(ok.isEmpty)
    assert(first.map(_.id) === Seq(0L, 1L, 2L))
    assert(second.map(_.id) === Seq(2L, 3L, 4L))
    assert(second.head === first.last) // same id, blocks and ledger
    assert((first.init ++ second) === clean)
  }

  test("tokenFlowsStream killed mid-batch resumes from its checkpoint: the " +
      "uncommitted batch is re-delivered, the ledger equals a clean run's") {
    killAndRestart(firstRunDefault = false)
  }

  test("a checkpoint written under Spark's default file manager resumes " +
      "under LocalCheckpointFiles") {
    killAndRestart(firstRunDefault = true)
  }

  test("streamingDedup drops duplicate keys across micro-batches") {
    val dir = Files.createTempDirectory("graft-sdedup").toFile
    def write(name: String, lines: Seq[String]): Unit =
      dropFile(dir, name, lines.mkString("\n"))
    write("b1.json", Seq(
      """{"doc":"d1","ts":"2024-01-01T00:00:00Z"}""",
      """{"doc":"d1","ts":"2024-01-01T00:00:01Z"}"""))
    val stream = spark.readStream.schema("doc STRING, ts TIMESTAMP")
      .option("maxFilesPerTrigger", 1).json(dir.getAbsolutePath)
    val q = Streams.streamingDedup(stream, Seq("doc"), "ts", "1 hour")
      .writeStream.format("memory").queryName("sdedup")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // second batch: dup of d1 (dropped via state) + fresh d2
      write("b2.json", Seq(
        """{"doc":"d1","ts":"2024-01-01T00:10:00Z"}""",
        """{"doc":"d2","ts":"2024-01-01T00:10:00Z"}"""))
      q.processAllAvailable()
      val docs = spark.table("sdedup").collect()
        .map(_.getAs[String]("doc")).sorted
      assert(docs.toSeq === Seq("d1", "d2"))
    } finally q.stop()
  }

  test("intervalJoin: stream-stream join with bounded state") {
    val dir = Files.createTempDirectory("graft-ssj").toFile
    Files.writeString(dir.toPath.resolve("clicks.json"),
      Seq("""{"user":1,"cts":"2024-01-01T00:05:00Z","page":"p1"}""",
        """{"user":1,"cts":"2024-01-01T00:20:00Z","page":"p2"}""")
        .mkString("\n"))
    val pdir = Files.createTempDirectory("graft-ssj-p").toFile
    Files.writeString(pdir.toPath.resolve("purch.json"),
      Seq("""{"user":1,"pts":"2024-01-01T00:04:00Z","amount":5.0}""",
        """{"user":1,"pts":"2024-01-01T00:19:00Z","amount":9.0}""")
        .mkString("\n"))
    val clicks = spark.readStream
      .schema("user LONG, cts TIMESTAMP, page STRING")
      .json(dir.getAbsolutePath)
    val purchases = spark.readStream
      .schema("user LONG, pts TIMESTAMP, amount DOUBLE")
      .json(pdir.getAbsolutePath)
    val joined = Streams.intervalJoin(clicks, purchases, "user",
      "cts", "pts", "10 minutes", "30 minutes")
    val q = joined.writeStream.format("memory").queryName("ssj")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("ssj")
        .select($"page", $"amount").collect()
        .map(r => (r.getString(0), r.getDouble(1))).toSet
      // each click sees only the purchase within its 10-minute lookback
      assert(rows === Set(("p1", 5.0), ("p2", 9.0)))
    } finally q.stop()
  }

  test("poolRegistryStream maintains the registry across micro-batches") {
    val blocksDir = Files.createTempDirectory("graft-poolreg").toFile
    val registry = Files.createTempDirectory("graft-reg").toFile
      .getAbsolutePath + "/pools"
    def blk(t: Long, key: String, log: String): String =
      s"""{"result":{"blockTime":$t,"transactions":[
         |{"transaction":{"message":{"accountKeys":["$key"]}},
         |"meta":{"loadedAddresses":{"writable":[],"readonly":[]},
         |"preTokenBalances":[],"postTokenBalances":[],
         |"logMessages":["Program RAY invoke","$log"]}}]}}"""
        .stripMargin.replaceAll("\n", "")
    Files.writeString(blocksDir.toPath.resolve("b1.json"),
      blk(100, "POOL_X", "Instruction: Initialize2"))
    Files.writeString(blocksDir.toPath.resolve("b2.json"),
      blk(200, "POOL_X", "Instruction: Initialize2") + "\n" +
        blk(200, "POOL_Y", "Instruction: Initialize2") + "\n" +
        blk(200, "NOT_A_POOL", "Instruction: Swap"))
    val q = Streams.poolRegistryStream(spark, blocksDir.getAbsolutePath,
      Map("RAY" -> Seq("Initialize2")), registry)
    q.awaitTermination(60000)
    val reg = spark.read.parquet(registry)
      .collect().map(r => (r.getAs[String]("pool_address"),
        r.getAs[Long]("blockTime"))).toMap
    // POOL_X upserted to its latest sighting; Swap tx filtered out
    assert(reg === Map("POOL_X" -> 200L, "POOL_Y" -> 200L))
  }

  test("detected pool's payload tags the next batch's ledger (§3.2 loop)") {
    import graft.domain.Rugpull
    val blocksDir = Files.createTempDirectory("graft-poolloop").toFile
    val registry = Files.createTempDirectory("graft-regloop").toFile
      .getAbsolutePath + "/pools"
    // batch 1: a pool-creation tx whose accountKeys carry the full
    // 5-field payload (pool, baseMint, quoteMint, baseVault, quoteVault)
    val createTx =
      """{"result":{"blockTime":100,"transactions":[
        |{"transaction":{"message":{"accountKeys":
        |["POOL_1","BMINT_1","QMINT_1","BVAULT_1","QVAULT_1"]}},
        |"meta":{"loadedAddresses":{"writable":[],"readonly":[]},
        |"preTokenBalances":[],"postTokenBalances":[],
        |"logMessages":["Program RAY invoke",
        |"Program log: Instruction: Initialize2"]}}]}}"""
        .stripMargin.replaceAll("\n", "")
    Files.writeString(blocksDir.toPath.resolve("b1.json"), createTx)
    val q = Streams.poolRegistryStream(spark, blocksDir.getAbsolutePath,
      Map("RAY" -> Seq("Initialize2")), registry)
    q.awaitTermination(60000)

    val reg = spark.read.parquet(registry)
    val payload = reg.collect()
    assert(payload.length === 1)
    assert(payload(0).getAs[String]("pool_address") === "POOL_1")
    assert(payload(0).getAs[String]("base_vault") === "BVAULT_1")
    assert(payload(0).getAs[String]("quote_mint") === "QMINT_1")

    // next micro-batch: a swap touching the NEW pool's base vault must
    // come out of the ledger tagged with that vault and mint — the
    // registry built in batch 1 closes the loop as the watch/tag dims.
    val ledgerDir = Files.createTempDirectory("graft-poolloop2").toFile
    val swapTx =
      """{"result":{"blockTime":200,"transactions":[
        |{"transaction":{"message":{"accountKeys":["BVAULT_1"]}},
        |"meta":{"loadedAddresses":{"writable":[],"readonly":[]},
        |"preTokenBalances":[{"accountIndex":0,"mint":"BMINT_1",
        |"owner":"TRADER","uiTokenAmount":{"uiAmountString":"5"}}],
        |"postTokenBalances":[],"logMessages":[]}}]}}"""
        .stripMargin.replaceAll("\n", "")
    Files.writeString(ledgerDir.toPath.resolve("b2.json"), swapTx)
    val watchlists = Rugpull.registryToWatchlists(reg)
    val hot = watchlists
      .filter($"kind".isin("BASE_VAULTS", "QUOTE_VAULTS"))
      .select($"addr")
    val prices = Seq(("BVAULT_1", "base", 2.0))
      .toDF("vault", "side", "price_usd")
    val ledger = Rugpull.tokenFlows(
      Rugpull.parseBlocks(spark, ledgerDir.getAbsolutePath),
      hot, watchlists, prices).collect()
    assert(ledger.length === 1)
    assert(ledger(0).getAs[String]("wallet") === "BVAULT_1")
    assert(ledger(0).getAs[String]("baseVault") === "BVAULT_1")
    assert(ledger(0).getAs[String]("baseMint") === "BMINT_1")
    assert(ledger(0).getAs[Double]("base_price") === 2.0)
  }

  test("snapshotApplier: streaming MERGE with upserts and deletes") {
    val changesDir = Files.createTempDirectory("graft-cdc").toFile
    val snap = Files.createTempDirectory("graft-cdc-snap").toFile
      .getAbsolutePath + "/t"
    def write(name: String, lines: Seq[String]): Unit =
      dropFile(changesDir, name,
        lines.mkString("\n"))
    // batch 1: insert k=1, k=2
    write("c1.json", Seq(
      """{"k":1,"v":"a","op":"U","ord":1}""",
      """{"k":2,"v":"b","op":"U","ord":2}"""))
    val stream = spark.readStream
      .schema("k LONG, v STRING, op STRING, ord LONG")
      .option("maxFilesPerTrigger", 1).json(changesDir.getAbsolutePath)
    val apply = graft.operators.Registry.snapshotApplier(
      snap, Seq("k"), Seq("v"), "op", "ord")
    val ckpt = Files.createTempDirectory("graft-cdc-ckpt").toFile
      .getAbsolutePath
    val q = stream.writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        apply(b, id)
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    assert(spark.read.parquet(snap).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap ===
      Map(1L -> "a", 2L -> "b"))
    // batch 2: update k=1, delete k=2, insert k=3 — applied over the
    // snapshot maintained from batch 1
    write("c2.json", Seq(
      """{"k":1,"v":"a2","op":"U","ord":3}""",
      """{"k":2,"v":"x","op":"D","ord":4}""",
      """{"k":3,"v":"c","op":"U","ord":5}"""))
    // same checkpoint: the restarted stream resumes AFTER c1 and applies
    // only the new change file
    val q2 = stream.writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        apply(b, id)
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q2.awaitTermination(60000)
    assert(spark.read.parquet(snap).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap ===
      Map(1L -> "a2", 3L -> "c"))
  }

  test("aggViewApplier: streaming IVM equals the from-scratch aggregate") {
    val changesDir = Files.createTempDirectory("graft-ivm").toFile
    val view = Files.createTempDirectory("graft-ivm-view").toFile
      .getAbsolutePath + "/v"
    def write(name: String, lines: Seq[String]): Unit =
      dropFile(changesDir, name, lines.mkString("\n"))
    // batch 1: inserts build groups a (2 rows) and b (1 row)
    write("c1.json", Seq(
      """{"k":"a","v":10.0,"op":"I"}""",
      """{"k":"a","v":20.0,"op":"I"}""",
      """{"k":"b","v":5.0,"op":"I"}"""))
    val stream = spark.readStream
      .schema("k STRING, v DOUBLE, op STRING")
      .option("maxFilesPerTrigger", 1).json(changesDir.getAbsolutePath)
    val apply = graft.operators.Registry.aggViewApplier(
      view, Seq("k"), "n", Seq("sv" -> "v"), "op")
    val ckpt = Files.createTempDirectory("graft-ivm-ckpt").toFile
      .getAbsolutePath
    def run(): Unit = {
      val q = stream.writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          apply(b, id)
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000)
    }
    run()
    def state() = spark.read.parquet(view).collect()
      .map(r => r.getAs[String]("k") ->
        ((r.getAs[Long]("n"), r.getAs[Double]("sv")))).toMap
    assert(state() === Map("a" -> ((2L, 30.0)), "b" -> ((1L, 5.0))))
    // foreachBatch is at-least-once: RE-DELIVER batch 0 (crash between
    // snapshot promote and checkpoint commit) — the view must detect
    // the replay via its recorded batch id and stay unchanged, not
    // double-apply the delta
    import spark.implicits._
    val replay = Seq(("a", 10.0, "I"), ("a", 20.0, "I"), ("b", 5.0, "I"))
      .toDF("k", "v", "op")
    apply(replay, 0L)
    assert(state() === Map("a" -> ((2L, 30.0)), "b" -> ((1L, 5.0))),
      "replayed micro-batch was double-applied")
    // batch 2 resumes from the checkpoint: retract one a-row, retract
    // b entirely (group vanishes), open group c
    write("c2.json", Seq(
      """{"k":"a","v":20.0,"op":"D"}""",
      """{"k":"b","v":5.0,"op":"D"}""",
      """{"k":"c","v":7.0,"op":"I"}"""))
    run()
    // the maintained view equals aggregating every surviving row from
    // scratch — the IVM identity across micro-batches AND restarts
    assert(state() === Map("a" -> ((1L, 10.0)), "c" -> ((1L, 7.0))))
  }

  test("scd2Applier: streaming history maintenance across restarts") {
    val changesDir = Files.createTempDirectory("graft-scd2").toFile
    val hist = Files.createTempDirectory("graft-scd2-hist").toFile
      .getAbsolutePath + "/h"
    def write(name: String, lines: Seq[String]): Unit =
      dropFile(changesDir, name, lines.mkString("\n"))
    // batch 1: k=1 changes twice IN the batch (LWW collapses to v1b —
    // the batch is the versioning grain), k=2 once
    write("c1.json", Seq(
      """{"k":1,"v":"v1a","ts":10}""",
      """{"k":1,"v":"v1b","ts":11}""",
      """{"k":2,"v":"w1","ts":12}"""))
    val stream = spark.readStream
      .schema("k LONG, v STRING, ts LONG")
      .option("maxFilesPerTrigger", 1).json(changesDir.getAbsolutePath)
    val apply = graft.operators.Registry.scd2Applier(
      hist, Seq("k"), Seq("v"), "ts", "valid_from", "valid_to")
    val ckpt = Files.createTempDirectory("graft-scd2-ckpt").toFile
      .getAbsolutePath
    def run(): Unit = {
      val q = stream.writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          apply(b, id)
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000)
    }
    run()
    def rows() = spark.read.parquet(hist).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3))).toSet
    assert(rows() === Set((1L, "v1b", 11L, -1L), (2L, "w1", 12L, -1L)))
    // batch 2 after a restart: k=1 really changes (close + append),
    // k=2 gets an IDENTICAL change (must be a no-op, no version churn)
    write("c2.json", Seq(
      """{"k":1,"v":"v2","ts":20}""",
      """{"k":2,"v":"w1","ts":21}"""))
    run()
    assert(rows() === Set(
      (1L, "v1b", 11L, 20L),   // closed at the change ts
      (1L, "v2", 20L, -1L),    // new open version
      (2L, "w1", 12L, -1L)))   // untouched: identical change suppressed
  }

  test("sessionStats: streaming session windows close via watermark") {
    val dir = Files.createTempDirectory("graft-sess").toFile
    def write(name: String, lines: Seq[String]): Unit =
      dropFile(dir, name, lines.mkString("\n"))
    // batch 1: two events 40s apart → one session (gap 30 min)
    write("b1.json", Seq(
      """{"u":"a","ts":"2024-01-01T00:00:10Z","v":1.0}""",
      """{"u":"a","ts":"2024-01-01T00:00:50Z","v":2.0}"""))
    val stream = spark.readStream
      .schema("u STRING, ts TIMESTAMP, v DOUBLE")
      .option("maxFilesPerTrigger", 1).json(dir.getAbsolutePath)
    val q = Streams.sessionStats(stream, "ts", "u", "v",
        "30 minutes", "10 minutes")
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // append mode emits nothing until the watermark passes the close
      assert(spark.table("sessions").count() === 0)
      // batch 2: far-future event pushes the watermark past session end
      write("b2.json",
        Seq("""{"u":"b","ts":"2024-01-01T02:00:00Z","v":9.0}"""))
      q.processAllAvailable()
      val rows = spark.table("sessions").collect()
      assert(rows.length === 1)
      assert(rows(0).getAs[String]("u") === "a")
      assert(rows(0).getAs[Long]("n_events") === 2L)
      assert(rows(0).getAs[Double]("sum_value") === 3.0)
    } finally q.stop()
  }

  test("windowedEventStats: tumbling window with watermark") {
    val events = Seq(
      ("2024-01-01 00:00:10", "a", 1.0),
      ("2024-01-01 00:00:50", "a", 2.0),
      ("2024-01-01 00:01:10", "a", 4.0))
      .toDF("ts_s", "k", "v")
      .withColumn("ts", to_timestamp($"ts_s"))
    val r = Streams.windowedEventStats(events, "ts", "k", "v",
      "1 minute", "10 minutes")
      .select($"k", $"n", $"sum_value").orderBy($"sum_value").collect()
    assert(r.map(x => (x.getString(0), x.getLong(1), x.getDouble(2)))
      .toSeq === Seq(("a", 2L, 3.0), ("a", 1L, 4.0)))
  }

  test("admissionScreen: per-batch near-dup reject list vs static corpus") {
    val corpus = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta"),
      (101L, "one two three four five six seven"),
      (102L, "completely different corpus content here now"))
      .toDF("doc_id", "text")
    val dir = Files.createTempDirectory("graft-admit").toFile
    // batch 1: doc 1 duplicates corpus 100, doc 2 is novel
    dropFile(dir, "b1.json", Seq(
      """{"doc_id":1,"text":"alpha beta gamma delta epsilon zeta eta"}""",
      """{"doc_id":2,"text":"novel words that match nothing at all"}""")
      .mkString("\n"))
    val incoming = spark.readStream
      .schema("doc_id LONG, text STRING").json(dir.getAbsolutePath)
    val rejects = collection.mutable.Map[Long, Seq[(Long, Long, Double)]]()
    // caller-owned corpus-sets lifecycle: prepare + persist once, reuse
    // across both query runs, unpersist at the end
    val corpusSets = graft.operators.Dedup
      .hashedShingleSets(corpus, "text", "doc_id")
      .persist()
    def screen() = Streams.admissionScreen(incoming, corpusSets,
      "text", "doc_id") { (hits, id) =>
      rejects.synchronized {
        rejects(id) = hits.collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      }
    }
    try {
      val q1 = screen()
      try q1.processAllAvailable() finally q1.stop()
      assert(rejects(0L) === Seq((1L, 100L, 1.0)))
      // batch 2 (a NEW AvailableNow run over the grown directory — the
      // restartable form): doc 3 near-dups corpus 101; novel doc 2 from
      // batch 1 must not reappear as a hit
      dropFile(dir, "b2.json",
        """{"doc_id":3,"text":"one two three four five six eight"}""")
      rejects.clear()
      val q2 = screen()
      try q2.processAllAvailable() finally q2.stop()
      val all = rejects.values.flatten.toSet
      assert(all.contains((3L, 101L, 0.5)) ||
        all.exists(h => h._1 == 3L && h._2 == 101L && h._3 >= 0.5),
        all.toString)
      assert(!all.exists(_._1 == 2L))
    } finally corpusSets.unpersist()
  }

  test("qualityMonitor: per-batch contract reports, bad batch flagged") {
    import graft.operators.Quality
    val dir = Files.createTempDirectory("graft-qm").toFile
    val reports = scala.collection.mutable.Map[Long, Map[String,
      (Double, Boolean)]]()
    val stream = spark.readStream
      .schema("id LONG, email STRING")
      .option("maxFilesPerTrigger", 1).json(dir.getAbsolutePath)
    val q = Streams.qualityMonitor(stream, Seq(
      Quality.NotNull("email_nn", "email", maxFrac = 0.25),
      Quality.Unique("id_key", Seq("id")))) { (rep, id) =>
      reports.synchronized {
        reports(id) = rep.collect().map(r => r.getString(0) ->
          (r.getDouble(1), r.getBoolean(3))).toMap
      }
    }
    try {
      // batch 0: clean
      dropFile(dir, "b1.json", Seq(
        """{"id":1,"email":"a@x.com"}""",
        """{"id":2,"email":"b@x.com"}""").mkString("\n"))
      q.processAllAvailable()
      // batch 1: half nulls + a duplicated id — both contracts break
      dropFile(dir, "b2.json", Seq(
        """{"id":3,"email":null}""",
        """{"id":3,"email":null}""",
        """{"id":4,"email":"d@x.com"}""",
        """{"id":5,"email":"e@x.com"}""").mkString("\n"))
      q.processAllAvailable()
      val got = reports.synchronized(reports.toMap)
      assert(got(0L)("email_nn") === ((0.0, true)))
      assert(got(0L)("id_key") === ((0.0, true)))
      assert(got(1L)("email_nn") === ((0.5, false)))
      assert(got(1L)("id_key") === ((0.5, false)))
    } finally q.stop()
  }

  test("tokenChunks composes with a stream: chunks emit per micro-batch") {
    // the chunker is a pure projection, so it runs on a streaming scan
    // unchanged — the streaming form of q72's training-example prep
    val dir = Files.createTempDirectory("graft-chunk").toFile
    dropFile(dir, "b1.json",
      """{"doc_id":1,"text":"a b c d e f g"}""")
    val docs = spark.readStream.schema("doc_id LONG, text STRING")
      .json(dir.getAbsolutePath)
    val chunks = docs.select($"doc_id",
        explode(graft.operators.TextAnalysis.tokenChunks($"text", 4, 3))
          .as("ch"))
      .select($"doc_id", $"ch.chunk_id".as("chunk_id"), $"ch.toks")
    val q = chunks.writeStream.format("memory").queryName("chunks")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("chunks").orderBy($"doc_id", $"chunk_id")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1),
          r.getSeq[String](2).mkString(" ")))
      // 7 tokens, chunk 4 / stride 3 → windows at 0, 3, 6
      assert(got.toSeq === Seq((1L, 0L, "a b c d"), (1L, 1L, "d e f g"),
        (1L, 2L, "g")))
      // a later batch chunks independently of the first
      dropFile(dir, "b2.json",
        """{"doc_id":2,"text":"x y z"}""")
      q.processAllAvailable()
      val d2 = spark.table("chunks").filter($"doc_id" === 2)
        .collect().map(r => r.getSeq[String](2).mkString(" "))
      assert(d2.toSeq === Seq("x y z"))
    } finally q.stop()
  }

  test("suppressWithCensus anonymizes a stream against a static census") {
    import graft.operators.Anonymize
    val dir = Files.createTempDirectory("graft-anon").toFile
    // census snapshot: (US, A) is a big group, (FR, B) too small, and
    // (DE, C) is absent entirely — absent must suppress, not leak
    val census = Seq(("US", "A", 10L), ("FR", "B", 2L))
      .toDF("country", "seg", "__qn")
    dropFile(dir, "b1.json", Seq(
      """{"id":1,"country":"US","seg":"A"}""",
      """{"id":2,"country":"FR","seg":"B"}""",
      """{"id":3,"country":"DE","seg":"C"}""").mkString("\n"))
    val stream = spark.readStream
      .schema("id LONG, country STRING, seg STRING")
      .json(dir.getAbsolutePath)
    val q = Anonymize.suppressWithCensus(stream, census,
        Seq("country", "seg"), k = 5)
      .writeStream.format("memory").queryName("anon")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("anon").orderBy($"id").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2),
          r.getBoolean(3)))
      assert(got.toSeq === Seq(
        (1L, "US", "A", true),    // census size 10 ≥ k
        (2L, "*", "*", false),    // census size 2 < k
        (3L, "*", "*", false)))   // absent from census → size 0
    } finally q.stop()
  }

  test("kmvDistinctStream: final estimate equals the one-shot batch " +
      "sketch under any micro-batch split (merge associativity)") {
    val (a, b, p, k) = (1000003L, 12345L, 2147483647L, 16)
    // ids with repeats across and within batches; group B stays below
    // k distinct so its estimate must be EXACT (= sketch fill)
    val ids = (0 until 400).map(i => ("A", (i * 7 % 120).toLong)) ++
      (0 until 40).map(i => ("B", (i % 9).toLong))
    def expected(g: String): (Int, Double) = {
      val hs = ids.filter(_._1 == g).map(_._2).distinct
        .map(x => (x * a + b) % p).sorted.take(k)
      (hs.length, if (hs.length < k) hs.length.toDouble
        else ((k - 1).toLong * p).toDouble / hs(k - 1))
    }
    for ((split, tag) <- Seq(100 -> "s100", 317 -> "s317")) {
      val dir = Files.createTempDirectory(s"graft-kmv-$tag").toFile
      val stream = spark.readStream
        .schema("group STRING, id LONG")
        .option("maxFilesPerTrigger", 1).json(dir.getAbsolutePath)
        .as[Streams.KeyedId]
      val q = Streams.kmvDistinctStream(stream, k)
        .writeStream.format("memory").queryName(s"kmv$tag")
        .outputMode("append").start()
      try {
        def js(r: (String, Long)) =
          s"""{"group":"${r._1}","id":${r._2}}"""
        dropFile(dir, "b1.json",
          ids.take(split).map(js).mkString("\n"))
        q.processAllAvailable()
        dropFile(dir, "b2.json",
          ids.drop(split).map(js).mkString("\n"))
        q.processAllAvailable()
        // final state = the row with the largest n_seen cursor
        val rows = spark.table(s"kmv$tag").collect()
          .map(r => (r.getString(0), r.getLong(1), r.getInt(2),
            r.getDouble(3)))
        for (g <- Seq("A", "B")) {
          val fin = rows.filter(_._1 == g).maxBy(_._2)
          assert((fin._3, fin._4) === expected(g),
            s"group $g split $split")
        }
        assert(rows.filter(_._1 == "B").maxBy(_._2)._3 === 9)
      } finally q.stop()
    }
  }

  test("logHistStream: final quantile readout equals the batch " +
      "logHistSketch operator under any micro-batch split") {
    val rnd = new scala.util.Random(59)
    // two groups, 5 decades of log-uniform cents — every ladder tier
    val rows = (0 until 600).map { i =>
      (if (i % 3 == 0) "A" else "B",
        math.floor(math.pow(10.0, 2 + rnd.nextDouble() * 5)).toLong)
    }
    // batch truth straight from the operator the stream mirrors
    val batch = graft.operators.Percentiles.logHistQuantiles(
        graft.operators.Percentiles.logHistSketch(
          rows.toDF("g", "c"), "g", "c"), "g", Seq(50, 90, 99))
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap
    for ((split, tag) <- Seq(150 -> "h150", 413 -> "h413")) {
      val dir = Files.createTempDirectory(s"graft-hist-$tag").toFile
      val stream = spark.readStream
        .schema("group STRING, cents LONG")
        .option("maxFilesPerTrigger", 1).json(dir.getAbsolutePath)
        .as[Streams.CentsRow]
      val q = Streams.logHistStream(stream)
        .writeStream.format("memory").queryName(s"hist$tag")
        .outputMode("append").start()
      try {
        def js(r: (String, Long)) =
          s"""{"group":"${r._1}","cents":${r._2}}"""
        dropFile(dir, "b1.json",
          rows.take(split).map(js).mkString("\n"))
        q.processAllAvailable()
        dropFile(dir, "b2.json",
          rows.drop(split).map(js).mkString("\n"))
        q.processAllAvailable()
        val got = spark.table(s"hist$tag").collect()
          .map(r => (r.getString(0), r.getLong(1), r.getInt(2),
            r.getLong(3), r.getLong(4), r.getLong(5)))
        for (g <- Seq("A", "B")) {
          val fin = got.filter(_._1 == g).maxBy(_._2)
          assert((fin._2, fin._3.toLong, fin._4, fin._5, fin._6)
            === batch(g), s"group $g split $split")
        }
      } finally q.stop()
    }
  }

  test("rateLimitStream decisions equal the batch scan under any " +
      "nondecreasing micro-batch split") {
    val rnd = new scala.util.Random(67)
    // keys with mixed burst/idle cadence, ts nondecreasing per key
    val evs = (1L to 300L).map { i =>
      val k = i % 4
      (k, (i / 4) * (if (k == 0) 2L else 500L) + rnd.nextInt(2), i)
    }.sortBy(e => (e._2, e._3)) // global arrival order for splitting
    val (cap, cost, num, den) = (3000L, 1000L, 1000L, 600L)
    val want = graft.operators.Sessionize.rateLimit(
        evs.toDF("k", "t", "i"), "k", "t", "i", cap, cost, num, den)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3))).toSet
    for ((split, tag) <- Seq(80 -> "r80", 211 -> "r211")) {
      val dir = Files.createTempDirectory(s"graft-rl-$tag").toFile
      val stream = spark.readStream
        .schema("key LONG, ts LONG, id LONG")
        .option("maxFilesPerTrigger", 1).json(dir.getAbsolutePath)
        .as[Streams.KeyedTs]
      val q = Streams.rateLimitStream(stream, cap, cost, num, den)
        .writeStream.format("memory").queryName(s"rl$tag")
        .outputMode("append").start()
      try {
        def js(r: (Long, Long, Long)) =
          s"""{"key":${r._1},"ts":${r._2},"id":${r._3}}"""
        dropFile(dir, "b1.json",
          evs.take(split).map(js).mkString("\n"))
        q.processAllAvailable()
        dropFile(dir, "b2.json",
          evs.drop(split).map(js).mkString("\n"))
        q.processAllAvailable()
        val got = spark.table(s"rl$tag").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            r.getBoolean(3))).toSet
        assert(got === want, s"split $split")
      } finally q.stop()
    }
  }

  test("wilderStream smoothing states equal the batch scan under any " +
      "nondecreasing micro-batch split") {
    val rnd = new scala.util.Random(71)
    // per-key series with jumps big enough that div-14 registers
    val evs = (0L until 240L).map { i =>
      val k = (i % 3).toString
      (k, i / 3, 50000L + rnd.nextInt(40000))
    }.sortBy(e => (e._2, e._1)) // global arrival order for splitting
    val want = graft.operators.Sessionize.wilderSmooth(
        evs.toDF("k", "t", "v"), "k", "t", "v", 14)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4),
        if (r.isNullAt(5)) None else Some(r.getLong(5)))).toSet
    for ((split, tag) <- Seq(70 -> "w70", 171 -> "w171")) {
      val dir = Files.createTempDirectory(s"graft-wl-$tag").toFile
      val stream = spark.readStream
        .schema("key STRING, ts LONG, v LONG")
        .option("maxFilesPerTrigger", 1).json(dir.getAbsolutePath)
        .as[Streams.KeyedVal]
      val q = Streams.wilderStream(stream, 14)
        .writeStream.format("memory").queryName(s"wl$tag")
        .outputMode("append").start()
      try {
        def js(r: (String, Long, Long)) =
          s"""{"key":"${r._1}","ts":${r._2},"v":${r._3}}"""
        dropFile(dir, "b1.json",
          evs.take(split).map(js).mkString("\n"))
        q.processAllAvailable()
        dropFile(dir, "b2.json",
          evs.drop(split).map(js).mkString("\n"))
        q.processAllAvailable()
        val got = spark.table(s"wl$tag").collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
            r.getLong(3), r.getLong(4),
            if (r.isNullAt(5)) None else Some(r.getLong(5)))).toSet
        assert(got === want, s"split $split")
      } finally q.stop()
    }
  }
}

/** Hot list and watch-list whose contents a test changes between
  * triggers: dimensions read through a nondeterministic UDF, so every
  * read sees the current value. A top-level object, so the UDFs capture
  * no test instance. */
object LiveDims {
  import java.util.concurrent.atomic.AtomicReference

  private val hot = new AtomicReference(Seq.empty[String])
  private val watch = new AtomicReference(Seq.empty[(String, String)])

  def set(hotAddrs: Seq[String], kindAddr: Seq[(String, String)]): Unit = {
    hot.set(hotAddrs)
    watch.set(kindAddr)
  }

  val hotUdf = udf(() => hot.get).asNondeterministic()
  val watchUdf = udf(() => watch.get).asNondeterministic()
}
