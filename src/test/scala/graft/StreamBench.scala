package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming-flagship throughput probe (test scope, like [[Scratch]]):
  * measures blocks/s and MB/s of `Streams.tokenFlowsStream` — the full
  * per-micro-batch flagship (parse → hot semi-join → pre/post merge →
  * tag/price enrichment) — over synthetic MB-scale Solana block files,
  * one block per micro-batch, the reference's own cadence shape.
  *
  * The reference's only citable performance envelope (BASELINE.md) is
  * its real-time target: ≈1 block / 0.4 s sustained (6 staggered RPC
  * workers at Solana slot time; 2.5 blocks/s) with a 10 MB/block cap.
  * This probe produces the comparable number for the Spark engine on
  * one node. Fixture realism: ~500 txs/block, ~10 account keys per tx,
  * 4 pre + 4 post token balances, ~8 % of txs touching the hot set —
  * ≈1 MB of JSON per block.
  *
  * Run: sbt "Test/runMain graft.StreamBench [nBlocks] [txPerBlock]"
  */
object StreamBench {
  def main(args: Array[String]): Unit = {
    val sustained = args.headOption.contains("sustained")
    val nBlocks =
      if (sustained || args.length < 1) 120 else args(0).toInt
    // sustained mode reads txPer from arg 5 (after rate/secs/writers) —
    // the round-13 verdict's 10 MB-block soak sizes blocks through it
    // (500 tx ≈ 1 MB of JSON, 5000 tx ≈ 10 MB, the reference's shm cap)
    val txPer =
      if (sustained) (if (args.length > 4) args(4).toInt else 500)
      else if (args.length < 2) 500
      else args(1).toInt
    // Micro-batch tuning knob: the shuffle partition count of each
    // batch's flagship query. That query runs under AQE (Spark's "AQE is
    // not supported in streaming" warning concerns the streaming plan,
    // not the foreachBatch query), which coalesces near-empty reduce
    // partitions
    val shufP = if (sustained || args.length < 3) 8 else args(2).toInt
    val spark = GraftSession.local(GraftSession.cpus)
    spark.conf.set("spark.sql.shuffle.partitions", shufP.toString)
    import spark.implicits._
    spark.range(100000).selectExpr("sum(id % 7)").collect() // warm

    // --- deterministic block synthesis (no RNG: round-tripable) -----
    val hotAddrs = (0 until 100).map(i => f"HOTVAULT$i%04d")
    def addr(j: Long): String = f"ADDR${j % 50000}%08d"
    def tx(b: Int, t: Int): String = {
      val hot = (b * 31 + t) % 12 == 0 // ~8% of txs touch the hot set
      val keys = (0 until 10).map(k => addr(b * 7919L + t * 31L + k)) ++
        (if (hot) Seq(hotAddrs((b + t) % hotAddrs.size)) else Nil)
      val bals = (0 until 4).map { k =>
        val owner = addr(b * 104729L + t * 13L + k)
        val mint = f"MINT${(b + t + k) % 500}%05d"
        (owner, mint)
      }
      def balJson(side: Int) = bals.zipWithIndex.map { case ((o, m), k) =>
        s"""{"accountIndex":${k % keys.size},"mint":"$m","owner":"$o",""" +
          s""""uiTokenAmount":{"uiAmountString":"${b * 100 + t + k + side}"}}"""
      }.mkString("[", ",", "]")
      s"""{"transaction":{"message":{"accountKeys":[${
        keys.map("\"" + _ + "\"").mkString(",")}]}},""" +
        s""""meta":{"loadedAddresses":{"writable":[],"readonly":[]},""" +
        s""""preTokenBalances":${balJson(0)},""" +
        s""""postTokenBalances":${balJson(1)},"logMessages":[]}}"""
    }
    val dir = Files.createTempDirectory("graft-streambench").toFile
    var totalBytes = 0L
    // the batch fixture feeds the trigger/floor/batch modes; the
    // sustained mode lands its own files at arrival cadence
    (0 until (if (sustained) 0 else nBlocks)).foreach { b =>
      val body = (0 until txPer).map(t => tx(b, t)).mkString(",")
      val block =
        s"""{"result":{"blockTime":${1700000000L + b},"transactions":[$body]}}"""
      val p = Paths.get(dir.getAbsolutePath, f"b$b%05d.json")
      Files.writeString(p, block)
      totalBytes += block.length
    }
    println(f"[streambench] fixture: $nBlocks blocks, $txPer tx/block, " +
      f"${totalBytes / 1e6}%.1f MB total (${totalBytes / 1e6 / nBlocks}%.2f MB/block)")

    val hot = hotAddrs.toDF("addr")
    val watchlists = hotAddrs.zipWithIndex.map { case (a, i) =>
      (if (i % 2 == 0) "BASE_VAULTS" else "QUOTE_VAULTS", a)
    }.toDF("kind", "addr")
    val prices = hotAddrs.zipWithIndex.map { case (a, i) =>
      (a, if (i % 2 == 0) "base" else "quote", 1.0 + i * 0.01)
    }.toDF("vault", "side", "price_usd")

    // --- SUSTAINED mode (`sbt "Test/runMain graft.StreamBench
    // sustained [rate] [secs] [writers]"`): feeder threads deliver blocks at a
    // fixed arrival rate (default = the reference's real-time envelope,
    // 1 block / 0.4 s = 2.5 blocks/s) for a multi-minute window while
    // the flagship stream consumes them on a 200 ms ProcessingTime
    // trigger. Per-BLOCK latency = (micro-batch completion) − (file
    // land time), measured for every block via the ledger's blockTime;
    // p50/p99/max over the whole run is the number a real-time
    // deployment cares about (a backlogged consumer shows up as
    // latency growth, not just a lower rate). Files land via atomic
    // rename so the source never reads a partial block.
    if (sustained) {
      val rate = if (args.length > 1) args(1).toDouble else 2.5
      val secs = if (args.length > 2) args(2).toInt else 180
      // Round 12 (verdict #6): the single feeder thread hit its own
      // ceiling near 40 blocks/s (~40 MB/s of JSON string assembly +
      // write per block), leaving the ENGINE's knee unmeasured. The
      // feeder now shards block production across `writers` threads
      // (block b belongs to thread b mod writers; every thread paces
      // against the same global schedule tStart + b·tick, so the
      // arrival process is unchanged) and draws transaction bodies
      // from a 64-entry prebuilt pool — the body is the expensive
      // build, the header (unique blockTime, the latency key) stays
      // per-block. Downstream parses every byte either way (nothing
      // caches JSON content), so engine-side work per block is
      // unchanged; only the feeder ceiling moves.
      val writers = if (args.length > 3) args(3).toInt
        else math.min(4, math.max(1, math.ceil(rate / 15.0).toInt))
      val n = math.max(1, (rate * secs).toInt)
      val sdir = Files.createTempDirectory("graft-streambench-sus")
      val landT = new java.util.concurrent.atomic.AtomicLongArray(n)
      val lats = scala.collection.mutable.ArrayBuffer.empty[Double]
      val batchSizes = scala.collection.mutable.ArrayBuffer.empty[Int]
      @volatile var seen = 0L
      @volatile var lastDone = 0L
      val q = streaming.Streams.tokenFlowsStream(spark,
        sdir.toString, hot, watchlists, prices, blocksPerTrigger = 0,
        trigger = org.apache.spark.sql.streaming.Trigger
          .ProcessingTime("200 milliseconds")) { (df: DataFrame, _) =>
        val ids = df.select(col("timestamp")).distinct().collect()
          .map(_.getLong(0) - 1700000000L)
        if (ids.nonEmpty) {
          val done = System.nanoTime()
          // lats/seen are touched only here: foreachBatch sinks run
          // serially on the query thread
          ids.foreach(b => lats += (done - landT.get(b.toInt)) / 1e9)
          batchSizes += ids.length
          seen += ids.length
          lastDone = done
        }
      }
      val tick = (1e9 / rate).toLong
      val bodyPool = (0 until 64).map(b =>
        (0 until txPer).map(t => tx(b, t)).mkString(","))
      val latch = new java.util.concurrent.CountDownLatch(writers)
      val tStart = System.nanoTime()
      // a writer that dies on an uncaught IO exception must still
      // count down (finally) and surface its error — otherwise the
      // await below would hang forever instead of failing loudly
      val writerErr =
        new java.util.concurrent.atomic.AtomicReference[Throwable](null)
      (0 until writers).foreach { w =>
        val th = new Thread(() => {
          try {
            var b = w
            while (b < n) {
              val due = tStart + b.toLong * tick
              var now = System.nanoTime()
              while (now < due) {
                Thread.sleep(math.max(1L, (due - now) / 2000000L))
                now = System.nanoTime()
              }
              val block = s"""{"result":{"blockTime":${1700000000L + b},""" +
                s""""transactions":[${bodyPool(b % 64)}]}}"""
              val tmp = Paths.get(sdir.toString, f".b$b%06d.json.tmp")
              Files.writeString(tmp, block)
              landT.set(b, System.nanoTime())
              Files.move(tmp, Paths.get(sdir.toString, f"b$b%06d.json"),
                java.nio.file.StandardCopyOption.ATOMIC_MOVE)
              b += writers
            }
          } catch {
            case t: Throwable => writerErr.compareAndSet(null, t)
          } finally latch.countDown()
        })
        th.setDaemon(true)
        th.setName(s"streambench-feeder-$w")
        th.start()
      }
      // feed takes ~secs by construction; 5 min of slack before we
      // call the run wedged rather than slow
      require(latch.await(secs + 300L, java.util.concurrent.TimeUnit.SECONDS),
        s"feeder did not finish within ${secs + 300} s")
      if (writerErr.get != null)
        throw new RuntimeException("feeder thread failed", writerErr.get)
      val feedEnd = System.nanoTime()
      // drain: everything fed must come out; 120 s grace
      val deadline = feedEnd + 120L * 1000000000L
      while (seen < n && System.nanoTime() < deadline) Thread.sleep(100)
      q.stop(); q.awaitTermination(60000)
      val sorted = lats.sorted
      def pct(p: Double) =
        sorted(math.min(sorted.size - 1, (p * sorted.size).toInt))
      val consumedRate = seen.toDouble /
        ((lastDone - tStart) / 1e9)
      val blockMb = bodyPool.map(_.length.toLong).sum / 64.0 / 1e6
      println(f"[streambench] SUSTAINED [$rate%.1f blocks/s arrival, " +
        f"$secs s, $writers writer(s), $txPer tx/block = " +
        f"$blockMb%.1f MB/block]: fed $n, consumed $seen in " +
        f"${batchSizes.size} " +
        f"batches (max ${if (batchSizes.isEmpty) 0 else batchSizes.max}" +
        f"/batch) -> $consumedRate%.2f blocks/s, latency " +
        f"p50=${pct(0.50)}%.2f s p99=${pct(0.99)}%.2f s " +
        f"max=${sorted.last}%.2f s")
      require(seen == n, s"sustained run dropped blocks: $seen of $n")
      spark.stop(); return
    }

    // --- streaming modes: per-block trigger (the reference's cadence —
    // its mailbox hands the parser one block at a time), grouped
    // triggers (the engine's natural micro-batching), and uncapped
    // (the backfill shape)
    for (bpt <- Seq(1, 4, 0)) {
      var rows = 0L
      var batches = 0
      val sinkTimes = scala.collection.mutable.ArrayBuffer.empty[Double]
      val t0 = System.nanoTime()
      val q = streaming.Streams.tokenFlowsStream(spark,
        dir.getAbsolutePath, hot, watchlists, prices,
        blocksPerTrigger = bpt) { (df: DataFrame, _: Long) =>
        val s0 = System.nanoTime()
        rows += df.count(); batches += 1
        sinkTimes += (System.nanoTime() - s0) / 1e9
      }
      q.awaitTermination(600000)
      val dt = (System.nanoTime() - t0) / 1e9
      val st = sinkTimes.toSeq
      val label = if (bpt > 0) s"$bpt block(s)/trigger" else "uncapped"
      println(f"[streambench] STREAM [$label]: $batches batches, $rows " +
        f"rows, $dt%.1f s -> ${nBlocks / dt}%.1f blocks/s, " +
        f"${totalBytes / 1e6 / dt}%.1f MB/s  (sink first=${st.head}%.2f " +
        f"median=${st.sorted.apply(st.size / 2)}%.3f sum=${st.sum}%.1f s)")
    }
    // --- engine floor: the same per-block trigger with a TRIVIAL sink
    // (raw count, no flagship plan) — isolates the streaming machinery
    // (source listing, offset/commit logs, incremental planning of a
    // scan) from the flagship's per-batch analysis+broadcast cost
    locally {
      val t0 = System.nanoTime()
      var batches = 0
      val raw = spark.readStream.schema(domain.BlockSchema.block)
        .option("maxFilesPerTrigger", 1).json(dir.getAbsolutePath)
      val q = raw.writeStream
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (df: DataFrame, _: Long) =>
          df.count(); batches += 1; ()
        }
        .start()
      q.awaitTermination(600000)
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"[streambench] FLOOR [1 block/trigger, raw-count sink]: " +
        f"$batches batches, $dt%.1f s -> ${nBlocks / dt}%.1f blocks/s " +
        "(streaming machinery alone, no flagship plan)")
    }

    // --- batch mode: the same flagship over all blocks in ONE job —
    // the amortized form (what catch-up/backfill runs look like)
    val t1 = System.nanoTime()
    val n2 = graft.domain.Rugpull.tokenFlows(
      graft.domain.Rugpull.parseBlocks(spark, dir.getAbsolutePath),
      hot, watchlists, prices).count()
    val dt2 = (System.nanoTime() - t1) / 1e9
    println(f"[streambench] BATCH: $n2 ledger rows, $dt2%.1f s -> " +
      f"${nBlocks / dt2}%.1f blocks/s, ${totalBytes / 1e6 / dt2}%.1f MB/s")
    spark.stop()
  }
}
