package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.prop.TableDrivenPropertyChecks

import graft.SparkSpec

class OperatorsSpec extends SparkSpec with TableDrivenPropertyChecks {
  import spark.implicits._

  test("Joins.semiFilter keeps only watch-listed keys") {
    val fact = Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "v")
    val watch = Seq(1, 3).toDF("wk")
    val r = Joins.semiFilter(fact, "k", watch, "wk")
      .collect().map(_.getInt(0)).sorted
    assert(r.toSeq === Seq(1, 3))
  }

  test("Joins.arraysOverlapFilter matches any of several array columns") {
    val df = Seq(
      (1, Seq("a", "b"), Seq.empty[String]),
      (2, Seq.empty[String], Seq("hot1")),
      (3, Seq("x"), Seq("y")))
      .toDF("id", "keys", "loaded")
    val r = Joins.arraysOverlapFilter(df, Seq("keys", "loaded"),
      Seq("hot1", "b")).select("id").collect().map(_.getInt(0)).sorted
    assert(r.toSeq === Seq(1, 2))
  }

  test("Joins.positionalTag indexes the array and tags watch-list hits") {
    val df = Seq((7, Seq("cold", "hot", "cold2"))).toDF("id", "arr")
    val r = Joins.positionalTag(df, "arr", Seq("hot"))
      .select("pos", "elem", "hit").collect()
      .map(x => (x.getInt(0), x.getString(1), Option(x.getString(2))))
    assert(r.toSeq === Seq((0, "cold", None), (1, "hot", Some("hot")),
      (2, "cold2", None)))
  }

  test("Joins.asOfJoin picks latest right value at or before left ts") {
    val left = Seq(("u", 10L, 1L), ("u", 20L, 2L), ("u", 5L, 3L))
      .toDF("k", "ts", "id")
    val right = Seq(("u", 8L, 100.0), ("u", 15L, 200.0), ("u", 20L, 300.0))
      .toDF("k", "ts", "v")
    val r = Joins.asOfJoin(left, right, "k", "ts", "v", "asof", $"id")
      .orderBy($"id").select($"id", $"asof").collect()
    assert(r.map(x => (x.getLong(0), Option(x.get(1)))).toSeq === Seq(
      (1L, Some(100.0)),   // ts=10 → right@8
      (2L, Some(300.0)),   // ts=20 → right@20 (tie: right visible)
      (3L, None)))         // ts=5 → nothing before
  }

  test("Joins.bucketedRangeJoin equals the brute cross+filter, " +
      "including intervals spanning many buckets and exact endpoints") {
    val vals = (0L until 200L).map(v => (v, s"v$v")).toDF("x", "tag")
    // overlapping intervals, one spanning 8 buckets, endpoints ON
    // bucket boundaries (the off-by-one class), one empty-range [60,59]
    val ivs = Seq((1L, 0L, 15L), (2L, 10L, 90L), (3L, 32L, 32L),
      (4L, 31L, 33L), (5L, 60L, 59L), (6L, 150L, 199L))
      .toDF("iv", "lo", "hi")
    val got = Joins.bucketedRangeJoin(vals, $"x", ivs, $"lo", $"hi", 10L)
      .select($"iv", $"x").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val want = (for {
      v <- 0L until 200L
      (iv, lo, hi) <- Seq((1L, 0L, 15L), (2L, 10L, 90L), (3L, 32L, 32L),
        (4L, 31L, 33L), (5L, 60L, 59L), (6L, 150L, 199L))
      if v >= lo && v <= hi
    } yield (iv, v)).toSet
    assert(got === want)
    assert(!want.exists(_._1 == 5L), "empty interval matches nothing")
  }

  test("Joins.bucketedRangeJoin: seeded random trials across bucket " +
      "sizes equal the brute force") {
    val rnd = new scala.util.Random(13)
    (0 until 12).foreach { trial =>
      val bucket = 1L << rnd.nextInt(7) // 1..64
      val vals = (0 until 120).map(_ => rnd.nextInt(400).toLong)
        .zipWithIndex.map { case (v, i) => (i.toLong, v) }
      val ivs = (0 until 25).map { i =>
        val lo = rnd.nextInt(400).toLong
        (i.toLong, lo, lo + rnd.nextInt(80) - 5) // some inverted/empty
      }
      val got = Joins.bucketedRangeJoin(vals.toDF("vid", "x"), $"x",
          ivs.toDF("iv", "lo", "hi"), $"lo", $"hi", bucket)
        .select($"iv", $"vid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val want = (for {
        (vid, v) <- vals; (iv, lo, hi) <- ivs
        if v >= lo && v <= hi
      } yield (iv, vid)).toSet
      assert(got === want, s"trial $trial bucket=$bucket")
    }
  }

  test("Packing.prefixMaxExclusive equals a local exclusive scan, " +
      "groups independent, first row gets MinValue") {
    val rnd = new scala.util.Random(17)
    val rows = (0 until 400).map(j =>
      (rnd.nextInt(3).toLong, j.toLong, rnd.nextInt(1000).toLong))
    val got = Packing.prefixMaxExclusive(
        rows.toDF("g", "ord", "v").repartition(7),
        Seq("g"), Seq("ord"), "v", "pm")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(3)).toMap
    val want = rows.groupBy(_._1).flatMap { case (g, rs) =>
      var run = Long.MinValue
      rs.sortBy(_._2).map { case (_, o, v) =>
        val before = run; run = math.max(run, v)
        (g, o) -> before
      }
    }
    assert(got === want)
    assert(want.count(_._2 == Long.MinValue) === 3,
      "exactly one identity row per group")
  }

  test("PrePostMerge.mergeAgg last-write-wins and full-outer") {
    val tagged = Seq(
      ("k1", "pre", 1.0, 1), ("k1", "pre", 2.0, 2), // LWW → 2.0
      ("k1", "post", 9.0, 1),
      ("k2", "pre", 5.0, 1),                        // pre-only
      ("k3", "post", 7.0, 1))                       // post-only
      .toDF("k", "side", "v", "ord")
    val m = PrePostMerge.mergeAgg(tagged, Seq("k"), "side", "v", $"ord")
      .orderBy($"k").collect()
    assert(m.map(r => (r.getString(0), Option(r.get(1)), Option(r.get(2))))
      .toSeq === Seq(
      ("k1", Some(2.0), Some(9.0)),
      ("k2", Some(5.0), None),
      ("k3", None, Some(7.0))))
  }

  test("PrePostMerge.merge (window+join form) agrees with mergeAgg") {
    val pre = Seq(("k1", 1.0, 1), ("k1", 2.0, 2), ("k2", 5.0, 1))
      .toDF("k", "v", "ord")
    val post = Seq(("k1", 9.0, 1), ("k3", 7.0, 1)).toDF("k", "v", "ord")
    val m = PrePostMerge.merge(pre, post, Seq("k"), "v", Seq($"ord"))
      .orderBy($"k").collect()
    assert(m.map(r => (r.getString(0), Option(r.get(1)), Option(r.get(2))))
      .toSeq === Seq(
      ("k1", Some(2.0), Some(9.0)),
      ("k2", Some(5.0), None),
      ("k3", None, Some(7.0))))
  }

  test("ChangeSuppression.suppress compares to last EMITTED value") {
    // 100 → 105 (suppressed, 5%) → 112 (emitted vs 100: 12%) → 113
    // (suppressed vs 112) → 130 (emitted vs 112: 16%)
    val df = Seq(("p", 1L, 1L, 100.0), ("p", 2L, 2L, 105.0),
      ("p", 3L, 3L, 112.0), ("p", 4L, 4L, 113.0), ("p", 5L, 5L, 130.0))
      .toDF("k", "ts", "id", "v")
    val r = ChangeSuppression.suppress(df, "k", "ts", "id", "v", 0.1)
      .orderBy("ts").collect().map(_.getDouble(3))
    assert(r.toSeq === Seq(100.0, 112.0, 130.0))
  }

  test("ChangeSuppression.suppress streams a large single-key history") {
    // one hot key with 50k rows, shuffled input order: the secondary-sort
    // form must restore ts order and match the sequential reference
    val n = 50000
    val rng = new scala.util.Random(11)
    val series = (1 to n).map(i => (i.toLong, 100.0 + rng.nextInt(40)))
    val df = rng.shuffle(series)
      .map { case (ts, v) => ("hot", ts, ts, v) }.toDF("k", "ts", "id", "v")
    val got = ChangeSuppression.suppress(df, "k", "ts", "id", "v", 0.1)
      .orderBy("ts").collect().map(r => (r.getLong(1), r.getDouble(3)))
    var last = Double.NaN
    val expect = series.filter { case (_, v) =>
      val emit = last.isNaN || math.abs(v - last) > math.abs(last) * 0.1
      if (emit) last = v
      emit
    }
    assert(got.length === expect.length)
    assert(got.toSeq === expect.toSeq)
  }

  test("ChangeSuppression.lagFilter compares to previous OBSERVED value") {
    // same series: 105 suppressed (vs 100), 112 suppressed (vs 105: 6.7%)!
    val df = Seq(("p", 1L, 1L, 100.0), ("p", 2L, 2L, 105.0),
      ("p", 3L, 3L, 112.0), ("p", 4L, 4L, 113.0), ("p", 5L, 5L, 130.0))
      .toDF("k", "ts", "id", "v")
    val r = ChangeSuppression.lagFilter(df, "k", $"ts", "v", 0.1)
      .orderBy("ts").collect().map(_.getDouble(3))
    assert(r.toSeq === Seq(100.0, 130.0))
  }

  test("Dedup.exactGroups collapses identical texts") {
    val df = Seq((1L, "same text"), (2L, "same text"), (3L, "other"))
      .toDF("id", "t")
    val r = Dedup.exactGroups(df, "t", "id").orderBy($"keep_id").collect()
    assert(r.map(x => (x.getLong(1), x.getLong(2))).toSeq ===
      Seq((1L, 2L), (3L, 1L)))
  }

  test("Dedup.minHashCandidates surfaces a planted near-dup pair") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val docs = (Seq((1L, base), (2L, base + " phi")) ++
      (3L to 40L).map(i => (i, s"totally different doc number $i with " +
        s"unique words w${i}a w${i}b w${i}c w${i}d w${i}e w${i}f")))
      .toDF("id", "t")
    val cands = Dedup.minHashCandidates(docs, "t", "id", shingleWords = 2,
      k = 32, bands = 16)
    val pairs = cands.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
  }

  test("Dedup.exactJaccard computes the true set similarity") {
    val docs = Seq((1L, "a b c d"), (2L, "a b c e")).toDF("id", "t")
    val pairs = Seq((1L, 2L)).toDF("id_a", "id_b")
    val j = Dedup.exactJaccard(docs, "t", "id", pairs, shingleWords = 2)
      .collect()(0).getAs[Double]("jaccard")
    // 2-gram sets: {ab,bc,cd} vs {ab,bc,ce}: |∩|=2 |∪|=4 → 0.5
    assert(j === 0.5)
  }

  test("dupClusters pointer doubling: long chain converges in O(log n)") {
    // a 200-link chain is the adversarial case for plain neighbor-min
    // propagation (200 rounds = 200 shuffles); pointer doubling must
    // finish in ~log2(200)+slack rounds with the correct single cluster
    val n = 200
    val pairs = (0 until n - 1).map(i => (i.toLong, (i + 1).toLong))
      .toDF("id_a", "id_b")
    val (df, rounds) = Dedup.dupClustersStats(pairs, "id_a", "id_b")
    val labels = df.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(labels.length === n)
    assert(labels.forall(_._2 == 0L))
    assert(rounds <= 12, s"rounds=$rounds")
    df.unpersist()
  }

  test("CollectCapped keeps complete small groups, nulls out hot keys") {
    val df = ((1L to 6L).map(v => ("hot", v)) ++
      Seq(("cold", 10L), ("cold", 11L), ("lone", 7L))).toDF("k", "v")
      .repartition(4) // force partial/merge paths
    val out = df.groupBy($"k")
      .agg(graft.functions.CollectCapped(3)($"v").as("ids"))
      .collect().map(r => r.getString(0) ->
        Option(r.getSeq[Long](1)).map(_.sorted)).toMap
    assert(out("hot") === None)          // 6 members > cap 3 → NULL
    assert(out("cold") === Some(Seq(10L, 11L))) // complete, untruncated
    assert(out("lone") === Some(Seq(7L)))
  }

  test("set-based candidate gen + verify match the string-based forms") {
    // 30 docs: one planted near-dup pair sharing rare shingles, the rest
    // unique; plus a stop shingle present in every doc (df > maxDf).
    val stop = "common filler words here"
    val docs = (Seq(
      (1L, s"$stop the quick brown fox jumps over the lazy dog today"),
      (2L, s"$stop the quick brown fox jumps over the lazy cat today")) ++
      (3L to 30L).map(i => (i, s"$stop unique u${i}a u${i}b u${i}c " +
        s"u${i}d u${i}e u${i}f u${i}g")))
      .toDF("doc_id", "text")
    val sets = Dedup.hashedShingleSets(docs, "text", "doc_id", 3)
    val fromSets = Dedup.rareShinglePairsFromSets(sets, maxDf = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val fromStrings = Dedup.rareShinglePairs(docs, "text", "doc_id",
      shingleWords = 3, maxDf = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fromSets === fromStrings)
    assert(fromSets.contains((1L, 2L)))
    val pairs = Seq((1L, 2L)).toDF("id_a", "id_b")
    val jHash = Dedup.jaccardFromSets(sets, pairs)
      .collect()(0).getAs[Double]("jaccard")
    val jStr = Dedup.exactJaccard(docs, "text", "doc_id", pairs, 3)
      .collect()(0).getAs[Double]("jaccard")
    assert(jHash === jStr)
  }

  test("Dedup.containment flags eval docs covered by the train corpus") {
    val train = Seq((1L, "a b c d e f"), (2L, "g h i j k l"))
      .toDF("doc_id", "text")
    val eval = Seq(
      (10L, "a b c d e f"),   // fully contained
      (11L, "x y z w v u"))   // disjoint
      .toDF("doc_id", "text")
    val r = Dedup.containment(
        Dedup.hashedShingleSets(train, "text", "doc_id", 2),
        Dedup.hashedShingleSets(eval, "text", "doc_id", 2))
      .collect().map(x => x.getLong(0) ->
        (x.getLong(1), x.getLong(2), x.getDouble(3))).toMap
    assert(r(10L) === ((5L, 5L, 1.0)))
    assert(r(11L) === ((5L, 0L, 0.0)))
  }

  test("containmentApprox upper-bounds exact containment, no false negs") {
    val train = (1L to 40L).map(i =>
      (i, s"train doc t${i}a t${i}b t${i}c t${i}d t${i}e"))
      .toDF("doc_id", "text")
    val eval = Seq(
      (100L, "train doc t1a t1b t1c t1d t1e"),   // contained
      (101L, "novel words only q r s t u v w"))  // disjoint
      .toDF("doc_id", "text")
    val tr = Dedup.hashedShingleSets(train, "text", "doc_id", 2)
    val ev = Dedup.hashedShingleSets(eval, "text", "doc_id", 2)
    val exact = Dedup.containment(tr, ev)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val approx = Dedup.containmentApprox(tr, ev, expectedItems = 1000)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    // no false negatives: approx >= exact per doc; and the fully
    // contained doc must read exactly 1.0
    exact.foreach { case (id, e) => assert(approx(id) >= e) }
    assert(approx(100L) === 1.0)
  }

  test("containmentApproxSharded matches the bound of the single filter") {
    val train = (1L to 60L).map(i =>
      (i, s"train doc t${i}a t${i}b t${i}c t${i}d t${i}e"))
      .toDF("doc_id", "text")
    val eval = Seq(
      (100L, "train doc t7a t7b t7c t7d t7e"),   // contained
      (101L, "nothing shared here at all okay")) // disjoint
      .toDF("doc_id", "text")
    val tr = Dedup.hashedShingleSets(train, "text", "doc_id", 2)
    val ev = Dedup.hashedShingleSets(eval, "text", "doc_id", 2)
    val exact = Dedup.containment(tr, ev)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val sharded = Dedup.containmentApproxSharded(tr, ev, shards = 4,
      expectedItems = 2000)
    val s = sharded.collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    // upper bound with no false negatives, and full containment exact
    exact.foreach { case (id, e) => assert(s(id) >= e) }
    assert(s(100L) === 1.0)
    assert(sharded.columns.toSeq ===
      Seq("id", "n_shingles", "n_matched", "containment"))
  }

  test("storage-backed Bloom shards: write once, probe without driver") {
    val train = (1L to 60L).map(i =>
      (i, s"train doc t${i}a t${i}b t${i}c t${i}d t${i}e"))
      .toDF("doc_id", "text")
    val eval = Seq(
      (100L, "train doc t7a t7b t7c t7d t7e"),   // contained
      (101L, "nothing shared here at all okay")) // disjoint
      .toDF("doc_id", "text")
    val tr = Dedup.hashedShingleSets(train, "text", "doc_id", 2)
    val ev = Dedup.hashedShingleSets(eval, "text", "doc_id", 2)
    val exact = Dedup.containment(tr, ev)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val dir = java.nio.file.Files
      .createTempDirectory("bloom_shards").toString
    try {
      Dedup.writeShardedBloom(tr, shards = 4, expectedItems = 2000, dir)
      // the reducer tasks wrote one file per non-empty shard
      // ignore Hadoop LocalFileSystem's .crc sidecars
      val files = new java.io.File(dir).list().toSeq
        .filterNot(_.startsWith("."))
      assert(files.nonEmpty && files.forall(_.matches("shard-\\d+\\.bloom")))
      val stored = Dedup.containmentApproxStored(ev, shards = 4, dir)
      val s = stored.collect()
        .map(r => r.getLong(0) -> r.getDouble(3)).toMap
      // same upper-bound contract as the single-filter and cogroup forms
      exact.foreach { case (id, e) => assert(s(id) >= e) }
      assert(s(100L) === 1.0)
      assert(stored.columns.toSeq ===
        Seq("id", "n_shingles", "n_matched", "containment"))
      // shard count mismatch ≠ silent wrong answers is NOT detectable
      // here (filters are opaque), but a missing dir must not throw:
      // every probe simply misses
      val empty = java.nio.file.Files
        .createTempDirectory("bloom_none").toString
      val none = Dedup.containmentApproxStored(ev, shards = 4, empty)
        .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
      assert(none.values.forall(_ === 0.0))
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
      }
      rm(new java.io.File(dir))
    }
  }

  test("TextAnalysis.removeDupSpans cuts covered tokens, keeps the rest") {
    val span = (1 to 8).map(i => s"m$i").mkString(" ")
    val docs = Seq(
      (1L, s"$span x y"),        // span at pos 0 → keep "x y"
      (2L, s"z $span w"),        // same span at pos 1 → keep "z w"
      (3L, "too short to span"), // < 8 tokens: untouched
      (4L, s"$span $span"))      // same-doc repeat: fully removed
      .toDF("doc_id", "text")
    val r = TextAnalysis.removeDupSpans(docs, "text", "doc_id", 8)
      .collect().map(x => x.getAs[Long]("id") ->
        (x.getAs[Long]("n_tok"), x.getAs[Long]("n_removed"),
          x.getAs[String]("kept_text"))).toMap
    assert(r(1L) === ((10L, 8L, "x y")))
    assert(r(2L) === ((10L, 8L, "z w")))
    assert(r(3L) === ((4L, 0L, "too short to span")))
    // the two same-doc occurrences count toward minOccur and the
    // boundary-crossing spans (each unique) must NOT extend coverage
    assert(r(4L) === ((16L, 16L, "")))
  }

  test("TextAnalysis.repetitionStats measures dup and top-token ratios") {
    val docs = Seq(
      (1L, "a a a a b"),        // 5 words, 2 distinct, top=4
      (2L, "p q r s"),          // no repetition
      (3L, "   "))              // token-less: absent from output
      .toDF("doc_id", "text")
    val r = TextAnalysis.repetitionStats(docs, "text", "doc_id")
      .collect().map(x => x.getLong(0) ->
        (x.getLong(1), x.getLong(2), x.getDouble(3), x.getDouble(4))).toMap
    assert(r(1L) === ((5L, 2L, 0.6, 0.8)))
    assert(r(2L) === ((4L, 4L, 0.0, 0.25)))
    assert(!r.contains(3L))
  }

  test("TextAnalysis.redact scrubs matches and renormalizes spacing") {
    val df = Seq("mail me at bob@x.com or sue@y.org today").toDF("t")
    val pat = "[a-z]+@[a-z.]+[a-z]"
    val r = df.select(
      TextAnalysis.redact($"t", pat).as("clean"),
      TextAnalysis.redact($"t", pat, "<PII>").as("marked"),
      TextAnalysis.matchCount($"t", pat).as("n"),
      // $ and \ in the marker must be literal, never group references
      // ("$0" re-inserting the matched PII is the nightmare case)
      TextAnalysis.redact($"t", pat, "<$0\\>").as("dollar")).collect()(0)
    assert(r.getString(0) === "mail me at or today")
    assert(r.getString(1) === "mail me at <PII> or <PII> today")
    assert(r.getInt(2) === 2)
    assert(r.getString(3) === "mail me at <$0\\> or <$0\\> today")
  }

  test("rareShinglePairsFromSets: null ids count toward df, never pair") {
    // shingle "x y z" is shared by two real docs + one null-id doc;
    // with maxDf = 2 the null row pushes df to 3 → NO candidates, same
    // as the string-based join form (nulls fall out only at the pair
    // predicate there)
    val docs = Seq[(Option[Long], String)](
      (Some(1L), "x y z"), (Some(2L), "x y z"), (None, "x y z"))
      .toDF("doc_id", "text")
    val sets = Dedup.hashedShingleSets(docs, "text", "doc_id", 3)
    val viaSets = Dedup.rareShinglePairsFromSets(sets, maxDf = 2).count()
    val viaStrings = Dedup.rareShinglePairs(docs, "text", "doc_id",
      shingleWords = 3, maxDf = 2).count()
    assert(viaSets === viaStrings)
    assert(viaSets === 0L)
    // at maxDf = 3 the pair of REAL docs emerges; the null never pairs
    val pairs3 = Dedup.rareShinglePairsFromSets(sets, maxDf = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pairs3 === Seq((1L, 2L)))
  }

  test("Packing.prefixSum equals the window running sum, any partitioning") {
    import org.apache.spark.sql.expressions.Window
    val df = (1 to 500).map(i => (s"g${i % 3}", i.toLong, (i % 7).toLong))
      .toDF("g", "ord", "v").repartition(13) // scrambled input
    val viaOp = Packing.prefixSum(df, Seq("g"), Seq("ord"), "v", "cum")
      .select($"g", $"ord", $"cum")
    val w = Window.partitionBy($"g").orderBy($"ord")
      .rowsBetween(Window.unboundedPreceding, 0)
    val viaWin = df.select($"g", $"ord", sum($"v").over(w).as("cum"))
    assert(viaOp.except(viaWin).isEmpty && viaWin.except(viaOp).isEmpty)
    spark.catalog.clearCache() // prefixSum persists its sorted input
  }

  test("Packing.prefixSum: negatives, nulls, many groups — still window") {
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(42)
    val df = (1 to 800).map { i =>
      (s"g${i % 37}", i.toLong,
        if (i % 11 == 0) None else Some(rnd.nextInt(201).toLong - 100))
    }.toDF("g", "ord", "v").repartition(9)
    val viaOp = Packing.prefixSum(df, Seq("g"), Seq("ord"), "v", "cum")
      .select($"g", $"ord", $"cum")
    val w = Window.partitionBy($"g").orderBy($"ord")
      .rowsBetween(Window.unboundedPreceding, 0)
    // operator treats null v as 0 — mirror with coalesce
    val viaWin = df.select($"g", $"ord",
      sum(coalesce($"v", lit(0L))).over(w).as("cum"))
    assert(viaOp.except(viaWin).isEmpty && viaWin.except(viaOp).isEmpty)
    spark.catalog.clearCache() // prefixSum persists its sorted input
  }

  test("Packing.tokenPacking window stats match a hand-computed layout") {
    // stream g: docs of 4,3,5 tokens, budget 6 → doc1 [0,3] pack0;
    // doc2 [4,6] starts pack0, straddles into pack1; doc3 [7,11] pack1
    val docs = Seq(("g", 1L, 4), ("g", 2L, 3), ("g", 3L, 5))
      .toDF("lang", "doc_id", "n_tok")
    val r = Packing.tokenPacking(docs, "lang", "doc_id", "n_tok", 6L)
      .orderBy($"pack_id")
      .collect().map(x => (x.getLong(1), x.getLong(2), x.getLong(3),
        x.getLong(4)))
    assert(r.toSeq === Seq((0L, 2L, 7L, 1L), (1L, 1L, 5L, 0L)))
  }

  test("Diff.snapshotDiff classifies added/removed/changed/unchanged") {
    val oldSnap = Seq((1L, "same"), (2L, "before"), (3L, "gone"))
      .toDF("id", "text")
    val newSnap = Seq((1L, "same"), (2L, "after"), (4L, "fresh"))
      .toDF("id", "text")
    val d = Diff.snapshotDiff(oldSnap, newSnap, "id", df => md5(df("text")))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(d === Map(1L -> "unchanged", 2L -> "changed",
      3L -> "removed", 4L -> "added"))
  }

  test("Sinks.writePartitioned: hive layout, pruned reads, sorted files") {
    val out = java.nio.file.Files
      .createTempDirectory("graft-sink").toFile.getAbsolutePath
    val df = (1 to 300).map(i =>
      (if (i % 3 == 0) "en" else "de", (i * 37) % 101, s"doc$i"))
      .toDF("lang", "score", "body").repartition(7)
    Sinks.writePartitioned(df, out, Seq("lang"), Seq("score"))
    // hive directory layout per partition value
    val dirs = new java.io.File(out).listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.toSeq === Seq("lang=de", "lang=en"))
    // a lang filter prunes to that directory's files only
    val back = spark.read.parquet(out)
    val scan = back.filter($"lang" === "en").queryExecution.executedPlan
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
    // the filter must land in PartitionFilters (directory pruning), not
    // as a post-scan data filter
    assert(scan.nonEmpty &&
      scan.head.metadata("PartitionFilters").contains("(lang"),
      scan.head.metadata("PartitionFilters"))
    // round trip is lossless (partition column comes back LAST — align
    // by name before the positional except)
    val aligned = back.select($"lang", $"score", $"body")
    assert(aligned.count() === 300)
    assert(aligned.except(df).isEmpty && df.except(aligned).isEmpty)
  }

  test("Similarity.cosine of identical vectors is 1, orthogonal is 0") {
    val df = Seq((Array(1.0f, 0.0f), Array(1.0f, 0.0f), Array(0.0f, 1.0f)))
      .toDF("a", "b", "c")
    val r = df.select(
      Similarity.cosine($"a", $"b").as("same"),
      Similarity.cosine($"a", $"c").as("orth")).collect()(0)
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
    assert(math.abs(r.getDouble(1)) < 1e-12)
  }

  test("Similarity.marginMine: mutual-best pairs, margins above the " +
      "neighborhood average, hub suppressed") {
    // s0 pairs with t1, s2 with t3; t5 is a HUB (diagonal — close to
    // both sources) that must win neither source despite decent raw
    // cosine, and every true pair's margin must exceed 1 (its cosine
    // beats its own neighborhood average by construction)
    val src = Seq((0L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)))
      .toDF("src_id", "__sv")
    val tgt = Seq((1L, Array(1.0f, 0.1f)), (3L, Array(0.1f, 1.0f)),
        (5L, Array(0.7f, 0.7f)))
      .toDF("tgt_id", "__tv")
    val scored = tgt.crossJoin(broadcast(src))
      .select($"src_id", $"tgt_id",
        Similarity.cosine($"__tv", $"__sv").as("s"))
    spark.catalog.clearCache() // isolate the no-leak assertion below
    val out = Similarity.marginMine(scored, k = 2)
      .orderBy($"src_id").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      Seq((0L, 1L), (2L, 3L)))
    assert(out.forall(_.getBoolean(4)), "both true pairs are mutual")
    assert(out.forall(_.getDouble(3) > 1.0), "margins > 1")
    // round-13 verdict item: marginMine must not leak a cached table
    // into a long-lived session — the exchange-reuse form caches
    // nothing at all
    assert(org.apache.spark.sql.graft.TestBridge.cacheIsEmpty(spark),
      "marginMine left a cached table behind")
  }

  test("Similarity.marginMine: a side with fewer than k candidates " +
      "averages the candidates it has (no NULL margins)") {
    // src 0 has TWO candidates, src 2 only ONE; with k = 3 both are
    // below k, so both means divide by the actual candidate count —
    // the previous >= k contract emitted NULL margins here. tgt 1 is
    // shared (two sources), tgt 3 has one.
    val scored = Seq(
      (0L, 1L, 0.9), (0L, 3L, 0.5), (2L, 1L, 0.7)
    ).toDF("src_id", "tgt_id", "s")
    val out = Similarity.marginMine(scored, k = 3)
      .orderBy($"src_id").collect()
    assert(out.length === 2)
    // src 0: ax = (0.9+0.5)/2; tgt 1: ay = (0.9+0.7)/2; margin exact
    val m0 = 0.9 / (((0.9 + 0.5) / 2 + (0.9 + 0.7) / 2) / 2)
    assert(out(0).getLong(1) === 1L && out(0).getDouble(3) === m0)
    // src 2 lost tgt 1's backward-best to src 0 → not mutual
    assert(out(0).getBoolean(4) && !out(1).getBoolean(4))
    // src 2: ax = 0.7/1; tgt 1's ay as above
    val m2 = 0.7 / ((0.7 + (0.9 + 0.7) / 2) / 2)
    assert(out(1).getLong(1) === 1L && out(1).getDouble(3) === m2)
    assert(out.forall(!_.isNullAt(3)), "no NULL margins")
  }

  test("Similarity.kmeans separates two obvious clusters") {
    // two tight cosine clusters: near (1,0,...) and near (0,1,...)
    val mk = (base: Int, j: Int) => {
      val v = Array.fill(4)(0.01f * (j + 1))
      v(base) = 1.0f
      v
    }
    val rows = (0 until 10).map(j => (j.toLong, mk(0, j))) ++
      (10 until 20).map(j => (j.toLong, mk(1, j - 10)))
    val df = rows.toDF("vec_id", "embedding")
    val centroids = Similarity.kmeans(df, "vec_id", "embedding", 2, 3)
    assert(centroids.count() === 2)
    val assigned = Similarity.assignCells(df, "vec_id", "embedding",
      centroids, "cell_id", "cvec")
    val cells = assigned.collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("cell_id")))
      .toMap
    // all of cluster A in one cell, all of cluster B in the other
    assert((0L until 10L).map(cells).toSet.size === 1)
    assert((10L until 20L).map(cells).toSet.size === 1)
    assert(cells(0L) !== cells(10L))
  }

  test("TextAnalysis token counts and ratios") {
    val r = Seq("the cat sat on the mat").toDF("t").select(
      TextAnalysis.tokenCountWs($"t").as("ws"),
      TextAnalysis.stopwordRatio($"t").as("sr")).collect()(0)
    assert(r.getInt(0) === 6)
    assert(math.abs(r.getDouble(1) - 2.0 / 6.0) < 1e-12)
  }

  test("Percentiles.exactMedian matches sort-based median per group") {
    // odd count, even count, duplicated values, single-value group, and a
    // group larger than the bucket count at levels=2/nBuckets=4 so every
    // histogram level actually narrows
    val rng = new scala.util.Random(7)
    val data =
      (1 to 101).map(i => ("odd", rng.nextDouble() * 1000)) ++
      (1 to 100).map(i => ("even", rng.nextDouble() * 1000)) ++
      Seq.fill(50)(("dup", 5.0)) ++ Seq(("dup", 1.0), ("dup", 9.0)) ++
      Seq(("one", 42.0))
    val df = data.toDF("g", "v")
    val got = Percentiles.exactMedian(df, "g", "v", nBuckets = 4, levels = 2)
      .collect().map(r => r.getString(0) ->
        (r.getAs[Double]("median"), r.getAs[Long]("n_mid"))).toMap
    def sortMedian(xs: Seq[Double]): Double = {
      val s = xs.sorted
      val (r1, r2) = ((s.length + 1) / 2, s.length / 2 + 1)
      (s(r1 - 1) + s(r2 - 1)) / 2
    }
    for (g <- Seq("odd", "even", "dup", "one")) {
      val expect = sortMedian(data.filter(_._1 == g).map(_._2))
      assert(math.abs(got(g)._1 - expect) < 1e-12, s"group $g")
    }
    assert(got("odd")._2 === 1L)  // odd n: one rank target
    assert(got("even")._2 === 2L) // even n: two rank targets
    assert(got("one")._2 === 1L)
  }

  test("Percentiles.weightedMedian matches the brute cum-weight reference") {
    // spread group, weight-skewed group (one heavy value dominates),
    // duplicated values whose weights must collapse before ranking, a
    // boundary group where the cum weight lands EXACTLY on W/2, and a
    // singleton; nBuckets=4 so the located bucket genuinely narrows
    val rng = new scala.util.Random(13)
    val data =
      (1 to 200).map(_ => ("spread", rng.nextDouble() * 1000,
        rng.nextInt(9) + 1.0)) ++
      ((1 to 50).map(_ => ("skew", rng.nextDouble() * 10, 1.0)) :+
        (("skew", 999.0, 1000.0))) ++
      Seq(("dup", 5.0, 3.0), ("dup", 5.0, 3.0), ("dup", 1.0, 2.0),
        ("dup", 9.0, 1.0)) ++
      Seq(("half", 1.0, 2.0), ("half", 2.0, 2.0)) ++ // cum(1.0)=W/2
      Seq(("one", 42.0, 7.0))
    val df = data.toDF("g", "v", "w")
    def ref(xs: Seq[(Double, Double)]): Double = {
      val total = xs.map(_._2).sum
      val sorted = xs.groupBy(_._1).view.mapValues(_.map(_._2).sum)
        .toSeq.sortBy(_._1)
      var cum = 0.0
      sorted.find { case (_, w) => cum += w; cum >= total / 2 }.get._1
    }
    val got = Percentiles.weightedMedian(df, "g", "v", "w", nBuckets = 4)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    for (g <- Seq("spread", "skew", "dup", "half", "one")) {
      val expect = ref(data.filter(_._1 == g).map(t => (t._2, t._3)))
      assert(got(g) === expect, s"group $g")
    }
    // zero/negative weights and null values are excluded, not summed
    val guarded = Seq(("z", 1.0, 0.0), ("z", 2.0, -3.0), ("z", 7.0, 1.0))
      .toDF("g", "v", "w")
    assert(Percentiles.weightedMedian(guarded, "g", "v", "w")
      .collect().map(r => r.getDouble(1)).toSeq === Seq(7.0))
  }

  test("Dedup.survivorship: heaviest member wins, ties break to lowest id") {
    val members = Seq(
      // cluster 1: clear weight winner
      (1L, 10L, 5L), (1L, 11L, 9L), (1L, 12L, 3L),
      // cluster 2: weight tie — lowest id must win
      (2L, 20L, 7L), (2L, 21L, 7L),
      // singleton cluster: keeps itself, drops nothing
      (3L, 30L, 4L)).toDF("cluster_id", "id", "w")
    val r = Dedup.survivorship(members, "cluster_id", "id", "w")
      .collect().map(x => x.getLong(0) ->
        (x.getLong(1), x.getLong(2), x.getLong(3), x.getLong(4))).toMap
    assert(r(1L) === ((11L, 3L, 9L, 8L)))
    assert(r(2L) === ((20L, 2L, 7L, 7L)))
    assert(r(3L) === ((30L, 1L, 4L, 0L)))
    // no window in the plan: survivor selection is a hash aggregate
    val p = Dedup.survivorship(members, "cluster_id", "id", "w")
      .queryExecution.executedPlan
    assert(p.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.isEmpty)
  }

  test("Sampling.stratifiedSplit: stable under growth, fractions enforced") {
    val small = (0L until 400L).toDF("id")
    val grown = (0L until 1000L).toDF("id")
    val fr = Seq("train" -> 80, "val" -> 10, "test" -> 10)
    def assign(df: org.apache.spark.sql.DataFrame) =
      Sampling.stratifiedSplit(df, "id", fr)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val a = assign(small)
    val b = assign(grown)
    // growing the corpus never reassigns an existing id — the property
    // random splits lack
    assert(a.forall { case (id, s) => b(id) == s })
    // rough proportions (hash is uniform-ish; exact counts are fixed by
    // determinism, the band just guards against a broken hash)
    val n = b.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(n("train") > 700 && n("train") < 900, n.toString)
    assert(n("val") + n("test") === 1000 - n("train"))
    // every row assigned when fractions sum to 100
    assert(b.values.forall(s => fr.exists(_._1 == s)))
    // partial fractions leave a null remainder instead of inventing one
    val part = Sampling.stratifiedSplit(small, "id", Seq("sample" -> 10))
      .filter($"split".isNull).count()
    assert(part > 300)
    // out-of-contract negative ids still hash into [0, 2^32) (pmod), so
    // every row gets a real split instead of a silent null
    val neg = Sampling.stratifiedSplit(
      Seq(-1L, -42L, -2147483650L).toDF("id"), "id", fr)
    assert(neg.filter($"split".isNull).count() === 0)
    assert(neg.select(Sampling.consistentHash($"id").as("h"))
      .filter($"h" < 0).count() === 0)
    intercept[IllegalArgumentException] {
      Sampling.stratifiedSplit(small, "id", Seq("a" -> 60, "b" -> 50))
    }
  }

  test("Sampling.consistentHash matches its SQL mirror over random ids") {
    // the documented portability contract: any engine evaluating
    // (id % m + m) % m * 2654435761 % 2^32 reproduces the Column form —
    // checked over random ids including negatives and the extremes
    val rng = new scala.util.Random(11)
    val ids = (Seq.fill(2000)(rng.nextLong()) ++
      Seq(Long.MinValue, Long.MaxValue, 0L, -1L, 2147483646L,
        2147483647L)).distinct
    val got = ids.toDF("id")
      .select($"id", Sampling.consistentHash($"id").as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def mirror(id: Long): Long = {
      val m = 2147483647L
      ((id % m) + m) % m * 2654435761L % 4294967296L
    }
    ids.foreach { id =>
      assert(got(id) === mirror(id), s"id=$id")
      assert(got(id) >= 0L && got(id) < 4294967296L, s"range id=$id")
    }
  }

  test("Sampling.consistentSamplePerGroup matches the window form") {
    val df = (1 to 500).map(i => (s"g${i % 4}", i.toLong * 7))
      .toDF("g", "id").repartition(6)
    val got = Sampling.consistentSamplePerGroup(df, Seq("g"), "id", 3)
      .select($"g", $"id")
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"g")
      .orderBy(Sampling.consistentHash($"id").asc, $"id".asc)
    val want = df.withColumn("rn", row_number().over(w))
      .filter($"rn" <= 3).select($"g", $"id")
    assert(got.except(want).isEmpty && want.except(got).isEmpty)
    assert(got.count() === 12)
  }

  test("Sampling.weightedSamplePerGroup: window parity + weight bias") {
    // ids with weight 10 vs weight 0.1 in one group: the A-ES draw must
    // (a) equal the window formulation exactly and (b) actually prefer
    // heavy rows — across ids 1..400, the 10 winners should be mostly
    // heavy (each heavy row's inclusion odds are ~100x a light row's)
    val df = (1L to 400L).map(i =>
      ("g", i, if (i % 2 == 0) 10.0 else 0.1)).toDF("g", "id", "w")
      .repartition(6)
    val got = Sampling.weightedSamplePerGroup(df, Seq("g"), "id", "w", 10)
      .select($"g", $"id")
    val u = (Sampling.consistentHash($"id") + 1).cast("double") /
      4294967296.0
    val win = org.apache.spark.sql.expressions.Window.partitionBy($"g")
      .orderBy((log(u) / $"w").desc, $"id".asc)
    val want = df.withColumn("rn", row_number().over(win))
      .filter($"rn" <= 10).select($"g", $"id")
    assert(got.except(want).isEmpty && want.except(got).isEmpty)
    val ids = got.collect().map(_.getLong(1))
    assert(ids.length === 10)
    assert(ids.count(_ % 2 == 0) >= 8,
      s"weighted draw ignored weights: ${ids.mkString(",")}")
    // deterministic: the same corpus draws the same sample
    val again = Sampling.weightedSamplePerGroup(df, Seq("g"), "id",
      "w", 10).select($"id").collect().map(_.getLong(0)).sorted
    assert(again.toSeq === ids.sorted.toSeq)
  }

  test("Percentiles rank ±Infinity like the sort-based form") {
    // Infinities are rankable (unlike NaN): a rank target inside the
    // -Inf prefix / +Inf suffix answers directly, finite targets run the
    // histogram. Groups cover: target in the -Inf band, in the +Inf band,
    // straddling (even-n median of -Inf and a finite → -Inf), and a group
    // of ONLY infinities (no finite range at all).
    val data: Seq[(String, Double)] =
      Seq.fill(6)(("neg", Double.NegativeInfinity)) ++
        (1 to 5).map(i => ("neg", i.toDouble)) ++           // median = -Inf
      (1 to 5).map(i => ("pos", i.toDouble)) ++
        Seq.fill(6)(("pos", Double.PositiveInfinity)) ++    // median = +Inf
      Seq(("strad", Double.NegativeInfinity), ("strad", 4.0)) ++ // avg→-Inf
      Seq(("allinf", Double.PositiveInfinity),
        ("allinf", Double.NegativeInfinity),
        ("allinf", Double.PositiveInfinity))                // median = +Inf
    val df = data.toDF("g", "v")
    val med = Percentiles.exactMedian(df, "g", "v", nBuckets = 4, levels = 2)
      .collect().map(r => r.getString(0) -> r.getAs[Double]("median")).toMap
    def sortMedian(xs: Seq[Double]): Double = {
      val s = xs.sorted
      (s((s.length + 1) / 2 - 1) + s(s.length / 2)) / 2
    }
    for (g <- Seq("neg", "pos", "strad", "allinf"))
      assert(med(g) === sortMedian(data.filter(_._1 == g).map(_._2)),
        s"group $g")
    // quantiles: q=0.1 of "neg" is -Inf, q=0.9 of "pos" is +Inf, and the
    // finite mid-quantiles still resolve through the histogram
    val qs = Percentiles.exactQuantiles(df, "g", "v", Seq(0.1, 0.6, 0.9),
        nBuckets = 4, levels = 2)
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2))
      .toMap
    def nearestRank(xs: Seq[Double], q: Double): Double = {
      val s = xs.sorted
      s(math.max(1, math.ceil(q * s.length).toInt) - 1)
    }
    for (g <- Seq("neg", "pos", "strad", "allinf"); q <- Seq(0.1, 0.6, 0.9))
      assert(qs((g, q)) === nearestRank(data.filter(_._1 == g).map(_._2), q),
        s"group $g q=$q")
  }

  test("Sinks.writeBatch: replaying a batch id is idempotent") {
    import java.nio.file.Files
    val out = Files.createTempDirectory("graft-wb").toFile.getAbsolutePath
    val b0 = Seq(("en", 1L, "x"), ("de", 2L, "y")).toDF("lang", "doc_id", "b")
    val b1 = Seq(("en", 3L, "z")).toDF("lang", "doc_id", "b")
    Sinks.writeBatch(b0, 0L, out, Seq("lang"), Seq("doc_id"))
    Sinks.writeBatch(b1, 1L, out, Seq("lang"), Seq("doc_id"))
    // replay of batch 0 (failure between write and checkpoint commit):
    // dynamic overwrite of its own __batch_id partitions — no duplicates
    Sinks.writeBatch(b0, 0L, out, Seq("lang"), Seq("doc_id"))
    val back = spark.read.parquet(out)
    assert(back.count() === 3)
    assert(back.select("doc_id").as[Long].collect().sorted === Array(1L, 2L, 3L))
    // pruning layout intact: lang=... is still the top directory level
    val dirs = new java.io.File(out).listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.toSeq === Seq("lang=de", "lang=en"))
  }

  test("Merge.applyChanges: upsert, delete, insert, passthrough, LWW") {
    val target = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "name", "bal")
    val changes = Seq(
      (1L, "a2", 11.0, "U", 5L),  // update (stale)
      (1L, "a3", 12.0, "U", 9L),  // update (wins: higher ord)
      (2L, "x", 0.0, "D", 1L),    // delete
      (4L, "d", 40.0, "U", 2L),   // insert of a new key
      (5L, "e", 50.0, "D", 3L))   // delete of an absent key: no row
      .toDF("k", "name", "bal", "op", "ord")
    val r = Merge.applyChanges(target, changes, Seq("k"),
        Seq("name", "bal"), "op", "ord")
      .orderBy("k").collect()
      .map(x => (x.getLong(0), x.getString(1), x.getDouble(2)))
    assert(r.toSeq === Seq((1L, "a3", 12.0), (3L, "c", 30.0),
      (4L, "d", 40.0)))
  }

  test("Merge.applyAggDelta: insert/retract maintenance equals rescan") {
    val base = Seq(("a", 10.0), ("a", 20.0), ("b", 5.0), ("c", 7.0))
      .toDF("k", "v")
    val baseAgg = base.groupBy($"k")
      .agg(count(lit(1)).as("n"), sum($"v").as("sv"))
    val delta = Seq(
      ("a", 30.0, "I"),   // new row in existing group
      ("b", 5.0, "D"),    // retract b's only row → group vanishes
      ("d", 1.0, "I"),    // brand-new group
      ("d", 2.0, "I"))
      .toDF("k", "v", "op")
    val r = Merge.applyAggDelta(baseAgg, delta, Seq("k"), "n",
        Seq("sv" -> "v"), "op")
      .orderBy($"k").collect()
      .map(x => (x.getString(0), x.getLong(1), x.getDouble(2)))
    // must equal the from-scratch aggregate over (base − retracts + inserts)
    assert(r.toSeq === Seq(("a", 3L, 60.0), ("c", 1L, 7.0),
      ("d", 2L, 3.0)))
  }

  test("Merge.applyAggDelta: null keys merge into one group") {
    // groupBy puts null keys in ONE group; the view join must match
    // them too (null-safe join), or the view splits into two null rows
    val baseAgg = Seq((Option.empty[String], 1L, 5.0),
      (Option("x"), 2L, 8.0)).toDF("k", "n", "sv")
    val delta = Seq((Option.empty[String], 10.0, "I"))
      .toDF("k", "v", "op")
    val r = Merge.applyAggDelta(baseAgg, delta, Seq("k"), "n",
        Seq("sv" -> "v"), "op").collect()
      .map(x => (if (x.isNullAt(0)) "<null>" else x.getString(0),
        x.getLong(1), x.getDouble(2))).toSet
    assert(r === Set(("<null>", 2L, 15.0), ("x", 2L, 8.0)))
  }

  test("Merge.applyAggDelta: over-retraction drops the key; bad op is loud") {
    val baseAgg = Seq(("a", 1L, 5.0)).toDF("k", "n", "sv")
    // retracting 2 rows from a 1-row group: negative count → dropped
    val over = Seq(("a", 5.0, "D"), ("a", 5.0, "D"), ("a", 5.0, "D"))
      .toDF("k", "v", "op")
    assert(Merge.applyAggDelta(baseAgg, over, Seq("k"), "n",
      Seq("sv" -> "v"), "op").count() === 0)
    val bad = Seq(("a", 5.0, "X")).toDF("k", "v", "op")
    val e = intercept[Exception] {
      Merge.applyAggDelta(baseAgg, bad, Seq("k"), "n",
        Seq("sv" -> "v"), "op").collect()
    }
    assert(e.getMessage.contains("applyAggDelta") ||
      e.getCause != null && e.getCause.getMessage.contains("applyAggDelta"),
      e.getMessage)
  }

  test("Merge.applyScd2: close+append, no-op identical, history intact") {
    // history: k=1 has a closed v1 and an open v2; k=2 open; k=3 open
    val target = Seq(
      (1L, "a1", 0L, Some(10L)),   // closed history row
      (1L, "a2", 10L, None),       // open
      (2L, "b1", 0L, None),        // open, will get an IDENTICAL change
      (3L, "c1", 0L, None))        // open, no change
      .toDF("k", "v", "valid_from", "valid_to")
    val changes = Seq(
      (1L, "a3", 20L),             // real change: close a2, append a3
      (2L, "b1", 25L),             // identical values: must be a NO-OP
      (9L, "z1", 30L))             // brand-new key
      .toDF("k", "v", "ts")
    val r = Merge.applyScd2(target, changes, Seq("k"), Seq("v"),
        "ts", "valid_from", "valid_to")
      .orderBy($"k", $"valid_from").collect()
      .map(x => (x.getLong(0), x.getString(1), x.getLong(2),
        if (x.isNullAt(3)) -1L else x.getLong(3)))
    assert(r.toSeq === Seq(
      (1L, "a1", 0L, 10L),         // untouched history
      (1L, "a2", 10L, 20L),        // closed at the change ts
      (1L, "a3", 20L, -1L),        // the new open version
      (2L, "b1", 0L, -1L),         // no-op: interval NOT churned
      (3L, "c1", 0L, -1L),         // passthrough
      (9L, "z1", 30L, -1L)))       // new key opens
  }

  test("Similarity.blockedSelfJoin equals naive all-pairs, bounded tasks") {
    // one hot block (60 rows) + a small block: output must be identical
    // to the naive self-join, each unordered pair exactly once
    val rng = new scala.util.Random(3)
    val rows = (0 until 60).map(i => ("hot", i.toLong,
        Array.fill(4)(rng.nextFloat()))) ++
      (0 until 5).map(i => ("cold", (100 + i).toLong,
        Array.fill(4)(rng.nextFloat())))
    val df = rows.toDF("label", "vec_id", "embedding")
    val got = Similarity.blockedSelfJoin(df, "label", "vec_id",
        "embedding", chunks = 4)
      .select($"label", $"id_a", $"id_b").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val naive = for {
      Seq(a, b) <- rows.combinations(2).toSeq
      if a._1 == b._1
    } yield (a._1, math.min(a._2, b._2), math.max(a._2, b._2))
    assert(got.length === naive.length) // exactly-once: no dup, no loss
    assert(got.toSet === naive.toSet)
    // chunk-pair distribution: every task key holds ≤ ~2·(B/chunks) rows
    // per side, so no single reducer sees the whole hot block
    val chunkSizes = df.filter($"label" === "hot")
      .select(pmod(xxhash64($"vec_id"), lit(4)).cast("int").as("c"))
      .groupBy($"c").count().collect().map(_.getLong(1))
    assert(chunkSizes.length === 4 && chunkSizes.max <= 30,
      chunkSizes.mkString(","))
  }

  test("Dedup.sizeCompatiblePairs: lossless length-filter pruning") {
    val docs = Seq(
      (1L, "a b c d e f g h i j"),          // 8 3-gram shingles
      (2L, "a b c d e f g h i k"),          // same size, high overlap
      (3L, "a b c"),                        // 1 shingle — size-incompatible
      (4L, "z y x w v u t s r q"))          // same size, zero overlap
      .toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("id_a", "id_b")
    val kept = Dedup.sizeCompatiblePairs(docs, "text", "doc_id", pairs,
        3, 0.4999).select($"id_a", $"id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // (1,3) provably cannot reach 0.5 (1/8 size ratio); (1,4) must
    // SURVIVE pruning despite zero overlap — the filter may only use
    // the size bound, never the contents
    assert(kept === Set((1L, 2L), (1L, 4L)))
    // end-to-end losslessness: pruned-then-exact equals exact-then-filter
    val full = Dedup.exactJaccard(docs, "text", "doc_id", pairs, 3)
      .filter($"jaccard" >= 0.5).select($"id_a", $"id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pruned = Dedup.exactJaccard(docs, "text", "doc_id",
        Dedup.sizeCompatiblePairs(docs, "text", "doc_id", pairs, 3,
          0.4999), 3)
      .filter($"jaccard" >= 0.5).select($"id_a", $"id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full === pruned)
  }

  test("Dedup.exactJaccardCounts == array-join exactJaccard") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over a lazy dog"),
      (3L, "completely different text about spark engines"),
      (4L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L))
      .toDF("id_a", "id_b")
    def res(df: org.apache.spark.sql.DataFrame) = df
      .select($"id_a", $"id_b", $"jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val arrayForm = res(Dedup.exactJaccard(docs, "text", "doc_id", pairs, 3))
    val countForm = res(
      Dedup.exactJaccardCounts(docs, "text", "doc_id", pairs, 3))
    assert(arrayForm === countForm)
    assert(arrayForm((1L, 4L)) === 1.0) // identical docs
    assert(arrayForm((1L, 3L)) === 0.0) // disjoint
  }

  test("Dedup.dupClusters: components via multi-round label propagation") {
    // chain 1-2-3-4-5 (diameter 4 → several propagation rounds), star
    // 10-{11,12,13}, isolated pair (20,21)
    val pairs = Seq((2L, 1L), (2L, 3L), (4L, 3L), (4L, 5L),
      (10L, 11L), (12L, 10L), (10L, 13L), (21L, 20L))
      .toDF("id_a", "id_b")
    val got = Dedup.dupClusters(pairs, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 5L).forall(got(_) == 1L))
    assert(Seq(10L, 11L, 12L, 13L).forall(got(_) == 10L))
    assert(got(20L) === 20L && got(21L) === 20L)
    assert(got.size === 11)
  }

  test("Dedup.lshParams: inflection tracks the threshold monotonically") {
    // low threshold → more/shorter bands (recall); high → fewer/longer
    val (bLow, rLow) = Dedup.lshParams(32, 0.2)
    val (bMid, rMid) = Dedup.lshParams(32, 0.6)
    val (bHigh, rHigh) = Dedup.lshParams(32, 0.95)
    assert(bLow >= bMid && bMid >= bHigh)
    assert(rLow <= rMid && rMid <= rHigh)
    assert(bLow * rLow === 32 && bMid * rMid === 32 && bHigh * rHigh === 32)
    // the chosen split's inflection is the closest among divisors
    val (b, r) = Dedup.lshParams(32, 0.6)
    val t = math.pow(1.0 / b, 1.0 / r)
    assert(math.abs(t - 0.6) < 0.25, s"inflection $t for (b=$b, r=$r)")
  }

  test("Percentiles.exactQuantiles matches sort-based nearest-rank") {
    val rng = new scala.util.Random(13)
    val data = (1 to 333).map(_ => ("g1", rng.nextDouble() * 100)) ++
      (1 to 100).map(_ => ("g2", rng.nextDouble())) ++
      Seq.fill(40)(("flat", 7.0))
    val qs = Seq(0.1, 0.25, 0.5, 0.75, 0.99)
    val got = Percentiles.exactQuantiles(data.toDF("g", "v"), "g", "v",
        qs, nBuckets = 4, levels = 2)
      .collect()
      .map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    for (g <- Seq("g1", "g2", "flat"); q <- qs) {
      val s = data.filter(_._1 == g).map(_._2).sorted
      val expect = s(math.max(1, math.ceil(q * s.length).toLong).toInt - 1)
      assert(got((g, q)) === expect, s"($g, $q)")
    }
  }

  test("SimHash: similar token sets have low hamming distance") {
    val df = Seq(
      ("a", "the quick brown fox jumps over the lazy dog entirely today"),
      ("b", "the quick brown fox jumps over the lazy dog entirely"),
      ("c", "completely unrelated words about spark catalyst execution"))
      .toDF("id", "t")
      .select($"id", graft.functions.AffineSimHash(
        graft.functions.PolyHashArr(split($"t", " ")), 32).as("h"))
    val m = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def ham(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    assert(ham(m("a"), m("b")) < ham(m("a"), m("c")))
  }

  test("Similarity.rpLshBucket: range, determinism, sign semantics") {
    val rng = new scala.util.Random(17)
    val vecs = (0 until 40).map(i =>
      (i.toLong, Array.fill(8)(rng.nextFloat() * 2 - 1)))
    val df = vecs.toDF("vec_id", "embedding")
      .select($"vec_id",
        Similarity.rpLshBucket($"embedding", nBits = 6, dims = 8)
          .as("bucket"))
    val got = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // range: 6 bits → [0, 64)
    assert(got.values.forall(b => b >= 0 && b < 64))
    // deterministic: a second evaluation produces identical buckets
    val again = vecs.toDF("vec_id", "embedding")
      .select($"vec_id",
        Similarity.rpLshBucket($"embedding", nBits = 6, dims = 8)
          .as("bucket"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === again)
    // sign semantics against a scala-side replay of the same arithmetic
    def planeSign(i: Int, d: Int, dims: Int): Double =
      if ((i.toLong * dims + d) * 2654435761L % 4294967296L
        < 2147483648L) 1.0 else -1.0
    val expected = vecs.map { case (id, v) =>
      val bits = (0 until 6).map { i =>
        val dot = (0 until 8).foldLeft(0.0)((acc, d) =>
          acc + planeSign(i, d, 8) * v(d).toDouble)
        if (dot >= 0) 1L else 0L
      }
      id -> bits.foldLeft(0L)((acc, b) => acc * 2 + b)
    }.toMap
    assert(got === expected)
    // a vector and its negation land in complementary buckets
    val pair = Seq((0L, Array(0.5f, -0.25f, 0.75f, 0.1f)),
      (1L, Array(-0.5f, 0.25f, -0.75f, -0.1f)))
      .toDF("vec_id", "embedding")
      .select(Similarity.rpLshBucket($"embedding", 4, 4).as("b"))
      .collect().map(_.getLong(0))
    assert((pair(0) ^ pair(1)) === 15L) // all 4 bits flip
  }

  test("Similarity.rpLshBucketStats: totals, purity, tie to min label") {
    // two well-separated clusters (opposite orthants) + one stray
    val base = Array(1.0f, 1.0f, 1.0f, 1.0f)
    val rows =
      (0 until 10).map(i => (i.toLong, base.map(_ + i * 0.001f), 1)) ++
      (0 until 10).map(i =>
        (100L + i, base.map(x => -x - i * 0.001f), 2)) ++
      Seq((200L, base.map(_ + 0.5f), 7)) // joins cluster-1's bucket
    val stats = Similarity.rpLshBucketStats(
      rows.toDF("vec_id", "embedding", "label"),
      "embedding", "label", nBits = 5, dims = 4).collect()
    assert(stats.map(_.getAs[Long]("n_vecs")).sum === 21L)
    // near-identical vectors collapse into one bucket per cluster
    assert(stats.length === 2)
    val byTop = stats.map(r => r.getAs[Int]("top_label") ->
      (r.getAs[Long]("n_vecs"), r.getAs[Double]("purity"))).toMap
    assert(byTop(1) === ((11L, 0.9091))) // 10 of label 1 + the stray
    assert(byTop(2) === ((10L, 1.0)))
    // majority tie → smallest label wins
    val tied = Seq((0L, base, 5), (1L, base, 3))
      .toDF("vec_id", "embedding", "label")
    val t = Similarity.rpLshBucketStats(tied, "embedding", "label", 3, 4)
      .collect()
    assert(t.length === 1 && t(0).getAs[Int]("top_label") === 3)
  }

  test("Dedup.crossCorpusPairsFromSets: boundary-only pairs, shared df") {
    // batch doc 1 near-dups corpus doc 10; batch docs 1,2 near-dup EACH
    // OTHER (within-batch — must NOT appear); corpus docs 10,11 likewise
    val batch = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon eta"),
      (3L, "totally different words here now"))
    val corpus = Seq(
      (10L, "alpha beta gamma delta epsilon zeta"),
      (11L, "alpha beta gamma delta epsilon theta"),
      (12L, "unrelated corpus content entirely"))
    val bs = Dedup.hashedShingleSets(batch.toDF("doc_id", "text"),
      "text", "doc_id", 3)
    val cs = Dedup.hashedShingleSets(corpus.toDF("doc_id", "text"),
      "text", "doc_id", 3)
    val got = Dedup.crossCorpusPairsFromSets(bs, cs, maxDf = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // every pair crosses the boundary, new side first
    assert(got.forall { case (n, c) => n < 10 && c >= 10 })
    // the true cross matches are present
    assert(got.contains((1L, 10L)) && got.contains((2L, 11L)))
    // nothing within-batch or within-corpus leaks through
    assert(!got.exists { case (a, b) => a < 10 && b < 10 } &&
      !got.exists { case (a, b) => a >= 10 && b >= 10 })
    // df counts BOTH sides: a shingle rare in the batch but common
    // across the union is non-discriminative. With maxDf=1 nothing
    // shared can be rare (every shared shingle has union-df ≥ 2 — only
    // single-side shingles have df 1, and they pair nothing).
    val none = Dedup.crossCorpusPairsFromSets(bs, cs, maxDf = 1)
      .count()
    assert(none === 0L)
  }

  test("TextAnalysis.boilerplateDocStats: relative threshold, fractions") {
    // 10 docs all share the 2-gram "common span"; each has unique filler.
    // At minDfFrac=0.5 (threshold ceil(0.5*12)=6 of 12 docs) the shared
    // 2-gram is boilerplate, unique ones are not; 2 extra docs without it
    // dilute nothing.
    val docs = (0 until 10).map(i =>
        (i.toLong, s"common span u$i v$i")) ++
      Seq((100L, "lonely text one"), (101L, "other words two"))
    val stats = TextAnalysis.boilerplateDocStats(
      docs.toDF("doc_id", "text"), "text", "doc_id",
      nGram = 2, minDfFrac = 0.5)
    val m = stats.collect().map(r => r.getAs[Long]("id") ->
      (r.getAs[Long]("n_shingles"), r.getAs[Long]("n_boiler"),
        r.getAs[Double]("boiler_frac"))).toMap
    // "common span u0 v0" → 2-grams: "common span", "span u0", "u0 v0"
    for (i <- 0 until 10)
      assert(m(i.toLong) === ((3L, 1L, 0.3333)), s"doc $i")
    assert(m(100L) === ((2L, 0L, 0.0)))
    // raising the threshold above the shared df declassifies it
    val none = TextAnalysis.boilerplateDocStats(
        docs.toDF("doc_id", "text"), "text", "doc_id",
        nGram = 2, minDfFrac = 0.99)
      .agg(sum($"n_boiler")).collect()(0).getLong(0)
    assert(none === 0L)
  }

  test("TextAnalysis.tokenChunks: overlap, short tail, blank text") {
    // 10 tokens, chunk 4, stride 3 → starts 0,3,6,9; last two short
    val text = (1 to 10).map(i => s"t$i").mkString(" ")
    val df = Seq((1L, text), (2L, "  "), (3L, "solo"))
      .toDF("id", "text")
    val rows = df.select($"id",
        explode(TextAnalysis.tokenChunks($"text", 4, 3)).as("ch"))
      .select($"id", $"ch.chunk_id", $"ch.toks")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[String](2)))
    assert(!rows.exists(_._1 == 2L), "blank text must yield no chunks")
    val doc1 = rows.filter(_._1 == 1L).sortBy(_._2)
    assert(doc1.map(_._2).toSeq === Seq(0L, 1L, 2L, 3L))
    assert(doc1(0)._3 === Seq("t1", "t2", "t3", "t4"))
    assert(doc1(1)._3 === Seq("t4", "t5", "t6", "t7"), "1-token overlap")
    assert(doc1(3)._3 === Seq("t10"), "short tail window")
    assert(rows.filter(_._1 == 3L).map(_._3.toSeq).toSeq ===
      Seq(Seq("solo")))
  }

  test("Anonymize: small quasi groups suppress, pseudonyms are stable") {
    val df = Seq(
      (1L, "alice", "US", "A"), (2L, "bob", "US", "A"),
      (3L, "carol", "US", "A"), (4L, "dave", "FR", "B"))
      .toDF("id", "name", "country", "seg")
    val out = Anonymize.suppressSmallGroups(df, Seq("country", "seg"),
        k = 3)
      .select($"id", Anonymize.pseudonym($"name").as("p"),
        $"country", $"seg", $"k_ok")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getBoolean(4))).sortBy(_._1)
    // the (US, A) group has 3 members → kept; (FR, B) has 1 → suppressed
    assert(out(0)._3 === "US" && out(0)._4 === "A" && out(0)._5)
    assert(out(3)._3 === "*" && out(3)._4 === "*" && !out(3)._5)
    // md5 is the documented, engine-portable pseudonym
    assert(out(0)._2 ===
      java.security.MessageDigest.getInstance("MD5")
        .digest("alice".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString)
    // same input → same pseudonym across calls (stability)
    val again = Anonymize.suppressSmallGroups(df, Seq("country", "seg"),
        k = 3)
      .select(Anonymize.pseudonym($"name").as("p")).collect()
      .map(_.getString(0)).sorted
    assert(again.toSeq === out.map(_._2).sorted.toSeq)
  }

  test("cluster-keyed split never separates near-dup pairs") {
    // ids picked so a DOC-keyed split WOULD separate them: hash buckets
    // of 7 and 95 land in different q61-style ranges
    def bucket(id: Long) = (id % 2147483647L) * 2654435761L %
      4294967296L % 100L
    val (a, b) = (0L to 200L).flatMap(x => (0L to 200L).collect {
      case y if x < y && (bucket(x) < 80) != (bucket(y) < 80) => (x, y)
    }).head
    val pairs = Seq((a, b)).toDF("id_a", "id_b")
    val clustered = Dedup.dupClusters(pairs, "id_a", "id_b")
    val split = Sampling.stratifiedSplit(clustered, "cluster_id",
      Seq("train" -> 80, "val" -> 10, "test" -> 10))
    val perCluster = split.groupBy($"cluster_id")
      .agg(countDistinct($"split").as("ns"))
      .collect().map(_.getLong(1))
    assert(perCluster.forall(_ == 1L),
      "a near-dup cluster straddled splits")
    // sanity: the same pair under a DOC-keyed split does straddle
    val docSplit = Sampling.stratifiedSplit(
      Seq(a, b).toDF("node"), "node",
      Seq("train" -> 80, "val" -> 10, "test" -> 10))
    assert(docSplit.select(countDistinct($"split")).collect()(0)
      .getLong(0) === 2L)
  }

  test("span family: empty/whitespace/short inputs yield clean zeros") {
    // empty text, pure whitespace, and below-span-length docs must not
    // throw, must not emit spans, and must report n_tok consistently
    val docs = Seq((1L, ""), (2L, "   "), (3L, "a b c"), (4L, (1 to 10)
      .map(i => s"t$i").mkString(" ")))
      .toDF("doc_id", "text")
    assert(TextAnalysis.spanHashes(docs, "text", "doc_id", 4)
      .filter($"id" =!= 4L).count() === 0)
    val stats = TextAnalysis.spanDupStats(docs, "text", "doc_id", 4)
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Int]("n_tok"), r.getAs[Long]("n_cov"))).toMap
    assert(stats(1L) === ((0, 0L)))
    assert(stats(2L) === ((0, 0L)))
    assert(stats(3L) === ((3, 0L)))
    assert(stats(4L) === ((10, 0L)))
    // provenance on a corpus with no duplicated span: empty result
    assert(TextAnalysis.spanProvenance(docs, "text", "doc_id", 4)
      .count() === 0)
  }

  test("TextAnalysis.spanDupStats: positional coverage, short docs, none") {
    // docs 1 and 2 share the 4-token span "a b c d" at different
    // positions; doc 3 is unrelated; doc 4 is shorter than the span
    val docs = Seq(
      (1L, "a b c d x y z"),      // covered positions 0-3 of 7
      (2L, "q r a b c d"),        // covered positions 2-5 of 6
      (3L, "k l m n o p"),        // nothing repeated
      (4L, "a b c"))              // too short for a 4-token span
      .toDF("doc_id", "text")
    val m = TextAnalysis.spanDupStats(docs, "text", "doc_id", spanTok = 4)
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Long]("n_cov"), r.getAs[Double]("span_dup_frac"))).toMap
    assert(m(1L) === ((4L, 0.5714)))
    assert(m(2L) === ((4L, 0.6667)))
    assert(m(3L) === ((0L, 0.0)))
    assert(m(4L) === ((0L, 0.0)))
    // overlapping repeated spans merge their coverage, not double-count
    val rep = Seq((1L, "a b c a b c a b c"), (2L, "a b c a b c"))
      .toDF("doc_id", "text")
    val r2 = TextAnalysis.spanDupStats(rep, "text", "doc_id", spanTok = 3)
      .collect().map(r => r.getAs[Long]("id") ->
        r.getAs[Double]("span_dup_frac")).toMap
    assert(r2(1L) === 1.0 && r2(2L) === 1.0)
  }

  test("TextAnalysis.spanProvenance: originals introduce, copies inherit") {
    // doc 1 is the original; doc 5 copies its span; doc 3 repeats a
    // span of its own (self-duplication attributes to itself); doc 7
    // has nothing duplicated and must not appear
    val docs = Seq(
      (1L, "a b c d x y z"),            // introduces "a b c d"
      (5L, "q r a b c d"),              // inherits it
      (3L, "u v w u v w u v w"),        // self-repeat: introduces its own
      (7L, "k l m n o p"))
      .toDF("doc_id", "text")
    val m = TextAnalysis.spanProvenance(docs, "text", "doc_id",
        spanTok = 4, minOccur = 2)
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Long]("n_introduced"), r.getAs[Long]("n_inherited")))
      .toMap
    assert(m(1L) === ((1L, 0L)))
    assert(m(5L) === ((0L, 1L)))
    // "u v w u v w u v w" with span 4: spans at 0..5; repeats are
    // ("u v w u"@0,3), ("v w u v"@1,4), ("w u v w"@2,5) — 3 distinct
    // duplicated spans, all introduced by doc 3 itself
    assert(m(3L) === ((3L, 0L)))
    assert(!m.contains(7L))
  }

  test("Anonymize.suppressSmallGroups keeps non-quasi columns intact") {
    val df = Seq((1L, 10.5, "US"), (2L, 2.0, "FR")).toDF("id", "v", "c")
    val out = Anonymize.suppressSmallGroups(df, Seq("c"), k = 2)
      .orderBy($"id").collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(1L, 2L))
    assert(out.map(_.getDouble(1)).toSeq === Seq(10.5, 2.0))
    assert(out.map(_.getString(2)).toSeq === Seq("*", "*"))
  }

  // Brute-force reference for prefixFilterJoin: exact Jaccard over ALL
  // pairs, computed from the same WordShingles sets.
  private def bruteJaccardPairs(docs: org.apache.spark.sql.DataFrame,
      tauNum: Int, tauDen: Int): Set[(Long, Long, Double)] = {
    val sets = docs.filter(length(trim($"text")) > 0)
      .select($"doc_id", Dedup.wordShingles($"text", 3).as("sh"))
      .collect().map(r => r.getLong(0) ->
        r.getSeq[String](1).toSet).toSeq
    (for {
      (ia, sa) <- sets; (ib, sb) <- sets if ia < ib
      i = (sa intersect sb).size; u = (sa union sb).size
      if u > 0 && tauDen * i >= tauNum * u
    } yield (ia, ib, i.toDouble / u)).toSet
  }

  test("Dedup.prefixFilterJoin equals brute-force exact Jaccard, " +
      "including short-doc (clipped-shingle) and exact-dup edges") {
    val docs = Seq(
      (1L, "a b c d e f g"),
      (2L, "a b c d e f g"),          // exact dup of 1 (J = 1)
      (3L, "a b c d e f z"),          // near dup of 1/2
      (4L, "z y x w v u t"),          // unrelated
      (5L, "a b"),                    // short doc: one clipped shingle
      (6L, "a b"),                    // its exact dup
      (7L, ""),                       // empty: excluded entirely
      (8L, "q")                       // single word
    ).toDF("doc_id", "text")
    val got = Dedup.prefixFilterJoin(docs, "text", "doc_id", 1, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    assert(got === bruteJaccardPairs(docs, 1, 2))
    assert(got.contains((1L, 2L, 1.0)) && got.contains((5L, 6L, 1.0)))
  }

  test("Dedup.prefixFilterJoin completeness holds across thresholds " +
      "on a messy corpus (property vs brute force)") {
    val rnd = new scala.util.Random(7)
    val vocab = Vector("a", "b", "c", "d", "e", "f")
    val docs = (1L to 40L).map { i =>
      val n = 1 + rnd.nextInt(12)
      (i, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }.toDF("doc_id", "text")
    for ((num, den) <- Seq((1, 2), (3, 5), (4, 5), (9, 10))) {
      val got = Dedup.prefixFilterJoin(docs, "text", "doc_id", num, den)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
      assert(got === bruteJaccardPairs(docs, num, den),
        s"mismatch at tau=$num/$den")
    }
  }

  test("logHistSketch quantiles honor the 10% relative-error bound " +
      "vs exact nearest-rank, and sketches MERGE by summing") {
    val rnd = new scala.util.Random(41)
    // log-uniform cents over 5 decades — every ladder tier exercised
    val vals = (1 to 3000).map { _ =>
      ("g", math.floor(math.pow(10.0, 2 + rnd.nextDouble() * 5))
        .toLong)
    }
    val df = vals.toDF("g", "c")
    val qs = Seq(50, 90, 99)
    val got = Percentiles.logHistQuantiles(
        Percentiles.logHistSketch(df, "g", "c"), "g", qs)
      .head()
    val sorted = vals.map(_._2).sorted
    qs.zipWithIndex.foreach { case (q, i) =>
      val exact = sorted((sorted.size * q + 99) / 100 - 1).toDouble
      val est = got.getLong(3 + i).toDouble
      // estimate = bucket LOWER bound: est ≤ exact < est·1.1 (+1 digit)
      assert(est <= exact && exact < est * 1.1 + 1,
        s"p$q: est $est vs exact $exact")
    }
    // mergeability: sketch(A ∪ B) == per-bucket sum of the two halves
    val (a, b) = vals.splitAt(1500)
    val merged = Percentiles.logHistSketch(a.toDF("g", "c"), "g", "c")
      .unionAll(Percentiles.logHistSketch(b.toDF("g", "c"), "g", "c"))
      .groupBy($"__g", $"__b").agg(sum($"__cnt").as("__cnt"))
    val whole = Percentiles.logHistSketch(df, "g", "c")
    assert(merged.collect().map(_.toSeq).toSet ===
      whole.collect().map(_.toSeq).toSet)
    // and quantiles read identically off the merged sketch
    assert(Percentiles.logHistQuantiles(merged, "g", qs).head().toSeq
      === got.toSeq)
  }
}
