package graftbench

import java.nio.file.Files

import org.apache.spark.sql.{Row, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.domain.Rugpull

/** The benchmark's output checks: the block model agrees with
  * `Rugpull.tokenFlows` on a small fixture that reaches every branch, and a
  * dropped or altered row is counted as a failure. Run with `sbt test` in
  * the benchmark's directory. */
class ChecksSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val work = Files.createTempDirectory("perfbench-spec")
  private lazy val spark: SparkSession = Session.build(2, work)
  override def afterAll(): Unit = spark.stop()

  private val shape = Blocks.LiveShape.copy(txPerBlock = 300, hotShare = 0.3)
  private val dims = Blocks.dims(5, shape)
  private val blocks = (0 until 3).map(i =>
    Blocks.block(5, shape, dims, i, 1700000000L + i))

  /** The program's ledger for the fixture, rows grouped by block time. */
  private lazy val actual: Map[Long, Seq[Row]] = {
    val dir = Files.createDirectories(work.resolve("blocks"))
    blocks.foreach(b =>
      Files.writeString(dir.resolve(s"b${b.blockTime}.json"), Blocks.json(b)))
    val (hot, wl, pr) = LiveBlocks.frames(spark, dims)
    Rugpull.tokenFlows(Rugpull.parseBlocks(spark, dir.toString), hot, wl, pr)
      .collect().toSeq.groupBy(_.getLong(0))
  }
  private def expected = blocks.map(b => b.blockTime -> Blocks.expected(b, dims)).toMap

  test("the fixture reaches every branch of the flagship") {
    val hot = blocks.flatMap(_.txs).filter(_.allAddrs.exists(dims.hotSet))
    def hotIn(f: Blocks.Tx => Seq[String]) = hot.count(t => f(t).exists(dims.hotSet))
    assert(hotIn(_.keys) > 0 && hotIn(_.writable) > 0 && hotIn(_.readonly) > 0)
    val entries = hot.flatMap(t => t.pre ++ t.post)
    assert(entries.exists(_.amount.isEmpty), "a missing uiAmountString")
    assert(entries.exists(_.amount.contains("")), "an empty uiAmountString")
    assert(hot.exists(t => t.pre.map(b => (b.owner, b.mint)).distinct.size < t.pre.size),
      "a duplicate (owner, mint) within one side")
    val rows = blocks.flatMap(Blocks.ledger(_, dims))
    def some(i: Int) = rows.count(_(i) != null)
    assert(rows.exists(r => r(4) == null) && rows.exists(r => r(5) == null),
      "pre-only and post-only rows")
    assert(rows.exists(r => dims.hotSet(r(1).asInstanceOf[String])),
      "a wallet set by the positional override")
    (6 to 11).foreach(i => assert(some(i) > 0, Blocks.LedgerColumns(i)))
  }

  test("the model matches Rugpull.tokenFlows row for row") {
    val model = blocks.map(b => b.blockTime ->
      Blocks.ledger(b, dims).map(r => r.map(Digest.canon)).sortBy(_.mkString("|")))
    val program = actual.map { case (t, rs) =>
      t -> rs.map(r => r.toSeq.map(Digest.canon)).sortBy(_.mkString("|"))
    }
    assert(program == model.toMap)
    assert(Blocks.mismatches(actual, expected) == 0)
  }

  test("a dropped or altered ledger row is a failure") {
    val t = blocks.head.blockTime
    val dropped = actual.updated(t, actual(t).tail)
    val r = actual(t).head
    val altered = actual.updated(t,
      Row.fromSeq(r.toSeq.updated(4, "999.0")) +: actual(t).tail)
    assert(Blocks.mismatches(dropped, expected) == 1)
    assert(Blocks.mismatches(altered, expected) == 1)
    assert(Blocks.mismatches(actual.removed(t), expected) == 1)
  }

  test("a pinned query the catalogue does not hold is a failure") {
    val file = work.resolve("pinned.tsv")
    Files.writeString(file, "q_not_in_the_catalogue\t1:0000000000000000\n")
    val w = new CatalogSample(work, file)
    assert(w.names == Vector("q_not_in_the_catalogue"))
    assert(w.runOnce(spark, w.names.head, None, "x")._2.isLeft)
  }

  test("self times clip overlapping spans and leave gaps uncovered") {
    val spans = Seq(Tracer.Span("a", "stream", 0, 40),
      Tracer.Span("a", "domain", 30, 60), Tracer.Span("a", "idle", 80, 100))
    assert(Tracer.disjoint(spans).map(s => (s.startMs, s.endMs)) ==
      Seq((0.0, 40.0), (40.0, 60.0), (80.0, 100.0)))
    // no stage or planning phase ran, so each span is its layer's own time
    val self = new Tracer(spark).selfTimes(spans)
    assert(self("stream") == 40 && self("domain") == 20 && self("idle") == 20)
    assert(self.values.sum == 80)
  }

  test("an altered query result changes its digest") {
    import spark.implicits._
    val df = Seq((1L, "a", 0.1 + 0.2), (2L, "b", 1.5)).toDF("k", "s", "x")
    val rows = df.collect().toSeq
    val d = Digest.ofRows(df.schema.fieldNames.toSeq, rows)
    // order-insensitive, and floats compare at 6 decimals
    assert(Digest.ofRows(df.schema.fieldNames.toSeq, rows.reverse) == d)
    assert(Digest.ofRows(df.schema.fieldNames.toSeq,
      Row(1L, "a", 0.3) +: rows.tail) == d)
    assert(Digest.ofRows(df.schema.fieldNames.toSeq,
      Row(1L, "a", 0.31) +: rows.tail) != d)
    assert(Digest.ofRows(df.schema.fieldNames.toSeq, rows.tail) != d)
  }
}
