package graft.domain

import java.nio.file.{Files, Path}
import java.security.MessageDigest

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkSpec

/** A seeded corpus of block JSON plus dimension tables that reaches the
  * flagship's awkward inputs:
  *  - hot and watch-list dims with duplicate rows and NULL `addr`;
  *  - duplicate price rows (they duplicate ledger rows), and two prices
  *    for one vault;
  *  - a tx naming the same hot address twice, and one naming it in
  *    accountKeys and readonly;
  *  - hot hits through accountKeys, writable and readonly;
  *  - missing, NULL and empty balance arrays, NULL balance entries, and
  *    missing or empty `uiAmountString`;
  *  - `accountIndex` past the end of the address list;
  *  - two blocks sharing a `blockTime`;
  *  - empty blocks (`[]` and missing `transactions`).
  */
object FlagshipCorpus {

  val Hot: IndexedSeq[String] = (0 until 6).map(i => s"HOT_$i")
  private val Cold = (0 until 20).map(i => s"COLD_$i")
  private val Mints = (0 until 5).map(i => s"MINT_$i")
  private val Wallets = (0 until 8).map(i => s"W_$i") :+ ""

  private def q(s: String) = "\"" + s + "\""
  private def arr(xs: Seq[String]) = xs.mkString("[", ",", "]")

  /** One JSON block line per element, from `seed`. */
  def blockLines(seed: Long): Seq[String] = {
    val rnd = new Random(seed)
    def pick[T](xs: IndexedSeq[T]): T = xs(rnd.nextInt(xs.length))
    def addrs(n: Int, hotOdds: Double): Seq[String] =
      Seq.fill(n)(if (rnd.nextDouble() < hotOdds) pick(Hot) else pick(Cold))

    def balances(nAddrs: Int): String = rnd.nextInt(10) match {
      case 0 => "null"
      case 1 => "[]"
      case 2 => "[null]"
      case _ =>
        arr(Seq.fill(1 + rnd.nextInt(4)) {
          val amount = rnd.nextInt(6) match {
            case 0 => ""                                     // missing
            case 1 => ""","uiTokenAmount":{}"""
            case 2 => ""","uiTokenAmount":{"uiAmountString":""}"""
            case _ =>
              s""","uiTokenAmount":{"uiAmountString":"${rnd.nextInt(1000)}"}"""
          }
          s"""{"accountIndex":${rnd.nextInt(nAddrs + 2)},""" +
            s""""mint":${q(pick(Mints))},"owner":${q(pick(Wallets))}$amount}"""
        })
    }

    def tx(keys: Seq[String], writable: Option[Seq[String]],
           readonly: Option[Seq[String]]): String = {
      val n = keys.length + writable.fold(0)(_.length) +
        readonly.fold(0)(_.length)
      val loaded = (writable, readonly) match {
        case (None, None) => ""
        case _ =>
          val fields = writable.map(w => s""""writable":${arr(w.map(q))}""") ++
            readonly.map(r => s""""readonly":${arr(r.map(q))}""")
          s""""loadedAddresses":{${fields.mkString(",")}},"""
      }
      val pre = rnd.nextInt(12) match {
        case 0 => ""
        case _ => s""""preTokenBalances":${balances(n)},"""
      }
      s"""{"transaction":{"message":{"accountKeys":${arr(keys.map(q))}}},""" +
        s""""meta":{$loaded$pre"postTokenBalances":${balances(n)}}}"""
    }

    def randomTx(): String = {
      val keys = addrs(1 + rnd.nextInt(4), 0.15)
      def loaded = rnd.nextInt(3) match {
        case 0 => None
        case 1 => Some(Nil)
        case _ => Some(addrs(1 + rnd.nextInt(2), 0.15))
      }
      tx(keys, loaded, loaded)
    }

    // hand-placed txs: hot through each array, the same hot address
    // twice in one list and across lists
    def fixedTxs: Seq[String] = Seq(
      tx(Seq(Hot(0), pick(Cold)), None, None),
      tx(Seq(pick(Cold)), Some(Seq(Hot(1))), Some(Nil)),
      tx(Seq(pick(Cold), pick(Cold)), Some(Nil), Some(Seq(Hot(2)))),
      tx(Seq(Hot(3), pick(Cold), Hot(3)), None, None),
      tx(Seq(Hot(4), pick(Cold)), Some(Seq(pick(Cold))), Some(Seq(Hot(4)))))

    def block(blockTime: Long, txs: Seq[String]): String =
      s"""{"result":{"blockTime":$blockTime,"transactions":${arr(txs)}}}"""

    val base = 1700000000L
    (0 until 12).map {
      case 4 => block(base + 3, Seq.fill(20)(randomTx()))  // shares 3's time
      case 6 => block(base + 6, Nil)
      case 9 => s"""{"result":{"blockTime":${base + 9}}}"""
      case i => block(base + i,
        rnd.shuffle(fixedTxs ++ Seq.fill(20 + rnd.nextInt(20))(randomTx())))
    }
  }

  def writeBlocks(dir: Path, lines: Seq[String], files: Int): Unit =
    lines.grouped(math.max(1, (lines.length + files - 1) / files))
      .zipWithIndex.foreach { case (ls, i) =>
        Files.writeString(dir.resolve(f"blocks_$i%02d.json"), ls.mkString("\n"))
      }

  /** (hot, watchlists, prices) as local relations. */
  def dims(spark: SparkSession): (DataFrame, DataFrame, DataFrame) = {
    import spark.implicits._
    val hot = (Hot.map(Option(_)) ++ Seq(Some(Hot(0)), Some(Hot(3)), None))
      .toDF("addr")
    val watchlists = Seq(
      ("BASE_VAULTS", Some(Hot(0))), ("BASE_VAULTS", Some(Hot(1))),
      ("BASE_VAULTS", Some(Hot(0))), ("BASE_VAULTS", None),
      ("QUOTE_VAULTS", Some(Hot(2))), ("QUOTE_VAULTS", Some("W_1")),
      ("QUOTE_VAULTS", None),
      ("BASE_MINTS", Some("MINT_0")), ("BASE_MINTS", Some("MINT_1")),
      ("BASE_MINTS", Some("MINT_1")),
      ("QUOTE_MINTS", Some("MINT_2")), ("QUOTE_MINTS", None))
      .toDF("kind", "addr")
    val prices = Seq(
      (Some(Hot(0)), "base", 1.5), (Some(Hot(0)), "base", 1.5),
      (Some(Hot(1)), "base", 2.0), (Some(Hot(2)), "quote", 0.25),
      (Some(Hot(2)), "quote", 0.3), (Some("W_2"), "base", 7.0),
      (None, "base", 9.0))
      .toDF("vault", "side", "price_usd")
    (hot, watchlists, prices)
  }

  /** Order-insensitive SHA-256 over every column of every row. */
  def digest(ledger: DataFrame): (Int, String) = {
    val rows = ledger.collect().map(_.toSeq.map(String.valueOf).mkString("|"))
      .sorted
    val md = MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    (rows.length, md.digest().map("%02x".format(_)).mkString)
  }
}

/** Pins the flagship ledger over [[FlagshipCorpus]]: a rewrite of
  * [[Rugpull.tokenFlows]] must emit exactly the same rows, duplicates
  * included. Regenerate the digest only for an intended change to the
  * ledger, and say which rows it changes. */
class FlagshipGoldenSpec extends SparkSpec {

  import spark.implicits._

  private lazy val ledger: DataFrame = {
    val dir = Files.createTempDirectory("graft-golden")
    FlagshipCorpus.writeBlocks(dir, FlagshipCorpus.blockLines(20261017L), 3)
    val (hot, watchlists, prices) = FlagshipCorpus.dims(spark)
    Rugpull.tokenFlows(
      Rugpull.parseBlocks(spark, dir.toString), hot, watchlists, prices)
      .cache()
  }

  test("tokenFlows ledger over the seeded corpus matches the pinned digest") {
    assert(FlagshipCorpus.digest(ledger) === ((252,
      "faf5378e66ae6c8c7bbf3db62d5dde6281a7d582459a7545e795d8c2238d834f")))
  }

  test("the corpus reaches every tag, price and NULL-balance branch") {
    def some(cond: org.apache.spark.sql.Column) =
      assert(ledger.filter(cond).count() > 0, cond.toString)
    Seq("baseVault", "quoteVault", "baseMint", "quoteMint", "base_price",
      "quote_price").foreach(c => some($"$c".isNotNull))
    some($"pre_balance".isNull)
    some($"post_balance".isNull)
    some($"wallet".startsWith("HOT_"))    // positional override
    some($"wallet".startsWith("W_"))      // owner fallback
    // price rows duplicate ledger rows
    assert(ledger.count() > ledger.distinct().count())
    // the block sharing block 3's blockTime has hot rows of its own
    val dir = Files.createTempDirectory("graft-golden-shared")
    FlagshipCorpus.writeBlocks(dir,
      Seq(FlagshipCorpus.blockLines(20261017L)(4)), 1)
    val (hot, watchlists, prices) = FlagshipCorpus.dims(spark)
    assert(Rugpull.tokenFlows(Rugpull.parseBlocks(spark, dir.toString),
      hot, watchlists, prices).count() > 0)
  }
}
