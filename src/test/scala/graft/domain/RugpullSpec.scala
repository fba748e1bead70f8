package graft.domain

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.TestBridge
import org.apache.spark.sql.types.{DataType, DecimalType, DoubleType, LongType, StringType, StructField, StructType}

import graft.SparkSpec

/** Fixture-driven spec of the flagship token-flow query, covering every
  * hard case from FIXTURES.md §1: hot address in each of the three arrays,
  * non-hot tx filtered, pre-only / post-only / both balances, duplicate
  * (owner, mint) last-write-wins, missing uiAmountString ⇒ NULL, and the
  * positional owner override.
  */
class RugpullSpec extends SparkSpec {
  import spark.implicits._

  // --- fixture ----------------------------------------------------------
  // hot addresses: VAULT_A (base vault), VAULT_Q (quote vault)
  private def tx(accountKeys: Seq[String], writable: Seq[String],
                 readonly: Seq[String], pre: String, post: String,
                 logs: String = "[]"): String =
    s"""{"transaction":{"message":{"accountKeys":[${accountKeys.map(q).mkString(",")}]}},
       |"meta":{"loadedAddresses":{"writable":[${writable.map(q).mkString(",")}],
       |"readonly":[${readonly.map(q).mkString(",")}]},
       |"preTokenBalances":$pre,"postTokenBalances":$post,
       |"logMessages":$logs}}""".stripMargin.replaceAll("\n", "")

  private def q(s: String) = "\"" + s + "\""

  private def bal(idx: Int, mint: String, owner: String,
                  amt: Option[String]): String = {
    val ui = amt.map(a => s""","uiTokenAmount":{"uiAmountString":"$a"}""")
      .getOrElse("")
    s"""{"accountIndex":$idx,"mint":"${mint}","owner":"${owner}"$ui}"""
  }

  private lazy val blockJson: String = {
    val txs = Seq(
      // tx0: hot addr only in accountKeys; balance pre+post for owner W1
      tx(Seq("VAULT_A", "X1"), Nil, Nil,
        s"[${bal(1, "MINT_B", "W1", Some("10"))}]",
        s"[${bal(1, "MINT_B", "W1", Some("4"))}]"),
      // tx1: hot addr only in writable; pre-only balance
      tx(Seq("X2"), Seq("VAULT_Q"), Nil,
        s"[${bal(0, "MINT_Q", "W2", Some("7"))}]", "[]"),
      // tx2: hot addr only in readonly; post-only balance; positional
      // override: accountIndex 1 points at VAULT_A (keys: X3, VAULT_A)
      // whose owner field says OTHER — wallet must be VAULT_A.
      tx(Seq("X3", "VAULT_A"), Nil, Seq("VAULT_A"),
        "[]", s"[${bal(1, "MINT_B", "OTHER", Some("99"))}]"),
      // tx3: NOT hot — must be filtered out entirely
      tx(Seq("COLD1", "COLD2"), Nil, Nil,
        s"[${bal(0, "MINT_B", "W9", Some("1"))}]", "[]"),
      // tx4: duplicate (owner, mint) in post array — LAST wins (42);
      // missing uiAmountString in pre ⇒ NULL pre. accountIndex 1 points
      // at non-hot X4, so the wallet falls back to owner W3.
      tx(Seq("VAULT_A", "X4"), Nil, Nil,
        s"[${bal(1, "MINT_B", "W3", None)}]",
        s"[${bal(1, "MINT_B", "W3", Some("41"))},${bal(1, "MINT_B", "W3", Some("42"))}]",
        """["Program RAYDIUM_PROG invoke","Program log: Instruction: Initialize2"]"""))
    s"""{"result":{"blockTime":1700000000,"transactions":[${txs.mkString(",")}]}}"""
  }

  /** Parsed blocks of one file holding `lines`. */
  private def blocksOf(lines: String*): DataFrame = {
    val dir = Files.createTempDirectory("graft-blocks").toFile
    Files.writeString(dir.toPath.resolve("b0.json"), lines.mkString("\n"))
    Rugpull.parseBlocks(spark, dir.getAbsolutePath)
  }

  /** The fixture's (hot, watchlists, prices). */
  private def fixtureDims: (DataFrame, DataFrame, DataFrame) = {
    val hot = Seq("VAULT_A", "VAULT_Q").toDF("addr")
    val watchlists = Seq(
      ("BASE_VAULTS", "VAULT_A"), ("QUOTE_VAULTS", "VAULT_Q"),
      ("BASE_MINTS", "MINT_B"), ("QUOTE_MINTS", "MINT_Q"))
      .toDF("kind", "addr")
    val prices = Seq(
      ("VAULT_A", "base", 1.25), ("VAULT_Q", "quote", 0.5))
      .toDF("vault", "side", "price_usd")
    (hot, watchlists, prices)
  }

  /** The ledger of one file holding `lines`, against the fixture dims. */
  private def flows(lines: String*): DataFrame = {
    val (hot, watchlists, prices) = fixtureDims
    Rugpull.tokenFlows(blocksOf(lines: _*), hot, watchlists, prices)
  }

  private lazy val ledger: DataFrame = flows(blockJson).cache()

  test("non-hot transactions are filtered (semi-join)") {
    assert(ledger.filter($"wallet" === "W9").count() === 0)
  }

  test("hot in accountKeys / writable / readonly all qualify") {
    assert(ledger.filter($"signature" === "1700000000-0-1").count() > 0)
    assert(ledger.filter($"signature" === "1700000000-1-1").count() > 0)
    assert(ledger.filter($"signature" === "1700000000-2-1").count() > 0)
  }

  test("pre and post balances merge full-outer per (wallet, mint)") {
    val r = ledger.filter($"wallet" === "W1" && $"mint" === "MINT_B")
      .select($"pre_balance", $"post_balance").collect()
    assert(r.length === 1)
    assert(r(0).getString(0) === "10" && r(0).getString(1) === "4")
  }

  test("pre-only row keeps NULL post; post-only keeps NULL pre") {
    val pre = ledger.filter($"wallet" === "W2").collect()(0)
    assert(pre.getAs[String]("pre_balance") === "7")
    assert(pre.getAs[String]("post_balance") == null)
  }

  test("positional hot-address overrides the balance owner") {
    val r = ledger.filter($"signature" === "1700000000-2-1").collect()
    assert(r.length === 1)
    assert(r(0).getAs[String]("wallet") === "VAULT_A")
    assert(r(0).getAs[String]("post_balance") === "99")
  }

  test("duplicate (wallet, mint) in one side: last write wins") {
    val r = ledger.filter($"wallet" === "W3").collect()(0)
    assert(r.getAs[String]("post_balance") === "42")
    assert(r.getAs[String]("pre_balance") == null) // missing amount ⇒ NULL
  }

  test("vault/mint tags and prices attach via broadcast dims") {
    val r = ledger.filter($"signature" === "1700000000-2-1").collect()(0)
    assert(r.getAs[String]("baseVault") === "VAULT_A")
    assert(r.getAs[String]("quoteVault") == null)
    assert(r.getAs[String]("baseMint") === "MINT_B")
    assert(r.getAs[Double]("base_price") === 1.25)
  }

  test("output schema matches FIXTURES.md §4") {
    assert(ledger.columns.toSeq === Seq("timestamp", "wallet", "signature",
      "mint", "pre_balance", "post_balance", "baseVault", "quoteVault",
      "baseMint", "quoteMint", "base_price", "quote_price"))
  }

  test("the ledger's StructType, nullability included, is unchanged") {
    // recorded at the parent of the per-block kernel
    def field(name: String, t: DataType, nullable: Boolean = true) =
      StructField(name, t, nullable)
    assert(ledger.schema === StructType(Seq(field("timestamp", LongType),
      field("wallet", StringType), field("signature", StringType, false),
      field("mint", StringType), field("pre_balance", StringType),
      field("post_balance", StringType), field("baseVault", StringType),
      field("quoteVault", StringType), field("baseMint", StringType),
      field("quoteMint", StringType), field("base_price", DoubleType),
      field("quote_price", DoubleType))))
  }

  test("a negative accountIndex and one past the end fall back to the " +
      "owner") {
    // VAULT_A at position 0 of two addresses: -1 and 2 name no address
    val blk = s"""{"result":{"blockTime":1700000100,"transactions":[${
      tx(Seq("VAULT_A", "X1"), Nil, Nil,
        s"[${bal(-1, "MINT_B", "W5", Some("5"))},${
          bal(0, "MINT_Q", "W7", Some("8"))}]",
        s"[${bal(2, "MINT_B", "W6", Some("6"))},${
          bal(-1, "MINT_B", "W5", Some("9"))}]")}]}}"""
    // the rows of the parent of the per-block kernel
    assert(flows(blk).collect().map(_.toString).sorted.toSeq === Seq(
      "[1700000100,VAULT_A,1700000100-0-1,MINT_Q,8,null,VAULT_A,null,null," +
        "MINT_Q,1.25,null]",
      "[1700000100,W5,1700000100-0-1,MINT_B,5,9,null,null,MINT_B,null,null," +
        "null]",
      "[1700000100,W6,1700000100-0-1,MINT_B,null,6,null,null,MINT_B,null," +
        "null,null]"))
  }

  test("withDecimalBalances: exact beyond double precision") {
    // 18-fractional-digit amount at a magnitude where a double has
    // already lost the tail: the decimal path must keep every digit
    val big = "123456789012345678.123456789012345678"
    val df = Seq((big, "0.000000000000000001"))
      .toDF("pre_balance", "post_balance")
    val r = Rugpull.withDecimalBalances(df).collect()(0)
    assert(r.getAs[java.math.BigDecimal]("pre_amount").toPlainString === big)
    assert(r.getAs[java.math.BigDecimal]("delta_amount").toPlainString ===
      "-123456789012345678.123456789012345677")
    // the same value through a double corrupts the low digits
    assert(BigDecimal(big.toDouble) != BigDecimal(big))
    // malformed input degrades to NULL, not a job failure (ANSI mode)
    val bad = Seq(("not-a-number", null.asInstanceOf[String]))
      .toDF("pre_balance", "post_balance")
    val rb = Rugpull.withDecimalBalances(bad).collect()(0)
    assert(rb.getAs[java.math.BigDecimal]("pre_amount") == null)
    assert(rb.getAs[java.math.BigDecimal]("delta_amount")
      .compareTo(java.math.BigDecimal.ZERO) === 0)
  }

  test("detectPools matches program id + instruction regex") {
    val dir = Files.createTempDirectory("graft-blocks2").toFile
    Files.writeString(dir.toPath.resolve("b0.json"), blockJson)
    val blocks = Rugpull.parseBlocks(spark, dir.getAbsolutePath)
    val pools = Rugpull.detectPools(blocks,
      Map("RAYDIUM_PROG" -> Seq("Initialize2", "InitializeInstruction2")))
    val r = pools.collect()
    assert(r.length === 1)
    assert(r(0).getAs[Int]("txIdx") === 4)
  }

  test("detectPools: quoted names with regex chars match; empty list never") {
    val dir = Files.createTempDirectory("graft-blocks3").toFile
    def blk(log: String): String =
      s"""{"result":{"blockTime":9,"transactions":[
         |{"transaction":{"message":{"accountKeys":["K"]}},
         |"meta":{"loadedAddresses":{"writable":[],"readonly":[]},
         |"preTokenBalances":[],"postTokenBalances":[],
         |"logMessages":["Program PROGX invoke",
         |"Program log: Instruction: $log"]}}]}}"""
        .stripMargin.replaceAll("\n", "")
    Files.writeString(dir.toPath.resolve("b.json"),
      blk("Init(v2) success") + "\n" + blk("Init(v2)x trailing-word") +
        "\n" + blk("Initialize"))
    val blocks = Rugpull.parseBlocks(spark, dir.getAbsolutePath)
    // a name ending in ')' must match when followed by a non-word char
    // (the \\b form silently never matched it) but NOT when glued to
    // more word chars; parens must be literal, not a regex group
    assert(Rugpull.detectPools(blocks,
      Map("PROGX" -> Seq("Init(v2)"))).count() === 1)
    // an empty instruction list matches nothing, not everything
    assert(Rugpull.detectPools(blocks, Map("PROGX" -> Nil)).count() === 0)
  }

  test("two blocks sharing a blockTime do not collide or merge") {
    val dir = Files.createTempDirectory("graft-samebt").toFile
    def blk(owner: String, amt: String): String =
      s"""{"result":{"blockTime":42,"transactions":[
         |{"transaction":{"message":{"accountKeys":["VAULT_S"]}},
         |"meta":{"loadedAddresses":{"writable":[],"readonly":[]},
         |"preTokenBalances":[{"accountIndex":5,"mint":"M","owner":"$owner",
         |"uiTokenAmount":{"uiAmountString":"$amt"}}],
         |"postTokenBalances":[],"logMessages":[]}}]}}"""
        .stripMargin.replaceAll("\n", "")
    Files.writeString(dir.toPath.resolve("blocks.json"),
      blk("WA", "1") + "\n" + blk("WB", "2"))
    val blocks = Rugpull.parseBlocks(spark, dir.getAbsolutePath)
    val out = Rugpull.tokenFlows(blocks,
      Seq("VAULT_S").toDF("addr"),
      Seq.empty[(String, String)].toDF("kind", "addr"),
      Seq.empty[(String, String, Double)].toDF("vault", "side", "price_usd"))
      .collect()
    // both blocks' tx0 rows survive independently (same signature is
    // reference behavior; the rows themselves must not merge or crash)
    assert(out.length === 2)
    assert(out.map(_.getAs[String]("wallet")).toSet === Set("WA", "WB"))
  }

  test("a block ingested twice in one batch yields its ledger once") {
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    assert(rows(flows(blockJson, blockJson)) === rows(ledger))
  }

  test("a DECIMAL price_usd keeps its type; duplicate prices repeat rows") {
    val (hot, watchlists, _) = fixtureDims
    val prices = Seq(("VAULT_A", "base", "1.25"), ("VAULT_A", "base", "1.3"),
        ("VAULT_Q", "quote", "0.5"))
      .toDF("vault", "side", "p")
      .select($"vault", $"side", $"p".cast("decimal(10,4)").as("price_usd"))
    val out = Rugpull.tokenFlows(blocksOf(blockJson), hot, watchlists, prices)
    val priced = Set("base_price", "quote_price")
    assert(out.schema.filterNot(f => priced(f.name)) ===
      ledger.schema.filterNot(f => priced(f.name)))
    priced.foreach(c => assert(out.schema(c) ===
      StructField(c, DecimalType(10, 4), nullable = true)))
    def key(r: Row) =
      (0 to 9).map(i => String.valueOf(r.get(i))).mkString("|")
    // every row of the double-priced ledger, VAULT_A's row once per price
    val got = out.collect().groupBy(key)
    assert(got.keySet === ledger.collect().map(key).toSet)
    got.foreach { case (k, rs) =>
      val base = rs.map(r => String.valueOf(r.getAs[java.math.BigDecimal](
        "base_price"))).sorted.toSeq
      assert(base === (if (k.contains("|VAULT_A|")) Seq("1.2500", "1.3000")
        else Seq("null")), k)
      assert(rs.forall(_.isNullAt(11)), k) // no VAULT_Q wallet row
    }
  }

  test("a price dimension past the inline bound is broadcast and prices " +
      "the same rows") {
    val (hot, watchlists, prices) = fixtureDims
    val many = prices.union((0 until 20000).map(i => (s"VAULT_X$i", "base",
      i.toDouble)).toDF("vault", "side", "price_usd"))
    val out = Rugpull.tokenFlows(blocksOf(blockJson), hot, watchlists, many)
    val tables = out.queryExecution.analyzed.flatMap(_.expressions)
      .flatMap(_.collect { case p: PriceLookup => p.table })
    // the base table is broadcast, the one-vault quote table is not
    assert(tables.map(_.broadcasted).sorted === Seq(false, true))
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    assert(rows(out) === rows(ledger))
  }

  test("a dimension estimated past the broadcast limit is refused before " +
      "any job; an unknown estimate proceeds") {
    val (_, watchlists, prices) = fixtureDims
    val blocks = blocksOf(blockJson)
    val huge = spark.range(0, 1L << 40).select($"id".cast("string").as("addr"))
    val refused = TestBridge.recorded(spark) {
      intercept[IllegalArgumentException](
        Rugpull.tokenFlows(blocks, huge, watchlists, prices))
    }
    val e = refused.value
    assert(e.getMessage.contains("the hot dimension"), e.getMessage)
    assert(refused.jobs === 0)
    // an RDD-backed dim has no estimate (defaultSizeInBytes): it is read
    val rddHot = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row("VAULT_A"), Row("VAULT_Q"))),
      StructType(Seq(StructField("addr", StringType))))
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    assert(rows(Rugpull.tokenFlows(blocks, rddHot, watchlists, prices)) ===
      rows(ledger))
  }

  test("malformed and empty block lines degrade to zero rows, no crash") {
    val dir = Files.createTempDirectory("graft-badblocks").toFile
    Files.writeString(dir.toPath.resolve("bad.json"),
      Seq("{not valid json at all",
        """{"result": null}""",
        """{"result": {"blockTime": 5, "transactions": null}}""",
        """{"unrelated": 1}""").mkString("\n"))
    val blocks = Rugpull.parseBlocks(spark, dir.getAbsolutePath)
    val hot = Seq("X").toDF("addr")
    val empty = spark.emptyDataFrame
      .withColumn("kind", lit("")).withColumn("addr", lit(""))
      .limit(0)
    val watch = Seq.empty[(String, String)].toDF("kind", "addr")
    val prices = Seq.empty[(String, String, Double)]
      .toDF("vault", "side", "price_usd")
    assert(Rugpull.tokenFlows(blocks, hot, watch, prices).count() === 0)
    assert(Rugpull.detectPools(blocks, Map("P" -> Seq("I"))).count() === 0)
  }

  test("parseBlocksTolerant separates corrupt lines from parsed blocks") {
    val dir = Files.createTempDirectory("graft-tolblocks").toFile
    Files.writeString(dir.toPath.resolve("mixed.json"),
      Seq("""{"result": {"blockTime": 7, "transactions": []}}""",
        "{truncated upload garbage",
        """{"result": {"blockTime": 9, "transactions": []}}""").mkString("\n"))
    val (good, bad) = Rugpull.parseBlocksTolerant(spark,
      dir.getAbsolutePath)
    assert(good.count() === 2)
    assert(good.select("result.blockTime").collect()
      .map(_.getLong(0)).sorted.toSeq === Seq(7L, 9L))
    val raws = bad.collect().map(_.getString(0))
    assert(raws.length === 1 && raws(0).startsWith("{truncated"))
    spark.catalog.clearCache() // parseBlocksTolerant caches internally
  }

  test("freshPools keeps only young pools") {
    val pools = Seq(("P1", 1000L), ("P2", 800L))
      .toDF("pool_address", "openTime")
    val fresh = Rugpull.freshPools(pools, lit(1100L), 300L)
    assert(fresh.collect().map(_.getString(0)).toSet === Set("P1", "P2"))
    val fresher = Rugpull.freshPools(pools, lit(1200L), 300L)
    assert(fresher.collect().map(_.getString(0)).toSet === Set("P1"))
  }

  test("derivedQuotePrice guards zero/empty native price") {
    val df = Seq(("5.0", "2.0"), ("5.0", "0"), ("5.0", ""))
      .toDF("base", "native")
      .select(Rugpull.derivedQuotePrice($"base", $"native").as("p"))
    assert(df.collect().map(_.getDouble(0)).toSeq === Seq(2.5, 0.0, 0.0))
  }
}
