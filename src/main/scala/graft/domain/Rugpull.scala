package graft.domain

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, Literal, SubqueryExpression, UserDefinedExpression}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType

import graft.operators.Tagging

/** The reference's end-to-end query surface over real nested block JSON:
  * the per-block token-flow ledger (hot path), pool detection (regex log
  * scan), and price derivation. Batch forms here; streaming wrappers in
  * [[graft.streaming.Streams]].
  *
  * Everything is one declarative plan per query — Spark distributes what
  * the reference hand-wove across processes/threads (SURVEY.md §3.1).
  */
object Rugpull {

  /** Parse raw block JSON lines (one getBlock response per line) with the
    * pruned explicit schema. */
  def parseBlocks(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(BlockSchema.block).json(path)

  /** [[parseBlocks]] with malformed-input accounting: returns (parsed
    * blocks, corrupt raw lines). The default PERMISSIVE read silently
    * nulls out a malformed block — on a real ingest feed that reads as
    * "empty block", and a systematic upstream corruption (truncated
    * uploads, encoding bugs) goes unnoticed. Here the corrupt raw text
    * is captured in a side output the pipeline can count, alert on, and
    * replay after a fix; the good side is byte-identical to
    * [[parseBlocks]] output. */
  def parseBlocksTolerant(spark: SparkSession, path: String)
      : (DataFrame, DataFrame) = {
    import org.apache.spark.sql.functions.col
    val withCorrupt = spark.read
      .schema(BlockSchema.block.add("_corrupt_record",
        org.apache.spark.sql.types.StringType))
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)
      .cache() // Spark requires referencing corrupt-record queries cached
    val good = withCorrupt.filter(col("_corrupt_record").isNull)
      .drop("_corrupt_record")
    val bad = withCorrupt.filter(col("_corrupt_record").isNotNull)
      .select(col("_corrupt_record").as("raw"))
    (good, bad)
  }

  /** The flagship token-flow ledger (SURVEY.md §0). Output schema matches
    * FIXTURES.md §4:
    * timestamp, wallet, signature, mint, pre_balance, post_balance,
    * baseVault, quoteVault, baseMint, quoteMint, base_price, quote_price.
    *
    * Semantics preserved from the reference:
    *  - tx qualifies iff any address in accountKeys ∪ writable ∪ readonly
    *    is watch-listed (set lookup, O20);
    *  - accountIndex addresses the concatenation accountKeys ++ writable
    *    ++ readonly (positional lookup, O22);
    *  - row key = hot-address-at-index if present else balance owner (O23);
    *  - duplicate (wallet, mint) within a side: LAST occurrence wins (O24);
    *  - empty balance string ⇒ SQL NULL; row emitted iff either side
    *    non-empty (O25);
    *  - signature = blockTime-txIdx-1 (O26).
    *
    * The plan is one generator per block, [[LedgerKernel]], which folds
    * each transaction in plain Scala (the rules above up to O25), then a
    * distinct, which emits a block that arrives twice in one batch once,
    * and the enrichment. It holds no join and no object-hash or sort
    * aggregate; over a file scan it runs one shuffle (the distinct's)
    * and two jobs.
    *
    * The three dimensions are read to the driver once per call and enter
    * the plan as lookups: the hot set and the prices as hash tables,
    * broadcast past 64 KiB instead of riding in every task, the tags as
    * IN-sets. Each must be broadcast-sized: one whose planner estimate
    * passes `spark.sql.maxBroadcastTableSize` is refused before any job
    * runs.
    *
    * @param blocks      parsed block DataFrame (schema [[BlockSchema.block]])
    * @param hot         watch-list dimension: column `addr`
    * @param watchlists  dimension (kind ∈ {BASE_VAULTS, QUOTE_VAULTS,
    *                    BASE_MINTS, QUOTE_MINTS}, addr)
    * @param prices      dimension (vault, side ∈ {base, quote}, price_usd)
    */
  def tokenFlows(blocks: DataFrame, hot: DataFrame, watchlists: DataFrame,
                 prices: DataFrame): DataFrame =
    tokenFlows(blocks, Dims.read(hot, watchlists, prices))

  /** [[tokenFlows]]'s dimensions as driver-side lookups. Equal values
    * mean equal contents: [[graft.streaming.Streams.tokenFlowsStream]]
    * keys its kept plan on them.
    *
    * @param hot       hot addresses, distinct and sorted
    * @param tags      watch-list kind → its addresses, distinct and sorted
    * @param prices    side → vault → its prices in read order (a duplicate
    *                  price row repeats the ledger row). Java lists compare
    *                  values with `equals`, bit-exact for doubles; Scala's
    *                  `==` has 0.0 == -0.0 and NaN != NaN.
    * @param priceType the dimension's `price_usd` type
    */
  private[graft] final case class Dims(
      hot: Seq[String],
      tags: Map[String, Seq[String]],
      prices: Map[String, Map[String, java.util.List[Any]]],
      priceType: DataType)

  private[graft] object Dims {
    def read(hot: DataFrame, watchlists: DataFrame, prices: DataFrame)
        : Dims = reader(hot, watchlists, prices)()

    /** Reads the three dimensions on every call, except that a constant
      * one is read on the first call only and kept: every leaf of its
      * analysed plan is a local relation and every expression is
      * deterministic, with no UDF, subquery or leaf other than a column
      * or a literal, so nothing it reads can change. Every other
      * dimension is re-read on every call (O9). */
    def reader(hot: DataFrame, watchlists: DataFrame, prices: DataFrame)
        : () => Dims = {
      // a NULL key never matched a join: drop the row
      def keyed(rows: Seq[Row], keys: Int) =
        rows.filter(r => (0 until keys).forall(!r.isNullAt(_)))
      def addrs(rows: Seq[Row], i: Int) =
        rows.map(_.getString(i)).distinct.sorted
      val readHot = once(hot)(
        addrs(keyed(collect("hot", hot, "addr"), 1), 0))
      val readTags = once(watchlists)(
        keyed(collect("watchlists", watchlists, "kind", "addr"), 2)
          .groupBy(_.getString(0))
          .map { case (kind, rs) => kind -> addrs(rs, 1) })
      val readPrices = once(prices)(
        keyed(collect("prices", prices, "vault", "side", "price_usd"), 2)
          .groupBy(_.getString(1)).map { case (side, rs) =>
            side -> rs.groupBy(_.getString(0))
              .map { case (vault, ps) => vault -> ps.map(_.get(2)).asJava }
          })
      val priceType = prices.schema("price_usd").dataType
      () => Dims(readHot(), readTags(), readPrices(), priceType)
    }

    private def once[T](dim: DataFrame)(read: => T): () => T =
      if (constant(dim)) {
        lazy val kept = read
        () => kept
      } else () => read

    private def constant(dim: DataFrame): Boolean = {
      val plan = dim.queryExecution.analyzed
      def varies(e: Expression): Boolean = e match {
        case _: Attribute | _: Literal => false
        case _: UserDefinedExpression | _: SubqueryExpression => true
        case _ => !e.deterministic || e.children.isEmpty
      }
      plan.collectLeaves().forall(_.isInstanceOf[LocalRelation]) &&
        !plan.exists(_.expressions.exists(_.exists(varies)))
    }

    /** `cols` of `dim` on the driver, refused before any job runs when the
      * planner's estimate for `dim` passes the broadcast limit. An unknown
      * estimate (a stat-less source reports `spark.sql.defaultSizeInBytes`)
      * proceeds. */
    private def collect(name: String, dim: DataFrame, cols: String*)
        : Seq[Row] = {
      val qe = dim.queryExecution
      val conf = qe.sparkSession.sessionState.conf
      val size = qe.optimizedPlan.stats.sizeInBytes
      require(size >= conf.defaultSizeInBytes ||
          size <= conf.maxBroadcastTableSizeInBytes,
        s"tokenFlows: the $name dimension is estimated at $size bytes, " +
          "over spark.sql.maxBroadcastTableSize " +
          s"(${conf.maxBroadcastTableSizeInBytes} bytes)")
      dim.select(cols.map(col): _*).collect().toSeq
    }
  }

  /** [[tokenFlows]] over dimensions already read. */
  private[graft] def tokenFlows(blocks: DataFrame, dims: Dims): DataFrame = {
    // One pass per block: the scan feeds one generator, the per-block
    // ledger kernel, which folds each transaction in plain Scala; a
    // distinct and the enrichment follow. The dimensions are lookups in
    // the plan: no join, no broadcast join.
    //
    // Per-block identity: blockTime alone is NOT unique (Solana emits
    // multiple blocks per second at second resolution), so the distinct
    // keys on a content hash of the parsed struct (xxhash64, no to_json
    // of multi-MB blocks). (txIdx, wallet, mint) is unique within a
    // block, so the distinct drops only the copies of a block that
    // arrives twice in one batch — idempotent re-ingest. The hash and
    // the block time are projected before the kernel: in a select
    // holding a generator the other expressions run after it, once per
    // generated row, and the kernel (not code-generated) would copy the
    // whole block into each of its rows to read them there.
    // The surrogate signature stays blockTime-txIdx-1 (reference
    // behavior, which tolerates signature collisions).
    val spark = blocks.sparkSession
    val rows = blocks
      .select(xxhash64(col("result.blockTime"), col("result.transactions"))
          .as("__block_id"),
        col("result.blockTime").as("timestamp"),
        col("result.transactions").as("__txs"))
      .select(col("__block_id"), col("timestamp"),
        LedgerKernel.column(spark, col("__txs"), dims.hot)
          .as(LedgerKernel.rowSchema.fieldNames.toSeq))
      .distinct()

    // Enrichment (O29/O30): four membership tags, each an IN-set test,
    // and two hashed price lookups typed like the dimension's price_usd.
    // explode_outer gives a wallet without a price one row with a NULL
    // price, and one with several prices a row each.
    def tag(kind: String, key: String): Column =
      Tagging.isinTag(col(key), dims.tags.getOrElse(kind, Nil))
    def price(side: String): Column =
      explode_outer(PriceLookup.column(spark, col("wallet"),
        dims.prices.getOrElse(side, Map.empty), dims.priceType))

    rows
      .select(col("timestamp"), col("wallet"),
        Tagging.surrogateKey(col("timestamp"), col("txIdx"), lit("1"))
          .as("signature"),
        col("mint"), col("pre_balance"), col("post_balance"),
        tag("BASE_VAULTS", "wallet").as("baseVault"),
        tag("QUOTE_VAULTS", "wallet").as("quoteVault"),
        tag("BASE_MINTS", "mint").as("baseMint"),
        tag("QUOTE_MINTS", "mint").as("quoteMint"),
        price("base").as("base_price"))
      .withColumn("quote_price", price("quote"))
  }

  /** Pool-detection filter (O33): a tx qualifies if its joined log text
    * contains a watched program id AND matches `Instruction: <name>\b` for
    * one of that program's instruction names. Emits candidate txs with
    * their accountKeys for downstream metadata resolution. */
  def detectPools(blocks: DataFrame,
                  programs: Map[String, Seq[String]]): DataFrame = {
    val txs = blocks.select(col("result.blockTime").as("blockTime"),
        posexplode(col("result.transactions")).as(Seq("txIdx", "tx")))
      .withColumn("logText",
        array_join(coalesce(col("tx.meta.logMessages"),
          array().cast("array<string>")), " "))
    val cond = programs.map { case (prog, instrs) =>
      // empty instruction list matches NOTHING (an empty rlike pattern
      // would match everything); names are regex-quoted so a literal
      // like "Init(v2)" can't change the pattern's meaning. The
      // boundary is (?!\w), not \b: after a non-word final char like
      // ')' \b would REQUIRE a following word char, silently
      // unmatching exactly those quoted names.
      if (instrs.isEmpty) lit(false)
      else col("logText").contains(prog) &&
        col("logText").rlike(instrs.map(i =>
            "Instruction: " + java.util.regex.Pattern.quote(i) + "(?!\\w)")
          .mkString("|"))
    }.reduceOption(_ || _).getOrElse(lit(false))
    txs.filter(cond)
      .select(col("blockTime"), col("txIdx"),
        col("tx.transaction.message.accountKeys").as("accountKeys"))
  }

  /** Decimal enrichment of the ledger (SURVEY §7.4d): exact
    * DECIMAL(38,18) amounts and the per-row flow delta, computed
    * losslessly from the string balances. Kept OUT of [[tokenFlows]]'s
    * output so the FIXTURES.md §4 schema contract stays byte-identical
    * with the reference; analytical consumers opt in here. */
  def withDecimalBalances(ledger: DataFrame): DataFrame =
    ledger
      .withColumn("pre_amount", graft.Fns.toAmount(col("pre_balance")))
      .withColumn("post_amount", graft.Fns.toAmount(col("post_balance")))
      // subtraction of two DECIMAL(38,18) would need precision 39, so
      // Spark truncates the result scale to 17 — one digit lost. Casting
      // the operands to (37,18) first (one fewer integral digit, still
      // 10^19 whole tokens) makes the difference land exactly in (38,18).
      .withColumn("delta_amount",
        coalesce(col("post_amount"), lit(0)).try_cast("decimal(37,18)") -
          coalesce(col("pre_amount"), lit(0)).try_cast("decimal(37,18)"))

  /** Pool-metadata resolution contract (O6/O7): the reference resolves a
    * candidate tx's accountKeys through a REST API into the full 5-field
    * pool payload — pool_address, base/quote mint, base/quote vault
    * (reference: SERVER/combined_subscriber.py:78-84). The HTTP call is
    * out of engine scope, so resolution is PLUGGABLE: any transform from
    * [[detectPools]] candidates (blockTime, txIdx, accountKeys) to the
    * payload schema
    * (blockTime, pool_address, base_mint, quote_mint, base_vault,
    * quote_vault). [[stubResolver]] is the deterministic default used on
    * fixtures; a production deployment swaps in a resolver that joins a
    * REST-fed metadata table — nothing downstream changes.
    */
  type PoolResolver = DataFrame => DataFrame

  /** STUB resolver: reads the payload positionally out of accountKeys.
    * Deterministic and total (missing positions ⇒ NULL); candidates
    * without a resolvable pool_address are dropped, like a failed REST
    * lookup in the reference. */
  val stubResolver: PoolResolver = cands =>
    cands.select(col("blockTime"),
        try_element_at(col("accountKeys"), lit(1)).as("pool_address"),
        try_element_at(col("accountKeys"), lit(2)).as("base_mint"),
        try_element_at(col("accountKeys"), lit(3)).as("quote_mint"),
        try_element_at(col("accountKeys"), lit(4)).as("base_vault"),
        try_element_at(col("accountKeys"), lit(5)).as("quote_vault"))
      .filter(col("pool_address").isNotNull)

  /** Explode a 5-field pool-registry snapshot into the (kind, addr)
    * watch-list dimension [[tokenFlows]] consumes — the SURVEY §3.2 loop:
    * detected pools feed the next micro-batch's vault/mint tagging. */
  def registryToWatchlists(registry: DataFrame): DataFrame =
    registry.select(explode(array(
        struct(lit("BASE_VAULTS").as("kind"), col("base_vault").as("addr")),
        struct(lit("QUOTE_VAULTS").as("kind"), col("quote_vault").as("addr")),
        struct(lit("BASE_MINTS").as("kind"), col("base_mint").as("addr")),
        struct(lit("QUOTE_MINTS").as("kind"), col("quote_mint").as("addr"))))
        .as("e"))
      .select(col("e.kind").as("kind"), col("e.addr").as("addr"))
      .filter(col("addr").isNotNull)
      .distinct()

  /** Pool freshness filter (O34): keep pools opened within `windowSec` of
    * `now` (an explicit column, not wall-clock, for determinism). */
  def freshPools(pools: DataFrame, now: Column,
                 windowSec: Long = 300L): DataFrame =
    pools.filter(now - col("openTime") <= windowSec)

  /** Price derivation (O37/O38): quote USD price from base USD and the
    * native pair price, guarded against zero/empty. */
  def derivedQuotePrice(baseUsd: Column, priceNative: Column): Column = {
    // try_cast: empty/malformed price strings degrade to 0.0 instead of
    // failing the job under ANSI mode (reference: float(str or 0)).
    val native = coalesce(priceNative.try_cast("double"), lit(0.0))
    val base = coalesce(baseUsd.try_cast("double"), lit(0.0))
    when(native > 0, base / native).otherwise(0.0)
  }
}
