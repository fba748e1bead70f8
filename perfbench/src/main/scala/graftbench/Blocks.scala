package graftbench

import java.util.SplittableRandom

import org.apache.spark.sql.Row

/** Seeded Solana `getBlock` generator for the token-flow flagship, with a
  * plain-Scala model of `Rugpull.tokenFlows` that gives each block's
  * expected ledger.
  *
  * The blocks exercise every branch of the flagship (the test checks that a
  * small fixture reaches each):
  *  - watch-list hits through accountKeys, loadedAddresses.writable and
  *    loadedAddresses.readonly;
  *  - an `accountIndex` that points at the hot vault (the positional
  *    override), so the vault tags and prices attach;
  *  - watch-listed mints (base and quote);
  *  - pre-only and post-only balances;
  *  - a duplicate (owner, mint) within one side, where the last entry wins;
  *  - a missing `uiAmountString`, and an empty one.
  */
object Blocks {

  final case class Bal(accountIndex: Int, mint: String, owner: String,
                       amount: Option[String])
  final case class Tx(keys: Vector[String], writable: Vector[String],
                      readonly: Vector[String], pre: Vector[Bal],
                      post: Vector[Bal], logs: Vector[String]) {
    def allAddrs: Vector[String] = keys ++ writable ++ readonly
  }
  final case class Block(blockTime: Long, txs: Vector[Tx])

  /** One expected ledger row, in `tokenFlows`' column order. */
  type LedgerRow = Seq[Any]

  val LedgerColumns: Seq[String] = Seq("timestamp", "wallet", "signature",
    "mint", "pre_balance", "post_balance", "baseVault", "quoteVault",
    "baseMint", "quoteMint", "base_price", "quote_price")

  /** The dimension tables the flagship joins: the hot watch-list and the
    * tag and price snapshots. Hot vault `i` is a base vault when i % 4 == 0
    * and a quote vault when i % 4 == 1; the others are watched wallets. */
  final case class Dims(hot: Vector[String],
                        watchlists: Vector[(String, String)],
                        prices: Vector[(String, String, Double)]) {
    private def kind(k: String): Set[String] =
      watchlists.collect { case (`k`, a) => a }.toSet
    val hotSet: Set[String] = hot.toSet
    val baseVaults: Set[String] = kind("BASE_VAULTS")
    val quoteVaults: Set[String] = kind("QUOTE_VAULTS")
    val baseMints: Set[String] = kind("BASE_MINTS")
    val quoteMints: Set[String] = kind("QUOTE_MINTS")
    val basePrice: Map[String, Double] =
      prices.collect { case (v, "base", p) => v -> p }.toMap
    val quotePrice: Map[String, Double] =
      prices.collect { case (v, "quote", p) => v -> p }.toMap
  }

  final case class Shape(txPerBlock: Int, hotCount: Int, hotShare: Double)

  /** ~1 MB blocks, 100 watched addresses, ~8 % of transactions hot. */
  val LiveShape: Shape = Shape(500, 100, 0.08)

  private val Alphabet =
    "123456789ABCDEFGHJKLMNPQRSTUVWXYZabcdefghijkmnopqrstuvwxyz"

  /** A 44-character base58-looking address, distinct per (tag, i). */
  def address(tag: Char, i: Int): String = {
    val sb = new StringBuilder(44)
    sb.append(tag)
    var x = (i.toLong + 1) * 0x9E3779B97F4A7C15L ^ tag.toLong
    while (sb.length < 36) {
      sb.append(Alphabet.charAt(java.lang.Long.remainderUnsigned(x, 58).toInt))
      x = java.lang.Long.divideUnsigned(x, 58)
      if (x == 0) x = (i.toLong + sb.length) * 0xC2B2AE3D27D4EB4FL
    }
    sb.append(f"$i%08d")
    sb.toString
  }

  private val WalletPool = 50000
  private val MintPool = 500
  private lazy val wallets: Array[String] =
    Array.tabulate(WalletPool)(address('W', _))
  private lazy val mints: Array[String] = Array.tabulate(MintPool)(address('M', _))
  private val Programs = Vector(
    "11111111111111111111111111111111",
    "TokenkegQfeZyiNwAJbNbGKPFXCWuBvf9Ss623VQ5DA",
    "ComputeBudget111111111111111111111111111111")

  def dims(seed: Long, shape: Shape): Dims = {
    val rng = new SplittableRandom(seed * 31 + shape.hotCount)
    val hot = Vector.tabulate(shape.hotCount)(address('H', _))
    val vaultTags = hot.zipWithIndex.collect {
      case (a, i) if i % 4 == 0 => ("BASE_VAULTS", a)
      case (a, i) if i % 4 == 1 => ("QUOTE_VAULTS", a)
    }
    val mintTags = mints.toVector.zipWithIndex.collect {
      case (m, i) if i % 10 == 0 => ("BASE_MINTS", m)
      case (m, i) if i % 10 == 1 => ("QUOTE_MINTS", m)
    }
    // prices for the tagged vaults, plus a base price on some untagged hot
    // wallets: tags and prices are independent joins
    val prices = hot.zipWithIndex.collect {
      case (a, i) if i % 4 == 0 || i % 8 == 2 => (a, "base", price(rng))
      case (a, i) if i % 4 == 1 => (a, "quote", price(rng))
    }
    Dims(hot, vaultTags ++ mintTags, prices)
  }

  private def price(rng: SplittableRandom): Double =
    (1 + rng.nextInt(10000000)) / 1000.0

  private def amount(rng: SplittableRandom): Option[String] =
    rng.nextInt(40) match {
      case 0 => None      // uiAmountString missing
      case 1 => Some("")  // empty string, also NULL in the ledger
      case _ => Some(s"${rng.nextInt(1000000)}.${rng.nextInt(1000000)}")
    }

  /** Block `index` of the stream with seed `seed`; independent of every
    * other block, so blocks can be generated in any order. */
  def block(seed: Long, shape: Shape, d: Dims, index: Int,
            blockTime: Long): Block = {
    val rng = new SplittableRandom(seed * 0x100000001b3L + index)
    Block(blockTime, Vector.tabulate(shape.txPerBlock)(t =>
      tx(rng, shape, d, hot = t < 3 || rng.nextDouble() < shape.hotShare,
        forced = t)))
  }

  private def tx(rng: SplittableRandom, shape: Shape, d: Dims, hot: Boolean,
                 forced: Int): Tx = {
    def wallet(): String = wallets(rng.nextInt(WalletPool))
    var keys = Vector.fill(6 + rng.nextInt(8))(wallet())
    var writable = Vector.fill(rng.nextInt(3))(wallet())
    var readonly = Vector.fill(rng.nextInt(3))(wallet())
    if (hot) {
      val h = d.hot(rng.nextInt(d.hot.size))
      // the first three transactions of every block cover the three
      // address lists; the rest pick one at random
      (if (forced < 3) forced else rng.nextInt(3)) match {
        case 0 => keys = keys.updated(rng.nextInt(keys.size), h)
        case 1 => writable = writable :+ h
        case _ => readonly = readonly :+ h
      }
    }
    val all = keys ++ writable ++ readonly
    val hotPos = all.indices.filter(i => d.hotSet.contains(all(i)))
    val nAcc = 1 + rng.nextInt(4)
    val accounts = Vector.fill(nAcc) {
      val mint = mints(rng.nextInt(MintPool))
      val owner = wallet()
      // half of the balances of a hot transaction point at a hot position
      // (the positional override); the others point anywhere in the
      // address list or just past it
      val idx =
        if (hotPos.nonEmpty && rng.nextBoolean()) hotPos(rng.nextInt(hotPos.size))
        else rng.nextInt(all.size + 2)
      (idx, mint, owner)
    }
    val pre = Vector.newBuilder[Bal]
    val post = Vector.newBuilder[Bal]
    accounts.zipWithIndex.foreach { case ((idx, mint, owner), a) =>
      // the first account of a forced transaction has both sides with an
      // amount, so every block has at least one ledger row
      val sure = a == 0 && forced < 3
      val sides = if (sure) 0 else rng.nextInt(7) // 0-4 both, 5 pre, 6 post
      def entry() = Bal(idx, mint, owner,
        if (sure) Some(s"${rng.nextInt(1000)}.5") else amount(rng))
      if (sides != 6) pre += entry()
      if (sides != 5) post += entry()
    }
    var preV = pre.result()
    var postV = post.result()
    // a duplicate (owner, mint) in one side: the later entry wins
    if (preV.nonEmpty && rng.nextInt(8) == 0)
      preV = preV :+ preV(rng.nextInt(preV.size)).copy(amount = amount(rng))
    if (postV.nonEmpty && rng.nextInt(8) == 0)
      postV = postV :+ postV(rng.nextInt(postV.size)).copy(amount = amount(rng))
    val logs = Vector.fill(1 + rng.nextInt(3)) {
      val p = Programs(rng.nextInt(Programs.size))
      s"Program $p invoke [1]"
    }
    Tx(keys, writable, readonly, preV, postV, logs)
  }

  // ---- JSON --------------------------------------------------------------

  def json(b: Block): String = {
    val sb = new java.lang.StringBuilder(b.txs.size * 2200)
    def strs(xs: Vector[String]): Unit = {
      sb.append('[')
      var i = 0
      while (i < xs.size) {
        if (i > 0) sb.append(',')
        sb.append('"').append(xs(i)).append('"')
        i += 1
      }
      sb.append(']')
    }
    def bals(xs: Vector[Bal]): Unit = {
      sb.append('[')
      var i = 0
      while (i < xs.size) {
        val x = xs(i)
        if (i > 0) sb.append(',')
        sb.append("{\"accountIndex\":").append(x.accountIndex)
          .append(",\"mint\":\"").append(x.mint)
          .append("\",\"owner\":\"").append(x.owner)
          .append("\",\"programId\":\"").append(Programs(1))
          .append("\",\"uiTokenAmount\":{\"decimals\":6")
        x.amount.foreach(a => sb.append(",\"uiAmountString\":\"").append(a).append('"'))
        sb.append("}}")
        i += 1
      }
      sb.append(']')
    }
    sb.append("{\"jsonrpc\":\"2.0\",\"result\":{\"blockTime\":")
      .append(b.blockTime).append(",\"transactions\":[")
    var t = 0
    while (t < b.txs.size) {
      val x = b.txs(t)
      if (t > 0) sb.append(',')
      sb.append("{\"transaction\":{\"message\":{\"accountKeys\":")
      strs(x.keys)
      sb.append("}},\"meta\":{\"fee\":5000,\"loadedAddresses\":{\"readonly\":")
      strs(x.readonly)
      sb.append(",\"writable\":")
      strs(x.writable)
      sb.append("},\"preTokenBalances\":")
      bals(x.pre)
      sb.append(",\"postTokenBalances\":")
      bals(x.post)
      sb.append(",\"logMessages\":")
      strs(x.logs)
      sb.append("}}")
      t += 1
    }
    sb.append("]},\"id\":1}")
    sb.toString
  }

  // ---- model -------------------------------------------------------------

  private def emptyToNull(s: String): String =
    if (s == null || s.isEmpty) null else s

  /** The ledger `Rugpull.tokenFlows` must produce for one block. */
  def ledger(b: Block, d: Dims): Vector[LedgerRow] = {
    val out = Vector.newBuilder[LedgerRow]
    b.txs.zipWithIndex.foreach { case (x, txIdx) =>
      val all = x.allAddrs
      val hotAt = all.indices.filter(i => d.hotSet.contains(all(i)))
        .map(i => i -> all(i)).toMap
      if (hotAt.nonEmpty) {
        // (wallet, mint) -> (last pre entry, last post entry); a missing
        // amount is "" so a later missing amount overrides an earlier one
        val merged = scala.collection.mutable.LinkedHashMap
          .empty[(String, String), (Option[String], Option[String])]
        def put(side: Int, e: Bal): Unit = {
          val w = Option(emptyToNull(hotAt.getOrElse(e.accountIndex, null)))
            .orElse(Option(emptyToNull(e.owner))).orNull
          if (w != null) {
            val k = (w, e.mint)
            val (p, q) = merged.getOrElse(k, (None, None))
            val v = Some(e.amount.getOrElse(""))
            merged(k) = if (side == 0) (v, q) else (p, v)
          }
        }
        x.pre.foreach(put(0, _))
        x.post.foreach(put(1, _))
        merged.foreach { case ((w, m), (p, q)) =>
          val pre = p.map(emptyToNull).orNull
          val post = q.map(emptyToNull).orNull
          if (pre != null || post != null) {
            def tag(s: Set[String], v: String) = if (s.contains(v)) v else null
            def px(pm: Map[String, Double]) =
              pm.get(w).map(Double.box).orNull
            out += Seq(b.blockTime, w, s"${b.blockTime}-$txIdx-1", m, pre, post,
              tag(d.baseVaults, w), tag(d.quoteVaults, w),
              tag(d.baseMints, m), tag(d.quoteMints, m),
              px(d.basePrice), px(d.quotePrice))
          }
        }
      }
    }
    out.result()
  }

  /** Expected digest of one block's ledger. */
  def expected(b: Block, d: Dims): Digest =
    Digest.ofRows(LedgerColumns, ledger(b, d).map(Row.fromSeq))

  /** The number of blocks whose ledger differs from the model's: `rows`
    * holds the program's ledger rows by `timestamp` (the block time), and a
    * block with rows but no expectation counts too. */
  def mismatches(rows: Map[Long, Seq[Row]], expected: Map[Long, Digest]): Int =
    expected.count { case (t, d) =>
      Digest.ofRows(LedgerColumns, rows.getOrElse(t, Nil)) != d
    } + rows.keys.count(t => !expected.contains(t))

  /** Counts the domain-layer trace reports for a set of blocks. */
  final case class Counts(txs: Long, hotTxs: Long, ledgerRows: Long) {
    def +(o: Counts): Counts =
      Counts(txs + o.txs, hotTxs + o.hotTxs, ledgerRows + o.ledgerRows)
  }

  /** `f(0) … f(n - 1)` on all cores: blocks are independent of each other. */
  def inParallel[T](n: Int)(f: Int => T): Vector[T] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    Await.result(Future.traverse((0 until n).toVector)(i => Future(f(i))),
      scala.concurrent.duration.Duration.Inf)
  }

  def counts(bs: Seq[Block], d: Dims): Counts = {
    var txs, hot, rows = 0L
    bs.foreach { b =>
      txs += b.txs.size
      hot += b.txs.count(_.allAddrs.exists(d.hotSet.contains))
      rows += ledger(b, d).size
    }
    Counts(txs, hot, rows)
  }
}
