package graft.domain

import java.util.{HashMap => JHashMap, HashSet => JHashSet, LinkedHashMap => JLinkedHashMap}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** A driver-side lookup table that tasks read: it rides in the task
  * binary while its estimate is at most [[Shipped.InlineBytes]], and
  * past that through a broadcast, so a large dimension is not
  * serialised into every task. */
private[graft] final class Shipped[T] private (inline: T,
    broadcast: Broadcast[T]) extends Serializable {
  def value: T = if (broadcast == null) inline else broadcast.value
  def broadcasted: Boolean = broadcast != null
}

private[graft] object Shipped {
  val InlineBytes: Long = 64L * 1024

  /** `value` shipped by its estimate `bytes`. */
  def apply[T: ClassTag](spark: SparkSession, value: T, bytes: Long)
      : Shipped[T] =
    if (bytes <= InlineBytes) new Shipped(value, null)
    else new Shipped(null.asInstanceOf[T], spark.sparkContext.broadcast(value))

  /** Estimated bytes of `keys` as hash-table entries. */
  def bytesOf(keys: Iterable[String]): Long =
    keys.iterator.map(_.length + 48L).sum
}

/** The flagship's per-block kernel (SURVEY §0, the reference's per-block
  * loop): one pass over a block's `transactions` that emits, for each
  * transaction naming a hot address, its ledger rows
  * (txIdx, wallet, mint, pre_balance, post_balance). Per transaction:
  *  - the addresses accountKeys ++ writable ++ readonly are numbered in
  *    that order (a NULL list counts as empty, a NULL element takes its
  *    position) and tested against the hot set (O20, O22);
  *  - a transaction with no hot address emits nothing;
  *  - a balance entry's wallet is the hot address at its `accountIndex`,
  *    else its owner, an empty string counting as NULL; an entry with
  *    neither is dropped (O23);
  *  - per (wallet, mint) the last entry of each side wins, a missing
  *    amount reading as "" (O24);
  *  - "" becomes NULL, and a row is emitted iff either side is non-NULL
  *    (O25).
  * Fields are found by name in the input's struct type. The hot set
  * stays out of plan strings.
  */
private[graft] case class LedgerKernel(child: Expression,
    hot: Shipped[JHashSet[UTF8String]])
    extends UnaryExpression with Generator with CodegenFallback {
  import LedgerKernel._

  override def elementSchema: StructType = rowSchema
  override protected def stringArgs: Iterator[Any] = Iterator(child)

  @transient private lazy val hotSet = hot.value
  @transient private lazy val tx = child.dataType match {
    case ArrayType(t: StructType, _) => t
    case t => throw new IllegalArgumentException(
      s"ledger kernel: transactions must be an array of structs, not $t")
  }
  @transient private lazy val keys = Path(tx, "transaction", "message",
    "accountKeys")
  @transient private lazy val writable = Path(tx, "meta", "loadedAddresses",
    "writable")
  @transient private lazy val readonly = Path(tx, "meta", "loadedAddresses",
    "readonly")
  @transient private lazy val pre = Path(tx, "meta", "preTokenBalances")
  @transient private lazy val post = Path(tx, "meta", "postTokenBalances")
  @transient private lazy val balance = pre.leafType match {
    case ArrayType(t: StructType, _) => t
    case t => throw new IllegalArgumentException(
      s"ledger kernel: token balances must be structs, not $t")
  }
  @transient private lazy val accountIndex = Path(balance, "accountIndex")
  @transient private lazy val mint = Path(balance, "mint")
  @transient private lazy val owner = Path(balance, "owner")
  @transient private lazy val amount = Path(balance, "uiTokenAmount",
    "uiAmountString")

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val txs = child.eval(input).asInstanceOf[ArrayData]
    val out = ArrayBuffer.empty[InternalRow]
    if (txs != null) {
      var t = 0
      while (t < txs.numElements()) {
        if (!txs.isNullAt(t)) fold(t, txs.getStruct(t, tx.length), out)
        t += 1
      }
    }
    out
  }

  private def fold(txIdx: Int, row: InternalRow,
                   out: ArrayBuffer[InternalRow]): Unit = {
    val lists = Array(keys.array(row), writable.array(row),
      readonly.array(row))
    val hotAt = new Array[UTF8String](lists.map(size).sum)
    var pos = 0
    var hit = false
    lists.foreach { list =>
      var i = 0
      while (i < size(list)) {
        if (!list.isNullAt(i)) {
          val a = list.getUTF8String(i)
          if (hotSet.contains(a)) { hotAt(pos) = a; hit = true }
        }
        i += 1
        pos += 1
      }
    }
    if (!hit) return

    // (wallet, mint) → the last raw amount of each side, in first-seen order
    val merged = new JLinkedHashMap[(UTF8String, UTF8String), Array[UTF8String]]
    def side(s: Int, entries: ArrayData): Unit = {
      var i = 0
      while (i < size(entries)) {
        if (!entries.isNullAt(i)) {
          val b = entries.getStruct(i, balance.length)
          val at = accountIndex.int(b)
          val positional =
            emptyToNull(if (at >= 0 && at < hotAt.length) hotAt(at) else null)
          val wallet =
            if (positional != null) positional else emptyToNull(owner.string(b))
          if (wallet != null) {
            val amounts = merged.computeIfAbsent((wallet, mint.string(b)),
              _ => new Array[UTF8String](2))
            val a = amount.string(b)
            amounts(s) = if (a == null) UTF8String.EMPTY_UTF8 else a
          }
        }
        i += 1
      }
    }
    side(0, pre.array(row))
    side(1, post.array(row))
    merged.forEach { (key, amounts) =>
      val (p, q) = (emptyToNull(amounts(0)), emptyToNull(amounts(1)))
      if (p != null || q != null) out += InternalRow(txIdx, key._1, key._2, p, q)
    }
  }

  override protected def withNewChildInternal(c: Expression): LedgerKernel =
    copy(child = c)
}

private[graft] object LedgerKernel {
  /** The kernel's rows; every string column is declared nullable, as the
    * ledger's schema has been. */
  val rowSchema: StructType = StructType(Seq(
    StructField("txIdx", IntegerType, nullable = false),
    StructField("wallet", StringType),
    StructField("mint", StringType),
    StructField("pre_balance", StringType),
    StructField("post_balance", StringType)))

  private def size(a: ArrayData): Int = if (a == null) 0 else a.numElements()
  private def emptyToNull(s: UTF8String): UTF8String =
    if (s == null || s.numBytes() == 0) null else s

  /** The kernel over `transactions` against `hot`, as a generator column. */
  def column(spark: SparkSession, transactions: Column, hot: Seq[String])
      : Column = {
    val set = new JHashSet[UTF8String](hot.map(UTF8String.fromString).asJava)
    Bridge.column(LedgerKernel(Bridge.expression(transactions),
      Shipped(spark, set, Shipped.bytesOf(hot))))
  }

  /** A nested field of a struct row, found by its name path in `t`;
    * a NULL at any level reads NULL (or -1 for an int). */
  private final case class Path(t: StructType, names: String*) {
    private val (steps, leaf) = {
      var st = t
      val ords = names.map { n =>
        val i = st.fieldIndex(n)
        val step = (i, st.length)
        st = st(i).dataType match {
          case s: StructType => s
          case _ => null
        }
        step
      }
      (ords.init.toArray, ords.last._1)
    }
    val leafType: DataType = names.init.foldLeft(t)((s, n) =>
      s(n).dataType.asInstanceOf[StructType])(names.last).dataType

    private def parent(row: InternalRow): InternalRow = {
      var r = row
      var i = 0
      while (r != null && i < steps.length) {
        val (o, n) = steps(i)
        r = if (r.isNullAt(o)) null else r.getStruct(o, n)
        i += 1
      }
      if (r == null || r.isNullAt(leaf)) null else r
    }
    def array(row: InternalRow): ArrayData = {
      val r = parent(row); if (r == null) null else r.getArray(leaf)
    }
    def string(row: InternalRow): UTF8String = {
      val r = parent(row); if (r == null) null else r.getUTF8String(leaf)
    }
    def int(row: InternalRow): Int = {
      val r = parent(row); if (r == null) -1 else r.getInt(leaf)
    }
  }
}

/** The O30 price lookup: vault → its prices, typed like the dimension's
  * `price_usd` and in read order, by one hash probe per row. A vault
  * without a price reads NULL. The table stays out of plan strings. */
private[graft] case class PriceLookup(child: Expression,
    table: Shipped[JHashMap[UTF8String, ArrayData]], priceType: DataType)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(priceType)
  override def nullable: Boolean = true
  override def prettyName: String = "price_lookup"
  override protected def stringArgs: Iterator[Any] = Iterator(child)

  @transient private lazy val byVault = table.value

  def lookup(vault: UTF8String): ArrayData = byVault.get(vault)

  override protected def nullSafeEval(vault: Any): Any =
    lookup(vault.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
      : ExprCode = {
    val self = ctx.addReferenceObj("priceLookup", this)
    val in = child.genCode(ctx)
    val javaType = CodeGenerator.javaType(dataType)
    ev.copy(code = code"""
      ${in.code}
      $javaType ${ev.value} = ${in.isNull} ? null : $self.lookup(${in.value});
      boolean ${ev.isNull} = ${ev.value} == null;""")
  }

  override protected def withNewChildInternal(c: Expression): PriceLookup =
    copy(child = c)
}

private[graft] object PriceLookup {
  /** `vault`'s prices in `byVault` as a column of `array<priceType>`. */
  def column(spark: SparkSession, vault: Column,
             byVault: Map[String, java.util.List[Any]], priceType: DataType)
      : Column = {
    val toCatalyst = CatalystTypeConverters
      .createToCatalystConverter(ArrayType(priceType))
    val table = new JHashMap[UTF8String, ArrayData](byVault.size * 2)
    byVault.foreach { case (v, ps) =>
      table.put(UTF8String.fromString(v),
        toCatalyst(ps.asScala.toSeq).asInstanceOf[ArrayData])
    }
    val bytes = Shipped.bytesOf(byVault.keys) +
      byVault.values.map(_.size * 16L).sum
    Bridge.column(PriceLookup(Bridge.expression(vault),
      Shipped(spark, table, bytes), priceType))
  }
}
