package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Scalar tagging / key-derivation operators.
  *
  * Re-expresses the reference's enrichment stage (membership tagging of
  * wallets/mints against watch-list sets, cf. reference
  * SERVER/flightWithRedisLatest.py:92-112, and key synthesis, cf. reference
  * RECEIVER/stage2_processing.cpp:159-167,392-396) as codegen-friendly
  * `Column` expressions — no UDFs, so everything stays inside
  * WholeStageCodegen.
  */
object Tagging {

  /** Membership tag: `col` if it is in `members`, else NULL.
    *
    * The isin turns into an In/InSet expression, evaluated locally per row —
    * no shuffle, no join. A broadcast-sized watch-list held as a dimension
    * DataFrame is read to the driver first (see
    * [[graft.domain.Rugpull.tokenFlows]]).
    */
  def isinTag(col: Column, members: Seq[String]): Column =
    if (members.isEmpty) lit(null).cast("string")
    else when(col.isin(members: _*), col)

  /** Surrogate key: dash-joined parts (blockTime-txIdx-datacenter in the
    * reference). */
  def surrogateKey(parts: Column*): Column = concat_ws("-", parts: _*)
}
