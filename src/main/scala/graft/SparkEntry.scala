package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.catalog._
import graft.domain.TokenFlows

/** The library's query surface — see SURVEY.md §7.
  *
  * Every query is declared once, as a [[catalog.QueryDef]] in the
  * `graft.catalog` module of its operator family: a pure
  * (SparkSession, sfDir) => DataFrame over the star schema, paired (where
  * SQL-expressible) with the DuckDB oracle run on the same parquet tables.
  * [[queries]] and [[oracleSql]] are the catalogue's two projections.
  */
object SparkEntry {

  /** Flagship query (SURVEY.md §7.2 token-flow slice) on sf0.001; driver
    * smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    TokenFlows.eventLedger(spark, "/root/testdata/sf0.001")

  // Query-scoped persisted intermediates. A query lambda cannot unpersist
  // what its (still lazy) result reads, so multi-consumer intermediates
  // persist through [[scoped]] and the CONSUMER releases them once the
  // result is materialized — Bench and Verify call [[releaseScopedCaches]]
  // after every query; external callers should do the same. A queue, not a
  // set: best-of-2 bench runs build the same query twice, registering two
  // independent cache handles.
  private val scopedCaches =
    new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]
  private[graft] def scoped(df: DataFrame): DataFrame = {
    val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    scopedCaches.add(p)
    p
  }
  /** Unpersist every intermediate registered by query builders since the
    * last call. Safe to call at any time: queries re-persist on rebuild. */
  def releaseScopedCaches(): Unit = {
    var d = scopedCaches.poll()
    while (d != null) { d.unpersist(blocking = false); d = scopedCaches.poll() }
  }

  /** Every declared query. A query belongs to the first module below
    * whose operator family its build calls; `RelationalQueries` takes the
    * rest. Built once per JVM: a query's build and oracle depend only on
    * constants, including the decoder's window table the PCM oracles
    * interpolate. */
  lazy val catalogue: Seq[QueryDef] = QueryDef.catalogue(
    MultimodalQueries.defs ++ ClassifierQueries.defs ++ GraphQueries.defs ++
      AnnQueries.defs ++ DedupQueries.defs ++ TextQueries.defs ++
      PipelineQueries.defs ++ AnalyticsQueries.defs ++ RelationalQueries.defs)

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    catalogue.map(d => d.name -> d.build).toMap

  /** DuckDB oracles: same column names, same ORDER BY as the Spark side.
    * Sums of integer-typed columns are cast to BIGINT (DuckDB widens to
    * HUGEINT); doubles are rounded identically on both sides. */
  def oracleSql: Map[String, String] =
    catalogue.flatMap(d => d.oracle.map(d.name -> _)).toMap
}
