package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One catalogue query: a pure build over the star-schema tables in an sf
  * directory and, where SQL can express it, the DuckDB oracle that runs on
  * the same parquet tables. Column names and row order agree between the
  * two on purpose: the compare sorts columns by name before hashing values.
  */
final case class QueryDef(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object QueryDef {

  /** The `qNN` part of a name, which Bench keys its per-query JSON by. */
  def prefix(name: String): String = name.takeWhile(_ != '_')

  /** `defs` as one catalogue. Fails on a repeated name, which a map would
    * silently collapse to the later query, and on a repeated `qNN` prefix,
    * which would collide in Bench's JSON. */
  def catalogue(defs: Seq[QueryDef]): Seq[QueryDef] = {
    def repeated(keys: Seq[String]): String =
      keys.groupBy(identity).collect { case (k, ks) if ks.size > 1 => k }
        .toSeq.sorted.mkString(", ")
    val names = repeated(defs.map(_.name))
    require(names.isEmpty, s"repeated query names: $names")
    val prefixes = repeated(defs.map(d => prefix(d.name)))
    require(prefixes.isEmpty, s"repeated query prefixes: $prefixes")
    defs
  }
}
