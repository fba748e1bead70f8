package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft SparkSession is built, and the environment the
  * entry points (Bench, Verify, Smoke, the demo, the test probes) read.
  *
  *  - `SPARK_GRAFT_CPUS`: local cores, default 4;
  *  - `SPARK_GRAFT_SF_DIR`: the star-schema tables, default sf0.1;
  *  - `SPARK_GRAFT_ONLY`: see [[selects]].
  */
object GraftSession {

  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.trim.toInt)

  def sfDir: String =
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** Query-name filter from `SPARK_GRAFT_ONLY`: comma-separated name
    * prefixes (an exact name is its own prefix). Unset selects every
    * query. Local iteration only — full runs never set it. */
  lazy val selects: String => Boolean =
    sys.env.get("SPARK_GRAFT_ONLY").fold((_: String) => true) { v =>
      val prefixes = v.split(',').map(_.trim).filter(_.nonEmpty).toSeq
      name => prefixes.exists(name.startsWith)
    }

  /** `local[cpus]` with the graft SQL functions, planner strategy and
    * optimizer rule registered. */
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      // Tables.events' NTZ-vintage cast is time-zone dependent
      .config("spark.sql.session.timeZone", "UTC")
      // static conf, default 100: the full query suite generates several
      // hundred codegen classes, so the default LRU recompiles hot
      // stages mid-suite — later queries pay Janino time that isolated
      // runs of the same query don't
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftFunctions.register(spark)
    spark
  }

  /** Pays JVM, codegen and scan-setup cost outside any timed region, so
    * the first query's number isn't session startup. */
  def warmUp(spark: SparkSession, sfDir: String): Unit = {
    spark.range(100000).selectExpr("sum(id % 7)").collect()
    spark.read.parquet(s"$sfDir/lineitem.parquet").limit(1).count()
  }
}
