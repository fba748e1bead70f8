package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** Catalogue queries on inputs the generator never writes. */
class HostileInputSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def causes(e: Throwable): Seq[Throwable] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq

  test("q122 fails by name on an infinite price, and runs on the clean table") {
    val q = SparkEntry.queries("q122_mad_outliers")
    assert(q(spark, sf).count() > 0)
    val dir = Files.createTempDirectory("graft-q122-inf").toString
    try {
      val li = Tables.lineitem(spark, sf)
      li.unionByName(li.limit(1)
          .withColumn("l_extendedprice", lit(Double.PositiveInfinity)))
        .write.parquet(s"$dir/lineitem.parquet")
      val e = intercept[Exception](q(spark, dir).collect())
      assert(causes(e).exists(c => Option(c.getMessage).exists(m =>
        m.contains("q122_mad_outliers") && m.contains("infinite"))), e)
    } finally {
      SparkEntry.releaseScopedCaches()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }
}
