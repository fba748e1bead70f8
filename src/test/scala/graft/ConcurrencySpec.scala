package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Paths
import java.security.MessageDigest
import java.util.concurrent.{Callable, Executors, TimeUnit}

/** Catalogue queries called at once from several threads on one session
  * return what they return one at a time: no query leaves state on the
  * session (conf, caches) that another query reads. */
class ConcurrencySpec extends SparkSpec {

  private val sf =
    Paths.get(GraftSession.sfDir).resolveSibling("sf0.001").toString

  // traversals (the checkpointed adjacency), triangles, pageRank, the
  // critical path (two driver threads inside one query), dedup,
  // percentiles, ANN and the MPEG-1 PCM decoder (the window table)
  private val names = Seq("q149_bfs_hops", "q166_sssp", "q131_triangles",
    "q121_pagerank", "q255_critical_path", "q22_dedup_exact",
    "q65_dedup_survivorship", "q33_percentiles", "q50_quantiles",
    "q27_embed_ann_ivf", "q96_ann_two_level", "q333_mpeg1_l2_pcm",
    "q01_pricing_summary")

  /** Row count and SHA-256 of the sorted rows. */
  private def digest(name: String): (Int, String) = {
    val rows = SparkEntry.queries(name)(spark, sf).collect()
      .map(_.mkString("\u0001")).sorted
    (rows.length, MessageDigest.getInstance("SHA-256")
      .digest(rows.mkString("\n").getBytes(UTF_8))
      .map(b => f"$b%02x").mkString)
  }

  test("a dozen catalogue queries on 8 threads equal a sequential run; " +
      "AQE stays on") {
    val pool = Executors.newFixedThreadPool(8)
    try {
      val sequential = names.map(n => n -> digest(n)).toMap
      SparkEntry.releaseScopedCaches()
      // every query twice, so each has a concurrent twin
      val tasks = (names ++ names).map(n =>
        (n, pool.submit(new Callable[(Int, String)] {
          def call(): (Int, String) = digest(n)
        })))
      for ((n, f) <- tasks)
        assert(f.get(120, TimeUnit.SECONDS) === sequential(n), n)
      assert(sequential.values.forall(_._1 > 0))
      assert(spark.conf.get("spark.sql.adaptive.enabled") === "true")
    } finally {
      pool.shutdownNow()
      SparkEntry.releaseScopedCaches()
    }
  }
}
