package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.graft.Bridge

import graft.functions.{AffineMinHash, AffineSimHash, CosineSim, GramHashSet, Gunzip, IntSqrt, JaroSim, JaroWinklerSim, NfcNormalize, PolyHashArr, PolyStrHash, WordShingles}

/** SQL registration of graft's native expressions, two ways:
  *  - [[GraftExtensions]] for session build time
  *    (`.withExtensions(new GraftExtensions)` or
  *    `spark.sql.extensions=graft.GraftExtensions`);
  *  - [[GraftFunctions.register]] for a live session (the extensions path
  *    only applies when the session is constructed).
  */
object GraftFunctions {

  private def intArg(e: Expression, name: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$name expects a literal int, got $other")
  }

  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    // portable hash family (round 11: THE production fingerprint/
    // minhash/simhash family — closed-form mod-P arithmetic every SQL
    // engine replays; the xxhash64 kernels it replaced measured within
    // noise of it and were deleted)
    "poly_str_hash" -> ((args: Seq[Expression]) => PolyStrHash(args.head)),
    "poly_hash_arr" -> ((args: Seq[Expression]) => PolyHashArr(args.head)),
    "gram_hash_set" -> ((args: Seq[Expression]) =>
      GramHashSet(args(0), intArg(args(1), "gram_hash_set(n)"))),
    "affine_minhash" -> ((args: Seq[Expression]) =>
      AffineMinHash(args(0), intArg(args(1), "affine_minhash(k)"))),
    "affine_simhash" -> ((args: Seq[Expression]) =>
      AffineSimHash(args(0), intArg(args(1), "affine_simhash(k)"))),
    "nfc_normalize" -> ((args: Seq[Expression]) => NfcNormalize(args.head)),
    "cosine_sim" -> ((args: Seq[Expression]) => CosineSim(args(0), args(1))),
    "jaro_sim" -> ((args: Seq[Expression]) => JaroSim(args(0), args(1))),
    "jaro_winkler_sim" ->
      ((args: Seq[Expression]) => JaroWinklerSim(args(0), args(1))),
    "word_shingles" -> ((args: Seq[Expression]) =>
      WordShingles(args(0), intArg(args(1), "word_shingles(n)"))),
    "isqrt" -> ((args: Seq[Expression]) => IntSqrt(args.head)),
    "gunzip" -> ((args: Seq[Expression]) => Gunzip(args.head)))

  /** Make all graft SQL functions, the custom planner strategy, the
    * optimizer rule and [[Tables.events]]' nanos-as-long read available in
    * a live session, and write its streams' checkpoints through
    * [[graft.streaming.LocalCheckpointFiles]] unless the session already
    * names a checkpoint file manager (idempotent — safe to call once per
    * suite). */
  def register(spark: SparkSession): Unit = {
    builders.foreach { case (name, b) =>
      Bridge.registerTempFunction(spark, name, b)
    }
    graft.plans.TopKPerKey.ensureRegistered(spark)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val manager = "spark.sql.streaming.checkpointFileManagerClass"
    if (spark.conf.getOption(manager).isEmpty)
      spark.conf.set(manager,
        classOf[graft.streaming.LocalCheckpointFiles].getName)
  }
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.builders.foreach { case (name, b) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft.functions", name), b))
    }
    ext.injectPlannerStrategy(_ => graft.plans.TopKStrategy)
    ext.injectOptimizerRule(_ => graft.plans.PushFilterThroughTopK)
  }
}
