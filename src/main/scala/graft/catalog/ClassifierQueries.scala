package graft
package catalog

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.operators._
import graft.SparkEntry.scoped

/** The integer quality classifier: training trace and AUC, with the
  * feature fixture and the generated training-chain CTEs both oracles
  * share. */
object ClassifierQueries {

  def defs: Seq[QueryDef] = Seq(
    // CLASSIFIER-BASED QUALITY FILTER — TRAINING UNDER THE HASH ORACLE.
    // The CCNet/GPT-3 pipeline stage the suite lacked: a linear model
    // over cheap surface statistics, TRAINED distributed (full-batch
    // delta rule, Elliott fast-sigmoid link), in fixed-point Long
    // arithmetic so every gradient of every iteration replays in DuckDB
    // (the q329 k-means discipline — see [[Classify]] for the exactness
    // proof obligations, checked per batch). The fixture target is
    // y = 1 iff c_spark+c_query > c_slow+c_batch — LINEARLY SEPARABLE
    // by design (w = (0,1,1,-1,-1) realizes it), which is what a
    // trainer fixture should be: the oracle pins that the delta rule
    // RECOVERS a separator from data (the q339 AUC hits 1.0), not that
    // the corpus is interesting. Result = the whole weight trajectory,
    // 9 rows × 6 exact Longs: hash equality certifies all 8 distributed
    // gradient aggregates end to end. Scale shape: the model is 5 Longs
    // broadcast as literals; each iteration is ONE codegen'd scan of
    // the persisted feature table into a 5-column sum — at 100 TB,
    // 8 passes and 8 single-row collects, nothing else moves.
    QueryDef("q338_quality_classifier", (s, d) => {
      import s.implicits._
      val f = scoped(classifierDocFeatures(s, d))
      val t = Classify.trainDelta(f,
        Seq("c_spark", "c_query", "c_slow", "c_batch"), "y",
        iters = 8, etaNum = 2, etaDen = 1)
      t.trace.zipWithIndex.map { case (w, i) =>
        (i.toLong, w(0), w(1), w(2), w(3), w(4)) }
        .toDF("iter", "w_bias", "w_spark", "w_query", "w_slow", "w_batch")
        .orderBy(col("iter"))
    },
    // q338: the ENTIRE training replayed — feature/label CTEs, then the
    // unrolled 8-iteration chain (one gradient CTE + one weight CTE per
    // iteration, generated by [[classifierOracleCtes]] — the SQL
    // spelling of Classify.trainDelta term for term); the trace rows
    // are exact Longs, no rounding anywhere.
    Some(
      classifierOracleCtes(8) + "\n" +
        (0 to 8).map(k =>
          s"SELECT CAST($k AS BIGINT) AS iter, " +
            "CAST(w[1] AS BIGINT) AS w_bias, " +
            "CAST(w[2] AS BIGINT) AS w_spark, " +
            "CAST(w[3] AS BIGINT) AS w_query, " +
            "CAST(w[4] AS BIGINT) AS w_slow, " +
            s"CAST(w[5] AS BIGINT) AS w_batch FROM w$k")
          .mkString("", "\nUNION ALL\n", "\nORDER BY iter"))),

    // CLASSIFIER SCORING + EXACT RANK AUC — q338's trained model turned
    // back on the corpus: every document scored (one codegen'd pass,
    // literals-broadcast model), then the model AUDITED with the exact
    // Mann-Whitney rank statistic per language and overall, kept as an
    // exact integer FRACTION (auc_num/auc_den = (2·Σranks⁺ − n⁺(n⁺+1))
    // / 2n⁺n⁻, MIDRANKS for ties — the textbook tie-corrected U
    // statistic) so the hash compares integers, never a float. No
    // doc-grain sort or window ANYWHERE: scores are integers in
    // [0, Q] (≤ 65537 distinct values by construction), so the corpus
    // is touched once for a (group, score) HISTOGRAM and every output
    // — counts, threshold counts, score sums, and the midrank sum
    // 2·Σr⁺ = Σ_buckets np_b·(2·below_b + n_b + 1) — derives from
    // that ≤65537-rows-per-group table (strictly-below counts via the
    // Percentiles bounded-cum-window discipline). The oracle replays
    // the CLASSIC window spelling (rank() + per-score tie counts) —
    // the equality of the two formulations is part of what the hash
    // pins. AUC = 1.0 (auc_num == auc_den) certifies the trained
    // separator.
    QueryDef("q339_classifier_auc", (s, d) => {
      val f = scoped(classifierDocFeatures(s, d))
      val t = Classify.trainDelta(f,
        Seq("c_spark", "c_query", "c_slow", "c_batch"), "y",
        iters = 8, etaNum = 2, etaDen = 1)
      val feats = Seq($"c_spark", $"c_query", $"c_slow", $"c_batch")
      val scored = scoped(f.select($"doc_id", $"lang", $"y",
        Classify.scoreQ(t.weights, feats).as("score")))
      def aucRows(grp: Seq[String], langOut: Column) = {
        val grpScore = (grp :+ "score").map(col)
        val wCum = Window.partitionBy(grp.map(col): _*).orderBy($"score")
          .rowsBetween(Window.unboundedPreceding, -1)
        scored.groupBy(grpScore: _*)
          .agg(count(lit(1)).as("__nb"), sum($"y").as("__np"))
          .withColumn("__below",
            coalesce(sum($"__nb").over(wCum), lit(0L)))
          .groupBy(langOut.as("lang"))
          .agg(sum($"__nb").as("n_docs"),
            sum($"__np").as("n_label_pos"),
            sum(when($"score" >= lit(Classify.Q / 2), $"__nb")
              .otherwise(lit(0L))).as("n_pred_pos"),
            sum($"score" * $"__nb").as("sum_score"),
            sum($"__np" * ($"__below" * 2 + $"__nb" + 1)).as("__sr2"))
          .select($"lang", $"n_docs", $"n_label_pos", $"n_pred_pos",
            $"sum_score",
            ($"__sr2" - $"n_label_pos" * ($"n_label_pos" + 1))
              .as("auc_num"),
            ($"n_label_pos" * ($"n_docs" - $"n_label_pos") * 2)
              .as("auc_den"))
      }
      aucRows(Seq("lang"), $"lang")
        .unionByName(aucRows(Seq.empty, lit("ALL")))
        .orderBy($"lang")
    },
    // q339: the same training chain, then scoring from w8 and the
    // tie-corrected Mann-Whitney statistic per lang + overall, every
    // output an integer (sums cast back to BIGINT out of DuckDB's
    // HUGEINT widening). Spelled with the CLASSIC window form —
    // rank() gives below+1 for a tied run and count(*) per score its
    // size, so 2·midrank = 2·(rk−1) + nb + 1 — deliberately a
    // different formulation from the Spark side's histogram
    // aggregation; the hash pins their equality.
    Some(
      classifierOracleCtes(8) + ",\n" +
        """sc AS (
          |  SELECT doc_id, lang, y,
          |    CAST(floor((65536 * (65536 + abs(z) + z)) /
          |      (2.0 * (65536 + abs(z)))) AS BIGINT) AS score
          |  FROM (SELECT doc_id, lang, y,
          |      w[1] + w[2]*x1 + w[3]*x2 + w[4]*x3 + w[5]*x4 AS z
          |    FROM fl, w8) t),
          |rl AS (SELECT lang, y, score,
          |    rank() OVER (PARTITION BY lang ORDER BY score) AS rk,
          |    count(*) OVER (PARTITION BY lang, score) AS nb
          |  FROM sc),
          |pl AS (
          |  SELECT lang, count(*) AS n_docs, sum(y) AS n_label_pos,
          |    sum(CASE WHEN score >= 32768 THEN 1 ELSE 0 END)
          |      AS n_pred_pos,
          |    sum(score) AS sum_score,
          |    sum(CASE WHEN y = 1 THEN 2*(rk - 1) + nb + 1
          |      ELSE 0 END) AS sr2
          |  FROM rl GROUP BY lang),
          |rg AS (SELECT y, score,
          |    rank() OVER (ORDER BY score) AS rk,
          |    count(*) OVER (PARTITION BY score) AS nb
          |  FROM sc),
          |pg AS (
          |  SELECT 'ALL' AS lang, count(*) AS n_docs,
          |    sum(y) AS n_label_pos,
          |    sum(CASE WHEN score >= 32768 THEN 1 ELSE 0 END)
          |      AS n_pred_pos,
          |    sum(score) AS sum_score,
          |    sum(CASE WHEN y = 1 THEN 2*(rk - 1) + nb + 1
          |      ELSE 0 END) AS sr2
          |  FROM rg),
          |u AS (SELECT * FROM pl UNION ALL SELECT * FROM pg)
          |SELECT lang, CAST(n_docs AS BIGINT) AS n_docs,
          |  CAST(n_label_pos AS BIGINT) AS n_label_pos,
          |  CAST(n_pred_pos AS BIGINT) AS n_pred_pos,
          |  CAST(sum_score AS BIGINT) AS sum_score,
          |  CAST(sr2 - n_label_pos*(n_label_pos+1) AS BIGINT)
          |    AS auc_num,
          |  CAST(2*n_label_pos*(n_docs - n_label_pos) AS BIGINT)
          |    AS auc_den
          |FROM u ORDER BY lang""".stripMargin))
  )

  /** Integer surface features + the separable fixture label for the
    * q338/q339 classifier. Token counts are substring counts — the
    * length-difference is an exact multiple of the token length, so the
    * division is exact in both engines — and the label
    * y = 1 iff c_spark + c_query > c_slow + c_batch is LINEARLY
    * SEPARABLE on purpose: a trainer fixture must have a recoverable
    * separator (the way dupClustersStats' chain fixture has a known
    * convergence depth), because the corpus text itself is synthetic
    * with no learnable lang/source structure (measured: per-lang token
    * means are uniform). */
  private def classifierDocFeatures(s: SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    def cnt(tok: String): org.apache.spark.sql.Column =
      ((length($"text") - length(replace($"text", lit(tok), lit("")))) /
        tok.length).cast("long")
    Tables.documents(s, d)
      .filter($"text".isNotNull)
      .select($"doc_id", $"lang",
        cnt("spark").as("c_spark"), cnt("query").as("c_query"),
        cnt("slow").as("c_slow"), cnt("batch").as("c_batch"))
      .withColumn("y",
        when($"c_spark" + $"c_query" > $"c_slow" + $"c_batch", 1L)
          .otherwise(0L))
  }

  /** Shared q338/q339 oracle prefix: the feature/label CTEs plus the
    * unrolled training chain w0..w{iters} — per iteration one gradient
    * CTE (the Elliott numerator floored through an exact double
    * division, see [[graft.operators.Classify.elliottQ]]) and one
    * weight CTE (DuckDB's truncating `//` == the driver's Java `/`).
    * Generated, not hand-unrolled: 8 iterations of identical SQL is
    * exactly the shape a typo hides in. */
  private def classifierOracleCtes(iters: Int): String = {
    val head =
      """WITH f AS (
        |  SELECT doc_id, lang,
        |    (length(text)-length(replace(text,'spark','')))//5 AS x1,
        |    (length(text)-length(replace(text,'query','')))//5 AS x2,
        |    (length(text)-length(replace(text,'slow','')))//4 AS x3,
        |    (length(text)-length(replace(text,'batch','')))//5 AS x4
        |  FROM documents WHERE text IS NOT NULL),
        |fl AS (
        |  SELECT doc_id, lang, x1, x2, x3, x4,
        |    CASE WHEN x1 + x2 > x3 + x4 THEN 1 ELSE 0 END AS y FROM f),
        |nn AS (SELECT count(*) AS n FROM fl),
        |w0 AS (SELECT [CAST(0 AS BIGINT),0,0,0,0] AS w)""".stripMargin
    val its = (1 to iters).map { k =>
      val p = k - 1
      s""",
         |g$k AS (
         |  SELECT [
         |    sum(p - y*65536),
         |    sum((p - y*65536)*x1), sum((p - y*65536)*x2),
         |    sum((p - y*65536)*x3), sum((p - y*65536)*x4)] AS g
         |  FROM (
         |    SELECT y, x1, x2, x3, x4,
         |      CAST(floor((65536 * (65536 + abs(z) + z)) /
         |        (2.0 * (65536 + abs(z)))) AS BIGINT) AS p
         |    FROM (SELECT y, x1, x2, x3, x4,
         |        w[1] + w[2]*x1 + w[3]*x2 + w[4]*x3 + w[5]*x4 AS z
         |      FROM fl, w$p) zz) pp),
         |w$k AS (
         |  SELECT list_transform(range(1, 6), j ->
         |    w[CAST(j AS INT)] - (g[CAST(j AS INT)]*2) // (n*1)) AS w
         |  FROM w$p, g$k, nn)""".stripMargin
    }
    head + its.mkString
  }
}
