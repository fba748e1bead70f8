package graft
package catalog

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.operators._
import graft.SparkEntry.scoped

/** Text over `documents`: quality filters, tokenization, language
  * models, term statistics, scrubbing and corpus mixing. A query lands
  * here when it reads `documents` or calls a text operator family
  * (`TextAnalysis`, `Tokenize`, `Quality`, `Anonymize`, ...). */
object TextQueries {

  def defs: Seq[QueryDef] = Seq(
    // String scalar functions (O16/O18/O26/O33 family): regex extract,
    // split-count, substring, concat, case transforms.
    QueryDef("q14_strings", (s, d) => {
      Tables.documents(s, d)
        .select($"doc_id",
          regexp_extract($"text", "^(\\w+)", 1).as("first_word"),
          size(split($"text", " ")).as("n_words"),
          upper(substring($"source", 1, 3)).as("src3"),
          concat($"lang", lit(":"), $"source").as("lang_src"),
          (instr($"text", "spark") > 0).as("mentions_spark"),
          length($"text").as("len"))
        .orderBy($"doc_id")
    }, Some(
      """SELECT doc_id,
        |  regexp_extract(text, '^(\w+)', 1) AS first_word,
        |  CAST(len(string_split(text, ' ')) AS INT) AS n_words,
        |  upper(substr(source, 1, 3)) AS src3,
        |  concat(lang, ':', source) AS lang_src,
        |  (strpos(text, 'spark') > 0) AS mentions_spark,
        |  CAST(length(text) AS INT) AS len
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // Text quality scoring + token counting (C4/Gopher-style filters).
    // Round 12: the five metrics' composable forms each re-tokenized
    // the document (4 split() arrays + regexp_extract_all +
    // regexp_replace — the decade audit's worst row at 4.8×/10×);
    // TextQualityStats computes every underlying counter in ONE
    // native scan, and the ratios/score are derived here with the
    // exact original guard semantics (n_ws==0 ⇔ empty trim). The
    // DuckDB oracle is byte-identical to before the rewrite, so the
    // hash compare certifies the fused kernel.
    QueryDef("q28_text_quality", (s, d) => {
      val withSt = Tables.documents(s, d).select($"doc_id", $"text",
        graft.functions.TextStats.textQualityStats($"text").as("st"))
      val nWsD = $"st.n_ws".cast("double")
      val stopR = when($"st.n_ws" === 0, 0.0)
        .otherwise($"st.n_stop".cast("double") / nWsD)
      val lenD = length($"text").cast("double")
      val punctR = when(length($"text") === 0, 0.0)
        .otherwise($"st.n_punct".cast("double") / lenD)
      withSt.select($"doc_id",
          $"st.n_ws".as("n_tokens_ws"),
          $"st.n_bpe".as("n_tokens_bpe"),
          Fns.roundU(stopR, 4).as("stopword_ratio"),
          Fns.roundU(when($"st.n_ws" === 0, 0.0)
            .otherwise($"st.sum_wlen".cast("double") / nWsD), 4)
            .as("mean_word_len"),
          Fns.roundU(least(lenD / 500.0, lit(1.0)) * 0.5 +
              least(stopR * 5.0, lit(1.0)) * 0.3 +
              (lit(1.0) - least(punctR * 5.0, lit(1.0))) * 0.2, 4)
            .as("quality"))
        .orderBy($"doc_id")
    }, Some(
      """WITH base AS (
        |  SELECT doc_id, text,
        |    string_split_regex(trim(text), '\s+') AS toks
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, text, toks,
        |    CAST(len(list_filter(toks, x -> x IN ('the','a','an','and',
        |      'of','to','in','is','it','that'))) AS DOUBLE)
        |      / len(toks) AS stop_ratio,
        |    CAST(length(text) -
        |      length(regexp_replace(text, '[.,!?;:''"()\-]', '', 'g'))
        |      AS DOUBLE) / length(text) AS punct_ratio
        |  FROM base)
        |SELECT doc_id,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE CAST(len(toks) AS INT) END AS n_tokens_ws,
        |  CAST(len(regexp_extract_all(text,
        |    ' ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+')) AS INT)
        |    AS n_tokens_bpe,
        |  floor((stop_ratio) * 10000 + 0.5) / 10000.0 AS stopword_ratio,
        |  floor((CAST(list_sum(list_transform(toks, x -> length(x)))
        |    AS DOUBLE) / len(toks)) * 10000 + 0.5) / 10000.0 AS mean_word_len,
        |  floor((least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.5
        |    + least(stop_ratio * 5.0, 1.0) * 0.3
        |    + (1.0 - least(punct_ratio * 5.0, 1.0)) * 0.2) * 10000 + 0.5) / 10000.0 AS quality
        |FROM m ORDER BY doc_id""".stripMargin)),

    // Language-ID heuristic + per-language corpus stats.
    QueryDef("q29_lang_id", (s, d) => {
      Tables.documents(s, d)
        .withColumn("pred_lang", TextAnalysis.langIdHeuristic($"text"))
        .groupBy($"lang", $"pred_lang")
        .agg(count(lit(1)).as("n_docs"),
          Fns.roundU(avg(length($"text")), 2).as("avg_len"))
        .orderBy($"lang", $"pred_lang")
    }, Some(
      """WITH m AS (
        |  SELECT lang, length(text) AS len,
        |    CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
        |      x -> x IN ('the','a','an','and','of','to','in','is','it',
        |      'that'))) AS DOUBLE)
        |      / len(string_split_regex(trim(text), '\s+')) AS stop_ratio
        |  FROM documents)
        |SELECT lang,
        |  CASE WHEN stop_ratio >= 0.03 THEN 'en' ELSE 'other' END
        |    AS pred_lang,
        |  count(*) AS n_docs, floor((avg(len)) * 100 + 0.5) / 100.0 AS avg_len
        |FROM m GROUP BY 1, 2 ORDER BY lang, pred_lang""".stripMargin)),

    // C4/Gopher-style corpus filter: keep documents passing quality,
    // length and stopword gates; report per-language keep rates.
    QueryDef("q39_corpus_filter", (s, d) => {
      val scored = Tables.documents(s, d).withColumn("keep",
        TextAnalysis.qualityScore($"text") >= 0.5 &&
          length($"text") >= 120 &&
          TextAnalysis.stopwordRatio($"text") >= 0.01)
      scored.groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(when($"keep", 1L).otherwise(0L)).as("n_kept"),
          Fns.roundU(avg(when($"keep", length($"text"))), 2)
            .as("avg_kept_len"))
        .orderBy($"lang")
    }, Some(
      """WITH m AS (
        |  SELECT lang, text, length(text) AS len,
        |    CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
        |      x -> x IN ('the','a','an','and','of','to','in','is','it',
        |      'that'))) AS DOUBLE)
        |      / len(string_split_regex(trim(text), '\s+')) AS stop_ratio,
        |    CAST(length(text) -
        |      length(regexp_replace(text, '[.,!?;:''"()\-]', '', 'g'))
        |      AS DOUBLE) / length(text) AS punct_ratio
        |  FROM documents),
        |scored AS (
        |  SELECT lang, len,
        |    (floor((least(CAST(len AS DOUBLE) / 500.0, 1.0) * 0.5
        |      + least(stop_ratio * 5.0, 1.0) * 0.3
        |      + (1.0 - least(punct_ratio * 5.0, 1.0)) * 0.2) * 10000
        |      + 0.5) / 10000.0 >= 0.5
        |     AND len >= 120 AND stop_ratio >= 0.01) AS keep
        |  FROM m)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_kept,
        |  floor((avg(CASE WHEN keep THEN len END)) * 100 + 0.5) / 100.0
        |    AS avg_kept_len
        |FROM scored GROUP BY lang ORDER BY lang""".stripMargin)),

    // Fuzzy matching: Levenshtein edit distance between consecutive
    // docs' prefixes — the string-similarity primitive of fuzzy dedup.
    QueryDef("q42_fuzzy_match", (s, d) => {
      val docs = Tables.documents(s, d)
        .select($"doc_id", substring($"text", 1, 40).as("prefix"))
      val a = docs.select($"doc_id".as("id_a"), $"prefix".as("pa"))
      val b = docs.select($"doc_id".as("id_b"), $"prefix".as("pb"))
      a.join(b, col("id_b") === col("id_a") + 1)
        .select($"id_a", $"id_b",
          levenshtein($"pa", $"pb").as("edit_dist"))
        .orderBy($"id_a")
    }, Some(
      """SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(levenshtein(substr(a.text, 1, 40), substr(b.text, 1, 40))
        |    AS INT) AS edit_dist
        |FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
        |ORDER BY id_a""".stripMargin)),

    // Deterministic per-group bottom-k sample via the custom BottomK
    // Aggregator (O(k) buffer, map-side combine — no group sort). The
    // sampling key is md5(text), so the SQL oracle can replicate it.
    QueryDef("q44_group_sample", (s, d) => {
      implicit val enc: org.apache.spark.sql.Encoder[(String, String, Long)] =
        s.implicits.newProductEncoder
      val docs = Tables.documents(s, d)
        .select(col("lang"), md5(col("text")).as("h"), col("doc_id"))
        .as[(String, String, Long)]
      val bk = new BottomK(3)
      docs.groupByKey(_._1)(s.implicits.newStringEncoder)
        .mapValues(t => (t._2, t._3))(s.implicits.newProductEncoder)
        .agg(bk.toColumn.name("sample"))
        .toDF("lang", "sample")
        .select(col("lang"),
          posexplode(col("sample")).as(Seq("rk", "doc_id")))
        .orderBy(col("lang"), col("rk"))
    }, Some(
      """SELECT lang, CAST(rn - 1 AS INT) AS rk, doc_id FROM (
        |  SELECT lang, doc_id, row_number() OVER (
        |    PARTITION BY lang ORDER BY md5(text), doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 3 ORDER BY lang, rk""".stripMargin)),

    // Gopher-style repetition filters: duplicate-word fraction and
    // most-frequent-token share per document, joined with a keep/drop
    // verdict at the classic thresholds.
    QueryDef("q54_repetition", (s, d) => {
      TextAnalysis.repetitionStats(Tables.documents(s, d), "text", "doc_id")
        .withColumn("keep",
          $"dup_ratio" <= 0.9 && $"top_token_frac" <= 0.2)
        .orderBy($"doc_id")
    }, Some(
      """WITH w AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS w
        |  FROM documents WHERE length(trim(text)) > 0),
        |cnt AS (SELECT doc_id, w, count(*) AS c FROM w GROUP BY 1, 2),
        |st AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words,
        |    CAST(count(*) AS BIGINT) AS n_distinct, max(c) AS top_c
        |  FROM cnt GROUP BY doc_id)
        |SELECT doc_id, n_words, n_distinct,
        |  floor((1 - CAST(n_distinct AS DOUBLE) / n_words) * 10000 + 0.5)
        |    / 10000.0 AS dup_ratio,
        |  floor(CAST(top_c AS DOUBLE) / n_words * 10000 + 0.5)
        |    / 10000.0 AS top_token_frac,
        |  (floor((1 - CAST(n_distinct AS DOUBLE) / n_words) * 10000 + 0.5)
        |     / 10000.0 <= 0.9
        |   AND floor(CAST(top_c AS DOUBLE) / n_words * 10000 + 0.5)
        |     / 10000.0 <= 0.2) AS keep
        |FROM st ORDER BY doc_id""".stripMargin)),

    // Scrubbing pass (the PII-redaction mechanics on a corpus with no
    // real PII: denylisted terms stand in for the e-mail/phone regexes):
    // per source, how many documents are hit, total redactions, and the
    // before/after average lengths.
    QueryDef("q55_denylist_scrub", (s, d) => {
      val pat = "\\b(spark|customer)\\b"
      Tables.documents(s, d)
        .select($"source",
          TextAnalysis.matchCount($"text", pat).as("n_hits"),
          length($"text").as("len_before"),
          length(TextAnalysis.redact($"text", pat)).as("len_after"))
        .groupBy($"source")
        .agg(sum(when($"n_hits" > 0, 1L).otherwise(0L)).as("n_docs_hit"),
          sum($"n_hits").as("total_hits"),
          Fns.roundU(avg($"len_before"), 2).as("avg_len_before"),
          Fns.roundU(avg($"len_after"), 2).as("avg_len_after"))
        .orderBy($"source")
    }, Some(
      """WITH scrub AS (
        |  SELECT source,
        |    len(regexp_extract_all(text, '\b(spark|customer)\b')) AS n_hits,
        |    length(text) AS len_before,
        |    length(trim(regexp_replace(regexp_replace(text,
        |      '\b(spark|customer)\b', '', 'g'), ' {2,}', ' ', 'g')))
        |      AS len_after
        |  FROM documents)
        |SELECT source,
        |  CAST(sum(CASE WHEN n_hits > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_docs_hit,
        |  CAST(sum(n_hits) AS BIGINT) AS total_hits,
        |  floor(avg(len_before) * 100 + 0.5) / 100.0 AS avg_len_before,
        |  floor(avg(len_after) * 100 + 0.5) / 100.0 AS avg_len_after
        |FROM scrub GROUP BY source ORDER BY source""".stripMargin)),

    // Sequence packing (GPT-style pretraining layout): per language, the
    // corpus token stream concatenates in doc_id order and splits at
    // every 1000-token context boundary; stats per window. Runs on the
    // distributed two-phase prefix sum (operators.Packing), NOT a
    // per-language window sort — a 5-language corpus would otherwise
    // pack on 5 tasks at any cluster size.
    QueryDef("q56_token_packing", (s, d) => {
      val docs = Tables.documents(s, d)
        .select($"lang", $"doc_id",
          TextAnalysis.tokenCountWs($"text").as("n_tok"))
      Packing.tokenPacking(docs, "lang", "doc_id", "n_tok", budget = 1000L)
        .orderBy($"lang", $"pack_id")
    }, Some(
      """WITH d AS (
        |  SELECT lang, doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |      ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tok
        |  FROM documents),
        |c AS (
        |  SELECT lang, doc_id, n_tok,
        |    sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM d)
        |SELECT lang, CAST((cum - n_tok) // 1000 AS BIGINT) AS pack_id,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tok) AS BIGINT) AS sum_tokens,
        |  CAST(sum(CASE WHEN n_tok > 0
        |    AND (cum - 1) // 1000 > (cum - n_tok) // 1000
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_split
        |FROM c GROUP BY lang, pack_id ORDER BY lang, pack_id""".stripMargin)),

    // Corpus MIXING plan: per-source sampling rates that spend a fixed
    // token budget proportionally to mean quality (the "data mixture"
    // step before training). The cross-source normalizer is a broadcast
    // scalar join, not an unpartitioned window.
    QueryDef("q57_mix_plan", (s, d) => {
      val budget = 500000.0
      val perSrc = Tables.documents(s, d)
        .select($"source",
          TextAnalysis.tokenCountWs($"text").cast("long").as("n_tok"),
          TextAnalysis.qualityScore($"text").as("q"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"), sum($"n_tok").as("n_tokens"),
          avg($"q").as("mean_q"))
      val norm = perSrc.agg(
        sum($"mean_q" * $"n_tokens").as("__wtot"))
      perSrc.crossJoin(broadcast(norm))
        .withColumn("rate", least(lit(1.0),
          lit(budget) * $"mean_q" * $"n_tokens" / $"__wtot"
            / $"n_tokens"))
        .select($"source", $"n_docs", $"n_tokens",
          Fns.roundU($"mean_q", 4).as("mean_quality"),
          Fns.roundU($"rate", 6).as("rate"),
          Fns.roundU($"rate" * $"n_tokens", 2).as("expected_tokens"))
        .orderBy($"source")
    },
    // quality/stop/punct expressions mirror q28's; rate arithmetic keeps
    // Spark's exact operation order (rounded only at output)
    Some(
      """WITH base AS (
        |  SELECT source, text,
        |    string_split_regex(trim(text), '\s+') AS toks
        |  FROM documents),
        |m AS (
        |  SELECT source,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(toks) END AS n_tok,
        |    CAST(len(list_filter(toks, x -> x IN ('the','a','an','and',
        |      'of','to','in','is','it','that'))) AS DOUBLE)
        |      / len(toks) AS stop_ratio,
        |    CAST(length(text) -
        |      length(regexp_replace(text, '[.,!?;:''"()\-]', '', 'g'))
        |      AS DOUBLE) / length(text) AS punct_ratio,
        |    text
        |  FROM base),
        |q AS (
        |  SELECT source, n_tok,
        |    floor((least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.5
        |      + least(stop_ratio * 5.0, 1.0) * 0.3
        |      + (1.0 - least(punct_ratio * 5.0, 1.0)) * 0.2)
        |      * 10000 + 0.5) / 10000.0 AS quality
        |  FROM m),
        |s AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(n_tok) AS BIGINT) AS n_tokens,
        |    avg(quality) AS mean_q
        |  FROM q GROUP BY source),
        |w AS (SELECT sum(mean_q * n_tokens) AS wtot FROM s)
        |SELECT source, n_docs, n_tokens,
        |  floor(mean_q * 10000 + 0.5) / 10000.0 AS mean_quality,
        |  floor(least(1.0, 500000.0 * mean_q * n_tokens / wtot / n_tokens)
        |    * 1000000 + 0.5) / 1000000.0 AS rate,
        |  floor(least(1.0, 500000.0 * mean_q * n_tokens / wtot / n_tokens)
        |    * n_tokens * 100 + 0.5) / 100.0 AS expected_tokens
        |FROM s, w ORDER BY source""".stripMargin)),

    // Quality-filter FUNNEL: the chained keep/drop report every corpus
    // pipeline publishes — how many documents survive each successive
    // filter (and with them, how many tokens).
    QueryDef("q58_filter_funnel", (s, d) => {
      val toks = TextAnalysis.tokenCountWs($"text").cast("long")
      val flags = Tables.documents(s, d).select(
        toks.as("n_tok"),
        (toks >= 30).as("f_len"),
        (Fns.roundU(TextAnalysis.stopwordRatio($"text"), 4) <= 0.5)
          .as("f_stop"),
        (Fns.roundU(TextAnalysis.punctRatio($"text"), 4) <= 0.1)
          .as("f_punct"))
      val staged = flags.select($"n_tok",
        lit(true).as("s0"),
        $"f_len".as("s1"),
        ($"f_len" && $"f_stop").as("s2"),
        ($"f_len" && $"f_stop" && $"f_punct").as("s3"))
      staged.agg(
          sum(when($"s0", 1L).otherwise(0L)).as("c0"),
          sum(when($"s0", $"n_tok").otherwise(0L)).as("t0"),
          sum(when($"s1", 1L).otherwise(0L)).as("c1"),
          sum(when($"s1", $"n_tok").otherwise(0L)).as("t1"),
          sum(when($"s2", 1L).otherwise(0L)).as("c2"),
          sum(when($"s2", $"n_tok").otherwise(0L)).as("t2"),
          sum(when($"s3", 1L).otherwise(0L)).as("c3"),
          sum(when($"s3", $"n_tok").otherwise(0L)).as("t3"))
        .selectExpr(
          """stack(4,
            |'0_all', c0, t0,
            |'1_min_len', c1, t1,
            |'2_stopword', c2, t2,
            |'3_punct', c3, t3) AS (stage, n_docs, n_tokens)"""
            .stripMargin)
        .orderBy($"stage")
    }, Some(
      """WITH base AS (
        |  SELECT text, string_split_regex(trim(text), '\s+') AS toks
        |  FROM documents),
        |m AS (
        |  SELECT
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(toks) END AS n_tok,
        |    floor((CAST(len(list_filter(toks, x -> x IN ('the','a','an',
        |      'and','of','to','in','is','it','that'))) AS DOUBLE)
        |      / len(toks)) * 10000 + 0.5) / 10000.0 AS stop_r,
        |    floor((CAST(length(text) -
        |      length(regexp_replace(text, '[.,!?;:''"()\-]', '', 'g'))
        |      AS DOUBLE) / length(text)) * 10000 + 0.5) / 10000.0 AS punct_r
        |  FROM base),
        |f AS (
        |  SELECT n_tok, n_tok >= 30 AS f_len, stop_r <= 0.5 AS f_stop,
        |    punct_r <= 0.1 AS f_punct
        |  FROM m),
        |a AS (
        |  SELECT CAST(count(*) AS BIGINT) AS c0,
        |    CAST(sum(n_tok) AS BIGINT) AS t0,
        |    CAST(sum(CASE WHEN f_len THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |    CAST(sum(CASE WHEN f_len THEN n_tok ELSE 0 END) AS BIGINT) AS t1,
        |    CAST(sum(CASE WHEN f_len AND f_stop THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c2,
        |    CAST(sum(CASE WHEN f_len AND f_stop THEN n_tok ELSE 0 END)
        |      AS BIGINT) AS t2,
        |    CAST(sum(CASE WHEN f_len AND f_stop AND f_punct THEN 1 ELSE 0
        |      END) AS BIGINT) AS c3,
        |    CAST(sum(CASE WHEN f_len AND f_stop AND f_punct THEN n_tok
        |      ELSE 0 END) AS BIGINT) AS t3
        |  FROM f)
        |SELECT '0_all' AS stage, c0 AS n_docs, t0 AS n_tokens FROM a
        |UNION ALL SELECT '1_min_len', c1, t1 FROM a
        |UNION ALL SELECT '2_stopword', c2, t2 FROM a
        |UNION ALL SELECT '3_punct', c3, t3 FROM a
        |ORDER BY stage""".stripMargin)),

    // Corpus snapshot diff (data versioning): the "new" snapshot is a
    // deterministic rewrite of the current corpus — every 7th doc
    // dropped, every 10th (surviving) doc's text edited, five new docs
    // appended — and the diff reports the per-doc verdict. Only
    // (key, md5) pairs shuffle, never text.
    QueryDef("q60_corpus_diff", (s, d) => {
      val docs = Tables.documents(s, d)
      val newSnap = docs.filter($"doc_id" % 7 =!= 0)
        .withColumn("text",
          when($"doc_id" % 10 === 0, concat($"text", lit(" edited")))
            .otherwise($"text"))
        .select($"doc_id", $"text")
        .unionByName(docs.filter($"doc_id" < 5)
          .select(($"doc_id" + 1000000L).as("doc_id"), $"text"))
      Diff.snapshotDiff(docs.select($"doc_id", $"text"), newSnap,
          "doc_id", df => md5(df("text")))
        .filter($"change" =!= "unchanged")
        .orderBy($"doc_id")
    }, Some(
      """WITH old AS (SELECT doc_id, md5(text) AS fp FROM documents),
        |new AS (
        |  SELECT doc_id,
        |    md5(CASE WHEN doc_id % 10 = 0 THEN text || ' edited'
        |             ELSE text END) AS fp
        |  FROM documents WHERE doc_id % 7 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, md5(text) AS fp
        |  FROM documents WHERE doc_id < 5)
        |SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
        |  CASE WHEN o.fp IS NULL THEN 'added'
        |       WHEN n.fp IS NULL THEN 'removed'
        |       WHEN o.fp <> n.fp THEN 'changed'
        |       ELSE 'unchanged' END AS change
        |FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
        |WHERE (CASE WHEN o.fp IS NULL THEN 'added'
        |       WHEN n.fp IS NULL THEN 'removed'
        |       WHEN o.fp <> n.fp THEN 'changed'
        |       ELSE 'unchanged' END) <> 'unchanged'
        |ORDER BY doc_id""".stripMargin)),

    // Deterministic TRAIN/VAL/TEST split (80/10/10): the assignment is a
    // pure int64-arithmetic hash projection (operators.Sampling), so any
    // engine — and any future rerun over a grown corpus — reproduces it;
    // no shuffle happens before the per-(lang, split) rollup.
    QueryDef("q61_stratified_split", (s, d) => {
      val docs = Tables.documents(s, d)
        .select($"lang", $"doc_id",
          TextAnalysis.tokenCountWs($"text").cast("long").as("n_tok"))
      Sampling.stratifiedSplit(docs, "doc_id",
          Seq("train" -> 80, "val" -> 10, "test" -> 10))
        .groupBy($"lang", $"split")
        .agg(count(lit(1)).as("n_docs"), sum($"n_tok").as("n_tokens"))
        .orderBy($"lang", $"split")
    }, Some(
      """WITH d AS (
        |  SELECT lang,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |      ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tok,
        |    (doc_id % 2147483647 + 2147483647) % 2147483647
        |    * 2654435761 % 4294967296 % 100 AS b
        |  FROM documents),
        |s AS (
        |  SELECT lang, n_tok,
        |    CASE WHEN b < 80 THEN 'train'
        |         WHEN b < 90 THEN 'val' ELSE 'test' END AS split
        |  FROM d)
        |SELECT lang, split, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tok) AS BIGINT) AS n_tokens
        |FROM s GROUP BY lang, split ORDER BY lang, split""".stripMargin)),

    // Consistent per-language sample: the 5 docs with the lowest id hash
    // per lang — a stable "random" draw (same winners on every rerun and
    // under corpus growth). Runs through the native TopKPerKey plan:
    // only k candidates per lang per partition reach the shuffle.
    QueryDef("q62_consistent_sample", (s, d) => {
      Sampling.consistentSamplePerGroup(
          Tables.documents(s, d).select($"lang", $"doc_id"),
          Seq("lang"), "doc_id", k = 5)
        .select($"lang", $"doc_id", $"__h".as("h"))
        .orderBy($"lang", $"h", $"doc_id")
    }, Some(
      """WITH d AS (
        |  SELECT lang, doc_id,
        |    (doc_id % 2147483647 + 2147483647) % 2147483647
        |    * 2654435761 % 4294967296 AS h
        |  FROM documents),
        |r AS (
        |  SELECT lang, doc_id, h,
        |    row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rn
        |  FROM d)
        |SELECT lang, doc_id, CAST(h AS BIGINT) AS h
        |FROM r WHERE rn <= 5 ORDER BY lang, h, doc_id""".stripMargin)),

    // TF-IDF top terms per language: tf over (lang, term), exact document
    // frequency over the corpus, score = tf * ln(N/df). Term stats are
    // vocabulary-sized (≪ corpus) — the scans shuffle only (term, count)
    // pairs, and the per-lang top-5 selection is the bounded-heap plan,
    // not a vocabulary sort. Exact df (countDistinct) is the oracle-able
    // choice; at extreme vocabulary scale swap in approx_count_distinct
    // — one line, same plan shape minus the distinct expand.
    QueryDef("q63_tfidf_terms", (s, d) => {
      val docs = Tables.documents(s, d)
      val tok = docs.filter(length(trim($"text")) > 0)
        .select($"lang", $"doc_id",
          explode(split(trim($"text"), "\\s+")).as("term"))
      val tf = tok.groupBy($"lang", $"term").agg(count(lit(1)).as("tf"))
      val dfreq = tok.groupBy($"term")
        .agg(countDistinct($"doc_id").as("df"))
      val ndocs = docs.agg(count(lit(1)).as("n_docs"))
      val scored = tf.join(dfreq, "term").crossJoin(broadcast(ndocs))
        .select($"lang", $"term", $"tf", $"df",
          Fns.roundU($"tf" * log($"n_docs" / $"df"), 6).as("score"))
      graft.plans.TopKPerKey(scored, Seq("lang"),
          Seq($"score".desc, $"term".asc), k = 5)
        .orderBy($"lang", $"score".desc, $"term")
    }, Some(
      """WITH tok AS (
        |  SELECT lang, doc_id,
        |    unnest(string_split_regex(trim(text), '\s+')) AS term
        |  FROM documents WHERE length(trim(text)) > 0),
        |tf AS (
        |  SELECT lang, term, count(*) AS tf FROM tok GROUP BY lang, term),
        |dfreq AS (
        |  SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY term),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT lang, term, tf, df,
        |    floor(tf * ln(n_docs / df) * 1000000 + 0.5) / 1000000.0 AS score
        |  FROM tf JOIN dfreq USING (term) CROSS JOIN n),
        |r AS (
        |  SELECT lang, term, tf, df, score,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY score DESC, term) AS rn
        |  FROM scored)
        |SELECT lang, term, CAST(tf AS BIGINT) AS tf,
        |  CAST(df AS BIGINT) AS df, score
        |FROM r WHERE rn <= 5 ORDER BY lang, score DESC, term""".stripMargin)),

    // MIXTURE MATERIALIZATION: q57 computes the per-source sampling
    // rates; this query actually draws the sample — deterministically,
    // as a hash-threshold Bernoulli (keep iff hash(doc_id) mod 1e6 <
    // rate·1e6), so the drawn corpus is reproducible by any engine and
    // stable across reruns. Rates are a per-source broadcast; the only
    // fact shuffle is the final rollup.
    QueryDef("q64_mixture_sample", (s, d) => {
      val budget = 500000.0
      val scored = Tables.documents(s, d)
        .select($"source", $"doc_id",
          TextAnalysis.tokenCountWs($"text").cast("long").as("n_tok"),
          TextAnalysis.qualityScore($"text").as("q"))
      val perSrc = scored.groupBy($"source")
        .agg(sum($"n_tok").as("n_tokens"), avg($"q").as("mean_q"))
      val norm = perSrc.agg(sum($"mean_q" * $"n_tokens").as("__wtot"))
      val rates = perSrc.crossJoin(broadcast(norm))
        .select($"source",
          Fns.roundU(least(lit(1.0),
            lit(budget) * $"mean_q" * $"n_tokens" / $"__wtot"
              / $"n_tokens"), 6).as("rate"))
      scored.join(broadcast(rates), "source")
        .filter(Sampling.consistentHash($"doc_id") % lit(1000000L) <
          Fns.roundU($"rate" * 1e6, 0).cast("long"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_sampled"),
          sum($"n_tok").as("tokens_sampled"),
          first($"rate").as("rate"))
        .orderBy($"source")
    }, Some(
      """WITH base AS (
        |  SELECT source, doc_id, text,
        |    string_split_regex(trim(text), '\s+') AS toks
        |  FROM documents),
        |m AS (
        |  SELECT source, doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(toks) END AS n_tok,
        |    CAST(len(list_filter(toks, x -> x IN ('the','a','an','and',
        |      'of','to','in','is','it','that'))) AS DOUBLE)
        |      / len(toks) AS stop_ratio,
        |    CAST(length(text) -
        |      length(regexp_replace(text, '[.,!?;:''"()\-]', '', 'g'))
        |      AS DOUBLE) / length(text) AS punct_ratio,
        |    text
        |  FROM base),
        |q AS (
        |  SELECT source, doc_id, n_tok,
        |    floor((least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.5
        |      + least(stop_ratio * 5.0, 1.0) * 0.3
        |      + (1.0 - least(punct_ratio * 5.0, 1.0)) * 0.2)
        |      * 10000 + 0.5) / 10000.0 AS quality
        |  FROM m),
        |s AS (
        |  SELECT source, CAST(sum(n_tok) AS BIGINT) AS n_tokens,
        |    avg(quality) AS mean_q
        |  FROM q GROUP BY source),
        |w AS (SELECT sum(mean_q * n_tokens) AS wtot FROM s),
        |r AS (
        |  SELECT source,
        |    floor(least(1.0, 500000.0 * mean_q * n_tokens / wtot
        |      / n_tokens) * 1000000 + 0.5) / 1000000.0 AS rate
        |  FROM s, w),
        |kept AS (
        |  SELECT q.source, q.n_tok, r.rate
        |  FROM q JOIN r ON q.source = r.source
        |  WHERE (q.doc_id % 2147483647 + 2147483647) % 2147483647
        |    * 2654435761 % 4294967296 % 1000000
        |    < CAST(floor(r.rate * 1000000 + 0.5) AS BIGINT))
        |SELECT source, CAST(count(*) AS BIGINT) AS n_sampled,
        |  CAST(sum(n_tok) AS BIGINT) AS tokens_sampled,
        |  CAST(min(rate) AS DOUBLE) AS rate
        |FROM kept GROUP BY source ORDER BY source""".stripMargin)),

    // Unigram-LM SURPRISAL (the CCNet/KenLM-style perplexity quality
    // filter, unigram order): train per-language token probabilities
    // from the corpus itself, score every document's mean per-token
    // surprisal -ln p(t), and report the per-source quality profile.
    // The model is vocabulary-sized — it broadcasts — so the corpus
    // never shuffles to be scored; only (source, doc) sums do.
    QueryDef("q66_lm_surprisal", (s, d) => {
      val docs = Tables.documents(s, d)
      val tok = docs.filter(length(trim($"text")) > 0)
        .select($"lang", $"source", $"doc_id",
          explode(split(trim($"text"), "\\s+")).as("term"))
      val counts = tok.groupBy($"lang", $"term")
        .agg(count(lit(1)).as("__c"))
      val totals = counts.groupBy($"lang").agg(sum($"__c").as("__n"))
      val probs = counts.join(totals, "lang")
        .select($"lang", $"term", ($"__c" / $"__n").as("__p"))
      val perDoc = tok.join(broadcast(probs), Seq("lang", "term"))
        .groupBy($"source", $"doc_id")
        .agg(sum(-log($"__p")).as("__ll"), count(lit(1)).as("__nt"))
      perDoc.groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          Fns.roundU(avg($"__ll" / $"__nt"), 4).as("avg_surprisal"),
          Fns.roundU(exp(avg($"__ll" / $"__nt")), 2).as("perplexity"))
        .orderBy($"source")
    }, Some(
      """WITH tok AS (
        |  SELECT lang, source, doc_id,
        |    unnest(string_split_regex(trim(text), '\s+')) AS term
        |  FROM documents WHERE length(trim(text)) > 0),
        |counts AS (
        |  SELECT lang, term, count(*) AS c FROM tok GROUP BY lang, term),
        |totals AS (SELECT lang, sum(c) AS n FROM counts GROUP BY lang),
        |probs AS (
        |  SELECT counts.lang, term, CAST(c AS DOUBLE) / n AS p
        |  FROM counts JOIN totals ON counts.lang = totals.lang),
        |perdoc AS (
        |  SELECT tok.source, tok.doc_id,
        |    sum(-ln(p)) AS ll, count(*) AS nt
        |  FROM tok JOIN probs
        |    ON tok.lang = probs.lang AND tok.term = probs.term
        |  GROUP BY tok.source, tok.doc_id)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  floor(avg(ll / nt) * 10000 + 0.5) / 10000.0 AS avg_surprisal,
        |  floor(exp(avg(ll / nt)) * 100 + 0.5) / 100.0 AS perplexity
        |FROM perdoc GROUP BY source ORDER BY source""".stripMargin)),

    // Cross-document BOILERPLATE accounting: 2-gram spans occurring in
    // ≥5% of the corpus are chrome, not content; per source, how much of
    // each document is made of them and how many docs are mostly (≥90%)
    // boilerplate. The threshold is relative to corpus size so the
    // report means the same thing after 100× growth; shingles travel as
    // 64-bit hashes (operators.TextAnalysis.boilerplateDocStats).
    QueryDef("q67_boilerplate_ngrams", (s, d) => {
      TextAnalysis.boilerplateDocStats(Tables.documents(s, d),
          "text", "doc_id", nGram = 2, minDfFrac = 0.05,
          carryCols = Seq("source"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          Fns.roundU(avg($"boiler_frac"), 4).as("avg_boiler_frac"),
          sum(when($"boiler_frac" >= 0.9, 1L).otherwise(0L))
            .as("n_mostly_boiler"))
        .orderBy($"source")
    },
    // 2-gram lists mirror q53's 3-gram construction; threshold is
    // ceil(0.05 · N) with N = total corpus docs
    Some(
      """WITH toks AS (
        |  SELECT doc_id, source,
        |    string_split_regex(trim(text), '\s+') AS t
        |  FROM documents),
        |shl AS (
        |  SELECT doc_id, source,
        |    list_distinct([array_to_string(t[i:i+1], ' ')
        |      for i in range(1, greatest(len(t) - 1, 1) + 1)]) AS gs
        |  FROM toks),
        |sh AS (SELECT doc_id, source, unnest(gs) AS g FROM shl),
        |dfc AS (SELECT g, count(*) AS df FROM sh GROUP BY g),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |pd AS (
        |  SELECT doc_id, source, count(*) AS n_shingles,
        |    sum(CASE WHEN df >= CAST(ceil(0.05 * n_docs) AS BIGINT)
        |      THEN 1 ELSE 0 END) AS n_boiler
        |  FROM sh JOIN dfc USING (g) CROSS JOIN n
        |  GROUP BY doc_id, source),
        |fr AS (
        |  SELECT source,
        |    floor(CAST(n_boiler AS DOUBLE) / n_shingles * 10000 + 0.5)
        |      / 10000.0 AS boiler_frac
        |  FROM pd)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  floor(avg(boiler_frac) * 10000 + 0.5) / 10000.0
        |    AS avg_boiler_frac,
        |  CAST(sum(CASE WHEN boiler_frac >= 0.9 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_mostly_boiler
        |FROM fr GROUP BY source ORDER BY source""".stripMargin)),

    // VOCABULARY COVERAGE curve — the tokenizer-budget question: how
    // much of the corpus token stream do the top-k terms cover? Term
    // counts are a vocabulary-sized shuffle with map-side combine; the
    // top-20 selection is TakeOrdered (bounded heap per partition, no
    // vocabulary sort); the running-coverage window runs over 20 rows
    // post-limit, so the unpartitioned Window is bounded by construction.
    QueryDef("q70_vocab_coverage", (s, d) => {
      val counts = Tables.documents(s, d)
        .filter(length(trim($"text")) > 0)
        .select(explode(split(trim($"text"), "\\s+")).as("term"))
        .groupBy($"term").agg(count(lit(1)).as("cnt"))
      val total = counts.agg(sum($"cnt").as("__tot"))
      val w = Window.orderBy($"cnt".desc, $"term".asc)
        .rowsBetween(Window.unboundedPreceding, 0)
      counts.orderBy($"cnt".desc, $"term".asc).limit(20)
        .crossJoin(broadcast(total))
        .withColumn("rank", row_number().over(
          Window.orderBy($"cnt".desc, $"term".asc)))
        .withColumn("coverage", Fns.roundU(
          sum($"cnt").over(w).cast("double") / $"__tot", 6))
        .select($"rank", $"term", $"cnt", $"coverage")
        .orderBy($"rank")
    }, Some(
      """WITH tok AS (
        |  SELECT unnest(string_split_regex(trim(text), '\s+')) AS term
        |  FROM documents WHERE length(trim(text)) > 0),
        |counts AS (SELECT term, count(*) AS cnt FROM tok GROUP BY term),
        |tot AS (SELECT sum(cnt) AS t FROM counts),
        |top AS (
        |  SELECT term, cnt FROM counts
        |  ORDER BY cnt DESC, term LIMIT 20),
        |r AS (
        |  SELECT term, cnt,
        |    CAST(row_number() OVER (ORDER BY cnt DESC, term) AS INT)
        |      AS rank,
        |    sum(cnt) OVER (ORDER BY cnt DESC, term
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM top)
        |SELECT rank, term, CAST(cnt AS BIGINT) AS cnt,
        |  floor(CAST(cum AS DOUBLE) / t * 1000000 + 0.5) / 1000000.0
        |    AS coverage
        |FROM r CROSS JOIN tot ORDER BY rank""".stripMargin)),

    // Token-window CHUNKING: documents → fixed-size overlapping token
    // windows (32 tokens, stride 24) — the training-example prep step.
    // The chunker is one pure Column expression evaluated inside the
    // scan projection (TextAnalysis.tokenChunks); the md5 of each
    // chunk's text pins content equality cross-engine, not just counts.
    QueryDef("q72_doc_chunking", (s, d) => {
      Tables.documents(s, d)
        .filter($"doc_id" < 40 && length(trim($"text")) > 0)
        .select($"doc_id",
          explode(TextAnalysis.tokenChunks($"text", 32, 24)).as("ch"))
        .select($"doc_id", $"ch.chunk_id".as("chunk_id"),
          size($"ch.toks").as("n_tok"),
          element_at($"ch.toks", 1).as("first_tok"),
          element_at($"ch.toks", -1).as("last_tok"),
          md5(array_join($"ch.toks", " ")).as("chunk_md5"))
        .orderBy($"doc_id", $"chunk_id")
    }, Some(
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |  FROM documents
        |  WHERE doc_id < 40 AND length(trim(text)) > 0),
        |st AS (
        |  SELECT doc_id, t, unnest(range(0, len(t), 24)) AS s FROM toks),
        |ch AS (
        |  SELECT doc_id, CAST(s // 24 AS BIGINT) AS chunk_id,
        |    t[s+1:s+32] AS c FROM st)
        |SELECT doc_id, chunk_id, CAST(len(c) AS INT) AS n_tok,
        |  c[1] AS first_tok, c[-1] AS last_tok,
        |  md5(array_to_string(c, ' ')) AS chunk_md5
        |FROM ch ORDER BY doc_id, chunk_id""".stripMargin)),

    // ANONYMIZATION pass over a structured user table: md5 pseudonyms
    // for the direct identifier, banded balances, and k-anonymity
    // suppression (k=5) of the (nation, segment) quasi-identifier —
    // groups smaller than k collapse to '*'. The group-count table is
    // domain-bounded, so it broadcasts and the fact never shuffles.
    QueryDef("q73_anonymize", (s, d) => {
      Anonymize.suppressSmallGroups(Tables.customer(s, d),
          Seq("c_nationkey", "c_mktsegment"), k = 5)
        .filter($"c_custkey" < 200)
        .select($"c_custkey",
          Anonymize.pseudonym($"c_name").as("pseudonym"),
          floor($"c_acctbal" / 1000).cast("long").as("bal_band"),
          $"c_nationkey".as("nation_q"),
          $"c_mktsegment".as("segment_q"),
          $"k_ok")
        .orderBy($"c_custkey")
    }, Some(
      """WITH g AS (
        |  SELECT c_nationkey, c_mktsegment, count(*) AS qn
        |  FROM customer GROUP BY 1, 2)
        |SELECT c_custkey, md5(c_name) AS pseudonym,
        |  CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
        |  CASE WHEN qn >= 5 THEN CAST(c.c_nationkey AS VARCHAR)
        |       ELSE '*' END AS nation_q,
        |  CASE WHEN qn >= 5 THEN c.c_mktsegment ELSE '*' END AS segment_q,
        |  qn >= 5 AS k_ok
        |FROM customer c JOIN g USING (c_nationkey, c_mktsegment)
        |WHERE c_custkey < 200 ORDER BY c_custkey""".stripMargin)),

    // Repeated-SPAN coverage (exact-substring dedup signal): per doc,
    // the token fraction covered by an 8-token span occurring >= 2
    // times anywhere in the corpus — the suffix-array signal from the
    // dedup literature, re-expressed as hash joins. Docs near 1.0 are
    // copies; mid-range docs share passages. Spans travel as 64-bit
    // hashes; only docs with any coverage are reported.
    QueryDef("q75_span_dedup", (s, d) => {
      TextAnalysis.spanDupStats(Tables.documents(s, d), "text", "doc_id",
          spanTok = 8)
        // filter on the COUNT, not the rounded fraction: a very long
        // doc's tiny coverage rounds to 0.0000 but must still report
        // (the oracle filters WHERE n_cov > 0)
        .filter($"n_cov" > 0)
        .select($"id".as("doc_id"), $"n_tok".cast("long").as("n_tok"),
          $"n_cov", $"span_dup_frac")
        .orderBy($"doc_id")
    },
    // q75: DuckDB counts span occurrences on the strings themselves;
    // Spark on 64-bit hashes of the same strings — counts agree
    // modulo the documented 2^-64 collision direction (coverage can
    // only gain)
    Some(
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |  FROM documents WHERE length(trim(text)) > 0),
        |spans AS (
        |  SELECT doc_id, i AS p, array_to_string(t[i+1:i+8], ' ') AS g
        |  FROM toks, unnest(range(0, greatest(len(t)-8+1, 0))) AS u(i)),
        |dup AS (SELECT g FROM spans GROUP BY g HAVING count(*) >= 2),
        |cov AS (
        |  SELECT DISTINCT s.doc_id, cp
        |  FROM spans s JOIN dup USING (g),
        |    unnest(range(s.p, s.p+8)) AS c(cp)),
        |n AS (
        |  SELECT d.doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |      ELSE len(string_split_regex(trim(text), '\s+')) END
        |      AS n_tok
        |  FROM documents d),
        |r AS (
        |  SELECT n.doc_id, n.n_tok, CAST(count(cov.cp) AS BIGINT)
        |    AS n_cov
        |  FROM n LEFT JOIN cov ON cov.doc_id = n.doc_id
        |  GROUP BY n.doc_id, n.n_tok)
        |SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok, n_cov,
        |  floor((CASE WHEN n_tok = 0 THEN 0
        |    ELSE CAST(n_cov AS DOUBLE) / n_tok END) * 10000 + 0.5)
        |    / 10000.0 AS span_dup_frac
        |FROM r WHERE n_cov > 0 ORDER BY doc_id""".stripMargin)),

    // Balanced SHARD layout for data loaders: rank docs by token count
    // (descending) and deal them round-robin over 8 shards — the
    // longest-processing-time greedy that keeps every shard's token
    // total within a few percent (LPT round-robin). The global rank is
    // Packing.prefixSum of 1 (a distributed two-phase scan — rank
    // position parallelizes over the full corpus), NOT an unpartitioned
    // row_number window, which would serialize 100 TB through one task.
    QueryDef("q76_shard_layout", (s, d) => {
      val nShards = 8
      val docs = Tables.documents(s, d)
        .select($"doc_id",
          TextAnalysis.tokenCountWs($"text").cast("long").as("n_tok"))
        .withColumn("__g", lit(1))
        .withColumn("__negtok", -$"n_tok")
      val ranked = Packing.prefixSum(docs, Seq("__g"),
          Seq("__negtok", "doc_id"), "__g", "rk")
      val perShard = ranked
        .select((($"rk" - 1) % nShards).as("shard_id"), $"n_tok")
        .groupBy($"shard_id")
        .agg(count(lit(1)).as("n_docs"), sum($"n_tok").as("sum_tokens"))
      val mean = perShard.agg(avg($"sum_tokens").as("__mt"))
      perShard.crossJoin(broadcast(mean))
        .select($"shard_id", $"n_docs", $"sum_tokens",
          Fns.roundU($"sum_tokens" / $"__mt", 4).as("balance_ratio"))
        .orderBy($"shard_id")
    }, Some(
      """WITH d AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |      ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tok
        |  FROM documents),
        |r AS (
        |  SELECT n_tok,
        |    (row_number() OVER (ORDER BY n_tok DESC, doc_id) - 1) % 8
        |      AS shard_id
        |  FROM d),
        |s AS (
        |  SELECT CAST(shard_id AS BIGINT) AS shard_id,
        |    CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(n_tok) AS BIGINT) AS sum_tokens
        |  FROM r GROUP BY shard_id)
        |SELECT shard_id, n_docs, sum_tokens,
        |  floor((sum_tokens / (SELECT avg(sum_tokens) FROM s)) * 10000
        |    + 0.5) / 10000.0 AS balance_ratio
        |FROM s ORDER BY shard_id""".stripMargin)),

    // LEXICAL-DIVERSITY profile: per-document type-token ratio and
    // unigram entropy (gibberish and template text sit at the extremes
    // of both), aggregated per source. Entropy uses the streaming-
    // friendly identity  H = ln n − (Σ c·ln c)/n  — everything is a
    // hash aggregate with map-side combine over (doc, term) counts; no
    // per-doc term list ever materializes.
    QueryDef("q77_lexical_stats", (s, d) => {
      val docs = Tables.documents(s, d)
      val cnt = docs.filter(length(trim($"text")) > 0)
        .select($"source", $"doc_id",
          explode(split(trim($"text"), "\\s+")).as("term"))
        .groupBy($"source", $"doc_id", $"term")
        .agg(count(lit(1)).as("__c"))
      val perDoc = cnt.groupBy($"source", $"doc_id")
        .agg(sum($"__c").as("__n"), count(lit(1)).as("__ty"),
          sum($"__c".cast("double") * log($"__c")).as("__slc"))
        .select($"source",
          ($"__ty".cast("double") / $"__n").as("__ttr"),
          (log($"__n") - $"__slc" / $"__n").as("__ent"))
      perDoc.groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          Fns.roundU(avg($"__ttr"), 4).as("avg_ttr"),
          Fns.roundU(avg($"__ent"), 4).as("avg_entropy"))
        .orderBy($"source")
    }, Some(
      """WITH tok AS (
        |  SELECT source, doc_id, unnest(string_split_regex(trim(text),
        |    '\s+')) AS term
        |  FROM documents WHERE length(trim(text)) > 0),
        |c AS (
        |  SELECT source, doc_id, term, count(*) AS c
        |  FROM tok GROUP BY source, doc_id, term),
        |p AS (
        |  SELECT source,
        |    CAST(count(*) AS DOUBLE) / sum(c) AS ttr,
        |    ln(sum(c)) - sum(CAST(c AS DOUBLE) * ln(c)) / sum(c) AS ent
        |  FROM c GROUP BY source, doc_id)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  floor((avg(ttr)) * 10000 + 0.5) / 10000.0 AS avg_ttr,
        |  floor((avg(ent)) * 10000 + 0.5) / 10000.0 AS avg_entropy
        |FROM p GROUP BY source ORDER BY source""".stripMargin)),

    // BPE-style PAIR COUNTING — the inner loop of tokenizer training:
    // corpus-wide adjacent-token-pair frequencies, top 20. The pair
    // stream is generated inside the scan projection (sliced from the
    // one materialized token array); counts are a hash aggregate with
    // map-side combine, and the final selection is a bounded
    // TakeOrdered, not a vocabulary sort. A full BPE trainer is this
    // query in a driver loop: count → merge best pair → re-tokenize.
    QueryDef("q79_bpe_pairs", (s, d) => {
      val docs = Tables.documents(s, d)
        .select(TextAnalysis.wsTokens($"text").as("__t"))
        .filter(size($"__t") >= 2)
      docs.select(explode(transform(
          sequence(lit(0), size($"__t") - 2),
          i => struct(element_at($"__t", i + 1).as("a"),
            element_at($"__t", i + 2).as("b")))).as("p"))
        .groupBy($"p.a".as("first_tok"), $"p.b".as("second_tok"))
        .agg(count(lit(1)).as("n"))
        .orderBy($"n".desc, $"first_tok", $"second_tok")
        .limit(20)
    }, Some(
      """WITH t AS (
        |  SELECT string_split_regex(trim(text), '\s+') AS t
        |  FROM documents WHERE length(trim(text)) > 0),
        |p AS (
        |  SELECT t[i] AS first_tok, t[i+1] AS second_tok
        |  FROM t, unnest(range(1, len(t))) AS u(i))
        |SELECT first_tok, second_tok, CAST(count(*) AS BIGINT) AS n
        |FROM p GROUP BY first_tok, second_tok
        |ORDER BY n DESC, first_tok, second_tok LIMIT 20""".stripMargin)),

    // Duplicate-span PROVENANCE: q75 says HOW MUCH of a doc is
    // duplicated; this says WHO introduced each duplicated span (the
    // lowest-id doc containing it) — copies score all-inherited,
    // boilerplate sources all-introduced. Spans travel as 64-bit
    // hashes; per-span state is one (min_id, count) pair.
    QueryDef("q80_span_provenance", (s, d) => {
      TextAnalysis.spanProvenance(Tables.documents(s, d), "text",
          "doc_id", spanTok = 8)
        .select($"id".as("doc_id"), $"n_introduced", $"n_inherited")
        .orderBy($"doc_id")
    },
    // q80: same string-vs-64-bit-hash duality as q75 — DuckDB attributes
    // span strings, Spark their xxhash64; identical modulo the 2^-64
    // collision direction
    Some(
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |  FROM documents WHERE length(trim(text)) > 0),
        |spans AS (
        |  SELECT doc_id, array_to_string(t[i+1:i+8], ' ') AS g
        |  FROM toks, unnest(range(0, greatest(len(t)-8+1, 0))) AS u(i)),
        |dup AS (
        |  SELECT g, min(doc_id) AS first_doc
        |  FROM spans GROUP BY g HAVING count(*) >= 2),
        |d AS (SELECT DISTINCT doc_id, g FROM spans),
        |r AS (
        |  SELECT d.doc_id,
        |    CAST(sum(CASE WHEN d.doc_id = dup.first_doc
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_introduced,
        |    CAST(sum(CASE WHEN d.doc_id <> dup.first_doc
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_inherited
        |  FROM d JOIN dup USING (g)
        |  GROUP BY d.doc_id)
        |SELECT doc_id, n_introduced, n_inherited
        |FROM r ORDER BY doc_id""".stripMargin)),

    // BIGRAM surprisal — q66's LM quality filter at order 2: the
    // conditional model p(w2|w1) = c(w1,w2)/c(w1) is trained from the
    // corpus and scored against it in one pipeline. Unlike q66's
    // vocabulary-sized unigram table, a bigram model is NOT
    // broadcast-sized — it JOINS on the (w1,w2) key, co-partitioned
    // with the corpus bigram stream (both sides shuffle once on the
    // same key). Self-trained scoring has no OOV, so no backoff branch.
    QueryDef("q91_bigram_surprisal", (s, d) => {
      val toks = Tables.documents(s, d)
        .select($"source", $"doc_id",
          TextAnalysis.wsTokens($"text").as("__t"))
        .filter(size($"__t") >= 2)
      // NOT persisted: caching the bigram table costs more than the
      // one recompute it saves at bench scale (measured) — the scoring
      // branch re-runs the split, but columnar scan + codegen'd
      // explode outpace the row-format cache write + read
      val bi = toks.select($"source", $"doc_id",
          explode(transform(sequence(lit(0), size($"__t") - 2),
            i => struct(element_at($"__t", i + 1).as("w1"),
              element_at($"__t", i + 2).as("w2")))).as("b"))
        .select($"source", $"doc_id", $"b.w1".as("w1"), $"b.w2".as("w2"))
      val c2 = bi.groupBy($"w1", $"w2").agg(count(lit(1)).as("__c12"))
      // c(w1) = Σ_w2 c(w1,w2): roll up the bigram counts instead of
      // re-aggregating the corpus — one less full scan
      val c1 = c2.groupBy($"w1").agg(sum($"__c12").as("__c1"))
      val model = c2.join(c1, "w1")
        .select($"w1", $"w2",
          ($"__c12".cast("double") / $"__c1").as("__p"))
      bi.join(model, Seq("w1", "w2"))
        .groupBy($"source", $"doc_id")
        .agg(sum(-log($"__p")).as("__ll"), count(lit(1)).as("__nb"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          Fns.roundU(avg($"__ll" / $"__nb"), 4).as("avg_surprisal"),
          Fns.roundU(exp(avg($"__ll" / $"__nb")), 2).as("perplexity"))
        .orderBy($"source")
    }, Some(
      """WITH t AS (
        |  SELECT source, doc_id,
        |    string_split_regex(trim(text), '\s+') AS t
        |  FROM documents WHERE length(trim(text)) > 0),
        |bi AS (
        |  SELECT source, doc_id, t[i] AS w1, t[i+1] AS w2
        |  FROM t, unnest(range(1, len(t))) AS u(i)),
        |c2 AS (SELECT w1, w2, count(*) AS c12 FROM bi GROUP BY w1, w2),
        |c1 AS (SELECT w1, count(*) AS c1 FROM bi GROUP BY w1),
        |m AS (
        |  SELECT w1, w2, CAST(c12 AS DOUBLE) / c1 AS p
        |  FROM c2 JOIN c1 USING (w1)),
        |pd AS (
        |  SELECT source, doc_id, sum(-ln(p)) AS ll, count(*) AS nb
        |  FROM bi JOIN m USING (w1, w2) GROUP BY source, doc_id)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  floor((avg(ll / nb)) * 10000 + 0.5) / 10000.0 AS avg_surprisal,
        |  floor((exp(avg(ll / nb))) * 100 + 0.5) / 100.0 AS perplexity
        |FROM pd GROUP BY source ORDER BY source""".stripMargin)),

    // SPAN-REMOVAL transform — the exact-substring dedup STEP (q75
    // measures the signal; this applies it): every token covered by an
    // 8-token span occurring >= 2 times corpus-wide is dropped and the
    // doc rebuilt from the survivors. The md5 of the rebuilt text pins
    // the transform content cross-engine — an off-by-one in span
    // coverage or token order breaks the hash, not just the counts.
    QueryDef("q97_span_removal", (s, d) => {
      TextAnalysis.removeDupSpans(Tables.documents(s, d), "text",
          "doc_id", spanTok = 8)
        .select($"id".as("doc_id"), $"n_tok", $"n_kept", $"n_removed",
          md5($"kept_text").as("kept_md5"))
        .orderBy($"doc_id")
    },
    // q97: dup decided on span TEXT (the hash is an engine-side
    // optimization); kept text rebuilt with string_agg ORDER BY pos
    Some(
      """WITH toks AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN []
        |      ELSE string_split_regex(trim(text), '\s+') END AS t
        |  FROM documents),
        |spans AS (
        |  SELECT doc_id, i AS p, array_to_string(t[i+1:i+8], ' ') AS g
        |  FROM toks, unnest(range(0, greatest(len(t)-8+1, 0))) AS u(i)),
        |dup AS (SELECT g FROM spans GROUP BY g HAVING count(*) >= 2),
        |cov AS (
        |  SELECT DISTINCT s.doc_id, cp
        |  FROM spans s JOIN dup USING (g),
        |    unnest(range(s.p, s.p+8)) AS c(cp)),
        |tok AS (
        |  SELECT doc_id, i AS pos, t[i+1] AS tk
        |  FROM toks, unnest(range(0, len(t))) AS u(i)),
        |kept AS (
        |  SELECT tok.doc_id, tok.pos, tok.tk
        |  FROM tok LEFT JOIN cov
        |    ON tok.doc_id = cov.doc_id AND tok.pos = cov.cp
        |  WHERE cov.cp IS NULL),
        |k AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
        |    md5(string_agg(tk, ' ' ORDER BY pos)) AS kept_md5
        |  FROM kept GROUP BY doc_id)
        |SELECT t.doc_id, CAST(len(t.t) AS BIGINT) AS n_tok,
        |  CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
        |  CAST(len(t.t) - coalesce(k.n_kept, 0) AS BIGINT) AS n_removed,
        |  coalesce(k.kept_md5, md5('')) AS kept_md5
        |FROM toks t LEFT JOIN k USING (doc_id)
        |ORDER BY t.doc_id""".stripMargin)),

    // DETERMINISTIC TRAINING-ORDER shuffle — the "global shuffle before
    // sharding" step of a training-data pipeline: every doc gets a
    // position in a seeded pseudo-random permutation (order by
    // md5(seed || doc_id) — portable across engines, reproducible
    // across runs), then deals into 8 loader shards round-robin by
    // position. The global position is Packing.prefixSum — a
    // distributed two-phase scan — NOT an unpartitioned row_number
    // window, which would serialize the corpus through one task. The
    // per-shard doc_id sums are permutation checksums: any divergence
    // in the hash order or the rank assignment moves some doc to a
    // different shard and breaks the hash compare.
    QueryDef("q98_training_order", (s, d) => {
      val docs = Tables.documents(s, d)
        .select($"doc_id",
          md5(concat(lit("seed1:"), $"doc_id".cast("string")))
            .as("__h"))
        .withColumn("__g", lit(1))
      val ranked = Packing.prefixSum(docs, Seq("__g"),
        Seq("__h", "doc_id"), "__g", "pos")
      ranked
        .select((($"pos" - 1) % 8).as("shard_id"), $"pos", $"doc_id")
        .groupBy($"shard_id")
        .agg(count(lit(1)).as("n_docs"),
          min($"pos").as("first_pos"), max($"pos").as("last_pos"),
          sum($"doc_id").as("docid_sum"))
        .orderBy($"shard_id")
    },
    // q98: the same permutation from row_number over the same md5 keys
    Some(
      """WITH r AS (
        |  SELECT doc_id, row_number() OVER (
        |    ORDER BY md5('seed1:' || CAST(doc_id AS VARCHAR)) ASC,
        |      doc_id ASC) AS pos
        |  FROM documents)
        |SELECT (pos - 1) % 8 AS shard_id,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(min(pos) AS BIGINT) AS first_pos,
        |  CAST(max(pos) AS BIGINT) AS last_pos,
        |  CAST(sum(doc_id) AS BIGINT) AS docid_sum
        |FROM r GROUP BY shard_id ORDER BY shard_id""".stripMargin)),

    // PER-SOURCE QUALITY GATE — the "keep the best X% of each source"
    // curation step: per-source p25 quality threshold from the exact
    // histogram quantiles (q33/q50's machinery — every stage a bounded
    // hash agg at any corpus size), broadcast back onto the docs, keep
    // docs at/above their source's threshold. Per-source thresholds
    // (not a global cutoff) because sources have different quality
    // distributions — a global bar empties the weakest source.
    QueryDef("q99_quality_gate", (s, d) => {
      val docs = Tables.documents(s, d)
        .select($"doc_id", $"source",
          TextAnalysis.qualityScore($"text").as("quality"))
      val thr = Percentiles.exactQuantiles(docs, "source", "quality",
          Seq(0.25))
        .select($"source", $"value".as("q25"))
      docs.join(broadcast(thr), Seq("source"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when($"quality" >= $"q25", 1L).otherwise(0L)).as("n_kept"),
          Fns.roundU(max($"q25"), 4).as("threshold"))
        .withColumn("kept_frac",
          Fns.roundU($"n_kept".cast("double") / $"n_docs", 4))
        .orderBy($"source")
    },
    // q99: quality formula from q28's oracle, nearest-rank p25 from
    // q50's oracle pattern, gate + report
    Some(
      """WITH m AS (
        |  SELECT doc_id, source,
        |    floor((least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.5
        |      + least(CAST(len(list_filter(
        |          string_split_regex(trim(text), '\s+'),
        |          x -> x IN ('the','a','an','and','of','to','in','is',
        |            'it','that'))) AS DOUBLE)
        |        / len(string_split_regex(trim(text), '\s+')) * 5.0, 1.0)
        |        * 0.3
        |      + (1.0 - least(CAST(length(text) - length(regexp_replace(
        |          text, '[.,!?;:''"()\-]', '', 'g')) AS DOUBLE)
        |        / length(text) * 5.0, 1.0)) * 0.2) * 10000 + 0.5)
        |      / 10000.0 AS quality
        |  FROM documents),
        |ranked AS (
        |  SELECT source, quality,
        |    row_number() OVER (PARTITION BY source ORDER BY quality)
        |      AS rn,
        |    count(*) OVER (PARTITION BY source) AS n
        |  FROM m),
        |thr AS (
        |  SELECT source, quality AS q25 FROM ranked
        |  WHERE rn = greatest(1, CAST(ceil(0.25 * n) AS BIGINT)))
        |SELECT m.source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN m.quality >= t.q25 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_kept,
        |  floor(max(t.q25) * 10000 + 0.5) / 10000.0 AS threshold,
        |  floor((CAST(sum(CASE WHEN m.quality >= t.q25 THEN 1 ELSE 0 END)
        |    AS DOUBLE) / count(*)) * 10000 + 0.5) / 10000.0 AS kept_frac
        |FROM m JOIN thr t USING (source)
        |GROUP BY m.source ORDER BY m.source""".stripMargin)),

    // WEIGHTED sample without replacement (Efraimidis–Spirakis A-ES),
    // 5 docs per source, weight = quality score: the quality-weighted
    // draw a curated-corpus pipeline uses where q62's uniform draw
    // isn't enough. key = u^(1/w) with u from the engine-independent
    // consistent hash — deterministic, replayable, and top-k selected
    // through the bounded-heap plan (no per-group sort).
    QueryDef("q101_weighted_sample", (s, d) => {
      val docs = Tables.documents(s, d)
        .select($"source", $"doc_id",
          (TextAnalysis.qualityScore($"text") + 0.01).as("w"))
      Sampling.weightedSamplePerGroup(docs, Seq("source"), "doc_id",
          "w", k = 5)
        .select($"source", $"doc_id", Fns.roundU($"w", 4).as("w"),
          Fns.roundU($"__esk", 4).as("es_key"))
        .orderBy($"source", $"es_key".desc, $"doc_id")
    },
    // q101: A-ES keys from the same consistent hash + quality formula;
    // ln(u)/w ordering mirrored exactly
    Some(
      """WITH m AS (
        |  SELECT source, doc_id,
        |    floor((least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.5
        |      + least(CAST(len(list_filter(
        |          string_split_regex(trim(text), '\s+'),
        |          x -> x IN ('the','a','an','and','of','to','in','is',
        |            'it','that'))) AS DOUBLE)
        |        / len(string_split_regex(trim(text), '\s+')) * 5.0, 1.0)
        |        * 0.3
        |      + (1.0 - least(CAST(length(text) - length(regexp_replace(
        |          text, '[.,!?;:''"()\-]', '', 'g')) AS DOUBLE)
        |        / length(text) * 5.0, 1.0)) * 0.2) * 10000 + 0.5)
        |      / 10000.0 + 0.01 AS w
        |  FROM documents),
        |keyed AS (
        |  SELECT source, doc_id, w,
        |    ln((((doc_id % 2147483647 + 2147483647) % 2147483647
        |      * 2654435761 % 4294967296) + 1) / 4294967296.0) / w
        |      AS esk
        |  FROM m),
        |r AS (
        |  SELECT source, doc_id, w, esk, row_number() OVER (
        |    PARTITION BY source ORDER BY esk DESC, doc_id ASC) AS rn
        |  FROM keyed)
        |SELECT source, doc_id,
        |  floor(w * 10000 + 0.5) / 10000.0 AS w,
        |  floor(esk * 10000 + 0.5) / 10000.0 AS es_key
        |FROM r WHERE rn <= 5
        |ORDER BY source, es_key DESC, doc_id""".stripMargin)),

    // DATA-QUALITY EXPECTATIONS report — declarative contracts
    // (Deequ-style) evaluated as ONE shared-scan aggregate for every
    // row-level rule plus one bounded branch per uniqueness/FK rule:
    // the post-load assertion suite of a warehouse, next to q94's FK
    // audit. metric = violation fraction; ok = metric <= threshold.
    QueryDef("q102_quality_report", (s, d) => {
      val li = Tables.lineitem(s, d)
      Quality.report(li, Seq(
        Quality.NotNull("ship_date_not_null", "l_shipdate"),
        Quality.InRange("quantity_1_50", "l_quantity", 1, 50),
        Quality.InRange("tax_0_08", "l_tax", 0.0, 0.08, maxFrac = 0.5),
        Quality.Matches("returnflag_domain", "l_returnflag", "^[ARN]$"),
        Quality.Predicate("price_positive", $"l_extendedprice" <= 0),
        Quality.Unique("orderkey_linenumber_key",
          Seq("l_orderkey", "l_linenumber")),
        Quality.ForeignKey("orderkey_fk", "l_orderkey",
          Tables.orders(s, d), "o_orderkey")))
    },
    // q102: each rule's violation fraction recomputed as plain SQL
    // aggregates; rounding mirrors Fns.roundU at 6 decimals. ok is
    // decided on the RAW fraction (rounding is display-only), matching
    // Quality.report
    Some(
      """WITH rows_m AS (
        |  SELECT
        |    sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END)
        |      AS ship_null,
        |    sum(CASE WHEN l_quantity IS NOT NULL
        |      AND (l_quantity < 1 OR l_quantity > 50) THEN 1 ELSE 0 END)
        |      AS qty_out,
        |    sum(CASE WHEN l_tax IS NOT NULL
        |      AND (l_tax < 0.0 OR l_tax > 0.08) THEN 1 ELSE 0 END)
        |      AS tax_out,
        |    sum(CASE WHEN l_returnflag IS NOT NULL AND NOT
        |      regexp_matches(l_returnflag, '^[ARN]$') THEN 1 ELSE 0 END)
        |      AS rf_bad,
        |    sum(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END)
        |      AS price_bad,
        |    CAST(count(*) AS DOUBLE) AS n
        |  FROM lineitem),
        |uq AS (
        |  SELECT coalesce(sum(CASE WHEN c > 1 THEN c ELSE 0 END), 0)
        |      AS dups,
        |    CAST(coalesce(sum(c), 0) AS DOUBLE) AS n
        |  FROM (SELECT count(*) AS c FROM lineitem
        |        GROUP BY l_orderkey, l_linenumber)),
        |fk AS (
        |  SELECT sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END)
        |      AS orphans,
        |    CAST(count(*) AS DOUBLE) AS n
        |  FROM lineitem l LEFT JOIN
        |    (SELECT DISTINCT o_orderkey FROM orders) o
        |    ON l.l_orderkey = o.o_orderkey)
        |SELECT rule, metric, CAST(threshold AS DOUBLE) AS threshold,
        |  raw <= threshold AS ok FROM (
        |  SELECT 'ship_date_not_null' AS rule,
        |    floor(ship_null / n * 1000000 + 0.5) / 1000000.0 AS metric,
        |    0.0 AS threshold, ship_null / n AS raw FROM rows_m
        |  UNION ALL SELECT 'quantity_1_50',
        |    floor(qty_out / n * 1000000 + 0.5) / 1000000.0, 0.0,
        |    qty_out / n FROM rows_m
        |  UNION ALL SELECT 'tax_0_08',
        |    floor(tax_out / n * 1000000 + 0.5) / 1000000.0, 0.5,
        |    tax_out / n FROM rows_m
        |  UNION ALL SELECT 'returnflag_domain',
        |    floor(rf_bad / n * 1000000 + 0.5) / 1000000.0, 0.0,
        |    rf_bad / n FROM rows_m
        |  UNION ALL SELECT 'price_positive',
        |    floor(price_bad / n * 1000000 + 0.5) / 1000000.0, 0.0,
        |    price_bad / n FROM rows_m
        |  UNION ALL SELECT 'orderkey_linenumber_key',
        |    floor(dups / greatest(n, 1) * 1000000 + 0.5) / 1000000.0,
        |    0.0, dups / greatest(n, 1) FROM uq
        |  UNION ALL SELECT 'orderkey_fk',
        |    floor(orphans / n * 1000000 + 0.5) / 1000000.0, 0.0,
        |    orphans / n FROM fk)
        |ORDER BY rule""".stripMargin)),

    // BPE tokenizer APPLY — the other half of q79's pair counting:
    // derive a deterministic 20-merge char table from the corpus (one
    // aggregation), broadcast it, tokenize every document with the
    // greedy public BPE algorithm, report per-language token budgets
    // and fertility. ENGINE-HASH by construction (a greedy merge loop
    // has no SQL form — the q23/q25 treatment): gated by TokenizeSpec's
    // hand-computed fixtures + fixed-point/concatenation invariants,
    // not a DuckDB oracle.
    QueryDef("q105_bpe_tokenize", (s, d) => {
      val docs = Tables.documents(s, d)
      val merges = Tokenize.deriveCharMerges(docs, "text", 20)
      Tokenize.bpeStats(docs, "doc_id", "text", merges, "a", "b", "rank")
        .join(docs.select($"doc_id", $"lang"), "doc_id")
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"),
          sum($"n_words").as("n_words"),
          sum($"n_tokens").as("n_tokens"),
          Fns.roundU(avg($"fertility"), 4).as("avg_fertility"),
          Fns.roundU(avg($"mean_token_len"), 4).as("avg_token_len"))
        .orderBy($"lang")
    },
    // q105's oracle — the FULL BPE pipeline under the hash oracle:
    // the merge table is DERIVED relationally (adjacent-char pair
    // counts → rank by (count desc, pair asc) → top 20 — exactly
    // [[graft.operators.Tokenize.deriveCharMerges]]), packed into one
    // scalar MAP, and the greedy application loop is q315's recursive
    // CTE with the literal CASE rank lookup swapped for map probes
    // (`mm[a||chr(1)||b][1]`). Per-language aggregation mirrors the
    // Spark side, including zero-word documents via the LEFT JOIN
    // (fertility/mean 0.0). Validated against an independent Python
    // replay of tokenizeWord+deriveCharMerges on all 500 sf0.01 docs
    // (5/5 language rows identical) and timed at 0.6 s at sf0.01.
    // With this, q105's derivation loop — the last algorithmic
    // no_oracle contract — is DuckDB-replayed end to end.
    Some(
      """WITH RECURSIVE wsrc AS (
         |  SELECT unnest(string_split_regex(text, '\s+')) AS w
         |  FROM documents WHERE text IS NOT NULL),
         |pc AS (
         |  SELECT substr(w, CAST(i AS INT), 1) AS a,
         |    substr(w, CAST(i AS INT) + 1, 1) AS b, count(*) AS cnt
         |  FROM wsrc, unnest(range(1, length(w))) u(i)
         |  WHERE length(w) >= 2 GROUP BY 1, 2),
         |mt AS (
         |  SELECT a, b, CAST(row_number() OVER (ORDER BY cnt DESC, a, b) - 1
         |    AS BIGINT) AS rnk
         |  FROM pc ORDER BY cnt DESC, a, b LIMIT 20),
         |mtl AS (
         |  SELECT map_from_entries(list(struct_pack(
         |    k := a || chr(1) || b, v := rnk))) AS mm FROM mt),
         |""".stripMargin + bpeGreedyPassHead + """
         |          j -> coalesce(mm[toks[CAST(j AS INT)] || chr(1) || toks[CAST(j AS INT) + 1]][1], 999999)
         |            = best) AS isb
         |      FROM (
         |        SELECT doc_id, widx, toks, mm, list_min(list_transform(range(1, len(toks)), j -> coalesce(mm[toks[CAST(j AS INT)] || chr(1) || toks[CAST(j AS INT) + 1]][1], 999999))) AS best
         |        FROM st, mtl)
         |      WHERE best IS NOT NULL AND best < 999999) b1) b2),
         |fin AS (
         |  SELECT doc_id, widx, toks
         |  FROM (SELECT doc_id, widx, toks, list_min(list_transform(range(1, len(toks)), j -> coalesce(mm[toks[CAST(j AS INT)] || chr(1) || toks[CAST(j AS INT) + 1]][1], 999999))) AS best FROM st, mtl)
         |  WHERE best IS NULL OR best >= 999999),
         |perdoc AS (
         |  SELECT w.doc_id,
         |    count(*) AS n_words,
         |    sum(len(f.toks)) AS n_tokens,
         |    sum(list_sum(list_transform(f.toks, t -> length(t)))) AS tok_len
         |  FROM words w JOIN fin f
         |    ON w.doc_id = f.doc_id AND w.widx = f.widx
         |  GROUP BY w.doc_id),
         |alldocs AS (
         |  SELECT d.doc_id, d.lang,
         |    coalesce(p.n_words, 0) AS n_words,
         |    coalesce(p.n_tokens, 0) AS n_tokens,
         |    CASE WHEN coalesce(p.n_words, 0) > 0
         |      THEN CAST(p.n_tokens AS DOUBLE) / p.n_words ELSE 0.0
         |      END AS fertility,
         |    CASE WHEN coalesce(p.n_tokens, 0) > 0
         |      THEN CAST(p.tok_len AS DOUBLE) / p.n_tokens ELSE 0.0
         |      END AS mean_token_len
         |  FROM documents d LEFT JOIN perdoc p ON d.doc_id = p.doc_id)
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_words) AS BIGINT) AS n_words,
         |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         |  floor(avg(fertility) * 10000 + 0.5) / 10000.0 AS avg_fertility,
         |  floor(avg(mean_token_len) * 10000 + 0.5) / 10000.0 AS avg_token_len
         |FROM alldocs GROUP BY lang ORDER BY lang""".stripMargin)),

    // TOKEN PMI — pointwise mutual information of token pairs
    // co-occurring within a document, the collocation-mining staple.
    // The scale contract: pair fanout is bounded by the top-V vocabulary
    // (df-ranked, broadcast), NOT by document length — a 1M-token
    // degenerate doc contributes at most V(V-1)/2 pairs because pairs
    // are generated from the per-doc VOCAB-INTERSECTED sorted set, the
    // q111 projection trick (a<b by construction, no self-join). df
    // lookups ride the same broadcast vocab; the only wide shuffle
    // carries (term_a, term_b) pairs, never text.
    QueryDef("q114_token_pmi", (s, d) => {
      val docs = Tables.documents(s, d)
        .filter(length(trim($"text")) > 0)
      val tok = docs.select($"doc_id",
          explode(split(trim($"text"), "\\s+")).as("term"))
        .distinct()
      val vocab = tok.groupBy($"term").agg(count(lit(1)).as("df"))
        .orderBy($"df".desc, $"term").limit(100)
      val arrs = tok.join(broadcast(vocab.select($"term")), "term")
        .groupBy($"doc_id")
        .agg(sort_array(collect_set($"term")).as("__t"))
      val pairs = arrs.select(explode(flatten(transform($"__t",
          (x, i) => transform(slice($"__t", i + 2, size($"__t")),
            y => struct(x.as("a"), y.as("b")))))).as("p"))
        .groupBy($"p.a".as("term_a"), $"p.b".as("term_b"))
        .agg(count(lit(1)).as("n_ab"))
        .filter($"n_ab" >= 5)
      val nd = docs.agg(count(lit(1)).as("n_docs"))
      pairs
        .join(broadcast(vocab.select($"term".as("term_a"),
          $"df".as("df_a"))), "term_a")
        .join(broadcast(vocab.select($"term".as("term_b"),
          $"df".as("df_b"))), "term_b")
        .crossJoin(broadcast(nd))
        .select($"term_a", $"term_b", $"n_ab",
          Fns.roundU(log(($"n_ab" * $"n_docs").cast("double") /
            ($"df_a" * $"df_b")), 6).as("pmi"))
        .orderBy($"pmi".desc, $"term_a", $"term_b")
        .limit(30)
    },
    // q114: pair generation as the SQL self-join dual of the array
    // projection; same top-100 df-ranked vocab, same ln() PMI
    Some(
      """WITH docs AS (
        |  SELECT * FROM documents WHERE length(trim(text)) > 0),
        |tok AS (
        |  SELECT DISTINCT doc_id, t.term FROM docs,
        |    unnest(regexp_split_to_array(trim(text), '\s+')) AS t(term)),
        |vocab AS (
        |  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tok
        |  GROUP BY 1 ORDER BY df DESC, term LIMIT 100),
        |tv AS (SELECT tok.doc_id, tok.term FROM tok
        |  JOIN vocab USING (term)),
        |p AS (
        |  SELECT a.term AS term_a, b.term AS term_b,
        |    CAST(count(*) AS BIGINT) AS n_ab
        |  FROM tv a JOIN tv b
        |    ON a.doc_id = b.doc_id AND a.term < b.term
        |  GROUP BY 1, 2 HAVING count(*) >= 5),
        |nd AS (SELECT count(*) AS n_docs FROM docs)
        |SELECT term_a, term_b, n_ab,
        |  floor(ln(CAST(n_ab * n_docs AS DOUBLE)
        |      / CAST(va.df * vb.df AS DOUBLE)) * 1000000 + 0.5)
        |    / 1000000.0 AS pmi
        |FROM p
        |JOIN vocab va ON va.term = p.term_a
        |JOIN vocab vb ON vb.term = p.term_b
        |CROSS JOIN nd
        |ORDER BY pmi DESC, term_a, term_b LIMIT 30""".stripMargin)),

    // INVERTED-INDEX POSTING LISTS — the search-index build step:
    // term → document frequency + delta-encoded posting list (sorted
    // doc ids, first id then gaps — the classic index compression
    // layout). Postings assemble per term from the term's OWN sorted
    // id array in one projection; only the top-20 df-ranked terms
    // materialize strings, and the heavy shuffle carries (term,
    // doc_id) pairs. A real index would shard terms and write
    // varint-packed gap bytes; the gap derivation is the same.
    QueryDef("q118_posting_lists", (s, d) => {
      val tok = Tables.documents(s, d)
        .filter(length(trim($"text")) > 0)
        .select($"doc_id",
          explode(split(trim($"text"), "\\s+")).as("term"))
        .distinct()
      tok.groupBy($"term")
        .agg(count(lit(1)).as("df"),
          sort_array(collect_set($"doc_id")).as("__ids"))
        .orderBy($"df".desc, $"term").limit(20)
        .select($"term", $"df",
          array_join(expr(
            "transform(__ids, (x, i) -> " +
              "CAST(IF(i = 0, x, x - __ids[i-1]) AS STRING))"),
            ",").as("postings"))
        .orderBy($"df".desc, $"term")
    },
    // q118: gap encoding via lag (the window dual of the array form);
    // first posting is the raw id (lag coalesced to 0)
    Some(
      """WITH docs AS (
        |  SELECT * FROM documents WHERE length(trim(text)) > 0),
        |tok AS (
        |  SELECT DISTINCT doc_id, t.term FROM docs,
        |    unnest(regexp_split_to_array(trim(text), '\s+')) AS t(term)),
        |top AS (
        |  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tok
        |  GROUP BY 1 ORDER BY df DESC, term LIMIT 20),
        |g AS (
        |  SELECT tok.term, tok.doc_id,
        |    tok.doc_id - coalesce(lag(tok.doc_id) OVER (
        |      PARTITION BY tok.term ORDER BY tok.doc_id), 0) AS gap
        |  FROM tok JOIN top USING (term))
        |SELECT g.term, top.df,
        |  string_agg(CAST(g.gap AS VARCHAR), ','
        |    ORDER BY g.doc_id) AS postings
        |FROM g JOIN top USING (term)
        |GROUP BY 1, 2 ORDER BY df DESC, term""".stripMargin)),

    // BITMAP INDEX — segmented bitmap index over low-cardinality
    // columns, the warehouse alternative to row scans for categorical
    // predicates: doc positions pack into 64-bit words (word_idx =
    // id div 64), one bitmap row per (key, word); the lang×source
    // count matrix is then bitmap-AND + popcount over co-keyed word
    // segments — query cost is |keys|·N/64 words, and the word join
    // co-partitions on word_idx. The ORACLE computes the same matrix
    // by plain GROUP BY, so the hash compare proves the bitmap
    // machinery (pack, AND, popcount) exact, not just self-consistent.
    // Positions require a dense id domain (documents: ids are 0..N-1);
    // sparse ids would first densify via zipWithIndex-style ranking.
    QueryDef("q124_bitmap_index", (s, d) => {
      val docs = Tables.documents(s, d)
      def index(keyCol: Column) = docs
        .select(keyCol.as("key"), expr("doc_id div 64").as("w"),
          expr("shiftleft(CAST(1 AS BIGINT), " +
            "CAST(doc_id % 64 AS INT))").as("bit"))
        .groupBy($"key", $"w").agg(expr("bit_or(bit)").as("bits"))
      val langIdx = index($"lang").withColumnsRenamed(
        Map("key" -> "lang", "bits" -> "__lb"))
      val srcIdx = index($"source").withColumnsRenamed(
        Map("key" -> "source", "bits" -> "__sb"))
      langIdx.join(srcIdx, "w")
        .groupBy($"lang", $"source")
        .agg(sum(bit_count($"__lb".bitwiseAND($"__sb")))
          .cast("long").as("n_docs"))
        .filter($"n_docs" > 0)
        .orderBy($"lang", $"source")
    },
    // q124: the matrix by plain GROUP BY — the oracle deliberately
    // does NOT mirror the bitmaps; equality proves the index exact
    Some(
      """SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs
        |FROM documents GROUP BY 1, 2
        |ORDER BY lang, source""".stripMargin)),

    // EDIT-DISTANCE-1 JOIN — spelling-variant pairs over the corpus
    // vocabulary via DELETION NEIGHBORHOODS: a pair at edit distance
    // ≤1 must share a member of {t} ∪ {t minus one char} (equal →
    // t; insert/delete → the shorter string; substitution → both
    // delete the differing position), so the all-pairs levenshtein
    // scan becomes an equi-join on the variant key with fanout
    // len(t)+1 per token — the candidate set is linear in vocabulary
    // size, not quadratic, and levenshtein runs only on candidates.
    // The length cap bounds per-token fanout (and is mirrored by the
    // oracle, which pays the quadratic scan).
    QueryDef("q133_spell_pairs", (s, d) => {
      // vocabulary = corpus tokens ∪ catalog (p_name) tokens — the
      // cross-source normalization case where variant pairs exist
      val vocab = Tables.documents(s, d)
        .select(explode(split(trim($"text"), "\\s+")).as("t"))
        .unionAll(Tables.part(s, d)
          .select(explode(split($"p_name", " ")).as("t")))
        .filter(length($"t").between(1, 30)).distinct()
      val variants = vocab.select($"t", explode(array_union(
        array($"t"),
        expr("transform(sequence(1, length(t)), i -> " +
          "concat(substr(t, 1, i - 1), " +
          "substr(t, i + 1, length(t))))"))).as("__v"))
      val cand = variants.select($"t".as("t1"), $"__v")
        .join(variants.select($"t".as("t2"), $"__v"), "__v")
        .filter($"t1" < $"t2").select($"t1", $"t2").distinct()
      cand.filter(levenshtein($"t1", $"t2") <= 1)
        .orderBy($"t1", $"t2")
    },
    // q133: the quadratic scan the deletion-neighborhood join avoids
    Some(
      """WITH v AS (
        |  SELECT DISTINCT t FROM (
        |    SELECT unnest(string_split_regex(trim(text), '\s+')) AS t
        |    FROM documents
        |    UNION ALL
        |    SELECT unnest(string_split(p_name, ' ')) FROM part)
        |  WHERE len(t) BETWEEN 1 AND 30)
        |SELECT a.t AS t1, b.t AS t2
        |FROM v a JOIN v b ON a.t < b.t
        |WHERE levenshtein(a.t, b.t) <= 1
        |ORDER BY t1, t2""".stripMargin)),

    // TERM-DISTRIBUTION KL DIVERGENCE — corpus drift detection: for
    // each language, KL(P‖Q) both directions between its add-one-
    // smoothed term distribution and the REST of the corpus, over the
    // shared vocabulary. The rest-counts come from one total-counts
    // table (c_rest = c_tot − c_lang — never a per-lang anti-join),
    // the langs×vocab spine is linear in vocabulary size, and the
    // divergence is a hash aggregate per language.
    QueryDef("q139_term_kl", (s, d) => {
      val toks = Tables.documents(s, d)
        .filter(length(trim($"text")) > 0)
        .select($"lang", explode(split(trim($"text"), "\\s+")).as("t"))
      val cl = toks.groupBy($"lang", $"t").agg(count(lit(1)).as("__cl"))
        .transform(scoped)
      val ct = cl.groupBy($"t").agg(sum($"__cl").as("__ct"))
      val nl = cl.groupBy($"lang").agg(sum($"__cl").as("__nl"))
      val tot = ct.agg(sum($"__ct").as("__nt"),
        count(lit(1)).as("__v"))
      val spine = nl.select($"lang", $"__nl")
        .crossJoin(ct.select($"t", $"__ct"))
      spine
        .join(cl, Seq("lang", "t"), "left")
        .crossJoin(broadcast(tot))
        .select($"lang", $"__nl", $"__nt", $"__v",
          coalesce($"__cl", lit(0L)).as("__c"),
          ($"__ct" - coalesce($"__cl", lit(0L))).as("__cr"))
        .select($"lang",
          (($"__c" + 1).cast("double") / ($"__nl" + $"__v")).as("__p"),
          (($"__cr" + 1).cast("double") /
            ($"__nt" - $"__nl" + $"__v")).as("__q"),
          $"__c")
        .groupBy($"lang")
        .agg(sum(when($"__c" > 0, 1L).otherwise(0L)).as("n_terms"),
          Fns.roundU(sum($"__p" * log($"__p" / $"__q")), 6)
            .as("kl_pq"),
          Fns.roundU(sum($"__q" * log($"__q" / $"__p")), 6)
            .as("kl_qp"))
        .orderBy($"lang")
    },
    // q139: same smoothing, same rest-by-subtraction derivation
    Some(
      """WITH toks AS (
        |  SELECT lang, unnest(string_split_regex(trim(text), '\s+'))
        |    AS t
        |  FROM documents WHERE len(trim(text)) > 0),
        |cl AS (SELECT lang, t, CAST(count(*) AS BIGINT) AS c
        |  FROM toks GROUP BY 1, 2),
        |ct AS (SELECT t, sum(c) AS ct FROM cl GROUP BY 1),
        |nl AS (SELECT lang, sum(c) AS nl FROM cl GROUP BY 1),
        |tot AS (SELECT sum(ct) AS nt, count(*) AS v FROM ct),
        |spine AS (
        |  SELECT nl.lang, nl.nl, ct.t, ct.ct FROM nl CROSS JOIN ct),
        |pq AS (
        |  SELECT sp.lang,
        |    CAST(coalesce(cl.c, 0) + 1 AS DOUBLE) / (sp.nl + tot.v)
        |      AS p,
        |    CAST(sp.ct - coalesce(cl.c, 0) + 1 AS DOUBLE)
        |      / (tot.nt - sp.nl + tot.v) AS q,
        |    coalesce(cl.c, 0) AS c
        |  FROM spine sp
        |  LEFT JOIN cl ON cl.lang = sp.lang AND cl.t = sp.t
        |  CROSS JOIN tot)
        |SELECT lang,
        |  CAST(sum(CASE WHEN c > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_terms,
        |  floor(sum(p * ln(p / q)) * 1e6 + 0.5) / 1e6 AS kl_pq,
        |  floor(sum(q * ln(q / p)) * 1e6 + 0.5) / 1e6 AS kl_qp
        |FROM pq GROUP BY lang ORDER BY lang""".stripMargin)),

    // ZIPF FIT — least-squares slope of ln(freq) on ln(rank) over the
    // top-200 corpus terms (natural text ⇒ slope ≈ −1; synthetic or
    // templated text bends it). The top-200 cut rides the bounded-heap
    // TopKPerKey plan under a (freq desc, term) total order — integer
    // freqs, so the cut is engine-exact; the closed-form regression
    // runs over exactly 200 rows, and the single-partition rank window
    // is bounded by that 200.
    QueryDef("q155_zipf_slope", (s, d) => {
      val tok = Tables.documents(s, d)
        .filter(length(trim($"text")) > 0)
        .select(explode(split(trim($"text"), "\\s+")).as("term"))
      val freq = tok.groupBy($"term").agg(count(lit(1)).as("freq"))
      val top = graft.plans.TopKPerKey(freq.withColumn("__g", lit(1)),
        Seq("__g"), Seq($"freq".desc, $"term".asc), 200)
      val xy = top
        .withColumn("rank",
          row_number().over(Window.orderBy($"freq".desc, $"term")))
        .select(log($"rank".cast("double")).as("x"),
          log($"freq".cast("double")).as("y"))
      val a = xy.agg(count(lit(1)).as("n"), sum($"x").as("sx"),
        sum($"y").as("sy"), sum($"x" * $"y").as("sxy"),
        sum($"x" * $"x").as("sxx"), sum($"y" * $"y").as("syy"))
      a.select($"n",
          (($"n" * $"sxy" - $"sx" * $"sy")
            / ($"n" * $"sxx" - $"sx" * $"sx")).as("__m"),
          $"sx", $"sy", $"sxy", $"sxx", $"syy")
        .select($"n".as("n_terms"),
          Fns.roundU($"__m", 6).as("slope"),
          Fns.roundU(($"sy" - $"__m" * $"sx") / $"n", 6).as("intercept"),
          Fns.roundU(($"n" * $"sxy" - $"sx" * $"sy")
            * ($"n" * $"sxy" - $"sx" * $"sy")
            / (($"n" * $"sxx" - $"sx" * $"sx")
              * ($"n" * $"syy" - $"sy" * $"sy")), 6).as("r2"))
    },
    // q155: top-200 cut under a (freq desc, term) total order —
    // integer freqs make the cut engine-exact
    Some(
      """WITH tok AS (
        |  SELECT unnest(string_split_regex(trim(text), '\s+')) AS term
        |  FROM documents WHERE length(trim(text)) > 0),
        |freq AS (SELECT term, count(*) AS freq FROM tok GROUP BY term),
        |top AS (SELECT term, freq FROM freq
        |        ORDER BY freq DESC, term LIMIT 200),
        |xy AS (
        |  SELECT ln(CAST(row_number() OVER (ORDER BY freq DESC, term)
        |      AS DOUBLE)) AS x,
        |    ln(CAST(freq AS DOUBLE)) AS y
        |  FROM top),
        |a AS (
        |  SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
        |    sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
        |  FROM xy),
        |m AS (SELECT *, (n * sxy - sx * sy) / (n * sxx - sx * sx) AS sl
        |      FROM a)
        |SELECT CAST(n AS BIGINT) AS n_terms,
        |  floor(sl * 1000000 + 0.5) / 1000000.0 AS slope,
        |  floor((sy - sl * sx) / n * 1000000 + 0.5)
        |    / 1000000.0 AS intercept,
        |  floor((n * sxy - sx * sy) * (n * sxy - sx * sy)
        |      / ((n * sxx - sx * sx) * (n * syy - sy * sy))
        |    * 1000000 + 0.5) / 1000000.0 AS r2
        |FROM m""".stripMargin)),

    // COHEN'S KAPPA — chance-corrected agreement between two document
    // quality raters (char-length vs token-count heuristics): the
    // labeling-pipeline QA readout. One scan, one 2×2 confusion
    // aggregate; po/pe are exact long ratios and kappa is two
    // correctly-rounded divisions — deterministic cross-engine.
    QueryDef("q165_cohens_kappa", (s, d) => {
      val m = Tables.documents(s, d).select(
        ($"n_chars" > 200).as("__a"),
        (when(length(trim($"text")) === 0, 0)
          .otherwise(size(split(trim($"text"), "\\s+"))) >= 30).as("__b"))
      m.agg(count(lit(1)).as("__n"),
          sum(when($"__a" && $"__b", 1L).otherwise(0L)).as("n11"),
          sum(when($"__a" && !$"__b", 1L).otherwise(0L)).as("n10"),
          sum(when(!$"__a" && $"__b", 1L).otherwise(0L)).as("n01"),
          sum(when(!$"__a" && !$"__b", 1L).otherwise(0L)).as("n00"))
        .select($"n11", $"n10", $"n01", $"n00",
          (($"n11" + $"n00") / $"__n").as("__po"),
          ((($"n11" + $"n10") * ($"n11" + $"n01")
            + ($"n01" + $"n00") * ($"n10" + $"n00"))
            / ($"__n" * $"__n")).as("__pe"))
        .select($"n11", $"n10", $"n01", $"n00",
          Fns.roundU($"__po", 6).as("p_observed"),
          Fns.roundU($"__pe", 6).as("p_expected"),
          Fns.roundU(($"__po" - $"__pe") / (lit(1.0) - $"__pe"), 6)
            .as("kappa"))
    },
    // q165: exact long ratios, two correctly-rounded divisions
    Some(
      """WITH m AS (
        |  SELECT n_chars > 200 AS a,
        |    (CASE WHEN length(trim(text)) = 0 THEN 0
        |          ELSE len(string_split_regex(trim(text), '\s+')) END)
        |      >= 30 AS b
        |  FROM documents),
        |g AS (
        |  SELECT count(*) AS n,
        |    CAST(sum(CASE WHEN a AND b THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n11,
        |    CAST(sum(CASE WHEN a AND NOT b THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n10,
        |    CAST(sum(CASE WHEN NOT a AND b THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n01,
        |    CAST(sum(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n00
        |  FROM m),
        |r AS (
        |  SELECT n11, n10, n01, n00,
        |    CAST(n11 + n00 AS DOUBLE) / n AS po,
        |    CAST((n11 + n10) * (n11 + n01)
        |      + (n01 + n00) * (n10 + n00) AS DOUBLE) / (n * n) AS pe
        |  FROM g)
        |SELECT n11, n10, n01, n00,
        |  floor(po * 1000000 + 0.5) / 1000000.0 AS p_observed,
        |  floor(pe * 1000000 + 0.5) / 1000000.0 AS p_expected,
        |  floor((po - pe) / (1.0 - pe) * 1000000 + 0.5)
        |    / 1000000.0 AS kappa
        |FROM r""".stripMargin)),

    // UNICODE NORMALIZATION + CLEANING — the canonicalization pass
    // every multi-source corpus needs before dedup/hashing (the same
    // document arrives precomposed from one crawler and with
    // combining marks from another; every fingerprint disagrees until
    // code points are canonical). NFC runs as the native
    // `nfc_normalize` Catalyst expression (whole-stage codegen, with
    // an isNormalized zero-allocation fast path for the ASCII
    // majority), then control-strip + whitespace-collapse + trim via
    // builtin regexes with EXPLICIT character classes ([ \t\n\r]
    // spelled out — Java's \s includes \x0B, RE2's does not, so the
    // shorthand class would silently diverge between engines). The
    // fixture decorates real document text with combining sequences,
    // control bytes and ragged whitespace; DuckDB rebuilds the same
    // raw string via chr() and runs its own utf8proc NFC — md5 of the
    // cleaned text pins byte-exact agreement between two INDEPENDENT
    // Unicode implementations (ICU-style JDK vs utf8proc).
    QueryDef("q205_unicode_norm", (s, d) => {
      // DECOMPOSED sequences (letter + combining mark: \u0301 acute,
      // \u030A ring, \u0308 diaeresis - written as escapes so the
      // fixture is visibly non-canonical), plus a BEL control byte
      // and ragged whitespace. NOTE: escapes are built with '\\u'+code
      // concatenation below because scalac expands \uXXXX even in
      // comments and would silently precompose a source literal.
      val cAcute = "\u0301"; val cRing = "\u030A"
      val cDia = "\u0308"; val bel = "\u0007"
      val deco = when($"doc_id" % 4 === 1, lit(" e" + cAcute + "cole"))
        .when($"doc_id" % 4 === 2,
          lit(" A" + cRing + "ngstro" + cDia + "m" + bel + "test"))
        .when($"doc_id" % 4 === 3,
          lit("\tmix   e" + cAcute + bel + "  end "))
        .otherwise(lit(""))
      Tables.documents(s, d).filter($"doc_id" < 200)
        .select($"doc_id",
          concat(substring($"text", 1, 40), deco).as("__raw"))
        .select($"doc_id", length($"__raw").as("n_raw"),
          trim(regexp_replace(regexp_replace(
            expr("nfc_normalize(__raw)"),
            "[\\x00-\\x08\\x0B-\\x1F\\x7F]", ""),
            "[ \\t\\n\\r]+", " ")).as("__c"))
        .select($"doc_id", $"n_raw", length($"__c").as("n_clean"),
          md5($"__c").as("md5_clean"))
        .orderBy($"doc_id")
    },
    // q205: DuckDB rebuilds the identical decomposed raw string via
    // chr() (769 acute / 778 ring / 776 diaeresis / 7 BEL / 9 TAB)
    // and normalizes with ITS OWN utf8proc NFC — md5 equality means
    // two independent Unicode implementations agree byte-for-byte.
    // Character classes are spelled out, never \s (Java's includes
    // \x0B, RE2's does not).
    Some(
      """WITH r AS (
        |  SELECT doc_id, substr(text, 1, 40) ||
        |    CASE WHEN doc_id % 4 = 1 THEN ' e' || chr(769) || 'cole'
        |         WHEN doc_id % 4 = 2 THEN ' A' || chr(778) || 'ngstro'
        |           || chr(776) || 'm' || chr(7) || 'test'
        |         WHEN doc_id % 4 = 3 THEN chr(9) || 'mix   e'
        |           || chr(769) || chr(7) || '  end '
        |         ELSE '' END AS raw
        |  FROM documents WHERE doc_id < 200),
        |c AS (
        |  SELECT doc_id, CAST(length(raw) AS INT) AS n_raw,
        |    trim(regexp_replace(regexp_replace(nfc_normalize(raw),
        |      '[\x00-\x08\x0B-\x1F\x7F]', '', 'g'),
        |      '[ \t\n\r]+', ' ', 'g')) AS cl
        |  FROM r)
        |SELECT doc_id, n_raw, CAST(length(cl) AS INT) AS n_clean,
        |  md5(cl) AS md5_clean
        |FROM c ORDER BY doc_id""".stripMargin)),

    // FUZZY RECORD LINKAGE — the blocked-join + Jaro-Winkler scorer
    // every entity-resolution pipeline runs (name/title matching,
    // near-identical crawl URLs). Candidates come from BLOCKING, not
    // all-pairs: equi-join on (lang, 4-char prefix, length bucket)
    // bounds each block however large the corpus grows — the same
    // shape as LSH banding, but with human-legible keys. Scoring is
    // the native `jaro_winkler_sim` expression (UTF-8 BYTE semantics,
    // boost threshold 0.7, 4-byte prefix cap), and the oracle re-runs
    // the identical blocking with DuckDB's OWN independent
    // jaro_winkler_similarity — a genuine cross-implementation check:
    // any window/transposition/boost bug lands as a hash mismatch.
    QueryDef("q211_fuzzy_linkage", (s, d) => {
      val k = Tables.documents(s, d)
        .select($"doc_id", $"lang", trim($"text").as("__t"))
        .filter(length($"__t") >= 32)
        .select($"doc_id", $"lang", substring($"__t", 1, 32).as("__k"),
          substring($"__t", 1, 4).as("__blk"),
          floor(length($"__t") / 64).cast("long").as("__lb"))
      val a = k.toDF("a_id", "lang", "ka", "blk", "lb")
      val b = k.toDF("b_id", "lang2", "kb", "blk2", "lb2")
      a.join(b, $"lang" === $"lang2" && $"blk" === $"blk2" &&
          $"lb" === $"lb2" && $"a_id" < $"b_id")
        .filter(expr("jaro_winkler_sim(ka, kb)") >= 0.8)
        .select($"a_id", $"b_id", $"lang",
          Fns.roundU(expr("jaro_sim(ka, kb)"), 6).as("jaro"),
          Fns.roundU(expr("jaro_winkler_sim(ka, kb)"), 6).as("jw"))
        .orderBy($"a_id", $"b_id")
    }, Some(
      """WITH k AS (
        |  SELECT doc_id, lang, substr(trim(text), 1, 32) AS key,
        |    substr(trim(text), 1, 4) AS blk,
        |    length(trim(text)) // 64 AS lb
        |  FROM documents WHERE length(trim(text)) >= 32)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.lang AS lang,
        |  floor(jaro_similarity(a.key, b.key) * 1000000 + 0.5)
        |    / 1000000.0 AS jaro,
        |  floor(jaro_winkler_similarity(a.key, b.key) * 1000000 + 0.5)
        |    / 1000000.0 AS jw
        |FROM k a JOIN k b
        |  ON a.lang = b.lang AND a.blk = b.blk AND a.lb = b.lb
        |  AND a.doc_id < b.doc_id
        |WHERE jaro_winkler_similarity(a.key, b.key) >= 0.8
        |ORDER BY a_id, b_id""".stripMargin)),

    // HEAVY HITTERS via SPACE-SAVING + EXACT RECOUNT — the two-pass
    // shape that finds >1%-frequency tokens at 100 TB without ever
    // shuffling the key domain: the sketch aggregate carries at most
    // 512 counters per partial (O(m) shuffle regardless of vocabulary
    // size) and is GUARANTEED to retain every item with true count >
    // N/512; the ≤512 candidates broadcast back and are re-counted
    // exactly, with the 1% gate in cross-multiplied integers. False
    // positives die in the recount; the guarantee forbids false
    // negatives — so the output equals the plain GROUP BY/HAVING the
    // oracle runs, while the distributed plan never materializes it.
    QueryDef("q214_heavy_hitters", (s, d) => {
      val words = Tables.documents(s, d)
        .filter(length(trim($"text")) > 0)
        .select(explode(split(trim($"text"), "\\s+")).as("w"))
      val cand = words
        .agg(graft.functions.SpaceSavingAgg(512)($"w").as("__cand"))
        .select(explode($"__cand").as("w"))
      val total = words.agg(count(lit(1)).as("__n"))
      words.join(broadcast(cand), Seq("w"), "left_semi")
        .groupBy($"w").agg(count(lit(1)).as("cnt"))
        .crossJoin(broadcast(total))
        .filter($"cnt" * 100 > $"__n")
        .select($"w", $"cnt",
          Fns.roundU($"cnt".cast("double") / $"__n", 6).as("frac"))
        .orderBy($"cnt".desc, $"w")
    }, Some(
      """WITH w AS (
        |  SELECT unnest(string_split_regex(trim(text), '\s+')) AS w
        |  FROM documents WHERE length(trim(text)) > 0),
        |n AS (SELECT count(*) AS n FROM w),
        |c AS (SELECT w, count(*) AS cnt FROM w GROUP BY w)
        |SELECT w, CAST(cnt AS BIGINT) AS cnt,
        |  floor(CAST(cnt AS DOUBLE) / n * 1000000 + 0.5) / 1000000.0
        |    AS frac
        |FROM c, n WHERE cnt * 100 > n
        |ORDER BY cnt DESC, w""".stripMargin)),

    // COHEN'S KAPPA — chance-corrected agreement between the corpus's
    // DECLARED language and the heuristic language-ID (both collapsed
    // to en/other, the detector's range): the standard QA number for
    // any labeling pipeline (is the detector better than chance?).
    // One 2×2 contingency aggregate; po/pe/κ are a single double
    // formula over exact integer cells.
    QueryDef("q217_cohens_kappa", (s, d) => {
      val t = Tables.documents(s, d).select(
        when($"lang" === "en", "en").otherwise("other").as("a"),
        TextAnalysis.langIdHeuristic($"text").as("b"))
      val agg = t.groupBy($"a", $"b").agg(count(lit(1)).as("__c"))
        .agg(sum($"__c").as("n"),
          sum(when($"a" === $"b", $"__c").otherwise(0L)).as("n_agree"),
          sum(when($"a" === "en", $"__c").otherwise(0L)).as("__ae"),
          sum(when($"b" === "en", $"__c").otherwise(0L)).as("__be"))
      val po = $"n_agree".cast("double") / $"n"
      val pe = ($"__ae" * $"__be" +
        ($"n" - $"__ae") * ($"n" - $"__be")).cast("double") /
        ($"n" * $"n")
      agg.select($"n", $"n_agree",
        Fns.roundU(po, 6).as("po"),
        Fns.roundU(pe, 6).as("pe"),
        Fns.roundU((po - pe) / (lit(1.0) - pe), 6).as("kappa"))
    }, Some(
      """WITH t AS (
        |  SELECT CASE WHEN lang = 'en' THEN 'en' ELSE 'other' END AS a,
        |    CASE WHEN CAST(len(list_filter(
        |        string_split_regex(trim(text), '\s+'),
        |        x -> x IN ('the','a','an','and','of','to','in','is',
        |        'it','that'))) AS DOUBLE)
        |        / len(string_split_regex(trim(text), '\s+')) >= 0.03
        |      THEN 'en' ELSE 'other' END AS b
        |  FROM documents),
        |ct AS (SELECT a, b, count(*) AS c FROM t GROUP BY 1, 2),
        |agg AS (
        |  SELECT CAST(sum(c) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN a = b THEN c ELSE 0 END) AS BIGINT)
        |      AS n_agree,
        |    CAST(sum(CASE WHEN a = 'en' THEN c ELSE 0 END) AS BIGINT)
        |      AS ae,
        |    CAST(sum(CASE WHEN b = 'en' THEN c ELSE 0 END) AS BIGINT)
        |      AS be
        |  FROM ct)
        |SELECT n, n_agree,
        |  floor(CAST(n_agree AS DOUBLE) / n * 1000000 + 0.5)
        |    / 1000000.0 AS po,
        |  floor(CAST(ae * be + (n - ae) * (n - be) AS DOUBLE)
        |    / (n * n) * 1000000 + 0.5) / 1000000.0 AS pe,
        |  floor((CAST(n_agree AS DOUBLE) / n
        |      - CAST(ae * be + (n - ae) * (n - be) AS DOUBLE) / (n * n))
        |    / (1.0 - CAST(ae * be + (n - ae) * (n - be) AS DOUBLE)
        |      / (n * n)) * 1000000 + 0.5) / 1000000.0 AS kappa
        |FROM agg""".stripMargin)),

    // FLESCH READING EASE — the readability filter real corpus
    // pipelines run: 206.835 − 1.015·(words/sentences) −
    // 84.6·(syllables/words), with syllables as vowel-GROUP counts
    // and sentences as [.!?]+ group counts (floored at 1). All three
    // counts are exact integers from regex group-collapsing (the
    // marker trick: collapse to a sentinel character outside the
    // kept alphabet, then count sentinels by length difference), so
    // the score is one deterministic double formula. DuckDB's
    // regexp_replace needs the explicit 'g' flag to match Spark's
    // replace-all — a known cross-engine trap, handled in the oracle.
    QueryDef("q223_flesch", (s, d) => {
      val clean = regexp_replace(lower($"text"), "[^a-z ]", " ")
      val sylMark = regexp_replace(clean, "[aeiouy]+", "#")
      // collapse every [.!?]+ group to a single '.', so counting '.'
      // counts GROUPS (any original ./!/? was itself part of a group)
      val sentMark = regexp_replace($"text", "[.!?]+", ".")
      val words = size(split(trim(clean), " +"))
      val docs = Tables.documents(s, d).filter($"doc_id" < 300)
        .filter(length(trim($"text")) > 0)
        .select($"doc_id",
          words.cast("long").as("n_words"),
          greatest(
            (length(sentMark) -
              length(regexp_replace(sentMark, "\\.", ""))).cast("long"),
            lit(1L)).as("n_sentences"),
          (length(sylMark) - length(regexp_replace(sylMark, "#", "")))
            .cast("long").as("n_syllables"))
      docs.select($"doc_id", $"n_words", $"n_sentences", $"n_syllables",
          Fns.roundU(lit(206.835)
            - lit(1.015) * ($"n_words".cast("double") / $"n_sentences")
            - lit(84.6) * ($"n_syllables".cast("double") / $"n_words"),
            3).as("flesch"))
        .orderBy($"doc_id")
    }, Some(
      """WITH d AS (
        |  SELECT doc_id, text,
        |    regexp_replace(lower(text), '[^a-z ]', ' ', 'g') AS clean
        |  FROM documents
        |  WHERE doc_id < 300 AND length(trim(text)) > 0),
        |m AS (
        |  SELECT doc_id,
        |    CAST(len(string_split_regex(trim(clean), ' +'))
        |      AS BIGINT) AS n_words,
        |    greatest(CAST(
        |      length(regexp_replace(text, '[.!?]+', '.', 'g'))
        |      - length(regexp_replace(regexp_replace(text, '[.!?]+',
        |        '.', 'g'), '\.', '', 'g')) AS BIGINT), 1)
        |      AS n_sentences,
        |    CAST(length(regexp_replace(clean, '[aeiouy]+', '#', 'g'))
        |      - length(regexp_replace(regexp_replace(clean,
        |        '[aeiouy]+', '#', 'g'), '#', '', 'g')) AS BIGINT)
        |      AS n_syllables
        |  FROM d)
        |SELECT doc_id, n_words, n_sentences, n_syllables,
        |  floor((206.835
        |    - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
        |    - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words))
        |    * 1000 + 0.5) / 1000.0 AS flesch
        |FROM m ORDER BY doc_id""".stripMargin)),

    // ZIPF FIT — the corpus-law fingerprint: log-log OLS of word
    // frequency vs frequency rank (natural text slopes ≈ −1; a
    // templated/spammy corpus bends the curve). Ranks come from the
    // distributed prefix scan over the COMPACTED (word, count) table
    // ordered by (−count, word) — deterministic ties, never a
    // one-task row_number over the vocabulary — and the fit reuses
    // q215's closed-form moments (here over ln pairs; exact integer
    // inputs, ln parity per the q168 precedent).
    QueryDef("q225_zipf_fit", (s, d) => {
      val cnt = Tables.documents(s, d)
        .filter(length(trim($"text")) > 0)
        .select(explode(split(trim($"text"), "\\s+")).as("w"))
        .groupBy($"w").agg(count(lit(1)).as("__c"))
        .filter($"__c" >= 5)
        .withColumn("__g", lit(1))
        .withColumn("__neg", -$"__c")
        .withColumn("__one", lit(1L))
      val pts = Packing.prefixSum(cnt, Seq("__g"), Seq("__neg", "w"),
          "__one", "__rk")
        .select(log($"__rk".cast("double")).as("__x"),
          log($"__c".cast("double")).as("__y"))
      val m = pts.agg(count(lit(1)).as("n_words"),
        sum($"__x").as("__sx"), sum($"__y").as("__sy"),
        sum($"__x" * $"__y").as("__sxy"),
        sum($"__x" * $"__x").as("__sx2"),
        sum($"__y" * $"__y").as("__sy2"))
      val n = $"n_words".cast("double")
      val sxx = n * $"__sx2" - $"__sx" * $"__sx"
      val sxy = n * $"__sxy" - $"__sx" * $"__sy"
      val syy = n * $"__sy2" - $"__sy" * $"__sy"
      m.select($"n_words",
        Fns.roundU(sxy / sxx, 4).as("zipf_slope"),
        Fns.roundU(($"__sy" - sxy / sxx * $"__sx") / n, 4)
          .as("zipf_intercept"),
        Fns.roundU(sxy * sxy / (sxx * syy), 4).as("r2"))
    }, Some(
      """WITH w AS (
        |  SELECT unnest(string_split_regex(trim(text), '\s+')) AS w
        |  FROM documents WHERE length(trim(text)) > 0),
        |c AS (SELECT w, count(*) AS c FROM w GROUP BY w
        |  HAVING count(*) >= 5),
        |r AS (
        |  SELECT ln(CAST(row_number() OVER (ORDER BY c DESC, w)
        |      AS DOUBLE)) AS x,
        |    ln(CAST(c AS DOUBLE)) AS y
        |  FROM c),
        |m AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_words,
        |    CAST(count(*) AS DOUBLE) AS n,
        |    sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
        |    sum(x * x) AS sx2, sum(y * y) AS sy2
        |  FROM r)
        |SELECT n_words,
        |  floor((n * sxy - sx * sy) / (n * sx2 - sx * sx)
        |    * 10000 + 0.5) / 10000.0 AS zipf_slope,
        |  floor((sy - (n * sxy - sx * sy) / (n * sx2 - sx * sx) * sx)
        |    / n * 10000 + 0.5) / 10000.0 AS zipf_intercept,
        |  floor((n * sxy - sx * sy) * (n * sxy - sx * sy)
        |    / ((n * sx2 - sx * sx) * (n * sy2 - sy * sy))
        |    * 10000 + 0.5) / 10000.0 AS r2
        |FROM m""".stripMargin)),

    // HEAPS FIT — the other corpus law: vocabulary growth V ≈ K·T^β
    // (β ≈ 0.4–0.6 for natural text; saturated synthetic vocabularies
    // flatten). Per-doc token counts and per-doc NEW-word counts
    // (first occurrence = min doc_id per word) are two bounded
    // aggregates; both cumulatives ride the distributed prefix scan
    // over doc order, and the log-log OLS is the q225 machinery.
    QueryDef("q226_heaps_fit", (s, d) => {
      val toks = Tables.documents(s, d)
        .filter(length(trim($"text")) > 0)
        .select($"doc_id", explode(split(trim($"text"), "\\s+")).as("w"))
      // "__tok"/"__nw", not "__t": Packing.prefixSum uses "__t" for
      // its internal partition totals and a caller column of the same
      // name is AMBIGUOUS_REFERENCE
      val perDoc = toks.groupBy($"doc_id").agg(count(lit(1)).as("__tok"))
      val newW = toks.groupBy($"w").agg(min($"doc_id").as("doc_id"))
        .groupBy($"doc_id").agg(count(lit(1)).as("__v0"))
      val base = perDoc.join(newW, Seq("doc_id"), "left")
        .select($"doc_id", $"__tok", coalesce($"__v0", lit(0L)).as("__nw"))
        .withColumn("__g", lit(1))
      val cum = Packing.prefixSum(Packing.prefixSum(base, Seq("__g"),
        Seq("doc_id"), "__tok", "__T"), Seq("__g"), Seq("doc_id"),
        "__nw", "__V")
      val pts = cum.select(log($"__T".cast("double")).as("__x"),
        log($"__V".cast("double")).as("__y"))
      val m = pts.agg(count(lit(1)).as("n_docs"),
        sum($"__x").as("__sx"), sum($"__y").as("__sy"),
        sum($"__x" * $"__y").as("__sxy"),
        sum($"__x" * $"__x").as("__sx2"),
        sum($"__y" * $"__y").as("__sy2"))
      val n = $"n_docs".cast("double")
      val sxx = n * $"__sx2" - $"__sx" * $"__sx"
      val sxy = n * $"__sxy" - $"__sx" * $"__sy"
      val syy = n * $"__sy2" - $"__sy" * $"__sy"
      m.select($"n_docs",
        Fns.roundU(sxy / sxx, 4).as("heaps_beta"),
        Fns.roundU(exp(($"__sy" - sxy / sxx * $"__sx") / n), 4)
          .as("heaps_k"),
        Fns.roundU(sxy * sxy / (sxx * syy), 4).as("r2"))
    }, Some(
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+'))
        |    AS w
        |  FROM documents WHERE length(trim(text)) > 0),
        |per_doc AS (
        |  SELECT doc_id, count(*) AS t FROM toks GROUP BY 1),
        |neww AS (
        |  SELECT doc_id, count(*) AS v FROM (
        |    SELECT w, min(doc_id) AS doc_id FROM toks GROUP BY w)
        |  GROUP BY 1),
        |base AS (
        |  SELECT p.doc_id, p.t, coalesce(n.v, 0) AS v
        |  FROM per_doc p LEFT JOIN neww n ON p.doc_id = n.doc_id),
        |cum AS (
        |  SELECT ln(CAST(sum(t) OVER (ORDER BY doc_id) AS DOUBLE))
        |      AS x,
        |    ln(CAST(sum(v) OVER (ORDER BY doc_id) AS DOUBLE)) AS y
        |  FROM base),
        |m AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(count(*) AS DOUBLE) AS n,
        |    sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
        |    sum(x * x) AS sx2, sum(y * y) AS sy2
        |  FROM cum)
        |SELECT n_docs,
        |  floor((n * sxy - sx * sy) / (n * sx2 - sx * sx)
        |    * 10000 + 0.5) / 10000.0 AS heaps_beta,
        |  floor(exp((sy - (n * sxy - sx * sy) / (n * sx2 - sx * sx)
        |    * sx) / n) * 10000 + 0.5) / 10000.0 AS heaps_k,
        |  floor((n * sxy - sx * sy) * (n * sxy - sx * sy)
        |    / ((n * sx2 - sx * sx) * (n * sy2 - sy * sy))
        |    * 10000 + 0.5) / 10000.0 AS r2
        |FROM m""".stripMargin)),

    // BM25 RANKED RETRIEVAL — the canonical tf·idf scoring function
    // (Robertson/Spärck Jones, public) over the inverted-index shape
    // q118 builds: fixed query terms, k1=1.2, b=0.75. Scale shape: tf
    // is one (doc, term) hash aggregate; df and avgdl are term-/
    // corpus-level broadcasts; only postings of the QUERY terms join
    // back (never the full index); top-15 is TakeOrdered. Numeric
    // determinism: each per-term contribution is computed with an
    // identical expression tree on both engines, integer-ized to
    // nano-units BEFORE the per-doc sum, so the sum is exact and
    // summation-order-independent (the ln() inside idf is the one
    // library call the engines could disagree on — same accepted
    // 1-ulp-at-a-rounding-boundary residual as the q66/q139 ln
    // chains).
    QueryDef("q251_bm25_topk", (s, d) => {
      val qterms = Seq("table", "query", "fast", "row")
      val tok = Tables.documents(s, d)
        .filter(length(trim($"text")) > 0)
        .select($"doc_id",
          explode(split(trim($"text"), "\\s+")).as("term"))
      val tf = tok.filter($"term".isin(qterms: _*))
        .groupBy($"doc_id", $"term").agg(count(lit(1)).as("__tf"))
      val dl = tok.groupBy($"doc_id").agg(count(lit(1)).as("__dl"))
      val stats = dl.agg(count(lit(1)).as("__nd"), sum($"__dl").as("__tl"))
      val df = tok.filter($"term".isin(qterms: _*))
        .select($"doc_id", $"term").distinct()
        .groupBy($"term").agg(count(lit(1)).as("__df"))
      val contrib = tf
        .join(dl, Seq("doc_id"))
        .join(broadcast(df), Seq("term"))
        .crossJoin(broadcast(stats))
        .withColumn("__avgdl",
          $"__tl".cast("double") / $"__nd".cast("double"))
        .withColumn("__idf",
          log(lit(1.0) + ($"__nd".cast("double") - $"__df".cast("double")
            + 0.5) / ($"__df".cast("double") + 0.5)))
        .withColumn("__c", floor($"__idf" *
          ($"__tf".cast("double") * 2.2 /
            ($"__tf".cast("double") + lit(1.2) *
              (lit(0.25) + lit(0.75) * $"__dl".cast("double") /
                $"__avgdl"))) * 1e9 + 0.5).cast("long"))
      contrib.groupBy($"doc_id")
        .agg(sum($"__c").as("__s"), count(lit(1)).as("n_terms_hit"))
        .orderBy($"__s".desc, $"doc_id").limit(15)
        .select($"doc_id", $"n_terms_hit",
          Fns.roundU($"__s".cast("double") / 1e9, 4).as("bm25"))
    }, Some(
      """WITH tok AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text),
        |    '\s+')) AS term
        |  FROM documents WHERE length(trim(text)) > 0),
        |tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM tok
        |  WHERE term IN ('table', 'query', 'fast', 'row')
        |  GROUP BY 1, 2),
        |dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
        |st AS (SELECT count(*) AS nd,
        |  CAST(sum(dl) AS BIGINT) AS tl FROM dl),
        |df AS (
        |  SELECT term, count(DISTINCT doc_id) AS df FROM tok
        |  WHERE term IN ('table', 'query', 'fast', 'row') GROUP BY 1),
        |c AS (
        |  SELECT tf.doc_id,
        |    CAST(floor(
        |      ln(1.0 + (CAST(nd AS DOUBLE) - CAST(df.df AS DOUBLE)
        |        + 0.5) / (CAST(df.df AS DOUBLE) + 0.5)) *
        |      (CAST(tf.tf AS DOUBLE) * 2.2 /
        |        (CAST(tf.tf AS DOUBLE) + 1.2 *
        |          (0.25 + 0.75 * CAST(dl.dl AS DOUBLE) /
        |            (CAST(tl AS DOUBLE) / CAST(nd AS DOUBLE)))))
        |      * 1e9 + 0.5) AS BIGINT) AS ci
        |  FROM tf JOIN dl ON tf.doc_id = dl.doc_id
        |  JOIN df ON tf.term = df.term CROSS JOIN st),
        |s AS (
        |  SELECT doc_id, CAST(sum(ci) AS BIGINT) AS s,
        |    count(*) AS n_terms_hit
        |  FROM c GROUP BY 1)
        |SELECT doc_id, n_terms_hit,
        |  floor(CAST(s AS DOUBLE) / 1e9 * 10000 + 0.5) / 10000.0
        |    AS bm25
        |FROM s ORDER BY s DESC, doc_id LIMIT 15""".stripMargin)),

    // FIM TRANSFORM — fill-in-the-middle training-sample construction
    // (the code/infilling pretraining staple): each document splits at
    // two HASH-DETERMINISTIC token positions into prefix/middle/suffix
    // and re-emits in PSM order (suffix ⟨SEP⟩ prefix ⟨SEP⟩ middle).
    // Split points ride the engine-portable Knuth hash, all slicing is
    // token-array arithmetic (one projection — no shuffle at all), and
    // the oracle certifies the REASSEMBLED BYTES via md5, not just the
    // lengths — an off-by-one slice or a separator drift breaks the
    // hash. Docs need ≥ 8 tokens (p2 ≤ 2n/3+2 < n holds from there);
    // shorter docs pass through a training pipeline unsplit and are
    // out of scope here.
    QueryDef("q270_fim_transform", (s, d) => {
      val t = split(trim($"text"), "\\s+")
      val base = Tables.documents(s, d)
        .filter(length(trim($"text")) > 0)
        .select($"doc_id", t.as("t"), size(t).as("n"))
        .filter($"n" >= 8)
        .withColumn("__d3", expr("CAST(n div 3 AS BIGINT)"))
        .withColumn("p1", (lit(1L) +
          Sampling.consistentHash($"doc_id") % $"__d3").cast("int"))
        .withColumn("p2", ($"p1" + lit(1L) +
          Sampling.consistentHash($"doc_id" + lit(7777)) % $"__d3")
          .cast("int"))
      base.select($"doc_id", $"n".cast("long").as("n_tokens"),
          $"p1".cast("long").as("p1"), $"p2".cast("long").as("p2"),
          md5(concat_ws(" <SEP> ",
            array_join(expr("slice(t, p2 + 1, n - p2)"), " "),
            array_join(expr("slice(t, 1, p1)"), " "),
            array_join(expr("slice(t, p1 + 1, p2 - p1)"), " ")))
            .as("fim_md5"))
        .orderBy($"doc_id")
    },
    // q270: the same hash splits and PSM reassembly; md5 certifies
    // the exact rebuilt bytes on both engines
    Some(
      """WITH tok AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |  FROM documents WHERE length(trim(text)) > 0),
        |b AS (
        |  SELECT doc_id, t, len(t) AS n, len(t) // 3 AS d3
        |  FROM tok WHERE len(t) >= 8),
        |p AS (
        |  SELECT doc_id, t, n,
        |    1 + ((doc_id % 2147483647) * 2654435761 % 4294967296)
        |      % d3 AS p1,
        |    2 + ((doc_id % 2147483647) * 2654435761 % 4294967296)
        |      % d3
        |      + (((doc_id + 7777) % 2147483647) * 2654435761
        |        % 4294967296) % d3 AS p2
        |  FROM b)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
        |  CAST(p1 AS BIGINT) AS p1, CAST(p2 AS BIGINT) AS p2,
        |  md5(array_to_string(t[p2 + 1 : n], ' ') || ' <SEP> ' ||
        |    array_to_string(t[1 : p1], ' ') || ' <SEP> ' ||
        |    array_to_string(t[p1 + 1 : p2], ' ')) AS fim_md5
        |FROM p ORDER BY doc_id""".stripMargin)),

    // TEMPERATURE-WEIGHTED CORPUS MIX — the pretraining sampling
    // recipe (sample source s ∝ n_s^τ, τ = 1/2, so small sources are
    // UP-weighted relative to proportional): per-source weights ride
    // sqrt(n) — the one libm-free irrational (IEEE sqrt is correctly
    // rounded, so both engines get the identical double) — floored to
    // integer micro-weights, and the 1000-doc budget splits by
    // LARGEST REMAINDER (q197's apportionment) on PURE INTEGER quota
    // arithmetic: no double ever reaches a comparison. Admission is
    // the consistent-hash rank so the draw is deterministic and
    // stable under corpus growth. Per source: size, integer weight,
    // apportioned target, and the actually-admitted count.
    QueryDef("q273_temperature_mix", (s, d) => {
      val docs = Tables.documents(s, d)
      val B = 1000L
      val src = docs.groupBy($"source")
        .agg(count(lit(1)).as("n_docs"))
        .withColumn("w",
          floor(sqrt($"n_docs".cast("double")) * 1000000).cast("long"))
      val tot = src.agg(sum($"w").as("__W"),
        count(lit(1)).as("__k"))
      val quota = src.crossJoin(broadcast(tot))
        .withColumn("q", expr(s"($B * w) div __W"))
        .withColumn("r", expr(s"($B * w) % __W"))
      val wr = Window.orderBy($"r".desc, $"source") // k sources: tiny
      val target = quota
        .withColumn("__rk", row_number().over(wr))
        .crossJoin(broadcast(
          quota.agg((lit(B) - sum($"q")).as("__extra"))))
        .withColumn("target",
          $"q" + when($"__rk" <= $"__extra", 1L).otherwise(0L))
        .select($"source", $"n_docs", $"w", $"target")
      val adm = docs
        .join(broadcast(target), Seq("source"))
        .filter(Sampling.consistentHash($"doc_id") % $"n_docs"
          < $"target")
        .groupBy($"source").agg(count(lit(1)).as("n_admitted"))
      target.join(adm, Seq("source"), "left")
        .na.fill(0L, Seq("n_admitted"))
        .orderBy($"source")
    },
    // q273: same integer quota/remainder apportionment after the
    // IEEE-exact sqrt micro-weight
    Some(
      """WITH src AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(floor(sqrt(CAST(count(*) AS DOUBLE)) * 1000000)
        |      AS BIGINT) AS w
        |  FROM documents GROUP BY source),
        |tot AS (SELECT CAST(sum(w) AS BIGINT) AS tw FROM src),
        |q AS (
        |  SELECT source, n_docs, w,
        |    (1000 * w) // tw AS q, (1000 * w) % tw AS r
        |  FROM src CROSS JOIN tot),
        |ex AS (SELECT CAST(1000 - sum(q) AS BIGINT) AS extra FROM q),
        |t AS (
        |  SELECT source, n_docs, w,
        |    CAST(q + CASE WHEN row_number()
        |      OVER (ORDER BY r DESC, source) <= extra
        |      THEN 1 ELSE 0 END AS BIGINT) AS target
        |  FROM q CROSS JOIN ex),
        |adm AS (
        |  SELECT d.source, CAST(count(*) AS BIGINT) AS n_admitted
        |  FROM documents d JOIN t ON d.source = t.source
        |  WHERE ((d.doc_id % 2147483647) * 2654435761 % 4294967296)
        |    % t.n_docs < t.target
        |  GROUP BY 1)
        |SELECT t.source, t.n_docs, t.w, t.target,
        |  CAST(coalesce(a.n_admitted, 0) AS BIGINT) AS n_admitted
        |FROM t LEFT JOIN adm a ON t.source = a.source
        |ORDER BY t.source""".stripMargin)),

    // CONSISTENT-HASH RING REBALANCE — the shard-topology audit: 128
    // virtual nodes (8 shards × 16 replicas) own hash-ring arcs; keys
    // route to the vnode at minimal CLOCKWISE distance (pmod 2³²),
    // ties broken (shard, replica) inside the min(struct). Adding
    // shard 8 (16 more vnodes) re-routes ONLY keys whose arc the new
    // vnodes split — the minimal-movement property measured exactly:
    // both assignments come from ONE pass over keys × broadcast
    // vnodes (the 9-shard argmin, and the 8-shard argmin as a
    // conditional min over the same rows). Per shard: keys before,
    // after, and moved-in count; all integer.
    QueryDef("q274_ring_rebalance", (s, d) => {
      val vn = { import s.implicits._
        (for { sh <- 0 until 9; r <- 0 until 16 }
          yield (sh.toLong, r.toLong)).toDF("shard", "r") }
        .withColumn("vpos",
          Sampling.consistentHash($"shard" * 1000 + $"r" * 17 + 5))
      val keys = Tables.documents(s, d)
        .select($"doc_id",
          Sampling.consistentHash($"doc_id").as("kpos"))
      val dist = pmod($"vpos" - $"kpos", lit(4294967296L))
      val owners = keys.crossJoin(broadcast(vn))
        .groupBy($"doc_id")
        .agg(
          min(struct(dist.as("d"), $"shard", $"r"))
            .getField("shard").as("own9"),
          min(when($"shard" < 8,
            struct(dist.as("d"), $"shard", $"r")))
            .getField("shard").as("own8"))
      val before = owners.groupBy($"own8".as("shard"))
        .agg(count(lit(1)).as("n_before"))
      val after = owners.groupBy($"own9".as("shard"))
        .agg(count(lit(1)).as("n_after"),
          sum(when($"own8" =!= $"own9", 1L).otherwise(0L))
            .as("n_moved_in"))
      after.join(before, Seq("shard"), "left")
        .na.fill(0L, Seq("n_before"))
        .select($"shard", $"n_before", $"n_after", $"n_moved_in")
        .orderBy($"shard")
    },
    // q274: the two argmins replayed with row_number over the same
    // (distance, shard, replica) order; pmod spelled out
    Some(
      """WITH vn AS (
        |  SELECT sh.s AS shard, rr.i AS r,
        |    ((sh.s * 1000 + rr.i * 17 + 5) % 2147483647)
        |      * 2654435761 % 4294967296 AS vpos
        |  FROM range(0, 9) sh(s), range(0, 16) rr(i)),
        |k AS (
        |  SELECT doc_id,
        |    (doc_id % 2147483647) * 2654435761 % 4294967296 AS kpos
        |  FROM documents),
        |j AS (
        |  SELECT k.doc_id, vn.shard, vn.r,
        |    ((vn.vpos - k.kpos) % 4294967296 + 4294967296)
        |      % 4294967296 AS dd
        |  FROM k CROSS JOIN vn),
        |o9 AS (SELECT doc_id, shard AS own9 FROM (
        |  SELECT doc_id, shard, row_number() OVER (
        |    PARTITION BY doc_id ORDER BY dd, shard, r) AS rn
        |  FROM j) WHERE rn = 1),
        |o8 AS (SELECT doc_id, shard AS own8 FROM (
        |  SELECT doc_id, shard, row_number() OVER (
        |    PARTITION BY doc_id ORDER BY dd, shard, r) AS rn
        |  FROM (SELECT * FROM j WHERE shard < 8)) WHERE rn = 1),
        |own AS (SELECT o9.doc_id, own9, own8
        |  FROM o9 JOIN o8 ON o9.doc_id = o8.doc_id),
        |bef AS (SELECT own8 AS shard,
        |    CAST(count(*) AS BIGINT) AS n_before
        |  FROM own GROUP BY 1),
        |aft AS (SELECT own9 AS shard,
        |    CAST(count(*) AS BIGINT) AS n_after,
        |    CAST(sum(CASE WHEN own8 <> own9 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_moved_in
        |  FROM own GROUP BY 1)
        |SELECT a.shard, CAST(coalesce(b.n_before, 0) AS BIGINT)
        |    AS n_before,
        |  a.n_after, a.n_moved_in
        |FROM aft a LEFT JOIN bef b ON a.shard = b.shard
        |ORDER BY a.shard""".stripMargin)),

    // PHRASE SEARCH — positional posting-list intersection, the
    // inverted-index operation q127's presence postings can't answer:
    // find every document containing the corpus's top bigram (q79's
    // count, deterministic (n, a, b) tie-break) by joining adjacent
    // positions, with per-doc occurrence counts and the first match
    // position. The 1-row phrase is broadcast; positions ride the same
    // in-scan pair projection as q79 — no self-join of the token
    // table on p+1 (that form shuffles |tokens| twice).
    QueryDef("q285_phrase_search", (s, d) => {
      val toks = Tables.documents(s, d)
        .select($"doc_id", TextAnalysis.wsTokens($"text").as("__t"))
        .filter(size($"__t") >= 2)
      val pairs = toks.select($"doc_id", explode(transform(
          sequence(lit(0), size($"__t") - 2),
          i => struct(element_at($"__t", i + 1).as("a"),
            element_at($"__t", i + 2).as("b"),
            i.cast("long").as("p")))).as("g"))
        .select($"doc_id", $"g.a", $"g.b", $"g.p")
      val top = pairs.groupBy($"a", $"b").agg(count(lit(1)).as("__n"))
        .orderBy($"__n".desc, $"a", $"b").limit(1)
        .select($"a".as("__ta"), $"b".as("__tb"))
      pairs.join(broadcast(top),
          $"a" === $"__ta" && $"b" === $"__tb")
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_occurrences"),
          min($"p").as("first_pos"))
        .orderBy($"n_occurrences".desc, $"doc_id")
        .limit(20)
    },
    // q285: q79's pair construction with the 0-based position riding
    // along (DuckDB arrays are 1-based: first_pos = i - 1)
    Some(
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |  FROM documents WHERE length(trim(text)) > 0),
        |p AS (
        |  SELECT doc_id, t[i] AS a, t[i+1] AS b,
        |    CAST(i - 1 AS BIGINT) AS p
        |  FROM t, unnest(range(1, len(t))) AS u(i)),
        |top AS (SELECT a, b FROM (
        |  SELECT a, b, count(*) AS n FROM p GROUP BY 1, 2
        |  ORDER BY n DESC, a, b LIMIT 1))
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_occurrences,
        |  CAST(min(p.p) AS BIGINT) AS first_pos
        |FROM p JOIN top USING (a, b)
        |GROUP BY doc_id
        |ORDER BY n_occurrences DESC, doc_id LIMIT 20""".stripMargin)),

    // GZIP PAYLOAD INGESTION — compressed columns inflated INSIDE
    // the scan projection via the native `gunzip` expression
    // (functions.GzipCodec: JDK GZIPInputStream, NULL on malformed —
    // the try_cast convention, a poisoned payload must not fail a
    // 100 TB job). The fixture gzips each document's text (udf,
    // fixture-side only) and corrupts every 11th payload by
    // truncation; the query decodes, counts the rejects, and
    // profiles the DECODED text — which is all the oracle checks,
    // computed straight from `documents.text` (compressed BYTES are
    // JDK-version-specific and never cross the oracle).
    QueryDef("q303_gzip_ingest", (s, d) => {
      val gz = udf((t: String) =>
        graft.functions.GzipCodec.gzip(
          t.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
      val payloads = Tables.documents(s, d)
        .filter($"text".isNotNull)
        .select($"doc_id", gz($"text").as("__gz"))
        // corrupt every 11th payload by truncation — a gzip stream
        // without its trailer ALWAYS rejects (EOF before the CRC),
        // so the reject set is exactly the corrupted set
        .withColumn("__p",
          when($"doc_id" % 11 === 0,
            expr("substring(__gz, 1, CAST(length(__gz) div 2 AS INT))"))
          .otherwise($"__gz"))
      payloads.select($"doc_id",
          expr("gunzip(__p)").cast("string").as("__t"))
        .groupBy(($"doc_id" % 16).as("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when($"__t".isNull, 1L).otherwise(0L)).as("n_rejected"),
          sum(length($"__t").cast("long")).as("sum_chars"),
          countDistinct(md5($"__t")).as("n_distinct_md5"),
          sum(length($"__t").cast("long") * ($"doc_id" + 1))
            .as("ord_ck"))
        .orderBy($"bucket")
    },
    // q303: decoded-side profile from the source text
    // q303's oracle: only the DECODED side is checkable — a healthy
    // payload round-trips to its source text, a truncated one is
    // NULL, so the profile computes straight from `documents.text`.
    Some(
      """WITH b AS (
        |  SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
        |r AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 11 = 0 THEN NULL ELSE text END AS t
        |  FROM b)
        |SELECT doc_id % 16 AS bucket,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN t IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_rejected,
        |  CAST(sum(length(t)) AS BIGINT) AS sum_chars,
        |  CAST(count(DISTINCT md5(t)) AS BIGINT) AS n_distinct_md5,
        |  CAST(sum(length(t) * (doc_id + 1)) AS BIGINT) AS ord_ck
        |FROM r GROUP BY 1 ORDER BY bucket""".stripMargin)),

    // PII SCAN — the DLP pass a corpus runs before release: detect
    // card-shaped 12-digit runs in free text (regexp_extract_all),
    // then VALIDATE each hit with the Luhn closed form — a checksum
    // gate cuts the false-positive rate of the regex alone, which is
    // the whole point of a production scanner. The fixture plants a
    // Luhn-VALID account in every 5th doc and a Luhn-INVALID decoy
    // in every 7th (doc 0, 35, 70 … carry both), so precision of the
    // validator is observable: hits split exactly into valid and
    // decoy. The per-hit Luhn runs inside a higher-order filter over
    // the extracted array — one scan, no explode shuffle.
    QueryDef("q304_pii_scan", (s, d) => {
      def luhnTerm(col: String, i: Int, double: Boolean): String = {
        val p = "1" + "0" * i
        if (double)
          s"(2 * (($col div $p) % 10) - 9 * " +
            s"(CASE WHEN ($col div $p) % 10 >= 5 THEN 1 ELSE 0 END))"
        else s"(($col div $p) % 10)"
      }
      val s11 = (0 to 10).map(i => luhnTerm("__p", i, i % 2 == 0))
        .mkString(" + ")
      val s12v = (0 to 11).map(i => luhnTerm("v", i, i % 2 == 1))
        .mkString(" + ")
      val docs = Tables.documents(s, d)
        .filter($"text".isNotNull)
        // doc_id % 9e6, the q300 12-digit bound — see q300's comment
        .withColumn("__p", expr("CAST(10000000000 + (doc_id % 9000000) " +
          "* 9973 + (doc_id % 97) AS BIGINT)"))
        .withColumn("__acct",
          expr(s"__p * 10 + (10 - (($s11) % 10)) % 10"))
        // decoy: rotate the valid account's last digit (+1 mod 10)
        .withColumn("__body", concat($"text",
          when($"doc_id" % 5 === 0,
            concat(lit(" card "), $"__acct".cast("string")))
            .otherwise(lit("")),
          when($"doc_id" % 7 === 0,
            concat(lit(" ref "),
              expr("CAST(__acct - (__acct % 10) + " +
                "((__acct % 10) + 1) % 10 AS STRING)")))
            .otherwise(lit(""))))
      docs.select($"doc_id",
          expr("regexp_extract_all(__body, '[0-9]{12}', 0)")
            .as("__hits"))
        .select($"doc_id", size($"__hits").cast("long").as("__nh"),
          expr("size(filter(transform(__hits, " +
            "h -> CAST(h AS BIGINT)), " +
            s"v -> ($s12v) % 10 = 0))").cast("long").as("__nv"))
        .groupBy(($"doc_id" % 8).as("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when($"__nh" > 0, 1L).otherwise(0L))
            .as("n_docs_with_hits"),
          sum($"__nh").as("n_hits"),
          sum($"__nv").as("n_valid_cards"),
          sum($"__nh" - $"__nv").as("n_decoys"))
        .orderBy($"bucket")
    },
    // q304: same planted accounts, same regex, same shared-generator
    // Luhn validation per hit
    // q304's oracle — the Luhn terms come from the same generator as
    // the Spark side (the q300 discipline).
    Some {
      def term(col: String, i: Int, double: Boolean): String = {
        val p = "1" + "0" * i
        if (double)
          s"(2 * (($col // $p) % 10) - 9 * " +
            s"(CASE WHEN ($col // $p) % 10 >= 5 THEN 1 ELSE 0 END))"
        else s"(($col // $p) % 10)"
      }
      val s11 = (0 to 10).map(i => term("p", i, i % 2 == 0))
        .mkString(" + ")
      val s12 = (0 to 11).map(i => term("v", i, i % 2 == 1))
        .mkString(" + ")
      s"""WITH b AS (
         |  SELECT doc_id, text,
         |    CAST(10000000000 + (doc_id % 9000000) * 9973 + (doc_id % 97)
         |      AS BIGINT) AS p
         |  FROM documents WHERE text IS NOT NULL),
         |a AS (
         |  SELECT doc_id, text,
         |    p * 10 + (10 - (($s11) % 10)) % 10 AS acct
         |  FROM b),
         |body AS (
         |  SELECT doc_id,
         |    text || CASE WHEN doc_id % 5 = 0
         |      THEN ' card ' || CAST(acct AS VARCHAR) ELSE '' END
         |    || CASE WHEN doc_id % 7 = 0
         |      THEN ' ref ' || CAST(acct - (acct % 10)
         |        + ((acct % 10) + 1) % 10 AS VARCHAR) ELSE '' END
         |      AS body
         |  FROM a),
         |hits AS (
         |  SELECT doc_id,
         |    unnest(regexp_extract_all(body, '[0-9]{12}')) AS h
         |  FROM body),
         |vh AS (SELECT doc_id, CAST(h AS BIGINT) AS v FROM hits),
         |per AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS nh,
         |    CAST(sum(CASE WHEN ($s12) % 10 = 0 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS nv
         |  FROM vh GROUP BY 1)
         |SELECT b.doc_id % 8 AS bucket,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN coalesce(nh, 0) > 0 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_docs_with_hits,
         |  CAST(sum(coalesce(nh, 0)) AS BIGINT) AS n_hits,
         |  CAST(sum(coalesce(nv, 0)) AS BIGINT) AS n_valid_cards,
         |  CAST(sum(coalesce(nh, 0)) - sum(coalesce(nv, 0)) AS BIGINT)
         |    AS n_decoys
         |FROM b LEFT JOIN per ON b.doc_id = per.doc_id
         |GROUP BY 1 ORDER BY bucket""".stripMargin
    }),

    // URL CANONICALIZATION — the crawl-dedup front door: the same page
    // arrives as HTTPS://WWW.Site7.example.com:443/p/33/?utm_source=
    // feed&id=5#top from one crawler and https://site7.example.com/
    // p/33?id=5 from another, and every downstream fingerprint
    // disagrees until the URL is canonical. The fixture synthesizes
    // the classic variant axes from doc_id (case, www, default vs
    // real ports, trailing slash, tracking params, param order,
    // fragments); canonicalization is pure string/array expressions —
    // lowercase scheme+host, strip www., strip the scheme's DEFAULT
    // port only (8080 must survive), drop utm_*/fbclid/gclid, SORT
    // surviving params, drop fragments, strip the trailing slash —
    // then two stacked aggregates (canonical URL → host) give per-host
    // page counts and the dup rate, all map-side until the first
    // hash aggregate. Ports make distinct canonical hosts by design.
    QueryDef("q308_url_canon", (s, d) => {
      val id = $"doc_id"
      val sch0 = when(id % 2 === 0, "https").otherwise("http")
      val schRaw = when(id % 11 === 0, upper(sch0)).otherwise(sch0)
      val hostCore = concat(
        when(id % 3 === 0, "SITE").otherwise("site"),
        (id % 50).cast("string"), lit(".example.com"))
      val hostRaw = concat(
        when(id % 4 === 0, "www.").otherwise(""), hostCore,
        when(id % 5 === 0,
          when(id % 2 === 0, ":443").otherwise(":80"))
          .when(id % 5 === 1, ":8080").otherwise(""))
      val pathRaw = concat(lit("/p/"), (id % 97).cast("string"),
        when(id % 6 === 0, "/").otherwise(""))
      val p1 = concat(lit("id="), (id % 13).cast("string"))
      val prms = array(
        when(id % 3 === 0, "utm_source=feed"),
        when(id % 2 === 1, concat(lit("ref=r"), (id % 4).cast("string"))),
        when(id % 7 === 0, "fbclid=xyz"))
      val rawParams = when(id % 2 === 0,
          concat(array(p1), filter(prms, x => x.isNotNull)))
        .otherwise(concat(filter(prms, x => x.isNotNull), array(p1)))
      val urlRaw = concat(schRaw, lit("://"), hostRaw, pathRaw,
        lit("?"), array_join(rawParams, "&"),
        when(id % 9 === 0, "#top").otherwise(""))
      // --- canonicalization (the operator under test) ---
      val u = regexp_replace(urlRaw, "#.*$", "")
      val scheme = lower(regexp_extract(u, "^([A-Za-z]+)://", 1))
      val hostPort = lower(regexp_extract(u, "^[A-Za-z]+://([^/?#]+)", 1))
      val hostDef = when(scheme === "http",
          regexp_replace(hostPort, ":80$", ""))
        .when(scheme === "https", regexp_replace(hostPort, ":443$", ""))
        .otherwise(hostPort)
      val host = regexp_replace(hostDef, "^www\\.", "")
      val path0 = regexp_extract(u, "^[A-Za-z]+://[^/?#]+([^?#]*)", 1)
      val path = when(regexp_replace(path0, "/$", "") === "", "/")
        .otherwise(regexp_replace(path0, "/$", ""))
      val query = regexp_extract(u, "\\?([^#]*)", 1)
      val kept = array_join(array_sort(filter(split(query, "&"),
        p => !p.rlike("^(utm_[^=]*|fbclid|gclid)="))), "&")
      val canon = concat(scheme, lit("://"), host, path,
        when(kept === "", "").otherwise(concat(lit("?"), kept)))
      Tables.documents(s, d)
        .select($"doc_id", canon.as("__curl"), host.as("__h"))
        .groupBy($"__h", $"__curl").agg(count(lit(1)).as("__n"))
        .groupBy($"__h".as("canonical_host"))
        .agg(sum($"__n").as("n_urls"),
          count(lit(1)).as("n_pages"))
        .withColumn("dup_ppm",
          expr("(n_urls - n_pages) * 1000000 div n_urls"))
        .orderBy($"canonical_host")
    },
    // q308: the oracle rebuilds the identical raw URLs (same doc_id
    // variant axes) and canonicalizes with DuckDB's own regex/list
    // functions — two independent string engines must agree on every
    // canonical byte or the host-level hash breaks. Both engines'
    // regexp_replace agree here because every pattern is anchored
    // (Spark replaces all matches, DuckDB the first — identical on
    // anchored single-occurrence patterns).
    Some(
      """WITH r AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 11 = 0
        |      THEN upper(CASE WHEN doc_id % 2 = 0 THEN 'https'
        |                 ELSE 'http' END)
        |      ELSE CASE WHEN doc_id % 2 = 0 THEN 'https'
        |           ELSE 'http' END END AS sch,
        |    (CASE WHEN doc_id % 3 = 0 THEN 'SITE' ELSE 'site' END)
        |      || CAST(doc_id % 50 AS VARCHAR) || '.example.com'
        |      AS hostcore,
        |    list_filter([
        |      CASE WHEN doc_id % 3 = 0 THEN 'utm_source=feed' END,
        |      CASE WHEN doc_id % 2 = 1
        |        THEN 'ref=r' || CAST(doc_id % 4 AS VARCHAR) END,
        |      CASE WHEN doc_id % 7 = 0 THEN 'fbclid=xyz' END],
        |      x -> x IS NOT NULL) AS opts
        |  FROM documents),
        |raw AS (
        |  SELECT doc_id, sch || '://'
        |    || (CASE WHEN doc_id % 4 = 0 THEN 'www.' ELSE '' END)
        |    || hostcore
        |    || (CASE WHEN doc_id % 5 = 0 THEN
        |          (CASE WHEN doc_id % 2 = 0 THEN ':443' ELSE ':80' END)
        |        WHEN doc_id % 5 = 1 THEN ':8080' ELSE '' END)
        |    || '/p/' || CAST(doc_id % 97 AS VARCHAR)
        |    || (CASE WHEN doc_id % 6 = 0 THEN '/' ELSE '' END)
        |    || '?' || array_to_string(
        |      CASE WHEN doc_id % 2 = 0
        |        THEN list_concat(
        |          ['id=' || CAST(doc_id % 13 AS VARCHAR)], opts)
        |        ELSE list_concat(
        |          opts, ['id=' || CAST(doc_id % 13 AS VARCHAR)]) END,
        |      '&')
        |    || (CASE WHEN doc_id % 9 = 0 THEN '#top' ELSE '' END)
        |      AS url
        |  FROM r),
        |c AS (
        |  SELECT doc_id,
        |    lower(regexp_extract(u, '^([A-Za-z]+)://', 1)) AS scheme,
        |    lower(regexp_extract(u, '^[A-Za-z]+://([^/?#]+)', 1))
        |      AS hostport,
        |    regexp_extract(u, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1)
        |      AS path0,
        |    regexp_extract(u, '\?([^#]*)', 1) AS query
        |  FROM (SELECT doc_id, regexp_replace(url, '#.*$', '') AS u
        |        FROM raw)),
        |c2 AS (
        |  SELECT doc_id, scheme,
        |    regexp_replace(
        |      CASE WHEN scheme = 'http'
        |        THEN regexp_replace(hostport, ':80$', '')
        |      WHEN scheme = 'https'
        |        THEN regexp_replace(hostport, ':443$', '')
        |      ELSE hostport END, '^www\.', '') AS host,
        |    CASE WHEN regexp_replace(path0, '/$', '') = '' THEN '/'
        |      ELSE regexp_replace(path0, '/$', '') END AS path,
        |    array_to_string(list_sort(list_filter(
        |      string_split(query, '&'),
        |      p -> NOT regexp_matches(p, '^(utm_[^=]*|fbclid|gclid)='))),
        |      '&') AS kept
        |  FROM c),
        |canon AS (
        |  SELECT host, scheme || '://' || host || path ||
        |    CASE WHEN kept = '' THEN '' ELSE '?' || kept END AS curl
        |  FROM c2),
        |g AS (SELECT host, curl, count(*) AS n FROM canon GROUP BY 1, 2)
        |SELECT host AS canonical_host, CAST(sum(n) AS BIGINT) AS n_urls,
        |  CAST(count(*) AS BIGINT) AS n_pages,
        |  CAST((sum(n) - count(*)) * 1000000 // sum(n) AS BIGINT)
        |    AS dup_ppm
        |FROM g GROUP BY 1 ORDER BY 1""".stripMargin)),

    // DSIR — Data Selection via Importance Resampling (Xie et al.
    // 2023): score every raw-pool document by how target-like its
    // hashed n-gram distribution is. Features are hashed char-8-gram
    // buckets (the q309 portable polynomial hash mod 64, so the
    // fingerprint arithmetic sits under the DuckDB oracle); the
    // target (source src0) and raw (all other sources) bag-of-bucket
    // models get Laplace smoothing, and the per-doc log importance
    // weight is Σ_grams [ln(t_b+1) − ln(r_b+1) − ln(T+64) + ln(R+64)]
    // — folded into ONE broadcast 64-row per-bucket delta table, so
    // the whole scorer is: map-side gram explode → per-(doc,bucket)
    // count → broadcast-join the delta model → one per-doc sum. At
    // 100 TB both models are 64-row aggregates (bounded regardless of
    // corpus size) and the only full shuffle is the per-doc count —
    // partitioned by doc_id, never wider than the gram stream.
    QueryDef("q313_dsir_weights", (s, d) => {
      // Gram hashing via the native GramHashes kernel (q325's rationale,
      // occurrence-preserving variant: the per-(doc, bucket) counts
      // below COUNT gram repeats, so the distinct kernel would be
      // wrong). Identical arithmetic — fold (h·257 + codepoint) mod
      // 1e9+7 per 8-char gram, then % 64 — but one codegen pass per doc
      // instead of a per-gram-position explode through the 8-term
      // substr/ascii chain (the documents file is one scan split, so
      // that chain ran single-threaded: a measured 2.0 s
      // WholeStageCodegen in the SQL-tab metrics, round 14).
      val base = Tables.documents(s, d)
        .filter($"text".isNotNull && length($"text") >= 8)
        .select($"doc_id", $"source", substring($"text", 1, 200).as("__t"))
      val grams = base
        .select($"doc_id", $"source",
          explode(graft.functions.GramHashes($"__t", 8)).as("__h"))
        .select($"doc_id", $"source", ($"__h" % 64).as("__b"))
      // consumed three times (target model, raw model, scorer) — and
      // each consumer would otherwise re-run the gram explode + hash,
      // the query's only expensive stage (measured 7.8 s → ~3 s at
      // sf0.1). Bounded: ≤ 64 rows per doc regardless of doc length.
      val docBucket = grams.groupBy($"doc_id", $"source", $"__b")
        .agg(count(lit(1)).as("__c")).transform(scoped)
      // BOTH models in one conditional aggregate (zero-filled where a
      // bucket has no target/raw grams) — no model-side join at all;
      // a bounded 64-row table whatever the corpus size
      val model = docBucket.groupBy($"__b").agg(
        sum(when($"source" === "src0", $"__c").otherwise(0L))
          .as("__tb"),
        sum(when($"source" =!= "src0", $"__c").otherwise(0L))
          .as("__rb"))
      val tot = model.agg(sum($"__tb").as("__T"), sum($"__rb").as("__R"))
      val delta = model.crossJoin(broadcast(tot))
        .select($"__b",
          (log($"__tb" + lit(1.0)) - log($"__rb" + lit(1.0))
            - log($"__T" + lit(64.0)) + log($"__R" + lit(64.0)))
            .as("__delta"))
      docBucket.filter($"source" =!= "src0")
        .join(broadcast(delta), Seq("__b"))
        .groupBy($"doc_id", $"source")
        .agg(sum($"__c").as("n_grams"),
          sum($"__c".cast("double") * $"__delta").as("__lw"))
        .select($"doc_id", $"source", $"n_grams",
          Fns.roundU($"__lw", 6).as("log_weight"),
          (Fns.roundU($"__lw", 6) > 0.0).as("selected"))
        .orderBy($"doc_id")
    },
    // q313: the whole DSIR scorer replayed relationally — same
    // polynomial gram hash as q309 (list_reduce fold), same Laplace
    // delta model, same per-doc weighted sum; both engines round the
    // log-sum once at 6dp (the q91/q24 exact-integer-ratio-log
    // idiom: every ln argument is an integer).
    Some(
      """WITH t AS (
        |  SELECT doc_id, source, substr(text, 1, 200) AS s
        |  FROM documents
        |  WHERE text IS NOT NULL AND length(text) >= 8),
        |g AS (
        |  SELECT doc_id, source,
        |    list_reduce(list_transform(range(i, i + 8),
        |      p -> CAST(ascii(substr(s, CAST(p AS INT), 1))
        |        AS BIGINT)),
        |      (a, c) -> (a * 257 + c) % 1000000007) % 64 AS b
        |  FROM t, unnest(range(1, length(s) - 7 + 1)) u(i)),
        |db AS (
        |  SELECT doc_id, source, b, count(*) AS c
        |  FROM g GROUP BY 1, 2, 3),
        |tm AS (SELECT b, sum(c) AS tb FROM db WHERE source = 'src0'
        |  GROUP BY b),
        |rm AS (SELECT b, sum(c) AS rb FROM db WHERE source <> 'src0'
        |  GROUP BY b),
        |model AS (
        |  SELECT ab.b, COALESCE(tb, 0) AS tb, COALESCE(rb, 0) AS rb
        |  FROM (SELECT DISTINCT b FROM db) ab
        |  LEFT JOIN tm ON ab.b = tm.b LEFT JOIN rm ON ab.b = rm.b),
        |tot AS (SELECT sum(tb) AS tt, sum(rb) AS rr FROM model),
        |delta AS (
        |  SELECT b, ln(tb + 1.0) - ln(rb + 1.0) - ln(tt + 64.0)
        |    + ln(rr + 64.0) AS dl
        |  FROM model, tot),
        |w AS (
        |  SELECT db.doc_id, db.source, sum(c) AS n_grams,
        |    sum(c * dl) AS lw
        |  FROM db JOIN delta USING (b)
        |  WHERE db.source <> 'src0' GROUP BY 1, 2)
        |SELECT doc_id, source, CAST(n_grams AS BIGINT) AS n_grams,
        |  floor(lw * 1000000 + 0.5) / 1000000.0 AS log_weight,
        |  floor(lw * 1000000 + 0.5) / 1000000.0 > 0 AS selected
        |FROM w ORDER BY doc_id""".stripMargin)),

    // BPE APPLICATION under the hash oracle — q105's tokenizer pass
    // with a FIXED literal merge table (16 common-English merges,
    // two multi-level chains t+h→th+e and i+n→in+g), so the greedy
    // merge loop itself — lowest-rank adjacent pair, all
    // non-overlapping occurrences left-to-right, to a fixed point —
    // is certified byte-for-byte by DuckDB instead of riding a spec
    // gate: the oracle replays each pass relationally (merge
    // positions = alternating parity within maximal runs of
    // best-rank pairs) inside a recursive CTE. The derivation half
    // of q105 stays engine-specific (documented contract); the
    // APPLICATION half — the part every training pipeline runs at
    // corpus scale — is now oracled. Same operator, same broadcast
    // model-artifact shape as q105 (Tokenize.bpeStats).
    QueryDef("q315_bpe_apply", (s, d) => {
      implicit val enc: org.apache.spark.sql.Encoder[(String, String, Int)] =
        s.implicits.newProductEncoder
      val merges = s.createDataset(Seq(
        ("t", "h"), ("th", "e"), ("i", "n"), ("e", "r"), ("a", "n"),
        ("an", "d"), ("o", "n"), ("e", "n"), ("in", "g"), ("o", "r"),
        ("r", "e"), ("s", "t"), ("a", "t"), ("e", "s"), ("l", "l"),
        ("o", "u")).zipWithIndex.map { case ((a, b), r) => (a, b, r) })
        .toDF("a", "b", "rank")
      Tokenize.bpeStats(Tables.documents(s, d), "doc_id", "text",
          merges, "a", "b", "rank")
        .filter($"n_words" > 0)
        .select($"doc_id", $"n_words", $"n_tokens",
          Fns.roundU($"fertility", 4).as("fertility"),
          Fns.roundU($"mean_token_len", 4).as("mean_token_len"))
        .orderBy($"doc_id")
    },
    // q315's oracle — replays [[graft.operators.Tokenize.tokenizeWord]]
    // exactly: a recursive CTE where each step applies ONE greedy pass
    // (lowest-rank adjacent pair; all non-overlapping occurrences
    // left-to-right). The left-to-right consumption is relational:
    // within each maximal run of consecutive best-rank pair positions,
    // merges land at alternating parity from the run start (position j
    // merges iff (j − run_start) is even), which is exactly the skip-2
    // scan. The rank lookup is the same 16-row literal table as the
    // Spark side, inlined as a CASE (single-statement oracle — no
    // macros). Validated against an independent replay on all 500
    // sf0.01 docs and timed at 11 s on sf0.1.
    Some {
      val merges = Seq("t" -> "h", "th" -> "e", "i" -> "n", "e" -> "r",
        "a" -> "n", "an" -> "d", "o" -> "n", "e" -> "n", "in" -> "g",
        "o" -> "r", "r" -> "e", "s" -> "t", "a" -> "t", "e" -> "s",
        "l" -> "l", "o" -> "u")
      def rk(x: String, y: String): String =
        s"CASE $x || chr(1) || $y " + merges.zipWithIndex.map {
          case ((a, b), i) => s"WHEN '$a' || chr(1) || '$b' THEN $i"
        }.mkString(" ") + " ELSE 999999 END"
      val bestOf =
        "list_min(list_transform(range(1, len(toks)), j -> " +
          rk("toks[CAST(j AS INT)]", "toks[CAST(j AS INT) + 1]") + "))"
      "WITH RECURSIVE " + bpeGreedyPassHead + s"""
         |          j -> ${rk("toks[CAST(j AS INT)]",
                              "toks[CAST(j AS INT) + 1]")} = best) AS isb
         |      FROM (
         |        SELECT doc_id, widx, toks, $bestOf AS best
         |        FROM st)
         |      WHERE best IS NOT NULL AND best < 999999) b1) b2),
         |fin AS (
         |  SELECT doc_id, widx, toks
         |  FROM (SELECT doc_id, widx, toks, $bestOf AS best FROM st)
         |  WHERE best IS NULL OR best >= 999999),
         |agg AS (
         |  SELECT w.doc_id,
         |    count(*) AS n_words,
         |    sum(len(f.toks)) AS n_tokens,
         |    sum(list_sum(list_transform(f.toks, t -> length(t))))
         |      AS tok_len
         |  FROM words w JOIN fin f
         |    ON w.doc_id = f.doc_id AND w.widx = f.widx
         |  GROUP BY w.doc_id)
         |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
         |  CAST(n_tokens AS BIGINT) AS n_tokens,
         |  floor(CAST(n_tokens AS DOUBLE) / n_words * 10000 + 0.5)
         |    / 10000.0 AS fertility,
         |  floor(CAST(tok_len AS DOUBLE) / n_tokens * 10000 + 0.5)
         |    / 10000.0 AS mean_token_len
         |FROM agg ORDER BY doc_id""".stripMargin
    }),

    // N-GRAM NOVELTY — the memorization-risk audit beside the dedup
    // family: per document, the fraction of its DISTINCT char-8-grams
    // that appear in no other document (novel) vs shared with the
    // rest of the corpus. Dedup asks "is this doc a copy"; novelty
    // asks "how much of this doc is boilerplate" — the signal
    // memorization/contamination screens key on. Portable polynomial
    // gram hash (the q309 scheme) so the whole audit sits under the
    // DuckDB oracle. Scale shape: distinct (doc, gram) pairs → one
    // count-by-gram aggregate (map-side partial) → one co-partitioned
    // join back on the gram hash → per-doc rollup; every stage is
    // linear in grams and shuffles on the gram key only once.
    QueryDef("q325_ngram_novelty", (s, d) => {
      // Per-doc DISTINCT gram hashes via the native GramHashSet kernel
      // (the q327 expression — identical arithmetic: fold (h·257 +
      // codepoint) mod 1e9+7 over 8-char grams, first-occurrence
      // distinct). The previous relational form exploded one row per
      // gram POSITION (≈190×|docs|), ran the 8-term substr/ascii chain
      // per row, then paid a full (doc_id, hash) distinct SHUFFLE to
      // dedup within-doc repeats; the kernel dedups per doc inside the
      // scan projection, so the explode emits exactly the distinct
      // rows and the shuffle disappears (guide §2.4/§4 — measured in
      // plans/r14/q325_*: Exchange count 4 → 3, the gram distinct
      // exchange gone; the aggregates below are unchanged).
      val grams = Tables.documents(s, d)
        .filter($"text".isNotNull && length($"text") >= 8)
        .select($"doc_id", substring($"text", 1, 200).as("__t"))
        .select($"doc_id",
          explode(graft.functions.GramHashSet($"__t", 8)).as("__h"))
      // a NOVEL gram (count 1) has exactly one owner, so min(doc_id)
      // inside the frequency aggregate IS that owner — this replaces
      // the gram-key join back (big-big at corpus scale) with two
      // doc-keyed aggregates and one doc-keyed (small-small) join:
      // one standalone sf0.1 run each, ~8 s → ~3 s (Verify wall
      // 31.0 → 26.3 s over a ~23 s fixed floor)
      val perDoc = grams.groupBy($"doc_id")
        .agg(count(lit(1)).as("n_grams"))
      val novel = grams.groupBy($"__h")
        .agg(count(lit(1)).as("__nd"), min($"doc_id").as("__doc"))
        .filter($"__nd" === 1)
        .groupBy($"__doc".as("doc_id"))
        .agg(count(lit(1)).as("n_novel"))
      perDoc.join(novel, Seq("doc_id"), "left")
        .select($"doc_id", $"n_grams",
          coalesce($"n_novel", lit(0L)).as("n_novel"),
          Fns.roundU(coalesce($"n_novel", lit(0L)).cast("double")
            / $"n_grams", 4).as("novelty"))
        .orderBy($"doc_id")
    },
    // q325: the same portable gram hash (q309/q313 scheme), same
    // distinct-gram novelty accounting.
    Some(
      """WITH t AS (
        |  SELECT doc_id, substr(text, 1, 200) AS s
        |  FROM documents
        |  WHERE text IS NOT NULL AND length(text) >= 8),
        |g AS (
        |  SELECT DISTINCT doc_id,
        |    list_reduce(list_transform(range(i, i + 8),
        |      p -> CAST(ascii(substr(s, CAST(p AS INT), 1))
        |        AS BIGINT)),
        |      (a, c) -> (a * 257 + c) % 1000000007) AS h
        |  FROM t, unnest(range(1, length(s) - 7 + 1)) u(i)),
        |freq AS (SELECT h, count(*) AS nd FROM g GROUP BY h)
        |SELECT doc_id,
        |  CAST(count(*) AS BIGINT) AS n_grams,
        |  CAST(sum(CASE WHEN nd = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_novel,
        |  floor(CAST(sum(CASE WHEN nd = 1 THEN 1 ELSE 0 END)
        |    AS DOUBLE) / count(*) * 10000 + 0.5) / 10000.0 AS novelty
        |FROM g JOIN freq USING (h)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // INTERPOLATED KNESER-NEY BIGRAM LM — the classic smoothed n-gram
    // estimator (Chen & Goodman 1999) behind KenLM-style LM quality
    // filtering; the suite had unigram surprisal (q44) and raw PMI
    // (q114) but no smoothed conditional. Absolute discount D = 3/4
    // keeps the whole estimate RATIONAL:
    //   p_KN(w2|w1) = max(c−D,0)/c(w1) + D·N1+(w1,·)/c(w1) · p_cont(w2)
    // with p_cont(w2) = N1+(·,w2)/B over B bigram types; for observed
    // bigrams (c ≥ 1) this is exactly
    //   ((4c−3)·B + 3·N1+(w1,·)·N1+(·,w2)) / (4·c(w1)·B)
    // — emitted as the exact integer FRACTION (the q339 convention), so
    // the hash compares Longs; the double is only the ORDER BY ranking
    // key (one division of exact integers, bit-identical IEEE). Scale
    // shape: bigrams are built MAP-SIDE from the token array (slice +
    // arrays_zip — no per-doc window shuffle), then one (w1,w2) hash
    // aggregate; the three marginals reuse that aggregate's output
    // (vocabulary-sized, not corpus-sized) and the 1-row type count is
    // broadcast. Nothing touches corpus grain twice.
    QueryDef("q340_kneser_ney", (s, d) => {
      val toks = Tables.documents(s, d)
        .filter(length(trim($"text")) > 0)
        .select(split(trim($"text"), "\\s+").as("tk"))
        .filter(size($"tk") >= 2)
      val bg = toks.select(explode(arrays_zip(
          slice($"tk", lit(1), size($"tk") - 1).as("w1"),
          slice($"tk", lit(2), size($"tk") - 1).as("w2"))).as("b"))
        .select($"b.w1".as("w1"), $"b.w2".as("w2"))
      val bgc = scoped(bg.groupBy($"w1", $"w2")
        .agg(count(lit(1)).as("c")))
      val left = bgc.groupBy($"w1")
        .agg(sum($"c").as("c1"), count(lit(1)).as("n1f"))
      val right = bgc.groupBy($"w2").agg(count(lit(1)).as("n1p"))
      val btot = bgc.agg(count(lit(1)).as("btypes"))
      bgc.join(left, "w1").join(right, "w2")
        .crossJoin(broadcast(btot))
        .filter($"c" >= 3)
        .select($"w1", $"w2", $"c", $"c1", $"n1f", $"n1p",
          ((lit(4) * $"c" - 3) * $"btypes" +
            lit(3) * $"n1f" * $"n1p").as("pkn_num"),
          (lit(4) * $"c1" * $"btypes").as("pkn_den"))
        .orderBy(($"pkn_num".cast("double") / $"pkn_den").desc,
          $"w1", $"w2")
        .limit(20)
    },
    // q340: bigrams from the 1-based token list (tk[i], tk[i+1]); the
    // three marginals and the type count replayed off the same bigram
    // aggregate; the fraction is exact integers, the ORDER BY ranking
    // division repeated in full (not via output aliases) so both
    // engines rank the same doubles.
    Some(
      """WITH toks AS (
        |  SELECT string_split_regex(trim(text), '\s+') AS tk
        |  FROM documents WHERE length(trim(text)) > 0),
        |t2 AS (SELECT tk FROM toks WHERE len(tk) >= 2),
        |bg AS (
        |  SELECT tk[CAST(i AS INT)] AS w1, tk[CAST(i AS INT) + 1] AS w2
        |  FROM t2, unnest(range(1, len(tk))) r(i)),
        |bgc AS (SELECT w1, w2, count(*) AS c FROM bg GROUP BY w1, w2),
        |lft AS (SELECT w1, sum(c) AS c1, count(*) AS n1f
        |  FROM bgc GROUP BY w1),
        |rgt AS (SELECT w2, count(*) AS n1p FROM bgc GROUP BY w2),
        |bt AS (SELECT count(*) AS btypes FROM bgc)
        |SELECT w1, w2, CAST(c AS BIGINT) AS c, CAST(c1 AS BIGINT) AS c1,
        |  CAST(n1f AS BIGINT) AS n1f, CAST(n1p AS BIGINT) AS n1p,
        |  CAST((4*c - 3)*btypes + 3*n1f*n1p AS BIGINT) AS pkn_num,
        |  CAST(4*c1*btypes AS BIGINT) AS pkn_den
        |FROM bgc JOIN lft USING (w1) JOIN rgt USING (w2) CROSS JOIN bt
        |WHERE c >= 3
        |ORDER BY CAST((4*c - 3)*btypes + 3*n1f*n1p AS DOUBLE) /
        |  (4*c1*btypes) DESC, w1, w2
        |LIMIT 20""".stripMargin))
  )

  /** The greedy BPE pass of q105 and q315 in SQL, up to each query's
    * rank lookup: every document's words split into characters
    * (`init`), then the recursive `st` that applies one greedy pass per
    * step — all non-overlapping lowest-rank pairs, left to right. Ends
    * inside the pair-rank `list_transform`, where q105 probes its
    * derived merge map and q315 its literal CASE table. */
  private val bpeGreedyPassHead: String =
    """words AS (
      |  SELECT doc_id, i AS widx, ws[CAST(i AS INT)] AS w
      |  FROM (SELECT doc_id,
      |          list_filter(string_split_regex(trim(text), '\s+'),
      |            x -> x <> '') AS ws
      |        FROM documents WHERE text IS NOT NULL) d,
      |    unnest(range(1, len(ws) + 1)) u(i)),
      |init AS (
      |  SELECT doc_id, widx,
      |    list_transform(range(1, length(w) + 1),
      |      i -> substr(w, CAST(i AS INT), 1)) AS toks
      |  FROM words),
      |st AS (
      |  SELECT doc_id, widx, toks FROM init
      |  UNION ALL
      |  SELECT doc_id, widx,
      |    list_transform(
      |      list_filter(range(1, len(toks) + 1),
      |        k -> NOT (k >= 2 AND ma[CAST(k AS INT) - 1])),
      |      k -> CASE WHEN k < len(toks) AND ma[CAST(k AS INT)]
      |        THEN toks[CAST(k AS INT)] || toks[CAST(k AS INT) + 1]
      |        ELSE toks[CAST(k AS INT)] END) AS toks
      |  FROM (
      |    SELECT doc_id, widx, toks,
      |      list_transform(range(1, len(toks)), j ->
      |        isb[CAST(j AS INT)] AND (j - (1 + coalesce(list_max(
      |          list_transform(range(1, j),
      |            k -> CASE WHEN NOT isb[CAST(k AS INT)] THEN k
      |              ELSE CAST(0 AS BIGINT) END)), 0))) % 2 = 0) AS ma
      |    FROM (
      |      SELECT doc_id, widx, toks,
      |        list_transform(range(1, len(toks)),""".stripMargin
}
