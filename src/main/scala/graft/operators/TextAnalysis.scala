package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: token counting,
  * quality scoring, language-ID heuristics. All pure `Column` expressions
  * (codegen'd, no UDFs) so they run inside WholeStageCodegen over a 100 TB
  * documents table without serialization breaks.
  */
object TextAnalysis {

  val StopWords: Seq[String] =
    Seq("the", "a", "an", "and", "of", "to", "in", "is", "it", "that")

  /** The three scalar metrics below all derive from ONE native
    * single-pass kernel ([[graft.functions.TextQualityStats]] —
    * round 12: the composable forms re-tokenized the document per
    * metric, which made q28 the decade audit's worst row at 4.8×).
    * Multiple metrics over the same text column in one projection
    * collapse to a single kernel evaluation per row: the kernel
    * instances are equal deterministic expressions, so whole-stage
    * codegen's subexpression elimination dedups them. Semantics are
    * UNCHANGED — per-field equivalence with the original
    * split/regexp forms is pinned in NativeEquivalenceSpec, and
    * every consumer query's DuckDB oracle still states the
    * composable formulation. */
  private def stats(text: Column): Column =
    graft.functions.TextStats.textQualityStats(text)

  /** Whitespace token count (empty-trim → 0; otherwise Java split
    * field count, leading/trailing empty fields included). */
  def tokenCountWs(text: Column): Column = stats(text).getField("n_ws")

  /** Fraction of whitespace tokens that are stopwords. (n_ws == 0 is
    * exactly the old length(trim(text)) == 0 guard: a nonempty trim
    * always yields ≥ 1 split field.) */
  def stopwordRatio(text: Column): Column = {
    val st = stats(text)
    when(st.getField("n_ws") === 0, 0.0)
      .otherwise(st.getField("n_stop").cast("double") /
        st.getField("n_ws").cast("double"))
  }

  /** Fraction of characters that are punctuation. */
  def punctRatio(text: Column): Column =
    when(length(text) === 0, 0.0).otherwise(
      stats(text).getField("n_punct").cast("double") /
        length(text).cast("double"))

  /** Composite quality score in [0, 1]: length sweet-spot, low punctuation,
    * moderate stopword presence. A simple, fully-deterministic heuristic —
    * the shape of C4/Gopher-style quality filters. */
  def qualityScore(text: Column): Column = {
    val lenScore = least(length(text).cast("double") / 500.0, lit(1.0))
    val stopScore = least(stopwordRatio(text) * 5.0, lit(1.0))
    val punctPenalty = least(punctRatio(text) * 5.0, lit(1.0))
    graft.Fns.roundU(lenScore * 0.5 + stopScore * 0.3 + (lit(1.0) - punctPenalty) * 0.2, 4)
  }

  /** Stopword-driven language-ID heuristic: scores English stopword density
    * and classifies en / other. (The driver's synthetic corpus uses one
    * vocabulary for all langs, so this demonstrates the operator shape, not
    * linguistic accuracy.) */
  def langIdHeuristic(text: Column): Column =
    when(stopwordRatio(text) >= 0.03, "en").otherwise("other")

  /** Per-document repetition metrics (the Gopher-style repetition
    * filters): duplicate-word fraction and most-frequent-token share. A
    * document whose top token covers a large share of its length is
    * boilerplate/spam-shaped and gets filtered before training.
    *
    * Distributed as explode → two hash aggregates ((doc, token) counts,
    * then per-doc rollup) — per-group state is a handful of counters, so
    * a pathologically long document costs rows, never aggregation-buffer
    * memory (the array-based per-row form would hold the whole token
    * multiset per document).
    *
    * Returns (idCol, n_words, n_distinct, dup_ratio, top_token_frac),
    * ratios rounded half-up to 4. Documents with no tokens are absent
    * (they have no repetition to measure). */
  def repetitionStats(df: org.apache.spark.sql.DataFrame, textCol: String,
                      idCol: String): org.apache.spark.sql.DataFrame = {
    val cnt = df
      .filter(length(trim(col(textCol))) > 0)
      .select(col(idCol), explode(split(trim(col(textCol)), "\\s+")).as("__w"))
      .groupBy(col(idCol), col("__w"))
      .agg(count(lit(1)).as("__c"))
    cnt.groupBy(col(idCol))
      .agg(sum(col("__c")).as("n_words"),
        count(lit(1)).as("n_distinct"),
        max(col("__c")).as("__top"))
      .select(col(idCol), col("n_words"), col("n_distinct"),
        graft.Fns.roundU(lit(1.0) - col("n_distinct").cast("double") /
          col("n_words").cast("double"), 4).as("dup_ratio"),
        graft.Fns.roundU(col("__top").cast("double") /
          col("n_words").cast("double"), 4).as("top_token_frac"))
  }

  /** Cross-document BOILERPLATE accounting — the span-level inverse of
    * rare-shingle dedup: an n-gram that appears in a large fraction of
    * the corpus (nav text, license headers, templated chrome) carries no
    * training signal, and a document made mostly of such n-grams is a
    * drop candidate. Per document: its distinct n-gram count, how many of
    * those are "boilerplate" (document frequency ≥ `minDfFrac` of the
    * corpus), and the boilerplate fraction.
    *
    * The threshold is RELATIVE to corpus size (df ≥ ⌈minDfFrac·N⌉), so
    * the operator's meaning survives corpus growth — an absolute df
    * cutoff silently reclassifies everything at 100× the data. Plan
    * shape: shingles reduce to 64-bit hashes before the shuffle
    * ([[graft.operators.Dedup.hashedShingleSets]]), the df table is
    * vocabulary-sized with map-side combine, the corpus count rides in
    * as a broadcast scalar, and the join back to (doc, shingle) rows is
    * on the 8-byte hash — no text shuffles anywhere.
    *
    * Returns (id, carryCols..., n_shingles, n_boiler, boiler_frac
    * rounded half-up to 4); documents with no shingles are absent. */
  def boilerplateDocStats(df: org.apache.spark.sql.DataFrame,
                          textCol: String, idCol: String, nGram: Int = 2,
                          minDfFrac: Double = 0.05,
                          carryCols: Seq[String] = Nil)
      : org.apache.spark.sql.DataFrame = {
    val sh = Dedup.hashedShingleSets(df, textCol, idCol, nGram, carryCols)
      .select(col("id") +: carryCols.map(col) :+
        explode(col("sh")).as("__g"): _*)
    val dfc = sh.groupBy(col("__g")).agg(count(lit(1)).as("__df"))
    val ndocs = df.agg(count(lit(1)).as("__n"))
    sh.join(dfc, "__g")
      .crossJoin(broadcast(ndocs))
      .groupBy(col("id") +: carryCols.map(col): _*)
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("__df") >=
          ceil(lit(minDfFrac) * col("__n")).cast("long"), 1L)
          .otherwise(0L)).as("n_boiler"))
      .withColumn("boiler_frac",
        graft.Fns.roundU(col("n_boiler").cast("double") /
          col("n_shingles").cast("double"), 4))
  }

  /** Fixed-size token windows with overlap — the training-example prep
    * step that turns documents into model-ready sequences. Returns an
    * array of (chunk_id, toks) structs where chunk i covers whitespace
    * tokens [i·stride, i·stride + chunk); stride < chunk gives the
    * standard overlapping windows and the last window may be short.
    * Blank text yields an empty array (an explode drops the document).
    *
    * Pure Column expression: chunking happens inside the scan's
    * projection, so the 100 TB form is `explode(tokenChunks(...))` — one
    * narrow codegen'd pass per document, no shuffle until whatever the
    * caller hangs downstream. Output size is ~|text|·(chunk/stride), so
    * the overlap factor — not the operator — is the storage knob. */
  def tokenChunks(text: Column, chunk: Int, stride: Int): Column = {
    require(chunk >= 1 && stride >= 1,
      s"chunk=$chunk and stride=$stride must be >= 1")
    val toks = split(trim(text), "\\s+")
    when(length(trim(text)) === 0,
      array().cast("array<struct<chunk_id:bigint,toks:array<string>>>"))
      .otherwise(transform(
        sequence(lit(0), size(toks) - 1, lit(stride)),
        s => struct((s / stride).cast("long").as("chunk_id"),
          slice(toks, s + 1, lit(chunk)).as("toks"))))
  }

  /** Repeated-SPAN coverage — the exact-substring dedup signal (the
    * "Deduplicating Training Data Makes Language Models Better" family):
    * for each document, the fraction of its tokens covered by some
    * `spanTok`-token span that occurs at least `minOccur` times in the
    * corpus (counting all occurrences, same- or cross-document). A doc
    * near 1.0 is (mostly) a copy; a mid-range doc shares long passages.
    * Complements [[boilerplateDocStats]]: that counts short n-grams by
    * document frequency, this measures POSITIONAL coverage by long
    * repeated spans — the suffix-array signal, re-expressed in joins.
    *
    * Scale shape: spans reduce to 64-bit hashes inside the scan
    * projection, so the occurrence count, the duplicated-span join and
    * the coverage explode all move (long, int) rows — never text. The
    * coverage step amplifies rows by `spanTok` but stays narrow, and
    * every stage is a hash aggregate or hash join on the span hash. A
    * hash collision can only ADD coverage (~2^-64 per span pair — the
    * [[graft.operators.Dedup.rareShinglePairs]] trade, accepted).
    *
    * Returns one row per document: (id, n_tok, n_cov, span_dup_frac
    * rounded half-up to 4); docs shorter than `spanTok` report 0. */
  /** Tokenized base table for the span family: (id, n_tok, __toks).
    * Tokenizes ONCE per row into a materialized column — span lambdas
    * slice from this array; inlining `split` there instead would
    * re-split the whole text per span position (HOFs are interpreted —
    * no subexpression elimination inside the lambda), turning span
    * generation quadratic in document length. */
  private def tokenBase(df: org.apache.spark.sql.DataFrame,
                        textCol: String, idCol: String)
      : org.apache.spark.sql.DataFrame =
    df.select(col(idCol).as("id"), wsTokens(col(textCol)).as("__toks"))
      .select(col("id"), size(col("__toks")).as("n_tok"), col("__toks"))

  /** Blank-safe whitespace tokenizer: the empty array for empty or
    * all-whitespace text (a bare `split(trim(""), "\\s+")` yields
    * `[""]`, silently counting one phantom token). THE tokenization for
    * the span family and the token-level queries — change whitespace
    * semantics here, once. */
  def wsTokens(text: Column): Column =
    when(length(trim(text)) === 0, array().cast("array<string>"))
      .otherwise(split(trim(text), "\\s+"))

  /** Every `spanTok`-token span of every document as (id, p, h): start
    * position p (0-based) and the 64-bit hash h of the space-joined
    * span. The hashed currency of the span family — downstream
    * occurrence counts, coverage and provenance all move (long, int)
    * rows, never text. */
  def spanHashes(df: org.apache.spark.sql.DataFrame, textCol: String,
                 idCol: String, spanTok: Int)
      : org.apache.spark.sql.DataFrame = {
    require(spanTok >= 2, "need spanTok >= 2")
    tokenBase(df, textCol, idCol).filter(col("n_tok") >= spanTok)
      .select(col("id"), explode(transform(
        sequence(lit(0), col("n_tok") - spanTok),
        i => struct(i.cast("int").as("p"),
          xxhash64(array_join(slice(col("__toks"), i + 1,
            lit(spanTok)), " ")).as("h")))).as("s"))
      .select(col("id"), col("s.p").as("p"), col("s.h").as("h"))
  }

  def spanDupStats(df: org.apache.spark.sql.DataFrame, textCol: String,
                   idCol: String, spanTok: Int, minOccur: Int = 2)
      : org.apache.spark.sql.DataFrame = {
    require(spanTok >= 2 && minOccur >= 2, "need spanTok and minOccur >= 2")
    val base = tokenBase(df, textCol, idCol)
    val spans = spanHashes(df, textCol, idCol, spanTok)
    val dup = spans.groupBy(col("h"))
      .agg(count(lit(1)).as("__oc")).filter(col("__oc") >= minOccur)
      .select(col("h"))
    val cov = spans.join(dup, "h")
      .select(col("id"), explode(sequence(col("p"),
        col("p") + spanTok - 1)).as("__cp"))
      .distinct()
      .groupBy(col("id")).agg(count(lit(1)).as("n_cov"))
    base.select(col("id"), col("n_tok"))
      .join(cov, Seq("id"), "left_outer")
      .select(col("id"), col("n_tok"),
        coalesce(col("n_cov"), lit(0L)).as("n_cov"))
      .withColumn("span_dup_frac", graft.Fns.roundU(
        when(col("n_tok") === 0, 0.0).otherwise(
          col("n_cov").cast("double") / col("n_tok").cast("double")), 4))
  }

  /** Duplicate-span REMOVAL — the TRANSFORM the q75 signal exists for
    * (the exact-substring dedup step of the RefinedWeb/C4 recipes):
    * drop every token covered by any `spanTok`-token span occurring ≥
    * `minOccur` times corpus-wide, and rebuild the document from the
    * surviving tokens (single-space joined — whitespace normalizes,
    * which the paired oracle reproduces by construction).
    *
    * Scale shape: occurrence counting and the start-position join move
    * only (id, 64-bit hash, int) rows — the [[spanHashes]] currency;
    * the reconstruction is a projection over each doc's own token
    * array with a per-doc covered-position array (bounded by n_tok)
    * collected from ONE hash aggregate. The corpus text itself never
    * shuffles — only span hashes and start positions do.
    *
    * Returns (id, n_tok, n_kept, n_removed, kept_text); every input
    * doc appears (docs with no duplicated span keep all tokens). */
  def removeDupSpans(df: org.apache.spark.sql.DataFrame, textCol: String,
                     idCol: String, spanTok: Int, minOccur: Int = 2)
      : org.apache.spark.sql.DataFrame = {
    require(spanTok >= 2 && minOccur >= 2, "need spanTok and minOccur >= 2")
    val base = tokenBase(df, textCol, idCol)
    val spans = spanHashes(df, textCol, idCol, spanTok)
    val dup = spans.groupBy(col("h"))
      .agg(count(lit(1)).as("__oc")).filter(col("__oc") >= minOccur)
      .select(col("h"))
    // per-doc duplicated-span START positions, one bounded array each
    val starts = spans.join(dup, "h")
      .groupBy(col("id")).agg(collect_set(col("p")).as("__starts"))
    base.join(starts, Seq("id"), "left_outer")
      // kept text = complement of the coverage union. All spans have
      // the SAME length, so starts sorted ascending give ends sorted
      // ascending — the union is a monotone interval chain and the
      // complement is gap i = [previous span's end, this span's
      // start), plus the head gap [0, s_0) and tail gap [s_last+k, n).
      // Overlapping spans clamp to an empty slice via greatest(len,0).
      // O(n_tok + k log k) per doc — no per-token membership scan (the
      // q75 quadratic-per-doc lesson applied to the transform).
      .withColumn("__s", array_sort(coalesce(col("__starts"),
        array().cast("array<int>"))))
      .withColumn("__from", concat(array(lit(0)),
        transform(col("__s"), s => s + spanTok)))
      .withColumn("__to", concat(col("__s"),
        array(size(col("__toks")))))
      .withColumn("__kept", flatten(zip_with(col("__from"), col("__to"),
        (a, b) => slice(col("__toks"), a + 1, greatest(b - a, lit(0))))))
      .select(col("id"), col("n_tok").cast("long").as("n_tok"),
        size(col("__kept")).cast("long").as("n_kept"),
        (col("n_tok") - size(col("__kept"))).cast("long")
          .as("n_removed"),
        array_join(col("__kept"), " ").as("kept_text"))
  }

  /** Duplicate-span PROVENANCE: for every span duplicated ≥ `minOccur`
    * times corpus-wide (q75's signal), attribute it to the document
    * with the LOWEST id containing it — the "original" under a stable
    * ordering — and report per document how many distinct duplicated
    * spans it introduced vs inherited. Copies show high inherited and
    * zero introduced; templates/boilerplate sources show the reverse.
    * Every stage is a hash aggregate or hash join on the 64-bit span
    * hash (the [[spanHashes]] currency); the per-span state is one
    * (min_id, count) pair, so no posting list materializes. Returns
    * (id, n_introduced, n_inherited) for docs touching any dup span. */
  def spanProvenance(df: org.apache.spark.sql.DataFrame, textCol: String,
                     idCol: String, spanTok: Int, minOccur: Int = 2)
      : org.apache.spark.sql.DataFrame = {
    require(spanTok >= 2 && minOccur >= 2, "need spanTok and minOccur >= 2")
    val spans = spanHashes(df, textCol, idCol, spanTok)
    // dup decides on TOTAL occurrences (same- or cross-doc, matching
    // spanDupStats); provenance then counts each (doc, span) once
    val dup = spans.groupBy(col("h"))
      .agg(count(lit(1)).as("__oc"), min(col("id")).as("__first"))
      .filter(col("__oc") >= minOccur)
      .select(col("h"), col("__first"))
    spans.select(col("id"), col("h")).distinct()
      .join(dup, "h")
      .groupBy(col("id"))
      .agg(sum(when(col("id") === col("__first"), 1L).otherwise(0L))
          .as("n_introduced"),
        sum(when(col("id") =!= col("__first"), 1L).otherwise(0L))
          .as("n_inherited"))
  }

  /** Number of matches of `pattern` in the text — the counting half of a
    * scrubbing pass (PII regexes, denylisted terms). */
  def matchCount(text: Column, pattern: String): Column =
    regexp_count(text, lit(pattern))

  /** Redact every match of `pattern` and re-normalize whitespace (so a
    * removed token doesn't leave a double space behind). `replacement`
    * is literal — quoted against java.util.regex group references, so a
    * marker like "<$PII>" inserts exactly that text instead of throwing
    * (and "$0" can never silently re-insert the matched PII). */
  def redact(text: Column, pattern: String,
             replacement: String = ""): Column = {
    val quoted =
      if (replacement.isEmpty) replacement
      else java.util.regex.Matcher.quoteReplacement(replacement)
    trim(regexp_replace(regexp_replace(text, pattern, quoted),
      " {2,}", " "))
  }
}
