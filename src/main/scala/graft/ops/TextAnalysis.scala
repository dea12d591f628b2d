package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: language ID
  * (stopword-vote heuristic), quality scoring, token counting, document
  * fingerprinting. Deliberately integer-only outputs so any ANSI SQL engine
  * reproduces them exactly (the DuckDB oracle path).
  */
object TextAnalysis {

  val enStop: Seq[String] = Seq("the", "a", "and", "of", "to", "in", "is", "it")
  val deStop: Seq[String] = Seq("der", "die", "das", "und", "ist", "ein", "zu", "mit")
  val frStop: Seq[String] = Seq("le", "la", "et", "de", "un", "est", "que", "pour")

  private def toks(c: Column): Column = filter(split(c, " "), t => length(t) > 0)

  private def stopHits(c: Column, stops: Seq[String]): Column =
    size(filter(toks(c), t => t.isin(stops.map(lit): _*)))

  /** Quality features + integer quality score (per-mille):
    * score = 400*alpha_ratio + 300*(1 - punct_ratio) + 300*stopword-presence,
    * all in integer arithmetic over character/token counts.
    */
  def quality(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    df.select(
      col(idCol),
      length(t).cast("long").as("n_chars"),
      size(toks(t)).cast("long").as("n_tokens"),
      (length(t) - length(regexp_replace(t, "[a-zA-Z]", ""))).cast("long").as("n_alpha"),
      (length(t) - length(regexp_replace(t, "[0-9]", ""))).cast("long").as("n_digit"),
      (length(t) - length(regexp_replace(t, "[.,;:!?]", ""))).cast("long").as("n_punct"),
      stopHits(t, enStop).cast("long").as("n_stop"))
      .withColumn("quality_milli",
        when(col("n_chars") === 0, 0L).otherwise(
          // integer division throughout — bit-stable across SQL engines
          expr("n_alpha * 400 div n_chars") +
            expr("(n_chars - n_punct) * 300 div n_chars") +
            when(col("n_stop") > 0, 300L).otherwise(0L)))
  }

  /** Language-ID heuristic: stopword votes per language; argmax with
    * deterministic tie order en > de > fr; 'und' when no stopword hits.
    */
  def langId(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    df.select(col(idCol),
      stopHits(t, enStop).cast("long").as("en_hits"),
      stopHits(t, deStop).cast("long").as("de_hits"),
      stopHits(t, frStop).cast("long").as("fr_hits"))
      .withColumn("lang_pred",
        when(col("en_hits") >= col("de_hits") && col("en_hits") >= col("fr_hits") &&
          col("en_hits") > 0, "en")
          .when(col("de_hits") >= col("fr_hits") && col("de_hits") > 0, "de")
          .when(col("fr_hits") > 0, "fr")
          .otherwise("und"))
  }

  /** Token counting: whitespace tokens + a BPE-ish sub-token count via the
    * regex `[a-z]+|[A-Z][a-z]*|[0-9]+|[^a-zA-Z0-9\s]` (RE2- and Java-regex
    * compatible).
    */
  val bpePattern = "[a-z]+|[A-Z][a-z]*|[0-9]+|[^a-zA-Z0-9\\s]"

  def tokenCounts(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
      size(toks(col(textCol))).cast("long").as("ws_tokens"),
      size(regexp_extract_all(col(textCol), lit(bpePattern), lit(0))).cast("long")
        .as("bpe_tokens"))

  /** Polynomial rolling-hash fingerprint over characters, mod 1e9+7 —
    * deterministic across engines (integer-only):
    * h = fold(0, c => (h·31 + ascii(c)) mod 1e9+7). Backed by the native
    * codegen'd [[graft.functions.PolyHash]] expression (one fused loop); the
    * built-in formulation the DuckDB oracles mirror lives in the test
    * sources, equivalence-tested in PolyHashSpec.
    */
  def fingerprint(textCol: Column): Column =
    graft.functions.PolyHash.poly_hash(textCol)

  def fingerprints(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), fingerprint(col(textCol)).as("fp"))

  /** Repetition signals for quality filtering (the Gopher-family repetition
    * rules, Rae et al. '21 §A1.1: duplicate-token fraction, most-common
    * unigram fraction, most-common bigram fraction — here token-based and
    * integer per-mille so any SQL engine reproduces them exactly).
    *
    * Scale shape: every signal is a per-row higher-order array expression —
    * NO shuffle, NO explode; the whole operator is a map stage that fuses
    * into whole-stage codegen. The per-row cost is O(distinct × tokens),
    * bounded by document length, which is exactly how a single-node
    * pipeline would compute it — Spark adds only partitioning.
    */
  def repSignals(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = toks(col(textCol))
    val base = df.select(col(idCol), t.as("toks"))
      .select(col(idCol), col("toks"),
        size(col("toks")).cast("long").as("n_tokens"),
        size(array_distinct(col("toks"))).cast("long").as("n_distinct"))
    val topUni = array_max(transform(array_distinct(col("toks")),
      d => size(filter(col("toks"), x => x === d))))
    val bigrams = transform(sequence(lit(1), size(col("toks")) - 1),
      i => concat(element_at(col("toks"), i), lit(" "), element_at(col("toks"), i + 1)))
    val topBi = array_max(transform(array_distinct(bigrams),
      d => size(filter(bigrams, x => x === d))))
    base
      .withColumn("top_unigram",
        when(col("n_tokens") === 0, 0L).otherwise(topUni.cast("long")))
      .withColumn("top_bigram",
        when(col("n_tokens") < 2, 0L).otherwise(topBi.cast("long")))
      .select(col(idCol), col("n_tokens"), col("n_distinct"),
        when(col("n_tokens") === 0, 0L)
          .otherwise(expr("(n_tokens - n_distinct) * 1000 div n_tokens"))
          .as("dup_token_milli"),
        when(col("n_tokens") === 0, 0L)
          .otherwise(expr("top_unigram * 1000 div n_tokens")).as("top_unigram_milli"),
        when(col("n_tokens") < 2, 0L)
          .otherwise(expr("top_bigram * 2000 div n_tokens")).as("top_bigram_milli"))
  }

  /** Repetition filter over [[repSignals]]: keep documents whose repetition
    * signals sit under the given per-mille thresholds (defaults tuned for
    * natural text; pass-through of the signal columns for auditability).
    */
  def repetitionFilter(df: DataFrame, idCol: String, textCol: String,
      maxDupTokenMilli: Int = 900, maxTopUnigramMilli: Int = 300,
      maxTopBigramMilli: Int = 400): DataFrame =
    repSignals(df, idCol, textCol)
      .withColumn("keep",
        col("dup_token_milli") <= maxDupTokenMilli &&
          col("top_unigram_milli") <= maxTopUnigramMilli &&
          col("top_bigram_milli") <= maxTopBigramMilli)

  /** Fixed-size token-window chunking with stride — the sequence-prep step
    * that turns documents into training-length windows (overlapping when
    * stride < window). One output row per window: its index, token count
    * and the engine-portable fingerprint of the window text (so the exact
    * window CONTENT, not just its shape, is oracle-checked).
    *
    * Scale shape: per-row explode of ceil(n/stride) window indices — output
    * is a constant factor of the input, partitioning is preserved (no
    * shuffle), and the window slice is a per-row array op.
    */
  def tokenWindows(df: DataFrame, idCol: String, textCol: String,
      window: Int = 16, stride: Int = 12): DataFrame = {
    require(window > 0 && stride > 0, "window and stride must be positive")
    val t = toks(col(textCol))
    val withToks = df.select(col(idCol), t.as("toks"), size(t).as("n"))
    // sequence(a, b) with b < a generates a DESCENDING range in Spark, so
    // the empty-document case must short-circuit to an empty array
    val idxs = when(col("n") > 0,
      sequence(lit(0), floor((col("n") - 1) / stride).cast("int"))
    ).otherwise(array().cast("array<int>"))
    withToks
      .select(col(idCol), col("toks"), explode(idxs).as("chunk_idx"))
      .select(col(idCol), col("chunk_idx"),
        slice(col("toks"), col("chunk_idx") * stride + 1, lit(window)).as("chunk"))
      .select(col(idCol), col("chunk_idx").cast("long").as("chunk_idx"),
        size(col("chunk")).cast("long").as("chunk_tokens"),
        fingerprint(concat_ws(" ", col("chunk"))).as("chunk_fp"))
  }

  /** Global word-frequency table — the tokenizer-training vocabulary (one
    * row per distinct whitespace token with its corpus count, hapax tail
    * pruned by `minCount`). This is the pre-aggregation every real BPE/
    * unigram tokenizer trainer runs first: all later merge statistics work
    * off (word, count), never the raw corpus.
    *
    * Scale shape: explode → ONE count aggregation. The token stream is the
    * textbook Zipf distribution, but a COUNT groupBy needs no salt: partial
    * (map-side) aggregation bounds the head token to one partial row per
    * map task, so no reducer ever receives the head key's raw volume — the
    * salt-worthy case is non-combinable aggregates (see
    * [[graft.pipeline.SaltedAgg]]), not algebraic counts. `minCount`
    * prunes the long tail (typos, ids) before the vocab feeds any
    * broadcast or driver-side merge loop.
    */
  def wordFrequencies(df: DataFrame, textCol: String,
      minCount: Long = 1L): DataFrame =
    df.select(explode(toks(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)

  /** BPE pair statistics: the top-`topK` adjacent character pairs across
    * the corpus, each weighted by the frequency of the words containing it
    * — the data-scale step of byte-pair-encoding tokenizer training (the
    * first merge candidates; subsequent merge ROUNDS run on the
    * driver-sized vocab in any real trainer, so they are out of scope for
    * the engine). Counts are word-frequency-weighted occurrence counts, so
    * a pair appearing twice in one word counts twice, exactly like the
    * classical Sennrich et al. '16 counting loop.
    *
    * Scale shape: the ONLY corpus-scale work is [[wordFrequencies]]'
    * count shuffle; pair explosion and summation run on the VOCAB (|V|
    * rows, orders of magnitude below the corpus — the reason trainers
    * pre-aggregate at all), and the top-k is a `TakeOrderedAndProject`
    * (per-partition heap + driver merge of k rows), never a global sort.
    * Ties break on the pair string ascending, so the result SET is
    * deterministic. ASCII-safe across engines (both Spark and the oracle
    * substring by codepoint).
    */
  def bpePairCounts(df: DataFrame, textCol: String, topK: Int,
      minCount: Long = 1L): DataFrame = {
    require(topK > 0, "topK must be positive")
    val vocab = wordFrequencies(df, textCol, minCount)
    vocab.filter(length(col("token")) >= 2)
      .select(explode(transform(
        sequence(lit(1), length(col("token")) - 1),
        i => col("token").substr(i, lit(2)))).as("pair"), col("cnt"))
      .groupBy("pair").agg(sum(col("cnt")).as("cnt"))
      .orderBy(col("cnt").desc, col("pair").asc)
      .limit(topK)
  }

  /** EXACT per-domain token-length quantiles — the corpus length-distribution
    * report (batch-size planning, truncation-rate estimation, domain skew
    * audits). One row per (domain × requested per-mille quantile):
    * `(domain, q_milli, n_docs, value)` where `value` is the smallest token
    * count whose cumulative document count reaches `ceil(q · n/1000)` —
    * the classical discrete quantile, integer-exact.
    *
    * Scale shape: NEVER `approx_percentile` (engine-specific sketches can't
    * be oracle-checked) and NEVER a corpus-scale sort. Token counts live in
    * a tiny value domain, so the corpus reduces to a (domain, length)
    * HISTOGRAM — one map-side-combining aggregate, the only full-data
    * shuffle. The cumulative sum, the quantile selection and the per-mille
    * rank test (`cum·1000 ≥ q·n`, integer, no rounding step) all run over
    * histogram-sized data; the per-domain window orders ≤ max-doc-length
    * rows per domain.
    */
  def lengthQuantiles(df: DataFrame, textCol: String, domainCol: String,
      qMilli: Seq[Int]): DataFrame = {
    require(qMilli.nonEmpty && qMilli.forall(q => q > 0 && q <= 1000),
      "quantiles must be per-mille values in 1..1000")
    import org.apache.spark.sql.expressions.Window
    val hist = df
      .select(col(domainCol).as("domain"), size(toks(col(textCol))).cast("long").as("n"))
      .groupBy("domain", "n").agg(count(lit(1)).as("c"))
    // NULLS LAST matches the DuckDB oracle's default window order (ADVICE
    // r05: Spark sorts NULLS FIRST on ASC, DuckDB NULLS LAST — a corpus
    // with NULL text rows would shift every cumulative count); identical
    // on null-free corpora.
    val cum = hist.withColumn("cum",
      sum("c").over(Window.partitionBy("domain").orderBy(col("n").asc_nulls_last)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val totals = hist.groupBy("domain").agg(sum("c").as("n_docs"))
    cum.join(broadcast(totals), Seq("domain"))
      .select(col("domain"), col("cum"), col("n"), col("n_docs"),
        explode(array(qMilli.map(q => lit(q.toLong)): _*)).as("q_milli"))
      .filter(col("cum") * 1000L >= col("q_milli") * col("n_docs"))
      .groupBy("domain", "q_milli")
      .agg(min("n").as("value"), first("n_docs").as("n_docs"))
      .select(col("domain"), col("q_milli"), col("n_docs"), col("value"))
  }
}
