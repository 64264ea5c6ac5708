package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import TextFunctions._

/** Text-analysis operators: language ID (stopword-hit heuristic),
  * quality scoring, token counting, document fingerprinting. All pure
  * column expressions (codegen'd, no shuffle) — they scale as a narrow
  * map over the corpus.
  */
object TextAnalysis {

  /** Tiny per-language function-word lists for the n-gram/stopword
    * heuristic. Deliberately small and fixed: the operator's shape (per-
    * language token-hit scoring + argmax) is what matters; swap lists
    * for real profiles in production. */
  val stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "it", "for",
      "on", "with", "as", "this", "that"),
    "fr" -> Seq("le", "la", "les", "de", "des", "un", "une", "et", "est",
      "dans", "pour", "que", "qui", "au"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "eine", "zu",
      "den", "von", "mit", "auf", "für", "nicht"),
    "es" -> Seq("el", "la", "los", "las", "de", "y", "es", "en", "un",
      "una", "que", "por", "con", "para"))

  /** Per-language stopword hit count over the token array. */
  def langScore(tokensCol: Column, lang: String): Column = {
    val words = stopwords.toMap.apply(lang)
    size(filter(tokensCol,
      t => t.isInCollection(words)))
  }

  /** Heuristic language ID: argmax of stopword hits; "und"
    * (undetermined) when no list scores > 0. Ties resolve in the fixed
    * language order (deterministic). */
  def languageOf(text: Column): Column = {
    val tk = tokens(text)
    val scored = stopwords.map { case (lang, _) =>
      struct(langScore(tk, lang).as("score"), lit(lang).as("lang"))
    }
    // array_max on (score, lang) structs: max score, then max lang —
    // to make ties deterministic-by-order instead, scan greedily.
    val best = scored.reduce { (a, b) =>
      when(b.getField("score") > a.getField("score"), b).otherwise(a)
    }
    when(best.getField("score") > 0, best.getField("lang"))
      .otherwise(lit("und"))
  }

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword proxy count: alphabetic runs, digit runs, and
    * single punctuation marks each count as one token (the common
    * pre-tokenizer split). regexp_count, not
    * size(regexp_extract_all): the count needs no match-array
    * materialization. */
  def bpeishTokenCount(text: Column): Column =
    call_function("regexp_count", text,
      lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"))

  /** Quality features: length, punctuation ratio, stopword ratio,
    * mean token length, all-caps-ness. Appended as columns. */
  def qualityFeatures(df: DataFrame, textCol: String = "text")
      : DataFrame = {
    val t = col(textCol)
    val tk = tokens(t)
    val nChars = length(t).cast("double")
    val punct = call_function("regexp_count", t,
      lit("[.,;:!?'\"()\\[\\]{}]"))
    val allStop = stopwords.flatMap(_._2).distinct
    val stopHits = size(filter(tk, x => x.isInCollection(allStop)))
    df
      .withColumn("n_chars_q", length(t))
      .withColumn("n_tokens", size(tk))
      .withColumn("punct_ratio",
        when(nChars > 0, punct.cast("double") / nChars).otherwise(0d))
      .withColumn("stopword_ratio",
        when(size(tk) > 0, stopHits.cast("double") /
          size(tk).cast("double")).otherwise(0d))
      .withColumn("mean_token_len",
        when(size(tk) > 0,
          aggregate(tk, lit(0L), (acc, x) => acc + length(x))
            .cast("double") / size(tk).cast("double")).otherwise(0d))
  }

  /** Composite quality score in [0,1]: length sweet-spot x punctuation
    * sanity x stopword presence — the standard cheap pre-filter shape
    * for pretraining corpora. */
  def qualityScore(text: Column): Column = {
    val t = text
    val tk = tokens(t)
    val n = size(tk).cast("double")
    val lenScore = least(n / 50d, lit(1.0d))
    val punct = call_function("regexp_count", t,
      lit("[.,;:!?'\"()\\[\\]{}]")).cast("double")
    val punctRatio = when(length(t) > 0,
      punct / length(t).cast("double")).otherwise(0d)
    val punctScore = when(punctRatio <= 0.2d, 1.0d)
      .otherwise(greatest(lit(0d), lit(1.0d) - (punctRatio - 0.2d) * 5d))
    val allStop = stopwords.flatMap(_._2).distinct
    val stopRatio = when(n > 0,
      size(filter(tk, x => x.isInCollection(allStop))).cast("double") / n)
      .otherwise(0d)
    val stopScore = least(stopRatio * 10d, lit(1.0d))
    round(lenScore * punctScore * (lit(0.5d) + stopScore * 0.5d), 6)
  }

  /** Document fingerprint: md5 of the canonical normalized text (stable
    * across whitespace/case variation). */
  def fingerprint(text: Column): Column = md5(normalizeText(text))

  /** All stopwords across languages, comma-joined — the plan-time
    * constant handed to the fused stats kernel. */
  val allStopCsv: String =
    stopwords.flatMap(_._2).distinct.mkString(",")

  /** Per-language spec for the fused language-ID kernel
    * ([[graft.functions.TextLangId]]); order defines the tie-break. */
  val langSpec: String = stopwords
    .map { case (l, ws) => s"$l:${ws.mkString(",")}" }.mkString("|")

  /** [[qualityScore]] recomputed from a one-pass
    * [[graft.functions.TextQualityStats]] struct (`st`) plus the char
    * length — identical formula, but token/stopword/punct counting is
    * a single fused scan instead of four HOF/regex passes (measured
    * ~2x on the quality query at the 10x fixture). Equivalence with
    * the HOF form is pinned in `TextAnalysisSpec`. */
  def qualityFromStats(st: Column, nChars: Column): Column = {
    val n = st.getField("n_tokens").cast("double")
    val lenScore = least(n / 50d, lit(1.0d))
    val punctRatio = when(nChars > 0,
      st.getField("punct").cast("double") / nChars.cast("double"))
      .otherwise(0d)
    val punctScore = when(punctRatio <= 0.2d, 1.0d)
      .otherwise(greatest(lit(0d), lit(1.0d) - (punctRatio - 0.2d) * 5d))
    val stopRatio = when(n > 0,
      st.getField("stop_hits").cast("double") / n).otherwise(0d)
    val stopScore = least(stopRatio * 10d, lit(1.0d))
    round(lenScore * punctScore * (lit(0.5d) + stopScore * 0.5d), 6)
  }

  /** The eight must-occur function words of Gopher's quality rule set
    * (Rae et al. 2021, App. A1.1): a document is dropped unless at
    * least two of these appear. */
  val gopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher quality-rule statistics (Rae et al. 2021, App. A1.1 —
    * the non-repetition half; the word-n-gram half is
    * [[graft.functions.TextGopher]] / t39). One struct of integer
    * counters per document, all from built-in codegen'd expressions —
    * a narrow no-shuffle projection at any corpus size:
    *
    *   - `n_words` / `n_word_chars`: whitespace tokens of the
    *     normalized text and their total length (word count and the
    *     mean-word-length rule's numerator);
    *   - `alpha_words`: tokens containing at least one letter
    *     (`\p{L}` — both engines' regexes are Unicode-aware);
    *   - `hash_cnt` / `ellipsis_cnt`: '#' occurrences and
    *     non-overlapping `...`/`…` occurrences in the RAW text (the
    *     symbol-to-word ratio rules);
    *   - `n_lines` / `bullet_lines` / `ellipsis_lines`: raw `\n`
    *     lines, lines starting with a bullet glyph, lines ending in
    *     an ellipsis (the line-format rules — Gopher's bullet set);
    *   - `stop_hits`: how many DISTINCT [[gopherStopwords]] occur.
    *
    * Line structure must come from the RAW text: [[normalizeText]]
    * collapses `\s+`, so the word-level counters use normalized
    * tokens while the line counters split the unnormalized column.
    *
    * Computed by the fused one-pass kernel
    * ([[graft.functions.TextGopherQuality]]) — the HOF composition it
    * replaced (`HofReference.gopherQualityStats`, the executable
    * reference `TextAnalysisSpec` pins the kernel against) spent six
    * regex/HOF passes per document, the per-token interpreted `rlike`
    * filter dominating (the [[qualityFromStats]] lesson; paired
    * idle-box A/B at sf0.1, best/median-of-5: t41_gopher_full
    * 1.59/1.63 -> 0.96/1.03 s, with untouched t39 as the same-run
    * control at 0.81 -> 0.75). Caller must have registered
    * [[graft.functions.GraftFunctions]]. */
  def gopherQualityStats(text: Column): Column =
    graft.functions.GraftFunctions.textGopherQuality(text)

  /** The Gopher quality keep verdict over a [[gopherQualityStats]]
    * struct — the published removal rules inverted, every ratio
    * threshold cross-multiplied to integer comparisons so no float
    * crosses the engine boundary:
    *
    *   - 50 <= word count <= 100,000;
    *   - mean word length in [3, 10];
    *   - '#' and ellipsis symbol-to-word ratios <= 0.1;
    *   - <= 90% of lines bullet-started, <= 30% ellipsis-ended;
    *   - >= 80% of words contain a letter;
    *   - >= 2 of the eight [[gopherStopwords]] present. */
  def gopherQualityKeep(st: Column): Column = {
    val nw = st.getField("n_words")
    val nwc = st.getField("n_word_chars")
    (nw >= 50L) && (nw <= 100000L) &&
      (nwc >= nw * 3L) && (nwc <= nw * 10L) &&
      (st.getField("hash_cnt") * 10L <= nw) &&
      (st.getField("ellipsis_cnt") * 10L <= nw) &&
      (st.getField("bullet_lines") * 10L <=
        st.getField("n_lines") * 9L) &&
      (st.getField("ellipsis_lines") * 10L <=
        st.getField("n_lines") * 3L) &&
      (st.getField("alpha_words") * 5L >= nw * 4L) &&
      (st.getField("stop_hits") >= 2L)
  }
}
