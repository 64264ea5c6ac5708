package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** One-pass text-quality statistics kernel.
  *
  * Computes, in a single scan of the string, exactly what the HOF
  * composition in [[graft.llm.TextAnalysis]] computes in four passes
  * (lower+regexp_replace+trim+split, size, filter-with-In, and
  * regexp_count):
  *
  *  - `n_tokens`: number of whitespace-delimited tokens of the
  *    normalized text — where "normalized" is
  *    `trim(regexp_replace(lower(s), "\\s+", " "))` and the Java-regex
  *    `\s` set is {space, \t, \n, \x0B, \f, \r}. An all-whitespace or
  *    empty input yields 1, matching `split("", " ") == [""]`.
  *  - `stop_hits`: tokens (lowercased, punctuation attached — the raw
  *    split tokens, not word-extracted ones) contained in the
  *    stopword set.
  *  - `punct`: occurrences of `[.,;:!?'"()\[\]{}]` in the text.
  *
  * Equivalence with the HOF form is pinned in `TextAnalysisSpec`; the
  * DuckDB oracle restates the same semantics in SQL, so this is
  * oracle-gated end-to-end. The fused loop exists because interpreted
  * higher-order functions with a per-token 56-way `In` dominate the
  * quality query at scale (same lesson as [[PolyShingleHashes]]).
  */
object TextStats {

  private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' ||
      c == '\r'

  private def isPunct(c: Char): Boolean = c match {
    case '.' | ',' | ';' | ':' | '!' | '?' | '\'' | '"' | '(' | ')' |
        '[' | ']' | '{' | '}' => true
    case _ => false
  }

  def compute(s: UTF8String,
      stop: java.util.HashSet[String]): InternalRow = {
    val lowered = s.toLowerCase.toString
    val len = lowered.length
    var nTok = 0
    var hits = 0
    var punct = 0
    val sb = new java.lang.StringBuilder(16)
    var i = 0
    while (i < len) {
      val c = lowered.charAt(i)
      if (isWs(c)) {
        if (sb.length > 0) {
          nTok += 1
          if (stop.contains(sb.toString)) hits += 1
          sb.setLength(0)
        }
      } else {
        sb.append(c)
        if (isPunct(c)) punct += 1
      }
      i += 1
    }
    if (sb.length > 0) {
      nTok += 1
      if (stop.contains(sb.toString)) hits += 1
    }
    // split("", " ") yields [""]: one (empty) token, never a stop hit
    if (nTok == 0) nTok = 1
    new GenericInternalRow(Array[Any](nTok, hits, punct))
  }
}

/** One-pass repetition statistics — the Gopher-style repetition
  * filters (Rae et al. 2021, "Scaling Language Models", Appendix A:
  * duplicate-line / top-n-gram fractions) over the whitespace tokens
  * of the normalized text:
  *
  *  - `n_tokens` / `distinct_tokens`: vocabulary concentration
  *    (tokenization identical to [[TextStats]], including the
  *    empty-input -> one empty token rule).
  *  - `n_grams` / `top_gram`: word-bigram count and the multiplicity
  *    of the most frequent bigram — `top_gram / n_grams` is the
  *    "fraction of text in the most common n-gram" signal.
  *
  * Single scan with two hash maps; O(len) per document, no shuffle —
  * the operator stays a narrow projection at any corpus size. */
object TextRepetition {

  def compute(s: UTF8String): InternalRow = {
    val lowered = s.toLowerCase.toString
    val len = lowered.length
    val distinct = new java.util.HashSet[String]()
    val bigrams = new java.util.HashMap[String, Integer]()
    var nTok = 0
    var top = 0
    var prev: String = null
    val sb = new java.lang.StringBuilder(16)
    def endToken(): Unit = if (sb.length > 0) {
      val tok = sb.toString
      nTok += 1
      distinct.add(tok)
      if (prev != null) {
        val bg = prev + " " + tok
        val c = bigrams.merge(bg, 1, (a, b) => a + b)
        if (c > top) top = c
      }
      prev = tok
      sb.setLength(0)
    }
    var i = 0
    while (i < len) {
      val c = lowered.charAt(i)
      if (c == ' ' || c == '\t' || c == '\n' || c == '\u000B' ||
          c == '\f' || c == '\r') endToken()
      else sb.append(c)
      i += 1
    }
    endToken()
    if (nTok == 0) { nTok = 1; distinct.add("") } // split("", " ") = [""]
    new GenericInternalRow(Array[Any](
      nTok, distinct.size, math.max(nTok - 1, 0), top))
  }
}

/** One-pass language identification — the fused form of
  * [[graft.llm.TextAnalysis.languageOf]]: tokenize the normalized
  * text once, count per-language stopword hits via a single
  * token→language-set map, and pick the FIRST language (in spec
  * order) reaching the maximum hit count; "und" when nothing hits.
  * Replaces one interpreted filter-with-`In` HOF pass per language
  * (4x the whole-corpus scan cost of the quality kernel). */
object LangId {

  /** spec: "en:the,and,of|fr:le,la,..." parsed once at plan time. */
  def parse(spec: String)
      : (Array[String], java.util.HashMap[String, Array[Int]]) = {
    val langs = spec.split('|').map(_.takeWhile(_ != ':'))
    val m = new java.util.HashMap[String, Array[Int]]()
    spec.split('|').zipWithIndex.foreach { case (part, i) =>
      part.dropWhile(_ != ':').drop(1).split(',')
        .filter(_.nonEmpty).foreach { w =>
          val prev = m.get(w)
          // A word duplicated within one language's list must count
          // once per token, matching the HOF `filter` semantics the
          // kernel is pinned against — hence the contains guard.
          if (prev == null) m.put(w, Array(i))
          else if (!prev.contains(i)) m.put(w, prev :+ i)
        }
    }
    (langs, m)
  }

  def detect(s: UTF8String, langs: Array[String],
      words: java.util.HashMap[String, Array[Int]]): UTF8String = {
    val lowered = s.toLowerCase.toString
    val len = lowered.length
    val counts = new Array[Int](langs.length)
    val sb = new java.lang.StringBuilder(16)
    def endToken(): Unit = if (sb.length > 0) {
      val hit = words.get(sb.toString)
      if (hit != null) {
        var j = 0
        while (j < hit.length) { counts(hit(j)) += 1; j += 1 }
      }
      sb.setLength(0)
    }
    var i = 0
    while (i < len) {
      val c = lowered.charAt(i)
      if (c == ' ' || c == '\t' || c == '\n' || c == '\u000B' ||
          c == '\f' || c == '\r') endToken()
      else sb.append(c)
      i += 1
    }
    endToken()
    // first language reaching the max wins (strictly-greater fold)
    var best = 0
    var bestCount = counts(0)
    var j = 1
    while (j < counts.length) {
      if (counts(j) > bestCount) { best = j; bestCount = counts(j) }
      j += 1
    }
    UTF8String.fromString(if (bestCount > 0) langs(best) else "und")
  }
}

/** Native fused language ID (see [[LangId]]). */
case class TextLangId(child: Expression, spec: String)
    extends UnaryExpression {

  @transient private lazy val parsed = LangId.parse(spec)

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires string, got ${t.simpleString(10)}")
    }

  override def dataType: DataType = StringType

  override def nullSafeEval(input: Any): Any =
    LangId.detect(input.asInstanceOf[UTF8String], parsed._1, parsed._2)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val langsRef = ctx.addReferenceObj("langs", parsed._1,
      "java.lang.String[]")
    val wordsRef = ctx.addReferenceObj("words", parsed._2,
      "java.util.HashMap")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.LangId.detect($c, $langsRef, $wordsRef)")
  }

  override protected def withNewChildInternal(newChild: Expression)
      : TextLangId = copy(child = newChild)

  override def prettyName: String = "text_lang_id"
}

/** Native fused repetition statistics (see [[TextRepetition]]). */
case class TextRepetitionStats(child: Expression)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires string, got ${t.simpleString(10)}")
    }

  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", IntegerType, nullable = false),
    StructField("distinct_tokens", IntegerType, nullable = false),
    StructField("n_grams", IntegerType, nullable = false),
    StructField("top_gram", IntegerType, nullable = false)))

  override def nullSafeEval(input: Any): Any =
    TextRepetition.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TextRepetition.compute($c)")

  override protected def withNewChildInternal(newChild: Expression)
      : TextRepetitionStats = copy(child = newChild)

  override def prettyName: String = "text_repetition_stats"
}

/** Native fused form of the quality statistics (see [[TextStats]]).
  * `stopCsv` is a comma-joined stopword list resolved to a set at plan
  * time (a plan-time constant, like the minhash coefficients). */
case class TextQualityStats(child: Expression, stopCsv: String)
    extends UnaryExpression {

  @transient private lazy val stopSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    stopCsv.split(',').foreach(w => if (w.nonEmpty) s.add(w))
    s
  }

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires string, got ${t.simpleString(10)}")
    }

  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", IntegerType, nullable = false),
    StructField("stop_hits", IntegerType, nullable = false),
    StructField("punct", IntegerType, nullable = false)))

  override def nullSafeEval(input: Any): Any =
    TextStats.compute(input.asInstanceOf[UTF8String], stopSet)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val setRef = ctx.addReferenceObj("stopSet", stopSet,
      "java.util.HashSet")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TextStats.compute($c, $setRef)")
  }

  override protected def withNewChildInternal(newChild: Expression)
      : TextQualityStats = copy(child = newChild)

  override def prettyName: String = "text_quality_stats"
}

/** One-pass kernel for the FULL Gopher repetition table (Rae et al.
  * 2021, "Scaling Language Models: Methods, Analysis & Insights from
  * Training Gopher", Appendix A1.1) — the word-n-gram half of the
  * published filter, over the whitespace tokens of the normalized
  * text (tokenization identical to [[TextStats]], including the
  * empty-input -> one empty token rule):
  *
  *  - `top{2,3,4}_chars`: characters attributable to the most
  *    frequent word n-gram — `multiplicity x n-gram token chars`,
  *    where ties on multiplicity resolve to the LARGEST char product
  *    (deterministic and SQL-restatable, unlike "first encountered").
  *  - `dup{5..10}_chars`: characters COVERED by occurrences of any
  *    n-gram appearing >= 2 times — token-granular interval union
  *    (a token counts once however many duplicated n-grams span it),
  *    the exact published "fraction of characters contained within
  *    duplicated n-grams" accounting, not the multiplicity-weighted
  *    upper bound.
  *
  * Character accounting is SPACE-FREE on both numerator and
  * denominator (`n_token_chars` = sum of token lengths): the
  * published form's treatment of inter-word spaces is
  * implementation-defined, so the engine pins the one choice that is
  * exact and identical in Spark and the DuckDB restatement. All
  * signals are INTEGER numerators over the `n_token_chars`
  * denominator — the keep verdict cross-multiplies, so no float ever
  * crosses an engine boundary.
  *
  * One scan per n (9 total), two passes over the gram starts for the
  * coverage half; O(len x 9) per document with bounded memory — a
  * pure narrow projection, no shuffle at any corpus size. The line/
  * paragraph half of the published table degenerates on single-line
  * corpora and is carried by the same machinery over
  * split-on-newline tokens when the corpus has them. */
object TextGopher {

  private val TOP_NS = Array(2, 3, 4)
  private val DUP_NS = Array(5, 6, 7, 8, 9, 10)

  def compute(s: UTF8String): InternalRow = {
    val lowered = s.toLowerCase.toString
    val len = lowered.length
    val toks = new java.util.ArrayList[String](16)
    val sb = new java.lang.StringBuilder(16)
    var i = 0
    while (i < len) {
      val c = lowered.charAt(i)
      if (c == ' ' || c == '\t' || c == '\n' || c == '\u000B' ||
          c == '\f' || c == '\r') {
        if (sb.length > 0) { toks.add(sb.toString); sb.setLength(0) }
      } else sb.append(c)
      i += 1
    }
    if (sb.length > 0) toks.add(sb.toString)
    if (toks.isEmpty) toks.add("") // split("", " ") == [""]
    val t = toks.size
    val tokLen = new Array[Int](t)
    var ntc = 0L
    var j = 0
    while (j < t) {
      tokLen(j) = toks.get(j).length; ntc += tokLen(j); j += 1
    }

    // Token interning: map each DISTINCT token to a char-sized id so
    // the nine gram passes below hash/compare n-CHAR id strings
    // instead of n full tokens plus joining spaces — the same
    // equality relation (interning is injective, so id-sequence
    // equality IS token-sequence equality), at a fraction of the
    // hashing and allocation per gram. Ids are raw char values
    // (surrogate halves included) — String equality/hashCode are
    // code-unit-exact, so any char value is a safe key component. A
    // document with >= 65536 DISTINCT tokens falls back to the
    // joined-string keys (exactness over speed; both paths pinned
    // equal in TextAnalysisSpec).
    val intern = new java.util.HashMap[String, Integer](t * 2)
    val ids = new Array[Char](t)
    val lenById = new Array[Int](t)
    var next = 0
    j = 0
    while (j < t && next >= 0) {
      val tok = toks.get(j)
      var id = intern.get(tok)
      if (id == null) {
        if (next == 65536) next = -1 // overflow: fallback keys below
        else {
          id = Integer.valueOf(next)
          lenById(next) = tokLen(j)
          intern.put(tok, id)
          next += 1
        }
      }
      if (next >= 0) ids(j) = id.intValue().toChar
      j += 1
    }
    val interned = next >= 0

    val out = new Array[Any](2 + TOP_NS.length + DUP_NS.length)
    out(0) = t
    out(1) = ntc

    def gramKeys(n: Int): Array[String] = {
      val g = t - n + 1
      val keys = new Array[String](g)
      if (interned) {
        var a = 0
        while (a < g) { keys(a) = new String(ids, a, n); a += 1 }
      } else {
        val kb = new java.lang.StringBuilder(32)
        var a = 0
        while (a < g) {
          kb.setLength(0)
          var b = 0
          while (b < n) {
            if (b > 0) kb.append(' ')
            kb.append(toks.get(a + b))
            b += 1
          }
          keys(a) = kb.toString
          a += 1
        }
      }
      keys
    }

    /** Token chars of a gram key (joining spaces excluded): summed
      * per-id lengths for an interned key, joined length minus the
      * n-1 spaces for a fallback key — identical values either way. */
    def gramChars(key: String, n: Int): Long =
      if (interned) {
        var chars = 0L
        var b = 0
        while (b < n) { chars += lenById(key.charAt(b)); b += 1 }
        chars
      } else (key.length - (n - 1)).toLong

    var slot = 2
    var ni = 0
    while (ni < TOP_NS.length) {
      val n = TOP_NS(ni)
      var top = 0L
      if (t >= n) {
        val keys = gramKeys(n)
        val counts = new java.util.HashMap[String, Integer](keys.length)
        var a = 0
        while (a < keys.length) {
          counts.merge(keys(a), 1, (x, y) => x + y)
          a += 1
        }
        // max multiplicity first, then the largest char product among
        // the argmax grams (chars exclude the n-1 joining spaces)
        var maxCnt = 0
        var maxChars = 0L
        val it = counts.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          val c: Int = e.getValue
          val chars = gramChars(e.getKey, n)
          if (c > maxCnt) { maxCnt = c; maxChars = chars }
          else if (c == maxCnt && chars > maxChars) maxChars = chars
        }
        top = maxCnt.toLong * maxChars
      }
      out(slot) = top
      slot += 1
      ni += 1
    }

    ni = 0
    while (ni < DUP_NS.length) {
      val n = DUP_NS(ni)
      var dup = 0L
      if (t >= n) {
        val keys = gramKeys(n)
        val counts = new java.util.HashMap[String, Integer](keys.length)
        var a = 0
        while (a < keys.length) {
          counts.merge(keys(a), 1, (x, y) => x + y)
          a += 1
        }
        val covered = new Array[Boolean](t)
        a = 0
        while (a < keys.length) {
          if (counts.get(keys(a)) >= 2) {
            var p = a
            while (p < a + n) { covered(p) = true; p += 1 }
          }
          a += 1
        }
        var p = 0
        while (p < t) { if (covered(p)) dup += tokLen(p); p += 1 }
      }
      out(slot) = dup
      slot += 1
      ni += 1
    }
    new GenericInternalRow(out)
  }
}

/** One-pass kernel for the Gopher QUALITY-rule statistics — the fused
  * form of the test-side `HofReference.gopherQualityStats`, computing
  * the identical nine-counter struct in two linear scans (one over the
  * lowered text for the token-level counters, one over the raw text
  * for the symbol/line counters) instead of the HOF composition's six
  * regex/HOF passes (tokenize + aggregate + per-token `rlike` filter +
  * two `regexp_count`s + two per-line `rlike` filters + eight
  * `array_contains`). Per-token `rlike` in an interpreted lambda was
  * the dominant cost of t40/t41 — the [[TextStats]] lesson again.
  *
  * Exact-equivalence notes (pinned in `TextAnalysisSpec`):
  *  - tokens: whitespace-delimited (Java `\s` set) runs of the
  *    LOWERED text, empties dropped — identical to
  *    `filter(tokens(text), length > 0)`;
  *  - lengths count CODE POINTS (Spark `length` = `numChars`), so
  *    supplementary characters weigh 1, not 2;
  *  - `alpha_words` tests `Character.isLetter` per code point —
  *    exactly the five Unicode L categories Java regex `\p{L}`
  *    matches;
  *  - `ellipsis_cnt` replicates the non-overlapping leftmost-first
  *    scan of `regexp_count(text, "\\.{3}|…")`: three dots consume
  *    three chars, '…' consumes one;
  *  - lines are `\n`-separated segments INCLUDING the trailing empty
  *    one (`split` keeps trailing empties), bullet/ellipsis checks
  *    strip ' ' only (Spark `ltrim`/`rtrim` trim the space char, not
  *    tabs). */
object GopherQuality {

  private val StopWords: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer]()
    val ws = Array("the", "be", "to", "of", "and", "that", "have",
      "with")
    var i = 0
    while (i < ws.length) { m.put(ws(i), i); i += 1 }
    m
  }

  private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' ||
      c == '\r'

  private def isBullet(c: Char): Boolean =
    c == '\u2022' || c == '\u2023' || c == '\u25aa' || c == '*' ||
      c == '-'

  def compute(s: UTF8String): InternalRow = {
    // Token-level counters over the lowered text (Spark's `lower` IS
    // UTF8String.toLowerCase, so this is the exact same string).
    val lowered = s.toLowerCase.toString
    var nWords = 0L
    var nWordChars = 0L
    var alphaWords = 0L
    val stopSeen = new Array[Boolean](8)
    val sb = new java.lang.StringBuilder(16)
    def endToken(): Unit = if (sb.length > 0) {
      nWords += 1
      val tok = sb.toString
      nWordChars += tok.codePointCount(0, tok.length)
      var p = 0
      var letter = false
      while (!letter && p < tok.length) {
        val cp = tok.codePointAt(p)
        if (Character.isLetter(cp)) letter = true
        p += Character.charCount(cp)
      }
      if (letter) alphaWords += 1
      val si = StopWords.get(tok)
      if (si != null) stopSeen(si) = true
      sb.setLength(0)
    }
    var i = 0
    while (i < lowered.length) {
      val c = lowered.charAt(i)
      if (isWs(c)) endToken() else sb.append(c)
      i += 1
    }
    endToken()
    var stopHits = 0L
    var k = 0
    while (k < 8) { if (stopSeen(k)) stopHits += 1; k += 1 }

    // Symbol + line counters over the RAW text.
    val raw = s.toString
    val len = raw.length
    var hashCnt = 0L
    var ellCnt = 0L
    var nLines = 1L
    var bulletLines = 0L
    var ellLines = 0L
    def threeDots(at: Int): Boolean =
      at + 2 < len && raw.charAt(at) == '.' &&
        raw.charAt(at + 1) == '.' && raw.charAt(at + 2) == '.'
    def lineStats(ls: Int, le: Int): Unit = {
      var p = ls
      while (p < le && raw.charAt(p) == ' ') p += 1
      if (p < le && isBullet(raw.charAt(p))) bulletLines += 1
      var q = le - 1
      while (q >= ls && raw.charAt(q) == ' ') q -= 1
      // Java's default-mode `$` also matches just before ONE trailing
      // line terminator \u2014 inside a `\n`-split segment that can only be
      // \r, \u0085, \u2028 or \u2029 \u2014 so "dots...\r" IS
      // ellipsis-ended under the HOF's rlike and must be here too.
      if (q >= ls) {
        val tc = raw.charAt(q)
        if (tc == '\r' || tc == '\u0085' || tc == '\u2028' ||
          tc == '\u2029') q -= 1
      }
      if (q >= ls && (raw.charAt(q) == '\u2026' ||
          (q - 2 >= ls && raw.charAt(q) == '.' &&
            raw.charAt(q - 1) == '.' && raw.charAt(q - 2) == '.')))
        ellLines += 1
    }
    var lineStart = 0
    i = 0
    while (i < len) {
      val c = raw.charAt(i)
      if (c == '#') { hashCnt += 1; i += 1 }
      else if (c == '\n') {
        lineStats(lineStart, i); nLines += 1; lineStart = i + 1
        i += 1
      } else if (threeDots(i)) { ellCnt += 1; i += 3 }
      else if (c == '\u2026') { ellCnt += 1; i += 1 }
      else i += 1
    }
    lineStats(lineStart, len)
    new GenericInternalRow(Array[Any](nWords, nWordChars, alphaWords,
      hashCnt, ellCnt, nLines, bulletLines, ellLines, stopHits))
  }
}

/** Native fused Gopher quality-rule statistics (see
  * [[GopherQuality]]). */
case class TextGopherQuality(child: Expression)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires string, got ${t.simpleString(10)}")
    }

  override def dataType: DataType = StructType(
    Seq("n_words", "n_word_chars", "alpha_words", "hash_cnt",
      "ellipsis_cnt", "n_lines", "bullet_lines", "ellipsis_lines",
      "stop_hits").map(f => StructField(f, LongType, nullable = false)))

  override def nullSafeEval(input: Any): Any =
    GopherQuality.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.GopherQuality.compute($c)")

  override protected def withNewChildInternal(newChild: Expression)
      : TextGopherQuality = copy(child = newChild)

  override def prettyName: String = "text_gopher_quality"
}

/** Native fused Gopher repetition table (see [[TextGopher]]). */
case class TextGopherRepetition(child: Expression)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires string, got ${t.simpleString(10)}")
    }

  override def dataType: DataType = StructType(
    StructField("n_tokens", IntegerType, nullable = false) +:
    StructField("n_token_chars", LongType, nullable = false) +:
    (Seq(2, 3, 4).map(n =>
      StructField(s"top${n}_chars", LongType, nullable = false)) ++
     Seq(5, 6, 7, 8, 9, 10).map(n =>
      StructField(s"dup${n}_chars", LongType, nullable = false))))

  override def nullSafeEval(input: Any): Any =
    TextGopher.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TextGopher.compute($c)")

  override protected def withNewChildInternal(newChild: Expression)
      : TextGopherRepetition = copy(child = newChild)

  override def prettyName: String = "text_gopher_repetition"
}
