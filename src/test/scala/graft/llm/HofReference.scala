package graft.llm

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import TextFunctions.{normalizeText, tokens}

/** Higher-order-function compositions of the native kernels'
  * semantics — the executable specifications the specs pin the fused
  * expressions against. No query runs them: each evaluates
  * interpreted (HOFs are CodegenFallback), which is why the kernels
  * replaced them.
  */
object HofReference {

  /** Character n-gram shingles (distinct) of the normalized text.
    * Short texts (< n chars) yield a single whole-text shingle — the
    * string form of `PolyShingleHashes`. */
  def shingles(text: Column, n: Int): Column = {
    val t = normalizeText(text)
    array_distinct(
      when(length(t) < n, array(t)).otherwise(
        transform(sequence(lit(0), length(t) - n),
          i => t.substr(i + 1, lit(n)))))
  }

  /** Exact Jaccard similarity of two (distinct-element) arrays — the
    * exact half of `MinhashJaccardVerify`. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val union = (size(a) + size(b)).cast("double") - inter
    when(union === 0d, lit(1d)).otherwise(inter / union)
  }

  /** 64-bit SimHash over a token array: per bit, the sign of the sum of
    * +-1 votes from each token's xxhash64 — the `SimHash64` kernel's
    * semantics. Dynamic shift amounts need the SQL form of shiftright,
    * since `functions.shiftright`/`shiftleft` take Int amounts only. */
  def simHash(tokensCol: Column): Column = {
    def bit(h: Column, b: Column): Column =
      call_function("shiftright", h, b).bitwiseAND(lit(1L))
    val hashes = transform(tokensCol, t => xxhash64(t))
    // For each bit b: sum of (bit set ? 1 : -1) over token hashes;
    // simhash bit b = 1 iff the sum is positive.
    aggregate(
      filter(
        transform(sequence(lit(0), lit(63)), b =>
          when(
            aggregate(hashes, lit(0L),
              (acc, h) => acc +
                when(bit(h, b) === 1, 1L).otherwise(-1L))
              > 0L, b).otherwise(lit(null).cast("int"))),
        x => x.isNotNull),
      lit(0L),
      (acc, b) => acc.bitwiseOR(call_function("shiftleft", lit(1L), b)))
  }

  /** Polynomial rolling-hash fingerprint of the normalized text
    * (base-31 modulo 1e9+7) — the `PolyHashString` kernel's
    * semantics over the normalized text. */
  def rollingFingerprint(text: Column): Column =
    aggregate(split(normalizeText(text), ""), lit(0L),
      (acc, ch) => (acc * lit(31L) + ascii(ch).cast("long"))
        % lit(1000000007L))

  /** Cosine similarity of two float-array embeddings (zip_with dot
    * product + aggregate norms), 0.0 for a zero vector — the
    * `ArrayCosine` kernel's semantics. */
  def cosine(a: Column, b: Column): Column = {
    def dot(x: Column, y: Column): Column =
      aggregate(zip_with(x, y, (p, q) => p * q),
        lit(0.0d), (acc, v) => acc + v)
    val na = sqrt(dot(a, a))
    val nb = sqrt(dot(b, b))
    when(na === 0d || nb === 0d, lit(0d))
      .otherwise(dot(a, b) / (na * nb))
  }

  /** The original HOF/regex composition of
    * [[TextAnalysis.gopherQualityStats]] (six regex/HOF passes per
    * document) — the `TextGopherQuality` kernel's semantics. */
  def gopherQualityStats(text: Column): Column = {
    val tk = filter(tokens(text), t => length(t) > 0)
    val lines = split(text, "\n")
    val bullet = "^[\u2022\u2023\u25aa*-]"
    val ell = "(\\.{3}|\u2026)$"
    struct(
      size(tk).cast("long").as("n_words"),
      coalesce(aggregate(tk, lit(0L), (acc, x) => acc + length(x)),
        lit(0L)).as("n_word_chars"),
      size(filter(tk, x => x.rlike("\\p{L}"))).cast("long")
        .as("alpha_words"),
      call_function("regexp_count", text, lit("#")).cast("long")
        .as("hash_cnt"),
      call_function("regexp_count", text, lit("\\.{3}|\u2026"))
        .cast("long").as("ellipsis_cnt"),
      size(lines).cast("long").as("n_lines"),
      size(filter(lines, l => ltrim(l).rlike(bullet))).cast("long")
        .as("bullet_lines"),
      size(filter(lines, l => rtrim(l).rlike(ell))).cast("long")
        .as("ellipsis_lines"),
      TextAnalysis.gopherStopwords.map(w =>
        when(array_contains(tk, w), 1L).otherwise(0L))
        .reduce(_ + _).as("stop_hits"))
  }
}
