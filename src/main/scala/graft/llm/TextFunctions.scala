package graft.llm

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level text primitives for the LLM-data-pipeline operators.
  *
  * Everything here composes built-in (codegen'd) functions — including
  * the hashing — so dedup/similarity stay inside whole-stage codegen
  * with zero UDF/serialization cost, which is what makes them viable on
  * a 100 TB corpus: per-row work is pure expression evaluation, and the
  * only shuffles are the groupBy/join steps of the callers.
  */
object TextFunctions {

  /** Lowercased, whitespace-collapsed, trimmed text — the canonical form
    * used by fingerprinting and shingling. */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(lower(text), "\\s+", " "))

  /** Whitespace tokens of the normalized text. */
  def tokens(text: Column): Column = split(normalizeText(text), " ")

  /** Band keys of a minhash signature: the base-31 fold of each band's
    * `rows` components mod 1e9+7, restatable in external SQL.
    * Components are < 1e9+7 so the fold never overflows int64. Two
    * documents that agree on a band always share its key; cross-band
    * keys never meet because buckets are keyed by band index too.
    *
    * The key lies in [0, P), P ≈ 2^30, so two documents that DISAGREE
    * on a band still share its key with probability ≈ 1/P. Verification
    * drops those pairs, so the output does not depend on it, but
    * spurious candidates grow as N^2/P per band with corpus size N. */
  def polyBands(minhashes: Column, bands: Int, rows: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => aggregate(slice(minhashes, b * rows + 1, lit(rows)),
        lit(0L),
        (acc, v) => (acc * 31L + v) % graft.functions.PolyHash.P))

  /** Hamming distance between two 64-bit signatures. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))
}
