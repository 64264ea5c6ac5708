package graft.llm

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Deterministic weighted domain mixing — the "sample source s at
  * rate r_s" step that sets a pretraining corpus's domain proportions
  * (web 30%, books 10%, ... of the token budget).
  *
  * Keep decision: `hash(id) mod M < floor(r * M)` — a pure narrow
  * filter, zero shuffle, any corpus size. Determinism is the point:
  * the same row set survives every rerun (resumable pipelines,
  * reproducible ablations), rates can be tuned per-source without
  * touching other domains, and the SAME predicate can be pushed to a
  * parquet scan.
  *
  * The hash is an LCG step mod 2^31 ([[keepPortable]]) — plain
  * modular arithmetic restatable in any engine's SQL, so every query
  * that mixes carries a full DuckDB oracle.
  */
object Mixing {

  private val M: Long = 1000000L

  /** Oracle-portable keep-predicate (LCG step).
    *
    * Defined for the FULL int64 id domain: the id is first reduced to
    * a non-negative residue mod 2^31 (`pmod`, so negative ids land in
    * `[0, 2^31)` on every engine — plain `%` truncates toward zero and
    * would diverge between Spark `pmod` and SQL `%` on negatives),
    * which also bounds the LCG multiply at (2^31-1) * 1103515245
    * ≈ 2.4e18 < Long.MaxValue — no overflow, ANSI-mode safe. The SQL
    * restatement is `((id % 2^31) + 2^31) % 2^31` for the reduction;
    * every later operand is non-negative so plain `%` matches `pmod`. */
  def keepPortable(id: Column, rate: Column): Column = {
    val m = lit(2147483648L)
    pmod(pmod(id, m) * 1103515245L + 12345L, m) % M <
      floor(rate * M).cast("long")
  }
}
