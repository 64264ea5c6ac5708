package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.PolyHash

/** Count-min sketch (Cormode & Muthukrishnan, "An improved data
  * stream summary: the count-min sketch and its applications",
  * J. Algorithms 2005) over a term column — the sublinear-memory path
  * for corpus-wide frequency queries when the exact `groupBy(term)`
  * of [[graft.queries.LlmQueries]] t05 stops fitting (100 TB corpora
  * have billions of distinct terms; the sketch is depth x width
  * counters regardless).
  *
  * Hashing is the portable polynomial family ([[PolyHash]]): row i's
  * bucket is `((a_i * h + b_i) mod P) mod width` with `h` the base-31
  * code-point hash — deterministic, engine-independent, and exactly
  * restatable in the DuckDB oracle.
  *
  * Dataflow: one narrow projection computes all `depth` buckets per
  * occurrence, one explode fans them out, one hash aggregation on
  * (row, bucket) builds the counters — partial-aggregate friendly, a
  * single shuffle whose cardinality is at most depth x width however
  * large the corpus. Estimation joins candidates to the counter table
  * on (row, bucket) and takes the per-term minimum.
  */
object Sketches {

  /** `h` column for a (already normalized) term — the native fused
    * form of the base-31 rolling fingerprint arithmetic
    * (callers register [[graft.functions.GraftFunctions]] first). */
  private def termHash(term: Column): Column =
    graft.functions.GraftFunctions.polyHash(term)

  private def bucket(h: Column, i: Int, width: Int): Column =
    ((lit(PolyHash.multiplier(i)) * h + lit(PolyHash.offset(i)))
      % lit(PolyHash.P)) % lit(width.toLong)

  /** Build the counter table: one row per (row, bucket) with the
    * summed occurrence count. Cardinality <= depth x width. */
  def cmsCounters(terms: DataFrame, termCol: String = "term",
      depth: Int = 4, width: Int = 1024): DataFrame = {
    graft.functions.GraftFunctions.register(terms.sparkSession)
    val h = termHash(col(termCol))
    terms
      .select(posexplode(array(
        (0 until depth).map(i => bucket(h, i, width)): _*)))
      .withColumnRenamed("pos", "row")
      .withColumnRenamed("col", "bucket")
      .groupBy("row", "bucket")
      .agg(count(lit(1)).as("cnt"))
  }

  /** Point-estimate the frequency of each candidate term: the minimum
    * of its `depth` counters (the CMS guarantee: estimate >= truth,
    * overshoot bounded by collisions). `candidates` is expected small
    * (heavy-hitter shortlist) — the join broadcasts it. */
  def cmsEstimate(counters: DataFrame, candidates: DataFrame,
      termCol: String = "term", depth: Int = 4,
      width: Int = 1024): DataFrame = {
    graft.functions.GraftFunctions.register(candidates.sparkSession)
    val h = termHash(col(termCol))
    val probes = candidates
      .select(col(termCol),
        posexplode(array(
          (0 until depth).map(i => bucket(h, i, width)): _*)))
      .withColumnRenamed("pos", "row")
      .withColumnRenamed("col", "bucket")
    probes
      .join(counters, Seq("row", "bucket"))
      .groupBy(termCol)
      .agg(min(col("cnt")).as("cms_estimate"))
  }

  /** HyperLogLog-style register table (Flajolet et al., "HyperLogLog:
    * the analysis of a near-optimal cardinality estimation algorithm",
    * AofA 2007) over a term column, on the portable hash: bucket =
    * h mod 2^p, and the register value is the trailing-zero rank of
    * the remaining bits (rho = tz + 1, the same geometric observable
    * as the leading-zero form for uniform bits — and restatable as
    * pure integer arithmetic in external SQL, where a leading-zero
    * count would need floating log2).
    *
    * Registers are EXACT integers — `2^p` rows max, one narrow
    * projection plus one max-aggregation however large the input —
    * so the sketch state itself hash-gates against the oracle;
    * the cardinality estimate derived from it is [[hllEstimate]].
    * Duplicates collapse by construction (max per bucket), so feeding
    * occurrences or distinct terms yields identical registers. */
  def hllRegisters(terms: DataFrame, termCol: String = "term",
      p: Int = 8): DataFrame = {
    require(p >= 4 && p <= 16, "p in [4,16]")
    graft.functions.GraftFunctions.register(terms.sparkSession)
    val m = (1L << p)
    // The raw polynomial hash clusters on structured vocabularies
    // (shared prefixes differing in trailing chars), and a linear
    // affine mix preserves that additive structure — HLL needs a
    // nonlinear avalanche. xor-shift/multiply rounds (xxhash32-style
    // finalizer) in int64-safe portable ops: xor and integer shifts
    // exist in both engines, and x*c stays below 2^62.
    val h = {
      var x: Column = termHash(col(termCol))
      x = x.bitwiseXOR(shiftright(x, 16))
      x = (x * lit(2654435761L)) % lit(1L << 30)
      x = x.bitwiseXOR(shiftright(x, 13))
      x = (x * lit(2246822519L)) % lit(1L << 30)
      x.bitwiseXOR(shiftright(x, 16))
    }
    // h < 2^30; rest < 2^(30-p): double division below stays exact
    // (values far under 2^53).
    val bucket = pmod(h, lit(m))
    val rest = floor(h / lit(m)).cast("long")
    val maxRho = 30 - p + 1
    val tz = size(filter(
      sequence(lit(1), lit(maxRho - 1)),
      k => pmod(col("_rest"),
        call_function("shiftleft", lit(1L), k)) === 0))
    terms
      .select(bucket.as("bucket"), rest.as("_rest"))
      .withColumn("rho",
        when(col("_rest") === 0, lit(maxRho)).otherwise(tz + 1))
      .groupBy("bucket")
      .agg(max(col("rho")).as("max_rho"))
  }

  /** Standard HLL estimate from a register table (driver-side — the
    * table is at most 2^p rows by construction). Raw harmonic-mean
    * estimate with the small-range linear-counting correction. */
  def hllEstimate(registers: DataFrame, p: Int = 8): Double = {
    val m = 1 << p
    val regs = registers.select("bucket", "max_rho")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val alpha = m match {
      case 16 => 0.673
      case 32 => 0.697
      case 64 => 0.709
      case _ => 0.7213 / (1.0 + 1.079 / m)
    }
    val sum = (0 until m).map { j =>
      math.pow(2.0, -regs.getOrElse(j.toLong, 0).toDouble)
    }.sum
    val raw = alpha * m * m / sum
    val zeros = m - regs.size
    if (raw <= 2.5 * m && zeros > 0)
      m * math.log(m.toDouble / zeros) // linear counting
    else raw
  }
}
