package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Portable-hash signature kernels: the only minhash family.
  *
  * Same one-pass native shape as [[SimHash64]], but the per-element
  * hash is a base-31 polynomial over Unicode code points modulo 1e9+7
  * (paired with a base-131 family mod 1e9+9 for the wide gram keys) —
  * plain modular arithmetic reproducible verbatim in any engine's SQL
  * (`list_reduce` over `ascii(c)` in DuckDB), which is what lets the
  * LSH-family queries carry a full external oracle. DuckDB 1.0.0 has
  * no `xxhash64`, so an xxhash64 family could never be oracle-checked.
  */
object PolyHash {

  val P: Long = 1000000007L
  /** Knuth multiplicative mix + 2^30 fold for simhash bit votes. */
  val Mix: Long = 2654435761L
  val SimBits: Int = 30
  private val M30: Long = 1L << SimBits

  /** Base-31 polynomial over code points, mod P. Empty string -> 0. */
  def hashString(s: UTF8String): Long = {
    val str = s.toString
    var acc = 0L
    var i = 0
    val n = str.length
    while (i < n) {
      val cp = str.codePointAt(i)
      acc = (acc * 31L + cp) % P
      i += Character.charCount(cp)
    }
    acc
  }

  /** Affine-permutation coefficients, simple enough to restate in SQL:
    * a_i = ((i*1103515245 + 12345) mod (P-1)) + 1, b_i = (i*69069 + 7)
    * mod P. All intermediate products fit in signed 64-bit. */
  def multiplier(i: Int): Long =
    ((i.toLong * 1103515245L + 12345L) % (P - 1L)) + 1L
  def offset(i: Int): Long = (i.toLong * 69069L + 7L) % P

  /** Minhash over WIDE gram keys ([[shingleHashes]] /
    * [[shingleHashesWideAll]] output, `h1 * P2 + h2`): the affine
    * permutations run over the h1 component (`key / P2` — exact, h2 <
    * P2), so signatures are identical to the pre-widening minhash
    * over bare h1 arrays (bands, candidates, and every published
    * oracle constant unchanged); only the exact-verify keys widened. */
  def minhashWideKeys(hashes: ArrayData, k: Int): Array[Long] = {
    val mins = Array.fill(k)(Long.MaxValue)
    val n = hashes.numElements()
    var i = 0
    while (i < n) {
      if (!hashes.isNullAt(i)) {
        val h = hashes.getLong(i) / P2
        var j = 0
        while (j < k) {
          val v = (multiplier(j) * h + offset(j)) % P
          if (v < mins(j)) mins(j) = v
          j += 1
        }
      }
      i += 1
    }
    mins
  }

  /** Second independent polynomial family (base 131): the shadow
    * hash for in-kernel distinctness ([[shingleHashes]]) and the low
    * half of the wide gram key ([[shingleHashesWideAll]]). */
  val P2: Long = 1000000009L

  /** Normalized code points of `s`: lowercased (same whole-string
    * lowercase as Spark's `lower`), `\s+` runs (the Java-regex ASCII
    * set) collapsed to single spaces, leading/trailing space trimmed —
    * exactly `trim(regexp_replace(lower(s), "\\s+", " "))`. */
  private def normalizedCodePoints(s: UTF8String): Array[Int] = {
    val lowered = s.toLowerCase.toString
    val out = new Array[Int](lowered.length)
    var n = 0
    var i = 0
    var pendingSpace = false
    while (i < lowered.length) {
      val cp = lowered.codePointAt(i)
      val isWs = cp == ' ' || cp == '\t' || cp == '\n' || cp == 0x0B ||
        cp == '\f' || cp == '\r'
      if (isWs) { if (n > 0) pendingSpace = true }
      else {
        if (pendingSpace) { out(n) = ' '; n += 1; pendingSpace = false }
        out(n) = cp; n += 1
      }
      i += Character.charCount(cp)
    }
    java.util.Arrays.copyOf(out, n)
  }

  /** Distinct n-gram WIDE keys of the normalized text (see
    * [[PolyShingleHashes]]); short texts yield the whole-text key.
    *
    * Emits the same injective two-family pack as
    * [[shingleHashesWideAll]] — `h1 * P2 + h2` — NOT the bare base-31
    * h1 it originally emitted. Base-31 alone is not merely
    * birthday-weak at 1e9: it has EXACT small-integer identities
    * ("c89" and "atw" hash equal — 2*31^2 - 60*31 - 62 = 0, the
    * classic polynomial-hash pathology), and the 100x stress fixture
    * manufactured thousands of them, turning near-dup pairs into
    * false exact dups in the hash space. Two independent families
    * break every such identity (~1e-18 residual per gram pair).
    * Consumers needing the minhash domain extract h1 = key / P2
    * (exact: h2 < P2). */
  def shingleHashes(s: UTF8String, n: Int): Array[Long] = {
    val cps = normalizedCodePoints(s)
    val len = cps.length
    def fullHash(base: Long, mod: Long): Long = {
      var acc = 0L; var i = 0
      while (i < len) { acc = (acc * base + cps(i)) % mod; i += 1 }
      acc
    }
    if (len < n) return Array(fullHash(31L, P) * P2 + fullHash(131L, P2))
    // pow31 = 31^(n-1) mod P; pow131 likewise for the second family
    var pow1 = 1L; var pow2 = 1L
    var j = 1
    while (j < n) { pow1 = pow1 * 31L % P; pow2 = pow2 * 131L % P2; j += 1 }
    val seen = new java.util.HashSet[java.lang.Long]()
    val out = new Array[Long](len - n + 1)
    var count = 0
    var h1 = 0L; var h2 = 0L
    var i = 0
    while (i < len) {
      if (i >= n) {
        // evict cps(i - n) from both rolling hashes
        h1 = (h1 - cps(i - n) * pow1 % P + P) % P
        h2 = (h2 - cps(i - n) * pow2 % P2 + P2) % P2
      }
      h1 = (h1 * 31L + cps(i)) % P
      h2 = (h2 * 131L + cps(i)) % P2
      if (i >= n - 1) {
        val key: java.lang.Long = h1 * P2 + h2
        if (seen.add(key)) { out(count) = key; count += 1 }
      }
      i += 1
    }
    java.util.Arrays.copyOf(out, count)
  }

  /** ALL n-gram instance hashes of the normalized text, in position
    * order — the non-distinct sibling of [[shingleHashes]], for
    * instance-level (exact-substring) duplication statistics where
    * how MANY times a gram occurs matters, not just whether it
    * occurs. Short texts yield the single whole-text hash, matching
    * the `CASE len < n` arm of the oracle restatement. */
  def shingleHashesAll(s: UTF8String, n: Int): Array[Long] = {
    val cps = normalizedCodePoints(s)
    val len = cps.length
    if (len < n) {
      var acc = 0L
      var i = 0
      while (i < len) { acc = (acc * 31L + cps(i)) % P; i += 1 }
      return Array(acc)
    }
    var pow1 = 1L
    var j = 1
    while (j < n) { pow1 = pow1 * 31L % P; j += 1 }
    val out = new Array[Long](len - n + 1)
    var h1 = 0L
    var i = 0
    while (i < len) {
      if (i >= n) h1 = (h1 - cps(i - n) * pow1 % P + P) % P
      h1 = (h1 * 31L + cps(i)) % P
      if (i >= n - 1) out(i - n + 1) = h1
      i += 1
    }
    out
  }

  /** Wide variant of [[shingleHashesAll]]: TWO independent rolling
    * hashes per gram — (base 31, mod P) and (base 131, mod P2), the
    * same pair [[shingleHashes]] uses for in-kernel distinctness —
    * packed injectively into one long as `h1 * P2 + h2` (max value
    * ~1e18, inside int64). Collision probability per gram pair drops
    * from ~1/P (~1e-9) to ~1/(P*P2) (~1e-18): the birthday bound
    * stays negligible up to trillion-gram corpora, which is what d11
    * needs at 100 TB (see `Dedup.duplicatedNgramStats`). */
  def shingleHashesWideAll(s: UTF8String, n: Int): Array[Long] = {
    val cps = normalizedCodePoints(s)
    val len = cps.length
    if (len < n) {
      var a1 = 0L
      var a2 = 0L
      var i = 0
      while (i < len) {
        a1 = (a1 * 31L + cps(i)) % P
        a2 = (a2 * 131L + cps(i)) % P2
        i += 1
      }
      return Array(a1 * P2 + a2)
    }
    var pow1 = 1L
    var pow2 = 1L
    var j = 1
    while (j < n) {
      pow1 = pow1 * 31L % P
      pow2 = pow2 * 131L % P2
      j += 1
    }
    val out = new Array[Long](len - n + 1)
    var h1 = 0L
    var h2 = 0L
    var i = 0
    while (i < len) {
      if (i >= n) {
        h1 = (h1 - cps(i - n) * pow1 % P + P) % P
        h2 = (h2 - cps(i - n) * pow2 % P2 + P2) % P2
      }
      h1 = (h1 * 31L + cps(i)) % P
      h2 = (h2 * 131L + cps(i)) % P2
      if (i >= n - 1) out(i - n + 1) = h1 * P2 + h2
      i += 1
    }
    out
  }

  /** Fused minhash-estimate prefilter + exact Jaccard verify over a
    * candidate pair (see [[MinhashJaccardVerify]]): count matching
    * signature positions; if the estimate `matches/k` clears half the
    * threshold, compute exact Jaccard over the distinct hash arrays
    * (|A∩B| via hash set, |A∪B| = |A|+|B|-|A∩B|, empty∪empty -> 1.0),
    * else return -1. Division order matches the HOF composition
    * bit-for-bit. */
  def minhashVerify(mhA: ArrayData, mhB: ArrayData, shA: ArrayData,
      shB: ArrayData, k: Int, threshold: Double): Double = {
    val n = math.min(mhA.numElements(), mhB.numElements())
    var m = 0
    var i = 0
    while (i < n) {
      if (mhA.getLong(i) == mhB.getLong(i)) m += 1
      i += 1
    }
    if (m.toDouble / k < threshold * 0.5) return -1.0
    val na = shA.numElements()
    val nb = shB.numElements()
    val set = new java.util.HashSet[java.lang.Long](na * 2)
    i = 0
    while (i < na) { set.add(shA.getLong(i)); i += 1 }
    var inter = 0
    i = 0
    while (i < nb) { if (set.contains(shB.getLong(i))) inter += 1; i += 1 }
    val union = (na + nb).toDouble - inter
    if (union == 0.0) 1.0 else inter / union
  }

  /** [[minhashVerify]] over int32 arrays — identical logic on the
    * narrowed representation. Every portable hash lives in
    * [0, 1e9+7) ⊂ int32, so signatures and shingle-hash sets can
    * cross shuffles at half the width; the verify kernel then reads
    * them without widening. Same values, same arithmetic, same
    * result bits as the long form (pinned in
    * FusedKernelPropertySpec). */
  def minhashVerifyInt(mhA: ArrayData, mhB: ArrayData, shA: ArrayData,
      shB: ArrayData, k: Int, threshold: Double): Double = {
    val n = math.min(mhA.numElements(), mhB.numElements())
    var m = 0
    var i = 0
    while (i < n) {
      if (mhA.getInt(i) == mhB.getInt(i)) m += 1
      i += 1
    }
    if (m.toDouble / k < threshold * 0.5) return -1.0
    val na = shA.numElements()
    val nb = shB.numElements()
    val set = new java.util.HashSet[Integer](na * 2)
    i = 0
    while (i < na) { set.add(shA.getInt(i)); i += 1 }
    var inter = 0
    i = 0
    while (i < nb) { if (set.contains(shB.getInt(i))) inter += 1; i += 1 }
    val union = (na + nb).toDouble - inter
    if (union == 0.0) 1.0 else inter / union
  }

  /** [[minhashVerify]] with int32 SIGNATURES and WIDE (long) shingle
    * keys — the post-widening portable layout: minhash values live in
    * [0, 1e9+7) ⊂ int32 and cross shuffles narrow, while the
    * exact-verify keys are the two-family 64-bit gram keys (base-31
    * alone has exact polynomial identities — see
    * [[shingleHashes]]). Same arithmetic, same result bits. */
  def minhashVerifyIntWide(mhA: ArrayData, mhB: ArrayData,
      shA: ArrayData, shB: ArrayData, k: Int,
      threshold: Double): Double = {
    val n = math.min(mhA.numElements(), mhB.numElements())
    var m = 0
    var i = 0
    while (i < n) {
      if (mhA.getInt(i) == mhB.getInt(i)) m += 1
      i += 1
    }
    if (m.toDouble / k < threshold * 0.5) return -1.0
    val na = shA.numElements()
    val nb = shB.numElements()
    val set = new java.util.HashSet[java.lang.Long](na * 2)
    i = 0
    while (i < na) { set.add(shA.getLong(i)); i += 1 }
    var inter = 0
    i = 0
    while (i < nb) { if (set.contains(shB.getLong(i))) inter += 1; i += 1 }
    val union = (na + nb).toDouble - inter
    if (union == 0.0) 1.0 else inter / union
  }

  /** 30-bit simhash: per token, mixed = (polyhash * Mix) mod 2^30;
    * each bit casts a +-1 vote; signature sets bits with positive
    * votes. */
  def simhash(tokens: ArrayData): Long = {
    val counts = new Array[Int](SimBits)
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        val m = (hashString(tokens.getUTF8String(i)) * Mix) % M30
        var b = 0
        while (b < SimBits) {
          if (((m >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < SimBits) {
      if (counts(b) > 0) sig |= (1L << b)
      b += 1
    }
    sig
  }
}

/** Fused normalize -> shingle -> hash: emits the distinct character
  * n-gram hashes of the normalized text in one pass.
  *
  * Semantically identical to hashing each distinct normalized n-gram
  * string — same normalization (lowercase, `\s+` collapse, trim),
  * same short-text rule (one whole-text shingle), same
  * first-occurrence order — but computed with ROLLING updates of the
  * two polynomial families (subtract the outgoing codepoint times
  * base^(n-1), shift, add the incoming one) instead of materializing
  * every substring: O(len) work and zero intermediate arrays per
  * document.
  *
  * Emits the WIDE two-family key `h1 * P2 + h2` (base 31 mod 1e9+7
  * and base 131 mod 1e9+9, packed injectively — max ~1e18, inside
  * int64), and distinctness is by that same key: two distinct grams
  * colliding on both families (~1e-18 per pair) is the only
  * divergence from string-distinct semantics, so the emitted multiset
  * matches `list_distinct` + per-gram wide hashing in an external
  * oracle exactly. The bare base-31 value is NOT a usable key on its
  * own — it has exact small-integer identities ("c89" = "atw"), which
  * the 100x stress fixture manufactured systematically (see
  * [[PolyHash.shingleHashes]]).
  */
case class PolyShingleHashes(child: Expression, n: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires string, got ${t.simpleString(10)}")
    }

  override def dataType: DataType = ArrayType(LongType, false)

  override def nullSafeEval(input: Any): Any =
    new GenericArrayData(PolyHash.shingleHashes(
      input.asInstanceOf[UTF8String], n))

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      "new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"graft.functions.PolyHash.shingleHashes($c, $n))")

  override protected def withNewChildInternal(newChild: Expression)
      : PolyShingleHashes = copy(child = newChild)

  override def prettyName: String = "poly_shingle_hashes"
}

/** Non-distinct sibling of [[PolyShingleHashes]]: every n-gram
  * instance hash in position order (see
  * [[PolyHash.shingleHashesAll]]). */
case class PolyShingleHashesAll(child: Expression, n: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires string, got ${t.simpleString(10)}")
    }

  override def dataType: DataType = ArrayType(LongType, false)

  override def nullSafeEval(input: Any): Any =
    new GenericArrayData(PolyHash.shingleHashesAll(
      input.asInstanceOf[UTF8String], n))

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      "new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"graft.functions.PolyHash.shingleHashesAll($c, $n))")

  override protected def withNewChildInternal(newChild: Expression)
      : PolyShingleHashesAll = copy(child = newChild)

  override def prettyName: String = "poly_shingle_hashes_all"
}

/** Wide-key variant of [[PolyShingleHashesAll]] — two independent
  * polynomial hashes packed into one long per gram instance (see
  * [[PolyHash.shingleHashesWideAll]]); the trillion-gram-scale key
  * for substring-duplication stats. */
case class PolyShingleHashesWideAll(child: Expression, n: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires string, got ${t.simpleString(10)}")
    }

  override def dataType: DataType = ArrayType(LongType, false)

  override def nullSafeEval(input: Any): Any =
    new GenericArrayData(PolyHash.shingleHashesWideAll(
      input.asInstanceOf[UTF8String], n))

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      "new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"graft.functions.PolyHash.shingleHashesWideAll($c, $n))")

  override protected def withNewChildInternal(newChild: Expression)
      : PolyShingleHashesWideAll = copy(child = newChild)

  override def prettyName: String = "poly_shingle_hashes_wide_all"
}

/** Native scalar form of the base-31 polynomial hash — semantically
  * identical to the HOF composition
  * `aggregate(split(s, ""), 0L, (acc, ch) => (acc*31 + ascii(ch)) % P)`
  * but a single fused loop over the string instead of per-character
  * lambda dispatch (the HOF form costs ~2x the whole fingerprint
  * query at scale). */
case class PolyHashString(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires string, got ${t.simpleString(10)}")
    }

  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any =
    PolyHash.hashString(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.PolyHash.hashString($c)")

  override protected def withNewChildInternal(newChild: Expression)
      : PolyHashString = copy(newChild)

  override def prettyName: String = "poly_hash"
}

/** Portable minhash over WIDE two-family gram keys
  * ([[PolyHash.shingleHashes]] output): the affine permutations run
  * over the h1 component (`key / P2`), yielding signatures identical
  * to the pre-widening minhash over bare h1 arrays — bands,
  * candidates, and oracle constants unchanged by the key widening. */
case class PolyMinHashWide(child: Expression, k: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<long>, got ${t.simpleString(10)}")
    }

  override def dataType: DataType = ArrayType(LongType, false)

  override def nullSafeEval(input: Any): Any =
    new GenericArrayData(
      PolyHash.minhashWideKeys(input.asInstanceOf[ArrayData], k))

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      "new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"graft.functions.PolyHash.minhashWideKeys($c, $k))")

  override protected def withNewChildInternal(newChild: Expression)
      : PolyMinHashWide = copy(child = newChild)

  override def prettyName: String = "poly_minhash_wide"
}

/** Fused candidate-pair verification for minhash dedup: the estimate
  * prefilter (`size(filter(zip_with(mh_a, mh_b, _ === _), e => e)) / k
  * >= threshold/2`) and the exact Jaccard over pre-hashed shingles,
  * evaluated as ONE loop pair with the short-circuit inline.
  *
  * Replaces a per-pair tree of four higher-order functions (zip_with,
  * filter, array_intersect's set build, plus the conditional) that
  * Spark evaluates interpreted (HOFs are CodegenFallback) — on an
  * adversarial corpus the verify stage runs once per candidate pair,
  * and this constant factor dominates d02. Semantics pinned equal to
  * the HOF form in `DedupSimilaritySpec`.
  */
case class MinhashJaccardVerify(mhA: Expression, mhB: Expression,
    shA: Expression, shB: Expression, k: Int, threshold: Double)
    extends org.apache.spark.sql.catalyst.expressions.QuaternaryExpression {

  override def first: Expression = mhA
  override def second: Expression = mhB
  override def third: Expression = shA
  override def fourth: Expression = shB

  // Static kernel dispatch on the array layouts: all-long, all-int
  // (fully narrowed), or the post-widening portable mix — int32
  // signatures (minhash values < 1e9+7 cross shuffles narrow) with
  // WIDE 64-bit shingle keys (the two-family gram key; base-31 alone
  // has exact polynomial identities — see [[PolyHash.shingleHashes]]).
  private def kernelName: String =
    (mhA.dataType, shA.dataType) match {
      case (ArrayType(IntegerType, _), ArrayType(IntegerType, _)) =>
        "minhashVerifyInt"
      case (ArrayType(IntegerType, _), ArrayType(LongType, _)) =>
        "minhashVerifyIntWide"
      case _ => "minhashVerify"
    }

  override def checkInputDataTypes(): TypeCheckResult =
    Seq(mhA, mhB, shA, shB).map(_.dataType) match {
      case Seq(ArrayType(LongType, _), ArrayType(LongType, _),
          ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case Seq(ArrayType(IntegerType, _), ArrayType(IntegerType, _),
          ArrayType(IntegerType, _), ArrayType(IntegerType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case Seq(ArrayType(IntegerType, _), ArrayType(IntegerType, _),
          ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case ts => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires four array<long>, four array<int>, or " +
          "two array<int> signatures with two array<long> keys — got " +
          ts.map(_.simpleString(10)).mkString(", "))
    }

  override def dataType: DataType =
    org.apache.spark.sql.types.DoubleType

  override def nullSafeEval(a: Any, b: Any, c: Any, d: Any): Any =
    kernelName match {
      case "minhashVerifyInt" =>
        PolyHash.minhashVerifyInt(a.asInstanceOf[ArrayData],
          b.asInstanceOf[ArrayData], c.asInstanceOf[ArrayData],
          d.asInstanceOf[ArrayData], k, threshold)
      case "minhashVerifyIntWide" =>
        PolyHash.minhashVerifyIntWide(a.asInstanceOf[ArrayData],
          b.asInstanceOf[ArrayData], c.asInstanceOf[ArrayData],
          d.asInstanceOf[ArrayData], k, threshold)
      case _ =>
        PolyHash.minhashVerify(a.asInstanceOf[ArrayData],
          b.asInstanceOf[ArrayData], c.asInstanceOf[ArrayData],
          d.asInstanceOf[ArrayData], k, threshold)
    }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, c, d) =>
      s"${ev.value} = graft.functions.PolyHash.$kernelName(" +
        s"$a, $b, $c, $d, $k, $threshold);")

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression,
      newFourth: Expression): MinhashJaccardVerify =
    copy(mhA = newFirst, mhB = newSecond, shA = newThird,
      shB = newFourth)

  override def prettyName: String = "minhash_jaccard_verify"
}

/** Portable 30-bit simhash (see [[PolyHash]]). */
case class PolySimHash(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<string>, got ${t.simpleString(10)}")
    }

  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any =
    PolyHash.simhash(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.PolyHash.simhash($c)")

  override protected def withNewChildInternal(newChild: Expression)
      : PolySimHash = copy(newChild)

  override def prettyName: String = "poly_simhash"
}
