package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native cosine similarity over two `ARRAY<DOUBLE>` columns.
  *
  * Functionally identical to the higher-order-function composition in
  * the test-side `HofReference.cosine` (same left-to-right accumulation
  * order, same zero-norm -> 0.0 convention), but evaluated as a single
  * fused loop: the HOF form materializes a zip_with array and runs
  * three lambda-driven aggregates per row, while this expression
  * generates one Java loop with three scalar accumulators — the
  * difference is a large constant factor on the ANN hot path
  * (|corpus| x |queries| x dim evaluations).
  *
  * Element nulls are treated as 0 (embeddings are dense; the HOF form
  * would return null — don't feed sparse arrays to either).
  * Lengths are compared over the common prefix (fixed-dim inputs in
  * practice).
  */
case class ArrayCosine(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two array<double> arguments, got " +
          s"${l.simpleString(10)} and ${r.simpleString(10)}")
    }

  override def dataType: DataType = DoubleType

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = if (a.isNullAt(i)) 0.0 else a.getDouble(i)
      val y = if (b.isNullAt(i)) 0.0 else b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    val sa = math.sqrt(na); val sb = math.sqrt(nb)
    if (sa == 0.0 || sb == 0.0) 0.0 else dot / (sa * sb)
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      val sa = ctx.freshName("sa")
      val sb = ctx.freshName("sb")
      s"""
        int $n = java.lang.Math.min($a.numElements(), $b.numElements());
        double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
        for (int $i = 0; $i < $n; $i++) {
          double $x = $a.isNullAt($i) ? 0.0 : $a.getDouble($i);
          double $y = $b.isNullAt($i) ? 0.0 : $b.getDouble($i);
          $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
        }
        double $sa = java.lang.Math.sqrt($na);
        double $sb = java.lang.Math.sqrt($nb);
        ${ev.value} = ($sa == 0.0 || $sb == 0.0) ? 0.0 : $dot / ($sa * $sb);
      """
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): ArrayCosine = copy(newLeft, newRight)

  override def prettyName: String = "array_cosine"
}

object GraftFunctions {

  @volatile private var registered = Set.empty[String]

  /** Register the custom expressions in the session's function
    * registry (idempotent per session). */
  def register(spark: SparkSession): Unit = {
    val key = System.identityHashCode(spark).toString
    if (!registered.contains(key)) synchronized {
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "graft_array_cosine",
        exprs => ArrayCosine(exprs(0), exprs(1)), "built-in")
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "graft_simhash64",
        exprs => SimHash64(exprs.head), "built-in")
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "graft_poly_simhash",
        exprs => PolySimHash(exprs.head), "built-in")
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "graft_poly_hash",
        exprs => PolyHashString(exprs.head), "built-in")
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "graft_poly_shingle_hashes",
        exprs => PolyShingleHashes(exprs(0),
          exprs(1).eval().asInstanceOf[Int]), "built-in")
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "graft_poly_shingle_hashes_all",
        exprs => PolyShingleHashesAll(exprs(0),
          exprs(1).eval().asInstanceOf[Int]), "built-in")
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "graft_poly_shingle_hashes_wide_all",
        exprs => PolyShingleHashesWideAll(exprs(0),
          exprs(1).eval().asInstanceOf[Int]), "built-in")
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "graft_winnow_fingerprints",
        exprs => WinnowFingerprints(exprs(0),
          exprs(1).eval().asInstanceOf[Int]), "built-in")
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "graft_poly_minhash_wide",
        exprs => PolyMinHashWide(exprs(0),
          exprs(1).eval().asInstanceOf[Int]), "built-in")
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "graft_text_quality_stats",
        exprs => TextQualityStats(exprs(0),
          exprs(1).eval().toString), "built-in")
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "graft_minhash_jaccard_verify",
        exprs => MinhashJaccardVerify(exprs(0), exprs(1), exprs(2),
          exprs(3), exprs(4).eval().asInstanceOf[Int],
          exprs(5).eval().asInstanceOf[Double]), "built-in")
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "graft_text_lang_id",
        exprs => TextLangId(exprs(0), exprs(1).eval().toString),
        "built-in")
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "graft_text_repetition_stats",
        exprs => TextRepetitionStats(exprs.head), "built-in")
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "graft_gopher_repetition",
        exprs => TextGopherRepetition(exprs.head), "built-in")
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "graft_gopher_quality",
        exprs => TextGopherQuality(exprs.head), "built-in")
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "graft_poly_bloom",
        exprs => PolyBloomAgg(exprs(0),
          exprs(1).eval().asInstanceOf[Int],
          exprs(2).eval().asInstanceOf[Int]), "built-in")
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "graft_pq_codes",
        exprs => {
          val cm = exprs(1).eval().asInstanceOf[ArrayData]
          val segs = Array.tabulate(cm.numElements())(i =>
            cm.getArray(i).toDoubleArray())
          PqCodes(exprs(0), segs,
            exprs(2).eval().asInstanceOf[Int],
            exprs(3).eval().asInstanceOf[Int])
        }, "built-in")
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "graft_hyperplane_sig",
        exprs => HyperplaneSig(exprs(0),
          exprs(1).eval().asInstanceOf[Int],
          exprs(2).eval().asInstanceOf[Int]), "built-in")
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "graft_nearest_centroids",
        exprs => {
          val cids = exprs(1).eval().asInstanceOf[ArrayData]
            .toLongArray()
          val cm = exprs(2).eval().asInstanceOf[ArrayData]
          val cents = Array.tabulate(cm.numElements())(i =>
            cm.getArray(i).toDoubleArray())
          NearestCentroids(exprs(0), cids, cents,
            exprs(3).eval().asInstanceOf[Int])
        }, "built-in")
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "graft_top_k_by_score",
        exprs => TopKByScoreAgg(exprs(0), exprs(1),
          exprs(2).eval().asInstanceOf[Int]), "built-in")
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "graft_nearest_centroid_probed",
        exprs => {
          val co = exprs(1).eval().asInstanceOf[ArrayData]
          val coarse = Array.tabulate(co.numElements())(i =>
            co.getArray(i).toDoubleArray())
          val cids = exprs(2).eval().asInstanceOf[ArrayData]
            .toLongArray()
          val fm = exprs(3).eval().asInstanceOf[ArrayData]
          val fines = Array.tabulate(fm.numElements())(i =>
            fm.getArray(i).toDoubleArray())
          val f2c = exprs(4).eval().asInstanceOf[ArrayData]
            .toIntArray()
          // Internal callers are guarded by collectCentroids'
          // nonEmpty require; the SQL surface is not — an empty fine
          // set would otherwise reach assign()'s fineCids(-1) as a
          // bare ArrayIndexOutOfBoundsException.
          require(fines.nonEmpty && cids.length == fines.length &&
            f2c.length == fines.length && coarse.nonEmpty,
            "graft_nearest_centroid_probed requires non-empty " +
              "centroid arrays with fine cids/vectors/coarse-map of " +
              s"equal length; got coarse=${coarse.length} " +
              s"cids=${cids.length} fine=${fines.length} " +
              s"map=${f2c.length}")
          require(f2c.forall(c => c >= 0 && c < coarse.length),
            "graft_nearest_centroid_probed: coarse-map entries must " +
              s"index the coarse set (0 until ${coarse.length})")
          NearestCentroidProbed(exprs(0), coarse, cids, fines, f2c,
            exprs(5).eval().asInstanceOf[Int])
        }, "built-in")
      registered += key
    }
  }

  /** Column form (requires [[register]] on the session first). */
  def arrayCosine(a: Column, b: Column): Column =
    call_function("graft_array_cosine", a, b)

  /** Column form (requires [[register]] on the session first). */
  def hyperplaneSig(vec: Column, dim: Int, planes: Int): Column =
    call_function("graft_hyperplane_sig", vec,
      org.apache.spark.sql.functions.lit(dim),
      org.apache.spark.sql.functions.lit(planes))

  /** Column form (requires [[register]] on the session first). */
  def simhash64(tokens: Column): Column =
    call_function("graft_simhash64", tokens)

  /** Column form (requires [[register]] on the session first). */
  def polySimhash(tokens: Column): Column =
    call_function("graft_poly_simhash", tokens)

  /** Column form (requires [[register]] on the session first). */
  def polyHash(s: Column): Column =
    call_function("graft_poly_hash", s)

  /** Column form (requires [[register]] on the session first). */
  def polyShingleHashes(text: Column, n: Int): Column =
    call_function("graft_poly_shingle_hashes", text,
      org.apache.spark.sql.functions.lit(n))

  /** Column form (requires [[register]] on the session first). */
  def polyShingleHashesAll(text: Column, n: Int): Column =
    call_function("graft_poly_shingle_hashes_all", text,
      org.apache.spark.sql.functions.lit(n))

  /** Column form (requires [[register]] on the session first). */
  def polyShingleHashesWideAll(text: Column, n: Int): Column =
    call_function("graft_poly_shingle_hashes_wide_all", text,
      org.apache.spark.sql.functions.lit(n))

  /** Column form (requires [[register]] on the session first). */
  def winnowFingerprints(hashes: Column, w: Int): Column =
    call_function("graft_winnow_fingerprints", hashes,
      org.apache.spark.sql.functions.lit(w))

  /** Column form (requires [[register]] on the session first). */
  def polyMinhashWide(hashes: Column, k: Int): Column =
    call_function("graft_poly_minhash_wide", hashes,
      org.apache.spark.sql.functions.lit(k))

  /** Column form (requires [[register]] on the session first). */
  def textQualityStats(text: Column, stopCsv: String): Column =
    call_function("graft_text_quality_stats", text,
      org.apache.spark.sql.functions.lit(stopCsv))

  /** Column form (requires [[register]] on the session first). */
  def minhashJaccardVerify(mhA: Column, mhB: Column, shA: Column,
      shB: Column, k: Int, threshold: Double): Column =
    call_function("graft_minhash_jaccard_verify", mhA, mhB, shA, shB,
      org.apache.spark.sql.functions.lit(k),
      org.apache.spark.sql.functions.lit(threshold))

  /** Column form (requires [[register]] on the session first). */
  def textLangId(text: Column, spec: String): Column =
    call_function("graft_text_lang_id", text,
      org.apache.spark.sql.functions.lit(spec))

  /** Column form (requires [[register]] on the session first). */
  def textRepetitionStats(text: Column): Column =
    call_function("graft_text_repetition_stats", text)

  /** Column form (requires [[register]] on the session first): the
    * full Gopher repetition table ([[TextGopherRepetition]]). */
  def textGopherRepetition(text: Column): Column =
    call_function("graft_gopher_repetition", text)

  /** Column form (requires [[register]] on the session first): the
    * Gopher quality-rule counters ([[TextGopherQuality]]). */
  def textGopherQuality(text: Column): Column =
    call_function("graft_gopher_quality", text)

  /** Per-group top-k-by-score aggregate (requires [[register]]
    * first): `array<struct<id,score>>` sorted best-first — score
    * desc, id asc on ties. Map-side partial heaps mean only
    * |groups| x k entries cross the shuffle ([[TopKByScoreAgg]]). */
  def topKByScore(score: Column, id: Column, k: Int): Column =
    call_function("graft_top_k_by_score", score, id,
      org.apache.spark.sql.functions.lit(k))

  /** Bloom bitmap aggregate (requires [[register]] first). */
  def polyBloom(key: Column, mBits: Int, k: Int): Column =
    call_function("graft_poly_bloom", key,
      org.apache.spark.sql.functions.lit(mBits),
      org.apache.spark.sql.functions.lit(k))

  /** Top-`n` nearest centroid ids by cosine for an `array<double>`
    * vector; the centroid set rides as a plan-time literal (requires
    * [[register]] first). */
  def nearestCentroids(vec: Column, cids: Array[Long],
      cents: Array[Array[Double]], n: Int): Column = {
    import org.apache.spark.sql.functions.{lit, typedLit}
    call_function("graft_nearest_centroids", vec,
      typedLit(cids.toSeq), typedLit(cents.map(_.toSeq).toSeq),
      lit(n))
  }

  /** Two-level probed nearest-centroid assignment
    * ([[NearestCentroidProbed]]): rank the coarse set, scan only fine
    * centroids in the top-`probes` coarse cells. `coarse` must be
    * ordered by the LCG sample rank (its index order is the coarse
    * tie-break); `coarseOfFine(i)` is fine i's coarse cell (requires
    * [[register]] first). */
  def nearestCentroidProbed(vec: Column, coarse: Array[Array[Double]],
      fineCids: Array[Long], fineVecs: Array[Array[Double]],
      coarseOfFine: Array[Int], probes: Int): Column = {
    import org.apache.spark.sql.functions.{lit, typedLit}
    call_function("graft_nearest_centroid_probed", vec,
      typedLit(coarse.map(_.toSeq).toSeq),
      typedLit(fineCids.toSeq),
      typedLit(fineVecs.map(_.toSeq).toSeq),
      typedLit(coarseOfFine.toSeq), lit(probes))
  }

  /** Per-segment PQ codeword assignment; the codebook rides as a
    * plan-time literal indexed `code * segments + seg` (requires
    * [[register]] first). */
  def pqCodes(vec: Column, codeSegs: Array[Array[Double]],
      segments: Int, segLen: Int): Column = {
    import org.apache.spark.sql.functions.{lit, typedLit}
    call_function("graft_pq_codes", vec,
      typedLit(codeSegs.map(_.toSeq).toSeq), lit(segments),
      lit(segLen))
  }
}
