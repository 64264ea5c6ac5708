package graft.functions

import scala.util.Random

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.llm.{HofReference, TextAnalysis}

/** Randomized equivalence of the fused native kernels against the
  * higher-order-function compositions they replaced. The fixed-case
  * pins live in `TextAnalysisSpec`/`DedupSimilaritySpec`; this spec
  * drives the same pairs with seeded random inputs (messy whitespace,
  * unicode, punctuation runs, duplicate-heavy arrays) so a divergence
  * in any normalization or accumulation corner shows up as a failing
  * seed, not a silent oracle drift. */
class FusedKernelPropertySpec extends SparkSpec {

  import spark.implicits._

  private val rnd = new Random(0xC0FFEE)

  private def randText(): String = {
    val alphabet = "abc DEF  \t\n.,;:!?'\"()[]{}ü日 0123456789-_/"
    val n = rnd.nextInt(120)
    (0 until n).map(_ => alphabet(rnd.nextInt(alphabet.length)))
      .mkString
  }

  test("random texts: fused quality stats == HOF composition") {
    graft.functions.GraftFunctions.register(spark)
    val df = (0 until 300).map(i => (i.toLong, randText()))
      .toDF("doc_id", "text")
    val out = df.select(
      col("doc_id"),
      length(col("text")).as("n_chars"),
      TextAnalysis.tokenCount(col("text")).as("n_hof"),
      round(TextAnalysis.qualityScore(col("text")), 6).as("q_hof"),
      GraftFunctions.textQualityStats(col("text"),
        TextAnalysis.allStopCsv).as("st"))
      .select(col("doc_id"), col("n_hof"), col("q_hof"),
        col("st.n_tokens").as("n_fused"),
        TextAnalysis.qualityFromStats(col("st"), col("n_chars"))
          .as("q_fused"))
      .collect()
    for (r <- out) {
      assert(r.getAs[Int]("n_hof") == r.getAs[Int]("n_fused"),
        s"token count diverged on doc ${r.getAs[Long]("doc_id")}")
      assert(r.getAs[Double]("q_hof") == r.getAs[Double]("q_fused"),
        s"quality diverged on doc ${r.getAs[Long]("doc_id")}")
    }
  }

  test("random texts: fused language ID == languageOf") {
    graft.functions.GraftFunctions.register(spark)
    // bias the generator toward stopwords so every language can win
    val stop = TextAnalysis.stopwords.flatMap(_._2)
    def biased(): String = {
      val n = rnd.nextInt(30)
      (0 until n).map { _ =>
        if (rnd.nextBoolean()) stop(rnd.nextInt(stop.length))
        else randText().take(6)
      }.mkString(" ")
    }
    val df = (0 until 300).map(i => (i.toLong, biased()))
      .toDF("doc_id", "text")
    val out = df.select(col("doc_id"),
      TextAnalysis.languageOf(col("text")).as("hof"),
      GraftFunctions.textLangId(col("text"),
        TextAnalysis.langSpec).as("fused"))
      .collect()
    for (r <- out)
      assert(r.getString(1) == r.getString(2),
        s"doc ${r.getLong(0)}: HOF ${r.getString(1)} != " +
          s"fused ${r.getString(2)}")
  }

  test("duplicate stopword within one language counts once per token") {
    // "the" listed twice for en: pre-fix the word→langs map appended
    // the index per occurrence, double-counting every "the" token.
    // Here fr genuinely wins 2-to-1; the double count made it a 2-2
    // tie that the first-language fold handed to en.
    val (langs, words) = LangId.parse("en:the,and,the|fr:le,la")
    assert(words.get("the").toSeq == Seq(0))
    val got = LangId.detect(
      org.apache.spark.unsafe.types.UTF8String.fromString("le la the"),
      langs, words)
    assert(got.toString == "fr")

    graft.functions.GraftFunctions.register(spark)
    val viaCol = Seq("le la the").toDF("text")
      .select(GraftFunctions.textLangId(col("text"),
        "en:the,and,the|fr:le,la"))
      .head().getString(0)
    assert(viaCol == "fr")
  }

  test("random arrays: fused minhash verify == HOF form") {
    graft.functions.GraftFunctions.register(spark)
    val k = 16
    val thr = 0.4
    def sig(): Seq[Long] = Seq.fill(k)(rnd.nextInt(8).toLong)
    def grams(): Seq[Long] =
      Seq.fill(rnd.nextInt(12))(rnd.nextInt(20).toLong).distinct
    val df = (0 until 300)
      .map(_ => (sig(), sig(), grams(), grams()))
      .toDF("mh_a", "mh_b", "sh_a", "sh_b")
    val est = size(filter(zip_with(col("mh_a"), col("mh_b"),
      (x, y) => x === y), e => e)).cast("double") / k
    val out = df.select(
      when(est >= thr * 0.5,
        HofReference.jaccard(col("sh_a"), col("sh_b")))
        .otherwise(lit(-1d)).as("hof"),
      GraftFunctions.minhashJaccardVerify(col("mh_a"), col("mh_b"),
        col("sh_a"), col("sh_b"), k, thr).as("fused"))
      .collect()
    for ((r, i) <- out.zipWithIndex)
      assert(r.getDouble(0) == r.getDouble(1),
        s"row $i: HOF ${r.getDouble(0)} != fused ${r.getDouble(1)}")
  }

  test("mixed-layout minhash verify (int32 signatures + wide long " +
      "keys) == all-long kernel on the same logical values") {
    graft.functions.GraftFunctions.register(spark)
    val k = 16
    val thr = 0.4
    val P2 = PolyHash.P2
    def sig(): Seq[Int] = Seq.fill(k)(rnd.nextInt(1000000007))
    // Wide keys as the product pipeline makes them: h1 * P2 + h2 —
    // including pairs that share h1 but differ in h2 (the base-31
    // identity case the widening exists to catch).
    def keys(): Seq[Long] = Seq.fill(rnd.nextInt(12))(
      rnd.nextInt(50).toLong * P2 + rnd.nextInt(3)).distinct
    val rows = (0 until 300).map(_ => (sig(), sig(), keys(), keys()))
    val df = rows.toDF("mh_a", "mh_b", "sh_a", "sh_b")
    val wide = df.select(GraftFunctions.minhashJaccardVerify(
      col("mh_a"), col("mh_b"), col("sh_a"), col("sh_b"), k, thr)
      .as("v")).collect().map(_.getDouble(0))
    val long = df.select(
      col("mh_a").cast("array<long>").as("mh_a"),
      col("mh_b").cast("array<long>").as("mh_b"),
      col("sh_a"), col("sh_b"))
      .select(GraftFunctions.minhashJaccardVerify(
        col("mh_a"), col("mh_b"), col("sh_a"), col("sh_b"), k, thr)
        .as("v")).collect().map(_.getDouble(0))
    assert(wide.toSeq == long.toSeq)
    // h1-equal, h2-distinct keys are DIFFERENT (the "c89"/"atw" class)
    val a = Seq(5L * P2 + 1)
    val b = Seq(5L * P2 + 2)
    val one = Seq((Seq.fill(k)(7), Seq.fill(k)(7), a, b))
      .toDF("mh_a", "mh_b", "sh_a", "sh_b")
      .select(GraftFunctions.minhashJaccardVerify(col("mh_a"),
        col("mh_b"), col("sh_a"), col("sh_b"), k, thr))
      .head().getDouble(0)
    assert(one == 0.0, s"h1-colliding keys must not intersect: $one")
  }
}
