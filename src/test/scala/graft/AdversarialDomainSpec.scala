package graft

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.cdc.{Consolidate, Merge}
import graft.core.Schemas.ChangeEvent
import graft.functions.{GraftFunctions, PolyHash}
import graft.llm.{Dedup, Sketches, TextAnalysis}

/** Adversarial value-domain sweep. The 10x stress fixture covered
  * VOLUME; this suite covers the value domains the driver fixtures
  * never reach — empty / whitespace-only / 1-char documents,
  * astral-plane unicode, exact-duplicate documents, df-window boundary
  * cases, extreme keys and values, degenerate (empty, single-key)
  * sketch inputs, zero vectors — asserting Spark output equals a
  * sequential model (or the pinned HOF restatement) per operator
  * family. Each case documents the divergence it would have caught or
  * proves the family has none on that domain.
  */
class AdversarialDomainSpec extends SparkSpec {

  import spark.implicits._

  private val edgeTexts: Seq[String] = Seq(
    "", " ", " \t\n\r\f ", ".", "a", "é", "0", "-",
    "a" * 2000,                      // one huge token
    ("ab " * 500).trim,              // many tiny tokens
    "the the the the",               // en stopword run
    "le le le la la",                // fr stopword run
    "你好 世界 你好", "ωμεγα αλφα και", "🙂 🙂 🙂 🙂",
    "é combining é",     // combining accent
    "MiXeD CaSe WITH Punct!!!???",
    "   leading and trailing   ",
    "tab\tsep\nnewline\rcrvtff",
    "null", "NaN", "' OR 1=1 --")

  test("fused text kernels == HOF forms over the edge-domain corpus") {
    GraftFunctions.register(spark)
    val df = edgeTexts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val out = df.select(
      col("doc_id"),
      length(col("text")).as("n_chars"),
      TextAnalysis.tokenCount(col("text")).as("n_hof"),
      round(TextAnalysis.qualityScore(col("text")), 6).as("q_hof"),
      TextAnalysis.languageOf(col("text")).as("lang_hof"),
      GraftFunctions.textQualityStats(col("text"),
        TextAnalysis.allStopCsv).as("st"),
      GraftFunctions.textLangId(col("text"),
        TextAnalysis.langSpec).as("lang_fused"))
      .select(col("doc_id"), col("n_hof"), col("q_hof"),
        col("lang_hof"), col("lang_fused"),
        col("st.n_tokens").as("n_fused"),
        TextAnalysis.qualityFromStats(col("st"), col("n_chars"))
          .as("q_fused"))
      .collect()
    for (r <- out) {
      val id = r.getAs[Long]("doc_id").toInt
      assert(r.getAs[Int]("n_hof") == r.getAs[Int]("n_fused"),
        s"token count diverged on edge doc $id: '${edgeTexts(id)}'")
      assert(r.getAs[Double]("q_hof") == r.getAs[Double]("q_fused"),
        s"quality diverged on edge doc $id: '${edgeTexts(id)}'")
      assert(
        r.getAs[String]("lang_hof") == r.getAs[String]("lang_fused"),
        s"langid diverged on edge doc $id: '${edgeTexts(id)}'")
    }
  }

  test("ngramJaccardPairs == sequential model on the adversarial " +
      "corpus") {
    // Duplicates, empties (all normalize to the same '' gram),
    // 1-char docs, a df-at-the-cap gram, and CJK short texts: the
    // distributed index dataflow must equal the literal sequential
    // statement of the same semantics (informative grams df in
    // [2, maxDf], exact set jaccard), with the production kernel
    // itself supplying the gram sets.
    val docs: Seq[(Long, String)] = Seq(
      1L -> "", 2L -> "", 3L -> "   \t  ",
      4L -> "a", 5L -> "a", 6L -> "b",
      7L -> "the quick brown fox jumps over the lazy dog",
      8L -> "the quick brown fox jumps over the lazy cat",
      9L -> "THE  Quick   BROWN fox jumps over the lazy dog",
      10L -> "completely unrelated content here with words",
      11L -> "短 文本", 12L -> "短 文本",
      13L -> ("x " * 30).trim, 14L -> ("x " * 30).trim)
    val maxDf = 5L
    val thr = 0.2
    def grams(t: String): Set[Long] =
      PolyHash.shingleHashes(UTF8String.fromString(t), 8).toSet
    val byDoc = docs.map { case (id, t) => id -> grams(t) }.toMap
    val docFreq = byDoc.values.toSeq.flatten
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val informative = byDoc.view.mapValues(
      _.filter(h => docFreq(h) >= 2 && docFreq(h) <= maxDf)).toMap
    val expected = (for {
      (a, ga) <- informative.toSeq
      (b, gb) <- informative.toSeq
      if a < b
      inter = (ga intersect gb).size
      if inter > 0
      j = inter.toDouble / (ga.size + gb.size - inter).toDouble
      if j >= thr
    } yield (a, b, j)).toSet
    assert(expected.nonEmpty, "model produced no pairs — fixture bug")
    val got = Dedup.ngramJaccardPairs(docs.toDF("doc_id", "text"),
      shingleN = 8, threshold = thr, maxDocFreq = maxDf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == expected,
      s"dataflow != model:\n spurious=${got -- expected}\n " +
        s"missing=${expected -- got}")
  }

  test("duplicatedNgramStats == sequential model on the adversarial " +
      "corpus (instance multiset semantics, whole-text short arm)") {
    // Instance-level (NOT set) semantics: a gram occurring twice in
    // ONE doc and nowhere else still counts as duplicated. The edge
    // corpus hits: empty/whitespace docs (whole-text '' gram — all
    // collide with each other), 1-char docs, unicode, an
    // internal-repeat doc, and exact duplicates.
    val docs: Seq[(Long, String)] = Seq(
      1L -> "", 2L -> "", 3L -> " \t ",
      4L -> "a", 5L -> "a", 6L -> "b",
      7L -> "abcdefgh abcdefgh abcdefgh",  // internal repeats only
      8L -> "the quick brown fox jumps over the lazy dog",
      9L -> "the quick brown fox jumps over the lazy cat",
      10L -> "你好 世界", 11L -> "你好 世界",
      12L -> "totally unique text that matches nobody else")
    val n = 8
    // Model with the wide two-family key — the operator's default.
    def gramsAll(t: String): Seq[Long] =
      PolyHash.shingleHashesWideAll(UTF8String.fromString(t), n).toSeq
    val byDoc = docs.map { case (id, t) => id -> gramsAll(t) }.toMap
    val corpusCount = byDoc.values.toSeq.flatten
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val expected = byDoc.map { case (id, gs) =>
      id -> (gs.size.toLong, gs.count(corpusCount(_) >= 2L).toLong)
    }
    // Sanity of the fixture itself: doc 7 must be self-duplicated,
    // empties must collide via the whole-text arm.
    assert(expected(7L)._2 > 0, "internal repeats not caught by model")
    assert(expected(1L) == (1L, 1L) && expected(3L) == (1L, 1L))
    val got = Dedup.duplicatedNgramStats(
        docs.toDF("doc_id", "text"), gramChars = n)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_grams"), r.getAs[Long]("dup_grams"))).toMap
    assert(got == expected,
      s"dataflow != model:\n got=$got\n expected=$expected")
  }

  test("simhash/minhash: exact duplicates always pair; empty docs " +
      "don't crash the pipeline") {
    val docs = Seq(
      1L -> "", 2L -> "",
      3L -> "identical document body with enough words to shingle",
      4L -> "identical document body with enough words to shingle",
      5L -> "another distinct body entirely unlike the others")
      .toDF("doc_id", "text")
    val sh = Dedup.simhashPairs(docs, maxHamming = 3, portable = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sh.contains((3L, 4L)),
      "identical docs must collide in every simhash block")
    assert(sh.contains((1L, 2L)),
      "empty docs share the all-zero signature")
    val mh = Dedup.minhashPairs(docs, shingleN = 8, bands = 16,
      rowsPerBand = 4, threshold = 0.5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(mh.exists(p => p._1 == 3L && p._2 == 4L && p._3 == 1.0),
      "identical docs must band-collide with verified jaccard 1.0")
  }

  test("consolidate+merge round-trips extreme keys and values") {
    val day = "2024-03-01"
    val events = Seq(
      ChangeEvent("I", Long.MaxValue, s"$day 10:00:00",
        Some(Double.MaxValue), "2024-01-01 00:00:00", 0L),
      ChangeEvent("I", Long.MaxValue - 1, s"$day 10:00:01",
        Some(Double.MinPositiveValue), "2024-01-01 00:00:00", 1L),
      ChangeEvent("U", Long.MaxValue, s"$day 10:00:02",
        Some(-Double.MaxValue), "2024-01-01 00:00:01", 2L),
      ChangeEvent("I", 1L, s"$day 10:00:03", None,
        "2024-01-01 00:00:00", 3L),
      ChangeEvent("D", Long.MaxValue - 1, s"$day 10:00:04", None,
        "", 4L))
    val empty = Seq
      .empty[(Long, String, Option[Double], String, String)]
      .toDF("id", "date_time", "value", "ts", "day")
    val out = Merge.merge(empty, Consolidate.netChanges(events.toDS()))
      .collect()
      .map(r => r.getAs[Long]("id") ->
        Option(r.getAs[java.lang.Double]("value")).map(_.doubleValue))
      .toMap
    // Max-key insert survives with its last-write value; the deleted
    // near-max key is gone; the null-value insert stays null.
    assert(out.keySet == Set(Long.MaxValue, 1L), out.keySet.toString)
    assert(out(Long.MaxValue).contains(-Double.MaxValue))
    assert(out(1L).isEmpty)
  }

  test("cosine: zero vectors follow the documented 0.0 convention") {
    GraftFunctions.register(spark)
    val df = Seq(
      (Array(0.0, 0.0, 0.0), Array(1.0, 2.0, 3.0)),
      (Array(0.0, 0.0, 0.0), Array(0.0, 0.0, 0.0)),
      (Array(1.0, 0.0, 0.0), Array(1.0, 0.0, 0.0)))
      .toDF("a", "b")
    val got = df
      .select(GraftFunctions.arrayCosine(col("a"), col("b")))
      .as[Double].collect().toSeq
    assert(got == Seq(0.0, 0.0, 1.0),
      s"zero-norm convention drifted: $got")
  }

  test("bm25/surprisal on the edge-domain corpus: empty docs vanish, " +
      "unicode tokens score, no NaN/negative surprisal") {
    import graft.llm.{LanguageModel, Retrieval}
    val df = edgeTexts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    // surprisal: docs with no non-empty token (ids 0-2: "", " ",
    // whitespace) produce NO row; every emitted score is finite and
    // positive (p <= 1 always, p == 1 impossible with > 1 distinct
    // token in the corpus)
    val s = LanguageModel.unigramSurprisal(df, outlierAbove = 99.0)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Double]("mean_surprisal")).toMap
    assert(!s.contains(0L) && !s.contains(1L) && !s.contains(2L))
    assert(s.contains(12L) && s.contains(14L)) // CJK, emoji docs score
    assert(s.values.forall(v => !v.isNaN && v > 0))
    // bm25 over unicode probe terms: hits only the docs carrying them,
    // scores positive, misses absent
    val out = Retrieval.bm25TopK(df, terms = Seq("你好", "🙂"), k = 10)
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Double]("score"))).toMap
    assert(out.keySet == Set(12L, 14L))
    assert(out.values.forall(_ > 0))
  }

  test("sketches: empty and single-hot-key inputs stay exact") {
    val empty = Seq.empty[String].toDF("term")
    assert(Sketches.hllEstimate(Sketches.hllRegisters(empty)) == 0.0,
      "HLL of an empty relation must estimate 0 via linear counting")
    val hot = Seq.fill(1000)("k").toDF("term")
    val est = Sketches.hllEstimate(Sketches.hllRegisters(hot))
    assert(est > 0.5 && est < 2.5,
      s"HLL over one distinct key estimated $est")
    val cms = Sketches.cmsEstimate(Sketches.cmsCounters(hot),
      Seq("k").toDF("term"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(cms("k") == 1000L,
      s"CMS must count a lone hot key exactly, got ${cms("k")}")
  }
}
