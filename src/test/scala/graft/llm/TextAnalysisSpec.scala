package graft.llm

import org.apache.spark.sql.functions._

import graft.SparkSpec

class TextAnalysisSpec extends SparkSpec {

  import spark.implicits._

  private def one[T](df: org.apache.spark.sql.DataFrame): T =
    df.collect().head.getAs[T](0)

  test("language ID picks the dominant stopword language") {
    val docs = Seq(
      (1L, "the cat and the dog sat on a mat in the sun"),
      (2L, "le chat et la souris dans la maison pour une nuit"),
      (3L, "der hund und die katze ist ein tier mit fell"),
      (4L, "el perro y el gato es un animal en la casa"),
      (5L, "xyzzy plugh qwerty asdf")).toDF("doc_id", "text")
    val out = docs.select(col("doc_id"),
      TextAnalysis.languageOf(col("text")).as("lang"))
      .as[(Long, String)].collect().toMap
    assert(out(1L) == "en")
    assert(out(2L) == "fr")
    assert(out(3L) == "de")
    assert(out(4L) == "es")
    assert(out(5L) == "und")
  }

  test("token counts: whitespace vs BPE-ish") {
    val df = Seq(("hello world, it's 2024!" , 0)).toDF("text", "x")
    assert(one[Int](df.select(TextAnalysis.tokenCount(col("text")))) == 4)
    // hello|world|,|it|'|s|2024|! -> 8
    assert(one[Int](df.select(
      TextAnalysis.bpeishTokenCount(col("text")))) == 8)
  }

  test("BM25 top-k matches a model recomputation; misses excluded") {
    val docs = Seq(
      (1L, "spark engine spark core spark"),            // tf(spark)=3
      (2L, "spark and vector math for the vector lane"),
      (3L, "customer orders merge daily"),
      (4L, "nothing relevant here at all whatsoever"),
      (5L, "merge merge merge spark"),
      (6L, "a long document about vector processing " +
        "with many many extra filler tokens inside it")
    ).toDF("doc_id", "text")
    val terms = Seq("spark", "vector", "customer", "merge")
    val out = Retrieval.bm25TopK(docs, terms, k = 10).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score"),
        r.getAs[Long]("terms_hit"))).toList
    // model: plain-Scala BM25 with the same constants
    val toks = Map(1L -> 5, 2L -> 8, 3L -> 4, 4L -> 6, 5L -> 4, 6L -> 14)
    val tf = Map( // (doc, term) -> tf, misses absent
      (1L, "spark") -> 3, (2L, "spark") -> 1, (2L, "vector") -> 2,
      (3L, "customer") -> 1, (3L, "merge") -> 1, (5L, "merge") -> 3,
      (5L, "spark") -> 1, (6L, "vector") -> 1)
    val n = 6.0
    val avgdl = toks.values.sum / 6.0
    val df = tf.keys.groupBy(_._2).map { case (t, ks) => t -> ks.size }
    def score(d: Long): Double = tf.collect {
      case ((`d`, t), f) =>
        val idf = math.log((n - df(t) + 0.5) / (df(t) + 0.5) + 1.0)
        idf * (f * 2.5) / (f + 1.5 * (0.25 + 0.75 * toks(d) / avgdl))
    }.sum
    val expect = toks.keys.toList
      .map(d => (d, score(d), tf.keys.count(_._1 == d).toLong))
      .filter(_._3 > 0)
      .sortBy(x => (-x._2, x._1))
    assert(out.map(_._1) == expect.map(_._1)) // ranking
    assert(!out.exists(_._1 == 4L))          // no-hit doc excluded
    out.zip(expect).foreach { case ((_, s, h), (_, es, eh)) =>
      assert(math.abs(s - es) < 1e-6 && h == eh)
    }
  }

  test("unigram surprisal matches a model recomputation; rare-token " +
      "docs score higher") {
    val docs = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the the the the"),
      (3L, "zyx qwv plk the")).toDF("doc_id", "text")
    val out = LanguageModel.unigramSurprisal(docs, outlierAbove = 2.0)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Double]("mean_surprisal"),
          r.getAs[Boolean]("is_outlier"))).toMap
    // model
    val toks = Map(
      1L -> Seq("the", "cat", "sat", "on", "the", "mat"),
      2L -> Seq("the", "the", "the", "the"),
      3L -> Seq("zyx", "qwv", "plk", "the"))
    val freq = toks.values.flatten.groupBy(identity).map {
      case (t, xs) => t -> xs.size }
    val total = freq.values.sum.toDouble
    for ((d, tk) <- toks) {
      val ms = tk.map(t => -math.log(freq(t) / total)).sum / tk.size
      assert(out(d)._1 == tk.size)
      assert(math.abs(out(d)._2 - ms) < 1e-6, s"doc $d")
      assert(out(d)._3 == ms > 2.0)
    }
    // common-token doc scores lowest, rare-token doc highest
    assert(out(2L)._2 < out(1L)._2 && out(1L)._2 < out(3L)._2)
    assert(!out(2L)._3 && out(3L)._3)
  }

  test("bigram surprisal matches an independent Stupid Backoff " +
      "model; every score path (seen bigram, backoff, OOV, first " +
      "token, single-token doc) is exercised") {
    // trainMod=3, trainRem=1 => docs 1 and 4 train, ALL score:
    // doc 2 has bigrams unseen in training (backoff on seen terms),
    // doc 3 has OOV terms (backoff to the add-one floor), doc 5 is a
    // single token (first-token path only).
    val docs = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "cat the mat on"),
      (3L, "zyx qwv the cat"),
      (4L, "the cat ran"),
      (5L, "the")).toDF("doc_id", "text")
    val out = LanguageModel.bigramSurprisal(docs)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Double]("mean_surprisal")))
      .toMap
    // Independent model.
    val toks = Map(
      1L -> Seq("the", "cat", "sat", "on", "the", "mat"),
      2L -> Seq("cat", "the", "mat", "on"),
      3L -> Seq("zyx", "qwv", "the", "cat"),
      4L -> Seq("the", "cat", "ran"),
      5L -> Seq("the"))
    val train = Seq(1L, 4L)
    val uni = train.flatMap(toks).groupBy(identity)
      .map { case (t, xs) => t -> xs.size.toLong }
    val n = uni.values.sum.toDouble
    val v = uni.size.toDouble
    val bg = train.flatMap(d => toks(d).sliding(2).filter(_.size == 2)
        .map(p => (p(0), p(1)))).groupBy(identity)
      .map { case (p, xs) => p -> xs.size.toLong }
    def p1(w: String): Double = (uni.getOrElse(w, 0L) + 1) / (n + v)
    for ((d, tk) <- toks) {
      val first = -math.log(p1(tk.head))
      val rest = tk.sliding(2).filter(_.size == 2).map { p =>
        bg.get((p(0), p(1))) match {
          case Some(c2) => -math.log(c2.toDouble / uni(p(0)))
          case None => -math.log(0.4 * p1(p(1)))
        }
      }.sum
      val ms = (first + rest) / tk.size
      assert(out(d)._1 == tk.size, s"doc $d n_tokens")
      assert(math.abs(out(d)._2 - ms) < 1e-6, s"doc $d surprisal")
    }
    // A doc made of trained bigrams scores lower than one forcing
    // backoff, which scores lower than one with OOV terms.
    assert(out(1L)._2 < out(2L)._2 && out(2L)._2 < out(3L)._2)
  }

  test("trigram surprisal matches an independent Stupid Backoff " +
      "model; every arm (seen trigram, backoff bigram, double " +
      "backoff, OOV, first/second token, 1- and 2-token docs) is " +
      "exercised") {
    // trainMod=3, trainRem=1 => docs 1 and 4 train, ALL score:
    // doc 1 re-scores its own seen trigrams; doc 2 reorders trained
    // terms (trigrams unseen -> bigram/unigram backoff); doc 3 has
    // OOV terms (double backoff to the add-one floor); doc 5 is one
    // token (first arm only); doc 6 is two tokens (first + second).
    val docs = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "cat the mat on sat"),
      (3L, "zyx qwv the cat sat"),
      (4L, "the cat sat again"),
      (5L, "the"),
      (6L, "cat sat")).toDF("doc_id", "text")
    val out = LanguageModel.trigramSurprisal(docs)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Double]("mean_surprisal")))
      .toMap
    val toks = Map(
      1L -> Seq("the", "cat", "sat", "on", "the", "mat"),
      2L -> Seq("cat", "the", "mat", "on", "sat"),
      3L -> Seq("zyx", "qwv", "the", "cat", "sat"),
      4L -> Seq("the", "cat", "sat", "again"),
      5L -> Seq("the"),
      6L -> Seq("cat", "sat"))
    val train = Seq(1L, 4L)
    val uni = train.flatMap(toks).groupBy(identity)
      .map { case (t, xs) => t -> xs.size.toLong }
    val n = uni.values.sum.toDouble
    val v = uni.size.toDouble
    val bg = train.flatMap(d => toks(d).sliding(2).filter(_.size == 2)
        .map(p => (p(0), p(1)))).groupBy(identity)
      .map { case (p, xs) => p -> xs.size.toLong }
    val tg = train.flatMap(d => toks(d).sliding(3).filter(_.size == 3)
        .map(p => (p(0), p(1), p(2)))).groupBy(identity)
      .map { case (p, xs) => p -> xs.size.toLong }
    def p1(w: String): Double = (uni.getOrElse(w, 0L) + 1) / (n + v)
    for ((d, tk) <- toks) {
      val first = -math.log(p1(tk.head))
      val second =
        if (tk.size < 2) 0.0
        else bg.get((tk(0), tk(1))) match {
          case Some(c2) => -math.log(c2.toDouble / uni(tk(0)))
          case None => -math.log(0.4 * p1(tk(1)))
        }
      val rest = tk.sliding(3).filter(_.size == 3).map { t =>
        tg.get((t(0), t(1), t(2))) match {
          case Some(c3) => -math.log(c3.toDouble / bg((t(0), t(1))))
          case None => bg.get((t(1), t(2))) match {
            case Some(c2) =>
              -math.log(0.4 * (c2.toDouble / uni(t(1))))
            case None => -math.log(0.4 * 0.4 * p1(t(2)))
          }
        }
      }.sum
      val ms = (first + second + rest) / tk.size
      assert(out(d)._1 == tk.size, s"doc $d n_tokens")
      assert(math.abs(out(d)._2 - ms) < 1e-6, s"doc $d surprisal")
    }
    // Trained word order scores lower than any doc forcing backoff
    // (doc 3's OOV head is partly offset by its trained "the cat
    // sat" tail, so only the trained-vs-backoff relation is stable).
    assert(out(1L)._2 < out(2L)._2 && out(1L)._2 < out(3L)._2)
  }

  test("surprisal keep-threshold: ceil(f*n)-th smallest sampled " +
      "score, +Inf on an empty sample") {
    // Model = the sort-based rank the former sort+limit plan
    // computed; the quantileDisc-backed implementation must agree
    // exactly (same discrete rank, same doubles).
    val scored = (1L to 60L).map { id =>
      (id, id * 3, math.floor(math.sin(id.toDouble) * 1e6) / 1e6 + 2.0)
    }.toDF("doc_id", "n_tokens", "mean_surprisal")
    for (frac <- Seq(0.5, 0.9, 1.0)) {
      val got = LanguageModel
        .surprisalKeepThreshold(scored, keepFraction = frac)
        .head().getDouble(0)
      val samp = (1L to 60L).filter(_ % 7 == 3)
        .map(id => math.floor(math.sin(id.toDouble) * 1e6) / 1e6 + 2.0)
        .sorted
      val k = math.ceil(frac * samp.size).toInt
      assert(got == samp(k - 1), s"frac=$frac")
    }
    // Sample slice empty (no doc_id % 7 == 3 in range): keep-all.
    val tiny = Seq((1L, 2L, 5.0), (2L, 2L, 6.0))
      .toDF("doc_id", "n_tokens", "mean_surprisal")
    assert(LanguageModel.surprisalKeepThreshold(tiny)
      .head().getDouble(0).isPosInfinity)
  }

  test("quality score: sweet-spot text beats garbage") {
    val good = "the quick brown fox jumps over the lazy dog and " * 8
    val punct = "!!! ??? ... ;;; ::: !!! ??? ... ;;; :::"
    val df = Seq((1L, good), (2L, punct), (3L, "a")).toDF("doc_id", "text")
    val q = df.select(col("doc_id"),
      TextAnalysis.qualityScore(col("text")).as("q"))
      .as[(Long, Double)].collect().toMap
    assert(q(1L) > 0.8)
    assert(q(2L) < 0.3)
    assert(q(3L) < 0.2)
  }

  test("fingerprint is whitespace/case invariant; rolling hash stable") {
    val df = Seq(
      (1L, "Hello   World"), (2L, "hello world"), (3L, "hello worlds"))
      .toDF("doc_id", "text")
    val fp = df.select(col("doc_id"),
      TextAnalysis.fingerprint(col("text")).as("f"),
      HofReference.rollingFingerprint(col("text")).as("r"))
      .as[(Long, String, Long)].collect()
      .map(t => t._1 -> (t._2, t._3)).toMap
    assert(fp(1L) == fp(2L))
    assert(fp(1L) != fp(3L))
    assert(fp(1L)._2 >= 0L && fp(1L)._2 < 1000000007L)
  }

  test("fused quality stats equal the HOF composition exactly") {
    graft.functions.GraftFunctions.register(spark)
    val texts = Seq(
      "The quick brown fox, with the usual punctuation marks!?",
      "", "   ", "\t\n\f\r", "one", "der die das und ist",
      "ALL CAPS AND The MiXeD case", "a.b,c;d:e!f?g'h\"i(j)k[l]{m}",
      "  leading and trailing   whitespace  ",
      "unicode für über straße 日本語",
      "the " * 60 + "end")
    val df = texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val both = df.select(
      col("doc_id"),
      length(col("text")).as("n_chars"),
      // HOF composition
      TextAnalysis.tokenCount(col("text")).as("n_hof"),
      round(TextAnalysis.qualityScore(col("text")), 6).as("q_hof"),
      // fused kernel
      graft.functions.GraftFunctions
        .textQualityStats(col("text"), TextAnalysis.allStopCsv)
        .as("st"))
      .select(col("doc_id"), col("n_hof"), col("q_hof"),
        col("st.n_tokens").as("n_fused"),
        TextAnalysis.qualityFromStats(col("st"), col("n_chars"))
          .as("q_fused"))
      .collect()
    for (r <- both) {
      assert(r.getAs[Int]("n_hof") == r.getAs[Int]("n_fused"),
        s"token count diverges for doc ${r.getAs[Long]("doc_id")}")
      assert(r.getAs[Double]("q_hof") == r.getAs[Double]("q_fused"),
        s"quality diverges for doc ${r.getAs[Long]("doc_id")}")
    }
  }

  test("repetition stats: counts, edges, and the degenerate doc") {
    graft.functions.GraftFunctions.register(spark)
    val df = Seq(
      (1L, "a a a a"),            // bigram "a a" x3 of 3 -> frac 1.0
      (2L, "one two three four"), // all distinct, top bigram 1 of 3
      (3L, ""),                   // the empty-token edge
      (4L, "Spam spam SPAM spam egg")) // case-folds to one token
      .toDF("doc_id", "text")
    val out = df.select(col("doc_id"),
      graft.functions.GraftFunctions.textRepetitionStats(col("text"))
        .as("rp"))
      .select(col("doc_id"), col("rp.n_tokens"),
        col("rp.distinct_tokens"), col("rp.n_grams"),
        col("rp.top_gram"))
      .collect()
      .map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4))).toMap
    assert(out(1L) == ((4, 1, 3, 3)))
    assert(out(2L) == ((4, 4, 3, 1)))
    assert(out(3L) == ((1, 1, 0, 0)))
    assert(out(4L) == ((5, 2, 4, 3))) // "spam spam" x2, "spam egg" x1
  }

  test("quality features append the documented columns") {
    val df = TextAnalysis.qualityFeatures(
      Seq((1L, "some sample text here.")).toDF("doc_id", "text"))
    assert(Seq("n_chars_q", "n_tokens", "punct_ratio",
      "stopword_ratio", "mean_token_len")
      .forall(df.columns.contains))
  }

  test("Moore-Lewis cross-entropy difference matches two independent " +
      "Stupid Backoff models; in-domain text scores lower") {
    // in-domain model trains on source 'tgt' (docs 1, 4); general
    // model on id%3==1 (docs 1, 4 is id 4 -> 4%3=1 yes, and 1%3=1
    // yes — overlap is the realistic case: the raw pool contains
    // in-domain docs too). Doc 2 repeats in-domain phrasing from a
    // web source; doc 3 is out-of-domain jargon.
    val docs = Seq(
      (1L, "the cat sat on the mat", "tgt"),
      (2L, "the cat sat on a mat", "web"),
      (3L, "qwv zyx flux capacitor", "web"),
      (4L, "the cat ran on the mat", "tgt"),
      (5L, "mat the on cat", "web"))
      .toDF("doc_id", "text", "source")
    val out = LanguageModel.crossEntropyDiff(docs,
      col("source") === "tgt")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Double]("ms_in"),
          r.getAs[Double]("ms_gen"), r.getAs[Double]("ce_diff")))
      .toMap
    val toks = Map(
      1L -> Seq("the", "cat", "sat", "on", "the", "mat"),
      2L -> Seq("the", "cat", "sat", "on", "a", "mat"),
      3L -> Seq("qwv", "zyx", "flux", "capacitor"),
      4L -> Seq("the", "cat", "ran", "on", "the", "mat"),
      5L -> Seq("mat", "the", "on", "cat"))
    def model(train: Seq[Long]): Map[Long, Double] = {
      val uni = train.flatMap(toks).groupBy(identity)
        .map { case (t, xs) => t -> xs.size.toLong }
      val n = uni.values.sum.toDouble
      val v = uni.size.toDouble
      val bg = train.flatMap(d => toks(d).sliding(2)
          .filter(_.size == 2).map(p => (p(0), p(1))))
        .groupBy(identity).map { case (p, xs) => p -> xs.size.toLong }
      def p1(w: String): Double = (uni.getOrElse(w, 0L) + 1) / (n + v)
      toks.map { case (d, tk) =>
        val first = -math.log(p1(tk.head))
        val rest = tk.sliding(2).filter(_.size == 2).map { p =>
          bg.get((p(0), p(1))) match {
            case Some(c2) => -math.log(c2.toDouble / uni(p(0)))
            case None => -math.log(0.4 * p1(p(1)))
          }
        }.sum
        d -> (first + rest) / tk.size
      }
    }
    val msIn = model(Seq(1L, 4L))
    val msGen = model(Seq(1L, 4L))  // ids with id%3==1: 1 and 4
    for ((d, tk) <- toks) {
      assert(out(d)._1 == tk.size, s"doc $d n_tokens")
      assert(math.abs(out(d)._2 - msIn(d)) < 1e-5, s"doc $d ms_in")
      assert(math.abs(out(d)._3 - msGen(d)) < 1e-5, s"doc $d ms_gen")
      assert(math.abs(out(d)._4 - (out(d)._2 - out(d)._3)) < 2e-6,
        s"doc $d ce_diff")
    }
    // With DIFFERENT train slices the score separates: make the
    // general model train on docs 2 and 5 (mod 3 rem 2) instead.
    val out2 = LanguageModel.crossEntropyDiff(docs,
      col("source") === "tgt", trainRem = 2)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Double]("ce_diff")).toMap
    val msGen2 = model(Seq(2L, 5L))
    for ((d, _) <- toks)
      assert(math.abs(out2(d) - (math.rint(msIn(d) * 1e6) / 1e6
        - math.rint(msGen2(d) * 1e6) / 1e6)) < 2e-6, s"doc $d v2")
    // In-domain docs score lower than the scrambled and jargon docs
    // (doc 2 is IN the general model's train slice, so ITS general
    // surprisal is memorized-low and its difference high — the
    // correct behavior, not an ordering to pin).
    assert(out2(1L) < out2(5L) && out2(4L) < out2(5L)
      && out2(1L) < out2(3L) && out2(4L) < out2(3L))
  }

  test("fused crossEntropyDiff is bit-identical to the two-pass " +
      "composition of bigramSurprisal models it replaced") {
    // The r15 fusion builds the instance streams once and joins both
    // models' stats side by side; this pins it against the original
    // two-pass form (one bigramSurprisal per model, inner-joined) —
    // exact double equality, since the per-doc DECIMAL(38,18) sums
    // are order-independent and the instances/terms are identical.
    val docs = Seq(
      (1L, "the cat sat on the mat", "tgt"),
      (2L, "the cat sat on a mat", "web"),
      (3L, "qwv zyx flux capacitor", "web"),
      (4L, "the cat ran on the mat", "tgt"),
      (5L, "mat the on cat", "web"),
      (6L, "solo", "web"),
      (7L, "the the the the", "tgt"))
      .toDF("doc_id", "text", "source")
    val fused = LanguageModel.crossEntropyDiff(docs,
      col("source") === "tgt")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Double]("ms_in"),
          r.getAs[Double]("ms_gen"), r.getAs[Double]("ce_diff")))
      .toMap
    val msIn = LanguageModel.bigramSurprisal(docs,
      col("source") === "tgt", "doc_id", "text", 0.4)
    val msGen = LanguageModel.bigramSurprisal(docs,
      col("doc_id") % 3 === 1, "doc_id", "text", 0.4)
    val twoPass = msIn.select(col("doc_id"), col("n_tokens"),
        col("mean_surprisal").as("ms_in"))
      .join(msGen.select(col("doc_id"),
        col("mean_surprisal").as("ms_gen")), "doc_id")
      .select(col("doc_id"), col("n_tokens"), col("ms_in"),
        col("ms_gen"),
        round(col("ms_in") - col("ms_gen"), 6).as("ce_diff"))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Double]("ms_in"),
          r.getAs[Double]("ms_gen"), r.getAs[Double]("ce_diff")))
      .toMap
    assert(fused.keySet == twoPass.keySet)
    for ((d, v) <- twoPass) assert(fused(d) == v, s"doc $d")
  }

  test("DSIR log importance weights match an independent hashed-" +
      "ngram model; target-like text weighs higher") {
    // target = source 'tgt' (docs 1, 4); raw sample = id%3==1
    // (docs 1, 4). Doc 2 shares the target's vocabulary, doc 3
    // does not.
    val docs = Seq(
      (1L, "the cat sat on the mat", "tgt"),
      (2L, "the cat sat", "web"),
      (3L, "qwv zyx flux capacitor blorp", "web"),
      (4L, "the cat ran", "tgt"),
      (5L, "the", "web"))
      .toDF("doc_id", "text", "source")
    val B = 64 // small bucket count: collisions live in this test
    val out = Importance.dsirLogWeights(docs,
      col("source") === "tgt", buckets = B)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_grams"), r.getAs[Double]("logw"))).toMap
    val toks = Map(
      1L -> Seq("the", "cat", "sat", "on", "the", "mat"),
      2L -> Seq("the", "cat", "sat"),
      3L -> Seq("qwv", "zyx", "flux", "capacitor", "blorp"),
      4L -> Seq("the", "cat", "ran"),
      5L -> Seq("the"))
    def grams(tk: Seq[String]): Seq[String] =
      tk ++ tk.sliding(2).filter(_.size == 2).map(_.mkString(" "))
    def bucket(g: String): Long = {
      var acc = 0L
      g.codePoints().forEach(cp => acc = (acc * 31 + cp) % 1000000007L)
      acc % B
    }
    def bag(ids: Seq[Long]): Map[Long, Long] =
      ids.flatMap(d => grams(toks(d))).map(bucket)
        .groupBy(identity).map { case (b, xs) => b -> xs.size.toLong }
    val tgt = bag(Seq(1L, 4L)); val raw = bag(Seq(1L, 4L))
    val nt = tgt.values.sum.toDouble; val nq = raw.values.sum.toDouble
    for ((d, tk) <- toks) {
      val gs = grams(tk)
      val logw = gs.map(bucket).map { b =>
        math.log((tgt.getOrElse(b, 0L) + 1) / (nt + B)) -
          math.log((raw.getOrElse(b, 0L) + 1) / (nq + B))
      }.sum
      assert(out(d)._1 == gs.size, s"doc $d n_grams")
      assert(math.abs(out(d)._2 - logw) < 1e-5, s"doc $d logw")
    }
    // Target and raw slices coincide here, so the add-one smoothing
    // makes every ratio ln((c+1)/(nt+B)) - ln((c+1)/(nq+B)) = 0 when
    // the totals agree — the degenerate-but-exact case.
    assert(math.abs(out(1L)._2) < 1e-9)
    // Distinct slices: target docs 1,4 vs raw docs 2,5 — now doc 3
    // (vocabulary absent from BOTH slices) is weighed by the prior
    // ratio alone, and target-vocabulary docs weigh higher.
    val out2 = Importance.dsirLogWeights(docs,
      col("source") === "tgt", buckets = B, rawRem = 2)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Double]("logw")).toMap
    val raw2 = bag(Seq(2L, 5L)); val nq2 = raw2.values.sum.toDouble
    for ((d, tk) <- toks) {
      val logw = grams(tk).map(bucket).map { b =>
        math.log((tgt.getOrElse(b, 0L) + 1) / (nt + B)) -
          math.log((raw2.getOrElse(b, 0L) + 1) / (nq2 + B))
      }.sum
      assert(math.abs(out2(d) - logw) < 1e-5, s"doc $d logw v2")
    }
    // Pure-target-vocabulary doc 4 weighs above the out-of-both-
    // slices doc 3, and above the raw-slice-heavy doc 2.
    assert(out2(4L) > out2(3L) && out2(4L) > out2(2L))
  }

  test("NB quality classifier matches an independent hashed-ngram " +
      "log-odds model; curated-vocabulary text scores higher") {
    // positive = source src0/src1 (docs 1, 5, 8); negative =
    // id%3==1 AND not positive (docs 4, 7). Docs 2/3 are unlabeled
    // score-only rows (2 shares the curated vocabulary, 3 the
    // negative slice's).
    val docs = Seq(
      (1L, "the cat sat on the mat", "src0"),
      (2L, "the cat sat", "web"),
      (3L, "qwv zyx flux capacitor blorp", "web"),
      (4L, "qwv flux blorp", "web"),
      (5L, "the cat ran", "src1"),
      (7L, "blorp flux zyx", "web"),
      (8L, "the cat", "src0"))
      .toDF("doc_id", "text", "source")
    val B = 64 // small bucket count: collisions live in this test
    val out = QualityFilter.nbQualityScores(docs,
      col("source").isin("src0", "src1"), buckets = B)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_grams"), r.getAs[Double]("score"),
          r.getAs[Boolean]("keep")))).toMap
    val toks = Map(
      1L -> Seq("the", "cat", "sat", "on", "the", "mat"),
      2L -> Seq("the", "cat", "sat"),
      3L -> Seq("qwv", "zyx", "flux", "capacitor", "blorp"),
      4L -> Seq("qwv", "flux", "blorp"),
      5L -> Seq("the", "cat", "ran"),
      7L -> Seq("blorp", "flux", "zyx"),
      8L -> Seq("the", "cat"))
    def grams(tk: Seq[String]): Seq[String] =
      tk ++ tk.sliding(2).filter(_.size == 2).map(_.mkString(" "))
    def bucket(g: String): Long = {
      var acc = 0L
      g.codePoints().forEach(cp => acc = (acc * 31 + cp) % 1000000007L)
      acc % B
    }
    def bag(ids: Seq[Long]): Map[Long, Long] =
      ids.flatMap(d => grams(toks(d))).map(bucket)
        .groupBy(identity).map { case (b, xs) => b -> xs.size.toLong }
    val pos = bag(Seq(1L, 5L, 8L)); val neg = bag(Seq(4L, 7L))
    val np = pos.values.sum.toDouble; val nn = neg.values.sum.toDouble
    val prior = math.log(4.0 / 3.0) // (3 pos docs + 1) / (2 neg + 1)
    for ((d, tk) <- toks) {
      val gs = grams(tk)
      val score = prior + gs.map(bucket).map { b =>
        math.log((pos.getOrElse(b, 0L) + 1) / (np + B)) -
          math.log((neg.getOrElse(b, 0L) + 1) / (nn + B))
      }.sum
      assert(out(d)._1 == gs.size, s"doc $d n_grams")
      assert(math.abs(out(d)._2 - score) < 1e-5, s"doc $d score")
      assert(out(d)._3 == (out(d)._2 > 0), s"doc $d keep")
    }
    // Curated-vocabulary doc 2 classifies KEEP and above the
    // negative-vocabulary docs 3/4/7, which classify DROP.
    assert(out(2L)._3 && out(2L)._2 > out(3L)._2)
    assert(!out(3L)._3 && !out(4L)._3 && !out(7L)._3)
  }

  // Independent naive reference for the Gopher repetition kernel:
  // Scala-collections groupBy/sliding, a fully separate code path
  // from the fused one-pass kernel it checks.
  private def gopherRef(text: String)
      : (Int, Long, Seq[Long], Seq[Long]) = {
    val split = text.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
    val toks = if (split.isEmpty) Seq("") else split
    val ntc = toks.map(_.length.toLong).sum
    def grams(n: Int): Seq[String] =
      toks.sliding(n).filter(_.size == n).map(_.mkString(" ")).toSeq
    val tops = Seq(2, 3, 4).map { n =>
      val gs = grams(n)
      if (gs.isEmpty) 0L
      else {
        val cnt = gs.groupBy(identity).view.mapValues(_.size).toMap
        val mc = cnt.values.max
        val chars = cnt.filter(_._2 == mc).keys
          .map(g => (g.length - (n - 1)).toLong).max
        mc.toLong * chars
      }
    }
    val dups = Seq(5, 6, 7, 8, 9, 10).map { n =>
      val gs = grams(n)
      if (gs.isEmpty) 0L
      else {
        val cnt = gs.groupBy(identity).view.mapValues(_.size).toMap
        val covered = gs.zipWithIndex
          .filter { case (g, _) => cnt(g) >= 2 }
          .flatMap { case (_, i) => i until (i + n) }.toSet
        covered.toSeq.map(p => toks(p).length.toLong).sum
      }
    }
    (toks.size, ntc, tops, dups)
  }

  test("Gopher repetition kernel matches the naive reference") {
    graft.functions.GraftFunctions.register(spark)
    val rng = new scala.util.Random(4242)
    val vocab = Seq("the", "spark", "merge", "row", "scan", "a", "of",
      "partition", "x1", "zz")
    val randomDocs = (0 until 40).map { _ =>
      (0 until (3 + rng.nextInt(60)))
        .map(_ => vocab(rng.nextInt(vocab.length))).mkString(" ")
    }
    val handDocs = Seq(
      "", "   ", "one",
      "a b a b a b a b",                    // dominant bigram
      "x y z x y z x y z x y z x y z",      // repeated 5..10-grams
      "aa bb aa cc aa bb aa cc aa bb aa",    // overlapping dup coverage
      ("w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 " * 3).trim, // long dup block
      "t t t t t t t t t t t t")            // single repeated token
    val all = (randomDocs ++ handDocs).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    val df = all.toDF("doc_id", "text")
    val rp = graft.functions.GraftFunctions
      .textGopherRepetition(col("text"))
    val got = df.withColumn("rp", rp)
      .select(col("doc_id"), col("rp.n_tokens"),
        col("rp.n_token_chars"),
        col("rp.top2_chars"), col("rp.top3_chars"),
        col("rp.top4_chars"),
        col("rp.dup5_chars"), col("rp.dup6_chars"),
        col("rp.dup7_chars"), col("rp.dup8_chars"),
        col("rp.dup9_chars"), col("rp.dup10_chars"))
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getLong(2),
          Seq(r.getLong(3), r.getLong(4), r.getLong(5)),
          Seq(r.getLong(6), r.getLong(7), r.getLong(8),
            r.getLong(9), r.getLong(10), r.getLong(11)))).toMap
    for ((id, text) <- all) {
      val ref = gopherRef(text)
      assert(got(id) == ref, s"doc $id: '${text.take(40)}'")
    }
  }

  test("Gopher repetition kernel: the >=65536-distinct-token intern " +
      "overflow falls back to joined-string keys, same result") {
    graft.functions.GraftFunctions.register(spark)
    // 70,000 distinct tokens + a repeated tail so top/dup signals are
    // non-trivial on both sides of the fallback boundary.
    val big = ((0 until 70000).map(i => s"w$i") ++
      Seq.fill(4)(Seq("a", "b", "c", "d", "e", "f", "g", "h", "i",
        "j")).flatten).mkString(" ")
    val df = Seq((1L, big)).toDF("doc_id", "text")
    val rp = graft.functions.GraftFunctions
      .textGopherRepetition(col("text"))
    val got = df.withColumn("rp", rp)
      .select(col("rp.n_tokens"), col("rp.n_token_chars"),
        col("rp.top2_chars"), col("rp.top3_chars"), col("rp.top4_chars"),
        col("rp.dup5_chars"), col("rp.dup6_chars"), col("rp.dup7_chars"),
        col("rp.dup8_chars"), col("rp.dup9_chars"), col("rp.dup10_chars"))
      .collect().head
    val ref = gopherRef(big)
    assert(got.getInt(0) == ref._1)
    assert(got.getLong(1) == ref._2)
    assert(Seq(got.getLong(2), got.getLong(3), got.getLong(4)) == ref._3)
    assert((5 to 10).map(i => got.getLong(i)) == ref._4)
  }

  test("Gopher keep verdict applies the published thresholds") {
    graft.functions.GraftFunctions.register(spark)
    // Repeated "a b" text: the top 2-gram dominates the chars ->
    // dropped. 30 distinct tokens: every n-gram count is 1 and every
    // char fraction is under its threshold -> kept. (A SHORT diverse
    // doc fails top-3/4 legitimately — a count-1 n-gram's chars can
    // exceed 16-18% of a small denominator; the published filter
    // targets web-scale documents.)
    val df = Seq(
      (1L, "a b a b a b a b a b a b a b a b"),
      (2L, (1 to 30).map(i => f"w$i%02d").mkString(" ")))
      .toDF("doc_id", "text")
    val rp = graft.functions.GraftFunctions
      .textGopherRepetition(col("text"))
    val ntc = col("rp.n_token_chars")
    val keep = Seq("top2_chars" -> 20, "top3_chars" -> 18,
      "top4_chars" -> 16, "dup5_chars" -> 15, "dup6_chars" -> 14,
      "dup7_chars" -> 13, "dup8_chars" -> 12, "dup9_chars" -> 11,
      "dup10_chars" -> 10)
      .map { case (f, pct) => col(s"rp.$f") * 100L <= ntc * pct.toLong }
      .reduce(_ && _)
    val out = df.withColumn("rp", rp)
      .select(col("doc_id"), keep.as("keep"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(!out(1L) && out(2L))
  }

  test("Gopher quality kernel matches the HOF composition " +
      "(fused TextGopherQuality == gopherQualityStatsHof)") {
    graft.functions.GraftFunctions.register(spark)
    val rng = new scala.util.Random(1515)
    val vocab = Seq("the", "be", "to", "of", "and", "that", "have",
      "with", "spark", "row", "12345", "##", "a-b", "*x", "…", "...",
      "word…", "end...")
    val randomDocs = (0 until 60).map { _ =>
      (0 until (1 + rng.nextInt(80))).map { _ =>
        val w = vocab(rng.nextInt(vocab.length))
        if (rng.nextInt(8) == 0) w + "\n" else w
      }.mkString(" ")
    }
    val handDocs = Seq(
      "", " ", "\n", "\n\n", "   \n   ",
      "...", "....", ".....", "......", "…", "……", ".…", "..…",
      "• bullet\n  - dashed\n\t- tab-led dash", // ltrim strips ' ' only
      "ends with dots...\nends spaced... \nends tab...\t",
      "UPPER Case MiXeD", "Ωmega ΔΕΛΤΑ στοπ",
      "# ## ### #no-space",
      "the\tbe\ntoof\fand\rthat have with",
      "*star -dash •dot ‣tri ▪sq",
      "ends cr...\r\nnext line",   // $ matches before a trailing \r
      "dots... \r", "u2028... \u2028", "bare...", "twice...\r\r",
      "𝒜math 😀emoji word") // supplementary cps
    val all = (randomDocs ++ handDocs).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    val df = all.toDF("doc_id", "text")
    val fields = Seq("n_words", "n_word_chars", "alpha_words",
      "hash_cnt", "ellipsis_cnt", "n_lines", "bullet_lines",
      "ellipsis_lines", "stop_hits")
    def collectStats(st: org.apache.spark.sql.Column)
        : Map[Long, Seq[Long]] =
      df.withColumn("st", st)
        .select(col("doc_id") +: fields.map(f => col(s"st.$f")): _*)
        .collect()
        .map(r => r.getLong(0) -> fields.indices.map(i =>
          r.getLong(i + 1))).toMap
    val kernel = collectStats(
      TextAnalysis.gopherQualityStats(col("text")))
    val hof = collectStats(
      HofReference.gopherQualityStats(col("text")))
    for ((id, text) <- all)
      assert(kernel(id) == hof(id),
        s"doc $id: '${text.take(50)}' kernel=${kernel(id)} " +
          s"hof=${hof(id)}")
  }

  test("Gopher quality stats: word, symbol, line, and stopword " +
      "counters on a crafted multi-line doc") {
    graft.functions.GraftFunctions.register(spark)
    val text = "• the first bullet line\n" +
      "- another bullet with more...\n" +
      "plain words have letters\n" +
      "trailing ellipsis here… \n" +
      "## hash marks 42 100 9000"
    val df = Seq((1L, text)).toDF("doc_id", "text")
    val st = df.select(
      TextAnalysis.gopherQualityStats(col("text")).as("st"))
      .select("st.*").collect().head
    assert(st.getAs[Long]("n_words") == 23)
    // "..." + "…" = 2 ellipses; "##" = 2 hash chars
    assert(st.getAs[Long]("hash_cnt") == 2)
    assert(st.getAs[Long]("ellipsis_cnt") == 2)
    assert(st.getAs[Long]("n_lines") == 5)
    assert(st.getAs[Long]("bullet_lines") == 2)
    // the "…"-ended line has a trailing space — rtrim catches it
    assert(st.getAs[Long]("ellipsis_lines") == 2)
    // numeric tokens 42/100/9000 and the symbol tokens carry no letter
    assert(st.getAs[Long]("alpha_words") == 17)
    // of gopherStopwords: the, with, have present
    assert(st.getAs[Long]("stop_hits") == 3)
  }

  test("Gopher quality keep: each published rule trips " +
      "independently") {
    graft.functions.GraftFunctions.register(spark)
    val base = (1 to 60).map(i => f"the of and word$i%03d").mkString(" ")
    val docs = Seq(
      1L -> base,                                  // passes all rules
      2L -> "the of and short doc",                // < 50 words
      3L -> (base + " " + (1 to 40).map(_ => "#").mkString(" ")),
      4L -> (1 to 60).map(_ => "zz zz zz 12345 98765").mkString(" "),
      5L -> (1 to 60).map(i => f"w$i%03d x$i%03d").mkString(" "))
      .toDF("doc_id", "text")
    val out = docs.select(col("doc_id"),
      TextAnalysis.gopherQualityKeep(
        TextAnalysis.gopherQualityStats(col("text"))).as("keep"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(out(1L))
    assert(!out(2L))   // word count below 50
    assert(!out(3L))   // hash symbol-to-word ratio over 0.1
    assert(!out(4L))   // 2/5 of words lack a letter (< 80% alpha)
    assert(!out(5L))   // no must-occur stopword present (< 2 hits)
  }
}
