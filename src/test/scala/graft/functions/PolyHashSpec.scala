package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The portable-hash kernels must equal a direct Scala model of the
  * arithmetic the DuckDB oracles restate (base-31 polynomial mod
  * 1e9+7, affine minhash permutations, Knuth-mixed 30-bit simhash
  * votes) — if these drift, the external oracle parity of
  * d02/d03 silently breaks. */
class PolyHashSpec extends SparkSpec {

  import spark.implicits._

  private val P = 1000000007L

  private def modelHash(s: String): Long =
    s.codePoints().toArray.foldLeft(0L)((a, c) => (a * 31 + c) % P)

  test("native poly_hash equals the HOF rollingFingerprint") {
    GraftFunctions.register(spark)
    val rows = Seq("", "a", "Hello,  World ", "tok123_4",
      "the quick brown fox", "mixed 99 UPPER case")
      .toDF("text")
    val out = rows.select(
      GraftFunctions.polyHash(
        graft.llm.TextFunctions.normalizeText(col("text")))
        .as("native"),
      graft.llm.HofReference.rollingFingerprint(col("text"))
        .as("hof"))
      .as[(Long, Long)].collect()
    out.foreach { case (n, h) => assert(n == h) }
  }

  test("hashString: polynomial over code points, empty -> 0") {
    assert(PolyHash.hashString(
      org.apache.spark.unsafe.types.UTF8String.fromString("")) == 0L)
    for (s <- Seq("ab", "hello world", "été", "中文字", "a b  c", "0")) {
      assert(PolyHash.hashString(
        org.apache.spark.unsafe.types.UTF8String.fromString(s))
        == modelHash(s), s"hash mismatch for '$s'")
    }
  }

  test("fused shingle hashes equal the wide-key model of the " +
      "string-shingle compose on varied text") {
    GraftFunctions.register(spark)
    // The model: the distinct gram STRINGS (the HOF shingle form),
    // each mapped to the injective two-family pack h1 * P2 + h2 —
    // the wide key the fused expression emits (bare base-31 h1 has
    // exact polynomial identities like "c89" = "atw"; see
    // PolyHash.shingleHashes).
    def wideKey(g: String): Long = {
      def fold(base: Long, mod: Long): Long = {
        var acc = 0L
        var i = 0
        while (i < g.length) {
          val cp = g.codePointAt(i)
          acc = (acc * base + cp) % mod
          i += Character.charCount(cp)
        }
        acc
      }
      fold(31L, PolyHash.P) * PolyHash.P2 + fold(131L, PolyHash.P2)
    }
    val rnd = new scala.util.Random(23)
    val rows = (Seq("", "ab", "abcdefgh", "  spaced\t out \n text  ",
      "UPPER and lower Mixed", "aaaaaaaaaaaaaaaa",
      "répétition répétition") ++
      (0 until 40).map(_ => (0 until rnd.nextInt(120))
        .map(_ => "abcde tx ".charAt(rnd.nextInt(9))).mkString))
      .toDF("text")
    for (n <- Seq(3, 5, 8)) {
      val out = rows.select(
        GraftFunctions.polyShingleHashes(col("text"), n).as("native"),
        graft.llm.HofReference.shingles(col("text"), n).as("grams"))
        .as[(Seq[Long], Seq[String])].collect()
      out.foreach { case (nat, grams) =>
        assert(nat == grams.map(wideKey),
          s"n=$n native=$nat grams=$grams")
      }
    }
    // The base-31 identity the wide key exists to break: equal h1,
    // distinct wide keys.
    assert(wideKey("c89") != wideKey("atw"))
    assert(wideKey("c89") / PolyHash.P2 == wideKey("atw") / PolyHash.P2)
  }

  test("poly minhash equals per-seed model; values stay below P") {
    GraftFunctions.register(spark)
    // The kernel chain d02/d08 run: minhash over the fused wide gram
    // keys. Its permutations read only the base-31 component
    // h1 = key / P2, so the model hashes each distinct gram STRING
    // with base 31 alone ("c89"/"atw" share h1 and must still agree).
    val rnd = new scala.util.Random(11)
    val rows = (Seq("", "ab", "c89 atw c89", "the quick brown fox",
      "Été  ÉTÉ\tété") ++
      (0 until 50).map(_ => (0 until rnd.nextInt(80))
        .map(_ => "abcxyz 89".charAt(rnd.nextInt(9))).mkString))
      .toDF("text")
    val k = 16
    for (n <- Seq(3, 5)) {
      val out = rows.select(
        graft.llm.HofReference.shingles(col("text"), n).as("grams"),
        GraftFunctions.polyMinhashWide(
          GraftFunctions.polyShingleHashes(col("text"), n), k).as("mh"))
        .as[(Seq[String], Seq[Long])].collect()
      out.foreach { case (grams, mh) =>
        assert(mh.length == k)
        val hs = grams.map(modelHash)
        (0 until k).foreach { i =>
          val expect = hs
            .map(h => (PolyHash.multiplier(i) * h + PolyHash.offset(i)) % P)
            .min
          assert(mh(i) == expect && mh(i) < P, s"n=$n grams=$grams i=$i")
        }
      }
    }
  }

  test("poly simhash equals bit-vote model; fits in 30 bits") {
    GraftFunctions.register(spark)
    val rnd = new scala.util.Random(7)
    val words = Vector("the", "quick", "brown", "fox", "", "a", "b42")
    val rows = (0 until 50).map { i =>
      (i.toLong, (0 until rnd.nextInt(30)).map(_ =>
        words(rnd.nextInt(words.size))))
    }.toDF("id", "tk")
    val out = rows.select(col("tk"),
      GraftFunctions.polySimhash(col("tk")).as("sig"))
      .as[(Seq[String], Long)].collect()
    out.foreach { case (tk, sig) =>
      assert(sig >= 0L && sig < (1L << 30))
      val mixed = tk.map(t => (modelHash(t) * PolyHash.Mix) % (1L << 30))
      val expect = (0 until 30).foldLeft(0L) { (acc, b) =>
        val votes = mixed.map(m => if (((m >> b) & 1L) == 1L) 1 else -1).sum
        if (votes > 0) acc | (1L << b) else acc
      }
      assert(sig == expect)
    }
  }
}
