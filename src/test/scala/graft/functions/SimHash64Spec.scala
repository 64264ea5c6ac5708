package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.llm.HofReference

/** The native one-pass simhash must equal the HOF composition exactly
  * (same xxhash64 seed, same vote/packing rules). */
class SimHash64Spec extends SparkSpec {

  import spark.implicits._

  test("native equals HOF simhash on varied token arrays") {
    GraftFunctions.register(spark)
    val rnd = new scala.util.Random(3)
    val words = Vector("alpha", "beta", "gamma", "delta", "x", "été",
      "中文", "12345", "", "the")
    val rows = (0 until 100).map { i =>
      (i.toLong, (0 until rnd.nextInt(40)).map(_ =>
        words(rnd.nextInt(words.size))))
    }.toDF("id", "tokens")
    val out = rows.select(
      GraftFunctions.simhash64(col("tokens")).as("native"),
      HofReference.simHash(col("tokens")).as("hof"))
      .as[(Long, Long)].collect()
    out.foreach { case (n, h) => assert(n == h) }
  }

  test("empty array: all votes negative -> signature 0") {
    GraftFunctions.register(spark)
    val out = spark.sql(
      "SELECT graft_simhash64(CAST(array() AS ARRAY<STRING>))")
      .collect().head.getLong(0)
    assert(out == 0L)
  }
}
