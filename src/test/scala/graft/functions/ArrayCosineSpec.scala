package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.llm.HofReference

/** The native codegen cosine must be bit-identical to the
  * higher-order-function composition it replaces (same accumulation
  * order), or the ANN oracle parity breaks. */
class ArrayCosineSpec extends SparkSpec {

  import spark.implicits._

  test("matches the HOF cosine bit-exactly on random vectors") {
    GraftFunctions.register(spark)
    val rnd = new scala.util.Random(11)
    val rows = (0 until 200).map { i =>
      (i.toLong, Array.fill(64)(rnd.nextGaussian()),
        Array.fill(64)(rnd.nextGaussian()))
    }.toDF("id", "a", "b")
    val out = rows.select(
      GraftFunctions.arrayCosine(col("a"), col("b")).as("native"),
      HofReference.cosine(col("a"), col("b")).as("hof"))
      .as[(Double, Double)].collect()
    out.foreach { case (n, h) =>
      assert(n == h, s"native $n != hof $h")
    }
  }

  test("zero vectors and length mismatch behave as documented") {
    GraftFunctions.register(spark)
    val df = Seq(
      (Array(0.0, 0.0), Array(1.0, 2.0)),
      (Array(1.0, 2.0, 3.0), Array(1.0, 2.0))) // common prefix
      .toDF("a", "b")
    val out = df.select(
      GraftFunctions.arrayCosine(col("a"), col("b"))).as[Double]
      .collect()
    assert(out(0) == 0.0)
    // prefix (1,2)·(1,2) / (|<1,2,3>| over prefix) — both norms use
    // the common prefix only
    assert(math.abs(out(1) - 1.0) < 1e-12)
  }

  test("null array yields null; SQL registration works") {
    GraftFunctions.register(spark)
    val out = spark.sql(
      "SELECT graft_array_cosine(CAST(NULL AS ARRAY<DOUBLE>), array(1.0d))")
      .collect().head
    assert(out.isNullAt(0))
    val v = spark.sql(
      "SELECT graft_array_cosine(array(1.0d, 0.0d), array(1.0d, 0.0d))")
      .collect().head.getDouble(0)
    assert(v == 1.0)
  }

  test("graft_nearest_centroid_probed rejects empty centroid arrays " +
      "with a descriptive error, not an index crash") {
    GraftFunctions.register(spark)
    // Empty fine set through the SQL surface: internal callers are
    // guarded by collectCentroids, but SQL literals are not — this
    // used to surface as fineCids(-1) -> ArrayIndexOutOfBounds deep
    // in the kernel.
    val e = intercept[Exception] {
      spark.sql(
        """SELECT graft_nearest_centroid_probed(array(1.0d),
             array(array(1.0d)), CAST(array() AS ARRAY<BIGINT>),
             CAST(array() AS ARRAY<ARRAY<DOUBLE>>),
             CAST(array() AS ARRAY<INT>), 1)""").collect()
    }
    assert(e.getMessage.contains("non-empty"),
      s"expected a descriptive require message, got: ${e.getMessage}")
    // Out-of-range coarse map entries are rejected at plan time too.
    val e2 = intercept[Exception] {
      spark.sql(
        """SELECT graft_nearest_centroid_probed(array(1.0d),
             array(array(1.0d)), array(0L),
             array(array(1.0d)), array(3), 1)""").collect()
    }
    assert(e2.getMessage.contains("coarse-map"),
      s"expected the coarse-map range message, got: ${e2.getMessage}")
  }
}
