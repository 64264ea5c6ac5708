package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.io.Lake

/** Inputs and checks shared by the lake workloads. */
object LakeData {

  /** Writes the upstream table of `spec` as Parquet: the frame
    * `Jobs.extract` reads through a `FrameSource`. Each task generates its
    * days with the same function the driver-side model uses. */
  def writeSource(spark: SparkSession, spec: LakeSpec, seed: Long, path: String): Unit = {
    import spark.implicits._
    val k = spark.sparkContext.defaultParallelism
    spark.range(0, spec.days, 1, k).as[Long]
      .flatMap(d => spec.initialRows(seed, d.toInt).map(r => (r.id, r.dateTime, r.value, r.ts)))
      .toDF("id", "date_time", "value", "ts")
      .write.parquet(path)
  }

  /** Renders `events` into `files` binlog files `mysql-bin.NNNNNN`,
    * numbered from `firstNum`, consecutive chunks in binlog order. */
  def renderBatch(events: Seq[Event], dir: File, firstNum: Int, files: Int): Unit = {
    dir.mkdirs()
    val per = (events.size + files - 1) / files
    events.grouped(math.max(1, per)).zipWithIndex.foreach { case (chunk, i) =>
      val f = new File(dir, f"mysql-bin.${firstNum + i}%06d")
      val w = new BufferedWriter(new OutputStreamWriter(
        new FileOutputStream(f), StandardCharsets.UTF_8), 1 << 20)
      try CdcBatch.render(chunk.iterator, w) finally w.close()
    }
  }

  /** The lake's Parquet files: day -> (file name -> bytes). */
  def files(lake: String): Map[String, Map[String, Long]] =
    Option(new File(lake).listFiles).getOrElse(Array.empty[File])
      .filter(d => d.isDirectory && d.getName.startsWith("day="))
      .map(d => d.getName.stripPrefix("day=") ->
        d.listFiles.filter(f => f.isFile && f.getName.endsWith(".parquet"))
          .map(f => f.getName -> f.length).toMap)
      .toMap

  def bytes(listing: Map[String, Map[String, Long]]): Long =
    listing.valuesIterator.map(_.valuesIterator.sum).sum

  private def rowHashUdf = udf((id: Long, dt: String, v: java.lang.Double, ts: String) =>
    Gen.rowHash(id, dt, Option(v).map(_.doubleValue), ts))

  /** True when every day of the lake has the model's row count and row
    * digest, and the lake holds no day the model lacks. */
  def matches(spark: SparkSession, lake: String, model: LakeModel): Boolean = {
    val got = Lake.read(spark, lake)
      .groupBy("day")
      .agg(count(lit(1)).as("n"), sum(rowHashUdf(col("id"), col("date_time"),
        col("value"), col("ts"))).as("h"))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val want = model.spec.dayNames.indices.collect {
      case d if model.byDay(d).nonEmpty =>
        model.spec.dayNames(d) -> (model.byDay(d).size.toLong, model.dayDigest(d))
    }.toMap
    val ok = got == want
    if (!ok) System.err.println(s"perfbench: lake differs from the model on days " +
      (got.keySet ++ want.keySet).filter(d => got.get(d) != want.get(d)).toSeq.sorted.mkString(","))
    ok
  }
}
