package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}

import graft.SparkEntry

/** LLM-corpus batch admission: each op gets a fresh seeded
  * `documents.parquet` with planted exact and near duplicates and junk,
  * and runs the Gopher quality filter, incremental minhash dedup and
  * media feature decode, each by name through `SparkEntry.queries`. */
final class Curation(spark: SparkSession, work: File, seed: Long) extends Workload {
  import Curation._

  override def warmOps: Int = 4
  override def nominalOpS: Double = 2.3
  /** A warm set-up takes about 0.3 s, and the median of three (the larger
    * of two warm ones) spread 35 % across ten runs on a 4-core VM. */
  override def setupReps: Int = 7

  private val corpora = mutable.Map.empty[Int, Corpus]
  private var results: (Array[Row], Array[Row], Array[Row]) = _
  private var docBytes = 0L
  /** Per traced op: candidates, pairs, candidate distincts found. */
  private val dedupOps = mutable.ArrayBuffer.empty[(Long, Long, Long)]

  private def opDir(op: Int) = new File(work, s"docs-$op")

  private def write(c: Corpus, dir: File): Unit = {
    import spark.implicits._
    c.texts.zipWithIndex.map { case (t, i) =>
      (i.toLong, t, "en", s"src${i % 7}", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(new File(dir, "documents.parquet").getPath)
  }

  /** The only state this workload keeps between ops is the session, so
    * set-up is writing one seeded batch through Spark's Parquet writer. */
  def setup(rep: Int): Double = {
    Main.deleteTree(new File(work, s"setup-${rep - 1}"))
    val c = Corpus.generate(seed, -1, Docs)
    Main.timed(write(c, new File(work, s"setup-$rep")))
  }

  def prepare(op: Int): Unit = {
    val c = Corpus.generate(seed, op, Docs)
    write(c, opDir(op))
    corpora(op) = c
    docBytes = Option(new File(opDir(op), "documents.parquet").listFiles)
      .getOrElse(Array.empty[File]).filter(_.getName.endsWith(".parquet")).map(_.length).sum
  }

  private def sp[T](tr: Option[Tracer], name: String)(body: => T): T =
    tr.fold(body)(_.span(name)(body))

  def run(op: Int, tr: Option[Tracer]): Unit = {
    val dir = opDir(op).getPath
    def q(name: String) = SparkEntry.queries(name)(spark, dir).collect()
    results = (sp(tr, "llm.quality")(q("t41_gopher_full")),
      sp(tr, "llm.dedup")(q("d08_incremental_dedup")),
      sp(tr, "llm.media")(q("mm02_media_features")))
    tr.foreach { t =>
      val dedup = t.spans.filter(_.name == "llm.dedup").last
      dedupOps += ((dedup.plans.candidates, results._2.length.toLong, dedup.plans.candidateAggs))
    }
  }

  def check(op: Int): Boolean = {
    Main.deleteTree(opDir(op))
    val c = corpora.remove(op).get
    val (quality, pairs, media) = results
    val ids = (0 until Docs).map(_.toLong)
    val qualityOk = quality.map(_.getLong(0)).sorted.toSeq == ids &&
      quality.forall(r => !c.junk.contains(r.getLong(0)) || !r.getAs[Boolean]("keep"))
    val emitted = pairs.map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val dedupOk = c.exactPairs.forall(emitted.contains) && emitted.forall { case ((a, b), j) =>
      val exact = Corpus.jaccard(c.texts(a.toInt), c.texts(b.toInt), ShingleN)
      j >= Threshold && math.abs(j - exact) <= 1e-6
    }
    val mediaOk = media.map(_.getLong(0)).sorted.toSeq == ids && media.forall { r =>
      val (w, h, px) = Corpus.raster(r.getLong(0))
      val hash = px.foldLeft(0L)((acc, p) => (acc * 31 + p) % 1000000007L)
      r.getInt(1) == w && r.getInt(2) == h &&
        math.abs(r.getDouble(3) - px.sum.toDouble / (w * h)) <= 1e-6 &&
        r.getInt(4) == px.min && r.getInt(5) == px.max && r.getLong(6) == hash
    }
    if (!(qualityOk && dedupOk && mediaOk)) System.err.println(
      s"perfbench: curation op $op quality=$qualityOk dedup=$dedupOk media=$mediaOk")
    qualityOk && dedupOk && mediaOk
  }

  def items(op: Int): Long = Docs.toLong

  def bytesPerRow: Double = docBytes.toDouble / Docs

  def layers(tr: Tracer, roots: Seq[Span]): Map[String, Double] = {
    // Candidates are read from the plan's shape; if d08 no longer has
    // that shape, fail rather than report 0 candidates as a gain.
    require(dedupOps.forall { case (_, pairs, aggs) => pairs == 0 || aggs > 0 },
      "d08_incremental_dedup emitted pairs, but its executed plan has no distinct " +
        "over (id_corpus, id_batch) to read llm.candidates from")
    val n = math.max(1, dedupOps.size).toDouble
    val (cand, pairs) = (dedupOps.map(_._1).sum, dedupOps.map(_._2).sum)
    Map(
      "llm.quality_s" -> Main.spanMean(tr, roots, "llm.quality"),
      "llm.dedup_s" -> Main.spanMean(tr, roots, "llm.dedup"),
      "llm.media_s" -> Main.spanMean(tr, roots, "llm.media"),
      "llm.candidates" -> cand / n,
      "llm.pairs" -> pairs / n,
      "llm.pair_precision" -> (if (cand > 0) pairs.toDouble / cand else 0.0))
  }

  override def detail: Map[String, Any] = Map(
    "sizes" -> Map("docs_per_op" -> Docs),
    "queries" -> Seq("t41_gopher_full", "d08_incremental_dedup", "mm02_media_features"))
}

object Curation {
  val Docs = 2500
  /** d08_incremental_dedup's character-gram width and pair threshold. */
  val ShingleN = 8
  val Threshold = 0.3
}
