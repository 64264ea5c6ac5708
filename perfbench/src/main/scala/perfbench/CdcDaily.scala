package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.StorageLevel

import graft.cdc.{CdcSource, Consolidate}
import graft.io.Lake
import graft.jobs.Jobs

/** The reference's nightly lifecycle: each op merges one binlog batch into
  * a day-partitioned lake (`Jobs.cdcMerge`) and reconciles the counts
  * (`Jobs.integrity`). The lake is built in set-up by `Jobs.extract`. */
final class CdcDaily(spark: SparkSession, work: File, seed: Long) extends Workload {
  import CdcDaily._

  override def warmOps: Int = 4
  override def nominalOpS: Double = 1.7

  private val spec = LakeSpec("2024-01-01", Days, RowsPerDay)
  private var model: LakeModel = _
  private var lake: String = _
  private var source: Jobs.FrameSource = _
  private var reconciliation: Lake.Reconciliation = _
  private var listing = Map.empty[String, Map[String, Long]]
  private var maxFilesPerDay = 0

  /** What one op did to the lake, from file listings around it. */
  private final case class OpIo(events: Long, net: Long, dirtyDays: Int,
      filesWritten: Int, bytesWritten: Long, netBytes: Double, filesPerDay: Double)
  private val io = mutable.Map.empty[Int, OpIo]
  private val traced = mutable.Map.empty[Int, (Long, Long)] // op -> (events, net)
  private val events = mutable.Map.empty[Int, Int]

  private def batchDir(op: Int) = new File(work, s"batch-$op")

  def setup(rep: Int): Double = {
    if (rep == 0) {
      val src = new File(work, "source.parquet").getPath
      LakeData.writeSource(spark, spec, seed, src)
      source = new Jobs.FrameSource(spark.read.parquet(src))
      model = new LakeModel(spec, seed)
    }
    Main.deleteTree(new File(work, s"lake-${rep - 1}"))
    lake = new File(work, s"lake-$rep").getPath
    val s = Main.timed(Jobs.extract(spark, source, lake))
    listing = LakeData.files(lake)
    s
  }

  def prepare(op: Int): Unit = {
    val batch = CdcBatch.generate(model, seed, op, Events)
    LakeData.renderBatch(batch, batchDir(op), op * Files + 1, Files)
    batch.foreach(model.apply)
    events(op) = batch.size
  }

  def run(op: Int, tr: Option[Tracer]): Unit = {
    val glob = new File(batchDir(op), "mysql-bin.*").getPath
    tr match {
      case None =>
        Jobs.cdcMerge(spark, glob, lake)
        reconciliation = Jobs.integrity(spark, source, lake)
      case Some(t) =>
        // The traced form splits Jobs.cdcMerge at its layer calls and
        // materializes each output at its boundary.
        val (ev, nEvents) = t.span("cdc.parse") {
          val e = CdcSource.readEvents(spark, glob).persist(StorageLevel.MEMORY_AND_DISK)
          (e, e.count())
        }
        val (net, nNet) = t.span("cdc.consolidate") {
          val n = Consolidate.netChanges(ev).persist(StorageLevel.MEMORY_AND_DISK)
          (n, n.count())
        }
        t.span("cdc.merge")(Lake.mergeIntoLake(spark, lake, net))
        reconciliation = t.span("jobs.integrity")(Jobs.integrity(spark, source, lake))
        net.unpersist()
        ev.unpersist()
        traced(op) = (nEvents, nNet)
    }
  }

  def check(op: Int): Boolean = {
    Main.deleteTree(batchDir(op))
    val before = listing
    listing = LakeData.files(lake)
    val changed = (before.keySet ++ listing.keySet).filter(d => before.get(d) != listing.get(d))
    val fresh = listing.toSeq.flatMap { case (d, fs) =>
      fs.filter { case (f, _) => !before.get(d).exists(_.contains(f)) }.values }
    val rowsBefore = model.count
    val perDay = listing.values.map(_.size)
    maxFilesPerDay = math.max(maxFilesPerDay, perDay.max)
    val (nEvents, nNet) = traced.getOrElse(op, (events(op).toLong, 0L))
    io(op) = OpIo(nEvents, nNet, changed.size, fresh.size, fresh.sum,
      nNet * LakeData.bytes(before).toDouble / rowsBefore, perDay.sum.toDouble / listing.size)
    val level = model.byDay.forall(_.size == RowsPerDay) && perDay.max <= FilesPerDayCap
    if (!level) System.err.println(s"perfbench: lake not level after op $op: " +
      s"rows/day ${model.byDay.map(_.size).distinct.mkString(",")}, max files/day ${perDay.max}")
    reconciliation.matches && reconciliation.parquetCount == model.count && level &&
      LakeData.matches(spark, lake, model)
  }

  def items(op: Int): Long = events(op).toLong

  def bytesPerRow: Double = LakeData.bytes(LakeData.files(lake)).toDouble / model.count

  def layers(tr: Tracer, roots: Seq[Span]): Map[String, Double] = {
    val ops = traced.keys.toSeq.flatMap(io.get)
    val n = math.max(1, ops.size).toDouble
    def mean(f: OpIo => Double) = ops.map(f).sum / n
    Map(
      "cdc.parse_s" -> Main.spanMean(tr, roots, "cdc.parse"),
      "cdc.consolidate_s" -> Main.spanMean(tr, roots, "cdc.consolidate"),
      "cdc.merge_s" -> Main.spanMean(tr, roots, "cdc.merge"),
      "jobs.integrity_s" -> Main.spanMean(tr, roots, "jobs.integrity"),
      "cdc.events" -> mean(_.events.toDouble),
      "cdc.net_ratio" -> ops.map(_.net).sum.toDouble / math.max(1L, ops.map(_.events).sum),
      "io.dirty_days" -> mean(_.dirtyDays.toDouble),
      "io.files_written" -> mean(_.filesWritten.toDouble),
      "io.bytes_written" -> mean(_.bytesWritten.toDouble),
      "io.write_amp" -> ops.map(_.bytesWritten).sum / math.max(1.0, ops.map(_.netBytes).sum),
      "io.files_per_day" -> mean(_.filesPerDay))
  }

  override def detail: Map[String, Any] = Map(
    "sizes" -> Map("days" -> Days, "rows_per_day" -> RowsPerDay,
      "events_per_op" -> Events, "files_per_op" -> Files),
    "max_files_per_day" -> maxFilesPerDay,
    "files_per_day_cap" -> FilesPerDayCap)
}

object CdcDaily {
  val Days = 30
  val RowsPerDay = 4000
  val Events = 250000
  val Files = 8
  /** Each merge rewrites a dirty day as at most one file per shuffle
    * partition; more than twice that means files pile up across merges. */
  val FilesPerDayCap: Int = 2 * math.min(4, Runtime.getRuntime.availableProcessors)
}
