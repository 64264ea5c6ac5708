package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession

/** One workload of the benchmark, driven op by op by one closed-loop
  * client: the next op starts only when the previous one has returned. */
trait Workload {
  /** Ops run before measuring, the first of them the cold op. A fixed
    * count, read off op-time curves measured on a 4-core VM at the point
    * where op time had come within about 10 % of its settled value; being
    * fixed, every run measures the same op indices, at the same stage of
    * JIT warm-up. */
  def warmOps: Int
  /** Seconds of one warm op on a 4-core VM. A run measures
    * `--seconds / nominalOpS` ops (at least [[Main.MinMeasuredOps]]), a
    * count that does not depend on how fast the host is that day. */
  def nominalOpS: Double

  /** Builds the state ops run against, in a fresh directory, and returns
    * the seconds its engine calls took; inputs it generates are written
    * before that clock starts. The harness runs it [[setupReps]] times
    * (once in a traced run) and keeps the last. */
  def setup(rep: Int): Double
  /** Set-ups per run; `setup_s` is the median of their times. */
  def setupReps: Int = 3
  /** Untimed: writes op `op`'s inputs to disk. */
  def prepare(op: Int): Unit
  /** Timed: the op itself, through the engine's public entry points. */
  def run(op: Int, tr: Option[Tracer]): Unit
  /** Untimed: true when the op's outputs equal the driver-side model;
    * removes the op's inputs. */
  def check(op: Int): Boolean
  /** Items the op processed: events, queries or documents. */
  def items(op: Int): Long
  /** Bytes on disk per live row of the store the workload keeps. */
  def bytesPerRow: Double
  /** Per-layer metrics (names from [[Main.LayerUnits]]) as per-op means
    * over the traced ops, whose root spans are `roots`. */
  def layers(tr: Tracer, roots: Seq[Span]): Map[String, Double]
  def detail: Map[String, Any] = Map.empty
}

object Main {
  /** Every per-layer metric with its unit; each traced run reports all. */
  val LayerUnits: ListMap[String, String] = ListMap(
    "cdc.parse_s" -> "s", "cdc.consolidate_s" -> "s", "cdc.merge_s" -> "s",
    "cdc.events" -> "count", "cdc.net_ratio" -> "ratio",
    "jobs.integrity_s" -> "s",
    "io.dirty_days" -> "count", "io.files_written" -> "count",
    "io.bytes_written" -> "B", "io.write_amp" -> "ratio",
    "io.files_per_day" -> "count",
    "io.scan_s" -> "s", "io.files_read" -> "count", "io.bytes_read" -> "B",
    "plans.days_read_ratio" -> "ratio",
    "io.resume_point_s" -> "s", "io.reconcile_s" -> "s",
    "ops.agg_s" -> "s", "ops.quantile_s" -> "s", "ops.asof_s" -> "s",
    "llm.quality_s" -> "s", "llm.dedup_s" -> "s", "llm.media_s" -> "s",
    "llm.candidates" -> "count", "llm.pairs" -> "count",
    "llm.pair_precision" -> "ratio")

  /** Seconds `body` takes. */
  def timed(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** Per-op mean seconds of the spans named `name` under `roots`. */
  def spanMean(tr: Tracer, roots: Seq[Span], name: String): Double =
    roots.flatMap(tr.subtree).filter(_.name == name).map(_.seconds).sum /
      math.max(1, roots.size)
  val MinMeasuredOps = 3

  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, work: File, out: File)

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", new File(need("work")), new File(need("out")))
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def session(work: File): SparkSession = {
    val k = math.min(4, Runtime.getRuntime.availableProcessors)
    val s = SparkSession.builder()
      .master(s"local[$k]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", k.toString)
      .config("spark.default.parallelism", k.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val host = new Host
    val work = new File(a.work, a.workload)
    deleteTree(work)
    work.mkdirs()
    val spark = session(work)
    try {
      val wl: Workload = a.workload match {
        case "cdc_daily" => new CdcDaily(spark, work, a.seed)
        case "lake_query" => new LakeQuery(spark, work, a.seed)
        case "curation" => new Curation(spark, work, a.seed)
        case other => sys.error(s"unknown workload $other")
      }
      val result = new Harness(wl, a, spark, host).run()
      if (result.spans.nonEmpty) {
        val f = new File(a.out, s"trace/${a.workload}-seed${a.seed}.json")
        f.getParentFile.mkdirs()
        java.nio.file.Files.writeString(f.toPath, Json(result.spans))
      }
      println(Json(Map("detail" -> result.detail)))
      println(Json(result.line))
      System.out.flush()
    } finally {
      spark.stop()
      deleteTree(work)
    }
  }

  /** `spans`: every span of a traced run, written to `trace/` under the
    * build directory. */
  final case class Result(line: Map[String, Any], detail: Map[String, Any],
      spans: Seq[Map[String, Any]])

  final class Harness(wl: Workload, a: Args, spark: SparkSession, host: Host) {
    private var attempted = 0
    private var failed = 0
    private val tracer = if (a.trace) Some(new Tracer(spark)) else None

    private def op(i: Int, traced: Boolean): Double = {
      val p0 = System.nanoTime()
      wl.prepare(i)
      System.gc()
      val t0 = System.nanoTime()
      val ran = Try(tracer.filter(_ => traced) match {
        case Some(tr) => tr.span("op")(wl.run(i, Some(tr)))
        case None => wl.run(i, None)
      })
      val dt = (System.nanoTime() - t0) / 1e9
      val ok = ran.flatMap(_ => Try(wl.check(i))) match {
        case Success(ok) => ok
        case Failure(e) => e.printStackTrace(); false
      }
      System.err.println(f"perfbench: op $i prepare ${(t0 - p0) / 1e9}%.3f s, " +
        f"run $dt%.3f s, check ${(System.nanoTime() - t0) / 1e9 - dt}%.3f s")
      attempted += 1
      if (!ok) { failed += 1; System.err.println(s"perfbench: op $i failed its check") }
      dt
    }

    def run(): Result = {
      // A traced run reports no setup_s, so one set-up is enough there.
      val setupTimes = (0 until (if (tracer.isDefined) 1 else wl.setupReps)).map(wl.setup)
      var next = 0
      def nextOp(traced: Boolean): Double = { val t = op(next, traced); next += 1; t }

      val warm = (0 until wl.warmOps).map(_ => nextOp(traced = false))
      val cold = warm.head

      val plain = mutable.ArrayBuffer.empty[(Int, Double)]
      val traced = mutable.ArrayBuffer.empty[Double]
      val t0 = System.nanoTime()
      val measured = math.max(MinMeasuredOps, math.ceil(a.seconds / wl.nominalOpS).toInt)
      // A traced run alternates untraced and traced ops, as many of each.
      (0 until measured * (if (tracer.isDefined) 2 else 1)).foreach { k =>
        if (tracer.isDefined && k % 2 == 1) traced += nextOp(traced = true)
        else { val i = next; plain += ((i, nextOp(traced = false))) }
      }
      val measureWall = (System.nanoTime() - t0) / 1e9

      tracer.foreach(_.detach())
      System.gc(); System.gc()
      val heldMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

      val times = plain.map(_._2).toSeq
      val p50 = Stats.median(times)
      val (tail, tailPct, n) = Stats.tail(times)
      val itemsPerS = plain.map(p => wl.items(p._1)).sum / times.sum
      val endToEnd = ListMap(
        "setup_s" -> (Stats.median(setupTimes), "s"),
        "cold_op_s" -> (cold, "s"),
        "op_s_p50" -> (p50, "s"),
        "op_s_tail" -> (tail, "s"),
        "items_per_s" -> (itemsPerS, "1/s"),
        "success_rate" -> ((attempted - failed).toDouble / attempted, "ratio"),
        "mem_held_mb" -> (heldMb, "MB"),
        "lake_bytes_per_row" -> (wl.bytesPerRow, "B/row"))
      val (metrics, traceDetail) = tracer match {
        case None => (endToEnd, Map.empty[String, Any])
        case Some(tr) => perLayer(tr, p50, Stats.median(traced.toSeq))
      }
      val line = ListMap(
        "correct" -> (failed == 0),
        "attempted" -> attempted,
        "failed" -> failed,
        "metrics" -> metrics.map { case (k, (v, u)) =>
          k -> ListMap("value" -> v, "unit" -> u) })
      val detail = ListMap(
        "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
        "trace" -> a.trace, "setup_s" -> setupTimes,
        "warmup_op_s" -> warm, "cold_op_s" -> cold,
        "measured_ops" -> n, "measure_wall_s" -> measureWall,
        "tail_percentile" -> tailPct, "tail_samples" -> n,
        "op_s" -> times, "traced_op_s" -> traced.toSeq,
        "host" -> host.record()) ++ wl.detail ++ traceDetail
      val spans = tracer.toSeq.flatMap(_.spans).map { s =>
        ListMap("name" -> s.name, "id" -> s.id, "parent" -> s.parent,
          "start_ms" -> s.startMs, "seconds" -> s.seconds, "driver_gap_s" -> s.driverGapS,
          "jobs" -> s.runtime.jobs, "stages" -> s.runtime.stages, "tasks" -> s.runtime.tasks,
          "executor_cpu_s" -> s.runtime.cpuNs / 1e9, "gc_s" -> s.runtime.gcMs / 1e3,
          "shuffle_write_bytes" -> s.runtime.shuffleWrite,
          "shuffle_read_bytes" -> s.runtime.shuffleRead, "spill_bytes" -> s.runtime.spill,
          "input_bytes" -> s.runtime.input, "files_read" -> s.plans.filesRead,
          "bytes_read" -> s.plans.bytesRead, "partitions_read" -> s.plans.partitionsRead,
          "candidates" -> s.plans.candidates)
      }
      Result(line, detail, spans)
    }

    /** Per-layer metrics, as per-op means over the traced ops. */
    private def perLayer(tr: Tracer, plainP50: Double, tracedP50: Double)
        : (ListMap[String, (Double, String)], Map[String, Any]) = {
      val roots = tr.spans.filter(s => s.name == "op" && s.parent < 0).toSeq
      val ops = math.max(1, roots.size).toDouble
      val rc = new RuntimeCounts
      var gap = 0.0
      roots.foreach { r =>
        val all = new RuntimeCounts
        tr.subtree(r).foreach(s => all.add(s.runtime))
        rc.add(all)
        gap += r.copy(runtime = all).driverGapS
      }
      val spark = ListMap(
        "spark.jobs" -> (rc.jobs / ops, "count"),
        "spark.stages" -> (rc.stages / ops, "count"),
        "spark.tasks" -> (rc.tasks / ops, "count"),
        "spark.driver_gap_s" -> (gap / ops, "s"),
        "spark.executor_cpu_s" -> (rc.cpuNs / 1e9 / ops, "s"),
        "spark.gc_s" -> (rc.gcMs / 1e3 / ops, "s"),
        "spark.shuffle_write_bytes" -> (rc.shuffleWrite / ops, "B"),
        "spark.shuffle_read_bytes" -> (rc.shuffleRead / ops, "B"),
        "spark.spill_bytes" -> (rc.spill / ops, "B"),
        "spark.input_bytes" -> (rc.input / ops, "B"))
      val measured = wl.layers(tr, roots)
      val unknown = measured.keySet -- LayerUnits.keySet
      require(unknown.isEmpty, s"undeclared per-layer metrics: $unknown")
      // A layer the workload bypasses reads 0: its predicted change.
      val layer = LayerUnits.map { case (k, u) => k -> (measured.getOrElse(k, 0.0), u) }
      val overhead = ListMap("run.tracing_overhead_s" -> (tracedP50 - plainP50, "s"))
      val bySpan = tr.spans.groupBy(_.name).map { case (name, ss) =>
        val c = new RuntimeCounts
        ss.foreach(s => c.add(s.runtime))
        name -> ListMap("count" -> ss.size, "seconds" -> ss.map(_.seconds).sum,
          "driver_gap_s" -> ss.map(_.driverGapS).sum, "jobs" -> c.jobs,
          "stages" -> c.stages, "tasks" -> c.tasks, "executor_cpu_s" -> c.cpuNs / 1e9,
          "shuffle_write_bytes" -> c.shuffleWrite, "input_bytes" -> c.input)
      }
      (layer ++ spark ++ overhead, Map("traced_ops" -> roots.size, "spans" -> bySpan))
    }
  }
}
