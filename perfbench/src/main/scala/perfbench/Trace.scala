package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{DataSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark runtime counts of the jobs one span ran. */
final class RuntimeCounts {
  var jobs, stages, tasks = 0L
  var cpuNs, gcMs, shuffleWrite, shuffleRead, spill, input = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)] // wall ms
  def add(o: RuntimeCounts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    cpuNs += o.cpuNs; gcMs += o.gcMs; shuffleWrite += o.shuffleWrite
    shuffleRead += o.shuffleRead; spill += o.spill; input += o.input
    jobIntervals ++= o.jobIntervals
  }
}

/** What the executed plans of one span read: file-scan counts and the
  * candidate pairs of a minhash band join (the output of the distinct
  * over `(id_corpus, id_batch)`, before verification). `candidateAggs`
  * counts the distincts found, so a plan without one is told apart from
  * one with no candidates. */
final class PlanCounts {
  var scans, filesRead, bytesRead, partitionScans, partitionsRead = 0L
  var candidates, candidateAggs = 0L
  def add(o: PlanCounts): Unit = {
    scans += o.scans; filesRead += o.filesRead; bytesRead += o.bytesRead
    partitionScans += o.partitionScans; partitionsRead += o.partitionsRead
    candidates += o.candidates; candidateAggs += o.candidateAggs
  }
}

final case class Span(name: String, id: Int, parent: Int, startNs: Long,
    endNs: Long, startMs: Long, endMs: Long, runtime: RuntimeCounts,
    plans: PlanCounts) {
  def seconds: Double = (endNs - startNs) / 1e9

  /** Span wall time not covered by any of its own jobs. */
  def driverGapS: Double = {
    val iv = runtime.jobIntervals.map { case (s, e) =>
      (math.max(s, startMs), math.min(e, endMs)) }.filter(p => p._2 > p._1).sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    math.max(0.0, seconds - covered / 1e3)
  }
}

private object PlanProbe extends AdaptiveSparkPlanHelper {
  private def metric(p: SparkPlan, key: String): Option[Long] =
    p.metrics.get(key).map(_.value)

  def count(plan: SparkPlan): PlanCounts = {
    val c = new PlanCounts
    collect(plan) { case s: DataSourceScanExec => s }.foreach { s =>
      c.scans += 1
      c.filesRead += metric(s, "numFiles").getOrElse(0L)
      c.bytesRead += metric(s, "filesSize").getOrElse(0L)
      metric(s, "numPartitions").foreach { n =>
        c.partitionScans += 1; c.partitionsRead += n }
    }
    collect(plan) {
      case a: BaseAggregateExec if a.aggregateExpressions.isEmpty &&
          a.requiredChildDistributionExpressions.isDefined &&
          a.output.map(_.name) == Seq("id_corpus", "id_batch") => a
    }.foreach { a =>
      c.candidateAggs += 1
      c.candidates += metric(a, "numOutputRows").getOrElse(0L)
    }
    c
  }
}

/** Records spans around the calls into each engine layer. Attached only
  * in the traced run: a SparkListener attributes jobs, stages and tasks
  * to the span whose job group launched them, and a QueryExecutionListener
  * reads scan and join counts from each executed plan. Spans stay in
  * memory until the run ends. */
final class Tracer(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  private val GroupKey = "spark.jobGroup.id"
  private val sc = spark.sparkContext
  private val byGroup = mutable.Map.empty[String, RuntimeCounts]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val jobGroup = mutable.Map.empty[Int, (String, Long)]
  private var pendingPlans = new PlanCounts
  private var nextId = 0
  private val stack = mutable.Stack.empty[(Int, String)]
  val spans = mutable.ArrayBuffer.empty[Span]

  sc.addSparkListener(this)
  spark.listenerManager.register(this)

  def detach(): Unit = {
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    sc.clearJobGroup()
  }

  private def counts(g: String): RuntimeCounts = byGroup.getOrElseUpdate(g, new RuntimeCounts)
  private def group(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty(GroupKey)))
      .filter(_.startsWith("span-"))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    group(e.properties).foreach { g =>
      counts(g).jobs += 1
      jobGroup(e.jobId) = (g, e.time)
    }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobGroup.remove(e.jobId).foreach { case (g, start) =>
      counts(g).jobIntervals += ((start, e.time)) }
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    group(e.properties).foreach { g =>
      counts(g).stages += 1
      stageGroup(e.stageInfo.stageId) = g
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (g <- stageGroup.get(e.stageId); m <- Option(e.taskMetrics)) {
      val c = counts(g)
      c.tasks += 1
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.input += m.inputMetrics.bytesRead
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val c = PlanProbe.count(qe.executedPlan)
    synchronized(pendingPlans.add(c))
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Runs `body` as a span named `name`, nested in the current one. Jobs
    * it launches carry the span's job group; at its end the listener bus
    * is drained so every count of the span has arrived. */
  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.map(_._1).getOrElse(-1)
    if (parent < 0) {
      // plans executed outside any span (untraced ops) belong to none
      org.apache.spark.BenchBus.drain(sc)
      synchronized { pendingPlans = new PlanCounts }
    }
    sc.setJobGroup(s"span-$id", name, interruptOnCancel = false)
    stack.push((id, name))
    val (s0, m0) = (System.nanoTime(), System.currentTimeMillis())
    try body
    finally {
      val (s1, m1) = (System.nanoTime(), System.currentTimeMillis())
      stack.pop()
      stack.headOption match {
        case Some((p, pName)) => sc.setJobGroup(s"span-$p", pName, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
      org.apache.spark.BenchBus.drain(sc)
      synchronized {
        val rc = byGroup.remove(s"span-$id").getOrElse(new RuntimeCounts)
        val pc = pendingPlans
        pendingPlans = new PlanCounts
        spans += Span(name, id, parent, s0, s1, m0, m1, rc, pc)
      }
    }
  }

  /** `root` and every span nested in it. */
  def subtree(root: Span): Seq[Span] = {
    val kids = spans.filter(_.parent == root.id).toSeq
    root +: kids.flatMap(subtree)
  }
}
