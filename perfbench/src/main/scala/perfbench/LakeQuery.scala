package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Lake
import graft.jobs.Jobs
import graft.ops.{AsofJoin, Quantiles}

/** The lake's readers: each op is one pass over the query kinds, each
  * kind once with its own seeded parameters, on a lake built in set-up by
  * `Jobs.extract` plus a `Jobs.cdcMerge` batch and read-only while timed. */
final class LakeQuery(spark: SparkSession, work: File, seed: Long) extends Workload {
  import LakeQuery._

  /** Five 18-op runs on a 4-core VM averaged 1.70 s at op 6, 1.58 s at
    * op 7 and 1.52-1.54 s at ops 8-11 (then 1.33-1.49 s to op 17): op 7
    * is the first within 10 % of the level at ops 8-11. */
  override def warmOps: Int = 7
  override def nominalOpS: Double = NominalOpS

  private val spec = LakeSpec("2024-03-01", Days, RowsPerDay)
  private var model: LakeModel = _
  private var lake: String = _
  private var source: Jobs.FrameSource = _
  private var maxDateTime: String = _
  private var probes: DataFrame = _
  private var answers = Map.empty[String, Any]
  private var lakeBytes = 0L

  /** Every rep builds the same lake: extract, then the same batches. */
  def setup(rep: Int): Double = {
    if (rep == 0) {
      val src = new File(work, "source.parquet").getPath
      LakeData.writeSource(spark, spec, seed, src)
      source = new Jobs.FrameSource(spark.read.parquet(src))
      model = new LakeModel(spec, seed)
      (0 until SetupMerges).foreach { i =>
        val batch = CdcBatch.generate(model, seed, 1000 + i, SetupEvents)
        LakeData.renderBatch(batch, new File(work, s"batch-$i"), i + 1, 1)
        batch.foreach(model.apply)
      }
      maxDateTime = model.maxDateTime
    }
    Main.deleteTree(new File(work, s"lake-${rep - 1}"))
    lake = new File(work, s"lake-$rep").getPath
    val s = Main.timed {
      Jobs.extract(spark, source, lake)
      (0 until SetupMerges).foreach { i =>
        Jobs.cdcMerge(spark, new File(work, s"batch-$i/mysql-bin.*").getPath, lake)
      }
    }
    lakeBytes = LakeData.bytes(LakeData.files(lake))
    s
  }

  private def day(i: Int) = spec.dayNames(i)
  private def midnight(i: Int) =
    java.time.LocalDate.parse(spec.firstDay).plusDays(i.toLong).toString + " 00:00:00"
  private def window(from: Int, days: Int): DataFrame =
    Lake.read(spark, lake)
      .where(col("date_time") >= midnight(from) && col("date_time") < midnight(from + days))

  /** Day index skewed toward the newest: `u^3` favours small offsets. */
  private def recentDay(r: Rng, span: Int): Int = {
    val u = r.nextDouble()
    Days - span - (u * u * u * (Days - span + 1)).toInt
  }

  /** Each kind's parameters come from a stream of their own. */
  private def rng(op: Int, kind: String) = Rng.of(seed, 5, op.toLong, Kinds.indexOf(kind).toLong)

  def prepare(op: Int): Unit = {
    val r = rng(op, "asof")
    val from = recentDay(r, 2)
    val base = Gen.epochOfDay(day(from))
    val rows = (0 until Probes).map { p =>
      Row((p % Series).toLong, Gen.render(base - 600 + r.nextInt(2 * 86400 + 600)), p.toLong)
    }
    probes = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
      new org.apache.spark.sql.types.StructType()
        .add("series", "long", nullable = false)
        .add("date_time", "string", nullable = false)
        .add("probe", "long", nullable = false))
  }

  private def sp[T](tr: Option[Tracer], name: String)(body: => T): T =
    tr.fold(body)(_.span(name)(body))

  def run(op: Int, tr: Option[Tracer]): Unit =
    answers = Kinds.map(k => k -> query(op, k, tr)).toMap

  private def query(op: Int, kind: String, tr: Option[Tracer]): Any = {
    val r = rng(op, kind)
    kind match {
      case "point" =>
        val d = recentDay(r, 1)
        sp(tr, "io.scan")(window(d, 1).select("id", "date_time", "value").collect())
      case "week" =>
        val d = recentDay(r, 7)
        sp(tr, "io.scan")(window(d, 7).groupBy("day")
          .agg(count(lit(1)), count("value"), min("value"), max("value"), max("ts")).collect())
      case "month" =>
        sp(tr, "ops.agg")(window(0, Days).groupBy("day")
          .agg(count(lit(1)), avg("value"), min("date_time"), max("date_time")).collect())
      case "quantile" =>
        val d = recentDay(r, 7)
        sp(tr, "ops.quantile")(Quantiles.quantileDisc(window(d, 7), "value", Probs).collect())
      case "asof" =>
        val d = recentDay(r, 2)
        val right = window(d, 2).select((col("id") % Series).as("series"),
          col("date_time"), col("id"), col("value"))
        sp(tr, "ops.asof")(AsofJoin.asof(probes, right, "series", "date_time").collect())
      case "resume" => sp(tr, "io.resume_point")(Lake.resumePointAt(spark, lake))
      case "reconcile" => sp(tr, "io.reconcile")(Lake.reconcile(model.count, Lake.read(spark, lake)))
    }
  }

  private def opt(r: Row, i: Int): Option[Double] = if (r.isNullAt(i)) None else Some(r.getDouble(i))

  def check(op: Int): Boolean = Kinds.forall { k =>
    val ok = matches(op, k, answers(k))
    if (!ok) System.err.println(s"perfbench: op $op: $k answer differs from the model")
    ok
  }

  private def matches(op: Int, kind: String, answer: Any): Boolean = {
    val r = rng(op, kind)
    def rowsIn(from: Int, days: Int) = (from until from + days).iterator.flatMap(d => model.byDay(d).valuesIterator)
    (kind, answer) match {
      case ("point", got: Array[Row]) =>
        val d = recentDay(r, 1)
        got.map(x => (x.getLong(0), x.getString(1), opt(x, 2))).sortBy(_._1).toSeq ==
          model.byDay(d).valuesIterator.map(x => (x.id, x.dateTime, x.value)).toSeq.sortBy(_._1)
      case ("week", got: Array[Row]) =>
        val d = recentDay(r, 7)
        got.map(x => x.getString(0) -> (x.getLong(1), x.getLong(2), opt(x, 3), opt(x, 4), x.getString(5))).toMap ==
          (d until d + 7).map { i =>
            val rs = model.byDay(i).values.toSeq
            val vs = rs.flatMap(_.value)
            day(i) -> (rs.size.toLong, vs.size.toLong, vs.minOption, vs.maxOption, rs.map(_.ts).max)
          }.toMap
      case ("month", got: Array[Row]) =>
        val want = (0 until Days).map { i =>
          val rs = model.byDay(i).values.toSeq
          val vs = rs.flatMap(_.value)
          day(i) -> (rs.size.toLong, vs.sum / vs.size, rs.map(_.dateTime).min, rs.map(_.dateTime).max)
        }.toMap
        got.length == Days && got.forall { x =>
          want.get(x.getString(0)).exists { case (n, avg, lo, hi) =>
            x.getLong(1) == n && math.abs(x.getDouble(2) - avg) <= 1e-9 * math.abs(avg) &&
              x.getString(3) == lo && x.getString(4) == hi
          }
        }
      case ("quantile", got: Array[Row]) =>
        val d = recentDay(r, 7)
        val vs = rowsIn(d, 7).flatMap(_.value).toArray.sorted
        got.map(x => (x.getDouble(0), x.getDouble(1))).toSeq ==
          Probs.map(p => (p, vs(math.max(1, math.ceil(p * vs.length).toInt) - 1)))
      case ("asof", got: Array[Row]) =>
        val d = recentDay(r, 2)
        val bySeries = rowsIn(d, 2).toSeq.groupBy(_.id % Series)
          .map { case (s, rs) => s -> rs.map(x => (x.dateTime, x.id, x.value)).sortBy(x => (x._1, x._2)) }
        got.length == Probes && got.forall { x =>
          val (s, t) = (x.getLong(0), x.getString(1))
          val want = bySeries.getOrElse(s, Nil).takeWhile(_._1 <= t).lastOption
          val have = if (x.isNullAt(3)) None else Some((x.getString(3), x.getLong(4), opt(x, 5)))
          have == want
        }
      case ("resume", got: Option[_]) => got.contains(maxDateTime)
      case ("reconcile", got: Lake.Reconciliation) => got.matches && got.parquetCount == model.count
      case _ => false
    }
  }

  def items(op: Int): Long = Kinds.size.toLong

  def bytesPerRow: Double = lakeBytes.toDouble / model.count

  def layers(tr: Tracer, roots: Seq[Span]): Map[String, Double] = {
    val pc = new PlanCounts
    roots.flatMap(tr.subtree).foreach(s => pc.add(s.plans))
    val n = math.max(1, roots.size).toDouble
    val listing = LakeData.files(lake)
    Map(
      "io.scan_s" -> Main.spanMean(tr, roots, "io.scan"),
      "io.resume_point_s" -> Main.spanMean(tr, roots, "io.resume_point"),
      "io.reconcile_s" -> Main.spanMean(tr, roots, "io.reconcile"),
      "ops.agg_s" -> Main.spanMean(tr, roots, "ops.agg"),
      "ops.quantile_s" -> Main.spanMean(tr, roots, "ops.quantile"),
      "ops.asof_s" -> Main.spanMean(tr, roots, "ops.asof"),
      "io.files_read" -> pc.filesRead / n,
      "io.bytes_read" -> pc.bytesRead / n,
      "plans.days_read_ratio" ->
        pc.partitionsRead.toDouble / math.max(1L, pc.partitionScans) / listing.size,
      "io.files_per_day" -> listing.values.map(_.size).sum.toDouble / listing.size)
  }

  override def detail: Map[String, Any] = Map(
    "sizes" -> Map("days" -> Days, "rows_per_day" -> RowsPerDay,
      "setup_merges" -> SetupMerges, "setup_events_per_merge" -> SetupEvents,
      "asof_probes" -> Probes),
    "kinds_per_op" -> Kinds)
}

object LakeQuery {
  val Days = 30
  val RowsPerDay = 4000
  val SetupMerges = 1
  val SetupEvents = 5000
  val Probes = 400
  val Series = 8
  val Probs = Seq(0.5, 0.9, 0.99)
  /** The query kinds of one op, in the order they run. The month
    * aggregate goes first, so the cold op starts with a whole-lake scan. */
  val Kinds: IndexedSeq[String] = IndexedSeq("month", "week", "point",
    "quantile", "asof", "resume", "reconcile")
  /** Seconds of one warm pass on a 4-core VM, which sets how many ops a
    * run of `--seconds` measures. */
  val NominalOpS = 1.8
}
