package perfbench

import java.time.{LocalDate, LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter

import scala.collection.mutable

/** SplitMix64: a small, fast, seedable generator whose stream is fixed by
  * its seed on every JVM. */
final class Rng(seed: Long) {
  private var s = seed
  def nextLong(): Long = {
    s += 0x9E3779B97F4A7C15L
    var z = s
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def nextInt(n: Int): Int = java.lang.Math.floorMod(nextLong(), n.toLong).toInt
  def nextDouble(): Double = (nextLong() >>> 11) * (1.0 / (1L << 53))
  def chance(p: Double): Boolean = nextDouble() < p
}

object Rng {
  /** A generator for one named sub-stream of `seed`. */
  def of(seed: Long, parts: Long*): Rng =
    new Rng(parts.foldLeft(seed * 0x632BE59BD9B4E019L)((h, p) =>
      new Rng(h ^ (p * 0x9E3779B97F4A7C15L)).nextLong()))
}

/** One lake row as the driver models it. `tsEpoch` is the `ts` column's
  * wall clock as UTC epoch seconds. */
final case class LakeRow(id: Long, dateTime: String, value: Option[Double],
    tsEpoch: Long) {
  def day: String = dateTime.substring(0, 10)
  def ts: String = Gen.render(tsEpoch)
}

object Gen {
  private val fmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  def render(epoch: Long): String =
    LocalDateTime.ofEpochSecond(epoch, 0, ZoneOffset.UTC).format(fmt)
  def epochOfDay(day: String): Long =
    LocalDate.parse(day).atStartOfDay().toEpochSecond(ZoneOffset.UTC)

  /** Order-free row digest term: 40 bits, so a sum over millions of rows
    * stays far from Long overflow. The Spark side applies the same
    * function as a UDF, so the lake and the model digest alike. */
  def rowHash(id: Long, dateTime: String, value: Option[Double],
      ts: String): Long = {
    val v = value.map(java.lang.Double.toString).getOrElse("N")
    val a = scala.util.hashing.MurmurHash3.stringHash(s"$id|$dateTime|$v|$ts")
    val b = scala.util.hashing.MurmurHash3.stringHash(s"$ts|$v|$dateTime|$id", 17)
    ((a.toLong << 32) ^ (b.toLong & 0xFFFFFFFFL)) & ((1L << 40) - 1)
  }
}

/** Shape of a day-partitioned lake: `days` consecutive days from
  * `firstDay`, `rowsPerDay` rows each. */
final case class LakeSpec(firstDay: String, days: Int, rowsPerDay: Int) {
  val dayNames: IndexedSeq[String] = {
    val d0 = LocalDate.parse(firstDay)
    (0 until days).map(i => d0.plusDays(i.toLong).toString)
  }

  /** Every pk keeps one `date_time` for life, so all its events land in
    * the same (day, id) key, as in the reference's fact table. */
  def dateTimeOf(seed: Long, day: Int, id: Long): String = {
    val sec = Rng.of(seed, 1, id).nextInt(86400)
    Gen.render(Gen.epochOfDay(dayNames(day)) + sec)
  }

  def valueOf(r: Rng): Option[Double] =
    if (r.chance(0.03)) None else Some(r.nextInt(10000000) / 100.0)

  /** The rows of `day` in the initial source table: ids are dense and
    * never 0, and later inserts draw ids above them. */
  def initialRows(seed: Long, day: Int): Iterator[LakeRow] =
    Iterator.range(0, rowsPerDay).map { j =>
      val id = 1L + day.toLong * rowsPerDay + j
      val dt = dateTimeOf(seed, day, id)
      val r = Rng.of(seed, 2, id)
      LakeRow(id, dt, valueOf(r), Gen.epochOfDay(dayNames(day)) +
        86400 + r.nextInt(3600))
    }

  def firstFreshId: Long = 1L + days.toLong * rowsPerDay
}

/** One CDC event as it is rendered into a binlog file. */
final case class Event(op: Char, id: Long, dateTime: String,
    value: Option[Double], tsEpoch: Long)

/** Driver-side model of the lake: the live rows of each day, updated by
  * applying events one after another in binlog order. Applying them in
  * order equals the engine's consolidate-then-merge result: an insert
  * upserts, an update changes only a present row, a delete removes. */
final class LakeModel(val spec: LakeSpec, seed: Long) {
  val byDay: Array[mutable.LongMap[LakeRow]] =
    Array.tabulate(spec.days) { d =>
      val m = mutable.LongMap.empty[LakeRow]
      spec.initialRows(seed, d).foreach(r => m.update(r.id, r))
      m
    }
  private var nextId = spec.firstFreshId

  def freshId(): Long = { val id = nextId; nextId += 1; id }

  private val dayIdx = spec.dayNames.zipWithIndex.toMap
  def dayIndex(day: String): Int = dayIdx(day)

  private val digests = mutable.Map.empty[Int, Long]

  def apply(e: Event): Unit = {
    val d = dayIndex(e.dateTime.substring(0, 10))
    digests.remove(d)
    val m = byDay(d)
    e.op match {
      case 'I' => m.update(e.id, LakeRow(e.id, e.dateTime, e.value, e.tsEpoch))
      case 'U' => if (m.contains(e.id))
        m.update(e.id, LakeRow(e.id, e.dateTime, e.value, e.tsEpoch))
      case 'D' => m.remove(e.id)
    }
  }

  def rows: Iterator[LakeRow] = byDay.iterator.flatMap(_.valuesIterator)
  def count: Long = byDay.map(_.size.toLong).sum
  /** Sum of [[Gen.rowHash]] over the day's rows, cached until it changes. */
  def dayDigest(d: Int): Long = digests.getOrElseUpdate(d,
    byDay(d).valuesIterator.map(r => Gen.rowHash(r.id, r.dateTime, r.value, r.ts)).sum)
  def maxDateTime: String = rows.map(_.dateTime).max
}

/** A nightly CDC batch: `events` in binlog order. Most events hit the
  * newest two days and a late tail hits three random older days. Per
  * touched day it deletes as many live pks as it inserts fresh ones, so
  * rows per day stay exactly level; pks repeat (update before delete,
  * update after insert, delete-then-reinsert, repeated updates). */
object CdcBatch {
  val HotShare = 0.9
  val LateDays = 3

  def generate(model: LakeModel, seed: Long, op: Int, events: Int): Seq[Event] = {
    val r = Rng.of(seed, 3, op.toLong)
    val n = model.spec.days
    val late = r.nextLong() // decorrelate the late-day pick from the rest
    val lateDays = {
      val lr = new Rng(late)
      val picked = mutable.LinkedHashSet.empty[Int]
      while (picked.size < LateDays) picked += lr.nextInt(n - 2)
      picked.toSeq
    }
    val budgets: Seq[(Int, Int)] =
      Seq(n - 1 -> (events * HotShare * 0.6).toInt,
        n - 2 -> (events * HotShare * 0.4).toInt) ++
        lateDays.map(d => d -> (events * (1 - HotShare) / LateDays).toInt)
    // Units are short per-pk event runs; each gets ascending random sort
    // keys so units interleave while keeping their own order.
    val keyed = mutable.ArrayBuffer.empty[(Double, Event)]
    for ((day, budget) <- budgets) {
      val dayName = model.spec.dayNames(day)
      val live = model.byDay(day).keysIterator.toArray
      java.util.Arrays.sort(live)
      val m = math.max(1, math.min(budget / 12, live.length / 4))
      val reins = math.max(1, math.min(budget / 24, live.length / 8))
      // distinct live pks for deletes and delete-then-reinserts
      val chosen = mutable.LinkedHashSet.empty[Long]
      while (chosen.size < 2 * m + reins && chosen.size < live.length)
        chosen += live(r.nextInt(live.length))
      val (dels, rest) = chosen.toSeq.splitAt(m)
      val reinsert = rest.take(reins)
      val base = Gen.epochOfDay(dayName) + 2 * 86400
      val dts = mutable.LongMap.empty[String]
      def img(id: Long, op: Char) = Event(op, id,
        dts.getOrElseUpdate(id, model.byDay(day).get(id).fold(
          model.spec.dateTimeOf(seed, day, id))(_.dateTime)),
        model.spec.valueOf(r), base + r.nextInt(86400))
      def unit(evs: Seq[Event]): Unit = {
        val ks = Seq.fill(evs.size)(r.nextDouble()).sorted
        keyed ++= ks.zip(evs)
      }
      var used = 0
      dels.foreach { id =>
        val evs = if (r.chance(0.3)) Seq(img(id, 'U'), img(id, 'D'))
          else Seq(img(id, 'D'))
        used += evs.size; unit(evs)
      }
      dels.foreach { _ =>
        val id = model.freshId()
        val evs = if (r.chance(0.3)) Seq(img(id, 'I'), img(id, 'U'))
          else Seq(img(id, 'I'))
        used += evs.size; unit(evs)
      }
      reinsert.foreach { id =>
        used += 2; unit(Seq(img(id, 'D'), img(id, 'I')))
      }
      while (used < budget) {
        val id = live(r.nextInt(live.length))
        val k = 1 + r.nextInt(3)
        used += k; unit(Seq.fill(k)(img(id, 'U')))
      }
    }
    keyed.sortBy(_._1).map(_._2).toSeq
  }

  /** Binlog pseudo-SQL for `events`, the `mysqlbinlog --verbose` block
    * shape the reference's consolidator reads. `@6` is unix seconds that
    * the parser renders in UTC+2, so it is the row's ts minus 2 h. */
  def render(events: Iterator[Event], out: java.io.Writer): Unit = {
    val table = "`enexory`.`api_data_timeseries`\n"
    val b = new java.lang.StringBuilder(256)
    events.foreach { e =>
      b.setLength(0)
      def key(): Unit = b.append("  @1=").append(e.id).append("\n  @3='")
        .append(e.dateTime).append("'\n")
      e.op match {
        case 'I' => b.append("### INSERT INTO ").append(table)
        case 'U' => b.append("### UPDATE ").append(table).append("### WHERE\n"); key()
        case 'D' => b.append("### DELETE FROM ").append(table).append("### WHERE\n"); key()
      }
      if (e.op != 'D') {
        b.append("### SET\n  @1=").append(e.id).append("\n  @2=7\n  @3='")
          .append(e.dateTime).append("'\n  @4=")
          .append(e.value.map(java.lang.Double.toString).getOrElse("NULL"))
          .append("\n  @5=0\n  @6=").append(e.tsEpoch - 7200).append('\n')
      }
      out.append(b)
    }
  }
}

/** One seeded document batch with its planted truth: exact copies,
  * near copies (3 % of words replaced) and short junk documents that the
  * quality filter must reject. Documents whose
  * `doc_id % 5 == 0` form the incoming batch of `d08_incremental_dedup`;
  * the rest are the corpus it dedups against. */
final case class Corpus(texts: IndexedSeq[String],
    exactPairs: Set[(Long, Long)], nearPairs: Set[(Long, Long)],
    junk: Set[Long])

object Corpus {
  val Stopwords = Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** A fixed synthetic vocabulary, large enough that unrelated documents
    * share few character 8-grams. */
  val Vocabulary: IndexedSeq[String] = {
    val r = new Rng(0x5EED)
    val letters = "abcdefghijklmnopqrstuvwxyz"
    (0 until 4000).map(_ =>
      Iterator.fill(3 + r.nextInt(7))(letters(r.nextInt(26))).mkString).distinct
  }

  private def word(r: Rng): String =
    if (r.chance(0.12)) Stopwords(r.nextInt(Stopwords.size))
    else {
      // Zipf-like: squaring a uniform draw favours the head of the list
      val u = r.nextDouble()
      Vocabulary((u * u * Vocabulary.size).toInt)
    }

  def generate(seed: Long, op: Int, docs: Int): Corpus = {
    val r = Rng.of(seed, 4, op.toLong)
    val texts = Array.fill(docs)("")
    val exact = mutable.Set.empty[(Long, Long)]
    val near = mutable.Set.empty[(Long, Long)]
    val junk = mutable.Set.empty[Long]
    def corpusId(): Int = { var i = 0; while (i % 5 == 0) i = r.nextInt(docs); i }
    for (i <- 0 until docs) {
      texts(i) =
        if (i % 5 != 0 || r.chance(0.8)) {
          if (r.chance(0.03)) { junk += i.toLong; Seq.fill(10 + r.nextInt(30))(word(r)).mkString(" ") }
          else {
            val words = Seq.fill(60 + r.nextInt(190))(word(r))
            words.grouped(12 + r.nextInt(8)).map(_.mkString(" ")).mkString("\n")
          }
        } else "" // filled below, once every corpus text exists
    }
    for (i <- 0 until docs by 5 if texts(i).isEmpty) {
      val src = corpusId()
      if (r.chance(0.5)) { texts(i) = texts(src); exact += ((src.toLong, i.toLong)) }
      else {
        // 3 % of words replaced keeps a pair far above the dedup
        // threshold; 30 % and 45 % put it near and below, so the band
        // join also yields candidates that verification rejects.
        val rate = Seq(0.03, 0.3, 0.45)(r.nextInt(3))
        texts(i) = texts(src).split(" ").map(w =>
          if (r.chance(rate)) word(r) else w).mkString(" ")
        if (rate < 0.1) near += ((src.toLong, i.toLong))
      }
      if (junk.contains(src.toLong)) junk += i.toLong
    }
    Corpus(texts.toIndexedSeq, exact.toSet, near.toSet, junk.toSet)
  }

  /** Jaccard of distinct character n-grams of the normalized texts: the
    * similarity `d08_incremental_dedup` thresholds, recomputed on the
    * driver. */
  def jaccard(a: String, b: String, n: Int): Double = {
    def grams(t: String): Set[String] = {
      val s = t.toLowerCase.replaceAll("\\s+", " ").trim
      if (s.length < n) Set(s) else (0 to s.length - n).map(i => s.substring(i, i + n)).toSet
    }
    val (ga, gb) = (grams(a), grams(b))
    val inter = ga.count(gb)
    inter.toDouble / (ga.size + gb.size - inter)
  }

  /** The raster `mm02_media_features` encodes for a document id: its
    * width, height and pixel samples. */
  def raster(id: Long): (Int, Int, Array[Int]) = {
    val w = (8 + id % 9).toInt
    val h = (8 + (id / 9) % 9).toInt
    (w, h, Array.tabulate(w * h)(i => (((id * 31 + i * 7) % 256).toByte) & 0xFF))
  }
}
