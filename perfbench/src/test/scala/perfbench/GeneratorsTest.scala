package perfbench

/** Tests of the seeded generators and the driver-side models, without
  * Spark. Run with `python3 perfbench/build.py test`. */
object GeneratorsTest {
  private var failures = 0
  private var passed = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; passed += 1; println(s"ok   $name") }
    catch { case e: Throwable => failures += 1; println(s"FAIL $name: $e") }

  private def assertEq[T](got: T, want: T, what: String): Unit =
    if (got != want) throw new AssertionError(s"$what: got $got, want $want")
  private def assertTrue(c: Boolean, what: String): Unit =
    if (!c) throw new AssertionError(what)

  private val spec = LakeSpec("2024-01-01", 6, 500)

  def main(args: Array[String]): Unit = {
    test("the same seed gives the same stream, another seed another") {
      assertEq(Seq.fill(5)(Rng.of(7, 1).nextLong()), Seq.fill(5)(Rng.of(7, 1).nextLong()), "stream")
      val a = Rng.of(7, 1); val b = Rng.of(8, 1)
      assertTrue(Seq.fill(5)(a.nextLong()) != Seq.fill(5)(b.nextLong()), "seeds differ")
    }

    test("initial rows: unique non-zero ids, each in its own day") {
      val rows = spec.dayNames.indices.flatMap(d => spec.initialRows(3, d).map(d -> _))
      assertEq(rows.map(_._2.id).distinct.size, spec.days * spec.rowsPerDay, "distinct ids")
      assertTrue(rows.forall(_._2.id > 0), "ids are non-zero")
      assertTrue(rows.forall { case (d, r) => r.day == spec.dayNames(d) }, "day prefix")
      assertTrue(rows.forall(_._2.dateTime.length == 19), "19-char date_time")
    }

    test("model applies insert as upsert, update only if present, delete") {
      val m = new LakeModel(spec, 3)
      val day = spec.dayNames(0)
      val present = m.byDay(0).keys.min
      val dt = m.byDay(0)(present).dateTime
      m.apply(Event('U', present, dt, Some(1.5), 100))
      assertEq(m.byDay(0)(present).value, Some(1.5), "update of a present pk")
      m.apply(Event('U', 999999, s"$day 01:00:00", Some(2.0), 100))
      assertTrue(!m.byDay(0).contains(999999), "update of an absent pk is dropped")
      m.apply(Event('D', present, dt, None, 0))
      m.apply(Event('U', present, dt, Some(3.0), 100))
      assertTrue(!m.byDay(0).contains(present), "update after delete is dropped")
      m.apply(Event('I', present, dt, Some(4.0), 100))
      assertEq(m.byDay(0)(present).value, Some(4.0), "insert after delete")
    }

    test("a CDC batch is seeded, keeps rows per day level, repeats pks") {
      val (m1, m2) = (new LakeModel(spec, 3), new LakeModel(spec, 3))
      val b1 = CdcBatch.generate(m1, 3, 0, 4000)
      val b2 = CdcBatch.generate(m2, 3, 0, 4000)
      assertEq(b1, b2, "same seed, same batch")
      assertTrue(b1.size >= 4000 * 0.95, s"about the asked size: ${b1.size}")
      b1.foreach(m1.apply)
      assertTrue(m1.byDay.forall(_.size == spec.rowsPerDay), "rows per day level")
      assertTrue(b1.groupBy(_.id).exists(_._2.size > 1), "pks repeat")
      assertEq(b1.map(_.op).toSet, Set('I', 'U', 'D'), "op mix")
      val days = b1.map(_.dateTime.substring(0, 10)).groupBy(identity).map { case (d, es) => d -> es.size }
      assertEq(days.size, 2 + CdcBatch.LateDays, "touched days")
      val hot = days(spec.dayNames.last) + days(spec.dayNames(spec.days - 2))
      assertTrue(hot > 0.8 * b1.size, "most events hit the newest two days")
      assertTrue(m1.dayDigest(spec.days - 1) != new LakeModel(spec, 3).dayDigest(spec.days - 1),
        "the digest sees the change")
    }

    test("rendered binlog blocks carry every event") {
      val m = new LakeModel(spec, 3)
      val b = CdcBatch.generate(m, 3, 1, 500)
      val w = new java.io.StringWriter
      CdcBatch.render(b.iterator, w)
      val text = w.toString
      assertEq("### (INSERT INTO|UPDATE|DELETE FROM) ".r.findAllIn(text).size, b.size, "blocks")
      assertEq("(?m)^  @6=".r.findAllIn(text).size, b.count(_.op != 'D'), "ts lines")
    }

    test("corpus: seeded, planted duplicates and junk") {
      val c = Corpus.generate(5, 0, 2000)
      assertEq(c, Corpus.generate(5, 0, 2000), "same seed, same corpus")
      assertTrue(c.exactPairs.nonEmpty && c.nearPairs.nonEmpty && c.junk.nonEmpty, "planted sets")
      assertTrue(c.exactPairs.forall { case (a, b) =>
        a % 5 != 0 && b % 5 == 0 && c.texts(a.toInt) == c.texts(b.toInt) }, "exact pairs")
      assertTrue(c.nearPairs.forall { case (a, b) =>
        a % 5 != 0 && b % 5 == 0 && Corpus.jaccard(c.texts(a.toInt), c.texts(b.toInt), 8) >= 0.3 },
        "near pairs clear the dedup threshold")
      assertTrue(c.junk.forall(i => c.texts(i.toInt).split("\\s+").length < 50), "junk is short")
      val r = new Rng(1)
      val unrelated = Seq.fill(50)((1 + 5 * r.nextInt(399), 2 + 5 * r.nextInt(399)))
        .map { case (a, b) => Corpus.jaccard(c.texts(a), c.texts(b), 8) }
      assertTrue(unrelated.max < 0.3, s"unrelated docs stay below the threshold: ${unrelated.max}")
    }

    test("jaccard over character grams") {
      assertEq(Corpus.jaccard("Abc  DEF", "abc def", 3), 1.0, "normalized equal")
      assertEq(Corpus.jaccard("aaaa", "bbbb", 3), 0.0, "disjoint")
    }

    test("tail: the highest percentile with ten samples beyond it") {
      val xs = (1 to 30).map(_.toDouble)
      assertEq(Stats.tail(xs), (20.0, 100.0 * 20 / 30, 30), "30 samples")
      assertEq(Stats.tail(Seq(3.0, 1.0, 2.0)), (3.0, 100.0, 3), "too few samples")
      assertEq(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)), 2.5, "median")
    }

    println(s"$passed passed, $failures failed")
    if (failures > 0) sys.exit(1)
  }
}
