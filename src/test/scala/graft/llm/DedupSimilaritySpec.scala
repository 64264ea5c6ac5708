package graft.llm

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Dedup family + ANN: exact hash-match behavior on known duplicates,
  * LSH recall against the brute-force oracle. */
class DedupSimilaritySpec extends SparkSpec {

  import spark.implicits._

  private val corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "The  quick brown fox jumps over the lazy dog"), // ws/case dup
    (3L, "the quick brown fox jumps over the lazy cat"),  // near-dup
    (4L, "completely different content about spark engines"),
    (5L, "completely different content about spark engines"), // exact
    (6L, "unrelated text mentioning nothing similar at all"))
    .toDF("doc_id", "text")

  test("exact dedup groups normalized duplicates, keeps min id") {
    val out = Dedup.exact(corpus).collect()
      .map(r => (r.getAs[Long]("keep_id"), r.getAs[Long]("dup_count")))
      .toSet
    assert(out == Set((1L, 2L), (3L, 1L), (4L, 2L), (6L, 1L)))
  }

  test("minhash pairs find the near-dup and exact-dup pairs") {
    val pairs = Dedup.minhashPairs(corpus, shingleN = 3, bands = 16,
      rowsPerBand = 2, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((4L, 5L)))
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L)))
    assert(!pairs.exists(p => p._1 == 6L || p._2 == 6L))
  }

  test("estimate-only minhash: same candidate set as the exact form " +
      "at threshold 0, estimates exact multiples of 1/k, exact dups " +
      "at 1.0, near-dups surface at 0.5") {
    val k = 32 // 16 bands x 2 rows
    def run(thr: Double, estOnly: Boolean) =
      Dedup.minhashPairs(corpus, shingleN = 3, bands = 16,
        rowsPerBand = 2, threshold = thr, estimateOnly = estOnly)
        .collect().map(r => (r.getAs[Long]("id_a"),
          r.getAs[Long]("id_b")) -> r.getAs[Double]("jaccard")).toMap
    val est0 = run(0.0, estOnly = true)
    val exact0 = run(0.0, estOnly = false)
    // The banding (and therefore the candidate set) is shared; only
    // the scoring differs.
    assert(est0.keySet == exact0.keySet)
    // Every estimate is a multiple of 1/k — the FP-exactness the
    // threshold comparison and the oracle restatement rely on.
    assert(est0.values.forall(v => (v * k) == math.rint(v * k)))
    // A byte-identical pair has ALL signature components equal.
    assert(est0((4L, 5L)) == 1.0)
    val est5 = run(0.5, estOnly = true)
    assert(est5.contains((1L, 2L)) && est5.contains((4L, 5L)))
    assert(est5.values.forall(_ >= 0.5))
  }

  test("estimate-only incremental: same cross-set candidate set as " +
      "the exact form at threshold 0; estimates multiples of 1/k") {
    val k = 32
    val corpus = this.corpus.where(col("doc_id").isin(1L, 3L, 4L, 6L))
    val batch = this.corpus.where(col("doc_id").isin(2L, 5L))
    def run(thr: Double, estOnly: Boolean) =
      Dedup.minhashPairsIncremental(corpus, batch, shingleN = 3,
        bands = 16, rowsPerBand = 2, threshold = thr,
        estimateOnly = estOnly)
        .collect().map(r => (r.getAs[Long]("id_corpus"),
          r.getAs[Long]("id_batch")) -> r.getAs[Double]("jaccard"))
        .toMap
    val est0 = run(0.0, estOnly = true)
    assert(est0.keySet == run(0.0, estOnly = false).keySet)
    assert(est0.values.forall(v => (v * k) == math.rint(v * k)))
    assert(est0((4L, 5L)) == 1.0) // byte-identical cross-set pair
    assert(est0.keySet.forall { case (c, b) =>
      Set(1L, 3L, 4L, 6L)(c) && Set(2L, 5L)(b) })
  }

  test("incremental dedup pairs a new batch against the corpus only") {
    val corpus = this.corpus.where(col("doc_id").isin(1L, 3L, 4L, 6L))
    val batch = this.corpus.where(col("doc_id").isin(2L, 5L))
    val pairs = Dedup.minhashPairsIncremental(corpus, batch,
      shingleN = 3, bands = 16, rowsPerBand = 2, threshold = 0.5)
      .select("id_corpus", "id_batch").as[(Long, Long)].collect().toSet
    // the ws/case dup (1<-2) and the exact dup (4<-5) must surface;
    // every pair crosses the sets (corpus id left, batch id right)
    assert(pairs.contains((1L, 2L)) && pairs.contains((4L, 5L)))
    assert(pairs.forall { case (c, b) =>
      Set(1L, 3L, 4L, 6L)(c) && Set(2L, 5L)(b) })
  }

  test("minhash maxBucket cap: inactive cap leaves output unchanged; " +
      "active cap keeps only full-signature matches") {
    def run(mb: Int, thr: Double = 0.5) =
      Dedup.minhashPairs(corpus, shingleN = 3, bands = 16,
        rowsPerBand = 2, threshold = thr, maxBucket = mb)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val uncapped = run(0)
    // A cap no bucket exceeds takes the widened-key code path but
    // re-keys nothing: output must be byte-identical to cap-0.
    assert(run(1000000) == uncapped)
    // cap=1 marks EVERY multi-member bucket oversized, so only pairs
    // whose entire k-component signature agrees survive — the
    // normalized exact dups. The near-dup (x,3) pairs collide on
    // some bands but differ on the full signature, so the cap drops
    // them: bounded recall, visibly traded.
    val capped = run(1)
    assert(capped.subsetOf(uncapped))
    assert(capped == Set((1L, 2L), (4L, 5L)),
      s"full-signature matches only, got $capped")
    assert(uncapped.exists(p => p._1 == 3L || p._2 == 3L),
      "uncapped run must include a near-dup pair the cap drops")
  }

  test("incremental maxBucket cap: union occupancy, inactive cap " +
      "unchanged, active cap keeps full-signature cross-pairs only") {
    val corpus = this.corpus.where(col("doc_id").isin(1L, 3L, 4L, 6L))
    val batch = this.corpus.where(col("doc_id").isin(2L, 5L))
    def run(mb: Int) =
      Dedup.minhashPairsIncremental(corpus, batch, shingleN = 3,
        bands = 16, rowsPerBand = 2, threshold = 0.5, maxBucket = mb)
        .select("id_corpus", "id_batch").as[(Long, Long)]
        .collect().toSet
    val uncapped = run(0)
    assert(run(1000000) == uncapped)
    // cap=1: occupancy over corpus+batch marks every shared bucket
    // oversized; only cross-set pairs with identical full signatures
    // survive — the normalized exact dups (1<-2) and (4<-5).
    val capped = run(1)
    assert(capped.subsetOf(uncapped))
    assert(capped == Set((1L, 2L), (4L, 5L)),
      s"full-signature cross-pairs only, got $capped")
  }

  test("simhash: identical docs distance 0; near-dups small distance") {
    val sigs = corpus.select(col("doc_id"),
      HofReference.simHash(TextFunctions.tokens(col("text")))
        .as("sig")).as[(Long, Long)].collect().toMap
    assert(sigs(4L) == sigs(5L))
    assert(sigs(1L) == sigs(2L)) // normalization removes the diff
    assert(java.lang.Long.bitCount(sigs(1L) ^ sigs(3L)) <= 16)
    assert(java.lang.Long.bitCount(sigs(1L) ^ sigs(6L)) >
      java.lang.Long.bitCount(sigs(1L) ^ sigs(3L)))
  }

  test("simhashPairs 64-bit default path == driver brute force over " +
      "the same signatures at hamming <= 3") {
    graft.functions.GraftFunctions.register(spark)
    // Planted near-dups: each base document appears verbatim, with a
    // case/whitespace change, and with 1-3 random word edits; the
    // unrelated bases pair with nothing. Four 16-bit chunks make any
    // pair within hamming 3 share a chunk (pigeonhole), so blocking
    // must lose no pair the brute force finds.
    val rnd = new scala.util.Random(5)
    val vocab = (0 until 300).map(i => s"w$i")
    val texts = (0 until 8).flatMap { _ =>
      val base = Seq.fill(120)(vocab(rnd.nextInt(vocab.size)))
      val edits = (1 to 3).flatMap(e => Seq.fill(2) {
        val t = base.toArray
        (0 until e).foreach(_ =>
          t(rnd.nextInt(t.length)) = vocab(rnd.nextInt(vocab.size)))
        t.mkString(" ")
      })
      Seq(base.mkString(" "), base.mkString("  ").toUpperCase) ++ edits
    }
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val sigs = docs.select(col("doc_id"),
      graft.functions.GraftFunctions.simhash64(
        TextFunctions.tokens(col("text"))))
      .as[(Long, Long)].collect()
    val expected = (for {
      (a, sa) <- sigs; (b, sb) <- sigs
      if a < b
      h = java.lang.Long.bitCount(sa ^ sb)
      if h <= 3
    } yield (a, b, h)).toSet
    val got = Dedup.simhashPairs(docs, maxHamming = 3)
      .as[(Long, Long, Int)].collect().toSet
    assert(got == expected)
    // The planted set exercises more than exact clones.
    assert(expected.exists(_._3 > 0), s"no near-dup pair in $expected")
  }

  test("ngram jaccard on informative-gram space finds near-dups") {
    val pairs = Dedup.ngramJaccardPairs(corpus, shingleN = 3,
      threshold = 0.5, maxDocFreq = 5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((4L, 5L)))
  }

  private def vecs = {
    // deterministic corpus: 3 tight clusters in R^8
    val rnd = new scala.util.Random(7)
    (0 until 60).map { i =>
      val base = Array.tabulate(8)(d =>
        if (d % 3 == i % 3) 1.0 else 0.0)
      (i.toLong, base.map(x => x + rnd.nextGaussian() * 0.05))
    }.toDF("id", "vec")
  }

  test("semantic dedup: keep/drop matches a model recomputation of " +
      "the SemDeDup rule over the operator's own clusters") {
    val out = Dedup.semanticDedup(vecs, idCol = "id", vecCol = "vec",
      nClusters = 3, lloydIterations = 1, threshold = 0.9)
    val rows = out.collect().map(r => (r.getAs[Long]("id"),
      r.getAs[Long]("cid"), r.getAs[Double]("cent_cosine"),
      r.getAs[Boolean]("kept")))
    assert(rows.length == 60)
    val vmap = vecs.as[(Long, Seq[Double])].collect().toMap
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) *
        math.sqrt(b.map(x => x * x).sum))
    }
    // model: every intra-cluster pair at cosine >= tau drops its
    // nearer-to-centroid member (ties drop the larger id)
    val dropped = (for {
      a <- rows; b <- rows
      if a._2 == b._2 && a._1 < b._1
      if cos(vmap(a._1), vmap(b._1)) >= 0.9
    } yield if (a._3 > b._3) a._1 else b._1).toSet
    assert(rows.filterNot(_._4).map(_._1).toSet == dropped)
    // tight clusters: dedup actually bites, but never empties a cluster
    assert(dropped.nonEmpty && dropped.size < 60)
    val keptPerCluster = rows.filter(_._4).groupBy(_._2)
    assert(rows.map(_._2).distinct.forall(keptPerCluster.contains))
  }

  test("probed assignment: expression matches a model recomputation " +
      "and, with every cell probed, the exact argmax") {
    import graft.functions.{GraftFunctions, NearestCentroidProbed}
    GraftFunctions.register(spark)
    val rnd = new scala.util.Random(11)
    val dim = 6
    val fineVecs = Array.fill(9)(Array.fill(dim)(rnd.nextGaussian()))
    val fineCids = Array.tabulate(9)(i => (i * 7 + 3).toLong)
    val (coarse, f2c) = Similarity.probedStructure(fineCids, fineVecs)
    assert(coarse.length == 3) // ceil(sqrt(9))
    val probe = (0 until 40).map(i =>
      (i.toLong, Array.fill(dim)(rnd.nextGaussian()).toSeq))
      .toDF("id", "vec")
    def run(p: Int): Map[Long, Long] = probe
      .select(col("id"), GraftFunctions.nearestCentroidProbed(
        col("vec"), coarse, fineCids, fineVecs, f2c, p).as("cid"))
      .as[(Long, Long)].collect().toMap
    // model: rank coarse (cos desc, index asc), scan fines in top-p
    def cosA(a: Array[Double], b: Array[Double]): Double =
      NearestCentroidProbed.cosineArrays(a, b)
    val vmap = probe.as[(Long, Seq[Double])].collect().toMap
      .map { case (k, v) => (k, v.toArray) }
    for (p <- 1 to 3) {
      val got = run(p)
      vmap.foreach { case (id, v) =>
        val order = coarse.indices
          .sortBy(j => (-cosA(v, coarse(j)), j)).take(p).toSet
        val cands = fineVecs.indices.filter(i => order(f2c(i)))
        // mirror the expression's exact-scan fallback when the
        // probed cells hold no fine centroid
        val pool = if (cands.nonEmpty) cands else fineVecs.indices
        val want = pool
          .minBy(i => (-cosA(v, fineVecs(i)), fineCids(i)))
        assert(got(id) == fineCids(want), s"id=$id p=$p")
      }
    }
    // probes >= coarse count == exact NearestCentroids argmax
    val exact = probe.select(col("id"), element_at(GraftFunctions
        .nearestCentroids(col("vec"), fineCids, fineVecs, 1), 1)
        .as("cid"))
      .as[(Long, Long)].collect().toMap
    assert(run(3) == exact)
  }

  test("probed assignment: a probed cell with no fine members falls " +
      "back to the exact full scan") {
    import graft.functions.{GraftFunctions, NearestCentroidProbed}
    GraftFunctions.register(spark)
    // two coarse cells; every fine centroid lives in cell 1, and the
    // probe vector is aligned with coarse 0 — probing p=1 selects the
    // empty cell, so the expression must fall back to the full scan.
    val coarse = Array(Array(1.0, 0.0), Array(0.0, 1.0))
    val fineVecs = Array(Array(0.0, 1.0), Array(0.1, 1.0))
    val fineCids = Array(10L, 20L)
    val f2c = Array(1, 1)
    val v = org.apache.spark.sql.catalyst.util.ArrayData
      .toArrayData(Array(1.0, 0.05))
    val got = NearestCentroidProbed.assign(v, coarse, fineCids,
      fineVecs, f2c, 1)
    // full scan: fine 1 (cid 20) has the higher cosine to (1, 0.05)
    val best = fineVecs.indices.minBy(i =>
      (-NearestCentroidProbed.cosine(v, fineVecs(i)), fineCids(i)))
    assert(got == fineCids(best))
  }

  test("semantic dedup: coarseProbes covering every cell reproduces " +
      "the exact-assignment output row for row") {
    // k=3 clusters -> coarse count ceil(sqrt(3)) = 2; probing 2 cells
    // probes everything, so the probed plan must equal the exact one.
    def collect(probes: Int) =
      Dedup.semanticDedup(vecs, idCol = "id", vecCol = "vec",
        nClusters = 3, lloydIterations = 1, threshold = 0.9,
        coarseProbes = probes)
        .collect().map(r => (r.getAs[Long]("id"),
          r.getAs[Long]("cid"), r.getAs[Double]("cent_cosine"),
          r.getAs[Boolean]("kept"))).sortBy(_._1).toSeq
    assert(collect(2) == collect(0))
  }

  test("probed semantic dedup: a genuinely approximate assignment " +
      "(1 probe) still satisfies the SemDeDup keep/drop rule over " +
      "the operator's own clusters") {
    val out = Dedup.semanticDedup(vecs, idCol = "id", vecCol = "vec",
      nClusters = 3, lloydIterations = 1, threshold = 0.9,
      coarseProbes = 1)
    val rows = out.collect().map(r => (r.getAs[Long]("id"),
      r.getAs[Long]("cid"), r.getAs[Double]("cent_cosine"),
      r.getAs[Boolean]("kept")))
    assert(rows.length == 60)
    val vmap = vecs.as[(Long, Seq[Double])].collect().toMap
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) *
        math.sqrt(b.map(x => x * x).sum))
    }
    val dropped = (for {
      a <- rows; b <- rows
      if a._2 == b._2 && a._1 < b._1
      if cos(vmap(a._1), vmap(b._1)) >= 0.9
    } yield if (a._3 > b._3) a._1 else b._1).toSet
    assert(rows.filterNot(_._4).map(_._1).toSet == dropped)
  }

  test("semantic dedup: empty corpus yields an empty verdict frame " +
      "(not a failure) in both fixed and adaptive cluster modes") {
    val empty = vecs.where(col("id") < 0)
    for (target <- Seq(0, 512)) {
      val out = Dedup.semanticDedup(empty, idCol = "id",
        vecCol = "vec", nClusters = 3, targetCluster = target)
      assert(out.columns.toSeq ==
        Seq("id", "cid", "cent_cosine", "kept"))
      assert(out.count() == 0)
    }
    // The ANN index builders keep their fail-fast on empty input.
    intercept[IllegalArgumentException] {
      Similarity.ivfTopK(empty.select(col("id"),
          col("vec").cast("array<double>").as("vec")),
        empty.select(col("id").as("qid"),
          col("vec").cast("array<double>").as("qvec")),
        nCentroids = 4, nProbe = 2, k = 5)
        .collect()
    }
  }

  test("brute-force ANN: self excluded, k respected, ranks ordered") {
    val qs = vecs.limit(3)
      .select(col("id").as("qid"), col("vec").as("qvec"))
    val out = Similarity.bruteForceTopK(vecs, qs, k = 5)
    val rows = out.collect()
    assert(rows.length == 15)
    assert(!rows.exists(r => r.getAs[Long]("qid") == r.getAs[Long]("id")))
    // neighbors of a cluster member are cluster members
    val n0 = rows.filter(_.getAs[Long]("qid") == 0L)
      .map(_.getAs[Long]("id"))
    assert(n0.forall(_ % 3 == 0))
  }

  test("LSH ANN recall >= 60% of brute-force top-5 on clusters") {
    val qs = vecs.limit(3)
      .select(col("id").as("qid"), col("vec").as("qvec"))
    val exact = Similarity.bruteForceTopK(vecs, qs, k = 5)
      .select("qid", "id").as[(Long, Long)].collect().toSet
    val approx = Similarity.lshTopK(vecs, qs, k = 5, dim = 8,
      planes = 4).select("qid", "id").as[(Long, Long)].collect().toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.6, s"recall $recall")
  }

  test("IVF ANN recall >= 60% of brute-force top-5 on clusters") {
    val qs = vecs.limit(3)
      .select(col("id").as("qid"), col("vec").as("qvec"))
    val exact = Similarity.bruteForceTopK(vecs, qs, k = 5)
      .select("qid", "id").as[(Long, Long)].collect().toSet
    val approx = Similarity.ivfTopK(vecs, qs, k = 5, nCentroids = 6,
      nProbe = 2).select("qid", "id").as[(Long, Long)].collect().toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.6, s"recall $recall")
  }

  test("persisted IVF index: parquet round trip == one-shot ivfTopK; " +
      "probe reads only probed cid partitions") {
    val qs = vecs.limit(1)
      .select(col("id").as("qid"), col("vec").as("qvec"))
    val oneShot = Similarity.ivfTopK(vecs, qs, k = 5, nCentroids = 6,
      nProbe = 2).collect().map(_.toSeq).toSeq
    val (cent, lists) = Similarity.ivfIndex(vecs, nCentroids = 6)
    val idx = java.nio.file.Files
      .createTempDirectory("graft_ivf_spec").toString
    cent.write.mode("overwrite").parquet(s"$idx/centroids")
    lists.write.mode("overwrite").partitionBy("cid")
      .parquet(s"$idx/lists")
    val out = Similarity.ivfQuery(
      spark.read.parquet(s"$idx/centroids"),
      spark.read.parquet(s"$idx/lists"), qs, k = 5, nProbe = 2)
    assert(out.collect().map(_.toSeq).toSeq == oneShot)
    // Partition pruning: the probed-cell isin filter must reach the
    // lists scan as a PARTITION filter (cid is the partition column),
    // not a post-scan predicate — that's what makes the unprobed
    // cells physically unread on a partitioned lake.
    val plan = out.queryExecution.sparkPlan.toString
    assert(plan.contains("PartitionFilters") &&
      "PartitionFilters: \\[[^\\]]*cid".r.findFirstIn(plan).isDefined,
      s"probe-cell filter not pushed to partition pruning:\n$plan")
  }

  test("ivfQuery over-cap batch takes the distributed probe-cell " +
      "path and matches the driver-side path exactly") {
    // driverQueryCap = 1 forces the distributed distinct(cid) branch
    // on a 3-query batch; results must be identical to the default
    // (driver-side assignment) path — same probed cells, same rows.
    val qs = vecs.limit(3)
      .select(col("id").as("qid"), col("vec").as("qvec"))
    val (cent, lists) = Similarity.ivfIndex(vecs, nCentroids = 6)
    val driverSide = Similarity.ivfQuery(cent, lists, qs, k = 5,
      nProbe = 2).collect().map(_.toSeq).toSeq
    val distributed = Similarity.ivfQuery(cent, lists, qs, k = 5,
      nProbe = 2, driverQueryCap = 1).collect().map(_.toSeq).toSeq
    assert(distributed == driverSide)
  }

  test("ivfQuery fast path: deterministic-but-unordered query frames " +
      "prune and join the same rows") {
    // The under-cap fast path evaluates `queries` twice — the capped
    // driver collect that assigns probe cells, then the distributed
    // join side. Its determinism contract requires stable CONTENT,
    // not stable ORDER: a multi-partition frame presents rows in
    // arbitrary order to each evaluation, and the result must still
    // equal the stable single-partition run (the set of probed cells
    // is order-free, so both evaluations see the same cell filter).
    val qs0 = vecs.where(col("id") % 4 === 1)
      .select(col("id").as("qid"), col("vec").as("qvec"))
    val unordered = qs0.repartition(5)
    val (cent, lists) = Similarity.ivfIndex(vecs, nCentroids = 6)
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.mkString("|"))
    assert(norm(Similarity.ivfQuery(cent, lists, unordered, k = 5,
        nProbe = 2)).sameElements(
      norm(Similarity.ivfQuery(cent, lists, qs0.coalesce(1), k = 5,
        nProbe = 2))))
  }

  test("PQ ANN recall >= 60% of brute-force top-5 on clusters") {
    val qs = vecs.limit(3)
      .select(col("id").as("qid"), col("vec").as("qvec"))
    val exact = Similarity.bruteForceTopK(vecs, qs, k = 5)
      .select("qid", "id").as[(Long, Long)].collect().toSet
    val approx = Similarity.pqTopK(vecs, qs, k = 5, dim = 8,
      segments = 2, codebookSize = 4, shortlist = 10)
      .select("qid", "id").as[(Long, Long)].collect().toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.6, s"PQ recall $recall")
  }

  test("IVFPQ ANN recall >= 60% of brute-force top-5 on clusters") {
    val qs = vecs.limit(3)
      .select(col("id").as("qid"), col("vec").as("qvec"))
    val exact = Similarity.bruteForceTopK(vecs, qs, k = 5)
      .select("qid", "id").as[(Long, Long)].collect().toSet
    val approx = Similarity.ivfpqTopK(vecs, qs, k = 5, dim = 8,
      nCentroids = 6, nProbe = 3, segments = 2, codebookSize = 4,
      shortlist = 10)
      .select("qid", "id").as[(Long, Long)].collect().toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.6, s"IVFPQ recall $recall")
  }

  test("fused minhash verify equals the HOF estimate+jaccard form") {
    graft.functions.GraftFunctions.register(spark)
    import graft.functions.GraftFunctions
    val k = 8
    val thr = 0.5
    // pairs spanning: identical, disjoint, partial overlap, empties
    val rows = Seq(
      (Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L),
        Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L),
        Seq(10L, 20L, 30L), Seq(10L, 20L, 30L)),
      (Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L),
        Seq(9L, 9L, 9L, 9L, 9L, 9L, 9L, 9L),
        Seq(10L, 20L), Seq(30L, 40L)),
      (Seq(1L, 2L, 3L, 4L, 9L, 9L, 9L, 9L),
        Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L),
        Seq(10L, 20L, 30L, 40L), Seq(30L, 40L, 50L)),
      (Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L),
        Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L),
        Seq.empty[Long], Seq.empty[Long]))
      .toDF("mh_a", "mh_b", "sh_a", "sh_b")
    val est = size(filter(zip_with(col("mh_a"), col("mh_b"),
      (x, y) => x === y), e => e)).cast("double") / k
    val out = rows.select(
      when(est >= thr * 0.5,
        HofReference.jaccard(col("sh_a"), col("sh_b")))
        .otherwise(lit(-1d)).as("hof"),
      GraftFunctions.minhashJaccardVerify(col("mh_a"), col("mh_b"),
        col("sh_a"), col("sh_b"), k, thr).as("fused"))
      .collect()
    for (r <- out)
      assert(r.getDouble(0) == r.getDouble(1),
        s"HOF ${r.getDouble(0)} != fused ${r.getDouble(1)}")
  }

  test("Lloyd refinement converges to the true cluster means") {
    // Two tight clusters on orthogonal axes with jitter in a third dim
    val pts = (0 until 20).map { i =>
      val base = if (i % 2 == 0) Array(1.0, 0.0) else Array(0.0, 1.0)
      (i.toLong, (base :+ (i % 5) * 0.01).toSeq)
    }.toDF("id", "vec")
    // Deliberately poor initial centroids: two points from the SAME
    // cluster — one Lloyd round must still split the data, because
    // every even point is nearer one of them than the other.
    val init = pts.where(col("id").isin(0L, 1L))
      .select(col("id").as("cid"), col("vec").as("cvec"))
    val refined = Similarity.refineCentroids(pts, init, iterations = 2)
      .collect().map(r =>
        r.getAs[Long]("cid") -> r.getSeq[Double](1)).toMap
    assert(refined.size == 2)
    // Each refined centroid points dominantly along one axis
    val axes = refined.values.map(v =>
      if (v(0) > v(1)) 0 else 1).toSeq.sorted
    assert(axes == Seq(0, 1),
      s"centroids did not separate the clusters: $refined")
    // And IVF with refinement keeps recall on the shared fixture
    val qs = vecs.limit(3)
      .select(col("id").as("qid"), col("vec").as("qvec"))
    val exact = Similarity.bruteForceTopK(vecs, qs, k = 5)
      .select("qid", "id").as[(Long, Long)].collect().toSet
    val approx = Similarity.ivfTopK(vecs, qs, k = 5, nCentroids = 6,
      nProbe = 2, lloydIterations = 2)
      .select("qid", "id").as[(Long, Long)].collect().toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.6, s"recall with Lloyd refinement: $recall")
  }

  test("maxBucket cap re-keys oversized buckets by the widened " +
      "signature (model recomputation)") {
    import graft.functions.HyperplaneSig
    val rnd = new scala.util.Random(11)
    val dim = 8
    val narrow = 2 // 4 buckets over 41 vectors -> all oversized at 3
    val cap = 3
    val base = Seq.tabulate(40)(i =>
      (i.toLong, Array.fill(dim)(rnd.nextGaussian())))
    // One exact duplicate of vector 0: bitwise-identical vectors agree
    // on EVERY plane, so the cap can never split them.
    val rows = base :+ (100L, base(0)._2.clone())
    val df = rows.toDF("vec_id", "embedding")
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("embedding"))

    def sigOf(v: Array[Double], planes: Int): Long =
      (0 until planes).map { p =>
        val dot = (0 until dim)
          .map(d => v(d) * HyperplaneSig.planeSign(p, d))
          .reduce(_ + _)
        if (dot > 0d) 1L << p else 0L
      }.sum
    // Model: bucket by the narrow sig; members of buckets larger than
    // the cap re-key by the 64-plane sig; candidates = same-key pairs.
    // threshold = -2 keeps every candidate, so the comparison tests
    // exactly the bucketing logic.
    val narrowSigs = rows.map { case (id, v) => id -> sigOf(v, narrow) }
    val sizes = narrowSigs.groupBy(_._2).view.mapValues(_.size).toMap
    val keyed = rows.map { case (id, v) =>
      val ns = sigOf(v, narrow)
      id -> (if (sizes(ns) > cap) sigOf(v, 64) else ns)
    }
    val expected = (for {
      (a, ka) <- keyed; (b, kb) <- keyed
      if a < b && ka == kb
    } yield (a, b)).toSet

    def run(mb: Int) = Dedup.embeddingPairs(df, dim = dim,
      planes = narrow, threshold = -2.0, maxBucket = mb)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val capped = run(cap)
    val uncapped = run(0)
    assert(capped == expected)
    assert(capped.subsetOf(uncapped))
    assert(capped.size < uncapped.size,
      "the cap should have split at least one oversized bucket")
    assert(capped.contains((0L, 100L)),
      "bitwise-identical vectors must survive the cap")
  }

  test("embedding near-dup pairs stay within clusters") {
    val pairs = Dedup.embeddingPairs(
      vecs.withColumnRenamed("id", "vec_id")
        .withColumnRenamed("vec", "embedding"),
      dim = 8, planes = 4, threshold = 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    assert(pairs.nonEmpty)
    assert(pairs.forall { case (a, b) => a % 3 == b % 3 })
  }

  test("HyperplaneSig expression is bit-identical to the left-assoc " +
      "column formula") {
    import graft.functions.HyperplaneSig
    // Independent restatement: per plane, a strictly left-associated
    // double sum of v(d) * planeSign(p, d) — the formula the former
    // element_at * lit column tree evaluated and the DuckDB oracle
    // restates. Any FP-order deviation in the kernel would flip a
    // near-zero dot's sign bit.
    def reference(v: Array[Double], dim: Int, planes: Int): Long =
      (0 until planes).map { p =>
        val dot = (0 until dim)
          .map(d => v(d) * HyperplaneSig.planeSign(p, d))
          .reduce(_ + _)
        if (dot > 0d) 1L << p else 0L
      }.sum
    val rnd = new scala.util.Random(7)
    val vecs = Seq.tabulate(64)(i =>
      (i.toLong, Array.fill(16)(rnd.nextGaussian())))
    val df = vecs.toDF("id", "v")
      .select(col("id"), col("v").cast("array<double>").as("v"))
    graft.functions.GraftFunctions.register(spark)
    val got = df.select(col("id"),
      graft.functions.GraftFunctions.hyperplaneSig(col("v"), 16, 16)
        .as("sig")).as[(Long, Long)].collect().toMap
    vecs.foreach { case (id, v) =>
      assert(got(id) == reference(v, 16, 16), s"id=$id")
    }
  }

  test("survivorsCC resolves chains exactly where greedy over-keeps") {
    // Component {1,2,3,4} via edges (1,2),(2,4),(3,4): node 3's only
    // neighbor is larger, so the greedy star drop keeps {1,3}; true
    // connected components keep only the minimum {1}. Node 9 is
    // untouched by any pair and must survive both.
    val ds = Seq(1L, 2L, 3L, 4L, 9L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 4L), (3L, 4L))
      .toDF("id_a", "id_b")
    val greedy = Dedup.survivors(ds, pairs)
      .select("doc_id").as[Long].collect().toSet
    val exact = Dedup.survivorsCC(ds, pairs)
      .select("doc_id").as[Long].collect().toSet
    assert(greedy == Set(1L, 3L, 9L))
    assert(exact == Set(1L, 9L))
  }

  test("survivorsCC handles multiple components and no pairs") {
    val ds = Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF("doc_id")
    val pairs = Seq((5L, 6L), (2L, 3L)).toDF("id_a", "id_b")
    val exact = Dedup.survivorsCC(ds, pairs)
      .select("doc_id").as[Long].collect().toSet
    assert(exact == Set(1L, 2L, 4L, 5L))
    val none = Dedup.survivorsCC(ds,
      Seq.empty[(Long, Long)].toDF("id_a", "id_b"))
      .select("doc_id").as[Long].collect().toSet
    assert(none == Set(1L, 2L, 3L, 4L, 5L, 6L))
  }

  test("shingleHashesAll equals the HOF substring+polyhash form " +
      "on randomized strings (instances, position order)") {
    graft.functions.GraftFunctions.register(spark)
    val rnd = new scala.util.Random(42)
    val alphabet = "ab c"
    val strs = (0 until 60).map { i =>
      val len = rnd.nextInt(12) // 0..11: below, at, above n=4
      (i.toLong, (0 until len).map(_ =>
        alphabet(rnd.nextInt(alphabet.length))).mkString)
    }
    val df = strs.toDF("id", "s")
    val norm = trim(regexp_replace(lower(col("s")), "\\s+", " "))
    val hof = when(length(norm) < 4,
      array(aggregate(split(norm, ""), lit(0L),
        (acc, ch) => (acc * 31 + ascii(ch)) % 1000000007L)))
      .otherwise(transform(
        sequence(lit(1), length(norm) - 3),
        i => aggregate(split(norm.substr(i, lit(4)), ""),
          lit(0L), (acc, ch) => (acc * 31 + ascii(ch)) % 1000000007L)))
    val got = df.select(col("id"),
      graft.functions.GraftFunctions.polyShingleHashesAll(col("s"), 4)
        .as("k"), hof.as("h"))
      .collect()
    got.foreach { r =>
      val k = r.getAs[scala.collection.Seq[Long]]("k")
      val h = r.getAs[scala.collection.Seq[Long]]("h")
      assert(k == h, s"id=${r.getLong(0)}: kernel $k vs HOF $h")
    }
  }

  test("duplicatedNgramStats matches a hand-computed model " +
      "(shared spans count per instance, short docs whole-text)") {
    val docs = Seq(
      (1L, "aaaa bbbb cccc"), // shares "aaaa" gram region with doc 2
      (2L, "aaaa bbbb dddd"),
      (3L, "zz"), // shorter than n -> whole-text gram, unique
      (4L, "zz")) // exact short dup of 3
      .toDF("doc_id", "text")
    val out = Dedup.duplicatedNgramStats(docs, gramChars = 6)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_grams"), r.getAs[Long]("dup_grams")))
      .toMap
    // "aaaa bbbb cccc" has 9 6-grams; the first 5 ("aaaa b".." bbbb ")
    // also occur in doc 2; from "bbbb c" vs "bbbb d" onward the
    // cccc/dddd tail is in reach and the grams differ.
    assert(out(1L) == (9L, 5L) && out(2L) == (9L, 5L))
    assert(out(3L) == (1L, 1L) && out(4L) == (1L, 1L))
  }

  test("wide-hash duplicatedNgramStats: dominance + birthday-bound " +
      "divergence vs the narrow form (real collisions, measured)") {
    // The fixture corpus carries ~1.5e5 gram instances: the birthday
    // bound predicts ~G^2/(2P) ~ 11 narrow-hash colliding pairs — so
    // the two forms must NOT be identical here, and the divergence
    // direction is fixed: collisions only ever INFLATE the narrow
    // dup count. (Running this spec is what surfaced the collisions:
    // 15 docs each one dup higher under the narrow key.)
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    def stats(wide: Boolean) =
      Dedup.duplicatedNgramStats(docs, wideHash = wide)
        .orderBy("doc_id")
        .select("doc_id", "n_grams", "dup_grams")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSeq
    val narrow = stats(wide = false)
    val wide = stats(wide = true)
    assert(narrow.nonEmpty && narrow.length == wide.length)
    var inflated = 0L
    narrow.zip(wide).foreach { case ((nid, ng, nd), (wid, wg, wd)) =>
      assert(nid == wid)
      assert(ng == wg, s"doc $nid: gram counts must agree ($ng vs $wg)")
      assert(wd <= nd,
        s"doc $nid: wide dup count $wd exceeds narrow $nd — " +
          "impossible (widening can only REMOVE spurious matches)")
      inflated += nd - wd
    }
    val totalGrams = narrow.map(_._2).sum
    assert(inflated > 0,
      "expected measurable narrow-hash collisions at ~1.5e5 grams " +
        "(birthday bound ~11 pairs); widening changed nothing")
    assert(inflated < totalGrams / 1000,
      s"collision inflation $inflated implausibly large for " +
        s"$totalGrams grams — kernel bug, not birthday noise")
    // On a corpus far below the birthday regime the forms agree
    // exactly (the drop-in property).
    val tiny = Seq((1L, "aaaa bbbb cccc"), (2L, "aaaa bbbb dddd"),
      (3L, "zz"), (4L, "zz")).toDF("doc_id", "text")
    def tinyStats(wide: Boolean) =
      Dedup.duplicatedNgramStats(tiny, gramChars = 6, wideHash = wide)
        .orderBy("doc_id").collect().toSeq
    assert(tinyStats(wide = true) == tinyStats(wide = false))
    // And the wide key's high part is exactly the narrow hash.
    import org.apache.spark.unsafe.types.UTF8String
    val t = UTF8String.fromString("abcdefghijklmnopqrstuvwxyz")
    val nk = graft.functions.PolyHash.shingleHashesAll(t, 20)
    val wk = graft.functions.PolyHash.shingleHashesWideAll(t, 20)
    assert(nk.length == wk.length)
    assert(wk.zip(nk).forall { case (w, n) =>
      w / graft.functions.PolyHash.P2 == n
    }, "wide key high part must be the narrow hash")
  }

  test("decontaminate == sequential gram-set model (instance hit " +
      "counts, whole-text short arm, clean docs flagged false)") {
    // Model: normalize exactly as the kernel does (lowercase,
    // whitespace runs collapsed, trimmed), extract all 20-char
    // substrings (whole text when shorter), intersect with the
    // benchmark's gram SET, count instance hits.
    def normalize(t: String): String =
      t.toLowerCase.replaceAll("\\s+", " ").trim
    def gramsOf(t: String): Seq[String] = {
      val n = normalize(t)
      if (n.length < 20) Seq(n)
      else (0 to n.length - 20).map(i => n.substring(i, i + 20))
    }
    val benchTexts = Seq(
      "The quick brown fox jumps over the lazy dog tonight",
      "short bench")
    val corpusRows = Seq(
      // shares a long run with benchmark doc 0 → contaminated
      (1L, "xx The quick brown fox jumps over something else"),
      // no 20-gram overlap → clean
      (2L, "completely unrelated content with its own phrasing here"),
      // exact copy of a benchmark doc → every gram hits
      (3L, "The quick brown fox jumps over the lazy dog tonight"),
      // short doc, not equal to the short benchmark doc → clean
      (4L, "short corpus"))
    val bench = benchTexts.zipWithIndex
      .map { case (t, i) => (100L + i, t) }.toDF("doc_id", "text")
    val corpus = corpusRows.toDF("doc_id", "text")
    val out = Dedup.decontaminate(corpus, bench)
      .orderBy("doc_id")
      .select("doc_id", "n_grams", "hit_grams", "contaminated")
      .as[(Long, Long, Long, Boolean)].collect().toSeq
    val benchSet = benchTexts.flatMap(gramsOf).toSet
    val expected = corpusRows.map { case (id, t) =>
      val gs = gramsOf(t)
      val hits = gs.count(benchSet)
      (id, gs.length.toLong, hits.toLong, hits > 0)
    }
    assert(out == expected)
    // sanity on the fixture-shaped expectations above
    assert(out.map(_._4) == Seq(true, false, true, false))
  }

  test("swapCached reuses an identical-plan occupant and swaps a " +
      "differing one") {
    val slot =
      new java.util.concurrent.atomic.AtomicReference[
        org.apache.spark.sql.DataFrame](null)
    def scored = Seq((1L, 2.0), (2L, 3.0), (3L, 5.0))
      .toDF("doc_id", "ms").where(col("doc_id") % 2 === 1)
    val first = Dedup.swapCached(slot, scored)
    // Identical plan (built fresh, new expression ids): the SAME
    // cached frame comes back — no second materialization, and a
    // concurrent sibling can never unpersist it mid-scan.
    val second = Dedup.swapCached(slot, scored)
    assert(second eq first, "identical plan must reuse the occupant")
    assert(first.storageLevel !=
      org.apache.spark.storage.StorageLevel.NONE)
    // A differing plan takes the swap path: old occupant unpersisted,
    // new one cached and stored.
    val other = Dedup.swapCached(slot,
      Seq((9L, 1.0)).toDF("doc_id", "ms"))
    assert(!(other eq first))
    assert(first.storageLevel ==
      org.apache.spark.storage.StorageLevel.NONE,
      "swapped-out occupant must be unpersisted")
    assert(other.storageLevel !=
      org.apache.spark.storage.StorageLevel.NONE)
    // An occupant evicted behind the slot's back (bench clearCache)
    // is NOT reused: the caller gets a freshly cached frame.
    spark.catalog.clearCache()
    val rebuilt = Dedup.swapCached(slot,
      Seq((9L, 1.0)).toDF("doc_id", "ms"))
    assert(!(rebuilt eq other),
      "an uncached occupant must be rebuilt, not reused")
    assert(rebuilt.storageLevel !=
      org.apache.spark.storage.StorageLevel.NONE)
    Dedup.swapCached(slot, scored): Unit // leave nothing cached…
    spark.catalog.clearCache()           // …for later suites
  }
}
