package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import TextFunctions._

/** Deduplication operators for a 100 TB document corpus.
  *
  * Scale posture shared by all variants: per-document signatures are
  * computed in a narrow (no-shuffle) projection; duplicate discovery is
  * a single hash-shuffle keyed by the signature (exact/simhash) or by
  * LSH band buckets (minhash/embedding) — never an all-pairs cross
  * join. Candidate verification joins only within buckets, whose size
  * is controlled by band/row parameters, so worst-case work stays
  * near-linear in corpus size.
  *
  * Techniques are the published standards: min-wise resemblance
  * hashing (Broder, "On the resemblance and containment of documents",
  * 1997) with banded LSH; sign-random-projection / simhash fingerprints
  * (Charikar, "Similarity estimation techniques from rounding
  * algorithms", STOC 2002) with the pigeonhole sub-signature blocking
  * used by near-duplicate web crawl dedup (Manku et al., WWW 2007);
  * inverted-index set-similarity joins with frequency filtering in the
  * spirit of PPJoin (Xiao et al., "Efficient similarity joins for near
  * duplicate detection", WWW 2008).
  */
object Dedup {

  /** Exact dedup by content hash: one row per distinct normalized text,
    * keeping the smallest id (deterministic winner), with the duplicate
    * count. One shuffle on a 128-bit key. */
  def exact(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs
      .withColumn("content_hash", md5(normalizeText(col(textCol))))
      .groupBy("content_hash")
      .agg(
        min(col(idCol)).as("keep_id"),
        count(lit(1)).as("dup_count"))

  /** MinHash + LSH near-dedup.
    *
    * shingle -> minhash signature (k = bands*rows) -> band buckets ->
    * self-join within buckets -> signature-estimate prefilter ->
    * exact-Jaccard verify on the survivors.
    *
    * Scale discipline: the band join carries ONLY (id, band) — never
    * shingle arrays; candidate pairs are deduped as bare id pairs, then
    * the k-long signatures are joined back for the cheap estimate
    * (fraction of agreeing components), and only estimate-survivors pay
    * for the exact array intersection. At 100 TB the wide stages are
    * the band join and two id-keyed signature joins, all
    * hash-partitioned on small fixed-width keys.
    */
  /** (id, sh, mh): distinct wide gram keys + k-long minhash signature
    * per document (shared by the batch and incremental dedup paths).
    * `sh` carries the WIDE two-family gram keys (64-bit; bare base-31
    * has exact polynomial identities — "c89" = "atw" — that the 100x
    * fixture manufactured into false exact dups, caught by the 100x
    * oracle sweep), while the minhash signatures still live in
    * [0, 1e9+7) ⊂ int32 (the permutations run over the h1 component,
    * so signature values are unchanged by the widening) and cross the
    * band explode and verify-join shuffles at half the width. */
  private def minhashSigs(docs: DataFrame, idCol: String,
      textCol: String, shingleN: Int, k: Int): DataFrame =
    graft.core.Partitioning.ensureWidth(docs).select(
      col(idCol).as("id"),
      graft.functions.GraftFunctions
        .polyShingleHashes(col(textCol), shingleN).as("sh"))
      .withColumn("mh",
        graft.functions.GraftFunctions.polyMinhashWide(col("sh"), k))
      .select(col("id"), col("sh"),
        col("mh").cast("array<int>").as("mh"))

  /** (id, band_idx, band_hash) exploded band buckets of signatures.
    *
    * `maxBucket > 0` adds a `band_wide` column that caps per-bucket
    * candidate work on BAND-DEGENERATE corpora — the minhash analogue
    * of [[embeddingPairs]]'s signature cap (the d02 1000x probe died
    * on verify-shuffle spill from exactly this blowup: band buckets
    * whose occupancy no longer reflects genuine similarity mass).
    * Members of buckets larger than `maxBucket` carry the FULL-
    * signature fold as `band_wide` (0 otherwise), and the pair join
    * matches on it: within an oversized bucket only documents whose
    * entire k-component signature agrees remain candidates — the
    * near-exact clones an oversized bucket is made of — while
    * partial-band coincidences are dropped. Occupancy is a property
    * of the BUCKET, so every member of a bucket takes the same branch
    * and a widened key can never collide with a normal bucket's
    * (`band_wide` 0 vs non-zero matters only within one narrow
    * (band_idx, band_hash) bucket). This TRADES RECALL for bounded
    * work; off (0) by default, and every cap-0 output is unchanged
    * (spec-pinned). The occupancy count shuffles only the narrow
    * (id, band_idx, band_hash) stream — no signatures, no shingles —
    * and the sizes side is one row per OCCUPIED bucket, so the cap's
    * own cost stays linear at any scale. */
  private def bandBuckets(sigs: DataFrame, bands: Int,
      rowsPerBand: Int, maxBucket: Int = 0): DataFrame = {
    if (maxBucket <= 0) {
      sigs
        .select(col("id"),
          posexplode(polyBands(col("mh"), bands, rowsPerBand)))
        .withColumnRenamed("pos", "band_idx")
        .withColumnRenamed("col", "band_hash")
    } else {
      // Self-join path only: ONE bucket-keyed exchange serves the
      // occupancy count, the re-key join, and (hash on a SUBSET of
      // the join keys co-locates the 3-key pair join too) the pair
      // join — without it the occupancy aggregation plans its own
      // partial-agg exchange and the shingle+minhash+band map pass
      // runs TWICE (the d04 shape; event-log at sf0.1: d25 execCPU
      // 7.4 -> 5.5 s). The INCREMENTAL path deliberately does NOT
      // take this shape: its occupancy is a union over BOTH sides,
      // and the A/B measured the shared-exchange form 3x worse on
      // execCPU there (d29 45.6 -> 139.9 s at sf0.1 — the pair-join
      // and lookup stages stop sharing map work once the union agg
      // pins the exchanges) — kept as-is.
      val base = bandBucketsWide(sigs, bands, rowsPerBand)
        .repartition(col("band_idx"), col("band_hash"))
      rekeyOversized(base,
        base.select("band_idx", "band_hash"), maxBucket)
    }
  }

  /** [[bandBuckets]]' exploded band rows with the widened
    * full-signature key attached as `_wide0` (pre-occupancy form —
    * shared by the self-join cap and the cross-set incremental cap,
    * whose occupancy is counted over the UNION of both sides).
    * Widened key = the band fold over ALL k components (the maximum
    * width the signature family offers, as the embedding cap widens
    * to all 64 planes): restates in DuckDB exactly like polyBands
    * with one band of k rows. */
  private def bandBucketsWide(sigs: DataFrame, bands: Int,
      rowsPerBand: Int): DataFrame = {
    val wideExpr = aggregate(col("mh"), lit(0L),
      (acc, v) => (acc * 31L + v) % graft.functions.PolyHash.P)
    sigs
      .select(col("id"), posexplode(polyBands(col("mh"), bands,
        rowsPerBand)), wideExpr.as("_wide0"))
      .withColumnRenamed("pos", "band_idx")
      .withColumnRenamed("col", "band_hash")
  }

  /** Re-key members of oversized buckets: count occupancy over
    * `occupancyRows` (the band keys of EVERY frame that will meet in
    * the bucket join — the frame itself for a self-join, the union
    * of both sides for the incremental cross-join, so every joining
    * side takes the same re-key decision for a bucket), then swap in
    * the widened `_wide0` key as `band_wide` where the bucket
    * exceeds `maxBucket`. The occupancy shuffle carries only the
    * narrow key stream — no signatures, no shingles — and the sizes
    * side is one row per OCCUPIED bucket. */
  private def rekeyOversized(base: DataFrame,
      occupancyRows: DataFrame, maxBucket: Int): DataFrame = {
    val sizes = occupancyRows
      .groupBy("band_idx", "band_hash")
      .agg(count(lit(1)).as("_bucket_n"))
    base.join(sizes, Seq("band_idx", "band_hash"))
      .withColumn("band_wide",
        when(col("_bucket_n") > maxBucket, col("_wide0"))
          .otherwise(lit(0L)))
      .drop("_bucket_n", "_wide0")
  }

  /** Fraction of agreeing signature components of a candidate pair's
    * `mh_a`/`mh_b` — the unbiased minhash estimate of its Jaccard. */
  private def signatureEstimate(k: Int): Column =
    size(filter(zip_with(col("mh_a"), col("mh_b"),
      (x, y) => x === y), e => e)).cast("double") / k

  /** Exact Jaccard of `sh_a`/`sh_b` for pairs whose signature estimate
    * clears half the threshold, else -1: prefilter and verify fused
    * into one native loop pair. HOFs evaluate interpreted, and the
    * verify runs once per candidate pair, so its constant factor
    * dominates adversarial corpora. Its HOF composition is pinned
    * equal in DedupSimilaritySpec. */
  private def verify(k: Int, threshold: Double): Column =
    graft.functions.GraftFunctions.minhashJaccardVerify(
      col("mh_a"), col("mh_b"), col("sh_a"), col("sh_b"), k, threshold)

  /** `maxBucket > 0` bounds per-band-bucket candidate volume on
    * band-degenerate corpora by re-keying oversized buckets with the
    * full-signature fold (see [[bandBuckets]] — bounded recall, off
    * by default; every gated cap-0 output is unchanged). */
  /** `estimateOnly = true` makes the pair criterion the UNBIASED
    * minhash estimate `|{i : mh_a[i] = mh_b[i]}| / k` (Broder,
    * "On the resemblance and containment of documents", SEQUENCES
    * 1997) instead of the exact shingle-set Jaccard — the published
    * production shape for web-scale dedup, where the signature IS the
    * similarity oracle and the shingle sets are never consulted again
    * after signature construction. The returned `jaccard` column then
    * carries the estimate (a multiple of 1/k; k a power of two, so
    * the division and the threshold comparison are FP-exact and
    * restate bit-identically in external SQL). The scale win is the
    * verify join's row WIDTH: pairs carry two k-int32 signatures
    * (~0.5 KB at k=64) instead of two gram-key arrays (KBs for
    * ~1k-shingle documents) — the intermediate that binds the exact
    * form's 1000x single-box probe (bench_scale.json round 13). */
  def minhashPairs(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", shingleN: Int = 5, bands: Int = 8,
      rowsPerBand: Int = 4, threshold: Double = 0.5,
      maxBucket: Int = 0, estimateOnly: Boolean = false): DataFrame = {
    val k = bands * rowsPerBand
    graft.functions.GraftFunctions.register(docs.sparkSession)
    // The signature subtree feeds the band explode and two pair-side
    // lookups. NOT cached: with the fused rolling-hash shingling the
    // recompute is cheaper than the memory pin — measured at 10x
    // (/tmp/graft_sf1, local[32]): no-cache min 12.3 s / median
    // 13.3 s vs cached min 19.5 s / median 21.9 s; at sf0.1 2.2 s vs
    // 2.8 s. ReuseExchange still dedupes the exchange where consumers
    // share partitioning (same conclusion as the d04 index, below).
    // Each shingle is hashed ONCE to the wide two-family 64-bit gram
    // key via the fused rolling-hash expression
    // (normalize+shingle+hash in one pass, no intermediate arrays):
    // signatures come from affine permutations of the key's h1
    // component, and the exact verify intersects the 8-byte key
    // arrays instead of strings — fixed-width shuffles, cheaper
    // comparisons, same oracle-exact semantics (the oracle hashes its
    // distinct gram strings with the identical two-family pack).
    val sigs = minhashSigs(docs, idCol, textCol, shingleN, k)
    val buckets = bandBuckets(sigs, bands, rowsPerBand, maxBucket)
    // Corpus-sized self-join: force sort-merge (AQE upgrades it back
    // to broadcast at runtime when the fixture is genuinely small).
    // Catalyst's static size estimate for the exploded band rows is
    // far under reality, and broadcasting a corpus-sized side is the
    // one thing this operator must never do at scale.
    val bucketCond = col("a.band_idx") === col("b.band_idx") &&
      col("a.band_hash") === col("b.band_hash") &&
      (if (maxBucket > 0) col("a.band_wide") === col("b.band_wide")
       else lit(true))
    val pairs = buckets.as("a").join(buckets.as("b").hint("merge"),
        bucketCond && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    // One signature+shingle lookup per pair side (two corpus-keyed
    // joins total, not four): the estimate prefilter and the exact
    // verify evaluate in the same stage, with the conjunction
    // short-circuiting so only estimate-survivors (E[matching/k] =
    // jaccard; loose half-threshold margin) pay for the exact array
    // intersection.
    //
    // Lookup-join hint discipline (asymmetric on purpose): the FIRST
    // lookup builds its hash side from the narrow id-pair stream —
    // the cheapest possible build. The SECOND lookup must NOT: its
    // left side is the pair stream already carrying mh_a/sh_a
    // (~k + |shingles| longs per row — several KB), i.e. |pairs| x
    // signature width, typically several times the corpus itself.
    // Hinting that side (the old shape) made Spark build the hash
    // relation from it and die at the 100x fixture ("Can't acquire
    // ... to build hash relation"); the hint now sits on the corpus
    // signature table, whose per-partition build is corpus/partitions
    // — exactly the quantity the shuffle-partition sizing rule keeps
    // bounded as data grows. Either hint also keeps Catalyst from
    // broadcasting the corpus side on a bad array-column estimate —
    // backwards at any scale.
    if (estimateOnly) {
      // Signatures only — the gram-key arrays never join the pair
      // stream (the whole point; see the scaladoc).
      return pairs.hint("shuffle_hash")
        .join(sigs.select(col("id").as("id_a"),
          col("mh").as("mh_a")), "id_a")
        .join(sigs.select(col("id").as("id_b"),
          col("mh").as("mh_b")).hint("shuffle_hash"), "id_b")
        .withColumn("jaccard", signatureEstimate(k))
        .where(col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    }
    pairs.hint("shuffle_hash")
      .join(sigs.select(col("id").as("id_a"), col("mh").as("mh_a"),
        col("sh").as("sh_a")), "id_a")
      .join(sigs.select(col("id").as("id_b"), col("mh").as("mh_b"),
        col("sh").as("sh_b")).hint("shuffle_hash"), "id_b")
      .withColumn("jaccard", verify(k, threshold))
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** INCREMENTAL minhash near-dedup: candidate pairs between an
    * existing corpus and a NEW batch only — the production shape at
    * 100 TB, where re-deduping the whole corpus per ingest is
    * unaffordable. The corpus's signatures/bands are a pure function
    * of its documents (persist them once alongside the data; this
    * operator recomputes them when handed raw text), and each batch
    * pays |batch| x bucket-collision work instead of a corpus
    * self-join. Same banding, estimate prefilter, and exact-Jaccard
    * verify as [[minhashPairs]] — the only difference is the pair
    * source: corpus bands join batch bands (no `id <` constraint; the
    * two sides are distinct sets, and a shared id never pairs with
    * itself).
    *
    * `maxBucket > 0` applies the bounded-recall bucket cap
    * ([[bandBuckets]]) with occupancy counted over the UNION of the
    * corpus and batch band streams — both sides must take the same
    * re-key decision for a bucket, and the union is exactly the
    * population the bucket join would otherwise mix. Off (0) by
    * default; cap-0 outputs unchanged (spec-pinned).
    *
    * `estimateOnly` mirrors [[minhashPairs]]'s flag: the pair
    * criterion becomes the signature estimate, gram arrays never
    * join the pair stream — the per-ingest shape at extreme scale,
    * where even the batch-vs-corpus verify join should carry only
    * int32 signatures.
    *
    * Returns (id_corpus, id_batch, jaccard).
    */
  def minhashPairsIncremental(corpus: DataFrame, batch: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      shingleN: Int = 5, bands: Int = 8, rowsPerBand: Int = 4,
      threshold: Double = 0.5, maxBucket: Int = 0,
      estimateOnly: Boolean = false): DataFrame = {
    val k = bands * rowsPerBand
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    val cSigs = minhashSigs(corpus, idCol, textCol, shingleN, k)
    val bSigs = minhashSigs(batch, idCol, textCol, shingleN, k)
    val (cBands, bBands) =
      if (maxBucket <= 0)
        (bandBuckets(cSigs, bands, rowsPerBand),
          bandBuckets(bSigs, bands, rowsPerBand))
      else {
        val c0 = bandBucketsWide(cSigs, bands, rowsPerBand)
        val b0 = bandBucketsWide(bSigs, bands, rowsPerBand)
        val occupancy = c0.select("band_idx", "band_hash")
          .unionByName(b0.select("band_idx", "band_hash"))
        (rekeyOversized(c0, occupancy, maxBucket),
          rekeyOversized(b0, occupancy, maxBucket))
      }
    val bucketCond = col("a.band_idx") === col("b.band_idx") &&
      col("a.band_hash") === col("b.band_hash") &&
      (if (maxBucket > 0) col("a.band_wide") === col("b.band_wide")
       else lit(true))
    // Corpus-sized join side: same merge discipline as the self-join
    // (never broadcast the corpus on a bad array-column estimate; AQE
    // still upgrades a genuinely small batch side at runtime).
    val pairs = cBands.as("a").join(bBands.as("b").hint("merge"),
        bucketCond && col("a.id") =!= col("b.id"))
      .select(col("a.id").as("id_corpus"), col("b.id").as("id_batch"))
      .distinct()
    if (estimateOnly) {
      return pairs.hint("shuffle_hash")
        .join(cSigs.select(col("id").as("id_corpus"),
          col("mh").as("mh_a")), "id_corpus")
        .join(bSigs.select(col("id").as("id_batch"),
          col("mh").as("mh_b")).hint("shuffle_hash"), "id_batch")
        .withColumn("jaccard", signatureEstimate(k))
        .where(col("jaccard") >= threshold)
        .select("id_corpus", "id_batch", "jaccard")
    }
    // Same asymmetric hint discipline as [[minhashPairs]]: first
    // lookup builds from the narrow pair stream; second builds from
    // the signature table (here the BATCH side — small by definition),
    // never from the pair stream once it carries signature arrays.
    pairs.hint("shuffle_hash")
      .join(cSigs.select(col("id").as("id_corpus"),
        col("mh").as("mh_a"), col("sh").as("sh_a")), "id_corpus")
      .join(bSigs.select(col("id").as("id_batch"),
        col("mh").as("mh_b"), col("sh").as("sh_b"))
        .hint("shuffle_hash"), "id_batch")
      .withColumn("jaccard", verify(k, threshold))
      .where(col("jaccard") >= threshold)
      .select("id_corpus", "id_batch", "jaccard")
  }

  /** SimHash near-dedup: 64-bit signature; near-dups collide on at
    * least one of four 16-bit sub-signatures when hamming distance
    * <= 3 (pigeonhole), verified exactly by bit_count. The portable
    * variant uses the 30-bit [[graft.functions.PolyHash]] signature in
    * five 6-bit sub-signatures (same blocking dataflow, external-oracle
    * reproducible).
    *
    * Scale note: PRODUCTION corpora should use the 64-bit variant —
    * 16-bit sub-signatures give 65k blocking buckets, vs 64 for the
    * portable form, whose candidate volume on a near-duplicate-heavy
    * corpus approaches quadratic (measured on the adversarial 10x
    * fixture: the result itself is ~273M pairs because hamming <= 8
    * genuinely holds across clone clusters — throughput stays
    * ~1.4M verified pairs/s/32 cores, the answer is just big). */
  def simhashPairs(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", maxHamming: Int = 3,
      portable: Boolean = false): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val sigExpr =
      if (portable)
        graft.functions.GraftFunctions.polySimhash(tokens(col(textCol)))
      else graft.functions.GraftFunctions.simhash64(tokens(col(textCol)))
    val (nChunks, chunkBits) = if (portable) (5, 6) else (4, 16)
    val mask = (1L << chunkBits) - 1L
    val sigs = graft.core.Partitioning.ensureWidth(docs).select(
      col(idCol).as("id"), sigExpr.as("sig"))
    val buckets = sigs
      .select(col("id"), col("sig"),
        posexplode(transform(sequence(lit(0), lit(nChunks - 1)),
          i => call_function("shiftright", col("sig"),
            i * lit(chunkBits)).bitwiseAND(lit(mask)))))
      .withColumnRenamed("pos", "chunk_idx")
      .withColumnRenamed("col", "chunk_val")
    val a = buckets.as("a")
    // Corpus-sized self-join — sort-merge, never broadcast (see
    // minhashPairs); AQE re-broadcasts small fixtures at runtime.
    val b = buckets.as("b").hint("merge")
    a.join(b,
        col("a.chunk_idx") === col("b.chunk_idx") &&
        col("a.chunk_val") === col("b.chunk_val") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))
      .distinct()
      .withColumn("hamming", hamming64(col("sig_a"), col("sig_b")))
      .where(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** N-gram Jaccard dedup without hashing tricks, entirely on an
    * inverted index — no shingle arrays ever cross a join.
    *
    * Similarity space is the "informative" grams: document frequency in
    * [2, maxDocFreq]. df=1 grams cannot be shared (dropping them changes
    * no pair's intersection, only deflates sizes consistently);
    * df>maxDocFreq grams are stop-shingles (boilerplate), excluded like
    * stopwords. Within that space the index self-join + count IS the
    * exact intersection size, and per-doc gram counts give the union —
    * so Jaccard is computed exactly from three hash-shuffles of narrow
    * rows. Pair-row volume is bounded by sum(C(df,2)) <=
    * maxDocFreq/2 * |index|, i.e. tunably near-linear in corpus size.
    */
  def ngramJaccardPairs(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", shingleN: Int = 5,
      threshold: Double = 0.5, maxDocFreq: Long = 100L): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    // Index keys are the fused rolling-hash gram keys (one pass:
    // normalize+shingle+hash, no substring arrays) — narrower
    // exchanges than strings and a fixed-width join key. (A scalar
    // hash projection AFTER the string-shingle HOF measured slower;
    // replacing the HOF itself is what pays.)
    // The key is the WIDE two-family 64-bit gram key: a single-family
    // int32 key halves the exploded index's shuffle width but
    // identifies grams by bare base-31, whose exact polynomial
    // identities ("c89" = "atw") the 100x fixture manufactured into
    // phantom shared grams — df counts, per-doc sizes, and
    // intersections all drift. Correctness over the 4 bytes.
    // One gram-keyed exchange serves EVERYTHING downstream: the raw
    // exploded index is hash-repartitioned on the gram key, so the
    // document-frequency aggregation, the semi-join filter, and the
    // in-bucket self-join all read the SAME shuffle output instead of
    // each planning its own. Before this, the df aggregation's
    // partial-agg exchange was separate from the index exchange, so
    // the scan+normalize+rolling-hash+explode map work ran TWICE per
    // query (event-log profile at sf0.1: two ~37 exec-CPU-s map
    // stages of the 134 s total); now it runs once and the df count
    // aggregates post-shuffle. (The lost map-side combine is free
    // here: the raw-row exchange must exist anyway for the join, and
    // it is what gets reused.) No explicit partition count — AQE
    // still sizes/coalesces, so the shape stays scale-adaptive.
    // (NOT cached: a cache breaks the shared exchange and measured
    // slower — the round-12 A/B stands.)
    val index = graft.core.Partitioning.ensureWidth(docs)
      .select(col(idCol).as("id"),
        explode(graft.functions.GraftFunctions
          .polyShingleHashes(col(textCol), shingleN)).as("gram"))
      .repartition(col("gram"))
    val dfCounts = index.groupBy("gram")
      .agg(count(lit(1)).as("df"))
      .where(col("df") >= 2 && col("df") <= maxDocFreq)
    val informative = index
      .join(dfCounts.hint("shuffle_hash").select("gram"), "gram")
      .select("id", "gram")
    val sizes = informative.groupBy("id")
      .agg(count(lit(1)).as("sz"))
    // Self-join on gram as sort-merge: both sides are the SAME
    // gram-keyed exchange, so ReuseExchange computes the index once —
    // a broadcast here would both replicate a corpus-sized side and
    // force the window subtree to build per branch (observed 3x at
    // the 10x fixture). Size lookups build from the narrow pair
    // stream, as in minhashPairs.
    val inter = informative.as("a")
      .join(informative.as("b").hint("merge"),
        col("a.gram") === col("b.gram") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("inter"))
    inter.hint("shuffle_hash")
      .join(sizes.select(col("id").as("id_a"), col("sz").as("sz_a")),
        "id_a")
      .hint("shuffle_hash")
      .join(sizes.select(col("id").as("id_b"), col("sz").as("sz_b")),
        "id_b")
      .withColumn("jaccard", col("inter").cast("double") /
        (col("sz_a") + col("sz_b") - col("inter")).cast("double"))
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Smallest plane count in [minPlanes, maxPlanes] whose bucket space
    * holds `n` vectors at `targetBucket` per bucket: 2^p * targetBucket
    * >= n. Pure integer arithmetic (no FP log), so the DuckDB oracles
    * restate it exactly as a CASE chain on count(*). With a FIXED
    * plane count, expected LSH candidate-pair volume is n^2 / 2^planes
    * — quadratic in the corpus; scaling p with log(n) pins expected
    * bucket size, making pair volume ~n * targetBucket / 2: linear.
    * The same rule a production deployment applies when sizing the
    * signature for a corpus snapshot. */
  private[graft] def adaptivePlanes(n: Long, minPlanes: Int,
      targetBucket: Int, maxPlanes: Int = 20): Int = {
    var p = minPlanes
    while (p < maxPlanes && (1L << p) * targetBucket < n) p += 1
    p
  }

  /** Embedding-cosine near-dup via random-hyperplane LSH: sign-bit
    * signatures bucket the corpus; exact cosine verifies candidates.
    * `planes` hyperplanes are derived deterministically from a seed via
    * integer hashing — no Math.random, reproducible across runs.
    *
    * `targetBucket > 0` switches `planes` to the corpus-adaptive floor
    * ([[adaptivePlanes]]): one count() of the corpus (a metadata-cheap
    * parquet aggregate) sizes the bucket space so expected bucket
    * occupancy — and with it candidate-pair volume — stays constant
    * per row as the corpus grows. The rule floors at `planes`, so any
    * fixture small enough for the floor (the gate SFs) keeps its
    * oracle outputs byte-identical to the fixed-plane form.
    *
    * `maxBucket > 0` additionally caps per-bucket candidate work on
    * SIGN-DEGENERATE corpora: adaptive planes keep EXPECTED occupancy
    * constant only while the data has sign-entropy to spend — the
    * round-11 1000x decade probe measured a synthetic corpus whose 2M
    * vectors occupy just 23,618 signatures (max bucket 36,760 → 13.2B
    * candidate pairs, 82x the linear model), because past ~18 planes
    * the vectors' intrinsic sign diversity saturates and more planes
    * split nothing. The cap re-keys members of buckets larger than
    * `maxBucket` by the WIDENED signature (all 64 planes of the same
    * byteswap family — the low `effPlanes` bits are the original sig,
    * so a widened key can never collide with another bucket's narrow
    * key, and bitwise-identical vectors always stay together). This
    * TRADES RECALL for bounded work: same-narrow-bucket pairs that
    * differ on the extra planes are no longer candidates. Off (0) by
    * default — every gated output is computed with the cap off. */
  def embeddingPairs(emb: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding", dim: Int, planes: Int = 16,
      threshold: Double = 0.95, targetBucket: Int = 0,
      maxBucket: Int = 0): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val effPlanes =
      if (targetBucket > 0)
        adaptivePlanes(emb.count(), planes, targetBucket)
      else planes
    // Signature over the double-cast vector: float->double cast is
    // exact and double +/* is what external engines use, so the sign
    // bits are reproducible bit-for-bit outside Spark.
    val sigs0 = emb.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"))
      .withColumn("sig", hyperplaneSignature(col("v"), dim, effPlanes))
    val sigs =
      if (maxBucket <= 0 || effPlanes >= 64) sigs0
      else {
        // One count-by-signature pass (ids+sigs only — no vectors
        // cross this shuffle), then oversized buckets re-key by the
        // widened signature. The join is sig-keyed and the counts
        // side is one row per OCCUPIED bucket.
        val sizes = sigs0.groupBy("sig")
          .agg(count(lit(1)).as("_bucket_n"))
        sigs0.join(sizes, "sig")
          .withColumn("sig", when(col("_bucket_n") > maxBucket,
            hyperplaneSignature(col("v"), dim, 64))
            .otherwise(col("sig")))
          .drop("_bucket_n")
      }
    val a = sigs.as("a")
    // As in minhashPairs: the vector-carrying self-join must not
    // broadcast a corpus-sized side on a bad static estimate.
    val b = sigs.as("b").hint("merge")
    a.join(b, col("a.sig") === col("b.sig") && col("a.id") < col("b.id"))
      .withColumn("cosine",
        graft.functions.GraftFunctions.arrayCosine(col("a.v"), col("b.v")))
      .where(col("cosine") >= threshold)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("cosine"))
  }

  /** The one live [[semanticDedup]] cache (see the persist note in the
    * method body); swapped atomically so repeated invocations never
    * stack cached subtrees. */
  private val previousAssigned =
    new java.util.concurrent.atomic.AtomicReference[DataFrame](null)

  /** Bounded persist: cache `df` (MEMORY_AND_DISK) after dropping the
    * slot's previous occupant, so however many times the owning
    * operator runs in one session, at most ONE of its cached subtrees
    * is live — the same discipline as [[semanticDedup]]'s assignment
    * cache, factored out for other multi-reference compositions
    * (e.g. the filtered-first curation's filter-verdict frame).
    *
    * REUSE: when the slot's occupant answers the SAME query
    * (canonical-plan `sameResult`, same live session) and is still
    * cached, it is returned as-is — no unpersist, no recompute. This
    * is what lets compositions that share an expensive verdict frame
    * (t19/t20's corpus surprisal scores, t22/t23's slice scores)
    * share one slot AND one materialization: the first of the pair
    * builds, the rest read, and concurrent invocations can never
    * unpersist a frame a sibling is mid-scan on (identical plans take
    * the reuse path, which never swaps). The production analogue is a
    * persisted filter verdict computed once per corpus version and
    * consumed by every downstream composition. */
  private[graft] def swapCached(
      slot: java.util.concurrent.atomic.AtomicReference[DataFrame],
      df: DataFrame): DataFrame = slot.synchronized {
    // Serialized per slot: two concurrent identical-plan callers
    // (t19 + t20 under Verify's thread pool, slot still empty) would
    // otherwise BOTH materialize, and the loser's corpus-cardinality
    // cached copy would stay live for the session. The second caller
    // now waits out the first's build and takes the reuse path.
    // Different slots never contend.
    val prev = slot.get()
    if (prev != null) {
      val reusable =
        try prev.sparkSession.eq(df.sparkSession) &&
          !prev.sparkSession.sparkContext.isStopped &&
          prev.storageLevel !=
            org.apache.spark.storage.StorageLevel.NONE &&
          prev.queryExecution.analyzed
            .sameResult(df.queryExecution.analyzed)
        // A dead context (bench session rebuild) must fall through to
        // the swap path, never poison the invocation.
        catch { case scala.util.control.NonFatal(_) => false }
      if (reusable) return prev
    }
    slot.getAndSet(null) match {
      case null => ()
      // The previous occupant may belong to a session that has since
      // been stopped (e.g. the bench harness rebuilding after a fatal
      // query); dropping a cache on a dead context must not poison
      // the next invocation.
      case prev => try prev.unpersist(blocking = false)
        catch { case scala.util.control.NonFatal(_) => () }
    }
    val cached =
      df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Materialize eagerly: the first consumer is typically a self-join
    // whose two shuffle-map stages are submitted CONCURRENTLY by the
    // scheduler; against a lazily-cached frame both stages race to
    // compute every partition (the "Block rdd_N already exists"
    // BlockManager warning), running the upstream pipeline twice
    // before the cache wins. One count() here builds each cached
    // partition exactly once and turns the racing stages into cache
    // reads — strictly less work, and the warning disappears.
    cached.count()
    slot.set(cached)
    cached
  }

  /** Semantic dedup (Abbas et al., "SemDeDup: Data-efficient learning
    * at web-scale through semantic deduplication", arXiv 2023): k-means
    * cluster the embedding space, then call two vectors semantic
    * duplicates when their exact cosine within a shared cluster is at
    * least `threshold`. Of each duplicate pair the member CLOSER to its
    * cluster centroid is dropped — the paper's keep-rule, retaining the
    * low-centroid-similarity example so pruning preserves diversity —
    * with centroid-cosine ties dropping the larger id.
    *
    * Clustering reuses the ANN machinery: the LCG-ordered deterministic
    * centroid sample and [[Similarity.refineCentroids]] Lloyd rounds
    * (DECIMAL means, so external engines restate them bit-exactly), and
    * the shuffle-free in-row [[graft.functions.GraftFunctions
    * .nearestCentroids]] assignment — the corpus crosses no exchange to
    * learn its cluster.
    *
    * Scale posture: candidate generation is the intra-cluster self-join
    * only — sum over clusters of |cluster|^2 cosines, never all-pairs —
    * and `nClusters` is the knob that bounds it (the paper runs ~50k
    * clusters at web scale; keep |corpus|/nClusters at a size whose
    * square fits a task). Only (id, cid, vec) rows reach the join, and
    * the verdict list that prunes the corpus carries ids alone.
    *
    * With corpus-adaptive k (`targetCluster > 0`) the ASSIGNMENT is
    * the remaining n x k term — n^2/targetCluster FLOPs, SemDeDup's
    * own law (measured 52.7x for 10x data at the 1000x fixture). On a
    * cluster it distributes embarrassingly (pure map-side work, no
    * shuffle growth); `coarseProbes > 0` is the knob for when it
    * should not: both the Lloyd rounds and the final assignment use
    * the two-level probed expression
    * ([[graft.functions.NearestCentroidProbed]] — coarse set =
    * ceil(sqrt(k)) LCG-prefix centroids, scan only fine centroids in
    * the top-`coarseProbes` coarse cells), bounding per-row work at
    * ~sqrt(k)*(1+probes) cosines for a stated assignment-accuracy
    * cost. Probed assignment to the argmax cell of a probed coarse
    * region is still exact WITHIN the probed region, and the
    * keep-rule/pair semantics downstream are unchanged.
    *
    * @return one row per input vector: (id, cid, cent_cosine, kept)
    */
  /** Smallest power-of-two multiple of `minClusters` (capped at
    * `maxClusters`) whose expected cluster size at `n` rows is at most
    * `targetCluster`. Pure integer doubling — the DuckDB oracles
    * restate it as a CASE chain on count(*). SemDeDup's candidate
    * volume is sum over clusters of |cluster|^2; with FIXED k that is
    * n^2/k — quadratic in the corpus — while scaling k with n pins
    * expected cluster size and makes pair volume ~n * targetCluster:
    * the paper itself runs ~50k clusters at web scale for the same
    * reason. */
  private[graft] def adaptiveClusters(n: Long, minClusters: Int,
      targetCluster: Int, maxClusters: Int = 4096): Int = {
    var k = minClusters
    while (k < maxClusters && k.toLong * targetCluster < n) k *= 2
    k
  }

  def semanticDedup(emb: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding", nClusters: Int = 16,
      lloydIterations: Int = 1, threshold: Double = 0.5,
      targetCluster: Int = 0, coarseProbes: Int = 0): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val corpus = emb.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("vec"))
    // The centroid bootstrap is over-fetched to the adaptive-k CAP
    // and sliced to k locally: TakeOrdered(cap) returns the smallest
    // `cap` rows in the SAME (LCG, id) order, so its k-prefix is
    // bit-identical to sampleCentroids(corpus, k).collect(). That
    // makes the sample job INDEPENDENT of the adaptive-k count — the
    // two corpus passes run CONCURRENTLY (guide §2.6; the sample on a
    // fresh thread so Spark's inheritable job group/description
    // properties stay this caller's — a shared pool thread could
    // carry another query's group and die with its cancellation),
    // and the collected sample doubles as the emptiness probe, so
    // the former serial count -> isEmpty -> TakeOrdered chain (two to
    // three corpus-touching jobs end to end) is now one concurrent
    // window. The localized bootstrap also means refineCentroids'
    // first collectCentroids call reads a LocalTableScan — no job.
    val sampleCap = math.max(nClusters, 4096)
    val sampleFrame = Similarity.sampleCentroids(corpus,
      if (targetCluster > 0) sampleCap else nClusters)
    var sampleRows: Array[org.apache.spark.sql.Row] = null
    var sampleErr: Throwable = null
    val sampler = new Thread(() =>
      try sampleRows = sampleFrame.collect()
      catch { case e: Throwable => sampleErr = e })
    sampler.setName("semanticDedup-centroid-sample")
    sampler.start()
    // Corpus-adaptive cluster count (one count() of the input, as in
    // [[embeddingPairs]]'s adaptive planes), overlapped with the
    // sample job above; 0 = fixed nClusters.
    val n =
      try { if (targetCluster > 0) Some(corpus.count()) else None }
      finally sampler.join()
    if (sampleErr != null) throw sampleErr
    // Empty-in -> empty-out: in a composed curation pipeline the
    // upstream filter may legitimately leave nothing (observed on the
    // 100x stress fixture, where the Caesar-shifted groups push every
    // document over t20's fixed surprisal threshold). Unlike the ANN
    // index builders — where an empty corpus is a caller error and
    // fail-fast stands — an empty dedup input has a well-defined
    // verdict: no vectors, no duplicates. An empty sample IS an empty
    // corpus (the sample keeps >= 1 row otherwise), so no separate
    // isEmpty probe job runs.
    if (sampleRows.isEmpty)
      return corpus.where(lit(false)).select(col("id"),
        lit(0L).as("cid"), lit(0d).as("cent_cosine"),
        lit(true).as("kept"))
    val k = n.map(adaptiveClusters(_, nClusters, targetCluster))
      .getOrElse(nClusters)
    // The shared portable bootstrap (Similarity.sampleCentroids —
    // single definition of the LCG sample order the oracles bake in),
    // localized from the k-prefix of the collected sample.
    val centroids0 = emb.sparkSession.createDataFrame(
      java.util.Arrays.asList(sampleRows.take(k): _*),
      sampleFrame.schema)
    val centroids =
      if (lloydIterations > 0)
        Similarity.refineCentroids(corpus, centroids0, lloydIterations,
          coarseProbes)
      else centroids0
    val (cids, cvs) =
      Similarity.collectCentroids(centroids, "semanticDedup")
    // In-row cluster assignment, then the (tiny, broadcast) centroid
    // table supplies the vector for the exact centroid-cosine the
    // keep-rule ranks by.
    // Persisted: this subtree is referenced three times (both
    // self-join sides and the final kept-join, which exchanges on id
    // rather than cid) — without the persist the scan + assignment +
    // centroid-cosine pipeline runs a third time for the output join.
    // Measured a wash at the 10x fixture (2.80 s persisted vs 2.72 s
    // recomputed — recompute is cheap at 20k vectors); kept for the
    // 100 TB posture, where the third pass is a full corpus scan.
    // The cache is deliberately NOT unpersisted here (the caller has
    // not materialized the result yet); instead the PREVIOUS
    // invocation's cache is dropped, bounding a session to one live
    // semanticDedup subtree however many times it runs (gates + bench
    // reps + t19/t20 reuse would otherwise accumulate until eviction).
    val assigned = swapCached(previousAssigned, corpus
      .withColumn("cid",
        Similarity.assignColumn(col("vec"), cids, cvs, coarseProbes))
      .join(broadcast(centroids), "cid")
      .withColumn("cc", graft.functions.GraftFunctions
        .arrayCosine(col("vec"), col("cvec")))
      .select(col("id"), col("vec"), col("cid"), col("cc")))
    // Intra-cluster duplicate pairs; merge-hinted like every other
    // corpus-sized self-join here (a bad-estimate broadcast would
    // replicate a vector-carrying side).
    val pairs = assigned.as("a")
      .join(assigned.as("b").hint("merge"),
        col("a.cid") === col("b.cid") && col("a.id") < col("b.id"))
      .where(graft.functions.GraftFunctions
        .arrayCosine(col("a.vec"), col("b.vec")) >= threshold)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.cc").as("cc_a"), col("b.cc").as("cc_b"))
    val dropped = pairs.select(
      when(col("cc_a") > col("cc_b"), col("id_a"))
        .otherwise(col("id_b")).as("id")).distinct()
    assigned
      .join(dropped.withColumn("is_dropped", lit(true)), Seq("id"),
        "left")
      .select(col("id"), col("cid"),
        round(col("cc"), 6).as("cent_cosine"),
        col("is_dropped").isNull.as("kept"))
  }

  /** Plane p's component d: a fixed pseudo-random +-1 from a byteswap
    * hash of (p, d). Plan-time constant — the same values are baked
    * into the DuckDB oracle SQL, so the signature needs no portable
    * hashing at all. */
  private[graft] def planeSign(p: Int, d: Int): Double =
    graft.functions.HyperplaneSig.planeSign(p, d)

  /** Deterministic pseudo-random hyperplane sign signature over an
    * `array<double>` vector; packs the sign bits of the dot products
    * into a long. A native codegen expression
    * ([[graft.functions.HyperplaneSig]]) with left-associated double
    * sums, so any engine repeating the same formula gets bit-identical
    * dots — the former planes x dim `element_at * lit` column tree
    * (1024 nodes at 16x64) overflowed the generated-method budget and
    * fell out of whole-stage codegen. Caller must have registered
    * [[graft.functions.GraftFunctions]] on the session. */
  private[graft] def hyperplaneSignature(
      vec: org.apache.spark.sql.Column,
      dim: Int, planes: Int): org.apache.spark.sql.Column =
    graft.functions.GraftFunctions.hyperplaneSig(vec, dim, planes)

  /** Survivor view: given a pair list, keep the smallest id of each
    * connected component's star (greedy: drop any id that appears as the
    * larger side of a pair). One pass, no iterative connected
    * components — the standard large-corpus approximation. Under-keeps
    * nothing but can over-keep: a non-minimal node all of whose
    * neighbors are larger survives (e.g. edges (1,2),(2,4),(3,4) keep
    * {1,3}, not the true component minimum {1}). [[survivorsCC]] is
    * the exact form. */
  def survivors(docs: DataFrame, pairs: DataFrame,
      idCol: String = "doc_id"): DataFrame = {
    val losers = pairs.select(col("id_b").as(idCol)).distinct()
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** Exact survivor view via distributed connected components:
    * min-label propagation ("hash-to-min", the dataflow core of
    * Kiveris et al., "Connected components in MapReduce and beyond",
    * SoCC 2014) — each round every vertex adopts the smallest label in
    * its neighborhood, converging in O(component diameter) rounds.
    * Near-dup components are shallow (dup clusters, not social
    * graphs), so rounds stay single-digit at corpus scale; every round
    * is one hash join + one min-aggregation on (vertex) keys, and
    * `localCheckpoint` truncates the growing lineage so plan size
    * stays constant. Only ids travel — never text or signatures. */
  def survivorsCC(docs: DataFrame, pairs: DataFrame,
      idCol: String = "doc_id", maxIter: Int = 25): DataFrame = {
    val edges = pairs.select(col("id_a").as("a"), col("id_b").as("b"))
      .union(pairs.select(col("id_b").as("a"), col("id_a").as("b")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      var labels = edges.select(col("a").as("v")).distinct()
        .withColumn("label", col("v"))
        .localCheckpoint()
      var converged = false
      var i = 0
      while (!converged && i < maxIter) {
        val prop = edges
          .join(labels.withColumnRenamed("v", "a"), "a")
          .select(col("b").as("v"), col("label"))
        val next = labels.select("v", "label").union(prop)
          .groupBy("v").agg(min("label").as("label"))
          .localCheckpoint()
        // Convergence probe: any vertex whose label still shrank?
        val changed = next
          .join(labels.withColumnRenamed("label", "prev_label"), "v")
          .where(col("label") =!= col("prev_label"))
          .limit(1).count()
        labels = next
        converged = changed == 0L
        i += 1
      }
      val losers = labels.where(col("label") =!= col("v"))
        .select(col("v").as(idCol))
      // left_anti keeps every unpaired doc plus each component's min id
      docs.join(losers, Seq(idCol), "left_anti")
    } finally edges.unpersist()
  }

  /** Exact-substring duplication statistics (the instance-level
    * complement of doc-level near-dup): for every document, how many
    * of its character n-gram INSTANCES also occur elsewhere in the
    * corpus (or again in the same document). This is the
    * span-duplication signal of Lee et al., "Deduplicating Training
    * Data Makes Language Models Better" (ACL 2022) — there computed
    * with a suffix array on one machine; here as two hash
    * aggregations over a fused rolling-hash kernel, which is the
    * shape that scales out: the exploded gram stream shuffles once on
    * the gram key (corpus-wide instance counts) and once on the doc
    * key (per-doc rollup), no all-pairs anything, and only (id, gram
    * hash) longs ever travel. Docs shorter than `n` chars hash as one
    * whole-text gram, so every document appears in the output.
    *
    * APPROXIMATION: gram instances are compared by their polynomial
    * hash, not by content — two DISTINCT grams colliding on the key
    * count each other as duplicates, inflating `dup_grams`. The
    * DEFAULT key is the wide two-family form ([[graft.functions
    * .PolyHash.shingleHashesWideAll]]): base-31 mod P=1e9+7 and
    * base-131 mod P2=1e9+9 packed injectively into one long, with
    * per-pair collision rate ~1/(P*P2) ~ 1e-18 — the birthday bound
    * stays negligible up to trillion-gram corpora, which is the
    * 100 TB design point. `wideHash=false` selects the single
    * base-31 mod-P key (per-pair rate ~1/P ~ 1e-9): cheaper to
    * restate, but with G distinct grams corpus-wide it admits
    * ~G^2/(2P) colliding pairs — already measurable at toy scale (on
    * the ~1.5e5-gram sf0.001 fixture the narrow key counts 15
    * spurious dups the wide key does not, matching the ~11-pair
    * birthday estimate; `DedupSimilaritySpec` pins the dominance
    * wide <= narrow per doc and the magnitude), and at lake scale
    * (G~1e12) collisions dominate — keep it only as a legacy/compat
    * mode. Lee et al.'s suffix arrays are exact but single-machine.
    * The DuckDB oracle restates the default wide key, so the gate is
    * consistent-by-construction with the approximation.
    *
    * Output: doc_id, n_grams, dup_grams, dup_fraction — the fraction
    * feeding the usual "drop docs with > X% duplicated spans" curation
    * rule (RefinedWeb-style). */
  def duplicatedNgramStats(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", gramChars: Int = 20,
      minCount: Long = 2L, wideHash: Boolean = true): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val gramKey =
      if (wideHash)
        graft.functions.GraftFunctions
          .polyShingleHashesWideAll(col(textCol), gramChars)
      else
        graft.functions.GraftFunctions
          .polyShingleHashesAll(col(textCol), gramChars)
    // Hash-repartitioned on the gram key for the same
    // one-exchange-serves-all reason as [[ngramJaccardPairs]]: the
    // instance-count aggregation and the count join both read this
    // shuffle output, so the scan+hash+explode map pass runs ONCE
    // instead of twice (the df-agg's own partial-agg exchange was the
    // second full pass — d11 spent 63 exec-CPU-s at sf0.1, ~half in
    // the duplicated map stage). AQE still coalesces the partitions.
    val grams = graft.core.Partitioning.ensureWidth(docs)
      .select(col(idCol).as("doc_id"), explode(gramKey).as("g"))
      .repartition(col("g"))
    // Corpus-wide instance counts, inner-joined back onto the
    // instance stream (every instance matches its own count, so one
    // final doc-keyed rollup yields BOTH totals and dup counts — no
    // separate total-branch explode, no outer join). Pair volume ==
    // instance volume, never more.
    val counts = grams.groupBy("g").agg(count(lit(1)).as("cnt"))
    grams.join(counts.hint("shuffle_hash"), Seq("g"))
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_grams"),
        sum(when(col("cnt") >= minCount, 1L).otherwise(0L))
          .as("dup_grams"))
      .withColumn("dup_fraction", round(col("dup_grams")
        .cast("double") / col("n_grams").cast("double"), 6))
  }

  /** Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    * SIGMOD 2003): each document's k-gram hash stream is reduced to
    * the rightmost-minimum hash of every `window`-wide run — the
    * paper's local fingerprint selection, which guarantees any shared
    * substring of at least `window + gramChars - 1` characters
    * produces a shared fingerprint while keeping expected density at
    * 2/(window+1) of all grams. This is the INDEX-side companion to
    * [[duplicatedNgramStats]]: instead of counting every gram
    * instance corpus-wide, a winnowed index stores ~2/(w+1) of the
    * grams and still catches every long-enough overlap — the standard
    * plagiarism/near-dup index shape (MOSS) and the cheap first pass
    * before an exact span check at 100 TB.
    *
    * Gram keys are the same two-family injective 64-bit pack over the
    * same normalized text as d11/d21 (whole-text arm below
    * `gramChars` chars), so fingerprints are directly joinable
    * against either family's keys. Selection runs inside the same
    * whole-stage-codegen pass as the gram kernel
    * ([[graft.functions.WinnowFingerprints]]): per document the
    * pipeline is text → gram hashes → deque winnow → explode, a pure
    * narrow map with NO shuffle — the only exchange in a consuming
    * index build is its own groupBy on the fingerprint key.
    *
    * @return one row per selected fingerprint: (doc_id, pos, fp) —
    *         `pos` the 1-based gram start offset in the normalized
    *         text, `fp` the wide gram key
    */
  def winnowFingerprints(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", gramChars: Int = 20,
      window: Int = 8): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val hashes = graft.functions.GraftFunctions
      .polyShingleHashesWideAll(col(textCol), gramChars)
    val fps = graft.functions.GraftFunctions
      .winnowFingerprints(hashes, window)
    graft.core.Partitioning.ensureWidth(docs)
      .select(col(idCol).as("doc_id"), explode(fps).as("f"))
      .select(col("doc_id"), col("f.pos").as("pos"),
        col("f.fp").as("fp"))
  }

  /** Winnowed near-dup candidate pairs — the MOSS consumption of
    * [[winnowFingerprints]]: documents sharing at least `minShared`
    * selected fingerprints are flagged as overlap candidates. By the
    * winnowing guarantee every shared substring of
    * `window + gramChars - 1` characters contributes a shared
    * fingerprint, so a pair with a few long shared spans always
    * surfaces, while the index holds only ~2/(w+1) of the grams.
    *
    * Boilerplate drop (the cap discipline, and also exactly what MOSS
    * ships): a fingerprint appearing in more than `maxDocsPerFp`
    * documents is template/boilerplate text whose bucket would pair
    * quadratically — it is dropped BEFORE pairing, which bounds
    * per-bucket work at `maxDocsPerFp²` pairs regardless of corpus
    * size (the d22/d23 lesson: never let one hot key go quadratic).
    * COVERAGE CONSEQUENCE (inherent to MOSS-style capping): a
    * document duplicated in MORE than `maxDocsPerFp` near-identical
    * copies shares ALL its fingerprints across all copies, so every
    * one of those fingerprints exceeds the cap and the group yields
    * ZERO candidate pairs here. That is by design — exact/near mass
    * duplicates are the province of [[exactDedup]]/[[minhashPairs]]
    * (whose banding caps degrade gracefully, d23); winnowPairs
    * intentionally targets PARTIAL-overlap pairs (shared passages,
    * quotations, templated spans) below the boilerplate threshold.
    *
    * Scale shape: distinct (doc, fp) stream → bucket-size filter
    * (aggregate + shuffle-hash join back, both keyed by fp) →
    * in-bucket self-join (sort-merge on fp, corpus-sized sides,
    * never broadcast) → pair rollup. Every exchange is keyed by fp
    * or by the pair — no corpus² anywhere.
    *
    * @return (id_a, id_b, shared) — unordered candidate pairs with
    *         id_a < id_b and their shared-fingerprint count
    */
  /** The one live [[winnowPairs]] capped-index cache (see the persist
    * note in the method body). */
  private val winnowKeptSlot =
    new java.util.concurrent.atomic.AtomicReference[DataFrame](null)

  def winnowPairs(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", gramChars: Int = 20, window: Int = 8,
      minShared: Long = 2L, maxDocsPerFp: Long = 64L): DataFrame = {
    require(minShared >= 1, s"winnowPairs: minShared must be >= 1")
    require(maxDocsPerFp >= 2,
      s"winnowPairs: maxDocsPerFp must be >= 2, got $maxDocsPerFp")
    // Positions drop out: pairing is on fingerprint VALUES, one vote
    // per (doc, fp) however many positions selected it.
    //
    // Exchange shape deliberately kept two-stage (partial-distinct on
    // (doc_id, fp), then the fp re-key shared by the occupancy count
    // and the cap join): the r15 single-exchange variant
    // (`repartition(col("fp"))` before the distinct, the d04 shape)
    // measured −27% wall at the 10x fixture but INVERTED at 100x —
    // instrumented paired runs: execCPU 3115 → 4433 s (+42%), cold
    // wall 105 → 169 s, despite −27% shuffle bytes. Dropping the
    // map-side partial collapse makes the post-shuffle distinct
    // deserialize and hash every raw gram-repeat instance in the
    // reduce stage, which loses exactly when the data gets big — the
    // opposite of the 100 TB posture. Tried, measured, REVERTED.
    val fps = winnowFingerprints(docs, idCol, textCol, gramChars,
      window).select(col("doc_id"), col("fp")).distinct()
    val ok = fps.groupBy("fp").agg(count(lit(1)).as("n_docs"))
      .where(col("n_docs") <= maxDocsPerFp)
      .select("fp")
    // Both sides of the pairing self-join otherwise recompute the
    // whole fingerprint index (the r14 d30 plan: two identical
    // scan→winnow→distinct→cap subtrees). Persist the capped (doc,
    // fp) frame — two longs per kept fingerprint — through the
    // bounded slot so the index is built ONCE and the join reads
    // cache twice. Measured best-of-3 (d25/t26 method): 10x recompute
    // 4.84/5.29 s (best/median) vs persist 3.48/4.20 s (0.72x); 100x
    // recompute 31.47/32.31 s vs persist 28.97/30.40 s (0.92x — the
    // index is cheap relative to the pairing join, so the win shrinks
    // as the join dominates, but it cannot invert: the index is built
    // once instead of twice). ADOPTED.
    val kept = swapCached(winnowKeptSlot,
      fps.join(ok.hint("shuffle_hash"), Seq("fp")))
    kept.as("a")
      .join(kept.as("b"),
        col("a.fp") === col("b.fp") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("shared"))
      .where(col("shared") >= minShared)
  }

  /** Benchmark decontamination: flag every corpus document that
    * shares at least one exact character n-gram with a held-out
    * benchmark/evaluation set — the overlap-scrub training pipelines
    * run before releasing a corpus (Brown et al., "Language Models
    * are Few-Shot Learners", NeurIPS 2020, Appendix C, which scrubs
    * on 13-gram collisions; the gram length is a parameter here).
    *
    * Gram keys are the same injective-in-practice two-family 64-bit
    * pack as [[duplicatedNgramStats]] (hash equality stands in for
    * gram equality — the d11 contract), over the same normalized
    * text and the same whole-text short arm for documents shorter
    * than `gramChars`.
    *
    * Scale shape: the benchmark side collapses to DISTINCT gram keys
    * (one long per gram) and is explicitly broadcast — a benchmark is
    * orders of magnitude smaller than the corpus, so the corpus gram
    * stream crosses NO exchange for the probe: scan → explode →
    * broadcast-hash left join → map-side-combined per-doc rollup.
    * Only (doc_id, n_grams, hit_grams) partials shuffle. At 100 TB
    * that is one corpus read, no corpus shuffle.
    *
    * @return one row per corpus document: (doc_id, n_grams,
    *         hit_grams, contaminated) — `hit_grams` counts gram
    *         INSTANCES whose key appears anywhere in the benchmark,
    *         `contaminated` = any hit (the scrub predicate)
    */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      gramChars: Int = 20): DataFrame = {
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    def gramKey(c: org.apache.spark.sql.Column) =
      graft.functions.GraftFunctions
        .polyShingleHashesWideAll(c, gramChars)
    val bGrams = benchmark
      .select(explode(gramKey(col(textCol))).as("g"))
      .distinct()
      .withColumn("hit", lit(1L))
    val cGrams = graft.core.Partitioning.ensureWidth(corpus)
      .select(col(idCol).as("doc_id"),
        explode(gramKey(col(textCol))).as("g"))
    cGrams.join(broadcast(bGrams), Seq("g"), "left")
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_grams"),
        sum(coalesce(col("hit"), lit(0L))).as("hit_grams"))
      .withColumn("contaminated", col("hit_grams") > 0L)
  }
}
