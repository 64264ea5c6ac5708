package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.llm.{Bpe, Chunking, Contamination, Dedup, Importance, LanguageModel, MediaCodecs, Multimodal, QualityFilter, Retrieval, Scrub, Similarity, Sketches, TextAnalysis, TextFunctions}

/** LLM-data-pipeline operator surface (north star,
  * `BASELINE.json`): dedup family, similarity search, text analysis,
  * multimodal-column plumbing — over the `documents` / `embeddings`
  * fixtures. Every query carries a full DuckDB oracle: the minhash and
  * mixing operators have a single hash family, the portable polynomial
  * hash ([[graft.functions.PolyHash]], restated verbatim in DuckDB list
  * SQL), and plan-time constants (hyperplane signs, affine
  * coefficients) are baked identically into the generated oracle text.
  */
object LlmQueries {

  /** One live cache slot for the full-corpus surprisal filter verdict
    * (t19 + t20 build the IDENTICAL scored frame; with
    * [[Dedup.swapCached]]'s reuse-on-identical-plan path, whichever
    * runs first materializes and the other reads the same cache —
    * including under Verify's concurrent pool, where identical plans
    * can never unpersist each other mid-scan). */
  private val corpusScoredVerdict =
    new java.util.concurrent.atomic.AtomicReference[DataFrame](null)

  /** The id%31-slice verdict (t22 + t23), its own slot: the slice
    * plan DIFFERS from the corpus plan, and a differing plan takes
    * the swap path — sharing one slot across the two plan shapes
    * would let a witness swap out the frame a full query is
    * mid-scan on under the concurrent pool. */
  private val sliceScoredVerdict =
    new java.util.concurrent.atomic.AtomicReference[DataFrame](null)

  /** t20's filter-surviving embedding frame (its own slot — no other
    * query builds this plan). [[Dedup.semanticDedup]] consumes its
    * input FOUR times before its own assignment cache exists (the
    * adaptive-k count, the LCG centroid sample, the Lloyd refine
    * pass, the assignment build); for t19 that input is a bare
    * parquet scan, but for t20 it is the emb ⋈ filter-verdict
    * shuffle-hash join — four joins per query without this persist,
    * one join + three cache reads with it. Paired idle-box A/B at
    * sf0.1, best/median-of-5: t20 4.70/5.19 -> 4.41/4.90 s with the
    * unchanged t19 as the same-run control (3.76/3.94 -> 3.90/3.98),
    * i.e. the t20-over-t19 surcharge halved, 0.94 -> 0.51 s; the
    * event log shows 3 fewer jobs and -1.1 MB shuffle. The 100 TB
    * posture is the point: the persisted frame is (id, vec)
    * survivors only, the production shape for a filtered-corpus
    * handoff. */
  private val filteredEmbFrame =
    new java.util.concurrent.atomic.AtomicReference[DataFrame](null)

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")
  private def emb(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")

  /** The published Gopher repetition keep thresholds — percent of
    * n_token_chars per signal (Rae et al. 2021, App. A1.1). Shared
    * by t39 and the composed full filter (t41). */
  private val gopherRepThresholds: Seq[(String, Int)] =
    Seq("top2_chars" -> 20, "top3_chars" -> 18, "top4_chars" -> 16,
      "dup5_chars" -> 15, "dup6_chars" -> 14, "dup7_chars" -> 13,
      "dup8_chars" -> 12, "dup9_chars" -> 11, "dup10_chars" -> 10)

  /** Repetition keep verdict over a TextGopher stats struct: every
    * threshold cross-multiplied so only integers compare. */
  private def gopherRepKeep(rp: Column): Column =
    gopherRepThresholds.map { case (f, pct) =>
      rp.getField(f) * 100L <=
        rp.getField("n_token_chars") * pct.toLong
    }.reduce(_ && _)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Exact dedup by normalized content hash.
    "d01_exact_dedup" -> ((s, dir) => {
      Dedup.exact(docs(s, dir))
        .orderBy("content_hash")
    }),

    // MinHash+LSH near-dup pairs on the polynomial hash, the only
    // minhash family (the full oracle restates the banding in DuckDB
    // list algebra).
    "d02_minhash_pairs" -> ((s, dir) => {
      Dedup.minhashPairs(docs(s, dir), shingleN = 8, bands = 16,
        rowsPerBand = 4, threshold = 0.3)
        .withColumn("jaccard", round(col("jaccard"), 6))
        .orderBy("id_a", "id_b")
    }),

    // d02's pipeline with the opt-in per-band-bucket candidate cap
    // ACTIVE (maxBucket=2) and a looser threshold (0.1) so the
    // recall trade is VISIBLE in the gated output: at the sf0.01
    // fixture the cap re-keys 17 oversized band buckets and drops
    // two >=0.1-jaccard pairs the uncapped run emits (one at
    // jaccard 0.978 — a near-clone pair whose every shared bucket is
    // oversized and whose full signatures differ), so a broken
    // re-key cannot hide behind an unchanged result. The oracle
    // restates the occupancy count, the full-signature fold, and the
    // three-key bucket join in DuckDB list algebra. Production caps
    // would sit orders of magnitude higher (the knob exists for the
    // d02 1000x band-degeneracy spill, not for fixtures); cap-0
    // outputs are pinned unchanged in DedupSimilaritySpec.
    "d23_minhash_pairs_capped" -> ((s, dir) => {
      Dedup.minhashPairs(docs(s, dir), shingleN = 8, bands = 16,
        rowsPerBand = 4, threshold = 0.1, maxBucket = 2)
        .withColumn("jaccard", round(col("jaccard"), 6))
        .orderBy("id_a", "id_b")
    }),

    // d23's capped pipeline consumed the way production consumes it:
    // straight into the GREEDY SURVIVOR view, never materializing
    // (or sorting) the pair list. The pair mass still flows through
    // the jaccard verify stage, but it reduces IMMEDIATELY to
    // `distinct id_b` — map-side-combinable, so what crosses the
    // wire and lands on disk is corpus-sized (one row per surviving
    // doc), not pair-mass-sized. This is the 1000x-tractable form of
    // the minhash family: d23's full pair OUTPUT is ~1e8 rows at
    // that decade (the measured wall, per bench_scale.json), while
    // this gate's output is the 5M-row survivor set — the d17-vs-d05
    // pattern applied to the minhash chain.
    "d27_minhash_survivors_capped" -> ((s, dir) => {
      val d = docs(s, dir)
      val pairs = Dedup.minhashPairs(d, shingleN = 8, bands = 16,
        rowsPerBand = 4, threshold = 0.1, maxBucket = 2)
      Dedup.survivors(d, pairs)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy("doc_id")
    }),

    // d27 with the ESTIMATE-ONLY pair criterion (Broder's minhash
    // estimate; matching-components/64 >= 0.1, a multiple of 1/64 so
    // the threshold comparison is FP-exact): the gram arrays are
    // never consulted after signature construction, so the pair
    // stream carries two int32[64] signatures instead of KB-scale
    // gram sets — the published web-scale dedup shape, and the form
    // whose verify intermediate fits where d27's exact-jaccard one
    // binds a single box at 1000x (bench_scale.json round 13).
    "d28_minhash_survivors_estimated" -> ((s, dir) => {
      val d = docs(s, dir)
      val pairs = Dedup.minhashPairs(d, shingleN = 8, bands = 16,
        rowsPerBand = 4, threshold = 0.1,
        maxBucket = 2, estimateOnly = true)
      Dedup.survivors(d, pairs)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy("doc_id")
    }),

    // The production near-dedup ORDER: exact dedup first, then
    // minhash near-dedup over the exact survivors only — the t16
    // curation composition's stage order, gated as a standalone
    // pair-producing operator. On a byte-identical-clone-dense
    // corpus this collapses every clone cluster to one
    // representative BEFORE the quadratic stage; pair output then
    // carries only the genuine near-dup mass. (The stress fixtures
    // are perturbation-heavy rather than exact-clone-heavy — 8k of
    // 5M docs at 1000x — so THERE the near-dup mass itself remains
    // the dominant output; see bench_scale.json's round-12 note on
    // where that pushes a single box vs a cluster.) The production
    // bucket cap rides along (maxBucket=64 — inactive at the gate
    // fixtures, where d23 carries cap-activity; the oracle restates
    // the occupancy rule regardless).
    "d25_minhash_after_exact" -> ((s, dir) => {
      val d = docs(s, dir)
      val keepers = Dedup.exact(d).select(col("keep_id").as("doc_id"))
      // Survivor join: keyed on doc_id; the keeper set is bounded by
      // the distinct-content count — shuffle_hash builds from it per
      // partition (never broadcast a corpus-sized side on a bad
      // estimate).
      // MEASURED: recompute beats caching this frame even though the
      // minhash stage's plan re-reads the keeper-join subtree six
      // times (scan+aggregate per reference, PLANS.md d25 snapshot).
      // A/B at the stress fixtures (best-of-3 / median-of-3, idle
      // box, 32 cores): 10x recompute 6.58/6.97 s vs MEMORY_AND_DISK
      // persist 8.90/9.49 s; 100x recompute 51.9/57.1 s vs persist
      // 56.4/76.7 s. Same verdict as minhashPairs' signature
      // subtree: the subtree is scan+hash work that fuses into
      // whole-stage codegen per consumer, while a cache inserts an
      // InMemoryRelation barrier (build cost + row materialization +
      // memory pressure on the very stage that needs the heap for
      // its hash joins). Revisit only if the consumer count grows.
      val survivors = d.join(keepers.hint("shuffle_hash"), "doc_id")
      Dedup.minhashPairs(survivors, shingleN = 8, bands = 16,
        rowsPerBand = 4, threshold = 0.3, maxBucket = 64)
        .withColumn("jaccard", round(col("jaccard"), 6))
        .orderBy("id_a", "id_b")
    }),

    // Incremental near-dedup: every 5th doc arrives as the "new
    // batch" and is deduped against the rest as the existing corpus —
    // corpus bands join batch bands, no corpus self-join.
    "d08_incremental_dedup" -> ((s, dir) => {
      val corpus = docs(s, dir).where(col("doc_id") % 5 =!= 0)
      val batch = docs(s, dir).where(col("doc_id") % 5 === 0)
      Dedup.minhashPairsIncremental(corpus, batch, shingleN = 8,
        bands = 16, rowsPerBand = 4, threshold = 0.3)
        .withColumn("jaccard", round(col("jaccard"), 6))
        .orderBy("id_corpus", "id_batch")
    }),

    // d08's incremental shape with the bucket cap ACTIVE
    // (maxBucket=2, occupancy counted over the UNION of corpus and
    // batch bands so both sides take the same re-key decision): at
    // the sf0.01 fixture the cap drops one >=0.3-jaccard cross-set
    // pair the uncapped run emits — the recall trade visible in the
    // gated output, as d23 pins for the self-join form.
    // d26's capped incremental shape under the ESTIMATE-ONLY
    // criterion (d28's flag applied to the per-ingest join):
    // signatures are the similarity oracle, gram arrays never join
    // the pair stream — the per-ingest form at extreme scale.
    "d29_incremental_estimated" -> ((s, dir) => {
      val corpus = docs(s, dir).where(col("doc_id") % 5 =!= 0)
      val batch = docs(s, dir).where(col("doc_id") % 5 === 0)
      Dedup.minhashPairsIncremental(corpus, batch, shingleN = 8,
        bands = 16, rowsPerBand = 4, threshold = 0.1,
        maxBucket = 2, estimateOnly = true)
        .withColumn("jaccard", round(col("jaccard"), 6))
        .orderBy("id_corpus", "id_batch")
    }),

    // Winnowed candidate pairs (the MOSS consumption of t34): docs
    // sharing >= 2 selected fingerprints, with over-common
    // fingerprints (> 64 docs — boilerplate) dropped before pairing,
    // bounding every bucket at 64² pairs. Full oracle: the t34 chain,
    // the distinct (doc, fp) collapse, the bucket-size filter, the
    // in-bucket self-join and the pair rollup restated.
    "d30_winnow_pairs" -> ((s, dir) => {
      Dedup.winnowPairs(docs(s, dir), gramChars = 20, window = 8,
        minShared = 2L, maxDocsPerFp = 64L)
        .orderBy("id_a", "id_b")
    }),

    // d30 on a deterministic id%5 slice — the witness form whose
    // FULL pair oracle stays tractable at the 1000x decade (the
    // t36/d24 pattern): the SAME winnow → distinct → cap → in-bucket
    // self-join → rollup operator, slice-bounded on both pair
    // endpoints, so the join intermediate scales as (1/5)^2 of the
    // corpus form. %5, not the usual %31: pairs need BOTH endpoints
    // in the slice, and the %31 slice is empty of pairs at the
    // sf0.01 gate (an empty-both-sides gate proves nothing — the
    // t22 lesson); %5 carries 5 informative pairs there.
    "d31_winnow_pairs_witness" -> ((s, dir) => {
      Dedup.winnowPairs(
        docs(s, dir).where(col("doc_id") % 5 === 2),
        gramChars = 20, window = 8, minShared = 2L,
        maxDocsPerFp = 64L)
        .orderBy("id_a", "id_b")
    }),

    "d26_incremental_capped" -> ((s, dir) => {
      val corpus = docs(s, dir).where(col("doc_id") % 5 =!= 0)
      val batch = docs(s, dir).where(col("doc_id") % 5 === 0)
      Dedup.minhashPairsIncremental(corpus, batch, shingleN = 8,
        bands = 16, rowsPerBand = 4, threshold = 0.3, maxBucket = 2)
        .withColumn("jaccard", round(col("jaccard"), 6))
        .orderBy("id_corpus", "id_batch")
    }),

    // SimHash near-dup pairs, portable 30-bit signature (full oracle).
    "d03_simhash_pairs" -> ((s, dir) => {
      Dedup.simhashPairs(docs(s, dir), maxHamming = 8, portable = true)
        .orderBy("id_a", "id_b")
    }),

    // N-gram Jaccard near-dup via inverted index (full oracle: plain
    // set algebra, no hashing).
    "d04_ngram_jaccard" -> ((s, dir) => {
      Dedup.ngramJaccardPairs(docs(s, dir), shingleN = 8,
        threshold = 0.3, maxDocFreq = 50)
        .withColumn("jaccard", round(col("jaccard"), 6))
        .orderBy("id_a", "id_b")
    }),

    // Dedup survivors: corpus minus the larger id of every near-dup
    // pair (greedy star resolution) — the materialized "cleaned
    // corpus" view.
    "d06_dedup_survivors" -> ((s, dir) => {
      val pairs = Dedup.ngramJaccardPairs(docs(s, dir), shingleN = 8,
        threshold = 0.3, maxDocFreq = 50)
      Dedup.survivors(docs(s, dir), pairs)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy("doc_id")
    }),

    // Exact survivor view: full connected components over the near-dup
    // graph (min-label propagation), not the greedy star drop — chains
    // A~B~C resolve to the single component minimum.
    "d07_survivors_cc" -> ((s, dir) => {
      val pairs = Dedup.ngramJaccardPairs(docs(s, dir), shingleN = 8,
        threshold = 0.3, maxDocFreq = 50)
      Dedup.survivorsCC(docs(s, dir), pairs)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy("doc_id")
    }),

    // Sampled-domain aggregate witnesses for the two queries whose
    // full oracles are combinatorial at the 10x stress fixture (d03's
    // candidate join materializes ~273M pairs there; d07's recursive
    // closure walks ~2.2M edges): a deterministic 10% doc slice
    // (doc_id % 10 = 3) shrinks candidate volume ~100x so DuckDB can
    // restate the SAME pipeline at both scales, and the order-free
    // count+checksum witness pins the exact pair / survivor sets.
    "d09_simhash_witness" -> ((s, dir) => {
      val sample = docs(s, dir).where(col("doc_id") % 10 === 3)
      Dedup.simhashPairs(sample, maxHamming = 8, portable = true)
        .agg(
          count(lit(1)).as("n_pairs"),
          coalesce(sum((col("id_a") * 1000003L + col("id_b"))
            % 1000000007L), lit(0L)).as("pair_checksum"),
          coalesce(sum(col("hamming").cast("long")), lit(0L))
            .as("hamming_sum"))
    }),

    "d10_cc_witness" -> ((s, dir) => {
      val sample = docs(s, dir).where(col("doc_id") % 10 === 3)
      val pairs = Dedup.ngramJaccardPairs(sample, shingleN = 8,
        threshold = 0.3, maxDocFreq = 50)
      Dedup.survivorsCC(sample, pairs)
        .agg(
          count(lit(1)).as("n_survivors"),
          coalesce(sum(col("doc_id") % 1000000007L), lit(0L))
            .as("id_checksum"),
          coalesce(sum(col("n_chars").cast("long")), lit(0L))
            .as("chars_sum"))
    }),

    // 100x-scale witnesses for the pair-dedup family (the d09/d10
    // pattern, steeper slice): the full d02/d04/d05 oracles are
    // combinatorial on the 100x stress fixture (500k docs / 200k
    // vectors), so these run the SAME operator on the deterministic
    // `id % 31` slice — 31 is coprime to the fixture's copy shifts
    // (5000 docs / 2000 vecs per sf0.1 copy), so the slice cuts
    // ACROSS duplicate groups instead of sampling aligned copies —
    // and pin the exact pair set via order-free count + checksums.
    // The similarity checksum sums floor(round(sim,6)*1e6) per pair:
    // both engines derive each pair's value from the same integer
    // counts (bit-identical doubles), and the integer projection
    // makes the SUM order-independent where a double sum is not.
    // At the sf0.01 gate the slice is ~16 docs (the full-output d02/
    // d04/d05 gates carry correctness there); at 100x it is ~16k
    // docs / 6.5k vectors — the scale where these witnesses are the
    // only tractable oracle.
    "d14_minhash_witness" -> ((s, dir) => {
      val sample = docs(s, dir).where(col("doc_id") % 31 === 7)
      Dedup.minhashPairs(sample, shingleN = 8, bands = 16,
        rowsPerBand = 4, threshold = 0.3)
        .agg(
          count(lit(1)).as("n_pairs"),
          coalesce(sum((col("id_a") * 1000003L + col("id_b"))
            % 1000000007L), lit(0L)).as("pair_checksum"),
          coalesce(sum(floor(round(col("jaccard"), 6) * 1e6)
            .cast("long")), lit(0L)).as("jmil_sum"))
    }),

    "d15_ngram_witness" -> ((s, dir) => {
      val sample = docs(s, dir).where(col("doc_id") % 31 === 7)
      Dedup.ngramJaccardPairs(sample, shingleN = 8,
        threshold = 0.3, maxDocFreq = 50)
        .agg(
          count(lit(1)).as("n_pairs"),
          coalesce(sum((col("id_a") * 1000003L + col("id_b"))
            % 1000000007L), lit(0L)).as("pair_checksum"),
          coalesce(sum(floor(round(col("jaccard"), 6) * 1e6)
            .cast("long")), lit(0L)).as("jmil_sum"))
    }),

    "d16_embedding_witness" -> ((s, dir) => {
      val sample = emb(s, dir).where(col("vec_id") % 31 === 7)
      Dedup.embeddingPairs(sample, dim = 64, planes = 6,
        threshold = 0.2, targetBucket = 8)
        .agg(
          count(lit(1)).as("n_pairs"),
          coalesce(sum((col("id_a") * 1000003L + col("id_b"))
            % 1000000007L), lit(0L)).as("pair_checksum"),
          coalesce(sum(floor(round(col("cosine"), 6) * 1e6)
            .cast("long")), lit(0L)).as("cmil_sum"))
    }),

    // Semantic-dedup witness (the d14/d15/d16 pattern): the id%31
    // slice through the FULL d12 pipeline — adaptive cluster count,
    // LCG bootstrap, one DECIMAL-mean Lloyd round, intra-cluster
    // pairs, the paper's keep-rule — collapsed to order-free
    // count+checksum aggregates. At the 100x fixture d12's full
    // oracle spills DuckDB past the disk (intra-cluster pair
    // restatement over 200k 64-dim vectors); the slice keeps a FULL
    // oracle tractable there, closing the last dedup family without
    // 100x row-level correctness.
    "d18_semantic_witness" -> ((s, dir) => {
      val sample = emb(s, dir).where(col("vec_id") % 31 === 7)
      Dedup.semanticDedup(sample, nClusters = 16,
        lloydIterations = 1, threshold = 0.35, targetCluster = 512)
        .agg(
          count(lit(1)).as("n_vecs"),
          coalesce(sum(when(col("kept"), 1L).otherwise(0L)),
            lit(0L)).as("n_kept"),
          coalesce(sum((col("id") * 1000003L + col("cid"))
            % 1000000007L), lit(0L)).as("cid_checksum"),
          coalesce(sum(floor(col("cent_cosine") * 1e6).cast("long")),
            lit(0L)).as("ccmil_sum"))
    }),

    // d05 over the FULL corpus, collapsed to the witness row: the
    // bench form. d05's pair output grows linearly with a dup-dense
    // corpus, and its gate wrapper's deterministic global output sort
    // was ~19s of its 25s at the 100x fixture — the artifact was
    // measuring the sort, not the operator. This form keeps every
    // candidate-generation + verify stage identical and replaces the
    // sorted emit with an order-free aggregate, so the bench measures
    // operator work at any scale; the full-output d05 gate is
    // unchanged for row-level correctness at the gate SFs.
    "d17_embedding_dups_agg" -> ((s, dir) => {
      Dedup.embeddingPairs(emb(s, dir), dim = 64, planes = 6,
        threshold = 0.2, targetBucket = 8)
        .agg(
          count(lit(1)).as("n_pairs"),
          coalesce(sum((col("id_a") * 1000003L + col("id_b"))
            % 1000000007L), lit(0L)).as("pair_checksum"),
          coalesce(sum(floor(round(col("cosine"), 6) * 1e6)
            .cast("long")), lit(0L)).as("cmil_sum"))
    }),

    // Exact-substring duplication stats (Lee et al. 2022 span-dedup
    // signal): per-doc count + fraction of character-20-gram
    // INSTANCES that repeat anywhere in the corpus. Full oracle: the
    // rolling-hash kernel is restated gram-by-gram in DuckDB.
    "d11_substring_dup" -> ((s, dir) => {
      Dedup.duplicatedNgramStats(docs(s, dir), gramChars = 20)
        .orderBy("doc_id")
    }),

    // Benchmark decontamination (Brown et al. 2020, Appendix C):
    // corpus docs sharing any exact 20-gram with a held-out
    // benchmark set are flagged before the corpus ships. Benchmark
    // stand-in: the deterministic doc_id%97=13 slice; the scrubbed
    // corpus is everything else (a fixture benchmark drawn from the
    // corpus would trivially self-collide). The fixture's duplicate
    // groups guarantee real cross-slice collisions at every scale.
    // Full oracle: d11's gram derivation on both sides, LEFT JOIN
    // against the distinct benchmark keys.
    "d21_decontaminate" -> ((s, dir) => {
      val d = docs(s, dir)
      Dedup.decontaminate(
        d.where(col("doc_id") % 97 =!= 13),
        d.where(col("doc_id") % 97 === 13),
        gramChars = 20)
        .orderBy("doc_id")
    }),

    // d11's pipeline on the id%31 slice, collapsed to order-free
    // witness aggregates (the d14/d18 pattern): the 1000x-tractable
    // oracle form for the substring-span family — the full d11
    // oracle's corpus-wide gram join exceeds DuckDB's disk at the
    // 5M-doc fixture, while the slice (~160k docs there) restates
    // the SAME instance-counting pipeline end-to-end. The checksum
    // keys per-doc dup counts by doc_id, pinning the exact per-doc
    // result multiset, not just totals.
    "d24_substring_witness" -> ((s, dir) => {
      val sample = docs(s, dir).where(col("doc_id") % 31 === 7)
      Dedup.duplicatedNgramStats(sample, gramChars = 20)
        .agg(
          count(lit(1)).as("n_docs"),
          coalesce(sum(col("n_grams")), lit(0L)).as("grams_sum"),
          coalesce(sum(col("dup_grams")), lit(0L)).as("dup_sum"),
          coalesce(sum((col("doc_id") * 1000003L + col("dup_grams"))
            % 1000000007L), lit(0L)).as("doc_checksum"))
    }),

    // Semantic dedup (SemDeDup): k-means clusters (LCG sample + one
    // DECIMAL-mean Lloyd round, as s05), intra-cluster cosine pairs,
    // drop the pair member nearer its centroid. Full oracle: the s05
    // Lloyd CTE composed with the pair/keep-rule restatement.
    "d12_semantic_dedup" -> ((s, dir) => {
      Dedup.semanticDedup(emb(s, dir), nClusters = 16,
        lloydIterations = 1, threshold = 0.35, targetCluster = 512)
        .orderBy("id")
    }),

    // SemDeDup with the IVF-probed two-level assignment (the knob
    // that bounds the algorithm's own n*k assignment law — measured
    // 52.7x for 10x data at the 1000x fixture with exact
    // assignment): coarse set = ceil(sqrt(k)) LCG-prefix centroids,
    // probe the top-2 coarse cells, exact argmax within the probed
    // region, for BOTH the Lloyd round and the final assignment.
    // Full oracle: the two-level rule restated CTE-for-CTE
    // (including the exact-scan fallback for empty probed regions).
    "d19_semantic_dedup_probed" -> ((s, dir) => {
      Dedup.semanticDedup(emb(s, dir), nClusters = 16,
        lloydIterations = 1, threshold = 0.35, targetCluster = 512,
        coarseProbes = 2)
        .orderBy("id")
    }),

    // d19's full pipeline on the id%31 slice, collapsed to the d18
    // witness aggregates — carries the probed-assignment family at
    // the stress fixtures where the full oracle's intra-cluster pair
    // restatement spills DuckDB past the disk.
    "d20_semantic_probed_witness" -> ((s, dir) => {
      val sample = emb(s, dir).where(col("vec_id") % 31 === 7)
      Dedup.semanticDedup(sample, nClusters = 16,
        lloydIterations = 1, threshold = 0.35, targetCluster = 512,
        coarseProbes = 2)
        .agg(
          count(lit(1)).as("n_vecs"),
          coalesce(sum(when(col("kept"), 1L).otherwise(0L)),
            lit(0L)).as("n_kept"),
          coalesce(sum((col("id") * 1000003L + col("cid"))
            % 1000000007L), lit(0L)).as("cid_checksum"),
          coalesce(sum(floor(col("cent_cosine") * 1e6).cast("long")),
            lit(0L)).as("ccmil_sum"))
    }),

    // Embedding-cosine near-dup through hyperplane LSH buckets. The
    // plane signs are plan-time constants baked identically into the
    // DuckDB oracle, so the query carries a full oracle. Plane count
    // adapts to corpus size (targetBucket = 8: 6 planes at the
    // sf0.01 gate fixture, 8 at sf0.1, 12 at the 10x stress fixture,
    // 15 at 100x) — the oracle restates the same integer rule as a
    // CASE chain on count(*), so the compare holds at every scale.
    // The corpus is geometrically clustered (10 label clusters), so
    // signatures are far from uniform and real bucket occupancy floors
    // well above the uniform-case target — measured on the 10x
    // fixture (20k vectors), candidate pairs fall 23.2M -> 3.6M going
    // 9 -> 12 planes and floor near the true near-dup mass (~1.4M) by
    // 16; the tight target keeps verify-side cosine volume pinned to
    // that floor instead of n^2 / occupied-buckets.
    "d05_embedding_dups" -> ((s, dir) => {
      Dedup.embeddingPairs(emb(s, dir), dim = 64, planes = 6,
        threshold = 0.2, targetBucket = 8)
        .withColumn("cosine", round(col("cosine"), 6))
        .orderBy("id_a", "id_b")
    }),

    // d05's pipeline with the opt-in per-bucket candidate cap ACTIVE
    // (maxBucket=32) — the round-11 1000x scale mitigation
    // (sign-degenerate buckets re-keyed by the widened 64-plane
    // signature), now under a full DuckDB oracle: the oracle
    // restates the occupancy count and the widened-signature CASE
    // with the same baked plane-sign literals for all 64 planes. The
    // cap is demonstrably ACTIVE at every gate scale (measured:
    // sf0.01 re-keys 244 rows and cuts candidate pairs 16,296 ->
    // 1,612; 10x re-keys 13,490 and cuts 3.56M -> 303k), so the
    // gated output genuinely differs from d05's and a broken re-key
    // cannot hide behind an unchanged result. cap-0 outputs are
    // pinned unchanged in DedupSimilaritySpec.
    "d22_embedding_dups_capped" -> ((s, dir) => {
      Dedup.embeddingPairs(emb(s, dir), dim = 64, planes = 6,
        threshold = 0.2, targetBucket = 8, maxBucket = 32)
        .withColumn("cosine", round(col("cosine"), 6))
        .orderBy("id_a", "id_b")
    }),

    // Brute-force cosine top-k ANN baseline (full oracle).
    "s01_ann_bruteforce" -> ((s, dir) => {
      val corpus = emb(s, dir)
        .select(col("vec_id").as("id"),
          col("embedding").cast("array<double>").as("vec"))
      val queries = emb(s, dir).where(col("vec_id") < 5)
        .select(col("vec_id").as("qid"),
          col("embedding").cast("array<double>").as("qvec"))
      Similarity.bruteForceTopK(corpus, queries, k = 10)
        .withColumn("cosine", round(col("cosine"), 6))
        .orderBy("qid", "rank")
    }),

    // LSH-bucketed ANN (full oracle: baked plane signs; recall vs s01
    // additionally gated by s04).
    "s02_ann_lsh" -> ((s, dir) => {
      val corpus = emb(s, dir)
        .select(col("vec_id").as("id"),
          col("embedding").cast("array<double>").as("vec"))
      val queries = emb(s, dir).where(col("vec_id") < 5)
        .select(col("vec_id").as("qid"),
          col("embedding").cast("array<double>").as("qvec"))
      Similarity.lshTopK(corpus, queries, k = 10, dim = 64, planes = 6)
        .withColumn("cosine", round(col("cosine"), 6))
        .orderBy("qid", "rank")
    }),

    // ANN quality gate: recall@10 of the LSH path against the exact
    // brute-force baseline, per query — approximate-search quality as
    // a hash-gated number, not just a ScalaTest assertion.
    "s04_ann_recall" -> ((s, dir) => {
      val corpus = emb(s, dir)
        .select(col("vec_id").as("id"),
          col("embedding").cast("array<double>").as("vec"))
      val queries = emb(s, dir).where(col("vec_id") < 5)
        .select(col("vec_id").as("qid"),
          col("embedding").cast("array<double>").as("qvec"))
      val exact = Similarity.bruteForceTopK(corpus, queries, k = 10)
        .select(col("qid"), col("id"))
      val approx = Similarity
        .lshTopK(corpus, queries, k = 10, dim = 64, planes = 6)
        .select(col("qid"), col("id"))
      val hits = exact.join(approx, Seq("qid", "id"))
        .groupBy("qid").agg(count(lit(1)).as("hits"))
      queries.select(col("qid")).distinct()
        .join(hits, Seq("qid"), "left")
        .select(col("qid"),
          coalesce(col("hits"), lit(0L)).as("hits"),
          (coalesce(col("hits"), lit(0L)) / 10.0).as("recall"))
        .orderBy("qid")
    }),

    // IVF-flat ANN (full oracle: portable centroid sample order).
    "s03_ann_ivf" -> ((s, dir) => {
      val corpus = emb(s, dir)
        .select(col("vec_id").as("id"),
          col("embedding").cast("array<double>").as("vec"))
      val queries = emb(s, dir).where(col("vec_id") < 5)
        .select(col("vec_id").as("qid"),
          col("embedding").cast("array<double>").as("qvec"))
      Similarity.ivfTopK(corpus, queries, k = 10, nCentroids = 16,
        nProbe = 4)
        .withColumn("cosine", round(col("cosine"), 6))
        .orderBy("qid", "rank")
    }),

    // The persisted-index ANN shape (mirrors t21's persisted BM25
    // stats): build the IVF index ONCE, write it to the lake with the
    // inverted lists cid-partitioned, reload, and probe — the probe's
    // cell filter is answered by parquet PARTITION PRUNING, so a
    // query batch physically reads ~nProbe/nCentroids of the corpus.
    // Same parameters as s03; the oracle is s03's verbatim (the
    // round trip and pruning change representation, not results).
    "s09_ann_ivf_persisted" -> ((s, dir) => {
      val corpus = emb(s, dir)
        .select(col("vec_id").as("id"),
          col("embedding").cast("array<double>").as("vec"))
      val queries = emb(s, dir).where(col("vec_id") < 5)
        .select(col("vec_id").as("qid"),
          col("embedding").cast("array<double>").as("qvec"))
      val (cent, lists) = Similarity.ivfIndex(corpus, nCentroids = 16)
      // Keyed by the SANITIZED fixture path (not its 32-bit hashCode —
      // collisions are constructible) plus the process id, so
      // concurrent Verify/Bench processes on the same fixture never
      // clobber each other's index between write and read.
      val idx = s"${sys.props("java.io.tmpdir")}/graft_ivf_index_" +
        dir.replaceAll("[^A-Za-z0-9]", "_") +
        s"_${ProcessHandle.current().pid()}"
      graft.core.Scratch.deleteOnExit(idx)
      cent.write.mode("overwrite").parquet(s"$idx/centroids")
      lists.write.mode("overwrite").partitionBy("cid")
        .parquet(s"$idx/lists")
      Similarity.ivfQuery(s.read.parquet(s"$idx/centroids"),
        s.read.parquet(s"$idx/lists"), queries, k = 10, nProbe = 4)
        .withColumn("cosine", round(col("cosine"), 6))
        .orderBy("qid", "rank")
    }),

    // IVF with one round of distributed Lloyd refinement: same probe
    // dataflow as s03, better centroids. The oracle recomputes the
    // refined centroids in SQL — the DECIMAL(38,18) mean arithmetic
    // makes the per-dimension means bit-identical across engines.
    "s05_ann_ivf_lloyd" -> ((s, dir) => {
      val corpus = emb(s, dir)
        .select(col("vec_id").as("id"),
          col("embedding").cast("array<double>").as("vec"))
      val queries = emb(s, dir).where(col("vec_id") < 5)
        .select(col("vec_id").as("qid"),
          col("embedding").cast("array<double>").as("qvec"))
      Similarity.ivfTopK(corpus, queries, k = 10, nCentroids = 16,
        nProbe = 4, lloydIterations = 1)
        .withColumn("cosine", round(col("cosine"), 6))
        .orderBy("qid", "rank")
    }),

    // Product-quantization ANN: asymmetric-distance shortlist over
    // per-segment codes + exact cosine rerank. Codebooks are the
    // LCG-ordered sample; every double accumulation is either a
    // left-assoc fold (segment L2, restated as list_reduce) or a
    // DECIMAL sum (the 4-segment ADC total), so the oracle ranks
    // identically.
    "s06_ann_pq" -> ((s, dir) => {
      val corpus = emb(s, dir)
        .select(col("vec_id").as("id"),
          col("embedding").cast("array<double>").as("vec"))
      val queries = emb(s, dir).where(col("vec_id") < 5)
        .select(col("vec_id").as("qid"),
          col("embedding").cast("array<double>").as("qvec"))
      Similarity.pqTopK(corpus, queries, k = 10, dim = 64)
        .withColumn("cosine", round(col("cosine"), 6))
        .orderBy("qid", "rank")
    }),

    // IVF + PQ composed (IVFADC / FAISS-IVFPQ shape): cell pruning
    // from s03's layer, ADC scan + exact rerank from s06's, both
    // with the same deterministic LCG samples — so the oracle is the
    // two gated oracles' CTEs composed.
    "s07_ann_ivfpq" -> ((s, dir) => {
      val corpus = emb(s, dir)
        .select(col("vec_id").as("id"),
          col("embedding").cast("array<double>").as("vec"))
      val queries = emb(s, dir).where(col("vec_id") < 5)
        .select(col("vec_id").as("qid"),
          col("embedding").cast("array<double>").as("qvec"))
      Similarity.ivfpqTopK(corpus, queries, k = 10, dim = 64)
        .withColumn("cosine", round(col("cosine"), 6))
        .orderBy("qid", "rank")
    }),

    // Gopher-style repetition filters: vocabulary concentration and
    // top-bigram fraction from the fused one-pass kernel; the
    // repetitive flag uses the UNROUNDED fraction on both sides.
    "t13_repetition" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val frac = when(col("rp.n_grams") > 0,
        col("rp.top_gram").cast("double")
          / col("rp.n_grams").cast("double")).otherwise(0d)
      docs(s, dir)
        .withColumn("rp", graft.functions.GraftFunctions
          .textRepetitionStats(col("text")))
        .select(col("doc_id"),
          col("rp.n_tokens").as("n_tokens"),
          round(col("rp.distinct_tokens").cast("double")
            / col("rp.n_tokens").cast("double"), 6)
            .as("distinct_ratio"),
          round(frac, 6).as("top_bigram_frac"),
          (frac > 0.1d).as("is_repetitive"))
        .orderBy("doc_id")
    }),

    // Deterministic weighted domain mixing: each source samples at a
    // rate derived from its numeric suffix; the keep predicate is the
    // portable LCG threshold. The realized per-source rates gate the
    // whole decision function.
    "t14_domain_mix" -> ((s, dir) => {
      val src = docs(s, dir)
        .withColumn("srcn",
          regexp_extract(col("source"), "src(\\d+)", 1).cast("int"))
        .withColumn("rate",
          (lit(1) + col("srcn") % 5).cast("double") / lit(5d))
      src
        .withColumn("kept",
          when(graft.llm.Mixing.keepPortable(col("doc_id"),
            col("rate")), 1))
        .groupBy(col("source"),
          ((lit(1) + col("srcn") % 5) * 20).as("rate_pct"))
        .agg(count(lit(1)).as("n_total"),
          count(col("kept")).as("n_kept"),
          round(count(col("kept")).cast("double") / count(lit(1)), 6)
            .as("realized_rate"))
        .orderBy("source")
    }),

    // Reproducible global training order: total sort by a portable
    // multiplicative hash (tie-broken by id), enumerated WITHOUT a
    // single-partition window (deterministic monotone bucketing +
    // local row_number + bucket offsets — Enumerate.withPosition).
    "t15_global_shuffle" -> ((s, dir) => {
      val key = pmod(col("doc_id") * 2654435761L, lit(1000000007L))
      graft.ops.Enumerate.withPosition(
        docs(s, dir).select(col("doc_id"), key.as("shuffle_key")),
        "position",
        graft.ops.Enumerate.rangeBucket(col("shuffle_key"),
          1000000007L, 32),
        col("shuffle_key"), col("doc_id"))
        .orderBy("position")
    }),

    // End-to-end corpus curation: the operators composed the way a
    // real training-data job runs them — exact dedup (min-id keeper
    // per content hash), near-dup survivors (greedy star over the
    // inverted-index jaccard pairs on the deduped corpus), fused
    // quality scoring with a keep threshold, fused language ID,
    // deterministic domain mixing, and final per-(source, lang) token
    // accounting. One gated query proves the stages COMPOSE; each
    // stage reuses the operator its individual gate verifies. Quality
    // accumulates as DECIMAL so the aggregate is partition-order-free.
    "t16_curation_pipeline" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val d = docs(s, dir)
      // keepIds is corpus-cardinality (one id per distinct content) —
      // shuffle_hash pins an id-keyed hash join so a bad size estimate
      // can never broadcast it, per the dedup-family discipline.
      val keepIds = Dedup.exact(d).select(col("keep_id").as("doc_id"))
      val exact = d.join(keepIds.hint("shuffle_hash"), "doc_id")
      val pairs = Dedup.ngramJaccardPairs(exact, shingleN = 8,
        threshold = 0.3, maxDocFreq = 50)
      val surv = Dedup.survivors(exact, pairs)
      val scored = surv
        .withColumn("st", graft.functions.GraftFunctions
          .textQualityStats(col("text"), TextAnalysis.allStopCsv))
        .withColumn("quality", TextAnalysis.qualityFromStats(
          col("st"), length(col("text"))))
        .where(col("quality") >= 0.2)
        .withColumn("lang", graft.functions.GraftFunctions
          .textLangId(col("text"), TextAnalysis.langSpec))
      val mixed = scored
        .withColumn("srcn",
          regexp_extract(col("source"), "src(\\d+)", 1).cast("int"))
        .withColumn("rate",
          (lit(1) + col("srcn") % 5).cast("double") / lit(5d))
        .where(graft.llm.Mixing.keepPortable(col("doc_id"),
          col("rate")))
      mixed.groupBy("source", "lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("st.n_tokens").cast("long")).as("sum_tokens"),
          round(sum(col("quality").cast("decimal(38,12)"))
            .cast("double"), 6).as("sum_quality"))
        .orderBy("source", "lang")
    }),

    // Language ID heuristic (full oracle). Fused one-pass kernel —
    // the per-language filter-In HOF tree cost 4x the quality scan;
    // equivalence with TextAnalysis.languageOf is property-pinned.
    "t01_langid" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      docs(s, dir)
        .withColumn("lang_detected",
          graft.functions.GraftFunctions.textLangId(col("text"),
            TextAnalysis.langSpec))
        .groupBy("lang_detected")
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("lang_detected")
    }),

    // Token counting: whitespace + BPE-ish subword proxy (full oracle).
    "t02_token_counts" -> ((s, dir) => {
      // whitespace count from the fused stats kernel; bpeish via a
      // single regexp_count pass
      graft.functions.GraftFunctions.register(s)
      docs(s, dir).select(
        col("doc_id"),
        graft.functions.GraftFunctions
          .textQualityStats(col("text"), TextAnalysis.allStopCsv)
          .getField("n_tokens").as("n_tokens"),
        TextAnalysis.bpeishTokenCount(col("text")).as("n_subtokens"))
        .orderBy("doc_id")
    }),

    // Quality scoring features + composite score (full oracle).
    "t03_quality" -> ((s, dir) => {
      // Fused one-pass stats kernel; formula identical to the HOF
      // composition (pinned in TextAnalysisSpec), oracle unchanged.
      graft.functions.GraftFunctions.register(s)
      docs(s, dir)
        .withColumn("st", graft.functions.GraftFunctions
          .textQualityStats(col("text"), TextAnalysis.allStopCsv))
        .select(
          col("doc_id"),
          length(col("text")).as("n_chars_q"),
          col("st.n_tokens").as("n_tokens"),
          TextAnalysis.qualityFromStats(col("st"),
            length(col("text"))).as("quality"))
        .orderBy("doc_id")
    }),

    // Document fingerprinting: md5 canonical + rolling hash (oracle
    // covers both — the rolling hash is modular arithmetic, computed
    // by the native fused expression; the HOF form it must equal is
    // pinned in PolyHashSpec).
    "t04_fingerprint" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      docs(s, dir).select(
        col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fp_md5"),
        graft.functions.GraftFunctions
          .polyHash(TextFunctions.normalizeText(col("text")))
          .as("fp_roll"))
        .orderBy("doc_id")
    }),

    // Token-window chunking with overlap (narrow explode — no shuffle).
    "t06_chunking" -> ((s, dir) => {
      Chunking.chunk(docs(s, dir), chunkTokens = 64,
        overlapTokens = 8)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id", "chunk_idx")
    }),

    // Second-generation curation composition: the round's new stages
    // prove they COMPOSE — perplexity-proxy quality filter (t18's
    // operator, corpus-quantile keep threshold) intersected with
    // semantic-dedup survivors (d12's operator over the FULL aligned
    // embeddings — verdicts independent of the filter, t20 is the
    // conditioned variant), rolled up per source. The filter is the
    // quantile threshold, not t18's fixed is_outlier cutoff: the
    // fixed cutoff empties the composition outright when the corpus
    // distribution shifts (observed at the 100x fixture via the t22
    // witness — 0 rows at exactly the scale the witness exists for).
    // Full oracle: the t18 and d12 oracle fragments CTE-chained.
    "t19_curation_semantic" -> ((s, dir) => {
      val d = docs(s, dir)
      // The surprisal-filter branch and the semantic-dedup branch are
      // INDEPENDENT until the final join (t19's defining property —
      // verdicts unconditioned on the filter; t20 is the dependent
      // variant and stays serial), yet BOTH run eager driver actions
      // during construction: the scored-frame materialization + the
      // quantile's passes here, the dedup bootstrap + Lloyd round +
      // assignment cache there. Build the filter branch on a fresh
      // thread (inheriting this caller's job group/description) while
      // the dedup branch builds on this one — guide §2.6 overlap;
      // paired idle-box A/B at sf0.1, best/median-of-5: t19
      // 4.42/4.75 -> 3.17/3.43 s with the untouched t20 as same-run
      // control (5.33/6.18 -> 4.61/4.95 — its ~0.7 s drift bounds the
      // window's noise; t19's 1.3 s drop clears it).
      // The two branches touch DIFFERENT swapCached slots (scored
      // verdict vs assignment cache), each internally synchronized.
      var lmOut: DataFrame = null
      var lmErr: Throwable = null
      val lmThread = new Thread(() => try {
        // Cached once (bounded slot): the quantile threshold and the
        // final join both read the scored frame — see t20's comment.
        val scored = Dedup.swapCached(corpusScoredVerdict,
          LanguageModel.unigramSurprisal(d)
            .select(col("doc_id"), col("n_tokens"),
              col("mean_surprisal")))
        val thr = LanguageModel.surprisalKeepThreshold(scored)
        lmOut = scored
          .crossJoin(broadcast(thr))
          .where(col("mean_surprisal") <= col("ms_thr"))
          .select(col("doc_id"), col("n_tokens"))
      } catch { case e: Throwable => lmErr = e })
      lmThread.setName("t19-surprisal-filter")
      lmThread.start()
      val sem =
        try Dedup.semanticDedup(emb(s, dir), nClusters = 16,
          lloydIterations = 1, threshold = 0.35, targetCluster = 512)
          .where(col("kept"))
          .select(col("id").as("doc_id"))
        finally lmThread.join()
      if (lmErr != null) throw lmErr
      val lm = lmOut
      // both filter frames are corpus-cardinality: shuffle_hash pins
      // id-keyed hash joins (the dedup-family discipline — a bad
      // estimate must never broadcast a corpus-sized side)
      d.join(lm.hint("shuffle_hash"), "doc_id")
        .join(sem.hint("shuffle_hash"), "doc_id")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("sum_tokens"))
        .orderBy("source")
    }),

    // Filtered-first variant of t19: semantic dedup runs ONLY on the
    // surprisal-surviving subset's embeddings. SEMANTICALLY DIFFERENT
    // from t19 by design — centroids, cluster memberships, and
    // keep/drop verdicts are all conditioned on the filter (a pair
    // whose nearer-centroid member was filtered out now KEEPS the
    // other member) — but the |cluster|^2 cosine work runs on a
    // strictly smaller corpus, which at 100 TB is the cheaper
    // composition when verdict independence isn't required (cost
    // delta at the 10x fixture recorded in bench_scale.json). Full
    // oracle: t19's CTE chain with the embedding corpus pre-filtered.
    "t20_curation_filtered" -> ((s, dir) => {
      val d = docs(s, dir)
      // The scored frame is materialized once (bounded cache — one
      // live copy per session): the quantile threshold reads it twice
      // (sample count + sample top-k) and semanticDedup references
      // the filtered verdict three times (centroid sample, Lloyd
      // refine, assignment) — each reference would otherwise re-run
      // the full surprisal corpus scan. The cached frame is
      // ids+counts+score only — corpus cardinality but a few
      // bytes/row, the production shape for a persisted filter
      // verdict. The keep rule is the corpus-quantile threshold
      // (best 90% of a deterministic sample), not t18's fixed
      // absolute cutoff: a fixed cutoff empties the filtered corpus
      // outright when the distribution shifts (observed at the 100x
      // fixture), turning the composition into a no-op.
      val scored = Dedup.swapCached(corpusScoredVerdict,
        LanguageModel.unigramSurprisal(d)
          .select(col("doc_id"), col("n_tokens"),
            col("mean_surprisal")))
      val thr = LanguageModel.surprisalKeepThreshold(scored)
      val lm = scored
        .crossJoin(broadcast(thr))
        .where(col("mean_surprisal") <= col("ms_thr"))
        .select(col("doc_id"), col("n_tokens"))
      val keptEmb = Dedup.swapCached(filteredEmbFrame,
        emb(s, dir).join(
          lm.select(col("doc_id").as("vec_id")).hint("shuffle_hash"),
          "vec_id"))
      val sem = Dedup.semanticDedup(keptEmb, nClusters = 16,
        lloydIterations = 1, threshold = 0.35, targetCluster = 512)
        .where(col("kept"))
        .select(col("id").as("doc_id"))
      d.join(lm.hint("shuffle_hash"), "doc_id")
        .join(sem.hint("shuffle_hash"), "doc_id")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("sum_tokens"))
        .orderBy("source")
    }),

    // t19's FULL composition on the id%31 witness slice (the d18
    // pattern): corpus-MLE surprisal over the sliced corpus, the
    // slice's own quantile keep-threshold, semantic dedup over the
    // sliced embeddings, per-source rollup (already an order-free
    // aggregate). At the 100x fixture
    // t19's full oracle spills DuckDB past the disk (SemDeDup CTEs
    // over 200k 64-dim vectors); the slice keeps a FULL oracle
    // tractable there — this witness carries the curation-composition
    // family's verification frontier to 100x.
    "t22_curation_semantic_witness" -> ((s, dir) => {
      val d = docs(s, dir).where(col("doc_id") % 31 === 7)
      val scored = Dedup.swapCached(sliceScoredVerdict,
        LanguageModel.unigramSurprisal(d)
          .select(col("doc_id"), col("n_tokens"),
            col("mean_surprisal")))
      val thr = LanguageModel.surprisalKeepThreshold(scored)
      val lm = scored
        .crossJoin(broadcast(thr))
        .where(col("mean_surprisal") <= col("ms_thr"))
        .select(col("doc_id"), col("n_tokens"))
      val sem = Dedup.semanticDedup(
        emb(s, dir).where(col("vec_id") % 31 === 7), nClusters = 16,
        lloydIterations = 1, threshold = 0.35, targetCluster = 512)
        .where(col("kept"))
        .select(col("id").as("doc_id"))
      d.join(lm.hint("shuffle_hash"), "doc_id")
        .join(sem.hint("shuffle_hash"), "doc_id")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("sum_tokens"))
        .orderBy("source")
    }),

    // t20's filtered-first composition on the same witness slice:
    // quantile keep-threshold from the slice's own deterministic
    // sample, semantic dedup ONLY on the surviving embeddings — every
    // conditioning effect (centroids, memberships, verdicts all
    // downstream of the filter) preserved on the slice.
    "t23_curation_filtered_witness" -> ((s, dir) => {
      val d = docs(s, dir).where(col("doc_id") % 31 === 7)
      val scored = Dedup.swapCached(sliceScoredVerdict,
        LanguageModel.unigramSurprisal(d)
          .select(col("doc_id"), col("n_tokens"),
            col("mean_surprisal")))
      val thr = LanguageModel.surprisalKeepThreshold(scored)
      val lm = scored
        .crossJoin(broadcast(thr))
        .where(col("mean_surprisal") <= col("ms_thr"))
        .select(col("doc_id"), col("n_tokens"))
      val keptEmb = emb(s, dir).where(col("vec_id") % 31 === 7)
        .join(lm.select(col("doc_id").as("vec_id"))
          .hint("shuffle_hash"), "vec_id")
      val sem = Dedup.semanticDedup(keptEmb, nClusters = 16,
        lloydIterations = 1, threshold = 0.35, targetCluster = 512)
        .where(col("kept"))
        .select(col("id").as("doc_id"))
      d.join(lm.hint("shuffle_hash"), "doc_id")
        .join(sem.hint("shuffle_hash"), "doc_id")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("sum_tokens"))
        .orderBy("source")
    }),

    // Perplexity-proxy filtering: per-doc mean unigram surprisal over
    // the corpus MLE (the CCNet filter shape with the KenLM model
    // swapped for the unigram estimate). Full oracle: frequency table,
    // exact token total, and the DECIMAL surprisal sum restated.
    "t18_surprisal" -> ((s, dir) => {
      LanguageModel.unigramSurprisal(docs(s, dir))
        .orderBy("doc_id")
    }),

    // Higher-order LM filter: per-doc mean bigram surprisal under
    // Stupid Backoff, model estimated on the doc_id%3==1 training
    // slice and scored over the WHOLE corpus — the backoff path is
    // live (unseen bigrams/terms exist by construction). Full
    // oracle: both stats tables, the add-one base, and the DECIMAL
    // surprisal sum restated.
    "t26_bigram_surprisal" -> ((s, dir) => {
      LanguageModel.bigramSurprisal(docs(s, dir))
        .orderBy("doc_id")
    }),

    // The published-order form of the LM filter: per-doc mean TRIGRAM
    // surprisal under Stupid Backoff (the order Brants et al. 2007's
    // distributed setups run), same train-slice/score-all split so
    // all three backoff arms are live. Full oracle: trigram, bigram
    // and unigram stats tables, both alpha arms, the add-one base,
    // and the DECIMAL per-instance sum restated.
    "t31_trigram_surprisal" -> ((s, dir) => {
      LanguageModel.trigramSurprisal(docs(s, dir))
        .orderBy("doc_id")
    }),

    // Moore–Lewis cross-entropy difference selection (ACL 2010; the
    // CCNet ranking form): per-doc surprisal under an IN-DOMAIN
    // Stupid-Backoff bigram LM (trained on the curated src0/src1
    // slice) minus surprisal under the GENERAL LM (the doc_id%3==1
    // raw-pool sample) — lower = more in-domain. Full oracle: both
    // models restated from one parametrized CTE chain, joined.
    "t32_ce_diff" -> ((s, dir) => {
      LanguageModel.crossEntropyDiff(docs(s, dir),
        col("source").isin("src0", "src1"))
        .orderBy("doc_id")
    }),

    // DSIR hashed-ngram importance weights (NeurIPS 2023): bucket
    // multinomials of the curated-target and raw-sample slices over
    // portable-hashed uni+bigram features, per-doc log importance
    // ratio with DECIMAL exact summation. Full oracle: the hash, both
    // bucket tables, the add-one smoothing and the ratio sum restated.
    "t33_dsir_weights" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      Importance.dsirLogWeights(docs(s, dir),
        col("source").isin("src0", "src1"))
        .orderBy("doc_id")
    }),

    // The DSIR resample itself: Gumbel-top-k over t33's weights —
    // proportional-without-replacement selection of the 100 best
    // docs, with the Gumbel noise a deterministic portable-LCG
    // function of the doc id. Full oracle: t33's chain wrapped as the
    // weight source, the LCG/Gumbel key restated, ranked by the
    // rounded key with doc_id tie-break.
    "t35_dsir_resample" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      Importance.dsirResample(docs(s, dir),
        col("source").isin("src0", "src1"), k = 100)
    }),

    // fastText-shape linear quality classifier (Joulin et al., EACL
    // 2017 shape; closed-form NB log-count-ratio weights per Wang &
    // Manning, ACL 2012 — the CCNet/GPT-3 curated-vs-crawl quality
    // filter): positive = the curated src0/src1 slice, negative = the
    // deterministic id%3==1 raw sample MINUS positives (disjoint
    // labels); hashed uni+bigram bucket features (the t33 DSIR
    // machinery), add-one smoothed per-bucket log-odds plus the
    // add-one document-count prior; keep = score > 0. Full oracle:
    // the hash, both bucket tables, the prior, and the DECIMAL score
    // sum restated.
    "t37_quality_classifier" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      QualityFilter.nbQualityScores(docs(s, dir),
        col("source").isin("src0", "src1"))
        .orderBy("doc_id")
    }),

    // t37 trained AND scored on the deterministic id%31 slice — the
    // 1000x-tractable witness form (the t28/t30 pattern: the whole
    // operator, including training, runs on the slice).
    "t38_quality_witness" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      QualityFilter.nbQualityScores(
        docs(s, dir).where(col("doc_id") % 31 === 7),
        col("source").isin("src0", "src1"))
        .orderBy("doc_id")
    }),

    // The FULL Gopher repetition table (Rae et al. 2021, App. A1.1),
    // word-n-gram half: top-{2,3,4}-gram char fractions and
    // duplicated-{5..10}-gram char COVERAGE (token-granular interval
    // union, not the multiplicity upper bound), from the fused
    // one-pass kernel ([[graft.functions.TextGopher]]) — a narrow
    // no-shuffle projection at any corpus size. All signals are
    // integer numerators over n_token_chars; the published keep
    // thresholds (0.20/0.18/0.16 top, 0.15..0.10 dup) apply by
    // cross-multiplication so no float crosses the engine boundary.
    "t39_gopher_repetition" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val rp = graft.functions.GraftFunctions
        .textGopherRepetition(col("text"))
      val ntc = col("rp.n_token_chars")
      docs(s, dir)
        .withColumn("rp", rp)
        .select(Seq(col("doc_id"),
          col("rp.n_tokens").as("n_tokens"),
          ntc.as("n_token_chars")) ++
          Seq(2, 3, 4).map(n =>
            col(s"rp.top${n}_chars").as(s"top${n}_chars")) ++
          Seq(5, 6, 7, 8, 9, 10).map(n =>
            col(s"rp.dup${n}_chars").as(s"dup${n}_chars")) :+
          gopherRepKeep(col("rp")).as("keep"): _*)
        .orderBy("doc_id")
    }),

    // The Gopher QUALITY-rule half (Rae et al. 2021, App. A1.1 —
    // t39 carries the repetition half): per-doc integer counters
    // (word count/chars, letter-bearing words, '#'/ellipsis symbol
    // counts, raw-line bullet/ellipsis format counts, must-occur
    // stopword hits) and the published keep verdict with every
    // ratio threshold cross-multiplied to integer comparisons. A
    // narrow no-shuffle projection at any corpus size.
    "t40_gopher_quality" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val st = TextAnalysis.gopherQualityStats(col("text"))
      docs(s, dir)
        .withColumn("st", st)
        .select(col("doc_id") +:
          (Seq("n_words", "n_word_chars", "alpha_words", "hash_cnt",
            "ellipsis_cnt", "n_lines", "bullet_lines",
            "ellipsis_lines", "stop_hits")
            .map(f => col(s"st.$f").as(f)) :+
            TextAnalysis.gopherQualityKeep(col("st")).as("keep")): _*)
        .orderBy("doc_id")
    }),

    // The COMPOSED full Gopher filter: the published document filter
    // is the CONJUNCTION of the repetition table (t39) and the
    // quality rules (t40). Both kernels evaluate in ONE narrow
    // projection pass — no join, no shuffle; the oracle re-derives
    // each half independently and joins.
    "t41_gopher_full" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val rp = graft.functions.GraftFunctions
        .textGopherRepetition(col("text"))
      val st = TextAnalysis.gopherQualityStats(col("text"))
      docs(s, dir)
        .withColumn("rp", rp).withColumn("st", st)
        .select(col("doc_id"),
          gopherRepKeep(col("rp")).as("keep_repetition"),
          TextAnalysis.gopherQualityKeep(col("st"))
            .as("keep_quality"),
          (gopherRepKeep(col("rp")) &&
            TextAnalysis.gopherQualityKeep(col("st"))).as("keep"))
        .orderBy("doc_id")
    }),

    // Winnowing fingerprint selection (Schleimer et al., SIGMOD
    // 2003): per document, the rightmost-minimum 20-gram wide key of
    // every 8-hash window — the MOSS index shape, ~2/(w+1) of d11's
    // gram instances with the t>=27-char shared-substring guarantee.
    // Full oracle: the d11 gram/hash derivation with positions, a
    // w-frame window min per start, rightmost-tie argmax join, and
    // the distinct (pos, fp) collapse.
    "t34_winnow_fingerprints" -> ((s, dir) => {
      Dedup.winnowFingerprints(docs(s, dir), gramChars = 20,
        window = 8)
        .orderBy("doc_id", "pos")
    }),

    // t34's pipeline on the id%31 slice, collapsed to order-free
    // witness aggregates (the d24 pattern): the 1000x-tractable
    // oracle form for the winnowing family — the full t34 oracle's
    // per-window rightmost-tie join is corpus-sized, while the slice
    // restates the SAME gram→window→fingerprint pipeline end-to-end.
    // The checksums key fingerprints by (doc, pos) and by hash value,
    // pinning the exact per-doc fingerprint multiset.
    "t36_winnow_witness" -> ((s, dir) => {
      Dedup.winnowFingerprints(
        docs(s, dir).where(col("doc_id") % 31 === 7),
        gramChars = 20, window = 8)
        .agg(
          count(lit(1)).as("n_fps"),
          coalesce(sum((col("doc_id") * 1000003L + col("pos"))
            % 1000000007L), lit(0L)).as("pos_checksum"),
          coalesce(sum(col("fp") % 1000000007L), lit(0L))
            .as("fp_checksum"))
    }),

    // BM25 top-k retrieval for a fixed probe-term bag (decontamination
    // sweeps / corpus audits as scored lookup). Full oracle: the
    // expression tree restates term-by-term; exact-integer avgdl and
    // exactly-representable k1/b constants keep scores bit-identical.
    "t17_bm25" -> ((s, dir) => {
      Retrieval.bm25TopK(docs(s, dir),
        terms = Seq("spark", "vector", "customer", "merge"), k = 20)
    }),

    // BM25 through the persisted-corpus-stats path (buildStats →
    // score): the production retrieval shape — the vocabulary-sized
    // (term, df, n_docs, avgdl) snapshot is computed once per corpus
    // and serves every probe set. Gate contract: hash-equal to t17 on
    // the same probes (same tf derivation, same score expression
    // tree), so the oracle IS t17's oracle.
    "t21_bm25_persisted" -> ((s, dir) => {
      val d = docs(s, dir)
      Retrieval.bm25TopKWithStats(d, Retrieval.bm25BuildStats(d),
        terms = Seq("spark", "vector", "customer", "merge"), k = 20)
    }),

    // BPE vocabulary training (Sennrich et al. 2016): 12 merge rounds
    // over the word-frequency dictionary, minFreq=2 so hapax words
    // don't steer late merges. Full oracle: the 12 rounds unroll as
    // CTE triples (pair count -> argmax -> literal-replace rewrite),
    // each step restating the exact double-space-delimited string
    // algebra the Spark side runs.
    "t24_bpe_merges" -> ((s, dir) => {
      Bpe.bpeMerges(docs(s, dir), rounds = 12, minFreq = 2)
        .orderBy("step")
    }),

    // The trained vocabulary applied: per-document BPE token counts
    // under the t24 merge table (dictionary-join segmentation with
    // the on-the-fly fallback for sub-minFreq words — the fallback
    // path is ACTIVE here because minFreq=2 leaves hapax instances
    // out of the dictionary).
    // The tokenizer OUTPUT stage: ordered token-id sequences under
    // the trained vocabulary (distinct final dictionary symbols,
    // lexicographic rank; OOV symbols -1). token_ids is the
    // space-joined id string — flat and hashable. Full oracle: the
    // unrolled merge rounds, the vocabulary rank, and the ordered
    // per-instance reassembly restated.
    "t27_bpe_encode" -> ((s, dir) => {
      Bpe.bpeEncode(docs(s, dir), rounds = 12, minFreq = 2)
        .orderBy("doc_id")
    }),

    // t27 on the deterministic id%31 slice — the 1000x-tractable
    // witness form (training AND encoding run on the slice, so the
    // whole operator is exercised end-to-end at the sliced corpus).
    "t28_bpe_encode_witness" -> ((s, dir) => {
      Bpe.bpeEncode(docs(s, dir).where(col("doc_id") % 31 === 3),
        rounds = 12, minFreq = 2)
        .orderBy("doc_id")
    }),

    // Byte-level BPE encoding — the GPT-2 production shape (Radford
    // et al. 2019): regex pre-tokenizer over RAW text, seed symbols =
    // UTF-8 bytes (hex-rendered), CLOSED 256+merges vocabulary so
    // every string encodes with no UNK path. minFreq=2 keeps
    // sub-threshold pre-tokens out of TRAINING only (they still
    // encode, over-fragmented). Full oracle: the pre-tokenizer, the
    // hex byte seeds, all 12 merge rounds, the closed id table
    // (byte value / 256+merge-index, min-id on duplicate products),
    // and the ordered reassembly restated.
    "t29_byte_bpe_encode" -> ((s, dir) => {
      Bpe.bpeEncodeBytes(docs(s, dir), rounds = 12, minFreq = 2)
        .orderBy("doc_id")
    }),

    // t29 on the deterministic id%31 slice — the 1000x-tractable
    // witness form (training AND encoding on the slice; the t28
    // pattern).
    "t30_byte_bpe_witness" -> ((s, dir) => {
      Bpe.bpeEncodeBytes(docs(s, dir).where(col("doc_id") % 31 === 3),
        rounds = 12, minFreq = 2)
        .orderBy("doc_id")
    }),

    "t25_bpe_token_counts" -> ((s, dir) => {
      Bpe.bpeTokenCounts(docs(s, dir), rounds = 12, minFreq = 2)
        .orderBy("doc_id")
    }),

    // Heavy hitters: corpus-wide top terms (explode + count + top-k —
    // the wordcount shape whose 100 TB variant swaps the exact count
    // for count_min_sketch; exact here so the oracle can hash-match).
    "t05_top_terms" -> ((s, dir) => {
      docs(s, dir)
        .select(explode(TextFunctions.tokens(col("text"))).as("term"))
        .where(length(col("term")) > 0)
        .groupBy("term")
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("term").asc)
        .limit(20)
    }),

    // Count-min-sketch heavy hitters: the sublinear-memory variant of
    // t05 — counters capped at depth x width however large the corpus;
    // output compares the exact count of the top-20 terms with the
    // sketch estimate (CMS guarantee: estimate >= truth).
    "t09_cms_heavy_hitters" -> ((s, dir) => {
      val terms = docs(s, dir)
        .select(explode(TextFunctions.tokens(col("text"))).as("term"))
        .where(length(col("term")) > 0)
      val counters = Sketches.cmsCounters(terms)
      val top = terms.groupBy("term").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("term").asc).limit(20)
      Sketches.cmsEstimate(counters, top.select("term"))
        .join(top, "term")
        .select(col("term"), col("cnt"), col("cms_estimate"))
        .orderBy(col("cnt").desc, col("term").asc)
    }),

    // HyperLogLog register table over the corpus vocabulary: the
    // bounded-state (2^p rows) distinct-count sketch; registers are
    // exact integers so the sketch STATE hash-gates, and the estimate
    // derived from it is asserted against the true vocabulary size in
    // SketchesSpec.
    "t10_hll_registers" -> ((s, dir) => {
      val terms = docs(s, dir)
        .select(explode(TextFunctions.tokens(col("text"))).as("term"))
        .where(length(col("term")) > 0)
      Sketches.hllRegisters(terms, p = 8)
        .orderBy("bucket")
    }),

    // Sequence packing: chunks fill fixed 512-token bins per source
    // shard (contiguous-fill prefix-sum assignment; bins never span
    // shards, so packing parallelizes across the corpus).
    "t08_packing" -> ((s, dir) => {
      val chunks = Chunking.chunk(docs(s, dir), chunkTokens = 64,
        overlapTokens = 8)
        .withColumnRenamed("id", "doc_id")
        .join(docs(s, dir).select(col("doc_id"), col("source")),
          "doc_id")
      Chunking.pack(chunks, "source", Seq("doc_id", "chunk_idx"),
        budget = 512)
        .groupBy(col("source"), col("bin_id"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(col("chunk_tokens")).as("bin_tokens"))
        .orderBy("source", "bin_id")
    }),

    // PII scrubbing: synthetic emails/IPs injected deterministically,
    // counted and redacted by RE2-compatible regex projections; the
    // scrubbed text is fingerprinted so redaction itself is gated.
    "t11_pii_scrub" -> ((s, dir) => {
      val dirty = docs(s, dir).withColumn("text2",
        when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" contact user"), col("doc_id"),
            lit("@example.com now")))
          .when(col("doc_id") % 11 === 0,
            concat(col("text"), lit(" from 10.1.2."),
              col("doc_id") % 256))
          .otherwise(col("text")))
      dirty.select(
        col("doc_id"),
        Scrub.emailCount(col("text2")).as("n_email"),
        Scrub.ipCount(col("text2")).as("n_ip"),
        md5(Scrub.scrub(col("text2"))).as("scrubbed_md5"))
        .orderBy("doc_id")
    }),

    // Benchmark contamination: fraction of each doc's 8-gram shingles
    // present in the "benchmark" set (docs with id < 50) — the
    // decontamination overlap check.
    "t12_contamination" -> ((s, dir) => {
      val d = docs(s, dir)
      Contamination.overlapRatios(d, d.where(col("doc_id") < 50))
        .orderBy("doc_id")
    }),

    // Deterministic stratified capping: at most N docs per source,
    // selected by content-hash order — the reproducible domain-cap
    // sampling step of corpus curation (hash order, not random, so
    // any engine replays the same sample).
    "t07_stratified_cap" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("source"))
        .orderBy(md5(col("text")).asc, col("doc_id").asc)
      docs(s, dir)
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 15)
        .select(col("source"), col("doc_id"), col("rn"))
        .orderBy("source", "rn")
    }),

    // Multimodal plumbing: binary payload + typed metadata (oracle on
    // the portable parts: byte length + sha256).
    "mm01_media_meta" -> ((s, dir) => {
      docs(s, dir)
        .withColumn("payload", encode(col("text"), "UTF-8"))
        .select(
          col("doc_id").as("media_id"),
          octet_length(col("payload")).cast("long").as("n_bytes"),
          sha2(col("payload"), 256).as("sha"))
        .orderBy("media_id")
    }),

    // Multimodal batched decode — REAL codec. Each doc becomes a real
    // 8-bit grayscale PNG (dims and pixels derived from media_id, so
    // the oracle knows the source raster without decoding anything),
    // encoded AND decoded by javax.imageio inside mapPartitions tasks.
    // PNG is lossless, so the decoded pixel stats gate the whole
    // encode→binary-column→decode round trip exactly.
    "mm02_media_features" -> ((s, dir) => {
      import s.implicits._
      // The codec stage is CPU-bound per row, and the fixture file is
      // a single parquet split — spread the id stream across cores
      // before mapPartitions (the production analogue is
      // Multimodal.repartitionByBytes on real media rows; here only
      // longs shuffle).
      val ids = docs(s, dir).select(col("doc_id")).as[Long]
        .repartition(s.sparkContext.defaultParallelism)
      val media = ids.mapPartitions { it =>
        it.map { id =>
          val w = (8 + id % 9).toInt
          val h = (8 + (id / 9) % 9).toInt
          val px = Array.tabulate(w * h)(i =>
            ((id * 31 + i * 7) % 256).toByte)
          val payload = Multimodal.ImageCodec.encodePng(w, h, px)
          Multimodal.MediaRow(id, payload, Multimodal.MediaMeta(
            "image", payload.length.toLong, "", w, h))
        }
      }
      Multimodal.decodeImageFeatures(media)
        .select(col("media_id"), col("width"), col("height"),
          round(col("px_sum").cast("double")
            / (col("width") * col("height")), 6).as("mean_px"),
          col("px_min"), col("px_max"), col("px_hash"))
        .orderBy("media_id")
    }),

    // REAL frame sampling: each doc becomes an uncompressed-DIB AVI
    // (mm04's source formula), and sampleFrames extracts every 2nd
    // frame's RAW chunk bytes at the AviCodec.parse offsets — no
    // pixel decode. The witness is the chunk length plus a base-31
    // rolling hash over the chunk BYTES; the oracle reconstructs the
    // exact DIB layout (bottom-up rows, 4-byte stride padding) from
    // the source formula. The byte-slice fallback for unparseable
    // payloads stays spec-covered in MultimodalSpec.
    "mm03_frame_sample" -> ((s, dir) => {
      import s.implicits._
      // The codec stage is CPU-bound per row (see mm02 note).
      val ids = docs(s, dir).select(col("doc_id")).as[Long]
        .repartition(s.sparkContext.defaultParallelism)
      val media = ids.mapPartitions { it =>
        it.map { id =>
          val w = (8 + id % 7).toInt
          val h = (8 + (id / 7) % 5).toInt
          val n = (2 + id % 4).toInt
          val frames = Seq.tabulate(n) { f =>
            Array.tabulate[Byte](w * h)(i =>
              ((id * 31 + f * 97 + i * 7) % 256).toByte)
          }
          val payload =
            MediaCodecs.AviCodec.encodeDib(w, h, 10, frames)
          Multimodal.MediaRow(id, payload, Multimodal.MediaMeta(
            "video", payload.length.toLong, "", w, h))
        }
      }
      Multimodal.sampleFrames(media, stride = 2)
        .as[(Long, Int, Array[Byte])]
        .map { case (id, fi, b) =>
          var hsh = 0L
          var i = 0
          while (i < b.length) {
            hsh = (hsh * 31 + (b(i) & 0xFF)) % 1000000007L
            i += 1
          }
          (id, fi, b.length.toLong, hsh)
        }
        .toDF("media_id", "frame_idx", "frame_len", "frame_hash")
        .orderBy("media_id", "frame_idx")
    }),

    // REAL video decode: each doc becomes an uncompressed-DIB AVI
    // (dims, frame count, and pixels all functions of media_id, so
    // the oracle knows every source raster), encoded into a standard
    // RIFF container and decoded back by the AviCodec parser inside
    // mapPartitions tasks. DIB is lossless, so the per-sampled-frame
    // pixel stats gate the full container round trip exactly.
    "mm04_video_decode" -> ((s, dir) => {
      import s.implicits._
      // The codec stage is CPU-bound per row, and the fixture file is
      // a single parquet split — spread the id stream across cores
      // before mapPartitions (the production analogue is
      // Multimodal.repartitionByBytes on real media rows; here only
      // longs shuffle).
      val ids = docs(s, dir).select(col("doc_id")).as[Long]
        .repartition(s.sparkContext.defaultParallelism)
      val media = ids.mapPartitions { it =>
        it.map { id =>
          val w = (8 + id % 7).toInt
          val h = (8 + (id / 7) % 5).toInt
          val n = (2 + id % 4).toInt
          val frames = Seq.tabulate(n) { f =>
            Array.tabulate[Byte](w * h)(i =>
              ((id * 31 + f * 97 + i * 7) % 256).toByte)
          }
          val payload =
            MediaCodecs.AviCodec.encodeDib(w, h, 10, frames)
          Multimodal.MediaRow(id, payload, Multimodal.MediaMeta(
            "video", payload.length.toLong, "", w, h))
        }
      }
      Multimodal.decodeVideoFrameFeatures(media, stride = 2)
        .select(col("media_id"), col("frame_idx"), col("width"),
          col("height"),
          round(col("px_sum").cast("double")
            / (col("width") * col("height")), 6).as("mean_px"),
          col("px_min"), col("px_max"), col("px_hash"))
        .orderBy("media_id", "frame_idx")
    }),

    // REAL audio decode: each doc becomes a 16-bit PCM mono WAV
    // (sample count and values functions of media_id), decoded back
    // through javax.sound.sampled. PCM is lossless: amplitude stats
    // gate the encode->binary-column->decode round trip exactly.
    "mm05_audio_decode" -> ((s, dir) => {
      import s.implicits._
      // The codec stage is CPU-bound per row, and the fixture file is
      // a single parquet split — spread the id stream across cores
      // before mapPartitions (the production analogue is
      // Multimodal.repartitionByBytes on real media rows; here only
      // longs shuffle).
      val ids = docs(s, dir).select(col("doc_id")).as[Long]
        .repartition(s.sparkContext.defaultParallelism)
      val media = ids.mapPartitions { it =>
        it.map { id =>
          val n = (64 + id % 64).toInt
          val samples = Array.tabulate[Short](n)(k =>
            ((id * 13 + k * 31) % 4096 - 2048).toShort)
          val payload = MediaCodecs.WavCodec.encodePcm16(8000,
            samples)
          Multimodal.MediaRow(id, payload, Multimodal.MediaMeta(
            "audio", payload.length.toLong, "", 0, 0))
        }
      }
      Multimodal.decodeAudioFeatures(media)
        .select(col("media_id"), col("sample_rate"),
          col("n_samples"), col("amp_min"), col("amp_max"),
          col("amp_sum"), col("amp_hash"))
        .orderBy("media_id")
    }),

    // REAL image resize: same PNG generation as mm02, decoded and
    // nearest-neighbor downsampled to 8x8; the oracle recomputes
    // every resized pixel from the source formula via the integer
    // index mapping — gating decode + resize together.
    "mm06_image_resize" -> ((s, dir) => {
      import s.implicits._
      // The codec stage is CPU-bound per row, and the fixture file is
      // a single parquet split — spread the id stream across cores
      // before mapPartitions (the production analogue is
      // Multimodal.repartitionByBytes on real media rows; here only
      // longs shuffle).
      val ids = docs(s, dir).select(col("doc_id")).as[Long]
        .repartition(s.sparkContext.defaultParallelism)
      val media = ids.mapPartitions { it =>
        it.map { id =>
          val w = (8 + id % 9).toInt
          val h = (8 + (id / 9) % 9).toInt
          val px = Array.tabulate(w * h)(i =>
            ((id * 31 + i * 7) % 256).toByte)
          val payload = Multimodal.ImageCodec.encodePng(w, h, px)
          Multimodal.MediaRow(id, payload, Multimodal.MediaMeta(
            "image", payload.length.toLong, "", w, h))
        }
      }
      Multimodal.resizeImageFeatures(media, dstW = 8, dstH = 8)
        .select(col("media_id"), col("width"), col("height"),
          round(col("px_sum").cast("double")
            / (col("width") * col("height")), 6).as("mean_px"),
          col("px_min"), col("px_max"), col("px_hash"))
        .orderBy("media_id")
    }),

    // REAL audio feature extraction: same WAV generation as mm05;
    // per non-overlapping 32-sample window, energy / peak / content
    // hash. flatMap 1->N; trailing partial window dropped.
    "mm07_audio_windows" -> ((s, dir) => {
      import s.implicits._
      // The codec stage is CPU-bound per row, and the fixture file is
      // a single parquet split — spread the id stream across cores
      // before mapPartitions (the production analogue is
      // Multimodal.repartitionByBytes on real media rows; here only
      // longs shuffle).
      val ids = docs(s, dir).select(col("doc_id")).as[Long]
        .repartition(s.sparkContext.defaultParallelism)
      val media = ids.mapPartitions { it =>
        it.map { id =>
          val n = (64 + id % 64).toInt
          val samples = Array.tabulate[Short](n)(k =>
            ((id * 13 + k * 31) % 4096 - 2048).toShort)
          val payload = MediaCodecs.WavCodec.encodePcm16(8000,
            samples)
          Multimodal.MediaRow(id, payload, Multimodal.MediaMeta(
            "audio", payload.length.toLong, "", 0, 0))
        }
      }
      Multimodal.audioWindowFeatures(media, window = 32)
        .select(col("media_id"), col("win_idx"), col("energy"),
          col("peak"), col("win_hash"))
        .orderBy("media_id", "win_idx")
    }),

    // Perceptual (dHash) image dedup: content seeded by doc_id % 97
    // so exact duplicate groups exist; decode -> resize -> 56-bit
    // difference hash -> exact-dup grouping (keep_id = min media_id).
    // The oracle recomputes every hash bit from the source formula
    // through the same resize index mapping.
    "mm08_image_dhash" -> ((s, dir) => {
      import s.implicits._
      // The codec stage is CPU-bound per row (see mm02 note).
      val ids = docs(s, dir).select(col("doc_id")).as[Long]
        .repartition(s.sparkContext.defaultParallelism)
      val media = ids.mapPartitions { it =>
        it.map { id =>
          val seed = id % 97
          val w = (8 + seed % 9).toInt
          val h = (8 + (seed / 9) % 9).toInt
          val px = Array.tabulate(w * h)(i =>
            ((seed * 31 + i * 7) % 256).toByte)
          val payload = Multimodal.ImageCodec.encodePng(w, h, px)
          Multimodal.MediaRow(id, payload, Multimodal.MediaMeta(
            "image", payload.length.toLong, "", w, h))
        }
      }
      val hashes = Multimodal.imageDHash(media, size = 8)
      val groups = hashes.groupBy("dhash").agg(
        min(col("media_id")).as("keep_id"),
        count(lit(1)).as("grp_size"))
      hashes.join(groups.hint("shuffle_hash"), "dhash")
        .select(col("media_id"), col("dhash"), col("keep_id"),
          col("grp_size"))
        .orderBy("media_id")
    }),

    // Perceptual audio-fingerprint dedup: content seeded by
    // doc_id % 89 so duplicate groups exist; decode -> windowed
    // energies -> delta-sign bits -> exact-dup grouping. The oracle
    // recomputes each window energy from the sample formula.
    "mm09_audio_fingerprint" -> ((s, dir) => {
      import s.implicits._
      // The codec stage is CPU-bound per row (see mm02 note).
      val ids = docs(s, dir).select(col("doc_id")).as[Long]
        .repartition(s.sparkContext.defaultParallelism)
      val media = ids.mapPartitions { it =>
        it.map { id =>
          val seed = id % 89
          val n = (64 + seed % 64).toInt
          val samples = Array.tabulate[Short](n)(k =>
            ((seed * 13 + k * 31) % 4096 - 2048).toShort)
          val payload = MediaCodecs.WavCodec.encodePcm16(8000,
            samples)
          Multimodal.MediaRow(id, payload, Multimodal.MediaMeta(
            "audio", payload.length.toLong, "", 0, 0))
        }
      }
      val fps = Multimodal.audioFingerprint(media, window = 16)
      val groups = fps.groupBy("fp", "n_windows").agg(
        min(col("media_id")).as("keep_id"),
        count(lit(1)).as("grp_size"))
      fps.join(groups.hint("shuffle_hash"), Seq("fp", "n_windows"))
        .select(col("media_id"), col("fp"), col("n_windows"),
          col("keep_id"), col("grp_size"))
        .orderBy("media_id")
    }),

    // Perceptual video near-dup: content seeded by doc_id % 53 so
    // duplicate groups exist; parse -> stride-2 frame sampling ->
    // per-frame dHash -> order-sensitive rolling fold -> grouping.
    // The oracle recomputes every frame's hash bits from the source
    // formula through the resize mapping, then the same fold.
    "mm10_video_signature" -> ((s, dir) => {
      import s.implicits._
      // The codec stage is CPU-bound per row (see mm02 note).
      val ids = docs(s, dir).select(col("doc_id")).as[Long]
        .repartition(s.sparkContext.defaultParallelism)
      val media = ids.mapPartitions { it =>
        it.map { id =>
          val seed = id % 53
          val w = (8 + seed % 7).toInt
          val h = (8 + (seed / 7) % 5).toInt
          val n = (2 + seed % 4).toInt
          val frames = Seq.tabulate(n) { f =>
            Array.tabulate[Byte](w * h)(i =>
              ((seed * 31 + f * 97 + i * 7) % 256).toByte)
          }
          val payload =
            MediaCodecs.AviCodec.encodeDib(w, h, 10, frames)
          Multimodal.MediaRow(id, payload, Multimodal.MediaMeta(
            "video", payload.length.toLong, "", w, h))
        }
      }
      val sigs = Multimodal.videoSignature(media, stride = 2)
      val groups = sigs.groupBy("sig", "n_frames").agg(
        min(col("media_id")).as("keep_id"),
        count(lit(1)).as("grp_size"))
      sigs.join(groups.hint("shuffle_hash"), Seq("sig", "n_frames"))
        .select(col("media_id"), col("sig"), col("n_frames"),
          col("n_sampled"), col("keep_id"), col("grp_size"))
        .orderBy("media_id")
    }),

    // Embedding featurize — REAL content path: decode the PNG (mm02's
    // source formula) and project the DECODED pixels through the
    // fixed ±1 matrix. Output dims are integer dot products; the
    // oracle recomputes every one from the source-pixel formula with
    // the same sign literals baked into the SQL.
    "mm11_featurize" -> ((s, dir) => {
      import s.implicits._
      // The codec stage is CPU-bound per row (see mm02 note).
      val ids = docs(s, dir).select(col("doc_id")).as[Long]
        .repartition(s.sparkContext.defaultParallelism)
      val media = ids.mapPartitions { it =>
        it.map { id =>
          val w = (8 + id % 9).toInt
          val h = (8 + (id / 9) % 9).toInt
          val px = Array.tabulate(w * h)(i =>
            ((id * 31 + i * 7) % 256).toByte)
          val payload = Multimodal.ImageCodec.encodePng(w, h, px)
          Multimodal.MediaRow(id, payload, Multimodal.MediaMeta(
            "image", payload.length.toLong, "", w, h))
        }
      }
      Multimodal.decodeFeatures(media, d = 8)
        .select(col("media_id") +: (0 until 8).map(j =>
          element_at(col("features"), j + 1).cast("long")
            .as(s"f$j")): _*)
        .orderBy("media_id")
    }),

    // The featurized vectors drive the ANN stack unchanged: exact
    // brute-force cosine top-k (s01's operator) over the projected
    // image vectors. Gates decode -> featurize -> index end-to-end:
    // the cosine math runs on integer-valued doubles, so the oracle
    // restates it exactly with list_cosine_similarity.
    "s08_featurized_ann" -> ((s, dir) => {
      import s.implicits._
      // The codec stage is CPU-bound per row (see mm02 note).
      val ids = docs(s, dir).select(col("doc_id")).as[Long]
        .repartition(s.sparkContext.defaultParallelism)
      val media = ids.mapPartitions { it =>
        it.map { id =>
          val w = (8 + id % 9).toInt
          val h = (8 + (id / 9) % 9).toInt
          val px = Array.tabulate(w * h)(i =>
            ((id * 31 + i * 7) % 256).toByte)
          val payload = Multimodal.ImageCodec.encodePng(w, h, px)
          Multimodal.MediaRow(id, payload, Multimodal.MediaMeta(
            "image", payload.length.toLong, "", w, h))
        }
      }
      val feats = Multimodal.decodeFeatures(media, d = 8)
      val corpus = feats.select(col("media_id").as("id"),
        col("features").cast("array<double>").as("vec"))
      // Probe set BOUNDED by id, not only by rate: a pure `% 100`
      // probe rate scales with the corpus, turning the brute-force
      // baseline |corpus| x |probes| quadratic in fixture size (the
      // unbounded form OOM-killed the 100x stress run). The id cap
      // admits every probe at the gate SFs (ids < 5e4 there) and pins
      // |probes| = 500 on every larger fixture, so the bench measures
      // the operator at CONSTANT probe work across the 10x/100x
      // frontier (the former 1e5 cap doubled the probe count between
      // those fixtures and the slope conflated probe growth with
      // scale). Brute force stays the linear-per-probe exhaustive
      // baseline; the scale path for corpus-sized probe sets is the
      // LSH/IVF family.
      val qs = corpus.where(col("id") % 100 === 0 &&
          col("id") < 50000L)
        .select(col("id").as("qid"), col("vec").as("qvec"))
      Similarity.bruteForceTopK(corpus, qs, k = 5)
        .withColumn("cosine", round(col("cosine"), 6))
        .orderBy("qid", "rank")
    }))

  /** DuckDB restatement of the base-31 mod-1e9+7 polynomial hash of
    * every string in list expression `src` (mirrors
    * [[graft.functions.PolyHash.hashString]]). */
  private def polyHashListSql(src: String): String =
    s"""[list_reduce(list_prepend(0::BIGINT,
       [ascii(c)::BIGINT FOR c IN string_split(g, '')]),
       (a, c) -> (a*31 + c) % 1000000007) FOR g IN $src]"""

  /** DuckDB restatement of the WIDE gram key (mirrors
    * [[graft.functions.PolyHash.shingleHashesWideAll]]): two
    * independent polynomial families — base 31 mod 1e9+7 and base 131
    * mod 1e9+9 — packed injectively as `h1 * 1000000009 + h2` (max
    * ~1e18, inside BIGINT). The trillion-gram-safe d11 key. */
  private def polyHashWideListSql(src: String): String =
    s"""[list_reduce(list_prepend(0::BIGINT,
       [ascii(c)::BIGINT FOR c IN string_split(g, '')]),
       (a, c) -> (a*31 + c) % 1000000007) * 1000000009
     + list_reduce(list_prepend(0::BIGINT,
       [ascii(c)::BIGINT FOR c IN string_split(g, '')]),
       (a, c) -> (a*131 + c) % 1000000009) FOR g IN $src]"""

  /** Parametrized restatement of [[graft.llm.Dedup.winnowFingerprints]]
    * (t34/t36): positioned wide gram hashes, an 8-frame window min per
    * start (full windows plus the single short-doc window at s=1),
    * rightmost-tie selection via max(pos) among in-window minima, and
    * the DISTINCT (pos, fp) collapse — ending in
    * `fp(doc_id, pos, fp)`. `srcWhere` filters the documents source
    * (empty for the full corpus; the witness passes the id%31 slice). */
  private def winnowCtesSql(norm: String, srcWhere: String): String =
    s"""hx AS (
         SELECT doc_id AS id, ${polyHashWideListSql("grams")} AS hs
         FROM (
           SELECT doc_id,
             CASE WHEN len(t) < 20 THEN [t]
               ELSE [substr(t, i, 20)
                 FOR i IN range(1, len(t) - 18)] END AS grams
           FROM (SELECT doc_id, $norm AS t FROM documents
             $srcWhere))),
       h AS (SELECT id, u.pos AS pos, u.h AS h FROM (
         SELECT id, unnest([{'pos': i, 'h': hs[i]}
           FOR i IN range(1, len(hs) + 1)]) AS u FROM hx)),
       wm AS (SELECT id, pos AS s,
           min(h) OVER win AS m, count(*) OVER win AS cnt
         FROM h WINDOW win AS (PARTITION BY id ORDER BY pos
           ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING)),
       st AS (SELECT id, s, m FROM wm WHERE cnt = 8 OR s = 1),
       sel AS (SELECT st.id, st.s, max(p.pos) AS pos
         FROM st JOIN h p ON p.id = st.id AND p.pos >= st.s
           AND p.pos < st.s + 8 AND p.h = st.m
         GROUP BY st.id, st.s),
       fp AS (SELECT DISTINCT sel.id AS doc_id, sel.pos AS pos,
           p.h AS fp
         FROM sel JOIN h p ON p.id = sel.id AND p.pos = sel.pos)"""

  /** Parametrized restatement of
    * [[graft.llm.LanguageModel.bigramSurprisal]]: the t26 oracle's
    * CTE chain with the TRAINING-SLICE predicate a parameter and
    * every CTE name suffixed by `sfx`, ending in
    * `lm$sfx(doc_id, n_tokens, ms)` with the round-6 mean. t26
    * instantiates it once (modulus slice, empty suffix); t32
    * instantiates it TWICE in one query — the source-keyed in-domain
    * model and the id-modulus general model — and joins the two. */
  private def bigramMsCtesSql(norm: String, trainPred: String,
      sfx: String): String =
    s"""tkk$sfx AS (SELECT doc_id, is_train, tk FROM (
         SELECT doc_id, ($trainPred) AS is_train,
           list_filter(string_split($norm, ' '),
             t -> len(t) > 0) AS tk FROM documents)
         WHERE len(tk) > 0),
       uni$sfx AS (SELECT term, count(*)::BIGINT AS cnt FROM (
           SELECT unnest(tk) AS term FROM tkk$sfx WHERE is_train)
         GROUP BY term),
       tot$sfx AS (SELECT sum(cnt)::BIGINT AS n,
         count(*)::BIGINT AS v FROM uni$sfx),
       bfreq$sfx AS (SELECT prev, cur, count(*)::BIGINT AS cnt2
         FROM (SELECT b.prev AS prev, b.cur AS cur FROM (
           SELECT unnest([{'prev': tk[i], 'cur': tk[i+1]}
             FOR i IN range(1, len(tk))]) AS b
           FROM tkk$sfx WHERE is_train))
         GROUP BY prev, cur),
       fst$sfx AS (SELECT doc_id, 1::BIGINT AS k,
         -ln((coalesce(uni$sfx.cnt, 0) + 1)::DOUBLE
           / (n + v)::DOUBLE) AS s
         FROM (SELECT doc_id, tk[1] AS term FROM tkk$sfx) f
         LEFT JOIN uni$sfx ON uni$sfx.term = f.term
         CROSS JOIN tot$sfx),
       bg$sfx AS (SELECT doc_id, prev, cur, count(*)::BIGINT AS k
         FROM (SELECT doc_id, b.prev AS prev, b.cur AS cur FROM (
           SELECT doc_id,
             unnest([{'prev': tk[i], 'cur': tk[i+1]}
               FOR i IN range(1, len(tk))]) AS b FROM tkk$sfx))
         GROUP BY doc_id, prev, cur),
       rst$sfx AS (SELECT doc_id, k,
         CASE WHEN bfreq$sfx.cnt2 IS NOT NULL
           THEN -ln(bfreq$sfx.cnt2::DOUBLE / up.cnt::DOUBLE)
           ELSE -ln(0.4 * ((coalesce(uc.cnt, 0) + 1)::DOUBLE
             / (n + v)::DOUBLE)) END AS s
         FROM bg$sfx
         LEFT JOIN bfreq$sfx ON bfreq$sfx.prev = bg$sfx.prev
           AND bfreq$sfx.cur = bg$sfx.cur
         LEFT JOIN uni$sfx up ON up.term = bg$sfx.prev
         LEFT JOIN uni$sfx uc ON uc.term = bg$sfx.cur
         CROSS JOIN tot$sfx),
       lm$sfx AS (SELECT doc_id, sum(k)::BIGINT AS n_tokens,
         round(sum((k::DOUBLE * s)::DECIMAL(38,18))::DOUBLE
           / sum(k), 6) AS ms
         FROM (SELECT * FROM fst$sfx UNION ALL
           SELECT * FROM rst$sfx)
         GROUP BY doc_id)"""

  /** DuckDB restatement of [[graft.llm.Bpe]]'s merge loop: `rounds`
    * unrolled CTE triples (pair count → argmax → literal-replace
    * rewrite) over the word-frequency dictionary. `wN` is the
    * dictionary after N merges in the double-space-delimited symbol
    * form; `bN` is round N's winning pair under the (count DESC, lhs,
    * rhs) tie-break. Every `wN`/`bN` is referenced more than once, so
    * both are MATERIALIZED (a re-evaluated CTE would re-run the whole
    * prefix per reference). If training exhausts before `rounds`
    * (some `bN` empty), the scalar subqueries go NULL; the
    * `coalesce(..., chr(1))` keeps the round a WELL-DEFINED no-op
    * (pattern == replacement == chr(1)) instead of nulling the whole
    * dictionary and relying on NULL-propagation accidents. */
  private def bpeCtesSql(norm: String, rounds: Int,
      minFreq: Int, src: String = "documents"): String =
    s"""w0 AS MATERIALIZED (SELECT
        '  ' || regexp_replace(word, '(.)', '\\1  ', 'g')
          || '${Bpe.EndMark}  ' AS seq, freq
      FROM (SELECT word, count(*)::BIGINT AS freq FROM (
          SELECT unnest(list_filter(string_split($norm, ' '),
            t -> len(t) > 0)) AS word FROM $src)
        GROUP BY word HAVING count(*) >= $minFreq))""" +
      bpeRoundCtesSql(rounds)

  /** The shared pair-count/argmax/replace round-CTE loop of both BPE
    * oracles — identical algebra over char-level and byte-level
    * seeds; appended after a seeded `w0`. */
  private def bpeRoundCtesSql(rounds: Int): String = {
    val sb = new StringBuilder
    for (i <- 0 until rounds) {
      sb ++= s""",
      p$i AS (SELECT pr.lhs AS lhs, pr.rhs AS rhs,
          sum(freq)::BIGINT AS cnt
        FROM (SELECT freq,
            unnest([{'lhs': syms[i], 'rhs': syms[i+1]}
              FOR i IN range(1, len(syms))]) AS pr
          FROM (SELECT string_split(trim(seq), '  ') AS syms, freq
            FROM w$i))
        GROUP BY 1, 2),
      b$i AS MATERIALIZED (SELECT lhs, rhs, cnt FROM p$i
        ORDER BY cnt DESC, lhs, rhs LIMIT 1),
      w${i + 1} AS MATERIALIZED (SELECT replace(seq,
          coalesce(' ' || (SELECT lhs FROM b$i) || '  '
            || (SELECT rhs FROM b$i) || ' ', chr(1)),
          coalesce(' ' || (SELECT lhs FROM b$i)
            || (SELECT rhs FROM b$i) || ' ', chr(1))) AS seq, freq
        FROM w$i)"""
    }
    sb.result()
  }

  /** [[Bpe.PreTokenPattern]] escaped for a single-quoted SQL literal
    * (the contraction alternatives carry apostrophes). Backslashes
    * pass through verbatim — DuckDB string literals do not interpret
    * escapes, and RE2 receives the same `\p{L}`/`\t` forms Java
    * does. */
  private val preTokSql = Bpe.PreTokenPattern.replace("'", "''")

  /** Byte-level twin of [[bpeCtesSql]]: `w0` seeds each PRE-TOKEN
    * (raw text under the GPT-2 regex — no normalization) as its
    * spaced uppercase-hex UTF-8 bytes, exactly
    * [[graft.llm.Bpe.bpeEncodeBytes]]'s seed; the merge rounds are
    * the shared loop. */
  private def byteBpeCtesSql(rounds: Int, minFreq: Int,
      src: String = "documents"): String =
    s"""w0 AS MATERIALIZED (SELECT
        '  ' || regexp_replace(hex(encode(word)), '(..)', '\\1  ', 'g')
          AS seq, freq
      FROM (SELECT word, count(*)::BIGINT AS freq FROM (
          SELECT unnest(regexp_extract_all(text, '$preTokSql'))
            AS word FROM $src)
        GROUP BY word HAVING count(*) >= $minFreq))""" +
      bpeRoundCtesSql(rounds)

  /** The [[bpeCtesSql]] merges applied to a `word` column: the nested
    * literal-replace segmentation expression (identical for
    * dictionary and out-of-dictionary words — which is why the oracle
    * needs no dictionary join to restate the Spark side's
    * join-plus-fallback split). */
  private def bpeSegmentSql(rounds: Int): String =
    bpeSegmentFoldSql(
      s"""'  ' || regexp_replace(word, '(.)', '\\1  ', 'g')
      || '${Bpe.EndMark}  '""", rounds)

  /** Byte-level twin of [[bpeSegmentSql]]: the same nested-replace
    * fold over the hex-byte seed. */
  private def byteBpeSegmentSql(rounds: Int): String =
    bpeSegmentFoldSql(
      """'  ' || regexp_replace(hex(encode(word)), '(..)', '\1  ', 'g')""",
      rounds)

  private def bpeSegmentFoldSql(seed: String, rounds: Int): String = {
    var e = seed
    for (i <- 0 until rounds)
      e = s"""replace($e,
        coalesce(' ' || (SELECT lhs FROM b$i) || '  '
          || (SELECT rhs FROM b$i) || ' ', chr(1)),
        coalesce(' ' || (SELECT lhs FROM b$i)
          || (SELECT rhs FROM b$i) || ' ', chr(1)))"""
    e
  }

  /** The byte-level BPE encode oracle, shared by the full gate and
    * the id%31 witness ([[graft.llm.Bpe.bpeEncodeBytes]]'s twin):
    * the byte-seeded merge rounds, the closed id table (every byte
    * symbol via printf('%02X'), every merge product at 256+index —
    * min(tid) collapses duplicate products to the first producing
    * merge, the operator's first-wins contract; exhausted rounds'
    * NULL symbols are filtered), DISTINCT-pre-token segmentation,
    * and the ordered per-document reassembly. The id join is INNER:
    * the vocabulary is closed by construction, so a dropped row
    * would surface as an n_bpe_tokens mismatch, never silently. */
  private def byteBpeEncodeOracleSql(src: String): String =
    s"""WITH ${byteBpeCtesSql(12, 2, src)},
       vocab AS (SELECT sym, min(tid) AS tid FROM (
           SELECT printf('%02X', i) AS sym, i::INT AS tid
           FROM range(0, 256) t(i)
         ${(0 until 12).map(i =>
            s"UNION ALL SELECT (SELECT lhs FROM b$i) || " +
              s"(SELECT rhs FROM b$i), ${256 + i}")
          .mkString("\n         ")})
         WHERE sym IS NOT NULL GROUP BY sym),
       inst AS (SELECT doc_id, wp.i AS wpos, wp.w AS word FROM (
         SELECT doc_id, unnest([{'i': i, 'w': pt[i]}
           FOR i IN range(1, len(pt) + 1)]) AS wp
         FROM (SELECT doc_id, regexp_extract_all(text, '$preTokSql')
           AS pt FROM $src))),
       wseg AS MATERIALIZED (SELECT word,
         string_split(trim(${byteBpeSegmentSql(12)}), '  ') AS ss
         FROM (SELECT DISTINCT word FROM inst)),
       wsym AS (SELECT word, sp.i AS spos, sp.s AS sym FROM (
         SELECT word, unnest([{'i': i, 's': ss[i]}
           FOR i IN range(1, len(ss) + 1)]) AS sp FROM wseg)),
       wtok AS MATERIALIZED (SELECT word, count(*)::BIGINT AS n,
         string_agg(vocab.tid::VARCHAR, ' ' ORDER BY spos) AS ids
         FROM wsym JOIN vocab ON vocab.sym = wsym.sym
         GROUP BY word)
       SELECT doc_id, sum(n)::BIGINT AS n_bpe_tokens,
         string_agg(ids, ' ' ORDER BY wpos) AS token_ids
       FROM inst JOIN wtok USING (word)
       GROUP BY doc_id ORDER BY doc_id"""

  /** DuckDB restatement of [[graft.llm.Dedup.hyperplaneSignature]]:
    * the plane signs are plan-time constants, emitted here as the SAME
    * literals the Spark expression bakes in; dots are left-associated
    * double sums, bit-identical across engines. */
  private def hyperSigSql(vecExpr: String, dim: Int,
      planes: Int): String =
    (0 until planes).map { p =>
      val dot = (0 until dim).map { d =>
        val s =
          if (graft.llm.Dedup.planeSign(p, d) > 0) "1.0" else "(-1.0)"
        s"$vecExpr[${d + 1}]*$s"
      }.mkString(" + ")
      s"(CASE WHEN ($dot) > 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString("(", " + ", ")::BIGINT")

  /** Flat-list variant of [[hyperSigSql]] for WIDE plane counts: the
    * plane terms are list elements summed by `list_sum`, not a nested
    * `+` chain — at 64 planes the chained form's parse tree (64-deep
    * plane sum atop a 64-deep dot chain) exceeds DuckDB's 128-level
    * binder recursion limit, while list elements are siblings. Each
    * per-plane dot stays the left-associated `+` chain (depth = dim),
    * preserving the bit-exact FP order; the element values are the
    * same `1L << p` literals (p=63's is the negative min-long, which
    * DuckDB sums exactly in its wider accumulator before the final
    * BIGINT cast). */
  private def hyperSigSqlList(vecExpr: String, dim: Int,
      planes: Int): String =
    (0 until planes).map { p =>
      val dot = (0 until dim).map { d =>
        val s =
          if (graft.llm.Dedup.planeSign(p, d) > 0) "1.0" else "(-1.0)"
        s"$vecExpr[${d + 1}]*$s"
      }.mkString(" + ")
      s"(CASE WHEN ($dot) > 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString("list_sum([", ", ", "])::BIGINT")

  /** Adaptive-plane variant: emits all `maxPlanes` plane terms, each
    * gated on `p < npExpr` where `npExpr` is the corpus-adaptive plane
    * count ([[graft.llm.Dedup.adaptivePlanes]] restated by
    * [[adaptivePlanesSql]]). Planes below `minPlanes` are always
    * active, so small fixtures produce byte-identical SQL results to
    * the fixed-plane form. */
  private def hyperSigSqlAdaptive(vecExpr: String, dim: Int,
      minPlanes: Int, maxPlanes: Int, npExpr: String): String =
    (0 until maxPlanes).map { p =>
      val dot = (0 until dim).map { d =>
        val s =
          if (graft.llm.Dedup.planeSign(p, d) > 0) "1.0" else "(-1.0)"
        s"$vecExpr[${d + 1}]*$s"
      }.mkString(" + ")
      val bit = s"(CASE WHEN ($dot) > 0 THEN ${1L << p} ELSE 0 END)"
      if (p < minPlanes) bit
      else s"(CASE WHEN $p < $npExpr THEN $bit ELSE 0 END)"
    }.mkString("(", " + ", ")::BIGINT")

  /** Integer CASE-chain restatement of
    * [[graft.llm.Dedup.adaptivePlanes]]: smallest p in
    * [minPlanes, maxPlanes] with 2^p * targetBucket >= `cntExpr`.
    * Exact integer comparisons — no FP log whose ULP could diverge
    * between JVM and DuckDB at power-of-two boundaries. */
  private def adaptivePlanesSql(cntExpr: String, minPlanes: Int,
      targetBucket: Int, maxPlanes: Int = 20): String =
    (minPlanes until maxPlanes).map { p =>
      s"WHEN $cntExpr <= ${(1L << p) * targetBucket} THEN $p"
    }.mkString("(CASE ", " ", s"ELSE $maxPlanes END)")

  /** Integer doubling-chain restatement of
    * [[graft.llm.Dedup.adaptiveClusters]]: smallest power-of-two
    * multiple of `minClusters` (capped at `maxClusters`) with
    * k * targetCluster >= `cntExpr`. */
  private def adaptiveClustersSql(cntExpr: String, minClusters: Int,
      targetCluster: Int, maxClusters: Int = 4096): String = {
    val ks = Iterator.iterate(minClusters)(_ * 2)
      .takeWhile(_ < maxClusters).toSeq
    ks.map { k =>
      s"WHEN $cntExpr <= ${k.toLong * targetCluster} THEN $k"
    }.mkString("(CASE ", " ", s"ELSE $maxClusters END)")
  }

  /** Connected-components-by-min-label CTE chain over a symmetric
    * `edges(a, b)` CTE: relax (each vertex takes the min label in its
    * closed neighborhood) alternated with pointer jumping
    * (`l(v) := min(l(v), l(l(v)))`), unrolled `rounds` times. Labels
    * are monotone non-increasing and bounded below by the component
    * minimum, and the relax+jump pair doubles the covered distance
    * per round (classic pointer doubling), so `rounds` = r converges
    * for any component diameter up to ~2^r. An UNDER-converged
    * oracle cannot false-pass: labels above the fixpoint disagree
    * with the Spark output and turn the gate red. Replaces the
    * former RECURSIVE transitive closure, which materialized every
    * (vertex, reachable-vertex) pair — quadratic in component size
    * and intractable on the dup-dense stress fixtures.
    * Emits CTEs `ccl0`, `s<i>`/`t<i>`/`j<i>`; the final label table
    * is `j<rounds>(v, l)` with l = component minimum.
    *
    * Convergence is ASSERTED, not assumed: one extra relax+jump
    * round runs after `j<rounds>` and `ccconv(changed)` counts the
    * vertices whose label still moved in it. The emitted `ccok` CTE
    * (MATERIALIZED, one row) evaluates the guard UNCONDITIONALLY —
    * callers CROSS JOIN it into their final read (`... FROM t CROSS
    * JOIN ccok WHERE ccok.ok AND ...`), so a fixture with a longer
    * duplicate chain than 2^rounds fails as an explicit DuckDB
    * `error('cc under-converged...')` — a diagnosable oracle-tooling
    * break instead of a confusing red gate — even when the outer
    * table contributes zero rows (a guard folded into a per-row
    * WHERE never evaluates over an empty read; the former shape). */
  private def ccMinLabelSql(rounds: Int): String = {
    // Every CTE here is MATERIALIZED: each label table is referenced
    // twice (the pointer jump self-joins t_i; the next round reads
    // j_i twice), so inlining would double the embedded plan per
    // round — 2^rounds copies of the edge subtree, unplannable.
    val l0 =
      """ccl0 AS MATERIALIZED (SELECT a AS v, min(least(a, b)) AS l
           FROM edges GROUP BY a)"""
    val steps = (1 to rounds + 1).map { i =>
      val prev = if (i == 1) "ccl0" else s"j${i - 1}"
      s"""s$i AS MATERIALIZED (SELECT e.a AS v, min(lb.l) AS nl
           FROM edges e JOIN $prev lb ON lb.v = e.b GROUP BY e.a),
         t$i AS MATERIALIZED (
           SELECT p.v, least(p.l, coalesce(s$i.nl, p.l)) AS l
           FROM $prev p LEFT JOIN s$i ON s$i.v = p.v),
         j$i AS MATERIALIZED (
           SELECT c.v, least(c.l, coalesce(p2.l, c.l)) AS l
           FROM t$i c LEFT JOIN t$i p2 ON p2.v = c.l)"""
    }
    val conv =
      s"""ccconv AS MATERIALIZED (SELECT count(*) AS changed
           FROM j$rounds a JOIN j${rounds + 1} b
           ON a.v = b.v AND a.l <> b.l),
         ccok AS MATERIALIZED (SELECT CASE WHEN changed = 0 THEN true
           ELSE error('cc under-converged at $rounds rounds: ' ||
             changed || ' labels still moving') END AS ok
           FROM ccconv)"""
    ((l0 +: steps) :+ conv).mkString(",\n           ")
  }

  /** SemDeDup CTE chain shared by the d12/t19/t20/d18 oracles,
    * window-free and MATERIALIZED: requires `e(id, v)` and
    * `cent(cid, cv)` upstream, emits `a1`/`m`/`c1`/`asg`/`p`/
    * `dropped`. The former per-id `row_number() OVER (ORDER BY cos
    * DESC, cid ASC)` dragged the 64-dim vector lists through a
    * |corpus| x k-row windowed sort — ~100 GB of spill at the 100x
    * fixture, which is what kept these oracles off the 100x frontier.
    * Here the scored cross join materializes WITHOUT the vectors
    * (id, cid, cos — ~24 B/row), the argmax restates as
    * max-then-min-cid (identical tie semantics: the window's cr=1 is
    * exactly the minimum cid among maximum-cosine centroids, on the
    * same once-computed doubles), and vectors rejoin by id
    * afterwards. */
  private def semChainSql(pairThreshold: String = "0.35"): String =
    s"""cj1 AS MATERIALIZED (SELECT e.id, c.cid,
             list_cosine_similarity(e.v, c.cv) AS cos
             FROM e CROSS JOIN cent c),
           b1 AS MATERIALIZED (SELECT id, max(cos) AS mc
             FROM cj1 GROUP BY id),
           a1c AS MATERIALIZED (SELECT cj1.id, min(cj1.cid) AS cid
             FROM cj1 JOIN b1 ON b1.id = cj1.id AND cj1.cos = b1.mc
             GROUP BY cj1.id),
           a1 AS MATERIALIZED (SELECT e.id, e.v, a1c.cid
             FROM e JOIN a1c ON a1c.id = e.id),
           m AS (SELECT cid, i,
               (sum(val::DECIMAL(38,18))::DOUBLE / count(*)) AS mv
             FROM (SELECT cid, unnest(v) AS val,
               unnest(range(len(v))) AS i FROM a1)
             GROUP BY cid, i),
           c1 AS MATERIALIZED (SELECT cid, list(mv ORDER BY i) AS cv
             FROM m GROUP BY cid),
           cj2 AS MATERIALIZED (SELECT e.id, c.cid,
             list_cosine_similarity(e.v, c.cv) AS cc
             FROM e CROSS JOIN c1 c),
           b2 AS MATERIALIZED (SELECT id, max(cc) AS mc
             FROM cj2 GROUP BY id),
           a2c AS MATERIALIZED (SELECT cj2.id, min(cj2.cid) AS cid
             FROM cj2 JOIN b2 ON b2.id = cj2.id AND cj2.cc = b2.mc
             GROUP BY cj2.id),
           asg AS MATERIALIZED (SELECT e.id, e.v, a2c.cid,
             b2.mc AS cc
             FROM e JOIN a2c ON a2c.id = e.id
             JOIN b2 ON b2.id = e.id),
           p AS (SELECT a.id AS id_a, b.id AS id_b,
               a.cc AS cc_a, b.cc AS cc_b
             FROM asg a JOIN asg b
               ON a.cid = b.cid AND a.id < b.id
             WHERE list_cosine_similarity(a.v, b.v)
               >= $pairThreshold),
           dropped AS MATERIALIZED (SELECT DISTINCT
               CASE WHEN cc_a > cc_b THEN id_a ELSE id_b END AS id
             FROM p)"""

  /** The probed-assignment variant of [[semChainSql]] (d19/d20):
    * restates [[graft.functions.NearestCentroidProbed]]'s two-level
    * rule — coarse set = the first ceil(sqrt(k)) fine centroids in
    * the LCG sample order, fine->coarse by argmax cosine (ties to
    * the smaller coarse rank), per-row probing of the top-`probes`
    * coarse cells (cos desc, rank asc), argmax over fine centroids
    * in probed cells (cos desc, cid asc), and the exact-scan
    * fallback for rows whose probed cells hold no fine centroid —
    * applied to BOTH the Lloyd round and the final assignment, then
    * the shared pair/keep-rule tail. Emits `asg`/`dropped` exactly
    * like semChainSql; requires `e(id, v)` and `cent(cid, cv)`
    * upstream. */
  private def semChainProbedSql(probes: Int,
      pairThreshold: String = "0.35"): String = {
    def probedAssign(fine: String, tag: String): String =
      s"""crk$tag AS (SELECT cid, cv, row_number() OVER (
             ORDER BY (cid * 1103515245 + 12345) % 2147483648 ASC,
               cid ASC) AS crn FROM $fine),
           nc$tag AS (SELECT ceil(sqrt(count(*)))::INT AS c
             FROM $fine),
           co$tag AS (SELECT crn, cv FROM crk$tag, nc$tag
             WHERE crn <= nc$tag.c),
           fj$tag AS (SELECT f.cid AS fcid, co.crn,
               list_cosine_similarity(f.cv, co.cv) AS cos
             FROM $fine f CROSS JOIN co$tag co),
           fm$tag AS (SELECT fcid, max(cos) AS mc FROM fj$tag
             GROUP BY fcid),
           f2c$tag AS (SELECT fj$tag.fcid, min(fj$tag.crn) AS crn
             FROM fj$tag JOIN fm$tag ON fm$tag.fcid = fj$tag.fcid
               AND fj$tag.cos = fm$tag.mc
             GROUP BY fj$tag.fcid),
           pj$tag AS MATERIALIZED (SELECT e.id, co.crn,
               list_cosine_similarity(e.v, co.cv) AS cos
             FROM e CROSS JOIN co$tag co),
           pr$tag AS (SELECT id, crn FROM (SELECT id, crn,
               row_number() OVER (PARTITION BY id
                 ORDER BY cos DESC, crn ASC) AS r FROM pj$tag)
             WHERE r <= $probes),
           cf$tag AS MATERIALIZED (SELECT e.id, f.cid,
               list_cosine_similarity(e.v, f.cv) AS cos
             FROM e JOIN pr$tag ON pr$tag.id = e.id
               JOIN f2c$tag ON f2c$tag.crn = pr$tag.crn
               JOIN $fine f ON f.cid = f2c$tag.fcid),
           bb$tag AS (SELECT id, max(cos) AS mc FROM cf$tag
             GROUP BY id),
           ac$tag AS (SELECT cf$tag.id, min(cf$tag.cid) AS cid
             FROM cf$tag JOIN bb$tag ON bb$tag.id = cf$tag.id
               AND cf$tag.cos = bb$tag.mc
             GROUP BY cf$tag.id),
           ms$tag AS (SELECT e.id, e.v FROM e LEFT JOIN ac$tag
               ON ac$tag.id = e.id WHERE ac$tag.id IS NULL),
           mj$tag AS (SELECT x.id, f.cid,
               list_cosine_similarity(x.v, f.cv) AS cos
             FROM ms$tag x CROSS JOIN $fine f),
           mm$tag AS (SELECT id, max(cos) AS mc FROM mj$tag
             GROUP BY id),
           ma$tag AS (SELECT mj$tag.id, min(mj$tag.cid) AS cid
             FROM mj$tag JOIN mm$tag ON mm$tag.id = mj$tag.id
               AND mj$tag.cos = mm$tag.mc
             GROUP BY mj$tag.id),
           au$tag AS (SELECT ac$tag.id, ac$tag.cid, bb$tag.mc AS cc
               FROM ac$tag JOIN bb$tag ON bb$tag.id = ac$tag.id
             UNION ALL
             SELECT ma$tag.id, ma$tag.cid, mm$tag.mc AS cc
               FROM ma$tag JOIN mm$tag ON mm$tag.id = ma$tag.id)"""
    s"""${probedAssign("cent", "1")},
           a1 AS MATERIALIZED (SELECT e.id, e.v, au1.cid
             FROM e JOIN au1 ON au1.id = e.id),
           m AS (SELECT cid, i,
               (sum(val::DECIMAL(38,18))::DOUBLE / count(*)) AS mv
             FROM (SELECT cid, unnest(v) AS val,
               unnest(range(len(v))) AS i FROM a1)
             GROUP BY cid, i),
           c1 AS MATERIALIZED (SELECT cid, list(mv ORDER BY i) AS cv
             FROM m GROUP BY cid),
           ${probedAssign("c1", "2")},
           asg AS MATERIALIZED (SELECT e.id, e.v, au2.cid, au2.cc
             FROM e JOIN au2 ON au2.id = e.id),
           p AS (SELECT a.id AS id_a, b.id AS id_b,
               a.cc AS cc_a, b.cc AS cc_b
             FROM asg a JOIN asg b
               ON a.cid = b.cid AND a.id < b.id
             WHERE list_cosine_similarity(a.v, b.v)
               >= $pairThreshold),
           dropped AS MATERIALIZED (SELECT DISTINCT
               CASE WHEN cc_a > cc_b THEN id_a ELSE id_b END AS id
             FROM p)"""
  }

  /** Adaptive-k centroid-bootstrap CTE pair shared by the d12/t19/t20
    * oracles: `nk` computes the corpus-adaptive cluster count from
    * `e`'s cardinality and `cent` takes the first k rows of the LCG
    * sample order — `row_number() <= nk.k` restates the former
    * `LIMIT 16` exactly (the order is total: id breaks ties). */
  private def adaptiveCentSql: String =
    s"""nk AS (SELECT
             ${adaptiveClustersSql("count(*)", 16, 512)} AS k FROM e),
           cent AS (SELECT cid, cv FROM (
             SELECT id AS cid, v AS cv, row_number() OVER (
               ORDER BY (id * 1103515245 + 12345) % 2147483648 ASC,
                 id ASC) AS rn FROM e), nk WHERE rn <= nk.k)"""

  /** Shared CTE chain of the CAPPED minhash near-dup oracles
    * (d23/d25/d27): portable polynomial shingle hashes -> 64 affine
    * permutations mod 1e9+7 -> per-band base-31 folds -> per-(band,
    * hash) occupancy count -> the `wide` re-key (members of buckets
    * larger than `cap` pair only when their full-signature fold
    * agrees) -> distinct candidates -> component-estimate prefilter
    * at `estFrac` -> exact Jaccard in `scored(id_a, id_b, jaccard)`.
    * `src` is the inner document source (d25 pre-filters it to the
    * exact-dedup keeper set). Every constant restates the Spark
    * expressions verbatim. With `estimateOnly` the chain ends at the
    * signature estimate itself — `scored.jaccard` is the matching
    * fraction (a multiple of 1/64; exact in FP) and the gram arrays
    * are never consulted past signature construction, mirroring
    * `Dedup.minhashPairs(estimateOnly = true)`. */
  private def cappedMinhashScoredSql(norm: String, src: String,
      cap: Int, estFrac: String,
      estimateOnly: Boolean = false): String =
    s"""g AS (SELECT doc_id AS id,
             list_distinct(CASE WHEN len(t) < 8 THEN [t]
               ELSE [substr(t, i, 8)
                 FOR i IN range(1, len(t) - 6)] END) AS grams
             FROM (SELECT doc_id, $norm AS t FROM $src)),
           hs AS (SELECT id,
             ${polyHashWideListSql("grams")} AS hs FROM g),
           sig AS (SELECT id, hs,
             [list_min([((((i*1103515245 + 12345) % 1000000006) + 1)
                  * (h // 1000000009)
                + (i*69069 + 7) % 1000000007) % 1000000007
               FOR h IN hs]) FOR i IN range(0, 64)] AS mh
             FROM hs),
           fullh AS (SELECT id,
             list_reduce(list_prepend(0::BIGINT, mh),
               (a, v) -> (a*31 + v) % 1000000007) AS fh FROM sig),
           bands AS (SELECT id, b AS band_idx,
             list_reduce(list_prepend(0::BIGINT, mh[b*4+1 : b*4+4]),
               (a, v) -> (a*31 + v) % 1000000007) AS band_hash
             FROM sig CROSS JOIN (SELECT unnest(range(16)) AS b) bt),
           bcnt AS (SELECT band_idx, band_hash, count(*) AS n
             FROM bands GROUP BY band_idx, band_hash),
           bw AS (SELECT bands.id, bands.band_idx, bands.band_hash,
             CASE WHEN bcnt.n > $cap THEN fullh.fh ELSE 0 END AS wide
             FROM bands
             JOIN bcnt ON bcnt.band_idx = bands.band_idx
               AND bcnt.band_hash = bands.band_hash
             JOIN fullh ON fullh.id = bands.id),
           pairs AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
             FROM bw a JOIN bw b
             ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
               AND a.wide = b.wide AND a.id < b.id),
           """ + (if (estimateOnly)
      s"""scored AS (SELECT id_a, id_b,
             len([i FOR i IN range(1, 65)
               IF sa.mh[i] = sb.mh[i]])::DOUBLE / 64 AS jaccard
             FROM pairs
             JOIN sig sa ON sa.id = id_a JOIN sig sb ON sb.id = id_b)"""
    else
      s"""est AS (SELECT id_a, id_b FROM pairs
             JOIN sig sa ON sa.id = id_a JOIN sig sb ON sb.id = id_b
             WHERE len([i FOR i IN range(1, 65)
               IF sa.mh[i] = sb.mh[i]])::DOUBLE / 64 >= $estFrac),
           ver AS (SELECT id_a, id_b,
             len(list_intersect(sa.hs, sb.hs))::DOUBLE AS inter,
             (len(sa.hs) + len(sb.hs))::DOUBLE AS tot
             FROM est
             JOIN sig sa ON sa.id = id_a JOIN sig sb ON sb.id = id_b),
           scored AS (SELECT id_a, id_b, CASE WHEN tot - inter = 0
             THEN 1.0 ELSE inter / (tot - inter) END AS jaccard
             FROM ver)""")

  val oracles: Map[String, String] = {
    val norm =
      "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
    // DSIR hashed-ngram importance weights (t33): portable base-31
    // hash of every uni+bigram mod 8192 buckets, add-one bucket
    // multinomials of the target (src0/src1) and raw (doc_id%3==1)
    // slices, per-doc DECIMAL sum of k * (ln p - ln q). A val because
    // t35 (the Gumbel resample) wraps the SAME restatement as its
    // weight source.
    val t33Sql =
      s"""WITH tkk AS (SELECT doc_id, is_target, tk FROM (
             SELECT doc_id, (source IN ('src0', 'src1')) AS is_target,
               list_filter(string_split($norm, ' '),
                 t -> len(t) > 0) AS tk FROM documents)
             WHERE len(tk) > 0),
           dg AS (SELECT doc_id, is_target, g, count(*)::BIGINT AS k
             FROM (SELECT doc_id, is_target, unnest(list_concat(tk,
                 [tk[i] || ' ' || tk[i+1]
                   FOR i IN range(1, len(tk))])) AS g FROM tkk)
             GROUP BY doc_id, is_target, g),
           bk AS (SELECT doc_id, is_target,
             list_reduce(list_prepend(0::BIGINT,
               [ascii(c)::BIGINT FOR c IN string_split(g, '')]),
               (a, c) -> (a*31 + c) % 1000000007) % 8192 AS b, k
             FROM dg),
           db AS (SELECT doc_id, b, sum(k)::BIGINT AS k FROM bk
             GROUP BY doc_id, b),
           tgt AS (SELECT b, sum(k)::BIGINT AS ct FROM bk
             WHERE is_target GROUP BY b),
           raw AS (SELECT b, sum(k)::BIGINT AS cq FROM bk
             WHERE doc_id % 3 = 1 GROUP BY b),
           tots AS (SELECT (SELECT sum(ct)::BIGINT FROM tgt) AS nt,
             (SELECT sum(cq)::BIGINT FROM raw) AS nq)
           SELECT doc_id, sum(k)::BIGINT AS n_grams,
             round(sum((k::DOUBLE
               * (ln((coalesce(ct, 0) + 1)::DOUBLE
                   / (nt + 8192)::DOUBLE)
                 - ln((coalesce(cq, 0) + 1)::DOUBLE
                   / (nq + 8192)::DOUBLE)))
               ::DECIMAL(38,18))::DOUBLE, 6) AS logw
           FROM db LEFT JOIN tgt USING (b) LEFT JOIN raw USING (b)
           CROSS JOIN tots
           GROUP BY doc_id ORDER BY doc_id"""
    // fastText-shape NB quality classifier (t37/t38): the t33 feature
    // chain with DISJOINT labels (positive = src0/src1; negative =
    // doc_id%3==1 MINUS positives), add-one per-bucket log-odds, the
    // add-one document-count prior, keep = rounded score > 0. The
    // `where` parameter slices `documents` for the witness form.
    def nbQualitySql(where: String): String =
      s"""WITH tkk AS (SELECT doc_id, is_pos, tk FROM (
             SELECT doc_id, (source IN ('src0', 'src1')) AS is_pos,
               list_filter(string_split($norm, ' '),
                 t -> len(t) > 0) AS tk FROM documents $where)
             WHERE len(tk) > 0),
           dg AS (SELECT doc_id, is_pos, g, count(*)::BIGINT AS k
             FROM (SELECT doc_id, is_pos, unnest(list_concat(tk,
                 [tk[i] || ' ' || tk[i+1]
                   FOR i IN range(1, len(tk))])) AS g FROM tkk)
             GROUP BY doc_id, is_pos, g),
           bk AS (SELECT doc_id, is_pos,
             list_reduce(list_prepend(0::BIGINT,
               [ascii(c)::BIGINT FOR c IN string_split(g, '')]),
               (a, c) -> (a*31 + c) % 1000000007) % 8192 AS b, k
             FROM dg),
           db AS (SELECT doc_id, b, sum(k)::BIGINT AS k FROM bk
             GROUP BY doc_id, b),
           pos AS (SELECT b, sum(k)::BIGINT AS cp FROM bk
             WHERE is_pos GROUP BY b),
           neg AS (SELECT b, sum(k)::BIGINT AS cn FROM bk
             WHERE NOT is_pos AND doc_id % 3 = 1 GROUP BY b),
           tots AS (SELECT
             coalesce((SELECT sum(cp) FROM pos), 0)::BIGINT AS np,
             coalesce((SELECT sum(cn) FROM neg), 0)::BIGINT AS nn,
             (SELECT count(*) FROM tkk WHERE is_pos)::BIGINT AS dp,
             (SELECT count(*) FROM tkk
               WHERE NOT is_pos AND doc_id % 3 = 1)::BIGINT AS dn),
           sc AS (SELECT doc_id, sum(k)::BIGINT AS n_grams,
             round(ln((dp + 1)::DOUBLE / (dn + 1)::DOUBLE)
               + sum((k::DOUBLE
                 * (ln((coalesce(cp, 0) + 1)::DOUBLE
                     / (np + 8192)::DOUBLE)
                   - ln((coalesce(cn, 0) + 1)::DOUBLE
                     / (nn + 8192)::DOUBLE)))
                 ::DECIMAL(38,18))::DOUBLE, 6) AS score
             FROM db LEFT JOIN pos USING (b) LEFT JOIN neg USING (b)
             CROSS JOIN tots
             GROUP BY doc_id, dp, dn)
           SELECT doc_id, n_grams, score, score > 0 AS keep
           FROM sc ORDER BY doc_id"""
    // Gopher repetition (t39): the kernel's exact semantics restated
    // as per-row scalar list ops. Per n: gram list by comprehension
    // (token slices joined with ' '); top-n = max multiplicity, tie
    // to the largest char product; dup-n = distinct token positions
    // covered by any >=2-count gram occurrence. All integers.
    val (gopherSql, gopherKeepSql) = {
      val topNs = Seq(2, 3, 4)
      val dupNs = Seq(5, 6, 7, 8, 9, 10)
      def bgDef(n: Int) =
        s"""[array_to_string(tk[i:i+${n - 1}], ' ')
             FOR i IN range(1, t - ${n - 2})] AS bg$n"""
      val topCols = topNs.map { n =>
        s"""CASE WHEN mc$n = 0 THEN 0 ELSE mc$n *
             coalesce(list_max([len(di$n[k]) - ${n - 1}
               FOR k IN range(1, len(di$n) + 1) IF ct$n[k] = mc$n]),
               0) END::BIGINT AS top${n}_chars"""
      }
      val dupCols = dupNs.map { n =>
        s"""coalesce(list_sum([len(tk[p])::BIGINT
             FOR p IN list_distinct(flatten(list_transform(
               [i FOR i IN range(1, len(bg$n) + 1)
                 IF len(list_filter(bg$n, y -> y = bg$n[i])) >= 2],
               i -> range(i, i + $n))))]), 0)::BIGINT
             AS dup${n}_chars"""
      }
      val thr = Seq("top2_chars" -> 20, "top3_chars" -> 18,
        "top4_chars" -> 16, "dup5_chars" -> 15, "dup6_chars" -> 14,
        "dup7_chars" -> 13, "dup8_chars" -> 12, "dup9_chars" -> 11,
        "dup10_chars" -> 10)
        .map { case (f, pct) => s"100 * $f <= $pct * ntc" }
        .mkString("\n             AND ")
      val outCols = (topNs.map(n => s"top${n}_chars") ++
        dupNs.map(n => s"dup${n}_chars")).mkString(", ")
      val ctes = s"""WITH f AS (SELECT doc_id,
             string_split($norm, ' ') AS tk
             FROM documents),
           b AS (SELECT doc_id, tk, len(tk) AS t,
             coalesce(list_sum(list_transform(tk,
               x -> len(x)::BIGINT)), 0)::BIGINT AS ntc FROM f),
           g AS (SELECT *, ${(topNs ++ dupNs).map(bgDef)
               .mkString(",\n             ")} FROM b),
           d AS (SELECT *, ${topNs.map(n =>
               s"list_distinct(bg$n) AS di$n").mkString(", ")}
             FROM g),
           c AS (SELECT *, ${topNs.map(n =>
               s"""[len(list_filter(bg$n, y -> y = x)) FOR x IN di$n]
                 AS ct$n""").mkString(",\n             ")} FROM d),
           m AS (SELECT *, ${topNs.map(n =>
               s"coalesce(list_max(ct$n), 0) AS mc$n")
               .mkString(", ")} FROM c),
           tp AS (SELECT doc_id, t, ntc,
             ${(topCols ++ dupCols).mkString(",\n             ")}
             FROM m)"""
      (s"""$ctes
           SELECT doc_id, t::INTEGER AS n_tokens,
             ntc AS n_token_chars, $outCols,
             ($thr) AS keep
           FROM tp ORDER BY doc_id""",
        // doc_id + keep only — the form t41 (the composed full
        // Gopher filter) consumes as a nested-WITH CTE subquery.
        s"""$ctes
           SELECT doc_id, ($thr) AS keep FROM tp""")
    }
    // Gopher quality rules (t40): word counters over the normalized
    // tokens, symbol counts over the RAW text, line-format counters
    // over the raw chr(10) split — mirroring the Spark struct field
    // by field. Pure per-row scalar list ops, linear in documents.
    val t40Ctes =
      s"""WITH f AS (SELECT doc_id, text,
             list_filter(string_split($norm, ' '),
               t -> len(t) > 0) AS tk,
             string_split(text, chr(10)) AS ln FROM documents),
           s AS (SELECT doc_id,
             len(tk)::BIGINT AS n_words,
             coalesce(list_sum(list_transform(tk,
               x -> len(x)::BIGINT)), 0)::BIGINT AS n_word_chars,
             len(list_filter(tk,
               x -> regexp_matches(x, '\\p{L}')))::BIGINT
               AS alpha_words,
             len(regexp_extract_all(text, '#'))::BIGINT AS hash_cnt,
             len(regexp_extract_all(text,
               '\\.{3}|\u2026'))::BIGINT AS ellipsis_cnt,
             len(ln)::BIGINT AS n_lines,
             len(list_filter(ln, l -> regexp_matches(ltrim(l),
               '^[\u2022\u2023\u25aa*-]')))::BIGINT AS bullet_lines,
             len(list_filter(ln, l -> regexp_matches(rtrim(l),
               '(\\.{3}|\u2026)$$')))::BIGINT AS ellipsis_lines,
             (${TextAnalysis.gopherStopwords.map(w =>
          s"CASE WHEN list_contains(tk, '$w') THEN 1 ELSE 0 END")
          .mkString("\n               + ")})::BIGINT AS stop_hits
             FROM f)"""
    val t40Keep =
      """(n_words BETWEEN 50 AND 100000
           AND n_word_chars >= 3 * n_words
           AND n_word_chars <= 10 * n_words
           AND 10 * hash_cnt <= n_words
           AND 10 * ellipsis_cnt <= n_words
           AND 10 * bullet_lines <= 9 * n_lines
           AND 10 * ellipsis_lines <= 3 * n_lines
           AND 5 * alpha_words >= 4 * n_words
           AND stop_hits >= 2)"""
    val t40Sql =
      s"""$t40Ctes
           SELECT doc_id, n_words, n_word_chars, alpha_words,
             hash_cnt, ellipsis_cnt, n_lines, bullet_lines,
             ellipsis_lines, stop_hits, $t40Keep AS keep
           FROM s ORDER BY doc_id"""
    // Composed full Gopher filter (t41): both halves re-derived
    // independently (nested-WITH CTE subqueries) and joined — the
    // Spark side computes both kernels in one projection.
    val t41Sql =
      s"""WITH rep AS ($gopherKeepSql),
           q AS ($t40Ctes
             SELECT doc_id, $t40Keep AS keep FROM s)
           SELECT rep.doc_id, rep.keep AS keep_repetition,
             q.keep AS keep_quality,
             (rep.keep AND q.keep) AS keep
           FROM rep JOIN q ON rep.doc_id = q.doc_id
           ORDER BY rep.doc_id"""
    // Shared by t17 (one-shot) and t21 (persisted-stats path): the two
    // Spark plans are bit-identical by construction, so one
    // restatement gates both.
    val t17Sql =
      s"""WITH g AS (SELECT doc_id, tk, len(tk)::BIGINT AS dl FROM (
             SELECT doc_id, list_filter(string_split($norm, ' '),
               t -> len(t) > 0) AS tk FROM documents)
             WHERE len(tk) > 0),
           st AS (SELECT count(*) AS n_docs,
             sum(dl)::DOUBLE / count(*)::DOUBLE AS avgdl FROM g),
           tf AS (SELECT doc_id, dl, term, count(*) AS tf FROM (
               SELECT doc_id, dl, unnest(tk) AS term FROM g)
             WHERE term IN ('spark', 'vector', 'customer', 'merge')
             GROUP BY doc_id, dl, term),
           dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
           sc AS (SELECT t.doc_id,
               ln((st.n_docs::DOUBLE - dft.df::DOUBLE + 0.5)
                   / (dft.df::DOUBLE + 0.5) + 1.0)
                 * (t.tf::DOUBLE * 2.5)
                 / (t.tf::DOUBLE + 1.5 * (0.25
                     + (0.75 * t.dl::DOUBLE) / st.avgdl)) AS part
             FROM tf t JOIN dft USING (term) CROSS JOIN st),
           agg AS (SELECT doc_id,
               sum(part::DECIMAL(38,18))::DOUBLE AS score_raw,
               count(*) AS terms_hit
             FROM sc GROUP BY doc_id)
           SELECT doc_id, round(score_raw, 6) AS score, terms_hit
           FROM agg ORDER BY score_raw DESC, doc_id ASC LIMIT 20"""
    val s01Sql =
      """WITH q AS (SELECT vec_id AS qid, embedding AS qvec
           FROM embeddings WHERE vec_id < 5),
         scored AS (SELECT qid, e.vec_id AS id,
           list_cosine_similarity(qvec::DOUBLE[], e.embedding::DOUBLE[]) AS cos
           FROM q, embeddings e WHERE e.vec_id <> qid),
         ranked AS (SELECT qid, id, cos,
           row_number() OVER (PARTITION BY qid
             ORDER BY cos DESC, id ASC) AS rank
           FROM scored)
         SELECT qid, id, round(cos, 6) AS cosine, rank
         FROM ranked WHERE rank <= 10
         ORDER BY qid, rank"""
    val s03Sql =
      s"""WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v
             FROM embeddings),
           q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
             FROM embeddings WHERE vec_id < 5),
           cent AS (SELECT id AS cid, v AS cv FROM e
             ORDER BY (id * 1103515245 + 12345) % 2147483648 ASC,
               id ASC LIMIT 16),
           lists AS (SELECT id, v, cid FROM (
             SELECT e.id, e.v, c.cid,
               row_number() OVER (PARTITION BY e.id
                 ORDER BY list_cosine_similarity(e.v, c.cv) DESC,
                   c.cid ASC) AS cr
             FROM e CROSS JOIN cent c) WHERE cr <= 1),
           probes AS (SELECT qid, qv, cid FROM (
             SELECT q.qid, q.qv, c.cid,
               row_number() OVER (PARTITION BY q.qid
                 ORDER BY list_cosine_similarity(q.qv, c.cv) DESC,
                   c.cid ASC) AS cr
             FROM q CROSS JOIN cent c) WHERE cr <= 4),
           cand AS (SELECT p.qid, l.id,
             list_cosine_similarity(p.qv, l.v) AS cos
             FROM lists l JOIN probes p USING (cid)
             WHERE l.id <> p.qid),
           ranked AS (SELECT qid, id, cos,
             row_number() OVER (PARTITION BY qid
               ORDER BY cos DESC, id ASC) AS rank FROM cand)
           SELECT qid, id, round(cos, 6) AS cosine, rank
           FROM ranked WHERE rank <= 10
           ORDER BY qid, rank"""
    val s02Sql =
      s"""WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v
           FROM embeddings),
         sig AS (SELECT id, v,
           ${hyperSigSql("v", 64, 6)} AS sig FROM e),
         q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
           FROM embeddings WHERE vec_id < 5),
         qs AS (SELECT qid, qv,
           ${hyperSigSql("qv", 64, 6)} AS qsig FROM q),
         probes AS (SELECT qid, qv, unnest([qsig,
           xor(qsig, 1), xor(qsig, 2), xor(qsig, 4),
           xor(qsig, 8), xor(qsig, 16), xor(qsig, 32)]) AS bucket
           FROM qs),
         cand AS (SELECT p.qid, s.id,
           list_cosine_similarity(p.qv, s.v) AS cos
           FROM probes p JOIN sig s ON s.sig = p.bucket
           WHERE s.id <> p.qid),
         ranked AS (SELECT qid, id, cos,
           row_number() OVER (PARTITION BY qid
             ORDER BY cos DESC, id ASC) AS rank FROM cand)
         SELECT qid, id, round(cos, 6) AS cosine, rank
         FROM ranked WHERE rank <= 10
         ORDER BY qid, rank"""
    Map(
      "d01_exact_dedup" ->
        s"""SELECT md5($norm) AS content_hash,
           min(doc_id) AS keep_id, count(*) AS dup_count
           FROM documents GROUP BY 1 ORDER BY 1""",
      // Portable minhash: polynomial shingle hashes -> 64 affine
      // permutations mod 1e9+7 -> base-31 band folds -> band-bucket
      // candidates -> component-estimate prefilter -> exact Jaccard.
      // Every constant restates the Spark expressions verbatim.
      "d02_minhash_pairs" ->
        s"""WITH g AS (SELECT doc_id AS id,
             list_distinct(CASE WHEN len(t) < 8 THEN [t]
               ELSE [substr(t, i, 8)
                 FOR i IN range(1, len(t) - 6)] END) AS grams
             FROM (SELECT doc_id, $norm AS t FROM documents)),
           hs AS (SELECT id,
             ${polyHashWideListSql("grams")} AS hs FROM g),
           sig AS (SELECT id, hs,
             [list_min([((((i*1103515245 + 12345) % 1000000006) + 1)
                  * (h // 1000000009)
                + (i*69069 + 7) % 1000000007) % 1000000007
               FOR h IN hs]) FOR i IN range(0, 64)] AS mh
             FROM hs),
           bands AS (SELECT id, b AS band_idx,
             list_reduce(list_prepend(0::BIGINT, mh[b*4+1 : b*4+4]),
               (a, v) -> (a*31 + v) % 1000000007) AS band_hash
             FROM sig CROSS JOIN (SELECT unnest(range(16)) AS b) bt),
           pairs AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
             FROM bands a JOIN bands b
             ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
               AND a.id < b.id),
           est AS (SELECT id_a, id_b FROM pairs
             JOIN sig sa ON sa.id = id_a JOIN sig sb ON sb.id = id_b
             WHERE len([i FOR i IN range(1, 65)
               IF sa.mh[i] = sb.mh[i]])::DOUBLE / 64 >= 0.15),
           ver AS (SELECT id_a, id_b,
             len(list_intersect(sa.hs, sb.hs))::DOUBLE AS inter,
             (len(sa.hs) + len(sb.hs))::DOUBLE AS tot
             FROM est
             JOIN sig sa ON sa.id = id_a JOIN sig sb ON sb.id = id_b)
           SELECT id_a, id_b, round(jaccard, 6) AS jaccard FROM (
             SELECT id_a, id_b, CASE WHEN tot - inter = 0 THEN 1.0
               ELSE inter / (tot - inter) END AS jaccard FROM ver)
           WHERE jaccard >= 0.3
           ORDER BY id_a, id_b""",
      // Capped-band variant (maxBucket=2, threshold 0.1): d02's CTE
      // chain plus the occupancy count per (band_idx, band_hash), the
      // full-signature base-31 fold as the widened key, and the
      // three-key bucket join — members of oversized buckets pair
      // only when their entire 64-component signature agrees.
      "d23_minhash_pairs_capped" ->
        s"""WITH ${cappedMinhashScoredSql(norm, "documents", 2,
             "0.05")}
           SELECT id_a, id_b, round(jaccard, 6) AS jaccard
           FROM scored WHERE jaccard >= 0.1
           ORDER BY id_a, id_b""",
      // d23's capped chain reduced to the GREEDY SURVIVOR view (drop
      // the larger id of every pair) — the consumer shape whose
      // output is corpus-sized, not pair-mass-sized: the 1000x form
      // of the minhash family (d23's full pair output is ~1e8 rows
      // there; the survivor set is 5M).
      "d27_minhash_survivors_capped" ->
        s"""WITH ${cappedMinhashScoredSql(norm, "documents", 2,
             "0.05")},
           losers AS (SELECT DISTINCT id_b FROM scored
             WHERE jaccard >= 0.1)
           SELECT doc_id, lang, n_chars FROM documents
           WHERE doc_id NOT IN (SELECT id_b FROM losers)
           ORDER BY doc_id""",
      // Estimate-only survivor view: the same chain ended at the
      // signature estimate (matching/64), no exact-Jaccard stage.
      "d28_minhash_survivors_estimated" ->
        s"""WITH ${cappedMinhashScoredSql(norm, "documents", 2,
             "0.05", estimateOnly = true)},
           losers AS (SELECT DISTINCT id_b FROM scored
             WHERE jaccard >= 0.1)
           SELECT doc_id, lang, n_chars FROM documents
           WHERE doc_id NOT IN (SELECT id_b FROM losers)
           ORDER BY doc_id""",
      // Exact-first near-dedup: d01's min-id-per-content-hash keeper
      // set feeds d23's capped chain (cap 64, threshold 0.3).
      "d25_minhash_after_exact" ->
        s"""WITH k AS (SELECT min(doc_id) AS id FROM (
               SELECT doc_id, md5($norm) AS h FROM documents)
             GROUP BY h),
           ${cappedMinhashScoredSql(norm,
             "documents WHERE doc_id IN (SELECT id FROM k)", 64,
             "0.15")}
           SELECT id_a, id_b, round(jaccard, 6) AS jaccard
           FROM scored WHERE jaccard >= 0.3
           ORDER BY id_a, id_b""",
      // Incremental dedup: identical CTE chain to d02 up to the
      // signatures; the pair source crosses the corpus (doc_id%5!=0)
      // bands with the batch (doc_id%5=0) bands instead of
      // self-joining.
      "d08_incremental_dedup" ->
        s"""WITH g AS (SELECT doc_id AS id,
             list_distinct(CASE WHEN len(t) < 8 THEN [t]
               ELSE [substr(t, i, 8)
                 FOR i IN range(1, len(t) - 6)] END) AS grams
             FROM (SELECT doc_id, $norm AS t FROM documents)),
           hs AS (SELECT id,
             ${polyHashWideListSql("grams")} AS hs FROM g),
           sig AS (SELECT id, hs,
             [list_min([((((i*1103515245 + 12345) % 1000000006) + 1)
                  * (h // 1000000009)
                + (i*69069 + 7) % 1000000007) % 1000000007
               FOR h IN hs]) FOR i IN range(0, 64)] AS mh
             FROM hs),
           bands AS (SELECT id, b AS band_idx,
             list_reduce(list_prepend(0::BIGINT, mh[b*4+1 : b*4+4]),
               (a, v) -> (a*31 + v) % 1000000007) AS band_hash
             FROM sig CROSS JOIN (SELECT unnest(range(16)) AS b) bt),
           pairs AS (SELECT DISTINCT a.id AS id_corpus,
               b.id AS id_batch
             FROM bands a JOIN bands b
             ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
               AND a.id % 5 <> 0 AND b.id % 5 = 0),
           est AS (SELECT id_corpus, id_batch FROM pairs
             JOIN sig sa ON sa.id = id_corpus
             JOIN sig sb ON sb.id = id_batch
             WHERE len([i FOR i IN range(1, 65)
               IF sa.mh[i] = sb.mh[i]])::DOUBLE / 64 >= 0.15),
           ver AS (SELECT id_corpus, id_batch,
             len(list_intersect(sa.hs, sb.hs))::DOUBLE AS inter,
             (len(sa.hs) + len(sb.hs))::DOUBLE AS tot
             FROM est
             JOIN sig sa ON sa.id = id_corpus
             JOIN sig sb ON sb.id = id_batch)
           SELECT id_corpus, id_batch, round(jaccard, 6) AS jaccard
           FROM (
             SELECT id_corpus, id_batch,
               CASE WHEN tot - inter = 0 THEN 1.0
               ELSE inter / (tot - inter) END AS jaccard FROM ver)
           WHERE jaccard >= 0.3
           ORDER BY id_corpus, id_batch""",
      // Capped incremental: d08's chain plus the UNION occupancy
      // count, the full-signature fold, and the three-key cross-set
      // bucket join.
      // d26's capped incremental chain ended at the signature
      // estimate (matching/64; exact multiple of 1/64, so round(.,6)
      // is an identity and thresholding is FP-exact).
      "d29_incremental_estimated" ->
        s"""WITH g AS (SELECT doc_id AS id,
             list_distinct(CASE WHEN len(t) < 8 THEN [t]
               ELSE [substr(t, i, 8)
                 FOR i IN range(1, len(t) - 6)] END) AS grams
             FROM (SELECT doc_id, $norm AS t FROM documents)),
           hs AS (SELECT id,
             ${polyHashWideListSql("grams")} AS hs FROM g),
           sig AS (SELECT id, hs,
             [list_min([((((i*1103515245 + 12345) % 1000000006) + 1)
                  * (h // 1000000009)
                + (i*69069 + 7) % 1000000007) % 1000000007
               FOR h IN hs]) FOR i IN range(0, 64)] AS mh
             FROM hs),
           fullh AS (SELECT id,
             list_reduce(list_prepend(0::BIGINT, mh),
               (a, v) -> (a*31 + v) % 1000000007) AS fh FROM sig),
           bands AS (SELECT id, b AS band_idx,
             list_reduce(list_prepend(0::BIGINT, mh[b*4+1 : b*4+4]),
               (a, v) -> (a*31 + v) % 1000000007) AS band_hash
             FROM sig CROSS JOIN (SELECT unnest(range(16)) AS b) bt),
           bcnt AS (SELECT band_idx, band_hash, count(*) AS n
             FROM bands GROUP BY band_idx, band_hash),
           bw AS (SELECT bands.id, bands.band_idx, bands.band_hash,
             CASE WHEN bcnt.n > 2 THEN fullh.fh ELSE 0 END AS wide
             FROM bands
             JOIN bcnt ON bcnt.band_idx = bands.band_idx
               AND bcnt.band_hash = bands.band_hash
             JOIN fullh ON fullh.id = bands.id),
           pairs AS (SELECT DISTINCT a.id AS id_corpus,
               b.id AS id_batch
             FROM bw a JOIN bw b
             ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
               AND a.wide = b.wide
               AND a.id % 5 <> 0 AND b.id % 5 = 0),
           scored AS (SELECT id_corpus, id_batch,
             len([i FOR i IN range(1, 65)
               IF sa.mh[i] = sb.mh[i]])::DOUBLE / 64 AS jaccard
             FROM pairs
             JOIN sig sa ON sa.id = id_corpus
             JOIN sig sb ON sb.id = id_batch)
           SELECT id_corpus, id_batch, round(jaccard, 6) AS jaccard
           FROM scored WHERE jaccard >= 0.1
           ORDER BY id_corpus, id_batch""",
      "d26_incremental_capped" ->
        s"""WITH g AS (SELECT doc_id AS id,
             list_distinct(CASE WHEN len(t) < 8 THEN [t]
               ELSE [substr(t, i, 8)
                 FOR i IN range(1, len(t) - 6)] END) AS grams
             FROM (SELECT doc_id, $norm AS t FROM documents)),
           hs AS (SELECT id,
             ${polyHashWideListSql("grams")} AS hs FROM g),
           sig AS (SELECT id, hs,
             [list_min([((((i*1103515245 + 12345) % 1000000006) + 1)
                  * (h // 1000000009)
                + (i*69069 + 7) % 1000000007) % 1000000007
               FOR h IN hs]) FOR i IN range(0, 64)] AS mh
             FROM hs),
           fullh AS (SELECT id,
             list_reduce(list_prepend(0::BIGINT, mh),
               (a, v) -> (a*31 + v) % 1000000007) AS fh FROM sig),
           bands AS (SELECT id, b AS band_idx,
             list_reduce(list_prepend(0::BIGINT, mh[b*4+1 : b*4+4]),
               (a, v) -> (a*31 + v) % 1000000007) AS band_hash
             FROM sig CROSS JOIN (SELECT unnest(range(16)) AS b) bt),
           bcnt AS (SELECT band_idx, band_hash, count(*) AS n
             FROM bands GROUP BY band_idx, band_hash),
           bw AS (SELECT bands.id, bands.band_idx, bands.band_hash,
             CASE WHEN bcnt.n > 2 THEN fullh.fh ELSE 0 END AS wide
             FROM bands
             JOIN bcnt ON bcnt.band_idx = bands.band_idx
               AND bcnt.band_hash = bands.band_hash
             JOIN fullh ON fullh.id = bands.id),
           pairs AS (SELECT DISTINCT a.id AS id_corpus,
               b.id AS id_batch
             FROM bw a JOIN bw b
             ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
               AND a.wide = b.wide
               AND a.id % 5 <> 0 AND b.id % 5 = 0),
           est AS (SELECT id_corpus, id_batch FROM pairs
             JOIN sig sa ON sa.id = id_corpus
             JOIN sig sb ON sb.id = id_batch
             WHERE len([i FOR i IN range(1, 65)
               IF sa.mh[i] = sb.mh[i]])::DOUBLE / 64 >= 0.15),
           ver AS (SELECT id_corpus, id_batch,
             len(list_intersect(sa.hs, sb.hs))::DOUBLE AS inter,
             (len(sa.hs) + len(sb.hs))::DOUBLE AS tot
             FROM est
             JOIN sig sa ON sa.id = id_corpus
             JOIN sig sb ON sb.id = id_batch)
           SELECT id_corpus, id_batch, round(jaccard, 6) AS jaccard
           FROM (
             SELECT id_corpus, id_batch,
               CASE WHEN tot - inter = 0 THEN 1.0
               ELSE inter / (tot - inter) END AS jaccard FROM ver)
           WHERE jaccard >= 0.3
           ORDER BY id_corpus, id_batch""",
      // Portable 30-bit simhash: mixed polynomial token hashes vote on
      // 30 bits; five 6-bit sub-signatures block candidates; bit_count
      // of the xor verifies hamming <= 8.
      "d03_simhash_pairs" ->
        s"""WITH tk AS (SELECT doc_id AS id,
             string_split($norm, ' ') AS toks FROM documents),
           hs AS (SELECT id,
             [(h * 2654435761) % 1073741824 FOR h IN
               ${polyHashListSql("toks")}] AS hs
             FROM tk),
           sig AS (SELECT id,
             list_sum([CASE WHEN 2*len([h FOR h IN hs
                 IF (h // (1::BIGINT << b)) % 2 = 1]) > len(hs)
               THEN (1::BIGINT << b) ELSE 0 END
               FOR b IN range(0, 30)])::BIGINT AS sig
             FROM hs),
           chunks AS (SELECT id, sig, c AS chunk_idx,
             (sig // (1::BIGINT << (c*6))) % 64 AS chunk_val
             FROM sig CROSS JOIN (SELECT unnest(range(5)) AS c) ct),
           pairs AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b,
             a.sig AS sig_a, b.sig AS sig_b
             FROM chunks a JOIN chunks b
             ON a.chunk_idx = b.chunk_idx AND a.chunk_val = b.chunk_val
               AND a.id < b.id)
           SELECT id_a, id_b,
             bit_count(xor(sig_a, sig_b))::INTEGER AS hamming
           FROM pairs WHERE bit_count(xor(sig_a, sig_b)) <= 8
           ORDER BY id_a, id_b""",
      // d03's pipeline on the 10% slice, collapsed to the witness row.
      "d09_simhash_witness" ->
        s"""WITH tk AS (SELECT doc_id AS id,
             string_split($norm, ' ') AS toks FROM documents
             WHERE doc_id % 10 = 3),
           hs AS (SELECT id,
             [(h * 2654435761) % 1073741824 FOR h IN
               ${polyHashListSql("toks")}] AS hs
             FROM tk),
           sig AS (SELECT id,
             list_sum([CASE WHEN 2*len([h FOR h IN hs
                 IF (h // (1::BIGINT << b)) % 2 = 1]) > len(hs)
               THEN (1::BIGINT << b) ELSE 0 END
               FOR b IN range(0, 30)])::BIGINT AS sig
             FROM hs),
           chunks AS (SELECT id, sig, c AS chunk_idx,
             (sig // (1::BIGINT << (c*6))) % 64 AS chunk_val
             FROM sig CROSS JOIN (SELECT unnest(range(5)) AS c) ct),
           pairs AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b,
             a.sig AS sig_a, b.sig AS sig_b
             FROM chunks a JOIN chunks b
             ON a.chunk_idx = b.chunk_idx AND a.chunk_val = b.chunk_val
               AND a.id < b.id),
           ham AS (SELECT id_a, id_b,
             bit_count(xor(sig_a, sig_b))::BIGINT AS hamming
             FROM pairs WHERE bit_count(xor(sig_a, sig_b)) <= 8)
           SELECT count(*)::BIGINT AS n_pairs,
             coalesce(sum((id_a * 1000003 + id_b) % 1000000007),
               0)::BIGINT AS pair_checksum,
             coalesce(sum(hamming), 0)::BIGINT AS hamming_sum
           FROM ham""",
      // d02's full pipeline on the id%31=7 slice, collapsed to the
      // witness row (100x-tractable oracle; see the query comment).
      "d14_minhash_witness" ->
        s"""WITH g AS (SELECT doc_id AS id,
             list_distinct(CASE WHEN len(t) < 8 THEN [t]
               ELSE [substr(t, i, 8)
                 FOR i IN range(1, len(t) - 6)] END) AS grams
             FROM (SELECT doc_id, $norm AS t FROM documents
               WHERE doc_id % 31 = 7)),
           hs AS (SELECT id,
             ${polyHashWideListSql("grams")} AS hs FROM g),
           sig AS (SELECT id, hs,
             [list_min([((((i*1103515245 + 12345) % 1000000006) + 1)
                  * (h // 1000000009)
                + (i*69069 + 7) % 1000000007) % 1000000007
               FOR h IN hs]) FOR i IN range(0, 64)] AS mh
             FROM hs),
           bands AS (SELECT id, b AS band_idx,
             list_reduce(list_prepend(0::BIGINT, mh[b*4+1 : b*4+4]),
               (a, v) -> (a*31 + v) % 1000000007) AS band_hash
             FROM sig CROSS JOIN (SELECT unnest(range(16)) AS b) bt),
           pairs AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
             FROM bands a JOIN bands b
             ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
               AND a.id < b.id),
           est AS (SELECT id_a, id_b FROM pairs
             JOIN sig sa ON sa.id = id_a JOIN sig sb ON sb.id = id_b
             WHERE len([i FOR i IN range(1, 65)
               IF sa.mh[i] = sb.mh[i]])::DOUBLE / 64 >= 0.15),
           ver AS (SELECT id_a, id_b,
             len(list_intersect(sa.hs, sb.hs))::DOUBLE AS inter,
             (len(sa.hs) + len(sb.hs))::DOUBLE AS tot
             FROM est
             JOIN sig sa ON sa.id = id_a JOIN sig sb ON sb.id = id_b),
           outp AS (SELECT id_a, id_b, jaccard FROM (
             SELECT id_a, id_b, CASE WHEN tot - inter = 0 THEN 1.0
               ELSE inter / (tot - inter) END AS jaccard FROM ver)
             WHERE jaccard >= 0.3)
           SELECT count(*)::BIGINT AS n_pairs,
             coalesce(sum((id_a * 1000003 + id_b) % 1000000007),
               0)::BIGINT AS pair_checksum,
             coalesce(sum(CAST(floor(round(jaccard, 6) * 1000000)
               AS BIGINT)), 0)::BIGINT AS jmil_sum
           FROM outp""",
      // d04's full pipeline on the id%31=7 slice, witness-collapsed.
      "d15_ngram_witness" ->
        s"""WITH idx AS (
             SELECT id, unnest(${polyHashWideListSql("grams")}) AS gram
             FROM (
               SELECT doc_id AS id,
                 list_distinct(CASE WHEN len(t) < 8 THEN [t]
                   ELSE [substr(t, i, 8)
                     FOR i IN range(1, len(t) - 6)] END) AS grams
               FROM (SELECT doc_id, $norm AS t FROM documents
                 WHERE doc_id % 31 = 7))),
           inf AS (SELECT id, gram FROM (
             SELECT id, gram, count(*) OVER (PARTITION BY gram) AS df
             FROM idx) WHERE df BETWEEN 2 AND 50),
           sizes AS (SELECT id, count(*) AS sz FROM inf GROUP BY id),
           inter AS (SELECT a.id AS id_a, b.id AS id_b,
               count(*) AS inter
             FROM inf a JOIN inf b
             ON a.gram = b.gram AND a.id < b.id
             GROUP BY 1, 2),
           verified AS (SELECT id_a, id_b,
             inter::DOUBLE / (sa.sz + sb.sz - inter)::DOUBLE AS jaccard
             FROM inter
             JOIN sizes sa ON sa.id = id_a
             JOIN sizes sb ON sb.id = id_b),
           outp AS (SELECT id_a, id_b, jaccard FROM verified
             WHERE jaccard >= 0.3)
           SELECT count(*)::BIGINT AS n_pairs,
             coalesce(sum((id_a * 1000003 + id_b) % 1000000007),
               0)::BIGINT AS pair_checksum,
             coalesce(sum(CAST(floor(round(jaccard, 6) * 1000000)
               AS BIGINT)), 0)::BIGINT AS jmil_sum
           FROM outp""",
      // d05's full pipeline on the vec_id%31=7 slice,
      // witness-collapsed; the adaptive plane rule keys off the
      // SLICE count, same as the Spark operator handed the slice.
      "d16_embedding_witness" ->
        s"""WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v
             FROM embeddings WHERE vec_id % 31 = 7),
           np AS (SELECT
             ${adaptivePlanesSql("count(*)", 6, 8)} AS np FROM e),
           sig AS (SELECT id, v,
             ${hyperSigSqlAdaptive("v", 64, 6, 20, "np.np")} AS sig
             FROM e, np),
           cand AS (SELECT a.id AS id_a, b.id AS id_b,
             list_cosine_similarity(a.v, b.v) AS cos
             FROM sig a JOIN sig b ON a.sig = b.sig AND a.id < b.id),
           outp AS (SELECT id_a, id_b, round(cos, 6) AS cosine
             FROM cand WHERE cos >= 0.2)
           SELECT count(*)::BIGINT AS n_pairs,
             coalesce(sum((id_a * 1000003 + id_b) % 1000000007),
               0)::BIGINT AS pair_checksum,
             coalesce(sum(CAST(floor(cosine * 1000000) AS BIGINT)),
               0)::BIGINT AS cmil_sum
           FROM outp""",
      // d05's full-corpus pipeline, witness-collapsed (bench form).
      "d17_embedding_dups_agg" ->
        s"""WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v
             FROM embeddings),
           np AS (SELECT
             ${adaptivePlanesSql("count(*)", 6, 8)} AS np FROM e),
           sig AS (SELECT id, v,
             ${hyperSigSqlAdaptive("v", 64, 6, 20, "np.np")} AS sig
             FROM e, np),
           cand AS (SELECT a.id AS id_a, b.id AS id_b,
             list_cosine_similarity(a.v, b.v) AS cos
             FROM sig a JOIN sig b ON a.sig = b.sig AND a.id < b.id),
           outp AS (SELECT id_a, id_b, round(cos, 6) AS cosine
             FROM cand WHERE cos >= 0.2)
           SELECT count(*)::BIGINT AS n_pairs,
             coalesce(sum((id_a * 1000003 + id_b) % 1000000007),
               0)::BIGINT AS pair_checksum,
             coalesce(sum(CAST(floor(cosine * 1000000) AS BIGINT)),
               0)::BIGINT AS cmil_sum
           FROM outp""",
      "d04_ngram_jaccard" ->
        s"""WITH idx AS (
             SELECT id, unnest(${polyHashWideListSql("grams")}) AS gram
             FROM (
               SELECT doc_id AS id,
                 list_distinct(CASE WHEN len(t) < 8 THEN [t]
                   ELSE [substr(t, i, 8)
                     FOR i IN range(1, len(t) - 6)] END) AS grams
               FROM (SELECT doc_id, $norm AS t FROM documents))),
           inf AS (SELECT id, gram FROM (
             SELECT id, gram, count(*) OVER (PARTITION BY gram) AS df
             FROM idx) WHERE df BETWEEN 2 AND 50),
           sizes AS (SELECT id, count(*) AS sz FROM inf GROUP BY id),
           inter AS (SELECT a.id AS id_a, b.id AS id_b,
               count(*) AS inter
             FROM inf a JOIN inf b
             ON a.gram = b.gram AND a.id < b.id
             GROUP BY 1, 2),
           verified AS (SELECT id_a, id_b,
             inter::DOUBLE / (sa.sz + sb.sz - inter)::DOUBLE AS jaccard
             FROM inter
             JOIN sizes sa ON sa.id = id_a
             JOIN sizes sb ON sb.id = id_b)
           SELECT id_a, id_b, round(jaccard, 6) AS jaccard
           FROM verified WHERE jaccard >= 0.3
           ORDER BY id_a, id_b""",
      "d06_dedup_survivors" ->
        s"""WITH idx AS (
             SELECT id, unnest(${polyHashWideListSql("grams")}) AS gram
             FROM (
               SELECT doc_id AS id,
                 list_distinct(CASE WHEN len(t) < 8 THEN [t]
                   ELSE [substr(t, i, 8)
                     FOR i IN range(1, len(t) - 6)] END) AS grams
               FROM (SELECT doc_id, $norm AS t FROM documents))),
           inf AS (SELECT id, gram FROM (
             SELECT id, gram, count(*) OVER (PARTITION BY gram) AS df
             FROM idx) WHERE df BETWEEN 2 AND 50),
           sizes AS (SELECT id, count(*) AS sz FROM inf GROUP BY id),
           inter AS (SELECT a.id AS id_a, b.id AS id_b,
               count(*) AS inter
             FROM inf a JOIN inf b
             ON a.gram = b.gram AND a.id < b.id
             GROUP BY 1, 2),
           losers AS (SELECT DISTINCT id_b FROM inter
             JOIN sizes sa ON sa.id = id_a
             JOIN sizes sb ON sb.id = id_b
             WHERE inter::DOUBLE
               / (sa.sz + sb.sz - inter)::DOUBLE >= 0.3)
           SELECT doc_id, lang, n_chars FROM documents
           WHERE doc_id NOT IN (SELECT id_b FROM losers)
           ORDER BY doc_id""",
      // Exact connected components over the same near-dup graph:
      // min-label propagation with pointer doubling (ccMinLabelSql)
      // labels each vertex with its component minimum; non-minimal
      // members are dropped. 12 relax+jump rounds cover component
      // diameters to ~4096 — far past any dup-chain the fixtures
      // hold — and an under-converged label can only turn the gate
      // red, never false-pass.
      "d07_survivors_cc" ->
        s"""WITH idx AS (
             SELECT id, unnest(${polyHashWideListSql("grams")}) AS gram
             FROM (
               SELECT doc_id AS id,
                 list_distinct(CASE WHEN len(t) < 8 THEN [t]
                   ELSE [substr(t, i, 8)
                     FOR i IN range(1, len(t) - 6)] END) AS grams
               FROM (SELECT doc_id, $norm AS t FROM documents))),
           inf AS (SELECT id, gram FROM (
             SELECT id, gram, count(*) OVER (PARTITION BY gram) AS df
             FROM idx) WHERE df BETWEEN 2 AND 50),
           sizes AS (SELECT id, count(*) AS sz FROM inf GROUP BY id),
           inter AS (SELECT a.id AS id_a, b.id AS id_b,
               count(*) AS inter
             FROM inf a JOIN inf b
             ON a.gram = b.gram AND a.id < b.id
             GROUP BY 1, 2),
           pairs AS (SELECT id_a, id_b FROM inter
             JOIN sizes sa ON sa.id = id_a
             JOIN sizes sb ON sb.id = id_b
             WHERE inter::DOUBLE
               / (sa.sz + sb.sz - inter)::DOUBLE >= 0.3),
           edges AS MATERIALIZED (
             SELECT id_a AS a, id_b AS b FROM pairs
             UNION ALL SELECT id_b, id_a FROM pairs),
           ${ccMinLabelSql(12)},
           cc_losers AS (SELECT v FROM j12 WHERE l < v)
           SELECT doc_id, lang, n_chars
           FROM documents CROSS JOIN ccok
           WHERE ccok.ok
             AND doc_id NOT IN (SELECT v FROM cc_losers)
           ORDER BY doc_id""",
      // d07's closure on the 10% slice, collapsed to the witness row.
      "d10_cc_witness" ->
        s"""WITH idx AS (
             SELECT id, unnest(${polyHashWideListSql("grams")}) AS gram
             FROM (
               SELECT doc_id AS id,
                 list_distinct(CASE WHEN len(t) < 8 THEN [t]
                   ELSE [substr(t, i, 8)
                     FOR i IN range(1, len(t) - 6)] END) AS grams
               FROM (SELECT doc_id, $norm AS t FROM documents
                 WHERE doc_id % 10 = 3))),
           inf AS (SELECT id, gram FROM (
             SELECT id, gram, count(*) OVER (PARTITION BY gram) AS df
             FROM idx) WHERE df BETWEEN 2 AND 50),
           sizes AS (SELECT id, count(*) AS sz FROM inf GROUP BY id),
           inter AS (SELECT a.id AS id_a, b.id AS id_b,
               count(*) AS inter
             FROM inf a JOIN inf b
             ON a.gram = b.gram AND a.id < b.id
             GROUP BY 1, 2),
           pairs AS (SELECT id_a, id_b FROM inter
             JOIN sizes sa ON sa.id = id_a
             JOIN sizes sb ON sb.id = id_b
             WHERE inter::DOUBLE
               / (sa.sz + sb.sz - inter)::DOUBLE >= 0.3),
           edges AS MATERIALIZED (
             SELECT id_a AS a, id_b AS b FROM pairs
             UNION ALL SELECT id_b, id_a FROM pairs),
           ${ccMinLabelSql(12)},
           cc_losers AS (SELECT v FROM j12 WHERE l < v)
           SELECT count(*)::BIGINT AS n_survivors,
             coalesce(sum(doc_id % 1000000007), 0)::BIGINT
               AS id_checksum,
             coalesce(sum(n_chars), 0)::BIGINT AS chars_sum
           FROM documents CROSS JOIN ccok
           WHERE ccok.ok
             AND doc_id % 10 = 3
             AND doc_id NOT IN (SELECT v FROM cc_losers)""",
      // Instance-level duplicated-gram stats: the rolling-hash kernel
      // restated without list_distinct (instances, not the set), then
      // corpus-wide counts and a per-doc rollup — mirrors
      // Dedup.duplicatedNgramStats exactly, whole-text-hash arm
      // included. Uses the WIDE two-family key (the default since the
      // narrow key measurably inflates dup counts at birthday scale).
      "d11_substring_dup" ->
        s"""WITH g AS (
             SELECT id, unnest(${polyHashWideListSql("grams")}) AS gram
             FROM (
               SELECT doc_id AS id,
                 CASE WHEN len(t) < 20 THEN [t]
                   ELSE [substr(t, i, 20)
                     FOR i IN range(1, len(t) - 18)] END AS grams
               FROM (SELECT doc_id, $norm AS t FROM documents))),
           cnt AS (SELECT gram, count(*) AS c FROM g GROUP BY gram),
           per AS (SELECT id, count(*)::BIGINT AS n_grams,
               sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END)::BIGINT
                 AS dup_grams
             FROM g JOIN cnt USING (gram) GROUP BY id)
           SELECT id AS doc_id, n_grams, dup_grams,
             round(dup_grams::DOUBLE / n_grams::DOUBLE, 6)
               AS dup_fraction
           FROM per ORDER BY doc_id""",
      // d11 on the id%31 slice, collapsed to the witness aggregates.
      "d24_substring_witness" ->
        s"""WITH g AS (
             SELECT id, unnest(${polyHashWideListSql("grams")}) AS gram
             FROM (
               SELECT doc_id AS id,
                 CASE WHEN len(t) < 20 THEN [t]
                   ELSE [substr(t, i, 20)
                     FOR i IN range(1, len(t) - 18)] END AS grams
               FROM (SELECT doc_id, $norm AS t FROM documents
                 WHERE doc_id % 31 = 7))),
           cnt AS (SELECT gram, count(*) AS c FROM g GROUP BY gram),
           per AS (SELECT id, count(*)::BIGINT AS n_grams,
               sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END)::BIGINT
                 AS dup_grams
             FROM g JOIN cnt USING (gram) GROUP BY id)
           SELECT count(*)::BIGINT AS n_docs,
             coalesce(sum(n_grams), 0)::BIGINT AS grams_sum,
             coalesce(sum(dup_grams), 0)::BIGINT AS dup_sum,
             coalesce(sum((id * 1000003 + dup_grams) % 1000000007),
               0)::BIGINT AS doc_checksum
           FROM per""",
      // Decontamination: d11's gram derivation on both sides; the
      // benchmark collapses to distinct keys, the corpus stream left
      // joins against them. hit_grams counts INSTANCES, contaminated
      // is the any-hit scrub predicate.
      "d21_decontaminate" ->
        s"""WITH bm AS (SELECT DISTINCT
             unnest(${polyHashWideListSql("grams")}) AS gram
             FROM (
               SELECT CASE WHEN len(t) < 20 THEN [t]
                   ELSE [substr(t, i, 20)
                     FOR i IN range(1, len(t) - 18)] END AS grams
               FROM (SELECT $norm AS t FROM documents
                 WHERE doc_id % 97 = 13))),
           g AS (
             SELECT id, unnest(${polyHashWideListSql("grams")}) AS gram
             FROM (
               SELECT doc_id AS id,
                 CASE WHEN len(t) < 20 THEN [t]
                   ELSE [substr(t, i, 20)
                     FOR i IN range(1, len(t) - 18)] END AS grams
               FROM (SELECT doc_id, $norm AS t FROM documents
                 WHERE doc_id % 97 != 13))),
           per AS (SELECT id, count(*)::BIGINT AS n_grams,
               sum(CASE WHEN bm.gram IS NOT NULL THEN 1 ELSE 0
                 END)::BIGINT AS hit_grams
             FROM g LEFT JOIN bm USING (gram) GROUP BY id)
           SELECT id AS doc_id, n_grams, hit_grams,
             hit_grams > 0 AS contaminated
           FROM per ORDER BY doc_id""",
      "s01_ann_bruteforce" -> s01Sql,
      // Recall@10 of the LSH path vs the brute-force baseline, both
      // restated from their own oracle definitions.
      "s04_ann_recall" ->
        s"""WITH s1 AS ($s01Sql), s2 AS ($s02Sql),
           h AS (SELECT s1.qid, count(*) AS hits FROM s1
             JOIN s2 ON s1.qid = s2.qid AND s1.id = s2.id
             GROUP BY s1.qid)
           SELECT q.qid, coalesce(hits, 0)::BIGINT AS hits,
             coalesce(hits, 0) / 10.0 AS recall
           FROM (SELECT DISTINCT qid FROM s1) q
           LEFT JOIN h ON q.qid = h.qid
           ORDER BY q.qid""",
      // Hyperplane-LSH near-dup: signatures restated with the same
      // baked sign literals as the Spark plan; bucket self-join; exact
      // cosine verify.
      "d05_embedding_dups" ->
        s"""WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v
             FROM embeddings),
           np AS (SELECT
             ${adaptivePlanesSql("count(*)", 6, 8)} AS np FROM e),
           sig AS (SELECT id, v,
             ${hyperSigSqlAdaptive("v", 64, 6, 20, "np.np")} AS sig
             FROM e, np),
           cand AS (SELECT a.id AS id_a, b.id AS id_b,
             list_cosine_similarity(a.v, b.v) AS cos
             FROM sig a JOIN sig b ON a.sig = b.sig AND a.id < b.id)
           SELECT id_a, id_b, round(cos, 6) AS cosine FROM cand
           WHERE cos >= 0.2 ORDER BY id_a, id_b""",
      // Capped variant (maxBucket=32): d05's signature chain plus the
      // per-signature occupancy count and the widened-64-plane re-key
      // CASE — all 64 plane-sign rows baked as the same literals the
      // Spark expression uses (the low adaptive-plane bits of a
      // widened key are the original signature, so a widened key can
      // never collide with another bucket's narrow key). The two
      // signature CTEs are MATERIALIZED: inlined, each reference
      // re-evaluates the multi-thousand-term plane expressions, whose
      // per-thread evaluation state OOM'd DuckDB in seconds at the
      // 100x fixture; materialized, the pipeline runs the 200k-vector
      // oracle in ~44 s.
      "d22_embedding_dups_capped" ->
        s"""WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v
             FROM embeddings),
           np AS (SELECT
             ${adaptivePlanesSql("count(*)", 6, 8)} AS np FROM e),
           sig0 AS MATERIALIZED (SELECT id, v,
             ${hyperSigSqlAdaptive("v", 64, 6, 20, "np.np")} AS sig
             FROM e, np),
           cnt AS (SELECT sig AS csig, count(*) AS n
             FROM sig0 GROUP BY sig),
           sig AS MATERIALIZED (SELECT sig0.id, sig0.v,
             CASE WHEN cnt.n > 32
               THEN ${hyperSigSqlList("sig0.v", 64, 64)}
               ELSE sig0.sig END AS sig
             FROM sig0 JOIN cnt ON cnt.csig = sig0.sig),
           cand AS (SELECT a.id AS id_a, b.id AS id_b,
             list_cosine_similarity(a.v, b.v) AS cos
             FROM sig a JOIN sig b ON a.sig = b.sig AND a.id < b.id)
           SELECT id_a, id_b, round(cos, 6) AS cosine FROM cand
           WHERE cos >= 0.2 ORDER BY id_a, id_b""",
      // SemDeDup: the s05 Lloyd/assignment CTEs, intra-cluster pairs
      // at cosine >= 0.35, drop the member nearer its centroid (ties
      // drop the larger id, which is id_b since id_a < id_b).
      "d12_semantic_dedup" ->
        s"""WITH e AS MATERIALIZED (SELECT vec_id AS id, embedding::DOUBLE[] AS v
             FROM embeddings),
           $adaptiveCentSql,
           ${semChainSql()}
           SELECT g.id, g.cid, round(g.cc, 6) AS cent_cosine,
             (d.id IS NULL) AS kept
           FROM asg g LEFT JOIN dropped d ON g.id = d.id
           ORDER BY g.id""",
      // d12's full pipeline on the id%31 slice, collapsed to the
      // witness aggregates — the adaptive-k CTE reads the (filtered)
      // e's cardinality, so cluster count adapts exactly like the
      // Spark slice run.
      "d18_semantic_witness" ->
        s"""WITH e AS MATERIALIZED (SELECT vec_id AS id, embedding::DOUBLE[] AS v
             FROM embeddings WHERE vec_id % 31 = 7),
           $adaptiveCentSql,
           ${semChainSql()},
           verdict AS (SELECT g.id, g.cid,
               round(g.cc, 6) AS cent_cosine, (d.id IS NULL) AS kept
             FROM asg g LEFT JOIN dropped d ON g.id = d.id)
           SELECT count(*)::BIGINT AS n_vecs,
             coalesce(sum(CASE WHEN kept THEN 1 ELSE 0 END),
               0)::BIGINT AS n_kept,
             coalesce(sum((id*1000003 + cid) % 1000000007),
               0)::BIGINT AS cid_checksum,
             coalesce(sum(floor(cent_cosine * 1e6)::BIGINT),
               0)::BIGINT AS ccmil_sum
           FROM verdict""",
      // SemDeDup with the two-level probed assignment: the same
      // adaptive-k bootstrap, the probed-rule CTE chain for both
      // assignments, the shared pair/keep-rule tail.
      "d19_semantic_dedup_probed" ->
        s"""WITH e AS MATERIALIZED (SELECT vec_id AS id, embedding::DOUBLE[] AS v
             FROM embeddings),
           $adaptiveCentSql,
           ${semChainProbedSql(2)}
           SELECT g.id, g.cid, round(g.cc, 6) AS cent_cosine,
             (d.id IS NULL) AS kept
           FROM asg g LEFT JOIN dropped d ON g.id = d.id
           ORDER BY g.id""",
      // d19 on the id%31 slice, collapsed to the witness aggregates.
      "d20_semantic_probed_witness" ->
        s"""WITH e AS MATERIALIZED (SELECT vec_id AS id, embedding::DOUBLE[] AS v
             FROM embeddings WHERE vec_id % 31 = 7),
           $adaptiveCentSql,
           ${semChainProbedSql(2)},
           verdict AS (SELECT g.id, g.cid,
               round(g.cc, 6) AS cent_cosine, (d.id IS NULL) AS kept
             FROM asg g LEFT JOIN dropped d ON g.id = d.id)
           SELECT count(*)::BIGINT AS n_vecs,
             coalesce(sum(CASE WHEN kept THEN 1 ELSE 0 END),
               0)::BIGINT AS n_kept,
             coalesce(sum((id*1000003 + cid) % 1000000007),
               0)::BIGINT AS cid_checksum,
             coalesce(sum(floor(cent_cosine * 1e6)::BIGINT),
               0)::BIGINT AS ccmil_sum
           FROM verdict""",
      // LSH-bucketed ANN with hamming-1 multi-probe: the probe set is
      // the query signature and its single-bit flips.
      "s02_ann_lsh" -> s02Sql,
      // IVF-flat ANN: LCG-ordered deterministic centroid sample,
      // argmax-cosine list assignment, nProbe=4 probing.
      "s03_ann_ivf" -> s03Sql,
      // Persisted-index IVF (build → parquet round trip → probe):
      // the parquet round trip and probe-cell partition pruning are
      // representation changes only — the probed cells' contents, and
      // so the result, are identical to the one-shot s03 plan.
      "s09_ann_ivf_persisted" -> s03Sql,
      // One Lloyd round: assign to the sampled centroids, recompute
      // each centroid as the per-dim DECIMAL mean of its members
      // (empty clusters drop out, matching Spark's groupBy), then run
      // the same IVF probe against the refined set.
      "s05_ann_ivf_lloyd" ->
        s"""WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v
             FROM embeddings),
           q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
             FROM embeddings WHERE vec_id < 5),
           cent AS (SELECT id AS cid, v AS cv FROM e
             ORDER BY (id * 1103515245 + 12345) % 2147483648 ASC,
               id ASC LIMIT 16),
           a1 AS (SELECT id, v, cid FROM (
             SELECT e.id, e.v, c.cid,
               row_number() OVER (PARTITION BY e.id
                 ORDER BY list_cosine_similarity(e.v, c.cv) DESC,
                   c.cid ASC) AS cr
             FROM e CROSS JOIN cent c) WHERE cr <= 1),
           m AS (SELECT cid, i,
               (sum(val::DECIMAL(38,18))::DOUBLE / count(*)) AS mv
             FROM (SELECT cid, unnest(v) AS val,
               unnest(range(len(v))) AS i FROM a1)
             GROUP BY cid, i),
           c1 AS (SELECT cid, list(mv ORDER BY i) AS cv FROM m
             GROUP BY cid),
           lists AS (SELECT id, v, cid FROM (
             SELECT e.id, e.v, c.cid,
               row_number() OVER (PARTITION BY e.id
                 ORDER BY list_cosine_similarity(e.v, c.cv) DESC,
                   c.cid ASC) AS cr
             FROM e CROSS JOIN c1 c) WHERE cr <= 1),
           probes AS (SELECT qid, qv, cid FROM (
             SELECT q.qid, q.qv, c.cid,
               row_number() OVER (PARTITION BY q.qid
                 ORDER BY list_cosine_similarity(q.qv, c.cv) DESC,
                   c.cid ASC) AS cr
             FROM q CROSS JOIN c1 c) WHERE cr <= 4),
           cand AS (SELECT p.qid, l.id,
             list_cosine_similarity(p.qv, l.v) AS cos
             FROM lists l JOIN probes p USING (cid)
             WHERE l.id <> p.qid),
           ranked AS (SELECT qid, id, cos,
             row_number() OVER (PARTITION BY qid
               ORDER BY cos DESC, id ASC) AS rank FROM cand)
           SELECT qid, id, round(cos, 6) AS cosine, rank
           FROM ranked WHERE rank <= 10
           ORDER BY qid, rank""",
      // Bigram multiplicities restated with list comprehensions; the
      // most frequent bigram's count over the bigram total, flag on
      // the unrounded fraction.
      "t13_repetition" ->
        s"""WITH f AS (SELECT doc_id,
             string_split($norm, ' ') AS tk FROM documents),
           g AS (SELECT doc_id, tk, len(tk) AS n,
             [tk[i] || ' ' || tk[i+1] FOR i IN range(1, len(tk))]
               AS bg FROM f),
           h AS (SELECT doc_id, tk, n, bg, len(bg) AS nb,
             coalesce(list_max(list_transform(list_distinct(bg),
               x -> len(list_filter(bg, y -> y = x)))), 0) AS top
             FROM g)
           SELECT doc_id, n::INTEGER AS n_tokens,
             round(len(list_distinct(tk))::DOUBLE / n, 6)
               AS distinct_ratio,
             CASE WHEN nb > 0
               THEN round(top::DOUBLE / nb, 6) ELSE 0.0 END
               AS top_bigram_frac,
             CASE WHEN nb > 0
               THEN top::DOUBLE / nb > 0.1 ELSE FALSE END
               AS is_repetitive
           FROM h ORDER BY doc_id""",
      // PQ: code assignment by per-segment L2 argmin (left-assoc
      // fold), ADC totals in DECIMAL, shortlist 50, exact rerank.
      "s06_ann_pq" ->
        s"""WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v
             FROM embeddings),
           q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
             FROM embeddings WHERE vec_id < 5),
           samp AS (SELECT v, row_number() OVER (
               ORDER BY (id * 1103515245 + 12345) % 2147483648 ASC,
                 id ASC) - 1 AS code
             FROM e QUALIFY code < 16),
           cb AS (SELECT seg, code,
               v[seg*16+1 : seg*16+16] AS cseg
             FROM samp CROSS JOIN range(4) t(seg)),
           codes AS (SELECT id, seg, code FROM (
             SELECT e.id, c.seg, c.code, row_number() OVER (
                 PARTITION BY e.id, c.seg ORDER BY
                 list_reduce(list_prepend(0.0::DOUBLE,
                   [(e.v[c.seg*16 + i] - c.cseg[i])
                    * (e.v[c.seg*16 + i] - c.cseg[i])
                    FOR i IN range(1, 17)]), (a, b) -> a + b) ASC,
                 c.code ASC) AS r
             FROM e CROSS JOIN cb c) WHERE r = 1),
           qlut AS (SELECT q.qid, c.seg, c.code,
               list_reduce(list_prepend(0.0::DOUBLE,
                 [(q.qv[c.seg*16 + i] - c.cseg[i])
                  * (q.qv[c.seg*16 + i] - c.cseg[i])
                  FOR i IN range(1, 17)]), (a, b) -> a + b) AS d
             FROM q CROSS JOIN cb c),
           approx AS (SELECT l.qid, c.id,
               sum(l.d::DECIMAL(38,18))::DOUBLE AS adist
             FROM codes c JOIN qlut l
               ON c.seg = l.seg AND c.code = l.code
             WHERE l.qid <> c.id
             GROUP BY l.qid, c.id),
           short AS (SELECT qid, id FROM (
             SELECT qid, id, row_number() OVER (PARTITION BY qid
               ORDER BY adist ASC, id ASC) AS sr FROM approx)
             WHERE sr <= 50),
           cand AS (SELECT s.qid, s.id,
               list_cosine_similarity(q.qv, e.v) AS cos
             FROM short s JOIN e ON s.id = e.id
             JOIN q ON s.qid = q.qid),
           ranked AS (SELECT qid, id, cos,
             row_number() OVER (PARTITION BY qid
               ORDER BY cos DESC, id ASC) AS rank FROM cand)
           SELECT qid, id, round(cos, 6) AS cosine, rank
           FROM ranked WHERE rank <= 10
           ORDER BY qid, rank""",
      // s03's IVF CTEs (cent/lists/probes) composed with s06's PQ
      // CTEs (samp/cb/codes/qlut); the ADC sum runs over the
      // cell-pruned candidate pairs only.
      "s07_ann_ivfpq" ->
        s"""WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v
             FROM embeddings),
           q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
             FROM embeddings WHERE vec_id < 5),
           cent AS (SELECT id AS cid, v AS cv FROM e
             ORDER BY (id * 1103515245 + 12345) % 2147483648 ASC,
               id ASC LIMIT 16),
           lists AS (SELECT id, cid FROM (
             SELECT e.id, c.cid,
               row_number() OVER (PARTITION BY e.id
                 ORDER BY list_cosine_similarity(e.v, c.cv) DESC,
                   c.cid ASC) AS cr
             FROM e CROSS JOIN cent c) WHERE cr <= 1),
           probes AS (SELECT qid, cid FROM (
             SELECT q.qid, c.cid,
               row_number() OVER (PARTITION BY q.qid
                 ORDER BY list_cosine_similarity(q.qv, c.cv) DESC,
                   c.cid ASC) AS cr
             FROM q CROSS JOIN cent c) WHERE cr <= 4),
           cpair AS (SELECT p.qid, l.id
             FROM lists l JOIN probes p USING (cid)
             WHERE l.id <> p.qid),
           samp AS (SELECT v, row_number() OVER (
               ORDER BY (id * 1103515245 + 12345) % 2147483648 ASC,
                 id ASC) - 1 AS code
             FROM e QUALIFY code < 16),
           cb AS (SELECT seg, code,
               v[seg*16+1 : seg*16+16] AS cseg
             FROM samp CROSS JOIN range(4) t(seg)),
           codes AS (SELECT id, seg, code FROM (
             SELECT e.id, c.seg, c.code, row_number() OVER (
                 PARTITION BY e.id, c.seg ORDER BY
                 list_reduce(list_prepend(0.0::DOUBLE,
                   [(e.v[c.seg*16 + i] - c.cseg[i])
                    * (e.v[c.seg*16 + i] - c.cseg[i])
                    FOR i IN range(1, 17)]), (a, b) -> a + b) ASC,
                 c.code ASC) AS r
             FROM e CROSS JOIN cb c) WHERE r = 1),
           qlut AS (SELECT q.qid, c.seg, c.code,
               list_reduce(list_prepend(0.0::DOUBLE,
                 [(q.qv[c.seg*16 + i] - c.cseg[i])
                  * (q.qv[c.seg*16 + i] - c.cseg[i])
                  FOR i IN range(1, 17)]), (a, b) -> a + b) AS d
             FROM q CROSS JOIN cb c),
           approx AS (SELECT cp.qid, cp.id,
               sum(l.d::DECIMAL(38,18))::DOUBLE AS adist
             FROM cpair cp
             JOIN codes c ON c.id = cp.id
             JOIN qlut l ON l.qid = cp.qid AND l.seg = c.seg
               AND l.code = c.code
             GROUP BY cp.qid, cp.id),
           short AS (SELECT qid, id FROM (
             SELECT qid, id, row_number() OVER (PARTITION BY qid
               ORDER BY adist ASC, id ASC) AS sr FROM approx)
             WHERE sr <= 50),
           cand AS (SELECT s.qid, s.id,
               list_cosine_similarity(q.qv, e.v) AS cos
             FROM short s JOIN e ON s.id = e.id
             JOIN q ON s.qid = q.qid),
           ranked AS (SELECT qid, id, cos,
             row_number() OVER (PARTITION BY qid
               ORDER BY cos DESC, id ASC) AS rank FROM cand)
           SELECT qid, id, round(cos, 6) AS cosine, rank
           FROM ranked WHERE rank <= 10
           ORDER BY qid, rank""",
      "t14_domain_mix" ->
        """WITH d AS (SELECT source, doc_id,
             regexp_extract(source, 'src(\d+)', 1)::INTEGER AS n
           FROM documents),
           k AS (SELECT source, (1 + n % 5) * 20 AS rate_pct,
             CASE WHEN (((doc_id % 2147483648) + 2147483648)
                   % 2147483648 * 1103515245 + 12345) % 2147483648
                 % 1000000
               < floor(((1 + n % 5)::DOUBLE / 5.0) * 1000000)::BIGINT
               THEN 1 END AS kept
           FROM d)
           SELECT source, rate_pct::INTEGER AS rate_pct,
             count(*) AS n_total, count(kept) AS n_kept,
             round(count(kept)::DOUBLE / count(*), 6) AS realized_rate
           FROM k GROUP BY source, rate_pct ORDER BY source""",
      // The distributed enumeration must equal the naive global
      // row_number over the same total order.
      "t15_global_shuffle" ->
        """SELECT doc_id,
             (doc_id * 2654435761) % 1000000007 AS shuffle_key,
             row_number() OVER (
               ORDER BY (doc_id * 2654435761) % 1000000007, doc_id)
               AS position
           FROM documents ORDER BY position""",
      // The full curation chain restated as one CTE pipeline, each
      // stage the verbatim fragment of the gate that verifies it
      // standalone (d01 keeper rule, d06 loser set on the deduped
      // base, t03 quality, t01 greedy argmax, t14 keep predicate).
      "t16_curation_pipeline" -> {
        def score(lang: String): String = {
          val words = TextAnalysis.stopwords.toMap.apply(lang)
            .map(w => s"'$w'").mkString(", ")
          s"len(list_filter(tk, x -> x IN ($words)))"
        }
        s"""WITH keepx AS (SELECT min(doc_id) AS doc_id
             FROM documents GROUP BY md5($norm)),
           base AS (SELECT d.doc_id, d.source, d.text
             FROM documents d JOIN keepx USING (doc_id)),
           idx AS (SELECT id, unnest(${polyHashWideListSql("grams")}) AS gram
             FROM (
               SELECT doc_id AS id,
                 list_distinct(CASE WHEN len(t) < 8 THEN [t]
                   ELSE [substr(t, i, 8)
                     FOR i IN range(1, len(t) - 6)] END) AS grams
               FROM (SELECT doc_id, $norm AS t FROM base))),
           inf AS (SELECT id, gram FROM (
             SELECT id, gram, count(*) OVER (PARTITION BY gram) AS df
             FROM idx) WHERE df BETWEEN 2 AND 50),
           sizes AS (SELECT id, count(*) AS sz FROM inf GROUP BY id),
           inter AS (SELECT a.id AS id_a, b.id AS id_b,
               count(*) AS inter
             FROM inf a JOIN inf b
             ON a.gram = b.gram AND a.id < b.id
             GROUP BY 1, 2),
           losers AS (SELECT DISTINCT id_b FROM inter
             JOIN sizes sa ON sa.id = id_a
             JOIN sizes sb ON sb.id = id_b
             WHERE inter::DOUBLE
               / (sa.sz + sb.sz - inter)::DOUBLE >= 0.3),
           surv AS (SELECT * FROM base
             WHERE doc_id NOT IN (SELECT id_b FROM losers)),
           f AS (SELECT doc_id, source, text,
             string_split($norm, ' ') AS tk,
             len(text) AS n_chars FROM surv),
           g AS (SELECT doc_id, source, tk, len(tk) AS n_tokens,
             least(len(tk)::DOUBLE / 50.0, 1.0) AS len_score,
             CASE WHEN n_chars > 0 THEN
               len(regexp_extract_all(text,
                 '[.,;:!?''"()\\[\\]{}]'))::DOUBLE / n_chars::DOUBLE
               ELSE 0.0 END AS punct_ratio,
             CASE WHEN len(tk) > 0 THEN
               len(list_filter(tk, x -> x IN (${TextAnalysis.stopwords
                 .flatMap(_._2).distinct.map(w => s"'$w'")
                 .mkString(", ")})))::DOUBLE / len(tk)::DOUBLE
               ELSE 0.0 END AS stop_ratio
             FROM f),
           q AS (SELECT doc_id, source, tk, n_tokens,
             round(round(len_score *
               (CASE WHEN punct_ratio <= 0.2 THEN 1.0
                 ELSE greatest(0.0, 1.0 - (punct_ratio - 0.2) * 5.0) END)
               * (0.5 + least(stop_ratio * 10.0, 1.0) * 0.5), 6), 6)
               AS quality
             FROM g),
           kept AS (SELECT * FROM q WHERE quality >= 0.2),
           langed AS (SELECT doc_id, source, n_tokens, quality,
             CASE
               WHEN greatest(s_en, s_fr, s_de, s_es) = 0 THEN 'und'
               WHEN s_en = greatest(s_en, s_fr, s_de, s_es) THEN 'en'
               WHEN s_fr = greatest(s_fr, s_de, s_es) THEN 'fr'
               WHEN s_de = greatest(s_de, s_es) THEN 'de'
               ELSE 'es' END AS lang
             FROM (SELECT doc_id, source, n_tokens, quality,
               ${score("en")} AS s_en, ${score("fr")} AS s_fr,
               ${score("de")} AS s_de, ${score("es")} AS s_es
               FROM kept) s0),
           mixed AS (SELECT * FROM langed
             WHERE (((doc_id % 2147483648) + 2147483648)
                 % 2147483648 * 1103515245 + 12345) % 2147483648
                 % 1000000
               < floor(((1 + regexp_extract(source, 'src(\\d+)', 1)
                   ::INTEGER % 5)::DOUBLE / 5.0) * 1000000)::BIGINT)
           SELECT source, lang, count(*) AS n_docs,
             sum(n_tokens)::BIGINT AS sum_tokens,
             round(sum(quality::DECIMAL(38,12))::DOUBLE, 6)
               AS sum_quality
           FROM mixed GROUP BY source, lang
           ORDER BY source, lang"""
      },
      "t01_langid" -> {
        def score(lang: String): String = {
          val words = TextAnalysis.stopwords.toMap.apply(lang)
            .map(w => s"'$w'").mkString(", ")
          s"len(list_filter(string_split($norm, ' '), x -> x IN ($words)))"
        }
        s"""WITH scored AS (SELECT doc_id,
             ${score("en")} AS s_en, ${score("fr")} AS s_fr,
             ${score("de")} AS s_de, ${score("es")} AS s_es
             FROM documents),
           best AS (SELECT doc_id,
             -- greedy argmax in fixed order (en,fr,de,es): the first
             -- language reaching the max wins, matching the Scala fold
             CASE
               WHEN greatest(s_en, s_fr, s_de, s_es) = 0 THEN 'und'
               WHEN s_en = greatest(s_en, s_fr, s_de, s_es) THEN 'en'
               WHEN s_fr = greatest(s_fr, s_de, s_es) THEN 'fr'
               WHEN s_de = greatest(s_de, s_es) THEN 'de'
               ELSE 'es' END AS lang_detected
             FROM scored)
           SELECT lang_detected, count(*) AS n_docs FROM best
           GROUP BY 1 ORDER BY 1"""
      },
      "t02_token_counts" ->
        s"""SELECT doc_id,
           len(string_split($norm, ' ')) AS n_tokens,
           len(regexp_extract_all(text,
             '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_subtokens
           FROM documents ORDER BY doc_id""",
      "t03_quality" ->
        s"""WITH f AS (SELECT doc_id, text,
             string_split($norm, ' ') AS tk,
             len(text) AS n_chars
             FROM documents),
           g AS (SELECT doc_id, n_chars, tk, len(tk) AS n_tokens,
             least(len(tk)::DOUBLE / 50.0, 1.0) AS len_score,
             CASE WHEN n_chars > 0 THEN
               len(regexp_extract_all(text,
                 '[.,;:!?''"()\\[\\]{}]'))::DOUBLE / n_chars::DOUBLE
               ELSE 0.0 END AS punct_ratio,
             CASE WHEN len(tk) > 0 THEN
               len(list_filter(tk, x -> x IN (${TextAnalysis.stopwords
                 .flatMap(_._2).distinct.map(w => s"'$w'")
                 .mkString(", ")})))::DOUBLE / len(tk)::DOUBLE
               ELSE 0.0 END AS stop_ratio
             FROM f)
           SELECT doc_id, n_chars AS n_chars_q, n_tokens,
             round(round(len_score *
               (CASE WHEN punct_ratio <= 0.2 THEN 1.0
                 ELSE greatest(0.0, 1.0 - (punct_ratio - 0.2) * 5.0) END)
               * (0.5 + least(stop_ratio * 10.0, 1.0) * 0.5), 6), 6)
               AS quality
           FROM g ORDER BY doc_id""",
      "t04_fingerprint" ->
        s"""SELECT doc_id, md5($norm) AS fp_md5,
           list_reduce(
             list_prepend(0::BIGINT,
               [ascii(c)::BIGINT FOR c IN string_split($norm, '')]),
             (acc, c) -> (acc * 31 + c) % 1000000007) AS fp_roll
           FROM documents ORDER BY doc_id""",
      "t06_chunking" ->
        s"""WITH toks AS (SELECT doc_id, string_split($norm, ' ') AS tk
             FROM documents),
           st AS (SELECT doc_id, tk,
             unnest(range(0, len(tk), 56)) AS start,
             generate_subscripts(range(0, len(tk), 56), 1) - 1
               AS chunk_idx
             FROM toks)
           SELECT doc_id, chunk_idx,
             least(len(tk) - start, 64) AS chunk_tokens,
             array_to_string(tk[start + 1 : start + 64], ' ')
               AS chunk_text
           FROM st
           ORDER BY doc_id, chunk_idx""",
      "t05_top_terms" ->
        s"""SELECT term, count(*) AS cnt FROM (
             SELECT unnest(string_split($norm, ' ')) AS term
             FROM documents)
           WHERE len(term) > 0
           GROUP BY term ORDER BY cnt DESC, term ASC LIMIT 20""",
      // t18's surprisal CTEs chained with d12's cluster/keep-rule
      // CTEs, intersected, per-source rollup (exact integer sums).
      "t19_curation_semantic" ->
        s"""WITH gg AS (SELECT doc_id, term FROM (
             SELECT doc_id, unnest(string_split($norm, ' ')) AS term
             FROM documents) WHERE len(term) > 0),
           dt AS (SELECT doc_id, term, count(*) AS k FROM gg
             GROUP BY doc_id, term),
           f AS (SELECT term, sum(k) AS cnt FROM dt GROUP BY term),
           tot AS (SELECT sum(cnt) AS total FROM f),
           lmk AS (SELECT doc_id, sum(k)::BIGINT AS n_tokens,
               sum((k * (-ln(cnt::DOUBLE / total::DOUBLE)))
                 ::DECIMAL(38,18))::DOUBLE / sum(k) AS ms
             FROM dt JOIN f USING (term) CROSS JOIN tot
             GROUP BY doc_id),
           samp AS (SELECT round(ms, 6) AS msr FROM lmk
             WHERE doc_id % 7 = 3),
           thr AS (SELECT coalesce(quantile_disc(msr, 0.9),
               'infinity'::DOUBLE) AS ms_thr FROM samp),
           keep AS (SELECT doc_id, n_tokens FROM lmk CROSS JOIN thr
             WHERE round(ms, 6) <= ms_thr),
           e AS MATERIALIZED (SELECT vec_id AS id, embedding::DOUBLE[] AS v
             FROM embeddings),
           $adaptiveCentSql,
           ${semChainSql()},
           semk AS (SELECT g.id FROM asg g
             LEFT JOIN dropped dd ON g.id = dd.id
             WHERE dd.id IS NULL)
           SELECT d.source, count(*) AS n_docs,
             sum(keep.n_tokens)::BIGINT AS sum_tokens
           FROM documents d
           JOIN keep ON d.doc_id = keep.doc_id
           JOIN semk ON d.doc_id = semk.id
           GROUP BY d.source ORDER BY d.source""",
      // Filtered-first composition: t19's CTE chain, except the
      // embedding corpus `e` is pre-filtered to the surprisal
      // survivors — centroid sample, Lloyd round, assignment, and
      // keep-rule all run on the filtered set, exactly as the Spark
      // plan does. The keep rule is the corpus-quantile threshold
      // (ceil(0.9 * n)-th smallest rounded score over the doc_id%7=3
      // sample — a discrete order statistic, no interpolation, so
      // the threshold is one of the shared doubles verbatim), +Inf
      // when the sample is empty. The Spark side computes it with
      // Quantiles.quantileDisc (histogram selection, no global
      // sort); quantile_disc's rank is the same ceil(p*n) — measured
      // against DuckDB v1.0.0, incl. NULL on empty input.
      "t20_curation_filtered" ->
        s"""WITH gg AS (SELECT doc_id, term FROM (
             SELECT doc_id, unnest(string_split($norm, ' ')) AS term
             FROM documents) WHERE len(term) > 0),
           dt AS (SELECT doc_id, term, count(*) AS k FROM gg
             GROUP BY doc_id, term),
           f AS (SELECT term, sum(k) AS cnt FROM dt GROUP BY term),
           tot AS (SELECT sum(cnt) AS total FROM f),
           lmk AS (SELECT doc_id, sum(k)::BIGINT AS n_tokens,
               sum((k * (-ln(cnt::DOUBLE / total::DOUBLE)))
                 ::DECIMAL(38,18))::DOUBLE / sum(k) AS ms
             FROM dt JOIN f USING (term) CROSS JOIN tot
             GROUP BY doc_id),
           samp AS (SELECT round(ms, 6) AS msr FROM lmk
             WHERE doc_id % 7 = 3),
           thr AS (SELECT coalesce(quantile_disc(msr, 0.9),
               'infinity'::DOUBLE) AS ms_thr FROM samp),
           keep AS (SELECT doc_id, n_tokens FROM lmk CROSS JOIN thr
             WHERE round(ms, 6) <= ms_thr),
           e AS MATERIALIZED (SELECT vec_id AS id, embedding::DOUBLE[] AS v
             FROM embeddings JOIN keep ON vec_id = keep.doc_id),
           $adaptiveCentSql,
           ${semChainSql()},
           semk AS (SELECT g.id FROM asg g
             LEFT JOIN dropped dd ON g.id = dd.id
             WHERE dd.id IS NULL)
           SELECT d.source, count(*) AS n_docs,
             sum(keep.n_tokens)::BIGINT AS sum_tokens
           FROM documents d
           JOIN keep ON d.doc_id = keep.doc_id
           JOIN semk ON d.doc_id = semk.id
           GROUP BY d.source ORDER BY d.source""",
      // t19's chain on the id%31 slice: the surprisal MLE, the
      // adaptive cluster count, and the SemDeDup verdicts all read
      // the SLICED corpus — exactly what the Spark witness runs.
      "t22_curation_semantic_witness" ->
        s"""WITH d31 AS MATERIALIZED (SELECT * FROM documents
             WHERE doc_id % 31 = 7),
           gg AS (SELECT doc_id, term FROM (
             SELECT doc_id, unnest(string_split($norm, ' ')) AS term
             FROM d31) WHERE len(term) > 0),
           dt AS (SELECT doc_id, term, count(*) AS k FROM gg
             GROUP BY doc_id, term),
           f AS (SELECT term, sum(k) AS cnt FROM dt GROUP BY term),
           tot AS (SELECT sum(cnt) AS total FROM f),
           lmk AS (SELECT doc_id, sum(k)::BIGINT AS n_tokens,
               sum((k * (-ln(cnt::DOUBLE / total::DOUBLE)))
                 ::DECIMAL(38,18))::DOUBLE / sum(k) AS ms
             FROM dt JOIN f USING (term) CROSS JOIN tot
             GROUP BY doc_id),
           samp AS (SELECT round(ms, 6) AS msr FROM lmk
             WHERE doc_id % 7 = 3),
           thr AS (SELECT coalesce(quantile_disc(msr, 0.9),
               'infinity'::DOUBLE) AS ms_thr FROM samp),
           keep AS (SELECT doc_id, n_tokens FROM lmk CROSS JOIN thr
             WHERE round(ms, 6) <= ms_thr),
           e AS MATERIALIZED (SELECT vec_id AS id, embedding::DOUBLE[] AS v
             FROM embeddings WHERE vec_id % 31 = 7),
           $adaptiveCentSql,
           ${semChainSql()},
           semk AS (SELECT g.id FROM asg g
             LEFT JOIN dropped dd ON g.id = dd.id
             WHERE dd.id IS NULL)
           SELECT d.source, count(*) AS n_docs,
             sum(keep.n_tokens)::BIGINT AS sum_tokens
           FROM d31 d
           JOIN keep ON d.doc_id = keep.doc_id
           JOIN semk ON d.doc_id = semk.id
           GROUP BY d.source ORDER BY d.source""",
      // t20's filtered-first chain on the slice: the quantile
      // threshold reads the slice's own doc_id%7=3 sample, and the
      // embedding corpus `e` is the slice pre-filtered to survivors.
      "t23_curation_filtered_witness" ->
        s"""WITH d31 AS MATERIALIZED (SELECT * FROM documents
             WHERE doc_id % 31 = 7),
           gg AS (SELECT doc_id, term FROM (
             SELECT doc_id, unnest(string_split($norm, ' ')) AS term
             FROM d31) WHERE len(term) > 0),
           dt AS (SELECT doc_id, term, count(*) AS k FROM gg
             GROUP BY doc_id, term),
           f AS (SELECT term, sum(k) AS cnt FROM dt GROUP BY term),
           tot AS (SELECT sum(cnt) AS total FROM f),
           lmk AS (SELECT doc_id, sum(k)::BIGINT AS n_tokens,
               sum((k * (-ln(cnt::DOUBLE / total::DOUBLE)))
                 ::DECIMAL(38,18))::DOUBLE / sum(k) AS ms
             FROM dt JOIN f USING (term) CROSS JOIN tot
             GROUP BY doc_id),
           samp AS (SELECT round(ms, 6) AS msr FROM lmk
             WHERE doc_id % 7 = 3),
           thr AS (SELECT coalesce(quantile_disc(msr, 0.9),
               'infinity'::DOUBLE) AS ms_thr FROM samp),
           keep AS (SELECT doc_id, n_tokens FROM lmk CROSS JOIN thr
             WHERE round(ms, 6) <= ms_thr),
           e AS MATERIALIZED (SELECT vec_id AS id, embedding::DOUBLE[] AS v
             FROM embeddings JOIN keep ON vec_id = keep.doc_id
             WHERE vec_id % 31 = 7),
           $adaptiveCentSql,
           ${semChainSql()},
           semk AS (SELECT g.id FROM asg g
             LEFT JOIN dropped dd ON g.id = dd.id
             WHERE dd.id IS NULL)
           SELECT d.source, count(*) AS n_docs,
             sum(keep.n_tokens)::BIGINT AS sum_tokens
           FROM d31 d
           JOIN keep ON d.doc_id = keep.doc_id
           JOIN semk ON d.doc_id = semk.id
           GROUP BY d.source ORDER BY d.source""",
      // Unigram surprisal: corpus MLE frequencies, exact token total,
      // -ln(cnt/total) per token, DECIMAL per-doc sum / count — the
      // identical expression tree.
      "t18_surprisal" ->
        s"""WITH gg AS (SELECT doc_id, term FROM (
             SELECT doc_id, unnest(string_split($norm, ' ')) AS term
             FROM documents) WHERE len(term) > 0),
           dt AS (SELECT doc_id, term, count(*) AS k FROM gg
             GROUP BY doc_id, term),
           f AS (SELECT term, sum(k) AS cnt FROM dt GROUP BY term),
           tot AS (SELECT sum(cnt) AS total FROM f),
           s AS (SELECT doc_id, sum(k)::BIGINT AS n_tokens,
               sum((k * (-ln(cnt::DOUBLE / total::DOUBLE)))
                 ::DECIMAL(38,18))::DOUBLE / sum(k) AS ms
             FROM dt JOIN f USING (term) CROSS JOIN tot
             GROUP BY doc_id)
           SELECT doc_id, n_tokens, round(ms, 6) AS mean_surprisal,
             ms > 3.45 AS is_outlier
           FROM s ORDER BY doc_id""",
      // Bigram Stupid Backoff: unigram/bigram counts from the
      // doc_id%3==1 training slice; first token and unseen
      // bigrams/terms take the add-one unigram base (x0.4 on the
      // backoff path), seen bigrams the cnt2/cnt(prev) MLE; DECIMAL
      // per-instance sum — every expression the Spark plan's twin.
      "t26_bigram_surprisal" ->
        s"""WITH ${bigramMsCtesSql(norm, "doc_id % 3 = 1", "")}
           SELECT doc_id, n_tokens, ms AS mean_surprisal
           FROM lm ORDER BY doc_id""",
      // Moore–Lewis cross-entropy difference: TWO instantiations of
      // the t26 chain — the source-keyed in-domain model and the
      // id-modulus general model — joined per doc; the score is the
      // round-6 difference of the two round-6 means, exactly the
      // Spark expression.
      "t32_ce_diff" ->
        s"""WITH ${bigramMsCtesSql(norm,
             "source IN ('src0', 'src1')", "_i")},
           ${bigramMsCtesSql(norm, "doc_id % 3 = 1", "_g")}
           SELECT a.doc_id, a.n_tokens, a.ms AS ms_in,
             b.ms AS ms_gen, round(a.ms - b.ms, 6) AS ce_diff
           FROM lm_i a JOIN lm_g b ON a.doc_id = b.doc_id
           ORDER BY a.doc_id""",
      // DSIR hashed-ngram importance weights: portable base-31 hash
      // of every uni+bigram mod 8192 buckets, add-one bucket
      // multinomials of the target (src0/src1) and raw (doc_id%3==1)
      // slices, per-doc DECIMAL sum of k * (ln p - ln q).
      "t33_dsir_weights" -> t33Sql,
      // DSIR Gumbel-top-k resample over t33's weights: the portable
      // LCG uniform shifted to (0,1), the double-log Gumbel, ranked
      // by the ROUNDED key with doc_id tie-break. MATERIALIZED (the
      // d22/BPE precedent): at the 1000x fixture the inlined form
      // spilled past the box's disk under the top-k rewrite while
      // t33's identical weight derivation alone completed in 171 s —
      // materializing pins the weights to one 5M-row evaluation.
      "t35_dsir_resample" ->
        s"""WITH w AS MATERIALIZED ($t33Sql)
           SELECT doc_id, n_grams, logw,
             round(logw + -ln(-ln(
               ((((doc_id % 2147483648 + 2147483648) % 2147483648)
                   * 1103515245 + 12345) % 2147483648 + 0.5)
                 / 2147483648.0)), 6) AS gkey
           FROM w
           ORDER BY gkey DESC, doc_id LIMIT 100""",
      // fastText-shape NB quality classifier: hashed uni+bigram
      // bucket features, disjoint curated-vs-raw labels, add-one
      // per-bucket log-odds + document prior, keep = score > 0.
      "t37_quality_classifier" -> nbQualitySql(""),
      // t37 trained AND scored on the id%31 slice — the
      // 1000x-tractable witness form.
      "t38_quality_witness" -> nbQualitySql("WHERE doc_id % 31 = 7"),
      // Gopher repetition table: per-n gram lists by comprehension,
      // top-n = max multiplicity x largest char product among argmax
      // grams, dup-n = token-granular coverage union of >=2-count
      // gram occurrences; keep cross-multiplies the published
      // thresholds. Pure per-row scalar list ops — the oracle is
      // linear in documents.
      "t39_gopher_repetition" -> gopherSql,
      // Gopher quality rules: per-doc integer counters + the
      // published keep verdict, cross-multiplied thresholds.
      "t40_gopher_quality" -> t40Sql,
      // Composed full Gopher filter: repetition AND quality halves
      // re-derived independently, joined on doc_id.
      "t41_gopher_full" -> t41Sql,
      // Winnowing: d11's positioned gram hashes, an 8-frame window
      // min per start (full windows, plus the single short-doc
      // window at s=1), rightmost-tie via max(pos) among in-window
      // minima, DISTINCT (pos, fp) collapse.
      "t34_winnow_fingerprints" ->
        s"""WITH ${winnowCtesSql(norm, "")}
           SELECT doc_id, pos, fp FROM fp
           ORDER BY 1, 2""",
      // Winnowed candidate pairs: t34's chain, distinct (doc, fp),
      // the <=64-docs bucket filter, in-bucket self-join, pair
      // rollup with the >=2 shared-fingerprint floor.
      "d30_winnow_pairs" ->
        s"""WITH ${winnowCtesSql(norm, "")},
           df AS (SELECT DISTINCT doc_id, fp.fp AS f FROM fp),
           ok AS (SELECT f FROM df GROUP BY f
             HAVING count(*) <= 64),
           pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
             FROM df a JOIN df b ON a.f = b.f
               AND a.doc_id < b.doc_id
             JOIN ok ON ok.f = a.f)
           SELECT id_a, id_b, count(*)::BIGINT AS shared
           FROM pr GROUP BY id_a, id_b HAVING count(*) >= 2
           ORDER BY id_a, id_b""",
      // d30's chain on the id%5 slice — the decade-tractable
      // witness restatement (same cap semantics, slice-bounded;
      // %5 so the sf0.01 gate carries informative pairs).
      "d31_winnow_pairs_witness" ->
        s"""WITH ${winnowCtesSql(norm, "WHERE doc_id % 5 = 2")},
           df AS (SELECT DISTINCT doc_id, fp.fp AS f FROM fp),
           ok AS (SELECT f FROM df GROUP BY f
             HAVING count(*) <= 64),
           pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
             FROM df a JOIN df b ON a.f = b.f
               AND a.doc_id < b.doc_id
             JOIN ok ON ok.f = a.f)
           SELECT id_a, id_b, count(*)::BIGINT AS shared
           FROM pr GROUP BY id_a, id_b HAVING count(*) >= 2
           ORDER BY id_a, id_b""",
      // t34 on the id%31 slice, collapsed to the witness aggregates.
      "t36_winnow_witness" ->
        s"""WITH ${winnowCtesSql(norm, "WHERE doc_id % 31 = 7")}
           SELECT count(*)::BIGINT AS n_fps,
             coalesce(sum((doc_id * 1000003 + pos) % 1000000007),
               0)::BIGINT AS pos_checksum,
             coalesce(sum(fp % 1000000007), 0)::BIGINT AS fp_checksum
           FROM fp""",
      // Trigram Stupid Backoff: t26's restatement plus the trigram
      // stats table and the two-alpha arm. Float-parity pins: the
      // backoff-bigram arm multiplies alpha by the PARENTHESIZED
      // quotient (matching the Spark expression's association), and
      // the double-backoff arm forces 0.4::DOUBLE * 0.4::DOUBLE (a
      // bare 0.4 * 0.4 would multiply as DECIMAL and yield exact
      // 0.16 where IEEE gives 0.16000000000000003).
      "t31_trigram_surprisal" ->
        s"""WITH tkk AS (SELECT doc_id, tk FROM (
             SELECT doc_id, list_filter(string_split($norm, ' '),
               t -> len(t) > 0) AS tk FROM documents)
             WHERE len(tk) > 0),
           uni AS (SELECT term, count(*)::BIGINT AS cnt FROM (
               SELECT unnest(tk) AS term FROM tkk WHERE doc_id % 3 = 1)
             GROUP BY term),
           tot AS (SELECT sum(cnt)::BIGINT AS n,
             count(*)::BIGINT AS v FROM uni),
           bfreq AS (SELECT prev, cur, count(*)::BIGINT AS cnt2
             FROM (SELECT b.prev AS prev, b.cur AS cur FROM (
               SELECT unnest([{'prev': tk[i], 'cur': tk[i+1]}
                 FOR i IN range(1, len(tk))]) AS b
               FROM tkk WHERE doc_id % 3 = 1))
             GROUP BY prev, cur),
           tfreq AS (SELECT p2, p1, cur, count(*)::BIGINT AS cnt3
             FROM (SELECT t.p2 AS p2, t.p1 AS p1, t.cur AS cur FROM (
               SELECT unnest([{'p2': tk[i], 'p1': tk[i+1],
                   'cur': tk[i+2]}
                 FOR i IN range(1, len(tk) - 1)]) AS t
               FROM tkk WHERE doc_id % 3 = 1))
             GROUP BY p2, p1, cur),
           fst AS (SELECT doc_id, 1::BIGINT AS k,
             -ln((coalesce(uni.cnt, 0) + 1)::DOUBLE
               / (n + v)::DOUBLE) AS s
             FROM (SELECT doc_id, tk[1] AS term FROM tkk) f
             LEFT JOIN uni ON uni.term = f.term CROSS JOIN tot),
           snd AS (SELECT doc_id, 1::BIGINT AS k,
             CASE WHEN bf.cnt2 IS NOT NULL
               THEN -ln(bf.cnt2::DOUBLE / up.cnt::DOUBLE)
               ELSE -ln(0.4 * ((coalesce(uc.cnt, 0) + 1)::DOUBLE
                 / (n + v)::DOUBLE)) END AS s
             FROM (SELECT doc_id, tk[1] AS prev, tk[2] AS cur
               FROM tkk WHERE len(tk) >= 2) f
             LEFT JOIN bfreq bf ON bf.prev = f.prev
               AND bf.cur = f.cur
             LEFT JOIN uni up ON up.term = f.prev
             LEFT JOIN uni uc ON uc.term = f.cur
             CROSS JOIN tot),
           tg AS (SELECT doc_id, p2, p1, cur,
               count(*)::BIGINT AS k
             FROM (SELECT doc_id, t.p2 AS p2, t.p1 AS p1,
                 t.cur AS cur FROM (
               SELECT doc_id, unnest([{'p2': tk[i], 'p1': tk[i+1],
                   'cur': tk[i+2]}
                 FOR i IN range(1, len(tk) - 1)]) AS t FROM tkk))
             GROUP BY doc_id, p2, p1, cur),
           rst AS (SELECT doc_id, k,
             CASE WHEN tf.cnt3 IS NOT NULL
               THEN -ln(tf.cnt3::DOUBLE / bc.cnt2::DOUBLE)
               WHEN bb.cnt2 IS NOT NULL
               THEN -ln(0.4 * (bb.cnt2::DOUBLE / up1.cnt::DOUBLE))
               ELSE -ln(0.4::DOUBLE * 0.4::DOUBLE
                 * ((coalesce(uc.cnt, 0) + 1)::DOUBLE
                   / (n + v)::DOUBLE)) END AS s
             FROM tg
             LEFT JOIN tfreq tf ON tf.p2 = tg.p2 AND tf.p1 = tg.p1
               AND tf.cur = tg.cur
             LEFT JOIN bfreq bc ON bc.prev = tg.p2
               AND bc.cur = tg.p1
             LEFT JOIN bfreq bb ON bb.prev = tg.p1
               AND bb.cur = tg.cur
             LEFT JOIN uni up1 ON up1.term = tg.p1
             LEFT JOIN uni uc ON uc.term = tg.cur
             CROSS JOIN tot)
           SELECT doc_id, sum(k)::BIGINT AS n_tokens,
             round(sum((k::DOUBLE * s)::DECIMAL(38,18))::DOUBLE
               / sum(k), 6) AS mean_surprisal
           FROM (SELECT * FROM fst UNION ALL SELECT * FROM snd
             UNION ALL SELECT * FROM rst)
           GROUP BY doc_id ORDER BY doc_id""",
      // BM25: Lucene-style idf, k1=1.5 b=0.75 (every constant an exact
      // double), avgdl as an integer quotient, DECIMAL per-term sum —
      // the same expression tree as the Spark plan, term for term.
      "t17_bm25" -> t17Sql,
      // BPE training: 12 unrolled merge rounds; the final read stamps
      // each round's argmax with its step number.
      "t24_bpe_merges" ->
        s"""WITH ${bpeCtesSql(norm, 12, 2)}
           SELECT step, lhs, rhs, lhs || rhs AS merged,
             cnt AS pair_count
           FROM (${(1 to 12).map(n =>
               s"SELECT $n AS step, lhs, rhs, cnt FROM b${n - 1}")
             .mkString(" UNION ALL ")})
           ORDER BY step""",
      // BPE segmentation: every word instance runs the same nested
      // replace chain (== the Spark dictionary-join + fallback split,
      // which takes the identical expression through two routes).
      // BPE encoding: w12's distinct symbols ranked lexicographically
      // (binary collation = UTF-8 byte order = Spark's UTF8String
      // order) are the vocabulary; DISTINCT words run the nested
      // replace segmentation once (per-instance evaluation OOM'd
      // DuckDB at the 100x fixture — vocabulary-sized work, exactly
      // like the Spark side's dictionary join), symbols look their
      // ids up (OOV -> -1), each word's id string reassembles in
      // symbol order, and instances concatenate per doc in word
      // order. Spark's positions are 0-based and DuckDB's 1-based —
      // order-only quantities, so the ORDER BYs agree.
      "t27_bpe_encode" ->
        s"""WITH ${bpeCtesSql(norm, 12, 2)},
           vocab AS (SELECT sym,
             row_number() OVER (ORDER BY sym) - 1 AS tid FROM (
             SELECT DISTINCT unnest(string_split(trim(seq), '  '))
               AS sym FROM w12)),
           inst AS (SELECT doc_id, wp.i AS wpos, wp.w AS word FROM (
             SELECT doc_id, unnest([{'i': i, 'w': tk[i]}
               FOR i IN range(1, len(tk) + 1)]) AS wp
             FROM (SELECT doc_id,
               list_filter(string_split($norm, ' '),
                 t -> len(t) > 0) AS tk FROM documents))),
           wseg AS MATERIALIZED (SELECT word,
             string_split(trim(${bpeSegmentSql(12)}), '  ') AS ss
             FROM (SELECT DISTINCT word FROM inst)),
           wsym AS (SELECT word, sp.i AS spos, sp.s AS sym FROM (
             SELECT word, unnest([{'i': i, 's': ss[i]}
               FOR i IN range(1, len(ss) + 1)]) AS sp FROM wseg)),
           wtok AS MATERIALIZED (SELECT word,
             count(*)::BIGINT AS n,
             string_agg(coalesce(vocab.tid, -1)::VARCHAR, ' '
               ORDER BY spos) AS ids
             FROM wsym LEFT JOIN vocab ON vocab.sym = wsym.sym
             GROUP BY word)
           SELECT doc_id, sum(n)::BIGINT AS n_bpe_tokens,
             string_agg(ids, ' ' ORDER BY wpos) AS token_ids
           FROM inst JOIN wtok USING (word)
           GROUP BY doc_id ORDER BY doc_id""",
      // t27's full pipeline on the deterministic id%31 slice — the
      // sliced-full-oracle witness (t22/t23 pattern) that carries the
      // encode stage at the 1000x decade, where the full oracle's
      // ordered string_agg over ~5e8 word instances is
      // DuckDB-resource-bound (the Spark side completes and dumps).
      "t28_bpe_encode_witness" ->
        s"""WITH ${bpeCtesSql(norm, 12, 2,
             "documents WHERE doc_id % 31 = 3")},
           vocab AS (SELECT sym,
             row_number() OVER (ORDER BY sym) - 1 AS tid FROM (
             SELECT DISTINCT unnest(string_split(trim(seq), '  '))
               AS sym FROM w12)),
           inst AS (SELECT doc_id, wp.i AS wpos, wp.w AS word FROM (
             SELECT doc_id, unnest([{'i': i, 'w': tk[i]}
               FOR i IN range(1, len(tk) + 1)]) AS wp
             FROM (SELECT doc_id,
               list_filter(string_split($norm, ' '),
                 t -> len(t) > 0) AS tk FROM documents
               WHERE doc_id % 31 = 3))),
           wseg AS MATERIALIZED (SELECT word,
             string_split(trim(${bpeSegmentSql(12)}), '  ') AS ss
             FROM (SELECT DISTINCT word FROM inst)),
           wsym AS (SELECT word, sp.i AS spos, sp.s AS sym FROM (
             SELECT word, unnest([{'i': i, 's': ss[i]}
               FOR i IN range(1, len(ss) + 1)]) AS sp FROM wseg)),
           wtok AS MATERIALIZED (SELECT word,
             count(*)::BIGINT AS n,
             string_agg(coalesce(vocab.tid, -1)::VARCHAR, ' '
               ORDER BY spos) AS ids
             FROM wsym LEFT JOIN vocab ON vocab.sym = wsym.sym
             GROUP BY word)
           SELECT doc_id, sum(n)::BIGINT AS n_bpe_tokens,
             string_agg(ids, ' ' ORDER BY wpos) AS token_ids
           FROM inst JOIN wtok USING (word)
           GROUP BY doc_id ORDER BY doc_id""",
      "t25_bpe_token_counts" ->
        s"""WITH ${bpeCtesSql(norm, 12, 2)},
           inst AS (SELECT doc_id,
             unnest(list_filter(string_split($norm, ' '),
               t -> len(t) > 0)) AS word FROM documents)
           SELECT doc_id, count(*)::BIGINT AS n_words,
             sum(len(string_split(trim(${bpeSegmentSql(12)}),
               '  ')))::BIGINT AS n_bpe_tokens
           FROM inst GROUP BY doc_id ORDER BY doc_id""",
      // Byte-level BPE encoding (GPT-2 shape): raw-text regex
      // pre-tokens, hex-byte seeds, the shared 12 merge rounds, a
      // CLOSED vocabulary (256 byte ids + 256+index per merge,
      // min(tid) on duplicate merge products) — an INNER id join, no
      // UNK arm. DISTINCT pre-tokens segment once (the t27 pattern);
      // instances reassemble in (pre-token, symbol) order.
      "t29_byte_bpe_encode" -> byteBpeEncodeOracleSql("documents"),
      // t29's full pipeline on the id%31 slice — the 1000x-tractable
      // witness (t28 pattern).
      "t30_byte_bpe_witness" -> byteBpeEncodeOracleSql(
        "documents WHERE doc_id % 31 = 3"),
      // The persisted-stats path must be bit-identical to the one-shot
      // path, so its oracle IS t17's restatement.
      "t21_bm25_persisted" -> t17Sql,
      // HLL registers: bucket = h mod 256, rho = trailing-zero rank
      // of the remaining bits + 1 (23 when they are all zero) — pure
      // integer arithmetic on the portable hash.
      "t10_hll_registers" ->
        s"""WITH terms AS (SELECT term FROM (
             SELECT unnest(string_split($norm, ' ')) AS term
             FROM documents) WHERE len(term) > 0),
           th AS (SELECT
             list_reduce(list_prepend(0::BIGINT,
               [ascii(c)::BIGINT FOR c IN string_split(term, '')]),
               (acc, c) -> (acc*31 + c) % 1000000007) AS h
             FROM terms),
           -- xxhash32-style avalanche finalizer (must mirror
           -- Sketches.hllRegisters exactly)
           mx0 AS (SELECT xor(h, h // 65536) AS x FROM th),
           mx1 AS (SELECT (x * 2654435761) % 1073741824 AS x FROM mx0),
           mx2 AS (SELECT xor(x, x // 8192) AS x FROM mx1),
           mx3 AS (SELECT (x * 2246822519) % 1073741824 AS x FROM mx2),
           mx4 AS (SELECT xor(x, x // 65536) AS x FROM mx3),
           hb AS (SELECT x % 256 AS bucket, x // 256 AS rest FROM mx4),
           rho AS (SELECT bucket,
             CASE WHEN rest = 0 THEN 23
               ELSE len([k FOR k IN range(1, 23)
                 IF rest % (1::BIGINT << k) = 0]) + 1 END AS rho
             FROM hb)
           SELECT bucket, max(rho)::INTEGER AS max_rho
           FROM rho GROUP BY bucket ORDER BY bucket""",
      // CMS restatement: the same portable hash family (baked affine
      // coefficients), depth-4 width-1024 counters, min-of-counters
      // estimate for the exact top 20.
      "t09_cms_heavy_hitters" -> {
        val coefs = (0 until 4).map(i =>
          s"(${i}, ${graft.functions.PolyHash.multiplier(i)}, " +
            s"${graft.functions.PolyHash.offset(i)})").mkString(", ")
        val termHash =
          """list_reduce(list_prepend(0::BIGINT,
             [ascii(c)::BIGINT FOR c IN string_split(term, '')]),
             (acc, c) -> (acc*31 + c) % 1000000007)"""
        s"""WITH terms AS (SELECT term FROM (
             SELECT unnest(string_split($norm, ' ')) AS term
             FROM documents) WHERE len(term) > 0),
           th AS (SELECT term, $termHash AS h FROM terms),
           cf(r, a, b) AS (SELECT * FROM (VALUES $coefs)),
           counters AS (SELECT r,
             ((a * h + b) % 1000000007) % 1024 AS bucket,
             count(*) AS ccnt
             FROM th CROSS JOIN cf GROUP BY 1, 2),
           top AS (SELECT term, count(*) AS cnt FROM terms
             GROUP BY 1 ORDER BY cnt DESC, term ASC LIMIT 20),
           toph AS (SELECT term, cnt, $termHash AS h FROM top),
           probes AS (SELECT term, cnt, r,
             ((a * h + b) % 1000000007) % 1024 AS bucket
             FROM toph CROSS JOIN cf)
           SELECT p.term, p.cnt, min(c.ccnt)::BIGINT AS cms_estimate
           FROM probes p
           JOIN counters c ON c.r = p.r AND c.bucket = p.bucket
           GROUP BY p.term, p.cnt
           ORDER BY p.cnt DESC, p.term ASC"""
      },
      "t08_packing" ->
        s"""WITH toks AS (SELECT doc_id, string_split($norm, ' ') AS tk
             FROM documents),
           st AS (SELECT doc_id, tk,
             unnest(range(0, len(tk), 56)) AS start,
             generate_subscripts(range(0, len(tk), 56), 1) - 1
               AS chunk_idx
             FROM toks),
           chunks AS (SELECT doc_id, chunk_idx,
             least(len(tk) - start, 64) AS chunk_tokens
             FROM st),
           sharded AS (SELECT c.doc_id, c.chunk_idx, c.chunk_tokens,
             d.source FROM chunks c JOIN documents d USING (doc_id)),
           packed AS (SELECT source, chunk_tokens,
             (((sum(chunk_tokens) OVER (PARTITION BY source
                 ORDER BY doc_id, chunk_idx
                 ROWS UNBOUNDED PRECEDING) - chunk_tokens) // 512))::BIGINT
               AS bin_id
             FROM sharded)
           SELECT source, bin_id, count(*) AS n_chunks,
             sum(chunk_tokens)::BIGINT AS bin_tokens
           FROM packed GROUP BY source, bin_id
           ORDER BY source, bin_id""",
      // Same regexes, RE2 semantics on both engines; DuckDB needs the
      // 'g' flag to match Spark's replace-all default.
      "t11_pii_scrub" -> {
        val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
        val ip = "([0-9]{1,3}\\.){3}[0-9]{1,3}"
        s"""WITH dirty AS (SELECT doc_id,
             CASE WHEN doc_id % 7 = 0
               THEN text || ' contact user' || doc_id
                 || '@example.com now'
               WHEN doc_id % 11 = 0
               THEN text || ' from 10.1.2.' || (doc_id % 256)
               ELSE text END AS text2
             FROM documents)
           SELECT doc_id,
             len(regexp_extract_all(text2, '$email')) AS n_email,
             len(regexp_extract_all(text2, '$ip')) AS n_ip,
             md5(regexp_replace(regexp_replace(text2,
               '$email', '<EMAIL>', 'g'), '$ip', '<IP>', 'g'))
               AS scrubbed_md5
           FROM dirty ORDER BY doc_id"""
      },
      "t12_contamination" ->
        s"""WITH g AS (SELECT doc_id AS id,
             unnest(${polyHashWideListSql("grams")}) AS gram FROM (
             SELECT doc_id,
               list_distinct(CASE WHEN len(t) < 8 THEN [t]
                 ELSE [substr(t, i, 8)
                   FOR i IN range(1, len(t) - 6)] END) AS grams
             FROM (SELECT doc_id, $norm AS t FROM documents))),
           bg AS (SELECT DISTINCT gram FROM g WHERE id < 50),
           sizes AS (SELECT id, count(*) AS n_grams FROM g GROUP BY id),
           hits AS (SELECT id, count(*) AS n_hit FROM g
             WHERE gram IN (SELECT gram FROM bg) GROUP BY id)
           SELECT s.id AS doc_id, s.n_grams,
             coalesce(h.n_hit, 0)::BIGINT AS n_hit,
             round(coalesce(h.n_hit, 0)::DOUBLE / s.n_grams::DOUBLE, 6)
               AS overlap_ratio
           FROM sizes s LEFT JOIN hits h ON s.id = h.id
           ORDER BY doc_id""",
      "t07_stratified_cap" ->
        """SELECT source, doc_id, rn FROM (
             SELECT source, doc_id,
               row_number() OVER (PARTITION BY source
                 ORDER BY md5(text) ASC, doc_id ASC) AS rn
             FROM documents)
           WHERE rn <= 15 ORDER BY source, rn""",
      "mm01_media_meta" ->
        """SELECT doc_id AS media_id,
           octet_length(encode(text)) AS n_bytes,
           sha256(text) AS sha
           FROM documents ORDER BY media_id""",
      // The oracle restates the SOURCE raster formula (dims and
      // pixels are functions of media_id); the Spark side must
      // recover exactly these stats from the decoded PNG. list_sum
      // returns HUGEINT — cast to DOUBLE before dividing; seed the
      // rolling hash with a BIGINT so the fold stays in int64.
      "mm02_media_features" ->
        """WITH im AS (SELECT doc_id AS media_id,
             (8 + (doc_id % 9))::BIGINT AS w,
             (8 + ((doc_id // 9) % 9))::BIGINT AS h
           FROM documents),
           px AS (SELECT media_id, w, h,
             [(media_id*31 + i*7) % 256
              FOR i IN range(0, w*h)] AS ps
           FROM im)
           SELECT media_id, w::INTEGER AS width, h::INTEGER AS height,
             round(list_sum(ps)::DOUBLE / (w*h), 6) AS mean_px,
             list_min(ps)::INTEGER AS px_min,
             list_max(ps)::INTEGER AS px_max,
             list_reduce(list_prepend(0::BIGINT, ps),
               (a, c) -> (a*31 + c) % 1000000007)::BIGINT AS px_hash
           FROM px ORDER BY media_id""",
      // Frame sampling over real AVI containers: the oracle
      // reconstructs each sampled frame's exact DIB chunk bytes from
      // the source formula — bottom-up rows (row r holds source row
      // h-1-r), each padded to the 4-byte stride — and folds the
      // same base-31 rolling hash the Spark side computes over the
      // raw chunk bytes at the parse offsets.
      "mm03_frame_sample" ->
        """WITH v AS (SELECT doc_id AS media_id,
             (8 + (doc_id % 7))::BIGINT AS w,
             (8 + ((doc_id // 7) % 5))::BIGINT AS h,
             (2 + (doc_id % 4))::BIGINT AS n
           FROM documents),
           fr AS (SELECT media_id, w, h,
             ((w + 3) // 4 * 4) AS str,
             unnest(range(0, n, 2)) AS frame_idx FROM v),
           bts AS (SELECT media_id, frame_idx, h, str,
             flatten([
               [(media_id*31 + frame_idx*97 + ((h-1-r)*w + x)*7) % 256
                FOR x IN range(0, w)] ||
               [p*0 FOR p IN range(0, str - w)]
              FOR r IN range(0, h)]) AS bs
           FROM fr)
           SELECT media_id, frame_idx::INTEGER AS frame_idx,
             (str * h)::BIGINT AS frame_len,
             list_reduce(list_prepend(0::BIGINT, bs),
               (acc, c) -> (acc*31 + c) % 1000000007)::BIGINT
               AS frame_hash
           FROM bts ORDER BY media_id, frame_idx""",
      // The oracle restates the SOURCE frame formula (dims, frame
      // count, and pixels are functions of media_id and frame_idx);
      // the Spark side must recover exactly these stats from the
      // decoded AVI container. Stride-2 frame sampling.
      "mm04_video_decode" ->
        """WITH v AS (SELECT doc_id AS media_id,
             (8 + (doc_id % 7))::BIGINT AS w,
             (8 + ((doc_id // 7) % 5))::BIGINT AS h,
             (2 + (doc_id % 4))::BIGINT AS n
           FROM documents),
           fr AS (SELECT media_id, w, h,
             unnest(range(0, n, 2)) AS frame_idx FROM v),
           px AS (SELECT media_id, w, h, frame_idx,
             [(media_id*31 + frame_idx*97 + i*7) % 256
              FOR i IN range(0, w*h)] AS ps
           FROM fr)
           SELECT media_id, frame_idx::INTEGER AS frame_idx,
             w::INTEGER AS width, h::INTEGER AS height,
             round(list_sum(ps)::DOUBLE / (w*h), 6) AS mean_px,
             list_min(ps)::INTEGER AS px_min,
             list_max(ps)::INTEGER AS px_max,
             list_reduce(list_prepend(0::BIGINT, ps),
               (acc, c) -> (acc*31 + c) % 1000000007)::BIGINT
               AS px_hash
           FROM px ORDER BY media_id, frame_idx""",
      // Source sample formula for the PCM WAV round trip; the +32768
      // shift keeps the rolling-hash fold over non-negative values so
      // truncated % agrees across engines.
      "mm05_audio_decode" ->
        """WITH a AS (SELECT doc_id AS media_id,
             (64 + (doc_id % 64))::BIGINT AS n FROM documents),
           smp AS (SELECT media_id, n,
             [(media_id*13 + k*31) % 4096 - 2048
              FOR k IN range(0, n)] AS ss
           FROM a)
           SELECT media_id, 8000 AS sample_rate,
             n::INTEGER AS n_samples,
             list_min(ss)::INTEGER AS amp_min,
             list_max(ss)::INTEGER AS amp_max,
             list_sum(ss)::BIGINT AS amp_sum,
             list_reduce(list_prepend(0::BIGINT,
               [s + 32768 FOR s IN ss]),
               (acc, c) -> (acc*31 + c) % 1000000007)::BIGINT
               AS amp_hash
           FROM smp ORDER BY media_id""",
      // Resized pixel (x,y) maps to source index
      // ((y*h)//8)*w + (x*w)//8; with y = k//8, x = k%8 the oracle
      // computes each resized pixel straight from the source formula
      // — no image machinery needed on the oracle side.
      "mm06_image_resize" ->
        """WITH im AS (SELECT doc_id AS media_id,
             (8 + (doc_id % 9))::BIGINT AS w,
             (8 + ((doc_id // 9) % 9))::BIGINT AS h
           FROM documents),
           px AS (SELECT media_id,
             [(media_id*31 +
               ((k // 8) * h // 8 * w + (k % 8) * w // 8) * 7) % 256
              FOR k IN range(0, 64)] AS ps
           FROM im)
           SELECT media_id, 8 AS width, 8 AS height,
             round(list_sum(ps)::DOUBLE / 64, 6) AS mean_px,
             list_min(ps)::INTEGER AS px_min,
             list_max(ps)::INTEGER AS px_max,
             list_reduce(list_prepend(0::BIGINT, ps),
               (acc, c) -> (acc*31 + c) % 1000000007)::BIGINT
               AS px_hash
           FROM px ORDER BY media_id""",
      // Windowed audio features over the mm05 sample formula;
      // trailing partial window dropped (n // 32 full windows).
      "mm07_audio_windows" ->
        """WITH a AS (SELECT doc_id AS media_id,
             (64 + (doc_id % 64))::BIGINT AS n FROM documents),
           w AS (SELECT media_id, n,
             unnest(range(0, n // 32)) AS win_idx FROM a),
           smp AS (SELECT media_id, win_idx,
             [(media_id*13 + k*31) % 4096 - 2048
              FOR k IN range(win_idx*32, win_idx*32 + 32)] AS ss
           FROM w)
           SELECT media_id, win_idx::INTEGER AS win_idx,
             list_sum([s*s FOR s IN ss])::BIGINT AS energy,
             list_max([abs(s) FOR s IN ss])::INTEGER AS peak,
             list_reduce(list_prepend(0::BIGINT,
               [s + 32768 FOR s IN ss]),
               (acc, c) -> (acc*31 + c) % 1000000007)::BIGINT
               AS win_hash
           FROM smp ORDER BY media_id, win_idx""",
      // dHash bits from the source formula through the same 8x8
      // nearest-neighbor mapping as mm06: resized pixel k (y=k//8,
      // x=k%8) = (seed*31 + ((k//8)*h//8*w + (k%8)*w//8)*7) % 256;
      // bit j (y=j//7, x=j%7) set iff pixel(x,y) > pixel(x+1,y).
      "mm08_image_dhash" ->
        """WITH im AS (SELECT doc_id AS media_id,
             doc_id % 97 AS seed,
             (8 + (doc_id % 97) % 9)::BIGINT AS w,
             (8 + ((doc_id % 97) // 9) % 9)::BIGINT AS h
           FROM documents),
           px AS (SELECT media_id,
             [(seed*31 +
               ((k // 8) * h // 8 * w + (k % 8) * w // 8) * 7) % 256
              FOR k IN range(0, 64)] AS ps
           FROM im),
           hs AS (SELECT media_id,
             list_sum([CASE WHEN
                 ps[(j // 7) * 8 + (j % 7) + 1] >
                 ps[(j // 7) * 8 + (j % 7) + 2]
               THEN (1::BIGINT << j) ELSE 0 END
              FOR j IN range(0, 56)])::BIGINT AS dhash
           FROM px),
           grp AS (SELECT dhash, min(media_id) AS keep_id,
               count(*)::BIGINT AS grp_size
             FROM hs GROUP BY dhash)
           SELECT media_id, hs.dhash, keep_id, grp_size
           FROM hs JOIN grp ON hs.dhash = grp.dhash
           ORDER BY media_id""",
      // Window energies from the sample formula (mm07 geometry at
      // window=16), then one delta-sign bit per consecutive pair:
      // bit wi-1 set iff e[wi] > e[wi-1] (es is 1-based in DuckDB).
      "mm09_audio_fingerprint" ->
        """WITH a AS (SELECT doc_id AS media_id, doc_id % 89 AS seed,
             (64 + (doc_id % 89) % 64)::BIGINT AS n FROM documents),
           en AS (SELECT media_id, (n // 16)::INTEGER AS n_windows,
             [list_sum([((seed*13 + k*31) % 4096 - 2048)
                        * ((seed*13 + k*31) % 4096 - 2048)
                FOR k IN range(wi*16, wi*16 + 16)])
              FOR wi IN range(0, n // 16)] AS es
           FROM a),
           fps AS (SELECT media_id, n_windows,
             coalesce(list_sum([CASE WHEN es[wi + 1] > es[wi]
                 THEN (1::BIGINT << (wi - 1)) ELSE 0 END
               FOR wi IN range(1, n_windows)]), 0)::BIGINT AS fp
           FROM en),
           grp AS (SELECT fp, n_windows, min(media_id) AS keep_id,
               count(*)::BIGINT AS grp_size
             FROM fps GROUP BY fp, n_windows)
           SELECT media_id, fps.fp, fps.n_windows, keep_id, grp_size
           FROM fps JOIN grp ON fps.fp = grp.fp
             AND fps.n_windows = grp.n_windows
           ORDER BY media_id""",
      // Per sampled frame f: dHash bit j compares the resized pixels
      // at x=j%7 and x=j%7+1 of row y=j//7, both recomputed from the
      // frame formula through the resize index mapping; the frame
      // hashes (reduced mod 1e9+7) then fold in sample order.
      "mm10_video_signature" ->
        """WITH v AS (SELECT doc_id AS media_id, doc_id % 53 AS seed,
             (8 + (doc_id % 53) % 7)::BIGINT AS w,
             (8 + ((doc_id % 53) // 7) % 5)::BIGINT AS h,
             (2 + (doc_id % 53) % 4)::BIGINT AS n
           FROM documents),
           hs AS (SELECT media_id, n::INTEGER AS n_frames,
             ((n + 1) // 2)::INTEGER AS n_sampled,
             [list_sum([CASE WHEN
                 (seed*31 + f*97 +
                  ((j // 7) * h // 8 * w + (j % 7) * w // 8) * 7)
                   % 256 >
                 (seed*31 + f*97 +
                  ((j // 7) * h // 8 * w + ((j % 7) + 1) * w // 8)
                   * 7) % 256
               THEN (1::BIGINT << j) ELSE 0 END
              FOR j IN range(0, 56)])
              FOR f IN range(0, n, 2)] AS dhs
           FROM v),
           sigs AS (SELECT media_id, n_frames, n_sampled,
             list_reduce(list_prepend(0::BIGINT,
               [dh % 1000000007 FOR dh IN dhs]),
               (acc, c) -> (acc*31 + c) % 1000000007)::BIGINT AS sig
           FROM hs),
           grp AS (SELECT sig, n_frames, min(media_id) AS keep_id,
               count(*)::BIGINT AS grp_size
             FROM sigs GROUP BY sig, n_frames)
           SELECT media_id, sigs.sig, sigs.n_frames, n_sampled,
             keep_id, grp_size
           FROM sigs JOIN grp ON sigs.sig = grp.sig
             AND sigs.n_frames = grp.n_frames
           ORDER BY media_id""",
      // Random-projection featurize: the ±1 matrix entries are
      // plan-time constants (byteswap64-derived, like the LSH plane
      // signs) baked below as list literals; f_j is the integer dot
      // product of the source pixels with sign row j (restated as a
      // vectorized list_dot_product over the DOUBLE-cast lists —
      // integer-valued, exact — with the sign row sliced to the
      // raster length; per-element literal indexing is ~100x slower
      // at the 10x fixture). Max raster is 16x16 = 256 entries/row.
      "mm11_featurize" -> {
        s"""WITH im AS (SELECT doc_id AS media_id,
             (8 + (doc_id % 9))::BIGINT AS w,
             (8 + ((doc_id // 9) % 9))::BIGINT AS h
           FROM documents),
           px AS (SELECT media_id, w, h,
             [(media_id*31 + i*7) % 256
              FOR i IN range(0, w*h)] AS ps
           FROM im)
           SELECT media_id,
             ${(0 until 8).map(j =>
               s"""list_dot_product(ps::DOUBLE[],
                  (${featurizerSignsSql(j)})[1:(w*h)::INT]::DOUBLE[])
                  ::BIGINT AS f$j""").mkString(", ")}
           FROM px ORDER BY media_id""" },
      // Featurized ANN: recompute the projected vectors from the
      // source formula (same sign literals as mm11), then the exact
      // brute-force cosine top-k in s01's restatement shape.
      "s08_featurized_ann" -> {
        s"""WITH im AS (SELECT doc_id AS media_id,
             (8 + (doc_id % 9))::BIGINT AS w,
             (8 + ((doc_id // 9) % 9))::BIGINT AS h
           FROM documents),
           px AS (SELECT media_id, w, h,
             [(media_id*31 + i*7) % 256
              FOR i IN range(0, w*h)] AS ps
           FROM im),
           vv AS (SELECT media_id AS id,
             [${(0 until 8).map(j =>
               s"""list_dot_product(ps::DOUBLE[],
                  (${featurizerSignsSql(j)})[1:(w*h)::INT]::DOUBLE[])
                  """).mkString(", ")}
             ] AS vec
           FROM px),
           q AS (SELECT id AS qid, vec AS qvec FROM vv
             WHERE id % 100 = 0 AND id < 50000),
           scored AS (SELECT qid, v.id AS id,
             list_cosine_similarity(qvec::DOUBLE[], v.vec::DOUBLE[])
               AS cos
             FROM q, vv v WHERE v.id <> qid),
           ranked AS (SELECT qid, id, cos,
             row_number() OVER (PARTITION BY qid
               ORDER BY cos DESC, id ASC) AS rank
             FROM scored)
           SELECT qid, id, round(cos, 6) AS cosine, rank
           FROM ranked WHERE rank <= 5 ORDER BY qid, rank""" })
  }

  /** DuckDB list literal of [[Multimodal.Featurizer.weight]] row `j`
    * over the maximum raster size (16x16): the same plan-time ±1
    * constants the Spark featurizer computes. */
  private def featurizerSignsSql(j: Int): String =
    (0 until 256).map(i => Multimodal.Featurizer.weight(j, i))
      .mkString("[", ",", "]")
}
