package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.{CdcQueries, HardeningQueries, LlmQueries, RelationalQueries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Query inventory:
  *  - `q*`  generic relational surface ([[RelationalQueries]])
  *  - `c*`/`w*` the reference's CDC/monitoring semantics
  *    ([[CdcQueries]])
  *  - `d*`/`s*`/`t*`/`mm*` LLM-data-pipeline operators
  *    ([[LlmQueries]])
  *  - `x*` hardening sweeps — ANSI mode, adversarial value domains
  *    ([[HardeningQueries]])
  *
  * Every query has a DuckDB oracle in [[oracleSql]] — the hash-based
  * operators (minhash/simhash/LSH) run on portable polynomial hashes
  * (see [[graft.functions.PolyHash]]), which DuckDB restates exactly.
  * Minhash and mixing have no other hash family; simhash keeps a
  * 64-bit xxhash64 variant for production-scale blocking, checked by
  * ScalaTest only.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks
    * rows>0: the full CDC consolidate+merge pipeline. */
  def entry(spark: SparkSession): DataFrame =
    queries("c08_merge")(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    RelationalQueries.queries ++ CdcQueries.queries ++
      LlmQueries.queries ++ HardeningQueries.queries

  def oracleSql: Map[String, String] =
    RelationalQueries.oracles ++ CdcQueries.oracles ++
      LlmQueries.oracles ++ HardeningQueries.oracles

  /** Per-query comparator modes for the LOCAL oracle harness
    * (`tools/check.py`; dumped by [[Verify]] as `comparators.json`).
    * Queries absent here use the standard compare (columns sorted,
    * rows sorted, values matched). `"hashsum"` compares COUNT + an
    * order-free SUM(hash(row))::HUGEINT computed inside DuckDB on
    * both sides — the giant-string-output mode: t29's token_ids
    * column reaches ~500 MB at the 100x stress fixture, where the
    * pandas leg of the standard compare segfaults (no-swap box) while
    * the hash-sum compare runs in seconds. The driver's own gate at
    * sf0.01 still runs its full value compare regardless — this map
    * only governs local stress-fixture sweeps. */
  def comparators: Map[String, String] = Map(
    "t29_byte_bpe_encode" -> "hashsum")

  /** Headline subset used by [[Bench]] (the heavier, scale-relevant
    * plans — joins, consolidation/merge, dedup, ANN). */
  val benchQueries: Seq[String] = Seq(
    "q02_agg_pricing", "q03_join_revenue", "q06_window_orders",
    "q10_preagg_join", "c07_consolidate", "c08_merge", "c10_binlog_roundtrip",
    "c12_asof", "w03_sessionize",
    "d01_exact_dedup", "d02_minhash_pairs", "d04_ngram_jaccard",
    "s01_ann_bruteforce", "t03_quality", "t04_fingerprint")

  /** Ops-suite subset used by [[Bench]] alongside the headline: the
    * operator families added after the headline list froze (media
    * codecs, ANN variants, retrieval, curation compositions,
    * hardening). Benchmarked under `ops_value`/`ops_queries` in the
    * artifact so their regressions are tracked round-over-round
    * without breaking headline comparability. */
  val opsBenchQueries: Seq[String] = Seq(
    "mm01_media_meta", "mm02_media_features", "mm03_frame_sample",
    "mm04_video_decode", "mm05_audio_decode", "mm06_image_resize",
    "mm07_audio_windows", "mm08_image_dhash", "mm09_audio_fingerprint",
    "mm10_video_signature", "mm11_featurize",
    // d05 benches through its witness-aggregate form: the full-output
    // query's deterministic global sort is linear in the (dup-dense)
    // pair output and was ~19s of the 100x data point — the bench
    // should measure the operator, not the gate wrapper's sort. The
    // full-output d05 gate still runs in Verify at the gate SFs.
    "d17_embedding_dups_agg", "d08_incremental_dedup",
    "d11_substring_dup", "d12_semantic_dedup",
    "d19_semantic_dedup_probed", "d21_decontaminate",
    "d25_minhash_after_exact", "d26_incremental_capped",
    "d27_minhash_survivors_capped", "d28_minhash_survivors_estimated",
    "d29_incremental_estimated",
    "s02_ann_lsh", "s03_ann_ivf", "s06_ann_pq", "s07_ann_ivfpq",
    "s08_featurized_ann", "s09_ann_ivf_persisted",
    "q16_quantile_disc",
    "t17_bm25", "t18_surprisal", "t26_bigram_surprisal",
    "t31_trigram_surprisal", "t32_ce_diff", "t33_dsir_weights",
    "t27_bpe_encode", "t29_byte_bpe_encode",
    "t34_winnow_fingerprints", "t35_dsir_resample", "d30_winnow_pairs",
    "t39_gopher_repetition", "t41_gopher_full",
    "t19_curation_semantic",
    "t20_curation_filtered", "t21_bm25_persisted",
    "q15_zorder_key", "w10_interval_join",
    "x01_ansi_mix", "x02_adversarial_domain", "x03_quantile_inf")
}
