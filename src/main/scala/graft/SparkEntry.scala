package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.{Core, HModel, Pipeline}

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory. */
object SparkEntry {

  private def t(s: SparkSession, d: String, name: String): DataFrame =
    Tables(s, d, name)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_pricing_summary")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- A. core query engine -------------------------------------------
    "q1_pricing_summary" -> ((s, d) =>
      Core.q1PricingSummary(t(s, d, "lineitem"))),
    "q3_shipping_priority" -> ((s, d) =>
      Core.q3ShippingPriority(t(s, d, "customer"), t(s, d, "orders"),
        t(s, d, "lineitem"))),
    "q5_region_revenue" -> ((s, d) =>
      Core.q5RegionRevenue(t(s, d, "region"), t(s, d, "nation"),
        t(s, d, "customer"), t(s, d, "supplier"), t(s, d, "orders"),
        t(s, d, "lineitem"))),
    "q_top_customers_per_nation" -> ((s, d) =>
      Core.topCustomersPerNation(t(s, d, "customer"), t(s, d, "nation"))),
    "q_running_revenue" -> ((s, d) =>
      Core.runningRevenue(t(s, d, "orders"))),
    "q_orders_enriched" -> ((s, d) =>
      Core.ordersEnriched(t(s, d, "events"), t(s, d, "customer"),
        t(s, d, "nation"))),
    "time_range_scan" -> ((s, d) =>
      Core.timeRangeScan(t(s, d, "events"),
        "2024-01-10 05:37:00", "2024-01-25 17:02:00")),
    "latest_event_per_user" -> ((s, d) =>
      Core.latestEventPerUser(t(s, d, "events"))),
    "rollup_hourly" -> ((s, d) => Core.rollup(t(s, d, "events"), "hour")),
    "rollup_daily" -> ((s, d) => Core.rollup(t(s, d, "events"), "day")),
    "batch_interval_stats" -> ((s, d) =>
      Core.batchIntervalStats(t(s, d, "events"),
        startMs = 1704067200000L, // 2024-01-01T00:00:00Z
        endMs = 1706745600000L,   // 2024-02-01T00:00:00Z
        intervalMs = 6L * 3600 * 1000)),
    "q_asof_latest_order" -> ((s, d) =>
      Core.asofLatestOrder(t(s, d, "events"), t(s, d, "orders"))),
    "q_range_window_stats" -> ((s, d) =>
      Core.rangeWindowStats(t(s, d, "events"))),
    "q_session_stats" -> ((s, d) => Core.sessionStats(t(s, d, "events"))),
    "rollup_percentiles" -> ((s, d) =>
      Core.rollupPercentiles(t(s, d, "events"))),
    "rollup_distinct" -> ((s, d) => Core.rollupDistinct(t(s, d, "events"))),
    "rollup_heavy_hitters" -> ((s, d) => Core.heavyHitters(t(s, d, "events"))),
    "rollup_rate" -> ((s, d) => Core.rollupRate(t(s, d, "events"))),
    "rollup_fill" -> ((s, d) => Core.rollupFill(t(s, d, "events"))),
    "rollup_merge" -> ((s, d) =>
      Core.rollupMerge(Core.rollup(t(s, d, "events"), "hour"))),
    "rollup_incremental" -> ((s, d) =>
      Core.rollupIncremental(t(s, d, "events"))),
    "rollup_anomaly" -> ((s, d) => Core.rollupAnomaly(t(s, d, "events"))),
    "events_props_extract" -> ((s, d) =>
      Core.eventsPropsExtract(t(s, d, "events"))),
    "rollup_timeweighted" -> ((s, d) =>
      Core.rollupTimeWeighted(t(s, d, "events"))),
    // ---- B. HBase data model & bulkload ---------------------------------
    "rowkey_encode" -> ((s, d) => HModel.rowkeyEncode(t(s, d, "customer"))),
    "cells_extract" -> ((s, d) => HModel.cellsExtract(t(s, d, "orders"))),
    "cells_pivot" -> ((s, d) => HModel.cellsPivot(t(s, d, "orders"))),
    "salt_distribution" -> ((s, d) =>
      HModel.saltDistribution(t(s, d, "events"), buckets = 16)),
    "bulkload_plan" -> ((s, d) =>
      HModel.bulkloadPlan(t(s, d, "events"), buckets = 16)),
    "fuzzy_scan" -> ((s, d) =>
      HModel.fuzzyScan(t(s, d, "events"),
        "2024-01-10 05:37:00", "2024-01-25 17:02:00",
        hoursOfDay = Seq(3, 15))),
    "compact_cells" -> ((s, d) =>
      HModel.compactCells(t(s, d, "events"), versions = 2)),
    "compact_cells_ttl" -> ((s, d) =>
      HModel.compactCellsTtl(t(s, d, "events"), versions = 2)),
    "cells_versions" -> ((s, d) =>
      HModel.cellsVersions(t(s, d, "events"), n = 3)),
    "zorder_layout" -> ((s, d) => HModel.zorderLayout(t(s, d, "events"))),
    "zorder_range_scan" -> ((s, d) =>
      HModel.zorderRangeScan(t(s, d, "events"), d)),
    "hfile_point_lookup" -> ((s, d) =>
      HModel.hfilePointLookup(t(s, d, "events"), d)),
    "hfile_multi_get" -> ((s, d) =>
      HModel.hfileMultiGet(t(s, d, "events"), d)),
    "hfile_prefix_scan" -> ((s, d) =>
      HModel.hfilePrefixScan(t(s, d, "events"), d)),
    // ---- C. deduplication -----------------------------------------------
    "dedup_exact" -> ((s, d) => Pipeline.dedupExact(t(s, d, "documents"))),
    "dedup_exact_normalized" -> ((s, d) =>
      Pipeline.dedupExactNormalized(t(s, d, "documents"))),
    "dedup_fuzzy_incremental" -> ((s, d) =>
      Pipeline.dedupFuzzyIncremental(t(s, d, "documents"))),
    "dedup_incremental" -> ((s, d) =>
      Pipeline.dedupIncremental(t(s, d, "documents"))),
    "dedup_minhash_lsh" -> ((s, d) =>
      Pipeline.dedupMinhashLsh(t(s, d, "documents"))),
    "dedup_simhash" -> ((s, d) => Pipeline.dedupSimhash(t(s, d, "documents"))),
    "dedup_ngram_jaccard" -> ((s, d) =>
      Pipeline.dedupNgramJaccard(t(s, d, "documents"))),
    "dedup_recall" -> ((s, d) =>
      Pipeline.dedupRecall(t(s, d, "documents"))),
    // C35c: the banding knob's recall-vs-cost curve — one shared
    // exact truth, one report row per bands setting
    "dedup_recall_sweep" -> ((s, d) =>
      Pipeline.dedupRecallSweep(t(s, d, "documents"))),
    // C35 at corpus scale: same report over a deterministic 20%
    // salted-hash doc slice (exact truth is duplicate-quadratic by
    // construction; the slice is the 100x-recordable posture)
    "dedup_recall_sampled" -> ((s, d) =>
      Pipeline.dedupRecallSampled(t(s, d, "documents"))),
    // C35c at corpus scale: the banding sweep over the SAME absolute
    // ~300-doc slice — one sliced truth, three bandings, the
    // 100x-recordable tuning curve
    "dedup_recall_sweep_abs" -> ((s, d) =>
      Pipeline.dedupRecallSweepAbs(t(s, d, "documents"))),
    // C37: recall of the PERSISTED LSH index on the incoming batch —
    // the D9-over-D8 twin for the dedup store (fixture index per sf)
    "dedup_recall_indexed" -> ((s, d) =>
      Pipeline.dedupRecallIndexed(t(s, d, "documents"), d)),
    // C37 at probe scale: the same store report over an ABSOLUTE
    // ~300-doc batch slice — the posture whose truth join stays
    // corpus-linear x constant, recordable at 100x
    "dedup_recall_indexed_abs" -> ((s, d) =>
      Pipeline.dedupRecallIndexedAbs(t(s, d, "documents"), d)),
    "dedup_embedding" -> ((s, d) =>
      Pipeline.dedupEmbedding(t(s, d, "embeddings"))),
    "dedup_semantic" -> ((s, d) =>
      Pipeline.dedupSemantic(t(s, d, "embeddings"))),
    "dedup_clusters" -> ((s, d) =>
      Pipeline.dedupClusters(t(s, d, "documents"))),
    "dedup_paragraph" -> ((s, d) =>
      Pipeline.dedupParagraphs(t(s, d, "documents"))),
    "dedup_substring" -> ((s, d) =>
      Pipeline.dedupSubstring(t(s, d, "documents"))),
    "dedup_substring_trim" -> ((s, d) =>
      Pipeline.dedupSubstringTrim(t(s, d, "documents"))),
    "corpus_decontaminate" -> ((s, d) =>
      Pipeline.corpusDecontaminate(t(s, d, "documents"))),
    "corpus_decontaminate_bloom" -> ((s, d) =>
      Pipeline.corpusDecontaminateBloom(t(s, d, "documents"))),
    "corpus_decontaminate_fuzzy" -> ((s, d) =>
      Pipeline.corpusDecontaminateFuzzy(t(s, d, "documents"))),
    "corpus_mix" -> ((s, d) => Pipeline.corpusMix(t(s, d, "documents"))),
    "corpus_boilerplate" -> ((s, d) =>
      Pipeline.corpusBoilerplate(t(s, d, "documents"))),
    "corpus_budget" -> ((s, d) => Pipeline.corpusBudget(t(s, d, "documents"))),
    "corpus_dsir" -> ((s, d) => Pipeline.corpusDsir(t(s, d, "documents"))),
    "split_assign" -> ((s, d) => Pipeline.splitAssign(t(s, d, "documents"))),
    "corpus_shuffle" -> ((s, d) =>
      Pipeline.corpusShuffle(t(s, d, "documents"))),
    "corpus_anneal" -> ((s, d) =>
      Pipeline.corpusAnneal(t(s, d, "documents"))),
    "corpus_pack_ids" -> ((s, d) =>
      Pipeline.corpusPackIds(t(s, d, "documents"))),
    "corpus_pack_ids_eos" -> ((s, d) =>
      Pipeline.corpusPackIdsEos(t(s, d, "documents"))),
    "corpus_pack_annealed" -> ((s, d) =>
      Pipeline.corpusPackAnnealed(t(s, d, "documents"))),
    "corpus_interleave" -> ((s, d) =>
      Pipeline.corpusInterleave(t(s, d, "documents"))),
    "corpus_shard_stats" -> ((s, d) =>
      Pipeline.corpusShardStats(t(s, d, "documents"))),
    "corpus_pack_interleaved" -> ((s, d) =>
      Pipeline.corpusPackInterleaved(t(s, d, "documents"))),
    "sample_stratified" -> ((s, d) =>
      Pipeline.sampleStratified(t(s, d, "documents"))),
    "graph_components" -> ((s, d) =>
      Pipeline.graphComponents(t(s, d, "lineitem"))),
    "corpus_curate" -> ((s, d) => Pipeline.corpusCurate(t(s, d, "documents"))),
    "corpus_curate_fuzzy" -> ((s, d) =>
      Pipeline.corpusCurate(t(s, d, "documents"), fuzzy = true)),
    "seq_packing" -> ((s, d) => Pipeline.seqPacking(t(s, d, "documents"))),
    "seq_spans" -> ((s, d) => Pipeline.seqSpans(t(s, d, "documents"))),
    "packing_stats" -> ((s, d) =>
      Pipeline.packingStats(t(s, d, "documents"))),
    "corpus_tokenizer_stats" -> ((s, d) =>
      Pipeline.corpusTokenizerStats(t(s, d, "documents"))),
    "corpus_length_stats" -> ((s, d) =>
      Pipeline.corpusLengthStats(t(s, d, "documents"))),
    "corpus_chunk" ->
      ((s, d) => Pipeline.corpusChunk(t(s, d, "documents"))),
    "corpus_export" -> ((s, d) =>
      Pipeline.corpusExport(t(s, d, "documents"))),
    "corpus_export_ids" -> ((s, d) =>
      Pipeline.corpusExportIds(t(s, d, "documents"),
        s"${System.getProperty("java.io.tmpdir")}/" +
          s"graft_export_ids_${_root_.graft.queries.HModel.dirKey(d)}")),
    "corpus_export_ids_eos" -> ((s, d) =>
      Pipeline.corpusExportIdsEos(t(s, d, "documents"),
        s"${System.getProperty("java.io.tmpdir")}/" +
          s"graft_export_ids_eos_${_root_.graft.queries.HModel.dirKey(d)}")),
    // ---- D. similarity search -------------------------------------------
    "knn_bruteforce" -> ((s, d) =>
      Pipeline.knnBruteforce(t(s, d, "embeddings"))),
    "knn_range" -> ((s, d) => Pipeline.knnRange(t(s, d, "embeddings"))),
    "knn_range_ivf" -> ((s, d) =>
      Pipeline.knnRangeIvf(t(s, d, "embeddings"))),
    "knn_range_indexed" -> ((s, d) =>
      Pipeline.knnRangeIndexed(t(s, d, "embeddings"), d)),
    "knn_lsh" -> ((s, d) => Pipeline.knnLsh(t(s, d, "embeddings"))),
    "knn_maxsim" -> ((s, d) => Pipeline.knnMaxsim(t(s, d, "embeddings"))),
    "knn_filtered" -> ((s, d) => Pipeline.knnFiltered(t(s, d, "embeddings"))),
    "knn_recall" -> ((s, d) => Pipeline.knnRecall(t(s, d, "embeddings"))),
    // D9b: the nProbe knob's recall-vs-cost curve over the D3
    // geometry — one plan, per-(n_probe, query) report rows
    "knn_recall_sweep" -> ((s, d) =>
      Pipeline.knnRecallSweep(t(s, d, "embeddings"))),
    // D9c: the same curve off the PERSISTED fixture store (probed
    // partitions only — the serving-side cost posture); answers equal
    // D9b's because the fixture freezes the strideCoarse geometry
    "knn_recall_sweep_indexed" -> ((s, d) =>
      Pipeline.knnRecallSweepIndexed(t(s, d, "embeddings"), d)),
    "knn_ivf" -> ((s, d) => Pipeline.knnIvf(t(s, d, "embeddings"))),
    "knn_sq" -> ((s, d) => Pipeline.knnSq(t(s, d, "embeddings"))),
    "knn_sq_indexed" -> ((s, d) =>
      Pipeline.knnSqIndexed(t(s, d, "embeddings"), d)),
    "knn_pq" -> ((s, d) => Pipeline.knnPq(t(s, d, "embeddings"))),
    "knn_ivf_trained" -> ((s, d) =>
      Pipeline.knnIvfTrained(t(s, d, "embeddings"))),
    "knn_pq_trained" -> ((s, d) => Pipeline.knnPqTrained(t(s, d, "embeddings"))),
    "knn_ivfpq" -> ((s, d) => Pipeline.knnIvfPq(t(s, d, "embeddings"))),
    "knn_ivfpq_trained" -> ((s, d) =>
      Pipeline.knnIvfPqTrained(t(s, d, "embeddings"))),
    "knn_ivfpq_res" -> ((s, d) => Pipeline.knnIvfPqRes(t(s, d, "embeddings"))),
    "knn_ivfpq_res_trained" -> ((s, d) =>
      Pipeline.knnIvfPqResTrained(t(s, d, "embeddings"))),
    // ---- E. text analysis -----------------------------------------------
    "text_stats" -> ((s, d) => Pipeline.textStats(t(s, d, "documents"))),
    "text_quality" -> ((s, d) => Pipeline.textQuality(t(s, d, "documents"))),
    "text_langid" -> ((s, d) => Pipeline.textLangId(t(s, d, "documents"))),
    "text_fingerprint" -> ((s, d) =>
      Pipeline.textFingerprint(t(s, d, "documents"))),
    "text_rolling_fp" -> ((s, d) =>
      Pipeline.textRollingFp(t(s, d, "documents"))),
    "text_top_terms" -> ((s, d) => Pipeline.textTopTerms(t(s, d, "documents"))),
    "text_repetition" -> ((s, d) =>
      Pipeline.textRepetition(t(s, d, "documents"))),
    "text_pii" -> ((s, d) => Pipeline.textPii(t(s, d, "customer"))),
    "text_classify" -> ((s, d) => Pipeline.textClassify(t(s, d, "documents"))),
    "text_lm_score" -> ((s, d) => Pipeline.textLmScore(t(s, d, "documents"))),
    "text_entropy" -> ((s, d) => Pipeline.textEntropy(t(s, d, "documents"))),
    // E12: train + encode, fully oracle-checked — the training loop
    // replays in DuckDB as a recursive CTE over the word-frequency
    // table (per-step freq-weighted pair counts + argmax on
    // (count DESC, pair ASC)); BpeSpec additionally pins the trainer
    // against a driver-side reference implementation at >=1000 merges
    "text_bpe" -> ((s, d) => Pipeline.textBpe(t(s, d, "documents"))),
    // E12 encode half: frozen tokenizer artifact, fully oracle-checked
    "text_bpe_encode" ->
      ((s, d) => Pipeline.textBpeEncode(t(s, d, "documents"))),
    // E12 GPT-2-exact whitespace mode: the opt-in single-space fold +
    // \s+(?!\S) run split, oracle-replayed WITHOUT lookahead via the
    // two-pass boundary-insertion rewrite
    "text_bpe_gpt2ws" ->
      ((s, d) => Pipeline.textBpeGpt2Ws(t(s, d, "documents"))),
    // E12 encode-to-ids: the loader-facing token-ID stream, oracle-checked
    "text_bpe_ids" ->
      ((s, d) => Pipeline.textBpeIds(t(s, d, "documents"))),
    // E12/E13 non-ASCII coverage: the byte-level tokenizer exercised
    // on a DERIVED multilingual slice (the fixture corpus is pure
    // ASCII) — train, encode, ids, and per-language fertility, all
    // oracle-checked against the same hex(encode(w)) byte replay
    "text_bpe_utf8" ->
      ((s, d) => Pipeline.textBpeUtf8(t(s, d, "documents"))),
    "text_bpe_encode_utf8" ->
      ((s, d) => Pipeline.textBpeEncodeUtf8(t(s, d, "documents"))),
    "text_bpe_ids_utf8" ->
      ((s, d) => Pipeline.textBpeIdsUtf8(t(s, d, "documents"))),
    // E12 decode: the detokenizer round trip, oracle = GROUND TRUTH
    // (whitespace-stripped source), over ASCII + multilingual docs
    "text_bpe_decode" ->
      ((s, d) => Pipeline.textBpeDecode(t(s, d, "documents"))),
    "corpus_tokenizer_stats_utf8" ->
      ((s, d) => Pipeline.corpusTokenizerStatsUtf8(t(s, d, "documents"))),
    // ---- F. multimodal --------------------------------------------------
    "mm_manifest" -> ((s, d) => Pipeline.mmManifest(t(s, d, "documents"))),
    "mm_dedup" -> ((s, d) => Pipeline.mmDedup(t(s, d, "documents"))),
    "mm_phash" -> ((s, d) => Pipeline.mmPhash(t(s, d, "documents"))),
    // F2 REAL decode rows: in-plan closed-form PNG/WAV containers →
    // the production ImageIO / AudioSystem decode path → features the
    // oracle replays codec-free from the closed form
    "mm_decode" -> ((s, d) => Pipeline.mmDecode(t(s, d, "documents"))),
    "mm_decode_audio" ->
      ((s, d) => Pipeline.mmDecodeAudio(t(s, d, "documents"))),
    "mm_phash_image" ->
      ((s, d) => Pipeline.mmPhashImage(t(s, d, "documents")))
  )

  /** Shared DuckDB CTE chain replaying the MinHash+LSH pipeline
    * byte-exactly: FNV-1a word hashes → 31-combined 3-shingles → fmix64
    * (mod-2⁶⁴ via the split-multiply trick) → distinct shingle sets →
    * 128 simulated permutations (seed table inlined from the REAL kernel
    * constants, so the oracle can never drift from the code) → 16-band
    * blocking by the raw 8-slot signature slice (Spark buckets by
    * xxhash64 of the slice; equal slices ⟺ equal buckets modulo 2⁻⁶⁴
    * hash collisions) → candidate pairs with exact shingle Jaccard. The
    * banded plan has full candidate recall here (500 docs < the 1000
    * bucket cap), so blocked and replayed sets coincide.
    */
  /** CTE chain replaying [[graft.functions.TextHashes.wordShingleHashes]]
    * for `k`-word shingles: `w` (positioned words) → `fnv` (FNV-1a per
    * word) → `sh0` (order-sensitive 31-combine over a k-window) →
    * `f1..f5` (fmix64 avalanche). `f5(doc_id, v)` is the doc's DISTINCT
    * shingle-hash set — byte-identical to the native kernel.
    */
  /** CTE chain replaying [[graft.functions.TextHashes.rollingWindows]]
    * (and the whole-content [[graft.functions.TextHashes.rollingFp]])
    * byte-exactly for 16-byte windows: `b` (UTF-8 bytes via hex) →
    * `poly` (whole-content polynomial fp) → `win` (per-window
    * polynomial values, short docs fall back to [fp]) → `m1..m5`
    * (fmix64 via the 32-bit split-multiply trick). `m5(doc_id, fp, v)`:
    * `v` is the doc's mixed window-hash list in position order —
    * shared by text_rolling_fp (its min is the winnow value) and
    * dedup_substring (corpus-wide occurrence counts).
    */
  private def rollingWinCte: String =
    """b AS (
      |  SELECT doc_id, hex(encode(text)) AS hx,
      |         octet_length(encode(text)) AS n,
      |         list_transform(range(1, octet_length(encode(text)) + 1),
      |           i -> (strpos('123456789ABCDEF', substr(hx, 2*i-1, 1)) * 16
      |               + strpos('123456789ABCDEF', substr(hx, 2*i, 1)))::HUGEINT) AS bs
      |  FROM documents),
      |poly AS (
      |  SELECT doc_id, n, bs,
      |         CASE WHEN n = 0 THEN 0::HUGEINT ELSE
      |           list_reduce(bs, (acc, x) ->
      |             (acc * 1000003::HUGEINT + x) & 18446744073709551615::HUGEINT)
      |         END AS fp
      |  FROM b),
      |win AS (
      |  SELECT doc_id, fp,
      |         CASE WHEN n < 16 THEN [fp] ELSE
      |           list_transform(range(1, n - 16 + 2), i ->
      |             list_reduce(bs[i : i + 15], (acc, x) ->
      |               (acc * 1000003::HUGEINT + x) & 18446744073709551615::HUGEINT))
      |         END AS ws
      |  FROM poly),
      |m1 AS (SELECT doc_id, fp, list_transform(ws, h -> xor(h, h >> 33)) AS v FROM win),
      |m2 AS (SELECT doc_id, fp, list_transform(v, h ->
      |        ((h & 4294967295::HUGEINT) * 18397679294719823053::HUGEINT
      |         + (((h >> 32) * 18397679294719823053::HUGEINT) & 4294967295::HUGEINT) * 4294967296::HUGEINT)
      |        & 18446744073709551615::HUGEINT) AS v FROM m1),
      |m3 AS (SELECT doc_id, fp, list_transform(v, h -> xor(h, h >> 33)) AS v FROM m2),
      |m4 AS (SELECT doc_id, fp, list_transform(v, h ->
      |        ((h & 4294967295::HUGEINT) * 14181476777654086739::HUGEINT
      |         + (((h >> 32) * 14181476777654086739::HUGEINT) & 4294967295::HUGEINT) * 4294967296::HUGEINT)
      |        & 18446744073709551615::HUGEINT) AS v FROM m3),
      |m5 AS (SELECT doc_id, fp, list_transform(v, h -> xor(h, h >> 33)) AS v FROM m4)""".stripMargin

  /** The shared `w` (positioned words) + `fnv` (FNV-1a per word) CTE
    * prefix every word-shingle replay builds on; `src` lets the
    * sampled-slice recall row point the whole chain at a filtered
    * docs CTE.
    */
  private def wordFnvCte: String = wordFnvCte("documents")

  private def wordFnvCte(src: String): String = {
    val M64 = "18446744073709551615::HUGEINT"
    s"""w AS (
      |  SELECT doc_id, unnest(ws) AS word, generate_subscripts(ws, 1) AS idx
      |  FROM (SELECT doc_id,
      |          list_filter(regexp_split_to_array(text, '[ \t\n\r\f]+'), x -> x <> '') AS ws
      |        FROM $src)),
      |fnv AS MATERIALIZED (
      |  SELECT doc_id, idx,
      |    list_reduce(
      |      list_prepend(14695981039346656037::HUGEINT,
      |        list_transform(range(1, octet_length(encode(word)) + 1),
      |          i -> (strpos('123456789ABCDEF', substr(hex(encode(word)), 2*i-1, 1)) * 16
      |              + strpos('123456789ABCDEF', substr(hex(encode(word)), 2*i, 1)))::HUGEINT)),
      |      (acc, b) -> ((xor(acc, b) & 4294967295::HUGEINT) * 1099511628211::HUGEINT
      |         + (((acc >> 32) * 1099511628211::HUGEINT) & 4294967295::HUGEINT) * 4294967296::HUGEINT)
      |        & $M64) AS h
      |  FROM w)""".stripMargin
  }

  /** Positional (idx-keyed, duplicates-retained) replay of
    * [[graft.functions.TextHashes.wordShingleSeq]] for `k`-word
    * shingles, CTE names prefixed `p`; the chain ends in
    * `${p}5(doc_id, idx, v)` where `idx` is the shingle's FIRST word
    * position. Callers emit [[wordFnvCte]] once before any tails.
    */
  private def shingleSeqTail(k: Int, p: String): String = {
    val M64 = "18446744073709551615::HUGEINT"
    val joins = (1 until k).map(i =>
      s"JOIN fnv t$i ON t0.doc_id = t$i.doc_id AND t$i.idx = t0.idx + $i")
      .mkString("\n             ")
    val chain = (0 until k).foldLeft("1::HUGEINT")((acc, i) =>
      s"(($acc * 31 + t$i.h) & $M64)")
    s"""${p}0 AS (
      |  SELECT t0.doc_id, t0.idx, $chain AS v
      |  FROM fnv t0 $joins),
      |${p}1 AS (SELECT doc_id, idx, xor(v, v >> 33) AS v FROM ${p}0),
      |${p}2 AS (SELECT doc_id, idx, ((v & 4294967295::HUGEINT) * 18397679294719823053::HUGEINT
      |        + (((v >> 32) * 18397679294719823053::HUGEINT) & 4294967295::HUGEINT) * 4294967296::HUGEINT)
      |        & $M64 AS v FROM ${p}1),
      |${p}3 AS (SELECT doc_id, idx, xor(v, v >> 33) AS v FROM ${p}2),
      |${p}4 AS (SELECT doc_id, idx, ((v & 4294967295::HUGEINT) * 14181476777654086739::HUGEINT
      |        + (((v >> 32) * 14181476777654086739::HUGEINT) & 4294967295::HUGEINT) * 4294967296::HUGEINT)
      |        & $M64 AS v FROM ${p}3),
      |${p}5 AS (SELECT doc_id, idx, xor(v, v >> 33) AS v FROM ${p}4)"""
      .stripMargin
  }

  private def shingleSetCte(k: Int): String = shingleSetCte(k, "documents")

  private def shingleSetCte(k: Int, src: String): String =
    s"""${wordFnvCte(src)},
      |${shingleSetTail(k, "")}""".stripMargin

  /** The distinct-shingle-set chain WITHOUT the shared [[wordFnvCte]]
    * prefix, CTE names prefixed `p` (`${p}sh0`, `${p}f1..${p}f5`) —
    * lets two shingle sizes coexist in one oracle (the fuzzy curation
    * composes the k=5 decontamination chain with the k=3 MinHash one).
    * `p = ""` reproduces [[shingleSetCte]]'s names byte-for-byte.
    */
  private def shingleSetTail(k: Int, p: String): String = {
    val M64 = "18446744073709551615::HUGEINT"
    val joins = (1 until k).map(i =>
      s"JOIN fnv t$i ON t0.doc_id = t$i.doc_id AND t$i.idx = t0.idx + $i")
      .mkString("\n             ")
    val chain = (0 until k).foldLeft("1::HUGEINT")((acc, i) =>
      s"(($acc * 31 + t$i.h) & $M64)")
    s"""${p}sh0 AS (
      |  SELECT t0.doc_id, $chain AS c0
      |  FROM fnv t0 $joins),
      |${p}f1 AS (SELECT doc_id, xor(c0, c0 >> 33) AS v FROM ${p}sh0),
      |${p}f2 AS (SELECT doc_id, ((v & 4294967295::HUGEINT) * 18397679294719823053::HUGEINT
      |        + (((v >> 32) * 18397679294719823053::HUGEINT) & 4294967295::HUGEINT) * 4294967296::HUGEINT)
      |        & $M64 AS v FROM ${p}f1),
      |${p}f3 AS (SELECT doc_id, xor(v, v >> 33) AS v FROM ${p}f2),
      |${p}f4 AS (SELECT doc_id, ((v & 4294967295::HUGEINT) * 14181476777654086739::HUGEINT
      |        + (((v >> 32) * 14181476777654086739::HUGEINT) & 4294967295::HUGEINT) * 4294967296::HUGEINT)
      |        & $M64 AS v FROM ${p}f3),
      |${p}f5 AS MATERIALIZED (SELECT DISTINCT doc_id, xor(v, v >> 33) AS v FROM ${p}f4)"""
      .stripMargin
  }

  /** The MinHash body (128 permutations → 16-band blocking → candidate
    * pairs with exact shingle Jaccard) reading its shingle sets from
    * CTE `$src` (`(doc_id, v)` distinct shingle hashes). Split from
    * [[minhashCte]] so the fuzzy curation oracle can point it at a
    * prefixed k=3 chain beside its k=5 decontamination chain.
    */
  /** The 128-perm MinHash signature chain over shingle rows `src`,
    * ending in `sig(doc_id, j, mh)` — MATERIALIZED so multi-banding
    * oracles (the C35c sweep) replay it once. The per-permutation MIN
    * replays the engine's SIGNED long comparison
    * ([[graft.functions.TextHashes.minhashSig]] `v < out(j)` on Long):
    * the CTE's values live in the unsigned HUGEINT domain, where the
    * signed order is the unsigned order with the sign bit flipped, so
    * the min is taken over `xor(v, 2^63)` and flipped back. Unsigned
    * MIN(v) is a DIFFERENT total order that picks a different
    * signature element whenever a doc's permuted hashes span both
    * signs — any valid MinHash scheme, but NOT the engine's: on
    * marginal pairs (0.7 ≤ J < 1) the two schemes' band collisions
    * diverge (first seen as a 3-pair n_found mismatch in the sf0.001
    * bands=8 sweep row; exact-dup pairs collide under any order, which
    * is why sf0.01 never caught it).
    */
  private def minhashSigCte(src: String): String = {
    val seeds = (0 until 128).map(j =>
      s"($j, ${java.lang.Long.toUnsignedString(
        graft.functions.TextHashes.permSeed(j))}::HUGEINT)").mkString(",")
    val M64 = "18446744073709551615::HUGEINT"
    s"""seeds(j, s) AS (VALUES $seeds),
      |perm0 AS (SELECT doc_id, j, xor(v, s) AS v FROM $src, seeds),
      |p2 AS (SELECT doc_id, j, ((v & 4294967295::HUGEINT) * 18397679294719823053::HUGEINT
      |        + (((v >> 32) * 18397679294719823053::HUGEINT) & 4294967295::HUGEINT) * 4294967296::HUGEINT)
      |        & $M64 AS v FROM (SELECT doc_id, j, xor(v, v >> 33) AS v FROM perm0)),
      |p3 AS (SELECT doc_id, j, xor(v, v >> 33) AS v FROM p2),
      |p4 AS (SELECT doc_id, j, ((v & 4294967295::HUGEINT) * 14181476777654086739::HUGEINT
      |        + (((v >> 32) * 14181476777654086739::HUGEINT) & 4294967295::HUGEINT) * 4294967296::HUGEINT)
      |        & $M64 AS v FROM p3),
      |p5 AS (SELECT doc_id, j, xor(v, v >> 33) AS v FROM p4),
      |sig AS MATERIALIZED (
      |  SELECT doc_id, j,
      |    xor(MIN(xor(v, 9223372036854775808::HUGEINT)),
      |        9223372036854775808::HUGEINT) AS mh
      |  FROM p5 GROUP BY doc_id, j)""".stripMargin
  }

  /** One banding of the `sig` signature at `rowsPerBand` rows/band —
    * CTEs `bandkeys$sfx` / `cand$sfx`, so several band settings can
    * coexist in one sweep oracle.
    */
  private def minhashBandingCte(rowsPerBand: Int, sfx: String): String =
    s"""bandkeys$sfx AS MATERIALIZED (
      |  SELECT doc_id, j // $rowsPerBand AS band, list(mh ORDER BY j) AS bkey
      |  FROM sig GROUP BY doc_id, j // $rowsPerBand),
      |cand$sfx AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM bandkeys$sfx a JOIN bandkeys$sfx b
      |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)""".stripMargin

  private def minhashBody(src: String): String = {
    s"""${minhashSigCte(src)},
      |${minhashBandingCte(8, "")},
      |sets AS MATERIALIZED (SELECT doc_id, list(v ORDER BY v) AS sh, COUNT(*) AS n FROM $src GROUP BY doc_id),
      |jac AS (
      |  SELECT c.doc_a, c.doc_b,
      |    length(list_intersect(sa.sh, sb.sh)) AS n_common,
      |    sa.n AS na, sb.n AS nb
      |  FROM cand c JOIN sets sa ON c.doc_a = sa.doc_id
      |              JOIN sets sb ON c.doc_b = sb.doc_id)""".stripMargin
  }

  private lazy val minhashCte: String =
    s"""${shingleSetCte(3)},
      |${minhashBody("f5")}""".stripMargin

  /** [[minhashCte]] over an arbitrary docs CTE/table — the
    * sampled-slice recall row replays the C3 chain on the slice. */
  private def minhashCteOver(src: String): String =
    s"""${shingleSetCte(3, src)},
      |${minhashBody("f5")}""".stripMargin

  /** Hyperplane table for the LSH oracles, emitted from the REAL
    * [[graft.operators.Dedup.hyperplanes]] constants (Double.toString
    * round-trips exactly, so DuckDB parses the same IEEE values and the
    * sign-of-dot bucketing replays bit-for-bit).
    */
  private def planesValuesSql(nPlanes: Int, dim: Int, seed: Long): String =
    graft.operators.Dedup.hyperplanes(nPlanes, dim, seed).zipWithIndex.map {
      case (pl, p) => s"($p, [${pl.mkString(",")}]::DOUBLE[])"
    }.mkString(",")

  /** Shared sign-bit banding CTE over `embeddings` for a plane table
    * `planes(p, pl)`: `keys(vec_id, band, bkey)` with
    * bkey = Σ 2^(p mod ppb) over planes with dot(vec, plane) > 0 —
    * exactly [[graft.functions.VecHashes.hyperplaneBuckets]].
    */
  private def lshKeysCte(planesPerBand: Int): String =
    s"""dots AS (SELECT e.vec_id, planes.p,
      |    list_sum(list_transform(range(1, 65),
      |      i -> e.embedding[i]::DOUBLE * planes.pl[i])) AS dot
      |  FROM embeddings e, planes),
      |keys AS (SELECT vec_id, p // $planesPerBand AS band,
      |    SUM(CASE WHEN dot > 0
      |        THEN power(2, p % $planesPerBand)::BIGINT ELSE 0 END)::BIGINT AS bkey
      |  FROM dots GROUP BY vec_id, p // $planesPerBand)""".stripMargin

  /** One Lloyd iteration of the PQ sub-codebook k-means as DuckDB CTEs —
    * replays [[graft.operators.Knn.kmeansSubCodebooks]] bit-exactly:
    * argmin assignment (ties to the smallest slot), then per-component
    * means from QUANTIZED integer sums (`floor(v·2²⁰ + 0.5)` summed as
    * BIGINT — associative, so Spark's partitioned sum and this replay
    * agree exactly), empty clusters keeping the previous centroid.
    * Emits CTEs `${pfx}d$n ${pfx}a$n ${pfx}u$n ${pfx}g$n ${pfx}c$n`
    * reading the sample CTE `$samp`; `${pfx}c$n` is the iteration's
    * codebook `(sub, cell_id, cvec)`. The `pfx`/`samp` knobs let TWO
    * independent Lloyd chains coexist in one oracle (the composed
    * knn_ivfpq_trained trains a coarse quantizer AND sub-codebooks).
    * `c$n` is `AS MATERIALIZED`: it is referenced twice per following
    * iteration (distance + empty-cluster carry-forward), so inlining
    * re-executed earlier iterations exponentially — 40 s of the
    * knn_ivfpq_res_trained oracle's replay before, ~3 s after.
    */
  private def kmeansIterCte(n: Int, prev: String, d: Int = 8,
                            samp: String = "samp",
                            pfx: String = ""): String =
    s"""${pfx}d$n AS (SELECT s.vec_id, s.j AS sub, c.cell_id,
      |  list_sum(list_transform(range(1, ${d + 1}),
      |    i -> (s.sv[i] - c.cvec[i]) * (s.sv[i] - c.cvec[i]))) AS dist
      |  FROM $samp s JOIN $prev c ON s.j = c.sub),
      |${pfx}a$n AS (SELECT vec_id, sub, cell_id AS code FROM (
      |  SELECT *, row_number() OVER (PARTITION BY vec_id, sub
      |    ORDER BY dist, cell_id) AS rn FROM ${pfx}d$n) WHERE rn = 1),
      |${pfx}u$n AS (SELECT a.sub, a.code, t.i,
      |  SUM(CAST(floor(s.sv[t.i] * 1048576.0 + 0.5) AS BIGINT)) AS sq,
      |  COUNT(*) AS cnt
      |  FROM ${pfx}a$n a JOIN $samp s ON a.vec_id = s.vec_id AND a.sub = s.j,
      |    range(1, ${d + 1}) AS t(i)
      |  GROUP BY 1, 2, 3),
      |${pfx}g$n AS (SELECT sub, code AS cell_id,
      |  list(sq::DOUBLE / cnt / 1048576.0 ORDER BY i) AS cvec
      |  FROM ${pfx}u$n GROUP BY 1, 2),
      |${pfx}c$n AS MATERIALIZED (SELECT p.sub, p.cell_id, coalesce(g.cvec, p.cvec) AS cvec
      |  FROM $prev p LEFT JOIN ${pfx}g$n g
      |    ON p.sub = g.sub AND p.cell_id = g.cell_id)""".stripMargin

  private val cosineSql: (String, String) => String = (a, b) =>
    s"""list_sum(list_transform(range(1, 65), i -> $a[i]::DOUBLE * $b[i]::DOUBLE)) /
      |  (sqrt(list_sum(list_transform(range(1, 65), i -> $a[i]::DOUBLE * $a[i]::DOUBLE))) *
      |   sqrt(list_sum(list_transform(range(1, 65), i -> $b[i]::DOUBLE * $b[i]::DOUBLE))))""".stripMargin

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    */
  /** The frozen merge list as guarded SQL VALUES rows `(i,'a','b')`.
    * The require is the SQL-injection/parse guard for literal
    * inlining — ONE copy, shared by [[bpeTokCtes]] and the
    * text_bpe_ids oracle, so a tightened safety rule can never fix one
    * call site and leave the other emitting unguarded literals.
    */
  private def frozenMergeSqlValues: String = {
    require(graft.operators.Bpe.frozenMerges.forall { case (a, b) =>
      (a + b).matches("[0-9A-F]+") && a.length % 2 == 0 &&
        b.length % 2 == 0 },
      "frozenMerges must be even-length uppercase-hex byte symbols")
    graft.operators.Bpe.frozenMerges.zipWithIndex
      .map { case ((a, b), i) => s"($i,'$a','$b')" }.mkString(",")
  }

  /** The category-aware pretokenizer pattern as a SQL literal — THE
    * shared constant ([[graft.operators.Bpe.PretokenRegex]]), so the
    * Spark trainer, the encode kernels' scanner (semantics-pinned by
    * spec), and every oracle replay pretokenize identically. DuckDB
    * standard strings treat backslashes literally, so the pattern
    * inlines verbatim except quotes: the contraction alternatives
    * contain `'`, which SQL escapes by doubling. The control-char
    * guard is the remaining literal-safety rule.
    */
  private def pretokRegexSql: String = {
    val p = graft.operators.Bpe.PretokenRegex
    require(!p.exists(_ < ' '),
      "pretokenizer regex must be control-free for SQL inlining")
    p.replace("'", "''")
  }

  /** The registered 3:2:1 mixture as SQL VALUES rows — derived from
    * [[queries.Pipeline.mixWeights]], so the corpus_mix /
    * corpus_interleave / corpus_pack_interleaved oracles and the
    * engine-side queries share ONE mixture definition.
    */
  private def mixWtsSql: String =
    _root_.graft.queries.Pipeline.mixWeights
      .map { case (src, w) => s"('$src', $w)" }.mkString(",")

  /** The frozen-BPE per-doc token-count replay as b-prefixed CTEs
    * ending in `btok` (doc_id, n_bpe) — the recursive-CTE
    * segmentation from the text_bpe_encode oracle, shared by the
    * seq_packing / seq_spans / corpus_export oracles so packing's
    * token units are the TOKENIZER's own counts in both engines (a
    * doc with no words has no btok row — join with coalesce 0).
    * Byte-level: a word's initial symbols are its UTF-8 bytes as
    * 2-char hex pairs (`hex(encode(w))` split every 2 chars — the
    * exact rendering the Scala kernel uses), a word is segmentable
    * iff it has >= 2 BYTES (`strlen` = byte length in DuckDB), and
    * single-byte words count 1 token.
    */
  private def bpeTokCtes: String = bpeTokCtes("documents")

  /** The gpt2Ws pretokenizer as a LOOKAHEAD-FREE DuckDB expression —
    * RE2 cannot run [[graft.operators.Bpe.Gpt2WsPretokenRegex]]'s
    * `\s+(?!\S)` directly, so the oracle replays it as the equivalent
    * two-pass rewrite: (1) insert a chr(31) boundary between the last
    * two whitespace chars of every >=2 whitespace run that precedes a
    * word (`(\s)(\s\S)` is non-overlapping-safe: each such run
    * contains exactly one match, ending at its last two chars), then
    * (2) split on the boundary and extract per segment with the plain
    * [[graft.operators.Bpe.Gpt2WsSegmentRegex]] — inside a segment no
    * >=2 ws run precedes a word anymore, so bare `\s+` is exactly the
    * lookahead's residue. Spec-pinned equal to the Java lookahead
    * pattern (and the hand scanner) on the fixture battery; chr(31)
    * is safe as a boundary because the corpus is control-char-free
    * (the same guard the fenced hex replay relies on). Evaluates to a
    * LIST over the column `text`.
    */
  private def gpt2WsPretokSql: String = {
    val seg = graft.operators.Bpe.Gpt2WsSegmentRegex
    require(!seg.exists(_ < ' '),
      "gpt2Ws segment regex must be control-free for SQL inlining")
    val segSql = seg.replace("'", "''")
    "flatten(list_transform(string_split(regexp_replace(text, " +
      s"'(\\s)(\\s\\S)', '\\1' || chr(31) || '\\2', 'g'), chr(31)), " +
      s"seg -> regexp_extract_all(seg, '$segSql')))"
  }

  /** [[bpeTokCtes]] over an arbitrary docs CTE/table `src` — the
    * non-ASCII coverage rows replay token counts over the derived
    * multilingual slice. (The gpt2Ws whitespace-mode row does NOT go
    * through here: it is a TRAINING replay, so its pluggable
    * pretokenizer seam is [[bpeTrainOracleSql]]'s `pretok` overload.)
    */
  private def bpeTokCtes(src: String): String = {
    val mergeVals = frozenMergeSqlValues
    val nm = graft.operators.Bpe.frozenMerges.length
    s"""bmg(m, a, b) AS (VALUES $mergeVals),
      |bdw AS (SELECT doc_id,
      |    unnest(regexp_extract_all(text, '$pretokRegexSql')) AS w
      |  FROM $src),
      |bdist AS (SELECT DISTINCT w FROM bdw WHERE strlen(w) > 1),
      |binit AS (SELECT w, chr(31) ||
      |    array_to_string(regexp_extract_all(hex(encode(w)), '..'),
      |      chr(31) || chr(31)) || chr(31) AS s FROM bdist),
      |brec AS (
      |  SELECT w, 0 AS m, s FROM binit
      |  UNION ALL
      |  SELECT r.w, r.m + 1,
      |    replace(r.s, chr(31)||g.a||chr(31)||chr(31)||g.b||chr(31),
      |      chr(31)||g.a||g.b||chr(31))
      |  FROM brec r JOIN bmg g ON g.m = r.m),
      |bseg AS (SELECT w,
      |    (length(s) - length(replace(s, chr(31), ''))) // 2 AS n_syms
      |  FROM brec WHERE m = $nm),
      |btok AS (SELECT d.doc_id,
      |    sum(CASE WHEN strlen(d.w) = 1 THEN 1 ELSE s.n_syms END)::BIGINT
      |      AS n_bpe
      |  FROM bdw d LEFT JOIN bseg s ON d.w = s.w GROUP BY 1)""".stripMargin
  }

  /** The FULL E12 training-loop replay over `src`, ending in the
    * per-doc (doc_id, n_chars, n_bpe, compression) report — the
    * recursive `steps` CTE carries every vocab word's fenced BYTE-hex
    * segmentation state; each iteration computes freq-weighted
    * overlap-included pair counts across the carried rows, picks the
    * argmax by (count DESC, pair key ASC), and applies it with the
    * one-replace left-to-right rule. Recursion stops at pair
    * exhaustion (the argmax subquery returns no row at count < 2) or
    * the 1024-merge request cap, exactly like the trainer; the final
    * step's segmentations then serve the per-doc token counts. No
    * maxVocab truncation here: the sf vocab (~30 words) is far below
    * the trainer's 2^21 cap, where capped and uncapped results are
    * identical (the train() scaladoc's argument, parity-spec-pinned).
    */
  private def bpeTrainOracleSql(src: String,
                                prelude: String = ""): String =
    bpeTrainOracleSql(src, prelude,
      s"regexp_extract_all(text, '$pretokRegexSql')")

  /** [[bpeTrainOracleSql]] with the pretokenizer pluggable (`pretok`
    * = a SQL LIST expression over `text`) — the gpt2Ws training row
    * passes [[gpt2WsPretokSql]]'s lookahead-free rewrite, making the
    * LEARNED MERGES whitespace-mode-sensitive: multi-space pretokens
    * ("  ", "   ") enter the vocab and train ("20","20")-class
    * merges, so a pretokenizer drift on either side changes the
    * merge list itself and every count after it. */
  private def bpeTrainOracleSql(src: String, prelude: String,
                                pretok: String): String =
    s"""WITH RECURSIVE
      |$prelude""".stripMargin.stripTrailing() + "\n" +
    s"""bdw AS (SELECT doc_id,
      |    unnest($pretok) AS w
      |  FROM $src),
      |vocab AS (SELECT w, count(*)::BIGINT AS f FROM bdw
      |  WHERE strlen(w) > 1 GROUP BY 1),
      |steps AS (
      |  SELECT 0 AS step, w, f,
      |    chr(31) ||
      |      array_to_string(regexp_extract_all(hex(encode(w)), '..'),
      |      chr(31)||chr(31)) || chr(31) AS s
      |  FROM vocab
      |  UNION ALL
      |  SELECT t.step + 1, t.w, t.f,
      |    replace(t.s, chr(31)||p.a||chr(31)||chr(31)||p.b||chr(31),
      |      chr(31)||p.a||p.b||chr(31))
      |  FROM steps t, (
      |    SELECT string_split(pk, ' ')[1] AS a,
      |           string_split(pk, ' ')[2] AS b
      |    FROM (
      |      SELECT pk, sum(cnt) AS c FROM (
      |        SELECT u.f AS cnt,
      |          syms[i::INT] || ' ' || syms[(i+1)::INT] AS pk
      |        FROM (SELECT f,
      |            string_split(substr(s, 2, length(s) - 2),
      |              chr(31)||chr(31)) AS syms
      |          FROM steps) u, unnest(range(1, len(syms))) AS t2(i)
      |      ) q GROUP BY pk
      |    ) agg WHERE c >= 2
      |    ORDER BY c DESC, pk LIMIT 1
      |  ) p
      |  WHERE t.step < 1024
      |),
      |final AS (SELECT w,
      |    (length(s) - length(replace(s, chr(31), ''))) // 2 AS n_syms
      |  FROM steps WHERE step = (SELECT max(step) FROM steps)),
      |tok AS (SELECT d.doc_id,
      |    sum(CASE WHEN strlen(d.w) = 1 THEN 1 ELSE s.n_syms END)::BIGINT
      |      AS n_bpe
      |  FROM bdw d LEFT JOIN final s ON d.w = s.w GROUP BY 1)
      |SELECT doc.doc_id, length(doc.text)::BIGINT AS n_chars,
      |  coalesce(t.n_bpe, 0)::BIGINT AS n_bpe,
      |  CASE WHEN coalesce(t.n_bpe, 0) = 0 THEN NULL
      |       ELSE round(length(doc.text) / t.n_bpe, 6) END AS compression
      |FROM $src doc LEFT JOIN tok t USING (doc_id)
      |ORDER BY doc.doc_id""".stripMargin

  /** The derived MULTILINGUAL doc slice as a CTE `mldocs(doc_id,
    * lang, text, source)` — the fixture corpus is pure ASCII, so the
    * byte-level tokenizer's non-ASCII behavior is exercised on a
    * slice DERIVED deterministically from doc_id in BOTH engines:
    * phrase literals come from ONE Scala constant
    * ([[graft.queries.Pipeline.mlPhrases]], Greek / Russian / Chinese
    * — two non-Latin alphabets and an unsegmented CJK script, 2- and
    * 3-byte UTF-8), picked by doc_id % |phrases| and repeated
    * 1 + doc_id % 4 times so words repeat enough to train merges.
    */
  private def mlDocsCte: String = {
    val vals = _root_.graft.queries.Pipeline.mlPhrases.zipWithIndex
      .map { case ((lang, p), i) =>
        // literal-inlining guard, the frozenMergeSqlValues rule:
        // phrases must be quote/backslash/control-free
        require(!p.exists(c => c == '\'' || c == '\\' || c < ' ') &&
          lang.matches("[a-z]+"), s"unsafe ml phrase literal: $p")
        s"($i, '$lang', '$p')"
      }.mkString(", ")
    val n = _root_.graft.queries.Pipeline.mlPhrases.length
    s"""mlp(i, lang, phrase) AS (VALUES $vals),
      |mldocs AS (SELECT d.doc_id, m.lang,
      |    trim(repeat(m.phrase || ' ', (1 + d.doc_id % 4)::INT)) AS text,
      |    'ml_' || m.lang AS source
      |  FROM documents d JOIN mlp m ON d.doc_id % $n = m.i)""".stripMargin
  }

  /** The frozen-BPE per-doc token-ID stream as CTEs ending in
    * `bids(doc_id, pos, id)` — the recursive-CTE segmentation replay
    * extended with the stable-vocab symbol→id CASE (byte-level base:
    * a 2-hex-char symbol parses straight to its byte value 0..255;
    * merge output = 256 + FIRST producing merge index — the
    * mergeIdMap putIfAbsent rule — else the reserved, unreachable
    * `<unk>` id) and a per-doc (word, symbol) ordinal walk for pos.
    * Shared by the text_bpe_ids and corpus_chunk oracles so the
    * chunker's windows are sliced from the SAME replayed id stream
    * the encode oracle checks.
    */
  private def bpeIdsCtes: String = bpeIdsCtes("documents")

  /** [[bpeIdsCtes]] over an arbitrary docs CTE/table `src` — the
    * composed corpus_export_ids oracle replays the id stream over the
    * SURVIVOR slice, not the whole corpus; the utf8 coverage row over
    * the derived multilingual slice. */
  private def bpeIdsCtes(src: String): String = {
    val mergeVals = frozenMergeSqlValues
    val nm = graft.operators.Bpe.frozenMerges.length
    val unk = graft.functions.bpe.unkId(graft.operators.Bpe.frozenMerges)
    s"""mg(m, a, b) AS (VALUES $mergeVals),
      |words AS (SELECT doc_id, wi, ws[wi::INT] AS w FROM (
      |    SELECT doc_id,
      |      regexp_extract_all(text, '$pretokRegexSql') AS ws
      |    FROM $src), unnest(range(1, len(ws) + 1)) AS t(wi)),
      |dist AS (SELECT DISTINCT w FROM words WHERE strlen(w) > 1),
      |init AS (SELECT w, chr(31) ||
      |    array_to_string(regexp_extract_all(hex(encode(w)), '..'),
      |      chr(31) || chr(31)) || chr(31) AS s FROM dist),
      |rec AS (
      |  SELECT w, 0 AS m, s FROM init
      |  UNION ALL
      |  SELECT r.w, r.m + 1,
      |    replace(r.s, chr(31)||mg.a||chr(31)||chr(31)||mg.b||chr(31),
      |      chr(31)||mg.a||mg.b||chr(31))
      |  FROM rec r JOIN mg ON mg.m = r.m),
      |seg AS (SELECT w,
      |    string_split(substr(s, 2, length(s) - 2), chr(31)||chr(31))
      |      AS syms
      |  FROM rec WHERE m = $nm),
      |vmap AS (SELECT a || b AS tok, 256 + MIN(m) AS vid
      |  FROM mg GROUP BY 1),
      |wsyms AS (SELECT w.doc_id, w.wi,
      |    coalesce(s.syms, [hex(encode(w.w))]) AS syms
      |  FROM words w LEFT JOIN seg s ON w.w = s.w),
      |toks AS (SELECT doc_id, wi, si, syms[si::INT] AS sym
      |  FROM wsyms, unnest(range(1, len(syms) + 1)) AS t(si)),
      |rawids AS (SELECT t.doc_id, t.wi, t.si,
      |  CASE WHEN length(t.sym) = 2 THEN
      |      (strpos('0123456789ABCDEF', substr(t.sym, 1, 1)) - 1) * 16
      |        + (strpos('0123456789ABCDEF', substr(t.sym, 2, 1)) - 1)
      |       ELSE coalesce(v.vid, $unk) END AS id
      |  FROM toks t LEFT JOIN vmap v ON v.tok = t.sym),
      |bids AS (SELECT doc_id,
      |  (row_number() OVER (PARTITION BY doc_id ORDER BY wi, si) - 1)::INT
      |    AS pos,
      |  id::INT AS id
      |FROM rawids)""".stripMargin
  }

  /** The naive per-phase replay of the C31 annealed schedule as CTEs
    * ending in `apos(pos, doc_id, source, phase)` — literals generated
    * from `Pipeline.annealPhases` (the ONE phase definition), rank
    * boundaries in exact DECIMAL arithmetic (the engine's BigDecimal
    * twin). Shared by the corpus_anneal oracle and the composed
    * corpus_pack_annealed oracle so the two cannot drift; names are
    * a-prefixed to compose with the b-prefixed [[bpeTokCtes]].
    */
  private def annealPosCtes: String = annealPosCtes("documents")

  /** [[annealPosCtes]] over an arbitrary docs CTE/table `src` — the
    * composed corpus_export_ids oracle schedules the SURVIVOR slice. */
  private def annealPosCtes(src: String): String = {
    val ph = _root_.graft.queries.Pipeline.annealPhases
    require(ph.length == 2,
      "the anneal oracle builder replays exactly the 2-phase config")
    @annotation.tailrec
    def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)
    def lcm(ws: Seq[Int]): Long =
      ws.map(_.toLong).reduce((a, b) => a / gcd(a, b) * b)
    // literal-inlining guard, the frozenMergeSqlValues rule
    def safe(s: String): String = {
      require(s.matches("[A-Za-z0-9_]+"), s"unsafe SQL literal: $s")
      s
    }
    def mValsOf(p: _root_.graft.operators.Sampling.AnnealPhase) = {
      val l = lcm(p.weights.map(_._2))
      p.weights.map { case (s, w) => s"('${safe(s)}', ${l / w})" }
        .mkString(", ")
    }
    def fValsOf(p: _root_.graft.operators.Sampling.AnnealPhase) =
      p.weights.map { case (s, _) => s"('${safe(s)}', ${p.frac(s)})" }
        .mkString(", ")
    val srcs = ph.flatMap(_.weights.map(_._1)).distinct
      .map(s => s"('${safe(s)}')").mkString(", ")
    s"""asrcs(source) AS (VALUES $srcs),
      |aw1(source, m) AS (VALUES ${mValsOf(ph(0))}),
      |af1(source, f) AS (VALUES ${fValsOf(ph(0))}),
      |aw2(source, m) AS (VALUES ${mValsOf(ph(1))}),
      |af2(source, f) AS (VALUES ${fValsOf(ph(1))}),
      |akeyed AS (SELECT d.doc_id, d.source,
      |    substr(md5(d.doc_id::VARCHAR || ':42'), 1, 4) AS k4
      |  FROM $src d JOIN asrcs s ON d.source = s.source),
      |ar AS (SELECT doc_id, source,
      |    row_number() OVER (PARTITION BY source ORDER BY k4, doc_id)
      |      AS r,
      |    COUNT(*) OVER (PARTITION BY source) AS ns
      |  FROM akeyed),
      |abnd AS (SELECT ar.doc_id, ar.source, ar.r,
      |    LEAST(ar.ns, FLOOR(coalesce(af1.f, 0) * ar.ns)::BIGINT) AS b1,
      |    LEAST(ar.ns, FLOOR((coalesce(af1.f, 0) + coalesce(af2.f, 0))
      |      * ar.ns)::BIGINT) AS b2,
      |    aw1.m AS m1, aw2.m AS m2
      |  FROM ar LEFT JOIN af1 ON ar.source = af1.source
      |    LEFT JOIN af2 ON ar.source = af2.source
      |    LEFT JOIN aw1 ON ar.source = aw1.source
      |    LEFT JOIN aw2 ON ar.source = aw2.source),
      |aphs AS (SELECT doc_id, source,
      |    CASE WHEN m1 IS NOT NULL AND r <= b1 THEN 0
      |         WHEN m2 IS NOT NULL AND r > b1 AND r <= b2 THEN 1
      |    END AS ph,
      |    CASE WHEN m1 IS NOT NULL AND r <= b1
      |           THEN (2 * r - 1)::BIGINT * m1
      |         WHEN m2 IS NOT NULL AND r > b1 AND r <= b2
      |           THEN (2 * (r - b1) - 1)::BIGINT * m2
      |    END AS key
      |  FROM abnd),
      |apos AS (SELECT
      |    (row_number() OVER (ORDER BY ph, key, source) - 1)::BIGINT
      |      AS pos,
      |    doc_id, source,
      |    CASE ph WHEN 0 THEN '${safe(ph(0).name)}'
      |      ELSE '${safe(ph(1).name)}' END AS phase
      |  FROM aphs WHERE ph IS NOT NULL)""".stripMargin
  }

  /** The full C10-fuzzy curation chain as CTEs ending in `surv`
    * (survivor doc_id, lang, quality, split) — shared verbatim by the
    * corpus_curate_fuzzy oracle and the composed corpus_export oracle
    * so the two can never drift.
    *
    * `edges` and `surv` are `AS MATERIALIZED`: DuckDB inlines plain
    * CTEs at every reference, so the recursive `reach` step was
    * re-executing the ENTIRE MinHash chain on every closure iteration
    * (~16x) and `corpus_export`'s three `surv` consumers re-ran the
    * curation three times — 165-178 s per oracle at sf0.01, the bulk
    * of the r12 gate's ~35-min DuckDB sweep and the likely cause of
    * the driver's empty CORRECTNESS_r12.json. Materialized: ~12 s.
    */
  private def curateFuzzySurvCtes: String =
    s"""$wordFnvCte,
      |${shingleSetTail(5, "")},
      |${shingleSetTail(3, "m")},
      |${minhashBody("mf5")},
      |good AS (SELECT doc_a, doc_b FROM jac
      |  WHERE n_common::DOUBLE / (na + nb - n_common) >= 0.7),
      |edges AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM good
      |  UNION SELECT doc_b, doc_a FROM good),
      |reach(node, peer) AS (
      |  SELECT src, src FROM edges
      |  UNION
      |  SELECT r.node, e.dst FROM reach r JOIN edges e ON r.peer = e.src),
      |noncanon AS (SELECT node AS doc_id FROM reach
      |  GROUP BY node HAVING node <> MIN(peer)),
      |ev AS (SELECT DISTINCT v FROM f5 WHERE doc_id % 7 = 0 AND doc_id < 50000),
      |cont AS (SELECT DISTINCT t.doc_id FROM f5 t
      |  JOIN ev ON t.v = ev.v
      |  WHERE NOT (t.doc_id % 7 = 0 AND t.doc_id < 50000)),
      |q AS (SELECT doc_id, lang, text,
      |  regexp_split_to_array(trim(text), '\\s+') AS ws FROM documents
      |  WHERE NOT (doc_id % 7 = 0 AND doc_id < 50000)),
      |c AS (SELECT doc_id, lang, text,
      |  len(list_distinct(ws))::DOUBLE / len(ws) AS diversity,
      |  len(list_filter(ws, w -> w IN ('the','a','an','and','of','to','in',
      |    'is','on','for')))::DOUBLE / len(ws) AS stop_ratio,
      |  len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]'))::DOUBLE
      |    / length(text)::DOUBLE AS punct_ratio,
      |  CASE WHEN length(text) BETWEEN 100 AND 2000 THEN 1.0 ELSE 0.5 END
      |    AS len_score
      | FROM q),
      |s AS (SELECT doc_id, lang, text,
      |  round(len_score * 0.25 + diversity * 0.25
      |    + least(stop_ratio * 4, 1.0) * 0.25
      |    + greatest(1.0 - punct_ratio * 10, 0.0) * 0.25, 6) AS quality
      | FROM c),
      |f AS (SELECT *,
      |  md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
      | FROM s WHERE quality >= 0.7
      |   AND doc_id NOT IN (SELECT doc_id FROM cont)),
      |k AS (SELECT doc_id, lang, quality,
      |  row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn FROM f),
      |surv AS MATERIALIZED (SELECT doc_id, lang, quality,
      | CASE WHEN substr(md5(doc_id::VARCHAR || ':42'), 1, 4)
      |        < '${operators.Sampling.hexThreshold(0.8)}' THEN 'train'
      |      WHEN substr(md5(doc_id::VARCHAR || ':42'), 1, 4)
      |        < '${operators.Sampling.hexThreshold(0.9)}' THEN 'val'
      |      ELSE 'test' END AS split
      |FROM k WHERE rn = 1
      |  AND doc_id NOT IN (SELECT doc_id FROM noncanon))""".stripMargin

  /** The D10b radius replay — shared verbatim by `knn_range_ivf` (the
    * in-plan assignment) and `knn_range_indexed` (the same assignment
    * frozen into the persisted layout at build time): strideCoarse
    * cells, argmax assignment (ties to smallest cell), 5-probe,
    * exact-cosine τ=0.3 on the unrounded value.
    */
  private val knnRangeIvfSql: String =
    s"""WITH strd AS (SELECT GREATEST(50, CEIL(COUNT(*) / 256.0)::BIGINT)
      |  AS s FROM embeddings),
      |anchor AS (SELECT MIN(vec_id % s) AS m FROM embeddings, strd),
      |cent AS (SELECT vec_id AS cell_id, embedding AS ce
      |         FROM embeddings, anchor, strd WHERE vec_id % s = anchor.m),
      |assign0 AS (
      |  SELECT e.vec_id AS neighbor_id, e.embedding AS cv, c.cell_id,
      |         ${cosineSql("e.embedding", "c.ce")} AS csim
      |  FROM embeddings e, cent c),
      |assign AS (
      |  SELECT neighbor_id, cv, cell_id FROM (
      |    SELECT *, row_number() OVER (PARTITION BY neighbor_id
      |      ORDER BY csim DESC, cell_id) AS rn FROM assign0) WHERE rn = 1),
      |q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 10),
      |probes AS (
      |  SELECT query_id, qe, cell_id FROM (
      |    SELECT q.query_id, q.qe, c.cell_id,
      |      row_number() OVER (PARTITION BY q.query_id
      |        ORDER BY ${cosineSql("q.qe", "c.ce")} DESC, c.cell_id) AS qrn
      |    FROM q, cent c) WHERE qrn <= 5),
      |d AS (
      |  SELECT p.query_id, a.neighbor_id, ${cosineSql("p.qe", "a.cv")} AS c
      |  FROM probes p JOIN assign a ON p.cell_id = a.cell_id
      |  WHERE a.neighbor_id <> p.query_id)
      |SELECT query_id, neighbor_id, round(c, 6) AS cosine
      |FROM d WHERE c >= 0.3 ORDER BY query_id, neighbor_id""".stripMargin

  /** The D11 SQ8 replay — shared verbatim by `knn_sq` (in-plan codes)
    * and `knn_sq_indexed` (the same grid + codes frozen into the
    * persisted store at build time): min/max grid, floor/clamp codes,
    * affine reconstruction, asymmetric-cosine shortlist, exact
    * re-rank.
    */
  private val knnSqSql: String =
      s"""WITH e AS (SELECT vec_id,
        |  list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
        |mm AS (SELECT j, MIN(v[j]) AS lo, MAX(v[j]) AS hi
        |  FROM e, range(1, 65) AS t(j) GROUP BY j),
        |sc AS (SELECT j, lo,
        |  CASE WHEN hi > lo THEN (hi - lo) / 255.0 ELSE 1.0 END AS s
        |  FROM mm),
        |rec AS (SELECT e.vec_id,
        |  list(sc.lo + LEAST(255.0, GREATEST(0.0,
        |    FLOOR((e.v[sc.j] - sc.lo) / sc.s + 0.5))) * sc.s
        |    ORDER BY sc.j) AS rv
        |  FROM e, sc GROUP BY e.vec_id),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
        |a AS (SELECT q.query_id, r.vec_id AS neighbor_id,
        |  ${cosineSql("q.qv", "r.rv")} AS ac
        |  FROM q, rec r WHERE r.vec_id <> q.query_id),
        |short AS (SELECT query_id, neighbor_id FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY ac DESC, neighbor_id) AS srn FROM a) WHERE srn <= 20),
        |d AS (SELECT s.query_id, s.neighbor_id,
        |  ${cosineSql("qe.v", "ne.v")} AS c
        |  FROM short s JOIN e qe ON qe.vec_id = s.query_id
        |  JOIN e ne ON ne.vec_id = s.neighbor_id),
        |r AS (SELECT query_id, neighbor_id, c,
        |  row_number() OVER (PARTITION BY query_id
        |    ORDER BY c DESC, neighbor_id) AS rank FROM d)
        |SELECT query_id, rank, neighbor_id, round(c, 6) AS cosine
        |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  def oracleSql: Map[String, String] = oracleSqlInline ++ Map(
    // D9c: the D9b replay verbatim — the fixture store freezes the
    // strideCoarse geometry, so the persisted sweep answers the
    // in-plan formulation (the knn_range_indexed precedent)
    "knn_recall_sweep_indexed" -> oracleSqlInline("knn_recall_sweep")
  )

  private lazy val oracleSqlInline: Map[String, String] = Map(
    "knn_ivf" ->
      s"""WITH strd AS (SELECT GREATEST(50, CEIL(COUNT(*) / 256.0)::BIGINT)
        |  AS s FROM embeddings),
        |anchor AS (SELECT MIN(vec_id % s) AS m FROM embeddings, strd),
        |cent AS (SELECT vec_id AS cell_id, embedding AS ce
        |         FROM embeddings, anchor, strd WHERE vec_id % s = anchor.m),
        |assign0 AS (
        |  SELECT e.vec_id AS neighbor_id, e.embedding AS cv, c.cell_id,
        |         ${cosineSql("e.embedding", "c.ce")} AS csim
        |  FROM embeddings e, cent c),
        |assign AS (
        |  SELECT neighbor_id, cv, cell_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY neighbor_id
        |      ORDER BY csim DESC, cell_id) AS rn FROM assign0) WHERE rn = 1),
        |q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 10),
        |probes AS (
        |  SELECT query_id, qe, cell_id FROM (
        |    SELECT q.query_id, q.qe, c.cell_id,
        |      row_number() OVER (PARTITION BY q.query_id
        |        ORDER BY ${cosineSql("q.qe", "c.ce")} DESC, c.cell_id) AS qrn
        |    FROM q, cent c) WHERE qrn <= 5),
        |d AS (
        |  SELECT p.query_id, a.neighbor_id, ${cosineSql("p.qe", "a.cv")} AS c
        |  FROM probes p JOIN assign a ON p.cell_id = a.cell_id
        |  WHERE a.neighbor_id <> p.query_id),
        |r AS (SELECT query_id, neighbor_id, c,
        |  row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS rank
        |  FROM d)
        |SELECT query_id, rank, neighbor_id, round(c, 6) AS cosine
        |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    // D10b: the knn_ivf chain, thresholded instead of ranked (the
    // filter runs on the UNROUNDED value, as on the Spark side)
    "knn_range_ivf" -> knnRangeIvfSql,
    // D10c: the persisted-index radius path — the index's FROZEN
    // coarse table IS the strideCoarse D10b derives in-plan (the
    // build froze it, KnnSpec pins row parity), so the stored
    // assignment replays with D10b's SQL verbatim
    "knn_range_indexed" -> knnRangeIvfSql,
    "knn_ivf_trained" ->
      s"""WITH e AS (SELECT vec_id,
        |  list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
        |sub AS (SELECT vec_id, 0 AS j, v AS sv FROM e),
        |tm AS (SELECT greatest(2, (COUNT(*) + 8191) // 8192) AS m FROM e),
        |samp AS (SELECT * FROM sub WHERE vec_id % (SELECT m FROM tm) = 0),
        |initids AS (SELECT vec_id,
        |  row_number() OVER (ORDER BY vec_id) - 1 AS cell_id
        |  FROM (SELECT DISTINCT vec_id FROM samp ORDER BY vec_id LIMIT 16)),
        |c0 AS (SELECT s.j AS sub, i.cell_id, s.sv AS cvec
        |  FROM samp s JOIN initids i USING (vec_id)),
        |${kmeansIterCte(1, "c0", 64)},
        |${kmeansIterCte(2, "c1", 64)},
        |cent AS (SELECT cell_id, cvec AS ce FROM c2),
        |assign0 AS (
        |  SELECT e.vec_id AS neighbor_id, e.v AS cv, c.cell_id,
        |         ${cosineSql("e.v", "c.ce")} AS csim
        |  FROM e, cent c),
        |assign AS (
        |  SELECT neighbor_id, cv, cell_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY neighbor_id
        |      ORDER BY csim DESC, cell_id) AS rn FROM assign0) WHERE rn = 1),
        |q AS (SELECT vec_id AS query_id, v AS qe FROM e WHERE vec_id < 10),
        |probes AS (
        |  SELECT query_id, qe, cell_id FROM (
        |    SELECT q.query_id, q.qe, c.cell_id,
        |      row_number() OVER (PARTITION BY q.query_id
        |        ORDER BY ${cosineSql("q.qe", "c.ce")} DESC, c.cell_id) AS qrn
        |    FROM q, cent c) WHERE qrn <= 5),
        |d AS (
        |  SELECT p.query_id, a.neighbor_id, ${cosineSql("p.qe", "a.cv")} AS c
        |  FROM probes p JOIN assign a ON p.cell_id = a.cell_id
        |  WHERE a.neighbor_id <> p.query_id),
        |r AS (SELECT query_id, neighbor_id, c,
        |  row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS rank
        |  FROM d)
        |SELECT query_id, rank, neighbor_id, round(c, 6) AS cosine
        |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    // D11: SQ8 replay — per-dim [lo, hi] grid, floor(+0.5) codes
    // clamped to [0, 255], affine reconstruction, asymmetric cosine
    // shortlist (top-20), exact re-rank (top-5). Every step is the
    // same double arithmetic the engine runs.
    "knn_sq" -> knnSqSql,
    // D11b: the persisted byte-codes store probed off disk — the grid
    // and codes were frozen from the SAME corpus at build, so answers
    // equal the in-plan row and the oracle is knn_sq's verbatim
    "knn_sq_indexed" -> knnSqSql,
    "knn_pq" ->
      """WITH e AS (SELECT vec_id,
        |  list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
        |sub AS (SELECT vec_id, j, list_slice(v, j*8 + 1, j*8 + 8) AS sv
        |  FROM e, range(0, 8) AS t(j)),
        |cent AS (SELECT j AS sub, vec_id AS cell_id, sv AS cvec
        |  FROM sub WHERE vec_id < 16),
        |enc0 AS (SELECT s.vec_id, s.j AS sub, c.cell_id,
        |  list_sum(list_transform(range(1, 9),
        |    i -> (s.sv[i] - c.cvec[i]) * (s.sv[i] - c.cvec[i]))) AS dist
        |  FROM sub s JOIN cent c ON s.j = c.sub),
        |codes AS (SELECT vec_id AS neighbor_id, sub, cell_id AS code FROM (
        |  SELECT *, row_number() OVER (PARTITION BY vec_id, sub
        |    ORDER BY dist, cell_id) AS rn FROM enc0) WHERE rn = 1),
        |qt AS (SELECT s.vec_id AS query_id, s.j AS sub,
        |  c.cell_id AS code,
        |  list_sum(list_transform(range(1, 9),
        |    i -> (s.sv[i] - c.cvec[i]) * (s.sv[i] - c.cvec[i]))) AS qdist
        |  FROM sub s JOIN cent c ON s.j = c.sub WHERE s.vec_id < 10),
        |adc AS (SELECT qt.query_id, codes.neighbor_id,
        |  list_sum(list(qt.qdist ORDER BY qt.sub)) AS adist
        |  FROM codes JOIN qt ON codes.sub = qt.sub AND codes.code = qt.code
        |  GROUP BY 1, 2),
        |short AS (SELECT query_id, neighbor_id FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY adist, neighbor_id) AS srn
        |  FROM adc WHERE neighbor_id <> query_id) WHERE srn <= 20),
        |d AS (SELECT s.query_id, s.neighbor_id,
        |  list_sum(list_transform(range(1, 65), i -> qe.v[i] * ne.v[i])) /
        |  (sqrt(list_sum(list_transform(range(1, 65), i -> qe.v[i] * qe.v[i]))) *
        |   sqrt(list_sum(list_transform(range(1, 65), i -> ne.v[i] * ne.v[i]))))
        |    AS c
        |  FROM short s JOIN e qe ON qe.vec_id = s.query_id
        |  JOIN e ne ON ne.vec_id = s.neighbor_id),
        |r AS (SELECT query_id, neighbor_id, c,
        |  row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id)
        |    AS rank FROM d)
        |SELECT query_id, rank, neighbor_id, round(c, 6) AS cosine
        |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "knn_ivfpq" ->
      s"""WITH e AS (SELECT vec_id,
        |  list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
        |strd AS (SELECT GREATEST(50, CEIL(COUNT(*) / 256.0)::BIGINT) AS s
        |  FROM embeddings),
        |anchor AS (SELECT MIN(vec_id % s) AS m FROM embeddings, strd),
        |ccent AS (SELECT vec_id AS cell_id, embedding AS ce
        |  FROM embeddings, anchor, strd WHERE vec_id % s = anchor.m),
        |assign0 AS (
        |  SELECT e0.vec_id AS neighbor_id, c.cell_id,
        |         ${cosineSql("e0.embedding", "c.ce")} AS csim
        |  FROM embeddings e0, ccent c),
        |cells AS (
        |  SELECT neighbor_id, cell_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY neighbor_id
        |      ORDER BY csim DESC, cell_id) AS rn FROM assign0) WHERE rn = 1),
        |q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings
        |  WHERE vec_id < 10),
        |probes AS (
        |  SELECT query_id, cell_id FROM (
        |    SELECT q.query_id, c.cell_id,
        |      row_number() OVER (PARTITION BY q.query_id
        |        ORDER BY ${cosineSql("q.qe", "c.ce")} DESC, c.cell_id) AS qrn
        |    FROM q, ccent c) WHERE qrn <= 5),
        |sub AS (SELECT vec_id, j, list_slice(v, j*8 + 1, j*8 + 8) AS sv
        |  FROM e, range(0, 8) AS t(j)),
        |pcent AS (SELECT j AS sub, vec_id AS cell_id, sv AS cvec
        |  FROM sub WHERE vec_id < 16),
        |enc0 AS (SELECT s.vec_id, s.j AS sub, c.cell_id,
        |  list_sum(list_transform(range(1, 9),
        |    i -> (s.sv[i] - c.cvec[i]) * (s.sv[i] - c.cvec[i]))) AS dist
        |  FROM sub s JOIN pcent c ON s.j = c.sub),
        |codes AS (SELECT vec_id AS neighbor_id, sub, cell_id AS code FROM (
        |  SELECT *, row_number() OVER (PARTITION BY vec_id, sub
        |    ORDER BY dist, cell_id) AS rn FROM enc0) WHERE rn = 1),
        |qt AS (SELECT s.vec_id AS query_id, s.j AS sub,
        |  c.cell_id AS code,
        |  list_sum(list_transform(range(1, 9),
        |    i -> (s.sv[i] - c.cvec[i]) * (s.sv[i] - c.cvec[i]))) AS qdist
        |  FROM sub s JOIN pcent c ON s.j = c.sub WHERE s.vec_id < 10),
        |adc AS (SELECT p.query_id, codes.neighbor_id,
        |  list_sum(list(qt.qdist ORDER BY qt.sub)) AS adist
        |  FROM codes
        |  JOIN cells ON codes.neighbor_id = cells.neighbor_id
        |  JOIN probes p ON cells.cell_id = p.cell_id
        |  JOIN qt ON qt.query_id = p.query_id
        |    AND codes.sub = qt.sub AND codes.code = qt.code
        |  GROUP BY 1, 2),
        |short AS (SELECT query_id, neighbor_id FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY adist, neighbor_id) AS srn
        |  FROM adc WHERE neighbor_id <> query_id) WHERE srn <= 20),
        |d AS (SELECT s.query_id, s.neighbor_id,
        |  list_sum(list_transform(range(1, 65), i -> qe.v[i] * ne.v[i])) /
        |  (sqrt(list_sum(list_transform(range(1, 65), i -> qe.v[i] * qe.v[i]))) *
        |   sqrt(list_sum(list_transform(range(1, 65), i -> ne.v[i] * ne.v[i]))))
        |    AS c
        |  FROM short s JOIN e qe ON qe.vec_id = s.query_id
        |  JOIN e ne ON ne.vec_id = s.neighbor_id),
        |r AS (SELECT query_id, neighbor_id, c,
        |  row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id)
        |    AS rank FROM d)
        |SELECT query_id, rank, neighbor_id, round(c, 6) AS cosine
        |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    // D5c: the fully-trained IVFADC — replays BOTH Lloyd chains (coarse
    // full-vector k-means prefixed `c`, PQ sub-codebooks unprefixed)
    // and then knn_ivfpq's probed-cell ADC search over the trained
    // tables. Training CTE shapes are identical to knn_ivf_trained's /
    // knn_pq_trained's proven replays; `tm` is shared (same n, same
    // modulus formula).
    "knn_ivfpq_trained" ->
      s"""WITH e AS (SELECT vec_id,
        |  list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
        |tm AS (SELECT greatest(2, (COUNT(*) + 8191) // 8192) AS m FROM e),
        |csub AS (SELECT vec_id, 0 AS j, v AS sv FROM e),
        |csamp AS (SELECT * FROM csub WHERE vec_id % (SELECT m FROM tm) = 0),
        |cinitids AS (SELECT vec_id,
        |  row_number() OVER (ORDER BY vec_id) - 1 AS cell_id
        |  FROM (SELECT DISTINCT vec_id FROM csamp ORDER BY vec_id LIMIT 16)),
        |cc0 AS (SELECT s.j AS sub, i.cell_id, s.sv AS cvec
        |  FROM csamp s JOIN cinitids i USING (vec_id)),
        |${kmeansIterCte(1, "cc0", 64, "csamp", "c")},
        |${kmeansIterCte(2, "cc1", 64, "csamp", "c")},
        |ccent AS (SELECT cell_id, cvec AS ce FROM cc2),
        |assign0 AS (
        |  SELECT e0.vec_id AS neighbor_id, c.cell_id,
        |         ${cosineSql("e0.v", "c.ce")} AS csim
        |  FROM e e0, ccent c),
        |cells AS (
        |  SELECT neighbor_id, cell_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY neighbor_id
        |      ORDER BY csim DESC, cell_id) AS rn FROM assign0) WHERE rn = 1),
        |q AS (SELECT vec_id AS query_id, v AS qe FROM e WHERE vec_id < 10),
        |probes AS (
        |  SELECT query_id, cell_id FROM (
        |    SELECT q.query_id, c.cell_id,
        |      row_number() OVER (PARTITION BY q.query_id
        |        ORDER BY ${cosineSql("q.qe", "c.ce")} DESC, c.cell_id) AS qrn
        |    FROM q, ccent c) WHERE qrn <= 5),
        |sub AS (SELECT vec_id, j, list_slice(v, j*8 + 1, j*8 + 8) AS sv
        |  FROM e, range(0, 8) AS t(j)),
        |samp AS (SELECT * FROM sub WHERE vec_id % (SELECT m FROM tm) = 0),
        |initids AS (SELECT vec_id,
        |  row_number() OVER (ORDER BY vec_id) - 1 AS cell_id
        |  FROM (SELECT DISTINCT vec_id FROM samp ORDER BY vec_id LIMIT 16)),
        |c0 AS (SELECT s.j AS sub, i.cell_id, s.sv AS cvec
        |  FROM samp s JOIN initids i USING (vec_id)),
        |${kmeansIterCte(1, "c0")},
        |${kmeansIterCte(2, "c1")},
        |enc0 AS (SELECT s.vec_id, s.j AS sub, c.cell_id,
        |  list_sum(list_transform(range(1, 9),
        |    i -> (s.sv[i] - c.cvec[i]) * (s.sv[i] - c.cvec[i]))) AS dist
        |  FROM sub s JOIN c2 c ON s.j = c.sub),
        |codes AS (SELECT vec_id AS neighbor_id, sub, cell_id AS code FROM (
        |  SELECT *, row_number() OVER (PARTITION BY vec_id, sub
        |    ORDER BY dist, cell_id) AS rn FROM enc0) WHERE rn = 1),
        |qt AS (SELECT s.vec_id AS query_id, s.j AS sub,
        |  c.cell_id AS code,
        |  list_sum(list_transform(range(1, 9),
        |    i -> (s.sv[i] - c.cvec[i]) * (s.sv[i] - c.cvec[i]))) AS qdist
        |  FROM sub s JOIN c2 c ON s.j = c.sub WHERE s.vec_id < 10),
        |adc AS (SELECT p.query_id, codes.neighbor_id,
        |  list_sum(list(qt.qdist ORDER BY qt.sub)) AS adist
        |  FROM codes
        |  JOIN cells ON codes.neighbor_id = cells.neighbor_id
        |  JOIN probes p ON cells.cell_id = p.cell_id
        |  JOIN qt ON qt.query_id = p.query_id
        |    AND codes.sub = qt.sub AND codes.code = qt.code
        |  GROUP BY 1, 2),
        |short AS (SELECT query_id, neighbor_id FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY adist, neighbor_id) AS srn
        |  FROM adc WHERE neighbor_id <> query_id) WHERE srn <= 20),
        |d AS (SELECT s.query_id, s.neighbor_id,
        |  list_sum(list_transform(range(1, 65), i -> qe.v[i] * ne.v[i])) /
        |  (sqrt(list_sum(list_transform(range(1, 65), i -> qe.v[i] * qe.v[i]))) *
        |   sqrt(list_sum(list_transform(range(1, 65), i -> ne.v[i] * ne.v[i]))))
        |    AS c
        |  FROM short s JOIN e qe ON qe.vec_id = s.query_id
        |  JOIN e ne ON ne.vec_id = s.neighbor_id),
        |r AS (SELECT query_id, neighbor_id, c,
        |  row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id)
        |    AS rank FROM d)
        |SELECT query_id, rank, neighbor_id, round(c, 6) AS cosine
        |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "knn_ivfpq_res" ->
      s"""WITH e AS (SELECT vec_id,
        |  list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
        |strd AS (SELECT GREATEST(50, CEIL(COUNT(*) / 256.0)::BIGINT) AS s
        |  FROM embeddings),
        |anchor AS (SELECT MIN(vec_id % s) AS m FROM embeddings, strd),
        |ccent AS (SELECT vec_id AS cell_id, embedding AS ce
        |  FROM embeddings, anchor, strd WHERE vec_id % s = anchor.m),
        |assign0 AS (
        |  SELECT e0.vec_id AS neighbor_id, c.cell_id,
        |         ${cosineSql("e0.embedding", "c.ce")} AS csim
        |  FROM embeddings e0, ccent c),
        |cells AS (
        |  SELECT neighbor_id, cell_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY neighbor_id
        |      ORDER BY csim DESC, cell_id) AS rn FROM assign0) WHERE rn = 1),
        |rv AS (SELECT c.neighbor_id AS vec_id, c.cell_id AS ccell,
        |  list_transform(range(1, 65), i -> e2.v[i] - cc.ce[i]::DOUBLE) AS v
        |  FROM cells c JOIN e e2 ON e2.vec_id = c.neighbor_id
        |  JOIN ccent cc ON cc.cell_id = c.cell_id),
        |rsub AS (SELECT vec_id, ccell, j, list_slice(v, j*8 + 1, j*8 + 8) AS sv
        |  FROM rv, range(0, 8) AS t(j)),
        |pcent AS (SELECT j AS sub, vec_id AS slot, sv AS cvec
        |  FROM rsub WHERE vec_id < 16),
        |enc0 AS (SELECT s.vec_id, s.ccell, s.j AS sub, c.slot,
        |  list_sum(list_transform(range(1, 9),
        |    i -> (s.sv[i] - c.cvec[i]) * (s.sv[i] - c.cvec[i]))) AS dist
        |  FROM rsub s JOIN pcent c ON s.j = c.sub),
        |codes AS (SELECT vec_id AS neighbor_id, ccell, sub, slot AS code
        |  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id, sub
        |    ORDER BY dist, slot) AS rn FROM enc0) WHERE rn = 1),
        |q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings
        |  WHERE vec_id < 10),
        |probes AS (
        |  SELECT query_id, cell_id FROM (
        |    SELECT q.query_id, c.cell_id,
        |      row_number() OVER (PARTITION BY q.query_id
        |        ORDER BY ${cosineSql("q.qe", "c.ce")} DESC, c.cell_id) AS qrn
        |    FROM q, ccent c) WHERE qrn <= 5),
        |qrv AS (SELECT p.query_id, p.cell_id,
        |  list_transform(range(1, 65),
        |    i -> q.qe[i]::DOUBLE - cc.ce[i]::DOUBLE) AS v
        |  FROM probes p JOIN q ON q.query_id = p.query_id
        |  JOIN ccent cc ON cc.cell_id = p.cell_id),
        |qrsub AS (SELECT query_id, cell_id, j,
        |  list_slice(v, j*8 + 1, j*8 + 8) AS sv
        |  FROM qrv, range(0, 8) AS t(j)),
        |qt AS (SELECT s.query_id, s.cell_id, s.j AS sub, c.slot AS code,
        |  list_sum(list_transform(range(1, 9),
        |    i -> (s.sv[i] - c.cvec[i]) * (s.sv[i] - c.cvec[i]))) AS qdist
        |  FROM qrsub s JOIN pcent c ON s.j = c.sub),
        |adc AS (SELECT qt.query_id, codes.neighbor_id,
        |  list_sum(list(qt.qdist ORDER BY qt.sub)) AS adist
        |  FROM codes JOIN qt ON codes.ccell = qt.cell_id
        |    AND codes.sub = qt.sub AND codes.code = qt.code
        |  GROUP BY 1, 2),
        |short AS (SELECT query_id, neighbor_id FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY adist, neighbor_id) AS srn
        |  FROM adc WHERE neighbor_id <> query_id) WHERE srn <= 20),
        |d AS (SELECT s.query_id, s.neighbor_id,
        |  list_sum(list_transform(range(1, 65), i -> qe.v[i] * ne.v[i])) /
        |  (sqrt(list_sum(list_transform(range(1, 65), i -> qe.v[i] * qe.v[i]))) *
        |   sqrt(list_sum(list_transform(range(1, 65), i -> ne.v[i] * ne.v[i]))))
        |    AS c
        |  FROM short s JOIN e qe ON qe.vec_id = s.query_id
        |  JOIN e ne ON ne.vec_id = s.neighbor_id),
        |r AS (SELECT query_id, neighbor_id, c,
        |  row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id)
        |    AS rank FROM d)
        |SELECT query_id, rank, neighbor_id, round(c, 6) AS cosine
        |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    // D5b-trained: the fully-trained residual IVFADC — composes the
    // coarse Lloyd chain (prefix `c`, identical to knn_ivfpq_trained's),
    // the residual projection rv = v − centroid(cell(v)) under the
    // trained coarse assignment, a SECOND Lloyd chain over residual
    // subvectors (prefix `r` — kmeansSubCodebooks runs on the residuals
    // frame, whose row count equals the corpus, so `tm` is shared), and
    // knn_ivfpq_res's per-(query, probed-cell) ADC search over the
    // trained tables.
    "knn_ivfpq_res_trained" ->
      s"""WITH e AS (SELECT vec_id,
        |  list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
        |tm AS (SELECT greatest(2, (COUNT(*) + 8191) // 8192) AS m FROM e),
        |csub AS (SELECT vec_id, 0 AS j, v AS sv FROM e),
        |csamp AS (SELECT * FROM csub WHERE vec_id % (SELECT m FROM tm) = 0),
        |cinitids AS (SELECT vec_id,
        |  row_number() OVER (ORDER BY vec_id) - 1 AS cell_id
        |  FROM (SELECT DISTINCT vec_id FROM csamp ORDER BY vec_id LIMIT 16)),
        |cc0 AS (SELECT s.j AS sub, i.cell_id, s.sv AS cvec
        |  FROM csamp s JOIN cinitids i USING (vec_id)),
        |${kmeansIterCte(1, "cc0", 64, "csamp", "c")},
        |${kmeansIterCte(2, "cc1", 64, "csamp", "c")},
        |ccent AS (SELECT cell_id, cvec AS ce FROM cc2),
        |assign0 AS (
        |  SELECT e0.vec_id AS neighbor_id, c.cell_id,
        |         ${cosineSql("e0.v", "c.ce")} AS csim
        |  FROM e e0, ccent c),
        |cells AS (
        |  SELECT neighbor_id, cell_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY neighbor_id
        |      ORDER BY csim DESC, cell_id) AS rn FROM assign0) WHERE rn = 1),
        |rv AS (SELECT c.neighbor_id AS vec_id, c.cell_id AS ccell,
        |  list_transform(range(1, 65), i -> e2.v[i] - cc.ce[i]) AS v
        |  FROM cells c JOIN e e2 ON e2.vec_id = c.neighbor_id
        |  JOIN ccent cc ON cc.cell_id = c.cell_id),
        |rsub AS (SELECT vec_id, ccell, j, list_slice(v, j*8 + 1, j*8 + 8) AS sv
        |  FROM rv, range(0, 8) AS t(j)),
        |rsamp AS (SELECT vec_id, j, sv FROM rsub
        |  WHERE vec_id % (SELECT m FROM tm) = 0),
        |rinitids AS (SELECT vec_id,
        |  row_number() OVER (ORDER BY vec_id) - 1 AS cell_id
        |  FROM (SELECT DISTINCT vec_id FROM rsamp ORDER BY vec_id LIMIT 16)),
        |rc0 AS (SELECT s.j AS sub, i.cell_id, s.sv AS cvec
        |  FROM rsamp s JOIN rinitids i USING (vec_id)),
        |${kmeansIterCte(1, "rc0", 8, "rsamp", "r")},
        |${kmeansIterCte(2, "rc1", 8, "rsamp", "r")},
        |pcent AS (SELECT sub, cell_id AS slot, cvec FROM rc2),
        |enc0 AS (SELECT s.vec_id, s.ccell, s.j AS sub, c.slot,
        |  list_sum(list_transform(range(1, 9),
        |    i -> (s.sv[i] - c.cvec[i]) * (s.sv[i] - c.cvec[i]))) AS dist
        |  FROM rsub s JOIN pcent c ON s.j = c.sub),
        |codes AS (SELECT vec_id AS neighbor_id, ccell, sub, slot AS code
        |  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id, sub
        |    ORDER BY dist, slot) AS rn FROM enc0) WHERE rn = 1),
        |q AS (SELECT vec_id AS query_id, v AS qe FROM e WHERE vec_id < 10),
        |probes AS (
        |  SELECT query_id, cell_id FROM (
        |    SELECT q.query_id, c.cell_id,
        |      row_number() OVER (PARTITION BY q.query_id
        |        ORDER BY ${cosineSql("q.qe", "c.ce")} DESC, c.cell_id) AS qrn
        |    FROM q, ccent c) WHERE qrn <= 5),
        |qrv AS (SELECT p.query_id, p.cell_id,
        |  list_transform(range(1, 65), i -> q.qe[i] - cc.ce[i]) AS v
        |  FROM probes p JOIN q ON q.query_id = p.query_id
        |  JOIN ccent cc ON cc.cell_id = p.cell_id),
        |qrsub AS (SELECT query_id, cell_id, j,
        |  list_slice(v, j*8 + 1, j*8 + 8) AS sv
        |  FROM qrv, range(0, 8) AS t(j)),
        |qt AS (SELECT s.query_id, s.cell_id, s.j AS sub, c.slot AS code,
        |  list_sum(list_transform(range(1, 9),
        |    i -> (s.sv[i] - c.cvec[i]) * (s.sv[i] - c.cvec[i]))) AS qdist
        |  FROM qrsub s JOIN pcent c ON s.j = c.sub),
        |adc AS (SELECT qt.query_id, codes.neighbor_id,
        |  list_sum(list(qt.qdist ORDER BY qt.sub)) AS adist
        |  FROM codes JOIN qt ON codes.ccell = qt.cell_id
        |    AND codes.sub = qt.sub AND codes.code = qt.code
        |  GROUP BY 1, 2),
        |short AS (SELECT query_id, neighbor_id FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY adist, neighbor_id) AS srn
        |  FROM adc WHERE neighbor_id <> query_id) WHERE srn <= 20),
        |d AS (SELECT s.query_id, s.neighbor_id,
        |  list_sum(list_transform(range(1, 65), i -> qe.v[i] * ne.v[i])) /
        |  (sqrt(list_sum(list_transform(range(1, 65), i -> qe.v[i] * qe.v[i]))) *
        |   sqrt(list_sum(list_transform(range(1, 65), i -> ne.v[i] * ne.v[i]))))
        |    AS c
        |  FROM short s JOIN e qe ON qe.vec_id = s.query_id
        |  JOIN e ne ON ne.vec_id = s.neighbor_id),
        |r AS (SELECT query_id, neighbor_id, c,
        |  row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id)
        |    AS rank FROM d)
        |SELECT query_id, rank, neighbor_id, round(c, 6) AS cosine
        |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "knn_pq_trained" ->
      s"""WITH e AS (SELECT vec_id,
        |  list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
        |sub AS (SELECT vec_id, j, list_slice(v, j*8 + 1, j*8 + 8) AS sv
        |  FROM e, range(0, 8) AS t(j)),
        |tm AS (SELECT greatest(2, (COUNT(*) + 8191) // 8192) AS m FROM e),
        |samp AS (SELECT * FROM sub WHERE vec_id % (SELECT m FROM tm) = 0),
        |initids AS (SELECT vec_id,
        |  row_number() OVER (ORDER BY vec_id) - 1 AS cell_id
        |  FROM (SELECT DISTINCT vec_id FROM samp ORDER BY vec_id LIMIT 16)),
        |c0 AS (SELECT s.j AS sub, i.cell_id, s.sv AS cvec
        |  FROM samp s JOIN initids i USING (vec_id)),
        |${kmeansIterCte(1, "c0")},
        |${kmeansIterCte(2, "c1")},
        |enc0 AS (SELECT s.vec_id, s.j AS sub, c.cell_id,
        |  list_sum(list_transform(range(1, 9),
        |    i -> (s.sv[i] - c.cvec[i]) * (s.sv[i] - c.cvec[i]))) AS dist
        |  FROM sub s JOIN c2 c ON s.j = c.sub),
        |codes AS (SELECT vec_id AS neighbor_id, sub, cell_id AS code FROM (
        |  SELECT *, row_number() OVER (PARTITION BY vec_id, sub
        |    ORDER BY dist, cell_id) AS rn FROM enc0) WHERE rn = 1),
        |qt AS (SELECT s.vec_id AS query_id, s.j AS sub,
        |  c.cell_id AS code,
        |  list_sum(list_transform(range(1, 9),
        |    i -> (s.sv[i] - c.cvec[i]) * (s.sv[i] - c.cvec[i]))) AS qdist
        |  FROM sub s JOIN c2 c ON s.j = c.sub WHERE s.vec_id < 10),
        |adc AS (SELECT qt.query_id, codes.neighbor_id,
        |  list_sum(list(qt.qdist ORDER BY qt.sub)) AS adist
        |  FROM codes JOIN qt ON codes.sub = qt.sub AND codes.code = qt.code
        |  GROUP BY 1, 2),
        |short AS (SELECT query_id, neighbor_id FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY adist, neighbor_id) AS srn
        |  FROM adc WHERE neighbor_id <> query_id) WHERE srn <= 20),
        |d AS (SELECT s.query_id, s.neighbor_id,
        |  list_sum(list_transform(range(1, 65), i -> qe.v[i] * ne.v[i])) /
        |  (sqrt(list_sum(list_transform(range(1, 65), i -> qe.v[i] * qe.v[i]))) *
        |   sqrt(list_sum(list_transform(range(1, 65), i -> ne.v[i] * ne.v[i]))))
        |    AS c
        |  FROM short s JOIN e qe ON qe.vec_id = s.query_id
        |  JOIN e ne ON ne.vec_id = s.neighbor_id),
        |r AS (SELECT query_id, neighbor_id, c,
        |  row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id)
        |    AS rank FROM d)
        |SELECT query_id, rank, neighbor_id, round(c, 6) AS cosine
        |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "knn_lsh" ->
      s"""WITH planes(p, pl) AS (VALUES ${planesValuesSql(192, 64, 7L)}),
        |${lshKeysCte(6)},
        |q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 10),
        |cand AS (
        |  SELECT DISTINCT kc.vec_id AS neighbor_id, kq.vec_id AS query_id
        |  FROM keys kc JOIN keys kq ON kc.band = kq.band AND kc.bkey = kq.bkey
        |  JOIN q ON kq.vec_id = q.query_id
        |  WHERE kc.vec_id <> kq.vec_id),
        |d AS (
        |  SELECT c.query_id, c.neighbor_id, ${cosineSql("q.qe", "e.embedding")} AS c
        |  FROM cand c JOIN q ON c.query_id = q.query_id
        |              JOIN embeddings e ON c.neighbor_id = e.vec_id),
        |r AS (SELECT query_id, neighbor_id, c,
        |  row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS rank
        |  FROM d)
        |SELECT query_id, rank, neighbor_id, round(c, 6) AS cosine
        |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    // D9: the exact top-5 chain and knn_lsh's banded chain composed,
    // then a per-query hit count over the truth rows
    "knn_recall" ->
      s"""WITH planes(p, pl) AS (VALUES ${planesValuesSql(192, 64, 7L)}),
        |${lshKeysCte(6)},
        |q AS (SELECT vec_id AS query_id, embedding AS qe
        |  FROM embeddings WHERE vec_id < 10),
        |bd AS (SELECT query_id, vec_id AS neighbor_id,
        |    ${cosineSql("qe", "embedding")} AS c
        |  FROM q, embeddings WHERE vec_id <> query_id),
        |br AS (SELECT query_id, neighbor_id, row_number() OVER (
        |  PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS rank
        |  FROM bd),
        |ex AS (SELECT query_id, neighbor_id FROM br WHERE rank <= 5),
        |cand AS (
        |  SELECT DISTINCT kc.vec_id AS neighbor_id, kq.vec_id AS query_id
        |  FROM keys kc JOIN keys kq ON kc.band = kq.band AND kc.bkey = kq.bkey
        |  JOIN q ON kq.vec_id = q.query_id
        |  WHERE kc.vec_id <> kq.vec_id),
        |ld AS (
        |  SELECT c.query_id, c.neighbor_id,
        |    ${cosineSql("q.qe", "e.embedding")} AS c2
        |  FROM cand c JOIN q ON c.query_id = q.query_id
        |              JOIN embeddings e ON c.neighbor_id = e.vec_id),
        |lr AS (SELECT query_id, neighbor_id, row_number() OVER (
        |  PARTITION BY query_id ORDER BY c2 DESC, neighbor_id) AS rank
        |  FROM ld),
        |ap AS (SELECT query_id, neighbor_id FROM lr WHERE rank <= 5)
        |SELECT e.query_id, COUNT(a.neighbor_id)::BIGINT AS n_hits,
        |  COUNT(*)::BIGINT AS n_exact,
        |  round(COUNT(a.neighbor_id) / COUNT(*), 6) AS recall
        |FROM ex e LEFT JOIN ap a USING (query_id, neighbor_id)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // D9b: the knn_ivf coarse/assign/probe chain ranked to the WIDEST
    // setting, each narrower setting a probe-rank filter (the
    // nested-probe property), scored per (n_probe, query) against the
    // knn_recall exact chain. D9c reuses it VERBATIM (the
    // knn_range_indexed precedent): the fixture store freezes the
    // strideCoarse geometry, so the persisted sweep's answers are the
    // in-plan formulation's
    "knn_recall_sweep" ->
      s"""WITH strd AS (SELECT GREATEST(50, CEIL(COUNT(*) / 256.0)::BIGINT)
        |  AS s FROM embeddings),
        |anchor AS (SELECT MIN(vec_id % s) AS m FROM embeddings, strd),
        |cent AS (SELECT vec_id AS cell_id, embedding AS ce
        |         FROM embeddings, anchor, strd WHERE vec_id % s = anchor.m),
        |assign0 AS (
        |  SELECT e.vec_id AS neighbor_id, e.embedding AS cv, c.cell_id,
        |         ${cosineSql("e.embedding", "c.ce")} AS csim
        |  FROM embeddings e, cent c),
        |assign AS (
        |  SELECT neighbor_id, cv, cell_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY neighbor_id
        |      ORDER BY csim DESC, cell_id) AS rn FROM assign0) WHERE rn = 1),
        |q AS (SELECT vec_id AS query_id, embedding AS qe
        |  FROM embeddings WHERE vec_id < 10),
        |settings(n_probe) AS (VALUES (1), (2), (4), (8)),
        |probes AS (
        |  SELECT query_id, qe, cell_id, qrn FROM (
        |    SELECT q.query_id, q.qe, c.cell_id,
        |      row_number() OVER (PARTITION BY q.query_id
        |        ORDER BY ${cosineSql("q.qe", "c.ce")} DESC, c.cell_id) AS qrn
        |    FROM q, cent c) WHERE qrn <= 8),
        |d AS (
        |  SELECT p.query_id, a.neighbor_id, p.qrn,
        |    ${cosineSql("p.qe", "a.cv")} AS c
        |  FROM probes p JOIN assign a ON p.cell_id = a.cell_id
        |  WHERE a.neighbor_id <> p.query_id),
        |r AS (SELECT s.n_probe, d.query_id, d.neighbor_id,
        |  row_number() OVER (PARTITION BY s.n_probe, d.query_id
        |    ORDER BY d.c DESC, d.neighbor_id) AS rank
        |  FROM d JOIN settings s ON d.qrn <= s.n_probe),
        |ap AS (SELECT n_probe, query_id, neighbor_id FROM r WHERE rank <= 5),
        |bd AS (SELECT query_id, vec_id AS neighbor_id,
        |    ${cosineSql("qe", "embedding")} AS c
        |  FROM q, embeddings WHERE vec_id <> query_id),
        |br AS (SELECT query_id, neighbor_id, row_number() OVER (
        |  PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS rank
        |  FROM bd),
        |ex AS (SELECT s.n_probe, b.query_id, b.neighbor_id
        |  FROM br b, settings s WHERE b.rank <= 5)
        |SELECT e.n_probe, e.query_id,
        |  COUNT(a.neighbor_id)::BIGINT AS n_hits,
        |  COUNT(*)::BIGINT AS n_exact,
        |  round(COUNT(a.neighbor_id) / COUNT(*), 6) AS recall
        |FROM ex e LEFT JOIN ap a USING (n_probe, query_id, neighbor_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // D7: knn_lsh's identical plane table and key chain, with the label
    // equality fused into the candidate join (pre-filtering)
    "knn_filtered" ->
      s"""WITH planes(p, pl) AS (VALUES ${planesValuesSql(288, 64, 7L)}),
        |${lshKeysCte(6)},
        |lk AS (SELECT k.vec_id, k.band, k.bkey, e.label
        |  FROM keys k JOIN embeddings e USING (vec_id)),
        |q AS (SELECT vec_id AS query_id, label, embedding AS qe
        |  FROM embeddings WHERE vec_id < 10),
        |cand AS (
        |  SELECT DISTINCT kc.vec_id AS neighbor_id, kq.vec_id AS query_id
        |  FROM lk kc JOIN lk kq ON kc.band = kq.band AND kc.bkey = kq.bkey
        |    AND kc.label = kq.label
        |  JOIN q ON kq.vec_id = q.query_id
        |  WHERE kc.vec_id <> kq.vec_id),
        |d AS (
        |  SELECT c.query_id, q.label, c.neighbor_id,
        |    ${cosineSql("q.qe", "e.embedding")} AS c
        |  FROM cand c JOIN q ON c.query_id = q.query_id
        |              JOIN embeddings e ON c.neighbor_id = e.vec_id),
        |r AS (SELECT query_id, label, neighbor_id, c,
        |  row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS rank
        |  FROM d)
        |SELECT query_id, label, rank, neighbor_id, round(c, 6) AS cosine
        |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    // D6: per-slice hyperplane keys (16-dim planes from the real
    // kernel), token-level candidate buckets, per-(query, doc, qslice)
    // max cosine quantized to the 2^20 grid, integer cross-slice sum
    "knn_maxsim" ->
      s"""WITH planes(p, pl) AS (VALUES ${planesValuesSql(96, 16, 11L)}),
        |sl AS (SELECT vec_id, t.j::INT AS j,
        |  list_transform(range(1, 17), i -> embedding[t.j*16 + i]::DOUBLE)
        |    AS sv
        |  FROM embeddings, range(0, 4) AS t(j)),
        |dots AS (SELECT s.vec_id, s.j, planes.p,
        |  list_sum(list_transform(range(1, 17), i -> s.sv[i] * planes.pl[i]))
        |    AS dot
        |  FROM sl s, planes),
        |keys AS (SELECT vec_id, j, p // 6 AS band,
        |  SUM(CASE WHEN dot > 0
        |      THEN power(2, p % 6)::BIGINT ELSE 0 END)::BIGINT AS bkey
        |  FROM dots GROUP BY vec_id, j, p // 6),
        |cand AS (SELECT DISTINCT kc.vec_id AS neighbor_id,
        |    kq.vec_id AS query_id
        |  FROM keys kc JOIN keys kq
        |    ON kc.band = kq.band AND kc.bkey = kq.bkey
        |  WHERE kq.vec_id < 10 AND kc.vec_id <> kq.vec_id),
        |px AS (SELECT c.query_id, c.neighbor_id, qs.j AS qsl,
        |  max(floor((
        |    list_sum(list_transform(range(1, 17), i -> qs.sv[i] * ds.sv[i])) /
        |    (sqrt(list_sum(list_transform(range(1, 17),
        |        i -> qs.sv[i] * qs.sv[i]))) *
        |     sqrt(list_sum(list_transform(range(1, 17),
        |        i -> ds.sv[i] * ds.sv[i]))))
        |    ) * 1048576.0 + 0.5)::BIGINT) AS mqs
        |  FROM cand c JOIN sl qs ON qs.vec_id = c.query_id
        |              JOIN sl ds ON ds.vec_id = c.neighbor_id
        |  GROUP BY 1, 2, 3),
        |sc AS (SELECT query_id, neighbor_id, SUM(mqs)::BIGINT AS score
        |  FROM px GROUP BY 1, 2),
        |r AS (SELECT query_id, neighbor_id, score, row_number() OVER (
        |  PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
        |  FROM sc)
        |SELECT query_id, rank, neighbor_id,
        |  round(score::DOUBLE / 4194304.0, 6) AS maxsim
        |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "dedup_embedding" ->
      s"""WITH planes(p, pl) AS (VALUES ${planesValuesSql(72, 64, 7L)}),
        |${lshKeysCte(6)},
        |cand AS (
        |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
        |  FROM keys a JOIN keys b
        |    ON a.band = b.band AND a.bkey = b.bkey AND a.vec_id < b.vec_id),
        |d AS (
        |  SELECT c.vec_a, c.vec_b, ${cosineSql("ea.embedding", "eb.embedding")} AS c
        |  FROM cand c JOIN embeddings ea ON c.vec_a = ea.vec_id
        |              JOIN embeddings eb ON c.vec_b = eb.vec_id)
        |SELECT vec_a, vec_b, round(c, 6) AS cosine
        |FROM d WHERE c >= 0.4 ORDER BY vec_a, vec_b""".stripMargin,
    // C18: SemDeDup — replays the full-vector Lloyd chain (prefix `c`,
    // identical to knn_ivfpq_trained's coarse training), the argmax
    // cell assignment KEEPING the winner's cosine as the centrality
    // score, C6's plane-table banding restricted to same-cell pairs,
    // exact-cosine verification, and the keep-least-central policy.
    "dedup_semantic" ->
      s"""WITH e AS (SELECT vec_id,
        |  list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
        |tm AS (SELECT greatest(2, (COUNT(*) + 8191) // 8192) AS m FROM e),
        |csub AS (SELECT vec_id, 0 AS j, v AS sv FROM e),
        |csamp AS (SELECT * FROM csub WHERE vec_id % (SELECT m FROM tm) = 0),
        |cinitids AS (SELECT vec_id,
        |  row_number() OVER (ORDER BY vec_id) - 1 AS cell_id
        |  FROM (SELECT DISTINCT vec_id FROM csamp ORDER BY vec_id LIMIT 16)),
        |cc0 AS (SELECT s.j AS sub, i.cell_id, s.sv AS cvec
        |  FROM csamp s JOIN cinitids i USING (vec_id)),
        |${kmeansIterCte(1, "cc0", 64, "csamp", "c")},
        |${kmeansIterCte(2, "cc1", 64, "csamp", "c")},
        |ccent AS (SELECT cell_id, cvec AS ce FROM cc2),
        |asg AS (SELECT e0.vec_id, c.cell_id,
        |  ${cosineSql("e0.v", "c.ce")} AS csim
        |  FROM e e0, ccent c),
        |cells AS (SELECT vec_id, cell_id, csim FROM (
        |  SELECT *, row_number() OVER (PARTITION BY vec_id
        |    ORDER BY csim DESC, cell_id) AS rn FROM asg) WHERE rn = 1),
        |planes(p, pl) AS (VALUES ${planesValuesSql(72, 64, 7L)}),
        |${lshKeysCte(6)},
        |cand AS (SELECT DISTINCT a.vec_id AS a, b.vec_id AS b
        |  FROM keys a JOIN keys b
        |    ON a.band = b.band AND a.bkey = b.bkey AND a.vec_id < b.vec_id
        |  JOIN cells ca ON ca.vec_id = a.vec_id
        |  JOIN cells cb ON cb.vec_id = b.vec_id AND cb.cell_id = ca.cell_id),
        |vp AS (SELECT c.a, c.b FROM cand c
        |  JOIN e ea ON c.a = ea.vec_id JOIN e eb ON c.b = eb.vec_id
        |  WHERE ${cosineSql("ea.v", "eb.v")} >= 0.4),
        |deg AS (SELECT vec_id, COUNT(*)::BIGINT AS n_dups FROM
        |  (SELECT a AS vec_id FROM vp UNION ALL SELECT b AS vec_id FROM vp)
        |  GROUP BY 1),
        |drops AS (SELECT DISTINCT
        |  CASE WHEN ca.csim > cb.csim THEN p.a ELSE p.b END AS vec_id
        |  FROM vp p JOIN cells ca ON ca.vec_id = p.a
        |  JOIN cells cb ON cb.vec_id = p.b)
        |SELECT c.vec_id, c.cell_id, round(c.csim, 6) AS centroid_sim,
        |  coalesce(d.n_dups, 0)::BIGINT AS n_dups,
        |  (dr.vec_id IS NULL) AS keep
        |FROM cells c LEFT JOIN deg d ON c.vec_id = d.vec_id
        |  LEFT JOIN drops dr ON c.vec_id = dr.vec_id
        |ORDER BY c.vec_id""".stripMargin,
    "dedup_minhash_lsh" ->
      s"""WITH $minhashCte
        |SELECT doc_a, doc_b,
        |  round(n_common::DOUBLE / (na + nb - n_common), 6) AS jaccard
        |FROM jac WHERE n_common::DOUBLE / (na + nb - n_common) >= 0.7
        |ORDER BY doc_a, doc_b""".stripMargin,
    "dedup_ngram_jaccard" ->
      s"""WITH $minhashCte
        |SELECT doc_a, doc_b, n_common::BIGINT AS n_common,
        |  round(n_common::DOUBLE / (na + nb - n_common), 6) AS jaccard
        |FROM jac ORDER BY doc_a, doc_b""".stripMargin,
    // C35: exact threshold truth from the shingle inverted index
    // (every J >= 0.7 pair shares a shingle, so the f5 self-join finds
    // them all) left-joined with the pairs the banding surfaced (the
    // C3 chain) — COUNT(non-null) is the hit count
    "dedup_recall" ->
      s"""WITH $minhashCte,
        |shared AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    COUNT(*) AS c
        |  FROM f5 a JOIN f5 b ON a.v = b.v AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |truth AS (SELECT s.doc_a, s.doc_b
        |  FROM shared s JOIN sets sa ON s.doc_a = sa.doc_id
        |                JOIN sets sb ON s.doc_b = sb.doc_id
        |  WHERE s.c::DOUBLE / (sa.n + sb.n - s.c) >= 0.7),
        |found AS (SELECT doc_a, doc_b FROM jac
        |  WHERE n_common::DOUBLE / (na + nb - n_common) >= 0.7)
        |SELECT COUNT(*)::BIGINT AS n_truth,
        |  COUNT(f.doc_a)::BIGINT AS n_found,
        |  round(COUNT(f.doc_a)::DOUBLE / COUNT(*), 6) AS recall
        |FROM truth t LEFT JOIN found f
        |  ON t.doc_a = f.doc_a AND t.doc_b = f.doc_b""".stripMargin,
    // C35c: the banding sweep — ONE materialized signature + truth,
    // one banding/verify chain per setting (j // rowsPerBand), one
    // report row each
    "dedup_recall_sweep" -> {
      val legs = Seq(8, 16, 32).map { b =>
        val rpb = 128 / b
        s"""${minhashBandingCte(rpb, s"_$b")},
          |jac_$b AS (
          |  SELECT c.doc_a, c.doc_b,
          |    length(list_intersect(sa.sh, sb.sh)) AS n_common,
          |    sa.n AS na, sb.n AS nb
          |  FROM cand_$b c JOIN sets sa ON c.doc_a = sa.doc_id
          |                 JOIN sets sb ON c.doc_b = sb.doc_id),
          |found_$b AS (SELECT doc_a, doc_b FROM jac_$b
          |  WHERE n_common::DOUBLE / (na + nb - n_common) >= 0.7)""".stripMargin
      }.mkString(",\n")
      val rows = Seq(8, 16, 32).map { b =>
        s"""SELECT $b AS bands, COUNT(*)::BIGINT AS n_truth,
          |  COUNT(f.doc_a)::BIGINT AS n_found,
          |  round(COUNT(f.doc_a)::DOUBLE / COUNT(*), 6) AS recall
          |FROM truth t LEFT JOIN found_$b f
          |  ON t.doc_a = f.doc_a AND t.doc_b = f.doc_b""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH ${shingleSetCte(3)},
        |${minhashSigCte("f5")},
        |sets AS MATERIALIZED (SELECT doc_id, list(v ORDER BY v) AS sh,
        |  COUNT(*) AS n FROM f5 GROUP BY doc_id),
        |shared AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    COUNT(*) AS c
        |  FROM f5 a JOIN f5 b ON a.v = b.v AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |truth AS MATERIALIZED (SELECT s.doc_a, s.doc_b
        |  FROM shared s JOIN sets sa ON s.doc_a = sa.doc_id
        |                JOIN sets sb ON s.doc_b = sb.doc_id
        |  WHERE s.c::DOUBLE / (sa.n + sb.n - s.c) >= 0.7),
        |$legs
        |$rows
        |ORDER BY bands""".stripMargin
    },
    // C35 sampled: the SAME naive-truth replay, every CTE pointed at a
    // deterministic ~300-doc salted-hash slice (the C8 hashKey
    // predicate; the threshold replays the engine's EXACT IEEE
    // arithmetic — min(1, target/n) * 65536, floored, %04x — from
    // DuckDB's own COUNT(*), target from the ONE shared constant)
    "dedup_recall_sampled" ->
      s"""WITH sthr AS (SELECT CASE
        |    WHEN ${_root_.graft.queries.Pipeline.recallSampleDocs}.0
        |      / COUNT(*) >= 1 THEN 'g'
        |    ELSE printf('%04x', CAST(floor(LEAST(1.0,
        |      ${_root_.graft.queries.Pipeline.recallSampleDocs}.0
        |        / COUNT(*)) * 65536) AS BIGINT)) END AS t
        |  FROM documents),
        |sdocs AS (SELECT d.* FROM documents d, sthr
        |  WHERE substr(md5(doc_id::VARCHAR || ':42'), 1, 4) < sthr.t),
        |${minhashCteOver("sdocs")},
        |shared AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    COUNT(*) AS c
        |  FROM f5 a JOIN f5 b ON a.v = b.v AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |truth AS (SELECT s.doc_a, s.doc_b
        |  FROM shared s JOIN sets sa ON s.doc_a = sa.doc_id
        |                JOIN sets sb ON s.doc_b = sb.doc_id
        |  WHERE s.c::DOUBLE / (sa.n + sb.n - s.c) >= 0.7),
        |found AS (SELECT doc_a, doc_b FROM jac
        |  WHERE n_common::DOUBLE / (na + nb - n_common) >= 0.7)
        |SELECT COUNT(*)::BIGINT AS n_truth,
        |  COUNT(f.doc_a)::BIGINT AS n_found,
        |  round(COUNT(f.doc_a)::DOUBLE / COUNT(*), 6) AS recall
        |FROM truth t LEFT JOIN found f
        |  ON t.doc_a = f.doc_a AND t.doc_b = f.doc_b""".stripMargin,
    // C35c abs: the sweep replay with every CTE pointed at the
    // absolute ~300-doc salted-hash slice (the dedup_recall_sampled
    // sthr arithmetic) — one sliced truth, three banding legs
    "dedup_recall_sweep_abs" -> {
      val legs = Seq(8, 16, 32).map { b =>
        val rpb = 128 / b
        s"""${minhashBandingCte(rpb, s"_$b")},
          |jac_$b AS (
          |  SELECT c.doc_a, c.doc_b,
          |    length(list_intersect(sa.sh, sb.sh)) AS n_common,
          |    sa.n AS na, sb.n AS nb
          |  FROM cand_$b c JOIN sets sa ON c.doc_a = sa.doc_id
          |                 JOIN sets sb ON c.doc_b = sb.doc_id),
          |found_$b AS (SELECT doc_a, doc_b FROM jac_$b
          |  WHERE n_common::DOUBLE / (na + nb - n_common) >= 0.7)""".stripMargin
      }.mkString(",\n")
      val rows = Seq(8, 16, 32).map { b =>
        s"""SELECT $b AS bands, COUNT(*)::BIGINT AS n_truth,
          |  COUNT(f.doc_a)::BIGINT AS n_found,
          |  round(COUNT(f.doc_a)::DOUBLE / COUNT(*), 6) AS recall
          |FROM truth t LEFT JOIN found_$b f
          |  ON t.doc_a = f.doc_a AND t.doc_b = f.doc_b""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH sthr AS (SELECT CASE
        |    WHEN ${_root_.graft.queries.Pipeline.recallSampleDocs}.0
        |      / COUNT(*) >= 1 THEN 'g'
        |    ELSE printf('%04x', CAST(floor(LEAST(1.0,
        |      ${_root_.graft.queries.Pipeline.recallSampleDocs}.0
        |        / COUNT(*)) * 65536) AS BIGINT)) END AS t
        |  FROM documents),
        |sdocs AS (SELECT d.* FROM documents d, sthr
        |  WHERE substr(md5(doc_id::VARCHAR || ':42'), 1, 4) < sthr.t),
        |${shingleSetCte(3, "sdocs")},
        |${minhashSigCte("f5")},
        |sets AS MATERIALIZED (SELECT doc_id, list(v ORDER BY v) AS sh,
        |  COUNT(*) AS n FROM f5 GROUP BY doc_id),
        |shared AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    COUNT(*) AS c
        |  FROM f5 a JOIN f5 b ON a.v = b.v AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |truth AS MATERIALIZED (SELECT s.doc_a, s.doc_b
        |  FROM shared s JOIN sets sa ON s.doc_a = sa.doc_id
        |                JOIN sets sb ON s.doc_b = sb.doc_id
        |  WHERE s.c::DOUBLE / (sa.n + sb.n - s.c) >= 0.7),
        |$legs
        |$rows
        |ORDER BY bands""".stripMargin
    },
    // C37: cross-set recall — exact batch×corpus threshold truth (the
    // dedup_recall shared/truth CTEs restricted cross-set) vs the
    // banded cross-set pairs (the dedup_fuzzy_incremental CASE over
    // jac). The engine side serves `found` from the PERSISTED index;
    // the fixture holds exactly the %10!=0 slice, so the logical
    // replay needs no store (the knn_range_indexed oracle pattern)
    "dedup_recall_indexed" ->
      s"""WITH $minhashCte,
        |shared AS (SELECT a.doc_id AS corpus_id, b.doc_id AS batch_id,
        |    COUNT(*) AS c
        |  FROM f5 a JOIN f5 b ON a.v = b.v
        |    AND a.doc_id % 10 <> 0 AND b.doc_id % 10 = 0
        |  GROUP BY 1, 2),
        |truth AS (SELECT s.batch_id, s.corpus_id
        |  FROM shared s JOIN sets sa ON s.corpus_id = sa.doc_id
        |                JOIN sets sb ON s.batch_id = sb.doc_id
        |  WHERE s.c::DOUBLE / (sa.n + sb.n - s.c) >= 0.7),
        |found AS (SELECT
        |    CASE WHEN doc_a % 10 = 0 THEN doc_a ELSE doc_b END AS batch_id,
        |    CASE WHEN doc_a % 10 = 0 THEN doc_b ELSE doc_a END AS corpus_id
        |  FROM jac WHERE (doc_a % 10 = 0) <> (doc_b % 10 = 0)
        |    AND n_common::DOUBLE / (na + nb - n_common) >= 0.7)
        |SELECT COUNT(*)::BIGINT AS n_truth,
        |  COUNT(f.batch_id)::BIGINT AS n_found,
        |  round(COUNT(f.batch_id)::DOUBLE / COUNT(*), 6) AS recall
        |FROM truth t LEFT JOIN found f
        |  ON t.batch_id = f.batch_id AND t.corpus_id = f.corpus_id"""
        .stripMargin,
    // C37 abs: the dedup_recall_indexed replay with the BATCH side cut
    // to the absolute salted-hash slice (the dedup_recall_sampled sthr
    // arithmetic, counted over batch docs only; corpus docs all pass)
    "dedup_recall_indexed_abs" ->
      s"""WITH sthr AS (SELECT CASE
        |    WHEN ${_root_.graft.queries.Pipeline.recallSampleDocs}.0
        |      / COUNT(*) >= 1 THEN 'g'
        |    ELSE printf('%04x', CAST(floor(LEAST(1.0,
        |      ${_root_.graft.queries.Pipeline.recallSampleDocs}.0
        |        / COUNT(*)) * 65536) AS BIGINT)) END AS t
        |  FROM documents WHERE doc_id % 10 = 0),
        |sdocs AS (SELECT d.* FROM documents d, sthr
        |  WHERE d.doc_id % 10 <> 0
        |     OR substr(md5(d.doc_id::VARCHAR || ':42'), 1, 4) < sthr.t),
        |${minhashCteOver("sdocs")},
        |shared AS (SELECT a.doc_id AS corpus_id, b.doc_id AS batch_id,
        |    COUNT(*) AS c
        |  FROM f5 a JOIN f5 b ON a.v = b.v
        |    AND a.doc_id % 10 <> 0 AND b.doc_id % 10 = 0
        |  GROUP BY 1, 2),
        |truth AS (SELECT s.batch_id, s.corpus_id
        |  FROM shared s JOIN sets sa ON s.corpus_id = sa.doc_id
        |                JOIN sets sb ON s.batch_id = sb.doc_id
        |  WHERE s.c::DOUBLE / (sa.n + sb.n - s.c) >= 0.7),
        |found AS (SELECT
        |    CASE WHEN doc_a % 10 = 0 THEN doc_a ELSE doc_b END AS batch_id,
        |    CASE WHEN doc_a % 10 = 0 THEN doc_b ELSE doc_a END AS corpus_id
        |  FROM jac WHERE (doc_a % 10 = 0) <> (doc_b % 10 = 0)
        |    AND n_common::DOUBLE / (na + nb - n_common) >= 0.7)
        |SELECT COUNT(*)::BIGINT AS n_truth,
        |  COUNT(f.batch_id)::BIGINT AS n_found,
        |  round(COUNT(f.batch_id)::DOUBLE / COUNT(*), 6) AS recall
        |FROM truth t LEFT JOIN found f
        |  ON t.batch_id = f.batch_id AND t.corpus_id = f.corpus_id"""
        .stripMargin,
    // C25: the C3 chain restricted to cross-set (corpus x batch) pairs —
    // exactly the pairs the broadcast batch probe of the corpus index
    // can produce (batch = doc_id % 10 == 0, C22's split)
    "dedup_fuzzy_incremental" ->
      s"""WITH $minhashCte,
        |sel AS (SELECT
        |    CASE WHEN doc_a % 10 = 0 THEN doc_a ELSE doc_b END AS batch_id,
        |    CASE WHEN doc_a % 10 = 0 THEN doc_b ELSE doc_a END AS corpus_id,
        |    n_common, na, nb
        |  FROM jac WHERE (doc_a % 10 = 0) <> (doc_b % 10 = 0))
        |SELECT batch_id, corpus_id,
        |  round(n_common::DOUBLE / (na + nb - n_common), 6) AS jaccard
        |FROM sel WHERE n_common::DOUBLE / (na + nb - n_common) >= 0.7
        |ORDER BY batch_id, corpus_id""".stripMargin,
    // C29: C19's rank replay + the frozen-BPE token-count CTE, rolled
    // up per shard; order_checksum pins the exact (doc -> position)
    // assignment (DuckDB SUM(BIGINT) is HUGEINT -- cast back)
    "corpus_shard_stats" ->
      s"""WITH RECURSIVE $bpeTokCtes,
        |r AS (SELECT doc_id,
        |    row_number() OVER (
        |      ORDER BY substr(md5(doc_id::VARCHAR || ':42'), 1, 4), doc_id)
        |      - 1 AS r
        |  FROM documents),
        |a AS (SELECT r.doc_id, (r.r % 8)::BIGINT AS shard,
        |    (r.r // 8)::BIGINT AS pos,
        |    coalesce(b.n_bpe, 0)::BIGINT AS nt
        |  FROM r LEFT JOIN btok b USING (doc_id))
        |SELECT shard, COUNT(*)::BIGINT AS n_docs, SUM(nt)::BIGINT AS n_tokens,
        |  MIN(pos)::BIGINT AS min_pos, MAX(pos)::BIGINT AS max_pos,
        |  SUM(doc_id * (pos + 1))::BIGINT AS order_checksum
        |FROM a GROUP BY shard ORDER BY shard""".stripMargin,
    // C30: the interleave schedule replay composed with the frozen-BPE
    // token counts and the packing prefix sum IN SCHEDULE ORDER — the
    // b-prefixed token CTEs and the interleave CTEs compose without
    // name collisions
    "corpus_pack_interleaved" -> {
      val wts = mixWtsSql
      s"""WITH RECURSIVE $bpeTokCtes,
        |wts(source, w) AS (VALUES $wts),
        |keyed AS (SELECT d.doc_id, d.source, w.w,
        |    substr(md5(d.doc_id::VARCHAR || ':42'), 1, 4) AS k4
        |  FROM documents d JOIN wts w ON d.source = w.source),
        |r AS (SELECT doc_id, source, w,
        |    row_number() OVER (PARTITION BY source ORDER BY k4, doc_id)
        |      AS r
        |  FROM keyed),
        |k AS (SELECT doc_id, source,
        |    (2 * r - 1)::BIGINT * (6 // w) AS key FROM r),
        |o AS (SELECT
        |    (row_number() OVER (ORDER BY key, source, doc_id) - 1)::BIGINT
        |      AS ord,
        |    doc_id, source
        |  FROM k),
        |tok AS (SELECT o.ord, o.doc_id, o.source,
        |    coalesce(b.n_bpe, 0)::BIGINT AS n_tokens
        |  FROM o LEFT JOIN btok b USING (doc_id)),
        |c AS (SELECT ord, doc_id, source, n_tokens,
        |    CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY ord
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS start_tok
        |  FROM tok)
        |SELECT ord, doc_id, source, n_tokens, start_tok,
        |  start_tok // 2048 AS seq_id, start_tok % 2048 AS offset
        |FROM c ORDER BY ord""".stripMargin
    },
    // C28: the NAIVE double-window replay of the interleave schedule —
    // rank within source over the salted key, exact-rational position
    // key (2r-1)*(L/w) with L = lcm(3,2,1) = 6, then the global rank
    // the engine computes in closed form (ties across sources broken
    // by source name; same-source ties are impossible)
    // C31: naive per-phase replay of the annealed schedule (the shared
    // annealPosCtes chain — same literals as Pipeline.annealPhases)
    "corpus_anneal" ->
      s"""WITH $annealPosCtes
        |SELECT pos, doc_id, source, phase FROM apos
        |ORDER BY pos""".stripMargin,
    // C31 ∘ C11: packing replayed over the ANNEAL schedule's order —
    // the same chain corpus_anneal checks (shared annealPosCtes), the
    // same frozen-BPE counts packing checks (shared bpeTokCtes), and a
    // running-sum cut in schedule order (the C30 rule)
    "corpus_pack_annealed" ->
      s"""WITH RECURSIVE $bpeTokCtes,
        |$annealPosCtes,
        |tok AS (SELECT a.pos, a.doc_id, a.source, a.phase,
        |    coalesce(b.n_bpe, 0)::BIGINT AS n_tokens
        |  FROM apos a LEFT JOIN btok b USING (doc_id)),
        |c AS (SELECT pos, doc_id, source, phase, n_tokens,
        |    CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY pos
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS start_tok
        |  FROM tok)
        |SELECT pos, doc_id, source, phase, n_tokens, start_tok,
        |  start_tok // 2048 AS seq_id, start_tok % 2048 AS offset
        |FROM c ORDER BY pos""".stripMargin,
    "corpus_interleave" -> {
      val wts = mixWtsSql
      s"""WITH wts(source, w) AS (VALUES $wts),
        |keyed AS (SELECT d.doc_id, d.source, w.w,
        |    substr(md5(d.doc_id::VARCHAR || ':42'), 1, 4) AS k4
        |  FROM documents d JOIN wts w ON d.source = w.source),
        |r AS (SELECT doc_id, source, w,
        |    row_number() OVER (PARTITION BY source ORDER BY k4, doc_id)
        |      AS r
        |  FROM keyed),
        |k AS (SELECT doc_id, source,
        |    (2 * r - 1)::BIGINT * (6 // w) AS key FROM r)
        |SELECT (row_number() OVER (ORDER BY key, source, doc_id) - 1)::BIGINT
        |    AS ord,
        |  doc_id, source
        |FROM k ORDER BY ord""".stripMargin
    },
    "corpus_mix" -> {
      val wts = mixWtsSql
      s"""WITH cnt AS (
        |  SELECT source, COUNT(*)::BIGINT AS n FROM documents GROUP BY source),
        |wts(source, w) AS (VALUES $wts),
        |j AS (SELECT c.source, c.n, w.w FROM cnt c JOIN wts w ON c.source = w.source),
        |tsel AS (SELECT a.n AS tn, a.w AS tw FROM j a
        |  WHERE NOT EXISTS (SELECT 1 FROM j b
        |    WHERE b.n::HUGEINT * a.w < a.n::HUGEINT * b.w
        |       OR (b.n::HUGEINT * a.w = a.n::HUGEINT * b.w
        |           AND b.source < a.source))),
        |thr AS (SELECT j.source,
        |  (65536::HUGEINT * j.w * t.tn) // (j.n::HUGEINT * t.tw) AS t
        |  FROM j, tsel t)
        |SELECT d.doc_id, d.source
        |FROM documents d JOIN thr ON d.source = thr.source
        |WHERE substr(md5(d.doc_id::VARCHAR || ':11'), 1, 4) <
        |  CASE WHEN thr.t >= 65536 THEN 'g' ELSE printf('%04x', thr.t::BIGINT) END
        |ORDER BY d.doc_id""".stripMargin
    },
    "corpus_budget" ->
      """WITH tok AS (SELECT doc_id, source,
        |  len(regexp_split_to_array(trim(text), '\s+'))::BIGINT AS n_tokens,
        |  substr(md5(doc_id::VARCHAR || ':42'), 1, 4) AS k4
        |  FROM documents),
        |w AS (SELECT doc_id, source, n_tokens,
        |  SUM(n_tokens) OVER (PARTITION BY source ORDER BY k4, doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM tok)
        |SELECT doc_id, source, n_tokens FROM w
        |WHERE cum - n_tokens < 800 ORDER BY doc_id""".stripMargin,
    "corpus_decontaminate" ->
      s"""WITH ${shingleSetCte(5)},
        |ev AS (SELECT DISTINCT v FROM f5 WHERE doc_id % 7 = 0 AND doc_id < 50000),
        |tr AS (SELECT doc_id, v FROM f5 WHERE NOT (doc_id % 7 = 0 AND doc_id < 50000)),
        |ng AS (SELECT doc_id, COUNT(*) AS n FROM tr GROUP BY doc_id),
        |hits AS (SELECT t.doc_id, COUNT(*) AS h
        |  FROM tr t JOIN ev ON t.v = ev.v GROUP BY t.doc_id)
        |SELECT h.doc_id, ng.n::BIGINT AS n_grams, h.h::BIGINT AS n_hits,
        |  round(h.h::DOUBLE / ng.n, 6) AS contamination
        |FROM hits h JOIN ng ON h.doc_id = ng.doc_id
        |ORDER BY h.doc_id""".stripMargin,
    // C12c: the C3 MinHash chain (k=3 shingles, 128 perms, 16 bands)
    // replayed ONCE over all documents, then the candidate join is
    // CROSS-SET (train band keys vs eval band keys under the C12 %7
    // split) instead of C3's a<b self-join; exact-Jaccard verify and
    // per-train-doc roll-up replay the engine's aggregation
    "corpus_decontaminate_fuzzy" ->
      s"""WITH ${shingleSetCte(3)},
        |${minhashSigCte("f5")},
        |${minhashBandingCte(8, "")},
        |sets AS MATERIALIZED (SELECT doc_id, list(v ORDER BY v) AS sh,
        |    COUNT(*) AS n FROM f5 GROUP BY doc_id),
        |xcand AS (
        |  SELECT DISTINCT a.doc_id AS train_id, b.doc_id AS eval_id
        |  FROM bandkeys a JOIN bandkeys b
        |    ON a.band = b.band AND a.bkey = b.bkey
        |  WHERE NOT (a.doc_id % 7 = 0 AND a.doc_id < 50000)
        |    AND (b.doc_id % 7 = 0 AND b.doc_id < 50000)),
        |xjac AS (SELECT c.train_id, c.eval_id,
        |    length(list_intersect(sa.sh, sb.sh)) AS n_common,
        |    sa.n AS na, sb.n AS nb
        |  FROM xcand c JOIN sets sa ON c.train_id = sa.doc_id
        |               JOIN sets sb ON c.eval_id = sb.doc_id),
        |xhits AS (SELECT train_id,
        |    n_common::DOUBLE / (na + nb - n_common) AS j
        |  FROM xjac WHERE n_common::DOUBLE / (na + nb - n_common) >= 0.7)
        |SELECT train_id AS doc_id, COUNT(*)::BIGINT AS n_eval_matches,
        |  round(MAX(j), 6) AS max_jaccard
        |FROM xhits GROUP BY train_id ORDER BY doc_id""".stripMargin,
    // C23: the Bloom prefilter has no false negatives and the exact
    // verify join removes its false positives, so the oracle is C12's
    // exact replay verbatim — bloom internals never affect the answer
    "corpus_decontaminate_bloom" ->
      s"""WITH ${shingleSetCte(5)},
        |ev AS (SELECT DISTINCT v FROM f5 WHERE doc_id % 7 = 0 AND doc_id < 50000),
        |tr AS (SELECT doc_id, v FROM f5 WHERE NOT (doc_id % 7 = 0 AND doc_id < 50000)),
        |ng AS (SELECT doc_id, COUNT(*) AS n FROM tr GROUP BY doc_id),
        |hits AS (SELECT t.doc_id, COUNT(*) AS h
        |  FROM tr t JOIN ev ON t.v = ev.v GROUP BY t.doc_id)
        |SELECT h.doc_id, ng.n::BIGINT AS n_grams, h.h::BIGINT AS n_hits,
        |  round(h.h::DOUBLE / ng.n, 6) AS contamination
        |FROM hits h JOIN ng ON h.doc_id = ng.doc_id
        |ORDER BY h.doc_id""".stripMargin,
    "corpus_boilerplate" ->
      s"""WITH ${shingleSetCte(3)},
        |ng AS (SELECT doc_id, COUNT(*) AS n FROM f5 GROUP BY doc_id),
        |freq AS (SELECT v, COUNT(*) AS df FROM f5 GROUP BY v HAVING COUNT(*) >= 3),
        |hits AS (SELECT f.doc_id, COUNT(*) AS nb, MAX(fr.df) AS mdf
        |  FROM f5 f JOIN freq fr ON f.v = fr.v GROUP BY f.doc_id)
        |SELECT ng.doc_id, ng.n::BIGINT AS n_grams,
        |  coalesce(h.nb, 0)::BIGINT AS n_boiler,
        |  round(coalesce(h.nb, 0)::DOUBLE / ng.n, 6) AS boiler_frac,
        |  coalesce(h.mdf, 0)::BIGINT AS max_df
        |FROM ng LEFT JOIN hits h ON ng.doc_id = h.doc_id
        |ORDER BY ng.doc_id""".stripMargin,
    "dedup_clusters" ->
      s"""WITH RECURSIVE $minhashCte,
        |good AS (SELECT doc_a, doc_b FROM jac
        |  WHERE n_common::DOUBLE / (na + nb - n_common) >= 0.7),
        |edges AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM good
        |  UNION SELECT doc_b, doc_a FROM good),
        |reach(node, peer) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT r.node, e.dst FROM reach r JOIN edges e ON r.peer = e.src)
        |SELECT node AS doc_id, MIN(peer) AS cluster_id
        |FROM reach GROUP BY node ORDER BY doc_id""".stripMargin,
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
        | CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(28,4))) AS DOUBLE) AS sum_disc_price,
        | CAST(SUM(CAST(l_extendedprice*(1-l_discount)*(1+l_tax) AS DECIMAL(28,6))) AS DOUBLE) AS sum_charge,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_qty,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_price,
        | CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_disc,
        | COUNT(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '2001-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q3_shipping_priority" ->
      """SELECT l_orderkey,
        | CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(28,4))) AS DOUBLE) AS revenue,
        | epoch_ms(o_orderdate) AS o_orderdate_ms
        |FROM customer, orders, lineitem
        |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
        |  AND o_orderkey = l_orderkey
        |  AND o_orderdate < TIMESTAMP '1998-03-15'
        |  AND l_shipdate > TIMESTAMP '1998-03-15'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey
        |LIMIT 10""".stripMargin,
    "q5_region_revenue" ->
      """SELECT r_name, n_name,
        | CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(28,4))) AS DOUBLE) AS revenue
        |FROM lineitem, orders, customer, supplier, nation, region
        |WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
        |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate <  TIMESTAMP '1998-01-01'
        |GROUP BY r_name, n_name
        |ORDER BY r_name, n_name""".stripMargin,
    "q_top_customers_per_nation" ->
      """SELECT n_name, rnk, c_custkey, c_name, c_acctbal FROM (
        | SELECT c_nationkey, c_custkey, c_name, c_acctbal,
        |  row_number() OVER (PARTITION BY c_nationkey
        |                     ORDER BY c_acctbal DESC, c_custkey) AS rnk
        | FROM customer) c JOIN nation ON c_nationkey = n_nationkey
        |WHERE rnk <= 3
        |ORDER BY n_name, rnk""".stripMargin,
    "q_running_revenue" ->
      """WITH daily AS (
        | SELECT strftime(o_orderdate, '%Y-%m-%d') AS order_date,
        |        SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS d
        | FROM orders GROUP BY 1)
        |SELECT order_date, CAST(d AS DOUBLE) AS daily_revenue,
        | CAST(SUM(d) OVER (ORDER BY order_date
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |   AS running_revenue
        |FROM daily ORDER BY order_date""".stripMargin,
    "q_orders_enriched" ->
      """SELECT n_name, event_type, COUNT(*) AS n_events,
        | CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
        | COUNT(DISTINCT user_id) AS n_users
        |FROM events
        |LEFT JOIN customer ON user_id = c_custkey
        |LEFT JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name, event_type
        |ORDER BY n_name, event_type""".stripMargin,
    "time_range_scan" ->
      """SELECT event_type, COUNT(*) AS n_events,
        | CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events
        |WHERE ts >= date_trunc('hour', TIMESTAMP '2024-01-10 05:37:00')
        |  AND ts <  date_trunc('hour', TIMESTAMP '2024-01-25 17:02:00')
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "latest_event_per_user" ->
      """SELECT user_id, event_id, event_type, value, epoch_ms(ts) AS ts_ms
        |FROM (
        | SELECT *, row_number() OVER (PARTITION BY user_id
        |   ORDER BY epoch_ms(ts) DESC, event_id DESC) AS rn
        | FROM events) e
        |WHERE rn = 1
        |ORDER BY user_id""".stripMargin,
    "rollup_hourly" ->
      """SELECT epoch_ms(date_trunc('hour', ts)) AS bucket_ms, event_type,
        | COUNT(*) AS n_events,
        | CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
        | MIN(value) AS min_value, MAX(value) AS max_value,
        | CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // A21: identical from-raw SQL to rollup_hourly — the incremental
    // partial-merge plan must be bit-identical to a full recompute
    "rollup_incremental" ->
      """SELECT epoch_ms(date_trunc('hour', ts)) AS bucket_ms, event_type,
        | COUNT(*) AS n_events,
        | CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
        | MIN(value) AS min_value, MAX(value) AS max_value,
        | CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // A22: the z² > k² test multiplied through by n² — pure integer
    // comparison (HUGEINT here, DECIMAL(38,0) in the Spark plan)
    "rollup_anomaly" ->
      """WITH hourly AS (SELECT epoch_ms(date_trunc('hour', ts)) AS bucket_ms,
        |  event_type, COUNT(*)::BIGINT AS cnt FROM events GROUP BY 1, 2),
        |w AS (SELECT *,
        |  COUNT(cnt) OVER win AS base_n,
        |  SUM(cnt) OVER win AS base_sum,
        |  SUM(cnt::HUGEINT * cnt::HUGEINT) OVER win AS base_sumsq
        |  FROM hourly WINDOW win AS (PARTITION BY event_type
        |    ORDER BY bucket_ms ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)),
        |a AS (SELECT *,
        |    (base_n::HUGEINT * cnt - base_sum::HUGEINT) AS dev,
        |    (base_n::HUGEINT * base_sumsq - base_sum::HUGEINT * base_sum)
        |      AS varn
        |  FROM w WHERE base_n >= 12)
        |SELECT event_type, bucket_ms, cnt, base_n::BIGINT AS base_n,
        |  ((base_sum::HUGEINT * 1000) // base_n)::BIGINT AS mean_milli
        |FROM a WHERE dev * dev > 9 * varn
        |ORDER BY event_type, bucket_ms""".stripMargin,
    // A23: json_valid gate (DuckDB's json_extract ERRORS on malformed
    // input where Spark's get_json_object nulls), integer-format regex
    // (TRY_CAST('6.5') rounds to 7 there, Spark casts to 6), truncating
    // integer `//` = Spark's DIV
    "events_props_extract" ->
      """WITH ks AS (SELECT event_type,
        |    json_extract_string(props, '$.k') AS ks
        |  FROM events WHERE json_valid(props)),
        |k AS (SELECT event_type, CAST(ks AS BIGINT) AS k FROM ks
        |  WHERE ks IS NOT NULL AND regexp_matches(ks, '^-?[0-9]+$'))
        |SELECT event_type, k // 10 AS k_decile, COUNT(*) AS n_events,
        |  CAST(SUM(k) AS BIGINT) AS sum_k, MIN(k) AS min_k, MAX(k) AS max_k
        |FROM k GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // A24: integer-millis holding-time weights through exact DECIMAL;
    // the only float op is the final division of identical inputs
    "rollup_timeweighted" ->
      """WITH b AS (SELECT event_type,
        |    epoch_ms(date_trunc('hour', ts)) AS bucket_ms,
        |    epoch_ms(ts) AS ts_ms, event_id, value FROM events),
        |wd AS (SELECT *, coalesce(lead(ts_ms) OVER (
        |    PARTITION BY event_type, bucket_ms
        |    ORDER BY ts_ms, event_id) - ts_ms, 0) AS w_ms FROM b),
        |a AS (SELECT event_type, bucket_ms, COUNT(*) AS n_samples,
        |    MAX(ts_ms) - MIN(ts_ms) AS span_ms,
        |    CAST(SUM(CAST(value AS DECIMAL(18,4)) * w_ms) AS DOUBLE)
        |      AS tw_sum
        |  FROM wd GROUP BY 1, 2)
        |SELECT event_type, bucket_ms, n_samples, span_ms,
        |  tw_sum / span_ms AS twavg
        |FROM a WHERE span_ms > 0 ORDER BY 1, 2""".stripMargin,
    "rollup_daily" ->
      """SELECT epoch_ms(date_trunc('day', ts)) AS bucket_ms, event_type,
        | COUNT(*) AS n_events,
        | CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
        | MIN(value) AS min_value, MAX(value) AS max_value,
        | CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "rollup_merge" -> // daily FROM hourly must equal daily FROM raw
      """SELECT epoch_ms(date_trunc('day', ts)) AS bucket_ms, event_type,
        | COUNT(*) AS n_events,
        | CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
        | MIN(value) AS min_value, MAX(value) AS max_value,
        | CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "batch_interval_stats" ->
      """SELECT CAST(FLOOR((epoch_ms(ts) - 1704067200000) / 21600000.0) AS BIGINT)
        |   AS interval_id,
        | COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS n_users,
        | CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
        | CAST(FLOOR((epoch_ms(ts) - 1704067200000) / 21600000.0) AS BIGINT)
        |   * 21600000 + 1704067200000 AS interval_start_ms
        |FROM events
        |WHERE epoch_ms(ts) >= 1704067200000 AND epoch_ms(ts) < 1706745600000
        |GROUP BY 1, 5 ORDER BY 1""".stripMargin,
    "q_asof_latest_order" ->
      """WITH r AS (SELECT o_custkey, epoch_ms(o_orderdate) AS order_ms,
        |            MAX(o_orderkey) AS last_orderkey
        |           FROM orders GROUP BY 1, 2),
        |l AS (SELECT event_id, user_id, epoch_ms(ts) AS ts_ms FROM events)
        |SELECT l.event_id, l.user_id, l.ts_ms, r.order_ms, r.last_orderkey
        |FROM l ASOF LEFT JOIN r
        |  ON l.user_id = r.o_custkey AND l.ts_ms >= r.order_ms
        |ORDER BY l.event_id""".stripMargin,
    "q_range_window_stats" ->
      """WITH p AS (SELECT event_id, epoch_ms(ts) AS ts_ms, value FROM events),
        |iv AS (SELECT event_id AS window_id,
        |        epoch_ms(ts) - epoch_ms(ts) % 3600000 AS start_ms,
        |        epoch_ms(ts) - epoch_ms(ts) % 3600000 + 21600000 AS end_ms
        |       FROM events WHERE event_id % 997 = 0 AND event_id < 100000)
        |SELECT window_id, start_ms, end_ms, COUNT(*) AS n_events,
        | CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM iv JOIN p ON p.ts_ms >= iv.start_ms AND p.ts_ms < iv.end_ms
        |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin,
    "q_session_stats" ->
      """WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ts_ms FROM events),
        |b AS (SELECT user_id, event_id, ts_ms,
        |  CASE WHEN lag(ts_ms) OVER w IS NULL
        |         OR ts_ms - lag(ts_ms) OVER w > 1800000 THEN 1 ELSE 0 END AS br
        | FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)),
        |s AS (SELECT user_id, ts_ms,
        |  CAST(SUM(br) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
        |                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
        | FROM b)
        |SELECT user_id, session_idx, COUNT(*) AS n_events,
        | MIN(ts_ms) AS start_ms, MAX(ts_ms) AS end_ms,
        | MAX(ts_ms) - MIN(ts_ms) AS duration_ms
        |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "rollup_percentiles" ->
      """SELECT event_type, COUNT(*) AS n_events,
        | round(quantile_cont(value, 0.5), 6) AS p50,
        | round(quantile_cont(value, 0.9), 6) AS p90,
        | round(quantile_cont(value, 0.95), 6) AS p95,
        | round(quantile_cont(value, 0.99), 6) AS p99
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "rowkey_encode" ->
      """SELECT c_custkey,
        | lpad(to_hex(c_custkey), 16, '0') AS rk_hex,
        | lpad(to_hex(c_custkey), 16, '0') || hex(c_name) AS rk_composite_hex
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "cells_extract" ->
      """SELECT * FROM (
        | SELECT lpad(to_hex(o_orderkey),16,'0') AS rk_hex, 'f' AS family,
        |        'custkey' AS qualifier,
        |        lpad(to_hex(o_custkey),16,'0') AS value_hex FROM orders
        | UNION ALL
        | SELECT lpad(to_hex(o_orderkey),16,'0'), 'f', 'priority',
        |        hex(o_orderpriority) FROM orders
        | UNION ALL
        | SELECT lpad(to_hex(o_orderkey),16,'0'), 'f', 'status',
        |        hex(o_orderstatus) FROM orders)
        |ORDER BY rk_hex, qualifier""".stripMargin,
    "cells_pivot" ->
      """SELECT o_orderkey, o_custkey, o_orderpriority, o_orderstatus
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "salt_distribution" ->
      s"""WITH h AS (SELECT user_id,
         | ${HModel.arraysHashCodeSql("user_id")} AS hc FROM events)
         |SELECT abs(hc % 16) AS bucket, COUNT(*) AS n_rows,
         |       COUNT(DISTINCT user_id) AS n_keys
         |FROM h GROUP BY 1 ORDER BY 1""".stripMargin,
    "bulkload_plan" ->
      s"""WITH h AS (SELECT user_id, event_id,
         |  (epoch_ms(ts) // 3600000) * 3600 AS hour_sec,
         |  ${HModel.arraysHashCodeSql("user_id")} AS hc FROM events),
         |k AS (SELECT abs(hc % 16) AS bucket, hour_sec,
         |  lpad(to_hex(abs(hc % 16)),4,'0') || lpad(to_hex(hour_sec),8,'0') ||
         |  lpad(to_hex(user_id),16,'0') || lpad(to_hex(event_id),16,'0')
         |    AS key_hex
         | FROM h)
         |SELECT bucket, COUNT(*) AS n_cells,
         |       COUNT(DISTINCT hour_sec) AS n_hours,
         |       MIN(key_hex) AS min_key_hex, MAX(key_hex) AS max_key_hex
         |FROM k GROUP BY bucket ORDER BY bucket""".stripMargin,
    "fuzzy_scan" ->
      """SELECT event_type, COUNT(*) AS n_events,
        | CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events
        |WHERE ts >= date_trunc('hour', TIMESTAMP '2024-01-10 05:37:00')
        |  AND ts <  date_trunc('hour', TIMESTAMP '2024-01-25 17:02:00')
        |  AND ((epoch_ms(ts) // 1000 // 3600) % 24) IN (3, 15)
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    // B14: replay the three marker kinds as threshold joins, then
    // VERSIONS=2 via a rank window over the survivors
    "compact_cells" ->
      """WITH c AS (SELECT user_id, lpad(to_hex(user_id),16,'0') AS rk_hex,
        |  event_type AS qualifier, epoch_ms(ts) AS ts_ms, value FROM events),
        |famthr AS (SELECT rk_hex, (min(ts_ms)+max(ts_ms))//2 AS thr
        |  FROM c WHERE user_id % 5 = 0 GROUP BY rk_hex),
        |colthr AS (SELECT rk_hex, max(ts_ms) AS thr
        |  FROM c WHERE user_id % 7 = 0 AND qualifier = 'click' GROUP BY rk_hex),
        |exdel AS (SELECT rk_hex, max(ts_ms) AS dts
        |  FROM c WHERE user_id % 11 = 0 AND qualifier = 'view' GROUP BY rk_hex),
        |surv AS (SELECT c.rk_hex, c.qualifier, c.ts_ms, c.value FROM c
        |  LEFT JOIN famthr f ON c.rk_hex = f.rk_hex
        |  LEFT JOIN colthr t ON c.rk_hex = t.rk_hex AND c.qualifier = 'click'
        |  LEFT JOIN exdel e ON c.rk_hex = e.rk_hex AND c.qualifier = 'view'
        |    AND c.ts_ms = e.dts
        |  WHERE (f.thr IS NULL OR c.ts_ms > f.thr)
        |    AND (t.thr IS NULL OR c.ts_ms > t.thr)
        |    AND e.dts IS NULL),
        |coll AS (SELECT rk_hex, qualifier, ts_ms, max(value) AS value
        |  FROM surv GROUP BY 1, 2, 3),
        |r AS (SELECT *, row_number() OVER (PARTITION BY rk_hex, qualifier
        |    ORDER BY ts_ms DESC) AS rnk FROM coll)
        |SELECT rk_hex, qualifier, ts_ms, value FROM r WHERE rnk <= 2
        |ORDER BY rk_hex, qualifier, ts_ms""".stripMargin,
    // compact_cells with TTL expiry replayed as plain ts predicates:
    // family TTL 25d (now = 2024-02-01T00:00Z ⇒ keep iff
    // ts > 1704585600000), click puts' 10-day cell TTL tag ⇒ keep iff
    // ts > 1705881600000. Marker THRESHOLDS derive from the full put
    // stream (markers are built before expiry), then each marker expires
    // by its own ts under the family TTL (HAVING), exactly as applyTtl
    // drops marker rows.
    "compact_cells_ttl" ->
      """WITH c AS (SELECT user_id, lpad(to_hex(user_id),16,'0') AS rk_hex,
        |  event_type AS qualifier, epoch_ms(ts) AS ts_ms, value FROM events),
        |famthr AS (SELECT rk_hex, (min(ts_ms)+max(ts_ms))//2 AS thr
        |  FROM c WHERE user_id % 5 = 0 GROUP BY rk_hex
        |  HAVING (min(ts_ms)+max(ts_ms))//2 > 1704585600000),
        |colthr AS (SELECT rk_hex, max(ts_ms) AS thr
        |  FROM c WHERE user_id % 7 = 0 AND qualifier = 'click' GROUP BY rk_hex
        |  HAVING max(ts_ms) > 1704585600000),
        |exdel AS (SELECT rk_hex, max(ts_ms) AS dts
        |  FROM c WHERE user_id % 11 = 0 AND qualifier = 'view' GROUP BY rk_hex
        |  HAVING max(ts_ms) > 1704585600000),
        |live AS (SELECT * FROM c WHERE ts_ms >
        |  CASE WHEN qualifier = 'click' THEN 1705881600000
        |       ELSE 1704585600000 END),
        |surv AS (SELECT c.rk_hex, c.qualifier, c.ts_ms, c.value FROM live c
        |  LEFT JOIN famthr f ON c.rk_hex = f.rk_hex
        |  LEFT JOIN colthr t ON c.rk_hex = t.rk_hex AND c.qualifier = 'click'
        |  LEFT JOIN exdel e ON c.rk_hex = e.rk_hex AND c.qualifier = 'view'
        |    AND c.ts_ms = e.dts
        |  WHERE (f.thr IS NULL OR c.ts_ms > f.thr)
        |    AND (t.thr IS NULL OR c.ts_ms > t.thr)
        |    AND e.dts IS NULL),
        |coll AS (SELECT rk_hex, qualifier, ts_ms, max(value) AS value
        |  FROM surv GROUP BY 1, 2, 3),
        |r AS (SELECT *, row_number() OVER (PARTITION BY rk_hex, qualifier
        |    ORDER BY ts_ms DESC) AS rnk FROM coll)
        |SELECT rk_hex, qualifier, ts_ms, value FROM r WHERE rnk <= 2
        |ORDER BY rk_hex, qualifier, ts_ms""".stripMargin,
    "cells_versions" ->
      """WITH c AS (SELECT lpad(to_hex(user_id),16,'0') AS rk_hex,
        |  'm' AS family, event_type AS qualifier, epoch_ms(ts) AS ts_ms,
        |  value FROM events),
        |r AS (SELECT *, row_number() OVER (PARTITION BY rk_hex, family,
        |  qualifier ORDER BY ts_ms DESC, value DESC) AS version_rank
        | FROM c)
        |SELECT rk_hex, family, qualifier, version_rank, ts_ms, value
        |FROM r WHERE version_rank <= 3
        |ORDER BY rk_hex, qualifier, version_rank""".stripMargin,
    "zorder_layout" ->
      """WITH h AS (SELECT user_id,
        |  epoch_ms(ts) // 1000 // 3600 AS epoch_hour FROM events),
        |z AS (SELECT user_id, epoch_hour,
        |  CAST(list_sum(list_transform(range(0, 32), i ->
        |    (((user_id >> i) & 1) << (2*i + 1))
        |      + (((epoch_hour >> i) & 1) << (2*i)))) AS BIGINT) AS z
        | FROM h)
        |SELECT user_id, epoch_hour, z, COUNT(*) AS n_events
        |FROM z GROUP BY user_id, epoch_hour, z
        |ORDER BY z LIMIT 100""".stripMargin,
    // B12 read side: the Morton-range scan + residual box + rollup
    // reduce to a plain box predicate over the source table
    "zorder_range_scan" ->
      """SELECT user_id, epoch_ms(ts) // 1000 // 3600 AS epoch_hour,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events
        |WHERE user_id BETWEEN 4 AND 80
        |  AND epoch_ms(ts) // 1000 // 3600 BETWEEN 473500 AND 473599
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,
    "hfile_point_lookup" ->
      """SELECT event_id, epoch_ms(ts) AS ts_ms, value
        |FROM events WHERE user_id = 7
        |ORDER BY event_id""".stripMargin,
    "hfile_multi_get" ->
      """SELECT event_id, epoch_ms(ts) AS ts_ms, value
        |FROM events WHERE user_id IN (3, 11)
        |ORDER BY event_id""".stripMargin,
    "hfile_prefix_scan" ->
      """SELECT event_id, epoch_ms(ts) AS ts_ms, value
        |FROM events WHERE user_id = 5
        |ORDER BY event_id""".stripMargin,
    "dedup_exact" ->
      """SELECT md5(text) AS fp, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    // byte-exact kernel replay (FNV-1a word hash → 31-combined 3-shingles
    // → fmix64 → per-bit majority SimHash), then brute-force pairs — the
    // banded Spark plan has full recall at this scale (pigeonhole bands,
    // no bucket-cap truncation), so blocked and exhaustive sets coincide
    "dedup_simhash" ->
      """WITH w AS (
        |  SELECT doc_id, unnest(ws) AS word, generate_subscripts(ws, 1) AS idx
        |  FROM (SELECT doc_id,
        |          list_filter(regexp_split_to_array(text, '[ \t\n\r\f]+'), x -> x <> '') AS ws
        |        FROM documents)),
        |fnv AS (
        |  SELECT doc_id, idx,
        |    list_reduce(
        |      list_prepend(14695981039346656037::HUGEINT,
        |        list_transform(range(1, octet_length(encode(word)) + 1),
        |          i -> (strpos('123456789ABCDEF', substr(hex(encode(word)), 2*i-1, 1)) * 16
        |              + strpos('123456789ABCDEF', substr(hex(encode(word)), 2*i, 1)))::HUGEINT)),
        |      (acc, b) -> ((xor(acc, b) & 4294967295::HUGEINT) * 1099511628211::HUGEINT
        |         + (((acc >> 32) * 1099511628211::HUGEINT) & 4294967295::HUGEINT) * 4294967296::HUGEINT)
        |        & 18446744073709551615::HUGEINT) AS h
        |  FROM w),
        |sh0 AS (
        |  SELECT a.doc_id,
        |    (((((1::HUGEINT * 31 + a.h) & 18446744073709551615::HUGEINT) * 31 + b.h)
        |      & 18446744073709551615::HUGEINT) * 31 + c.h) & 18446744073709551615::HUGEINT AS c0
        |  FROM fnv a JOIN fnv b ON a.doc_id = b.doc_id AND b.idx = a.idx + 1
        |             JOIN fnv c ON a.doc_id = c.doc_id AND c.idx = a.idx + 2),
        |f1 AS (SELECT doc_id, xor(c0, c0 >> 33) AS v FROM sh0),
        |f2 AS (SELECT doc_id, ((v & 4294967295::HUGEINT) * 18397679294719823053::HUGEINT
        |        + (((v >> 32) * 18397679294719823053::HUGEINT) & 4294967295::HUGEINT) * 4294967296::HUGEINT)
        |        & 18446744073709551615::HUGEINT AS v FROM f1),
        |f3 AS (SELECT doc_id, xor(v, v >> 33) AS v FROM f2),
        |f4 AS (SELECT doc_id, ((v & 4294967295::HUGEINT) * 14181476777654086739::HUGEINT
        |        + (((v >> 32) * 14181476777654086739::HUGEINT) & 4294967295::HUGEINT) * 4294967296::HUGEINT)
        |        & 18446744073709551615::HUGEINT AS v FROM f3),
        |f5 AS (SELECT DISTINCT doc_id, xor(v, v >> 33) AS v FROM f4),
        |votes AS (
        |  SELECT doc_id, b, SUM(CASE WHEN (v // power(2::HUGEINT, b)::HUGEINT) % 2 = 1 THEN 1 ELSE -1 END) AS vote
        |  FROM f5, range(0, 64) t(b) GROUP BY doc_id, b),
        |sig AS (
        |  SELECT doc_id,
        |    SUM(CASE WHEN vote > 0 THEN power(2::HUGEINT, b)::HUGEINT ELSE 0::HUGEINT END)::HUGEINT AS s
        |  FROM votes GROUP BY doc_id),
        |sigi AS (
        |  SELECT d.doc_id, COALESCE((CASE WHEN s >= 9223372036854775808::HUGEINT
        |       THEN s - 18446744073709551616::HUGEINT ELSE s END)::BIGINT, 0) AS s64
        |  FROM documents d LEFT JOIN sig ON d.doc_id = sig.doc_id)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |       bit_count(xor(a.s64, b.s64))::INT AS hamming
        |FROM sigi a JOIN sigi b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.s64, b.s64)) <= 3
        |ORDER BY doc_a, doc_b""".stripMargin,
    "dedup_exact_normalized" ->
      """SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
        | MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "dedup_incremental" ->
      """WITH f AS (SELECT doc_id,
        |  md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
        |  (doc_id % 10 = 0) AS is_delta FROM documents),
        |idx AS (SELECT fp, MIN(doc_id) AS keep_id FROM f
        |  WHERE NOT is_delta GROUP BY fp),
        |fd AS (SELECT fp, MIN(doc_id) AS first_delta FROM f
        |  WHERE is_delta GROUP BY fp)
        |SELECT d.doc_id, d.fp, coalesce(i.keep_id, -1) AS dup_of,
        |  (i.keep_id IS NULL AND d.doc_id = fd.first_delta) AS keep
        |FROM f d JOIN fd ON d.fp = fd.fp LEFT JOIN idx i ON d.fp = i.fp
        |WHERE d.is_delta ORDER BY d.doc_id""".stripMargin,
    // C19: replay of Sampling.shuffleShard — global rank in
    // (salted-md5 key, id) order, round-robin shard deal
    "corpus_shuffle" ->
      s"""WITH r AS (SELECT doc_id,
        |  row_number() OVER (
        |    ORDER BY substr(md5(doc_id::VARCHAR || ':42'), 1, 4), doc_id)
        |    - 1 AS r
        |  FROM documents)
        |SELECT doc_id, (r % 8)::BIGINT AS shard, (r // 8)::BIGINT AS pos
        |FROM r ORDER BY doc_id""".stripMargin,
    "split_assign" ->
      s"""SELECT doc_id, lang, source,
        | CASE WHEN substr(md5(doc_id::VARCHAR || ':42'), 1, 4)
        |        < '${operators.Sampling.hexThreshold(0.8)}' THEN 'train'
        |      WHEN substr(md5(doc_id::VARCHAR || ':42'), 1, 4)
        |        < '${operators.Sampling.hexThreshold(0.9)}' THEN 'val'
        |      ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,
    "sample_stratified" ->
      s"""SELECT doc_id, lang FROM documents
        |WHERE substr(md5(doc_id::VARCHAR || ':7'), 1, 4) <
        |  CASE lang WHEN 'en' THEN '${operators.Sampling.hexThreshold(0.5)}'
        |            WHEN 'zh' THEN '${operators.Sampling.hexThreshold(0.25)}'
        |            ELSE '${operators.Sampling.hexThreshold(0.1)}' END
        |ORDER BY doc_id""".stripMargin,
    "rollup_distinct" ->
      """SELECT event_type, COUNT(*) AS n_events,
        | COUNT(DISTINCT user_id) AS n_users
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "rollup_heavy_hitters" ->
      """WITH c AS (SELECT event_type, user_id, COUNT(*) AS n_events
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (PARTITION BY event_type
        |    ORDER BY n_events DESC, user_id) AS rnk FROM c)
        |SELECT event_type, rnk, user_id, n_events FROM r WHERE rnk <= 3
        |ORDER BY event_type, rnk""".stripMargin,
    // per-series lag replay; every arithmetic step is one IEEE double op
    // in the same shape as the Spark side, so values are bit-identical
    "rollup_rate" ->
      """WITH c AS (SELECT user_id, event_type, event_id,
        |  epoch_ms(ts) AS ts_ms, value FROM events),
        |l AS (SELECT user_id, event_type, ts_ms, event_id, value,
        |  lag(value) OVER (PARTITION BY user_id, event_type
        |    ORDER BY ts_ms, event_id) AS pv,
        |  lag(ts_ms) OVER (PARTITION BY user_id, event_type
        |    ORDER BY ts_ms, event_id) AS pm
        |  FROM c)
        |SELECT user_id, event_type, ts_ms, event_id,
        |  (value - pv) / ((ts_ms - pm) / 1000.0) AS rate,
        |  CASE WHEN value >= pv THEN (value - pv) / ((ts_ms - pm) / 1000.0)
        |       ELSE value / ((ts_ms - pm) / 1000.0) END AS crate
        |FROM l WHERE pm IS NOT NULL AND ts_ms <> pm
        |ORDER BY user_id, event_type, ts_ms, event_id""".stripMargin,
    "rollup_fill" ->
      """WITH b AS (SELECT event_type,
        |  epoch_ms(ts) // 1000 // 3600 AS h, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS raw_sum
        | FROM events GROUP BY 1, 2),
        |span AS (SELECT event_type, MIN(h) AS lo, MAX(h) AS hi
        | FROM b GROUP BY 1),
        |spine AS (SELECT event_type, unnest(generate_series(lo, hi)) AS h
        | FROM span),
        |j AS (SELECT s.event_type, s.h,
        |  b.n_events AS raw_n, b.raw_sum
        | FROM spine s LEFT JOIN b ON s.event_type = b.event_type AND s.h = b.h),
        |f AS (SELECT event_type, h, raw_n,
        |  last_value(raw_sum IGNORE NULLS) OVER wp AS pv,
        |  last_value(CASE WHEN raw_n IS NOT NULL THEN h END IGNORE NULLS)
        |    OVER wp AS ph,
        |  first_value(raw_sum IGNORE NULLS) OVER wn AS nv,
        |  first_value(CASE WHEN raw_n IS NOT NULL THEN h END IGNORE NULLS)
        |    OVER wn AS nh
        | FROM j
        | WINDOW wp AS (PARTITION BY event_type ORDER BY h
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |  wn AS (PARTITION BY event_type ORDER BY h
        |   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT event_type, h * 3600000 AS bucket_ms,
        | COALESCE(raw_n, 0) AS n_events, raw_n IS NULL AS is_gap,
        | pv AS sum_value,
        | round(CASE WHEN nh = ph THEN pv
        |   ELSE pv + (nv - pv) * (h - ph) / (nh - ph) END, 6) AS lin_sum
        |FROM f ORDER BY event_type, bucket_ms""".stripMargin,
    "corpus_curate" ->
      s"""WITH ${shingleSetCte(5)},
        |ev AS (SELECT DISTINCT v FROM f5 WHERE doc_id % 7 = 0 AND doc_id < 50000),
        |cont AS (SELECT DISTINCT t.doc_id FROM f5 t
        |  JOIN ev ON t.v = ev.v
        |  WHERE NOT (t.doc_id % 7 = 0 AND t.doc_id < 50000)),
        |q AS (SELECT doc_id, lang, text,
        |  regexp_split_to_array(trim(text), '\\s+') AS ws FROM documents
        |  WHERE NOT (doc_id % 7 = 0 AND doc_id < 50000)),
        |c AS (SELECT doc_id, lang, text,
        |  len(list_distinct(ws))::DOUBLE / len(ws) AS diversity,
        |  len(list_filter(ws, w -> w IN ('the','a','an','and','of','to','in',
        |    'is','on','for')))::DOUBLE / len(ws) AS stop_ratio,
        |  len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]'))::DOUBLE
        |    / length(text)::DOUBLE AS punct_ratio,
        |  CASE WHEN length(text) BETWEEN 100 AND 2000 THEN 1.0 ELSE 0.5 END
        |    AS len_score
        | FROM q),
        |s AS (SELECT doc_id, lang, text,
        |  round(len_score * 0.25 + diversity * 0.25
        |    + least(stop_ratio * 4, 1.0) * 0.25
        |    + greatest(1.0 - punct_ratio * 10, 0.0) * 0.25, 6) AS quality
        | FROM c),
        |f AS (SELECT *,
        |  md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
        | FROM s WHERE quality >= 0.7
        |   AND doc_id NOT IN (SELECT doc_id FROM cont)),
        |k AS (SELECT doc_id, lang, quality,
        |  row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn FROM f)
        |SELECT doc_id, lang, quality,
        | CASE WHEN substr(md5(doc_id::VARCHAR || ':42'), 1, 4)
        |        < '${operators.Sampling.hexThreshold(0.8)}' THEN 'train'
        |      WHEN substr(md5(doc_id::VARCHAR || ':42'), 1, 4)
        |        < '${operators.Sampling.hexThreshold(0.9)}' THEN 'val'
        |      ELSE 'test' END AS split
        |FROM k WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    // C10-fuzzy: the full curation composition with the near-dup stage —
    // the k=5 decontamination shingle chain (unprefixed f5) and the k=3
    // MinHash chain (prefix `m`) share one wordFnvCte; the C7
    // recursive-CTE reachability computes cluster canonicals; survivors
    // of quality + decontamination + exact collapse then drop every
    // non-canonical cluster member.
    "corpus_curate_fuzzy" ->
      s"""WITH RECURSIVE $curateFuzzySurvCtes
        |SELECT doc_id, lang, quality, split FROM surv
        |ORDER BY doc_id""".stripMargin,
    // C26: the same survivor CTEs, then packing's exclusive prefix sum
    // (in frozen-BPE token units — the bpeTokCtes replay) and the
    // shuffle-shard rank formula over the SURVIVOR set
    "corpus_export" ->
      s"""WITH RECURSIVE $curateFuzzySurvCtes,
        |$bpeTokCtes,
        |tok AS (SELECT s.doc_id, coalesce(b.n_bpe, 0)::BIGINT AS n_tokens
        |  FROM surv s LEFT JOIN btok b USING (doc_id)),
        |pack AS (SELECT doc_id, n_tokens,
        |  CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |    AS start_tok FROM tok),
        |shuf AS (SELECT doc_id,
        |  row_number() OVER (
        |    ORDER BY substr(md5(doc_id::VARCHAR || ':42'), 1, 4), doc_id)
        |    - 1 AS r
        |  FROM surv)
        |SELECT s.doc_id, s.lang, s.quality, s.split,
        |  p.n_tokens, p.start_tok,
        |  p.start_tok // 2048 AS seq_id, p.start_tok % 2048 AS offset,
        |  (h.r % 8)::BIGINT AS shard, (h.r // 8)::BIGINT AS pos
        |FROM surv s JOIN pack p USING (doc_id) JOIN shuf h USING (doc_id)
        |ORDER BY s.doc_id""".stripMargin,
    // C34: the full tensor-export composition — fuzzy-curate survivors,
    // annealed schedule over the survivor slice (annealPosCtes@sdocs),
    // the replayed id stream over the same slice (bpeIdsCtes@sdocs),
    // pos-ordered global token offsets, 2048-token windows, the C33
    // contiguous-range shard split, per-shard rollup with the
    // order-sensitive wsum so shard CONTENT is cross-engine checked
    "corpus_export_ids" ->
      s"""WITH RECURSIVE $curateFuzzySurvCtes,
        |sdocs AS MATERIALIZED (SELECT d.doc_id, d.text, d.source
        |  FROM documents d JOIN surv USING (doc_id)),
        |${annealPosCtes("sdocs")},
        |${bpeIdsCtes("sdocs")},
        |bcnt AS (SELECT doc_id, COUNT(*)::BIGINT AS n
        |  FROM bids GROUP BY doc_id),
        |sstarts AS (SELECT a.doc_id,
        |    coalesce(SUM(coalesce(c.n, 0)) OVER (ORDER BY a.pos
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS start_tok
        |  FROM apos a LEFT JOIN bcnt c USING (doc_id)),
        |sg AS (SELECT b.id, st.start_tok + b.pos AS gpos
        |  FROM bids b JOIN sstarts st USING (doc_id)),
        |stot AS (SELECT COUNT(*)::BIGINT AS t FROM sg),
        |sper AS (SELECT greatest(1, ((t + 2047) // 2048 + 3) // 4)
        |  AS per FROM stot),
        |sq2 AS (SELECT gpos // 2048 AS seq_id,
        |    (gpos % 2048 + 1)::BIGINT AS p1, id FROM sg),
        |sseqs AS (SELECT seq_id, COUNT(*)::BIGINT AS n_tokens,
        |    SUM(p1 * id)::BIGINT AS wsum FROM sq2 GROUP BY seq_id),
        |ssh AS (SELECT (seq_id // per)::INT AS shard, seq_id, n_tokens,
        |    wsum FROM sseqs, sper)
        |SELECT shard, COUNT(*)::BIGINT AS n_seqs,
        |  SUM(n_tokens)::BIGINT AS n_tokens,
        |  MIN(seq_id)::BIGINT AS first_seq,
        |  MAX(seq_id)::BIGINT AS last_seq,
        |  SUM(wsum)::BIGINT AS ids_wsum
        |FROM ssh GROUP BY shard ORDER BY shard""".stripMargin,
    // C34b: the C34 replay with one EOS row unioned per SCHEDULED doc
    // (apos — leftover survivors are never laid out, so they get no
    // boundary), at pos = that doc's token count; the separator-
    // extended stream then flows through the same pos-ordered offsets
    // / window cut / range split, EOS id interpolated from the ONE
    // Scala constant
    "corpus_export_ids_eos" ->
      s"""WITH RECURSIVE $curateFuzzySurvCtes,
        |sdocs AS MATERIALIZED (SELECT d.doc_id, d.text, d.source
        |  FROM documents d JOIN surv USING (doc_id)),
        |${annealPosCtes("sdocs")},
        |${bpeIdsCtes("sdocs")},
        |bcnt0 AS (SELECT doc_id, COUNT(*)::BIGINT AS n
        |  FROM bids GROUP BY doc_id),
        |ebids AS (
        |  SELECT doc_id, pos::BIGINT AS pos, id FROM bids
        |  UNION ALL
        |  SELECT a.doc_id, coalesce(c.n, 0) AS pos,
        |    ${graft.functions.bpe.eosId(
             graft.operators.Bpe.frozenMerges)}::INT AS id
        |  FROM apos a LEFT JOIN bcnt0 c USING (doc_id)),
        |bcnt AS (SELECT doc_id, COUNT(*)::BIGINT AS n
        |  FROM ebids GROUP BY doc_id),
        |sstarts AS (SELECT a.doc_id,
        |    coalesce(SUM(coalesce(c.n, 0)) OVER (ORDER BY a.pos
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS start_tok
        |  FROM apos a LEFT JOIN bcnt c USING (doc_id)),
        |sg AS (SELECT b.id, st.start_tok + b.pos AS gpos
        |  FROM ebids b JOIN sstarts st USING (doc_id)),
        |stot AS (SELECT COUNT(*)::BIGINT AS t FROM sg),
        |sper AS (SELECT greatest(1, ((t + 2047) // 2048 + 3) // 4)
        |  AS per FROM stot),
        |sq2 AS (SELECT gpos // 2048 AS seq_id,
        |    (gpos % 2048 + 1)::BIGINT AS p1, id FROM sg),
        |sseqs AS (SELECT seq_id, COUNT(*)::BIGINT AS n_tokens,
        |    SUM(p1 * id)::BIGINT AS wsum FROM sq2 GROUP BY seq_id),
        |ssh AS (SELECT (seq_id // per)::INT AS shard, seq_id, n_tokens,
        |    wsum FROM sseqs, sper)
        |SELECT shard, COUNT(*)::BIGINT AS n_seqs,
        |  SUM(n_tokens)::BIGINT AS n_tokens,
        |  MIN(seq_id)::BIGINT AS first_seq,
        |  MAX(seq_id)::BIGINT AS last_seq,
        |  SUM(wsum)::BIGINT AS ids_wsum
        |FROM ssh GROUP BY shard ORDER BY shard""".stripMargin,
    // C11: packing's prefix sum in frozen-BPE token units (bpeTokCtes)
    "seq_packing" ->
      s"""WITH RECURSIVE $bpeTokCtes,
        |t AS (SELECT d.doc_id, coalesce(b.n_bpe, 0)::BIGINT AS n_tokens
        | FROM documents d LEFT JOIN btok b USING (doc_id)),
        |c AS (SELECT doc_id, n_tokens,
        |  CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |    AS start_tok FROM t)
        |SELECT doc_id, n_tokens, start_tok,
        | start_tok // 2048 AS seq_id, start_tok % 2048 AS offset
        |FROM c ORDER BY doc_id""".stripMargin,
    // C11b: the packing CTE, then one range-unnest per doc over the
    // sequences it straddles — span arithmetic mirrors the Spark side
    "seq_spans" ->
      s"""WITH RECURSIVE $bpeTokCtes,
        |t AS (SELECT d.doc_id, coalesce(b.n_bpe, 0)::BIGINT AS n_tokens
        | FROM documents d LEFT JOIN btok b USING (doc_id)),
        |c AS (SELECT doc_id, n_tokens,
        |  CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |    AS start_tok FROM t),
        |s AS (SELECT doc_id, n_tokens, start_tok,
        |  unnest(range(start_tok // 2048,
        |    (start_tok + n_tokens - 1) // 2048 + 1)) AS seq_id
        |  FROM c WHERE n_tokens > 0)
        |SELECT seq_id, doc_id,
        |  greatest(start_tok, seq_id * 2048) - seq_id * 2048 AS offset,
        |  least(start_tok + n_tokens, (seq_id + 1) * 2048)
        |    - greatest(start_tok, seq_id * 2048) AS span_len,
        |  greatest(start_tok, seq_id * 2048) - start_tok AS pos_in_doc
        |FROM s ORDER BY 1, 3""".stripMargin,
    // C36: the seq_spans chain rolled up per sequence — the
    // attention-boundary census (docs spanned, carry-in, fill)
    "packing_stats" ->
      s"""WITH RECURSIVE $bpeTokCtes,
        |t AS (SELECT d.doc_id, coalesce(b.n_bpe, 0)::BIGINT AS n_tokens
        | FROM documents d LEFT JOIN btok b USING (doc_id)),
        |c AS (SELECT doc_id, n_tokens,
        |  CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |    AS start_tok FROM t),
        |s AS (SELECT doc_id, n_tokens, start_tok,
        |  unnest(range(start_tok // 2048,
        |    (start_tok + n_tokens - 1) // 2048 + 1)) AS seq_id
        |  FROM c WHERE n_tokens > 0),
        |sp AS (SELECT seq_id, doc_id,
        |  greatest(start_tok, seq_id * 2048) - seq_id * 2048 AS off,
        |  least(start_tok + n_tokens, (seq_id + 1) * 2048)
        |    - greatest(start_tok, seq_id * 2048) AS span_len,
        |  greatest(start_tok, seq_id * 2048) - start_tok AS pos_in_doc
        |  FROM s)
        |SELECT seq_id, COUNT(*)::BIGINT AS n_docs,
        |  SUM(span_len)::BIGINT AS n_tokens,
        |  MAX(CASE WHEN off = 0 AND pos_in_doc > 0
        |    THEN 1 ELSE 0 END)::BIGINT AS carry_in,
        |  MIN(doc_id)::BIGINT AS first_doc,
        |  MAX(doc_id)::BIGINT AS last_doc
        |FROM sp GROUP BY seq_id ORDER BY seq_id""".stripMargin,
    // E13: the frozen-BPE count chain joined back to documents, one
    // roll-up per language; the word side is corpus_budget's
    // whitespace proxy so the fertility ratio compares the two
    // counting rules the pipeline already uses
    "corpus_tokenizer_stats" ->
      s"""WITH RECURSIVE $bpeTokCtes,
        |base AS (SELECT d.lang, length(d.text)::BIGINT AS nc,
        |    len(regexp_split_to_array(trim(d.text), '\\s+'))::BIGINT AS nw,
        |    coalesce(b.n_bpe, 0)::BIGINT AS nt
        |  FROM documents d LEFT JOIN btok b USING (doc_id))
        |SELECT lang, COUNT(*)::BIGINT AS n_docs,
        |  SUM(nc)::BIGINT AS n_chars, SUM(nw)::BIGINT AS n_words,
        |  SUM(nt)::BIGINT AS n_tokens,
        |  round(SUM(nc)::DOUBLE / SUM(nt), 6) AS chars_per_token,
        |  round(SUM(nt)::DOUBLE / SUM(nw), 6) AS tokens_per_word
        |FROM base GROUP BY lang ORDER BY lang""".stripMargin,
    // E14: the btok chain rolled up per source with exact interpolated
    // percentiles (percentile == quantile_cont, the A15 pairing)
    "corpus_length_stats" ->
      s"""WITH RECURSIVE $bpeTokCtes,
        |t AS (SELECT d.source, coalesce(b.n_bpe, 0)::BIGINT AS nt
        |  FROM documents d LEFT JOIN btok b USING (doc_id))
        |SELECT source, COUNT(*)::BIGINT AS n_docs,
        |  SUM(nt)::BIGINT AS n_tokens, MIN(nt)::BIGINT AS min_tokens,
        |  round(quantile_cont(nt, 0.25), 6) AS p25,
        |  round(quantile_cont(nt, 0.5), 6) AS p50,
        |  round(quantile_cont(nt, 0.75), 6) AS p75,
        |  round(quantile_cont(nt, 0.95), 6) AS p95,
        |  MAX(nt)::BIGINT AS max_tokens
        |FROM t GROUP BY source ORDER BY source""".stripMargin,
    // C32: sequences from GLOBAL token positions — the replayed id
    // stream (bpeIdsCtes, the same chain text_bpe_ids / corpus_chunk
    // check), doc start offsets as a running sum in doc_id order (the
    // packing rule), then seq_id = gpos DIV 2048 and the in-sequence
    // 1-based position for the order-sensitive checksum
    "corpus_pack_ids" ->
      s"""WITH RECURSIVE $bpeIdsCtes,
        |cnum AS (SELECT doc_id, COUNT(*)::BIGINT AS n
        |  FROM bids GROUP BY doc_id),
        |starts AS (SELECT doc_id,
        |    coalesce(SUM(n) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS start_tok
        |  FROM cnum),
        |g AS (SELECT b.id, s.start_tok + b.pos AS gpos
        |  FROM bids b JOIN starts s USING (doc_id)),
        |q AS (SELECT gpos // 2048 AS seq_id,
        |    (gpos % 2048 + 1)::BIGINT AS p1, id FROM g)
        |SELECT seq_id::BIGINT AS seq_id, COUNT(*)::BIGINT AS n_tokens,
        |  arg_min(id, p1)::INT AS first_id,
        |  arg_max(id, p1)::INT AS last_id,
        |  SUM(p1 * id)::BIGINT AS id_wsum
        |FROM q GROUP BY seq_id ORDER BY seq_id""".stripMargin,
    // C32c: the C32 replay with one EOS row unioned per DOCUMENT (at
    // pos = that doc's token count — 0 for an empty doc: every doc,
    // tokenless or not, emits its boundary), then the same global
    // prefix sum over the separator-extended stream; the EOS id is
    // the engine's own first-above-vocab slot, interpolated from ONE
    // Scala constant so the two sides cannot drift
    "corpus_pack_ids_eos" ->
      s"""WITH RECURSIVE $bpeIdsCtes,
        |cnum0 AS (SELECT doc_id, COUNT(*)::BIGINT AS n
        |  FROM bids GROUP BY doc_id),
        |ebids AS (
        |  SELECT doc_id, pos::BIGINT AS pos, id FROM bids
        |  UNION ALL
        |  SELECT d.doc_id, coalesce(c.n, 0) AS pos,
        |    ${graft.functions.bpe.eosId(
             graft.operators.Bpe.frozenMerges)}::INT AS id
        |  FROM documents d LEFT JOIN cnum0 c USING (doc_id)),
        |cnum AS (SELECT doc_id, COUNT(*)::BIGINT AS n
        |  FROM ebids GROUP BY doc_id),
        |starts AS (SELECT doc_id,
        |    coalesce(SUM(n) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS start_tok
        |  FROM cnum),
        |g AS (SELECT b.id, s.start_tok + b.pos AS gpos
        |  FROM ebids b JOIN starts s USING (doc_id)),
        |q AS (SELECT gpos // 2048 AS seq_id,
        |    (gpos % 2048 + 1)::BIGINT AS p1, id FROM g)
        |SELECT seq_id::BIGINT AS seq_id, COUNT(*)::BIGINT AS n_tokens,
        |  arg_min(id, p1)::INT AS first_id,
        |  arg_max(id, p1)::INT AS last_id,
        |  SUM(p1 * id)::BIGINT AS id_wsum
        |FROM q GROUP BY seq_id ORDER BY seq_id""".stripMargin,
    // C27: the replayed token-ID stream (bpeIdsCtes, shared with
    // text_bpe_ids), then per-doc window starts every 6 tokens and a
    // range join slicing each 8-token window; id_wsum replays the
    // order-sensitive Σ (1-based pos in chunk) · id checksum, so the
    // window CONTENT is checked, not just its shape
    "corpus_chunk" ->
      s"""WITH RECURSIVE $bpeIdsCtes,
        |cnum AS (SELECT doc_id, COUNT(*)::BIGINT AS n
        |  FROM bids GROUP BY doc_id),
        |cstart AS (SELECT doc_id, ts AS tok_start
        |  FROM cnum, unnest(range(0, n, 6)) AS t(ts)),
        |cj AS (SELECT s.doc_id, s.tok_start, b.pos, b.id
        |  FROM cstart s JOIN bids b ON b.doc_id = s.doc_id
        |    AND b.pos >= s.tok_start AND b.pos < s.tok_start + 8)
        |SELECT doc_id, (tok_start // 6)::INT AS chunk_idx,
        |  tok_start::INT AS tok_start, COUNT(*)::INT AS n_tok,
        |  arg_min(id, pos)::INT AS first_id,
        |  arg_max(id, pos)::INT AS last_id,
        |  SUM((pos - tok_start + 1)::BIGINT * id)::BIGINT AS id_wsum
        |FROM cj GROUP BY doc_id, tok_start
        |ORDER BY doc_id, chunk_idx""".stripMargin,
    "graph_components" ->
      """WITH RECURSIVE
        |pairs AS (
        |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  WHERE a.l_quantity >= 48 AND b.l_quantity >= 48),
        |edges AS MATERIALIZED (SELECT src, dst FROM pairs UNION SELECT dst, src FROM pairs),
        |reach(node, peer) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT r.node, e.dst FROM reach r JOIN edges e ON r.peer = e.src)
        |SELECT node AS part_id, MIN(peer) AS component_id
        |FROM reach GROUP BY node ORDER BY part_id""".stripMargin,
    "knn_bruteforce" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qe
        |           FROM embeddings WHERE vec_id < 10),
        |d AS (SELECT query_id, vec_id AS neighbor_id,
        |  list_sum(list_transform(range(1, 65),
        |    i -> qe[i]::DOUBLE * embedding[i]::DOUBLE)) /
        |  (sqrt(list_sum(list_transform(range(1, 65),
        |    i -> qe[i]::DOUBLE * qe[i]::DOUBLE))) *
        |   sqrt(list_sum(list_transform(range(1, 65),
        |    i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE)))) AS c
        | FROM q, embeddings WHERE vec_id <> query_id),
        |r AS (SELECT query_id, neighbor_id, c,
        |  row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id)
        |    AS rank FROM d)
        |SELECT query_id, rank, neighbor_id, round(c, 6) AS cosine
        |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    // D10: the same cosine replay, thresholded instead of ranked (the
    // filter runs on the UNROUNDED value, as on the Spark side)
    "knn_range" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qe
        |           FROM embeddings WHERE vec_id < 10),
        |d AS (SELECT query_id, vec_id AS neighbor_id,
        |  list_sum(list_transform(range(1, 65),
        |    i -> qe[i]::DOUBLE * embedding[i]::DOUBLE)) /
        |  (sqrt(list_sum(list_transform(range(1, 65),
        |    i -> qe[i]::DOUBLE * qe[i]::DOUBLE))) *
        |   sqrt(list_sum(list_transform(range(1, 65),
        |    i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE)))) AS c
        | FROM q, embeddings WHERE vec_id <> query_id)
        |SELECT query_id, neighbor_id, round(c, 6) AS cosine
        |FROM d WHERE c >= 0.3 ORDER BY query_id, neighbor_id""".stripMargin,
    "text_stats" ->
      """SELECT doc_id,
        | len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
        | len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]'))
        |   AS n_bpe_tokens,
        | length(text) AS n_chars,
        | len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) AS n_punct,
        | len(regexp_extract_all(text, '[0-9]')) AS n_digits,
        | length(text) - length(replace(text, ' ', '')) AS n_spaces
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_quality" ->
      """WITH q AS (SELECT doc_id, text,
        |  regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
        |c AS (SELECT doc_id,
        |  len(list_distinct(ws))::DOUBLE / len(ws) AS diversity,
        |  len(list_filter(ws, w -> w IN ('the','a','an','and','of','to','in',
        |    'is','on','for')))::DOUBLE / len(ws) AS stop_ratio,
        |  len(regexp_extract_all(text, '[^a-zA-Z0-9\s]'))::DOUBLE
        |    / length(text)::DOUBLE AS punct_ratio,
        |  CASE WHEN length(text) BETWEEN 100 AND 2000 THEN 1.0 ELSE 0.5 END
        |    AS len_score
        | FROM q)
        |SELECT doc_id, round(diversity, 6) AS diversity,
        | round(stop_ratio, 6) AS stop_ratio,
        | round(punct_ratio, 6) AS punct_ratio,
        | round(len_score * 0.25 + diversity * 0.25
        |   + least(stop_ratio * 4, 1.0) * 0.25
        |   + greatest(1.0 - punct_ratio * 10, 0.0) * 0.25, 6) AS quality
        |FROM c ORDER BY doc_id""".stripMargin,
    "text_langid" ->
      """WITH q AS (SELECT doc_id, lang,
        |  regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
        |h AS (SELECT doc_id, lang,
        |  len(list_filter(ws, w -> w IN ('der','die','und','das','nicht','ist'))) AS h_de,
        |  len(list_filter(ws, w -> w IN ('the','a','and','of','is','to'))) AS h_en,
        |  len(list_filter(ws, w -> w IN ('el','los','las','que','y','es'))) AS h_es,
        |  len(list_filter(ws, w -> w IN ('le','les','une','et','est','dans'))) AS h_fr,
        |  len(list_filter(ws, w -> w IN ('的','了','是','在','我','有'))) AS h_zh
        | FROM q),
        |p AS (SELECT doc_id, lang, h_de + h_en + h_es + h_fr + h_zh AS n_marker_hits,
        |  CASE WHEN greatest(h_de, h_en, h_es, h_fr, h_zh) = 0 THEN 'unknown'
        |       WHEN h_de = greatest(h_de, h_en, h_es, h_fr, h_zh) THEN 'de'
        |       WHEN h_en = greatest(h_de, h_en, h_es, h_fr, h_zh) THEN 'en'
        |       WHEN h_es = greatest(h_de, h_en, h_es, h_fr, h_zh) THEN 'es'
        |       WHEN h_fr = greatest(h_de, h_en, h_es, h_fr, h_zh) THEN 'fr'
        |       ELSE 'zh' END AS pred_lang
        | FROM h)
        |SELECT doc_id, lang, pred_lang, pred_lang = lang AS is_match,
        | n_marker_hits
        |FROM p ORDER BY doc_id""".stripMargin,
    "text_fingerprint" ->
      """SELECT source, COUNT(*) AS n_docs,
        | COUNT(DISTINCT md5(text)) AS n_distinct,
        | COUNT(*) - COUNT(DISTINCT md5(text)) AS n_dup_docs
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    // E5: byte-exact arithmetic replay of the polynomial fingerprint and
    // the 16-byte winnowing window-min. UTF-8 bytes come from the hex of
    // encode(); all arithmetic is HUGEINT mod 2^64 (strpos over a
    // 0-less digit string maps hex chars to 0..15); fmix64's two 64x64
    // multiplies are split into 32-bit halves so INT128 never overflows;
    // the final min is over SIGNED 64-bit values, exactly like the
    // kernel's Long comparison (TextHashes.rollingWindowMin).
    "text_rolling_fp" ->
      s"""WITH $rollingWinCte
        |SELECT doc_id,
        |  CASE WHEN fp >= 9223372036854775808::HUGEINT
        |       THEN fp - 18446744073709551616::HUGEINT ELSE fp END::BIGINT AS fp64,
        |  list_aggregate(
        |    list_transform(v, h ->
        |      CASE WHEN h >= 9223372036854775808::HUGEINT
        |           THEN h - 18446744073709551616::HUGEINT ELSE h END::BIGINT),
        |    'min') AS winnow_fp64
        |FROM m5 ORDER BY doc_id""".stripMargin,
    "dedup_substring" ->
      s"""WITH $rollingWinCte,
        |wins AS (SELECT doc_id, unnest(v) AS h FROM m5),
        |cnt AS (SELECT h, count(*) AS n_occ FROM wins GROUP BY 1)
        |SELECT w.doc_id, count(*)::BIGINT AS n_windows,
        |  sum(CASE WHEN c.n_occ > 1 THEN 1 ELSE 0 END)::BIGINT
        |    AS n_dup_windows,
        |  round(sum(CASE WHEN c.n_occ > 1 THEN 1 ELSE 0 END)::DOUBLE
        |    / count(*), 6) AS dup_frac
        |FROM wins w JOIN cnt c USING (h)
        |GROUP BY w.doc_id ORDER BY w.doc_id""".stripMargin,
    // The trim oracle replays the whole chain: dup windows via the
    // shared rolling CTE, covered byte indexes per doc (clamped for
    // short docs, whose single pseudo-window covers the whole content),
    // then the trimmed text rebuilt byte by byte with chr() — valid
    // because the corpus is ASCII (byte == code point).
    "dedup_substring_trim" ->
      s"""WITH $rollingWinCte,
        |wins AS (SELECT doc_id, generate_subscripts(v, 1) - 1 AS pos,
        |  unnest(v) AS h FROM m5),
        |cnt AS (SELECT h, count(*) AS n_occ FROM wins GROUP BY 1),
        |dup AS (SELECT doc_id, pos FROM wins JOIN cnt USING (h)
        |  WHERE n_occ > 1),
        |cov AS (SELECT DISTINCT doc_id, i FROM (
        |  SELECT d.doc_id,
        |    unnest(range(d.pos + 1, least(d.pos + 16, b.n) + 1)) AS i
        |  FROM dup d JOIN b USING (doc_id))),
        |byts AS (SELECT doc_id, generate_subscripts(bs, 1) AS i,
        |  unnest(bs) AS code FROM b),
        |kept AS (SELECT y.doc_id, y.i, y.code FROM byts y
        |  LEFT JOIN cov c ON c.doc_id = y.doc_id AND c.i = y.i
        |  WHERE c.i IS NULL),
        |clean AS (SELECT doc_id,
        |  coalesce(string_agg(chr(code::INT), '' ORDER BY i), '')
        |    AS clean_text
        |  FROM kept GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(c.clean_text, '') AS clean_text,
        |  (octet_length(encode(d.text))
        |   - octet_length(encode(coalesce(c.clean_text, ''))))::BIGINT
        |    AS n_removed
        |FROM documents d LEFT JOIN clean c USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    "text_top_terms" ->
      """WITH w AS (SELECT source,
        |  unnest(regexp_split_to_array(trim(text), '\s+')) AS word
        | FROM documents),
        |tf AS (SELECT source, word, COUNT(*) AS tf FROM w GROUP BY 1, 2),
        |dfx AS (SELECT word, COUNT(DISTINCT source) AS df FROM tf GROUP BY 1),
        |n AS (SELECT COUNT(DISTINCT source) AS ns FROM documents),
        |x AS (SELECT tf.source, tf.word, tf.tf, dfx.df,
        |  tf.tf * (ln((n.ns + 1) / (dfx.df + 1.0)) + 1.0) AS tfidf
        | FROM tf, dfx, n WHERE tf.word = dfx.word),
        |r AS (SELECT *, row_number() OVER (PARTITION BY source
        |        ORDER BY tfidf DESC, word) AS rnk FROM x)
        |SELECT source, rnk, word, tf, df, round(tfidf, 6) AS tfidf
        |FROM r WHERE rnk <= 3 ORDER BY source, rnk""".stripMargin,
    "text_repetition" ->
      """WITH t AS (SELECT doc_id,
        |  regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
        |w AS (SELECT doc_id, unnest(ws) AS word,
        |  generate_subscripts(ws, 1) AS pos FROM t),
        |n AS (SELECT doc_id, count(*) AS n_tokens FROM w GROUP BY 1),
        |tt AS (SELECT doc_id, max(c) AS top_tok FROM (
        |  SELECT doc_id, word, count(*) AS c FROM w GROUP BY 1, 2) GROUP BY 1),
        |r AS (SELECT doc_id, pos, word,
        |  CASE WHEN lag(word) OVER (PARTITION BY doc_id ORDER BY pos)
        |       IS DISTINCT FROM word THEN 1 ELSE 0 END AS brk FROM w),
        |r2 AS (SELECT doc_id,
        |  sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS run_id FROM r),
        |mr AS (SELECT doc_id, max(c) AS max_run FROM (
        |  SELECT doc_id, run_id, count(*) AS c FROM r2 GROUP BY 1, 2) GROUP BY 1),
        |b AS (SELECT doc_id, word || ' ' ||
        |  lead(word) OVER (PARTITION BY doc_id ORDER BY pos) AS bigram FROM w),
        |tb AS (SELECT doc_id, max(c) AS top_bi FROM (
        |  SELECT doc_id, bigram, count(*) AS c FROM b
        |  WHERE bigram IS NOT NULL GROUP BY 1, 2) GROUP BY 1)
        |SELECT n.doc_id, n.n_tokens,
        | round(tt.top_tok::DOUBLE / n.n_tokens, 6) AS top_token_frac,
        | round(CASE WHEN n.n_tokens > 1
        |   THEN coalesce(tb.top_bi, 0)::DOUBLE / (n.n_tokens - 1)
        |   ELSE 0.0 END, 6) AS top_bigram_frac,
        | mr.max_run
        |FROM n JOIN tt USING (doc_id) JOIN mr USING (doc_id)
        |  LEFT JOIN tb USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "dedup_paragraph" ->
      """WITH built AS (SELECT a.doc_id,
        |  a.text || chr(10) || b.text || chr(10) || c.text AS text
        | FROM documents a
        | JOIN documents b ON b.doc_id = a.doc_id + 1
        | JOIN documents c ON c.doc_id = a.doc_id + 2),
        |p0 AS (SELECT doc_id, string_split(text, chr(10)) AS arr
        | FROM built),
        |p AS (SELECT doc_id, unnest(arr) AS para,
        |  generate_subscripts(arr, 1) - 1 AS pos FROM p0),
        |k AS (SELECT doc_id, pos, para,
        |  row_number() OVER (PARTITION BY md5(para)
        |    ORDER BY doc_id, pos) AS rn FROM p)
        |SELECT doc_id, count(*)::BIGINT AS n_paras,
        |  sum(CASE WHEN rn = 1 THEN 0 ELSE 1 END)::BIGINT AS n_dropped,
        |  coalesce(string_agg(CASE WHEN rn = 1 THEN para END, chr(10)
        |    ORDER BY pos), '') AS clean_text
        |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // E9: full training + scoring replay — weak labels from the
    // text_quality formula (same FP addition order), token hashes from
    // the k=1 shingle kernel CTE, weights on the integer grid via
    // BIGINT division, centered-sum scores. The shingle CTE already
    // defines `w` (words), hence `wt` for the weight table.
    "text_classify" ->
      s"""WITH ${shingleSetCte(1)},
        |lblq AS (SELECT doc_id, text,
        |  regexp_split_to_array(trim(text), '\\s+') AS qws FROM documents),
        |lbl AS (SELECT doc_id,
        |  round(CASE WHEN length(text) BETWEEN 100 AND 2000
        |        THEN 1.0 ELSE 0.5 END * 0.25
        |    + len(list_distinct(qws))::DOUBLE / len(qws) * 0.25
        |    + least(len(list_filter(qws, x -> x IN ('the','a','an','and',
        |        'of','to','in','is','on','for')))::DOUBLE / len(qws) * 4,
        |        1.0) * 0.25
        |    + greatest(1.0 - len(regexp_extract_all(text,
        |        '[^a-zA-Z0-9\\s]'))::DOUBLE / length(text)::DOUBLE * 10,
        |        0.0) * 0.25, 6) >= 0.65 AS weak_label
        |  FROM lblq),
        |tok AS (SELECT doc_id, v % 4096 AS b FROM f5),
        |ctm AS (SELECT 1 AS m),
        |cnt AS (SELECT t.b,
        |  sum(CASE WHEN l.weak_label THEN 1 ELSE 0 END)::BIGINT AS pc,
        |  sum(CASE WHEN l.weak_label THEN 0 ELSE 1 END)::BIGINT AS nc
        |  FROM tok t JOIN lbl l USING (doc_id)
        |  WHERE doc_id % (SELECT m FROM ctm) = 0 GROUP BY 1),
        |wt AS (SELECT b, (pc * 2 + 1) * 524288 // (pc + nc + 1) AS wq
        |  FROM cnt),
        |sc AS (SELECT t.doc_id, sum(wt.wq - 524288)::BIGINT AS score_q,
        |  count(*)::BIGINT AS n_feat
        |  FROM tok t JOIN wt USING (b) GROUP BY 1)
        |SELECT l.doc_id, coalesce(s.score_q, 0)::BIGINT AS score_q,
        |  coalesce(s.score_q, 0) > 0 AS pred,
        |  coalesce(s.n_feat, 0)::BIGINT AS n_feat, l.weak_label
        |FROM lbl l LEFT JOIN sc s USING (doc_id) ORDER BY l.doc_id""".stripMargin,
    // positional k=1/k=2 kernel replays (u5/g5), hashed bucket counts
    // from the lang='en' slice, then the exact integer grid:
    // q = ((cBig+1)·2^20) // (cUni+4096). HUGEINT arithmetic in the
    // oracle equals Spark's guarded long arithmetic exactly.
    "text_lm_score" ->
      s"""WITH $wordFnvCte,
        |${shingleSeqTail(1, "u")},
        |${shingleSeqTail(2, "g")},
        |trainu AS (SELECT u5.v % 4096 AS b, count(*) AS c
        |  FROM u5 JOIN documents d USING (doc_id) WHERE d.lang = 'en'
        |  GROUP BY 1),
        |trainb AS (SELECT g5.v % 65536 AS b, count(*) AS c
        |  FROM g5 JOIN documents d USING (doc_id) WHERE d.lang = 'en'
        |  GROUP BY 1),
        |q AS (SELECT g.doc_id,
        |    ((coalesce(tb.c, 0) + 1)::HUGEINT * 1048576)
        |      // (coalesce(tu.c, 0) + 4096) AS q
        |  FROM g5 g
        |  JOIN u5 u ON u.doc_id = g.doc_id AND u.idx = g.idx
        |  LEFT JOIN trainb tb ON tb.b = g.v % 65536
        |  LEFT JOIN trainu tu ON tu.b = u.v % 4096),
        |agg AS (SELECT doc_id, count(*) AS n, sum(q) AS s FROM q GROUP BY 1)
        |SELECT d.doc_id, CAST(coalesce(a.n, 0) AS BIGINT) AS n_bigrams,
        |  CAST(coalesce(a.s, 0) AS BIGINT) AS lm_sum,
        |  CASE WHEN a.n IS NULL THEN NULL
        |       ELSE CAST(a.s // a.n AS BIGINT) END AS lm_score
        |FROM documents d LEFT JOIN agg a USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    // C24: per-bigram SIGN of the smoothed DSIR probability difference,
    // cross-multiplied so the replay is pure integer (HUGEINT) — target
    // table = lang='en' slice, source = the whole pool; totals computed
    // in-SQL exactly as the operator's driver-side table sums
    "corpus_dsir" ->
      s"""WITH $wordFnvCte,
        |${shingleSeqTail(2, "g")},
        |ttb AS (SELECT g5.v % 65536 AS b, count(*) AS c
        |  FROM g5 JOIN documents d USING (doc_id) WHERE d.lang = 'en'
        |  GROUP BY 1),
        |tsb AS (SELECT g5.v % 65536 AS b, count(*) AS c FROM g5 GROUP BY 1),
        |tot AS (SELECT (SELECT coalesce(sum(c), 0) FROM ttb) + 65536 AS tt,
        |               (SELECT coalesce(sum(c), 0) FROM tsb) + 65536 AS ts),
        |q AS (SELECT g.doc_id,
        |    SIGN((coalesce(bt.c, 0) + 1)::HUGEINT * t.ts
        |       - (coalesce(bs.c, 0) + 1)::HUGEINT * t.tt)::BIGINT AS v
        |  FROM g5 g CROSS JOIN tot t
        |  LEFT JOIN ttb bt ON bt.b = g.v % 65536
        |  LEFT JOIN tsb bs ON bs.b = g.v % 65536),
        |agg AS (SELECT doc_id, count(*) AS n, sum(v) AS sv FROM q GROUP BY 1)
        |SELECT d.doc_id, CAST(coalesce(a.n, 0) AS BIGINT) AS n_bigrams,
        |  CAST(a.sv AS BIGINT) AS dsir_vote,
        |  coalesce(a.sv > 0, false) AS selected
        |FROM documents d LEFT JOIN agg a USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    // E11: the LUT is the SAME Scala-computed integer literal the Spark
    // plan embeds (TextOps.EntropyLut) — no engine evaluates a log, so
    // cross-engine float drift is impossible by construction
    "text_entropy" ->
      s"""WITH lutv AS (SELECT [${graft.operators.TextOps.EntropyLut.mkString(",")}]::BIGINT[] AS l),
        |cs AS (SELECT doc_id,
        |  list_transform(regexp_extract_all(text, '[A-Za-z0-9]'),
        |    c -> lower(c)) AS cs FROM documents),
        |b AS (SELECT doc_id, cs, len(cs)::BIGINT AS n,
        |  list_transform(list_distinct(cs),
        |    c -> len(list_filter(cs, x -> x = c))::BIGINT) AS cnt FROM cs),
        |e AS (SELECT doc_id, n, len(cnt)::BIGINT AS n_distinct,
        |  (CASE WHEN n = 0 THEN 0
        |    ELSE list_sum(list_transform(cnt, c ->
        |      c * l[greatest(1, (c * 1024) // n)])) // n END)::BIGINT
        |    AS ent_scaled
        |  FROM b, lutv)
        |SELECT doc_id, n AS n_alnum, n_distinct, ent_scaled,
        |  round(ent_scaled::DOUBLE / 1048576.0, 6) AS ent_bits
        |FROM e ORDER BY doc_id""".stripMargin,
    // E12 encode: the frozen merge list is the SAME Scala constant the
    // Spark plan embeds (Bpe.frozenMerges); segmentation is replayed as
    // a recursive CTE over the DISTINCT-word table — symbols ride a
    // chr(31)-wrapped encoding (each symbol individually fenced, so a
    // replace of the fenced pair can only fire on exact whole-symbol
    // adjacency, and adjacent matches never share a fence), and one
    // replace per merge IS the left-to-right non-overlapping rule
    // E12 train+encode: the FULL training loop replayed sequentially —
    // the recursive `steps` CTE carries every vocab word's fenced
    // segmentation state; each iteration computes freq-weighted
    // overlap-included pair counts across the carried rows, picks the
    // argmax by (count DESC, pair key ASC — hex keys are ASCII, so
    // VARCHAR order IS Spark's UTF-8 byte order, and fixed-width
    // monotone hex makes that equal byte-sequence order), and applies
    // it with the one-replace left-to-right rule (see bpeTrainCtes).
    "text_bpe" -> bpeTrainOracleSql("documents"),
    // E12 encode: the frozen-merge segmentation replay (bpeTokCtes —
    // the artifact inlined into single-quoted SQL literals with a
    // chr(31)-fenced symbol encoding; one replace per merge IS the
    // left-to-right non-overlapping rule, and the require() inside
    // bpeTokCtes fails loudly at dump time if a regenerated merge
    // list ever stops being alphanumeric)
    "text_bpe_encode" ->
      s"""WITH RECURSIVE $bpeTokCtes
        |SELECT doc.doc_id, length(doc.text)::BIGINT AS n_chars,
        |  coalesce(t.n_bpe, 0)::BIGINT AS n_bpe,
        |  CASE WHEN coalesce(t.n_bpe, 0) = 0 THEN NULL
        |       ELSE round(length(doc.text) / t.n_bpe, 6) END AS compression
        |FROM documents doc LEFT JOIN btok t USING (doc_id)
        |ORDER BY doc.doc_id""".stripMargin,
    // E12 GPT-2-exact whitespace mode: the FULL training-loop replay
    // with the pretokenizer swapped for the lookahead-free two-pass
    // rewrite (gpt2WsPretokSql) — RE2 reproduces the `\s+(?!\S)` /
    // single-space-fold segmentation without a lookahead. Trained (not
    // frozen-vocab) deliberately: under ws-free merges the two modes
    // are COUNT-identical by construction, but training on the derived
    // multi-space/indented slice (same derivation as the engine side)
    // learns ("20","20")-class merges, so a whitespace-mode drift on
    // either side changes the learned list and hash-mismatches
    // The corpus guard (`error(...)` on any [\x00-\x1f] doc) makes the
    // rewrite's soundness precondition CHECKED, not a comment: the
    // two-pass boundary insertion uses chr(31) as its separator and
    // Java-\s/RE2-\s diverge on \x0B, so a future fixture change that
    // introduces control chars must fail with this message instead of
    // a confusing parity mismatch (ADVICE r17).
    "text_bpe_gpt2ws" ->
      bpeTrainOracleSql("gdocs",
        s"""wsdocs AS (SELECT doc_id + 20000000 AS doc_id,
          |    '    ' || replace(text, ' ', '   ') || '  ' AS text
          |  FROM documents WHERE doc_id % 7 = 0),
          |gdocs0 AS (SELECT doc_id, text FROM documents
          |  UNION ALL SELECT doc_id, text FROM wsdocs),
          |gdocs AS (SELECT doc_id,
          |    CASE WHEN regexp_matches(text, '[\\x00-\\x1f]')
          |      THEN error('text_bpe_gpt2ws oracle: control char in ' ||
          |        'corpus - the lookahead-free rewrite is only sound ' ||
          |        'on control-free text')
          |      ELSE text END AS text
          |  FROM gdocs0),""".stripMargin,
        gpt2WsPretokSql),
    // E12 encode-to-ids: the same recursive-CTE segmentation replay,
    // extended with the stable-vocab symbol→id CASE (ASCII base =
    // ord(sym), merge output = 128 + FIRST producing merge index —
    // the mergeIdMap putIfAbsent rule — else the reserved <unk> id)
    // and a per-doc (word, symbol) ordinal walk for pos
    "text_bpe_ids" ->
      s"""WITH RECURSIVE $bpeIdsCtes
        |SELECT doc_id, pos, id FROM bids
        |ORDER BY doc_id, pos""".stripMargin,
    // E12 non-ASCII coverage: the SAME byte-level replays, over the
    // derived multilingual slice (mldocs — Greek/Russian/Chinese
    // phrases picked and repeated by doc_id, one Scala constant in
    // both engines). The trainer row learns non-ASCII merges; the
    // encode/ids rows run the FROZEN vocab on text it never saw —
    // every id must still be a real base byte or merge id.
    "text_bpe_utf8" -> bpeTrainOracleSql("mldocs", s"$mlDocsCte,"),
    "text_bpe_encode_utf8" ->
      s"""WITH RECURSIVE $mlDocsCte,
        |${bpeTokCtes("mldocs")}
        |SELECT doc.doc_id, length(doc.text)::BIGINT AS n_chars,
        |  coalesce(t.n_bpe, 0)::BIGINT AS n_bpe,
        |  CASE WHEN coalesce(t.n_bpe, 0) = 0 THEN NULL
        |       ELSE round(length(doc.text) / t.n_bpe, 6) END AS compression
        |FROM mldocs doc LEFT JOIN btok t USING (doc_id)
        |ORDER BY doc.doc_id""".stripMargin,
    "text_bpe_ids_utf8" ->
      s"""WITH RECURSIVE $mlDocsCte,
        |${bpeIdsCtes("mldocs")}
        |SELECT doc_id, pos, id FROM bids
        |ORDER BY doc_id, pos""".stripMargin,
    // E12 decode: the oracle is GROUND TRUTH, not a pipeline replay —
    // pretokenization is whitespace-faithful, so a perfect
    // encode→decode round trip equals the RAW source text exactly;
    // any lossy step in encode, vocab, or decode hash-mismatches here
    "text_bpe_decode" ->
      s"""WITH $mlDocsCte
        |SELECT doc_id, text AS detok
        |FROM documents
        |UNION ALL
        |SELECT doc_id + 10000000, text AS detok
        |FROM mldocs
        |ORDER BY doc_id""".stripMargin,
    // E13 non-ASCII coverage: per-language fertility over the slice —
    // the report the byte-level base vocab exists to make meaningful
    "corpus_tokenizer_stats_utf8" ->
      s"""WITH RECURSIVE $mlDocsCte,
        |${bpeTokCtes("mldocs")},
        |base AS (SELECT d.lang, length(d.text)::BIGINT AS nc,
        |    len(regexp_split_to_array(trim(d.text), '\\s+'))::BIGINT AS nw,
        |    coalesce(b.n_bpe, 0)::BIGINT AS nt
        |  FROM mldocs d LEFT JOIN btok b USING (doc_id))
        |SELECT lang, COUNT(*)::BIGINT AS n_docs,
        |  SUM(nc)::BIGINT AS n_chars, SUM(nw)::BIGINT AS n_words,
        |  SUM(nt)::BIGINT AS n_tokens,
        |  round(SUM(nc)::DOUBLE / SUM(nt), 6) AS chars_per_token,
        |  round(SUM(nt)::DOUBLE / SUM(nw), 6) AS tokens_per_word
        |FROM base GROUP BY lang ORDER BY lang""".stripMargin,
    "text_pii" ->
      """WITH doc AS (SELECT c_custkey AS id,
        |  'Contact ' || c_name || ' <'
        |  || regexp_replace(lower(c_name), '#', '.', 'g')
        |  || '@corp.example.com> or +1-'
        |  || CAST(c_custkey % 900 + 100 AS VARCHAR) || '-'
        |  || lpad(CAST((c_custkey * 31) % 10000 AS VARCHAR), 4, '0')
        |  || ' from host '
        |  || CAST(c_custkey % 80 + 10 AS VARCHAR) || '.'
        |  || CAST(c_custkey % 256 AS VARCHAR) || '.'
        |  || CAST((c_custkey * 7) % 256 AS VARCHAR) || '.'
        |  || CAST(c_custkey % 254 + 1 AS VARCHAR) AS text
        | FROM customer),
        |r1 AS (SELECT id,
        |  len(regexp_extract_all(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::BIGINT
        |    AS n_emails,
        |  regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
        |    '<EMAIL>', 'g') AS t1 FROM doc),
        |r2 AS (SELECT id, n_emails,
        |  len(regexp_extract_all(t1,
        |    '([0-9]{1,3}\.){3}[0-9]{1,3}'))::BIGINT AS n_ips,
        |  regexp_replace(t1, '([0-9]{1,3}\.){3}[0-9]{1,3}',
        |    '<IP>', 'g') AS t2 FROM r1)
        |SELECT id, n_emails, n_ips,
        |  len(regexp_extract_all(t2,
        |    '\+?[0-9]{1,3}[- ][0-9]{3}[- ][0-9]{3,4}'))::BIGINT AS n_phones,
        |  regexp_replace(t2, '\+?[0-9]{1,3}[- ][0-9]{3}[- ][0-9]{3,4}',
        |    '<PHONE>', 'g') AS clean_text
        |FROM r2 ORDER BY id""".stripMargin,
    "mm_manifest" ->
      """SELECT doc_id,
        | (['image','audio','video'])[(doc_id % 3 + 1)::INT] AS kind,
        | strlen(text) AS size_bytes,
        | md5(text) AS content_id
        |FROM documents ORDER BY doc_id""".stripMargin,
    // payloads are UTF-8 text bytes (placeholder construction replayed),
    // so DuckDB's md5(VARCHAR) hashes the same bytes Spark's md5(BINARY)
    "mm_dedup" ->
      """WITH p AS (SELECT doc_id,
        |  (['image','audio','video'])[(doc_id % 3 + 1)::INT] AS kind,
        |  CASE WHEN doc_id % 10 = 0 THEN 'PLACEHOLDER_ASSET_v1'
        |       ELSE text END AS pay
        |  FROM documents)
        |SELECT kind, md5(pay) AS fp, MIN(doc_id) AS keep_id,
        |  COUNT(*) AS n_copies, MIN(strlen(pay)) AS size_bytes
        |FROM p GROUP BY 1, 2 ORDER BY kind, fp""".stripMargin,
    // F5: byte-exact aHash replay (64 byte-window cells, integer
    // cross-multiplied mean threshold, signed-64 wrap), then exact
    // all-pairs hamming — lossless vs the operator's banding by the
    // pigeonhole rule (4 bands, <=3 differing bits). Text is pure
    // ASCII at every SF (checked), so ord(substr) = payload byte.
    "mm_phash" ->
      """WITH p AS (SELECT doc_id,
        |  (['image','audio','video'])[(doc_id % 3 + 1)::INT] AS kind,
        |  CASE WHEN doc_id % 10 = 0 THEN 'PLACEHOLDER_ASSET_v1'
        |       ELSE text END AS pay
        |  FROM documents),
        |bytes AS (SELECT doc_id, kind, t.i,
        |    ord(substr(pay, t.i::INT, 1))::BIGINT AS b,
        |    strlen(pay)::BIGINT AS len
        |  FROM p, unnest(range(1, strlen(pay) + 1)) AS t(i)
        |  WHERE strlen(pay) < 134217728),
        |cells AS (SELECT doc_id, kind, len, ((i - 1) * 64) // len AS j,
        |    SUM(b)::BIGINT AS s, COUNT(*)::BIGINT AS c
        |  FROM bytes GROUP BY 1, 2, 3, 4),
        |tot AS (SELECT doc_id, SUM(s)::BIGINT AS total
        |  FROM cells GROUP BY 1),
        |sigh AS (SELECT c.doc_id, c.kind,
        |    SUM(CASE WHEN c.s * c.len > t.total * c.c
        |        THEN (1::HUGEINT << c.j::INT) ELSE 0::HUGEINT END) AS sh
        |  FROM cells c JOIN tot t ON c.doc_id = t.doc_id
        |  GROUP BY 1, 2),
        |sig AS (SELECT doc_id, kind,
        |    (CASE WHEN sh >= 9223372036854775808::HUGEINT
        |      THEN sh - 18446744073709551616::HUGEINT ELSE sh END)::BIGINT
        |      AS sig
        |  FROM sigh)
        |SELECT a.kind AS kind, a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  bit_count(xor(a.sig, b.sig))::INT AS hamming
        |FROM sig a JOIN sig b ON a.kind = b.kind AND a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.sig, b.sig)) <= 3
        |ORDER BY a.kind, doc_a, doc_b""".stripMargin,
    // F2 REAL image decode: the engine renders a REAL PNG per image-
    // kind doc (pixel = (doc_id*31 + 7x + 13y) mod 256, dims
    // 16+id%17 x 16+(id//17)%13 — MediaCodec's closed form) and
    // decodes it with ImageIO; the oracle replays the DECODED
    // statistics (dims + 4x2 mean-luma grid) from the closed form —
    // a hash match proves the production decode path end-to-end,
    // codec-free on the oracle side. Means are exact integer sums
    // with one final IEEE division on both sides.
    "mm_decode" ->
      """WITH img AS (SELECT doc_id,
        |    16 + doc_id % 17 AS w, 16 + (doc_id // 17) % 13 AS h
        |  FROM documents WHERE doc_id % 3 = 0),
        |px AS (SELECT doc_id, w, h, x.i AS x, y.i AS y,
        |    (doc_id * 31 + 7 * x.i + 13 * y.i) % 256 AS p
        |  FROM img, unnest(range(0, w)) AS x(i),
        |    unnest(range(0, h)) AS y(i)),
        |cells AS (SELECT doc_id,
        |    ((y * 2) // h) * 4 + (x * 4) // w AS g,
        |    SUM(p)::BIGINT AS s, COUNT(*)::BIGINT AS c
        |  FROM px GROUP BY 1, 2)
        |SELECT i.doc_id, i.w::INT AS width, i.h::INT AS height,
        |  MAX(CASE WHEN g = 0 THEN s END)::DOUBLE
        |    / MAX(CASE WHEN g = 0 THEN c END) AS f0,
        |  MAX(CASE WHEN g = 1 THEN s END)::DOUBLE
        |    / MAX(CASE WHEN g = 1 THEN c END) AS f1,
        |  MAX(CASE WHEN g = 2 THEN s END)::DOUBLE
        |    / MAX(CASE WHEN g = 2 THEN c END) AS f2,
        |  MAX(CASE WHEN g = 3 THEN s END)::DOUBLE
        |    / MAX(CASE WHEN g = 3 THEN c END) AS f3,
        |  MAX(CASE WHEN g = 4 THEN s END)::DOUBLE
        |    / MAX(CASE WHEN g = 4 THEN c END) AS f4,
        |  MAX(CASE WHEN g = 5 THEN s END)::DOUBLE
        |    / MAX(CASE WHEN g = 5 THEN c END) AS f5,
        |  MAX(CASE WHEN g = 6 THEN s END)::DOUBLE
        |    / MAX(CASE WHEN g = 6 THEN c END) AS f6,
        |  MAX(CASE WHEN g = 7 THEN s END)::DOUBLE
        |    / MAX(CASE WHEN g = 7 THEN c END) AS f7
        |FROM img i JOIN cells c ON i.doc_id = c.doc_id
        |GROUP BY 1, 2, 3 ORDER BY i.doc_id""".stripMargin,
    // F2 REAL audio decode: a REAL RIFF/WAVE container per audio-kind
    // doc (16-bit mono 8kHz PCM, sample(i) = (id*131 + 17i) mod 4096
    // - 2048, n = 64 + id%64), decoded by AudioSystem; the oracle
    // replays the container-parsed format and the 8 segment-mean
    // amplitudes from the closed form.
    "mm_decode_audio" ->
      """WITH aud AS (SELECT doc_id, 64 + doc_id % 64 AS n
        |  FROM documents WHERE doc_id % 3 = 1),
        |smp AS (SELECT doc_id, n, t.i AS i,
        |    (doc_id * 131 + 17 * t.i) % 4096 - 2048 AS v
        |  FROM aud, unnest(range(0, n)) AS t(i)),
        |seg AS (SELECT doc_id, (i * 8) // n AS g,
        |    SUM(v)::BIGINT AS s, COUNT(*)::BIGINT AS c
        |  FROM smp GROUP BY 1, 2)
        |SELECT a.doc_id, 8000::INT AS sample_rate, 16::INT AS bits,
        |  a.n::INT AS n_samples,
        |  MAX(CASE WHEN g = 0 THEN s END)::DOUBLE
        |    / MAX(CASE WHEN g = 0 THEN c END) AS s0,
        |  MAX(CASE WHEN g = 1 THEN s END)::DOUBLE
        |    / MAX(CASE WHEN g = 1 THEN c END) AS s1,
        |  MAX(CASE WHEN g = 2 THEN s END)::DOUBLE
        |    / MAX(CASE WHEN g = 2 THEN c END) AS s2,
        |  MAX(CASE WHEN g = 3 THEN s END)::DOUBLE
        |    / MAX(CASE WHEN g = 3 THEN c END) AS s3,
        |  MAX(CASE WHEN g = 4 THEN s END)::DOUBLE
        |    / MAX(CASE WHEN g = 4 THEN c END) AS s4,
        |  MAX(CASE WHEN g = 5 THEN s END)::DOUBLE
        |    / MAX(CASE WHEN g = 5 THEN c END) AS s5,
        |  MAX(CASE WHEN g = 6 THEN s END)::DOUBLE
        |    / MAX(CASE WHEN g = 6 THEN c END) AS s6,
        |  MAX(CASE WHEN g = 7 THEN s END)::DOUBLE
        |    / MAX(CASE WHEN g = 7 THEN c END) AS s7
        |FROM aud a JOIN seg s ON a.doc_id = s.doc_id
        |GROUP BY 1, 2, 3, 4 ORDER BY a.doc_id""".stripMargin,
    // F5 over REAL pixels: aHash of the DECODED image (8x8 mean-luma
    // grid, bit g set iff s_g*N > T*c_g — exact integer
    // cross-multiplication, N = w*h, T = total luma), replayed from
    // the closed-form pixels with the signed-64 HUGEINT wrap of the
    // mm_phash replay.
    "mm_phash_image" ->
      """WITH img AS (SELECT doc_id,
        |    16 + doc_id % 17 AS w, 16 + (doc_id // 17) % 13 AS h
        |  FROM documents WHERE doc_id % 3 = 0),
        |px AS (SELECT doc_id, w, h, x.i AS x, y.i AS y,
        |    (doc_id * 31 + 7 * x.i + 13 * y.i) % 256 AS p
        |  FROM img, unnest(range(0, w)) AS x(i),
        |    unnest(range(0, h)) AS y(i)),
        |cells AS (SELECT doc_id,
        |    ((y * 8) // h) * 8 + (x * 8) // w AS g,
        |    SUM(p)::BIGINT AS s, COUNT(*)::BIGINT AS c
        |  FROM px GROUP BY 1, 2),
        |tot AS (SELECT doc_id, SUM(s)::BIGINT AS total,
        |    SUM(c)::BIGINT AS n
        |  FROM cells GROUP BY 1),
        |sigh AS (SELECT c.doc_id,
        |    SUM(CASE WHEN c.s * t.n > t.total * c.c
        |        THEN (1::HUGEINT << c.g::INT) ELSE 0::HUGEINT END) AS sh
        |  FROM cells c JOIN tot t ON c.doc_id = t.doc_id
        |  GROUP BY 1)
        |SELECT doc_id,
        |  (CASE WHEN sh >= 9223372036854775808::HUGEINT
        |    THEN sh - 18446744073709551616::HUGEINT ELSE sh END)::BIGINT
        |    AS sig
        |FROM sigh ORDER BY doc_id""".stripMargin
  )
}
