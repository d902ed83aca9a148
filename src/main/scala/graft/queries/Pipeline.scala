package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, GraphOps, Knn, Multimodal, Packing, Sampling, TextOps}

/** Training-data pipeline queries (SURVEY.md §2 C/D/E/F series) over the
  * `documents` and `embeddings` tables. Thin deterministic wrappers
  * around the operator modules: fixed parameters, full ordering, and
  * column names matching the DuckDB oracles.
  */
object Pipeline {

  val EmbeddingDim = 64

  /** THE whitespace token count — corpus_budget's cheap budget-line
    * estimate (a mixture budget needs a fast, tokenizer-agnostic
    * proxy).
    */
  private def wsTokenCount: org.apache.spark.sql.Column =
    size(split(trim(col("text")), "\\s+")).cast("long")

  /** THE tokenizer-faithful token count — the frozen-BPE kernel count
    * (one definition: seq_packing, seq_spans and corpus_export must
    * agree on where token boundaries and sequence cuts fall, and it
    * must be the count the training loader's tokenizer will actually
    * produce, not a whitespace proxy — otherwise `offset`/`span_len`/
    * `pos_in_doc` drift from real token units and packed sequences
    * over/under-fill).
    */
  private def bpeTokenCount: org.apache.spark.sql.Column =
    graft.functions.bpe.tokenCount(col("text"),
      graft.operators.Bpe.frozenMerges)

  /** The registered 3:2:1 source-mixture spec (src0-4 : src5-9 :
    * src10-19) — ONE definition shared by corpus_mix,
    * corpus_interleave, and corpus_pack_interleaved so the three query
    * rows (and their oracles, via SparkEntry's one wts builder) can
    * never disagree about the mixture.
    */
  private[graft] val mixWeights: Seq[(String, Int)] =
    (0 until 20).map(i =>
      s"src$i" -> (if (i < 5) 3 else if (i < 10) 2 else 1))

  // ---- C. dedup --------------------------------------------------------

  /** C1: exact dedup by md5 content fingerprint. */
  def dedupExact(documents: DataFrame): DataFrame =
    Dedup.exact(documents, "doc_id", md5(col("text")))
      .orderBy("fp")

  /** C2: exact dedup after case/whitespace normalization. */
  def dedupExactNormalized(documents: DataFrame): DataFrame =
    Dedup.exact(documents, "doc_id", md5(Dedup.normalized(col("text"))))
      .orderBy("fp")

  /** C22: incremental batch dedup — docs with `doc_id % 10 == 0` play
    * the incoming crawl batch, the rest the already-indexed corpus
    * (same normalized fingerprint as C2). The corpus index is probed
    * map-side against the broadcast batch fingerprint set; history is
    * never re-shuffled.
    */
  def dedupIncremental(documents: DataFrame): DataFrame = {
    val isDelta = col("doc_id") % 10 === 0
    val fpc = md5(Dedup.normalized(col("text")))
    val index = Dedup.exact(documents.filter(!isDelta), "doc_id", fpc)
      .select(col("fp"), col("keep_id"))
    Dedup.incremental(index, documents.filter(isDelta), "doc_id", fpc)
      // -1 sentinel instead of null: the compare harness treats numeric
      // nulls as NaN and NaN != NaN
      .withColumn("dup_of", coalesce(col("dup_of"), lit(-1L)))
      .orderBy("doc_id")
  }

  /** C25: incremental near-dup — the `doc_id % 10 == 0` slice plays
    * the incoming batch, the rest the indexed corpus (C22's split);
    * batch keys broadcast against the aggregated corpus LSH index.
    * Built in-plan here so the oracle row is self-contained; a real
    * crawl cycle persists the bucket table once and probes it from
    * disk per batch via [[graft.operators.Dedup.buildLshIndex]] /
    * [[graft.operators.Dedup.incrementalMinhashIndexed]] (results
    * identical, spec-pinned).
    */
  def dedupFuzzyIncremental(documents: DataFrame): DataFrame = {
    val isDelta = col("doc_id") % 10 === 0
    Dedup.incrementalMinhash(documents.filter(!isDelta),
        documents.filter(isDelta), "doc_id", "text",
        k = 3, perms = 128, bands = 16, threshold = 0.7)
      .withColumn("jaccard", round(col("jaccard"), 6))
      .orderBy("batch_id", "corpus_id")
  }

  /** One persisted LSH layout per sf dir for [[dedupRecallIndexed]],
    * built over the corpus slice (doc_id % 10 != 0 — C22's split, the
    * same corpus [[dedupFuzzyIncremental]] indexes in-plan).
    */
  private[graft] def ensureLshIndexDir(documents: DataFrame,
                                       sfDir: String): String =
    HModel.ensureFixtureDir(documents.sparkSession, "lshidx_v1", sfDir)(
      Dedup.buildLshIndex(documents.filter(col("doc_id") % 10 =!= 0),
        "doc_id", "text", _, k = 3, perms = 128, bands = 16))

  /** C37 registered: recall of the PERSISTED LSH index on the
    * incoming batch (doc_id % 10 == 0) — truth is the exact cross-set
    * threshold report, found is the store's own probe
    * ([[graft.operators.Dedup.lshIndexRecall]]). The fixture index
    * holds exactly the in-plan corpus slice, so the oracle replays
    * the logical composition (cross-set exact truth vs the banded
    * cross-set pairs) with no store in sight — equal answers from
    * the persisted and in-plan forms, the knn_range_indexed pattern.
    */
  def dedupRecallIndexed(documents: DataFrame, sfDir: String): DataFrame =
    Dedup.lshIndexRecall(ensureLshIndexDir(documents, sfDir),
      documents.filter(col("doc_id") % 10 =!= 0),
      documents.filter(col("doc_id") % 10 === 0),
      "doc_id", "text", threshold = 0.7)

  /** C37 at probe scale: the same persisted-store recall report over
    * an ABSOLUTE ~300-doc salted-hash slice of the batch
    * ([[Dedup.lshIndexRecallSlice]]) — the production posture (a
    * crawl micro-batch is absolute-sized, not 10% of the corpus),
    * and the one that makes the store-recall number recordable at
    * the 100× replication where the proportional batch's truth join
    * storms. At the gate sf the batch is under the target so the
    * row equals [[dedupRecallIndexed]] exactly — a target at or above
    * the batch size adds no filter ([[Sampling.docSlice]]), spec-pinned.
    */
  def dedupRecallIndexedAbs(documents: DataFrame,
                            sfDir: String): DataFrame =
    Dedup.lshIndexRecallSlice(ensureLshIndexDir(documents, sfDir),
      documents.filter(col("doc_id") % 10 =!= 0),
      documents.filter(col("doc_id") % 10 === 0),
      "doc_id", "text", threshold = 0.7,
      sampleDocs = recallSampleDocs, seed = 42L)

  /** C3: MinHash(128) + 16-band LSH, verified Jaccard ≥ 0.7. */
  def dedupMinhashLsh(documents: DataFrame): DataFrame =
    Dedup.minhashLsh(documents, "doc_id", "text",
        k = 3, perms = 128, bands = 16, threshold = 0.7)
      .withColumn("jaccard", round(col("jaccard"), 6))
      .orderBy("doc_a", "doc_b")

  /** C4: 64-bit SimHash near-dup pairs, Hamming ≤ 3. */
  def dedupSimhash(documents: DataFrame): DataFrame =
    Dedup.simhashPairs(documents, "doc_id", "text", k = 3, maxHamming = 3)
      .orderBy("doc_a", "doc_b")

  /** C5: exact 3-shingle Jaccard over the LSH candidate set. */
  def dedupNgramJaccard(documents: DataFrame): DataFrame =
    Dedup.ngramJaccardCandidates(documents, "doc_id", "text",
        k = 3, perms = 128, bands = 16)
      .withColumn("jaccard", round(col("jaccard"), 6))
      .orderBy("doc_a", "doc_b")

  /** C35: banding recall report — exact threshold-0.7 truth (shingle
    * inverted index) vs what the C3 MinHash banding surfaced, the D9
    * knn_recall discipline for the dedup family. One row:
    * (n_truth, n_found, recall).
    */
  def dedupRecall(documents: DataFrame): DataFrame =
    Dedup.lshRecall(documents, "doc_id", "text",
      k = 3, perms = 128, bands = 16, threshold = 0.7)

  /** C35c: the banding-recall TUNING SWEEP — the C35 report at bands
    * ∈ {8, 16, 32} over ONE shared exact truth
    * ([[Dedup.lshRecallSweep]]), the measured recall-vs-cost curve
    * for the main LSH knob. One row per setting; n_truth identical
    * across rows (truth is banding-independent), recall non-
    * decreasing in bands (spec-pinned).
    */
  def dedupRecallSweep(documents: DataFrame): DataFrame =
    Dedup.lshRecallSweep(documents, "doc_id", "text",
      k = 3, perms = 128, bandsList = Seq(8, 16, 32), threshold = 0.7)

  /** The sampled-slice target size of [[dedupRecallSampled]] — ONE
    * constant shared with the oracle's slice predicate. */
  val recallSampleDocs = 300L

  /** C35 at corpus scale: the same banding-recall report over a
    * deterministic ~300-doc salted-hash slice
    * ([[Dedup.lshRecallSlice]] — the C8 machinery with an ABSOLUTE
    * size target). Exact truth is quadratic in the duplicate
    * structure BY CONSTRUCTION, and a FRACTION slice's pair space
    * still grows as (f·N)² (measured ratio100 177 at 20%), so the
    * recordable-at-100× posture is the eval-sized slice: quadratic
    * work constant, only the count + filter scans grow with the
    * corpus, and on duplicate-heavy data the expected within-slice
    * truth-pair count is replication-invariant (the estimate keeps
    * its signal). At the sf0.01 gate the slice is 60% of the corpus
    * — real slicing, real pairs, oracle-replayed from DuckDB's own
    * COUNT(*) with identical IEEE threshold arithmetic. The
    * full-truth row stays the gate's exact report.
    */
  def dedupRecallSampled(documents: DataFrame): DataFrame =
    Dedup.lshRecallSlice(documents, "doc_id", "text",
      k = 3, perms = 128, bands = 16, threshold = 0.7,
      sampleDocs = recallSampleDocs, seed = 42L)

  /** C35c at corpus scale: the banding sweep over the SAME absolute
    * ~300-doc salted-hash slice as [[dedupRecallSampled]]
    * ([[Dedup.lshRecallSweepSlice]]) — the recordable-at-100× posture
    * for the tuning curve: ONE sliced exact truth shared across the
    * three bandings, quadratic work constant in the corpus size. Each
    * row equals [[Dedup.lshRecallSlice]] at that banding (spec-
    * pinned); the full-corpus sweep row stays the gate's exact curve.
    */
  def dedupRecallSweepAbs(documents: DataFrame): DataFrame =
    Dedup.lshRecallSweepSlice(documents, "doc_id", "text",
      k = 3, perms = 128, bandsList = Seq(8, 16, 32), threshold = 0.7,
      sampleDocs = recallSampleDocs, seed = 42L)

  /** C6: embedding-cosine near-dup pairs (θ ≥ 0.4 — the synthetic
    * embeddings top out near cosine 0.51) via hyperplane LSH blocking.
    * 12 bands × 6 planes: recall ~0.62–0.68 vs brute-force truth
    * (spec-asserted ≥ 0.5) at lower cost than the old 4×8 blocking,
    * which recalled only ~0.14.
    */
  def dedupEmbedding(embeddings: DataFrame): DataFrame =
    Dedup.embeddingNearDup(embeddings, "vec_id", "embedding",
        dim = EmbeddingDim, threshold = 0.4, bands = 12, planesPerBand = 6)
      .withColumn("cosine", round(col("cosine"), 6))
      .orderBy("vec_a", "vec_b")

  /** C18: SemDeDup semantic dedup — trained 16-cell embedding k-means
    * (the D3b Lloyd machinery at m = 1, trainMod = 2), within-cell
    * hyperplane-LSH candidates at C6's blocking parameters, θ ≥ 0.4
    * verification, keep-the-least-central exemplar per pair. Every
    * corpus row comes back with its cluster, centrality, verified
    * near-dup degree and the keep/drop decision.
    */
  def dedupSemantic(embeddings: DataFrame): DataFrame =
    Dedup.semantic(embeddings, "vec_id", "embedding", dim = EmbeddingDim,
      threshold = 0.4, ksub = 16, iters = 2, trainMod = 2,
      bands = 12, planesPerBand = 6)
      .orderBy("vec_id")

  /** C7: dup clusters = connected components over the verified MinHash
    * pair set, so transitively-linked near-dups (A~B, B~C) collapse to
    * one cluster even when A~C was never emitted. `cluster_id` is the
    * minimum doc_id in the cluster — the canonical survivor under
    * keep-lowest-id dedup policy.
    */
  def dedupClusters(documents: DataFrame): DataFrame = {
    val pairs = Dedup.minhashLsh(documents, "doc_id", "text",
      k = 3, perms = 128, bands = 16, threshold = 0.7)
    GraphOps.connectedComponents(pairs, "doc_a", "doc_b")
      .select(col("node").as("doc_id"), col("component").as("cluster_id"))
      .orderBy("doc_id")
  }

  /** C12: eval-set decontamination — training docs sharing any exact
    * 5-word shingle with the held-out benchmark slice
    * (`doc_id % 7 == 0 && doc_id < 50000`, the stand-in for an external
    * eval suite; the id bound keeps the slice FIXED-SIZE as the corpus
    * scales — real benchmark suites do not grow with the training set,
    * and at the driver's test SFs every id is under the bound so
    * results are unchanged). One row per contaminated doc with its
    * overlap fraction.
    */
  def corpusDecontaminate(documents: DataFrame): DataFrame = {
    val isEval = col("doc_id") % 7 === 0 && col("doc_id") < 50000
    Dedup.decontaminate(documents.filter(!isEval), documents.filter(isEval),
        "doc_id", "text", k = 5, minHits = 1L)
      .orderBy("doc_id")
  }

  /** C12c: near-dup decontamination under the SAME train/eval split as
    * C12 — the C25 cross-set LSH probe (k=3, 128 perms, 16 bands,
    * τ=0.7, the C3 constants) with the eval slice in the broadcast
    * batch seat; flags training docs a paraphrase-level copy of a
    * benchmark doc would slip past C12's exact-gram overlap.
    */
  def corpusDecontaminateFuzzy(documents: DataFrame): DataFrame = {
    val isEval = col("doc_id") % 7 === 0 && col("doc_id") < 50000
    Dedup.decontaminateFuzzy(documents.filter(!isEval),
        documents.filter(isEval), "doc_id", "text")
      .orderBy("doc_id")
  }

  /** C23: Bloom-prefiltered decontamination — same split and params as
    * C12, same output (the oracle is C12's exact SQL); the map-side
    * probe is an eval-sized Bloom bitset (32 bits per distinct eval
    * gram) instead of the exact gram set.
    */
  def corpusDecontaminateBloom(documents: DataFrame): DataFrame = {
    val isEval = col("doc_id") % 7 === 0 && col("doc_id") < 50000
    Dedup.decontaminateBloom(documents.filter(!isEval),
        documents.filter(isEval), "doc_id", "text", k = 5, minHits = 1L)
      .orderBy("doc_id")
  }

  /** C14: boilerplate density — per doc, the fraction of its distinct
    * 3-word shingles that appear in ≥ 3 distinct documents corpus-wide
    * (repeated phrasing / template text), plus the df of its most
    * common gram. High `boiler_frac` = template document.
    */
  def corpusBoilerplate(documents: DataFrame): DataFrame =
    Dedup.boilerplate(documents, "doc_id", "text", k = 3, minDf = 3L)
      .orderBy("doc_id")

  /** C15: paragraph-level exact dedup. The synthetic corpus is
    * single-paragraph (no newlines), so the query first builds
    * 3-paragraph docs by two equi-self-joins (doc i + companions i+1,
    * i+2, '\n'-joined) — adjacent constructed docs then share two
    * paragraphs each, and pre-existing duplicate texts collapse too,
    * so the canonical-occurrence selection and reassembly are both
    * exercised for real. The oracle replays construction + dedup.
    */
  def dedupParagraphs(documents: DataFrame): DataFrame = {
    val d = documents.select(col("doc_id"), col("text"))
    val built = d
      .join(d.select((col("doc_id") - 1).as("doc_id"),
        col("text").as("t1")), "doc_id")
      .join(d.select((col("doc_id") - 2).as("doc_id"),
        col("text").as("t2")), "doc_id")
      .select(col("doc_id"),
        concat_ws("\n", col("text"), col("t1"), col("t2")).as("text"))
    Dedup.paragraphDedup(built, "doc_id", "text").orderBy("doc_id")
  }

  /** C16: exact substring-duplication fraction per doc, 16-byte
    * rolling windows counted corpus-wide (same byte-exact
    * polynomial+fmix64 kernel as text_rolling_fp — the oracle replays
    * it window by window).
    */
  def dedupSubstring(documents: DataFrame): DataFrame =
    Dedup.substringDup(documents, "doc_id", "text", window = 16)
      .orderBy("doc_id")

  /** C17: exact-substring span removal — every corpus-duplicated
    * 16-byte window cut from its doc (the action C16's dup_frac signal
    * motivates); the oracle replays the kernel window by window and
    * rebuilds the trimmed text byte by byte.
    */
  def dedupSubstringTrim(documents: DataFrame): DataFrame =
    Dedup.substringTrim(documents, "doc_id", "text", window = 16)
      .orderBy("doc_id")

  /** C8: deterministic 80/10/10 train/val/test split keyed on
    * md5(doc_id, seed) — reproducible across engines and runs.
    */
  def splitAssign(documents: DataFrame): DataFrame =
    Sampling.deterministicSplit(documents, "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), seed = 42L)
      .select("doc_id", "lang", "source", "split")
      .orderBy("doc_id")

  /** C8b: per-language stratified sample (en 50%, zh 25%, rest 10%),
    * deterministic in (doc_id, seed).
    */
  def sampleStratified(documents: DataFrame): DataFrame =
    Sampling.stratifiedSample(documents, "doc_id", "lang",
        Map("en" -> 0.5, "zh" -> 0.25), default = 0.1, seed = 7L)
      .select("doc_id", "lang")
      .orderBy("doc_id")

  /** C19: deterministic shuffle + 8-way balanced shard assignment —
    * the export layout for training shards (distributed two-phase
    * global rank, round-robin deal).
    */
  def corpusShuffle(documents: DataFrame): DataFrame =
    Sampling.shuffleShard(documents, "doc_id", shards = 8, seed = 42L)
      .orderBy("doc_id")

  /** C29: the shard MANIFEST a training loader validates against —
    * per-shard document count, frozen-BPE token total (the loader's
    * own units, E12's kernel), the position range, and an
    * order-sensitive checksum `order_checksum = Σ doc_id·(pos+1)` that
    * pins the exact (doc → position) assignment, not just shard
    * membership. One C19 rank + one partial-agg shuffle over 8 groups;
    * the balanced-deal invariants (sizes differ by ≤1, positions tile
    * 0..n_docs−1 gaplessly) become assertable numbers: min_pos = 0 and
    * max_pos = n_docs − 1 in every row.
    */
  def corpusShardStats(documents: DataFrame): DataFrame =
    Sampling.shuffleShard(documents, "doc_id", shards = 8, seed = 42L)
      .join(documents.select(col("doc_id"), bpeTokenCount.as("_nt")),
        Seq("doc_id"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("_nt")).as("n_tokens"),
        min("pos").as("min_pos"), max("pos").as("max_pos"),
        sum(col("doc_id") * (col("pos") + lit(1L))).as("order_checksum"))
      .orderBy("shard")

  /** Phrases for the DERIVED multilingual slice — ONE definition
    * shared with SparkEntry's `mldocs` oracle CTE. Greek and Russian
    * (2-byte UTF-8 alphabets) plus Chinese (3-byte, unsegmented CJK):
    * the scripts the byte-level tokenizer must represent without
    * `<unk>`. Keep lowercase-ascii lang codes and quote-free phrases —
    * the oracle builder inlines them as SQL literals under a guard.
    */
  val mlPhrases: Seq[(String, String)] = Seq(
    ("el", "αλφα βητα γαμμα δελτα εψιλον ζητα"),
    ("ru", "привет мир поток данных модель слово"),
    ("zh", "数据 引擎 分词 测试 模型 向量"))

  /** The derived MULTILINGUAL doc slice — the fixture corpus is pure
    * ASCII, so non-ASCII tokenizer coverage (the whole point of the
    * byte-level base vocab) is exercised on a slice DERIVED
    * deterministically from doc_id, identically in both engines: each
    * doc picks a phrase by doc_id % |phrases| and repeats it
    * 1 + doc_id % 4 times (repeats make every adjacent byte pair
    * trainable). Same schema as `documents` (doc_id, lang, text,
    * source), so every documents-shaped query composes over it.
    */
  def multilingualSlice(documents: DataFrame): DataFrame = {
    val n = mlPhrases.length
    val pick = pmod(col("doc_id"), lit(n.toLong))
    def chain(f: ((String, String)) => String) =
      mlPhrases.zipWithIndex.foldLeft(lit(null).cast("string")) {
        case (acc, (lp, i)) => when(pick === i, lit(f(lp))).otherwise(acc)
      }
    documents
      .select(col("doc_id"), chain(_._1).as("lang"),
        chain(_._2).as("phrase"))
      .select(col("doc_id"), col("lang"),
        trim(expr(
          "repeat(phrase || ' ', CAST(1 + doc_id % 4 AS INT))")).as("text"),
        concat(lit("ml_"), col("lang")).as("source"))
  }

  /** E12 over the multilingual slice: TRAIN byte-level merges on
    * non-ASCII text and report per-doc token stats under them — the
    * row that proves training itself (pair keys, tie-breaks, the
    * whole recursive replay) is byte-exact beyond ASCII.
    */
  def textBpeUtf8(documents: DataFrame): DataFrame =
    textBpe(multilingualSlice(documents))

  /** E12 encode over the multilingual slice under the FROZEN
    * (ASCII-corpus-trained) merges — non-Latin words segment to their
    * raw bytes (no merge fires), so n_bpe = UTF-8 byte count per
    * word: high fertility, but REAL counts, not `<unk>` fiction.
    */
  def textBpeEncodeUtf8(documents: DataFrame): DataFrame =
    textBpeEncode(multilingualSlice(documents))

  /** E12 encode-to-ids over the multilingual slice — the id stream a
    * loader would see on non-ASCII text: every id is a real base-byte
    * or merge id (the unk sentinel is unreachable, spec-pinned).
    */
  def textBpeIdsUtf8(documents: DataFrame): DataFrame =
    textBpeIds(multilingualSlice(documents))

  /** E13 over the multilingual slice: per-language fertility that is
    * now MEANINGFUL for non-Latin scripts — under the byte-level base
    * vocab the chars-per-token ratio measures real byte fragmentation
    * (e.g. a CJK char costs 3 base tokens until merges learn it), not
    * an `<unk>` collapse.
    */
  def corpusTokenizerStatsUtf8(documents: DataFrame): DataFrame =
    corpusTokenizerStats(multilingualSlice(documents))

  /** E13: tokenizer fertility report per language — the number a
    * multilingual pretraining mix checks before committing a
    * tokenizer: chars-per-token and tokens-per-word under the FROZEN
    * BPE (E12's kernel, the loader's own units) expose which
    * languages the vocab over-fragments — fertility regressions are
    * how low-resource languages silently eat token budget. One
    * partial-agg shuffle over |langs| groups; the count kernel is the
    * same codegen expression every packing row runs, and the word
    * count is the corpus_budget whitespace proxy, so the ratio
    * compares the two counting rules the pipeline already uses.
    */
  def corpusTokenizerStats(documents: DataFrame): DataFrame =
    TextOps.tokenizerStats(documents, "lang", "text",
        graft.operators.Bpe.frozenMerges)
      .orderBy("lang")

  /** E14: doc-length distribution per source, in frozen-BPE tokens —
    * the number that sizes every loader decision downstream: the
    * packing budget (C11), chunk window/stride (C27), and shard
    * granularity (C33) are all chosen against the length percentiles
    * of the corpus they'll cut. Exact interpolated percentiles (the
    * A15 `percentile`/`quantile_cont` cross-engine pairing); per-group
    * exact percentile buffers hold that group's values, so at 100 TB
    * switch to `approx_percentile` — the A15 posture — while the gate
    * stays exact.
    */
  def corpusLengthStats(documents: DataFrame, exact: Boolean = true)
      : DataFrame =
    TextOps.lengthStats(documents, "source", "text",
        graft.operators.Bpe.frozenMerges, exact)
      .orderBy("source")

  /** C28: deterministic proportional interleave — the 3:2:1 mixture of
    * [[corpusMix]] expressed as a training-order SCHEDULE: every doc
    * gets a 0-based global position such that any prefix of the stream
    * holds sources in ~3:2:1 proportion, pseudorandomly shuffled
    * within each source ([[Sampling.interleaveOrder]]: ONE in-stratum
    * two-phase rank + a map-side closed form — the second global
    * exchange the naive double-window form pays never runs).
    */
  def corpusInterleave(documents: DataFrame): DataFrame = {
    Sampling.interleaveOrder(documents, "doc_id", "source", mixWeights,
        seed = 42L)
      .orderBy("ord")
  }

  /** C32: the packed-sequence token TENSOR rows under the frozen
    * tokenizer ([[Packing.packTokenIds]]) — seq_id, n_tokens, first /
    * last id and the order-sensitive `id_wsum` checksum (the C27
    * rule), so each 2048-token training row's CONTENT is cross-engine
    * checked; the id arrays stay engine-side (PackingSpec pins exact
    * gather-vs-concatenation equality).
    */
  def corpusPackIds(documents: DataFrame, budget: Long = 2048L)
      : DataFrame =
    packIdsReport(documents, budget, eos = false)

  /** C32c: [[corpusPackIds]] under the GPT-2/NeoX packing convention —
    * every document's id stream ends with an EOS separator
    * ([[graft.functions.bpe.eosId]], the first id above the text
    * vocab) BEFORE the concat-then-chunk layout, so packed sequences
    * carry learnable document boundaries (the token
    * attention-reset masking and loss-masking key on). Same plan as
    * C32 — the separator is one map-side `concat` on the pinned id
    * arrays — and the oracle replays it by unioning one EOS row per
    * document (position = that doc's token count) into the id stream,
    * so every boundary's placement is cross-engine-checked through
    * first/last-id and the order-sensitive checksum.
    */
  def corpusPackIdsEos(documents: DataFrame, budget: Long = 2048L)
      : DataFrame =
    packIdsReport(documents, budget, eos = true)

  private def packIdsReport(documents: DataFrame, budget: Long,
                            eos: Boolean): DataFrame =
    Packing.packTokenIds(
      documents.select(col("doc_id"),
        graft.functions.bpe.encodeIds(col("text"),
          graft.operators.Bpe.frozenMerges).as("ids")),
      "doc_id", "ids", budget,
      eosId = if (eos)
        Some(graft.functions.bpe.eosId(graft.operators.Bpe.frozenMerges))
      else None)
      .select(col("seq_id"), col("n_tokens"),
        element_at(col("ids"), 1).as("first_id"),
        element_at(col("ids"), -1).as("last_id"),
        expr("aggregate(zip_with(ids, sequence(1, size(ids)), " +
          "(x, i) -> CAST(x AS BIGINT) * i), CAST(0 AS BIGINT), " +
          "(acc, v) -> acc + v)").as("id_wsum"))
      .orderBy("seq_id")

  /** C31's registered two-phase schedule — ONE definition shared with
    * the oracle builder (SparkEntry) so the two cannot drift: phase 1
    * ("web_heavy") streams 70% of src0-9 and 50% of src10-19 under the
    * [[mixWeights]] 3:2:1 mixture; phase 2 ("anneal") streams the
    * REMAINING 30% of the five high-weight sources plus another 50% of
    * src10/src11 under a quality-boosted 1:3 mixture — the staged-data
    * curriculum real pretraining runs end on. src12-19's second halves
    * are leftover (never scheduled), pinning the drop semantics.
    */
  private[graft] val annealPhases: Seq[Sampling.AnnealPhase] = Seq(
    Sampling.AnnealPhase("web_heavy", mixWeights,
      (0 until 20).map(i =>
        s"src$i" -> (if (i < 10) 0.7 else 0.5)).toMap),
    Sampling.AnnealPhase("anneal",
      (0 until 5).map(i => s"src$i" -> 1) ++
        Seq("src10" -> 3, "src11" -> 3),
      ((0 until 5).map(i => s"src$i" -> 0.3) ++
        Seq("src10" -> 0.5, "src11" -> 0.5)).toMap))

  /** C31: the multi-phase annealed schedule ([[Sampling.annealOrder]])
    * under [[annealPhases]] — still ONE rank exchange however many
    * phases the curriculum has.
    */
  def corpusAnneal(documents: DataFrame): DataFrame =
    Sampling.annealOrder(documents, "doc_id", "source", annealPhases,
        seed = 42L)
      .orderBy("pos")

  /** C31 ∘ C11: pack the ANNEALED stream — the full staged-curriculum
    * run laid out as training sequences: [[corpusAnneal]]'s schedule
    * assigns each doc its global position (phases concatenated), then
    * C11's prefix sum cuts 2048-token sequences in THAT order;
    * doc_id/source/phase ride the `carryCols=` passthrough. Same
    * composed shape as C30: one rank exchange (the anneal's only
    * shuffle) + one packing exchange.
    */
  def corpusPackAnnealed(documents: DataFrame,
                         budget: Long = 2048L): DataFrame = {
    val ordered = Sampling
      .annealOrder(documents, "doc_id", "source", annealPhases,
        seed = 42L)
      .join(documents.select(col("doc_id"), bpeTokenCount.as("n_tokens")),
        Seq("doc_id"))
    Packing.packSequences(
      ordered.select(col("pos"), col("n_tokens"), col("doc_id"),
        col("source"), col("phase")),
      "pos", "n_tokens", budget,
      carryCols = Seq("doc_id", "source", "phase"))
      .orderBy("pos")
  }

  /** C30: pack the INTERLEAVED stream — a real pretraining run packs
    * sequences in TRAINING order, not doc_id order: C28's schedule
    * assigns each doc its global position, then C11's two-phase prefix
    * sum lays docs back-to-back in THAT order (packSequences is
    * order-agnostic — `ord` is simply its idCol; doc_id/source ride
    * the carryCols slot, so no corpus-wide join-back). The composed
    * plan is one interleave exchange + one packing exchange — the
    * closed-form interleave keeps the naive schedule's second
    * total-order shuffle out of the composition too.
    */
  def corpusPackInterleaved(documents: DataFrame,
                            budget: Long = 2048L): DataFrame = {
    val ordered = Sampling
      .interleaveOrder(documents, "doc_id", "source", mixWeights,
        seed = 42L)
      .join(documents.select(col("doc_id"), bpeTokenCount.as("n_tokens")),
        Seq("doc_id"))
    Packing.packSequences(
      ordered.select(col("ord"), col("n_tokens"), col("doc_id"),
        col("source")),
      "ord", "n_tokens", budget, carryCols = Seq("doc_id", "source"))
      .orderBy("ord")
  }

  /** C13: domain-mixture sampling — sources src0-4:src5-9:src10-19
    * targeted at 3:2:1 per-document proportions; the binding domain
    * caps the total and every source is deterministically downsampled
    * to its exact mixture share (no upsampling).
    */
  def corpusMix(documents: DataFrame): DataFrame = {
    Sampling.mixtureSample(documents, "doc_id", "source",
        mixWeights.map { case (s, w) => s -> w.toLong }, seed = 11L)
      .select("doc_id", "source")
      .orderBy("doc_id")
  }

  /** C21: token-budget mixture — every source capped at 800 TOKENS
    * (not documents) in deterministic salted-hash priority order; the
    * doc that crosses the line is kept, everything after it drops.
    * Exercises both [[Sampling.budgetSelect]] paths on the shipped
    * corpora: at sf0.001 sources total under budget (keep-all), at
    * sf0.01+ every source crosses the line inside a boundary bucket.
    */
  def corpusBudget(documents: DataFrame): DataFrame =
    Sampling.budgetSelect(
      documents.select(col("doc_id"), col("source"),
        wsTokenCount.as("n_tokens")),
      "doc_id", "source", "n_tokens", budget = 800L, seed = 42L)
      .orderBy("doc_id")

  /** C10: end-to-end corpus curation — the composed pipeline a
    * training-data run executes: quality-score inline at the scan
    * (no intermediate join), keep docs ≥ 0.7, drop docs contaminated
    * by the eval slice (C12's gate, broadcast gram probe + one
    * left-anti join on the contaminated id set), collapse normalized
    * exact dups to the min-id canonical via one `min_by` aggregation
    * (map-side partial, single shuffle on the fingerprint), then
    * deterministic 80/10/10 split. Every stage is an operator already
    * oracle-checked in isolation; this entry verifies the composition.
    */
  def corpusCurate(documents: DataFrame): DataFrame =
    corpusCurate(documents, fuzzy = false)

  /** `fuzzy = true` adds the near-dup stage a real corpus pass runs
    * (C3 + C7 composed): MinHash-LSH verified pairs at Jaccard ≥ 0.7
    * over the corpus → transitive clusters → only each cluster's
    * canonical min-id member may survive. The drop set scales with the
    * corpus' duplication fraction (30-50% on real web corpora), so its
    * anti join carries NO broadcast hint — unlike the decontamination
    * gate's, whose eval slice is fixed-size; AQE picks the join side.
    * Registered as its own query (`corpus_curate_fuzzy`) so the base
    * composition's bench row stays comparable across rounds.
    */
  def corpusCurate(documents: DataFrame, fuzzy: Boolean): DataFrame = {
    val isEval = col("doc_id") % 7 === 0 && col("doc_id") < 50000
    val contaminated = Dedup.decontaminate(
      documents.filter(!isEval), documents.filter(isEval),
      "doc_id", "text", k = 5, minHits = 1L).select("doc_id")
    val base = documents.filter(!isEval)
      // EvalOnce: without the barrier PushDownPredicates inlines the
      // quality kernel into a filter BELOW this projection and the scan
      // stage evaluates it twice per row (r19; guide §4.4) — the barrier
      // pins it to one evaluation, the filter runs on the attribute
      .withColumn("quality",
        graft.functions.EvalOnce(TextOps.qualityScore(col("text"))))
      .filter(col("quality") >= 0.7)
      .join(broadcast(contaminated), Seq("doc_id"), "left_anti")
      .groupBy(md5(Dedup.normalized(col("text"))).as("fp"))
      .agg(min_by(struct(col("doc_id"), col("lang"), col("quality")),
        col("doc_id")).as("c"))
      .select(col("c.doc_id").as("doc_id"), col("c.lang").as("lang"),
        col("c.quality").as("quality"))
    val survivors = if (!fuzzy) base else {
      val pairs = Dedup.minhashLsh(documents, "doc_id", "text",
        k = 3, perms = 128, bands = 16, threshold = 0.7)
      val nonCanonical = GraphOps.connectedComponents(pairs, "doc_a", "doc_b")
        .filter(col("node") =!= col("component"))
        .select(col("node").as("doc_id"))
      base.join(nonCanonical, Seq("doc_id"), "left_anti")
    }
    Sampling.deterministicSplit(survivors, "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), seed = 42L)
      .orderBy("doc_id")
  }

  /** C11: GPT-style sequence packing — docs laid back-to-back in doc_id
    * order and cut into 2048-token training sequences via the
    * distributed two-phase prefix sum in [[Packing.packSequences]]
    * (range partition → parallel partials → O(partitions) driver scan →
    * parallel finish; no global single-task window). Counts are in
    * TOKENIZER units by default ([[bpeTokenCount]], the frozen-BPE
    * kernel — what the training loader's tokenizer will actually
    * produce); pass `tokenCounts=` to pack under a different counting
    * rule.
    */
  def seqPacking(documents: DataFrame, budget: Long = 2048L,
                 tokenCounts: org.apache.spark.sql.Column = bpeTokenCount)
      : DataFrame =
    Packing.packSequences(
      documents.select(col("doc_id"),
        tokenCounts.as("n_tokens")),
      "doc_id", "n_tokens", budget)
      .orderBy("doc_id")

  /** C11b: the loader-facing view of seq_packing — docs straddling a
    * 2048-token cut split into per-sequence continuation spans, in the
    * same tokenizer units as [[seqPacking]].
    */
  def seqSpans(documents: DataFrame, budget: Long = 2048L,
               tokenCounts: org.apache.spark.sql.Column = bpeTokenCount)
      : DataFrame =
    Packing.sequenceSpans(
      documents.select(col("doc_id"),
        tokenCounts.as("n_tokens")),
      "doc_id", "n_tokens", budget)
      .orderBy("seq_id", "offset")

  /** C36: per-sequence packing diagnostics — the attention-boundary
    * census of every 2048-token training row the C11 packing
    * produces: how many documents it spans (n_docs − 1 cross-doc
    * boundaries an attention mask must cut), whether it opens
    * mid-document (`carry_in`: the previous row's tail continues
    * here), and its token fill. The distribution drives the
    * block-size / masking decision a loader makes; computed as one
    * |seqs|-group partial agg over the C11b span table — no new
    * shuffle shape.
    */
  def packingStats(documents: DataFrame, budget: Long = 2048L)
      : DataFrame =
    Packing.spanCensus(seqSpans(documents, budget), "doc_id")
      .orderBy("seq_id")

  /** C27: token-window chunking in FROZEN-BPE id units — each doc's
    * [[graft.functions.bpe.encodeIds]] stream cut into overlapping
    * `chunkTok`-token windows every `stride` tokens
    * ([[Packing.tokenChunks]], a map-only plan: no shuffle). The
    * fixture sizes (8/6) give the sf corpus' ~125-token docs ~20
    * overlapping windows each, so multi-chunk paths are exercised
    * densely; a real RAG indexer passes e.g. (512, 384). The query emits the scalar
    * chunk summary (shape + order-sensitive id_wsum content check) —
    * the `chunk` id arrays themselves stay engine-side (spec-checked
    * against driver-recomputed slices).
    */
  def corpusChunk(documents: DataFrame, chunkTok: Int = 8,
                  stride: Int = 6): DataFrame =
    Packing.tokenChunks(
      documents.select(col("doc_id"),
        graft.functions.bpe.encodeIds(col("text"),
          graft.operators.Bpe.frozenMerges).as("ids")),
      "doc_id", "ids", chunkTok, stride)
      .drop("chunk")
      .orderBy("doc_id", "chunk_idx")

  /** C26: the composed export pipeline a training-data run actually
    * ships — fuzzy curation (C10) → token counting → sequence packing
    * (C11) over the survivor stream → deterministic shuffle-shard
    * assignment (C19) — as ONE measured query, proving the stages
    * compose without a hidden materialization cliff. The survivor set
    * (ids + metadata, never text) materializes ONCE and fans into all
    * three consumers — without it the curation subtree (LSH +
    * components + quality) would re-execute three times; packing's
    * two-phase prefix sum and the shuffle's two-phase rank keep every
    * stage distributed. The file-writing twin is
    * [[graft.operators.Sampling.exportShards]], spec-reconciled
    * against this query's token accounting.
    */
  def corpusExport(documents: DataFrame,
                   tokenCounts: org.apache.spark.sql.Column = bpeTokenCount)
      : DataFrame = {
    // localCheckpoint, not persist: the curation subtree executes once
    // (packing/shuffle materialize their inputs at construction
    // anyway), lineage truncates for all three consumers, and the
    // blocks free when the returned plan is GC'd — a CacheManager
    // persist would pin one copy per invocation for the session
    // lifetime (bench reruns would stack them)
    val survivors = corpusCurate(documents, fuzzy = true).localCheckpoint()
    // Survivor-first token counting: join the (cheap) id set to the raw
    // docs BEFORE projecting the BPE count, so the tokenizer kernel —
    // the plan's most expensive per-row expression — runs only on
    // survivor rows. Projecting the count off `documents` first would
    // tokenize the full corpus and then discard 30-50% of the work at
    // the join (on a web corpus that is 1.4-2x wasted compute).
    // Expressions evaluate where declared: Catalyst's ColumnPruning
    // moves attribute reads, not computed projections, below the join.
    val tokens = survivors.select("doc_id")
      .join(documents, Seq("doc_id"))
      .select(col("doc_id"), tokenCounts.as("n_tokens"))
    val packed = Packing.packSequences(
      tokens, "doc_id", "n_tokens", budget = 2048L)
    val sharded = Sampling.shuffleShard(survivors.select("doc_id"),
      "doc_id", shards = 8, seed = 42L)
    survivors.join(packed, Seq("doc_id")).join(sharded, Seq("doc_id"))
      .select(col("doc_id"), col("lang"), col("quality"), col("split"),
        col("n_tokens"), col("start_tok"), col("seq_id"), col("offset"),
        col("shard"), col("pos"))
      .orderBy("doc_id")
  }

  /** C34 (= C10 ∘ C31 ∘ C32 ∘ C33): the end-to-end TENSOR export — the
    * artifact a training run actually ships, measured as ONE plan:
    * fuzzy curation picks the survivors, the annealed curriculum
    * assigns each survivor its global schedule position, the frozen
    * tokenizer's id streams are laid back-to-back in THAT order and
    * cut into `budget`-token tensor rows, and the rows land in
    * `shards` contiguous-range shard files with a manifest. The
    * returned frame is the per-shard summary aggregated FROM THE
    * WRITTEN FILES (shard, n_seqs, n_tokens, first_seq, last_seq,
    * ids_wsum) — file reconciliation and oracle row in one: the
    * DuckDB replay recomputes the same numbers from the logical
    * composition, so a drifted write would hash-mismatch.
    *
    * Scale shape: survivors materialize once (localCheckpoint) and
    * the BPE kernel runs on survivor rows only (the corpus_export
    * rule); the anneal contributes its ONE rank exchange; packing is
    * C32's span-join gather (output-proportional, per-group state ≤
    * budget); sharding is a pure range split. No stage re-ranks or
    * re-tokenizes what an earlier stage already ordered.
    */
  def corpusExportIds(documents: DataFrame, outDir: String,
                      shards: Int = 4, budget: Long = 2048L)
      : DataFrame =
    exportIdsReport(documents, outDir, shards, budget, eos = false)

  /** C34b: [[corpusExportIds]] under the C32c packing convention —
    * every scheduled document's id stream ends with the EOS separator
    * before the layout, so the SHIPPED shard files carry learnable
    * document boundaries (what a production pretokenized export
    * actually contains). Same one-plan composition; the oracle
    * extends the replayed survivor id stream with one EOS row per
    * SCHEDULED doc (apos — leftover survivors stay boundary-free
    * because they are never laid out) and re-derives the shard
    * manifest, so boundary placement is checked through every
    * shard's token count and order-sensitive checksum.
    */
  def corpusExportIdsEos(documents: DataFrame, outDir: String,
                         shards: Int = 4, budget: Long = 2048L)
      : DataFrame =
    exportIdsReport(documents, outDir, shards, budget, eos = true)

  private def exportIdsReport(documents: DataFrame, outDir: String,
                              shards: Int, budget: Long,
                              eos: Boolean): DataFrame = {
    val survivors = corpusCurate(documents, fuzzy = true)
      .select("doc_id").localCheckpoint()
    val sched = Sampling.annealOrder(
      survivors.join(documents, Seq("doc_id")),
      "doc_id", "source", annealPhases, seed = 42L)
    // survivor-first tokenization: join the schedule (survivor ids)
    // to the raw docs BEFORE projecting the encode kernel
    val withIds = sched.select(col("pos"), col("doc_id"))
      .join(documents, Seq("doc_id"))
      .select(col("pos"),
        graft.functions.bpe.encodeIds(col("text"),
          graft.operators.Bpe.frozenMerges).as("ids"))
    val packed = Packing.packTokenIds(withIds, "pos", "ids", budget,
      eosId = if (eos)
        Some(graft.functions.bpe.eosId(graft.operators.Bpe.frozenMerges))
      else None)
    Packing.exportTokenShards(packed, outDir, shards)
    documents.sparkSession.read.parquet(outDir)
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_seqs"),
        sum(col("n_tokens")).as("n_tokens"),
        min(col("seq_id")).as("first_seq"),
        max(col("seq_id")).as("last_seq"),
        sum(expr("aggregate(zip_with(ids, sequence(1, size(ids)), " +
          "(x, i) -> CAST(x AS BIGINT) * i), CAST(0 AS BIGINT), " +
          "(acc, v) -> acc + v)")).as("ids_wsum"))
      .orderBy("shard")
  }

  /** C9 (oracle graph for C7's operator): connected components of the
    * high-quantity co-purchase graph — parts linked when one order
    * takes ≥48 units of both. Multi-hop (components up to ~10 parts
    * span many orders at sf0.01), so it exercises the transitive
    * closure, and the edge set is plain SQL so DuckDB can replay it
    * with a recursive CTE.
    */
  def graphComponents(lineitem: DataFrame): DataFrame = {
    val picked = lineitem.filter(col("l_quantity") >= 48)
      .select("l_orderkey", "l_partkey")
    val edges = picked.as("a").join(picked.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .select(col("a.l_partkey").as("src"), col("b.l_partkey").as("dst"))
    GraphOps.connectedComponents(edges, "src", "dst")
      .select(col("node").as("part_id"), col("component").as("component_id"))
      .orderBy("part_id")
  }

  // ---- D. similarity search -------------------------------------------

  private def querySet(embeddings: DataFrame): DataFrame =
    embeddings.filter(col("vec_id") < 10)

  /** D1: exact top-5 cosine neighbors for queries vec_id < 10. */
  def knnBruteforce(embeddings: DataFrame): DataFrame =
    Knn.bruteForce(embeddings, querySet(embeddings), "vec_id", "embedding", k = 5)
      .withColumn("cosine", round(col("cosine"), 6))
      .orderBy("query_id", "rank")

  /** D10: radius search — every corpus vector with cosine ≥ 0.3 of
    * each query (the synthetic corpus' max cosine is ~0.5, so 0.3
    * returns a meaningful, bounded set). Shuffle-free plan: broadcast
    * queries, fused kernel, threshold in the scan stage.
    */
  def knnRange(embeddings: DataFrame): DataFrame =
    Knn.rangeSearch(embeddings, querySet(embeddings), "vec_id",
        "embedding", tau = 0.3)
      .withColumn("cosine", round(col("cosine"), 6))
      .orderBy("query_id", "neighbor_id")

  /** D10b: IVF-pruned radius search — same τ and queries as
    * [[knnRange]], so the two registered rows ARE the radius-recall
    * measurement (every returned pair is exact-cosine verified; only
    * unprobed-cell neighbors are missed).
    */
  def knnRangeIvf(embeddings: DataFrame): DataFrame =
    Knn.rangeSearchIvf(embeddings, querySet(embeddings), "vec_id",
        "embedding", tau = 0.3)
      .withColumn("cosine", round(col("cosine"), 6))
      .orderBy("query_id", "neighbor_id")

  /** One persisted IVF×PQ layout per sf dir for [[knnRangeIndexed]]
    * ([[HModel.ensureFixtureDir]]). The coarse table is the FROZEN
    * [[Knn.strideCoarse]] — identical to the one D10b derives in-plan —
    * so the registered row's answers equal knn_range_ivf's and the
    * plain-SQL oracle replays the stored assignment without replaying a
    * k-means train.
    */
  private[graft] def ensureKnnIndexDir(embeddings: DataFrame,
                                       sfDir: String): String =
    HModel.ensureFixtureDir(embeddings.sparkSession, "knnidx_v1", sfDir)(
      Knn.buildIvfPqIndex(embeddings, "vec_id", "embedding", _,
        dim = EmbeddingDim,
        coarse = Some(Knn.strideCoarse(embeddings, "vec_id", "embedding"))))

  /** D10c registered: radius search off the PERSISTED index — the
    * production path [[knnRangeIvf]]'s scaladoc promises. The
    * corpus→cell assignment (D10b's corpus-linear per-call cost, the
    * suite's worst ratio100) is read back from the layout; a query
    * batch pays only its probes + the pruned `cell_id=` partition
    * read + exact-cosine verification. Same τ, queries, and stored
    * coarse as D10b ⇒ identical answers (KnnSpec pins parity), so the
    * oracle SQL is D10b's verbatim.
    */
  def knnRangeIndexed(embeddings: DataFrame, sfDir: String): DataFrame =
    Knn.rangeSearchIndexed(embeddings.sparkSession,
        ensureKnnIndexDir(embeddings, sfDir), querySet(embeddings),
        "vec_id", "embedding", dim = EmbeddingDim, tau = 0.3,
        corpus = embeddings)
      .withColumn("cosine", round(col("cosine"), 6))
      .orderBy("query_id", "neighbor_id")

  /** D2: hyperplane-LSH ANN, same queries (recall vs D1 ≥ 0.5 in the
    * spec; 32 bands × 6 planes measures 0.88 at sf0.001, 0.90 at
    * sf0.01).
    */
  def knnLsh(embeddings: DataFrame): DataFrame =
    Knn.lsh(embeddings, querySet(embeddings), "vec_id", "embedding",
        dim = EmbeddingDim, k = 5, bands = 32, planesPerBand = 6)
      .withColumn("cosine", round(col("cosine"), 6))
      .orderBy("query_id", "rank")

  /** D7: label-constrained ANN — neighbors must share the query's
    * `label`; the label is fused into the LSH bucket key so candidates
    * are born filtered.
    */
  def knnFiltered(embeddings: DataFrame): DataFrame =
    Knn.filteredLsh(embeddings, querySet(embeddings), "vec_id",
        "embedding", "label", dim = EmbeddingDim, k = 5, bands = 48)
      .withColumn("cosine", round(col("cosine"), 6))
      .orderBy("query_id", "rank")

  /** D9: recall@5 of the D2 LSH index against exact truth — the
    * continuous index-quality report.
    */
  def knnRecall(embeddings: DataFrame): DataFrame = {
    val q = querySet(embeddings)
    Knn.recall(
      Knn.bruteForce(embeddings, q, "vec_id", "embedding", k = 5),
      Knn.lsh(embeddings, q, "vec_id", "embedding",
        dim = EmbeddingDim, k = 5, bands = 32, planesPerBand = 6))
  }

  /** D9b: recall@5 vs nProbe ∈ {1, 2, 4, 8} over the D3 IVF geometry
    * in ONE plan ([[Knn.recallSweep]] — assignment and exact cosine
    * run once at the widest setting, narrower settings are probe-rank
    * filters). The measured recall-vs-cost curve for the main IVF
    * knob; recall per query is non-decreasing in n_probe by
    * construction (candidate sets nest — spec-pinned).
    */
  def knnRecallSweep(embeddings: DataFrame): DataFrame =
    Knn.recallSweep(embeddings, querySet(embeddings), "vec_id",
      "embedding", k = 5, nProbes = Seq(1, 2, 4, 8), stride = 50)

  /** D9c: the same sweep off the PERSISTED fixture index — the
    * serving-side cost posture: the store's layout IS the corpus→cell
    * assignment (the in-plan sweep's dominant term at scale), so a
    * sweep reads only probed `cell_id=` partitions plus exact vectors
    * for the rescore. The fixture is built under the frozen
    * [[graft.operators.Knn.strideCoarse]], so answers equal D9b's
    * verbatim and the oracle SQL is knn_recall_sweep's unchanged.
    */
  def knnRecallSweepIndexed(embeddings: DataFrame, sfDir: String)
      : DataFrame =
    Knn.recallSweepIndexed(embeddings.sparkSession,
      ensureKnnIndexDir(embeddings, sfDir), querySet(embeddings),
      "vec_id", "embedding", dim = EmbeddingDim, k = 5,
      corpus = embeddings, nProbes = Seq(1, 2, 4, 8))

  /** D6: token-level LSH candidates + exact MaxSim rescore; the score
    * is an integer-grid sum, so the only float op in the output is one
    * exact division.
    */
  def knnMaxsim(embeddings: DataFrame): DataFrame =
    Knn.maxSim(embeddings, querySet(embeddings), "vec_id", "embedding",
        dim = EmbeddingDim, k = 5)
      .withColumn("maxsim", round(col("maxsim"), 6))
      .orderBy("query_id", "rank")

  /** D11: scalar-quantized (SQ8) ANN — per-dimension affine 8-bit
    * codes, asymmetric reconstruction scoring, exact re-rank. Training
    * is one dim-group min/max pass, so the row measures the
    * compressed-scan + shortlist cost.
    */
  def knnSq(embeddings: DataFrame): DataFrame =
    Knn.sq(embeddings, querySet(embeddings), "vec_id", "embedding",
        dim = EmbeddingDim, k = 5)
      .withColumn("cosine", round(col("cosine"), 6))
      .orderBy("query_id", "rank")

  /** D11b registered: the SQ8 flat scan off the PERSISTED byte-codes
    * store — the read path whose IO matches the 8× memory claim (the
    * in-plan [[knnSq]] models only the arithmetic), built once per sf
    * dir ([[HModel.ensureFixtureDir]]) from the full embeddings table.
    * Same grid, codes, queries, and shortlist rules as D11 ⇒ identical
    * answers (KnnSpec pins parity), oracle = knn_sq's SQL verbatim.
    */
  def knnSqIndexed(embeddings: DataFrame, sfDir: String): DataFrame =
    Knn.searchSqIndex(embeddings.sparkSession,
        HModel.ensureFixtureDir(embeddings.sparkSession, "sqidx_v1", sfDir)(
          Knn.buildSqIndex(embeddings, "vec_id", "embedding", _,
            dim = EmbeddingDim)),
        querySet(embeddings),
        "vec_id", "embedding", dim = EmbeddingDim, k = 5,
        corpus = embeddings)
      .withColumn("cosine", round(col("cosine"), 6))
      .orderBy("query_id", "rank")

  /** D3: IVF cell-probe ANN, same queries. nProbe = 5 of the ~n/50
    * cells scans ~5% of the corpus for recall 0.74–0.76 vs brute force
    * at sf0.001/sf0.01 (spec floor 0.5).
    */
  def knnIvf(embeddings: DataFrame): DataFrame =
    Knn.ivf(embeddings, querySet(embeddings), "vec_id", "embedding",
        k = 5, stride = 50, nProbe = 5)
      .withColumn("cosine", round(col("cosine"), 6))
      .orderBy("query_id", "rank")

  /** D3b: IVF with a TRAINED full-vector k-means coarse quantizer —
    * the same Lloyd machinery as D4b run with m = 1 (one "subspace" =
    * the whole vector), 16 cells, probe 5. The production coarse
    * quantizer: cells follow the data distribution instead of id
    * strides, and work on any id space.
    */
  def knnIvfTrained(embeddings: DataFrame): DataFrame = {
    val cb = Knn.kmeansSubCodebooks(embeddings, "vec_id", "embedding",
      dim = EmbeddingDim, m = 1, ksub = 16, iters = 2, trainMod = 2)
    Knn.ivf(embeddings, querySet(embeddings), "vec_id", "embedding",
        k = 5, nProbe = 5,
        coarse = Some(cb.select(col("cell_id"),
          col("cvec").as("centroid"))))
      .withColumn("cosine", round(col("cosine"), 6))
      .orderBy("query_id", "rank")
  }

  /** D4: product-quantization ADC with exact re-rank, 8 subspaces of 8
    * dims, 16-entry sub-codebooks, 4x overscan.
    */
  def knnPq(embeddings: DataFrame): DataFrame =
    Knn.pq(embeddings, querySet(embeddings), "vec_id", "embedding",
        dim = 64, k = 5, m = 8, ksub = 16, overscan = 4)
      .withColumn("cosine", round(col("cosine"), 6))
      .orderBy("query_id", "rank")

  /** D4b: PQ with TRAINED k-means sub-codebooks (2 Lloyd iterations on
    * the id%2 sample, quantized-sum determinism) — the production path
    * for arbitrary id spaces; same search machinery as [[knnPq]].
    * trainMod=2 because the synthetic corpus is small and structureless
    * (the hardest k-means case): recall@5 vs brute force measures 0.46
    * at sf0.001 / higher at sf0.01, vs 0.36 with a quarter sample. A
    * real (clustered) corpus trains well on far smaller fractions.
    */
  def knnPqTrained(embeddings: DataFrame): DataFrame =
    Knn.pqTrained(embeddings, querySet(embeddings), "vec_id", "embedding",
        dim = 64, k = 5, m = 8, ksub = 16, iters = 2, trainMod = 2,
        overscan = 4)
      .withColumn("cosine", round(col("cosine"), 6))
      .orderBy("query_id", "rank")

  /** D5: IVF × PQ — probe 5 coarse cells, ADC-scan only their codes,
    * exact re-rank. The scale path: per-query work is the probed
    * fraction of the corpus, not [[knnPq]]'s full flat scan.
    */
  def knnIvfPq(embeddings: DataFrame): DataFrame =
    Knn.ivfpq(embeddings, querySet(embeddings), "vec_id", "embedding",
        dim = 64, k = 5, stride = 50, nProbe = 5, m = 8, ksub = 16,
        overscan = 4)
      .withColumn("cosine", round(col("cosine"), 6))
      .orderBy("query_id", "rank")

  /** D5c: IVF × PQ with BOTH quantizers trained — the full production
    * composition in one plan: a k-means coarse quantizer (the D3b
    * machinery, m = 1, 16 cells) AND k-means sub-codebooks (the D4b
    * machinery, 8×16), feeding the D5 probed-cell ADC search. Works on
    * any id space; the oracle replays both trainings (two prefixed
    * Lloyd CTE chains) plus the search.
    */
  def knnIvfPqTrained(embeddings: DataFrame): DataFrame = {
    val coarse = Knn.kmeansSubCodebooks(embeddings, "vec_id", "embedding",
        dim = EmbeddingDim, m = 1, ksub = 16, iters = 2, trainMod = 2)
      .select(col("cell_id"), col("cvec").as("centroid"))
    val cbs = Knn.kmeansSubCodebooks(embeddings, "vec_id", "embedding",
      dim = EmbeddingDim, m = 8, ksub = 16, iters = 2, trainMod = 2)
    Knn.ivfpq(embeddings, querySet(embeddings), "vec_id", "embedding",
        dim = EmbeddingDim, k = 5, nProbe = 5, m = 8, ksub = 16,
        overscan = 4, coarse = Some(coarse), codebooks = Some(cbs))
      .withColumn("cosine", round(col("cosine"), 6))
      .orderBy("query_id", "rank")
  }

  /** D5b: IVF × PQ with residual encoding (FAISS IVFADC) — same probe
    * structure, codes taken over `v − centroid(cell)` for finer ADC
    * resolution at the same code size.
    */
  def knnIvfPqRes(embeddings: DataFrame): DataFrame =
    Knn.ivfpqResidual(embeddings, querySet(embeddings), "vec_id",
        "embedding", dim = 64, k = 5, stride = 50, nProbe = 5, m = 8,
        ksub = 16, overscan = 4)
      .withColumn("cosine", round(col("cosine"), 6))
      .orderBy("query_id", "rank")

  /** D5b-trained: the fully-trained residual IVFADC — k-means coarse
    * quantizer (m = 1, 16 cells), then residual-space sub-codebooks
    * fit by the same Lloyd machinery over [[Knn.residuals]] (training
    * in the space the codes actually live in, FAISS's
    * `train_residual`), feeding the per-(query, probed-cell) ADC
    * search. The last D-family member to gain an oracle entry: the
    * DuckDB replay composes the coarse Lloyd chain, the residual
    * projection, a SECOND Lloyd chain over residual subvectors, and
    * the probed-cell ADC — all byte-exact.
    */
  def knnIvfPqResTrained(embeddings: DataFrame): DataFrame =
    Knn.ivfpqResidualTrained(embeddings, querySet(embeddings), "vec_id",
        "embedding", dim = EmbeddingDim, k = 5, nProbe = 5, m = 8,
        ksub = 16, nCells = 16, iters = 2, trainMod = 2, overscan = 4)
      .withColumn("cosine", round(col("cosine"), 6))
      .orderBy("query_id", "rank")

  // ---- E. text analysis -----------------------------------------------

  def textStats(documents: DataFrame): DataFrame =
    TextOps.stats(documents, "doc_id", "text").orderBy("doc_id")

  def textQuality(documents: DataFrame): DataFrame =
    TextOps.quality(documents, "doc_id", "text").orderBy("doc_id")

  def textLangId(documents: DataFrame): DataFrame =
    TextOps.langId(documents, "doc_id", "text", "lang").orderBy("doc_id")

  def textFingerprint(documents: DataFrame): DataFrame =
    TextOps.fingerprintStats(documents, "doc_id", "text", "source")
      .orderBy("source")

  def textTopTerms(documents: DataFrame): DataFrame =
    TextOps.topTermsPerSource(documents, "source", "text", k = 3)
      .orderBy("source", "rnk")

  def textRollingFp(documents: DataFrame): DataFrame =
    TextOps.rollingFingerprints(documents, "doc_id", "text", window = 16)
      .orderBy("doc_id")

  def textRepetition(documents: DataFrame): DataFrame =
    TextOps.repetition(documents, "doc_id", "text").orderBy("doc_id")

  /** E8: PII scan + redaction over a contact-card text synthesized
    * deterministically from `customer` (the synthetic documents corpus
    * is digit-free, which would make an all-zero — i.e. vacuous — PII
    * oracle). The oracle SQL replays the same construction, so the
    * hash-compare verifies that Spark's and DuckDB's regex engines
    * agree on every detection and redaction, not just on plumbing.
    */
  def textPii(customer: DataFrame): DataFrame = {
    val key = col("c_custkey")
    val contact = concat(
      lit("Contact "), col("c_name"),
      lit(" <"), regexp_replace(lower(col("c_name")), "#", "."),
      lit("@corp.example.com> or +1-"),
      (key % 900 + 100).cast("string"), lit("-"),
      lpad(((key * 31) % 10000).cast("string"), 4, "0"),
      lit(" from host "),
      (key % 80 + 10).cast("string"), lit("."),
      (key % 256).cast("string"), lit("."),
      ((key * 7) % 256).cast("string"), lit("."),
      (key % 254 + 1).cast("string"))
    TextOps.piiScan(
        customer.select(key.as("id"), contact.as("text")), "id", "text")
      .orderBy("id")
  }

  /** E9: hashed-vocabulary classifier trained on E2 weak labels, whole
    * corpus scored at scan speed; the oracle replays training counts,
    * the integer weight grid, and the centered score sum in SQL.
    */
  def textClassify(documents: DataFrame): DataFrame =
    TextOps.classify(documents, "doc_id", "text").orderBy("doc_id")

  /** E10: the labeled `lang = 'en'` slice stands in for the trusted
    * reference corpus a real pipeline trains its LM filter on.
    */
  def textLmScore(documents: DataFrame): DataFrame =
    TextOps.lmScore(documents, "doc_id", "text",
      org.apache.spark.sql.functions.col("lang") === "en").orderBy("doc_id")

  /** C24: DSIR importance selection — target LM = the labeled
    * `lang = 'en'` slice (standing in for the wiki-grade target
    * distribution), source LM = the whole pool; a doc survives when its
    * transitions look more target-like than pool-like on the shared
    * integer grid.
    */
  def corpusDsir(documents: DataFrame): DataFrame =
    TextOps.dsir(documents, "doc_id", "text",
      org.apache.spark.sql.functions.col("lang") === "en").orderBy("doc_id")

  /** E12 (train+encode): BPE tokenizer trained at a vocab-scale
    * request (1024 merges — the corpus trains to pair exhaustion,
    * exercising the incremental trainer's full loop and early stop),
    * then per-doc token counts in one kernel pass. No SQL oracle
    * (iterative merge training is not reasonably SQL-expressible);
    * the driver records a rows-only check and the spec pins the
    * trainer against a driver-side reference implementation at
    * >= 1000 learned merges. The encode half IS oracle-checked — see
    * [[textBpeEncode]].
    */
  def textBpe(documents: DataFrame): DataFrame = {
    val merges = graft.operators.Bpe.train(documents, "text",
      nMerges = 1024)
    graft.operators.Bpe.tokenStats(documents, "doc_id", "text", merges)
      .orderBy("doc_id")
  }

  /** E12 (encode): per-doc token stats under the FROZEN tokenizer
    * artifact ([[graft.operators.Bpe.frozenMerges]]) — the production
    * encode posture (a tokenizer is trained once and shipped as a
    * constant), and exactly SQL-replayable: the oracle inlines the
    * same 48 merges and replays the left-to-right non-overlapping
    * segmentation as a recursive CTE over the distinct-word table.
    */
  def textBpeEncode(documents: DataFrame): DataFrame =
    graft.operators.Bpe.tokenStats(documents, "doc_id", "text",
        graft.operators.Bpe.frozenMerges)
      .orderBy("doc_id")

  /** E12 (encode, GPT-2-exact whitespace): [[textBpeEncode]] under the
    * opt-in `gpt2Ws` pretokenizer ([[graft.operators.Bpe
    * .Gpt2WsPretokenRegex]] — at most one literal space folds, the
    * `\s+(?!\S)` run split), so token counts on multi-space / indented
    * text match deployed tiktoken rather than this engine's default
    * whole-run fold. Same frozen merges — the merge list is whitespace-
    * mode-independent byte surgery; only pretoken boundaries move. The
    * oracle replays the lookahead-free two-pass rewrite (boundary
    * insertion + per-segment extraction), pinning that a plain-RE2
    * engine can reproduce the mode exactly.
    */
  def textBpeGpt2Ws(documents: DataFrame): DataFrame = {
    // the fixture corpus is single-spaced, where the two whitespace
    // modes agree trivially — union a DERIVED multi-space/indented
    // slice (every 7th doc: 4-space indent, inter-word runs widened
    // to 3, 2-space trailer; one derivation shared with the oracle,
    // the mlDocs posture) and TRAIN on it under the gpt2 pretokens:
    // multi-space pretokens enter the vocab and learn ("20","20")-
    // class merges, making the learned list — and every count after
    // it — whitespace-mode-sensitive (under ws-free merges the modes
    // are count-identical by construction, which would leave the
    // oracle row unable to catch a pretokenizer drift)
    val ws = documents.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 20000000L).as("doc_id"),
        concat(lit("    "),
          regexp_replace(col("text"), lit(" "), lit("   ")),
          lit("  ")).as("text"))
    val src = documents.select(col("doc_id"), col("text"))
      .unionByName(ws)
    val merges = graft.operators.Bpe.train(src, "text",
      nMerges = 1024, gpt2Ws = true)
    graft.operators.Bpe.tokenStats(src, "doc_id", "text", merges,
        gpt2Ws = true)
      .orderBy("doc_id")
  }

  /** E12 (encode-to-ids): the token-ID stream a training loader
    * actually consumes — one `encode(text) → array<int>` kernel call
    * per doc under the frozen tokenizer, exploded to
    * (doc_id, pos, id) rows so the oracle can replay it column-wise
    * (ids follow the stable [[graft.operators.Bpe.vocab]] convention:
    * byte-level base 0..255 — the UTF-8 byte values — merge i →
    * 256+i first-wins, `<unk>` unreachable by construction). The
    * oracle extends the recursive-CTE segmentation replay with the
    * same symbol→id CASE; docs with empty text yield no rows in both
    * engines.
    */
  def textBpeIds(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.posexplode
    documents
      .select(col("doc_id"),
        posexplode(graft.functions.bpe.encodeIds(col("text"),
          graft.operators.Bpe.frozenMerges)))
      .toDF("doc_id", "pos", "id")
      .orderBy("doc_id", "pos")
  }

  /** E12 (decode): the loader-side DETOKENIZER round trip, oracle-
    * checked against GROUND TRUTH — encode each doc to ids under the
    * frozen vocab ([[graft.functions.bpe.encodeIds]]), decode the ids
    * back ([[graft.functions.bpe.decodeIds]] — the BpeDecodeIds
    * codegen kernel: plan-constant id→hex-symbol table, corrupt
    * stream → NULL), and emit the decoded text. The oracle is NOT a
    * replay of the same pipeline: it is simply the RAW source text —
    * pretokenization is whitespace-faithful, so the round trip must
    * be EXACT and a lossy step ANYWHERE in encode→vocab→decode
    * hash-mismatches. Runs over documents UNION the multilingual
    * slice (ids offset to keep keys distinct), so the round trip is
    * pinned on 1-, 2- and 3-byte UTF-8 in the same row.
    */
  def textBpeDecode(documents: DataFrame): DataFrame = {
    val merges = graft.operators.Bpe.frozenMerges
    val both = documents.select(col("doc_id"), col("text"))
      .unionAll(multilingualSlice(documents)
        .select((col("doc_id") + 10000000L).as("doc_id"), col("text")))
    both.select(col("doc_id"),
        graft.functions.bpe.decodeIds(
          graft.functions.bpe.encodeIds(col("text"), merges), merges)
          .as("detok"))
      .orderBy("doc_id")
  }

  /** E11: quantized char-entropy quality signal; the integer LUT
    * literal is shared verbatim with the oracle, so neither engine
    * evaluates a log.
    */
  def textEntropy(documents: DataFrame): DataFrame =
    TextOps.entropy(documents, "doc_id", "text").orderBy("doc_id")

  // ---- F. multimodal ---------------------------------------------------

  def mmManifest(documents: DataFrame): DataFrame =
    Multimodal.manifest(documents, "doc_id", "text").orderBy("doc_id")

  /** The synthetic-corpus payload construction lives HERE, not in the
    * operator: every 10th doc carries THE placeholder asset so the
    * byte-identical duplicate class is real on the test corpus (the
    * construction is replayed verbatim in the oracle, like text_pii's).
    * A real caller hands [[Multimodal.dedupPayloads]] its own binary
    * payload column untouched.
    */
  def mmDedup(documents: DataFrame): DataFrame =
    Multimodal.dedupPayloads(mediaFrame(documents), "doc_id", "kind",
      "payload")

  /** F5: perceptual near-dup over the SAME payload construction as
    * [[mmDedup]] — placeholder copies land at hamming 0, near-dup text
    * payloads within a few bits.
    */
  def mmPhash(documents: DataFrame): DataFrame =
    Multimodal.nearDupPayloads(mediaFrame(documents), "doc_id", "kind",
      "payload")

  /** The F4/F5 shared synthetic media frame: every 10th doc carries THE
    * placeholder asset so a byte-identical duplicate class exists on
    * the test corpus; both oracles replay this construction verbatim.
    */
  private def mediaFrame(documents: DataFrame): DataFrame = {
    val payload = when(pmod(col("doc_id"), lit(10)) === 0,
      encode(lit("PLACEHOLDER_ASSET_v1"), "UTF-8"))
      .otherwise(encode(col("text"), "UTF-8"))
    documents.select(col("doc_id"),
      Multimodal.kindOf("doc_id").as("kind"), payload.as("payload"))
  }

  /** F2 REAL image decode, end-to-end oracle-checked: each image-kind
    * doc (doc_id % 3 == 0, the manifest's kind cycle) gets a REAL PNG
    * rendered in-plan from the doc_id closed form
    * ([[graft.functions.MediaCodec.pngPayload]] — the test corpus has
    * no binary column, so payloads are synthesized in-plan like
    * [[mmDedup]]'s), then [[Multimodal.decodeFeatures]] decodes it
    * with the production ImageIO path. The DuckDB oracle replays the
    * DECODED statistics (dims + the 4x2 mean-luma grid) from the
    * closed form without any codec, so a hash match proves
    * encode → real decode → features, not a stub. Scale shape: one
    * narrow map stage, no shuffle; codec cost is per-row and
    * partition-parallel.
    */
  def mmDecode(documents: DataFrame): DataFrame = {
    val imgs = documents
      .filter(pmod(col("doc_id"), lit(3)) === 0)
      .select(col("doc_id"), lit("image").as("kind"),
        graft.functions.media.pngPayload(col("doc_id")).as("payload"))
    val cols = Seq(col("doc_id"), col("width"), col("height")) ++
      (0 until 8).map(i =>
        element_at(col("features"), i + 1).as(s"f$i"))
    Multimodal.decodeFeatures(imgs).select(cols: _*).orderBy("doc_id")
  }

  /** F2 REAL audio decode: each audio-kind doc (doc_id % 3 == 1) gets
    * a REAL RIFF/WAVE container rendered in-plan from the doc_id
    * closed form, decoded by [[Multimodal.decodeFeatures]]'s
    * production AudioSystem path — the oracle replays sample rate,
    * PCM frame count, and the 8 segment-mean amplitudes from the
    * closed form. */
  def mmDecodeAudio(documents: DataFrame): DataFrame = {
    val auds = documents
      .filter(pmod(col("doc_id"), lit(3)) === 1)
      .select(col("doc_id"), lit("audio").as("kind"),
        graft.functions.media.wavPayload(col("doc_id")).as("payload"))
    val cols = Seq(col("doc_id"), col("width").as("sample_rate"),
      col("height").as("bits"), col("n_frames").as("n_samples")) ++
      (0 until 8).map(i =>
        element_at(col("features"), i + 1).as(s"s$i"))
    Multimodal.decodeFeatures(auds).select(cols: _*).orderBy("doc_id")
  }

  /** F5 over REAL PIXELS: the perceptual signature of each image-kind
    * doc computed from its DECODED image
    * ([[graft.functions.MediaCodec.imageAHash64]] — 8x8 mean-luma
    * grid, exact integer thresholding), not its container bytes, so a
    * re-encoded copy (different bytes, same pixels) hashes identically.
    * Per-doc signatures rather than pairs: the pairing machinery is
    * [[mmPhash]]'s (kind-scoped pigeonhole banding), shared unchanged;
    * this row pins that the signature itself comes from a real decode
    * (the oracle replays the closed-form pixels). */
  def mmPhashImage(documents: DataFrame): DataFrame =
    documents.filter(pmod(col("doc_id"), lit(3)) === 0)
      .select(col("doc_id"),
        graft.functions.media.imageAHash64(
          graft.functions.media.pngPayload(col("doc_id"))).as("sig"))
      .orderBy("doc_id")
}
