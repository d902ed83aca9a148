package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.IntegerType
import graft.functions._

/** SQL surface for the graft expressions: register via
  * `spark.sql.extensions=graft.GraftExtensions` (or
  * [[GraftSession.builder]]) and the kernels become plain SQL functions:
  *
  * {{{
  *   SELECT graft_minhash(graft_shingle_hashes(text, 3), 128) FROM docs
  * }}}
  *
  * Everything stays codegen'd — these are the same native expressions
  * the Column API uses.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.all.foreach(ext.injectFunction)
    GraftExtensions.tableFunctions.foreach(ext.injectTableFunction)
    // binary startswith -> rowkey range, so prefix scans against the
    // graft-hfile source prune files instead of post-filtering a full
    // scan (runs in the operator-optimization batch, before V2 pushdown)
    ext.injectOptimizerRule(_ => graft.plans.PrefixRangeRewrite)
  }
}

object GraftExtensions {
  type FnDef = (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  private def intArg(e: Expression, fn: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$fn expects a literal INT argument, got $other")
  }

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "")

  /** Merge-list resolution shared by the BPE scalar functions: the
    * engine's frozen merges, or an artifact given as the optional
    * second literal arg (resolved once at plan time) — a saveMerges
    * parquet dir, or (path ending `.txt`) a PUBLISHED-format
    * merges.txt ([[operators.Bpe.loadMergesTxt]]), so SQL callers can
    * count/encode under a real released tokenizer's merge table:
    * `graft_bpe_count(body, '/models/merges.txt', true)`.
    */
  private def mergesArg(args: Seq[Expression],
                        fn: String): Seq[(String, String)] =
    if (args.length > 1) {
      val path = strArg(args(1), fn)
      if (path.endsWith(".txt"))
        operators.Bpe.loadMergesTxt(
          org.apache.spark.sql.SparkSession.active, path)
      else operators.Bpe.loadMerges(
        org.apache.spark.sql.SparkSession.active, path)
    } else operators.Bpe.frozenMerges

  /** `'web:3,books:2'` → weight list, loud on malformed entries. */
  private def parseWeights(spec: String,
                           fn: String): Seq[(String, Int)] =
    spec.split(",").toSeq.map(_.trim).filter(_.nonEmpty).map { e =>
      e.split(":") match {
        case Array(s, w) if w.trim.matches("\\d+") =>
          (s.trim, w.trim.toInt)
        case _ => throw new IllegalArgumentException(
          s"$fn: malformed weight entry '$e' (want 'stratum:weight')")
      }
    }

  /** `'main=web:3@0.5,books:1@0.5;anneal=books:2@0.5'` → phases. */
  private def parsePhases(spec: String, fn: String)
      : Seq[operators.Sampling.AnnealPhase] =
    spec.split(";").toSeq.map(_.trim).filter(_.nonEmpty).map { ph =>
      ph.split("=") match {
        case Array(name, body) =>
          val entries = body.split(",").toSeq.map(_.trim)
            .filter(_.nonEmpty).map { e =>
              e.split("[:@]") match {
                case Array(s, w, f) if w.trim.matches("\\d+") =>
                  (s.trim, w.trim.toInt, f.trim.toDouble)
                case _ => throw new IllegalArgumentException(
                  s"$fn: malformed phase entry '$e' " +
                    "(want 'source:weight@frac')")
              }
            }
          operators.Sampling.AnnealPhase(name.trim,
            entries.map { case (s, w, _) => (s, w) },
            entries.map { case (s, _, f) => s -> f }.toMap)
        case _ => throw new IllegalArgumentException(
          s"$fn: malformed phase '$ph' (want 'name=src:w@frac,...')")
      }
    }

  val all: Seq[FnDef] = Seq(
    (FunctionIdentifier("graft_shingle_hashes"),
      info("graft_shingle_hashes",
        "graft_shingle_hashes(text, k) - distinct k-word-shingle hash set"),
      (args: Seq[Expression]) =>
        WordShingleHashes(args(0), intArg(args(1), "graft_shingle_hashes"))),
    (FunctionIdentifier("graft_minhash"),
      info("graft_minhash",
        "graft_minhash(hashes, perms) - MinHash signature of a hash set"),
      (args: Seq[Expression]) =>
        MinHashSig(args(0), intArg(args(1), "graft_minhash"))),
    (FunctionIdentifier("graft_simhash"),
      info("graft_simhash",
        "graft_simhash(hashes) - 64-bit SimHash of a hash set"),
      (args: Seq[Expression]) => SimHash64(args(0))),
    (FunctionIdentifier("graft_rolling_fp"),
      info("graft_rolling_fp",
        "graft_rolling_fp(text) - 64-bit polynomial content fingerprint"),
      (args: Seq[Expression]) => RollingFp(args(0))),
    (FunctionIdentifier("graft_winnow_fp"),
      info("graft_winnow_fp",
        "graft_winnow_fp(text, window) - min rolling-window fingerprint"),
      (args: Seq[Expression]) =>
        RollingWindowMin(args(0), intArg(args(1), "graft_winnow_fp"))),
    (FunctionIdentifier("graft_hb_encode"),
      info("graft_hb_encode",
        "graft_hb_encode(field) - HBase big-endian bytes of a typed field"),
      (args: Seq[Expression]) => HbEncode(args(0))),
    (FunctionIdentifier("graft_salt_bucket"),
      info("graft_salt_bucket",
        "graft_salt_bucket(bytes) - reference-parity Arrays.hashCode"),
      (args: Seq[Expression]) => ArraysHashCode(args(0))),
    (FunctionIdentifier("graft_shingle_seq"),
      info("graft_shingle_seq",
        "graft_shingle_seq(text, k) - positional k-word-shingle hash " +
          "sequence (duplicates retained, document order)"),
      (args: Seq[Expression]) =>
        WordShingleSeq(args(0), intArg(args(1), "graft_shingle_seq"))),
    (FunctionIdentifier("graft_avg_hash"),
      info("graft_avg_hash",
        "graft_avg_hash(payload) - 64-bit average-hash perceptual " +
          "fingerprint of a BINARY payload"),
      (args: Seq[Expression]) => AvgHash64(args(0))),
    (FunctionIdentifier("graft_char_entropy"),
      info("graft_char_entropy",
        "graft_char_entropy(text) - [n_alnum, n_distinct, ent_scaled] " +
          "quantized-grid char entropy (ent_scaled ~ bits * 2^20)"),
      (args: Seq[Expression]) => CharEntropyStats(args(0))),
    (FunctionIdentifier("graft_tag_ttl"),
      info("graft_tag_ttl",
        "graft_tag_ttl(tags) - cell TTL ms from an HBase tag block " +
          "(type-8 tag), -1 when absent"),
      (args: Seq[Expression]) => HbTagTtl(args(0))),
    (FunctionIdentifier("graft_freq_items"),
      info("graft_freq_items",
        "graft_freq_items(x, capacity) - Misra-Gries heavy-hitter " +
          "aggregate: at most `capacity` (item, count_lb) counters; any " +
          "item above n/(capacity+1) occurrences is present"),
      (args: Seq[Expression]) =>
        FreqItemsSketch(args(0), intArg(args(1), "graft_freq_items"))
          .toAggregateExpression()),
    (FunctionIdentifier("graft_bpe_ids"),
      info("graft_bpe_ids",
        "graft_bpe_ids(text[, artifact_dir][, gpt2_ws]) - " +
          "frozen-vocab BPE token-ID array (E12's encode kernel); " +
          "with a dir, encode under a saveMerges artifact's merges " +
          "instead. Trailing gpt2_ws=true segments with the " +
          "GPT-2-exact whitespace rule (single-space fold) instead " +
          "of the default whole-run fold"),
      (args0: Seq[Expression]) => {
        val (args, gpt2Ws) = splitDryRun(args0)
        val merges = mergesArg(args, "graft_bpe_ids")
        BpeEncodeIds(args(0), merges.map(_._1).toArray,
          merges.map(_._2).toArray, functions.bpe.mergeIdMap(merges),
          functions.bpe.unkId(merges), gpt2Ws)
      }),
    (FunctionIdentifier("graft_bpe_decode"),
      info("graft_bpe_decode",
        "graft_bpe_decode(ids[, artifact_dir]) - detokenize a " +
          "frozen-vocab BPE id array back to text (the loader-side " +
          "inverse of graft_bpe_ids; pretokens are whitespace-" +
          "faithful, so decode(graft_bpe_ids(t)) == t byte-exactly " +
          "in either whitespace mode)"),
      (args: Seq[Expression]) => {
        val merges = mergesArg(args, "graft_bpe_decode")
        functions.BpeDecodeIds(args(0),
          functions.bpe.decodeTokTable(merges))
      }),
    (FunctionIdentifier("graft_bpe_count"),
      info("graft_bpe_count",
        "graft_bpe_count(text[, artifact_dir][, gpt2_ws]) - " +
          "frozen-vocab BPE token count (the loader's own units; " +
          "equals size(graft_bpe_ids(text))). Trailing gpt2_ws=true " +
          "counts under the GPT-2-exact whitespace rule"),
      (args0: Seq[Expression]) => {
        val (args, gpt2Ws) = splitDryRun(args0)
        val merges = mergesArg(args, "graft_bpe_count")
        BpeTokenCount(args(0), merges.map(_._1).toArray,
          merges.map(_._2).toArray, gpt2Ws)
      }),
    (FunctionIdentifier("graft_zorder"),
      info("graft_zorder",
        "graft_zorder(a, b) - 64-bit Z-order (Morton) interleave of two BIGINTs"),
      (args: Seq[Expression]) => {
        // first 2-arg builder in this list: the 1-arg registrations fail
        // naturally on args(0) misuse, but here a wrong arity must be a
        // proper AnalysisException, not an IndexOutOfBoundsException
        if (args.length != 2)
          throw new org.apache.spark.sql.AnalysisException(
            errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
            messageParameters = Map(
              "functionName" -> "`graft_zorder`",
              "expectedNum" -> "2",
              "actualNum" -> args.length.toString,
              "docroot" -> "https://spark.apache.org/docs/latest"),
            cause = None)
        ZOrder64(args(0), args(1))
      }))

  /** Imperative registration into an existing session (the extensions
    * config only applies when a new session is instantiated).
    */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    all.foreach { case (id, inf, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, inf, builder)
    }
    tableFunctions.foreach { case (id, inf, builder) =>
      spark.sessionState.tableFunctionRegistry
        .registerFunction(id, inf, builder)
    }
  }

  // ---- operator-level table functions -----------------------------------

  import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
  import org.apache.spark.sql.functions.{col, md5}
  type TvfDef =
    (FunctionIdentifier, ExpressionInfo, Seq[Expression] => LogicalPlan)

  private def strArg(e: Expression, fn: String): String = e match {
    case Literal(s: org.apache.spark.unsafe.types.UTF8String, _) => s.toString
    case other => throw new IllegalArgumentException(
      s"$fn expects a literal STRING argument, got $other")
  }
  private def numArg(e: Expression, fn: String): Double = e match {
    // SQL `0.7` parses as a DECIMAL literal (spark Decimal, not a
    // java.lang.Number); integer literals come through as Int/Long
    case Literal(d: org.apache.spark.sql.types.Decimal, _) => d.toDouble
    case Literal(n: Number, _) => n.doubleValue()
    case other => throw new IllegalArgumentException(
      s"$fn expects a literal numeric argument, got $other")
  }

  /** Peel an optional trailing BOOLEAN literal off a TVF's argument
    * list (positional-last, detected by TYPE, so it composes with
    * each TVF's own optional numeric knobs; absent = false).
    *
    * Two uses: every CALL-style maintenance TVF reads it as `dry_run`
    * — the SHOW-style escape hatch for the function-resolution TVF
    * mechanism's one wart (the side effect runs at plan RESOLUTION,
    * so a bare EXPLAIN triggers it): true skips the mutation and
    * returns the CURRENT-state report in the same schema, while
    * merges still run their sidecar-admission check so an
    * incompatible shard refuses loudly without a byte moving.
    * `graft_pack_ids` reads it as `with_eos` (append the EOS document
    * separator before the layout).
    */
  private def splitDryRun(args: Seq[Expression])
      : (Seq[Expression], Boolean) = args.lastOption match {
    case Some(Literal(b: Boolean, org.apache.spark.sql.types.BooleanType)) =>
      (args.init, b)
    case _ => (args, false)
  }

  /** SQL entry points for the OPERATOR layer (the expression functions
    * above cover the kernels; these cover whole DataFrame→DataFrame
    * operators) — what a SQL-first user reaches for before learning the
    * Scala API:
    *
    * {{{
    *   SELECT * FROM graft_dedup_exact('documents', 'doc_id', 'text')
    *   SELECT * FROM graft_minhash_pairs('documents', 'doc_id', 'text', 0.7)
    *   SELECT * FROM graft_compact('/in/dir', '/out/dir', 1)
    * }}}
    *
    * The first argument of the dedup TVFs is a TABLE/VIEW name resolved
    * against the current catalog. `graft_compact` is CALL-style: building
    * its plan runs the compaction rewrite of `inDir` into `outDir`
    * (driver-side eager, like the Scala entry point), and the returned
    * rows are the compacted cell stream read back from `outDir`.
    */
  val tableFunctions: Seq[TvfDef] = Seq(
    (FunctionIdentifier("graft_dedup_exact"),
      info("graft_dedup_exact",
        "graft_dedup_exact(table, id_col, text_col) - exact dedup groups " +
          "(fp, keep_id, n_copies) by md5 content fingerprint"),
      (args: Seq[Expression]) => {
        val spark = org.apache.spark.sql.SparkSession.active
        val df = spark.table(strArg(args(0), "graft_dedup_exact"))
        val idCol = strArg(args(1), "graft_dedup_exact")
        val textCol = strArg(args(2), "graft_dedup_exact")
        operators.Dedup.exact(df, idCol, md5(col(textCol)))
          .queryExecution.logical
      }),
    (FunctionIdentifier("graft_minhash_pairs"),
      info("graft_minhash_pairs",
        "graft_minhash_pairs(table, id_col, text_col[, threshold]) - " +
          "MinHash-LSH near-dup pairs verified by exact shingle Jaccard"),
      (args: Seq[Expression]) => {
        val spark = org.apache.spark.sql.SparkSession.active
        val df = spark.table(strArg(args(0), "graft_minhash_pairs"))
        val idCol = strArg(args(1), "graft_minhash_pairs")
        val textCol = strArg(args(2), "graft_minhash_pairs")
        val threshold =
          if (args.length > 3) numArg(args(3), "graft_minhash_pairs") else 0.7
        operators.Dedup.minhashLsh(df, idCol, textCol,
          threshold = threshold).queryExecution.logical
      }),
    (FunctionIdentifier("graft_decontaminate"),
      info("graft_decontaminate",
        "graft_decontaminate(train_table, eval_table, id_col, text_col" +
          "[, k][, min_hits]) - exact k-gram benchmark-overlap report " +
          "per contaminated train doc (C12: doc, n_grams, n_hits, " +
          "contamination)"),
      (args: Seq[Expression]) => {
        val spark = org.apache.spark.sql.SparkSession.active
        val n = "graft_decontaminate"
        val train = spark.table(strArg(args(0), n))
        val ev = spark.table(strArg(args(1), n))
        val k = if (args.length > 4) numArg(args(4), n).toInt else 5
        val minHits = if (args.length > 5) numArg(args(5), n).toLong else 1L
        operators.Dedup.decontaminate(train, ev, strArg(args(2), n),
          strArg(args(3), n), k, minHits).queryExecution.logical
      }),
    (FunctionIdentifier("graft_decontaminate_fuzzy"),
      info("graft_decontaminate_fuzzy",
        "graft_decontaminate_fuzzy(train_table, eval_table, id_col, " +
          "text_col[, threshold]) - NEAR-duplicate benchmark leakage " +
          "per contaminated train doc (C12c: doc, n_eval_matches, " +
          "max_jaccard) via the cross-set MinHash-LSH probe (eval side " +
          "broadcast, train side scanned once)"),
      (args: Seq[Expression]) => {
        val spark = org.apache.spark.sql.SparkSession.active
        val n = "graft_decontaminate_fuzzy"
        val train = spark.table(strArg(args(0), n))
        val ev = spark.table(strArg(args(1), n))
        val threshold = if (args.length > 4) numArg(args(4), n) else 0.7
        operators.Dedup.decontaminateFuzzy(train, ev, strArg(args(2), n),
          strArg(args(3), n), threshold = threshold)
          .queryExecution.logical
      }),
    (FunctionIdentifier("graft_dedup_recall"),
      info("graft_dedup_recall",
        "graft_dedup_recall(table, id_col, text_col[, threshold]) - " +
          "banding recall report (n_truth, n_found, recall): exact " +
          "prefix-filtered threshold truth vs the surfaced LSH pairs"),
      (args: Seq[Expression]) => {
        val spark = org.apache.spark.sql.SparkSession.active
        val df = spark.table(strArg(args(0), "graft_dedup_recall"))
        val idCol = strArg(args(1), "graft_dedup_recall")
        val textCol = strArg(args(2), "graft_dedup_recall")
        val threshold =
          if (args.length > 3) numArg(args(3), "graft_dedup_recall")
          else 0.7
        operators.Dedup.lshRecall(df, idCol, textCol,
          threshold = threshold).queryExecution.logical
      }),
    (FunctionIdentifier("graft_dedup_recall_sweep"),
      info("graft_dedup_recall_sweep",
        "graft_dedup_recall_sweep(table, id_col, text_col[, " +
          "sample_docs]) - the banding TUNING SWEEP: the recall " +
          "report at bands in {8,16,32} over ONE shared exact truth, " +
          "one row per setting. sample_docs > 0 runs it over the " +
          "absolute salted-hash doc slice of that size (the " +
          "100x-recordable posture; truth cost stays flat as the " +
          "corpus grows); omitted or 0 = the full-corpus curve"),
      (args: Seq[Expression]) => {
        val spark = org.apache.spark.sql.SparkSession.active
        val fn = "graft_dedup_recall_sweep"
        val df = spark.table(strArg(args(0), fn))
        val idCol = strArg(args(1), fn)
        val textCol = strArg(args(2), fn)
        val sampleDocs =
          if (args.length > 3) numArg(args(3), fn).toLong else 0L
        // only 0/omitted means the full-corpus sweep; a NEGATIVE value
        // must error like the Scala API, not silently launch the
        // duplicate-quadratic full truth the knob exists to avoid
        require(sampleDocs >= 0,
          s"$fn: sample_docs must be >= 0 (0 = full sweep), got $sampleDocs")
        (if (sampleDocs > 0)
          operators.Dedup.lshRecallSweepSlice(df, idCol, textCol,
            sampleDocs = sampleDocs)
        else operators.Dedup.lshRecallSweep(df, idCol, textCol))
          .queryExecution.logical
      }),
    (FunctionIdentifier("graft_tokenizer_stats"),
      info("graft_tokenizer_stats",
        "graft_tokenizer_stats(table, group_col, text_col) - tokenizer " +
          "fertility per group under the frozen BPE (n_docs, n_chars, " +
          "n_words, n_tokens, chars_per_token, tokens_per_word)"),
      (args: Seq[Expression]) => {
        val spark = org.apache.spark.sql.SparkSession.active
        val df = spark.table(strArg(args(0), "graft_tokenizer_stats"))
        val groupCol = strArg(args(1), "graft_tokenizer_stats")
        val textCol = strArg(args(2), "graft_tokenizer_stats")
        operators.TextOps.tokenizerStats(df, groupCol, textCol,
          operators.Bpe.frozenMerges).queryExecution.logical
      }),
    (FunctionIdentifier("graft_length_stats"),
      info("graft_length_stats",
        "graft_length_stats(table, group_col, text_col) - per-group " +
          "doc-length percentiles in frozen-BPE tokens (n_docs, " +
          "n_tokens, min/p25/p50/p75/p95/max)"),
      (args: Seq[Expression]) => {
        val spark = org.apache.spark.sql.SparkSession.active
        val df = spark.table(strArg(args(0), "graft_length_stats"))
        val groupCol = strArg(args(1), "graft_length_stats")
        val textCol = strArg(args(2), "graft_length_stats")
        operators.TextOps.lengthStats(df, groupCol, textCol,
          operators.Bpe.frozenMerges).queryExecution.logical
      }),
    (FunctionIdentifier("graft_packing_stats"),
      info("graft_packing_stats",
        "graft_packing_stats(table, id_col, text_col[, budget]) - " +
          "per-sequence packing census under the frozen BPE (n_docs, " +
          "n_tokens, carry_in, first_doc, last_doc)"),
      (args: Seq[Expression]) => {
        val spark = org.apache.spark.sql.SparkSession.active
        val df = spark.table(strArg(args(0), "graft_packing_stats"))
        val idCol = strArg(args(1), "graft_packing_stats")
        val textCol = strArg(args(2), "graft_packing_stats")
        val budget =
          if (args.length > 3) numArg(args(3), "graft_packing_stats").toLong
          else 2048L
        val counted = df.select(col(idCol),
          graft.functions.bpe.tokenCount(col(textCol),
            operators.Bpe.frozenMerges).as("n_tokens"))
        operators.Packing.spanCensus(
          operators.Packing.sequenceSpans(counted, idCol, "n_tokens",
            budget), idCol).queryExecution.logical
      }),
    // ---- persisted-store lifecycle: ONE family for the IVFxPQ, SQ8 and
    // LSH stores, the kind detected from the sidecars in `dir`. The
    // CALL-style ones run their side effect at plan RESOLUTION (EXPLAIN
    // too); a trailing dry_run=true skips it and reports current state.
    (FunctionIdentifier("graft_store_fsck"),
      info("graft_store_fsck",
        "graft_store_fsck(dir) - integrity report over a persisted " +
          "IVFxPQ, SQ8 or LSH store: (check, ok, n_bad, detail) per " +
          "invariant"),
      (args: Seq[Expression]) => operators.PersistedStore.fsck(
          org.apache.spark.sql.SparkSession.active,
          strArg(args(0), "graft_store_fsck")).queryExecution.logical),
    (FunctionIdentifier("graft_store_stats"),
      info("graft_store_stats",
        "graft_store_stats(dir[, min_bytes]) - file health: (cell_id, " +
          "n_codes, n_files, bytes) per IVFxPQ cell, (band, n_rows, " +
          "n_files, bytes) per LSH band, or ONE SQ8 row (n_codes, " +
          "n_files, bytes, n_small_files under min_bytes)"),
      (args: Seq[Expression]) => operators.PersistedStore.stats(
          org.apache.spark.sql.SparkSession.active,
          strArg(args(0), "graft_store_stats"),
          args.lift(1).fold(operators.PersistedStore.SmallFileBytes)(
            numArg(_, "graft_store_stats").toLong))
        .queryExecution.logical),
    (FunctionIdentifier("graft_store_compact"),
      info("graft_store_compact",
        "graft_store_compact(dir[, threshold][, dry_run]) - CALL-style: " +
          "coalesce a store's small files, return its post-compaction " +
          "graft_store_stats. threshold = max files per IVFxPQ cell / " +
          "LSH band (default 1), or the SQ8 small-file cut in bytes " +
          "(default 4 MiB)"),
      (args0: Seq[Expression]) => {
        val spark = org.apache.spark.sql.SparkSession.active
        val n = "graft_store_compact"
        val (args, dry) = splitDryRun(args0)
        val dir = strArg(args(0), n)
        val flat = operators.PersistedStore.detect(spark, dir).partCol.isEmpty
        val t = args.lift(1).map(numArg(_, n))
        val maxFiles = t.filterNot(_ => flat).fold(1)(_.toInt)
        val minBytes = t.filter(_ => flat)
          .fold(operators.PersistedStore.SmallFileBytes)(_.toLong)
        if (!dry)
          operators.PersistedStore.compact(spark, dir, maxFiles, minBytes)
        operators.PersistedStore.stats(spark, dir, minBytes)
          .queryExecution.logical
      }),
    (FunctionIdentifier("graft_store_repair"),
      info("graft_store_repair",
        "graft_store_repair(dir[, dry_run]) - CALL-style: drop what fsck " +
          "flags by file surgery (refuses on an unusable sidecar or a " +
          "missing LSH band), return the post-repair fsck report"),
      (args0: Seq[Expression]) => {
        val spark = org.apache.spark.sql.SparkSession.active
        val (args, dry) = splitDryRun(args0)
        val dir = strArg(args(0), "graft_store_repair")
        if (!dry) operators.PersistedStore.repair(spark, dir)
        operators.PersistedStore.fsck(spark, dir).queryExecution.logical
      }),
    (FunctionIdentifier("graft_store_merge"),
      info("graft_store_merge",
        "graft_store_merge(dst, srcs_csv[, dry_run]) - CALL-style: merge " +
          "shard stores built under dst's sidecars into dst (bytes move " +
          "as a Spark job), return the post-merge fsck report; dry_run " +
          "still refuses incompatible shards"),
      (args0: Seq[Expression]) => {
        val spark = org.apache.spark.sql.SparkSession.active
        val (args, dry) = splitDryRun(args0)
        val dst = strArg(args(0), "graft_store_merge")
        val srcs = strArg(args(1), "graft_store_merge")
          .split(",").map(_.trim).filter(_.nonEmpty).toSeq
        operators.PersistedStore.merge(spark, dst, srcs, dryRun = dry)
        operators.PersistedStore.fsck(spark, dst).queryExecution.logical
      }),
    (FunctionIdentifier("graft_store_advise"),
      info("graft_store_advise",
        "graft_store_advise(dir[, corpus_table, id_col, vec_col]) - the " +
          "maintenance runbook row (store, action in repair|rebuild|" +
          "compact|ok, reason) joining fsck, drift vs the corpus " +
          "(IVFxPQ and SQ8; LSH needs no corpus) and fragmentation"),
      (args: Seq[Expression]) => {
        val spark = org.apache.spark.sql.SparkSession.active
        val s = args.map(strArg(_, "graft_store_advise"))
        operators.PersistedStore.advise(spark, s(0),
            s.lift(1).map(spark.table), s.lift(2).getOrElse("vec_id"),
            s.lift(3).getOrElse("embedding"))
          .queryExecution.logical
      }),
    (FunctionIdentifier("graft_store_drift"),
      info("graft_store_drift",
        "graft_store_drift(dir, corpus_table, id_col, vec_col) - drift vs " +
          "the CURRENT corpus, the rebuild trigger's number: (cell_id, " +
          "n_codes, recon_cos, frac_misassigned) per IVFxPQ cell or (j, " +
          "n, frac_out_of_range, mean_err_grid_units) per SQ8 dimension; " +
          "an LSH store refuses (its decay metric is lshIndexRecall)"),
      (args: Seq[Expression]) => {
        val spark = org.apache.spark.sql.SparkSession.active
        val s = args.map(strArg(_, "graft_store_drift"))
        operators.PersistedStore.drift(spark, s(0), spark.table(s(1)),
          s(2), s(3)).queryExecution.logical
      }),
    (FunctionIdentifier("graft_store_backup"),
      info("graft_store_backup",
        "graft_store_backup(src_dir, dst_dir[, base_dir][, dry_run]) - " +
          "CALL-style: point-in-time snapshot of a persisted store " +
          "(ANY layout - IVFxPQ / LSH / SQ; every file copied as a " +
          "Spark job + a _backup_manifest sidecar), return the " +
          "snapshot's verification report. With base_dir (a prior " +
          "snapshot) the backup is INCREMENTAL: files unchanged since " +
          "the base are manifest-referenced, not re-copied; verify/" +
          "restore resolve them at the base, and graft_store_prune " +
          "never deletes a referenced base. Refuses a non-empty " +
          "destination. Trailing dry_run=true copies nothing, runs " +
          "the SAME admission checks (a call the real run would " +
          "refuse still refuses), and returns the would-copy listing " +
          "as (check, ok, n_bad, detail)"),
      (args0: Seq[Expression]) => {
        val spark = org.apache.spark.sql.SparkSession.active
        val (args, dry) = splitDryRun(args0)
        val src = strArg(args(0), "graft_store_backup")
        val dst = strArg(args(1), "graft_store_backup")
        val base = if (args.length > 2)
          Some(strArg(args(2), "graft_store_backup")) else None
        if (dry) {
          import spark.implicits._
          val n = operators.StoreMaintenance
            .backupAdmission(spark, src, dst).size.toLong
          Seq(("would_copy", n > 0, n, s"$n files under $src" +
            base.map(b => s" (incremental vs $b)").getOrElse("")))
            .toDF("check", "ok", "n_bad", "detail")
            .queryExecution.logical
        } else {
          operators.StoreMaintenance.backupStore(spark, src, dst, base)
          operators.StoreMaintenance.verifyStoreBackup(spark, dst)
            .queryExecution.logical
        }
      }),
    (FunctionIdentifier("graft_store_verify"),
      info("graft_store_verify",
        "graft_store_verify(backup_dir[, deep]) - integrity report " +
          "over a graft_store_backup snapshot: manifest valid, every " +
          "manifest file present at its recorded size, no stray " +
          "files, and (deep=true, the default) every file's bytes " +
          "re-hashed against the manifest's CRC32C - the check that " +
          "catches size-preserving corruption. deep=false is the " +
          "listing-speed presence+size report"),
      (args0: Seq[Expression]) => {
        val spark = org.apache.spark.sql.SparkSession.active
        // trailing bool absent => deep=true (restore-gate strictness
        // is the default; deep=false is the explicit opt-out)
        val (args, flag) = splitDryRun(args0)
        val deep = if (args.length == args0.length) true else flag
        operators.StoreMaintenance.verifyStoreBackup(spark,
          strArg(args(0), "graft_store_verify"), deep)
          .queryExecution.logical
      }),
    (FunctionIdentifier("graft_store_restore"),
      info("graft_store_restore",
        "graft_store_restore(backup_dir, dst_dir[, dry_run]) - " +
          "CALL-style: restore a verified snapshot into an empty " +
          "destination (refuses a failing backup or a non-empty " +
          "target), return the backup's verification report. Trailing " +
          "dry_run=true runs only the verification"),
      (args0: Seq[Expression]) => {
        val spark = org.apache.spark.sql.SparkSession.active
        val (args, dry) = splitDryRun(args0)
        val bk = strArg(args(0), "graft_store_restore")
        val dst = strArg(args(1), "graft_store_restore")
        if (!dry) operators.StoreMaintenance.restoreStore(spark, bk, dst)
        operators.StoreMaintenance.verifyStoreBackup(spark, bk)
          .queryExecution.logical
      }),
    (FunctionIdentifier("graft_store_backups"),
      info("graft_store_backups",
        "graft_store_backups(parent_dir[, deep]) - catalog of the " +
          "graft_store_backup snapshots under one parent: per " +
          "snapshot (newest first) its completion stamp, LOGICAL " +
          "file/byte census, the incremental-chain split " +
          "(carried_files/carried_bytes referenced at base snapshots " +
          "vs physical_bytes stored here; full snapshots report zero " +
          "carried), base dir(s), chain_ok (every carried row " +
          "present at its base), and verify status. deep defaults " +
          "FALSE here (a catalog sweep must not re-read every byte " +
          "of every snapshot); deep=true re-hashes each one"),
      (args0: Seq[Expression]) => {
        val spark = org.apache.spark.sql.SparkSession.active
        val (args, deep) = splitDryRun(args0)
        operators.StoreMaintenance.listStoreBackups(spark,
          strArg(args(0), "graft_store_backups"), deep)
          .queryExecution.logical
      }),
    (FunctionIdentifier("graft_store_prune"),
      info("graft_store_prune",
        "graft_store_prune(parent_dir, keep[, older_than_ms][, " +
          "dry_run]) - CALL-style retention sweep: keep the newest " +
          "`keep` snapshots, delete the rest - except the last " +
          "verify-green snapshot (pruning must leave a restorable " +
          "backup) and any base a retained incremental references. " +
          "With older_than_ms, deletion also requires the snapshot's " +
          "completion stamp to be older than that many milliseconds " +
          "(the 'keep 7 days plus the last N' policy: beyond-count " +
          "AND beyond-age). Returns one (snapshot, completed_ms, " +
          "verify_ok, action, reason) row per snapshot; trailing " +
          "dry_run=true reports the decisions without deleting"),
      (args0: Seq[Expression]) => {
        val spark = org.apache.spark.sql.SparkSession.active
        val (args, dry) = splitDryRun(args0)
        val age = if (args.length > 2)
          Some(numArg(args(2), "graft_store_prune").toLong) else None
        operators.StoreMaintenance.pruneStoreBackups(spark,
          strArg(args(0), "graft_store_prune"),
          numArg(args(1), "graft_store_prune").toInt, dry, age)
          .queryExecution.logical
      }),
    (FunctionIdentifier("graft_compact"),
      info("graft_compact",
        "graft_compact(in_dir, out_dir[, versions][, dry_run]) - " +
          "CALL-style: major-compact a bulk-load directory, return the " +
          "compacted cells; trailing dry_run=true writes nothing and " +
          "returns the WOULD-BE compacted stream computed in-plan"),
      (args0: Seq[Expression]) => {
        val spark = org.apache.spark.sql.SparkSession.active
        val (args, dry) = splitDryRun(args0)
        val inDir = strArg(args(0), "graft_compact")
        val outDir = strArg(args(1), "graft_compact")
        val versions =
          if (args.length > 2) numArg(args(2), "graft_compact").toInt else 1
        if (dry) {
          // the compaction's cell semantics without the rewrite:
          // deletes resolved, versions retained — same rows the real
          // call would hand back from outDir
          operators.Compaction.resolve(
            operators.BulkLoad.readHFiles(spark, inDir), versions)
            .queryExecution.logical
        } else {
          operators.Compaction.compact(spark, inDir, outDir,
            versions = versions)
          operators.BulkLoad.readHFiles(spark, outDir).queryExecution.logical
        }
      }),
    (FunctionIdentifier("graft_zorder_ranges"),
      info("graft_zorder_ranges",
        "graft_zorder_ranges(a0, a1, b0, b1[, max_ranges]) - covering " +
          "Morton z-intervals [z_start, z_end) for the inclusive " +
          "coordinate box, sorted disjoint (the B18 read-side planner " +
          "from SQL; push each interval as a rowkey range)"),
      (args: Seq[Expression]) => {
        val spark = org.apache.spark.sql.SparkSession.active
        import spark.implicits._
        val n = "graft_zorder_ranges"
        val maxRanges =
          if (args.length > 4) numArg(args(4), n).toInt else 32
        functions.ZOrderKernel
          .queryRanges(numArg(args(0), n).toLong, numArg(args(1), n).toLong,
            numArg(args(2), n).toLong, numArg(args(3), n).toLong, maxRanges)
          .toDF("z_start", "z_end").queryExecution.logical
      }),
    (FunctionIdentifier("graft_knn_index_search"),
      info("graft_knn_index_search",
        "graft_knn_index_search(dir, table, id_col, vec_col, k" +
          "[, n_probe]) - probe a persisted IVFxPQ index " +
          "(buildIvfPqIndex layout) with the table's query vectors: " +
          "the build-once/search-many lifecycle from SQL. dim comes " +
          "from the index's own coarse table, so the caller cannot " +
          "drift from what was built"),
      (args: Seq[Expression]) => {
        val spark = org.apache.spark.sql.SparkSession.active
        val n = "graft_knn_index_search"
        val dir = strArg(args(0), n)
        val queries = spark.table(strArg(args(1), n))
        val idCol = strArg(args(2), n)
        val vecCol = strArg(args(3), n)
        val k = numArg(args(4), n).toInt
        val nProbe = if (args.length > 5) numArg(args(5), n).toInt else 5
        operators.Knn.searchIvfPqStore(spark, operators.PersistedStore.IvfPq
          .open(spark, dir), queries, idCol, vecCol, k, nProbe)
          .queryExecution.logical
      }),
    (FunctionIdentifier("graft_knn_index_range"),
      info("graft_knn_index_range",
        "graft_knn_index_range(dir, query_table, corpus_table, " +
          "id_col, vec_col, tau[, n_probe]) - radius search over a " +
          "persisted IVFxPQ index: probed cell_id partitions prune " +
          "the candidate read, every returned pair exact-cosine " +
          "verified >= tau against corpus_table. dim comes from the " +
          "index's own coarse table"),
      (args: Seq[Expression]) => {
        val spark = org.apache.spark.sql.SparkSession.active
        val n = "graft_knn_index_range"
        val dir = strArg(args(0), n)
        val queries = spark.table(strArg(args(1), n))
        val corpus = spark.table(strArg(args(2), n))
        val idCol = strArg(args(3), n)
        val vecCol = strArg(args(4), n)
        val tau = numArg(args(5), n)
        val nProbe = if (args.length > 6) numArg(args(6), n).toInt else 5
        operators.Knn.rangeSearchStore(spark, operators.PersistedStore.IvfPq
          .open(spark, dir), queries, idCol, vecCol, tau, corpus, nProbe)
          .queryExecution.logical
      }),
    (FunctionIdentifier("graft_knn_index_sq"),
      info("graft_knn_index_sq",
        "graft_knn_index_sq(dir, query_table, corpus_table, id_col, " +
          "vec_col, k) - top-k search over a persisted SQ8 byte-codes " +
          "store (buildSqIndex layout): the scan reads only the int " +
          "codes, the shortlist re-ranks against corpus_table. dim " +
          "comes from the store's own grid sidecar"),
      (args: Seq[Expression]) => {
        val spark = org.apache.spark.sql.SparkSession.active
        val n = "graft_knn_index_sq"
        val dir = strArg(args(0), n)
        val queries = spark.table(strArg(args(1), n))
        val corpus = spark.table(strArg(args(2), n))
        val idCol = strArg(args(3), n)
        val vecCol = strArg(args(4), n)
        val k = numArg(args(5), n).toInt
        operators.Knn.searchSqStore(spark, operators.PersistedStore.Sq
          .open(spark, dir), queries, idCol, vecCol, k, corpus)
          .queryExecution.logical
      }),
    (FunctionIdentifier("graft_chunk"),
      info("graft_chunk",
        "graft_chunk(table, id_col, text_col, chunk_tok, stride) - " +
          "frozen-BPE token-window chunks (C27's map-only slicing: " +
          "id, chunk_idx, tok_start, n_tok, first/last id, id_wsum, " +
          "chunk array)"),
      (args: Seq[Expression]) => {
        val spark = org.apache.spark.sql.SparkSession.active
        val n = "graft_chunk"
        val df = spark.table(strArg(args(0), n))
        val idCol = strArg(args(1), n)
        val textCol = strArg(args(2), n)
        operators.Packing.tokenChunks(
            df.select(col(idCol),
              functions.bpe.encodeIds(col(textCol),
                operators.Bpe.frozenMerges).as("_ids")),
            idCol, "_ids", numArg(args(3), n).toInt,
            numArg(args(4), n).toInt)
          .queryExecution.logical
      }),
    (FunctionIdentifier("graft_pack_ids"),
      info("graft_pack_ids",
        "graft_pack_ids(table, id_col, text_col, budget[, with_eos]) - " +
          "the packed training sequences' frozen-BPE token-ID tensor " +
          "rows (C32: seq_id, n_tokens, ids); trailing with_eos=true " +
          "appends the EOS document separator to every doc's stream " +
          "before the layout (the GPT-2/NeoX packing convention)"),
      (args0: Seq[Expression]) => {
        val spark = org.apache.spark.sql.SparkSession.active
        val n = "graft_pack_ids"
        val (args, withEos) = splitDryRun(args0)
        val df = spark.table(strArg(args(0), n))
        val idCol = strArg(args(1), n)
        val textCol = strArg(args(2), n)
        operators.Packing.packTokenIds(
            df.select(col(idCol),
              functions.bpe.encodeIds(col(textCol),
                operators.Bpe.frozenMerges).as("_ids")),
            idCol, "_ids", numArg(args(3), n).toLong,
            eosId = if (withEos)
              Some(functions.bpe.eosId(operators.Bpe.frozenMerges))
            else None)
          .queryExecution.logical
      }),
    (FunctionIdentifier("graft_interleave"),
      info("graft_interleave",
        "graft_interleave(table, id_col, strata_col, 'web:3,books:2'" +
          "[, seed]) - the C28 proportional training-order schedule " +
          "from SQL: (ord, id, stratum), every output prefix tracking " +
          "the weight mixture, one rank exchange total"),
      (args: Seq[Expression]) => {
        val spark = org.apache.spark.sql.SparkSession.active
        val n = "graft_interleave"
        val df = spark.table(strArg(args(0), n))
        val seed = if (args.length > 4) numArg(args(4), n).toLong else 42L
        operators.Sampling.interleaveOrder(df, strArg(args(1), n),
            strArg(args(2), n), parseWeights(strArg(args(3), n), n),
            seed)
          .queryExecution.logical
      }),
    (FunctionIdentifier("graft_anneal"),
      info("graft_anneal",
        "graft_anneal(table, id_col, strata_col, " +
          "'main=web:3@0.5,books:1@0.5;anneal=books:2@0.5'[, seed]) - " +
          "the C31 multi-phase annealed curriculum from SQL: phases " +
          "separated by ';', each 'name=src:weight@frac,...' consuming " +
          "frac of each weighted source in its own proportional order; " +
          "(pos, id, stratum, phase), still one rank exchange"),
      (args: Seq[Expression]) => {
        val spark = org.apache.spark.sql.SparkSession.active
        val n = "graft_anneal"
        val df = spark.table(strArg(args(0), n))
        val seed = if (args.length > 4) numArg(args(4), n).toLong else 42L
        operators.Sampling.annealOrder(df, strArg(args(1), n),
            strArg(args(2), n), parsePhases(strArg(args(3), n), n), seed)
          .queryExecution.logical
      }),
    (FunctionIdentifier("graft_knn"),
      info("graft_knn",
        "graft_knn(table, id_col, vec_col, dim, k[, max_query_id]) - " +
          "LSH-pruned exact-rescored top-k cosine neighbors for every " +
          "row with id < max_query_id (default 10)"),
      (args: Seq[Expression]) => {
        val spark = org.apache.spark.sql.SparkSession.active
        val df = spark.table(strArg(args(0), "graft_knn"))
        val idCol = strArg(args(1), "graft_knn")
        val vecCol = strArg(args(2), "graft_knn")
        val dim = numArg(args(3), "graft_knn").toInt
        val k = numArg(args(4), "graft_knn").toInt
        val maxQ = if (args.length > 5) numArg(args(5), "graft_knn").toLong
          else 10L
        operators.Knn.lsh(df, df.filter(col(idCol) < maxQ), idCol, vecCol,
          dim = dim, k = k).queryExecution.logical
      }),
    (FunctionIdentifier("graft_text_quality"),
      info("graft_text_quality",
        "graft_text_quality(table, id_col, text_col) - per-doc quality " +
          "score with diversity/stopword/punctuation components"),
      (args: Seq[Expression]) => {
        val spark = org.apache.spark.sql.SparkSession.active
        val df = spark.table(strArg(args(0), "graft_text_quality"))
        operators.TextOps.quality(df,
          strArg(args(1), "graft_text_quality"),
          strArg(args(2), "graft_text_quality")).queryExecution.logical
      }),
    (FunctionIdentifier("graft_text_entropy"),
      info("graft_text_entropy",
        "graft_text_entropy(table, id_col, text_col) - quantized " +
          "char-entropy quality signal (ent_bits ~ Shannon bits)"),
      (args: Seq[Expression]) => {
        val spark = org.apache.spark.sql.SparkSession.active
        val df = spark.table(strArg(args(0), "graft_text_entropy"))
        operators.TextOps.entropy(df,
          strArg(args(1), "graft_text_entropy"),
          strArg(args(2), "graft_text_entropy")).queryExecution.logical
      }),
    (FunctionIdentifier("graft_bpe_tokens"),
      info("graft_bpe_tokens",
        "graft_bpe_tokens(table, id_col, text_col[, n_merges]) - " +
          "CALL-style: train a BPE merge list on the table's corpus " +
          "(default 24 merges), return per-row token stats under it"),
      (args: Seq[Expression]) => {
        val spark = org.apache.spark.sql.SparkSession.active
        val df = spark.table(strArg(args(0), "graft_bpe_tokens"))
        val idCol = strArg(args(1), "graft_bpe_tokens")
        val textCol = strArg(args(2), "graft_bpe_tokens")
        val n = if (args.length > 3) numArg(args(3), "graft_bpe_tokens").toInt
          else 24
        val merges = operators.Bpe.train(df, textCol, n)
        operators.Bpe.tokenStats(df, idCol, textCol, merges)
          .queryExecution.logical
      }))
}

/** The one session factory: every graft main (Bench, Verify, GenData,
  * the tools) and the specs build their session here, and so does a
  * user following the README. It owns the engine's semantic session
  * config — the keys that change what a graft plan computes or how
  * fast it runs:
  *   - `spark.sql.extensions` = [[GraftExtensions]] (the `graft_*`
  *     functions, TVFs and the prefix-range rewrite);
  *   - `spark.sql.session.timeZone` = UTC (the oracle's time math);
  *   - `spark.sql.optimizer.excludedRules` = `ExcludedOptimizerRules`;
  *   - `spark.sql.timeType.enabled` = true (TIME is feature-gated in
  *     Spark 4.1; the serde supports it — reference sql.Time parity,
  *     HBaseTypeUtils.java:72);
  *   - `spark.sql.legacy.parquet.nanosAsLong` = true (TIMESTAMP(NANOS)
  *     parquet reads as long nanos, see [[Tables]]).
  * AQE and its skew-join handling are on by Spark's own defaults.
  * Callers add only deployment settings (app name, UI, local dirs)
  * through the returned Spark builder.
  */
object GraftSession {

  /** Optimizer rules excluded in every graft session.
    * `InferFiltersFromGenerate` duplicates a generator's child
    * expression into a `size(e) > 0 AND isnotnull(e)` filter BELOW the
    * projection that computes it; every explode in this engine
    * generates from a COMPUTED kernel (shingle hashes, BPE ids, cell
    * structs — never a stored array column, so the inferred filter can
    * never reach a parquet scan), which made the most expensive
    * per-row expressions run twice per row in the scan stage.
    * Measured at sf0.1 (warm, per query): corpus_boilerplate −31%,
    * dedup_minhash_lsh −20%, text_top_terms −17%; no query regressed.
    * Results are unchanged by construction (optimizer rules are
    * semantics-preserving) and the full oracle suite pins it.
    */
  private val ExcludedOptimizerRules =
    "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"

  private val engineConf: Map[String, String] = Map(
    "spark.sql.extensions" -> classOf[GraftExtensions].getName,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.optimizer.excludedRules" -> ExcludedOptimizerRules,
    "spark.sql.timeType.enabled" -> "true",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true")

  def builder(master: String = "local[*]",
              shufflePartitions: Int = 32): org.apache.spark.sql.SparkSession.Builder =
    org.apache.spark.sql.SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config(engineConf)
}
