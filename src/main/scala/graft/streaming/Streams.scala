package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupStateTimeout, OutputMode, StreamingQuery}
import org.apache.spark.sql.types.DecimalType
import graft.operators.{Dedup, Knn, PersistedStore, StoreMaintenance}
import graft.sources.HFileDir

/** Typed event record for the stateful streaming operators. */
case class EventRec(user_id: Long, ts_ms: Long, event_id: Long, value: Double)

/** One exploded MinHash band hit of a streamed document (G12). */
case class BandHit(band: Int, bkey: Long, doc_id: Long)

/** Per-LSH-bucket state (G12): the bucket's stable representative (the
  * first doc that ever hit it) and how many docs it has seen.
  */
case class BucketState(first: Long, n: Long)

/** A streamed near-dup candidate (G12): `doc_id` collided with the
  * bucket representative `first_id` in `band`.
  */
case class NearDupCandidate(doc_id: Long, first_id: Long, band: Int,
                            bkey: Long)

/** Streamed anomaly alert (G13): hour `bucket_ms` of `event_type`
  * closed with `cnt` events, deviating more than k sigma from its
  * trailing `base_n`-hour mean (`mean_milli` = 1000× that mean,
  * floor-divided — the same integer rule as the batch
  * [[graft.queries.Core.rollupAnomaly]]).
  */
case class AnomalyAlert(event_type: String, bucket_ms: Long, cnt: Long,
                        base_n: Long, mean_milli: Long)

/** G13 per-key state: the open hour bucket plus the ring of the last
  * `window` CLOSED (hour_ms, count) pairs, oldest first — O(window)
  * longs per key, independent of throughput.
  */
case class AnomalyState(openHour: Long, openCnt: Long,
                        closed: Seq[(Long, Long)])

/** Structured Streaming surfaces (SURVEY.md §2 G-series) — the role the
  * reference delegates to its Flink runtime, re-expressed on Spark's
  * incremental engine. Batch and streaming share the same expression
  * trees, so a pipeline validated in batch runs incrementally
  * unchanged.
  *
  * Scale posture: every stateful op is bounded by a watermark so state
  * store size is O(keys within the lateness horizon), not O(stream).
  */
object Streams {

  private def dsum(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    sum(c.cast(DecimalType(18, 4))).cast("double")

  /** G1: incremental OpenTSDB-style rollup — event-time window agg with
    * watermarked late-data handling. `events` must carry
    * (event_ts TIMESTAMP, event_type STRING, value DOUBLE). Emits the
    * same per-(bucket, type) aggregate row shape as the batch
    * [[graft.queries.Core.rollup]].
    *
    * Note: the aggregate's output/state schema includes `avg_value`
    * (added after the first release); a query restarted from a
    * checkpoint written before that change fails with a state-schema
    * incompatibility — discard the old checkpoint or point the restarted
    * query at a fresh `checkpointLocation`.
    */
  def rollupStream(events: DataFrame, granularity: String,
                   lateness: String = "1 hour"): DataFrame = {
    val win = granularity match {
      case "hour" => "1 hour"
      case "day"  => "1 day"
      case other  => throw new IllegalArgumentException(other)
    }
    events
      .withWatermark("event_ts", lateness)
      .groupBy(window(col("event_ts"), win), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        dsum(col("value")).as("sum_value"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"),
        (dsum(col("value")) / count(lit(1))).as("avg_value"))
      .select(unix_millis(col("window.start")).as("bucket_ms"),
        col("event_type"), col("n_events"), col("sum_value"),
        col("min_value"), col("max_value"), col("avg_value"))
  }

  /** G2: streaming exact dedup on a content fingerprint; state expires
    * with the watermark instead of growing forever.
    */
  def dedupStream(docs: DataFrame, tsCol: String,
                  lateness: String = "1 hour"): DataFrame =
    docs
      .withColumn("fp", md5(col("text")))
      .withWatermark(tsCol, lateness)
      .dropDuplicatesWithinWatermark("fp")

  /** G12: streaming near-dup candidate detection — the stream half of
    * the C3 MinHash-LSH pipeline: each arriving document computes the
    * SAME codegen MinHash signature kernel the batch path uses,
    * explodes into its `bands` (band, band-hash) keys, and per-bucket
    * keyed state remembers only the bucket's REPRESENTATIVE (the first
    * doc that ever hit it) plus a count — so a crawl stream surfaces
    * "this document collides with something already ingested" within
    * one micro-batch, without ever holding documents in state.
    *
    * Emits one [[NearDupCandidate]] per (arriving doc, colliding band)
    * — CANDIDATES, exactly like the batch LSH stage before
    * verification; the exact-Jaccard verify runs downstream (batch C5
    * over the day's candidate ids, or a stream-static join against the
    * corpus), mirroring how the batch pipeline separates banding from
    * verification.
    *
    * State & skew posture: state is O(live buckets) × 16 bytes,
    * independent of stream length; `idleTimeoutMs > 0` turns on a
    * processing-time timeout that evicts buckets no longer colliding
    * (use it WITH a real trigger interval — under the default 0 ms
    * trigger, processing-time timeouts make the engine churn empty
    * micro-batches back to back, each paying a full state-store
    * commit), and `maxBucket` stops emission from a degenerate bucket
    * (the empty-document key — the same guard as batch
    * `lshCandidatePairs.maxBucket`) so one hot bucket cannot flood the
    * sink. `idleTimeoutMs = 0` keeps state until the query ends (the
    * spec mode, and the right mode for bounded replay). Within a
    * micro-batch, arrivals are processed in id order, so output is
    * deterministic for a given batch partitioning.
    */
  def nearDupCandidatesStream(docs: DataFrame, idCol: String = "doc_id",
                              textCol: String = "text", k: Int = 3,
                              perms: Int = 128, bands: Int = 16,
                              maxBucket: Long = 1000L,
                              idleTimeoutMs: Long = 0L)
      : Dataset[NearDupCandidate] = {
    val timeoutConf =
      if (idleTimeoutMs > 0) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    val sp = docs.sparkSession
    import sp.implicits._
    // the batch blocking's own band keys: stream and batch buckets
    // collide by construction
    val hits = Dedup.lshBandKeys(docs, col(idCol).cast("long"), "doc_id",
        textCol, k, perms, bands)
      .as[BandHit]
    hits
      .groupByKey(h => (h.band, h.bkey))
      .flatMapGroupsWithState[BucketState, NearDupCandidate](
        OutputMode.Append, timeoutConf) {
        (key, batch, state) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val ids = batch.map(_.doc_id).toArray.sorted
            val (first, newcomers) = state.getOption match {
              case Some(s) => (s.first, ids.toSeq)
              case None => (ids.head, ids.toSeq.tail)
            }
            val seen = state.getOption.map(_.n).getOrElse(0L)
            // emission budget: a degenerate bucket stops flooding once
            // it has seen maxBucket docs (batch maxBucket analogue)
            val room = math.max(0L, maxBucket - seen).toInt
            val out = newcomers.filter(_ != first).take(room)
              .map(d => NearDupCandidate(d, first, key._1, key._2))
            state.update(BucketState(first, seen + ids.length))
            if (idleTimeoutMs > 0) state.setTimeoutDuration(idleTimeoutMs)
            out.iterator
          }
      }
  }

  /** G8: streaming decontamination — annotates each streamed document
    * with its exact `k`-word-shingle overlap against a STATIC
    * eval/benchmark set (`n_grams`, `n_hits`), so a curation stream can
    * gate on `n_hits == 0` before anything reaches the sink; batch
    * semantics in [[graft.operators.Dedup.decontaminate]].
    *
    * Stateless by construction: the eval set collapses once to a single
    * sorted gram array (bounded by the benchmark suite, not the
    * stream), is broadcast to every micro-batch, and the overlap is a
    * per-row `array_intersect` — no streaming state, no watermark, any
    * output mode. The batch operator's explode + groupBy shape would
    * need stream aggregation state for the same answer; per-row set
    * intersection against a broadcast array gives it for free.
    */
  def decontaminateStream(docs: DataFrame, evalSet: DataFrame,
                          idCol: String, textCol: String,
                          k: Int = 5): DataFrame = {
    val evArr = evalSet
      .select(explode(graft.operators.Dedup.shingleHashes(
        col(textCol), k)).as("g"))
      .distinct()
      .agg(sort_array(collect_list(col("g"))).as("_ev"))
    docs
      .withColumn("_sh",
        graft.operators.Dedup.shingleHashes(col(textCol), k))
      .crossJoin(broadcast(evArr))
      .withColumn("n_grams", size(col("_sh")).cast("long"))
      .withColumn("n_hits",
        size(array_intersect(col("_sh"), col("_ev"))).cast("long"))
      .drop("_sh", "_ev")
  }

  /** G21: streaming FUZZY decontamination — the near-dup twin of G8
    * ([[decontaminateStream]] catches VERBATIM benchmark leakage by
    * exact gram overlap; this catches the paraphrase-level rest by
    * MinHash-LSH Jaccard, [[graft.operators.Dedup.decontaminateFuzzy]]
    * made streaming): the eval/benchmark set is pre-indexed ONCE into
    * a [[graft.operators.Dedup.buildLshIndex]] layout, and each
    * micro-batch probes it via
    * [[graft.operators.Dedup.incrementalMinhashIndexed]] — the eval
    * index in the corpus seat (its flat bucket table filtered
    * map-side to the batch's colliding keys, eval TEXT served from
    * `evalSet` only for the candidate verification join), the stream
    * batch in the broadcast probe seat. Every batch doc gets a
    * verdict row `(id, is_contaminated, n_eval_matches, max_jaccard)`
    * — the gate a curation stream applies before anything reaches the
    * sink.
    *
    * State-free like G8: the index is static (decontamination never
    * appends — contrast G17, where survivors ENTER the history), so
    * verdicts are independent across micro-batches, the union over
    * batches equals one batch run over the same docs (spec-pinned),
    * and no epoch markers are needed: a redelivered epoch recomputes
    * identical rows. The index is opened once, when the stream is
    * defined (its signature sidecar is frozen); each batch re-lists
    * only the bucket files.
    */
  def decontaminateFuzzyStream(docs: DataFrame, evalIndexDir: String,
                               evalSet: DataFrame, idCol: String,
                               textCol: String,
                               threshold: Double = 0.7)
                              (sink: (DataFrame, Long) => Unit)
      : DataStreamWriter[Row] = {
    val store = PersistedStore.Lsh.open(docs.sparkSession, evalIndexDir)
    docs.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch0: Dataset[Row], epochId: Long) =>
        if (!batch0.isEmpty) {
          val batch = batch0.toDF()
          val hits = store.probe(evalSet, batch, idCol, textCol, threshold)
          val rolled = hits.groupBy(col("batch_id"))
            .agg(count(lit(1)).as("n_eval_matches"),
              round(max(col("jaccard")), 6).as("max_jaccard"))
          // join on the id's OWN type (incrementalMinhash carries it
          // through untyped): a cast to long would NULL out string ids
          // and silently mark every doc clean
          val verdict = batch.select(col(idCol))
            .join(rolled, batch(idCol) === rolled("batch_id"), "left")
            .select(col(idCol),
              col("n_eval_matches").isNotNull.as("is_contaminated"),
              coalesce(col("n_eval_matches"), lit(0L))
                .as("n_eval_matches"),
              col("max_jaccard"))
          sink(verdict, epochId)
        }
      }
  }

  /** G9: streaming corpus-quality monitor — watermarked per-(window,
    * source) aggregates of the curation quality score over a document
    * stream: doc count, mean quality, how many fall below the curation
    * threshold, and total characters. The score is the SAME expression
    * tree the batch pipeline fuses into its scan
    * ([[graft.operators.TextOps.qualityScore]] — whole-stage-codegen,
    * no UDF), so an ingest stream reports exactly the quality the
    * nightly batch curation will act on; a drifting `low_frac` is the
    * canary that a source started shipping template junk.
    *
    * State is the windowed aggregate only — O(sources × open windows),
    * independent of stream length; the watermark closes windows and
    * evicts them.
    */
  def qualityMonitorStream(docs: DataFrame, tsCol: String,
                           sourceCol: String, textCol: String,
                           windowLen: String = "1 hour",
                           lateness: String = "1 hour",
                           minQuality: Double = 0.7): DataFrame =
    docs
      .withColumn("_q",
        graft.operators.TextOps.qualityScore(col(textCol)))
      .withWatermark(tsCol, lateness)
      .groupBy(window(col(tsCol), windowLen), col(sourceCol))
      .agg(
        count(lit(1)).as("n_docs"),
        round(sum(col("_q").cast(DecimalType(18, 6))).cast("double") /
          count(lit(1)), 6).as("avg_quality"),
        sum(when(col("_q") < minQuality, 1L).otherwise(0L))
          .as("n_low_quality"),
        sum(length(col(textCol)).cast("long")).as("sum_chars"))
      .select(unix_millis(col("window.start")).as("bucket_ms"),
        col(sourceCol), col("n_docs"), col("avg_quality"),
        col("n_low_quality"), col("sum_chars"))

  /** G11: streaming heavy hitters — the A19 Misra–Gries sketch under a
    * watermarked window: per closed window, the ≤`capacity` hottest
    * keys with lower-bound counts. The sketch is a
    * `TypedImperativeAggregate`, so Structured Streaming checkpoints
    * its serialized counters in the state store between micro-batches
    * exactly like the built-in sketch aggregates — state is
    * O(open windows × capacity), independent of the key cardinality
    * flowing through (the point at ingest scale: a hot-key monitor
    * whose state can't grow with the user space). The batch guarantee
    * carries over per window: any key with more than
    * `n_window / (capacity+1)` arrivals is present in that window's
    * list. Counts are arrival-order-dependent lower bounds — alert on
    * PRESENCE and magnitude, or re-count exactly downstream as
    * `Core.heavyHitters`' refine pass does.
    */
  def heavyHitterStream(events: DataFrame, tsCol: String, keyCol: String,
                        windowLen: String = "1 hour",
                        lateness: String = "1 hour",
                        capacity: Int = 64): DataFrame =
    events
      .withWatermark(tsCol, lateness)
      .groupBy(window(col(tsCol), windowLen))
      .agg(count(lit(1)).as("n_events"),
        graft.functions.FreqItemsSketch(col(keyCol), capacity)
          .as("hitters"))
      .select(unix_millis(col("window.start")).as("bucket_ms"),
        col("n_events"), col("hitters"))

  /** G13: streaming series-anomaly alerts — the incremental twin of the
    * batch [[graft.queries.Core.rollupAnomaly]]: per event_type, each
    * CLOSED hour's count is tested against the mean/variance of the
    * trailing `window` closed hours with the same division-free
    * integer rule, `(n·x − S)² > k²·(n·Q − S²)` (BigInt intermediates
    * stand in for the batch plan's DECIMAL(38) headroom), and alerts
    * stream out in append mode as hours close.
    *
    * An hour closes when a LATER-hour event for the same key arrives —
    * so events may arrive in any order within the open hour, but an
    * event for an already-closed hour is dropped (the stream analogue
    * of the batch rollup's finality; feed a lateness-tolerant pipeline
    * through [[rollupStream]]'s watermark instead if late arrivals
    * must count). For in-order input the emitted alerts are EXACTLY
    * the batch operator's rows for every closed hour — pinned by the
    * parity spec.
    *
    * State is O(window) longs per key (the count ring), independent of
    * event volume — the alerting monitor a 100 TB/day ingest needs:
    * nothing about the raw stream is retained.
    *
    * `idleTimeoutMs` caveat (the G12 timeout note's analogue): eviction
    * discards the key's WHOLE state — the open hour's partial count
    * AND the base ring — so a merely-idle key that later resumes
    * restarts cold: its re-opened hour counts only post-resume events
    * and no alert fires until `minBase` fresh hours rebuild. Use it
    * only for keys that are truly gone (retired metrics), not bursty
    * ones; off by default.
    */
  def anomalyStream(events: DataFrame, tsCol: String, typeCol: String,
                    window: Int = 24, minBase: Int = 12, k: Int = 3,
                    idleTimeoutMs: Long = 0L): Dataset[AnomalyAlert] = {
    val sp = events.sparkSession
    import sp.implicits._
    val timeoutConf =
      if (idleTimeoutMs > 0) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    val typed = events.select(col(typeCol).cast("string"),
        expr(s"(unix_millis($tsCol) DIV 3600000) * 3600000"))
      .as[(String, Long)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[AnomalyState, AnomalyAlert](
        OutputMode.Append, timeoutConf) { (tpe, rows, state) =>
        if (state.hasTimedOut) { state.remove(); Iterator.empty }
        else {
          val hours = rows.map(_._2).toArray.sorted
          var st = state.getOption
            .getOrElse(AnomalyState(Long.MinValue, 0L, Nil))
          val out = scala.collection.mutable.ArrayBuffer[AnomalyAlert]()
          def close(): Unit = if (st.openHour != Long.MinValue) {
            val ring = st.closed
            val n = ring.length.toLong
            if (n >= minBase) {
              val s = ring.iterator.map(_._2).sum
              val q = ring.iterator.map(c => BigInt(c._2) * c._2).sum
              val dev = BigInt(n) * st.openCnt - s
              val varn = BigInt(n) * q - BigInt(s) * s
              if (dev * dev > BigInt(k.toLong * k) * varn)
                out += AnomalyAlert(tpe, st.openHour, st.openCnt, n,
                  Math.floorDiv(s * 1000L, n))
            }
            st = st.copy(
              closed = (ring :+ ((st.openHour, st.openCnt)))
                .takeRight(window))
          }
          hours.foreach { h =>
            if (h == st.openHour) st = st.copy(openCnt = st.openCnt + 1)
            else if (h > st.openHour) {
              close()
              st = st.copy(openHour = h, openCnt = 1L)
            } // h < openHour: late event for a closed hour — dropped
          }
          state.update(st)
          if (idleTimeoutMs > 0) state.setTimeoutDuration(idleTimeoutMs)
          out.iterator
        }
      }
  }

  /** G14: streaming token-throughput monitor — the ingest dashboard
    * feed a training-data pipeline watches: per closed (window, source)
    * the document count, BPE token count under a FIXED trained merge
    * list (E12's `Bpe.train` output, a plan constant — training stays
    * a batch job; the stream only encodes), and tokens/sec. Stateless
    * kernel work per row + one watermarked windowed aggregate, so
    * state is O(open windows × sources) regardless of volume. The
    * token count is the same fused kernel as the batch `tokenStats`,
    * so a rate alert here reconciles exactly with batch accounting.
    */
  def tokenRateStream(docs: DataFrame, tsCol: String, sourceCol: String,
                      textCol: String,
                      merges: Seq[(String, String)],
                      windowLen: String = "1 minute",
                      lateness: String = "1 minute"): DataFrame =
    docs
      .withColumn("_tok",
        graft.functions.bpe.tokenCount(col(textCol), merges))
      .withWatermark(tsCol, lateness)
      .groupBy(window(col(tsCol), windowLen), col(sourceCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("_tok")).as("n_tokens"))
      .select(unix_millis(col("window.start")).as("bucket_ms"),
        unix_millis(col("window.end")).as("end_ms"),
        col(sourceCol), col("n_docs"), col("n_tokens"))
      .withColumn("tokens_per_sec",
        round(col("n_tokens") /
          ((col("end_ms") - col("bucket_ms")) / lit(1000.0)), 6))
      .drop("end_ms")

  /** G15: streaming chunk feed — the RAG-ingest twin of C27: documents
    * arrive as a stream and each emits its token-window chunk rows
    * (frozen-BPE ids, same chunkTok/stride semantics) in the same
    * micro-batch. [[graft.operators.Packing.tokenChunks]] is MAP-ONLY
    * (explode + slice, no shuffle, no state), so it is stream-safe
    * verbatim and the streaming rows are bit-identical to a batch run
    * over the same docs (spec-pinned): a downstream vector indexer
    * consumes the stream and needs no reconciliation pass. Stateless ⇒
    * append-mode, no watermark required, per-record cost identical to
    * batch.
    */
  def chunkStream(docs: DataFrame, idCol: String, textCol: String,
                  merges: Seq[(String, String)], chunkTok: Int,
                  stride: Int): DataFrame =
    graft.operators.Packing.tokenChunks(
      docs.select(col(idCol),
        graft.functions.bpe.encodeIds(col(textCol), merges).as("_ids")),
      idCol, "_ids", chunkTok, stride)

  /** G16: streaming vector search — the ONLINE-SERVING half of the
    * D8 "build once, search many" lifecycle: query vectors arrive as a
    * stream and each micro-batch is searched against the PERSISTED
    * IVF×PQ index ([[graft.operators.Knn.buildIvfPqIndex]] layout),
    * results handed to `sink` (the production shape: an ingest topic
    * of embeddings on one side, a frozen index on the other, no
    * per-batch training or corpus pass). `foreachBatch` is the bridge
    * — the search needs a driver-side probed-cell list and per-query
    * windows, which a continuous streaming plan cannot host; inside
    * the batch it is exactly [[graft.operators.Knn.searchIvfPqIndex]]:
    * probes broadcast, `cell_id IN (...)` partition pruning, ADC +
    * optional exact re-rank.
    *
    * Per-query results are independent (probes, ADC and the top-k
    * window all partition by query_id), so the union over micro-batches
    * is bit-identical to ONE batch search over the same queries
    * (spec-pinned) — no reconciliation pass downstream. State-free:
    * the index is the static side; nothing carries between batches.
    * The store is opened ONCE, at stream definition: the frozen
    * quantizers are never re-read per batch, while each batch re-lists
    * the probed code partitions, so concurrent appends are served.
    */
  def indexSearchStream(queries: DataFrame, dir: String, idCol: String,
                        vecCol: String, k: Int, nProbe: Int = 5,
                        rescoreWith: Option[DataFrame] = None)
                       (sink: (DataFrame, Long) => Unit)
      : DataStreamWriter[Row] = {
    val store = PersistedStore.IvfPq.open(queries.sparkSession, dir)
    queries.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: Dataset[Row], epochId: Long) =>
        if (!batch.isEmpty) {
          sink(Knn.searchIvfPqStore(batch.sparkSession, store, batch.toDF(),
            idCol, vecCol, k, nProbe, rescoreWith = rescoreWith), epochId)
        }
      }
  }

  /** G18: streaming SQ-store vector search — [[indexSearchStream]]'s
    * shape for the D11b flat store: query vectors arrive as a stream,
    * each micro-batch runs [[graft.operators.Knn.searchSqIndex]]
    * against the PERSISTED byte-codes dir (the scan reads only the
    * int-code column; the stored affine grid reconstructs map-side;
    * the `overscan·k` shortlist re-ranks against `corpus`
    * full-precision vectors). The store is opened ONCE, at stream
    * definition (G16's rule): the grid is never re-read per batch.
    *
    * Per-query results are independent (the salted top-k windows all
    * partition by query id), so the union over micro-batches is
    * bit-identical to ONE batch search over the same queries
    * (spec-pinned). State-free: the store is the static side; a
    * crashed compaction is swept by the search path's own
    * `recoverFlat` open sweep.
    */
  def sqSearchStream(queries: DataFrame, dir: String, idCol: String,
                     vecCol: String, k: Int, corpus: DataFrame,
                     overscan: Int = 4)
                    (sink: (DataFrame, Long) => Unit)
      : DataStreamWriter[Row] = {
    val store = PersistedStore.Sq.open(queries.sparkSession, dir)
    queries.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: Dataset[Row], epochId: Long) =>
        if (!batch.isEmpty) {
          sink(Knn.searchSqStore(batch.sparkSession, store, batch.toDF(),
            idCol, vecCol, k, corpus, overscan), epochId)
        }
      }
  }

  /** G19: streaming vector INGEST-append — the write half of the
    * vector-store serving story (G16/G18 read the stores; this is the
    * loop that continuously FEEDS them), [[dedupIngestStream]]'s G17
    * loop ([[ingestStream]]) for embeddings: each micro-batch of
    * vectors probes the persisted store for near-dups (exact-rescored
    * top-`probeK` against the full-precision `vecStoreDir` twin), every
    * batch vector gets a verdict row `(id, is_dup, match_id,
    * best_cosine)`, and the SURVIVORS (best exact cosine < `dupCosine`)
    * append to BOTH the index (encode under the FROZEN quantizers — a
    * pure file-add) and the vector store (marker `.vec`), so the next
    * micro-batch dedups against them. The layout — IVF×PQ
    * ([[graft.operators.Knn.searchIvfPqIndex]] /
    * [[graft.operators.Knn.appendToIvfPqIndex]]) or SQ8
    * ([[graft.operators.Knn.searchSqIndex]] /
    * [[graft.operators.Knn.appendToSqIndex]]) — is detected from the
    * store's sidecars, which are read once, when the stream is defined.
    * Caller bootstraps the two directories consistently (build the
    * index from a corpus and write the same corpus' `(id, vec)` rows to
    * `vecStoreDir`). The loop's self-match exclusion trims the
    * top-`probeK` candidate list, so `probeK` > 1 keeps a true history
    * match visible behind a batch-self hit.
    */
  def vectorIngestStream(vectors: DataFrame, idCol: String,
                         vecCol: String, indexDir: String,
                         vecStoreDir: String,
                         dupCosine: Double = 0.995, probeK: Int = 4,
                         streamId: String = "default")
                        (sink: (DataFrame, Long) => Unit)
      : DataStreamWriter[Row] = {
    val store = PersistedStore.open(vectors.sparkSession, indexDir) match {
      case v: PersistedStore.VectorStore => v
      case _ => throw new IllegalArgumentException(
        s"$indexDir is an LSH store, not a vector store")
    }
    ingestStream(vectors, store, idCol, vecCol, vecStoreDir, "vec",
        "cosine", streamId) { (batch, history) =>
      store.search(batch.sparkSession, batch, idCol, vecCol, probeK, history)
        .filter(col("cosine") >= dupCosine)
        .select(col("query_id").as("batch_id"),
          col("neighbor_id").as("match_id"), col("cosine"))
    }(sink)
  }

  /** The epoch-marked ingest loop of G17 ([[dedupIngestStream]]) and
    * G19 ([[vectorIngestStream]]). Per micro-batch: `probe` the batch
    * against the store and the `sideDir` history (its duplicate pairs
    * `(batch_id, match_id, <score>)`), one verdict row `(id, is_dup,
    * match_id, best_<score>)` per batch record, the SURVIVORS'
    * `(idCol, valueCol)` appended to the store and to `sideDir`, then
    * the sink.
    *
    * Duplicates are judged vs HISTORY (the store as of the batch's
    * arrival): two near-dups inside ONE micro-batch both survive (a
    * corpus-level pass owns in-batch dedup). The verdict and survivors
    * are localCheckpointed BEFORE the appends, because the probe plan
    * reads the data files lazily and a post-append action would re-list
    * them and match the batch against itself; their blocks are freed
    * once the sink has consumed them. State lives in the directories,
    * not the stream.
    *
    * At-least-once hardening: `foreachBatch` may re-deliver an epoch
    * after a partial failure, and the body runs three non-atomic
    * mutations (store append, side append, sink). Three guards make a
    * redelivery converge: (1) an `_epochs/<streamId>/<epoch>.done`
    * marker in the store dir skips fully-committed epochs; (2) the
    * probe EXCLUDES pairs whose history side is one of the batch's own
    * ids, so a retry over a half-committed append reproduces the
    * ORIGINAL verdict; (3) per-mutation markers (`.idx`,
    * `.<sideMarker>`) make each append run at most once. Residual
    * window: a crash BETWEEN an append completing and its marker write
    * re-appends that batch's rows on retry — verdicts stay correct
    * (guard 2; max_by is duplicate-insensitive) but the store carries
    * duplicate rows until a repair or rebuild (fsck flags them); closing
    * it fully would need an atomic-rename staging layout, which the
    * pure-file-add appends deliberately trade away.
    *
    * `streamId` namespaces the markers: epoch numbers restart at 0
    * with a FRESH checkpoint, so a new logical stream over an existing
    * store must pass a new streamId (or its early epochs would be
    * skipped as already-committed), while a restart-from-checkpoint
    * keeps the same one so redelivered epochs ARE recognized.
    */
  private def ingestStream(input: DataFrame, store: PersistedStore.Store,
      idCol: String, valueCol: String, sideDir: String, sideMarker: String,
      score: String, streamId: String)
      (probe: (DataFrame, DataFrame) => DataFrame)
      (sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    input.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch0: Dataset[Row], epochId: Long) =>
        val batch = batch0.toDF()
        val spark = batch0.sparkSession
        val epochsRoot = new org.apache.hadoop.fs.Path(
          new org.apache.hadoop.fs.Path(store.dir, "_epochs"), streamId)
        val fs = epochsRoot.getFileSystem(
          spark.sparkContext.hadoopConfiguration)
        def marker(suffix: String) =
          new org.apache.hadoop.fs.Path(epochsRoot, s"$epochId.$suffix")
        def commit(suffix: String): Unit =
          fs.create(marker(suffix), true).close()
        if (fs.exists(marker("done"))) {
          // guard (1): a redelivered committed epoch — everything ran
        } else if (!batch.isEmpty) {
          StoreMaintenance.freeingBlocks(spark) {
            val pairs = probe(batch, spark.read.parquet(sideDir))
              .join(batch.select(batch(idCol).as("match_id")),
                Seq("match_id"), "left_anti") // guard (2)
            val best = pairs.groupBy(col("batch_id"))
              .agg(max_by(col("match_id"),
                  struct(col(score), -col("match_id"))).as("match_id"),
                max(col(score)).as(s"best_$score"))
            // EAGER: pin the verdict before the appends below mutate the
            // directories its plan reads
            val verdict = batch.select(col(idCol))
              .join(best, batch(idCol) === best("batch_id"), "left")
              .select(col(idCol), col("match_id").isNotNull.as("is_dup"),
                col("match_id"), col(s"best_$score"))
              .localCheckpoint()
            val survivors = batch.select(col(idCol), col(valueCol))
              .join(verdict.filter(col("is_dup")).select(col(idCol)),
                Seq(idCol), "left_anti")
              .localCheckpoint()
            // guard (3): each append at most once across redeliveries
            if (!fs.exists(marker("idx"))) {
              store.append(survivors, idCol, valueCol)
              commit("idx")
            }
            if (!fs.exists(marker(sideMarker))) {
              survivors.write.mode("append").parquet(sideDir)
              commit(sideMarker)
            }
            sink(verdict, epochId)
          }
          commit("done")
        } else {
          commit("done") // empty epoch: nothing to mutate
        }
      }

  /** G20: streaming store MAINTENANCE — the babysitter loop that
    * closes the advisor story: G19 ingests continuously, so
    * fragmentation and corruption now ACCRUE continuously, and the
    * runbook row [[graft.operators.PersistedStore.advise]] emits
    * (repair>rebuild>compact>ok precedence) is exactly the decision a
    * cron'd operator would act on. Each tick of `ticks` (any trigger
    * stream — a rate source in production; the tick ROWS are ignored,
    * the trigger is the signal) advises the store at `dir` (its kind
    * detected from the sidecars) and APPLIES what it recommends:
    * `repair` → [[graft.operators.PersistedStore.repair]], `compact` →
    * [[graft.operators.PersistedStore.compact]],
    * `rebuild` → reported but NEVER auto-applied (a rebuild retrains
    * the frozen quantizers — a training decision with an owner, not
    * file surgery a babysitter should fire). One action per tick, by
    * design: the advisor's precedence means a corrupt-AND-fragmented
    * store repairs on tick N and compacts on tick N+1, each action
    * re-advised against the store's actual post-action state rather
    * than a stale plan.
    *
    * No epoch markers, deliberately (contrast G17/G19): every
    * maintenance verb here is idempotent and crash-safe on its own
    * (repair converges, compaction journals through `_compact_tmp` /
    * staged cell overwrites), so a redelivered tick re-advises the
    * already-maintained store, gets `ok`, and applies nothing — the
    * loop's state IS the store. Sink rows: (epoch, store, action,
    * reason, applied) — the audit log of what the babysitter did and
    * why, one row per tick.
    *
    * `corpus` feeds the drift leg of the IVF×PQ and SQ8 advisors
    * (required there, unused for LSH — its decay metric is an eval
    * cadence, not an advisor scan). At 100 TB the tick cadence is the
    * fsck cadence: every leg is driver-O(partitions) listings plus one
    * drift join, nothing proportional to tick rate. An EMPTY
    * micro-batch (the no-data trigger Spark fires after restart or
    * watermark advance) is not a tick: no advise listings run, no
    * audit row is emitted.
    *
    * `backupBefore = Some(parentDir)` is the advisor runbook's own
    * snapshot-first discipline wired in: before a REPAIR is applied,
    * the store is snapshotted ([[graft.operators.StoreMaintenance
    * .backupStore]]) to `parentDir/pre_repair_epoch_<id>`, so a
    * repair that goes wrong always leaves a restorable point-in-time
    * copy of the pre-surgery state. Repair only, deliberately:
    * compaction is journaled crash-safe and row-preserving on every
    * store, but repair QUARANTINES rows it judges corrupt — the one
    * babysitter action that destroys data on a wrong judgment. A
    * redelivered epoch finds its snapshot dir already present and
    * reuses it (backup never overwrites; the first attempt's snapshot
    * IS the pre-repair state worth keeping). Retention defaults to
    * the operator's cadence ([[graft.operators.StoreMaintenance
    * .pruneStoreBackups]] run separately; `keepBackups = 0`), but a
    * long-running loop can bound its own accumulation with
    * `keepBackups = N`: after a repair tick's snapshot+surgery, the
    * parent is pruned to the newest N — under prune's own guard that
    * the last verify-green snapshot is never deleted, so auto-
    * retention can never leave the loop without a restorable copy.
    * Prune runs AFTER the repair (never between snapshot and
    * surgery): a prune failure must not strand an unsnapshotted
    * repair. `keepBackupsDays = D` adds the AGE axis ("keep D days
    * plus the last N"): the sweep deletes only snapshots BOTH beyond
    * the keep-count and older than D days
    * ([[graft.operators.StoreMaintenance.pruneStoreBackups]]'s
    * `olderThanMs`); with `keepBackups = 0` it implies keep=1, the
    * pure-age policy.
    *
    * `incrementalBackups = true` chains each pre-repair snapshot on
    * the newest GREEN existing snapshot under the parent
    * ([[graft.operators.StoreMaintenance.backupStore]]'s `base=`):
    * files unchanged since the base are manifest-referenced instead
    * of re-copied, so a babysat store stops paying a full copy per
    * repair tick. Green-only chaining, deliberately — carrying rows
    * from a failing base would make the NEW snapshot unrestorable,
    * defeating the verb's whole point; with no green base the
    * snapshot is full. Composes with `keepBackups`: prune never
    * deletes a base a retained incremental still references (it
    * reports `kept` as the chain's physical holder instead).
    */
  def maintenanceStream(ticks: DataFrame, dir: String,
                        corpus: Option[DataFrame] = None,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding",
                        maxFilesPerPartition: Int = 1,
                        minBytes: Long = PersistedStore.SmallFileBytes,
                        backupBefore: Option[String] = None,
                        keepBackups: Int = 0,
                        keepBackupsDays: Double = 0.0,
                        incrementalBackups: Boolean = false)
                       (sink: (DataFrame, Long) => Unit)
      : DataStreamWriter[Row] = {
    val kind = PersistedStore.detect(ticks.sparkSession, dir)
    require(!kind.hasDrift || corpus.nonEmpty,
      s"the ${kind.kind} advisor needs a corpus= for its drift leg")
    ticks.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: Dataset[Row], epochId: Long) =>
        // an empty micro-batch (no-data trigger after restart /
        // watermark advance) is NOT a tick: skip the driver-side
        // advise listings and emit no phantom audit row
        if (!batch.isEmpty) {
        val spark = batch.sparkSession
        import spark.implicits._
        val advice = PersistedStore.advise(spark, dir, corpus, idCol,
            vecCol, maxFilesPerPartition, minBytes)
          .collect().head // ONE runbook row by construction
        val action = advice.getAs[String]("action")
        val applied = action match {
          case "repair" =>
            backupBefore.foreach { parent =>
              val snap = s"$parent/pre_repair_epoch_$epochId"
              val sp = new org.apache.hadoop.fs.Path(snap)
              val fs = sp.getFileSystem(
                spark.sparkContext.hadoopConfiguration)
              // completion test is the MANIFEST (written last in
              // backupStore), not the bare dir: a crash mid-backup
              // leaves a partial dir that must never be accepted as
              // the pre-repair copy — sweep it and re-snapshot. A
              // manifested snapshot from a redelivered epoch holds
              // the first attempt's pre-repair state — keep it.
              val manifested = fs.exists(
                new org.apache.hadoop.fs.Path(sp, "_backup_manifest"))
              if (!manifested) {
                if (fs.exists(sp)) fs.delete(sp, true)
                // incremental chaining: base = the newest GREEN prior
                // snapshot (a failing base would make THIS snapshot
                // unrestorable); none green -> full snapshot
                val base =
                  if (!incrementalBackups) None
                  else graft.operators.StoreMaintenance
                    .listStoreBackups(spark, parent).collect()
                    .find(_.getAs[Boolean]("verify_ok"))
                    .map(r => s"$parent/${r.getAs[String]("snapshot")}")
                graft.operators.StoreMaintenance
                  .backupStore(spark, dir, snap, base)
              }
            }
            PersistedStore.repair(spark, dir)
            // auto-retention AFTER the surgery, never between snapshot
            // and repair; prune's last-green guard keeps a restorable
            // copy whatever this sweep decides
            if (keepBackups > 0 || keepBackupsDays > 0)
              backupBefore.foreach { parent =>
                graft.operators.StoreMaintenance.pruneStoreBackups(
                  spark, parent, math.max(keepBackups, 1),
                  olderThanMs = if (keepBackupsDays > 0)
                    Some((keepBackupsDays * 86400000L).toLong)
                  else None).collect()
              }
            true
          case "compact" =>
            PersistedStore.compact(spark, dir, maxFilesPerPartition, minBytes)
            true
          case _ => false // ok / rebuild: report-only
        }
        sink(Seq((epochId, advice.getAs[String]("store"), action,
          advice.getAs[String]("reason"), applied))
          .toDF("epoch", "store", "action", "reason", "applied"),
          epochId)
        }
      }
  }

  /** G17: streaming ingest dedup — the crawl-ingest LOOP the C25
    * persisted LSH index exists for, run as a stream ([[ingestStream]],
    * where its contract and at-least-once guards are documented): each
    * micro-batch of documents probes the index
    * ([[graft.operators.Dedup.incrementalMinhash]] over the store's
    * bucket table, filtered map-side to the batch's colliding keys,
    * candidate docs' text served from `docStoreDir`), every batch doc
    * gets a verdict row `(id, is_dup, match_id, best_jaccard)`, and the
    * SURVIVORS (no history match) append to BOTH the index (a pure
    * file-add) and the doc store (marker `.doc`), so the next
    * micro-batch dedups against them — exactly like the sequential
    * batch loop this is spec-pinned against. Caller bootstraps the two
    * directories consistently: `buildLshIndex(corpus, …, indexDir)` and
    * the same corpus' `(id, text)` written to `docStoreDir` (an empty
    * corpus is a legal bootstrap). The index's signature sidecar is
    * read once, when the stream is defined.
    */
  def dedupIngestStream(docs: DataFrame, idCol: String, textCol: String,
                        indexDir: String, docStoreDir: String,
                        threshold: Double = 0.7, maxBucket: Int = 1000,
                        streamId: String = "default")
                       (sink: (DataFrame, Long) => Unit)
      : DataStreamWriter[Row] = {
    val store = PersistedStore.Lsh.open(docs.sparkSession, indexDir)
    ingestStream(docs, store, idCol, textCol, docStoreDir, "doc", "jaccard",
        streamId) { (batch, history) =>
      store.probe(history, batch, idCol, textCol, threshold, maxBucket)
        .select(col("batch_id"), col("corpus_id").as("match_id"),
          col("jaccard"))
    }(sink)
  }

  /** G4: streaming enrichment lookup join — the reference's
    * HBaseRowDataLookupFunction role (point-GET a dimension row per
    * stream record): a stream-static LEFT join with the dimension
    * broadcast each micro-batch, missed lookups surfacing as nulls
    * (the connector's null-row mode).
    */
  def enrichStream(events: DataFrame, dim: DataFrame,
                   joinExpr: Column): DataFrame =
    events.join(broadcast(dim), joinExpr, "left")

  /** G5: incremental latest-version-per-key (HBase keeps the newest
    * cell version; A8's batch semantics) via mapGroupsWithState —
    * custom per-key state, one [[EventRec]] per user, emitting the
    * running newest event whenever a user sees new data. State is
    * O(distinct keys), independent of stream length.
    */
  def latestPerUserStream(events: Dataset[EventRec]): Dataset[EventRec] = {
    implicit val longEnc = Encoders.scalaLong
    implicit val evEnc = Encoders.product[EventRec]
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[EventRec, EventRec](GroupStateTimeout.NoTimeout) {
        (_, batch, state) =>
          val newest = (batch ++ state.getOption.iterator)
            .maxBy(e => (e.ts_ms, e.event_id))
          state.update(newest)
          newest
      }
  }

  /** G6: incremental gap sessionization (A14's batch semantics via
    * [[graft.queries.Core.sessionStats]], made streaming) with
    * `session_window`: events within `gap` of each other merge into one
    * growing per-user session; the watermark closes sessions, emits
    * their final aggregate, and evicts their state — so the state store
    * holds only sessions still open inside the lateness horizon.
    */
  def sessionStream(events: DataFrame, gap: String = "30 minutes",
                    lateness: String = "1 hour"): DataFrame =
    events
      .withWatermark("event_ts", lateness)
      .groupBy(session_window(col("event_ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        dsum(col("value")).as("sum_value"))
      .select(col("user_id"),
        unix_millis(col("session_window.start")).as("session_start_ms"),
        unix_millis(col("session_window.end")).as("session_end_ms"),
        col("n_events"), col("sum_value"))

  /** G7: streaming HFile bulk load — the reference's actual end-to-end
    * job (a stream of rows → salted sorted KVs → HFiles → bulk import,
    * TsdbBulkload.java + HadoopOutputFormat2.java) run incrementally:
    * each micro-batch becomes one complete bulk-load run directory
    * (holding `bucket=B` HFiles) under `dir` — the run layout is
    * [[graft.sources.HFileDir]]'s — written with the same
    * salt / range-sort / roll-on-bucket invariants (and bloom + index
    * blocks) as the batch [[graft.operators.BulkLoad.writeHFiles]] — a
    * cluster hands each finished epoch to LoadIncrementalHFiles. Epoch
    * subdirectories make replayed micro-batches idempotent: a retried
    * epoch overwrites its own directory, never a neighbor's. N epochs
    * leave N overlapping runs; fold them into one with
    * [[graft.operators.Compaction.compactEpochs]] (latest-epoch
    * precedence for identical cell coordinates).
    *
    * `cells` needs (rowkey BINARY, family STRING, qualifier STRING,
    * value BINARY) plus optional ts/type columns, like the batch path.
    *
    * `maxEpochs > 0` bounds the live run count for a LONG-RUNNING
    * stream (without it, N micro-batches leave N overlapping runs every
    * reader must merge and the sink's file count grows without bound).
    * Crash-safe by construction:
    *
    *  - batch N writes its run as id N·1024 — a replayed batch can
    *    only ever overwrite its own directory, never a run holding
    *    other batches' history; the id stride leaves free slots above
    *    every run for folds to publish into;
    *  - when `maxEpochs` completed runs (ids < the batch's own) have
    *    accumulated, the batch FIRST folds a run window through
    *    [[graft.operators.Compaction.compactEpochs]] and publishes it
    *    with its provenance ([[graft.sources.HFileDir.publishFold]]) as
    *    run `<window max + 1>` — it outranks exactly what it folded and
    *    is outranked by everything newer — and only THEN deletes the
    *    consumed runs: no source byte disappears before the fold is live;
    *  - every batch starts with a recovery sweep: a leftover fold stage
    *    is discarded (its sources are intact), and any live run a
    *    published fold's provenance names is deleted — which also
    *    re-collects delete markers a crash transiently resurrected.
    *    Recovery never infers from ids alone, so it is exact for full
    *    AND partial (tiered) folds.
    *
    * `tiered = false` (default): every fold covers ALL completed runs —
    * markers collected, `versions` retention applied, live run count
    * hard-bounded by `maxEpochs + 1`. The cost: each fold rewrites the
    * entire accumulated dataset, O(N²/maxEpochs) total bytes written
    * over a stream's life.
    *
    * `tiered = true`: each fold covers the window
    * [[graft.operators.Compaction.selectCompaction]] picks (ratio-
    * bounded, ≤ `maxEpochs` runs) — a big folded run is NOT rewritten
    * to absorb a few small newcomers, so total write volume drops to
    * the LSM-shaped O(N log N), at the price of a softer run-count
    * bound (the tier structure: one run per size class, ~log of the
    * data/batch ratio, plus `maxEpochs` unfolded). A window that leaves
    * OLDER data outside folds in MINOR mode (markers and versions
    * carried verbatim — see `collectMarkers`); only a window including
    * the oldest live run collects markers and applies `versions`.
    * A directory must stay in one mode; flipping `tiered` mid-stream is
    * unsupported.
    *
    * The stream's own view (sequential `foreachBatch`) is always
    * consistent; an EXTERNAL reader racing the publish can transiently
    * see a consumed run alongside the folded one (a plain filesystem
    * has no atomic multi-directory swap) — pause readers around
    * compaction windows or snapshot the directory first.
    */
  def bulkLoadStream(cells: DataFrame, dir: String, buckets: Int,
                     numPartitions: Int = 32,
                     tsCol: Option[String] = None,
                     typeCol: Option[String] = None,
                     compression: String = "none",
                     maxEpochs: Int = 0,
                     versions: Int = 1,
                     tiered: Boolean = false,
                     compactRatio: Double = 1.2): DataStreamWriter[Row] = {
    require(maxEpochs == 0 || maxEpochs >= 2,
      s"maxEpochs must be 0 (off) or >= 2, got $maxEpochs")
    cells.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: Dataset[Row], epochId: Long) =>
        val spark = batch.sparkSession
        // without folding, keep the plain batch-id naming
        val runId = if (maxEpochs > 0) EpochStride * epochId else epochId
        if (maxEpochs > 0)
          foldEpochRuns(spark, dir, runId, maxEpochs, versions,
            numPartitions, compression, tiered, compactRatio)
        val prepared = graft.operators.BulkLoad.prepare(
          batch.toDF(), buckets, numPartitions)
        val run = HFileDir.runPath(dir, runId)
        graft.operators.BulkLoad.writeHFiles(prepared, run, tsCol = tsCol,
          typeCol = typeCol, compression = compression)
        HFileDir.markPublished(run, spark.sparkContext.hadoopConfiguration)
      }
  }

  /** G10: incrementally tail a [[bulkLoadStream]] directory — each
    * micro-batch is the cell stream of the epoch runs published since
    * the last offset (see
    * [[graft.sources.HFileMicroBatchStream]] for the delivery
    * contract). The downstream side of the reference's bulk-load loop:
    * what HBase replication does by tailing WALs, here as a standard
    * streaming DataFrame any sink or stateful operator can consume.
    */
  def readBulkLoadStream(spark: org.apache.spark.sql.SparkSession,
                         dir: String): DataFrame =
    spark.readStream.format("graft-hfile").load(dir)

  /** Batch-id stride for capped sinks: leaves id slots above every run
    * for folds (`window max + 1`) without ever colliding with a batch's
    * own directory. A collision would need 1023 CHAINED folds (each
    * consuming the previous, one per batch) inside one stride gap; the
    * publish-slot gap check refuses the fold long before that.
    */
  val EpochStride = 1024L

  /** The fold step of a capped [[bulkLoadStream]] sink: recovery sweep,
    * then (when due) select, fold, publish-with-provenance, and delete
    * the consumed runs. Driver-side fs planning is O(runs × files).
    */
  private def foldEpochRuns(spark: org.apache.spark.sql.SparkSession,
                            dir: String, runId: Long, maxEpochs: Int,
                            versions: Int, numPartitions: Int,
                            compression: String, tiered: Boolean,
                            compactRatio: Double): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(dir).getFileSystem(conf)
    // ---- recovery sweep (idempotent driver fs ops): a leftover stage is
    // discarded, and a published fold's provenance names exactly the
    // leftovers to drop
    fs.delete(new Path(HFileDir.foldStage(dir)), true)
    val live = HFileDir.runs(dir, conf)
    val consumedIds = live.flatMap(HFileDir.consumed(_, conf)).toSet
    val (swept, kept) = live.partition(r => consumedIds.contains(r.id))
    swept.foreach(r => fs.delete(r.path, true))
    // ---- drop empty completed runs (nothing to fold there)
    val sized = kept.filter(_.id < runId).map(r =>
      (r, HFileDir.list(r.path.toString, conf).files.map(_.getLen).sum))
    sized.filter(_._2 == 0L).foreach(s => fs.delete(s._1.path, true))
    val completed = sized.filter(_._2 > 0L)
    val ids = completed.map(_._1.id)
    if (completed.length < maxEpochs) return
    // ---- pick the fold window
    val window: Option[Seq[Long]] =
      if (tiered)
        graft.operators.Compaction.selectCompaction(
          completed.map(c => (c._1.id, c._2)), ratio = compactRatio,
          minRuns = 2, maxRuns = maxEpochs)
      else Some(ids)
    window.foreach { win =>
      val publishId = win.max + 1
      val nextAbove = (ids.filter(_ > win.max) :+ runId).min
      // the id gap above the window is free by construction (see
      // EpochStride); refuse the fold if it ever is not
      if (publishId < nextAbove) {
        HFileDir.publishFold(dir, conf, publishId, win) { stage =>
          graft.operators.Compaction.compactEpochs(spark, dir, stage,
            versions = versions,
            numPartitions = numPartitions, compression = compression,
            epochs = Some(win),
            // only a window holding the oldest live run may collect
            collectMarkers = win.min == ids.min)
        }
        completed.filter(c => win.contains(c._1.id))
          .foreach(c => fs.delete(c._1.path, true))
      }
    }
  }

  /** G3: upsert mutation stream (the reference's buffered Put/Delete
    * sink, HBaseSerde.java:119-173): each micro-batch is converted to a
    * cell-mutation stream and handed to `flush` in rowkey order —
    * foreachBatch keeps the sink pluggable (JDBC, HBase, files).
    */
  def upsertStream(rows: DataFrame, schema: graft.model.HTableSchema,
                   flush: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    rows.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: Dataset[Row], epochId: Long) =>
        val cells = graft.operators.Cells.toCells(batch.toDF(), schema)
        flush(cells.orderBy("rowkey", "family", "qualifier"), epochId)
      }
}
