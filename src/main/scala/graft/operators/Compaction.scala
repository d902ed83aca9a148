package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.{HFile, HFileDir}

/** Major compaction for bulk-load HFile directories (SURVEY.md §2 B14).
  *
  * The reference's pipeline writes delete markers into HFiles
  * (HBaseSerde.java:146-173 creates the Delete mutations; our B8 bridge
  * bulk-loads them) but resolving markers against puts is left to the
  * HBase server's compactor. This operator closes that loop Spark-side,
  * with HBase's marker semantics:
  *
  *  - `Delete` (type 8) masks the put with the same
  *    (rowkey, family, qualifier) and the '''exact''' same timestamp;
  *  - `DeleteColumn` (type 12) masks every version of that column with
  *    `ts <= marker ts`;
  *  - `DeleteFamily` (type 14) masks every column of the family with
  *    `ts <= marker ts`;
  *  - major compaction then drops the markers themselves and retains at
  *    most `versions` newest versions per cell (VERSIONS=n).
  *
  * Scale shape: markers are a tiny fraction of cells, so each marker
  * class is reduced to its per-key threshold with a partial-aggregating
  * `groupBy(max)` before touching the put stream; the puts then flow
  * through one anti join and two left joins keyed on the (high-
  * cardinality) cell coordinates — no windows over the full stream, no
  * driver-side state, and AQE is free to broadcast the (small) marker
  * sides at runtime.
  */
object Compaction {

  private val Put = HFile.KeyTypePut.toInt
  private val Delete = HFile.KeyTypeDelete.toInt
  private val DeleteColumn = HFile.KeyTypeDeleteColumn.toInt
  private val DeleteFamily = HFile.KeyTypeDeleteFamily.toInt

  /** TTL expiry — the check HBase's compaction scanner applies before
    * marker resolution. A cell (put OR marker: HBase expires delete
    * markers by TTL the same way) survives when `nowMs - ts < ttl`,
    * where the effective TTL is the FAMILY TTL capped by the cell's own
    * TTL tag when one is present (a cell TTL can shorten, never extend,
    * the family lifetime — HBase's `min(cell, family)` rule). Families
    * absent from `familyTtlMs` never expire (HBase's FOREVER default).
    *
    * `nowMs` is an explicit parameter, not a clock read: expiry must be
    * a deterministic function of the inputs so a retried task or a
    * replayed job drops exactly the same cells.
    *
    * Pure per-row codegen filter (the TTL-tag parse is a static-call
    * expression) — zero shuffles, scan-speed at any corpus size.
    */
  def applyTtl(cells: DataFrame, nowMs: Long,
               familyTtlMs: Map[String, Long],
               putsOnly: Boolean = false): DataFrame = {
    import graft.functions.hb
    if (familyTtlMs.isEmpty && !cells.columns.contains("tags")) cells
    else {
      val famTtl = familyTtlMs.foldLeft(lit(Long.MaxValue)) {
        case (acc, (fam, ttl)) =>
          when(col("family") === fam, lit(ttl)).otherwise(acc)
      }
      val eff =
        if (cells.columns.contains("tags")) {
          val cellTtl = when(col("tags").isNotNull,
            hb.tagTtl(col("tags"))).otherwise(lit(-1L))
          when(cellTtl >= 0, least(cellTtl, famTtl)).otherwise(famTtl)
        } else famTtl
      // keep iff nowMs - ts < eff (never `ts >= nowMs - eff`: with the
      // FOREVER sentinel Long.MaxValue that subtraction would overflow).
      // `putsOnly` is MINOR-compaction expiry: expired puts can never
      // resurrect anything so any fold may drop them, but markers are
      // only collectable by a fold covering the oldest data (HBase keeps
      // delete markers until major compaction for the same reason)
      val alive = lit(nowMs) - col("ts") < eff
      cells.filter(
        if (putsOnly) col("key_type") =!= HFile.KeyTypePut.toInt || alive
        else alive)
    }
  }

  /** Applies delete-marker masking to a typed cell stream (columns
    * `rowkey, family, qualifier, ts, value, key_type`, any extras carried
    * through) and returns the surviving '''puts''' — the major-compaction
    * view. Unknown key types are rejected loudly.
    */
  def applyDeletes(cells: DataFrame): DataFrame = {
    val kt = col("key_type")
    val puts = cells.filter(kt === Put)
    val exact = cells.filter(kt === Delete)
      .select(col("rowkey"), col("family"), col("qualifier"), col("ts"))
      .distinct()
    val colThr = cells.filter(kt === DeleteColumn)
      .groupBy(col("rowkey"), col("family"), col("qualifier"))
      .agg(max(col("ts")).as("thr_col"))
    val famThr = cells.filter(kt === DeleteFamily)
      .groupBy(col("rowkey"), col("family"))
      .agg(max(col("ts")).as("thr_fam"))
    puts
      .join(exact, Seq("rowkey", "family", "qualifier", "ts"), "left_anti")
      .join(colThr, Seq("rowkey", "family", "qualifier"), "left")
      .filter(col("thr_col").isNull || col("ts") > col("thr_col"))
      .drop("thr_col")
      .join(famThr, Seq("rowkey", "family"), "left")
      .filter(col("thr_fam").isNull || col("ts") > col("thr_fam"))
      .drop("thr_fam")
  }

  /** Surviving puts with VERSIONS=n retention and exact-key duplicates
    * collapsed. Without an `mvcc` column the HFile writer's
    * strictly-increasing-key invariant is restored by keeping the
    * unsigned-max value, deterministically. WITH an `mvcc` column the
    * HBase rule applies instead: the highest sequence id wins the
    * coordinate, and its value/tags travel with it (ties by value, so
    * mvcc-less inputs collapse exactly as before). Any other extra
    * columns (e.g. `bucket`) are carried with `first`; they must be
    * functions of the cell key — true for salt buckets — for the
    * collapse to stay deterministic.
    */
  def retainVersions(puts: DataFrame, versions: Int): DataFrame = {
    val keys = Seq("rowkey", "family", "qualifier", "ts")
    val extras = puts.columns.filterNot(c => keys.contains(c) || c == "value")
    val collapsed =
      if (puts.columns.contains("mvcc")) {
        val carried = "value" +: extras
        puts.groupBy(keys.map(col): _*)
          .agg(max_by(struct(carried.map(col): _*),
            struct(col("mvcc"), col("value"))).as("w"))
          .select(keys.map(col) ++ carried.map(c => col(s"w.$c").as(c)): _*)
      } else {
        val aggs = max(col("value")).as("value") +:
          extras.map(c => first(col(c)).as(c))
        puts.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
      }
    Cells.lastVersions(collapsed, versions)
      .drop("version_rank")
  }

  /** Major compaction of a [[BulkLoad.writeHFiles]] directory: scan all
    * runs, resolve delete markers, retain `versions` newest versions per
    * cell, and rewrite one set of non-overlapping sorted runs per bucket
    * into `outDir`. Buckets and (already-salted) rowkeys are taken from
    * the input files, so no re-salting happens; `numPartitions` sizes the
    * range sort exactly like [[BulkLoad.prepare]].
    */
  def compact(spark: SparkSession, inDir: String, outDir: String,
              versions: Int = 1, numPartitions: Int = 32,
              blockSize: Int = HFile.DefaultBlockSize,
              compression: String = "none",
              encoding: String = "none",
              familyTtlMs: Map[String, Long] = Map.empty,
              nowMs: Long = -1L): Unit = {
    require(familyTtlMs.isEmpty || nowMs >= 0,
      "TTL compaction needs an explicit nowMs (expiry must be deterministic)")
    // cluster-written inputs may carry cell tags (TTLs) and mvcc ids;
    // a rewrite that drops them silently changes semantics — probe the
    // file infos (file-count-scale short reads) and preserve the layout
    rewrite(BulkLoad.readHFiles(spark, inDir), outDir,
      carryTags = BulkLoad.dirHasTagsOrMvcc(spark, inDir),
      collectMarkers = true, versions, numPartitions, blockSize,
      compression, encoding, familyTtlMs, nowMs)
  }

  /** The cells a compaction keeps, in the compaction-scanner order: TTL
    * expiry ([[applyTtl]]; cell-TTL tags need the tags layout,
    * `withTags`), then marker resolution ([[applyDeletes]]) and
    * `versions` retention ([[retainVersions]]). A minor fold
    * (`collectMarkers = false`) expires PUTS only and carries markers
    * and every version verbatim.
    */
  private[graft] def resolve(cells: DataFrame, versions: Int,
                             collectMarkers: Boolean = true,
                             familyTtlMs: Map[String, Long] = Map.empty,
                             nowMs: Long = -1L,
                             withTags: Boolean = false): DataFrame = {
    val live =
      if (nowMs >= 0 && (familyTtlMs.nonEmpty || withTags))
        applyTtl(cells, nowMs, familyTtlMs, putsOnly = !collectMarkers)
      else cells
    if (collectMarkers) retainVersions(applyDeletes(live), versions)
    else live
  }

  /** [[resolve]], then one range-sorted rewrite into `outDir`; a minor
    * fold keeps each cell's key type, a tags+mvcc input its layout.
    */
  private def rewrite(cells: DataFrame, outDir: String, carryTags: Boolean,
                      collectMarkers: Boolean, versions: Int,
                      numPartitions: Int, blockSize: Int,
                      compression: String, encoding: String,
                      familyTtlMs: Map[String, Long], nowMs: Long): Unit = {
    val kept = resolve(cells, versions, collectMarkers, familyTtlMs, nowMs,
      withTags = carryTags)
    val prepared = kept
      .select(Seq(col("bucket"), col("rowkey").as("salted_key"),
        col("family"), col("qualifier"), col("ts"), col("value")) ++
        (if (collectMarkers) Seq.empty else Seq(col("key_type"))) ++
        (if (carryTags) Seq(col("tags"), col("mvcc")) else Seq.empty): _*)
      .repartitionByRange(numPartitions, col("bucket"), col("salted_key"))
    BulkLoad.writeHFiles(prepared, outDir, tsCol = Some("ts"),
      typeCol = if (collectMarkers) scala.None else Some("key_type"),
      blockSize = blockSize, compression = compression, encoding = encoding,
      tagsCol = if (carryTags) Some("tags") else None,
      mvccCol = if (carryTags) Some("mvcc") else None)
  }

  /** Tiered compaction selection — HBase's ExploringCompactionPolicy
    * shape (re-derived from its public semantics: ratio-bounded
    * contiguous windows, prefer more files, then less IO), over
    * `(runId, bytes)` pairs:
    *
    *  - runs are ordered by id (write order); only CONTIGUOUS windows
    *    of `minRuns..maxRuns` runs are candidates (skipping a middle
    *    run would let precedence-bearing runs leapfrog each other);
    *  - a window is eligible when every member is at most `ratio` ×
    *    the sum of the OTHER members — i.e. never rewrite a giant run
    *    to merge a few small ones (the write-amplification guard);
    *  - among eligible windows: most runs wins (bigger fold per IO),
    *    ties by smallest total bytes (cheapest), then earliest.
    *
    * Returns the selected run ids (ascending), or None when no window
    * is eligible — the caller simply skips compaction this round.
    * Pure driver-side planning over run stats: O(runs × maxRuns).
    */
  def selectCompaction(runs: Seq[(Long, Long)], ratio: Double = 1.2,
                       minRuns: Int = 3, maxRuns: Int = 10): Option[Seq[Long]] = {
    require(ratio > 0 && minRuns >= 2 && maxRuns >= minRuns,
      s"bad selection config: ratio=$ratio min=$minRuns max=$maxRuns")
    val sorted = runs.sortBy(_._1)
    var best: Option[(Int, Long, Seq[Long])] = scala.None // (n, bytes, ids)
    for {
      start <- sorted.indices
      len <- minRuns to math.min(maxRuns, sorted.length - start)
    } {
      val win = sorted.slice(start, start + len)
      val total = win.map(_._2).sum
      val eligible = win.forall { case (_, b) => b <= ratio * (total - b) }
      if (eligible) {
        val cand = (len, total, win.map(_._1))
        val better = best.forall { case (bn, bb, _) =>
          len > bn || (len == bn && total < bb)
        }
        if (better) best = Some(cand)
      }
    }
    best.map(_._3)
  }

  /** Major compaction across the runs ([[HFileDir.runs]]) a
    * [[graft.streaming.Streams.bulkLoadStream]] sink accumulates: N
    * micro-batches leave N overlapping runs that every reader must
    * merge; this folds them into ONE set of non-overlapping sorted runs
    * per bucket under `outDir` (`_manifest` included). Every selected
    * run is read through ONE [[BulkLoad.readHFiles]] scan of a run glob
    * ([[HFileDir.runsGlob]]). The input runs are left in place; the sink
    * publishes `outDir` ([[HFileDir.publishFold]]) before it deletes them.
    *
    * Epoch-aware precedence, the HBase sequence-id analogue: when two
    * epochs wrote the exact same cell coordinate (rowkey, family,
    * qualifier, ts, type) — the common case for a re-put stream whose
    * cells all carry ts=0 — the HIGHEST epoch's value is the cell, and
    * older epochs' same-coordinate cells are discarded before marker
    * resolution. Across *different* timestamps, plain HBase semantics
    * apply unchanged via [[resolve]]: delete markers mask by timestamp
    * regardless of which epoch wrote them (HBase masks a same-ts put
    * written after the marker too, until a major compaction collects
    * the marker — which is what this is).
    *
    * `epochs` restricts the fold to an explicit CONTIGUOUS id window
    * (e.g. one picked by [[selectCompaction]]); runs outside it are
    * untouched and keep their precedence relative to the fold.
    *
    * `collectMarkers = false` is the MINOR-compaction mode (see
    * [[resolve]]): mandatory whenever older data exists outside the
    * fold — collecting a marker while an older run still holds the put
    * it masks would resurrect that put; HBase minor compactions keep
    * markers for the same reason. Only a fold covering the OLDEST live
    * run may collect (major mode, the default).
    */
  def compactEpochs(spark: SparkSession, dir: String, outDir: String,
                    versions: Int = 1, numPartitions: Int = 32,
                    blockSize: Int = HFile.DefaultBlockSize,
                    compression: String = "none",
                    encoding: String = "none",
                    epochs: Option[Seq[Long]] = scala.None,
                    collectMarkers: Boolean = true,
                    familyTtlMs: Map[String, Long] = Map.empty,
                    nowMs: Long = -1L): Unit = {
    require(familyTtlMs.isEmpty || nowMs >= 0,
      "TTL compaction needs an explicit nowMs (expiry must be deterministic)")
    val liveIds = HFileDir.runs(dir, spark.sparkContext.hadoopConfiguration)
      .map(_.id)
      .filter(e => epochs.forall(_.contains(e)))
    require(liveIds.nonEmpty, s"no run directories under $dir" +
      epochs.map(ids => s" within ${ids.mkString("{", ",", "}")}").getOrElse(""))
    epochs.foreach { ids =>
      require(ids.forall(liveIds.contains),
        s"selected epochs ${ids.filterNot(liveIds.contains).mkString(",")} " +
          s"missing under $dir")
    }
    // ONE `graft-hfile` scan of a run glob in the load path, one file
    // per partition; the epoch a cell came from is recovered from the
    // `file` path — the plan stays constant-size however many
    // micro-batch runs accumulated (an N-way unionByName here made
    // analysis/optimization cost grow linearly with N). When the fold
    // is BOUNDED (`epochs`), the glob enumerates only the
    // selected run directories — a tiered fold must not RE-READ every
    // live run each round, or total read volume over a stream's life
    // becomes O(N²/maxEpochs) and undoes the O(N log N) economics
    // tiered mode exists for (ADVICE r8).
    val runs = s"$dir/${HFileDir.runsGlob(epochs.map(_ => liveIds))}"
    val cells = BulkLoad.readHFiles(spark, runs)
      .withColumn("_epoch", HFileDir.runIdOf(col("file")))
      .drop("file")
    val latest = cells
      .groupBy(col("rowkey"), col("family"), col("qualifier"), col("ts"),
        col("key_type"))
      // one shuffle resolves epoch precedence; value/tags/mvcc travel
      // together with the winning epoch (mvcc then value break a
      // same-epoch exact-duplicate tie deterministically); bucket is a
      // function of the (already-salted) rowkey, so first() is
      // deterministic
      .agg(max_by(struct(col("value"), col("tags"), col("mvcc")),
        struct(col("_epoch"), col("mvcc"), col("value"))).as("w"),
        first(col("bucket")).as("bucket"))
      .select(col("rowkey"), col("family"), col("qualifier"), col("ts"),
        col("key_type"), col("w.value").as("value"), col("w.tags").as("tags"),
        col("w.mvcc").as("mvcc"), col("bucket"))
    rewrite(latest, outDir,
      carryTags = BulkLoad.dirHasTagsOrMvcc(spark, runs),
      collectMarkers, versions, numPartitions, blockSize, compression,
      encoding, familyTtlMs, nowMs)
  }
}
