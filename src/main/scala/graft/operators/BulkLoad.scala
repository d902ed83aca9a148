package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.hb
import graft.sources.{HFile, HFileDir, HFileManifest, HFileReader}

/** One row per cell, in the column order of [[BulkLoad.readHFiles]] and
  * [[BulkLoad.multiGet]] (so the two union). `tags`/`mvcc` are empty/0
  * for files written without the tags layout; cluster-written files
  * carry them through so rewrites (compaction) can preserve cell TTL
  * tags and sequence ids.
  */
case class HFileCellRow(file: String, bucket: Int, rowkey: Array[Byte],
                        family: String, qualifier: String, ts: Long,
                        value: Array[Byte], key_type: Int,
                        tags: Array[Byte], mvcc: Long)

/** TSDB-style rowkey salting (TsdbBulkload.java:81-114,167-173).
  *
  * The reference computes `|Arrays.hashCode(metric ⊕ tags)| % bucketCount`
  * and prepends `bucket(2B) + time(4B)` to the rowkey so concurrent writers
  * spread across regions while keys stay time-sorted within a bucket.
  */
object Salt {

  /** Reference-parity bucket: abs(Arrays.hashCode(saltBase)) % buckets.
    * (abs, not pmod — TsdbBulkload.java:94-98 negates a negative modulo.)
    */
  def bucket(saltBase: Column, buckets: Int): Column =
    abs(hb.arraysHashCode(saltBase) % buckets)

  /** 6-byte salt prefix: bucket as 2 big-endian bytes + 4 time bytes
    * (epoch seconds of the containing hour), per getSaltBytes
    * (TsdbBulkload.java:167-173).
    */
  def saltPrefix(bucket: Column, epochSec: Column): Column =
    concat(
      hb.encode(bucket.cast("short")),
      hb.encode(epochSec.cast("int")))
}

/** DataFrame → HFile v3 bulk output.
  *
  * Spark-first replacement for the reference's pipeline
  * (TsdbBulkload.java:81-155 + HadoopOutputFormat2.java:88-100):
  * instead of Flink's per-task `sortPartition` + a single writer that
  * rolls files on salt-prefix change, we `repartitionByRange` on
  * (bucket, rowkey) — a distributed range sort with sampled bounds — and
  * `sortWithinPartitions`, so every task owns a contiguous, fully-sorted
  * key range and each bucket's files form non-overlapping sorted runs:
  * exactly the invariant HBase bulk import (LoadIncrementalHFiles) needs.
  * No global single-point sort; parallelism scales with data size.
  *
  * [[writeHFiles]] emits that layout — `bucket=NNN/` directories of
  * files sorted by (rowkey, family, qualifier) — as real HFile v3
  * binaries without hbase jars, through [[graft.sources.HFileDir]]. It is
  * the one HFile writer: the G7 sink's runs, compaction and the query
  * fixtures all write through it. The read-only `graft-hfile` source
  * ([[readHFiles]]) reads it back.
  */
object BulkLoad {

  /** Salt + globally order a cell stream. `cells` needs columns
    * (rowkey, family, qualifier, value); `saltBase` defaults to the rowkey.
    */
  def prepare(cells: DataFrame, buckets: Int, numPartitions: Int,
              saltBase: Option[Column] = None,
              epochSec: Option[Column] = None): DataFrame = {
    val base = saltBase.getOrElse(col("rowkey"))
    val b = Salt.bucket(base, buckets)
    val salted = cells
      .withColumn("bucket", b)
      .withColumn("salted_key",
        epochSec match {
          case Some(t) => concat(Salt.saltPrefix(col("bucket"), t), col("rowkey"))
          case None    => concat(hb.encode(col("bucket").cast("short")), col("rowkey"))
        })
    // range-partition on (bucket, key) ONLY: rows equal on the partition
    // key always land together, so one rowkey's cells (multi-qualifier /
    // multi-version) can never straddle a partition boundary and produce
    // overlapping files; family/qualifier order is fixed by the local sort
    salted
      .repartitionByRange(numPartitions, col("bucket"), col("salted_key"))
      .sortWithinPartitions(col("bucket"), col("salted_key"), col("family"),
        col("qualifier"))
  }

  /** Writes the prepared cell stream as real HFile v3 binaries — the
    * reference's actual output format (HadoopOutputFormat2.java:85-100),
    * re-expressed without hbase jars via [[graft.sources.HFile]].
    *
    * Each range partition streams its rows through one
    * [[graft.sources.HFileDir.TaskWriter]], one HFile at a time, rolling
    * to a new file whenever the bucket changes —
    * the same roll-on-salt-prefix-change rule as the reference's
    * `writeRecord` — so every emitted file holds one bucket's
    * contiguous, fully-sorted key range with non-overlapping files per
    * bucket (the LoadIncrementalHFiles invariant). Memory per task is
    * one 64 KiB block; IO goes through the Hadoop FileSystem API, so
    * `path` may be any supported scheme at cluster scale.
    *
    * Multi-version streams are re-sorted here with `ts` descending and
    * type descending inside each cell (the CellComparator order the
    * writer enforces); exact duplicate full cell keys are still
    * rejected — collapse them first with [[Cells.latestVersion]] /
    * [[Cells.lastVersions]].
    *
    * `path` is replaced: an unknown `compression` or `encoding` fails on
    * the driver before anything there is deleted, and then the old
    * directory goes. Output is task-committed: each task writes
    * attempt-unique temp files under `_inprogress/` and renames them
    * into place when the task ends, so a failed or speculative duplicate
    * attempt never interleaves bytes into a final file (first finished
    * rename wins; output is deterministic, so the winner's bytes equal
    * the loser's). A failing task aborts its writer, and the driver
    * clears `_inprogress/` after the job; `_manifest` is written only
    * when every task committed.
    */
  def writeHFiles(prepared: DataFrame, path: String,
                  tsCol: Option[String] = None,
                  typeCol: Option[String] = None,
                  blockSize: Int = HFile.DefaultBlockSize,
                  compression: String = "none",
                  maxFileBytes: Long = HFile.DefaultMaxFileBytes,
                  encoding: String = "none",
                  tagsCol: Option[String] = None,
                  mvccCol: Option[String] = None): Unit = {
    val format = HFileDir.Format(blockSize,
      HFile.codecOf(compression), // fail fast, on the driver
      maxFileBytes,
      graft.sources.BlockEncoding.idOf(encoding),
      // tagsCol/mvccCol switch every file to the tags+mvcc cell layout
      // (the cluster's KEY_VALUE_VERSION=1 format) — what a compaction of
      // cluster-written files uses so cell TTL tags and sequence ids
      // survive the rewrite
      withTagsAndMvcc = tagsCol.isDefined || mvccCol.isDefined)
    val spark = prepared.sparkSession
    val hconf = spark.sparkContext.hadoopConfiguration
    HFileDir.startWrite(path, hconf)
    val confMap = HFileDir.confMap(spark)

    val ts = tsCol.map(col(_).cast("long")).getOrElse(lit(0L))
    val typ = typeCol.map(col(_).cast("int"))
      .getOrElse(lit(HFile.KeyTypePut.toInt))
    val tags = tagsCol.map(c => coalesce(col(c).cast("binary"),
      lit(Array.emptyByteArray))).getOrElse(lit(Array.emptyByteArray))
    val mvcc = mvccCol.map(c => coalesce(col(c).cast("long"), lit(0L)))
      .getOrElse(lit(0L))
    val rows = prepared.select(col("bucket").cast("int"),
      col("salted_key").cast("binary"), col("family").cast("string"),
      col("qualifier").cast("string"), ts.as("ts"),
      col("value").cast("binary"), typ.as("key_type"),
      tags.as("tags"), mvcc.as("mvcc"))
      // equal (bucket, key, family, qualifier) tuples always land in one
      // range partition, so this local sort fixes version order globally
      .sortWithinPartitions(col("bucket"), col("salted_key"), col("family"),
        col("qualifier"), col("ts").desc, col("key_type").desc)

    try {
      import spark.implicits._
      // one manifest entry per committed file — the input to the
      // `_manifest` sidecar, recorded where the writer already knows it
      // all (re-reading 100k trailers at plan time is what the sidecar
      // kills)
      val entries = rows.mapPartitions { it: Iterator[org.apache.spark.sql.Row] =>
        val tc = org.apache.spark.TaskContext.get()
        val w = new HFileDir.TaskWriter(path, HFileDir.confOf(confMap),
          format, tc.partitionId(), tc.taskAttemptId())
        try {
          it.foreach { r =>
            w.write(r.getInt(0), HFile.HCell(r.getAs[Array[Byte]](1),
              r.getString(2).getBytes("UTF-8"), r.getString(3).getBytes("UTF-8"),
              r.getLong(4), r.getAs[Array[Byte]](5), r.getInt(6).toByte,
              r.getAs[Array[Byte]](7), r.getLong(8)))
          }
          w.commit().iterator
        } catch { case t: Throwable => w.abort(); throw t }
      }
        // one row per FILE, not per cell — driver-scale at any data size
        .collect()
      HFileDir.commitWrite(path, hconf, entries.toSeq)
    } finally HFileDir.clearTemp(path, hconf)
  }

  /** A [[writeHFiles]] directory's cells in [[HFileCellRow]]'s column
    * order: a `graft-hfile` load with its `file`/`tags`/`mvcc` metadata
    * columns, one task per file. A read of the rows runs every
    * structural check; COUNT(*) and MIN/MAX(rowkey) answer from trailers.
    * `path` may hold a run glob (`sink/epoch=*`, an `HFileDir.runsGlob`):
    * all of a sink's runs are then ONE constant-size scan, and `file`
    * names each cell's run.
    */
  def readHFiles(spark: SparkSession, path: String): DataFrame = {
    filesOf(spark, path)
    spark.read.format("graft-hfile").load(path)
      .select(CellColumns.head, CellColumns.tail.toIndexedSeq: _*)
  }

  private val CellColumns = Encoders.product[HFileCellRow].schema.fieldNames

  /** `path`'s HFiles; every verb but [[dirHasTagsOrMvcc]] refuses a
    * directory without any.
    */
  private def filesOf(spark: SparkSession, path: String): HFileDir.Listing = {
    val dir = HFileDir.list(path, spark.sparkContext.hadoopConfiguration)
    require(dir.files.nonEmpty, s"no HFiles found under $path")
    dir
  }

  /** One row per file, spread over the cluster's task slots. */
  private def perFile(spark: SparkSession, files: Seq[String]): Dataset[String] = {
    import spark.implicits._
    spark.createDataset(files).repartition(
      math.max(1, math.min(files.size, spark.sparkContext.defaultParallelism)))
  }

  private def cellRow(f: String, bucket: Int, c: HFile.HCell): HFileCellRow =
    HFileCellRow(f, bucket, c.rowkey, new String(c.family, "UTF-8"),
      new String(c.qualifier, "UTF-8"), c.ts, c.value, c.keyType.toInt,
      c.tags, c.mvcc)

  /** Whether ANY file under `path` (a dir or a run glob) stores the
    * tags+mvcc cell layout — the bit a compaction needs to decide whether
    * its rewrite must preserve them. One file-info short read per file
    * through a bounded pool (file-count scale, no data reads), the same
    * pattern as the manifest fallback.
    */
  def dirHasTagsOrMvcc(spark: SparkSession, path: String): Boolean = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val found = new java.util.concurrent.atomic.AtomicBoolean(false)
    // probes still queued after a hit return without reading
    HFileDir.pooled(HFileDir.list(path, hconf).paths) { f =>
      if (!found.get()) {
        val rr = HFileDir.open(f, hconf)
        try {
          val l = HFileReader.cellLayoutOf(rr, HFileReader.readTrailer(rr))
          if (l.tags || l.mvcc) found.set(true)
        } finally rr.close()
      }
    }
    found.get()
  }

  /** Distributed keyed lookup (multi-get) against a [[writeHFiles]]
    * directory — the reference's point-GET-by-rowkey lookup
    * (HBaseRowDataLookupFunction.java) as a batch operator. The driver
    * takes each file's key range from the `_manifest` sidecar (or a
    * bounded pool of trailer reads when it is stale) and broadcasts
    * the tiny (file, bucket, range) table; each key routes to the
    * files whose range covers it; each task then opens its file ONCE and
    * probes its whole sorted key batch through the bloom and the
    * multi-level index ([[HFileReader.multiGet]]) — a handful of short
    * reads per key, never a file scan. Keys and files both scale
    * horizontally; result columns match [[readHFiles]].
    */
  def multiGet(spark: SparkSession, path: String, keys: DataFrame,
               keyCol: String = "rowkey"): DataFrame = {
    import spark.implicits._
    val confMap = HFileDir.confMap(spark)
    // key ranges from the `_manifest` sidecar when it matches the
    // listing; pooled per-file short reads only when it doesn't
    val fileRanges = filesOf(spark, path).stats().collect {
      case HFileDir.FileStat(f, b, _, Some((lo, hi))) => (f, b, lo, hi)
    }
    // key → covering files in O(log F + matches), not O(F): ranges sorted
    // by first key, with a prefix running-max of last keys so the left
    // walk stops as soon as no earlier run can still reach the key
    // (ranges overlap only across append runs)
    val sorted = fileRanges.sortWith((a, b) =>
      java.util.Arrays.compareUnsigned(a._3, b._3) < 0).toArray
    val prefixMaxHi = new Array[Array[Byte]](sorted.length)
    sorted.indices.foreach { i =>
      prefixMaxHi(i) =
        if (i == 0) sorted(0)._4
        else if (java.util.Arrays.compareUnsigned(
          sorted(i)._4, prefixMaxHi(i - 1)) >= 0) sorted(i)._4
        else prefixMaxHi(i - 1)
    }
    val bc = spark.sparkContext.broadcast((sorted, prefixMaxHi))
    keys.select(col(keyCol).cast("binary")).as[Array[Byte]]
      .flatMap { k =>
        val (ranges, maxHi) = bc.value
        def cmp(a: Array[Byte], b: Array[Byte]) =
          java.util.Arrays.compareUnsigned(a, b)
        // last range whose first key <= k
        var lo = 0; var hi = ranges.length - 1; var idx = -1
        while (lo <= hi) {
          val mid = (lo + hi) >>> 1
          if (cmp(ranges(mid)._3, k) <= 0) { idx = mid; lo = mid + 1 }
          else hi = mid - 1
        }
        val out = scala.collection.mutable.ArrayBuffer[(String, Int, Array[Byte])]()
        var j = idx
        while (j >= 0 && cmp(maxHi(j), k) >= 0) {
          if (cmp(ranges(j)._4, k) >= 0) out += ((ranges(j)._1, ranges(j)._2, k))
          j -= 1
        }
        out
      }
      .groupByKey(t => (t._1, t._2))
      .flatMapGroups { (fb: (String, Int),
                        batch: Iterator[(String, Int, Array[Byte])]) =>
        val (f, b) = fb
        val rr = HFileDir.open(f, HFileDir.confOf(confMap))
        // multiGet materializes its result, so closing before returning
        // the iterator is safe
        try HFileReader.multiGet(rr, batch.map(_._3).toSeq)
          .map(cellRow(f, b, _)).iterator
        finally rr.close()
      }.toDF()
  }

  /** Distributed, validating backup of a bulk-load directory — the
    * reference's backup admin op (HBaseManager.java:186,293), ONE
    * SUBSYSTEM with the store-maintenance backup lifecycle: this verb
    * contributes the HFile-specific STRUCTURAL AUDIT as a pre-copy
    * validation gate — every hfile under `bucket=N/` gets the full audit
    * (trailer, checksums, index descent, blooms, cell order) as a
    * Spark job, failing loudly on the first corrupt file BEFORE any
    * byte is copied (a backup of bad bytes is worse than no backup) —
    * and then delegates the snapshot itself to
    * [[StoreMaintenance.backupStore]]. A bulkload backup is therefore
    * a first-class snapshot: `_backup_manifest` (rel_path, bytes,
    * CRC32C hashed inside the copy stream, mtime),
    * [[StoreMaintenance.verifyStoreBackup]] deep verification,
    * [[StoreMaintenance.restoreStore]] /[[restore]],
    * [[StoreMaintenance.pruneStoreBackups]] retention, and the
    * `graft_store_backups` catalog TVF all work on it unchanged.
    * `base = Some(priorSnapshot)` chains an INCREMENTAL snapshot —
    * unchanged files carry by (rel_path, bytes, mtime) identity,
    * sound here because bulkload dirs are pure-file-add (writers roll
    * new files; compaction publishes under new names) — the audit
    * still validates EVERY current hfile (validation is this verb's
    * point; incrementality saves the transfer/write, which is the
    * expensive half against remote backup storage). The snapshot
    * carries the whole directory — sidecars (`_manifest`) included,
    * so a restored dir is the complete point-in-time state — and the
    * destination must be empty (snapshots are append-only artifacts).
    * Returns the per-file audit report `(file, bucket, n_cells,
    * bytes)` over the hfiles.
    */
  def backup(spark: SparkSession, srcDir: String, dstDir: String,
             base: Option[String] = None): DataFrame = {
    import spark.implicits._
    val files = filesOf(spark, srcDir).paths
    val confMap = HFileDir.confMap(spark)
    // the audit job runs (and materializes) BEFORE the copy job: a
    // corrupt source file must fail the backup before any byte moves
    val audit = perFile(spark, files).map { f =>
      val rr = HFileDir.open(f, HFileDir.confOf(confMap))
      val nCells = try HFileReader.validate(rr).nCells finally rr.close()
      (HFileManifest.relOf(new org.apache.hadoop.fs.Path(f)),
        graft.sources.HFileSource.bucketOf(f), nCells, rr.length)
    }.collect().toSeq
    StoreMaintenance.backupStore(spark, srcDir, dstDir, base)
    audit.toDF("file", "bucket", "n_cells", "bytes")
  }

  /** Recovery verb (the reference exposes restore endpoints next to
    * backup, HBaseController.java:148-178; HBaseManager.java:293),
    * unified with the store-maintenance lifecycle: the refusal gate is
    * [[StoreMaintenance.requireVerified]] — the snapshot must verify
    * DEEP green (every manifest row present, every byte re-hashing to
    * the backup-time CRC32C; carried rows checked at their base), so
    * a tampered or truncated backup refuses before a byte moves. No
    * structural re-audit is needed: [[backup]] audited the bytes when
    * the snapshot was taken, and CRC equality proves the restored
    * bytes ARE those audited bytes. The copy is the manifest plan
    * ([[StoreMaintenance.restorePlan]] — an incremental's carried
    * rows restore from their base snapshot's tree), overwriting
    * same-name files under `dir` in place — the overlay semantics a
    * disaster recovery wants: a file under `dir` absent from the
    * backup (written after the snapshot — possibly itself corrupt) is
    * left untouched, a newer same-name file is rolled back without
    * warning. Run [[repair]] afterwards if unbackuped files may also
    * be damaged; use [[StoreMaintenance.restoreStore]] to restore
    * into an empty dir instead.
    *
    * The destination's `_manifest` sidecar is dropped after the
    * overlay: restore rewrites contents under unchanged names — the
    * one mutation the sidecar's (path, bytes) freshness check cannot
    * detect — and the snapshot's own sidecar copy may be stale
    * against post-backup files the overlay leaves in place. The next
    * planner read falls back to pooled trailer reads; the next bulk
    * write rebuilds it. Returns the restore plan `(file, bucket,
    * bytes)` (cell counts live in [[backup]]'s audit report — restore
    * moves verified bytes, it does not re-parse them).
    */
  def restore(spark: SparkSession, backupDir: String, dir: String): DataFrame = {
    import spark.implicits._
    StoreMaintenance.requireVerified(spark, backupDir)
    val plan = StoreMaintenance.restorePlan(spark, backupDir)
    val root = new org.apache.hadoop.fs.Path(dir)
    val hconf = spark.sparkContext.hadoopConfiguration
    val rfs = root.getFileSystem(hconf)
    val qd = rfs.makeQualified(root)
    StoreMaintenance.copyFilesDistributed(spark,
      plan.map { case (rel, _, phys) =>
        (phys, new org.apache.hadoop.fs.Path(qd, rel).toString) })
    HFileManifest.delete(rfs, root)
    plan.map { case (rel, n, _) =>
      (rel, graft.sources.HFileSource.bucketOf(rel), n) }
      .toDF("file", "bucket", "bytes")
  }

  /** Distributed integrity repair sweep (HbaseRepairRunner.java:41
    * re-scoped to file integrity): every file gets the full structural
    * audit; corrupt files are moved into `quarantineDir` so the
    * directory scans clean again. Returns `(file, ok, n_cells, error)`
    * per file.
    */
  def repair(spark: SparkSession, dir: String,
             quarantineDir: String): DataFrame = {
    import spark.implicits._
    val files = filesOf(spark, dir).paths
    val confMap = HFileDir.confMap(spark)
    perFile(spark, files).map { f =>
      val conf = HFileDir.confOf(confMap)
      val src = new org.apache.hadoop.fs.Path(f)
      val sfs = src.getFileSystem(conf)
      val audit: Either[String, Long] =
        try {
          val rr = HFileDir.open(f, conf)
          Right(try HFileReader.validate(rr).nCells finally rr.close())
        } catch { case e: Exception => Left(String.valueOf(e.getMessage)) }
      audit match {
        case Right(n) => (f, true, n, null: String)
        case Left(err) =>
          val q = new org.apache.hadoop.fs.Path(quarantineDir,
            s"${src.getParent.getName}-${src.getName}")
          val qfs = q.getFileSystem(conf)
          qfs.mkdirs(q.getParent)
          // copy+delete, not rename: works across filesystems and does
          // not depend on checksum-sidecar state of the corrupt file
          require(org.apache.hadoop.fs.FileUtil.copy(sfs, src, qfs, q,
            true, true, conf), s"could not quarantine $f")
          (f, false, 0L, err)
      }
    }
      // quarantine moves files — execute exactly once, report materialized
      .collect().toSeq
      .toDF("file", "ok", "n_cells", "error")
  }

  /** Per-file stats of a [[writeHFiles]] directory — the HFile
    * info-block view: (bucket, file, n_cells, min/max key), read from
    * the `_manifest` sidecar or straight from the trailers and key
    * ranges (bounded-pool short reads — no data block IO at any
    * directory size). Input to [[regionPlan]]: the file-layout half of
    * the reference's pre-split/merge admin ops (HBaseManager.java).
    */
  def hfileManifest(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    // the `_manifest` sidecar IS this manifest — read it when it matches
    // the listing, fall back to pooled trailer reads when it doesn't
    filesOf(spark, path).stats().map { s =>
      val (lo, hi) = s.range.map { case (a, b) =>
        (HFileManifest.toHex(a), HFileManifest.toHex(b))
      }.getOrElse(("", ""))
      (s.bucket, s.file, s.entryCount, lo, hi)
    }.toDF("bucket", "file", "n_cells", "min_key_hex", "max_key_hex")
  }

  /** Greedy region assignment over [[hfileManifest]]: pack files (already
    * sorted, non-overlapping within a bucket) into regions of
    * ~`targetCells` each — the reference's pre-split-table sizing and
    * merge-small-regions admin ops (HBaseManager.java) re-expressed as
    * a pure plan. The manifest is tiny (one row per file), so the
    * single-window cumulative sum is driver-scale work regardless of
    * data volume.
    */
  def regionPlan(manifest: DataFrame, targetCells: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("bucket"), col("min_key_hex"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    manifest
      .withColumn("_cum", sum(col("n_cells")).over(w))
      .withColumn("region_id",
        floor((col("_cum") - col("n_cells")) / targetCells))
      .groupBy(col("region_id"))
      .agg(count(lit(1)).as("n_files"),
        sum(col("n_cells")).as("n_cells"),
        min(col("min_key_hex")).as("start_key_hex"),
        max(col("max_key_hex")).as("end_key_hex"))
      .orderBy(col("region_id"))
  }
}
