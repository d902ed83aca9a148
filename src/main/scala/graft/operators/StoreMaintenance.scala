package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.HFileDir

/** File-maintenance cores shared by the persisted index stores (the
  * IVF×PQ codes dir, the SQ8 flat codes dir, the LSH bucket dir).
  * Every append in those lifecycles is a pure file-add — the property
  * the byte-identity specs pin — so a long-running ingest loop
  * accumulates one small parquet file per (batch, partition): on a
  * 1000-executor cluster that is the classic small-files failure
  * (every search/probe pays per-file open + footer read + task
  * schedule for KB-sized splits). Compaction is the missing lifecycle
  * verb: rewrite ONLY the fragmented partitions (or flat small files)
  * into one file each, leave everything else byte-identical, change
  * no row. The reference delegates the equivalent maintenance to
  * HBase's own minor compactions (reference HBaseManager.java keeps
  * region health external); here the store is parquet, so the engine
  * owns it.
  *
  * Single-writer posture, like every maintenance API in this repo:
  * callers serialize compaction against append/remove/search on the
  * same dir.
  */
private[graft] object StoreMaintenance {

  /** Invalidate Spark's cached file listing (and any cached plans)
    * for a path whose files were changed OUTSIDE the Spark writer —
    * fs.delete / fs.rename / distributed copies bypass the writer's
    * own refresh, and a stale `InMemoryFileIndex` entry would make
    * the next read either fail on a deleted file or silently MISS a
    * merged-in one. Every file-surgery verb calls this after its
    * mutation.
    */
  def refreshPath(spark: SparkSession, path: String): Unit =
    spark.catalog.refreshByPath(path)

  /** Run `body`, then free every RDD block it left persisted — the
    * localCheckpoint pins a store surgery or a streaming epoch takes
    * (Dataset.unpersist never releases those, so without this each call
    * leaks a block set until RDD GC). Assumes no concurrent persist in
    * this session between the snapshot and the diff — the single-writer
    * posture every maintenance verb already requires.
    */
  def freeingBlocks[T](spark: SparkSession)(body: => T): T = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    try body
    finally {
      val rdds = spark.sparkContext.getPersistentRDDs
      (rdds.keySet diff before)
        .foreach(id => rdds.get(id).foreach(_.unpersist(blocking = false)))
    }
  }

  /** Data files directly under `dir` (parquet parts only — `_SUCCESS`
    * and other markers excluded), as (path, bytes). */
  def dataFiles(spark: SparkSession, dir: Path): Seq[(Path, Long)] = {
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(s => (s.getPath, s.getLen))
  }

  /** Hive-style partition directories `col=value` under `root`, with
    * their int partition values — bounded by the store's partition
    * cardinality (coarse cells / LSH bands), so driver-side listing
    * is O(partitions), never O(corpus). */
  def partitionDirs(spark: SparkSession, root: Path,
                    partCol: String): Seq[(Int, Path)] = {
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq
      .filter(s => s.isDirectory &&
        s.getPath.getName.startsWith(s"$partCol="))
      .map(s => (s.getPath.getName.stripPrefix(s"$partCol=").toInt,
        s.getPath))
      .sortBy(_._1)
  }

  /** Compact a Hive-partitioned store (`root/col=v/part-*.parquet`):
    * partitions holding more than `maxFilesPerPartition` data files
    * are rewritten to ONE file each via dynamic partition overwrite;
    * partitions at or under the threshold are not read, not written,
    * and their files stay byte-identical (spec-pinned by callers).
    * Row set is unchanged — the read is partition-pruned to exactly
    * the fragmented values, and the rewrite is `repartition` on the
    * partition column so each partition's rows land in a single task
    * (hence a single output file). Returns
    * (partitionsCompacted, dataFilesBefore, dataFilesAfter).
    */
  def compactPartitioned(spark: SparkSession, root: String,
                         partCol: String,
                         maxFilesPerPartition: Int = 1): (Int, Long, Long) = {
    require(maxFilesPerPartition >= 1,
      s"maxFilesPerPartition must be >= 1, got $maxFilesPerPartition")
    val rootPath = new Path(root)
    def census(): Map[Int, Int] =
      partitionDirs(spark, rootPath, partCol)
        .map { case (v, p) => v -> dataFiles(spark, p).size }.toMap
    val before = census()
    val fragged = before.filter(_._2 > maxFilesPerPartition).keys
      .toSeq.sorted
    val nBefore = before.values.map(_.toLong).sum
    if (fragged.isEmpty) return (0, nBefore, nBefore)
    // localCheckpoint, not persist: the dynamic overwrite below
    // replaces the very files this frame's lineage reads; a cached
    // plan that loses blocks mid-commit would recompute from
    // partially-swapped sources
    freeingBlocks(spark) {
      val rows = spark.read.parquet(root)
        .filter(col(partCol).isin(fragged.map(Integer.valueOf): _*))
        .localCheckpoint()
      // a fragmented partition whose files hold ZERO rows gets nothing
      // from dynamic overwrite (it writes no output there, so the stale
      // files would persist and every rerun would re-report the
      // partition as compacted): delete those partition dirs directly
      val nonEmpty = rows.groupBy(col(partCol)).agg(count(lit(1)))
        .collect().map(_.getInt(0)).toSet
      val emptyFragged = fragged.filterNot(nonEmpty)
      if (emptyFragged.nonEmpty) {
        val fs = rootPath.getFileSystem(
          spark.sparkContext.hadoopConfiguration)
        emptyFragged.foreach { v =>
          fs.delete(new Path(rootPath, s"$partCol=$v"), true)
        }
        refreshPath(spark, root)
      }
      val liveFragged = fragged.filter(nonEmpty)
      if (liveFragged.nonEmpty) {
        val key = "spark.sql.sources.partitionOverwriteMode"
        val prev = spark.conf.getOption(key)
        spark.conf.set(key, "dynamic")
        try rows.repartition(liveFragged.size, col(partCol))
          .write.mode("overwrite").partitionBy(partCol).parquet(root)
        finally prev match {
          case Some(v) => spark.conf.set(key, v)
          case scala.None => spark.conf.unset(key)
        }
      }
    }
    (fragged.size, nBefore, census().values.map(_.toLong).sum)
  }

  /** The flat-store compaction staging dir — `_`-prefixed, so every
    * parquet reader treats it (and everything inside) as hidden. */
  private val CompactTmp = "_compact_tmp"

  /** Write a small text file (one string per line) at `p`, replacing
    * any existing one. */
  private def writeLines(fs: org.apache.hadoop.fs.FileSystem, p: Path,
                         lines: Seq[String]): Unit = {
    val out = fs.create(p, true)
    try out.write(lines.mkString("", "\n", "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  private def readLines(fs: org.apache.hadoop.fs.FileSystem,
                        p: Path): Seq[String] = {
    val in = fs.open(p)
    try {
      val bos = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { bos.write(buf, 0, n); n = in.read(buf) }
      new String(bos.toByteArray,
        java.nio.charset.StandardCharsets.UTF_8)
        .split("\n").toSeq.filter(_.nonEmpty)
    } finally in.close()
  }

  /** Open-time sweep for a flat store: finish or undo a crashed
    * [[compactFlat]] so the store's row set is EXACTLY correct at
    * every recovery point — no duplicates, no loss. The journal is
    * the staging dir itself (`dir/_compact_tmp`, hidden from parquet
    * readers):
    *
    *  - no `staged.done` marker → the crash hit while staging:
    *    nothing was published (publishing starts only after the
    *    marker), so ROLL BACK — delete the staging dir; sources are
    *    untouched.
    *  - marker present, staged files remain → the crash hit
    *    mid-publish: ROLL BACK — delete the published targets listed
    *    in `publish.list` that made it out, then the staging dir;
    *    sources are untouched (they are deleted only after publish
    *    completes).
    *  - marker present, no staged files left → publish completed: the
    *    crash hit during source deletion. ROLL FORWARD — delete the
    *    sources listed in `sources.list` that still exist, then the
    *    staging dir.
    *
    * Idempotent (each pass converges to "no staging dir") and cheap
    * (one listing when the dir is absent — the steady state). Returns
    * true iff a crashed compaction was repaired.
    */
  def recoverFlat(spark: SparkSession, dir: String): Boolean = {
    val dirPath = new Path(dir)
    val fs = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(dirPath, CompactTmp)
    if (!fs.exists(tmp)) return false
    val marker = new Path(tmp, "staged.done")
    val staged = new Path(tmp, "staged")
    if (!fs.exists(marker)) {
      fs.delete(tmp, true) // staging never finished: nothing published
      refreshPath(spark, dir)
      return true
    }
    val stagedLeft = dataFiles(spark, staged)
    if (stagedLeft.nonEmpty) {
      // publish incomplete: undo the published subset
      readLines(fs, new Path(tmp, "publish.list"))
        .map(n => new Path(dirPath, n))
        .foreach(p => if (fs.exists(p)) fs.delete(p, false))
      fs.delete(tmp, true)
    } else {
      // publish complete: finish deleting the replaced sources
      readLines(fs, new Path(tmp, "sources.list"))
        .map(new Path(_))
        .foreach(p => if (fs.exists(p)) fs.delete(p, false))
      fs.delete(tmp, true)
    }
    refreshPath(spark, dir)
    true
  }

  /** Compact a FLAT store (`dir/part-*.parquet`, no partition dirs):
    * data files smaller than `minBytes` are read (by explicit path —
    * nothing else is scanned) and rewritten as one combined file
    * (split at `targetBytes`); files at or over `minBytes` stay
    * byte-identical. Needs at least two small files to act.
    *
    * CRASH-SAFE (the G7 `_compact_tmp` discipline): the combined
    * output is staged under the hidden `dir/_compact_tmp/staged/`,
    * journaled (`sources.list` = files to replace, `publish.list` =
    * names to publish, `staged.done` = staging-complete marker),
    * published into `dir` by per-file RENAME, and only then are the
    * source files deleted and the staging dir dropped. A crash at ANY
    * point leaves a store that [[recoverFlat]] — run here on entry
    * and by the stores' open paths — restores to an exact row set:
    * before the marker nothing is visible to readers; after it the
    * journal decides roll-back (publish incomplete) vs roll-forward
    * (source deletion incomplete). Duplicates can exist only INSIDE
    * the publish window of a live, single-writer call — never at
    * rest. Returns (filesCompacted, dataFilesBefore, dataFilesAfter).
    */
  def compactFlat(spark: SparkSession, dir: String,
                  minBytes: Long,
                  targetBytes: Long = 128L << 20): (Int, Long, Long) = {
    recoverFlat(spark, dir) // sweep a previous crash first
    val dirPath = new Path(dir)
    val fs = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val before = dataFiles(spark, dirPath)
    val smallStats = before.filter(_._2 < minBytes)
    val small = smallStats.map(_._1)
    if (small.size < 2) return (0, before.size.toLong, before.size.toLong)
    // combined output lands in ~targetBytes files, not one blob — a
    // year of small appends should not merge into a single
    // unsplittable giant
    val nOut = math.max(1L,
      (smallStats.map(_._2).sum + targetBytes - 1) / targetBytes).toInt
    val tmp = new Path(dirPath, CompactTmp)
    val staged = new Path(tmp, "staged")
    fs.mkdirs(tmp)
    writeLines(fs, new Path(tmp, "sources.list"), small.map(_.toString))
    freeingBlocks(spark) {
      val rows = spark.read.parquet(small.map(_.toString): _*)
        .coalesce(nOut).localCheckpoint()
      rows.write.mode("overwrite").parquet(staged.toString)
      // publish names carry the staged part names (job-UUID-unique),
      // prefixed so a human can tell compaction output from appends
      val parts = dataFiles(spark, staged).map(_._1)
      val targets = parts.map(p => s"compact-${p.getName}")
      writeLines(fs, new Path(tmp, "publish.list"), targets)
      fs.create(new Path(tmp, "staged.done"), true).close()
      parts.zip(targets).foreach { case (p, t) =>
        // Hadoop FileSystem.rename reports most failures by returning
        // false, not throwing — a silently-failed publish followed by
        // the source deletion below would be unrecoverable row loss,
        // so a false return must abort HERE, while recoverFlat's
        // mid-publish rollback can still restore the store
        require(fs.rename(p, new Path(dirPath, t)),
          s"compactFlat publish rename failed: $p -> ${new Path(dirPath, t)}")
      }
      small.foreach(fs.delete(_, false))
      fs.delete(tmp, true)
      refreshPath(spark, dir)
    }
    (small.size, before.size.toLong,
      dataFiles(spark, dirPath).size.toLong)
  }

  /** Copy (src, dst) file pairs AS A SPARK JOB — one task per file
    * batch — so a store merge's bandwidth scales with the cluster
    * instead of being a single-threaded `FileUtil.copy` loop on the
    * driver (merging N 100-GB shard stores must not be a
    * driver-NIC-bound job). This is the rare legitimate imperative-RDD
    * case this repo reserves for per-partition FS IO with no row
    * semantics. The copies are independent (distinct targets), so
    * task retries and speculative duplicates are safe: `overwrite =
    * true` makes the last writer win with identical bytes. Targets'
    * parent dirs are created by the destination FS `create` call.
    * Returns the number of files copied.
    */
  def copyFilesDistributed(spark: SparkSession,
                           pairs: Seq[(String, String)],
                           filesPerTask: Int = 4): Long = {
    copyFilesChecksummed(spark, pairs, filesPerTask); pairs.size.toLong
  }

  /** [[copyFilesDistributed]] that also CRC32C-hashes every file's
    * bytes inside the same stream copy (one read, zero extra IO) and
    * returns src -> checksum. The hash travels into the backup
    * manifest so [[verifyStoreBackup]] can catch size-preserving
    * corruption — the tamper class a (rel_path, bytes) manifest is
    * blind to. Copy semantics are unchanged: independent targets,
    * last-writer-wins on retry with identical bytes.
    */
  def copyFilesChecksummed(spark: SparkSession,
                           pairs: Seq[(String, String)],
                           filesPerTask: Int = 4): Map[String, Long] = {
    if (pairs.isEmpty) return Map.empty
    val confMap = HFileDir.confMap(spark)
    val slices = math.max(1,
      (pairs.size + filesPerTask - 1) / filesPerTask)
    // mapPartitions+collect, not foreachPartition: the per-file hash is
    // the job's result. O(files) on the driver — the same bound as the
    // manifest this feeds.
    val sums = spark.sparkContext.parallelize(pairs, slices)
      .mapPartitions { it =>
        val conf = HFileDir.confOf(confMap)
        it.map { case (s, d) =>
          val sp = new Path(s)
          val dp = new Path(d)
          val in = sp.getFileSystem(conf).open(sp)
          // if opening the target throws, the already-open source
          // stream must not leak with it
          val out =
            try dp.getFileSystem(conf).create(dp, true)
            catch { case e: Throwable => in.close(); throw e }
          try (s, crcStream(in, out))
          finally { in.close(); out.close() }
        }
      }.collect().toMap
    // the copies bypass the Spark writer: stale cached listings of the
    // destination would silently MISS the merged-in files (refresh the
    // leaf dirs AND their roots — partitioned stores are read at root)
    pairs.flatMap { p =>
      val parent = new Path(p._2).getParent
      Seq(Option(parent), Option(parent.getParent)).flatten
    }.map(_.toString).distinct.foreach(refreshPath(spark, _))
    sums
  }

  /** The ONE CRC32C streaming loop both the hashing copy and the
    * verify recompute share (two independent copies could drift —
    * e.g. a hash change applied to one side would flag every healthy
    * snapshot). Streams `in` to exhaustion, tees to `out` when given,
    * returns the hash. Caller owns the closes. */
  private def crcStream(in: java.io.InputStream,
                        out: java.io.OutputStream = null): Long = {
    val crc = new java.util.zip.CRC32C
    val buf = new Array[Byte](256 << 10)
    var n = in.read(buf)
    while (n >= 0) {
      crc.update(buf, 0, n)
      if (out != null) out.write(buf, 0, n)
      n = in.read(buf)
    }
    crc.getValue
  }

  /** CRC32C of each file's bytes, as a Spark job (same task shape as
    * the copy) — [[verifyStoreBackup]]'s recompute side. A file whose
    * READ throws an IOException maps to None rather than failing the
    * job: on a checksummed FileSystem (LocalFS `.crc` sidecars, HDFS)
    * the transport layer itself flags flipped bytes with a
    * ChecksumException (an IOException), and verify must report that
    * file rather than die mid-report. Only IO failures are absorbed —
    * OOM/interrupt propagate, so a killed job never masquerades as a
    * corrupt file. */
  def checksumFiles(spark: SparkSession, paths: Seq[String],
                    filesPerTask: Int = 4): Map[String, Option[Long]] = {
    if (paths.isEmpty) return Map.empty
    val confMap = HFileDir.confMap(spark)
    val slices = math.max(1,
      (paths.size + filesPerTask - 1) / filesPerTask)
    spark.sparkContext.parallelize(paths, slices)
      .mapPartitions { it =>
        val conf = HFileDir.confOf(confMap)
        it.map { p =>
          val sum: Option[Long] =
            try {
              val pp = new Path(p)
              val in = pp.getFileSystem(conf).open(pp)
              try Some(crcStream(in)) finally in.close()
            } catch { case _: java.io.IOException => scala.None }
          (p, sum)
        }
      }.collect().toMap
  }

  /** Per-partition health report for a Hive-partitioned store:
    * (value, n_files, bytes) per `col=value` directory, driver-side
    * and O(partitions). Callers join row counts on top when they want
    * them (a column-pruned count, not a listing concern). */
  def partitionFileStats(spark: SparkSession, root: String,
                         partCol: String): Seq[(Int, Int, Long)] =
    partitionDirs(spark, new Path(root), partCol).map { case (v, p) =>
      val fs = dataFiles(spark, p)
      (v, fs.size, fs.map(_._2).sum)
    }

  /** Every file under `root`, recursively, as (relative path, bytes) —
    * the store-agnostic snapshot listing [[backupStore]] copies and
    * its manifest records. Relative paths are computed against the
    * qualified root URI so a restore into any scheme reproduces the
    * layout. */
  def allFiles(spark: SparkSession, root: Path): Seq[(String, Long)] =
    allFilesTimed(spark, root).map { case (rel, n, _) => (rel, n) }

  /** [[allFiles]] plus each file's modification time — the third
    * identity component [[backupStore]]'s incremental carry check
    * uses: (rel_path, bytes) alone is blind to a same-name same-size
    * in-place rewrite, and the mtime is free from the same listing. */
  def allFilesTimed(spark: SparkSession,
                    root: Path): Seq[(String, Long, Long)] = {
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Seq.empty
    val q = fs.makeQualified(root)
    val it = fs.listFiles(q, true)
    val out = scala.collection.mutable.ArrayBuffer[(String, Long, Long)]()
    // relativize on the DECODED uri paths, not raw URI.toString: the
    // latter percent-encodes special characters (space -> %20), and
    // feeding that string back to `new Path(root, rel)` — which does
    // NOT decode — would copy/restore such a file under a mangled
    // name. Store-agnostic means arbitrary names must round-trip.
    val rootPath = q.toUri.getPath.stripSuffix("/")
    while (it.hasNext) {
      val s = it.next()
      if (s.isFile) {
        val p = s.getPath.toUri.getPath
        out += ((p.stripPrefix(rootPath).stripPrefix("/"), s.getLen,
          s.getModificationTime))
      }
    }
    out.toSeq.sortBy(_._1)
  }

  /** Point-in-time BACKUP of a persisted store — the one lifecycle
    * verb an operator wants BEFORE any file surgery (repair, compact,
    * merge, purge), completing the ops loop the advisor/repair verbs
    * opened. Store-AGNOSTIC by design: the snapshot is the directory
    * (every file, recursively, including any in-flight `_compact_tmp`
    * journal — the store formats' own open-path recovery is part of
    * the format, so a restored journal replays exactly like a crash
    * frame), copied as a Spark job ([[copyFilesDistributed]] — backup
    * bandwidth scales with the cluster), plus an underscore-hidden
    * `_backup_manifest` parquet of (rel_path, bytes, crc32c) — the
    * checksum is computed INSIDE the copy's own byte stream (zero
    * extra reads), and is the record that lets [[verifyStoreBackup]]
    * catch size-preserving corruption, not just missing/truncated
    * files. Refuses a non-empty destination (a backup never
    * overwrites — point-in-time snapshots are append-only ops
    * artifacts). Returns files copied.
    *
    * `base = Some(priorSnapshot)` makes the snapshot INCREMENTAL: a
    * source file whose (rel_path, bytes, mtime) matches a row of the
    * base's manifest is NOT re-copied — its manifest row records
    * `src` = the base's PHYSICAL holder (chains flatten at backup
    * time, so resolution is always one hop) and carries the base's
    * CRC32C and recorded mtime. Sound because every store this verb
    * snapshots is pure-file-add (appends create new files;
    * compaction/repair publish under NEW names and delete old ones —
    * files never mutate in place), so same-name+same-size implies
    * identical bytes; the mtime equality is a BEST-EFFORT extra
    * defense that catches an in-place same-size rewrite anyway (it
    * re-copies rather than silently carrying stale bytes) — best-
    * effort because a filesystem with coarse mtime granularity (1 s
    * on some local/object-store FS) cannot distinguish a rewrite
    * landing inside the granularity window; soundness still rests on
    * the pure-file-add contract, not on the mtime. Callers that
    * cannot assume that contract pass `verifyCarryCrc = true`: every
    * carry candidate's LIVE bytes are then re-hashed (a read, but no
    * copy/transfer — rsync's checksum mode) and compared to the base
    * row's CRC32C; a mismatch, an unreadable file, or a base row
    * without a CRC demotes the candidate to a re-copy. A name that
    * shrank/grew re-copies. The base must live under the DESTINATION'S
    * parent directory: [[pruneStoreBackups]]'s never-delete-a-
    * referenced-base guard scans one parent dir, so a base elsewhere
    * would sit outside the guard and could be pruned out from under
    * this snapshot. The babysitter's per-repair-tick snapshots stop
    * paying a full store copy each tick — the HBase-era incremental-
    * backup economics, manifest-chained instead of WAL-chained.
    * [[verifyStoreBackup]] checks carried rows AT THEIR BASE, restore
    * copies from both trees, and [[pruneStoreBackups]] never deletes
    * a snapshot that retained snapshots still reference.
    */
  def backupStore(spark: SparkSession, srcDir: String, dstDir: String,
                  base: Option[String] = None,
                  verifyCarryCrc: Boolean = false): Long = {
    import spark.implicits._
    val files = backupAdmission(spark, srcDir, dstDir)
    val conf = spark.sparkContext.hadoopConfiguration
    val src = new Path(srcDir)
    val dst = new Path(dstDir)
    val qs = src.getFileSystem(conf).makeQualified(src)
    val qd = dst.getFileSystem(conf).makeQualified(dst)
    val baseBy: Map[String, ManifestRow] = base match {
      case scala.None => Map.empty
      case Some(b) =>
        val qb = new Path(b).getFileSystem(conf)
          .makeQualified(new Path(b))
        require(qb != qd, "incremental base must differ from the destination")
        val m = readManifest(spark, b)
        require(m.isRight, s"incremental base $b has no readable " +
          s"manifest - not a backupStore snapshot: ${m.left.getOrElse("")}")
        // same-parent constraint: prune's chain-holder guard protects
        // bases under ONE parent dir — a base elsewhere would be
        // referenced but unguarded (pruning ITS parent could delete it,
        // silently losing this snapshot's carried rows)
        require(qb.getParent == qd.getParent,
          s"incremental base $b must live under the destination's " +
            s"parent (${qd.getParent}) - pruneStoreBackups protects " +
            "referenced bases within one parent dir only")
        m.toOption.get.map(r =>
          r.rel -> r.copy(src = Some(r.src.getOrElse(qb.toString)))).toMap
    }
    val (carryCand, toCopy0) = files.partition { case (rel, n, mt) =>
      baseBy.get(rel).exists(r => r.bytes == n && r.mtime.contains(mt)) }
    // verifyCarryCrc: re-hash each candidate's LIVE bytes against the
    // base CRC — the rsync-checksum posture for stores whose pure-
    // file-add contract the caller does not trust. Demotions re-copy
    // (and re-manifest with their fresh CRC/mtime) instead of carrying.
    val (carried, demoted) =
      if (!verifyCarryCrc || carryCand.isEmpty) (carryCand, Nil)
      else {
        val liveOf = carryCand.map { case (rel, _, _) =>
          rel -> new Path(qs, rel).toString }.toMap
        val sums = checksumFiles(spark,
          carryCand.map { case (rel, _, _) => liveOf(rel) })
        carryCand.partition { case (rel, _, _) =>
          val b = baseBy(rel)
          b.crc.isDefined &&
            sums.get(liveOf(rel)).flatten == b.crc
        }
      }
    if (demoted.nonEmpty)
      Console.err.println(s"backupStore: verifyCarryCrc demoted " +
        s"${demoted.size} carry candidate(s) to re-copies (live bytes " +
        "no longer match the base CRC32C despite identical " +
        "(rel_path, bytes, mtime) - in-place rewrite inside the mtime " +
        s"granularity window): ${demoted.take(3).map(_._1).mkString(", ")}")
    val toCopy = toCopy0 ++ demoted
    // a PRE-mtime base manifest can never satisfy the carry identity,
    // so the "incremental" degrades to a full copy — correct but
    // expensive; say so loudly instead of silently paying the full
    // transfer the feature exists to avoid (take one fresh full
    // snapshot, then chain on it)
    if (baseBy.nonEmpty && carried.isEmpty &&
        baseBy.values.forall(_.mtime.isEmpty))
      Console.err.println(s"backupStore: base ${base.get} has a " +
        "legacy manifest without mtime_ms - nothing can carry and " +
        "this snapshot copies the FULL store; re-base on a snapshot " +
        "taken under the current format")
    val srcOf = toCopy.map { case (rel, _, _) =>
      rel -> new Path(qs, rel).toString }.toMap
    val sums = copyFilesChecksummed(spark,
      toCopy.map { case (rel, _, _) =>
        (srcOf(rel), new Path(qd, rel).toString) })
    val rows =
      toCopy.map { case (rel, n, mt) =>
        (rel, n, mt, Some(sums(srcOf(rel))): Option[Long],
          scala.None: Option[String]) } ++
      carried.map { case (rel, n, _) =>
        val b = baseBy(rel)
        // the carried row keeps the BASE's recorded mtime (the live
        // file's stamp when the bytes were physically copied) — the
        // identity the NEXT incremental compares against
        (rel, n, b.mtime.get, b.crc, b.src)
      }
    rows.toDF("rel_path", "bytes", "mtime_ms", "crc32c", "src").coalesce(1)
      .write.mode("overwrite").parquet(s"$dstDir/_backup_manifest")
    toCopy.size.toLong
  }

  /** The admission checks [[backupStore]] enforces, shared with the
    * TVF's dry-run branch so the preview refuses exactly when the
    * real call would: source exists and holds files, destination
    * empty or absent (each path resolved against ITS OWN FileSystem —
    * backup-to-other-storage is the normal posture). Returns the
    * source listing as (rel_path, bytes, mtime); a source's own
    * `_backup_manifest` is excluded, because snapshotting a snapshot
    * re-manifests it — copying the inner manifest files would be
    * wiped by the outer manifest's overwrite write and leave the
    * backup permanently unverifiable.
    */
  def backupAdmission(spark: SparkSession, srcDir: String,
                      dstDir: String): Seq[(String, Long, Long)] = {
    val src = new Path(srcDir)
    val sfs = src.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(sfs.exists(src), s"backup source $srcDir does not exist")
    // backing up an INCREMENTAL snapshot would capture only its
    // physical delta and silently lose the carried rows — the copy
    // would verify green yet not be the logical state. Refuse; the
    // operator restores first (materializing the chain) or backs up
    // the live store.
    if (sfs.exists(new Path(src, "_backup_manifest")))
      readManifest(spark, srcDir).foreach { m =>
        require(m.forall(_.src.isEmpty),
          s"backup source $srcDir is an INCREMENTAL snapshot (" +
            s"${m.count(_.src.isDefined)} rows carried from a base) - " +
            "copying its delta alone would lose the carried files; " +
            "restore it first, then back up the restored store")
      }
    val dst = new Path(dstDir)
    val dfs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(!dfs.exists(dst) || dfs.listStatus(dst).isEmpty,
      s"backup destination $dstDir is not empty - a backup never " +
        "overwrites; pick a fresh snapshot dir")
    val files = allFilesTimed(spark, src)
      .filterNot(_._1.startsWith("_backup_manifest/"))
    require(files.nonEmpty, s"backup source $srcDir holds no files")
    files
  }

  /** Integrity report over a [[backupStore]] snapshot — (check, ok,
    * n_bad, detail): the manifest parses non-empty, every manifest
    * file exists at its recorded size, no unmanifested data files
    * appeared (a partial second backup or stray write — restore
    * refuses rather than resurrect them), and every present file's
    * bytes re-hash to the manifest's CRC32C — the check that catches
    * a SIZE-PRESERVING bit-flip, which presence+size verification
    * passes green. Cost: one recursive listing + the tiny manifest
    * read on the driver, plus one distributed full read of the
    * snapshot for the re-hash (`deep = false` skips the re-hash for a
    * listing-speed report; restore always verifies deep). A manifest
    * written before checksums existed has no `crc32c` column — the
    * checksum row then reports ok with an explicit "legacy" detail
    * rather than bricking restore of an otherwise-green snapshot.
    */
  def verifyStoreBackup(spark: SparkSession, backupDir: String,
                        deep: Boolean = true): DataFrame = {
    import spark.implicits._
    verifyStoreBackupRows(spark, backupDir, deep).report
      .toDF("check", "ok", "n_bad", "detail")
  }

  /** Everything one verify pass learns about a snapshot — the report,
    * the physical listing, the parsed manifest, and how many CARRIED
    * rows failed their base check — so [[listStoreBackups]]'s chain
    * census pays no second read. */
  private final case class VerifyOutcome(
      report: Seq[(String, Boolean, Long, String)],
      files: Seq[(String, Long)],
      manifest: Either[String, Seq[ManifestRow]],
      carriedBad: Long)

  /** [[verifyStoreBackup]]'s body, also returning the snapshot's data
    * file listing (rel_path, bytes) — one recursive listing serves
    * both the report and [[listStoreBackups]]'s census (a catalog
    * sweep over N snapshots on an object store must not pay 2N
    * listings where N suffice). */
  /** One manifest entry: where the snapshot says a file LIVES. `src =
    * None` means stored in this snapshot; `Some(dir)` means CARRIED
    * from the base snapshot `dir` (an [[backupStore]] incremental —
    * the bytes were not re-copied because the store's pure-file-add
    * contract makes (rel_path, bytes) identity-sufficient). Chains
    * are flattened at backup time: `src` always names the PHYSICAL
    * holder, never an intermediate incremental. */
  private final case class ManifestRow(rel: String, bytes: Long,
                                       crc: Option[Long],
                                       src: Option[String],
                                       mtime: Option[Long])

  private def readManifest(spark: SparkSession, backupDir: String)
      : Either[String, Seq[ManifestRow]] =
    try {
      // its part files: Spark ignores (and warns on) a `_`-prefixed root
      val mdir = new Path(backupDir, "_backup_manifest")
      val raw = spark.read.parquet(mdir.getFileSystem(spark.sparkContext
          .hadoopConfiguration).listStatus(mdir).map(_.getPath.toString)
        .filter(_.endsWith(".parquet")).toSeq: _*)
      def opt(name: String, typ: String) =
        if (raw.schema.fieldNames.contains(name)) col(name)
        else lit(null).cast(typ)
      val m = raw.select(col("rel_path"), col("bytes"),
          opt("crc32c", "long"), opt("src", "string"),
          opt("mtime_ms", "long"))
        .collect()
        .map(r => ManifestRow(r.getString(0), r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)),
          if (r.isNullAt(3)) None else Some(r.getString(3)),
          if (r.isNullAt(4)) None else Some(r.getLong(4)))).toSeq
      if (m.isEmpty) Left("manifest is EMPTY") else Right(m)
    } catch {
      case e: Exception => Left(s"manifest unreadable: ${
        Option(e.getMessage).getOrElse(e.getClass.getName).take(80)}")
    }

  /** Absolute physical path of a manifest row — the snapshot's own
    * tree for stored rows, the base snapshot's for carried rows. */
  private def physicalPath(qSnap: Path, row: ManifestRow): String =
    row.src match {
      case Some(base) => new Path(new Path(base), row.rel).toString
      case scala.None => new Path(qSnap, row.rel).toString
    }

  private def verifyStoreBackupRows(spark: SparkSession,
                                    backupDir: String, deep: Boolean)
      : VerifyOutcome = {
    val manifestE = readManifest(spark, backupDir)
    val backupPath = new Path(backupDir)
    val actualSeq = allFiles(spark, backupPath)
      .filterNot(_._1.startsWith("_backup_manifest/"))
    if (manifestE.isLeft) {
      val skip = "skipped: manifest corrupt"
      return VerifyOutcome(Seq(
        ("manifest_valid", false, 1L, manifestE.left.getOrElse("")),
        ("files_present", false, 0L, skip),
        ("no_stray_files", false, 0L, skip),
        ("checksums_match", false, 0L, skip)
      ), actualSeq, manifestE, 0L)
    }
    val manifest = manifestE.toOption.get
    val actual = actualSeq.toMap
    // carried rows are checked at their BASE snapshot: one listing per
    // distinct base (bounded by the chain's snapshot count, flattened
    // to physical holders at backup time)
    val baseFiles: Map[String, Map[String, Long]] =
      manifest.flatMap(_.src).distinct.map { base =>
        base -> allFiles(spark, new Path(base))
          .filterNot(_._1.startsWith("_backup_manifest/")).toMap
      }.toMap
    def present(r: ManifestRow): Boolean = r.src match {
      case Some(base) => baseFiles(base).get(r.rel).contains(r.bytes)
      case scala.None => actual.get(r.rel).contains(r.bytes)
    }
    val missing = manifest.filterNot(present)
    val carried = manifest.count(_.src.isDefined)
    val stray = actual.keySet diff
      manifest.filter(_.src.isEmpty).map(_.rel).toSet
    val checksumRow: (String, Boolean, Long, String) = {
      val withCrc = manifest.filter(r => r.crc.isDefined && present(r))
      if (!deep)
        ("checksums_match", true, 0L,
          "skipped: shallow verify (deep=false) - presence and size only")
      else if (withCrc.isEmpty)
        ("checksums_match", true, 0L,
          "manifest has no checksums (legacy) - presence and size only")
      else {
        val conf = spark.sparkContext.hadoopConfiguration
        val q = backupPath.getFileSystem(conf).makeQualified(backupPath)
        val absOf = withCrc.map(r => r.rel -> physicalPath(q, r)).toMap
        val sums = checksumFiles(spark, withCrc.map(r => absOf(r.rel)))
        val bad = withCrc.filter(r =>
          !sums.get(absOf(r.rel)).flatten.contains(r.crc.get))
        // unreadable (IO failure, incl. the FS's own checksum layer)
        // and hash-mismatch are reported distinctly: an operator must
        // not discard a healthy snapshot over one transient read
        val unreadable = bad.filter(r =>
          sums.get(absOf(r.rel)).flatten.isEmpty).map(_.rel).toSet
        val detail =
          if (bad.isEmpty) s"${withCrc.size} files re-hashed clean"
          else {
            val drift = bad.map(_.rel).filterNot(unreadable)
            Seq(
              if (drift.nonEmpty)
                "content drift (CRC32C mismatch): " +
                  drift.take(3).mkString(", ") else "",
              if (unreadable.nonEmpty)
                "unreadable (IO error - retry before discarding): " +
                  unreadable.take(3).mkString(", ") else ""
            ).filter(_.nonEmpty).mkString("; ")
          }
        ("checksums_match", bad.isEmpty, bad.size.toLong, detail)
      }
    }
    VerifyOutcome(Seq(
      ("manifest_valid", true, 0L, s"${manifest.size} files recorded" +
        (if (carried > 0) s" ($carried carried from base snapshots)"
         else "")),
      ("files_present", missing.isEmpty, missing.size.toLong,
        "manifest files missing or size-drifted (carried rows checked " +
          "at their base): " + missing.take(3).map(_.rel).mkString(", ")),
      ("no_stray_files", stray.isEmpty, stray.size.toLong,
        s"unmanifested files: ${stray.take(3).mkString(", ")}"),
      checksumRow
    ), actualSeq, manifestE, missing.count(_.src.isDefined).toLong)
  }

  /** RESTORE a [[backupStore]] snapshot into `dstDir` — refuses
    * loudly unless [[verifyStoreBackup]] is all-green (a tampered or
    * torn snapshot must never silently become the store) and unless
    * the destination is empty (restore-over-live is a delete
    * decision the operator makes explicitly, not a default). Bytes
    * move as a Spark job, FROM THE MANIFEST's physical paths — an
    * incremental snapshot's carried rows restore from their base
    * snapshot's tree, stored rows from this one — so a restored store
    * is always the complete point-in-time state whichever snapshots
    * physically hold the bytes. Returns files restored.
    */
  def restoreStore(spark: SparkSession, backupDir: String,
                   dstDir: String): Long = {
    requireVerified(spark, backupDir)
    val dst = new Path(dstDir)
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(!fs.exists(dst) || fs.listStatus(dst).isEmpty,
      s"restore destination $dstDir is not empty - restoring over a " +
        "live store is an explicit delete decision; clear it first")
    val qd = fs.makeQualified(dst)
    // the manifest, not a directory listing, is the restore plan:
    // verify above already proved every row present at its physical
    // holder (and refused otherwise)
    val plan = restorePlan(spark, backupDir)
    copyFilesDistributed(spark,
      plan.map { case (rel, _, phys) =>
        (phys, new Path(qd, rel).toString) })
    plan.size.toLong
  }

  /** The deep-verify REFUSAL GATE every restore verb shares: throws
    * unless [[verifyStoreBackup]] is all-green on `backupDir` — a
    * tampered, truncated, or chain-broken snapshot must never
    * silently become the store, whichever restore entry point runs. */
  def requireVerified(spark: SparkSession, backupDir: String): Unit = {
    val report = verifyStoreBackup(spark, backupDir).collect()
    require(report.forall(_.getAs[Boolean]("ok")),
      s"backup $backupDir fails verification - refusing to restore: " +
        report.filter(!_.getAs[Boolean]("ok")).mkString("; "))
  }

  /** The restore COPY PLAN of a snapshot: one (rel_path, bytes,
    * physical_src) row per manifest entry, `physical_src` resolved to
    * the holding tree — this snapshot for stored rows, the base
    * snapshot for carried rows (chains flatten at backup time, so
    * resolution is one hop). Exposed so format-specific restore verbs
    * ([[graft.operators.BulkLoad.restore]]'s same-name overlay onto a
    * live bulkload dir) reuse the ONE manifest-driven plan instead of
    * growing a second restore subsystem; callers gate on
    * [[requireVerified]] first, exactly like [[restoreStore]]. */
  def restorePlan(spark: SparkSession, backupDir: String)
      : Seq[(String, Long, String)] = {
    val src = new Path(backupDir)
    val qs = src.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .makeQualified(src)
    readManifest(spark, backupDir) match {
      case Right(rows) =>
        rows.map(r => (r.rel, r.bytes, physicalPath(qs, r)))
      case Left(err) => throw new IllegalArgumentException(
        s"backup $backupDir has no readable manifest: $err")
    }
  }

  /** Snapshot directories under `parentDir` — any child dir holding a
    * `_backup_manifest` — with their completion stamp: the max mtime
    * of the manifest's FILES (the manifest is written LAST in
    * [[backupStore]], so that is "backup finished at"). File mtimes,
    * not the directory's: object stores (S3A) synthesize directory
    * entries with meaningless timestamps, and a retention sweep
    * ordered by those would delete arbitrary snapshots. */
  private def snapshotDirs(spark: SparkSession,
                           parent: Path): Seq[(Path, Long)] = {
    val fs = parent.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(parent)) return Seq.empty
    fs.listStatus(parent).toSeq.filter(_.isDirectory).flatMap { s =>
      val m = new Path(s.getPath, "_backup_manifest")
      if (!fs.exists(m)) scala.None
      else {
        val fileTimes = fs.listStatus(m).toSeq.filter(_.isFile)
          .map(_.getModificationTime)
        val ts = if (fileTimes.nonEmpty) fileTimes.max
          else fs.getFileStatus(m).getModificationTime
        Some((s.getPath, ts))
      }
    }.sortBy(-_._2)
  }

  /** Catalog of the [[backupStore]] snapshots under one parent dir —
    * the report that turns one-shot backups into a LIFECYCLE: per
    * snapshot (newest first) its name, completion stamp, LOGICAL
    * file/byte census (what a restore reproduces — carried rows
    * included), the chain-structure split an operator needs before
    * pruning a parent or estimating restore cost (`carried_files` /
    * `carried_bytes` referenced at base snapshots vs `physical_bytes`
    * stored in this snapshot's own tree; a FULL snapshot reports zero
    * carried), `base` (the distinct base dir(s) its carried rows
    * resolve to, null for a full snapshot), `chain_ok` (every carried
    * row present at its base — false means a restore would refuse),
    * and whether it verifies green. `deep = false` (default) verifies
    * presence+size only — O(listing) per snapshot, the posture a
    * retention sweep wants; `deep = true` re-hashes every byte
    * ([[verifyStoreBackup]]'s checksum row included), the posture a
    * restore drill wants. Dirs without a `_backup_manifest` are not
    * snapshots and are not listed; a snapshot whose manifest is
    * corrupt falls back to its physical listing census (chain_ok
    * false — nothing about its chain is knowable).
    */
  def listStoreBackups(spark: SparkSession, parentDir: String,
                       deep: Boolean = false): DataFrame = {
    import spark.implicits._
    snapshotDirs(spark, new Path(parentDir)).map { case (p, ts) =>
      // ONE recursive listing per snapshot serves the verify report,
      // the census, and the chain split (the manifest read is shared
      // through VerifyOutcome, not repeated)
      val v = verifyStoreBackupRows(spark, p.toString, deep)
      val ok = v.report.forall(_._2)
      val badChecks = v.report.filter(!_._2).map(_._1).mkString(",")
      val (nFiles, bytes, carriedN, carriedB, physB, base, chainOk) =
        v.manifest match {
          case Right(m) =>
            val carried = m.filter(_.src.isDefined)
            val bases = carried.flatMap(_.src).distinct.sorted
            (m.size.toLong, m.map(_.bytes).sum,
              carried.size.toLong, carried.map(_.bytes).sum,
              m.filter(_.src.isEmpty).map(_.bytes).sum,
              if (bases.isEmpty) null else bases.mkString(","),
              v.carriedBad == 0L)
          case Left(_) =>
            (v.files.size.toLong, v.files.map(_._2).sum, 0L, 0L,
              v.files.map(_._2).sum, null, false)
        }
      (p.getName, ts, nFiles, bytes, carriedN, carriedB, physB,
        base, chainOk, ok, if (ok) "" else badChecks)
    }.toDF("snapshot", "completed_ms", "n_files", "bytes",
      "carried_files", "carried_bytes", "physical_bytes", "base",
      "chain_ok", "verify_ok", "failed_checks")
  }

  /** Retention sweep over a [[backupStore]] snapshot dir: keep the
    * newest `keep` snapshots, delete the rest — EXCEPT that the last
    * verify-green snapshot is never deleted (if every retained
    * snapshot fails verification and an older one is green, the
    * newest green one is kept too: pruning must never convert "we
    * have a restorable backup" into "we don't"). `olderThanMs =
    * Some(age)` adds the AGE axis of the usual ops policy ("keep 7
    * days plus the last N"): a snapshot beyond the keep-count is
    * still kept while its completion stamp is younger than `age`
    * milliseconds — deletion requires BOTH beyond-count AND
    * beyond-age; the last-green and chain-holder guards apply
    * unchanged. Verification here is the shallow (presence+size)
    * report — a retention sweep over N snapshots must not re-read
    * every byte of all of them; run [[verifyStoreBackup]] deep on the
    * survivors separately for the restore-drill guarantee. `dryRun =
    * true` reports the same decisions without deleting. Returns one
    * row per snapshot: (snapshot, completed_ms, verify_ok, action,
    * reason) — a delete that FAILS reports `delete_failed` on its row
    * and the sweep continues, so the audit trail records exactly what
    * was removed even when one removal errors (throwing mid-sweep
    * would lose the report for snapshots already deleted).
    */
  def pruneStoreBackups(spark: SparkSession, parentDir: String,
                        keep: Int, dryRun: Boolean = false,
                        olderThanMs: Option[Long] = None): DataFrame = {
    import spark.implicits._
    require(keep >= 1, s"keep must be >= 1, got $keep (a retention " +
      "sweep that keeps nothing is a delete-all; do that explicitly)")
    olderThanMs.foreach(a => require(a >= 0,
      s"olderThanMs must be >= 0, got $a"))
    val nowMs = System.currentTimeMillis()
    val snaps = snapshotDirs(spark, new Path(parentDir)) // newest first
    // ONE verify pass per snapshot serves both the green map and the
    // chain-holder refs below (VerifyOutcome carries the parsed
    // manifest precisely so a sweep never pays a second read)
    val outcomes: Map[Path, VerifyOutcome] = snaps.map { case (p, _) =>
      p -> verifyStoreBackupRows(spark, p.toString, deep = false)
    }.toMap
    val green = outcomes.map { case (p, v) =>
      p -> v.report.forall(_._2) }
    // age guard: a snapshot younger than the cutoff joins the
    // retained set outright — the downstream last-green/chain-holder
    // logic then treats it exactly like a keep-count survivor
    val youngOf: Set[Path] = olderThanMs match {
      case Some(age) => snaps.collect {
        case (p, ts) if nowMs - ts < age => p }.toSet
      case scala.None => Set.empty
    }
    val byCount = snaps.take(keep).map(_._1).toSet
    val retained = byCount ++ youngOf
    val extraGreen: Set[Path] =
      if (snaps.exists { case (p, _) => retained(p) && green(p) }) Set.empty
      else snaps.collectFirst {
        case (p, _) if !retained(p) && green(p) => p }.toSet
    val fs = new Path(parentDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a snapshot that PHYSICALLY HOLDS bytes for a kept incremental
    // must survive too — deleting a base would corrupt every
    // incremental chained on it. Refs are flattened-physical at
    // backup time, but iterate to fixpoint anyway (defense against a
    // hand-built chained manifest).
    val baseRefs: Map[Path, Set[String]] = outcomes.map { case (p, v) =>
      p -> v.manifest.toOption
        .map(_.flatMap(_.src).toSet).getOrElse(Set.empty[String])
    }
    val qualifiedOf: Map[Path, String] = snaps.map { case (p, _) =>
      p -> fs.makeQualified(p).toString }.toMap
    var kept = retained ++ extraGreen
    var changed = true
    while (changed) {
      changed = false
      val referenced = kept.flatMap(baseRefs(_))
      snaps.foreach { case (p, _) =>
        if (!kept(p) && referenced.contains(qualifiedOf(p))) {
          kept += p; changed = true
        }
      }
    }
    val keptBase = kept diff retained diff extraGreen
    val beyond = s"older than keep=$keep newest" +
      olderThanMs.map(a => s" and beyond the ${a}ms age cutoff")
        .getOrElse("")
    val rows = snaps.map { case (p, ts) =>
      val (action, reason) =
        if (byCount(p)) ("kept", s"within keep=$keep newest")
        else if (youngOf(p))
          ("kept", s"younger than the ${olderThanMs.getOrElse(0L)}ms " +
            "age cutoff - deletion requires beyond-count AND beyond-age")
        else if (extraGreen(p))
          ("kept", "newest green snapshot - every retained snapshot " +
            "fails verification; pruning must leave a restorable backup")
        else if (keptBase(p))
          ("kept", "physical holder for a retained incremental " +
            "snapshot - deleting the base would corrupt its chain")
        else if (dryRun) ("would_delete", beyond)
        else {
          val deleted =
            // NonFatal, not just IOException: object-store client
            // wrappers throw RuntimeExceptions, and one mid-sweep
            // failure must degrade to THIS row's delete_failed, not
            // abort the sweep and lose the audit rows already earned
            try fs.delete(p, true)
            catch { case scala.util.control.NonFatal(e) =>
              Console.err.println(s"prune: delete $p failed: ${e.getMessage}")
              false
            }
          if (deleted) {
            refreshPath(spark, p.toString)
            ("deleted", beyond)
          } else ("delete_failed",
            s"$beyond - delete returned false or " +
              "threw; snapshot left in place, re-run the sweep")
        }
      (p.getName, ts, green(p), action, reason)
    }
    rows.toDF("snapshot", "completed_ms", "verify_ok", "action", "reason")
  }
}
