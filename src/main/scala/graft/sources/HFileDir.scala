package graft.sources

import java.io.IOException
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{Callable, Executors, Future, Semaphore}

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, FileStatus, FileSystem, Path}
import org.apache.hadoop.io.IOUtils
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.regexp_extract

/** The layout of one bulk-load directory, shared by
  * [[graft.operators.BulkLoad]] and the `graft-hfile` source: how its
  * HFiles are listed, opened over Hadoop, summarized (from the
  * `_manifest` sidecar, or pooled trailer reads when the sidecar is
  * stale), and how a task rolls, names and commits them.
  *
  * {{{
  *  dir/bucket=N/part-....hfile     one sorted run per file
  *  dir/_manifest                   per-file stats ([[HFileManifest]])
  *  dir/_inprogress/attempt-...     task temp files, renamed at task end
  * }}}
  *
  * A streamed bulk load (the G7 sink, tailed by the G10 source and
  * folded by `Compaction.compactEpochs`) holds one such directory per
  * micro-batch, a RUN, and this object is the only code that knows
  * the run files ([[runs]] and the writers below it):
  *
  * {{{
  *  sink/epoch=N/bucket=.../_manifest   one run: a bulk-load directory
  *  sink/epoch=N/_complete              published: every file committed
  *  sink/epoch=N/_consumed              a fold's provenance: the run ids
  *                                      it folded, one per line
  *  sink/_compact_tmp/                  a fold being staged
  * }}}
  */
private[graft] object HFileDir {

  // data files under a directory: `bucket=*` (not `*/`) so leftover
  // `_inprogress` attempt files are never read back as data
  private val Glob = "bucket=*/*.hfile"

  /** The session's Hadoop settings as a plain map, captured by task
    * closures — executors must see credentials / fs.defaultFS etc.; a
    * bare `new Configuration()` on an executor would not. Spark already
    * broadcasts each stage's task binary, so no separate broadcast.
    */
  def confMap(spark: SparkSession): Map[String, String] = {
    val it = spark.sparkContext.hadoopConfiguration.iterator()
    val m = Map.newBuilder[String, String]
    while (it.hasNext) { val e = it.next(); m += e.getKey -> e.getValue }
    m.result()
  }

  def confOf(m: Map[String, String]): Configuration = {
    val conf = new Configuration(false)
    m.foreach { case (k, v) => conf.set(k, v) }
    conf
  }

  /** Positional reads of one file over a Hadoop stream. */
  def open(file: String, conf: Configuration): HFileReader.RandomRead = {
    val p = new Path(file)
    val fs = p.getFileSystem(conf)
    val len = fs.getFileStatus(p).getLen
    val in = fs.open(p)
    new HFileReader.RandomRead {
      def length: Long = len
      def readFully(pos: Long, n: Int): Array[Byte] = {
        val buf = new Array[Byte](n)
        in.readFully(pos, buf)
        buf
      }
      override def close(): Unit = in.close()
    }
  }

  /** `f` over `items` through the shared [[Pool]] of [[PoolSize]]
    * threads — per-file short reads at 100k files would gate a job if
    * serial (the parquet parallel-footer analogue). Results come back in
    * `items` order; a failing item cancels this call's other futures
    * (not the pool's other callers) and its failure is rethrown. A
    * single item runs inline: a one-file probe or read needs no pool.
    * Callers share the pool's queue, so one call keeps at most
    * [[PoolSize]] of its items queued or running: it submits the next
    * as one finishes, and a concurrent caller's items (a bloom probe
    * beside a many-file stats fallback) wait for one item per thread,
    * not for the whole backlog. `f` must not call `pooled` itself: a
    * nested call would wait on a pool whose threads may all be waiting
    * on it.
    */
  def pooled[A, B](items: Seq[A])(f: A => B): Seq[B] =
    if (items.isEmpty) Nil
    else if (items.sizeIs == 1) Seq(f(items.head))
    else {
      val slots = new Semaphore(PoolSize)
      val futures = ArrayBuffer.empty[Future[B]]
      try {
        items.foreach { a =>
          slots.acquire()
          futures += Pool.submit(new Callable[B] {
            def call(): B = try f(a) finally slots.release()
          })
        }
        futures.map(_.get()).toSeq
      } catch { case e: Throwable => futures.foreach(_.cancel(true)); throw e }
    }

  private[graft] val PoolThreadPrefix = "graft-hfile-io-"
  private[graft] val PoolSize = 16

  /** The one pool behind [[pooled]]: [[PoolSize]] named daemon threads,
    * started on first use and kept for the JVM's life (daemons never
    * hold up exit), so a driver that plans many small reads starts 16
    * threads in total rather than a pool per call. */
  private lazy val Pool = {
    val n = new java.util.concurrent.atomic.AtomicInteger
    Executors.newFixedThreadPool(PoolSize, (r: Runnable) => {
      val t = new Thread(r, PoolThreadPrefix + n.incrementAndGet())
      t.setDaemon(true)
      t
    })
  }

  /** One file's planner stats: entry count and first/last rowkey (None
    * for a cell-less file).
    */
  case class FileStat(file: String, bucket: Int, entryCount: Long,
                      range: Option[(Array[Byte], Array[Byte])])

  /** A directory's files as listed once; every planner stat derives from
    * this one listing.
    */
  final class Listing(val root: Path, val fs: FileSystem, val conf: Configuration,
                      val files: Seq[FileStatus]) {
    def paths: Seq[String] = files.map(_.getPath.toString)

    /** [[FileStat]] per listed file whose bucket passes `keep`, in listing
      * order: free when the `_manifest` sidecar matches the listing, a
      * trailer read (plus first index key and LASTKEY when `needRange`)
      * per file through [[pooled]] when it does not.
      */
    def stats(needRange: Boolean = true,
              keep: Int => Boolean = _ => true): Seq[FileStat] = {
      val kept = paths.map(f => (f, HFileSource.bucketOf(f)))
        .zipWithIndex.filter { case ((_, b), _) => keep(b) }
      HFileManifest.readValid(fs, root, files).map { entries =>
        kept.map { case ((f, b), i) =>
          val e = entries(i)
          FileStat(f, b, e.entryCount,
            if (e.minHex.isEmpty) None else Some((e.minKey, e.maxKey)))
        }
      }.getOrElse(pooled(kept) { case ((f, b), _) =>
        val r = open(f, conf)
        try {
          val t = HFileReader.readTrailer(r)
          FileStat(f, b, t.entryCount,
            if (needRange) HFileReader.rowkeyRange(r, t) else None)
        } finally r.close()
      })
    }
  }

  /** `path`'s data files. `path` may itself hold a glob above the
    * bucket dirs (a [[runsGlob]]): it expands with the file glob.
    */
  def list(path: String, conf: Configuration): Listing = {
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    // globStatus returns null when the path is absent
    new Listing(root, fs, conf,
      Option(fs.globStatus(new Path(root, Glob))).getOrElse(Array.empty).toSeq)
  }

  /** Job start of a write: the directory is replaced, so a replayed
    * write (the G7 sink re-running a batch) leaves no file of the last.
    */
  def startWrite(path: String, conf: Configuration): Unit = {
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    if (fs.exists(root)) fs.delete(root, true)
    fs.mkdirs(root)
  }

  /** Job end of a write: the `_manifest` sidecar over the tasks' entries. */
  def commitWrite(path: String, conf: Configuration,
                  entries: Seq[HFileManifest.Entry]): Unit = {
    val root = new Path(path)
    HFileManifest.write(root.getFileSystem(conf), root, entries)
  }

  /** Clears task temp files after any write job, committed or failed. */
  def clearTemp(path: String, conf: Configuration): Unit = {
    val root = new Path(path)
    root.getFileSystem(conf).delete(new Path(root, "_inprogress"), true)
  }

  // ---- runs of a streamed bulk load --------------------------------------

  private val RunPrefix = "epoch="

  /** Marker a published run carries (see [[markPublished]]). */
  val CompleteFile = "_complete"

  /** Provenance file a published fold carries (see [[publishFold]]). */
  val ConsumedFile = "_consumed"

  /** One run; `published`/`folded`: [[CompleteFile]]/[[ConsumedFile]] there. */
  final case class Run(id: Long, path: Path, published: Boolean,
                       folded: Boolean) {
    /** A published batch run — folds only rearrange delivered cells. */
    def deliverable: Boolean = published && !folded
  }

  def runPath(path: String, id: Long): String =
    new Path(new Path(path), s"$RunPrefix$id").toString

  /** Run-dir glob, relative to the sink dir, over the runs `ids` (every
    * run when None): `sink/<glob>` loads as one constant-size scan,
    * however many runs.
    */
  def runsGlob(ids: Option[Seq[Long]]): String = ids match {
    case None    => s"$RunPrefix*"
    case Some(s) => s"$RunPrefix{${s.sorted.mkString(",")}}"
  }

  /** The id of the run a [[runsGlob]]-scanned `file` path lives in. */
  def runIdOf(file: Column): Column =
    regexp_extract(file, s"$RunPrefix(\\d+)/bucket=[^/]*/[^/]*$$", 1)
      .cast("long")

  /** Every run under `path`, by id: one listStatus per run dir and no
    * file reads (the tail polls this per trigger; on an object store
    * each probe is a round trip). A run dir that is gone after an
    * IOException — a fold swept it; the local FS then reports
    * `AccessDeniedException`, as it checks `exists` before it lists — is
    * skipped. Anything else is rethrown.
    */
  def runs(path: String, conf: Configuration): Seq[Run] = {
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    Option(fs.globStatus(new Path(root, s"$RunPrefix*")))
      .getOrElse(Array.empty).toSeq.filter(_.isDirectory)
      .flatMap { st =>
        val p = st.getPath
        try {
          val names = fs.listStatus(p).map(_.getPath.getName).toSet
          Some(Run(p.getName.stripPrefix(RunPrefix).toLong, p,
            names.contains(CompleteFile), names.contains(ConsumedFile)))
        } catch { case _: IOException if !fs.exists(p) => None }
      }
      .sortBy(_.id)
  }

  /** The run ids a fold consumed (Nil for a batch run, or for a fold
    * swept since [[runs]] listed it — the same vanished-dir rule). An
    * unreadable provenance in a live fold fails loudly: its consumed
    * leftovers could not be told from live runs.
    */
  def consumed(run: Run, conf: Configuration): Seq[Long] =
    if (!run.folded) Nil
    else {
      val fs = run.path.getFileSystem(conf)
      val cf = new Path(run.path, ConsumedFile)
      try {
        val in = fs.open(cf)
        try new String(IOUtils.readFullyToByteArray(in), UTF_8)
          .split("\n").filter(_.nonEmpty).map(_.toLong).toSeq
        finally in.close()
      } catch {
        case _: IOException if !fs.exists(run.path) => Nil
        case e: Exception =>
          throw new IllegalStateException(s"unreadable fold provenance $cf", e)
      }
    }

  /** Publishes a written run to tailing readers. Written AFTER every
    * file's commit rename landed, so a marker always names a fully
    * loadable run; re-marking (a replayed batch) is idempotent.
    */
  def markPublished(run: String, conf: Configuration): Unit = {
    val p = new Path(run, CompleteFile)
    p.getFileSystem(conf).create(p, true).close()
  }

  /** Where a fold is staged: hidden from the run glob, and discarded by
    * the sink's recovery sweep (its sources are still intact).
    */
  def foldStage(path: String): String =
    new Path(new Path(path), "_compact_tmp").toString

  /** Publishes a fold of the runs `consumed` as run `id`: `stage` writes
    * it under [[foldStage]], then its provenance goes INSIDE it, then the
    * rename — so a published fold always carries complete provenance.
    */
  def publishFold(path: String, conf: Configuration, id: Long,
                  consumed: Seq[Long])(stage: String => Unit): Unit = {
    val staged = new Path(foldStage(path))
    val fs = staged.getFileSystem(conf)
    stage(staged.toString)
    val out = fs.create(new Path(staged, ConsumedFile), true)
    try out.write(consumed.sorted.mkString("", "\n", "\n").getBytes(UTF_8))
    finally out.close()
    val pub = new Path(runPath(path, id))
    require(fs.rename(staged, pub), s"failed to publish compacted run as $pub")
  }

  /** How every file of one write is encoded. */
  case class Format(blockSize: Int, codec: Int, maxFileBytes: Long,
                    encoding: Int, withTagsAndMvcc: Boolean = false)

  /** One task's sorted cell stream written as `bucket=N/` HFiles under
    * `root`: one [[HFileWriter]] at a time, rolling whenever the bucket
    * changes — the reference's roll-on-salt-prefix-change rule
    * (HadoopOutputFormat2.java:88-100) — and on `maxFileBytes` at a
    * rowkey boundary. Files are named `part-PPPPP-SSS.hfile`
    * (partition, sequence) and written under `_inprogress/`; [[commit]]
    * renames them into place at task end, the first finished attempt
    * winning (output is deterministic, so a loser's bytes equal the
    * winner's), and returns their [[HFileManifest.Entry]]s. A task that
    * fails calls [[abort]], which closes the open file and deletes the
    * attempt's temp files.
    */
  final class TaskWriter(root: String, conf: Configuration, format: Format,
                         partitionId: Int, attemptId: Long) {
    private val fs = new Path(root).getFileSystem(conf)
    private var bucket = Int.MinValue
    private var seq = 0
    private var out: FSDataOutputStream = null
    private var writer: HFileWriter = null
    private var tmp: Path = null
    private var dest: Path = null
    private val pending = ArrayBuffer[(Path, Path)]()
    private val entries = ArrayBuffer[HFileManifest.Entry]()

    def write(b: Int, cell: HFile.HCell): Unit = {
      // size cap (hbase.hregion.max.filesize analogue): roll to a new
      // file in the SAME bucket, but only between rowkeys — splitting one
      // row across files would overlap their ranges
      if (writer == null || b != bucket ||
          (writer.bytesWritten >= format.maxFileBytes &&
            !java.util.Arrays.equals(writer.lastRowkey, cell.rowkey)))
        roll(b)
      writer.append(cell)
    }

    private def finishCurrent(): Unit = if (writer != null) {
      writer.finish()
      out.close()
      pending += ((tmp, dest))
      entries += HFileManifest.Entry(HFileManifest.relOf(dest), bucket,
        writer.bytesWritten, writer.cellCount,
        HFileManifest.toHex(writer.firstRowkey),
        HFileManifest.toHex(writer.lastRowkey))
      writer = null
    }

    private def roll(b: Int): Unit = {
      finishCurrent()
      val name = f"part-$partitionId%05d-$seq%03d.hfile"
      dest = new Path(root, s"bucket=$b/$name")
      tmp = new Path(root, s"_inprogress/attempt-$attemptId-$name")
      seq += 1
      out = fs.create(tmp, true)
      writer = new HFileWriter(out, format.blockSize, format.codec,
        withTagsAndMvcc = format.withTagsAndMvcc, encoding = format.encoding)
      bucket = b
    }

    def commit(): Seq[HFileManifest.Entry] = {
      finishCurrent()
      pending.foreach { case (t, d) =>
        fs.mkdirs(d.getParent)
        // first completed attempt wins; losers hold identical bytes, so
        // an existing dest means success — just drop our temp
        if (!fs.rename(t, d)) {
          if (!fs.exists(d))
            throw new java.io.IOException(s"could not commit $d")
          fs.delete(t, false)
        }
      }
      entries.toSeq
    }

    def abort(): Unit = {
      if (writer != null) { try out.close() catch { case _: Throwable => () } }
      writer = null
      (pending.map(_._1) ++ Option(tmp)).foreach { t =>
        try fs.delete(t, false) catch { case _: Throwable => () }
      }
    }
  }
}
