package graft.sources

import java.util.concurrent.{Callable, Executors}

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession

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
  */
private[graft] object HFileDir {

  // data files under a directory: `bucket=*` (not `*/`) so leftover
  // `_inprogress` attempt files are never read back as data
  val Glob = "bucket=*/*.hfile"

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

  /** `f` over `items` through a bounded pool of 16 threads — per-file
    * short reads at 100k files would gate a job if serial (the parquet
    * parallel-footer analogue). Results come back in `items` order;
    * `shutdownNow` so a failure leaves no queued reads running.
    */
  def pooled[A, B](items: Seq[A])(f: A => B): Seq[B] =
    if (items.isEmpty) Nil
    else {
      val pool = Executors.newFixedThreadPool(math.min(16, items.size))
      try items.map(a => pool.submit(new Callable[B] { def call(): B = f(a) }))
        .map(_.get())
      finally pool.shutdownNow()
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

  def list(path: String, conf: Configuration, glob: String = Glob): Listing = {
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    // globStatus returns null when the path is absent
    new Listing(root, fs, conf,
      Option(fs.globStatus(new Path(root, glob))).getOrElse(Array.empty).toSeq)
  }

  /** Job start of a write; an append keeps the files already there. */
  def startWrite(path: String, conf: Configuration, overwrite: Boolean): Unit = {
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    if (overwrite && fs.exists(root)) fs.delete(root, true)
    fs.mkdirs(root)
  }

  /** Job end of a write: the `_manifest` sidecar over the tasks' entries
    * plus those of the sidecar already there (appended names never
    * collide; a stale old sidecar makes the merged one fail
    * [[HFileManifest.readValid]] — planning falls back, never wrong).
    */
  def commitWrite(path: String, conf: Configuration,
                  fresh: Seq[HFileManifest.Entry]): Unit = {
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val freshNames = fresh.map(_.file).toSet
    val carried = HFileManifest.read(fs, root).getOrElse(Nil)
      .filterNot(e => freshNames.contains(e.file))
    HFileManifest.write(fs, root, carried ++ fresh)
  }

  /** Clears task temp files after any write job, committed or failed. */
  def clearTemp(path: String, conf: Configuration): Unit = {
    val root = new Path(path)
    root.getFileSystem(conf).delete(new Path(root, "_inprogress"), true)
  }

  /** How every file of one write is encoded. */
  case class Format(blockSize: Int, codec: Int, bloomChunkKeys: Int,
                    maxFileBytes: Long, encoding: Int,
                    withTagsAndMvcc: Boolean = false)

  /** One task's sorted cell stream written as `bucket=N/` HFiles under
    * `root`: one [[HFileWriter]] at a time, rolling whenever the bucket
    * changes — the reference's roll-on-salt-prefix-change rule
    * (HadoopOutputFormat2.java:88-100) — and on `maxFileBytes` at a
    * rowkey boundary. Files are named `<prefix>PPPPP-SSS.hfile`
    * (partition, sequence) and written under `_inprogress/`; [[commit]]
    * renames them into place at task end, the first finished attempt
    * winning (output is deterministic, so a loser's bytes equal the
    * winner's), and returns their [[HFileManifest.Entry]]s.
    */
  final class TaskWriter(root: String, conf: Configuration, format: Format,
                         prefix: String, partitionId: Int, attemptId: Long) {
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
      val name = f"$prefix$partitionId%05d-$seq%03d.hfile"
      dest = new Path(root, s"bucket=$b/$name")
      tmp = new Path(root, s"_inprogress/attempt-$attemptId-$name")
      seq += 1
      out = fs.create(tmp, true)
      writer = new HFileWriter(out, format.blockSize, format.codec,
        format.bloomChunkKeys, withTagsAndMvcc = format.withTagsAndMvcc,
        encoding = format.encoding)
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
