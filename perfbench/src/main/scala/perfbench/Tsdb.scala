package perfbench

import java.io.File
import java.nio.ByteBuffer

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{BytesCodec, hb}
import graft.operators.BulkLoad
import graft.sources.HFileReader

/** Generated TSDB input and the truth the checks compare against. */
final class TsdbData(ctx: Ctx, seed: Long) {
  val buckets: Int = ctx.int("buckets")
  val cells: Array[TsdbCell] = Gen.tsdbCells(seed, ctx.int("cells"),
    ctx.int("users"), ctx.int("hours"), ctx.double("zipf"), ctx.int("max_versions"))
  val versions: Long = cells.map(_.versionsMs.length.toLong).sum

  /** The salted rowkey graft writes for (user, hour), recomputed here from
    * the salting rule (abs(Arrays.hashCode(user bytes)) % buckets).
    */
  def saltedKey(user: Long, hourSec: Int): Array[Byte] = {
    val ub = BytesCodec.encodeLong(user)
    val bucket = math.abs(java.util.Arrays.hashCode(ub) % buckets)
    BytesCodec.encodeShort(bucket.toShort) ++ BytesCodec.encodeInt(hourSec) ++ ub
  }

  /** Bytes of the generated cells as a client hands them over: rowkey,
    * family, qualifier, 8-byte ts and value, per version.
    */
  val inputBytes: Long = cells.map(c =>
    c.versionsMs.length.toLong * (14 + 1 + c.qualifier.length + 8 + 8)).sum

  /** Order-independent checksum over every stored version. */
  val expectedChecksum: Long = cells.map { c =>
    val k = saltedKey(c.user, c.hourSec)
    val q = c.qualifier.getBytes("UTF-8")
    c.versionsMs.indices.map(i => TsdbData.cellHash(k, q, c.versionsMs(i),
      BytesCodec.encodeDouble(c.values(i)))).sum
  }.sum

  def writeEvents(path: File): Unit = {
    val rows = Gen.eventRows(cells)
    ctx.spark.createDataFrame(ctx.spark.sparkContext.parallelize(
        rows.toSeq, ctx.cores), Gen.EventsSchema)
      .write.parquet(path.getAbsolutePath)
  }

  /** The paper's pipeline through graft's public operators: events to
    * cells, salt + range-partition + sort ([[BulkLoad.prepare]]), then
    * HFiles ([[BulkLoad.writeHFiles]]).
    */
  def bulkLoad(events: File, out: File): Unit = {
    val ev = ctx.spark.read.parquet(events.getAbsolutePath)
    val cellsDf = ev.select(
      hb.encode(col("user_id")).as("rowkey"),
      lit("m").as("family"),
      col("event_type").as("qualifier"),
      hb.encode(col("value")).as("value"),
      unix_millis(col("ts")).as("ms"),
      (floor(unix_seconds(col("ts")) / 3600) * 3600).cast("int").as("hour_sec"))
    val prepared = ctx.tracer.span("operators.bulkload_prepare")(
      BulkLoad.prepare(cellsDf, buckets, ctx.int("partitions"),
        saltBase = Some(col("rowkey")), epochSec = Some(col("hour_sec"))))
    ctx.tracer.span("operators.bulkload_write")(
      BulkLoad.writeHFiles(prepared, out.getAbsolutePath, tsCol = Some("ms")))
  }
}

object TsdbData {
  def cellHash(rowkey: Array[Byte], qualifier: Array[Byte], ts: Long,
               value: Array[Byte]): Long = {
    var h = MurmurHash3.bytesHash(rowkey).toLong
    h = h * 0x9E3779B97F4A7C15L + MurmurHash3.bytesHash(qualifier)
    h = h * 0x9E3779B97F4A7C15L + ts
    h = h * 0x9E3779B97F4A7C15L + MurmurHash3.bytesHash(value)
    h ^= h >>> 33; h *= 0xFF51AFD7ED558CCDL; h ^= h >>> 33
    h
  }

  def hfiles(dir: File): Seq[File] = Files.listRecursive(dir, ".hfile")
    .filter(_.getParentFile.getName.startsWith("bucket="))

  def unsigned(a: Array[Byte], b: Array[Byte]): Int =
    java.util.Arrays.compareUnsigned(a, b)
}

/** What one fixture build produced: the bulk-load call's seconds and
  * whether the written files passed their check.
  */
final case class Fixture(bulkloadS: Double, ok: Boolean)

object FixtureCheck {
  /** Every file passes `HFileReader.validate` and scans back; the cell
    * count and checksum equal the generator's; each bucket's files hold
    * non-overlapping key ranges. Returns the verdict and the files' bytes.
    */
  def apply(ctx: Ctx, data: TsdbData, out: File): (Boolean, Long) = {
    val files = TsdbData.hfiles(out)
    if (ctx.inject("flip_hfile_byte") && files.nonEmpty) Inject.flipByte(files.head)
    // files are checked in parallel, one task per file
    val pool = java.util.concurrent.Executors.newFixedThreadPool(ctx.cores)
    val perFile = try files.map { f =>
      pool.submit(new java.util.concurrent.Callable[(Int, Array[Byte], Array[Byte], Long, Long, Long)] {
        def call() = {
          val raw = java.nio.file.Files.readAllBytes(f.toPath)
          val rr = new HFileReader.BytesRead(raw)
          HFileReader.validate(rr)
          val bucket = f.getParentFile.getName.stripPrefix("bucket=").toInt
          var first: Array[Byte] = null; var last: Array[Byte] = null
          var n = 0L; var sum = 0L
          HFileReader.scan(rr).foreach { c =>
            if (first == null) first = c.rowkey
            last = c.rowkey
            n += 1
            sum += TsdbData.cellHash(c.rowkey, c.qualifier, c.ts, c.value)
            require(((c.rowkey(0) & 0xff) << 8 | (c.rowkey(1) & 0xff)) == bucket,
              s"cell salted for another bucket in $f")
          }
          (bucket, first, last, n, sum, raw.length.toLong)
        }
      })
    }.map(_.get()) finally pool.shutdown()
    val n = perFile.map(_._4).sum
    val sum = perFile.map(_._5).sum
    val disjoint = perFile.map(t => (t._1, t._2, t._3)).filter(_._2 != null)
      .groupBy(_._1).values.forall { rs =>
        val s = rs.sortWith((a, b) => TsdbData.unsigned(a._2, b._2) < 0)
        s.zip(s.drop(1)).forall { case (a, b) => TsdbData.unsigned(a._3, b._2) < 0 }
      }
    val ok = n == data.versions && sum == data.expectedChecksum && disjoint
    if (!ok) System.err.println(s"[perfbench] fixture check: cells $n/" +
      s"${data.versions}, checksum ${sum == data.expectedChecksum}, disjoint $disjoint")
    (ok, perFile.map(_._6).sum)
  }
}

/** `tsdb_lookup` and `tsdb_scan`: a closed loop over a fixed mix (the
  * `mix` parameter) of gets, multi-gets, prefix scans and hour-pinned fuzzy
  * scans against an HFile set bulk-loaded in setup. `latencyKind` is the
  * operation kind whose latency `op_p50_ms`/`op_p90_ms` report, `itemKind`
  * the one whose items (keys or cells) per second `items_per_s` reports.
  */
final class TsdbLookup(ctx: Ctx, seed: Long, val latencyKind: String,
                       val itemKind: String) {
  private var data: TsdbData = _
  private var store: String = _
  private var nFiles = 0
  private var storedBytes = 0L
  private var truth: Map[ByteBuffer, Set[(String, Long, Double)]] = _
  private var byPrefix: Map[ByteBuffer, Set[Scanned]] = _
  private var byHour: Map[Int, Set[Scanned]] = _
  private var present: Array[Array[Byte]] = _
  private var keyZipf: Zipf = _
  private val rnd = Gen.rng(seed, 10)
  // only the mixes with gets and multi-gets need these
  private lazy val absentShare = ctx.double("absent_share")
  private lazy val batch = ctx.int("multiget_keys")
  private val Mix = ctx.params("mix").split(",").map(_.trim)

  /** Generates the inputs, bulk-loads the fixture under `d` (the
    * bulk-load call is timed) and checks the written files. A check that
    * throws counts as failed.
    */
  def setup(d: File): Fixture = {
    data = new TsdbData(ctx, seed)
    val events = new File(d, "events")
    data.writeEvents(events)
    val out = new File(d, "store")
    val b0 = System.nanoTime()
    data.bulkLoad(events, out)
    val bulkloadS = (System.nanoTime() - b0) / 1e9
    store = out.getAbsolutePath
    nFiles = TsdbData.hfiles(out).size
    val (ok, bytes) = try FixtureCheck(ctx, data, out) catch {
      case e: Exception =>
        System.err.println(s"[perfbench] fixture check failed: $e")
        (false, 0L)
    }
    storedBytes = bytes
    val rows = data.cells.toSeq.flatMap { c =>
      val k = ByteBuffer.wrap(data.saltedKey(c.user, c.hourSec))
      c.versionsMs.indices.map(i => (k, c.hourSec, (c.qualifier, c.versionsMs(i), c.values(i))))
    }
    truth = rows.groupBy(_._1).map { case (k, v) => k -> v.map(_._3).toSet }
    byPrefix = rows.groupBy(r => ByteBuffer.wrap(r._1.array().take(6)))
      .map { case (k, v) => k -> v.map(r => (r._1, r._3)).toSet }
    byHour = rows.groupBy(_._2).map { case (k, v) => k -> v.map(r => (r._1, r._3)).toSet }
    // keys ranked in a seeded shuffle, then drawn Zipf over that ranking
    val keys = truth.keys.map(_.array()).toArray
      .sortWith((a, b) => TsdbData.unsigned(a, b) < 0)
    val r = Gen.rng(seed, 11)
    for (i <- keys.indices.reverse) {
      val j = r.nextInt(i + 1); val t = keys(i); keys(i) = keys(j); keys(j) = t
    }
    present = keys
    keyZipf = new Zipf(keys.length, ctx.double("zipf"))
    Fixture(bulkloadS, ok)
  }

  /** A requested key: absent with probability `absent_share` (a user and
    * hour that were never written), else Zipf over the written keys.
    */
  private def nextKey(): Array[Byte] =
    if (rnd.nextDouble() < absentShare) {
      var k: Array[Byte] = null
      while (k == null || truth.contains(ByteBuffer.wrap(k)))
        k = data.saltedKey(1L + rnd.nextInt(ctx.int("users")),
          Gen.BaseHourSec + 3600 * rnd.nextInt(ctx.int("hours")))
      k
    } else present(keyZipf.sample(rnd))

  private def table: DataFrame = ctx.spark.read.format("graft-hfile").load(store)

  private def cellsOf(df: DataFrame): Seq[(Array[Byte], (String, Long, Double))] =
    df.select(col("rowkey"), col("qualifier"), col("ts"), col("value")).collect()
      .map(r => (r.getAs[Array[Byte]](0), (r.getString(1), r.getLong(2),
        BytesCodec.decodeDouble(r.getAs[Array[Byte]](3))))).toSeq

  /** A returned cell: its rowkey and (qualifier, ts, value). */
  private type Scanned = (ByteBuffer, (String, Long, Double))

  /** The returned cells as a set, with the wrong-value fault the self-test
    * injects: one returned value off by one.
    */
  private def scanned(got: Seq[(Array[Byte], (String, Long, Double))]): Set[Scanned] = {
    val s = got.map(c => (ByteBuffer.wrap(c._1), c._2)).toSet
    if (ctx.inject("wrong_lookup_value") && s.nonEmpty) {
      val (k, (q, ts, v)) = s.head
      s - s.head + ((k, (q, ts, v + 1.0)))
    } else s
  }

  def op(i: Int): OpResult = Mix(i % Mix.length) match {
    case "get" =>
      val k = nextKey()
      val bucket = (k(0) & 0xff) << 8 | (k(1) & 0xff)
      val got = ctx.timed(cellsOf(ctx.tracer.span("sources.hfile_get")(table
        .filter(col("bucket") === bucket && col("rowkey") >= lit(k) &&
          col("rowkey") < lit(BytesCodec.prefixSuccessor(k).get)))))
      val kb = ByteBuffer.wrap(k)
      val want = truth.getOrElse(kb, Set.empty).map(c => (kb, c))
      OpResult("get", 1, scanned(got) == want && got.size == want.size)
    case "multiget" =>
      val keys = Seq.fill(batch)(nextKey()).distinctBy(ByteBuffer.wrap)
      import ctx.spark.implicits._
      val keyDf = keys.toDF("rowkey")
      val got = ctx.timed(ctx.tracer.span("operators.multiget")(
        cellsOf(BulkLoad.multiGet(ctx.spark, store, keyDf))))
      val want = keys.flatMap { k =>
        val kb = ByteBuffer.wrap(k)
        truth.getOrElse(kb, Set.empty).map(c => (kb, c))
      }.toSet
      OpResult("multiget", keys.size, scanned(got) == want && got.size == want.size)
    case "prefix" =>
      val prefix = present(keyZipf.sample(rnd)).take(6)
      val got = ctx.timed(cellsOf(ctx.tracer.span("sources.hfile_scan")(
        table.filter(startswith(col("rowkey"), lit(prefix))))))
      val want = byPrefix(ByteBuffer.wrap(prefix))
      OpResult("scan", got.size, scanned(got) == want && got.size == want.size)
    case "fuzzy" =>
      val hourSec = Gen.BaseHourSec + 3600 * rnd.nextInt(ctx.int("hours"))
      // bucket and user wildcarded, the 4 hour bytes pinned
      val pattern = Array[Byte](0, 0) ++ BytesCodec.encodeInt(hourSec) ++ new Array[Byte](8)
      val mask = Array[Byte](1, 1, 0, 0, 0, 0) ++ Array.fill[Byte](8)(1)
      val got = ctx.timed(cellsOf(ctx.tracer.span("sources.hfile_scan")(
        table.filter(hb.fuzzyRowMatch(col("rowkey"), Seq(pattern -> mask))))))
      val want = byHour.getOrElse(hourSec, Set.empty)
      OpResult("scan", got.size, scanned(got) == want && got.size == want.size)
  }

  /** The workload's own named metrics; `bulkloadS` is the fixture's
    * bulk-load call time.
    */
  def named(rs: Seq[OpRecord], bulkloadS: Double): Seq[Metric] = {
    val gets = rs.filter(_.kind == "get").map(_.ms)
    val scans = rs.filter(_.kind == "scan").map(_.ms)
    Seq(
      Metric("lookup.get_p50_ms", Stats.pct(gets, 50), "ms"),
      Metric("lookup.get_p90_ms", Stats.pct(gets, 90), "ms"),
      Metric("lookup.scan_p50_ms", Stats.pct(scans, 50), "ms"),
      Metric("lookup.scan_p90_ms", Stats.pct(scans, 90), "ms"),
      Metric("lookup.multiget_keys_per_s",
        Stats.medianRate(rs.filter(_.kind == "multiget")), "keys/s"),
      Metric("lookup.get_samples", gets.size.toDouble, "count"),
      Metric("lookup.scan_samples", scans.size.toDouble, "count"),
      Metric("lookup.store_files", nFiles.toDouble, "count"),
      Metric("ingest.bulkload_s", bulkloadS, "s"),
      Metric("ingest.cells_per_s", data.versions / bulkloadS, "cells/s"),
      Metric("ingest.stored_bytes_per_input_byte",
        storedBytes.toDouble / data.inputBytes, "ratio"))
  }

  /** Per-layer metrics of the fixture and the traced scans. */
  def layers(rs: Seq[OpRecord], exec: ExecListener): Seq[Metric] = {
    val tracedScans = rs.filter(r => r.kind == "scan" && r.traced).map(_.id)
    val ratio = if (tracedScans.isEmpty || nFiles == 0) 0.0
      else tracedScans.map(exec.tasksOfOp).sum.toDouble / tracedScans.size / nFiles
    Seq(Metric("sources.hfile_bytes_per_cell", storedBytes.toDouble / data.versions, "bytes"),
      Metric("plans.scan_files_read_ratio", ratio, "ratio"))
  }
}

object Inject {
  /** Flips one byte in the middle of a file, in place. */
  def flipByte(f: File): Unit = {
    val raf = new java.io.RandomAccessFile(f, "rw")
    try {
      val pos = raf.length() / 2
      raf.seek(pos); val b = raf.read()
      raf.seek(pos); raf.write(b ^ 0x01)
    } finally raf.close()
  }
}
