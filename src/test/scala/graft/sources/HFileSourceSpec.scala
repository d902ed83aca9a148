package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import graft.functions.hb
import graft.operators.BulkLoad
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, GreaterThan, In}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** `spark.read.format("graft-hfile")`: schema, parity with a Spark-free
  * [[HFileReader.scan]] of every file, column pruning, bucket/rowkey file
  * pruning, and glob load paths; the `BulkLoad.writeHFiles` commit it
  * plans from (`_manifest`, replacement, a failed task), and the refused
  * `df.write`.
  */
class HFileSourceSpec extends SparkSpec {
  import spark.implicits._
  import HFileSourceSpec.{localScans, plannedFiles, referenceCells}

  // one shared bulk-load directory: 4 buckets, small blocks
  private lazy val out: String = {
    val events = sf("events")
    val cells = events.select(
      concat(hb.encode(col("user_id")), hb.encode(col("event_id")))
        .as("rowkey"),
      lit("f").as("family"),
      lit("value").as("qualifier"),
      hb.encode(col("value")).as("value"),
      expr("(ts DIV 1000000000 DIV 3600) * 3600").cast("int").as("hour_sec"),
      col("user_id"))
    val prepared = BulkLoad.prepare(cells, buckets = 4, numPartitions = 4,
      saltBase = Some(hb.encode(col("user_id"))),
      epochSec = Some(col("hour_sec")))
    val dir = Files.createTempDirectory("hfile_dsv2").toString
    BulkLoad.writeHFiles(prepared, dir, tsCol = Some("hour_sec"),
      blockSize = 1024)
    dir
  }

  private def nFiles: Int =
    new java.io.File(out).listFiles.filter(_.getName.startsWith("bucket="))
      .flatMap(_.listFiles).count(_.getName.endsWith(".hfile"))

  private def partitionsIn(dir: String,
                           filters: org.apache.spark.sql.sources.Filter*) = {
    val sb = new HFileTable(dir)
      .newScanBuilder(CaseInsensitiveStringMap.empty())
      .asInstanceOf[HFileScanBuilder]
    sb.pushFilters(filters.toArray)
    sb.build().toBatch.planInputPartitions()
      .map(_.asInstanceOf[HFileInputPartition])
  }

  private def partitionsFor(filters: org.apache.spark.sql.sources.Filter*) =
    partitionsIn(out, filters: _*)

  test("reads back exactly what HFileReader.scan reads") {
    val v2 = spark.read.format("graft-hfile").load(out)
    assert(v2.schema == HFileSource.Schema)
    def canon(df: org.apache.spark.sql.DataFrame) = df.select(col("bucket"),
      hex(col("rowkey")).as("k"), col("family"), col("qualifier"), col("ts"),
      hex(col("value")).as("v"), col("key_type"))
    val a = canon(v2)
    val b = canon(referenceCells(spark, out))
    assert(a.count() == b.count() && a.except(b).isEmpty && b.except(a).isEmpty)
  }

  test("file is readable as a metadata column and never demanded on write") {
    val df = spark.read.format("graft-hfile").load(out)
      .select(col("file"), col("bucket"))
    assert(df.select("file").distinct().count() == nFiles)
  }

  test("column pruning reaches the scan") {
    val df = spark.read.format("graft-hfile").load(out).select("qualifier")
    val scans = df.queryExecution.executedPlan.collect {
      case s: BatchScanExec => s
    }
    assert(scans.nonEmpty)
    assert(scans.head.scan.readSchema().fieldNames.toSeq == Seq("qualifier"))
  }

  test("bucket filters prune whole directories at plan time") {
    val all = partitionsFor()
    assert(all.length == nFiles && all.length > 1)
    val one = partitionsFor(EqualTo("bucket", 2))
    assert(one.nonEmpty && one.length < all.length)
    assert(one.forall(_.bucket == 2))
    val two = partitionsFor(In("bucket", Array(0, 2)))
    assert(two.forall(p => p.bucket == 0 || p.bucket == 2))
    // end-to-end: pruned read returns the same rows as a full-scan filter
    val pruned = spark.read.format("graft-hfile").load(out)
      .filter($"bucket" === 2)
    assert(pruned.count() ==
      referenceCells(spark, out).filter($"bucket" === 2).count())
    assert(pruned.count() > 0)
  }

  test("bucket is parsed from the parent directory only") {
    assert(HFileSource.bucketOf("/data/bucket=3/part-0.hfile") == 3)
    // an ancestor dir that happens to contain bucket= must not win
    assert(HFileSource.bucketOf("/data/bucket=9/out/bucket=1/f.hfile") == 1)
    assert(HFileSource.bucketOf("/data/bucket=9/out/f.hfile") == -1)
    assert(HFileSource.bucketOf("f.hfile") == -1)
  }

  test("existing-but-empty directory is a valid empty scan") {
    val dir = Files.createTempDirectory("hfile_empty").toString
    assert(spark.read.format("graft-hfile").load(dir).count() == 0)
    intercept[Exception] {
      spark.read.format("graft-hfile").load(s"$dir/never_created").count()
    }
  }

  test("rowkey pruning over 120 files stays sub-second (parallel trailer " +
      "reads) and still prunes to one file") {
    val dir = Files.createTempDirectory("hfile_many").toString
    (0 until 120).foreach { i =>
      val d = new java.io.File(s"$dir/bucket=${i % 4}"); d.mkdirs()
      val fos = new java.io.FileOutputStream(
        new java.io.File(d, f"part-$i%05d.hfile"))
      val w = new HFileWriter(fos, 256)
      (0 until 10).foreach { j =>
        w.append(HFile.HCell(f"row${i * 10 + j}%06d".getBytes, "f".getBytes,
          "q".getBytes, 0L, "v".getBytes))
      }
      w.finish(); fos.close()
    }
    val key = f"row${57 * 10 + 3}%06d".getBytes
    // best-of-3: the first call pays one-time pool/classload cost, and a
    // loaded machine (the full suite runs many Spark jobs in parallel)
    // can tax any single run — the MINIMUM is the structural number, and
    // a regression to per-file sequential data-block reads would miss
    // the bound in every run, not just one
    val (hit, sec) = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      val h = partitionsIn(dir,
        org.apache.spark.sql.sources.EqualTo("rowkey", key))
      (h, (System.nanoTime() - t0) / 1e9)
    }.minBy(_._2)
    assert(hit.length == 1 && hit.head.file.contains("part-00057"))
    assert(sec < 2.0, f"plan-time pruning took $sec%.2fs for 120 files")
  }

  // --- `_manifest` sidecar ---------------------------------------------

  /** 4 buckets × 10 keys with DISJOINT per-bucket key ranges, so rowkey
    * range pruning discriminates between files.
    */
  private def writeRangedDir(): String = {
    val dir = Files.createTempDirectory("hfile_manifest").toString
    val prepared = (0 until 40)
      .map(i => (i / 10, f"k$i%04d".getBytes("UTF-8"), "f", "q", Array[Byte](1)))
      .toDF("bucket", "salted_key", "family", "qualifier", "value")
      .repartition(4, $"bucket")
    BulkLoad.writeHFiles(prepared, dir)
    dir
  }

  private def fsOf(dir: String) = new org.apache.hadoop.fs.Path(dir)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def listingOf(dir: String) = fsOf(dir).globStatus(
    new org.apache.hadoop.fs.Path(dir, "bucket=*/*.hfile")).toSeq

  test("writeHFiles commits a _manifest that matches the files exactly") {
    val dir = writeRangedDir()
    val entries = HFileManifest.readValid(fsOf(dir),
      new org.apache.hadoop.fs.Path(dir), listingOf(dir))
    assert(entries.isDefined, "sidecar must validate against the listing")
    val es = entries.get
    assert(es.map(_.entryCount).sum == 40)
    assert(es.map(_.bucket).toSet == Set(0, 1, 2, 3))
    // stats, multi-gets and count(*) answer the same from the sidecar
    // and from the pooled trailer reads that replace it once deleted
    val keys = Seq("k0003", "k0017", "k0039", "k0040", "absent")
      .map(_.getBytes("UTF-8")).toDF("rowkey")
    def answers() = (
      BulkLoad.hfileManifest(spark, dir).collect().toSet,
      BulkLoad.multiGet(spark, dir, keys)
        .select(col("file"), col("bucket"), hex(col("rowkey")),
          hex(col("value"))).collect().toSet,
      spark.read.format("graft-hfile").load(dir)
        .agg(count(lit(1))).as[Long].head())
    val fromSidecar = answers()
    HFileManifest.delete(fsOf(dir), new org.apache.hadoop.fs.Path(dir))
    val pooled = answers()
    assert(fromSidecar == pooled)
    assert(fromSidecar._2.size == 3 && fromSidecar._3 == 40)
  }

  test("_manifest: planning and trailer stats need zero per-file reads") {
    val dir = writeRangedDir()
    // bucket 0 holds k0000..k0009 — this filter keeps only its file(s)
    val le = org.apache.spark.sql.sources
      .LessThanOrEqual("rowkey", "k0005".getBytes("UTF-8"))
    val withManifest = partitionsIn(dir, le).map(_.file).toSet
    // pooled ground truth: same filter with the sidecar removed
    val manifestBytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "_manifest"))
    HFileManifest.delete(fsOf(dir), new org.apache.hadoop.fs.Path(dir))
    val pooledTruth = partitionsIn(dir, le).map(_.file).toSet
    assert(withManifest == pooledTruth)
    assert(withManifest.nonEmpty &&
      withManifest.forall(_.contains("bucket=0")))
    // restore the sidecar, then zero out every hfile's CONTENT in place
    // (same length) — any per-file read now sees garbage and throws, so
    // planning and pushed-down count(*) succeeding proves zero reads
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "_manifest"), manifestBytes)
    listingOf(dir).foreach { st =>
      val p = java.nio.file.Paths.get(st.getPath.toUri)
      java.nio.file.Files.write(p, new Array[Byte](st.getLen.toInt))
    }
    assert(partitionsIn(dir, le).map(_.file).toSet == pooledTruth)
    val n = spark.read.format("graft-hfile").load(dir)
      .agg(count(lit(1))).as[Long].head()
    assert(n == 40, "count(*) must answer from the sidecar alone")
    // a point-GET must consult blooms = per-file reads on garbage -> fails
    intercept[Exception] {
      partitionsIn(dir, EqualTo("rowkey", "k0003".getBytes("UTF-8")))
    }
  }

  test("stale _manifest falls back to pooled reads, never wrong") {
    val dir = writeRangedDir()
    // add a file the sidecar does not know (copy of an existing one)
    val st = listingOf(dir).head
    val src = java.nio.file.Paths.get(st.getPath.toUri)
    java.nio.file.Files.copy(src, src.resolveSibling("part-extra.hfile"))
    assert(HFileManifest.readValid(fsOf(dir),
      new org.apache.hadoop.fs.Path(dir), listingOf(dir)).isEmpty)
    // planning still works (pooled), and sees the new file
    val all = partitionsIn(dir)
    assert(all.length == listingOf(dir).size)
    val le = org.apache.spark.sql.sources
      .LessThanOrEqual("rowkey", "k0005".getBytes("UTF-8"))
    assert(partitionsIn(dir, le).nonEmpty)
  }

  test("writeHFiles rolls files by maxFileBytes; their _manifest entries " +
      "equal their trailer stats and no _inprogress is left") {
    val cells = (0 until 400)
      .map(i => (f"r${i / 2}%04d".getBytes("UTF-8"), "f", s"q${i % 2}",
        Array.fill[Byte](24)(i.toByte), i.toLong))
      .toDF("rowkey", "family", "qualifier", "value", "ts")
    val prepared = BulkLoad.prepare(cells, buckets = 4, numPartitions = 1)
    val dir = Files.createTempDirectory("hfile_roll").toString
    BulkLoad.writeHFiles(prepared, dir, tsCol = Some("ts"),
      blockSize = 256, maxFileBytes = 1024)
    val filesPerBucket = listingOf(dir).groupBy(st =>
      HFileSource.bucketOf(st.getPath.toString)).map { case (b, fs) => b -> fs.size }
    assert(filesPerBucket.keySet == Set(0, 1, 2, 3))
    assert(filesPerBucket.values.exists(_ > 1), "maxFileBytes must roll files")
    val root = new org.apache.hadoop.fs.Path(dir)
    val sidecar = HFileManifest.readValid(fsOf(dir), root, listingOf(dir))
      .getOrElse(fail(s"no valid _manifest under $dir"))
      .map(e => (e.bucket, e.file, e.entryCount, e.minHex, e.maxHex)).toSet
    assert(sidecar.toSeq.map(_._3).sum == 400)
    HFileManifest.delete(fsOf(dir), root)
    val trailers = BulkLoad.hfileManifest(spark, dir).as[(Int, String, Long, String, String)]
      .collect().map { case (bk, f, n, lo, hi) =>
        (bk, HFileManifest.relOf(new org.apache.hadoop.fs.Path(f)), n, lo, hi)
      }.toSet
    assert(sidecar == trailers)
    assert(!new java.io.File(s"$dir/_inprogress").exists())
  }

  test("a second writeHFiles over a directory replaces its files and " +
      "_manifest") {
    val dir = writeRangedDir()
    val prepared = (0 until 10)
      .map(i => (1, f"z$i%04d".getBytes("UTF-8"), "f", "q", Array[Byte](2)))
      .toDF("bucket", "salted_key", "family", "qualifier", "value")
      .repartition(1)
    BulkLoad.writeHFiles(prepared, dir)
    assert(listingOf(dir).map(st => HFileSource.bucketOf(st.getPath.toString))
      .toSet == Set(1))
    val entries = HFileManifest.readValid(fsOf(dir),
      new org.apache.hadoop.fs.Path(dir), listingOf(dir))
      .getOrElse(fail("the replaced directory's _manifest must validate"))
    assert(entries.map(_.entryCount).sum == 10)
    assert(referenceCells(spark, dir).select(col("rowkey").cast("string"))
      .as[String].collect().sorted.toSeq == (0 until 10).map(i => f"z$i%04d"))
  }

  test("writeHFiles refuses an unknown encoding or compression before it " +
      "touches the directory") {
    val dir = writeRangedDir()
    def cells() = referenceCells(spark, dir)
      .select(col("bucket"), hex(col("rowkey")), col("ts"), hex(col("value")))
      .collect().map(_.toString).sorted.toSeq
    val before = cells()
    val prepared = Seq((0, "k0000".getBytes("UTF-8"), "f", "q", Array[Byte](1)))
      .toDF("bucket", "salted_key", "family", "qualifier", "value")
    intercept[IllegalArgumentException] {
      BulkLoad.writeHFiles(prepared, dir, encoding = "row_index_v1")
    }
    intercept[IllegalArgumentException] {
      BulkLoad.writeHFiles(prepared, dir, compression = "lzo")
    }
    assert(HFileManifest.readValid(fsOf(dir),
      new org.apache.hadoop.fs.Path(dir), listingOf(dir)).isDefined)
    assert(cells() == before && before.size == 40)
    assert(spark.read.format("graft-hfile").load(dir).collect().length == 40)
  }

  test("a writeHFiles task that fails aborts: the error names the cell " +
      "order, and no _inprogress or _manifest is left") {
    val dir = Files.createTempDirectory("hfile_fail").toString
    // the same full cell key twice: the writer refuses the second
    val prepared = Seq.fill(2)(
        (0, "k0001".getBytes("UTF-8"), "f", "q", Array[Byte](1)))
      .toDF("bucket", "salted_key", "family", "qualifier", "value")
      .repartition(1)
    val e = intercept[Exception](BulkLoad.writeHFiles(prepared, dir))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("strictly increasing")), e)
    assert(!new java.io.File(s"$dir/_inprogress").exists())
    assert(!new java.io.File(s"$dir/_manifest").exists())
    assert(listingOf(dir).isEmpty)
    // the failed task closed its open file rather than leaving it to GC
    // (checked where the OS lists a process's open files)
    val fds = new java.io.File("/proc/self/fd")
    if (fds.isDirectory) {
      val open = Option(fds.listFiles).toSeq.flatten.flatMap(f =>
        scala.util.Try(Files.readSymbolicLink(f.toPath).toString).toOption)
        .filter(_.contains(dir))
      assert(open.isEmpty, open)
    }
  }

  test("df.write.format(\"graft-hfile\") is refused before any job, and " +
      "the target directory is left as it was") {
    import org.apache.spark.sql.connector.catalog.TableCapability._
    val dir = writeRangedDir()
    assert(new HFileTable(dir).capabilities() ==
      java.util.EnumSet.of(BATCH_READ, MICRO_BATCH_READ))
    val df = referenceCells(spark, dir)
    val counter = new graft.JobCounter(spark)
    try Seq("overwrite", "append").foreach { mode =>
      // the table is read-only, so Spark falls back to a V1 write, which
      // the source does not provide either
      val jobs = counter.jobs {
        val e = intercept[org.apache.spark.SparkException] {
          df.write.format("graft-hfile").mode(mode).save(dir)
        }
        assert(e.getMessage.contains("does not allow create table as select"),
          e.getMessage)
      }
      assert(jobs == 0, s"$mode ran $jobs jobs")
    } finally counter.close()
    assert(HFileManifest.readValid(fsOf(dir),
      new org.apache.hadoop.fs.Path(dir), listingOf(dir)).isDefined)
    assert(spark.read.format("graft-hfile").load(dir).collect().length == 40)
  }

  test("restore drops the destination _manifest (content rewritten in place)") {
    val dir = writeRangedDir()
    val bak = Files.createTempDirectory("hfile_bak").toString
    BulkLoad.backup(spark, dir, bak)
    BulkLoad.restore(spark, bak, dir)
    assert(!new java.io.File(dir, "_manifest").exists())
    // next planner read falls back to pooled and still answers
    assert(spark.read.format("graft-hfile").load(dir).count() == 40)
  }

  test("SQL over a temp view works, including the pushed count") {
    // direct `format`.`path` SQL is reserved for built-in file sources;
    // a view over the DSv2 load is the supported SQL surface
    spark.read.format("graft-hfile").load(out)
      .createOrReplaceTempView("hfile_cells")
    val n = spark.sql("SELECT count(*) FROM hfile_cells").head().getLong(0)
    assert(n == referenceCells(spark, out).count())
    val rows = spark.sql(
      "SELECT qualifier, count(*) AS c FROM hfile_cells GROUP BY 1")
      .collect()
    assert(rows.length == 1 && rows.head.getLong(1) == n)
  }

  test("hfile_point_lookup: scans fewer partitions than files and matches " +
      "the raw events table") {
    val events = sf("events")
    val sfDir = "/root/testdata/sf0.001"
    val df = graft.queries.HModel.hfilePointLookup(events, sfDir)
    val rows = df.collect()
    val expected = events.filter(col("user_id") === 7)
      .select(col("event_id"), expr("ts DIV 1000000").as("ts_ms"), col("value"))
      .orderBy("event_id").collect()
    assert(rows.nonEmpty && rows.length == expected.length)
    rows.zip(expected).foreach { case (a, b) => assert(a == b) }
    // plan shape: bucket + rowkey pushdown leave a near-point scan, read
    // on the driver
    val dir = graft.queries.HModel.ensureLookupDir(events, sfDir, 4)
    val totalFiles = new java.io.File(dir).listFiles
      .filter(_.getName.startsWith("bucket="))
      .flatMap(_.listFiles).count(_.getName.endsWith(".hfile"))
    assert(localScans(df.queryExecution.executedPlan).nonEmpty,
      df.queryExecution.executedPlan.toString)
    val nParts = plannedFiles(df)
    assert(nParts >= 1 && nParts < totalFiles,
      s"expected pruned scan, got $nParts of $totalFiles files")
  }

  test("bloom prunes point-GETs that key ranges cannot: overlapping files") {
    // two files in one bucket whose key RANGES fully overlap (even keys in
    // one, odd in the other) — range pruning keeps both, the bloom does not
    val dir = Files.createTempDirectory("hfile_bloom").toString
    val d = new java.io.File(s"$dir/bucket=0"); d.mkdirs()
    Seq(0, 1).foreach { parity =>
      val fos = new java.io.FileOutputStream(
        new java.io.File(d, s"part-$parity.hfile"))
      val w = new HFileWriter(fos, 1024)
      (0 until 200).filter(_ % 2 == parity).foreach { j =>
        w.append(HFile.HCell(f"key$j%05d".getBytes, "f".getBytes,
          "q".getBytes, 0L, "v".getBytes))
      }
      w.finish(); fos.close()
    }
    val even = partitionsIn(dir,
      org.apache.spark.sql.sources.EqualTo("rowkey", "key00042".getBytes))
    assert(even.length == 1 && even.head.file.contains("part-0"))
    val odd = partitionsIn(dir,
      org.apache.spark.sql.sources.EqualTo("rowkey", "key00043".getBytes))
    assert(odd.length == 1 && odd.head.file.contains("part-1"))
    // a key in neither file: both pruned at plan time
    val none = partitionsIn(dir,
      org.apache.spark.sql.sources.EqualTo("rowkey", "key00042x".getBytes))
    assert(none.isEmpty)
    // and the end-to-end read still returns the right row
    val got = spark.read.format("graft-hfile").load(dir)
      .filter($"rowkey" === lit("key00042".getBytes))
    assert(got.count() == 1)
  }

  test("count(*) answers from trailers without scanning a data block") {
    val df = spark.read.format("graft-hfile").load(out)
    val full = df.count()
    assert(full == referenceCells(spark, out).count())
    // the plan is a local (driver) scan, not a file-reading batch scan
    val plan = df.groupBy().count().queryExecution.executedPlan.toString
    assert(plan.contains("count-from-trailers") || !plan.contains("BatchScan"),
      plan)
    // bucket filters are consumed exactly and still push the count
    val b2 = df.filter($"bucket" === 2).count()
    assert(b2 == referenceCells(spark, out)
      .filter($"bucket" === 2).count())
    // rowkey filters keep the row scan (no bogus trailer count)
    val someKey = spark.read.format("graft-hfile").load(out)
      .select($"rowkey").head().getAs[Array[Byte]](0)
    assert(df.filter($"rowkey" === lit(someKey)).count() >= 1)
  }

  test("min/max(rowkey) and per-bucket counts answer from key ranges") {
    val df = spark.read.format("graft-hfile").load(out)
    val full = referenceCells(spark, out)
    // global min/max + count in one pushed aggregate
    val g = df.agg(min($"rowkey"), max($"rowkey"), count(lit(1))).head()
    val e = full.agg(min($"rowkey"), max($"rowkey"), count(lit(1))).head()
    assert(g.getAs[Array[Byte]](0).sameElements(e.getAs[Array[Byte]](0)))
    assert(g.getAs[Array[Byte]](1).sameElements(e.getAs[Array[Byte]](1)))
    assert(g.getLong(2) == e.getLong(2))
    // grouped by bucket
    val gb = df.groupBy($"bucket").agg(count(lit(1)).as("n"))
      .orderBy("bucket").collect().map(r => (r.getInt(0), r.getLong(1)))
    val eb = full.groupBy($"bucket").agg(count(lit(1)).as("n"))
      .orderBy("bucket").collect().map(r => (r.getInt(0), r.getLong(1)))
    assert(gb.toSeq == eb.toSeq)
    val plan = df.groupBy($"bucket").count().queryExecution.executedPlan.toString
    assert(plan.contains("stats-from-trailers") || !plan.contains("BatchScan"),
      plan)
  }

  test("rowkey range filters skip files by trailer key range") {
    val full = spark.read.format("graft-hfile").load(out)
    val maxKey = full.agg(max($"rowkey")).head().getAs[Array[Byte]](0)
    // strictly above the global max: every file pruned
    assert(partitionsFor(GreaterThan("rowkey", maxKey)).isEmpty)
    // a specific existing key lives in exactly one file (sorted
    // non-overlapping runs per bucket, bucket is the key's salt prefix)
    val someKey = full.select($"rowkey").head().getAs[Array[Byte]](0)
    val hit = partitionsFor(EqualTo("rowkey", someKey))
    assert(hit.length == 1)
    // and the pushed filter is exact: the get is a bare local scan
    val got = full.filter($"rowkey" === lit(someKey))
    assert(got.count() >= 1)
    assert(localScans(got.queryExecution.executedPlan).nonEmpty,
      got.queryExecution.executedPlan.toString)
    assert(plannedFiles(got) == 1)
  }

  // --- exact pushed filters and driver-local reads -----------------------

  private def isLocal(df: org.apache.spark.sql.DataFrame): Boolean =
    localScans(df.queryExecution.executedPlan).nonEmpty

  private def isBatchScan(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.executedPlan.collect { case s: BatchScanExec => s }.nonEmpty

  test("pushed filters are exact on the local and the distributed path: " +
      "boundary keys, an Or of ranges and In(bucket) match HFileReader.scan " +
      "plus the same Spark-side filter") {
    val v2 = spark.read.format("graft-hfile").load(out)
    val raw = referenceCells(spark, out).cache()
    def cells(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select(col("bucket"), hex(col("rowkey")), col("family"),
        col("qualifier"), col("ts"), hex(col("value")))
        .collect().map(_.toString).sorted.toSeq
    var local, distributed = 0
    def check(cond: org.apache.spark.sql.Column): Unit = {
      val got = v2.filter(cond)
      if (isLocal(got)) local += 1 else distributed += 1
      assert(cells(got) == cells(raw.filter(cond)), s"differs on $cond")
    }
    val unsigned = Ordering.fromLessThan[Array[Byte]](
      java.util.Arrays.compareUnsigned(_, _) < 0)
    val ranges = HFileDir.list(out, spark.sparkContext.hadoopConfiguration)
      .stats().flatMap(_.range).sortBy(_._1)(unsigned)
    assert(ranges.size >= 2, "the fixture must hold several files")
    val (firstA, lastA) = ranges(0)
    val (firstB, lastB) = ranges(1)
    val between = lastA :+ 0.toByte // after file A's last key, before B
    val absent = firstA :+ 0.toByte // inside file A's range, not a key
    val keys = Seq(firstA, lastA, between, firstB, absent)
    val rk = col("rowkey")
    try {
      // every comparison at every boundary key (one-sided: distributed)
      keys.foreach { k =>
        Seq(rk > lit(k), rk >= lit(k), rk < lit(k), rk <= lit(k),
          rk === lit(k)).foreach(check)
      }
      // both sides bounded, every pair of boundary keys and edge kinds
      for (a <- keys; b <- keys if unsigned.lteq(a, b);
           lo <- Seq(rk > lit(a), rk >= lit(a));
           hi <- Seq(rk < lit(b), rk <= lit(b))) check(lo && hi)
      // Spark's binary order is unsigned: 0x80 sorts above the 0x00-0x7f
      // bytes that follow each fixture key's bucket prefix
      check(rk >= lit(firstA.take(2) :+ 0x80.toByte) && rk <= lit(lastB))
      // an Or of ranges, a bucket-mixed Or, In(bucket), and an Or with a
      // leaf the source does not accept (left to Spark)
      check((rk >= lit(firstA) && rk <= lit(absent)) ||
        (rk > lit(lastA) && rk <= lit(firstB)))
      check((col("bucket") === 0 && rk <= lit(absent)) ||
        (col("bucket") === 2 && rk > lit(lastB)))
      check(col("bucket").isin(0, 2) && rk >= lit(firstA) &&
        rk < lit(firstB))
      check(rk === lit(firstB) || col("qualifier") === "nope")
      // a range over every file covers more than the block limit
      check(rk >= lit(ranges.head._1) && rk <= lit(ranges.last._2))
    } finally raw.unpersist()
    assert(local > 0 && distributed > 0, s"local $local, distributed $distributed")
  }

  test("a get and a multiGet issued after an append see its files") {
    val dir = writeRangedDir()
    val table = spark.read.format("graft-hfile").load(dir)
    def get(k: String) =
      table.filter($"bucket" === 0 && $"rowkey" === lit(k.getBytes("UTF-8")))
    def multiGet(ks: String*) = BulkLoad.multiGet(spark, dir,
      ks.map(_.getBytes("UTF-8")).toDF("rowkey"))
      .select(col("rowkey").cast("string")).as[String].collect().sorted.toSeq
    assert(get("k0005x").collect().isEmpty)
    assert(multiGet("k0005", "k0005x") == Seq("k0005"))
    // a file of another write, copied into bucket 0 under a new name
    val other = Files.createTempDirectory("hfile_append_src").toString
    BulkLoad.writeHFiles(
      Seq((0, "k0005x".getBytes("UTF-8"), "f", "q", Array[Byte](2), 7L))
        .toDF("bucket", "salted_key", "family", "qualifier", "value", "ts"),
      other, tsCol = Some("ts"))
    val written = java.nio.file.Paths.get(listingOf(other).head.getPath.toUri)
    Files.copy(written, java.nio.file.Paths.get(dir, "bucket=0", "part-appended.hfile"))
    val got = get("k0005x")
    assert(isLocal(got), got.queryExecution.executedPlan.toString)
    assert(got.select(col("ts")).as[Long].collect().toSeq == Seq(7L))
    assert(multiGet("k0005", "k0005x") == Seq("k0005", "k0005x"))
  }

  test("a glob load path reads exactly the runs it matches, through one " +
      "scan with no exchange") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("hfile_glob").toString
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Long]
    val q = graft.streaming.Streams.bulkLoadStream(
        input.toDF().select(hb.encode(col("value")).as("rowkey"),
          lit("f").as("family"), lit("q").as("qualifier"),
          hb.encode(col("value")).as("value")),
        dir, buckets = 2, numPartitions = 2)
      .option("checkpointLocation",
        Files.createTempDirectory("hfile_glob_ckpt").toString)
      .start()
    try (0 until 3).foreach { i =>
      input.addData((i * 10L) until (i * 10L + 10))
      q.processAllAvailable()
    } finally q.stop()
    val ids = HFileDir.runs(dir, spark.sparkContext.hadoopConfiguration)
      .map(_.id)
    assert(ids.size == 3)
    val picked = Seq(ids(0), ids(2))
    val glob = s"$dir/${HFileDir.runsGlob(Some(picked))}"
    val got = BulkLoad.readHFiles(spark, glob)
    // exactly the picked runs' cells, as a Spark-free scan reads them
    def canon(df: org.apache.spark.sql.DataFrame) = df.select(col("bucket"),
      hex(col("rowkey")).as("k"), col("ts"), hex(col("value")).as("v"))
    val want = picked.map(id => referenceCells(spark, HFileDir.runPath(dir, id)))
      .reduce(_ union _)
    assert(got.count() == 20)
    assert(canon(got).except(canon(want)).isEmpty &&
      canon(want).except(canon(got)).isEmpty)
    assert(got.select(HFileDir.runIdOf(col("file"))).distinct().as[Long]
      .collect().sorted.toSeq == picked)
    // a glob that matches no run refuses, like a missing path
    intercept[IllegalArgumentException] {
      BulkLoad.readHFiles(spark, s"$dir/${HFileDir.runsGlob(Some(Seq(ids.max + 1)))}")
    }
    intercept[IllegalArgumentException] {
      BulkLoad.readHFiles(spark, s"$dir/never_created")
    }
    // one scan, one task per file, no file-name shuffle
    val plan = got.queryExecution.executedPlan
    assert(plan.collect { case s: BatchScanExec => s }.size == 1, plan.toString)
    assert(plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }.isEmpty, plan.toString)
  }

  test("driver-local reads launch no job; wide ranges and multiGet keep " +
      "theirs") {
    val v2 = spark.read.format("graft-hfile").load(out)
    val key = v2.select($"rowkey").head().getAs[Array[Byte]](0)
    // bucket, hour and user: one user's cells in one hour
    val prefix = key.take(14)
    val counter = new graft.JobCounter(spark)
    val (get, prefixScan, multiGet) =
      try (
        counter.jobs(assert(v2.filter($"rowkey" === lit(key)).collect().nonEmpty)),
        counter.jobs(assert(v2.filter(startswith($"rowkey", lit(prefix)))
          .collect().nonEmpty)),
        counter.jobs(assert(BulkLoad.multiGet(spark, out,
          Seq(key).toDF("rowkey")).collect().nonEmpty)))
      finally counter.close()
    assert(get == 0 && prefixScan == 0, s"get $get, prefix $prefixScan jobs")
    assert(multiGet > 0, "multiGet probes in tasks, even for a local key frame")
    // a bounded range over every file covers more than the block limit
    val bounds = v2.agg(min($"rowkey"), max($"rowkey")).head()
    val wide = v2.filter($"rowkey" >= lit(bounds.getAs[Array[Byte]](0)) &&
      $"rowkey" <= lit(bounds.getAs[Array[Byte]](1)))
    assert(isBatchScan(wide) && !isLocal(wide),
      wide.queryExecution.executedPlan.toString)
  }
}

object HFileSourceSpec {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.execution.{LocalTableScanExec, SparkPlan}
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
  import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation

  /** The plan's `LocalTableScan` leaves; an orderBy makes an AQE plan
    * whose scans hide inside query-stage leaves, so collect recursively.
    */
  def localScans(p: SparkPlan): Seq[LocalTableScanExec] =
    p.collect {
      case s: LocalTableScanExec    => Seq(s)
      case q: QueryStageExec        => localScans(q.plan)
      case a: AdaptiveSparkPlanExec => localScans(a.executedPlan)
    }.flatten

  /** Every cell under `dir` (bucket, rowkey, family, qualifier, ts, value,
    * key_type), read by [[HFileReader.scan]] on the driver, outside any
    * Spark read: the reference a `graft-hfile` read is checked against.
    */
  def referenceCells(spark: org.apache.spark.sql.SparkSession,
                     dir: String): DataFrame = {
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    HFileDir.list(dir, conf).paths.flatMap { f =>
      val b = HFileSource.bucketOf(f)
      HFileReader.scan(HFileDir.open(f, conf)).map(c =>
        (b, c.rowkey, new String(c.family, "UTF-8"),
          new String(c.qualifier, "UTF-8"), c.ts, c.value, c.keyType.toInt))
        .toSeq
    }.toDF("bucket", "rowkey", "family", "qualifier", "ts", "value", "key_type")
  }

  /** Files the query's one planned `graft-hfile` scan reads. */
  def plannedFiles(df: DataFrame): Int = {
    val scans = df.queryExecution.optimizedPlan.collect {
      case r: DataSourceV2ScanRelation => r.scan
    }
    assert(scans.size == 1, s"expected one graft-hfile scan, got $scans")
    scans.head.toBatch.planInputPartitions().length
  }
}
