package graft.operators

import graft.SparkSpec
import graft.functions.hb
import org.apache.spark.sql.functions._

import java.nio.file.Files

class BulkLoadSpec extends SparkSpec {
  import spark.implicits._

  private def cellStream = {
    val events = sf("events")
    events.select(
      concat(hb.encode(col("user_id")), hb.encode(col("event_id")))
        .as("rowkey"),
      lit("f").as("family"),
      lit("value").as("qualifier"),
      hb.encode(col("value")).as("value"),
      expr("(ts DIV 1000000000 DIV 3600) * 3600").cast("int").as("hour_sec"),
      col("user_id"))
  }

  test("end-to-end write: per-bucket files hold sorted, non-overlapping runs") {
    val out = Files.createTempDirectory("bulkload").toString
    val prepared = BulkLoad.prepare(cellStream, buckets = 8, numPartitions = 8,
      saltBase = Some(hb.encode(col("user_id"))),
      epochSec = Some(col("hour_sec")))
    BulkLoad.writeHFiles(prepared, out, tsCol = Some("hour_sec"))

    // layout: bucket=N directories
    assert(new java.io.File(out).listFiles()
      .exists(_.getName.startsWith("bucket=")))

    // whole-file key ranges within a bucket must not overlap
    // (non-overlapping sorted runs)
    BulkLoad.hfileManifest(spark, out)
      .select("bucket", "min_key_hex", "max_key_hex").as[(Int, String, String)]
      .collect().groupBy(_._1).foreach { case (b, files) =>
        files.map(f => (f._2, f._3)).sortBy(_._1).sliding(2).foreach {
          case Array((_, aHi), (bLo, _)) =>
            assert(aHi < bLo, s"overlapping runs in bucket $b")
          case _ =>
        }
      }

    // a full read checks that every file's keys are sorted (the reader
    // enforces cell order on every block); every input cell survives in
    // the bucket dir its salt prefix names
    val readBack = BulkLoad.readHFiles(spark, out)
      .select("bucket", "rowkey").as[(Int, Array[Byte])].collect()
    assert(readBack.length == cellStream.count())
    readBack.foreach { case (b, k) =>
      assert(((k(0) & 0xff) << 8 | (k(1) & 0xff)) == b)
    }
  }

  test("multiGet: keyed lookup returns exactly the requested rows' cells") {
    import java.nio.file.Files
    val events = sf("events")
    val cells = events.select(
      col("user_id"),
      concat(hb.encode(col("user_id")), hb.encode(col("event_id")))
        .as("rowkey"),
      lit("f").as("family"), lit("v").as("qualifier"),
      hb.encode(col("value")).as("value"),
      expr("ts DIV 1000000").as("ms"))
    val prepared = BulkLoad.prepare(cells, buckets = 4, numPartitions = 4,
      saltBase = Some(hb.encode(col("user_id"))))
    val dir = Files.createTempDirectory("multiget").toString
    BulkLoad.writeHFiles(prepared, dir, tsCol = Some("ms"),
      blockSize = 1024) // multi-block files so the index descent matters
    val all = BulkLoad.readHFiles(spark, dir)
    // 25 real keys (across buckets/files) + 2 absent ones
    val present = all.select(col("rowkey")).distinct().limit(25).collect()
      .map(_.getAs[Array[Byte]](0))
    val absent = Seq(Array.fill(18)(0x7e.toByte), Array.fill(3)(0x01.toByte))
    val keysDf = spark.createDataFrame(
      spark.sparkContext.parallelize(
        (present ++ absent).map(org.apache.spark.sql.Row(_)).toSeq),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("rowkey",
          org.apache.spark.sql.types.BinaryType))))
    val got = BulkLoad.multiGet(spark, dir, keysDf)
    val expected = all.join(
      keysDf.withColumnRenamed("rowkey", "k"),
      col("rowkey") === col("k"), "left_semi")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select(col("bucket"), hex(col("rowkey")).as("rk"), col("family"),
        col("qualifier"), col("ts"), hex(col("value")).as("v"))
    assert(got.count() == expected.count() && got.count() >= 25)
    assert(canon(got).except(canon(expected)).isEmpty &&
      canon(expected).except(canon(got)).isEmpty)
  }

  test("hfileManifest reads per-file stats from trailers; regionPlan packs it") {
    import java.nio.file.Files
    val events = sf("events")
    val cells = events.select(
      concat(hb.encode(col("user_id")), hb.encode(col("event_id")))
        .as("rowkey"),
      lit("f").as("family"), lit("v").as("qualifier"),
      hb.encode(col("value")).as("value"))
    val prepared = BulkLoad.prepare(cells, buckets = 4, numPartitions = 4)
    val dir = Files.createTempDirectory("hmanifest").toString
    BulkLoad.writeHFiles(prepared, dir, blockSize = 2048)
    val m = BulkLoad.hfileManifest(spark, dir)
    val total = cells.count()
    assert(m.agg(sum(col("n_cells"))).head().getLong(0) == total)
    // per-file counts match a real scan, and key ranges are populated
    val scanCounts = BulkLoad.readHFiles(spark, dir)
      .groupBy("file").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    m.collect().foreach { r =>
      assert(scanCounts(r.getAs[String]("file")) == r.getAs[Long]("n_cells"))
      assert(r.getAs[String]("min_key_hex") <= r.getAs[String]("max_key_hex"))
    }
    // and the region planner packs it: full coverage, greedy packing
    // (every region but the last filled to at least the target minus one
    // file's worth), region ids contiguous from 0
    val target = total / 3
    val plan = BulkLoad.regionPlan(m, targetCells = target).collect()
    assert(plan.map(_.getAs[Long]("n_cells")).sum == total)
    val maxFile = m.agg(max(col("n_cells"))).head().getLong(0)
    plan.dropRight(1).foreach { r =>
      assert(r.getAs[Long]("n_cells") >= target - maxFile)
    }
    assert(plan.map(_.getAs[Long]("region_id")).toSeq ==
      (0L until plan.length).toSeq)
  }

  test("backup validates+copies; repair quarantines exactly the corrupt file") {
    import java.nio.file.Files
    val events = sf("events")
    val cells = events.select(
      concat(hb.encode(col("user_id")), hb.encode(col("event_id")))
        .as("rowkey"),
      lit("f").as("family"), lit("v").as("qualifier"),
      hb.encode(col("value")).as("value"))
    val prepared = BulkLoad.prepare(cells, buckets = 3, numPartitions = 3)
    val dir = Files.createTempDirectory("bk_src").toString
    BulkLoad.writeHFiles(prepared, dir, blockSize = 2048)
    val total = cells.count()

    // backup: full parity at the destination
    val dst = Files.createTempDirectory("bk_dst").toString
    val report = BulkLoad.backup(spark, dir, dst)
    assert(report.agg(sum(col("n_cells"))).head().getLong(0) == total)
    assert(BulkLoad.readHFiles(spark, dst).count() == total)

    // corrupt one destination file mid-data; repair must quarantine just it
    val victim = new java.io.File(dst).listFiles
      .filter(_.getName.startsWith("bucket=")).head.listFiles
      .filter(_.getName.endsWith(".hfile")).head
    // drop hadoop's .crc sidecar or the local FS itself rejects the read
    new java.io.File(victim.getParent, s".${victim.getName}.crc").delete()
    val raf = new java.io.RandomAccessFile(victim, "rw")
    raf.seek(60); val b = raf.read(); raf.seek(60); raf.write(b ^ 0x5a)
    raf.close()
    val quarantine = Files.createTempDirectory("bk_quar").toString
    val rep = BulkLoad.repair(spark, dst, quarantine)
    assert(rep.filter(!col("ok")).count() == 1)
    assert(rep.filter(!col("ok")).head().getString(0)
      .endsWith(victim.getName))
    assert(new java.io.File(quarantine).listFiles.nonEmpty)
    // the directory scans clean again (a full read re-validates every
    // block), minus the quarantined file's cells
    val left = BulkLoad.readHFiles(spark, dst).collect().length
    assert(left < total && left > 0)
  }

  test("restore round-trip: backup -> corrupt original -> restore -> parity") {
    import java.nio.file.Files
    val events = sf("events")
    val cells = events.select(
      concat(hb.encode(col("user_id")), hb.encode(col("event_id")))
        .as("rowkey"),
      lit("f").as("family"), lit("v").as("qualifier"),
      hb.encode(col("value")).as("value"))
    val prepared = BulkLoad.prepare(cells, buckets = 3, numPartitions = 3)
    val dir = Files.createTempDirectory("rs_src").toString
    BulkLoad.writeHFiles(prepared, dir, blockSize = 2048)
    val before = BulkLoad.readHFiles(spark, dir)
      .select(hex(col("rowkey")).as("rk"), col("qualifier"), col("ts"),
        hex(col("value")).as("v"))
    val beforeRows = before.collect().toSet
    assert(beforeRows.nonEmpty)

    val bkp = Files.createTempDirectory("rs_bkp").toString
    BulkLoad.backup(spark, dir, bkp)

    // corrupt one ORIGINAL file mid-data — the disaster being recovered
    val victim = new java.io.File(dir).listFiles
      .filter(_.getName.startsWith("bucket=")).head.listFiles
      .filter(_.getName.endsWith(".hfile")).head
    new java.io.File(victim.getParent, s".${victim.getName}.crc").delete()
    val raf = new java.io.RandomAccessFile(victim, "rw")
    raf.seek(60); val b = raf.read(); raf.seek(60); raf.write(b ^ 0x5a)
    raf.close()
    intercept[Exception] { // the corruption is real: the dir no longer scans
      BulkLoad.readHFiles(spark, dir).collect()
    }

    // restore validates every backup file and overwrites the bad original
    val rep = BulkLoad.restore(spark, bkp, dir)
    assert(rep.count() > 0)
    val after = BulkLoad.readHFiles(spark, dir)
      .select(hex(col("rowkey")).as("rk"), col("qualifier"), col("ts"),
        hex(col("value")).as("v"))
    assert(after.collect().toSet == beforeRows)
  }

  test("backup is a first-class store-maintenance snapshot: manifest + " +
      "deep verify; tamper flags checksums_match; restore refuses; " +
      "incremental chains carry and the catalog TVF lists both") {
    val events = sf("events")
    val cells = events.select(
      concat(hb.encode(col("user_id")), hb.encode(col("event_id")))
        .as("rowkey"),
      lit("f").as("family"), lit("v").as("qualifier"),
      hb.encode(col("value")).as("value"))
    val prepared = BulkLoad.prepare(cells, buckets = 3, numPartitions = 3)
    val dir = Files.createTempDirectory("bk_life_src").toString
    BulkLoad.writeHFiles(prepared, dir, blockSize = 2048)

    // snapshots live under ONE parent so retention/catalog see the chain
    val parent = Files.createTempDirectory("bk_life_snaps").toString
    val full = s"$parent/snap_full"
    BulkLoad.backup(spark, dir, full)

    // the snapshot is a backupStore snapshot: deep verify is all-green
    val v1 = StoreMaintenance.verifyStoreBackup(spark, full).collect()
    assert(v1.forall(_.getAs[Boolean]("ok")),
      v1.filter(!_.getAs[Boolean]("ok")).mkString("; "))

    // incremental chain on an unchanged store: everything carries
    val incr = s"$parent/snap_incr"
    BulkLoad.backup(spark, dir, incr, base = Some(full))
    val cat = StoreMaintenance.listStoreBackups(spark, parent).collect()
      .map(r => r.getAs[String]("snapshot") -> r).toMap
    assert(cat("snap_full").getAs[Long]("carried_files") == 0L)
    assert(cat("snap_incr").getAs[Long]("carried_files") > 0L)
    assert(cat("snap_incr").getAs[String]("base") != null)
    assert(cat.values.forall(_.getAs[Boolean]("chain_ok")))

    // tamper a backed-up hfile mid-data: deep verify flags EXACTLY the
    // checksum row, and restore refuses before a byte moves
    val victim = new java.io.File(full).listFiles
      .filter(_.getName.startsWith("bucket=")).head.listFiles
      .filter(_.getName.endsWith(".hfile")).head
    new java.io.File(victim.getParent, s".${victim.getName}.crc").delete()
    val raf = new java.io.RandomAccessFile(victim, "rw")
    raf.seek(60); val b = raf.read(); raf.seek(60); raf.write(b ^ 0x5a)
    raf.close()
    val v2 = StoreMaintenance.verifyStoreBackup(spark, full).collect()
      .map(r => r.getAs[String]("check") -> r.getAs[Boolean]("ok")).toMap
    assert(v2("files_present"), "size-preserving tamper passes presence")
    assert(!v2("checksums_match"), "deep verify must flag the bit flip")
    val err = intercept[IllegalArgumentException] {
      BulkLoad.restore(spark, full, dir)
    }
    assert(err.getMessage.contains("refusing to restore"))
  }

  test("prepare plan: range exchange + in-partition sort, no global sort") {
    val prepared = BulkLoad.prepare(cellStream, buckets = 8, numPartitions = 8)
    val plan = prepared.queryExecution.executedPlan.toString
    assert(plan.contains("rangepartitioning") || plan.contains("RangePartitioning"))
    // Sort must be local (global=false ⇒ printed as "Sort [...], false")
    assert(!plan.matches("(?s).*Sort \\[[^\\]]*\\], true.*"), plan)
  }
}
