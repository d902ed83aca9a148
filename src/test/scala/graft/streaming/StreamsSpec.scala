package graft.streaming

import graft.SparkSpec
import graft.model.{HColumn, HTableSchema}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FilterExec
import org.apache.spark.sql.execution.datasources.v2.MicroBatchScanExec
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import java.sql.Timestamp

class StreamsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(ms: Long) = new Timestamp(ms)

  test("streaming rollup matches batch rollup on the same data") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val events = input.toDF().toDF("event_ts", "event_type", "value")
    val q = Streams.rollupStream(events, "hour")
      .writeStream.format("memory").queryName("rollup_out")
      .outputMode("complete").start()
    try {
      val h0 = 1704067200000L // 2024-01-01T00:00Z
      input.addData(
        (ts(h0 + 1000), "click", 1.0), (ts(h0 + 2000), "click", 2.0),
        (ts(h0 + 3600 * 1000 + 1), "click", 5.0), (ts(h0 + 10), "view", 7.0))
      q.processAllAvailable()
      val out = spark.table("rollup_out")
        .orderBy("bucket_ms", "event_type").collect()
      assert(out.length == 3)
      assert(out(0).getAs[Long]("bucket_ms") == h0)
      assert(out(0).getAs[String]("event_type") == "click")
      assert(out(0).getAs[Long]("n_events") == 2)
      assert(out(0).getAs[Double]("sum_value") == 3.0)
      assert(out(1).getAs[String]("event_type") == "view")
      assert(out(2).getAs[Long]("bucket_ms") == h0 + 3600 * 1000)
    } finally q.stop()
  }

  test("streaming session windows merge within gap and close on watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, Double)]
    val events = input.toDF().toDF("event_ts", "user_id", "value")
    val q = Streams.sessionStream(events, gap = "30 minutes")
      .writeStream.format("memory").queryName("session_out")
      .outputMode("append").start()
    try {
      val t0 = 1704067200000L
      val min = 60 * 1000L
      input.addData(
        (ts(t0), 1L, 1.0), (ts(t0 + 10 * min), 1L, 2.0), // one session
        (ts(t0 + 120 * min), 1L, 5.0),                   // second session
        (ts(t0), 2L, 7.0))
      q.processAllAvailable()
      // sessions emit only once the watermark passes their close
      input.addData((ts(t0 + 600 * min), 9L, 0.0))
      q.processAllAvailable()
      val out = spark.table("session_out")
        .orderBy("user_id", "session_start_ms").collect()
      assert(out.length == 3) // marker's own session still open
      assert(out(0).getAs[Long]("user_id") == 1L)
      assert(out(0).getAs[Long]("n_events") == 2)      // gap-merged
      assert(out(0).getAs[Double]("sum_value") == 3.0)
      assert(out(0).getAs[Long]("session_start_ms") == t0)
      assert(out(0).getAs[Long]("session_end_ms") == t0 + 40 * min)
      assert(out(1).getAs[Long]("n_events") == 1)      // past the gap
      assert(out(1).getAs[Long]("session_start_ms") == t0 + 120 * min)
      assert(out(2).getAs[Long]("user_id") == 2L)
    } finally q.stop()
  }

  test("streaming dedup drops same-fingerprint docs within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, String)]
    val docs = input.toDF().toDF("event_ts", "doc_id", "text")
    val q = Streams.dedupStream(docs, "event_ts")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      val t0 = 1704067200000L
      input.addData(
        (ts(t0), 1L, "same content"), (ts(t0 + 1000), 2L, "same content"),
        (ts(t0 + 2000), 3L, "other content"))
      q.processAllAvailable()
      // advance watermark far enough to emit results
      input.addData((ts(t0 + 7200 * 1000), 4L, "late marker"))
      q.processAllAvailable()
      val texts = spark.table("dedup_out").select("text")
        .as[String].collect().toSeq.sorted
      assert(texts.count(_ == "same content") == 1)
      assert(texts.contains("other content"))
    } finally q.stop()
  }

  test("streaming decontamination annotates overlap vs the static eval " +
      "set and agrees with the batch operator") {
    implicit val sqlCtx = spark.sqlContext
    val evalSet = Seq(
      (1L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("doc_id", "text")
    val q = Streams.decontaminateStream(docs, evalSet, "doc_id", "text",
        k = 5)
      .writeStream.format("memory").queryName("decon_out")
      .outputMode("append").start()
    try {
      input.addData(
        (10L, "xx alpha beta gamma delta epsilon yy zz ww vv"),
        (11L, "p q r s t u v w x y"),
        (12L, "alpha beta gamma delta epsilon zeta"))
      q.processAllAvailable()
      val out = spark.table("decon_out")
        .select("doc_id", "n_grams", "n_hits")
        .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
      assert(out == Seq((10L, 6L, 1L), (11L, 6L, 0L), (12L, 2L, 2L)),
        s"got $out")
      // the streaming annotation filtered to hits must equal the batch
      // operator's contaminated slice on identical inputs
      val batch = graft.operators.Dedup.decontaminate(
        Seq((10L, "xx alpha beta gamma delta epsilon yy zz ww vv"),
          (11L, "p q r s t u v w x y"),
          (12L, "alpha beta gamma delta epsilon zeta"))
          .toDF("doc_id", "text"),
        evalSet, "doc_id", "text", k = 5)
        .select("doc_id", "n_grams", "n_hits")
        .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
      assert(out.filter(_._3 > 0) == batch, s"stream $out vs batch $batch")
    } finally q.stop()
  }

  test("streaming quality monitor: windowed per-source stats match the " +
      "batch score") {
    implicit val sqlCtx = spark.sqlContext
    val good = ("the quick brown fox and the lazy dog walked to the park " +
      "in a fine morning of early spring to see the river") // 100-2000 ch
    val junk = "??!! ##$$ %%^^ &&**" // short, punct-heavy -> low score
    val input = MemoryStream[(Timestamp, String, String)]
    val docs = input.toDF().toDF("event_ts", "source", "text")
    val q = Streams.qualityMonitorStream(docs, "event_ts", "source", "text")
      .writeStream.format("memory").queryName("qual_out")
      .outputMode("complete").start()
    try {
      val h0 = 1704067200000L
      input.addData(
        (ts(h0 + 1000), "src0", good), (ts(h0 + 2000), "src0", junk),
        (ts(h0 + 3000), "src1", good),
        (ts(h0 + 3600 * 1000 + 1), "src0", good)) // next hour window
      q.processAllAvailable()
      val out = spark.table("qual_out").orderBy("bucket_ms", "source")
        .collect()
      assert(out.length == 3)
      assert(out(0).getAs[Long]("bucket_ms") == h0)
      assert(out(0).getAs[String]("source") == "src0")
      assert(out(0).getAs[Long]("n_docs") == 2)
      assert(out(0).getAs[Long]("n_low_quality") == 1) // the junk doc
      assert(out(0).getAs[Long]("sum_chars") ==
        good.length.toLong + junk.length)
      // mean matches the batch expression on the same two texts
      val batchQ = Seq(good, junk).toDF("text")
        .select(graft.operators.TextOps.qualityScore(col("text")))
        .as[Double].collect()
      assert(batchQ(0) >= 0.7 && batchQ(1) < 0.7, s"scores ${batchQ.toSeq}")
      val expAvg = math.rint(batchQ.sum / 2 * 1e6) / 1e6
      assert(out(0).getAs[Double]("avg_quality") == expAvg)
      assert(out(1).getAs[String]("source") == "src1")
      assert(out(1).getAs[Long]("n_low_quality") == 0)
      assert(out(2).getAs[Long]("bucket_ms") == h0 + 3600 * 1000)
    } finally q.stop()
  }

  test("streaming lookup join enriches from a static dim, null on miss") {
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("cust_id", "tier")
    val input = MemoryStream[(Long, Double)]
    val events = input.toDF().toDF("user_id", "value")
    val q = Streams.enrichStream(events, dim,
        org.apache.spark.sql.functions.col("user_id") ===
          org.apache.spark.sql.functions.col("cust_id"))
      .writeStream.format("memory").queryName("enrich_out")
      .outputMode("append").start()
    try {
      input.addData((1L, 10.0), (3L, 30.0))
      q.processAllAvailable()
      val out = spark.table("enrich_out").orderBy("user_id")
        .select("user_id", "tier").as[(Long, Option[String])].collect()
      assert(out.toSeq == Seq((1L, Some("gold")), (3L, None)))
    } finally q.stop()
  }

  test("stateful latest-per-user keeps the newest event across batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventRec]
    val q = Streams.latestPerUserStream(input.toDS())
      .writeStream.format("memory").queryName("latest_out")
      .outputMode("update").start()
    try {
      input.addData(EventRec(1L, 100L, 1L, 1.0), EventRec(1L, 200L, 2L, 2.0),
        EventRec(2L, 50L, 3L, 3.0))
      q.processAllAvailable()
      // second batch: older event for user 1 must NOT displace state;
      // newer event for user 2 must
      input.addData(EventRec(1L, 150L, 4L, 4.0), EventRec(2L, 60L, 5L, 5.0))
      q.processAllAvailable()
      val latest = spark.table("latest_out").as[EventRec].collect()
        .groupBy(_.user_id).map { case (u, rows) =>
          u -> rows.maxBy(e => (e.ts_ms, e.event_id)) }
      assert(latest(1L) == EventRec(1L, 200L, 2L, 2.0))
      assert(latest(2L) == EventRec(2L, 60L, 5L, 5.0))
      // the update-mode emission for batch 2 must keep user 1 at ts 200
      val batch2User1 = spark.table("latest_out").as[EventRec].collect()
        .filter(e => e.user_id == 1L)
      assert(batch2User1.forall(_.ts_ms <= 200L))
      assert(batch2User1.exists(_.ts_ms == 200L))
    } finally q.stop()
  }

  test("upsert stream composes with the HFile sink (G3 -> B11)") {
    implicit val sqlCtx = spark.sqlContext
    val schema = HTableSchema(
      rowKey = Seq("id"),
      columns = Seq(HColumn("f", "v", "v", LongType)))
    val input = MemoryStream[(Long, Long)]
    val rows = input.toDF().toDF("id", "v")
    val outDir = java.nio.file.Files.createTempDirectory("stream_hfiles")
    // each micro-batch becomes one salted, sorted HFile directory
    val q = Streams.upsertStream(rows, schema,
      (cells: DataFrame, epoch: Long) => {
        val prepared = graft.operators.BulkLoad.prepare(
          cells, buckets = 2, numPartitions = 2)
        graft.operators.BulkLoad.writeHFiles(prepared,
          s"$outDir/epoch=$epoch")
      }).start()
    try {
      input.addData((2L, 20L), (1L, 10L), (5L, 50L))
      q.processAllAvailable()
      val dirs = new java.io.File(outDir.toString).listFiles()
        .filter(_.getName.startsWith("epoch="))
      assert(dirs.nonEmpty)
      // a full read: count() alone answers from the trailers
      val total = dirs.map { d =>
        graft.operators.BulkLoad.readHFiles(spark, d.getAbsolutePath)
          .collect().length
      }.sum
      assert(total == 3) // every upsert survives as a validated HFile cell
    } finally q.stop()
  }

  test("upsert stream flushes sorted cell mutations per micro-batch") {
    implicit val sqlCtx = spark.sqlContext
    val schema = HTableSchema(
      rowKey = Seq("id"),
      columns = Seq(HColumn("f", "v", "v", LongType)))
    val input = MemoryStream[(Long, Long)]
    val rows = input.toDF().toDF("id", "v")
    val batches = scala.collection.mutable.ArrayBuffer.empty[Array[String]]
    val q = Streams.upsertStream(rows, schema, (cells: DataFrame, _: Long) =>
      batches.synchronized {
        batches += cells.select(hex(col("rowkey"))).as[String].collect()
      }).start()
    try {
      input.addData((2L, 20L), (1L, 10L))
      q.processAllAvailable()
      val flushed = batches.synchronized(batches.filter(_.nonEmpty))
      assert(flushed.nonEmpty)
      // rowkey order within the flush (the HBase batch-Put invariant)
      assert(flushed.head.toSeq == flushed.head.toSeq.sorted)
      assert(flushed.head.length == 2)
    } finally q.stop()
  }

  test("streaming bulk load writes one valid HFile run per epoch") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("stream_bulk").toString
    val input = MemoryStream[(Long, Double)]
    val cells = input.toDF().toDF("key", "value")
      .select(
        graft.functions.hb.encode(col("key")).as("rowkey"),
        lit("f").as("family"), lit("v").as("qualifier"),
        graft.functions.hb.encode(col("value")).as("value"))
    val q = Streams.bulkLoadStream(cells, dir, buckets = 2,
      numPartitions = 2)
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("stream_bulk_ckpt").toString)
      .start()
    try {
      input.addData((1L, 1.0), (2L, 2.0), (3L, 3.0))
      q.processAllAvailable()
      input.addData((4L, 4.0), (5L, 5.0))
      q.processAllAvailable()
      val epochs = new java.io.File(dir).listFiles
        .filter(_.getName.startsWith("epoch=")).map(_.toString).sorted
      assert(epochs.length == 2)
      // each epoch is a complete, independently loadable bulk run — a
      // full readHFiles re-validates structure, order, blooms and index
      val n = epochs.map(e =>
        graft.operators.BulkLoad.readHFiles(spark, e).collect().length).toSeq
      assert(n == Seq(3, 2))
      // and the keys really round-tripped
      // stored rowkey = 2-byte salt prefix + the 8 encoded key bytes
      val back = graft.operators.BulkLoad.readHFiles(spark, epochs.head)
        .select(graft.functions.hb.decode(expr("substring(rowkey, 3, 8)"),
          org.apache.spark.sql.types.LongType).as("k"))
        .as[Long].collect().sorted.toSeq
      assert(back == Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("bulkLoadStream maxEpochs: a long stream keeps a bounded run " +
      "count, folded runs stay readable and latest-epoch-correct") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("stream_cap").toString
    val input = MemoryStream[(Long, Double)]
    val cells = input.toDF().toDF("key", "value")
      .select(
        graft.functions.hb.encode(col("key")).as("rowkey"),
        lit("f").as("family"), lit("v").as("qualifier"),
        graft.functions.hb.encode(col("value")).as("value"))
    val q = Streams.bulkLoadStream(cells, dir, buckets = 2,
      numPartitions = 2, maxEpochs = 3)
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("stream_cap_ckpt").toString)
      .start()
    try {
      // 7 micro-batches re-putting key 1 (so epoch precedence is
      // observable) plus one private key each
      (0 until 7).foreach { i =>
        input.addData((1L, i.toDouble), (100L + i, i.toDouble))
        q.processAllAvailable()
        // the live run count never exceeds the cap, at ANY point
        val live = new java.io.File(dir).listFiles
          .filter(_.getName.startsWith("epoch=")).length
        assert(live <= 3, s"after batch $i: $live live epochs")
        // and the full directory stays consistently readable: every
        // key written so far is still visible (folded or live)
        val seen = graft.operators.BulkLoad
          .readHFiles(spark, s"$dir/epoch=*")
          .select(graft.functions.hb.decode(
            expr("substring(rowkey, 3, 8)"),
            org.apache.spark.sql.types.LongType).as("k"),
            col("value"))
          .as[(Long, Array[Byte])].collect()
        val latestPerKey = seen.groupBy(_._1)
        assert(latestPerKey.keySet == ((0 to i).map(100L + _).toSet + 1L))
      }
      // key 1's surviving value is the LAST batch's (epoch precedence
      // held through two fold-and-republish cycles)
      val out = java.nio.file.Files.createTempDirectory("cap_out").toString
      graft.operators.Compaction.compactEpochs(spark, dir, out,
        numPartitions = 2)
      val v1 = graft.operators.BulkLoad.readHFiles(spark, out)
        .filter(graft.functions.hb.decode(expr("substring(rowkey, 3, 8)"),
          org.apache.spark.sql.types.LongType) === 1L)
        .select(graft.functions.hb.decode(col("value"),
          org.apache.spark.sql.types.DoubleType).as("value"))
        .as[Double].collect().toSeq
      assert(v1 == Seq(6.0), s"got $v1")
    } finally q.stop()
  }

  test("bulkLoadStream maxEpochs recovery: a crash between fold publish " +
      "and source deletion is healed at the next batch") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("stream_rec").toString
    val ckpt = java.nio.file.Files.createTempDirectory("stream_rec_ckpt")
      .toString
    val input = MemoryStream[(Long, Double)]
    val cells = input.toDF().toDF("key", "value")
      .select(
        graft.functions.hb.encode(col("key")).as("rowkey"),
        lit("f").as("family"), lit("v").as("qualifier"),
        graft.functions.hb.encode(col("value")).as("value"))
    def startQ() = Streams.bulkLoadStream(cells, dir, buckets = 2,
      numPartitions = 2, maxEpochs = 2)
      .option("checkpointLocation", ckpt).start()
    val q1 = startQ()
    try {
      input.addData((1L, 0.0)); q1.processAllAvailable() // epoch=0
      input.addData((2L, 0.0)); q1.processAllAvailable() // folds 0 -> ...
    } finally q1.stop()
    // simulate the worst crash window by hand: a fold PUBLISHED its run
    // (provenance included, as the sink always writes it pre-rename)
    // but died before deleting the consumed sources and its temp dir
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = new java.io.File(dir).listFiles
      .filter(_.getName.startsWith("epoch=")).map(_.getName).sorted.toSeq
    val liveIds = live.map(_.stripPrefix("epoch=").toLong)
    val tmp = new org.apache.hadoop.fs.Path(dir, "_compact_tmp")
    graft.operators.Compaction.compactEpochs(spark, dir, tmp.toString,
      numPartitions = 2) // folded copy of everything currently live
    val cf = fs.create(
      new org.apache.hadoop.fs.Path(tmp, graft.sources.HFileDir.ConsumedFile),
      true)
    try cf.write(liveIds.sorted.mkString("", "\n", "\n").getBytes("UTF-8"))
    finally cf.close()
    val maxId = liveIds.max
    assert(fs.rename(tmp,
      new org.apache.hadoop.fs.Path(dir, s"epoch=${maxId + 1}")))
    // consumed sources deliberately LEFT in place + a junk temp dir
    fs.mkdirs(tmp)
    // next batch (same checkpoint) must sweep: junk tmp gone, all runs
    // below the folded id gone, data still complete and latest-correct
    val q2 = startQ()
    try {
      input.addData((1L, 9.0)); q2.processAllAvailable()
      assert(!new java.io.File(dir.toString, "_compact_tmp").exists())
      val after = new java.io.File(dir).listFiles
        .filter(_.getName.startsWith("epoch=")).map(_.getName)
      val ids = after.map(_.stripPrefix("epoch=").toLong)
      assert(!ids.exists(_ < maxId + 1),
        s"stale consumed runs survived recovery: ${after.toSeq.sorted}")
      val out = java.nio.file.Files.createTempDirectory("rec_out").toString
      graft.operators.Compaction.compactEpochs(spark, dir, out,
        numPartitions = 2)
      val got = graft.operators.BulkLoad.readHFiles(spark, out)
        .select(graft.functions.hb.decode(expr("substring(rowkey, 3, 8)"),
          org.apache.spark.sql.types.LongType).as("k"),
          graft.functions.hb.decode(col("value"),
            org.apache.spark.sql.types.DoubleType).as("value"))
        .as[(Long, Double)].collect().toMap
      assert(got == Map(1L -> 9.0, 2L -> 0.0), s"got $got")
    } finally q2.stop()
  }

  test("bulkLoadStream tiered: ratio-bounded folds keep data complete " +
      "and latest-correct, and a big run is not rewritten for newcomers") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("stream_tier").toString
    val input = MemoryStream[(Long, Double)]
    val cells = input.toDF().toDF("key", "value")
      .select(
        graft.functions.hb.encode(col("key")).as("rowkey"),
        lit("f").as("family"), lit("v").as("qualifier"),
        graft.functions.hb.encode(col("value")).as("value"))
    val q = Streams.bulkLoadStream(cells, dir, buckets = 2,
      numPartitions = 2, maxEpochs = 2, tiered = true)
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("stream_tier_ckpt").toString)
      .start()
    try {
      val history = scala.collection.mutable.ArrayBuffer.empty[Seq[Long]]
      // batch 0 is a BIG run (3000 keys); batches 1-5 are small re-puts —
      // the ratio guard must fold the small runs among themselves and
      // never rewrite the big one to absorb them
      var expected = Set(1L) ++ (1 to 3000).map(1000L + _)
      input.addData(Seq((1L, 0.0)) ++ (1 to 3000).map(i => (1000L + i, 0.0)))
      q.processAllAvailable()
      (1 until 6).foreach { i =>
        input.addData((1L, i.toDouble), (100L + i, i.toDouble))
        expected += 100L + i
        q.processAllAvailable()
        val ids = new java.io.File(dir).listFiles
          .filter(_.getName.startsWith("epoch="))
          .map(_.getName.stripPrefix("epoch=").toLong).toSeq.sorted
        history += ids
        // every key written so far stays visible through every fold
        val seen = graft.operators.BulkLoad
          .readHFiles(spark, s"$dir/epoch=*")
          .select(graft.functions.hb.decode(
            expr("substring(rowkey, 3, 8)"),
            org.apache.spark.sql.types.LongType).as("k"))
          .as[Long].collect().toSet
        assert(seen == expected, s"after batch $i (runs $ids): " +
          s"missing ${expected -- seen}, extra ${seen -- expected}")
      }
      // the big batch-0 run was never rewritten: epoch=0 is still live
      assert(history.last.contains(0L),
        s"big run absorbed by a fold; run history: $history")
      // evidence of a MINOR fold: a published fold id (not a batch-
      // stride multiple) coexisted with an OLDER live run it spared
      assert(history.exists(ids => ids.exists(id =>
          id % Streams.EpochStride != 0 && ids.exists(_ < id - 1))),
        s"no minor fold observed; run history: $history")
      // epoch precedence held through minor+major folds: key 1's
      // surviving value is the last batch's
      val out = java.nio.file.Files.createTempDirectory("tier_out").toString
      graft.operators.Compaction.compactEpochs(spark, dir, out,
        numPartitions = 2)
      val v1 = graft.operators.BulkLoad.readHFiles(spark, out)
        .filter(graft.functions.hb.decode(expr("substring(rowkey, 3, 8)"),
          org.apache.spark.sql.types.LongType) === 1L)
        .select(graft.functions.hb.decode(col("value"),
          org.apache.spark.sql.types.DoubleType).as("value"))
        .as[Double].collect().toSeq
      assert(v1 == Seq(5.0), s"got $v1")
    } finally q.stop()
  }

  test("G7/G10 run layer: a run dir swept between the run glob and its " +
      "listing is skipped by the fold and by the tail") {
    implicit val sqlCtx = spark.sqlContext
    spark.sparkContext.hadoopConfiguration.set("fs.vanishing.impl",
      classOf[VanishingRunFileSystem].getName)
    val local = java.nio.file.Files.createTempDirectory("runs_vanish").toFile
    val dir = s"vanishing://${local.getAbsolutePath}"
    val input = MemoryStream[(Long, Double)]
    val cells = input.toDF().toDF("key", "value")
      .select(
        graft.functions.hb.encode(col("key")).as("rowkey"),
        lit("f").as("family"), lit("v").as("qualifier"),
        graft.functions.hb.encode(col("value")).as("value"))
    val w = Streams.bulkLoadStream(cells, dir, buckets = 2,
        numPartitions = 2, maxEpochs = 2)
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("runs_vanish_w").toString)
      .start()
    var tq: org.apache.spark.sql.streaming.StreamingQuery = null
    try {
      def doomRun(id: Long): Unit = {
        val run = new java.io.File(local, s"epoch=$id")
        assert(run.mkdir())
        VanishingRunFileSystem.doom(run)
      }
      input.addData((1L, 1.0)); w.processAllAvailable()
      // the next batch's fold lists a run that vanishes under it
      doomRun(1)
      input.addData((2L, 2.0)); w.processAllAvailable()
      assert(!VanishingRunFileSystem.pending, "the fold never listed the run")
      // the tail's first poll lists a run that vanishes under it
      doomRun(3)
      tq = Streams.readBulkLoadStream(spark, dir)
        .select(graft.functions.hb.decode(expr("substring(rowkey, 3, 8)"),
          LongType).as("k"))
        .writeStream.format("memory").queryName("vanish_tail")
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("runs_vanish_r").toString)
        .start()
      tq.processAllAvailable()
      assert(!VanishingRunFileSystem.pending, "the tail never listed the run")
      // a fold over the surviving runs, then one more batch delivered
      input.addData((3L, 3.0)); w.processAllAvailable()
      tq.processAllAvailable()
      assert(spark.sql("SELECT k FROM vanish_tail").as[Long].collect()
        .sorted.toSeq == Seq(1L, 2L, 3L))
    } finally { if (tq != null) tq.stop(); w.stop() }
  }

  test("G7 run layer: an unreadable fold provenance in a live run fails " +
      "the next fold batch loudly") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.streaming.StreamingQueryException
    val dir = java.nio.file.Files.createTempDirectory("runs_prov").toString
    val input = MemoryStream[(Long, Double)]
    val cells = input.toDF().toDF("key", "value")
      .select(
        graft.functions.hb.encode(col("key")).as("rowkey"),
        lit("f").as("family"), lit("v").as("qualifier"),
        graft.functions.hb.encode(col("value")).as("value"))
    val w = Streams.bulkLoadStream(cells, dir, buckets = 2,
        numPartitions = 2, maxEpochs = 2)
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("runs_prov_w").toString)
      .start()
    try {
      // the third batch folds the first two into a run with provenance
      (1 to 3).foreach { i =>
        input.addData((i.toLong, i.toDouble)); w.processAllAvailable()
      }
      val prov = new java.io.File(dir).listFiles.toSeq
        .map(new java.io.File(_, graft.sources.HFileDir.ConsumedFile))
        .filter(_.isFile)
      assert(prov.size == 1, s"expected one fold, got $prov")
      // unreadable, and not by permission bits (root ignores them)
      assert(prov.head.delete() && prov.head.mkdir())
      input.addData((4L, 4.0))
      val e = intercept[StreamingQueryException](w.processAllAvailable())
      def chain(t: Throwable): Seq[Throwable] =
        if (t == null) Seq.empty else t +: chain(t.getCause)
      assert(chain(e).exists(c => c.isInstanceOf[IllegalStateException] &&
        c.getMessage.contains("unreadable fold provenance")),
        s"expected the provenance fail-loud, got: $e")
    } finally w.stop()
  }

  test("G10 tail feeds the engine's own operators: an incremental " +
      "aggregate over the tailed cell stream matches the batch read") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("tail_agg").toString
    val input = MemoryStream[(Long, Double)]
    val cells = input.toDF().toDF("key", "value")
      .select(
        graft.functions.hb.encode(col("key")).as("rowkey"),
        lit("f").as("family"), lit("v").as("qualifier"),
        graft.functions.hb.encode(col("value")).as("value"))
    val w = Streams.bulkLoadStream(cells, dir, buckets = 2,
        numPartitions = 2)
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("tail_agg_wc").toString)
      .start()
    // downstream consumer: per-key cell count, incrementally maintained
    val agg = Streams.readBulkLoadStream(spark, dir)
      .select(graft.functions.hb.decode(expr("substring(rowkey, 3, 8)"),
        LongType).as("k"))
      .groupBy("k").count()
    val tq = agg.writeStream.format("memory").queryName("tail_agg")
      .outputMode("complete")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("tail_agg_rc").toString)
      .start()
    try {
      input.addData((1L, 1.0), (2L, 2.0))
      w.processAllAvailable(); tq.processAllAvailable()
      input.addData((1L, 3.0), (3L, 4.0))
      w.processAllAvailable(); tq.processAllAvailable()
      val streamed = spark.sql("SELECT k, count FROM tail_agg")
        .as[(Long, Long)].collect().toMap
      val batch = graft.operators.BulkLoad
        .readHFiles(spark, s"$dir/epoch=*")
        .select(graft.functions.hb.decode(expr("substring(rowkey, 3, 8)"),
          LongType).as("k"))
        .groupBy("k").count().as[(Long, Long)].collect().toMap
      assert(streamed == batch && streamed == Map(1L -> 2L, 2L -> 1L, 3L -> 1L),
        s"streamed $streamed vs batch $batch")
    } finally { tq.stop(); w.stop() }
  }

  test("G11 streaming heavy hitters: hot keys surface per closed window " +
      "with valid lower bounds, across micro-batch splits") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long)]
    val out = Streams.heavyHitterStream(
      input.toDF().toDF("ts", "user_id"), "ts", "user_id",
      windowLen = "1 minute", lateness = "0 seconds", capacity = 8)
    val q = out.writeStream.format("memory").queryName("hh_stream")
      .outputMode("append")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("hh_ckpt").toString)
      .start()
    try {
      // window [0, 60s): user 7 hot (30 of 50 events) — split across TWO
      // micro-batches so the sketch's state-store round trip is on the
      // path; cold users are all distinct
      val w0 = (0 until 25).map(i =>
        (ts(i * 1000L), if (i % 5 != 0) 7L else 1000L + i))
      val w0b = (25 until 50).map(i =>
        (ts(i * 1000L), if (i % 5 != 0) 7L else 1000L + i))
      input.addData(w0: _*)
      q.processAllAvailable()
      input.addData(w0b: _*)
      q.processAllAvailable()
      // advance the watermark past the window to close it
      input.addData((ts(130000L), 9L))
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT bucket_ms, n_events, hitters FROM hh_stream").collect()
      assert(rows.length == 1, s"one closed window expected: ${rows.toSeq}")
      val r = rows.head
      assert(r.getLong(0) == 0L && r.getLong(1) == 50L)
      val hitters = r.getSeq[org.apache.spark.sql.Row](2)
        .map(h => h.getLong(0) -> h.getLong(1)).toMap
      assert(hitters.size <= 8)
      // user 7: true count 40, guarantee floor 50/9 ⇒ must be present,
      // lower bound within the slack and never above the truth
      assert(hitters.contains(7L), s"hot user missing: $hitters")
      assert(hitters(7L) <= 40L && 40L - hitters(7L) <= 50L / 9 + 1,
        s"bad bound: ${hitters(7L)}")
    } finally q.stop()
  }

  test("G10 tail composes with the self-compacting sink: a keep-pace " +
      "consumer sees every batch's cells exactly once across folds") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("tail_cap").toString
    val input = MemoryStream[(Long, Double)]
    val cells = input.toDF().toDF("key", "value")
      .select(
        graft.functions.hb.encode(col("key")).as("rowkey"),
        lit("f").as("family"), lit("v").as("qualifier"),
        graft.functions.hb.encode(col("value")).as("value"))
    val w = Streams.bulkLoadStream(cells, dir, buckets = 2,
        numPartitions = 2, maxEpochs = 3)
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("tail_cap_wc").toString)
      .start()
    val tail = Streams.readBulkLoadStream(spark, dir)
      .select(
        graft.functions.hb.decode(expr("substring(rowkey, 3, 8)"),
          LongType).as("k"),
        graft.functions.hb.decode(col("value"),
          org.apache.spark.sql.types.DoubleType).as("v"))
    val tq = tail.writeStream.format("memory").queryName("cap_tail")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("tail_cap_rc").toString)
      .start()
    try {
      // 7 batches re-putting key 1 plus one private key each; the sink
      // folds twice along the way (maxEpochs = 3). The tail keeps pace
      // (drains after every sink batch) — the documented contract under
      // which delivery through a self-compacting directory stays
      // exactly-once: each live run is read before any fold consumes it
      (0 until 7).foreach { i =>
        input.addData((1L, i.toDouble), (100L + i, i.toDouble))
        w.processAllAvailable()
        tq.processAllAvailable()
      }
      val got = spark.sql("SELECT k, v FROM cap_tail")
        .as[(Long, Double)].collect().toSeq
      // exactly once: 7 versions of key 1 (one per batch) + 7 singles,
      // no fold output ever re-delivered
      assert(got.size == 14, s"expected 14 deliveries, got ${got.size}")
      assert(got.filter(_._1 == 1L).map(_._2).sorted ==
        (0 until 7).map(_.toDouble))
      assert(got.filter(_._1 >= 100L).sorted ==
        (0 until 7).map(i => (100L + i, i.toDouble)))
    } finally { tq.stop(); w.stop() }
  }

  test("G10 restart from checkpoint across a fold cycle: delivery stays " +
      "exactly-once when the reader kept pace, and the fail-loud fires " +
      "when the fold window was overrun") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.streaming.StreamingQueryException

    def decoded(df: org.apache.spark.sql.DataFrame) = df.select(
      graft.functions.hb.decode(expr("substring(rowkey, 3, 8)"),
        LongType).as("k"),
      graft.functions.hb.decode(col("value"),
        org.apache.spark.sql.types.DoubleType).as("v"))

    def runScenario(tag: String, batchesBeforeStop: Int,
                    batchesWhileDown: Int):
        (collection.Map[Long, Seq[(Long, Double)]],
         () => org.apache.spark.sql.streaming.StreamingQuery,
         MemoryStream[(Long, Double)],
         org.apache.spark.sql.streaming.StreamingQuery, () => Unit) = {
      val dir = java.nio.file.Files.createTempDirectory(s"rst_$tag").toString
      val ckptW = java.nio.file.Files
        .createTempDirectory(s"rst_${tag}_w").toString
      val ckptR = java.nio.file.Files
        .createTempDirectory(s"rst_${tag}_r").toString
      val input = MemoryStream[(Long, Double)]
      val cells = input.toDF().toDF("key", "value")
        .select(
          graft.functions.hb.encode(col("key")).as("rowkey"),
          lit("f").as("family"), lit("v").as("qualifier"),
          graft.functions.hb.encode(col("value")).as("value"))
      val w = Streams.bulkLoadStream(cells, dir, buckets = 2,
          numPartitions = 2, maxEpochs = 3)
        .option("checkpointLocation", ckptW).start()
      // foreachBatch sink keyed by batchId: a replayed batch overwrites
      // its own slot, so the map IS the exactly-once ledger
      val got = new java.util.concurrent.ConcurrentHashMap[
        Long, Seq[(Long, Double)]]()
      import scala.jdk.CollectionConverters._
      def startTail() = decoded(Streams.readBulkLoadStream(spark, dir))
        .writeStream
        .foreachBatch { (b: DataFrame, id: Long) =>
          got.put(id,
            b.collect().toSeq.map(r => (r.getLong(0), r.getDouble(1))))
          ()
        }
        .option("checkpointLocation", ckptR).start()
      val tq = startTail()
      var key = 100L
      def oneBatch(): Long = {
        val k = key; key += 1
        input.addData((k, k.toDouble)); w.processAllAvailable(); k
      }
      (1 to batchesBeforeStop).foreach { _ =>
        oneBatch(); tq.processAllAvailable()
      }
      tq.stop()
      (1 to batchesWhileDown).foreach(_ => oneBatch())
      (got.asScala, startTail _, input, w, () => { val k = key; key += 1
        input.addData((k, k.toDouble)); w.processAllAvailable(): Unit })
    }

    // --- kept pace: 3 delivered batches, then ONE batch while down —
    // its fold consumes exactly the 3 already-delivered runs, so the
    // restart delivers only the new run, exactly once, and keeps tailing
    locally {
      val (got, restart, _, w, nextBatch) = runScenario("ok", 3, 1)
      val tq2 = restart()
      try {
        tq2.processAllAvailable()
        nextBatch(); tq2.processAllAvailable()
        val all = got.values.flatten.toSeq.sorted
        // keys 100..104, each exactly once (100-102 pre-stop, 103 while
        // down and folded-into-nothing-undelivered, 104 post-restart)
        assert(all == (100L to 104L).map(k => (k, k.toDouble)),
          s"exactly-once violated: $all")
      } finally { tq2.stop(); w.stop() }
    }

    // --- overrun: 2 delivered batches, then TWO while down — the second
    // triggers a fold consuming an UNDELIVERED run (the third), so the
    // restarted reader must fail loudly, not plan an empty range
    locally {
      val (_, restart, _, w, _) = runScenario("lag", 2, 2)
      val tq2 = restart()
      try {
        val e = intercept[StreamingQueryException] {
          tq2.processAllAvailable()
        }
        def chain(t: Throwable): Seq[Throwable] =
          if (t == null) Seq.empty else t +: chain(t.getCause)
        assert(chain(e).exists(c => c.isInstanceOf[IllegalStateException] &&
          c.getMessage.contains("folded away")),
          s"expected the documented fail-loud, got: $e")
      } finally { tq2.stop(); w.stop() }
    }
  }

  test("G10 streaming hfile source: tails published epochs exactly once, " +
      "skips unpublished and fold directories") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("tail_src").toString
    val input = MemoryStream[(Long, Double)]
    val cells = input.toDF().toDF("key", "value")
      .select(
        graft.functions.hb.encode(col("key")).as("rowkey"),
        lit("f").as("family"), lit("v").as("qualifier"),
        graft.functions.hb.encode(col("value")).as("value"))
    val w = Streams.bulkLoadStream(cells, dir, buckets = 2,
        numPartitions = 2)
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("tail_w_ckpt").toString)
      .start()
    val tail = Streams.readBulkLoadStream(spark, dir)
      .select(
        graft.functions.hb.decode(expr("substring(rowkey, 3, 8)"),
          LongType).as("k"),
        graft.functions.hb.decode(col("value"),
          org.apache.spark.sql.types.DoubleType).as("v"))
    val tq = tail.writeStream.format("memory").queryName("hfile_tail")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("tail_r_ckpt").toString)
      .start()
    try {
      input.addData((1L, 1.0), (2L, 2.0), (3L, 3.0))
      w.processAllAvailable()
      tq.processAllAvailable()
      def seen(): Seq[(Long, Double)] =
        spark.sql("SELECT k, v FROM hfile_tail").as[(Long, Double)]
          .collect().sorted.toSeq
      assert(seen() == Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)))
      // an UNPUBLISHED epoch dir (hfile present, no _complete marker)
      // and a FOLD dir (_complete + _consumed) must both be invisible
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val e0 = new java.io.File(dir).listFiles
        .filter(_.getName.startsWith("epoch=")).head
      def cloneEpoch(name: String, extras: Seq[String]): Unit = {
        // assemble OUTSIDE the epoch=* namespace, publish by rename —
        // the live tail query triggers continuously, and a clone that
        // carried epoch=0's _complete marker for even an instant would
        // be seen as deliverable and steal the offset high-water mark
        // (the real sink writes its marker LAST for the same reason)
        val tmp = new org.apache.hadoop.fs.Path(dir, s"_clone_$name")
        org.apache.hadoop.fs.FileUtil.copy(fs,
          new org.apache.hadoop.fs.Path(e0.toString), fs, tmp, false,
          spark.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(tmp,
          graft.sources.HFileDir.CompleteFile), false)
        extras.foreach { m =>
          val out = fs.create(new org.apache.hadoop.fs.Path(tmp, m), true)
          out.write("0\n".getBytes("UTF-8")); out.close()
        }
        assert(fs.rename(tmp, new org.apache.hadoop.fs.Path(dir, name)))
      }
      cloneEpoch("epoch=97", Seq.empty)                 // unpublished
      cloneEpoch("epoch=98",
        Seq(graft.sources.HFileDir.CompleteFile,
          graft.sources.HFileDir.ConsumedFile)) // fold output
      // a second sink batch: only ITS cells arrive (exactly-once — the
      // first epoch is not re-delivered, the 97/98 dirs never deliver)
      input.addData((4L, 4.0), (5L, 5.0))
      w.processAllAvailable()
      tq.processAllAvailable()
      assert(seen() == Seq((1L, 1.0), (2L, 2.0), (3L, 3.0),
        (4L, 4.0), (5L, 5.0)), s"got ${seen()}")
    } finally { tq.stop(); w.stop() }
  }

  test("G10 tail with a rowkey filter delivers exactly the cells the " +
      "filter admits") {
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.BytesCodec
    val dir = java.nio.file.Files.createTempDirectory("tail_filter").toString
    val input = MemoryStream[(Long, Double)]
    val cells = input.toDF().toDF("key", "value")
      .select(
        graft.functions.hb.encode(col("key")).as("rowkey"),
        lit("f").as("family"), lit("v").as("qualifier"),
        graft.functions.hb.encode(col("value")).as("value"))
    val w = Streams.bulkLoadStream(cells, dir, buckets = 2,
        numPartitions = 2)
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("tail_f_wc").toString)
      .start()
    // the sink's salt: abs(Arrays.hashCode(key bytes)) % 2, as 2 bytes
    def bucketOf(k: Long) =
      math.abs(java.util.Arrays.hashCode(BytesCodec.encodeLong(k)) % 2)
    def salted(k: Long) =
      BytesCodec.encodeShort(bucketOf(k).toShort) ++ BytesCodec.encodeLong(k)
    val inBucket1 = (1L to 20L).filter(bucketOf(_) == 1)
    // bucket 1, below a present key (the exclusive edge is exercised)
    val edge = inBucket1(inBucket1.size / 2)
    val cond = col("rowkey") >= lit(Array[Byte](0, 1)) &&
      col("rowkey") < lit(salted(edge))
    val tail = Streams.readBulkLoadStream(spark, dir).filter(cond)
      .select(graft.functions.hb.decode(expr("substring(rowkey, 3, 8)"),
        LongType).as("k"))
    val tq = tail.writeStream.format("memory").queryName("hfile_tail_filter")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("tail_f_rc").toString)
      .start()
    try {
      input.addData((1L to 10L).map(k => (k, k.toDouble)): _*)
      w.processAllAvailable(); tq.processAllAvailable()
      input.addData((11L to 20L).map(k => (k, k.toDouble)): _*)
      w.processAllAvailable(); tq.processAllAvailable()
      val streamed = spark.sql("SELECT k FROM hfile_tail_filter")
        .as[Long].collect().sorted.toSeq
      val batch = graft.operators.BulkLoad
        .readHFiles(spark, s"$dir/epoch=*").filter(cond)
        .select(graft.functions.hb.decode(expr("substring(rowkey, 3, 8)"),
          LongType).as("k"))
        .as[Long].collect().sorted.toSeq
      val want = inBucket1.filter(_ < edge)
      assert(want.nonEmpty && streamed == want && batch == want,
        s"streamed $streamed, batch $batch, want $want")
      // Spark pushes nothing into a tail: its Filter stays above the scan
      val plan = tq.asInstanceOf[StreamingQueryWrapper].streamingQuery
        .lastExecution.executedPlan
      assert(plan.collectFirst { case f: FilterExec
          if f.find(_.isInstanceOf[MicroBatchScanExec]).isDefined => f }
        .isDefined, plan.toString)
    } finally { tq.stop(); w.stop() }
  }

  test("G12 streaming near-dup candidates: cross-batch and in-batch " +
    "collisions emit against the bucket representative, uniques stay " +
    "silent, hot buckets stop at the cap") {
    implicit val sqlCtx = spark.sqlContext
    val dupText = "the quick brown fox jumps over the lazy dog again and again"
    val uniqueText = "completely unrelated content with no shared shingles " +
      "whatsoever in this sentence"
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("doc_id", "text")
    val q = Streams.nearDupCandidatesStream(docs, maxBucket = 20L)
      .writeStream.format("memory").queryName("neardup_out")
      .outputMode("append").start()
    def cands() = spark.table("neardup_out")
      .select("doc_id", "first_id").distinct()
      .as[(Long, Long)].collect().toSet
    try {
      // batch 1: the representative + one unique doc
      input.addData((1L, dupText), (50L, uniqueText))
      q.processAllAvailable()
      assert(cands().isEmpty, "nothing collides yet")
      // batch 2: an exact dup (collides in EVERY band) + in-batch pair
      input.addData((7L, dupText), (9L, dupText))
      q.processAllAvailable()
      // both emit against the stable representative (doc 1), never
      // against each other, and the unique doc never appears
      assert(cands() == Set((7L, 1L), (9L, 1L)), s"got ${cands()}")
      // batch 3: another dup, later batch — same representative
      input.addData((3L, dupText))
      q.processAllAvailable()
      assert(cands() == Set((7L, 1L), (9L, 1L), (3L, 1L)))
    } finally q.stop()
  }

  test("G12 hot-bucket cap bounds emissions from a degenerate key") {
    implicit val sqlCtx = spark.sqlContext
    val hot = "identical hot document text shared by the whole storm batch"
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("doc_id", "text")
    // cap at 4 docs seen per bucket: with 16 bands an exact-dup doc
    // collides in all bands, so per-band emissions stop once the
    // bucket has seen 4 docs
    val q = Streams.nearDupCandidatesStream(docs, maxBucket = 4L)
      .writeStream.format("memory").queryName("neardup_cap_out")
      .outputMode("append").start()
    try {
      input.addData((1L to 10L).map(i => (i, hot)): _*)
      q.processAllAvailable()
      val perBand = spark.table("neardup_cap_out")
        .groupBy("band").count().as[(Int, Long)].collect().toMap
      assert(perBand.nonEmpty)
      // bucket born at doc 1 (no emission), then emissions only until
      // the seen-count reaches the cap
      perBand.values.foreach(n => assert(n <= 4L, s"cap breached: $perBand"))
      // storm continues in a later batch: bucket is saturated, silent
      val before = spark.table("neardup_cap_out").count()
      input.addData((11L to 20L).map(i => (i, hot)): _*)
      q.processAllAvailable()
      assert(spark.table("neardup_cap_out").count() == before,
        "saturated bucket kept emitting")
    } finally q.stop()
  }

  test("G12 stream blocking is the batch blocking: every emitted " +
      "(doc_id, first_id) is a Dedup.lshCandidatePairs pair whose " +
      "members share the emitted (band, bkey)") {
    implicit val sqlCtx = spark.sqlContext
    val rows = sf("documents")
      .select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)].collect().toSeq
    val static = rows.toDF("doc_id", "text")
    val input = MemoryStream[(Long, String)]
    val q = Streams.nearDupCandidatesStream(input.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("neardup_parity_out")
      .outputMode("append").start()
    try {
      input.addData(rows: _*)
      q.processAllAvailable()
      val emitted = spark.table("neardup_parity_out")
        .as[NearDupCandidate].collect().toSeq
      val pairs = graft.operators.Dedup.lshCandidatePairs(
          static.select(col("doc_id"), graft.functions.txt.minhash(
            graft.operators.Dedup.shingleHashes(col("text"), 3), 128)
            .as("sig")),
          "doc_id", "sig", bands = 16, rowsPerBand = 8)
        .as[(Long, Long)].collect().toSet
      val keys = graft.operators.Dedup.lshBandKeys(static, col("doc_id"),
          "doc_id", "text", 3, 128, 16)
        .select("band", "bkey", "doc_id").as[(Int, Long, Long)]
        .collect().toSet
      assert(emitted.nonEmpty && pairs.nonEmpty)
      emitted.foreach { c =>
        assert(pairs((c.first_id min c.doc_id, c.first_id max c.doc_id)),
          s"$c is no batch candidate pair")
        assert(keys((c.band, c.bkey, c.doc_id)) &&
          keys((c.band, c.bkey, c.first_id)), s"$c: not one batch bucket")
      }
      // one static batch: every bucket's non-first members emit, so
      // every batch pair has an emitted member
      val emittedIds = emitted.map(_.doc_id).toSet
      assert(pairs.forall { case (a, b) => emittedIds(a) || emittedIds(b) })
    } finally q.stop()
  }

  test("G14 streaming token rate: closed windows carry exact per-source " +
      "BPE token counts that reconcile with the batch tokenStats") {
    implicit val sqlCtx = spark.sqlContext
    val texts = Seq("low low lower", "newest newest", "low widest")
    val merges = graft.operators.Bpe.train(
      texts.toDF("text"), "text", nMerges = 4)
    assert(merges.nonEmpty)
    val input = MemoryStream[(Timestamp, String, String)]
    val out = Streams.tokenRateStream(
      input.toDF().toDF("ts", "source", "text"), "ts", "source", "text",
      merges, windowLen = "1 minute", lateness = "0 seconds")
    val q = out.writeStream.format("memory").queryName("tokrate_out")
      .outputMode("append")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("tokrate_ckpt").toString)
      .start()
    try {
      // window [0, 60s): sources a (2 docs) and b (1 doc); split across
      // two micro-batches
      input.addData((ts(1000L), "a", texts(0)), (ts(2000L), "b", texts(1)))
      q.processAllAvailable()
      input.addData((ts(3000L), "a", texts(2)))
      q.processAllAvailable()
      input.addData((ts(130000L), "a", "x")) // advance watermark
      q.processAllAvailable()
      val rows = spark.table("tokrate_out")
        .orderBy("source").collect()
      assert(rows.length == 2, s"two sources expected: ${rows.toSeq}")
      // exact reconciliation with the batch kernel
      val batch = graft.operators.Bpe.tokenStats(
        Seq((0L, texts(0)), (1L, texts(2))).toDF("doc_id", "text"),
        "doc_id", "text", merges)
        .agg(org.apache.spark.sql.functions.sum("n_bpe")).head().getLong(0)
      val a = rows.head
      assert(a.getAs[String]("source") == "a" &&
        a.getAs[Long]("n_docs") == 2 && a.getAs[Long]("n_tokens") == batch,
        s"stream tokens must equal batch kernel: $a vs $batch")
      assert(a.getAs[Double]("tokens_per_sec") ==
        math.rint(batch / 60.0 * 1e6) / 1e6)
    } finally q.stop()
  }

  test("G13 streaming anomaly alerts match the batch rollupAnomaly rows " +
      "for every closed hour, across micro-batch splits") {
    implicit val sqlCtx = spark.sqlContext
    val hour = 3600000L
    // spike series (24 steady hours then 10x), flat series, plus a
    // final sentinel hour per type so the stream closes the spike hour
    def counts(tpe: String): Seq[Int] = tpe match {
      case "spike" => Seq.fill(24)(5) ++ Seq(50, 1)
      case _       => Seq.fill(25)(5) :+ 5
    }
    val rows: Seq[(Long, String)] = for {
      tpe <- Seq("spike", "flat")
      (c, h) <- counts(tpe).zipWithIndex
      i <- 0 until c
    } yield (h * hour + i, tpe)
    val input = MemoryStream[(Timestamp, String)]
    val out = Streams.anomalyStream(
      input.toDF().toDF("ts", "event_type"), "ts", "event_type")
    val q = out.writeStream.format("memory").queryName("anom_out")
      .outputMode("append")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("anom_ckpt").toString)
      .start()
    try {
      val ordered = rows.sortBy(_._1).map { case (ms, t) => (ts(ms), t) }
      // split mid-way so the ring state crosses a state-store round trip
      val (a, b) = ordered.splitAt(ordered.length / 2)
      input.addData(a: _*); q.processAllAvailable()
      input.addData(b: _*); q.processAllAvailable()
      val got = spark.table("anom_out")
        .orderBy("event_type", "bucket_ms").collect()
        .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("bucket_ms"),
          r.getAs[Long]("cnt"), r.getAs[Long]("base_n"),
          r.getAs[Long]("mean_milli"))).toSeq
      // batch twin on the same events (ts in nanos), sentinel hour
      // excluded — the stream never closes the last open hour
      val sentinelMs = 25L * hour
      val batch = graft.queries.Core.rollupAnomaly(
        rows.map { case (ms, t) => (ms * 1000000L, t) }
          .toDF("ts", "event_type"))
        .filter(col("bucket_ms") < sentinelMs)
        .orderBy("event_type", "bucket_ms").collect()
        .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("bucket_ms"),
          r.getAs[Long]("cnt"), r.getAs[Long]("base_n"),
          r.getAs[Long]("mean_milli"))).toSeq
      assert(batch.nonEmpty, "batch twin found no anomalies — bad fixture")
      assert(got == batch,
        s"stream alerts $got must equal batch anomalies $batch")
    } finally q.stop()
  }

  test("G15 streaming chunk feed: rows are bit-identical to the batch " +
      "chunker over the same docs, across micro-batch splits") {
    implicit val sqlCtx = spark.sqlContext
    val merges = graft.operators.Bpe.frozenMerges
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "a"),
      (3L, ""), // no tokens: emits nothing
      (4L, "one two three four five six seven eight nine ten eleven"))
    val input = MemoryStream[(Long, String)]
    val out = Streams.chunkStream(input.toDF().toDF("doc_id", "text"),
      "doc_id", "text", merges, chunkTok = 8, stride = 6)
    val q = out.writeStream.format("memory").queryName("chunk_out")
      .outputMode("append").start()
    try {
      val (a, b) = docs.splitAt(2)
      input.addData(a: _*); q.processAllAvailable()
      input.addData(b: _*); q.processAllAvailable()
      def rows(df: org.apache.spark.sql.DataFrame) = df
        .select("doc_id", "chunk_idx", "tok_start", "n_tok", "first_id",
          "last_id", "id_wsum")
        .orderBy("doc_id", "chunk_idx")
        .as[(Long, Int, Int, Int, Int, Int, Long)].collect().toSeq
      val got = rows(spark.table("chunk_out"))
      val batch = rows(graft.operators.Packing.tokenChunks(
        docs.toDF("doc_id", "text")
          .select(col("doc_id"),
            graft.functions.bpe.encodeIds(col("text"), merges).as("_ids")),
        "doc_id", "_ids", 8, 6))
      assert(batch.nonEmpty && !batch.exists(_._1 == 3L))
      assert(got == batch, "streaming chunks must equal the batch run")
    } finally q.stop()
  }

  test("G17 streaming ingest dedup: verdicts and index growth equal " +
      "the sequential batch loop (probe -> filter survivors -> append)") {
    implicit val sqlCtx = spark.sqlContext
    val docs = sf("documents").select("doc_id", "text")
    val corpus = docs.filter(col("doc_id") % 10 =!= 0 &&
      col("doc_id") % 10 =!= 5)
    val b1 = docs.filter(col("doc_id") % 10 === 0)
    val b2 = docs.filter(col("doc_id") % 10 === 5)
    def bootstrap(): (String, String) = {
      val idx = java.nio.file.Files.createTempDirectory("g17_idx").toString
      val store = java.nio.file.Files.createTempDirectory("g17_doc").toString
      graft.operators.Dedup.buildLshIndex(corpus, "doc_id", "text", idx)
      corpus.write.mode("overwrite").parquet(store)
      (idx, store)
    }
    // reference: the sequential batch ingest loop, two cycles
    val (refIdx, refStore) = bootstrap()
    def refCycle(batch: org.apache.spark.sql.DataFrame)
        : Set[(Long, Boolean, Option[Long])] = {
      val hist = spark.read.parquet(refStore)
      val pairs = graft.operators.Dedup.incrementalMinhashIndexed(
        refIdx, hist, batch, "doc_id", "text").localCheckpoint()
      val dupIds = pairs.select("batch_id").distinct()
        .as[Long].collect().toSet
      val best = pairs.collect()
        .groupBy(_.getAs[Long]("batch_id"))
        .map { case (b, rs) =>
          b -> rs.maxBy(r =>
            (r.getAs[Double]("jaccard"), -r.getAs[Long]("corpus_id")))
            .getAs[Long]("corpus_id") }
      val survivors = batch.filter(!col("doc_id").isin(dupIds.toSeq: _*))
      graft.operators.Dedup.appendToLshIndex(survivors, "doc_id",
        "text", refIdx)
      survivors.write.mode("append").parquet(refStore)
      batch.select("doc_id").as[Long].collect().toSet.map { (id: Long) =>
        (id, dupIds(id), best.get(id)) }
    }
    val want = refCycle(b1) ++ refCycle(b2)
    // stream: same two batches through dedupIngestStream
    val (strIdx, strStore) = bootstrap()
    val input = MemoryStream[(Long, String)]
    val buf = scala.collection.mutable.ArrayBuffer[(Long, Boolean,
      Option[Long])]()
    val w = Streams.dedupIngestStream(
      input.toDF().toDF("doc_id", "text"), "doc_id", "text",
      strIdx, strStore) { (verdict, _) =>
      val rows = verdict.collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Boolean]("is_dup"),
        Option(r.getAs[java.lang.Long]("match_id")).map(_.toLong)))
      buf.synchronized { buf ++= rows }
    }
    val q = w.start()
    try {
      input.addData(b1.as[(Long, String)].collect().toSeq: _*)
      q.processAllAvailable()
      input.addData(b2.as[(Long, String)].collect().toSeq: _*)
      q.processAllAvailable()
      assert(want.exists(_._2) && want.exists(!_._2),
        "fixture should produce both dups and survivors")
      assert(buf.toSet == want,
        s"stream verdicts must equal the sequential loop: " +
          s"${buf.size} vs ${want.size}")
      // the two index layouts hold the same bucket rows
      def bucketRows(dir: String) = spark.read
        .parquet(s"$dir/buckets")
        .select("band", "bkey", "corpus_id")
        .as[(Int, Long, Long)].collect().toSet
      assert(bucketRows(strIdx) == bucketRows(refIdx),
        "stream index must grow exactly like the batch loop's")
      // at-least-once redelivery: a second query with the SAME
      // streamId restarts epoch numbering at 0, exactly like a
      // post-failure re-delivery of an already-committed epoch — the
      // _epochs markers must skip it wholesale: no sink call, no
      // index growth, no doc-store growth
      val filesBefore = bucketRows(strIdx)
      val sizeBefore = buf.size
      val input2 = MemoryStream[(Long, String)]
      val q2 = Streams.dedupIngestStream(
        input2.toDF().toDF("doc_id", "text"), "doc_id", "text",
        strIdx, strStore) { (verdict, _) =>
        buf.synchronized { buf += ((verdict.count(), false, None)) }
      }.start()
      try {
        input2.addData(b1.as[(Long, String)].collect().toSeq: _*)
        q2.processAllAvailable()
        assert(buf.size == sizeBefore,
          "a redelivered committed epoch must not reach the sink")
        assert(bucketRows(strIdx) == filesBefore,
          "a redelivered committed epoch must not mutate the index")
      } finally q2.stop()
      // a NEW logical stream (fresh streamId) over the same index is
      // NOT skipped: its epoch 0 is a genuinely new batch
      val input3 = MemoryStream[(Long, String)]
      val seen3 = new java.util.concurrent.atomic.AtomicLong(-1)
      val q3 = Streams.dedupIngestStream(
        input3.toDF().toDF("doc_id", "text"), "doc_id", "text",
        strIdx, strStore, streamId = "run2") { (verdict, _) =>
        seen3.set(verdict.count())
      }.start()
      try {
        input3.addData(b1.as[(Long, String)].collect().toSeq: _*)
        q3.processAllAvailable()
        // b1's survivors are now history -> every b1 doc is a dup
        assert(seen3.get() == b1.count(),
          "a fresh streamId must process its epoch 0")
      } finally q3.stop()
    } finally q.stop()
  }

  test("G17 + compactLshIndex: compaction between ingest sessions is " +
      "invisible — verdicts and final bucket rows equal the " +
      "uncompacted run, with fewer files") {
    implicit val sqlCtx = spark.sqlContext
    val docs = sf("documents").select("doc_id", "text")
    val corpus = docs.filter(col("doc_id") % 10 =!= 0 &&
      col("doc_id") % 10 =!= 5)
    val b1 = docs.filter(col("doc_id") % 10 === 0)
    val b2 = docs.filter(col("doc_id") % 10 === 5)
    // two identical stream pipelines; one compacts between sessions
    def run(compactBetween: Boolean)
        : (Set[(Long, Boolean, Option[Long])], String) = {
      val idx = java.nio.file.Files.createTempDirectory("g17c_idx").toString
      val store = java.nio.file.Files.createTempDirectory("g17c_doc").toString
      graft.operators.Dedup.buildLshIndex(corpus, "doc_id", "text", idx)
      corpus.write.mode("overwrite").parquet(store)
      val buf = scala.collection.mutable.ArrayBuffer[(Long, Boolean,
        Option[Long])]()
      def session(batch: org.apache.spark.sql.DataFrame,
                  sid: String): Unit = {
        val input = MemoryStream[(Long, String)]
        val q = Streams.dedupIngestStream(
          input.toDF().toDF("doc_id", "text"), "doc_id", "text",
          idx, store, streamId = sid) { (verdict, _) =>
          val rows = verdict.collect().map(r => (r.getAs[Long]("doc_id"),
            r.getAs[Boolean]("is_dup"),
            Option(r.getAs[java.lang.Long]("match_id")).map(_.toLong)))
          buf.synchronized { buf ++= rows }
        }.start()
        try {
          input.addData(batch.as[(Long, String)].collect().toSeq: _*)
          q.processAllAvailable()
        } finally q.stop()
      }
      session(b1, "s1")
      if (compactBetween) {
        // single-writer window: the stream is stopped; maintenance
        // runs, then ingest resumes against the compacted layout
        val (nb, fb, fa) = graft.operators.PersistedStore.compact(
          spark, idx)
        assert(nb > 0 && fa < fb,
          s"bootstrap+append must leave fragmented bands: $nb $fb->$fa")
      }
      session(b2, "s2")
      (buf.toSet, idx)
    }
    val (plainVerdicts, plainIdx) = run(compactBetween = false)
    val (compVerdicts, compIdx) = run(compactBetween = true)
    assert(compVerdicts == plainVerdicts,
      "compaction between sessions must not change any verdict")
    def bucketRows(dir: String) = spark.read.parquet(s"$dir/buckets")
      .select("band", "bkey", "corpus_id")
      .as[(Int, Long, Long)].collect().toSet
    assert(bucketRows(compIdx) == bucketRows(plainIdx),
      "compaction must not change the final bucket rows")
    def nFiles(dir: String): Long = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir, "buckets"))
        .iterator().asScala.count(_.toString.endsWith(".parquet"))
    }
    assert(nFiles(compIdx) < nFiles(plainIdx),
      "the compacted run must carry fewer files into steady state")
  }

  test("G16 streaming index search: the union over micro-batches is " +
      "bit-identical to one batch searchIvfPqIndex over the same queries") {
    implicit val sqlCtx = spark.sqlContext
    val emb = sf("embeddings")
    val dir = java.nio.file.Files.createTempDirectory("g16_idx").toString
    graft.operators.Knn.buildIvfPqIndex(emb, "vec_id", "embedding", dir,
      dim = 64)
    val qrows = emb.filter(col("vec_id") < 10)
      .select("vec_id", "embedding")
      .as[(Long, Seq[Float])].collect().toSeq
    val input = MemoryStream[(Long, Seq[Float])]
    val buf = scala.collection.mutable.ArrayBuffer[String]()
    val w = Streams.indexSearchStream(
      input.toDF().toDF("vec_id", "embedding"), dir, "vec_id",
      "embedding", k = 5, rescoreWith = Some(emb)) { (res, _) =>
      val rows = res.collect().map(_.toString)
      buf.synchronized { buf ++= rows }
    }
    val q = w.start()
    try {
      val (a, b) = qrows.splitAt(4)
      input.addData(a: _*); q.processAllAvailable()
      input.addData(b: _*); q.processAllAvailable()
      val batch = graft.operators.Knn.searchIvfPqIndex(spark, dir,
          emb.filter(col("vec_id") < 10), "vec_id", "embedding",
          dim = 64, k = 5, rescoreWith = Some(emb))
        .collect().map(_.toString)
      assert(batch.nonEmpty, "batch twin returned nothing — bad fixture")
      assert(buf.sorted.toSeq == batch.sorted.toSeq,
        s"stream union (${buf.size}) must equal the batch run " +
          s"(${batch.length})")
    } finally q.stop()
  }

  test("G18 streaming SQ-store search: the union over micro-batches " +
      "is bit-identical to one batch searchSqIndex, across a " +
      "mid-serving crash-swept compaction") {
    implicit val sqlCtx = spark.sqlContext
    val emb = sf("embeddings")
    val dir = java.nio.file.Files.createTempDirectory("g18_sq").toString
    graft.operators.Knn.buildSqIndex(
      emb.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", dir, 64)
    graft.operators.Knn.appendToSqIndex(
      emb.filter(col("vec_id") % 2 === 1), "vec_id", "embedding", dir, 64)
    val qrows = emb.filter(col("vec_id") < 10)
      .select("vec_id", "embedding")
      .as[(Long, Seq[Float])].collect().toSeq
    val batch = graft.operators.Knn.searchSqIndex(spark, dir,
        emb.filter(col("vec_id") < 10), "vec_id", "embedding",
        dim = 64, k = 5, corpus = emb)
      .collect().map(_.toString)
    assert(batch.nonEmpty, "batch twin returned nothing — bad fixture")
    def serve(rows: Seq[(Long, Seq[Float])],
              buf: scala.collection.mutable.ArrayBuffer[String]): Unit = {
      val input = MemoryStream[(Long, Seq[Float])]
      val q = Streams.sqSearchStream(
        input.toDF().toDF("vec_id", "embedding"), dir, "vec_id",
        "embedding", k = 5, corpus = emb) { (res, _) =>
        val out = res.collect().map(_.toString)
        buf.synchronized { buf ++= out }
      }.start()
      try { input.addData(rows: _*); q.processAllAvailable() }
      finally q.stop()
    }
    val buf = scala.collection.mutable.ArrayBuffer[String]()
    val (a, b) = qrows.splitAt(4)
    serve(a, buf)
    // single-writer window between serving sessions: compact — and the
    // next session's open sweep must also absorb a compaction that
    // CRASHED mid-publish (manufactured journal, the
    // StoreMaintenanceSpec frame)
    val (nc, fb, fa) = graft.operators.PersistedStore.compact(spark, dir)
    assert(nc > 0 && fa < fb, s"append must have fragmented: $nc $fb->$fa")
    serve(b, buf)
    assert(buf.sorted.toSeq == batch.sorted.toSeq,
      s"answers must be identical across the compaction: " +
        s"${buf.size} vs ${batch.length}")
  }

  test("G16 + compactIvfPqIndex: compaction between serving sessions " +
      "is invisible — the stream's answers equal the uncompacted " +
      "batch run over the appended store") {
    implicit val sqlCtx = spark.sqlContext
    val emb = sf("embeddings")
    val dir = java.nio.file.Files.createTempDirectory("g16c_idx").toString
    graft.operators.Knn.buildIvfPqIndex(
      emb.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", dir,
      dim = 64)
    graft.operators.Knn.appendToIvfPqIndex(
      emb.filter(col("vec_id") % 2 === 1), "vec_id", "embedding", dir,
      dim = 64)
    val qrows = emb.filter(col("vec_id") < 10)
      .select("vec_id", "embedding")
      .as[(Long, Seq[Float])].collect().toSeq
    // the reference answers come from the FRAGMENTED store
    val batch = graft.operators.Knn.searchIvfPqIndex(spark, dir,
        emb.filter(col("vec_id") < 10), "vec_id", "embedding",
        dim = 64, k = 5, rescoreWith = Some(emb))
      .collect().map(_.toString)
    def serve(rows: Seq[(Long, Seq[Float])],
              buf: scala.collection.mutable.ArrayBuffer[String]): Unit = {
      val input = MemoryStream[(Long, Seq[Float])]
      val q = Streams.indexSearchStream(
        input.toDF().toDF("vec_id", "embedding"), dir, "vec_id",
        "embedding", k = 5, rescoreWith = Some(emb)) { (res, _) =>
        val out = res.collect().map(_.toString)
        buf.synchronized { buf ++= out }
      }.start()
      try { input.addData(rows: _*); q.processAllAvailable() }
      finally q.stop()
    }
    val buf = scala.collection.mutable.ArrayBuffer[String]()
    val (a, b) = qrows.splitAt(4)
    serve(a, buf)
    // single-writer window between serving sessions: compact, then a
    // fresh stream serves the rest off the one-file-per-cell layout
    val (nc, fb, fa) = graft.operators.PersistedStore.compact(spark, dir)
    assert(nc > 0 && fa < fb, s"append must have fragmented: $nc $fb->$fa")
    serve(b, buf)
    assert(buf.sorted.toSeq == batch.sorted.toSeq,
      s"answers must be identical across the compaction: " +
        s"${buf.size} vs ${batch.length}")
  }

  test("G19 vectorIngestStream: verdicts and final store equal the " +
      "sequential probe+append cycle, survivors feed history, " +
      "redelivered epochs are skipped wholesale — both store layouts") {
    implicit val sqlCtx = spark.sqlContext
    val emb = sf("embeddings")
    val corpus = emb.filter(col("vec_id") % 2 === 0)
      .select("vec_id", "embedding")
    // b1: 5 EXACT copies of corpus vectors (re-keyed 10000+) + 5
    // genuinely new odd vectors (re-keyed 11000+); b2: copies of b1's
    // SURVIVORS (20000+ — dup only if b1's appends became history) +
    // 3 fresh odd vectors (13000+)
    def rekey(src: org.apache.spark.sql.DataFrame, base: Long,
              n: Int): Seq[(Long, Seq[Float])] =
      src.orderBy("vec_id").limit(n)
        .select("vec_id", "embedding").as[(Long, Seq[Float])]
        .collect().toSeq.zipWithIndex
        .map { case ((_, v), i) => (base + i, v) }
    val odds = emb.filter(col("vec_id") % 2 === 1)
    val b1 = rekey(corpus, 10000L, 5) ++ rekey(odds, 11000L, 5)
    // fresh = NEGATED odd vectors: cosine -1 to their source and far
    // from everything else (the fixture corpus has exact-dup classes,
    // so an unseen fixture vector is NOT guaranteed fresh)
    val b2 = rekey(odds, 20000L, 5) ++
      rekey(odds, 13000L, 3).map { case (id, v) => (id, v.map(-_)) }
    val wantDup1 = (10000L to 10004L).toSet
    val wantDup2 = (20000L to 20004L).toSet
    for (store <- Seq("ivfpq", "sq")) {
      def bootstrap(): (String, String) = {
        val idx = java.nio.file.Files
          .createTempDirectory(s"g19_${store}_i").toString
        val vst = java.nio.file.Files
          .createTempDirectory(s"g19_${store}_v").toString
        if (store == "sq")
          graft.operators.Knn.buildSqIndex(corpus, "vec_id",
            "embedding", idx, dim = 64)
        else
          graft.operators.Knn.buildIvfPqIndex(corpus, "vec_id",
            "embedding", idx, dim = 64)
        corpus.write.mode("overwrite").parquet(vst)
        (idx, vst)
      }
      // sequential reference: the probe+threshold+append cycle via
      // the operator verbs, no stream machinery
      def refCycle(idx: String, vst: String,
                   rows: Seq[(Long, Seq[Float])])
          : Set[(Long, Boolean, Option[Long])] = {
        val batch = rows.toDF("vec_id", "embedding")
        val vecStore = spark.read.parquet(vst)
        val hits = (if (store == "sq")
            graft.operators.Knn.searchSqIndex(spark, idx, batch,
              "vec_id", "embedding", 64, 4, corpus = vecStore)
          else graft.operators.Knn.searchIvfPqIndex(spark, idx, batch,
            "vec_id", "embedding", 64, 4, rescoreWith = Some(vecStore)))
          .filter(col("cosine") >= 0.995).collect()
        val best = hits.groupBy(_.getAs[Long]("query_id")).map {
          case (q, rs) => q -> rs.maxBy(r =>
            (r.getAs[Double]("cosine"), -r.getAs[Long]("neighbor_id")))
            .getAs[Long]("neighbor_id")
        }
        val survivors = rows.filter(r => !best.contains(r._1))
          .toDF("vec_id", "embedding").localCheckpoint()
        if (store == "sq")
          graft.operators.Knn.appendToSqIndex(survivors, "vec_id",
            "embedding", idx, 64)
        else graft.operators.Knn.appendToIvfPqIndex(survivors, "vec_id",
          "embedding", idx, 64)
        survivors.write.mode("append").parquet(vst)
        rows.map(r => (r._1, best.contains(r._1), best.get(r._1))).toSet
      }
      val (refIdx, refVst) = bootstrap()
      val want = refCycle(refIdx, refVst, b1) ++ refCycle(refIdx, refVst, b2)
      // the fixture must actually exercise both classes
      assert(want.filter(_._2).map(_._1) == wantDup1 ++ wantDup2,
        s"$store: expected exactly the re-keyed copies to be dups: " +
          want.filter(_._2))
      // stream run
      val (idx, vst) = bootstrap()
      val input = MemoryStream[(Long, Seq[Float])]
      val buf = scala.collection.mutable
        .ArrayBuffer[(Long, Boolean, Option[Long])]()
      val q = Streams.vectorIngestStream(
        input.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
        idx, vst) { (verdict, _) =>
        val rows = verdict.collect().map(r => (r.getAs[Long]("vec_id"),
          r.getAs[Boolean]("is_dup"),
          Option(r.getAs[java.lang.Long]("match_id")).map(_.toLong)))
        buf.synchronized { buf ++= rows }
      }.start()
      try {
        input.addData(b1: _*); q.processAllAvailable()
        input.addData(b2: _*); q.processAllAvailable()
        assert(buf.toSet == want,
          s"$store: stream verdicts must equal the sequential cycle")
        // the two stores hold the same code rows
        def codeIds(d: String) = spark.read.parquet(s"$d/codes")
          .select("neighbor_id").as[Long].collect().sorted.toSeq
        assert(codeIds(idx) == codeIds(refIdx),
          s"$store: stream index must grow exactly like the batch loop")
        // redelivery: a second query with the SAME streamId restarts
        // at epoch 0 — markers must skip it (no sink, no growth)
        val before = codeIds(idx)
        val sizeBefore = buf.size
        val input2 = MemoryStream[(Long, Seq[Float])]
        val q2 = Streams.vectorIngestStream(
          input2.toDF().toDF("vec_id", "embedding"), "vec_id",
          "embedding", idx, vst) { (verdict, _) =>
          buf.synchronized { buf += ((verdict.count(), false, None)) }
        }.start()
        try {
          input2.addData(b1: _*); q2.processAllAvailable()
          assert(buf.size == sizeBefore,
            s"$store: a redelivered committed epoch must not sink")
          assert(codeIds(idx) == before,
            s"$store: a redelivered committed epoch must not append")
        } finally q2.stop()
      } finally q.stop()
    }
  }

  test("G21 decontaminateFuzzyStream: per-doc verdicts equal the batch " +
      "operator whatever the micro-batch split, clean docs annotated") {
    implicit val sqlCtx = spark.sqlContext
    val docs = sf("documents")
    val isEval = col("doc_id") % 7 === 0 && col("doc_id") < 50000
    val evalSet = docs.filter(isEval)
    val train = docs.filter(!isEval)
    val idx = java.nio.file.Files.createTempDirectory("g21_idx").toString
    graft.operators.Dedup.buildLshIndex(evalSet, "doc_id", "text", idx)
    // batch reference: the C12c operator over the full train side
    val want = graft.operators.Dedup.decontaminateFuzzy(train, evalSet,
        "doc_id", "text")
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, true, r._2, Option(r._3))).toSet
    assert(want.nonEmpty, "fixture must contain cross-set near-dups")
    val rows = train.select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().toSeq
    val buf = scala.collection.mutable
      .ArrayBuffer[(Long, Boolean, Long, Option[Double])]()
    val input = MemoryStream[(Long, String)]
    val q = Streams.decontaminateFuzzyStream(
      input.toDF().toDF("doc_id", "text"), idx, evalSet, "doc_id",
      "text") { (verdict, _) =>
      val got = verdict.collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Boolean]("is_contaminated"),
        r.getAs[Long]("n_eval_matches"),
        Option(r.getAs[java.lang.Double]("max_jaccard")).map(_.toDouble)))
      buf.synchronized { buf ++= got }
    }.start()
    try {
      val (b1, b2) = rows.splitAt(rows.length / 3)
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    assert(buf.size == rows.size, "one verdict per streamed doc")
    assert(buf.filter(_._2).toSet == want,
      "streamed contamination verdicts must equal the batch operator")
    assert(buf.filter(!_._2).forall(r => r._3 == 0L && r._4.isEmpty),
      "clean docs carry a zero-match annotation")
  }

  test("G20 maintenanceStream: each tick applies the advisor's action " +
      "(repair before compact), the loop converges to ok, and store " +
      "contents survive the maintenance") {
    implicit val sqlCtx = spark.sqlContext
    val emb = sf("embeddings")
    val docs = sf("documents")
    // SQ: grid trained on the FULL corpus (zero drift), then a
    // re-keyed append fragments the store with small files
    val sq = java.nio.file.Files.createTempDirectory("g20_sq").toString
    graft.operators.Knn.buildSqIndex(emb, "vec_id", "embedding", sq, 64)
    graft.operators.Knn.appendToSqIndex(
      emb.limit(20).withColumn("vec_id", col("vec_id") + 100000L),
      "vec_id", "embedding", sq, 64)
    val nCodes = spark.read.parquet(s"$sq/codes").count()
    val sqLog = scala.collection.mutable
      .ArrayBuffer[(Long, String, Boolean)]()
    val sqTicks = MemoryStream[Int]
    val sqQ = Streams.maintenanceStream(sqTicks.toDF(), sq,
        corpus = Some(emb)) { (report, _) =>
      val rows = report.select("epoch", "action", "applied")
        .as[(Long, String, Boolean)].collect()
      sqLog.synchronized { sqLog ++= rows }
    }.start()
    try {
      sqTicks.addData(1); sqQ.processAllAvailable()
      sqTicks.addData(2); sqQ.processAllAvailable()
    } finally sqQ.stop()
    assert(sqLog.map(r => (r._2, r._3)).toSeq ==
      Seq(("compact", true), ("ok", false)),
      s"sq babysitter must compact then idle: $sqLog")
    assert(spark.read.parquet(s"$sq/codes").count() == nCodes,
      "maintenance must not lose a code row")
    // LSH: a crashed-purge dup injection — the advisor's precedence
    // says repair FIRST (the injected files also fragment band=1, so
    // a later tick may compact), then the loop idles at ok
    val lsh = java.nio.file.Files.createTempDirectory("g20_lsh").toString
    graft.operators.Dedup.buildLshIndex(docs, "doc_id", "text", lsh)
    Seq((4321L, 7777L, 1), (4321L, 7777L, 1))
      .toDF("bkey", "corpus_id", "band")
      .write.mode("append").partitionBy("band").parquet(s"$lsh/buckets")
    val lshLog = scala.collection.mutable
      .ArrayBuffer[(Long, String, Boolean)]()
    val lshTicks = MemoryStream[Int]
    val lshQ = Streams.maintenanceStream(lshTicks.toDF(), lsh) {
      (report, _) =>
        val rows = report.select("epoch", "action", "applied")
          .as[(Long, String, Boolean)].collect()
        lshLog.synchronized { lshLog ++= rows }
    }.start()
    try {
      (1 to 4).foreach { i =>
        lshTicks.addData(i); lshQ.processAllAvailable()
      }
    } finally lshQ.stop()
    val actions = lshLog.map(r => (r._2, r._3)).toSeq
    assert(actions.head == ("repair", true),
      s"corruption must be repaired before anything else: $actions")
    assert(actions.last == ("ok", false) &&
      actions.forall { case (a, ap) =>
        (a == "ok") == !ap && Set("repair", "compact", "ok")(a) },
      s"the loop must converge to ok, applying only real actions: $actions")
    assert(graft.operators.PersistedStore.fsck(spark, lsh).collect()
      .forall(_.getAs[Boolean]("ok")), "the babysat store must end green")
    // the injected garbage is gone, every real doc's keys survive
    assert(spark.read.parquet(s"$lsh/buckets")
      .filter(col("corpus_id") === 7777L).count() == 0)
    assert(spark.read.parquet(s"$lsh/buckets")
      .select(countDistinct(col("corpus_id"))).as[Long].head() ==
      docs.count())
  }

  test("G20 backupBefore: a repair tick snapshots the PRE-repair store " +
      "first, the snapshot verifies green and restores the pre-surgery " +
      "state; non-repair ticks snapshot nothing") {
    implicit val sqlCtx = spark.sqlContext
    val docs = sf("documents")
    val lsh = java.nio.file.Files.createTempDirectory("g20b_lsh").toString
    graft.operators.Dedup.buildLshIndex(docs, "doc_id", "text", lsh)
    // inject the crashed-purge dup the advisor flags as repair-worthy
    Seq((4321L, 7777L, 1), (4321L, 7777L, 1))
      .toDF("bkey", "corpus_id", "band")
      .write.mode("append").partitionBy("band").parquet(s"$lsh/buckets")
    val parent = java.nio.file.Files.createTempDirectory("g20b_snap")
      .toString
    // a PARTIAL snapshot (crashed mid-backup: files, no manifest) for
    // the first epoch must be swept and re-snapshotted, never accepted
    // as the pre-repair copy (completion test = the manifest, written
    // last)
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$parent/pre_repair_epoch_0"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$parent/pre_repair_epoch_0/garbage.bin"),
      "torn".getBytes("UTF-8"))
    val log = scala.collection.mutable.ArrayBuffer[(String, Boolean)]()
    val ticks = MemoryStream[Int]
    val q = Streams.maintenanceStream(ticks.toDF(), lsh,
        backupBefore = Some(parent)) { (report, _) =>
      val rows = report.select("action", "applied")
        .as[(String, Boolean)].collect()
      log.synchronized { log ++= rows }
    }.start()
    try {
      (1 to 3).foreach { i => ticks.addData(i); q.processAllAvailable() }
    } finally q.stop()
    assert(log.head == ("repair", true) && log.last == ("ok", false),
      s"repair then converge: $log")
    // exactly the repair ticks snapshotted — the ok ticks must not
    val snaps = graft.operators.StoreMaintenance
      .listStoreBackups(spark, parent).collect()
    assert(snaps.length == log.count(_._1 == "repair"),
      s"one snapshot per repair tick: ${snaps.toSeq} vs $log")
    val snapName = snaps.head.getAs[String]("snapshot")
    assert(snapName.startsWith("pre_repair_epoch_"))
    assert(snaps.forall(_.getAs[Boolean]("verify_ok")),
      "the pre-repair snapshot must verify green")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(
      s"$parent/pre_repair_epoch_0/garbage.bin")),
      "a partial (manifest-less) snapshot dir must be swept, not " +
        "accepted as the pre-repair copy")
    // the snapshot holds the PRE-repair state: restoring it brings the
    // injected rows BACK — the escape hatch a wrong repair needs
    val restored = java.nio.file.Files.createTempDirectory("g20b_rest")
      .toString + "/store"
    graft.operators.StoreMaintenance.restoreStore(spark,
      s"$parent/$snapName", restored)
    assert(spark.read.parquet(s"$restored/buckets")
      .filter(col("corpus_id") === 7777L).count() == 2,
      "snapshot must be the pre-surgery state, injected rows included")
    assert(spark.read.parquet(s"$lsh/buckets")
      .filter(col("corpus_id") === 7777L).count() == 0,
      "the live store stays repaired")
  }

  test("G20 keepBackups: auto-retention after each repair keeps the " +
      "newest N snapshots; the survivor is green and restorable") {
    implicit val sqlCtx = spark.sqlContext
    val docs = sf("documents")
    val lsh = java.nio.file.Files.createTempDirectory("g20r_lsh").toString
    graft.operators.Dedup.buildLshIndex(docs, "doc_id", "text", lsh)
    val parent = java.nio.file.Files.createTempDirectory("g20r_snap")
      .toString
    def inject(): Unit = {
      Seq((4321L, 7777L, 1), (4321L, 7777L, 1))
        .toDF("bkey", "corpus_id", "band")
        .write.mode("append").partitionBy("band").parquet(s"$lsh/buckets")
      spark.catalog.refreshByPath(s"$lsh/buckets")
    }
    val log = scala.collection.mutable.ArrayBuffer[(Long, String)]()
    val ticks = MemoryStream[Int]
    val q = Streams.maintenanceStream(ticks.toDF(), lsh,
        backupBefore = Some(parent), keepBackups = 1) { (report, _) =>
      val rows = report.select("epoch", "action")
        .as[(Long, String)].collect()
      log.synchronized { log ++= rows }
    }.start()
    try {
      inject()
      ticks.addData(1); q.processAllAvailable() // repair 1 (+snapshot)
      inject()
      ticks.addData(2); q.processAllAvailable() // repair 2 (+snapshot)
      ticks.addData(3); q.processAllAvailable() // converge
    } finally q.stop()
    val repairs = log.filter(_._2 == "repair").map(_._1)
    assert(repairs.length == 2, s"two repair cycles expected: $log")
    val snaps = graft.operators.StoreMaintenance
      .listStoreBackups(spark, parent).collect()
    assert(snaps.length == 1,
      s"keepBackups=1 must retain exactly the newest snapshot: " +
        s"${snaps.toSeq}")
    assert(snaps.head.getAs[String]("snapshot") ==
      s"pre_repair_epoch_${repairs.max}", "the survivor is the newest")
    assert(snaps.head.getAs[Boolean]("verify_ok"),
      "the retained snapshot must verify green")
  }

  test("G20 incrementalBackups: the second repair's snapshot chains " +
      "on the first (delta copied, rest carried), retention keeps the " +
      "base as the chain's physical holder, and the incremental " +
      "restores the full pre-repair state") {
    implicit val sqlCtx = spark.sqlContext
    val docs = sf("documents")
    val lsh = java.nio.file.Files.createTempDirectory("g20i_lsh").toString
    graft.operators.Dedup.buildLshIndex(docs, "doc_id", "text", lsh)
    val parent = java.nio.file.Files.createTempDirectory("g20i_snap")
      .toString
    def inject(): Unit = {
      Seq((4321L, 7777L, 1), (4321L, 7777L, 1))
        .toDF("bkey", "corpus_id", "band")
        .write.mode("append").partitionBy("band").parquet(s"$lsh/buckets")
      spark.catalog.refreshByPath(s"$lsh/buckets")
    }
    val log = scala.collection.mutable.ArrayBuffer[(Long, String)]()
    val ticks = MemoryStream[Int]
    val q = Streams.maintenanceStream(ticks.toDF(), lsh,
        backupBefore = Some(parent), keepBackups = 1,
        incrementalBackups = true) { (report, _) =>
      val rows = report.select("epoch", "action")
        .as[(Long, String)].collect()
      log.synchronized { log ++= rows }
    }.start()
    try {
      inject()
      ticks.addData(1); q.processAllAvailable() // repair 1: full snap
      inject()
      ticks.addData(2); q.processAllAvailable() // repair 2: incremental
    } finally q.stop()
    val repairs = log.filter(_._2 == "repair").map(_._1).sorted
    assert(repairs.length == 2, s"two repair cycles expected: $log")
    val snapA = s"$parent/pre_repair_epoch_${repairs.head}"
    val snapB = s"$parent/pre_repair_epoch_${repairs.last}"
    // snapshot B chained on A: carried rows present, strictly fewer
    // physical files than manifested files
    val mB = spark.read.parquet(s"$snapB/_backup_manifest/*.parquet")
    val carried = mB.filter(col("src").isNotNull).count()
    assert(carried > 0, "the unchanged bands must carry by reference")
    // retention keep=1 ran inside the stream: A survives only as B's
    // physical holder
    val cat = graft.operators.StoreMaintenance
      .listStoreBackups(spark, parent).collect()
    assert(cat.map(_.getAs[String]("snapshot")).toSet ==
      Set(s"pre_repair_epoch_${repairs.head}",
        s"pre_repair_epoch_${repairs.last}"),
      s"keep=1 retains the newest AND its physical holder: ${cat.toSeq}")
    assert(cat.forall(_.getAs[Boolean]("verify_ok")),
      "both chain members verify green")
    // the incremental restores the full pre-repair-2 state: the
    // injected rows are back, plus every real doc's keys
    val restored = java.nio.file.Files.createTempDirectory("g20i_rest")
      .toString + "/store"
    graft.operators.StoreMaintenance.restoreStore(spark, snapB, restored)
    assert(spark.read.parquet(s"$restored/buckets")
      .filter(col("corpus_id") === 7777L).count() == 2,
      "pre-repair-2 state restored from the chain")
    assert(spark.read.parquet(s"$restored/buckets")
      .select(countDistinct(col("corpus_id"))).as[Long].head() ==
      docs.count() + 1)
  }

  test("G20 restore drill: babysitter ticks snapshot (incremental, " +
      "green-chained) then repair quarantines; restoring the newest " +
      "pre-repair snapshot serves searchIvfPqIndex results " +
      "byte-identical to the pre-corruption run — the whole 3am loop") {
    implicit val sqlCtx = spark.sqlContext
    val emb = sf("embeddings")
    val dir = java.nio.file.Files.createTempDirectory("g20d_idx")
      .toString
    graft.operators.Knn.buildIvfPqIndex(emb, "vec_id", "embedding",
      dir, dim = 64)
    val queries = emb.filter(col("vec_id") < 8)
    def search(d: String): Seq[String] =
      graft.operators.Knn.searchIvfPqIndex(spark, d, queries, "vec_id",
          "embedding", dim = 64, k = 5, rescoreWith = Some(emb))
        .collect().map(_.toString).sorted.toSeq
    val want = search(dir)
    assert(want.nonEmpty, "bad fixture: no search results")
    // orphan-cell corruption (a torn append's partition with no coarse
    // centroid): fsck-visible, search-INVISIBLE — no probe ever opens
    // an unknown cell — but repair QUARANTINES it, which is exactly
    // why the babysitter snapshots first. Re-append a real code row
    // under a new id so the injected file matches the store's schema.
    def inject(cell: Int): Unit = {
      spark.read.parquet(s"$dir/codes").limit(1)
        .withColumn("neighbor_id", lit(990000L + cell))
        .drop("cell_id")
        .write.mode("append").parquet(s"$dir/codes/cell_id=$cell")
      spark.catalog.refreshByPath(s"$dir/codes")
    }
    inject(9999)
    assert(!graft.operators.PersistedStore.fsck(spark, dir).collect()
      .forall(_.getAs[Boolean]("ok")), "the damage must register")
    assert(search(dir) == want,
      "premise: an orphan cell must not change any answer")
    val parent = java.nio.file.Files.createTempDirectory("g20d_snap")
      .toString
    val log = scala.collection.mutable.ArrayBuffer[(String, Boolean)]()
    val ticks = MemoryStream[Int]
    val q = Streams.maintenanceStream(ticks.toDF(), dir,
        corpus = Some(emb), maxFilesPerPartition = 64,
        backupBefore = Some(parent), incrementalBackups = true) {
      (report, _) =>
        val rows = report.select("action", "applied")
          .as[(String, Boolean)].collect()
        log.synchronized { log ++= rows }
    }.start()
    try {
      ticks.addData(1); q.processAllAvailable() // repair 1: full snap
      inject(9998)
      ticks.addData(2); q.processAllAvailable() // repair 2: incremental
      ticks.addData(3); q.processAllAvailable() // converge
    } finally q.stop()
    assert(log.toSeq == Seq(("repair", true), ("repair", true),
      ("ok", false)), s"two repairs then convergence: $log")
    // the live store is green and still serves the original answers
    assert(graft.operators.PersistedStore.fsck(spark, dir).collect()
      .forall(_.getAs[Boolean]("ok")), "babysat store ends green")
    assert(search(dir) == want, "repair must not change answers")
    // the catalog an operator reads at 3am: newest snapshot is a
    // green-chained incremental whose chain is intact
    val cat = graft.operators.StoreMaintenance
      .listStoreBackups(spark, parent).collect()
    assert(cat.length == 2, s"one snapshot per repair tick: ${cat.toSeq}")
    val newest = cat.head
    assert(newest.getAs[Long]("carried_files") > 0L,
      s"the second snapshot must chain on the first: $newest")
    assert(newest.getAs[Boolean]("chain_ok") &&
      newest.getAs[Boolean]("verify_ok"), s"restorable: $newest")
    // restore it elsewhere: the pre-repair state serves BYTE-IDENTICAL
    // results to the pre-corruption run (the quarantined orphan was
    // unreachable by any probe)
    val restored = java.nio.file.Files.createTempDirectory("g20d_rest")
      .toString + "/store"
    graft.operators.StoreMaintenance.restoreStore(spark,
      s"$parent/${newest.getAs[String]("snapshot")}", restored)
    assert(search(restored) == want,
      "the restored pre-repair store must answer exactly like the " +
        "pre-corruption store")
    // and the drill's last mile: repairing the restored copy
    // re-converges it to a green store with the same answers
    graft.operators.PersistedStore.repair(spark, restored)
    assert(graft.operators.PersistedStore.fsck(spark, restored).collect()
      .forall(_.getAs[Boolean]("ok")))
    assert(search(restored) == want)
  }

  test("G17 / G19 ingest streams free their per-epoch checkpoints: " +
      "after 3 epochs of each, the session's persisted-RDD count is back " +
      "to its pre-stream value") {
    implicit val sqlCtx = spark.sqlContext
    val sc = spark.sparkContext
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    // vectors: an SQ store over the even half, odd batches stream in
    val emb = sf("embeddings")
    val corpus = emb.filter(col("vec_id") % 2 === 0)
      .select("vec_id", "embedding")
    val (idx, vst) = (tmp("leak_vi"), tmp("leak_vv"))
    graft.operators.Knn.buildSqIndex(corpus, "vec_id", "embedding", idx,
      dim = 64)
    corpus.write.mode("overwrite").parquet(vst)
    val odds = emb.filter(col("vec_id") % 2 === 1).orderBy("vec_id")
      .select("vec_id", "embedding").as[(Long, Seq[Float])].collect().toSeq
    val vBefore = sc.getPersistentRDDs.size
    val vin = MemoryStream[(Long, Seq[Float])]
    val vq = Streams.vectorIngestStream(vin.toDF().toDF("vec_id",
        "embedding"), "vec_id", "embedding", idx, vst) {
      (v, _) => v.collect()
    }.start()
    try (0 until 3).foreach { i =>
      vin.addData(odds.slice(i * 5, i * 5 + 5): _*)
      vq.processAllAvailable()
    } finally vq.stop()
    assert(sc.getPersistentRDDs.size == vBefore,
      s"vectorIngestStream leaked ${sc.getPersistentRDDs.size - vBefore} " +
        "persisted RDDs over 3 epochs")
    // docs: an LSH store over a quarter of the corpus, a tenth streams in
    val docs = sf("documents").select("doc_id", "text")
    val hist = docs.filter(col("doc_id") % 4 === 1)
    val (lidx, dst) = (tmp("leak_di"), tmp("leak_dd"))
    graft.operators.Dedup.buildLshIndex(hist, "doc_id", "text", lidx)
    hist.write.mode("overwrite").parquet(dst)
    val fresh = docs.filter(col("doc_id") % 10 === 0).orderBy("doc_id")
      .as[(Long, String)].collect().toSeq
    val per = math.max(1, fresh.size / 3)
    val dBefore = sc.getPersistentRDDs.size
    val din = MemoryStream[(Long, String)]
    val dq = Streams.dedupIngestStream(din.toDF().toDF("doc_id", "text"),
        "doc_id", "text", lidx, dst) { (v, _) => v.collect() }.start()
    try (0 until 3).foreach { i =>
      din.addData(fresh.slice(i * per, i * per + per): _*)
      dq.processAllAvailable()
    } finally dq.stop()
    assert(sc.getPersistentRDDs.size == dBefore,
      s"dedupIngestStream leaked ${sc.getPersistentRDDs.size - dBefore} " +
        "persisted RDDs over 3 epochs")
  }

}
