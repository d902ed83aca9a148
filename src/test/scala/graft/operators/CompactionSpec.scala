package graft.operators

import java.nio.file.Files

import graft.SparkSpec
import graft.sources.HFile
import org.apache.spark.sql.functions._

class CompactionSpec extends SparkSpec {
  import spark.implicits._

  private val P = HFile.KeyTypePut.toInt
  private val D = HFile.KeyTypeDelete.toInt
  private val DC = HFile.KeyTypeDeleteColumn.toInt
  private val DF = HFile.KeyTypeDeleteFamily.toInt

  private def cellsDf(rows: Seq[(Array[Byte], String, String, Long, Array[Byte], Int)]) =
    rows.toDF("rowkey", "family", "qualifier", "ts", "value", "key_type")

  private def k(b: Int) = Array(b.toByte)
  private def v(b: Int) = Array(b.toByte)

  test("marker semantics: Delete exact-ts, DeleteColumn <=ts, DeleteFamily <=ts") {
    val cells = cellsDf(Seq(
      // row 1, f:q — versions at ts 1,2,3; Delete(2) masks ONLY ts=2
      (k(1), "f", "q", 1L, v(11), P),
      (k(1), "f", "q", 2L, v(12), P),
      (k(1), "f", "q", 3L, v(13), P),
      (k(1), "f", "q", 2L, Array.emptyByteArray, D),
      // row 2, f:q — DeleteColumn(2) masks ts<=2, keeps ts=3
      (k(2), "f", "q", 1L, v(21), P),
      (k(2), "f", "q", 2L, v(22), P),
      (k(2), "f", "q", 3L, v(23), P),
      (k(2), "f", "q", 2L, Array.emptyByteArray, DC),
      // row 3 — DeleteFamily(5) masks both columns' ts<=5, keeps ts=6
      (k(3), "f", "a", 4L, v(31), P),
      (k(3), "f", "b", 5L, v(32), P),
      (k(3), "f", "b", 6L, v(33), P),
      (k(3), "f", "", 5L, Array.emptyByteArray, DF),
      // row 3 other family untouched by f's DeleteFamily
      (k(3), "g", "a", 1L, v(34), P),
      // row 4 — marker at ts=0 masks nothing above ts 0
      (k(4), "f", "q", 1L, v(41), P),
      (k(4), "f", "", 0L, Array.emptyByteArray, DF)))
    val got = Compaction.applyDeletes(cells)
      .select(hex(col("rowkey")).as("r"), col("family"), col("qualifier"),
        col("ts"))
      .as[(String, String, String, Long)].collect().toSet
    assert(got == Set(
      ("01", "f", "q", 1L), ("01", "f", "q", 3L),
      ("02", "f", "q", 3L),
      ("03", "f", "b", 6L), ("03", "g", "a", 1L),
      ("04", "f", "q", 1L)))
  }

  test("retainVersions keeps the n newest and collapses exact-key dups") {
    val puts = cellsDf(Seq(
      (k(1), "f", "q", 1L, v(1), P),
      (k(1), "f", "q", 2L, v(2), P),
      (k(1), "f", "q", 3L, v(3), P),
      // same full key twice: unsigned-max value survives, once
      (k(1), "f", "q", 3L, v(9), P)))
      .withColumn("bucket", lit(0))
    val got = Compaction.retainVersions(puts, versions = 2)
      .select(col("ts"), col("value"))
      .as[(Long, Array[Byte])].collect().sortBy(_._1)
    assert(got.map(_._1).toSeq == Seq(2L, 3L))
    assert(got.last._2.sameElements(v(9)))
  }

  test("lifecycle: upsert/delete mutations -> bulk marker HFiles -> " +
      "compact -> keyed lookup (the reference's full story)") {
    import graft.functions.{hb, BytesCodec}
    import graft.model.{HColumn, HTableSchema}
    import org.apache.spark.sql.types.{LongType, StringType}
    val schema = HTableSchema(
      rowKey = Seq("id"),
      columns = Seq(
        HColumn("f", "a", "colA", LongType),
        HColumn("f", "b", "colB", StringType)))
    // batch 1: 30 inserts at ts=100; batch 2: updates (ids 1-10, ts=200)
    // and row deletes (ids % 5 == 0, ts=300)
    val inserts = (1 to 30).map(i =>
      (i.toLong, i * 10L, s"v$i", "I", 100L))
    val updates = (1 to 10).map(i =>
      (i.toLong, i * 100L, s"w$i", "U", 200L))
    val deletes = (1 to 30).filter(_ % 5 == 0).map(i =>
      (i.toLong, 0L, "", "D", 300L))
    val rows = (inserts ++ updates ++ deletes)
      .toDF("id", "colA", "colB", "row_kind", "ts")
    val typed = Mutations.toTypedCells(
      Mutations.toMutations(rows, schema, tsCol = Some("ts")),
      schema, tsCol = Some("ts"))
    val prepared = BulkLoad.prepare(typed, buckets = 2, numPartitions = 2)
    val in = Files.createTempDirectory("lifecycle_in").toString
    BulkLoad.writeHFiles(prepared, in, tsCol = Some("ts"),
      typeCol = Some("key_type"), blockSize = 512)

    val out = Files.createTempDirectory("lifecycle_out").toString
    Compaction.compact(spark, in, out, versions = 1, numPartitions = 2)
    val back = BulkLoad.readHFiles(spark, out)

    // deleted rows are gone entirely; survivors: 24 ids x 2 qualifiers
    assert(back.count() == 48)
    assert(back.filter(col("key_type") =!= P).count() == 0)
    // updated ids carry the ts=200 version, untouched ids the ts=100 one
    val ts7 = back.filter(hex(col("rowkey")).endsWith("0007") &&
      col("qualifier") === "a").select("ts").as[Long].collect()
    assert(ts7.toSeq == Seq(200L))
    val ts20v = back.filter(hex(col("rowkey")).endsWith("0014") &&
      col("qualifier") === "a").count()
    assert(ts20v == 0) // id 20 was deleted

    // keyed lookup straight off the compacted dir: updated id found with
    // the new value, deleted id absent
    def saltedKey(id: Long): Array[Byte] = {
      val rk = BytesCodec.encodeLong(id)
      val b = math.abs(java.util.Arrays.hashCode(rk) % 2)
      BytesCodec.encodeShort(b.toShort) ++ rk
    }
    val keysDf = Seq(saltedKey(7L), saltedKey(10L)).toDF("rowkey")
    val got = BulkLoad.multiGet(spark, out, keysDf)
    assert(got.count() == 2) // id 7's two qualifiers; id 10 nothing
    val a7 = got.filter(col("qualifier") === "a")
      .select("value").as[Array[Byte]].head()
    assert(BytesCodec.decodeLong(a7) == 700L) // the ts=200 update value
  }

  test("compactEpochs: 3 overlapping epoch runs fold into one, " +
      "latest epoch wins identical coordinates") {
    val dir = Files.createTempDirectory("epochs").toString
    // all cells at ts=0, like a bulkLoadStream sink with tsCol=None —
    // identical coordinates across epochs resolve by epoch, not value
    def writeEpoch(e: Int,
                   rows: Seq[(Array[Byte], String, String, Array[Byte], Int)]): Unit = {
      val prepared = BulkLoad.prepare(
        rows.toDF("rowkey", "family", "qualifier", "value", "key_type"),
        buckets = 2, numPartitions = 2)
      BulkLoad.writeHFiles(prepared, s"$dir/epoch=$e",
        typeCol = Some("key_type"))
    }
    // epoch 0: A=a0, B=b0   epoch 1: A=zz (re-put), delete B
    // epoch 2: A=aa (re-put; LEX-SMALLER than zz), C=c2
    writeEpoch(0, Seq((k(1), "f", "q", "a0".getBytes, P),
      (k(2), "f", "q", "b0".getBytes, P)))
    writeEpoch(1, Seq((k(1), "f", "q", "zz".getBytes, P),
      (k(2), "f", "q", Array.emptyByteArray, D)))
    writeEpoch(2, Seq((k(1), "f", "q", "aa".getBytes, P),
      (k(3), "f", "q", "c2".getBytes, P)))

    val out = Files.createTempDirectory("epochs_out").toString
    Compaction.compactEpochs(spark, dir, out, numPartitions = 2)
    val back = BulkLoad.readHFiles(spark, out)
    val got = back
      .select(hex(col("rowkey")).as("r"), col("value").cast("string"))
      .as[(String, String)].collect().toMap
    // salted keys end with the raw key byte; map suffix -> value
    def byKey(b: Int) = got.collectFirst {
      case (r, value) if r.endsWith(f"$b%02d") => value
    }
    assert(got.size == 2, s"expected A and C only, got $got")
    assert(byKey(1).contains("aa"),
      "latest EPOCH must win, not the lexicographically largest value")
    assert(byKey(2).isEmpty, "B was deleted in epoch 1")
    assert(byKey(3).contains("c2"))
    assert(back.filter(col("key_type") =!= P).count() == 0)
    // the compacted dir is a first-class bulk dir: manifest present and
    // non-overlapping within each bucket (readHFiles already validates
    // per-file ordering; manifest validity implies the file set matches)
    assert(new java.io.File(out, "_manifest").exists())
  }

  test("compactEpochs: 50 accumulated epochs plan as ONE constant-size " +
      "scan (no per-epoch union) and resolve to the last epoch's value") {
    val dir = Files.createTempDirectory("epochs50").toString
    // 50 micro-batch runs re-putting the same key plus one private key
    // each — the pathological long-running-stream shape
    (0 until 50).foreach { e =>
      val rows = Seq(
        (k(1), "f", "q", f"v$e%02d".getBytes, P),
        (k(100 + e), "f", "q", f"p$e%02d".getBytes, P))
      val prepared = BulkLoad.prepare(
        rows.toDF("rowkey", "family", "qualifier", "value", "key_type"),
        buckets = 2, numPartitions = 2)
      BulkLoad.writeHFiles(prepared, s"$dir/epoch=$e",
        typeCol = Some("key_type"))
    }
    val out = Files.createTempDirectory("epochs50_out").toString
    val t0 = System.nanoTime()
    Compaction.compactEpochs(spark, dir, out, numPartitions = 2)
    val secs = (System.nanoTime() - t0) / 1e9
    // the glob plan is epoch-count-independent; the old 50-way
    // unionByName paid linearly-growing analysis cost before any task
    assert(secs < 60.0, f"50-epoch compaction took $secs%.1f s")
    val back = BulkLoad.readHFiles(spark, out)
    assert(back.count() == 51) // key 1 once + 50 private keys
    val got = back
      .select(hex(col("rowkey")).as("r"), col("value").cast("string"))
      .as[(String, String)].collect()
    val k1 = got.collectFirst { case (r, value) if r.endsWith("01") => value }
    assert(k1.contains("v49"), "highest epoch must win the shared key")
  }

  test("compacting a tags+mvcc directory preserves cell tags and resolves " +
      "exact-coordinate duplicates by HIGHEST mvcc, not value order") {
    // cluster-shaped input: TTL-ish tags on some cells, mvcc ids on all,
    // plus an exact-coordinate duplicate pair where the HIGHER mvcc
    // carries the LEX-SMALLER value (max(value) would pick wrongly), and
    // a delete marker masking one cell
    val rows = Seq(
      (k(1), "f", "q", 10L, "new".getBytes, P, Array[Byte](1, 0, 4, 7), 200L),
      (k(2), "f", "q", 10L, "keep".getBytes, P, Array.emptyByteArray, 150L),
      (k(3), "f", "q", 10L, "dead".getBytes, P, Array.emptyByteArray, 100L),
      (k(3), "f", "q", 10L, Array.emptyByteArray, D, Array.emptyByteArray, 160L))
      .toDF("rowkey", "family", "qualifier", "ts", "value", "key_type",
        "tags", "mvcc")
    val dup = Seq(
      (k(1), "f", "q", 10L, "zzz".getBytes, P, Array.emptyByteArray, 120L))
      .toDF("rowkey", "family", "qualifier", "ts", "value", "key_type",
        "tags", "mvcc")
    val in = Files.createTempDirectory("tags_in").toString
    // a duplicate coordinate INSIDE one file would violate the writer's
    // strict key order; mvcc-distinct cells at one coordinate only occur
    // ACROSS files (what two cluster flushes of one region produce), so
    // the dup run is written separately and its file merged into the
    // same bucket directory below
    BulkLoad.writeHFiles(BulkLoad.prepare(rows, buckets = 1,
        numPartitions = 1), in, tsCol = Some("ts"),
      typeCol = Some("key_type"), tagsCol = Some("tags"),
      mvccCol = Some("mvcc"))
    val dupDir = Files.createTempDirectory("tags_dup").toString
    BulkLoad.writeHFiles(BulkLoad.prepare(dup, buckets = 1,
        numPartitions = 1), dupDir, tsCol = Some("ts"),
      typeCol = Some("key_type"), tagsCol = Some("tags"),
      mvccCol = Some("mvcc"))
    // merge the second run's file into the first dir (what N cluster
    // flushes of one region look like: same bucket, overlapping files)
    val src = new java.io.File(dupDir, "bucket=0").listFiles
      .filter(_.getName.endsWith(".hfile")).head
    val dstDir = new java.io.File(in, "bucket=0")
    java.nio.file.Files.copy(src.toPath,
      new java.io.File(dstDir, "part-merged-000.hfile").toPath)
    new java.io.File(in, "_manifest").delete() // stale after the copy

    assert(BulkLoad.dirHasTagsOrMvcc(spark, in))
    val out = Files.createTempDirectory("tags_out").toString
    Compaction.compact(spark, in, out, versions = 1, numPartitions = 1)
    val back = BulkLoad.readHFiles(spark, out)
      .select(hex(col("rowkey")).as("r"), col("value").cast("string"),
        col("tags"), col("mvcc"))
      .collect()
      .map(r => (r.getString(0).takeRight(2), (r.getString(1),
        r.getAs[Array[Byte]](2).toSeq, r.getLong(3))))
      .toMap
    // key 3 masked by the delete; keys 1 (tags preserved, mvcc-200
    // value wins over lex-larger "zzz"@120) and 2 survive
    assert(back.size == 2, s"got $back")
    assert(back("01") == (("new", Seq[Byte](1, 0, 4, 7), 200L)),
      s"got ${back("01")}")
    assert(back("02") == (("keep", Seq.empty[Byte], 150L)))
    // and the compacted OUTPUT still declares the tags layout
    assert(BulkLoad.dirHasTagsOrMvcc(spark, out))
    // a plain directory stays plain through compaction
    val plainIn = Files.createTempDirectory("plain_in").toString
    BulkLoad.writeHFiles(BulkLoad.prepare(
        Seq((k(9), "f", "q", "v".getBytes, P))
          .toDF("rowkey", "family", "qualifier", "value", "key_type"),
        buckets = 1, numPartitions = 1),
      plainIn, typeCol = Some("key_type"))
    val plainOut = Files.createTempDirectory("plain_out").toString
    Compaction.compact(spark, plainIn, plainOut, numPartitions = 1)
    assert(!BulkLoad.dirHasTagsOrMvcc(spark, plainOut))
  }

  test("selectCompaction: ratio guard, most-runs preference, byte tiebreak") {
    // a giant old run never gets rewritten to merge small ones
    assert(Compaction.selectCompaction(
      Seq((0L, 100L), (2L, 10L), (4L, 12L), (6L, 11L)),
      ratio = 1.2, minRuns = 2, maxRuns = 3)
      .contains(Seq(2L, 4L, 6L)))
    // more runs beats fewer; earliest window on a full tie
    assert(Compaction.selectCompaction(
      Seq((0L, 10L), (1L, 10L), (2L, 10L), (3L, 10L), (4L, 10L)),
      ratio = 1.2, minRuns = 2, maxRuns = 4)
      .contains(Seq(0L, 1L, 2L, 3L)))
    // equal run count -> smallest total bytes
    assert(Compaction.selectCompaction(
      Seq((0L, 10L), (1L, 10L), (2L, 5L), (3L, 5L)),
      ratio = 1.2, minRuns = 2, maxRuns = 2)
      .contains(Seq(2L, 3L)))
    // nothing eligible -> None (skip the round, no forced rewrite)
    assert(Compaction.selectCompaction(
      Seq((0L, 100L), (2L, 1L)), ratio = 1.2, minRuns = 2, maxRuns = 10)
      .isEmpty)
    // unordered input is sorted by run id before windowing
    assert(Compaction.selectCompaction(
      Seq((6L, 11L), (0L, 100L), (4L, 12L), (2L, 10L)),
      ratio = 1.2, minRuns = 2, maxRuns = 3)
      .contains(Seq(2L, 4L, 6L)))
  }

  test("minor compactEpochs keeps delete markers; a later major fold " +
      "applies them against runs outside the window") {
    val dir = Files.createTempDirectory("minor").toString
    def writeEpoch(e: Int,
                   rows: Seq[(Array[Byte], String, String, Array[Byte], Int)]): Unit = {
      val prepared = BulkLoad.prepare(
        rows.toDF("rowkey", "family", "qualifier", "value", "key_type"),
        buckets = 2, numPartitions = 2)
      BulkLoad.writeHFiles(prepared, s"$dir/epoch=$e",
        typeCol = Some("key_type"))
    }
    // epoch 0 (oldest, OUTSIDE the fold): A=a0, B=b0
    writeEpoch(0, Seq((k(1), "f", "q", "a0".getBytes, P),
      (k(2), "f", "q", "b0".getBytes, P)))
    // epoch 2: delete B, C=c2      epoch 4: A=a4 (re-put)
    writeEpoch(2, Seq((k(2), "f", "q", Array.emptyByteArray, D),
      (k(3), "f", "q", "c2".getBytes, P)))
    writeEpoch(4, Seq((k(1), "f", "q", "a4".getBytes, P)))

    // minor fold of {2,4} only — epoch 0 still holds B's put, so the
    // marker MUST survive the fold verbatim
    val tmp = Files.createTempDirectory("minor_tmp").toString
    Compaction.compactEpochs(spark, dir, tmp, numPartitions = 2,
      epochs = Some(Seq(2L, 4L)), collectMarkers = false)
    val folded = BulkLoad.readHFiles(spark, tmp)
    assert(folded.filter(col("key_type") === D).count() == 1,
      "minor fold must carry the delete marker through")
    val fv = folded.filter(col("key_type") === P)
      .select(hex(col("rowkey")).as("r"), col("value").cast("string"))
      .as[(String, String)].collect()
      .map { case (r, value) => r.takeRight(2) -> value }.toMap
    assert(fv == Map("01" -> "a4", "03" -> "c2"), s"got $fv")

    // publish the fold above its window (epoch 5), drop the sources —
    // then a MAJOR fold over [0, 5] applies the preserved marker to
    // epoch 0's put and collects it
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(tmp),
      new org.apache.hadoop.fs.Path(root, "epoch=5")))
    Seq(2, 4).foreach(e => fs.delete(
      new org.apache.hadoop.fs.Path(root, s"epoch=$e"), true))
    val out = Files.createTempDirectory("minor_out").toString
    Compaction.compactEpochs(spark, dir, out, numPartitions = 2)
    val fin = BulkLoad.readHFiles(spark, out)
    assert(fin.filter(col("key_type") =!= P).count() == 0)
    val gv = fin.select(hex(col("rowkey")).as("r"), col("value").cast("string"))
      .as[(String, String)].collect()
      .map { case (r, value) => r.takeRight(2) -> value }.toMap
    assert(gv == Map("01" -> "a4", "03" -> "c2"),
      s"B must stay deleted through the minor->major chain, got $gv")
  }

  test("ttlTagMs: parses the type-8 tag, skips others, rejects corrupt blocks") {
    import graft.functions.BytesCodec
    def ttlTag(ms: Long): Array[Byte] =
      BytesCodec.encodeShort(9.toShort) ++ Array[Byte](8) ++
        BytesCodec.encodeLong(ms)
    val other = BytesCodec.encodeShort(3.toShort) ++ Array[Byte](1, 0x55, 0x66)
    assert(BytesCodec.ttlTagMs(Array.emptyByteArray) == -1L)
    assert(BytesCodec.ttlTagMs(other) == -1L)
    assert(BytesCodec.ttlTagMs(ttlTag(86400000L)) == 86400000L)
    // TTL tag behind a non-TTL tag: skip logic
    assert(BytesCodec.ttlTagMs(other ++ ttlTag(5L)) == 5L)
    // first TTL tag wins (HBase iterates and returns the first hit)
    assert(BytesCodec.ttlTagMs(ttlTag(7L) ++ ttlTag(9L)) == 7L)
    // truncated header / truncated payload / wrong TTL payload size: loud
    intercept[IllegalArgumentException] {
      BytesCodec.ttlTagMs(Array[Byte](0, 9))
    }
    intercept[IllegalArgumentException] {
      BytesCodec.ttlTagMs(BytesCodec.encodeShort(9.toShort) ++ Array[Byte](8, 1))
    }
    intercept[IllegalArgumentException] {
      BytesCodec.ttlTagMs(BytesCodec.encodeShort(3.toShort) ++
        Array[Byte](8, 1, 2))
    }
  }

  test("applyTtl: family TTL expires old cells, a cell tag can only shorten") {
    import graft.functions.BytesCodec
    def ttlTag(ms: Long): Array[Byte] =
      BytesCodec.encodeShort(9.toShort) ++ Array[Byte](8) ++
        BytesCodec.encodeLong(ms)
    val now = 1000L
    val cells = Seq(
      // family f TTL 100: ts 950 lives (age 50), ts 900 expires (age 100)
      (k(1), "f", "q", 950L, v(1), P, Array.emptyByteArray),
      (k(1), "f", "q", 900L, v(2), P, Array.emptyByteArray),
      // cell tag 20 < family 100: age 30 expires despite family headroom
      (k(2), "f", "q", 970L, v(3), P, ttlTag(20L)),
      // cell tag 500 > family 100 cannot EXTEND: age 150 still expires
      (k(3), "f", "q", 850L, v(4), P, ttlTag(500L)),
      // family g has no configured TTL: FOREVER
      (k(4), "g", "q", 1L, v(5), P, Array.emptyByteArray),
      // markers expire by TTL too
      (k(5), "f", "", 900L, Array.emptyByteArray, DF, Array.emptyByteArray),
      (k(5), "f", "", 950L, Array.emptyByteArray, DF, Array.emptyByteArray))
      .toDF("rowkey", "family", "qualifier", "ts", "value", "key_type", "tags")
    val got = Compaction.applyTtl(cells, now, Map("f" -> 100L))
      .select(hex(col("rowkey")), col("ts"))
      .as[(String, Long)].collect().toSet
    assert(got == Set(("01", 950L), ("04", 1L), ("05", 950L)))
  }

  test("compact with TTL drops expired cells from a tagged directory") {
    import graft.functions.BytesCodec
    def ttlTag(ms: Long): Array[Byte] =
      BytesCodec.encodeShort(9.toShort) ++ Array[Byte](8) ++
        BytesCodec.encodeLong(ms)
    val now = 10000L
    val rows = Seq(
      (k(1), "f", "q", 9900L, "young".getBytes, P, Array.emptyByteArray, 1L),
      (k(1), "f", "q", 5000L, "old".getBytes, P, Array.emptyByteArray, 2L),
      (k(2), "f", "q", 9900L, "tagged".getBytes, P, ttlTag(50L), 3L))
      .toDF("rowkey", "family", "qualifier", "ts", "value", "key_type",
        "tags", "mvcc")
    val in = Files.createTempDirectory("ttl_in").toString
    BulkLoad.writeHFiles(BulkLoad.prepare(rows, buckets = 1,
        numPartitions = 1), in, tsCol = Some("ts"),
      typeCol = Some("key_type"), tagsCol = Some("tags"),
      mvccCol = Some("mvcc"))
    val out = Files.createTempDirectory("ttl_out").toString
    // family TTL 1000ms at now=10000: ts 5000 expires; the k(2) cell's
    // own 50ms tag expires it at age 100 despite family headroom
    Compaction.compact(spark, in, out, versions = 2, numPartitions = 1,
      familyTtlMs = Map("f" -> 1000L), nowMs = now)
    val back = BulkLoad.readHFiles(spark, out)
      .select(hex(col("rowkey")), col("ts")).as[(String, Long)]
      .collect().toSet
    // prepare() salted the key: 2-byte bucket prefix + the 1-byte key
    assert(back == Set(("000001", 9900L)))
    // TTL config without nowMs must be rejected loudly
    intercept[IllegalArgumentException] {
      Compaction.compact(spark, in, out, familyTtlMs = Map("f" -> 1000L))
    }
    // ... by both entry points, before the input is listed or read (an
    // absent input dir would fail any listing or read differently)
    val absent = new java.io.File(in, "absent").toString
    Seq[() => Unit](
      () => Compaction.compact(spark, absent, out, familyTtlMs = Map("f" -> 1L)),
      () => Compaction.compactEpochs(spark, absent, out,
        familyTtlMs = Map("f" -> 1L))
    ).foreach { call =>
      val e = intercept[IllegalArgumentException](call())
      assert(e.getMessage.contains("explicit nowMs"), e.getMessage)
    }
  }

  test("compactEpochs TTL: a minor fold expires puts but carries markers " +
      "verbatim; a major fold expires both") {
    import graft.functions.BytesCodec
    val now = 1000L
    def run(rows: Seq[(Array[Byte], String, String, Long, Array[Byte], Int)],
            dir: String): Unit =
      BulkLoad.writeHFiles(BulkLoad.prepare(cellsDf(rows), buckets = 1,
        numPartitions = 1), dir, tsCol = Some("ts"), typeCol = Some("key_type"))
    val dir = Files.createTempDirectory("ttl_fold").toString
    run(Seq(
      (k(1), "f", "q", 100L, v(1), P),   // expired put (age 900 >= 500)
      (k(2), "f", "q", 950L, v(2), P)),  // young put
      s"$dir/epoch=0")
    run(Seq(
      // EXPIRED-age delete marker: a minor fold must still carry it
      (k(3), "f", "q", 100L, Array.emptyByteArray, D),
      (k(4), "f", "q", 960L, v(4), P)),
      s"$dir/epoch=1")
    val minor = Files.createTempDirectory("ttl_minor").toString
    Compaction.compactEpochs(spark, dir, minor, numPartitions = 1,
      epochs = Some(Seq(0L, 1L)), collectMarkers = false,
      familyTtlMs = Map("f" -> 500L), nowMs = now)
    val got = BulkLoad.readHFiles(spark, minor)
      .select(hex(col("rowkey")), col("key_type"))
      .as[(String, Int)].collect().toSet
    assert(got == Set(("000002", P), ("000003", D), ("000004", P)),
      s"minor fold: $got")
    val major = Files.createTempDirectory("ttl_major").toString
    Compaction.compactEpochs(spark, dir, major, numPartitions = 1,
      familyTtlMs = Map("f" -> 500L), nowMs = now)
    val gotM = BulkLoad.readHFiles(spark, major)
      .select(hex(col("rowkey")), col("key_type"))
      .as[(String, Int)].collect().toSet
    assert(gotM == Set(("000002", P), ("000004", P)), s"major fold: $gotM")
  }

  test("end-to-end: write -> compact -> single resolved run per bucket") {
    val events = sf("events")
    val puts = events.select(
      concat(graft.functions.hb.encode(col("user_id")),
        graft.functions.hb.encode(col("event_id"))).as("rowkey"),
      lit("f").as("family"),
      lit("value").as("qualifier"),
      graft.functions.hb.encode(col("value")).as("value"),
      expr("ts DIV 1000000").as("ms"),
      lit(P).as("key_type"),
      col("user_id"))
    // DeleteFamily markers for every 5th user, above that user's max ts:
    // all of that user's cells must disappear
    val markers = puts.filter(pmod(col("user_id"), lit(5)) === 0)
      .groupBy(col("rowkey"), col("user_id"))
      .agg(max(col("ms")).as("ms"))
      .select(col("rowkey"), lit("f").as("family"), lit("").as("qualifier"),
        lit(Array.emptyByteArray).as("value"), col("ms"),
        lit(DF).as("key_type"), col("user_id"))
    val all = puts.unionByName(markers)
    val prepared = BulkLoad.prepare(all, buckets = 4, numPartitions = 4,
      saltBase = Some(graft.functions.hb.encode(col("user_id"))))
    // snappy on both sides (the reference's hfile.compression): compact
    // must read a compressed dir and write one
    val in = Files.createTempDirectory("compact_in").toString
    BulkLoad.writeHFiles(prepared, in, tsCol = Some("ms"),
      typeCol = Some("key_type"), blockSize = 2048, compression = "snappy")

    val out = Files.createTempDirectory("compact_out").toString
    // snappy + fast_diff out: the cluster-realistic target format
    Compaction.compact(spark, in, out, versions = 1, numPartitions = 4,
      compression = "snappy", encoding = "fast_diff")

    // readHFiles re-validates structure + ordering on every block
    val back = BulkLoad.readHFiles(spark, out)
    // the rewritten files really are encoded (DATABLKE leads every file)
    val outFiles = new java.io.File(out).listFiles
      .filter(_.getName.startsWith("bucket=")).flatMap(_.listFiles)
      .filter(_.getName.endsWith(".hfile"))
    assert(outFiles.nonEmpty && outFiles.forall { f =>
      java.nio.file.Files.readAllBytes(f.toPath).slice(0, 8)
        .sameElements(graft.sources.HFile.BlockMagicEncodedData)
    })
    assert(back.filter(col("key_type") =!= P).count() == 0) // markers gone
    val expected = puts.filter(pmod(col("user_id"), lit(5)) =!= 0).count()
    assert(back.count() == expected)
    // survivors byte-identical to the unmasked puts
    val a = back.select(hex(col("rowkey")).as("rk"), hex(col("value")).as("v"))
    val b = prepared.filter(col("key_type") === P &&
        pmod(col("user_id"), lit(5)) =!= 0)
      .select(hex(col("salted_key")).as("rk"), hex(col("value")).as("v"))
    assert(a.except(b).isEmpty && b.except(a).isEmpty)
  }
}
