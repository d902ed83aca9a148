package graft.sources

import java.io.ByteArrayOutputStream

import graft.SparkSpec
import graft.functions.hb
import graft.operators.BulkLoad
import org.apache.spark.sql.functions._

import java.nio.file.Files

class HFileSpec extends SparkSpec {
  import spark.implicits._
  import HFile._

  private def cell(row: String, qual: String, ts: Long = 0L,
                   value: String = "v"): HCell =
    HCell(row.getBytes("UTF-8"), "f".getBytes("UTF-8"),
      qual.getBytes("UTF-8"), ts, value.getBytes("UTF-8"))

  private def writeToBytes(cells: Seq[HCell],
                           blockSize: Int = 256): Array[Byte] = {
    val baos = new ByteArrayOutputStream()
    val w = new HFileWriter(baos, blockSize)
    cells.foreach(w.append)
    w.finish()
    baos.toByteArray
  }

  private val manyCells =
    (0 until 500).map(i => cell(f"row$i%05d", "q", ts = 7L, value = "x" * 20))

  test("round-trip: cells -> bytes -> cells, multi-block") {
    val bytes = writeToBytes(manyCells)
    val back = HFileReader.scan(new HFileReader.BytesRead(bytes)).toSeq
    assert(back.size == manyCells.size)
    back.zip(manyCells).foreach { case (a, b) =>
      assert(a.rowkey.sameElements(b.rowkey) &&
        a.family.sameElements(b.family) &&
        a.qualifier.sameElements(b.qualifier) &&
        a.ts == b.ts && a.value.sameElements(b.value))
    }
  }

  test("cluster-shaped files: tags + mvcc ids parse on every read path") {
    // synthesize what a region server writes: per-cell tags (some empty)
    // and monotone memstore sequence ids, declared in the file info
    val cells = (0 until 400).map { i =>
      cell(f"row$i%05d", "q", ts = 5L, value = s"v$i").copy(
        tags = if (i % 3 == 0) Array.emptyByteArray
               else Array.fill(i % 17 + 1)((i % 251).toByte),
        mvcc = 1000L + i)
    }
    val baos = new ByteArrayOutputStream()
    val w = new HFileWriter(baos, blockSize = 256, withTagsAndMvcc = true)
    cells.foreach(w.append)
    w.finish()
    val bytes = baos.toByteArray
    // full scan: cells, tags, and mvcc ids all round-trip
    val back = HFileReader.scan(new HFileReader.BytesRead(bytes)).toSeq
    assert(back.size == cells.size)
    back.zip(cells).foreach { case (a, b) =>
      assert(a.rowkey.sameElements(b.rowkey) && a.value.sameElements(b.value))
      assert(a.tags.sameElements(b.tags), "tags must round-trip")
      assert(a.mvcc == b.mvcc, "mvcc ids must round-trip")
    }
    // the structural audit, range scan, point GET and key range all work
    // on the tags/mvcc-bearing layout
    assert(HFileReader.validate(
      new HFileReader.BytesRead(bytes)).nCells == 400)
    val got = HFileReader.multiGet(new HFileReader.BytesRead(bytes),
      Seq("row00124".getBytes))
    assert(got.size == 1 && got.head.mvcc == 1124L &&
      got.head.tags.length == 124 % 17 + 1)
    val ranged = HFileReader.scanRange(new HFileReader.BytesRead(bytes),
      Some("row00100".getBytes), Some("row00110".getBytes)).toSeq
    assert(ranged.size == 11)
    assert(HFileReader.rowkeyRange(new HFileReader.BytesRead(bytes))
      .exists(_._1.sameElements("row00000".getBytes)))
    // a graft-written (flag-less) file of the same cells is smaller and
    // still parses with the classic layout — the flags key everything
    val plain = writeToBytes(cells.map(_.copy(tags = Array.emptyByteArray,
      mvcc = 0L)))
    assert(plain.length < bytes.length)
    assert(HFileReader.scan(new HFileReader.BytesRead(plain))
      .forall(c => c.tags.isEmpty && c.mvcc == 0L))
    // dictionary-compressed tags are rejected loudly, not mis-parsed
    // (flip the TAGS_COMPRESSED byte inside the file info payload)
    val fiKey = "hfile.TAGS_COMPRESSED".getBytes("UTF-8")
    val at = (0 until bytes.length - fiKey.length).find(i =>
      fiKey.indices.forall(j => bytes(i + j) == fiKey(j))).get
    val evil = bytes.clone()
    evil(at + fiKey.length + 2) = 1 // value: field tag(1) + len(1) + byte
    val e = intercept[Exception] {
      HFileReader.scan(new HFileReader.BytesRead(evil)).toSeq
    }
    assert(e.getMessage != null) // either the explicit message or a CRC fail
  }

  test("structure: magics, trailer, index entries all verify") {
    val bytes = writeToBytes(manyCells)
    // first block is a data block
    assert(bytes.slice(0, 8).sameElements(BlockMagicData))
    // trailer magic and packed version at fixed offsets from the end
    assert(bytes.slice(bytes.length - TrailerSize,
      bytes.length - TrailerSize + 8).sameElements(TrailerMagic))
    val t = HFileReader.readTrailer(new HFileReader.BytesRead(bytes))
    assert(t.majorVersion == 3 && t.minorVersion == 3)
    assert(t.entryCount == 500 && t.numDataIndexLevels == 1)
    assert(t.comparator.contains("CellComparator"))
    // full audit: block count > 1 (small blocks), index matches blocks
    val stats = HFileReader.validate(new HFileReader.BytesRead(bytes))
    assert(stats.nDataBlocks > 1)
    assert(stats.nIndexEntries == stats.nDataBlocks)
    assert(stats.nCells == 500)
    assert(stats.fileInfo.contains("hfile.LASTKEY"))
    assert(t.dataIndexCount == stats.nDataBlocks)
  }

  test("writer rejects out-of-order and duplicate keys") {
    val baos = new ByteArrayOutputStream()
    val w = new HFileWriter(baos)
    w.append(cell("b", "q"))
    intercept[IllegalArgumentException](w.append(cell("a", "q")))
    intercept[IllegalArgumentException](w.append(cell("b", "q")))
    // same row, later qualifier is fine; newer ts sorts first within a cell
    w.append(cell("b", "r", ts = 9))
    intercept[IllegalArgumentException](w.append(cell("b", "r", ts = 10)))
    w.append(cell("b", "r", ts = 3))
  }

  test("delete markers round-trip and sort before puts at the same ts") {
    val del = HCell("a".getBytes, "f".getBytes, "q".getBytes, 5L,
      Array.emptyByteArray, KeyTypeDelete)
    val put = HCell("a".getBytes, "f".getBytes, "q".getBytes, 5L,
      "v".getBytes, KeyTypePut)
    assert(compareCells(del, put) < 0) // marker first, like HBase
    val bytes = writeToBytes(Seq(del, put))
    val back = HFileReader.scan(new HFileReader.BytesRead(bytes)).toSeq
    assert(back.map(_.keyType) == Seq(KeyTypeDelete, KeyTypePut))
    assert(back.head.value.isEmpty)
  }

  test("any corrupted byte fails the checksum or a structural check") {
    val bytes = writeToBytes(manyCells)
    val corrupt = bytes.clone()
    corrupt(200) = (corrupt(200) ^ 0x5a).toByte // inside first data block
    val err = intercept[IllegalArgumentException] {
      HFileReader.scan(new HFileReader.BytesRead(corrupt)).toSeq
    }
    assert(err.getMessage.contains("CRC32C") ||
      err.getMessage.contains("requirement"))
  }

  test("empty file: valid trailer, zero cells") {
    val bytes = writeToBytes(Seq.empty)
    assert(HFileReader.scan(new HFileReader.BytesRead(bytes)).isEmpty)
    val t = HFileReader.readTrailer(new HFileReader.BytesRead(bytes))
    assert(t.entryCount == 0 && t.dataIndexCount == 0)
  }

  test("randomized cells round-trip: binary keys, empty values, " +
      "high bytes, long qualifiers") {
    // deterministic pseudo-random corpus hitting the encoding edges:
    // 0x00/0xff rowkey bytes (unsigned ordering), empty values, empty
    // and 300-byte qualifiers, negative-as-unsigned byte patterns
    val rnd = new scala.util.Random(7)
    val cells = (0 until 300).map { i =>
      val rk = Array.fill(1 + rnd.nextInt(12))(rnd.nextInt(256).toByte)
      val qual = rnd.nextInt(4) match {
        case 0 => ""
        case 1 => "q" * 300
        case _ => s"q${rnd.nextInt(10)}"
      }
      val value =
        if (rnd.nextBoolean()) Array.emptyByteArray
        else Array.fill(rnd.nextInt(200))(rnd.nextInt(256).toByte)
      HCell(rk, "f".getBytes, qual.getBytes, rnd.nextInt(1000).toLong, value)
    }
    val sorted = cells.sortWith(compareCells(_, _) < 0)
      // drop exact key duplicates (writer rejects them by design)
      .foldLeft(Vector.empty[HCell]) { (acc, c) =>
        if (acc.nonEmpty && compareCells(acc.last, c) == 0) acc else acc :+ c
      }
    val bytes = writeToBytes(sorted, blockSize = 512)
    val back = HFileReader.scan(new HFileReader.BytesRead(bytes)).toSeq
    assert(back.size == sorted.size)
    back.zip(sorted).foreach { case (a, b) =>
      assert(a.rowkey.sameElements(b.rowkey) && a.ts == b.ts &&
        a.qualifier.sameElements(b.qualifier) &&
        a.value.sameElements(b.value))
    }
    val stats = HFileReader.validate(new HFileReader.BytesRead(bytes))
    assert(stats.nCells == sorted.size && stats.nDataBlocks > 1)
  }

  test("gz compression: round-trips, shrinks the file, trailer carries " +
      "codec id 1") {
    val plain = writeToBytes(manyCells)
    val baos = new ByteArrayOutputStream()
    val w = new HFileWriter(baos, 256, CodecGz)
    manyCells.foreach(w.append)
    w.finish()
    val gz = baos.toByteArray
    // "x"*20 values are highly compressible; the win must be real
    assert(gz.length < plain.length)
    val t = HFileReader.readTrailer(new HFileReader.BytesRead(gz))
    assert(t.compressionCodec == CodecGz)
    val back = HFileReader.scan(new HFileReader.BytesRead(gz)).toSeq
    assert(back.size == manyCells.size)
    back.zip(manyCells).foreach { case (a, b) =>
      assert(a.rowkey.sameElements(b.rowkey) &&
        a.qualifier.sameElements(b.qualifier) &&
        a.ts == b.ts && a.value.sameElements(b.value))
    }
    // full structural audit + the planner's 3-short-read range probe both
    // work through compressed load-on-open blocks
    val stats = HFileReader.validate(new HFileReader.BytesRead(gz))
    assert(stats.nCells == 500 && stats.nDataBlocks > 1)
    val range = HFileReader.rowkeyRange(new HFileReader.BytesRead(gz))
    assert(range.exists { case (lo, hi) =>
      lo.sameElements("row00000".getBytes) && hi.sameElements("row00499".getBytes)
    })
  }

  test("bloom: chunked, no false negatives, ~1% false positives") {
    val baos = new ByteArrayOutputStream()
    // capacity 64 forces 8 chunks over 500 distinct rowkeys
    val w = new HFileWriter(baos, 4096, CodecNone, bloomChunkKeys = 64)
    manyCells.foreach(w.append)
    w.finish()
    val bytes = baos.toByteArray
    val stats = HFileReader.validate(new HFileReader.BytesRead(bytes))
    assert(stats.nBloomChunks == math.ceil(500.0 / 64).toInt)
    assert(stats.nCells == 500)
    // every present rowkey must be maybe-present (no false negatives)
    (0 until 500).foreach { i =>
      val got = HFileReader.rowkeyMayContain(
        new HFileReader.BytesRead(bytes), f"row$i%05d".getBytes)
      assert(got.contains(true), s"false negative for row$i")
    }
    // absent keys inside the key range: FP rate near the 1% design point
    val fp = (0 until 1000).count { i =>
      HFileReader.rowkeyMayContain(
        new HFileReader.BytesRead(bytes), f"row$i%05dx".getBytes).contains(true)
    }
    assert(fp < 50, s"bloom FP rate too high: $fp/1000")
    // keys sorting below the first chunk are definitely absent
    assert(HFileReader.rowkeyMayContain(
      new HFileReader.BytesRead(bytes), "aaa".getBytes).contains(false))
  }

  test("bloom sizing: k stays raw-ratio-optimal under the fold quantum; " +
      "padded bits fold away for sparse chunks") {
    // small capacity: the 8192-bit quantum floor must NOT inflate k
    // (k from padded bits would be ~57 probes for capacity 100)
    val small = new HFile.BloomChunkBuilder(100)
    assert(small.k >= 5 && small.k <= 9, s"k=${small.k} not near optimal 7")
    assert(small.nBits % (64L << HFile.BloomChunkBuilder.FoldDepth) == 0)
    // a full-capacity chunk pays at most one quantum of padding
    val big = new HFile.BloomChunkBuilder(100000)
    val raw = math.ceil(100000 * math.log(100) / (math.log(2) * math.log(2)))
    assert(big.nBits - raw.toLong <= (64L << HFile.BloomChunkBuilder.FoldDepth),
      s"padding ${big.nBits - raw.toLong} exceeds one quantum")
    // sparse chunk folds: 3 keys in a capacity-5000 chunk serialize far
    // below the allocated size, and membership still answers exactly
    val sparse = new HFile.BloomChunkBuilder(5000)
    Seq("a", "b", "c").foreach(k => sparse.add(k.getBytes))
    val ser = sparse.serialize()
    assert(ser.length.toLong * 8 < sparse.nBits / 8,
      s"sparse chunk did not fold: ${ser.length} bytes for ${sparse.nBits} bits")
    Seq("a", "b", "c").foreach(k =>
      assert(HFile.bloomMayContain(ser, k.getBytes)))
    assert(!HFile.bloomMayContain(ser, "zzz-not-present".getBytes))
  }

  test("bloom: disabled writer yields no bloom; probe falls back to None") {
    val baos = new ByteArrayOutputStream()
    val w = new HFileWriter(baos, 4096, CodecNone, bloomChunkKeys = 0)
    manyCells.foreach(w.append)
    w.finish()
    val bytes = baos.toByteArray
    assert(HFileReader.validate(
      new HFileReader.BytesRead(bytes)).nBloomChunks == 0)
    assert(HFileReader.rowkeyMayContain(
      new HFileReader.BytesRead(bytes), "row00000".getBytes).isEmpty)
  }

  test("snappy/lz4/zstd compression: round-trip, real shrink, trailer " +
      "carries the HBase codec ordinal (3/4/6)") {
    val plain = writeToBytes(manyCells)
    for ((name, id) <- Seq("snappy" -> CodecSnappy, "lz4" -> CodecLz4,
                           "zstd" -> CodecZstd)) {
      assert(HFile.codecOf(name) == id)
      val baos = new ByteArrayOutputStream()
      val w = new HFileWriter(baos, 256, id)
      manyCells.foreach(w.append)
      w.finish()
      val bytes = baos.toByteArray
      assert(bytes.length < plain.length, name)
      val t = HFileReader.readTrailer(new HFileReader.BytesRead(bytes))
      assert(t.compressionCodec == id, name)
      val back = HFileReader.scan(new HFileReader.BytesRead(bytes)).toSeq
      assert(back.size == manyCells.size, name)
      back.zip(manyCells).foreach { case (a, b) =>
        assert(a.rowkey.sameElements(b.rowkey) &&
          a.qualifier.sameElements(b.qualifier) &&
          a.ts == b.ts && a.value.sameElements(b.value), name)
      }
      val stats = HFileReader.validate(new HFileReader.BytesRead(bytes))
      assert(stats.nCells == 500 && stats.nDataBlocks > 1, name)
      val range = HFileReader.rowkeyRange(new HFileReader.BytesRead(bytes))
      assert(range.exists { case (lo, hi) =>
        lo.sameElements("row00000".getBytes) &&
          hi.sameElements("row00499".getBytes)
      }, name)
    }
  }

  test("writer rejects indexBlockEntries < 2 (grouped(1) would never " +
      "converge) and unknown codec ids") {
    intercept[IllegalArgumentException] {
      new HFileWriter(new ByteArrayOutputStream(), 256,
        indexBlockEntries = 1)
    }
    intercept[IllegalArgumentException] {
      new HFileWriter(new ByteArrayOutputStream(), 256, codec = 0) // LZO
    }
  }

  test("bloom: probe works through gz-compressed blocks") {
    val baos = new ByteArrayOutputStream()
    val w = new HFileWriter(baos, 4096, CodecGz, bloomChunkKeys = 64)
    manyCells.foreach(w.append)
    w.finish()
    val bytes = baos.toByteArray
    assert(HFileReader.rowkeyMayContain(
      new HFileReader.BytesRead(bytes), "row00123".getBytes).contains(true))
    val miss = (0 until 200).count { i =>
      HFileReader.rowkeyMayContain(
        new HFileReader.BytesRead(bytes), f"zz$i%05d".getBytes).contains(true)
    }
    assert(miss < 20)
  }

  test("multi-level index: tiny fanout forces 3 levels; everything " +
      "still verifies and round-trips") {
    val baos = new ByteArrayOutputStream()
    // blockSize 256 → ~40 cells/block ≈ 13+ blocks; fanout 3 → 3 levels
    val w = new HFileWriter(baos, 256, CodecNone,
      bloomChunkKeys = 64, indexBlockEntries = 3)
    manyCells.foreach(w.append)
    w.finish()
    val bytes = baos.toByteArray
    val t = HFileReader.readTrailer(new HFileReader.BytesRead(bytes))
    assert(t.numDataIndexLevels >= 3,
      s"expected a deep index, got ${t.numDataIndexLevels} levels")
    assert(t.dataIndexCount <= 3) // root got small
    // full structural audit descends the tree and checks every data entry
    val stats = HFileReader.validate(new HFileReader.BytesRead(bytes))
    assert(stats.nCells == 500 && stats.nDataBlocks > 9)
    // sequential scan skips the interleaved index blocks
    val back = HFileReader.scan(new HFileReader.BytesRead(bytes)).toSeq
    assert(back.size == 500)
    // rowkeyRange still reads the file's first key through the root
    val range = HFileReader.rowkeyRange(new HFileReader.BytesRead(bytes))
    assert(range.exists { case (lo, hi) =>
      lo.sameElements("row00000".getBytes) && hi.sameElements("row00499".getBytes)
    })
  }

  test("seek scan: index descent reads only covering blocks") {
    val baos = new ByteArrayOutputStream()
    val w = new HFileWriter(baos, 256, CodecNone,
      bloomChunkKeys = 64, indexBlockEntries = 3)
    manyCells.foreach(w.append)
    w.finish()
    val bytes = baos.toByteArray
    val total = HFileReader.validate(
      new HFileReader.BytesRead(bytes)).nDataBlocks
    val lo = Some("row00100".getBytes)
    val hi = Some("row00140".getBytes)
    val got = HFileReader.scanRange(
      new HFileReader.BytesRead(bytes), lo, hi).toSeq
    assert(got.size == 41)
    assert(got.head.rowkey.sameElements("row00100".getBytes))
    assert(got.last.rowkey.sameElements("row00140".getBytes))
    // and it really skipped: covering blocks ≪ total blocks
    val covering = HFileReader.dataBlocksInRange(
      new HFileReader.BytesRead(bytes), lo, hi)
    assert(covering.nonEmpty && covering.size < total / 2,
      s"covering ${covering.size} of $total blocks")
    // point lookup: a single block
    val one = HFileReader.dataBlocksInRange(
      new HFileReader.BytesRead(bytes),
      Some("row00250".getBytes), Some("row00250".getBytes))
    assert(one.size == 1)
    // open-ended bounds behave
    val tail = HFileReader.scanRange(new HFileReader.BytesRead(bytes),
      Some("row00490".getBytes), None).toSeq
    assert(tail.size == 10)
    // the bounded count: exact within its limit, "more" past it, and a
    // whole-file count capped at 2 stops after a few index blocks
    var reads = 0
    val counted = new HFileReader.RandomRead {
      private val r = new HFileReader.BytesRead(bytes)
      def length: Long = r.length
      def readFully(pos: Long, len: Int): Array[Byte] = {
        reads += 1; r.readFully(pos, len)
      }
    }
    assert(HFileReader.dataBlockCount(counted, lo, hi, covering.size) == covering.size)
    assert(HFileReader.dataBlockCount(counted, lo, hi, covering.size - 1) >= covering.size)
    val (first, last) = (Some("row00000".getBytes), Some("row00499".getBytes))
    reads = 0
    assert(HFileReader.dataBlockCount(counted, first, last, Int.MaxValue) == total)
    val uncappedReads = reads
    reads = 0
    assert(HFileReader.dataBlockCount(counted, first, last, 2) > 2)
    assert(reads < uncappedReads / 2, s"$reads of $uncappedReads reads")
  }

  test("gz compression: corrupted byte still fails the checksum") {
    val baos = new ByteArrayOutputStream()
    val w = new HFileWriter(baos, 256, CodecGz)
    manyCells.foreach(w.append)
    w.finish()
    val corrupt = baos.toByteArray
    corrupt(100) = (corrupt(100) ^ 0x5a).toByte
    val err = intercept[Exception] {
      HFileReader.scan(new HFileReader.BytesRead(corrupt)).toSeq
    }
    assert(err.getMessage != null)
  }

  test("multi-version cell streams write in ts-descending order") {
    // same (rowkey, family, qualifier) with several timestamps, fed in
    // arbitrary order: writeHFiles must re-sort versions newest-first
    val cells = Seq(
      (Array[Byte](1), "f", "q", 5L, Array[Byte](10)),
      (Array[Byte](1), "f", "q", 9L, Array[Byte](11)),
      (Array[Byte](1), "f", "q", 1L, Array[Byte](12)),
      (Array[Byte](2), "f", "q", 3L, Array[Byte](13)))
      .toDF("rowkey", "family", "qualifier", "ts", "value")
    val prepared = BulkLoad.prepare(cells, buckets = 1, numPartitions = 1)
    val out = Files.createTempDirectory("hfiles_mv").toString
    BulkLoad.writeHFiles(prepared, out, tsCol = Some("ts"))
    val back = BulkLoad.readHFiles(spark, out)
      .orderBy("rowkey", "ts").collect()
    assert(back.length == 4)
    // scan() enforces in-file comparator order, so a successful read IS
    // the ordering proof; cross-check the versions survived
    assert(back.count(_.getAs[Long]("ts") == 9L) == 1)
    // temp commit dir is cleaned up
    assert(!new java.io.File(s"$out/_inprogress").exists())
  }

  test("property: random cells round-trip under every feature combination " +
      "(codec x bloom x index fanout x encoding), with seek scan and " +
      "multiGet parity") {
    val rnd = new scala.util.Random(11)
    (0 until 12).foreach { trial =>
      val codec = Seq(CodecNone, CodecGz, CodecSnappy, CodecLz4,
        CodecZstd)(trial % 5)
      val blockSize = 256 + rnd.nextInt(1024)
      val bloomKeys = Seq(0, 16, 64)(trial % 3)
      val fanout = Seq(3, 4, 1000)((trial / 2) % 3)
      val encoding = Seq(BlockEncoding.None, BlockEncoding.Prefix,
        BlockEncoding.Diff, BlockEncoding.FastDiff)(trial % 4)
      // random sorted unique cells: binary rowkeys, some multi-cell rows
      val raw = (0 until 200 + rnd.nextInt(200)).map { _ =>
        val rk = Array.fill(1 + rnd.nextInt(10))(rnd.nextInt(256).toByte)
        HCell(rk, "f".getBytes, s"q${rnd.nextInt(3)}".getBytes,
          rnd.nextInt(50).toLong,
          Array.fill(rnd.nextInt(60))(rnd.nextInt(256).toByte))
      }
      val cells = raw.sortWith(compareCells(_, _) < 0)
        .foldLeft(Vector.empty[HCell]) { (acc, c) =>
          if (acc.nonEmpty && compareCells(acc.last, c) == 0) acc else acc :+ c
        }
      val baos = new ByteArrayOutputStream()
      val w = new HFileWriter(baos, blockSize, codec, bloomKeys, fanout,
        encoding = encoding)
      cells.foreach(w.append)
      w.finish()
      val bytes = baos.toByteArray
      val ctx = s"trial $trial codec=$codec block=$blockSize " +
        s"bloom=$bloomKeys fanout=$fanout cells=${cells.size} " +
        s"encoding=${BlockEncoding.nameOf(encoding)}"

      // full audit + sequential parity
      val stats = HFileReader.validate(new HFileReader.BytesRead(bytes))
      assert(stats.nCells == cells.size, ctx)
      val back = HFileReader.scan(new HFileReader.BytesRead(bytes)).toSeq
      assert(back.size == cells.size, ctx)
      back.zip(cells).foreach { case (a, b) =>
        assert(compareCells(a, b) == 0 && a.value.sameElements(b.value), ctx)
      }

      // seek scan over a random rowkey range == filtered sequential scan
      val ks = cells.map(_.rowkey)
      val (lo, hi) = {
        val a = ks(rnd.nextInt(ks.size)); val b = ks(rnd.nextInt(ks.size))
        if (java.util.Arrays.compareUnsigned(a, b) <= 0) (a, b) else (b, a)
      }
      def inRange(rk: Array[Byte]) =
        java.util.Arrays.compareUnsigned(rk, lo) >= 0 &&
          java.util.Arrays.compareUnsigned(rk, hi) <= 0
      val seek = HFileReader.scanRange(
        new HFileReader.BytesRead(bytes), Some(lo), Some(hi)).toSeq
      val expect = cells.filter(c => inRange(c.rowkey))
      assert(seek.size == expect.size, ctx)
      seek.zip(expect).foreach { case (a, b) =>
        assert(compareCells(a, b) == 0, ctx)
      }

      // multiGet of present + absent keys == filtered scan; duplicate key
      // instances (same bytes, different arrays) must dedup by content
      val present = rnd.shuffle(ks).take(20)
      val dupes = present.take(3).map(_.clone())
      val absent = Seq(Array.fill(12)(0x55.toByte), Array[Byte]())
      val got = HFileReader.multiGet(
        new HFileReader.BytesRead(bytes), present ++ dupes ++ absent)
      val wantKeys = present.map(_.toSeq).toSet
      val want = cells.filter(c => wantKeys.contains(c.rowkey.toSeq))
      assert(got.size == want.size, ctx)
      assert(got.map(c => (c.rowkey.toSeq, c.qualifier.toSeq, c.ts)).toSet ==
        want.map(c => (c.rowkey.toSeq, c.qualifier.toSeq, c.ts)).toSet, ctx)
    }
  }

  test("FAST_DIFF golden bytes: flag bits, compressed ints, short timestamps") {
    // two hand-encodable cells; single uncompressed block so the encoded
    // stream sits right after the 33-byte header
    val c1 = HCell("r1".getBytes, "f".getBytes, "q".getBytes, 5L, "aa".getBytes)
    val c2 = HCell("r1".getBytes, "f".getBytes, "q2".getBytes, 3L, "ab".getBytes)
    val baos = new ByteArrayOutputStream()
    val w = new HFileWriter(baos, blockSize = 1 << 20,
      encoding = BlockEncoding.FastDiff)
    w.append(c1); w.append(c2); w.finish()
    val bytes = baos.toByteArray
    assert(bytes.slice(0, 8).sameElements(BlockMagicEncodedData))
    val payloadLen = java.nio.ByteBuffer.wrap(bytes, 29, 4).getInt - HeaderSize
    val payload = bytes.slice(HeaderSize, HeaderSize + payloadLen)
    // 2-byte big-endian DataBlockEncoding id (FAST_DIFF = 4), then:
    // cell 1: flag 0x00 (1 ts byte, nothing shared), cInt keyLen=16,
    //   cInt valueLen=2, cInt common=0, key[0..7) = rowLen(i16) row
    //   famLen(u8) fam qual, ts as ONE little-endian byte, type, value;
    // cell 2: flag 0x30 (same value length + same type), cInt keyLen=17,
    //   cInt common=7, key mid '2', ts 0x03, value "ab"
    val expect = Array[Int](
      0x00, 0x04,
      0x00, 0x10, 0x02, 0x00, 0x00, 0x02, 'r', '1', 0x01, 'f', 'q',
      0x05, 0x04, 'a', 'a',
      0x30, 0x11, 0x07, '2', 0x03, 'a', 'b').map(_.toByte)
    assert(payload.sameElements(expect),
      s"got ${payload.map(b => f"$b%02x").mkString(" ")}")
    // and it round-trips
    val back = HFileReader.scan(new HFileReader.BytesRead(bytes)).toSeq
    assert(back.size == 2 && compareCells(back(0), c1) == 0 &&
      compareCells(back(1), c2) == 0 &&
      back(0).value.sameElements("aa".getBytes) &&
      back(1).value.sameElements("ab".getBytes))
  }

  test("DIFF golden bytes: leading family run, low-bit flags, family " +
      "skipped in key deltas, raw-vs-diff timestamps") {
    val c1 = HCell("r1".getBytes, "f".getBytes, "q".getBytes, 5L, "aa".getBytes)
    val c2 = HCell("r1".getBytes, "f".getBytes, "q2".getBytes, 3L, "ab".getBytes)
    val baos = new ByteArrayOutputStream()
    val w = new HFileWriter(baos, blockSize = 1 << 20,
      encoding = BlockEncoding.Diff)
    w.append(c1); w.append(c2); w.finish()
    val bytes = baos.toByteArray
    assert(bytes.slice(0, 8).sameElements(BlockMagicEncodedData))
    val payloadLen = java.nio.ByteBuffer.wrap(bytes, 29, 4).getInt - HeaderSize
    val payload = bytes.slice(HeaderSize, HeaderSize + payloadLen)
    // 2-byte big-endian DataBlockEncoding id (DIFF = 3), then the ONE
    // famLen+family run for the whole stream, then:
    // cell 1: flag 0x00 (1 ts byte, raw, first cell), cInt keyLen=16,
    //   cInt valueLen=2, cInt common=0, rowLen(i16) row (family SKIPPED)
    //   full qualifier, ts 0x05, type, value "aa";
    // cell 2: flag 0x06 (same value length + same type; ts raw — the
    //   diff 5-3=2 is not strictly smaller than raw 3 in bytes), cInt
    //   keyLen=17, cInt common=7 (covers row + family + 'q'), qualifier
    //   suffix '2', ts 0x03, value "ab"
    val expect = Array[Int](
      0x00, 0x03,
      0x01, 'f',
      0x00, 0x10, 0x02, 0x00, 0x00, 0x02, 'r', '1', 'q',
      0x05, 0x04, 'a', 'a',
      0x06, 0x11, 0x07, '2', 0x03, 'a', 'b').map(_.toByte)
    assert(payload.sameElements(expect),
      s"got ${payload.map(b => f"$b%02x").mkString(" ")}")
    val back = HFileReader.scan(new HFileReader.BytesRead(bytes)).toSeq
    assert(back.size == 2 && compareCells(back(0), c1) == 0 &&
      compareCells(back(1), c2) == 0 &&
      back(0).value.sameElements("aa".getBytes) &&
      back(1).value.sameElements("ab".getBytes))
  }

  test("encoded cluster-shaped files: FAST_DIFF + tags + mvcc on every " +
      "read path; PREFIX shrinks prefix-heavy files; foreign encodings " +
      "rejected loudly") {
    val cells = (0 until 400).map { i =>
      cell(f"user#$i%05d", "q", ts = 5L, value = s"v$i").copy(
        tags = if (i % 3 == 0) Array.emptyByteArray
               else Array.fill(i % 13 + 1)((i % 251).toByte),
        mvcc = 2000L + i)
    }
    val baos = new ByteArrayOutputStream()
    val w = new HFileWriter(baos, blockSize = 256, withTagsAndMvcc = true,
      encoding = BlockEncoding.FastDiff)
    cells.foreach(w.append)
    w.finish()
    val bytes = baos.toByteArray
    val stats = HFileReader.validate(new HFileReader.BytesRead(bytes))
    assert(stats.nCells == 400)
    assert(stats.fileInfo.get("DATA_BLOCK_ENCODING")
      .exists(b => new String(b, "UTF-8") == "FAST_DIFF"))
    val back = HFileReader.scan(new HFileReader.BytesRead(bytes)).toSeq
    back.zip(cells).foreach { case (a, b) =>
      assert(compareCells(a, b) == 0 && a.value.sameElements(b.value))
      assert(a.tags.sameElements(b.tags) && a.mvcc == b.mvcc)
    }
    val got = HFileReader.multiGet(new HFileReader.BytesRead(bytes),
      Seq("user#00124".getBytes))
    assert(got.size == 1 && got.head.mvcc == 2124L)
    assert(HFileReader.scanRange(new HFileReader.BytesRead(bytes),
      Some("user#00100".getBytes), Some("user#00110".getBytes)).size == 11)
    // shared-prefix keys: both encodings shrink the file vs plain
    val plain = {
      val b2 = new ByteArrayOutputStream()
      val w2 = new HFileWriter(b2, blockSize = 256, withTagsAndMvcc = true)
      cells.foreach(w2.append); w2.finish(); b2.toByteArray
    }
    val prefix = {
      val b2 = new ByteArrayOutputStream()
      val w2 = new HFileWriter(b2, blockSize = 256, withTagsAndMvcc = true,
        encoding = BlockEncoding.Prefix)
      cells.foreach(w2.append); w2.finish(); b2.toByteArray
    }
    assert(bytes.length < plain.length && prefix.length < plain.length)
    assert(HFileReader.scan(new HFileReader.BytesRead(prefix))
      .zip(cells.iterator).forall { case (a, b) =>
        compareCells(a, b) == 0 && a.tags.sameElements(b.tags) &&
          a.mvcc == b.mvcc
      })
    // a file declaring an encoding this reader does not implement must
    // fail at open with a descriptive error, not mis-parse: rewrite the
    // file info's FAST_DIFF name to DIFF+ (same length, unknown name)
    val name = "FAST_DIFF".getBytes("UTF-8")
    val at = (0 until bytes.length - name.length).find(i =>
      name.indices.forall(j => bytes(i + j) == name(j))).get
    val evil = bytes.clone()
    System.arraycopy("DIFF+XXXX".getBytes("UTF-8"), 0, evil, at, 9)
    val e = intercept[Exception] {
      HFileReader.scan(new HFileReader.BytesRead(evil)).toSeq
    }
    assert(e.getMessage != null)
  }

  test("bulk write path produces encoded files end-to-end") {
    val cells = (0 until 300)
      .map(i => (f"key$i%04d".getBytes, "f", s"q${i % 3}", s"v$i".getBytes))
      .toDF("rowkey", "family", "qualifier", "value")
    val prepared = BulkLoad.prepare(cells, buckets = 2, numPartitions = 2)
    val out = Files.createTempDirectory("hfiles_enc").toString
    // encoding UNDER block compression — the cluster-default combination
    BulkLoad.writeHFiles(prepared, out, encoding = "fast_diff",
      compression = "snappy")
    // every data file leads with the ENCODED_DATA magic and scans back
    val files = new java.io.File(out).listFiles.filter(_.isDirectory)
      .flatMap(_.listFiles).filter(_.getName.endsWith(".hfile"))
    assert(files.nonEmpty)
    files.foreach { f =>
      val head = java.nio.file.Files.readAllBytes(f.toPath).slice(0, 8)
      assert(head.sameElements(BlockMagicEncodedData), f.getName)
    }
    assert(BulkLoad.readHFiles(spark, out).count() == 300)
    // the distributed keyed lookup probes encoded+compressed blocks too
    // (keys on disk are salted — take two real ones plus one absent)
    val present = BulkLoad.readHFiles(spark, out)
      .select("rowkey").distinct().limit(2).collect()
      .map(_.getAs[Array[Byte]](0))
    val keys = (present :+ Array.fill(12)(0x7e.toByte)).toSeq.toDF("rowkey")
    val got = BulkLoad.multiGet(spark, out, keys)
    assert(got.count() == 2) // one cell per present key; the probe misses
  }

  test("maxFileBytes rolls multiple files per bucket; a rowkey never splits") {
    val events = sf("events")
    // user-level rowkeys -> many cells per rowkey (multi-qualifier rows)
    val cells = events.select(
      hb.encode(col("user_id")).as("rowkey"),
      lit("m").as("family"),
      concat(col("event_type"), lit("#"), col("event_id")).as("qualifier"),
      hb.encode(col("value")).as("value"))
    val prepared = BulkLoad.prepare(cells, buckets = 2, numPartitions = 2)
    val out = Files.createTempDirectory("hfiles_roll").toString
    BulkLoad.writeHFiles(prepared, out, blockSize = 1024,
      maxFileBytes = 8 * 1024)
    val back = BulkLoad.readHFiles(spark, out)
    assert(back.count() == cells.count())
    // the cap really rolled: several files inside one bucket
    val filesPerBucket = back.select("bucket", "file").distinct()
      .groupBy("bucket").count().collect().map(_.getLong(1))
    assert(filesPerBucket.exists(_ > 1))
    // every rowkey lives in exactly one file (roll only between rows)
    val split = back.select(hex(col("rowkey")).as("rk"), col("file"))
      .distinct().groupBy("rk").count().filter(col("count") > 1).count()
    assert(split == 0)
  }

  test("end-to-end: prepare -> writeHFiles -> readHFiles round-trips") {
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
    val out = Files.createTempDirectory("hfiles").toString
    BulkLoad.writeHFiles(prepared, out, tsCol = Some("hour_sec"),
      blockSize = 1024) // small blocks -> multi-block files
    val back = BulkLoad.readHFiles(spark, out)

    assert(back.count() == cells.count())
    // exact cell-level equality, including the directory bucket
    val a = prepared.select(col("bucket"), hex(col("salted_key")).as("k"),
      col("family"), col("qualifier"), col("hour_sec").cast("long").as("ts"),
      hex(col("value")).as("v"))
    val b = back.select(col("bucket"), hex(col("rowkey")).as("k"),
      col("family"), col("qualifier"), col("ts"), hex(col("value")).as("v"))
    assert(a.except(b).isEmpty && b.except(a).isEmpty)

    // per-bucket files are non-overlapping sorted runs (scan() enforces
    // in-file order; here check cross-file ranges inside each bucket)
    val ranges = back.groupBy("bucket", "file")
      .agg(min(hex(col("rowkey"))).as("lo"), max(hex(col("rowkey"))).as("hi"))
      .orderBy("bucket", "lo")
      .collect()
    ranges.groupBy(_.getInt(0)).values.foreach { fs =>
      fs.sortBy(_.getAs[String]("lo")).sliding(2).foreach {
        case Array(x, y) =>
          assert(x.getAs[String]("hi") <= y.getAs[String]("lo"),
            "overlapping hfiles within bucket")
        case _ =>
      }
    }
  }

  test("HFileDir.pooled: 200 calls start at most 16 shared pool threads; " +
      "a failing item cancels its own call, and the next call completes") {
    import scala.jdk.CollectionConverters._
    (1 to 200).foreach { i =>
      val items = 1 to 2 + i % 3
      assert(HFileDir.pooled(items)(_ * 2) == items.map(_ * 2))
    }
    // the factory numbers threads in start order, so the highest number
    // alive is the count ever started (pool threads never exit)
    val started = Thread.getAllStackTraces.keySet.asScala.toSeq
      .map(_.getName).filter(_.startsWith(HFileDir.PoolThreadPrefix))
      .map(_.stripPrefix(HFileDir.PoolThreadPrefix).toInt)
    assert(started.nonEmpty && started.max <= 16, s"pool threads $started")
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    val running = new CountDownLatch(1)
    val interrupted = new CountDownLatch(1)
    val e = intercept[java.util.concurrent.ExecutionException] {
      HFileDir.pooled(Seq(1, 2)) { i =>
        if (i == 1) {
          running.await(10, TimeUnit.SECONDS)
          throw new IllegalStateException("boom")
        }
        running.countDown()
        try Thread.sleep(60000)
        catch { case _: InterruptedException => interrupted.countDown() }
      }
    }
    assert(e.getCause.isInstanceOf[IllegalStateException])
    assert(interrupted.await(10, TimeUnit.SECONDS),
      "the failing call's other item kept running")
    assert(HFileDir.pooled(1 to 4)(identity) == (1 to 4))
  }

  test("HFileDir.pooled: a large call keeps at most PoolSize items " +
      "outstanding, so a concurrent small call is not queued behind it") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    import java.util.concurrent.atomic.AtomicInteger
    val n = HFileDir.PoolSize * 4
    val started = new CountDownLatch(1)
    val done = new AtomicInteger
    val big = new Thread(() => {
      HFileDir.pooled(1 to n) { _ =>
        started.countDown()
        Thread.sleep(50)
        done.incrementAndGet()
      }
      ()
    })
    big.start()
    assert(started.await(10, TimeUnit.SECONDS))
    assert(HFileDir.pooled(Seq(1, 2))(_ + 1) == Seq(2, 3))
    // behind a whole backlog the small call would run only after the
    // big call's last PoolSize items had been dequeued
    val doneAtSmall = done.get()
    big.join(30000)
    assert(done.get() == n)
    assert(doneAtSmall < n - HFileDir.PoolSize,
      s"small call finished after $doneAtSmall of $n big-call items")
  }
}
