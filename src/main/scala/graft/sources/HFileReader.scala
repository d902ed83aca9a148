package graft.sources

import java.nio.ByteBuffer
import java.util.zip.CRC32C

import scala.collection.mutable.ArrayBuffer

/** Validating HFile reader for the [[HFile]] layout.
  *
  * Reads the fixed trailer, then streams the data blocks in file order
  * with O(one block) memory — the shape a distributed scan needs: each
  * executor thread walks one file sequentially, so a directory of
  * HFiles scans with the same IO pattern as any splittable columnar
  * read (block-at-a-time, no whole-file buffering).
  *
  * Everything structural is verified while scanning: block magics, the
  * CRC32C of every 16 KiB chunk, the prev-block-offset chain, block
  * sizes against header fields, cell sort order, and (via [[validate]])
  * the root index entries against the blocks actually seen and the
  * trailer's entry/block counts.
  */
object HFileReader {
  import HFile._

  /** Positional-read abstraction so tests can scan in-memory bytes and
    * the Spark path can scan Hadoop streams.
    */
  trait RandomRead extends AutoCloseable {
    def length: Long
    def readFully(pos: Long, len: Int): Array[Byte]
    def close(): Unit = ()
  }

  final class BytesRead(bytes: Array[Byte]) extends RandomRead {
    def length: Long = bytes.length.toLong
    def readFully(pos: Long, len: Int): Array[Byte] =
      java.util.Arrays.copyOfRange(bytes, pos.toInt, pos.toInt + len)
  }

  case class Trailer(fileInfoOffset: Long, loadOnOpenOffset: Long,
                     dataIndexCount: Int, entryCount: Long,
                     numDataIndexLevels: Int, firstDataBlockOffset: Long,
                     lastDataBlockOffset: Long, comparator: String,
                     majorVersion: Int, minorVersion: Int,
                     compressionCodec: Int)

  def readTrailer(r: RandomRead): Trailer = {
    require(r.length >= TrailerSize, s"file too short for trailer: ${r.length}")
    val region = r.readFully(r.length - TrailerSize, TrailerSize)
    require(region.startsWith(TrailerMagic),
      "bad trailer magic — not a graft HFile")
    val version = ByteBuffer.wrap(region, TrailerSize - 4, 4).getInt
    val major = version & 0x00ffffff
    val minor = version >>> 24
    require(major == MajorVersion, s"unsupported HFile major version $major")
    var pos = TrailerMagic.length
    require(region.slice(pos, pos + PbMagic.length).sameElements(PbMagic),
      "missing PBUF magic in trailer")
    pos += PbMagic.length
    val pre = new ProtoReader(region, pos, region.length)
    val protoLen = pre.readVarint().toInt
    val p = new ProtoReader(region, pre.pos, pre.pos + protoLen)
    var fileInfoOffset, loadOnOpen, entryCount = 0L
    var dataIndexCount, levels = 0
    var firstData, lastData = -1L
    var comparator = ""
    var codec = HFile.CodecNone // proto3 default absence = writer's NONE
    while (p.hasMore) p.readField() match {
      case (1, Left(v))  => fileInfoOffset = v
      case (2, Left(v))  => loadOnOpen = v
      case (5, Left(v))  => dataIndexCount = v.toInt
      case (7, Left(v))  => entryCount = v
      case (8, Left(v))  => levels = v.toInt
      case (9, Left(v))  => firstData = v
      case (10, Left(v)) => lastData = v
      case (11, Right(b)) => comparator = new String(b, "UTF-8")
      case (12, Left(v)) => codec = v.toInt
      case _ => // ignore unknown/unused fields
    }
    Trailer(fileInfoOffset, loadOnOpen, dataIndexCount, entryCount, levels,
      firstData, lastData, comparator, major, minor, codec)
  }

  private case class Block(offset: Long, magic: Array[Byte],
                           payload: Array[Byte], onDiskSizeWithHeader: Int)

  /** Sentinel for [[readBlock]]: skip the prev-offset chain check (random
    * access into the load-on-open section, where the previous block's
    * offset isn't known without walking the whole file).
    */
  private val AnyPrevOffset = Long.MinValue

  /** Reads + fully verifies one block at `pos` (magic, checksums, header
    * size fields, prev-offset chain), decompressing the payload per the
    * trailer's codec. Checksums cover the on-disk (compressed) bytes;
    * uncompressedSizeWithoutHeader is verified against the inflated
    * payload.
    */
  private def readBlock(r: RandomRead, pos: Long, expectPrevOffset: Long,
                        codec: Int = HFile.CodecNone): Block = {
    val header = r.readFully(pos, HeaderSize)
    val hb = ByteBuffer.wrap(header)
    val magic = new Array[Byte](8); hb.get(magic)
    val onDiskSizeWithoutHeader = hb.getInt
    val uncompressedSize = hb.getInt
    val prevOffset = hb.getLong
    val checksumType = hb.get()
    val bytesPerChecksum = hb.getInt
    val onDiskDataSizeWithHeader = hb.getInt
    require(checksumType == ChecksumTypeCrc32c,
      s"unsupported checksum type $checksumType")
    require(expectPrevOffset == AnyPrevOffset || prevOffset == expectPrevOffset,
      s"broken prev-block chain at $pos: $prevOffset != $expectPrevOffset")
    val payloadLen = onDiskDataSizeWithHeader - HeaderSize
    require(payloadLen >= 0 && payloadLen <= onDiskSizeWithoutHeader,
      s"header size fields disagree at $pos")
    if (codec == CodecNone)
      require(payloadLen == uncompressedSize,
        s"header size fields disagree at $pos")
    val payloadAndChecks = r.readFully(pos + HeaderSize, onDiskSizeWithoutHeader)
    val checksums = ByteBuffer.wrap(payloadAndChecks, payloadLen,
      onDiskSizeWithoutHeader - payloadLen)
    val checksummed = new Array[Byte](HeaderSize + payloadLen)
    System.arraycopy(header, 0, checksummed, 0, HeaderSize)
    System.arraycopy(payloadAndChecks, 0, checksummed, HeaderSize, payloadLen)
    var p = 0
    while (p < checksummed.length) {
      val n = math.min(bytesPerChecksum, checksummed.length - p)
      val crc = new CRC32C()
      crc.update(checksummed, p, n)
      require(checksums.getInt == crc.getValue.toInt,
        s"CRC32C mismatch in block at $pos (chunk at $p)")
      p += n
    }
    val raw = java.util.Arrays.copyOfRange(payloadAndChecks, 0, payloadLen)
    val payload = HFile.decompress(codec, raw, uncompressedSize)
    Block(pos, magic, payload, HeaderSize + onDiskSizeWithoutHeader)
  }

  /** Per-cell serialization flags a v3 file declares in its file info:
    * a region-server-written file appends a u16-length-prefixed tags
    * run (`hfile.MAX_TAGS_LEN` present) and/or a Hadoop-vlong memstore
    * sequence id (`KEY_VALUE_VERSION` >= 1) after every cell's value.
    * graft's own files carry neither; honoring the flags is what lets
    * the reader scan arbitrary cluster files (the reference reads them
    * through the HBase jars, AbstractTableInputFormat.java).
    */
  private[graft] case class CellLayout(tags: Boolean, mvcc: Boolean,
                                         encoding: Int = BlockEncoding.None)

  private[graft] val PlainLayout = CellLayout(tags = false, mvcc = false)

  /** Reads the file-info block and derives the cell layout. One extra
    * short read per file open — nothing at scan scale. Dictionary-
    * compressed tags (`hfile.TAGS_COMPRESSED` = true) are rejected
    * loudly rather than mis-parsed.
    */
  private[graft] def cellLayoutOf(r: RandomRead, trailer: Trailer): CellLayout = {
    if (trailer.entryCount == 0) return PlainLayout
    val info = fileInfo(r, trailer)
    val tags = info.contains("hfile.MAX_TAGS_LEN")
    if (tags) require(!info.get("hfile.TAGS_COMPRESSED").exists(
      b => b.nonEmpty && b(0) != 0),
      "dictionary-compressed tags are not supported")
    val mvcc = info.get("KEY_VALUE_VERSION")
      .exists(b => b.length >= 4 && ByteBuffer.wrap(b).getInt >= 1)
    // DATA_BLOCK_ENCODING names the delta encoding of every data block;
    // an unsupported name (DIFF, ROW_INDEX_V1) fails here, loudly, not
    // as a mis-parse later
    val encoding = info.get("DATA_BLOCK_ENCODING")
      .map(b => BlockEncoding.idOf(new String(b, "UTF-8")))
      .getOrElse(BlockEncoding.None)
    CellLayout(tags, mvcc, encoding)
  }

  private def isDataMagic(m: Array[Byte]): Boolean =
    m.sameElements(BlockMagicData) || m.sameElements(BlockMagicEncodedData)

  /** Cell stream of one data block, dispatching on its magic: a plain
    * KeyValue stream, or an ENCODED_DATA payload whose leading 2-byte
    * encoding id is verified against the file info's
    * `DATA_BLOCK_ENCODING` declaration — a file must be uniformly
    * encoded or uniformly plain, anything else is corruption.
    */
  private def parseDataBlock(magic: Array[Byte], payload: Array[Byte],
                             layout: CellLayout): Iterator[HCell] =
    if (magic.sameElements(BlockMagicEncodedData)) {
      require(payload.length >= 2, "encoded data block too short for its id")
      val id = ((payload(0) & 0xff) << 8) | (payload(1) & 0xff)
      require(id == layout.encoding,
        s"block encoding id ${BlockEncoding.nameOf(id)} != file info " +
          s"DATA_BLOCK_ENCODING ${BlockEncoding.nameOf(layout.encoding)}")
      BlockEncoding.decode(id,
        java.util.Arrays.copyOfRange(payload, 2, payload.length), layout)
    } else {
      require(layout.encoding == BlockEncoding.None,
        "plain data block in a file declaring DATA_BLOCK_ENCODING " +
          BlockEncoding.nameOf(layout.encoding))
      parseCells(payload, layout)
    }

  private def parseCells(payload: Array[Byte],
                         layout: CellLayout): Iterator[HCell] =
    new Iterator[HCell] {
      private val buf = ByteBuffer.wrap(payload)
      def hasNext: Boolean = buf.remaining() > 0
      def next(): HCell = {
        val keyLen = buf.getInt
        val valueLen = buf.getInt
        val rowLen = buf.getShort & 0xffff
        val rowkey = new Array[Byte](rowLen); buf.get(rowkey)
        val famLen = buf.get() & 0xff
        val family = new Array[Byte](famLen); buf.get(family)
        val qualLen = keyLen - 2 - rowLen - 1 - famLen - 8 - 1
        require(qualLen >= 0, "negative qualifier length — corrupt key")
        val qualifier = new Array[Byte](qualLen); buf.get(qualifier)
        val ts = buf.getLong
        val typ = buf.get()
        require(typ == KeyTypePut || typ == KeyTypeDelete ||
          typ == KeyTypeDeleteColumn || typ == KeyTypeDeleteFamily,
          s"unexpected key type $typ")
        val value = new Array[Byte](valueLen); buf.get(value)
        val tags =
          if (!layout.tags) Array.emptyByteArray
          else {
            val tagsLen = buf.getShort & 0xffff
            val t = new Array[Byte](tagsLen); buf.get(t)
            t
          }
        val mvcc = if (layout.mvcc) readHadoopVLong(buf) else 0L
        HCell(rowkey, family, qualifier, ts, value, typ, tags, mvcc)
      }
    }

  /** Streams every cell in file order, verifying block structure and
    * cell sort order as it goes. Bloom chunks and meta blocks interleave
    * with data blocks (HBase's inline-block layout) and are skipped.
    * Closes `r` when exhausted.
    */
  def scan(r: RandomRead): Iterator[HCell] = {
    val trailer = readTrailer(r)
    if (trailer.firstDataBlockOffset < 0 || trailer.entryCount == 0) {
      r.close(); return Iterator.empty
    }
    val layout = cellLayoutOf(r, trailer)
    val cells = sectionBlocks(r, trailer).flatMap { b =>
      if (isDataMagic(b.magic)) parseDataBlock(b.magic, b.payload, layout)
      else {
        require(b.magic.sameElements(BlockMagicBloomChunk) ||
          b.magic.sameElements(BlockMagicMeta) ||
          b.magic.sameElements(BlockMagicLeafIndex) ||
          b.magic.sameElements(BlockMagicIntermediateIndex),
          s"unexpected block magic in scanned section at ${b.offset}")
        Iterator.empty
      }
    }
    var lastCell: HCell = null
    var seen = 0L
    new Iterator[HCell] {
      def hasNext: Boolean = {
        val more = cells.hasNext
        if (!more) {
          require(seen == trailer.entryCount,
            s"cell count ${seen} != trailer entry_count ${trailer.entryCount}")
          r.close()
        }
        more
      }
      def next(): HCell = {
        val c = cells.next()
        require(lastCell == null || compareCells(lastCell, c) < 0,
          "cells out of order in file")
        lastCell = c
        seen += 1
        c
      }
    }
  }

  /** The scanned section's blocks in file order — data blocks with the
    * bloom chunks, meta and sub-root index blocks inlined between them —
    * each checked against the prev-offset chain. The walk starts at
    * offset 0: a bloom chunk may precede the first data block.
    */
  private def sectionBlocks(r: RandomRead, trailer: Trailer): Iterator[Block] =
    Iterator.unfold((0L, -1L)) { case (pos, prev) =>
      if (pos >= trailer.loadOnOpenOffset) None
      else {
        val b = readBlock(r, pos, prev, trailer.compressionCodec)
        Some((b, (pos + b.onDiskSizeWithHeader, pos)))
      }
    }

  /** The file info block's key → bytes map. */
  private def fileInfo(r: RandomRead, trailer: Trailer,
                       prev: Long = AnyPrevOffset): Map[String, Array[Byte]] = {
    val fi = readBlock(r, trailer.fileInfoOffset, prev,
      trailer.compressionCodec)
    require(fi.magic.sameElements(BlockMagicFileInfo), "missing file info")
    parseFileInfo(fi.payload)
  }

  /** Parses a file-info block payload (`PBUF` + varint-prefixed
    * FileInfoProto) into its key → bytes map.
    */
  private def parseFileInfo(payload: Array[Byte]): Map[String, Array[Byte]] = {
    require(payload.slice(0, PbMagic.length).sameElements(PbMagic),
      "file info lacks PBUF magic")
    val pre = new ProtoReader(payload, PbMagic.length, payload.length)
    val protoLen = pre.readVarint().toInt
    val p = new ProtoReader(payload, pre.pos, pre.pos + protoLen)
    val info = scala.collection.mutable.Map[String, Array[Byte]]()
    while (p.hasMore) p.readField() match {
      case (1, Right(pair)) =>
        val pp = new ProtoReader(pair, 0, pair.length)
        var k: Array[Byte] = null; var v: Array[Byte] = null
        while (pp.hasMore) pp.readField() match {
          case (1, Right(b)) => k = b
          case (2, Right(b)) => v = b
          case _ =>
        }
        info += new String(k, "UTF-8") -> v
      case _ =>
    }
    info.toMap
  }

  /** The rowkey portion of a serialized cell key
    * (`rowLen(i16) row famLen(u8) ...`).
    */
  private def rowkeyOfKey(key: Array[Byte]): Array[Byte] = {
    val rowLen = ((key(0) & 0xff) << 8) | (key(1) & 0xff)
    java.util.Arrays.copyOfRange(key, 2, 2 + rowLen)
  }

  /** Cheap (three short reads, no data-block IO) first/last rowkey of a
    * file: the trailer, the root data index's first entry, and the file
    * info's `hfile.LASTKEY`. `None` for an empty file. This is what a
    * planner needs to prune whole files against a rowkey range — the
    * file-skipping analogue of a parquet footer's min/max.
    */
  def rowkeyRange(r: RandomRead): Option[(Array[Byte], Array[Byte])] =
    rowkeyRange(r, readTrailer(r))

  private[sources] def rowkeyRange(r: RandomRead, trailer: Trailer)
      : Option[(Array[Byte], Array[Byte])] = {
    if (trailer.entryCount == 0 || trailer.firstDataBlockOffset < 0)
      return None
    val ib = ByteBuffer.wrap(rootIndex(r, trailer).payload)
    ib.getLong; ib.getInt // first entry's offset + on-disk size
    val keyLen = readHadoopVLong(ib).toInt
    val firstKey = new Array[Byte](keyLen); ib.get(firstKey)
    val lastKey = fileInfo(r, trailer).getOrElse("hfile.LASTKEY",
      throw new IllegalStateException("file info lacks hfile.LASTKEY"))
    Some((rowkeyOfKey(firstKey), rowkeyOfKey(lastKey)))
  }

  /** Full structural audit: everything [[scan]] checks, plus the root
    * index entries (offsets, sizes, first keys) against the data blocks
    * actually present, and the file info block.
    */
  def validate(r: RandomRead): FileStats = {
    val trailer = readTrailer(r)
    val layout = cellLayoutOf(r, trailer)
    var prev = -1L
    var nBlocks = 0
    var nCells = 0L
    var nBloomChunks = 0
    var firstKey = ""; var lastKey = ""
    val blockStarts = ArrayBuffer[(Long, Int, Array[Byte])]()
    val metaStarts = ArrayBuffer[(Long, Int)]()
    sectionBlocks(r, trailer).foreach { b =>
      if (isDataMagic(b.magic)) {
        var blockFirstKey: Array[Byte] = null
        var last: HCell = null
        parseDataBlock(b.magic, b.payload, layout).foreach { c =>
          require(last == null || compareCells(last, c) < 0, "cells out of order")
          val keyHex = (c.rowkey ++ c.family ++ c.qualifier).map(x => f"$x%02x").mkString
          if (firstKey.isEmpty) firstKey = keyHex
          lastKey = keyHex
          if (blockFirstKey == null)
            blockFirstKey = serializeKey(c)
          last = c
          nCells += 1
        }
        blockStarts += ((b.offset, b.onDiskSizeWithHeader, blockFirstKey))
        nBlocks += 1
      } else if (b.magic.sameElements(BlockMagicBloomChunk)) {
        nBloomChunks += 1
      } else if (b.magic.sameElements(BlockMagicMeta)) {
        metaStarts += ((b.offset, b.onDiskSizeWithHeader))
      } else if (b.magic.sameElements(BlockMagicLeafIndex) ||
          b.magic.sameElements(BlockMagicIntermediateIndex)) {
        // sub-root index blocks; verified via the root descent below
      } else {
        throw new IllegalStateException(s"unexpected block magic at ${b.offset}")
      }
      prev = b.offset
    }
    // dataIndexCount counts ROOT entries: data blocks when single-level,
    // top-level index blocks otherwise (checked against the root below)
    if (trailer.numDataIndexLevels == 1)
      require(nBlocks == trailer.dataIndexCount,
        s"$nBlocks data blocks != trailer data_index_count ${trailer.dataIndexCount}")
    require(nCells == trailer.entryCount,
      s"$nCells cells != trailer entry_count ${trailer.entryCount}")

    // root index block + multi-level descent down to the data entries
    val idx = rootIndex(r, trailer, prev)
    require(parseIndexEntries(idx.payload).length == trailer.dataIndexCount,
      "root entry count != trailer data_index_count")
    val dataEntries = coveringBlocks(idx, trailer.numDataIndexLevels,
      None, None, readBlock(r, _, AnyPrevOffset, trailer.compressionCodec))
    var nIdx = 0
    dataEntries.foreach { case (off, size, key) =>
      val (expOff, expSize, expKey) = blockStarts(nIdx)
      require(off == expOff && size == expSize,
        s"index entry $nIdx points at ($off,$size), block is ($expOff,$expSize)")
      require(key.sameElements(expKey), s"index entry $nIdx first-key mismatch")
      nIdx += 1
    }
    require(nIdx == nBlocks, s"$nIdx index entries for $nBlocks blocks")

    // root META index block (always present; entries point at the META
    // blocks seen in the body walk)
    val metaEntries = metaIndex(r, trailer, idx, trailer.loadOnOpenOffset)
    require(metaEntries.size == metaStarts.size,
      s"meta index lists ${metaEntries.size} blocks, ${metaStarts.size} present")
    metaEntries.values.zip(metaStarts).foreach { case ((off, size), (eo, es)) =>
      require(off == eo && size == es, "meta index entry offset/size mismatch")
    }
    // bloom meta (when present) must agree with the chunks actually seen
    bloomChunks(r, trailer, metaEntries).foreach { chunks =>
      require(chunks.length == nBloomChunks,
        s"bloom meta lists ${chunks.length} chunks, $nBloomChunks present")
    }

    // file info block
    val info = fileInfo(r, trailer,
      trailer.loadOnOpenOffset + idx.onDiskSizeWithHeader)
    r.close()
    FileStats(nBlocks, nCells, nIdx, info, firstKey, lastKey, nBloomChunks)
  }

  /** Root meta index payload → name → (offset, onDiskSizeWithHeader),
    * insertion-ordered.
    */
  private def parseMetaIndex(payload: Array[Byte])
      : scala.collection.SeqMap[String, (Long, Int)] =
    scala.collection.mutable.LinkedHashMap.from(parseIndexEntries(payload)
      .map { case (off, size, name) => new String(name, "UTF-8") -> ((off, size)) })

  /** Bloom meta payload → (chunkOffset, chunkOnDiskSize, firstRowkey)
    * per chunk, in key order.
    */
  private def parseBloomMeta(payload: Array[Byte])
      : Array[(Long, Int, Array[Byte])] = {
    val buf = ByteBuffer.wrap(payload)
    val version = buf.getInt
    require(version == 1, s"unsupported bloom meta version $version")
    buf.getLong // totalKeys
    buf.getInt  // chunkKeys
    val n = buf.getInt
    val chunks = parseIndexEntries(payload, buf.position())
    require(chunks.length == n, s"bloom meta lists $n chunks, holds ${chunks.length}")
    chunks
  }

  /** Root data index block: the first block of the load-on-open section. */
  private def rootIndex(r: RandomRead, trailer: Trailer,
                        prev: Long = AnyPrevOffset): Block = {
    val root = readBlock(r, trailer.loadOnOpenOffset, prev,
      trailer.compressionCodec)
    require(root.magic.sameElements(BlockMagicRootIndex), "missing root index")
    root
  }

  /** The root meta index, the block right after `root`: meta block name
    * → (offset, onDiskSizeWithHeader).
    */
  private def metaIndex(r: RandomRead, trailer: Trailer, root: Block,
                        prev: Long = AnyPrevOffset)
      : scala.collection.SeqMap[String, (Long, Int)] = {
    val metaIdx = readBlock(r,
      trailer.loadOnOpenOffset + root.onDiskSizeWithHeader, prev,
      trailer.compressionCodec)
    require(metaIdx.magic.sameElements(BlockMagicRootIndex),
      "missing root meta index")
    parseMetaIndex(metaIdx.payload)
  }

  /** The row bloom's chunk table `(offset, size, firstRowkey)` from the
    * bloom meta block the meta index names; None when the file carries
    * no bloom.
    */
  private def bloomChunks(r: RandomRead, trailer: Trailer,
                          metaEntries: scala.collection.Map[String, (Long, Int)])
      : Option[Array[(Long, Int, Array[Byte])]] =
    metaEntries.get(HFile.BloomMetaName).map { case (off, _) =>
      val bm = readBlock(r, off, AnyPrevOffset, trailer.compressionCodec)
      require(bm.magic.sameElements(BlockMagicMeta), "bloom meta magic")
      parseBloomMeta(bm.payload)
    }

  /** Bloom verdict for `rowkey` against its owning chunk — the last whose
    * firstRowkey <= key (chunks partition the sorted key stream into
    * contiguous ranges); `block` loads a block by offset.
    */
  private def bloomMayContain(chunks: Array[(Long, Int, Array[Byte])],
                              rowkey: Array[Byte],
                              block: Long => Block): Boolean = {
    var lo = 0; var hi = chunks.length - 1; var owner = -1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      if (java.util.Arrays.compareUnsigned(chunks(mid)._3, rowkey) <= 0) {
        owner = mid; lo = mid + 1
      } else hi = mid - 1
    }
    owner >= 0 && {
      val cb = block(chunks(owner)._1)
      require(cb.magic.sameElements(BlockMagicBloomChunk), "bloom chunk magic")
      HFile.bloomMayContain(cb.payload, rowkey)
    }
  }

  /** Bloom membership probe for a rowkey: `Some(false)` = definitely
    * absent (prune the file), `Some(true)` = maybe present, `None` = the
    * file carries no bloom (fall back to the key range). Five short
    * reads: trailer, root index, meta index, bloom meta, one chunk.
    */
  def rowkeyMayContain(r: RandomRead, rowkey: Array[Byte]): Option[Boolean] = {
    val trailer = readTrailer(r)
    if (trailer.entryCount == 0) return Some(false)
    val metaEntries = metaIndex(r, trailer, rootIndex(r, trailer))
    bloomChunks(r, trailer, metaEntries).map(bloomMayContain(_, rowkey,
      readBlock(r, _, AnyPrevOffset, trailer.compressionCodec)))
  }

  // ---- multi-level index -------------------------------------------------

  /** `(offset, onDiskSizeWithHeader, key)` entries from `from` to the end
    * of `payload` — the one entry shape of every data index block (any
    * level, keyed by first cell key), the root meta index (keyed by
    * name) and the bloom meta's chunk table (keyed by first rowkey).
    */
  private def parseIndexEntries(payload: Array[Byte], from: Int = 0)
      : Array[(Long, Int, Array[Byte])] = {
    val ib = ByteBuffer.wrap(payload, from, payload.length - from)
    val out = ArrayBuffer[(Long, Int, Array[Byte])]()
    while (ib.remaining() > 0) {
      val off = ib.getLong
      val size = ib.getInt
      val keyLen = readHadoopVLong(ib).toInt
      val key = new Array[Byte](keyLen); ib.get(key)
      out += ((off, size, key))
    }
    out.toArray
  }

  /** Data blocks whose key range may intersect `[lower, upper]`
    * (inclusive rowkey bounds, either side optional), found by descending
    * the index — O(levels × log fanout) block reads, not a file walk. The
    * shape a point-GET task needs: stream 1-2 blocks of a multi-GiB file.
    */
  private[sources] def dataBlocksInRange(r: RandomRead,
                                         lower: Option[Array[Byte]],
                                         upper: Option[Array[Byte]])
      : Seq[(Long, Int)] =
    dataBlocksInRange(r, readTrailer(r), lower, upper)

  private def dataBlocksInRange(r: RandomRead, trailer: Trailer,
                                lower: Option[Array[Byte]],
                                upper: Option[Array[Byte]]): Seq[(Long, Int)] =
    if (trailer.entryCount == 0) Nil
    else coveringBlocks(rootIndex(r, trailer), trailer.numDataIndexLevels,
      lower, upper, readBlock(r, _, AnyPrevOffset, trailer.compressionCodec))
        .map { case (off, size, _) => (off, size) }

  /** How many data blocks may intersect `[lower, upper]`, as far as it
    * matters against `limit`: the descent of [[dataBlocksInRange]], given
    * up once one level selects more than `limit` entries, so any result
    * above `limit` means only "more than `limit`". A wide range costs the
    * index blocks of its first few entries, not its whole index.
    */
  private[sources] def dataBlockCount(r: RandomRead,
                                      lower: Option[Array[Byte]],
                                      upper: Option[Array[Byte]],
                                      limit: Int): Int = {
    val trailer = readTrailer(r)
    if (trailer.entryCount == 0) 0
    else coveringBlocks(rootIndex(r, trailer), trailer.numDataIndexLevels,
      lower, upper, readBlock(r, _, AnyPrevOffset, trailer.compressionCodec),
      limit).size
  }

  /** The one index descent, under [[validate]] (unbounded),
    * [[dataBlocksInRange]] and [[multiGet]] (a point get is the `[k, k]`
    * range): from the root, keep every entry whose span may intersect
    * `[lower, upper]` — entry i covers [firstRow_i, firstRow_{i+1}],
    * inclusive on the right because a row's cells can span a block
    * boundary — verifying each sub-level's index magic on the way down.
    * Returns the data entries `(offset, onDiskSizeWithHeader, firstKey)`;
    * `block` loads an index block by offset.
    *
    * With a `limit`, the descent stops as soon as one level has selected
    * more than `limit` entries and returns that partial level. Each
    * selected entry's child block selects at least one entry of its own
    * (its last entry with first row <= `upper`), so a level's count never
    * exceeds the data blocks below it.
    */
  private def coveringBlocks(root: Block, levels: Int,
                             lower: Option[Array[Byte]],
                             upper: Option[Array[Byte]],
                             block: Long => Block,
                             limit: Int = Int.MaxValue)
      : Seq[(Long, Int, Array[Byte])] = {
    def select(payload: Array[Byte]): Array[(Long, Int, Array[Byte])] = {
      val entries = parseIndexEntries(payload)
      entries.zipWithIndex.filter { case ((_, _, key), i) =>
        upper.forall(u =>
          java.util.Arrays.compareUnsigned(rowkeyOfKey(key), u) <= 0) &&
          lower.forall { l =>
            i == entries.length - 1 ||
              java.util.Arrays.compareUnsigned(
                rowkeyOfKey(entries(i + 1)._3), l) >= 0
          }
      }.map(_._1)
    }
    var level = select(root.payload)
    var depth = levels
    while (depth > 1 && level.length <= limit) {
      val magic = if (depth == 2) BlockMagicLeafIndex
        else BlockMagicIntermediateIndex
      val next = Array.newBuilder[(Long, Int, Array[Byte])]
      var selected = 0
      val it = level.iterator
      while (it.hasNext && selected <= limit) {
        val off = it.next()._1
        val b = block(off)
        require(b.magic.sameElements(magic), s"expected index block at $off")
        val entries = select(b.payload)
        next ++= entries
        selected += entries.length
      }
      level = next.result()
      depth -= 1
    }
    level.toSeq
  }

  /** Batched point-GETs against one open file — the multi-get primitive a
    * distributed keyed lookup needs. One trailer/root/meta read for the
    * whole batch; per key a (cached) bloom-chunk probe, then an index
    * descent with index/data blocks cached by offset, so a sorted key
    * batch landing in the same block costs one block read. Does NOT close
    * `r` (callers batch multiple calls over one stream).
    */
  def multiGet(r: RandomRead, keys0: Seq[Array[Byte]]): Seq[HCell] = {
    if (keys0.isEmpty) return Nil
    val trailer = readTrailer(r)
    if (trailer.entryCount == 0) return Nil
    val layout = cellLayoutOf(r, trailer)
    val root = rootIndex(r, trailer)
    val chunks = bloomChunks(r, trailer, metaIndex(r, trailer, root))
    val blockCache = scala.collection.mutable.Map[Long, Block]()
    def cachedBlock(off: Long): Block = blockCache.getOrElseUpdate(off,
      readBlock(r, off, AnyPrevOffset, trailer.compressionCodec))
    def cmp(a: Array[Byte], b: Array[Byte]) =
      java.util.Arrays.compareUnsigned(a, b)

    // Array equality is referential, so .distinct would NOT dedup equal
    // byte arrays — sort first, then drop adjacent duplicates by content
    val keys = keys0.sortWith(cmp(_, _) < 0)
      .foldLeft(Vector.empty[Array[Byte]]) { (acc, k) =>
        if (acc.nonEmpty && cmp(acc.last, k) == 0) acc else acc :+ k
      }
    keys.flatMap { k =>
      if (!chunks.forall(bloomMayContain(_, k, cachedBlock))) Nil
      else coveringBlocks(root, trailer.numDataIndexLevels, Some(k), Some(k),
          cachedBlock).flatMap { case (off, _, _) =>
        val b = cachedBlock(off)
        require(isDataMagic(b.magic), s"unexpected block magic at $off")
        parseDataBlock(b.magic, b.payload, layout)
          .filter(c => cmp(c.rowkey, k) == 0)
      }
    }
  }

  /** Streams the cells of `[lower, upper]` (inclusive rowkey bounds) by
    * reading only the covering data blocks via the index. Block-level
    * checks (magic, checksums, sizes) stay active; the prev-offset chain
    * and total entry count can't be verified on a partial scan. Rows
    * outside the bounds at the edges of the covering blocks are filtered
    * here. Closes `r` when exhausted.
    */
  def scanRange(r: RandomRead, lower: Option[Array[Byte]],
                upper: Option[Array[Byte]]): Iterator[HCell] = {
    val trailer = readTrailer(r)
    val blocks = dataBlocksInRange(r, trailer, lower, upper)
    if (blocks.isEmpty) { r.close(); return Iterator.empty }
    val layout = cellLayoutOf(r, trailer)
    val it = blocks.iterator.flatMap { case (off, _) =>
      val b = readBlock(r, off, AnyPrevOffset, trailer.compressionCodec)
      require(isDataMagic(b.magic),
        s"index pointed at non-data block at $off")
      parseDataBlock(b.magic, b.payload, layout)
    }.filter { c =>
      lower.forall(l => java.util.Arrays.compareUnsigned(c.rowkey, l) >= 0) &&
        upper.forall(u => java.util.Arrays.compareUnsigned(c.rowkey, u) <= 0)
    }
    new Iterator[HCell] {
      def hasNext: Boolean = { val m = it.hasNext; if (!m) r.close(); m }
      def next(): HCell = it.next()
    }
  }
}
