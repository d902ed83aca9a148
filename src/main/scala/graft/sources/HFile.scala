package graft.sources

import java.io.{ByteArrayOutputStream, DataOutputStream, OutputStream}
import java.nio.ByteBuffer
import java.util.zip.CRC32C

import scala.collection.mutable.ArrayBuffer

/** From-scratch HFile (version 3) binary writer + validating reader.
  *
  * The reference's namesake feature is bulk-loading HBase by writing
  * HFiles directly (HadoopOutputFormat2.java:85-100 delegates to HBase's
  * `HFileOutputFormat2`, rolling a new file whenever the 2-byte salt
  * prefix changes). This build has no hbase jars, so the on-disk format
  * is reimplemented here from the public format description — the HBase
  * book's "HFile format" appendix and the format comments in HBase's
  * `HFileBlock`/`FixedFileTrailer`/`KeyValue` sources. Version 3 is what
  * every HBase 1.0+ cluster writes, and its fixed trailer region really
  * is [[HFile.TrailerSize]] = 4096 bytes (v2's was 212). Layout:
  *
  * {{{
  *  [data block]*                      "scanned" section
  *  [root data index block]            "load-on-open" section
  *  [root meta index block]            (empty — no meta blocks written)
  *  [file info block]
  *  [fixed-size trailer]
  * }}}
  *
  * Every block carries the v2+ 33-byte header
  * `magic(8) | onDiskSizeWithoutHeader(i32) | uncompressedSizeWithoutHeader(i32)
  *  | prevBlockOffset(i64) | checksumType(u8) | bytesPerChecksum(i32)
  *  | onDiskDataSizeWithHeader(i32)`
  * followed by the payload and one CRC32C word per 16 KiB chunk of
  * header+payload (HBase minor version ≥ 1 checksum scheme). Cells are
  * classic KeyValues:
  * `keyLen(i32) valueLen(i32) | rowLen(i16) row famLen(u8) family
  *  qualifier ts(i64) type(u8) | value`
  * in CellComparator order (row, family, qualifier asc; timestamp desc).
  * The file info block and the trailer serialize their protobuf messages
  * (`FileInfoProto`, `FileTrailerProto` from HBase's HFile.proto) with a
  * `PBUF` magic + varint length prefix, hand-encoded below — no protobuf
  * dependency. The trailer region is a fixed [[HFile.TrailerSize]] bytes
  * whose last 4 bytes pack `major | minor << 24`.
  *
  * Row blooms are compound (chunked) like HBase's CompoundBloomFilter:
  * fixed-capacity chunks flush inline among the data blocks as the key
  * stream arrives (writer memory stays O(one chunk)), and a bloom-meta
  * directory block — listed in the root META index under
  * [[HFile.BloomMetaName]] — maps each chunk's first rowkey to its
  * offset, so a point-GET probes exactly one chunk
  * ([[HFileReader.rowkeyMayContain]], five short reads). The chunk
  * payload layout and FNV-1a/murmur-finalizer double hashing are graft's
  * own (HBase's bloom bit layout isn't part of the public format
  * description); the container framing (block headers, checksums, meta
  * index) is standard v2+.
  *
  * Interop caveats, called out rather than hidden: compression NONE, GZ,
  * SNAPPY, LZ4 or ZSTD (HBase codec ids 2/1/3/4/6 — the reference
  * hardcodes `hfile.compression=snappy`, HFileOutputUtil.java:23; GZ via
  * `java.util.zip`, SNAPPY/LZ4 via the pure-JVM-fallback xerial/lz4-java
  * libs Spark already ships, framed like Hadoop's BlockCompressorStream
  * so HBase's SnappyCodec/Lz4Codec read them, ZSTD as standard frames
  * like Hadoop's ZStandardCodec), graft-layout bloom bits (see above),
  * and a write path that omits cell tags and mvcc ids — legal in v3,
  * whose readers switch those on only when the file info carries
  * `hfile.MAX_TAGS_LEN` / `KEY_VALUE_VERSION` keys (omitted here), so
  * graft cells keep the classic KeyValue layout. The READ side honors
  * both flags ([[HFileReader.cellLayoutOf]]), so files written by a
  * live region server — which stamps mvcc ids on every cell and may
  * attach tags — parse correctly (uncompressed tags only; dictionary-
  * compressed tags are rejected loudly). `DATA_BLOCK_ENCODING` is
  * supported both ways for PREFIX, DIFF and FAST_DIFF
  * ([[BlockEncoding]], the `DATABLKE` block magic): cluster files using
  * any of the three deployed delta encodings scan/seek/multiGet
  * correctly, and graft can write encoded files; the removed
  * PREFIX_TREE and ROW_INDEX_V1 are rejected loudly at
  * open, not mis-parsed. Remaining: a single-level
  * data index (fine until a file's index outgrows one block — roughly
  * millions of 64 KiB blocks). Those
  * are the knobs to revisit against a live cluster; every structural
  * invariant that CAN be checked without hbase jars is enforced by
  * [[HFile.validate]] and round-trip tested.
  */
object HFile {

  val BlockMagicData = "DATABLK*".getBytes("UTF-8")
  /** Data block whose payload is `encodingId(i16)` + a delta-encoded cell
    * stream ([[BlockEncoding]]) — HBase's ENCODED_DATA block type.
    */
  val BlockMagicEncodedData = "DATABLKE".getBytes("UTF-8")
  val BlockMagicRootIndex = "IDXROOT2".getBytes("UTF-8")
  val BlockMagicLeafIndex = "IDXLEAF2".getBytes("UTF-8")
  val BlockMagicIntermediateIndex = "IDXINTE2".getBytes("UTF-8")
  val BlockMagicFileInfo = "FILEINF2".getBytes("UTF-8")
  val BlockMagicBloomChunk = "BLMFBLK2".getBytes("UTF-8")
  val BlockMagicMeta = "METABLKc".getBytes("UTF-8")
  val TrailerMagic = "TRABLK\"$".getBytes("UTF-8")
  val PbMagic = "PBUF".getBytes("UTF-8")
  /** Root-meta-index name of the compound row bloom. */
  val BloomMetaName = "graft.bloom"

  val HeaderSize = 33
  val TrailerSize = 4096
  val BytesPerChecksum = 16384
  val ChecksumTypeCrc32c: Byte = 2
  val MajorVersion = 3
  val MinorVersion = 3
  // HBase Compression.Algorithm ordinals (the trailer's compression_codec
  // field): LZO=0, GZ=1, NONE=2, SNAPPY=3, LZ4=4, BZIP2=5, ZSTD=6. GZ is
  // java.util.zip (the same gzip member streams Hadoop's GzipCodec
  // writes); SNAPPY and LZ4 use the xerial snappy-java / lz4-java block
  // kernels Spark already ships, wrapped in Hadoop's
  // BlockCompressorStream framing (what HBase's SnappyCodec/Lz4Codec
  // write); ZSTD is standard zstd frames (Hadoop's ZStandardCodec is a
  // plain stream codec). SNAPPY is what the reference configures for
  // every table (HFileOutputUtil.java:23,47,71).
  val CodecGz = 1
  val CodecNone = 2
  val CodecSnappy = 3
  val CodecLz4 = 4
  val CodecZstd = 6
  val SupportedCodecs: Set[Int] =
    Set(CodecNone, CodecGz, CodecSnappy, CodecLz4, CodecZstd)

  /** Codec id for a user-facing compression name. */
  def codecOf(name: String): Int = name.toLowerCase match {
    case "none" => CodecNone
    case "gz" | "gzip" => CodecGz
    case "snappy" => CodecSnappy
    case "lz4" => CodecLz4
    case "zstd" => CodecZstd
    case other => throw new IllegalArgumentException(
      s"unsupported compression '$other' (supported: none, gz, snappy, lz4, zstd)")
  }

  private[sources] def gzip(payload: Array[Byte]): Array[Byte] = {
    val baos = new ByteArrayOutputStream(payload.length / 3 + 64)
    val gz = new java.util.zip.GZIPOutputStream(baos, 8192)
    gz.write(payload)
    gz.close()
    baos.toByteArray
  }

  private[sources] def gunzip(b: Array[Byte]): Array[Byte] = {
    val in = new java.util.zip.GZIPInputStream(
      new java.io.ByteArrayInputStream(b), 8192)
    try in.readAllBytes() finally in.close()
  }

  /** Raw-chunk size for Hadoop BlockCompressorStream framing, sized the
    * way Hadoop sizes MAX_INPUT_SIZE: `bufferSize - compressionOverhead`
    * against the 256 KiB buffer the HBase-side SnappyDecompressor /
    * Lz4Decompressor allocate, with each codec's own worst-case overhead
    * formula (snappy `len/6 + 32`, lz4 `len/255 + 16`). This guarantees
    * one raw chunk's COMPRESSED output also fits the reader's buffer even
    * for incompressible data — a chunk sized near the full 256 KiB could
    * exceed it and break the interop read for caller-set blockSize ≳
    * 218 KiB.
    */
  private[sources] def blockCompressChunk(codec: Int): Int = {
    val buf = 256 * 1024
    codec match {
      case CodecSnappy => buf - (buf / 6 + 32)
      case CodecLz4    => buf - (buf / 255 + 16)
      case _           => buf - 64
    }
  }

  /** Hadoop BlockCompressorStream framing: per raw chunk, a 4-byte BE
    * uncompressed length, then one compressed chunk as 4-byte BE length +
    * bytes. (Hadoop writes exactly one compressed chunk per raw chunk —
    * its MAX_INPUT_SIZE keeps worst-case output inside one buffer.)
    */
  private def blockFramed(payload: Array[Byte], chunkSize: Int,
                          one: Array[Byte] => Array[Byte]): Array[Byte] = {
    if (payload.isEmpty) return payload // zero chunks round-trips to zero bytes
    val baos = new ByteArrayOutputStream(payload.length / 2 + 64)
    val out = new DataOutputStream(baos)
    var off = 0
    while (off < payload.length) {
      val n = math.min(chunkSize, payload.length - off)
      val comp = one(java.util.Arrays.copyOfRange(payload, off, off + n))
      out.writeInt(n)
      out.writeInt(comp.length)
      out.write(comp)
      off += n
    }
    baos.toByteArray
  }

  /** Inverse of [[blockFramed]]; `one(chunk, rawLen)` decodes a single
    * compressed chunk whose uncompressed size is `rawLen`. Tolerates
    * multiple compressed chunks per raw chunk (legal in the Hadoop
    * format) by tracking produced bytes.
    */
  private def blockUnframed(b: Array[Byte],
                            one: (Array[Byte], Int) => Array[Byte]): Array[Byte] = {
    val in = ByteBuffer.wrap(b)
    val baos = new ByteArrayOutputStream(b.length * 2 + 64)
    // truncated input must fail with the same descriptive corruption
    // message as the other malformed cases, not a raw BufferUnderflow
    def i32(what: String): Int = {
      require(in.remaining() >= 4,
        s"corrupt block-compressed payload: truncated before $what")
      in.getInt
    }
    while (in.remaining() > 0) {
      val rawLen = i32("rawLen")
      require(rawLen >= 0, s"corrupt block-compressed payload: rawLen $rawLen")
      var produced = 0
      while (produced < rawLen) {
        val compLen = i32("compLen")
        require(compLen >= 0 && compLen <= in.remaining(),
          s"corrupt block-compressed payload: compLen $compLen")
        val chunk = new Array[Byte](compLen)
        in.get(chunk)
        val raw = one(chunk, rawLen - produced)
        baos.write(raw)
        produced += raw.length
      }
      require(produced == rawLen,
        s"block-compressed chunk inflated to $produced bytes, expected $rawLen")
    }
    baos.toByteArray
  }

  private[sources] def compress(codec: Int, payload: Array[Byte]): Array[Byte] =
    codec match {
      case CodecNone => payload
      case CodecGz => gzip(payload)
      case CodecSnappy =>
        blockFramed(payload, blockCompressChunk(codec),
          org.xerial.snappy.Snappy.compress)
      case CodecLz4 =>
        val c = net.jpountz.lz4.LZ4Factory.fastestInstance().fastCompressor()
        blockFramed(payload, blockCompressChunk(codec), c.compress)
      case CodecZstd =>
        com.github.luben.zstd.Zstd.compress(payload, 3)
      case other =>
        throw new IllegalArgumentException(s"unsupported compression codec $other")
    }

  private[sources] def decompress(codec: Int, raw: Array[Byte],
                                  uncompressedSize: Int): Array[Byte] = {
    val payload = codec match {
      case CodecNone => raw
      case CodecGz => gunzip(raw)
      case CodecSnappy =>
        blockUnframed(raw, (chunk, _) => org.xerial.snappy.Snappy.uncompress(chunk))
      case CodecLz4 =>
        val d = net.jpountz.lz4.LZ4Factory.fastestInstance().safeDecompressor()
        blockUnframed(raw, (chunk, maxLen) => d.decompress(chunk, maxLen))
      case CodecZstd =>
        val in = new com.github.luben.zstd.ZstdInputStream(
          new java.io.ByteArrayInputStream(raw))
        try in.readAllBytes() finally in.close()
      case other =>
        throw new IllegalStateException(s"unsupported compression codec $other")
    }
    require(payload.length == uncompressedSize,
      s"decompressed size ${payload.length} != header uncompressed size " +
        s"$uncompressedSize")
    payload
  }
  val KeyTypePut: Byte = 4
  val KeyTypeDelete: Byte = 8
  val KeyTypeDeleteColumn: Byte = 12
  val KeyTypeDeleteFamily: Byte = 14
  val DefaultBlockSize = 64 * 1024
  /** Row-bloom chunk capacity (keys); 0 disables the bloom. Chunked like
    * HBase's CompoundBloomFilter so writer memory stays O(one chunk)
    * (~150 KiB at 1% fpp) no matter how many rows a file holds.
    */
  val DefaultBloomChunkKeys = 128 * 1024
  val DefaultBloomFpp = 0.01
  /** Max entries per data-index block before the index goes multi-level
    * (leaf → intermediate → root). At ~30-60 B/entry a level holds its
    * root to well under a block; 16k² entries ≈ 256M data blocks ≈ 16 TiB
    * in one file at 64 KiB blocks before a third level is needed.
    */
  val DefaultIndexBlockEntries = 16 * 1024
  /** Size cap per emitted HFile (the `hbase.hregion.max.filesize`
    * analogue, default 10 GiB): writers roll to a new file in the same
    * bucket once past this, at the next rowkey boundary.
    */
  val DefaultMaxFileBytes: Long = 10L * 1024 * 1024 * 1024

  // ---- bloom hashing ---------------------------------------------------

  private[sources] def fmix64(h0: Long): Long = {
    var h = h0
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL
    h ^= h >>> 33; h *= 0xc4ceb9fe1a85ec53L
    h ^= h >>> 33
    h
  }

  /** Two independent 64-bit hashes of a key (FNV-1a stream + murmur
    * finalizer), combined per probe Kirsch-Mitzenmacher style:
    * bit_i = (h1 + i·h2) mod nBits.
    */
  private[sources] def bloomHashes(key: Array[Byte]): (Long, Long) = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < key.length) { h ^= key(i) & 0xffL; h *= 0x100000001b3L; i += 1 }
    (fmix64(h), fmix64(h ^ 0x9e3779b97f4a7c15L))
  }

  /** One fixed-capacity bloom chunk. Serialized payload:
    * `nKeys(i32) k(i32) nBits(i64) bitWords(i64)*`.
    */
  private[sources] class BloomChunkBuilder(capacity: Int,
                                           fpp: Double = DefaultBloomFpp) {
    private val ln2 = math.log(2)
    /** Bit count = the classic -n·ln(p)/ln²2 sizing rounded up to a
      * multiple of `64·2^FoldDepth` (HBase ByteBloomFilter's fold-factor
      * approach): the word array is then halvable at least `FoldDepth`
      * times, so [[serialize]]'s fold-down applies to sparsely-filled
      * chunks, while a FULL chunk pays at most one quantum (≤ 1 KiB) of
      * slack — next-power-of-two rounding cost full chunks ~1.44× on
      * average (up to 2×) for the same foldability.
      */
    private val rawBits: Long =
      math.ceil(-capacity * math.log(fpp) / (ln2 * ln2)).toLong
    val nBits: Long = {
      val quantum = 64L << BloomChunkBuilder.FoldDepth
      math.max(quantum, (rawBits + quantum - 1) / quantum * quantum)
    }
    /** Hash count from the RAW (pre-quantum) bits-per-key ratio: the
      * quantum floor (8192 bits) would otherwise inflate k far past
      * optimal for small-capacity configurations (capacity 100 → k 57
      * instead of 7), multiplying every probe's work; extra padded bits
      * with the raw-optimal k only ever LOWER the fpp.
      */
    val k: Int = math.max(1, math.round(rawBits.toDouble / capacity * ln2).toInt)
    private val words = new Array[Long]((nBits / 64).toInt)
    var nKeys = 0

    def add(key: Array[Byte]): Unit = {
      val (h1, h2) = bloomHashes(key)
      var i = 0
      while (i < k) {
        val bit = java.lang.Long.remainderUnsigned(h1 + i * h2, nBits)
        words((bit >>> 6).toInt) |= 1L << (bit & 63)
        i += 1
      }
      nKeys += 1
    }

    /** Serializes the chunk, FOLDING a partially-filled bit array down
      * first — the public behavior of HBase's ByteBloomFilter /
      * CompoundBloomFilterWriter (a chunk flushed below capacity is
      * shrunk so small files don't carry full-capacity blooms; at the
      * default parameters an unfolded chunk is ~150 KiB even for a
      * 10-row file, which dominates small streaming/compaction HFiles).
      * Folding ORs the two halves of the bit array while the halved
      * size still provides the target-fpp bit budget for the ACTUAL
      * key count: since `x mod n == (x mod 2n) mod n`, every
      * Kirsch-Mitzenmacher probe of a key lands on the same folded
      * bit, so membership answers (and the fpp bound at `nKeys`) are
      * preserved exactly. `k` stays optimal: it depends only on the
      * bits-per-key RATIO, which folding maintains.
      */
    def serialize(): Array[Byte] = {
      // smallest n with (1 - e^(-k·nKeys/n))^k <= fpp — the exact fpp
      // bound for THIS chunk's k (which was sized for the full-capacity
      // ratio and stays fixed through folding)
      val needed = math.max(64L, math.ceil(
        k.toDouble * math.max(nKeys, 1) /
          -math.log1p(-math.pow(fpp, 1.0 / k))).toLong)
      var w = words
      var n = nBits
      while (w.length % 2 == 0 && n / 2 >= needed) {
        val half = w.length / 2
        val folded = new Array[Long](half)
        var i = 0
        while (i < half) { folded(i) = w(i) | w(i + half); i += 1 }
        w = folded; n = n / 2
      }
      val buf = ByteBuffer.allocate(16 + w.length * 8)
      buf.putInt(nKeys); buf.putInt(k); buf.putLong(n)
      w.foreach(buf.putLong)
      buf.array()
    }
  }

  private[sources] object BloomChunkBuilder {
    /** Guaranteed fold levels: sizing quantum = 64·2^FoldDepth bits, so
      * a near-empty chunk folds down to (at worst) nBits / 2^7 — the
      * same few-hundred-byte floor the power-of-two sizing reached.
      */
    val FoldDepth = 7
  }

  /** Membership test against a serialized bloom chunk payload. */
  def bloomMayContain(payload: Array[Byte], key: Array[Byte]): Boolean = {
    val buf = ByteBuffer.wrap(payload)
    buf.getInt // nKeys
    val k = buf.getInt
    val nBits = buf.getLong
    require(nBits > 0 && 16 + nBits / 8 <= payload.length, "corrupt bloom chunk")
    val (h1, h2) = bloomHashes(key)
    var i = 0
    while (i < k) {
      val bit = java.lang.Long.remainderUnsigned(h1 + i * h2, nBits)
      val w = buf.getLong(16 + (bit >>> 6).toInt * 8)
      if ((w & (1L << (bit & 63))) == 0) return false
      i += 1
    }
    true
  }

  /** One cell as stored: `rowkey` is the full (salted) binary row key;
    * `keyType` is the KeyValue type byte (Put or a Delete marker —
    * bulk-loadable like HBase's own delete-marker HFiles).
    *
    * `tags` and `mvcc` exist for interop with CLUSTER-written v3 files
    * (a region server stamps every cell with its memstore sequence id,
    * and may attach tags for TTL/ACL metadata): [[HFileReader]] parses
    * them when the file-info flags say they are present, so foreign
    * files scan correctly. graft's own write path omits both (legal in
    * v3, and the bulk-load use case has no per-cell metadata); the
    * DataFrame surface does not carry them, so a compaction rewrite of
    * a cluster file drops tags — like a major compaction collecting
    * expired metadata, but unconditionally. Documented, not hidden.
    */
  case class HCell(rowkey: Array[Byte], family: Array[Byte],
                   qualifier: Array[Byte], ts: Long, value: Array[Byte],
                   keyType: Byte = KeyTypePut,
                   tags: Array[Byte] = Array.emptyByteArray,
                   mvcc: Long = 0L)

  /** The serialized cell key (the "key" in KeyValue terms):
    * `rowLen(i16) row famLen(u8) family qualifier ts(i64) type(u8)`.
    */
  def serializeKey(c: HCell): Array[Byte] = {
    val buf = ByteBuffer.allocate(2 + c.rowkey.length + 1 + c.family.length +
      c.qualifier.length + 8 + 1)
    buf.putShort(c.rowkey.length.toShort)
    buf.put(c.rowkey)
    buf.put(c.family.length.toByte)
    buf.put(c.family)
    buf.put(c.qualifier)
    buf.putLong(c.ts)
    buf.put(c.keyType)
    buf.array()
  }

  /** CellComparator order: row, family, qualifier ascending (unsigned
    * byte-lexicographic), then timestamp descending, then type byte
    * descending (delete markers sort before puts at the same ts).
    */
  def compareCells(a: HCell, b: HCell): Int = {
    var c = java.util.Arrays.compareUnsigned(a.rowkey, b.rowkey)
    if (c == 0) c = java.util.Arrays.compareUnsigned(a.family, b.family)
    if (c == 0) c = java.util.Arrays.compareUnsigned(a.qualifier, b.qualifier)
    if (c == 0) c = java.lang.Long.compare(b.ts, a.ts) // newer first
    if (c == 0) c = java.lang.Integer.compare(b.keyType & 0xff, a.keyType & 0xff)
    c
  }

  // ---- protobuf (LEB128) helpers ---------------------------------------

  private[sources] def writeVarint(out: OutputStream, v0: Long): Unit = {
    var v = v0
    while ((v & ~0x7fL) != 0) {
      out.write(((v & 0x7f) | 0x80).toInt)
      v >>>= 7
    }
    out.write(v.toInt)
  }

  private[sources] def varintField(out: OutputStream, field: Int, v: Long): Unit = {
    writeVarint(out, (field << 3) | 0) // wire type 0
    writeVarint(out, v)
  }

  private[sources] def bytesField(out: OutputStream, field: Int,
                         b: Array[Byte]): Unit = {
    writeVarint(out, (field << 3) | 2) // wire type 2
    writeVarint(out, b.length)
    out.write(b)
  }

  private[sources] class ProtoReader(buf: Array[Byte], var pos: Int,
                                     val end: Int) {
    def hasMore: Boolean = pos < end
    def readVarint(): Long = {
      var shift = 0; var v = 0L
      var b = 0x80
      while ((b & 0x80) != 0) {
        require(pos < end, "varint ran off buffer")
        b = buf(pos) & 0xff; pos += 1
        v |= (b & 0x7fL) << shift; shift += 7
      }
      v
    }
    /** (fieldNo, value-or-null-bytes): wire 0 → (f, Left(v)), wire 2 →
      * (f, Right(bytes)).
      */
    def readField(): (Int, Either[Long, Array[Byte]]) = {
      val tag = readVarint()
      val field = (tag >> 3).toInt
      (tag & 7) match {
        case 0 => (field, Left(readVarint()))
        case 2 =>
          val len = readVarint().toInt
          require(pos + len <= end, "length-delimited field ran off buffer")
          val b = java.util.Arrays.copyOfRange(buf, pos, pos + len)
          pos += len
          (field, Right(b))
        case w => throw new IllegalStateException(s"unsupported wire type $w")
      }
    }
  }

  // ---- Hadoop WritableUtils vint (used for index keys) -----------------

  private[sources] def writeHadoopVLong(out: DataOutputStream, i: Long): Unit = {
    if (i >= -112 && i <= 127) { out.writeByte(i.toInt); return }
    var len = -112
    var v = i
    if (v < 0) { v ^= -1L; len = -120 }
    var tmp = v
    while (tmp != 0) { tmp >>>= 8; len -= 1 }
    out.writeByte(len)
    val n = if (len < -120) -(len + 120) else -(len + 112)
    var idx = n
    while (idx != 0) {
      val shift = (idx - 1) * 8
      out.writeByte(((v >>> shift) & 0xff).toInt)
      idx -= 1
    }
  }

  private[sources] def readHadoopVLong(buf: ByteBuffer): Long = {
    val first = buf.get().toInt
    if (first >= -112) return first.toLong
    val negative = first < -120
    val n = if (negative) -(first + 120) else -(first + 112)
    var v = 0L
    (0 until n).foreach(_ => v = (v << 8) | (buf.get() & 0xffL))
    if (negative) v ^ -1L else v
  }

  // ---- file stats (validate() output) ----------------------------------

  case class FileStats(nDataBlocks: Int, nCells: Long, nIndexEntries: Int,
                       fileInfo: Map[String, Array[Byte]],
                       firstKeyHex: String, lastKeyHex: String,
                       nBloomChunks: Int = 0)
}

/** Streaming single-file writer. Not thread-safe; call [[append]] in
  * strictly increasing cell order, then [[finish]]. Memory is O(block
  * size + one index entry per block).
  *
  * @param withTagsAndMvcc serialize each cell's `tags` (u16 length
  *   prefix) and `mvcc` (Hadoop vlong) and declare them in the file info
  *   (`hfile.MAX_TAGS_LEN`, `KEY_VALUE_VERSION`, `MAX_MEMSTORE_TS`) — the
  *   layout a region-server-written v3 file has. `BulkLoad.writeHFiles`
  *   sets it when given `tagsCol`/`mvccCol`, which `Compaction`'s rewrite
  *   passes whenever its input carries tags or mvcc ids, so they survive
  *   the rewrite; specs also use it to synthesize cluster-shaped files.
  */
class HFileWriter(out: OutputStream,
                  blockSize: Int = HFile.DefaultBlockSize,
                  codec: Int = HFile.CodecNone,
                  bloomChunkKeys: Int = HFile.DefaultBloomChunkKeys,
                  indexBlockEntries: Int = HFile.DefaultIndexBlockEntries,
                  withTagsAndMvcc: Boolean = false,
                  encoding: Int = BlockEncoding.None) {
  import HFile._
  require(SupportedCodecs.contains(codec),
    s"unsupported codec id $codec (supported: $CodecNone=NONE, $CodecGz=GZ, " +
      s"$CodecSnappy=SNAPPY, $CodecLz4=LZ4, $CodecZstd=ZSTD)")
  require(BlockEncoding.Supported.contains(encoding),
    s"unsupported data block encoding id $encoding " +
      "(supported: NONE, PREFIX, DIFF, FAST_DIFF)")
  // grouped(1) would never shrink the root entry list — finish() would
  // loop writing index blocks forever
  require(indexBlockEntries >= 2,
    s"indexBlockEntries must be >= 2, got $indexBlockEntries")

  private val cellBuf = new ByteArrayOutputStream(blockSize + 8192)
  private val cellOut = new DataOutputStream(cellBuf)
  // per-block delta-encoder (state = previous cell in block); rebuilt at
  // every block start, like HBase's per-block encoding context
  private val cellLayout =
    HFileReader.CellLayout(tags = withTagsAndMvcc, mvcc = withTagsAndMvcc,
      encoding = encoding)
  private var blockEncoder: BlockEncoding.Encoder = null
  private var offset = 0L
  private var prevBlockOffset = -1L
  private var blockFirstCell: HCell = null
  private var lastCell: HCell = null
  private var blockCells = 0L
  // what the UNENCODED cell layout would have occupied for this block's
  // cells — HBase cuts a block when either the encoded or the unencoded
  // size reaches blockSize (HFileWriterImpl.checkBlockBoundary), so
  // encoded files keep the reference's block boundaries instead of
  // packing more cells per block
  private var blockUnencodedBytes = 0L

  private case class IndexEntry(offset: Long, onDiskSizeWithHeader: Int,
                                firstKey: Array[Byte])
  private val index = ArrayBuffer[IndexEntry]()
  // compound row bloom: one fixed-capacity chunk at a time; consecutive
  // cells share a rowkey, so dedup against the last added key is exact
  private var bloom: BloomChunkBuilder = null
  private var bloomChunkFirstRow: Array[Byte] = null
  private var lastBloomRow: Array[Byte] = null
  private var bloomTotalKeys = 0L
  // (offset, onDiskSizeWithHeader, firstRowkey) per flushed bloom chunk
  private val bloomChunks = ArrayBuffer[(Long, Int, Array[Byte])]()
  // (name, offset, onDiskSizeWithHeader) per meta block, for the meta index
  private val metaBlocks = ArrayBuffer[(String, Long, Int)]()
  private var indexLevels = 1
  private var rootEntryCount = 0
  private var entryCount = 0L
  private var totalKeyLen = 0L
  private var totalValueLen = 0L
  private var totalUncompressedBytes = 0L
  private var firstDataBlockOffset = -1L
  private var lastDataBlockOffset = -1L
  private var firstCellRow: Array[Byte] = null
  private var maxTagsLen = 0
  private var maxMemstoreTS = 0L
  private var finished = false

  /** On-disk bytes emitted so far (block-aligned; the buffered partial
    * data block is not counted). Callers use this to roll to a new file
    * at a size cap.
    */
  def bytesWritten: Long = offset

  /** The last appended cell's rowkey, null before the first append —
    * size-cap rolling must only split BETWEEN rowkeys (same-row cells in
    * two files would overlap at that key, breaking the bulk-load
    * non-overlap invariant).
    */
  def lastRowkey: Array[Byte] = if (lastCell == null) null else lastCell.rowkey

  /** The first appended cell's rowkey, null before the first append.
    * With [[lastRowkey]] and [[cellCount]] this lets a writer's owner
    * record the file's manifest entry at commit without re-reading the
    * file it just wrote.
    */
  def firstRowkey: Array[Byte] = firstCellRow

  /** Cells appended so far (equals the trailer's entry_count after
    * [[finish]]).
    */
  def cellCount: Long = entryCount

  def append(cell: HCell): Unit = {
    require(!finished, "writer already finished")
    // the serialized key stores rowLen as i16 and famLen as u8 — longer
    // inputs would silently wrap into a corrupt (or plausible-but-wrong)
    // key, so reject them here
    require(cell.rowkey.length <= Short.MaxValue,
      s"rowkey too long: ${cell.rowkey.length} > ${Short.MaxValue}")
    require(cell.family.length <= 255,
      s"family too long: ${cell.family.length} > 255")
    require(lastCell == null || compareCells(lastCell, cell) < 0,
      s"cells must be strictly increasing; got ${hexKey(cell)} after ${hexKey(lastCell)}")
    if (cellBuf.size() >= blockSize || blockUnencodedBytes >= blockSize)
      flushDataBlock()
    if (blockFirstCell == null) blockFirstCell = cell
    if (firstCellRow == null) firstCellRow = cell.rowkey
    if (bloomChunkKeys > 0 &&
        (lastBloomRow == null || !java.util.Arrays.equals(lastBloomRow, cell.rowkey))) {
      if (bloom == null) {
        bloom = new BloomChunkBuilder(bloomChunkKeys)
        bloomChunkFirstRow = cell.rowkey
      }
      bloom.add(cell.rowkey)
      bloomTotalKeys += 1
      lastBloomRow = cell.rowkey
      if (bloom.nKeys >= bloomChunkKeys) flushBloomChunk()
    }
    if (withTagsAndMvcc) {
      require(cell.tags.length <= Short.MaxValue,
        s"tags too long: ${cell.tags.length}")
      maxTagsLen = math.max(maxTagsLen, cell.tags.length)
      maxMemstoreTS = math.max(maxMemstoreTS, cell.mvcc)
    }
    val key = serializeKey(cell)
    if (encoding != BlockEncoding.None) {
      // encoded block payloads start with the 2-byte encoding id
      if (blockEncoder == null) {
        cellOut.writeShort(encoding)
        blockEncoder = new BlockEncoding.Encoder(encoding, cellLayout)
      }
      blockEncoder.encode(cell, cellOut)
    } else {
      cellOut.writeInt(key.length)
      cellOut.writeInt(cell.value.length)
      cellOut.write(key)
      cellOut.write(cell.value)
      if (withTagsAndMvcc) {
        cellOut.writeShort(cell.tags.length)
        cellOut.write(cell.tags)
        writeHadoopVLong(cellOut, cell.mvcc)
      }
    }
    totalKeyLen += key.length
    totalValueLen += cell.value.length
    blockUnencodedBytes += 8L + key.length + cell.value.length +
      (if (withTagsAndMvcc) 2L + cell.tags.length + 9L else 0L)
    entryCount += 1
    blockCells += 1
    lastCell = cell
  }

  /** Writes index + file info + trailer. The stream is flushed but not
    * closed (callers own it).
    */
  def finish(): Unit = {
    require(!finished, "writer already finished")
    if (cellBuf.size() > 0) flushDataBlock()
    if (bloom != null && bloom.nKeys > 0) flushBloomChunk()
    // bloom meta (chunk directory) is a META block in the body, listed in
    // the root meta index — the CompoundBloomFilter layout
    if (bloomChunks.nonEmpty) {
      val at = offset
      val onDisk = writeBlock(BlockMagicMeta, bloomMetaPayload())
      metaBlocks += ((BloomMetaName, at, onDisk))
    }
    // multi-level index: collapse entries bottom-up (leaf → intermediate)
    // until one root block holds the rest; sub-root blocks live in the
    // body, the root is the first load-on-open block
    var rootEntries: Seq[IndexEntry] = index.toSeq
    indexLevels = 1
    while (rootEntries.size > indexBlockEntries) {
      val magic = if (indexLevels == 1) BlockMagicLeafIndex
        else BlockMagicIntermediateIndex
      rootEntries = rootEntries.grouped(indexBlockEntries).map { group =>
        val at = offset
        val onDisk = writeBlock(magic, indexPayload(group))
        IndexEntry(at, onDisk, group.head.firstKey)
      }.toSeq
      indexLevels += 1
    }
    val loadOnOpenOffset = offset
    writeBlock(BlockMagicRootIndex, indexPayload(rootEntries))
    rootEntryCount = rootEntries.size
    // root META index — HBase's load-on-open section always carries one,
    // empty when no meta blocks were written (meta_index_count = 0)
    writeBlock(BlockMagicRootIndex, metaIndexPayload())
    val fileInfoOffset = offset
    writeBlock(BlockMagicFileInfo, fileInfoPayload())
    writeTrailer(loadOnOpenOffset, fileInfoOffset)
    out.flush()
    finished = true
  }

  private def flushBloomChunk(): Unit = {
    val at = offset
    val onDisk = writeBlock(BlockMagicBloomChunk, bloom.serialize())
    bloomChunks += ((at, onDisk, bloomChunkFirstRow))
    bloom = null
    bloomChunkFirstRow = null
  }

  /** Bloom chunk directory:
    * `version(i32) totalKeys(i64) chunkKeys(i32) nChunks(i32)` then per
    * chunk `offset(i64) onDiskSizeWithHeader(i32) vint(rowLen) firstRow`.
    */
  private def bloomMetaPayload(): Array[Byte] = {
    val baos = new ByteArrayOutputStream()
    val d = new DataOutputStream(baos)
    d.writeInt(1)
    d.writeLong(bloomTotalKeys)
    d.writeInt(bloomChunkKeys)
    d.writeInt(bloomChunks.size)
    bloomChunks.foreach { case (off, size, firstRow) =>
      d.writeLong(off)
      d.writeInt(size)
      writeHadoopVLong(d, firstRow.length.toLong)
      d.write(firstRow)
    }
    baos.toByteArray
  }

  /** Root meta index: per meta block
    * `offset(i64) onDiskSizeWithHeader(i32) vint(nameLen) nameBytes` —
    * the same entry shape as the root data index, keyed by name.
    */
  private def metaIndexPayload(): Array[Byte] = {
    val baos = new ByteArrayOutputStream()
    val d = new DataOutputStream(baos)
    metaBlocks.foreach { case (name, off, size) =>
      d.writeLong(off)
      d.writeInt(size)
      val nb = name.getBytes("UTF-8")
      writeHadoopVLong(d, nb.length.toLong)
      d.write(nb)
    }
    baos.toByteArray
  }

  private def hexKey(c: HCell): String =
    if (c == null) "<none>"
    else c.rowkey.map(b => f"$b%02x").mkString +
      "/" + new String(c.family, "UTF-8") +
      ":" + new String(c.qualifier, "UTF-8") + "/" + c.ts

  private def flushDataBlock(): Unit = {
    val payload = cellBuf.toByteArray
    val at = offset
    val magic = if (encoding != BlockEncoding.None) BlockMagicEncodedData
      else BlockMagicData
    val onDisk = writeBlock(magic, payload)
    if (firstDataBlockOffset < 0) firstDataBlockOffset = at
    lastDataBlockOffset = at
    index += IndexEntry(at, onDisk, serializeKey(blockFirstCell))
    cellBuf.reset()
    blockFirstCell = null
    blockEncoder = null
    blockCells = 0
    blockUnencodedBytes = 0L
  }

  /** v2 block: 33-byte header + (possibly compressed) payload + CRC32C
    * per 16 KiB chunk of header+on-disk-payload. With compression the
    * header's onDisk* fields carry the compressed size while
    * uncompressedSizeWithoutHeader keeps the logical size — exactly the
    * v2+ layout. Returns on-disk size incl. header and checksums.
    */
  private def writeBlock(magic: Array[Byte], payload: Array[Byte]): Int = {
    val onDiskPayload = compress(codec, payload)
    val nChunks = (HeaderSize + onDiskPayload.length + BytesPerChecksum - 1) /
      BytesPerChecksum
    val checksumLen = 4 * nChunks
    val header = ByteBuffer.allocate(HeaderSize)
    header.put(magic)
    header.putInt(onDiskPayload.length + checksumLen) // onDiskSizeWithoutHeader
    header.putInt(payload.length)               // uncompressedSizeWithoutHeader
    header.putLong(prevBlockOffset)
    header.put(ChecksumTypeCrc32c)
    header.putInt(BytesPerChecksum)
    header.putInt(HeaderSize + onDiskPayload.length) // onDiskDataSizeWithHeader
    val headerBytes = header.array()

    val checksummed = new Array[Byte](HeaderSize + onDiskPayload.length)
    System.arraycopy(headerBytes, 0, checksummed, 0, HeaderSize)
    System.arraycopy(onDiskPayload, 0, checksummed, HeaderSize,
      onDiskPayload.length)
    val checks = ByteBuffer.allocate(checksumLen)
    var pos = 0
    while (pos < checksummed.length) {
      val n = math.min(BytesPerChecksum, checksummed.length - pos)
      val crc = new CRC32C()
      crc.update(checksummed, pos, n)
      checks.putInt(crc.getValue.toInt)
      pos += n
    }

    out.write(checksummed)
    out.write(checks.array())
    prevBlockOffset = offset
    val onDiskWithHeader = HeaderSize + onDiskPayload.length + checksumLen
    totalUncompressedBytes += HeaderSize + payload.length
    offset += onDiskWithHeader
    onDiskWithHeader
  }

  /** Index block payload (every level): per child
    * `offset(i64) onDiskSizeWithHeader(i32) vint(keyLen) firstKey`.
    */
  private def indexPayload(entries: Seq[IndexEntry]): Array[Byte] = {
    val baos = new ByteArrayOutputStream()
    val d = new DataOutputStream(baos)
    entries.foreach { e =>
      d.writeLong(e.offset)
      d.writeInt(e.onDiskSizeWithHeader)
      writeHadoopVLong(d, e.firstKey.length.toLong)
      d.write(e.firstKey)
    }
    baos.toByteArray
  }

  /** `PBUF` + varint-length-prefixed FileInfoProto
    * (`repeated BytesBytesPair map_entry = 1`).
    */
  private def fileInfoPayload(): Array[Byte] = {
    def i32(v: Int): Array[Byte] = ByteBuffer.allocate(4).putInt(v).array()
    def i64(v: Long): Array[Byte] = ByteBuffer.allocate(8).putLong(v).array()
    val entries = Seq(
      "hfile.LASTKEY" ->
        (if (lastCell == null) Array.emptyByteArray else serializeKey(lastCell)),
      "hfile.AVG_KEY_LEN" ->
        i32(if (entryCount == 0) 0 else (totalKeyLen / entryCount).toInt),
      "hfile.AVG_VALUE_LEN" ->
        i32(if (entryCount == 0) 0 else (totalValueLen / entryCount).toInt)) ++
      // the flags HFileReader keys its per-cell layout on — exactly what
      // HBase's HFileWriterImpl.finishFileInfo declares (tags length,
      // tags-uncompressed, KeyValue version WITH memstore ts, max mvcc)
      (if (withTagsAndMvcc) Seq(
        "hfile.MAX_TAGS_LEN" -> i32(maxTagsLen),
        "hfile.TAGS_COMPRESSED" -> Array(0.toByte),
        "KEY_VALUE_VERSION" -> i32(1),
        "MAX_MEMSTORE_TS" -> i64(maxMemstoreTS))
       else Nil) ++
      // what HFileDataBlockEncoderImpl.saveMetadata records: the
      // DataBlockEncoding enum name under DATA_BLOCK_ENCODING
      (if (encoding != BlockEncoding.None) Seq(
        "DATA_BLOCK_ENCODING" ->
          BlockEncoding.nameOf(encoding).getBytes("UTF-8"))
       else Nil)
    val proto = new ByteArrayOutputStream()
    entries.foreach { case (k, v) =>
      val pair = new ByteArrayOutputStream()
      bytesField(pair, 1, k.getBytes("UTF-8"))
      bytesField(pair, 2, v)
      bytesField(proto, 1, pair.toByteArray)
    }
    val baos = new ByteArrayOutputStream()
    baos.write(PbMagic)
    writeVarint(baos, proto.size())
    proto.writeTo(baos)
    baos.toByteArray
  }

  /** Fixed-size trailer region: magic + `PBUF` + varint-prefixed
    * FileTrailerProto, zero-padded so the region is exactly
    * [[HFile.TrailerSize]] bytes and ends with `major | minor << 24`.
    */
  private def writeTrailer(loadOnOpenOffset: Long,
                           fileInfoOffset: Long): Unit = {
    val proto = new ByteArrayOutputStream()
    varintField(proto, 1, fileInfoOffset)
    varintField(proto, 2, loadOnOpenOffset)
    varintField(proto, 3, totalUncompressedBytes) // uncompressed_data_index_size stand-in
    varintField(proto, 4, totalUncompressedBytes)
    varintField(proto, 5, rootEntryCount.toLong)  // data_index_count (root)
    varintField(proto, 6, metaBlocks.size.toLong) // meta_index_count
    varintField(proto, 7, entryCount)
    varintField(proto, 8, indexLevels.toLong)     // num_data_index_levels
    varintField(proto, 9,
      if (firstDataBlockOffset < 0) 0 else firstDataBlockOffset)
    varintField(proto, 10,
      if (lastDataBlockOffset < 0) 0 else lastDataBlockOffset)
    bytesField(proto, 11,
      "org.apache.hadoop.hbase.CellComparatorImpl".getBytes("UTF-8"))
    varintField(proto, 12, codec.toLong)          // compression codec

    val region = ByteBuffer.allocate(TrailerSize)
    region.put(TrailerMagic)
    region.put(PbMagic)
    val protoBytes = proto.toByteArray
    val lenPrefix = new ByteArrayOutputStream()
    writeVarint(lenPrefix, protoBytes.length.toLong)
    region.put(lenPrefix.toByteArray)
    region.put(protoBytes)
    region.position(TrailerSize - 4)
    region.putInt(MajorVersion | (MinorVersion << 24))
    out.write(region.array())
    offset += TrailerSize
  }
}
