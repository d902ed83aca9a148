package perfbench

import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{BpeKernel, BytesCodec, TextHashes, bpe}
import graft.operators.Bpe
import graft.sources.{HFile, HFileReader, HFileWriter}

/** Spark-free microbenchmark of the kernels and the HFile code at fixed
  * inputs (independent of the run's seed): ns or us per unit, the median
  * of five timed passes after one warm pass.
  */
object Micro {
  private val Passes = 5

  private def perUnit(units: Long)(pass: => Unit): Double = {
    pass
    Stats.median((1 to Passes).map { _ =>
      val t0 = System.nanoTime(); pass; (System.nanoTime() - t0).toDouble / units
    })
  }

  /** Counts data blocks read: every block read starts with its header,
    * whose first bytes are the block magic.
    */
  private final class CountingRead(inner: HFileReader.RandomRead)
      extends HFileReader.RandomRead {
    var dataBlocks = 0
    def length: Long = inner.length
    def readFully(pos: Long, len: Int): Array[Byte] = {
      val b = inner.readFully(pos, len)
      if (len == HFile.HeaderSize &&
          (b.startsWith(HFile.BlockMagicData) || b.startsWith(HFile.BlockMagicEncodedData)))
        dataBlocks += 1
      b
    }
  }

  private def hfile(cells: Seq[HFile.HCell], encoding: Int): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val w = new HFileWriter(bos, encoding = encoding)
    cells.foreach(w.append)
    w.finish()
    bos.toByteArray
  }

  /** A pronounceable word for vocabulary rank `i`. */
  private def word(i: Int): String = {
    val letters = "bcdfghjklmnprstvw"
    val vowels = "aeiou"
    val sb = new StringBuilder
    var x = i + 17
    while (x > 0 || sb.isEmpty) {
      sb += letters(x % letters.length); x /= letters.length
      sb += vowels(x % vowels.length); x /= vowels.length
    }
    sb.toString
  }

  /** 500 fixed documents of 80-200 words, Zipf(1.0) over 3000 words. */
  private def docs(): Array[UTF8String] = {
    val r = Gen.rng(42L, 21)
    val z = new Zipf(3000, 1.0)
    val words = Array.tabulate(3000)(word)
    Array.fill(500)(UTF8String.fromString(
      Array.fill(80 + r.nextInt(121))(words(z.sample(r))).mkString(" ")))
  }

  def run(): Seq[Metric] = {
    val docs = this.docs()
    val docBytes = docs.map(_.numBytes().toLong).sum
    val minhash = perUnit(docs.length) {
      docs.foreach(d => TextHashes.minhashSig(TextHashes.wordShingleHashes(d, 3), 128))
    }
    val merges = Bpe.frozenMerges
    val ma = merges.map(_._1).toArray; val mb = merges.map(_._2).toArray
    val idMap = bpe.mergeIdMap(merges); val unk = bpe.unkId(merges)
    val bpeNs = perUnit(docBytes) {
      docs.foreach(d => BpeKernel.encodeIds(d, ma, mb, idMap, unk))
    }

    val n = 100000
    val users = Array.tabulate(n)(i => (i * 7919L) % 50000)
    var sink = 0
    val salt = perUnit(n) {
      users.foreach { u =>
        val ub = BytesCodec.encodeLong(u)
        val b = math.abs(BytesCodec.javaArraysHashCode(ub) % 16)
        sink += (BytesCodec.encodeShort(b.toShort) ++ BytesCodec.encodeInt(1704067200) ++ ub).length
      }
    }

    // even keys stored; odd keys in the same range are absent
    val family = "m".getBytes("UTF-8")
    val qual = "view".getBytes("UTF-8")
    def key(i: Int): Array[Byte] = BytesCodec.encodeLong(2L * i)
    val cells = (0 until n).map(i => HFile.HCell(key(i), family, qual,
      1704067200000L + i, BytesCodec.encodeDouble(i / 100.0)))
    val append = perUnit(n)(hfile(cells, graft.sources.BlockEncoding.None))
    val plain = hfile(cells, graft.sources.BlockEncoding.None)
    val encoded = hfile(cells, graft.sources.BlockEncoding.FastDiff)
    val decode = perUnit(n) {
      HFileReader.scan(new HFileReader.BytesRead(encoded)).foreach(c => sink += c.rowkey.length)
    }
    val r = Gen.rng(42L, 20)
    val batches = Seq.fill(30)(Seq.fill(64)(key(r.nextInt(n))).distinctBy(java.nio.ByteBuffer.wrap)
      .sortWith((a, b) => java.util.Arrays.compareUnsigned(a, b) < 0))
    val keys = batches.map(_.size.toLong).sum
    val getUs = perUnit(keys) {
      batches.foreach(b => sink += HFileReader.multiGet(new HFileReader.BytesRead(plain), b).size)
    } / 1000.0
    val present = Seq.fill(500)(key(r.nextInt(n)))
    val absent = Seq.fill(500)(BytesCodec.encodeLong(2L * r.nextInt(n) + 1))
    def blocksPerGet(ks: Seq[Array[Byte]]): Seq[Int] = ks.map { k =>
      val cr = new CountingRead(new HFileReader.BytesRead(plain))
      sink += HFileReader.multiGet(cr, Seq(k)).size
      cr.dataBlocks
    }
    val presentBlocks = blocksPerGet(present)
    val absentBlocks = blocksPerGet(absent)
    // keep every measured result observable
    if (sink == 42) System.err.print("")
    Seq(
      Metric("functions.minhash_ns_per_doc", minhash, "ns"),
      Metric("functions.bpe_encode_ns_per_byte", bpeNs, "ns"),
      Metric("functions.rowkey_salt_ns_per_cell", salt, "ns"),
      Metric("sources.hfile_append_ns_per_cell", append, "ns"),
      Metric("sources.block_decode_ns_per_cell", decode, "ns"),
      Metric("sources.get_us_per_key", getUs, "us"),
      Metric("sources.blocks_read_per_get", presentBlocks.sum.toDouble / presentBlocks.size, "count"),
      Metric("sources.bloom_skip_ratio",
        absentBlocks.count(_ == 0).toDouble / absentBlocks.size, "ratio"))
  }
}
