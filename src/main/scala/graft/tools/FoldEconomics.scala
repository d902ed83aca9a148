package graft.tools

import java.io.{File, PrintWriter}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.sources.HFileDir

/** Measured write-volume proof for the tiered fold mode of
  * [[graft.streaming.Streams.bulkLoadStream]] (VERDICT r8 #4): stream N
  * epochs of fresh keys through a `maxEpochs`-capped HFile sink twice —
  * `tiered = false` (every fold rewrites ALL completed runs, O(N²/max)
  * total bytes over the stream's life) and `tiered = true` (ratio-
  * bounded windows, the ExploringCompactionPolicy-shaped selection,
  * O(N log N)) — and record what each mode actually wrote.
  *
  * "Bytes written" is accumulated from the directory between batches:
  * every (epoch, file) pair that appears is counted once at its size —
  * batch runs and published folds alike — so the number is the total
  * IO the sink issued, not the surviving footprint. Also recorded: the
  * final live footprint, the worst live-run count any batch left
  * behind (the read-amplification bound), and the fold count.
  *
  * The asymptotics show up clearly at 50 epochs: untiered rewrites the
  * whole history every `maxEpochs` batches, so its write volume grows
  * quadratically while tiered's grows ~linearithmically; the ratio is
  * the artifact for SURVEY §6.
  *
  * usage: runMain graft.tools.FoldEconomics [epochs] [outPath]
  */
object FoldEconomics {

  case class FoldStats(epochs: Int, rowsPerEpoch: Int, bytesWritten: Long,
                       finalBytes: Long, maxLiveRuns: Int, folds: Int)

  /** Streams `epochs` micro-batches of `rowsPerEpoch` fresh keys each
    * (plus one shared re-put key, so retention has work to do) into a
    * capped sink at `dir`, returning the write-volume accounting.
    */
  def measure(spark: SparkSession, dir: String, ckpt: String,
              tiered: Boolean, epochs: Int, rowsPerEpoch: Int,
              maxEpochs: Int = 4): FoldStats = {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Long, Double)]
    // 200-byte values (8-byte encoded double + padding): the write-volume
    // comparison must be dominated by DATA bytes, not the fixed per-file
    // framing (trailer + folded bloom + index), or the ratio guard sees
    // every run as near-equal and the two modes converge artificially
    val cells = input.toDF().toDF("key", "value")
      .select(
        graft.functions.hb.encode(col("key")).as("rowkey"),
        lit("f").as("family"), lit("v").as("qualifier"),
        concat(graft.functions.hb.encode(col("value")),
          expr("cast(repeat('x', 192) as binary)")).as("value"))
    val q = graft.streaming.Streams.bulkLoadStream(cells, dir, buckets = 2,
      numPartitions = 2, maxEpochs = maxEpochs, tiered = tiered)
      .option("checkpointLocation", ckpt).start()
    val conf = spark.sparkContext.hadoopConfiguration
    def files(run: HFileDir.Run) = HFileDir.list(run.path.toString, conf).files
    val seen = scala.collection.mutable.Set[String]()
    val seenRuns = scala.collection.mutable.Set[Long]()
    var bytesWritten = 0L
    var maxLiveRuns = 0
    try {
      (0 until epochs).foreach { i =>
        input.addData(Seq((1L, i.toDouble)) ++
          (1 to rowsPerEpoch).map(j => (1000L + i.toLong * rowsPerEpoch + j,
            i.toDouble)))
        q.processAllAvailable()
        val runs = HFileDir.runs(dir, conf)
        maxLiveRuns = math.max(maxLiveRuns, runs.length)
        runs.foreach { run =>
          seenRuns += run.id
          files(run).foreach { f =>
            if (seen.add(f.getPath.toString)) bytesWritten += f.getLen
          }
        }
      }
    } finally q.stop()
    val finalBytes = HFileDir.runs(dir, conf).flatMap(files).map(_.getLen).sum
    // every published fold takes a fresh run id (window max + 1), so
    // folds = distinct run dirs ever seen minus the batch-written ones
    val folds = seenRuns.size - epochs
    FoldStats(epochs, rowsPerEpoch, bytesWritten, finalBytes, maxLiveRuns,
      folds)
  }

  def main(args: Array[String]): Unit = {
    val epochs = if (args.length > 0) args(0).toInt else 50
    val outPath = if (args.length > 1) args(1) else "target/fold_economics.json"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = graft.Bench.newSession(cpus)
    try {
      val work = java.nio.file.Files.createTempDirectory("fold_econ")
      def stats(tiered: Boolean): FoldStats = {
        val tag = if (tiered) "tiered" else "untiered"
        measure(spark, s"$work/$tag", s"$work/${tag}_ckpt", tiered,
          epochs, rowsPerEpoch = 2000)
      }
      val flat = stats(tiered = false)
      val lsm = stats(tiered = true)
      def js(s: FoldStats): String =
        s"""{"bytes_written":${s.bytesWritten},"final_bytes":${s.finalBytes},""" +
          s""""max_live_runs":${s.maxLiveRuns},"folds":${s.folds}}"""
      val ratio = flat.bytesWritten.toDouble / lsm.bytesWritten
      val json =
        s"""{"metric":"fold_write_volume","epochs":$epochs,""" +
          s""""rows_per_epoch":2000,"max_epochs":4,""" +
          s""""untiered":${js(flat)},"tiered":${js(lsm)},""" +
          f""""write_volume_ratio":$ratio%.3f}"""
      val pw = new PrintWriter(new File(outPath))
      try pw.println(json) finally pw.close()
      println(json)
    } finally spark.stop()
  }
}
