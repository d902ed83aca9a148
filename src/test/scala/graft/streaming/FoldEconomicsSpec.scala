package graft.streaming

import graft.SparkSpec
import graft.tools.FoldEconomics
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Write-volume economics of the capped streaming HFile sink (G7):
  * [[FoldEconomics.measure]] streams the same key sequence through
  * `tiered = false` (every fold rewrites all completed runs) and
  * `tiered = true` (ratio-bounded windows), and the tiered mode must
  * write measurably less while keeping the data complete. The 50-epoch
  * artifact in SURVEY §6 comes from `graft.tools.FoldEconomics`; this
  * spec runs the same harness at 16 epochs so the inequality is
  * CI-checked, not just recorded.
  */
class FoldEconomicsSpec extends SparkSpec {
  import spark.implicits._

  test("tiered folds write less than full folds and lose nothing") {
    val work = java.nio.file.Files.createTempDirectory("fold_econ").toString
    val epochs = 16
    val rows = 300
    val flat = FoldEconomics.measure(spark, s"$work/flat", s"$work/flat_ck",
      tiered = false, epochs, rows, maxEpochs = 3)
    val lsm = FoldEconomics.measure(spark, s"$work/lsm", s"$work/lsm_ck",
      tiered = true, epochs, rows, maxEpochs = 3)

    // the full-fold mode rewrites the whole accumulated dataset every
    // fold; the tiered mode must not — demand a real margin, not noise
    assert(lsm.bytesWritten < (flat.bytesWritten * 0.8).toLong,
      s"tiered wrote ${lsm.bytesWritten} vs untiered ${flat.bytesWritten} " +
        "— expected at least a 20% write-volume reduction at 16 epochs")
    // both modes ran real folds
    assert(flat.folds >= 2 && lsm.folds >= 2,
      s"folds: untiered ${flat.folds}, tiered ${lsm.folds}")
    // untiered's hard bound: maxEpochs completed + the in-flight run
    assert(flat.maxLiveRuns <= 4,
      s"untiered live runs ${flat.maxLiveRuns} exceeded maxEpochs + 1")

    // every key ever written is visible in BOTH final directories
    val expected = (0 until epochs)
      .flatMap(i => (1 to rows).map(j => 1000L + i.toLong * rows + j))
      .toSet + 1L
    Seq(s"$work/flat", s"$work/lsm").foreach { dir =>
      val seen = graft.operators.BulkLoad
        .readHFiles(spark, s"$dir/epoch=*")
        .select(graft.functions.hb.decode(
          expr("substring(rowkey, 3, 8)"), LongType).as("k"))
        .as[Long].collect().toSet
      assert(seen == expected,
        s"$dir: missing ${(expected -- seen).take(5)}, " +
          s"extra ${(seen -- expected).take(5)}")
    }
    // and the latest value of the re-put key survived the fold chain
    Seq(s"$work/flat", s"$work/lsm").foreach { dir =>
      val out = java.nio.file.Files.createTempDirectory("fold_econ_out")
        .toString
      graft.operators.Compaction.compactEpochs(spark, dir, out,
        numPartitions = 2)
      val v = graft.operators.BulkLoad.readHFiles(spark, out)
        .filter(graft.functions.hb.decode(expr("substring(rowkey, 3, 8)"),
          LongType) === 1L)
        .select(graft.functions.hb.decode(expr("substring(value, 1, 8)"),
          org.apache.spark.sql.types.DoubleType).as("v"))
        .as[Double].collect().toSeq
      assert(v == Seq((epochs - 1).toDouble), s"$dir: got $v")
    }
  }
}
