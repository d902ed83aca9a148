package graft.plans

import graft.SparkSpec
import graft.sources.HFileSourceSpec
import org.apache.spark.sql.functions._

/** [[PrefixRangeRewrite]]: binary `startswith` filters become pushable
  * rowkey ranges (the session is built with graft.GraftExtensions, so
  * the injected rule is live in every spec).
  */
class PrefixRangeRewriteSpec extends SparkSpec {
  import spark.implicits._

  private def bytes(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray

  private val rows: Seq[Array[Byte]] = Seq(
    bytes(),                    // empty
    bytes(0x00),
    bytes(0x02, 0xff),
    bytes(0x03),                // == one of the prefixes
    bytes(0x03, 0x00),
    bytes(0x03, 0x7f, 0x12),
    bytes(0x03, 0xff),          // last value still under successor 0x04
    bytes(0x04),                // first value past the 0x03 prefix
    bytes(0xfe, 0xff, 0xff),
    bytes(0xff),
    bytes(0xff, 0xff),          // all-0xff prefix: no successor
    bytes(0xff, 0xff, 0x01))

  private val prefixes: Seq[Array[Byte]] = Seq(
    bytes(0x03),
    bytes(0x03, 0x7f),
    bytes(0x02, 0xff),          // successor must carry: 0x03
    bytes(0xff, 0xff),          // no successor: lower bound only
    bytes(0xfe, 0xff))          // successor truncates to 0xff

  // a real file relation: ConvertToLocalRelation would otherwise fold
  // the whole filter at optimize time and leave no plan to inspect
  private lazy val binDf = {
    val dir = java.nio.file.Files
      .createTempDirectory("prefix_rewrite").toString
    rows.zipWithIndex.map { case (b, i) => (i.toLong, b) }
      .toDF("id", "b").write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  test("rewritten filter matches driver-side startsWith truth") {
    val df = binDf
    for (p <- prefixes) {
      val got = df.filter(startswith(col("b"), lit(p)))
        .select("id").as[Long].collect().toSet
      val want = rows.zipWithIndex.collect {
        case (b, i) if b.length >= p.length &&
          b.take(p.length).sameElements(p) => i.toLong
      }.toSet
      assert(got == want,
        s"prefix ${p.map("%02x".format(_)).mkString}: $got != $want")
      // and the optimized plan carries the range, not the startswith
      val plan = df.filter(startswith(col("b"), lit(p)))
        .queryExecution.optimizedPlan.toString
      assert(!plan.toLowerCase.contains("startswith"),
        s"startswith survived optimization:\n$plan")
      assert(plan.contains(">="), s"no lower bound in plan:\n$plan")
    }
  }

  test("all-0xff prefix rewrites to a lower bound alone") {
    val plan = binDf.filter(startswith(col("b"), lit(bytes(0xff, 0xff))))
      .queryExecution.optimizedPlan.toString
    assert(plan.contains(">=") && !plan.contains(" < "),
      s"expected unbounded-above range:\n$plan")
  }

  test("string startswith is left untouched (collation stays in play)") {
    val dir = java.nio.file.Files
      .createTempDirectory("prefix_rewrite_str").toString
    Seq("abc", "abd", "xyz").toDF("s").write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
    val q = df.filter(startswith(col("s"), lit("ab")))
    assert(q.as[String].collect().toSet == Set("abc", "abd"))
    val plan = q.queryExecution.optimizedPlan.toString
    assert(plan.toLowerCase.contains("startswith"),
      s"string startswith was rewritten:\n$plan")
  }

  test("prefix-scan query prunes hfiles at plan time via the rewrite") {
    val sfDir = "/root/testdata/sf0.001"
    val events = sf("events")
    val df = graft.queries.HModel.hfilePrefixScan(events, sfDir)
    val got = df.collect()
    val expected = events.filter(col("user_id") === 5)
      .selectExpr("event_id", "ts DIV 1000000 AS ts_ms", "value")
      .orderBy("event_id").collect()
    assert(got.nonEmpty && got.length == expected.length)
    got.zip(expected).foreach { case (a, b) => assert(a == b) }
    // the scan is pruned: fewer planned files than hfiles on disk, and
    // the prefix's few blocks are read on the driver
    val dir = graft.queries.HModel.ensureLookupDir(events, sfDir, 4)
    val totalFiles = new java.io.File(dir).listFiles
      .filter(_.getName.startsWith("bucket="))
      .flatMap(_.listFiles).count(_.getName.endsWith(".hfile"))
    assert(HFileSourceSpec.localScans(df.queryExecution.executedPlan).nonEmpty,
      df.queryExecution.executedPlan.toString)
    val nParts = HFileSourceSpec.plannedFiles(df)
    assert(nParts >= 1 && nParts < totalFiles,
      s"expected pruned scan, got $nParts of $totalFiles files")
  }
}
