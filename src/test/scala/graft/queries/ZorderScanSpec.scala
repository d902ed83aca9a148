package graft.queries

import graft.SparkSpec
import graft.functions.{BytesCodec, ZOrderKernel}
import org.apache.spark.sql.functions._

/** B12 end-to-end: the Z-ordered bulk fixture + Morton range cover +
  * residual box + rollup, and the pruning claim itself — the scan must
  * open FEWER files than the fixture holds.
  */
class ZorderScanSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("zorderRangeScan equals a direct box rollup over events") {
    val events = sf("events")
    // sf0.001 only has users 0..14 — a box inside them (the defaults'
    // box, users 4..80, is the oracle row at every scale)
    val got = HModel.zorderRangeScan(events, sfDir,
      userLo = 3L, userHi = 10L).collect()
    val want = events
      .select(col("user_id"),
        expr("ts DIV 1000000000 DIV 3600").as("epoch_hour"),
        col("value"))
      .filter(col("user_id").between(3, 10) &&
        col("epoch_hour").between(473500L, 473599L))
      .groupBy("user_id", "epoch_hour")
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
          .cast("double").as("sum_value"))
      .orderBy("user_id", "epoch_hour")
      .collect()
    assert(got.nonEmpty, "the box must hit rows at sf0.001")
    assert(got.toSeq.map(_.toString) == want.toSeq.map(_.toString))
  }

  test("the range cover prunes files: the multi-range scan opens fewer " +
      "files than the fixture holds, and a tiny box opens very few") {
    import graft.sources.{HFileInputPartition, HFileScanBuilder, HFileTable}
    import org.apache.spark.sql.sources.{EqualTo, GreaterThanOrEqual, LessThan}
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    val events = sf("events")
    val dir = HModel.ensureZorderDir(events, sfDir)
    def filesFor(fs: org.apache.spark.sql.sources.Filter*): Set[String] = {
      val sb = new HFileTable(dir)
        .newScanBuilder(CaseInsensitiveStringMap.empty())
        .asInstanceOf[HFileScanBuilder]
      sb.pushFilters(fs.toArray)
      sb.build().toBatch.planInputPartitions()
        .map(_.asInstanceOf[HFileInputPartition].file).toSet
    }
    val total = filesFor()
    assert(total.size > 4, s"fixture should hold several files, ${total.size}")
    // the query's own box: union the files its pushed ranges open
    val opened = ZOrderKernel
      .queryRanges(3, 10, 473500, 473599, maxRanges = 32)
      .flatMap { case (zs, ze) =>
        filesFor(EqualTo("bucket", 0),
          GreaterThanOrEqual("rowkey",
            BytesCodec.encodeShort(0.toShort) ++ BytesCodec.encodeLong(zs)),
          LessThan("rowkey",
            BytesCodec.encodeShort(0.toShort) ++ BytesCodec.encodeLong(ze)))
      }.toSet
    assert(opened.size < total.size,
      s"box scan must prune: opened ${opened.size} of ${total.size}")
    // a one-user one-hour box collapses to a handful of curve segments
    val hour = sf("events")
      .select(expr("ts DIV 1000000000 DIV 3600")).head().getLong(0)
    val tiny = ZOrderKernel.queryRanges(7, 7, hour, hour, maxRanges = 32)
      .flatMap { case (zs, ze) =>
        filesFor(EqualTo("bucket", 0),
          GreaterThanOrEqual("rowkey",
            BytesCodec.encodeShort(0.toShort) ++ BytesCodec.encodeLong(zs)),
          LessThan("rowkey",
            BytesCodec.encodeShort(0.toShort) ++ BytesCodec.encodeLong(ze)))
      }.toSet
    assert(tiny.size <= 2,
      s"a point-ish box should touch at most a file or two, got ${tiny.size}")
  }

  test("the interval set rides ONE scan node as a pushed disjunction, " +
      "pruning exactly the files the per-range union form opens") {
    import graft.sources.{HFileInputPartition, HFileScan, HFileScanBuilder, HFileTable}
    import org.apache.spark.sql.sources.{And, EqualTo, Filter, GreaterThanOrEqual, LessThan, Or}
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    val events = sf("events")
    val dir = HModel.ensureZorderDir(events, sfDir)
    val df = HModel.zorderRangeScan(events, sfDir, userLo = 3L, userHi = 10L)
    val rels = df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r
    }
    assert(rels.size == 1,
      s"the box query must plan exactly ONE graft-hfile scan, ${rels.size}")
    assert(rels.head.scan.description().contains("Or("),
      "the interval disjunction must reach the source as a pushed filter")
    val onePass = rels.head.scan.asInstanceOf[HFileScan]
      .toBatch.planInputPartitions()
      .map(_.asInstanceOf[HFileInputPartition].file).toSet
    // the union form: prune per interval, union the opened files
    def filesFor(fs: Filter*): Set[String] = {
      val sb = new HFileTable(dir)
        .newScanBuilder(CaseInsensitiveStringMap.empty())
        .asInstanceOf[HFileScanBuilder]
      sb.pushFilters(fs.toArray)
      sb.build().toBatch.planInputPartitions()
        .map(_.asInstanceOf[HFileInputPartition].file).toSet
    }
    val ranges = ZOrderKernel.queryRanges(3, 10, 473500, 473599,
      maxRanges = 32)
    val unionForm = ranges.flatMap { case (zs, ze) =>
      filesFor(EqualTo("bucket", 0),
        GreaterThanOrEqual("rowkey",
          BytesCodec.encodeShort(0.toShort) ++ BytesCodec.encodeLong(zs)),
        LessThan("rowkey",
          BytesCodec.encodeShort(0.toShort) ++ BytesCodec.encodeLong(ze)))
    }.toSet
    assert(onePass == unionForm,
      s"single-scan pruning must equal the union form: " +
        s"${onePass.size} vs ${unionForm.size}")
    // and the hand-built Or tree prunes identically through pushFilters
    val orTree = ranges.map { case (zs, ze) =>
      And(GreaterThanOrEqual("rowkey",
        BytesCodec.encodeShort(0.toShort) ++ BytesCodec.encodeLong(zs)),
        LessThan("rowkey",
          BytesCodec.encodeShort(0.toShort) ++ BytesCodec.encodeLong(ze)))
        : Filter
    }.reduce(Or(_, _))
    assert(filesFor(EqualTo("bucket", 0), orTree) == unionForm)
  }
}
