package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{col, countDistinct}

/** Core-query scale-path checks not covered by the DuckDB oracle. */
class CoreSpec extends SparkSpec {

  test("SparkEntry.entry returns rows (the flagship smoke contract)") {
    assert(graft.SparkEntry.entry(spark).count() > 0)
  }

  test("rollupPercentiles approx mode is rank-accurate within 1%") {
    // approx_percentile guarantees a value whose RANK is within
    // 1/accuracy of the requested quantile (it returns an actual sample,
    // not an interpolation, so value-space tolerance is meaningless when
    // samples are sparse) — assert the rank guarantee with 100× headroom
    val events = sf("events")
    val approx = Core.rollupPercentiles(events, exact = false).collect()
      .map(r => r.getString(0) ->
        Seq(r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))
      .toMap
    val valuesByType = events.selectExpr("event_type", "value").collect()
      .groupBy(_.getString(0)).map { case (t, rs) =>
        t -> rs.map(_.getDouble(1)).sorted
      }
    assert(approx.keySet == valuesByType.keySet)
    val ps = Seq(0.5, 0.9, 0.95, 0.99)
    approx.foreach { case (tpe, vals) =>
      val sorted = valuesByType(tpe)
      ps.zip(vals).foreach { case (p, a) =>
        val rank = sorted.count(_ <= a).toDouble / sorted.length
        assert(math.abs(rank - p) <= 0.01,
          s"$tpe p$p approx=$a has rank $rank")
      }
    }
  }

  test("rollupPercentiles approx mode keeps counts and schema") {
    val out = Core.rollupPercentiles(sf("events"), exact = false)
    assert(out.columns.toSeq ==
      Seq("event_type", "n_events", "p50", "p90", "p95", "p99"))
    assert(out.collect().map(_.getLong(1)).sum == sf("events").count())
  }

  test("rollupDistinct approx (HLL++) is within 5% of exact") {
    val events = sf("events")
    val exact = Core.rollupDistinct(events).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    val approx = Core.rollupDistinct(events, exact = false).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(approx.keySet == exact.keySet)
    exact.foreach { case (tpe, n) =>
      val a = approx(tpe)
      assert(math.abs(a - n).toDouble / n <= 0.05, s"$tpe exact=$n approx=$a")
    }
  }

  test("latestEventPerUser picks the (ts, event_id)-max event per user") {
    val events = sf("events")
    val out = Core.latestEventPerUser(events).collect()
    assert(out.map(_.getLong(0)).distinct.length == out.length)
    // cross-check one user against a driver-side reduction
    val u = out.head.getLong(0)
    val expected = events.filter(s"user_id = $u")
      .selectExpr("event_id", "event_type", "value", "ts DIV 1000000 AS ts_ms")
      .collect()
      .maxBy(r => (r.getLong(3), r.getLong(0)))
    val got = out.find(_.getLong(0) == u).get
    assert(got.getLong(1) == expected.getLong(0))
    assert(got.getLong(4) == expected.getLong(3))
  }

  test("rollupIncremental merge is bit-identical to a full recompute") {
    val events = sf("events")
    // derive a cutoff that provably splits one (hour, type) group into
    // two partial rows — strictly between that group's first and last
    // event — so the merge path is exercised, not just a disjoint union
    val g = events
      .selectExpr("((ts DIV 1000000) DIV 3600000) * 3600000 AS h",
        "event_type", "ts DIV 1000000 AS ts_ms")
      .groupBy("h", "event_type")
      .agg(org.apache.spark.sql.functions.min(col("ts_ms")).as("lo"),
        org.apache.spark.sql.functions.max(col("ts_ms")).as("hi"))
      .filter(col("lo") < col("hi"))
      .head()
    val cutoffMs = g.getAs[Long]("hi") // first slice gets lo..hi-1
    // the boundary hour appears in BOTH slices: two partial rows merge
    val boundaryShared = events
      .selectExpr(s"((ts DIV 1000000) DIV 3600000) * 3600000 AS h",
        "event_type", s"ts DIV 1000000 < $cutoffMs AS pre")
      .groupBy("h", "event_type")
      .agg(countDistinct(col("pre")).as("sides"))
      .filter(col("sides") === 2).count()
    assert(boundaryShared > 0, "no (hour, type) key straddles the cutoff")
    val inc = Core.rollupIncremental(events, cutoffMs).collect()
    val full = Core.rollup(events, "hour").collect()
    assert(inc.length == full.length)
    inc.zip(full).foreach { case (a, b) =>
      assert(a == b, s"incremental row $a != full row $b")
    }
  }

  test("rollupTimeWeighted: parked values dominate, even spacing gives " +
      "the plain mean, zero-span buckets drop") {
    import spark.implicits._
    // one hour: value 10 held for 54 min, then 100 for the last 6 min
    // (sampled at minute marks) -> twavg must sit near 10, far from the
    // plain mean of the SAMPLES
    val parked = (0 until 60 by 6).map(m =>
      (m * 60000L * 1000000L, "parked", 1000L + m,
        if (m < 54) 10.0 else 100.0))
    // evenly spaced 0..59 min alternating 0/20 -> twavg ~ plain mean 10
    val even = (0 until 60).map(m =>
      (m * 60000L * 1000000L, "even", 2000L + m,
        if (m % 2 == 0) 0.0 else 20.0))
    val single = Seq((3600000L * 1000000L * 5, "single", 9000L, 42.0))
    val df = (parked ++ even ++ single)
      .toDF("ts", "event_type", "event_id", "value")
    val got = Core.rollupTimeWeighted(df).collect()
      .map(r => r.getAs[String]("event_type") -> r).toMap
    assert(!got.contains("single"), "zero-span bucket must drop")
    val p = got("parked").getAs[Double]("twavg")
    // exact: (9 samples * 6min * 10 + 54->60min holds 100 for 0... the
    // last sample has no successor (weight 0): Σw = span = 54 min;
    // 10*(6*9=54min? samples at 0,6..48 hold 10 for 6min each = 54min of
    // weight... sample at 54 holds 100, weight 0) -> twavg = 10 exactly
    assert(math.abs(p - 10.0) < 1e-9, s"parked twavg $p")
    val e = got("even").getAs[Double]("twavg")
    // samples 0..58 weighted 1min each, sample 59 weight 0: mean of
    // 0,20 alternating over 59 weights = (29*20)/59... compute directly
    assert(math.abs(e - (29 * 20.0 * 60000 / (59 * 60000))) < 1e-9,
      s"even twavg $e")
    assert(got("even").getAs[Long]("span_ms") == 59L * 60000)
  }

  test("eventsPropsExtract: JSON field lands typed; malformed and " +
      "missing payloads drop before the aggregate") {
    import spark.implicits._
    val df = Seq(
      (1L, "a", """{"k": 7}"""),
      (2L, "a", """{"k": 13}"""),
      (3L, "a", """{"other": 1}"""),   // missing field
      (4L, "b", "not json"),           // malformed
      (5L, "b", """{"k": 25}"""))
      .toDF("event_id", "event_type", "props")
    val got = Core.eventsPropsExtract(df).collect()
    val a0 = got.find(r => r.getAs[String]("event_type") == "a" &&
      r.getAs[Long]("k_decile") == 0L).get
    assert(a0.getAs[Long]("n_events") == 1 && a0.getAs[Long]("sum_k") == 7)
    val a1 = got.find(r => r.getAs[String]("event_type") == "a" &&
      r.getAs[Long]("k_decile") == 1L).get
    assert(a1.getAs[Long]("max_k") == 13)
    assert(got.count(_.getAs[String]("event_type") == "b") == 1,
      "malformed payload must drop, valid b row must stay")
  }

  test("rollupAnomaly flags an injected spike, keeps a steady series " +
      "quiet, and is exact on a crafted variance boundary") {
    import spark.implicits._
    val hour = 3600000L
    // steady series: 25 hours of ~constant count with one 10x spike at
    // the end; quiet series: perfectly flat
    def mk(tpe: String, counts: Seq[Int]): Seq[(Long, String)] =
      counts.zipWithIndex.flatMap { case (c, h) =>
        (0 until c).map(i => (h * hour * 1000000L + i, tpe))
      }
    val spikey = mk("spike", Seq.fill(24)(5) :+ 50)
    val flat = mk("flat", Seq.fill(25)(5))
    // drift: counts 1..25 — last point is within 3 sigma of the ramp
    val ramp = mk("ramp", (1 to 25))
    val events = (spikey ++ flat ++ ramp).toDF("ts", "event_type")
    val got = Core.rollupAnomaly(events).collect()
    val byType = got.groupBy(_.getAs[String]("event_type"))
    assert(byType.contains("spike"), s"spike not flagged: ${got.toSeq}")
    val s = byType("spike").head
    assert(s.getAs[Long]("cnt") == 50 && s.getAs[Long]("mean_milli") == 5000)
    assert(!byType.contains("flat"), "flat series must stay quiet")
    // flat-base + deviation edge: variance 0 means ANY dev flags
    val flatDev = mk("flatdev", Seq.fill(24)(5) :+ 6)
    val got2 = Core.rollupAnomaly(flatDev.toDF("ts", "event_type")).collect()
    assert(got2.exists(r => r.getAs[String]("event_type") == "flatdev" &&
      r.getAs[Long]("cnt") == 6), "zero-variance base must flag any dev")
  }
}
