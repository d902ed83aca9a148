package graft.queries

import graft.SparkSpec

/** Physical-plan shape assertions for the 100 TB-critical properties of
  * the round-3 queries — locks in the scale posture the scaladocs
  * promise so a refactor can't silently reintroduce a global sort or a
  * lost pushdown.
  */
class PlanShapeSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    graft.SparkEntry.queries(name)(spark, dir)
      .queryExecution.executedPlan.toString

  test("corpus_curate: quality filter fuses into the scan stage") {
    val p = plan("corpus_curate")
    // the >= 0.7 filter sits directly on the FileScan, and the dedup
    // collapse is a partial/final aggregate pair
    assert(p.contains("Filter") && p.contains("FileScan parquet"))
    assert("partial_min_by".r.findAllIn(p).size == 1, p.take(400))
    // the only joins are the decontamination gate's broadcast probes
    // (eval gram set + contaminated-id anti join) — the corpus itself
    // is never shuffle-joined
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "curation must not shuffle-join the corpus")
    assert(p.contains("BroadcastHashJoin") &&
      "LeftAnti, BuildRight".r.findAllIn(p).nonEmpty,
      "decontamination gate: broadcast anti join expected")
  }

  test("text_repetition: pruned scan, partial aggregation, per-doc windows") {
    val p = plan("text_repetition")
    // only the two needed columns reach the parquet scan
    val rs = "ReadSchema: [^\\n]+".r.findFirstIn(p).getOrElse("")
    assert(rs.contains("doc_id") && rs.contains("text") &&
      !rs.contains("lang") && !rs.contains("source"), rs)
    // the token/bigram/run counts reduce map-side before their shuffles
    assert(p.contains("partial_count"), "counts must partial-aggregate")
    // no global (empty-partition-spec) window: every sort is per-doc
    assert(!"Window \\[[^\\]]*\\]$".r.findAllIn(p).exists(_.contains("[]")) &&
      !p.contains("Window [, "), "windows must partition by doc")
  }

  test("zorder_layout: top-k, not a global sort; partial aggregation") {
    val p = plan("zorder_layout")
    assert(p.contains("TakeOrderedAndProject"), "limit+order must be top-k")
    assert(p.contains("partial_count"), "cell counts must partial-aggregate")
    assert(p.contains("zorder64"), "interleave must be the native expression")
  }

  test("seq_packing: the prefix-sum window is per-partition, not global") {
    val p = plan("seq_packing")
    // every Window node must carry a partitionBy (spec shows the _pid
    // partition spec); a global window prints an empty partition list
    val windows = "windowspecdefinition\\(([^)]*)\\)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(windows.nonEmpty)
    windows.foreach(w => assert(w.contains("_pid"),
      s"window not partitioned: $w"))
  }

  test("split_assign and sample_stratified stay shuffle-free before output sort") {
    Seq("split_assign", "sample_stratified").foreach { q =>
      val p = plan(q)
      val exchanges = "Exchange [a-z]+partitioning".r.findAllIn(p).toSeq
      // only the final output ordering's range exchange is allowed
      assert(exchanges.forall(_.contains("rangepartitioning")),
        s"$q has a data shuffle: $exchanges")
      assert(p.contains("FileScan parquet"))
    }
  }

  test("q1_pricing_summary: map-side partial aggregation") {
    val p = plan("q1_pricing_summary")
    assert(p.contains("partial_sum") || p.contains("HashAggregate"),
      p.take(400))
    assert(p.contains("PushedFilters") || p.contains("Filter"))
  }

  test("time_range_scan: the time predicate reaches the parquet scan") {
    val p = plan("time_range_scan")
    // row-group pruning needs the raw ts bounds inside PushedFilters
    assert("PushedFilters: \\[[^\\]]*ts".r.findFirstIn(p).isDefined,
      p.take(800))
  }

  test("q5_region_revenue: dimension joins broadcast, facts never do") {
    val p = plan("q5_region_revenue")
    assert(p.contains("BroadcastHashJoin"), "dims must broadcast")
    assert(!p.contains("CartesianProduct"), "no cartesian join")
  }

  test("q5_region_revenue: broadcast HINTS only on fixed-cardinality dims " +
      "(region/nation) — sf-scaling tables left to AQE") {
    // An explicit broadcast() hint overrides autoBroadcastJoinThreshold:
    // hinting customer/supplier (linear in sf) would force a driver-side
    // build of a multi-billion-row table at a 100 TB scale factor. Only
    // region (5 rows) and nation (25) are constant-size and may be hinted.
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    val analyzed = graft.SparkEntry.queries("q5_region_revenue")(spark, dir)
      .queryExecution.analyzed
    val hintedCols = analyzed.collect {
      case h: ResolvedHint => h.child.output.map(_.name).toSet
    }
    assert(hintedCols.nonEmpty, "region/nation should still carry hints")
    hintedCols.foreach { cols =>
      assert(cols.forall(c => c.startsWith("r_") || c.startsWith("n_")),
        s"broadcast hint on an sf-scaling table: $cols")
    }
  }

  test("dedup_minhash_lsh: banded blocking, never an all-pairs join") {
    val p = plan("dedup_minhash_lsh")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "near-dup must block via bands, not cross the corpus")
  }

  test("graph_components: edge build pushes the quantity filter to the scan") {
    // connectedComponents executes eagerly, so audit the edge-build
    // stage (the part that scans 100 TB) rather than the label output
    import org.apache.spark.sql.functions.col
    val li = graft.Tables(spark, dir, "lineitem")
    val picked = li.filter(col("l_quantity") >= 48)
      .select("l_orderkey", "l_partkey")
    val edges = picked.as("a").join(picked.as("b"),
      col("a.l_orderkey") === col("b.l_orderkey") &&
        col("a.l_partkey") < col("b.l_partkey"))
    val p = edges.queryExecution.executedPlan.toString
    assert(p.contains("GreaterThanOrEqual(l_quantity,48"), p.take(600))
  }

  test("rollup_heavy_hitters approx: sketch shuffles bounded counters, " +
      "candidates broadcast back, corpus never shuffle-joined") {
    import org.apache.spark.sql.functions.col
    val ev = graft.Tables(spark, dir, "events")
    val p = graft.queries.Core.heavyHitters(ev, k = 3, approx = true,
      capacity = 16).queryExecution.executedPlan.toString
    // the Misra-Gries aggregate partial-aggregates map-side (the
    // ObjectHashAggregate pair), and the refine pass is a broadcast
    // semi join — a shuffle join here would defeat the sketch
    assert(p.contains("ObjectHashAggregate") ||
      p.contains("partial_freq_items"), p.take(600))
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      p.take(600))
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "refine pass must broadcast the bounded candidate set")
  }

  test("rollup_rate: one series-key shuffle + presentation sort, " +
      "never a pre-window global sort") {
    val p = plan("rollup_rate")
    // the lag window partitions by the series key: its sort is
    // in-partition (after a hash exchange), and the only range exchange
    // is the trailing presentation orderBy
    assert(p.contains("Window"), p.take(400))
    val rangeEx = "rangepartitioning".r.findAllIn(p.toLowerCase).size
    assert(rangeEx <= 1, s"expected only the presentation sort, plan: " +
      p.take(600))
    assert(p.toLowerCase.contains("hashpartitioning"),
      "series window must hash-partition on the series key")
  }

  test("text_lm_score: scoring is a pure map — no join in the plan, " +
      "count tables ride as literals") {
    val p = plan("text_lm_score")
    // the whole query (training runs eagerly inside lmScore, before this
    // plan is built) scores with element_at on plan literals: any Join
    // here would mean the count tables joined instead of embedded
    assert(!p.contains("Join"), p.take(800))
    assert(p.contains("FileScan parquet"), p.take(400))
  }

  test("text_entropy / corpus_dsir: zero shuffles except the " +
      "presentation sort — scoring never leaves the scan stage") {
    for (q <- Seq("text_entropy", "corpus_dsir")) {
      val p = plan(q)
      assert(!p.contains("Join"), s"$q: ${p.take(400)}")
      assert(!p.toLowerCase.contains("hashpartitioning"),
        s"$q must not hash-shuffle: ${p.take(400)}")
      val rangeEx = "rangepartitioning".r.findAllIn(p.toLowerCase).size
      assert(rangeEx <= 1, s"$q: only the presentation sort allowed")
    }
  }

  test("rollup_anomaly: one series window pass after the rollup " +
      "shuffle; the z-test is a pure filter") {
    val p = plan("rollup_anomaly")
    assert("Window \\[".r.findAllIn(p).size == 1,
      s"all three frame aggs must share ONE Window pass: ${p.take(600)}")
    assert(p.contains("partial_count"), "rollup must partial-aggregate")
    assert(!p.contains("Join"), "the anomaly rule must not join")
  }

  test("knn_maxsim: token pruning and slice cosines are map-side — " +
      "query keys/slices broadcast, vectors never in the bucket shuffle") {
    val p = plan("knn_maxsim")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      "bucket probe and query-slice joins must be broadcast")
    // the candidate distinct is the only pre-topk hash exchange keyed
    // on ids; the band/bkey bucket join itself must not shuffle the
    // corpus slices (they arrive via broadcast probe)
    assert(p.contains("partial_max") || p.contains("partial_sum") ||
      p.contains("HashAggregate"), "maxsim must partial-aggregate")
  }

  test("rollup_timeweighted: the bucket window and the final aggregate " +
      "share ONE hash exchange") {
    val p = plan("rollup_timeweighted")
    val hashEx = "hashpartitioning".r.findAllIn(p.toLowerCase).size
    // tree + detail sections each print the single exchange once
    assert(hashEx <= 2, s"window and groupBy must reuse one exchange: " +
      s"$hashEx hash exchanges in ${p.take(500)}")
    assert("Window \\[".r.findAllIn(p).size == 1)
    assert(!p.contains("Join"))
  }

  test("events_props_extract: JSON extraction is scan-stage, only the " +
      "needed columns are read, one partial-agg shuffle") {
    val p = plan("events_props_extract")
    val rs = "ReadSchema: [^\\n]+".r.findFirstIn(p).getOrElse("")
    assert(rs.contains("props") && rs.contains("event_type") &&
      !rs.contains("user_id") && !rs.contains("value"), rs)
    assert(p.contains("partial_count"), "aggregate must partial-reduce")
    assert(!p.contains("Join") && !p.contains("BatchEvalPython"),
      "extraction must be a pure codegen map")
  }

  test("dedup_fuzzy_incremental: the corpus index is probed by a " +
      "BROADCAST of the batch keys — history never shuffle-joins") {
    val p = plan("dedup_fuzzy_incremental")
    assert(p.contains("BroadcastExchange"), "batch keys must broadcast")
    assert(!p.contains("SortMergeJoin"),
      "the corpus index must never shuffle-join against the batch")
  }

  test("mm_phash: signatures computed in the scan stage, banding is " +
      "the only corpus shuffle, no shuffle-join anywhere") {
    val p = plan("mm_phash")
    assert(p.contains("avghash64") || p.contains("AvgHash64") ||
      p.toLowerCase.contains("avghash"), s"native kernel missing: ${p.take(300)}")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "verification must be join-free (sigs ride the banding shuffle)")
  }

  test("dedup_recall: prefix-filtered truth — equi-joins only, never a " +
      "cartesian, and the report collapses to one row via partial aggs") {
    val p = plan("dedup_recall")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"truth generation must stay an equi-join: cartesian found")
    // the final (n_truth, n_found, recall) is a global agg over the
    // pair table — partial aggregation, no window
    assert(p.contains("partial_count") || p.contains("partial"),
      "report roll-up must partial-aggregate")
    assert(!p.contains("Window"), "no window pass anywhere in the report")
  }

  test("corpus_tokenizer_stats: one partial-agg shuffle over langs, " +
      "scan pruned to the used columns, no join, no window") {
    val p = plan("corpus_tokenizer_stats")
    assert(!p.contains("Join"), s"fertility report must not join")
    assert(!p.contains("Window"), "no window pass")
    assert(p.contains("partial"), "lang roll-up must partial-aggregate")
    // only text + lang leave the scan (doc_id/source/n_chars pruned)
    val read = "ReadSchema: [^\\n]+".r.findFirstIn(p).getOrElse("")
    assert(read.contains("text") && read.contains("lang") &&
      !read.contains("source") && !read.contains("n_chars"),
      s"scan must prune to (lang, text): $read")
  }

  test("packing_stats: the census adds one partial agg on top of the " +
      "span table — the packing's per-partition prefix sum, no new " +
      "global window") {
    val p = plan("packing_stats")
    // seq_spans' discipline survives the roll-up: every Window is
    // per-partition (the distributed prefix sum's _pid spec), never a
    // global single-partition pass
    val windows = "windowspecdefinition\\(([^)]*)\\)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    windows.foreach(w => assert(w.contains("_pid"),
      s"window not partitioned: $w"))
    assert(p.contains("partial"), "census must partial-aggregate")
    assert(!p.contains("CartesianProduct"), "no cartesian")
  }

  test("InferFiltersFromGenerate is excluded: an exploded kernel gets no " +
      "inferred size/isnotnull filter, so it runs once per row") {
    assert(spark.conf.get("spark.sql.optimizer.excludedRules")
      .contains("InferFiltersFromGenerate"))
    // the kernel is projected, then exploded: the rule would infer
    // size(hs) > 0 AND isnotnull(hs) and push it below the projection,
    // evaluating the kernel a second time in the scan stage
    val p = graft.Tables(spark, dir, "documents")
      .selectExpr("doc_id", "graft_shingle_hashes(text, 5) AS hs")
      .selectExpr("doc_id", "explode(hs) AS h")
      .queryExecution.optimizedPlan.toString
    assert(!p.contains("size(") && !p.contains("isnotnull(wordshingle"), p)
    assert("wordshinglehashes\\(".r.findAllIn(p).size == 1, p)
  }

  test("knn_pq / knn_ivfpq / knn_ivfpq_res / knn_sq: hash exchanges and " +
      "broadcast joins stay at their measured counts") {
    val counts = Seq("knn_pq", "knn_ivfpq", "knn_ivfpq_res", "knn_sq")
      .map { q =>
        val p = plan(q)
        q -> ("Exchange hashpartitioning".r.findAllIn(p).size,
          "BroadcastHashJoin".r.findAllIn(p).size)
      }.toMap
    val expected = Map(
      "knn_pq" -> (5, 4),
      "knn_ivfpq" -> (7, 6),
      "knn_ivfpq_res" -> (7, 8),
      "knn_sq" -> (2, 2))
    assert(counts == expected)
  }
}
