package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling / dataset-split operators for training-data
  * pipelines (SURVEY.md §2 C7/C8).
  *
  * A 100 TB corpus cannot be split with `rand()`: the assignment must
  * be reproducible across reruns, stable under repartitioning, and
  * consistent between engines (so an audit query in another SQL engine
  * lands every row in the same split). The standard trick is a salted
  * content hash: `md5(id || ':' || seed)` is uniform over hex strings,
  * so comparing a fixed-length hex prefix against `floor(p * 16^k)`
  * thresholds yields an exact-probability, deterministic assignment.
  * The reference has no sampling surface (its pipelines move whole
  * tables); this generalizes its deterministic-rowkey philosophy
  * (hbase-bulkload-service `HBaseSerde.java:154` — stable keys from
  * content, never from runtime state) to subsetting.
  *
  * Everything here is a narrow map/filter over the scan — no shuffle,
  * no state — so it composes with any downstream operator at any
  * scale, and Parquet column pruning keeps the scan at (id + carried
  * columns).
  */
object Sampling {

  /** Number of leading md5 hex chars compared against thresholds.
    * 4 chars = 16 bits: probabilities quantize to 1/65536, plenty for
    * split weights, and the comparison is a cheap 4-byte string `<`.
    */
  val HexDigits = 4

  private val Space = 1 << (4 * HexDigits) // 65536

  /** `floor(p * 65536)` as a zero-padded hex literal — the exact
    * threshold a uniform 4-hex-char key is compared against. Public so
    * oracle SQL can embed the identical literal. `p = 1.0` returns
    * `"g"`, which sorts after every hex string, so a keep-everything
    * fraction really keeps the `ffff`-prefixed rows too (a `"ffff"`
    * threshold would silently drop 1 in 65536).
    */
  def hexThreshold(p: Double): String = {
    require(p >= 0 && p <= 1, s"fraction $p out of [0,1]")
    val t = math.floor(p * Space).toLong
    if (t >= Space) "g" else f"$t%04x"
  }

  /** The salted uniform hash key: first 4 hex chars of
    * `md5(id ++ ":" ++ seed)`. Deterministic in (id, seed) only.
    */
  def hashKey(id: Column, seed: Long): Column =
    substring(md5(concat(id.cast("string"), lit(":" + seed))), 1, HexDigits)

  /** The ~`sampleDocs`-row salted-hash slice of `df`: fraction
    * p = min(1, sampleDocs / n), kept where [[hashKey]] <
    * [[hexThreshold]](p) — membership depends only on (id, seed), so
    * every leg of a report that reads the slice sees the same rows.
    * `n` is one count pass, or `knownCount` when the caller has a
    * catalog count (same integer, same IEEE fraction, identical slice).
    * p = 1 adds no filter: the plan is `df`'s own.
    */
  def docSlice(df: DataFrame, idCol: String, sampleDocs: Long, seed: Long,
               knownCount: Option[Long] = None): DataFrame = {
    require(sampleDocs > 0, s"sampleDocs must be positive, got $sampleDocs")
    require(knownCount.forall(_ > 0),
      s"knownCount must be positive when given, got $knownCount")
    val p = math.min(1.0,
      sampleDocs.toDouble / knownCount.getOrElse(df.count()))
    if (p >= 1.0) df
    else df.filter(hashKey(col(idCol), seed) < lit(hexThreshold(p)))
  }

  /** Assigns every row a named split with exact cumulative-threshold
    * probabilities, e.g. `Seq("train" -> 0.8, "val" -> 0.1,
    * "test" -> 0.1)`. Weights must sum to 1 (±1e-9); the final split
    * absorbs the remainder so every row is assigned.
    */
  def deterministicSplit(df: DataFrame, idCol: String,
                         weights: Seq[(String, Double)],
                         seed: Long = 42L): DataFrame = {
    require(weights.nonEmpty, "at least one split")
    require(math.abs(weights.map(_._2).sum - 1.0) < 1e-9,
      s"weights must sum to 1: $weights")
    val key = hashKey(col(idCol), seed)
    val cums = weights.map(_._2).scanLeft(0.0)(_ + _).tail
    // last branch is the otherwise-arm: no rounding gap can drop a row
    val assigned = weights.init.zip(cums.init).foldRight(
        lit(weights.last._1)) { case (((name, _), cum), acc) =>
      when(key < lit(hexThreshold(cum)), name).otherwise(acc)
    }
    df.withColumn("split", assigned)
  }

  /** Domain-mixture sampling: downsamples each stratum so the surviving
    * corpus matches target proportions `weights` (integer ratios, e.g.
    * web:books:code = 3:2:1) WITHOUT upsampling — the largest corpus
    * satisfying the mixture is bounded by the "binding" stratum
    * t* = argmin nₛ/wₛ (the domain that runs out first); every stratum
    * then keeps rate_s = (n_t*·wₛ)/(w_t*·nₛ) ≤ 1 of its rows.
    *
    * Membership is the same salted-md5 threshold as
    * [[stratifiedSample]], and the thresholds are derived in EXACT
    * integer arithmetic — argmin by cross-multiplication, then
    * `floor(65536·wₛ·n_t* / (w_t*·nₛ))` via BigInt — so another engine
    * replaying the formula lands every row identically (no
    * float-rounding divergence at the threshold edge). Strata missing
    * from `weights` are dropped.
    *
    * Scale posture: one column-pruned count pass over `strataCol`
    * (output bounded by the domain catalog, not data volume) collected
    * to the driver, then a pure map/filter — no shuffle of the corpus.
    * Pass `knownCounts` to skip the count pass when the catalog is
    * already materialized (the 100 TB path: counts come from partition
    * metadata or a prior rollup).
    */
  def mixtureSample(df: DataFrame, idCol: String, strataCol: String,
                    weights: Seq[(String, Long)], seed: Long = 42L,
                    knownCounts: Option[Map[String, Long]] = None)
      : DataFrame = {
    require(weights.nonEmpty, "at least one stratum weight")
    require(weights.forall(_._2 > 0), s"weights must be positive: $weights")
    require(weights.map(_._1).distinct.size == weights.size,
      s"duplicate strata in $weights")
    val counts = knownCounts.getOrElse {
      df.filter(col(strataCol).isin(weights.map(_._1): _*))
        .groupBy(col(strataCol)).agg(count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    val empty = weights.map(_._1).filter(s => counts.getOrElse(s, 0L) <= 0L)
    require(empty.isEmpty, s"strata with no rows cannot bind a mixture: " +
      s"${empty.mkString(", ")}")
    // binding stratum: smallest n/w by exact cross-multiplication,
    // stratum name as the deterministic tiebreak
    val (tn, tw, _) = weights.map { case (s, w) => (counts(s), w, s) }
      .reduceLeft { (a, b) =>
        val c = (BigInt(a._1) * b._2).compare(BigInt(b._1) * a._2)
        if (c < 0 || (c == 0 && a._3 < b._3)) a else b
      }
    def thrHex(n: Long, w: Long): String = {
      val t = (BigInt(Space) * w * tn) / (BigInt(tw) * n)
      if (t >= Space) "g" else f"${t.toLong}%04x"
    }
    // unlisted strata fall through to "0000", which no hex key is below
    val thr = weights.foldRight(lit("0000")) { case ((s, w), acc) =>
      when(col(strataCol) === s, lit(thrHex(counts(s), w))).otherwise(acc)
    }
    df.filter(hashKey(col(idCol), seed) < thr)
  }

  /** Keeps a deterministic `fractions(stratum)` share of each stratum
    * (`default` for unlisted strata). Unlike `DataFrame.stat.sampleBy`
    * this is exactly reproducible row-by-row: membership depends only
    * on (id, seed), never on partitioning or iteration order.
    */
  def stratifiedSample(df: DataFrame, idCol: String, strataCol: String,
                       fractions: Map[String, Double], default: Double,
                       seed: Long = 42L): DataFrame = {
    val key = hashKey(col(idCol), seed)
    val thr = fractions.foldRight(lit(hexThreshold(default))) {
      case ((stratum, p), acc) =>
        when(col(strataCol) === stratum, lit(hexThreshold(p))).otherwise(acc)
    }
    df.filter(key < thr)
  }

  /** Deterministic corpus shuffle + balanced shard assignment — the
    * export step before writing training shards: every row gets a
    * pseudorandom but exactly reproducible global position (rank in
    * `(hashKey(id, seed), id)` order — the salted-md5 key shuffles,
    * the id breaks the rare 16-bit key collisions so the order is
    * total), then positions are dealt round-robin into `shards`
    * (`shard = r mod shards`, `pos = r div shards`), so shard sizes
    * differ by at most one row and a training job reading shard files
    * in `pos` order sees a well-mixed document stream. Everything is a
    * pure function of (id, seed, corpus membership) — re-running on a
    * differently-partitioned copy of the corpus yields the identical
    * assignment, and another engine replays it from the formula.
    *
    * The global rank uses [[graft.operators.Packing]]'s two-phase
    * distributed scan, not a single-task `Window.orderBy`: range-
    * partition by the shuffle key (parallel), count each partition
    * (one row per partition to the driver), broadcast the prefix
    * offsets, finish with a per-partition window (parallel). Rank is
    * independent of where the sampled range bounds fall because the
    * sort key is total — partition boundaries move rows between
    * tasks, never reorder them.
    */
  def shuffleShard(df: DataFrame, idCol: String, shards: Int,
                   seed: Long = 42L, numPartitions: Int = 0): DataFrame = {
    require(shards > 0, s"shards must be positive, got $shards")
    val spark = df.sparkSession
    val n = if (numPartitions > 0) numPartitions
      else spark.sessionState.conf.numShufflePartitions
    val keyed = df.select(col(idCol), hashKey(col(idCol), seed).as("_k"))
      .repartitionByRange(n, col("_k"), col(idCol))
      .withColumn("_pid", spark_partition_id())
      .localCheckpoint() // pin partitioning: counts and window must agree
    val inOrder = keyed.groupBy("_pid").agg(count(lit(1)).as("_c"))
      .collect().sortBy(_.getAs[Int]("_pid"))
    val offsets = inOrder.scanLeft(0L)(_ + _.getAs[Long]("_c")).init
    val offsetMap = inOrder.map(_.getAs[Int]("_pid")).zip(offsets).toMap
    val mapExpr = map(offsetMap.toSeq.flatMap {
      case (p, o) => Seq(lit(p), lit(o))
    }: _*)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_pid")).orderBy(col("_k"), col(idCol))
    keyed
      .withColumn("_r",
        element_at(mapExpr, col("_pid")) + row_number().over(w) - 1)
      .select(col(idCol), pmod(col("_r"), lit(shards.toLong)).as("shard"),
        expr(s"_r div ${shards.toLong}").as("pos"))
  }

  /** C20: materialize the [[shuffleShard]] layout as training-shard
    * files — the export step a data loader actually consumes. Every
    * document lands in `outDir/shard=K/` with its full column set plus
    * `pos`, files written in `pos` order (one range-partitioned task
    * per shard sorts `(shard, pos)` before the parquet writer sees the
    * rows), so a loader streaming a shard file front-to-back replays
    * the global pseudorandom order without any further sort.
    *
    * Scale shape: the assignment is C19's two-phase rank (no global
    * window); the join back to the full rows is id-keyed (AQE picks
    * broadcast vs shuffle by size); the final exchange is one
    * `repartition(shards)` whose tasks each stream one shard to disk.
    * Shard count = file parallelism — pick shards ≈ the cluster's
    * write slots at 100 TB.
    */
  /** C21: token-budget selection — keep, per stratum (source/domain),
    * documents in a deterministic pseudorandom priority order until the
    * stratum's token budget is reached. This is how real mixtures are
    * specified ("20 B tokens of web, 5 B of code"): budgets are in
    * TOKENS, not documents, so `corpus_mix`'s per-document fractions
    * cannot express them. The greedy rule: a document is kept iff the
    * total weight of strictly-higher-priority documents in its stratum
    * is still below the budget — so the document that first crosses the
    * line is included and every later one is dropped. Priority is the
    * salted [[hashKey]] (ties broken by id): reproducible, engine-
    * independent, and uniform, so the kept set is an unbiased prefix of
    * a deterministic shuffle.
    *
    * Scale shape (the reason this is not one `Window.partitionBy
    * (stratum)`): a per-stratum running sum would stream EVERY row of a
    * stratum through one task — at 100 TB a single source can be tens
    * of TB, so that window is the scale-killer. Instead:
    *
    *  1. one partial-agg histogram `groupBy(stratum, bucket)` over the
    *     256 buckets spanned by the priority key's first two hex chars
    *     (output ≤ strata × 256 rows — catalog-bounded, collected);
    *  2. the driver finds, per stratum, the boundary bucket where the
    *     cumulative weight first reaches the budget (and the exact
    *     cumulative BEFORE it);
    *  3. buckets below the boundary keep unconditionally, buckets above
    *     drop unconditionally — both pure map-side filters;
    *  4. ONLY the boundary bucket (~1/256 of one stratum) runs the
    *     exact running-sum window, seeded with the pre-bucket total.
    *
    * The result is row-for-row identical to the naive global window
    * (the oracle replays the naive form) but the corpus is never
    * window-shuffled: one histogram shuffle plus a window over a
    * 256×-smaller slice.
    *
    * `weightCol` must be POSITIVE (a token count; a zero-weight row
    * exactly at the budget line would be bucket-classified instead of
    * window-checked); rows are kept with their weight so downstream
    * packing can consume it.
    */
  def budgetSelect(df: DataFrame, idCol: String, strataCol: String,
                   weightCol: String, budget: Long, seed: Long = 42L)
      : DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    val k4 = hashKey(col(idCol), seed)
    val bucket = substring(k4, 1, 2)
    // 1. catalog-bounded histogram: (stratum, bucket) -> total weight
    val hist = df
      .groupBy(col(strataCol).as("s"), bucket.as("b"))
      .agg(sum(col(weightCol).cast("long")).as("w"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    // 2. per stratum: first bucket where the running total reaches the
    //    budget, plus the exact total before that bucket. A stratum
    //    whose grand total stays under budget keeps everything —
    //    encoded as boundary "g" (sorts after every hex bucket).
    val cuts: Map[String, (String, Long)] = hist.groupBy(_._1).map {
      case (s, rows) =>
        var pre = 0L
        var cut: Option[(String, Long)] = None
        rows.sortBy(_._2).foreach { case (_, b, w) =>
          if (cut.isEmpty) {
            if (pre + w >= budget) cut = Some((b, pre)) else pre += w
          }
        }
        s -> cut.getOrElse(("g", pre))
    }
    val strata = cuts.keys.toSeq.sorted
    // "!" sorts before "00": a stratum absent from the histogram (none
    // exist by construction) would keep nothing rather than everything
    val cutLit = strata.foldRight(lit("!")) { (s, acc) =>
      when(col(strataCol) === s, lit(cuts(s)._1)).otherwise(acc)
    }
    val preLit = strata.foldRight(lit(0L)) { (s, acc) =>
      when(col(strataCol) === s, lit(cuts(s)._2)).otherwise(acc)
    }
    val out = df.select(col(idCol), col(strataCol),
      col(weightCol).cast("long").as(weightCol), k4.as("_k4"),
      bucket.as("_b"), cutLit.as("_cut"), preLit.as("_pre"))
    // 3. below-boundary buckets: exclusive cumsum is provably < budget
    val below = out.filter(col("_b") < col("_cut"))
    // 4. the boundary bucket alone pays the exact window
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col(strataCol)).orderBy(col("_k4"), col(idCol))
    val boundary = out.filter(col("_b") === col("_cut"))
      .withColumn("_cum", sum(col(weightCol)).over(win))
      .filter(col("_pre") + col("_cum") - col(weightCol) < budget)
      .drop("_cum")
    below.union(boundary).select(col(idCol), col(strataCol),
      col(weightCol))
  }

  /** C28: deterministic proportional interleave — the training-order
    * SCHEDULE a loader consumes, where [[mixBySource]] decides WHAT is
    * in the mixture and this decides in WHICH ORDER it streams: at any
    * prefix of the output, each stratum's share of rows tracks its
    * weight (the Megatron-style stride schedule), with every stratum's
    * own rows in deterministic pseudorandom ([[hashKey]]) order.
    * Returns `(ord, idCol, strataCol)` — `ord` is the 0-based global
    * training position; rows whose stratum has no weight are dropped
    * (the [[mixBySource]] contract).
    *
    * The schedule is exact integer arithmetic: stratum s with weight w
    * places its r-th row (1-based) at rational position (2r−1)/(2w) —
    * scaled by L = lcm(weights) to the integer key K = (2r−1)·(L/w),
    * totally ordered by (K, stratum). Same-stratum keys are strictly
    * increasing, so ties only occur ACROSS strata and are broken by
    * stratum name — both engines replay the order bit-for-bit.
    *
    * Scale shape (the reason this is not two global windows): the
    * naive form is rank-within-stratum + a SECOND global rank over K —
    * two total-order shuffles. Here only the first rank runs (the
    * two-phase distributed scan: range partition, per-(partition,
    * stratum) counts — O(partitions × strata) driver rows — broadcast
    * offsets, per-partition window). The global position is then a
    * CLOSED FORM, computed map-side: ord = Σ over strata s' of
    * #{r' ≤ n_s' : K_s'(r') < K} (+1 for an equal key in a
    * lexicographically-smaller stratum), since #odd multiples below a
    * bound is one integer division. The second total-order exchange —
    * the one that would re-shuffle the corpus at 100 TB — never runs.
    */
  def interleaveOrder(df: DataFrame, idCol: String, strataCol: String,
                      weights: Seq[(String, Int)], seed: Long = 42L,
                      numPartitions: Int = 0): DataFrame = {
    require(weights.nonEmpty, "weights must be non-empty")
    require(weights.forall(_._2 > 0), "weights must be positive")
    require(weights.map(_._1).distinct.size == weights.size,
      "duplicate stratum in weights")
    val L = lcmOf(weights)
    val spark = df.sparkSession
    import spark.implicits._
    val wdf = broadcast(
      weights.map { case (s, w) => (s, L / w) }.toDF("_s", "_m"))
    val keyed0 = df.select(col(strataCol).as("_s"), col(idCol),
        hashKey(col(idCol), seed).as("_k"))
      .join(wdf, "_s")
    val (ranked, nPerStratum) =
      rankedInStratum(keyed0, idCol, numPartitions)
    val terms = ordTermsSql(weights.map { case (s2, w2) =>
      (s2, L / w2, nPerStratum.getOrElse(s2, 0L)) })
    ranked
      .withColumn("_K", (lit(2L) * col("_r") - lit(1L)) * col("_m"))
      .withColumn("ord", expr(terms))
      .select(col("ord"), col(idCol), col("_s").as(strataCol))
  }

  /** lcm of the weights — the integer grid the (2r−1)·(L/w) schedule
    * keys live on. `key = (2r-1)·(L/w)` stays far below 2^63 for any
    * real corpus as long as L is bounded; 2^20 allows e.g. per-mille
    * weight grids.
    */
  private def lcmOf(weights: Seq[(String, Int)]): Long = {
    @annotation.tailrec
    def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)
    val L = weights.map(_._2.toLong).reduce((a, b) => a / gcd(a, b) * b)
    require(L <= (1L << 20), s"lcm of weights too large: $L")
    L
  }

  /** The ONE in-stratum pseudorandom rank exchange shared by
    * [[interleaveOrder]] and [[annealOrder]] (the two schedules cannot
    * drift on how rows are ranked): range partition on (_s, _k, id),
    * per-(partition, stratum) counts — O(partitions × strata) driver
    * rows — broadcast offsets, per-partition window. Input must carry
    * `_s` (stratum) and `_k` (the [[hashKey]]); returns the frame with
    * a 1-based in-stratum `_r` plus per-stratum totals.
    */
  private def rankedInStratum(keyed0: DataFrame, idCol: String,
                              numPartitions: Int)
      : (DataFrame, Map[String, Long]) = {
    val spark = keyed0.sparkSession
    val n = if (numPartitions > 0) numPartitions
      else spark.sessionState.conf.numShufflePartitions
    val keyed = keyed0
      .repartitionByRange(n, col("_s"), col("_k"), col(idCol))
      .withColumn("_pid", spark_partition_id())
      .localCheckpoint() // pin partitioning: counts and window must agree
    val cnts = keyed.groupBy("_pid", "_s").agg(count(lit(1)).as("_c"))
      .collect()
      .map(r => (r.getAs[Int]("_pid"), r.getAs[String]("_s"),
        r.getAs[Long]("_c")))
    val nPerStratum: Map[String, Long] =
      cnts.groupBy(_._2).map { case (s, rs) => s -> rs.map(_._3).sum }
    val offsets: Seq[(String, Long)] = cnts.groupBy(_._2).toSeq.flatMap {
      case (s, rs) =>
        val sorted = rs.sortBy(_._1)
        sorted.map(_._1).zip(sorted.scanLeft(0L)(_ + _._3).init)
          .map { case (p, o) => (s"$p|$s", o) }
    }
    val offExpr = element_at(
      map(offsets.flatMap { case (k, o) => Seq(lit(k), lit(o)) }: _*),
      concat(col("_pid").cast("string"), lit("|"), col("_s")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_pid"), col("_s")).orderBy(col("_k"), col(idCol))
    (keyed.withColumn("_r", offExpr + row_number().over(w)), nPerStratum)
  }

  /** The closed-form global-position SQL shared by [[interleaveOrder]]
    * and [[annealOrder]]: rows strictly before (_K, _s). Per stratum
    * (name, multiplier m', row count n'): the odd multiples of m' below
    * _K are (((_K−1) DIV m') + 1) DIV 2, capped at n'; an exact key tie
    * counts iff the stratum sorts before this row's.
    */
  private def ordTermsSql(strata: Seq[(String, Long, Long)]): String =
    strata.map { case (s2, m2, n2) =>
      // escape BOTH quote styles: Spark's default parser treats
      // backslash as an escape inside string literals, so a stratum
      // name containing one would otherwise mis-parse and silently
      // corrupt the tie-break comparison
      val sLit = s2.replace("\\", "\\\\").replace("'", "''")
      s"""(least(${n2}L, (((_K - 1) DIV ${m2}L) + 1) DIV 2) +
         | (CASE WHEN _s > '$sLit' AND _K % ${m2}L = 0
         |   AND (_K DIV ${m2}L) % 2 = 1
         |   AND ((_K DIV ${m2}L) + 1) DIV 2 <= ${n2}L
         |  THEN 1L ELSE 0L END))""".stripMargin
    }.mkString("", " + ", "")

  /** One phase of an [[annealOrder]] schedule: `weights` is the
    * phase's source mixture (the [[interleaveOrder]] pacing rule) and
    * `frac(s)` the fraction of source s's corpus this phase consumes.
    * `frac`'s keys must equal the weighted sources — a source the
    * phase paces must contribute rows and vice versa.
    */
  case class AnnealPhase(name: String, weights: Seq[(String, Int)],
                         frac: Map[String, Double])

  /** C31: the multi-phase annealed data schedule — the staged-mixture
    * curriculum production pretraining runs use (web-heavy early, a
    * high-quality-boosted mixture "annealed" at the end): each phase
    * consumes a declared FRACTION of every source it weights, in its
    * OWN [[interleaveOrder]] proportional order; phases concatenate
    * into one global 0-based `pos`. Every document trains at most
    * once: per source, phases consume disjoint contiguous windows of
    * the source's pseudorandom rank sequence (the cumulative-threshold
    * rule of [[deterministicSplit]], so rounding can never
    * double-consume or skip a rank); rows beyond every phase's window
    * — and sources no phase weights — are dropped, the
    * [[mixtureSample]] contract.
    *
    * Scale shape: the ONE in-stratum rank exchange ([[rankedInStratum]],
    * shared with C28) is the only shuffle whatever the phase count —
    * phase assignment is a map-side boundary lookup on the rank,
    * in-phase rank `_r − prev_boundary` is arithmetic, and the global
    * position is the phase offset plus the SAME closed form C28 uses
    * (per-phase realized counts are driver constants derived from the
    * one counts collect). The naive form — a rank per phase plus a
    * global total order — would be 2+K exchanges; none of them run.
    */
  def annealOrder(df: DataFrame, idCol: String, strataCol: String,
                  phases: Seq[AnnealPhase], seed: Long = 42L,
                  numPartitions: Int = 0): DataFrame = {
    require(phases.nonEmpty, "phases must be non-empty")
    require(phases.map(_.name).distinct.size == phases.size,
      "duplicate phase name")
    phases.foreach { p =>
      require(p.weights.nonEmpty && p.weights.forall(_._2 > 0),
        s"phase ${p.name}: weights must be non-empty and positive")
      require(p.weights.map(_._1).distinct.size == p.weights.size,
        s"phase ${p.name}: duplicate stratum in weights")
      require(p.frac.keySet == p.weights.map(_._1).toSet,
        s"phase ${p.name}: frac keys must equal the weighted sources")
      require(p.frac.values.forall(f => f > 0 && f <= 1),
        s"phase ${p.name}: fractions must be in (0, 1]")
    }
    val allSources = phases.flatMap(_.weights.map(_._1)).distinct
    allSources.foreach { s =>
      val tot = phases.flatMap(_.frac.get(s)).sum
      require(tot <= 1.0 + 1e-9,
        s"source $s: cumulative fraction $tot exceeds 1 — a document " +
          "would train twice")
    }
    val Ls = phases.map(p => lcmOf(p.weights))
    val spark = df.sparkSession
    import spark.implicits._
    val srcDf = broadcast(allSources.toDF("_s"))
    val keyed0 = df.select(col(strataCol).as("_s"), col(idCol),
        hashKey(col(idCol), seed).as("_k"))
      .join(srcDf, "_s")
    val (ranked, nPer) = rankedInStratum(keyed0, idCol, numPartitions)
    // driver arithmetic on the collected per-stratum totals: cumulative
    // per-source rank boundaries b = floor(cumFrac·n_s) (clamped), so
    // phase k of source s consumes ranks (prev, b] — disjoint windows.
    // EXACT decimal arithmetic (BigDecimal over each fraction's decimal
    // rendering): a double sum like 0.7 + 0.3 lands at 0.99999…, and an
    // epsilon nudge stops compensating once n_s · ulp-error crosses it —
    // decimal matches what a SQL oracle computes from the same literals
    // at ANY corpus size
    var cum = Map[String, BigDecimal]().withDefault(_ => BigDecimal(0))
    var prevB = Map[String, Long]().withDefault(_ => 0L)
    val bounds: Seq[Map[String, (Long, Long)]] = phases.map { p =>
      p.frac.map { case (s, f) =>
        val ns = nPer.getOrElse(s, 0L)
        val c = cum(s) + BigDecimal(f.toString)
        val b = math.min(ns,
          (c * ns).setScale(0, BigDecimal.RoundingMode.FLOOR).toLong)
        val pb = prevB(s)
        cum += (s -> c); prevB += (s -> b)
        s -> ((pb, b))
      }
    }
    val realized: Seq[Map[String, Long]] =
      bounds.map(_.map { case (s, (pb, b)) => s -> (b - pb) })
    val phaseSizes = realized.map(_.values.sum)
    val phaseOffsets = phaseSizes.scanLeft(0L)(_ + _).init
    def lookup(entries: Map[String, Long]): Column =
      if (entries.isEmpty) lit(null).cast("long")
      else element_at(
        map(entries.flatMap { case (s, v) =>
          Seq(lit(s), lit(v)) }.toSeq: _*), col("_s"))
    val prevCols = bounds.map(b => lookup(b.map { case (s, (pb, _)) => s -> pb }))
    val bCols = bounds.map(b => lookup(b.map { case (s, (_, hi)) => s -> hi }))
    val mCols = phases.zipWithIndex.map { case (p, k) =>
      lookup(p.weights.map { case (s, w) => s -> Ls(k) / w }.toMap) }
    val conds = phases.indices.map(k =>
      bCols(k).isNotNull && col("_r") > prevCols(k) && col("_r") <= bCols(k))
    def phased(f: Int => Column): Column =
      phases.indices.tail.foldLeft(when(conds(0), f(0))) {
        (acc, k) => acc.when(conds(k), f(k))
      }
    val posSql = phases.indices.map { k =>
      val strata = phases(k).weights.map { case (s2, w2) =>
        (s2, Ls(k) / w2, realized(k).getOrElse(s2, 0L)) }
      s"WHEN _ph = $k THEN ${phaseOffsets(k)}L + (${ordTermsSql(strata)})"
    }.mkString("CASE ", " ", " END")
    ranked
      .withColumn("_ph", phased(k => lit(k)))
      .filter(col("_ph").isNotNull) // leftover ranks: never scheduled
      .withColumn("_r2", phased(k => col("_r") - prevCols(k)))
      .withColumn("_m", phased(k => mCols(k)))
      .withColumn("_K", (lit(2L) * col("_r2") - lit(1L)) * col("_m"))
      .withColumn("pos", expr(posSql))
      .withColumn("phase", element_at(
        array(phases.map(p => lit(p.name)): _*), col("_ph") + lit(1)))
      .select(col("pos"), col(idCol), col("_s").as(strataCol),
        col("phase"))
  }

  def exportShards(df: DataFrame, idCol: String, outDir: String,
                   shards: Int, seed: Long = 42L): Unit = {
    // the assignment join introduces `shard` and `pos`: if the input
    // already carries either, the joined output would hold ambiguous
    // duplicate columns and the write would fail (or silently export
    // the wrong one) — refuse loudly instead
    require(!df.columns.contains("shard") && !df.columns.contains("pos"),
      "exportShards reserves the column names 'shard' and 'pos'; " +
        "rename them on the input first")
    val assign = shuffleShard(df, idCol, shards, seed)
    df.join(assign, Seq(idCol))
      // range, not hash: hash would collide distinct shard values into
      // one task (and idle others), serializing shard writes behind
      // stragglers — range partitioning on the shard id is a bijection
      .repartitionByRange(shards, col("shard"))
      .sortWithinPartitions(col("shard"), col("pos"))
      .write.mode("overwrite").partitionBy("shard").parquet(outDir)
  }
}
