package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import PersistedStore.{IvfPqStore, SqStore}

/** Similarity search (SURVEY.md §2 D-series): exact brute-force top-k
  * as the correctness baseline; random-hyperplane LSH and IVF cell
  * probing as the scale paths.
  *
  * Scale posture: the query set is the small side and is always
  * broadcast; the corpus is never collected. Brute force is
  * O(|corpus|·|queries|) map work with no shuffle until the final
  * per-query top-k; LSH/IVF first cut the corpus to matching buckets /
  * probed cells so the per-query work is a small fraction of the
  * corpus — that fraction is the recall/cost dial.
  */
object Knn {

  /** Sequential-fold dot product over two ARRAY<DOUBLE> columns — the
    * fold order matches a plain left-to-right sum so results are
    * reproducible bit-for-bit.
    */
  def dotD(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  /** Cosine similarity over ARRAY<DOUBLE> columns — fused native kernel
    * (one pass, no intermediate product array), same sequential
    * accumulation order as the fold form.
    */
  def cosineD(a: Column, b: Column): Column =
    graft.functions.vec.cosine(a, b)

  /** Float embedding column cast to ARRAY<DOUBLE> (do all math in
    * double: deterministic, and matches the DuckDB oracle's ::DOUBLE[]).
    */
  def asDouble(vec: Column): Column = transform(vec, x => x.cast("double"))

  // ---- the shared stages ------------------------------------------------
  //
  // Every search below is a composition of these: IVFADC's coarse
  // assign → (residual) → codec encode → ADC scan → exact re-rank, plus
  // the probe and candidate stages the IVF and stored-index paths share.

  /** `(query_id, qv)`: the query vectors as doubles. */
  private def queryVecs(queries: DataFrame, idCol: String,
                        vecCol: String): DataFrame =
    queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv"))

  /** `(neighbor_id, cv)`: the corpus vectors as doubles. */
  private def corpusVecs(corpus: DataFrame, idCol: String,
                         vecCol: String): DataFrame =
    corpus.select(col(idCol).as("neighbor_id"),
      asDouble(col(vecCol)).as("cv"))

  private def notSelf: Column = col("neighbor_id") =!= col("query_id")

  /** Per-query top-k of scored `(query_id, neighbor_id, cosine)` rows:
    * cosine descending, ties to the smaller neighbor_id, `rank` 1..k.
    * Returns `(query_id, keep.., rank, neighbor_id, cosine)`.
    */
  private def rankByCosine(scored: DataFrame, k: Int,
                           keep: Seq[String] = Nil): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select((("query_id" +: keep) ++ Seq("rank", "neighbor_id", "cosine"))
        .map(col): _*)
  }

  /** Exact cosine top-k of a candidate set: `(query_id, neighbor_id)`
    * pairs rescored against the full-precision corpus vectors and the
    * broadcast query table `q` (`query_id`, `qv`, plus any `keep`
    * columns that ride to the output) — the refine step every
    * shortlist ends in.
    */
  private def exactTopK(cand: DataFrame, corpus: DataFrame, q: DataFrame,
                        idCol: String, vecCol: String, k: Int,
                        keep: Seq[String] = Nil): DataFrame =
    rankByCosine(cand.join(corpusVecs(corpus, idCol, vecCol), "neighbor_id")
      .join(q, "query_id")
      .withColumn("cosine", cosineD(col("qv"), col("cv"))), k, keep)

  /** Salted two-phase top-`size` of approximately scored candidates,
    * ordered by `by` then neighbor_id: a per-(query, salt) window, then
    * a window over the surviving `salts · size` rows — identical to one
    * global window (the global top-S lies inside the union of per-salt
    * top-S), without a corpus-sized single-task sort per query.
    * Returns `(query_id, neighbor_id)`.
    */
  private def shortlist(scored: DataFrame, by: Column, size: Int,
                        salts: Int): DataFrame = {
    val wLocal = Window.partitionBy(col("query_id"), col("salt"))
      .orderBy(by, col("neighbor_id"))
    val wShort = Window.partitionBy(col("query_id"))
      .orderBy(by, col("neighbor_id"))
    scored.withColumn("salt", pmod(col("neighbor_id"), lit(salts)))
      .withColumn("lrn", row_number().over(wLocal))
      .filter(col("lrn") <= size)
      .withColumn("srn", row_number().over(wShort))
      .filter(col("srn") <= size)
      .select(col("query_id"), col("neighbor_id"))
  }

  /** The shortlist+refine tail of every quantized search: the
    * `overscan · k` best by the approximate score `by`, re-ranked by
    * exact cosine.
    */
  private def refine(scored: DataFrame, by: Column, corpus: DataFrame,
                     queries: DataFrame, idCol: String, vecCol: String,
                     k: Int, overscan: Int, salts: Int): DataFrame =
    exactTopK(shortlist(scored, by, k * overscan, salts), corpus,
      broadcast(queryVecs(queries, idCol, vecCol)), idCol, vecCol, k)

  /** Each query's `nProbe` nearest cells of the broadcast `coarse` table
    * by cosine, ties toward the smallest cell_id:
    * `(query_id, qv, cell_id, centroid, qsim, qrn)`, `qrn` the probe
    * rank. Unhinted — callers broadcast the columns they keep, and the
    * stored-index readers collect the probed cell list from it.
    */
  private def probe(queries: DataFrame, idCol: String, vecCol: String,
                    coarse: DataFrame, nProbe: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("qsim").desc, col("cell_id"))
    queryVecs(queries, idCol, vecCol).join(coarse)
      .withColumn("qsim", cosineD(col("qv"), col("centroid")))
      .withColumn("qrn", row_number().over(w))
      .filter(col("qrn") <= nProbe)
  }

  /** Coarse argmax assign of `(neighbor_id, cv)` vectors to their most
    * cosine-similar cell of the broadcast `coarse` table, ties toward
    * the smallest cell_id: `(neighbor_id, cell_id)`, plus `cv` when
    * `withVec`. An AGGREGATION, not a window: max_by is
    * partial-aggregatable, so the broadcast-NLJ'd n×C rows reduce
    * map-side to one row per vector and the n×C stream is never
    * shuffled or sorted. The winner stays a scalar cell id by default:
    * an array-valued buffer forces Spark out of hash aggregation into a
    * sort-based fallback (measured 6× slower at 100× data when the
    * residual path carried the centroid through `max_by`). Only
    * [[ivfCandidates]], which needs the vector for its cosine anyway,
    * carries `cv` through the winner instead of a re-join.
    */
  private def assign(vecs: DataFrame, coarse: DataFrame,
                     withVec: Boolean = false): DataFrame = {
    val best = vecs.join(coarse)
      .withColumn("csim", cosineD(col("cv"), col("centroid")))
      .groupBy(col("neighbor_id"))
      .agg(max_by(if (withVec) struct(col("cell_id"), col("cv"))
        else col("cell_id"), struct(col("csim"), -col("cell_id")))
        .as(if (withVec) "best" else "cell_id"))
    if (!withVec) best
    else best.select(col("best.cell_id").as("cell_id"), col("neighbor_id"),
      col("best.cv").as("cv"))
  }

  /** Exact cosine of probed `(query, candidate)` pairs, self excluded:
    * `(query_id, neighbor_id, cosine, qrn)`.
    */
  private def probedCosines(pairs: DataFrame): DataFrame =
    pairs.filter(notSelf)
      .withColumn("cosine", cosineD(col("qv"), col("cv")))
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("qrn"))

  /** The `m` contiguous subvectors (dim/m each) of the array<double>
    * column `vec`, one row per subspace; every other column of `df` is
    * kept as a key: `(keys.., sub, subvec)`.
    */
  private def subvectors(df: DataFrame, vec: String, dim: Int,
                         m: Int): DataFrame = {
    val d = dim / m
    df.select(df.columns.filter(_ != vec).map(col) :+
      posexplode(transform(sequence(lit(0), lit(m - 1)),
        j => slice(col(vec), j * d + 1, lit(d)))).as(Seq("sub", "subvec")): _*)
  }

  /** A `(sub, cell_id, cvec)` codebook ([[kmeansSubCodebooks]] output,
    * or a stored one) in the stages' `(sub, slot, cvec)` shape — "slot"
    * keeps the codebook index apart from the coarse cell_id.
    */
  private def slots(codebook: DataFrame): DataFrame =
    codebook.select(col("sub"), col("cell_id").as("slot"), col("cvec"))

  /** The systematic sub-codebook: slot c of subspace j is the j-th
    * subvector of the corpus vector with id c, for ids 0..ksub-1, so a
    * code IS its position in the ADC table row. Deterministic by
    * construction — it isolates the search machinery from k-means
    * training and keeps the DuckDB oracle an exact replay. `nIds` is
    * how many corpus ids are below ksub; anything short fails loudly
    * (sparse/offset id spaces), naming the trained `remedy`. With
    * `residualOf`, each sample vector is replaced by its residual to
    * its nearest cell there — found on this ksub-row branch by a window
    * (ksub×cells rows), so the broadcast codebook's lineage never
    * re-plans the corpus-sized assignment.
    */
  private def systematicCodebook(corpus: DataFrame, idCol: String,
                                 vecCol: String, nIds: Long, who: String,
                                 remedy: String, dim: Int, m: Int,
                                 ksub: Int,
                                 residualOf: Option[DataFrame] = scala.None)
      : DataFrame = {
    require(nIds == ksub,
      s"$who's systematic codebook needs contiguous ids 0..${ksub - 1} " +
        s"in the corpus, found $nIds of $ksub — $remedy")
    val low = corpus.filter(col(idCol) < ksub)
      .select(col(idCol).as("slot"), asDouble(col(vecCol)).as("vec"))
    val rows = residualOf.fold(low) { coarse =>
      val w = Window.partitionBy(col("slot"))
        .orderBy(col("csim").desc, col("cell_id"))
      low.join(coarse)
        .withColumn("csim", cosineD(col("vec"), col("centroid")))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("slot"),
          zip_with(col("vec"), col("centroid"), (x, y) => x - y).as("vec"))
    }
    subvectors(rows, "vec", dim, m)
      .select(col("sub"), col("slot"), col("subvec").as("cvec"))
  }

  /** PQ encode of `(neighbor_id, sub, subvec, rides..)` rows: per
    * (vector, subspace) the L2-nearest codebook slot, ties to the
    * smallest — min_by partial-aggregates against the broadcast
    * codebook, never a shuffled n×ksub stream. The codes collapse to
    * ONE array per vector via `sort_array(collect_list(struct(sub,
    * code)))`, sub-ordered however the groups arrive (the determinism
    * contract). `rides` are per-vector constants that come along:
    * `(neighbor_id, rides.., codes)`.
    */
  private def encode(subs: DataFrame, codebook: DataFrame,
                     rides: Seq[String] = Nil): DataFrame = {
    val ride = rides.map(c => first(col(c)).as(c))
    subs.join(broadcast(codebook), "sub")
      .withColumn("dist", l2sqD(col("subvec"), col("cvec")))
      .groupBy(col("neighbor_id"), col("sub"))
      .agg(min_by(col("slot"), struct(col("dist"), col("slot"))).as("code"),
        ride: _*)
      .groupBy(col("neighbor_id"))
      .agg(sort_array(collect_list(struct(col("sub"), col("code"))))
        .as("sc"), ride: _*)
      .select((col("neighbor_id") +: rides.map(col)) :+
        transform(col("sc"), s => s("code")).as("codes"): _*)
  }

  /** Per-`keys` ADC tables from `(keys.., sub, subvec)` query rows:
    * `tbl[j][c]` = squared L2 from subvector j to slot c, reshaped from
    * the (sub, code)-sorted list so position j·ksub + c IS (sub j,
    * code c). |keys| rows of m·ksub doubles, broadcast.
    */
  private def adcTables(subs: DataFrame, keys: Seq[String],
                        codebook: DataFrame, m: Int, ksub: Int)
      : DataFrame =
    broadcast(subs.join(broadcast(codebook), "sub")
      .withColumn("qdist", l2sqD(col("subvec"), col("cvec")))
      .groupBy(keys.map(col): _*)
      .agg(sort_array(collect_list(struct(col("sub"),
        col("slot").cast("long").as("code"), col("qdist")))).as("e"))
      .select(keys.map(col) :+
        transform(sequence(lit(0), lit(m - 1)), j =>
          transform(sequence(lit(0), lit(ksub - 1)), c =>
            element_at(col("e"), (j * ksub + c + 1).cast("int"))("qdist")))
          .as("tbl"): _*))

  /** ADC distance of `(query_id, neighbor_id, codes, tbl)` pairs, self
    * excluded: `adist = Σ_j tbl[j][codes[j]]`, a map-side expression
    * fold in sub order (order-stable double sum, oracle-replayable) —
    * no per-(pair, subspace) row ever shuffles.
    */
  private def adcScan(pairs: DataFrame, m: Int): DataFrame =
    pairs.filter(notSelf)
      .withColumn("adist",
        aggregate(sequence(lit(0), lit(m - 1)), lit(0.0), (acc, j) =>
          acc + element_at(
            element_at(col("tbl"), (j + lit(1)).cast("int")),
            (element_at(col("codes"), (j + lit(1)).cast("int")) + lit(1))
              .cast("int"))))

  // ---- exact, LSH and IVF search ----------------------------------------

  /** Exact top-k cosine neighbors of each query vector (self excluded).
    * Queries are broadcast; the only shuffle is the per-query window.
    */
  def bruteForce(corpus: DataFrame, queries: DataFrame,
                 idCol: String, vecCol: String, k: Int): DataFrame =
    rankByCosine(corpusVecs(corpus, idCol, vecCol)
      .join(broadcast(queryVecs(queries, idCol, vecCol)), notSelf)
      .withColumn("cosine", cosineD(col("qv"), col("cv"))), k)

  /** D10: radius (range) search — ALL corpus vectors within cosine ≥
    * `tau` of each query, unbounded by k (the other half of the ANN
    * API surface: top-k answers "the best few", radius answers
    * "everything this similar" — candidate generation for clustering,
    * near-dup audits, recall denominators). Entirely MAP-SIDE: queries
    * broadcast, the fused cosine kernel scores each (corpus × query)
    * pair inside the scan's stage and the threshold filters there too
    * — the per-query window top-k pays never runs, so the plan has NO
    * shuffle at all and scales with scan bandwidth × |queries|. Output
    * size is data-dependent (that is the point of radius search);
    * callers bound it with `tau`, not a cap.
    */
  def rangeSearch(corpus: DataFrame, queries: DataFrame, idCol: String,
                  vecCol: String, tau: Double): DataFrame =
    corpusVecs(corpus, idCol, vecCol)
      .join(broadcast(queryVecs(queries, idCol, vecCol)), notSelf)
      .withColumn("cosine", cosineD(col("qv"), col("cv")))
      .filter(col("cosine") >= tau)
      .select(col("query_id"), col("neighbor_id"), col("cosine"))

  /** Random-hyperplane LSH ANN: corpus and queries are bucketed by
    * `bands` independent sign-bit keys; a candidate is any corpus
    * vector sharing ≥1 bucket with the query; exact cosine re-ranks
    * the candidates. Recall (vs [[bruteForce]]) rises with `bands`
    * and falls with `planesPerBand` — asserted in the spec. The
    * defaults (32 bands × 6 planes) measure recall 0.88–0.90 on the
    * synthetic corpus (which has no strong neighbors — max cosine
    * ~0.5, the hardest case for hyperplane LSH) while keeping the
    * expected candidate fraction ≈ 1−(1−2⁻⁶)³² ≈ 0.4 of the corpus
    * for uncorrelated vectors; on clustered real embeddings the same
    * settings scan a far smaller fraction for the same recall.
    */
  def lsh(corpus: DataFrame, queries: DataFrame, idCol: String,
          vecCol: String, dim: Int, k: Int, bands: Int = 32,
          planesPerBand: Int = 6, seed: Long = 7L): DataFrame =
    lshTopK(corpus, queries, idCol, vecCol, dim, k, bands, planesPerBand,
        seed, filterCol = scala.None)

  /** [[lsh]] and [[filteredLsh]]'s one shared body: band keys only ride
    * the bucket shuffle (vectors stay out of the exploded stream),
    * query keys broadcast, exact-cosine rescore of the distinct
    * candidate set. With `filterCol` set, the filter value joins the
    * bucket key (candidates born filtered) and comes back as `label`.
    */
  private def lshTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                      vecCol: String, dim: Int, k: Int, bands: Int,
                      planesPerBand: Int, seed: Long,
                      filterCol: Option[String]): DataFrame = {
    val planes = Dedup.hyperplanes(bands * planesPerBand, dim, seed)
    val fk = filterCol.toSeq
    def keyed(df: DataFrame, id: String) =
      df.select(col(idCol).as(id) +: fk.map(col) :+
          posexplode(graft.functions.vec.hyperplaneBuckets(
            asDouble(col(vecCol)), planes, planesPerBand)): _*)
        .toDF(Seq(id) ++ fk ++ Seq("band", "bkey"): _*)
    val candIds = keyed(corpus, "neighbor_id")
      .join(broadcast(keyed(queries, "query_id")),
        fk ++ Seq("band", "bkey"))
      .filter(notSelf)
      .select("query_id", "neighbor_id")
      .distinct() // a pair can collide in several bands
    val q = broadcast(queries.select(
      Seq(col(idCol).as("query_id")) ++
        fk.map(c => col(c).as("label")) :+
        asDouble(col(vecCol)).as("qv"): _*))
    exactTopK(candIds, corpus, q, idCol, vecCol, k,
      keep = fk.map(_ => "label"))
  }

  /** The anchored-stride systematic coarse codebook, public so callers
    * can FREEZE it into a persisted layout ([[buildIvfPqIndex]]'s
    * `coarse` override) and still replay the assignment in a plain-SQL
    * oracle — the deterministic twin of a trained
    * [[kmeansSubCodebooks]] coarse table. Returns broadcast-hinted
    * `(cell_id, centroid: array<double>)`.
    */
  def strideCoarse(corpus: DataFrame, idCol: String, vecCol: String,
                   stride: Int = 50, maxCells: Int = 256): DataFrame =
    coarseTable(corpus, idCol, vecCol, stride, maxCells, scala.None,
      "strideCoarse")._1

  /** The broadcast (cell_id, centroid) coarse-quantizer table every IVF
    * family member shares: a TRAINED table when `coarse` is passed
    * (e.g. a full-vector [[kmeansSubCodebooks]] run with m = 1), else
    * the anchored systematic stride sample with the cell count CAPPED
    * at `maxCells` — a pure stride ties |cells| to n/stride, making
    * coarse assignment O(n²/stride) (super-linear in corpus size); the
    * effective stride grows with the corpus instead (FAISS's
    * fixed-nlist posture), so assignment stays O(n·maxCells) at any
    * scale. The sample anchors at the corpus' minimum id-residue so the
    * codebook is never empty (ids 1..49 with stride 50 would pick zero
    * centroids if the anchor were hardcoded to residue 0). `knownCount`
    * skips the count action when the caller already has it.
    * `countIdsBelow = Some(b)` also returns how many corpus ids are
    * below `b` (the systematic PQ codebook's contiguity check); on the
    * stride path it rides the anchor's aggregate, so no job is added.
    */
  private def coarseTable(corpus: DataFrame, idCol: String, vecCol: String,
                          stride: Int, maxCells: Int,
                          coarse: Option[DataFrame], who: String,
                          knownCount: Option[Long] = scala.None,
                          countIdsBelow: Option[Int] = scala.None)
      : (DataFrame, Option[Long]) = coarse match {
    case Some(c) =>
      (broadcast(c.select(col("cell_id"),
          asDouble(col("centroid")).as("centroid"))),
        countIdsBelow.map(b => corpus.filter(col(idCol) < b).count()))
    case scala.None =>
      val n = knownCount.getOrElse(corpus.count())
      require(n > 0, s"$who needs a non-empty corpus")
      val effStride = math.max(stride.toLong,
        math.ceil(n / maxCells.toDouble).toLong)
      // the stride anchor and the optional id count ride ONE aggregate
      // over the same id-column scan: a separate filter count would be
      // one more eager job and corpus pass inside the timed query
      val row = corpus.agg(
        min(pmod(col(idCol).cast("long"), lit(effStride))).as("m"),
        countIdsBelow.toSeq.map(b =>
          count(when(col(idCol) < b, lit(1))).as("nc")): _*).head()
      (broadcast(corpus
          .filter(pmod(col(idCol), lit(effStride)) === row.getLong(0))
          .select(col(idCol).as("cell_id"),
            asDouble(col(vecCol)).as("centroid"))),
        countIdsBelow.map(_ => row.getLong(1)))
  }

  /** IVF-style ANN: a deterministic coarse codebook (every `stride`-th
    * corpus vector, with the CELL COUNT capped at `maxCells` — a pure
    * stride ties |cells| to n/stride, making the assign step
    * super-linear in corpus size; the effective stride grows with the
    * corpus instead, the fixed-nlist posture real IVF indexes use),
    * each corpus vector assigned to its nearest centroid cell, each
    * query probing its `nProbe` nearest cells. At scale the assign step
    * is a broadcast map + partial-aggregating argmax (codebook ≪
    * corpus; no n×|codebook| shuffle) and the search only scans probed
    * cells.
    */
  def ivf(corpus: DataFrame, queries: DataFrame, idCol: String,
          vecCol: String, k: Int, stride: Int = 50,
          nProbe: Int = 5, maxCells: Int = 256,
          coarse: Option[DataFrame] = scala.None): DataFrame = {
    val n = corpus.count()
    if (n == 0) // empty corpus -> empty, correctly-shaped:
      // same column order and types as the normal path (neighbor_id
      // keeps the corpus id type, whatever it is)
      return queries.limit(0).select(col(idCol).as("query_id"))
        .withColumn("rank", lit(0L))
        .crossJoin(corpus.limit(0).select(col(idCol).as("neighbor_id")))
        .withColumn("cosine", lit(null).cast("double")) // nullable, like cosineD's
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          col("cosine"))
    rankByCosine(ivfCandidates(corpus, queries, idCol, vecCol,
      coarseTable(corpus, idCol, vecCol, stride, maxCells, coarse, "ivf",
        knownCount = Some(n))._1, nProbe), k)
  }

  /** The in-plan IVF candidate stream behind top-k [[ivf]], radius
    * [[rangeSearchIvf]] and the [[recallSweep]]: the corpus assigned to
    * its nearest cell of `centroids`, each query's `nProbe` nearest
    * cells broadcast, exact cosine on the probed pairs —
    * `(query_id, neighbor_id, cosine, qrn)`.
    */
  private def ivfCandidates(corpus: DataFrame, queries: DataFrame,
                            idCol: String, vecCol: String,
                            centroids: DataFrame, nProbe: Int): DataFrame =
    probedCosines(assign(corpusVecs(corpus, idCol, vecCol), centroids,
        withVec = true)
      .join(broadcast(probe(queries, idCol, vecCol, centroids, nProbe)
        .select(col("query_id"), col("qv"), col("cell_id"), col("qrn"))),
        "cell_id"))

  /** D10b: IVF-pruned radius search — the SCALE PATH for
    * [[rangeSearch]]: brute-force radius scans the whole corpus for
    * every query set, which is exactly right until the corpus is 100
    * TB; here each query probes only its `nProbe` nearest coarse cells
    * and thresholds exact cosine inside them, so the scanned fraction
    * is ~nProbe/cells of the corpus. Approximate in precisely the
    * [[ivf]] top-k sense (a neighbor assigned to an unprobed cell is
    * missed — FAISS's range_search-on-IVF contract); the spec measures
    * radius-recall against the exact [[rangeSearch]] answer and the
    * registered query pins it ≥ the IVF top-k recall floor on the sf
    * corpus.
    */
  def rangeSearchIvf(corpus: DataFrame, queries: DataFrame,
                     idCol: String, vecCol: String, tau: Double,
                     stride: Int = 50, nProbe: Int = 5,
                     maxCells: Int = 256,
                     coarse: Option[DataFrame] = scala.None): DataFrame = {
    // count once ([[ivf]]'s pattern): the same action serves the
    // empty-corpus guard AND coarseTable's stride computation
    val n = corpus.count()
    if (n == 0) // empty corpus -> empty, correctly-shaped
      return queries.limit(0).select(col(idCol).as("query_id"))
        .crossJoin(corpus.limit(0).select(col(idCol).as("neighbor_id")))
        .withColumn("cosine", lit(null).cast("double"))
        .select(col("query_id"), col("neighbor_id"), col("cosine"))
    ivfCandidates(corpus, queries, idCol, vecCol,
        coarseTable(corpus, idCol, vecCol, stride, maxCells, coarse, "ivf",
          knownCount = Some(n))._1, nProbe)
      .filter(col("cosine") >= tau)
      .select(col("query_id"), col("neighbor_id"), col("cosine"))
  }

  /** Squared L2 over two ARRAY<DOUBLE> columns, sequential fold order
    * (bit-reproducible, oracle-replayable like [[dotD]]).
    */
  def l2sqD(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, v) => acc + v)

  // ---- product quantization ---------------------------------------------

  /** Product-quantization ANN with asymmetric distance (ADC) and exact
    * re-rank — the memory-compressed search path a 100 TB corpus needs:
    * each vector is stored as `m` small codes (one byte each at
    * ksub ≤ 256) instead of `dim` floats, and candidate scoring reads
    * only those codes plus a per-query distance table.
    *
    *  1. Sub-codebooks: the vector space is split into `m` contiguous
    *     subspaces of dim/m dims; the codebook of subspace j is the j-th
    *     subvector of the `ksub` lowest-id corpus vectors
    *     ([[systematicCodebook]]; a production run substitutes k-means,
    *     [[pqTrained]] — every downstream step is unchanged).
    *  2. Encode: every corpus vector gets, per subspace, the id of its
    *     L2-nearest sub-centroid (ties to the smallest id) — an
    *     `m × ksub` broadcast map + partial-aggregating argmin, never a
    *     shuffled n×ksub stream.
    *  3. ADC scan: each query precomputes its `m × ksub` table of
    *     squared-L2 subdistances, reshaped to a nested array and
    *     BROADCAST; approx dist(q, x) = sum_j table[j][code_j(x)] is a
    *     pure map-side expression fold.
    *  4. The `overscan · k` best approx candidates per query are found
    *     with a salted two-phase top-k, then re-ranked by exact cosine —
    *     the standard PQ shortlist+refine.
    *
    * Scale posture: codes are O(n·m) small ints built by one
    * partial-agg shuffle; the scan is the canonical O(n·m) table
    * lookups per query, all map work against the broadcast tables; the
    * only corpus-sized shuffles are the codes groupBy and the salted
    * first-phase window.
    */
  def pq(corpus: DataFrame, queries: DataFrame, idCol: String,
         vecCol: String, dim: Int, k: Int, m: Int = 8, ksub: Int = 16,
         overscan: Int = 4, salts: Int = 32): DataFrame = {
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    val cb = systematicCodebook(corpus, idCol, vecCol,
      corpus.filter(col(idCol) < ksub).count(), "pq",
      "use pqTrained for non-contiguous id spaces", dim, m, ksub)
    val approx = encode(subvectors(corpusVecs(corpus, idCol, vecCol), "cv",
        dim, m), cb)
      .join(adcTables(subvectors(queryVecs(queries, idCol, vecCol), "qv",
        dim, m), Seq("query_id"), cb, m, ksub))
    refine(adcScan(approx, m), col("adist"), corpus, queries, idCol, vecCol,
      k, overscan, salts)
  }

  /** Lloyd's k-means sub-codebooks for [[pqTrained]] — the slot the
    * systematic codebook in [[pq]] stands in for. Deterministic and
    * oracle-replayable by construction:
    *
    *  - training set: the vectors with `id % em == 0` where
    *    `em = max(trainMod, ceil(count / maxTrain))` — a deterministic
    *    sample whose SIZE is capped: k-means quality needs a fixed
    *    number of examples per centroid, not a corpus fraction, so as
    *    the corpus scales the modulus rises and training cost stays
    *    constant (~maxTrain vectors) while encoding still covers
    *    everything. The cap assumes roughly dense ids (the realized
    *    sample under a sparse id space is smaller but still
    *    deterministic and engine-replayable from the same formula);
    *  - init: the `ksub` smallest-id training vectors' subvectors
    *    (`orderBy(id).limit(ksub)` — a distributed top-k, no global
    *    sort), codebook slot = rank, so ANY id space yields codes
    *    0..ksub-1;
    *  - assign: `l2sqD` argmin with ties to the smallest cell — the
    *    (dist, cell_id) struct-min rule, identical to the encode step;
    *  - update: per-component means computed from QUANTIZED integer
    *    sums (`floor(v·2²⁰ + 0.5)` summed as longs): integer addition
    *    is associative, so the result is bit-identical however the sum
    *    is ordered or partitioned — a SQL oracle replays it exactly,
    *    and (since r18) the Lloyd loop itself runs DRIVER-LOCAL on the
    *    one collected sample: the cap bounds driver state at ~maxTrain
    *    vectors (MBs) at ANY corpus size, and the former
    *    per-iteration broadcast-join + partial-agg + collect cycle
    *    paid distributed-job scheduling for microseconds of ALU work.
    *    The ≤2⁻²⁰ quantization nudge is far below any clustering
    *    signal. Empty clusters keep their previous centroid. The ONLY
    *    distributed work is the capped sample collect (plus the count
    *    unless `knownCount` supplies it) — the corpus never moves.
    *
    * Returns `(sub, cell_id, cvec)` with cell_id 0..ksub-1, the
    * codebook shape [[pqTrained]], [[ivfpq]]'s `codebooks` and
    * [[buildIvfPqIndex]] take.
    */
  def kmeansSubCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
                         dim: Int, m: Int, ksub: Int, iters: Int = 2,
                         trainMod: Int = 4, maxTrain: Int = 8192,
                         knownCount: Option[Long] = scala.None)
      : DataFrame = {
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(maxTrain >= ksub, s"maxTrain $maxTrain < ksub $ksub")
    val d = dim / m
    val spark = corpus.sparkSession
    import spark.implicits._
    val S = 1048576.0 // 2^20 quantization scale for associative sums
    // parquet-metadata-cheap count; raises the modulus so the sample
    // stays ~maxTrain however large the corpus grows. `knownCount`
    // skips the pass when the caller already holds the input's row
    // count (the C13 knownCounts precedent): [[ivfpqResidualTrained]]'s
    // residual frame has EXACTLY one row per corpus vector, so counting
    // it would re-run the full coarse-assign lineage for one constant.
    val n = knownCount.getOrElse(corpus.count())
    val em = math.max(trainMod.toLong, (n + maxTrain - 1) / maxTrain)
    // ONE distributed action: collect the count-capped sample
    // (≤ ~maxTrain vectors — MBs at any corpus size, the cap exists
    // precisely so training state is constant). Every Lloyd iteration
    // then runs DRIVER-LOCAL, reproducing the former distributed plan
    // bit-for-bit: the update sums were already QUANTIZED-INTEGER
    // (associative ⇒ partitioning-invariant), the assignment argmin
    // replays l2sqD's sequential fold and min_by's (dist, cell_id)
    // struct order, and the mean replays the exact
    // `sq.toDouble / cnt / S` division chain. The former shape — one
    // broadcast-join + partial-agg + collect action PER iteration over
    // a persisted ~8k-row sample — paid per-iteration job scheduling
    // for work that is microseconds of ALU; at bench sf that overhead
    // was 60-80% of every trained query's wall time (guide §1.2: fix
    // the algorithm's pass structure before per-task tuning).
    val sampRows = corpus
      .filter(pmod(col(idCol).cast("long"), lit(em)) === 0)
      .select(col(idCol).cast("long").as("_id"),
        asDouble(col(vecCol)).as("v"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    require(sampRows.length >= ksub,
      s"k-means needs >= $ksub training vectors, found " +
        s"${math.min(sampRows.length, ksub)} " +
        s"(training sample = ids with id % $em == 0)")
    // cent(sub)(cell)(component); init = the ksub smallest-id sample
    // vectors' subvectors (the former orderBy(_id).limit(ksub))
    var cent: Array[Array[Array[Double]]] = Array.tabulate(m, ksub) {
      (j, c) => sampRows(c)._2.slice(j * d, (j + 1) * d)
    }
    def centDf = cent.zipWithIndex.flatMap { case (byCell, j) =>
      byCell.zipWithIndex.map { case (cv, c) => (j, c.toLong, cv.toSeq) }
    }.toSeq.toDF("sub", "cell_id", "cvec")
    for (_ <- 1 to iters) {
      val sq = Array.ofDim[Long](m, ksub, d)
      val cnt = Array.ofDim[Long](m, ksub)
      sampRows.foreach { case (_, v) =>
        var j = 0
        while (j < m) {
          // argmin over (dist, cell_id): ascending cell order + strict
          // `<` keeps the smallest cell on ties, the min_by struct rule;
          // Double.compare is Spark's double ordering (NaN greatest)
          var best = 0
          var bestDist = java.lang.Double.MAX_VALUE
          var c = 0
          while (c < ksub) {
            val cv = cent(j)(c)
            var acc = 0.0 // l2sqD: sequential fold in component order
            var i = 0
            while (i < d) {
              val diff = v(j * d + i) - cv(i)
              acc += diff * diff
              i += 1
            }
            if (c == 0 || java.lang.Double.compare(acc, bestDist) < 0) {
              best = c; bestDist = acc
            }
            c += 1
          }
          var i = 0
          while (i < d) {
            // floor(comp·S + 0.5) summed as longs — the associative
            // integer sum the distributed update used
            sq(j)(best)(i) += math.floor(v(j * d + i) * S + 0.5).toLong
            i += 1
          }
          cnt(j)(best) += 1L
          j += 1
        }
      }
      val next = cent.map(_.map(_.clone()))
      var j = 0
      while (j < m) {
        var c = 0
        while (c < ksub) {
          if (cnt(j)(c) > 0L) { // empty clusters keep their centroid
            var i = 0
            while (i < d) {
              next(j)(c)(i) = sq(j)(c)(i).toDouble / cnt(j)(c) / S
              i += 1
            }
          }
          c += 1
        }
        j += 1
      }
      cent = next
    }
    centDf
  }

  /** [[pq]] with TRAINED k-means sub-codebooks instead of the
    * systematic id-sampled ones — the production PQ path: works on any
    * id space (no contiguity requirement) and fits the codebook to the
    * corpus distribution. Same search machinery, same output shape.
    */
  def pqTrained(corpus: DataFrame, queries: DataFrame, idCol: String,
                vecCol: String, dim: Int, k: Int, m: Int = 8,
                ksub: Int = 16, iters: Int = 2, trainMod: Int = 4,
                maxTrain: Int = 8192, overscan: Int = 4,
                salts: Int = 32): DataFrame = {
    val cb = slots(kmeansSubCodebooks(corpus, idCol, vecCol, dim, m, ksub,
      iters, trainMod, maxTrain))
    val approx = encode(subvectors(corpusVecs(corpus, idCol, vecCol), "cv",
        dim, m), cb)
      .join(adcTables(subvectors(queryVecs(queries, idCol, vecCol), "qv",
        dim, m), Seq("query_id"), cb, m, ksub))
    refine(adcScan(approx, m), col("adist"), corpus, queries, idCol, vecCol,
      k, overscan, salts)
  }

  /** IVF × PQ — the composition a true 100 TB corpus needs: vectors are
    * assigned to coarse IVF cells (the [[ivf]] quantizer) AND encoded as
    * PQ codes (the [[pq]] compressor); a query probes its `nProbe`
    * nearest cells and ADC-scans ONLY the codes in probed cells, so the
    * per-query work is the probed fraction of the corpus instead of the
    * flat-PQ O(n·m) full scan ([[pq]]'s scale ceiling — its ratio100 was
    * the suite's worst precisely because every query touches every
    * code). Exact cosine re-ranks the shortlist as usual. With one
    * coarse cell and the same codebooks it IS flat PQ (spec-pinned).
    *
    * Plan shape: coarse assign and PQ encode are both broadcast +
    * partial-agg reductions over the corpus; their two per-vector
    * outputs co-shuffle once on the vector id (a production store would
    * persist that (cell, codes) pairing as the index); `probes` and the
    * per-query ADC tables are broadcast, so cell pruning happens
    * map-side — non-probed vectors are dropped without a shuffle and
    * without computing any distance.
    *
    * `codebooks`: pass [[kmeansSubCodebooks]] output for trained
    * sub-quantizers on arbitrary id spaces; default is the systematic
    * codebook (with [[pq]]'s contiguous-id requirement). `coarse`:
    * pass a trained `(cell_id, centroid)` coarse quantizer (e.g. a
    * full-vector [[kmeansSubCodebooks]] run with m = 1, the same slot
    * [[ivf]] has); default is the anchored systematic stride sample.
    * With BOTH passed the composition is the full production IVFADC —
    * any id space, data-fitted cells and sub-codebooks. Cells are
    * pruned on RAW-vector codes (the simpler IVFADC variant);
    * [[ivfpqResidual]] is the residual-encoding refinement — sharper
    * ADC at the cost of per-(query, cell) tables.
    */
  def ivfpq(corpus: DataFrame, queries: DataFrame, idCol: String,
            vecCol: String, dim: Int, k: Int, stride: Int = 50,
            nProbe: Int = 5, m: Int = 8, ksub: Int = 16,
            overscan: Int = 4, salts: Int = 32,
            maxCells: Int = 256,
            codebooks: Option[DataFrame] = scala.None,
            coarse: Option[DataFrame] = scala.None): DataFrame = {
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    // systematic-path constants in ONE eager pass (see coarseTable):
    // the stride anchor and the codebook contiguity count
    val (coarseDf, nIds) = coarseTable(corpus, idCol, vecCol, stride,
      maxCells, coarse, "ivfpq",
      countIdsBelow = if (codebooks.isEmpty) Some(ksub) else scala.None)
    val cb = codebooks.map(slots).getOrElse(systematicCodebook(corpus,
      idCol, vecCol, nIds.get, "ivfpq",
      "pass kmeansSubCodebooks output for non-contiguous id spaces", dim,
      m, ksub))
    val probes = broadcast(probe(queries, idCol, vecCol, coarseDf, nProbe)
      .select(col("query_id"), col("cell_id")))
    // the ONLY corpus-sized shuffle after encode is the codes⋈cells id
    // join; the probes/ADC-table joins are broadcast, so pruning + ADC
    // stay map-side
    val vecs = corpusVecs(corpus, idCol, vecCol)
    val approx = encode(subvectors(vecs, "cv", dim, m), cb)
      .join(assign(vecs, coarseDf), "neighbor_id")
      .join(probes, "cell_id")
      .join(adcTables(subvectors(queryVecs(queries, idCol, vecCol), "qv",
        dim, m), Seq("query_id"), cb, m, ksub), "query_id")
    refine(adcScan(approx, m), col("adist"), corpus, queries, idCol, vecCol,
      k, overscan, salts)
  }

  /** Per-vector coarse residuals under a `(cell_id, centroid)` coarse
    * quantizer: `(neighbor_id, ccell, rv)` with
    * `rv = v − centroid(cell(v))` — exactly the assignment rule
    * [[ivfpqResidual]] uses (scalar-only `max_by` argmax, ties toward
    * the smallest cell_id, centroid re-attached by broadcast). This is
    * the TRAINING PROJECTION for residual-space sub-codebooks: feed it
    * to [[kmeansSubCodebooks]] (idCol = "neighbor_id", vecCol = "rv")
    * and pass the result as [[ivfpqResidual]]'s `codebooks`. A
    * production run training and searching in one job pays the coarse
    * assign lineage twice (once under the k-means sample filter — which
    * pushes down to the sampled ids — once in the search); persist this
    * frame to pay it once.
    */
  def residuals(corpus: DataFrame, idCol: String, vecCol: String,
                coarse: DataFrame): DataFrame = {
    val coarseDf = broadcast(coarse.select(col("cell_id"),
      asDouble(col("centroid")).as("centroid")))
    val corpusVec = corpusVecs(corpus, idCol, vecCol)
    assign(corpusVec, coarseDf).withColumnRenamed("cell_id", "ccell")
      .join(corpusVec, "neighbor_id")
      .join(broadcast(coarseDf.select(col("cell_id").as("ccell"),
        col("centroid"))), "ccell")
      .select(col("neighbor_id"), col("ccell"),
        zip_with(col("cv"), col("centroid"), (x, y) => x - y).as("rv"))
  }

  /** IVF × PQ with RESIDUAL encoding — the full FAISS-style IVFADC:
    * each vector is PQ-encoded as its residual `v − centroid(cell(v))`,
    * and a query builds a separate ADC table per probed cell from
    * `q − centroid(cell)`. Residuals have far smaller spread than raw
    * vectors, so the same m×ksub codebook resolves much finer distances
    * — higher shortlist fidelity at identical code size. The extra
    * costs stay broadcast-sized: ADC tables are per (query, probed
    * cell) — `|Q|·nProbe·m·ksub` doubles — and the sub-codebook is
    * built over residual space (systematically, from the residuals of
    * the `ksub` lowest ids; or pass `codebooks` trained on
    * [[residuals]] and/or a trained `coarse` quantizer — see
    * [[ivfpqResidualTrained]] for the fully-trained composition on
    * arbitrary id spaces).
    *
    * The "far smaller spread" premise needs CLUSTERED data: on a
    * structureless corpus `var(x − centroid) ≈ 2·var(x)` and residual
    * codes are coarser than raw ones (the synthetic test corpus
    * measures recall 0.22 vs raw [[ivfpq]]'s ~0.5 — spec-documented).
    * Real embedding corpora are clustered; that is the case this
    * operator exists for.
    *
    * Plan shape: the coarse assign aggregates ONLY the scalar winning
    * cell id (see [[assign]]), and the residual is computed by
    * re-attaching the vector (one id-keyed co-shuffle, the same join
    * the raw path pays for codes⋈cells) and the centroid (broadcast).
    * The systematic codebook's residuals are built on a dedicated
    * ksub-row branch ([[systematicCodebook]]); encode / probed-cell
    * pruning / salted shortlist / exact re-rank all match [[ivfpq]].
    */
  def ivfpqResidual(corpus: DataFrame, queries: DataFrame, idCol: String,
                    vecCol: String, dim: Int, k: Int, stride: Int = 50,
                    nProbe: Int = 5, m: Int = 8, ksub: Int = 16,
                    overscan: Int = 4, salts: Int = 32,
                    maxCells: Int = 256,
                    codebooks: Option[DataFrame] = scala.None,
                    coarse: Option[DataFrame] = scala.None): DataFrame = {
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    // systematic-path constants in ONE eager pass (see coarseTable):
    // the stride anchor and the codebook contiguity count
    val (coarseDf, nIds) = coarseTable(corpus, idCol, vecCol, stride,
      maxCells, coarse, "ivfpqResidual",
      countIdsBelow = if (codebooks.isEmpty) Some(ksub) else scala.None)
    val cb = codebooks.map(slots).getOrElse(systematicCodebook(corpus,
      idCol, vecCol, nIds.get, "ivfpqResidual",
      "pass codebooks trained on [[residuals]] for non-contiguous id " +
        "spaces (see ivfpqResidualTrained)", dim, m, ksub,
      residualOf = Some(coarseDf)))
    // probes keep the residual query vector per probed cell
    val probes = broadcast(probe(queries, idCol, vecCol, coarseDf, nProbe)
      .select(col("query_id"), col("cell_id"),
        zip_with(col("qv"), col("centroid"), (x, y) => x - y).as("rqv")))
    // encode residuals; the coarse cell rides along to the code row
    val codes = encode(subvectors(residuals(corpus, idCol, vecCol, coarseDf)
      .withColumnRenamed("ccell", "cell_id"), "rv", dim, m), cb,
      rides = Seq("cell_id"))
    // per-(query, probed cell) ADC tables from the residual query
    val qtab = adcTables(subvectors(probes, "rqv", dim, m),
      Seq("query_id", "cell_id"), cb, m, ksub)
    val approx = codes
      .join(probes.select(col("query_id"), col("cell_id")), "cell_id")
      .join(qtab, Seq("query_id", "cell_id"))
    refine(adcScan(approx, m), col("adist"), corpus, queries, idCol, vecCol,
      k, overscan, salts)
  }

  /** [[ivfpqResidual]] with every quantizer TRAINED — the production
    * IVFADC composition on arbitrary id spaces: a full-vector k-means
    * coarse quantizer (m = 1, `nCells` centroids), then residual-space
    * sub-codebooks fit by the same Lloyd machinery over [[residuals]]
    * (k-means trains on `v − centroid(cell(v))`, the space the codes
    * actually live in — FAISS's `train_residual`). All training is
    * count-capped deterministic sampling ([[kmeansSubCodebooks]]), so
    * training cost is constant in corpus size; the search plan is
    * [[ivfpqResidual]]'s unchanged.
    */
  def ivfpqResidualTrained(corpus: DataFrame, queries: DataFrame,
                           idCol: String, vecCol: String, dim: Int, k: Int,
                           nProbe: Int = 5, m: Int = 8, ksub: Int = 16,
                           nCells: Int = 16, iters: Int = 2,
                           trainMod: Int = 4, maxTrain: Int = 8192,
                           overscan: Int = 4, salts: Int = 32): DataFrame = {
    // one corpus count serves BOTH trainings: the residual frame has
    // exactly one row per corpus vector (assign emits one winning cell
    // per id, both re-attach joins are key-preserving), so counting it
    // would re-run the full coarse-assign lineage for the same number
    val n = corpus.count()
    val coarseCb = kmeansSubCodebooks(corpus, idCol, vecCol, dim,
        m = 1, ksub = nCells, iters = iters, trainMod = trainMod,
        maxTrain = maxTrain, knownCount = Some(n))
      .select(col("cell_id"), col("cvec").as("centroid"))
    val res = residuals(corpus, idCol, vecCol, coarseCb)
    val cbs = kmeansSubCodebooks(res, "neighbor_id", "rv", dim, m, ksub,
      iters = iters, trainMod = trainMod, maxTrain = maxTrain,
      knownCount = Some(n))
    ivfpqResidual(corpus, queries, idCol, vecCol, dim, k,
      nProbe = nProbe, m = m, ksub = ksub, overscan = overscan,
      salts = salts, codebooks = Some(cbs), coarse = Some(coarseCb))
  }

  /** D9: in-engine recall@k evaluation — the index-quality report a
    * production vector store runs continuously (an ANN index silently
    * decays as the corpus drifts from its training distribution; D8's
    * append scaladoc says "rebuild when recall decays" — THIS is the
    * operator that notices). Per query: how many of the exact top-k
    * rows (`exact`) the approximate result (`approx`) recovered, and
    * the recall fraction. A left join from truth to the approx set,
    * one per-query partial-agg count — both inputs are top-k-bounded
    * (k rows per query), so the whole report is O(|queries|·k)
    * whatever the corpus size; the expensive part is producing `exact`,
    * which an operations cadence amortizes over a SAMPLED query set.
    */
  def recall(exact: DataFrame, approx: DataFrame): DataFrame = {
    // denominator = the per-query count of exact rows (recall@k when
    // `exact` is a top-k table): a truth set with fewer than k rows
    // (corpus smaller than k+1, or a filtered slice) must still score
    // 1.0 when the index recovered everything recoverable. The approx
    // side is deduped first so a caller handing a non-deduped
    // candidate list can't fan out joined truth rows and corrupt both
    // counts. The exact projection is deduped for the same reason: a
    // truth table with duplicate (query_id, neighbor_id) rows would
    // fan out the join and inflate n_hits and n_exact together,
    // silently skewing recall.
    exact.select(col("query_id"), col("neighbor_id")).distinct()
      .join(approx.select(col("query_id"), col("neighbor_id")).distinct()
        .withColumn("_hit", lit(1L)),
        Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(sum(coalesce(col("_hit"), lit(0L))).as("n_hits"),
        count(lit(1)).as("n_exact"))
      .withColumn("recall", round(col("n_hits") / col("n_exact"), 6))
      .orderBy("query_id")
  }

  /** D9b: recall@k vs nProbe TUNING SWEEP over ONE IVF geometry — the
    * measured recall-vs-cost curve that turns the main IVF knob into
    * an engineering decision (each +1 probe scans ~1/cells more of
    * the corpus; the question is what recall it buys ON THIS corpus).
    * ONE plan, not |settings| searches: the corpus is cell-assigned
    * once, each query's cells are ranked once to max(nProbes), exact
    * cosine runs once per probed (query, candidate) pair at the
    * WIDEST setting, and every narrower setting is a filter on the
    * candidate's probe rank (probing p cells sees exactly the pairs
    * with rank ≤ p — the nested-probe property) — so the sweep costs
    * one max-setting search plus per-setting top-k windows. Truth is
    * one [[bruteForce]] top-k. One row per (n_probe, query): (n_probe,
    * query_id, n_hits, n_exact, recall); recall is non-decreasing in
    * n_probe per query BY CONSTRUCTION (candidate sets nest), which
    * the spec pins along with per-setting equality to the
    * single-setting [[ivf]]+[[recall]] composition.
    */
  def recallSweep(corpus: DataFrame, queries: DataFrame, idCol: String,
                  vecCol: String, k: Int,
                  nProbes: Seq[Int] = Seq(1, 2, 4, 8),
                  stride: Int = 50, maxCells: Int = 256,
                  coarse: Option[DataFrame] = scala.None): DataFrame = {
    require(nProbes.nonEmpty && nProbes.forall(_ >= 1),
      s"nProbes must be non-empty positive settings, got $nProbes")
    // candidates probed to the WIDEST setting; qrn is each cell's rank
    val cand = ivfCandidates(corpus, queries, idCol, vecCol,
      coarseTable(corpus, idCol, vecCol, stride, maxCells, coarse,
        "recallSweep")._1, nProbes.max)
    sweepScore(cand, corpus, queries, idCol, vecCol, k, nProbes)
  }

  /** The shared scoring tail of the nProbe sweeps: per-setting top-k
    * windows over the rank-annotated candidate set (probing p cells
    * sees exactly the pairs with `qrn` ≤ p — the nested-probe
    * property), one [[bruteForce]] truth, recall per (n_probe, query).
    */
  private def sweepScore(cand: DataFrame, corpus: DataFrame,
                         queries: DataFrame, idCol: String,
                         vecCol: String, k: Int,
                         nProbes: Seq[Int]): DataFrame = {
    val spark = cand.sparkSession
    import spark.implicits._
    val settings = broadcast(
      nProbes.distinct.sorted.toDF("n_probe"))
    val wSet = Window.partitionBy(col("n_probe"), col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    val approx = cand.join(settings, col("qrn") <= col("n_probe"))
      .withColumn("rank", row_number().over(wSet))
      .filter(col("rank") <= k)
      .select(col("n_probe"), col("query_id"), col("neighbor_id"),
        lit(1L).as("_hit"))
    val exact = bruteForce(corpus, queries, idCol, vecCol, k)
      .select(col("query_id"), col("neighbor_id"))
      .crossJoin(settings)
    exact.join(approx, Seq("n_probe", "query_id", "neighbor_id"), "left")
      .groupBy(col("n_probe"), col("query_id"))
      .agg(sum(coalesce(col("_hit"), lit(0L))).as("n_hits"),
        count(lit(1)).as("n_exact"))
      .withColumn("recall", round(col("n_hits") / col("n_exact"), 6))
      .orderBy("n_probe", "query_id")
  }

  /** D9c: [[recallSweep]] off the PERSISTED IVF×PQ store — the
    * serving-side twin: the in-plan sweep pays D3's per-call
    * corpus→cell assignment (the suite's knn_ivf-shaped ratio100);
    * here the stored layout IS the assignment, so a sweep reads only
    * the probed `cell_id=` partitions (the [[rangeSearchIndexed]]
    * partition-filter pattern) plus exact vectors for the candidate
    * rescore — the amortized cost curve an operator actually sweeps
    * against a production store. When the store was built under the
    * frozen [[strideCoarse]] (the registered fixture), the stored
    * assignment equals the in-plan argmax rule exactly, so answers
    * equal [[recallSweep]]'s verbatim (spec-pinned) and the oracle
    * replays the in-plan formulation with no store in sight.
    */
  def recallSweepIndexed(spark: SparkSession, dir: String,
                         queries: DataFrame, idCol: String,
                         vecCol: String, dim: Int, k: Int,
                         corpus: DataFrame,
                         nProbes: Seq[Int] = Seq(1, 2, 4, 8))
      : DataFrame = {
    require(nProbes.nonEmpty && nProbes.forall(_ >= 1),
      s"nProbes must be non-empty positive settings, got $nProbes")
    sweepScore(indexedCandidates(spark,
        PersistedStore.IvfPq.open(spark, dir).requireDim(dim), queries,
        idCol, vecCol, corpus, nProbes.max),
      corpus, queries, idCol, vecCol, k, nProbes)
  }

  /** The stored twin of [[ivfCandidates]] behind [[recallSweepIndexed]]
    * and [[rangeSearchIndexed]]: the stored layout IS the assignment,
    * so only the probed cells' rows are read ([[probedCodes]]) and
    * rejoined to `corpus` for exact cosine —
    * `(query_id, neighbor_id, cosine, qrn)`.
    */
  private def indexedCandidates(spark: SparkSession, ix: IvfPqStore,
                                queries: DataFrame, idCol: String,
                                vecCol: String, corpus: DataFrame,
                                nProbe: Int): DataFrame =
    probedCosines(probedCodes(spark, ix,
        probe(queries, idCol, vecCol, ix.coarse, nProbe)
          .select(col("query_id"), col("qv"), col("cell_id"), col("qrn")))
      .join(corpusVecs(corpus, idCol, vecCol), "neighbor_id"))

  /** The stored rows of each query's probed cells, joined to the
    * (broadcast) `probes`: the probed cell list —
    * O(|queries|·nProbe) rows, collected from the UNHINTED frame (a
    * broadcast hint atop a collected aggregate is not part of any join
    * and only trips HintErrorLogger) — becomes a `cell_id IN (...)`
    * partition filter, so only those cells' FILES are read.
    */
  private def probedCodes(spark: SparkSession, ix: IvfPqStore,
                          probes: DataFrame): DataFrame = {
    val cells = probes.select(col("cell_id")).distinct()
      .collect().map(_.getLong(0)).sorted
    ix.data(spark).filter(col("cell_id").isin(cells: _*))
      .join(broadcast(probes), "cell_id")
  }

  /** D8 (build): persisted IVF×PQ index — the "build once, search
    * many" lifecycle production vector stores run, as a parquet layout
    * Spark can partition-prune:
    *
    *   dir/coarse/           (cell_id, centroid)    — coarseCells rows
    *   dir/codebooks/        (sub, cell_id, cvec)   — m·ksub rows
    *   dir/codes/cell_id=C/  (neighbor_id, codes)   — one Hive
    *                         partition per coarse cell
    *
    * Both quantizers are the trained k-means tables
    * ([[kmeansSubCodebooks]], count-capped sample); assignment and
    * encode are the [[assign]] and [[encode]] stages [[ivfpq]] plans
    * inline, in the one [[ivfPqCodes]] body [[appendToIvfPqIndex]]
    * shares. The payoff over the
    * in-plan path: the corpus-sized train/assign/encode cost is paid
    * ONCE at build, and every later search scans only its probed
    * `cell_id=` partitions — file-layer pruning, no per-run encode.
    */
  def buildIvfPqIndex(corpus: DataFrame, idCol: String, vecCol: String,
                      dir: String, dim: Int, m: Int = 8, ksub: Int = 16,
                      coarseCells: Int = 16, iters: Int = 2,
                      trainMod: Int = 2,
                      coarse: Option[DataFrame] = scala.None,
                      codebooks: Option[DataFrame] = scala.None): Unit = {
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    // `coarse` override = FAISS's pretrained-quantizer constructor
    // (IndexIVFPQ takes an already-trained coarse index): callers can
    // freeze e.g. [[strideCoarse]] — whose assignment a plain-SQL
    // oracle can replay — or a coarse trained on a reference
    // distribution; default trains full-vector k-means here.
    // `codebooks` is the same posture for the PQ side — REQUIRED when
    // several shard builds must later [[PersistedStore.merge]] (stores
    // with independently-trained quantizers cannot merge: the same
    // byte codes would decode to different subvectors).
    val coarseTab = coarse.map(_.select(col("cell_id"),
        col("centroid")))
      .getOrElse(kmeansSubCodebooks(corpus, idCol, vecCol, dim, 1,
          coarseCells, iters, trainMod)
        .select(col("cell_id"), col("cvec").as("centroid")))
    val cbs = codebooks
      .map(_.select(col("sub"), col("cell_id"), col("cvec")))
      .getOrElse(kmeansSubCodebooks(corpus, idCol, vecCol, dim, m, ksub,
        iters, trainMod))
    PersistedStore.create(dir, PersistedStore.IvfPq, Seq(coarseTab, cbs),
      ivfPqCodes(corpus, idCol, vecCol, frozenCoarse(coarseTab), cbs, dim,
        m))
  }

  /** The IVF×PQ encode body build and append share (a drift between
    * them would silently corrupt the index): the stored `(neighbor_id,
    * codes, cell_id)` row — [[encode]] codes, [[assign]]ed cell. */
  private[graft] def ivfPqCodes(df: DataFrame, idCol: String, vecCol: String,
      coarse: DataFrame, codebooks: DataFrame, dim: Int, m: Int)
      : DataFrame = {
    val vecs = corpusVecs(df, idCol, vecCol)
    encode(subvectors(vecs, "cv", dim, m), slots(codebooks))
      .join(assign(vecs, coarse), "neighbor_id")
  }

  /** A trained or stored `(cell_id, centroid)` table as the broadcast
    * double table [[probe]] and [[assign]] read. */
  private[graft] def frozenCoarse(coarse: DataFrame): DataFrame =
    broadcast(coarse.select(col("cell_id"),
      asDouble(col("centroid")).as("centroid")))

  /** D8 (append): add new vectors to a [[buildIvfPqIndex]] layout
    * WITHOUT retraining — the FAISS `add` lifecycle an ingest cycle
    * runs: the stored coarse table and sub-codebooks are read back
    * (frozen), the delta is assigned + encoded with the same broadcast
    * partial-agg reductions, and its codes APPEND into the existing
    * `cell_id=` partitions (dynamic partition append — untouched cells'
    * files are not rewritten). Quantization drifts as the corpus grows
    * away from the training distribution — the accepted trade
    * production stores make between per-batch retrains; rebuild when
    * recall decays.
    */
  def appendToIvfPqIndex(delta: DataFrame, idCol: String, vecCol: String,
                         dir: String, dim: Int): Unit =
    PersistedStore.IvfPq.open(delta.sparkSession, dir).requireDim(dim)
      .append(delta, idCol, vecCol)

  /** D8 (drift): the REBUILD TRIGGER's number — append/remove run
    * under frozen quantizers, and "rebuild when recall decays" is
    * folklore until something measures the decay. Per cell:
    *
    *   - `recon_cos`: mean cosine between each indexed code's PQ
    *     reconstruction and the corpus's CURRENT vector — decaying
    *     recon fidelity means the codebooks no longer describe the
    *     data (the ADC scores search ranks by degrade with it);
    *   - `frac_misassigned`: fraction of rows whose current vector's
    *     nearest coarse centroid is no longer its STORED cell — probes
    *     open the stored cell, so a misassigned row is invisible to
    *     exactly the queries that should find it.
    *
    * A fresh build scores misassignment 0 by construction; monitor
    * the trend after append cycles and rebuild on the knee. Cost is
    * one corpus-linear pass: codes explode to (id, sub, code), the
    * cosine decomposes per sub-slice (Σⱼ dot(cvecⱼ, sliceⱼ) over the
    * sub-norm products) against broadcast codebooks, assignment is
    * the same broadcast argmax as the build — partial-agg reductions,
    * no corpus-side window.
    */
  def ivfPqIndexDrift(spark: SparkSession, dir: String, corpus: DataFrame,
                      idCol: String, vecCol: String): DataFrame = {
    val ix = PersistedStore.IvfPq.open(spark, dir)
    val d = ix.dim / ix.m
    val vecs = corpus.select(col(idCol).cast("long").as("neighbor_id"),
      asDouble(col(vecCol)).as("cv"))
    val codes = ix.data(spark)
    // recon cosine, decomposed per sub: dot(recon, v) = Σ_j dot(cvec_j,
    // slice_j), |recon|² = Σ_j |cvec_j|², |v|² computed once
    val parts = codes
      .select(col("neighbor_id"), col("cell_id"),
        posexplode(col("codes")).as(Seq("sub", "code")))
      .join(broadcast(ix.codebooks.select(col("sub"),
        col("cell_id").as("code"), col("cvec"))), Seq("sub", "code"))
      .join(vecs, "neighbor_id")
      .withColumn("slice", slice(col("cv"), col("sub") * d + 1, lit(d)))
      .withColumn("vn2", aggregate(col("cv"), lit(0.0),
        (acc, x) => acc + x * x))
      .groupBy(col("neighbor_id"), col("cell_id"))
      .agg(
        sum(aggregate(zip_with(col("cvec"), col("slice"), (a, b) => a * b),
          lit(0.0), (acc, x) => acc + x)).as("dot"),
        sum(aggregate(col("cvec"), lit(0.0),
          (acc, x) => acc + x * x)).as("rn2"),
        first(col("vn2")).as("vn2"))
    val recon = parts
      .withColumn("rcos", col("dot") / (sqrt(col("rn2")) * sqrt(col("vn2"))))
      .select(col("neighbor_id"), col("cell_id"), col("rcos"))
    // current-nearest coarse cell vs the stored one — the build's own
    // [[assign]] rule
    val nearest = assign(codes.select(col("neighbor_id"))
        .join(vecs, "neighbor_id"), ix.coarse)
      .select(col("neighbor_id"), col("cell_id").as("ncell"))
    recon.join(nearest, "neighbor_id")
      .groupBy(col("cell_id"))
      .agg(count(lit(1)).as("n_codes"),
        round(avg(col("rcos")), 6).as("recon_cos"),
        round(avg(when(col("ncell") =!= col("cell_id"), 1.0)
          .otherwise(0.0)), 6).as("frac_misassigned"))
      .orderBy("cell_id")
  }

  /** D8 (search): probe a [[buildIvfPqIndex]] layout. Coarse +
    * codebooks are tiny reads (broadcast); each query's nProbe cells
    * become a `cell_id IN (...)` partition filter on the codes dir —
    * only probed partitions' FILES are read (Hive-style pruning shown
    * as PartitionFilters in the scan, pinned by the spec). The stored
    * codes then go through [[ivfpq]]'s own stages — ADC tables, ADC
    * scan, salted shortlist and, with `rescoreWith` = the corpus, the
    * exact re-rank — so the results equal the in-plan trained ivfpq's
    * (spec-pinned). Without `rescoreWith` the answer is the ADC top-k,
    * `(query_id, rank, neighbor_id, adist)`.
    */
  def searchIvfPqIndex(spark: SparkSession, dir: String,
                       queries: DataFrame, idCol: String, vecCol: String,
                       dim: Int, k: Int, nProbe: Int = 5,
                       overscan: Int = 4, salts: Int = 32,
                       rescoreWith: Option[DataFrame] = scala.None)
      : DataFrame =
    searchIvfPqStore(spark, PersistedStore.IvfPq.open(spark, dir)
      .requireDim(dim), queries, idCol, vecCol, k, nProbe, overscan, salts,
      rescoreWith)

  /** [[searchIvfPqIndex]] through an opened store. */
  private[graft] def searchIvfPqStore(spark: SparkSession, ix: IvfPqStore,
      queries: DataFrame, idCol: String, vecCol: String, k: Int,
      nProbe: Int = 5, overscan: Int = 4, salts: Int = 32,
      rescoreWith: Option[DataFrame] = scala.None): DataFrame = {
    val cb = slots(ix.codebooks)
    val qtab = adcTables(subvectors(queryVecs(queries, idCol, vecCol), "qv",
      ix.dim, ix.m), Seq("query_id"), cb, ix.m, ix.ksub)
    val approx = adcScan(probedCodes(spark, ix,
        probe(queries, idCol, vecCol, ix.coarse, nProbe)
          .select(col("query_id"), col("cell_id")))
      .join(qtab, "query_id"), ix.m)
    rescoreWith match {
      case scala.None =>
        val w = Window.partitionBy(col("query_id"))
          .orderBy(col("adist"), col("neighbor_id"))
        approx.withColumn("rank", row_number().over(w).cast("long"))
          .filter(col("rank") <= k)
          .select(col("query_id"), col("rank"), col("neighbor_id"),
            col("adist"))
      case Some(corpus) =>
        refine(approx, col("adist"), corpus, queries, idCol, vecCol, k,
          overscan, salts)
    }
  }

  /** D7: filtered ANN — top-k cosine neighbors among corpus rows that
    * MATCH the query's `filterCol` value (label / language / tenant
    * partition: the metadata-constrained vector search real stores
    * serve). The filter key is fused INTO the LSH bucket join key, so
    * candidates are generated ALREADY filtered (pre-filtering): at
    * selective filters this beats generating a global candidate set
    * and post-filtering it — the classic filtered-vector-search
    * failure mode, where post-filtering a top-R shortlist leaves fewer
    * than k survivors and recall collapses. Same hyperplane kernel,
    * bands and exact-rescore shape as [[lsh]]; a candidate pair must
    * share (filter value, band, key).
    *
    * Scale: identical to [[lsh]] — the fused key adds selectivity to
    * the bucket join (strictly FEWER candidates), query keys stay
    * broadcast, and the per-label bucket population is what bounds
    * per-task work; a degenerate single-label corpus degrades exactly
    * to [[lsh]], never worse.
    */
  def filteredLsh(corpus: DataFrame, queries: DataFrame, idCol: String,
                  vecCol: String, filterCol: String, dim: Int, k: Int,
                  bands: Int = 32, planesPerBand: Int = 6,
                  seed: Long = 7L): DataFrame =
    lshTopK(corpus, queries, idCol, vecCol, dim, k, bands, planesPerBand,
        seed, filterCol = Some(filterCol))


  /** D6: multi-vector late-interaction retrieval (the MaxSim rule
    * ColBERT-style retrievers use): both sides split into m = dim/d
    * sub-vectors ("token vectors");
    * `score(q, doc) = Σ_{query slice} max_{doc slice} cosine`.
    * Candidates are generated TOKEN-level — per-slice random-hyperplane
    * LSH keys; a doc is a candidate when ANY of its slices shares a
    * (band, key) bucket with ANY query slice — then exact MaxSim runs
    * only on candidates: the token-ANN → doc-gather → exact-rescore
    * shape production late-interaction systems use.
    *
    * Determinism: each per-(query, doc, query-slice) max cosine is
    * quantized to the 2²⁰ integer grid BEFORE the cross-slice sum, so
    * the score is an order-independent integer; ties break on
    * neighbor_id. The fused [[graft.functions.vec.cosine]] kernel's
    * sequential fold matches the oracle's list_sum bit-for-bit, so the
    * quantization cannot straddle engines.
    *
    * Scale: the keyed stream is m small (band, key) rows per vector —
    * vectors never ride that shuffle; query keys and query slices are
    * broadcast, so candidate pruning and the m² slice cosines are
    * map-side. The only corpus-sized shuffles are the candidate
    * distinct and the slice gather keyed on vector ids. On clustered
    * real embeddings the bucket match prunes most of the corpus; on
    * structureless data it degrades to near-brute-force (the honest
    * LSH floor), never worse.
    */
  def maxSim(corpus: DataFrame, queries: DataFrame, idCol: String,
             vecCol: String, dim: Int, k: Int, m: Int = 4,
             bands: Int = 16, planesPerBand: Int = 6,
             seed: Long = 11L): DataFrame = {
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    val planes = Dedup.hyperplanes(bands * planesPerBand, dim / m, seed)
    // (id, sub, subvec) token slices of each side
    val qs = subvectors(queryVecs(queries, idCol, vecCol), "qv", dim, m)
    val cs = subvectors(corpusVecs(corpus, idCol, vecCol), "cv", dim, m)
    def keyed(slices: DataFrame, id: String) =
      slices.select(col(id),
          posexplode(graft.functions.vec.hyperplaneBuckets(col("subvec"),
            planes, planesPerBand)))
        .toDF(id, "band", "bkey")
    val cand = keyed(cs, "neighbor_id")
      .join(broadcast(keyed(qs, "query_id")), Seq("band", "bkey"))
      .filter(notSelf)
      .select("query_id", "neighbor_id").distinct()
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id"))
    cand.join(cs, "neighbor_id")
      .join(broadcast(qs.select(col("query_id"), col("sub").as("qsl"),
        col("subvec").as("qv"))), "query_id")
      .withColumn("mq",
        floor(graft.functions.vec.cosine(col("qv"), col("subvec")) *
          lit(1048576.0) + lit(0.5)).cast("long"))
      .groupBy(col("query_id"), col("neighbor_id"), col("qsl"))
      .agg(max(col("mq")).as("mqs"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("mqs")).as("score"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        (col("score").cast("double") / lit(1048576.0 * m)).as("maxsim"))
  }

  // ---- D11: scalar quantization (SQ8) ----------------------------------

  /** SQ8 training: per-dimension `[lo, hi]` over the corpus, returned
    * as `(lo, scale)` with `scale = (hi-lo)/255` (1.0 on constant
    * dimensions, where every code is 0 regardless). ONE partial-agg
    * shuffle of `dim` groups (min/max combine map-side), and the
    * collected result is `dim` rows — bounded by the vector width, not
    * the corpus, exactly like the k-means centroid collect.
    */
  def sqTrain(corpus: DataFrame, vecCol: String, dim: Int)
      : (Array[Double], Array[Double]) = {
    val mm = corpus.select(posexplode(asDouble(col(vecCol))))
      .toDF("j", "x")
      .groupBy("j").agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
      .collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
      .sortBy(_._1)
    require(mm.length == dim,
      s"sqTrain: corpus vectors span ${mm.length} dimensions, caller " +
        s"declared $dim — ragged or mis-declared vector column")
    (mm.map(_._2),
      mm.map { case (_, l, h) => if (h > l) (h - l) / 255.0 else 1.0 })
  }

  /** SQ8 encode: `code_j = clamp(floor((x_j - lo_j)/scale_j + 0.5),
    * 0, 255)` — a pure map-side expression (the explicit `+0.5` floor
    * keeps rounding identical across engines; banker's rounding would
    * not replay). One byte of information per dimension: the 8×
    * compression production stores run when PQ's codebook loss is too
    * much and raw floats too big.
    */
  def sqCodes(vec: Column, lo: Array[Double], scale: Array[Double])
      : Column = {
    val loL = array(lo.map(lit(_)): _*)
    val scL = array(scale.map(lit(_)): _*)
    transform(asDouble(vec), (x, i) =>
      least(lit(255L), greatest(lit(0L),
        floor((x - element_at(loL, i + lit(1))) /
          element_at(scL, i + lit(1)) + lit(0.5)))).cast("int"))
  }

  /** SQ8 reconstruction: `x̂_j = lo_j + code_j · scale_j` — what the
    * scan scores against (within scale/2 of the original per
    * dimension).
    */
  def sqRecon(codes: Column, lo: Array[Double], scale: Array[Double])
      : Column = {
    val loL = array(lo.map(lit(_)): _*)
    val scL = array(scale.map(lit(_)): _*)
    transform(codes, (c, i) =>
      element_at(loL, i + lit(1)) +
        c.cast("double") * element_at(scL, i + lit(1)))
  }

  /** D11: scalar-quantized ANN (FAISS `SQ8`) — the third compression
    * point on the memory/recall dial, completing the family: Flat
    * (exact, dim floats), SQ8 (dim bytes, near-lossless), PQ (m bytes,
    * lossy). Each corpus vector stores one 8-bit code per dimension
    * under a per-dimension affine `[lo, hi]` grid; the scan scores the
    * full-precision query against the RECONSTRUCTED vector (the
    * asymmetric rule — the query is never quantized), shortlists
    * `overscan·k`, and re-ranks the shortlist by exact cosine.
    *
    * Scale posture: training is one `dim`-group partial-agg pass
    * (constant output in corpus size); encode and the reconstruction
    * scoring are map-side expressions against broadcast queries. NOTE
    * on the IO posture: this in-plan variant derives the codes from
    * the full-precision column (encode∘decode as a projection below
    * the join), so the scan still reads floats — the ARITHMETIC
    * models the SQ8 scan, not its 8× memory footprint. The persisted
    * byte-codes store that realizes the footprint is
    * [[buildSqIndex]]/[[searchSqIndex]], whose scan reads ONLY the
    * int-code column off disk. The
    * shortlist uses the same salted two-phase top-k as [[pq]] (no
    * corpus-sized single-task sort); only the shortlist joins back to
    * full-precision vectors. Every arithmetic step (floor-rounding,
    * clamp, affine recon, sequential-fold cosine) is
    * oracle-replayable.
    */
  def sq(corpus: DataFrame, queries: DataFrame, idCol: String,
         vecCol: String, dim: Int, k: Int,
         overscan: Int = 4, salts: Int = 32): DataFrame = {
    val (lo, scale) = sqTrain(corpus, vecCol, dim)
    // reconstruct ONCE per corpus row (a projection below the join) —
    // the per-pair work is then only the cosine fold, not a recon per
    // query; decode-then-scan is exactly how an SQ flat scan runs
    val recon = corpus.select(col(idCol).as("neighbor_id"),
      sqRecon(sqCodes(col(vecCol), lo, scale), lo, scale).as("rv"))
    sqScanRerank(recon, corpus, queries, idCol, vecCol, k, overscan,
      salts)
  }

  /** The SQ8 scan behind the in-plan [[sq]] and the persisted-index
    * [[searchSqIndex]] (shared so the two can never drift — the spec's
    * row-equality pin is then structural): the full-precision query
    * scores every reconstructed `(neighbor_id, rv)` vector by cosine
    * (the asymmetric rule — the query is never quantized), then the
    * shared [[refine]] tail.
    */
  private def sqScanRerank(recon: DataFrame, corpus: DataFrame,
                           queries: DataFrame, idCol: String,
                           vecCol: String, k: Int, overscan: Int,
                           salts: Int): DataFrame =
    refine(recon.join(broadcast(queryVecs(queries, idCol, vecCol)))
        .filter(notSelf)
        .withColumn("acos", cosineD(col("qv"), col("rv"))),
      col("acos").desc, corpus, queries, idCol, vecCol, k, overscan, salts)

  /** D11b (build): persist the SQ8 store — the layout that actually
    * REALIZES the 8× memory posture ([[sq]] only models the
    * arithmetic; its scan still reads floats):
    *
    *   dir/grid/    (j, lo, scale)        — dim rows, the affine grid
    *   dir/codes/   (neighbor_id, codes)  — one int code per dim
    *
    * Training is [[sqTrain]]'s one dim-group partial-agg pass; encode
    * is [[sqCodes]] map-side. A later [[searchSqIndex]] scans ONLY
    * the codes column off disk — the full-precision vectors are
    * touched for the `overscan·k` shortlist re-rank alone.
    */
  def buildSqIndex(corpus: DataFrame, idCol: String, vecCol: String,
                   dir: String, dim: Int,
                   grid: Option[(Array[Double], Array[Double])] =
                     scala.None): Unit = {
    // `grid` override = the pretrained-quantizer slot (the
    // buildIvfPqIndex coarse/codebooks posture): REQUIRED when shard
    // builds must later [[PersistedStore.merge]]
    val (lo, scale) = grid.getOrElse(sqTrain(corpus, vecCol, dim))
    require(lo.length == dim && scale.length == dim,
      s"grid override length ${lo.length}/${scale.length} != dim $dim")
    val spark = corpus.sparkSession
    import spark.implicits._
    PersistedStore.create(dir, PersistedStore.Sq,
      Seq(lo.zip(scale).zipWithIndex
        .map { case ((l, s), j) => (j, l, s) }.toSeq
        .toDF("j", "lo", "scale").coalesce(1)),
      sqRows(corpus, idCol, vecCol, lo, scale))
  }

  /** The SQ8 encode body [[buildSqIndex]] and every append share: the
    * stored `(neighbor_id, codes)` row under the grid `(lo, scale)`. */
  private[graft] def sqRows(df: DataFrame, idCol: String, vecCol: String,
      lo: Array[Double], scale: Array[Double]): DataFrame =
    df.select(col(idCol).cast("long").as("neighbor_id"),
      sqCodes(col(vecCol), lo, scale).as("codes"))

  /** D11b (append): encode a delta under the FROZEN grid and file-add
    * it — the [[appendToIvfPqIndex]] posture (no retrain; rebuild
    * when the grid's [lo, hi] no longer covers the data). */
  def appendToSqIndex(delta: DataFrame, idCol: String, vecCol: String,
                      dir: String, dim: Int): Unit =
    PersistedStore.Sq.open(delta.sparkSession, dir).requireDim(dim)
      .append(delta, idCol, vecCol)

  /** D11b (drift): the SQ store's rebuild trigger — the frozen affine
    * grid was trained on the build corpus's per-dimension [lo, hi];
    * "rebuild when the grid no longer covers the data" needs a number.
    * Per dimension: the fraction of CURRENT corpus values falling
    * outside the stored [lo, lo + 255·scale] (those clamp to the edge
    * codes — reconstruction error unbounded), and the mean absolute
    * reconstruction error in grid units (err / scale; a healthy
    * quantizer sits ≤ 0.5 by construction, drifting data pushes it
    * up). One map-side pass (posexplode + broadcast grid literals),
    * one dim-group partial agg — dim rows out.
    */
  def sqIndexDrift(spark: SparkSession, dir: String, corpus: DataFrame,
                   vecCol: String): DataFrame = {
    val sq = PersistedStore.Sq.open(spark, dir)
    val loL = array(sq.lo.map(lit(_)): _*)
    val scL = array(sq.scale.map(lit(_)): _*)
    corpus.select(posexplode(asDouble(col(vecCol))).as(Seq("j", "x")))
      .withColumn("_lo", element_at(loL, col("j") + 1))
      .withColumn("_sc", element_at(scL, col("j") + 1))
      .withColumn("_hi", col("_lo") + col("_sc") * 255.0)
      .withColumn("_out",
        when(col("x") < col("_lo") || col("x") > col("_hi"), 1.0)
          .otherwise(0.0))
      // the stored code this value would clamp to, and its recon error
      // in grid units (scale 0 = a constant dim at build: any drift
      // there is pure out-of-range, the error term stays 0)
      .withColumn("_code",
        when(col("_sc") > 0,
          least(lit(255.0), greatest(lit(0.0),
            floor((col("x") - col("_lo")) / col("_sc") + 0.5))))
          .otherwise(lit(0.0)))
      .withColumn("_gerr",
        when(col("_sc") > 0,
          abs(col("x") - (col("_lo") + col("_code") * col("_sc"))) /
            col("_sc")).otherwise(lit(0.0)))
      .groupBy(col("j"))
      .agg(count(lit(1)).as("n"),
        round(avg(col("_out")), 6).as("frac_out_of_range"),
        round(avg(col("_gerr")), 6).as("mean_err_grid_units"))
      .orderBy("j")
  }

  /** D11b (search): the SQ8 flat scan off the PERSISTED store — the
    * read path whose IO matches the memory claim: the scan reads the
    * int-code column only (dim bytes of information per vector, not
    * dim floats), reconstructs map-side under the stored grid, and
    * re-ranks the `overscan·k` shortlist against `corpus`
    * full-precision vectors (the only float read, shortlist-sized).
    * Identical answers to the in-plan [[sq]] when the store was built
    * from the same corpus (same grid, same codes, shared
    * [[sqScanRerank]] — spec-pinned).
    */
  def searchSqIndex(spark: SparkSession, dir: String, queries: DataFrame,
                    idCol: String, vecCol: String, dim: Int, k: Int,
                    corpus: DataFrame, overscan: Int = 4,
                    salts: Int = 32): DataFrame =
    searchSqStore(spark, PersistedStore.Sq.open(spark, dir).requireDim(dim),
      queries, idCol, vecCol, k, corpus, overscan, salts)

  /** [[searchSqIndex]] through an opened store. */
  private[graft] def searchSqStore(spark: SparkSession, sq: SqStore,
      queries: DataFrame, idCol: String, vecCol: String, k: Int,
      corpus: DataFrame, overscan: Int = 4, salts: Int = 32): DataFrame =
    sqScanRerank(sq.data(spark).select(col("neighbor_id"),
        sqRecon(col("codes"), sq.lo, sq.scale).as("rv")),
      corpus, queries, idCol, vecCol, k, overscan, salts)

  /** D10c: radius search over the PERSISTED index — the scale path
    * [[rangeSearchIvf]]'s scaladoc promises ("a production deployment
    * amortizes the assignment across query batches via the D8
    * persisted layout"): the corpus→cell assignment that dominates the
    * in-plan row's cost (corpus-linear, paid per call) is read back
    * from [[buildIvfPqIndex]]'s layout instead, so a query batch costs
    * only its probes + the pruned-partition candidate read. Each query
    * probes its `nProbe` nearest STORED coarse cells; the probed cell
    * set becomes a `cell_id IN (...)` partition filter on `dir/codes`
    * (only those partitions' files are read); candidates join back to
    * `corpus` for exact cosine and the τ threshold.
    *
    * The radius contract returns exact-verified cosines, so the index
    * contributes its ASSIGNMENT (the partition layout), not its PQ
    * codes — ADC distances are L2-against-quantized and cannot decide
    * a cosine threshold exactly. Approximation is precisely
    * [[rangeSearchIvf]]'s: a neighbor assigned to an unprobed cell is
    * missed; given the same coarse table the two return IDENTICAL
    * rows (spec-pinned), this one without the per-call corpus pass.
    *
    * `corpus` must be the id+vector table the index was built from
    * (ids are checked only by the join; a drifted corpus surfaces as
    * missing candidates, same contract as [[searchIvfPqIndex]]'s
    * `rescoreWith`).
    */
  def rangeSearchIndexed(spark: SparkSession, dir: String,
                         queries: DataFrame, idCol: String,
                         vecCol: String, dim: Int, tau: Double,
                         corpus: DataFrame, nProbe: Int = 5)
      : DataFrame =
    rangeSearchStore(spark, PersistedStore.IvfPq.open(spark, dir)
      .requireDim(dim), queries, idCol, vecCol, tau, corpus, nProbe)

  /** [[rangeSearchIndexed]] through an opened store. */
  private[graft] def rangeSearchStore(spark: SparkSession, ix: IvfPqStore,
      queries: DataFrame, idCol: String, vecCol: String, tau: Double,
      corpus: DataFrame, nProbe: Int = 5): DataFrame =
    indexedCandidates(spark, ix, queries, idCol, vecCol, corpus, nProbe)
      .filter(col("cosine") >= tau)
      .select(col("query_id"), col("neighbor_id"), col("cosine"))
}
