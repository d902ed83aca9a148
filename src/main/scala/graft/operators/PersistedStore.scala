package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The ONE maintenance lifecycle of graft's three persisted stores: the
  * IVF×PQ codes store ([[Knn.buildIvfPqIndex]]), the SQ8 flat codes
  * store ([[Knn.buildSqIndex]]) and the MinHash-LSH bucket store
  * ([[Dedup.buildLshIndex]]). The reference leaves this to HBase's own
  * compactions and region health (reference HBaseManager.java); here
  * the stores are parquet directories, so graft owns their lifecycle.
  *
  * The decision this object owns is the STORE LAYOUT: a [[Layout]] says
  * where the data rows live, how they are partitioned, which sidecars
  * freeze the quantizer or signature, what a valid row is and which
  * copy of a duplicate survives. Every verb is written once against
  * that description, and the kind is detected from the sidecars in
  * `dir`. Build, append, search and drift go through a [[Store]]
  * handle: [[open]] reads the frozen sidecars once, and every data read
  * re-lists the files. The sidecar and data paths are spelled only
  * here.
  *
  * Single-writer posture: callers serialize maintenance against
  * append/remove/search on the same dir.
  */
object PersistedStore {

  /** The flat store's small-file cut for compaction and advice. */
  private[graft] val SmallFileBytes: Long = 4L << 20

  // ---- layout description ----------------------------------------------

  /** One fsck report row, declared once per layout. Repair derives its
    * drop rules from the same declarations, so what fsck counts is
    * exactly what repair removes. */
  private[graft] sealed trait Check[P] { def name: String }
  /** An invariant of sidecar `sidecar`, from the parsed params; a failing
    * one makes repair refuse (no row can be judged against it). */
  private[graft] final case class SidecarCheck[P](name: String,
      sidecar: String, eval: P => (Long, String)) extends Check[P]
  /** Rows where `bad` holds — one shared pass; repair drops them. */
  private[graft] final case class RowCheck[P](name: String,
      bad: P => Column, detail: P => String) extends Check[P]
  /** Groups of `key` whose aggregate `bad` holds; repair drops every row
    * of such a group. */
  private[graft] final case class GroupCheck[P](name: String, key: String,
      bad: P => Column, detail: P => String) extends Check[P]
  /** Keys held by more than one row; repair keeps one survivor each. */
  private[graft] final case class DupCheck[P](name: String, detail: String)
    extends Check[P]
  /** Partition dirs missing from a fixed tiling or outside it. */
  private[graft] final case class TilingCheck[P](name: String,
      detail: P => String) extends Check[P]

  /** How one store kind lays out its directory. A partitioned layout is
    * DATA-DRIVEN (a partition exists because rows landed there, so an
    * emptied partition dir is deleted) or a FIXED TILING (every
    * partition of `tiling` must exist; emptied dirs stay). A flat layout
    * compacts through [[StoreMaintenance.compactFlat]]'s journal, so
    * every open path sweeps a crashed compaction first. */
  private[graft] sealed abstract class Layout[P] {
    val kind: String
    /** Sidecar dirs; their presence identifies the kind. */
    val sidecars: Seq[String]
    /** What fsck calls a corrupt sidecar when it skips the other checks. */
    val sidecarLabel: String
    val dataDir: String
    /** Data-row schema, partition column last (as a read returns it). */
    val schema: StructType
    val partCol: Option[String]
    val partUnit: String = ""
    val fixedTiling: Boolean = false
    /** The column `remove` matches delete ids against. */
    val idCol: String
    /** Duplicate key, and the deterministic order picking its survivor
      * (so a repair re-run after a crash converges). */
    val keyCols: Seq[String]
    val survivorOrder: Seq[Column]
    /** The stats report's row-count column. */
    val countCol: String
    /** The advisor's drift leg, when the kind has one (and so needs a
      * corpus): the aggregate folding the [[drift]] report to one
      * number, and the rebuild reason after that number, formatted
      * with the threshold. */
    val driftLeg: Option[(Column, String)]
    final def hasDrift: Boolean = driftLeg.nonEmpty
    /** Read the frozen sidecars at `dir` into a handle. */
    def open(spark: SparkSession, dir: String): Store
    def parse(sidecar: String => DataFrame): P
    def checks: Seq[Check[P]]
    /** Partition values the store may hold; repair deletes the others
      * outright (no probe can reach them). */
    def knownPartition(p: P)(v: Int): Boolean = true
    def tiling(p: P): Seq[Int] = Nil
    final def recoversFlat: Boolean = partCol.isEmpty
  }

  private[graft] final case class IvfPqParams(dim: Int, badDims: Long,
      nCentroids: Long, m: Int, ksub: Int, cbBad: Long, cells: Set[Int])

  /** `coarse/`, `codebooks/`, `codes/cell_id=C/` — data-driven cells. */
  private[graft] case object IvfPq extends Layout[IvfPqParams] {
    val kind = "ivfpq"
    val sidecars = Seq("coarse", "codebooks")
    val sidecarLabel = "quantizer"
    val dataDir = "codes"
    val schema = StructType(Seq(StructField("neighbor_id", LongType),
      StructField("codes", ArrayType(LongType)),
      StructField("cell_id", IntegerType)))
    val partCol = Some("cell_id")
    override val partUnit = "cell"
    val idCol = "neighbor_id"
    val keyCols = Seq("neighbor_id")
    val survivorOrder = Seq(col("cell_id"), hash(col("codes")))
    val countCol = "n_codes"
    val driftLeg = Some((sum(col("frac_misassigned") * col("n_codes")) /
        sum(col("n_codes")),
      "of stored codes are coarse-misassigned vs the current corpus " +
        "(> %.2f) - the frozen quantizers no longer fit; rebuild"))
    def open(spark: SparkSession, dir: String): IvfPqStore =
      new IvfPqStore(spark, dir)
    def parse(sidecar: String => DataFrame): IvfPqParams = {
      val coarse = sidecar("coarse")
      val dimCounts = coarse.groupBy(size(col("centroid")).as("d"))
        .count().collect().map(r => (r.getInt(0), r.getLong(1)))
      val dim = dimCounts.maxBy(_._2)._1
      val cbs = sidecar("codebooks")
      val m = cbs.agg(max(col("sub"))).head().getInt(0) + 1
      val subStats = cbs.groupBy(col("sub"))
        .agg(count(lit(1)).as("k"),
          countDistinct(size(col("cvec"))).as("dl"),
          max(size(col("cvec"))).as("dmax"))
        .collect()
      val ksub = subStats.map(_.getAs[Long]("k")).max.toInt
      val cbBad =
        (0 until m).count(s => !subStats.exists(_.getAs[Int]("sub") == s)) +
          subStats.count(r => r.getAs[Long]("k") != ksub ||
            r.getAs[Long]("dl") != 1L ||
            r.getAs[Int]("dmax") != dim / m)
      val cells = coarse.select(col("cell_id")).distinct().collect()
        .map(_.getAs[Number](0).intValue()).toSet
      IvfPqParams(dim, dimCounts.filter(_._1 != dim).map(_._2).sum,
        dimCounts.map(_._2).sum, m, ksub, cbBad.toLong, cells)
    }
    val checks: Seq[Check[IvfPqParams]] = Seq(
      SidecarCheck("coarse_uniform", "coarse", p =>
        (p.badDims, s"stored dim ${p.dim}, ${p.nCentroids} centroids")),
      SidecarCheck("codebooks_complete", "codebooks", p =>
        (p.cbBad, s"m=${p.m} ksub=${p.ksub} subdim=${p.dim / p.m}")),
      RowCheck("codes_len", p => size(col("codes")) =!= p.m,
        p => s"expect ${p.m} codes per row"),
      RowCheck("codes_range",
        p => exists(col("codes"), c => c < 0 || c >= p.ksub),
        p => s"expect codes in [0, ${p.ksub})"),
      DupCheck("ids_unique",
        "duplicate neighbor_id rows (replayed append / crashed compact)"),
      RowCheck("cells_known",
        p => !col("cell_id").isin(p.cells.toSeq.map(Integer.valueOf): _*),
        p => s"${p.cells.size} coarse cells"))
    override def knownPartition(p: IvfPqParams)(v: Int): Boolean = p.cells(v)
  }

  /** `lo`/`scale` are the grid sorted by dimension, the handle's view. */
  private[graft] final case class SqParams(dim: Int, gridBad: Long,
      lo: Array[Double], scale: Array[Double])

  /** `grid/`, `codes/part-*.parquet` — one flat codes dir. */
  private[graft] case object Sq extends Layout[SqParams] {
    val kind = "sq"
    val sidecars = Seq("grid")
    val sidecarLabel = "grid"
    val dataDir = "codes"
    val schema = StructType(Seq(StructField("neighbor_id", LongType),
      StructField("codes", ArrayType(IntegerType))))
    val partCol = None
    val idCol = "neighbor_id"
    val keyCols = Seq("neighbor_id")
    // a replayed append's copies are byte-identical, so any survivor is
    // the same row; the hash only makes the pick deterministic
    val survivorOrder = Seq(xxhash64(col("codes")))
    val countCol = "n_codes"
    val driftLeg = Some((avg(col("frac_out_of_range")),
      "of current corpus values fall outside the frozen affine grid " +
        "(> %.2f) - codes clamp; rebuild"))
    def open(spark: SparkSession, dir: String): SqStore =
      new SqStore(spark, dir)
    def parse(sidecar: String => DataFrame): SqParams = {
      val grid = sidecar("grid").select(col("j"), col("lo"), col("scale"))
        .collect().map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
        .sortBy(_._1)
      val dim = grid.map(_._1 + 1).maxOption.getOrElse(0)
      SqParams(dim,
        (0 until dim).count(j => grid.count(_._1 == j) != 1).toLong +
          grid.count(g => g._2.isNaN || g._3.isNaN || g._3 < 0).toLong,
        grid.map(_._2), grid.map(_._3))
    }
    val checks: Seq[Check[SqParams]] = Seq(
      SidecarCheck("grid_complete", "grid", p =>
        (p.gridBad, s"dim ${p.dim} affine rows")),
      RowCheck("codes_len", p => size(col("codes")) =!= p.dim,
        p => s"expect ${p.dim} codes per row"),
      RowCheck("codes_range",
        _ => exists(col("codes"), c => c < 0 || c > 255),
        _ => "expect codes in [0, 255]"),
      DupCheck("ids_unique",
        "duplicate neighbor_id rows (replayed append / crashed compact)"))
  }

  private[graft] final case class LshParams(k: Int, perms: Int, bands: Int)

  /** `params/`, `buckets/band=B/` — bands 0..B−1 are a fixed tiling
    * (every doc keys into every band), kept even when a purge empties
    * them. */
  private[graft] case object Lsh extends Layout[LshParams] {
    val kind = "lsh"
    val sidecars = Seq("params")
    val sidecarLabel = "params"
    val dataDir = "buckets"
    val schema = StructType(Seq(StructField("bkey", LongType),
      StructField("corpus_id", LongType), StructField("band", IntegerType)))
    val partCol = Some("band")
    override val partUnit = "band"
    override val fixedTiling = true
    val idCol = "corpus_id"
    // the row IS its key: any copy is the same value
    val keyCols = Seq("band", "bkey", "corpus_id")
    val survivorOrder = Seq(col("corpus_id"))
    val countCol = "n_rows"
    val driftLeg = scala.None
    def open(spark: SparkSession, dir: String): LshStore =
      new LshStore(spark, dir)
    def parse(sidecar: String => DataFrame): LshParams = {
      val r = sidecar("params").head()
      LshParams(r.getAs[Int]("k"), r.getAs[Int]("perms"),
        r.getAs[Int]("bands"))
    }
    val checks: Seq[Check[LshParams]] = Seq(
      SidecarCheck("params_valid", "params", p =>
        (if (p.k >= 1 && p.bands >= 1 && p.perms % p.bands == 0) 0L else 1L,
          s"k=${p.k} perms=${p.perms} bands=${p.bands}")),
      TilingCheck("bands_complete",
        p => s"expect band= partitions 0..${p.bands - 1}"),
      GroupCheck("doc_coverage", "corpus_id",
        p => countDistinct(col("band")) =!= p.bands,
        p => s"docs must key into all ${p.bands} bands (torn append)"),
      DupCheck("dup_rows", "repeated bucket rows (crashed purge/compaction)"))
    override def knownPartition(p: LshParams)(v: Int): Boolean =
      v >= 0 && v < p.bands
    override def tiling(p: LshParams): Seq[Int] = 0 until p.bands
  }

  private val Kinds: Seq[Layout[_]] = Seq(IvfPq, Sq, Lsh)

  /** The kind at `dir`, from the sidecars present — one of a kind's
    * sidecars is enough, so a store that lost the other still reaches
    * fsck. Refuses a dir matching no kind or more than one. */
  private[graft] def detect(spark: SparkSession, dir: String): Layout[_] = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val found = Kinds.filter(_.sidecars.exists(s =>
      fs.exists(new Path(root, s))))
    def expected = Kinds.map(k =>
      s"${k.sidecars.mkString(" + ")} (${k.kind})").mkString(", ")
    found match {
      case Seq(k) => k
      case Seq() => throw new IllegalArgumentException(
        s"$dir holds no persisted store: expected the sidecars of " +
          s"exactly one kind - $expected")
      case ks => throw new IllegalArgumentException(
        s"$dir holds sidecars of ${ks.map(_.kind).mkString(" and ")} - " +
          s"a store dir carries exactly one kind's sidecars ($expected)")
    }
  }

  private def dataRoot(dir: String, l: Layout[_]): Path =
    new Path(dir, l.dataDir)

  private def sidecar(spark: SparkSession, dir: String)(s: String) =
    spark.read.parquet(s"$dir/$s")

  /** The store's data rows — the read every search, probe and verb of
    * the three stores goes through. Tolerates the fully-purged state (a
    * legal retention outcome): with no data file left, an empty frame in
    * the layout's schema comes back instead of a parquet
    * schema-inference failure, so search answers "no neighbors" and a
    * later append restores the store. */
  private def readData(spark: SparkSession, dir: String,
                       l: Layout[_]): DataFrame = {
    val root = dataRoot(dir, l)
    if (l.recoversFlat) StoreMaintenance.recoverFlat(spark, root.toString)
    val hasData = l.partCol match {
      case Some(pc) => StoreMaintenance.partitionDirs(spark, root, pc)
        .exists(d => StoreMaintenance.dataFiles(spark, d._2).nonEmpty)
      case scala.None => StoreMaintenance.dataFiles(spark, root).nonEmpty
    }
    if (hasData) spark.read.parquet(root.toString)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[Row], l.schema)
  }

  /** The one data write of build, append and file surgery, into the
    * layout's data dir and partition column; a flat store first sweeps
    * a crashed compaction ([[StoreMaintenance.recoverFlat]]). */
  private def writeData(dir: String, l: Layout[_], rows: DataFrame,
                        mode: String): Unit = {
    val root = dataRoot(dir, l).toString
    if (l.recoversFlat) StoreMaintenance.recoverFlat(rows.sparkSession, root)
    val w = rows.write.mode(mode)
    l.partCol.fold(w)(w.partitionBy(_)).parquet(root)
  }

  /** Build: the frozen `sidecars` (in the layout's order), then the
    * encoded `rows`, each replacing what `dir` held. */
  private[graft] def create(dir: String, l: Layout[_],
                            sidecars: Seq[DataFrame], rows: DataFrame): Unit = {
    l.sidecars.zip(sidecars).foreach { case (s, df) =>
      df.write.mode("overwrite").parquet(s"$dir/$s") }
    writeData(dir, l, rows, "overwrite")
  }

  // ---- the store handle -------------------------------------------------

  /** An opened store: the frozen sidecars are read ONCE, at open, and
    * every [[data]] read re-lists the files under the caller's session,
    * so rows appended after the open are seen. A rebuild (new sidecars)
    * needs a new handle. */
  sealed abstract class Store(private[graft] val layout: Layout[_]) {
    val dir: String
    /** The data rows, listed now ([[readData]]). */
    def data(spark: SparkSession): DataFrame = readData(spark, dir, layout)
    /** Encode `delta`'s `valueCol` (vectors, or LSH text) under the
      * frozen sidecars and add it as new files. */
    def append(delta: DataFrame, idCol: String, valueCol: String): Unit
    protected def write(rows: DataFrame): Unit =
      writeData(dir, layout, rows, "append")
  }

  /** A vector store (IVF×PQ or SQ8) and its build `dim`. */
  sealed abstract class VectorStore(layout: Layout[_])
      extends Store(layout) {
    val dim: Int
    /** A caller's dim must match the build EXACTLY: one merely divisible
      * by m would slice mismatched subvectors and corrupt codes. */
    def requireDim(callerDim: Int): this.type = {
      require(callerDim == dim,
        s"index at $dir was built with dim $dim, caller passed $callerDim")
      this
    }
    /** Top-`k` by exact cosine against `corpus`:
      * `(query_id, rank, neighbor_id, cosine)`. */
    private[graft] def search(spark: SparkSession, queries: DataFrame,
                              idCol: String, vecCol: String, k: Int,
                              corpus: DataFrame): DataFrame
  }

  /** An IVF×PQ store: the broadcast `coarse` table and `dim` (one tiny
    * head()) at open; the `codebooks` with their `m` and `ksub` (one
    * small aggregate, which checks `dim % m`) when first touched. */
  final class IvfPqStore private[PersistedStore] (spark: SparkSession,
                                                  val dir: String)
      extends VectorStore(IvfPq) {
    private val coarseRaw = sidecar(spark, dir)("coarse")
    val dim: Int = coarseRaw.select(size(col("centroid"))).head().getInt(0)
    val coarse: DataFrame = Knn.frozenCoarse(coarseRaw)
    lazy val codebooks: DataFrame = sidecar(spark, dir)("codebooks")
    private lazy val shape: (Int, Int) = {
      val r = codebooks.agg(max(col("sub")).cast("int"),
        max(col("cell_id")).cast("int")).head()
      val m = r.getInt(0) + 1
      require(dim % m == 0,
        s"index at $dir: dim $dim not divisible by index m $m")
      (m, r.getInt(1) + 1)
    }
    def m: Int = shape._1
    def ksub: Int = shape._2
    def append(delta: DataFrame, idCol: String, vecCol: String): Unit =
      write(Knn.ivfPqCodes(delta, idCol, vecCol, coarse, codebooks, dim, m))
    private[graft] def search(spark: SparkSession, queries: DataFrame,
                              idCol: String, vecCol: String, k: Int,
                              corpus: DataFrame): DataFrame =
      Knn.searchIvfPqStore(spark, this, queries, idCol, vecCol, k,
        rescoreWith = Some(corpus))
  }

  /** An SQ8 store: the affine grid as dim-length `lo`/`scale`. */
  final class SqStore private[PersistedStore] (spark: SparkSession,
                                               val dir: String)
      extends VectorStore(Sq) {
    private val grid = Sq.parse(sidecar(spark, dir))
    val lo: Array[Double] = grid.lo
    val scale: Array[Double] = grid.scale
    val dim: Int = lo.length
    def append(delta: DataFrame, idCol: String, vecCol: String): Unit =
      write(Knn.sqRows(delta, idCol, vecCol, lo, scale))
    private[graft] def search(spark: SparkSession, queries: DataFrame,
                              idCol: String, vecCol: String, k: Int,
                              corpus: DataFrame): DataFrame =
      Knn.searchSqStore(spark, this, queries, idCol, vecCol, k, corpus)
  }

  /** An LSH store: the MinHash signature `(k, perms, bands)`. */
  final class LshStore private[PersistedStore] (spark: SparkSession,
                                                val dir: String)
      extends Store(Lsh) {
    private val params = Lsh.parse(sidecar(spark, dir))
    val k: Int = params.k
    val perms: Int = params.perms
    val bands: Int = params.bands
    /** Verified `(batch_id, corpus_id, jaccard)` near-dup pairs of
      * `batch` against `corpus` off the stored buckets, under the frozen
      * signature — [[Dedup.incrementalMinhash]] with the corpus buckets
      * read from this store. `shingled` hands in the caller's persisted
      * `(corpus_id, sh)` / `(batch_id, sh)` frames. */
    private[graft] def probe(corpus: DataFrame, batch: DataFrame,
                             idCol: String, textCol: String,
                             threshold: Double, maxBucket: Int = 1000,
                             shingled: Option[(DataFrame, DataFrame)] =
                               scala.None): DataFrame =
      Dedup.crossSetPairs(corpus, batch, idCol, textCol, k, perms, bands,
        threshold, maxBucket,
        Some(data(batch.sparkSession)
          .select(col("band"), col("bkey"), col("corpus_id"))),
        shingled)
    def append(survivors: DataFrame, idCol: String, textCol: String): Unit =
      write(Dedup.lshBandKeys(survivors, col(idCol), "corpus_id", textCol,
        k, perms, bands))
  }

  /** Open the store at `dir`, its kind detected from the sidecars. */
  def open(spark: SparkSession, dir: String): Store =
    detect(spark, dir).open(spark, dir)

  /** Read every sidecar — a missing, empty or unreadable one is named,
    * not thrown — and parse the params from them. */
  private def readSidecars[P](spark: SparkSession, dir: String,
                             l: Layout[P]): Either[Map[String, String], P] = {
    val frames = l.sidecars.map { s =>
      s -> (try {
        val df = sidecar(spark, dir)(s)
        if (df.head(1).isEmpty) Left(s"$s sidecar is EMPTY") else Right(df)
      } catch {
        case e: Exception => Left(s"$s sidecar unreadable: ${
          Option(e.getMessage).getOrElse(e.getClass.getName).take(80)}")
      })
    }.toMap
    val bad = frames.collect { case (s, Left(e)) => s -> e }
    if (bad.nonEmpty) Left(bad)
    else Right(l.parse(s => frames(s).toOption.get))
  }

  private def dupKeys(data: DataFrame, l: Layout[_]): DataFrame =
    data.groupBy(l.keyCols.map(col): _*).agg(count(lit(1)).as("_c"))
      .filter(col("_c") > 1).select(l.keyCols.map(col): _*)

  // ---- the verbs --------------------------------------------------------

  /** Integrity report: one (check, ok, n_bad, detail) row per invariant
    * the layout declares, in its order —
    *
    *   - IVF×PQ: `coarse_uniform`, `codebooks_complete` (subs tile
    *     0..m−1 with one cell count and dim/m-long cvecs), `codes_len`,
    *     `codes_range` ([0, ksub)), `ids_unique` (a replayed append or a
    *     crash inside remove/repair duplicates rows), `cells_known` (rows
    *     in a cell no coarse centroid knows — unreachable);
    *   - SQ8: `grid_complete` (the grid tiles 0..dim−1 once with finite
    *     rows), `codes_len`, `codes_range` ([0, 255]), `ids_unique`;
    *   - LSH: `params_valid`, `bands_complete` (band= dirs tile
    *     0..bands−1 exactly), `doc_coverage` (docs missing a band — a
    *     torn append), `dup_rows`.
    *
    * A missing, empty or unreadable sidecar is REPORTED as the corruption
    * it is (the other checks read "skipped"). Cost: tiny sidecar reads,
    * one partial-agg pass for the row checks, one shuffle per
    * duplicate or group check — fsck cadence, not query cadence.
    */
  def fsck(spark: SparkSession, dir: String): DataFrame =
    fsckOf(spark, dir, detect(spark, dir))

  private def fsckOf[P](spark: SparkSession, dir: String,
                        l: Layout[P]): DataFrame = {
    import spark.implicits._
    val report = readSidecars(spark, dir, l) match {
      case Left(bad) => l.checks.map {
        case SidecarCheck(n, s, _) => bad.get(s)
          .fold((n, true, 0L, "readable"))(e => (n, false, 1L, e))
        case c => (c.name, false, 0L,
          s"skipped: ${l.sidecarLabel} sidecar corrupt")
      }
      case Right(p) =>
        val data = readData(spark, dir, l)
        val rowChecks = l.checks.collect { case c @ RowCheck(_, _, _) => c }
        // one pass for every row check; an empty store sums to null
        val sums = rowChecks.map(c => sum(when(c.bad(p), 1L).otherwise(0L)))
        val r = if (sums.isEmpty) Row.empty
          else data.agg(sums.head, sums.tail: _*).head()
        val rowBad = rowChecks.indices.map(i => rowChecks(i).name ->
          (if (r.isNullAt(i)) 0L else r.getLong(i))).toMap
        l.checks.map { c =>
          val (nBad, detail) = c match {
            case SidecarCheck(_, _, eval) => eval(p)
            case RowCheck(n, _, d) => (rowBad(n), d(p))
            case GroupCheck(_, key, bad, d) => (data.groupBy(col(key))
              .agg(bad(p).as("_bad")).filter(col("_bad")).count(), d(p))
            case DupCheck(_, d) => (dupKeys(data, l).count(), d)
            case TilingCheck(_, d) =>
              val stored = StoreMaintenance.partitionDirs(spark,
                dataRoot(dir, l), l.partCol.get).map(_._1).toSet
              ((l.tiling(p).count(!stored(_)) +
                stored.count(!l.knownPartition(p)(_))).toLong, d(p))
          }
          (c.name, nBad == 0L, nBad, detail)
        }
    }
    report.toDF("check", "ok", "n_bad", "detail")
  }

  /** File health, the report behind the compact decision: (cell_id,
    * n_codes, n_files, bytes) per IVF×PQ cell; (band, n_rows, n_files,
    * bytes) per LSH band; ONE SQ8 row (n_codes, n_files, bytes,
    * n_small_files), a small file being under `minBytes`. Listing is
    * O(partitions) or O(files) driver work; the count is one
    * column-pruned partial aggregation.
    */
  def stats(spark: SparkSession, dir: String,
            minBytes: Long = SmallFileBytes): DataFrame = {
    import spark.implicits._
    val l = detect(spark, dir)
    val data = readData(spark, dir, l)
    val root = dataRoot(dir, l)
    l.partCol match {
      case Some(pc) =>
        val files = StoreMaintenance
          .partitionFileStats(spark, root.toString, pc)
          .toDF(pc, "n_files", "bytes")
        data.groupBy(col(pc)).agg(count(lit(1)).as(l.countCol))
          .join(files, Seq(pc), "right")
          .withColumn(l.countCol, coalesce(col(l.countCol), lit(0L)))
          .select(col(pc), col(l.countCol), col("n_files"), col("bytes"))
          .orderBy(pc)
      case scala.None =>
        val files = StoreMaintenance.dataFiles(spark, root)
        Seq((data.count(), files.size.toLong, files.map(_._2).sum,
            files.count(_._2 < minBytes).toLong))
          .toDF(l.countCol, "n_files", "bytes", "n_small_files")
    }
  }

  /** Coalesce the small files an append-per-batch ingest leaves, rows
    * unchanged: partitions over `maxFilesPerPartition` files are
    * rewritten to one file each
    * ([[StoreMaintenance.compactPartitioned]]); the flat SQ8 store
    * merges its files under `minBytes` through the crash-safe
    * staged-rename journal ([[StoreMaintenance.compactFlat]]).
    * Everything under the threshold stays byte-identical. Returns
    * (partitionsOrFilesCompacted, filesBefore, filesAfter).
    */
  def compact(spark: SparkSession, dir: String,
              maxFilesPerPartition: Int = 1,
              minBytes: Long = SmallFileBytes): (Int, Long, Long) = {
    val l = detect(spark, dir)
    val root = dataRoot(dir, l).toString
    l.partCol match {
      case Some(pc) => StoreMaintenance.compactPartitioned(spark, root, pc,
        maxFilesPerPartition)
      case scala.None => StoreMaintenance.compactFlat(spark, root, minBytes)
    }
  }

  /** The file surgery remove and repair share: append `survivors` (the
    * rows of `files` that stay) as new files, THEN delete `files`, so
    * untouched files stay byte-identical and search needs no tombstones.
    * `survivors` is checkpointed first (its lineage reads the files
    * being deleted) and the checkpoint's blocks are freed on the way
    * out. A crash between the append and the deletes leaves duplicate
    * rows (fsck's duplicate check flags them) and the dropped rows still
    * present; re-running the verb converges. Data-driven partitions the
    * deletes empty are removed. Returns the rows kept.
    */
  private def rewriteFiles(spark: SparkSession, dir: String, l: Layout[_],
                           survivors: DataFrame, files: Seq[String]): Long =
    StoreMaintenance.freeingBlocks(spark) {
      val root = dataRoot(dir, l)
      val kept = survivors.select(l.schema.fieldNames.toSeq.map(col): _*)
        .localCheckpoint()
      val n = kept.count()
      writeData(dir, l, kept, "append")
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val paths = files.map(f => new Path(new java.net.URI(f)))
      paths.foreach(fs.delete(_, false))
      if (l.partCol.isDefined && !l.fixedTiling)
        paths.map(_.getParent).distinct
          .filter(StoreMaintenance.dataFiles(spark, _).isEmpty)
          .foreach(fs.delete(_, true))
      // the deletes bypass the Spark writer: drop any cached listing
      StoreMaintenance.refreshPath(spark, root.toString)
      n
    }

  /** Purge ids — the GDPR / retention path, no rebuild, the frozen
    * quantizer or signature untouched: the rows whose id (IVF×PQ and
    * SQ8 `neighbor_id`, LSH `corpus_id`) is in `deleteIds.idCol` leave
    * every file holding one, by [[rewriteFiles]]'s surgery. The purge
    * list is broadcast (deletion requests are bounded); the driver
    * materializes only the affected FILE list. Purging everything is
    * legal: the empty store stays readable and an append restores it.
    * Returns the rows removed.
    */
  def remove(deleteIds: DataFrame, idCol: String, dir: String): Long = {
    val spark = deleteIds.sparkSession
    val l = detect(spark, dir)
    val ids = broadcast(deleteIds.select(col(idCol).cast("long").as(l.idCol))
      .distinct())
    val data = readData(spark, dir, l).withColumn("_file", input_file_name())
    val affected = data.join(ids, l.idCol).select(col("_file")).distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    if (affected.isEmpty) return 0L
    val touched = data.filter(col("_file").isin(affected: _*))
    val removed = touched.join(ids, l.idCol).count()
    rewriteFiles(spark, dir, l,
      touched.join(ids, Seq(l.idCol), "left_anti"), affected)
    removed
  }

  /** Fix what [[fsck]] flags, without a rebuild: partitions outside the
    * layout (IVF×PQ cells without a coarse centroid, LSH bands outside
    * 0..bands−1) are deleted outright; rows failing a row check drop;
    * duplicate keys collapse to ONE survivor in the layout's
    * deterministic order (IVF×PQ smallest (cell_id, codes hash), SQ8
    * smallest codes hash, LSH rows are their own key); groups failing a
    * group check (LSH torn-append docs) leave entirely, consistent and
    * re-appendable. FILE surgery only ([[rewriteFiles]]): the offender
    * files — holding a failing row, a copy of a duplicated key, or a row
    * of a failing group (all copies are offender-resident by
    * construction) — are rewritten, every clean file stays
    * byte-identical. Refuses loudly on an unusable sidecar (fsck reports
    * it; restoring it is the operator's call) and on a fixed tiling
    * missing a partition (every row would look torn — restore
    * territory). Idempotent. Returns (rowsDropped, filesRewritten); rows
    * of deleted partitions count in rowsDropped.
    */
  def repair(spark: SparkSession, dir: String): (Long, Int) =
    repairOf(spark, dir, detect(spark, dir))

  private def repairOf[P](spark: SparkSession, dir: String,
                          l: Layout[P]): (Long, Int) = {
    val p = readSidecars(spark, dir, l) match {
      case Left(bad) =>
        val (s, e) = bad.head
        throw new IllegalArgumentException(s"$dir $s sidecar is empty or " +
          s"unreadable ($e) - run fsck; repair cannot judge ${l.dataDir} " +
          s"rows without ${l.sidecars.mkString(" + ")}")
      case Right(p) => p
    }
    l.checks.collect { case SidecarCheck(n, _, eval) => (n, eval(p)) }
      .find(_._2._1 > 0L).foreach { case (n, (_, d)) =>
        throw new IllegalArgumentException(s"$dir fails $n ($d) - repair " +
          s"cannot interpret the ${l.dataDir} rows; restore or rebuild")
      }
    val root = dataRoot(dir, l)
    var dropped = 0L
    l.partCol.foreach { pc =>
      val orphan = StoreMaintenance.partitionDirs(spark, root, pc)
        .filterNot(d => l.knownPartition(p)(d._1)).map(_._2)
      if (orphan.nonEmpty) {
        val withRows = orphan.filter(StoreMaintenance.dataFiles(spark, _)
          .nonEmpty)
        if (withRows.nonEmpty)
          dropped = spark.read.parquet(withRows.map(_.toString): _*).count()
        val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
        orphan.foreach(fs.delete(_, true))
        StoreMaintenance.refreshPath(spark, root.toString)
      }
      val stored = StoreMaintenance.partitionDirs(spark, root, pc)
        .map(_._1).toSet
      val missing = l.tiling(p).filterNot(stored)
      require(missing.isEmpty,
        s"$dir is missing $pc partitions ${missing.mkString(",")} - under " +
          "that loss every row looks torn and surgery would drop the " +
          "store; restore or rebuild instead")
    }
    val data = readData(spark, dir, l).withColumn("_file", input_file_name())
    // null predicates count as valid, exactly as fsck counts them
    val bad = coalesce(l.checks.collect { case RowCheck(_, b, _) => b(p) }
      .reduceOption(_ || _).getOrElse(lit(false)), lit(false))
    val badGroups = l.checks.collect { case GroupCheck(_, key, b, _) =>
      key -> data.groupBy(col(key)).agg(b(p).as("_bad"))
        .filter(col("_bad")).select(col(key))
    }
    val offenders = (data.filter(bad).select(col("_file")) +:
        data.join(dupKeys(data, l), l.keyCols).select(col("_file")) +:
        badGroups.map { case (key, g) =>
          data.join(g, key).select(col("_file")) })
      .reduce(_ unionAll _)
      .distinct().collect().map(_.getString(0)).sorted.toSeq
    if (offenders.isEmpty) return (dropped, 0)
    val touched = data.filter(col("_file").isin(offenders: _*))
    val nTouched = touched.count()
    val survivors = badGroups
      .foldLeft(touched.filter(!bad)) { case (df, (key, g)) =>
        df.join(g, Seq(key), "left_anti") }
      .withColumn("_rn", row_number().over(Window
        .partitionBy(l.keyCols.map(col): _*).orderBy(l.survivorOrder: _*)))
      .filter(col("_rn") === 1)
    val kept = rewriteFiles(spark, dir, l, survivors, offenders)
    (dropped + nTouched - kept, offenders.length)
  }

  /** A small sidecar table as a typed, row-order-free value: per row,
    * its integral columns (name order) are the key and every other
    * numeric value (scalars and vector elements, name order) the
    * payload, -0.0 folded into 0.0 AT READ so sorting and equality
    * agree. Typed, not Row.toString (double formatting would refuse a
    * re-serialized identical sidecar); sorted on the typed key tuple,
    * never a hash fold (whose collisions would make the order depend on
    * collect() order). */
  private def sidecarTable(spark: SparkSession, dir: String,
                           name: String): Seq[(Seq[Long], Seq[Double])] = {
    def integral(t: DataType) = t match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    spark.read.parquet(s"$dir/$name").collect().toSeq.map { r =>
      val (keys, vals) = r.schema.fields.sortBy(_.name).toSeq
        .partition(f => integral(f.dataType))
      (keys.map(f => r.getAs[Number](f.name).longValue()),
        vals.flatMap(f => (f.dataType match {
          case _: ArrayType => r.getAs[scala.collection.Seq[Number]](f.name)
          case _ => Seq(r.getAs[Number](f.name))
        }).map(_.doubleValue() + 0.0)))
    }.sorted(Ordering.Tuple2(Ordering.Implicits.seqOrdering[Seq, Long],
      Ordering.Implicits.seqOrdering[Seq, Double](
        Ordering.Double.TotalOrdering)))
  }

  /** Combine stores built under the SAME frozen sidecars into `dst` —
    * FAISS `merge_from`, the distributed-build endgame: build each shard
    * under shared pretrained quantizers (or the same LSH signature),
    * then merge = pure FILE CONCATENATION per partition or into the flat
    * dir; no job touches a data row. Sidecar identity is VERIFIED, not
    * trusted: every sidecar of every source must equal dst's as a typed
    * table (the same bytes under different quantizers decode to
    * different vectors — the silent-corruption worst case). Files copy
    * under disambiguated names; `dst` may be one of the sources. The
    * file list is enumerated driver-side (O(partitions × shards)); the
    * BYTES move as a Spark job
    * ([[StoreMaintenance.copyFilesDistributed]]). No dedup across shards
    * — run [[fsck]] after. `dryRun=true` runs the admission check and
    * the enumeration but moves nothing. Returns files copied (or that
    * would be).
    */
  def merge(spark: SparkSession, dst: String, srcs: Seq[String],
            dryRun: Boolean = false): Long = {
    val l = detect(spark, dst)
    val want = l.sidecars.map(s => s -> sidecarTable(spark, dst, s)).toMap
    srcs.foreach { src =>
      val ls = detect(spark, src)
      require(ls == l, s"$src is a DIFFERENT store kind (${ls.kind}) " +
        s"than $dst (${l.kind})")
      l.sidecars.foreach { s =>
        val got = sidecarTable(spark, src, s)
        require(got.size == want(s).size &&
          got.zip(want(s)).forall { case ((ka, va), (kb, vb)) =>
            ka == kb && va.size == vb.size && va.zip(vb).forall {
              case (x, y) => java.lang.Double.compare(x, y) == 0 } },
          s"$src was built under a DIFFERENT $s sidecar than $dst - " +
            "stores under independent quantizers or signatures cannot merge")
      }
    }
    val dstRoot = dataRoot(dst, l)
    val pairs = srcs.filterNot(_ == dst).zipWithIndex.flatMap {
      case (src, i) =>
        val root = dataRoot(src, l)
        val dirs = l.partCol.fold(Seq(("", root)))(pc =>
          StoreMaintenance.partitionDirs(spark, root, pc)
            .map { case (v, p) => (s"$pc=$v/", p) })
        dirs.flatMap { case (rel, p) =>
          StoreMaintenance.dataFiles(spark, p).map { case (f, _) =>
            (f.toString,
              new Path(dstRoot, s"${rel}merge$i-${f.getName}").toString)
          }
        }
    }
    if (dryRun) pairs.size.toLong
    else StoreMaintenance.copyFilesDistributed(spark, pairs)
  }

  /** The store's drift against the CURRENT corpus, the rebuild
    * trigger's number: [[Knn.ivfPqIndexDrift]] per cell,
    * [[Knn.sqIndexDrift]] per dimension. The LSH store has none. */
  private[graft] def drift(spark: SparkSession, dir: String,
                           corpus: DataFrame, idCol: String,
                           vecCol: String): DataFrame =
    detect(spark, dir) match {
      case IvfPq => Knn.ivfPqIndexDrift(spark, dir, corpus, idCol, vecCol)
      case Sq => Knn.sqIndexDrift(spark, dir, corpus, vecCol)
      case Lsh => throw new IllegalArgumentException(
        s"$dir is an LSH store: it has no drift report - its decay " +
          "metric is Dedup.lshIndexRecall (store recall on a probe batch)")
    }

  /** The maintenance ADVISOR: one (store, action, reason) runbook row,
    * the ops runbook as code, by precedence —
    *
    *   1. `repair`: [[fsck]] flags failing checks. A corrupt store must
    *      be repaired before any drift or fragmentation number can be
    *      trusted (corrupt rows pollute both);
    *   2. `rebuild`: the drift number against `corpus` crossed its
    *      threshold — IVF×PQ's code-weighted `frac_misassigned` over
    *      `maxMisassigned` (probes open the wrong cell), SQ8's
    *      dim-averaged `frac_out_of_range` over `maxOutOfRange` (values
    *      clamp to the edge codes). No file surgery fixes that. The LSH
    *      store has no drift leg (its decay is [[Dedup.lshIndexRecall]],
    *      an eval cadence) and needs no corpus;
    *   3. `compact`: a partition holds more than `maxFilesPerPartition`
    *      files, or the flat store holds `minSmallFiles` or more files
    *      under `minBytes` (one small file is the last append's tail,
    *      two is an ingest pattern);
    *   4. `ok`: none of the above.
    *
    * The reason carries the triggering numbers, so the row IS the
    * runbook entry. Driver cost: the fsck and listing passes plus
    * drift's one corpus pass.
    */
  def advise(spark: SparkSession, dir: String,
             corpus: Option[DataFrame] = scala.None,
             idCol: String = "vec_id", vecCol: String = "embedding",
             maxFilesPerPartition: Int = 1,
             minBytes: Long = SmallFileBytes, minSmallFiles: Int = 2,
             maxMisassigned: Double = 0.2,
             maxOutOfRange: Double = 0.05): DataFrame = {
    import spark.implicits._
    val l = detect(spark, dir)
    require(!l.hasDrift || corpus.nonEmpty,
      s"the ${l.kind} advisor needs a corpus for its drift leg")
    def rebuild: Option[String] = l.driftLeg.flatMap { case (score, why) =>
      val limit = if (l == IvfPq) maxMisassigned else maxOutOfRange
      val d = drift(spark, dir, corpus.get, idCol, vecCol)
        .agg(score.as("w")).head().getAs[Double]("w")
      Option.when(d > limit)(f"$d%.4f " + why.format(limit))
    }
    val compactVerb = "run graft_store_compact (PersistedStore.compact)"
    def compact: Option[String] = {
      val root = dataRoot(dir, l)
      l.partCol match {
        case Some(pc) =>
          val fragged = StoreMaintenance
            .partitionFileStats(spark, root.toString, pc)
            .count(_._2 > maxFilesPerPartition)
          Option.when(fragged > 0)(s"$fragged ${l.partUnit} partition(s) " +
            s"over $maxFilesPerPartition file(s) - $compactVerb")
        case scala.None =>
          val small = StoreMaintenance.dataFiles(spark, root)
            .count(_._2 < minBytes)
          Option.when(small >= minSmallFiles)(
            s"$small files under $minBytes bytes - $compactVerb")
      }
    }
    val fsckBad = fsck(spark, dir).filter(!col("ok")).count()
    val (action, reason) =
      if (fsckBad > 0)
        ("repair", s"fsck flags $fsckBad failing check(s) - run " +
          "graft_store_repair (PersistedStore.repair), then re-advise")
      else rebuild.map(("rebuild", _))
        .orElse(compact.map(("compact", _)))
        .getOrElse(("ok",
          "fsck clean, drift under thresholds, no fragmentation"))
    Seq((dir, action, reason)).toDF("store", "action", "reason")
  }
}
