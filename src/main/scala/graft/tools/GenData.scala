package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic scale-up of a driver-generated testdata directory
  * (TESTDATA.md) for scale-proof benching: `sfX -> N x sfX` with the same
  * schemas and the same per-key work profile, so a bench at the scaled
  * directory measures how the engine scales rather than how a different
  * dataset behaves.
  *
  * Method: N-fold replication with key-space offsetting. Every foreign-key
  * edge is offset by the same span as its parent table, so joins stay
  * within a replica and join/group output grows exactly linearly; value
  * columns are byte-identical to the source, so selectivities and
  * group-by cardinalities per replica are unchanged.
  *
  * Two tables get a per-replica transform on top, because duplicating
  * them verbatim would plant N-way cross-replica duplicates and distort
  * the dedup/knn work profile superlinearly:
  *
  *   - `documents.text` is rewritten through a per-replica vocabulary
  *     permutation (replica 0 = identity). A permutation preserves every
  *     intra-replica similarity EXACTLY — shingle sets map 1:1, so
  *     Jaccard/MinHash/SimHash relationships between docs in the same
  *     replica are untouched — while cross-replica copies share almost no
  *     shingles. Planted dup groups therefore scale linearly (N x as many
  *     groups, same sizes). `n_chars` is recomputed (word lengths change).
  *   - `embeddings.embedding` gets a per-replica sign-flip pattern
  *     (replica 0 = identity): an orthogonal transform, so intra-replica
  *     norms, dot products and cosine neighborhoods are exact, while a
  *     vector and its flipped copy are far apart.
  *
  * `events.ts` density grows N x inside the SAME 30-day window (more
  * traffic, same retention) — rowkey ranges per user stay realistic and
  * time_range_scan output scales linearly. The ts column round-trips as
  * int64 nanos (graft.Tables reads TIMESTAMP(NANOS) as long via
  * nanosAsLong; writing it back as plain int64 reads identically).
  *
  * Usage: runMain graft.tools.GenData <srcDir> <dstDir> <factor>
  */
object GenData {
  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: GenData <srcDir> <dstDir> <factor>")
    val Array(src, dst, factorS) = args
    val n = factorS.toInt
    require(n >= 1, s"factor must be >= 1, got $n")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = graft.GraftSession.builder(s"local[$cpus]", cpus.toInt)
      .appName("graft-gendata")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try generate(spark, src, dst, n) finally spark.stop()
  }

  def generate(spark: SparkSession, src: String, dst: String, n: Int): Unit = {
    // fixed dimensions: copy verbatim
    copyTable(spark, src, dst, "region")
    copyTable(spark, src, dst, "nation")

    // key spans (contiguous 0-based ids per TESTDATA generation)
    replicate(spark, src, dst, "customer", n, parts = 4,
      Map("c_custkey" -> span(spark, src, "customer", "c_custkey")))
    val oSpan = span(spark, src, "orders", "o_orderkey")
    replicate(spark, src, dst, "orders", n, parts = 8,
      Map("o_orderkey" -> oSpan,
          "o_custkey" -> span(spark, src, "customer", "c_custkey")))
    replicate(spark, src, dst, "part", n, parts = 4,
      Map("p_partkey" -> span(spark, src, "part", "p_partkey")))
    replicate(spark, src, dst, "supplier", n, parts = 1,
      Map("s_suppkey" -> span(spark, src, "supplier", "s_suppkey")))
    replicate(spark, src, dst, "lineitem", n, parts = 16,
      Map("l_orderkey" -> oSpan,
          "l_partkey" -> span(spark, src, "part", "p_partkey"),
          "l_suppkey" -> span(spark, src, "supplier", "s_suppkey")))
    replicate(spark, src, dst, "events", n, parts = 16,
      Map("event_id" -> span(spark, src, "events", "event_id"),
          "user_id" -> span(spark, src, "events", "user_id")))

    writeDocuments(spark, src, dst, n)
    writeEmbeddings(spark, src, dst, n)
  }

  private def load(spark: SparkSession, dir: String, name: String): DataFrame =
    graft.Tables(spark, dir, name)

  private def span(spark: SparkSession, src: String, table: String,
                   key: String): Long =
    load(spark, src, table).agg(max(col(key))).head.getAs[Number](0)
      .longValue() + 1L

  private def copyTable(spark: SparkSession, src: String, dst: String,
                        name: String): Unit =
    load(spark, src, name).coalesce(1).write.mode("overwrite")
      .parquet(s"$dst/$name.parquet")

  /** Union of n copies with each key column offset by rep * span; value
    * columns untouched. One scan of the source per output (the replica
    * index is cross-joined in, not re-read n times).
    */
  private def replicate(spark: SparkSession, src: String, dst: String,
                        name: String, n: Int, parts: Int,
                        offsets: Map[String, Long]): Unit = {
    val base = load(spark, src, name)
    // the cast back to the source type below would silently WRAP when
    // (n-1) * span + maxKey overflows an int-typed key column, producing
    // colliding/negative ids — fail loudly before writing anything
    offsets.foreach { case (k, s) =>
      // BigInt so the guard itself cannot overflow; span = max key + 1
      val maxScaled = BigInt(s) * (n - 1) + (s - 1)
      val bound: BigInt = base.schema(k).dataType match {
        case org.apache.spark.sql.types.IntegerType => BigInt(Int.MaxValue)
        case org.apache.spark.sql.types.ShortType   => BigInt(Short.MaxValue)
        case _                                      => BigInt(Long.MaxValue)
      }
      require(maxScaled <= bound,
        s"$name.$k: replicating x$n with span $s overflows the column's " +
          s"${base.schema(k).dataType} (max scaled key $maxScaled > $bound)")
    }
    val reps = spark.range(n).select(col("id").as("__rep"))
    val out0 = base.crossJoin(broadcast(reps))
    val out = offsets.foldLeft(out0) { case (df, (k, s)) =>
      // keep the source column type (int ids must not widen to long)
      df.withColumn(k, (col(k) + col("__rep") * lit(s))
        .cast(base.schema(k).dataType))
    }.drop("__rep")
    out.repartition(parts).write.mode("overwrite")
      .parquet(s"$dst/$name.parquet")
  }

  /** Per-replica vocabulary permutation over the space-separated word
    * stream (identity for replica 0), doc_id offset, n_chars recomputed.
    */
  private def writeDocuments(spark: SparkSession, src: String, dst: String,
                             n: Int): Unit = {
    import spark.implicits._
    val base = load(spark, src, "documents")
    val dSpan = span(spark, src, "documents", "doc_id")
    val vocab = base.select(explode(split(col("text"), " ")).as("w"))
      .distinct().as[String].collect().sorted
    // perms(rep): deterministic shuffle of the vocab, rep 0 = identity
    val perms: Array[Map[String, String]] = (0 until n).map { rep =>
      if (rep == 0) vocab.map(w => w -> w).toMap
      else {
        val rnd = new scala.util.Random(7900 + rep)
        val shuffled = rnd.shuffle(vocab.toVector)
        vocab.zip(shuffled).toMap
      }
    }.toArray
    val permsB = spark.sparkContext.broadcast(perms)
    val permute = udf { (text: String, rep: Int) =>
      val m = permsB.value(rep)
      text.split(' ').map(w => m.getOrElse(w, w)).mkString(" ")
    }
    val reps = spark.range(n).select(col("id").cast("int").as("__rep"))
    base.crossJoin(broadcast(reps))
      .withColumn("doc_id", col("doc_id") + col("__rep") * lit(dSpan))
      .withColumn("text", permute(col("text"), col("__rep")))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .drop("__rep")
      .repartition(8).write.mode("overwrite").parquet(s"$dst/documents.parquet")
  }

  /** Deterministic mixture-of-Gaussians embedding corpus — the CLUSTERED
    * data residual quantization exists for (the driver's synthetic
    * embeddings are structureless: var(x − centroid) ≈ 2·var(x) there,
    * so residual codes measure WORSE than raw ones and the operator's
    * purpose is untestable on them). `k` seeded Gaussian centroids are
    * drawn driver-side (tiny, embedded as a plan literal); each vector
    * is its cluster's centroid plus uniform noise of half-width `sigma`
    * per component. Cluster assignment and noise are pure hash functions
    * of `vec_id` (xxhash64) — NOT `rand()` — so the table is bit-identical
    * under any partitioning, any executor count, and re-generation.
    */
  def clusteredEmbeddings(spark: SparkSession, n: Long, dim: Int, k: Int,
                          sigma: Double, seed: Long): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val cents: Seq[Seq[Double]] =
      Seq.fill(k)(Seq.fill(dim)(rnd.nextGaussian()))
    val centsLit = typedLit(cents)
    spark.range(n).select(col("id").as("vec_id"))
      .withColumn("__cl",
        pmod(xxhash64(col("vec_id"), lit(seed)), lit(k.toLong)).cast("int"))
      .withColumn("embedding",
        transform(sequence(lit(0), lit(dim - 1)), i =>
          (element_at(element_at(centsLit, col("__cl") + 1), i + lit(1)) +
            lit(sigma) *
              (pmod(xxhash64(col("vec_id") * lit(dim.toLong) + i.cast("long"),
                lit(seed + 1)), lit(2001L)).cast("double") / lit(1000.0)
                - lit(1.0))).cast("float")))
      .drop("__cl")
  }

  /** Per-replica sign-flip (orthogonal) transform on the embedding,
    * vec_id offset, label untouched.
    */
  private def writeEmbeddings(spark: SparkSession, src: String, dst: String,
                              n: Int): Unit = {
    val base = load(spark, src, "embeddings")
    val vSpan = span(spark, src, "embeddings", "vec_id")
    val dim = base.select(size(col("embedding"))).head.getInt(0)
    val flips: Array[Array[Float]] = (0 until n).map { rep =>
      if (rep == 0) Array.fill(dim)(1f)
      else {
        val rnd = new scala.util.Random(6300 + rep)
        Array.fill(dim)(if (rnd.nextBoolean()) 1f else -1f)
      }
    }.toArray
    val flipsB = spark.sparkContext.broadcast(flips)
    val flip = udf { (v: Seq[Float], rep: Int) =>
      val s = flipsB.value(rep)
      v.iterator.zipWithIndex.map { case (x, i) => x * s(i) }.toSeq
    }
    val reps = spark.range(n).select(col("id").cast("int").as("__rep"))
    base.crossJoin(broadcast(reps))
      .withColumn("vec_id", col("vec_id") + col("__rep") * lit(vSpan))
      .withColumn("embedding", flip(col("embedding"), col("__rep")))
      .drop("__rep")
      .repartition(4).write.mode("overwrite").parquet(s"$dst/embeddings.parquet")
  }
}
