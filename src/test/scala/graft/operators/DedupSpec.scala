package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = sf("documents")

  test("shingles: k-word windows, distinct, short docs -> empty") {
    val out = Seq("a b c d", "a b", "x x x x x")
      .toDF("text")
      .select(Dedup.shingles(col("text"), 3).as("sh"))
      .as[Seq[String]].collect()
    assert(out(0) == Seq("a b c", "b c d"))
    assert(out(1) == Seq.empty)
    assert(out(2) == Seq("x x x")) // distinct collapses repeats
  }

  test("exact dedup groups identical content") {
    val df = Seq((1L, "same text"), (2L, "same text"), (3L, "other"))
      .toDF("doc_id", "text")
    val out = Dedup.exact(df, "doc_id", md5(col("text")))
      .orderBy("keep_id").collect()
    assert(out.length == 2)
    assert(out(0).getAs[Long]("keep_id") == 1L)
    assert(out(0).getAs[Long]("n_copies") == 2L)
  }

  test("minhash LSH finds exactly the true near-dup pairs (vs brute force)") {
    val found = Dedup.minhashLsh(docs, "doc_id", "text",
        k = 3, perms = 128, bands = 16, threshold = 0.7)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    // brute-force ground truth over all pairs at the same threshold
    val sh = docs.select(col("doc_id"),
      Dedup.shingleHashes(col("text"), 3).as("sh"))
    val truth = sh.as("x").join(sh.as("y"), $"x.doc_id" < $"y.doc_id")
      .select($"x.doc_id", $"y.doc_id",
        (size(array_intersect($"x.sh", $"y.sh")).cast("double") /
          (size($"x.sh") + size($"y.sh") -
            size(array_intersect($"x.sh", $"y.sh")))).as("j"))
      .filter($"j" >= 0.7)
      .select($"x.doc_id", $"y.doc_id").as[(Long, Long)].collect().toSet
    assert(truth.nonEmpty, "test data should contain seeded near-dups")
    assert(found == truth) // 128 perms / 16 bands: no misses at j>=0.9 data
  }

  test("simhash pairs are symmetric-free, hamming-bounded, and real dups") {
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text").collect()
    assert(pairs.nonEmpty)
    pairs.foreach { r =>
      assert(r.getAs[Long]("doc_a") < r.getAs[Long]("doc_b"))
      assert(r.getAs[Int]("hamming") <= 3)
    }
  }

  test("simhash maxHamming >= 4 derives enough bands for full recall") {
    // ground truth: all pairs within hamming <= 7 by brute force
    val sigs = docs.select(col("doc_id"),
      graft.functions.txt.simhash(Dedup.shingleHashes(col("text"), 3)).as("sig"))
    val truth = sigs.as("x").join(sigs.as("y"), $"x.doc_id" < $"y.doc_id")
      .withColumn("h", expr("bit_count(x.sig ^ y.sig)"))
      .filter($"h" <= 7)
      .select($"x.doc_id", $"y.doc_id").as[(Long, Long)].collect().toSet
    val found = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 7)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(found == truth, s"banding lost ${(truth -- found).size} true pairs")
    assert(truth.nonEmpty)
  }

  test("embedding near-dup pairs verified above threshold") {
    val emb = sf("embeddings")
    val out = Dedup.embeddingNearDup(emb, "vec_id", "embedding",
      dim = 64, threshold = 0.4).collect()
    assert(out.nonEmpty)
    out.foreach(r => assert(r.getAs[Double]("cosine") >= 0.4))
  }

  test("capped collect: buffer never exceeds cap+1, under-cap groups complete") {
    // groups: key 0 -> 3 rows (under cap), key 1 -> 12 rows (over cap=5)
    val df = ((0 until 3).map(i => (0, i)) ++ (0 until 12).map(i => (1, i)))
      .toDF("k", "x").repartition(8) // spread over partitions so merge paths run
    val out = df.groupBy($"k")
      .agg(graft.functions.CappedCollectList($"x", 5).as("xs"))
      .select($"k", size($"xs").as("n"))
      .as[(Int, Int)].collect().toMap
    assert(out(0) == 3)    // under cap: collected in full
    assert(out(1) == 6)    // over cap: surfaces as exactly cap+1, never 12
    // update-path cap: single partition, one group, 100 rows, cap 5
    val one = (0 until 100).map(i => (0, i)).toDF("k", "x").coalesce(1)
      .groupBy($"k")
      .agg(size(graft.functions.CappedCollectList($"x", 5)).as("n"))
      .as[(Int, Int)].collect().head
    assert(one._2 == 6)
  }

  test("degenerate hot bucket is dropped via cap without collecting it") {
    // 60 identical vectors -> one bucket in EVERY band, size 60 >> maxBucket
    val hot = (0L until 60L).map(i => (i, Array.fill(64)(1.0f)))
    // plus one near-dup pair far from the hot cluster
    val v = Array.tabulate(64)(i => if (i % 2 == 0) 1.0f else -1.0f)
    val v2 = v.clone(); v2(0) = 0.9f
    val emb = (hot ++ Seq((100L, v), (101L, v2)))
      .toDF("vec_id", "embedding")
    val out = Dedup.embeddingNearDup(emb, "vec_id", "embedding",
      dim = 64, threshold = 0.4, maxBucket = 10)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    assert(out == Set((100L, 101L)),
      s"hot bucket must be dropped, distinct pair kept: $out")
    // same query, cap above the hot bucket: all 60*59/2 hot pairs + 1
    val full = Dedup.embeddingNearDup(emb, "vec_id", "embedding",
      dim = 64, threshold = 0.4, maxBucket = 2000).count()
    assert(full == 60L * 59L / 2L + 1L)
  }

  test("decontaminate flags exactly the docs overlapping the eval set") {
    val evalSet = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five")).toDF("doc_id", "text")
    val train = Seq(
      // full 5-gram lift from eval doc 1 inside fresh context
      (10L, "xx alpha beta gamma delta epsilon yy zz ww vv"),
      // shares only 4-word runs with eval doc 2 -> no 5-gram hit
      (11L, "one two three four qq five six seven eight nine"),
      // clean
      (12L, "p q r s t u v w x y"),
      // verbatim eval doc 1 -> every shingle hits
      (13L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val out = Dedup.decontaminate(train, evalSet, "doc_id", "text", k = 5)
      .orderBy("doc_id")
      .select("doc_id", "n_grams", "n_hits")
      .as[(Long, Long, Long)].collect().toSeq
    // doc 10: 6 shingles, 1 hit ("alpha..epsilon"); doc 13: 2 of 2
    assert(out == Seq((10L, 6L, 1L), (13L, 2L, 2L)), s"got $out")
    // minHits above a doc's hit count drops it
    val strict = Dedup.decontaminate(train, evalSet, "doc_id", "text",
        k = 5, minHits = 2L)
      .select("doc_id").as[Long].collect().toSeq
    assert(strict == Seq(13L), s"got $strict")
  }

  test("decontaminateFuzzy equals the full minhashLsh run restricted " +
      "to cross-set pairs, rolled up per train doc") {
    val docs = sf("documents")
    val isEval = col("doc_id") % 7 === 0 && col("doc_id") < 50000
    val out = Dedup.decontaminateFuzzy(docs.filter(!isEval),
        docs.filter(isEval), "doc_id", "text")
      .as[(Long, Long, Double)].collect().toSet
    // reference: the C3 self-join over ALL docs, keep pairs with
    // exactly one eval endpoint, aggregate per train doc
    def eval_(c: org.apache.spark.sql.Column) =
      c % 7 === 0 && c < 50000
    val want = Dedup.minhashLsh(docs, "doc_id", "text")
      .filter(eval_(col("doc_a")) =!= eval_(col("doc_b")))
      .select(when(eval_(col("doc_a")), col("doc_b"))
          .otherwise(col("doc_a")).as("doc_id"),
        col("jaccard"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n"), round(max(col("jaccard")), 6).as("mj"))
      .as[(Long, Long, Double)].collect().toSet
    assert(out == want && out.nonEmpty,
      s"fuzzy decontamination drifted from the self-join reference: " +
        s"out=${out.size} want=${want.size}")
  }

  test("boilerplate: df-thresholded grams, zero-hit docs kept, short docs out") {
    val df = Seq(
      // "click here now" appears in docs 1,2,3 -> boilerplate at minDf=3
      (1L, "click here now aa bb"),
      (2L, "cc click here now dd"),
      (3L, "click here now ee ff gg"),
      // no gram shared 3 ways -> all-zero row, still present
      (4L, "uu vv ww xx yy"),
      (5L, "too short"), // < k words -> excluded entirely
      (6L, "click here also")).toDF("doc_id", "text")
    val out = Dedup.boilerplate(df, "doc_id", "text", k = 3, minDf = 3L)
      .orderBy("doc_id")
      .select("doc_id", "n_grams", "n_boiler", "max_df")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq(
      (1L, 3L, 1L, 3L), (2L, 3L, 1L, 3L), (3L, 4L, 1L, 3L),
      (4L, 3L, 0L, 0L), (6L, 1L, 0L, 0L)), s"got $out")
    // fraction column matches the count columns
    val fr = Dedup.boilerplate(df, "doc_id", "text", k = 3, minDf = 3L)
      .filter(col("doc_id") === 3L)
      .select("boiler_frac").as[Double].head()
    assert(fr == 0.25)
    // raising minDf above the hottest gram's df empties the boiler set
    val none = Dedup.boilerplate(df, "doc_id", "text", k = 3, minDf = 4L)
      .agg(sum(col("n_boiler"))).as[Long].head()
    assert(none == 0L)
  }

  test("paragraph dedup keeps one canonical occurrence, reassembles " +
      "in order, empties fully-duplicated docs") {
    val df = Seq(
      (1L, "alpha\nbeta\ngamma"),
      (2L, "beta\ndelta\nalpha"), // beta+alpha already seen in doc 1
      (3L, "alpha\nbeta"),        // fully duplicated
      (4L, "epsilon")
    ).toDF("doc_id", "text")
    val out = Dedup.paragraphDedup(df, "doc_id", "text")
      .orderBy("doc_id").collect()
    def row(i: Int) = (out(i).getAs[Long]("n_paras"),
      out(i).getAs[Long]("n_dropped"), out(i).getAs[String]("clean_text"))
    assert(row(0) == (3L, 0L, "alpha\nbeta\ngamma"))
    assert(row(1) == (3L, 2L, "delta")) // original order survives drops
    assert(row(2) == (2L, 2L, ""))      // nothing left
    assert(row(3) == (1L, 0L, "epsilon"))
  }

  test("substring dup: shared 16-byte spans counted, unique docs zero, " +
      "self-repeats count too") {
    val shared = "0123456789abcdef" // exactly one 16-byte window
    val df = Seq(
      (1L, s"xx${shared}yy"),
      (2L, s"zz${shared}ww"),             // shares the span with doc 1
      (3L, "completely unrelated text."),
      (4L, shared * 2)                    // self-repeated span
    ).toDF("doc_id", "text")
    val out = Dedup.substringDup(df, "doc_id", "text", window = 16)
      .orderBy("doc_id").collect()
    def row(i: Int) = (out(i).getAs[Long]("n_windows"),
      out(i).getAs[Long]("n_dup_windows"))
    // doc 1: 5 windows (20-16+1); the aligned `shared` window and any
    // window shared with doc 2 are dup — at least one, not all (the
    // xx/yy vs zz/ww borders differ)
    val (n1, d1) = row(0)
    assert(n1 == 5 && d1 >= 1 && d1 < n1)
    assert(row(1) == ((5L, d1)))          // symmetric with doc 1
    assert(row(2)._2 == 0L)               // nothing shared anywhere
    // doc 4: 17 windows; window at pos 0 repeats at pos 16 (and its
    // rotations pair up too) — every window with an equal twin counts
    val (n4, d4) = row(3)
    assert(n4 == 17 && d4 >= 2)
  }

  test("substring trim: only the shared span cut, unique docs intact, " +
      "short dup docs trim to empty") {
    val shared = "0123456789abcdef" // exactly one 16-byte window
    val df = Seq(
      (1L, s"xx${shared}yy"),
      (2L, s"zz${shared}ww"),
      (3L, "completely unrelated text."),
      (4L, "tiny"), (5L, "tiny")
    ).toDF("doc_id", "text")
    val out = Dedup.substringTrim(df, "doc_id", "text", window = 16)
      .orderBy("doc_id").collect()
    def row(i: Int) = (out(i).getAs[String]("clean_text"),
      out(i).getAs[Long]("n_removed"))
    // docs 1/2: only the aligned window matches (the borders differ),
    // so exactly bytes [2,18) are cut
    assert(row(0) == (("xxyy", 16L)))
    assert(row(1) == (("zzww", 16L)))
    assert(row(2) == (("completely unrelated text.", 0L)))
    assert(row(3) == (("", 4L)))  // whole-content pseudo-window dup
    assert(row(4) == (("", 4L)))
  }

  test("embedding near-dup recall >= 0.5 vs brute-force truth") {
    val emb = sf("embeddings")
    val found = Dedup.embeddingNearDup(emb, "vec_id", "embedding",
        dim = 64, threshold = 0.4)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    val vd = emb.select(col("vec_id"), graft.operators.Knn
      .asDouble(col("embedding")).as("v"))
    val truth = vd.as("x").join(vd.as("y"), $"x.vec_id" < $"y.vec_id")
      .withColumn("c", Knn.cosineD($"x.v", $"y.v"))
      .filter($"c" >= 0.4)
      .select($"x.vec_id", $"y.vec_id").as[(Long, Long)].collect().toSet
    assert(truth.nonEmpty)
    // LSH precision is exact (pairs are cosine-verified); recall with
    // 12 bands × 6 planes measures 0.62 at sf0.001, 0.68 at sf0.01
    val recall = (truth & found).size.toDouble / truth.size
    assert(recall >= 0.5, s"recall $recall (${found.size}/${truth.size})")
    assert((found -- truth).isEmpty, "no false positives after verification")
  }

  // ---- SemDeDup (Dedup.semantic) --------------------------------------

  private def embDf(rows: (Long, Seq[Double])*) =
    rows.toSeq.toDF("vec_id", "embedding")

  test("semantic dedup: exact-dup groups keep exactly the smallest id") {
    // two 4-dim topic clusters + a singleton; exact duplicates tie on
    // centrality, so the keeper rule falls through to smallest-id
    val emb = embDf(
      0L -> Seq(1.0, 0.0, 0.0, 0.0), 1L -> Seq(1.0, 0.0, 0.0, 0.0),
      2L -> Seq(0.0, 1.0, 0.0, 0.0), 3L -> Seq(0.0, 1.0, 0.0, 0.0),
      4L -> Seq(0.0, 1.0, 0.0, 0.0), 5L -> Seq(0.0, 0.0, 1.0, 0.0))
    val out = Dedup.semantic(emb, "vec_id", "embedding", dim = 4,
        threshold = 0.95, ksub = 2, iters = 1, trainMod = 1)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Boolean]("keep"), r.getAs[Long]("n_dups"))).toMap
    assert(out.size == 6, "every input row comes back")
    assert(out(0L) == ((true, 1L)) && out(1L) == ((false, 1L)))
    assert(out(2L) == ((true, 2L)) && out(3L) == ((false, 2L)) &&
      out(4L) == ((false, 2L)))
    assert(out(5L) == ((true, 0L)), "singleton untouched")
  }

  test("semantic dedup keeps the LEAST-central member of a pair") {
    // pre-trained coarse cell at e1: x10 sits ON the centroid, x11 is
    // tilted off it — they are near-dups (cos ~0.995), and SemDeDup
    // keeps the boundary example, dropping the central one
    val coarse = Seq(
      (0L, Seq(1.0, 0.0, 0.0, 0.0)), (1L, Seq(0.0, 0.0, 0.0, 1.0)))
      .toDF("cell_id", "centroid")
    val emb = embDf(
      10L -> Seq(1.0, 0.0, 0.0, 0.0),
      11L -> Seq(1.0, 0.1, 0.0, 0.0),
      12L -> Seq(0.0, 0.0, 0.0, 1.0))
    val out = Dedup.semantic(emb, "vec_id", "embedding", dim = 4,
        threshold = 0.9, coarse = Some(coarse))
      .collect().map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Long]("cell_id"), r.getAs[Boolean]("keep"))).toMap
    assert(out(10L) == ((0L, false)), "the on-centroid copy is dropped")
    assert(out(11L) == ((0L, true)), "the boundary copy survives")
    assert(out(12L) == ((1L, true)))
  }

  test("semantic dedup works on offset, gappy id spaces") {
    val base = 1000000007L
    val emb = embDf(
      base -> Seq(1.0, 0.0, 0.0, 0.0), (base + 13) -> Seq(1.0, 0.0, 0.0, 0.0),
      (base + 31) -> Seq(0.0, 1.0, 0.0, 0.0))
    val out = Dedup.semantic(emb, "vec_id", "embedding", dim = 4,
        threshold = 0.95, ksub = 2, iters = 1, trainMod = 1)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        r.getAs[Boolean]("keep")).toMap
    assert(out == Map(base -> true, (base + 13) -> false,
      (base + 31) -> true))
  }

  test("semantic dedup invariants on the real corpus") {
    val emb = sf("embeddings")
    val out = Dedup.semantic(emb, "vec_id", "embedding", dim = 64,
      threshold = 0.4, ksub = 16, iters = 2, trainMod = 2)
    val rows = out.collect()
    assert(rows.length == emb.count(), "one output row per input row")
    rows.foreach { r =>
      val (n, keep) = (r.getAs[Long]("n_dups"), r.getAs[Boolean]("keep"))
      assert(n > 0 || keep, s"${r.getAs[Long]("vec_id")}: dropped with no " +
        "verified dup partner")
    }
    // the aggregation path stays partial (map-side combined), no
    // array-typed buffers forcing the sort-aggregate fallback on the
    // n×cells assignment stream
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("partial_max"), "assignment argmax not partial")
  }

  test("bloom decontaminate output == exact decontaminate output") {
    val docs = sf("documents")
    val isEval = col("doc_id") % 7 === 0
    val (train, ev) = (docs.filter(!isEval), docs.filter(isEval))
    val exact = Dedup.decontaminate(train, ev, "doc_id", "text", k = 3)
    // small logBits (4096 bits for ~thousands of grams) forces a HIGH
    // fp rate, so the verification join is genuinely load-bearing
    val bloom = Dedup.decontaminateBloom(train, ev, "doc_id", "text",
      k = 3, logBits = 12)
    assert(bloom.except(exact).isEmpty && exact.except(bloom).isEmpty)
    assert(exact.count() > 0, "empty decontamination result proves nothing")
  }

  test("incremental dedup: corpus hit, within-batch dup, genuinely new") {
    import spark.implicits._
    val corpus = Seq((1L, "alpha"), (2L, "beta"), (3L, "alpha"))
      .toDF("id", "text") // fp(alpha) canonical = 1
    val batch = Seq(
      (10L, "alpha"), // dup of corpus id 1 -> drop
      (11L, "gamma"), // new, first in batch -> keep
      (12L, "gamma"), // new but second in batch -> drop
      (13L, "delta")  // new -> keep
    ).toDF("id", "text")
    val index = Dedup.exact(corpus, "id", md5(col("text")))
      .select("fp", "keep_id")
    val out = Dedup.incremental(index, batch, "id", md5(col("text")))
      .select("id", "dup_of", "keep")
      .as[(Long, Option[Long], Boolean)].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap
    assert(out(10L) == ((Some(1L), false)))
    assert(out(11L) == ((None, true)))
    assert(out(12L) == ((None, false)))
    assert(out(13L) == ((None, true)))
  }

  test("incremental dedup probes the index map-side (no index shuffle)") {
    import spark.implicits._
    val docs = sf("documents")
    val fpc = md5(col("text"))
    val index = Dedup.exact(docs.filter(col("doc_id") % 10 =!= 0),
      "doc_id", fpc).select("fp", "keep_id")
    val out = Dedup.incremental(index,
      docs.filter(col("doc_id") % 10 === 0), "doc_id", fpc)
    // keep-set and index-hit set are consistent with a from-scratch run
    val full = Dedup.exact(docs, "doc_id", fpc)
    val keepIds = out.filter(col("keep")).select("doc_id")
      .as[Long].collect().toSet
    val canonical = full.select("keep_id").as[Long].collect().toSet
    // every kept delta doc is a canonical of the full-corpus run
    assert(keepIds.subsetOf(canonical))
    // the index side reaches the probe join under a broadcast exchange
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange"), "index probe not broadcast")
  }

  test("incrementalMinhash: crafted near-copy found, unique batch doc " +
      "silent; equals full minhashLsh restricted to cross-set pairs") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val corpus = Seq((1L, base),
      (2L, "totally different words entirely here about other topics one"),
      (3L, "yet another unrelated corpus document text body goes here"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, base + " phi"),                           // near-copy of 1
      (20L, "nothing in common with any corpus doc at all whatsoever"))
      .toDF("doc_id", "text")
    val got = Dedup.incrementalMinhash(corpus, batch, "doc_id", "text")
      .collect()
    assert(got.length == 1 &&
      got.head.getAs[Long]("batch_id") == 10L &&
      got.head.getAs[Long]("corpus_id") == 1L,
      s"expected only (10, 1): ${got.toSeq}")
    // probe side broadcast: history not shuffled on batch arrival
    val plan = Dedup.incrementalMinhash(corpus, batch, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange"), "batch keys not broadcast")
    // sf parity with the full pair run restricted to cross-set pairs
    val docs = sf("documents")
    val isDelta = col("doc_id") % 10 === 0
    def key(b: Long, c: Long, j: Double) = (b, c, math.round(j * 1e6))
    val inc = Dedup.incrementalMinhash(docs.filter(!isDelta),
        docs.filter(isDelta), "doc_id", "text").collect()
      .map(r => key(r.getAs[Long]("batch_id"), r.getAs[Long]("corpus_id"),
        r.getAs[Double]("jaccard"))).toSet
    val full = Dedup.minhashLsh(docs, "doc_id", "text").collect()
      .flatMap { r =>
        val a = r.getAs[Long]("doc_a"); val b = r.getAs[Long]("doc_b")
        val j = r.getAs[Double]("jaccard")
        if ((a % 10 == 0) != (b % 10 == 0))
          Some(if (a % 10 == 0) key(a, b, j) else key(b, a, j))
        else scala.None
      }.toSet
    assert(inc == full, s"incremental $inc != restricted full $full")
    // degenerate-bucket parity: a text flooded past maxBucket emits
    // nothing in the full run — the incremental probe must drop the
    // SAME bucket (combined-count rule), not truncate-and-emit
    val flood = (0L until 8L).map(i => (i, base)).toDF("doc_id", "text")
    val fIncr = Dedup.incrementalMinhash(
      flood.filter(col("doc_id") % 2 === 0),
      flood.filter(col("doc_id") % 2 =!= 0),
      "doc_id", "text", maxBucket = 5)
    assert(fIncr.count() == 0,
      "flooded bucket must drop entirely, matching the full-run cap")
    val fIncrOk = Dedup.incrementalMinhash(
      flood.filter(col("doc_id") % 2 === 0),
      flood.filter(col("doc_id") % 2 =!= 0),
      "doc_id", "text", maxBucket = 8)
    assert(fIncrOk.count() == 16, "within-cap bucket emits all cross pairs")
  }

  test("persisted LSH index: probe-from-disk equals the in-plan C25 " +
      "run, append is a pure file-add, and the lifecycle tracks the " +
      "growing corpus") {
    val docs = sf("documents")
    val isBatch = col("doc_id") % 10 === 0
    val corpus = docs.filter(!isBatch)
    val batch = docs.filter(isBatch)
    val dir = java.nio.file.Files.createTempDirectory("lsh_idx").toString
    Dedup.buildLshIndex(corpus, "doc_id", "text", dir)
    val store = PersistedStore.Lsh.open(spark, dir)
    assert((store.k, store.perms, store.bands) == ((3, 128, 16)))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("batch_id"), r.getAs[Long]("corpus_id"),
        math.round(r.getAs[Double]("jaccard") * 1e6))).toSet
    val inPlan = rows(Dedup.incrementalMinhash(corpus, batch,
      "doc_id", "text"))
    val fromDisk = rows(Dedup.incrementalMinhashIndexed(dir, corpus, batch,
      "doc_id", "text"))
    assert(fromDisk == inPlan,
      s"disk probe must equal the in-plan run: $fromDisk vs $inPlan")
    assert(fromDisk.nonEmpty, "the sf batch should have near-dups")
    // append = pure file-add: every pre-existing bucket file stays
    // byte-identical (hash-pinned), new files only ADD
    def bucketFiles(): Map[String, String] = {
      val root = java.nio.file.Paths.get(dir, "buckets")
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(root).iterator().asScala
        .filter(p => p.toString.endsWith(".parquet"))
        .map { p =>
          val h = java.security.MessageDigest.getInstance("MD5")
            .digest(java.nio.file.Files.readAllBytes(p))
          p.toString -> h.map(b => f"$b%02x").mkString
        }.toMap
    }
    val before = bucketFiles()
    Dedup.appendToLshIndex(batch, "doc_id", "text", dir)
    val after = bucketFiles()
    assert(before.forall { case (f, h) => after.get(f).contains(h) },
      "append must never rewrite an existing bucket file")
    assert(after.size > before.size, "append must add files")
    // the appended index serves the grown corpus: a fresh disjoint
    // batch probes corpus+batch exactly like the in-plan run would
    val batch2 = docs.filter(col("doc_id") % 10 === 5)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    val grown = docs // corpus ∪ batch
    val inPlan2 = rows(Dedup.incrementalMinhash(grown, batch2,
      "doc_id", "text"))
    val fromDisk2 = rows(Dedup.incrementalMinhashIndexed(dir, grown, batch2,
      "doc_id", "text"))
    assert(fromDisk2 == inPlan2)
    assert(fromDisk2.nonEmpty)
    // index/corpus drift is LOUD: probing with a corpus snapshot that
    // lacks a doc the index surfaces as a candidate must raise, not
    // silently drop the pairs whose shingles the stale corpus can't
    // serve (drop a KNOWN candidate so the guard provably fires)
    val missingId = fromDisk2.head._2
    val stale = grown.filter(col("doc_id") =!= missingId)
    val drift = intercept[Exception] {
      Dedup.incrementalMinhashIndexed(dir, stale, batch2,
        "doc_id", "text").collect()
    }
    def rootMsg(t: Throwable): String =
      (Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => Option(e.getMessage).getOrElse("")).mkString(" | "))
    assert(rootMsg(drift).contains("absent from the passed corpus"),
      s"expected the drift guard, got: ${rootMsg(drift).take(400)}")
  }

  test("compactLshIndex: fragmented bands coalesce to one file each, " +
      "bucket rows and probe results are unchanged, and the " +
      "threshold leaves calm bands byte-identical") {
    val docs = sf("documents")
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val batch = docs.filter(col("doc_id") % 10 === 0)
    val dir = java.nio.file.Files.createTempDirectory("lsh_cp").toString
    Dedup.buildLshIndex(corpus.filter(col("doc_id") % 3 === 1),
      "doc_id", "text", dir)
    Dedup.appendToLshIndex(corpus.filter(col("doc_id") % 3 === 2),
      "doc_id", "text", dir)
    Dedup.appendToLshIndex(corpus.filter(col("doc_id") % 3 === 0),
      "doc_id", "text", dir)
    def bandFiles(b: Int): Array[java.io.File] =
      new java.io.File(s"$dir/buckets/band=$b").listFiles()
        .filter(_.getName.endsWith(".parquet"))
    val bands = new java.io.File(s"$dir/buckets").listFiles()
      .filter(_.getName.startsWith("band="))
      .map(_.getName.stripPrefix("band=").toInt)
    assert(bands.exists(bandFiles(_).length >= 3),
      "two appends must fragment the band dirs")
    val rowsBefore = spark.read.parquet(s"$dir/buckets").collect()
      .map(_.toString).sorted.toSeq
    def probe() = Dedup.incrementalMinhashIndexed(dir, corpus, batch,
        "doc_id", "text").collect().map(_.toString).sorted.toSeq
    val probeBefore = probe()
    assert(probeBefore.nonEmpty, "the sf batch should have near-dups")
    val countsBefore = bands.map(b => b -> bandFiles(b).length).toMap
    val filesBefore = countsBefore.values.map(_.toLong).sum
    val (nb, fb, fa) = PersistedStore.compact(spark, dir)
    assert(fb == filesBefore && fa == bands.length.toLong,
      s"one file per band after compaction: $fb -> $fa")
    assert(nb == countsBefore.count(_._2 > 1),
      s"every fragmented band compacts: $nb of $countsBefore")
    bands.foreach(b => assert(bandFiles(b).length == 1))
    assert(spark.read.parquet(s"$dir/buckets").collect()
      .map(_.toString).sorted.toSeq == rowsBefore,
      "compaction must not change the bucket rows")
    assert(probe() == probeBefore,
      "probe results must be identical after compaction")
    // one more append, then a threshold ABOVE the new census is a
    // listing-only no-op and every file stays byte-identical
    Dedup.appendToLshIndex(batch, "doc_id", "text", dir)
    def sigs(): Map[String, Int] = bands.flatMap(b => bandFiles(b).map(
      f => f.getPath -> java.util.Arrays.hashCode(
        java.nio.file.Files.readAllBytes(f.toPath)))).toMap
    val before2 = sigs()
    val total2 = bands.map(bandFiles(_).length.toLong).sum
    val maxPer = bands.map(bandFiles(_).length).max
    assert(PersistedStore.compact(spark, dir, maxFilesPerPartition = maxPer) ==
      ((0, total2, total2)))
    assert(sigs() == before2,
      "an under-threshold census must leave every file byte-identical")
  }

  test("removeFromLshIndex: file-level purge — untouched files stay " +
      "byte-identical, purged docs vanish from probes, and the " +
      "surviving rows equal a fresh build of the shrunk corpus") {
    val docs = sf("documents")
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val wave = docs.filter(col("doc_id") % 10 === 0)
    val dir = java.nio.file.Files.createTempDirectory("lsh_purge").toString
    Dedup.buildLshIndex(corpus, "doc_id", "text", dir)
    def bucketFiles(): Map[String, String] = {
      val root = java.nio.file.Paths.get(dir, "buckets")
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(root).iterator().asScala
        .filter(p => p.toString.endsWith(".parquet"))
        .map { p =>
          val h = java.security.MessageDigest.getInstance("MD5")
            .digest(java.nio.file.Files.readAllBytes(p))
          p.toString -> h.map(b => f"$b%02x").mkString
        }.toMap
    }
    val buildFiles = bucketFiles()
    Dedup.appendToLshIndex(wave, "doc_id", "text", dir)
    // purge 1: exactly the appended wave — its rows live only in the
    // appended files, so every BUILD file must survive byte-identical
    // and the wave's files must physically leave the layout
    val removed = PersistedStore.remove(
      wave.select("doc_id"), "doc_id", dir)
    assert(removed == wave.count() * 16,
      s"one bucket row per band per purged doc, got $removed")
    val afterPurge1 = bucketFiles()
    assert(buildFiles.forall { case (f, h) =>
      afterPurge1.get(f).contains(h) },
      "purging appended docs must not touch the build's files")
    // purged ids are gone: re-ingesting the wave text (shifted ids)
    // probes the index exactly like the original corpus-only index
    val probe = wave.select((col("doc_id") + 2000000L).as("doc_id"),
      col("text"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("batch_id"), r.getAs[Long]("corpus_id"),
        math.round(r.getAs[Double]("jaccard") * 1e6))).toSet
    val fromDisk = rows(Dedup.incrementalMinhashIndexed(dir, corpus,
      probe, "doc_id", "text"))
    val waveIds = wave.select("doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(!fromDisk.exists(p => waveIds(p._2)),
      "purged docs must never come back as candidates")
    assert(fromDisk == rows(Dedup.incrementalMinhash(corpus, probe,
      "doc_id", "text")), "post-purge probe must equal the in-plan run")
    // purge 2: a slice of the ORIGINAL corpus — now build files get
    // file-level rewrites; the surviving row set must equal a fresh
    // build of the shrunk corpus (content equality, layout-free)
    val gone = corpus.filter(col("doc_id") % 7 === 1).select("doc_id")
    val removed2 = PersistedStore.remove(gone, "doc_id", dir)
    assert(removed2 == gone.count() * 16)
    val fresh = java.nio.file.Files.createTempDirectory("lsh_fresh").toString
    Dedup.buildLshIndex(corpus.join(gone, Seq("doc_id"), "left_anti"),
      "doc_id", "text", fresh)
    def bucketRows(d: String) = spark.read.parquet(s"$d/buckets")
      .select("band", "bkey", "corpus_id")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    assert(bucketRows(dir) == bucketRows(fresh),
      "surviving rows must equal a fresh build of the shrunk corpus")
    // idempotence: purging the same ids again is a no-op
    assert(PersistedStore.remove(gone, "doc_id", dir) == 0L)
  }

  test("lshRecall: truth matches a driver-side exact all-pairs replay, " +
      "found is a subset of truth, and the report arithmetic holds") {
    val r = Dedup.lshRecall(docs, "doc_id", "text").collect()
    assert(r.length == 1)
    val (nTruth, nFound, recall) = (r(0).getAs[Long]("n_truth"),
      r(0).getAs[Long]("n_found"), r(0).getAs[Double]("recall"))
    // exact truth replay: collected distinct shingle sets, all pairs
    val sets = docs.select(col("doc_id"),
        Dedup.shingleHashes(col("text"), 3).as("sh")).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        x.getSeq[Long](1).toSet).toSeq.sortBy(_._1)
    var expect = 0L
    for (i <- sets.indices; j <- (i + 1) until sets.length) {
      val (_, a) = sets(i); val (_, b) = sets(j)
      val inter = (a & b).size
      if (a.nonEmpty && b.nonEmpty &&
          inter.toDouble / (a.size + b.size - inter) >= 0.7) expect += 1L
    }
    assert(nTruth == expect, s"truth $nTruth vs exact replay $expect")
    assert(nFound <= nTruth && nFound > 0,
      s"found must be a nonempty subset: $nFound of $nTruth")
    assert(math.abs(recall - nFound.toDouble / nTruth) < 1e-6)
    // the sf banding is tuned to find everything it verifies here
    assert(recall >= 0.5, s"sf recall collapsed: $recall")
  }


  test("fsckLshIndex: a clean build passes every check; a torn append " +
      "and duplicated bucket rows are each flagged") {
    val dir = java.nio.file.Files.createTempDirectory("lsh_fsck").toString
    Dedup.buildLshIndex(docs.filter(col("doc_id") % 10 =!= 0),
      "doc_id", "text", dir)
    val clean = PersistedStore.fsck(spark, dir).collect()
    assert(clean.length == 4 && clean.forall(_.getAs[Boolean]("ok")),
      s"fresh index must fsck clean: ${clean.mkString(" | ")}")
    // a torn append (doc 8888 reached one band before the crash) and a
    // crashed purge (doc 7777's row duplicated in one band)
    val bad = Seq((1234L, 8888L, 0), (4321L, 7777L, 1), (4321L, 7777L, 1))
      .toDF("bkey", "corpus_id", "band")
    bad.write.mode("append").partitionBy("band").parquet(s"$dir/buckets")
    val r = PersistedStore.fsck(spark, dir).collect()
      .map(x => x.getAs[String]("check") ->
        (x.getAs[Boolean]("ok"), x.getAs[Long]("n_bad"))).toMap
    assert(r("doc_coverage") == ((false, 2L)),
      s"torn docs: ${r("doc_coverage")}")
    assert(r("dup_rows") == ((false, 1L)), s"dups: ${r("dup_rows")}")
    assert(r("params_valid")._1 && r("bands_complete")._1,
      "params/band checks must stay green")
  }

  test("adviseLshIndex: manufactured states fire ok, compact, and " +
      "repair (precedence over fragmentation)") {
    val dir = java.nio.file.Files.createTempDirectory("lsh_adv").toString
    Dedup.buildLshIndex(docs, "doc_id", "text", dir)
    assert(PersistedStore.advise(spark, dir).head()
      .getAs[String]("action") == "ok", "fresh index must advise ok")
    // an append fragments every band: compact
    Dedup.appendToLshIndex(
      docs.select((col("doc_id") + 1000000L).as("doc_id"), col("text")),
      "doc_id", "text", dir)
    val cp = PersistedStore.advise(spark, dir).head()
    assert(cp.getAs[String]("action") == "compact",
      s"fragmented index must advise compact: $cp")
    assert(cp.getAs[String]("reason").contains("graft_store_compact"))
    // a torn append corrupts: repair wins over the fragmentation
    Seq((1234L, 8888L, 0)).toDF("bkey", "corpus_id", "band")
      .write.mode("append").partitionBy("band").parquet(s"$dir/buckets")
    val rp = PersistedStore.advise(spark, dir).head()
    assert(rp.getAs[String]("action") == "repair",
      s"corrupt index must advise repair before compact: $rp")
  }

  test("repairLshIndex: each corruption class is surgically fixed — " +
      "dups collapse, torn docs leave, orphan bands drop — untouched " +
      "files stay byte-identical, idempotent, missing band refused") {
    val dir = java.nio.file.Files.createTempDirectory("lsh_rep").toString
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    Dedup.buildLshIndex(corpus, "doc_id", "text", dir)
    val batch = docs.filter(col("doc_id") % 10 === 0)
    val cleanProbe = Dedup.incrementalMinhashIndexed(dir, corpus, batch,
      "doc_id", "text").collect().map(_.toString).sorted.toSeq
    def files(): Map[String, (Long, Long)] = {
      val root = new java.io.File(s"$dir/buckets")
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(root).filter(f => f.getName.endsWith(".parquet"))
        .map(f => f.getPath -> (f.length(), f.lastModified())).toMap
    }
    val before = files()
    // a surviving doc's band-0 row, to duplicate (crashed purge on a
    // doc that stays fully covered — the dup-collapse class alone)
    val dupRow = spark.read.parquet(s"$dir/buckets")
      .withColumn("_file", input_file_name())
      .filter(col("band") === 0).head()
    val dupSrcFile = new java.io.File(
      new java.net.URI(dupRow.getAs[String]("_file"))).getPath
    // torn doc 8888 (one band), crashed-purge dup for doc 7777 (also
    // torn — one band), the covered-doc dup, and an out-of-range
    // band=99 partition
    Seq((1234L, 8888L, 0), (4321L, 7777L, 1), (4321L, 7777L, 1),
        (dupRow.getAs[Long]("bkey"), dupRow.getAs[Long]("corpus_id"), 0),
        (5555L, 6666L, 99), (5556L, 6666L, 99))
      .toDF("bkey", "corpus_id", "band")
      // one writer task -> exactly one injected file per band dir,
      // so the filesRewritten expectation below is deterministic
      .coalesce(1)
      .write.mode("append").partitionBy("band").parquet(s"$dir/buckets")
    assert(!PersistedStore.fsck(spark, dir).collect()
      .forall(_.getAs[Boolean]("ok")), "the injection must corrupt")
    val (dropped, rewritten) = PersistedStore.repair(spark, dir)
    // 2 orphan rows + torn 8888 (1) + torn-dup 7777 (2) + 1 dup copy
    assert(dropped == 6L, s"dropped $dropped rows, want 6")
    // the 2 injected band files + the build file holding the
    // duplicated covered row's original copy
    assert(rewritten == 3, s"rewrote $rewritten files, want 3")
    val post = PersistedStore.fsck(spark, dir).collect()
    assert(post.forall(_.getAs[Boolean]("ok")),
      s"post-repair fsck must be green: ${post.mkString(" | ")}")
    // every clean pre-injection file is byte-identical (length+mtime);
    // only the dup's source file was legitimately rewritten
    val after = files()
    before.foreach { case (p, sig) =>
      if (p != dupSrcFile)
        assert(after.get(p).contains(sig), s"clean file $p was touched")
    }
    // probe results are exactly the clean store's
    val probe = Dedup.incrementalMinhashIndexed(dir, corpus, batch,
      "doc_id", "text").collect().map(_.toString).sorted.toSeq
    assert(probe == cleanProbe, "repair must restore probe results")
    // idempotent
    assert(PersistedStore.repair(spark, dir) == ((0L, 0)),
      "second repair must be a no-op")
    // a MISSING band partition is refused loudly — restore territory
    val fs = new org.apache.hadoop.fs.Path(s"$dir/buckets")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/buckets/band=3"), true)
    graft.operators.StoreMaintenance.refreshPath(spark, s"$dir/buckets")
    val e = intercept[IllegalArgumentException] {
      PersistedStore.repair(spark, dir)
    }
    assert(e.getMessage.contains("missing band"),
      s"expected the missing-band guard: ${e.getMessage.take(120)}")
  }


  test("lshRecallSweep: one shared truth, per-setting rows equal the " +
      "single-setting lshRecall, recall non-decreasing in bands") {
    val sweep = Dedup.lshRecallSweep(docs, "doc_id", "text",
      bandsList = Seq(8, 16, 32)).collect()
    assert(sweep.map(_.getAs[Int]("bands")).toSeq == Seq(8, 16, 32))
    // n_truth is banding-independent: identical across rows
    assert(sweep.map(_.getAs[Long]("n_truth")).distinct.length == 1,
      "truth must not depend on the bands setting")
    // each row equals the single-setting report
    sweep.foreach { r =>
      val b = r.getAs[Int]("bands")
      val single = Dedup.lshRecall(docs, "doc_id", "text",
        bands = b).collect()(0)
      assert((r.getAs[Long]("n_truth"), r.getAs[Long]("n_found"),
          r.getAs[Double]("recall")) ==
        ((single.getAs[Long]("n_truth"), single.getAs[Long]("n_found"),
          single.getAs[Double]("recall"))),
        s"bands=$b sweep row drifted from lshRecall: $r vs $single")
    }
    // more bands = shorter band keys = more collisions: recall is
    // non-decreasing on the sf corpus
    val rec = sweep.map(_.getAs[Double]("recall")).toSeq
    assert(rec == rec.sorted, s"recall not monotone in bands: $rec")
    // a bands setting that does not divide perms is refused
    intercept[IllegalArgumentException] {
      Dedup.lshRecallSweep(docs, "doc_id", "text", bandsList = Seq(7))
    }
  }

  test("lshRecallSweepSlice: each row equals the single-setting " +
      "lshRecallSlice at that banding, the slice is real, and " +
      "knownCount yields the identical curve") {
    val target = 300L
    val sweep = Dedup.lshRecallSweepSlice(docs, "doc_id", "text",
      bandsList = Seq(8, 16, 32), sampleDocs = target).collect()
    assert(sweep.map(_.getAs[Int]("bands")).toSeq == Seq(8, 16, 32))
    assert(sweep.map(_.getAs[Long]("n_truth")).distinct.length == 1,
      "one shared sliced truth across the bandings")
    sweep.foreach { r =>
      val b = r.getAs[Int]("bands")
      val single = Dedup.lshRecallSlice(docs, "doc_id", "text",
        bands = b, sampleDocs = target).collect()(0)
      assert((r.getAs[Long]("n_truth"), r.getAs[Long]("n_found"),
          r.getAs[Double]("recall")) ==
        ((single.getAs[Long]("n_truth"), single.getAs[Long]("n_found"),
          single.getAs[Double]("recall"))),
        s"bands=$b slice-sweep row drifted from lshRecallSlice: " +
          s"$r vs $single")
    }
    // the slice is real at this target: sliced truth <= full truth
    val fullTruth = Dedup.lshRecallSweep(docs, "doc_id", "text",
      bandsList = Seq(16)).collect()(0).getAs[Long]("n_truth")
    assert(sweep.head.getAs[Long]("n_truth") <= fullTruth)
    // knownCount (catalog-served) reproduces the identical curve
    val viaKnown = Dedup.lshRecallSweepSlice(docs, "doc_id", "text",
      bandsList = Seq(8, 16, 32), sampleDocs = target,
      knownCount = Some(docs.count())).collect()
    assert(viaKnown.map(_.toString).toSeq ==
      sweep.map(_.toString).toSeq,
      "knownCount curve drifted from the counted curve")
    // a target >= the corpus is the full sweep
    val all = Dedup.lshRecallSweepSlice(docs, "doc_id", "text",
      bandsList = Seq(16), sampleDocs = docs.count() * 2).collect()
    val full = Dedup.lshRecallSweep(docs, "doc_id", "text",
      bandsList = Seq(16)).collect()
    assert(all.map(_.toString).toSeq == full.map(_.toString).toSeq)
  }

  test("lshRecallSlice: the sliced report EQUALS the full report over " +
      "the pre-filtered slice, and the slice is the C8 salted-hash " +
      "predicate") {
    val n = docs.count()
    val target = n / 2
    val sliced = Dedup.lshRecallSlice(docs, "doc_id", "text",
      sampleDocs = target, seed = 42L).collect()(0)
    // the C8 predicate at the derived fraction min(1, target/n) applied
    // by hand, then the FULL exact report
    val slice = docs.filter(Sampling.hashKey(col("doc_id"), 42L) <
      lit(Sampling.hexThreshold(math.min(1.0, target.toDouble / n))))
    val full = Dedup.lshRecall(slice, "doc_id", "text").collect()(0)
    assert(sliced.toString == full.toString,
      s"sliced $sliced != full-over-slice $full")
    // Sampling.docSlice keeps exactly the hand-filtered rows
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").as[Long].collect().sorted.toSeq
    assert(ids(Sampling.docSlice(docs, "doc_id", target, 42L)) == ids(slice))
    // the slice is real (strictly smaller than the corpus) and the
    // sliced truth is a subset of the corpus truth
    val base = Dedup.lshRecall(docs, "doc_id", "text").collect()(0)
    assert(slice.count() < n && slice.count() > 0)
    assert(sliced.getAs[Long]("n_truth") <= base.getAs[Long]("n_truth"))
    // a target >= the corpus adds no filter and is the full report
    assert(Sampling.docSlice(docs, "doc_id", n * 2, 42L) eq docs)
    val all = Dedup.lshRecallSlice(docs, "doc_id", "text",
      sampleDocs = n * 2).collect()(0)
    assert(all.toString == base.toString)
    // knownCount: a catalog-served count skips the corpus scan and
    // yields the IDENTICAL report (same integer -> same IEEE fraction)
    val viaKnown = Dedup.lshRecallSlice(docs, "doc_id", "text",
      sampleDocs = target, knownCount = Some(n)).collect()(0)
    assert(viaKnown.toString == sliced.toString,
      s"knownCount report $viaKnown != counted report $sliced")
    intercept[IllegalArgumentException] {
      Dedup.lshRecallSlice(docs, "doc_id", "text",
        knownCount = Some(0L)).collect()
    }
  }

  test("MinHash-LSH recall and probe verbs: eager driver jobs while " +
      "the frame is built stay within budget") {
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val batch = docs.filter(col("doc_id") % 10 === 0)
    val dir = java.nio.file.Files.createTempDirectory("lsh_jobs").toString
    Dedup.buildLshIndex(corpus, "doc_id", "text", dir)
    val counter = new graft.JobCounter(spark)
    val counts = try Seq(
      "lshRecallSlice" -> counter.jobs(Dedup.lshRecallSlice(docs,
        "doc_id", "text", sampleDocs = 300L)),
      "lshRecallSweepSlice" -> counter.jobs(Dedup.lshRecallSweepSlice(docs,
        "doc_id", "text", sampleDocs = 300L)),
      "lshIndexRecall" -> counter.jobs(Dedup.lshIndexRecall(dir, corpus,
        batch, "doc_id", "text")),
      "lshIndexRecallSlice" -> counter.jobs(Dedup.lshIndexRecallSlice(dir,
        corpus, batch, "doc_id", "text", sampleDocs = 30L)),
      "incrementalMinhashIndexed" -> counter.jobs(
        Dedup.incrementalMinhashIndexed(dir, corpus, batch, "doc_id", "text"))
    ) finally counter.close()
    spark.catalog.clearCache()
    // the jobs of the eager actions these verbs take at this scale
    // (store opens, the slice count, the probe's coverage check, the
    // sweep's truth checkpoint): one more means a stage went eager
    val budget = Map("lshRecallSlice" -> 2, "lshRecallSweepSlice" -> 8,
      "lshIndexRecall" -> 24, "lshIndexRecallSlice" -> 23,
      "incrementalMinhashIndexed" -> 20)
    counts.foreach { case (verb, n) =>
      assert(n <= budget(verb), s"$verb ran $n eager jobs: $counts") }
  }

  test("lshIndexRecall: report off the persisted store is exact, " +
      "found is a subset of truth, and a PURGED doc's pairs leave " +
      "the report (equal to a fresh build without it)") {
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val batch = docs.filter(col("doc_id") % 10 === 0)
    val dir = java.nio.file.Files.createTempDirectory("lsh_rec").toString
    Dedup.buildLshIndex(corpus, "doc_id", "text", dir)
    val r1 = Dedup.lshIndexRecall(dir, corpus, batch, "doc_id", "text")
      .collect()(0)
    val (t1, f1) = (r1.getAs[Long]("n_truth"), r1.getAs[Long]("n_found"))
    assert(t1 > 0 && f1 > 0 && f1 <= t1, s"report degenerate: $r1")
    assert(math.abs(r1.getAs[Double]("recall") - f1.toDouble / t1) < 1e-6)
    // the prefix-filtered truth equals a driver-side exact all-pairs
    // cross-set replay — two independent algorithms, one answer
    def sets(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"), Dedup.shingleHashes(col("text"), 3)
        .as("sh")).collect()
        .map(r => r.getLong(0) -> r.getSeq[Long](1).toSet)
    var expect = 0L
    for ((_, a) <- sets(corpus); (_, b) <- sets(batch)) {
      val inter = (a & b).size
      if (a.nonEmpty && b.nonEmpty &&
          inter.toDouble / (a.size + b.size - inter) >= 0.7) expect += 1L
    }
    assert(t1 == expect, s"prefix-filtered truth $t1 != naive $expect")
    // purge a corpus doc that participates in a FOUND pair
    val victim = Dedup.incrementalMinhashIndexed(dir, corpus, batch,
      "doc_id", "text").collect().head.getAs[Long]("corpus_id")
    assert(PersistedStore.remove(
      Seq(victim).toDF("doc_id"), "doc_id", dir) > 0L)
    val r2 = Dedup.lshIndexRecall(dir, corpus, batch, "doc_id", "text")
      .collect()(0)
    assert(r2.getAs[Long]("n_truth") < t1,
      "the purged doc's truth pairs must leave the report")
    // the purged store's report equals a FRESH build without the doc —
    // purge leaves no residue in either leg
    val fresh = java.nio.file.Files.createTempDirectory("lsh_rec2")
      .toString
    Dedup.buildLshIndex(corpus.filter(col("doc_id") =!= victim),
      "doc_id", "text", fresh)
    val rf = Dedup.lshIndexRecall(fresh, corpus, batch, "doc_id", "text")
      .collect()(0)
    assert(r2.toString == rf.toString,
      s"purged-store report $r2 != fresh-build report $rf")
  }

  test("lshIndexRecallSlice: the sliced report equals the full report " +
      "over the pre-filtered batch, saturates to lshIndexRecall, and " +
      "knownCount yields the identical report") {
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val batch = docs.filter(col("doc_id") % 10 === 0)
    val dir = java.nio.file.Files.createTempDirectory("lsh_recs").toString
    Dedup.buildLshIndex(corpus, "doc_id", "text", dir)
    val nBatch = batch.count()
    val target = nBatch / 2
    val sliced = Dedup.lshIndexRecallSlice(dir, corpus, batch,
      "doc_id", "text", sampleDocs = target).collect()(0)
    // the C8 predicate applied by hand, then the FULL report
    val p = math.min(1.0, target.toDouble / nBatch)
    val batchSlice = batch.filter(
      Sampling.hashKey(col("doc_id"), 42L) <
        lit(Sampling.hexThreshold(p)))
    assert(batchSlice.count() > 0 && batchSlice.count() < nBatch,
      "the slice must be a real subset")
    val full = Dedup.lshIndexRecall(dir, corpus, batchSlice,
      "doc_id", "text").collect()(0)
    assert(sliced.toString == full.toString,
      s"sliced $sliced != full-over-slice $full")
    // a target >= the batch is byte-identical to the full report
    val sat = Dedup.lshIndexRecallSlice(dir, corpus, batch,
      "doc_id", "text", sampleDocs = nBatch * 2).collect()(0)
    val base = Dedup.lshIndexRecall(dir, corpus, batch,
      "doc_id", "text").collect()(0)
    assert(sat.toString == base.toString)
    // knownCount: catalog-served batch count, identical report
    val viaKnown = Dedup.lshIndexRecallSlice(dir, corpus, batch,
      "doc_id", "text", sampleDocs = target,
      knownCount = Some(nBatch)).collect()(0)
    assert(viaKnown.toString == sliced.toString)
  }

  test("lshRecall boundary: a pair at exactly J = 0.7 lands in truth — " +
      "the prefix length and tau-scaled filters never round it out") {
    // k=1 shingles (single words): |A| = |B| = 17, 14 shared ->
    // J = 14 / 20 = 0.7 exactly
    val shared = (1 to 14).map(i => s"w$i")
    val a = shared ++ Seq("a1", "a2", "a3")
    val b = shared ++ Seq("b1", "b2", "b3")
    val docs2 = Seq((1L, a.mkString(" ")), (2L, b.mkString(" ")))
      .toDF("doc_id", "text")
    val r = Dedup.lshRecall(docs2, "doc_id", "text", k = 1,
      threshold = 0.7).collect()(0)
    assert(r.getAs[Long]("n_truth") == 1L,
      s"the exact-boundary pair must be in truth: $r")
    // and a pair strictly below stays out: 13 shared of 21 = 0.619
    val c = (1 to 13).map(i => s"w$i") ++ Seq("c1", "c2", "c3", "c4")
    val docs3 = Seq((1L, a.mkString(" ")), (3L, c.mkString(" ")))
      .toDF("doc_id", "text")
    val r3 = Dedup.lshRecall(docs3, "doc_id", "text", k = 1,
      threshold = 0.7).collect()(0)
    assert(r3.getAs[Long]("n_truth") == 0L,
      s"a below-threshold pair must stay out: $r3")
  }


  test("mergeLshIndexes: same-signature shard indexes merge into the " +
      "single-build bucket rows; a foreign signature is refused") {
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val half1 = corpus.filter(col("doc_id") % 2 === 0)
    val half2 = corpus.filter(col("doc_id") % 2 =!= 0)
    def build(rows: org.apache.spark.sql.DataFrame,
              bands: Int = 16): String = {
      val d = java.nio.file.Files.createTempDirectory("lsh_mrg").toString
      Dedup.buildLshIndex(rows, "doc_id", "text", d, bands = bands)
      d
    }
    val dirA = build(half1)
    val dirB = build(half2)
    val dirFull = build(corpus)
    assert(PersistedStore.merge(spark, dirA, Seq(dirB)) > 0L)
    def rows(d: String) = spark.read.parquet(s"$d/buckets")
      .select("band", "bkey", "corpus_id")
      .collect().map(_.toString).sorted.toSeq
    assert(rows(dirA) == rows(dirFull),
      "band keys are deterministic — merged rows must equal one build")
    assert(PersistedStore.fsck(spark, dirA).collect()
      .forall(_.getAs[Boolean]("ok")))
    // the merged index probes identically to the single build
    val batch = docs.filter(col("doc_id") % 10 === 0)
    def probe(d: String) = Dedup.incrementalMinhashIndexed(d, corpus,
      batch, "doc_id", "text").collect().map(_.toString).sorted.toSeq
    val got = probe(dirA)
    assert(got == probe(dirFull) && got.nonEmpty)
    val alien = build(half1, bands = 8)
    val e = intercept[IllegalArgumentException] {
      PersistedStore.merge(spark, dirFull, Seq(alien))
    }
    assert(e.getMessage.contains("DIFFERENT"))
  }

  test("lsh store total purge: every doc removed, the band tiling " +
      "stays, stats / fsck / probe answer empty instead of throwing, " +
      "and an append restores it") {
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val batch = docs.filter(col("doc_id") % 10 === 0)
    val dir = java.nio.file.Files.createTempDirectory("lsh_total").toString
    Dedup.buildLshIndex(corpus, "doc_id", "text", dir)
    def probe() = Dedup.incrementalMinhashIndexed(dir, corpus, batch,
      "doc_id", "text").collect().map(_.toString).sorted.toSeq
    val probeBefore = probe()
    assert(probeBefore.nonEmpty, "the sf batch should have near-dups")
    assert(PersistedStore.remove(corpus.select("doc_id"), "doc_id", dir) ==
      corpus.count() * 16)
    assert(PersistedStore.remove(corpus.select("doc_id"), "doc_id", dir) ==
      0L, "remove on an empty store must be a no-op")
    val st = PersistedStore.stats(spark, dir).collect()
    assert(st.length == 16 && st.forall(r =>
      r.getAs[Long]("n_rows") == 0L && r.getAs[Int]("n_files") == 0),
      s"every band dir stays, empty: ${st.mkString(" | ")}")
    assert(PersistedStore.fsck(spark, dir).collect()
      .forall(_.getAs[Boolean]("ok")), "an empty store is a clean store")
    assert(probe().isEmpty, "an empty store finds no candidates")
    Dedup.appendToLshIndex(corpus, "doc_id", "text", dir)
    assert(probe() == probeBefore, "append must restore a purged store")
  }

}
