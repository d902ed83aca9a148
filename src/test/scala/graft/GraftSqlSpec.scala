package graft

import org.apache.spark.sql.functions._

/** The operator-level SQL surface (GraftExtensions.tableFunctions): the
  * dedup / near-dup / compaction entry points callable from plain
  * `spark.sql`, resolving their table argument against the catalog.
  */
class GraftSqlSpec extends SparkSpec {
  import spark.implicits._

  override def beforeAll(): Unit = {
    super.beforeAll()
    GraftExtensions.register(spark)
  }

  test("graft_dedup_exact: SQL TVF matches the Scala operator") {
    sf("documents").createOrReplaceTempView("documents_v")
    val viaSql = spark.sql(
      "SELECT fp, keep_id, n_copies FROM " +
        "graft_dedup_exact('documents_v', 'doc_id', 'text')")
    val viaScala = operators.Dedup.exact(sf("documents"), "doc_id",
      md5(col("text")))
    assert(viaSql.count() == 500)
    assert(viaSql.except(viaScala).isEmpty &&
      viaScala.except(viaSql).isEmpty)
  }

  test("graft_minhash_pairs: SQL TVF matches Dedup.minhashLsh, " +
      "threshold argument honored") {
    sf("documents").createOrReplaceTempView("documents_v")
    val viaSql = spark.sql(
      "SELECT doc_a, doc_b, jaccard FROM " +
        "graft_minhash_pairs('documents_v', 'doc_id', 'text', 0.7)")
      .as[(Long, Long, Double)].collect().toSet
    val viaScala = operators.Dedup.minhashLsh(sf("documents"),
        "doc_id", "text", threshold = 0.7)
      .as[(Long, Long, Double)].collect().toSet
    assert(viaSql == viaScala && viaSql.nonEmpty)
    // threshold honored: looser is a superset, impossible is empty
    val loose = spark.sql(
      "SELECT doc_a, doc_b, jaccard FROM " +
        "graft_minhash_pairs('documents_v', 'doc_id', 'text', 0.3)")
      .as[(Long, Long, Double)].collect().toSet
    assert(viaSql.subsetOf(loose))
    assert(viaSql.forall(_._3 >= 0.7))
    val none = spark.sql(
      "SELECT * FROM graft_minhash_pairs('documents_v', 'doc_id', " +
        "'text', 1.01)")
    assert(none.count() == 0)
  }

  test("graft_interleave: SQL TVF equals Sampling.interleaveOrder " +
      "(weights parsed from the 'src:w' spec, seed honored)") {
    sf("documents").createOrReplaceTempView("documents_v")
    val wts = Seq("src0" -> 3, "src1" -> 2, "src2" -> 1)
    val viaSql = spark.sql(
      "SELECT ord, doc_id, source FROM graft_interleave(" +
        "'documents_v', 'doc_id', 'source', 'src0:3, src1:2, src2:1')")
      .as[(Long, Long, String)].collect().toSet
    val viaScala = operators.Sampling.interleaveOrder(sf("documents"),
        "doc_id", "source", wts)
      .select("ord", "doc_id", "source")
      .as[(Long, Long, String)].collect().toSet
    assert(viaSql == viaScala && viaSql.nonEmpty)
    // seed changes the in-stratum order
    val reseeded = spark.sql(
      "SELECT ord, doc_id, source FROM graft_interleave(" +
        "'documents_v', 'doc_id', 'source', 'src0:3,src1:2,src2:1', 7)")
      .as[(Long, Long, String)].collect().toSet
    assert(reseeded != viaSql, "a different seed must reorder")
    // malformed spec is loud
    val bad = intercept[Exception](spark.sql(
      "SELECT * FROM graft_interleave('documents_v', 'doc_id', " +
        "'source', 'src0-3')").collect())
    def rootMsg(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => Option(e.getMessage).getOrElse("")).mkString(" | ")
    assert(rootMsg(bad).contains("malformed weight entry"))
  }

  test("graft_anneal: SQL TVF equals Sampling.annealOrder (phases " +
      "parsed from the 'name=src:w@frac;...' spec)") {
    sf("documents").createOrReplaceTempView("documents_v")
    val phases = Seq(
      operators.Sampling.AnnealPhase("main",
        Seq("src0" -> 3, "src1" -> 1),
        Map("src0" -> 0.5, "src1" -> 0.5)),
      operators.Sampling.AnnealPhase("tail",
        Seq("src1" -> 2),
        Map("src1" -> 0.25)))
    val viaSql = spark.sql(
      "SELECT pos, doc_id, source, phase FROM graft_anneal(" +
        "'documents_v', 'doc_id', 'source', " +
        "'main=src0:3@0.5,src1:1@0.5; tail=src1:2@0.25')")
      .as[(Long, Long, String, String)].collect().toSet
    val viaScala = operators.Sampling.annealOrder(sf("documents"),
        "doc_id", "source", phases)
      .select("pos", "doc_id", "source", "phase")
      .as[(Long, Long, String, String)].collect().toSet
    assert(viaSql == viaScala && viaSql.nonEmpty)
    assert(viaSql.exists(_._4 == "main") && viaSql.exists(_._4 == "tail"),
      "both phases must schedule rows")
  }

  test("graft_knn_index_sq: SQL TVF equals searchSqIndex on a " +
      "persisted byte-codes store") {
    val emb = sf("embeddings")
    val dir = java.nio.file.Files.createTempDirectory("sql_sq").toString
    operators.Knn.buildSqIndex(emb, "vec_id", "embedding", dir, dim = 64)
    emb.createOrReplaceTempView("emb_v")
    emb.filter(col("vec_id") < 10).createOrReplaceTempView("embq_v")
    val viaSql = spark.sql(
      s"SELECT * FROM graft_knn_index_sq('$dir', 'embq_v', 'emb_v', " +
        "'vec_id', 'embedding', 5)").collect().map(_.toString).sorted
    val viaScala = operators.Knn.searchSqIndex(spark, dir,
        emb.filter(col("vec_id") < 10), "vec_id", "embedding",
        dim = 64, k = 5, corpus = emb)
      .collect().map(_.toString).sorted
    assert(viaSql.nonEmpty && viaSql.toSeq == viaScala.toSeq)
  }

  test("graft_compact: CALL-style TVF compacts a bulk dir and returns " +
      "the compacted cells") {
    val in = java.nio.file.Files.createTempDirectory("sql_cmp_in").toString
    val out = java.nio.file.Files.createTempDirectory("sql_cmp_out")
      .toString + "/out"
    // two puts per key at different ts — versions=1 keeps the newest
    val rows = Seq(
      (functions.BytesCodec.encodeLong(1L), "f", "q",
        "old".getBytes("UTF-8"), 4, 100L),
      (functions.BytesCodec.encodeLong(1L), "f", "q",
        "new".getBytes("UTF-8"), 4, 200L),
      (functions.BytesCodec.encodeLong(2L), "f", "q",
        "solo".getBytes("UTF-8"), 4, 100L))
      .toDF("rowkey", "family", "qualifier", "value", "key_type", "ts")
    val prepared = operators.BulkLoad.prepare(rows, buckets = 2,
      numPartitions = 2)
    operators.BulkLoad.writeHFiles(prepared, in, tsCol = Some("ts"),
      typeCol = Some("key_type"))
    val got = spark.sql(
      s"SELECT qualifier, value, ts FROM graft_compact('$in', '$out', 1)")
      .as[(String, Array[Byte], Long)].collect().toSeq
    assert(got.length == 2, s"expected 2 surviving cells, got $got")
    assert(got.map(g => new String(g._2, "UTF-8")).toSet ==
      Set("new", "solo"))
    // the rewrite really landed in outDir
    assert(operators.BulkLoad.readHFiles(spark, out).count() == 2)
  }

  test("graft_knn: SQL TVF matches Knn.lsh, max_query_id honored") {
    sf("embeddings").createOrReplaceTempView("embeddings_v")
    val viaSql = spark.sql(
      "SELECT query_id, rank, neighbor_id, cosine FROM " +
        "graft_knn('embeddings_v', 'vec_id', 'embedding', 64, 5)")
      .collect().map(_.toString).sorted.toSeq
    val viaScala = operators.Knn.lsh(sf("embeddings"),
        sf("embeddings").filter(col("vec_id") < 10),
        "vec_id", "embedding", dim = 64, k = 5)
      .collect().map(_.toString).sorted.toSeq
    assert(viaSql == viaScala && viaSql.nonEmpty)
    val narrow = spark.sql(
      "SELECT DISTINCT query_id FROM " +
        "graft_knn('embeddings_v', 'vec_id', 'embedding', 64, 5, 3)")
      .as[Long].collect().toSet
    assert(narrow == Set(0L, 1L, 2L))
  }

  test("graft_knn_index_search: SQL TVF equals searchIvfPqIndex on a " +
      "persisted index (dim self-served from the layout)") {
    val emb = sf("embeddings")
    val dir = java.nio.file.Files.createTempDirectory("sql_ivfpq").toString
    operators.Knn.buildIvfPqIndex(emb, "vec_id", "embedding", dir, dim = 64)
    emb.filter(col("vec_id") < 10)
      .createOrReplaceTempView("knn_queries_v")
    val viaSql = spark.sql(
      "SELECT query_id, rank, neighbor_id FROM " +
        s"graft_knn_index_search('$dir', 'knn_queries_v', 'vec_id', " +
        "'embedding', 5)")
      .collect().map(_.toString).sorted.toSeq
    val viaScala = operators.Knn.searchIvfPqIndex(spark, dir,
        emb.filter(col("vec_id") < 10), "vec_id", "embedding",
        dim = 64, k = 5)
      .select("query_id", "rank", "neighbor_id")
      .collect().map(_.toString).sorted.toSeq
    assert(viaSql == viaScala && viaSql.nonEmpty,
      s"TVF must equal the operator: ${viaSql.size} vs ${viaScala.size}")
    // n_probe is honored (narrower probe = possibly different rows,
    // but never an error and never more than k per query)
    val narrow = spark.sql(
      "SELECT * FROM graft_knn_index_search(" +
        s"'$dir', 'knn_queries_v', 'vec_id', 'embedding', 5, 1)")
    val counts = narrow.groupBy("query_id").count()
      .collect().map(_.getLong(1))
    assert(counts.nonEmpty && counts.forall(_ <= 5L))
  }

  test("graft_knn_index_range: SQL TVF equals rangeSearchIndexed on a " +
      "persisted index") {
    val emb = sf("embeddings")
    val dir = java.nio.file.Files.createTempDirectory("sql_ivfrng").toString
    operators.Knn.buildIvfPqIndex(emb, "vec_id", "embedding", dir, dim = 64)
    emb.createOrReplaceTempView("rng_corpus_v")
    emb.filter(col("vec_id") < 10)
      .createOrReplaceTempView("rng_queries_v")
    val viaSql = spark.sql(
      "SELECT query_id, neighbor_id, cosine FROM " +
        s"graft_knn_index_range('$dir', 'rng_queries_v', " +
        "'rng_corpus_v', 'vec_id', 'embedding', 0.25)")
      .collect().map(_.toString).sorted.toSeq
    val viaScala = operators.Knn.rangeSearchIndexed(spark, dir,
        emb.filter(col("vec_id") < 10), "vec_id", "embedding",
        dim = 64, tau = 0.25, corpus = emb)
      .collect().map(_.toString).sorted.toSeq
    assert(viaSql == viaScala && viaSql.nonEmpty,
      s"TVF must equal the operator: ${viaSql.size} vs ${viaScala.size}")
  }

  test("graft_chunk / graft_pack_ids: loader-family TVFs equal the " +
      "Scala operators under the frozen tokenizer") {
    sf("documents").createOrReplaceTempView("docs_loader_v")
    val merges = graft.operators.Bpe.frozenMerges
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"),
        graft.functions.bpe.encodeIds(col("text"), merges).as("_ids"))
    val chunkSql = spark.sql(
      "SELECT doc_id, chunk_idx, id_wsum FROM " +
        "graft_chunk('docs_loader_v', 'doc_id', 'text', 8, 6)")
      .collect().map(_.toString).sorted.toSeq
    val chunkScala = graft.operators.Packing.tokenChunks(
        ids(sf("documents")), "doc_id", "_ids", 8, 6)
      .select("doc_id", "chunk_idx", "id_wsum")
      .collect().map(_.toString).sorted.toSeq
    assert(chunkSql == chunkScala && chunkSql.nonEmpty)
    val packSql = spark.sql(
      "SELECT seq_id, n_tokens FROM " +
        "graft_pack_ids('docs_loader_v', 'doc_id', 'text', 2048)")
      .collect().map(_.toString).sorted.toSeq
    val packScala = graft.operators.Packing.packTokenIds(
        ids(sf("documents")), "doc_id", "_ids", 2048L)
      .select("seq_id", "n_tokens")
      .collect().map(_.toString).sorted.toSeq
    assert(packSql == packScala && packSql.nonEmpty)
  }

  test("graft_avg_hash / graft_char_entropy expression functions " +
      "match their kernels") {
    val r = spark.sql(
      "SELECT graft_avg_hash(encode('hello world hello', 'UTF-8')) AS h, " +
        "graft_char_entropy('abab') AS e").head()
    assert(r.getAs[Long]("h") ==
      graft.functions.MediaHashes.avgHash64(
        "hello world hello".getBytes("UTF-8")))
    assert(r.getAs[scala.collection.Seq[Long]]("e").toSeq ==
      Seq(4L, 2L, 1048576L))
  }

  test("graft_zorder_ranges: SQL TVF returns the kernel's covering " +
      "intervals, budget honored") {
    val viaSql = spark.sql(
      "SELECT * FROM graft_zorder_ranges(3, 10, 473500, 473599)")
      .collect().map(r => (r.getAs[Long]("z_start"), r.getAs[Long]("z_end")))
    assert(viaSql.toSeq ==
      graft.functions.ZOrderKernel.queryRanges(3, 10, 473500, 473599, 32))
    val capped = spark.sql(
      "SELECT * FROM graft_zorder_ranges(0, 63, 0, 63, 8)").count()
    assert(capped <= 8)
  }

  test("graft_bpe_tokens: CALL-style TVF trains and scores like the " +
      "Scala entry points") {
    sf("documents").createOrReplaceTempView("documents_v")
    val viaSql = spark.sql("SELECT * FROM " +
      "graft_bpe_tokens('documents_v', 'doc_id', 'text', 8)")
    val merges = operators.Bpe.train(sf("documents"), "text", 8)
    val viaScala = operators.Bpe.tokenStats(sf("documents"), "doc_id",
      "text", merges)
    assert(viaSql.except(viaScala).isEmpty &&
      viaScala.except(viaSql).isEmpty && viaSql.count() == 500)
  }

  test("graft_text_quality / graft_text_entropy TVFs match the " +
      "Scala operators") {
    sf("documents").createOrReplaceTempView("documents_v")
    val q = spark.sql("SELECT * FROM " +
      "graft_text_quality('documents_v', 'doc_id', 'text')")
    assert(q.except(operators.TextOps.quality(
      sf("documents"), "doc_id", "text")).isEmpty && q.count() == 500)
    val e = spark.sql("SELECT * FROM " +
      "graft_text_entropy('documents_v', 'doc_id', 'text')")
    assert(e.except(operators.TextOps.entropy(
      sf("documents"), "doc_id", "text")).isEmpty && e.count() == 500)
  }

  test("graft_bpe_ids / graft_bpe_count scalar functions equal the " +
      "encode kernel, including under a saved artifact's merges") {
    sf("documents").createOrReplaceTempView("documents_v")
    val viaSql = spark.sql(
      "SELECT doc_id, graft_bpe_ids(text) AS ids, " +
        "graft_bpe_count(text) AS n FROM documents_v")
      .as[(Long, Seq[Int], Long)].collect().sortBy(_._1)
    val viaScala = sf("documents")
      .select(col("doc_id"),
        functions.bpe.encodeIds(col("text"),
          operators.Bpe.frozenMerges).as("ids"),
        functions.bpe.tokenCount(col("text"),
          operators.Bpe.frozenMerges).as("n"))
      .as[(Long, Seq[Int], Long)].collect().sortBy(_._1)
    assert(viaSql.toSeq == viaScala.toSeq)
    assert(viaSql.forall { case (_, ids, n) => ids.length == n })
    // the artifact-dir variant encodes under a DIFFERENT (shorter)
    // merge list and must visibly diverge from the frozen vocab
    val dir = java.nio.file.Files.createTempDirectory("bpe_art").toString
    operators.Bpe.saveMerges(spark,
      operators.Bpe.frozenMerges.take(4), dir)
    val viaArt = spark.sql(
      s"SELECT sum(graft_bpe_count(text, '$dir')) FROM documents_v")
      .as[Long].head()
    val expArt = sf("documents")
      .select(sum(functions.bpe.tokenCount(col("text"),
        operators.Bpe.frozenMerges.take(4)))).as[Long].head()
    assert(viaArt == expArt)
    assert(viaArt > viaSql.map(_._3).sum,
      "fewer merges must mean more tokens")
    // trailing gpt2_ws=true: the GPT-2-exact whitespace mode through
    // SQL equals the kernel flag and the round trip stays exact.
    // Count sensitivity needs a WHITESPACE merge in the vocab (under
    // ws-free merges the modes are count-identical by construction —
    // byte-level symbols never cross the boundary either way), so pin
    // divergence under a ("20","20") artifact: a 4-space indent
    // segments [2020,2020] in the default fold but [2020,20]+[20,..]
    // under gpt2's run-minus-last split
    val wsDir = java.nio.file.Files.createTempDirectory("bpe_ws").toString
    operators.Bpe.saveMerges(spark, Seq(("20", "20")), wsDir)
    val gVia = spark.sql(
      s"SELECT graft_bpe_count('a    b', '$wsDir', true), " +
        s"graft_bpe_count('a    b', '$wsDir'), " +
        "graft_bpe_decode(graft_bpe_ids('    x = 1', true))")
      .as[(Long, Long, String)].head()
    assert(gVia._3 == "    x = 1", "gpt2 SQL round trip must be exact")
    val gScala = Seq("a    b").toDF("t")
      .select(functions.bpe.tokenCount(col("t"),
          Seq(("20", "20")), gpt2Ws = true),
        functions.bpe.tokenCount(col("t"), Seq(("20", "20"))))
      .as[(Long, Long)].head()
    assert((gVia._1, gVia._2) == gScala,
      s"SQL flag must reach the kernel: $gVia vs $gScala")
    assert(gVia._1 == 5L && gVia._2 == 4L,
      s"the two whitespace modes must differ under a ws merge: $gVia")
  }

  test("graft_bpe_decode: SQL detokenizer round-trips " +
      "graft_bpe_ids to the EXACT source text, ASCII and not") {
    sf("documents").createOrReplaceTempView("documents_dec_v")
    // whitespace-faithful pretokenization: the round trip is exact
    val bad = spark.sql(
      "SELECT count(*) FROM documents_dec_v WHERE " +
        "graft_bpe_decode(graft_bpe_ids(text)) <> text").as[Long].head()
    assert(bad == 0L, s"$bad docs failed the SQL round trip")
    // non-ASCII literal through the same SQL surface — spacing kept
    val got = spark.sql(
      "SELECT graft_bpe_decode(graft_bpe_ids('héllo 数据 мир'))")
      .as[String].head()
    assert(got == "héllo 数据 мир", s"got $got")
    // artifact-dir variant decodes under the artifact's (shorter)
    // merge list and still round-trips
    val dir = java.nio.file.Files.createTempDirectory("bpe_dec").toString
    operators.Bpe.saveMerges(spark,
      operators.Bpe.frozenMerges.take(4), dir)
    val gotArt = spark.sql(
      s"SELECT graft_bpe_decode(graft_bpe_ids('scan order', '$dir'), " +
        s"'$dir')").as[String].head()
    assert(gotArt == "scan order", s"got $gotArt")
  }

  test("graft_dedup_recall / graft_tokenizer_stats / graft_packing_stats: " +
      "report TVFs equal their Scala operators") {
    sf("documents").createOrReplaceTempView("documents_v")
    val r1 = spark.sql(
      "SELECT * FROM graft_dedup_recall('documents_v', 'doc_id', 'text')")
      .collect().map(_.toString).toSeq
    val e1 = graft.operators.Dedup.lshRecall(sf("documents"), "doc_id",
      "text").collect().map(_.toString).toSeq
    assert(r1 == e1, s"recall TVF drifted: $r1 vs $e1")
    val r2 = spark.sql(
      "SELECT * FROM graft_tokenizer_stats('documents_v', 'lang', 'text') " +
        "ORDER BY lang").collect().map(_.toString).toSeq
    val e2 = graft.queries.Pipeline.corpusTokenizerStats(sf("documents"))
      .collect().map(_.toString).toSeq
    assert(r2 == e2, s"tokenizer TVF drifted")
    val r3 = spark.sql(
      "SELECT * FROM graft_packing_stats('documents_v', 'doc_id', 'text') " +
        "ORDER BY seq_id").collect().map(_.toString).toSeq
    val e3 = graft.queries.Pipeline.packingStats(sf("documents"))
      .collect().map(_.toString).toSeq
    assert(r3 == e3, s"packing census TVF drifted")
    // a smaller budget produces more, fuller sequences
    val tight = spark.sql(
      "SELECT count(*) FROM graft_packing_stats('documents_v', 'doc_id', " +
        "'text', 256)").head().getLong(0)
    assert(tight > e3.length, "budget knob must change the cut")
    val r4 = spark.sql(
      "SELECT * FROM graft_length_stats('documents_v', 'source', 'text') " +
        "ORDER BY source").collect().map(_.toString).toSeq
    val e4 = graft.queries.Pipeline.corpusLengthStats(sf("documents"))
      .collect().map(_.toString).toSeq
    assert(r4 == e4, "length-stats TVF drifted")
    // the banding sweep TVF: full curve, and the absolute-slice
    // posture via the trailing sample_docs knob
    val r5 = spark.sql(
      "SELECT * FROM graft_dedup_recall_sweep('documents_v', 'doc_id', " +
        "'text')").collect().map(_.toString).toSeq
    val e5 = graft.operators.Dedup.lshRecallSweep(sf("documents"),
      "doc_id", "text").collect().map(_.toString).toSeq
    assert(r5 == e5, s"sweep TVF drifted: $r5 vs $e5")
    val r6 = spark.sql(
      "SELECT * FROM graft_dedup_recall_sweep('documents_v', 'doc_id', " +
        "'text', 300)").collect().map(_.toString).toSeq
    val e6 = graft.operators.Dedup.lshRecallSweepSlice(sf("documents"),
      "doc_id", "text", sampleDocs = 300L).collect()
      .map(_.toString).toSeq
    assert(r6 == e6, s"slice-sweep TVF drifted: $r6 vs $e6")
    // a negative sample_docs errors like the Scala API - it must not
    // silently fall back to the full-corpus quadratic sweep
    val neg = intercept[Exception] {
      spark.sql("SELECT * FROM graft_dedup_recall_sweep('documents_v', " +
        "'doc_id', 'text', -300)").collect()
    }
    assert(Iterator.iterate(neg: Throwable)(_.getCause)
      .takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" ")
      .contains("sample_docs must be >= 0"),
      s"negative sample_docs must refuse: ${neg.getMessage}")
  }


  test("graft_knn_index_fsck / graft_knn_index_stats: ops TVFs equal " +
      "the Scala maintenance reports") {
    val emb = sf("embeddings")
    val dir = java.nio.file.Files.createTempDirectory("sql_fsck").toString
    graft.operators.Knn.buildIvfPqIndex(emb, "vec_id", "embedding", dir,
      dim = 64)
    val f = spark.sql(s"SELECT * FROM graft_store_fsck('$dir') " +
      "ORDER BY check").collect().map(_.toString).toSeq
    val ef = graft.operators.PersistedStore.fsck(spark, dir)
      .orderBy("check").collect().map(_.toString).toSeq
    assert(f == ef && f.length == 6, "fsck TVF drifted")
    val s = spark.sql(s"SELECT * FROM graft_store_stats('$dir') " +
      "ORDER BY cell_id").collect().map(_.toString).toSeq
    val es = graft.operators.PersistedStore.stats(spark, dir)
      .collect().map(_.toString).toSeq
    assert(s == es && s.nonEmpty, "stats TVF drifted")
    emb.createOrReplaceTempView("drift_corpus_v")
    val d = spark.sql(s"SELECT * FROM graft_store_drift('$dir', " +
      "'drift_corpus_v', 'vec_id', 'embedding') ORDER BY cell_id")
      .collect().map(_.toString).toSeq
    val ed = graft.operators.Knn.ivfPqIndexDrift(spark, dir, emb,
      "vec_id", "embedding").collect().map(_.toString).toSeq
    assert(d == ed && d.nonEmpty, "drift TVF drifted")
    // advisor TVF parity (healthy store scored vs its own corpus: ok)
    val a = spark.sql(s"SELECT * FROM graft_store_advise('$dir', " +
      "'drift_corpus_v', 'vec_id', 'embedding')").collect()
    val ea = graft.operators.PersistedStore.advise(spark, dir, Some(emb),
      "vec_id", "embedding").collect().map(_.toString).toSeq
    assert(a.map(_.toString).toSeq == ea && a.length == 1 &&
      a.head.getAs[String]("action") == "ok", "advise TVF drifted")
  }


  test("graft_knn_index_compact / graft_knn_index_repair: CALL-style " +
      "maintenance from SQL — fragmented store compacts to one file " +
      "per cell, corrupted store repairs to an all-green fsck") {
    val emb = sf("embeddings")
    val dir = java.nio.file.Files.createTempDirectory("sql_mnt").toString
    graft.operators.Knn.buildIvfPqIndex(
      emb.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", dir,
      dim = 64)
    graft.operators.Knn.appendToIvfPqIndex(
      emb.filter(col("vec_id") % 2 === 1), "vec_id", "embedding", dir,
      dim = 64)
    val stats = spark.sql(
      s"SELECT * FROM graft_store_compact('$dir')").collect()
    assert(stats.nonEmpty && stats.forall(_.getAs[Int]("n_files") == 1),
      "CALL-style compact must leave one file per cell")
    // corrupt (a replayed append), then repair from SQL
    graft.operators.Knn.appendToIvfPqIndex(
      emb.filter(col("vec_id") < 5), "vec_id", "embedding", dir, dim = 64)
    assert(!graft.operators.PersistedStore.fsck(spark, dir).collect()
      .forall(_.getAs[Boolean]("ok")), "the replay must corrupt")
    val report = spark.sql(
      s"SELECT * FROM graft_store_repair('$dir')").collect()
    assert(report.length == 6 && report.forall(_.getAs[Boolean]("ok")),
      s"repair TVF must return an all-green fsck: ${report.mkString(" | ")}")
  }

  test("graft_lsh_index_*: the LSH store's lifecycle TVFs equal the " +
      "Scala verbs, and CALL-style compact defragments from SQL") {
    val docs = sf("documents")
    val dir = java.nio.file.Files.createTempDirectory("sql_lsh").toString
    graft.operators.Dedup.buildLshIndex(
      docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", dir)
    graft.operators.Dedup.appendToLshIndex(
      docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", dir)
    val f = spark.sql(s"SELECT * FROM graft_store_fsck('$dir') " +
      "ORDER BY check").collect().map(_.toString).toSeq
    val ef = graft.operators.PersistedStore.fsck(spark, dir)
      .orderBy("check").collect().map(_.toString).toSeq
    assert(f == ef && f.length == 4, "lsh fsck TVF drifted")
    val s = spark.sql(s"SELECT * FROM graft_store_stats('$dir') " +
      "ORDER BY band").collect()
    val es = graft.operators.PersistedStore.stats(spark, dir)
      .collect().map(_.toString).toSeq
    assert(s.map(_.toString).toSeq == es && s.nonEmpty,
      "lsh stats TVF drifted")
    assert(s.exists(_.getAs[Int]("n_files") > 1),
      "the append must fragment at least one band")
    val post = spark.sql(
      s"SELECT * FROM graft_store_compact('$dir')").collect()
    assert(post.nonEmpty && post.forall(_.getAs[Int]("n_files") == 1),
      "CALL-style lsh compact must leave one file per band")
    // advisor TVF parity on the healthy compacted store
    val adv = spark.sql(
      s"SELECT * FROM graft_store_advise('$dir')").collect()
    val eadv = graft.operators.PersistedStore.advise(spark, dir)
      .collect().map(_.toString).toSeq
    assert(adv.map(_.toString).toSeq == eadv && adv.length == 1 &&
      adv.head.getAs[String]("action") == "ok", "lsh advise TVF drifted")
    // CALL-style repair: inject a crashed-purge dup + torn doc, the
    // TVF repairs and returns an all-green fsck
    Seq((1234L, 8888L, 0), (4321L, 7777L, 1), (4321L, 7777L, 1))
      .toDF("bkey", "corpus_id", "band")
      .write.mode("append").partitionBy("band").parquet(s"$dir/buckets")
    assert(!graft.operators.PersistedStore.fsck(spark, dir).collect()
      .forall(_.getAs[Boolean]("ok")), "the injection must corrupt")
    val rep = spark.sql(
      s"SELECT * FROM graft_store_repair('$dir')").collect()
    assert(rep.length == 4 && rep.forall(_.getAs[Boolean]("ok")),
      s"repair TVF must return an all-green fsck: ${rep.mkString(" | ")}")
  }

  test("graft_sq_index_*: the SQ store's lifecycle TVFs equal the " +
      "Scala verbs, and CALL-style compact merges the small files") {
    val emb = sf("embeddings")
    val dir = java.nio.file.Files.createTempDirectory("sql_sq").toString
    graft.operators.Knn.buildSqIndex(
      emb.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", dir, 64)
    graft.operators.Knn.appendToSqIndex(
      emb.filter(col("vec_id") % 2 === 1), "vec_id", "embedding", dir, 64)
    val f = spark.sql(s"SELECT * FROM graft_store_fsck('$dir') " +
      "ORDER BY check").collect().map(_.toString).toSeq
    val ef = graft.operators.PersistedStore.fsck(spark, dir)
      .orderBy("check").collect().map(_.toString).toSeq
    assert(f == ef && f.length == 4, "sq fsck TVF drifted")
    val s = spark.sql(s"SELECT * FROM graft_store_stats('$dir')")
      .collect()
    val es = graft.operators.PersistedStore.stats(spark, dir)
      .collect().map(_.toString).toSeq
    assert(s.map(_.toString).toSeq == es && s.length == 1,
      "sq stats TVF drifted")
    assert(s.head.getAs[Long]("n_files") >= 2 &&
      s.head.getAs[Long]("n_small_files") >= 2,
      "the append must leave small files")
    emb.createOrReplaceTempView("sq_drift_corpus_v")
    val d = spark.sql(s"SELECT * FROM graft_store_drift('$dir', " +
      "'sq_drift_corpus_v', 'vec_id', 'embedding') ORDER BY j")
      .collect().map(_.toString).toSeq
    val ed = graft.operators.Knn.sqIndexDrift(spark, dir, emb,
      "embedding").collect().map(_.toString).toSeq
    assert(d == ed && d.nonEmpty, "sq drift TVF drifted")
    val post = spark.sql(
      s"SELECT * FROM graft_store_compact('$dir')").collect()
    assert(post.length == 1 && post.head.getAs[Long]("n_small_files") <= 1,
      s"CALL-style sq compact must merge the small files: ${post.head}")
    // row set unchanged by the SQL-driven compaction
    assert(post.head.getAs[Long]("n_codes") ==
      s.head.getAs[Long]("n_codes"))
    // advisor TVF parity on the healthy compacted store (drift scored
    // against the store's own corpus)
    val adv = spark.sql(s"SELECT * FROM graft_store_advise('$dir', " +
      "'sq_drift_corpus_v', 'vec_id', 'embedding')").collect()
    val eadv = graft.operators.PersistedStore.advise(spark, dir, Some(emb),
      "embedding").collect().map(_.toString).toSeq
    assert(adv.map(_.toString).toSeq == eadv && adv.length == 1,
      "sq advise TVF drifted")
    // CALL-style repair: inject a malformed row, the TVF repairs and
    // returns an all-green fsck
    Seq((9001L, Seq(1, 2))).toDF("neighbor_id", "codes")
      .write.mode("append").parquet(s"$dir/codes")
    assert(!graft.operators.PersistedStore.fsck(spark, dir).collect()
      .forall(_.getAs[Boolean]("ok")), "the injection must corrupt")
    val rep = spark.sql(
      s"SELECT * FROM graft_store_repair('$dir')").collect()
    assert(rep.length == 4 && rep.forall(_.getAs[Boolean]("ok")),
      s"repair TVF must return an all-green fsck: ${rep.mkString(" | ")}")
  }

  test("graft_{lsh,sq,knn}_index_merge: CALL-style shard merges from " +
      "SQL — merged rows equal the union, post-merge fsck returned") {
    val docs = sf("documents")
    val emb = sf("embeddings")
    // LSH: two same-signature shards, merged into the first
    val l1 = java.nio.file.Files.createTempDirectory("sqlm_l1").toString
    val l2 = java.nio.file.Files.createTempDirectory("sqlm_l2").toString
    graft.operators.Dedup.buildLshIndex(
      docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", l1)
    graft.operators.Dedup.buildLshIndex(
      docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", l2)
    val lr = spark.sql(
      s"SELECT * FROM graft_store_merge('$l1', '$l2')").collect()
    assert(lr.length == 4 && lr.forall(_.getAs[Boolean]("ok")),
      s"post-merge lsh fsck must be green: ${lr.mkString(" | ")}")
    val mergedDocs = spark.read.parquet(s"$l1/buckets")
      .select(countDistinct(col("corpus_id"))).as[Long].head()
    assert(mergedDocs == docs.count(),
      "merged index must hold every shard's docs")
    // SQ: shards under the SAME grid (build the second from the
    // first's sidecar corpus so grids coincide: same build corpus)
    val s1 = java.nio.file.Files.createTempDirectory("sqlm_s1").toString
    val s2 = java.nio.file.Files.createTempDirectory("sqlm_s2").toString
    graft.operators.Knn.buildSqIndex(emb, "vec_id", "embedding", s1, 64)
    // wipe s1's codes to half, build s2 over the other half under the
    // same grid by copying the grid sidecar
    graft.operators.PersistedStore.remove(
      emb.filter(col("vec_id") % 2 === 1).select("vec_id"), "vec_id", s1)
    graft.operators.Knn.buildSqIndex(emb, "vec_id", "embedding", s2, 64)
    graft.operators.PersistedStore.remove(
      emb.filter(col("vec_id") % 2 === 0).select("vec_id"), "vec_id", s2)
    val sr = spark.sql(
      s"SELECT * FROM graft_store_merge('$s1', '$s2')").collect()
    assert(sr.length == 4 && sr.forall(_.getAs[Boolean]("ok")),
      s"post-merge sq fsck must be green: ${sr.mkString(" | ")}")
    assert(spark.read.parquet(s"$s1/codes").count() == emb.count(),
      "merged sq store must hold every vector once")
    // KNN: srcs == dst is a no-op merge; the TVF still returns the
    // fsck report (the full shard-merge semantics are KnnSpec-pinned)
    val kd = java.nio.file.Files.createTempDirectory("sqlm_k").toString
    graft.operators.Knn.buildIvfPqIndex(emb, "vec_id", "embedding", kd,
      dim = 64)
    val kr = spark.sql(
      s"SELECT * FROM graft_store_merge('$kd', '$kd')").collect()
    assert(kr.length == 6 && kr.forall(_.getAs[Boolean]("ok")),
      s"no-op knn merge must return a green fsck: ${kr.mkString(" | ")}")
  }

  test("graft_decontaminate / graft_decontaminate_fuzzy: SQL TVFs " +
      "equal the Scala operators under the C12 split") {
    val docs = sf("documents")
    val isEval = col("doc_id") % 7 === 0 && col("doc_id") < 50000
    docs.filter(!isEval).createOrReplaceTempView("deco_train_v")
    docs.filter(isEval).createOrReplaceTempView("deco_eval_v")
    val exact = spark.sql("SELECT * FROM graft_decontaminate(" +
      "'deco_train_v', 'deco_eval_v', 'doc_id', 'text') ORDER BY doc_id")
      .collect().map(_.toString).toSeq
    val exactWant = operators.Dedup.decontaminate(docs.filter(!isEval),
        docs.filter(isEval), "doc_id", "text")
      .orderBy("doc_id").collect().map(_.toString).toSeq
    assert(exact == exactWant && exact.nonEmpty,
      "graft_decontaminate drifted from the Scala operator")
    val fuzzy = spark.sql("SELECT * FROM graft_decontaminate_fuzzy(" +
      "'deco_train_v', 'deco_eval_v', 'doc_id', 'text') ORDER BY doc_id")
      .collect().map(_.toString).toSeq
    val fuzzyWant = operators.Dedup.decontaminateFuzzy(
        docs.filter(!isEval), docs.filter(isEval), "doc_id", "text")
      .orderBy("doc_id").collect().map(_.toString).toSeq
    assert(fuzzy == fuzzyWant && fuzzy.nonEmpty,
      "graft_decontaminate_fuzzy drifted from the Scala operator")
  }

  test("graft_store_backup / graft_store_verify / graft_store_restore: " +
      "snapshot lifecycle from SQL, dry_run copies nothing") {
    val docs = sf("documents")
    val store = java.nio.file.Files.createTempDirectory("sqlbk").toString
    graft.operators.Dedup.buildLshIndex(docs, "doc_id", "text", store)
    val bk = java.nio.file.Files.createTempDirectory("sqlbk_s")
      .toString + "/snap"
    // dry run: nothing lands, the would-copy listing comes back
    val dry = spark.sql(
      s"SELECT * FROM graft_store_backup('$store', '$bk', true)").collect()
    assert(dry.length == 1 && dry.head.getAs[Boolean]("ok") &&
      dry.head.getAs[Long]("n_bad") > 0, s"dry listing: ${dry.toSeq}")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(bk)),
      "dry-run backup must not create the snapshot dir")
    val rep = spark.sql(
      s"SELECT * FROM graft_store_backup('$store', '$bk')").collect()
    assert(rep.length == 4 && rep.forall(_.getAs[Boolean]("ok")),
      s"backup TVF must return a green verification: ${rep.toSeq}")
    assert(rep.exists(_.getAs[String]("check") == "checksums_match"),
      "the verification must include the CRC32C row")
    // dry-run runs the SAME admission: a non-empty destination the
    // real call would refuse refuses in the preview too
    val dryRefuse = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_store_backup('$store', '$bk', true)")
    }
    assert(Iterator.iterate(dryRefuse: Throwable)(_.getCause)
      .takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" ")
      .contains("not empty"),
      "dry-run backup must refuse what the real call refuses")
    val viaScala = graft.operators.StoreMaintenance
      .verifyStoreBackup(spark, bk).collect().map(_.toString).toSeq
    assert(spark.sql(s"SELECT * FROM graft_store_verify('$bk')")
      .collect().map(_.toString).toSeq == viaScala, "verify TVF drifted")
    val dst = java.nio.file.Files.createTempDirectory("sqlbk_r")
      .toString + "/store"
    spark.sql(s"SELECT * FROM graft_store_restore('$bk', '$dst')")
      .collect()
    assert(spark.read.parquet(s"$dst/buckets").count() ==
      spark.read.parquet(s"$store/buckets").count(),
      "restored store must hold the snapshot's rows")
  }

  test("graft_store_backups / graft_store_prune: retention lifecycle " +
      "from SQL, dry_run honored, TVF parity with the Scala verbs") {
    val docs = sf("documents")
    val store = java.nio.file.Files.createTempDirectory("sqlbkr").toString
    graft.operators.Dedup.buildLshIndex(docs, "doc_id", "text", store)
    val parent = java.nio.file.Files.createTempDirectory("sqlbkr_p")
      .toString
    spark.sql(s"SELECT * FROM graft_store_backup('$store', '$parent/g1')")
      .collect()
    Thread.sleep(20)
    spark.sql(s"SELECT * FROM graft_store_backup('$store', '$parent/g2')")
      .collect()
    val cat = spark.sql(
      s"SELECT * FROM graft_store_backups('$parent')").collect()
    assert(cat.map(_.getAs[String]("snapshot")).toSeq == Seq("g2", "g1") &&
      cat.forall(_.getAs[Boolean]("verify_ok")), s"catalog: ${cat.toSeq}")
    val viaScala = graft.operators.StoreMaintenance
      .listStoreBackups(spark, parent).collect().map(_.toString).toSeq
    assert(cat.map(_.toString).toSeq == viaScala, "catalog TVF drifted")
    // dry_run prune: decisions only
    val dry = spark.sql(
      s"SELECT * FROM graft_store_prune('$parent', 1, true)").collect()
    assert(dry.exists(r => r.getAs[String]("snapshot") == "g1" &&
      r.getAs[String]("action") == "would_delete"), s"${dry.toSeq}")
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$parent/g1")), "dry_run must not delete")
    val pruned = spark.sql(
      s"SELECT * FROM graft_store_prune('$parent', 1)").collect()
    assert(pruned.exists(r => r.getAs[String]("snapshot") == "g1" &&
      r.getAs[String]("action") == "deleted"), s"${pruned.toSeq}")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$parent/g1")))
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$parent/g2")))
    // INCREMENTAL from SQL: base_dir as the optional third string arg
    val inc = spark.sql(s"SELECT * FROM graft_store_backup('$store', " +
      s"'$parent/g3', '$parent/g2')").collect()
    assert(inc.forall(_.getAs[Boolean]("ok")),
      s"incremental snapshot must verify green: ${inc.toSeq}")
    assert(inc.find(_.getAs[String]("check") == "manifest_valid").get
      .getAs[String]("detail").contains("carried"),
      "the store is unchanged since g2 - every file must carry")
    val viaScala2 = graft.operators.StoreMaintenance
      .verifyStoreBackup(spark, s"$parent/g3").collect()
      .map(_.toString).toSeq
    assert(inc.map(_.toString).toSeq == viaScala2)

    // chain census at TVF parity (VERDICT r17 #7): the catalog's
    // carried/physical/chain split is queryable from SQL over the
    // full+incremental pair
    def census() = spark.sql(
      s"SELECT snapshot, carried_files, carried_bytes, " +
        s"physical_bytes, base, chain_ok FROM " +
        s"graft_store_backups('$parent')").collect()
      .map(r => r.getAs[String]("snapshot") -> r).toMap
    val cat2 = census()
    assert(cat2("g2").getAs[Long]("carried_files") == 0L &&
      cat2("g2").getAs[String]("base") == null &&
      cat2("g2").getAs[Boolean]("chain_ok"),
      s"full snapshot census: ${cat2("g2")}")
    assert(cat2("g3").getAs[Long]("carried_files") > 0L &&
      cat2("g3").getAs[Long]("carried_bytes") > 0L &&
      cat2("g3").getAs[String]("base").endsWith("/g2") &&
      cat2("g3").getAs[Boolean]("chain_ok"),
      s"incremental census: ${cat2("g3")}")
    // logical census = carried + physical: a restore reproduces the
    // whole store whichever tree holds the bytes
    assert(cat2("g3").getAs[Long]("carried_bytes") +
      cat2("g3").getAs[Long]("physical_bytes") ==
      cat2("g2").getAs[Long]("carried_bytes") +
      cat2("g2").getAs[Long]("physical_bytes"))
    // break the chain: delete one physical holder file from the base —
    // the CATALOG must flag the dependent snapshot (chain_ok false,
    // the restore-would-refuse signal), not just the base itself
    import scala.jdk.CollectionConverters._
    val victim = {
      val s = java.nio.file.Files.walk(
        java.nio.file.Paths.get(s"$parent/g2"))
      try s.iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .filterNot(_.toString.contains("_backup_manifest"))
        .filterNot(_.getFileName.toString.startsWith("."))
        .next()
      finally s.close()
    }
    java.nio.file.Files.delete(victim)
    val cat3 = census()
    assert(!cat3("g3").getAs[Boolean]("chain_ok"),
      s"broken chain must flag the dependent snapshot: ${cat3("g3")}")
  }

  test("dry_run=true on the CALL-style maintenance TVFs: EXPLAIN-safe " +
      "(no mutation, current-state report), merge admission still " +
      "refuses incompatible shards") {
    def listing(dir: String): Seq[(String, Long)] = {
      import scala.jdk.CollectionConverters._
      val root = java.nio.file.Paths.get(dir)
      val s = java.nio.file.Files.walk(root)
      try s.iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .map(p => (root.relativize(p).toString,
          java.nio.file.Files.size(p))).toSeq.sorted
      finally s.close()
    }
    val emb = sf("embeddings")
    val docs = sf("documents")
    // SQ: fragmented store — dry-run compact reports the CURRENT
    // fragmentation and touches no file (EXPLAIN included)
    val sq = java.nio.file.Files.createTempDirectory("dry_sq").toString
    graft.operators.Knn.buildSqIndex(
      emb.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", sq, 64)
    graft.operators.Knn.appendToSqIndex(
      emb.filter(col("vec_id") % 2 === 1), "vec_id", "embedding", sq, 64)
    val before = listing(sq)
    spark.sql(s"EXPLAIN SELECT * FROM graft_store_compact('$sq', true)")
      .collect()
    val dryStats = spark.sql(
      s"SELECT * FROM graft_store_compact('$sq', true)").collect()
    assert(dryStats.length == 1 &&
      dryStats.head.getAs[Long]("n_small_files") >= 2,
      s"dry-run compact must report the CURRENT state: ${dryStats.head}")
    assert(listing(sq) == before,
      "dry-run sq compact (and its EXPLAIN) must not touch a file")
    // LSH: corrupted store — dry-run repair returns the failing fsck
    // and leaves the corruption in place; the real call then fixes it
    val lsh = java.nio.file.Files.createTempDirectory("dry_lsh").toString
    graft.operators.Dedup.buildLshIndex(docs, "doc_id", "text", lsh)
    Seq((4321L, 7777L, 1), (4321L, 7777L, 1))
      .toDF("bkey", "corpus_id", "band")
      .write.mode("append").partitionBy("band").parquet(s"$lsh/buckets")
    val lshBefore = listing(lsh)
    val dryRep = spark.sql(
      s"SELECT * FROM graft_store_repair('$lsh', true)").collect()
    assert(dryRep.exists(!_.getAs[Boolean]("ok")),
      "dry-run repair must report the corruption, not fix it")
    assert(listing(lsh) == lshBefore,
      "dry-run lsh repair must not touch a file")
    val realRep = spark.sql(
      s"SELECT * FROM graft_store_repair('$lsh')").collect()
    assert(realRep.forall(_.getAs[Boolean]("ok")),
      "the real repair after a dry run must still fix the store")
    // merge dry-run: compatible shards — dst row set unchanged;
    // incompatible shards — the admission check still refuses
    val l1 = java.nio.file.Files.createTempDirectory("dry_m1").toString
    val l2 = java.nio.file.Files.createTempDirectory("dry_m2").toString
    graft.operators.Dedup.buildLshIndex(
      docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", l1)
    graft.operators.Dedup.buildLshIndex(
      docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", l2)
    val m1Before = listing(l1)
    val dryMerge = spark.sql(
      s"SELECT * FROM graft_store_merge('$l1', '$l2', true)").collect()
    assert(dryMerge.forall(_.getAs[Boolean]("ok")) &&
      listing(l1) == m1Before,
      "dry-run merge must verify and move nothing")
    val l3 = java.nio.file.Files.createTempDirectory("dry_m3").toString
    graft.operators.Dedup.buildLshIndex(docs, "doc_id", "text", l3,
      bands = 8)
    val refuse = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_store_merge('$l1', '$l3', true)")
    }
    val chain = Iterator.iterate(refuse: Throwable)(_.getCause)
      .takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" ")
    assert(chain.contains("DIFFERENT"),
      s"dry-run merge must still refuse incompatible shards: $chain")
    // graft_compact dry-run: same cell rows the real rewrite produces,
    // and the out dir is never created
    val bulkIn = java.nio.file.Files.createTempDirectory("dry_bk").toString
    val rows = Seq(
      (functions.BytesCodec.encodeLong(1L), "f", "q",
        "old".getBytes("UTF-8"), 4, 100L),
      (functions.BytesCodec.encodeLong(1L), "f", "q",
        "new".getBytes("UTF-8"), 4, 200L),
      (functions.BytesCodec.encodeLong(2L), "f", "q",
        "solo".getBytes("UTF-8"), 4, 100L))
      .toDF("rowkey", "family", "qualifier", "value", "key_type", "ts")
    val prepared = operators.BulkLoad.prepare(rows, buckets = 2,
      numPartitions = 2)
    operators.BulkLoad.writeHFiles(prepared, bulkIn, tsCol = Some("ts"),
      typeCol = Some("key_type"))
    val outReal = java.nio.file.Files
      .createTempDirectory("dry_bo").toString + "/real"
    val outDry = java.nio.file.Files
      .createTempDirectory("dry_bo2").toString + "/never"
    val dryCells = spark.sql(s"SELECT qualifier, value, ts FROM " +
        s"graft_compact('$bulkIn', '$outDry', 1, true)")
      .as[(String, Array[Byte], Long)].collect()
      .map(g => (g._1, new String(g._2, "UTF-8"), g._3)).toSet
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(outDry)),
      "dry-run graft_compact must not create the out dir")
    val realCells = spark.sql(s"SELECT qualifier, value, ts FROM " +
        s"graft_compact('$bulkIn', '$outReal', 1)")
      .as[(String, Array[Byte], Long)].collect()
      .map(g => (g._1, new String(g._2, "UTF-8"), g._3)).toSet
    assert(dryCells == realCells && dryCells.nonEmpty,
      s"dry-run graft_compact must return the WOULD-BE compacted " +
        s"cells: dry=$dryCells real=$realCells")
  }

}
