package graft.operators

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** Crash-safety of the flat-store compaction journal
  * ([[StoreMaintenance.compactFlat]] / [[StoreMaintenance.recoverFlat]])
  * — the FoldEconomicsSpec worst-window discipline for the SQ-style
  * codes dir: every intermediate state a crash can leave is
  * MANUFACTURED on disk exactly as the protocol would leave it, then
  * the open-time sweep must restore an exact row set (no duplicates,
  * no loss) and remove the journal.
  */
class StoreMaintenanceSpec extends SparkSpec {
  import spark.implicits._

  private def freshStore(batches: Int = 4,
                         rowsPerBatch: Int = 50): (String, Set[Long]) = {
    val dir = java.nio.file.Files.createTempDirectory("flat_store")
      .toString
    (0 until batches).foreach { b =>
      (0 until rowsPerBatch).map(i => (b * 1000L + i, s"v$b-$i"))
        .toDF("id", "payload")
        .coalesce(1).write.mode("append").parquet(dir)
    }
    val want = spark.read.parquet(dir).select("id").as[Long]
      .collect().toSet
    (dir, want)
  }

  private def fs(dir: String) = new Path(dir)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def readIds(dir: String): Seq[Long] =
    spark.read.parquet(dir).select("id").as[Long].collect().toSeq

  private def writeLines(dir: String, name: String,
                         lines: Seq[String]): Unit = {
    val out = fs(dir).create(new Path(dir, s"_compact_tmp/$name"), true)
    out.write(lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    out.close()
  }

  test("compactFlat: end-to-end — small files merge, rows exact, " +
      "journal gone, rerun is a no-op") {
    val (dir, want) = freshStore()
    val before = StoreMaintenance.dataFiles(spark, new Path(dir))
    assert(before.size == 4)
    val (n, fb, fa) = StoreMaintenance.compactFlat(spark, dir,
      minBytes = 1L << 20)
    assert(n == 4 && fb == 4L && fa == 1L)
    assert(readIds(dir).sorted == want.toSeq.sorted, "row set unchanged")
    assert(readIds(dir).size == want.size, "no duplicates")
    assert(!fs(dir).exists(new Path(dir, "_compact_tmp")),
      "journal removed on success")
    val (n2, _, _) = StoreMaintenance.compactFlat(spark, dir, 1L << 20)
    assert(n2 == 0, "rerun finds nothing to compact")
  }

  test("recoverFlat: crash BEFORE the staged.done marker rolls back — " +
      "store reads the original rows, journal swept") {
    val (dir, want) = freshStore()
    val sources = StoreMaintenance.dataFiles(spark, new Path(dir))
      .map(_._1.toString)
    // manufacture the mid-staging state: journal + partial staged
    // output, NO marker (publishing cannot have started)
    writeLines(dir, "sources.list", sources)
    spark.read.parquet(sources.head)
      .write.mode("overwrite").parquet(s"$dir/_compact_tmp/staged")
    assert(StoreMaintenance.recoverFlat(spark, dir), "repair reported")
    assert(readIds(dir).sorted == want.toSeq.sorted,
      "roll-back leaves the original row set")
    assert(!fs(dir).exists(new Path(dir, "_compact_tmp")))
    assert(!StoreMaintenance.recoverFlat(spark, dir), "sweep idempotent")
  }

  test("recoverFlat: crash MID-PUBLISH (marker present, staged files " +
      "remain) rolls back the published subset — no duplicate rows") {
    val (dir, want) = freshStore()
    val sources = StoreMaintenance.dataFiles(spark, new Path(dir))
      .map(_._1.toString)
    // stage the REAL combined output, journal it, publish ONE file,
    // leave the rest staged — the exact mid-publish crash frame
    spark.read.parquet(sources: _*).repartition(3)
      .write.mode("overwrite").parquet(s"$dir/_compact_tmp/staged")
    val staged = StoreMaintenance.dataFiles(spark,
      new Path(s"$dir/_compact_tmp/staged")).map(_._1)
    assert(staged.size == 3)
    val targets = staged.map(p => s"compact-${p.getName}")
    writeLines(dir, "sources.list", sources)
    writeLines(dir, "publish.list", targets)
    fs(dir).create(new Path(dir, "_compact_tmp/staged.done"), true).close()
    fs(dir).rename(staged.head, new Path(dir, targets.head))
    // a naive reader NOW would see duplicates; recovery must undo
    assert(StoreMaintenance.recoverFlat(spark, dir))
    val got = readIds(dir)
    assert(got.sorted == want.toSeq.sorted && got.size == want.size,
      "published subset rolled back: original rows, no dups")
    assert(!fs(dir).exists(new Path(dir, "_compact_tmp")))
  }

  test("recoverFlat: crash AFTER publish, MID-SOURCE-DELETE rolls " +
      "forward — combined rows only, no duplicates, no loss") {
    val (dir, want) = freshStore()
    val sources = StoreMaintenance.dataFiles(spark, new Path(dir))
      .map(_._1.toString)
    spark.read.parquet(sources: _*).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/_compact_tmp/staged")
    val staged = StoreMaintenance.dataFiles(spark,
      new Path(s"$dir/_compact_tmp/staged")).map(_._1)
    val targets = staged.map(p => s"compact-${p.getName}")
    writeLines(dir, "sources.list", sources)
    writeLines(dir, "publish.list", targets)
    fs(dir).create(new Path(dir, "_compact_tmp/staged.done"), true).close()
    staged.zip(targets).foreach { case (p, t) =>
      fs(dir).rename(p, new Path(dir, t))
    }
    // crash frame: publish complete, only ONE source deleted so far
    fs(dir).delete(new Path(sources.head), false)
    assert(StoreMaintenance.recoverFlat(spark, dir))
    val got = readIds(dir)
    assert(got.sorted == want.toSeq.sorted && got.size == want.size,
      "roll-forward finishes source deletion: exact combined rows")
    val left = StoreMaintenance.dataFiles(spark, new Path(dir))
    assert(left.size == 1 && left.head._1.getName.startsWith("compact-"),
      "only the published combined file remains")
  }

  test("compactSqIndex: a crashed mid-publish compaction is swept by " +
      "the store's own open paths — search answers are unaffected") {
    val dim = 8
    val corpus = (0L until 60L).map { i =>
      (i, Array.tabulate(dim)(j => math.sin(i * 31 + j).toFloat))
    }.toDF("id", "vec")
    val dir = java.nio.file.Files.createTempDirectory("sq_crash")
      .toString
    Knn.buildSqIndex(corpus, "id", "vec", dir, dim)
    // fragment the store with two appends, then manufacture the
    // mid-publish crash frame against the REAL codes dir
    val extra = (100L until 130L).map { i =>
      (i, Array.tabulate(dim)(j => math.cos(i * 17 + j).toFloat))
    }.toDF("id", "vec")
    Knn.appendToSqIndex(extra, "id", "vec", dir, dim)
    val codesDir = s"$dir/codes"
    val sources = StoreMaintenance.dataFiles(spark, new Path(codesDir))
      .map(_._1.toString)
    val wantRows = spark.read.parquet(codesDir).count()
    spark.read.parquet(sources: _*).coalesce(1)
      .write.mode("overwrite").parquet(s"$codesDir/_compact_tmp/staged")
    val staged = StoreMaintenance.dataFiles(spark,
      new Path(s"$codesDir/_compact_tmp/staged")).map(_._1)
    val targets = staged.map(p => s"compact-${p.getName}")
    writeLines(codesDir, "sources.list", sources)
    writeLines(codesDir, "publish.list", targets)
    fs(codesDir).create(
      new Path(codesDir, "_compact_tmp/staged.done"), true).close()
    fs(codesDir).rename(staged.head, new Path(codesDir, targets.head))
    // the next open (fsck here) must sweep, then see exact rows
    val fsck = PersistedStore.fsck(spark, dir)
    assert(fsck.filter(!col("ok")).count() == 0,
      "post-recovery store is clean")
    assert(spark.read.parquet(codesDir).count() == wantRows,
      "no duplicate / missing code rows after recovery")
  }

  test("copyFilesDistributed: bytes land byte-identical at every " +
      "target, parents auto-created, rerun idempotent, listings fresh") {
    val srcDir = java.nio.file.Files.createTempDirectory("cp_src")
    val dstDir = java.nio.file.Files.createTempDirectory("cp_dst").toString
    val rnd = new scala.util.Random(7L)
    val pairs = (0 until 9).map { i =>
      val p = srcDir.resolve(s"f$i.parquet")
      val bytes = new Array[Byte](100 + rnd.nextInt(5000))
      rnd.nextBytes(bytes)
      java.nio.file.Files.write(p, bytes)
      // nested targets: parent dirs must be created by the copy
      (p.toString, s"$dstDir/part=${i % 3}/merge0-f$i.parquet")
    }
    assert(StoreMaintenance.copyFilesDistributed(spark, pairs,
      filesPerTask = 2) == 9L)
    pairs.foreach { case (s, d) =>
      val a = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s))
      val b = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(d))
      assert(java.util.Arrays.equals(a, b), s"$d differs from $s")
    }
    // rerun (a task retry) converges: same targets, same bytes
    assert(StoreMaintenance.copyFilesDistributed(spark, pairs) == 9L)
    assert(java.nio.file.Files.list(java.nio.file.Paths.get(dstDir))
      .count() == 3, "exactly the three partition dirs")
  }

  test("compactPartitioned: a fragmented partition whose files hold " +
      "zero rows is deleted outright, not re-reported forever") {
    val dir = java.nio.file.Files.createTempDirectory("part_store")
      .toString
    Seq((1, 10L), (1, 11L), (2, 20L)).toDF("cell", "v")
      .write.partitionBy("cell").mode("overwrite").parquet(dir)
    // manufacture a fragmented EMPTY partition: two zero-row files
    val empty = Seq.empty[(Int, Long)].toDF("cell", "v").coalesce(1)
    val deadDir = s"$dir/cell=9"
    empty.select(col("v")).write.mode("append").parquet(deadDir)
    empty.select(col("v")).write.mode("append").parquet(deadDir)
    assert(StoreMaintenance.dataFiles(spark, new Path(deadDir)).size == 2)
    val (n1, _, _) = StoreMaintenance.compactPartitioned(spark, dir,
      "cell", maxFilesPerPartition = 1)
    assert(n1 >= 1, "the dead partition counts as compacted work")
    assert(!fs(dir).exists(new Path(deadDir)),
      "zero-row fragmented partition is deleted")
    assert(spark.read.parquet(dir).count() == 3, "live rows unchanged")
    val (n2, _, _) = StoreMaintenance.compactPartitioned(spark, dir,
      "cell", maxFilesPerPartition = 1)
    assert(n2 == 0, "rerun reports nothing — the leak is closed")
  }

  test("backup/verify/restore: a corrupted store restores byte-count-" +
      "identical with search parity; tampered backups refuse; " +
      "non-empty destinations refuse") {
    val emb = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val store = java.nio.file.Files.createTempDirectory("bk_sq").toString
    Knn.buildSqIndex(emb, "vec_id", "embedding", store, 64)
    val q = emb.filter(col("vec_id") < 5)
    def search(dir: String) = Knn.searchSqIndex(spark, dir, q,
        "vec_id", "embedding", 64, 5, corpus = emb)
      .collect().map(_.toString).sorted.toSeq
    val wantSearch = search(store)
    val wantFiles = StoreMaintenance.allFiles(spark, new Path(store))
    // snapshot
    val bk = java.nio.file.Files.createTempDirectory("bk_snap")
      .toString + "/snap"
    val nCopied = StoreMaintenance.backupStore(spark, store, bk)
    assert(nCopied == wantFiles.size.toLong)
    assert(StoreMaintenance.verifyStoreBackup(spark, bk).collect()
      .forall(_.getAs[Boolean]("ok")), "fresh snapshot must verify")
    // a second backup into the same dir refuses (never overwrites)
    val again = intercept[IllegalArgumentException] {
      StoreMaintenance.backupStore(spark, store, bk)
    }
    assert(again.getMessage.contains("not empty"))
    // backing up a SNAPSHOT works: the inner manifest is excluded
    // (re-manifested by the outer backup), so the second-generation
    // snapshot verifies green and restores the same store files
    val bk2 = java.nio.file.Files.createTempDirectory("bk_snap2")
      .toString + "/snap2"
    StoreMaintenance.backupStore(spark, bk, bk2)
    assert(StoreMaintenance.verifyStoreBackup(spark, bk2).collect()
      .forall(_.getAs[Boolean]("ok")),
      "a backup of a backup must verify green")
    assert(StoreMaintenance.allFiles(spark, new Path(bk2))
      .filterNot(_._1.startsWith("_backup_manifest/")) == wantFiles,
      "the second-generation snapshot holds exactly the store files")
    // destroy the live store: drop a codes file + inject garbage
    val f = StoreMaintenance.dataFiles(spark,
      new Path(s"$store/codes")).head._1
    fs(store).delete(f, false)
    Seq((9999L, Seq(1, 2))).toDF("neighbor_id", "codes")
      .write.mode("append").parquet(s"$store/codes")
    spark.catalog.refreshByPath(s"$store/codes")
    assert(!PersistedStore.fsck(spark, store).collect()
      .forall(_.getAs[Boolean]("ok")), "the damage must register")
    // restore into a fresh dir: same files, same sizes, same answers
    val restored = java.nio.file.Files.createTempDirectory("bk_rest")
      .toString + "/store"
    assert(StoreMaintenance.restoreStore(spark, bk, restored) ==
      wantFiles.size.toLong)
    assert(StoreMaintenance.allFiles(spark, new Path(restored)) ==
      wantFiles, "restored tree must list identically to the snapshot")
    assert(search(restored) == wantSearch,
      "the restored store must answer exactly like the original")
    assert(PersistedStore.fsck(spark, restored).collect()
      .forall(_.getAs[Boolean]("ok")))
    // restore refuses a non-empty destination
    val overLive = intercept[IllegalArgumentException] {
      StoreMaintenance.restoreStore(spark, bk, restored)
    }
    assert(overLive.getMessage.contains("not empty"))
    // tamper with the snapshot: verification flags it, restore refuses
    val victim = StoreMaintenance.dataFiles(spark,
      new Path(s"$bk/codes")).head._1
    fs(bk).delete(victim, false)
    val report = StoreMaintenance.verifyStoreBackup(spark, bk).collect()
    assert(report.exists(r => r.getAs[String]("check") == "files_present"
      && !r.getAs[Boolean]("ok")), s"tamper must flag: ${report.toSeq}")
    val refuse = intercept[IllegalArgumentException] {
      StoreMaintenance.restoreStore(spark, bk,
        java.nio.file.Files.createTempDirectory("bk_r2").toString + "/x")
    }
    assert(refuse.getMessage.contains("fails verification"))
  }

  test("verify checksums: a SIZE-PRESERVING bit-flip in a snapshot " +
      "passes presence+size but fails the deep CRC32C check, and " +
      "restore refuses it") {
    val (store, _) = freshStore(batches = 2)
    val bk = java.nio.file.Files.createTempDirectory("bk_crc")
      .toString + "/snap"
    StoreMaintenance.backupStore(spark, store, bk)
    assert(StoreMaintenance.verifyStoreBackup(spark, bk).collect()
      .forall(_.getAs[Boolean]("ok")), "fresh snapshot verifies deep")
    // flip ONE byte in the middle of a data file, keeping its length —
    // the tamper class a (rel_path, bytes) manifest cannot see
    val victim = StoreMaintenance.dataFiles(spark, new Path(bk)).head._1
    val local = java.nio.file.Paths.get(victim.toUri.getPath)
    val bytes = java.nio.file.Files.readAllBytes(local)
    bytes(bytes.length / 2) = (bytes(bytes.length / 2) ^ 0xFF).toByte
    java.nio.file.Files.write(local, bytes)
    val shallow = StoreMaintenance
      .verifyStoreBackup(spark, bk, deep = false).collect()
    assert(shallow.forall(_.getAs[Boolean]("ok")),
      s"shallow verify is blind to a same-size flip: ${shallow.toSeq}")
    val deep = StoreMaintenance.verifyStoreBackup(spark, bk).collect()
    val crcRow = deep.find(_.getAs[String]("check") == "checksums_match").get
    assert(!crcRow.getAs[Boolean]("ok") && crcRow.getAs[Long]("n_bad") == 1L,
      s"deep verify must flag the flipped file: ${deep.toSeq}")
    assert(deep.filter(r => r.getAs[String]("check") != "checksums_match")
      .forall(_.getAs[Boolean]("ok")),
      "presence/size/stray rows stay green - the flip is content-only")
    val refuse = intercept[IllegalArgumentException] {
      StoreMaintenance.restoreStore(spark, bk,
        java.nio.file.Files.createTempDirectory("bk_crc_r").toString + "/x")
    }
    assert(refuse.getMessage.contains("fails verification"))
  }

  test("backup round-trips file names with spaces and percent signs " +
      "(the store-agnostic contract invites arbitrary names)") {
    val store = java.nio.file.Files.createTempDirectory("bk_names")
      .toString
    val weird = Seq("with space.parquet", "pct%20name.parquet",
      "plus+sign.parquet")
    weird.foreach { n =>
      val out = fs(store).create(new Path(store, n), true)
      out.write(s"payload of $n".getBytes("UTF-8")); out.close()
    }
    val listed = StoreMaintenance.allFiles(spark, new Path(store))
    assert(listed.map(_._1).sorted == weird.sorted,
      s"listing must return DECODED names, got ${listed.map(_._1)}")
    val bk = java.nio.file.Files.createTempDirectory("bk_names_s")
      .toString + "/snap"
    StoreMaintenance.backupStore(spark, store, bk)
    assert(StoreMaintenance.verifyStoreBackup(spark, bk).collect()
      .forall(_.getAs[Boolean]("ok")))
    val restored = java.nio.file.Files.createTempDirectory("bk_names_r")
      .toString + "/store"
    StoreMaintenance.restoreStore(spark, bk, restored)
    weird.foreach { n =>
      val p = new Path(restored, n)
      assert(fs(restored).exists(p), s"restored name mangled: $n")
      val in = fs(restored).open(p)
      val buf = new Array[Byte](256)
      val k = in.read(buf); in.close()
      assert(new String(buf, 0, k, "UTF-8") == s"payload of $n",
        s"restored content wrong for $n")
    }
  }

  test("incremental backup: unchanged files carry by manifest " +
      "reference (not re-copied), verify checks them at the base, " +
      "restore reassembles the full state, a tampered base flags, " +
      "and prune keeps referenced bases") {
    val (store, want0) = freshStore(batches = 4)
    val parent = java.nio.file.Files.createTempDirectory("bk_incr")
      .toString
    // s0: an old full snapshot nothing references (prune fodder)
    StoreMaintenance.backupStore(spark, store, s"$parent/s0")
    Thread.sleep(20)
    // s1: the full base (4 data files + the writer's _SUCCESS marker)
    assert(StoreMaintenance.backupStore(spark, store, s"$parent/s1")
      == 5L)
    Thread.sleep(20)
    // mutate the store by pure file-add (the store contract), then s2
    // incremental on s1: 4 untouched data files carry; the new data
    // file AND the _SUCCESS marker copy (Spark's committer REWRITES
    // _SUCCESS in place on append — its mtime moves, and the carry
    // identity is (rel_path, bytes, mtime), so an in-place rewrite
    // re-copies instead of silently carrying stale bytes)
    Seq((9000L, "v-new")).toDF("id", "payload")
      .coalesce(1).write.mode("append").parquet(store)
    val copied = StoreMaintenance.backupStore(spark, store,
      s"$parent/s2", base = Some(s"$parent/s1"))
    assert(copied == 2L,
      s"the new file + rewritten _SUCCESS copy, got $copied")
    // physically, s2 holds the delta; logically, six
    val physical = StoreMaintenance.allFiles(spark, new Path(s"$parent/s2"))
      .filterNot(_._1.startsWith("_backup_manifest/"))
    assert(physical.size == 2, s"s2 must hold only the delta: $physical")
    val manifest = spark.read.parquet(s"$parent/s2/_backup_manifest/*.parquet")
    assert(manifest.count() == 6)
    assert(manifest.filter(col("src").isNotNull).count() == 4,
      "the four unchanged data files carry by reference")
    assert(StoreMaintenance.verifyStoreBackup(spark, s"$parent/s2")
      .collect().forall(_.getAs[Boolean]("ok")),
      "incremental snapshot verifies deep green via the base")
    // restore reassembles the full point-in-time state
    val restored = java.nio.file.Files.createTempDirectory("bk_incr_r")
      .toString + "/store"
    assert(StoreMaintenance.restoreStore(spark, s"$parent/s2", restored)
      == 6L)
    assert(spark.read.parquet(restored).select("id").as[Long]
      .collect().toSet == want0 + 9000L,
      "restored rows must be the live store's state at snapshot time")
    // prune keep=1: s2 retained (newest), s1 kept as its physical
    // holder, s0 deleted
    val pruned = StoreMaintenance
      .pruneStoreBackups(spark, parent, keep = 1).collect()
    val actionOf = pruned.map(r =>
      r.getAs[String]("snapshot") -> r.getAs[String]("action")).toMap
    assert(actionOf == Map("s2" -> "kept", "s1" -> "kept",
      "s0" -> "deleted"), s"prune decisions: ${pruned.toSeq}")
    assert(pruned.find(_.getAs[String]("snapshot") == "s1").get
      .getAs[String]("reason").contains("physical holder"))
    // after pruning, the incremental still restores
    val r2 = java.nio.file.Files.createTempDirectory("bk_incr_r2")
      .toString + "/store"
    assert(StoreMaintenance.restoreStore(spark, s"$parent/s2", r2) == 6L)
    // tamper the BASE: the incremental's verify must flag and refuse
    val victim = StoreMaintenance.dataFiles(spark,
      new Path(s"$parent/s1")).head._1
    fs(parent).delete(victim, false)
    val rep = StoreMaintenance.verifyStoreBackup(spark, s"$parent/s2")
      .collect()
    assert(rep.exists(r => r.getAs[String]("check") == "files_present"
      && !r.getAs[Boolean]("ok")),
      s"a tampered base must flag the incremental: ${rep.toSeq}")
    intercept[IllegalArgumentException] {
      StoreMaintenance.restoreStore(spark, s"$parent/s2",
        java.nio.file.Files.createTempDirectory("bk_incr_r3")
          .toString + "/x")
    }
    // a base that is not a snapshot refuses up front
    intercept[IllegalArgumentException] {
      StoreMaintenance.backupStore(spark, store, s"$parent/s9",
        base = Some(store))
    }
    // backing up an INCREMENTAL snapshot refuses: copying its physical
    // delta alone would silently lose the carried rows
    val e = intercept[IllegalArgumentException] {
      StoreMaintenance.backupStore(spark, s"$parent/s2",
        java.nio.file.Files.createTempDirectory("bk_incr_o")
          .toString + "/outer")
    }
    assert(e.getMessage.contains("INCREMENTAL snapshot"), e.getMessage)
  }

  test("listStoreBackups chain census: a full snapshot reports zero " +
      "carried; an incremental splits carried vs physical bytes, " +
      "names its base, and chain_ok goes false when the base loses " +
      "a carried file") {
    val (store, _) = freshStore(batches = 3)
    val parent = java.nio.file.Files.createTempDirectory("bk_census")
      .toString
    StoreMaintenance.backupStore(spark, store, s"$parent/f1")
    Thread.sleep(20)
    Seq((9100L, "v-x")).toDF("id", "payload")
      .coalesce(1).write.mode("append").parquet(store)
    StoreMaintenance.backupStore(spark, store, s"$parent/f2",
      base = Some(s"$parent/f1"))
    val cat = StoreMaintenance.listStoreBackups(spark, parent).collect()
      .map(r => r.getAs[String]("snapshot") -> r).toMap
    val full = cat("f1")
    assert(full.getAs[Long]("carried_files") == 0L &&
      full.getAs[Long]("carried_bytes") == 0L,
      s"a full snapshot reports zero carried: $full")
    assert(full.isNullAt(full.fieldIndex("base")), "full has no base")
    assert(full.getAs[Boolean]("chain_ok") && full.getAs[Boolean]("verify_ok"))
    assert(full.getAs[Long]("physical_bytes") == full.getAs[Long]("bytes"),
      "a full snapshot stores every logical byte itself")
    val inc = cat("f2")
    // the census is LOGICAL: 3 carried data files + the re-copied
    // _SUCCESS + the new data file
    assert(inc.getAs[Long]("n_files") == 5L, s"logical census: $inc")
    assert(inc.getAs[Long]("carried_files") == 3L)
    assert(inc.getAs[Long]("carried_bytes") +
      inc.getAs[Long]("physical_bytes") == inc.getAs[Long]("bytes"),
      "carried + physical must partition the logical bytes")
    assert(inc.getAs[Long]("carried_bytes") > 0L &&
      inc.getAs[Long]("physical_bytes") > 0L)
    val qf1 = fs(parent).makeQualified(new Path(s"$parent/f1")).toString
    assert(inc.getAs[String]("base") == qf1,
      s"base must name the physical holder: ${inc.getAs[String]("base")}")
    assert(inc.getAs[Boolean]("chain_ok"))
    // delete a carried file at the base: the incremental's chain
    // breaks — chain_ok false is the column an operator reads BEFORE
    // deleting a parent dir
    val victim = StoreMaintenance.dataFiles(spark,
      new Path(s"$parent/f1")).head._1
    fs(parent).delete(victim, false)
    val cat2 = StoreMaintenance.listStoreBackups(spark, parent).collect()
      .map(r => r.getAs[String]("snapshot") -> r).toMap
    assert(!cat2("f2").getAs[Boolean]("chain_ok") &&
      !cat2("f2").getAs[Boolean]("verify_ok"),
      s"a broken chain must surface in the census: ${cat2("f2")}")
    assert(cat2("f1").getAs[Boolean]("chain_ok"),
      "a full snapshot's chain_ok stays true (nothing to chain) even " +
        "when its own files_present fails")
  }

  test("pruneStoreBackups age axis: deletion requires beyond-count " +
      "AND beyond-age; age-only keeps everything young; dry_run " +
      "honored; TVF passthrough") {
    val (store, _) = freshStore(batches = 2)
    val parent = java.nio.file.Files.createTempDirectory("bk_age")
      .toString
    StoreMaintenance.backupStore(spark, store, s"$parent/a1")
    Thread.sleep(20)
    StoreMaintenance.backupStore(spark, store, s"$parent/a2")
    Thread.sleep(20)
    StoreMaintenance.backupStore(spark, store, s"$parent/a3")
    val hour = 3600L * 1000L
    // age-only posture (keep=1 + cutoff): everything is younger than
    // an hour, so nothing beyond the count may be deleted
    val young = StoreMaintenance.pruneStoreBackups(spark, parent,
      keep = 1, olderThanMs = Some(hour)).collect()
    assert(young.forall(_.getAs[String]("action") == "kept"),
      s"young snapshots survive the count axis: ${young.toSeq}")
    assert(young.filter(_.getAs[String]("snapshot") != "a3")
      .forall(_.getAs[String]("reason").contains("younger")),
      s"the age guard must say why: ${young.toSeq}")
    // age a1 beyond the cutoff (completion stamp = manifest FILE
    // mtimes — the object-store-safe ordering listStoreBackups uses)
    val old = System.currentTimeMillis() - 2 * hour
    val mdir = new Path(s"$parent/a1/_backup_manifest")
    fs(parent).listStatus(mdir).filter(_.isFile)
      .foreach(st => fs(parent).setTimes(st.getPath, old, -1))
    // dry_run first: decision reported, nothing deleted
    val dry = StoreMaintenance.pruneStoreBackups(spark, parent,
      keep = 1, dryRun = true, olderThanMs = Some(hour)).collect()
    assert(dry.find(_.getAs[String]("snapshot") == "a1").get
      .getAs[String]("action") == "would_delete", s"${dry.toSeq}")
    assert(fs(parent).exists(new Path(parent, "a1")))
    // both axes: a1 (beyond count AND age) deletes; a2 (beyond count,
    // young) survives; a3 within count
    val both = StoreMaintenance.pruneStoreBackups(spark, parent,
      keep = 1, olderThanMs = Some(hour)).collect()
    val actionOf = both.map(r =>
      r.getAs[String]("snapshot") -> r.getAs[String]("action")).toMap
    assert(actionOf == Map("a3" -> "kept", "a2" -> "kept",
      "a1" -> "deleted"), s"${both.toSeq}")
    assert(!fs(parent).exists(new Path(parent, "a1")))
    // SQL surface: older_than_ms as the optional third numeric arg
    val viaSql = spark.sql(
      s"SELECT * FROM graft_store_prune('$parent', 1, ${hour}, true)")
      .collect()
    assert(viaSql.find(_.getAs[String]("snapshot") == "a2").get
      .getAs[String]("reason").contains("younger"),
      s"TVF must thread the age cutoff: ${viaSql.toSeq}")
  }

  test("incremental carry identity includes mtime: a same-name " +
      "same-size in-place rewrite between base and snapshot is " +
      "RE-COPIED, never carried as stale bytes") {
    val store = java.nio.file.Files.createTempDirectory("bk_mt").toString
    def put(name: String, payload: String): Unit = {
      val out = fs(store).create(new Path(store, name), true)
      out.write(payload.getBytes("UTF-8")); out.close()
    }
    put("stable.bin", "payload-A-0123456789")
    put("mutant.bin", "payload-B-0123456789")
    val parent = java.nio.file.Files.createTempDirectory("bk_mt_p")
      .toString
    StoreMaintenance.backupStore(spark, store, s"$parent/m1")
    // the in-place rewrite the pure-file-add contract forbids: same
    // name, SAME byte count, different content (mtime moved past the
    // local FS's stamp granularity so the clock actually ticks)
    Thread.sleep(20)
    put("mutant.bin", "payload-C-9876543210")
    val copied = StoreMaintenance.backupStore(spark, store,
      s"$parent/m2", base = Some(s"$parent/m1"))
    assert(copied == 1L,
      s"the rewritten file must re-copy, the stable one carries: $copied")
    val manifest = spark.read.parquet(s"$parent/m2/_backup_manifest/*.parquet")
      .collect().map(r => r.getAs[String]("rel_path") ->
        (r.getAs[String]("src") == null)).toMap
    assert(manifest("mutant.bin") && !manifest("stable.bin"),
      s"mutant stored physically, stable carried: $manifest")
    // restore serves the REWRITTEN content, not the base's stale copy
    val restored = java.nio.file.Files.createTempDirectory("bk_mt_r")
      .toString + "/store"
    StoreMaintenance.restoreStore(spark, s"$parent/m2", restored)
    val in = fs(restored).open(new Path(restored, "mutant.bin"))
    val buf = new Array[Byte](64)
    val k = in.read(buf); in.close()
    assert(new String(buf, 0, k, "UTF-8") == "payload-C-9876543210",
      "restore must carry the rewrite, not the stale base bytes")
  }

  test("verifyCarryCrc: an in-place rewrite hidden INSIDE the mtime " +
      "granularity window (same name, size, and stamp) carries stale " +
      "bytes by default — the documented best-effort gap — and is " +
      "demoted to a re-copy under the CRC cross-check") {
    val store = java.nio.file.Files.createTempDirectory("bk_crc").toString
    def put(name: String, payload: String): Unit = {
      val out = fs(store).create(new Path(store, name), true)
      out.write(payload.getBytes("UTF-8")); out.close()
    }
    put("stable.bin", "payload-A-0123456789")
    put("mutant.bin", "payload-B-0123456789")
    val parent = java.nio.file.Files.createTempDirectory("bk_crc_p")
      .toString
    StoreMaintenance.backupStore(spark, store, s"$parent/c1")
    // the worst case a coarse-mtime FS can produce: rewrite the file
    // and PIN its stamp back to the base's recorded value, so the
    // (rel_path, bytes, mtime) identity matches despite new bytes
    val baseMt = spark.read.parquet(s"$parent/c1/_backup_manifest/*.parquet")
      .collect().map(r => r.getAs[String]("rel_path") ->
        r.getAs[Long]("mtime_ms")).toMap
    put("mutant.bin", "payload-C-9876543210")
    fs(store).setTimes(new Path(store, "mutant.bin"),
      baseMt("mutant.bin"), -1)
    // default: identity matches, the rewrite carries STALE bytes —
    // exactly the gap the scaladoc documents (soundness rests on the
    // pure-file-add contract, mtime is best-effort)
    val carried = StoreMaintenance.backupStore(spark, store,
      s"$parent/c2", base = Some(s"$parent/c1"))
    assert(carried == 0L,
      s"pinned-mtime rewrite must carry under the default: $carried")
    // verifyCarryCrc: the live re-hash catches it and re-copies
    val recopied = StoreMaintenance.backupStore(spark, store,
      s"$parent/c3", base = Some(s"$parent/c1"), verifyCarryCrc = true)
    assert(recopied == 1L,
      s"CRC cross-check must demote exactly the rewrite: $recopied")
    val m3 = spark.read.parquet(s"$parent/c3/_backup_manifest/*.parquet")
      .collect().map(r => r.getAs[String]("rel_path") ->
        (r.getAs[String]("src") == null)).toMap
    assert(m3("mutant.bin") && !m3("stable.bin"),
      s"mutant stored physically, stable still carries: $m3")
    // and the demoted copy serves the REWRITTEN bytes on restore
    val restored = java.nio.file.Files.createTempDirectory("bk_crc_r")
      .toString + "/store"
    StoreMaintenance.restoreStore(spark, s"$parent/c3", restored)
    val in = fs(restored).open(new Path(restored, "mutant.bin"))
    val buf = new Array[Byte](64)
    val k = in.read(buf); in.close()
    assert(new String(buf, 0, k, "UTF-8") == "payload-C-9876543210")
  }

  test("incremental base must share the destination's parent dir — " +
      "a base elsewhere sits outside prune's chain-holder guard and " +
      "refuses up front") {
    val (store, _) = freshStore(batches = 1)
    val parentA = java.nio.file.Files.createTempDirectory("bk_xp_a")
      .toString
    val parentB = java.nio.file.Files.createTempDirectory("bk_xp_b")
      .toString
    StoreMaintenance.backupStore(spark, store, s"$parentB/base")
    val e = intercept[IllegalArgumentException] {
      StoreMaintenance.backupStore(spark, store, s"$parentA/inc",
        base = Some(s"$parentB/base"))
    }
    assert(e.getMessage.contains("parent"), e.getMessage)
    // same parent admits (the control)
    StoreMaintenance.backupStore(spark, store, s"$parentB/inc",
      base = Some(s"$parentB/base"))
    assert(StoreMaintenance.verifyStoreBackup(spark, s"$parentB/inc")
      .collect().forall(_.getAs[Boolean]("ok")))
  }

  test("hand-chained 3-hop manifests: prune keeps the WHOLE chain " +
      "while any head is retained (fixpoint, not one hop); a hop " +
      "whose claimed holder lacks the bytes verifies red and refuses " +
      "restore") {
    val (store, _) = freshStore(batches = 2)
    val parent = java.nio.file.Files.createTempDirectory("bk_chain")
      .toString
    // s0: prune fodder. s1: a REAL full snapshot.
    StoreMaintenance.backupStore(spark, store, s"$parent/s0")
    Thread.sleep(20)
    StoreMaintenance.backupStore(spark, store, s"$parent/s1")
    Thread.sleep(20)
    val q = (n: String) =>
      fs(parent).makeQualified(new Path(s"$parent/$n")).toString
    // s2, s3: HAND-BUILT multi-hop manifests (backupStore itself
    // always flattens; prune's fixpoint defends against exactly this
    // shape): s2's rows claim s1 holds the bytes (true), s3's rows
    // claim s2 does (false — s2 is pure manifest)
    def handChain(name: String, src: String): Unit =
      spark.read.parquet(s"$parent/s1/_backup_manifest/*.parquet")
        .withColumn("src", lit(src))
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$parent/$name/_backup_manifest")
    handChain("s2", q("s1"))
    Thread.sleep(20)
    handChain("s3", q("s2"))
    // s2 verifies green (bytes present at s1); s3 red (s2 holds none)
    assert(StoreMaintenance.verifyStoreBackup(spark, s"$parent/s2")
      .collect().forall(_.getAs[Boolean]("ok")))
    val rep3 = StoreMaintenance.verifyStoreBackup(spark, s"$parent/s3")
      .collect()
    assert(rep3.exists(r => r.getAs[String]("check") == "files_present"
      && !r.getAs[Boolean]("ok")),
      s"a hop whose holder lacks the bytes must flag: ${rep3.toSeq}")
    intercept[IllegalArgumentException] {
      StoreMaintenance.restoreStore(spark, s"$parent/s3",
        java.nio.file.Files.createTempDirectory("bk_chain_r")
          .toString + "/x")
    }
    // prune keep=1 retains s3 (newest); the fixpoint must then hold
    // s2 (s3's claimed holder) AND s1 (s2's), while s0 deletes
    val pruned = StoreMaintenance
      .pruneStoreBackups(spark, parent, keep = 1).collect()
    val actionOf = pruned.map(r =>
      r.getAs[String]("snapshot") -> r.getAs[String]("action")).toMap
    assert(actionOf == Map("s3" -> "kept", "s2" -> "kept",
      "s1" -> "kept", "s0" -> "deleted"), s"${pruned.toSeq}")
    assert(fs(parent).exists(new Path(parent, "s1")) &&
      fs(parent).exists(new Path(parent, "s2")))
    // the chain's green member still restores after the sweep
    val r = java.nio.file.Files.createTempDirectory("bk_chain_r2")
      .toString + "/store"
    StoreMaintenance.restoreStore(spark, s"$parent/s2", r)
    assert(spark.read.parquet(r).count() ==
      spark.read.parquet(store).count())
  }

  test("an incremental whose base is itself incremental flattens to " +
      "one hop at backup time: every carried row's src physically " +
      "holds the bytes") {
    val (store, _) = freshStore(batches = 2)
    val parent = java.nio.file.Files.createTempDirectory("bk_flat")
      .toString
    StoreMaintenance.backupStore(spark, store, s"$parent/h1")
    Thread.sleep(20)
    Seq((9200L, "v-h2")).toDF("id", "payload")
      .coalesce(1).write.mode("append").parquet(store)
    StoreMaintenance.backupStore(spark, store, s"$parent/h2",
      base = Some(s"$parent/h1"))
    Thread.sleep(20)
    Seq((9300L, "v-h3")).toDF("id", "payload")
      .coalesce(1).write.mode("append").parquet(store)
    // base = h2, an INCREMENTAL: h3's carried rows must resolve to
    // the snapshot that PHYSICALLY holds each file (h1 for the
    // originals, h2 for its own delta) — never a second indirection
    StoreMaintenance.backupStore(spark, store, s"$parent/h3",
      base = Some(s"$parent/h2"))
    val rows = spark.read.parquet(s"$parent/h3/_backup_manifest/*.parquet")
      .filter(col("src").isNotNull)
      .select("rel_path", "src").collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(rows.nonEmpty, "h3 must carry something")
    val srcs = rows.map(_._2).distinct.toSet
    val qOf = (n: String) =>
      fs(parent).makeQualified(new Path(s"$parent/$n")).toString
    assert(srcs == Set(qOf("h1"), qOf("h2")),
      s"one-hop srcs must be the physical holders: $srcs")
    rows.foreach { case (rel, src) =>
      assert(fs(parent).exists(new Path(new Path(src), rel)),
        s"src $src must PHYSICALLY hold $rel (no chained indirection)")
    }
    // and the flattened chain restores the full point-in-time state
    val restored = java.nio.file.Files.createTempDirectory("bk_flat_r")
      .toString + "/store"
    StoreMaintenance.restoreStore(spark, s"$parent/h3", restored)
    assert(spark.read.parquet(restored).count() ==
      spark.read.parquet(store).count())
  }

  test("listStoreBackups + pruneStoreBackups: catalog newest-first; " +
      "retention keeps the newest N but never deletes the last green " +
      "snapshot; dry_run deletes nothing") {
    val (store, _) = freshStore(batches = 2)
    val parent = java.nio.file.Files.createTempDirectory("bk_ring")
      .toString
    StoreMaintenance.backupStore(spark, store, s"$parent/s1")
    Thread.sleep(20) // distinct manifest mtimes order the catalog
    StoreMaintenance.backupStore(spark, store, s"$parent/s2")
    Thread.sleep(20)
    StoreMaintenance.backupStore(spark, store, s"$parent/s3")
    fs(parent).mkdirs(new Path(parent, "not_a_snapshot"))
    val cat = StoreMaintenance.listStoreBackups(spark, parent).collect()
    assert(cat.map(_.getAs[String]("snapshot")).toSeq ==
      Seq("s3", "s2", "s1"), s"newest first: ${cat.toSeq}")
    assert(cat.forall(_.getAs[Boolean]("verify_ok")))
    assert(cat.forall(_.getAs[Long]("n_files") > 0L))
    // dry run: decisions reported, nothing deleted
    val dry = StoreMaintenance
      .pruneStoreBackups(spark, parent, keep = 1, dryRun = true).collect()
    assert(dry.count(_.getAs[String]("action") == "would_delete") == 2)
    assert(fs(parent).exists(new Path(parent, "s1")))
    // tear the two NEWEST snapshots (delete a manifested file): the
    // retained set would hold no green snapshot, so the sweep must
    // ALSO keep the newest green one (s1)
    Seq("s2", "s3").foreach { s =>
      val victim = StoreMaintenance.dataFiles(spark,
        new Path(s"$parent/$s")).head._1
      fs(parent).delete(victim, false)
    }
    val pruned = StoreMaintenance
      .pruneStoreBackups(spark, parent, keep = 1).collect()
    val actionOf = pruned.map(r =>
      r.getAs[String]("snapshot") -> r.getAs[String]("action")).toMap
    assert(actionOf("s3") == "kept", "newest stays within keep=1")
    assert(actionOf("s1") == "kept",
      s"the only green snapshot must survive: ${pruned.toSeq}")
    assert(actionOf("s2") == "deleted")
    assert(!fs(parent).exists(new Path(parent, "s2")))
    assert(fs(parent).exists(new Path(parent, "s1")))
    // with a green snapshot retained, older green ones DO prune
    val parent2 = java.nio.file.Files.createTempDirectory("bk_ring2")
      .toString
    StoreMaintenance.backupStore(spark, store, s"$parent2/a")
    Thread.sleep(20)
    StoreMaintenance.backupStore(spark, store, s"$parent2/b")
    val p2 = StoreMaintenance
      .pruneStoreBackups(spark, parent2, keep = 1).collect()
    assert(p2.map(r => r.getAs[String]("snapshot") ->
      r.getAs[String]("action")).toMap == Map("b" -> "kept", "a" -> "deleted"))
    intercept[IllegalArgumentException] {
      StoreMaintenance.pruneStoreBackups(spark, parent2, keep = 0)
    }
  }

  test("PersistedStore kind detection: each built store is recognized; " +
      "a dir with no store sidecar or with two kinds' sidecars is " +
      "refused naming the expected sidecars, through the verb and the " +
      "TVF; drift on an LSH store points at lshIndexRecall") {
    val emb = sf("embeddings")
    val docs = sf("documents")
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    val ivf = tmp("kind_ivf")
    Knn.buildIvfPqIndex(emb, "vec_id", "embedding", ivf, dim = 64)
    val sq = tmp("kind_sq")
    Knn.buildSqIndex(emb, "vec_id", "embedding", sq, dim = 64)
    val lsh = tmp("kind_lsh")
    Dedup.buildLshIndex(docs, "doc_id", "text", lsh)
    assert(PersistedStore.detect(spark, ivf) == PersistedStore.IvfPq)
    assert(PersistedStore.detect(spark, sq) == PersistedStore.Sq)
    assert(PersistedStore.detect(spark, lsh) == PersistedStore.Lsh)
    // each kind gets its own report, clean on a fresh build
    Seq(ivf -> 6, sq -> 4, lsh -> 4).foreach { case (d, n) =>
      val r = PersistedStore.fsck(spark, d).collect()
      assert(r.length == n && r.forall(_.getAs[Boolean]("ok")),
        s"fresh $d must fsck clean: ${r.mkString(" | ")}")
    }
    val none = tmp("kind_none")
    spark.read.parquet(s"$sq/codes").write.parquet(s"$none/codes")
    val two = tmp("kind_two")
    Dedup.buildLshIndex(docs, "doc_id", "text", two)
    spark.read.parquet(s"$sq/grid").write.parquet(s"$two/grid")
    def chain(e: Throwable): String = Iterator.iterate(e)(_.getCause)
      .takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" ")
    Seq(none, two).foreach { d =>
      val viaVerb = chain(intercept[IllegalArgumentException] {
        PersistedStore.fsck(spark, d)
      })
      val viaSql = chain(intercept[Exception] {
        spark.sql(s"SELECT * FROM graft_store_fsck('$d')").collect()
      })
      Seq(viaVerb, viaSql).foreach { m =>
        assert(m.contains("coarse + codebooks") && m.contains("grid") &&
          m.contains("params"), s"refusal must name the sidecars: $m")
      }
    }
    emb.createOrReplaceTempView("kind_corpus_v")
    val drift = chain(intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_store_drift('$lsh', " +
        "'kind_corpus_v', 'vec_id', 'embedding')").collect()
    })
    assert(drift.contains("lshIndexRecall"),
      s"LSH drift must point at lshIndexRecall: $drift")
  }

  test("a store handle sees rows appended after it was opened: IVF×PQ " +
      "and SQ8 search and the LSH probe find the ids the public append " +
      "verbs add") {
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    val Fresh = 1000000L
    // vector stores: built from the even ids; the odd queries' exact
    // copies, re-keyed past Fresh, arrive by append after the open
    val emb = sf("embeddings").select("vec_id", "embedding")
    val evens = emb.filter(col("vec_id") % 2 === 0)
    val queries = emb.filter(col("vec_id") % 2 === 1 && col("vec_id") < 60)
    val delta = queries.select((col("vec_id") + Fresh).as("vec_id"),
      col("embedding"))
    val corpus = evens.unionByName(delta)
    Seq[(String, String => Unit, String => Unit)](
      ("ivfpq",
        Knn.buildIvfPqIndex(evens, "vec_id", "embedding", _, dim = 64),
        Knn.appendToIvfPqIndex(delta, "vec_id", "embedding", _, dim = 64)),
      ("sq", Knn.buildSqIndex(evens, "vec_id", "embedding", _, dim = 64),
        Knn.appendToSqIndex(delta, "vec_id", "embedding", _, dim = 64))
    ).foreach { case (kind, build, append) =>
      val dir = tmp(s"handle_$kind")
      build(dir)
      val store = PersistedStore.open(spark, dir) match {
        case v: PersistedStore.VectorStore => v
        case other => fail(s"$kind opened as ${other.layout.kind}")
      }
      def copiesFound(): Long = store.search(spark, queries, "vec_id",
          "embedding", 5, corpus)
        .filter(col("neighbor_id") === col("query_id") + Fresh).count()
      assert(copiesFound() == 0L, s"$kind: nothing appended yet")
      append(dir)
      assert(copiesFound() == 30L, s"$kind: a search through the handle " +
        "opened before the append must find every appended copy")
    }
    // LSH: the odd docs' exact-text copies, re-keyed past Fresh
    val docs = sf("documents").select("doc_id", "text")
    val base = docs.filter(col("doc_id") % 2 === 0)
    val batch = docs.filter(col("doc_id") % 2 === 1 && col("doc_id") < 60)
    val moved = batch.select((col("doc_id") + Fresh).as("doc_id"),
      col("text"))
    val lsh = tmp("handle_lsh")
    Dedup.buildLshIndex(base, "doc_id", "text", lsh)
    val store = PersistedStore.Lsh.open(spark, lsh)
    def copiesFound(): Long = store
      .probe(base.unionByName(moved), batch, "doc_id", "text", 0.7)
      .filter(col("corpus_id") === col("batch_id") + Fresh).count()
    assert(copiesFound() == 0L, "lsh: nothing appended yet")
    Dedup.appendToLshIndex(moved, "doc_id", "text", lsh)
    assert(copiesFound() == 30L, "lsh: a probe through the handle opened " +
      "before the append must find every appended copy")
  }

}
