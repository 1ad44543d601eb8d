package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Round-11 snapshot-layer contracts: UTF-8 stats ordering, claim
  * liveness, vacuum scoping, stream-floor carry-forward, manifest row
  * counts, the big-delta merge, the merge change feed, schema
  * evolution, and the DSv2 write path.
  */
class SnapshotRound11Spec extends SparkSpec {

  private def tmpRoot(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_r11_$tag").toString + "/t"

  test("utf8Cmp orders supplementary-plane strings by UTF-8 bytes, " +
      "not UTF-16 code units") {
    val emoji = "😀" // U+1F600, UTF-8 F0 9F 98 80
    val fffd = "�"        // U+FFFD,  UTF-8 EF BF BD
    assert(emoji.compareTo(fffd) < 0)          // Java order: emoji first
    assert(SnapshotTable.utf8Cmp(emoji, fffd) > 0) // byte order: emoji last
    assert(SnapshotTable.utf8Cmp("a", "b") < 0)
    assert(SnapshotTable.utf8Cmp("ab", "a") > 0)
    assert(SnapshotTable.utf8Cmp("x", "x") == 0)
  }

  test("string-stats pruning never drops a file whose rows match — " +
      "supplementary-plane range that Java ordering would mis-prune") {
    import spark.implicits._
    val emoji = "😀x"
    val fffd = "�y"
    val root = tmpRoot("utf8")
    SnapshotTable.commit(Seq((emoji, 1L)).toDF("k", "v").coalesce(1),
      root, statsCol = Some("k")) // file A: min=max=emoji
    SnapshotTable.commit(Seq((fffd, 2L)).toDF("k", "v").coalesce(1),
      root, statsCol = Some("k")) // file B: min=max=fffd
    // range ["�", emoji]: valid in UTF-8 byte order (the domain
    // Spark's UTF8String filters in); Java ordering calls file A's
    // max < lo and would prune the emoji row away
    val got = SnapshotTable.readWhere(spark, root, 2L, "k", "�", emoji)
      .select("v").as[Long].collect().toSet
    assert(got == Set(1L, 2L))
  }

  test("an orphaned commit claim cannot wedge the table: fresh claims " +
      "block (conflict), stale ones are taken over after the TTL") {
    import spark.implicits._
    val root = tmpRoot("claim")
    SnapshotTable.commit(Seq(1L).toDF("v"), root) // v1
    val claim = new java.io.File(
      new java.net.URI(s"file:$root/_manifests/.claim-v2").getPath)
    assert(claim.createNewFile())
    // default TTL (10 min): the claim is presumed in-flight — conflict
    val e = intercept[IllegalStateException] {
      SnapshotTable.commit(Seq(2L).toDF("v"), root)
    }
    assert(e.getMessage.contains("conflict"))
    // past the TTL with no manifest: a crashed writer's orphan — the
    // next commit takes the claim over and succeeds
    spark.conf.set("graft.snapshot.claim.ttl.ms", "1")
    try {
      Thread.sleep(50)
      assert(SnapshotTable.commit(Seq(2L).toDF("v"), root) == 2L)
      assert(SnapshotTable.read(spark, root).as[Long].collect().toSet
        == Set(1L, 2L))
    } finally spark.conf.unset("graft.snapshot.claim.ttl.ms")
  }

  test("vacuum deletes ONLY files the expired manifests reference — an " +
      "in-flight commit's unreferenced data file survives; removeOrphans " +
      "is the age-gated sweep for crashed-commit garbage") {
    import spark.implicits._
    val root = tmpRoot("vac")
    SnapshotTable.commit(Seq(1L, 2L).toDF("v").coalesce(1), root) // v1
    SnapshotTable.commit(Seq(3L).toDF("v").coalesce(1), root)     // v2
    SnapshotTable.commit( // v3: compaction
      SnapshotTable.read(spark, root).coalesce(1), root, overwrite = true)
    // simulate a concurrent commit mid-publish: files moved into data/,
    // manifest not yet renamed
    val inflight = new java.io.File(
      new java.net.URI(s"file:$root/data/inflight-0.parquet").getPath)
    assert(inflight.createNewFile())
    val (nM, nD) = SnapshotTable.expireSnapshots(spark, root, keepLast = 1)
    assert(nM == 2, s"expired $nM manifests")
    assert(nD >= 2, s"deleted $nD data files") // v1+v2's rewritten files
    assert(inflight.exists(), "vacuum must not touch unreferenced files")
    assert(SnapshotTable.read(spark, root).as[Long].collect().toSet
      == Set(1L, 2L, 3L))
    // the orphan sweep: age-gated listing-based deletion
    Thread.sleep(50)
    assert(SnapshotTable.removeOrphans(spark, root, olderThanMs = 1) == 1)
    assert(!inflight.exists())
    assert(SnapshotTable.removeOrphans(spark, root,
      olderThanMs = 3600000L) == 0) // young files always survive
    assert(SnapshotTable.read(spark, root).as[Long].collect().toSet
      == Set(1L, 2L, 3L))
  }

  test("stream.* floors survive compaction AND expiration: the floor is " +
      "carried into every later manifest") {
    import spark.implicits._
    val root = tmpRoot("floor")
    SnapshotTable.commit(Seq(1L).toDF("v").coalesce(1), root,
      props = Map("stream.t.batch" -> "5"))
    SnapshotTable.commit( // compaction: no props of its own
      SnapshotTable.read(spark, root).coalesce(1), root, overwrite = true)
    SnapshotTable.expireSnapshots(spark, root, keepLast = 1)
    assert(SnapshotStreamSink.lastCommittedBatch(spark, root, "t") == 5L)
    // a fresh writer must skip the redelivered batch 5 and accept 6
    val w = SnapshotStreamSink.writer(root, "t")
    val cur = SnapshotTable.currentSnapshot(spark, root)
    w(Seq(99L).toDF("v"), 5L)
    assert(SnapshotTable.currentSnapshot(spark, root) == cur,
      "redelivered batch must not advance the table")
    w(Seq(100L).toDF("v"), 6L)
    assert(SnapshotTable.currentSnapshot(spark, root) == cur + 1)
  }

  test("rowCount answers from the manifest alone — correct with the " +
      "data directory DELETED (zero data-file reads, by construction)") {
    import spark.implicits._
    val root = tmpRoot("rc")
    SnapshotTable.commit(spark.range(1000).toDF("v").repartition(4), root)
    SnapshotTable.commit(spark.range(50).toDF("v").repartition(2), root)
    assert(SnapshotTable.rowCount(spark, root, 1L) == Some(1000L))
    assert(SnapshotTable.rowCount(spark, root, 2L) == Some(1050L))
    // the proof there is no hidden data read: remove the data files
    val dd = new java.io.File(new java.net.URI(s"file:$root/data").getPath)
    dd.listFiles().foreach(_.delete()); dd.delete()
    assert(SnapshotTable.rowCount(spark, root, 2L) == Some(1050L))
  }

  test("mergeLarge (range-join pruning, no driver key collect) produces " +
      "the identical touched/carried split and final content as merge") {
    import spark.implicits._
    val rootA = tmpRoot("mla")
    SnapshotTable.commit(
      spark.range(0, 10000).toDF("k")
        .withColumn("p", col("k") * 2)
        .repartitionByRange(8, col("k")),
      rootA, statsCol = Some("k"))
    // the two roots must share ONE physical layout (repartitionByRange
    // SAMPLES its boundaries, so two independent commits can split
    // the key space differently and the touched counts would diverge
    // for honest reasons): copy A's directory verbatim
    val rootB = tmpRoot("mlb")
    def cp(src: java.io.File, dst: java.io.File): Unit = {
      if (src.isDirectory) {
        dst.mkdirs(); src.listFiles().foreach(f =>
          cp(f, new java.io.File(dst, f.getName)))
      } else java.nio.file.Files.copy(src.toPath, dst.toPath)
    }
    cp(new java.io.File(new java.net.URI(s"file:$rootA").getPath),
      new java.io.File(new java.net.URI(s"file:$rootB").getPath))
    val updates = spark.range(2000, 2500).toDF("k")
      .withColumn("p", lit(-1L))
      .unionByName(spark.range(100000, 100100).toDF("k")
        .withColumn("p", lit(-2L)))
    val (idA, touchedA, carriedA) = SnapshotTable.merge(updates, rootA, "k")
    val (idB, touchedB, carriedB) =
      SnapshotTable.mergeLarge(updates, rootB, "k")
    assert((touchedA, carriedA) == (touchedB, carriedB))
    assert(touchedA > 0 && carriedA > 0, s"($touchedA, $carriedA)")
    val a = SnapshotTable.readAt(spark, rootA, idA)
      .as[(Long, Long)].collect().sorted.toSeq
    val b = SnapshotTable.readAt(spark, rootB, idB)
      .as[(Long, Long)].collect().sorted.toSeq
    assert(a == b)
  }

  test("merge and mergeLarge leave persisted RDDs and the cache manager " +
      "as they found them, and keep a caller-cached delta cached") {
    import spark.implicits._
    import org.apache.spark.storage.StorageLevel
    val root = tmpRoot("mcache")
    SnapshotTable.commit(
      spark.range(0, 4000).toDF("k").withColumn("p", col("k") * 2)
        .repartitionByRange(4, col("k")),
      root, statsCol = Some("k"))
    def delta(lo: Long) = spark.range(lo, lo + 200).toDF("k")
      .withColumn("p", lit(-lo))
    def cacheState() = (spark.sparkContext.getPersistentRDDs.keySet,
      org.apache.spark.sql.SpecShim.cachedPlans(spark))
    val merges: Seq[(String, org.apache.spark.sql.DataFrame => Unit)] = Seq(
      "merge" -> (u => SnapshotTable.merge(u, root, "k")),
      "mergeLarge" -> (u => SnapshotTable.mergeLarge(u, root, "k")))
    merges.zipWithIndex.foreach { case ((name, run), i) =>
      val before = cacheState()
      run(delta(1000L * i))
      assert(cacheState() == before, s"$name left cached state behind")
    }
    // a delta the CALLER cached is the caller's: still cached after
    // each merge, and nothing else is left behind
    val own = delta(3000L).cache()
    try {
      own.count()
      merges.foreach { case (name, run) =>
        val before = cacheState()
        run(own)
        assert(own.storageLevel != StorageLevel.NONE,
          s"$name evicted the caller's cache entry")
        assert(cacheState() == before, s"$name left cached state behind")
      }
    } finally own.unpersist(blocking = true)
    val got = SnapshotTable.read(spark, root).as[(Long, Long)].collect()
    assert(got.length == 4000 &&
      got.filter(r => r._1 >= 3000L && r._1 < 3200L)
        .forall(_._2 == -3000L))
  }

  test("changeFeed + applyChanges: a consumer folds appends and a merge " +
      "over its pinned state and lands row-for-row on the direct read; " +
      "an overwrite crosses as a file-diff step and the fold still " +
      "lands on the head") {
    import spark.implicits._
    val root = tmpRoot("cdf")
    SnapshotTable.commit( // v1
      spark.range(0, 100).toDF("k").withColumn("p", col("k") * 10)
        .repartitionByRange(4, col("k")),
      root, statsCol = Some("k"))
    SnapshotTable.commit( // v2: append
      spark.range(100, 120).toDF("k").withColumn("p", col("k") * 10),
      root, statsCol = Some("k"))
    val updates = spark.range(50, 60).toDF("k").withColumn("p", lit(-5L))
      .unionByName(
        spark.range(500, 505).toDF("k").withColumn("p", lit(-6L)))
    val (v3, _, _) = SnapshotTable.merge(updates, root, "k") // v3
    // the recorded change frame distinguishes replacements from inserts
    val feed = SnapshotTable.changeFeed(spark, root, 1L, v3)
    val ops = feed.filter(col("_commit") === v3)
      .groupBy("_op").count().as[(String, Long)].collect().toMap
    // 10 replaced (post-image U + pre-image UB), 5 fresh inserts
    assert(ops == Map("U" -> 10L, "UB" -> 10L, "I" -> 5L), ops.toString)
    // fold over the pinned v1 state == direct read of v3
    val folded = SnapshotTable.applyChanges(
      SnapshotTable.readAt(spark, root, 1L), feed, "k")
      .as[(Long, Long)].collect().sorted.toSeq
    val direct = SnapshotTable.readAt(spark, root, v3)
      .as[(Long, Long)].collect().sorted.toSeq
    assert(folded == direct)
    // an overwrite has no row-level record, but its FILE DIFF is
    // row-exact: every pre-overwrite row XB, every new row XA, and
    // the fold across the whole range still equals the head
    val v4 = SnapshotTable.commit(
      SnapshotTable.read(spark, root).coalesce(1),
      root, overwrite = true)
    val feed2 = SnapshotTable.changeFeed(spark, root, 1L, v4)
    assert(feed2.filter(col("_commit") === v4)
      .groupBy("_op").count().as[(String, Long)].collect().toMap
      .keySet == Set("XB", "XA"))
    val folded2 = SnapshotTable.applyChanges(
      SnapshotTable.readAt(spark, root, 1L), feed2, "k")
      .as[(Long, Long)].collect().sorted.toSeq
    assert(folded2 == SnapshotTable.read(spark, root)
      .as[(Long, Long)].collect().sorted.toSeq)
  }

  test("schema evolution: append with a new column evolves the recorded " +
      "schema by name; old files read the column as NULL; time travel " +
      "sees each version's own schema; type changes are refused") {
    import spark.implicits._
    val root = tmpRoot("evo")
    SnapshotTable.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "s"), root)
    SnapshotTable.commit(
      Seq((3L, "c", 30L), (4L, "d", 40L)).toDF("k", "s", "extra"), root)
    val cur = SnapshotTable.read(spark, root)
    assert(cur.columns.toSeq == Seq("k", "s", "extra"))
    val rows = cur.select("k", "extra").as[(Long, Option[Long])]
      .collect().toMap
    assert(rows == Map(1L -> None, 2L -> None, 3L -> Some(30L),
      4L -> Some(40L)))
    assert(SnapshotTable.readAt(spark, root, 1L).columns.toSeq
      == Seq("k", "s"))
    intercept[IllegalArgumentException] {
      SnapshotTable.commit(Seq(("x", "y", 1L)).toDF("k", "s", "extra"), root)
    }
  }

  test("DSv2 write path: append and overwrite through " +
      "format(\"graft-snap\") are real snapshot commits, statsCol flows " +
      "to the skipping index, and the read back equals the library path") {
    import spark.implicits._
    val root = tmpRoot("dsv2w")
    // bootstrap through the library (the DSv2-bootstrap twin test
    // covers the empty-root first write)...
    SnapshotTable.commit(
      spark.range(0, 100).toDF("k").withColumn("p", col("k") + 1L), root)
    // ...then DSv2 append and overwrite
    spark.range(100, 150).toDF("k").withColumn("p", col("k") + 1L)
      .write.format("graft-snap").mode("append").save(root)
    assert(SnapshotTable.currentSnapshot(spark, root) == 2L)
    assert(SnapshotTable.read(spark, root).count() == 150L)
    spark.range(0, 30).toDF("k").withColumn("p", lit(7L))
      .repartitionByRange(3, col("k"))
      .write.format("graft-snap").mode("overwrite")
      .option("statsCol", "k").save(root)
    assert(SnapshotTable.currentSnapshot(spark, root) == 3L)
    // statsCol flowed: the skipping index prunes the overwrite's files
    val (_, kept, total) =
      SnapshotTable.pruneFiles(spark, root, 3L, "k", 0L, 5L)
    assert(kept < total, s"($kept, $total)")
    // DSv2 read == library read, and time travel still works
    val viaDsv2 = spark.read.format("graft-snap").load(root)
      .as[(Long, Long)].collect().sorted.toSeq
    val viaLib = SnapshotTable.read(spark, root)
      .as[(Long, Long)].collect().sorted.toSeq
    assert(viaDsv2 == viaLib && viaDsv2.size == 30)
    assert(spark.read.format("graft-snap").option("snapshot", "2")
      .load(root).count() == 150L)
  }

  test("DSv2 write bootstraps an EMPTY root: the first append creates " +
      "snapshot v1 from the data's own schema") {
    import spark.implicits._
    val root = tmpRoot("boot")
    spark.range(0, 25).toDF("k").withColumn("s", lit("x"))
      .write.format("graft-snap").mode("append").save(root)
    assert(SnapshotTable.currentSnapshot(spark, root) == 1L)
    val back = spark.read.format("graft-snap").load(root)
    assert(back.columns.toSeq == Seq("k", "s") && back.count() == 25L)
  }

  test("compactZorder records BOTH dimensions' stats per file (parse " +
      "round-trips), both dimensions prune, and the ranged reads are " +
      "exact") {
    import spark.implicits._
    val root = tmpRoot("zorder")
    // a full 64x64 grid, committed in a layout random in both dims
    val grid = spark.range(0, 4096)
      .select((col("id") % 64).as("x"), expr("id div 64").as("y"))
    SnapshotTable.commit(grid.repartition(8), root)
    val v2 = SnapshotTable.compactZorder(spark, root, "x", "y",
      numFiles = 16, bits = 6)
    val es = SnapshotTable.entries(spark, root, v2)
    assert(es.nonEmpty)
    es.foreach { e =>
      assert(e.statsFor("x").isDefined && e.statsFor("y").isDefined &&
        e.rows.isDefined, e.render)
      assert(SnapshotTable.parseEntry(e.render) == e)
    }
    // 16 files over a normalized 2-D curve ≈ 4x4 tiles: a one-tile
    // band on EITHER dimension keeps ~4 files, never all 16
    val (_, keptX, total) =
      SnapshotTable.pruneFiles(spark, root, v2, "x", 0L, 15L)
    val (_, keptY, _) =
      SnapshotTable.pruneFiles(spark, root, v2, "y", 0L, 15L)
    assert(total == 16 && keptX < total && keptY < total,
      s"keptX=$keptX keptY=$keptY total=$total")
    assert(SnapshotTable.readWhere(spark, root, v2, "x", 0L, 15L)
      .count() == 16L * 64)
    assert(SnapshotTable.readWhere(spark, root, v2, "y", 0L, 15L)
      .count() == 16L * 64)
  }

  test("N-dimensional compactZorder: a 3-column curve layout prunes " +
      "on EVERY dimension, and the ranged reads stay exact") {
    import spark.implicits._
    val root = tmpRoot("zorder3")
    // the full 16x16x16 cube, committed in a dimension-random layout
    val cube = spark.range(0, 4096).select(
      (col("id") % 16).as("x"),
      expr("(id div 16) % 16").as("y"),
      expr("id div 256").as("z"))
    SnapshotTable.commit(cube.repartition(8), root)
    // 16 files over the 512-cell bits=3 curve: ~32 consecutive cells
    // per file, while each dimension's half-range alternates in
    // 64-cell blocks — so whatever boundaries repartitionByRange
    // SAMPLES, at least half the files sit cleanly inside one block
    // and prune (an 8-file/bits=4 layout left this to sampling luck)
    val v2 = SnapshotTable.compactZorder(spark, root,
      Seq("x", "y", "z"), numFiles = 16, bits = 3)
    val es = SnapshotTable.entries(spark, root, v2)
    es.foreach { e =>
      assert(Seq("x", "y", "z").forall(c => e.statsFor(c).isDefined),
        e.render)
    }
    for (c <- Seq("x", "y", "z")) {
      val (_, kept, total) =
        SnapshotTable.pruneFiles(spark, root, v2, c, 0L, 7L)
      assert(total == 16 && kept < total, s"$c kept $kept/$total")
      assert(SnapshotTable.readWhere(spark, root, v2, c, 0L, 7L)
        .count() == 2048L, c)
    }
  }

  test("DSv2 read path prunes files from pushed Catalyst filters: " +
      "bands, equality, IN, OR all skip soundly; non-stats and " +
      "unprovable filters keep every file; results stay exact") {
    import spark.implicits._
    val root = tmpRoot("pushdown")
    val grid = spark.range(0, 4096)
      .select((col("id") % 64).as("x"), expr("id div 64").as("y"))
    SnapshotTable.commit(
      grid.repartitionByRange(8, col("x")).sortWithinPartitions("x"),
      root, statsCol = Some("x"))
    def load() = spark.read.format("graft-snap").load(root)
    def prune(): (Int, Int) = SnapshotSource.lastPrune(root).get
    // a one-eighth band: strict subset of the 8 range files, exact count
    assert(load().filter(col("x") < 8).count() == 8L * 64)
    val (k1, t1) = prune()
    assert(t1 == 8 && k1 < t1, s"band kept $k1/$t1")
    // equality on one key: at most a couple of files survive
    assert(load().filter(col("x") === 63).count() == 64L)
    val (k2, _) = prune()
    assert(k2 <= 2, s"equality kept $k2")
    // IN over one end of the range
    assert(load().filter(col("x").isin(0, 1, 2)).count() == 3L * 64)
    val (k3, _) = prune()
    assert(k3 < t1, s"IN kept $k3")
    // OR of the two ends skips the middle files but keeps both ends
    assert(load().filter(col("x") < 4 || col("x") >= 60).count() == 8L * 64)
    val (k4, _) = prune()
    assert(k4 >= 2 && k4 < t1, s"OR kept $k4")
    // a filter on a NON-stats column proves nothing: every file opens
    assert(load().filter(col("y") === 5).count() == 64L)
    assert(prune() == ((8, 8)))
    // an unprunable shape (cast) degrades to the full list, still exact
    assert(load().filter(col("x").cast("string") === "7").count() == 64L)
    assert(prune() == ((8, 8)))
  }

  test("V2 write task-retry safety: publishStaged moves ONLY the " +
      "committed attempts' files, and a writer abort deletes its own " +
      "partial file") {
    import spark.implicits._
    val root = tmpRoot("retry")
    // seed the table so the commit has a base
    SnapshotTable.commit(Seq((1L, "a")).toDF("k", "v"), root)
    // stage two parquet files; only one is in the committed set — the
    // other plays a crashed first attempt that never reached abort()
    val staging = new org.apache.hadoop.fs.Path(root, "_staging/retrytest")
    val fs = staging.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq((2L, "b")).toDF("k", "v").coalesce(1).write
      .mode("overwrite").parquet(s"$root/_staging/tmp1")
    Seq((666L, "dup")).toDF("k", "v").coalesce(1).write
      .mode("overwrite").parquet(s"$root/_staging/tmp2")
    fs.mkdirs(staging)
    def movePart(src: String, name: String): Unit = {
      val f = fs.listStatus(new org.apache.hadoop.fs.Path(src))
        .find(_.getPath.getName.startsWith("part-")).get.getPath
      fs.rename(f, new org.apache.hadoop.fs.Path(staging, name))
      ()
    }
    movePart(s"$root/_staging/tmp1", "part-00000-7-graft.parquet")
    movePart(s"$root/_staging/tmp2", "part-00000-3-graft.parquet")
    val id = SnapshotTable.publishStaged(spark, root, "retrytest",
      staging, SnapshotTable.entryLines(spark, root, 1L), 1L, Seq.empty,
      Map.empty, SnapshotTable.read(spark, root).schema,
      only = Some(Set("part-00000-7-graft.parquet")))
    val rows = SnapshotTable.readAt(spark, root, id)
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(rows == Seq((1L, "a"), (2L, "b")), rows) // the stray never lands
    // a writer abort removes its partial file from staging
    val write = new SnapshotBatchWrite(root, () => Seq.empty, id,
      SnapshotTable.read(spark, root).schema, Seq.empty, Map.empty)
    val factory = write.createBatchWriterFactory(null)
    val w = factory.createWriter(0, 42L)
    val row = org.apache.spark.sql.catalyst.InternalRow(
      9L, org.apache.spark.unsafe.types.UTF8String.fromString("x"))
    w.write(row)
    w.abort()
    val leftover = fs.listStatus(new org.apache.hadoop.fs.Path(
      s"$root/_staging")).toSeq.flatMap { d =>
        if (d.isDirectory)
          fs.listStatus(d.getPath).toSeq.map(_.getPath.getName)
        else Seq.empty[String]
      }.filter(_.contains("-42-"))
    assert(leftover.isEmpty, leftover)
    write.abort(Array.empty)
  }

  test("stream source: a checkpointed restart delivers ONLY snapshots " +
      "committed while the query was down, exactly once; an overwrite " +
      "in the tail refuses loudly") {
    import spark.implicits._
    val base = java.nio.file.Files
      .createTempDirectory("graft_r11_tail").toString
    val root = s"$base/table"
    val ckpt = s"$base/ckpt"
    SnapshotTable.commit(spark.range(0, 10).toDF("v"), root) // v1
    val got = scala.collection.mutable.ArrayBuffer.empty[Long]
    def runTail(): Unit = {
      val q = spark.readStream.format("graft-snap-stream").load(root)
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.Dataset[
            org.apache.spark.sql.Row], _: Long) =>
          got.synchronized { got ++= df.select("v").as[Long].collect() }
          ()
        }
        .option("checkpointLocation", ckpt)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    runTail()
    assert(got.sorted == (0L until 10L), s"first drain got $got")
    // two commits land while the query is DOWN...
    SnapshotTable.commit(spark.range(10, 25).toDF("v"), root) // v2
    SnapshotTable.commit(spark.range(25, 30).toDF("v"), root) // v3
    runTail()
    // ...and the restart delivers exactly them: no gap, no redelivery
    assert(got.sorted == (0L until 30L), s"after restart got $got")
    // an overwrite rewrites history: the tail refuses, never re-serves
    SnapshotTable.commit(SnapshotTable.read(spark, root).coalesce(1),
      root, overwrite = true) // v4
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      runTail()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("re-baseline")), messages(e))
  }

  test("DSv2 read is pinned at load time: a commit after load() does " +
      "not change what the frame sees") {
    import spark.implicits._
    val root = tmpRoot("pin")
    SnapshotTable.commit(spark.range(0, 10).toDF("v"), root)
    val pinnedFrame = spark.read.format("graft-snap").load(root)
    SnapshotTable.commit(spark.range(10, 30).toDF("v"), root)
    assert(pinnedFrame.count() == 10L)
    assert(spark.read.format("graft-snap").load(root).count() == 30L)
  }

  test("CDF stream: tails the merges and deletes the append tail " +
      "refuses, a checkpointed restart delivers only the missed " +
      "commits, and a view maintained from the frames equals a rebuild") {
    import spark.implicits._
    import org.apache.spark.sql.sources.{GreaterThan, LessThanOrEqual}
    val base = java.nio.file.Files
      .createTempDirectory("graft_r11_cdfs").toString
    val root = s"$base/table"
    val ckpt = s"$base/ckpt"
    val df = (1L to 20L)
      .map(k => (k, if (k % 2 == 0) "even" else "odd", k * 10L))
      .toDF("k", "g", "x")
    SnapshotTable.commit(df.repartitionByRange(4, col("k")), root,
      statsCol = Some("k")) // v1
    val got = scala.collection.mutable
      .ArrayBuffer.empty[(Long, String, Long, String, Long)]
    def drain(): Set[Long] = { // returns the commit ids this run saw
      val seen = scala.collection.mutable.Set.empty[Long]
      val q = spark.readStream.format("graft-snap-stream")
        .option("readChangeFeed", "true").load(root)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.Dataset[
            org.apache.spark.sql.Row], _: Long) =>
          val rows = b.select("k", "g", "x", "_op", "_commit")
            .as[(Long, String, Long, String, Long)].collect()
          got.synchronized { got ++= rows; seen ++= rows.map(_._5) }
          ()
        }
        .option("checkpointLocation", ckpt)
        .start()
      try { q.processAllAvailable(); seen.toSet } finally q.stop()
    }
    SnapshotTable.merge( // v2: the append tail would refuse this
      Seq((4L, "even", 1L), (50L, "odd", 2L)).toDF("k", "g", "x"),
      root, "k")
    assert(drain() == Set(1L, 2L))
    // ...and these two land while the query is DOWN
    SnapshotTable.deleteWhere(spark, root, // v3
      Seq(GreaterThan("k", 10L), LessThanOrEqual("k", 14L)))
    SnapshotTable.commit( // v4
      Seq((60L, "even", 3L)).toDF("k", "g", "x"), root)
    assert(drain() == Set(3L, 4L), "restart must deliver exactly v3, v4")
    val ops = got.map(_._4).toSet
    assert(Set("A", "U", "UB", "I", "D").subsetOf(ops), ops)
    // the delivered frames maintain an empty-bootstrapped view to the
    // exact final state
    val feed = got.toSeq.toDF("k", "g", "x", "_op", "_commit")
    val view0 = graft.ops.IncrementalView.build(
      SnapshotTable.readAt(spark, root, 1L).limit(0), Seq("g"), Seq("x"))
    val maintained = graft.ops.IncrementalView
      .maintain(view0, feed, Seq("g"), Seq("x"))
      .select("g", "n_rows", "sum_x").as[(String, Long, Long)]
      .collect().toSet
    val rebuilt = graft.ops.IncrementalView.build(
      SnapshotTable.read(spark, root), Seq("g"), Seq("x"))
      .select("g", "n_rows", "sum_x").as[(String, Long, Long)]
      .collect().toSet
    assert(maintained == rebuilt)
  }
}
