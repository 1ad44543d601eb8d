package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Round-15 defect regressions: the recovery wedge when a published
  * member advances before recover() runs, and the auto-rebase CHECK
  * constraint bypass.
  */
class SnapshotRound15Spec extends SparkSpec {

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_r15").toString

  /** (data files, delete entries) of `root`'s head. */
  private def headFiles(root: String): (Int, Int) = {
    val (dels, data) = SnapshotTable.fileList(spark, root,
      SnapshotTable.currentSnapshot(spark, root))
      .partition(_.startsWith("deletes/"))
    (data.size, dels.size)
  }

  private def seed(root: String, n: Long): Unit = {
    SnapshotTable.commit(
      spark.range(0, n).select(col("id").as("k")), root)
    ()
  }

  test("recover() converges — not wedges — when an already-published " +
      "member took a later unrelated commit before recovery ran") {
    val b = tmp()
    val roots = Seq(s"$b/a", s"$b/c", s"$b/e")
    roots.foreach(seed(_, 5))
    roots.foreach(r => CommitGroup.stage(
      spark.range(50, 60).select(col("id").as("k")), r, "gw"))
    intercept[IllegalStateException](
      CommitGroup.publishCrashable(spark, "gw", roots, crashAfter = 1))
    // the published member (sorted-first) takes an unrelated commit:
    // its stage is consumed AND its head no longer carries the group's
    // wap id — the state that used to wedge the group forever
    SnapshotTable.commit(
      spark.range(900, 920).select(col("id").as("k")), s"$b/a")
    assert(SnapshotTable.read(spark, s"$b/a").count() == 35L)
    val recovered = CommitGroup.recover(spark, s"$b/c", "gw")
    assert(recovered.keySet == roots.toSet)
    // the pin recorded for the advanced member is the GROUP's snapshot
    // (v2, the one whose provenance carries the wap id) — not the
    // later unrelated head
    assert(recovered(s"$b/a") == 2L,
      s"expected the wap-provenance snapshot v2, got v${recovered(s"$b/a")}")
    // the still-staged members published; markers cleared (a second
    // recover finds nothing); group reads serve all-new at the pins
    assert(SnapshotTable.read(spark, s"$b/c").count() == 15L)
    assert(SnapshotTable.read(spark, s"$b/e").count() == 15L)
    assert(CommitGroup.recover(spark, s"$b/c", "gw").isEmpty)
    val all = CommitGroup.readAll(spark, "gw", roots)
    assert(all(s"$b/a").count() == 15L) // pinned BEFORE the unrelated commit
    assert(all(s"$b/c").count() == 15L)
    // and dropGroup no longer refuses (no markers survive)
    assert(CommitGroup.dropGroup(spark, "gw", roots) == 0)
  }

  test("auto-rebase REFUSES when a concurrent commit added a CHECK " +
      "constraint — staged rows were validated against the old set") {
    val root = s"${tmp()}/t"
    SnapshotTable.commit(
      spark.range(0, 100).select(col("id").as("k")), root) // v1
    val v1Carried = SnapshotTable.headEntryLines(spark, root, 1L)
    val v1Schema = SnapshotTable.storedSchema(spark, root, 1L)
    // interleaved metadata-only commit: ADD CONSTRAINT k < 150 (holds
    // on the standing table, entry-set-preserving — the old guard
    // waved this through)
    SnapshotTable.setTableProps(spark, root,
      Map("constraint.k_small" -> "k < 150")) // v2
    val e = intercept[IllegalStateException](
      SnapshotTable.commitWithCarried(
        spark.range(200, 230).select(col("id").as("k")), root,
        v1Carried, 1L, None, Map.empty, v1Schema, rebaseable = true))
    assert(e.getMessage.contains("CHECK"), e.getMessage)
    // nothing landed: head unmoved, rows exact, constraint intact
    assert(SnapshotTable.currentSnapshot(spark, root) == 2L)
    assert(SnapshotTable.read(spark, root).count() == 100L)
    // re-preparing against the NEW head re-validates and refuses the
    // violating rows the ordinary way
    intercept[IllegalArgumentException](
      SnapshotTable.commit(
        spark.range(200, 230).select(col("id").as("k")), root))
    // while conforming rows rebase fine across the constraint commit
    // when staged against the post-constraint head
    SnapshotTable.commit(
      spark.range(100, 120).select(col("id").as("k")), root)
    assert(SnapshotTable.read(spark, root).count() == 120L)
  }

  test("streaming sink compaction cadence: 60 micro-batches saw-tooth " +
      "the file count under the debt bound; exactly-once floor, rows, " +
      "and the change feed are undisturbed") {
    val root = s"${tmp()}/t"
    val w = SnapshotStreamSink.writer(root, "cad", statsCol = Some("k"))
    val counts = (0 until 60).map { b =>
      w(spark.range(b * 10L, b * 10L + 10L)
        .select(col("id").as("k")).repartition(2), b.toLong)
      headFiles(root)
    }
    // without the cadence 60 batches x 2 partitions = 120 files; with
    // it no batch ends at the 24-small-file threshold, and the batch
    // that reaches it packs everything into one file
    assert(counts.map(_._1).max < SnapshotTable.SmallFileDebt,
      s"file count not bounded by the cadence: $counts")
    assert(counts.map(_._1).contains(1), s"the cadence never fired: $counts")
    assert(SnapshotTable.read(spark, root).count() == 600L)
    // floor survived the interleaved compaction commits: redelivery
    // of the last batch id is still a no-op for a FRESH writer (the
    // recovery scan reads the carried stream.* props)
    val head = SnapshotTable.currentSnapshot(spark, root)
    assert(SnapshotStreamSink.lastCommittedBatch(spark, root, "cad") == 59L)
    val w2 = SnapshotStreamSink.writer(root, "cad")
    w2(spark.range(0, 5).select(col("id").as("k")), 59L)
    assert(SnapshotTable.currentSnapshot(spark, root) == head)
    // the row-level change feed crosses the compactions as empty
    // steps: summed A rows equal exactly what the stream appended
    val ops = SnapshotTable.changeFeed(spark, root, 0L, head)
      .groupBy("_op").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(ops == Map("A" -> 600L), s"unexpected feed ops: $ops")
  }

  test("upsert sink gets the same cadence: merge-heavy batches do not " +
      "accrete fragments past the bound") {
    val root = s"${tmp()}/t"
    val w = SnapshotStreamSink.upsertWriter(root, "up", "k")
    val counts = (0 until 40).map { b =>
      // rolling window: half fresh keys, half rewrites of earlier ones
      w(spark.range(b * 5L, b * 5L + 10L)
        .select(col("id").as("k"), lit(b).as("v")).repartition(2),
        b.toLong)
      headFiles(root)
    }
    assert(counts.map(_._1).max < SnapshotTable.SmallFileDebt &&
      counts.map(_._2).max < SnapshotTable.EqDeleteFoldEntries,
      s"upsert sink debt not bounded: $counts")
    assert(counts.map(_._1).contains(1), s"the cadence never fired: $counts")
    // last-wins semantics intact across compactions
    val out = SnapshotTable.read(spark, root)
    assert(out.count() == 205L) // keys 0..204
    // k=100 is written by batch 19 (95..104) then batch 20 (100..109)
    assert(out.filter(col("k") === 100L).select("v").head().getInt(0) == 20)
  }

  test("group publishes AUTO-TAG their pins: readAll survives an " +
      "aggressive expire by default; the next pass retires the " +
      "previous pass's tags") {
    val b = tmp()
    val roots = Seq(s"$b/x", s"$b/y")
    roots.foreach(seed(_, 5))
    roots.foreach(r => CommitGroup.stage(
      spark.range(100, 110).select(col("id").as("k")), r, "gt"))
    val pass1 = CommitGroup.publish(spark, "gt", roots) // v2 each
    // pile unrelated commits on both members, then expire hard
    roots.foreach { r =>
      (0 until 4).foreach(i => SnapshotTable.commit(
        spark.range(1000 + i * 10L, 1010 + i * 10L)
          .select(col("id").as("k")), r))
      SnapshotTable.expireSnapshots(spark, r, keepLast = 1)
    }
    // the pins (v2) fall outside keepLast=1 but carry the group tag —
    // protected, so the group-consistent read still serves
    val served = CommitGroup.readAll(spark, "gt", roots)
    roots.foreach(r => assert(served(r).count() == 15L, r))
    // a SECOND pass moves the tags: its pins are protected, the first
    // pass's are released and a fresh expire reclaims them
    roots.foreach(r => CommitGroup.stage(
      spark.range(200, 220).select(col("id").as("k")), r, "gt"))
    val pass2 = CommitGroup.publish(spark, "gt", roots)
    roots.foreach { r =>
      SnapshotTable.commit(
        spark.range(5000, 5010).select(col("id").as("k")), r)
      SnapshotTable.expireSnapshots(spark, r, keepLast = 1)
      // pass-2 pin survives ...
      assert(SnapshotTable.readAt(spark, r, pass2(r)).count() == 75L)
      // ... pass-1 pin is gone (tag moved, snapshot reclaimed)
      intercept[IllegalArgumentException](
        SnapshotTable.readAt(spark, r, pass1(r)))
    }
    CommitGroup.readAll(spark, "gt", roots)
      .foreach { case (r, df) => assert(df.count() == 75L, r) }
  }

  test("manifest_report is an EXACT dry-run of rewrite_manifests, " +
      "Scala and CALL surfaces") {
    val root = s"${tmp()}/t"
    def commitFiles(from: Long, n: Int): Unit = {
      SnapshotTable.commit(spark.range(from, from + n, 1, n)
        .select(col("id").as("k")), root, statsCol = Some("k"))
      ()
    }
    // a commit's inline entries move into a shard only past 32 lines:
    // 32 one-row files stay inline, and nothing is left to fold
    commitFiles(0L, 32)
    val r0 = SnapshotTable.manifestReport(spark, root, targetLines = 100)
    assert(r0 == (32, 32, 0, 0, 32, false), s"32 inline lines: $r0")
    // two 33-file commits: the first shards the 65 inline lines, the
    // second its own 33; the 98 lines fold at 100 into one shard
    (0 until 2).foreach(i => commitFiles(100L + i * 100L, 33))
    val (now, after, nRefs, nSmall, nInline, would) =
      SnapshotTable.manifestReport(spark, root, targetLines = 100)
    assert(would, "two small shards must leave something to fold")
    assert((now, after, nRefs, nSmall, nInline) == (2, 1, 2, 2, 0),
      s"advisor: $now -> $after, $nRefs refs ($nSmall small), $nInline inline")
    // the advisor's prediction equals what the fold actually does
    val (_, before2, after2) =
      SnapshotTable.rewriteManifests(spark, root, targetLines = 100)
    assert(before2 == now, s"head drifted: advisor $now, fold $before2")
    assert(after2 == after,
      s"advisor predicted $after lines, fold produced $after2")
    // post-fold the advisor reports minimal — the loop is closed
    val r2 = SnapshotTable.manifestReport(spark, root, 100)
    assert(!r2._6 && r2._1 == after2, s"post-fold report: $r2")
    // a head written before manifests were sharded lists every entry
    // inline, and readers take it as is: rewrite the folded head in that
    // form, 98 inline lines where a commit leaves at most 32
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def linesAt(name: String): Seq[String] = {
      val in = fs.open(new org.apache.hadoop.fs.Path(s"$root/_manifests/$name"))
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toVector
      finally in.close()
    }
    val headName = s"v${SnapshotTable.currentSnapshot(spark, root)}.manifest"
    val flat = linesAt(headName).flatMap(l =>
      if (l.startsWith("#shard ")) linesAt(l.stripPrefix("#shard ").trim) else Seq(l))
    val out = fs.create(new org.apache.hadoop.fs.Path(s"$root/_manifests/$headName"), true)
    try out.write(flat.mkString("\n").getBytes("UTF-8")) finally out.close()
    // a target BELOW the 32-line shard minimum (full chunks inline,
    // not sharded): the advisor must still match the fold exactly
    val (now3, after3, _, _, nInline3, would3) =
      SnapshotTable.manifestReport(spark, root, targetLines = 2)
    assert(would3 && now3 == 98 && nInline3 == 98,
      s"98 inline lines must leave something to fold at target 2: $now3 lines")
    val (_, before4, after4) =
      SnapshotTable.rewriteManifests(spark, root, targetLines = 2)
    assert(before4 == now3 && after4 == after3,
      s"sub-shardMin advisor drift: predicted $now3->$after3, " +
        s"fold did $before4->$after4")
    val r4 = SnapshotTable.manifestReport(spark, root, targetLines = 2)
    assert(r4._1 == after4 && !r4._6, s"post-fold report at target 2: $r4")
    assert(SnapshotTable.read(spark, root).count() == 98L)
    // the SQL surface returns the same row shape
    val wh = java.nio.file.Files
      .createTempDirectory("graft_r15_wh").toString
    spark.conf.set("spark.sql.catalog.r15adv",
      classOf[SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.r15adv.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS r15adv.db")
    spark.sql("CREATE TABLE r15adv.db.adv (k BIGINT)")
    (0 until 6).foreach(i => spark.sql(
      s"INSERT INTO r15adv.db.adv SELECT id FROM range(${i * 10}, ${i * 10 + 10})"))
    val row = spark.sql(
      "CALL r15adv.system.manifest_report('db.adv', 64)").head
    val (n2, a2, _, _, _, w2) = SnapshotTable.manifestReport(
      spark, s"$wh/db/adv", 64)
    assert(row.getInt(0) == n2 && row.getInt(1) == a2 &&
      row.getInt(5) == (if (w2) 1 else 0))
  }

  test("group-consistent reads RACING aggressive expire: every readAll " +
      "either serves an exact group-consistent state or refuses " +
      "loudly — never a torn or half-reclaimed read") {
    val b = tmp()
    val roots = Seq(s"$b/r1", s"$b/r2")
    roots.foreach(seed(_, 10)) // 10 rows each
    // pass 0 so readers always find a published record
    roots.foreach(r => CommitGroup.stage(
      spark.range(1000, 1010).select(col("id").as("k")), r, "race"))
    CommitGroup.publish(spark, "race", roots)
    val passes = 25
    val torn = new java.util.concurrent.atomic.AtomicReference[String](null)
    val loud = new java.util.concurrent.atomic.AtomicInteger(0)
    val served = new java.util.concurrent.atomic.AtomicInteger(0)
    val writerDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reader = new Thread(() => {
      while (!writerDone.get() && torn.get() == null) {
        try {
          val all = CommitGroup.readAll(spark, "race", roots)
          val counts = roots.map(r => all(r).count())
          // every pass appends exactly 10 rows to each member from a
          // 20-row base; group consistency = BOTH members at the SAME
          // pass → equal counts, ≡ 0 (mod 10), within the pass range
          if (counts.distinct.size != 1 ||
              counts.head % 10 != 0 ||
              counts.head < 20L || counts.head > 20L + 10L * passes)
            torn.set(s"inconsistent group read: $counts")
          else served.incrementAndGet()
        } catch {
          // the documented loud refusals: an expired pin's manifest or
          // data files are gone, or the record is mid-replace
          case _: IllegalArgumentException => loud.incrementAndGet()
          case _: IllegalStateException => loud.incrementAndGet()
          case _: org.apache.spark.SparkException => loud.incrementAndGet()
        }
      }
    })
    reader.start()
    try {
      (1 to passes).foreach { k =>
        roots.foreach(r => CommitGroup.stage(
          spark.range(k * 1000L, k * 1000L + 10L)
            .select(col("id").as("k")), r, "race"))
        CommitGroup.publish(spark, "race", roots)
        roots.foreach(r =>
          SnapshotTable.expireSnapshots(spark, r, keepLast = 1))
      }
    } finally {
      writerDone.set(true)
      reader.join(30000)
    }
    assert(torn.get() == null, String.valueOf(torn.get()))
    assert(served.get() > 0,
      s"reader never served (loud=${loud.get()}) — race too one-sided " +
        "to prove anything")
    // after the dust settles the last pass serves exactly
    CommitGroup.readAll(spark, "race", roots).foreach { case (r, df) =>
      assert(df.count() == 20L + 10L * passes, r)
    }
  }

  test("WAP rebase prop hygiene: the interleave's one-shot provenance " +
      "does not leak into the rebased publish, carried state from the " +
      "head survives, and the change feed classifies every step right") {
    val root = s"${tmp()}/t"
    SnapshotTable.commit(
      spark.range(0, 100).select(col("id").as("k"), lit("a").as("v")),
      root, statsCol = Some("k")) // v1
    SnapshotTable.commitWap(
      spark.range(200, 210).select(col("id").as("k"), lit("w").as("v")),
      root, "hyg")
    // the interleave is an EQ-DELETE upsert — additive (rebaseable)
    // but carrying delete.eq/eq.file provenance and a stream floor
    SnapshotTable.upsertEq(
      spark.range(50, 60).select(col("id").as("k"), lit("u").as("v")),
      root, Seq("k"), extraProps = Map("stream.t.batch" -> "7")) // v2
    val id = SnapshotTable.publishWap(spark, root, "hyg")
    assert(id == 3L)
    val props = SnapshotTable.snapshotProps(spark, root, 3L)
    // no provenance leak: the rebased publish is NOT an eq-delete step
    assert(!props.contains("delete.eq") && !props.contains("eq.file"),
      s"interleave provenance leaked: $props")
    assert(props.get("wap.id").contains("hyg"))
    // carried state from the head survives the rebase
    assert(props.get("stream.t.batch").contains("7"))
    // content: base - replaced + upserted + staged
    val out = SnapshotTable.read(spark, root)
    assert(out.count() == 110L)
    assert(out.filter(col("k") === 55L).select("v").head.getString(0) == "u")
    assert(out.filter(col("k") >= 200L).count() == 10L)
    // the change feed sees exactly one eq-delete step (v2) and one
    // plain append step (v3) — the rebased publish contributes A rows,
    // not a re-read of v2's delete keys
    val ops = SnapshotTable.changeFeed(spark, root, 1L, 3L)
      .groupBy("_commit", "_op").count().collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(ops((2L, "D")) == 10L && ops((2L, "I")) == 10L,
      s"v2 misread: $ops")
    assert(ops((3L, "A")) == 10L && !ops.contains((3L, "D")),
      s"v3 misclassified: $ops")
  }

  test("eq-delete sink settles on the shared debt cadence: the " +
      "delete-file count stays under the index bound, last-wins " +
      "content and the exactly-once floor survive every fold") {
    def eqCount(root: String): Int = {
      val cur = SnapshotTable.currentSnapshot(spark, root)
      SnapshotTable.entries(spark, root, cur).count(_.isEqDelete)
    }
    // 20 batches: past the 16-delete bound even if no small-file fold
    // came first, so at least one fold must have run
    val root = s"${tmp()}/eq"
    val w = SnapshotStreamSink.upsertEqWriter(root, "eq", "k")
    val counts = (0 until 20).map { b =>
      w(spark.range(b * 5L, b * 5L + 10L)
        .select(col("id").as("k"), lit(b).as("v")), b.toLong)
      eqCount(root)
    }
    assert(counts.max < 16, s"eq-delete count not bounded: $counts")
    assert(counts.sliding(2).exists { case Seq(a, b) => b < a },
      s"no fold ran: $counts")
    // last-wins content across the folds
    val out = SnapshotTable.read(spark, root)
    assert(out.count() == 105L) // keys 0..104
    assert(out.filter(col("k") === 50L).select("v").head().getInt(0) == 10)
    // floor survived the folds: a fresh writer skips the redelivery
    val head = SnapshotTable.currentSnapshot(spark, root)
    assert(SnapshotStreamSink.lastCommittedBatch(spark, root, "eq") == 19L)
    SnapshotStreamSink.upsertEqWriter(root, "eq", "k")(
      spark.range(0, 3).select(col("id").as("k"), lit(99).as("v")), 19L)
    assert(SnapshotTable.currentSnapshot(spark, root) == head)
  }
}
