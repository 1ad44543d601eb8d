package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.LessThanOrEqual
import org.apache.spark.sql.types.LongType

import graft.SparkSpec

/** EQUALITY DELETES ([[SnapshotTable.upsertEq]] /
  * [[SnapshotTable.deleteByKeysEq]]) — Iceberg-v2's CDC write shape:
  * the write publishes a delta-sized KEY file under `deletes/eq-*` and
  * (for upserts) appends the new rows, reading NOTHING of the table;
  * readers subtract matching rows of strictly-older files
  * ([[SnapshotTable.applyEqDeletes]]'s sequence rule), and
  * [[SnapshotTable.rewriteDeletes]] settles the debt. Living under
  * `deletes/` puts equality deletes on every existing vector path
  * (the delete-applying SQL read, merge/DML/compaction fences, expiry)
  * for free.
  */
class SnapshotEqDeleteSpec extends SparkSpec {

  private def tmpRoot(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_eq_$tag").toString + "/t"

  // 20 rows over 4 range-clustered files, stats on k
  private def seed(root: String): Long = {
    import spark.implicits._
    val df = (1L to 20L).map(k => (k, k * 10, s"r$k")).toDF("k", "m", "v")
    SnapshotTable.commit(df.repartitionByRange(4, col("k")), root,
      statsCol = Some("k"))
  }

  test("upsertEq is a zero-read write: previous entries carry " +
      "VERBATIM, the commit adds only its own files plus the key " +
      "file, and the read shows latest-wins") {
    import spark.implicits._
    val root = tmpRoot("basic")
    val v1 = seed(root)
    val v2 = SnapshotTable.upsertEq(
      Seq((5L, -5L, "u5"), (6L, -6L, "u6"), (100L, 1000L, "new"))
        .toDF("k", "m", "v"), root, Seq("k"))
    // the previous snapshot's entry lines survive byte-identical — the
    // write touched no existing file
    val prevLines = SnapshotTable.entryLines(spark, root, v1)
    val curLines = SnapshotTable.entryLines(spark, root, v2)
    assert(prevLines.forall(curLines.contains),
      "upsertEq must carry every previous entry verbatim")
    assert(curLines.exists(_.startsWith("deletes/eq-")),
      "the commit must list its equality-delete file")
    val cur = SnapshotTable.read(spark, root)
    assert(cur.count() == 21L)
    assert(cur.filter(col("k") === 5L).select("v").as[String].head() == "u5")
    assert(cur.filter(col("k") === 100L).select("m").as[Long].head() == 1000L)
    // the manifest can no longer count rows (keys match 0..n rows)
    assert(SnapshotTable.rowCount(spark, root, v2).isEmpty)
    // time travel is untouched
    assert(SnapshotTable.readAt(spark, root, v1).count() == 20L)
    // the DSv2 read applies the equality delete like the library read
    def bag(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.mkString("|")).toSeq.sorted
    assert(bag(spark.read.format("graft-snap").load(root)) ==
      bag(SnapshotTable.readAt(spark, root, v2)))
  }

  test("sequencing: a delete kills only STRICTLY older files — the " +
      "upsert's own rows survive its delete half, stacked upserts are " +
      "latest-wins, and later appends are never touched") {
    import spark.implicits._
    val root = tmpRoot("seq")
    seed(root)
    SnapshotTable.upsertEq(
      Seq((5L, 1L, "first")).toDF("k", "m", "v"), root, Seq("k"))
    SnapshotTable.upsertEq( // same key again: latest wins
      Seq((5L, 2L, "second")).toDF("k", "m", "v"), root, Seq("k"))
    val after = SnapshotTable.read(spark, root).filter(col("k") === 5L)
    assert(after.select("v").as[String].collect().toSeq == Seq("second"))
    // an append AFTER the deletes is out of their reach (by design:
    // an equality delete is a point-in-time retraction, not a ban)
    SnapshotTable.commit(Seq((5L, 3L, "appended")).toDF("k", "m", "v"), root)
    assert(SnapshotTable.read(spark, root).filter(col("k") === 5L)
      .select("v").as[String].collect().toSet == Set("second", "appended"))
  }

  test("deleteByKeysEq retracts by key with a subset key frame; " +
      "readWhere composes with the debt; refusals: null keys, " +
      "unknown columns, merge and deleteWhereMor on an eq table") {
    import spark.implicits._
    val root = tmpRoot("retract")
    seed(root)
    val v2 = SnapshotTable.deleteByKeysEq(
      Seq(3L, 7L, 999L).toDF("k"), root)
    val cur = SnapshotTable.read(spark, root)
    assert(cur.count() == 18L)
    assert(cur.filter(col("k").isin(3L, 7L)).count() == 0L)
    // the stats-pruned range read applies the debt too
    assert(SnapshotTable.readWhere(spark, root, v2, "k", 1L, 10L)
      .select("k").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 4L, 5L, 6L, 8L, 9L, 10L))
    intercept[IllegalArgumentException] { // null keys silently miss: refuse
      SnapshotTable.deleteByKeysEq(
        Seq(Some(1L), None).toDF("k"), root)
    }
    intercept[IllegalArgumentException] {
      SnapshotTable.deleteByKeysEq(Seq(1L).toDF("nope"), root)
    }
    val em = intercept[IllegalArgumentException] {
      SnapshotTable.merge(Seq((1L, 1L, "x")).toDF("k", "m", "v"), root, "k")
    }
    assert(em.getMessage.contains("rewriteDeletes"))
    val ed = intercept[IllegalArgumentException] {
      SnapshotTable.deleteWhereMor(spark, root, Seq(LessThanOrEqual("k", 2L)))
    }
    assert(ed.getMessage.contains("equality deletes"))
  }

  test("rewriteDeletes settles the debt: stats-refuted files carry " +
      "VERBATIM, the folded table equals the pre-fold read, the DSv2 " +
      "path re-opens, and the manifest count returns") {
    import spark.implicits._
    val root = tmpRoot("fold")
    seed(root)
    // touch only the low band: files covering 11..20 must be refuted
    // by their k-stats and carried byte-identical
    val v2 = SnapshotTable.upsertEq(
      Seq((2L, -2L, "u2"), (4L, -4L, "u4")).toDF("k", "m", "v"),
      root, Seq("k"))
    val before = SnapshotTable.read(spark, root)
      .select("k", "m", "v").as[(Long, Long, String)].collect().sorted.toSeq
    val preLines = SnapshotTable.entryLines(spark, root, v2)
    val v3 = SnapshotTable.rewriteDeletes(spark, root)
    val postLines = SnapshotTable.entryLines(spark, root, v3)
    assert(!postLines.exists(_.startsWith("deletes/")),
      "the fold must drop every delete entry")
    val carried = preLines.filter(postLines.contains)
    assert(carried.nonEmpty,
      "stats-refuted high-band files must carry verbatim through the fold")
    assert(SnapshotTable.read(spark, root)
      .select("k", "m", "v").as[(Long, Long, String)]
      .collect().sorted.toSeq == before)
    assert(spark.read.format("graft-snap").load(root).count() == 20L)
    assert(SnapshotTable.rowCount(spark, root, v3).contains(20L))
    // a delete refuted EVERYWHERE settles metadata-only
    val root2 = tmpRoot("noop")
    seed(root2)
    SnapshotTable.deleteByKeysEq(Seq(999L).toDF("k"), root2)
    val v3b = SnapshotTable.rewriteDeletes(spark, root2)
    assert(SnapshotTable.entryLines(spark, root2, v3b).toSet ==
      SnapshotTable.entryLines(spark, root2, 1L).toSet,
      "an everywhere-refuted delete must settle without touching data")
  }

  test("equality deletes compose with position vectors, and the " +
      "change feed prices an upsert as keys-only D plus I rows that " +
      "fold to the table") {
    import spark.implicits._
    val root = tmpRoot("compose")
    val v1 = seed(root)
    SnapshotTable.deleteWhereMor(spark, root, // v2: position vector
      Seq(LessThanOrEqual("k", 3L)))
    val v3 = SnapshotTable.upsertEq( // v3: CDC upsert on top
      Seq((10L, -10L, "u10"), (200L, 2000L, "new")).toDF("k", "m", "v"),
      root, Seq("k"))
    val cur = SnapshotTable.read(spark, root)
    assert(cur.count() == 18L) // 20 - 3 dead + 1 new
    assert(cur.filter(col("k") === 10L).select("v").as[String]
      .head() == "u10")
    val feed = SnapshotTable.changeFeed(spark, root, v1, v3)
    val eqStep = feed.filter(col("_commit") === v3)
    // keys-only D rows: the key survives, the rest is null
    val d = eqStep.filter(col("_op") === "D")
    assert(d.select("k").as[Long].collect().toSet == Set(10L, 200L))
    assert(d.filter(col("v").isNotNull).count() == 0L,
      "equality-delete D rows carry keys only — no pre-image was read")
    assert(eqStep.filter(col("_op") === "I").count() == 2L)
    val folded = SnapshotTable.applyChanges(
      SnapshotTable.readAt(spark, root, v1), feed, "k")
    assert(folded.select("k", "v").as[(Long, String)]
      .collect().sorted.toSeq ==
      cur.select("k", "v").as[(Long, String)].collect().sorted.toSeq)
  }

  test("rowDelta publishes keys and rows that DIFFER as one snapshot: " +
      "the read applies the delete to older rows only, and the change " +
      "feed carries the keys as D and the rows as I") {
    import spark.implicits._
    val root = tmpRoot("rowdelta")
    val v1 = seed(root)
    // delete 3 and 7; append 21, 22 and a second row for key 5 (an
    // append is an append — only the deleted keys lose older rows)
    val v2 = SnapshotTable.rowDelta(spark, root,
      Some(Seq(3L, 7L).toDF("k")),
      Some(Seq((21L, 210L, "r21"), (22L, 220L, "r22"), (5L, -5L, "x5"))
        .toDF("k", "m", "v")),
      Map("delta.tag" -> "t1"))
    assert(v2 == v1 + 1L, "one snapshot for the whole delta")
    assert(SnapshotTable.entryLines(spark, root, v1)
      .forall(SnapshotTable.entryLines(spark, root, v2).contains),
      "the head's entries carry verbatim")
    assert(SnapshotTable.snapshotProps(spark, root, v2).get("delta.tag")
      .contains("t1"))
    val cur = SnapshotTable.read(spark, root)
    assert(cur.select("k").as[Long].collect().sorted.toSeq ==
      ((1L to 22L).filterNot(Set(3L, 7L)) :+ 5L).sorted)
    val feed = SnapshotTable.changeFeed(spark, root, v1, v2)
    assert(feed.filter(col("_op") === "D").select("k").as[Long]
      .collect().toSet == Set(3L, 7L))
    assert(feed.filter(col("_op") === "D" && col("v").isNotNull)
      .count() == 0L, "D rows carry keys only")
    assert(feed.filter(col("_op") === "I").select("k").as[Long]
      .collect().sorted.toSeq == Seq(5L, 21L, 22L))
    // a keys-only and a props-only delta: no data file is written
    val v3 = SnapshotTable.rowDelta(spark, root,
      Some(Seq(21L).toDF("k")), None, Map.empty)
    val v4 = SnapshotTable.rowDelta(spark, root, None, None,
      Map("delta.tag" -> "t2"))
    def dataFiles(id: Long) = SnapshotTable.fileList(spark, root, id)
      .filterNot(_.startsWith("deletes/")).toSet
    assert(dataFiles(v4) == dataFiles(v2))
    assert(SnapshotTable.snapshotProps(spark, root, v4).get("delta.tag")
      .contains("t2"))
    assert(SnapshotTable.read(spark, root).count() == 20L)
    assert(SnapshotTable.changeFeed(spark, root, v2, v4)
      .select("k", "_op").as[(Long, String)].collect().toSeq ==
      Seq((21L, "D")))
    assert(v4 == v3 + 1L)
  }

  test("deletes keyed by DIFFERENT column sets compose: one anti-join " +
      "per key set at read time, and the fold settles every group") {
    import spark.implicits._
    val root = tmpRoot("mixedkeys")
    seed(root) // (k, m = k*10, v)
    SnapshotTable.upsertEq( // keyed by k
      Seq((5L, 99L, "u5")).toDF("k", "m", "v"), root, Seq("k"))
    SnapshotTable.deleteByKeysEq( // keyed by the (k, m) PAIR
      Seq((6L, 60L), (7L, 70L), (5L, 50L)).toDF("k", "m"), root)
    val cur = SnapshotTable.read(spark, root)
    // 6 and 7 die on the pair; (5, 50) matches nothing — the upsert
    // already replaced key 5 with m=99 and pair deletes are exact
    assert(cur.count() == 18L)
    assert(cur.filter(col("k").isin(6L, 7L)).count() == 0L)
    assert(cur.filter(col("k") === 5L).select("m").as[Long]
      .collect().toSeq == Seq(99L))
    val v4 = SnapshotTable.rewriteDeletes(spark, root)
    assert(SnapshotTable.rowCount(spark, root, v4).contains(18L))
    assert(SnapshotTable.read(spark, root)
      .filter(col("k") === 5L).select("v").as[String].head() == "u5")
  }

  test("the manifest plans equality deletes: building a read over 1 or " +
      "15 delete entries, and a fold the stats refute everywhere, start " +
      "no Spark job") {
    import spark.implicits._
    def jobs(f: => Any): Int = graft.Profile.jobsIn(spark)(f)._2
    val root = tmpRoot("jobs")
    seed(root)
    SnapshotTable.deleteByKeysEq(Seq(3L).toDF("k"), root)
    assert(jobs(SnapshotTable.read(spark, root)) == 0)
    (4L to 17L).foreach(k =>
      SnapshotTable.deleteByKeysEq(Seq(k).toDF("k"), root))
    val cur = SnapshotTable.currentSnapshot(spark, root)
    assert(SnapshotTable.entries(spark, root, cur).count(_.isEqDelete) == 15)
    assert(jobs(SnapshotTable.read(spark, root)) == 0)
    assert(SnapshotTable.read(spark, root).select("k").as[Long].collect()
      .sorted.toSeq == Seq(1L, 2L, 18L, 19L, 20L))
    // keys outside every file's [min, max]: settled from the manifest
    val root2 = tmpRoot("jobs_refuted")
    val v1 = seed(root2)
    Seq(101L, 102L, 103L).foreach(k =>
      SnapshotTable.deleteByKeysEq(Seq(k).toDF("k"), root2))
    val (v5, n) = graft.Profile.jobsIn(spark)(
      SnapshotTable.rewriteDeletes(spark, root2))
    assert(n == 0)
    assert(SnapshotTable.entryLines(spark, root2, v5).toSet ==
      SnapshotTable.entryLines(spark, root2, v1).toSet)
  }

  test("an equality delete written BEFORE its key column is renamed and " +
      "widened still kills its rows, lists as D in the change feed, and " +
      "folds to the rows a rebuild gives") {
    import spark.implicits._
    val root = tmpRoot("evolve")
    val v1 = SnapshotTable.commit(
      (1 to 20).map(k => (k, k * 10L, s"r$k")).toDF("k", "m", "v")
        .repartitionByRange(4, col("k")), root, statsCol = Some("k"))
    val v2 = SnapshotTable.deleteByKeysEq(Seq(3, 7, 18).toDF("k"), root)
    SnapshotTable.renameColumn(spark, root, "k", "id")
    SnapshotTable.widenColumn(spark, root, "id", LongType)
    val rebuild = (1L to 20L).filterNot(Set(3L, 7L, 18L))
      .map(k => (k, k * 10L, s"r$k"))
    def rows() = SnapshotTable.read(spark, root).select("id", "m", "v")
      .as[(Long, Long, String)].collect().sorted.toSeq
    assert(rows() == rebuild)
    // the delete's step keeps the names and type of its own commit
    assert(SnapshotTable.changeFeed(spark, root, v1, v2)
      .filter(col("_op") === "D").select("k").as[Int].collect().toSet ==
      Set(3, 7, 18))
    val v5 = SnapshotTable.rewriteDeletes(spark, root)
    assert(!SnapshotTable.fileList(spark, root, v5)
      .exists(_.startsWith("deletes/")))
    assert(rows() == rebuild)
  }

  test("upsertEqWriter under a live checkpointed stream: zero-read " +
      "CDC batches land exactly-once (an idle restart redelivers " +
      "nothing), last write per key wins, and a periodic fold settles " +
      "the debt without disturbing the floor") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(Long, Double, Long)]
    val in = mem.toDF().toDF("k", "v", "seq")
    val root = tmpRoot("sink")
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-eqsink-ckpt").toString
    def start() = in.writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch(SnapshotStreamSink.upsertEqWriter(root, "eqcdc", "k",
        seqCol = Some("seq")))
      .start()
    val q1 = start()
    try {
      mem.addData((1 to 50).map(i => (i.toLong, i * 1.0, 1L)))
      q1.processAllAvailable() // batch 0: bootstrap (plain commit)
      mem.addData(Seq((5L, 500.0, 2L), (60L, 60.0, 2L)))
      q1.processAllAvailable() // batch 1: first eq upsert
    } finally q1.stop()
    val before = SnapshotTable.currentSnapshot(spark, root)
    val q2 = start()
    try {
      q2.processAllAvailable()
      assert(SnapshotTable.currentSnapshot(spark, root) == before,
        "an idle restart advanced the table")
      mem.addData(Seq((5L, 5550.0, 3L), (5L, 5000.0, 4L))) // seq 4 wins
      q2.processAllAvailable()
    } finally q2.stop()
    val got = SnapshotTable.read(spark, root)
      .select("k", "v").as[(Long, Double)].collect().toMap
    assert(got.size == 51)
    assert(got(5L) == 5000.0 && got(60L) == 60.0 && got(7L) == 7.0)
    // settle the read-side debt; the exactly-once floor survives
    SnapshotTable.rewriteDeletes(spark, root)
    assert(SnapshotTable.rowCount(spark, root,
      SnapshotTable.currentSnapshot(spark, root)).contains(51L))
    assert(SnapshotStreamSink.lastCommittedBatch(spark, root, "eqcdc") >= 2L,
      "the fold must carry the stream floor forward")
  }
}
