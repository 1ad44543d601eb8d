package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, GreaterThanOrEqual, LessThan}

import graft.SparkSpec

/** Merge-on-read deletes ([[SnapshotTable.deleteWhereMor]] /
  * [[SnapshotTable.rewriteDeletes]]): vector correctness, no-rewrite
  * invariant, idempotent marking through existing vectors, exact
  * manifest row counts, the refusal surface (COW ops, file-level
  * incremental reads) next to the vector-applying DSv2 read,
  * fold-and-reopen, and vacuum of vector files.
  */
class SnapshotDeleteVectorSpec extends SparkSpec {

  private def tmpRoot(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_dv_$tag").toString + "/t"

  // 20 rows over 4 range-clustered files, stats on k
  private def seed(root: String): Unit = {
    import spark.implicits._
    val df = (1L to 20L).map(k => (k, k % 3, s"r$k")).toDF("k", "m", "v")
    SnapshotTable.commit(df.repartitionByRange(4, col("k")), root,
      statsCol = Some("k"))
  }

  test("a MOR delete marks rows in a vector and rewrites NOTHING; " +
      "reads subtract the vector; row counts stay manifest-exact") {
    val root = tmpRoot("basic")
    seed(root)
    val before = SnapshotTable.entries(spark, root, 1L)
      .map(_.render).toSet
    // m = 1: scattered across every file, unprunable on k-stats
    val (v2, dropped, marked, _) = SnapshotTable.deleteWhereMor(
      spark, root, Seq(EqualTo("m", 1L)))
    assert(dropped == 0)
    assert(marked > 0)
    val after = SnapshotTable.entries(spark, root, v2)
    // every data entry line carried VERBATIM (no file rewritten)
    assert(before.subsetOf(after.map(_.render).toSet))
    assert(after.count(_.isDelete) == 1)
    import spark.implicits._
    val got = SnapshotTable.read(spark, root).select("k")
      .as[Long].collect().toSet
    assert(got == (1L to 20L).filterNot(_ % 3 == 1).toSet)
    assert(SnapshotTable.rowCount(spark, root, v2).contains(got.size.toLong))
    // time travel: the pre-delete snapshot still shows every row
    assert(SnapshotTable.readAt(spark, root, 1L).count() == 20L)
  }

  test("a second overlapping delete marks through the existing vector " +
      "(no pair recorded twice) and readWhere applies vectors too") {
    val root = tmpRoot("twice")
    seed(root)
    SnapshotTable.deleteWhereMor(spark, root, Seq(EqualTo("m", 1L)))
    // overlaps: m=1 rows already dead; only k<=6 non-m1 rows are new
    val (v3, _, _, _) = SnapshotTable.deleteWhereMor(
      spark, root, Seq(LessThan("k", 7L)))
    import spark.implicits._
    val expect = (7L to 20L).filterNot(_ % 3 == 1).toSet
    assert(SnapshotTable.read(spark, root).select("k")
      .as[Long].collect().toSet == expect)
    // exact arithmetic holds only if no (file, pos) pair is duplicated
    assert(SnapshotTable.rowCount(spark, root, v3)
      .contains(expect.size.toLong))
    // vector-aware pruned range read
    assert(SnapshotTable.readWhere(spark, root, v3, "k", 1L, 10L)
      .select("k").as[Long].collect().toSet == expect.filter(_ <= 10L))
  }

  test("stats-proven whole files still drop metadata-only, but never " +
      "a file an existing vector references") {
    val root = tmpRoot("drop")
    seed(root)
    // k <= 20 covers everything, but take a band aligned to file stats:
    // the range-clustered layout makes low-k files all-match
    val (v2, dropped, _, _) = SnapshotTable.deleteWhereMor(
      spark, root, Seq(LessThan("k", 6L)))
    assert(dropped >= 1, "no metadata-only drop on a provable band")
    assert(SnapshotTable.read(spark, root).count() == 15L)
    // now vector-delete a scattered set, then a whole-file band that
    // intersects vectored files: those files must NOT metadata-drop
    SnapshotTable.deleteWhereMor(spark, root, Seq(EqualTo("m", 0L)))
    val (v4, _, _, _) = SnapshotTable.deleteWhereMor(
      spark, root, Seq(GreaterThanOrEqual("k", 6L)))
    assert(SnapshotTable.read(spark, root).count() == 0L)
    assert(SnapshotTable.rowCount(spark, root, v4).contains(0L))
  }

  test("the refusal surface: COW delete/merge and file-level " +
      "incremental reads refuse on a vectored snapshot, while the DSv2 " +
      "read applies the vector") {
    import spark.implicits._
    val root = tmpRoot("refuse")
    seed(root)
    SnapshotTable.deleteWhereMor(spark, root, Seq(EqualTo("m", 1L)))
    assert(intercept[IllegalArgumentException] {
      SnapshotTable.deleteWhere(spark, root, Seq(EqualTo("m", 0L)))
    }.getMessage.contains("rewriteDeletes"))
    assert(intercept[IllegalArgumentException] {
      SnapshotTable.merge(Seq((1L, 9L, "x")).toDF("k", "m", "v"), root, "k")
    }.getMessage.contains("rewriteDeletes"))
    assert(spark.read.format("graft-snap").load(root).select("k")
      .as[Long].collect().sorted.toSeq ==
      SnapshotTable.read(spark, root).select("k").as[Long].collect()
        .sorted.toSeq)
    assert(spark.read.format("graft-snap").load(root).count() ==
      (1L to 20L).count(_ % 3 != 1).toLong)
    assert(intercept[IllegalStateException] {
      SnapshotTable.changesBetween(spark, root, 1L, 2L).collect()
    }.getMessage.contains("merge-on-read"))
    // the ROW-level feed, by contrast, records the MOR delete: it
    // serves exactly the vector's rows as op D (SnapshotCdfFullSpec
    // pins the content) — only the FILE-level read above refuses
    import org.apache.spark.sql.functions.col
    val feed = SnapshotTable.changeFeed(spark, root, 1L, 2L)
    assert(feed.filter(col("_op") =!= "D").count() == 0L)
    assert(feed.count() == (1L to 20L).count(_ % 3 == 1).toLong)
  }

  test("rewriteDeletes folds vectors into the referenced files only, " +
      "reopens the DSv2 path, and vacuum reclaims the vector files") {
    val root = tmpRoot("fold")
    seed(root)
    SnapshotTable.deleteWhereMor(spark, root, Seq(EqualTo("m", 1L)))
    val v3 = SnapshotTable.rewriteDeletes(spark, root)
    val es = SnapshotTable.entries(spark, root, v3)
    assert(!es.exists(_.isDelete))
    import spark.implicits._
    val expect = (1L to 20L).filterNot(_ % 3 == 1).toSet
    assert(SnapshotTable.read(spark, root).select("k")
      .as[Long].collect().toSet == expect)
    // DSv2 works again after the fold
    assert(spark.read.format("graft-snap").load(root).count() ==
      expect.size.toLong)
    // idempotent: no vectors -> no-op, same id
    assert(SnapshotTable.rewriteDeletes(spark, root) == v3)
    // vacuum to the folded head reclaims the vector parquet
    SnapshotTable.expireSnapshots(spark, root, keepLast = 1)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dvDir = new org.apache.hadoop.fs.Path(root, "deletes")
    assert(!fs.exists(dvDir) || fs.listStatus(dvDir).isEmpty)
  }

  test("compaction folds vectors implicitly: compactZorder reads " +
      "through the vector-aware library path and overwrites them away") {
    val root = tmpRoot("zfold")
    seed(root)
    SnapshotTable.deleteWhereMor(spark, root, Seq(EqualTo("m", 1L)))
    val v3 = SnapshotTable.compactZorder(spark, root, Seq("k"), 2, 8)
    assert(!SnapshotTable.entries(spark, root, v3).exists(_.isDelete))
    import spark.implicits._
    assert(SnapshotTable.read(spark, root).select("k")
      .as[Long].collect().toSet ==
      (1L to 20L).filterNot(_ % 3 == 1).toSet)
  }

  test("MOR delete on a partitioned table keeps value purity (no file " +
      "is rewritten, so no file can lose it)") {
    import spark.implicits._
    val root = tmpRoot("part")
    val df = (1L to 20L).map(k => (k, s"p${k % 3}", k * 1.0))
      .toDF("k", "p", "v")
    SnapshotTable.commit(df, root, partitionBy = Seq("p"),
      statsCol = Some("k"))
    SnapshotTable.deleteWhereMor(spark, root, Seq(EqualTo("k", 7L)))
    assert(SnapshotTable.partitionPure(spark, root, 2L))
    assert(SnapshotTable.read(spark, root).count() == 19L)
    // and the fold restores a vector-free partitioned table
    val v3 = SnapshotTable.rewriteDeletes(spark, root)
    assert(SnapshotTable.partitionPure(spark, root, v3))
    assert(SnapshotTable.read(spark, root).count() == 19L)
  }
}
