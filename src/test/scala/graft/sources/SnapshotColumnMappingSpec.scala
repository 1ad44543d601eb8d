package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, GreaterThan, LessThanOrEqual}

import graft.SparkSpec

/** RENAME/DROP COLUMN as metadata-only commits through the column
  * mapping ([[SnapshotTable.physMapOf]]): physical file names are
  * fixed at each column's creation and never change, so a rename is
  * one manifest write, every epoch's files stay readable, stats keep
  * pruning, and time travel sees each snapshot's own names.
  */
class SnapshotColumnMappingSpec extends SparkSpec {

  private def tmpRoot(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_cmap_$tag").toString + "/t"

  // 20 rows over 4 range-clustered files, stats on k
  private def seed(root: String): Long = {
    import spark.implicits._
    val df = (1L to 20L).map(k => (k, k % 3, s"r$k")).toDF("k", "m", "v")
    SnapshotTable.commit(df.repartitionByRange(4, col("k")), root,
      statsCol = Some("k"))
  }

  test("rename is metadata-only: file list verbatim, values intact " +
      "under the new name, time travel sees the old name") {
    import spark.implicits._
    val root = tmpRoot("meta")
    val v1 = seed(root)
    val v2 = SnapshotTable.renameColumn(spark, root, "k", "key")
    assert(SnapshotTable.fileList(spark, root, v2) ==
      SnapshotTable.fileList(spark, root, v1),
      "a rename must not touch the file list")
    val cur = SnapshotTable.read(spark, root)
    assert(cur.columns.toSeq == Seq("key", "m", "v"))
    assert(cur.select("key").as[Long].collect().sorted.toSeq ==
      (1L to 20L))
    // time travel: the pre-rename snapshot keeps its own names
    assert(SnapshotTable.readAt(spark, root, v1).columns.toSeq ==
      Seq("k", "m", "v"))
  }

  test("appends after a rename write the PHYSICAL name: old and new " +
      "epoch files read together under the current logical name, and " +
      "manifest stats stay in one domain") {
    import spark.implicits._
    val root = tmpRoot("append")
    seed(root)
    SnapshotTable.renameColumn(spark, root, "k", "key")
    val v3 = SnapshotTable.commit(
      (21L to 30L).map(k => (k, k % 3, s"r$k")).toDF("key", "m", "v"),
      root, statsCol = Some("key"))
    val cur = SnapshotTable.read(spark, root)
    assert(cur.select("key").as[Long].collect().sorted.toSeq ==
      (1L to 30L))
    // every entry's key stats live under the one physical name "k"
    val statCols = SnapshotTable.entries(spark, root, v3)
      .flatMap(_.stats.map(_.col)).distinct
    assert(statCols == Seq("k"),
      s"stats must stay under the physical name, got $statCols")
    // and pruning on the LOGICAL name prunes files of BOTH epochs
    val (_, kept, total) = SnapshotTable.pruneFiles(
      spark, root, v3, "key", 25L, 27L)
    assert(kept < total, s"kept=$kept total=$total — no pruning")
    assert(SnapshotTable.readWhere(spark, root, v3, "key", 25L, 27L)
      .select("key").as[Long].collect().sorted.toSeq == (25L to 27L))
  }

  test("merge and COW delete key on a renamed column: stats still " +
      "prune, results exact") {
    import spark.implicits._
    val root = tmpRoot("mergedel")
    seed(root)
    SnapshotTable.renameColumn(spark, root, "k", "key")
    val (v3, touched, carried) = SnapshotTable.merge(
      Seq((5L, 99L, "new5"), (100L, 99L, "fresh"))
        .toDF("key", "m", "v"), root, "key")
    assert(carried >= 1, "merge after rename must still carry by stats")
    val got = SnapshotTable.readAt(spark, root, v3)
      .filter(col("key").isin(5L, 100L))
      .select("v").as[String].collect().toSet
    assert(got == Set("new5", "fresh"))
    val (_, dropped, rewritten, kept) = SnapshotTable.deleteWhere(
      spark, root, Seq(GreaterThan("key", 0L), LessThanOrEqual("key", 10L)))
    assert(dropped + rewritten >= 1 && kept >= 1)
    assert(SnapshotTable.read(spark, root)
      .filter(col("key") <= 10L).count() == 0L)
    assert(touched >= 1)
  }

  test("a merge-on-read delete on a renamed column marks its rows: the " +
      "marking scan reads under the mapping, and the change feed's D " +
      "row carries the new name") {
    import spark.implicits._
    val root = tmpRoot("mordel")
    SnapshotTable.commit((1L to 10L).map(k => (k, s"r$k")).toDF("k", "v")
      .coalesce(1), root, statsCol = Some("k"))
    val renamed = SnapshotTable.renameColumn(spark, root, "v", "label")
    val (id, dropped, marked, carried) = SnapshotTable.deleteWhereMor(
      spark, root, Seq(EqualTo("label", "r3")))
    assert((dropped, marked, carried) == (0, 1, 0),
      s"dropped $dropped, marked $marked, carried $carried")
    val live = SnapshotTable.read(spark, root)
    assert(live.count() == 9L)
    assert(live.filter(col("label") === "r3").count() == 0L)
    assert(SnapshotTable.changeFeed(spark, root, renamed, id)
      .filter(col("_op") === "D").select("k", "label").as[(Long, String)]
      .collect().toSeq == Seq((3L, "r3")))
  }

  test("drop is metadata-only and retires the physical name: the " +
      "column disappears, time travel still reads it, re-adding the " +
      "name refuses") {
    import spark.implicits._
    val root = tmpRoot("drop")
    seed(root)
    val v2 = SnapshotTable.renameColumn(spark, root, "v", "label")
    val v3 = SnapshotTable.dropColumn(spark, root, "label")
    assert(SnapshotTable.fileList(spark, root, v3) ==
      SnapshotTable.fileList(spark, root, v2))
    assert(SnapshotTable.read(spark, root).columns.toSeq == Seq("k", "m"))
    // time travel: the dropped data is still there at v2 (new name)
    // and v1 (original name)
    assert(SnapshotTable.readAt(spark, root, v2)
      .filter(col("k") === 3L).select("label").as[String].head() == "r3")
    assert(SnapshotTable.readAt(spark, root, 1L)
      .filter(col("k") === 3L).select("v").as[String].head() == "r3")
    // the physical name "v" is retired: re-adding it must refuse
    // loudly (old files would resurrect the dropped cells)
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.commit(
        Seq((21L, 0L, "ghost")).toDF("k", "m", "v"), root)
    }
    assert(e.getMessage.contains("retired") ||
      e.getMessage.contains("PHYSICAL"))
  }

  test("refusals: renaming onto a live logical or physical name, " +
      "renaming a partition column, dropping the last column, " +
      "retyping — all loud") {
    import spark.implicits._
    val root = tmpRoot("refuse")
    seed(root)
    SnapshotTable.renameColumn(spark, root, "k", "key") // phys "k" lives
    intercept[IllegalArgumentException] {
      SnapshotTable.renameColumn(spark, root, "m", "key") // live logical
    }
    intercept[IllegalArgumentException] {
      SnapshotTable.renameColumn(spark, root, "m", "k") // live physical
    }
    // retype still refuses through append evolution
    intercept[IllegalArgumentException] {
      SnapshotTable.commit(
        Seq(("x", 0L, "s")).toDF("key", "m", "v"), root)
    }
    val proot = tmpRoot("refusep")
    SnapshotTable.commit(
      (1L to 8L).map(k => (k, if (k % 2 == 0) "e" else "o"))
        .toDF("k", "p"), proot, statsCol = Some("k"),
      partitionBy = Seq("p"))
    intercept[IllegalArgumentException] {
      SnapshotTable.renameColumn(spark, proot, "p", "part")
    }
    intercept[IllegalArgumentException] {
      SnapshotTable.dropColumn(spark, proot, "p")
    }
    val oneRoot = tmpRoot("refuse1")
    SnapshotTable.commit(Seq(Tuple1(1L)).toDF("only"), oneRoot)
    intercept[IllegalArgumentException] {
      SnapshotTable.dropColumn(spark, oneRoot, "only")
    }
  }

  test("the change feed refuses across a rename (re-baseline) but " +
      "folds ranges on either side; a full overwrite resets the " +
      "mapping without hiding the epoch") {
    import spark.implicits._
    val root = tmpRoot("feed")
    seed(root) // v1
    SnapshotTable.commit( // v2: plain append
      Seq((21L, 0L, "a21")).toDF("k", "m", "v"), root)
    val v3 = SnapshotTable.renameColumn(spark, root, "k", "key")
    val v4 = SnapshotTable.commit(
      Seq((22L, 1L, "a22")).toDF("key", "m", "v"), root)
    // pre-rename range folds fine
    assert(SnapshotTable.changeFeed(spark, root, 1L, 2L).count() == 1L)
    // post-rename range folds fine (the rename itself is outside)
    assert(SnapshotTable.changeFeed(spark, root, v3, v4)
      .select("key").as[Long].collect().toSeq == Seq(22L))
    // a range CROSSING the rename refuses with the re-baseline message
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.changeFeed(spark, root, 1L, v4).count()
    }
    assert(e.getMessage.contains("re-baseline"))
    // overwrite resets the mapping but the epoch stays monotone:
    // a feed from before the rename still refuses after the overwrite
    val v5 = SnapshotTable.commit(
      SnapshotTable.read(spark, root), root, overwrite = true)
    assert(SnapshotTable.physMapOf(spark, root, v5).isEmpty)
    intercept[IllegalArgumentException] {
      SnapshotTable.changeFeed(spark, root, 1L, v5).count()
    }
  }

  test("SQL: ALTER TABLE RENAME/DROP COLUMN through the catalog — " +
      "reads, filter pushdown, INSERT, UPDATE, and time travel all " +
      "work on the mapped table") {
    import spark.implicits._
    val wh = java.nio.file.Files
      .createTempDirectory("graft_cmap_sqlwh").toString
    spark.conf.set("spark.sql.catalog.cmapsql",
      classOf[SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.cmapsql.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS cmapsql.db")
    spark.sql("DROP TABLE IF EXISTS cmapsql.db.t")
    spark.sql("CREATE TABLE cmapsql.db.t (k BIGINT, m BIGINT, v STRING)")
    val root = s"$wh/db/t"
    val df = (1L to 20L).map(k => (k, k % 3, s"r$k")).toDF("k", "m", "v")
    val v2 = SnapshotTable.commit(df.repartitionByRange(4, col("k")),
      root, statsCol = Some("k"))
    spark.sql("ALTER TABLE cmapsql.db.t RENAME COLUMN k TO key")
    // catalog read under the new name
    assert(spark.sql("SELECT sum(key) FROM cmapsql.db.t")
      .as[Long].head() == (1L to 20L).sum)
    // filter pushdown prunes files through the mapping
    SnapshotSource.pruneLog.remove(root)
    val slice = spark.sql(
      "SELECT key, v FROM cmapsql.db.t WHERE key >= 17 AND key <= 19")
    assert(slice.as[(Long, String)].collect().sortBy(_._1).toSeq ==
      (17L to 19L).map(k => (k, s"r$k")))
    val (kept, total) = SnapshotSource.lastPrune(root).get
    assert(kept < total, s"kept=$kept total=$total — pushdown not pruning")
    // INSERT lands under the physical name; reads stay logical
    spark.sql("INSERT INTO cmapsql.db.t VALUES (21, 0, 'r21')")
    assert(spark.sql("SELECT count(*) FROM cmapsql.db.t")
      .as[Long].head() == 21L)
    // row-level UPDATE through the mapping
    spark.sql("UPDATE cmapsql.db.t SET v = 'upd' WHERE key = 5")
    assert(spark.sql("SELECT v FROM cmapsql.db.t WHERE key = 5")
      .as[String].head() == "upd")
    // time travel: VERSION AS OF the pre-rename commit shows old names
    assert(spark.sql(s"SELECT * FROM cmapsql.db.t VERSION AS OF $v2")
      .columns.toSeq == Seq("k", "m", "v"))
    // DROP COLUMN via SQL
    spark.sql("ALTER TABLE cmapsql.db.t DROP COLUMN m")
    assert(spark.sql("SELECT * FROM cmapsql.db.t").columns.toSeq ==
      Seq("key", "v"))
    assert(spark.sql("SELECT count(*) FROM cmapsql.db.t")
      .as[Long].head() == 21L)
  }

  test("maintenance ops compose with the mapping: binpack packs " +
      "mixed-epoch files under physical names, zorder (a full " +
      "overwrite) resets the mapping, and a WAP stage reads through it") {
    import spark.implicits._
    val root = tmpRoot("maint")
    seed(root)
    SnapshotTable.renameColumn(spark, root, "k", "key")
    // post-rename small appends: physical files under the OLD name
    (21L to 24L).foreach(k => SnapshotTable.commit(
      Seq((k, k % 3, s"r$k")).toDF("key", "m", "v"), root,
      statsCol = Some("key")))
    // binpack packs the small files; reads stay correct and stats stay
    // in the one physical domain
    val (vBp, packed, _) = SnapshotTable.compactSmallFiles(
      spark, root, minRows = 3L, targetRows = 100L)
    assert(packed >= 4)
    assert(SnapshotTable.read(spark, root).select("key")
      .as[Long].collect().sorted.toSeq == (1L to 24L))
    val statCols = SnapshotTable.entries(spark, root, vBp)
      .flatMap(_.stats.map(_.col)).distinct
    assert(statCols == Seq("k"), s"got $statCols")
    // a WAP stage built on the mapped table reads through the mapping
    SnapshotTable.commitWap(
      Seq((30L, 0L, "w30")).toDF("key", "m", "v"), root, "cmwap")
    assert(SnapshotTable.readWap(spark, root, "cmwap")
      .filter(col("key") === 30L).count() == 1L)
    SnapshotTable.dropWap(spark, root, "cmwap")
    // zorder = overwrite: the mapping resets, files carry the CURRENT
    // logical names, reads unchanged
    val vZ = SnapshotTable.compactZorder(spark, root, Seq("key"), 2, 8)
    assert(SnapshotTable.physMapOf(spark, root, vZ).isEmpty)
    assert(SnapshotTable.read(spark, root).select("key")
      .as[Long].collect().sorted.toSeq == (1L to 24L))
    assert(SnapshotTable.entries(spark, root, vZ)
      .flatMap(_.stats.map(_.col)).distinct == Seq("key"))
  }

  test("manifest-complete aggregate pushdown answers through the " +
      "mapping: MIN/MAX of a renamed column from the manifest alone") {
    import spark.implicits._
    val root = tmpRoot("agg")
    seed(root)
    SnapshotTable.renameColumn(spark, root, "k", "key")
    val r = spark.read.format("graft-snap").load(root)
      .agg(min("key"), max("key"), count(lit(1)))
    val plan = r.queryExecution.executedPlan.toString
    assert(plan.contains("LocalTableScan"),
      s"manifest agg must stay a LocalTableScan through the mapping:\n$plan")
    assert(r.as[(Long, Long, Long)].head() == ((1L, 20L, 20L)))
  }
}
