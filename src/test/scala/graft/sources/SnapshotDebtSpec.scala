package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The debt cadence ([[SnapshotTable.settleOnDebt]]) at the thresholds
  * every maintained index and stream sink runs with: each constant one
  * below its value, where nothing happens, and at it.
  */
class SnapshotDebtSpec extends SparkSpec {

  private def tmpRoot(): String =
    java.nio.file.Files.createTempDirectory("graft_debt").toString + "/t"

  private def head(root: String): Seq[SnapshotTable.FileEntry] =
    SnapshotTable.entries(spark, root,
      SnapshotTable.currentSnapshot(spark, root))

  /** Appends keys `from until from + n` as `files` near-equal files. */
  private def append(root: String, from: Long, n: Long, files: Int): Long =
    SnapshotTable.commit(spark.range(from, from + n, 1, files)
      .select(col("id").as("k")), root)

  test("15 equality-delete entries stay; the 16th folds them") {
    import spark.implicits._
    val root = tmpRoot()
    append(root, 0L, 10L, 1)
    (1 to 15).foreach(i =>
      SnapshotTable.deleteByKeysEq(Seq(-i.toLong).toDF("k"), root))
    val at15 = SnapshotTable.currentSnapshot(spark, root)
    assert(SnapshotTable.settleOnDebt(spark, root).isEmpty)
    assert(SnapshotTable.currentSnapshot(spark, root) == at15,
      "below the threshold the cadence must not commit")
    assert(head(root).count(_.isDelete) == 15)
    SnapshotTable.deleteByKeysEq(Seq(3L).toDF("k"), root)
    // one data file: the fold runs, the bin-pack does not
    assert(SnapshotTable.settleOnDebt(spark, root).isEmpty)
    assert(!head(root).exists(_.isDelete), "16 entries must fold")
    assert(SnapshotTable.read(spark, root).select("k").as[Long].collect()
      .sorted.toSeq == (0L until 10L).filter(_ != 3L))
  }

  test("23 small files stay; the 24th bin-packs them into one file, " +
      "a 2,047-row file among them, while a 2,048-row file carries " +
      "verbatim") {
    val root = tmpRoot()
    append(root, 0L, 2048L, 1)
    append(root, 10000L, 2047L, 1)
    append(root, 20000L, 22L, 22)
    val at23 = SnapshotTable.currentSnapshot(spark, root)
    assert(head(root).size == 24)
    assert(SnapshotTable.settleOnDebt(spark, root).isEmpty)
    assert(SnapshotTable.currentSnapshot(spark, root) == at23,
      "23 small files must not bin-pack")
    append(root, 30000L, 1L, 1)
    val large = head(root).filter(_.rows.contains(2048L)).map(_.path)
    assert(large.size == 1)
    val (_, packed, written) = SnapshotTable.settleOnDebt(spark, root)
      .getOrElse(fail("24 small files must bin-pack"))
    assert((packed, written) == (24, 1))
    val after = head(root)
    assert(after.map(_.path).contains(large.head),
      "the 2,048-row file must carry verbatim")
    assert(after.flatMap(_.rows).sorted == Seq(2048L, 2047L + 23L))
    assert(SnapshotTable.read(spark, root).count() == 2048L + 2047L + 23L)
  }

  test("the 16th delete entry and the 24th small file in one pass: one " +
      "call folds and then bin-packs, although the fold empties two of " +
      "the small files") {
    import spark.implicits._
    val root = tmpRoot()
    // 23 one-row files, keys 0 to 22, with key stats: the fold rewrites
    // only the files the deletes' key bounds overlap
    SnapshotTable.commit(spark.range(0L, 23L, 1, 23).select(col("id").as("k")),
      root, statsCol = Some("k"))
    (1 to 15).foreach(i =>
      SnapshotTable.deleteByKeysEq(Seq(-i.toLong).toDF("k"), root))
    assert(SnapshotTable.settleOnDebt(spark, root).isEmpty)
    SnapshotTable.commit(Seq(100L).toDF("k"), root, statsCol = Some("k"))
    // the 24th small file above, and the 16th delete entry
    SnapshotTable.deleteByKeysEq(Seq(5L, 6L).toDF("k"), root)
    val (_, packed, written) = SnapshotTable.settleOnDebt(spark, root)
      .getOrElse(fail("24 small files before the fold must bin-pack"))
    assert(written == 1 && packed >= 22, s"packed $packed, wrote $written")
    assert(head(root).size == 1 && !head(root).exists(_.isDelete))
    assert(SnapshotTable.read(spark, root).select("k").as[Long].collect()
      .sorted.toSeq == (0L to 22L).filter(k => k != 5L && k != 6L) :+ 100L)
  }

  test("a bin-pack writes one file for 65,536 small-file rows and two " +
      "for 65,537") {
    Seq(65536L -> 1, 65537L -> 2).foreach { case (rows, files) =>
      val root = tmpRoot()
      append(root, 0L, rows, 33) // 33 files of fewer than 2,048 rows
      val (_, packed, written) = SnapshotTable.settleOnDebt(spark, root)
        .getOrElse(fail(s"33 small files must bin-pack"))
      assert((packed, written) == (33, files), s"$rows rows")
      assert(SnapshotTable.read(spark, root).count() == rows)
    }
  }
}
