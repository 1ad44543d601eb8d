package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, GreaterThan}

import graft.SparkSpec

/** SQL reads of MERGE-ON-READ snapshots ([[ResolveSnapshotDeletes]]):
  * a snapshot carrying delete vectors, equality deletes or both — under
  * a renamed column too — reads through `format("graft-snap")`, catalog
  * `SELECT` and `VERSION AS OF` as the same bag of rows
  * [[SnapshotTable.readAt]] returns at the pinned id, while SQL
  * `DELETE` / `UPDATE` / `MERGE` on it still refuse until
  * [[SnapshotTable.rewriteDeletes]] folds the deletes.
  */
class SnapshotMorSqlSpec extends SparkSpec {

  private lazy val wh =
    java.nio.file.Files.createTempDirectory("graft_morsql_wh").toString

  private lazy val cat: String = {
    spark.conf.set("spark.sql.catalog.snapmor",
      classOf[SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.snapmor.warehouse", wh)
    "snapmor"
  }

  private def bag(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  // 20 rows over 4 range-clustered files, stats on k
  private def seed(name: String): (String, Long) = {
    import spark.implicits._
    val root = s"$wh/db/$name"
    val df = (1L to 20L).map(k => (k, k % 3, s"r$k")).toDF("k", "m", "v")
    (root, SnapshotTable.commit(df.repartitionByRange(4, col("k")), root,
      statsCol = Some("k")))
  }

  private def causes(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(x => String.valueOf(x.getMessage)).mkString(" / ")

  /** Every SQL read surface of `name` at its head and at `older` equals
    * the library read at the same id; DML on the head refuses.
    */
  private def checkSurfaces(name: String, root: String, older: Long,
      valueCol: String): Unit = {
    val head = SnapshotTable.currentSnapshot(spark, root)
    val atHead = SnapshotTable.readAt(spark, root, head)
    val atOlder = SnapshotTable.readAt(spark, root, older)
    assert(SnapshotTable.entries(spark, root, head).exists(_.isDelete))
    val expect = bag(atHead)
    assert(bag(spark.read.format("graft-snap").load(root)) == expect)
    assert(bag(spark.sql(s"SELECT * FROM $cat.db.$name")) == expect)
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.$name")
      .head.getLong(0) == atHead.count())
    // time travel: SQL and the path option pin the older snapshot
    assert(bag(spark.sql(
      s"SELECT * FROM $cat.db.$name VERSION AS OF $older")) == bag(atOlder))
    assert(bag(spark.read.format("graft-snap").option("snapshot", older)
      .load(root)) == bag(atOlder))
    // filtered and projected
    assert(bag(spark.sql(s"SELECT $valueCol, k FROM $cat.db.$name " +
        "WHERE k > 4 AND m <> 2")) ==
      bag(atHead.filter(col("k") > 4 && col("m") =!= 2)
        .select(valueCol, "k")))
    // a self-join resolves both sides (keys are unique in every table)
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.$name a " +
      s"JOIN $cat.db.$name b ON a.k = b.k").head.getLong(0) ==
      atHead.count())
    // the deletes are applied by the library plan, not the DSv2 scan
    val plan = spark.sql(s"SELECT * FROM $cat.db.$name")
      .queryExecution.optimizedPlan
    assert(plan.collect { case r: org.apache.spark.sql.execution
      .datasources.v2.DataSourceV2ScanRelation => r }.isEmpty, plan)
    // DML targets keep refusing: a copy-on-write rewrite cannot carry
    // the deletes
    Seq(s"DELETE FROM $cat.db.$name WHERE k = 3",
      s"UPDATE $cat.db.$name SET m = 7 WHERE k = 3",
      s"MERGE INTO $cat.db.$name t USING (SELECT 3L AS k) s " +
        "ON t.k = s.k WHEN MATCHED THEN DELETE").foreach { sql =>
      val e = intercept[Exception](spark.sql(sql).collect())
      assert(causes(e).contains("rewriteDeletes"), s"$sql: ${causes(e)}")
    }
    assert(SnapshotTable.currentSnapshot(spark, root) == head,
      "a refused DML statement must not commit")
  }

  test("delete vectors: every SQL read surface equals readAt at the " +
      "pinned id, time travel included; DML refuses") {
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    val (root, v1) = seed("dv")
    val (v2, _, _, _) = SnapshotTable.deleteWhereMor(spark, root,
      Seq(EqualTo("m", 1L)))
    SnapshotTable.deleteWhereMor(spark, root, Seq(GreaterThan("k", 17L)))
    assert(SnapshotTable.read(spark, root).count() == 11L)
    checkSurfaces("dv", root, v2, "v")
    assert(bag(spark.sql(s"SELECT * FROM $cat.db.dv VERSION AS OF $v1"))
      .size == 20)
  }

  test("equality deletes: upsert and key retraction read through SQL " +
      "as readAt does; a resolved frame keeps its pin across a later " +
      "commit; DML refuses") {
    import spark.implicits._
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    val (root, _) = seed("eq")
    val v2 = SnapshotTable.upsertEq(
      Seq((5L, 9L, "u5"), (100L, 1L, "new")).toDF("k", "m", "v"), root,
      Seq("k"))
    SnapshotTable.deleteByKeysEq(Seq(6L, 7L).toDF("k"), root)
    checkSurfaces("eq", root, v2, "v")
    // resolve-once pin: a commit after analysis changes nothing
    val pinned = spark.read.format("graft-snap").load(root)
    val before = bag(SnapshotTable.read(spark, root))
    SnapshotTable.deleteByKeysEq(Seq(8L).toDF("k"), root)
    assert(bag(pinned) == before)
    assert(bag(spark.read.format("graft-snap").load(root)).size ==
      before.size - 1)
    // a merge-on-read table as the SOURCE of a write reads correctly
    spark.sql(s"CREATE TABLE $cat.db.eqcopy (k BIGINT, m BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $cat.db.eqcopy SELECT * FROM $cat.db.eq")
    assert(bag(spark.sql(s"SELECT * FROM $cat.db.eqcopy")) ==
      bag(SnapshotTable.read(spark, root)))
    val (tgt, _) = seed("eqtarget")
    spark.sql(s"MERGE INTO $cat.db.eqtarget t USING $cat.db.eq s " +
      "ON t.k = s.k WHEN MATCHED THEN UPDATE SET * " +
      "WHEN NOT MATCHED THEN INSERT *")
    val src = SnapshotTable.read(spark, root)
    assert(bag(SnapshotTable.read(spark, tgt)) ==
      bag(SnapshotTable.readAt(spark, tgt, 1L)
        .join(src.select("k"), Seq("k"), "left_anti").unionByName(src)))
  }

  test("a renamed column with delete vectors and equality deletes keyed " +
      "on it reads under its logical name through SQL; DML refuses") {
    import spark.implicits._
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    val (root, _) = seed("ren")
    val v2 = SnapshotTable.renameColumn(spark, root, "v", "label")
    SnapshotTable.deleteWhereMor(spark, root, Seq(EqualTo("m", 0L)))
    SnapshotTable.deleteByKeysEq(Seq("r4", "r10").toDF("label"), root)
    SnapshotTable.upsertEq(Seq((2L, 2L, "two")).toDF("k", "m", "label"),
      root, Seq("k"))
    assert(spark.sql(s"SELECT * FROM $cat.db.ren").columns.toSeq ==
      Seq("k", "m", "label"))
    checkSurfaces("ren", root, v2, "label")
    // after the fold the same SQL answer comes back from the DSv2 scan
    val expect = bag(SnapshotTable.read(spark, root))
    SnapshotTable.rewriteDeletes(spark, root)
    val folded = spark.sql(s"SELECT * FROM $cat.db.ren")
    assert(bag(folded) == expect)
    assert(folded.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2
        .DataSourceV2ScanRelation => r }.nonEmpty)
  }
}
