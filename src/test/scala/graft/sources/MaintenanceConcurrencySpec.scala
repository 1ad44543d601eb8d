package graft.sources

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import graft.SparkSpec
import graft.ops.Bm25Index

/** The two delete forms of index maintenance in ONE session at once:
  * the SQL `maintain_bm25_index` procedure rewrites touched files (its
  * tables must stay DSv2-readable) while the library
  * [[Bm25Index.maintainBm25Index]] publishes equality deletes. The form
  * is an argument of the call, so neither caller can see the other's
  * choice, and the session conf is never touched.
  */
class MaintenanceConcurrencySpec extends SparkSpec {

  private lazy val wh =
    java.nio.file.Files.createTempDirectory("graft_mix_wh").toString

  private lazy val cat: String = {
    spark.conf.set("spark.sql.catalog.snapmix",
      classOf[SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.snapmix.warehouse", wh)
    "snapmix"
  }

  test("CALL maintain_bm25_index and library maintenance on two threads " +
      "keep their own delete forms, stay confluent, and leave the " +
      "session conf unchanged") {
    import spark.implicits._
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    spark.sql(s"CREATE TABLE $cat.db.pcorp (doc_id BIGINT, text STRING)")
    spark.sql(s"INSERT INTO $cat.db.pcorp VALUES " +
      "(1, 'alpha beta beta'), (2, 'beta gamma'), (3, 'delta'), " +
      "(4, 'eta theta')")
    spark.sql(s"CALL $cat.system.build_bm25_index('db.pcorp', 'db.pcix')")
      .collect()
    val procCorpus = s"$wh/db/pcorp"
    val procIx = s"$wh/db/pcix"
    val lib = java.nio.file.Files.createTempDirectory("graft_mix_lib")
      .toString
    val libCorpus = s"$lib/corpus"
    val libIx = s"$lib/ix"
    SnapshotTable.commit(Seq((1L, "one two"), (2L, "two three"),
        (3L, "four"), (4L, "five five")).toDF("doc_id", "text"),
      libCorpus, statsCol = Some("doc_id"))
    Bm25Index.buildBm25Index(spark, libCorpus, libIx)
    val confBefore = spark.conf.getAll
    def entries(root: String) =
      SnapshotTable.entries(spark, root, SnapshotTable.currentSnapshot(spark, root))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try (1 to 3).foreach { r =>
      spark.sql(s"UPDATE $cat.db.pcorp SET text = 'round$r word' " +
        s"WHERE doc_id = $r")
      spark.sql(s"INSERT INTO $cat.db.pcorp VALUES (${100 + r}, 'new$r')")
      SnapshotTable.merge(Seq((r.toLong, s"round$r word"),
          (100L + r, s"new$r")).toDF("doc_id", "text"),
        libCorpus, "doc_id")
      val viaSql = Future(spark.sql(
        s"CALL $cat.system.maintain_bm25_index('db.pcorp', 'db.pcix')")
        .head.getLong(0))
      val viaLib = Future(
        Bm25Index.maintainBm25Index(spark, libCorpus, libIx))
      assert(Await.result(viaSql, 5.minutes) ==
        SnapshotTable.currentSnapshot(spark, procCorpus))
      assert(Await.result(viaLib, 5.minutes) ==
        SnapshotTable.currentSnapshot(spark, libCorpus))
      // the procedure's tables carry no delete entries: SQL reads them
      Seq(Bm25Index.tfRoot(procIx), Bm25Index.dlRoot(procIx)).foreach {
        root => assert(!entries(root).exists(_.isDelete),
          s"round $r: the procedure left delete entries in $root")
      }
      assert(spark.sql(s"SELECT count(*) FROM $cat.db.pcix.dl")
        .head.getLong(0) == 4L + r)
      assert(entries(Bm25Index.tfRoot(libIx)).exists(_.isEqDelete),
        s"round $r: library maintenance must publish equality deletes")
      assert(Bm25Index.confluenceAudit(spark, procCorpus, procIx)._2 == 0L)
      assert(Bm25Index.confluenceAudit(spark, libCorpus, libIx)._2 == 0L)
    } finally pool.shutdown()
    assert(spark.conf.getAll == confBefore)
  }
}
