package graft.ops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.EqualTo

import graft.SparkSpec
import graft.sources.SnapshotTable

/** Index maintenance leaves no cached state behind: every RDD a pass
  * persists (the materialized change feed, the churn's token stream) is
  * released before the pass returns.
  */
class IndexCacheResidueSpec extends SparkSpec {

  private def persisted(): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("maintainBm25Index and maintainSq8Index persist no RDD past the pass") {
    import spark.implicits._
    val b = java.nio.file.Files.createTempDirectory("graft_ixcache").toString
    val textRoot = s"$b/text"
    val bm25Root = s"$b/bm25"
    SnapshotTable.commit(Seq((1L, "a b a"), (2L, "b c"), (3L, "d"))
      .toDF("doc_id", "text"), textRoot, statsCol = Some("doc_id"))
    Bm25Index.buildBm25Index(spark, textRoot, bm25Root)
    SnapshotTable.merge(Seq((2L, "x y"), (4L, "z")).toDF("doc_id", "text"),
      textRoot, "doc_id")
    SnapshotTable.deleteWhere(spark, textRoot, Seq(EqualTo("doc_id", 3L)))
    val before = persisted()
    Bm25Index.maintainBm25Index(spark, textRoot, bm25Root)
    assert(persisted() -- before == Set.empty,
      "maintainBm25Index left persisted RDDs behind")

    val vecRoot = s"$b/vec"
    val sq8Root = s"$b/sq8"
    val emb = graft.Tables.embeddings(spark, sfDir)
      .select("vec_id", "embedding").filter(col("vec_id") < 30L)
    SnapshotTable.commit(emb, vecRoot, statsCol = Some("vec_id"))
    AnnIndex.buildSq8Index(spark, vecRoot, sq8Root)
    SnapshotTable.merge(emb.filter(col("vec_id") === 5L)
        .withColumn("embedding",
          transform(col("embedding"), x => x * lit(2.0f))),
      vecRoot, "vec_id")
    SnapshotTable.deleteWhere(spark, vecRoot, Seq(EqualTo("vec_id", 9L)))
    val before2 = persisted()
    AnnIndex.maintainSq8Index(spark, vecRoot, sq8Root)
    assert(persisted() -- before2 == Set.empty,
      "maintainSq8Index left persisted RDDs behind")
  }
}
