package graft.ops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{GreaterThan, LessThanOrEqual}

import graft.SparkSpec
import graft.sources.SnapshotTable

/** Incremental SQ8 index maintenance ([[AnnIndex]]): the index is a
  * snapshot table maintained from the corpus change feed, and a
  * maintained index must equal an index rebuilt from the final corpus
  * under the SAME frozen codebook — confluence, the property that
  * makes "never rebuild" safe.
  */
class AnnIndexSpec extends SparkSpec {

  private def roots(tag: String): (String, String) = {
    val b = java.nio.file.Files
      .createTempDirectory(s"graft_annidx_$tag").toString
    (s"$b/corpus", s"$b/index")
  }

  private def emb = graft.Tables.embeddings(spark, sfDir)
    .select("vec_id", "embedding")

  test("maintained index equals a rebuild under the frozen codebook " +
      "after merge (replace + insert) and a keyed delete; search " +
      "serves the maintained codes") {
    import spark.implicits._
    val (corpusRoot, indexRoot) = roots("confluence")
    SnapshotTable.commit(emb.repartitionByRange(8, col("vec_id")),
      corpusRoot, statsCol = Some("vec_id"))
    AnnIndex.buildSq8Index(spark, corpusRoot, indexRoot)
    val frozen = AnnIndex.statsOf(spark, indexRoot)
    // churn: replace %10==3 (doubled vectors), insert shifted copies
    // of %10==7, then delete the (100, 200] id band
    val mods = emb.filter(col("vec_id") % 10 === 3)
      .withColumn("embedding",
        transform(col("embedding"), x => x * lit(2.0f)))
    val ins = emb.filter(col("vec_id") % 10 === 7)
      .select((col("vec_id") + 10000000L).as("vec_id"), col("embedding"))
    SnapshotTable.merge(mods.unionByName(ins), corpusRoot, "vec_id")
    SnapshotTable.deleteWhere(spark, corpusRoot,
      Seq(GreaterThan("vec_id", 100L), LessThanOrEqual("vec_id", 200L)))
    AnnIndex.maintainSq8Index(spark, corpusRoot, indexRoot)
    // confluence: maintained codes == quantize(final corpus, frozen)
    val maintained = SnapshotTable.read(spark, indexRoot)
      .select(col("vec_id"), col("codes").cast("string"))
      .as[(Long, String)].collect().sorted.toSeq
    val rebuilt = AnnIndex
      .quantize(SnapshotTable.read(spark, corpusRoot), frozen)
      .select(col("vec_id"), col("codes").cast("string"))
      .as[(Long, String)].collect().sorted.toSeq
    assert(maintained == rebuilt)
    assert(maintained.nonEmpty)
    // the deleted band is gone, the inserts are present
    val ids = maintained.map(_._1).toSet
    assert(!ids.exists(id => id > 100L && id <= 200L))
    assert(ids.exists(_ >= 10000000L))
    // search serves the maintained index, k rows per query
    val res = AnnIndex.searchSq8Index(spark, indexRoot,
      Similarity.queryVectors(spark, sfDir), 5)
    assert(res.groupBy("query_id").count()
      .filter(col("count") =!= 5).count() == 0)
  }

  test("maintenance is O(delta)-write: a pass publishes eq-deletes " +
      "and appends (no touched-file rewrite); the settle cadence " +
      "folds the debt") {
    import spark.implicits._
    val (corpusRoot, indexRoot) = roots("eqdelta")
    SnapshotTable.commit(emb.repartitionByRange(4, col("vec_id")),
      corpusRoot, statsCol = Some("vec_id"))
    AnnIndex.buildSq8Index(spark, corpusRoot, indexRoot)
    def files(): Seq[String] = SnapshotTable.fileList(spark, indexRoot,
      SnapshotTable.currentSnapshot(spark, indexRoot))
    val before = files().toSet
    val mods = emb.filter(col("vec_id") % 10 === 3)
      .withColumn("embedding",
        transform(col("embedding"), x => x * lit(2.0f)))
    SnapshotTable.merge(mods, corpusRoot, "vec_id")
    SnapshotTable.deleteWhere(spark, corpusRoot,
      Seq(GreaterThan("vec_id", 100L), LessThanOrEqual("vec_id", 120L)))
    AnnIndex.maintainSq8Index(spark, corpusRoot, indexRoot)
    val after = files()
    assert(before.subsetOf(after.toSet),
      s"maintenance must not rewrite index files: lost " +
        s"${before.diff(after.toSet)}")
    assert(after.exists(_.startsWith("deletes/eq-")),
      "the delete half must be an equality-delete entry")
    // fold cadence: aged one entry short of the fold with equality
    // deletes of absent ids (the debt a long-lived index accrues between
    // folds), the next pass adds the entry that reaches the threshold
    // and settles it
    def deleteEntries: Int = files().count(_.startsWith("deletes/"))
    (deleteEntries until SnapshotTable.EqDeleteFoldEntries - 1).foreach(k =>
      SnapshotTable.deleteByKeysEq(Seq(-1L - k).toDF("vec_id"), indexRoot))
    assert(deleteEntries == 15)
    SnapshotTable.deleteWhere(spark, corpusRoot,
      Seq(GreaterThan("vec_id", 130L), LessThanOrEqual("vec_id", 140L)))
    AnnIndex.maintainSq8Index(spark, corpusRoot, indexRoot)
    assert(deleteEntries == 0, "the settle cadence must fold eq-delete debt")
    val frozen = AnnIndex.statsOf(spark, indexRoot)
    assert(SnapshotTable.read(spark, indexRoot)
      .select(col("vec_id"), col("codes").cast("string"))
      .as[(Long, String)].collect().sorted.toSeq ==
      AnnIndex.quantize(SnapshotTable.read(spark, corpusRoot), frozen)
        .select(col("vec_id"), col("codes").cast("string"))
        .as[(Long, String)].collect().sorted.toSeq,
      "folding the debt must preserve the rows")
  }

  test("maintenance is exactly-once (replay = no-op) and a " +
      "deletes-only cycle advances the floor in one commit, no data file") {
    import spark.implicits._
    val (corpusRoot, indexRoot) = roots("floor")
    SnapshotTable.commit(emb.repartitionByRange(4, col("vec_id")),
      corpusRoot, statsCol = Some("vec_id"))
    AnnIndex.buildSq8Index(spark, corpusRoot, indexRoot)
    assert(AnnIndex.maintainedThrough(spark, indexRoot) == 1L)
    // replay with no corpus change: nothing commits
    val before = SnapshotTable.currentSnapshot(spark, indexRoot)
    AnnIndex.maintainSq8Index(spark, corpusRoot, indexRoot)
    assert(SnapshotTable.currentSnapshot(spark, indexRoot) == before)
    // deletes-only churn
    val n0 = SnapshotTable.read(spark, indexRoot).count()
    def dataFiles(): Set[String] = SnapshotTable.fileList(spark, indexRoot,
      SnapshotTable.currentSnapshot(spark, indexRoot))
      .filterNot(_.startsWith("deletes/")).toSet
    val files0 = dataFiles()
    SnapshotTable.deleteWhere(spark, corpusRoot,
      Seq(GreaterThan("vec_id", 300L), LessThanOrEqual("vec_id", 320L)))
    AnnIndex.maintainSq8Index(spark, corpusRoot, indexRoot)
    assert(SnapshotTable.currentSnapshot(spark, indexRoot) == before + 1L)
    assert(dataFiles() == files0, "a deletes-only pass appends nothing")
    assert(AnnIndex.maintainedThrough(spark, indexRoot) ==
      SnapshotTable.currentSnapshot(spark, corpusRoot))
    val left = SnapshotTable.read(spark, indexRoot)
    assert(left.count() == n0 - 20L)
    assert(left.filter(col("vec_id") > 300L && col("vec_id") <= 320L)
      .count() == 0L)
    // and the index equals the frozen-codebook rebuild again
    val frozen = AnnIndex.statsOf(spark, indexRoot)
    assert(left.select(col("vec_id"), col("codes").cast("string"))
      .as[(Long, String)].collect().sorted.toSeq ==
      AnnIndex.quantize(SnapshotTable.read(spark, corpusRoot), frozen)
        .select(col("vec_id"), col("codes").cast("string"))
        .as[(Long, String)].collect().sorted.toSeq)
  }

  test("a pass with both removals and adds is ONE snapshot, and the " +
      "index stays confluent with the frozen-codebook rebuild") {
    import spark.implicits._
    val (corpusRoot, indexRoot) = roots("onecommit")
    SnapshotTable.commit(emb.filter(col("vec_id") < 40L)
        .repartitionByRange(2, col("vec_id")),
      corpusRoot, statsCol = Some("vec_id"))
    AnnIndex.buildSq8Index(spark, corpusRoot, indexRoot)
    val v0 = SnapshotTable.currentSnapshot(spark, indexRoot)
    // replace 3 and 13, insert a shifted copy of 7, delete (20, 25]
    val e = emb.filter(col("vec_id") < 40L)
    SnapshotTable.merge(
      e.filter(col("vec_id").isin(3L, 13L))
        .withColumn("embedding",
          transform(col("embedding"), x => x * lit(2.0f)))
        .unionByName(e.filter(col("vec_id") === 7L)
          .select((col("vec_id") + 1000L).as("vec_id"), col("embedding"))),
      corpusRoot, "vec_id")
    SnapshotTable.deleteWhere(spark, corpusRoot,
      Seq(GreaterThan("vec_id", 20L), LessThanOrEqual("vec_id", 25L)))
    AnnIndex.maintainSq8Index(spark, corpusRoot, indexRoot)
    assert(SnapshotTable.currentSnapshot(spark, indexRoot) == v0 + 1L,
      "deletes, codes and floor publish as one snapshot")
    assert(AnnIndex.maintainedThrough(spark, indexRoot) ==
      SnapshotTable.currentSnapshot(spark, corpusRoot))
    val frozen = AnnIndex.statsOf(spark, indexRoot)
    assert(SnapshotTable.read(spark, indexRoot)
      .select(col("vec_id"), col("codes").cast("string"))
      .as[(Long, String)].collect().sorted.toSeq ==
      AnnIndex.quantize(SnapshotTable.read(spark, corpusRoot), frozen)
        .select(col("vec_id"), col("codes").cast("string"))
        .as[(Long, String)].collect().sorted.toSeq)
  }
}
