package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.SnapshotTable

/** The maintained BM25 index ([[Bm25Index]]):
  *
  *  - confluence: after append / merge-update / insert / COW-delete
  *    churn, one maintenance pass leaves tf/dl row-for-row equal to a
  *    from-scratch tokenize of the final corpus;
  *  - search equality: the maintained-index search equals
  *    [[Retrieval.bm25TopK]] over the final corpus, row-for-row;
  *  - idempotence: a replayed pass below the floor is a no-op;
  *  - honesty: dl counts token-less docs with dl = 0 so n_docs never
  *    drifts.
  */
class Bm25IndexSpec extends SparkSpec {

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_bm25ix").toString

  private def deleteEntries(root: String): Int = SnapshotTable.fileList(
    spark, root, SnapshotTable.currentSnapshot(spark, root))
    .count(_.startsWith("deletes/"))

  /** Tops each of `roots` up to `n` delete entries with equality
    * deletes of doc ids no row carries, the tables side by side: the
    * debt a long-lived index accrues between folds, without the passes
    * that would accrue it.
    */
  private def ageTo(roots: Seq[String], n: Int): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    import spark.implicits._
    roots.map(root => Future {
      (deleteEntries(root) until n).foreach(k => SnapshotTable
        .deleteByKeysEq(Seq(-1L - k).toDF("doc_id"), root))
    }).foreach(Await.result(_, Duration.Inf))
  }

  test("maintained tf/dl are confluent with a rebuild, and the index " +
      "search equals the from-scratch scorer after churn") {
    import spark.implicits._
    val b = tmp()
    val corpusRoot = s"$b/corpus"
    val indexRoot = s"$b/ix"
    val docs = graft.Tables.documents(spark, sfDir)
      .select("doc_id", "text")
    SnapshotTable.commit(docs.repartitionByRange(4, col("doc_id")),
      corpusRoot, statsCol = Some("doc_id"))
    Bm25Index.buildBm25Index(spark, corpusRoot, indexRoot)
    // zero-churn audit first
    val (_, diff0) = Bm25Index.confluenceAudit(spark, corpusRoot, indexRoot)
    assert(diff0 == 0L)
    // churn: update, insert (including an EMPTY-text doc), delete
    val mods = docs.filter(col("doc_id") % 7 === 2)
      .withColumn("text", concat(lit("prepended "), col("text")))
    val ins = Seq((20000001L, "fresh tokens here"), (20000002L, ""))
      .toDF("doc_id", "text")
    SnapshotTable.merge(mods.unionByName(ins), corpusRoot, "doc_id")
    SnapshotTable.deleteWhere(spark, corpusRoot,
      Seq(org.apache.spark.sql.sources.GreaterThan("doc_id", 50L),
        org.apache.spark.sql.sources.LessThanOrEqual("doc_id", 90L)))
    val through = Bm25Index.maintainBm25Index(spark, corpusRoot, indexRoot)
    assert(through == SnapshotTable.currentSnapshot(spark, corpusRoot))
    val (nTf, diff) = Bm25Index.confluenceAudit(spark, corpusRoot, indexRoot)
    assert(diff == 0L, s"maintained index diverged from rebuild by $diff")
    assert(nTf > 0L)
    // the empty-text doc must be IN dl (dl = 0) so n_docs is exact
    assert(SnapshotTable.read(spark, Bm25Index.dlRoot(indexRoot))
      .filter(col("doc_id") === 20000002L).head.getLong(1) == 0L)
    // search equality vs the gated from-scratch scorer on the final
    // corpus
    val fromIndex = Bm25Index.searchBm25Index(spark, corpusRoot, indexRoot)
      .orderBy("query_id", "rank").collect().toSeq
    val fromScratch = Retrieval.bm25TopK(
        SnapshotTable.read(spark, corpusRoot))
      .orderBy("query_id", "rank").collect().toSeq
    assert(fromIndex == fromScratch)
    // idempotence: replaying below the floor is a no-op
    val tfV = SnapshotTable.currentSnapshot(spark,
      Bm25Index.tfRoot(indexRoot))
    assert(Bm25Index.maintainBm25Index(spark, corpusRoot, indexRoot)
      == through)
    assert(SnapshotTable.currentSnapshot(spark,
      Bm25Index.tfRoot(indexRoot)) == tfV)
  }

  test("a crashed pass replays idempotently: re-applying the same " +
      "feed below an un-advanced floor converges to the same tables") {
    import spark.implicits._
    val b = tmp()
    val corpusRoot = s"$b/corpus"
    val indexRoot = s"$b/ix"
    val docs = Seq((1L, "a b a"), (2L, "b c"), (3L, "d"))
      .toDF("doc_id", "text")
    SnapshotTable.commit(docs, corpusRoot, statsCol = Some("doc_id"))
    Bm25Index.buildBm25Index(spark, corpusRoot, indexRoot)
    SnapshotTable.merge(Seq((2L, "x y"), (4L, "z")).toDF("doc_id", "text"),
      corpusRoot, "doc_id")
    val from = Bm25Index.maintainedThrough(spark, indexRoot)
    val to = SnapshotTable.currentSnapshot(spark, corpusRoot)
    val feed = SnapshotTable.changeFeed(spark, corpusRoot, from, to)
    // simulate the crash: the pass's real tf row delta (delete every
    // touched doc, append the post-images' tf rows) lands, the dl one
    // with the floor does not — then run the real pass over the same
    // feed: its delete must outrank and kill the crashed attempt's
    // appended rows before re-appending them, or tf double-counts
    val tfR = Bm25Index.tfRoot(indexRoot)
    val tfBefore = SnapshotTable.read(spark, tfR).count()
    SnapshotTable.rowDelta(spark, tfR,
      Some(feed.select("doc_id").distinct()),
      Some(Bm25Index.tfOf(feed.filter(col("_op").isin("A", "I", "U", "XA"))
        .select("doc_id", "text"))), Map.empty)
    assert(SnapshotTable.read(spark, tfR).count() != tfBefore,
      "the simulated crash must have changed tf")
    assert(Bm25Index.maintainedThrough(spark, indexRoot) == from)
    Bm25Index.applyFeed(spark, indexRoot, feed, to)
    val (_, diff) = Bm25Index.confluenceAudit(spark, corpusRoot, indexRoot)
    assert(diff == 0L,
      "replay over a half-applied pass must converge, not double-apply")
  }

  test("a pass commits ONCE per index table: without a fold tf and dl " +
      "each advance by exactly one snapshot") {
    import spark.implicits._
    val b = tmp()
    val corpusRoot = s"$b/corpus"
    val indexRoot = s"$b/ix"
    SnapshotTable.commit(Seq((1L, "a b a"), (2L, "b c"), (3L, "d"),
      (4L, "e f")).toDF("doc_id", "text"), corpusRoot,
      statsCol = Some("doc_id"))
    Bm25Index.buildBm25Index(spark, corpusRoot, indexRoot)
    val roots = Seq(Bm25Index.tfRoot(indexRoot), Bm25Index.dlRoot(indexRoot))
    def heads() = roots.map(SnapshotTable.currentSnapshot(spark, _))
    // update 2, insert 5, delete 3: deletes and appends in one pass
    SnapshotTable.merge(Seq((2L, "x y"), (5L, "z")).toDF("doc_id", "text"),
      corpusRoot, "doc_id")
    SnapshotTable.deleteWhere(spark, corpusRoot,
      Seq(org.apache.spark.sql.sources.EqualTo("doc_id", 3L)))
    val before = heads()
    Bm25Index.maintainBm25Index(spark, corpusRoot, indexRoot)
    assert(heads() == before.map(_ + 1L),
      s"one commit per table per pass: ${before} -> ${heads()}")
    assert(Bm25Index.maintainedThrough(spark, indexRoot) ==
      SnapshotTable.currentSnapshot(spark, corpusRoot))
    val (_, diff) = Bm25Index.confluenceAudit(spark, corpusRoot, indexRoot)
    assert(diff == 0L)
  }

  test("a deletes-only pass adds no data file to dl: the row delta " +
      "publishes the key file and the floor, no empty append") {
    import spark.implicits._
    val b = tmp()
    val corpusRoot = s"$b/corpus"
    val indexRoot = s"$b/ix"
    SnapshotTable.commit(Seq((1L, "a b"), (2L, "b c"), (3L, "d"))
      .toDF("doc_id", "text"), corpusRoot, statsCol = Some("doc_id"))
    Bm25Index.buildBm25Index(spark, corpusRoot, indexRoot)
    val dlR = Bm25Index.dlRoot(indexRoot)
    def dataFiles(root: String): Set[String] = SnapshotTable.fileList(spark,
      root, SnapshotTable.currentSnapshot(spark, root))
      .filterNot(_.startsWith("deletes/")).toSet
    val before = dataFiles(dlR)
    SnapshotTable.deleteWhere(spark, corpusRoot,
      Seq(org.apache.spark.sql.sources.EqualTo("doc_id", 2L)))
    Bm25Index.maintainBm25Index(spark, corpusRoot, indexRoot)
    assert(dataFiles(dlR) == before,
      s"a deletes-only pass must add no dl data file: " +
        s"${dataFiles(dlR) -- before}")
    assert(Bm25Index.maintainedThrough(spark, indexRoot) ==
      SnapshotTable.currentSnapshot(spark, corpusRoot))
    assert(SnapshotTable.read(spark, dlR).select("doc_id").as[Long]
      .collect().sorted.toSeq == Seq(1L, 3L))
    val (_, diff) = Bm25Index.confluenceAudit(spark, corpusRoot, indexRoot)
    assert(diff == 0L)
  }

  test("maintenance deletes are O(delta): a pass publishes equality " +
      "deletes (no touched-file rewrite) and the settle cadence folds " +
      "them back into data files") {
    import spark.implicits._
    val b = tmp()
    val corpusRoot = s"$b/corpus"
    val indexRoot = s"$b/ix"
    val docs = Seq((1L, "a b a"), (2L, "b c"), (3L, "d e"), (4L, "f"))
      .toDF("doc_id", "text")
    SnapshotTable.commit(docs.repartitionByRange(2, col("doc_id")),
      corpusRoot, statsCol = Some("doc_id"))
    Bm25Index.buildBm25Index(spark, corpusRoot, indexRoot)
    val tfR = Bm25Index.tfRoot(indexRoot)
    def files(root: String): Seq[String] = SnapshotTable.fileList(spark,
      root, SnapshotTable.currentSnapshot(spark, root))
    val before = files(tfR).toSet
    SnapshotTable.merge(Seq((2L, "x y")).toDF("doc_id", "text"),
      corpusRoot, "doc_id")
    Bm25Index.maintainBm25Index(spark, corpusRoot, indexRoot)
    val after = files(tfR)
    // O(delta) write: every pre-pass data file survives VERBATIM — the
    // delete half is a delta-sized manifest entry, not a rewrite
    assert(before.subsetOf(after.toSet),
      s"maintenance must not rewrite index files: lost " +
        s"${before.diff(after.toSet)}")
    assert(after.exists(_.startsWith("deletes/eq-")),
      "the delete half must be an equality-delete entry")
    val (_, diff) = Bm25Index.confluenceAudit(spark, corpusRoot, indexRoot)
    assert(diff == 0L, "reads must apply the eq-delete debt")
    // fold cadence: aged one entry short of the fold, both tables
    // carry their debt through the cadence's no-op check; the next
    // pass adds the entry that reaches the threshold and settles it —
    // no delete entries remain and reads stay confluent
    val roots = Seq(tfR, Bm25Index.dlRoot(indexRoot))
    ageTo(roots, SnapshotTable.EqDeleteFoldEntries - 1)
    assert(roots.map(deleteEntries) == Seq(15, 15))
    SnapshotTable.merge(Seq((3L, "q r")).toDF("doc_id", "text"),
      corpusRoot, "doc_id")
    Bm25Index.maintainBm25Index(spark, corpusRoot, indexRoot)
    assert(roots.map(deleteEntries) == Seq(0, 0),
      "the settle cadence must fold eq-delete debt")
    val (_, diff2) = Bm25Index.confluenceAudit(spark, corpusRoot, indexRoot)
    assert(diff2 == 0L, "folding the debt must preserve the rows")
  }

  test("compaction cadence: repeated maintenance passes keep the index " +
      "file count BOUNDED (debt trigger fires), the floor and " +
      "confluence survive the compactions") {
    import spark.implicits._
    val b = tmp()
    val corpusRoot = s"$b/corpus"
    val indexRoot = s"$b/ix"
    val docs = spark.range(0, 400).select(col("id").as("doc_id"),
      concat(lit("tok"), col("id") % 50, lit(" common word")).as("text"))
    SnapshotTable.commit(docs.repartitionByRange(4, col("doc_id")),
      corpusRoot, statsCol = Some("doc_id"))
    Bm25Index.buildBm25Index(spark, corpusRoot, indexRoot)
    // every index file holds far fewer than 2,048 rows, so each counts
    // as small; with partition coalescing off each pass appends one tf
    // file per shuffle partition (4), as a wider churn would, so the
    // 8-file index reaches the 24-file threshold within a few passes
    val tfR = Bm25Index.tfRoot(indexRoot)
    def tfDataFiles(): Int = SnapshotTable.fileList(spark, tfR,
      SnapshotTable.currentSnapshot(spark, tfR))
      .count(!_.startsWith("deletes/"))
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    val counts = try (1 to 5).map { i =>
      SnapshotTable.merge(
        spark.range(i * 10L, i * 10L + 10L)
          .select(col("id").as("doc_id"),
            concat(lit("rev"), lit(i), lit(" pass"), col("id"))
              .as("text")),
        corpusRoot, "doc_id")
      Bm25Index.maintainBm25Index(spark, corpusRoot, indexRoot)
      tfDataFiles()
    } finally spark.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")
    // without the cadence each pass leaves 4 more files forever; with
    // it the count saw-tooths: it never ends a pass at the threshold,
    // and the pass that reaches it packs everything into one file
    assert(counts.max < SnapshotTable.SmallFileDebt,
      s"tf file count must stay under the debt trigger: $counts")
    assert(counts.contains(1), s"the debt trigger never fired: $counts")
    assert(Bm25Index.maintainedThrough(spark, indexRoot) ==
      SnapshotTable.currentSnapshot(spark, corpusRoot),
      "the floor must ride the compaction commits")
    val (_, diff) =
      Bm25Index.confluenceAudit(spark, corpusRoot, indexRoot)
    assert(diff == 0L, "compaction is layout-only: confluence holds")
  }
}
