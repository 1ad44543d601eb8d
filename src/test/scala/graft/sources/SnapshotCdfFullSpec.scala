package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, GreaterThan, LessThan, LessThanOrEqual}

import graft.SparkSpec

/** The COMPLETE row-level change feed: merge pre-images (`UB`), delete
  * change frames (`D`) from both the copy-on-write and merge-on-read
  * paths, lazily-read rows of metadata-only dropped files, no-op
  * steps for vector folds and zorder compactions, and
  * [[SnapshotTable.applyChanges]] folding all of it back to the exact
  * table state.
  */
class SnapshotCdfFullSpec extends SparkSpec {

  private def tmpRoot(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_cdff_$tag").toString + "/t"

  // 20 rows over 4 range-clustered files, stats on k
  private def seed(root: String): Unit = {
    import spark.implicits._
    val df = (1L to 20L).map(k => (k, k % 3, s"r$k")).toDF("k", "m", "v")
    SnapshotTable.commit(df.repartitionByRange(4, col("k")), root,
      statsCol = Some("k"))
  }

  test("a merge's change frame records UB pre-images: exactly the " +
      "replaced keys' OLD rows, alongside the U post-images") {
    import spark.implicits._
    val root = tmpRoot("ub")
    seed(root)
    val updates = Seq((5L, 99L, "new5"), (6L, 99L, "new6"),
      (100L, 99L, "fresh")).toDF("k", "m", "v")
    val (v2, _, _) = SnapshotTable.merge(updates, root, "k")
    val feed = SnapshotTable.changeFeed(spark, root, 1L, v2)
    val ub = feed.filter(col("_op") === "UB")
      .select("k", "m", "v").as[(Long, Long, String)].collect().toSet
    // the pre-images are the OLD rows of the keys that existed
    assert(ub == Set((5L, 5L % 3, "r5"), (6L, 6L % 3, "r6")))
    val post = feed.filter(col("_op") === "U")
      .select("v").as[String].collect().toSet
    assert(post == Set("new5", "new6"))
    assert(feed.filter(col("_op") === "I").count() == 1L)
  }

  test("a COW delete feeds op D: the boundary rewrite's dead rows from " +
      "its recorded frame, the dropped files' rows read lazily — and " +
      "the dropped files are NAMED in the manifest, not copied") {
    import spark.implicits._
    val root = tmpRoot("cow")
    seed(root)
    // k <= 7: low files all-match (drop metadata-only), one boundary
    // file rewrites, high files carry
    val (v2, dropped, rewritten, _) = SnapshotTable.deleteWhere(
      spark, root, Seq(LessThanOrEqual("k", 7L)))
    assert(dropped >= 1 && rewritten >= 1)
    val props = SnapshotTable.snapshotProps(spark, root, v2)
    val named = props.get("cdf.del.files").toSeq
      .flatMap(_.split(",")).filter(_.nonEmpty)
    assert(named.size == dropped)
    val feed = SnapshotTable.changeFeed(spark, root, 1L, v2)
    val d = feed.filter(col("_op") === "D")
      .select("k").as[Long].collect().toSet
    assert(d == (1L to 7L).toSet) // frame rows ∪ dropped-file rows
    assert(feed.filter(col("_op") =!= "D").count() == 0L)
  }

  test("a MOR delete's D frame holds exactly the marked rows — the " +
      "same cardinality as the delete vector it derives") {
    import spark.implicits._
    val root = tmpRoot("mor")
    seed(root)
    // m = 1: scattered, stats-blind on k → pure vector delete
    val (v2, dropped, marked, _) = SnapshotTable.deleteWhereMor(
      spark, root, Seq(EqualTo("m", 1L)))
    assert(dropped == 0 && marked > 0)
    val vecRows = SnapshotTable.entries(spark, root, v2)
      .filter(_.isDelete).flatMap(_.rows).sum
    val feed = SnapshotTable.changeFeed(spark, root, 1L, v2)
    val d = feed.filter(col("_op") === "D")
      .select("k").as[Long].collect().toSet
    assert(d == (1L to 20L).filter(_ % 3 == 1).toSet)
    assert(d.size.toLong == vecRows)
  }

  test("vector folds and zorder compactions are logical no-ops: the " +
      "feed crosses them with zero rows instead of refusing") {
    val root = tmpRoot("noop")
    seed(root)
    SnapshotTable.deleteWhereMor(spark, root, Seq(EqualTo("m", 1L)))
    val v3 = SnapshotTable.rewriteDeletes(spark, root)
    val v4 = SnapshotTable.compactZorder(spark, root, Seq("k"), 2, 8)
    val feed = SnapshotTable.changeFeed(spark, root, v3 - 1, v4)
    assert(feed.filter(col("_commit").isin(v3, v4)).count() == 0L)
    // and the fold across them reproduces the table
    val folded = SnapshotTable.applyChanges(
      SnapshotTable.readAt(spark, root, v3 - 1), feed, "k")
    import spark.implicits._
    assert(folded.select("k").as[Long].collect().sorted.toSeq ==
      SnapshotTable.read(spark, root).select("k")
        .as[Long].collect().sorted.toSeq)
  }

  test("applyChanges folds a mixed append/merge/COW/MOR/fold/append " +
      "history to the exact current state") {
    import spark.implicits._
    val root = tmpRoot("fold")
    seed(root)
    SnapshotTable.commit( // v2: append fresh keys
      Seq((30L, 0L, "a30"), (31L, 1L, "a31")).toDF("k", "m", "v"), root)
    SnapshotTable.merge( // v3: replace 2, insert 1
      Seq((10L, 7L, "m10"), (40L, 7L, "m40")).toDF("k", "m", "v"),
      root, "k")
    SnapshotTable.deleteWhere(spark, root, // v4: COW band
      Seq(GreaterThan("k", 15L), LessThanOrEqual("k", 20L)))
    SnapshotTable.deleteWhereMor(spark, root, // v5: MOR scattered
      Seq(EqualTo("m", 2L)))
    SnapshotTable.rewriteDeletes(spark, root) // v6: no-op fold
    val v7 = SnapshotTable.commit(
      Seq((50L, 9L, "a50")).toDF("k", "m", "v"), root)
    val feed = SnapshotTable.changeFeed(spark, root, 1L, v7)
    val folded = SnapshotTable.applyChanges(
      SnapshotTable.readAt(spark, root, 1L), feed, "k")
    val direct = SnapshotTable.read(spark, root)
      .select("k", "m", "v").as[(Long, Long, String)].collect().sorted.toSeq
    assert(folded.select("k", "m", "v").as[(Long, Long, String)]
      .collect().sorted.toSeq == direct)
    assert(direct.nonEmpty)
  }

  test("a SQL UPDATE crosses the feed as a file-diff step: XB " +
      "pre-images and XA post-images priced at the rewrite's touched " +
      "files, and rows the rewrite carried unchanged cancel in the fold") {
    import spark.implicits._
    val wh = java.nio.file.Files
      .createTempDirectory("graft_cdff_sqlwh").toString
    spark.conf.set("spark.sql.catalog.cdffsql",
      classOf[SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.cdffsql.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS cdffsql.db")
    spark.sql("CREATE TABLE cdffsql.db.t (k BIGINT, m BIGINT, v STRING)")
    val root = s"$wh/db/t"
    val df = (1L to 20L).map(k => (k, k % 3, s"r$k")).toDF("k", "m", "v")
    val v2 = SnapshotTable.commit(df.repartitionByRange(4, col("k")),
      root, statsCol = Some("k"))
    spark.sql("UPDATE cdffsql.db.t SET v = 'upd' WHERE k > 5 AND k <= 8")
    val v3 = SnapshotTable.currentSnapshot(spark, root)
    assert(v3 == v2 + 1) // one atomic snapshot per statement
    val feed = SnapshotTable.changeFeed(spark, root, v2, v3)
    assert(feed.select("_op").distinct().as[String].collect().toSet ==
      Set("XB", "XA"))
    // priced at the touched set: the stats-pruned rewrite replaced a
    // strict subset of the 4 files, and the feed scans exactly the
    // diffed files (replaced + new), never the carried ones
    val before = SnapshotTable.fileList(spark, root, v2).toSet
    val after = SnapshotTable.fileList(spark, root, v3).toSet
    val diffed = (before -- after).size + (after -- before).size
    assert((before -- after).size < before.size, "rewrite was not pruned")
    val scanned = feed.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.inputFiles.length
    }.sum
    assert(scanned == diffed,
      s"feed scanned $scanned files, expected the $diffed diffed ones")
    // unchanged rows appear as both XB and XA and cancel exactly
    val folded = SnapshotTable.applyChanges(
      SnapshotTable.readAt(spark, root, v2), feed, "k")
    assert(folded.select("k", "m", "v").as[(Long, Long, String)]
      .collect().sorted.toSeq ==
      SnapshotTable.read(spark, root).select("k", "m", "v")
        .as[(Long, Long, String)].collect().sorted.toSeq)
    val xb = feed.filter(col("_op") === "XB").select("k", "m", "v")
      .as[(Long, Long, String)].collect().toSet
    val xa = feed.filter(col("_op") === "XA").select("k", "m", "v")
      .as[(Long, Long, String)].collect().toSet
    // the full-row intersection is exactly the rewrite's carried-
    // unchanged rows: every XB row outside the updated band reappears
    // verbatim in XA (and cancels in the key algebra)
    assert((xb intersect xa) == xb.filterNot(r => r._1 > 5 && r._1 <= 8),
      "carried-unchanged rows must appear on both sides of the diff")
    assert(xb.map(_._1) == xa.map(_._1),
      "an UPDATE rewrites values, never the key set")
  }

  test("a partition replace crosses the feed as a file-diff step: the " +
      "old partition's rows XB, the new content XA — shrinking " +
      "replaces fold to deletes, and carried partitions never move") {
    import spark.implicits._
    val root = tmpRoot("rep")
    val df = (1L to 20L)
      .map(k => (k, if (k % 2 == 0) "e" else "o", s"r$k"))
      .toDF("k", "p", "v")
    SnapshotTable.commit(df, root, statsCol = Some("k"),
      partitionBy = Seq("p")) // v1
    // replace partition e with FEWER, different rows
    val (v2, _, _, carried) = SnapshotTable.commitReplace(
      Seq((100L, "e", "new100"), (102L, "e", "new102")).toDF("k", "p", "v"),
      root)
    assert(carried >= 1) // partition o untouched
    val feed = SnapshotTable.changeFeed(spark, root, 1L, v2)
    assert(feed.select("_op").distinct().as[String].collect().toSet ==
      Set("XB", "XA"))
    val xb = feed.filter(col("_op") === "XB").select("k")
      .as[Long].collect().toSet
    assert(xb == (1L to 20L).filter(_ % 2 == 0).toSet,
      "XB must be exactly the replaced partition's old rows")
    val folded = SnapshotTable.applyChanges(
      SnapshotTable.readAt(spark, root, 1L), feed, "k")
    assert(folded.select("k", "p", "v").as[(Long, String, String)]
      .collect().sorted.toSeq ==
      SnapshotTable.read(spark, root).select("k", "p", "v")
        .as[(Long, String, String)].collect().sorted.toSeq)
  }

  test("a delete that matches nothing records no frame and the feed " +
      "crosses it empty") {
    import spark.implicits._
    val root = tmpRoot("none")
    seed(root)
    val (v2, _, _, _) = SnapshotTable.deleteWhereMor(spark, root,
      Seq(GreaterThan("k", 999L)))
    assert(!SnapshotTable.snapshotProps(spark, root, v2)
      .contains("cdf.dir"))
    assert(SnapshotTable.changeFeed(spark, root, 1L, v2).count() == 0L)
  }

  test("a FULL OVERWRITE crosses the feed as a file-diff step: every " +
      "old row XB, every new row XA, and the fold equals the table") {
    import spark.implicits._
    val root = tmpRoot("ovw")
    seed(root) // v1
    val v2 = SnapshotTable.commit( // blind overwrite: new content
      (100L to 104L).map(k => (k, k % 3, s"n$k")).toDF("k", "m", "v"),
      root, overwrite = true)
    val feed = SnapshotTable.changeFeed(spark, root, 1L, v2)
    assert(feed.filter(col("_op") === "XB").select("k")
      .as[Long].collect().toSet == (1L to 20L).toSet,
      "XB must be exactly the overwritten table's rows")
    assert(feed.filter(col("_op") === "XA").select("k")
      .as[Long].collect().toSet == (100L to 104L).toSet)
    val folded = SnapshotTable.applyChanges(
      SnapshotTable.readAt(spark, root, 1L), feed, "k")
    assert(folded.select("k", "v").as[(Long, String)]
      .collect().sorted.toSeq ==
      SnapshotTable.read(spark, root).select("k", "v")
        .as[(Long, String)].collect().sorted.toSeq)
  }

  test("a ROLLBACK crosses the feed as a file-diff step: the undone " +
      "batch's rows come back as XB (deletes in the key algebra); a " +
      "rollback across a MOR delete refuses (visibility changed with " +
      "no file diff); pre-images subtract prior delete vectors") {
    import spark.implicits._
    val root = tmpRoot("rb")
    seed(root) // v1
    SnapshotTable.commit( // v2: the bad batch
      Seq((100L, 0L, "bad")).toDF("k", "m", "v"), root)
    val v3 = SnapshotTable.rollback(spark, root, 1L)
    val feed = SnapshotTable.changeFeed(spark, root, 2L, v3)
    assert(feed.filter(col("_op") === "XB").select("k")
      .as[Long].collect().toSeq == Seq(100L),
      "the rollback's XB must be exactly the undone batch")
    assert(feed.filter(col("_op") === "XA").count() == 0L)
    val folded = SnapshotTable.applyChanges(
      SnapshotTable.readAt(spark, root, 2L), feed, "k")
    assert(folded.select("k").as[Long].collect().sorted.toSeq ==
      (1L to 20L))
    // MOR delete at v4, rollback across it: the restored snapshot
    // drops the vector while carrying the data files — refused
    val (v4, _, _, _) = SnapshotTable.deleteWhereMor(spark, root,
      Seq(LessThanOrEqual("k", 3L)))
    assert(SnapshotTable.fileList(spark, root, v4)
      .exists(_.startsWith("deletes/")), "v4 must carry a vector")
    val v5 = SnapshotTable.rollback(spark, root, v3)
    val e = intercept[IllegalStateException] {
      SnapshotTable.changeFeed(spark, root, v4, v5).count()
    }
    assert(e.getMessage.contains("re-baseline"))
    // an overwrite directly after a VECTORED snapshot prices the
    // pre-images vector-exactly: the MOR-deleted keys never reach XB
    val root2 = tmpRoot("rbdv")
    seed(root2) // v1
    val (w2, _, _, _) = SnapshotTable.deleteWhereMor(spark, root2,
      Seq(LessThanOrEqual("k", 3L)))
    val w3 = SnapshotTable.commit(
      Seq((200L, 0L, "z")).toDF("k", "m", "v"), root2, overwrite = true)
    val xb = SnapshotTable.changeFeed(spark, root2, w2, w3)
      .filter(col("_op") === "XB").select("k").as[Long].collect().toSet
    assert(xb == (4L to 20L).toSet,
      s"XB must subtract the prior snapshot's delete vectors; got $xb")
  }

  test("applyChanges bounds plan depth across a 120-commit catch-up: " +
      "the barrier truncates lineage so the final plan is O(barrier) " +
      "deep, and the fold is exact regardless of where barriers land") {
    import spark.implicits._
    // synthetic feed (applyChanges consumes only the frame contract:
    // _commit/_op + row columns) — 120 row-removing merge steps, each
    // replacing two keys, is the long-catch-up shape the batch API
    // takes when a consumer resumes after days away
    val nCommits = 120
    val keys = 1L to 200L
    val state0 = keys.map(k => (k, s"r$k")).toDF("k", "v")
    val steps = (1 to nCommits).flatMap { c =>
      val k1 = (c * 7L) % 200L + 1L
      val k2 = (c * 13L) % 200L + 1L
      Seq((k1, s"old", "UB", c.toLong), (k1, s"c$c-a", "U", c.toLong)) ++
        (if (k2 != k1)
          Seq((k2, s"old", "UB", c.toLong), (k2, s"c$c-b", "U", c.toLong))
        else Seq.empty)
    }
    val feed = steps.toDF("k", "v", "_op", "_commit")
    val folded = SnapshotTable.applyChanges(state0, feed, "k")
    // exactness: last writer per key wins; untouched keys keep r$k
    val expected = keys.map { k =>
      val last = (1 to nCommits).reverse.find(c =>
        (c * 7L) % 200L + 1L == k || (c * 13L) % 200L + 1L == k)
      k -> last.map { c =>
        if ((c * 7L) % 200L + 1L == k) s"c$c-a" else s"c$c-b"
      }.getOrElse(s"r$k")
    }.sorted.toSeq
    assert(folded.as[(Long, String)].collect().sorted.toSeq == expected)
    // depth bound: the plan above the LAST barrier NESTS at most
    // `barrier` joins; without the barrier it would nest all 120.
    // (Total join COUNT in the optimized tail is O(barrier^2) — the
    // optimizer pushes each anti-join through the union into every
    // appended branch — but nesting depth is what Catalyst analysis
    // and the JVM stack pay for, and it is what the barrier bounds.)
    val barrier = SnapshotTable.FoldBarrier
    import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
    def joinDepth(p: LogicalPlan): Int = {
      val self = p match { case _: Join => 1; case _ => 0 }
      self + (if (p.children.isEmpty) 0
              else p.children.map(joinDepth).max)
    }
    val depth = joinDepth(folded.queryExecution.optimizedPlan)
    assert(depth <= barrier,
      s"plan nests $depth joins — the depth barrier is not truncating")
  }
}
