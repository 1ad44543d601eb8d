package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Write-audit-publish staged snapshots: invisible until published,
  * fast-forward publish is manifest-only, divergence refuses, a
  * dropped stage leaves the base untouched, and staged files are safe
  * from orphan removal while the audit is pending.
  */
class SnapshotWapSpec extends SparkSpec {

  private def tmpRoot(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_wap_$tag").toString + "/t"

  private def seed(root: String): Unit = {
    import spark.implicits._
    val df = (1L to 20L).map(k => (k, s"r$k")).toDF("k", "v")
    SnapshotTable.commit(df.repartitionByRange(4, col("k")), root,
      statsCol = Some("k"))
  }

  private def keys(df: org.apache.spark.sql.DataFrame): Seq[Long] = {
    import df.sparkSession.implicits._
    df.select("k").as[Long].collect().sorted.toSeq
  }

  test("a staged snapshot is invisible to head, readers, and time " +
      "travel; readWap sees the candidate state; publish fast-forwards " +
      "and the published version IS an append for the change feed") {
    import spark.implicits._
    val root = tmpRoot("pub")
    seed(root)
    val base = SnapshotTable.commitWap(
      Seq((30L, "w30"), (31L, "w31")).toDF("k", "v"), root, "batch_a")
    assert(base == 1L)
    assert(SnapshotTable.currentSnapshot(spark, root) == 1L) // invisible
    assert(keys(SnapshotTable.read(spark, root)) == (1L to 20L))
    assert(keys(SnapshotTable.readWap(spark, root, "batch_a")) ==
      ((1L to 20L) ++ Seq(30L, 31L)))
    val v2 = SnapshotTable.publishWap(spark, root, "batch_a")
    assert(v2 == 2L)
    assert(keys(SnapshotTable.read(spark, root)) ==
      ((1L to 20L) ++ Seq(30L, 31L)))
    assert(keys(SnapshotTable.readAt(spark, root, 1L)) == (1L to 20L))
    // provenance survives; the wap manifest is gone
    assert(SnapshotTable.snapshotProps(spark, root, v2)
      .get("wap.id").contains("batch_a"))
    intercept[IllegalArgumentException] {
      SnapshotTable.readWap(spark, root, "batch_a")
    }
    // downstream incremental consumers cross the publish as an append
    val feed = SnapshotTable.changeFeed(spark, root, 1L, v2)
    assert(feed.filter(col("_op") === "A").select("k")
      .as[Long].collect().sorted.toSeq == Seq(30L, 31L))
  }

  test("publish REBASES over a purely-additive interleaved append " +
      "(both deltas land); an overwrite interleave still refuses") {
    import spark.implicits._
    val root = tmpRoot("div")
    seed(root)
    SnapshotTable.commitWap(
      Seq((40L, "w40")).toDF("k", "v"), root, "stale")
    SnapshotTable.commit( // an interleaved main commit: v2
      Seq((50L, "a50")).toDF("k", "v"), root)
    // round 15: the audited delta still means what it meant across an
    // additive interleave — publish fast-forward-rebases onto v2
    val id = SnapshotTable.publishWap(spark, root, "stale")
    assert(id == 3L, s"rebased wap publish must land as v3, got v$id")
    assert(keys(SnapshotTable.read(spark, root)) ==
      ((1L to 20L) ++ Seq(40L, 50L)))
    assert(SnapshotTable.rowCount(spark, root, 3L).contains(22L))
    // provenance survives the rebase (crash convergence keys on it)
    assert(SnapshotTable.snapshotProps(spark, root, 3L)
      .get("wap.id").contains("stale"))
    // the staged entries carry the REBASED sequence (eq-delete scoping
    // must see them as v3 files, not v2)
    assert(SnapshotTable.entries(spark, root, 3L).exists(_.seq == 3L))
    // a NON-additive interleave (overwrite) keeps the loud refusal
    SnapshotTable.commitWap(
      Seq((60L, "w60")).toDF("k", "v"), root, "doomed")
    SnapshotTable.commit(
      Seq((99L, "o99")).toDF("k", "v"), root, overwrite = true)
    val e = intercept[IllegalStateException] {
      SnapshotTable.publishWap(spark, root, "doomed")
    }
    assert(e.getMessage.contains("re-stage"), e.getMessage)
    assert(SnapshotTable.dropWap(spark, root, "doomed") >= 1)
  }

  test("the DSv2 read pins at a staged snapshot via option(\"wap\"): " +
      "the audit sees the candidate state through plain SQL while " +
      "the default read still sees the base") {
    import spark.implicits._
    val root = tmpRoot("dsv2")
    seed(root)
    SnapshotTable.commitWap(
      Seq((70L, "w70")).toDF("k", "v"), root, "sqlaudit")
    val staged = spark.read.format("graft-snap")
      .option("wap", "sqlaudit").load(root)
    assert(keys(staged) == ((1L to 20L) :+ 70L))
    assert(keys(spark.read.format("graft-snap").load(root)) == (1L to 20L))
    intercept[IllegalArgumentException] {
      spark.read.format("graft-snap").option("wap", "sqlaudit")
        .option("snapshot", "1").load(root).collect()
    }
    SnapshotTable.dropWap(spark, root, "sqlaudit")
  }

  test("unfiltered MIN/MAX/COUNT aggregate to a driver-local row from " +
      "the manifest: no file scan in the plan, exact values incl. " +
      "null-aware COUNT(col) — string extrema and filters fall back") {
    import spark.implicits._
    val root = tmpRoot("agg")
    val df = (1L to 20L).map(k =>
      (k, k * 1.5, if (k % 2 == 0) null else s"v$k")).toDF("k", "d", "s")
    SnapshotTable.commit(df.repartitionByRange(4, col("k")), root,
      statsCol = Some("k,d,s"))
    val t = spark.read.format("graft-snap").load(root)
    val out = t.agg(min("k"), max("k"), count(lit(1)), count(col("d")),
      min("d"), max("d"), count(col("s")))
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("LocalTableScan"), plan)
    assert(!plan.contains("Scan parquet") && !plan.contains("BatchScan"),
      plan)
    assert(out.as[(Long, Long, Long, Long, Double, Double, Long)]
      .head() == ((1L, 20L, 20L, 20L, 1.5, 30.0, 10L)))
    // string extrema are DECLINED (footer string stats may be
    // truncated by writers — never trusted): real scan, right answer
    val sm = t.agg(max("s"))
    assert(!sm.queryExecution.executedPlan.toString
      .contains("LocalTableScan"))
    assert(sm.as[String].head() == "v9")
    // a filter makes exactness unprovable from stats: the aggregate
    // must come from a real scan and still be right
    val f = t.filter(col("k") <= 7).agg(max("k"))
    assert(!f.queryExecution.executedPlan.toString
      .contains("LocalTableScan"))
    assert(f.as[Long].head() == 7L)
  }

  test("dropWap deletes exactly the staged files, the base is " +
      "untouched, and a pending stage survives removeOrphans; a taken " +
      "wapId refuses re-staging") {
    import spark.implicits._
    val root = tmpRoot("drop")
    seed(root)
    SnapshotTable.commitWap(
      Seq((60L, "bad")).toDF("k", "v"), root, "audit_me")
    intercept[IllegalStateException] { // the stage is the audit subject
      SnapshotTable.commitWap(
        Seq((61L, "other")).toDF("k", "v"), root, "audit_me")
    }
    // pending stage: its files are referenced, orphan removal keeps them
    assert(SnapshotTable.removeOrphans(spark, root, olderThanMs = 0L) == 0)
    assert(keys(SnapshotTable.readWap(spark, root, "audit_me")) ==
      ((1L to 20L) :+ 60L))
    val dropped = SnapshotTable.dropWap(spark, root, "audit_me")
    assert(dropped >= 1)
    assert(SnapshotTable.currentSnapshot(spark, root) == 1L)
    assert(keys(SnapshotTable.read(spark, root)) == (1L to 20L))
    // the dropped stage's data files are gone from data/ too
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val live = SnapshotTable.fileList(spark, root, 1L)
      .map(_.stripPrefix("data/")).toSet
    val onDisk = fs.listStatus(
      new org.apache.hadoop.fs.Path(s"$root/data"))
      .map(_.getPath.getName).toSet
    assert(onDisk == live)
  }
}
