package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The pure-SQL catalog surface over snapshot tables: DDL, DML, time
  * travel, and the shared-protocol contract (the catalog, the library,
  * and `format("graft-snap")` all see the same commits).
  */
class SnapshotCatalogSpec extends SparkSpec {

  private lazy val wh =
    java.nio.file.Files.createTempDirectory("graft_cat_wh").toString

  private lazy val cat: String = {
    spark.conf.set("spark.sql.catalog.snapspec",
      classOf[SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.snapspec.warehouse", wh)
    "snapspec"
  }

  private def ensureDb(): Unit =
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")

  test("CREATE NAMESPACE / CREATE TABLE / empty SELECT / SHOW TABLES") {
    spark.sql(s"CREATE NAMESPACE $cat.db")
    spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT, v STRING)")
    val empty = spark.sql(s"SELECT * FROM $cat.db.t")
    assert(empty.columns.toSeq == Seq("k", "v") && empty.count() == 0L)
    val shown = spark.sql(s"SHOW TABLES IN $cat.db").collect()
      .map(_.getString(1)).toSet
    assert(shown == Set("t"))
    // creating it again refuses; creating in a missing namespace refuses
    intercept[Exception](spark.sql(s"CREATE TABLE $cat.db.t (x INT)"))
    intercept[Exception](spark.sql(s"CREATE TABLE $cat.nope.t2 (x INT)"))
  }

  test("INSERT INTO commits atomically; SELECT sees each version; " +
      "VERSION AS OF time-travels; the library sees the same table") {
    spark.sql(s"INSERT INTO $cat.db.t SELECT id, concat('v', id) " +
      "FROM range(0, 100)")
    spark.sql(s"INSERT INTO $cat.db.t SELECT id, concat('w', id) " +
      "FROM range(100, 150)")
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.t").head.getLong(0) == 150L)
    // CREATE TABLE was snapshot 1; the inserts are 2 and 3
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.t VERSION AS OF 1")
      .head.getLong(0) == 0L)
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.t VERSION AS OF 2")
      .head.getLong(0) == 100L)
    // same root, same protocol: the library reads the catalog's commits
    val root = s"$wh/db/t"
    assert(SnapshotTable.currentSnapshot(spark, root) == 3L)
    assert(SnapshotTable.read(spark, root).count() == 150L)
    // and a library commit is visible to SQL immediately
    import spark.implicits._
    SnapshotTable.commit(Seq((999L, "lib")).toDF("k", "v"), root)
    assert(spark.sql(s"SELECT v FROM $cat.db.t WHERE k = 999")
      .head.getString(0) == "lib")
  }

  test("CTAS materializes the query as a snapshot table; filters on " +
      "the result are exact") {
    spark.sql(s"CREATE TABLE $cat.db.squares AS " +
      "SELECT id AS n, id * id AS sq FROM range(0, 50)")
    assert(spark.sql(s"SELECT sum(sq) FROM $cat.db.squares WHERE n < 10")
      .head.getLong(0) == (0 until 10).map(i => i * i).sum.toLong)
    val root = s"$wh/db/squares"
    // CTAS = create (v1, empty) + append (v2, the data)
    assert(SnapshotTable.currentSnapshot(spark, root) == 2L)
  }

  test("RENAME and DROP are filesystem moves; a dropped table is gone " +
      "from SQL and the listing") {
    spark.sql(s"CREATE TABLE $cat.db.tmp (x INT)")
    spark.sql(s"ALTER TABLE $cat.db.tmp RENAME TO db.tmp2")
    assert(spark.sql(s"SHOW TABLES IN $cat.db").collect()
      .map(_.getString(1)).toSet.contains("tmp2"))
    spark.sql(s"DROP TABLE $cat.db.tmp2")
    assert(!spark.sql(s"SHOW TABLES IN $cat.db").collect()
      .map(_.getString(1)).toSet.contains("tmp2"))
    intercept[Exception](spark.sql(s"SELECT * FROM $cat.db.tmp2").collect())
  }

  test("SQL DELETE FROM: stats-proven files drop from the manifest " +
      "alone, boundary files rewrite, results stay exact, and the " +
      "pre-delete snapshot still time-travels") {
    import spark.implicits._
    ensureDb()
    val root = s"$wh/db/del"
    spark.sql(s"CREATE TABLE $cat.db.del (x BIGINT, y BIGINT)")
    SnapshotTable.commit(
      spark.range(0, 4096)
        .select((col("id") % 64).as("x"), expr("id div 64").as("y"))
        .repartitionByRange(8, col("x")).sortWithinPartitions("x"),
      root, statsCol = Some("x"))
    val preDelete = SnapshotTable.currentSnapshot(spark, root)
    // x < 20: files covering x in [0,16) drop wholesale, the file
    // straddling 20 rewrites, the rest carry verbatim
    spark.sql(s"DELETE FROM $cat.db.del WHERE x < 20")
    val (dropped, rewritten, carried) = SnapshotTable.deleteStats(spark, root,
      SnapshotTable.currentSnapshot(spark, root))
    assert(dropped >= 2 && rewritten <= 2 && carried >= 4,
      s"dropped=$dropped rewritten=$rewritten carried=$carried")
    assert(spark.sql(s"SELECT count(*), min(x) FROM $cat.db.del").head
      .toSeq == Seq(44L * 64, 20L))
    // time travel still sees the pre-delete rows
    assert(spark.sql(
      s"SELECT count(*) FROM $cat.db.del VERSION AS OF $preDelete")
      .head.getLong(0) == 4096L)
    // a second delete keyed on BOTH columns: conjunction semantics
    spark.sql(s"DELETE FROM $cat.db.del WHERE x >= 60 AND y = 0")
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.del").head.getLong(0)
      == 44L * 64 - 4)
  }

  test("DELETE null soundness: a file whose non-null range is inside " +
      "the band but which holds null cells is REWRITTEN, not dropped " +
      "- the nulls survive") {
    import spark.implicits._
    ensureDb()
    val root = s"$wh/db/delnull"
    spark.sql(s"CREATE TABLE $cat.db.delnull (x BIGINT, v STRING)")
    // one file: x in [0,9] plus two NULL-x rows
    val rows = (0L to 9L).map(i => (Some(i), s"v$i")) ++
      Seq((None, "n1"), (None, "n2"))
    SnapshotTable.commit(
      rows.toDF("x", "v").coalesce(1), root, statsCol = Some("x"))
    spark.sql(s"DELETE FROM $cat.db.delnull WHERE x < 100")
    // the one DATA file must be rewritten (its null cells bar the
    // whole-file proof); the only droppable entry is CREATE TABLE's
    // zero-row schema file, collected by the rc=0 fast path
    val (dropped, rewritten, _) = SnapshotTable.deleteStats(spark, root,
      SnapshotTable.currentSnapshot(spark, root))
    assert(dropped <= 1 && rewritten == 1,
      s"dropped=$dropped rewritten=$rewritten")
    val left = spark.sql(s"SELECT v FROM $cat.db.delnull").collect()
      .map(_.getString(0)).toSet
    assert(left == Set("n1", "n2"))
    // and IS NULL deletes exactly the null rows (all-null proof needs
    // the recorded null count)
    spark.sql(s"DELETE FROM $cat.db.delnull WHERE x IS NULL")
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.delnull")
      .head.getLong(0) == 0L)
  }

  test("library deleteWhere refuses an untranslatable filter before " +
      "mutating; changeFeed serves a SQL DELETE's rows as op D") {
    import spark.implicits._
    ensureDb()
    val root = s"$wh/db/delrefuse"
    spark.sql(s"CREATE TABLE $cat.db.delrefuse (x BIGINT)")
    SnapshotTable.commit(spark.range(0, 100).select(col("id").as("x")),
      root, statsCol = Some("x"))
    val before = SnapshotTable.currentSnapshot(spark, root)
    // the LIBRARY metadata path refuses shapes it can't evaluate (SQL
    // now falls back to the group rewrite instead — spec'd separately)
    intercept[IllegalArgumentException](SnapshotTable.deleteWhere(
      spark, root, Seq(org.apache.spark.sql.sources.StringStartsWith(
        "x", "nope"))))
    assert(SnapshotTable.currentSnapshot(spark, root) == before)
    spark.sql(s"DELETE FROM $cat.db.delrefuse WHERE x < 50")
    // a SQL DELETE is CDF-recorded like the library path: the feed
    // serves exactly the deleted rows as op D instead of refusing
    val feed = SnapshotTable.changeFeed(spark, root, before, before + 1)
    assert(feed.filter(col("_op") =!= "D").count() == 0L)
    assert(feed.select("x").as[Long].collect().toSet ==
      (0L until 50L).toSet)
  }

  test("SQL UPDATE rewrites only the files whose stats admit the " +
      "condition; results exact; pre-update snapshot time-travels") {
    import spark.implicits._
    ensureDb()
    val root = s"$wh/db/upd"
    spark.sql(s"CREATE TABLE $cat.db.upd (x BIGINT, v BIGINT)")
    SnapshotTable.commit(
      spark.range(0, 4096).select((col("id") % 64).as("x"),
        col("id").as("v"))
        .repartitionByRange(8, col("x")).sortWithinPartitions("x"),
      root, statsCol = Some("x"))
    val pre = SnapshotTable.currentSnapshot(spark, root)
    val filesBefore = SnapshotTable.fileList(spark, root, pre).toSet
    spark.sql(s"UPDATE $cat.db.upd SET v = -1 WHERE x < 8")
    // exactly the matching band updated, everything else intact
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.upd WHERE v = -1")
      .head.getLong(0) == 8L * 64)
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.upd").head.getLong(0)
      == 4096L)
    assert(spark.sql(
      s"SELECT count(*) FROM $cat.db.upd WHERE x >= 8 AND v < 0")
      .head.getLong(0) == 0L)
    // file-granular COW: most pre-update files survive VERBATIM in the
    // new manifest (carried lines), only the condition's files changed
    val cur = SnapshotTable.currentSnapshot(spark, root)
    val filesAfter = SnapshotTable.fileList(spark, root, cur).toSet
    val survivors = filesBefore.intersect(filesAfter)
    assert(cur == pre + 1 && survivors.size >= 6,
      s"carried ${survivors.size} of ${filesBefore.size}")
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.upd VERSION AS OF $pre " +
      "WHERE v = -1").head.getLong(0) == 0L)
  }

  test("SQL MERGE INTO: matched rows update, unmatched insert; the " +
      "whole statement is one atomic snapshot commit") {
    import spark.implicits._
    ensureDb()
    val root = s"$wh/db/mrg"
    spark.sql(s"CREATE TABLE $cat.db.mrg (k BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $cat.db.mrg SELECT id, concat('old', id) " +
      "FROM range(0, 100)")
    val pre = SnapshotTable.currentSnapshot(spark, root)
    spark.range(50, 150)
      .select(col("id").as("k"), concat(lit("new"), col("id")).as("v"))
      .createOrReplaceTempView("mrg_src")
    spark.sql(s"""MERGE INTO $cat.db.mrg t USING mrg_src s ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET v = s.v
      WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""")
    assert(SnapshotTable.currentSnapshot(spark, root) == pre + 1)
    val got = spark.sql(s"SELECT k, v FROM $cat.db.mrg").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.size == 150)
    assert(got(10L) == "old10" && got(50L) == "new50" &&
      got(149L) == "new149")
    // time travel: the pre-merge state is untouched
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.mrg VERSION AS OF $pre")
      .head.getLong(0) == 100L)
  }

  test("SQL MERGE with a conditional DELETE clause: matched-and-stale " +
      "rows drop, other matches update, unmatched insert — one atomic " +
      "snapshot, and the feed crosses it as a file-diff step") {
    import spark.implicits._
    ensureDb()
    val root = s"$wh/db/mrgdel"
    spark.sql(s"CREATE TABLE $cat.db.mrgdel (k BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $cat.db.mrgdel SELECT id, concat('old', id) " +
      "FROM range(0, 100)")
    val pre = SnapshotTable.currentSnapshot(spark, root)
    spark.range(50, 150)
      .select(col("id").as("k"),
        when(col("id") % 2 === 0, lit("DROP"))
          .otherwise(concat(lit("new"), col("id"))).as("v"))
      .createOrReplaceTempView("mrgdel_src")
    spark.sql(s"""MERGE INTO $cat.db.mrgdel t USING mrgdel_src s
      ON t.k = s.k
      WHEN MATCHED AND s.v = 'DROP' THEN DELETE
      WHEN MATCHED THEN UPDATE SET v = s.v
      WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""")
    val post = SnapshotTable.currentSnapshot(spark, root)
    assert(post == pre + 1)
    val got = spark.sql(s"SELECT k, v FROM $cat.db.mrgdel").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // 0-49 old, 50-99 even deleted / odd updated, 100-149 all inserted
    assert(got.size == 50 + 25 + 50)
    assert(got(10L) == "old10" && !got.contains(50L) &&
      got(51L) == "new51" && got(100L) == "DROP" && got(149L) == "new149")
    // the feed folds the merge-with-delete exactly
    val feed = SnapshotTable.changeFeed(spark, root, pre, post)
    val folded = SnapshotTable.applyChanges(
      SnapshotTable.readAt(spark, root, pre), feed, "k")
    assert(folded.select("k", "v").as[(Long, String)].collect().toMap
      == got)
  }

  test("DELETE with a predicate the metadata path cannot translate " +
      "now falls back to the group rewrite and succeeds exactly") {
    import spark.implicits._
    ensureDb()
    val root = s"$wh/db/delgrp"
    spark.sql(s"CREATE TABLE $cat.db.delgrp (x BIGINT)")
    SnapshotTable.commit(spark.range(0, 100).select(col("id").as("x")),
      root, statsCol = Some("x"))
    spark.sql(s"DELETE FROM $cat.db.delgrp WHERE x % 2 = 0")
    assert(spark.sql(s"SELECT count(*), min(x) FROM $cat.db.delgrp").head
      .toSeq == Seq(50L, 1L))
  }

  test("TIMESTAMP AS OF resolves against manifest publish times; the " +
      ".snapshots metadata table lists ids/files/rows from manifests " +
      "alone; TRUNCATE TABLE is a metadata-only delete") {
    import spark.implicits._
    ensureDb()
    val root = s"$wh/db/tt"
    spark.sql(s"CREATE TABLE $cat.db.tt (x BIGINT)")
    SnapshotTable.commit(spark.range(0, 100).select(col("id").as("x")), root)
    Thread.sleep(20)
    val betweenMs = System.currentTimeMillis()
    Thread.sleep(20)
    SnapshotTable.commit(spark.range(100, 150).select(col("id").as("x")), root)
    val ts = new java.sql.Timestamp(betweenMs)
    assert(spark.sql(
      s"SELECT count(*) FROM $cat.db.tt TIMESTAMP AS OF '$ts'")
      .head.getLong(0) == 100L)
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.tt").head.getLong(0)
      == 150L)
    // pre-history refuses loudly
    intercept[Exception](spark.sql(s"SELECT count(*) FROM $cat.db.tt " +
      "TIMESTAMP AS OF '1999-01-01 00:00:00'").collect())
    // the metadata table: 3 snapshots (create/append/append), row
    // counts straight from manifests
    val snaps = spark.sql(s"SELECT * FROM $cat.db.tt.snapshots").collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(snaps == Map(1L -> 0L, 2L -> 100L, 3L -> 150L), snaps)
    // TRUNCATE: AlwaysTrue proves every file all-match → all dropped
    spark.sql(s"TRUNCATE TABLE $cat.db.tt")
    val (dropped, rewritten, _) = SnapshotTable.deleteStats(spark, root,
      SnapshotTable.currentSnapshot(spark, root))
    assert(rewritten == 0 && dropped >= 1, s"$dropped/$rewritten")
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.tt").head.getLong(0)
      == 0L)
  }

  test("writeStream.toTable lands each micro-batch as an atomic " +
      "append snapshot, exactly-once across a checkpointed restart") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    ensureDb()
    val root = s"$wh/db/st"
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_cat_st_ckpt").toString
    spark.sql(s"CREATE TABLE $cat.db.st (v BIGINT)")
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Long]
    mem.addData(1L, 2L, 3L)
    val q = mem.toDF().toDF("v").writeStream
      .option("checkpointLocation", ckpt)
      .toTable(s"$cat.db.st")
    try {
      q.processAllAvailable()
      mem.addData(4L, 5L)
      q.processAllAvailable()
    } finally q.stop()
    assert(spark.sql(s"SELECT sum(v) FROM $cat.db.st").head.getLong(0)
      == 15L)
    // restart against the SAME checkpoint: nothing new → no commit,
    // no duplicates; then one more batch arrives exactly once
    val before = SnapshotTable.currentSnapshot(spark, root)
    val q2 = mem.toDF().toDF("v").writeStream
      .option("checkpointLocation", ckpt)
      .toTable(s"$cat.db.st")
    try {
      q2.processAllAvailable()
      mem.addData(10L)
      q2.processAllAvailable()
    } finally q2.stop()
    assert(spark.sql(s"SELECT sum(v), count(*) FROM $cat.db.st").head
      .toSeq == Seq(25L, 6L))
    assert(SnapshotTable.currentSnapshot(spark, root) >= before + 1)
    // the floor survives in the manifest: a stale-epoch redelivery
    // through a FRESH writer advances nothing
    val floor = SnapshotStreamSink.lastCommittedBatch(spark, root, "sql")
    assert(floor >= 1L, s"floor=$floor")
  }

  test("readStream.table tails a catalog snapshot table: pre-start " +
      "and mid-stream commits deliver exactly once; a checkpointed " +
      "restart resumes after the last delivered snapshot") {
    import spark.implicits._
    ensureDb()
    val root = s"$wh/db/tail"
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_cat_tail_ckpt").toString
    spark.sql(s"CREATE TABLE $cat.db.tail (v BIGINT)")
    SnapshotTable.commit(spark.range(0, 10).select(col("id").as("v")), root)
    SnapshotTable.commit(spark.range(10, 30).select(col("id").as("v")), root)
    // foreachBatch sink: supports checkpoint recovery (memory doesn't)
    val got = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    def start() = spark.readStream.table(s"$cat.db.tail").writeStream
      .foreachBatch((df: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], _: Long) =>
        df.as[Long].collect().foreach(got.add))
      .option("checkpointLocation", ckpt).start()
    val q = start()
    try {
      q.processAllAvailable()
      SnapshotTable.commit(spark.range(30, 35).select(col("id").as("v")), root)
      q.processAllAvailable()
    } finally q.stop()
    import scala.jdk.CollectionConverters._
    assert(got.asScala.toSeq.sorted == (0L until 35L))
    // restart from the checkpoint: only the while-down commit arrives
    SnapshotTable.commit(spark.range(35, 40).select(col("id").as("v")), root)
    got.clear()
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    assert(got.asScala.toSeq.sorted == (35L until 40L))
  }

  test("SQL MERGE runtime group filtering: the source's join keys " +
      "prune the target rewrite to the touched files; untouched " +
      "files carry verbatim; results stay exact") {
    import spark.implicits._
    ensureDb()
    val root = s"$wh/db/mrgrt"
    spark.sql(s"CREATE TABLE $cat.db.mrgrt (k BIGINT, v BIGINT)")
    SnapshotTable.commit(
      spark.range(0, 4096).select(col("id").as("k"), col("id").as("v"))
        .repartitionByRange(8, col("k")).sortWithinPartitions("k"),
      root, statsCol = Some("k"))
    val pre = SnapshotTable.currentSnapshot(spark, root)
    val filesBefore = SnapshotTable.fileList(spark, root, pre).toSet
    // source touches only k in [0, 256): one-two target files
    spark.range(0, 256).select(col("id").as("k"), lit(-1L).as("v"))
      .createOrReplaceTempView("mrgrt_src")
    spark.sql(s"""MERGE INTO $cat.db.mrgrt t USING mrgrt_src s
      ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET v = s.v
      WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""")
    // correctness first: the band updated, everything else intact
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.mrgrt WHERE v = -1")
      .head.getLong(0) == 256L)
    assert(spark.sql(s"SELECT count(*), sum(k) FROM $cat.db.mrgrt").head
      .toSeq == Seq(4096L, 4096L * 4095 / 2))
    // the runtime filter pruned the rewrite: most pre-merge files
    // survive VERBATIM in the post-merge manifest
    val cur = SnapshotTable.currentSnapshot(spark, root)
    val survivors = filesBefore
      .intersect(SnapshotTable.fileList(spark, root, cur).toSet)
    assert(cur == pre + 1 && survivors.size >= 5,
      s"carried ${survivors.size} of ${filesBefore.size}")
  }

  test("ALTER TABLE ADD COLUMNS evolves the schema as an empty " +
      "time-travelable commit; other ALTER shapes refuse; the .files " +
      "metadata table lists the skipping index") {
    import spark.implicits._
    ensureDb()
    val root = s"$wh/db/alt"
    spark.sql(s"CREATE TABLE $cat.db.alt (k BIGINT)")
    SnapshotTable.commit(
      spark.range(0, 10).select(col("id").as("k")), root,
      statsCol = Some("k"))
    val pre = SnapshotTable.currentSnapshot(spark, root)
    spark.sql(s"ALTER TABLE $cat.db.alt ADD COLUMNS (tag STRING)")
    // old rows read the new column as NULL; the change time-travels
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.alt WHERE tag IS NULL")
      .head.getLong(0) == 10L)
    assert(spark.sql(s"SELECT * FROM $cat.db.alt VERSION AS OF $pre")
      .columns.toSeq == Seq("k"))
    spark.sql(s"INSERT INTO $cat.db.alt SELECT id, concat('t', id) " +
      "FROM range(10, 15)")
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.alt WHERE tag IS " +
      "NOT NULL").head.getLong(0) == 5L)
    // DROP/RENAME COLUMN are metadata-only since round 12
    // (SnapshotColumnMappingSpec); a RETYPE still refuses
    intercept[Exception](
      spark.sql(s"ALTER TABLE $cat.db.alt ALTER COLUMN tag TYPE BIGINT"))
    // .files: one row per file of the CURRENT snapshot, stats rendered
    val files = spark.sql(s"SELECT * FROM $cat.db.alt.files").collect()
    assert(files.nonEmpty)
    // the seeded commit's files carry k stats with recorded null
    // counts; rendered as col[min..max, nulls=n]
    val statted = files.filter(f =>
      f.getString(2).startsWith("k[") && f.getString(2).contains("nulls=0"))
    assert(statted.nonEmpty, files.map(_.getString(2)).mkString("|"))
  }

  test("SQL filters prune files through the manifest stats (the " +
      "transparent skipping rides the catalog path too)") {
    import spark.implicits._
    ensureDb()
    val root = s"$wh/db/clustered"
    spark.sql(s"CREATE TABLE $cat.db.clustered (x BIGINT, y BIGINT)")
    SnapshotTable.commit(
      spark.range(0, 4096)
        .select((col("id") % 64).as("x"), expr("id div 64").as("y"))
        .repartitionByRange(8, col("x")).sortWithinPartitions("x"),
      root, statsCol = Some("x"))
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.clustered WHERE x < 8")
      .head.getLong(0) == 8L * 64)
    // 9 entries: 8 range-clustered data files + CREATE TABLE's empty
    // schema-preserving file (stat-less, so it is conservatively kept)
    val (kept, total) = SnapshotSource.lastPrune(root).get
    assert(total == 9 && kept <= 3, s"kept $kept/$total")
  }

  test("TBLPROPERTIES: set at CREATE, carried across commits, ALTER " +
      "SET/UNSET as metadata-only commits, versioned under time " +
      "travel, surfaced by SHOW TBLPROPERTIES") {
    ensureDb()
    spark.sql(s"CREATE TABLE $cat.db.props (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('quality'='gold', 'team'='data')")
    def show(): Map[String, String] = spark
      .sql(s"SHOW TBLPROPERTIES $cat.db.props").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(show().get("quality").contains("gold"))
    assert(show().get("team").contains("data"))
    assert(!show().contains("owner") && !show().contains("provider"),
      "Spark's reserved bookkeeping entries are not user properties")
    spark.sql(s"INSERT INTO $cat.db.props VALUES (1, 'a')")
    assert(show().get("quality").contains("gold"),
      "properties must carry across data commits")
    spark.sql(s"ALTER TABLE $cat.db.props " +
      "SET TBLPROPERTIES ('quality'='platinum')")
    assert(show().get("quality").contains("platinum"))
    spark.sql(s"ALTER TABLE $cat.db.props UNSET TBLPROPERTIES ('team')")
    val after = show()
    assert(!after.contains("team") &&
      after.get("quality").contains("platinum"))
    // versioned: the pre-ALTER snapshot still answers 'gold'
    val root = s"$wh/db/props"
    assert(SnapshotTable.tablePropsOf(spark, root, 2L)
      .get("quality").contains("gold"))
    assert(SnapshotTable.tablePropsOf(spark, root,
      SnapshotTable.currentSnapshot(spark, root)) ==
      Map("quality" -> "platinum"))
    // the ALTERs were metadata-only: file list byte-verbatim
    val cur = SnapshotTable.currentSnapshot(spark, root)
    assert(SnapshotTable.fileList(spark, root, cur) ==
      SnapshotTable.fileList(spark, root, 2L))
  }

  test("CHECK constraints ride TBLPROPERTIES: enforced at the one " +
      "write choke point (SQL and library alike), NULL passes, adding " +
      "a constraint validates standing data, UNSET lifts enforcement") {
    import org.apache.spark.sql.functions.lit
    import spark.implicits._
    ensureDb()
    spark.sql(s"CREATE TABLE $cat.db.cons (k BIGINT, p DOUBLE) " +
      "TBLPROPERTIES ('constraint.positive'='p > 0')")
    spark.sql(s"INSERT INTO $cat.db.cons VALUES (1, 1.5), (2, 2.5)")
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    val e = intercept[Exception] {
      spark.sql(s"INSERT INTO $cat.db.cons VALUES (3, -1.0)")
    }
    assert(msgs(e).exists(_.contains("CHECK constraint 'positive'")),
      msgs(e).mkString(" | "))
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.cons").head()
      .getLong(0) == 2L, "a refused insert must leave the table unchanged")
    // NULL passes — SQL CHECK semantics
    spark.sql(s"INSERT INTO $cat.db.cons VALUES (4, NULL)")
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.cons").head()
      .getLong(0) == 3L)
    // a new constraint the STANDING data violates refuses at SET time
    val e2 = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.db.cons " +
        "SET TBLPROPERTIES ('constraint.keyband'='k < 3')")
    }
    assert(msgs(e2).exists(_.contains("violated by 1 existing row")),
      msgs(e2).mkString(" | "))
    // one that holds lands, and then enforces
    spark.sql(s"ALTER TABLE $cat.db.cons " +
      "SET TBLPROPERTIES ('constraint.keyband'='k < 100')")
    val e3 = intercept[Exception] {
      spark.sql(s"INSERT INTO $cat.db.cons VALUES (500, 1.0)")
    }
    assert(msgs(e3).exists(_.contains("CHECK constraint 'keyband'")))
    // the LIBRARY write path hits the same choke point
    val root = s"$wh/db/cons"
    val e4 = intercept[IllegalArgumentException] {
      SnapshotTable.commit(
        Seq((5L, -9.0)).toDF("k", "p"), root)
    }
    assert(e4.getMessage.contains("CHECK constraint 'positive'"))
    // UNSET lifts enforcement
    spark.sql(s"ALTER TABLE $cat.db.cons " +
      "UNSET TBLPROPERTIES ('constraint.keyband')")
    spark.sql(s"INSERT INTO $cat.db.cons VALUES (500, 1.0)")
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.cons").head()
      .getLong(0) == 4L)
  }
}
