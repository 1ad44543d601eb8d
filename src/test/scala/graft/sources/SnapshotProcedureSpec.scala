package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.EqualTo

import graft.SparkSpec

/** SQL `CALL` maintenance procedures ([[SnapshotCatalog]]'s
  * ProcedureCatalog): rollback, expire_snapshots, remove_orphans,
  * rewrite_deletes, optimize_zorder — the lifecycle verbs SQL has no
  * statement for, each returning a one-row summary scan.
  */
class SnapshotProcedureSpec extends SparkSpec {

  private lazy val wh =
    java.nio.file.Files.createTempDirectory("graft_proc_wh").toString

  private lazy val cat: String = {
    spark.conf.set("spark.sql.catalog.snapproc",
      classOf[SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.snapproc.warehouse", wh)
    "snapproc"
  }

  private def ensureDb(): Unit =
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")

  test("CALL rollback restores the head and reports the new version; " +
      "the bad batch stays time-travelable") {
    ensureDb()
    spark.sql(s"CREATE TABLE $cat.db.rb (k BIGINT)")
    spark.sql(s"INSERT INTO $cat.db.rb SELECT id FROM range(0, 10)")
    spark.sql(s"INSERT INTO $cat.db.rb SELECT id FROM range(100, 200)")
    val out = spark.sql(s"CALL $cat.system.rollback('db.rb', 2)").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(4L)) // v4 = restored head
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.rb")
      .head.getLong(0) == 10L)
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.rb VERSION AS OF 3")
      .head.getLong(0) == 110L)
  }

  test("CALL expire_snapshots vacuums; expired version reads then fail") {
    ensureDb()
    spark.sql(s"CREATE TABLE $cat.db.exp (k BIGINT)")
    spark.sql(s"INSERT INTO $cat.db.exp SELECT id FROM range(0, 10)")
    spark.sql(s"INSERT INTO $cat.db.exp SELECT id FROM range(10, 20)")
    spark.sql(s"INSERT INTO $cat.db.exp SELECT id FROM range(20, 30)")
    val out = spark.sql(
      s"CALL $cat.system.expire_snapshots('db.exp', 2)").head
    assert(out.getInt(0) >= 1) // at least v1/v2 expired
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.exp")
      .head.getLong(0) == 30L)
    intercept[Exception](
      spark.sql(s"SELECT * FROM $cat.db.exp VERSION AS OF 1").collect())
  }

  test("CALL expire_snapshots with named TIME-retention args: " +
      "older_than_ms expires aged snapshots, keep_at_least survives, " +
      "and mixing the two retention modes refuses") {
    ensureDb()
    spark.sql(s"CREATE TABLE $cat.db.texp (k BIGINT)")
    spark.sql(s"INSERT INTO $cat.db.texp SELECT id FROM range(0, 10)")
    spark.sql(s"INSERT INTO $cat.db.texp SELECT id FROM range(10, 20)")
    spark.sql(s"INSERT INTO $cat.db.texp SELECT id FROM range(20, 30)")
    (1L to 2L).foreach { id => // age v1/v2 past the horizon
      val f = new java.io.File(s"$wh/db/texp/_manifests/v$id.manifest")
      assert(f.exists && f.setLastModified(
        System.currentTimeMillis() - 60000L))
    }
    val out = spark.sql(s"CALL $cat.system.expire_snapshots(" +
      "table => 'db.texp', older_than_ms => 30000, " +
      "keep_at_least => 3)").head
    assert(out.getInt(0) == 1, out.toString) // v1 only: v2 kept by count
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.texp")
      .head.getLong(0) == 30L)
    intercept[Exception](
      spark.sql(s"SELECT * FROM $cat.db.texp VERSION AS OF 1").collect())
    // both retention modes at once refuses loudly
    val e = intercept[Exception](spark.sql(
      s"CALL $cat.system.expire_snapshots(table => 'db.texp', " +
        "keep_last => 2, older_than_ms => 30000)").collect())
    assert(e.getMessage.contains("exactly one"))
  }

  test("graft.wap.id stages SQL INSERTs invisibly; CALL publish_wap " +
      "fast-forwards one and drop_wap discards another — pure-SQL " +
      "write-audit-publish") {
    ensureDb()
    spark.sql(s"CREATE TABLE $cat.db.wap (k BIGINT)")
    spark.sql(s"INSERT INTO $cat.db.wap SELECT id FROM range(0, 10)")
    spark.conf.set("graft.wap.id", "cand_a")
    try {
      spark.sql(s"INSERT INTO $cat.db.wap SELECT id FROM range(10, 15)")
      spark.conf.set("graft.wap.id", "cand_b")
      spark.sql(s"INSERT INTO $cat.db.wap SELECT id FROM range(100, 200)")
    } finally spark.conf.unset("graft.wap.id")
    // both stages invisible: the table still reads as the base insert
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.wap")
      .head.getLong(0) == 10L)
    // audit verdict: cand_a publishes, cand_b drops
    val pub = spark.sql(
      s"CALL $cat.system.publish_wap('db.wap', 'cand_a')").head
    assert(pub.getLong(0) == 3L) // CREATE=1, insert=2, publish=3
    val drop = spark.sql(
      s"CALL $cat.system.drop_wap('db.wap', 'cand_b')").head
    assert(drop.getInt(0) >= 1)
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.wap")
      .head.getLong(0) == 15L)
    // an overwrite under a wap id refuses: staging is append-shaped
    spark.conf.set("graft.wap.id", "cand_c")
    try {
      val e = intercept[Exception](spark.sql(
        s"INSERT OVERWRITE $cat.db.wap SELECT id FROM range(0, 3)"))
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Seq.empty
        else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(_.contains("APPENDS only")), msgs(e))
    } finally spark.conf.unset("graft.wap.id")
  }

  test("CALL rewrite_deletes folds vectors and re-opens the SQL scan; " +
      "remove_orphans sweeps planted debris under the age gate only") {
    ensureDb()
    spark.sql(s"CREATE TABLE $cat.db.dv (k BIGINT, m BIGINT)")
    spark.sql(s"INSERT INTO $cat.db.dv SELECT id, id % 3 FROM range(0, 30)")
    val root = s"$wh/db/dv"
    SnapshotTable.deleteWhereMor(spark, root, Seq(EqualTo("m", 1L)))
    // SQL reads the vectored snapshot through the delete-applying
    // plan; the CALL folds the vector and SQL is back on the scan
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.dv")
      .head.getLong(0) == 20L)
    spark.sql(s"CALL $cat.system.rewrite_deletes('db.dv')").collect()
    assert(!SnapshotTable.entries(spark, root,
      SnapshotTable.currentSnapshot(spark, root)).exists(_.isDelete))
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.dv")
      .head.getLong(0) == 20L)
    // planted orphan: too young for a large age gate, swept at zero
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val orphan = new org.apache.hadoop.fs.Path(root, "data/orphan.parquet")
    fs.create(orphan).close()
    assert(spark.sql(
      s"CALL $cat.system.remove_orphans('db.dv', ${86400L * 1000L})")
      .head.getInt(0) == 0)
    assert(spark.sql(s"CALL $cat.system.remove_orphans('db.dv', 0)")
      .head.getInt(0) >= 1)
    assert(!fs.exists(orphan))
  }

  test("CALL optimize_zorder compacts with the default bits parameter " +
      "and the clustered dimensions both prune") {
    ensureDb()
    spark.sql(s"CREATE TABLE $cat.db.zo (x BIGINT, y BIGINT)")
    spark.sql(s"INSERT INTO $cat.db.zo " +
      "SELECT id % 64, (id * 37) % 64 FROM range(0, 4096)")
    val v = spark.sql(
      s"CALL $cat.system.optimize_zorder('db.zo', 'x,y', 16)")
      .head.getLong(0)
    val root = s"$wh/db/zo"
    assert(SnapshotTable.currentSnapshot(spark, root) == v)
    val (_, keptX, totX) = SnapshotTable.pruneFiles(spark, root, v, "x", 0L, 7L)
    val (_, keptY, totY) = SnapshotTable.pruneFiles(spark, root, v, "y", 0L, 7L)
    assert(keptX < totX && keptY < totY,
      s"zorder layout failed to prune: x $keptX/$totX, y $keptY/$totY")
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.zo")
      .head.getLong(0) == 4096L)
  }

  test("unknown procedure and bad table arguments fail loudly; " +
      "procedures are listable") {
    ensureDb()
    intercept[Exception](
      spark.sql(s"CALL $cat.system.no_such_proc('db.rb')").collect())
    intercept[Exception](
      spark.sql(s"CALL $cat.system.rollback('db.missing', 1)").collect())
    val c = spark.sessionState.catalogManager.catalog(cat)
      .asInstanceOf[SnapshotCatalog]
    val listed = c.listProcedures(Array("system")).map(_.name()).toSet
    assert(listed == Set("expire_snapshots", "remove_orphans", "rollback",
      "rewrite_deletes", "rewrite_manifests", "manifest_report",
      "optimize_zorder", "publish_wap", "drop_wap",
      "compact_small_files", "create_tag", "create_branch",
      "fast_forward", "drop_ref", "build_bloom", "build_ndv",
      "build_sq8_index", "publish_group", "recover_group", "drop_group",
      "maintain_sq8_index", "build_bm25_index", "maintain_bm25_index",
      "group_pins", "evolve_partitioning"))
  }

  test("CALL group_pins returns the (member, snapshot) pin map of a " +
      "published group — the pure-SQL group-consistent read") {
    ensureDb()
    Seq("gp1", "gp2").foreach { t =>
      spark.sql(s"CREATE TABLE $cat.db.$t (k BIGINT)")
      spark.sql(s"INSERT INTO $cat.db.$t VALUES (1), (2)")
    }
    spark.conf.set("graft.wap.id", "grp-gpin")
    try {
      spark.sql(s"INSERT INTO $cat.db.gp1 VALUES (10)")
      spark.sql(s"INSERT INTO $cat.db.gp2 VALUES (20), (21)")
    } finally spark.conf.unset("graft.wap.id")
    spark.sql(s"CALL $cat.system.publish_group('db.gp1,db.gp2', 'gpin')")
    // a later unrelated commit moves gp1's head past the group pin
    spark.sql(s"INSERT INTO $cat.db.gp1 VALUES (99), (98), (97)")
    val pins = spark.sql(
      s"CALL $cat.system.group_pins('db.gp1,db.gp2', 'gpin')")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(pins.size == 2)
    val gp1Pin = pins.find(_._1.endsWith("gp1")).get._2
    // pure-SQL group-consistent read: VERSION AS OF the pin sees the
    // group-published state, not the advanced head
    assert(spark.sql(
      s"SELECT count(*) FROM $cat.db.gp1 VERSION AS OF $gp1Pin")
      .head.getLong(0) == 3L)
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.gp1")
      .head.getLong(0) == 6L)
  }

  test("CALL build_bm25_index / maintain_bm25_index: the SQL lifecycle " +
      "of the maintained lexical index — tf/dl address as catalog " +
      "tables, maintenance follows SQL DML, confluence holds") {
    ensureDb()
    spark.sql(s"CREATE TABLE $cat.db.bmcorp (doc_id BIGINT, text STRING)")
    spark.sql(s"INSERT INTO $cat.db.bmcorp VALUES " +
      "(1, 'alpha beta beta'), (2, 'beta gamma'), (3, 'delta')")
    val v = spark.sql(
      s"CALL $cat.system.build_bm25_index('db.bmcorp', 'db.bmix')")
      .head.getLong(0)
    assert(v >= 1L)
    // the index halves are ordinary catalog tables
    assert(spark.sql(s"SELECT sum(tf) FROM $cat.db.bmix.tf")
      .head.getLong(0) == 6L)
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.bmix.dl")
      .head.getLong(0) == 3L)
    // SQL DML churn, then one CALL maintenance pass
    spark.sql(s"UPDATE $cat.db.bmcorp SET text = 'epsilon' WHERE doc_id = 2")
    spark.sql(s"INSERT INTO $cat.db.bmcorp VALUES (4, 'zeta zeta')")
    val through = spark.sql(
      s"CALL $cat.system.maintain_bm25_index('db.bmcorp', 'db.bmix')")
      .head.getLong(0)
    assert(through == SnapshotTable.currentSnapshot(spark,
      s"$wh/db/bmcorp"))
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.bmix.dl")
      .head.getLong(0) == 4L)
    val (_, diff) = graft.ops.Bm25Index.confluenceAudit(spark,
      s"$wh/db/bmcorp", s"$wh/db/bmix")
    assert(diff == 0L, "maintained index must equal a rebuild")
    // idempotent: nothing new to fold
    assert(spark.sql(
      s"CALL $cat.system.maintain_bm25_index('db.bmcorp', 'db.bmix')")
      .head.getLong(0) == through)
  }

  test("CALL rewrite_manifests consolidates the head's shards as a " +
      "metadata-only commit; the table reads exactly afterwards") {
    ensureDb()
    spark.sql(s"CREATE TABLE $cat.db.rwm (k BIGINT)")
    // 5 multi-file inserts -> several small shards / inline tails
    (0 until 5).foreach { i =>
      spark.range(i * 330L, (i + 1) * 330L).select(col("id").as("k"))
        .repartitionByRange(33, col("k"))
        .createOrReplaceTempView(s"rwm_src_$i")
      spark.sql(s"INSERT INTO $cat.db.rwm SELECT * FROM rwm_src_$i")
    }
    // the .manifests metadata table shows the pre-fold layout (several
    // shards / inline tail), then the folded one
    val nFiles = spark.sql(s"SELECT count(*) FROM $cat.db.rwm.files")
      .head.getLong(0)
    val pre = spark.sql(s"SELECT kind, entry_lines FROM $cat.db.rwm.manifests")
      .collect()
    assert(pre.length > 1, s"expected several layout rows, got ${pre.length}")
    assert(pre.map(_.getLong(1)).sum == nFiles,
      "layout entry lines must sum to the file count")
    val r = spark.sql(
      s"CALL $cat.system.rewrite_manifests('db.rwm')").head
    assert(r.getInt(2) < r.getInt(1),
      s"head lines must shrink: before=${r.getInt(1)} after=${r.getInt(2)}")
    val post = spark.sql(
      s"SELECT kind, entry_lines FROM $cat.db.rwm.manifests").collect()
    assert(post.length == 1 && post.head.getString(0) == "shard" &&
      post.head.getLong(1) == nFiles,
      s"folded layout must be one shard of $nFiles lines, got " +
        post.map(x => (x.getString(0), x.getLong(1))).mkString(","))
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.rwm")
      .head.getLong(0) == 1650L)
    // idempotent: a second call no-ops at the same version
    val r2 = spark.sql(
      s"CALL $cat.system.rewrite_manifests('db.rwm')").head
    assert(r2.getLong(0) == r.getLong(0) && r2.getInt(1) == r2.getInt(2))
  }

  test("CALL build_sq8_index creates the index table in the catalog, " +
      "maintain_sq8_index follows SQL DML on the corpus (confluence " +
      "holds), and build_bloom returns a new metadata-only version") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    ensureDb()
    val emb = graft.Tables.embeddings(spark, sfDir)
      .select("vec_id", "embedding")
    SnapshotTable.commit(emb.repartitionByRange(4, col("vec_id")),
      s"$wh/db/corp", statsCol = Some("vec_id"))
    assert(spark.sql(s"CALL $cat.system.build_sq8_index(" +
      "'db.corp', 'db.corpidx')").head.getLong(0) == 1L)
    // the index IS a catalog table now
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.corpidx")
      .head.getLong(0) == emb.count())
    // churn through SQL DML: insert shifted copies, delete a band
    emb.filter(col("vec_id") % 10 === 2)
      .select((col("vec_id") + 5000000L).as("vec_id"), col("embedding"))
      .createOrReplaceTempView("proc_ann_ins")
    spark.sql(s"INSERT INTO $cat.db.corp SELECT * FROM proc_ann_ins")
    spark.sql(s"DELETE FROM $cat.db.corp " +
      "WHERE vec_id > 300 AND vec_id <= 350")
    val through = spark.sql(s"CALL $cat.system.maintain_sq8_index(" +
      "'db.corp', 'db.corpidx')").head.getLong(0)
    assert(through == SnapshotTable.currentSnapshot(spark, s"$wh/db/corp"))
    val (nIdx, diff) = graft.ops.AnnIndex.confluenceAudit(
      spark, s"$wh/db/corp", s"$wh/db/corpidx")
    assert(diff == 0L, s"maintained index diverged by $diff rows")
    assert(nIdx == spark.sql(s"SELECT count(*) FROM $cat.db.corp")
      .head.getLong(0))
    // replay is a no-op
    assert(spark.sql(s"CALL $cat.system.maintain_sq8_index(" +
      "'db.corp', 'db.corpidx')").head.getLong(0) == through)
    // bloom build: metadata-only version bump on the corpus
    val before = SnapshotTable.currentSnapshot(spark, s"$wh/db/corp")
    val v = spark.sql(s"CALL $cat.system.build_bloom(" +
      "'db.corp', 'vec_id')").head.getLong(0)
    assert(v == before + 1)
    assert(SnapshotTable.fileList(spark, s"$wh/db/corp", v) ==
      SnapshotTable.fileList(spark, s"$wh/db/corp", before))
    assert(SnapshotTable.entries(spark, s"$wh/db/corp", v)
      .filterNot(_.isDelete).forall(_.bloomFor("vec_id").isDefined))
  }
}
