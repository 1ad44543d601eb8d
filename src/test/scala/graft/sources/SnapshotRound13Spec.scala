package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Round-13 hardening of the snapshot layer:
  *
  *  - [[SnapshotTable.rewriteDeletes]]' equality-delete stats
  *    refutation compares bounds in the TYPED stats domain (the key
  *    file's own footer stats, recorded on its manifest entry) — a
  *    float key's double-widened file stats no longer wrongly refute
  *    ("0.1" vs "0.10000000149011612" silently resurrected deleted
  *    rows) and a date/timestamp key no longer crashes the "i"
  *    comparison; a decimal key (unscaled or byte-array stats) refutes
  *    nothing, so its deleted rows stay dead through the fold;
  *  - rename/drop refuse columns referenced by CHECK constraints
  *    (otherwise every later commit fails at the publish choke point
  *    on the vanished name);
  *  - reserved merge-on-read working column names refuse at commit;
  *  - the forced delete-state broadcasts carry a size guardrail
  *    (5,000,000 delete rows, `DeleteBroadcastMaxRows`) with a
  *    shuffle-join fallback producing identical rows;
  *  - [[SnapshotTable.deleteByKeys]] — the keyed COW delete
  *    whose key set never visits the driver — equals the
  *    deleteWhere(In) collect form row-for-row and change-feeds like
  *    any delete;
  *  - the `.partitions` / `.files` metadata tables subtract
  *    delete-vector rows and surface NULL (undefined until fold) for
  *    eq-burdened counts, matching rowCount's honesty.
  */
class SnapshotRound13Spec extends SparkSpec {

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_r13").toString

  test("rewriteDeletes settles FLOAT-keyed equality deletes: the " +
      "double-widened file stats must not refute the narrow-rendered " +
      "key bound (that silently resurrected deleted rows)") {
    import spark.implicits._
    val root = s"${tmp()}/t"
    SnapshotTable.commit(
      Seq((1L, 0.1f), (2L, 0.7f)).toDF("id", "x").coalesce(1),
      root, statsCol = Some("x"))
    SnapshotTable.deleteByKeysEq(Seq(0.1f).toDF("x"), root)
    // the read path already subtracts correctly
    assert(SnapshotTable.read(spark, root).select("id")
      .as[Long].collect().toSeq == Seq(2L))
    // ... and the FOLD must agree: the file holds 0.1f, so it must be
    // rewritten, the delete entry dropped, and the row stay dead
    SnapshotTable.rewriteDeletes(spark, root)
    val cur = SnapshotTable.currentSnapshot(spark, root)
    assert(!SnapshotTable.entries(spark, root, cur).exists(_.isDelete))
    assert(SnapshotTable.read(spark, root).select("id")
      .as[Long].collect().toSeq == Seq(2L))
    assert(SnapshotTable.rowCount(spark, root, cur).contains(1L))
  }

  test("rewriteDeletes settles DATE-keyed equality deletes (the 'i' " +
      "domain comparison used to crash on the date rendering)") {
    import spark.implicits._
    val root = s"${tmp()}/t"
    val d1 = java.sql.Date.valueOf("2024-01-01")
    val d2 = java.sql.Date.valueOf("2024-06-15")
    SnapshotTable.commit(
      Seq((1L, d1), (2L, d2)).toDF("id", "day").coalesce(1),
      root, statsCol = Some("day"))
    SnapshotTable.deleteByKeysEq(Seq(d1).toDF("day"), root)
    SnapshotTable.rewriteDeletes(spark, root) // used to throw NFE here
    val cur = SnapshotTable.currentSnapshot(spark, root)
    assert(!SnapshotTable.entries(spark, root, cur).exists(_.isDelete))
    assert(SnapshotTable.read(spark, root).select("id")
      .as[Long].collect().toSeq == Seq(2L))
  }

  test("rewriteDeletes still stats-refutes in the typed domain: a " +
      "float delete band outside every file stays metadata-only") {
    import spark.implicits._
    val root = s"${tmp()}/t"
    SnapshotTable.commit(
      Seq((1L, 0.1f), (2L, 0.7f)).toDF("id", "x").coalesce(1),
      root, statsCol = Some("x"))
    val pre = SnapshotTable.fileList(spark, root,
      SnapshotTable.currentSnapshot(spark, root)).toSet
    SnapshotTable.deleteByKeysEq(Seq(99.5f).toDF("x"), root)
    SnapshotTable.rewriteDeletes(spark, root)
    val cur = SnapshotTable.currentSnapshot(spark, root)
    // refuted: the data file carried VERBATIM (no rewrite happened)
    assert(SnapshotTable.fileList(spark, root, cur).toSet == pre)
    assert(SnapshotTable.read(spark, root).count() == 2L)
  }

  private def foldKeepsDead(root: String, live: Seq[Long]): Unit = {
    import spark.implicits._
    def ids() = SnapshotTable.read(spark, root).select("id")
      .as[Long].collect().sorted.toSeq
    assert(ids() == live)
    SnapshotTable.rewriteDeletes(spark, root)
    val cur = SnapshotTable.currentSnapshot(spark, root)
    assert(!SnapshotTable.entries(spark, root, cur).exists(_.isDelete))
    assert(ids() == live)
  }

  test("rewriteDeletes does not stats-refute a decimal(38,18) key: its " +
      "byte-array stats of a NEGATIVE file min must not hide the key") {
    import spark.implicits._
    val root = s"${tmp()}/t"
    SnapshotTable.commit(
      Seq((1L, BigDecimal(-5)), (2L, BigDecimal(2)), (3L, BigDecimal(3)))
        .toDF("id", "x").coalesce(1), root, statsCol = Some("x"))
    SnapshotTable.deleteByKeysEq(Seq(BigDecimal(2)).toDF("x"), root)
    foldKeepsDead(root, Seq(1L, 3L))
  }

  test("rewriteDeletes does not stats-refute a decimal key at another " +
      "scale than its column (unscaled stats compare on the wrong scale)") {
    import spark.implicits._
    val root = s"${tmp()}/t"
    SnapshotTable.commit(
      Seq((1L, "1.00"), (2L, "1.50"), (3L, "9.99")).toDF("id", "x")
        .select($"id", $"x".cast("decimal(10,2)").as("x")).coalesce(1),
      root, statsCol = Some("x"))
    SnapshotTable.deleteByKeysEq(
      Seq("1.5").toDF("x").select($"x".cast("decimal(12,4)").as("x")), root)
    foldKeepsDead(root, Seq(1L, 3L))
  }

  test("renameColumn / dropColumn refuse a column referenced by a " +
      "CHECK constraint; unset re-opens them") {
    import spark.implicits._
    val root = s"${tmp()}/t"
    SnapshotTable.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), root)
    SnapshotTable.setTableProps(spark, root,
      Map("constraint.pos" -> "k >= 0"))
    val er = intercept[IllegalArgumentException](
      SnapshotTable.renameColumn(spark, root, "k", "kk"))
    assert(er.getMessage.contains("constraint"), er.getMessage)
    val ed = intercept[IllegalArgumentException](
      SnapshotTable.dropColumn(spark, root, "k"))
    assert(ed.getMessage.contains("constraint"), ed.getMessage)
    // an unconstrained column still renames/drops freely
    SnapshotTable.renameColumn(spark, root, "v", "w")
    // after unset, the rename proceeds and later commits stay healthy
    SnapshotTable.unsetTableProps(spark, root, Seq("constraint.pos"))
    SnapshotTable.renameColumn(spark, root, "k", "kk")
    SnapshotTable.commit(Seq((3L, "c")).toDF("kk", "w"), root)
    assert(SnapshotTable.read(spark, root).count() == 3L)
  }

  test("reserved merge-on-read working column names refuse at the " +
      "commit choke point") {
    import spark.implicits._
    val root = s"${tmp()}/t"
    val e = intercept[IllegalArgumentException](
      SnapshotTable.commit(Seq((1L, 2L)).toDF("k", "__eq_sq"), root))
    assert(e.getMessage.contains("reserved"), e.getMessage)
    val e2 = intercept[IllegalArgumentException](
      SnapshotTable.commit(Seq((1L, 2L)).toDF("__dv_pos", "v"), root))
    assert(e2.getMessage.contains("reserved"), e2.getMessage)
  }

  test("delete-state broadcast guardrail: past the row threshold the " +
      "anti-joins drop the hint (no forced broadcast in the plan) and " +
      "return identical rows") {
    // the threshold is 5,000,000 delete rows: a delete side of exactly
    // that many keeps the hint, one row more drops it, for reads and
    // deleteWhereMor's marking scan alike
    import spark.implicits._
    val bound = 5000000L
    val prevAuto = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // isolate the HINT: disable size-based broadcast, so a shuffle
      // join in the plan means exactly that the guardrail dropped it
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      def shuffles(root: String): Boolean =
        SnapshotTable.read(spark, root).queryExecution.sparkPlan
          .toString.contains("SortMergeJoin")
      // equality deletes: 5,000,000 key rows, then one more
      val rootEq = s"${tmp()}/eq"
      SnapshotTable.commit(spark.range(0, 100).select(
        col("id").as("k"), (col("id") * 2).as("v")), rootEq,
        statsCol = Some("k"))
      SnapshotTable.deleteByKeysEq(
        spark.range(1000, 1000 + bound).select(col("id").as("k")), rootEq)
      assert(!shuffles(rootEq), "a delete side at the bound must broadcast")
      SnapshotTable.deleteByKeysEq(Seq(7L).toDF("k"), rootEq)
      assert(shuffles(rootEq), "past the bound the hint must drop")
      assert(SnapshotTable.read(spark, rootEq).select("k").as[Long]
        .collect().sorted.toSeq == (0L until 100L).filter(_ != 7L))
      // delete vectors: `g` carries no stats, so every file is
      // ambiguous and all 5,000,001 g = 0 rows land in one vector
      val rootDv = s"${tmp()}/dv"
      SnapshotTable.commit(spark.range(0, bound + 1).select(
        col("id").as("k"), lit(0).as("g")), rootDv, statsCol = Some("k"))
      SnapshotTable.commit(spark.range(bound + 1, bound + 11, 1, 1).select(
        col("id").as("k"), lit(1).as("g")), rootDv, statsCol = Some("k"))
      SnapshotTable.deleteWhereMor(spark, rootDv,
        Seq(org.apache.spark.sql.sources.EqualTo("g", 0)))
      assert(shuffles(rootDv), "past the bound the hint must drop")
      // the next delete's marking scan joins the 10-row file against
      // that vector: it must mark exactly the one matching row
      val (_, dropped, marked, _) = SnapshotTable.deleteWhereMor(
        spark, rootDv,
        Seq(org.apache.spark.sql.sources.EqualTo("k", bound + 3)))
      assert(dropped == 0 && marked == 1, s"dropped $dropped, marked $marked")
      // a read filtered to the 10-row file's keys: its anti-join still
      // takes the whole 5,000,002-row vector side
      assert(SnapshotTable.read(spark, rootDv).where(col("k") > bound)
        .select("k").as[Long].collect().sorted.toSeq ==
        ((bound + 1) to (bound + 10)).filter(_ != bound + 3))
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevAuto)
  }

  test("deleteByKeys (join form, no driver key collect) equals " +
      "deleteWhere(In) row-for-row with the same touched/carried " +
      "split, and change-feeds like any delete") {
    import spark.implicits._
    val rootA = s"${tmp()}/a"
    val rootB = s"${tmp()}/b"
    val data = spark.range(0, 400).select(col("id").as("k"),
      (col("id") % 7).as("v")).repartitionByRange(8, col("k"))
      .sortWithinPartitions("k")
    Seq(rootA, rootB).foreach(r =>
      SnapshotTable.commit(data, r, statsCol = Some("k")))
    val keys = Seq(5L, 17L, 100L, 399L)
    val v0 = SnapshotTable.currentSnapshot(spark, rootA)
    val (va, rewrA, carrA) = SnapshotTable.deleteByKeys(
      keys.toDF("k"), rootA, "k")
    val (_, dropB, rewrB, carrB) = SnapshotTable.deleteWhere(spark, rootB,
      Seq(org.apache.spark.sql.sources.In("k",
        keys.map(k => k: Any).toArray)))
    assert(dropB == 0 && rewrA == rewrB && carrA == carrB,
      s"split diverged: join-form ($rewrA, $carrA) vs collect-form " +
        s"($dropB, $rewrB, $carrB)")
    val a = SnapshotTable.read(spark, rootA).orderBy("k").collect().toSeq
    val b = SnapshotTable.read(spark, rootB).orderBy("k").collect().toSeq
    assert(a == b && a.size == 396)
    // a key set provably absent everywhere is a metadata no-op
    val (vNoop, rewr0, _) = SnapshotTable.deleteByKeys(
      Seq(100000L).toDF("k"), rootA, "k")
    assert(vNoop == va && rewr0 == 0)
    // the change feed crosses it as an exact op-D step
    val feed = SnapshotTable.changeFeed(spark, rootA, v0, va)
    assert(feed.filter(col("_op") === "D").select("k")
      .as[Long].collect().toSet == keys.toSet)
    val folded = SnapshotTable.applyChanges(
      SnapshotTable.readAt(spark, rootA, v0), feed, "k")
    assert(folded.orderBy("k").collect().toSeq == a)
  }

  test("merge and deleteByKeys refuse a null key before writing " +
      "anything, with and without key stats, and the head stays put") {
    import spark.implicits._
    def files(root: String): Set[String] = {
      val dir = new java.io.File(new java.net.URI(s"file:$root").getPath)
      def walk(f: java.io.File): Seq[String] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f.getPath)
      walk(dir).toSet
    }
    Seq(Some("k"), None).foreach { stats =>
      val root = s"${tmp()}/t"
      SnapshotTable.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "v")
        .coalesce(1), root, statsCol = stats)
      val head = SnapshotTable.currentSnapshot(spark, root)
      val before = files(root)
      val nullKey = Seq((Some(1L), "x"), (None, "y"))
        .toDF("k", "v")
      Seq[(String, () => Any)](
        "merge" -> (() => SnapshotTable.merge(nullKey, root, "k")),
        "deleteByKeys" -> (() =>
          SnapshotTable.deleteByKeys(nullKey.select("k"), root, "k"))
      ).foreach { case (op, run) =>
        val e = intercept[IllegalArgumentException](run())
        assert(e.getMessage.contains(s"$op: null values in key column k"),
          e.getMessage)
        assert(SnapshotTable.currentSnapshot(spark, root) == head,
          s"$op with stats $stats moved the head")
        assert(files(root) == before, s"$op with stats $stats wrote files")
      }
    }
  }

  test("deleteStats reads each delete's (dropped, rewritten, carried) " +
      "from its own manifests: two tables deleting from two threads " +
      "each get the tuple their own call returned") {
    import spark.implicits._
    import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThan}
    val roots = Seq(s"${tmp()}/a", s"${tmp()}/b")
    roots.foreach(r => SnapshotTable.commit(
      spark.range(0, 400).select(col("id").as("k"))
        .repartitionByRange(8, col("k")).sortWithinPartitions("k"),
      r, statsCol = Some("k")))
    // a's deletes drop whole low files and rewrite a boundary file; b's
    // rewrite one boundary file and carry the rest
    val deletes = Seq(
      Seq(130L, 140L, 260L).map(v => LessThan("k", v)),
      Seq(395L, 390L, 300L).map(v => GreaterThanOrEqual("k", v)))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val calls = roots.zip(deletes).map { case (r, fs) =>
        pool.submit(() => fs.map { f =>
          val (id, dropped, rewritten, carried) =
            SnapshotTable.deleteWhere(spark, r, Seq(f))
          (id, (dropped, rewritten, carried))
        })
      }
      roots.zip(calls.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS)))
        .foreach { case (r, results) =>
          results.foreach { case (id, returned) =>
            assert(SnapshotTable.deleteStats(spark, r, id) == returned,
              s"$r v$id")
          }
        }
      assert(calls.head.get().head._2._1 >= 1,
        "a's first delete must drop whole files")
    } finally pool.shutdown()
    // deleteByKeys drops nothing: rewritten and carried only
    val (id, rewritten, carried) =
      SnapshotTable.deleteByKeys(Seq(320L).toDF("k"), roots.head, "k")
    assert(rewritten == 1)
    assert(SnapshotTable.deleteStats(spark, roots.head, id) ==
      (0, rewritten, carried))
  }

  test(".partitions subtracts delete-vector rows per file; eq-burdened" +
      " counts read NULL (undefined until fold) in .partitions and " +
      ".files — rowCount's honesty in the metadata tables") {
    import spark.implicits._
    val wh = tmp()
    spark.conf.set("spark.sql.catalog.r13cat",
      classOf[SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.r13cat.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS r13cat.db")
    // MoR-vectored partitioned table: per-partition live counts
    val rootM = s"$wh/db/m"
    SnapshotTable.commit(
      Seq((1L, "p"), (2L, "p"), (3L, "q")).toDF("k", "b"),
      rootM, partitionBy = Seq("b"))
    SnapshotTable.deleteWhereMor(spark, rootM,
      Seq(org.apache.spark.sql.sources.EqualTo("k", 1L)))
    val parts = spark.sql(
        "SELECT partition, n_rows FROM r13cat.db.m.partitions")
      .collect().map(r => r.getString(0) ->
        (if (r.isNullAt(1)) -99L else r.getLong(1))).toMap
    assert(parts == Map("b=p" -> 1L, "b=q" -> 1L), s"got $parts")
    // eq-burdened table: counts are UNDEFINED until rewriteDeletes
    val rootE = s"$wh/db/e"
    SnapshotTable.commit(
      Seq((1L, "p"), (2L, "q")).toDF("k", "b"), rootE,
      partitionBy = Seq("b"))
    SnapshotTable.deleteByKeysEq(Seq(1L).toDF("k"), rootE)
    assert(spark.sql("SELECT n_rows FROM r13cat.db.e.partitions")
      .collect().forall(_.isNullAt(0)))
    val files = spark.sql("SELECT path, n_rows FROM r13cat.db.e.files")
      .collect()
    // pre-delete DATA files: undefined; the delete entry itself
    // reports its key count
    assert(files.filter(_.getString(0).startsWith("data/"))
      .forall(_.isNullAt(1)), files.mkString("|"))
    assert(files.filter(_.getString(0).startsWith("deletes/"))
      .forall(_.getLong(1) == 1L))
    // after the fold the counts come back
    SnapshotTable.rewriteDeletes(spark, rootE)
    assert(spark.sql("SELECT sum(n_rows) FROM r13cat.db.e.partitions")
      .head.getLong(0) == 1L)
  }
}
