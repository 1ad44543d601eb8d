package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Source/sink format fidelity — oracle-checked round trips.
  *
  * The reference's IO surface is plain text in (1 KB chunks,
  * `apps/wordcount/wc_main.cpp:27-43`) and raw key‖value bytes out
  * (`TeraOutputFormat`, `apps/terasort/TeraOutputFormat.scala:31-60`);
  * this engine already covers both (WordCount, FixedRecordSource). A
  * Spark-native engine additionally owes its users the standard
  * columnar/row interchange formats, and a sink is only DONE when a
  * read-back through it is provably lossless. Each query here writes a
  * driver table through one built-in format into a scratch directory,
  * reads it back through the same format, and aggregates the read-back
  * frame — while the DuckDB oracle computes the identical aggregate
  * straight from the original parquet. The driver's hash gate therefore
  * proves end-to-end VALUE fidelity through the format (quoting/escaping
  * for CSV, string escaping + null omission for JSON lines, the ORC
  * writer/reader pair, and partition-directory encoding for the
  * partitioned parquet sink) — not just "rows came back".
  *
  * Scale note: the write is one wide scan + format encode (no shuffle),
  * the read-back aggregate is the same partial-agg-then-shuffle plan as
  * the direct query; at 100 TB these formats are the interchange points
  * with ingest (CSV/JSON landing zones) and downstream consumers (ORC/
  * parquet lakes), so the fidelity proof is exactly what a pipeline
  * migration needs. Scratch dirs are scoped per JVM (and removed by a
  * shutdown hook): repeated runs inside one process (bench median-of-3)
  * reuse them via mode=overwrite, while concurrent drivers — e.g. a
  * spec run next to a Verify — can never overwrite each other's files
  * mid-read or collide across OS users.
  */
object FormatQueries {

  private def money(c: org.apache.spark.sql.Column) = round(c, 2)

  /** Per-JVM scratch root, deleted on exit. */
  private lazy val scratchRoot: java.io.File = {
    val root = java.nio.file.Files
      .createTempDirectory("graft_fmt_").toFile
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm))
        f.delete(): Unit
      }
      rm(root)
    }))
    root
  }

  private def scratch(tag: String): String =
    new java.io.File(scratchRoot, tag).getAbsolutePath

  /** 1 when the DSv2 connector's own scan refuses `root`'s head: the
    * stock parquet scan cannot subtract merge-on-read deletes. SQL
    * reads in a GraftExtensions session never reach it for such a head
    * (they plan the delete-applying read,
    * [[graft.sources.ResolveSnapshotDeletes]]); the refusal guards
    * sessions built without the extension.
    */
  private def dsv2ScanRefuses(root: String): Long = {
    val opts = new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      java.util.Map.of("path", root))
    val provider = new graft.sources.SnapshotSource
    val table = provider.getTable(provider.inferSchema(opts),
      Array.empty[org.apache.spark.sql.connector.expressions.Transform], opts)
    try {
      table.asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsRead]
        .newScanBuilder(opts)
      0L
    } catch { case _: IllegalArgumentException => 1L }
  }

  /** lineitem → CSV → read back (explicit schema, header) → q1-style
    * aggregate. CSV is the hostile format: doubles must survive
    * shortest-round-trip text, timestamps the default ISO rendering,
    * and flags the quoting path.
    */
  def csvRoundTrip(s: SparkSession, d: String): DataFrame = {
    val li = graft.Tables.lineitem(s, d)
      .select("l_orderkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_returnflag", "l_linestatus",
        "l_shipdate")
    val dir = scratch("csv_lineitem")
    li.write.mode("overwrite").option("header", "true").csv(dir)
    s.read.schema(li.schema).option("header", "true").csv(dir)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        count(lit(1)).as("n"),
        money(sum(col("l_quantity"))).as("sum_qty"),
        money(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))))
          .as("sum_disc_price"),
        sum(col("l_orderkey")).as("sum_okey"),
        date_format(max(col("l_shipdate")), "yyyy-MM-dd HH:mm:ss")
          .as("max_ship"))
  }

  /** events → JSON lines → read back → per-type aggregate. The `props`
    * column is itself a JSON document stored in a string field, so the
    * writer must escape it and the reader unescape it exactly; the
    * get_json_object probe after the round trip fails the hash if either
    * side mangled a quote. Timestamps ride the default ISO-8601 form.
    */
  def jsonRoundTrip(s: SparkSession, d: String): DataFrame = {
    val ev = graft.Tables.events(s, d)
    val dir = scratch("json_events")
    ev.write.mode("overwrite").json(dir)
    s.read.schema(ev.schema).json(dir)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        money(sum(col("value"))).as("sum_value"),
        sum(get_json_object(col("props"), "$.k").cast("long")).as("sum_k"),
        date_format(max(col("ts")), "yyyy-MM-dd HH:mm:ss").as("max_ts"))
  }

  /** orders → ORC → read back → status/priority rollup. ORC is the
    * second columnar lake format next to parquet; the round trip proves
    * the writer/reader pair preserves int64/double/timestamp/string
    * columns bit-exactly.
    */
  def orcRoundTrip(s: SparkSession, d: String): DataFrame = {
    val o = graft.Tables.orders(s, d)
    val dir = scratch("orc_orders")
    o.write.mode("overwrite").orc(dir)
    s.read.schema(o.schema).orc(dir)
      .groupBy(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        money(sum(col("o_totalprice"))).as("total"),
        sum(col("o_orderkey")).as("sum_okey"))
  }

  /** orders → parquet partitioned by o_orderstatus → read back with a
    * partition filter → aggregate. This is the layout a 100 TB lake
    * actually uses: the filter must prune to the single status directory
    * (PartitionFilters in `.explain`, `PartitionedSinkSpec` asserts the
    * directory layout), and the values must survive the move of the
    * partition column out of the data files into directory names —
    * including its round trip through the path-encoded string form.
    */
  def partitionedPrune(s: SparkSession, d: String): DataFrame = {
    val o = graft.Tables.orders(s, d)
    val dir = scratch("part_orders")
    o.write.mode("overwrite").partitionBy("o_orderstatus").parquet(dir)
    s.read.parquet(dir)
      .filter(col("o_orderstatus") === lit("F"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        money(sum(col("o_totalprice"))).as("total"),
        date_format(max(col("o_orderdate")), "yyyy-MM-dd HH:mm:ss")
          .as("max_date"))
  }

  /** lineitem → the engine's OWN DataSourceV2 fixed-record connector
    * (`graft-fixed`, the reference's TeraInputFormat shape) → read back
    * → aggregate. Rows are rendered to exact 10-byte keys (zero-padded
    * orderkey) and 90-byte values ('|'-joined flag/status/quantity,
    * space-padded), so the round trip exercises the connector's record
    * framing, split alignment, and binary column path under the hash
    * gate — until now it was spec-only (golden checksums). The DSv2
    * writer is append-only by design (job-atomic staging + rename), so
    * the scratch dir is cleared first; double → string → double is
    * lossless, making the encode invisible to the aggregate.
    */
  /** Write lineitem as graft-fixed 100-byte records (shared by the
    * round trip and the count-pushdown gate), returning the directory.
    */
  private def writeFixedLineitem(s: SparkSession, d: String): String = {
    // Spark's lpad TRUNCATES to len, so a >10-digit orderkey would be
    // silently corrupted at encode time and only surface as a downstream
    // oracle hash divergence. Fail the write loudly instead: 10 digits
    // covers keys to ~10 billion (TPC-H sf ~1400); past that the record
    // layout itself must widen, which is a schema decision, not padding.
    val keyStr = col("l_orderkey").cast("string")
    val guarded = when(length(keyStr) > 10,
      raise_error(concat(lit("fixedRoundTrip: l_orderkey wider than 10 digits: "),
        keyStr)).cast("string")).otherwise(keyStr)
    val li = graft.Tables.lineitem(s, d).select(
      lpad(guarded, 10, "0").cast("binary").as("key"),
      rpad(concat_ws("|", col("l_returnflag"), col("l_linestatus"),
        col("l_quantity").cast("string")), 90, " ").cast("binary").as("value"))
    val dir = scratch("fixed_lineitem")
    graft.tera.TeraIO.delete(s, dir)
    li.write.format("graft-fixed")
      .option("keyLen", "10").option("valueLen", "90")
      .mode("append").save(dir)
    dir
  }

  def fixedRoundTrip(s: SparkSession, d: String): DataFrame = {
    val dir = writeFixedLineitem(s, d)
    s.read.format("graft-fixed")
      .option("keyLen", "10").option("valueLen", "90").load(dir)
      .select(col("key").cast("string").cast("long").as("okey"),
        split(rtrim(col("value").cast("string")), "\\|").as("p"))
      .select(col("okey"), col("p")(0).as("l_returnflag"),
        col("p")(1).as("l_linestatus"),
        col("p")(2).cast("double").as("qty"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"), sum(col("okey")).as("sum_okey"),
        money(sum(col("qty"))).as("sum_qty"))
  }

  /** Per-JVM catalog database for bucketed tables, rooted in the scratch
    * dir (explicit LOCATION: the session's default warehouse is the cwd,
    * which concurrent drivers may share).
    */
  private def bucketDb(s: SparkSession): String = {
    val loc = scratch("bucket_db")
    s.sql(s"CREATE DATABASE IF NOT EXISTS graft_bkt LOCATION '$loc'")
    "graft_bkt"
  }

  val BucketCount = 8

  /** The co-located fact-fact join — bucketing, the ONE layout decision
    * that removes the dominant shuffle from a 100 TB join pipeline. Both
    * orders and lineitem are written `bucketBy(8, orderkey)` into the
    * session catalog; reading them back, Spark lines bucket i of one
    * table up with bucket i of the other, so the equi-join on the bucket
    * key needs NO Exchange on either side (`BucketDppSpec` asserts the
    * join subtree is exchange-free with broadcast disabled — the only
    * shuffle left in the whole query is the final aggregation's). At
    * cluster scale this is the difference between shuffling both tables
    * per run and shuffling neither ever again: the write pays the
    * partitioning once, every subsequent join in every job reuses it.
    * The hash gate proves the bucketed write+read is value-invisible:
    * the oracle computes the identical join aggregate from the original
    * parquet.
    */
  def bucketedJoin(s: SparkSession, d: String): DataFrame = {
    val db = bucketDb(s)
    graft.Tables.orders(s, d)
      .select("o_orderkey", "o_orderpriority")
      .write.mode("overwrite").format("parquet")
      .bucketBy(BucketCount, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable(s"$db.orders_b")
    graft.Tables.lineitem(s, d)
      .select("l_orderkey", "l_extendedprice", "l_discount")
      .write.mode("overwrite").format("parquet")
      .bucketBy(BucketCount, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable(s"$db.lineitem_b")
    val bo = s.table(s"$db.orders_b")
    val bl = s.table(s"$db.lineitem_b")
    bo.join(bl, bo("o_orderkey") === bl("l_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n"),
        money(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))))
          .as("rev"),
        sum(col("l_orderkey")).as("sum_okey"))
  }

  /** Dynamic partition pruning — the join-driven sibling of
    * `fmt_partitioned_prune`'s static filter, in the canonical
    * star-schema shape: the fact (orders, laid out hive-partitioned by
    * the customer's nation key — the ETL denormalization a 100 TB lake
    * does once at write time) joins a small dim (nation ⋈ region) whose
    * filter `r_name = 'ASIA'` sits on an attribute that is DATA, not a
    * function of the join key — Catalyst cannot infer it onto the fact
    * statically, and DPP's selectivity heuristic requires exactly this
    * literal-on-dim-attribute form. At runtime the fact scan receives a
    * `dynamicpruning` subquery fed by the dim's broadcast, so only the
    * 5-of-25 qualifying nation directories are ever listed/read — on a
    * partitioned lake this is the difference between scanning the world
    * and scanning one region, decided by the dim at runtime.
    * The dim is broadcast EXPLICITLY: it is config-cardinality at every
    * scale factor while the fact grows — at fixture scale Spark's size
    * estimate would otherwise invert the build side (broadcasting the
    * fact), and DPP only plants its filter when the partitioned fact is
    * the probe side of a reusable broadcast. `BucketDppSpec` asserts
    * the dynamicpruning expression lands in the scan's partition
    * filters; the oracle recomputes the same join from the original
    * parquet.
    */
  def dppPrune(s: SparkSession, d: String): DataFrame = {
    val dir = scratch("dpp_orders")
    graft.Tables.orders(s, d)
      .join(graft.Tables.customer(s, d),
        col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("o_totalprice"),
        col("c_nationkey").as("o_nationkey"))
      .write.mode("overwrite").partitionBy("o_nationkey").parquet(dir)
    val fact = s.read.parquet(dir)
    val dim = graft.Tables.nation(s, d)
      .join(graft.Tables.region(s, d),
        col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === lit("ASIA"))
      .select(col("n_nationkey").as("o_nationkey"), col("n_name"))
    fact.join(broadcast(dim), "o_nationkey")
      .groupBy(col("n_name"))
      .agg(
        count(lit(1)).as("n"),
        money(sum(col("o_totalprice"))).as("total"),
        sum(col("o_orderkey")).as("sum_okey"))
  }

  /** Schema evolution through the parquet lake: generation 1 files
    * predate the `o_orderpriority` column (even orderkeys), generation 2
    * carries it — exactly how a long-lived table accretes columns. The
    * mergeSchema read must reconcile the footers (missing column →
    * NULL for old files, never a mis-bind), proven by aggregating on
    * the evolved column with old rows coalesced to a sentinel while the
    * oracle derives the same split straight from the original table.
    * Scale note: mergeSchema footer reconciliation is a planning-time
    * file-listing cost; the scan itself stays columnar and pruned.
    */
  def schemaEvolution(s: SparkSession, d: String): DataFrame = {
    val o = graft.Tables.orders(s, d)
    val dir = scratch("sev_orders")
    o.filter(col("o_orderkey") % 2 === 0)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/gen1")
    o.filter(col("o_orderkey") % 2 =!= 0)
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/gen2")
    s.read.option("mergeSchema", "true").parquet(s"$dir/gen1", s"$dir/gen2")
      .groupBy(coalesce(col("o_orderpriority"), lit("<pre-evolution>"))
        .as("priority"))
      .agg(count(lit(1)).as("n"),
        money(sum(col("o_totalprice"))).as("sum_total"),
        sum(col("o_orderkey")).as("sum_okey"))
  }

  /** PERMISSIVE ingestion of a dirty CSV landing zone: one text file
    * per partition mixing valid order lines with deterministically
    * injected garbage (every o_orderkey % 10 == 0 row is replaced by an
    * unparseable line carrying its key). The read declares the schema
    * plus `_corrupt_record`; PERMISSIVE mode must null out the bad rows
    * and capture their raw text instead of failing the scan — the
    * production contract for "keep loading, quarantine the rest". The
    * aggregate accounts both sides (valid rows by status with exact
    * sums, corrupt rows recounted by parsing the key back OUT of the
    * quarantined raw line), so the oracle can derive the identical
    * split from the clean table: a lost or double-counted record on
    * either side of the quarantine fails the hash.
    */
  def malformedCsv(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val o = graft.Tables.orders(s, d)
    val dir = scratch("dirty_orders")
    o.select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .as[(Long, String, Double)]
      .map { case (k, st, tp) =>
        if (k % 10 == 0) s"BAD#$k#unparseable" else s"$k,$st,$tp"
      }
      .write.mode("overwrite").text(dir)
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("o_orderstatus", StringType),
      StructField("o_totalprice", DoubleType),
      StructField("_corrupt_record", StringType)))
    val back = s.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .csv(dir)
    back.select(
        when(col("_corrupt_record").isNull, col("o_orderstatus"))
          .otherwise(lit("<quarantined>")).as("status"),
        col("o_totalprice"),
        when(col("_corrupt_record").isNull, col("o_orderkey"))
          .otherwise(regexp_extract(col("_corrupt_record"),
            "BAD#(\\d+)#", 1).cast("long")).as("key"))
      .groupBy("status")
      .agg(count(lit(1)).as("n"),
        money(sum(coalesce(col("o_totalprice"), lit(0.0)))).as("total"),
        sum(col("key")).as("sum_okey"))
  }

  /** lineitem → parquet under ZSTD → read back → aggregate. Codec choice
    * is a first-order knob at 100 TB (zstd trades ~20-30 % smaller files
    * for slightly higher CPU vs snappy); the round trip proves the
    * non-default codec is readable and value-invisible, and
    * `Session5OpsSpec` asserts the files really are zstd-compressed
    * (codec suffix), not silently snappy.
    */
  def zstdRoundTrip(s: SparkSession, d: String): DataFrame = {
    val li = graft.Tables.lineitem(s, d)
      .select("l_orderkey", "l_quantity", "l_extendedprice", "l_returnflag")
    val dir = scratch("zstd_lineitem")
    li.write.mode("overwrite").option("compression", "zstd").parquet(dir)
    s.read.parquet(dir)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        money(sum(col("l_quantity"))).as("sum_qty"),
        money(sum(col("l_extendedprice"))).as("sum_price"),
        sum(col("l_orderkey")).as("sum_okey"))
  }

  /** Snapshot ISOLATION through the manifest layer
    * ([[graft.sources.SnapshotTable]]): commit orders as snapshot v1,
    * capture a reader PINNED at v1, then commit an append batch (keys
    * % 10 <= 2 re-inserted with price+100) as v2 — and only then
    * evaluate everything. The result joins three scans per status:
    * the pinned v1 reader (evaluated AFTER v2 committed — an unpinned
    * directory scan would see v2's files here and fail the hash), the
    * current v2 reader, and O(1) time travel back to v1 (`readAt(1)`,
    * one manifest read, which must agree with the pinned reader
    * column-for-column). The DuckDB oracle derives both versions
    * straight from the orders table by the append rule.
    *
    * Scale note: the isolation/time-travel cost is ONE small-file read
    * per version regardless of table size — the property that makes
    * concurrent readers free at 100 TB; data files are immutable so no
    * reader ever blocks a writer.
    */
  def snapshotIsolation(s: SparkSession, d: String): DataFrame = {
    import graft.sources.SnapshotTable
    val root = scratch("snap_orders")
    graft.tera.TeraIO.delete(s, root)
    val o = graft.Tables.orders(s, d)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    SnapshotTable.commit(o, root) // v1
    val pinnedV1 = SnapshotTable.read(s, root) // pinned BEFORE v2 exists
    SnapshotTable.commit( // v2: the append batch
      o.filter(col("o_orderkey") % 10 <= 2)
        .withColumn("o_totalprice", col("o_totalprice") + 100.0),
      root)
    def agg(df: DataFrame, tag: String): DataFrame =
      df.groupBy("o_orderstatus")
        .agg(count(lit(1)).as(s"n_$tag"),
          money(sum(col("o_totalprice"))).as(s"total_$tag"),
          sum(col("o_orderkey")).as(s"okey_$tag"))
    agg(pinnedV1, "v1")
      .join(agg(SnapshotTable.read(s, root), "v2"), "o_orderstatus")
      .join(agg(SnapshotTable.readAt(s, root, 1L), "travel")
        .select(col("o_orderstatus"), col("n_travel")), "o_orderstatus")
  }

  /** The vacuum lifecycle end-to-end ([[graft.sources.SnapshotTable
    * .expireSnapshots]]): commit v1, append v2, COMPACT the current
    * logical table as the overwrite v3, then expire everything but the
    * last snapshot — v1/v2's manifests and their now-unreferenced data
    * files are deleted — and read current. The hash gate proves the
    * compact+expire cycle is invisible to the data (current still equals
    * the v2 logical content, derived independently by the oracle), while
    * the audit columns pin the metadata effects: exactly two manifests
    * expired, and a time travel to the expired v1 fails loudly rather
    * than returning anything.
    */
  def snapshotExpire(s: SparkSession, d: String): DataFrame = {
    import graft.sources.SnapshotTable
    val root = scratch("snap_expire")
    graft.tera.TeraIO.delete(s, root)
    val o = graft.Tables.orders(s, d)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    SnapshotTable.commit(o, root) // v1
    SnapshotTable.commit( // v2: the same append rule as the isolation gate
      o.filter(col("o_orderkey") % 10 <= 2)
        .withColumn("o_totalprice", col("o_totalprice") + 100.0),
      root)
    SnapshotTable.commit( // v3: compaction — rewrite current, one file
      SnapshotTable.read(s, root).coalesce(1), root, overwrite = true)
    val (nManifests, _) = SnapshotTable.expireSnapshots(s, root, keepLast = 1)
    val expiredReadFails =
      try { SnapshotTable.readAt(s, root, 1L); 0L }
      catch { case _: IllegalArgumentException => 1L }
    // TIME-BASED retention leg ([[SnapshotTable.expireSnapshotsOlderThan]]
    // — "expire older than T, keep at least N", the production policy):
    // v4 appends, the v3 manifest is AGED past the horizon, and the age
    // expire drops exactly it — v4 survives on keep_at_least whatever
    // its age would be; v3's files stay (v4 references them), so the
    // read below is untouched by which manifests were vacuumed
    SnapshotTable.commit( // v4
      o.filter(col("o_orderkey") % 10 === 9)
        .withColumn("o_totalprice", col("o_totalprice") + 500.0),
      root)
    val v3Manifest = new java.io.File(s"$root/_manifests/v3.manifest")
    require(v3Manifest.setLastModified(
      System.currentTimeMillis() - 60000L), "aging v3 failed")
    val (nByAge, _) = SnapshotTable.expireSnapshotsOlderThan(
      s, root, olderThanMs = 30000L, keepAtLeast = 1)
    val liveByAge = graft.sources.SnapshotSource.snapshots(s, root).count()
    SnapshotTable.read(s, root)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_cur"),
        money(sum(col("o_totalprice"))).as("total_cur"),
        sum(col("o_orderkey")).as("okey_cur"))
      .withColumn("n_expired_manifests", lit(nManifests.toLong))
      .withColumn("expired_read_fails", lit(expiredReadFails))
      .withColumn("n_expired_by_age", lit(nByAge.toLong))
      .withColumn("n_live_by_age", lit(liveByAge))
  }

  /** Named refs end-to-end ([[graft.sources.SnapshotTable.createTag]] /
    * `createBranch` / `advanceBranch`): tag `baseline` pins v1, branch
    * `audit` is created at v2 and fast-forwarded to v3, the head moves
    * on to v4, and `expire_snapshots(keep_last = 1)` then vacuums —
    * dropping exactly the one snapshot (v2) that is neither in the
    * kept window nor under a ref. The gate reads the TAG through the
    * library (`readRef`) and the BRANCH through the DSv2 `option("ref",
    * name)` AFTER the vacuum, proving refs keep their snapshots alive
    * (manifest, files, and all) whatever the retention window — the
    * Iceberg ref contract. Audit columns pin the expired count and the
    * ref listing; at 100 TB every ref operation is one tiny `_refs/`
    * file, O(1) metadata.
    */
  def snapshotRefs(s: SparkSession, d: String): DataFrame = {
    import graft.sources.SnapshotTable
    val root = scratch("snap_refs")
    graft.tera.TeraIO.delete(s, root)
    val o = graft.Tables.orders(s, d)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    SnapshotTable.commit(o, root) // v1
    SnapshotTable.createTag(s, root, "baseline") // pins v1
    SnapshotTable.commit( // v2
      o.filter(col("o_orderkey") % 10 === 1)
        .withColumn("o_totalprice", col("o_totalprice") + 100.0), root)
    SnapshotTable.createBranch(s, root, "audit", 2L)
    SnapshotTable.commit( // v3
      o.filter(col("o_orderkey") % 10 === 2)
        .withColumn("o_totalprice", col("o_totalprice") + 200.0), root)
    SnapshotTable.advanceBranch(s, root, "audit", 3L)
    SnapshotTable.commit( // v4
      o.filter(col("o_orderkey") % 10 === 3)
        .withColumn("o_totalprice", col("o_totalprice") + 300.0), root)
    val (nExpired, _) = SnapshotTable.expireSnapshots(s, root, keepLast = 1)
    def scalars(df: DataFrame, tag: String): DataFrame =
      df.agg(count(lit(1)).as(s"n_$tag"),
        money(sum(col("o_totalprice"))).as(s"total_$tag"))
    val tagAgg = scalars(SnapshotTable.readRef(s, root, "baseline"), "tag")
    val brAgg = scalars(
      s.read.format("graft-snap").option("ref", "audit").load(root),
      "branch")
    val nRefs = SnapshotTable.listRefs(s, root).size.toLong
    SnapshotTable.read(s, root)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_cur"),
        money(sum(col("o_totalprice"))).as("total_cur"),
        sum(col("o_orderkey")).as("okey_cur"))
      .crossJoin(broadcast(tagAgg))
      .crossJoin(broadcast(brAgg))
      .withColumn("n_expired", lit(nExpired.toLong))
      .withColumn("n_refs", lit(nRefs))
  }

  /** Per-file membership BLOOMS feeding RUNTIME join pruning
    * ([[graft.sources.SnapshotTable.buildBloomIndex]] + the scan's
    * `SupportsRuntimeV2Filtering`): the fact table's join key is
    * SCATTERED (round-robin files, every [min, max] band covers the
    * whole key space — the layout where band pruning is useless), its
    * keys are all EVEN, and a bloom index is built over it as one
    * read-only scan + one metadata-only commit. Two joins against a
    * dim filtered by a NON-key predicate (nothing constant-folds —
    * only Spark's runtime filter can push the dim's keys into the
    * fact scan):
    *
    *   - the ABSENT leg joins on all-ODD dim keys: the runtime IN
    *     probes reach the scan, every file's bloom refutes them, and
    *     the audit pins that files were pruned where the bands could
    *     prove nothing (`absent_pruned`, with zero result rows);
    *   - the PRESENT leg joins on matching keys: blooms never refute
    *     a present value (soundness), and the result hash-matches the
    *     oracle's plain join.
    *
    * At 100 TB this is the selective-dim star join on a fact NOT
    * clustered by the dim key — the case neither partition pruning
    * nor min/max can touch; per-file blooms are what Iceberg ships as
    * puffin NDV/bloom metadata for.
    */
  def snapshotBloom(s: SparkSession, d: String): DataFrame = {
    import graft.sources.{SnapshotSource, SnapshotTable}
    val root = scratch("snap_bloom")
    graft.tera.TeraIO.delete(s, root)
    // fact key = (custkey mod 4096) * 2: EVEN, bounded per-file NDV
    // (blooms saturate past ~13k distinct per file — the honest limit
    // of per-file equality blooms; a higher-NDV key wants clustering
    // instead), scattered round-robin so every band covers everything
    val o = graft.Tables.orders(s, d)
      .select(col("o_orderkey"),
        (col("o_custkey") % 4096 * 2).as("o_ck2"),
        col("o_orderstatus"), col("o_totalprice"))
    SnapshotTable.commit(o.repartition(16), root, statsCol = Some("o_ck2"))
    SnapshotTable.buildBloomIndex(s, root, "o_ck2")
    // the dim filter is on the SOURCE column, never the join key —
    // nothing constant-folds, only the runtime filter can prune — and
    // selects a FIXED ~40 keys at every scale (false positives
    // accumulate per probe key, so a scale-growing key set would
    // saturate the refutation; 40 keys x ~0.1% FP prunes ~95%+)
    val cust = graft.Tables.customer(s, d)
      .select(col("c_custkey"), col("c_nationkey"))
    val dimAbsent = cust.filter(col("c_custkey") <= 40)
      .select((col("c_custkey") % 4096 * 2 + 1).as("ck")) // ODD: absent
    val dimPresent = cust.filter(col("c_custkey") <= 40)
      .select((col("c_custkey") % 4096 * 2).as("ck"))
    val fact = s.read.format("graft-snap").load(root)
    // lastPrune reflects the absent leg's final skipping decision: its
    // scan's own pushFilters logs first (no pruning), then the runtime
    // bloom refutation overwrites with the pruned set
    val nAbsent = fact.join(dimAbsent, fact("o_ck2") === dimAbsent("ck"))
      .count()
    val (kept, total) = SnapshotSource.lastPrune(root).getOrElse((-1, -1))
    val present = fact.join(dimPresent, fact("o_ck2") === dimPresent("ck"))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_join"),
        money(sum(col("o_totalprice"))).as("total_join"),
        sum(col("o_orderkey")).as("okey_join"))
    present
      .withColumn("n_absent_rows", lit(nAbsent))
      .withColumn("absent_pruned",
        lit(if (kept >= 0 && kept < total) 1L else 0L))
  }

  /** The DSv2 reader surface over the same layer
    * ([[graft.sources.SnapshotSource]], `format("graft-snap")`): commit
    * v1 and the v2 append exactly as the isolation gate does, then read
    * BOTH versions through `spark.read.format("graft-snap")` — time
    * travel via `option("snapshot", 1)`, current via plain load — plus
    * the snapshot catalog listing folded to audit columns. Shares the
    * isolation gate's oracle derivation, so the DSv2 path is hash-gated
    * against the same truth the library path is; the library-vs-DSv2
    * row equality is additionally spec-locked (`SnapshotSourceSpec`).
    */
  def snapshotDsv2(s: SparkSession, d: String): DataFrame = {
    import graft.sources.{SnapshotSource, SnapshotTable}
    val root = scratch("snap_dsv2")
    graft.tera.TeraIO.delete(s, root)
    val o = graft.Tables.orders(s, d)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    SnapshotTable.commit(o, root) // v1
    SnapshotTable.commit(
      o.filter(col("o_orderkey") % 10 <= 2)
        .withColumn("o_totalprice", col("o_totalprice") + 100.0),
      root) // v2
    def agg(df: DataFrame, tag: String): DataFrame =
      df.groupBy("o_orderstatus")
        .agg(count(lit(1)).as(s"n_$tag"),
          money(sum(col("o_totalprice"))).as(s"total_$tag"),
          sum(col("o_orderkey")).as(s"okey_$tag"))
    val travel = s.read.format("graft-snap").option("snapshot", "1").load(root)
    val current = s.read.format("graft-snap").load(root)
    val catalog = SnapshotSource.snapshots(s, root)
      .agg(count(lit(1)).as("n_snapshots"), max("snapshot_id").as("max_id"))
    agg(travel, "v1")
      .join(agg(current, "v2"), "o_orderstatus")
      .crossJoin(broadcast(catalog))
  }

  /** Incremental consumption off the manifest layer
    * ([[graft.sources.SnapshotTable.changesBetween]]): commit v1, then
    * two derived APPEND batches as v2 and v3, and read "what changed
    * since v1" — which must be exactly the two appended batches, never
    * re-delivering v1's rows. The scan is file-level metadata (added
    * files = v3's list minus v1's): at 100 TB a catch-up consumer reads
    * the appended files only, not the table. The audit column pins the
    * safety half: after an overwrite (compaction) commit, the same
    * incremental read REFUSES loudly instead of serving rewritten rows
    * as new.
    */
  def snapshotChanges(s: SparkSession, d: String): DataFrame = {
    import graft.sources.SnapshotTable
    val root = scratch("snap_changes")
    graft.tera.TeraIO.delete(s, root)
    val o = graft.Tables.orders(s, d)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    SnapshotTable.commit(o, root) // v1
    SnapshotTable.commit( // v2: append batch A
      o.filter(col("o_orderkey") % 10 <= 2)
        .withColumn("o_totalprice", col("o_totalprice") + 100.0),
      root)
    SnapshotTable.commit( // v3: append batch B
      o.filter(col("o_orderkey") % 10 === 3 || col("o_orderkey") % 10 === 4)
        .withColumn("o_totalprice", col("o_totalprice") + 200.0),
      root)
    val changes = SnapshotTable.changesBetween(s, root, 1L, 3L)
    SnapshotTable.commit( // v4: compaction — invalidates incremental reads
      SnapshotTable.read(s, root).coalesce(1), root, overwrite = true)
    val nonAppendRefused =
      try { SnapshotTable.changesBetween(s, root, 1L, 4L); 0L }
      catch { case _: IllegalStateException => 1L }
    changes.groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_changed"),
        money(sum(col("o_totalprice"))).as("total_changed"),
        sum(col("o_orderkey")).as("okey_changed"))
      .withColumn("nonappend_refused", lit(nonAppendRefused))
  }

  /** The manifest-level file-skipping index
    * ([[graft.sources.SnapshotTable.readWhere]]): commit lineitem
    * range-clustered on `l_orderkey` with `statsCol` so every data file
    * carries its footer min/max in the manifest, then answer a narrow
    * key-range aggregate through the pruned read. The hash gate proves
    * exactness (prune is sound, the residual filter completes it — the
    * oracle filters the original table); the audit column pins that
    * pruning actually dropped files, and the spec additionally locks
    * kept < total with exact counts. At 100 TB this is the difference
    * between opening a few files and opening all of them — before
    * Spark's own row-group pruning even starts, and orthogonal to it.
    */
  def snapshotSkip(s: SparkSession, d: String): DataFrame = {
    import graft.sources.SnapshotTable
    val root = scratch("snap_skip")
    graft.tera.TeraIO.delete(s, root)
    val li = graft.Tables.lineitem(s, d)
      .select("l_orderkey", "l_quantity", "l_extendedprice")
    SnapshotTable.commit(
      li.repartitionByRange(16, col("l_orderkey")), root,
      statsCol = Some("l_orderkey"))
    val (_, kept, total) =
      SnapshotTable.pruneFiles(s, root, 1L, "l_orderkey", 1000L, 5000L)
    SnapshotTable.readWhere(s, root, 1L, "l_orderkey", 1000L, 5000L)
      .agg(count(lit(1)).as("n_rows"),
        money(sum(col("l_quantity"))).as("sum_qty"),
        money(sum(col("l_extendedprice"))).as("sum_price"))
      .withColumn("pruned_some", lit(if (kept < total) 1L else 0L))
  }

  /** Copy-on-write MERGE through the manifest's stats index
    * ([[graft.sources.SnapshotTable.merge]]): commit orders
    * range-clustered on `o_orderkey` with per-file stats, then upsert a
    * batch that UPDATES a contiguous key band (prices +500) and INSERTS
    * keys beyond the table's range. Only files whose stats band
    * intersects an update key are rewritten — everything else is
    * carried verbatim — and the hash gate proves the merged table
    * equals the SQL merge truth while `n_v1` pins that time travel to
    * the pre-merge snapshot still works (a merge rewrites the PRESENT,
    * never history). At 100 TB the rewrite IO is touched files + the
    * delta, never the table; exact touched/carried counts are
    * spec-locked (`SnapshotTableSpec`).
    */
  def snapshotMerge(s: SparkSession, d: String): DataFrame =
    snapshotMergeAt(s, d, "snap_merge")

  private def snapshotMergeAt(s: SparkSession, d: String,
      scratchName: String): DataFrame = {
    import graft.sources.SnapshotTable
    val root = scratch(scratchName)
    graft.tera.TeraIO.delete(s, root)
    val o = graft.Tables.orders(s, d)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    val v1 = SnapshotTable.commit(
      o.repartitionByRange(16, col("o_orderkey")), root,
      statsCol = Some("o_orderkey"))
    val updates = o.filter(col("o_orderkey").between(1000, 3000))
      .withColumn("o_totalprice", col("o_totalprice") + 500.0)
      .unionByName(o.filter(col("o_orderkey") < 500)
        .withColumn("o_orderkey", col("o_orderkey") + 10000000L))
    val (v2, nRewritten, nCarried) =
      SnapshotTable.merge(updates, root, "o_orderkey")
    val merged = SnapshotTable.readAt(s, root, v2)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_merged"),
        money(sum(col("o_totalprice"))).as("total_merged"),
        sum(col("o_orderkey")).as("okey_merged"))
    val preMerge = SnapshotTable.readAt(s, root, v1)
      .groupBy("o_orderstatus").agg(count(lit(1)).as("n_v1"))
    merged.join(preMerge, "o_orderstatus")
      .withColumn("pruned_some", lit(if (nCarried > nRewritten) 1L else 0L))
  }

  /** Row-level change feed across a MERGE
    * ([[graft.sources.SnapshotTable.changeFeed]] /
    * [[graft.sources.SnapshotTable.applyChanges]]): commit v1, append
    * v2, MERGE v3 — then a consumer pinned at v1 catches up by folding
    * the change feed (append rows as op `A`; the merge's recorded
    * change frame, op `U` replaced / `I` inserted) over its state
    * instead of re-baselining with a full-table read. The hash gate
    * proves the folded state equals the direct post-merge truth (the
    * oracle recomputes it from the orders table); the op-count audit
    * columns pin that the merge's frame recorded exactly the updated
    * band as U and the beyond-range inserts as I. At 100 TB the feed
    * is delta-priced — the merge already materialized those rows.
    */
  def snapshotCdf(s: SparkSession, d: String): DataFrame = {
    import graft.sources.SnapshotTable
    val root = scratch("snap_cdf")
    graft.tera.TeraIO.delete(s, root)
    val o = graft.Tables.orders(s, d)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    SnapshotTable.commit(o.repartitionByRange(16, col("o_orderkey")), root,
      statsCol = Some("o_orderkey")) // v1
    SnapshotTable.commit( // v2: append batch
      o.filter(col("o_orderkey") % 10 <= 2)
        .withColumn("o_totalprice", col("o_totalprice") + 100.0),
      root, statsCol = Some("o_orderkey"))
    val updates = o.filter(col("o_orderkey").between(1000, 3000))
      .withColumn("o_totalprice", col("o_totalprice") + 500.0)
      .unionByName(o.filter(col("o_orderkey") < 500)
        .withColumn("o_orderkey", col("o_orderkey") + 10000000L))
    val (v3, _, _) = SnapshotTable.merge(updates, root, "o_orderkey")
    val feed = SnapshotTable.changeFeed(s, root, 1L, v3)
    val folded = SnapshotTable.applyChanges(
      SnapshotTable.readAt(s, root, 1L), feed, "o_orderkey")
    val opCounts = feed.filter(col("_commit") === v3).agg(
      sum(when(col("_op") === "U", 1L).otherwise(0L)).as("n_replaced"),
      sum(when(col("_op") === "I", 1L).otherwise(0L)).as("n_inserted"))
    folded.groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_fold"),
        money(sum(col("o_totalprice"))).as("total_fold"),
        sum(col("o_orderkey")).as("okey_fold"))
      .crossJoin(broadcast(opCounts))
  }

  /** The COMPLETE change feed ([[graft.sources.SnapshotTable.changeFeed]]
    * across every row-changing commit kind): commit v1, append v2
    * (fresh keys), MERGE v3 (band update + beyond-range inserts — the
    * frame now records `UB` pre-images alongside `U`/`I`), copy-on-write
    * DELETE v4 (a key band: boundary rewrites record their dead rows as
    * op `D`, whole-file drops are named in the manifest and read lazily
    * by the FEED, so the delete stays metadata-only), merge-on-read
    * DELETE v5 (a stats-blind price predicate: the marking scan's rows
    * ARE the `D` frame, and the delete vector derives from it — one
    * scan serves both), vector fold v6 (a logical no-op: the feed
    * crosses it as an EMPTY step instead of refusing), append v7. A
    * consumer pinned at v1 folds the whole feed
    * ([[graft.sources.SnapshotTable.applyChanges]]) and the hash gate
    * proves the folded state equals the direct post-v7 truth, which the
    * oracle recomputes from the orders table; the audit columns pin the
    * pre-image/delete-row cardinalities and that the fold step emitted
    * zero rows. At 100 TB every frame is delta-priced at commit time;
    * the only deferred cost is reading a dropped file's rows, paid by
    * the consumer that wants them.
    */
  def snapshotCdfFull(s: SparkSession, d: String): DataFrame = {
    import graft.sources.SnapshotTable
    import org.apache.spark.sql.sources.{GreaterThan, LessThan, LessThanOrEqual}
    val root = scratch("snap_cdf_full")
    graft.tera.TeraIO.delete(s, root)
    val o = graft.Tables.orders(s, d)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    val mx = o.agg(max("o_orderkey")).head.getAs[Number](0).longValue
    val (lo2, hi2) = (mx * 2 / 5, mx * 3 / 5)
    SnapshotTable.commit(o.repartitionByRange(16, col("o_orderkey")), root,
      statsCol = Some("o_orderkey")) // v1
    SnapshotTable.commit( // v2: append, FRESH keys (the fold's key contract)
      o.filter(col("o_orderkey") % 10 === 7)
        .withColumn("o_orderkey", col("o_orderkey") + 10000000L)
        .withColumn("o_totalprice", col("o_totalprice") + 50.0),
      root, statsCol = Some("o_orderkey"))
    val updates = o.filter(col("o_orderkey").between(1000, 3000))
      .withColumn("o_totalprice", col("o_totalprice") + 500.0)
      .unionByName(o.filter(col("o_orderkey") < 300)
        .withColumn("o_orderkey", col("o_orderkey") + 20000000L))
    val (v3, _, _) = SnapshotTable.merge(updates, root, "o_orderkey")
    val (v4, _, _, _) = SnapshotTable.deleteWhere(s, root,
      Seq(GreaterThan("o_orderkey", lo2), LessThanOrEqual("o_orderkey", hi2)))
    val (v5, _, _, _) = SnapshotTable.deleteWhereMor(s, root,
      Seq(LessThan("o_totalprice", 2000.0)))
    val v6 = SnapshotTable.rewriteDeletes(s, root)
    val v7 = SnapshotTable.commit( // append again, fresh keys
      o.filter(col("o_orderkey") % 10 === 9)
        .withColumn("o_orderkey", col("o_orderkey") + 40000000L)
        .withColumn("o_totalprice", col("o_totalprice") + 70.0),
      root, statsCol = Some("o_orderkey"))
    val feed = SnapshotTable.changeFeed(s, root, 1L, v7)
    val folded = SnapshotTable.applyChanges(
      SnapshotTable.readAt(s, root, 1L), feed, "o_orderkey")
    val audits = feed.agg(
      sum(when(col("_op") === "UB", 1L).otherwise(0L)).as("n_ub"),
      sum(when(col("_op") === "D" && col("_commit") === v4, 1L)
        .otherwise(0L)).as("n_d_cow"),
      sum(when(col("_op") === "D" && col("_commit") === v5, 1L)
        .otherwise(0L)).as("n_d_mor"),
      sum(when(col("_commit") === v6, 1L).otherwise(0L)).as("n_noop_rows"))
    folded.groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_fold"),
        money(sum(col("o_totalprice"))).as("total_fold"),
        sum(col("o_orderkey")).as("okey_fold"))
      .crossJoin(broadcast(audits))
  }

  /** CHECK CONSTRAINTS through table properties
    * ([[graft.sources.SnapshotTable.setTableProps]] `constraint.*` →
    * write-time enforcement in `publishStaged`, the one choke point
    * every commit shape funnels through): v1 commits clean orders,
    * adding `constraint.positive` validates the STANDING table (one
    * scan, Delta's ADD CONSTRAINT semantics — the audit pins that a
    * constraint the data violates is REFUSED at set time), a clean
    * append passes, a poisoned append (negative prices) refuses
    * WHOLESALE before any file moves — the audit pins the table
    * unchanged — and a NULL-bearing append passes (SQL CHECK
    * semantics: NULL is not FALSE). At 100 TB: enforcement costs one
    * read of each commit's own new files, never the table; the
    * invariant "every row satisfies every constraint" is maintained by
    * set-time validation + write-time refusal, so readers never
    * re-check.
    */
  def snapshotConstraint(s: SparkSession, d: String): DataFrame = {
    import graft.sources.SnapshotTable
    val root = scratch("snap_cons")
    graft.tera.TeraIO.delete(s, root)
    val o = graft.Tables.orders(s, d)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    SnapshotTable.commit(o.repartitionByRange(8, col("o_orderkey")),
      root, statsCol = Some("o_orderkey")) // v1: clean
    // a constraint the standing data VIOLATES refuses at set time
    val setRefused =
      try {
        SnapshotTable.setTableProps(s, root,
          Map("constraint.absurd" -> "o_totalprice > 1000000000"))
        0L
      } catch { case _: IllegalArgumentException => 1L }
    SnapshotTable.setTableProps(s, root,
      Map("constraint.positive" -> "o_totalprice > 0"))
    SnapshotTable.commit( // clean append: passes
      o.filter(col("o_orderkey") % 10 === 7)
        .withColumn("o_orderkey", col("o_orderkey") + 10000000L),
      root, statsCol = Some("o_orderkey"))
    val before = SnapshotTable.currentSnapshot(s, root)
    val writeRefused =
      try { // poisoned append: refused wholesale
        SnapshotTable.commit(
          o.filter(col("o_orderkey") % 100 === 3)
            .withColumn("o_totalprice", lit(-1.0)), root)
        0L
      } catch { case _: IllegalArgumentException => 1L }
    val unchanged =
      SnapshotTable.currentSnapshot(s, root) == before
    SnapshotTable.read(s, root)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_rows"),
        money(sum(col("o_totalprice"))).as("total_price"),
        sum(col("o_orderkey")).as("okey_sum"))
      .withColumn("set_refused", lit(setRefused))
      .withColumn("write_refused", lit(writeRefused))
      .withColumn("table_unchanged", lit(if (unchanged) 1L else 0L))
  }

  /** PARTITION SPEC EVOLUTION
    * ([[graft.sources.SnapshotTable.evolvePartitioning]], Iceberg's
    * signature table-shape verb): v1 commits orders partitioned by
    * STATUS, one metadata-only commit re-partitions the table by
    * PRIORITY going forward (the audit pins the untouched file list),
    * an append stages value-pure on the new key, and a partition
    * replace of one priority value runs on the MIXED-SPEC table —
    * new-spec files of the replaced value drop from metadata alone,
    * old-spec files (status-pure, priority-impure) pay the exact
    * read-and-filter rewrite, other new-spec files carry verbatim, and
    * the rewrite's re-staging HEALS value-purity under the new spec
    * (`pure_after` pins it: the NEXT replace is zero-IO again). Sound
    * because partitioning is HIDDEN — per-file manifest stats, not
    * directory paths — so the mixed-spec state degrades every consumer
    * exactly right. At 100 TB: the re-partition a user expects to be a
    * table rewrite is one manifest write; the replace prices exactly
    * the impure overlap, never the table.
    */
  def snapshotPartEvolve(s: SparkSession, d: String): DataFrame = {
    import graft.sources.SnapshotTable
    val root = scratch("snap_pevo")
    graft.tera.TeraIO.delete(s, root)
    val o = graft.Tables.orders(s, d)
      .select("o_orderkey", "o_orderstatus", "o_orderpriority",
        "o_totalprice")
    val v1 = SnapshotTable.commit(o, root, statsCol = Some("o_orderkey"),
      partitionBy = Seq("o_orderstatus"))
    val v2 = SnapshotTable.evolvePartitioning(s, root,
      Seq("o_orderpriority"))
    val metaOnly = SnapshotTable.fileList(s, root, v2) ==
      SnapshotTable.fileList(s, root, v1)
    SnapshotTable.commit( // v3: stages value-pure on the NEW key
      o.filter(col("o_orderkey") % 10 === 7)
        .withColumn("o_orderkey", col("o_orderkey") + 10000000L)
        .withColumn("o_totalprice", col("o_totalprice") + 50.0),
      root, statsCol = Some("o_orderkey"))
    val (v4, dropped, rewritten, carried) = SnapshotTable.commitReplace(
      o.filter(col("o_orderkey") % 5 === 2)
        .withColumn("o_orderkey", col("o_orderkey") + 30000000L)
        .withColumn("o_orderpriority", lit("1-URGENT"))
        .withColumn("o_totalprice", col("o_totalprice") + 100.0),
      root, statsCol = Some("o_orderkey"))
    val pureAfter = SnapshotTable.partitionPure(s, root, v4)
    SnapshotTable.read(s, root)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_rows"),
        money(sum(col("o_totalprice"))).as("total_price"),
        sum(col("o_orderkey")).as("okey_sum"))
      .withColumn("evolve_meta_only", lit(if (metaOnly) 1L else 0L))
      .withColumn("rep_shape", lit(
        if (dropped >= 1 && rewritten >= 1 && carried >= 1) 1L else 0L))
      .withColumn("pure_after", lit(if (pureAfter) 1L else 0L))
  }

  /** EQUALITY DELETES — the zero-read CDC write
    * ([[graft.sources.SnapshotTable.upsertEq]] /
    * [[graft.sources.SnapshotTable.deleteByKeysEq]], Iceberg-v2's
    * Flink-CDC shape): two stacked upserts reprice overlapping key
    * bands (latest wins by the sequence rule) and a key retraction
    * erases a third band — each commit publishes a delta-sized
    * `deletes/eq-*` key file plus (for upserts) its own new data
    * files, reading NOTHING of the table: the audit pins every
    * previous manifest line carried byte-verbatim through all three
    * commits. The debt is read-side (two broadcast probes,
    * [[graft.sources.SnapshotTable.applyEqDeletes]]) and the manifest
    * row count honestly goes undefined; `rewriteDeletes` then settles
    * it — stats-refuted files carry verbatim — and the gate reads the
    * FOLDED table through the DSv2 connector (whose raw scan refuses
    * the unfolded one) against the oracle's latest-wins derivation. At
    * 100 TB this is the CDC ingestion shape: write cost O(delta) per
    * batch whatever the table size, amortized fold on the touched
    * files only.
    */
  def snapshotEqDelete(s: SparkSession, d: String): DataFrame = {
    import graft.sources.SnapshotTable
    val root = scratch("snap_eqdel")
    graft.tera.TeraIO.delete(s, root)
    val o = graft.Tables.orders(s, d)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    val v1 = SnapshotTable.commit(
      o.repartitionByRange(8, col("o_orderkey")), root,
      statsCol = Some("o_orderkey"))
    SnapshotTable.upsertEq( // v2: reprice one band + fresh keys
      o.filter(col("o_orderkey") % 10 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 500.0)
        .unionByName(o.filter(col("o_orderkey") % 100 === 13)
          .withColumn("o_orderkey", col("o_orderkey") + 20000000L)
          .withColumn("o_totalprice", col("o_totalprice") + 50.0)),
      root, Seq("o_orderkey"))
    SnapshotTable.upsertEq( // v3: overlapping band — latest wins
      o.filter(col("o_orderkey") % 20 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 900.0),
      root, Seq("o_orderkey"))
    val v4 = SnapshotTable.deleteByKeysEq( // v4: retract a third band
      o.filter(col("o_orderkey") % 25 === 0).select("o_orderkey"), root)
    val carried = SnapshotTable.fileList(s, root, v1)
      .forall(SnapshotTable.fileList(s, root, v4).contains)
    val countUndef = SnapshotTable.rowCount(s, root, v4).isEmpty
    val refused = dsv2ScanRefuses(root)
    val v5 = SnapshotTable.rewriteDeletes(s, root)
    val foldedClean = !SnapshotTable.fileList(s, root, v5)
      .exists(_.startsWith("deletes/"))
    s.read.format("graft-snap").load(root)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_rows"),
        money(sum(col("o_totalprice"))).as("total_price"),
        sum(col("o_orderkey")).as("okey_sum"))
      .withColumn("carried_verbatim", lit(if (carried) 1L else 0L))
      .withColumn("count_undefined", lit(if (countUndef) 1L else 0L))
      .withColumn("dsv2_refused", lit(refused))
      .withColumn("folded_clean", lit(if (foldedClean) 1L else 0L))
  }

  /** The change feed across a FULL OVERWRITE and a ROLLBACK
    * ([[graft.sources.SnapshotTable.changeFeed]]'s blind-rewrite
    * file-diff steps — the boundary earlier rounds documented as a
    * refusal, now priced like Delta's CDF for blind overwrites):
    * v1 commits a base, v2 appends, v3 OVERWRITES the table with
    * repriced content, v4 appends on the new baseline, v5 ROLLS BACK
    * to v3. A consumer pinned at v1 folds the whole range — the
    * overwrite step emits every pre-overwrite row as `XB` (deletes in
    * the key algebra) and the new content as `XA`, the rollback step
    * emits the undone v4 batch as `XB` — and lands exactly on the
    * direct head read, which the oracle recomputes from orders. The
    * audits pin the step pricing: `xb_ovw` = the two pre-overwrite
    * batches, `xa_ovw` = the overwrite's content, `xb_rb` = the
    * rolled-back batch, `xa_rb` = 0 (a rollback to the previous
    * snapshot only removes). At 100 TB the overwrite step costs
    * O(old + new) — the honest price of a blind rewrite, loud in the
    * plan instead of a refusal.
    */
  def snapshotCdfOverwrite(s: SparkSession, d: String): DataFrame = {
    import graft.sources.SnapshotTable
    val root = scratch("snap_cdf_ovw")
    graft.tera.TeraIO.delete(s, root)
    val o = graft.Tables.orders(s, d)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    SnapshotTable.commit( // v1: even keys
      o.filter(col("o_orderkey") % 4 === 0)
        .repartitionByRange(8, col("o_orderkey")), root,
      statsCol = Some("o_orderkey"))
    SnapshotTable.commit( // v2: append another slice
      o.filter(col("o_orderkey") % 4 === 1), root,
      statsCol = Some("o_orderkey"))
    val v3 = SnapshotTable.commit( // v3: BLIND OVERWRITE, repriced
      o.filter(col("o_orderkey") % 4 <= 1)
        .withColumn("o_totalprice", col("o_totalprice") + 500.0)
        .repartitionByRange(8, col("o_orderkey")), root,
      overwrite = true, statsCol = Some("o_orderkey"))
    val v4 = SnapshotTable.commit( // v4: the batch the rollback undoes
      o.filter(col("o_orderkey") % 4 === 2)
        .withColumn("o_orderkey", col("o_orderkey") + 10000000L), root,
      statsCol = Some("o_orderkey"))
    val v5 = SnapshotTable.rollback(s, root, v3)
    val feed = SnapshotTable.changeFeed(s, root, 1L, v5)
    val folded = SnapshotTable.applyChanges(
      SnapshotTable.readAt(s, root, 1L), feed, "o_orderkey")
    val audits = feed.agg(
      sum(when(col("_op") === "XB" && col("_commit") === v3, 1L)
        .otherwise(0L)).as("xb_ovw"),
      sum(when(col("_op") === "XA" && col("_commit") === v3, 1L)
        .otherwise(0L)).as("xa_ovw"),
      sum(when(col("_op") === "XB" && col("_commit") === v5, 1L)
        .otherwise(0L)).as("xb_rb"),
      sum(when(col("_op") === "XA" && col("_commit") === v5, 1L)
        .otherwise(0L)).as("xa_rb"))
    folded.groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_fold"),
        money(sum(col("o_totalprice"))).as("total_fold"),
        sum(col("o_orderkey")).as("okey_fold"))
      .crossJoin(broadcast(audits))
  }

  /** The change feed across SQL row-level DML
    * ([[graft.sources.SnapshotTable.changeFeed]]'s file-diff steps): a
    * catalog table takes a SQL `UPDATE` (band repricing) and a SQL
    * `MERGE INTO` (matched update + not-matched insert) — group
    * rewrites that replace FILES wholesale — and a consumer pinned
    * before both folds the feed's `XB`/`XA` (exchanged-before/-after)
    * frames and lands exactly on the direct post-DML read, which the
    * oracle recomputes from the orders table. Rows the rewrites
    * carried unchanged appear on both sides of the diff and cancel in
    * the key algebra, so no per-row instrumentation of Spark's
    * row-level execution is needed: the feed is derived lazily from
    * the manifests' file diff, priced at the rewrite's own
    * runtime-pruned touched set. The audit flags pin that both ops
    * produced both frame kinds and that each statement was one atomic
    * snapshot. (`XB`/`XA` ROW counts are file-layout-dependent —
    * `repartitionByRange` samples boundaries — so the gate pins
    * presence, not cardinality; content equality is the hash.)
    */
  def snapshotCdfSql(s: SparkSession, d: String): DataFrame = {
    import graft.sources.{SnapshotCatalog, SnapshotTable}
    val wh = scratch("snap_cdfsql_wh")
    graft.tera.TeraIO.delete(s, wh)
    s.conf.set("spark.sql.catalog.gsnapc", classOf[SnapshotCatalog].getName)
    s.conf.set("spark.sql.catalog.gsnapc.warehouse", wh)
    val o = graft.Tables.orders(s, d)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    val mx = o.agg(max("o_orderkey")).head.getAs[Number](0).longValue
    val (b1lo, b1hi, b2lo, b2hi) =
      (mx / 10, mx * 2 / 10, mx * 3 / 10, mx * 4 / 10)
    s.sql("CREATE NAMESPACE IF NOT EXISTS gsnapc.db")
    s.sql("DROP TABLE IF EXISTS gsnapc.db.ord")
    s.sql("CREATE TABLE gsnapc.db.ord " +
      "(o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE)")
    val root = s"$wh/db/ord"
    val v2 = SnapshotTable.commit( // stats → the DML rewrites prune
      o.repartitionByRange(16, col("o_orderkey")), root,
      statsCol = Some("o_orderkey"))
    s.sql("UPDATE gsnapc.db.ord SET o_totalprice = o_totalprice + 500.0 " +
      s"WHERE o_orderkey > $b1lo AND o_orderkey <= $b1hi") // v3
    val v3 = SnapshotTable.currentSnapshot(s, root)
    o.filter(col("o_orderkey") > b2lo && col("o_orderkey") <= b2hi)
      .unionByName(o.filter(col("o_orderkey") % 10 === 5)
        .withColumn("o_orderkey", col("o_orderkey") + 30000000L))
      .createOrReplaceTempView("snap_cdfsql_src")
    s.sql("MERGE INTO gsnapc.db.ord t USING snap_cdfsql_src s " +
      "ON t.o_orderkey = s.o_orderkey " +
      "WHEN MATCHED THEN UPDATE SET o_totalprice = t.o_totalprice + 100.0 " +
      "WHEN NOT MATCHED THEN INSERT *") // v4
    val v4 = SnapshotTable.currentSnapshot(s, root)
    val feed = SnapshotTable.changeFeed(s, root, v2, v4)
    val folded = SnapshotTable.applyChanges(
      SnapshotTable.readAt(s, root, v2), feed, "o_orderkey")
    val audits = feed.agg(
      max(when(col("_op") === "XB" && col("_commit") === v3, 1L)
        .otherwise(0L)).as("upd_xb"),
      max(when(col("_op") === "XA" && col("_commit") === v3, 1L)
        .otherwise(0L)).as("upd_xa"),
      max(when(col("_op") === "XB" && col("_commit") === v4, 1L)
        .otherwise(0L)).as("mrg_xb"),
      max(when(col("_op") === "XA" && col("_commit") === v4, 1L)
        .otherwise(0L)).as("mrg_xa"))
    folded.groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_fold"),
        money(sum(col("o_totalprice"))).as("total_fold"),
        sum(col("o_orderkey")).as("okey_fold"))
      .crossJoin(broadcast(audits))
      .withColumn("atomic_dml",
        lit(if (v3 == v2 + 1 && v4 == v3 + 1) 1L else 0L))
  }

  /** WRITE-AUDIT-PUBLISH staging
    * ([[graft.sources.SnapshotTable.commitWap]] /
    * [[graft.sources.SnapshotTable.publishWap]] /
    * [[graft.sources.SnapshotTable.dropWap]]): ingest earns its way
    * onto the serving path. A good batch stages invisibly (the head
    * and readers still see the base), its audit reads the CANDIDATE
    * state via `readWap`, and publish is an O(metadata) fast-forward —
    * the expensive write happened once, off-path. A bad batch
    * (negative prices) stages, FAILS its audit, and drops without the
    * table ever seeing it. A stale stage (the table advanced past its
    * base) refuses to publish rather than silently dropping the
    * interleaved commit's rows. The final table = base ∪ good batch ∪
    * interleaved batch, which the oracle recomputes directly; audit
    * flags pin invisibility, the failed-audit drop, and the
    * divergence refusal.
    */
  def snapshotWap(s: SparkSession, d: String): DataFrame = {
    import graft.sources.SnapshotTable
    val root = scratch("snap_wap")
    graft.tera.TeraIO.delete(s, root)
    val o = graft.Tables.orders(s, d)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    val v1 = SnapshotTable.commit( // base: deciles 0-5
      o.filter(col("o_orderkey") % 10 <= 5)
        .repartitionByRange(8, col("o_orderkey")),
      root, statsCol = Some("o_orderkey"))
    // GOOD batch: stage deciles 6-7, audit the candidate state, publish
    SnapshotTable.commitWap(
      o.filter(col("o_orderkey") % 10 === 6 || col("o_orderkey") % 10 === 7),
      root, "good")
    val stagedInvisible =
      if (SnapshotTable.currentSnapshot(s, root) == v1) 1L else 0L
    val auditGood = SnapshotTable.readWap(s, root, "good")
      .filter(col("o_totalprice") < 0).limit(1).count() == 0L
    val v2 = if (auditGood) SnapshotTable.publishWap(s, root, "good") else v1
    // BAD batch: negative prices — the audit fails, the stage drops
    SnapshotTable.commitWap(
      o.filter(col("o_orderkey") % 10 === 8)
        .withColumn("o_totalprice", -col("o_totalprice")),
      root, "bad")
    // this audit runs over the DSv2 staged read — the SQL auditor's
    // path (option("wap") pins the candidate state)
    val auditBad = s.read.format("graft-snap").option("wap", "bad")
      .load(root)
      .filter(col("o_totalprice") < 0).limit(1).count() == 0L
    val droppedBad =
      if (!auditBad && SnapshotTable.dropWap(s, root, "bad") >= 1) 1L else 0L
    // STALE stage over an ADDITIVE interleave: a plain append lands
    // between stage and publish — the routine interleave at
    // streaming-ingest cadence. Round 15: publish FAST-FORWARD-REBASES
    // onto the new head (the audited delta still means what it meant —
    // every interleaved commit was purely additive) instead of forcing
    // a full re-stage; both deltas reach the table.
    SnapshotTable.commitWap(
      o.filter(col("o_orderkey") % 10 === 9), root, "stale")
    SnapshotTable.commit( // the interleaved main commit the audit missed
      o.filter(col("o_orderkey") % 10 === 8), root,
      expectedBase = Some(v2))
    val rebasedStale =
      if (SnapshotTable.publishWap(s, root, "stale") == v2 + 2) 1L else 0L
    // DOOMED stage over a NON-ADDITIVE interleave: a compaction
    // rewrites the base's entry set while the stage is open — the
    // audit's subject no longer exists, publish refuses loudly and the
    // failed stage drops (its duplicate rows never reach the table)
    SnapshotTable.commitWap(
      o.filter(col("o_orderkey") % 10 === 4), root, "doomed")
    SnapshotTable.compactSmallFiles(s, root, 10000000L, 20000000L)
    val refusedDoomed =
      try { SnapshotTable.publishWap(s, root, "doomed"); 0L }
      catch { case _: IllegalStateException => 1L }
    SnapshotTable.dropWap(s, root, "doomed")
    SnapshotTable.read(s, root)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        money(sum(col("o_totalprice"))).as("total"),
        sum(col("o_orderkey")).as("sum_okey"))
      .withColumn("staged_invisible", lit(stagedInvisible))
      .withColumn("dropped_bad", lit(droppedBad))
      .withColumn("rebased_stale", lit(rebasedStale))
      .withColumn("refused_doomed", lit(refusedDoomed))
  }

  /** PARTITIONED snapshot table
    * ([[graft.sources.SnapshotTable.commit]]'s `partitionBy`): commit
    * lineitem partitioned by `l_returnflag` — the staging write splits
    * rows into VALUE-PURE files and the manifest records exact
    * (min == max, zero-null) partition stats, so the stats index IS the
    * partition index (partition metadata lives in the manifest, not in
    * directory names — the hidden-partitioning layout). The query reads
    * one partition back through the DSv2 connector; the audit flags pin
    * (a) every file is value-pure and (b) the partition predicate
    * prunes files from the manifest alone. At 100 TB a partition-
    * selective query opens that partition's files, full stop — and the
    * same index serves range queries on `statsCol` columns, which
    * hive-style directory partitioning cannot.
    */
  def snapshotPartitioned(s: SparkSession, d: String): DataFrame = {
    import graft.sources.SnapshotTable
    val root = scratch("snap_part")
    graft.tera.TeraIO.delete(s, root)
    val li = graft.Tables.lineitem(s, d)
      .select("l_orderkey", "l_returnflag", "l_quantity", "l_extendedprice")
    SnapshotTable.commit(li, root, statsCol = Some("l_orderkey"),
      partitionBy = Seq("l_returnflag"))
    val pure = SnapshotTable.partitionPure(s, root, 1L)
    val (_, nKept, nTotal) =
      SnapshotTable.pruneFiles(s, root, 1L, "l_returnflag", "R", "R")
    s.read.format("graft-snap").load(root)
      .filter(col("l_returnflag") === "R")
      .agg(count(lit(1)).as("n_rows"),
        money(sum(col("l_quantity"))).as("sum_qty"),
        money(sum(col("l_extendedprice"))).as("sum_price"))
      .withColumn("value_pure", lit(if (pure) 1L else 0L))
      .withColumn("part_pruned", lit(if (nKept < nTotal) 1L else 0L))
  }

  /** Dynamic partition overwrite
    * ([[graft.sources.SnapshotTable.commitReplace]]): the incremental-
    * pipeline commit shape — recompute ONE partition, swap it in
    * atomically, leave every other partition untouched. Orders
    * partitioned by `o_orderstatus`; the replace swaps the 'F'
    * partition for a repriced recomputation. On a value-pure table the
    * manifest stats PROVE each file all-match or none-match, so the
    * swap is metadata-only: matched files drop from the manifest,
    * everything else carries verbatim, zero rewrites — the audit flag
    * pins it. The oracle recomputes the post-replace table from the
    * original orders; `n_v1` proves the pre-replace snapshot still
    * time-travels. At 100 TB the IO is the incoming partition, never
    * the table.
    */
  def snapshotReplace(s: SparkSession, d: String): DataFrame = {
    import graft.sources.SnapshotTable
    val root = scratch("snap_replace")
    graft.tera.TeraIO.delete(s, root)
    val o = graft.Tables.orders(s, d)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    SnapshotTable.commit(o, root, statsCol = Some("o_orderkey"),
      partitionBy = Seq("o_orderstatus"))
    val repl = o.filter(col("o_orderstatus") === "F")
      .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
    val (_, dropped, rewritten, _) =
      SnapshotTable.commitReplace(repl, root, statsCol = Some("o_orderkey"))
    val nV1 = SnapshotTable.rowCount(s, root, 1L).getOrElse(-1L)
    SnapshotTable.read(s, root)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_rows"),
        money(sum(col("o_totalprice"))).as("total_price"),
        sum(col("o_orderkey")).as("okey_sum"))
      .withColumn("metadata_only",
        lit(if (rewritten == 0 && dropped >= 1) 1L else 0L))
      .withColumn("n_v1", lit(nV1))
  }

  /** The SQL spelling of partitioned snapshot tables: `CREATE TABLE ...
    * PARTITIONED BY (col) AS SELECT` through the catalog, `INSERT INTO`
    * inheriting the declared shape, and a partition-predicate SELECT
    * that prunes files from the manifest — pure SQL end to end, no
    * library call. The flags pin value purity of the catalog-written
    * files and the manifest-level prune for one partition value.
    */
  def snapshotPartSql(s: SparkSession, d: String): DataFrame = {
    import graft.sources.{SnapshotCatalog, SnapshotTable}
    val wh = scratch("snap_part_wh")
    graft.tera.TeraIO.delete(s, wh)
    s.conf.set("spark.sql.catalog.gpart", classOf[SnapshotCatalog].getName)
    s.conf.set("spark.sql.catalog.gpart.warehouse", wh)
    graft.Tables.lineitem(s, d)
      .select("l_orderkey", "l_returnflag", "l_quantity", "l_extendedprice")
      .createOrReplaceTempView("part_sql_li_src")
    s.sql("CREATE NAMESPACE IF NOT EXISTS gpart.db")
    s.sql("DROP TABLE IF EXISTS gpart.db.li")
    s.sql("CREATE TABLE gpart.db.li PARTITIONED BY (l_returnflag) AS " +
      "SELECT * FROM part_sql_li_src WHERE l_orderkey % 2 = 0")
    s.sql("INSERT INTO gpart.db.li " +
      "SELECT * FROM part_sql_li_src WHERE l_orderkey % 2 = 1")
    val root = s"$wh/db/li"
    val cur = SnapshotTable.currentSnapshot(s, root)
    val pure = SnapshotTable.partitionPure(s, root, cur)
    val (_, nKept, nTotal) =
      SnapshotTable.pruneFiles(s, root, cur, "l_returnflag", "A", "A")
    s.sql("SELECT l_returnflag, count(*) AS n_rows, " +
        "round(sum(l_quantity), 2) AS sum_qty, " +
        "round(sum(l_extendedprice), 2) AS sum_price " +
        "FROM gpart.db.li WHERE l_returnflag IN ('A', 'N') " +
        "GROUP BY l_returnflag")
      .withColumn("value_pure", lit(if (pure) 1L else 0L))
      .withColumn("part_pruned", lit(if (nKept < nTotal) 1L else 0L))
  }

  /** Storage-partitioned JOIN over snapshot tables
    * ([[graft.sources.SnapshotScanWrapper]]'s `KeyGroupedPartitioning`
    * report): orders and customer are committed co-partitioned on
    * `bucket = custkey % 16`, and the DSv2 scan derives each file's
    * partition key from the manifest's exact-value stats — so under
    * `spark.sql.sources.v2.bucketing.enabled` the join plans with
    * ZERO shuffle exchanges: both sides' matching buckets zip
    * task-to-task, the bucketed-join shape Spark otherwise only gets
    * from its own managed bucketed tables. The `spj_no_shuffle` flag
    * is computed from the EXECUTED plan under those confs (then
    * restored); the hash gate checks the per-nation join aggregate
    * against the oracle's plain join. At 100 TB this deletes the
    * single largest cost of a big-big join — the two table-sized
    * shuffles — for tables that share a bucketing column.
    */
  def snapshotSpj(s: SparkSession, d: String): DataFrame = {
    import graft.sources.SnapshotTable
    val rootA = scratch("snap_spj_o")
    val rootB = scratch("snap_spj_c")
    graft.tera.TeraIO.delete(s, rootA)
    graft.tera.TeraIO.delete(s, rootB)
    val o = graft.Tables.orders(s, d)
      .select(col("o_custkey").as("custkey"), col("o_totalprice"))
      .withColumn("bucket", col("custkey") % 16)
    val c = graft.Tables.customer(s, d)
      .select(col("c_custkey").as("custkey"), col("c_nationkey"))
      .withColumn("bucket", col("custkey") % 16)
    SnapshotTable.commit(o, rootA, partitionBy = Seq("bucket"))
    SnapshotTable.commit(c, rootB, partitionBy = Seq("bucket"))
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.requireAllClusterKeysForCoPartition" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> s.conf.getOption(k) }
    val spjShape =
      try {
        confs.foreach { case (k, v) => s.conf.set(k, v) }
        val j = s.read.format("graft-snap").load(rootA)
          .join(s.read.format("graft-snap").load(rootB),
            Seq("bucket", "custkey"))
        graft.PlanAudit.executedShape(j)
      } finally saved.foreach {
        case (k, Some(v)) => s.conf.set(k, v)
        case (k, None) => s.conf.unset(k)
      }
    s.read.format("graft-snap").load(rootA)
      .join(s.read.format("graft-snap").load(rootB), Seq("bucket", "custkey"))
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("n_orders"),
        money(sum(col("o_totalprice"))).as("revenue"))
      .withColumn("spj_no_shuffle",
        lit(if (spjShape.shuffle == 0 && spjShape.smj >= 1) 1L else 0L))
  }

  /** Merge-on-read DELETE
    * ([[graft.sources.SnapshotTable.deleteWhereMor]]): point deletes
    * without rewriting a single data file — the matching rows are
    * marked in a delete VECTOR (a delta-sized parquet of (file, pos)
    * pairs) and every read subtracts it by a broadcast anti-join on the
    * scan's own `_metadata` file/row-index columns. The fixture deletes
    * on `l_quantity`, a column the k-clustered stats cannot prune, so
    * the copy-on-write path would rewrite EVERY file — here zero files
    * rewrite (the audit flag pins it) and the delete costs one scan +
    * a vector write. `n_meta` is the manifest-only row count
    * (data rows − vector rows), hash-checked against the oracle's
    * count — the arithmetic that only holds because marking reads
    * through existing vectors and never records a pair twice. At
    * 100 TB this is the GDPR-erasure shape: IO is the candidate files
    * once, not the table rewritten.
    */
  def snapshotDv(s: SparkSession, d: String): DataFrame = {
    import graft.sources.SnapshotTable
    import org.apache.spark.sql.sources.LessThan
    val root = scratch("snap_dv")
    graft.tera.TeraIO.delete(s, root)
    val li = graft.Tables.lineitem(s, d)
      .select("l_orderkey", "l_quantity", "l_extendedprice")
    SnapshotTable.commit(li.repartitionByRange(16, col("l_orderkey")),
      root, statsCol = Some("l_orderkey"))
    val (v2, dropped, marked, _) = SnapshotTable.deleteWhereMor(
      s, root, Seq(LessThan("l_quantity", 5.0)))
    val nMeta = SnapshotTable.rowCount(s, root, v2).getOrElse(-1L)
    SnapshotTable.read(s, root)
      .agg(count(lit(1)).as("n_rows"),
        money(sum(col("l_quantity"))).as("sum_qty"),
        money(sum(col("l_extendedprice"))).as("sum_price"))
      .withColumn("n_meta", lit(nMeta))
      .withColumn("vector_only",
        lit(if (dropped == 0 && marked > 0) 1L else 0L))
  }

  /** Settling merge-on-read's debt
    * ([[graft.sources.SnapshotTable.rewriteDeletes]]): after two
    * OVERLAPPING vector deletes (the second marks through the first's
    * vector — pairs are never duplicated), the DSv2 connector's raw
    * scan REFUSES the vectored snapshot (it cannot subtract vectors;
    * resurrecting deleted rows is the failure mode refused away), and
    * the fold rewrites exactly the vector-referenced files, drops the
    * vectors, and re-opens the stock vectorized scan — which this gate
    * then reads for the hash check. The flags pin the pre-fold refusal and
    * the vector-free post-fold manifest. At 100 TB: deletes are cheap
    * and immediate, the fold is amortized compaction on only the
    * touched files.
    */
  def snapshotDvRewrite(s: SparkSession, d: String): DataFrame = {
    import graft.sources.SnapshotTable
    import org.apache.spark.sql.sources.LessThan
    val root = scratch("snap_dvrw")
    graft.tera.TeraIO.delete(s, root)
    val li = graft.Tables.lineitem(s, d)
      .select("l_orderkey", "l_quantity", "l_extendedprice")
    SnapshotTable.commit(li.repartitionByRange(16, col("l_orderkey")),
      root, statsCol = Some("l_orderkey"))
    SnapshotTable.deleteWhereMor(s, root, Seq(LessThan("l_quantity", 5.0)))
    val refused = dsv2ScanRefuses(root)
    SnapshotTable.deleteWhereMor(s, root, Seq(LessThan("l_orderkey", 1000L)))
    val v = SnapshotTable.rewriteDeletes(s, root)
    val folded =
      !SnapshotTable.fileList(s, root, v).exists(_.startsWith("deletes/"))
    s.read.format("graft-snap").load(root)
      .agg(count(lit(1)).as("n_rows"),
        money(sum(col("l_quantity"))).as("sum_qty"),
        money(sum(col("l_extendedprice"))).as("sum_price"))
      .withColumn("refused_pre_fold", lit(refused))
      .withColumn("vectors_folded", lit(if (folded) 1L else 0L))
  }

  /** Snapshot ROLLBACK ([[graft.sources.SnapshotTable.rollback]]): the
    * bad-batch recovery story — commit v1 (the good table), append v2
    * (a corrupted batch: duplicated keys at poisoned prices), then
    * `rollback(v1)` publishes v3 carrying v1's file list VERBATIM, a
    * pure manifest write (no data file read, written, or moved). The
    * hash gate proves the restored head equals the original table
    * exactly; the audit flags pin that (a) the bad version is STILL
    * time-travelable — rollback moves the head, never erases history —
    * and (b) the restored head is a new, higher snapshot id (v3), so
    * pinned readers and the snapshot log stay monotone. At 100 TB a
    * rollback is two manifest reads + one manifest write — table size
    * never enters the cost.
    */
  def snapshotRollback(s: SparkSession, d: String): DataFrame = {
    import graft.sources.SnapshotTable
    val root = scratch("snap_rollback")
    graft.tera.TeraIO.delete(s, root)
    val o = graft.Tables.orders(s, d)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    SnapshotTable.commit(
      o.repartitionByRange(8, col("o_orderkey")), root,
      statsCol = Some("o_orderkey")) // v1: the good table
    SnapshotTable.commit( // v2: the bad batch — dup keys, poisoned price
      o.filter(col("o_orderkey") % 7 === 0)
        .withColumn("o_totalprice", lit(-1.0)), root)
    val v3 = SnapshotTable.rollback(s, root, 1L)
    val nGood = SnapshotTable.rowCount(s, root, 1L).getOrElse(-1L)
    val nBadVersion = SnapshotTable.rowCount(s, root, 2L).getOrElse(-1L)
    SnapshotTable.read(s, root)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_rows"),
        money(sum(col("o_totalprice"))).as("total_price"),
        sum(col("o_orderkey")).as("okey_sum"))
      .withColumn("history_kept",
        lit(if (nBadVersion > nGood && nGood > 0L) 1L else 0L))
      .withColumn("head_advanced", lit(if (v3 == 3L) 1L else 0L))
  }

  /** Schema evolution THROUGH the snapshot layer: gen-1 commits orders
    * without `o_orderpriority`, gen-2 appends it — the recorded schema
    * evolves by name ([[graft.sources.SnapshotTable.mergeSchemas]]),
    * gen-1 files read the new column as NULL deterministically, and
    * time travel to v1 sees v1's OWN two-column schema. Then the
    * RENAME leg: `o_totalprice` → `price` as a METADATA-ONLY commit
    * through the column mapping
    * ([[graft.sources.SnapshotTable.renameColumn]] — the audit column
    * pins that the file list moved not at all), and a post-rename
    * append lands under the new logical name, so the final read mixes
    * THREE file epochs (pre-priority, pre-rename, post-rename) under
    * one logical schema. Read back through BOTH the library and the
    * `graft-snap` DSv2 connector — the gate hash-checks both against
    * one oracle derivation. At 100 TB: schema and rename are O(1)
    * manifest metadata, never a mergeSchema scan or a table rewrite.
    */
  def snapshotEvolve(s: SparkSession, d: String): DataFrame = {
    import graft.sources.SnapshotTable
    val root = scratch("snap_evolve")
    graft.tera.TeraIO.delete(s, root)
    val o = graft.Tables.orders(s, d)
    SnapshotTable.commit( // v1: pre-evolution schema, even keys
      o.filter(col("o_orderkey") % 2 === 0)
        .select("o_orderkey", "o_orderstatus", "o_totalprice"), root)
    val v2 = SnapshotTable.commit( // v2: appends the o_orderpriority column
      o.filter(col("o_orderkey") % 2 === 1)
        .select("o_orderkey", "o_orderstatus", "o_totalprice",
          "o_orderpriority"), root)
    val v3 = SnapshotTable.renameColumn(s, root, "o_totalprice", "price")
    val metaOnly = SnapshotTable.fileList(s, root, v3) ==
      SnapshotTable.fileList(s, root, v2)
    SnapshotTable.commit( // v4: append UNDER the renamed schema
      o.filter(col("o_orderkey") % 10 === 7)
        .select((col("o_orderkey") + 30000000L).as("o_orderkey"),
          col("o_orderstatus"),
          (col("o_totalprice") + 1000.0).as("price"),
          col("o_orderpriority")), root)
    def agg(df: DataFrame, tag: String): DataFrame =
      df.withColumn("priority",
          coalesce(col("o_orderpriority"), lit("<pre-evolution>")))
        .groupBy("priority")
        .agg(count(lit(1)).as(s"n_$tag"),
          money(sum(col("price"))).as(s"total_$tag"),
          sum(col("o_orderkey")).as(s"okey_$tag"))
    val nV1 = SnapshotTable.readAt(s, root, 1L)
      .agg(count(lit(1)).as("n_v1"))
    agg(SnapshotTable.read(s, root), "lib")
      .join(agg(s.read.format("graft-snap").load(root), "dsv2"), "priority")
      .crossJoin(broadcast(nV1))
      .withColumn("rename_meta_only", lit(if (metaOnly) 1L else 0L))
  }

  /** TYPE WIDENING through the snapshot layer
    * ([[graft.sources.SnapshotTable.widenColumn]]): v1 commits a
    * NARROW schema (int key, float qty, decimal(12,2) price), three
    * `widenColumn` commits promote them to bigint / double /
    * decimal(18,2) — each METADATA-ONLY (the audit pins the file list
    * byte-identical across all three), then v5 appends rows only the
    * WIDENED table can hold (keys past int32's 2^31) and v6 appends
    * under the ORIGINAL narrow frame types (accepted — the recorded
    * wider type wins, [[graft.sources.SnapshotTable.mergeSchemas]]).
    * The final scan mixes narrow and wide parquet files under one
    * LongType/DoubleType/decimal(18,2) schema with NO read-time cast:
    * Spark 4's Parquet readers promote narrow files natively. Read
    * back through BOTH the library and the `graft-snap` DSv2 connector
    * against one oracle derivation; `tt_narrow` pins that time travel
    * to v1 still sees v1's own narrow types. At 100 TB: a retype that
    * Iceberg/Delta users expect to be `ALTER TABLE` is one manifest
    * write here too — never a table rewrite, never a cast in the scan.
    */
  def snapshotWiden(s: SparkSession, d: String): DataFrame = {
    import graft.sources.SnapshotTable
    import org.apache.spark.sql.types.{DecimalType, DoubleType, FloatType,
      IntegerType, LongType}
    val root = scratch("snap_widen")
    graft.tera.TeraIO.delete(s, root)
    val li = graft.Tables.lineitem(s, d)
    def narrow(df: DataFrame): DataFrame =
      df.select(col("l_orderkey").cast("int").as("okey"),
        col("l_quantity").cast("float").as("qty"),
        (col("l_orderkey") % 1000).cast("decimal(12,2)").as("price"),
        col("l_returnflag").as("flag"))
    SnapshotTable.commit( // v1: the narrow table
      narrow(li).repartitionByRange(8, col("okey")), root,
      statsCol = Some("okey"))
    SnapshotTable.widenColumn(s, root, "okey", LongType) // v2
    SnapshotTable.widenColumn(s, root, "qty", DoubleType) // v3
    val v4 = SnapshotTable.widenColumn(s, root, "price", DecimalType(18, 2))
    val metaOnly = SnapshotTable.fileList(s, root, v4) ==
      SnapshotTable.fileList(s, root, 1L)
    SnapshotTable.commit( // v5: values only the widened types can hold
      li.filter(col("l_orderkey") % 10 === 3)
        .select((col("l_orderkey") + 3000000000L).as("okey"),
          (col("l_quantity") + 0.5).as("qty"),
          (col("l_orderkey") % 1000 + 10000).cast("decimal(18,2)")
            .as("price"),
          col("l_returnflag").as("flag")), root, statsCol = Some("okey"))
    SnapshotTable.commit( // v6: a narrow-typed late writer, still fine
      narrow(li.filter(col("l_orderkey") % 100 === 7)), root,
      statsCol = Some("okey"))
    val v1Schema = SnapshotTable.readAt(s, root, 1L).schema
    val ttNarrow = v1Schema("okey").dataType == IntegerType &&
      v1Schema("qty").dataType == FloatType &&
      v1Schema("price").dataType == DecimalType(12, 2)
    def agg(df: DataFrame, tag: String): DataFrame =
      df.groupBy("flag")
        .agg(count(lit(1)).as(s"n_$tag"),
          sum(col("okey")).as(s"okey_$tag"),
          money(sum(col("qty"))).as(s"qty_$tag"),
          money(sum(col("price")).cast("double")).as(s"price_$tag"))
    agg(SnapshotTable.read(s, root), "lib")
      .join(agg(s.read.format("graft-snap").load(root), "dsv2"), "flag")
      .withColumn("widen_meta_only", lit(if (metaOnly) 1L else 0L))
      .withColumn("tt_narrow", lit(if (ttNarrow) 1L else 0L))
  }

  /** Manifest row counts → COUNT(*) pushdown
    * ([[graft.sources.SnapshotTable.rowCount]]): every commit records
    * each file's parquet-footer row count as a manifest `rc=` field
    * (carried VERBATIM by later commits), so a bare COUNT(*) over any
    * snapshot is driver arithmetic over one manifest read — ZERO data
    * files opened at any table size (`SnapshotRound11Spec` proves it by
    * answering with the data directory deleted). The oracle counts the
    * same logical content from the source table.
    */
  def snapshotCount(s: SparkSession, d: String): DataFrame = {
    import graft.sources.SnapshotTable
    val root = scratch("snap_count")
    graft.tera.TeraIO.delete(s, root)
    val li = graft.Tables.lineitem(s, d)
      .select("l_orderkey", "l_quantity")
    SnapshotTable.commit(li.repartition(8), root) // v1
    SnapshotTable.commit(li.filter(col("l_orderkey") % 10 === 0), root) // v2
    val cur = SnapshotTable.currentSnapshot(s, root)
    val n = SnapshotTable.rowCount(s, root, cur).getOrElse(
      sys.error("manifest row counts missing"))
    val nV1 = SnapshotTable.rowCount(s, root, 1L).getOrElse(-1L)
    s.range(1).select(lit(n).as("n_rows"), lit(nV1).as("n_rows_v1"),
      lit(1L).as("from_manifest"))
  }

  /** Manifest-complete aggregate pushdown
    * ([[graft.sources.SnapshotScanBuilder]].`manifestAnswer`): an
    * unfiltered `SELECT min(k), max(k), min(p), max(p), count(*),
    * count(p)` over the DSv2 snapshot read plans as a DRIVER-LOCAL
    * single row — the per-file min/max/null-count/row-count stats the
    * commit already paid for fold to the global answer in one manifest
    * read; zero data files open, zero tasks run. At 100 TB this is the
    * difference between a million footer reads (parquet's own
    * pushdown) and driver arithmetic. The `from_manifest` audit pins
    * the plan shape (LocalTableScan, no BatchScan); the oracle
    * recomputes the aggregates from the raw table.
    */
  def snapshotMinmax(s: SparkSession, d: String): DataFrame = {
    import graft.sources.SnapshotTable
    val root = scratch("snap_minmax")
    graft.tera.TeraIO.delete(s, root)
    val o = graft.Tables.orders(s, d)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    SnapshotTable.commit(o.repartitionByRange(8, col("o_orderkey")), root,
      statsCol = Some("o_orderkey,o_totalprice")) // v1
    SnapshotTable.commit( // v2: a second commit — stats fold ACROSS
      o.filter(col("o_orderkey") % 10 === 3) // commits' entries too
        .withColumn("o_orderkey", col("o_orderkey") + 50000000L),
      root, statsCol = Some("o_orderkey,o_totalprice"))
    val t = s.read.format("graft-snap").load(root)
    val agg = t.agg(
      min(col("o_orderkey")).as("min_okey"),
      max(col("o_orderkey")).as("max_okey"),
      money(min(col("o_totalprice"))).as("min_price"),
      money(max(col("o_totalprice"))).as("max_price"),
      count(lit(1)).as("n_rows"),
      count(col("o_totalprice")).as("n_price"))
    val plan = agg.queryExecution.executedPlan.toString
    val fromManifest =
      if (plan.contains("LocalTableScan") && !plan.contains("BatchScan"))
        1L else 0L
    agg.withColumn("from_manifest", lit(fromManifest))
  }

  /** Bin-pack compaction
    * ([[graft.sources.SnapshotTable.compactSmallFiles]]): a table
    * accumulates small-file debt (six tiny appends — the shape a
    * streaming sink leaves) on top of two large base files; the
    * compaction rewrites ONLY the small files into target-sized ones,
    * decided from the manifest's recorded row counts alone. The audit
    * pins that the two large files were carried VERBATIM (same
    * manifest paths before and after — their bytes were never read),
    * that the small-file count collapsed, and that the change feed
    * crosses the compaction as an EMPTY step (layout, not rows);
    * the hash is the content surviving untouched. At 100 TB this is
    * the maintenance verb that keeps scan open-file overhead flat
    * without ever paying a table rewrite.
    */
  def snapshotBinpack(s: SparkSession, d: String): DataFrame = {
    import graft.sources.SnapshotTable
    val root = scratch("snap_binpack")
    graft.tera.TeraIO.delete(s, root)
    val li = graft.Tables.lineitem(s, d)
      .select("l_orderkey", "l_quantity", "l_returnflag")
    val n = li.count()
    SnapshotTable.commit( // v1: the standing bulk, two large files
      li.filter(col("l_orderkey") % 4 =!= 0).repartition(2), root,
      statsCol = Some("l_orderkey"))
    (0 until 6).foreach { i => // six small appends: streaming debt
      SnapshotTable.commit(
        li.filter(col("l_orderkey") % 4 === 0 &&
          (col("l_orderkey") / 4) % 6 === i).coalesce(1), root)
    }
    val before = SnapshotTable.currentSnapshot(s, root)
    val filesBefore = SnapshotTable.fileList(s, root, before).toSet
    val (after, packed, written) = SnapshotTable.compactSmallFiles(
      s, root, minRows = n / 10, targetRows = n)
    val filesAfter = SnapshotTable.fileList(s, root, after).toSet
    val carriedLarge =
      if ((filesBefore intersect filesAfter).size == 2) 1L else 0L
    val feedEmpty =
      if (SnapshotTable.changeFeed(s, root, before, after)
        .limit(1).count() == 0L) 1L else 0L
    SnapshotTable.read(s, root).groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("long")).as("sum_qty"),
        sum(col("l_orderkey")).as("sum_okey"))
      .withColumn("packed_files", lit(packed.toLong))
      .withColumn("written_files", lit(written.toLong))
      .withColumn("carried_large", lit(carriedLarge))
      .withColumn("feed_empty", lit(feedEmpty))
  }

  /** Streaming CDC apply
    * ([[graft.sources.SnapshotStreamSink.upsertWriter]]): a changelog
    * lands batch by batch as exactly-once copy-on-write MERGEs — last
    * write per key wins across batches, the highest-seq row wins
    * within a batch (the planted decile-3 double-update), a
    * redelivered batch id is a no-op (the floor protocol
    * `stream_snapshot_sink` proves under a live query; this gate
    * drives the same foreachBatch function directly so the batch
    * boundaries are deterministic at any scale). Each merge costs
    * touched-files + batch via the manifest stats pruning. The oracle
    * recomputes the last-writer-wins state from the raw table;
    * `replay_advanced` pins the redelivery no-op.
    */
  def snapshotUpsert(s: SparkSession, d: String): DataFrame = {
    import graft.sources.{SnapshotStreamSink, SnapshotTable}
    val root = scratch("snap_upsert")
    graft.tera.TeraIO.delete(s, root)
    val o = graft.Tables.orders(s, d)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    val w = SnapshotStreamSink.upsertWriter(root, "cdc", "o_orderkey",
      seqCol = Some("seq"))
    w(o.withColumn("seq", lit(1L)), 0) // bootstrap: the full keyspace
    w(o.filter(col("o_orderkey") % 10 === 2 || col("o_orderkey") % 10 === 3)
      .withColumn("o_totalprice", col("o_totalprice") + 500.0)
      .withColumn("seq", lit(2L))
      .unionByName(o.filter(col("o_orderkey") % 10 === 7)
        .withColumn("o_orderkey", col("o_orderkey") + 30000000L)
        .withColumn("seq", lit(2L))), 1) // reprice + fresh inserts
    w(o.filter(col("o_orderkey") % 10 === 3) // two versions of one key
      .withColumn("o_totalprice", col("o_totalprice") + 666.0)
      .withColumn("seq", lit(3L))
      .unionByName(o.filter(col("o_orderkey") % 10 === 3)
        .withColumn("o_totalprice", col("o_totalprice") + 900.0)
        .withColumn("seq", lit(4L))), 2) // seq 4 wins within the batch
    val before = SnapshotTable.currentSnapshot(s, root)
    w(o.limit(5).withColumn("seq", lit(9L)), 2) // redelivered id: no-op
    val replay = SnapshotTable.currentSnapshot(s, root) - before
    SnapshotTable.read(s, root).groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        money(sum(col("o_totalprice"))).as("total"),
        sum(col("o_orderkey")).as("sum_okey"))
      .withColumn("replay_advanced", lit(replay))
  }

  /** The DSv2 WRITE path (`df.write.format("graft-snap")`,
    * [[graft.sources.SnapshotSource]]): bootstrap the table with a
    * plain DataFrame append (empty root → v1 from the data's schema),
    * append v2, then compact as a DSv2 overwrite with
    * `option("statsCol", …)` flowing into the skipping index — all
    * three are real atomic snapshot commits (claim + no-clobber
    * rename), no library call anywhere. The gate reads the result back
    * through the connector against the oracle's derivation; audit
    * columns pin the snapshot count and that the overwrite's files
    * carry a working stats index.
    */
  def snapshotWrite(s: SparkSession, d: String): DataFrame = {
    import graft.sources.SnapshotTable
    val root = scratch("snap_write")
    graft.tera.TeraIO.delete(s, root)
    val o = graft.Tables.orders(s, d)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    o.write.format("graft-snap").mode("append").save(root) // v1: bootstrap
    o.filter(col("o_orderkey") % 10 <= 2) // v2: append
      .withColumn("o_totalprice", col("o_totalprice") + 100.0)
      .write.format("graft-snap").mode("append").save(root)
    SnapshotTable.read(s, root) // v3: compaction as a DSv2 overwrite
      .repartitionByRange(8, col("o_orderkey"))
      .write.format("graft-snap").mode("overwrite")
      .option("statsCol", "o_orderkey").save(root)
    val (_, kept, total) =
      SnapshotTable.pruneFiles(s, root, 3L, "o_orderkey", 1000L, 2000L)
    s.read.format("graft-snap").load(root)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_cur"),
        money(sum(col("o_totalprice"))).as("total_cur"),
        sum(col("o_orderkey")).as("okey_cur"))
      .withColumn("n_snapshots",
        lit(SnapshotTable.currentSnapshot(s, root)))
      .withColumn("pruned_some", lit(if (kept < total) 1L else 0L))
  }

  /** `fmt_snapshot_merge` on a scratch root of its own, kept under its
    * registry name and oracle: [[graft.sources.SnapshotTable.merge]]
    * never collects a delta's keys, so it is also the big-delta merge.
    */
  def snapshotMergeLarge(s: SparkSession, d: String): DataFrame =
    snapshotMergeAt(s, d, "snap_merge_lg")

  /** OPTIMIZE ZORDER BY through the snapshot layer
    * ([[graft.sources.SnapshotTable.compactZorder]] + multi-column
    * manifest stats): commit lineitem in a random 16-file layout, then
    * compact it clustered on the Morton curve over
    * (l_partkey, l_suppkey) with BOTH columns' footer stats recorded —
    * after which a selective band on EITHER dimension prunes files
    * from the manifest alone (audit columns pin both), while the hash
    * gate proves the ranged reads stay exact against the oracle's
    * plain filters. A single-column range layout gives one prunable
    * dimension; the space-filling curve is what makes the second one
    * real — the Delta/Iceberg OPTIMIZE ZORDER capability, here as one
    * overwrite commit whose old snapshot still time-travels. Bands are
    * derived from each key's max (5–15%), so the gate scales from
    * sf0.001 to sf1 without retuning.
    */
  def snapshotZorder(s: SparkSession, d: String): DataFrame = {
    import graft.sources.SnapshotTable
    val root = scratch("snap_zorder")
    graft.tera.TeraIO.delete(s, root)
    val li = graft.Tables.lineitem(s, d)
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity")
    SnapshotTable.commit(li.repartition(16), root) // v1: unclustered
    val maxes = li.agg(max(col("l_partkey")), max(col("l_suppkey"))).head
    val (maxPk, maxSk) = (maxes.getLong(0), maxes.getLong(1))
    val v2 = SnapshotTable.compactZorder(s, root,
      "l_partkey", "l_suppkey", numFiles = 16)
    val (xlo, xhi) = (maxPk / 20, maxPk * 3 / 20)
    val (ylo, yhi) = (maxSk / 20, maxSk * 3 / 20)
    val (_, keptX, total) =
      SnapshotTable.pruneFiles(s, root, v2, "l_partkey", xlo, xhi)
    val (_, keptY, _) =
      SnapshotTable.pruneFiles(s, root, v2, "l_suppkey", ylo, yhi)
    val aggX = SnapshotTable.readWhere(s, root, v2, "l_partkey", xlo, xhi)
      .agg(count(lit(1)).as("n_x"),
        money(sum(col("l_quantity"))).as("qty_x"))
    val aggY = SnapshotTable.readWhere(s, root, v2, "l_suppkey", ylo, yhi)
      .agg(count(lit(1)).as("n_y"),
        money(sum(col("l_quantity"))).as("qty_y"))
    aggX.crossJoin(aggY)
      .withColumn("pruned_x", lit(if (keptX < total) 1L else 0L))
      .withColumn("pruned_y", lit(if (keptY < total) 1L else 0L))
  }

  /** TRANSPARENT file skipping on the DSv2 read path
    * ([[graft.sources.SnapshotScanBuilder]]): commit orders
    * range-clustered on `o_orderkey` with its stats recorded, then run
    * a PLAIN `read.format("graft-snap").load(root).filter(...)` — no
    * library call — and Catalyst's own pushed filters prune the
    * manifest's file list before the parquet scan is built. The band
    * (25–50% of the key's max) must keep a strict subset of the 8
    * range files (`pruned` audit flag from
    * [[graft.sources.SnapshotSource.lastPrune]]); the residual
    * non-stats predicate (`o_orderstatus`) rides along unpruned,
    * proving mixed filters stay exact. The hash gate checks the
    * filtered aggregate against the oracle's plain WHERE — the
    * skipping is correct iff it is invisible to the result.
    */
  def snapshotPushdown(s: SparkSession, d: String): DataFrame = {
    import graft.sources.{SnapshotSource, SnapshotTable}
    val root = scratch("snap_pushdown")
    graft.tera.TeraIO.delete(s, root)
    val ord = graft.Tables.orders(s, d)
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
    SnapshotTable.commit(
      ord.repartitionByRange(8, col("o_orderkey"))
        .sortWithinPartitions("o_orderkey"),
      root, statsCol = Some("o_orderkey"))
    val maxK = ord.agg(max(col("o_orderkey"))).head.getLong(0)
    val (lo, hi) = (maxK / 4, maxK / 2)
    val df = s.read.format("graft-snap").load(root)
      .filter(col("o_orderkey").between(lo, hi) &&
        col("o_orderstatus") === "O")
    df.queryExecution.executedPlan // force pushdown planning for the audit
    val (kept, total) = SnapshotSource.lastPrune(root).getOrElse((0, 0))
    df.agg(count(lit(1)).as("n"), money(sum(col("o_totalprice"))).as("rev"))
      .withColumn("pruned",
        lit(if (kept > 0 && kept < total) 1L else 0L))
  }

  /** The pure-SQL catalog lifecycle over snapshot tables
    * ([[graft.sources.SnapshotCatalog]]): register the catalog, CTAS
    * the even-key half of customer into `db.cust`, INSERT INTO the odd
    * half, then answer one row entirely through SQL — the current
    * table's count/balance plus `VERSION AS OF 2` (the CTAS commit,
    * before the insert) proving time travel reads the pre-insert
    * state. Every step is plain Spark SQL against the catalog — no
    * library call, no `format(...)` — and the oracle is the same
    * arithmetic over the raw table, so the gate holds iff CREATE TABLE
    * / CTAS / INSERT INTO / SELECT / VERSION AS OF all hit the same
    * atomic snapshot protocol the library writes.
    */
  def snapshotSql(s: SparkSession, d: String): DataFrame = {
    import graft.sources.SnapshotCatalog
    val wh = scratch("snap_cat_wh")
    graft.tera.TeraIO.delete(s, wh)
    s.conf.set("spark.sql.catalog.gsnap", classOf[SnapshotCatalog].getName)
    s.conf.set("spark.sql.catalog.gsnap.warehouse", wh)
    graft.Tables.customer(s, d)
      .select("c_custkey", "c_nationkey", "c_acctbal")
      .createOrReplaceTempView("snap_sql_customer_src")
    s.sql("CREATE NAMESPACE IF NOT EXISTS gsnap.db")
    s.sql("DROP TABLE IF EXISTS gsnap.db.cust")
    s.sql("CREATE TABLE gsnap.db.cust AS SELECT * FROM " +
      "snap_sql_customer_src WHERE c_custkey % 2 = 0")
    s.sql("INSERT INTO gsnap.db.cust SELECT * FROM " +
      "snap_sql_customer_src WHERE c_custkey % 2 = 1")
    val cur = s.sql("SELECT * FROM gsnap.db.cust")
      .agg(count(lit(1)).as("n_all"), money(sum(col("c_acctbal"))).as("bal_all"))
    val v2 = s.sql("SELECT * FROM gsnap.db.cust VERSION AS OF 2")
      .agg(count(lit(1)).as("n_even"))
    cur.crossJoin(v2)
  }

  /** SQL `CALL` maintenance lifecycle over a snapshot catalog table
    * ([[graft.sources.SnapshotCatalog]]'s ProcedureCatalog): CTAS the
    * orders table, INSERT a bad batch, `CALL system.rollback` it away
    * (manifest-only restore), INSERT the good batch, `CALL
    * system.optimize_zorder` (content-preserving compaction whose
    * clustered key then prunes files from the manifest alone), and
    * `CALL system.expire_snapshots` (vacuum down to the kept window) —
    * the whole table lifecycle with no library call. The hash gate
    * proves the final content equals the oracle's recomputation (CTAS
    * ∪ good batch, bad batch gone — a wrong rollback or a lossy
    * compaction shifts the sums); the audit columns pin the rollback's
    * returned head, the zorder prune, and the post-vacuum live-snapshot
    * count read from the `.snapshots` metadata table. These are the
    * operational verbs a 100 TB table needs on a schedule; every one
    * is driver-side metadata work plus (for the compaction) one
    * bounded rewrite.
    */
  def snapshotCall(s: SparkSession, d: String): DataFrame = {
    import graft.sources.{SnapshotCatalog, SnapshotTable}
    val wh = scratch("snap_call_wh")
    graft.tera.TeraIO.delete(s, wh)
    s.conf.set("spark.sql.catalog.gsnapp", classOf[SnapshotCatalog].getName)
    s.conf.set("spark.sql.catalog.gsnapp.warehouse", wh)
    graft.Tables.orders(s, d)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
      .createOrReplaceTempView("snap_call_orders_src")
    s.sql("CREATE NAMESPACE IF NOT EXISTS gsnapp.db")
    s.sql("DROP TABLE IF EXISTS gsnapp.db.ord")
    s.sql("CREATE TABLE gsnapp.db.ord AS " +
      "SELECT * FROM snap_call_orders_src") // v1 (empty) + v2 (CTAS)
    s.sql("INSERT INTO gsnapp.db.ord " + // v3: the bad batch
      "SELECT o_orderkey + 10000000, o_orderstatus, o_totalprice + 999.0 " +
      "FROM snap_call_orders_src WHERE o_orderkey % 10 = 4")
    val restored = s.sql("CALL gsnapp.system.rollback('db.ord', 2)")
      .head.getLong(0) // v4 = the restored head
    s.sql("INSERT INTO gsnapp.db.ord " + // v5: the good batch
      "SELECT o_orderkey + 20000000, o_orderstatus, o_totalprice + 100.0 " +
      "FROM snap_call_orders_src WHERE o_orderkey % 10 = 6")
    val compacted = s.sql(
      "CALL gsnapp.system.optimize_zorder('db.ord', 'o_orderkey', 8)")
      .head.getLong(0) // v6
    s.sql("CALL gsnapp.system.expire_snapshots('db.ord', 2)").collect()
    val root = s"$wh/db/ord"
    val mx = graft.Tables.orders(s, d)
      .agg(max("o_orderkey")).head.getAs[Number](0).longValue
    val (_, nKept, nTotal) = SnapshotTable.pruneFiles(s, root, compacted,
      "o_orderkey", mx / 20, mx * 3 / 20)
    val nLive = s.sql("SELECT count(*) FROM gsnapp.db.ord.snapshots")
      .head.getLong(0)
    s.sql("SELECT * FROM gsnapp.db.ord")
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_rows"),
        money(sum(col("o_totalprice"))).as("total_price"),
        sum(col("o_orderkey")).as("okey_sum"))
      .withColumn("rolled_to_head",
        lit(if (restored == 4L) 1L else 0L))
      .withColumn("zorder_pruned",
        lit(if (nKept < nTotal) 1L else 0L))
      .withColumn("n_live", lit(nLive))
  }

  /** SQL `DELETE FROM` over a snapshot table
    * ([[graft.sources.SnapshotTable.deleteWhere]] via `SupportsDelete`)
    * — copy-on-write at FILE granularity, decided on the manifest:
    * commit customer range-clustered on `c_custkey`, DELETE the lower
    * half of the key space through pure SQL, and the manifest stats
    * prove most files all-match (dropped, metadata-only — null-count
    * sound) or none-match (carried verbatim), leaving at most the
    * boundary file to rewrite. The audit flags pin that BOTH fast
    * paths fired; `n_before` reads `VERSION AS OF` the pre-delete
    * snapshot, proving the delete is one more time-travelable commit.
    * The hash gate checks the remainder against the oracle's plain
    * `WHERE NOT (...)`.
    */
  def snapshotDelete(s: SparkSession, d: String): DataFrame = {
    import graft.sources.{SnapshotCatalog, SnapshotTable}
    val wh = scratch("snap_del_wh")
    graft.tera.TeraIO.delete(s, wh)
    s.conf.set("spark.sql.catalog.gsnapd", classOf[SnapshotCatalog].getName)
    s.conf.set("spark.sql.catalog.gsnapd.warehouse", wh)
    s.sql("CREATE NAMESPACE IF NOT EXISTS gsnapd.db")
    s.sql("DROP TABLE IF EXISTS gsnapd.db.cust")
    s.sql("CREATE TABLE gsnapd.db.cust " +
      "(c_custkey BIGINT, c_nationkey BIGINT, c_acctbal DOUBLE)")
    val root = s"$wh/db/cust"
    val cust = graft.Tables.customer(s, d)
      .select(col("c_custkey").cast("bigint").as("c_custkey"),
        col("c_nationkey").cast("bigint").as("c_nationkey"),
        col("c_acctbal").cast("double").as("c_acctbal"))
    SnapshotTable.commit(
      cust.repartitionByRange(8, col("c_custkey"))
        .sortWithinPartitions("c_custkey"),
      root, statsCol = Some("c_custkey"))
    val preDelete = SnapshotTable.currentSnapshot(s, root)
    val hi = cust.agg(max(col("c_custkey"))).head.getLong(0) / 2
    s.sql(s"DELETE FROM gsnapd.db.cust WHERE c_custkey <= $hi")
    val (dropped, _, carried) = SnapshotTable.deleteStats(s, root,
      SnapshotTable.currentSnapshot(s, root))
    val after = s.sql("SELECT * FROM gsnapd.db.cust")
      .agg(count(lit(1)).as("n_after"),
        money(sum(col("c_acctbal"))).as("bal_after"))
    val before = s.sql(
      s"SELECT * FROM gsnapd.db.cust VERSION AS OF $preDelete")
      .agg(count(lit(1)).as("n_before"))
    after.crossJoin(before)
      .withColumn("dropped_some", lit(if (dropped >= 1) 1L else 0L))
      .withColumn("carried_some", lit(if (carried >= 1) 1L else 0L))
  }

  /** SQL `UPDATE` over a snapshot table — the copy-on-write row-level
    * operation ([[graft.sources.SnapshotRowLevelOperation]]): commit
    * customer range-clustered on `c_custkey`, UPDATE a 25–50% key band
    * to a sentinel balance through pure SQL, and the pushed condition
    * prunes the rewrite to the band's files — every other file's
    * manifest line carries VERBATIM into the new snapshot
    * (`carried_some` audits the file-set intersection). The statement
    * is one atomic commit through the real DSv2 `BatchWrite`
    * (executor-staged parquet + claim-protocol publish); the hash gate
    * checks the post-update table against the oracle's CASE.
    */
  def snapshotUpdate(s: SparkSession, d: String): DataFrame = {
    import graft.sources.{SnapshotCatalog, SnapshotTable}
    val wh = scratch("snap_upd_wh")
    graft.tera.TeraIO.delete(s, wh)
    s.conf.set("spark.sql.catalog.gsnapu", classOf[SnapshotCatalog].getName)
    s.conf.set("spark.sql.catalog.gsnapu.warehouse", wh)
    s.sql("CREATE NAMESPACE IF NOT EXISTS gsnapu.db")
    s.sql("DROP TABLE IF EXISTS gsnapu.db.cust")
    s.sql("CREATE TABLE gsnapu.db.cust (c_custkey BIGINT, c_acctbal DOUBLE)")
    val root = s"$wh/db/cust"
    val cust = graft.Tables.customer(s, d)
      .select(col("c_custkey").cast("bigint").as("c_custkey"),
        col("c_acctbal").cast("double").as("c_acctbal"))
    SnapshotTable.commit(
      cust.repartitionByRange(8, col("c_custkey"))
        .sortWithinPartitions("c_custkey"),
      root, statsCol = Some("c_custkey"))
    val pre = SnapshotTable.currentSnapshot(s, root)
    val filesBefore = SnapshotTable.fileList(s, root, pre).toSet
    val maxK = cust.agg(max(col("c_custkey"))).head.getLong(0)
    val (lo, hi) = (maxK / 4, maxK / 2)
    s.sql("UPDATE gsnapu.db.cust SET c_acctbal = -99999.0 " +
      s"WHERE c_custkey BETWEEN $lo AND $hi")
    val filesAfter = SnapshotTable
      .fileList(s, root, SnapshotTable.currentSnapshot(s, root)).toSet
    val carried = filesBefore.intersect(filesAfter).size
    s.sql("SELECT * FROM gsnapu.db.cust")
      .agg(count(lit(1)).as("n_all"),
        money(sum(col("c_acctbal"))).as("bal_after"),
        sum(when(col("c_acctbal") === -99999.0, 1L).otherwise(0L))
          .as("n_marked"))
      .withColumn("carried_some", lit(if (carried >= 1) 1L else 0L))
  }

  /** SQL `MERGE INTO` over a snapshot table: the target holds the
    * even-key half of customer, the source is the whole table with
    * shifted balances — matched rows UPDATE to the shifted value,
    * unmatched INSERT it — and the entire statement lands as ONE
    * atomic snapshot commit (`one_commit` audits pre+1). The hash
    * gate checks the merged table equals the oracle's full-table
    * arithmetic.
    */
  def snapshotMergeSql(s: SparkSession, d: String): DataFrame = {
    import graft.sources.{SnapshotCatalog, SnapshotTable}
    val wh = scratch("snap_mrgsql_wh")
    graft.tera.TeraIO.delete(s, wh)
    s.conf.set("spark.sql.catalog.gsnapm", classOf[SnapshotCatalog].getName)
    s.conf.set("spark.sql.catalog.gsnapm.warehouse", wh)
    s.sql("CREATE NAMESPACE IF NOT EXISTS gsnapm.db")
    s.sql("DROP TABLE IF EXISTS gsnapm.db.cust")
    s.sql("CREATE TABLE gsnapm.db.cust (c_custkey BIGINT, c_acctbal DOUBLE)")
    val root = s"$wh/db/cust"
    val cust = graft.Tables.customer(s, d)
      .select(col("c_custkey").cast("bigint").as("c_custkey"),
        col("c_acctbal").cast("double").as("c_acctbal"))
    SnapshotTable.commit(cust.filter(col("c_custkey") % 2 === 0), root)
    val pre = SnapshotTable.currentSnapshot(s, root)
    cust.withColumn("c_acctbal", col("c_acctbal") + 1000000.0)
      .createOrReplaceTempView("snap_mrgsql_src")
    s.sql("""MERGE INTO gsnapm.db.cust t USING snap_mrgsql_src s
      ON t.c_custkey = s.c_custkey
      WHEN MATCHED THEN UPDATE SET c_acctbal = s.c_acctbal
      WHEN NOT MATCHED THEN INSERT (c_custkey, c_acctbal)
        VALUES (s.c_custkey, s.c_acctbal)""")
    val oneCommit = SnapshotTable.currentSnapshot(s, root) == pre + 1
    s.sql("SELECT * FROM gsnapm.db.cust")
      .agg(count(lit(1)).as("n_all"),
        money(sum(col("c_acctbal"))).as("bal_after"))
      .withColumn("one_commit", lit(if (oneCommit) 1L else 0L))
  }

  /** `TIMESTAMP AS OF` + the `.snapshots` metadata table
    * ([[graft.sources.SnapshotCatalog]]): build the table in two SQL
    * commits (evens, then odds), capture a wall-clock instant between
    * them, and answer one row proving (a) `TIMESTAMP AS OF` the
    * captured instant reads exactly the first commit — resolution is
    * the manifest's atomic-rename publish time, the commit instant
    * itself; (b) the metadata table reports the final row count from
    * manifests alone. Wall-clock appears only as a resolver input —
    * every output column is deterministic, so the oracle is plain
    * arithmetic over the raw table.
    */
  def snapshotTimeTravel(s: SparkSession, d: String): DataFrame = {
    import graft.sources.{SnapshotCatalog, SnapshotTable}
    val wh = scratch("snap_tt_wh")
    graft.tera.TeraIO.delete(s, wh)
    s.conf.set("spark.sql.catalog.gsnapt", classOf[SnapshotCatalog].getName)
    s.conf.set("spark.sql.catalog.gsnapt.warehouse", wh)
    s.sql("CREATE NAMESPACE IF NOT EXISTS gsnapt.db")
    s.sql("DROP TABLE IF EXISTS gsnapt.db.cust")
    graft.Tables.customer(s, d)
      .select(col("c_custkey").cast("bigint").as("c_custkey"),
        col("c_acctbal").cast("double").as("c_acctbal"))
      .createOrReplaceTempView("snap_tt_src")
    s.sql("CREATE TABLE gsnapt.db.cust AS SELECT * FROM snap_tt_src " +
      "WHERE c_custkey % 2 = 0")
    Thread.sleep(20)
    val betweenTs = new java.sql.Timestamp(System.currentTimeMillis())
    Thread.sleep(20)
    s.sql("INSERT INTO gsnapt.db.cust SELECT * FROM snap_tt_src " +
      "WHERE c_custkey % 2 = 1")
    val atTs = s.sql("SELECT * FROM gsnapt.db.cust " +
      s"TIMESTAMP AS OF '$betweenTs'")
      .agg(count(lit(1)).as("n_at_ts"))
    val now = s.sql("SELECT * FROM gsnapt.db.cust")
      .agg(count(lit(1)).as("n_now"))
    val meta = s.sql("SELECT * FROM gsnapt.db.cust.snapshots")
      .agg(count(lit(1)).as("n_snapshots"), max(col("n_rows")).as("rows_final"))
    atTs.crossJoin(now).crossJoin(meta)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "fmt_snapshot_timetravel" -> (snapshotTimeTravel _),
    "fmt_snapshot_update" -> (snapshotUpdate _),
    "fmt_snapshot_merge_sql" -> (snapshotMergeSql _),
    "fmt_snapshot_delete" -> (snapshotDelete _),
    "fmt_snapshot_sql" -> (snapshotSql _),
    "fmt_snapshot_pushdown" -> (snapshotPushdown _),
    "fmt_snapshot_zorder" -> (snapshotZorder _),
    "fmt_snapshot_cdf" -> (snapshotCdf _),
    "fmt_snapshot_cdf_full" -> (snapshotCdfFull _),
    "fmt_snapshot_cdf_ovw" -> (snapshotCdfOverwrite _),
    "fmt_snapshot_eqdelete" -> (snapshotEqDelete _),
    "fmt_snapshot_part_evolve" -> (snapshotPartEvolve _),
    "fmt_snapshot_constraint" -> (snapshotConstraint _),
    "fmt_snapshot_call" -> (snapshotCall _),
    "fmt_snapshot_cdf_sql" -> (snapshotCdfSql _),
    "fmt_snapshot_wap" -> (snapshotWap _),
    "fmt_snapshot_rollback" -> (snapshotRollback _),
    "fmt_snapshot_partitioned" -> (snapshotPartitioned _),
    "fmt_snapshot_dv" -> (snapshotDv _),
    "fmt_snapshot_spj" -> (snapshotSpj _),
    "fmt_snapshot_dv_rewrite" -> (snapshotDvRewrite _),
    "fmt_snapshot_replace" -> (snapshotReplace _),
    "fmt_snapshot_part_sql" -> (snapshotPartSql _),
    "fmt_snapshot_evolve" -> (snapshotEvolve _),
    "fmt_snapshot_widen" -> (snapshotWiden _),
    "fmt_snapshot_count" -> (snapshotCount _),
    "fmt_snapshot_minmax" -> (snapshotMinmax _),
    "fmt_snapshot_binpack" -> (snapshotBinpack _),
    "fmt_snapshot_upsert" -> (snapshotUpsert _),
    "fmt_snapshot_write" -> (snapshotWrite _),
    "fmt_snapshot_merge_large" -> (snapshotMergeLarge _),
    "fmt_snapshot_changes" -> (snapshotChanges _),
    "fmt_snapshot_skip" -> (snapshotSkip _),
    "fmt_snapshot_merge" -> (snapshotMerge _),
    "fmt_snapshot_isolation" -> (snapshotIsolation _),
    "fmt_snapshot_expire" -> (snapshotExpire _),
    "fmt_snapshot_refs" -> (snapshotRefs _),
    "fmt_snapshot_bloom" -> (snapshotBloom _),
    "fmt_snapshot_ndv" -> (snapshotNdv _),
    "fmt_snapshot_group" -> (snapshotGroup _),
    "fmt_snapshot_fold" -> (snapshotFold _),
    "fmt_snapshot_view" -> (snapshotView _),
    "fmt_snapshot_dsv2" -> (snapshotDsv2 _),
    "fmt_zstd_roundtrip" -> (zstdRoundTrip _),
    "fmt_malformed_csv" -> (malformedCsv _),
    "fmt_schema_evolution" -> (schemaEvolution _),
    "fmt_csv_roundtrip" -> (csvRoundTrip _),
    "fmt_json_roundtrip" -> (jsonRoundTrip _),
    "fmt_orc_roundtrip" -> (orcRoundTrip _),
    "fmt_partitioned_prune" -> (partitionedPrune _),
    "fmt_fixed_roundtrip" -> (fixedRoundTrip _),
    "fmt_bucketed_join" -> (bucketedJoin _),
    "fmt_dpp_prune" -> (dppPrune _),
    "fmt_count_pushdown" -> (countPushdown _)
  )

  /** The manifest NDV stats group end-to-end
    * ([[graft.sources.SnapshotTable.buildNdvIndex]]): commit orders as
    * a snapshot table, build per-file HLL registers over a
    * high-cardinality key and a low-cardinality dimension, then report
    * the TABLE-level distinct-count estimates folded on the driver
    * from the manifest ALONE (zero data reads at estimate time —
    * [[graft.sources.SnapshotTable.ndvOf]]) next to the exact
    * distincts. The DuckDB oracle recomputes both estimates from the
    * raw table through the identical integer HLL arithmetic
    * ([[graft.ops.Sketches.sqlHllEstCtes]]; register merge across
    * files = registers over all rows, max is associative), so the
    * hash gate proves the manifest registers are bit-exact — the
    * column statistic CBO join sizing consumes
    * (`SnapshotNdvSpec` locks the broadcast-decision plan shape).
    */
  def snapshotNdv(s: SparkSession, d: String): DataFrame = {
    import graft.sources.SnapshotTable
    val root = scratch("snap_ndv")
    graft.tera.TeraIO.delete(s, root)
    val o = graft.Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))
    SnapshotTable.commit(o.repartition(8), root,
      statsCol = Some("o_custkey"))
    SnapshotTable.buildNdvIndex(s, root, "o_custkey")
    SnapshotTable.buildNdvIndex(s, root, "o_orderstatus")
    val cur = SnapshotTable.currentSnapshot(s, root)
    val ndvCust = SnapshotTable.ndvOf(s, root, cur, "o_custkey")
      .getOrElse(-1L)
    val ndvStatus = SnapshotTable.ndvOf(s, root, cur, "o_orderstatus")
      .getOrElse(-1L)
    graft.Tables.orders(s, d).agg(
        countDistinct(col("o_custkey")).as("exact_custkey"),
        countDistinct(col("o_orderstatus")).as("exact_status"))
      .withColumn("ndv_custkey", lit(ndvCust))
      .withColumn("ndv_status", lit(ndvStatus))
  }

  /** Pure-SQL VIEWS over the snapshot catalog
    * ([[graft.plans.SnapViews]] — CREATE VIEW / SELECT / DROP VIEW on
    * a V2 catalog, which stock Spark refuses): name a governed read
    * (the price-filtered fact and its per-status rollup) once, then
    * answer through the VIEW — including a second SELECT after a
    * further INSERT (the view re-resolves to the table's CURRENT
    * snapshot), an in-place `ALTER VIEW ... AS` (atomic definition
    * swap, no drop window), and a `VERSION AS OF` read through the
    * view pinned at the CTAS snapshot. The oracle recomputes the view
    * body from raw orders; the audit flags pin the lifecycle.
    */
  def snapshotView(s: SparkSession, d: String): DataFrame = {
    import graft.sources.SnapshotCatalog
    val wh = scratch("snap_view_wh")
    graft.tera.TeraIO.delete(s, wh)
    s.conf.set("spark.sql.catalog.gsnapv", classOf[SnapshotCatalog].getName)
    s.conf.set("spark.sql.catalog.gsnapv.warehouse", wh)
    graft.Tables.orders(s, d)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
      .createOrReplaceTempView("snap_view_orders_src")
    s.sql("CREATE NAMESPACE IF NOT EXISTS gsnapv.db")
    s.sql("DROP VIEW IF EXISTS gsnapv.db.big")
    s.sql("DROP TABLE IF EXISTS gsnapv.db.ord")
    s.sql("CREATE TABLE gsnapv.db.ord AS SELECT * FROM " +
      "snap_view_orders_src WHERE o_orderkey % 2 = 0")
    s.sql("CREATE VIEW gsnapv.db.big AS " +
      "SELECT o_orderstatus, count(*) AS n_big, " +
      "round(sum(o_totalprice), 2) AS total_big " +
      "FROM gsnapv.db.ord WHERE o_totalprice >= 50000.0 " +
      "GROUP BY o_orderstatus")
    // first read (odd half absent) — folded into an audit flag only
    val pre = s.sql("SELECT sum(n_big) FROM gsnapv.db.big").head
    val preBig = if (pre.isNullAt(0)) 0L else pre.getLong(0)
    s.sql("INSERT INTO gsnapv.db.ord SELECT * FROM " +
      "snap_view_orders_src WHERE o_orderkey % 2 = 1")
    val postBig = s.sql("SELECT sum(n_big) FROM gsnapv.db.big")
      .head.getLong(0)
    // ALTER VIEW ... AS replaces the definition IN PLACE (one atomic
    // file swap — no drop window): same semantics, new text; the
    // altered view must keep serving the hash-gated read below
    s.sql("ALTER VIEW gsnapv.db.big AS " +
      "SELECT o_orderstatus, count(*) AS n_big, " +
      "round(sum(o_totalprice), 2) AS total_big " +
      "FROM gsnapv.db.ord " +
      "WHERE o_totalprice >= 50000.0 AND o_orderkey >= 0 " +
      "GROUP BY o_orderstatus")
    // view TIME TRAVEL: AS OF the CTAS data snapshot (v1 is the CREATE
    // TABLE empty seed, v2 the CTAS rows) the view aggregates only the
    // even half — must reproduce the pre-insert sum
    val asOf = s.sql(
      "SELECT sum(n_big) FROM gsnapv.db.big VERSION AS OF 2")
      .head.getLong(0)
    // the view now sees the full table — the hash-gated read
    s.sql("SELECT * FROM gsnapv.db.big")
      .withColumn("view_tracked_commit",
        lit(if (preBig > 0L && preBig < postBig) 1L else 0L))
      .withColumn("view_asof_pinned",
        lit(if (asOf == preBig) 1L else 0L))
  }

  /** MANIFEST CONSOLIDATION end-to-end
    * ([[graft.sources.SnapshotTable.rewriteManifests]], the r14
    * manifest-list maintenance verb): a burst of small commits — the
    * streaming-sink shape that accretes one delta shard per ~32
    * files forever — then `rewrite_manifests` folds the head's small
    * shards into target-sized ones as a METADATA-ONLY commit, and the
    * post-fold table must aggregate exactly like raw orders (the
    * oracle). Audit flags pin that the head's entry section SHRANK,
    * that the fold touched no data (row count unchanged at the fold
    * commit), and that an immediate second call no-ops.
    */
  def snapshotFold(s: SparkSession, d: String): DataFrame = {
    import graft.sources.SnapshotTable
    val root = scratch("snap_fold")
    graft.tera.TeraIO.delete(s, root)
    val o = graft.Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    (0 until 12).foreach { i =>
      SnapshotTable.commit(
        o.filter(col("o_orderkey") % 12 === i).repartition(12), root,
        statsCol = Some("o_orderkey"))
    }
    val preFold = SnapshotTable.currentSnapshot(s, root)
    val rowsBefore = SnapshotTable.rowCount(s, root, preFold)
    val (v, before, after) = SnapshotTable.rewriteManifests(s, root)
    val rowsAfter = SnapshotTable.rowCount(s, root, v)
    val (v2, b2, a2) = SnapshotTable.rewriteManifests(s, root)
    SnapshotTable.read(s, root)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        money(sum(col("o_totalprice"))).as("total_price"))
      .withColumn("fold_shrunk",
        lit(if (v == preFold + 1 && after < before) 1L else 0L))
      .withColumn("fold_metadata_only",
        lit(if (rowsAfter == rowsBefore) 1L else 0L))
      .withColumn("fold_idempotent",
        lit(if (v2 == v && b2 == a2) 1L else 0L))
  }

  /** Multi-table ATOMIC publish ([[graft.sources.CommitGroup]]): a
    * curate-style pass derives TWO output tables from orders — the
    * cleaned fact (price floor) and its per-status scorecard — stages
    * both under one commit group (invisible; the audit columns pin
    * that), publishes both heads in one fenced pass, then reads the
    * results back JOINED through the GROUP-CONSISTENT
    * [[graft.sources.CommitGroup.readAll]] — pinned at the group's
    * published snapshots, so a later unrelated commit on one member
    * (driven here) and any torn state stay invisible; leakage breaks
    * the hash. The DuckDB oracle recomputes both tables from raw
    * orders. `CommitGroupSpec` drives the crash-recovery and
    * marker-fencing paths.
    */
  def snapshotGroup(s: SparkSession, d: String): DataFrame = {
    import graft.sources.{CommitGroup, SnapshotTable}
    val rootA = scratch("snap_grp_clean")
    val rootB = scratch("snap_grp_score")
    Seq(rootA, rootB).foreach(graft.tera.TeraIO.delete(s, _))
    val o = graft.Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    // v1 seeds: empty tables carrying the schemas
    SnapshotTable.commit(o.limit(0), rootA)
    val score0 = o.groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        money(sum(col("o_totalprice"))).as("total_price"))
    SnapshotTable.commit(score0.limit(0), rootB)
    CommitGroup.stage(o.filter(col("o_totalprice") >= 1000.0), rootA,
      "curate1")
    CommitGroup.stage(score0, rootB, "curate1")
    // both staged = both still empty (all-or-nothing starts invisible)
    val preA = SnapshotTable.read(s, rootA).count()
    val preB = SnapshotTable.read(s, rootB).count()
    CommitGroup.publish(s, "curate1", Seq(rootA, rootB))
    // an unrelated LATER commit moves one member's head; the GROUP read
    // ([[CommitGroup.readAll]]) pins every member at its group-published
    // snapshot, so the junk stays invisible to the joined result (the
    // oracle recomputes from raw orders — head leakage breaks the hash)
    SnapshotTable.commit(
      s.range(0, 7).select((col("id") + 900000000L).as("o_orderkey"),
        lit("X").as("o_orderstatus"), lit(1.0).as("o_totalprice")), rootA)
    val pinned = CommitGroup.readAll(s, "curate1", Seq(rootA, rootB))
    val headA = SnapshotTable.read(s, rootA).count()
    val pinnedA = pinned(rootA).count()
    val groupRebased = groupConcurrentAppendArm(s, rootA, rootB, o, score0)
    val clean = pinned(rootA)
      .groupBy("o_orderstatus").agg(count(lit(1)).as("n_clean"))
    pinned(rootB)
      .join(clean, Seq("o_orderstatus"), "left")
      .select(col("o_orderstatus"), col("n_orders"), col("total_price"),
        coalesce(col("n_clean"), lit(0L)).as("n_clean"))
      .withColumn("staged_invisible",
        lit(if (preA == 0L && preB == 0L) 1L else 0L))
      .withColumn("group_pinned",
        lit(if (headA == pinnedA + 7L) 1L else 0L))
      .withColumn("group_rebased", lit(groupRebased))
  }

  /** The round-15 concurrent-append arm of [[snapshotGroup]]: a second
    * pass stages on both members, then a plain append interleaves on
    * one member between stage and publish — the routine interleave at
    * streaming-ingest cadence. The group publish REBASES that member
    * through ([[graft.sources.SnapshotTable.rebaseCheck]] validated
    * up front, the member's fast-forward re-derived against the new
    * head) instead of refusing the whole pass; the flag pins that the
    * member ends with its curate-1 rows, junk rows, the interleaved
    * row, AND the pass-2 delta — both deltas landed, exactly once.
    */
  private def groupConcurrentAppendArm(s: SparkSession, rootA: String,
      rootB: String, o: DataFrame,
      score0: DataFrame): Long = {
    import graft.sources.{CommitGroup, SnapshotTable}
    CommitGroup.stage(o.filter(col("o_totalprice") < 1000.0), rootA,
      "curate2")
    CommitGroup.stage(score0, rootB, "curate2")
    SnapshotTable.commit( // the interleaved append the old contract refused
      s.range(0, 1).select((col("id") + 990000000L).as("o_orderkey"),
        lit("Z").as("o_orderstatus"), lit(2.0).as("o_totalprice")), rootA)
    CommitGroup.publish(s, "curate2", Seq(rootA, rootB))
    // rootA now holds: curate1 (>=1000) + 7 junk + 1 interleaved +
    // curate2 (<1000) = all orders + 8
    if (SnapshotTable.read(s, rootA).count() == o.count() + 8L) 1L else 0L
  }

  /** Global COUNT(*) through the DSv2 connector's aggregate pushdown:
    * the plan's scan is the metadata-only [[graft.sources.FixedRecordCountScan]]
    * — row count derived from file lengths, zero data bytes read, the
    * listing-time answer a 100 TB fixed-record directory deserves. The
    * oracle counts the ORIGINAL lineitem, so the gate proves the
    * pushed count equals the true row count end-to-end (write + listing
    * + length arithmetic). Plan shape (BatchScan is the count scan; no
    * data read) is spec-asserted in `FixedRecordSourceSpec`.
    */
  def countPushdown(s: SparkSession, d: String): DataFrame = {
    val dir = writeFixedLineitem(s, d)
    s.read.format("graft-fixed")
      .option("keyLen", "10").option("valueLen", "90").load(dir)
      .agg(count(lit(1)).as("n_records"))
  }

  /** Every oracle reads the ORIGINAL parquet table — a format round trip
    * is correct iff it is invisible to the aggregate.
    */
  val oracles: Map[String, String] = Map(
    // the manifest NDV estimates recomputed from the raw table through
    // the identical integer HLL arithmetic (register merge across
    // files == registers over all rows), next to the exact distincts
    "fmt_snapshot_ndv" ->
      s"""WITH toks AS (
         |  SELECT 'ck' AS source, o_custkey::VARCHAR AS tok FROM orders
         |  UNION ALL
         |  SELECT 'st', o_orderstatus FROM orders),
         |d AS (SELECT source, ${graft.ops.Sketches.sqlH48("tok")} AS h
         |  FROM toks),
         |${graft.ops.Sketches.sqlHllEstCtes},
         |lc AS (SELECT source, ${graft.ops.Sketches.sqlHllLc("est")}
         |  AS ndv FROM est)
         |SELECT
         |  count(DISTINCT o_custkey)::BIGINT AS exact_custkey,
         |  count(DISTINCT o_orderstatus)::BIGINT AS exact_status,
         |  (SELECT ndv FROM lc WHERE source = 'ck') AS ndv_custkey,
         |  (SELECT ndv FROM lc WHERE source = 'st') AS ndv_status
         |FROM orders""".stripMargin,
    // the view body recomputed over the full raw table, plus the
    // re-resolution audit flag (pre-insert sum was smaller, nonzero)
    "fmt_snapshot_view" ->
      """SELECT o_orderstatus, count(*)::BIGINT AS n_big,
        |  round(sum(o_totalprice), 2) AS total_big,
        |  1::BIGINT AS view_tracked_commit,
        |  1::BIGINT AS view_asof_pinned
        |FROM orders WHERE o_totalprice >= 50000.0
        |GROUP BY o_orderstatus""".stripMargin,
    // the post-consolidation table must aggregate exactly like raw
    // orders; the audit flags pin the fold's shrink/metadata-only/
    // idempotence contract
    "fmt_snapshot_fold" ->
      """SELECT o_orderstatus, count(*)::BIGINT AS n_orders,
        |  round(sum(o_totalprice), 2) AS total_price,
        |  1::BIGINT AS fold_shrunk,
        |  1::BIGINT AS fold_metadata_only,
        |  1::BIGINT AS fold_idempotent
        |FROM orders GROUP BY o_orderstatus""".stripMargin,
    // both group members recomputed from raw orders, joined — plus the
    // staged-invisible audit constant
    "fmt_snapshot_group" ->
      """WITH score AS (
        |  SELECT o_orderstatus, count(*)::BIGINT AS n_orders,
        |    round(sum(o_totalprice), 2) AS total_price
        |  FROM orders GROUP BY 1),
        |clean AS (
        |  SELECT o_orderstatus, count(*)::BIGINT AS n_clean
        |  FROM orders WHERE o_totalprice >= 1000.0 GROUP BY 1)
        |SELECT s.o_orderstatus, s.n_orders, s.total_price,
        |  coalesce(c.n_clean, 0)::BIGINT AS n_clean,
        |  1::BIGINT AS staged_invisible,
        |  1::BIGINT AS group_pinned,
        |  1::BIGINT AS group_rebased
        |FROM score s LEFT JOIN clean c USING (o_orderstatus)""".stripMargin,
    // TIMESTAMP AS OF the instant between the two commits reads the
    // CTAS half; the metadata table's max row count = the final table
    "fmt_snapshot_timetravel" ->
      """SELECT
        |  (SELECT count(*) FROM customer
        |   WHERE c_custkey % 2 = 0)::BIGINT AS n_at_ts,
        |  count(*)::BIGINT AS n_now,
        |  3::BIGINT AS n_snapshots,
        |  count(*)::BIGINT AS rows_final
        |FROM customer""".stripMargin,
    // the post-UPDATE table = the oracle's CASE over the raw table;
    // carried_some pins the file-granular copy-on-write (untouched
    // files' manifest lines survive verbatim)
    "fmt_snapshot_update" ->
      """WITH b AS (SELECT (max(c_custkey) // 4) AS lo,
        |  (max(c_custkey) // 2) AS hi FROM customer)
        |SELECT count(*)::BIGINT AS n_all,
        |  round(sum(CASE WHEN c_custkey BETWEEN b.lo AND b.hi
        |    THEN -99999.0 ELSE c_acctbal END), 2) AS bal_after,
        |  sum(CASE WHEN c_custkey BETWEEN b.lo AND b.hi
        |    THEN 1 ELSE 0 END)::BIGINT AS n_marked,
        |  1::BIGINT AS carried_some
        |FROM customer, b""".stripMargin,
    // the post-MERGE table = every customer with the shifted balance
    // (matched evens updated, odd keys inserted); one_commit pins the
    // whole MERGE as a single atomic snapshot
    "fmt_snapshot_merge_sql" ->
      """SELECT count(*)::BIGINT AS n_all,
        |  round(sum(c_acctbal + 1000000.0), 2) AS bal_after,
        |  1::BIGINT AS one_commit
        |FROM customer""".stripMargin,
    // the post-DELETE table must hold exactly the oracle's remainder;
    // VERSION AS OF the pre-delete snapshot must still hold every row;
    // the audit flags pin the metadata-drop and carry-verbatim paths
    "fmt_snapshot_delete" ->
      """WITH b AS (SELECT (max(c_custkey) // 2) AS hi FROM customer)
        |SELECT
        |  (SELECT count(*) FROM customer, b
        |   WHERE c_custkey > b.hi)::BIGINT AS n_after,
        |  (SELECT round(sum(c_acctbal), 2) FROM customer, b
        |   WHERE c_custkey > b.hi) AS bal_after,
        |  (SELECT count(*) FROM customer)::BIGINT AS n_before,
        |  1::BIGINT AS dropped_some, 1::BIGINT AS carried_some"""
        .stripMargin,
    // the SQL-built table (CTAS evens + INSERT odds) must hold exactly
    // the raw customer table, and VERSION AS OF 2 exactly the CTAS
    // half — time travel reads the pre-insert state
    "fmt_snapshot_sql" ->
      """SELECT count(*)::BIGINT AS n_all,
        |  round(sum(c_acctbal), 2) AS bal_all,
        |  (SELECT count(*) FROM customer
        |   WHERE c_custkey % 2 = 0)::BIGINT AS n_even
        |FROM customer""".stripMargin,
    // the transparently-skipped filtered read must equal a plain WHERE
    // over the original table; the audit flag pins that a strict
    // subset of the range files was opened
    "fmt_snapshot_pushdown" ->
      """WITH b AS (
        |  SELECT (max(o_orderkey) // 4) AS lo,
        |    (max(o_orderkey) // 2) AS hi FROM orders)
        |SELECT count(*)::BIGINT AS n,
        |  round(sum(o_totalprice), 2) AS rev,
        |  1::BIGINT AS pruned
        |FROM orders, b
        |WHERE o_orderkey BETWEEN b.lo AND b.hi
        |  AND o_orderstatus = 'O'""".stripMargin,
    // both z-ordered ranged reads must equal plain filters on the
    // original table (prune sound + residual exact on each dimension);
    // the audit flags pin that the curve layout made BOTH dims prune
    "fmt_snapshot_zorder" ->
      """WITH bx AS (
        |  SELECT (max(l_partkey) // 20) AS lo,
        |    (max(l_partkey) * 3 // 20) AS hi FROM lineitem),
        |bs AS (
        |  SELECT (max(l_suppkey) // 20) AS lo,
        |    (max(l_suppkey) * 3 // 20) AS hi FROM lineitem)
        |SELECT
        |  (SELECT count(*) FROM lineitem, bx
        |   WHERE l_partkey BETWEEN bx.lo AND bx.hi)::BIGINT AS n_x,
        |  (SELECT round(sum(l_quantity), 2) FROM lineitem, bx
        |   WHERE l_partkey BETWEEN bx.lo AND bx.hi) AS qty_x,
        |  (SELECT count(*) FROM lineitem, bs
        |   WHERE l_suppkey BETWEEN bs.lo AND bs.hi)::BIGINT AS n_y,
        |  (SELECT round(sum(l_quantity), 2) FROM lineitem, bs
        |   WHERE l_suppkey BETWEEN bs.lo AND bs.hi) AS qty_y,
        |  1::BIGINT AS pruned_x, 1::BIGINT AS pruned_y""".stripMargin,
    // the folded consumer state = (v1 ∪ v2 appends) with the updated
    // band replaced and the beyond-range keys inserted — the direct
    // post-merge truth; the op counts are the band/insert cardinalities
    "fmt_snapshot_cdf" ->
      """WITH allrows AS (
        |  SELECT o_orderstatus, o_orderkey, o_totalprice AS p FROM orders
        |  UNION ALL
        |  SELECT o_orderstatus, o_orderkey, o_totalprice + 100.0
        |  FROM orders WHERE o_orderkey % 10 <= 2),
        |up AS (
        |  SELECT o_orderstatus, o_orderkey, o_totalprice + 500.0 AS p
        |  FROM orders WHERE o_orderkey BETWEEN 1000 AND 3000
        |  UNION ALL
        |  SELECT o_orderstatus, o_orderkey + 10000000, o_totalprice
        |  FROM orders WHERE o_orderkey < 500),
        |fin AS (
        |  SELECT * FROM allrows WHERE o_orderkey NOT BETWEEN 1000 AND 3000
        |  UNION ALL SELECT * FROM up)
        |SELECT o_orderstatus, count(*)::BIGINT AS n_fold,
        |  round(sum(p), 2) AS total_fold,
        |  sum(o_orderkey)::BIGINT AS okey_fold,
        |  (SELECT count(*) FROM orders
        |   WHERE o_orderkey BETWEEN 1000 AND 3000)::BIGINT AS n_replaced,
        |  (SELECT count(*) FROM orders
        |   WHERE o_orderkey < 500)::BIGINT AS n_inserted
        |FROM fin GROUP BY 1""".stripMargin,
    // the folded consumer state across SQL UPDATE + SQL MERGE INTO
    // (file-diff XB/XA steps) = the oracle's direct recomputation;
    // bands are disjoint so each reprice applies to original prices
    "fmt_snapshot_cdf_sql" ->
      """WITH b AS (SELECT max(o_orderkey)//10 AS b1lo,
        |  max(o_orderkey)*2//10 AS b1hi, max(o_orderkey)*3//10 AS b2lo,
        |  max(o_orderkey)*4//10 AS b2hi FROM orders),
        |fin AS (
        |  SELECT o_orderstatus AS st, o_orderkey AS k,
        |    CASE WHEN o_orderkey > b.b1lo AND o_orderkey <= b.b1hi
        |      THEN o_totalprice + 500.0
        |      WHEN o_orderkey > b.b2lo AND o_orderkey <= b.b2hi
        |      THEN o_totalprice + 100.0
        |      ELSE o_totalprice END AS p
        |  FROM orders, b
        |  UNION ALL
        |  SELECT o_orderstatus, o_orderkey + 30000000, o_totalprice
        |  FROM orders WHERE o_orderkey % 10 = 5)
        |SELECT st AS o_orderstatus, count(*)::BIGINT AS n_fold,
        |  round(sum(p), 2) AS total_fold, sum(k)::BIGINT AS okey_fold,
        |  1::BIGINT AS upd_xb, 1::BIGINT AS upd_xa,
        |  1::BIGINT AS mrg_xb, 1::BIGINT AS mrg_xa,
        |  1::BIGINT AS atomic_dml
        |FROM fin GROUP BY 1""".stripMargin,
    // manifest-complete aggregates over base ∪ shifted-decile-3 copy;
    // every value must equal DuckDB's recomputation from the raw rows
    "fmt_snapshot_minmax" ->
      """WITH t AS (
        |  SELECT o_orderkey, o_totalprice FROM orders
        |  UNION ALL
        |  SELECT o_orderkey + 50000000, o_totalprice
        |  FROM orders WHERE o_orderkey % 10 = 3)
        |SELECT min(o_orderkey)::BIGINT AS min_okey,
        |  max(o_orderkey)::BIGINT AS max_okey,
        |  round(min(o_totalprice), 2) AS min_price,
        |  round(max(o_totalprice), 2) AS max_price,
        |  count(*)::BIGINT AS n_rows,
        |  count(o_totalprice)::BIGINT AS n_price,
        |  1::BIGINT AS from_manifest
        |FROM t""".stripMargin,
    // streaming CDC apply: last writer wins per key — decile 2
    // repriced +500 at batch 1, decile 3 repriced twice in batch 2
    // with the seq-4 (+900) version winning, decile-7 copies inserted
    // under +30M keys; the redelivered batch advanced nothing
    "fmt_snapshot_upsert" ->
      """WITH fin AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CASE WHEN o_orderkey % 10 = 2 THEN o_totalprice + 500.0
        |         WHEN o_orderkey % 10 = 3 THEN o_totalprice + 900.0
        |         ELSE o_totalprice END AS p
        |  FROM orders
        |  UNION ALL
        |  SELECT o_orderkey + 30000000, o_orderstatus, o_totalprice
        |  FROM orders WHERE o_orderkey % 10 = 7)
        |SELECT o_orderstatus, count(*)::BIGINT AS n,
        |  round(sum(p), 2) AS total, sum(o_orderkey)::BIGINT AS sum_okey,
        |  0::BIGINT AS replay_advanced
        |FROM fin GROUP BY 1""".stripMargin,
    // bin-pack compaction rewrites layout, never rows: the content is
    // the whole lineitem table; the audit constants pin 6 smalls → 1
    // packed file, both large files carried verbatim, and the feed
    // crossing the compaction empty
    "fmt_snapshot_binpack" ->
      """SELECT l_returnflag, count(*)::BIGINT AS n,
        |  sum(l_quantity::BIGINT)::BIGINT AS sum_qty,
        |  sum(l_orderkey)::BIGINT AS sum_okey,
        |  6::BIGINT AS packed_files, 1::BIGINT AS written_files,
        |  1::BIGINT AS carried_large, 1::BIGINT AS feed_empty
        |FROM lineitem GROUP BY 1""".stripMargin,
    // write-audit-publish: the final table = base (deciles 0-5) ∪
    // published good batch (6-7) ∪ interleaved commit (8) ∪ the stale
    // stage REBASED over that additive interleave (9) — every decile
    // exactly once; the bad batch (negated prices) failed its audit
    // and dropped, and the doomed stage over a NON-additive interleave
    // (compaction) refused and dropped — neither reaches the table
    "fmt_snapshot_wap" ->
      """SELECT o_orderstatus, count(*)::BIGINT AS n,
        |  round(sum(o_totalprice), 2) AS total,
        |  sum(o_orderkey)::BIGINT AS sum_okey,
        |  1::BIGINT AS staged_invisible, 1::BIGINT AS dropped_bad,
        |  1::BIGINT AS rebased_stale, 1::BIGINT AS refused_doomed
        |FROM orders GROUP BY 1""".stripMargin,
    // the post-lifecycle table = CTAS ∪ good batch (the bad batch was
    // rolled away; the zorder compaction preserved content); the audit
    // columns pin the restored head id, the clustered-key prune, and
    // the post-vacuum live-snapshot count
    "fmt_snapshot_call" ->
      """WITH fin AS (
        |  SELECT o_orderstatus, o_orderkey, o_totalprice FROM orders
        |  UNION ALL
        |  SELECT o_orderstatus, o_orderkey + 20000000,
        |    o_totalprice + 100.0
        |  FROM orders WHERE o_orderkey % 10 = 6)
        |SELECT o_orderstatus, count(*)::BIGINT AS n_rows,
        |  round(sum(o_totalprice), 2) AS total_price,
        |  sum(o_orderkey)::BIGINT AS okey_sum,
        |  1::BIGINT AS rolled_to_head, 1::BIGINT AS zorder_pruned,
        |  2::BIGINT AS n_live
        |FROM fin GROUP BY 1""".stripMargin,
    // the folded consumer state across append + merge (with UB
    // pre-images) + COW delete + MOR delete + vector fold + append
    // equals the direct recomputation; the audit counts pin the
    // pre-image and per-delete-kind row cardinalities, and that the
    // fold (a logical no-op) contributed zero feed rows
    "fmt_snapshot_cdf_full" ->
      """WITH b AS (SELECT max(o_orderkey)*2//5 AS lo2,
        |  max(o_orderkey)*3//5 AS hi2 FROM orders),
        |s1 AS (
        |  SELECT o_orderstatus AS st, o_orderkey AS k,
        |    o_totalprice AS p FROM orders
        |  UNION ALL
        |  SELECT o_orderstatus, o_orderkey + 10000000,
        |    o_totalprice + 50.0
        |  FROM orders WHERE o_orderkey % 10 = 7),
        |up AS (
        |  SELECT o_orderstatus AS st, o_orderkey AS k,
        |    o_totalprice + 500.0 AS p
        |  FROM orders WHERE o_orderkey BETWEEN 1000 AND 3000
        |  UNION ALL
        |  SELECT o_orderstatus, o_orderkey + 20000000, o_totalprice
        |  FROM orders WHERE o_orderkey < 300),
        |s2 AS (
        |  SELECT * FROM s1 WHERE k NOT BETWEEN 1000 AND 3000
        |  UNION ALL SELECT * FROM up),
        |s3 AS (SELECT s2.* FROM s2, b
        |  WHERE NOT (k > b.lo2 AND k <= b.hi2)),
        |s4 AS (SELECT * FROM s3 WHERE NOT (p < 2000.0)),
        |s5 AS (
        |  SELECT * FROM s4
        |  UNION ALL
        |  SELECT o_orderstatus, o_orderkey + 40000000,
        |    o_totalprice + 70.0
        |  FROM orders WHERE o_orderkey % 10 = 9)
        |SELECT st AS o_orderstatus, count(*)::BIGINT AS n_fold,
        |  round(sum(p), 2) AS total_fold, sum(k)::BIGINT AS okey_fold,
        |  (SELECT count(*) FROM s1
        |   WHERE k BETWEEN 1000 AND 3000)::BIGINT AS n_ub,
        |  (SELECT count(*) FROM s2, b
        |   WHERE k > b.lo2 AND k <= b.hi2)::BIGINT AS n_d_cow,
        |  (SELECT count(*) FROM s3 WHERE p < 2000.0)::BIGINT AS n_d_mor,
        |  0::BIGINT AS n_noop_rows
        |FROM s5 GROUP BY 1""".stripMargin,
    // even keys predate the column (NULL → the sentinel bucket); the
    // post-rename append shifts its keys +30M and reprices +1000; the
    // library and DSv2 reads must agree with the one derivation, v1's
    // time travel count is the even-key cardinality, and the rename
    // audit is a protocol constant (file list untouched)
    "fmt_snapshot_evolve" ->
      """WITH cur AS (
        |  SELECT CASE WHEN o_orderkey % 2 = 0 THEN '<pre-evolution>'
        |    ELSE o_orderpriority END AS priority,
        |    o_totalprice AS p, o_orderkey AS k FROM orders
        |  UNION ALL
        |  SELECT o_orderpriority AS priority,
        |    o_totalprice + 1000.0 AS p, o_orderkey + 30000000 AS k
        |  FROM orders WHERE o_orderkey % 10 = 7)
        |SELECT priority, count(*)::BIGINT AS n_lib,
        |  round(sum(p), 2) AS total_lib, sum(k)::BIGINT AS okey_lib,
        |  count(*)::BIGINT AS n_dsv2,
        |  round(sum(p), 2) AS total_dsv2, sum(k)::BIGINT AS okey_dsv2,
        |  (SELECT count(*) FROM orders
        |   WHERE o_orderkey % 2 = 0)::BIGINT AS n_v1,
        |  1::BIGINT AS rename_meta_only
        |FROM cur GROUP BY 1""".stripMargin,
    // the enforced table = the clean base + the clean append (the
    // poisoned batch never landed); the three audit flags are protocol
    // constants (violating constraint refused at set, poisoned write
    // refused, head unchanged by the refusal)
    "fmt_snapshot_constraint" ->
      """WITH cur AS (
        |  SELECT o_orderstatus AS st, o_totalprice AS p,
        |    o_orderkey AS k FROM orders
        |  UNION ALL
        |  SELECT o_orderstatus AS st, o_totalprice AS p,
        |    o_orderkey + 10000000 AS k
        |  FROM orders WHERE o_orderkey % 10 = 7)
        |SELECT st AS o_orderstatus, count(*)::BIGINT AS n_rows,
        |  round(sum(p), 2) AS total_price, sum(k)::BIGINT AS okey_sum,
        |  1::BIGINT AS set_refused, 1::BIGINT AS write_refused,
        |  1::BIGINT AS table_unchanged
        |FROM cur GROUP BY 1""".stripMargin,
    // after the spec evolution and the priority replace, the table is
    // base-outside-urgent + appended-outside-urgent + the replacement
    // content; the audit flags are protocol constants (metadata-only
    // evolution, drop/rewrite/carry replace shape, purity healed)
    "fmt_snapshot_part_evolve" ->
      """WITH cur AS (
        |  SELECT o_orderpriority AS pr, o_totalprice AS p,
        |    o_orderkey AS k FROM orders
        |  WHERE o_orderpriority <> '1-URGENT'
        |  UNION ALL
        |  SELECT o_orderpriority AS pr, o_totalprice + 50.0 AS p,
        |    o_orderkey + 10000000 AS k
        |  FROM orders WHERE o_orderkey % 10 = 7
        |    AND o_orderpriority <> '1-URGENT'
        |  UNION ALL
        |  SELECT '1-URGENT' AS pr, o_totalprice + 100.0 AS p,
        |    o_orderkey + 30000000 AS k
        |  FROM orders WHERE o_orderkey % 5 = 2)
        |SELECT pr AS o_orderpriority, count(*)::BIGINT AS n_rows,
        |  round(sum(p), 2) AS total_price, sum(k)::BIGINT AS okey_sum,
        |  1::BIGINT AS evolve_meta_only, 1::BIGINT AS rep_shape,
        |  1::BIGINT AS pure_after
        |FROM cur GROUP BY 1""".stripMargin,
    // latest-wins over the stacked upserts: the retraction band
    // (%25) erases every version, the second upsert (%20) outranks
    // the first (%10), the fresh keys ride along; the four audit
    // flags are protocol constants (zero-read carry, honest count
    // withdrawal, DSv2 refusal pre-fold, clean manifest post-fold)
    "fmt_snapshot_eqdelete" ->
      """WITH fresh AS (
        |  SELECT o_orderkey + 20000000 AS k, o_orderstatus AS s,
        |    o_totalprice + 50.0 AS p
        |  FROM orders WHERE o_orderkey % 100 = 13),
        |base AS (
        |  SELECT o_orderkey AS k, o_orderstatus AS s,
        |    CASE WHEN o_orderkey % 20 = 0 THEN o_totalprice + 900.0
        |         WHEN o_orderkey % 10 = 0 THEN o_totalprice + 500.0
        |         ELSE o_totalprice END AS p
        |  FROM orders WHERE o_orderkey % 25 <> 0),
        |cur AS (SELECT * FROM base UNION ALL SELECT * FROM fresh)
        |SELECT s AS o_orderstatus, count(*)::BIGINT AS n_rows,
        |  round(sum(p), 2) AS total_price, sum(k)::BIGINT AS okey_sum,
        |  1::BIGINT AS carried_verbatim, 1::BIGINT AS count_undefined,
        |  1::BIGINT AS dsv2_refused, 1::BIGINT AS folded_clean
        |FROM cur GROUP BY 1""".stripMargin,
    // the fold across overwrite+rollback lands on the overwrite's
    // content (the rollback undid v4); the audits are the file-diff
    // cardinalities: XB at the overwrite = both pre-overwrite batches,
    // XA = the overwrite content, XB at the rollback = the undone
    // batch, XA at the rollback = nothing
    "fmt_snapshot_cdf_ovw" ->
      """WITH cur AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice + 500.0 AS p
        |  FROM orders WHERE o_orderkey % 4 <= 1)
        |SELECT o_orderstatus, count(*)::BIGINT AS n_fold,
        |  round(sum(p), 2) AS total_fold,
        |  sum(o_orderkey)::BIGINT AS okey_fold,
        |  (SELECT count(*) FROM orders
        |   WHERE o_orderkey % 4 <= 1)::BIGINT AS xb_ovw,
        |  (SELECT count(*) FROM orders
        |   WHERE o_orderkey % 4 <= 1)::BIGINT AS xa_ovw,
        |  (SELECT count(*) FROM orders
        |   WHERE o_orderkey % 4 = 2)::BIGINT AS xb_rb,
        |  0::BIGINT AS xa_rb
        |FROM cur GROUP BY 1""".stripMargin,
    // the widened table = narrow v1 + the wide v5 leg + the narrow v6
    // late-writer leg, all under the promoted types; library and DSv2
    // reads must agree with the one derivation, and the audits are
    // protocol constants (file list untouched by three widens; v1 time
    // travel still narrow)
    "fmt_snapshot_widen" ->
      """WITH v1 AS (
        |  SELECT CAST(l_orderkey AS BIGINT) AS okey,
        |    CAST(CAST(l_quantity AS FLOAT) AS DOUBLE) AS qty,
        |    CAST(l_orderkey % 1000 AS DECIMAL(18,2)) AS price,
        |    l_returnflag AS flag FROM lineitem),
        |v5 AS (
        |  SELECT CAST(l_orderkey AS BIGINT) + 3000000000 AS okey,
        |    CAST(l_quantity AS DOUBLE) + 0.5 AS qty,
        |    CAST(l_orderkey % 1000 + 10000 AS DECIMAL(18,2)) AS price,
        |    l_returnflag AS flag FROM lineitem WHERE l_orderkey % 10 = 3),
        |v6 AS (
        |  SELECT CAST(l_orderkey AS BIGINT) AS okey,
        |    CAST(CAST(l_quantity AS FLOAT) AS DOUBLE) AS qty,
        |    CAST(l_orderkey % 1000 AS DECIMAL(18,2)) AS price,
        |    l_returnflag AS flag FROM lineitem WHERE l_orderkey % 100 = 7),
        |cur AS (SELECT * FROM v1 UNION ALL SELECT * FROM v5
        |        UNION ALL SELECT * FROM v6)
        |SELECT flag, count(*)::BIGINT AS n_lib,
        |  sum(okey)::BIGINT AS okey_lib, round(sum(qty), 2) AS qty_lib,
        |  round(CAST(sum(price) AS DOUBLE), 2) AS price_lib,
        |  count(*)::BIGINT AS n_dsv2,
        |  sum(okey)::BIGINT AS okey_dsv2, round(sum(qty), 2) AS qty_dsv2,
        |  round(CAST(sum(price) AS DOUBLE), 2) AS price_dsv2,
        |  1::BIGINT AS widen_meta_only, 1::BIGINT AS tt_narrow
        |FROM cur GROUP BY 1""".stripMargin,
    // the manifest-only count must equal the true row count of both
    // committed batches; from_manifest is a protocol constant
    "fmt_snapshot_count" ->
      """SELECT
        |  (SELECT count(*) FROM lineitem)::BIGINT +
        |  (SELECT count(*) FROM lineitem
        |   WHERE l_orderkey % 10 = 0)::BIGINT AS n_rows,
        |  (SELECT count(*) FROM lineitem)::BIGINT AS n_rows_v1,
        |  1::BIGINT AS from_manifest""".stripMargin,
    // after bootstrap + append + compacting overwrite, the current
    // content is the v2 logical table; the audit constants pin three
    // snapshots and a working stats index on the overwrite's files
    "fmt_snapshot_write" ->
      """WITH v2rows AS (
        |  SELECT o_orderstatus, o_orderkey, o_totalprice FROM orders
        |  UNION ALL
        |  SELECT o_orderstatus, o_orderkey, o_totalprice + 100.0
        |  FROM orders WHERE o_orderkey % 10 <= 2)
        |SELECT o_orderstatus, count(*)::BIGINT AS n_cur,
        |  round(sum(o_totalprice), 2) AS total_cur,
        |  sum(o_orderkey)::BIGINT AS okey_cur,
        |  3::BIGINT AS n_snapshots, 1::BIGINT AS pruned_some
        |FROM v2rows GROUP BY 1""".stripMargin,
    // the same merge as fmt_snapshot_merge, so the same truth
    "fmt_snapshot_merge_large" ->
      """WITH up AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice + 500.0 AS p
        |  FROM orders WHERE o_orderkey BETWEEN 1000 AND 3000
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, o_orderstatus, o_totalprice
        |  FROM orders WHERE o_orderkey < 500),
        |merged AS (
        |  SELECT o_orderstatus, o_orderkey, o_totalprice AS p
        |  FROM orders WHERE o_orderkey NOT BETWEEN 1000 AND 3000
        |  UNION ALL
        |  SELECT o_orderstatus, o_orderkey, p FROM up),
        |m AS (
        |  SELECT o_orderstatus, count(*)::BIGINT AS n_merged,
        |    round(sum(p), 2) AS total_merged,
        |    sum(o_orderkey)::BIGINT AS okey_merged
        |  FROM merged GROUP BY 1),
        |v1 AS (
        |  SELECT o_orderstatus, count(*)::BIGINT AS n_v1
        |  FROM orders GROUP BY 1)
        |SELECT m.o_orderstatus, m.n_merged, m.total_merged,
        |  m.okey_merged, v1.n_v1, 1::BIGINT AS pruned_some
        |FROM m JOIN v1 USING (o_orderstatus)""".stripMargin,
    // the incremental read between v1 and v3 is exactly the two derived
    // append batches; the refusal flag is a protocol constant (the
    // overwrite v4 invalidates file-level incremental reads, loudly)
    "fmt_snapshot_changes" ->
      """WITH changed AS (
        |  SELECT o_orderstatus, o_orderkey, o_totalprice + 100.0 AS p
        |  FROM orders WHERE o_orderkey % 10 <= 2
        |  UNION ALL
        |  SELECT o_orderstatus, o_orderkey, o_totalprice + 200.0
        |  FROM orders WHERE o_orderkey % 10 IN (3, 4))
        |SELECT o_orderstatus, count(*)::BIGINT AS n_changed,
        |  round(sum(p), 2) AS total_changed,
        |  sum(o_orderkey)::BIGINT AS okey_changed,
        |  1::BIGINT AS nonappend_refused
        |FROM changed GROUP BY 1""".stripMargin,
    // the shuffle-free co-partitioned join must equal the plain join
    "fmt_snapshot_spj" ->
      """SELECT c_nationkey, count(*)::BIGINT AS n_orders,
        |  round(sum(o_totalprice), 2) AS revenue,
        |  1::BIGINT AS spj_no_shuffle
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1""".stripMargin,
    // the vector-subtracted read must equal the plain NOT-filter;
    // n_meta doubles as the manifest-arithmetic check (= n_rows)
    "fmt_snapshot_dv" ->
      """SELECT count(*)::BIGINT AS n_rows,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_price,
        |  count(*)::BIGINT AS n_meta, 1::BIGINT AS vector_only
        |FROM lineitem WHERE NOT (l_quantity < 5)""".stripMargin,
    // both overlapping deletes applied, then read through the stock
    // DSv2 scan after the fold; flags pin refusal + vector-free head
    "fmt_snapshot_dv_rewrite" ->
      """SELECT count(*)::BIGINT AS n_rows,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_price,
        |  1::BIGINT AS refused_pre_fold, 1::BIGINT AS vectors_folded
        |FROM lineitem
        |WHERE NOT (l_quantity < 5) AND NOT (l_orderkey < 1000)""".stripMargin,
    // one partition read back must equal the plain filter; the flags
    // pin value purity and the manifest-level partition prune
    "fmt_snapshot_partitioned" ->
      """SELECT count(*)::BIGINT AS n_rows,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_price,
        |  1::BIGINT AS value_pure, 1::BIGINT AS part_pruned
        |FROM lineitem WHERE l_returnflag = 'R'""".stripMargin,
    // post-replace truth: untouched partitions verbatim, the 'F'
    // partition repriced; metadata_only pins the zero-rewrite swap,
    // n_v1 the pre-replace time travel
    "fmt_snapshot_replace" ->
      """WITH cur AS (
        |  SELECT o_orderstatus, o_orderkey, o_totalprice
        |  FROM orders WHERE o_orderstatus <> 'F'
        |  UNION ALL
        |  SELECT o_orderstatus, o_orderkey, o_totalprice + 1000.0
        |  FROM orders WHERE o_orderstatus = 'F')
        |SELECT o_orderstatus, count(*)::BIGINT AS n_rows,
        |  round(sum(o_totalprice), 2) AS total_price,
        |  sum(o_orderkey)::BIGINT AS okey_sum,
        |  1::BIGINT AS metadata_only,
        |  (SELECT count(*) FROM orders)::BIGINT AS n_v1
        |FROM cur GROUP BY 1""".stripMargin,
    // the catalog-partitioned table holds ALL of lineitem (CTAS half +
    // INSERT half); the two-partition group-by must match the original
    "fmt_snapshot_part_sql" ->
      """SELECT l_returnflag, count(*)::BIGINT AS n_rows,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_price,
        |  1::BIGINT AS value_pure, 1::BIGINT AS part_pruned
        |FROM lineitem WHERE l_returnflag IN ('A', 'N')
        |GROUP BY 1""".stripMargin,
    // the restored head must equal the ORIGINAL table exactly (the bad
    // batch fully gone); the flags pin history retention and the
    // monotone head id
    "fmt_snapshot_rollback" ->
      """SELECT o_orderstatus, count(*)::BIGINT AS n_rows,
        |  round(sum(o_totalprice), 2) AS total_price,
        |  sum(o_orderkey)::BIGINT AS okey_sum,
        |  1::BIGINT AS history_kept, 1::BIGINT AS head_advanced
        |FROM orders GROUP BY 1""".stripMargin,
    // SQL merge truth: stored rows outside the updated key band, plus
    // the updated band at +500, plus the inserted beyond-range keys;
    // n_v1 pins pre-merge time travel, the prune flag that the stats
    // index left most files untouched
    "fmt_snapshot_merge" ->
      """WITH up AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice + 500.0 AS p
        |  FROM orders WHERE o_orderkey BETWEEN 1000 AND 3000
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, o_orderstatus, o_totalprice
        |  FROM orders WHERE o_orderkey < 500),
        |merged AS (
        |  SELECT o_orderstatus, o_orderkey, o_totalprice AS p
        |  FROM orders WHERE o_orderkey NOT BETWEEN 1000 AND 3000
        |  UNION ALL
        |  SELECT o_orderstatus, o_orderkey, p FROM up),
        |m AS (
        |  SELECT o_orderstatus, count(*)::BIGINT AS n_merged,
        |    round(sum(p), 2) AS total_merged,
        |    sum(o_orderkey)::BIGINT AS okey_merged
        |  FROM merged GROUP BY 1),
        |v1 AS (
        |  SELECT o_orderstatus, count(*)::BIGINT AS n_v1
        |  FROM orders GROUP BY 1)
        |SELECT m.o_orderstatus, m.n_merged, m.total_merged,
        |  m.okey_merged, v1.n_v1, 1::BIGINT AS pruned_some
        |FROM m JOIN v1 USING (o_orderstatus)""".stripMargin,
    // the pruned ranged read must equal the plain filter on the
    // original table (prune sound + residual filter exact); the audit
    // flag pins that the index actually dropped files
    "fmt_snapshot_skip" ->
      """SELECT count(*)::BIGINT AS n_rows,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_price,
        |  1::BIGINT AS pruned_some
        |FROM lineitem WHERE l_orderkey BETWEEN 1000 AND 5000""".stripMargin,
    // v1 = the table; v2 = the table plus the derived append batch; the
    // pinned reader and O(1) time travel must both still see exactly v1
    "fmt_snapshot_isolation" ->
      """WITH v1 AS (
        |  SELECT o_orderstatus, count(*)::BIGINT AS n_v1,
        |    round(sum(o_totalprice), 2) AS total_v1,
        |    sum(o_orderkey)::BIGINT AS okey_v1
        |  FROM orders GROUP BY 1),
        |v2rows AS (
        |  SELECT o_orderstatus, o_orderkey, o_totalprice FROM orders
        |  UNION ALL
        |  SELECT o_orderstatus, o_orderkey, o_totalprice + 100.0
        |  FROM orders WHERE o_orderkey % 10 <= 2),
        |v2 AS (
        |  SELECT o_orderstatus, count(*)::BIGINT AS n_v2,
        |    round(sum(o_totalprice), 2) AS total_v2,
        |    sum(o_orderkey)::BIGINT AS okey_v2
        |  FROM v2rows GROUP BY 1)
        |SELECT o_orderstatus, n_v1, total_v1, okey_v1,
        |  n_v2, total_v2, okey_v2, n_v1 AS n_travel
        |FROM v1 JOIN v2 USING (o_orderstatus)""".stripMargin,
    // current-after-expire = the v2 logical content (the compact v3
    // rewrote exactly it); the audit columns are protocol constants:
    // two expired manifests, expired time travel fails
    // the tag reads v1 (raw orders), the branch reads v3 (orders +
    // the first two repriced batches), the head reads v4; expired=1
    // (only untagged v2) and n_refs=2 are protocol constants
    "fmt_snapshot_refs" ->
      """WITH b2 AS (SELECT o_orderstatus, o_orderkey,
        |    o_totalprice + 100.0 AS p FROM orders WHERE o_orderkey % 10 = 1),
        |  b3 AS (SELECT o_orderstatus, o_orderkey,
        |    o_totalprice + 200.0 AS p FROM orders WHERE o_orderkey % 10 = 2),
        |  b4 AS (SELECT o_orderstatus, o_orderkey,
        |    o_totalprice + 300.0 AS p FROM orders WHERE o_orderkey % 10 = 3),
        |  cur AS (
        |    SELECT o_orderstatus, o_orderkey, o_totalprice AS p FROM orders
        |    UNION ALL SELECT * FROM b2
        |    UNION ALL SELECT * FROM b3
        |    UNION ALL SELECT * FROM b4),
        |  br AS (
        |    SELECT o_totalprice AS p FROM orders
        |    UNION ALL SELECT p FROM b2
        |    UNION ALL SELECT p FROM b3)
        |SELECT o_orderstatus, count(*)::BIGINT AS n_cur,
        |  round(sum(p), 2) AS total_cur,
        |  sum(o_orderkey)::BIGINT AS okey_cur,
        |  (SELECT count(*) FROM orders)::BIGINT AS n_tag,
        |  (SELECT round(sum(o_totalprice), 2) FROM orders) AS total_tag,
        |  (SELECT count(*) FROM br)::BIGINT AS n_branch,
        |  (SELECT round(sum(p), 2) FROM br) AS total_branch,
        |  1::BIGINT AS n_expired, 2::BIGINT AS n_refs
        |FROM cur GROUP BY 1""".stripMargin,
    // the PRESENT leg is a plain custkey join under the doubled-key
    // encoding; the ABSENT leg is empty by construction and its prune
    // audit is a protocol constant (runtime bloom refutation fires)
    "fmt_snapshot_bloom" ->
      """SELECT o_orderstatus, count(*)::BIGINT AS n_join,
        |  round(sum(o_totalprice), 2) AS total_join,
        |  sum(o_orderkey)::BIGINT AS okey_join,
        |  0::BIGINT AS n_absent_rows, 1::BIGINT AS absent_pruned
        |FROM orders o JOIN customer c
        |  ON (o.o_custkey % 4096) = (c.c_custkey % 4096)
        |WHERE c.c_custkey <= 40
        |GROUP BY 1""".stripMargin,
    "fmt_snapshot_expire" ->
      """WITH v4rows AS (
        |  SELECT o_orderstatus, o_orderkey, o_totalprice FROM orders
        |  UNION ALL
        |  SELECT o_orderstatus, o_orderkey, o_totalprice + 100.0
        |  FROM orders WHERE o_orderkey % 10 <= 2
        |  UNION ALL
        |  SELECT o_orderstatus, o_orderkey, o_totalprice + 500.0
        |  FROM orders WHERE o_orderkey % 10 = 9)
        |SELECT o_orderstatus, count(*)::BIGINT AS n_cur,
        |  round(sum(o_totalprice), 2) AS total_cur,
        |  sum(o_orderkey)::BIGINT AS okey_cur,
        |  2::BIGINT AS n_expired_manifests,
        |  1::BIGINT AS expired_read_fails,
        |  1::BIGINT AS n_expired_by_age,
        |  1::BIGINT AS n_live_by_age
        |FROM v4rows GROUP BY 1""".stripMargin,
    // same v1/v2 derivation as the isolation gate, read back through
    // the DSv2 connector; the catalog columns are protocol constants
    "fmt_snapshot_dsv2" ->
      """WITH v1 AS (
        |  SELECT o_orderstatus, count(*)::BIGINT AS n_v1,
        |    round(sum(o_totalprice), 2) AS total_v1,
        |    sum(o_orderkey)::BIGINT AS okey_v1
        |  FROM orders GROUP BY 1),
        |v2rows AS (
        |  SELECT o_orderstatus, o_orderkey, o_totalprice FROM orders
        |  UNION ALL
        |  SELECT o_orderstatus, o_orderkey, o_totalprice + 100.0
        |  FROM orders WHERE o_orderkey % 10 <= 2),
        |v2 AS (
        |  SELECT o_orderstatus, count(*)::BIGINT AS n_v2,
        |    round(sum(o_totalprice), 2) AS total_v2,
        |    sum(o_orderkey)::BIGINT AS okey_v2
        |  FROM v2rows GROUP BY 1)
        |SELECT o_orderstatus, n_v1, total_v1, okey_v1,
        |  n_v2, total_v2, okey_v2,
        |  2::BIGINT AS n_snapshots, 2::BIGINT AS max_id
        |FROM v1 JOIN v2 USING (o_orderstatus)""".stripMargin,
    "fmt_zstd_roundtrip" ->
      """SELECT l_returnflag, count(*) AS n,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_price,
        |  sum(l_orderkey)::BIGINT AS sum_okey
        |FROM lineitem
        |GROUP BY 1""".stripMargin,
    // valid rows by status, quarantined rows as one sentinel group —
    // both derived from the clean table by the injection rule
    "fmt_malformed_csv" ->
      """SELECT CASE WHEN o_orderkey % 10 = 0 THEN '<quarantined>'
        |    ELSE o_orderstatus END AS status,
        |  count(*)::BIGINT AS n,
        |  round(sum(CASE WHEN o_orderkey % 10 = 0 THEN 0
        |    ELSE o_totalprice END), 2) AS total,
        |  sum(o_orderkey)::BIGINT AS sum_okey
        |FROM orders GROUP BY 1""".stripMargin,
    // the evolved-column split derived straight from the source table:
    // even keys are pre-evolution (priority lost to the old schema)
    "fmt_schema_evolution" ->
      """SELECT CASE WHEN o_orderkey % 2 = 0 THEN '<pre-evolution>'
        |  ELSE o_orderpriority END AS priority,
        |  count(*)::BIGINT AS n,
        |  round(sum(o_totalprice), 2) AS sum_total,
        |  sum(o_orderkey)::BIGINT AS sum_okey
        |FROM orders GROUP BY 1""".stripMargin,
    "fmt_csv_roundtrip" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |  sum(l_orderkey)::BIGINT AS sum_okey,
        |  strftime(max(l_shipdate), '%Y-%m-%d %H:%M:%S') AS max_ship
        |FROM lineitem
        |GROUP BY 1, 2""".stripMargin,
    "fmt_json_roundtrip" ->
      """SELECT event_type, count(*) AS n,
        |  round(sum(value), 2) AS sum_value,
        |  sum((json_extract_string(props, '$.k'))::BIGINT)::BIGINT AS sum_k,
        |  strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS max_ts
        |FROM events
        |GROUP BY 1""".stripMargin,
    "fmt_orc_roundtrip" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total,
        |  sum(o_orderkey)::BIGINT AS sum_okey
        |FROM orders
        |GROUP BY 1, 2""".stripMargin,
    "fmt_fixed_roundtrip" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  sum(l_orderkey)::BIGINT AS sum_okey,
        |  round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem
        |GROUP BY 1, 2""".stripMargin,
    "fmt_partitioned_prune" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total,
        |  strftime(max(o_orderdate), '%Y-%m-%d %H:%M:%S') AS max_date
        |FROM orders
        |WHERE o_orderstatus = 'F'
        |GROUP BY 1""".stripMargin,
    "fmt_bucketed_join" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS rev,
        |  sum(l_orderkey)::BIGINT AS sum_okey
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY 1""".stripMargin,
    "fmt_dpp_prune" ->
      """SELECT n_name, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total,
        |  sum(o_orderkey)::BIGINT AS sum_okey
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY 1""".stripMargin,
    // the pushed metadata-only count must equal the true row count
    "fmt_count_pushdown" ->
      "SELECT count(*)::BIGINT AS n_records FROM lineitem"
  )
}
