package graft.sources

import java.util

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.sources.{DataSourceRegister, InsertableRelation}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** SQL/DataFrame surface for [[SnapshotTable]] — the snapshot protocol
  * without the library API:
  *
  * {{{
  * spark.read.format("graft-snap").load(root)                  // current
  * spark.read.format("graft-snap").option("snapshot", 3).load(root)
  * df.write.format("graft-snap").mode("append").save(root)     // commit
  * df.write.format("graft-snap").mode("overwrite")             // rewrite
  *   .option("statsCol", "o_orderkey").save(root)
  * }}}
  *
  * READ: the provider resolves the manifest ONCE per load (the pinning
  * contract: `inferSchema` and `getTable` see the SAME snapshot even if
  * a commit lands between them — the resolved id/file list/schema are
  * cached on the provider instance, which Spark creates fresh per load)
  * and hands the file list to Spark's own parquet `FileTable` under the
  * snapshot's RECORDED schema — so the scan is the stock vectorized
  * parquet scan with filter/column pushdown and whole-stage codegen,
  * mixed-schema file sets read deterministically (missing → NULL), and
  * the snapshot layer contributes exactly what it should — the file
  * list — and nothing else. At 100 TB this is one manifest read of
  * metadata on the driver; no directory listing of `data/` ever
  * happens. An unknown or expired snapshot id fails at load() time. A
  * snapshot carrying merge-on-read deletes resolves instead to the
  * library's delete-applying read of the same pinned entries
  * ([[ResolveSnapshotDeletes]], installed by `GraftExtensions`).
  *
  * WRITE: the standard DSv2 V1Write bridge (the same one Spark's JDBC
  * connector uses) maps `mode("append")` to [[SnapshotTable.commit]]
  * (append) and `mode("overwrite")` to an overwrite commit — SQL and
  * DataFrame users get the atomic table-version commit, conflict
  * detection, carried stats, and the skipping index (`statsCol`
  * option) without touching the library. Writing to an EMPTY root is
  * bootstrapped from the data's own schema.
  */
class SnapshotSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft-snap"

  override def supportsExternalMetadata(): Boolean = true

  import SnapshotSource.Pinned

  // the resolve-once pin: one manifest resolution per provider instance
  // (Spark instantiates one per read/write), shared by inferSchema and
  // getTable so a commit landing between the two cannot split the
  // schema and the file list across different snapshots
  private var pinned: Option[Pinned] = None

  private def resolve(options: CaseInsensitiveStringMap): Pinned =
    synchronized {
      val root = Option(options.get("path")).getOrElse(
        throw new IllegalArgumentException(
          "graft-snap: .load(<table root>) / .save(<table root>) is required"))
      // option("wap", id) pins READS at a STAGED (write-audit-publish)
      // snapshot — the audit's SQL view of the candidate state;
      // option("ref", name) pins at a NAMED tag/branch
      // ([[SnapshotTable.resolveRef]]); all three pins are mutually
      // exclusive ways to choose the one snapshot the read sees
      val wapOpt = Option(options.get("wap"))
      val snapOpt = Option(options.get("snapshot"))
      val refOpt = Option(options.get("ref"))
      require(Seq(wapOpt, snapOpt, refOpt).count(_.isDefined) <= 1,
        "graft-snap: options 'wap', 'snapshot', and 'ref' are mutually " +
          "exclusive")
      val pinKey = snapOpt.orElse(wapOpt.map("wap:" + _))
        .orElse(refOpt.map("ref:" + _))
      pinned match {
        case Some(p) if p.root == root && p.snapOpt == pinKey => p
        case _ =>
          val spark = SparkSession.active
          val p = wapOpt match {
            case Some(w) =>
              Pinned(root, pinKey, SnapshotTable.wapBase(spark, root, w),
                SnapshotTable.wapEntries(spark, root, w),
                SnapshotTable.wapStoredSchema(spark, root, w))
            case None =>
              val id = snapOpt.map(_.toLong)
                .orElse(refOpt.map(n =>
                  SnapshotTable.resolveRef(spark, root, n).getOrElse(
                    throw new IllegalArgumentException(
                      s"graft-snap: no ref named '$n' on $root"))))
                .getOrElse(SnapshotTable.currentSnapshot(spark, root))
              if (id == 0L) Pinned(root, pinKey, 0L, Seq.empty, None)
              else Pinned(root, pinKey, id,
                SnapshotTable.entries(spark, root, id),
                SnapshotTable.storedSchema(spark, root, id))
          }
          pinned = Some(p)
          p
      }
    }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val p = resolve(options)
    p.schema.getOrElse {
      if (p.entries.isEmpty) new StructType() // empty table: a write will
      // bootstrap from the data's schema; a read fails in the scan
      else ParquetTable(s"graft-snap ${p.root}@v${p.id}",
        SparkSession.active, options, p.paths,
        userSpecifiedSchema = None, classOf[ParquetFileFormat]).schema
    }
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val options = new CaseInsensitiveStringMap(properties)
    val p = resolve(options)
    new SnapshotSourceTable(p.root, p.id, p.entries, schema, options)
  }
}

/** The resolved table: reads delegate to Spark's parquet `FileTable`
  * over the pinned file list under the pinned schema — behind a
  * [[SnapshotScanBuilder]] that first prunes that list against the
  * manifest's per-file stats using the query's own pushed filters;
  * writes go through the V1Write bridge straight to
  * [[SnapshotTable.commit]].
  */
private[sources] class SnapshotSourceTable(root: String, id: Long,
    entries: Seq[SnapshotTable.FileEntry], tableSchema: StructType,
    options: CaseInsensitiveStringMap,
    // ACCEPT_ANY_SCHEMA suits only the PATH-based provider (it admits
    // evolve-by-name appends through format("graft-snap")); a CATALOG
    // table must NOT set it — the capability disables Spark's INSERT
    // column alignment (positional SELECTs would store their own
    // column names) and marks row-level assignments unalignable, which
    // blocks the UPDATE/MERGE rewrites entirely.
    acceptAnySchema: Boolean = true)
    extends Table with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {

  /** SQL UPDATE / MERGE INTO (and group-rewrite DELETE fallback) —
    * one [[SnapshotRowLevelOperation]] per statement, pinned at this
    * table's resolved snapshot.
    */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder =
    () => new SnapshotRowLevelOperation(root, id, entries, tableSchema,
      info.command, options)

  /** SQL `DELETE FROM` — [[SnapshotTable.deleteWhere]]'s copy-on-write
    * at file granularity: stats-proven files drop from the manifest
    * alone, boundary files rewrite, the rest carry verbatim. Refuses
    * (via `canDeleteWhere` → Spark's analysis error) when a predicate
    * shape is untranslatable, instead of guessing.
    */
  override def canDeleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    SnapshotTable.canDelete(filters.toIndexedSeq)

  override def deleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    SnapshotTable.deleteWhere(SparkSession.active, root, filters.toIndexedSeq)
    ()
  }

  override def name(): String = s"graft-snap $root@v$id"

  override def schema(): StructType = tableSchema

  /** User table properties (`SET TBLPROPERTIES`), resolved at this
    * table's pinned snapshot — SHOW TBLPROPERTIES and DESCRIBE
    * EXTENDED read these; time travel sees each version's own set.
    */
  override def properties(): util.Map[String, String] = {
    val m = new util.HashMap[String, String]()
    if (id > 0L)
      SnapshotTable.tablePropsOf(SparkSession.active, root, id)
        .foreach { case (k, v) => m.put(k, v) }
    m
  }

  // the table's declared partition columns (the `partition.cols`
  // manifest prop), resolved once per loaded table — DESCRIBE/SHOW and
  // the writes below read this, Spark's scan never needs to (partition
  // pruning is the stats index's job)
  private lazy val partCols: Seq[String] =
    if (id == 0L) Seq.empty
    else SnapshotTable.partitionColsOf(SparkSession.active, root, id)

  override def partitioning()
      : Array[org.apache.spark.sql.connector.expressions.Transform] =
    partCols.map(c =>
      org.apache.spark.sql.connector.expressions.Expressions.identity(c))
      .toArray

  override def capabilities(): util.Set[TableCapability] = {
    // BATCH_WRITE routes DataFrameWriter down the V2 path; the
    // V1_BATCH_WRITE marker then lets the planner execute our
    // V1Write bridge (AppendDataExecV1 / OverwriteByExpressionExecV1)
    val caps = util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.STREAMING_WRITE,
      TableCapability.MICRO_BATCH_READ)
    if (acceptAnySchema) caps.add(TableCapability.ACCEPT_ANY_SCHEMA)
    caps
  }

  /** Does the pinned snapshot carry delete vectors or equality
    * deletes? Such a table is read through [[deleteApplyingRead]]
    * ([[ResolveSnapshotDeletes]]) instead of the scan below.
    */
  private[sources] lazy val hasDeletes: Boolean = entries.exists(_.isDelete)

  /** The library read ([[SnapshotTable.readEntries]]) of exactly the
    * pinned entries, schema and column mapping — a commit landing after
    * resolution cannot change what it sees.
    */
  private[sources] def deleteApplyingRead(s: SparkSession): DataFrame =
    SnapshotTable.readEntries(s, root, id, entries, tableSchema,
      SnapshotTable.physMapOf(s, root, id))

  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder = {
    // a zero-file snapshot with a KNOWN schema (a freshly created
    // catalog table, or an empty commit) reads as an empty relation;
    // only a schemaless empty root has nothing to scan
    require(entries.nonEmpty || tableSchema.nonEmpty,
      s"graft-snap: table at $root is empty (no committed snapshot); " +
        "write one first")
    // merge-on-read deletes subtract rows at read time; this scan hands
    // files to Spark's stock parquet reader, which cannot. Sessions
    // with GraftExtensions never get here for such a snapshot
    // ([[ResolveSnapshotDeletes]] plans the delete-applying read
    // instead); without them, refuse rather than resurrect deleted rows.
    require(!hasDeletes,
      s"graft-snap: snapshot v$id of $root carries merge-on-read " +
        "delete vectors or equality deletes; read via " +
        "SnapshotTable.read / readAt, or fold them with " +
        "SnapshotTable.rewriteDeletes first")
    new SnapshotScanBuilder(root, id, name(), entries, tableSchema, options)
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      private var overwrite = false
      override def truncate(): WriteBuilder = { overwrite = true; this }
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, overwriteFlag: Boolean): Unit = {
              // a catalog/DSv2 table's declared partitioning persists
              // across INSERT OVERWRITE / TRUNCATE: restate it, since a
              // bare overwrite commit would otherwise un-partition
              // option("partitionBy", "a,b") sets the shape on a fresh
              // root or an overwrite (the DataFrame-API spelling of
              // commit's partitionBy); an existing table's declared
              // shape wins
              val declared =
                if (partCols.nonEmpty) partCols
                else Option(options.get("partitionBy")).toSeq
                  .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
              // write-audit-publish from SQL: with graft.wap.id set in
              // the session conf, an INSERT INTO stages instead of
              // committing (invisible until CALL system.publish_wap) —
              // the same switch as Iceberg's spark.wap.id
              val wapId = data.sparkSession.conf
                .get("graft.wap.id", null: String)
              if (wapId != null && wapId.nonEmpty) {
                require(!(overwrite || overwriteFlag),
                  "graft.wap.id stages APPENDS only: an overwrite " +
                    "rewrites the base the audit would compare against; " +
                    "unset graft.wap.id to overwrite")
                SnapshotTable.commitWap(data, root, wapId,
                  statsCol = Option(options.get("statsCol")))
              } else SnapshotTable.commit(data, root,
                overwrite = overwrite || overwriteFlag,
                statsCol = Option(options.get("statsCol")),
                partitionBy = declared)
              ()
            }
          }
        // writeStream.toTable / .format("graft-snap"): each micro-batch
        // is an atomic append snapshot, exactly-once via the
        // stream.<tag>.batch floor ([[SnapshotStreamingWrite]])
        override def toStreaming: org.apache.spark.sql.connector.write
            .streaming.StreamingWrite = {
          val statsCols = Option(options.get("statsCol")).toSeq
            .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
          new SnapshotStreamingWrite(root, info.schema(), statsCols,
            Option(options.get("streamTag")).getOrElse("sql"))
        }
      }
    }
}

/** The DSv2 scan builder that makes the manifest's file-skipping index
  * TRANSPARENT: Catalyst pushes the query's data filters here
  * (`SupportsPushDownCatalystFilters` — the same hook Spark's own file
  * sources use), each pushed conjunct is tested against every manifest
  * entry's commit-time min/max ([[SnapshotTable.filterExcludes]] —
  * sound: a file is dropped only when the stats PROVE it holds no
  * matching row), and the stock vectorized parquet scan is then built
  * over only the surviving files — so a plain
  * `read.format("graft-snap").load(root).filter(...)` gets manifest-
  * level skipping with no library call, and parquet's own row-group
  * pruning, column pruning, and aggregate pushdown still run (every
  * pushdown interface forwards to the parquet builder). At 100 TB a
  * selective band over the commit's `statsCol` clustering opens a few
  * files instead of the table; an unprunable query degrades to exactly
  * the old full-list scan. The (kept, total) decision is recorded in
  * [[SnapshotSource.lastPrune]] for audits and specs.
  */
private[sources] class SnapshotScanBuilder(root: String, id: Long,
    tableName: String, entries: Seq[SnapshotTable.FileEntry],
    tableSchema: StructType, options: CaseInsensitiveStringMap,
    // GROUP mode (row-level operations): pushed filters select FILES
    // only — they are NOT applied at row level (neither forwarded to
    // parquet nor claimed as pushed), because a copy-on-write rewrite
    // must read back every row of a replaced file, matching or not.
    // keptSink reports the surviving file set to the operation so its
    // write carries exactly the complement.
    groupMode: Boolean = false,
    keptSink: Seq[SnapshotTable.FileEntry] => Unit = _ => ())
    extends ScanBuilder
    with org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
    with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {
  import org.apache.spark.sql.catalyst.expressions.Expression
  import org.apache.spark.sql.connector.expressions.aggregate.Aggregation
  import org.apache.spark.sql.connector.expressions.filter.Predicate
  import org.apache.spark.sql.connector.read.Scan
  import org.apache.spark.sql.execution.datasources.v2.FileScanBuilder

  // column mapping (rename/drop as metadata — [[SnapshotTable.physMapOf]]):
  // the parquet delegate works entirely in PHYSICAL names (what every
  // file carries, whatever its write epoch); this builder translates at
  // the boundary — schemas and pushed filters go logical→physical in,
  // readSchema comes physical→logical out. Rows are positional, so the
  // rename costs nothing at execution. Empty map (no rename ever) is
  // the identity fast path on every branch.
  private val physMap: Map[String, String] =
    if (id == 0L) Map.empty
    else SnapshotTable.physMapOf(SparkSession.active, root, id)
  private val logicalOf: Map[String, String] = physMap.map(_.swap)

  private def toPhysExpr(e: Expression): Expression =
    if (physMap.isEmpty) e
    else e.transform {
      case a: org.apache.spark.sql.catalyst.expressions.AttributeReference
          if physMap.contains(a.name) => a.withName(physMap(a.name))
    }
  private def toLogicalExpr(e: Expression): Expression =
    if (logicalOf.isEmpty) e
    else e.transform {
      case a: org.apache.spark.sql.catalyst.expressions.AttributeReference
          if logicalOf.contains(a.name) => a.withName(logicalOf(a.name))
    }

  private def parquetBuilder(paths: Seq[String]): FileScanBuilder =
    ParquetTable(tableName, SparkSession.active, options, paths,
      userSpecifiedSchema =
        Some(SnapshotTable.physSchema(tableSchema, physMap)),
      classOf[ParquetFileFormat])
      .newScanBuilder(options).asInstanceOf[FileScanBuilder]

  // Catalyst pushes filters (if any) BEFORE column pruning and build;
  // a filterless scan never sees pushFilters, so the delegate is built
  // lazily over the full pinned list in that case
  private var delegate: FileScanBuilder = null
  private def ensure(): FileScanBuilder = {
    if (delegate == null)
      delegate = parquetBuilder(entries.map(e => s"$root/${e.path}"))
    delegate
  }

  // group mode: the statically-kept set, handed to the runtime-
  // filterable group scan at build (pushFilters may never run when
  // the operation has no static condition — SQL MERGE's case)
  private var groupKept: Seq[SnapshotTable.FileEntry] = entries
  // the entries the built scan actually covers (post-prune), and
  // whether an aggregate was pushed (which changes the output schema
  // and rules out the keyed-partition report)
  private var scanEntries: Seq[SnapshotTable.FileEntry] = entries
  private var aggPushed = false
  private var filtered = false
  // a manifest-complete aggregate answer: (schema, the single row)
  private var manifestAgg: Option[(StructType,
    org.apache.spark.sql.catalyst.InternalRow)] = None
  // what was pushed/pruned, replayed when runtime join filtering
  // replans the delegate over a narrower file list
  private var pushedPhys: Seq[Expression] = Seq.empty
  private var prunedPhysSchema: Option[StructType] = None

  // IsNotNull-ONLY pushdown bookkeeping: a join on a column pushes
  // IsNotNull(key) into its scans, which would otherwise void the
  // exact manifest row count the planner (CBO join sizing) feeds on —
  // but "rows where c IS NOT NULL" IS manifest-exact: total minus the
  // column's recorded null counts. Tracked as (physical cols seen,
  // whether anything beyond IsNotNull was pushed).
  private var notNullCols: Seq[String] = Seq.empty
  private var nonNotNullPushed = false

  override def pushFilters(filters: Seq[Expression]): Seq[Expression] = {
    filtered = filtered || filters.nonEmpty
    filters.foreach {
      case org.apache.spark.sql.catalyst.expressions.IsNotNull(
          a: org.apache.spark.sql.catalyst.expressions.AttributeReference) =>
        notNullCols :+= physMap.getOrElse(a.name, a.name)
      case _ => nonNotNullPushed = true
    }
    // manifest stats and parquet files both live in PHYSICAL names
    val phys = filters.map(toPhysExpr)
    // the top-level Seq is a conjunction: ANY conjunct proving a file
    // empty excludes it
    val kept = entries.filterNot(e =>
      phys.exists(f => SnapshotTable.filterExcludes(e, f)))
    SnapshotSource.pruneLog.put(root, (kept.size, entries.size))
    keptSink(kept)
    groupKept = kept
    scanEntries = kept
    delegate = parquetBuilder(kept.map(e => s"$root/${e.path}"))
    if (groupMode) filters // file selection only: every row comes back
    else { pushedPhys = phys; delegate.pushFilters(phys).map(toLogicalExpr) }
  }

  override def pushedFilters(): Array[Predicate] =
    if (groupMode) Array.empty else ensure().pushedFilters

  override def build(): org.apache.spark.sql.connector.read.Scan = {
    manifestAgg match {
      case Some((sch, row)) =>
        // the aggregate was answered from the manifest: the scan is a
        // driver-local single row — no file is opened, no task runs
        return new org.apache.spark.sql.connector.read.LocalScan {
          override def readSchema(): StructType = sch
          override def rows(): Array[
            org.apache.spark.sql.catalyst.InternalRow] = Array(row)
        }
      case None =>
    }
    if (groupMode)
      // row-level operations: the runtime-filterable group scan (its
      // static kept set is what pushFilters pruned; SQL MERGE prunes
      // further at execution time from the source's join keys)
      return new SnapshotGroupScan(root, tableName, tableSchema, options,
        groupKept, keptSink, physMap)
    // wrap so the SAME scan serves batch (delegating to the stock
    // parquet Batch over the pruned list) and micro-batch streaming
    // (readStream.table: snapshot-id offsets, appended-files batches).
    // Statistics MUST forward too — hiding them defaults the size
    // estimate to "huge" and demotes broadcast joins to sort-merge.
    // With no row-level filters pushed, the manifest's recorded row
    // counts give the scan's EXACT cardinality — handed to the planner
    // in place of parquet's size-derived estimate.
    val manifestRows: Option[Long] =
      if (scanEntries.isEmpty || !scanEntries.forall(_.rows.isDefined)) None
      else if (!filtered) Some(scanEntries.map(_.rows.get).sum)
      else if (!nonNotNullPushed && notNullCols.distinct.size == 1 &&
          scanEntries.forall(e =>
            e.statsFor(notNullCols.head).exists(_.nulls.isDefined)))
        // IsNotNull-only pushdown on ONE column: still EXACT — total
        // minus the column's commit-time null counts (a join's pushed
        // IsNotNull(key) must not cost the planner its cardinality)
        Some(scanEntries.map(e => e.rows.get -
          e.statsFor(notNullCols.head).get.nulls.get).sum)
      else
        // row-level filters pushed: the SURVIVING files' row sum is an
        // UPPER-BOUND estimate (parquet filters further inside them) —
        // V2 Statistics are estimates, and handing CBO the post-prune
        // bound instead of nothing is what lets it chain file skipping
        // into aggregate/join sizing (overestimating only ever demotes
        // a broadcast, never fabricates one)
        Some(scanEntries.map(_.rows.get).sum)
    // the runtime-refilter replan: a fresh parquet builder over the
    // narrowed list with the SAME pushdown state as the original
    def rebuild(paths: Seq[String])
        : org.apache.spark.sql.connector.read.Scan = {
      val b = parquetBuilder(paths)
      if (pushedPhys.nonEmpty) b.pushFilters(pushedPhys)
      prunedPhysSchema.foreach(b.pruneColumns)
      b.build()
    }
    new SnapshotScanWrapper(root, ensure().build(), options,
      spjKeys(), tableSchema, manifestRows, logicalOf,
      runtimeEntries = scanEntries, physMap = physMap,
      rebuild = rebuild)
  }

  /** The storage-partitioned-join report: when the scanned file set is
    * VALUE-PURE on the table's partition columns (every file's
    * partition stats are exact min == max, zero nulls — the invariant
    * partitioned commits maintain), each file maps to its partition
    * KEY from the manifest alone, and the scan can declare
    * `KeyGroupedPartitioning` over those keys. Spark then plans a join
    * of two co-partitioned snapshot tables with ZERO exchanges (under
    * `spark.sql.sources.v2.bucketing.enabled`) — the shuffle the join
    * would otherwise pay at 100 TB simply disappears. Returns
    * (partition column names, file name → key values); None when the
    * table is unpartitioned, purity is broken, a pushed aggregate
    * changed the output schema, or a partition type is outside the
    * stats domains.
    */
  private def spjKeys()
      : Option[(Seq[String], Map[String, Seq[Any]])] = {
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String
    if (aggPushed) return None
    val spark = SparkSession.active
    val partCols =
      if (id == 0L) Seq.empty
      else SnapshotTable.partitionColsOf(spark, root, id)
    if (partCols.isEmpty) return None
    val types: Seq[DataType] = partCols.map(c =>
      tableSchema.find(_.name == c).map(_.dataType).getOrElse(NullType))
    def conv(dt: DataType, v: String): Option[Any] = dt match {
      case LongType => Some(v.toLong)
      case IntegerType => Some(v.toInt)
      case ShortType => Some(v.toShort)
      case ByteType => Some(v.toByte)
      case StringType => Some(UTF8String.fromString(v))
      case DoubleType => Some(v.toDouble)
      case FloatType => Some(v.toFloat)
      case DateType => Some(v.toInt)
      case _ => None
    }
    val mapped = scanEntries.map { e =>
      val key = partCols.zip(types).map { case (c, dt) =>
        e.statsFor(c) match {
          case Some(st) if st.mn == st.mx && st.nulls.contains(0L) =>
            conv(dt, st.mn)
          case _ => None
        }
      }
      if (key.forall(_.isDefined)) Some(e.fileName -> key.map(_.get))
      else None
    }
    if (mapped.isEmpty || mapped.exists(_.isEmpty)) None
    else Some((partCols, mapped.flatten.toMap))
  }

  override def pruneColumns(requiredSchema: StructType): Unit =
    if (manifestAgg.isEmpty) {
      val phys = SnapshotTable.physSchema(requiredSchema, physMap)
      prunedPhysSchema = Some(phys)
      ensure().pruneColumns(phys)
    }

  /** Answer an unfiltered, ungrouped COUNT(*) / COUNT(col) / MIN(col) /
    * MAX(col) aggregation from the MANIFEST alone: per-file row counts
    * sum to the table count, per-file null counts give COUNT(col), and
    * the commit-time min/max stats fold to the global extrema — one
    * small-file read on the driver, zero data files opened, zero
    * tasks. At 100 TB this turns `SELECT min(k), max(k), count(*)` on
    * a million-file table from a million footer reads into driver
    * arithmetic the manifest already paid for at commit. Declines
    * (falls back to the parquet delegate's own footer-level pushdown)
    * whenever exactness is not PROVABLE: pushed filters, group-bys,
    * a file missing row counts or the column's stats,
    * non-numeric min/max domains (string footer stats may be
    * truncated by writers — never trusted for extrema), or a type
    * outside the integer/double stats domains.
    */
  private def manifestAnswer(agg: Aggregation)
      : Option[(StructType, org.apache.spark.sql.catalyst.InternalRow)] = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.connector.expressions.NamedReference
    import org.apache.spark.sql.connector.expressions.aggregate.{Count, CountStar, Max, Min}
    import org.apache.spark.sql.types._
    if (groupMode || filtered || agg.groupByExpressions.nonEmpty) return None
    if (entries.isEmpty || entries.exists(_.rows.isEmpty)) return None
    val total = entries.map(_.rows.get).sum
    def colOf(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[String] = e match {
      case nr: NamedReference if nr.fieldNames().length == 1 =>
        Some(nr.fieldNames()(0))
      case _ => None
    }
    def typeOf(c: String): Option[DataType] =
      tableSchema.find(_.name == c).map(_.dataType)
    // None = cannot answer; Some(None) = all rows null (SQL NULL);
    // Some(Some(v)) = the extremum as the column's internal value
    def extremum(c: String, wantMin: Boolean): Option[Option[Any]] = {
      val dt = typeOf(c).getOrElse(return None)
      val dom = dt match {
        case LongType | IntegerType | DateType | TimestampType => "i"
        case DoubleType | FloatType => "d"
        case _ => return None
      }
      val sts = entries.map(e =>
        e.statsFor(physMap.getOrElse(c, c)).map(st => (st, e.rows.get)))
      if (sts.exists(_.isEmpty)) return None
      val good = sts.flatten
      if (good.exists { case (st, _) =>
        st.domain != dom || st.nulls.isEmpty }) return None
      // footer min/max cover non-null values only; a file whose rows
      // are all null contributes nothing to the extremum
      val nonNull = good.filter { case (st, rc) => st.nulls.get < rc }
      if (nonNull.isEmpty) return Some(None)
      val v: Any = dom match {
        case "i" =>
          val vs = nonNull.map { case (st, _) =>
            (if (wantMin) st.mn else st.mx).toLong }
          val x = if (wantMin) vs.min else vs.max
          dt match {
            case IntegerType | DateType => x.toInt
            case _ => x
          }
        case "d" =>
          val vs = nonNull.map { case (st, _) =>
            (if (wantMin) st.mn else st.mx).toDouble }
          val x = if (wantMin) vs.min else vs.max
          dt match { case FloatType => x.toFloat; case _ => x }
      }
      Some(Some(v))
    }
    val outs: Seq[Option[(DataType, Any)]] =
      agg.aggregateExpressions().toSeq.map {
        case _: CountStar => Some((LongType: DataType, total: Any))
        case c: Count if !c.isDistinct =>
          colOf(c.column).flatMap { col =>
            val sts = entries.map(_.statsFor(physMap.getOrElse(col, col)))
            if (sts.exists(s => s.isEmpty || s.get.nulls.isEmpty)) None
            else Some((LongType,
              total - sts.flatten.map(_.nulls.get).sum))
          }
        case m: Min => colOf(m.column).flatMap(c =>
          extremum(c, wantMin = true).map(v =>
            (typeOf(c).get, v.orNull)))
        case m: Max => colOf(m.column).flatMap(c =>
          extremum(c, wantMin = false).map(v =>
            (typeOf(c).get, v.orNull)))
        case _ => None
      }
    if (outs.exists(_.isEmpty)) return None
    val fields = outs.flatten.zipWithIndex.map { case ((dt, _), i) =>
      StructField(s"agg_$i", dt, nullable = true) }
    Some((StructType(fields), InternalRow.fromSeq(outs.flatten.map(_._2))))
  }

  override def pushAggregation(aggregation: Aggregation): Boolean = {
    manifestAnswer(aggregation) match {
      case some @ Some(_) =>
        manifestAgg = some
        aggPushed = true
        true
      case None => ensure() match {
        case a: org.apache.spark.sql.connector.read.SupportsPushDownAggregates =>
          val pushed = a.pushAggregation(aggregation)
          if (pushed) aggPushed = true // output schema is now the agg's —
          // the keyed-partition report no longer applies
          pushed
        case _ => false
      }
    }
  }

  override def supportCompletePushDown(aggregation: Aggregation): Boolean =
    manifestAnswer(aggregation).isDefined || (ensure() match {
      case a: org.apache.spark.sql.connector.read.SupportsPushDownAggregates =>
        a.supportCompletePushDown(aggregation)
      case _ => false
    })

}

/** The built snapshot scan: batch reads delegate to the stock parquet
  * Batch over the pruned file list; micro-batch streaming serves
  * `readStream.table`; statistics forward (hiding them demotes
  * broadcast joins); and a value-pure PARTITIONED snapshot reports
  * `KeyGroupedPartitioning` — each input partition carries its
  * partition key ([[KeyedFilePartition]]), derived from the manifest's
  * exact-value stats with no extra planning: the delegate's planned
  * file splits are simply regrouped by key. A join of two tables
  * partitioned on the same columns then runs with ZERO exchanges
  * (storage-partitioned join), which at 100 TB removes the single
  * largest cost of a big-big join. The tradeoff is task granularity —
  * one task per partition value (exactly bucketed-join semantics);
  * Spark's partially-clustered distribution splits skewed values when
  * enabled.
  */
private[sources] class SnapshotScanWrapper(root: String,
    delegate0: org.apache.spark.sql.connector.read.Scan,
    options: CaseInsensitiveStringMap,
    spj: Option[(Seq[String], Map[String, Seq[Any]])],
    tableSchema: StructType,
    manifestRows: Option[Long] = None,
    logicalOf: Map[String, String] = Map.empty,
    // RUNTIME join filtering: the scanned entries, the column mapping,
    // and a thunk that replans the parquet delegate over a narrower
    // file list with the SAME pushed filters and pruned columns
    runtimeEntries: Seq[SnapshotTable.FileEntry] = Seq.empty,
    physMap: Map[String, String] = Map.empty,
    rebuild: Seq[String] => org.apache.spark.sql.connector.read.Scan = null)
    extends org.apache.spark.sql.connector.read.SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning
    with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering {
  import org.apache.spark.sql.connector.read.{Batch, InputPartition}
  import org.apache.spark.sql.execution.datasources.FilePartition

  @volatile private var delegate
      : org.apache.spark.sql.connector.read.Scan = delegate0

  /** RUNTIME file skipping for plain JOIN queries — the hook Spark's
    * dynamic pruning uses on DSv2 scans (the same one the row-level
    * group scan implements): when the other side of a selective join
    * materializes its key values, Spark pushes them here as IN/EQ
    * predicates before planning this side's batch, and every file
    * whose manifest stats — min/max bands AND membership blooms
    * ([[SnapshotTable.buildBloomIndex]]) — refute all of them drops
    * from the scan. On a table not clustered by the join key the bands
    * prune nothing (every file covers everything) and the BLOOM is
    * what saves the scan. Declared only when a rebuild thunk exists
    * and the scan is not SPJ-keyed (a runtime-narrowed file set would
    * desynchronize the declared KeyGroupedPartitioning).
    */
  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    if (rebuild == null || spj.isDefined) Array.empty
    else runtimeEntries.flatMap(_.stats.map(_.col)).distinct
      .map(c => if (c.startsWith("#bloom:")) c.stripPrefix("#bloom:") else c)
      // other pseudo-stats groups (#ndv: registers) carry no runtime
      // refutation evidence — only bands and blooms prune
      .filterNot(_.startsWith("#"))
      .distinct
      .map(c => org.apache.spark.sql.connector.expressions.Expressions
        .column(logicalOf.getOrElse(c, c))).toArray

  override def filter(predicates: Array[
      org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit = {
    if (rebuild == null || spj.isDefined) return
    val v1s = predicates.flatMap(p => SnapshotTable.v2PredicateToV1(p))
    if (v1s.isEmpty) return
    val kept = runtimeEntries.filterNot(e =>
      v1s.exists(f => SnapshotTable.v1ProvesNone(e, f, physMap)))
    if (kept.size < runtimeEntries.size) {
      SnapshotSource.pruneLog.put(root, (kept.size, runtimeEntries.size))
      delegate = rebuild(kept.map(e => s"$root/${e.path}"))
    }
  }

  // the delegate prunes and reads in PHYSICAL names (column mapping);
  // Spark resolves this scan's output against the table's LOGICAL
  // schema by name, so the reported read schema translates back — rows
  // are positional and unaffected
  override def readSchema(): StructType = {
    val sch = delegate.readSchema()
    if (logicalOf.isEmpty) sch
    else StructType(sch.fields.map(f =>
      f.copy(name = logicalOf.getOrElse(f.name, f.name))))
  }
  override def description(): String = delegate.description()

  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    spj match {
      case Some((cols, byName)) =>
        new org.apache.spark.sql.connector.read.partitioning
          .KeyGroupedPartitioning(
            cols.map(c => org.apache.spark.sql.connector.expressions
              .Expressions.identity(c)
              : org.apache.spark.sql.connector.expressions.Expression)
              .toArray,
            byName.values.toSet.size)
      case None =>
        new org.apache.spark.sql.connector.read.partitioning
          .UnknownPartitioning(0)
    }

  override def toBatch: Batch = spj match {
    case None => delegate.toBatch
    case Some((_, byName)) => new Batch {
      private val db = delegate.toBatch
      override def planInputPartitions(): Array[InputPartition] = {
        // the delegate already planned (and split) the files under the
        // pushed filters and pruned columns. Each split must hold ONE
        // key's files (a declared KeyGroupedPartitioning requires every
        // partition to carry its key), but splits are NOT merged per
        // key here: Spark's BatchScanExec groups same-key splits
        // itself, and ONLY when `v2.bucketing.enabled` engages the
        // keyed report — so an ordinary scan or aggregation keeps full
        // split-level parallelism, and the one-task-per-value shape is
        // paid exactly when a storage-partitioned join buys back two
        // table-sized shuffles for it.
        val chunks = db.planInputPartitions().flatMap {
          case fp: FilePartition => fp.files
          case other => throw new IllegalStateException(
            s"snapshot SPJ: unexpected non-file input partition $other")
        }
        val spark = SparkSession.active
        val maxBytes = spark.sessionState.conf.filesMaxPartitionBytes
        chunks.groupBy(pf => byName.getOrElse(
            pf.filePath.toPath.getName,
            throw new IllegalStateException(
              s"snapshot SPJ: no partition key for ${pf.filePath}")))
          .toSeq.sortBy(_._1.map(String.valueOf).mkString(" "))
          .flatMap { case (key, files) =>
            val row = new org.apache.spark.sql.catalyst.expressions
              .GenericInternalRow(key.toArray)
            FilePartition
              .getFilePartitions(spark, files.toIndexedSeq, maxBytes)
              .map(fp => (row, fp.files))
          }
          .zipWithIndex.map { case ((row, files), i) =>
            new KeyedFilePartition(i, files, row)
          }.toArray
      }
      override def createReaderFactory()
          : org.apache.spark.sql.connector.read.PartitionReaderFactory =
        db.createReaderFactory()
    }
  }

  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics = {
    val base = delegate match {
      case s: org.apache.spark.sql.connector.read.SupportsReportStatistics =>
        s.estimateStatistics()
      case _ => new org.apache.spark.sql.connector.read.Statistics {
        override def sizeInBytes() = java.util.OptionalLong.empty()
        override def numRows() = java.util.OptionalLong.empty()
      }
    }
    // the delegate's size estimate + the manifest's EXACT row count
    // (recorded at commit; available when no row-level filter was
    // pushed) — better CBO/AQE cardinality than size/row-width math —
    // + COLUMN stats (NDV from the manifest's HLL register group,
    // [[SnapshotTable.buildNdvIndex]], and null counts): Spark's
    // transformV2Stats folds these into catalyst ColumnStat, so with
    // CBO enabled the planner estimates join/aggregate output sizes
    // from real distinct counts — the broadcast-or-not decision on a
    // dimension join made without ever scanning the fact
    val colStats = manifestColumnStats()
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes() = base.sizeInBytes()
      override def numRows() = manifestRows
        .map(java.util.OptionalLong.of)
        .getOrElse(base.numRows())
      override def columnStats() = colStats
    }
  }

  /** Manifest-derived per-column statistics for the SCANNED file set:
    * distinctCount = the slot-wise-merged HLL registers of every data
    * file (complete sets only — a file missing the group, e.g. one a
    * rewrite refreshed after the index build, withdraws that column's
    * stat rather than under-reporting); nullCount = summed footer null
    * counts. Physical names map back to the snapshot's logical names.
    */
  private def manifestColumnStats(): java.util.Map[
      org.apache.spark.sql.connector.expressions.NamedReference,
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
    import org.apache.spark.sql.connector.expressions.{Expressions => V2Ex}
    val out = new java.util.HashMap[
      org.apache.spark.sql.connector.expressions.NamedReference,
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
    if (runtimeEntries.isEmpty) return out
    val physCols = runtimeEntries.head.stats.map(_.col)
      .filter(_.startsWith("#ndv:")).map(_.stripPrefix("#ndv:"))
    physCols.foreach { pc =>
      val regs = runtimeEntries.map(_.ndvRegsFor(pc))
      if (regs.forall(_.isDefined)) {
        val ndv = graft.ops.Sketches.estimateFromRegs(
          regs.flatten.reduce(graft.ops.Sketches.mergeRegs))
        val nulls = runtimeEntries.map(_.statsFor(pc).flatMap(_.nulls))
        val nullsTotal =
          if (nulls.forall(_.isDefined)) Some(nulls.flatten.sum) else None
        out.put(V2Ex.column(logicalOf.getOrElse(pc, pc)),
          new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
            override def distinctCount() = java.util.OptionalLong.of(ndv)
            override def nullCount() = nullsTotal
              .map(java.util.OptionalLong.of)
              .getOrElse(java.util.OptionalLong.empty())
          })
      }
    }
    out
  }

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new SnapshotMicroBatchStream(root, delegate.readSchema(), options)
}

/** A parquet file partition that knows its partition KEY — what a scan
  * declaring `KeyGroupedPartitioning` must emit. Plain subclass of
  * Spark's `FilePartition` so the stock parquet reader factory accepts
  * it unchanged.
  */
private[sources] class KeyedFilePartition(idx: Int,
    fileSplits: Array[org.apache.spark.sql.execution.datasources.PartitionedFile],
    key: org.apache.spark.sql.catalyst.InternalRow)
    extends org.apache.spark.sql.execution.datasources.FilePartition(
      idx, fileSplits)
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): org.apache.spark.sql.catalyst.InternalRow = key
}

/** Micro-batch streaming READ for `spark.readStream.table("cat.db.t")`
  * — the catalog twin of the path-based `graft-snap-stream` source,
  * sharing its contract: offsets ARE snapshot ids (checkpointed, so a
  * restart resumes at the last committed id and each appended row is
  * delivered exactly once), each batch `(from, to]` plans as exactly
  * the files those append commits added
  * ([[SnapshotTable.addedFilesBetween]] — O(metadata), never a table
  * scan), and an overwrite/compaction in the tailed range refuses
  * loudly instead of re-serving rewritten history. Each batch's rows
  * come through the stock vectorized parquet reader under the scan's
  * (column-pruned) resolution-time schema; the reader factory is
  * file-list independent, so one factory serves every batch.
  */
private[sources] class SnapshotMicroBatchStream(root: String,
    readSchema: StructType, options: CaseInsensitiveStringMap)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream {
  import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory}
  import org.apache.spark.sql.connector.read.streaming.Offset

  private case class SnapOffset(id: Long) extends Offset {
    override def json: String = id.toString
  }
  private def toId(o: Offset): Long = o match {
    case SnapOffset(id) => id
    case other => other.json.trim.toLong
  }
  private def spark = SparkSession.active

  private def parquetBatch(paths: Seq[String]): Batch =
    ParquetTable(s"graft-snap-stream $root", spark, options, paths,
      // a mapped table's files carry PHYSICAL names; the stream's
      // declared schema is logical, and rows are positional
      userSpecifiedSchema = Some(SnapshotTable.physSchema(readSchema,
        SnapshotTable.physMapOf(spark, root,
          SnapshotTable.currentSnapshot(spark, root)))),
      classOf[ParquetFileFormat])
      .newScanBuilder(options).build().toBatch

  override def initialOffset(): Offset = SnapOffset(
    Option(options.get("startSnapshot")).map(_.toLong).getOrElse(0L))

  override def latestOffset(): Offset =
    SnapOffset(SnapshotTable.currentSnapshot(spark, root))

  override def deserializeOffset(json: String): Offset =
    SnapOffset(json.trim.toLong)

  override def planInputPartitions(start: Offset,
      end: Offset): Array[InputPartition] = {
    val (a, b) = (toId(start), toId(end))
    if (b <= a) Array.empty
    else {
      val files = SnapshotTable.addedFilesBetween(spark, root, a, b)
      if (files.isEmpty) Array.empty
      else parquetBatch(files.map(f => s"$root/$f")).planInputPartitions()
    }
  }

  // built over an empty file list: the parquet reader factory depends
  // only on conf + schemas, never on which files it will be handed
  override def createReaderFactory(): PartitionReaderFactory =
    parquetBatch(Seq.empty).createReaderFactory()

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** SQL reads of merge-on-read snapshots: a `DataSourceV2Relation` over
  * a snapshot whose pinned entries include delete vectors or equality
  * deletes resolves to the LIBRARY read of those entries
  * ([[SnapshotSourceTable.deleteApplyingRead]] — data scan, then the
  * broadcast anti-joins that subtract the deletes), projected onto the
  * relation's own output attributes. `format("graft-snap")`, catalog
  * `SELECT` and `VERSION AS OF` therefore read the same rows as
  * [[SnapshotTable.readAt]] at the pinned id. Snapshots without deletes
  * keep the DSv2 scan (manifest pruning, storage-partitioned joins,
  * manifest-answered aggregates). The TARGET of `DELETE` / `UPDATE` /
  * `MERGE` is left alone: a copy-on-write rewrite cannot carry the
  * deletes, so those keep refusing ([[SnapshotTable.deleteWhere]],
  * [[SnapshotRowLevelOperation]]). Injected by
  * [[graft.functions.GraftExtensions]].
  */
private[graft] case class ResolveSnapshotDeletes(session: SparkSession)
    extends org.apache.spark.sql.catalyst.rules.Rule[
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions.Alias
  import org.apache.spark.sql.catalyst.plans.logical.{DeleteFromTable, LogicalPlan, MergeIntoTable, Project, UpdateTable}
  import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case _: DeleteFromTable | _: UpdateTable => plan
    case m: MergeIntoTable => m.copy(sourceTable = apply(m.sourceTable))
    // subqueries too: a MERGE's rewrite copies its source into a
    // group-filter subquery
    case _ => plan.resolveOperatorsUpWithSubqueriesAndPruning(_ => true) {
      case r: DataSourceV2Relation if (r.table match {
            case t: SnapshotSourceTable => t.hasDeletes
            case _ => false
          }) =>
        val lib = r.table.asInstanceOf[SnapshotSourceTable]
          .deleteApplyingRead(session).queryExecution.analyzed
        Project(r.output.zip(lib.output).map { case (a, b) =>
          Alias(b, a.name)(exprId = a.exprId, qualifier = a.qualifier)
        }, lib)
    }
  }
}

object SnapshotSource {

  private[sources] final case class Pinned(root: String,
      snapOpt: Option[String], id: Long,
      entries: Seq[SnapshotTable.FileEntry],
      schema: Option[StructType]) {
    def paths: Seq[String] = entries.map(e => s"$root/${e.path}")
  }

  // the last (kept files, total files) skipping decision per table
  // root — driver-side observability for gates and specs; the scan
  // itself never reads it
  private[sources] val pruneLog =
    new scala.collection.concurrent.TrieMap[String, (Int, Int)]

  /** The most recent DSv2 file-skipping decision for `root`:
    * (files kept, files in snapshot). None before any filtered scan.
    */
  def lastPrune(root: String): Option[(Int, Int)] = pruneLog.get(root)

  /** Snapshot catalog listing — the metadata query a `VERSION AS OF`
    * user starts from: one row per live snapshot (id, file count), one
    * manifest-directory listing plus one manifest read per KEPT
    * snapshot, no data access.
    */
  def snapshots(s: SparkSession, root: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    val mdir = new Path(root, "_manifests")
    val fs = mdir.getFileSystem(s.sparkContext.hadoopConfiguration)
    val ids =
      if (!fs.exists(mdir)) Seq.empty[Long]
      else fs.listStatus(mdir).iterator.map(_.getPath.getName)
        .collect { case n if n.startsWith("v") && n.endsWith(".manifest") =>
          n.stripPrefix("v").stripSuffix(".manifest").toLong }
        .toSeq.sorted
    import s.implicits._
    ids.map(id => (id, SnapshotTable.fileList(s, root, id).size.toLong))
      .toDF("snapshot_id", "n_files")
  }
}
