package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.execution.datasources.OutputWriterFactory
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** A REAL DSv2 `BatchWrite` for snapshot tables — executors write
  * parquet part files straight into the table's `_staging/<uuid>`
  * through Spark's own `ParquetFileFormat` writer factory (the exact
  * writer every Spark file sink uses, so type fidelity, compression,
  * and timestamp semantics are Spark's own), and the driver-side
  * `commit` publishes them through [[SnapshotTable.publishStaged]] —
  * the same move + footer-stats + claim-protocol manifest rename as
  * every library commit. Needed because Spark's row-level operation
  * executor (`ReplaceDataExec`) calls `Write.toBatch` directly — the
  * V1 `InsertableRelation` bridge the plain append path rides is not
  * accepted there.
  *
  * `carried` = the entry lines of the files this write does NOT
  * replace (rendered verbatim: stats and row counts survive);
  * `expectedBase` pins the snapshot the caller planned against, so a
  * concurrent commit landing between plan and publish fails the claim
  * protocol loudly instead of silently dropping its files.
  */
private[sources] class SnapshotBatchWrite(root: String,
    carried: () => Seq[String], expectedBase: Long, schema: StructType,
    statsCols: Seq[String], props: Map[String, String],
    physMap: Map[String, String] = Map.empty)
    extends Write with BatchWrite with Serializable {

  private val commitId =
    java.util.UUID.randomUUID().toString.replace("-", "")
  private val stagingDir = s"$root/_staging/$commitId"

  override def toBatch: BatchWrite = this

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory = {
    val spark = SparkSession.active
    val job = Job.getInstance(spark.sparkContext.hadoopConfiguration)
    // prepareWrite wires every parquet conf Spark's own sinks set
    // (legacy format, timestamp type, rebase modes, field ids) into
    // the job conf and returns the executor-side writer factory
    // files carry PHYSICAL names (column mapping — stable across
    // renames); the manifest schema below stays LOGICAL. Rows are
    // positional, so only the parquet field names change.
    val fileSchema = SnapshotTable.physSchema(schema, physMap)
    val owf = new ParquetFileFormat()
      .prepareWrite(spark, job, Map.empty, fileSchema)
    new SnapshotDataWriterFactory(stagingDir, fileSchema, owf,
      new SerializableConfiguration(job.getConfiguration))
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    // carried is a THUNK evaluated here, at commit: runtime group
    // filtering can shrink the scanned set after the write is built,
    // and every file the scan did not ultimately read must carry
    val committed = messages.collect {
      case SnapStagedFile(Some(n)) => n
    }.toSet
    SnapshotTable.publishStaged(spark, root, commitId,
      new Path(stagingDir), carried(), expectedBase, statsCols, props,
      schema, only = Some(committed))
    ()
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val p = new Path(stagingDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, true)
    ()
  }
}

/** A committed task attempt's staged file name (None = the attempt
  * wrote no rows). The driver moves EXACTLY the named files — a
  * crashed attempt's partial file, which never reached abort(), is
  * thereby excluded instead of duplicating rows after a task retry.
  */
private[sources] case class SnapStagedFile(name: Option[String])
    extends WriterCommitMessage

private[sources] class SnapshotDataWriterFactory(stagingDir: String,
    schema: StructType, owf: OutputWriterFactory,
    conf: SerializableConfiguration) extends DataWriterFactory {
  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] =
    new SnapshotDataWriter(stagingDir, schema, owf, conf, partitionId,
      taskId)
}

/** One task's writer: a single parquet part file under the staging
  * dir, named like Spark's own (`part-<partition>-...`) so
  * [[SnapshotTable.publishStaged]] picks it up with the same filter it
  * applies to `df.write` output. Files are created lazily — an empty
  * partition stages nothing.
  */
private[sources] class SnapshotDataWriter(stagingDir: String,
    schema: StructType, owf: OutputWriterFactory,
    conf: SerializableConfiguration, partitionId: Int, taskId: Long)
    extends DataWriter[InternalRow] {

  private var out: org.apache.spark.sql.execution.datasources.OutputWriter = _

  // Spark 4's group-based row-level rewrites (UPDATE / MERGE / DELETE
  // fallback) prepend a `__row_operation` int column to every row and
  // — when the operation declares no metadata attributes — hand those
  // rows to the plain writing task with the write schema UNCHANGED;
  // the data source is expected to skip the marker. Detected by arity
  // (schema + 1) and projected away with Spark's own row projection.
  private lazy val opColProjection =
    org.apache.spark.sql.catalyst.ProjectingInternalRow(schema,
      (1 to schema.length).toIndexedSeq)

  private val fileName =
    f"part-$partitionId%05d-$taskId-graft.parquet"

  private def ensure() = {
    if (out == null) {
      val ctx = new TaskAttemptContextImpl(conf.value,
        new TaskAttemptID(new TaskID(
          new org.apache.hadoop.mapreduce.JobID("graftsnap", 0),
          TaskType.MAP, partitionId), taskId.toInt & Int.MaxValue))
      out = owf.newInstance(s"$stagingDir/$fileName", schema, ctx)
    }
    out
  }

  override def write(record: InternalRow): Unit =
    if (record.numFields == schema.length + 1) {
      opColProjection.project(record)
      ensure().write(opColProjection)
    } else ensure().write(record)

  override def commit(): WriterCommitMessage = {
    if (out != null) out.close()
    SnapStagedFile(if (out != null) Some(fileName) else None)
  }

  // a failed attempt deletes its own partial file; the task retry
  // writes under a fresh taskId, so the two never collide
  override def abort(): Unit = if (out != null) {
    out.close()
    val p = new Path(s"$stagingDir/$fileName")
    p.getFileSystem(conf.value).delete(p, false)
    ()
  }

  override def close(): Unit = ()
}

/** Exactly-once V2 STREAMING write —
  * `df.writeStream.toTable("cat.db.t")` (and
  * `.format("graft-snap").option("path", root)`) lands every
  * micro-batch as an atomic APPEND snapshot: executors stage each
  * epoch's parquet under `_staging/<uuid>/epoch-<id>`, and the
  * driver-side `commit(epochId)` publishes it with the
  * `stream.<tag>.batch` floor property — the SAME idempotence
  * protocol as [[SnapshotStreamSink]]'s foreachBatch writer, so a
  * checkpoint-restart redelivery of an already-visible epoch is a
  * no-op (its staging is discarded), and the floor survives
  * compaction and expiration because `stream.*` props carry forward
  * into every commit. One writer per (table, tag), per the layer's
  * single-writer contract.
  */
private[sources] class SnapshotStreamingWrite(root: String,
    writeSchema: StructType, statsCols: Seq[String], tag: String)
    extends Write
    with org.apache.spark.sql.connector.write.streaming.StreamingWrite {
  import org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory

  private val writeId =
    java.util.UUID.randomUUID().toString.replace("-", "")
  private val stagingBase = s"$root/_staging/$writeId"
  // the redelivery floor, discovered once per writer lifetime on the
  // first commit (against the restarted table state), then tracked
  private var floor: Option[Long] = None

  override def toStreaming
      : org.apache.spark.sql.connector.write.streaming.StreamingWrite = this

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory = {
    val spark = SparkSession.active
    val job = Job.getInstance(spark.sparkContext.hadoopConfiguration)
    // a mapped sink table's files carry PHYSICAL names too
    val streamPhysMap = SnapshotTable.physMapOf(spark, root,
      SnapshotTable.currentSnapshot(spark, root))
    val fileSchema = SnapshotTable.physSchema(writeSchema, streamPhysMap)
    val owf = new ParquetFileFormat()
      .prepareWrite(spark, job, Map.empty, fileSchema)
    val conf = new SerializableConfiguration(job.getConfiguration)
    val (base, schema) = (stagingBase, fileSchema)
    new StreamingDataWriterFactory {
      override def createWriter(partitionId: Int, taskId: Long,
          epochId: Long): DataWriter[InternalRow] =
        new SnapshotDataWriter(s"$base/epoch-$epochId", schema, owf,
          conf, partitionId, taskId)
    }
  }

  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val epochStaging = new Path(s"$stagingBase/epoch-$epochId")
    val fs = epochStaging.getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val lo = floor.getOrElse {
      val v = SnapshotStreamSink.lastCommittedBatch(spark, root, tag)
      floor = Some(v)
      v
    }
    if (epochId <= lo) {
      // checkpoint-restart redelivery of a visible epoch: exactly-once
      // skip — the staged files are garbage, not data
      fs.delete(epochStaging, true)
    } else {
      val prev = SnapshotTable.currentSnapshot(spark, root)
      val carried =
        if (prev == 0L) Seq.empty[String]
        else SnapshotTable.headEntryLines(spark, root, prev) // O(delta)
      val baseSchema =
        if (prev == 0L) None else SnapshotTable.storedSchema(spark, root, prev)
      val schema = SnapshotTable.asNullable(baseSchema
        .map(b => SnapshotTable.mergeSchemas(b, writeSchema))
        .getOrElse(writeSchema))
      if (!fs.exists(epochStaging)) fs.mkdirs(epochStaging) // empty epoch
      val committed = messages.collect {
        case SnapStagedFile(Some(n)) => n
      }.toSet
      SnapshotTable.publishStaged(spark, root, s"$writeId-e$epochId",
        epochStaging, carried, prev, statsCols,
        Map(s"stream.$tag.batch" -> epochId.toString), schema,
        only = Some(committed))
      floor = Some(epochId)
    }
    ()
  }

  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val epochStaging = new Path(s"$stagingBase/epoch-$epochId")
    epochStaging.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(epochStaging, true)
    ()
  }
}

/** The group-mode Scan behind row-level operations, with RUNTIME group
  * filtering ([[org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering]]
  * — the hook Iceberg's copy-on-write scan uses): for SQL MERGE, whose
  * target has no static condition, Spark computes the SOURCE's join-key
  * values at execution time and pushes them here as IN/EQ predicates;
  * every file whose manifest stats prove no key present drops from the
  * scan — and therefore from the rewrite — before a single task runs.
  * `toBatch` plans over the CURRENT kept set each call (runtime
  * filtering happens between scan creation and batch planning), and the
  * write's `carried` thunk reads the final set at commit, so a
  * runtime-pruned file is carried verbatim, never lost. Pushed
  * predicates are never applied at row level (the COW contract: a
  * replaced file's every surviving row must come back).
  */
private[sources] class SnapshotGroupScan(root: String, tableName: String,
    tableSchema: StructType, options: org.apache.spark.sql.util.CaseInsensitiveStringMap,
    initialKept: Seq[SnapshotTable.FileEntry],
    keptSink: Seq[SnapshotTable.FileEntry] => Unit,
    physMap: Map[String, String] = Map.empty)
    extends org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering
    with org.apache.spark.sql.connector.read.SupportsReportStatistics {
  import org.apache.spark.sql.connector.expressions.{Expressions, Literal => V2Literal, NamedReference}
  import org.apache.spark.sql.connector.expressions.filter.{Predicate => V2Predicate}
  import org.apache.spark.sql.connector.read.Batch
  import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
  import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable

  @volatile private var kept: Seq[SnapshotTable.FileEntry] = initialKept

  override def readSchema(): StructType = tableSchema
  override def description(): String = tableName

  override def filterAttributes(): Array[NamedReference] = {
    // stats live under PHYSICAL names; Spark pushes runtime predicates
    // in the table's LOGICAL names, so report those (column mapping)
    val logicalOf = physMap.map(_.swap)
    kept.flatMap(_.stats.map(_.col)).distinct
      .map(c => Expressions.column(logicalOf.getOrElse(c, c))).toArray
  }

  /** Runtime predicates → the stats-proof evaluator. Only shapes we
    * can PROVE on (IN / = over literals, AND/OR) prune; anything else
    * keeps every file — sound by construction.
    */
  override def filter(predicates: Array[V2Predicate]): Unit = {
    val v1s = predicates.flatMap(p => SnapshotTable.v2PredicateToV1(p))
    if (v1s.nonEmpty) {
      val k2 = kept.filterNot(e =>
        v1s.exists(f => SnapshotTable.v1ProvesNone(e, f, physMap)))
      SnapshotSource.pruneLog.put(root, (k2.size, initialKept.size))
      kept = k2
      keptSink(k2)
    }
  }

  // planned over the CURRENT kept set — called after runtime filtering
  override def toBatch: Batch =
    ParquetTable(tableName, SparkSession.active, options,
      kept.map(e => s"$root/${e.path}"),
      userSpecifiedSchema =
        Some(SnapshotTable.physSchema(tableSchema, physMap)),
      classOf[ParquetFileFormat])
      .newScanBuilder(options).build().toBatch

  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics =
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes() = java.util.OptionalLong.empty()
      override def numRows() = {
        val rs = kept.flatMap(_.rows)
        if (rs.size == kept.size) java.util.OptionalLong.of(rs.sum)
        else java.util.OptionalLong.empty()
      }
    }
}

/** Copy-on-write row-level operations (SQL UPDATE / MERGE INTO, and
  * DELETE shapes the metadata path can't prove) at FILE granularity:
  *
  *   1. Spark plans the operation and pushes its condition into
  *      [[SnapshotScanBuilder]] in GROUP mode — the filters prune the
  *      manifest's file list (candidate files) but are NOT applied at
  *      row level, because the write must put back every surviving row
  *      of a replaced file, matching or not (the group contract
  *      Iceberg's copy-on-write scan follows);
  *   2. the scan records exactly which files it kept;
  *   3. [[SnapshotBatchWrite]] writes the operation's output rows and
  *      commits them with `carried` = every file the scan did NOT
  *      read, pinned at the snapshot the scan planned against — a
  *      concurrent commit in between fails the claim protocol loudly.
  *
  * At 100 TB an UPDATE or DELETE keyed into a clustered table reads
  * and rewrites only the files whose stats admit the STATIC condition;
  * everything else is a carried manifest line. SQL MERGE has no static
  * target condition, so its pruning happens at RUNTIME instead: the
  * group scan implements `SupportsRuntimeV2Filtering`
  * ([[SnapshotGroupScan]]), Spark computes the source's join-key
  * values before planning the rewrite, and the manifest stats drop
  * every file provably holding none of them — the merge rewrites the
  * touched files, like the library's stats-pruned
  * [[SnapshotTable.merge]].
  */
private[sources] class SnapshotRowLevelOperation(root: String,
    pinnedId: Long, entries: Seq[SnapshotTable.FileEntry],
    tableSchema: StructType, cmd: RowLevelOperation.Command,
    options: org.apache.spark.sql.util.CaseInsensitiveStringMap)
    extends RowLevelOperation {

  // the files the group scan kept — replaced by the write; everything
  // else is carried verbatim. Defaults to ALL files (an unconditioned
  // operation rewrites the table).
  @volatile private var scanned: Seq[SnapshotTable.FileEntry] = entries

  override def command(): RowLevelOperation.Command = cmd

  override def newScanBuilder(
      opts: org.apache.spark.sql.util.CaseInsensitiveStringMap)
      : org.apache.spark.sql.connector.read.ScanBuilder = {
    // the copy-on-write group rewrite reads replaced files through the
    // stock parquet scan, which cannot subtract merge-on-read delete
    // vectors — refuse rather than resurrect deleted rows
    require(!entries.exists(_.isDelete),
      s"$cmd on $root: snapshot v$pinnedId carries merge-on-read " +
        "delete vectors; fold them with SnapshotTable.rewriteDeletes " +
        "first")
    new SnapshotScanBuilder(root, pinnedId, s"graft-snap $root@v$pinnedId " +
      s"[${cmd.toString.toLowerCase}]", entries, tableSchema, options,
      groupMode = true, keptSink = kept => { scanned = kept })
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = {
        val statsCols = entries.flatMap(_.stats.map(_.col)).distinct
        new SnapshotBatchWrite(root,
          // shard-aware carry: untouched shards stay refs, only shards
          // the rewrite touched inline their survivors
          () => SnapshotTable.carriedHeadLines(SparkSession.active,
            root, pinnedId,
            entries.diff(scanned).map(_.path).toSet), pinnedId,
          tableSchema, statsCols, Map("rowlevel.op" -> cmd.toString),
          SnapshotTable.physMapOf(SparkSession.active, root, pinnedId))
      }
    }
}
