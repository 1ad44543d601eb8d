package graft.sources

import org.apache.spark.sql.{DataFrame, GraftShims, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.{Offset => OffsetV1, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Structured Streaming SOURCE over a [[SnapshotTable]] — the read twin
  * of [[SnapshotStreamSink]], closing the incremental loop: one job
  * streams INTO a snapshot table exactly-once, downstream jobs TAIL its
  * appends as a stream:
  *
  * {{{
  * spark.readStream.format("graft-snap-stream").load(root)
  *   .groupBy(...).agg(...)
  *   .writeStream.option("checkpointLocation", ...).start()
  * }}}
  *
  * Offsets ARE snapshot ids: `getOffset` = the table's current snapshot
  * (one manifest-directory listing), and a micro-batch `(from, to]` is
  * exactly [[SnapshotTable.changesBetween]] — the added files of the
  * append commits in the range, O(metadata) planning, never a table
  * scan. Because offsets live in the query's checkpoint, a restarted
  * query resumes from the last committed snapshot id and each appended
  * row is delivered exactly once — the same guarantee class as Delta's
  * streaming source. `option("startSnapshot", N)` starts the tail after
  * snapshot N (default 0 = deliver the whole table's appends first).
  *
  * An overwrite/compaction in the tailed range REFUSES loudly (the
  * changesBetween contract): rewritten history cannot be streamed as if
  * it were new rows; re-baseline the consumer. Rows conform to the
  * source's resolution-time schema (columns appended by later schema
  * evolution are ignored until the consumer re-resolves; earlier files
  * read missing columns as NULL).
  *
  * `option("readChangeFeed", "true")` switches the source from
  * append-tailing to CHANGE-FEED tailing: each micro-batch is
  * [[SnapshotTable.changeFeed]] over the offset range — the full
  * row-level protocol (`A` appends, `U`/`UB` merge post-/pre-images,
  * `I` merge inserts, `D` delete frames, `XB`/`XA` SQL-DML file
  * diffs, empty steps for layout-only commits) with `_op` and
  * `_commit` columns appended to the table schema. Merges and deletes
  * that would make the append tail refuse CROSS this mode as ordinary
  * delta-priced steps, so a downstream consumer (e.g.
  * [[graft.ops.IncrementalView.maintain]] in `foreachBatch`) keeps
  * derived state exactly consistent through row-level churn — Delta's
  * streaming CDF, on this layer's manifests. Offsets, checkpointing,
  * and exactly-once delivery are identical to the append mode; only
  * uninstrumented overwrites still refuse.
  */
class SnapshotStreamSourceProvider extends StreamSourceProvider
    with DataSourceRegister {

  override def shortName(): String = "graft-snap-stream"

  private def rootOf(parameters: Map[String, String]): String =
    parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft-snap-stream: .load(<table root>) is required"))

  private def cdfOf(parameters: Map[String, String]): Boolean =
    parameters.find(_._1.equalsIgnoreCase("readChangeFeed"))
      .exists(_._2.toBoolean)

  override def sourceSchema(ctx: SQLContext, schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    val root = rootOf(parameters)
    val s = ctx.sparkSession
    val sch = schema.getOrElse {
      val cur = SnapshotTable.currentSnapshot(s, root)
      require(cur > 0L,
        s"graft-snap-stream: table at $root is empty (no committed " +
          "snapshot); commit one or pass .schema(...)")
      val base = SnapshotTable.schemaAt(s, root, cur)
      if (cdfOf(parameters))
        StructType(base.fields.toSeq ++ Seq(
          StructField("_op", StringType), StructField("_commit", LongType)))
      else base
    }
    (shortName(), sch)
  }

  override def createSource(ctx: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source = {
    val root = rootOf(parameters)
    val sch = sourceSchema(ctx, schema, providerName, parameters)._2
    val startId = parameters.find(_._1.equalsIgnoreCase("startSnapshot"))
      .map(_._2.toLong).getOrElse(0L)
    new SnapshotStreamSource(ctx.sparkSession, root, sch, startId,
      cdf = cdfOf(parameters))
  }
}

private[sources] class SnapshotStreamSource(s: SparkSession, root: String,
    sourceSchema: StructType, startId: Long,
    cdf: Boolean = false) extends Source {

  override def schema: StructType = sourceSchema

  // checkpoint recovery hands offsets back as SerializedOffset (raw
  // json); LongOffset.json is the plain number, so parse either form
  private def toId(o: OffsetV1): Long = o match {
    case l: LongOffset => l.offset
    case other => other.json.trim.toLong
  }

  override def getOffset: Option[OffsetV1] = {
    val cur = SnapshotTable.currentSnapshot(s, root)
    if (cur <= math.max(startId, 0L)) None else Some(LongOffset(cur))
  }

  override def getBatch(start: Option[OffsetV1], end: OffsetV1): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val from = start.map(toId).getOrElse(startId)
    val to = toId(end)
    val cols = sourceSchema.fieldNames.toSeq.map(col)
    val batch =
      if (from >= to) {
        val empty = SnapshotTable.readAt(s, root, to).limit(0)
        if (cdf) empty.withColumn("_op", lit(""))
          .withColumn("_commit", lit(0L))
        else empty
      }
      else if (cdf) SnapshotTable.changeFeed(s, root, from, to)
      else SnapshotTable.changesBetween(s, root, from, to)
    GraftShims.asStreaming(batch.select(cols: _*))
  }

  override def stop(): Unit = ()
}
