package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Exactly-once Structured Streaming ingest into a [[SnapshotTable]] —
  * the transactional half of the lakehouse story the memory-sink demos
  * don't exercise: `foreachBatch` gives at-least-once delivery (a batch
  * that committed before a crash is REDELIVERED after restart from the
  * checkpoint), so the sink must make the second delivery a no-op.
  *
  * Protocol: each micro-batch commit carries its batch id as a manifest
  * property (`stream.<tag>.batch`). The writer skips any batch id at or
  * below the highest id already committed for its tag — discovered by
  * one scan of the LIVE manifests' headers at (re)start, then tracked
  * in memory, so the steady state adds zero metadata reads. The
  * manifest rename is the atomic boundary: either a batch's snapshot is
  * visible (and its redelivery is skipped) or it never happened (and
  * the redelivery commits it) — there is no third state, which is what
  * makes the sink exactly-once end-to-end given a checkpointed source.
  *
  * Scale: recovery cost is O(live manifests) small-file reads, bounded
  * by the [[SnapshotTable.expireSnapshots]] horizon; per-batch cost is
  * the batch write itself plus one manifest write. Single writer per
  * table, per the layer's contract — fan-in goes through the query, not
  * through concurrent sinks.
  *
  * Debt: a per-minute sink is the system's most prolific producer of
  * small files (one per batch per partition, forever) and, for
  * [[upsertEqWriter]], of equality deletes (one per batch). Every
  * writer runs [[SnapshotTable.settleOnDebt]] after each committed
  * batch — the cadence maintained indexes run — which folds the
  * deletes and bin-packs on manifest arithmetic alone. Its commits
  * carry the `stream.<tag>.batch` floor and cross the change feed as
  * empty steps, so redelivery skipping and CDF consumers are
  * undisturbed.
  */
object SnapshotStreamSink {

  private def propKey(tag: String) = s"stream.$tag.batch"

  /** Highest batch id any LIVE snapshot committed for `tag`; -1 when
    * none. One manifest-header scan — called once per writer lifetime.
    */
  def lastCommittedBatch(s: SparkSession, root: String, tag: String): Long = {
    val cur = SnapshotTable.currentSnapshot(s, root)
    if (cur == 0L) -1L
    else {
      // stream.* props are carried forward into EVERY later commit
      // (SnapshotTable.commitWithCarried), so the floor survives
      // compaction, merge, and expiration — the CURRENT manifest alone
      // is authoritative; scanning the rest only picks up pre-carry
      // history and skips expired ids
      (1L to cur).iterator.flatMap { id =>
        try SnapshotTable.snapshotProps(s, root, id).get(propKey(tag))
          .map(_.toLong)
        catch { case _: IllegalArgumentException => None }
      }.foldLeft(-1L)(math.max)
    }
  }

  /** A `foreachBatch` function committing each micro-batch as an APPEND
    * snapshot, idempotent in the batch id. Use one writer instance per
    * started query: `df.writeStream.foreachBatch(writer(root, tag))
    * .option("checkpointLocation", …).start()`. `statsCol` flows to
    * [[SnapshotTable.commit]] so streamed-in files join the skipping
    * index like batch-written ones.
    */
  def writer(root: String, tag: String, statsCol: Option[String] = None):
      (DataFrame, Long) => Unit = {
    // lazily discovered so the recovery scan happens on the stream's
    // first batch, against the restarted table state
    var last: Option[Long] = None
    (df: DataFrame, batchId: Long) => {
      val s = df.sparkSession
      val floor = last.getOrElse {
        val v = lastCommittedBatch(s, root, tag)
        last = Some(v)
        v
      }
      if (batchId > floor) {
        SnapshotTable.commit(df, root, statsCol = statsCol,
          props = Map(propKey(tag) -> batchId.toString))
        last = Some(batchId)
        SnapshotTable.settleOnDebt(s, root)
      }
      // else: redelivery of an already-visible batch — exactly-once skip
    }
  }

  /** A `foreachBatch` function applying each micro-batch as a
    * copy-on-write MERGE by `keyCol` — streaming CDC apply into the
    * table, exactly-once: last write per key wins across batches, the
    * batch-id floor makes a redelivered batch a no-op (re-merging it
    * would be content-idempotent anyway — same keys, same rows — but
    * the skip keeps it snapshot-idempotent too: no spurious version).
    * Each batch costs `touched files + batch` IO via the manifest
    * stats pruning, never the table — the property that makes a
    * per-minute CDC stream affordable at 100 TB. A batch against an
    * EMPTY table bootstraps with a plain commit (stats on `keyCol`,
    * so later merges prune); an empty batch advances nothing. Same
    * single-writer contract as [[writer]].
    *
    * `seqCol`: a CDC batch may carry several versions of one key; when
    * set, only the highest-`seqCol` row per key is applied and the
    * column itself is dropped before the merge (transport metadata,
    * not table data — the contract that (key, seq) is unique). When
    * None, the caller promises key-unique batches (merge would land
    * duplicate keys otherwise).
    */
  def upsertWriter(root: String, tag: String, keyCol: String,
      seqCol: Option[String] = None): (DataFrame, Long) => Unit = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, row_number}
    var last: Option[Long] = None
    (df: DataFrame, batchId: Long) => {
      val s = df.sparkSession
      val floor = last.getOrElse {
        val v = lastCommittedBatch(s, root, tag)
        last = Some(v)
        v
      }
      if (batchId > floor && !df.isEmpty) {
        val batch = seqCol match {
          case Some(sc) =>
            val w = Window.partitionBy(col(keyCol)).orderBy(col(sc).desc)
            df.withColumn("__sq", row_number().over(w))
              .filter(col("__sq") === 1).drop("__sq", sc)
          case None => df
        }
        val props = Map(propKey(tag) -> batchId.toString)
        if (SnapshotTable.currentSnapshot(s, root) == 0L)
          SnapshotTable.commit(batch, root, statsCol = Some(keyCol),
            props = props)
        else SnapshotTable.merge(batch, root, keyCol, extraProps = props)
        last = Some(batchId)
        SnapshotTable.settleOnDebt(s, root)
      }
    }
  }

  /** [[upsertWriter]]'s ZERO-READ sibling: each micro-batch lands as an
    * EQUALITY-DELETE upsert ([[SnapshotTable.upsertEq]] — a delta-sized
    * key file plus the batch's own data files, nothing of the table
    * read), under the same exactly-once `stream.<tag>.batch` floor and
    * the same within-batch last-wins collapse. The CDC-at-100 TB sink:
    * per-batch write cost is O(batch) whatever the table size (probed
    * flat ×1/×10/×100 where the merge sink pays the touched-file
    * read-back); the read-side debt folds on the shared
    * [[SnapshotTable.settleOnDebt]] cadence, so readers — SQL ones
    * included — pay at most that cadence's delete count.
    */
  def upsertEqWriter(root: String, tag: String, keyCol: String,
      seqCol: Option[String] = None): (DataFrame, Long) => Unit = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, row_number}
    var last: Option[Long] = None
    (df: DataFrame, batchId: Long) => {
      val s = df.sparkSession
      val floor = last.getOrElse {
        val v = lastCommittedBatch(s, root, tag)
        last = Some(v)
        v
      }
      if (batchId > floor && !df.isEmpty) {
        val batch = seqCol match {
          case Some(sc) =>
            val w = Window.partitionBy(col(keyCol)).orderBy(col(sc).desc)
            df.withColumn("__sq", row_number().over(w))
              .filter(col("__sq") === 1).drop("__sq", sc)
          case None => df
        }
        val props = Map(propKey(tag) -> batchId.toString)
        if (SnapshotTable.currentSnapshot(s, root) == 0L)
          SnapshotTable.commit(batch, root, statsCol = Some(keyCol),
            props = props)
        else SnapshotTable.upsertEq(batch, root, Seq(keyCol),
          extraProps = props)
        last = Some(batchId)
        SnapshotTable.settleOnDebt(s, root)
      }
    }
  }
}
