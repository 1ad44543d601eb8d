package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.SnapshotTable

/** INCREMENTAL lexical (BM25) index — the retrieval twin of
  * [[AnnIndex]]: the statistics [[Retrieval.bm25TopK]] derives from a
  * full corpus tokenize — the term-frequency table (doc_id, term, tf)
  * and the doc-length table (doc_id, dl) — live AS snapshot tables and
  * are maintained from the CORPUS table's change feed, so the index
  * never re-tokenizes the corpus:
  *
  *   - token deltas are COMBINABLE: a changed document folds as
  *     "delete my old tf/dl rows, append my new ones" (a deletion is
  *     just the first half) — both keyed on `doc_id`, both O(churn);
  *   - the tf delete is the EQUALITY-DELETE commit
  *     [[SnapshotTable.deleteByKeysEq]] — a delta-sized key file, no
  *     table read or rewrite; the read-side debt is one broadcast
  *     anti-join per scan and is folded on the
  *     [[SnapshotTable.settleOnDebt]] cadence;
  *   - corpus-level stats (n_docs, total_tokens) are rollups of the dl
  *     table — one tiny aggregate at search time, never re-derived
  *     from text.
  *
  * Maintenance is CONFLUENT: after any churn sequence the maintained
  * tf/dl tables row-for-row equal a from-scratch tokenize of the final
  * corpus — the `text_bm25_maintained` gate's DuckDB oracle recomputes
  * the whole pipeline from the raw table, and [[confluenceAudit]] pins
  * the equality in-engine. Search
  * ([[searchBm25Index]]) runs [[Retrieval.bm25Core]] — expression-for-
  * expression the gated scorer — over the maintained tables; only the
  * [[Retrieval.QueryDocs]] query documents' TEXT is read from the
  * corpus (a pruned, delta-small read), the corpus body never.
  *
  * Exactly-once: the corpus snapshot a pass folded through rides the
  * DL table's `stream.bm25maint.batch` floor — dl is the LAST table a
  * pass updates, so a crash mid-pass leaves the floor un-advanced and
  * the replay re-applies an idempotent delete+append per touched doc.
  *
  * At 100 TB: maintenance cost is O(churn tokens); the tf table is the
  * only corpus-sized artifact and it is written once at build, then
  * touched only where documents changed.
  */
object Bm25Index {

  private val FloorTag = "bm25maint"

  def tfRoot(indexRoot: String): String = s"$indexRoot/tf"
  def dlRoot(indexRoot: String): String = s"$indexRoot/dl"

  /** (doc_id, term) token stream — [[Retrieval.bm25TopK]]'s exact
    * tokenization (space split, empty tokens dropped).
    */
  private def tokensOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        explode(split(col("text"), " ", -1)).as("term"))
      .filter(length(col("term")) > 0)

  /** (doc_id, term, tf) for `docs` — the index's corpus-sized half. */
  private[ops] def tfOf(docs: DataFrame): DataFrame =
    tfFromToks(tokensOf(docs))

  private def tfFromToks(toks: DataFrame): DataFrame =
    toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))

  /** (doc_id, dl) for EVERY doc of `docs` — token-less documents
    * record dl = 0, so count(dl table) is exactly n_docs and the BM25
    * stats row never needs the corpus.
    */
  private[ops] def dlOf(docs: DataFrame): DataFrame =
    dlFromToks(docs, tokensOf(docs))

  private def dlFromToks(docs: DataFrame, toks: DataFrame): DataFrame =
    docs.select(col("doc_id"))
      .join(toks.groupBy("doc_id")
        .agg(count(lit(1)).as("toks")), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("toks"), lit(0L)).as("dl"))

  /** Build the index at the corpus table's current snapshot: one
    * tokenize pass, tf and dl committed range-clustered on `doc_id`
    * (the maintenance pruning key), the floor frozen on the dl table.
    * File counts track the corpus like [[AnnIndex.buildSq8Index]]'s so
    * a fixed churn touches a shrinking FRACTION as the corpus grows.
    * Returns the dl table's snapshot id.
    */
  def buildBm25Index(s: SparkSession, corpusRoot: String,
      indexRoot: String): Long = {
    val srcSnap = SnapshotTable.currentSnapshot(s, corpusRoot)
    val docs = SnapshotTable.readAt(s, corpusRoot, srcSnap)
      .select("doc_id", "text")
    val nDocs = SnapshotTable.rowCount(s, corpusRoot, srcSnap)
      .getOrElse(docs.count())
    // ~250k tf rows per file (tf rows ~ tokens); dl is one row per doc
    val nTfFiles = math.max(8L, nDocs / 2048L + 1L).toInt
    val nDlFiles = math.max(4L, (nDocs + 65535L) / 65536L).toInt
    // ONE tokenize pass for the whole build (r15): tf and dl each
    // derive from the token stream, and repartitionByRange ADDITIONALLY
    // re-executes its child for the range-sampling pass — uncached,
    // the corpus was tokenized four times (tf sample, tf write, dl
    // sample, dl write). The three call-scoped caches make it once:
    // the samplers and the writes all read materialized frames.
    val toks = tokensOf(docs).cache()
    val tf = tfFromToks(toks).cache()
    val dl = dlFromToks(docs, toks).cache()
    try {
      SnapshotTable.commit(
        tf.repartitionByRange(nTfFiles, col("doc_id")),
        tfRoot(indexRoot), statsCol = Some("doc_id"))
      SnapshotTable.commit(
        dl.repartitionByRange(nDlFiles, col("doc_id")),
        dlRoot(indexRoot), statsCol = Some("doc_id"),
        props = Map(s"stream.$FloorTag.batch" -> srcSnap.toString))
    } finally {
      tf.unpersist(blocking = false)
      dl.unpersist(blocking = false)
      toks.unpersist(blocking = false)
    }
  }

  /** The corpus snapshot the index has folded through (the dl table's
    * floor — dl commits LAST in a pass, so an un-advanced floor means
    * the pass replays whole, idempotently).
    */
  def maintainedThrough(s: SparkSession, indexRoot: String): Long = {
    val cur = SnapshotTable.currentSnapshot(s, dlRoot(indexRoot))
    SnapshotTable.snapshotProps(s, dlRoot(indexRoot), cur)
      .getOrElse(s"stream.$FloorTag.batch", "0").toLong
  }

  /** Fold the corpus change feed since the last maintenance into the
    * tf/dl tables: per touched doc, delete its old rows (an equality
    * delete of its key) and append its re-tokenized new ones.
    * O(churn tokens); idempotent via the floor. Returns the corpus
    * snapshot maintained through (no-op when already current).
    */
  def maintainBm25Index(s: SparkSession, corpusRoot: String,
      indexRoot: String): Long =
    maintainBm25Index(s, corpusRoot, indexRoot, cowDeletes = false)

  /** `cowDeletes` rewrites touched files instead of publishing equality
    * deletes: the SQL procedure's form (see [[applyFeed]]).
    */
  private[graft] def maintainBm25Index(s: SparkSession, corpusRoot: String,
      indexRoot: String, cowDeletes: Boolean): Long = {
    val from = maintainedThrough(s, indexRoot)
    val to = SnapshotTable.currentSnapshot(s, corpusRoot)
    if (to <= from) return from
    applyFeed(s, indexRoot,
      SnapshotTable.changeFeed(s, corpusRoot, from, to), to, cowDeletes)
  }

  /** Fold one change-feed frame — shared by batch catch-up and a
    * streaming CDF tail's `foreachBatch`, like [[AnnIndex.applyFeed]].
    */
  def applyFeed(s: SparkSession, indexRoot: String, feedFrame: DataFrame,
      throughSnapshot: Long): Long =
    applyFeed(s, indexRoot, feedFrame, throughSnapshot, cowDeletes = false)

  private[graft] def applyFeed(s: SparkSession, indexRoot: String,
      feedFrame: DataFrame, throughSnapshot: Long,
      cowDeletes: Boolean): Long = {
    val from = maintainedThrough(s, indexRoot)
    if (throughSnapshot <= from) return from
    val feed = feedFrame.localCheckpoint(eager = true) // multi-consumer
    // final disposition per doc: its LAST commit's ops win (a doc
    // replaced at v2 and deleted at v3 comes out deleted)
    val lastTouch = feed.groupBy(col("doc_id").as("_lk"))
      .agg(max(col("_commit")).as("_lc"))
    val finalOps = feed.join(lastTouch,
        col("doc_id") === col("_lk") && col("_commit") === col("_lc"))
      .select(col("doc_id"), col("text"), col("_op"))
    val changed = finalOps.filter(col("_op").isin("A", "I", "U", "XA"))
      .select("doc_id", "text")
    val touchedKeys = finalOps.select("doc_id").distinct()
    val floor = Map(s"stream.$FloorTag.batch" -> throughSnapshot.toString)
    // ONE probe answers "any touched docs?" and "any re-added text?"
    // together (the former `changed.limit(1).count()` answered only the
    // second, and the eq-delete write below refuses empty key frames)
    val probe = finalOps.agg(count(lit(1)).as("n"),
      coalesce(sum(when(col("_op").isin("A", "I", "U", "XA"), 1L)
        .otherwise(0L)), lit(0L)).as("adds")).head()
    val (anyTouched, anyChanged) =
      (probe.getLong(0) > 0L, probe.getLong(1) > 0L)
    // tf first, dl (with the floor) last — the replay-idempotence order.
    // The churn's token stream is shared by the tf and dl commits (r15:
    // one tokenize of the delta instead of two).
    //
    // r16: the delete half is an EQUALITY-DELETE commit
    // ([[SnapshotTable.deleteByKeysEq]] — a delta-sized key file,
    // ZERO table read) instead of the COW [[SnapshotTable.deleteByKeys]]
    // rewrite, which read AND rewrote every touched tf/dl file on every
    // pass — O(touched files), i.e. O(corpus slice), where the churn is
    // O(delta); the eq form won 7 of 8 alternating full-gate pairs. The
    // read-side debt (one broadcast key anti-join per scan) is
    // delta-sized and is settled on the [[settleOnDebt]] cadence below.
    // Replay stays idempotent: a replayed pass's eq-delete outranks
    // (kills) the crashed attempt's appended rows — strictly-older-
    // sequence scoping — before re-appending them. `cowDeletes` keeps
    // the rewrite for the SQL procedure, whose tables must carry no
    // delete entries; its confluence is pinned by SnapshotProcedureSpec.
    def dropKeys(root: String): Unit =
      if (cowDeletes) SnapshotTable.deleteByKeys(touchedKeys, root, "doc_id")
      else SnapshotTable.deleteByKeysEq(touchedKeys, root)
    if (anyTouched) dropKeys(tfRoot(indexRoot))
    if (anyChanged) {
      val toks = tokensOf(changed).cache()
      try {
        SnapshotTable.commit(tfFromToks(toks), tfRoot(indexRoot),
          statsCol = Some("doc_id"))
        dropKeys(dlRoot(indexRoot))
        SnapshotTable.commit(dlFromToks(changed, toks), dlRoot(indexRoot),
          statsCol = Some("doc_id"), props = floor)
      } finally toks.unpersist(blocking = false)
    } else {
      if (anyTouched) dropKeys(dlRoot(indexRoot))
      SnapshotTable.commit( // deletes only: advance the floor empty
        SnapshotTable.read(s, dlRoot(indexRoot)).limit(0),
        dlRoot(indexRoot), props = floor)
    }
    // DEBT cadence: every pass appends churn-sized tf/dl files AND one
    // delta-sized eq-delete; once either crosses its threshold, fold
    // the deletes and bin-pack (manifest rc= check only — a no-op on
    // most passes). Runs AFTER the floor advanced: a crash inside the
    // settle replays as layout-only work, and the settle commits carry
    // the floor (stream.* props ride every commit shape).
    SnapshotTable.settleOnDebt(s, tfRoot(indexRoot))
    SnapshotTable.settleOnDebt(s, dlRoot(indexRoot))
    throughSnapshot
  }

  /** (tf rows, row-for-row except-diff of maintained tf/dl vs a
    * from-scratch tokenize of the corpus' current snapshot) — the
    * in-engine confluence audit the gate pins to zero.
    */
  def confluenceAudit(s: SparkSession, corpusRoot: String,
      indexRoot: String): (Long, Long) = {
    val docs = SnapshotTable.read(s, corpusRoot).select("doc_id", "text")
    val tfM = SnapshotTable.read(s, tfRoot(indexRoot))
    val dlM = SnapshotTable.read(s, dlRoot(indexRoot))
    // ONE aggregation per table pair (r15): the former shape was four
    // exceptAll-diffs plus a separate tf count — five corpus-sized
    // shuffled actions. |A\B| + |B\A| under bag semantics is
    // Σ_key |cnt_A - cnt_B|, so a single ±1-weighted union-groupBy
    // computes the same number (and |A| rides along as Σ cnt_A) in one
    // shuffle of |A|+|B| rows. Exactly the counts exceptAll returned —
    // the gates' audit columns are bit-identical. The token frame is
    // still cached: it feeds both rebuilt sides.
    val toks = tokensOf(docs).cache()
    try {
      val (nTf, tfDiff) = OpUtil.bagDiff(tfM, tfFromToks(toks))
      val (_, dlDiff) = OpUtil.bagDiff(dlM, dlFromToks(docs, toks))
      (nTf, tfDiff + dlDiff)
    } finally toks.unpersist(blocking = false)
  }

  /** BM25 top-`k` off the MAINTAINED tables: [[Retrieval.bm25Core]]
    * over tf/dl reads, the stats row as one dl rollup, query terms
    * from the live corpus' [[Retrieval.QueryDocs]] documents (pruned
    * read — the corpus body is never scanned).
    */
  def searchBm25Index(s: SparkSession, corpusRoot: String,
      indexRoot: String, k: Int = Retrieval.TopK): DataFrame = {
    val tf = SnapshotTable.read(s, tfRoot(indexRoot))
    val dl = SnapshotTable.read(s, dlRoot(indexRoot))
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      sum(col("dl")).as("total_tokens"))
    val qdocs = SnapshotTable.readWhere(s, corpusRoot,
      SnapshotTable.currentSnapshot(s, corpusRoot),
      "doc_id", 0L, (Retrieval.QueryDocs - 1).toLong)
    Retrieval.bm25Core(tf, dl, stats, Retrieval.queryTermsOf(qdocs), k)
  }

  /** The `text_bm25_maintained` gate: documents corpus as a snapshot
    * table → tf/dl index → churn (merge rewriting the `%10==3` docs'
    * text and inserting shifted copies of `%10==7`, then a COW delete
    * of the (100, 200] id band) → ONE maintenance pass → search. The
    * DuckDB oracle reconstructs the final corpus in SQL and replays
    * the full BM25 pipeline over it, so the hash gate holds iff the
    * maintained statistics equal a from-scratch rebuild; the audit
    * columns pin the same equality in-engine.
    */
  def bm25Maintained(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.sources.{GreaterThan, LessThanOrEqual}
    val b = java.nio.file.Files
      .createTempDirectory("graft_bm25maint").toString
    val corpusRoot = s"$b/corpus"
    val indexRoot = s"$b/bm25"
    val docs = graft.Tables.documents(s, dir).select("doc_id", "text")
    SnapshotTable.commit(docs.repartitionByRange(8, col("doc_id")),
      corpusRoot, statsCol = Some("doc_id"))
    buildBm25Index(s, corpusRoot, indexRoot)
    val mods = docs.filter(col("doc_id") % 10 === 3)
      .withColumn("text", concat(col("text"), lit(" zzupdatedtoken")))
    val ins = docs.filter(col("doc_id") % 10 === 7)
      .select((col("doc_id") + 10000000L).as("doc_id"), col("text"))
    SnapshotTable.merge(mods.unionByName(ins), corpusRoot, "doc_id")
    SnapshotTable.deleteWhere(s, corpusRoot,
      Seq(GreaterThan("doc_id", 100L), LessThanOrEqual("doc_id", 200L)))
    maintainBm25Index(s, corpusRoot, indexRoot)
    val (nTf, diff) = confluenceAudit(s, corpusRoot, indexRoot)
    searchBm25Index(s, corpusRoot, indexRoot)
      .withColumn("index_matches_rebuild",
        lit(if (diff == 0L) 1L else 0L))
      .withColumn("n_tf_rows", lit(nTf))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_bm25_maintained" -> (bm25Maintained _))

  /** Oracle: the final corpus reconstructed in SQL (update + insert +
    * band delete — `extraUnion` adds the streaming gate's extra append
    * — matching the gates' churn recipes), then
    * [[Retrieval.bm25Oracle]]'s pipeline over it, plus the audit
    * constants (tf row count recomputed; confluence flag 1).
    */
  private def maintainedOracle(extraUnion: String): String =
      s"""WITH fdocs AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 10 = 3 THEN text || ' zzupdatedtoken'
         |         ELSE text END AS text
         |  FROM documents
         |  WHERE NOT (doc_id > 100 AND doc_id <= 200)
         |  UNION ALL
         |  SELECT doc_id + 10000000 AS doc_id, text
         |  FROM documents WHERE doc_id % 10 = 7$extraUnion),
         |tk AS (
         |  SELECT doc_id, term FROM (
         |    SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |    FROM fdocs)
         |  WHERE length(term) > 0),
         |tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf
         |  FROM tk GROUP BY 1, 2),
         |dl AS (SELECT doc_id, count(*)::BIGINT AS dl FROM tk GROUP BY 1),
         |st AS (SELECT (SELECT count(*) FROM fdocs)::BIGINT AS n_docs,
         |              (SELECT count(*) FROM tk)::BIGINT AS total_tokens),
         |q AS (
         |  SELECT DISTINCT query_id, term FROM (
         |    SELECT doc_id AS query_id,
         |      unnest(string_split(text, ' ')[1:${Retrieval.QueryTerms}])
         |        AS term
         |    FROM fdocs WHERE doc_id < ${Retrieval.QueryDocs})
         |  WHERE length(term) > 0),
         |df AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
         |cand AS (
         |  SELECT q.query_id, tf.doc_id, tf.tf, df.df, dl.dl
         |  FROM q JOIN tf USING (term) JOIN df USING (term)
         |  JOIN dl ON dl.doc_id = tf.doc_id),
         |sc AS (
         |  SELECT query_id, doc_id, count(*)::BIGINT AS n_terms,
         |    sum(round(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
         |      * (tf * 2.2)
         |      / (tf + 1.2 * (0.25 + 0.75
         |        * (dl / (total_tokens::DOUBLE / n_docs))))
         |      * 10000)::BIGINT)::BIGINT AS score_fp
         |  FROM cand CROSS JOIN st GROUP BY 1, 2),
         |r AS (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY score_fp DESC, doc_id) AS rank FROM sc)
         |SELECT query_id, doc_id, n_terms, score_fp, rank,
         |  1::BIGINT AS index_matches_rebuild,
         |  (SELECT count(*) FROM tf)::BIGINT AS n_tf_rows
         |FROM r WHERE rank <= ${Retrieval.TopK}""".stripMargin

  val oracles: Map[String, String] = Map(
    "text_bm25_maintained" -> maintainedOracle(""),
    "stream_bm25_maintain" -> maintainedOracle(
      s"""
         |  UNION ALL
         |  SELECT doc_id + 20000000 AS doc_id, text
         |  FROM documents WHERE doc_id % 10 = 1""".stripMargin))
}
