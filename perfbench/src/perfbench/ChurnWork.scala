package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources.In

import graft.ops.{Bm25Index, Retrieval}
import graft.sources.SnapshotTable

/** `index_churn`: a maintained BM25 index under write churn.
  *
  * Set-up commits a seeded `Docs`-doc corpus as a snapshot table and
  * builds the tf/dl index over it. Each pass then merges `Upserts` seeded
  * upserts (updates spread over the corpus plus fresh inserts), deletes
  * `Deletes` keys, runs one index maintenance and one top-k search.
  *
  * Every maintenance pass adds one equality-delete entry per index table,
  * and the tables fold them once there are 16 (the default). With
  * `crossFold` (the traced run) the last warm-up pass ends by ageing the
  * index: it publishes `AgedDeletes` equality deletes of keys that exist
  * nowhere (no row changes, confluence holds), which leaves the index where
  * that many earlier maintenance passes would have, so the fold lands on
  * timed pass `FoldPass`. Untraced runs time the passes between folds; the
  * ageing and the fold would add about a quarter to their run time.
  */
final class ChurnWork(spark: SparkSession, seed: Long, crossFold: Boolean)
    extends Workload {
  import ChurnWork._
  import spark.implicits._

  val nominalPassS = 6.0
  private var dir = ""
  private def corpus = s"$dir/corpus"
  private def index = s"$dir/ix"
  private def roots = Seq(corpus, Bm25Index.tfRoot(index), Bm25Index.dlRoot(index))
  private val deleted = mutable.Set.empty[Long]
  private var nextInsert = Docs
  private var churnedTextBytes = 0L
  private var ixBytesBefore = 0L
  private var snapsBefore = 0L
  private var bytesBefore = 0L
  private val ixGrowth = mutable.ArrayBuffer.empty[Long]
  private val tfFiles = mutable.ArrayBuffer.empty[Int]
  private val dlFiles = mutable.ArrayBuffer.empty[Int]

  private def snaps(): Long = roots.map(SnapshotTable.currentSnapshot(spark, _)).sum
  private def ixBytes(): Long =
    Stats.duBytes(Bm25Index.tfRoot(index)) + Stats.duBytes(Bm25Index.dlRoot(index))
  private def files(root: String): Int =
    SnapshotTable.fileList(spark, root, SnapshotTable.currentSnapshot(spark, root)).size

  def setUp(d: String): Unit = {
    dir = d
    deleted.clear()
    nextInsert = Docs
    val s = seed
    val docs = spark.range(0L, Docs, 1L, spark.sparkContext.defaultParallelism)
      .map(id => (id, docText(s, id, 0))).toDF("doc_id", "text")
    SnapshotTable.commit(docs.repartitionByRange(8, col("doc_id")), corpus,
      statsCol = Some("doc_id"))
    Bm25Index.buildBm25Index(spark, corpus, index)
  }

  /** Publishes `AgedDeletes` equality deletes on each index table, the
    * two tables side by side.
    */
  private def age(): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val t0 = System.nanoTime()
    val tables = Seq(Bm25Index.tfRoot(index), Bm25Index.dlRoot(index)).map(root => Future {
      for (k <- 1 to AgedDeletes)
        SnapshotTable.deleteByKeysEq(Seq(-k.toLong).toDF("doc_id"), root)
    })
    tables.foreach(Await.result(_, Duration.Inf))
    println(f"aging: ${(System.nanoTime() - t0) / 1e9}%.3f s")
  }

  /** This pass's upserted rows and deleted keys, drawn from the seed. */
  private def churn(i: Int): (Seq[(Long, String)], Seq[Long]) = {
    val rnd = new java.util.SplittableRandom(Mix(seed, 1000L + i))
    val updates = mutable.LinkedHashSet.empty[Long]
    while (updates.size < Upserts - Inserts) {
      val id = Retrieval.QueryDocs + rnd.nextLong(Docs - Retrieval.QueryDocs)
      if (!deleted.contains(id)) updates += id
    }
    val inserts = (0 until Inserts).map(j => nextInsert + j)
    nextInsert += Inserts
    val dels = mutable.LinkedHashSet.empty[Long]
    while (dels.size < Deletes) {
      val id = Retrieval.QueryDocs + rnd.nextLong(Docs - Retrieval.QueryDocs)
      if (!deleted.contains(id) && !updates.contains(id)) dels += id
    }
    deleted ++= dels
    ((updates.toSeq ++ inserts).map(id => (id, docText(seed, id, i))), dels.toSeq)
  }

  def pass(i: Int, calls: Calls): Unit = {
    val (rows, dels) = churn(i)
    churnedTextBytes += rows.map(_._2.length.toLong).sum
    snapsBefore = snaps()
    bytesBefore = roots.map(Stats.duBytes).sum
    ixBytesBefore = ixBytes()
    calls.run("sources.merge") {
      SnapshotTable.merge(rows.toDF("doc_id", "text"), corpus, "doc_id")
      SnapshotTable.deleteWhere(spark, corpus, Seq(In("doc_id", dels.map(x => x: Any).toArray)))
    }
    calls.run("ops.bm25_maintain")(Bm25Index.maintainBm25Index(spark, corpus, index))
    calls.run("ops.bm25_search") {
      Bm25Index.searchBm25Index(spark, corpus, index).select("query_id").as[Long].collect()
    }.foreach { q =>
      val perQuery = q.groupBy(identity).values.map(_.length)
      calls.check("search returns k rows per query",
        q.length == Retrieval.QueryDocs * Retrieval.TopK && perQuery.forall(_ == Retrieval.TopK),
        s"${q.length} rows")
    }
    if (i == 0 && crossFold) age()
  }

  override def afterPass(i: Int): Unit = {
    tfFiles += files(Bm25Index.tfRoot(index))
    dlFiles += files(Bm25Index.dlRoot(index))
    if (i > 0) {
      passCommits += snaps() - snapsBefore
      passBytesWritten += roots.map(Stats.duBytes).sum - bytesBefore
      ixGrowth += ixBytes() - ixBytesBefore
    }
  }

  override def finish(calls: Calls): Unit = {
    val diff =
      try Bm25Index.confluenceAudit(spark, corpus, index)._2
      catch { case e: Exception => println(s"confluence audit threw: $e"); -1L }
    calls.audit("index confluent with a rebuild", diff == 0L, s"diff $diff")
  }

  def named(calls: Calls): Seq[Metric] = {
    val churnWalls = calls.walls("sources.merge").zip(calls.walls("ops.bm25_maintain"))
      .map { case (a, b) => a + b }.toSeq
    Seq(
      Metric("churn_pass_p50_s", Stats.median(churnWalls), "s"),
      Metric("churn_total_s", churnWalls.sum, "s"),
      Metric("search_p50_s", calls.median("ops.bm25_search"), "s"),
      Metric("ix_write_amp", ixGrowth.sum.toDouble / churnedTextBytes, "ratio"))
  }

  override def layerExtras(calls: Calls, r: Recorder): Seq[Metric] = {
    val fold = calls.traced.collectFirst {
      case (FoldPass, "ops.bm25_maintain", span, _) => (span, r.workOf(span.id))
    }
    fold.toSeq.flatMap { case (span, w) =>
      Seq(
        Metric("ops.bm25_maintain.fold_s", (span.end - span.start) / 1000, "s"),
        Metric("ops.bm25_maintain.fold_jobs", w.jobs, "count"))
    } ++ Seq(
      Metric("sources.commits_per_pass",
        Stats.medianOr0(passCommits.map(_.toDouble).toSeq), "count"),
      Metric("sources.bytes_written_per_pass",
        Stats.medianOr0(passBytesWritten.map(_.toDouble).toSeq), "bytes"),
      Metric("sources.tf_files", tfFiles.last, "count"),
      Metric("sources.tf_files_max", tfFiles.max, "count"),
      Metric("sources.dl_files", dlFiles.last, "count"),
      Metric("sources.dl_files_max", dlFiles.max, "count"))
  }

  def cleanUp(): Unit = Stats.deleteTree(dir)
}

object ChurnWork {
  val Docs = 2000L
  val Upserts = 40
  val Inserts = 8
  val Deletes = 3
  val TokensMin = 20
  val TokensMax = 40
  val VocabSize = 5000
  /** timed pass on which the 16th delete entry triggers the fold (traced run) */
  val FoldPass = 1
  /** each warm-up pass adds one delete entry, each timed pass one */
  val AgedDeletes = 16 - Main.WarmUps - FoldPass

  /** Text of doc `id` at revision `rev` (0 = the initial corpus). */
  def docText(seed: Long, id: Long, rev: Int): String = {
    val rnd = new java.util.SplittableRandom(Mix(Mix(seed, id), rev.toLong))
    val n = TokensMin + rnd.nextInt(TokensMax - TokensMin + 1)
    Array.fill(n) {
      // mildly skewed term draw: the square folds mass onto low ids
      val u = rnd.nextDouble()
      s"t${(u * u * VocabSize).toInt}"
    }.mkString(" ")
  }
}
