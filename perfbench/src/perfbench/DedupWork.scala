package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, length, lit, sum}

import graft.ops.Dedup

/** `dedup`: the near-duplicate pipeline over a seeded corpus with planted
  * copies, one exact and one near copy per 100 docs: doc ids ending in 50
  * repeat id-1 verbatim, ids ending in 99 repeat id-1 with one token
  * changed (Jaccard ≈ 0.9). Everything else is word salad over a seeded
  * 1000-word vocabulary, where an accidental pair at Jaccard ≥ 0.8 does
  * not occur, so the near-dup pairs must be exactly the planted ones.
  */
final class DedupWork(spark: SparkSession, seed: Long) extends Workload {
  import DedupWork._

  val nominalPassS = 6.5
  private var dir = ""
  private def docs: DataFrame = spark.read.parquet(s"$dir/docs")
  private val planted: Set[(Long, Long)] =
    (0L until Docs).filter(id => id % 100 == 50 || id % 100 == 99).map(id => (id - 1, id)).toSet

  def setUp(d: String): Unit = {
    dir = d
    import spark.implicits._
    val s = seed
    spark.range(0L, Docs, 1L, spark.sparkContext.defaultParallelism)
      .map(id => (id, docText(s, id)))
      .toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")))
      .write.parquet(s"$dir/docs")
  }

  def pass(i: Int, calls: Calls): Unit = {
    import spark.implicits._
    calls.run("ops.dedup_exact") {
      Dedup.exactDocs(docs)
        .agg(count(lit(1)), sum(col("n_copies")), sum(col("doc_id"))).head()
    }.foreach { r =>
      calls.check("exact groups", r.getLong(0) == Docs - Docs / 100, s"${r.getLong(0)}")
      calls.check("exact copies", r.getLong(1) == Docs, s"${r.getLong(1)}")
    }
    val prefix = calls.run("ops.dedup_prefix") {
      Dedup.prefixJaccardDocs(docs).select("doc_a", "doc_b").as[(Long, Long)].collect()
    }
    prefix.foreach(p => calls.check("prefix pairs", p.toSet == planted && p.length == planted.size,
      s"${p.length} pairs"))
    calls.run("ops.dedup_minhash") {
      Dedup.minhashLshDocs(docs).select("doc_a", "doc_b").as[(Long, Long)].collect()
    }.foreach(p => calls.check("minhash pairs", p.toSet == planted && p.length == planted.size,
      s"${p.length} pairs"))
    val pairs = prefix.getOrElse(planted.toArray).toSeq.toDF("doc_a", "doc_b")
    val labels = calls.run("ops.dedup_cc") {
      Dedup.clustersFromPairs(spark, pairs).as[(Long, Long)].collect()
    }
    labels.foreach { l =>
      val m = l.toMap
      calls.check("cc labels", l.length == 2 * planted.size &&
        planted.forall { case (a, b) => m.get(a).contains(a) && m.get(b).contains(a) },
        s"${l.length} labels")
    }
    val labelDf = labels.getOrElse(Array.empty[(Long, Long)]).toSeq.toDF("doc_id", "canonical")
    calls.run("ops.dedup_canonical") {
      Dedup.canonicalFromLabels(docs, labelDf).select("cluster", "n_docs").as[(Long, Long)].collect()
    }.foreach(c => calls.check("one canonical per planted cluster",
      c.length == planted.size && c.forall(_._2 == 2L) &&
        c.map(_._1).toSet == planted.map(_._1), s"${c.length} clusters"))
  }

  def named(calls: Calls): Seq[Metric] = {
    val wall = Calls5.map(calls.median).sum
    Seq(Metric("dedup_docs_s", Docs / wall, "docs/s"))
  }

  /** Verified pairs ÷ prefix-filter candidates, from one extra untimed
    * call: the share of the candidate join that was useful work.
    */
  override def layerExtras(calls: Calls, r: Recorder): Seq[Metric] = {
    val candidates = Dedup.prefixCandidates(docs).count()
    Main.clearCaches(spark)
    Seq(Metric("ops.dedup_prefix.precision", planted.size.toDouble / candidates, "ratio"))
  }

  def cleanUp(): Unit = Stats.deleteTree(dir)
}

object DedupWork {
  val Docs = 2000L
  val Tokens = 60
  val Calls5 = Seq("ops.dedup_exact", "ops.dedup_prefix", "ops.dedup_minhash",
    "ops.dedup_cc", "ops.dedup_canonical")

  private def vocab(seed: Long): Array[String] = Array.tabulate(1000) { i =>
    var h = Mix(seed ^ 0xD0C5, i.toLong)
    (0 until 7).map { _ => h = Mix(h); ('a' + java.lang.Long.remainderUnsigned(h, 26)).toChar }.mkString
  }
  private val vocabCache = new java.util.concurrent.ConcurrentHashMap[Long, Array[String]]()

  def docText(seed: Long, id: Long): String = {
    val v = vocabCache.computeIfAbsent(seed, s => vocab(s))
    val base = if (id % 100 == 50 || id % 100 == 99) id - 1 else id
    val rnd = new java.util.SplittableRandom(Mix(seed, base))
    val toks = Array.fill(Tokens)(v(rnd.nextInt(v.length)))
    if (id % 100 == 99) toks(Tokens / 2) = "changedone"
    toks.mkString(" ")
  }
}
