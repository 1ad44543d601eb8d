package graft

import org.apache.commons.io.FileUtils
import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.ops.{Bm25Index, Dedup, GraphOps, MlOps, PipelineOps, Sketches, Warehouse}
import graft.queries.TeraQueries
import graft.sources.{SnapshotStreamSink, SnapshotTable}
import graft.tera.{TeraGen, TeraIO, TeraSort, TeraValidate}

/** Scenario runner behind README's "Measured scale evidence" table:
  *
  * `runMain graft.Profile <scenario> [cores=N] [sf=DIR] [n=A,B,...] [only=P,...]`
  *
  *  - `cores`: the session is `local[cores]` (default: every processor);
  *  - `n`: the scenario's size axis, comma-separated (see [[scenarios]]);
  *  - `sf`: the generated-tables directory `ops` scales up from;
  *  - `only`: name prefixes; a point runs only when its name matches one.
  *
  * Each measured point prints one JSON line. Its Boolean fields are the
  * point's correctness checks and `ok` is their conjunction; `main` exits
  * non-zero when any point is not ok. Partition counts derive from the
  * input size, and no scenario sets a `graft.*` key: every point measures
  * the library defaults.
  */
object Profile {

  private[graft] final case class Params(
      cores: Int = Runtime.getRuntime.availableProcessors,
      sf: Option[String] = None,
      n: Seq[Long] = Nil,
      only: Seq[String] = Nil)

  private[graft] object Params {
    def parse(args: Seq[String]): Params = args.foldLeft(Params()) { (p, a) =>
      def list(v: String) = v.split(",").map(_.trim).toSeq
      a.split("=", 2) match {
        case Array("cores", v) => p.copy(cores = v.toInt)
        case Array("sf", v) => p.copy(sf = Some(v))
        case Array("n", v) => p.copy(n = list(v).map(_.toLong))
        case Array("only", v) => p.copy(only = list(v))
        case _ => throw new IllegalArgumentException(
          s"unknown argument '$a': expected cores=, sf=, n= or only=")
      }
    }
  }

  /** One scenario: the size axis it runs without `n=`, the static
    * session settings it needs, and its body.
    */
  private final case class Scenario(defaultN: Seq[Long],
      conf: Map[String, String], body: Run => Unit)

  private final class Run(val spark: SparkSession, val p: Params,
      val sizes: Seq[Long], scenario: String, echo: String => Unit) {
    val lines = Seq.newBuilder[String]

    def wanted(point: String): Boolean =
      p.only.isEmpty || p.only.exists(point.startsWith)

    def emit(point: String, fields: (String, Any)*): Unit = {
      val ok = fields.forall { case (_, v) => v != false }
      val all = Seq("scenario" -> scenario, "point" -> point) ++ fields :+
        ("ok" -> ok)
      val line = all.map { case (k, v) => s""""$k":${json(v)}""" }
        .mkString("{", ",", "}")
      echo(line)
      lines += line
    }
  }

  private def json(v: Any): String = v match {
    case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    case d: Double if d.isNaN || d.isInfinite => "null"
    case d: Double =>
      BigDecimal(d).setScale(4, BigDecimal.RoundingMode.HALF_UP).toString
    case other => other.toString
  }

  private def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Runs `f` and counts the Spark jobs it started, SQL's broadcast and
    * subquery threads included (they inherit the caller's local
    * properties). Listener events arrive asynchronously, so a sentinel
    * job run afterwards marks the end of the count.
    */
  private[graft] def jobsIn[T](spark: SparkSession)(f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val tag = s"profile.jobs.${System.nanoTime()}" // a fresh property key
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val end = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(tag))).foreach {
          case "end" => end.countDown()
          case _ => jobs.incrementAndGet()
        }
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty(tag, "f")
    try {
      val r = f
      sc.setLocalProperty(tag, "end")
      sc.parallelize(Seq(1), 1).count()
      require(end.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "job listener timed out")
      (r, jobs.get)
    } finally {
      sc.setLocalProperty(tag, null)
      sc.removeSparkListener(listener)
    }
  }

  /** Runs `f` on a fresh temporary directory and deletes it afterwards. */
  private def scratch[T](prefix: String)(f: String => T): T = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toFile
    try f(dir.getPath) finally FileUtils.deleteQuietly(dir)
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else xs.sorted.apply(xs.size / 2)

  private val Kryo =
    Map("spark.serializer" -> "org.apache.spark.serializer.KryoSerializer")

  /** The scenarios, one per README evidence row plus `manifest` and
    * `index_maintenance`. What `n` counts in each: records (`tera`,
    * `tera_files`), documents (`dedup`), points (`cmeans`), matrix rows
    * (`gemv`), offered rows/s (`stream`), table copies (`ops`), data
    * files (`manifest`) and churn passes (`index_maintenance`).
    */
  private val scenarios: Map[String, Scenario] = Map(
    "tera" -> Scenario(Seq(10000000L), Kryo, tera),
    "tera_files" -> Scenario(Seq(10000000L), Kryo, teraFiles),
    // Generated inputs carry byte-of-long size estimates far under the
    // text they become, so a static broadcast would ship a multi-GB
    // shingle table; AQE still broadcasts from true runtime sizes.
    "dedup" -> Scenario(Seq(1000000L), Map(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "10485760"), dedup),
    "cmeans" -> Scenario(Seq(200000L, 400000L, 800000L), Map.empty, cmeans),
    "gemv" -> Scenario(Seq(35000L), Map.empty, gemv),
    // eight state-store partitions, and the engine's own progress metrics
    "stream" -> Scenario(Seq(20000L, 200000L, 2000000L), Map(
      "spark.sql.shuffle.partitions" -> "8",
      "spark.sql.streaming.metricsEnabled" -> "true"), stream),
    "ops" -> Scenario(Seq(1L, 10L, 100L), Map.empty, ops),
    "manifest" -> Scenario(Seq(1000L, 4000L, 10000L), Map.empty, manifest),
    "index_maintenance" -> Scenario(Seq(120L), Map.empty, indexMaintenance))

  private def scenarioOf(name: String): Scenario =
    scenarios.getOrElse(name, throw new IllegalArgumentException(
      s"unknown scenario '$name'; valid: ${scenarios.keys.toSeq.sorted.mkString(", ")}"))

  /** Runs `scenario` on `spark` and returns its JSON lines, handing each
    * to `echo` as it lands.
    */
  private[graft] def run(spark: SparkSession, scenario: String, p: Params,
      echo: String => Unit = _ => ()): Seq[String] = {
    val sc = scenarioOf(scenario)
    val r = new Run(spark, p, if (p.n.isEmpty) sc.defaultN else p.n,
      scenario, echo)
    sc.body(r)
    r.lines.result()
  }

  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(throw new IllegalArgumentException(
      s"usage: graft.Profile <scenario> [cores=N] [sf=DIR] [n=A,B,...] " +
        s"[only=P,...]; scenarios: ${scenarios.keys.toSeq.sorted.mkString(", ")}"))
    val p = Params.parse(args.toSeq.tail)
    val b = SparkSession.builder().master(s"local[${p.cores}]")
      .appName(s"graft-profile-$name")
      .config("spark.sql.shuffle.partitions", p.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    scenarioOf(name).conf.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val lines = try run(spark, name, p, println) finally spark.stop()
    val failed = lines.filterNot(_.endsWith("\"ok\":true}"))
    if (failed.nonEmpty) {
      System.err.println(s"${failed.size} point(s) failed a check")
      sys.exit(1)
    }
  }

  // ---- tera: TeraGen -> TeraSort -> TeraValidate ----

  private def tera(r: Run): Unit = if (r.wanted("tera")) r.sizes.foreach { n =>
    val parts = TeraQueries.sortPartitions(r.spark, n)
    val (genSum, genS) =
      time(TeraValidate.checksum(TeraGen.records(r.spark, n, parts).rdd))
    val (res, sortS) = time(TeraValidate.validate(
      TeraSort.sortRdd(TeraGen.records(r.spark, n, parts).rdd, parts)))
    r.emit("tera", "n" -> n, "parts" -> parts, "gen_checksum_s" -> genS,
      "sort_validate_s" -> sortS,
      "hsph" -> (n * 100.0 / 1e10) / ((genS + sortS) / 3600.0),
      "checksum_match" -> (res.checksumHex == genSum), "order_ok" -> res.ok)
  }

  /** The reference's file-to-file protocol (apps/terasort/run.sh): raw
    * 100-byte records to files, read back, sort to files, validate.
    */
  private def teraFiles(r: Run): Unit =
    if (r.wanted("tera_files")) r.sizes.foreach { n =>
      val s = r.spark
      val parts = TeraQueries.sortPartitions(s, n)
      scratch("graft_tera") { base =>
        val (_, genS) =
          time(TeraIO.write(TeraGen.records(s, n, parts).rdd, s"$base/input"))
        val (genSum, sumS) =
          time(TeraValidate.checksum(TeraIO.read(s, s"$base/input")))
        val (_, sortS) = time(TeraIO.write(
          TeraSort.sortRdd(TeraIO.read(s, s"$base/input"), parts), s"$base/output"))
        val (res, valS) =
          time(TeraValidate.validate(TeraIO.read(s, s"$base/output")))
        r.emit("tera_files", "n" -> n, "parts" -> parts, "gen_files_s" -> genS,
          "checksum_in_s" -> sumS, "sort_files_s" -> sortS,
          "validate_out_s" -> valS, "checksum_match" -> (res.checksumHex == genSum),
          "order_ok" -> res.ok)
      }
    }

  // ---- dedup: planted exact and near duplicates ----

  private val Vocab: Array[String] = {
    val rnd = new java.util.SplittableRandom(0xD0C5L)
    Array.fill(1000)(
      (0 until 7).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString)
  }

  private val DocTokens = 60

  /** Seeded word salad over a 1000-word vocabulary. Ids ending in 50 copy
    * id-1 exactly; ids ending in 99 copy id-1 with one token changed.
    */
  private def docText(id: Long): String = {
    val base = id % 100 match {
      case 50 | 99 => id - 1
      case _ => id
    }
    // NOT golden-gamma: seeding consecutive ids with multiples of
    // SplittableRandom's own internal gamma makes doc i+1's draw stream a
    // shift-by-one of doc i's (seed_i + k*gamma == seed_{i+1} + (k-1)*gamma),
    // which silently turns the whole corpus into one near-dup chain
    val rnd = new java.util.SplittableRandom(base * 0xC2B2AE3D27D4EB4FL + 1L)
    val toks = Array.fill(DocTokens)(Vocab(rnd.nextInt(Vocab.length)))
    // One interior token changes 3 of ~58+3 shingles, J = 55/61 ≈ 0.90;
    // the 16x4-band LSH misses such a pair with probability
    // (1 - 0.9^4)^16 ≈ 6e-13, so found == planted holds. Two changed
    // tokens (J ≈ 0.81, ~1e-4 misses per pair) made the count flaky.
    if (id % 100 == 99) toks(DocTokens / 2) = "changedone"
    toks.mkString(" ")
  }

  /** Ids in [0, n) that end in `tail`. */
  private def planted(n: Long, tail: Int): Long =
    if (n <= tail) 0L else (n - 1 - tail) / 100 + 1

  private def dedup(r: Run): Unit = r.sizes.foreach { n =>
    import r.spark.implicits._
    // about 8 MB of text (60 tokens of 8 bytes a doc) per partition
    val parts = math.max(r.p.cores, (n * DocTokens * 8 / (8L << 20)).toInt + 1)
    r.spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
    def corpus: DataFrame = r.spark.range(0L, n, 1L, parts)
      .map(id => (id, docText(id))).toDF("doc_id", "text")
    val (exactCopies, nearCopies) = (planted(n, 50), planted(n, 99))
    if (r.wanted("exact")) {
      val (groups, sec) = time(Dedup.exactDocs(corpus).count())
      r.emit("exact", "n" -> n, "parts" -> parts, "s" -> sec,
        "groups" -> groups, "planted_ok" -> (groups == n - exactCopies))
    }
    if (r.wanted("minhash_lsh")) {
      val (pairs, sec) = time(Dedup.minhashLshDocs(corpus).count())
      r.emit("minhash_lsh", "n" -> n, "parts" -> parts, "s" -> sec,
        "pairs" -> pairs, "planted_ok" -> (pairs == exactCopies + nearCopies))
    }
  }

  // ---- paper parity: C-means (Table 3) and GEMV (Fig. 6) ----

  /** The paper's Table 3 shape: D = 100, M = 10 seeded well-separated
    * clusters, 10 forced Lloyd iterations of the engine's cmeans path
    * (MLlib KMeans, the code behind `cmeans_clusters`). The paper gives
    * no iteration count, so per-iteration seconds is the comparable unit.
    */
  private def cmeans(r: Run): Unit = if (r.wanted("cmeans")) r.sizes.foreach { n =>
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val (d, m, iters) = (100, 10, 10)
    // point i belongs to center i % m at 10*c on every coordinate and
    // jitters ±1 by a hash (rand() would re-draw on re-evaluation)
    val pts = r.spark.range(n)
      .select(col("id"), array_to_vector(expr(
        s"transform(sequence(1, $d), j -> cast(10 * (id % $m) as double) + " +
          s"(pmod(xxhash64(id, j), 2000) - 1000) / 1000.0)")).as("features"))
      .cache()
    pts.count() // the input is materialized outside the timed region
    // tol = 0 forces all iterations: these clusters converge in 2-3
    // rounds and would overstate per-iteration speed
    val (clusters, sec) = time(new KMeans().setK(m).setSeed(42L)
      .setMaxIter(iters).setTol(0.0).setFeaturesCol("features").fit(pts)
      .transform(pts).groupBy("prediction").count().count())
    pts.unpersist(blocking = false)
    r.emit("cmeans", "n" -> n, "d" -> d, "iters" -> iters, "s" -> sec,
      "per_iter_s" -> sec / iters, "clusters" -> clusters,
      "clusters_ok" -> (clusters == m))
  }

  /** y = A·x at the paper's per-node shape (n rows x 10,000 doubles) with
    * a broadcast x: the `gemv` query's plan (`vec_dot`), then the same
    * multiply over RDD-cached primitive arrays, which isolates the dot
    * kernel and memory bandwidth. Median of 3 multiplies each.
    */
  private def gemv(r: Run): Unit = r.sizes.foreach { m =>
    import graft.functions.VectorOps.vec_dot
    import r.spark.implicits._
    val (cols, reps) = (10000, 3)
    def hashed(seed: String) = s"transform(sequence(1, $cols), j -> " +
      s"cast(pmod(xxhash64($seed), 2000000) - 1000000 as double) / 1000000.0)"
    val rows = r.spark.range(m)
      .select(col("id"), expr(hashed("id, j")).as("row"))
      .repartition(r.p.cores).cache()
    rows.count() // A is materialized outside the timed region
    val x = r.spark.range(1).select(expr(hashed("j")).as("x"))
    def point(name: String)(multiply: => Any): Unit = if (r.wanted(name)) {
      val med = median((1 to reps).map(_ => time(multiply)._2))
      r.emit(name, "n" -> m, "cols" -> cols, "median_s" -> med,
        "gflops" -> 2.0 * m * cols / med / 1e9)
    }
    point("gemv") {
      rows.crossJoin(broadcast(x))
        .select(vec_dot(col("row"), col("x")).as("y"))
        .agg(sum(col("y"))).head // one row: forces every dot
    }
    val rddRows = rows.as[(Long, Array[Double])].rdd.map(_._2).cache()
    rddRows.count()
    val xArr = r.spark.sparkContext.broadcast(x.as[Array[Double]].head())
    point("gemv_rdd") {
      rddRows.map { row =>
        val xv = xArr.value
        var acc = 0.0
        var i = 0
        while (i < row.length) { acc += row(i) * xv(i); i += 1 }
        acc
      }.sum()
    }
    rddRows.unpersist(blocking = false)
    rows.unpersist(blocking = false)
  }

  // ---- stream: six state disciplines at offered rates, and sink debt ----

  private val StreamSecs = 20
  private val SinkBatches = 500
  private val SinkRowsPerBatch = 20L

  private def rateSource(s: SparkSession, rowsPerSec: Long): DataFrame =
    s.readStream.format("rate").option("rowsPerSecond", rowsPerSec)
      .option("numPartitions", 8).load()

  /** (name, output mode, offered rate -> streaming frame). */
  private def pipelines(s: SparkSession): Seq[(String, OutputMode, Long => DataFrame)] = Seq(
    // mapGroupsWithState over a bounded key space: state plateaus at 15k
    ("user_totals", OutputMode.Update, r =>
      graft.streaming.EventStreams.userTotalsStats(rateSource(s, r).select(
        (col("value") % 15000).as("user_id"),
        ((col("value") % 997) / 10.0).as("value")))),
    // a TypedImperativeAggregate as streaming aggregation: constant state
    ("hll_native", OutputMode.Complete, r =>
      rateSource(s, r)
        .select(concat(lit("src"), col("value") % 20).as("source"),
          Sketches.h48((col("value") % 50000).cast("string")).as("h"))
        .groupBy("source")
        .agg(graft.functions.HllRegsAgg.hll_regs(col("h")).as("reg"))),
    // an unbounded key space with a 20% update mix: state grows with the
    // distinct keys in flight, the documented O(keys) contract
    ("cdc_apply", OutputMode.Update, r =>
      graft.streaming.ChangelogStream.materialize(rateSource(s, r).select(
        when(col("value") % 5 < 4, col("value"))
          .otherwise(col("value") - 1000).as("key"),
        when(col("value") % 5 < 4, lit(0)).otherwise(lit(1))
          .cast("int").as("version"),
        when(col("value") % 5 < 4, lit("I")).otherwise(lit("U")).as("op"),
        lit("O").as("status"),
        ((col("value") % 100000) / 7.0).as("price"),
        lit("1-URGENT").as("priority"),
        col("timestamp").as("odate")))),
    // merging-interval session state: with every key hot the windows
    // never close, so state plateaus at the key count
    ("session_window", OutputMode.Append, r =>
      rateSource(s, r)
        .select((col("value") % 15000).as("user_id"),
          col("timestamp").as("ts"),
          ((col("value") % 997) / 10.0).as("value"))
        .withWatermark("ts", "10 seconds")
        .groupBy(col("user_id"),
          session_window(col("ts"), "5 seconds").as("sw"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("v"))),
    // per-key map state with a per-batch flatMap re-emission
    ("forget", OutputMode.Update, r =>
      graft.streaming.ForgetStream.audit(rateSource(s, r).select(
        col("value").as("event_id"),
        col("timestamp").as("ts"),
        (col("value") % 15000).as("user_id"),
        concat(lit("t"), col("value") % 8).as("event_type")))),
    // bounded per-key top-k: state never grows past keys x k
    ("topk", OutputMode.Update, r =>
      graft.streaming.EventStreams.topkStats(rateSource(s, r).select(
        concat(lit("t"), col("value") % 8).as("event_type"),
        col("value").as("event_id"),
        ((col("value") % 9973) / 100.0).as("value")),
        graft.streaming.EventStreams.TopkK)))

  private def stream(r: Run): Unit = {
    val s = r.spark
    if (r.wanted("sink_debt")) sinkDebt(r)
    for {
      (name, mode, mk) <- pipelines(s)
      if r.wanted(name)
      rate <- r.sizes
    } scratch(s"graft_stream_$name") { ckpt =>
      // noop sink: the point measures the pipeline, not a sink filling up
      val q = mk(rate).writeStream.format("noop").outputMode(mode)
        .option("checkpointLocation", ckpt).start()
      Thread.sleep(StreamSecs * 1000L)
      val progress = q.recentProgress.toSeq
      q.stop()
      // the first batches are dominated by JIT and state-store open
      val steady = progress.filter(_.numInputRows > 0).drop(3)
      val lat = steady.map(_.durationMs.get("triggerExecution").toDouble)
      r.emit(name, "offered" -> rate,
        "achieved" -> median(steady.map(_.processedRowsPerSecond)),
        "batch_ms_median" -> median(lat),
        "batch_ms_max" -> lat.maxOption.getOrElse(Double.NaN),
        "batches" -> steady.size,
        "state_rows" -> steady.lastOption.flatMap(_.stateOperators.headOption)
          .map(_.numRowsTotal).getOrElse(-1L))
    }
  }

  /** The snapshot sink writes one file per batch per partition forever;
    * its compaction cadence must keep the live file count under the debt
    * threshold with read latency flat. Drives [[SinkBatches]] commits
    * through [[SnapshotStreamSink.writer]]'s foreachBatch body (the code
    * a live query runs, minus trigger scheduling), recording every tenth,
    * then checks the exactly-once floor (a redelivered batch id commits
    * nothing) and the change feed (summed appends equal what was
    * written) both survived the compactions.
    */
  private def sinkDebt(r: Run): Unit = scratch("graft_sink") { dir =>
    val s = r.spark
    val root = s"$dir/t"
    val w = SnapshotStreamSink.writer(root, "profile", statsCol = Some("k"))
    def files(): Int = SnapshotTable.fileList(s, root,
      SnapshotTable.currentSnapshot(s, root)).size
    var maxFiles = 0
    val t0 = System.nanoTime()
    (0 until SinkBatches).foreach { b =>
      w(s.range(b * SinkRowsPerBatch, (b + 1) * SinkRowsPerBatch)
        .select(col("id").as("k")).repartition(2), b.toLong)
      maxFiles = math.max(maxFiles, files())
      if ((b + 1) % (SinkBatches / 10) == 0) {
        val (rows, readS) = time(SnapshotTable.read(s, root).count())
        r.emit("sink_debt", "batch" -> (b + 1), "files" -> files(),
          "max_files" -> maxFiles, "read_s" -> readS, "rows" -> rows,
          "elapsed_s" -> (System.nanoTime() - t0) / 1e9)
      }
    }
    val head = SnapshotTable.currentSnapshot(s, root)
    w(s.range(0, 5).select(col("id").as("k")), SinkBatches - 1L)
    val fed = SnapshotTable.changeFeed(s, root, 0L, head)
      .groupBy("_op").count().collect()
      .map(row => row.getString(0) -> row.getLong(1)).toMap
    r.emit("sink_debt", "batches" -> SinkBatches, "max_files" -> maxFiles,
      "floor_ok" -> (SnapshotTable.currentSnapshot(s, root) == head),
      "cdf_appends" -> fed.getOrElse("A", 0L),
      "cdf_ok" -> (fed.getOrElse("A", 0L) == SinkBatches * SinkRowsPerBatch))
  }

  // ---- ops: the operator families at x1 / x10 / x100 of the tables ----

  /** Times the non-sort operator families whose 100 TB claims rest on
    * plan shape over k shifted copies of the `sf` tables (SURVEY §6.1).
    * Copies keep every distribution while growing structure: copy i > 0
    * of the documents prefixes each token with `c<i>_`, so copies share
    * no shingles (plain duplication would plant k-cliques of near-dups
    * and measure the dedup output); events remap user, event and item
    * ids, so the transition graph grows to k x nodes and edges; orders
    * and embeddings remap their keys.
    */
  private def ops(r: Run): Unit = {
    val spark = r.spark
    val sfDir = r.p.sf.getOrElse(throw new IllegalArgumentException(
      "ops needs sf=<directory of the generated tables>"))
    val docsBase = Tables.documents(spark, sfDir)
    val evBase = Tables.events(spark, sfDir)
    val ordBase = Tables.orders(spark, sfDir)
    val embBase = Tables.embeddings(spark, sfDir)
    def maxOf(df: DataFrame, c: Column): Long = df.agg(max(c)).head.getLong(0)
    val docStride = maxOf(docsBase, col("doc_id")) + 1
    val userStride = maxOf(evBase, col("user_id")) + 1
    val eventStride = maxOf(evBase, col("event_id")) + 1
    val item = get_json_object(col("props"), "$.k").cast("long")
    val itemStride = maxOf(evBase, item) + 1
    val okeyStride = maxOf(ordBase, col("o_orderkey")) + 1
    val ckeyStride = maxOf(ordBase, col("o_custkey")) + 1
    val vecStride = maxOf(embBase, col("vec_id")) + 1

    def copies(k: Int, base: DataFrame)(shifted: Int => DataFrame): DataFrame =
      (0 until k).map(i => if (i == 0) base else shifted(i))
        .reduce(_ unionByName _)
    def scaledDocs(k: Int) = copies(k, docsBase)(i => docsBase.select(
      (col("doc_id") + lit(i * docStride)).as("doc_id"),
      regexp_replace(col("text"), "(\\S+)", s"c${i}_$$1").as("text"),
      col("lang"), col("source"), col("n_chars")))
    def scaledEvents(k: Int) = copies(k, evBase)(i => evBase.select(
      (col("event_id") + lit(i * eventStride)).as("event_id"),
      col("ts"),
      (col("user_id") + lit(i * userStride)).as("user_id"),
      col("event_type"), col("value"),
      when(item.isNotNull, concat(lit("{\"k\": "),
        (item + lit(i * itemStride)).cast("string"), lit("}")))
        .otherwise(col("props")).as("props")))
    // customer histories grow in count, not in length, as a real orders
    // table does
    def scaledOrders(k: Int) = copies(k, ordBase)(i => ordBase.select(
      (col("o_orderkey") + lit(i * okeyStride)).as("o_orderkey"),
      (col("o_custkey") + lit(i * ckeyStride)).as("o_custkey"),
      col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
      col("o_orderpriority")))
    def scaledEmb(k: Int) = copies(k, embBase)(i => embBase.select(
      (col("vec_id") + lit(i * vecStride)).as("vec_id"),
      col("embedding"), col("label")))

    // warm the scans and the JIT so x1 is not a first-touch cost
    docsBase.write.format("noop").mode("overwrite").save()
    evBase.write.format("noop").mode("overwrite").save()

    r.sizes.map(_.toInt).foreach { k =>
      // Shuffle partitions scale with the data, as a cluster sizes them
      // to executor memory; a fixed count measures fat-partition spill.
      // The x100 dedup_prefix sweep on local[32] read 199.6 s at 32
      // partitions, 149.0 s at 128 and 191.8 s at 256, hence the cap at
      // four per core.
      val parts = math.max(r.p.cores, math.min(4 * r.p.cores, r.p.cores * k / 4))
      spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
      def point(name: String)(df: => DataFrame): Unit = if (r.wanted(name)) {
        val (_, sec) = time(df.write.format("noop").mode("overwrite").save())
        // operators leave working sets cached; retained blocks would turn
        // into GC time charged to the next point
        spark.sharedState.cacheManager.clearCache()
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
        r.emit(name, "x" -> k, "parts" -> parts, "s" -> sec)
      }
      point("pipe_pack") {
        PipelineOps.packSequences(scaledDocs(k), PipelineOps.PackBudget)
      }
      point("graph_pagerank")(GraphOps.pagerank(scaledEvents(k)))
      point("dedup_prefix")(Dedup.prefixJaccardDocs(scaledDocs(k)))
      point("dedup_clusters") {
        Dedup.clustersFromPairs(spark, Dedup.prefixJaccardDocs(scaledDocs(k)))
      }
      // register builds only: the composed two-level groupBy vs the
      // native one-pass aggregate; token NDV grows ~k with the copies
      def hllToks = graft.ops.OpUtil.spread(scaledDocs(k))
        .select(col("source"), explode(split(col("text"), " ", -1)).as("tok"))
        .filter(length(col("tok")) > 0)
      point("hll_composed")(Sketches.hllRegisters(hllToks))
      point("hll_native") {
        hllToks.select(col("source"), Sketches.h48(col("tok")).as("h"))
          .groupBy("source")
          .agg(graft.functions.HllRegsAgg.hll_regs(col("h")).as("reg"))
      }
      // KMV: the udaf(Aggregator) path vs the oracle's row_number window
      def kmvIn = hllToks
        .select(col("source"), Sketches.h48(col("tok")).as("h")).distinct()
      point("kmv_udaf") {
        val kmv = udaf(new Sketches.KMinValues(Sketches.KmvK))
        kmvIn.groupBy("source").agg(kmv(col("h")).as("mins"))
      }
      point("kmv_window") {
        import org.apache.spark.sql.expressions.Window
        kmvIn
          .withColumn("rn", row_number().over(
            Window.partitionBy("source").orderBy("h")))
          .filter(col("rn") <= Sketches.KmvK)
          .groupBy("source").agg(sort_array(collect_list(col("h"))).as("mins"))
      }
      point("wh_scd2")(Warehouse.scd2(scaledOrders(k)))
      point("wh_cdc") {
        val base = scaledOrders(k)
        Warehouse.cdcMerge(base,
          base.filter(col("o_orderkey") % 10 <= lit(3))
            .select(col("o_orderkey"),
              when(col("o_orderkey") % 10 === lit(3), lit("D"))
                .otherwise(lit("U")).as("op"),
              (col("o_totalprice") + lit(100.0)).as("new_price")))
      }
      // bm25's candidate set stays bounded by the copy-0 query terms'
      // df, so its growth should be the linear tf/dl build, not the join
      point("text_bm25")(graft.ops.Retrieval.bm25TopK(scaledDocs(k)))
      point("ml_naive_bayes")(MlOps.naiveBayes(scaledDocs(k)))
      point("ml_auc") {
        MlOps.aucReport(MlOps.naiveBayes(scaledDocs(k)), "llr_fp", "is_en")
      }
      // each order copy shifts its prices into a disjoint band, so the
      // distinct thresholds grow ~k as a continuous feature's would
      point("ml_stump") {
        MlOps.decisionStump(scaledOrders(k).select(
          (round(col("o_totalprice") * 100).cast("long")
            + (col("o_orderkey") / lit(okeyStride)).cast("long")
              * lit(10000000L)).as("f"),
          when(col("o_orderstatus") === lit("F"), 1L).otherwise(0L).as("y")))
      }
      point("wh_snapshot") {
        Warehouse.snapshotAsOf(Warehouse.versionedLog(scaledOrders(k)), asof = 2)
      }
      point("graph_labelprop")(GraphOps.labelPropagation(scaledEvents(k)))
      point("graph_modularity")(GraphOps.modularity(scaledEvents(k)))
      point("graph_kcore")(GraphOps.kcore(scaledEvents(k)))
      point("graph_ccstar")(GraphOps.ccStar(scaledEvents(k)))
      point("graph_mst")(GraphOps.mst(scaledEvents(k)))
      point("graph_covisit")(GraphOps.covisitation(scaledEvents(k)))
      point("graph_hits")(GraphOps.hits(scaledEvents(k)))
      point("graph_temporal")(GraphOps.temporalPaths(scaledEvents(k)))
      // scaled docs keep their source labels, so the bench slice and
      // the train side both grow with k
      point("pipe_bloom_decontam")(PipelineOps.bloomDecontamOn(scaledDocs(k)))
      point("ml_pca")(graft.ops.Similarity.pcaPower(scaledEmb(k)))
      // the test fold grows with k against a k-times corpus: the
      // operator's contract is a broadcastable query fold, so this
      // measures the corpus-side scan, not a both-sides blowup
      point("ml_knn") {
        MlOps.knnClassify(scaledEmb(k), holdout = MlOps.KnnHoldout * k)
      }
    }
  }

  // ---- manifest: commit cost must track the delta, not the table ----

  /** Two axes. `files`: a table of n single-row files committed in
    * 1,000-file batches (one shard each, the streaming-ingest shape),
    * then the single-file append latency (median of 5), the head's bytes
    * against the entry text a flat manifest would rewrite per commit,
    * cold and warm entry-list reads, and the same appends with the NDV
    * index maintained. `commits`: 2n/5 single-file commits (400 and
    * 1,600 at the default sizes), then the head's size, append latency,
    * a cold list and an expire of the whole history, which must be
    * O(expired shards), not O(history).
    */
  private def manifest(r: Run): Unit = {
    val spark = r.spark
    import spark.implicits._
    def append(root: String, keys: Range): Seq[Double] = keys.map { k =>
      time(SnapshotTable.commit(Seq((k.toLong, 1L)).toDF("k", "v").coalesce(1),
        root, statsCol = Some("k")))._2
    }
    def fsOf(root: String) =
      new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    r.sizes.foreach { n =>
      if (r.wanted("files")) scratch("graft_manifest") { dir =>
        val root = s"$dir/t"
        val batch = math.min(n, 1000L)
        val (_, buildS) = time((0L until n / batch).foreach { i =>
          SnapshotTable.commit(
            spark.range(i * batch, (i + 1) * batch)
              .select(col("id").as("k"), (col("id") * 7).as("v"))
              // every partition is non-empty, so files == n
              .repartitionByRange(batch.toInt, col("k")),
            root, statsCol = Some("k"))
        })
        val fs = fsOf(root)
        // a flat manifest rewrites every live entry per commit: the
        // shards' bytes (all of them are referenced here)
        val entryBytes = fs.listStatus(new Path(s"$root/_manifests"))
          .filter(_.getPath.getName.endsWith(".shard")).map(_.getLen).sum
        val appends = append(root, 1000001 to 1000005)
        val cur = SnapshotTable.currentSnapshot(spark, root)
        val (listed, coldS) = time(SnapshotTable.fileList(spark, root, cur).size)
        val (_, warmS) = time(SnapshotTable.fileList(spark, root, cur).size)
        // with the NDV index on every commit scans its own new files
        // once: the append premium must stay flat in the table size
        val (_, ndvS) = time(SnapshotTable.buildNdvIndex(spark, root, "k"))
        val ndvAppends = append(root, 2000001 to 2000005)
        r.emit("files", "files" -> n, "build_s" -> buildS,
          "append_median_s" -> median(appends),
          "head_bytes" -> fs.getFileStatus(
            new Path(s"$root/_manifests/v$cur.manifest")).getLen,
          "flat_equiv_bytes" -> entryBytes, "list_cold_s" -> coldS,
          "list_warm_s" -> warmS, "n_listed" -> listed, "ndv_build_s" -> ndvS,
          "ndv_append_median_s" -> median(ndvAppends))
      }
      if (r.wanted("commits")) scratch("graft_manifest") { dir =>
        val root = s"$dir/t"
        val m = (n * 2 / 5).toInt
        val (_, buildS) = time(append(root, 0 until m))
        val cur = SnapshotTable.currentSnapshot(spark, root)
        val head = {
          val in = fsOf(root).open(new Path(s"$root/_manifests/v$cur.manifest"))
          try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
            .map(_.trim).filter(_.nonEmpty).toList
          finally in.close()
        }
        val appends = append(root, 9000001 to 9000005)
        val (listed, coldS) = time(SnapshotTable.fileList(spark, root,
          SnapshotTable.currentSnapshot(spark, root)).size)
        val ((expired, _), expireS) =
          time(SnapshotTable.expireSnapshots(spark, root, 1))
        r.emit("commits", "commits" -> m, "build_s" -> buildS,
          "head_lines" -> head.size,
          "refs" -> head.count(_.startsWith("#shard ")),
          "append_median_s" -> median(appends), "list_cold_s" -> coldS,
          "n_files" -> listed, "expire_s" -> expireS,
          "expired_snaps" -> expired)
      }
    }
  }

  // ---- index_maintenance: an open-ended churn stream, no file debt ----

  /** n churn passes (40 documents rewritten each) plus maintenance over a
    * 4,000-document BM25 index. Every n/6 passes records the tf/dl file
    * counts, the tf + dl snapshots the maintenance pass added (`commits`:
    * 2, plus any settle), the Spark jobs it started (`jobs`), its time
    * and a search over the maintained tables: the compaction cadence
    * must saw-tooth the file counts under the debt threshold and keep
    * search flat. Ends with the confluence
    * audit, which must find no difference (compaction is layout-only).
    */
  private def indexMaintenance(r: Run): Unit =
    if (r.wanted("index_maintenance")) r.sizes.foreach { passes =>
      val spark = r.spark
      scratch("graft_index") { dir =>
        val corpusRoot = s"$dir/corpus"
        val indexRoot = s"$dir/ix"
        SnapshotTable.commit(
          spark.range(0, 4000).select(col("id").as("doc_id"),
            concat(lit("w"), col("id") % 500, lit(" common shared "),
              lit("t"), col("id") % 37).as("text"))
            .repartitionByRange(8, col("doc_id")),
          corpusRoot, statsCol = Some("doc_id"))
        Bm25Index.buildBm25Index(spark, corpusRoot, indexRoot)
        def files(root: String): Int = SnapshotTable.fileList(spark, root,
          SnapshotTable.currentSnapshot(spark, root)).size
        def snaps(): Long = Seq(Bm25Index.tfRoot(indexRoot),
          Bm25Index.dlRoot(indexRoot))
          .map(SnapshotTable.currentSnapshot(spark, _)).sum
        val every = math.max(1L, passes / 6)
        var maxTf = 0
        (1L to passes).foreach { i =>
          val from = (i % 100) * 40L
          SnapshotTable.merge(
            spark.range(from, from + 40L).select(col("id").as("doc_id"),
              concat(lit("rev"), lit(i), lit(" pass "), col("id") % 11)
                .as("text")),
            corpusRoot, "doc_id")
          val snaps0 = snaps()
          val ((_, maintS), jobs) = jobsIn(spark)(
            time(Bm25Index.maintainBm25Index(spark, corpusRoot, indexRoot)))
          val commits = snaps() - snaps0
          maxTf = math.max(maxTf, files(Bm25Index.tfRoot(indexRoot)))
          if (i % every == 0 || i == passes) {
            val (rows, searchS) = time(
              Bm25Index.searchBm25Index(spark, corpusRoot, indexRoot).count())
            r.emit("index_maintenance", "pass" -> i,
              "tf_files" -> files(Bm25Index.tfRoot(indexRoot)),
              "dl_files" -> files(Bm25Index.dlRoot(indexRoot)),
              "commits" -> commits, "jobs" -> jobs, "maint_s" -> maintS,
              "search_s" -> searchS, "rows" -> rows)
          }
        }
        val ((_, diff), auditS) =
          time(Bm25Index.confluenceAudit(spark, corpusRoot, indexRoot))
        r.emit("index_maintenance", "passes" -> passes, "max_tf_files" -> maxTf,
          "audit_s" -> auditS, "confluence_diff" -> diff,
          "confluent" -> (diff == 0L))
      }
    }
}
