package perfbench

import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM entry point (started by `perfbench/run.py`).
  *
  * One closed-loop client on `local[<cores>]`: every timed call starts
  * after the previous one returned. A run sets the workload up three times
  * (`setup_s` is the median), warms up with one untimed pass, then times a
  * fixed number of passes. The untraced run (`--trace 0`) prints the
  * end-to-end metrics; the traced run (`--trace 1`) runs as many passes,
  * attaches a SparkListener and span recorder on every other one and
  * prints the per-layer metrics, the per-call counters, and the tracing
  * overhead (traced passes against the untraced passes between them).
  *
  * Args: --workload W --seed N --seconds S --trace 0|1 --work DIR --out DIR
  */
object Main {
  val SetUps = 3
  /** untimed passes before the timed ones: JIT, codegen, file caches */
  val WarmUps = 1

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val tracing = opt("trace") == "1"
    val work = opt("work")
    val out = opt("out")
    val cores = Runtime.getRuntime.availableProcessors()

    val (spark, sessionS) = Stats.time {
      SparkSession.builder()
        .master(s"local[$cores]")
        .withExtensions(new graft.functions.GraftExtensions)
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
        .getOrCreate()
    }
    spark.sparkContext.setLogLevel("ERROR")
    try runWorkload(spark, name, seed, seconds, tracing, work, out, sessionS)
    finally spark.stop()
    sys.exit(0)
  }

  /** Fixed-work Spark query, median of three; printed beside every run's
    * metrics so a loaded host is visible. Never used to rescale anything.
    */
  def calibrate(spark: SparkSession): Double = {
    val cores = spark.sparkContext.defaultParallelism
    Stats.median((1 to 3).map { _ =>
      Stats.time(spark.range(0L, 10000000L, 1L, cores)
        .selectExpr("sum(hash(id) % 1000) AS s").collect())._2
    })
  }

  def clearCaches(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  private def workloadOf(spark: SparkSession, name: String, seed: Long,
      tracing: Boolean): Workload =
    name match {
      case "mapreduce" => new MapReduceWork(spark, seed)
      case "dedup" => new DedupWork(spark, seed)
      case "index_churn" => new ChurnWork(spark, seed, crossFold = tracing)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

  def runWorkload(spark: SparkSession, name: String, seed: Long, seconds: Double,
      tracing: Boolean, work: String, out: String, sessionS: Double): Unit = {
    val wl = workloadOf(spark, name, seed, tracing)
    val calls = new Calls(spark)
    val calibrationS = calibrate(spark)
    println(f"host.calibration_s $calibrationS%.4f s")
    println(f"session_start_s $sessionS%.3f s")

    val setUpWalls = (1 to SetUps).map { k =>
      if (k > 1) { wl.cleanUp(); clearCaches(spark) }
      Stats.time(wl.setUp(s"$work/setup-$k"))._2
    }
    println(s"setup walls: ${setUpWalls.map(x => f"$x%.3f").mkString(" ")}")
    println(f"prepare wall: ${Stats.time(wl.prepare())._2}%.3f s")

    calls.recording = false
    for (w <- 1 - WarmUps to 0) {
      println(f"warm-up pass: ${Stats.time(wl.pass(w, calls))._2}%.3f s")
      wl.afterPass(w)
      clearCaches(spark)
    }
    calls.recording = true

    val passes = math.max(3, math.round(seconds / wl.nominalPassS).toInt)
    val recorder = if (tracing) Some(new Recorder(spark.sparkContext, s"$name-$seed")) else None
    var heapMb = 0.0
    for (i <- 1 to passes) {
      val traced = tracing && i % 2 == 1
      if (traced) recorder.foreach { r => r.attach(); calls.recorder = Some(r); r.begin(s"pass $i") }
      calls.beginPass(i, traced)
      wl.pass(i, calls)
      calls.endPass()
      if (traced) recorder.foreach { r =>
        r.end()
        r.drain()
        r.detach()
        calls.recorder = None
      }
      wl.afterPass(i)
      if (i == passes) heapMb = retainedHeapMb()
      clearCaches(spark)
    }
    println(f"checks: ${Stats.time { wl.finish(calls); clearCaches(spark) }._2}%.3f s")

    val e2e = Seq(
      Metric("setup_s", Stats.median(setUpWalls), "s"),
      Metric("pass_min_s", calls.passMin(traced = false), "s"),
      Metric("retained_heap_mb", heapMb, "MB"))
    val named = wl.named(calls)
    val failedFrac = calls.failed.toDouble / math.max(1, calls.attempted)
    println(s"workload $name seed $seed passes $passes cores " +
      s"${spark.sparkContext.defaultParallelism}")
    (e2e ++ Seq(Metric("pass_p50_s", calls.passP50(traced = false), "s")) ++ named :+
      Metric("failed_frac", failedFrac, "ratio"))
      .foreach(m => println(f"metric ${m.name}%-26s ${m.value}%.6f ${m.unit}"))
    println(s"pass walls: ${calls.passes.map { case (i, w, t) =>
      f"$i:$w%.3f${if (t) "T" else ""}" }.mkString(" ")}")
    calls.walls.foreach { case (c, ws) =>
      println(f"call $c%-22s p50 ${Stats.median(ws.toSeq)}%.4f s  [${ws.map(w => f"$w%.3f").mkString(" ")}]")
    }
    calls.failures.foreach(f => println(s"FAILURE $f"))

    val reported =
      if (!tracing) e2e
      else {
        val r = recorder.get
        val layer = Layers.report(calls, r, wl, calibrationS)
        Layers.write(out, name, seed, r, layer, e2e ++ named)
        layer.perPass
      }
    wl.cleanUp()
    println(s"""{"correct":${calls.failed == 0},"attempted":${calls.attempted},""" +
      s""""failed":${calls.failed},"metrics":${Json.metrics(reported)}}""")
  }

  /** Heap in use after a full collection, in MB. In local mode the block
    * manager's memory store lives on this heap, so cached blocks a
    * workload left behind are part of the figure.
    */
  def retainedHeapMb(): Double = {
    def used(): Double = {
      System.gc()
      Thread.sleep(200) // lets the context cleaner and async unpersists finish
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    // collect until two readings in a row agree within 1 MB, at most eight
    var prev = used()
    var cur = used()
    var k = 2
    while (math.abs(cur - prev) > 1.0 && k < 8) { prev = cur; cur = used(); k += 1 }
    math.min(prev, cur)
  }
}
