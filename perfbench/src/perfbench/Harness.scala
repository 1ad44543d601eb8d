package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** A named measurement as printed: value plus unit. */
final case class Metric(name: String, value: Double, unit: String)

/** One benchmark workload. The harness calls `setUp` several times (each on
  * a fresh directory, the last one is kept), then `prepare`, then `pass`
  * for the warm-up passes (i <= 0) and the timed ones (i >= 1), then
  * `finish`.
  */
trait Workload {
  /** Seconds of `--seconds` one timed pass is given; the quotient is the
    * pass count (at least three), so every run with the same `--seconds`
    * does the same work.
    */
  def nominalPassS: Double

  /** Generates the inputs and builds tables/indexes under `dir`. */
  def setUp(dir: String): Unit

  /** Untimed work after the last set-up: ground truth for the checks. */
  def prepare(): Unit = ()

  /** One pass; every timed call goes through `calls.run`. */
  def pass(i: Int, calls: Calls): Unit

  /** Untimed bookkeeping after each pass (outside every timed call). */
  def afterPass(i: Int): Unit = ()

  /** End-of-run checks, through `calls.check`. */
  def finish(calls: Calls): Unit = ()

  /** The workload's own end-to-end figures, printed by name. */
  def named(calls: Calls): Seq[Metric]

  /** Per-layer figures this workload can report beyond the per-call
    * Spark counters (traced run only).
    */
  def layerExtras(calls: Calls, r: Recorder): Seq[Metric] = Seq.empty

  /** Snapshot commits of each timed pass, recorded by `afterPass`. */
  val passCommits = mutable.ArrayBuffer.empty[Long]

  /** Bytes each timed pass wrote to disk, recorded by `afterPass`. */
  val passBytesWritten = mutable.ArrayBuffer.empty[Long]

  /** Deletes everything the workload wrote. */
  def cleanUp(): Unit
}

/** Times the workload's calls, counts attempts and failures, and — in a
  * traced pass — wraps each call in a span.
  */
final class Calls(val spark: SparkSession) {
  var attempted = 0
  var failed = 0
  val failures = mutable.ArrayBuffer.empty[String]
  /** false during warm-up passes: attempts and failures still count */
  var recording = true
  var recorder: Option[Recorder] = None
  /** call name -> wall seconds, one entry per untraced timed pass */
  val walls = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** the same for traced passes */
  val tracedWalls = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** traced calls: (pass, call name, span, cache residue it left) */
  val traced = mutable.ArrayBuffer.empty[(Int, String, Span, Int)]
  /** (pass, wall seconds = the sum of its calls, traced?) */
  val passes = mutable.ArrayBuffer.empty[(Int, Double, Boolean)]
  private var pass = 0
  private var passTraced = false
  private var passSum = 0.0
  private var lastCallFailed = false

  def beginPass(i: Int, traced: Boolean): Unit = { pass = i; passTraced = traced; passSum = 0.0 }
  def endPass(): Unit =
    if (recording) passes += ((pass, passSum, passTraced))

  private def cachedState(): (Set[Int], Int) =
    (spark.sparkContext.getPersistentRDDs.keySet.toSet,
      org.apache.spark.sql.PerfbenchShim.cachedPlans(spark))

  /** Persisted RDDs that appeared during the call plus cached plans it
    * added; what the context cleaner frees meanwhile does not subtract.
    */
  private def residue(before: (Set[Int], Int)): Int = {
    val (rdds, plans) = cachedState()
    (rdds -- before._1).size + math.max(0, plans - before._2)
  }

  /** Runs one timed call. An exception counts as a failed call and yields
    * None; the run goes on.
    */
  def run[T](name: String)(body: => T): Option[T] = {
    attempted += 1
    val before = recorder.map(_ => cachedState())
    recorder.foreach(_.begin(name))
    val t0 = System.nanoTime()
    lastCallFailed = false
    val out =
      try Some(body)
      catch {
        case e: Exception =>
          fail(s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}")
          None
      }
    val wall = (System.nanoTime() - t0) / 1e9
    recorder.foreach { r =>
      val span = r.end()
      traced += ((pass, name, span, residue(before.get)))
    }
    if (recording)
      (if (passTraced) tracedWalls else walls)
        .getOrElseUpdate(name, mutable.ArrayBuffer.empty) += wall
    passSum += wall
    out
  }

  private def fail(why: String): Unit = {
    failures += why
    if (!lastCallFailed) failed += 1
    lastCallFailed = true
  }

  /** Checks the output of the call just run; a call fails at most once. */
  def check(what: String, ok: Boolean, detail: => String = ""): Unit =
    if (!ok) fail(s"check failed: $what $detail".trim)

  /** A check at the end of the run, not tied to a timed call: it is one
    * attempt of its own.
    */
  def audit(what: String, ok: Boolean, detail: => String = ""): Unit = {
    attempted += 1
    lastCallFailed = false
    check(what, ok, detail)
  }

  def median(name: String): Double = Stats.median(walls.getOrElse(name, Nil).toSeq)

  /** One pass as the sum over its calls of each call's median wall. */
  def passP50(traced: Boolean): Double =
    (if (traced) tracedWalls else walls).values.map(ws => Stats.median(ws.toSeq)).sum

  /** One pass as the sum over its calls of each call's fastest wall. The
    * host's noise only ever adds time, so this tracks the code's cost
    * where the median tracks how busy the host was.
    */
  def passMin(traced: Boolean): Double =
    (if (traced) tracedWalls else walls).values.map(_.min).sum
}

object Stats {
  def medianOr0(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else median(xs)

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Bytes of all regular files under `dir` (0 when absent). */
  def duBytes(dir: String): Long = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val st = java.nio.file.Files.walk(p)
      try st.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally st.close()
    }
  }

  def deleteTree(dir: String): Unit = {
    val p = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(p)) {
      val st = java.nio.file.Files.walk(p)
      try st.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => java.nio.file.Files.delete(f))
      finally st.close()
    }
  }
}

object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  /** `{"name":{"value":v,"unit":"u"},...}` */
  def metrics(ms: Seq[Metric]): String = ms.map(m =>
    s""""${esc(m.name)}":{"value":${num(m.value)},"unit":"${esc(m.unit)}"}""")
    .mkString("{", ",", "}")

  /** A finite number as JSON, with all its digits. */
  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null"
    else if (x == math.rint(x) && math.abs(x) < 1e15) x.toLong.toString
    else java.math.BigDecimal.valueOf(x).toPlainString
}
