package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced interval: a run, a pass, a timed call or a Spark job.
  * Times are epoch milliseconds with sub-millisecond precision for the
  * spans this process opens, and Spark's own millisecond stamps for jobs.
  */
final case class Span(id: Long, name: String, start: Double, end: Double,
    parent: Long, run: String) {
  def json: String =
    s"""{"id":$id,"name":"${Json.esc(name)}","start":${Json.num(start)},""" +
      s""""end":${Json.num(end)},"parent":$parent,"run":"${Json.esc(run)}"}"""
}

/** Spark work attributed to one call span. */
final class CallWork {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var cpuNs = 0L
  var shuffleWriteBytes = 0L
  var shuffleWriteRecords = 0L
  var spillBytes = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Double, Double)]
}

/** The traced run's recorder: a span stack kept in memory plus a
  * SparkListener that turns every job started under a call span into a
  * child span and sums the call's task metrics. Calls mark their jobs
  * with the `perfbench.span` local property, which Spark copies onto each
  * job (including jobs that SQL starts from its broadcast and subquery
  * threads).
  */
final class Recorder(sc: SparkContext, val runId: String) {
  import Recorder.SpanProp

  private val t0Ms = System.currentTimeMillis().toDouble
  private val t0Ns = System.nanoTime()
  def nowMs(): Double = t0Ms + (System.nanoTime() - t0Ns) / 1e6

  private var nextId = 0L
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[(Long, String, Double)]
  private val work = mutable.HashMap.empty[Long, CallWork]
  // listener-side state, guarded by `this`
  private val stageSpan = mutable.HashMap.empty[Int, Long]
  private val jobSpan = mutable.HashMap.empty[Int, (Long, Double)]
  private val drainJobs = mutable.HashMap.empty[Int, String]
  private var drained = Set.empty[String]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val tag = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
      Recorder.this.synchronized {
        tag.foreach { t =>
          t.toLongOption match {
            case Some(id) =>
              jobSpan(e.jobId) = (id, e.time.toDouble)
              e.stageIds.foreach(st => stageSpan.getOrElseUpdate(st, id))
            case None => drainJobs(e.jobId) = t
          }
        }
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Recorder.this.synchronized {
      jobSpan.remove(e.jobId).foreach { case (id, start) =>
        val w = work.getOrElseUpdate(id, new CallWork)
        w.jobs += 1
        w.jobIntervals += ((start, e.time.toDouble))
        spans += Span(allocId(), s"job ${e.jobId}", start, e.time.toDouble, id, runId)
      }
      drainJobs.remove(e.jobId).foreach(t => drained += t)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Recorder.this.synchronized {
        stageSpan.get(e.stageInfo.stageId).foreach { id =>
          work.getOrElseUpdate(id, new CallWork).stages += 1
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Recorder.this.synchronized {
      stageSpan.get(e.stageId).foreach { id =>
        val w = work.getOrElseUpdate(id, new CallWork)
        w.tasks += 1
        Option(e.taskMetrics).foreach { m =>
          w.cpuNs += m.executorCpuTime
          w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          w.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
          w.spillBytes += m.diskBytesSpilled
        }
      }
    }
  }

  private def allocId(): Long = { nextId += 1; nextId }

  def attach(): Unit = sc.addSparkListener(listener)
  def detach(): Unit = sc.removeSparkListener(listener)

  /** Opens a span under the innermost open one; jobs started inside are
    * tagged with its id. Returns the span id.
    */
  def begin(name: String): Long = synchronized {
    val id = allocId()
    open.push((id, name, nowMs()))
    sc.setLocalProperty(SpanProp, id.toString)
    id
  }

  def end(): Span = synchronized {
    val (id, name, start) = open.pop()
    val parent = open.headOption.map(_._1).getOrElse(0L)
    val span = Span(id, name, start, nowMs(), parent, runId)
    spans += span
    sc.setLocalProperty(SpanProp, open.headOption.map(_._1.toString).orNull)
    span
  }

  /** Blocks until the listener has handled every event posted so far:
    * the listener bus delivers in order, so once a sentinel job's end
    * arrives, all earlier jobs' events have been processed.
    */
  def drain(): Unit = {
    val tag = s"drain-${System.nanoTime()}"
    val prev = sc.getLocalProperty(SpanProp)
    sc.setLocalProperty(SpanProp, tag)
    try {
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!synchronized(drained.contains(tag)) && System.nanoTime() < deadline)
        Thread.sleep(5)
      require(synchronized(drained.contains(tag)), "listener drain timed out")
    } finally sc.setLocalProperty(SpanProp, prev)
  }

  def workOf(spanId: Long): CallWork = synchronized {
    work.getOrElse(spanId, new CallWork)
  }

  def allSpans: Seq[Span] = synchronized(spans.toSeq)
}

object Recorder {
  val SpanProp = "perfbench.span"

  /** Length of `[start, end]` not covered by any of `intervals`. */
  def uncovered(start: Double, end: Double, intervals: Seq[(Double, Double)]): Double = {
    var covered = 0.0
    var reach = start
    intervals.map { case (a, b) => (math.max(a, start), math.min(b, end)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
      .foreach { case (a, b) =>
        if (b > reach) { covered += b - math.max(a, reach); reach = b }
      }
    math.max(0.0, end - start - covered)
  }
}
