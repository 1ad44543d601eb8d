package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** The traced run's per-layer figures. */
final case class LayerReport(perPass: Seq[Metric], perCall: Seq[Metric])

/** Turns the recorder's spans and counters into per-call and per-pass
  * figures. A call's `driver_gap_s` is its self time: its wall minus the
  * part its Spark jobs cover.
  */
object Layers {
  private final case class Sample(pass: Int, call: String, wall: Double, gap: Double,
      jobs: Double, stages: Double, tasks: Double, cpuS: Double,
      shuffleBytes: Double, spillBytes: Double, residue: Double)

  def report(calls: Calls, r: Recorder, wl: Workload, calibrationS: Double): LayerReport = {
    val samples = calls.traced.toSeq.map { case (pass, call, span, residue) =>
      val w = r.workOf(span.id)
      Sample(pass, call, (span.end - span.start) / 1000,
        Recorder.uncovered(span.start, span.end, w.jobIntervals.toSeq) / 1000,
        w.jobs, w.stages, w.tasks, w.cpuNs / 1e9, w.shuffleWriteBytes.toDouble,
        w.spillBytes.toDouble, residue)
    }
    def med(xs: Seq[Sample], f: Sample => Double): Double = Stats.median(xs.map(f))

    val perCall = samples.groupBy(_.call).toSeq
      .sortBy { case (c, _) => samples.indexWhere(_.call == c) }
      .flatMap { case (c, xs) =>
        Seq(
          Metric(s"$c.s", med(xs, _.wall), "s"),
          Metric(s"$c.driver_gap_s", med(xs, _.gap), "s"),
          Metric(s"$c.jobs", med(xs, _.jobs), "count"),
          Metric(s"$c.stages", med(xs, _.stages), "count"),
          Metric(s"$c.tasks", med(xs, _.tasks), "count"),
          Metric(s"$c.task_cpu_s", med(xs, _.cpuS), "s"),
          Metric(s"$c.shuffle_write_bytes", med(xs, _.shuffleBytes), "bytes"),
          Metric(s"$c.spill_bytes", med(xs, _.spillBytes), "bytes"),
          Metric(s"$c.cache_residue", med(xs, _.residue), "count"))
      }

    // per pass: the sum over the pass's calls, then the median over passes
    val byPass = samples.groupBy(_.pass).values.toSeq
    def passMed(f: Sample => Double): Double = Stats.median(byPass.map(_.map(f).sum))
    val traced = calls.passP50(traced = true)
    val untraced = calls.passP50(traced = false)
    val perPass = Seq(
      Metric("host.calibration_s", calibrationS, "s"),
      Metric("pass.s", traced, "s"),
      Metric("pass.driver_gap_s", passMed(_.gap), "s"),
      Metric("pass.jobs", passMed(_.jobs), "count"),
      Metric("pass.stages", passMed(_.stages), "count"),
      Metric("pass.tasks", passMed(_.tasks), "count"),
      Metric("pass.task_cpu_s", passMed(_.cpuS), "s"),
      Metric("pass.shuffle_write_mb", passMed(_.shuffleBytes) / 1048576, "MB"),
      Metric("pass.spill_mb", passMed(_.spillBytes) / 1048576, "MB"),
      Metric("pass.cache_residue", passMed(_.residue), "count"),
      Metric("pass.commits", Stats.medianOr0(wl.passCommits.map(_.toDouble).toSeq), "count"),
      Metric("pass.bytes_written_mb",
        Stats.medianOr0(wl.passBytesWritten.map(_.toDouble).toSeq) / 1048576, "MB"),
      Metric("trace.overhead", traced / untraced - 1, "ratio"))
    LayerReport(perPass, perCall ++ wl.layerExtras(calls, r))
  }

  /** Prints the per-layer figures and writes the spans (JSON lines) and a
    * report of every figure under `out`.
    */
  def write(out: String, name: String, seed: Long, r: Recorder, rep: LayerReport,
      e2e: Seq[Metric]): Unit = {
    (rep.perPass ++ rep.perCall).foreach(m =>
      println(f"layer ${m.name}%-40s ${m.value}%.6f ${m.unit}"))
    Files.createDirectories(Paths.get(out))
    val spans = r.allSpans.sortBy(_.start).map(_.json).mkString("", "\n", "\n")
    val spansFile = Paths.get(out, s"spans-$name-$seed.jsonl")
    Files.write(spansFile, spans.getBytes(StandardCharsets.UTF_8))
    val report = s"""{"workload":"$name","seed":$seed,"end_to_end":${Json.metrics(e2e)},""" +
      s""""per_pass":${Json.metrics(rep.perPass)},"per_call":${Json.metrics(rep.perCall)}}"""
    Files.write(Paths.get(out, s"trace-$name-$seed.json"),
      (report + "\n").getBytes(StandardCharsets.UTF_8))
    println(s"spans written: ${r.allSpans.size} to $spansFile")
    val overhead = rep.perPass.find(_.name == "trace.overhead").map(_.value).getOrElse(Double.NaN)
    println(f"tracing overhead: traced pass p50 vs untraced pass p50 ${overhead * 100}%+.1f%%")
  }
}
