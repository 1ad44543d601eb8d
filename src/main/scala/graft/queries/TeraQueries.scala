package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.tera.{TeraGen, TeraSort, TeraValidate}

/** Driver-facing wrapper for the sort-benchmark pipeline: generate →
  * total-sort → validate, scaled by the test scale factor (sf0.1 → 1M
  * records = 100 MB). The result is a deterministic one-row summary
  * (the golden checksum is locked by TeraSuiteSpec); there is no SQL
  * oracle because the input is generated, not a table.
  */
object TeraQueries {

  /** Records to generate for a given sf dir: sf * 10^7 (min 10k). */
  def recordsFor(dir: String): Long = {
    val sf = "sf([0-9.]+)".r.findFirstMatchIn(dir)
      .map(_.group(1).toDouble).getOrElse(0.001)
    math.max(10000L, (sf * 1e7).toLong)
  }

  /** Sort partitions for `n` records: each holds under ~64 MB of raw
    * records. A sort task holds its whole partition in memory, about
    * `RecordLen + 12` bytes per record with no spill
    * ([[graft.tera.TeraSort.sortRdd]]), so this rule bounds one task's
    * heap at about 72 MB at any scale; more records mean more
    * partitions, never a bigger task.
    */
  private[graft] def sortPartitions(s: SparkSession, n: Long): Int =
    math.max(s.sparkContext.defaultParallelism,
      (n * TeraGen.RecordLen / (64L << 20)).toInt + 1)

  def teraPipeline(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val n = recordsFor(dir)
    val parts = sortPartitions(s, n)
    // the TPCx-HS-style protocol (reference apps/terasort/run.sh `for i
    // in seq 1 2`): TWO consecutive timed gen+sort+validate runs, each
    // reported as SF-per-hour with SF = bytes/10^10. TPCx-HS designates
    // the run with the LOWER metric as the performance run, so
    // hsph_at_sf carries min(run1, run2) and both raw values ride along
    def timedRun(): (TeraValidate.Result, Double) = {
      val t0 = System.nanoTime()
      val sorted = TeraSort.generateAndSort(s, n, parts)
      val r = TeraValidate.validate(sorted)
      (r, (System.nanoTime() - t0) / 3.6e12)
    }
    val (r1, h1) = timedRun()
    val (r2, h2) = timedRun()
    require(r1.checksumHex == r2.checksumHex && r1.records == r2.records,
      s"non-deterministic tera pipeline: run1=${r1.checksumHex} " +
        s"run2=${r2.checksumHex}")
    val r = if (h1 >= h2) r1 else r2 // the slower = performance run
    val sf = n * TeraGen.RecordLen / 1e10
    def r4(x: Double) = math.rint(x * 1e4) / 1e4
    Seq((r.records, r.checksumHex,
        r1.partitionsSorted && r2.partitionsSorted,
        r1.boundariesOrdered && r2.boundariesOrdered,
        r4(sf), r4(sf / h1), r4(sf / h2), r4(sf / math.max(h1, h2))))
      .toDF("records", "checksum", "partitions_sorted", "boundaries_ordered",
        "hs_sf", "hsph_run1", "hsph_run2", "hsph_at_sf")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "tera_sort_validate" -> teraPipeline _
  )

  val oracles: Map[String, String] = Map.empty
}
