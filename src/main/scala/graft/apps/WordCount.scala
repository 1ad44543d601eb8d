package graft.apps

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.MapReduceJob

/** Wordcount — the reference's first application
  * (`apps/wordcount/wc_api.cu:35-59`): uppercase the text, words are
  * maximal `[A-Z]+` runs, keep words of >= 6 letters (the reference's
  * `ws > 6` counts the terminating delimiter byte, so the effective
  * threshold is 6 letters — see SURVEY.md §7.4.1; we implement the clean
  * semantics), count per word.
  *
  * Two equivalent implementations:
  *  - DataFrame: codegen'd builtins end-to-end
  *    (`explode(split(upper(...)))` → partial+final hash aggregate) —
  *    the plan Catalyst produces is exactly map → combine → shuffle →
  *    reduce;
  *  - the MapReduce-contract flavor on [[MapReduceJob]], proving the core
  *    builder reproduces the app.
  */
object WordCount {
  val MinLetters = 6

  /** DataFrame pipeline over any single string column. */
  def countWords(text: DataFrame, column: String): DataFrame =
    text
      .select(explode(split(upper(col(column)), "[^A-Z]+")).as("word"))
      .filter(length(col("word")) >= MinLetters)
      .groupBy("word")
      .agg(count(lit(1)).as("cnt"))

  /** The words of one line, upper-cased: the maximal `[A-Z]+` runs of
    * `line.toUpperCase` with at least [[MinLetters]] letters. Like Spark's
    * `upper`, an all-ASCII line takes a fast path — one scan for
    * `[A-Za-z]` runs, each upper-cased on its own — and any other line
    * the `toUpperCase.split` path, where e.g. `ß` upper-cases to `SS`.
    */
  def words(line: String): Iterator[String] =
    if (line.forall(_ < 0x80)) asciiWords(line)
    else line.toUpperCase.split("[^A-Z]+").iterator.filter(_.length >= MinLetters)

  private def asciiWords(line: String): Iterator[String] = new Iterator[String] {
    private def isLetter(ch: Char) = (ch | 0x20) >= 'a' && (ch | 0x20) <= 'z'
    private var start, end = 0 // the next word is line(start until end)
    seek()

    private def seek(): Unit = {
      start = end
      while (start < line.length) {
        while (start < line.length && !isLetter(line.charAt(start))) start += 1
        end = start
        while (end < line.length && isLetter(line.charAt(end))) end += 1
        if (end - start >= MinLetters) return
        start = end
      }
    }

    def hasNext: Boolean = start < line.length
    def next(): String = {
      if (!hasNext) Iterator.empty.next()
      val w = new Array[Char](end - start)
      var i = 0
      while (i < w.length) { w(i) = (line.charAt(start + i) & 0xDF).toChar; i += 1 }
      seek()
      new String(w)
    }
  }

  /** MapReduce-contract flavor: flatMap emit (word, 1) → combiner sums. */
  def countWordsMR(lines: RDD[String]): RDD[(String, Long)] =
    MapReduceJob(lines)(words(_).map(w => (w, 1L)))
      .withCombiner(_ + _)
      .reduceByKeyToRdd(_ + _)

  /** Typed-Dataset flavor. */
  def countWordsDs(lines: Dataset[String]): Dataset[(String, Long)] = {
    val spark = lines.sparkSession
    import spark.implicits._
    lines.flatMap(words)
      .groupByKey(identity)
      .count()
  }

  /** Driver-facing query: word counts over the documents table. */
  def documentsWordCount(s: SparkSession, dir: String): DataFrame =
    countWords(graft.Tables.documents(s, dir), "text")

  /** Same result produced through the MapReduce-contract path. */
  def documentsWordCountMR(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val lines = graft.Tables.documents(s, dir)
      .select("text").as[String].rdd
    countWordsMR(lines).toDF("word", "cnt")
  }
}
