package perfbench

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession

import graft.apps.WordCount
import graft.tera.{TeraGen, TeraIO, TeraRandom, TeraSort, TeraValidate, U128}

/** splitmix64 finalizer: the seeded hash every generator draws from. */
object Mix {
  def apply(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def apply(a: Long, b: Long): Long = apply(apply(a) ^ b)
}

/** The Zipf text the wordcount half reads: a seeded vocabulary of `Vocab`
  * lowercase words of 5..12 letters (the last five letters spell the word
  * id in base 26, so words are distinct), drawn with P(rank r) ~ 1/r
  * through a seeded rank→word permutation, `TokensPerLine` per line.
  */
final case class ZipfText(seed: Long, lines: Long) {
  import ZipfText._

  def wordLen(id: Long): Int = 5 + (Mix(seed, id) & 7L).toInt

  def word(id: Long): String = {
    val len = wordLen(id)
    val b = new Array[Char](len)
    var h = Mix(seed ^ 0x5EED, id)
    var i = 0
    while (i < len - 5) { b(i) = ('a' + java.lang.Long.remainderUnsigned(h, 26)).toChar; h = Mix(h); i += 1 }
    var v = id
    var j = len - 1
    while (j >= len - 5) { b(j) = ('a' + (v % 26)).toChar; v /= 26; j -= 1 }
    new String(b)
  }

  // odd and not a multiple of 5, so coprime with Vocab = 2^6 * 5^6
  private val permA = (Mix(seed, 77L) & 0xFFFFFL) * 10 + 3
  private val permB = java.lang.Long.remainderUnsigned(Mix(seed, 78L), Vocab)

  /** Word ids of line `n`. */
  def lineIds(n: Long): Array[Long] = {
    val out = new Array[Long](TokensPerLine)
    var h = Mix(seed ^ 0x7E47, n)
    var i = 0
    while (i < TokensPerLine) {
      h = Mix(h)
      val u = (h >>> 11) * (1.0 / (1L << 53))
      val rank = math.min(Vocab, math.max(1L, math.pow(Vocab + 1.0, u).toLong))
      out(i) = Math.floorMod(permA * (rank - 1) + permB, Vocab)
      i += 1
    }
    out
  }

  def line(n: Long): String = lineIds(n).map(word).mkString(" ")
}

object ZipfText {
  val Vocab = 1000000L
  val TokensPerLine = 10
}

/** `mapreduce`: the paper's two applications, file to file.
  *
  * TeraGen → TeraSort → TeraValidate on `TeraRecords` 100-byte records
  * whose first record number the seed picks, with the sort partition
  * count from the 64 MB rule; then `WordCount.countWordsMR` over the
  * seeded Zipf text written during set-up.
  */
final class MapReduceWork(spark: SparkSession, seed: Long) extends Workload {
  import MapReduceWork._

  val nominalPassS = 6.0
  private val sc = spark.sparkContext
  private val text = ZipfText(seed, TextLines)
  private val firstRecord = Mix(seed, 0x7E4AL) >>> 24
  private val parts = math.max(sc.defaultParallelism,
    (TeraRecords * TeraGen.RecordLen / (64L << 20)).toInt + 1)
  private var dir = ""
  private var textBytes = 0L
  // ground truth from the generator, not from the code under test
  private var longTokens = 0L
  private var distinctLong = 0L
  private var sample = Map.empty[String, Long]

  def setUp(d: String): Unit = {
    dir = d
    val t = text
    sc.range(0L, TextLines, 1L, sc.defaultParallelism * 2)
      .map(t.line).saveAsTextFile(s"$dir/text")
    textBytes = Stats.duBytes(s"$dir/text")
  }

  override def prepare(): Unit = {
    val t = text
    val counts = sc.range(0L, TextLines, 1L, sc.defaultParallelism * 2)
      .flatMap(n => t.lineIds(n).iterator.filter(id => t.wordLen(id) >= WordCount.MinLetters))
      .map(id => (id, 1L)).reduceByKey(_ + _).cache()
    val (n, total) = counts.map(c => (1L, c._2)).reduce((a, b) => (a._1 + b._1, a._2 + b._2))
    distinctLong = n
    longTokens = total
    // the most frequent long words plus a sweep of rarer ones
    val picked = counts.top(6)(Ordering.by(_._2)) ++
      counts.filter(c => c._1 % 9973 == 0).take(6)
    sample = picked.map { case (id, c) => t.word(id).toUpperCase -> c }.toMap
    counts.unpersist(blocking = true)
  }

  private def generate(start: Long): RDD[(Array[Byte], Array[Byte])] =
    sc.range(start, start + TeraRecords, 1L, parts).mapPartitions { ids =>
      val buf = new Array[Byte](TeraGen.RecordLen)
      var state = U128.Zero
      var next = -1L
      ids.map { id =>
        if (id != next) state = TeraRandom.skipAhead(id)
        state = TeraRandom.next(state)
        next = id + 1
        TeraGen.fillRecord(buf, state, U128(id))
        (java.util.Arrays.copyOfRange(buf, 0, TeraGen.KeyLen),
          java.util.Arrays.copyOfRange(buf, TeraGen.KeyLen, TeraGen.RecordLen))
      }
    }

  def pass(i: Int, calls: Calls): Unit = {
    val in = s"$dir/tera-in-$i"
    val out = s"$dir/tera-out-$i"
    calls.run("tera.gen")(TeraIO.write(generate(firstRecord), in))
    calls.run("tera.sort")(TeraIO.write(TeraSort.sortRdd(TeraIO.read(spark, in), parts), out))
    calls.run("tera.validate") {
      (TeraValidate.validate(TeraIO.read(spark, out)),
        TeraValidate.checksum(TeraIO.read(spark, in)))
    }.foreach { case (res, inSum) =>
      calls.check("tera.validate ok", res.ok, res.toString)
      calls.check("tera record count", res.records == TeraRecords, s"${res.records}")
      calls.check("tera checksum", res.checksumHex == inSum, s"${res.checksumHex} != $inSum")
    }
    val want = sample
    calls.run("apps.wordcount_mr") {
      // run to completion, summarising on the executors
      WordCount.countWordsMR(sc.textFile(s"$dir/text")).mapPartitions { it =>
        var n = 0L; var sum = 0L
        val hits = Map.newBuilder[String, Long]
        it.foreach { case (w, c) =>
          n += 1; sum += c
          if (want.contains(w)) hits += w -> c
        }
        Iterator((n, sum, hits.result()))
      }.collect()
    }.foreach { parts =>
      val n = parts.map(_._1).sum
      val sum = parts.map(_._2).sum
      val got = parts.flatMap(_._3).toMap
      calls.check("wordcount distinct", n == distinctLong, s"$n != $distinctLong")
      calls.check("wordcount total", sum == longTokens, s"$sum != $longTokens")
      calls.check("wordcount sample", got == want, s"$got != $want")
    }
  }

  override def afterPass(i: Int): Unit = {
    if (i > 0) passBytesWritten +=
      Stats.duBytes(s"$dir/tera-in-$i") + Stats.duBytes(s"$dir/tera-out-$i")
    Stats.deleteTree(s"$dir/tera-in-$i")
    Stats.deleteTree(s"$dir/tera-out-$i")
  }

  def named(calls: Calls): Seq[Metric] = {
    val tera = Seq("tera.gen", "tera.sort", "tera.validate").map(calls.median).sum
    val sf = TeraRecords * TeraGen.RecordLen / 1e10
    Seq(
      Metric("tera_hsph", sf / (tera / 3600), "SF/h"),
      Metric("wordcount_mb_s", textBytes / 1e6 / calls.median("apps.wordcount_mr"), "MB/s"))
  }

  override def layerExtras(calls: Calls, r: Recorder): Seq[Metric] = {
    val shuffled = calls.traced.collect {
      case (_, "apps.wordcount_mr", span, _) => r.workOf(span.id).shuffleWriteRecords.toDouble
    }
    Seq(Metric("apps.wordcount_mr.combine_ratio",
      Stats.median(shuffled.toSeq) / (TextLines * ZipfText.TokensPerLine), "ratio"))
  }

  def cleanUp(): Unit = Stats.deleteTree(dir)
}

object MapReduceWork {
  val TeraRecords = 1000000L
  val TextLines = 200000L
}
