package graft.core

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.HashPartitioner
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageSubmitted, SparkListenerTaskEnd}

import graft.SparkSpec
import graft.apps.WordCount

class MapReduceJobSpec extends SparkSpec {

  /** Runs `f` and sums the shuffle records its jobs' tasks wrote. Listener
    * events arrive in order, so a sentinel job started afterwards marks
    * the end of the count.
    */
  private def shuffleRecordsOf[T](f: => T): (T, Long) = {
    val sc = spark.sparkContext
    val tag = s"mrspec.shuffle.${System.nanoTime()}"
    val stages = ConcurrentHashMap.newKeySet[Int]()
    val records = new AtomicLong
    val end = new CountDownLatch(1)
    def tagOf(p: java.util.Properties) = Option(p).flatMap(p => Option(p.getProperty(tag)))
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (tagOf(e.properties).contains("f")) stages.add(e.stageInfo.stageId)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskMetrics != null)
          records.addAndGet(e.taskMetrics.shuffleWriteMetrics.recordsWritten)
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (tagOf(e.properties).contains("end")) end.countDown()
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty(tag, "f")
    try {
      val r = f
      sc.setLocalProperty(tag, "end")
      sc.parallelize(Seq(1), 1).count()
      assert(end.await(60, TimeUnit.SECONDS), "listener timed out")
      (r, records.get)
    } finally {
      sc.setLocalProperty(tag, null)
      sc.removeSparkListener(listener)
    }
  }

  test("wordcount: MR-contract, DataFrame, and Dataset flavors agree") {
    import spark.implicits._
    val lines = Seq(
      "the Quick brown foxtrot jumped over lazy DOGGED dogged foxtrot",
      "short tiny word words lambda LAMBDA lambda!",
      "punct,separated;tokens-here123digits")
    val mr = WordCount.countWordsMR(spark.sparkContext.parallelize(lines, 2))
      .collect().toMap
    val df = WordCount.countWords(lines.toDF("text"), "text")
      .as[(String, Long)].collect().toMap
    val ds = WordCount.countWordsDs(lines.toDS()).collect().toMap
    assert(mr == df)
    assert(mr == ds)
    // boundary: 5-letter words dropped, 6-letter kept
    assert(!mr.contains("WORDS"))
    assert(mr("LAMBDA") == 3L)
    assert(mr("FOXTROT") == 2L)
    assert(mr("DOGGED") == 2L)
    // punctuation and digits delimit
    assert(mr.contains("SEPARATED") && mr.contains("TOKENS"))
    assert(mr.contains("DIGITS") && !mr.contains("HERE123DIGITS"))
  }

  test("reduce with ordering streams keys in sorted order") {
    val input = spark.sparkContext.parallelize(Seq(
      ("b", 2), ("a", 1), ("c", 3), ("a", 4), ("b", 5)), 3)
    val out = MapReduceJob(input)(Iterator.single(_))
      .withOrdering(Ordering[String])
      .reduce((k, vs) => Iterator.single((k, vs.sum)))
      .collect().toMap
    assert(out == Map("a" -> 5, "b" -> 7, "c" -> 3))
  }

  test("combiner + ordering + custom partitioner compose") {
    val input = spark.sparkContext.parallelize(1 to 1000, 8)
    val out = MapReduceJob(input)(i => Iterator.single((i % 10, i.toLong)))
      .withCombiner(_ + _)
      .withPartitioner(new ElfHashPartitioner(4))
      .withOrdering(Ordering[Int])
      .reduce((k, vs) => Iterator.single((k, vs.sum)))
      .collect().toMap
    val expect = (1 to 1000).groupBy(_ % 10).map { case (k, v) => (k, v.map(_.toLong).sum) }
    assert(out == expect)
  }

  test("combiner + ordering: partition-sized key set stays sorted and exact") {
    // 200k distinct keys funneled into 2 partitions — the shape that used
    // to materialize a whole partition on the heap via toArray.sortBy;
    // the sort-shuffle path (ShuffledRDD + keyOrdering) spills instead.
    val n = 200000
    val input = spark.sparkContext.parallelize(1 to (2 * n), 16)
    val shuffled = MapReduceJob(input)(i =>
        Iterator.single(((i - 1) % n, i.toLong)))
      .withCombiner(_ + _)
      .withPartitioner(new org.apache.spark.HashPartitioner(2))
      .withOrdering(Ordering[Int])
    // per-partition key streams must be sorted and each key seen once
    val perPart = shuffled
      .reduce((k, vs) => Iterator.single((k, vs.sum)))
      .mapPartitionsWithIndex { (p, it) =>
        val keys = it.map(_._1).toArray
        Iterator.single((p, keys.length, keys.sameElements(keys.sorted)))
      }.collect()
    assert(perPart.map(_._2).sum == n)
    assert(perPart.forall(_._3), "keys not sorted within a partition")
    // values: each key k (0-based) sums (k+1) + (k+1+n)
    val out = shuffled.reduce((k, vs) => Iterator.single((k, vs.sum)))
      .collect().toMap
    assert(out.size == n)
    assert(out(0) == 1L + (1L + n) && out(n - 1) == n.toLong + 2L * n)
  }

  test("combiner: one map task past 2 x CombineKeys distinct keys sums exactly in every arm") {
    // keys 0..n-1 twice over, so the task's combine map fills and is
    // emitted several times and the two values of a key meet only in the
    // reduce-side merge
    val n = 2 * MapReduceJob.CombineKeys + 1000
    val emits = () => Iterator.range(0, 2 * n).map(i => (i % n, i.toLong))
    val want = new Array[Long](n)
    emits().foreach { case (k, v) => want(k) += v }
    val job = MapReduceJob(spark.sparkContext.parallelize(Seq(0), 1))(_ => emits())
      .withCombiner(_ + _)
      .withPartitioner(new HashPartitioner(4))
    def check(arm: String, got: Array[(Int, Long)]): Unit = {
      assert(got.length == n, arm)
      assert(got.iterator.map(_._1).toSet.size == n, arm)
      val wrong = got.find { case (k, v) => v != want(k) }
      assert(wrong.isEmpty, s"$arm: $wrong")
    }
    val grouped = job.grouped().collect()
    assert(grouped.forall(_._2.size == 1))
    check("grouped", grouped.map { case (k, vs) => (k, vs.head) })
    check("reduce", job.reduce((k, vs) => Iterator.single((k, vs.sum))).collect())
    check("reduce ordered", job.withOrdering(Ordering[Int])
      .reduce((k, vs) => Iterator.single((k, vs.sum))).collect())
    check("reduceByKeyToRdd", job.reduceByKeyToRdd(_ + _).collect())
  }

  test("combiner: each map task shuffles one record per distinct key it emitted") {
    // 4 map tasks of 2,500 values over the same 37 keys: 4 x 37 records
    val input = spark.sparkContext.parallelize(1 to 10000, 4)
    val job = MapReduceJob(input)(i => Iterator.single((i % 37, i.toLong)))
      .withCombiner(_ + _)
    val sum = (_: Int, vs: Iterator[Long]) => Iterator.single(vs.sum)
    val arms = Seq[(String, () => Long)](
      "grouped" -> (() => job.grouped().count()),
      "reduce" -> (() => job.reduce(sum).count()),
      "reduce ordered" -> (() => job.withOrdering(Ordering[Int]).reduce(sum).count()),
      "reduceByKeyToRdd" -> (() => job.reduceByKeyToRdd(_ + _).count()))
    arms.foreach { case (arm, run) =>
      assert(shuffleRecordsOf(run()) == ((37L, 4L * 37)), arm)
    }
  }

  test("combiner: a null key combines like any other key") {
    val input = spark.sparkContext.parallelize(
      Seq("a", null, "b", null, "a", null, null), 3)
    val job = MapReduceJob(input)(w => Iterator.single((w, 1L))).withCombiner(_ + _)
    val want = Map[String, Long]("a" -> 2L, (null: String) -> 4L, "b" -> 1L)
    val sum = (k: String, vs: Iterator[Long]) => Iterator.single((k, vs.sum))
    assert(job.reduceByKeyToRdd(_ + _).collect().toMap == want)
    assert(job.grouped().mapValues(_.sum).collect().toMap == want)
    assert(job.reduce(sum).collect().toMap == want)
    val nullFirst = Ordering.by[String, Option[String]](Option(_))
    assert(job.withOrdering(nullFirst).reduce(sum).collect().toMap == want)
  }

  test("grouped returns all values per key") {
    val input = spark.sparkContext.parallelize(Seq(1, 2, 3, 4, 5, 6), 2)
    val groups = MapReduceJob(input)(i => Iterator.single((i % 2, i)))
      .grouped().collect().toMap
    assert(groups(0).toSet == Set(2, 4, 6))
    assert(groups(1).toSet == Set(1, 3, 5))
  }

  test("MR-style reduce-side join via cogroup (SURVEY §2.4 joins row)") {
    val orders = spark.sparkContext.parallelize(
      Seq((1L, "o100"), (1L, "o101"), (2L, "o200")), 2)
    val custs = spark.sparkContext.parallelize(
      Seq((1L, "alice"), (2L, "bob"), (3L, "carol")), 2)
    val joined = custs.cogroup(orders).flatMap { case (k, (cs, os)) =>
      for (c <- cs; o <- os) yield (k, c, o)
    }.collect().toSet
    assert(joined == Set((1L, "alice", "o100"), (1L, "alice", "o101"),
      (2L, "bob", "o200")))
  }

  test("approx_count_distinct tracks exact distinct within tolerance") {
    import org.apache.spark.sql.functions._
    val li = graft.Tables.lineitem(spark, sfDir)
    val row = li.agg(
      countDistinct(col("l_partkey")).as("exact"),
      approx_count_distinct(col("l_partkey"), 0.02).as("approx")).first()
    val (exact, approx) = (row.getLong(0), row.getLong(1))
    assert(math.abs(approx - exact).toDouble / exact < 0.05,
      s"approx $approx vs exact $exact")
  }

  test("wordcount over a raw text file source (reference input shape)") {
    import spark.implicits._
    val f = java.nio.file.Files.createTempFile("wc", ".txt")
    java.nio.file.Files.writeString(f,
      "brown foxtrot jumped\nfoxtrot again tonight\nshort words here\n")
    try {
      val viaFile = WordCount.countWordsDs(spark.read.textFile(f.toString))
        .collect().toMap
      assert(viaFile("FOXTROT") == 2L)
      assert(viaFile("JUMPED") == 1L)
      assert(!viaFile.contains("WORDS"))
    } finally java.nio.file.Files.delete(f)
  }

  test("grouping comparator cuts runs coarser than the sort order (secondary sort)") {
    // key = (group, seq); sort by both, group by the first component only:
    // each reducer call must see one group's values in seq order
    val data = spark.sparkContext.parallelize(Seq(
      (2L, 30L, "c"), (1L, 20L, "b"), (1L, 10L, "a"),
      (2L, 10L, "x"), (1L, 30L, "c2"), (2L, 20L, "y")), 3)
    val nParts = 2
    val byGroup = new org.apache.spark.Partitioner {
      def numPartitions: Int = nParts
      def getPartition(key: Any): Int =
        java.lang.Math.floorMod(key.asInstanceOf[(Long, Long)]._1.hashCode, nParts)
    }
    val runs = MapReduceJob(data) { case (g, s, v) =>
      Iterator.single(((g, s), v))
    }
      .withPartitioner(byGroup)
      .withOrdering(Ordering[(Long, Long)])
      .withGrouping((a, b) => a._1 == b._1)
      .reduce[(Long, String)] { (k, vs) =>
        Iterator.single((k._1, vs.mkString(",")))
      }
      .collect().toMap
    assert(runs == Map(1L -> "a,b,c2", 2L -> "x,y,c"),
      s"got $runs")
  }

  test("elf hash matches the reference algorithm on known vectors") {
    // vectors computed by hand-running the ELF algorithm
    assert(ElfHash("") == 0L)
    assert(ElfHash(Array[Byte](0x41)) == 0x41L) // "A"
    // h("AB") = (0x41<<4) + 0x42 = 0x452
    assert(ElfHash("AB") == 0x452L)
    val p = new ElfHashPartitioner(5)
    assert((0 until 5).contains(p.getPartition("anything")))
  }
}
