package graft.core

import scala.reflect.ClassTag

import org.apache.spark.{Aggregator, HashPartitioner, Partitioner}
import org.apache.spark.rdd.{RDD, ShuffledRDD}
import org.apache.spark.util.collection.AppendOnlyMap

/** The reference's MapReduce contract (`include/PandaAPI.h:29-51` — user
  * supplies map / combine / reduce / compare / partitioner) rebuilt as a
  * typed builder over Spark RDD transformations.
  *
  * What the reference implements as ~6k lines of emit buffers, pthread
  * fan-out, O(n^2) grouping and MPI bucket exchange
  * (`src/PandaLib.cu`, `src/PandaSort.cu`, `src/panda/PandaMPIMessage.cpp`)
  * collapses here into one `flatMap` + one shuffle:
  *
  *  - `withCombiner` → each map task merges its emits by key in a hash
  *    map before the shuffle (the reference's `panda_cpu_combiner`), so
  *    bytes on the wire scale with distinct keys per task, not records —
  *    what makes the pattern work at 100 TB. The partials shuffle
  *    unsorted and the reduce side merges them in Spark's spilling
  *    `ExternalAppendOnlyMap`. A map task holds at most
  *    [[MapReduceJob.CombineKeys]] keys and their combined values on the
  *    heap, outside Spark's memory accounting; at that size it emits them
  *    and starts over, which only weakens the combine.
  *  - `withOrdering` → sort-based shuffle
  *    (`repartitionAndSortWithinPartitions`): reducers see keys in order,
  *    the reference's (unimplemented) "sort" semantics.
  *  - neither → hash shuffle + `groupByKey`.
  *
  * Output is whatever the reducer emits (0..n records per key), mirroring
  * `PandaEmitReduceOutput`.
  */
final class MapReduceJob[I, K: ClassTag, V: ClassTag] private (
    input: RDD[I],
    mapFn: I => IterableOnce[(K, V)],
    combineFn: Option[(V, V) => V],
    partitioner: Option[Partitioner],
    ordering: Option[Ordering[K]],
    grouping: Option[(K, K) => Boolean] = None) extends Serializable {

  def withCombiner(fn: (V, V) => V): MapReduceJob[I, K, V] =
    new MapReduceJob(input, mapFn, Some(fn), partitioner, ordering, grouping)

  def withPartitioner(p: Partitioner): MapReduceJob[I, K, V] =
    new MapReduceJob(input, mapFn, combineFn, Some(p), ordering, grouping)

  def withOrdering(ord: Ordering[K]): MapReduceJob[I, K, V] =
    new MapReduceJob(input, mapFn, combineFn, partitioner, Some(ord), grouping)

  /** Hadoop's GROUPING COMPARATOR — the secondary-sort contract: sort by
    * the full key, but cut reducer runs by a coarser equivalence (e.g.
    * key = (user, timestamp), group by user → each reducer call sees one
    * user's values in timestamp order). Only meaningful together with
    * [[withOrdering]]; the partitioner must agree with the grouping
    * (same group → same partition).
    */
  def withGrouping(equiv: (K, K) => Boolean): MapReduceJob[I, K, V] =
    new MapReduceJob(input, mapFn, combineFn, partitioner, ordering, Some(equiv))

  private def defaultPartitioner: Partitioner =
    partitioner.getOrElse(new HashPartitioner(input.sparkContext.defaultParallelism))

  /** Map + shuffle only — grouped values per key (no reduce). */
  def grouped(): RDD[(K, Iterable[V])] = {
    combineFn match {
      case Some(c) => combined(c, None).mapValues(Seq(_))
      case None => input.flatMap(mapFn).groupByKey(defaultPartitioner)
    }
  }

  /** Full pipeline: map → (combine) → partition → (sort) → reduce. */
  def reduce[O: ClassTag](reduceFn: (K, Iterator[V]) => IterableOnce[O]): RDD[O] = {
    val part = defaultPartitioner
    (combineFn, ordering) match {
      case (Some(c), ord) =>
        // with an ordering this is Hadoop's combiner+sort contract in ONE
        // shuffle: the reduce side merges the partials, then the shuffle
        // reader's ExternalSorter orders the keys — spilling to disk past
        // memory, so a partition never has to fit on the heap (the
        // reference buffers whole partitions in `keyvals_t`)
        combined(c, ord).flatMap { case (k, v) => reduceFn(k, Iterator.single(v)) }
      case (None, Some(ord)) =>
        implicit val o: Ordering[K] = ord
        val sameRun = grouping.getOrElse(ord.equiv _)
        input.flatMap(mapFn).repartitionAndSortWithinPartitions(part)
          .mapPartitions(MapReduceJob.runsOf(_, sameRun).flatMap {
            case (k, vs) => reduceFn(k, vs.iterator).iterator
          })
      case (None, None) =>
        input.flatMap(mapFn).groupByKey(part)
          .flatMap { case (k, vs) => reduceFn(k, vs.iterator) }
    }
  }

  /** Classic MR reduce emitting exactly one (K, V) per key. */
  def reduceByKeyToRdd(merge: (V, V) => V): RDD[(K, V)] = combined(merge, None)

  /** Every combiner arm's one shuffle: combine inside each map task
    * ([[MapReduceJob.combineInTask]]), shuffle the partials with no
    * map-side combine — so Spark writes them without sorting by key hash
    * or sampling sizes — and merge them per key on the reduce side, in key
    * order when `ord` is given. Per record this is `reduceByKey`'s
    * contract: a key's first value becomes its combiner, later values
    * merge into it.
    */
  private def combined(c: (V, V) => V, ord: Option[Ordering[K]]): RDD[(K, V)] = {
    require(!implicitly[ClassTag[K]].runtimeClass.isArray,
      "Cannot combine array keys: arrays hash by identity")
    val f = mapFn
    val partials = input.mapPartitions(it => MapReduceJob.combineInTask(it.flatMap(f), c))
    val shuffled = new ShuffledRDD[K, V, V](partials, defaultPartitioner)
      .setAggregator(new Aggregator[K, V, V]((v: V) => v, c, c))
      .setMapSideCombine(false)
    ord.fold(shuffled)(shuffled.setKeyOrdering)
  }
}

object MapReduceJob {

  /** Keys a map task's combine holds before it emits them and starts
    * over. At this size the benchmark's Zipf wordcount (2M tokens, 8 map
    * tasks) shuffles as many records as an unbounded combine; a smaller
    * cap shuffles more.
    */
  val CombineKeys: Int = 262144

  /** Start a job from any RDD with a map function (0..n emits per record,
    * like `panda_cpu_map` / `PandaEmitCPUMapOutput`).
    */
  def apply[I, K: ClassTag, V: ClassTag](
      input: RDD[I])(mapFn: I => IterableOnce[(K, V)]): MapReduceJob[I, K, V] =
    new MapReduceJob(input, mapFn, None, None, None)

  /** Group a sorted iterator into adjacent (key, values) runs, buffering
    * only one key's values at a time (values per key are assumed to fit a
    * task — same contract as the reference's `keyvals_t`).
    */
  private[core] def runsOf[K, V](
      it: Iterator[(K, V)], sameKey: (K, K) => Boolean): Iterator[(K, Seq[V])] =
    new Iterator[(K, Seq[V])] {
      private val in = it.buffered
      def hasNext: Boolean = in.hasNext
      def next(): (K, Seq[V]) = {
        val key = in.head._1
        val vals = scala.collection.mutable.ArrayBuffer.empty[V]
        while (in.hasNext && sameKey(in.head._1, key))
          vals += in.next()._2
        (key, vals.toSeq)
      }
    }

  /** Merges a map task's emits by key with `c`, holding at most
    * [[CombineKeys]] keys: a full map is emitted whole and a new one
    * started. One hash probe per record; a null key is a key like any
    * other.
    */
  private def combineInTask[K, V](
      emits: Iterator[(K, V)], c: (V, V) => V): Iterator[(K, V)] =
    new Iterator[(K, V)] {
      private var out: Iterator[(K, V)] = Iterator.empty
      private var value: V = _
      private val merge = (had: Boolean, old: V) => if (had) c(old, value) else value

      def hasNext: Boolean = out.hasNext || emits.hasNext && { fill(); true }
      def next(): (K, V) = if (hasNext) out.next() else Iterator.empty.next()

      private def fill(): Unit = {
        val m = new AppendOnlyMap[K, V]()
        while (m.size < CombineKeys && emits.hasNext) {
          val kv = emits.next()
          value = kv._2
          m.changeValue(kv._1, merge)
        }
        out = m.iterator
      }
    }
}
