package graft.tera

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.Partitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.tera.TeraGen.{KeyLen, RecordLen, ValueLen}

/** Total order over 10-byte binary keys, unsigned lexicographic.
  *
  * Two equivalent paths (both validated):
  *  - RDD: explicit range partitioner on the 7-byte key prefix, then each
  *    reduce task sorts its range in memory ([[sortPartition]]): ONE
  *    shuffle, per reference `apps/terasort/TeraSort.scala:60-63`.
  *  - DataFrame: `repartitionByRange + sortWithinPartitions` on the
  *    BinaryType key (Spark's binary ordering is already unsigned
  *    lexicographic); Catalyst samples range bounds, which adapts to skew
  *    that the static prefix partitioner cannot.
  *
  * Scale: the static partitioner needs no sampling pass and is O(1) per
  * record; uniform keys (teragen's are) spread evenly across any partition
  * count, so 100 TB just means more partitions, never more per-task state.
  * A task holds its whole range partition: about `RecordLen + 12` bytes
  * per record, with no spill, so partitions are sized to fit the heap
  * ([[graft.queries.TeraQueries.sortPartitions]]' 64 MB rule).
  */
object TeraSort {

  /** Unsigned lexicographic ordering for byte arrays (JDK intrinsic). */
  implicit val byteArrayOrdering: Ordering[Array[Byte]] =
    (a: Array[Byte], b: Array[Byte]) => java.util.Arrays.compareUnsigned(a, b)

  /** Range-partition on the first 7 key bytes, mapped evenly onto
    * `numPartitions` buckets (reference semantics:
    * `apps/terasort/TeraSortPartitioner.scala:28-44`). Deviation: the
    * bucket index is clamped to numPartitions-1 — the reference's integer
    * division can emit index == numPartitions for the top 1-2 prefixes of
    * the 2^56 space, which Spark would reject.
    */
  final class PrefixRangePartitioner(val numPartitions: Int) extends Partitioner {
    require(numPartitions > 0)
    private val prefixSpace = 1L << 56
    private val perBucket = prefixSpace / numPartitions +
      (if (prefixSpace % numPartitions == 0) 0 else 1)

    def prefixOf(key: Array[Byte]): Long = {
      var p = 0L
      var i = 0
      while (i < 7) { p = (p << 8) | (key(i) & 0xffL); i += 1 }
      p
    }

    override def getPartition(key: Any): Int = {
      val bucket = prefixOf(key.asInstanceOf[Array[Byte]]) / perBucket
      math.min(bucket.toInt, numPartitions - 1)
    }
  }

  /** RDD path: one shuffle, sorted within partitions, partitions globally
    * range-ordered. The shuffle carries no key ordering: each reduce task
    * sorts its range with [[sortPartition]].
    */
  def sortRdd(input: RDD[(Array[Byte], Array[Byte])], partitions: Int)
      : RDD[(Array[Byte], Array[Byte])] =
    input.partitionBy(new PrefixRangePartitioner(partitions))
      .mapPartitions(sortPartition, preservesPartitioning = true)

  // records per buffer page: growth allocates one more page, never copies
  private val PageShift = 15
  private val PageRecords = 1 << PageShift
  private val PageMask = PageRecords - 1

  /** Most records one partition may hold: their packed sort keys live in
    * one `long[]`, whose length the JVM caps just below `Int.MaxValue`.
    */
  private[tera] val MaxPartitionRecords: Int = Int.MaxValue - 15

  /** Refuses a partition that has grown to `records` records when that is
    * more than [[MaxPartitionRecords]].
    */
  private[tera] def checkPartitionRecords(records: Long): Unit =
    if (records > MaxPartitionRecords)
      throw new IllegalArgumentException(
        s"TeraSort: a range partition reached $records records, more than " +
          s"the $MaxPartitionRecords one task can sort in memory; sort " +
          "with more partitions")

  /** Low bits of a packed sort key that hold the record index, for a
    * partition of `records` records.
    */
  private[tera] def indexBits(records: Int): Int =
    32 - Integer.numberOfLeadingZeros(math.max(records, 1) - 1)

  /** Sorts one partition of 10-byte keys and 90-byte values by key.
    *
    *  1. Copies the records into fixed-size pages of one record buffer.
    *  2. Packs each record as (the top `64 - indexBits` bits of its first 8
    *     key bytes ‖ its index), flips the sign bit so that a signed sort
    *     orders the keys unsigned, and sorts the `long[]`.
    *  3. Re-sorts each run of equal packed prefixes by the full key with
    *     [[byteArrayOrdering]], so key order has one definition.
    *  4. Emits `(key, value)` copies lazily, in order.
    *
    * Records with equal keys come out in no particular order, as from
    * Spark's shuffle sorter.
    */
  private[tera] def sortPartition(records: Iterator[(Array[Byte], Array[Byte])])
      : Iterator[(Array[Byte], Array[Byte])] = {
    val pages = ArrayBuffer.empty[Array[Byte]]
    var n = 0
    while (records.hasNext) {
      val (k, v) = records.next()
      require(k.length == KeyLen && v.length == ValueLen,
        s"TeraSort sorts $KeyLen-byte keys with $ValueLen-byte values, " +
          s"got ${k.length} and ${v.length} bytes")
      if (n == MaxPartitionRecords) checkPartitionRecords(n + 1L)
      if ((n & PageMask) == 0) pages += new Array[Byte](PageRecords * RecordLen)
      val pg = pages(n >>> PageShift)
      val off = (n & PageMask) * RecordLen
      System.arraycopy(k, 0, pg, off, KeyLen)
      System.arraycopy(v, 0, pg, off + KeyLen, ValueLen)
      n += 1
    }
    if (n == 0) return Iterator.empty

    def page(i: Int): Array[Byte] = pages(i >>> PageShift)
    def offset(i: Int): Int = (i & PageMask) * RecordLen
    val high = -1L << indexBits(n)
    val packed = new Array[Long](n)
    var i = 0
    while (i < n) {
      val pg = page(i)
      val off = offset(i)
      var prefix = 0L
      var j = 0
      while (j < 8) { prefix = (prefix << 8) | (pg(off + j) & 0xffL); j += 1 }
      packed(i) = ((prefix & high) | i) ^ Long.MinValue
      i += 1
    }
    java.util.Arrays.sort(packed)

    def key(i: Int): Array[Byte] =
      java.util.Arrays.copyOfRange(page(i), offset(i), offset(i) + KeyLen)
    var from = 0
    while (from < n) {
      val top = packed(from) & high
      var to = from + 1
      while (to < n && (packed(to) & high) == top) to += 1
      if (to - from > 1) {
        val run = Array.tabulate(to - from) { r =>
          val idx = (packed(from + r) & ~high).toInt
          (key(idx), idx)
        }.sortBy(_._1)(byteArrayOrdering)
        run.indices.foreach(r => packed(from + r) = top | run(r)._2)
      }
      from = to
    }

    Iterator.tabulate(n) { r =>
      val idx = (packed(r) & ~high).toInt
      val pg = page(idx)
      val off = offset(idx)
      (java.util.Arrays.copyOfRange(pg, off, off + KeyLen),
        java.util.Arrays.copyOfRange(pg, off + KeyLen, off + RecordLen))
    }
  }

  /** DataFrame path over (key binary, value binary). */
  def sortDf(input: DataFrame, partitions: Int): DataFrame =
    input.repartitionByRange(partitions, col("key")).sortWithinPartitions("key")

  /** End-to-end generate + sort, RDD path. */
  def generateAndSort(spark: SparkSession, numRecords: Long, partitions: Int)
      : RDD[(Array[Byte], Array[Byte])] =
    sortRdd(TeraGen.records(spark, numRecords, partitions).rdd, partitions)
}
