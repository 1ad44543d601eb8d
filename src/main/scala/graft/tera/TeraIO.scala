package graft.tera

import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.{BytesWritable, LongWritable}
import org.apache.hadoop.mapreduce.lib.input.FixedLengthInputFormat
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession

/** Raw 100-byte-record file IO (the sortbenchmark on-disk format:
  * key(10) ‖ value(90), no framing — reference
  * `apps/terasort/TeraInputFormat.scala:47-113` / `TeraOutputFormat.scala`).
  *
  * Reading uses Hadoop's stock `FixedLengthInputFormat` (record-aligned
  * splits for free); writing uses [[TeraOutputFormat]], which
  * concatenates the pair back to 100 bytes. Both scale with partition
  * count — one split/file per task, no driver involvement.
  */
object TeraIO {

  /** Writes (key, value) pairs as back-to-back fixed-length records. */
  def write(data: RDD[(Array[Byte], Array[Byte])], path: String): Unit =
    data.saveAsNewAPIHadoopFile(
      path,
      classOf[Array[Byte]],
      classOf[Array[Byte]],
      classOf[TeraOutputFormat])

  /** FixedLengthInputFormat with the file listing sorted by path, so the
    * RDD's partition order follows part-file order — without this a
    * sorted directory reads back with permuted partitions and global
    * order validation fails (same fix as reference
    * `apps/terasort/TeraInputFormat.scala:47-113`).
    */
  final class SortedFixedLengthInputFormat extends FixedLengthInputFormat {
    override def listStatus(job: org.apache.hadoop.mapreduce.JobContext)
        : java.util.List[org.apache.hadoop.fs.FileStatus] = {
      val files = new java.util.ArrayList(super.listStatus(job))
      files.sort((a, b) => a.getPath.toString.compareTo(b.getPath.toString))
      files
    }
  }

  def read(spark: SparkSession, path: String): RDD[(Array[Byte], Array[Byte])] = {
    val conf = new org.apache.hadoop.conf.Configuration(
      spark.sparkContext.hadoopConfiguration)
    conf.setInt(FixedLengthInputFormat.FIXED_RECORD_LENGTH, TeraGen.RecordLen)
    spark.sparkContext
      .newAPIHadoopFile(
        path,
        classOf[SortedFixedLengthInputFormat],
        classOf[LongWritable],
        classOf[BytesWritable],
        conf)
      .map { case (_, rec) =>
        // the reader reuses `rec`'s buffer: slice both halves out of it
        val bytes = rec.getBytes
        (java.util.Arrays.copyOfRange(bytes, 0, TeraGen.KeyLen),
          java.util.Arrays.copyOfRange(bytes, TeraGen.KeyLen, TeraGen.RecordLen))
      }
  }

  /** Recursively delete a local/HDFS path (test + bench helper). */
  def delete(spark: SparkSession, path: String): Unit = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) { fs.delete(p, true); () }
  }
}
