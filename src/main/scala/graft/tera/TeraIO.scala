package graft.tera

import org.apache.hadoop.fs.Path
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession

/** Raw 100-byte-record file IO (the sortbenchmark on-disk format:
  * key(10) ‖ value(90), no framing — reference
  * `apps/terasort/TeraInputFormat.scala:47-113` / `TeraOutputFormat.scala`).
  *
  * Reading uses [[TeraInputFormat]] (record-aligned splits); writing
  * uses [[TeraOutputFormat]], which concatenates the pair back to
  * 100 bytes. Both scale with partition count — one split/file per
  * task, no driver involvement.
  */
object TeraIO {

  /** Writes (key, value) pairs as back-to-back fixed-length records. */
  def write(data: RDD[(Array[Byte], Array[Byte])], path: String): Unit =
    data.saveAsNewAPIHadoopFile(
      path,
      classOf[Array[Byte]],
      classOf[Array[Byte]],
      classOf[TeraOutputFormat])

  /** Reads back what [[write]] wrote, through [[TeraInputFormat]]: its
    * file listing is sorted by path, so the RDD's partition order
    * follows part-file order (a sorted directory reads back globally
    * sorted), and each record arrives as a fresh key and value array.
    */
  def read(spark: SparkSession, path: String): RDD[(Array[Byte], Array[Byte])] =
    spark.sparkContext.newAPIHadoopFile(path, classOf[TeraInputFormat],
      classOf[Array[Byte]], classOf[Array[Byte]])

  /** Recursively delete a local/HDFS path (test + bench helper). */
  def delete(spark: SparkSession, path: String): Unit = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) { fs.delete(p, true); () }
  }
}
