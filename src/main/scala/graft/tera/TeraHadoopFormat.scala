package graft.tera

import org.apache.hadoop.fs.{FileStatus, FSDataInputStream}
import org.apache.hadoop.mapreduce.{InputSplit, JobContext, RecordReader,
  RecordWriter, TaskAttemptContext}
import org.apache.hadoop.mapreduce.lib.input.{FileInputFormat, FileSplit}
import org.apache.hadoop.mapreduce.lib.output.FileOutputFormat

/** Hadoop-API drop-in entry points for reference job code: the reference
  * Scala terasort reads with
  * `sc.newAPIHadoopFile[Array[Byte], Array[Byte], TeraInputFormat](in)`
  * and writes with `sorted.saveAsNewAPIHadoopFile[TeraOutputFormat](out)`
  * (reference `apps/terasort/TeraSort.scala:60-63`), so a user ports a
  * job verbatim by switching the import to `graft.tera`. The engine's
  * own paths ([[TeraIO]], the `graft-fixed` DataSourceV2 source) remain
  * the preferred Spark-native surface; [[TeraIO]] reads and writes
  * through these two formats.
  *
  * Independent implementation, not the reference's (which buffers chunk
  * reads and drives termination off EOFException — reference
  * `apps/terasort/TeraInputFormat.scala:47-113`): splits here may land
  * mid-record and the reader claims exactly the records whose FIRST byte
  * falls inside its split, reading through a plain positioned stream —
  * no split ever loses or double-reads a boundary record, whatever the
  * block size. File listing is path-sorted so partition order follows
  * part-file order (the property TeraValidate's boundary check needs).
  */
class TeraInputFormat extends FileInputFormat[Array[Byte], Array[Byte]] {

  override def isSplitable(ctx: JobContext,
      file: org.apache.hadoop.fs.Path): Boolean = true

  override def listStatus(job: JobContext): java.util.List[FileStatus] = {
    val files = new java.util.ArrayList(super.listStatus(job))
    files.sort((a, b) => a.getPath.toString.compareTo(b.getPath.toString))
    files
  }

  override def createRecordReader(split: InputSplit, ctx: TaskAttemptContext)
      : RecordReader[Array[Byte], Array[Byte]] =
    new RecordReader[Array[Byte], Array[Byte]] {
      private var in: FSDataInputStream = _
      private var pos = 0L
      private var last = 0L // first byte past this split's record claim
      private var key: Array[Byte] = _
      private var value: Array[Byte] = _
      private val record = new Array[Byte](TeraGen.RecordLen)

      override def initialize(s: InputSplit, c: TaskAttemptContext): Unit = {
        val fs = s.asInstanceOf[FileSplit]
        val len = TeraGen.RecordLen.toLong
        // claim records starting inside [start, start+length)
        pos = (fs.getStart + len - 1) / len * len
        val splitEnd = fs.getStart + fs.getLength
        last = (splitEnd + len - 1) / len * len
        val fileLen = fs.getPath
          .getFileSystem(c.getConfiguration).getFileStatus(fs.getPath).getLen
        if (last > fileLen) last = fileLen / len * len
        in = fs.getPath.getFileSystem(c.getConfiguration).open(fs.getPath)
        in.seek(pos)
      }

      override def nextKeyValue(): Boolean = {
        if (pos >= last) return false
        in.readFully(record)
        key = java.util.Arrays.copyOfRange(record, 0, TeraGen.KeyLen)
        value = java.util.Arrays
          .copyOfRange(record, TeraGen.KeyLen, TeraGen.RecordLen)
        pos += TeraGen.RecordLen
        true
      }

      override def getCurrentKey: Array[Byte] = key
      override def getCurrentValue: Array[Byte] = value
      override def getProgress: Float =
        if (last == 0) 1.0f else (pos.toFloat / last)
      override def close(): Unit = if (in != null) in.close()
    }
}

/** key(10) ‖ value(90) back to raw 100-byte records: the write half of
  * the verbatim-port surface, and the format [[TeraIO.write]] uses.
  * Records are copied into a private buffer and reach the file stream
  * one [[TeraOutputFormat.BufferBytes]] buffer at a time, not as two
  * stream calls per record.
  */
class TeraOutputFormat extends FileOutputFormat[Array[Byte], Array[Byte]] {
  override def getRecordWriter(ctx: TaskAttemptContext)
      : RecordWriter[Array[Byte], Array[Byte]] = {
    val file = getDefaultWorkFile(ctx, "")
    val out = file.getFileSystem(ctx.getConfiguration).create(file, false)
    new RecordWriter[Array[Byte], Array[Byte]] {
      private val buf = new Array[Byte](TeraOutputFormat.BufferBytes)
      private var used = 0

      private def put(bytes: Array[Byte]): Unit = {
        if (used + bytes.length > buf.length) { out.write(buf, 0, used); used = 0 }
        if (bytes.length > buf.length) out.write(bytes)
        else { System.arraycopy(bytes, 0, buf, used, bytes.length); used += bytes.length }
      }

      override def write(key: Array[Byte], value: Array[Byte]): Unit = {
        put(key)
        put(value)
      }
      override def close(c: TaskAttemptContext): Unit = {
        out.write(buf, 0, used)
        out.close()
      }
    }
  }
}

object TeraOutputFormat {
  private[tera] val BufferBytes: Int = 64 << 10
}
