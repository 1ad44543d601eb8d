package graft.functions

import org.apache.spark.sql.{Column, GraftShims}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Native HyperLogLog register aggregate — the engine's demonstration of
  * the custom AGGREGATE extension point (scalar expressions: ElfHashExpr
  * / VectorDot; whole operators: AsofJoin; this closes the triple).
  *
  * Input is the already-hashed 48-bit token hash
  * ([[graft.ops.Sketches.h48]] — md5-derived, engine-independent), so
  * the aggregate is pure bit arithmetic and its registers are IDENTICAL
  * to the SQL-composed [[graft.ops.Sketches.hllRegisters]] path: bucket
  * = top 6 bits, rho = position of the first set bit in the low 42
  * (43 when all-zero). That identity is what lets the native path reuse
  * sketch_hll's DuckDB oracle verbatim.
  *
  * Why it exists next to the SQL composition: ONE aggregation pass with
  * 64 bytes of state per group replaces the two-level
  * groupBy(source, bucket).max + groupBy(source) plan, and the buffer
  * rides the streaming state store (stream_hll_native) — the right tool
  * when the sketch must live across micro-batches, or when callers want
  * `hll_regs(h)` as one SQL aggregate. (NOT a high-cardinality-groups
  * tool: ObjectHashAggregate falls back to sort-based aggregation past
  * `spark.sql.objectHashAggregate.sortBased.fallbackThreshold` in-memory
  * keys — 128 by default — where the composed codegen'd plan hash-aggs
  * and spills normally.)
  *
  * MEASURED (`graft.Profile ops`, local[32], repeated isolated runs): the
  * native pass is faster at every probed scale — 0.5 s vs 1.0 s at x1,
  * 1.4-1.6 s vs 2.0-2.5 s at x10, and 7.2-15.0 s vs 7.4-18.4 s at x100
  * (50M tokens; run-order noise dominates there, both paths are bounded
  * by the shared token-explode + md5 projection, not the aggregate).
  * One caveat stands: TypedImperativeAggregate plans as
  * ObjectHashAggregate, whose per-row update is interpreted (child.eval
  * boxing, outside whole-stage codegen) — with 20 groups that overhead
  * is masked by the projection, but a workload whose per-row cost is
  * dominated by the aggregate itself (cheap input expressions, very
  * wide rows) should prefer the codegen'd composed plan
  * ([[graft.ops.Sketches.hllRegisters]]). A first x100 measurement of
  * 45.5 s was a GC artifact of running directly after a 214 s dedup
  * sweep in the same JVM; the probe's SCALE_OPS isolation knob exists
  * because of it.
  */
case class HllRegsAgg(
    child: Expression,
    buckets: Int = graft.ops.Sketches.HllBuckets,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Byte]]
  with ExpectsInputTypes with UnaryLike[Expression] {

  require(buckets >= 16 && buckets <= 65536 &&
    Integer.bitCount(buckets) == 1,
    s"hll_regs: register count must be a power of two in [16, 65536], " +
      s"got $buckets")

  // register GEOMETRY: bucket = top log2(m) bits of the 48-bit hash,
  // rho over the remaining bits — at the default m = 64 this is
  // bit-identical to Sketches.HllBuckets/HllRemBits (the oracle-checked
  // gates all run there); wider counts trade state (m bytes per group)
  // for estimate error (~1.04/sqrt(m)), the knob the manifest NDV
  // group exposes through buildNdvIndex(registers = ...)
  private val Buckets = buckets
  private val RemBits = 48 - Integer.numberOfTrailingZeros(buckets)
  private val MaxRho = RemBits + 1

  override def inputTypes: Seq[DataType] = Seq(LongType)
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = false

  override def createAggregationBuffer(): Array[Byte] = new Array[Byte](Buckets)

  override def update(buf: Array[Byte], input: InternalRow): Array[Byte] = {
    val v = child.eval(input)
    if (v != null) {
      val h = v.asInstanceOf[Long]
      val bucket = (h >>> RemBits).toInt & (Buckets - 1)
      val w = h & ((1L << RemBits) - 1)
      // rho = MaxRho - bitlength(w); bitlength(w>0) = 64 - nlz(w)
      val rho =
        if (w == 0L) MaxRho
        else MaxRho - (64 - java.lang.Long.numberOfLeadingZeros(w))
      if (rho > buf(bucket)) buf(bucket) = rho.toByte
    }
    buf
  }

  override def merge(buf: Array[Byte], other: Array[Byte]): Array[Byte] = {
    var i = 0
    while (i < Buckets) {
      if (other(i) > buf(i)) buf(i) = other(i)
      i += 1
    }
    buf
  }

  override def eval(buf: Array[Byte]): Any =
    new GenericArrayData(buf.map(_.toInt))

  // Clone on both boundaries: returning the live buffer would alias the
  // mutable aggregation state with the serialized bytes. Safe today only
  // because UnsafeRow.getBinary copies — 64 bytes of defensive copy is
  // cheaper than depending on that implementation detail holding.
  override def serialize(buf: Array[Byte]): Array[Byte] = buf.clone()
  override def deserialize(bytes: Array[Byte]): Array[Byte] = bytes.clone()

  override def withNewMutableAggBufferOffset(newOffset: Int): HllRegsAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HllRegsAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): HllRegsAgg =
    copy(child = newChild)

  override def prettyName: String = "hll_regs"
}

object HllRegsAgg {
  /** DataFrame-side helper: `df.groupBy(...).agg(hll_regs(col("h")))`. */
  def hll_regs(c: Column): Column =
    GraftShims.columnOf(
      HllRegsAgg(GraftShims.expressionOf(c)).toAggregateExpression())

  /** Width-parameterized variant (the manifest NDV group's consumer). */
  def hll_regs(c: Column, buckets: Int): Column =
    GraftShims.columnOf(
      HllRegsAgg(GraftShims.expressionOf(c), buckets)
        .toAggregateExpression())
}
