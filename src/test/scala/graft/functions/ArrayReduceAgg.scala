package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge.{toColumn, toExpr}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Elementwise reduce of `array<long>` rows into one array: the
  * signature-aggregation kernel for MinHash (elementwise min) and
  * SimHash (elementwise sum).
  *
  * Why a custom aggregate: the relational formulation explodes one row
  * per (doc, shingle, seed) and shuffles all of them to a
  * groupBy(doc, seed) — a ×32 row blowup through the exchange. This
  * aggregate keeps the ×32 fan-out map-side: the partial buffer is one
  * fixed-width Array[Long] per group, merged elementwise, so shuffle
  * volume is #groups × width longs regardless of corpus size — the
  * difference between shuffling 100 TB of hash rows and shuffling a
  * signature table.
  *
  * Values are identical to the exploded formulation (min/sum are
  * order-insensitive), so the DuckDB oracle is unchanged.
  *
  * RETIRED from the hot paths in r18: a TypedImperativeAggregate
  * forces ObjectHashAggregate (no whole-stage codegen) and allocates
  * one array per input row. SimHash (Dedup.simhashSig) now runs 32
  * FLAT sum() columns through one codegen HashAggregate, and MinHash
  * computes each document's signature inside its row
  * ([[MinhashSig]]), with no aggregate at all. No production path
  * calls this aggregate, so it lives in the test tree: it is the
  * reference implementation of the elementwise-reduce contract that
  * KernelSpec pins the signature kernel against.
  */
case class ArrayLongReduce(
    child: Expression,
    isMin: Boolean,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  override def children: Seq[Expression] = child :: Nil
  override def nullable: Boolean = true
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = if (isMin) "array_long_min" else "array_long_sum"

  override def createAggregationBuffer(): Array[Long] = null

  override def update(buffer: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v == null) return buffer
    val arr = v.asInstanceOf[ArrayData].toLongArray()
    if (buffer == null) return arr.clone()
    val n = math.min(buffer.length, arr.length)
    var i = 0
    if (isMin) while (i < n) { if (arr(i) < buffer(i)) buffer(i) = arr(i); i += 1 }
    else while (i < n) { buffer(i) += arr(i); i += 1 }
    buffer
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    if (b1 == null) return b2
    if (b2 == null) return b1
    val n = math.min(b1.length, b2.length)
    var i = 0
    if (isMin) while (i < n) { if (b2(i) < b1(i)) b1(i) = b2(i); i += 1 }
    else while (i < n) { b1(i) += b2(i); i += 1 }
    b1
  }

  override def eval(buffer: Array[Long]): Any =
    if (buffer == null) null else new GenericArrayData(buffer)

  override def serialize(buffer: Array[Long]): Array[Byte] = {
    if (buffer == null) return Array.emptyByteArray
    val bb = ByteBuffer.allocate(buffer.length * 8)
    buffer.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    if (bytes.isEmpty) return null
    val bb = ByteBuffer.wrap(bytes)
    Array.fill(bytes.length / 8)(bb.getLong)
  }

  override def withNewMutableAggBufferOffset(o: Int): ArrayLongReduce =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): ArrayLongReduce =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(child = c.head)
}

object ArrayReduceAgg {
  /** Elementwise min of array<long> values in the group. */
  def arrayMinAgg(c: Column): Column =
    toColumn(ArrayLongReduce(toExpr(c), isMin = true).toAggregateExpression())

  /** Elementwise sum of array<long> values in the group. */
  def arraySumAgg(c: Column): Column =
    toColumn(ArrayLongReduce(toExpr(c), isMin = false).toAggregateExpression())
}
