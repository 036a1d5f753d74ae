package graft.functions

import java.nio.ByteBuffer

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.GraftColumnBridge.{toColumn, toExpr}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.{col, posexplode}
import org.apache.spark.sql.types._

/** Bounded top-k-by-distance aggregate: keeps the k smallest
  * (dist, id) pairs per group in a size-capped heap.
  *
  * This is the distributed-knn shape: `row_number().over(partitionBy
  * key orderBy dist)` shuffles and sorts *every* candidate pair; this
  * aggregate reduces each map partition to ≤ k entries per key before
  * the exchange, so shuffle volume is #keys × k regardless of how many
  * candidates were scored — the difference between shuffling N·M
  * scored pairs and shuffling the answer.
  *
  * Ordering is (dist, id) lexicographic, identical to the window
  * formulation's orderBy(dist, nid) — results are byte-identical.
  */
case class TopKByDist(
    distExpr: Expression,
    idExpr: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.PriorityQueue[(Double, Long)]] {

  override def children: Seq[Expression] = Seq(distExpr, idExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("dist", DoubleType), StructField("id", LongType))),
    containsNull = false)
  override def prettyName: String = "topk_by_dist"

  // max-heap on (dist, id): head = current worst of the kept k.
  private val ord: Ordering[(Double, Long)] =
    Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long)

  override def createAggregationBuffer(): mutable.PriorityQueue[(Double, Long)] =
    mutable.PriorityQueue.empty[(Double, Long)](ord)

  override def update(
      buf: mutable.PriorityQueue[(Double, Long)],
      input: InternalRow): mutable.PriorityQueue[(Double, Long)] = {
    val d = distExpr.eval(input)
    val id = idExpr.eval(input)
    if (d != null && id != null) {
      val entry = (d.asInstanceOf[Double], id.asInstanceOf[Long])
      if (buf.size < k) buf.enqueue(entry)
      else if (ord.lt(entry, buf.head)) { buf.dequeue(); buf.enqueue(entry) }
    }
    buf
  }

  override def merge(
      b1: mutable.PriorityQueue[(Double, Long)],
      b2: mutable.PriorityQueue[(Double, Long)]): mutable.PriorityQueue[(Double, Long)] = {
    b2.foreach { e =>
      if (b1.size < k) b1.enqueue(e)
      else if (ord.lt(e, b1.head)) { b1.dequeue(); b1.enqueue(e) }
    }
    b1
  }

  override def eval(buf: mutable.PriorityQueue[(Double, Long)]): Any = {
    val sorted = buf.toArray.sorted(ord)
    new GenericArrayData(sorted.map { case (d, id) =>
      InternalRow(d, id)
    }.asInstanceOf[Array[Any]])
  }

  override def serialize(buf: mutable.PriorityQueue[(Double, Long)]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + buf.size * 16)
    bb.putInt(buf.size)
    buf.foreach { case (d, id) => bb.putDouble(d); bb.putLong(id) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): mutable.PriorityQueue[(Double, Long)] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val q = createAggregationBuffer()
    (0 until n).foreach(_ => q.enqueue((bb.getDouble, bb.getLong)))
    q
  }

  override def withNewMutableAggBufferOffset(o: Int): TopKByDist =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TopKByDist =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(distExpr = c(0), idExpr = c(1))
}

object TopKAgg {
  /** Top-k smallest (dist, id) pairs in the group, ascending. */
  def topkByDist(dist: Column, id: Column, k: Int): Column =
    toColumn(TopKByDist(toExpr(dist), toExpr(id), k).toAggregateExpression())

  /** The k nearest rows per `key` of `df`, one row each:
    * (key, id, dist, rnk), ascending by (dist, id), rnk from 1. The
    * shuffle carries keys × k, not every scored pair. Callers rename
    * `id` (and the key) to their own contract. */
  def perKey(key: Column, dist: Column, id: Column, k: Int)(df: DataFrame): DataFrame =
    df.groupBy(key)
      .agg(topkByDist(dist, id, k).as("top"))
      .select(key, posexplode(col("top")))
      .select(key, col("col.id").as("id"), col("col.dist").as("dist"),
        (col("pos") + 1).cast("long").as("rnk"))
}
