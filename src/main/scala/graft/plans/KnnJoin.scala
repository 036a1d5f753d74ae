package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, BindReferences, Expression, JoinedRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.DoubleType

import graft.functions.{SafeRound, VecMath}

/** KNN join as a first-class operator: for every left row, the k
  * nearest right rows by a vector distance — the whole-operator form
  * of batch similarity search (preference (c) in the build rules:
  * LogicalPlan + Strategy + SparkPlan, injected via
  * SparkSessionExtensions).
  *
  * Physical topology: the right (index) side is broadcast once with
  * its vectors pre-decoded to primitive arrays; each left partition
  * streams through a bounded per-row heap. No shuffle of either input,
  * output is exactly left×k rows. This is the correct distributed
  * shape whenever the index side fits a broadcast (the IVF path covers
  * the case it doesn't).
  */
case class KnnJoinPlan(
    left: LogicalPlan,
    right: LogicalPlan,
    leftVec: Attribute,
    rightVec: Attribute,
    k: Int,
    metric: String,
    roundDp: Int = -1,
    rightTie: Option[Attribute] = None,
    distAttr: AttributeReference =
      AttributeReference("dist", DoubleType, nullable = false)())
  extends BinaryNode {

  override def output: Seq[Attribute] = left.output ++ right.output :+ distAttr
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(distAttr)
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): KnnJoinPlan =
    copy(left = newLeft, right = newRight)
}

case class KnnJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    leftVec: Attribute,
    rightVec: Attribute,
    k: Int,
    metric: String,
    roundDp: Int,
    rightTie: Option[Attribute],
    distAttr: AttributeReference)
  extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output ++ right.output :+ distAttr
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(distAttr)

  override protected def doExecute(): RDD[InternalRow] = {
    val rightRows = right.executeCollect()
    val rightVecBound = BindReferences.bindReference(rightVec: Expression, right.output)
    val rightTieBound = rightTie.map(t => BindReferences.bindReference(t: Expression, right.output))
    // tie value: a caller-chosen integral right-side id (so heap order
    // matches an external "(dist, id)" total order), else the collect
    // index (arbitrary but deterministic within a run).
    val rightData: Array[(InternalRow, Array[Float], Long)] = rightRows.zipWithIndex.map { case (r, i) =>
      val tie = rightTieBound.map(_.eval(r) match {
        case l: java.lang.Long => l.longValue()
        case n: java.lang.Number => n.longValue()
      }).getOrElse(i.toLong)
      (r, rightVecBound.eval(r).asInstanceOf[ArrayData].toFloatArray(), tie)
    }
    val bc = sparkContext.broadcast(rightData)
    val leftOut = left.output
    val outAttrs = output
    val m = metric
    val kk = k
    val lv = leftVec
    val dp = roundDp
    left.execute().mapPartitions { it =>
      val data = bc.value
      val leftVecBound = BindReferences.bindReference(lv: Expression, leftOut)
      val proj = UnsafeProjection.create(outAttrs, outAttrs)
      val joinedLR = new JoinedRow
      val joinedAll = new JoinedRow
      val ord = Ordering.Tuple3(Ordering.Double.TotalOrdering, Ordering.Long, Ordering.Int)
      // when roundDp >= 0, round INSIDE the operator (SafeRound's
      // rule, so dist equals a SafeRound.round column) so the kept-k
      // set is selected on the same key the consumer ranks on —
      // rounding after a tighter unrounded heap can drop a candidate
      // that ties on the rounded value with a smaller id (ADVICE r1).
      val rnd: Double => Double =
        if (dp < 0) identity else d => SafeRound.roundValue(d, dp)
      it.flatMap { lrow =>
        val lvArr = leftVecBound.eval(lrow).asInstanceOf[ArrayData].toFloatArray()
        // bounded max-heap of (dist, tie, rightIdx)
        val heap = scala.collection.mutable.PriorityQueue.empty[(Double, Long, Int)](ord)
        var i = 0
        while (i < data.length) {
          val d = rnd(VecMath.dist(m, lvArr, data(i)._2))
          val cand = (d, data(i)._3, i)
          if (heap.size < kk) heap.enqueue(cand)
          else if (ord.lt(cand, heap.head)) { heap.dequeue(); heap.enqueue(cand) }
          i += 1
        }
        val lcopy = lrow.copy()
        heap.toArray.sorted(ord).map { case (d, _, idx) =>
          joinedAll(joinedLR(lcopy, data(idx)._1), InternalRow(d))
          proj(joinedAll).copy(): InternalRow
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): KnnJoinExec =
    copy(left = newLeft, right = newRight)
}

object KnnJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case KnnJoinPlan(l, r, lv, rv, k, m, dp, tie, d) =>
      KnnJoinExec(planLater(l), planLater(r), lv, rv, k, m, dp, tie, d) :: Nil
    case _ => Nil
  }
}

object KnnJoin {
  /** Register the strategy on this session (idempotent; also done by
    * GraftExtensions for sessions built with .withExtensions). */
  def ensureStrategy(spark: SparkSession): Unit =
    if (!spark.experimental.extraStrategies.contains(KnnJoinStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ KnnJoinStrategy

  /** For every left row: its k nearest right rows by `metric` distance
    * between `leftVecCol` and `rightVecCol`, plus a `dist` column.
    *
    * `roundDp >= 0` rounds the distance inside the operator
    * ([[graft.functions.SafeRound.roundValue]]) BEFORE heap selection;
    * `tieBreak` names an integral right-side column used as the heap's
    * secondary sort key, making the kept k exactly the k smallest by
    * (rounded dist, tieBreak) — the order an oracle's
    * `ORDER BY dist, id` would produce. */
  def apply(leftDf: DataFrame, rightDf: DataFrame,
      leftVecCol: String, rightVecCol: String,
      k: Int, metric: String = "cosine",
      roundDp: Int = -1, tieBreak: Option[String] = None): DataFrame = {
    require(VecMath.metrics.contains(metric),
      s"unknown metric $metric (one of ${VecMath.metrics.mkString(",")})")
    val spark = leftDf.sparkSession
    ensureStrategy(spark)
    val l = GraftColumnBridge.analyzed(leftDf)
    val r = GraftColumnBridge.analyzed(rightDf)
    val lv = l.output.find(_.name == leftVecCol)
      .getOrElse(throw new IllegalArgumentException(s"no column $leftVecCol on left"))
    val rv = r.output.find(_.name == rightVecCol)
      .getOrElse(throw new IllegalArgumentException(s"no column $rightVecCol on right"))
    val tie = tieBreak.map(t => r.output.find(_.name == t)
      .getOrElse(throw new IllegalArgumentException(s"no column $t on right")))
    GraftColumnBridge.ofRows(spark, KnnJoinPlan(l, r, lv, rv, k, metric, roundDp, tie))
  }
}
