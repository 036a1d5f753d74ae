package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.expressions.Expression

import graft.functions.FloatVecDistance

/** Session integration: `SparkSession.builder().withExtensions(new
  * GraftExtensions)` injects the KnnJoin planner strategy and the
  * vector SQL functions; `GraftExtensions.register(spark)` does the
  * same on an already-built session.
  *
  * After registration plain SQL works:
  * {{{
  *   SELECT vec_id, vec_cosine_distance(embedding, qv) AS dist ...
  * }}}
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectPlannerStrategy(_ => graft.plans.KnnJoinStrategy)
    GraftExtensions.builders.foreach { case (name, b) =>
      e.injectFunction((
        org.apache.spark.sql.catalyst.FunctionIdentifier(name),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[FloatVecDistance].getName, name),
        b))
    }
  }
}

object GraftExtensions {
  /** Wrap a builder with an arity check so `SELECT vec_x_distance()`
    * fails with a clean analysis-time message naming the function and
    * the expected arity, instead of an IndexOutOfBoundsException from
    * inside the builder (ADVICE r16) — and extra arguments error
    * instead of being silently ignored. */
  private def arity(name: String, n: Int)(
      b: Seq[Expression] => Expression): Seq[Expression] => Expression =
    args =>
      if (args.length == n) b(args)
      else throw new org.apache.spark.sql.AnalysisException(
        errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
        messageParameters = Map(
          "functionName" -> name, "expectedNum" -> n.toString,
          "actualNum" -> args.length.toString, "docroot" -> ""))

  private[graft] val builders: Seq[(String, Seq[Expression] => Expression)] =
    FloatVecDistance.metrics.toSeq.sorted.map { m =>
      val name = s"vec_${m}_distance"
      name -> arity(name, 2)(args => FloatVecDistance(args(0), args(1), m))
    } :+ ("url_canonicalize" ->
      arity("url_canonicalize", 1)(args => graft.functions.UrlCanonicalize(args(0))))

  /** Idempotent programmatic registration on a live session: a name
    * already bound to its builder here is left as it is. */
  def register(spark: SparkSession): Unit = {
    graft.plans.KnnJoin.ensureStrategy(spark)
    builders.foreach { case (name, b) =>
      GraftColumnBridge.registerFunction(spark, name, b)
    }
  }
}
