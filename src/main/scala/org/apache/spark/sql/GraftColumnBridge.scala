package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to the `private[sql]` Column ↔ Expression converters.
  *
  * Spark 4 moved `Column` to the api module (ColumnNode-backed); the
  * supported conversion lives in `classic.ExpressionUtils`, which is
  * `private[sql]`. Extension libraries conventionally expose it via a
  * same-package shim (cf. public Spark-extension projects that place
  * factories in `org.apache.spark.sql`).
  */
object GraftColumnBridge {
  def toExpr(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def toColumn(e: Expression): Column = classic.ExpressionUtils.column(e)

  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def analyzed(df: DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed

  /** `df`'s rows computed once into an RDD persisted at `level`, and a
    * frame over that RDD (`Scan ExistingRDD`). The RDD is returned so
    * the owner can unpersist it. The frame keeps full lineage (a lost
    * block is recomputed, unlike `localCheckpoint`) and carries `df`'s
    * optimizer statistics, so joins over it plan as they did over
    * `df`. Lazy: the first action over either fills the cache. */
  def persisted(df: DataFrame, level: org.apache.spark.storage.StorageLevel)
      : (DataFrame, org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow]) = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val rdd = ds.queryExecution.toRdd.map(_.copy()).persist(level)
    (classic.Dataset.ofRows(ds.sparkSession,
      execution.LogicalRDD.fromDataset(rdd, ds, isStreaming = false)), rdd)
  }

  /** Register a scalar function on a live session (the
    * non-.withExtensions path; sessionState is private[sql]). */
  def registerFunction(spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, builder, "scala_udf")
}
