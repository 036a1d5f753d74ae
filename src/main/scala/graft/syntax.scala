package graft

import org.apache.spark.sql.{Column, DataFrame}

import graft.functions.{FloatVecDistance, TopKAgg}
import graft.operators.BinaryVector

/** Ergonomic extension syntax over the generic library pieces — the
  * API a user writes against day-to-day:
  *
  * {{{
  *   import graft.syntax._
  *   emb.knnJoin(index, "embedding", "nvec", k = 5)        // custom operator
  *   df.select($"v".cosineTo($"q"), $"v".binarized)        // column ops
  *   scored.topKPerKey($"user", $"dist", $"item", k = 3)   // bounded top-k
  * }}}
  */
object syntax {

  implicit class GraftVecColumn(private val c: Column) extends AnyVal {
    /** Cosine distance to another float-array column (codegen'd). */
    def cosineTo(other: Column): Column = FloatVecDistance.cosine(c, other)
    def l2To(other: Column): Column = FloatVecDistance.l2(c, other)
    def dotTo(other: Column): Column = FloatVecDistance.dot(c, other)
    def manhattanTo(other: Column): Column = FloatVecDistance.manhattan(c, other)
    /** Sign-bit binarization into 32-bit packed words. */
    def binarized: Column = BinaryVector.binarize(c)
  }

  implicit class GraftDataFrame(private val df: DataFrame) extends AnyVal {
    /** For every row: the k nearest rows of `right` by vector distance —
      * the whole-operator KnnJoin (broadcast index, per-row heap). */
    def knnJoin(right: DataFrame, leftVec: String, rightVec: String,
        k: Int, metric: String = "cosine"): DataFrame =
      graft.plans.KnnJoin(df, right, leftVec, rightVec, k, metric)

    /** Bounded top-k rows per key by ascending `dist` (shuffle carries
      * keys×k, not every candidate): returns (key, id, dist, rnk). */
    def topKPerKey(key: Column, dist: Column, id: Column, k: Int): DataFrame =
      TopKAgg.perKey(key, dist, id, k)(df)
  }
}
