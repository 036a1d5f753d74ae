package org.apache.spark.mllib.clustering

import org.apache.spark.mllib.linalg.Vectors

/** Bridge to MLlib's `private[mllib]` driver-side k-means: the
  * k-means++ seeding and Lloyd rounds MLlib itself runs on the
  * k-means|| candidate set. Same-package shim, as
  * [[org.apache.spark.sql.GraftColumnBridge]] is for `private[sql]`. */
object GraftLocalKMeans {
  /** Euclidean k-means++ on unit-weight `points`, then up to `maxIter`
    * Lloyd rounds; `k` centers, deterministic in (`points` order, `seed`). */
  def fit(points: Array[Array[Double]], k: Int, seed: Int, maxIter: Int): Array[Array[Double]] =
    LocalKMeans.kMeansPlusPlus(seed, points.map(p => new VectorWithNorm(Vectors.dense(p))),
      Array.fill(points.length)(1.0), k, maxIter).map(_.vector.toArray)
}
