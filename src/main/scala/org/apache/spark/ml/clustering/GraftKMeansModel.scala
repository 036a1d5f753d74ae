package org.apache.spark.ml.clustering

import org.apache.spark.ml.param.ParamMap
import org.apache.spark.ml.util.Identifiable
import org.apache.spark.mllib.clustering.{KMeansModel => MLlibKMeansModel}
import org.apache.spark.mllib.linalg.Vectors

/** Bridge to the `private[ml]` [[KMeansModel]] constructor: centers
  * fitted outside `KMeans.fit` become a model that `transform`s like
  * one it returned. */
object GraftKMeansModel {
  /** A model over `centers` that assigns by `distanceMeasure`
    * ("cosine" or "euclidean"). */
  def of(centers: Array[Array[Double]], distanceMeasure: String): KMeansModel = {
    val m = new KMeansModel(Identifiable.randomUID("kmeans"),
      new MLlibKMeansModel(centers.map(c => Vectors.dense(c)), distanceMeasure))
    m.copy(ParamMap(m.distanceMeasure -> distanceMeasure))
  }
}
