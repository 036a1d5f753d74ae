package graft.functions

import org.apache.spark.ml.clustering.{GraftKMeansModel, KMeans, KMeansModel}
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.mllib.clustering.GraftLocalKMeans
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The one k-means fit: the IVF coarse quantizer, the PQ codebooks and
  * the residual PQ codebooks all train here, each on a sample its
  * caller has already capped (FAISS's max-points-per-centroid rule,
  * Johnson et al., *Billion-scale similarity search with GPUs*), so
  * the sample is O(k) rows, not O(corpus).
  *
  * A capped sample is tiny work, but a distributed MLlib `KMeans` pays
  * a Spark job per pass for it: 14–16 jobs per IVF fit and about 200
  * for the eight PQ subspaces, nearly all scheduling. So the sample is
  * collected in one job, sorted by `vec_id` (the fit is then a pure
  * function of the sample and the seed), and fit on the driver with
  * MLlib's own k-means++ seeding and Lloyd rounds (the mllib bridge,
  * [[GraftLocalKMeans]]). The distributed `KMeans` stays for an IVF
  * sample whose Lloyd pass is over [[DriverPassBudget]] ([[onDriver]]).
  *
  * As MLlib's k-means|| does, a sample with no more than k distinct
  * rows yields those rows as its centers: min(k, distinct) of them.
  * An empty sample fails. */
object KMeansFit {
  val MaxIter = 20

  /** Multiply-adds one Lloyd pass may cost on the driver: sample rows
    * × k × dim. The split point is measured, not guessed
    * (`graft.KMeansFitTimer`, test scope: the specs' local[4] session
    * on a 4-vCPU VM, 64-d clustered points, IVF-build shapes, median of
    * three fits per side). At 2^28 (26,000 × 161 × 64) the driver fit
    * still wins, 7.2 s against 9.5 s distributed; at 32,768 × 181 × 64
    * ≈ 3.8e8 it loses, 8.2 s against 7.3 s, and at 50,000 × 316 × 64 ≈
    * 1.0e9 (a 100,000-vector corpus), 26.0 s against 18.8 s. The
    * driver fit uses one core, so a session with more executor cores
    * moves the crossover lower. The IVF fits at sf0.1
    * (2,000 × 45 × 64 ≈ 5.8e6) and sf1 (20,000 × 141 × 64 ≈ 1.8e8:
    * 4.3 s against 6.4 s) sit under it. */
  val DriverPassBudget: Long = 1L << 28

  /** True iff a sample of `rows` × `dim` fits its k-means on the driver. */
  def onDriver(rows: Long, k: Int, dim: Int): Boolean =
    BigInt(rows) * k * dim <= DriverPassBudget

  /** IVF centers for `sample`'s `embedding` column (`rows` rows of
    * `dim` floats, both known to the caller from its count), as a model that maps `features` to `centroid_id` by cosine distance,
    * with unit-norm centers. On the driver this is Euclidean k-means
    * (k-means++ and Lloyd rounds) of the L2-normalized sample, whose
    * final centers are renormalized: inside the rounds the centers
    * are plain means, so a point's nearest center depends on the
    * center's norm and the fit is not spherical k-means. Past the
    * budget it is MLlib's distributed cosine k-means||, which
    * normalizes the centers every round. The two agree on a separable
    * sample (KMeansFitSpec), not center for center. */
  def cosine(sample: DataFrame, rows: Long, dim: Int, k: Int, seed: Long): KMeansModel = {
    val model =
      if (onDriver(rows, k, dim)) {
        val pts = collectSorted(sample, "embedding").map(VecMath.l2norm)
        GraftKMeansModel.of(local(pts, k, seed).map(VecMath.l2norm), "cosine")
      } else distributed(sample.select(array_to_vector(col("embedding")).as("features")),
        k, seed, "cosine")
    model.setFeaturesCol("features").setPredictionCol("centroid_id")
  }

  /** Euclidean k-means of each of `m` equal slices of `sample`'s `vec`
    * column (rows of doubles, whose width `m` must divide), on the
    * driver: `k` centers per slice, slice `mi` seeded `seed + mi`. One
    * collect serves every slice and gives the width. A PQ sample is capped at 256 × 16 rows for 16 codewords
    * ([[graft.operators.PqIndex.TrainPointsPerCodeword]]), so its
    * Lloyd pass (4,096 × 16 × dim) stays under [[DriverPassBudget]] up
    * to dim 4,096. */
  def subspaces(sample: DataFrame, vec: String, m: Int, k: Int,
      seed: Long): Array[Array[Array[Double]]] = {
    val pts = collectSorted(sample, vec)
    require(pts.nonEmpty, "k-means sample is empty")
    val dim = pts(0).length
    // a non-divisor would silently drop the trailing dims
    require(dim % m == 0, s"PQ subspace count $m must divide the embedding dim $dim")
    val dsub = dim / m
    Array.tabulate(m)(mi => local(pts.map(_.slice(mi * dsub, (mi + 1) * dsub)), k, seed + mi))
  }

  /** `sample`'s `vec` column as doubles, in `vec_id` order: one job. */
  private def collectSorted(sample: DataFrame, vec: String): Array[Array[Double]] =
    sample.select(col("vec_id"), col(vec).cast("array<double>")).collect()
      .sortBy(_.getLong(0)).map(_.getSeq[Double](1).toArray)

  /** The driver fit: the distinct rows when there are at most `k`,
    * else k-means++ and Lloyd rounds over every row. */
  private def local(points: Array[Array[Double]], k: Int, seed: Long): Array[Array[Double]] = {
    require(points.nonEmpty, "k-means sample is empty")
    val distinct = points.distinctBy(_.toSeq)
    if (distinct.length <= k) distinct
    else GraftLocalKMeans.fit(points, k, seed.toInt, MaxIter)
  }

  /** MLlib's distributed k-means|| over a `features` frame. */
  private[graft] def distributed(features: DataFrame, k: Int, seed: Long,
      distanceMeasure: String): KMeansModel =
    new KMeans().setK(k).setSeed(seed).setMaxIter(MaxIter)
      .setDistanceMeasure(distanceMeasure).setFeaturesCol("features")
      .fit(features)
}
