package graft

import org.apache.spark.GraftJobCount
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{Artifacts, KMeansFit}
import graft.operators.{IvfIndex, PqIndex}

class KMeansFitSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  /** `rows` vectors of dim 3, each near one of `dirs` (by vec_id mod),
    * jittered by a deterministic ±0.01. */
  private def clustered(rows: Int, dirs: Seq[Array[Float]]): DataFrame =
    (0 until rows).map { i =>
      val d = dirs(i % dirs.length)
      (i.toLong, d.zipWithIndex.map { case (x, j) => x + 0.01f * (((i * 7 + j * 3) % 5) - 2) })
    }.toDF("vec_id", "embedding")

  private val axes = Seq(Array(1f, 0f, 0f), Array(0f, 1f, 0f), Array(0f, 0f, 1f), Array(-1f, 0f, 0f))

  private def norm(v: Array[Double]): Double = math.sqrt(v.map(x => x * x).sum)

  test("driver budget: pure in rows × k × dim, both regimes") {
    // the gate and benchmark fits sit on the driver
    assert(KMeansFit.onDriver(2000L, IvfIndex.defaultNlist(2000L), 64))
    assert(KMeansFit.onDriver(20000L, IvfIndex.defaultNlist(20000L), 64))
    // a billion vectors blocked at uncapped √N cells: the capped sample
    // (256 per cell) still has a Lloyd pass far past the budget
    val n = 1000000000L
    val nlist = IvfIndex.blockingNlist(n)
    val rows = IvfIndex.strideRows(n, IvfIndex.trainMod(n, nlist))
    assert(!KMeansFit.onDriver(rows, nlist, 64), s"$rows rows × $nlist cells")
    // the measured crossover (KMeansFitTimer): 26,000 vectors fit
    // faster on the driver, 32,768 faster distributed
    assert(KMeansFit.onDriver(26000L, IvfIndex.defaultNlist(26000L), 64))
    assert(!KMeansFit.onDriver(32768L, IvfIndex.defaultNlist(32768L), 64))
    // the edge is the constant itself, and the product cannot overflow
    assert(KMeansFit.onDriver(KMeansFit.DriverPassBudget, 1, 1))
    assert(!KMeansFit.onDriver(KMeansFit.DriverPassBudget + 1, 1, 1))
    assert(!KMeansFit.onDriver(Long.MaxValue, Int.MaxValue, Int.MaxValue))
  }

  test("driver and distributed fits find the same clusters on a separable sample") {
    val df = clustered(80, axes)
    val local = KMeansFit.cosine(df, 80L, 3, 4, IvfIndex.Seed)
    val dist = KMeansFit.distributed(
      df.select(org.apache.spark.ml.functions.array_to_vector(col("embedding")).as("features")),
      4, IvfIndex.Seed, "cosine").setPredictionCol("centroid_id")
    Seq(local, dist).foreach { m =>
      assert(m.clusterCenters.length == 4)
      m.clusterCenters.foreach(c => assert(math.abs(norm(c.toArray) - 1.0) < 1e-9, s"center norm ${norm(c.toArray)}"))
    }
    assert(local.getDistanceMeasure == "cosine")
    // same partition of the rows, up to the labels' names
    def groups(m: org.apache.spark.ml.clustering.KMeansModel): Set[Set[Long]] =
      IvfIndex.assign(m, df).collect().groupBy(_.getInt(2)).values
        .map(_.map(_.getLong(0)).toSet).toSet
    assert(groups(local) == groups(dist))
    assert(groups(local) == (0 until 4).map(r => (0 until 80).filter(_ % 4 == r).map(_.toLong).toSet).toSet)
  }

  test("degenerate samples: empty fails, fewer distinct rows than k give min(k, distinct) centers") {
    val empty = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    intercept[IllegalArgumentException](KMeansFit.cosine(empty, 0L, 0, 4, IvfIndex.Seed))
    intercept[IllegalArgumentException](
      KMeansFit.subspaces(empty.withColumnRenamed("embedding", "nvec"), "nvec", 2, 4, PqIndex.Seed))
    // three distinct directions repeated: k-means|| and the driver fit both stop at three
    val three = (0 until 30).map(i => (i.toLong, axes(i % 3))).toDF("vec_id", "embedding")
    val local = KMeansFit.cosine(three, 30L, 3, 8, IvfIndex.Seed)
    val dist = KMeansFit.distributed(
      three.select(org.apache.spark.ml.functions.array_to_vector(col("embedding")).as("features")),
      8, IvfIndex.Seed, "cosine")
    assert(local.clusterCenters.length == 3)
    assert(dist.clusterCenters.length == 3)
    val cbs = KMeansFit.subspaces(three.select(col("vec_id"), col("embedding").cast("array<double>").as("nvec")),
      "nvec", 3, PqIndex.NumCodewords, PqIndex.Seed)
    assert(cbs.map(_.length).toSeq == Seq(2, 2, 2), cbs.map(_.length).toSeq)
  }

  test("capped fits run few Spark jobs: IvfIndex.build ≤ 6, PqIndex.fitCodebooks ≤ 2") {
    Artifacts.clear()
    // the corpus count is its own cached artifact, shared by every build
    IvfIndex.corpusCount(spark, sf)
    val (_, buildJobs) = GraftJobCount.of(spark.sparkContext)(IvfIndex.build(spark, sf))
    assert(buildJobs <= 6, s"IvfIndex.build ran $buildJobs jobs")
    val (_, pqJobs) = GraftJobCount.of(spark.sparkContext)(PqIndex.fitCodebooks(spark, sf))
    assert(pqJobs <= 2, s"PqIndex.fitCodebooks ran $pqJobs jobs")
  }

  test("a fit learns the dimension from jobs it runs anyway: IvfIndex.build ≤ 4, PqIndex.fitCodebooks 1") {
    Artifacts.clear()
    // the corpus count job also reads the width, and is cached
    assert(IvfIndex.corpusShape(spark, sf)._2 == 64)
    val (_, buildJobs) = GraftJobCount.of(spark.sparkContext)(IvfIndex.build(spark, sf))
    assert(buildJobs <= 4, s"IvfIndex.build ran $buildJobs jobs")
    // the collected sample gives the PQ width: one job, the collect
    val (_, pqJobs) = GraftJobCount.of(spark.sparkContext)(PqIndex.fitCodebooks(spark, sf))
    assert(pqJobs == 1, s"PqIndex.fitCodebooks ran $pqJobs jobs")
  }
}
