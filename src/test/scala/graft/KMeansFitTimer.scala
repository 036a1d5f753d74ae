package graft

import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.functions._

import graft.functions.KMeansFit
import graft.operators.IvfIndex

/** Dev measurement main (test scope, not library code): times the two
  * IVF fits of [[KMeansFit]], the driver fit and MLlib's distributed
  * k-means||, on the same capped sample at increasing corpus sizes, to
  * locate the Lloyd-pass size (sample rows × k × dim) where the
  * distributed fit starts to win — the split point
  * [[KMeansFit.DriverPassBudget]].
  *
  * The corpus is 64-d points around 32 gaussian centres with 0.35
  * gaussian noise per coordinate, sized as an IVF build sizes it
  * (k = [[IvfIndex.defaultNlist]], sample capped by
  * [[IvfIndex.trainMod]]). The session is the specs' local[4]. Each
  * size is fit `reps` times per side, the sides alternating which runs
  * first, after one small warm-up fit of each.
  *
  * Usage: sbt "Test/runMain graft.KMeansFitTimer [reps] [n ...]"
  */
object KMeansFitTimer {
  def main(args: Array[String]): Unit = {
    val spark = SparkTestSession.spark
    import spark.implicits._
    val reps = args.headOption.fold(3)(_.toInt)
    val sizes = if (args.length > 1) args.tail.map(_.toLong).toSeq
      else Seq(10000L, 20000L, 32768L, 46341L, 65536L)
    val dim = 64
    val rnd = new java.util.Random(7L)
    val centres = Array.fill(32)(Array.fill(dim)(rnd.nextGaussian()))

    def sample(n: Long, tm: Long) = {
      val r = new java.util.Random(n)
      (0L until n).filter(_ % tm == 0).map { i =>
        val c = centres(r.nextInt(centres.length))
        (i, Array.tabulate(dim)(j => (c(j) + 0.35 * r.nextGaussian()).toFloat))
      }.toDF("vec_id", "embedding").repartition(4).cache()
    }
    def secs[T](f: => T): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    // rows = 0 states a sample small enough for the driver whatever its
    // real size, so `cosine` takes the driver branch at every size
    def driver(train: org.apache.spark.sql.DataFrame, k: Int) =
      KMeansFit.cosine(train, 0L, dim, k, IvfIndex.Seed).clusterCenters.length
    def distributed(train: org.apache.spark.sql.DataFrame, k: Int) =
      KMeansFit.distributed(train.select(array_to_vector(col("embedding")).as("features")),
        k, IvfIndex.Seed, "cosine").clusterCenters.length

    val warm = sample(2000L, 1L)
    warm.count(); driver(warm, 45); distributed(warm, 45); warm.unpersist()
    println("n,k,rows,pass,driver_s,distributed_s")
    sizes.foreach { n =>
      val k = IvfIndex.defaultNlist(n)
      val tm = IvfIndex.trainMod(n, k)
      val train = sample(n, tm)
      val rows = train.count()
      val ds = Seq.newBuilder[Double]; val ms = Seq.newBuilder[Double]
      (0 until reps).foreach { rep =>
        if (rep % 2 == 0) { ds += secs(driver(train, k)); ms += secs(distributed(train, k)) }
        else { ms += secs(distributed(train, k)); ds += secs(driver(train, k)) }
      }
      def med(xs: Seq[Double]) = xs.sorted.apply(xs.length / 2)
      val (d, m) = (ds.result(), ms.result())
      println(f"$n,$k,$rows,${rows.toDouble * k * dim}%.2e,${med(d)}%.2f ${d.map(x => f"$x%.2f").mkString("[", " ", "]")}," +
        f"${med(m)}%.2f ${m.map(x => f"$x%.2f").mkString("[", " ", "]")}")
      train.unpersist()
    }
    spark.stop()
  }
}
