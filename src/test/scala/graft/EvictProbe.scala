package graft

import org.apache.spark.sql.SparkSession

/** Dev probe (test scope): witnesses that the Artifacts stop listener
  * actually drops a session's entries when the LAST session of a JVM
  * stops — the case the evict-on-access sweep cannot cover and an
  * in-suite test cannot exercise (stopping the shared context would
  * kill the other suites). Run manually:
  * sbt "Test/runMain graft.EvictProbe". Prints PASS/FAIL lines.
  */
object EvictProbe {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sf = "/root/testdata/sf0.001"
    import spark.implicits._
    // one entry of each kind: a persisted frame, held rows, PQ codes
    graft.functions.Artifacts.frame(spark, "evict-probe", sf)(Seq(1).toDF("v"))
    graft.operators.IvfIndex.build(spark, sf)
    graft.operators.PqIndex.build(spark, sf)
    val before = graft.functions.Artifacts.size(spark)
    println(s"before stop: entries=$before")
    spark.stop()
    // SparkContext.stop drains the listener bus before returning, so
    // the stop listener has run by here
    val after = graft.functions.Artifacts.size(spark)
    println(s"after stop:  entries=$after")
    val ok = before > 0 && after == 0
    println(if (ok) "PASS: stop-time eviction drained the session's artifacts"
            else "FAIL: entries survived context stop")
    if (!ok) sys.exit(1)
  }
}
