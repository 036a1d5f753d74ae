package graft

import org.apache.spark.sql.SparkSession

/** One-off scale witness for the COMPOSED funnel (VERDICT r12 item 3):
  * pipeline_e2e at 1×/30×/100× on the bounded-family corpora. Every
  * stage is individually measured elsewhere; this times the
  * composition — where caching and shuffle reuse go wrong at scale.
  * Two draws per dir (cold then warm-cache: DfCache holds the MinHash
  * pairs and chunk weights, the shape a pipeline owner monitoring the
  * funnel actually sees). Run via Test/runMain graft.PipelineDecadeProbe
  * <dir> [dir...]. */
object PipelineDecadeProbe {
  def main(args: Array[String]): Unit = {
    val (flags, rest) = args.partition(_.startsWith("--"))
    val stages = flags.contains("--stages")
    val dirs = if (rest.nonEmpty) rest.toSeq
      else Seq("/root/testdata/sf0.1", "/tmp/graft_sf3b", "/tmp/graft_sf10b")
    dirs.foreach { dir =>
      val spark = GraftSession.configure(
        SparkSession.builder().master("local[32]")
          .config("spark.ui.enabled", "false")
          .config("spark.sql.session.timeZone", "UTC")
          .config("spark.sql.legacy.parquet.nanosAsLong", "true"),
        GraftSession.dirBytes(dir), 32).getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      val nDocs = Tables.documents(spark, dir).count()
      if (stages) {
        // attribute the composed wall: time each funnel input alone on
        // a cold cache (the e2e DAG is these three plus keyed joins and one aggregate)
        def t(name: String)(f: => Long): Unit = {
          val t0 = System.nanoTime(); val n = f
          println(f"[pd] dir=$dir stage=$name rows=$n wall=${(System.nanoTime() - t0) / 1e9}%.1f s")
        }
        t("minhash_pairs") { graft.operators.Dedup.minhashLsh(spark, dir).count() }
        // at the 100x corpus the pair graph (27.3M) exceeds
        // DriverPairLimit, so this times the DISTRIBUTED label
        // propagation path end to end (incremental over the cached
        // pair table from the stage above)
        t("components") { graft.operators.Dedup.components(spark, dir).count() }
        t("quality") { graft.operators.TextAnalysis.quality(spark, dir).count() }
        t("chunks") { graft.operators.DocPipeline.chunks(spark, dir).count() }
        t("chunk_weights") { graft.operators.DocPipeline.chunkWeights(spark, dir).count() }
      } else (1 to 2).foreach { draw =>
        val t0 = System.nanoTime()
        val rows = graft.operators.Pipeline.e2e(spark, dir).collect()
        val wall = (System.nanoTime() - t0) / 1e9
        println(f"[pd] dir=$dir docs=$nDocs draw=$draw wall=$wall%.1f s funnel=" +
          rows.map(r => s"${r.getString(0)}=${r.getLong(1)}").mkString(","))
      }
      spark.stop()
      // a fresh session per dir: cross-dir cache reuse would understate
      // the cold cost the decade comparison is after
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }
}
