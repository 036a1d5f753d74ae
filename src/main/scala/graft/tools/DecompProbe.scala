package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Measurement aid (guide §1): time the internal stages of the most
  * expensive streaming operators in batch form, so the per-stage cost
  * is attributable (the streaming progress listener only shows the
  * whole addBatch). Plain stdout tool; not part of the driver
  * contract. Usage: runMain graft.tools.DecompProbe [sfDir]
  */
object DecompProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.configure(
      SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true"),
      graft.GraftSession.dirBytes(sfDir), cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try graft.SparkEntry.entry(spark).count() catch { case _: Throwable => () }

    def t[A](label: String)(body: => A): A = {
      val t0 = System.nanoTime()
      val r = body
      println(f"[decomp] $label%-36s ${(System.nanoTime() - t0) / 1e9}%8.3f s")
      r
    }

    import graft.operators.{Dedup, IvfIndex}
    val docs = graft.Tables.spread(spark, sfDir, "documents")

    // ---- per-read driver overhead: listing + footer schema ----
    if (sys.env.contains("GRAFT_PROBE_READ")) {
      for (r <- 1 to 3) {
        val t0 = System.nanoTime()
        var i = 0
        while (i < 100) {
          graft.Tables.lineitem(spark, sfDir).queryExecution.analyzed
          i += 1
        }
        println(f"[decomp] 100x read.parquet(lineitem) analyze: ${(System.nanoTime() - t0) / 1e9}%.3f s (round $r)")
        val t1 = System.nanoTime()
        i = 0
        while (i < 100) { graft.Tables.lineitem(spark, sfDir).filter(col("l_quantity") > 1000).count(); i += 1 }
        println(f"[decomp] 100x read+empty-count: ${(System.nanoTime() - t1) / 1e9}%.3f s (round $r)")
      }
      spark.stop()
      return
    }

    // ---- cappedPairs internals (both capped dedups) ----
    if (sys.env.contains("GRAFT_PROBE_CAPPED")) {
      def noop(df: org.apache.spark.sql.DataFrame): Unit =
        df.write.format("noop").mode("overwrite").save()
      val sh0 = Dedup.shingleSetOf(docs)
      t("warm shingle cache (count)")(sh0.count())
      val sh = sh0.select(col("doc_id"),
        graft.functions.PortableHash.phash64(col("shingle"), 91).as("h"))
      t("sh phash64 noop")(noop(sh))
      val dfc = sh.groupBy("h").agg(count(lit(1)).as("df"))
      t("dfc agg noop")(noop(dfc))
      val shRare = sh.join(dfc.filter(col("df") <= Dedup.DfCap).select("h"), "h")
      t("shRare join noop")(noop(shRare))
      val interRare = shRare.as("x")
        .join(shRare.as("y"),
          col("x.h") === col("y.h") && col("x.doc_id") < col("y.doc_id"))
        .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("inter_r"))
      t("interRare pairs noop")(noop(interRare))
      println(s"[decomp] interRare rows = ${interRare.count()}")
      t("ngramJaccardCapped full count")(Dedup.ngramJaccardCapped(spark, sfDir).count())
      t("ngramJaccardCapped again")(Dedup.ngramJaccardCapped(spark, sfDir).count())
      t("containmentCapped full count")(Dedup.containmentCapped(spark, sfDir).count())
      spark.stop()
      return
    }

    // ---- model_ab_overlap internals ----
    if (sys.env.contains("GRAFT_PROBE_AB")) {
      import graft.operators.ModelRegistry
      t("abOverlap draw 1 (cold caches)")(ModelRegistry.abOverlap(spark, sfDir).count())
      t("abOverlap draw 2")(ModelRegistry.abOverlap(spark, sfDir).count())
      t("abOverlap draw 3")(ModelRegistry.abOverlap(spark, sfDir).count())
      spark.stop()
      return
    }

    // ---- stream_minhash_cand internals (batch form) ----
    t("minhashDocsOf noop") {
      Dedup.minhashDocsOf(docs).write.format("noop").mode("overwrite").save()
    }
    val bands = Dedup.bandsOf(Dedup.minhashDocsOf(docs))
    t("bandsOf.count")(bands.count())
    val b2 = bands.persist()
    t("bands.persist.count")(b2.count())
    t("withinBatch self-join count") {
      b2.as("a").join(b2.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct().count()
    }
    t("cands write parquet") {
      b2.as("a").join(b2.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
        .write.mode("overwrite").parquet("/tmp/decomp_cands")
    }
    t("bands state write (partitionBy band)") {
      b2.repartition(col("band"))
        .write.mode("overwrite").partitionBy("band").parquet("/tmp/decomp_state")
    }
    b2.unpersist()

    // ---- stream_index_upsert internals ----
    val emb = graft.Tables.embeddings(spark, sfDir)
    val base = emb.filter(col("vec_id") % 2 === 0)
    val baseN = t("base.count")(base.count())
    val nlist = IvfIndex.defaultNlist(baseN)
    println(s"[decomp] baseN=$baseN nlist=$nlist")
    val model = t("fitModel (kmeans)")(IvfIndex.fitModel(base, nlist))
    val model2 = t("fitModel again (2nd)")(IvfIndex.fitModel(base, nlist))
    t("assign+writeIndex partitionBy") {
      IvfIndex.writeIndex(IvfIndex.assign(model, base), "/tmp/decomp_index")
    }
    t("dump read+repartition(32)+write") {
      IvfIndex.readIndex(spark, "/tmp/decomp_index")
        .select(col("vec_id"), col("centroid_id"))
        .repartition(32, col("vec_id"))
        .write.mode("overwrite").parquet("/tmp/decomp_assign")
    }
    t("dump read+repartition(2)+write") {
      IvfIndex.readIndex(spark, "/tmp/decomp_index")
        .select(col("vec_id"), col("centroid_id"))
        .repartition(2, col("vec_id"))
        .write.mode("overwrite").parquet("/tmp/decomp_assign2")
    }
    val centroids = model.clusterCenters.map(_.toArray)
    t("probe (search count)") {
      val query = emb.filter(col("vec_id") === 0)
        .select("embedding").collect()(0).getSeq[Float](0).toArray
      val index = IvfIndex.readIndex(spark, "/tmp/decomp_index").filter(col("vec_id") =!= 0)
      IvfIndex.search(spark, index, centroids, query, k = 10).count()
    }
    spark.stop()
  }
}
