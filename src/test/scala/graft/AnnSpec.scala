package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, EmbeddingLsh, IvfIndex, ModelRegistry, VectorSearch}

class AnnSpec extends AnyFunSuite {
  import SparkTestSession._

  test("ivf probe recall vs exact knn") {
    val exact = VectorSearch.knnCosine(spark, sf).collect().map(_.getLong(0)).toSet
    val approx = IvfIndex.knnIvf(spark, sf).collect().map(_.getLong(0)).toSet
    assert(approx.size == 10)
    val recall = (exact & approx).size.toDouble / exact.size
    // non-trivial-recall floor, not a quality bar: the spec corpus is
    // UNIFORM random — IVF's worst case (no cluster structure) — and
    // the adaptive geometry probes √nlist = 5 of 22 cells ≈ 23%
    // (the recall-targeted interface is vs_knn_ivf_acc, and the
    // real-geometry batch recall measured 1.0 at the 10× SF).
    assert(recall >= 0.3,
      s"ivf recall $recall below 0.3 (nprobe=${IvfIndex.defaultNprobe(22)})")
  }

  test("ivf full probe equals exact knn") {
    val (index, centroids) = IvfIndex.build(spark, sf)
    val query = graft.Tables.embeddings(spark, sf)
      .filter(org.apache.spark.sql.functions.col("vec_id") === 0)
      .select("embedding").collect()(0).getSeq[Float](0).toArray
    val full = IvfIndex.search(spark,
      index.filter(org.apache.spark.sql.functions.col("vec_id") =!= 0),
      centroids, query, k = 10, nprobe = centroids.length)
      .collect().map(_.getLong(0)).toSeq
    val exact = VectorSearch.knnCosine(spark, sf).collect().map(_.getLong(0)).toSeq
    assert(full == exact, "probing every partition must equal exact knn")
  }

  test("ivf on-disk layout partition-prunes the probe") {
    import org.apache.spark.sql.functions.col
    val (index, centroids) = IvfIndex.build(spark, sf)
    val path = java.nio.file.Files.createTempDirectory("graft_ivf").toString + "/idx"
    IvfIndex.writeIndex(index, path)
    val onDisk = IvfIndex.readIndex(spark, path)
    val query = graft.Tables.embeddings(spark, sf)
      .filter(col("vec_id") === 0).select("embedding").collect()(0).getSeq[Float](0).toArray
    val probed = IvfIndex.search(spark, onDisk.filter(col("vec_id") =!= 0),
      centroids, query, k = 10)
    val plan = probed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") && plan.contains("centroid_id"),
      "probe must push the centroid filter into partition pruning")
    // pruned probe returns the same answer as the in-memory probe
    val mem = IvfIndex.search(spark, index.filter(col("vec_id") =!= 0),
      centroids, query, k = 10).collect().map(_.toSeq).toSeq
    assert(probed.collect().map(_.toSeq).toSeq == mem)
  }

  test("readIndex reads the layout with its fixed schema: the inferred one, no job before an action") {
    val (index, _) = IvfIndex.build(spark, sf)
    val path = java.nio.file.Files.createTempDirectory("graft_ivf").toString + "/idx"
    IvfIndex.writeIndex(index, path)
    val (read, jobs) = org.apache.spark.GraftJobCount.of(spark.sparkContext)(IvfIndex.readIndex(spark, path))
    assert(jobs == 0, s"readIndex ran $jobs jobs")
    assert(read.schema == spark.read.parquet(path).schema)
    assert(read.count() == index.count())
  }

  test("embedding lsh: verified subset of exact pairs, usable recall") {
    val exact = Dedup.embedding(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = EmbeddingLsh.pairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact), "lsh emitted a pair the exact join rejects")
    if (exact.nonEmpty) {
      val recall = (exact & lsh).size.toDouble / exact.size
      assert(recall >= 0.3, s"lsh recall $recall below 0.3")
    }
  }

  test("embedding ivf dedup: verified subset of exact pairs, recall beats the lsh floor") {
    val exact = Dedup.embedding(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = IvfIndex.dedupPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ivf.subsetOf(exact), "ivf dedup emitted a pair the exact join rejects")
    if (exact.nonEmpty) {
      val recall = (exact & ivf).size.toDouble / exact.size
      // cell blocking is data-adaptive: near pairs share nearby cells,
      // so recall at the mid-sim dedup radius holds well above the
      // banding floor even at a handful of probes over √N cells.
      assert(recall >= 0.5, s"ivf dedup recall $recall below 0.5")
    }
  }

  test("pair-mining lsh: wrong-source only, candidate-sound, usable overlap with exact") {
    import org.apache.spark.sql.functions.col
    val lsh = graft.operators.Multimodal.pairMiningLsh(spark, sf)
    val rows = lsh.collect()
    // every emitted negative is genuinely wrong-source (mask inside the
    // candidate join, not lost to the banding)
    val srcOf = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), col("source")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(srcOf(r.getLong(0)) != srcOf(r.getLong(1)),
        s"same-source negative ${r.getLong(0)} -> ${r.getLong(1)}")
      assert(r.getLong(3) >= 1 && r.getLong(3) <= 3)
    }
    // the banded candidate restriction must still find most of the
    // exact hard negatives at this SF (same recall bar as the other
    // LSH twins)
    val exact = graft.operators.Multimodal.pairMining(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    val overlap = (exact & got).size.toDouble / exact.size
    assert(overlap >= 0.3, s"lsh pair-mining overlap $overlap below 0.3")
    // scale shape: band equi-join, never an anchors-by-corpus product
    val plan = lsh.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      "lsh pair mining must not cross-join anchors with the corpus")
  }

  test("pair-mining ivf: wrong-source only, strong overlap with exact, equi-join plan") {
    import org.apache.spark.sql.functions.col
    val ivf = graft.operators.Multimodal.pairMiningIvf(spark, sf)
    val rows = ivf.collect()
    assert(rows.nonEmpty)
    val srcOf = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), col("source")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    rows.foreach { r =>
      assert(srcOf(r.getLong(0)) != srcOf(r.getLong(1)),
        s"same-source negative ${r.getLong(0)} -> ${r.getLong(1)}")
    }
    // centroid pruning adapts to the data, so unlike the LSH twin the
    // mid-similarity hard negatives must survive — pin a strong floor
    val exact = graft.operators.Multimodal.pairMining(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    val overlap = (exact & got).size.toDouble / exact.size
    assert(overlap >= 0.5, s"ivf pair-mining overlap $overlap below 0.5")
    // candidate generation must be the centroid equi-join; the only
    // unconditioned product allowed is the broadcast centroid table
    val plan = ivf.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      "ivf pair mining must not cross-join anchors with the corpus")
  }

  test("ivf batch serving: full probe equals brute force per query") {
    import org.apache.spark.sql.functions._
    val (index, centroids) = IvfIndex.build(spark, sf)
    val queriesDf = Tables.embeddings(spark, sf)
      .filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val full = IvfIndex.searchBatch(spark, index, centroids, queriesDf,
        k = 5, nprobe = centroids.length)
      .collect().map(_.toSeq).toSet
    // brute force: the same top-k through the generic KnnJoin operator
    val emb = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    val brute = graft.plans.KnnJoin(
        queriesDf, emb, "qv", "embedding", k = 6, metric = "cosine",
        roundDp = 4, tieBreak = Some("vec_id"))
      .filter(col("qid") =!= col("vec_id"))
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("qid"))
          .orderBy(col("dist"), col("vec_id"))).cast("long"))
      .filter(col("rnk") <= 5)
      .select("qid", "vec_id", "dist", "rnk")
      .collect().map(_.toSeq).toSet
    assert(full == brute)
    // partial probe keeps at least half the exact neighbors on average
    val part = IvfIndex.searchBatch(spark, index, centroids, queriesDf, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exactPairs = full.map(s => (s(0).asInstanceOf[Long], s(1).asInstanceOf[Long]))
    assert((part & exactPairs).size * 2 >= exactPairs.size,
      s"batch ivf recall collapsed: ${(part & exactPairs).size}/${exactPairs.size}")
  }

  test("ivf batch search per held-out query equals the single probe at the same depth") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val (index, centroids) = IvfIndex.build(spark, sf)
    // perturbed copies of every 40th vector, under qids no corpus row has
    val held = Tables.embeddings(spark, sf).filter(col("vec_id") % 40 === 0)
      .orderBy("vec_id").select("vec_id", "embedding").collect()
      .map(r => (1000000000L + r.getLong(0),
        r.getSeq[Float](1).zipWithIndex.map { case (x, j) => x + 0.01f * ((j % 3) - 1) }.toArray))
    val queriesDf = held.toSeq.toDF("qid", "qv")
    for (np <- Seq(1, 3, 0)) {
      val batch = IvfIndex.searchBatch(spark, index, centroids, queriesDf, k = 10, nprobe = np)
        .collect().groupBy(_.getLong(0))
        .map { case (q, rs) => q -> rs.sortBy(_.getLong(3)).map(r => (r.getLong(1), r.getDouble(2))).toSeq }
      assert(batch.size == held.length, s"nprobe $np")
      held.foreach { case (qid, qv) =>
        val single = IvfIndex.search(spark, index, centroids, qv, k = 10, nprobe = np)
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        assert(batch(qid) == single, s"query $qid at nprobe $np")
      }
    }
  }

  test("centroid ranks: the narrow ranking equals the windowed cross-join ranking") {
    import org.apache.spark.sql.functions._
    val (_, centroids) = IvfIndex.build(spark, sf)
    val sample = IvfIndex.calibrationSample(spark, sf)
    // the earlier form: every cell scored per query, row_number per qid
    val cdf = IvfIndex.centroidFrame(spark, centroids).select(col("cid").as("centroid_id"), col("cvec"))
    val windowed = sample.crossJoin(broadcast(cdf))
      .select(col("qid"), col("centroid_id"),
        graft.functions.FloatVecDistance.cosine(col("qv"), col("cvec")).as("cdist"))
      .withColumn("crank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("qid"))
          .orderBy(col("cdist"), col("centroid_id"))))
      .select("qid", "centroid_id", "crank")
    val ranks = IvfIndex.centroidRanks(spark, sample, centroids)
    assert(ranks.schema == windowed.schema, ranks.schema.treeString)
    val got = ranks.collect().map(_.toSeq).toSet
    assert(got.size == sample.count() * centroids.length)
    assert(got == windowed.collect().map(_.toSeq).toSet)
  }

  test("warm ivf batch search compiles nothing") {
    import org.apache.spark.metrics.source.CodegenMetrics
    import spark.implicits._
    val (index, centroids) = IvfIndex.build(spark, sf)
    val vecs = Tables.embeddings(spark, sf).orderBy("vec_id").select("vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    // six query tables of ten, each at its own probe depth: one warms up
    val calls = (0 until 6).map { i =>
      val qs = vecs.slice(i * 10, i * 10 + 10).toSeq.toDF("qid", "qv")
      () => IvfIndex.searchBatch(spark, index, centroids, qs, k = 5, nprobe = i + 1).collect()
    }
    calls.head()
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    calls.tail.foreach(_())
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    assert(compiled == 0, s"compiles in 5 warm batch searches: $compiled")
  }

  test("ivf batch probe ranking is distributed: broadcast centroids, bounded agg, no cartesian") {
    import org.apache.spark.sql.functions._
    val (index, centroids) = IvfIndex.build(spark, sf)
    val queriesDf = Tables.embeddings(spark, sf)
      .filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val p = IvfIndex.searchBatch(spark, index, centroids, queriesDf, k = 5)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // the k-row centroid table is the broadcast side of the ranking
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the final top-k is the bounded heap agg, partial and final (the
    // probe selection is a narrow per-query step, no agg)
    assert("topk_by_dist".r.findAllIn(p).size >= 2, p)
  }

  test("target-accuracy calibration: nprobe meets target; target 1.0 reproduces exact") {
    import org.apache.spark.sql.functions._
    val (index, centroids) = IvfIndex.build(spark, sf)
    val np95 = IvfIndex.calibrateNprobe(spark, index, centroids, sf, targetAccuracy = 0.95)
    val np100 = IvfIndex.calibrateNprobe(spark, index, centroids, sf, targetAccuracy = 1.0)
    assert(np95 >= 1 && np95 <= np100 && np100 <= centroids.length,
      s"np95=$np95 np100=$np100")
    val queriesDf = Tables.embeddings(spark, sf)
      .filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    def pairsAt(np: Int): Set[(Long, Long)] =
      IvfIndex.searchBatch(spark, index, centroids, queriesDf, k = 10, nprobe = np)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairsAt(centroids.length)
    // target 1.0: every true neighbor's centroid is probed → exact result
    assert(pairsAt(np100) == exact, "target 1.0 nprobe must recover the exact result")
    // target 0.95: measured recall on the calibration sample meets the
    // target (0.9 asserted: rounded-tie flips at the k boundary can
    // shave a pair vs the closed-form count)
    val recall = (pairsAt(np95) & exact).size.toDouble / exact.size
    assert(recall >= 0.9, s"measured recall $recall at calibrated nprobe=$np95")
  }

  test("lsh ann probe: sound, deterministic, non-trivial recall") {
    val lsh = EmbeddingLsh.annSearch(spark, sf).collect()
    assert(lsh.length == 10)
    val dists = lsh.map(_.getDouble(1)).toSeq
    assert(dists == dists.sorted, "distances must ascend")
    val exact = VectorSearch.knnCosine(spark, sf).collect().map(_.getLong(0)).toSet
    val got = lsh.map(_.getLong(0)).toSet
    // the synthetic embedding space is near-uniform (the hard case for
    // any LSH); band-pruned recall is deterministic here — pin a floor
    assert((got & exact).size >= 3, s"recall collapsed: ${(got & exact).size}/10")
    // determinism across runs
    val again = EmbeddingLsh.annSearch(spark, sf).collect().map(_.getLong(0)).toSeq
    assert(lsh.map(_.getLong(0)).toSeq == again)
  }

  test("pq: codes are one int per vector, re-ranked recall, exact shortlist dists") {
    import org.apache.spark.sql.functions.col
    val (codes, codebooks) = graft.operators.PqIndex.build(spark, sf)
    val n = graft.Tables.embeddings(spark, sf).count()
    assert(codes.count() == n, "one code per vector")
    assert(codes.schema("code").dataType == org.apache.spark.sql.types.IntegerType)
    assert(codebooks.length == graft.operators.PqIndex.NumSubspaces &&
      codebooks.forall(_.length == graft.operators.PqIndex.NumCodewords))
    val pq = graft.operators.PqIndex.knnPq(spark, sf).collect()
    assert(pq.length == 10)
    // re-rank computes TRUE cosine: every returned (id, dist) must match
    // the exact operator's distance for that id
    val exactAll = VectorSearch.knnCosineK(spark, sf, k = 499).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    pq.foreach(r => assert(exactAll(r.getLong(0)) == r.getDouble(1),
      s"shortlist re-rank distance drifted for ${r.getLong(0)}"))
    // near-uniform synthetic space is PQ's hard case; pin a recall floor
    val exact = VectorSearch.knnCosine(spark, sf).collect().map(_.getLong(0)).toSet
    val got = pq.map(_.getLong(0)).toSet
    assert((got & exact).size >= 5, s"pq recall collapsed: ${(got & exact).size}/10")
    // determinism across runs (memoized build + deterministic ADC)
    val again = graft.operators.PqIndex.knnPq(spark, sf).collect().map(_.getLong(0)).toSeq
    assert(pq.map(_.getLong(0)).toSeq == again)
  }

  test("O(corpus) index artifacts are written sharded, never single-task") {
    // the at-rest codes/assignment tables grow with the corpus; a
    // coalesce(1) here means one task writes terabytes at the target
    // scale. Pin that the dumps shard across >1 part file (shuffle
    // partitions = 4 in this suite), and that the read-back still
    // covers every vector.
    graft.operators.PqIndex.build(spark, sf)
    val (idx, cents) = graft.operators.IvfIndex.build(spark, sf)
    graft.operators.PqIndex.buildResidual(spark, sf, idx, cents)
    def parts(p: String): Seq[java.io.File] = {
      val fs = Option(new java.io.File(p).listFiles()).getOrElse(Array.empty)
      fs.toSeq.filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    }
    val codeParts = parts(s"${graft.operators.PqIndex.dumpDir(sf)}/codes.parquet")
    val resParts = parts(s"${graft.operators.PqIndex.resDumpDir(sf)}/codes.parquet")
    val assignParts = parts(s"${graft.operators.IvfIndex.dumpDir(sf)}/assign.parquet")
    assert(codeParts.size > 1, s"pq codes dump must be sharded, got ${codeParts.size} file(s)")
    assert(resParts.size > 1, s"residual codes dump must be sharded, got ${resParts.size} file(s)")
    assert(assignParts.size > 1, s"ivf assignment dump must be sharded, got ${assignParts.size} file(s)")
    val n = graft.Tables.embeddings(spark, sf).count()
    assert(spark.read.parquet(s"${graft.operators.PqIndex.dumpDir(sf)}/codes.parquet").count() == n)
    assert(spark.read.parquet(s"${graft.operators.PqIndex.resDumpDir(sf)}/codes.parquet").count() == n)
    assert(spark.read.parquet(s"${graft.operators.IvfIndex.dumpDir(sf)}/assign.parquet").count() == n)
  }

  test("oracle artifacts are tamper-evident: corrupting one persisted row changes the answer") {
    // the PQ/IVF oracles trust the dumped artifacts: both engines
    // derive their answers from the same persisted bytes. This
    // negative control pins that property — corrupt ONE row in a copy
    // of each dump, re-derive the answer from the copy through the
    // same serving path, and assert it changes. If a refactor ever
    // made the serving path compute from fit state instead of the
    // persisted layout (letting build() and the oracle silently read
    // different artifacts), this test fails.
    import org.apache.spark.sql.functions.{col, when, lit}
    val tmp = java.nio.file.Files.createTempDirectory("graft_tamper").toString

    // PQ: flip all 32 bits of the clean ADC-top-1's code
    val (codes, codebooks) = graft.operators.PqIndex.build(spark, sf)
    val q = {
      val raw = graft.Tables.embeddings(spark, sf).filter(col("vec_id") === 0)
        .select("embedding").collect()(0).getSeq[Float](0).map(_.toDouble).toArray
      val n = math.sqrt(raw.map(x => x * x).sum)
      raw.map(_ / n)
    }
    def shortlist(c: org.apache.spark.sql.DataFrame): Seq[Long] =
      graft.operators.PqIndex.adcScores(c.filter(col("vec_id") =!= 0), codebooks, q)
        .orderBy(col("adist"), col("vec_id")).limit(50)
        .collect().map(_.getLong(0)).toSeq
    val clean = shortlist(codes)
    spark.read.parquet(s"${graft.operators.PqIndex.dumpDir(sf)}/codes.parquet")
      .withColumn("code",
        when(col("vec_id") === clean.head, col("code").bitwiseXOR(lit(-1)))
          .otherwise(col("code")))
      .write.mode("overwrite").parquet(s"$tmp/codes.parquet")
    val tampered = shortlist(spark.read.parquet(s"$tmp/codes.parquet"))
    assert(tampered != clean, "a corrupted PQ code must change the ADC shortlist")

    // IVF: reassign the clean top-1 to the FARTHEST centroid in a copy
    // of the assignment dump; probing the copy must miss it.
    val (_, centroids) = graft.operators.IvfIndex.build(spark, sf)
    val query = graft.Tables.embeddings(spark, sf).filter(col("vec_id") === 0)
      .select("embedding").collect()(0).getSeq[Float](0).toArray
    val cleanIvf = graft.operators.IvfIndex.knnIvf(spark, sf)
      .collect().map(_.getLong(0)).toSeq
    val assign = spark.read.parquet(s"${graft.operators.IvfIndex.dumpDir(sf)}/assign.parquet")
    // the centroid FARTHEST from the query by cosine is never in the
    // probe set (the probe set is the nprobe NEAREST), so reassigning
    // the top hit there guarantees the probe misses it
    val qd = query.map(_.toDouble)
    val far = centroids.zipWithIndex.maxBy { case (c, _) =>
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < c.length) { dot += c(i) * qd(i); na += c(i) * c(i); nb += qd(i) * qd(i); i += 1 }
      1.0 - dot / (math.sqrt(na) * math.sqrt(nb))
    }._2
    val corruptIdx = assign
      .withColumn("centroid_id",
        when(col("vec_id") === cleanIvf.head, lit(far)).otherwise(col("centroid_id")))
      .join(graft.Tables.embeddings(spark, sf), "vec_id")
      .select(col("vec_id"), col("embedding"), col("centroid_id"))
    val tamperedIvf = graft.operators.IvfIndex.search(spark,
      corruptIdx.filter(col("vec_id") =!= 0), centroids, query, k = 10)
      .collect().map(_.getLong(0)).toSeq
    assert(tamperedIvf != cleanIvf,
      "a corrupted IVF assignment must change the probed answer")
  }

  test("ivf geometry overrides cannot poison the pinned oracle artifacts") {
    import org.apache.spark.sql.functions.col
    // a production-sizing build at a non-default nlist must produce
    // that geometry in memory...
    val (idx8, cents8) = graft.operators.IvfIndex.build(spark, sf, k = 8)
    assert(cents8.length == 8)
    assert(idx8.select("centroid_id").distinct().count() <= 8)
    // ...while the persisted artifact dir stays at the ADAPTIVE default
    // geometry the DuckDB oracle reproduces (build only writes for
    // k == 0, the corpus-adaptive default — the property that makes
    // sizing builds safe).
    graft.operators.IvfIndex.build(spark, sf)
    val expected = graft.operators.IvfIndex.defaultNlist(
      graft.Tables.embeddings(spark, sf).count())
    val nCent = spark.read
      .parquet(s"${graft.operators.IvfIndex.dumpDir(sf)}/centroids.parquet").count()
    assert(nCent == expected)
    val maxAssigned = spark.read
      .parquet(s"${graft.operators.IvfIndex.dumpDir(sf)}/assign.parquet")
      .agg(org.apache.spark.sql.functions.max(col("centroid_id"))).collect()(0).getInt(0)
    assert(maxAssigned < expected)
  }

  test("adaptive probe depth scales as sqrt(nlist), floored, both-engine derivable") {
    import graft.operators.IvfIndex
    // floor binds at and below 16 cells
    assert(IvfIndex.defaultNprobe(1) == IvfIndex.NumProbe)
    assert(IvfIndex.defaultNprobe(16) == IvfIndex.NumProbe)
    // √nlist above it: the spec geometry (22 cells) probes 5; the
    // production cap (4096 cells) probes 64 — the scan fraction decays
    // as nlist^-1/2 instead of r6's nlist^-1
    assert(IvfIndex.defaultNprobe(22) == 5)
    assert(IvfIndex.defaultNprobe(64) == 8)
    assert(IvfIndex.defaultNprobe(4096) == 64)
    // nprobe never exceeds nlist (sqrt(n) <= n for n >= 1, floor only
    // binds where nlist >= 16 > 4)
    Seq(16, 22, 45, 141, 707, 4096).foreach { n =>
      assert(IvfIndex.defaultNprobe(n) <= n)
    }
  }

  test("build memo follows the corpus: an in-place rewrite refits and releases the old rows") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    def corpus(n: Int) = (0 until n).map(i => (i.toLong, Seq.fill(8)(rnd.nextFloat())))
      .toDF("vec_id", "embedding")
    val tmp = java.nio.file.Files.createTempDirectory("graft_ivf_stale").toString
    def persisted = spark.sparkContext.getPersistentRDDs.keySet
    corpus(300).write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val before = persisted
    val (old, _) = IvfIndex.build(spark, tmp)
    val oldRows = persisted -- before
    assert(oldRows.nonEmpty && old.count() == 300)
    assert(IvfIndex.build(spark, tmp)._1 eq old, "an unchanged corpus must hit the memo")
    corpus(200).write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val (fresh, _) = IvfIndex.build(spark, tmp)
    assert(!(fresh eq old), "a rewritten corpus must refit")
    assert(fresh.count() == 200 && IvfIndex.corpusCount(spark, tmp) == 200)
    assert((persisted & oldRows).isEmpty, "the superseded rows must be released")
  }

  test("build memo normalizes the geometry key: k=0 and explicit default share one fit") {
    import graft.operators.IvfIndex
    val default = IvfIndex.defaultNlist(IvfIndex.corpusCount(spark, sf))
    val a = IvfIndex.build(spark, sf) // adaptive
    val b = IvfIndex.build(spark, sf, k = default) // explicit = default
    // reference equality: the SAME memo entry, so an identical geometry
    // is never fit twice (the r6 memo keyed on the raw k and double-fit)
    assert(a._1 eq b._1, "k=0 and k=defaultNlist must hit one memo entry")
    assert(a._2 eq b._2)
  }

  test("blocking geometry: uncapped sqrt(N), identical to serving below the cap") {
    import graft.operators.IvfIndex
    // below the serving cap (N <= 4096^2) the two geometries are THE
    // SAME — so every gate SF, memo entry, and persisted oracle
    // artifact is bit-unchanged by the r13 blocking default
    Seq(1L, 500L, 2000L, 60000L, 200000L, 16000000L,
      IvfIndex.ServingNlistCap.toLong * IvfIndex.ServingNlistCap).foreach { n =>
      assert(IvfIndex.blockingNlist(n) == IvfIndex.defaultNlist(n),
        s"geometries must agree at n=$n")
    }
    // above it, serving freezes at the cap while blocking keeps sqrt(N):
    // the candidate fraction nprobe/nlist keeps shrinking instead of
    // freezing at 1/64 (the N^2/64 revert VERDICT r12 flagged)
    Seq(17000000L, 100000000L, 1000000000L).foreach { n =>
      val b = IvfIndex.blockingNlist(n)
      assert(IvfIndex.defaultNlist(n) == IvfIndex.ServingNlistCap)
      assert(b == math.round(math.sqrt(n.toDouble)).toInt, s"uncapped sqrt at n=$n")
      assert(b > IvfIndex.ServingNlistCap)
    }
    // at 10^9 vectors: serving scans nprobe/nlist = 64/4096 = 1/64 of
    // the corpus per probe; blocking scans 178/31623 ≈ 1/178 — the
    // closed form N·nprobe·(N/nlist) stays N^1.75
    assert(IvfIndex.blockingNlist(1000000000L) == 31623)
    assert(IvfIndex.defaultNprobe(31623) == 178)
    // the blocking build at a gate corpus IS the serving build: same
    // memo entry, so no second k-means fit and artifacts untouched
    val served = IvfIndex.build(spark, sf)
    val blocked = IvfIndex.buildBlocking(spark, sf)
    assert(served._1 eq blocked._1, "blocking build must reuse the serving memo entry below the cap")
    assert(served._2 eq blocked._2)
  }

  test("index cache is evictable: clearCache drops entries, rebuild still works") {
    import graft.functions.Artifacts
    Artifacts.clear()
    val persistedBefore = spark.sparkContext.getPersistentRDDs.size
    IvfIndex.build(spark, sf)
    assert(Artifacts.size(spark) >= 1)
    assert(spark.sparkContext.getPersistentRDDs.size > persistedBefore,
      "build must hold the assigned rows")
    Artifacts.clear()
    assert(Artifacts.size(spark) == 0)
    assert(spark.sparkContext.getPersistentRDDs.size == persistedBefore,
      "Artifacts.clear must release the held rows")
    val (_, centroids) = IvfIndex.build(spark, sf)
    assert(centroids.length == IvfIndex.defaultNlist(IvfIndex.corpusCount(spark, sf)))
  }

  test("warm probe reads the held index: no exchange, no re-assignment, same answer") {
    import org.apache.spark.sql.functions.col
    val (index, centroids) = IvfIndex.build(spark, sf)
    val query = Tables.embeddings(spark, sf)
      .filter(col("vec_id") === 0).select("embedding").collect()(0).getSeq[Float](0).toArray
    val probe = IvfIndex.search(spark, index.filter(col("vec_id") =!= 0), centroids, query, k = 10)
    val rows = probe.collect().map(_.toSeq).toSeq
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("Scan ExistingRDD"), plan)
    assert(!plan.contains("Exchange"), s"a warm probe must not shuffle:\n$plan")
    // KMeansModel.transform's predict is a Scala UDF; its absence means
    // the probe filters assigned rows instead of assigning again
    assert(!plan.contains("UDF"), s"a warm probe must not re-assign:\n$plan")
    // the held frame keeps the assignment plan's size estimate; a bare
    // LogicalRDD reports spark.sql.defaultSizeInBytes (Long.MaxValue)
    // and would never be chosen as a broadcast side
    assert(index.queryExecution.optimizedPlan.stats.sizeInBytes < BigInt(Long.MaxValue))
    // same rows as the probe over the at-rest layout...
    val path = java.nio.file.Files.createTempDirectory("graft_ivf_warm").toString + "/idx"
    IvfIndex.writeIndex(index, path)
    val atRest = IvfIndex.search(spark, IvfIndex.readIndex(spark, path).filter(col("vec_id") =!= 0),
      centroids, query, k = 10).collect().map(_.toSeq).toSeq
    assert(rows == atRest)
    // ...and the full probe over the held rows is the exact answer
    val full = IvfIndex.search(spark, index.filter(col("vec_id") =!= 0), centroids, query,
      k = 10, nprobe = centroids.length).collect().map(_.toSeq).toSeq
    assert(full == VectorSearch.knnCosine(spark, sf).collect().map(_.toSeq).toSeq)
  }

  test("warm probes compile nothing: held rows, readIndex and the IVF-PQ probe") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.metrics.source.CodegenMetrics
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val (index, centroids) = IvfIndex.build(spark, sf)
    // 21 queries with pairwise distinct probe sets: one warms up
    val queries = Tables.embeddings(spark, sf).orderBy("vec_id").select("embedding").collect()
      .map(_.getSeq[Float](0).toArray).toSeq
      .groupBy(q => IvfIndex.rankProbes(centroids, q.map(_.toDouble), 0).toSeq)
      .values.map(_.head).take(21).toSeq
    assert(queries.size == 21)
    val path = java.nio.file.Files.createTempDirectory("graft_ivf_compile").toString + "/idx"
    IvfIndex.writeIndex(index, path)
    /** Compiles during 20 probes after one warm-up. */
    def warm(probes: Seq[() => Any]): Long = {
      probes.head()
      val before = compiles
      probes.tail.foreach(_())
      compiles - before
    }
    def searches(frame: org.apache.spark.sql.DataFrame) = queries.map(q => () =>
      IvfIndex.search(spark, frame.filter(col("vec_id") =!= 0), centroids, q, k = 10).collect())
    // IVF-PQ: the query is fixed, so vary the depth for distinct sets
    val default = IvfIndex.defaultNprobe(centroids.length)
    val pqDepths = default +: (1 to 21).filter(_ != default)
    val compiled = Map(
      "held rows" -> warm(searches(index)),
      "readIndex" -> warm(searches(IvfIndex.readIndex(spark, path))),
      "IVF-PQ" -> warm(pqDepths.map(np => () =>
        graft.operators.IvfPq.knnIvfPq(spark, sf, nprobe = np).collect())))
    assert(compiled.values.forall(_ == 0), s"compiles in 20 warm probes: $compiled")
  }

  test("one corpus dir, one index: path spellings share the memo entry and artifact dir") {
    import graft.operators.PqIndex
    val rel = java.nio.file.Paths.get("").toAbsolutePath.relativize(java.nio.file.Paths.get(sf))
    val spellings = Seq(sf, sf + "/", s"./$rel/../${java.nio.file.Paths.get(sf).getFileName}")
    // one input per kind of entry: held rows, a persisted frame, PQ codes
    val kinds: Seq[(String, String => AnyRef)] = Seq(
      "IvfIndex.build" -> (d => IvfIndex.build(spark, d)._1),
      "Dedup.minhashLsh" -> (d => Dedup.minhashLsh(spark, d)),
      "PqIndex.build" -> (d => PqIndex.build(spark, d)._1))
    kinds.foreach { case (kind, build) =>
      val first = build(spellings.head)
      val entries = graft.functions.Artifacts.size(spark)
      spellings.tail.foreach { d =>
        assert(build(d) eq first, s"$kind: the spelling $d must hit the entry of $sf")
      }
      assert(graft.functions.Artifacts.size(spark) == entries, s"$kind: a spelling added an entry")
    }
    assert(IvfIndex.dumpDir(sf) == IvfIndex.dumpDir(sf + "/"))
    assert(IvfIndex.dumpDir(sf) == IvfIndex.dumpDir(s"./$rel"))
    assert(PqIndex.dumpDir(sf) == PqIndex.dumpDir(spellings(2)))
  }

  test("radius-calibrated nprobe: meets pair-recall target, monotone in target") {
    import org.apache.spark.sql.functions.col
    import graft.operators.{Dedup, IvfIndex}
    val (index, centroids) = IvfIndex.build(spark, sf)
    // sample densely enough that the tiny spec corpus has radius pairs
    val np80 = IvfIndex.calibrateNprobe(spark, index, centroids, sf,
      targetAccuracy = 0.8, sampleMod = 5, radius = Some(Dedup.CosRadius))
    val np100 = IvfIndex.calibrateNprobe(spark, index, centroids, sf,
      targetAccuracy = 1.0, sampleMod = 5, radius = Some(Dedup.CosRadius))
    assert(np80 >= 1 && np80 <= np100 && np100 <= centroids.length,
      s"np80=$np80 np100=$np100")
    // verify the closed form against a direct measurement: recall of
    // sampled radius pairs at the calibrated depth meets the target
    val sample = Tables.embeddings(spark, sf).filter(col("vec_id") % 5 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    def pairsAt(np: Int): Set[(Long, Long)] = {
      import org.apache.spark.sql.functions._
      index.join(IvfIndex.probePairs(spark, sample, centroids, np), "centroid_id")
        .filter(col("qid") =!= col("vec_id"))
        .select(col("qid"), col("vec_id"),
          graft.functions.SafeRound.round(
            graft.functions.FloatVecDistance.cosine(col("embedding"), col("qv")), 4)
            .as("dist"))
        .filter(col("dist") <= Dedup.CosRadius)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val exact = pairsAt(centroids.length)
    if (exact.nonEmpty) {
      val got = pairsAt(np80)
      val recall = (got & exact).size.toDouble / exact.size
      assert(recall >= 0.8, s"pair recall $recall at radius-calibrated nprobe=$np80")
    }
    // an unmeetable sample (no radius neighbors) falls back to default:
    // sampleMod large enough that the sample is a single far vector
    val npEmpty = IvfIndex.calibrateNprobe(spark, index, centroids, sf,
      targetAccuracy = 0.9, sampleMod = 1000000, radius = Some(Dedup.CosRadius))
    assert(npEmpty == IvfIndex.defaultNprobe(centroids.length))
  }

  test("mining TARGET-ACCURACY: wrong-source-calibrated depth hits the declared recall") {
    import org.apache.spark.sql.functions.col
    val (index, centroids) = IvfIndex.build(spark, sf)
    val np = graft.operators.Multimodal.calibrateMiningNprobe(
      spark, index, centroids, sf, target = 0.9)
    assert(np >= 1 && np <= centroids.length, s"np=$np")
    // measure on the calibration sample (vec_id % 50 == 0): recall@3 of
    // the wrong-source negatives at the calibrated depth meets the
    // target (floor 0.8: rounded-dist ties at the k boundary can swap a
    // member vs the closed form's unrounded truth)
    val exact = graft.operators.Multimodal.pairMining(spark, sf).collect()
      .filter(_.getLong(0) % 50 == 0)
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = graft.operators.Multimodal
      .pairMiningIvfAt(spark, sf, index, centroids, np).collect()
      .filter(_.getLong(0) % 50 == 0)
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    if (exact.nonEmpty) {
      val recall = (exact & got).size.toDouble / exact.size
      assert(recall >= 0.8, s"mining recall $recall at calibrated nprobe=$np")
    }
    // the mask is the point: the unfiltered top-3 truth is dominated by
    // same-source duplicates in the anchor's own cell and calibrates
    // shallower than the wrong-source contract
    val unmasked = IvfIndex.calibrateNprobe(spark, index, centroids, sf,
      targetAccuracy = 0.9, k = 3)
    assert(unmasked <= np, s"unmasked=$unmasked masked=$np")
  }

  test("default-depth mining meets the RELAXED hard-negative contract at sf0.1") {
    // SURVEY §6 conclusion (3), now measured instead of narrated: a
    // hard-negative miner doesn't need the anchor's exact top-3 — any
    // near-top wrong-source negative serves for contrastive training.
    // Contract: a mined negative is a hit when it sits in the anchor's
    // TRUE top-10 wrong-source neighbors (tools/ivf_recall.py reports
    // the same metric on Verify dumps). At the scan-bounded default
    // depth the strict top-3 recall is ~0.56 at sf0.1 while this
    // relaxed rate measured 0.9755 — the measured justification for
    // pricing the default depth below full TARGET-ACCURACY calibration.
    import org.apache.spark.sql.functions.{col, explode}
    import graft.operators.Multimodal
    val dir = "/root/testdata/sf0.1"
    val src = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    val emb = Tables.embeddings(spark, dir)
      .join(src, col("vec_id") === col("doc_id")).drop("doc_id")
    val q = emb.select(col("vec_id").as("qid"), col("embedding").as("qv"),
      col("source").as("qs"))
    val truth = emb.crossJoin(q)
      .filter(col("vec_id") =!= col("qid") && col("source") =!= col("qs"))
      .select(col("qid"), col("vec_id"),
        graft.functions.FloatVecDistance.cosine(col("embedding"), col("qv")).as("dist"))
      .groupBy(col("qid"))
      .agg(graft.functions.TopKAgg.topkByDist(col("dist"), col("vec_id"), 10).as("top"))
      .select(col("qid"), explode(col("top.id")).as("vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mined = Multimodal.pairMiningIvf(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(mined.nonEmpty)
    val rate = mined.count(truth.contains).toDouble / mined.length
    assert(rate >= 0.9, s"relaxed hardness $rate < 0.9 over ${mined.length} mined")
  }

  test("un-hinted probe-pair joins still broadcast at local scale (AQE)") {
    import org.apache.spark.sql.functions.col
    val (index, centroids) = IvfIndex.build(spark, sf)
    val queriesDf = Tables.embeddings(spark, sf)
      .filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    // the forced broadcast() hints were removed (a corpus-sized query
    // table must be allowed to shuffle-join at 100 TB); this pins that
    // AQE still picks a broadcast join for the answer-sized pair table
    // locally, so un-hinting cost nothing at test scale.
    val served = IvfIndex.searchBatch(spark, index, centroids, queriesDf, k = 5)
    served.collect()
    val plan = served.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"probe-pair join did not broadcast at local scale:\n$plan")
    val pq = graft.operators.IvfPq.knnIvfPqBatch(spark, sf)
    pq.collect()
    val pqPlan = pq.queryExecution.executedPlan.toString
    assert(pqPlan.contains("BroadcastHashJoin") || pqPlan.contains("BroadcastExchange"),
      s"ivf-pq probe-pair join did not broadcast at local scale:\n$pqPlan")
  }

  test("ivf-pq composed serving: sound pruning, recall floor, exact re-rank dists") {
    import org.apache.spark.sql.functions.col
    val r = graft.operators.IvfPq.knnIvfPq(spark, sf).collect()
    assert(r.length == 10)
    val dists = r.map(_.getDouble(1)).toSeq
    assert(dists == dists.sorted, "distances must ascend")
    // soundness: every hit comes from a probed IVF partition — the ADC
    // scan never touched an unpruned code
    val (index, centroids) = IvfIndex.build(spark, sf)
    val qRaw = graft.Tables.embeddings(spark, sf).filter(col("vec_id") === 0)
      .select("embedding").collect()(0).getSeq[Float](0).map(_.toDouble).toArray
    val probes = centroids.zipWithIndex
      .map { case (c, i) => (i, graft.functions.VecMath.distD("cosine", c, qRaw)) }
      .sortBy { case (i, d) => (d, i) }
      .take(IvfIndex.defaultNprobe(centroids.length)).map(_._1).toSet
    val assigned = index.filter(col("vec_id").isin(r.map(_.getLong(0)).toIndexedSeq: _*))
      .select("vec_id", "centroid_id").collect()
      .map(x => x.getLong(0) -> x.getInt(1)).toMap
    r.foreach(row => assert(probes.contains(assigned(row.getLong(0))),
      s"hit ${row.getLong(0)} came from unprobed partition ${assigned(row.getLong(0))}"))
    // re-rank computes TRUE cosine: returned dists match the exact operator's
    val exactAll = VectorSearch.knnCosineK(spark, sf, k = 499).collect()
      .map(x => x.getLong(0) -> x.getDouble(1)).toMap
    r.foreach(row => assert(exactAll(row.getLong(0)) == row.getDouble(1),
      s"re-rank distance drifted for ${row.getLong(0)}"))
    // composed pruning stacks two approximations; pin a usable floor
    val exact = VectorSearch.knnCosine(spark, sf).collect().map(_.getLong(0)).toSet
    val got = r.map(_.getLong(0)).toSet
    assert((got & exact).size >= 3, s"ivf-pq recall collapsed: ${(got & exact).size}/10")
    // determinism across runs
    val again = graft.operators.IvfPq.knnIvfPq(spark, sf).collect().map(_.getLong(0)).toSeq
    assert(r.map(_.getLong(0)).toSeq == again)
  }

  test("ivf-pq batch serving: full probe degenerates to exact batch; default geometry keeps recall") {
    import org.apache.spark.sql.functions.col
    val n = graft.Tables.embeddings(spark, sf).count().toInt
    // disable both approximations (probe every partition, shortlist the
    // whole corpus): the composed path must equal exact batch serving
    // row-for-row — pruning and ADC are the ONLY sources of error
    val (index, centroids) = IvfIndex.build(spark, sf)
    val full = graft.operators.IvfPq.knnIvfPqBatch(spark, sf, k = 5, shortlist = n,
      nprobe = centroids.length).collect()
    val queriesDf = graft.Tables.embeddings(spark, sf)
      .filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val exact = IvfIndex.searchBatch(spark, index, centroids, queriesDf, k = 5,
      nprobe = centroids.length).orderBy("qid", "rnk").collect()
    assert(full.map(_.toSeq).toSeq == exact.map(_.toSeq).toSeq,
      "full-probe full-shortlist ivf-pq batch must equal exact batch serving")
    // default geometry: mean per-query recall@5 vs exact stays usable
    // under the stacked approximations
    val approx = graft.operators.IvfPq.knnIvfPqBatch(spark, sf).collect()
    val byQ = approx.groupBy(_.getLong(0))
    val exactByQ = exact.groupBy(_.getLong(0))
    assert(byQ.keySet == exactByQ.keySet, "every query must answer")
    byQ.values.foreach(rows => assert(rows.length == 5))
    val recalls = byQ.map { case (q, rows) =>
      val want = exactByQ(q).map(_.getLong(1)).toSet
      (rows.map(_.getLong(1)).toSet & want).size.toDouble / want.size
    }
    val mean = recalls.sum / recalls.size
    // floor calibrated on the adaptive geometry (5/22 probes of a
    // UNIFORM random corpus, PQ quantization stacked on top); the
    // real-geometry single-approximation recalls are
    // measured in SURVEY §6 (batch IVF recall@5 = 1.0 at the 10× SF)
    assert(mean >= 0.4, s"mean batch ivf-pq recall@5 $mean below 0.4")
  }

  test("pq codec granularity: m=16 packs 64-bit codes; full-probe composed path still exact") {
    import org.apache.spark.sql.functions.col
    val n = graft.Tables.embeddings(spark, sf).count().toInt
    val (index, centroids) = IvfIndex.build(spark, sf)
    // finer codec: 16 subspaces × 4 bits = 64-bit codes (LongType at
    // rest), 16 codebook rows of dsub = dim/16 codewords
    val (codes16, cbs16, _) =
      graft.operators.PqIndex.buildResidual(spark, sf, index, centroids, None, 16)
    assert(cbs16.length == 16 && cbs16(0).length == 16)
    assert(codes16.schema("code").dataType ==
      org.apache.spark.sql.types.LongType, "m=16 codes must be 64-bit")
    // the default build is memoized under its own geometry key — the
    // m=16 build must not have replaced it (the knob cannot poison the
    // default artifacts)
    val (codes8, cbs8, _) =
      graft.operators.PqIndex.buildResidual(spark, sf, index, centroids)
    assert(cbs8.length == 8)
    assert(codes8.schema("code").dataType ==
      org.apache.spark.sql.types.IntegerType, "default codes stay 32-bit")
    // disable both approximations at m=16: the composed path must
    // equal exact batch serving row-for-row (the m=8 degeneracy test,
    // repeated at the finer geometry — pins the whole 64-bit unpack)
    val full = graft.operators.IvfPq.knnIvfPqBatch(spark, sf, k = 5, shortlist = n,
      nprobe = centroids.length, m = 16).collect()
    val queriesDf = graft.Tables.embeddings(spark, sf)
      .filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val exact = IvfIndex.searchBatch(spark, index, centroids, queriesDf, k = 5,
      nprobe = centroids.length).orderBy("qid", "rnk").collect()
    assert(full.map(_.toSeq).toSeq == exact.map(_.toSeq).toSeq,
      "full-probe full-shortlist m=16 ivf-pq batch must equal exact batch serving")
    // finer codec at default serving knobs: recall not below the m=8
    // floor (the geometry's whole point is FEWER ADC ties, priced in
    // PqAccProbe's geometry column on sf0.1)
    val approx = graft.operators.IvfPq.knnIvfPqBatch(spark, sf, m = 16).collect()
    val exactByQ = exact.groupBy(_.getLong(0))
    val recalls = approx.groupBy(_.getLong(0)).map { case (q, rows) =>
      val want = exactByQ(q).map(_.getLong(1)).toSet
      (rows.map(_.getLong(1)).toSet & want).size.toDouble / want.size
    }
    assert(recalls.sum / recalls.size >= 0.4,
      s"mean m=16 batch ivf-pq recall@5 ${recalls.sum / recalls.size} below 0.4")
    // a subspace count that does NOT divide the dim fails loud instead
    // of silently truncating the trailing dims out of fit/encode/ADC
    // (ADVICE r12): dim is 64 here, 7 is not a divisor
    val thrown = intercept[IllegalArgumentException] {
      graft.operators.PqIndex.buildResidual(spark, sf, index, centroids, None, 7)
    }
    assert(thrown.getMessage.contains("divide"), thrown.getMessage)
  }

  test("ivf training sample: FAISS-style cap never binds at gate corpora, engages above 256·nlist") {
    // gate corpus: full-set training → persisted artifacts bit-unchanged
    val n = graft.Tables.embeddings(spark, sf).count()
    assert(IvfIndex.trainMod(n, IvfIndex.defaultNlist(n)) == 1L,
      "gate corpus must train on the full set")
    // 30× corpus shape (60k vectors, 245 cells → 62.7k budget ≥ N): still full
    assert(IvfIndex.trainMod(60000L, 245) == 1L)
    // the regime the cap exists for (600k vectors, 775 cells → ~198k budget):
    // stride engages and the sample lands within (half, full] of the budget
    val m = IvfIndex.trainMod(600000L, 775)
    val budget = 256L * 775
    assert(m > 1L && 600000L / m <= budget && 600000L / m > budget / 2,
      s"mod $m samples ${600000L / m} of budget $budget")
    // more data never shrinks the stride
    assert(IvfIndex.trainMod(1200000L, 775) >= m)
    // PQ codebook twin: same convention, 256·NumCodewords budget —
    // full-set at every gate corpus, capped-sample above it
    assert(graft.operators.PqIndex.trainMod(2000L) == 1L)
    assert(graft.operators.PqIndex.trainMod(4096L) == 1L)
    val pm = graft.operators.PqIndex.trainMod(200000L)
    val pqBudget = 256L * graft.operators.PqIndex.NumCodewords
    assert(pm > 1L && 200000L / pm <= pqBudget && 200000L / pm > pqBudget / 2,
      s"pq mod $pm samples ${200000L / pm} of budget $pqBudget")
  }

  test("ivf training sample: stride undersample falls back to hash sampling (ADVICE r10)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // dense ids: the guard is a pure pass-through of the raw stride —
    // the bit-unchanged contract for every gate corpus
    val dense = (0L until 1000L).toDF("vec_id")
    val g = IvfIndex.guardedStrideSample(dense, tm = 4L, minRows = 100L)
    assert(g.collect().map(_.getLong(0)).toSet ==
      dense.filter(col("vec_id") % 4 === 0).collect().map(_.getLong(0)).toSet)
    // adversarial id space: every id ≡ 1 (mod 4) — the raw stride
    // returns ZERO rows (KMeans would throw); the guard must fall back
    // to the id-distribution-free hash stride and still sample ~n/tm
    val sparse = (0L until 1000L).map(i => i * 4 + 1).toDF("vec_id")
    val h = IvfIndex.guardedStrideSample(sparse, tm = 4L, minRows = 100L)
    val cnt = h.count()
    assert(cnt >= 100L && cnt < 1000L,
      s"hash fallback sampled $cnt of 1000 at stride 4")
    // tm == 1 regime is untouched input, no counting jobs
    assert(IvfIndex.guardedStrideSample(sparse, 1L, 100L) eq sparse)
  }

  test("ivf-pq TARGET-ACCURACY: calibrated depth is monotone, carries pruning recall, and beats the default") {
    import org.apache.spark.sql.functions.col
    val (index, centroids) = IvfIndex.build(spark, sf)
    val npDef = IvfIndex.resolveNprobe(centroids.length, 0)
    // depth resolution at the SERVING k through the shared closed-form
    // calibration — monotone in the target by construction
    val np90 = IvfIndex.calibrateNprobe(spark, index, centroids, sf, 0.9, k = 5)
    val np95 = IvfIndex.calibrateNprobe(spark, index, centroids, sf, 0.95, k = 5)
    val np100 = IvfIndex.calibrateNprobe(spark, index, centroids, sf, 1.0, k = 5)
    assert(np90 <= np95 && np95 <= np100 && np100 <= centroids.length,
      s"np90=$np90 np95=$np95 np100=$np100 nlist=${centroids.length}")
    // the TARGET-ACC entry point co-selects (depth, shortlist) against
    // the COMPOSED ground truth (r11 — the depth-only knob calibrated
    // against cell recall and under-delivered) and must resolve to
    // exactly that explicit plan
    val (codes, codebooks, offsets) =
      graft.operators.PqIndex.buildResidual(spark, sf, index, centroids)
    val (npC, slC) = graft.operators.IvfPq.calibrateComposed(spark, sf,
      index, centroids, codes, codebooks, offsets,
      target = 0.95, k = 5, shortlistFloor = 50, forceMode = None)
    assert(slC >= 50, s"co-selected shortlist $slC must respect the caller floor")
    val viaTarget = graft.operators.IvfPq.knnIvfPqBatch(spark, sf, k = 5,
      targetAcc = Some(0.95)).collect().map(_.toSeq).toSeq
    val viaDepth = graft.operators.IvfPq.knnIvfPqBatch(spark, sf, k = 5,
      nprobe = npC, shortlist = slC).collect().map(_.toSeq).toSeq
    assert(viaTarget == viaDepth,
      "targetAcc mode must equal the calibrated explicit (depth, shortlist) plan")
    def topsAt(np: Int): Map[Long, Set[Long]] =
      graft.operators.IvfPq.knnIvfPqBatch(spark, sf, k = 5, nprobe = np)
        .collect().groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    def mean(rs: Iterable[Double]): Double = rs.sum / rs.size
    // what the depth knob GOVERNS is pruning: overlap with the
    // full-probe composed result (same codec, no pruning). Measured
    // 0.82 / 0.98 at np90 / np95 on this corpus (PqAccProbe; ADC-picked
    // items spread over more cells than true neighbors, so pruning
    // overlap sits somewhat below the cell-recall target — the
    // end-to-end depth/recall table lives in SURVEY §6)
    // hoist every composed search into a val: ScalaTest assert clues
    // evaluate eagerly, so an inline topsAt in both the condition and
    // the clue would run the full distributed search twice
    val full = topsAt(centroids.length)
    val tops90 = topsAt(np90)
    val tops95 = topsAt(np95)
    val topsDef = topsAt(npDef)
    def pruneRecall(tops: Map[Long, Set[Long]]): Double =
      mean(tops.map { case (q, ids) => (ids & full(q)).size / 5.0 })
    val pr95 = pruneRecall(tops95)
    val pr90 = pruneRecall(tops90)
    assert(pr95 >= 0.9, s"np95=$np95 pruning recall $pr95")
    assert(pr90 >= 0.75, s"np90=$np90 pruning recall $pr90")
    // end-to-end recall vs EXACT at the calibrated depth beats the
    // scan-bounded default (0.70+ vs 0.58 measured)
    val queriesDf = graft.Tables.embeddings(spark, sf)
      .filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val exact = IvfIndex.searchBatch(spark, index, centroids, queriesDf, k = 5,
      nprobe = centroids.length).collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getLong(1)).toSet).toMap
    def exactRecall(tops: Map[Long, Set[Long]]): Double =
      mean(tops.map { case (q, ids) => (ids & exact(q)).size / 5.0 })
    assert(exactRecall(tops90) >= exactRecall(topsDef),
      "calibrated depth must not lose recall vs the scan-bounded default")
  }

  test("ivf-pq TARGET-ACCURACY tracks END-TO-END recall (the r11 shortlist co-selection)") {
    import org.apache.spark.sql.functions.col
    val (index, centroids) = IvfIndex.build(spark, sf)
    val queriesDf = graft.Tables.embeddings(spark, sf)
      .filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val exact = IvfIndex.searchBatch(spark, index, centroids, queriesDf, k = 5,
      nprobe = centroids.length).collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val served = graft.operators.IvfPq.knnIvfPqBatch(spark, sf, k = 5,
      targetAcc = Some(0.9))
      .collect().groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val recall = served.map { case (q, ids) => (ids & exact(q)).size / 5.0 }
      .sum / served.size
    // the calibration LOWER-bounds recall on the capped sample, and at
    // this corpus size the sample IS the %50 serving set — so recall
    // must sit AT OR ABOVE the declared target up to exact-re-rank
    // rounding ties (0.02 margin). r10's depth-only knob measurably
    // could NOT reach this: the full-probe composed ceiling was 0.74
    // under the fixed 50-item shortlist (PqAccProbe r10); the
    // co-selected (depth, shortlist) measured 0.92 here (r11).
    assert(recall >= 0.88, s"targetAcc=0.9 delivered end-to-end recall $recall")
  }

  test("by_residual: variance rule engages on clustered corpora and lifts ADC ranking") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // a corpus with REAL cluster structure (20 tight direction
    // clusters) — the regime FAISS's by_residual exists for; the
    // driver's synthetic corpora are near-uniform on the sphere, where
    // the same rule measurably selects flat (asserted below)
    val dim = 64
    val rnd = new scala.util.Random(7)
    def normalize(a: Array[Double]): Array[Double] = {
      val n = math.sqrt(a.map(x => x * x).sum); a.map(_ / n)
    }
    val centers = Array.fill(20)(normalize(Array.fill(dim)(rnd.nextGaussian())))
    val rows = (0 until 500).map { i =>
      val c = centers(i % 20)
      val v = normalize(c.map(x => x + 0.05 * rnd.nextGaussian()))
      (i.toLong, v.map(_.toFloat).toSeq, i % 20)
    }
    val tmp = java.nio.file.Files.createTempDirectory("graft_clustered").toString
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val (index, centroids) = IvfIndex.build(spark, tmp)
    val (_, _, offsets) = graft.operators.PqIndex.buildResidual(spark, tmp, index, centroids)
    assert(offsets.exists(_.exists(_ != 0.0)),
      "the variance rule must select residual mode on a clustered corpus")
    // ...and flat (zero offsets) on the near-uniform gate corpus, where
    // residuals measure LARGER than the vectors (SURVEY §6)
    val (indexU, centroidsU) = IvfIndex.build(spark, sf)
    val (_, _, offsetsU) = graft.operators.PqIndex.buildResidual(spark, sf, indexU, centroidsU)
    assert(offsetsU.forall(_.forall(_ == 0.0)),
      "the variance rule must select flat mode on the near-uniform gate corpus")
    // ADC ranking quality at a TIGHT shortlist (10 candidates feed the
    // exact re-rank, so the quantizer's ranking is what's measured):
    // residual codebooks spend the same 32 bits inside the cluster
    // ball and must beat flat codes on the same probes
    def recall(mode: Option[Boolean]): Double = {
      val got = graft.operators.IvfPq.knnIvfPqBatch(spark, tmp, k = 5, shortlist = 10,
        forceMode = mode).collect()
      val exact = IvfIndex.searchBatch(spark, index, centroids,
        graft.Tables.embeddings(spark, tmp).filter(col("vec_id") % 50 === 0)
          .select(col("vec_id").as("qid"), col("embedding").as("qv")),
        k = 5, nprobe = centroids.length).collect()
      val eq = exact.groupBy(_.getLong(0)).map { case (q, r) => q -> r.map(_.getLong(1)).toSet }
      val gq = got.groupBy(_.getLong(0))
      val rs = eq.map { case (q, want) =>
        (gq.getOrElse(q, Array.empty).map(_.getLong(1)).toSet & want).size.toDouble / want.size
      }
      rs.sum / rs.size
    }
    val resRecall = recall(Some(true))
    val flatRecall = recall(Some(false))
    info(s"clustered-corpus recall@5 (shortlist 10): residual $resRecall, flat $flatRecall")
    assert(resRecall > flatRecall,
      s"residual ADC must out-rank flat on clustered data: $resRecall vs $flatRecall")
    // measured 0.68 vs 0.48 at this geometry (deterministic build);
    // the floor leaves headroom for Spark k-means implementation drift
    assert(resRecall >= 0.6, s"residual recall floor on clustered data: $resRecall")
  }

  test("ab-overlap sample modulus: 1/20 floor on small corpora, absolute cap on large") {
    // below 20*cap docs the floor binds (every driver SF lands here,
    // so the oracle-checked results are unchanged by the cap)...
    assert(ModelRegistry.abSampleMod(0) == ModelRegistry.AbSampleMod)
    assert(ModelRegistry.abSampleMod(500) == ModelRegistry.AbSampleMod)
    assert(ModelRegistry.abSampleMod(9999) == ModelRegistry.AbSampleMod)
    // ...above it the modulus grows with the corpus, pinning the
    // expected sample size near AbSampleCap: sample x corpus scoring
    // stays O(cap * N) instead of O(N^2 / 20)
    assert(ModelRegistry.abSampleMod(50000) == 100)
    val billion = 1000000000L
    assert(ModelRegistry.abSampleMod(billion) == (billion / ModelRegistry.AbSampleCap).toInt)
  }

  test("model registry load/list/drop surface") {
    ModelRegistry.catalog.foreach(m => ModelRegistry.load(m, force = true))
    assert(ModelRegistry.list().contains("ALL_MINILM_L12_V2"))
    assert(!ModelRegistry.load(ModelRegistry.catalog.head), "double load must report already-loaded")
    assert(ModelRegistry.drop("ALL_MINILM_L12_V2"))
    assert(!ModelRegistry.list().contains("ALL_MINILM_L12_V2"))
    assert(!ModelRegistry.drop("ALL_MINILM_L12_V2"), "double drop must report missing")
    ModelRegistry.load(ModelRegistry.catalog.head)
  }

  test("to_vector round-trip is lossless for every embedding") {
    val r = VectorSearch.toVectorRoundtrip(spark, sf).collect()(0)
    assert(r.getLong(0) > 0 && r.getLong(0) == r.getLong(1))
    // element granularity too: every single float survives the trip
    assert(r.getLong(2) > 0 && r.getLong(2) == r.getLong(3))
  }

  test("k-means index builds are bit-exact reproducible for a fixed seed") {
    // the property an incremental 100 TB rebuild relies on: same seed +
    // same data ⇒ the SAME index layout, so a resumed/partial rebuild
    // assigns vectors to identical partitions. Fit twice, compare every
    // centroid double bit-for-bit.
    val emb = graft.Tables.embeddings(spark, sf)
    val a = IvfIndex.fitModel(emb).clusterCenters.map(_.toArray)
    val b = IvfIndex.fitModel(emb).clusterCenters.map(_.toArray)
    assert(a.length == b.length)
    assert(a.zip(b).forall { case (x, y) => x.sameElements(y) },
      "ivf centroids differ between same-seed builds")
    val ca = graft.operators.PqIndex.fitCodebooks(spark, sf)
    val cb = graft.operators.PqIndex.fitCodebooks(spark, sf)
    assert(ca.length == cb.length)
    assert(ca.zip(cb).forall { case (x, y) =>
      x.length == y.length &&
        x.zip(y).forall { case (u, v) => u.sameElements(v) }
    }, "pq codebooks differ between same-seed builds")
  }
}
