package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{ExplainMode, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.scalatest.funsuite.AnyFunSuite

import graft.operators._

/** Physical-plan property assertions — the scale-shape audits from
  * SURVEY §4, pinned as tests instead of eyeballed `.explain` output.
  * A regression that turns a broadcast join into a shuffle join, drops
  * a parquet filter pushdown, or sneaks in a cartesian product fails
  * CI here long before it fails a 100 TB run.
  */
class PlanSpec extends AnyFunSuite {
  import SparkTestSession._

  private def plan(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  /** Every node of an executed plan, through adaptive query stages;
    * into the plans of cached relations only when `intoCached`. */
  private def nodes(p: SparkPlan, intoCached: Boolean): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan, intoCached)
    case q: QueryStageExec => q +: nodes(q.plan, intoCached)
    case m: InMemoryTableScanExec if intoCached => m +: nodes(m.relation.cachedPlan, intoCached)
    case other => other +: other.children.flatMap(nodes(_, intoCached))
  }

  test("q5: all dimension joins are broadcast, no shuffle join of dims, no cartesian") {
    val p = plan(Analytics.q5NationRevenue(spark, sf))
    assert(p.contains("BroadcastHashJoin"), "dims must broadcast")
    // four broadcast dims: supplier, customer, nation, region
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 4, p)
    assert(!p.contains("CartesianProduct"), "no cartesian anywhere")
  }

  test("q1: parquet scan pushes the shipdate filter and prunes columns") {
    val p = plan(Analytics.q1PricingSummary(spark, sf))
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"), p)
    // projection needs 7 of lineitem's 11 columns; the scan must not read the rest
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_orderkey"), s"column not pruned: $readSchema")
    assert(!readSchema.contains("l_partkey"), s"column not pruned: $readSchema")
  }

  test("knn top-k plans as TakeOrderedAndProject, not a global sort") {
    // every single-probe query scored by VectorSearch.exactTopK
    val probes: Seq[(org.apache.spark.sql.SparkSession, String) => DataFrame] = Seq(
      VectorSearch.knnCosine, VectorSearch.knnL2, VectorSearch.knnDot,
      VectorSearch.knnManhattan, VectorSearch.knnPostFiltered, PqIndex.knnPq(_, _))
    probes.foreach { q =>
      val p = plan(q(spark, sf))
      assert(p.contains("TakeOrderedAndProject"), p)
      // the query side is a broadcast, the data side must not shuffle
      assert(!p.contains("Exchange hashpartitioning"), p)
    }
  }

  test("dedup band joins are equi-joins (shuffle or broadcast), never cartesian") {
    for (q <- Seq(Dedup.minhashLsh _, Dedup.simhash _)) {
      val p = plan(q(spark, sf))
      assert(!p.contains("CartesianProduct"), p)
      assert(!p.contains("BroadcastNestedLoopJoin"), p)
    }
  }

  test("minhash lsh works on one row per document: no shingle explode, no shingle-keyed exchange") {
    import org.apache.spark.sql.execution.GenerateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.{ArrayType, StringType}
    val df = Dedup.minhashLsh(spark, sf)
    df.collect()
    val all = nodes(df.queryExecution.executedPlan, intoCached = true)
    assert(all.exists(_.isInstanceOf[GenerateExec]), "band explode expected in the walked plan")
    all.collect { case g: GenerateExec => g }.foreach { g =>
      g.generator.children.foreach(c => assert(c.dataType match {
        case ArrayType(StringType, _) => false
        case _ => true
      }, s"string-array explode in the minhash plan: $g"))
    }
    all.collect { case e: ShuffleExchangeExec => e }.foreach { e =>
      val keys = e.outputPartitioning match {
        case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning => h.expressions
        case _ => Nil
      }
      keys.flatMap(_.references).foreach(a =>
        assert(a.name != "shingle", s"shingle-keyed exchange in the minhash plan: $e"))
    }
  }

  test("funnel is one pass: no union, no anti join, one documents scan outside cached frames") {
    import org.apache.spark.sql.catalyst.plans.LeftAnti
    import org.apache.spark.sql.execution.{FileSourceScanExec, UnionExec}
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    // cached relations (MinHash pairs, chunk weights) are leaves here:
    // their own plans scan the documents once per session, not per draw
    val df = Pipeline.e2e(spark, sf)
    df.collect()
    val all = nodes(df.queryExecution.executedPlan, intoCached = false)
    assert(!all.exists(_.isInstanceOf[UnionExec]), df.queryExecution.executedPlan)
    all.collect { case j: BaseJoinExec => j }.foreach(j =>
      assert(j.joinType != LeftAnti, s"anti join in the funnel plan: $j"))
    val docScans = all.collect {
      case f: FileSourceScanExec
        if f.relation.location.rootPaths.exists(_.toString.contains("documents.parquet")) => f
    }
    assert(docScans.size == 1, docScans.mkString("\n"))
  }

  test("dedup_url: every hash exchange keys on the canonical url, no cartesian, no doc_id shuffle") {
    val p = plan(UrlDedup.urlDedup(spark, sf))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // the one legitimate shuffle key is the canonical url (count/max,
    // keeper election, and assembly reuse it); a hashpartitioning on
    // doc_id would mean the quality score was joined back onto the
    // documents scan instead of riding the same projection
    // formatted mode prints the exchange spec on its own
    // "Arguments: hashpartitioning(key, n)" line
    val hashKeys = "hashpartitioning\\(([a-zA-Z_0-9#]+)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(hashKeys.nonEmpty, p)
    hashKeys.foreach(k => assert(k.startsWith("url#"), s"non-url shuffle key $k\n$p"))
  }

  test("batch knn broadcasts the index side (nested-loop on broadcast, no shuffle cartesian)") {
    val p = plan(VectorSearch.knnBatch(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q4-style EXISTS plans as a semi join") {
    val p = plan(Analytics2.qOrderPriorityExists(spark, sf))
    assert(p.contains("Semi"), p)
  }

  test("salted aggregation is two partial-agg phases, no extra shuffle of the raw table") {
    val p = plan(Analytics.qUserSalted(spark, sf))
    // exactly one exchange on (user_id, salt) then one on user_id —
    // both HashAggregate pairs, never a sort-based fallback
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2, p)
    assert(p.contains("HashAggregate"), p)
  }

  test("sequence packing shards its window (no single-partition global window)") {
    val p = plan(TrainingPipeline.packSequences(spark, sf))
    assert(p.contains("hashpartitioning(shard"), s"window must partition by shard\n$p")
    assert(!p.contains("SinglePartition\n   +- Window"), p)
  }

  test("vocab chunker broadcasts the vocabulary and shards its window by doc") {
    val p = plan(DocPipeline.chunksByVocab(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"vocab lookup must broadcast\n$p")
    assert(p.contains("hashpartitioning(doc_id"), s"window must partition by doc_id\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("df-capped ngram dedup: candidate joins are equi-joins, no cartesian") {
    val p = plan(Dedup.ngramJaccardCapped(spark, sf))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q22 anti-join: NOT EXISTS plans as LeftAnti, scalar avg broadcasts") {
    val p = plan(Analytics2.q22LostCustomers(spark, sf))
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("collocations: unigram sides and totals broadcast, no cartesian") {
    val p = plan(TextAnalysis.collocations(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("lsh ann probe: no join and no shuffle before the top-k") {
    val p = plan(EmbeddingLsh.annSearch(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(!p.contains("Join"), p)
  }

  test("filtered knn: metadata predicate pushes to the documents scan, dim broadcasts") {
    val p = plan(VectorSearch.knnFiltered(spark, sf))
    assert(p.contains("EqualTo(lang,fr)") || p.contains("PushedFilters: [IsNotNull(lang)"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("batch ann serving joins on band keys, never cross joins") {
    val p = plan(EmbeddingLsh.annServe(spark, sf))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("zipf fit: no vocabulary-wide window; block cumsum is constant-keyed; rank moments from a range scan") {
    val p = plan(Analytics3.textZipfFit(spark, sf))
    // the only window runs over the distinct-frequency block table,
    // declared via its non-foldable constant key (pmod survives the
    // optimizer, pre-projected as _w0) — never an undeclared
    // single-partition window
    assert(p.contains("pmod(freq"), s"block cumsum must be constant-keyed\n$p")
    assert(p.contains("hashpartitioning(_w0"), s"window exchange must key on the constant\n$p")
    assert(!p.contains("SinglePartition\n   +- Window"), p)
    // order-free rank moments come from the distributed range scan; the
    // only Sort is the window's own pass over the √N-bounded block table
    assert(p.contains("Range ("), p)
    assert("\\(\\d+\\) Sort".r.findAllIn(p).size <= 1, s"only the block-table sort allowed\n$p")
    // the final scalar×scalar join is broadcast-hinted, not left to AQE
    // (the bm25 stats×nDocs rule — its siblings' pin)
    assert(p.contains("BroadcastNestedLoopJoin"), s"scalar join must be broadcast\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("fingerprint is shuffle-free up to the final sort") {
    val p = plan(TextAnalysis.fingerprint(spark, sf))
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(!p.contains("Window"), p)
  }

  test("pixel near-dup census: the hamming join broadcasts the census, no cartesian") {
    val p = plan(graft.sources.PngCodec.dedupPixels(spark, sf))
    // the flip-key join must broadcast (the census is bounded at
    // 2^16 rows at ANY corpus size) — a sort-merge join here would
    // mean the planner saw corpus-sized inputs
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q10 returned-item report: dims broadcast, top-20 is TakeOrderedAndProject") {
    val p = plan(Analytics2.q10Returned(spark, sf))
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
    // returnflag filter must reach the lineitem scan
    assert(p.contains("EqualTo(l_returnflag,R)"), p)
  }

  test("q19 disjunctive predicates: part dim broadcasts, no cartesian") {
    val p = plan(Analytics2.q19Disjunctive(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("rrf fusion: both rank lists are bounded TakeOrderedAndProject, fusion join is tiny") {
    val p = plan(HybridSearch.rrfFusion(spark, sf))
    assert("TakeOrderedAndProject".r.findAllIn(p).size >= 2,
      s"both top-N lists must be TakeOrderedAndProject\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("bm25: df and corpus stats broadcast, final top-k is TakeOrderedAndProject") {
    val p = plan(HybridSearch.bm25(spark, sf))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    // every scalar crossJoin in the hybrid family is explicitly
    // broadcast-hinted (r10: the stats×nDocs join was the one relying
    // on AQE) — the single-row sides must never reach a shuffle or
    // CartesianProduct at any scale
    assert(!p.contains("CartesianProduct"), p)
  }

  test("containment dedup: shared-shingle equi-join, never cartesian") {
    val p = plan(Dedup.containment(spark, sf))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("capped containment: candidate joins are equi-joins, no cartesian") {
    val p = plan(Dedup.containmentCapped(spark, sf))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q6 pushes every predicate (date range, discount band, quantity cap) to the scan") {
    val p = plan(Analytics2.q6Forecast(spark, sf))
    val pushed = p.linesIterator.find(_.contains("PushedFilters")).getOrElse("")
    assert(pushed.contains("l_shipdate") && pushed.contains("l_discount") &&
      pushed.contains("LessThan(l_quantity,24"), pushed)
  }

  test("q8 market share: all six dims broadcast over one fact pass, no cartesian") {
    val p = plan(Analytics2.q8MarketShare(spark, sf))
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 6, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("keyword extract: df broadcasts, rank window partitions by doc_id") {
    val p = plan(TextAnalysis.keywordExtract(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("hashpartitioning(doc_id"), s"window must partition by doc_id\n$p")
    assert(!p.contains("SinglePartition\n   +- Window"), p)
  }

  test("audio chunks: partition-preserving flatMap, no shuffle before the final sort") {
    val p = plan(Multimodal.audioChunks(spark, sf))
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(!p.contains("Join"), p)
  }

  test("scene cuts: lag window partitions by doc_id (no cross-video shuffle)") {
    val p = plan(Multimodal.sceneCuts(spark, sf))
    assert(p.contains("hashpartitioning(doc_id"), s"window must partition by doc_id\n$p")
    assert(!p.contains("SinglePartition\n   +- Window"), p)
  }

  test("q15 argmax: scalar max broadcasts, supplier dim broadcasts, no self-join of the agg") {
    val p = plan(Analytics2.q15TopSupplier(spark, sf))
    assert("BroadcastHashJoin|BroadcastNestedLoopJoin".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Window"), p)
  }

  test("domain mix: cumulative window partitions by source, total is a broadcast scalar") {
    val p = plan(TrainingPipeline.domainMix(spark, sf))
    assert(p.contains("hashpartitioning(source"), s"window must partition by source\n$p")
    assert(!p.contains("SinglePartition\n   +- Window"), p)
  }

  test("repetition filters are shuffle-free up to the final sort") {
    val p = plan(TextAnalysis.repetition(spark, sf))
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(!p.contains("Generate explode"), p)
  }

  test("q2 argmin supplier: agg and join-back share the partkey shuffle key") {
    val p = plan(Analytics3.q2MinCostSupplier(spark, sf))
    assert(!p.contains("CartesianProduct"), p)
    // part dim broadcasts; the join-back on (partkey, rounded cost) is
    // an equi-join, never a nested loop
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("perplexity buckets: rank window shards by lang, freq table broadcasts") {
    val p = plan(TextAnalysis.perplexityBuckets(spark, sf))
    assert(p.contains("hashpartitioning(lang"), s"window must partition by lang\n$p")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("release diff: full-outer equi-join on the doc key, never a nested loop") {
    val p = plan(TrainingPipeline.releaseDiff(spark, sf))
    assert(p.contains("FullOuter"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("label diagnostics: centroid table broadcasts back against the embeddings scan") {
    val p = plan(VectorSearch.labelDiagnostics(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q9 profit: all dims broadcast over one fact pass, no cartesian") {
    val p = plan(Analytics3.q9Profit(spark, sf))
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("spread fills cluster parallelism below the byte-split threshold, no-ops above") {
    val par = spark.sparkContext.defaultParallelism
    // a test-SF file is far below cores × 128 MiB: every core gets a slice
    val df = Tables.spread(spark, sf, "embeddings")
    assert(df.rdd.getNumPartitions == par, s"expected $par partitions")
    // redistribution only — no rows created or lost
    assert(df.count() == Tables.embeddings(spark, sf).count())
    // the guard itself: at/above cores × target bytes the plain scan
    // already fills the cluster, so spread must not add an exchange
    assert(Tables.underSplitParallelism(1L, par))
    assert(!Tables.underSplitParallelism(par.toLong * GraftSession.TargetPartitionBytes, par))
  }

  test("TARGET-ACCURACY mode: calibration sample absolutely capped, calibrated plans never sort the candidate stream") {
    import graft.operators.Multimodal
    // the ground-truth pass is O(N·cap) at ANY corpus size: the stride
    // widens so n/mod ≤ cap — at 10⁹ vectors the r7 fractional sample
    // was 2·10⁷ queries (N²/50 exact scorings); the cap holds it at 2k
    val cap = IvfIndex.CalibrationSampleCap
    for (n <- Seq(1000L, 100000L, 10000000L, 1000000000L, 100000000000L)) {
      val m = IvfIndex.calibrationMod(n, 50)
      assert(n / m <= cap, s"n=$n mod=$m samples=${n / m}")
    }
    // below cap·stride rows the caller's stride is unchanged — the
    // driver SFs sit there, so the vs_knn_ivf_acc hashes were
    // unaffected by introducing the cap
    assert(IvfIndex.calibrationMod(100000L, 50) == 50L)
    assert(IvfIndex.calibrationMod(100001L, 50) == 51L)
    assert(IvfIndex.calibrationSample(spark, sf).count() <= cap)
    // plan shape at a CALIBRATED depth (the env-knob modes run this
    // exact code path via dedupPairsAt/pairMiningIvfAt): every payload
    // join precedes the candidate explosion, so the FINAL (post-AQE)
    // plan must not sort-merge-join or cartesian the exploded stream —
    // the measured 30× failure mode was AQE sorting ~1B candidate rows
    // when the payload joined AFTER the explosion. Executed-plan
    // inspection, like the AnnSpec un-hinted-join pin: the static plan
    // legitimately schedules SMJ for the un-hinted pre-explosion joins
    // (their inputs are pair tables, not the candidate stream) and AQE
    // rewrites them to broadcasts at local scale.
    val (index, centroids) = IvfIndex.build(spark, sf)
    val np = IvfIndex.calibrateNprobe(spark, index, centroids, sf,
      targetAccuracy = 0.9, sampleMod = 5, radius = Some(Dedup.CosRadius))
    // AdaptiveSparkPlan.toString appends the pre-AQE "Initial Plan"
    // (where SMJ is the legitimate static choice) — assert on the
    // Final Plan section only
    def finalPlan(df: org.apache.spark.sql.DataFrame): String = {
      df.collect()
      df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    }
    val pDedup = finalPlan(IvfIndex.dedupPairsAt(spark, sf, index, centroids, np))
    assert(pDedup.contains("isFinalPlan=true"), pDedup)
    assert(!pDedup.contains("SortMergeJoin"), pDedup)
    assert(!pDedup.contains("CartesianProduct"), pDedup)
    val npM = Multimodal.calibrateMiningNprobe(spark, index, centroids, sf, 0.9)
    val pMine = finalPlan(Multimodal.pairMiningIvfAt(spark, sf, index, centroids, npM))
    assert(pMine.contains("isFinalPlan=true"), pMine)
    assert(!pMine.contains("SortMergeJoin"), pMine)
    assert(!pMine.contains("CartesianProduct"), pMine)
  }

  test("ivf batch search: one shuffle (the per-query top-k), no sort, window or nested-loop join") {
    import org.apache.spark.sql.execution.{SortExec, window}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    val (index, centroids) = IvfIndex.build(spark, sf)
    val df = IvfIndex.searchBatch(spark, index, centroids, VectorSearch.batchQueries(spark, sf), k = 5)
    df.collect()
    val ns = nodes(df.queryExecution.executedPlan, intoCached = false)
    val p = df.queryExecution.executedPlan.toString
    assert(ns.count(_.isInstanceOf[ShuffleExchangeExec]) == 1, p)
    assert(!ns.exists(n => n.isInstanceOf[SortExec] || n.isInstanceOf[window.WindowExec] ||
      n.isInstanceOf[BroadcastNestedLoopJoinExec]), p)
  }

  test("blocked dedup and pair mining: the probe rows carry their payload, no join keyed on qid") {
    import org.apache.spark.sql.execution.joins.{HashJoin, SortMergeJoinExec}
    val (index, centroids) = IvfIndex.build(spark, sf)
    def joinKeys(df: DataFrame): Seq[String] = {
      df.collect()
      nodes(df.queryExecution.executedPlan, intoCached = false).flatMap {
        case j: HashJoin => j.leftKeys ++ j.rightKeys
        case j: SortMergeJoinExec => j.leftKeys ++ j.rightKeys
        case _ => Nil
      }.flatMap(_.references.map(_.name))
    }
    Seq(
      "dedupPairsAt" -> IvfIndex.dedupPairsAt(spark, sf, index, centroids, 0),
      "pairMiningIvfAt" -> Multimodal.pairMiningIvfAt(spark, sf, index, centroids, 0)).foreach {
      case (name, df) =>
        val keys = joinKeys(df)
        assert(keys.contains("centroid_id"), s"$name: $keys")
        assert(!keys.contains("qid"), s"$name joins on qid: $keys")
    }
  }

  test("mmr rerank: the top-20 candidate scan stays in the plan") {
    val p = plan(HybridSearch.mmrRerank(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("MapPartitions"), p)
    assert(!p.contains("LocalTableScan"), p)
  }

  test("doc_extract_report: pruned scan, narrow decode, partial agg before the only hash exchange") {
    // the r14 ExplainAudit narrative, pinned (VERDICT r14 item 6): the
    // gate query reads documents with ReadSchema pruned to
    // (doc_id, text), runs the synthesize+decode maps with no join
    // anywhere, and aggregates map-side BEFORE the single 6-row
    // hash exchange (the trailing orderBy adds only a range exchange)
    val p = plan(DocPipeline.extractReport(spark, sf))
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("doc_id") && readSchema.contains("text"), readSchema)
    assert(!readSchema.contains("lang") && !readSchema.contains("source") &&
      !readSchema.contains("n_chars"), s"columns not pruned: $readSchema")
    assert(!p.contains("Join") && !p.contains("CartesianProduct"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"agg must be partial: $p")
    // formatted mode separates the operator from its argument line
    assert("hashpartitioning".r.findAllIn(p).size == 1, p)
  }

  test("doc_extract_cid and src_html_extract: pruned scan, no shuffle before the output sort") {
    for (q <- Seq(
      DocPipeline.extractCid(spark, sf),
      graft.sources.Interchange.htmlExtract(spark, sf))) {
      val p = plan(q)
      val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
      assert(readSchema.contains("doc_id") && readSchema.contains("text"), readSchema)
      assert(!readSchema.contains("lang") && !readSchema.contains("source"), readSchema)
      assert(!p.contains("Join") && !p.contains("CartesianProduct"), p)
      assert(!p.contains("hashpartitioning"),
        s"per-doc gate must not shuffle: $p")
    }
  }
}
