package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** IVF-PQ — the composed billion-vector serving layout: IVF centroid
  * pruning picks which partitions to scan, then the ADC scan runs over
  * the 4-byte PQ codes of JUST those partitions, and only the
  * shortlist touches full vectors for the exact re-rank. This is the
  * layout the reference's vector index family reaches with quantized
  * neighbor-partition indexes (ORGANIZATION NEIGHBOR PARTITIONS with
  * TARGET ACCURACY, /root/reference/scripts/01_pdf_to_vector.sql:93-97)
  * and the standard FAISS IVFPQ composition (Jégou et al., TPAMI
  * 2011).
  *
  * Why the composition matters at 100 TB: IVF pruning alone still
  * scans full vectors (nprobe/nlist of 100 TB is still TBs per query);
  * PQ alone still scans every code (1.6 TB of codes fleet-wide). The
  * composition scans nprobe/nlist of the CODES — tens of GB — and
  * reads O(shortlist) full vectors.
  *
  * The codes are RESIDUAL-CAPABLE (FAISS IVFPQ's `by_residual`
  * switch, Jégou et al. 2011 §IV): each vector's 32-bit code
  * quantizes x̂ − offset(cell), where the per-cell offset is the
  * cell's unit centroid when a build-time variance measurement says
  * residuals are tighter than the vectors, and 0⃗ (flat encoding)
  * otherwise ([[PqIndex.buildResidual]] — derived from the SAME
  * persisted IVF assignment the probe reads, so encode and serve
  * cells can never disagree; the measured rule and the negative
  * result that forced it — blind residual encoding LOWERS recall on
  * the near-uniform gate corpus — are documented there and in
  * SURVEY §6). The price of residual-capability is
  * per-(query, probed-cell) ADC tables instead of per-query — still
  * answer-sized × nprobe, still broadcastable for sampled query
  * tables, and AQE decides for corpus-sized ones. The flat PQ codes
  * remain the standalone vs_knn_pq index.
  *
  * Plan shape: centroid ranking is driver-side over the broadcast-
  * sized centroid dictionary (IvfIndex.search's ranking and its
  * array-literal cell filter on the held assignment); the candidate
  * set joins the codes table on vec_id
  * (both sides hash-partitioned 8-byte keys) carrying its cell id to
  * meet its cell's ADC row; ADC stays one codegen expression; both
  * top-ks are bounded sorts/aggs. The DuckDB oracle reproduces the
  * whole path — probe ranking, pruning, residual ADC, re-rank — from
  * the same persisted artifacts both engines read.
  */
object IvfPq {

  /** TARGET ACCURACY → (nprobe, shortlist) calibration against the
    * COMPOSED path's own ground truth — the r10 fix for the
    * depth-only knob. PqAccProbe's r10 table proved end-to-end recall
    * is SHORTLIST-bound (full probe ceilings 0.53–0.74 at the fixed
    * 50-item ADC shortlist), so calibrating probe depth against IVF
    * cell recall — an upper bound on composed recall — systematically
    * under-delivered the declared target. This calibration instead
    * measures, per true neighbor of the capped deterministic sample
    * ([[IvfIndex.calibrationSample]]), BOTH survival coordinates:
    *
    *  - `crank`: the rank of its cell in its query's centroid
    *    ordering (survives probe depth n iff crank ≤ n — the
    *    [[IvfIndex.calibrateNprobe]] closed form), and
    *  - `nbelow`: how many candidates the ADC codec scores BELOW it
    *    at FULL probe (survives an S-item shortlist iff nbelow < S).
    *
    * A true neighbor with crank ≤ np and full-probe nbelow < S is
    * GUARANTEED recovered at (np, S): pruning at depth np can only
    * remove competitors (pruned nbelow ≤ full-probe nbelow), the
    * shortlist is the ADC top-S of the probed candidates, and the
    * exact re-rank cannot demote a true top-k item behind more than
    * k−1 others. The calibrated pair therefore LOWER-bounds sample
    * recall at the target — the reference's `WITH TARGET ACCURACY 95`
    * (scripts/01_pdf_to_vector.sql:97) read as an end-to-end promise,
    * not a cell-recall proxy.
    *
    * Search order: smallest shortlist meeting the target at full
    * probe (the quantile of the truth nbelow distribution), then the
    * smallest depth meeting it jointly — shortlist prices the
    * re-rank (S full vectors per query), depth prices the scan
    * (nprobe/nlist of the codes), and the scan is the 100 TB cost.
    * The returned shortlist never drops below the caller's floor, so
    * TARGET-ACCURACY mode can only widen the default.
    *
    * Cost: one ADC pass of the capped sample against the full codes
    * table (N·cap codegen lookups — cheaper per row than the
    * N·cap-cosine exact pass [[IvfIndex.calibrateNprobe]] already
    * pays) plus answer-sized aggregations; collected state is one row
    * per (sample query, true neighbor) — ≤ cap·k.
    *
    * Cached in [[graft.functions.Artifacts]] under the corpus dir, with
    * (geometry, target, k, floor, mode, m) in the name: Bench's
    * min-of-2 and repeated serving calls must not re-pay the
    * calibration pass, and determinism per artifact set is part of
    * the contract. */
  private[graft] def calibrateComposed(s: SparkSession, dir: String,
      index: DataFrame, centroids: Array[Array[Double]],
      codes: DataFrame, codebooks: PqIndex.Codebooks,
      offsets: Array[Array[Double]],
      target: Double, k: Int, shortlistFloor: Int,
      forceMode: Option[Boolean]): (Int, Int) =
    graft.functions.Artifacts.get(s, s"ivfPqCalibration:${centroids.length}:$target:$k:" +
        s"$shortlistFloor:$forceMode:${codebooks.length}", dir) {
      val sample = IvfIndex.calibrationSample(s, dir)
      // exact ground truth top-k per sample query (capped broadcast,
      // bounded agg — the calibrateNprobe shape). The distance is
      // rounded EXACTLY as the serving re-rank rounds it (SafeRound 4,
      // see knnIvfPqBatch) so calibration truth and serving share one
      // (dist, id) ordering — otherwise a rounding-induced tie could
      // demote a true neighbor only on one side and the "GUARANTEED
      // recovered" lower bound would not be strict (ADVICE r11).
      val truthIds = VectorSearch.exactTruth(index, sample, k)
      // per-query centroid ranking (sample × nlist, narrow per query)
      val cranks = IvfIndex.centroidRanks(s, sample, centroids)
      // full-probe ADC score of every candidate for every sample
      // query: residual tables for ALL (query, cell) pairs (sample ×
      // nlist rows — answer-sized), then the codegen unpack-and-sum
      // over the codes. PERSIST before the join — the
      // adcTableResidual materialization-boundary rule.
      val cells = IvfIndex.centroidFrame(s, centroids).select(col("cid").as("centroid_id"))
      val adcAll = PqIndex.adcTableResidual(
        sample.crossJoin(broadcast(cells)), offsets, codebooks).persist()
      val adist = index.select(col("vec_id"), col("centroid_id"))
        .join(codes, "vec_id")
        .join(adcAll, "centroid_id")
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"),
          PqIndex.adcScoreOver(col("adc"), col("code"), codebooks.length).as("adist"))
      // nbelow per true neighbor: competitors that beat it in the
      // serving shortlist's (adist, vec_id) order. The truth rows'
      // OWN ADC scores are computed answer-sized (cap·k rows join
      // their cell's adc directly — scoring them through `adist`
      // would re-run the full N·cap pass a second time); the count
      // is then ONE map-side partial agg over the N·cap stream
      // against the broadcast ≤ cap·k truth side.
      val tA = truthIds
        .join(index.select(col("vec_id"), col("centroid_id")), "vec_id")
        .join(codes, "vec_id")
        .join(adcAll, Seq("qid", "centroid_id"))
        .select(col("qid"), col("vec_id").as("tvid"),
          PqIndex.adcScoreOver(col("adc"), col("code"), codebooks.length).as("tdist"))
      val counts = adist.join(broadcast(tA), Seq("qid"))
        .filter(col("adist") < col("tdist") ||
          (col("adist") === col("tdist") && col("vec_id") < col("tvid")))
        .groupBy(col("qid"), col("tvid")).agg(count(lit(1)).as("nbelow"))
      val rows = truthIds
        .join(index.select(col("vec_id"), col("centroid_id")), "vec_id")
        .join(cranks, Seq("qid", "centroid_id"))
        .join(counts.withColumnRenamed("tvid", "vec_id"),
          Seq("qid", "vec_id"), "left")
        .na.fill(0L, Seq("nbelow"))
        .select(col("crank"), col("nbelow"))
        .collect().map(r => (r.getInt(0), r.getLong(1)))
      adcAll.unpersist()
      val denom = rows.length.toDouble
      if (denom == 0)
        (IvfIndex.resolveNprobe(centroids.length, 0), shortlistFloor)
      else {
        // smallest shortlist meeting the target at FULL probe: the
        // target-quantile of the truth nbelow distribution, +1
        val sortedBelow = rows.map(_._2).sorted
        val needIdx = (1 to rows.length)
          .find(i => i / denom >= target).getOrElse(rows.length) - 1
        val sStar = (sortedBelow(needIdx) + 1).toInt
        val sEff = math.max(shortlistFloor, math.max(k, sStar))
        // smallest depth meeting the target JOINTLY with that shortlist
        val byRank = rows.filter(_._2 < sEff).groupBy(_._1)
          .view.mapValues(_.length.toLong).toMap
        var cum = 0L
        val np = (1 to centroids.length).find { n =>
          cum += byRank.getOrElse(n, 0L)
          cum / denom >= target
        }.getOrElse(centroids.length)
        (np, sEff)
      }
    }

  /** vs_knn_ivf_pq: approximate top-`k` for the vec_id=0 query via
    * IVF-pruned ADC over PQ codes with exact re-rank. */
  def knnIvfPq(s: SparkSession, dir: String, k: Int = 10, shortlist: Int = 50,
      nprobe: Int = 0): DataFrame = {
    import s.implicits._
    val (index, centroids) = IvfIndex.build(s, dir)
    val (codes, codebooks, offsets) = PqIndex.buildResidual(s, dir, index, centroids)
    val qRaw = VectorSearch.queryVector(s, dir).map(_.toDouble)
    // probe ranking and cell restriction: IvfIndex.search's, so a
    // warm probe compiles nothing per query
    val probes = IvfIndex.rankProbes(centroids, qRaw, nprobe)
    // residual-capable ADC needs q̂ and each probed cell's encode
    // offset (unit centroid or 0⃗ — see PqIndex.buildResidual;
    // distances are ‖(q̂ − ô) − r‖²).
    val qNorm = graft.functions.VecMath.l2norm(qRaw)
    // one flat 128-double ADC row per probed cell — nprobe rows,
    // driver-built, broadcast against the pruned candidate stream
    val probeAdc = probes.toSeq
      .map(c => (c, PqIndex.flatResidualTable(qNorm, offsets(c), codebooks)))
      .toDF("centroid_id", "adc")
    val cand = IvfIndex.restrictToCells(index, probes)
      .select(col("vec_id"), col("centroid_id"))
    val short = VectorSearch.withoutQuery(codes)
      .join(cand, Seq("vec_id"))
      .join(broadcast(probeAdc), "centroid_id")
      .select(col("vec_id"),
        PqIndex.adcScoreOver(col("adc"), col("code"), codebooks.length).as("adist"))
      .orderBy(col("adist"), col("vec_id"))
      .limit(shortlist)
    PqIndex.rerankQuery(s, dir, short, k)
  }

  /** vs_knn_ivf_pq_batch: a TABLE of query vectors served against the
    * composed IVF-PQ layout — the batch form a 100 TB deployment
    * actually runs (single-query IVF-PQ above mirrors the reference's
    * online shape; Spark serves embeddings refreshes, eval sweeps, and
    * mining feeds as query TABLES). Completes the serving matrix:
    * exact / LSH / IVF already have batch twins, and at scale IVF-PQ
    * is the one you deploy.
    *
    * Fully distributed — no query ever touches the driver:
    *  - probe ranking is the shared [[IvfIndex.probePairs]] (a narrow
    *    per-query step over the broadcast centroid dictionary that keeps
    *    the query vector for the ADC tables);
    *  - candidates are one equi-join of the (qid, probed-centroid)
    *    pairs against the assigned index — the cell restriction
    *    expressed as a join key, candidate volume
    *    |queries| × nprobe/nlist × N;
    *  - each (query, probed cell)'s residual ADC lookup table is a ROW
    *    of an answer-sized frame ([[PqIndex.adcTableResidual]]); the
    *    per-candidate score is the flat codegen unpack-and-sum
    *    ([[PqIndex.adcScoreOver]]) — the pruned CODES are all that is
    *    scanned (nprobe/nlist of the ~1.6 TB codes table at 100 TB,
    *    never the raw vectors);
    *  - both top-ks are bounded aggs (shuffle volume = answer size);
    *    only the per-query shortlist touches full vectors for the
    *    exact re-rank. The qid→qv re-rank join is left un-hinted: AQE
    *    broadcasts it at local scale and falls back to a shuffle join
    *    for a corpus-sized query table.
    * The DuckDB oracle reproduces the entire path per query from the
    * same two persisted artifact sets. */
  def knnIvfPqBatch(s: SparkSession, dir: String, k: Int = 5, shortlist: Int = 50,
      nlist: Int = 0, nprobe: Int = 0,
      forceMode: Option[Boolean] = None,
      targetAcc: Option[Double] = None,
      m: Int = PqIndex.NumSubspaces): DataFrame = {
    val (index, centroids) = IvfIndex.build(s, dir, k = nlist)
    val (codes, codebooks, offsets) =
      PqIndex.buildResidual(s, dir, index, centroids, forceMode, m)
    // TARGET-ACCURACY mode (the reference's index-tuning clause, now
    // on the layout a 100 TB deployment actually serves): the probe
    // depth AND the ADC shortlist are co-selected against the
    // composed path's own ground truth ([[calibrateComposed]]) — the
    // r10 depth-only knob calibrated against cell recall, which only
    // upper-bounds composed recall, and measurably under-delivered
    // (target 0.9 → ~0.82; the binding approximation was the fixed
    // 50-item shortlist, ADVICE r10). The calibrated pair
    // lower-bounds sample recall at the target instead. With no
    // target (the declared query), both stay the caller's values.
    val (np, sl) = targetAcc match {
      case Some(t) =>
        calibrateComposed(s, dir, index, centroids, codes,
          codebooks, offsets, t, k, shortlist, forceMode)
      case None => (nprobe, shortlist)
    }
    val queriesDf = VectorSearch.batchQueries(s, dir)
    // the (qid, qv, probed-centroid) pair table drives BOTH the
    // candidate join and the per-(query, cell) residual ADC tables
    val pairs = IvfIndex.probePairs(s, queriesDf, centroids, np)
    // MATERIALIZATION BOUNDARY, not just reuse: without the persist,
    // the build-side projection that constructs each (query, cell)'s
    // 128-double residual ADC array (interpreted higher-order
    // functions) is re-evaluated once per JOINED CANDIDATE row rather
    // than once per (query, cell) — measured 7.3 s → 0.7 s on the sf1
    // candidate stream for the pre-residual form. Same trap class as
    // model_ab_overlap's dense-vector build (SURVEY §4).
    // cache key carries the RESOLVED probe depth: the table now has a
    // row per (query, probed cell), so a full-probe run must not reuse
    // a default-depth table (the inner join would silently drop
    // candidates of cells the cached table never probed)
    val adc = graft.functions.Artifacts.frame(s,
      s"ivfPqAdcRes:${centroids.length}:" +
        s"${IvfIndex.resolveNprobe(centroids.length, np)}:$forceMode:$m", dir)(
      PqIndex.adcTableResidual(pairs, offsets, codebooks))
    // every join precedes the candidate explosion (the searchBatch /
    // pairMiningIvfAt rule): codes attach to the assignment table on
    // the 8-byte vec_id (corpus-sized × corpus-sized equi-join — both
    // are persisted artifacts a real deployment co-buckets), the ADC
    // rows attach to the PAIR table, and the one centroid_id join
    // between them streams the exploded candidates straight into the
    // codegen unpack-and-sum and the map-side partial agg — no sort
    // or shuffle ever touches the exploded stream. All joins stay
    // un-hinted: AQE broadcasts the pair side at local scale
    // (plan-pinned in AnnSpec) and shuffles when the query table
    // grows; a forced broadcast overflowed exactly that case.
    val ppAdc = pairs.join(adc, Seq("qid", "centroid_id"))
    val short = index.select(col("vec_id"), col("centroid_id"))
      .join(codes, "vec_id")
      .join(ppAdc, "centroid_id")
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        PqIndex.adcScoreOver(col("adc"), col("code"), codebooks.length).as("adist"))
      .groupBy(col("qid"))
      .agg(graft.functions.TopKAgg.topkByDist(col("adist"), col("vec_id"), sl)
        .as("short"))
      .select(col("qid"), explode(col("short.id")).as("vec_id"))
    short.join(Tables.embeddings(s, dir), "vec_id")
      .join(queriesDf.select(col("qid"), col("qv")), "qid")
      .select(col("qid"), col("vec_id"),
        graft.functions.SafeRound.round(VectorSearch.queryCosine, 4).as("dist"))
      .transform(graft.functions.TopKAgg.perKey(col("qid"), col("dist"), col("vec_id"), k))
      .withColumnRenamed("id", "vec_id")
      .orderBy("qid", "rnk")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "vs_knn_ivf_pq" -> ((s, dir) => knnIvfPq(s, dir)),
    "vs_knn_ivf_pq_batch" -> ((s, dir) => knnIvfPqBatch(s, dir)))

  /** DuckDB oracle over BOTH persisted artifact sets: the IVF
    * assignment/centroid tables (__IVFDIR__) drive probe ranking and
    * pruning, the RESIDUAL codes/codebooks (__PQRDIR__) drive the ADC
    * shortlist — the oracle reads each probed cell's persisted encode
    * OFFSET (unit centroid in residual mode, 0⃗ in flat mode) and
    * subtracts it from the normalized query before the codeword
    * distances, exactly the engine's `flatResidualTable` arithmetic —
    * and the re-rank reads the raw embeddings. The entire serving
    * path reproduced independently, in whichever mode the artifacts
    * record.
    * The engines' ADC sums differ at 1-ulp scale (different summation
    * order), far below the ADC distance gaps — the same
    * already-validated argument as vs_knn_pq's oracle. */
  val oracleSql: Map[String, String] = Map(
    "vs_knn_ivf_pq" ->
      s"""WITH ${IvfIndex.artifactCtes("__IVFDIR__")},
         |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |cd AS (SELECT cid, ${VectorSearch.dCosine("cvec", "qv")} AS cdist FROM c, q),
         |probes AS (
         |  SELECT cid FROM (
         |    SELECT cid, row_number() OVER (ORDER BY cdist, cid) AS r FROM cd)
         |  WHERE r <= ${IvfIndex.sqlNprobe}),
         |qn AS (
         |  SELECT [x::DOUBLE / sqrt(list_sum([y::DOUBLE * y::DOUBLE for y in embedding]))
         |          for x in embedding] AS nq
         |  FROM embeddings WHERE vec_id = 0),
         |nc AS (
         |  SELECT cid, ovec AS ncv
         |  FROM read_parquet('__PQRDIR__/offsets.parquet/*.parquet')
         |  JOIN probes USING (cid)),
         |rq AS (
         |  SELECT cid, [nq[j] - ncv[j] for j in generate_series(1, len(nq))] AS rv
         |  FROM qn, nc),
         |cb AS (SELECT mi, k, cw FROM read_parquet('__PQRDIR__/codebooks.parquet/*.parquet')),
         |tab AS (
         |  SELECT r.cid, mi, k,
         |    list_sum([(rv[mi * (len(rv) // ${PqIndex.NumSubspaces}) + j] - cw[j])
         |              * (rv[mi * (len(rv) // ${PqIndex.NumSubspaces}) + j] - cw[j])
         |              for j in generate_series(1, len(cw))]) AS d
         |  FROM cb, rq r),
         |codes AS (
         |  SELECT vec_id, code
         |  FROM read_parquet('__PQRDIR__/codes.parquet/*.parquet')
         |  WHERE vec_id <> 0),
         |cand AS (
         |  SELECT codes.vec_id, codes.code, a.centroid_id AS cid
         |  FROM codes JOIN a USING (vec_id) JOIN probes ON a.centroid_id = probes.cid),
         |adist AS (
         |  SELECT cn.vec_id, sum(t.d) AS adist
         |  FROM cand cn
         |    JOIN tab t ON t.cid = cn.cid AND ((cn.code >> (4 * t.mi)) & 15) = t.k
         |  GROUP BY 1),
         |short AS (SELECT vec_id FROM adist ORDER BY adist, vec_id LIMIT 50)
         |SELECT e.vec_id, round(1e-9 + ${VectorSearch.dCosine("e.embedding", "qv")}, 4) AS dist
         |FROM embeddings e JOIN short USING (vec_id), q
         |ORDER BY dist, vec_id LIMIT 10""".stripMargin,
    // the batch form: the same composed path per query — per-qid probe
    // ranking (the vs_knn_ivf_batch structure), per-(qid, probed-cell)
    // residual ADC tables, pruned-candidate ADC, per-qid shortlist and
    // exact re-rank.
    "vs_knn_ivf_pq_batch" ->
      s"""WITH ${IvfIndex.artifactCtes("__IVFDIR__")},
         |qs AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id % 50 = 0),
         |cd AS (SELECT qid, cid, ${VectorSearch.dCosine("cvec", "qv")} AS cdist FROM qs, c),
         |pr AS (
         |  SELECT qid, cid FROM (
         |    SELECT qid, cid,
         |      row_number() OVER (PARTITION BY qid ORDER BY cdist, cid) AS r FROM cd)
         |  WHERE r <= ${IvfIndex.sqlNprobe}),
         |qn AS (
         |  SELECT vec_id AS qid,
         |    [x::DOUBLE / sqrt(list_sum([y::DOUBLE * y::DOUBLE for y in embedding]))
         |     for x in embedding] AS nq
         |  FROM embeddings WHERE vec_id % 50 = 0),
         |nc AS (
         |  SELECT cid, ovec AS ncv
         |  FROM read_parquet('__PQRDIR__/offsets.parquet/*.parquet')),
         |rq AS (
         |  SELECT qn.qid, pr.cid,
         |    [nq[j] - ncv[j] for j in generate_series(1, len(nq))] AS rv
         |  FROM qn JOIN pr USING (qid) JOIN nc USING (cid)),
         |cb AS (SELECT mi, k, cw FROM read_parquet('__PQRDIR__/codebooks.parquet/*.parquet')),
         |tab AS (
         |  SELECT r.qid, r.cid, mi, k,
         |    list_sum([(rv[mi * (len(rv) // ${PqIndex.NumSubspaces}) + j] - cw[j])
         |              * (rv[mi * (len(rv) // ${PqIndex.NumSubspaces}) + j] - cw[j])
         |              for j in generate_series(1, len(cw))]) AS d
         |  FROM cb, rq r),
         |codes AS (
         |  SELECT vec_id, code
         |  FROM read_parquet('__PQRDIR__/codes.parquet/*.parquet')),
         |cand AS (
         |  SELECT pr.qid, codes.vec_id, codes.code, a.centroid_id AS cid
         |  FROM pr JOIN a ON a.centroid_id = pr.cid
         |    JOIN codes ON codes.vec_id = a.vec_id
         |  WHERE a.vec_id <> pr.qid),
         |adist AS (
         |  SELECT cn.qid, cn.vec_id, sum(t.d) AS adist
         |  FROM cand cn
         |    JOIN tab t ON t.qid = cn.qid AND t.cid = cn.cid
         |      AND ((cn.code >> (4 * t.mi)) & 15) = t.k
         |  GROUP BY 1, 2),
         |short AS (
         |  SELECT qid, vec_id FROM (
         |    SELECT qid, vec_id,
         |      row_number() OVER (PARTITION BY qid ORDER BY adist, vec_id) AS r FROM adist)
         |  WHERE r <= 50),
         |rr AS (
         |  SELECT s.qid, s.vec_id,
         |    round(1e-9 + ${VectorSearch.dCosine("e.embedding", "qv")}, 4) AS dist
         |  FROM short s JOIN embeddings e ON e.vec_id = s.vec_id
         |    JOIN qs ON qs.qid = s.qid)
         |SELECT qid, vec_id, dist, rnk FROM (
         |  SELECT qid, vec_id, dist,
         |    row_number() OVER (PARTITION BY qid ORDER BY dist, vec_id) AS rnk
         |  FROM rr)
         |WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin)
}
