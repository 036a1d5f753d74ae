package graft.operators

import org.apache.spark.ml.clustering.KMeansModel
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.SafeRound.round

import graft.Tables
import graft.functions.{FloatVecDistance, VecMath}

/** IVF (inverted-file) approximate nearest neighbor — the Spark
  * re-expression of the reference's vector index
  * (/root/reference/scripts/01_pdf_to_vector.sql:93-97:
  * `ORGANIZATION NEIGHBOR PARTITIONS DISTANCE COSINE WITH TARGET
  * ACCURACY 95`). Oracle's "neighbor partitions" IS ivf: k-means
  * cluster centroids partition the vector space; a query probes only
  * the nearest partitions; target-accuracy tunes how many.
  *
  * On Spark the index is the assigned rows, held once built:
  *  - build: k-means fits centroids on a capped training sample
  *    ([[TrainPointsPerCentroid]]), collected in one job and fit on
  *    the driver ([[graft.functions.KMeansFit]]); assignment is one
  *    narrow map with the broadcast centroid set, run ONCE per build:
  *    the assigned (vec_id, embedding, centroid_id) rows are persisted
  *    (memory, spilling to disk) and every consumer reads them.
  *  - probe: rank centroids against the query driver-side (k floats,
  *    tiny), take nprobe, and filter the resident rows to those cells
  *    with one array literal ([[restrictToCells]]) — no re-assignment,
  *    no exchange, no code generated per query — then the exact
  *    codegen kernel scores survivors and TakeOrderedAndProject yields
  *    top-k.
  *  - at rest ([[writeIndex]]/[[readIndex]]): a centroid-partitioned
  *    parquet table, where the same filter is partition pruning — only
  *    nprobe/k of the files are listed and scanned.
  *
  * The one writer ([[writeArtifacts]]) and reader ([[artifactCtes]])
  * of the oracle-checked format, for batch and streamed
  * ([[graft.streaming.IvfStream]]) dumps alike, and of the probe
  * inputs every IVF and IVF-PQ caller shares: [[centroidFrame]],
  * [[centroidRanks]].
  */
object IvfIndex {
  /** Floor for the adaptive geometry. The floor binds only for corpora
    * with √N ≤ 16 (N ≤ 256); the spec SFs sit ABOVE it (N = 500 ⇒ 22
    * cells), so the test suite derives its expected geometry from
    * [[defaultNlist]] / [[defaultNprobe]], not from this constant. */
  val NumCentroids = 16

  /** Floor for the adaptive probe depth [[defaultNprobe]]. */
  val NumProbe = 4
  val Seed = 42L

  /** Production sizing, applied BY DEFAULT since round 6: nlist ≈ √N,
    * floored at [[NumCentroids]] (tiny corpora) and capped at 4096
    * (beyond that, centroid ranking itself wants an index). The
    * pruning factor nlist/nprobe grows with the corpus — a fixed
    * nlist was a test constant leaking into the product, and it made
    * the N·nprobe·N/nlist candidate paths quadratic in every
    * measurement (SURVEY §6). The geometry is derived from the corpus
    * row count, so both engines see it through the persisted
    * artifacts; nothing in the oracle SQL hard-codes nlist. */
  def defaultNlist(n: Long): Int =
    math.max(NumCentroids, math.min(ServingNlistCap, math.round(math.sqrt(n.toDouble)).toInt))

  /** The SERVING cap on [[defaultNlist]]: past 4096 cells, ranking the
    * centroid dictionary per query is itself the latency bottleneck
    * (it wants its own index), so serving freezes the cell count and
    * lets cells grow with N. */
  val ServingNlistCap = 4096

  /** BLOCKING geometry for the pair producers (dedup_embedding_ivf,
    * mm_pair_mining_ivf): √N with NO serving cap. The cap is a
    * per-query latency trade — a probe ranks all nlist centroids
    * before touching data — but blocking ranks centroids ONCE PER
    * CORPUS ROW in a narrow per-row step ([[probePairs]]: nlist
    * distances per row, no exchange), so there is no latency
    * constraint to trade against.
    * Inheriting the capped serving default instead would freeze the
    * candidate fraction at nprobe/nlist = 1/64 past N ≈ 17M vectors
    * and silently revert the pair producers to N²/64 candidates —
    * at 10⁹ vectors, catastrophic (VERDICT r12). Uncapped √N keeps
    * the closed form N·nprobe·(N/nlist) = N^1.75 at every N. The
    * k-means fit stays bounded either way ([[trainMod]] caps the
    * training sample at 256·nlist rows, linear in N at √N cells).
    * Below the cap this IS [[defaultNlist]] — every gate SF and the
    * persisted oracle artifacts are bit-unchanged (spec-pinned);
    * above it the blocking index is a separate in-session build keyed
    * by its own geometry, and the serving artifacts keep the capped
    * default. Witnessed: forcing the frozen regime at the 200k
    * bounded-family corpus (nlist=45 ≈ 200k/4444-per-cell, the shape
    * a 17M corpus sees under the cap) multiplies candidates by the
    * closed-form ratio while the blocking default restores it
    * (SURVEY §6 r13 A/B). */
  def blockingNlist(n: Long): Int =
    math.max(NumCentroids, math.round(math.sqrt(n.toDouble)).toInt)

  /** The blocking build: [[build]] at [[blockingNlist]]. Shared by
    * both pair producers so a geometry change lands in one place. */
  private[graft] def buildBlocking(s: SparkSession, dir: String): (DataFrame, Array[Array[Double]]) =
    build(s, dir, k = blockingNlist(corpusCount(s, dir)))

  /** Probe-depth default, scaled WITH the adaptive geometry:
    * nprobe ≈ √nlist, floored at [[NumProbe]]. The r6 default pinned
    * nprobe at 4 while nlist grew as √N, so the scan fraction
    * nprobe/nlist fell as N^-1/2 (25% of a 500-vector corpus, 0.1% at
    * the 4096-cell cap) and default recall decayed with the corpus.
    * √nlist keeps the scan fraction at nlist^-1/2 = N^-1/4 — still
    * shrinking (total probe work stays sub-quadratic: the blocked
    * candidate paths cost N·nprobe·N/nlist ≈ N^1.75), but slowly
    * enough that measured recall holds at the production SFs
    * (SURVEY §6). The recall-PINNED interface remains TARGET-ACCURACY
    * calibration ([[calibrateNprobe]], the reference's own tuning
    * surface — `WITH TARGET ACCURACY`); this default is the
    * scan-bounded compromise when no target is declared. Both engines
    * derive it from the persisted centroid count ([[sqlNprobe]]), so
    * no oracle hard-codes a probe depth. */
  def defaultNprobe(nlist: Int): Int =
    math.max(NumProbe, math.round(math.sqrt(nlist.toDouble)).toInt)

  /** `nprobe = 0` in the serving/blocking APIs means "adaptive". */
  private[graft] def resolveNprobe(nlist: Int, nprobe: Int): Int =
    if (nprobe > 0) nprobe else defaultNprobe(nlist)

  /** DuckDB twin of [[defaultNprobe]], derived from the persisted
    * centroid dictionary CTE `c` — the oracle computes the probe depth
    * from the same artifact the engine computes it from. (√ of an
    * integer never lands on .5, so round() agrees across engines.) */
  private[graft] val sqlNprobe: String =
    s"greatest($NumProbe, CAST(round(sqrt((SELECT count(*) FROM c))) AS INT))"

  /** Default calibration-sample stride (every Nth vec_id). ONE shared
    * constant for the engine ([[VectorSearch.batchRows]]'s default) and
    * the oracle ([[sqlCalibMod]]) — a literal 50 on either side would
    * let the twins drift apart silently (ADVICE r8). */
  val DefaultSampleMod = 50

  /** DuckDB twin of [[calibrationMod]] at the default stride: the
    * oracle derives the capped sampling modulus from the same corpus
    * count the engine derives it from (integer ceil(n/cap) agrees
    * across engines — both compute it in double from exact int64
    * counts far below 2^53). A `def`, NOT a val: a val here would
    * initialize before [[CalibrationSampleCap]] (object vals run in
    * declaration order) and bake `/ 0.0` into the SQL — DuckDB
    * resolves ceil(n/0.0) to NULL and greatest(mod, NULL) to mod, so
    * the oracle's modulus would silently stay uncapped-equivalent
    * while the engine caps, breaking parity above 100k vectors. */
  private[graft] def sqlCalibMod: String =
    s"(SELECT greatest($DefaultSampleMod, CAST(ceil(count(*) / " +
      s"${CalibrationSampleCap}.0) AS BIGINT)) FROM embeddings)"

  /** Absolute ceiling on the TARGET-ACCURACY calibration sample. The
    * r7 sample was FRACTIONAL (every 50th vector), so the exact
    * ground-truth pass cost (N/50)·N = N²/50 kernel evaluations and
    * force-broadcast a corpus-proportional table — at 10⁹ vectors,
    * ~2·10¹⁶ evals and a multi-GB broadcast, ~1000× the job being
    * calibrated. The cap makes the pass O(N·cap) (linear in the
    * corpus, like one batch-serving run with 2k queries) and bounds
    * the broadcast at cap·dim floats (~0.5 MB at dim 64) at ANY
    * corpus size. 2k queries holds the recall estimate's sampling
    * error near 1% — the resolution the 0.95-style targets need. */
  val CalibrationSampleCap = 2000L

  /** Effective sampling modulus: the caller's stride, widened just
    * enough that the sample never exceeds [[CalibrationSampleCap]]
    * rows. Pure in (n, sampleMod) and mirrored verbatim by the
    * vs_knn_ivf_acc oracle SQL, so both engines select the identical
    * query set at every corpus size. Below cap·sampleMod rows
    * (100k at the defaults) this is the caller's stride unchanged —
    * the driver SFs sit there, so their hashes are unaffected. */
  private[graft] def calibrationMod(n: Long, sampleMod: Int): Long =
    math.max(sampleMod.toLong,
      math.ceil(n.toDouble / CalibrationSampleCap).toLong)

  /** The calibration query sample: the batch query set
    * ([[VectorSearch.batchQueries]]) at the absolutely-capped modulus.
    * Split out so specs can pin the cap without running a full
    * calibration. The corpus count is cached — calibration always
    * follows a build for the same (session, dir) — so this launches no
    * extra count job. */
  private[graft] def calibrationSample(s: SparkSession, dir: String,
      sampleMod: Int = DefaultSampleMod): DataFrame =
    VectorSearch.batchQueries(s, dir, calibrationMod(corpusCount(s, dir), sampleMod))

  /** At-rest location of the persisted index artifacts (assignments +
    * centroids) for a corpus dir; the oracle SQL binds __IVFDIR__ to
    * this path (see SparkEntry.oracleSqlFor). Only the k-means FIT is
    * engine-specific — given these artifacts, probe ranking, partition
    * pruning, serving, and accuracy calibration are all reproduced
    * independently by the DuckDB oracle. */
  def dumpDir(dir: String): String = graft.functions.Scratch.pathOf("ivf", dir)

  /** Fit `k` unit-norm centroids on all of `emb` (one [[shape]] job,
    * then [[graft.functions.KMeansFit.cosine]] seeded [[Seed]]). The
    * model is the reusable "index definition": batch builds and
    * streaming upserts both assign with it. */
  def fitModel(emb: DataFrame, k: Int = NumCentroids): KMeansModel = {
    val (n, dim) = shape(emb)
    graft.functions.KMeansFit.cosine(emb, n, dim, k, Seed)
  }

  /** Assign every vector of `emb` to its nearest centroid — one narrow
    * map with the broadcast centroid set; works identically on a batch
    * frame and a micro-batch inside foreachBatch. */
  def assign(model: KMeansModel, emb: DataFrame): DataFrame =
    model.transform(emb.withColumn("features", array_to_vector(col("embedding"))))
      .select(col("vec_id"), col("embedding"), col("centroid_id"))

  /** (rows, dim) of an embeddings frame in one job: the count a fit
    * needs for its geometry, with the vector width read in the same
    * pass (0 for an empty frame). */
  private[graft] def shape(emb: DataFrame): (Long, Int) = {
    val r = emb.agg(count(lit(1)), coalesce(max(size(col("embedding"))), lit(0))).head()
    (r.getLong(0), r.getInt(1))
  }

  /** [[shape]] of the corpus, an artifact of the corpus dir: the
    * adaptive geometry needs the count on every build call, and it
    * only changes when the corpus does. */
  private[graft] def corpusShape(s: SparkSession, dir: String): (Long, Int) =
    graft.functions.Artifacts.get(s, "corpusShape", dir)(shape(Tables.embeddings(s, dir)))

  private[graft] def corpusCount(s: SparkSession, dir: String): Long = corpusShape(s, dir)._1

  /** Training-sample budget per centroid for the k-means fit — the
    * FAISS convention (max_points_per_centroid = 256 in faiss's
    * Clustering defaults): beyond ~256 points per centroid the
    * centroid estimate stops improving, so training on more is pure
    * cost. The fit therefore trains on a deterministic vec_id-stride
    * sample of min(N, 256·nlist) rows ([[trainMod]]) while ASSIGNMENT
    * still covers every vector. At the gate and scale-test corpora
    * the cap never binds (N ≤ 256·nlist up through the 30× corpus:
    * 60k vs 62.7k) so every persisted artifact, hash, and recall
    * measurement is bit-unchanged; it engages above ~100k vectors,
    * where the full-corpus fit was the dominant build cost (measured
    * 52.2 s at 200k, 262.2 s at 600k — SURVEY §6). The oracle is
    * indifferent by construction: it re-derives everything from the
    * persisted centroids/assignments and never refits. */
  val TrainPointsPerCentroid = 256

  /** Sampling modulus for the k-means training set: 1 (no sampling)
    * until N exceeds 256·nlist, then the stride that caps the sample
    * near the budget. Pure in (n, nlist) so specs can pin both
    * regimes without fitting anything. Stride-on-vec_id like
    * [[calibrationSample]] — deterministic, artifact-reproducible; a
    * corpus with non-dense ids would hash-sample instead. */
  private[graft] def trainMod(n: Long, nlist: Int): Long =
    math.max(1L, math.ceil(
      n.toDouble / (TrainPointsPerCentroid.toLong * nlist)).toLong)

  /** Rows of a stride-`tm` sample of `n` dense vec_ids (0 until n):
    * ceil(n/tm), the size a capped fit states for its sample. */
  private[graft] def strideRows(n: Long, tm: Long): Long = (n + tm - 1) / tm

  /** Training sample at stride `tm`, guarded against sparse or
    * already-strided id spaces (ADVICE r10): `vec_id % tm` assumes
    * dense contiguous ids, and on e.g. an id space that is itself a
    * multiple-of-`tm` stride it silently returns a skewed or empty
    * sample (an empty fit throws). If the stride yields
    * fewer than `minRows` survivors, fall back to the id-distribution-
    * free hash stride `pmod(hash(vec_id), tm) = 0`, and if even that
    * undersamples (adversarially tiny corpora), to the full frame.
    * The guard counts only run in the `tm > 1` regime — corpora past
    * the 256-points-per-centroid budget, where one metadata-cheap
    * count is noise next to the fit it protects; the gate corpora
    * take the `tm == 1` branch untouched, so every persisted
    * artifact and hash stays bit-unchanged. */
  private[graft] def guardedStrideSample(df: DataFrame, tm: Long,
      minRows: Long): DataFrame =
    if (tm <= 1L) df
    else {
      val stride = df.filter(col("vec_id") % tm === 0)
      if (stride.count() >= minRows) stride else hashStrideSample(df, tm, minRows)
    }

  /** The id-distribution-free half of [[guardedStrideSample]], alone
    * for a frame that is itself a vec_id stride (IvfStream's even ids). */
  private[graft] def hashStrideSample(df: DataFrame, tm: Long,
      minRows: Long): DataFrame =
    if (tm <= 1L) df
    else {
      val hashed = df.filter(pmod(hash(col("vec_id")), lit(tm)) === 0)
      if (hashed.count() >= minRows) hashed else df
    }

  /** `k = 0` (the default) means the corpus-adaptive [[defaultNlist]];
    * an explicit k is a sizing override. Artifacts are persisted iff
    * the resolved geometry IS the adaptive default (so an explicit
    * sizing k that happens to equal the default persists the identical
    * artifacts rather than skipping them).
    *
    * The returned frame holds the index, not a recipe for it: the
    * assignment runs once, here, into rows persisted MEMORY_AND_DISK
    * (a `Scan ExistingRDD` over them, with the assignment plan's size
    * statistics, so consumers' static join choices are unchanged; a
    * lost block is recomputed from lineage). The assign.parquet
    * artifact is written from those rows. A probe is then an in-memory
    * centroid_id filter — one job, no exchange, no re-assignment.
    *
    * An index is a persistent artifact — refitting k-means for every
    * query that probes it is an artifact of the per-query test
    * harness, not the design — so it is built once per
    * [[graft.functions.Artifacts]] entry: the corpus dir, with the
    * RESOLVED nlist in the name, so `k = 0` (adaptive) and an explicit
    * k equal to the adaptive default hit the same entry and an
    * identical geometry is never fit twice. The rows are unpersisted
    * when the entry leaves the cache. */
  def build(s: SparkSession, dir: String,
      k: Int = 0): (DataFrame, Array[Array[Double]]) = {
    val (n, dim) = corpusShape(s, dir)
    val default = defaultNlist(n)
    val nlist = if (k > 0) k else default
    type Held = (DataFrame, Array[Array[Double]], org.apache.spark.rdd.RDD[_])
    val (index, centroids, _) = graft.functions.Artifacts.held[Held](s, s"ivfIndex:$nlist", dir,
        _._3.unpersist(blocking = true)) {
      val emb = Tables.embeddings(s, dir)
      val tm = trainMod(n, nlist)
      val train = guardedStrideSample(emb, tm, minRows = nlist)
      val model = graft.functions.KMeansFit.cosine(train, strideRows(n, tm), dim, nlist, Seed)
      val (indexed, rows) = org.apache.spark.sql.GraftColumnBridge.persisted(
        assign(model, emb), org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val centroids = model.clusterCenters.map(_.toArray)
      // the one assignment pass fills the cache: the artifact write's
      // scan of the held rows for the default index, one count for any
      // other. The artifacts are the (vec_id → centroid) assignment
      // table and the centroid dictionary; everything downstream of
      // the fit is derived from these two tables in BOTH engines.
      if (nlist == default) writeArtifacts(s, dumpDir(dir), indexed, centroids, n)
      else rows.count()
      (indexed, centroids, rows)
    }
    (index, centroids)
  }

  /** The centroid dictionary as (cid int, cvec array<double>): the
    * `centroids.parquet` artifact and every centroid-ranking broadcast. */
  private[graft] def centroidFrame(s: SparkSession,
      centroids: Array[Array[Double]]): DataFrame = {
    import s.implicits._
    centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq.toDF("cid", "cvec")
  }

  /** Write `assigned`'s (vec_id, centroid_id) as `assign.parquet` and
    * the dictionary as one-file `centroids.parquet` under `dump`. The
    * O(corpus) assignment is sharded across an EXPLICIT partition count
    * — without one, AQE coalesces a small shuffle to a single task, and
    * at the target scale one task would write the whole corpus — derived
    * from the table's own size (`rows` × ~16 B), not the core-floored
    * session shuffle partitions (GraftSession.artifactShards). */
  private[graft] def writeArtifacts(s: SparkSession, dump: String, assigned: DataFrame,
      centroids: Array[Array[Double]], rows: Long): Unit = {
    assigned.select(col("vec_id"), col("centroid_id"))
      .repartition(graft.GraftSession.artifactShards(rows * 16L), col("vec_id"))
      .write.mode("overwrite").parquet(s"$dump/assign.parquet")
    centroidFrame(s, centroids).coalesce(1).write.mode("overwrite")
      .parquet(s"$dump/centroids.parquet")
  }

  /** DuckDB reader of a [[writeArtifacts]] dump: CTEs `a` and `c` over
    * the dir the oracle binds to `dirToken` (`__IVFDIR__`, `__IVFSDIR__`). */
  private[graft] def artifactCtes(dirToken: String): String =
    s"""a AS (SELECT vec_id, centroid_id
      |     FROM read_parquet('$dirToken/assign.parquet/*.parquet')),
      |c AS (SELECT cid, cvec
      |     FROM read_parquet('$dirToken/centroids.parquet/*.parquet'))""".stripMargin

  /** Top-10 for [[VectorSearch.queryVector]] over `index` minus its
    * own row, at `nprobe` (0 = adaptive). */
  private[graft] def probeQuery(s: SparkSession, dir: String, index: DataFrame,
      centroids: Array[Array[Double]], nprobe: Int): DataFrame =
    search(s, VectorSearch.withoutQuery(index), centroids,
      VectorSearch.queryVector(s, dir), k = 10, nprobe)

  /** (qid, centroid_id, crank) for a (qid, qv) frame: every cell ranked
    * per query by [[rankProbes]] at full depth, crank from 1. */
  private[graft] def centroidRanks(s: SparkSession, queries: DataFrame,
      centroids: Array[Array[Double]]): DataFrame =
    queries.select(col("qid"), posexplode(probeRanking(s, centroids, centroids.length)(col("qv"))))
      .select(col("qid"), col("col").as("centroid_id"), (col("pos") + 1).as("crank"))

  /** One query's probe set, ranked driver-side: the `nprobe` cells
    * whose centroids are nearest `q` by (cosine distance, cell id)
    * (`nprobe = 0` = the adaptive [[defaultNprobe]]). */
  private[graft] def rankProbes(centroids: Array[Array[Double]], q: Array[Double],
      nprobe: Int): Array[Int] =
    centroids.zipWithIndex
      .map { case (c, i) => (i, VecMath.distD("cosine", c, q)) }
      .sortBy { case (i, d) => (d, i) }
      .take(resolveNprobe(centroids.length, nprobe)).map(_._1)

  /** [[rankProbes]] as a function of a query-vector column (float or
    * double elements; floats widen exactly, as in [[search]]). The
    * centroids ship once per call as a broadcast, not inside each task. */
  private def probeRanking(s: SparkSession, centroids: Array[Array[Double]],
      nprobe: Int): Column => Column = {
    val bc = s.sparkContext.broadcast(centroids)
    val ranked = udf((q: Seq[Double]) => rankProbes(bc.value, q.toArray, nprobe))
    qv => ranked(qv.cast("array<double>"))
  }

  /** `index` restricted to the rows of `cells`: a row filter over
    * [[build]]'s resident rows, partition pruning over the at-rest
    * [[readIndex]] layout. The cell set is one array literal, which
    * generated code receives as a reference object, so the source is
    * the same for every probe set; an `isin` inlines each id, and
    * every new set compiled anew. */
  private[graft] def restrictToCells(index: DataFrame, cells: Array[Int]): DataFrame =
    index.filter(array_contains(lit(cells), col("centroid_id")))

  /** Probe: top-k by cosine among the nprobe nearest centroids' cells
    * only (`nprobe = 0` = the adaptive [[defaultNprobe]]), restricted
    * by [[restrictToCells]]. */
  def search(s: SparkSession, index: DataFrame, centroids: Array[Array[Double]],
      query: Array[Float], k: Int, nprobe: Int = 0): DataFrame = {
    val probes = rankProbes(centroids, query.map(_.toDouble), nprobe)
    val qlit = array(query.map(f => lit(f)).toIndexedSeq: _*).cast("array<float>")
    restrictToCells(index, probes)
      .select(col("vec_id"),
        round(FloatVecDistance.cosine(col("embedding"), qlit), 4).as("dist"))
      .orderBy(col("dist"), col("vec_id"))
      .limit(k)
  }

  /** Persist the index in its at-rest form: parquet partitioned by
    * centroid_id. A probe against this layout is partition pruning —
    * `.explain` shows the centroid filter in PartitionFilters and only
    * nprobe/k of the files are listed, which is the 100 TB story. */
  def writeIndex(index: DataFrame, path: String): Unit =
    index.write.mode("overwrite").partitionBy("centroid_id").parquet(path)

  /** The [[writeIndex]] layout's schema: [[assign]]'s columns, each
    * nullable, as parquet inference reads them back. */
  private[graft] val IndexSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType.fromDDL(
      "vec_id BIGINT, embedding ARRAY<FLOAT>, centroid_id INT")

  /** The at-rest layout, read with its fixed [[IndexSchema]]: no
    * schema-inference job per call. */
  def readIndex(s: SparkSession, path: String): DataFrame =
    s.read.schema(IndexSchema).parquet(path)

  /** vs_knn_ivf: approximate top-10 for the vec_id=0 query vector.
    * Oracle-checked end-to-end from the persisted artifacts (probe
    * ranking + pruning + scoring); recall vs the exact vs_knn_cosine
    * is additionally asserted in AnnSpec. */
  def knnIvf(s: SparkSession, dir: String): DataFrame = {
    val (index, centroids) = build(s, dir)
    probeQuery(s, dir, index, centroids, 0)
  }

  /** Probe ranking for a TABLE of query vectors: `queriesDf` plus a
    * `centroid_id` column, one row per (query, probed cell). Each
    * query's cells come from [[rankProbes]], the single probe's own
    * ranking, in one narrow per-row generator: every input column
    * passes through, so callers need no payload re-join, and nothing
    * is shuffled. The rows then equi-join the assigned index (the cell
    * restriction expressed as a join key). Shared by batch serving
    * ([[searchBatch]]), IVF-PQ batch serving, blocked dedup
    * ([[dedupPairsAt]]) and IVF-blocked mining
    * ([[Multimodal.pairMiningIvf]]). `queriesDf` needs a `qv` column. */
  def probePairs(s: SparkSession, queriesDf: DataFrame,
      centroids: Array[Array[Double]], nprobe: Int = 0): DataFrame =
    queriesDf.withColumn("centroid_id", explode(probeRanking(s, centroids, nprobe)(col("qv"))))

  /** Batch serving against the IVF layout: a TABLE of query vectors,
    * each probing only its nprobe nearest centroids' partitions, as
    * unordered (qid, vec_id, dist, rnk) rows (rnk from 1 carries each
    * query's order, as in [[graft.plans.KnnJoin]]). Fully distributed
    * — the query table never touches the driver: [[probePairs]] ranks
    * each query's cells in a narrow per-row step that keeps the query
    * vector, those (query, cell) rows equi-join the assigned index —
    * the cell restriction expressed as a join key — and the exact
    * kernel feeds a bounded top-k agg per query, whose exchange
    * carries queries × k rows and is the plan's only shuffle. The
    * probe sets are the single probe's ([[search]]), so a query's
    * rows equal its [[search]] at the same nprobe. Oracle-checked
    * from the persisted artifacts; AnnSpec asserts the full-probe form
    * equals brute force per query. */
  def searchBatch(s: SparkSession, index: DataFrame,
      centroids: Array[Array[Double]],
      queriesDf: DataFrame, k: Int, nprobe: Int = 0): DataFrame =
    index
      // the pair join stays UN-HINTED: AQE broadcasts it at local
      // scale (plan-pinned in AnnSpec) and falls back to a shuffle
      // equi-join when the query table grows. A forced broadcast()
      // here overflowed exactly that case. It is the only join, and
      // it precedes the scoring, so the candidate stream flows
      // straight into the codegen kernel and the map-side partial agg.
      .join(probePairs(s, queriesDf, centroids, nprobe), "centroid_id")
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        graft.functions.SafeRound.round(
          FloatVecDistance.cosine(col("embedding"), col("qv")), 4).as("dist"))
      .transform(graft.functions.TopKAgg.perKey(col("qid"), col("dist"), col("vec_id"), k))
      .withColumnRenamed("id", "vec_id")

  /** TARGET ACCURACY → nprobe calibration — the reference's actual
    * index-tuning interface (/root/reference/scripts/
    * 01_pdf_to_vector.sql:97: `WITH TARGET ACCURACY 95`). At build
    * time, measure recall on a deterministic query sample (absolutely
    * capped — see [[CalibrationSampleCap]]) and return
    * the smallest nprobe that meets the target. One exact pass over
    * (sample × corpus) — O(N·cap), the cost of one batch-serving run,
    * at any corpus size — then
    * a closed form instead of per-nprobe re-probing: a true top-k
    * neighbor is recovered at probe depth n iff its centroid ranks
    * ≤ n in the query's centroid ordering, so recall(n) is a running
    * cumulative count over centroid ranks. Everything distributed
    * except the final ≤ nlist rank histogram.
    *
    * `radius` switches the ground truth from top-k neighbors to
    * RADIUS neighbors (rounded dist ≤ radius — the dedup contract):
    * the returned nprobe then targets PAIR recall, the quantity
    * dedup_embedding_ivf exists to preserve, instead of serving
    * recall@k. Same closed form; only the truth set and its
    * denominator change. A sample with no radius neighbors falls
    * back to the scan-bounded default (nothing to calibrate on).
    *
    * `truthFilter` restricts the scored (qid, dist, vec_id) pairs
    * BEFORE the truth set is taken, so a caller can calibrate against
    * its own contract — mm_pair_mining_ivf masks to wrong-source
    * pairs, because its global top-3 is dominated by same-source
    * duplicates that sit in the query's own cell and would calibrate
    * the probe depth down to 1. Must preserve those three columns. */
  def calibrateNprobe(s: SparkSession, index: DataFrame,
      centroids: Array[Array[Double]], dir: String,
      targetAccuracy: Double, k: Int = 10, sampleMod: Int = DefaultSampleMod,
      radius: Option[Double] = None,
      truthFilter: DataFrame => DataFrame = identity): Int = {
    val sample = calibrationSample(s, dir, sampleMod)
    // exact ground truth per sample query (broadcast the sample,
    // bounded top-k agg / radius filter — shuffle volume is the
    // answer size). The broadcast hint is legitimate BECAUSE the
    // sample is absolutely capped: ≤ [[CalibrationSampleCap]] rows
    // regardless of corpus size.
    val scored = truthFilter(index
      .crossJoin(broadcast(sample))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"),
        FloatVecDistance.cosine(col("embedding"), col("qv")).as("dist"),
        col("vec_id")))
    val truthIds = radius match {
      case Some(r) =>
        // raw prefilter before the rounded contract filter (strict
        // superset — SafeRound.PreRoundSlack): skips Round's
        // BigDecimal path on the non-near bulk of the N·cap stream
        scored.filter(graft.functions.SafeRound.radiusPrefilter(col("dist"), r))
          .filter(round(col("dist"), 4) <= r)
          .select(col("qid"), col("vec_id"))
      case None =>
        scored.groupBy(col("qid"))
          .agg(graft.functions.TopKAgg.topkByDist(col("dist"), col("vec_id"), k).as("top"))
          .select(col("qid"), explode(col("top.id")).as("vec_id"))
    }
    val truth = truthIds
      .join(index.select(col("vec_id"), col("centroid_id")), "vec_id")
    // per-query centroid ranking: one narrow step per sample query,
    // sample × nlist rows out — bounded work, parallel across queries
    val cranks = centroidRanks(s, sample, centroids)
    val nQueries = sample.count()
    val byRank = truth.join(cranks, Seq("qid", "centroid_id"))
      .groupBy(col("crank")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    // top-k mode keeps the oracle-mirrored |sample|·k denominator
    // (every sample query has k true neighbors at any non-degenerate
    // corpus size); radius mode divides by the true pair count.
    val denom = radius match {
      case Some(_) => byRank.values.sum.toDouble
      case None    => (nQueries * k).toDouble
    }
    if (denom == 0) resolveNprobe(centroids.length, 0)
    else {
      var cum = 0L
      (1 to centroids.length).find { n =>
        cum += byRank.getOrElse(n, 0L)
        cum / denom >= targetAccuracy
      }.getOrElse(centroids.length)
    }
  }

  /** vs_knn_ivf_acc: the vs_knn_ivf probe with nprobe chosen by
    * `TARGET ACCURACY 95` calibration instead of the fixed default.
    * Oracle-checked: the DuckDB oracle re-derives the calibrated
    * nprobe from the artifacts (ground truth, centroid ranks, recall
    * cumsum) and must land on the same probe set. AnnSpec additionally
    * asserts the calibrated nprobe meets the target on the sample and
    * that target=1.0 reproduces the exact result. */
  def knnIvfAcc(s: SparkSession, dir: String): DataFrame = {
    val (index, centroids) = build(s, dir)
    val np = calibrateNprobe(s, index, centroids, dir, targetAccuracy = 0.95)
    probeQuery(s, dir, index, centroids, np)
  }

  /** vs_knn_ivf_batch: every 50th vector served against the IVF
    * layout at the adaptive geometry and probe depth. A sizing run
    * calls [[build]] with an explicit k and [[searchBatch]] with an
    * explicit nprobe. */
  def knnIvfBatch(s: SparkSession, dir: String): DataFrame = {
    val (index, centroids) = build(s, dir)
    searchBatch(s, index, centroids, VectorSearch.batchQueries(s, dir), k = 5)
      .orderBy("qid", "rnk")
  }

  /** dedup_embedding_ivf: embedding near-dup pair detection blocked by
    * the IVF layout — the production scale path for embedding dedup.
    *
    * Why it exists: the hyperplane-LSH twin ([[EmbeddingLsh.pairs]])
    * cannot prune at the mid-similarity dedup radius — at cos-sim
    * ≈ 0.5 per-bit agreement is ~0.65, so its 6×4-bit bands pass ~32%
    * of ALL pairs; the candidate join is quadratic with a small
    * constant, and a 30× scaled run exhausts a single-node heap in
    * exactly that stage (SURVEY §6). Same physics as the
    * mm_pair_mining_lsh negative result. IVF blocking is data-adaptive
    * instead: every vector probes its [[defaultNprobe]] nearest cells
    * and is a candidate only against those cells' members, so
    * candidate volume is N × nprobe × (N/nlist) — with nlist ≈ √N and
    * nprobe ≈ √nlist at scale, ~N^1.75 total work (r6's fixed
    * nprobe=4 gave N^1.5 but let recall decay with the corpus; the
    * recall-pinned form is [[calibrateNprobe]] at the dedup radius,
    * passed to [[dedupPairsAt]]) — and near/mid-sim pairs
    * land in nearby cells
    * regardless of their absolute similarity, so recall holds where
    * banding's does not (spec-pinned vs the exact baseline).
    *
    * Measured honestly (SURVEY §6): at a FIXED nlist this is
    * N²·nprobe/nlist — quadratic like the LSH twin (136 s at 10×,
    * died at 30× when the r6 gate still pinned nlist=16; that
    * measurement is why [[defaultNlist]] is now corpus-adaptive).
    * At the √N default the same plan measured 0.89/11.8/62.0 s at
    * 1×/10×/30× (fitted exponent ≈1.3, theory 1.5) with recall
    * 1.0000 on near-dup pairs and 0.59 on the mid-sim tail at a
    * 2.8% scan. The exact broadcast is still faster at test corpus
    * sizes (41 s at 30×) — the N² kernel stops being an option
    * around N ≈ 10⁷, which is the regime this path exists for.
    *
    * Pair semantics match dedup_embedding: (vec_a < vec_b, dist ≤
    * [[Dedup.CosRadius]]); a pair is a candidate when EITHER side
    * probes the other's assigned cell. Geometry is [[blockingNlist]]
    * (uncapped √N — identical to the serving default below the
    * serving cap, so up to N ≈ 17M this reuses the same persisted
    * artifacts as the serving ops with no second index build, and
    * the oracle reproduces probe ranking, cell restriction,
    * verification, and the radius filter from them; above the cap
    * the blocking index is its own in-session build and the
    * candidate fraction keeps shrinking instead of freezing at
    * 1/64).
    *
    * VERIFY-BEFORE-DEDUP (r8): r7 deduplicated the candidate pair
    * space first (bare-id distinct — a full shuffle of the N^1.75-row
    * candidate stream) and verified the survivors through two
    * embedding re-joins (two more candidate-stream shuffles). That
    * distinct dominated the 30× default run (449.5 s, SURVEY §6).
    * Now the probe rows carry the query vector from [[probePairs]]
    * into the one cell join, so every candidate row already carries
    * both embeddings and the exact kernel + radius
    * filter run MAP-SIDE on the exploded stream; only the
    * answer-sized survivors (actual near-dup pairs) reach the
    * distinct that unions the two probe directions. Zero shuffles of
    * the candidate stream; the cosine kernel is evaluated per probe
    * direction instead of per pair (≤ 2× the flops) — codegen flops
    * traded for the shuffle that actually dominated. dist is
    * direction-safe: dot and norms accumulate index-ascending, so
    * cosine(x,y) ≡ cosine(y,x) bit-for-bit and both directions
    * yield an identical (vec_a, vec_b, dist) row for the distinct.
    * Same verified pair set; the oracle is untouched. */
  def dedupPairs(s: SparkSession, dir: String): DataFrame = {
    val (index, centroids) = buildBlocking(s, dir)
    dedupPairsAt(s, dir, index, centroids, 0)
  }

  /** The blocked-dedup pipeline at an explicit probe depth (0 =
    * adaptive) — split out so specs and sizing runs can pin the plan
    * and recall at a chosen depth, e.g. one [[calibrateNprobe]] returns
    * for a pair-recall target at the dedup radius. */
  private[graft] def dedupPairsAt(s: SparkSession, dir: String,
      index: DataFrame, centroids: Array[Array[Double]], np: Int): DataFrame = {
    val probes = Tables.embeddings(s, dir)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    // corpus-sized probe table: the one cell join stays un-hinted
    // (AQE broadcasts at local scale, shuffle equi-join at 100 TB) and
    // the probe rows already carry qv, so the exploded stream never
    // crosses a sort or shuffle before the radius filter.
    index
      .join(probePairs(s, probes, centroids, np), "centroid_id")
      .filter(col("qid") =!= col("vec_id"))
      // two-phase radius: RAW-kernel prefilter first (strict superset
      // — see SafeRound.PreRoundSlack), exact rounded filter after.
      // Pushdown merges both into the join condition where &&
      // short-circuits, so Round's BigDecimal path runs only on
      // near-radius survivors: measured 12.9 → 6.9 s on the sf1
      // candidate stream, bit-identical output.
      .filter(graft.functions.SafeRound.radiusPrefilter(
        FloatVecDistance.cosine(col("embedding"), col("qv")), Dedup.CosRadius))
      .select(least(col("qid"), col("vec_id")).as("vec_a"),
        greatest(col("qid"), col("vec_id")).as("vec_b"),
        round(FloatVecDistance.cosine(col("embedding"), col("qv")), 4).as("dist"))
      .filter(col("dist") <= Dedup.CosRadius)
      .distinct()
      .orderBy("vec_a", "vec_b")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "vs_knn_ivf" -> (knnIvf _),
    "vs_knn_ivf_acc" -> (knnIvfAcc _),
    "vs_knn_ivf_batch" -> (knnIvfBatch _),
    "dedup_embedding_ivf" -> (dedupPairs _))

  /** DuckDB oracles over the persisted artifacts: given the k-means
    * fit (the one engine-specific step), probe ranking, partition
    * pruning, batch serving, and TARGET-ACCURACY calibration are all
    * reproduced independently and hash-compared. */
  val oracleSql: Map[String, String] = Map(
    "vs_knn_ivf" ->
      s"""WITH ${artifactCtes("__IVFDIR__")},
         |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |cd AS (SELECT cid, ${VectorSearch.dCosine("cvec", "qv")} AS cdist FROM c, q),
         |probes AS (
         |  SELECT cid FROM (
         |    SELECT cid, row_number() OVER (ORDER BY cdist, cid) AS r FROM cd)
         |  WHERE r <= $sqlNprobe)
         |SELECT e.vec_id, round(1e-9 + ${VectorSearch.dCosine("e.embedding", "qv")}, 4) AS dist
         |FROM embeddings e JOIN a USING (vec_id)
         |  JOIN probes ON a.centroid_id = probes.cid, q
         |WHERE e.vec_id <> 0
         |ORDER BY dist, vec_id LIMIT 10""".stripMargin,
    "vs_knn_ivf_batch" ->
      s"""WITH ${artifactCtes("__IVFDIR__")},
         |qs AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id % 50 = 0),
         |cd AS (SELECT qid, cid, ${VectorSearch.dCosine("cvec", "qv")} AS cdist FROM qs, c),
         |pr AS (
         |  SELECT qid, cid FROM (
         |    SELECT qid, cid,
         |      row_number() OVER (PARTITION BY qid ORDER BY cdist, cid) AS r FROM cd)
         |  WHERE r <= $sqlNprobe),
         |cand AS (
         |  SELECT qs.qid, a.vec_id,
         |    round(1e-9 + ${VectorSearch.dCosine("e.embedding", "qv")}, 4) AS dist
         |  FROM qs JOIN pr USING (qid)
         |    JOIN a ON a.centroid_id = pr.cid
         |    JOIN embeddings e ON e.vec_id = a.vec_id
         |  WHERE a.vec_id <> qs.qid)
         |SELECT qid, vec_id, dist, rnk FROM (
         |  SELECT qid, vec_id, dist,
         |    row_number() OVER (PARTITION BY qid ORDER BY dist, vec_id) AS rnk
         |  FROM cand)
         |WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin,
    // reproduces the IVF-blocked dedup path from the persisted
    // artifacts: per-vector centroid ranking, nprobe cell restriction
    // (both probe directions via least/greatest), exact verification,
    // radius filter. Same contract as the dedup_embedding oracle.
    "dedup_embedding_ivf" ->
      s"""WITH ${artifactCtes("__IVFDIR__")},
         |qs AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings),
         |cd AS (SELECT qid, cid, ${VectorSearch.dCosine("cvec", "qv")} AS cdist FROM qs, c),
         |pr AS (
         |  SELECT qid, cid FROM (
         |    SELECT qid, cid,
         |      row_number() OVER (PARTITION BY qid ORDER BY cdist, cid) AS r FROM cd)
         |  WHERE r <= $sqlNprobe),
         |cand AS (
         |  SELECT DISTINCT least(pr.qid, a.vec_id) AS vec_a,
         |    greatest(pr.qid, a.vec_id) AS vec_b
         |  FROM pr JOIN a ON a.centroid_id = pr.cid
         |  WHERE a.vec_id <> pr.qid),
         |d AS (
         |  SELECT vec_a, vec_b,
         |    round(1e-9 + ${VectorSearch.dCosine("ea.embedding", "eb.embedding")}, 4) AS dist
         |  FROM cand JOIN embeddings ea ON ea.vec_id = vec_a
         |            JOIN embeddings eb ON eb.vec_id = vec_b)
         |SELECT vec_a, vec_b, dist FROM d
         |WHERE dist <= ${Dedup.CosRadius} ORDER BY vec_a, vec_b""".stripMargin,
    "vs_knn_ivf_acc" ->
      s"""WITH ${artifactCtes("__IVFDIR__")},
         |qs AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
         |       WHERE vec_id % $sqlCalibMod = 0),
         |td AS (
         |  SELECT qs.qid, e.vec_id, ${VectorSearch.dCosine("e.embedding", "qv")} AS dist
         |  FROM qs, embeddings e WHERE e.vec_id <> qs.qid),
         |truth AS (
         |  SELECT qid, vec_id FROM (
         |    SELECT qid, vec_id,
         |      row_number() OVER (PARTITION BY qid ORDER BY dist, vec_id) AS r FROM td)
         |  WHERE r <= 10),
         |cdq AS (SELECT qid, cid, ${VectorSearch.dCosine("cvec", "qv")} AS cdist FROM qs, c),
         |cranks AS (
         |  SELECT qid, cid,
         |    row_number() OVER (PARTITION BY qid ORDER BY cdist, cid) AS crank
         |  FROM cdq),
         |matched AS (
         |  SELECT cr.crank FROM truth t
         |    JOIN a ON t.vec_id = a.vec_id
         |    JOIN cranks cr ON cr.qid = t.qid AND cr.cid = a.centroid_id),
         |ranks AS (SELECT unnest(generate_series(1, (SELECT count(*)::INT FROM c))) AS n),
         |hist AS (SELECT crank, count(*) AS cnt FROM matched GROUP BY 1),
         |cum AS (
         |  SELECT n, sum(coalesce(cnt, 0)) OVER (ORDER BY n) AS cum
         |  FROM ranks LEFT JOIN hist ON n = crank),
         |-- same double-division comparison as the Scala calibration,
         |-- so boundary recalls resolve identically
         |np AS (
         |  SELECT coalesce(min(n), (SELECT count(*)::INT FROM c)) AS np FROM cum
         |  WHERE cum::DOUBLE / ((SELECT count(*) FROM qs) * 10)::DOUBLE >= 0.95),
         |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |cd0 AS (SELECT cid, ${VectorSearch.dCosine("cvec", "qv")} AS cdist FROM c, q),
         |probes AS (
         |  SELECT cid FROM (
         |    SELECT cid, row_number() OVER (ORDER BY cdist, cid) AS r FROM cd0)
         |  WHERE r <= (SELECT np FROM np))
         |SELECT e.vec_id, round(1e-9 + ${VectorSearch.dCosine("e.embedding", "qv")}, 4) AS dist
         |FROM embeddings e JOIN a USING (vec_id)
         |  JOIN probes ON a.centroid_id = probes.cid, q
         |WHERE e.vec_id <> 0
         |ORDER BY dist, vec_id LIMIT 10""".stripMargin)
}
