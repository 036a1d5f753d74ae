package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.SafeRound.round

import graft.Tables
import graft.functions.VectorFunctions._
import graft.functions.FloatVecDistance

/** Vector similarity search over the `embeddings` table — the Spark
  * re-expression of Oracle AI Vector Search's query surface
  * (reference: /root/reference/scripts/01_pdf_to_vector.sql:84-97 —
  * `VECTOR_DISTANCE` with COSINE/EUCLIDEAN/DOT/MANHATTAN and the
  * top-k `FETCH FIRST k ROWS` pattern).
  *
  * Scale design:
  *  - the query side is always a broadcast (one vector, or a small
  *    query batch); the data side streams — no shuffle for knn.
  *  - `orderBy(dist).limit(k)` plans as TakeOrderedAndProject:
  *    per-partition bounded heaps + a driver merge of k·P rows, the
  *    correct distributed exact-knn topology at any data size.
  *  - batch (all-pairs) knn broadcasts the smaller side; at true
  *    100 TB scale the IVF/LSH-blocked variants bound the pair space
  *    (see IvfIndex / Dedup.embeddingLsh).
  *  - distances are ordered on their *rounded* value with id
  *    tie-breaks so exact top-k sets match the oracle bit-for-bit.
  */
object VectorSearch {

  /** Corpus stream side for distance scoring — spread to cluster
    * parallelism when the file's byte splits can't (see Tables.spread);
    * the single-row query fetch keeps the plain scan. */
  private def corpus(s: SparkSession, dir: String): DataFrame =
    Tables.spread(s, dir, "embeddings")

  // ---- the query set and the exact scorer every index shares --------

  /** The vec_id of the single query every single-probe search serves. */
  val QueryId = 0L

  /** `df`'s query row (vec_id [[QueryId]]). */
  private[graft] def queryRow(df: DataFrame): DataFrame = df.filter(col("vec_id") === QueryId)

  /** `df` without the query row: the candidates a single query is scored against. */
  private[graft] def withoutQuery(df: DataFrame): DataFrame = df.filter(col("vec_id") =!= QueryId)

  /** The one-row (qv) query frame. */
  private[graft] def queryFrame(s: SparkSession, dir: String): DataFrame =
    queryRow(Tables.embeddings(s, dir)).select(col("embedding").as("qv"))

  /** The query's embedding on the driver: one collect. */
  private[graft] def queryVector(s: SparkSession, dir: String): Array[Float] =
    queryFrame(s, dir).collect()(0).getSeq[Float](0).toArray

  /** `df`'s batch query rows: every [[IvfIndex.DefaultSampleMod]]th vec_id. */
  private[graft] def batchRows(df: DataFrame): DataFrame =
    df.filter(col("vec_id") % IvfIndex.DefaultSampleMod === 0)

  /** The (qid, qv) batch query set. */
  private[graft] def batchQueries(s: SparkSession, dir: String): DataFrame =
    batchRows(Tables.embeddings(s, dir)).select(col("vec_id").as("qid"), col("embedding").as("qv"))

  /** Cosine distance of a candidate's embedding to the query's qv. */
  private[graft] def queryCosine: Column = FloatVecDistance.cosine(col("embedding"), col("qv"))

  /** The single-query exact scorer: every `cands` row against the
    * broadcast one-row `query`, `dist` rounded to 4 dp as column
    * `as`, ordered by (distance, vec_id). */
  private def ranked(cands: DataFrame, query: DataFrame, dist: Column,
      as: String = "dist"): DataFrame =
    cands.crossJoin(broadcast(query))
      .select(col("vec_id"), round(dist, 4).as(as))
      .orderBy(col(as), col("vec_id"))

  /** [[ranked]]'s first `k` rows: a TakeOrderedAndProject. */
  private[graft] def exactTopK(cands: DataFrame, query: DataFrame, dist: Column, k: Int,
      as: String = "dist"): DataFrame =
    ranked(cands, query, dist, as).limit(k)

  /** The sampled exact truth: per (qid, qv) query of `queries`, the
    * ids of its `k` nearest `corpus` rows other than itself by
    * (rounded cosine, vec_id), as (qid, vec_id). */
  private[graft] def exactTruth(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame =
    corpus.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), round(queryCosine, 4).as("dist"))
      .groupBy(col("qid"))
      .agg(graft.functions.TopKAgg.topkByDist(col("dist"), col("vec_id"), k).as("top"))
      .select(col("qid"), explode(col("top.id")).as("vec_id"))

  /** Top-k rows by a distance column vs the query vector. */
  private def knn(s: SparkSession, dir: String,
      dist: (Column, Column) => Column, k: Int = 10): DataFrame =
    exactTopK(withoutQuery(corpus(s, dir)), queryFrame(s, dir),
      dist(col("embedding"), col("qv")), k)

  def knnCosine(s: SparkSession, dir: String): DataFrame = knn(s, dir, FloatVecDistance.cosine)
  /** Exact cosine top-k at caller-chosen depth (spec ground truth). */
  def knnCosineK(s: SparkSession, dir: String, k: Int): DataFrame =
    knn(s, dir, FloatVecDistance.cosine, k)
  def knnL2(s: SparkSession, dir: String): DataFrame = knn(s, dir, FloatVecDistance.l2)
  def knnDot(s: SparkSession, dir: String): DataFrame = knn(s, dir, FloatVecDistance.dot)
  def knnManhattan(s: SparkSession, dir: String): DataFrame = knn(s, dir, FloatVecDistance.manhattan)

  /** All vectors within cosine distance ≤ radius of the query — the
    * similarity-threshold form of vector search. */
  def rangeSearch(s: SparkSession, dir: String): DataFrame =
    ranked(withoutQuery(corpus(s, dir)), queryFrame(s, dir), queryCosine)
      .filter(col("dist") <= 0.8)

  /** Batch similarity search: top-5 neighbors for EVERY vector (bulk
    * form of online knn serving — the part of the reference workload
    * that fits Spark). Broadcast nested-loop with per-key top-k. */
  def knnBatch(s: SparkSession, dir: String): DataFrame = {
    val emb = corpus(s, dir).select(col("vec_id"), col("embedding"))
    val nbr = broadcast(
      Tables.embeddings(s, dir).select(col("vec_id").as("nid"), col("embedding").as("nvec")))
    // Bounded top-k aggregate instead of a window rank: each map
    // partition reduces to ≤ k entries per key before the exchange, so
    // shuffle volume is #vectors × k, not the full N·M scored pairs.
    emb.crossJoin(nbr)
      .filter(col("vec_id") =!= col("nid"))
      .select(col("vec_id"), col("nid"),
        round(FloatVecDistance.cosine(col("embedding"), col("nvec")), 4).as("dist"))
      .transform(graft.functions.TopKAgg.perKey(col("vec_id"), col("dist"), col("nid"), 5))
      .withColumnRenamed("id", "nid")
      .orderBy(col("vec_id"), col("rnk"))
  }

  /** Filtered vector search — the attribute-constrained form every
    * vector store must answer (Oracle: a WHERE clause next to
    * VECTOR_DISTANCE). PRE-filter semantics: the metadata predicate
    * (here: the matching document's language) restricts the candidate
    * set BEFORE the top-k, so the result is exact within the filtered
    * population — the correct choice when the filter is selective;
    * the predicate and pruned columns push down to the scans and the
    * dim join broadcasts. */
  def knnFiltered(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .filter(col("lang") === "fr").select(col("doc_id"))
    exactTopK(withoutQuery(corpus(s, dir)).join(broadcast(docs), col("vec_id") === col("doc_id")),
      queryFrame(s, dir), queryCosine, 10)
  }

  /** POST-filter counterpart of knnFiltered: over-fetch the global
    * top-50, THEN apply the attribute predicate, keep 10. Cheaper when
    * the filter is unselective (no join before the top-k) but recall
    * is bounded by the over-fetch — results can differ from pre-filter
    * by design. Both engines apply the identical over-fetch rule, so
    * the (approximate) result is still hash-checked. */
  def knnPostFiltered(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .filter(col("lang") === "fr").select(col("doc_id"))
    knn(s, dir, FloatVecDistance.cosine, 50)
      .join(broadcast(docs), col("vec_id") === col("doc_id"))
      .select(col("vec_id"), col("dist"))
      .orderBy(col("dist"), col("vec_id"))
      .limit(10)
  }

  /** VECTOR_NORM / VECTOR_DIMENSION_COUNT / element + normalize ops. */
  def vectorOps(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    emb.select(
      col("vec_id"),
      vecDims(col("embedding")).cast("long").as("dims"),
      round(vecNorm(col("embedding")), 4).as("norm"),
      round(element_at(col("embedding"), 1).cast("double") / vecNorm(col("embedding")), 4).as("unit_x0"),
      round(array_min(col("embedding")).cast("double"), 4).as("min_val"),
      round(array_max(col("embedding")).cast("double"), 4).as("max_val"))
      .orderBy(col("vec_id"))
  }

  /** TO_VECTOR/FROM_VECTOR round-trip audit (reference line 144:
    * TO_VECTOR(et.embed_vector)): serialize every embedding to its
    * string form and parse it back; float32→string→float32 must be
    * lossless. The string format itself is engine-specific (shortest
    * round-trip repr), so the ORACLE pins the invariant instead: the
    * round trip must be the identity, at both vector and element
    * granularity — any value mutated by serialize/parse makes the
    * Spark-side exact counts fall short of the oracle's totals and
    * fails the hash gate. */
  def toVectorRoundtrip(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding"),
        toVector(fromVector(col("embedding"))).as("rt"))
      .agg(count(lit(1)).as("n_vectors"),
        sum(when(col("rt") === col("embedding"), 1L).otherwise(0L)).as("n_exact"),
        sum(size(col("embedding")).cast("long")).as("n_values"),
        sum(aggregate(
          zip_with(col("rt"), col("embedding"),
            (a, b) => when(a === b, 1L).otherwise(0L)),
          lit(0L), (acc, v) => acc + v)).as("n_values_exact"))

  /** INT8 scalar quantization + quantized knn (Oracle 26ai supports
    * INT8/BINARY vector storage; this is the INT8 path). Per-vector
    * scale s = 127/max|x|; q = clamp(round(1e-9 + x·s)); search scores
    * integer dot products dequantized by 1/(s_a·s_q). Quantization
    * cuts vector bytes 4× — at 100 TB that is the difference between
    * an in-memory and a spilled index; the int dot product is also
    * SIMD-friendlier. Top-k by the *quantized* cosine, with exact
    * distance reported alongside for error visibility. */
  def knnInt8(s: SparkSession, dir: String): DataFrame = {
    val emb = corpus(s, dir)
    def scaleOf(c: Column): Column = lit(127.0) / greatest(array_max(transform(c, x => abs(x.cast("double")))), lit(1e-30))
    def quant(c: Column, sc: Column): Column =
      transform(c, x => greatest(lit(-127L), least(lit(127L), round(x.cast("double") * sc, 0).cast("long"))))
    val base = emb.select(col("vec_id"), col("embedding"),
      scaleOf(col("embedding")).as("sc"))
      .select(col("vec_id"), col("sc"), quant(col("embedding"), col("sc")).as("q"))
    val qv = queryRow(base).select(col("q").as("qq"), col("sc").as("qsc"))
    val intDot = aggregate(zip_with(col("q"), col("qq"), (x, y) => x * y), lit(0L), (a, v) => a + v)
    val qnorm = sqrt(aggregate(transform(col("q"), x => x * x), lit(0L), (a, v) => a + v).cast("double"))
    val qqnorm = sqrt(aggregate(transform(col("qq"), x => x * x), lit(0L), (a, v) => a + v).cast("double"))
    exactTopK(withoutQuery(base), qv,
      lit(1.0) - intDot.cast("double") / (qnorm * qqnorm), 10, as = "qdist")
  }

  /** Same batch-knn result through the custom KnnJoin operator
    * (LogicalPlan + Strategy + SparkPlan): broadcast index side,
    * per-row bounded heap, no shuffle. The distance is rounded and
    * tie-broken on nid INSIDE the operator, so the kept k=6 are exactly
    * the oracle's first 6 by (rounded dist, nid); dropping the self
    * match (≤1 row) leaves the exact top-5. */
  def knnJoin(s: SparkSession, dir: String): DataFrame = {
    val emb = corpus(s, dir).select(col("vec_id"), col("embedding"))
    val nbr = Tables.embeddings(s, dir)
      .select(col("vec_id").as("nid"), col("embedding").as("nvec"))
    val w = Window.partitionBy(col("vec_id")).orderBy(col("dist"), col("nid"))
    graft.plans.KnnJoin(emb, nbr, "embedding", "nvec", k = 6, metric = "cosine",
        roundDp = 4, tieBreak = Some("nid"))
      .filter(col("vec_id") =!= col("nid"))
      .select(col("vec_id"), col("nid"), col("dist"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 5)
      .orderBy(col("vec_id"), col("rnk"))
  }

  /** The knn query through plain SQL with the registered
    * vec_cosine_distance function — the reference's own interface
    * (SELECT … ORDER BY VECTOR_DISTANCE(…) FETCH FIRST k ROWS ONLY). */
  def knnSql(s: SparkSession, dir: String): DataFrame = {
    graft.GraftExtensions.register(s)
    Tables.embeddings(s, dir).createOrReplaceTempView("graft_embeddings")
    s.sql("""
      SELECT vec_id,
        round(vec_cosine_distance(embedding,
          (SELECT embedding FROM graft_embeddings WHERE vec_id = 0)), 4) AS dist
      FROM graft_embeddings WHERE vec_id <> 0
      ORDER BY dist, vec_id LIMIT 10""")
  }

  /** Filtered-search strategy statistics — the planning input for the
    * pre-filter vs post-filter choice (vs_knn_filtered vs
    * vs_knn_postfilter): per language, the candidate population size
    * and how many of the UNFILTERED global top-50 fall in that
    * language (the post-filter yield). Post-filter@50 suffices for a
    * top-10 answer only when the yield reaches 10 — selective filters
    * starve it and need the pre-filter join. One top-50 pass (bounded
    * TakeOrderedAndProject) + one broadcast dim join + two tiny aggs. */
  def filterSelectivity(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("lang"))
    val top50 = knn(s, dir, FloatVecDistance.cosine, 50)
    val pop = withoutQuery(Tables.embeddings(s, dir))
      .join(broadcast(docs), col("vec_id") === col("doc_id"))
      .groupBy(col("lang")).agg(count(lit(1)).as("n_vecs"))
    val hits = top50.join(broadcast(docs), col("vec_id") === col("doc_id"))
      .groupBy(col("lang")).agg(count(lit(1)).as("top50_hits"))
    pop.join(hits, Seq("lang"), "left_outer")
      .select(col("lang"), col("n_vecs"),
        coalesce(col("top50_hits"), lit(0L)).as("top50_hits"))
      .withColumn("postfilter_ok", (col("top50_hits") >= 10).cast("long"))
      .orderBy("lang")
  }

  /** Embedding-space diagnostics per class label — the dataset-health
    * report run before training a classifier / probing retrieval
    * quality: per label, the centroid (element-wise mean, ROUNDED to
    * 6 dp so both engines square identical inputs) and the spread of
    * member distances to it (compact tight classes vs diffuse ones).
    *
    * Scale shape: the centroid build is the only fan-out — one
    * posexplode to (label, dim) partial-agg means (N×dim rows through
    * map-side combine, #labels×dim out); the rebuilt centroid arrays
    * (#labels rows) BROADCAST back against the embeddings and every
    * distance is a narrow zip_with fold — no N×dim shuffle, no join
    * bigger than the answer. */
  def labelDiagnostics(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("label"), col("embedding"))
    val means = emb
      .select(col("label"), posexplode(col("embedding")))
      .groupBy(col("label"), col("pos"))
      .agg(round(avg(col("col").cast("double")), 6).as("m"))
    val centroids = means
      .groupBy(col("label"))
      .agg(sort_array(collect_list(struct(col("pos"), col("m")))).as("pm"))
      .select(col("label"), transform(col("pm"), x => x.getField("m")).as("cent"))
    emb.join(broadcast(centroids), "label")
      .select(col("label"),
        sqrt(aggregate(
          zip_with(col("embedding"), col("cent"),
            (a, b) => (a.cast("double") - b) * (a.cast("double") - b)),
          lit(0.0), (acc, x) => acc + x)).as("dist"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        round(avg(col("dist")), 4).as("avg_dist"),
        round(min(col("dist")), 4).as("min_dist"),
        round(max(col("dist")), 4).as("max_dist"))
      .orderBy("label")
  }

  // ---- DuckDB oracle fragments ----------------------------------------

  /** Σ a[i]·b[i] in double, left-to-right — matches zip_with+aggregate. */
  private[operators] def dDot(a: String, b: String): String =
    s"list_sum([$a[i]::DOUBLE * $b[i]::DOUBLE for i in generate_series(1, len($a))])"
  private[operators] def dNorm(a: String): String =
    s"sqrt(list_sum([$a[i]::DOUBLE * $a[i]::DOUBLE for i in generate_series(1, len($a))]))"
  private[graft] def dCosine(a: String, b: String): String =
    s"1 - ${dDot(a, b)} / (${dNorm(a)} * ${dNorm(b)})"
  private def dL2(a: String, b: String): String =
    s"sqrt(list_sum([($a[i]::DOUBLE - $b[i]::DOUBLE) * ($a[i]::DOUBLE - $b[i]::DOUBLE) for i in generate_series(1, len($a))]))"
  private def dL1(a: String, b: String): String =
    s"list_sum([abs($a[i]::DOUBLE - $b[i]::DOUBLE) for i in generate_series(1, len($a))])"

  private def knnSql(distExpr: String, k: Int = 10): String =
    s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
       |SELECT vec_id, round(1e-9 + $distExpr, 4) AS dist
       |FROM embeddings, q WHERE vec_id <> 0
       |ORDER BY dist, vec_id LIMIT $k""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "vs_knn_cosine" -> (knnCosine _),
    "vs_knn_l2" -> (knnL2 _),
    "vs_knn_dot" -> (knnDot _),
    "vs_knn_manhattan" -> (knnManhattan _),
    "vs_range_search" -> (rangeSearch _),
    "vs_knn_batch" -> (knnBatch _),
    "vs_vector_ops" -> (vectorOps _),
    "vs_label_diagnostics" -> (labelDiagnostics _),
    "vs_filter_selectivity" -> (filterSelectivity _),
    "vs_to_vector_roundtrip" -> (toVectorRoundtrip _),
    "vs_knn_int8" -> (knnInt8 _),
    "vs_knn_filtered" -> (knnFiltered _),
    "vs_knn_postfilter" -> (knnPostFiltered _),
    "vs_knn_join" -> (knnJoin _),
    "vs_knn_sql" -> (knnSql _))

  val oracleSql: Map[String, String] = Map(
    // the oracle pins the LOSSLESS invariant: serialize∘parse must be
    // the identity, so every exact-count equals its total (string
    // formatting itself is engine-specific and never crosses engines)
    "vs_to_vector_roundtrip" ->
      """SELECT count(*) AS n_vectors, count(*) AS n_exact,
        |  sum(len(embedding))::BIGINT AS n_values,
        |  sum(len(embedding))::BIGINT AS n_values_exact
        |FROM embeddings""".stripMargin,
    "vs_filter_selectivity" ->
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |top50 AS (
         |  SELECT vec_id, round(1e-9 + ${dCosine("embedding", "qv")}, 4) AS dist
         |  FROM embeddings, q WHERE vec_id <> 0
         |  ORDER BY dist, vec_id LIMIT 50),
         |pop AS (
         |  SELECT lang, count(*) AS n_vecs
         |  FROM embeddings JOIN documents ON vec_id = doc_id
         |  WHERE vec_id <> 0 GROUP BY 1),
         |hits AS (
         |  SELECT lang, count(*) AS top50_hits
         |  FROM top50 JOIN documents ON vec_id = doc_id GROUP BY 1)
         |SELECT pop.lang, pop.n_vecs,
         |  coalesce(hits.top50_hits, 0) AS top50_hits,
         |  (CASE WHEN coalesce(hits.top50_hits, 0) >= 10 THEN 1 ELSE 0 END)::BIGINT
         |    AS postfilter_ok
         |FROM pop LEFT JOIN hits USING (lang)
         |ORDER BY pop.lang""".stripMargin,
    "vs_label_diagnostics" ->
      """WITH x AS (
        |  SELECT label, i, avg(embedding[i]::DOUBLE) AS m_raw
        |  FROM embeddings, unnest(generate_series(1, len(embedding))) t(i)
        |  GROUP BY 1, 2),
        |c AS (
        |  SELECT label, list(round(1e-9 + m_raw, 6) ORDER BY i) AS cent
        |  FROM x GROUP BY 1),
        |d AS (
        |  SELECT e.label,
        |    sqrt(list_sum([(e.embedding[i]::DOUBLE - c.cent[i])
        |                   * (e.embedding[i]::DOUBLE - c.cent[i])
        |                   for i in generate_series(1, len(e.embedding))])) AS dist
        |  FROM embeddings e JOIN c USING (label))
        |SELECT label, count(*) AS n_vecs,
        |  round(1e-9 + avg(dist), 4) AS avg_dist,
        |  round(1e-9 + min(dist), 4) AS min_dist,
        |  round(1e-9 + max(dist), 4) AS max_dist
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,
    "vs_knn_cosine" -> knnSql(dCosine("embedding", "qv")),
    "vs_knn_l2" -> knnSql(dL2("embedding", "qv")),
    "vs_knn_dot" -> knnSql(s"-(${dDot("embedding", "qv")})"),
    "vs_knn_manhattan" -> knnSql(dL1("embedding", "qv")),
    "vs_range_search" ->
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |d AS (SELECT vec_id, round(1e-9 + ${dCosine("embedding", "qv")}, 4) AS dist
         |      FROM embeddings, q WHERE vec_id <> 0)
         |SELECT vec_id, dist FROM d WHERE dist <= 0.8 ORDER BY dist, vec_id""".stripMargin,
    "vs_knn_batch" ->
      s"""WITH d AS (
         |  SELECT a.vec_id, b.vec_id AS nid,
         |    round(1e-9 + ${dCosine("a.embedding", "b.embedding")}, 4) AS dist
         |  FROM embeddings a, embeddings b WHERE a.vec_id <> b.vec_id)
         |SELECT vec_id, nid, dist,
         |  row_number() OVER (PARTITION BY vec_id ORDER BY dist, nid) AS rnk
         |FROM d QUALIFY rnk <= 5 ORDER BY vec_id, rnk""".stripMargin,
    "vs_knn_join" ->
      s"""WITH d AS (
         |  SELECT a.vec_id, b.vec_id AS nid,
         |    round(1e-9 + ${dCosine("a.embedding", "b.embedding")}, 4) AS dist
         |  FROM embeddings a, embeddings b WHERE a.vec_id <> b.vec_id)
         |SELECT vec_id, nid, dist,
         |  row_number() OVER (PARTITION BY vec_id ORDER BY dist, nid) AS rnk
         |FROM d QUALIFY rnk <= 5 ORDER BY vec_id, rnk""".stripMargin,
    "vs_knn_sql" -> knnSql(dCosine("embedding", "qv")),
    "vs_knn_postfilter" ->
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |over AS (
         |  SELECT vec_id, round(1e-9 + ${dCosine("embedding", "qv")}, 4) AS dist
         |  FROM embeddings, q WHERE vec_id <> 0
         |  ORDER BY dist, vec_id LIMIT 50)
         |SELECT vec_id, dist
         |FROM over JOIN documents ON vec_id = doc_id AND lang = 'fr'
         |ORDER BY dist, vec_id LIMIT 10""".stripMargin,
    "vs_knn_filtered" ->
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
         |SELECT vec_id, round(1e-9 + ${dCosine("embedding", "qv")}, 4) AS dist
         |FROM embeddings
         |  JOIN documents ON vec_id = doc_id AND lang = 'fr', q
         |WHERE vec_id <> 0
         |ORDER BY dist, vec_id LIMIT 10""".stripMargin,
    "vs_knn_int8" ->
      s"""WITH base AS (
         |  SELECT vec_id, embedding,
         |    127.0 / greatest(list_max([abs(embedding[i]::DOUBLE)
         |      for i in generate_series(1, len(embedding))]), 1e-30) AS sc
         |  FROM embeddings),
         |q8 AS (
         |  SELECT vec_id,
         |    [greatest(-127, least(127, CAST(round(1e-9 + embedding[i]::DOUBLE * sc, 0) AS BIGINT)))
         |     for i in generate_series(1, len(embedding))] AS q
         |  FROM base),
         |qv AS (SELECT q AS qq FROM q8 WHERE vec_id = 0)
         |SELECT vec_id,
         |  round(1e-9 + 1 - list_sum([q[i] * qq[i] for i in generate_series(1, len(q))])::DOUBLE /
         |    (sqrt(list_sum([q[i] * q[i] for i in generate_series(1, len(q))])::DOUBLE) *
         |     sqrt(list_sum([qq[i] * qq[i] for i in generate_series(1, len(qq))])::DOUBLE)), 4) AS qdist
         |FROM q8, qv WHERE vec_id <> 0
         |ORDER BY qdist, vec_id LIMIT 10""".stripMargin,
    // the trailing `+ 0.0` normalizes IEEE negative zero: DuckDB's
    // round yields -0.0 for a tiny negative input (seen in unit_x0 at
    // sf0.1), while Spark's BigDecimal-based round never does — the
    // values compare ==, but the bit-exact gate must see +0.0 on both
    "vs_vector_ops" ->
      s"""SELECT vec_id, len(embedding) AS dims,
         |  round(1e-9 + ${dNorm("embedding")}, 4) + 0.0 AS norm,
         |  round(1e-9 + embedding[1]::DOUBLE / ${dNorm("embedding")}, 4) + 0.0 AS unit_x0,
         |  round(1e-9 + list_min(embedding)::DOUBLE, 4) + 0.0 AS min_val,
         |  round(1e-9 + list_max(embedding)::DOUBLE, 4) + 0.0 AS max_val
         |FROM embeddings ORDER BY vec_id""".stripMargin)
}
