package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.SafeRound.round

import graft.Tables
import graft.functions.PortableHash
import graft.functions.TextFunctions._

/** Hybrid (keyword + vector) retrieval — the modern vector-database
  * headline capability (Oracle 26ai ships it as hybrid vector search
  * next to the pure-vector path the reference uses).
  *
  * Two independent scores per document for a fixed query:
  *  - keyword: TF-IDF over the corpus (tf(t,d) · ln(N/df(t)) summed
  *    over query terms) — all partial-aggregable groupBys.
  *  - vector: cosine between the doc's hashing-trick embedding and the
  *    query's, computed sparsely via the bucket equi-join.
  * Fusion is min-max *score* fusion rather than reciprocal-rank
  * fusion: RRF needs global ranks (a global sort); min-max needs only
  * global min/max (one tiny broadcast agg), so the whole query stays
  * shuffle-light and the final top-k is a TakeOrderedAndProject.
  */
object HybridSearch {
  val QueryTerms: Seq[String] = Seq("fast", "join", "stream")
  /** Embedding model: the registry's 64-dim hashing model — the doc
    * side and the query side must hash identically. */
  val Model: ModelRegistry.EmbedModel =
    ModelRegistry.catalog.find(_.name == "MINI_HASH_64").get
  val EmbedSeed: Int = Model.seed
  val Dim: Int = Model.dim
  val TopK = 10

  private def phashWord(token: String, seed: Int, word: Int): Long =
    PortableHash.phashWordLocal(token, seed, word)

  /** Query-side sparse embedding: (bucket, wq), computed driver-side
    * (a handful of terms) with the identical hash convention. */
  private def queryWeights: Seq[(Long, Long)] =
    QueryTerms
      .map(t => (phashWord(t, EmbedSeed, 0) % Dim, phashWord(t, EmbedSeed, 1) % 2 * 2 - 1))
      .groupBy(_._1).map { case (b, ws) => (b, ws.map(_._2).sum) }
      .filter(_._2 != 0L).toSeq

  /** Per-doc (kw_score, vec_score) pairs — the shared candidate-scoring
    * stage both fusion modes (min-max and RRF) consume. Cached: it
    * feeds two branches inside `search` and a second query. */
  private def scoredDf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir).select(col("doc_id"))
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))

    // ---- keyword: TF-IDF over the query terms --------------------------
    val qtoks = toks.filter(col("token").isInCollection(QueryTerms))
    val tf = qtoks.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val dft = qtoks.select("doc_id", "token").distinct()
      .groupBy("token").agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n"))
    val kw = tf.join(broadcast(dft), "token")
      .crossJoin(broadcast(nDocs))
      .groupBy("doc_id")
      .agg(sum(col("tf") * log(col("n").cast("double") / col("df"))).as("kw_raw"))

    // ---- vector: sparse cosine vs the query embedding ------------------
    val w = ModelRegistry.embed(s, dir, Model)
    val norms = w.groupBy("doc_id").agg(sqrt(sum(col("w") * col("w")).cast("double")).as("nrm"))
    val qw = queryWeights.toDF("bucket", "wq")
    val qnorm = math.sqrt(queryWeights.map(p => (p._2 * p._2).toDouble).sum)
    val vec = w.join(broadcast(qw), "bucket")
      .groupBy("doc_id").agg(sum(col("w") * col("wq")).as("dot"))
      .join(norms, "doc_id")
      .select(col("doc_id"), (col("dot") / (col("nrm") * lit(qnorm))).as("vec_raw"))

    graft.functions.Artifacts.frame(s, "hybridScored", dir) {
      docs
        .join(kw, Seq("doc_id"), "left")
        .join(vec, Seq("doc_id"), "left")
        .select(col("doc_id"),
          round(coalesce(col("kw_raw"), lit(0.0)), 4).as("kw_score"),
          round(coalesce(col("vec_raw"), lit(0.0)), 4).as("vec_score"))
    }
  }

  def search(s: SparkSession, dir: String): DataFrame = {
    // ---- min-max score fusion ------------------------------------------
    val scored = scoredDf(s, dir)
    val bounds = scored.agg(
      min("kw_score").as("kmin"), max("kw_score").as("kmax"),
      min("vec_score").as("vmin"), max("vec_score").as("vmax"))
    scored.crossJoin(broadcast(bounds))
      .select(col("doc_id"), col("kw_score"), col("vec_score"),
        round(
          (col("kw_score") - col("kmin")) / greatest(col("kmax") - col("kmin"), lit(1e-12)) * 0.5 +
            (col("vec_score") - col("vmin")) / greatest(col("vmax") - col("vmin"), lit(1e-12)) * 0.5,
          4).as("fused"))
      .orderBy(col("fused").desc, col("doc_id"))
      .limit(TopK)
  }

  /** RRF candidate-list depth and the standard rank-smoothing constant. */
  val RrfTopN = 50
  val RrfK = 60

  /** Reciprocal-rank fusion: fuse the keyword and vector TOP-LISTS by
    * rank instead of score — RRF(d) = Σ_sys 1/(k + rank_sys(d)), the
    * scale-free fusion that needs no score normalization.
    *
    * Scale shape: a global rank over the corpus would be a global
    * sort, but RRF's contribution decays as 1/rank, so real engines
    * fuse bounded top-N lists per system. Each list here is a
    * TakeOrderedAndProject (top-50 on the rounded score, id
    * tie-break); the rank window then runs over 50 rows, and the
    * full-outer fusion join is trivially small. Docs outside a
    * system's top-N contribute 0 from that system (rank 0 = absent). */
  def rrfFusion(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = scoredDf(s, dir)
    // the rank window runs over the 50-row top list; constant-keyed
    // (non-foldable pmod(doc_id,1)) so the single partition is
    // declared, not a WindowExec warning.
    def topRanks(scoreCol: String, rankName: String): DataFrame =
      scored.orderBy(col(scoreCol).desc, col("doc_id")).limit(RrfTopN)
        .select(col("doc_id"),
          row_number().over(Window.partitionBy(pmod(col("doc_id"), lit(1)))
            .orderBy(col(scoreCol).desc, col("doc_id")))
            .cast("long").as(rankName))
    val ka = topRanks("kw_score", "kw_rank")
    val kv = topRanks("vec_score", "vec_rank")
    ka.join(kv, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        coalesce(col("kw_rank"), lit(0L)).as("kw_rank"),
        coalesce(col("vec_rank"), lit(0L)).as("vec_rank"))
      .withColumn("rrf_score", round(
        when(col("kw_rank") > 0, lit(1.0) / (lit(RrfK) + col("kw_rank"))).otherwise(0.0) +
          when(col("vec_rank") > 0, lit(1.0) / (lit(RrfK) + col("vec_rank"))).otherwise(0.0),
        6))
      .orderBy(col("rrf_score").desc, col("doc_id"))
      .limit(TopK)
  }

  /** BM25 parameters (the universal defaults). */
  val Bm25K1 = 1.2
  val Bm25B = 0.75

  /** BM25 keyword retrieval over the query terms — the
    * length-normalized, saturating upgrade of the TF-IDF branch:
    * score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)),
    * idf(t) = ln(1 + (N−df+0.5)/(df+0.5)).
    *
    * Scale shape: tf and df are partial-agg groupBys over the
    * query-term token subset (the inverted-list slice), doc length is
    * a full-corpus groupBy that any real deployment materializes once,
    * avgdl/N is one broadcast scalar row, and the final top-k is a
    * TakeOrderedAndProject. avgdl is defined as Σdl / N so documents
    * with no tokens count as length 0. */
  def bm25(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"))
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
    val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val nDocs = docs.agg(count(lit(1)).as("n"))
    val stats = dl.agg(sum(col("dl")).as("toktot"))
      .crossJoin(broadcast(nDocs))
      .select(col("n"), (col("toktot").cast("double") / col("n")).as("avgdl"))
    val qtoks = toks.filter(col("token").isInCollection(QueryTerms))
    val tf = qtoks.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val dft = qtoks.select("doc_id", "token").distinct()
      .groupBy("token").agg(count(lit(1)).as("df"))
    tf.join(broadcast(dft), "token")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"),
        (log(lit(1.0) + (col("n") - col("df") + 0.5) / (col("df") + 0.5)) *
          (col("tf") * (Bm25K1 + 1.0)) /
          (col("tf") + lit(Bm25K1) * (lit(1.0 - Bm25B) + lit(Bm25B) * col("dl") / col("avgdl"))))
          .as("contrib"))
      .groupBy("doc_id")
      .agg(round(sum(col("contrib")), 4).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(TopK)
  }

  /** MMR (maximal marginal relevance) diversity re-rank over the dense
    * embeddings table: the distributed side scores the corpus and
    * takes the top-20 candidates (TakeOrderedAndProject, whose output
    * is one partition); the greedy selection then runs over that
    * k-bounded set in one `mapPartitions` task of the same plan — the
    * standard RAG post-processing topology (candidate generation
    * distributes, the O(k²) rerank is one small task), and the frame
    * stays lazy. Deterministic: rounded sims, id tie-breaks, so the
    * candidates' order does not matter. Oracle-checked — the
    * sequential greedy argmax is expressed as a DuckDB recursive CTE
    * whose accumulated selection rides along as a list; CoreSpec
    * additionally asserts top-1 fidelity, size, and diversity vs the
    * plain top-k. */
  def mmrRerank(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val lambda = 0.7
    val nCand = 20
    val k = 5
    val emb = Tables.embeddings(s, dir)
    val query = VectorSearch.queryVector(s, dir)
    val qlit = array(query.map(f => lit(f)).toIndexedSeq: _*).cast("array<float>")
    VectorSearch.withoutQuery(emb)
      .select(col("vec_id"),
        round(lit(1.0) - graft.functions.FloatVecDistance.cosine(col("embedding"), qlit), 4).as("qsim"),
        col("embedding"))
      .orderBy(col("qsim").desc, col("vec_id"))
      .limit(nCand)
      .as[(Long, Double, Array[Float])]
      .mapPartitions(cands => mmrSelect(cands.toSeq, lambda, k).iterator)
      .toDF("rnk", "vec_id", "mmr_score")
  }

  /** The greedy MMR selection over (vec_id, qsim, embedding)
    * candidates: up to `k` (rnk, vec_id, mmr_score) rows, rnk from 1. */
  private def mmrSelect(cands: Seq[(Long, Double, Array[Float])], lambda: Double,
      k: Int): Seq[(Long, Long, Double)] = {
    def sim(a: Array[Float], b: Array[Float]): Double =
      1.0 - graft.functions.VecMath.dist("cosine", a, b)
    val selected = scala.collection.mutable.ArrayBuffer.empty[(Long, Double, Array[Float])]
    val remaining = scala.collection.mutable.ArrayBuffer.empty[(Long, Double, Array[Float])]
    remaining ++= cands
    while (selected.size < k && remaining.nonEmpty) {
      val scored = remaining.map { case (id, qs, v) =>
        val maxSel = if (selected.isEmpty) 0.0
          else selected.map(sel => sim(v, sel._3)).max
        val mmr = graft.functions.SafeRound.roundValue(
          lambda * qs - (1 - lambda) * maxSel, 4)
        (id, qs, v, mmr)
      }
      val best = scored.minBy { case (id, _, _, m) => (-m, id) }
      selected += ((best._1, best._4, best._3))
      remaining --= remaining.filter(_._1 == best._1)
    }
    selected.zipWithIndex.map { case ((id, mmr, _), i) => (i + 1L, id, mmr) }.toSeq
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "vs_mmr_rerank" -> (mmrRerank _),
    "vs_hybrid_search" -> (search _),
    "vs_rrf_fusion" -> (rrfFusion _),
    "text_bm25" -> (bm25 _))

  private val qTermsSql = QueryTerms.map(t => s"('$t')").mkString(", ")

  /** The shared candidate-scoring CTE chain (through `scored`) — the
    * oracle twin of `scoredDf`. */
  private val scoredCtes: String =
    s"""tok AS (
       |  SELECT doc_id, unnest(list_filter(
       |    regexp_split_to_array(lower(trim(text)), '\\s+'),
       |    t -> length(t) > 0)) AS token
       |  FROM documents),
       |qt AS (SELECT doc_id, token FROM tok WHERE token IN (SELECT t FROM (VALUES $qTermsSql) v(t))),
       |tf AS (SELECT doc_id, token, count(*) AS tf FROM qt GROUP BY 1, 2),
       |dft AS (SELECT token, count(DISTINCT doc_id) AS df FROM qt GROUP BY 1),
       |nd AS (SELECT count(*) AS n FROM documents),
       |kw AS (
       |  SELECT doc_id, sum(tf * ln(n::DOUBLE / df)) AS kw_raw
       |  FROM tf JOIN dft USING (token), nd GROUP BY doc_id),
       |wt AS (
       |  SELECT doc_id,
       |    CAST(${PortableHash.duckSqlWord("token", EmbedSeed, 0)} % $Dim AS BIGINT) AS bucket,
       |    sum(CAST(${PortableHash.duckSqlWord("token", EmbedSeed, 1)} % 2 AS BIGINT) * 2 - 1) AS w
       |  FROM tok GROUP BY 1, 2),
       |wnz AS (SELECT * FROM wt WHERE w <> 0),
       |norms AS (SELECT doc_id, sqrt(sum(w * w)::DOUBLE) AS nrm FROM wnz GROUP BY 1),
       |qw AS (
       |  SELECT CAST(${PortableHash.duckSqlWord("t", EmbedSeed, 0)} % $Dim AS BIGINT) AS bucket,
       |    sum(CAST(${PortableHash.duckSqlWord("t", EmbedSeed, 1)} % 2 AS BIGINT) * 2 - 1) AS wq
       |  FROM (VALUES $qTermsSql) v(t) GROUP BY 1),
       |qwnz AS (SELECT * FROM qw WHERE wq <> 0),
       |qn AS (SELECT sqrt(sum(wq * wq)::DOUBLE) AS qnrm FROM qwnz),
       |vec AS (
       |  SELECT w.doc_id, sum(w.w * q.wq)::DOUBLE / (any_value(n.nrm) * any_value(qn.qnrm)) AS vec_raw
       |  FROM wnz w JOIN qwnz q USING (bucket)
       |    JOIN norms n ON w.doc_id = n.doc_id, qn
       |  GROUP BY w.doc_id),
       |scored AS (
       |  SELECT d.doc_id,
       |    round(1e-9 + coalesce(kw.kw_raw, 0.0), 4) AS kw_score,
       |    round(1e-9 + coalesce(vec.vec_raw, 0.0), 4) AS vec_score
       |  FROM documents d
       |    LEFT JOIN kw ON d.doc_id = kw.doc_id
       |    LEFT JOIN vec ON d.doc_id = vec.doc_id)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    // greedy MMR as a recursive CTE: the accumulated selection rides
    // along as a list, each step's LATERAL argmax mirrors the Scala
    // loop exactly — same rounded qsim candidates, same unrounded
    // pairwise sims (1 − dist, the identical op sequence), same
    // (1 − λ) double, same nudged 4-dp HALF_UP round, same
    // (score desc, id) tie-break.
    "vs_mmr_rerank" ->
      s"""WITH RECURSIVE q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |cand AS (
         |  SELECT vec_id,
         |    round(1e-9 + 1 - (${VectorSearch.dCosine("embedding", "qv")}), 4) AS qsim,
         |    embedding
         |  FROM embeddings, q WHERE vec_id <> 0
         |  ORDER BY qsim DESC, vec_id LIMIT 20),
         |ps AS (
         |  SELECT a.vec_id AS ida, b.vec_id AS idb,
         |    1 - (${VectorSearch.dCosine("a.embedding", "b.embedding")}) AS sim
         |  FROM cand a JOIN cand b ON a.vec_id <> b.vec_id),
         |step(i, sel, rnk, vec_id, mmr_score) AS (
         |  SELECT 0, CAST([] AS BIGINT[]), CAST(NULL AS BIGINT),
         |    CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE)
         |  UNION ALL
         |  SELECT i + 1, list_append(sel, pick.vec_id), CAST(i + 1 AS BIGINT),
         |    pick.vec_id, pick.m
         |  FROM step, LATERAL (
         |    SELECT c.vec_id,
         |      round(1e-9 + 0.7 * c.qsim - (1 - 0.7) * coalesce(
         |        (SELECT max(p.sim) FROM ps p
         |         WHERE p.ida = c.vec_id AND list_contains(step.sel, p.idb)), 0.0), 4) AS m
         |    FROM cand c WHERE NOT list_contains(step.sel, c.vec_id)
         |    ORDER BY m DESC, c.vec_id LIMIT 1) pick
         |  WHERE i < 5)
         |SELECT rnk, vec_id, mmr_score FROM step WHERE rnk IS NOT NULL
         |ORDER BY rnk""".stripMargin,
    "vs_hybrid_search" ->
      s"""WITH $scoredCtes,
         |bounds AS (
         |  SELECT min(kw_score) kmin, max(kw_score) kmax,
         |         min(vec_score) vmin, max(vec_score) vmax
         |  FROM scored)
         |SELECT doc_id, kw_score, vec_score,
         |  round(1e-9 +
         |    (kw_score - kmin) / greatest(kmax - kmin, 1e-12) * 0.5 +
         |    (vec_score - vmin) / greatest(vmax - vmin, 1e-12) * 0.5, 4) AS fused
         |FROM scored, bounds
         |ORDER BY fused DESC, doc_id LIMIT $TopK""".stripMargin,
    "vs_rrf_fusion" ->
      s"""WITH $scoredCtes,
         |ka AS (
         |  SELECT doc_id, row_number() OVER (ORDER BY kw_score DESC, doc_id) AS kw_rank
         |  FROM scored ORDER BY kw_score DESC, doc_id LIMIT $RrfTopN),
         |kv AS (
         |  SELECT doc_id, row_number() OVER (ORDER BY vec_score DESC, doc_id) AS vec_rank
         |  FROM scored ORDER BY vec_score DESC, doc_id LIMIT $RrfTopN)
         |SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
         |  coalesce(a.kw_rank, 0) AS kw_rank,
         |  coalesce(b.vec_rank, 0) AS vec_rank,
         |  round(1e-9 +
         |    CASE WHEN a.kw_rank > 0 THEN 1.0 / ($RrfK + a.kw_rank) ELSE 0 END +
         |    CASE WHEN b.vec_rank > 0 THEN 1.0 / ($RrfK + b.vec_rank) ELSE 0 END, 6) AS rrf_score
         |FROM ka a FULL JOIN kv b ON a.doc_id = b.doc_id
         |ORDER BY rrf_score DESC, doc_id LIMIT $TopK""".stripMargin,
    "text_bm25" ->
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(list_filter(
         |    regexp_split_to_array(lower(trim(text)), '\\s+'),
         |    t -> length(t) > 0)) AS token
         |  FROM documents),
         |dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
         |stats AS (
         |  SELECT n, toktot::DOUBLE / n AS avgdl
         |  FROM (SELECT sum(dl) AS toktot FROM dl),
         |       (SELECT count(*) AS n FROM documents)),
         |qt AS (SELECT doc_id, token FROM tok WHERE token IN (SELECT t FROM (VALUES $qTermsSql) v(t))),
         |tf AS (SELECT doc_id, token, count(*) AS tf FROM qt GROUP BY 1, 2),
         |dft AS (SELECT token, count(DISTINCT doc_id) AS df FROM qt GROUP BY 1)
         |SELECT doc_id, round(1e-9 + sum(
         |    ln(1.0 + (n - df + 0.5) / (df + 0.5)) *
         |    (tf * ($Bm25K1 + 1.0)) /
         |    (tf + $Bm25K1 * (1.0 - $Bm25B + $Bm25B * dl.dl / avgdl))), 4) AS bm25
         |FROM tf JOIN dft USING (token) JOIN dl USING (doc_id), stats
         |GROUP BY doc_id
         |ORDER BY bm25 DESC, doc_id LIMIT $TopK""".stripMargin)
}
