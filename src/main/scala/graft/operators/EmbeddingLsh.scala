package graft.operators

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.SafeRound.round

import graft.Tables
import graft.functions.FloatVecDistance

/** Random-hyperplane (SimHash-for-vectors) LSH over embeddings — the
  * blocked scale path for embedding near-dup detection. `Dedup
  * .embedding` is the exact-threshold baseline; this variant bounds
  * the pair space by banding a 24-bit hyperplane sketch so the
  * self-join is an equi-join on (band, key): at N vectors the
  * candidate set is ~N·collisions, not N².
  *
  * Hyperplanes are deterministic Rademacher (±1) vectors derived from
  * md5 — no RNG state, so every run (and every executor) agrees.
  * Sketching is a typed mapPartitions over primitive arrays (this is
  * genuinely per-element imperative work; a 24×dim matrix multiply per
  * row has no better Catalyst shape).
  */
object EmbeddingLsh {
  val NumBits = 24
  val BandBits = 4
  val NumBands: Int = NumBits / BandBits
  val Radius: Double = Dedup.CosRadius

  /** Deterministic ±1 from md5("bit:i"). */
  private[operators] def rademacher(bit: Int, i: Int): Double = {
    val d = MessageDigest.getInstance("MD5")
      .digest(s"$bit:$i".getBytes(StandardCharsets.UTF_8))
    if ((d(0) & 1) == 0) 1.0 else -1.0
  }

  private[operators] def planes(dim: Int): Array[Array[Double]] =
    Array.tabulate(NumBits, dim)((b, i) => rademacher(b, i))

  private[operators] def sketch(v: Array[Float], pl: Array[Array[Double]]): Int = {
    var sk = 0
    var b = 0
    while (b < NumBits) {
      var acc = 0.0; var i = 0
      val p = pl(b)
      while (i < v.length && i < p.length) { acc += v(i) * p(i); i += 1 }
      if (acc > 0) sk |= (1 << b)
      b += 1
    }
    sk
  }

  /** Near-dup pairs via banded sketch candidates + exact verification.
    * Same output shape as dedup_embedding; recall asserted in spec. */
  def pairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
    val dim = emb.select(size(col("embedding"))).first().getInt(0)
    val pl = planes(dim)
    // sketching is the compute-dense stage (NumBits dot products per
    // vector): spread it past the file's byte-split parallelism
    val sketches = Tables.spread(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
      .mapPartitions(_.map { case (id, v) => (id, sketch(v, pl)) })
      .toDF("vec_id", "sk")
    val bands = sketches.select(col("vec_id"), col("sk"),
      explode(sequence(lit(0), lit(NumBands - 1))).as("band"))
      .withColumn("bkey", expr(s"shiftrightunsigned(sk, band * $BandBits)") % (1 << BandBits))
    val cands = bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .distinct()
    // verify candidates with the exact kernel
    cands
      .join(emb.select(col("vec_id").as("vec_a"), col("embedding").as("ea")), "vec_a")
      .join(emb.select(col("vec_id").as("vec_b"), col("embedding").as("eb")), "vec_b")
      // raw-kernel prefilter then the exact rounded contract filter
      // (strict superset — SafeRound.PreRoundSlack; identical rows)
      .filter(graft.functions.SafeRound.radiusPrefilter(
        FloatVecDistance.cosine(col("ea"), col("eb")), Radius))
      .select(col("vec_a"), col("vec_b"),
        round(FloatVecDistance.cosine(col("ea"), col("eb")), 4).as("dist"))
      .filter(col("dist") <= Radius)
      .orderBy("vec_a", "vec_b")
  }

  /** ANN top-k via the hyperplane sketch: candidates are vectors
    * sharing at least one 4-bit band with the query's sketch, then
    * exact cosine re-ranking. Unlike k-means IVF this pruning is a
    * pure hash function, so the DuckDB oracle reproduces the EXACT
    * candidate set and the result is hash-checked, not rows-only.
    *
    * Scale shape: the query's sketch is computed driver-side (24
    * dot products), the probe is a narrow scan + 6-term band filter +
    * exact kernel + TakeOrderedAndProject — no join, no shuffle; on a
    * band-bucketed layout the filter prunes partitions like IVF. */
  def annSearch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // the query's length is the corpus dimension: no separate job sizes the planes
    val query = VectorSearch.queryVector(s, dir)
    val pl = planes(query.length)
    val qsk = sketch(query, pl)
    val sketches = VectorSearch.withoutQuery(Tables.spread(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))).as[(Long, Array[Float])]
      .mapPartitions(_.map { case (id, v) => (id, v, sketch(v, pl)) })
      .toDF("vec_id", "embedding", "sk")
    val sharesBand = (0 until NumBands)
      .map(b => (shiftrightunsigned(col("sk"), b * BandBits) % (1 << BandBits)) ===
        ((qsk >>> (b * BandBits)) % (1 << BandBits)))
      .reduce(_ || _)
    val qlit = array(query.map(f => lit(f)).toIndexedSeq: _*).cast("array<float>")
    sketches.filter(sharesBand)
      .select(col("vec_id"),
        round(FloatVecDistance.cosine(col("embedding"), qlit), 4).as("dist"))
      .orderBy(col("dist"), col("vec_id"))
      .limit(10)
  }

  /** Batch ANN serving: a TABLE of query vectors (every 50th vector)
    * against the band-sharded sketch layout — the bulk-serving
    * topology: both sides explode to (band, bkey) keys, candidates
    * come from the band equi-join (shuffle on uniformly-hashed band
    * keys, never query×corpus), exact re-rank, bounded top-k agg per
    * query. Pair volume ≈ queries × band-collision rate × corpus. */
  def annServe(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
    val dim = emb.select(size(col("embedding"))).first().getInt(0)
    val pl = planes(dim)
    val sketches = Tables.spread(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
      .mapPartitions(_.map { case (id, v) => (id, v, sketch(v, pl)) })
      .toDF("vec_id", "embedding", "sk")
    def banded(df: DataFrame, idc: String, skc: String) =
      df.select(col("*"), explode(sequence(lit(0), lit(NumBands - 1))).as("band"))
        .withColumn("bkey", expr(s"shiftrightunsigned($skc, band * $BandBits)") % (1 << BandBits))
    val qside = banded(
      VectorSearch.batchRows(sketches)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"), col("sk").as("qsk")),
      "qid", "qsk")
    val iside = banded(sketches, "vec_id", "sk")
    val cands = qside.join(iside, Seq("band", "bkey"))
      .filter(col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id"), col("qv"), col("embedding"))
      .distinct()
    cands
      .select(col("qid"), col("vec_id"),
        round(FloatVecDistance.cosine(col("embedding"), col("qv")), 4).as("dist"))
      .transform(graft.functions.TopKAgg.perKey(col("qid"), col("dist"), col("vec_id"), 5))
      .withColumnRenamed("id", "vec_id")
      .orderBy("qid", "rnk")
  }

  /** ANN recall report — the evaluation every production ANN deploy
    * runs before flipping traffic: recall@5 of the banded-LSH serving
    * path against the exact brute-force top-5, on the same every-50th
    * query sample, summarized (mean / worst / perfect-query count).
    * Both sides are deterministic (rounded distances, (dist, id)
    * tie-break), so unlike most ANN metrics this one is exactly
    * reproducible — and hash-checked against an oracle that composes
    * the two SQL chains.
    *
    * Scale: the exact side is the one-off ground-truth pass (same
    * broadcast + bounded top-k shape as vs_knn_batch, run on the
    * query SAMPLE only); the comparison is an answer-sized equi-join. */
  def recallReport(s: SparkSession, dir: String): DataFrame = {
    val ann = annServe(s, dir).select(col("qid"), col("vec_id"))
    val exact = VectorSearch.exactTruth(
      Tables.spread(s, dir, "embeddings").select(col("vec_id"), col("embedding")),
      VectorSearch.batchQueries(s, dir), 5)
    val hits = exact.join(ann, Seq("qid", "vec_id"), "left_semi")
      .groupBy("qid").agg(count(lit(1)).as("n_hit"))
    exact.groupBy(col("qid")).agg(count(lit(1)).as("n_exact"))
      .join(hits, Seq("qid"), "left_outer")
      .select(col("qid"), coalesce(col("n_hit"), lit(0L)).as("n_hit"), col("n_exact"))
      .agg(count(lit(1)).as("n_queries"),
        round(avg(col("n_hit").cast("double") / col("n_exact")), 4).as("avg_recall"),
        round(min(col("n_hit").cast("double") / col("n_exact")), 4).as("min_recall"),
        sum(when(col("n_hit") === col("n_exact"), 1L).otherwise(0L)).as("n_perfect"))
  }

  /** DuckDB fragment: the 24-bit sketch of `vec` — identical plane
    * derivation (md5 first-byte parity) and identical left-to-right
    * double accumulation as the Scala `sketch`. */
  private[operators] def skSql(vec: String): String =
    s"""list_sum([CASE WHEN list_sum([$vec[i+1]::DOUBLE *
       |      (CASE WHEN CAST(('0x' || substr(md5(b || ':' || i), 1, 2)) AS UBIGINT) % 2 = 0
       |       THEN 1.0 ELSE -1.0 END)
       |    for i in generate_series(0, len($vec) - 1)]) > 0
       |  THEN CAST(2 ** b AS BIGINT) ELSE 0 END
       |  for b in generate_series(0, ${NumBits - 1})])::BIGINT""".stripMargin

  private def dCosine(a: String, b: String): String = {
    def dot(x: String, y: String) =
      s"list_sum([$x[i]::DOUBLE * $y[i]::DOUBLE for i in generate_series(1, len($x))])"
    def norm(x: String) = s"sqrt(${dot(x, x)})"
    s"1 - ${dot(a, b)} / (${norm(a)} * ${norm(b)})"
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_embedding_lsh" -> (pairs _),
    "vs_knn_lsh" -> (annSearch _),
    "vs_knn_lsh_batch" -> (annServe _),
    "vs_recall_report" -> (recallReport _))
  val oracleSql: Map[String, String] = Map(
    // the sketch is a pure md5 function, so the banded candidate set —
    // and therefore the whole verified pair list — is reproducible in
    // SQL; promoted from rows-only (the spec keeps the recall check).
    "dedup_embedding_lsh" ->
      s"""WITH sk AS (
         |  SELECT vec_id, embedding, ${skSql("embedding")} AS sk
         |  FROM embeddings),
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |    a.embedding AS ea, b.embedding AS eb
         |  FROM sk a, sk b, generate_series(0, ${NumBands - 1}) t(band)
         |  WHERE a.vec_id < b.vec_id
         |    AND (a.sk // CAST(2 ** (band * $BandBits) AS BIGINT)) % ${1 << BandBits}
         |      = (b.sk // CAST(2 ** (band * $BandBits) AS BIGINT)) % ${1 << BandBits}),
         |d AS (
         |  SELECT vec_a, vec_b,
         |    round(1e-9 + ${dCosine("ea", "eb")}, 4) AS dist
         |  FROM cand)
         |SELECT vec_a, vec_b, dist FROM d
         |WHERE dist <= $Radius ORDER BY vec_a, vec_b""".stripMargin,
    "vs_knn_lsh_batch" ->
      s"""WITH sk AS (
         |  SELECT vec_id, embedding, ${skSql("embedding")} AS sk
         |  FROM embeddings),
         |cand AS (
         |  SELECT DISTINCT q.vec_id AS qid, s.vec_id, q.embedding AS qv, s.embedding
         |  FROM sk q, sk s, generate_series(0, ${NumBands - 1}) t(band)
         |  WHERE q.vec_id % 50 = 0 AND q.vec_id <> s.vec_id
         |    AND (q.sk // CAST(2 ** (band * $BandBits) AS BIGINT)) % ${1 << BandBits}
         |      = (s.sk // CAST(2 ** (band * $BandBits) AS BIGINT)) % ${1 << BandBits}),
         |d AS (
         |  SELECT qid, vec_id,
         |    round(1e-9 + ${dCosine("embedding", "qv")}, 4) AS dist
         |  FROM cand)
         |SELECT qid, vec_id, dist,
         |  row_number() OVER (PARTITION BY qid ORDER BY dist, vec_id) AS rnk
         |FROM d QUALIFY rnk <= 5 ORDER BY qid, rnk""".stripMargin,
    "vs_recall_report" ->
      s"""WITH sk AS (
         |  SELECT vec_id, embedding, ${skSql("embedding")} AS sk
         |  FROM embeddings),
         |cand AS (
         |  SELECT DISTINCT q.vec_id AS qid, s.vec_id, q.embedding AS qv, s.embedding
         |  FROM sk q, sk s, generate_series(0, ${NumBands - 1}) t(band)
         |  WHERE q.vec_id % 50 = 0 AND q.vec_id <> s.vec_id
         |    AND (q.sk // CAST(2 ** (band * $BandBits) AS BIGINT)) % ${1 << BandBits}
         |      = (s.sk // CAST(2 ** (band * $BandBits) AS BIGINT)) % ${1 << BandBits}),
         |ad AS (
         |  SELECT qid, vec_id,
         |    row_number() OVER (PARTITION BY qid ORDER BY
         |      round(1e-9 + ${dCosine("embedding", "qv")}, 4), vec_id) AS rnk
         |  FROM cand),
         |ann AS (SELECT qid, vec_id FROM ad WHERE rnk <= 5),
         |ed AS (
         |  SELECT q.vec_id AS qid, s.vec_id,
         |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
         |      round(1e-9 + ${dCosine("s.embedding", "q.embedding")}, 4), s.vec_id) AS rnk
         |  FROM embeddings q, embeddings s
         |  WHERE q.vec_id % 50 = 0 AND s.vec_id <> q.vec_id),
         |exact AS (SELECT qid, vec_id FROM ed WHERE rnk <= 5),
         |per AS (
         |  SELECT e.qid, count(*) AS n_exact,
         |    sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS n_hit
         |  FROM exact e LEFT JOIN ann a ON e.qid = a.qid AND e.vec_id = a.vec_id
         |  GROUP BY 1)
         |SELECT count(*) AS n_queries,
         |  round(1e-9 + avg(n_hit::DOUBLE / n_exact), 4) AS avg_recall,
         |  round(1e-9 + min(n_hit::DOUBLE / n_exact), 4) AS min_recall,
         |  sum(CASE WHEN n_hit = n_exact THEN 1 ELSE 0 END)::BIGINT AS n_perfect
         |FROM per""".stripMargin,
    "vs_knn_lsh" ->
      s"""WITH sk AS (
         |  SELECT vec_id, embedding, ${skSql("embedding")} AS sk
         |  FROM embeddings),
         |qs AS (SELECT sk AS qsk, embedding AS qv FROM sk WHERE vec_id = 0),
         |cand AS (
         |  SELECT DISTINCT s.vec_id, s.embedding, q.qv
         |  FROM sk s, qs q, generate_series(0, ${NumBands - 1}) t(band)
         |  WHERE s.vec_id <> 0
         |    AND (s.sk // CAST(2 ** (band * $BandBits) AS BIGINT)) % ${1 << BandBits}
         |      = (q.qsk // CAST(2 ** (band * $BandBits) AS BIGINT)) % ${1 << BandBits})
         |SELECT vec_id, round(1e-9 + ${dCosine("embedding", "qv")}, 4) AS dist
         |FROM cand ORDER BY dist, vec_id LIMIT 10""".stripMargin)
}
