package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFunctions.tokens

/** The end-to-end training-data pipeline, composed from the suite's
  * operators: raw corpus → near-dup removal (MinHash LSH, keeper =
  * smaller doc id) → quality filter → chunking → embedding. Output is
  * the per-stage funnel (stage, n) — the artifact a pipeline owner
  * actually monitors.
  *
  * Every stage is a predicate on one document, so the funnel is one
  * row per document — (doc_id, dup flag, quality, n_chunks, n_vec) —
  * and ONE global aggregate of conditional counts and sums over it.
  * The documents table is scanned once; the dup flag and n_vec come
  * from the session's MinHash pairs and chunk weights, each reduced to
  * one row per document before joining. Counting each stage as its own
  * branch over the previous stage's survivors would re-plan and re-run
  * the shared joins once per stage; here each subtree runs once.
  */
object Pipeline {
  val QualityMin = 0.5

  def e2e(s: SparkSession, dir: String): DataFrame = {
    // the larger id of each verified MinHash pair is the duplicate, the
    // smaller the keeper
    val dups = Dedup.minhashLsh(s, dir).select(col("doc_b").as("doc_id")).distinct()
      .withColumn("dup", lit(true))
    val nVec = DocPipeline.chunkWeights(s, dir)
      .groupBy("doc_id").agg(countDistinct("chunk_id").as("n_vec"))
    val perDoc = TextAnalysis.qualityKeyed(Tables.documents(s, dir), Seq("doc_id", "text"))
      .select(col("doc_id"), col("quality"),
        DocPipeline.nChunks(size(tokens(col("text")))).as("n_chunks"))
      .join(dups, Seq("doc_id"), "left")
      .join(nVec, Seq("doc_id"), "left")

    val kept = col("dup").isNull
    val survives = kept && col("quality") >= QualityMin
    def total(c: Column) = coalesce(sum(when(survives, c)), lit(0L))
    val stages = Seq(
      "1_docs_in" -> count(lit(1)),
      "2_near_dup_removed" -> count(when(!kept, 1)),
      "3_after_dedup" -> count(when(kept, 1)),
      "4_low_quality_removed" -> count(when(kept && col("quality") < QualityMin, 1)),
      "5_after_quality" -> count(when(survives, 1)),
      "6_chunks" -> total(col("n_chunks")),
      "7_chunk_vectors" -> total(col("n_vec")))
    perDoc
      .agg(array(stages.map { case (name, n) =>
        struct(lit(name).as("stage"), n.as("n")) }: _*).as("funnel"))
      .select(explode(col("funnel")).as("f"))
      .select(col("f.stage"), col("f.n"))
      .orderBy("stage")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pipeline_e2e" -> (e2e _))

  // Self-contained oracle: the same funnel as one CTE chain (pp_
  // prefixes avoid collisions with fragments reused elsewhere).
  private val J = Dedup.JaccardThreshold
  private val ES = DocPipeline.EmbedSeed
  private val D = DocPipeline.Dim
  private val MT = DocPipeline.MaxTokens
  private val ST = DocPipeline.Stride

  val oracleSql: Map[String, String] = Map(
    "pipeline_e2e" ->
      s"""WITH pp_t AS (
         |  SELECT doc_id, text,
         |    list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
         |                tok -> length(tok) > 0) AS toks
         |  FROM documents),
         |pp_sh AS (
         |  SELECT DISTINCT doc_id,
         |    unnest([array_to_string(toks[i:i+2], ' ')
         |            for i in generate_series(1, len(toks) - 2)]) AS shingle
         |  FROM pp_t WHERE len(toks) >= 3),
         |pp_sizes AS (SELECT doc_id, count(*) AS sz FROM pp_sh GROUP BY 1),
         |pp_mh AS (
         |  SELECT doc_id, g * 4 + w AS seed,
         |    min(CAST(('0x' || substr(md5(g::VARCHAR || ':' || shingle), w * 8 + 1, 8)) AS UBIGINT)) AS mh
         |  FROM pp_sh, unnest(generate_series(0, 7)) AS gs(g),
         |       unnest(generate_series(0, 3)) AS ws(w)
         |  GROUP BY 1, 2),
         |pp_bands AS (
         |  SELECT doc_id, CAST(seed // 4 AS INTEGER) AS band,
         |    md5(string_agg(mh::VARCHAR, ',' ORDER BY seed)) AS bkey
         |  FROM pp_mh GROUP BY 1, 2),
         |pp_cand AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM pp_bands a JOIN pp_bands b
         |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |pp_inter AS (
         |  SELECT c.doc_a, c.doc_b, count(*) AS i
         |  FROM pp_cand c
         |    JOIN pp_sh a ON a.doc_id = c.doc_a
         |    JOIN pp_sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
         |  GROUP BY 1, 2),
         |pp_jac AS (
         |  SELECT i.doc_a, i.doc_b,
         |    round(1e-9 + i.i::DOUBLE / (sa.sz + sb.sz - i.i), 4) AS jaccard
         |  FROM pp_inter i
         |    JOIN pp_sizes sa ON i.doc_a = sa.doc_id
         |    JOIN pp_sizes sb ON i.doc_b = sb.doc_id),
         |pp_dups AS (
         |  SELECT DISTINCT doc_b AS doc_id FROM pp_jac WHERE jaccard >= $J),
         |pp_s1 AS (
         |  SELECT doc_id FROM documents
         |  WHERE doc_id NOT IN (SELECT doc_id FROM pp_dups)),
         |pp_quality AS (
         |  SELECT doc_id,
         |    round(1e-9 + 1.0
         |      - greatest(0.0, 0.3 - round(1e-9 + len(list_filter(toks,
         |          tok -> tok IN ('the','a','of','and','to','in','is','it')))::DOUBLE / len(toks), 4))
         |      - round(1e-9 + length(regexp_replace(text, '[a-z0-9\\s]+', '', 'g'))::DOUBLE / length(text), 4)
         |      - round(1e-9 + length(regexp_replace(text, '[^0-9]+', '', 'g'))::DOUBLE / length(text), 4)
         |      - round(1e-9 + 1.0 - len(list_distinct(toks))::DOUBLE / len(toks), 4) * 0.4, 4) AS quality
         |  FROM pp_t),
         |pp_s2 AS (
         |  SELECT s1.doc_id FROM pp_s1 s1
         |  JOIN pp_quality q ON s1.doc_id = q.doc_id WHERE q.quality >= $QualityMin),
         |pp_sized AS (
         |  SELECT t.doc_id, toks, len(toks) AS n,
         |    CASE WHEN len(toks) <= $MT THEN 1
         |         ELSE (len(toks) - $MT + $ST - 1) // $ST + 1 END AS n_chunks
         |  FROM pp_t t JOIN pp_s2 USING (doc_id)),
         |pp_chunks AS (
         |  SELECT doc_id, i + 1 AS chunk_id,
         |    array_to_string(toks[i*$ST+1 : i*$ST+$MT], ' ') AS chunk_text
         |  FROM pp_sized, unnest(generate_series(0, n_chunks - 1)) AS u(i)),
         |pp_tok AS (
         |  SELECT doc_id, chunk_id, unnest(string_split(chunk_text, ' ')) AS token
         |  FROM pp_chunks WHERE length(chunk_text) > 0),
         |pp_wt AS (
         |  SELECT doc_id, chunk_id,
         |    CAST(CAST(('0x' || substr(md5('$ES' || ':' || token), 1, 8)) AS UBIGINT) % $D AS BIGINT) AS bucket,
         |    sum(CAST(CAST(('0x' || substr(md5('$ES' || ':' || token), 9, 8)) AS UBIGINT) % 2 AS BIGINT) * 2 - 1) AS w
         |  FROM pp_tok GROUP BY 1, 2, 3),
         |pp_vec AS (
         |  SELECT DISTINCT doc_id, chunk_id FROM pp_wt WHERE w <> 0)
         |SELECT stage, n FROM (
         |  SELECT '1_docs_in' AS stage, count(*) AS n FROM documents
         |  UNION ALL SELECT '2_near_dup_removed', count(*) FROM pp_dups
         |  UNION ALL SELECT '3_after_dedup', count(*) FROM pp_s1
         |  UNION ALL SELECT '4_low_quality_removed', count(*)
         |    FROM pp_s1 s1 JOIN pp_quality q ON s1.doc_id = q.doc_id
         |    WHERE q.quality < $QualityMin
         |  UNION ALL SELECT '5_after_quality', count(*) FROM pp_s2
         |  UNION ALL SELECT '6_chunks', count(*) FROM pp_chunks
         |  UNION ALL SELECT '7_chunk_vectors', count(*) FROM pp_vec)
         |ORDER BY stage""".stripMargin)
}
