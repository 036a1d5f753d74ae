package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.tokens
import graft.functions.UrlCanon.urlCanonicalize

/** The crawl funnel end-to-end as ONE gated operator (`pipeline_crawl`,
  * VERDICT r16 item 2): `.warc(.gz)` containers → record framing →
  * charset decode → html→text → URL canonicalization + keep-best URL
  * dedup → quality filter → chunk sizing, reported as the per-stage
  * funnel a pipeline owner monitors. This is the reference's own DAG
  * (/root/reference/scripts/01_pdf_to_vector.sql:8 — PDF → text →
  * chunks → vectors, one CTAS chain) transplanted to a crawl corpus:
  * [[Pipeline.e2e]] composes the funnel from the TEXT corpus down;
  * this one starts from the CONTAINERS, the query a 100 TB
  * training-data user actually runs.
  *
  * Stage semantics (each stage one of the suite's verified operators,
  * applied to the previous stage's survivors):
  *
  *  1. `1_pages_in` — response records parsed out of the container
  *     corpus ([[graft.sources.WarcText.warcToText]]: per-file narrow
  *     flatMap, one record in memory at a time);
  *  2. `2_url_dups_removed` / `3_after_url_dedup` — pages collapse on
  *     the canonical URL ([[graft.functions.UrlCanon]], the codegen'd
  *     `dedup_url` chain), keeping the HIGHEST-QUALITY copy per key
  *     (ties on the rounded score break to the lexicographically
  *     smallest page text, a pure function of the group — no id
  *     exists at this layer to break ties with);
  *  3. `4_low_quality_removed` / `5_after_quality` — keepers below
  *     [[Pipeline.QualityMin]] drop (the `text_quality` scorer via
  *     [[TextAnalysis.qualityKeyed]], scored during the SAME pass
  *     that carries the url/text — no join-back);
  *  4. `6_chunks` — surviving keepers sized by the `doc_chunk`
  *     arithmetic ([[DocPipeline.MaxTokens]]/[[DocPipeline.Stride]]).
  *
  * Scale shape: the container parse is embarrassingly parallel across
  * files; scoring and canonicalization ride the same narrow
  * projection; then the funnel's ONLY data shuffle is one
  * hash-partition on the canonical url (count + keeper election +
  * keep-best all on that key), and the six stage aggregates are
  * partial-aggregable counts off the cached keeper frame. At 100 TB:
  * one shuffle of (url, qk, text) tuples — the minimum a URL-keyed
  * keep-best can do — and no re-shuffle of raw text afterwards.
  *
  * The gate corpus packs each document into the WARC corpus under a
  * MESSY crawl URL ([[messyUrl]] — the `dedup_url` generator's three
  * variant classes, so consecutive doc_id triples collapse to one
  * canonical key). The DuckDB oracle splices the already-verified CTE
  * chains end to end: the WARC text prediction
  * ([[graft.sources.Interchange.warcTextCte]]), the url raw+canon
  * chain ([[UrlDedup.urlRawCte]]/[[UrlDedup.urlCanonCte]]), the
  * quality chain ([[TextAnalysis.qualityCtesFrom]] over the PREDICTED
  * pages), and the chunk-count arithmetic — any slip in any stage, or
  * in how the stages compose, diverges the hash.
  */
object CrawlPipeline {

  /** Messy crawl URL per doc — the Scala twin of [[UrlDedup.urlTable]]
    * / [[UrlDedup.urlRawCte]]: three variant classes (uppercase host +
    * fragment; default port + interleaved tracking params;
    * percent-encoded unreserved escapes), canonical key shared by each
    * run of three consecutive doc_ids. Agreement with the column-expr
    * generator is spec-pinned (UrlCanonSpec). */
  private[graft] def messyUrl(id: Long): String = {
    val g = id / 3
    val h = g % 20
    (id % 3) match {
      case 0 => s"https://EXAMPLE-$h.COM/~user/path-$g?id=$g&x=1#top"
      case 1 => s"https://example-$h.com:443/~user/path-$g" +
        s"?utm_source=rss&id=$g&x=1&gclid=g$g&utm_medium=m"
      case _ => s"https://example-$h.com/%7Euser/pa%74h-$g?id=$g&x=1"
    }
  }

  /** Keeper frame: one row per canonical url — (url, text of the
    * best-quality copy, its rounded quality key, copies seen). The
    * whole funnel's six aggregates hang off this one frame, so it is
    * cached; everything upstream of the url shuffle is a narrow map
    * over the container files. */
  private[graft] def keepers(s: SparkSession, dir: String): DataFrame =
    graft.functions.DfCache.getOrElseUpdate(s, s"crawlKeep:$dir") {
      val files = graft.sources.WarcGen.warcTable(s, dir, uriFor = messyUrl)
      val pages = graft.sources.WarcText.warcToText(s, files)
      // canonical key + quality score fused into the same projection
      // that carries the page (qualityKeyed: no join-back; null-safe
      // key so a null quality still elects deterministically)
      val scored = TextAnalysis
        .qualityKeyed(pages.select(
          urlCanonicalize(col("url")).as("url"), col("text")),
          keep = Seq("url", "text"))
        .select(col("url"), col("text"),
          coalesce(col("quality"), lit(-1e9)).as("qk"))
      // ONE hash-partition on the canonical url serves the copy
      // count AND the keeper election, as two windows over the same
      // partitioning — a single pass over `scored`. (The r17 review
      // caught the previous aggregate-then-self-join shape evaluating
      // the container-parse → extract → score lineage TWICE — the
      // funnel's dominant cost at 100 TB — because the join keys
      // (url, qk) could not reuse the aggregate's exchange.)
      import org.apache.spark.sql.expressions.Window
      val byUrl = Window.partitionBy(col("url"))
      val elect = byUrl.orderBy(col("qk").desc, col("text").asc)
      scored
        .withColumn("n_copies", count(lit(1)).over(byUrl))
        .withColumn("rn", row_number().over(elect))
        .filter(col("rn") === 1)
        .select(col("url"), col("text"), col("qk"), col("n_copies"))
    }

  def crawl(s: SparkSession, dir: String): DataFrame = {
    val keep = keepers(s, dir)
    val surv = keep.filter(col("qk") >= Pipeline.QualityMin)
    def stage(name: String, n: Column, src: DataFrame): DataFrame =
      src.agg(coalesce(n, lit(0L)).cast("long").as("n"))
        .select(lit(name).as("stage"), col("n"))
    Seq(
      stage("1_pages_in", sum(col("n_copies")), keep),
      stage("2_url_dups_removed", sum(col("n_copies")) - count(lit(1)), keep),
      stage("3_after_url_dedup", count(lit(1)), keep),
      stage("4_low_quality_removed", count(lit(1)),
        keep.filter(col("qk") < Pipeline.QualityMin)),
      stage("5_after_quality", count(lit(1)), surv),
      stage("6_chunks", sum(DocPipeline.nChunks(size(tokens(col("text"))))), surv))
      .reduce(_ unionAll _)
      .orderBy("stage")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pipeline_crawl" -> (crawl _))

  private val QM = Pipeline.QualityMin
  private val MT = DocPipeline.MaxTokens
  private val ST = DocPipeline.Stride

  // The spliced oracle: predicted pages (wt) × url chain (uraw→ucanon)
  // × quality over the PREDICTED text (qt/qr/qdoc read FROM wt, not
  // documents — the funnel scores what the crawl extracted) × the
  // keep-best election × chunk sizing, stage counts at the end.
  val oracleSql: Map[String, String] = Map(
    "pipeline_crawl" ->
      s"""WITH ${graft.sources.Interchange.warcTextCte},
         |${UrlDedup.urlRawCte},
         |${UrlDedup.urlCanonCte},
         |${TextAnalysis.qualityCtesFrom("wt")},
         |cw_scored AS (
         |  SELECT c.url, w.text, coalesce(q.quality, -1e9) AS qk
         |  FROM ucanon c JOIN wt w USING (doc_id)
         |    JOIN qdoc q USING (doc_id)),
         |cw_grp AS (
         |  SELECT url, count(*) AS n_copies, max(qk) AS mq
         |  FROM cw_scored GROUP BY 1),
         |cw_keep AS (
         |  SELECT s.url, min(s.text) AS text, max(g.mq) AS qk,
         |    max(g.n_copies) AS n_copies
         |  FROM cw_scored s JOIN cw_grp g ON s.url = g.url AND s.qk = g.mq
         |  GROUP BY 1),
         |cw_surv AS (SELECT * FROM cw_keep WHERE qk >= $QM),
         |cw_chunks AS (
         |  SELECT CASE WHEN len(toks) <= $MT THEN 1
         |    ELSE (len(toks) - $MT + $ST - 1) // $ST + 1 END AS nch
         |  FROM (
         |    SELECT list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
         |      tok -> length(tok) > 0) AS toks
         |    FROM cw_surv))
         |SELECT stage, n FROM (
         |  SELECT '1_pages_in' AS stage,
         |    coalesce(sum(n_copies), 0)::BIGINT AS n FROM cw_keep
         |  UNION ALL SELECT '2_url_dups_removed',
         |    (coalesce(sum(n_copies), 0) - count(*))::BIGINT FROM cw_keep
         |  UNION ALL SELECT '3_after_url_dedup', count(*)::BIGINT FROM cw_keep
         |  UNION ALL SELECT '4_low_quality_removed', count(*)::BIGINT
         |    FROM cw_keep WHERE qk < $QM
         |  UNION ALL SELECT '5_after_quality', count(*)::BIGINT FROM cw_surv
         |  UNION ALL SELECT '6_chunks', coalesce(sum(nch), 0)::BIGINT
         |    FROM cw_chunks)
         |ORDER BY stage""".stripMargin)
}
