package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{GifCodec, GifGen, JpegCodec, JpegGen, MediaProbe,
  PixelGen, PngCodec}

/** The multimodal funnel end-to-end as ONE gated operator
  * (`pipeline_media`, r17): a mixed-format binary corpus → container
  * probing → codec-ROUTED real decoding → pixel fingerprinting →
  * near-dup census, reported as the per-stage funnel — the
  * `pipeline_crawl` shape for media assets, every stage one of the
  * suite's verified codecs. This is what a 100 TB multimodal
  * training-data pipeline actually runs over an image shard: sniff
  * the format, decode what the fleet can decode, fingerprint, and
  * collapse duplicates before any GPU sees a byte.
  *
  * The corpus routes doc_id%4 across all four REAL codecs — PNG
  * (deflate + filters), GIF (LZW), grayscale baseline JPEG (Huffman +
  * IDCT), and YCbCr 4:2:0 color JPEG (MCUs + BT.601, restart markers
  * on odd ids) — so the funnel exercises every decoder in one query;
  * grayscale replicates to RGB for a shared fingerprint space.
  *
  * Scale shape: the probe/decode/fingerprint leg is ONE narrow
  * mapPartitions over the payloads (no pixel ever shuffles); the
  * per-asset frame is cached and every funnel aggregate hangs off it;
  * the census is a partial-agg groupBy bounded at 2^16 rows at any
  * corpus size; exact-dup pairs are census arithmetic. The only
  * corpus-sized shuffle is the fingerprint groupBy's hash exchange.
  *
  * The oracle splices the four codecs' closed-form pixel predictions
  * (each already hash-verified standalone: `mm_decode_pixels`,
  * `mm_decode_gif`, `mm_decode_jpeg`, `mm_decode_jpeg_color`) into
  * the `mm_pixel_fingerprint` hash algebra and the census — a slip in
  * any decoder, the routing, the gray→RGB replication, or the stage
  * composition diverges the hash. */
object MediaPipeline {

  /** One row per asset: (doc_id, probed-known flag, decoded flag,
    * fingerprint or -1). Cached: every funnel aggregate reads it. */
  private[graft] def perAsset(s: SparkSession, dir: String): DataFrame =
    graft.functions.Artifacts.frame(s, "mediaAssets", dir) {
      import s.implicits._
      graft.Tables.documents(s, dir)
        .select(col("doc_id"))
        .as[Long]
        .mapPartitions(_.map { id =>
          val cls = (id % 4).toInt
          val payload = cls match {
            case 0 => PixelGen.png(id)
            case 1 => GifGen.gif(id)
            case 2 => JpegGen.jpeg(id)
            case _ => JpegGen.jpegColor(id)
          }
          val known = if (MediaProbe.probe(id, payload).format != "unknown") 1L else 0L
          val img: Option[PngCodec.Image] = cls match {
            case 0 => PngCodec.decode(payload)
            case 1 => GifCodec.decode(payload)
              .map(g => PngCodec.Image(g.width, g.height, 3, g.pixels))
            case 2 => JpegCodec.decode(payload).map { g =>
              val px = new Array[Byte](g.pixels.length * 3)
              var k = 0
              while (k < g.pixels.length) {
                px(3 * k) = g.pixels(k); px(3 * k + 1) = g.pixels(k)
                px(3 * k + 2) = g.pixels(k)
                k += 1
              }
              PngCodec.Image(g.width, g.height, 3, px)
            }
            case _ => JpegCodec.decodeColor(payload)
              .map(c => PngCodec.Image(c.width, c.height, 3, c.pixels))
          }
          (id, known, if (img.isDefined) 1L else 0L,
            img.map(PngCodec.ahash).getOrElse(-1))
        })
        .toDF("doc_id", "known", "decoded", "ahash")
    }

  def media(s: SparkSession, dir: String): DataFrame = {
    val assets = perAsset(s, dir)
    val census = assets.filter(col("ahash") >= 0)
      .groupBy(col("ahash")).agg(count(lit(1)).as("cnt"))
    def stage(name: String, n: Column, src: DataFrame): DataFrame =
      src.agg(coalesce(n, lit(0L)).cast("long").as("n"))
        .select(lit(name).as("stage"), col("n"))
    Seq(
      stage("1_assets_in", count(lit(1)), assets),
      stage("2_format_known", sum(col("known")), assets),
      stage("3_decoded", sum(col("decoded")), assets),
      stage("4_distinct_fingerprints", count(lit(1)), census),
      stage("5_exact_dup_pairs",
        sum(col("cnt") * (col("cnt") - 1) / 2).cast("long"), census))
      .reduce(_ unionAll _)
      .orderBy("stage")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pipeline_media" -> (media _))

  /** The oracle: each class's closed-form pixels (verified standalone
    * by the four decode gates) → luminance → the fingerprint hash
    * algebra → census → funnel stages. Every asset probes known and
    * decodes, so stages 1-3 are the corpus count — which GATES probe
    * and decode totality across all four codecs (any failure lands a
    * -1 fingerprint and breaks stages 3-5 at once). */
  val oracleSql: Map[String, String] = Map(
    "pipeline_media" ->
      """WITH px AS (
        |  SELECT doc_id,
        |    (ys.y * 4) // (4 + ((doc_id * 3) % 12)) * 4
        |      + (xs.x * 4) // (4 + (doc_id % 12)) AS cell,
        |    ((xs.x * 3 + ys.y * 5 + doc_id) % 256)
        |      + ((xs.x * 7 + ys.y + 2 * doc_id) % 256)
        |      + ((xs.x + ys.y * 11 + 3 * doc_id) % 256) AS lum
        |  FROM documents,
        |    unnest(generate_series(0, 4 + (doc_id % 12) - 1)) AS xs(x),
        |    unnest(generate_series(0, 4 + ((doc_id * 3) % 12) - 1)) AS ys(y)
        |  WHERE doc_id % 4 = 0
        |  UNION ALL
        |  SELECT doc_id,
        |    (ys.y * 4) // (4 + ((doc_id * 3) % 23)) * 4
        |      + (xs.x * 4) // (4 + (doc_id % 29)) AS cell,
        |    ((xs.x * 3 + ys.y * 5 + doc_id) % 256)
        |      + (((xs.x * 3 + ys.y * 5 + doc_id) % 256) * 3) % 256
        |      + (((xs.x * 3 + ys.y * 5 + doc_id) % 256) * 7) % 256 AS lum
        |  FROM documents,
        |    unnest(generate_series(0, 4 + (doc_id % 29) - 1)) AS xs(x),
        |    unnest(generate_series(0, 4 + ((doc_id * 3) % 23) - 1)) AS ys(y)
        |  WHERE doc_id % 4 = 1
        |  UNION ALL
        |  SELECT doc_id,
        |    (ys.y * 4) // (8 * (1 + (doc_id * 3) % 4)) * 4
        |      + (xs.x * 4) // (8 * (1 + doc_id % 4)) AS cell,
        |    3 * (128 + 2 * (((doc_id + (xs.x // 8) * 3 + (ys.y // 8) * 5) % 120) - 60)) AS lum
        |  FROM documents,
        |    unnest(generate_series(0, 8 * (1 + doc_id % 4) - 1)) AS xs(x),
        |    unnest(generate_series(0, 8 * (1 + (doc_id * 3) % 4) - 1)) AS ys(y)
        |  WHERE doc_id % 4 = 2
        |  UNION ALL
        |  SELECT doc_id,
        |    (c.y * 4) // (16 * (1 + (doc_id * 3) % 2)) * 4
        |      + (c.x * 4) // (16 * (1 + doc_id % 2)) AS cell,
        |    LEAST(255, GREATEST(0, round(yv + 1.402::DOUBLE * crv)::INT))
        |      + LEAST(255, GREATEST(0, round(yv - 0.344136::DOUBLE * cbv
        |          - 0.714136::DOUBLE * crv)::INT))
        |      + LEAST(255, GREATEST(0, round(yv + 1.772::DOUBLE * cbv)::INT)) AS lum
        |  FROM (
        |    SELECT doc_id, xs.x, ys.y,
        |      (128 + 2 * (((doc_id + (xs.x // 16) * 7 + (ys.y // 16) * 11
        |          + (((ys.y % 16) // 8) * 2 + (xs.x % 16) // 8) * 3) % 100) - 50))::DOUBLE AS yv,
        |      (2 * (((doc_id + (xs.x // 16) * 3 + (ys.y // 16) * 5) % 21) - 10))::DOUBLE AS cbv,
        |      (2 * (((doc_id * 2 + (xs.x // 16) * 5 + (ys.y // 16) * 3) % 21) - 10))::DOUBLE AS crv
        |    FROM documents,
        |      unnest(generate_series(0, 16 * (1 + doc_id % 2) - 1)) AS xs(x),
        |      unnest(generate_series(0, 16 * (1 + (doc_id * 3) % 2) - 1)) AS ys(y)
        |    WHERE doc_id % 4 = 3) c),
        |cells AS (
        |  SELECT doc_id, cell, sum(lum) AS cs, count(*) AS cn,
        |    sum(sum(lum)) OVER (PARTITION BY doc_id) AS ts,
        |    sum(count(*)) OVER (PARTITION BY doc_id) AS tn
        |  FROM px GROUP BY 1, 2),
        |hashes AS (
        |  SELECT doc_id,
        |    sum(CASE WHEN cs * tn > ts * cn
        |        THEN (1::BIGINT << cell) ELSE 0 END)::INTEGER AS ahash
        |  FROM cells GROUP BY 1),
        |census AS (SELECT ahash, count(*) AS cnt FROM hashes GROUP BY 1),
        |n AS (SELECT count(*)::BIGINT AS n_docs FROM documents)
        |SELECT stage, n FROM (
        |  SELECT '1_assets_in' AS stage, n_docs AS n FROM n
        |  UNION ALL SELECT '2_format_known', n_docs FROM n
        |  UNION ALL SELECT '3_decoded', n_docs FROM n
        |  UNION ALL SELECT '4_distinct_fingerprints', count(*)::BIGINT FROM census
        |  UNION ALL SELECT '5_exact_dup_pairs',
        |    coalesce(sum(cnt * (cnt - 1) // 2), 0)::BIGINT FROM census)
        |ORDER BY stage""".stripMargin)
}
