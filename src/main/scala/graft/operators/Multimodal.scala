package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.SafeRound.round

import graft.Tables

/** Raw media bytes + typed metadata after stub decode. */
case class MediaMeta(
    doc_id: Long, fmt: String, n_bytes: Long,
    width: Long, height: Long, n_frames: Long)

/** Multimodal column plumbing: opaque `binary` payloads with typed
  * metadata, decoded/feature-extracted per partition.
  *
  * The reference stores documents as BLOBs and decodes in-engine
  * (/root/reference/scripts/01_pdf_to_vector.sql:49-59 `pdf_content
  * BLOB` + UTL_TO_TEXT). Here the same shape carries image/audio/video:
  * a `binary` column plus a decode step.
  *
  * The decode itself is a STUB by mandate — no image/audio libs ship in
  * this container. `stubDecode` derives deterministic fake metadata
  * from the byte length; swap its body for a real codec (JavaCV,
  * TwelveMonkeys, ffmpeg-over-pipe) without touching the dataflow.
  * Five slices of the boundary are REAL as of r16/r17 because they
  * need no codec libs: container/header probing
  * ([[graft.sources.MediaProbe]] — PNG/JPEG/GIF/WAV/MP4/MP3 headers,
  * `mm_probe_format`), full PNG pixel decoding
  * ([[graft.sources.PngCodec]] — zlib + all five row filters,
  * `mm_decode_pixels` / `mm_pixel_fingerprint`), WAV PCM sample
  * decoding ([[graft.sources.WavCodec]], `mm_decode_samples`), GIF
  * LZW pixel decoding ([[graft.sources.GifCodec]],
  * `mm_decode_gif`), and baseline grayscale JPEG
  * ([[graft.sources.JpegCodec]], `mm_decode_jpeg`) including YCbCr
  * 4:2:0 color (`mm_decode_jpeg_color`) and a progressive grayscale
  * subset (`mm_decode_jpeg_prog`, AC refinement included); progressive
  * color and lossy audio (MP3 frames) remain behind the stub.
  * Everything around the stub is the real 100 TB shape:
  *  - payloads stay in executors (mapPartitions over an iterator —
  *    nothing is collected, one in-flight element per partition
  *    (bounded memory) regardless of payload size);
  *  - the decode is a narrow map — no shuffle; downstream agg is
  *    partial-aggregation friendly;
  *  - the typed boundary is a case-class Dataset, so schema is
  *    explicit and column-prunable upstream of the decode.
  */
object Multimodal {

  /** Deterministic fake decode: metadata derived only from payload
    * bytes. The *interface* (bytes → typed meta) is the real one. */
  def stubDecode(docId: Long, payload: Array[Byte]): MediaMeta = {
    val n = payload.length.toLong
    val fmt = if (n % 2 == 0) "img" else "vid"
    MediaMeta(docId, fmt, n,
      width = n % 640 + 16, height = (n * 7) % 480 + 16,
      n_frames = if (fmt == "vid") n % 24 + 1 else 1L)
  }

  /** Binary payload table synthesized from the documents' text bytes —
    * the container has no real media files; the column type and
    * partition topology are what matter. */
  def mediaTable(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))

  /** Decode per partition through the typed boundary. */
  def decoded(s: SparkSession, dir: String): Dataset[MediaMeta] = {
    import s.implicits._
    mediaTable(s, dir)
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) => stubDecode(id, bytes) })
  }

  /** Aggregated metadata per format (oracle-checked: the stub's
    * arithmetic is reproduced in SQL over octet_length). */
  def decodeMeta(s: SparkSession, dir: String): DataFrame =
    decoded(s, dir).toDF()
      .groupBy("fmt")
      .agg(count(lit(1)).as("n_media"),
        sum("n_bytes").as("total_bytes"),
        round(avg("width"), 4).as("avg_width"),
        round(avg("height"), 4).as("avg_height"),
        sum("n_frames").as("total_frames"))
      .orderBy("fmt")

  /** Frame sampling: explode each video's frames, fingerprint every
    * 6th frame (partition-preserving fan-out bounded by n_frames). */
  def frameSample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    decoded(s, dir)
      .flatMap { m =>
        (1L to m.n_frames).filter(f => f % 6 == 1).map { f =>
          // frame fingerprint: deterministic from (doc, frame)
          (m.doc_id, m.fmt, f, (m.doc_id * 1315423911L + f * 2654435761L) & 0xFFFFFFFFL)
        }
      }
      .toDF("doc_id", "fmt", "frame", "frame_fp")
      .orderBy("doc_id", "frame")
  }

  /** Resize planning: fit each image/frame into a 224×224 box
    * preserving aspect ratio (the standard vision-model preprocessing
    * step). The pixel transform itself belongs in the stubbed decode;
    * the dimension arithmetic, schema, and per-doc map shape are the
    * real pipeline piece and are oracle-checked. */
  def resizePlan(s: SparkSession, dir: String): DataFrame =
    decoded(s, dir).toDF()
      .withColumn("scale",
        least(lit(224.0) / col("width"), lit(224.0) / col("height")))
      .select(col("doc_id"), col("fmt"), col("width"), col("height"),
        greatest(lit(1L), floor(col("width") * col("scale")).cast("long")).as("out_w"),
        greatest(lit(1L), floor(col("height") * col("scale")).cast("long")).as("out_h"))
      .orderBy("doc_id")

  /** Audio stub parameters: 16 kHz mono, 10 s windows with 1 s
    * overlap (the Whisper-style chunking recipe). The fake decode
    * maps each payload byte to 2048 samples so the synthetic corpus
    * spans a realistic few-windows-per-doc range. */
  val SampleRate = 16000
  val AudioWinMs = 10000L
  val AudioHopMs = 9000L

  /** Audio window planning: treat each payload as a decoded waveform
    * (length from the stub, like width/height for images) and emit the
    * fixed-length overlapping windows an ASR/audio-embedding model
    * consumes. Same topology as frameSample: a partition-preserving
    * typed flatMap, fan-out bounded by duration/hop, no shuffle before
    * the final sort; the window arithmetic is exact integers, so the
    * whole plan is oracle-checked. */
  def audioChunks(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    mediaTable(s, dir)
      .as[(Long, Array[Byte])]
      .flatMap { case (id, bytes) =>
        val nSamples = bytes.length.toLong * 2048L
        val durMs = nSamples * 1000L / SampleRate
        Iterator.iterate(0L)(_ + AudioHopMs)
          .takeWhile(_ < durMs)
          .map { start =>
            val end = math.min(start + AudioWinMs, durMs)
            (id, start / AudioHopMs, start, end, (end - start) * SampleRate / 1000L)
          }.toSeq
      }
      .toDF("doc_id", "chunk_idx", "start_ms", "end_ms", "n_samples")
      .orderBy("doc_id", "chunk_idx")
  }

  /** Scene-cut detection over EVERY frame's fingerprint: a cut is a
    * frame whose fingerprint differs from its predecessor by more than
    * the threshold (here on the stub's 32-bit fingerprint space; with
    * a real decoder the same dataflow compares perceptual hashes).
    * The lag window partitions by doc_id — each video compares only
    * its own frames, no cross-video shuffle beyond the doc key; the
    * report is one partial-agg groupBy. */
  val SceneCutThreshold = 2000000000L

  def sceneCuts(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val frames = decoded(s, dir)
      .filter(col("fmt") === "vid")
      .as[MediaMeta]
      .flatMap { m =>
        (1L to m.n_frames).map { f =>
          (m.doc_id, f, (m.doc_id * 1315423911L + f * 2654435761L) & 0xFFFFFFFFL)
        }
      }
      .toDF("doc_id", "frame", "fp")
    val w = Window.partitionBy(col("doc_id")).orderBy(col("frame"))
    frames
      .withColumn("prev_fp", lag(col("fp"), 1).over(w))
      .withColumn("cut",
        (col("prev_fp").isNotNull &&
          abs(col("fp") - col("prev_fp")) > SceneCutThreshold).cast("long"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_frames"), sum(col("cut")).as("n_cuts"),
        (sum(col("cut")) + 1).as("n_scenes"))
      .orderBy("doc_id")
  }

  /** Contrastive hard-negative mining for (media, text) pair training
    * (the CLIP data-prep step): for each anchor document, the 3
    * nearest embeddings whose document comes from a DIFFERENT source —
    * nearest wrong-source items are the hardest negatives, and the
    * same-source mask suppresses false negatives (near-duplicate
    * boilerplate from one crawl domain). Same broadcast nested-loop +
    * bounded top-k topology as vs_knn_batch (shuffle volume = anchors
    * × 3, the answer size); the source mask is evaluated INSIDE the
    * scoring join, before the top-k — never a post-filter that would
    * shrink k. At 100 TB the anchor×corpus product swaps to the
    * LSH/IVF-blocked layouts like every other serving op. */
  def pairMining(s: SparkSession, dir: String): DataFrame = {
    val src = Tables.documents(s, dir).select(col("doc_id"), col("source"))
    val anchors = Tables.spread(s, dir, "embeddings")
      .join(src, col("vec_id") === col("doc_id"))
      .select(col("vec_id"), col("embedding"), col("source"))
    val nbr = broadcast(Tables.embeddings(s, dir)
      .join(src, col("vec_id") === col("doc_id"))
      .select(col("vec_id").as("neg_id"), col("embedding").as("nvec"),
        col("source").as("neg_source")))
    anchors.crossJoin(nbr)
      .filter(col("vec_id") =!= col("neg_id") && col("source") =!= col("neg_source"))
      .select(col("vec_id"), col("neg_id"),
        round(graft.functions.FloatVecDistance.cosine(col("embedding"), col("nvec")), 4).as("dist"))
      .transform(graft.functions.TopKAgg.perKey(col("vec_id"), col("dist"), col("neg_id"), 3))
      .toDF("doc_id", "neg_id", "dist", "rnk")
      .orderBy("doc_id", "rnk")
  }

  /** Blocked twin of [[pairMining]]: candidates come from the banded
    * random-hyperplane sketch (share ≥1 4-bit band with the anchor —
    * [[EmbeddingLsh]]'s layout), the wrong-source mask is applied
    * inside the candidate join, and only candidates are exactly
    * re-ranked. The sketch is a pure md5-derived hash (no RNG), so
    * the DuckDB oracle reproduces the exact candidate set and the
    * result is hash-checked like the other LSH serving ops.
    *
    * SCALE, honestly: at this corpus's similarity profile (hard
    * negatives at cosine sim ≈ 0.5, per-bit hyperplane agreement
    * ≈ 0.65) 4-bit bands collide on ~40% of random pairs, so the
    * blocking is a small-constant reduction of the pair space, not an
    * asymptotic one — and each surviving candidate pays a shuffle +
    * distinct + re-join, ~50× the cost of one codegen'd kernel eval
    * in the broadcast loop. Measured at the 10× SF the exact
    * broadcast top-k was 9× FASTER (20.5 s vs 181 s); wider bands
    * were tried and kill recall to 0 at this similarity level (LSH
    * banding only prunes asymptotically in the high-threshold
    * near-dup regime — where `dedup_embedding_lsh` genuinely lives).
    * This operator therefore earns its keep as the candidate-set
    * demonstration of the banded layout; for production mining at
    * mid similarity, compose the IVF serving path ([[IvfIndex]] /
    * [[IvfPq]]) whose centroid pruning adapts to the data instead of
    * to a hash. The spec pins candidate soundness, the wrong-source
    * property, and overlap with the exact top-3 at test SFs. */
  def pairMiningLsh(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import EmbeddingLsh.{BandBits, NumBands, sketch, planes}
    val src = Tables.documents(s, dir).select(col("doc_id"), col("source"))
    val emb = Tables.embeddings(s, dir)
    val dim = emb.select(size(col("embedding"))).first().getInt(0)
    val pl = planes(dim)
    val sketches = Tables.spread(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
      .mapPartitions(_.map { case (id, v) => (id, v, sketch(v, pl)) })
      .toDF("vec_id", "embedding", "sk")
      .join(src, col("vec_id") === col("doc_id")).drop("doc_id")
    def banded(df: DataFrame) =
      df.select(col("*"), explode(sequence(lit(0), lit(NumBands - 1))).as("band"))
        .withColumn("bkey", expr(s"shiftrightunsigned(sk, band * $BandBits)") % (1 << BandBits))
    // band explode and candidate distinct carry only 8-byte ids —
    // shuffling the vectors through them costs ~30× the bytes (128
    // floats vs two longs per row); embeddings re-join AFTER the pair
    // space is deduplicated, exactly like EmbeddingLsh.pairs.
    val aside = banded(sketches.select(col("vec_id"), col("sk"), col("source")))
    val nside = banded(sketches.select(col("vec_id").as("neg_id"),
      col("sk"), col("source").as("neg_source"))).drop("sk")
    val cands = aside.join(nside, Seq("band", "bkey"))
      .filter(col("vec_id") =!= col("neg_id") && col("source") =!= col("neg_source"))
      .select(col("vec_id"), col("neg_id"))
      .distinct()
    val vecs = emb.select(col("vec_id"), col("embedding"))
    cands
      .join(vecs, "vec_id")
      .join(vecs.select(col("vec_id").as("neg_id"), col("embedding").as("nvec")), "neg_id")
      .select(col("vec_id"), col("neg_id"),
        round(graft.functions.FloatVecDistance.cosine(col("embedding"), col("nvec")), 4).as("dist"))
      .transform(graft.functions.TopKAgg.perKey(col("vec_id"), col("dist"), col("neg_id"), 3))
      .toDF("doc_id", "neg_id", "dist", "rnk")
      .orderBy("doc_id", "rnk")
  }

  /** The PRODUCTION scale path for hard-negative mining — IVF-blocked:
    * every anchor probes its [[IvfIndex.defaultNprobe]] nearest centroids
    * and scores only those cells' members, so candidate volume is
    * N × nprobe × (N/nlist) and shrinks as nlist grows with the
    * corpus (nlist ≈ √N, nprobe ≈ √nlist at scale ⇒ ~N^1.75 total
    * work, recall-stable; [[calibrateMiningNprobe]] into
    * [[pairMiningIvfAt]] pins it to a recall target), where
    * hyperplane banding at this similarity level cannot prune
    * asymptotically (see [[pairMiningLsh]]). Centroid pruning adapts
    * to the data: an anchor's nearest wrong-source items live in its
    * nearest cells regardless of their absolute similarity, so recall
    * holds at mid similarity too (spec-pinned). Reuses the persisted
    * IVF artifacts — same k-means fit, assignment table, and centroid
    * dictionary as the serving ops, no third index build — and the
    * oracle reproduces the whole path from those artifacts
    * (hash-checked like vs_knn_ivf_batch).
    *
    * Plan shape: centroid dictionary broadcast against the anchor
    * scan; (anchor → probed cell) pairs equi-join the
    * assigned index on centroid_id; the wrong-source mask
    * sits inside the scoring join before the bounded top-k. */
  def pairMiningIvf(s: SparkSession, dir: String): DataFrame = {
    // BLOCKING geometry, not the capped serving default: past the
    // serving cap the capped geometry freezes candidates at N²/64
    // (see IvfIndex.blockingNlist — identical below the cap, so the
    // gate artifacts are bit-unchanged).
    val (index, centroids) = IvfIndex.buildBlocking(s, dir)
    pairMiningIvfAt(s, dir, index, centroids, 0)
  }

  /** TARGET-ACCURACY calibration against the mining contract: recall
    * of the top-3 WRONG-SOURCE neighbors. The mask on the calibration
    * truth matters: the unfiltered top-3 is dominated by same-source
    * near-duplicates sitting in the anchor's own cell, which would
    * calibrate the depth down to 1 while the mid-sim negatives this
    * operator exists to find live several cells out. */
  private[graft] def calibrateMiningNprobe(s: SparkSession, index: DataFrame,
      centroids: Array[Array[Double]], dir: String, target: Double): Int = {
    val srcOf = Tables.documents(s, dir).select(col("doc_id"), col("source"))
    IvfIndex.calibrateNprobe(s, index, centroids, dir, target, k = 3,
      truthFilter = scored => scored
        .join(srcOf.select(col("doc_id").as("qid"), col("source").as("q_src")), "qid")
        .join(srcOf.select(col("doc_id").as("vec_id"), col("source").as("n_src")), "vec_id")
        .filter(col("q_src") =!= col("n_src"))
        .select(col("qid"), col("dist"), col("vec_id")))
  }

  /** The mining pipeline at an explicit probe depth (0 = adaptive) —
    * split out so specs and sizing runs can pin recall at a chosen
    * depth, e.g. one [[calibrateMiningNprobe]] returns. */
  private[graft] def pairMiningIvfAt(s: SparkSession, dir: String,
      index: DataFrame, centroids: Array[Array[Double]], np: Int): DataFrame = {
    val src = Tables.documents(s, dir).select(col("doc_id"), col("source"))
    val anchors = Tables.embeddings(s, dir)
      .join(src, col("vec_id") === col("doc_id"))
      .select(col("vec_id").as("qid"), col("embedding").as("qv"),
        col("source").as("q_source"))
    // probe ranking is the SAME code path as batch serving
    // (IvfIndex.probePairs); unlike searchBatch the pair table here is
    // anchors × nprobe = corpus-sized, so the index join stays
    // un-hinted (shuffle join at scale) instead of broadcast. The
    // probe rows keep the anchor payload (qv, source), so every join
    // precedes the explosion and the candidate stream flows straight
    // into the codegen kernel and the map-side partial agg, never
    // through a sort or shuffle. (An earlier order joined anchors onto
    // the exploded stream; at the 30× calibrated depth AQE picked a
    // sort-merge join there and SORTED the ~1B-row candidate stream —
    // measured heap exhaustion.)
    val pp = IvfIndex.probePairs(s, anchors, centroids, np)
    index
      .join(src.select(col("doc_id"), col("source").as("neg_source")),
        col("vec_id") === col("doc_id")).drop("doc_id")
      .join(pp, "centroid_id")
      .filter(col("vec_id") =!= col("qid") && col("neg_source") =!= col("q_source"))
      .select(col("qid"), col("vec_id"),
        round(graft.functions.FloatVecDistance.cosine(col("embedding"), col("qv")), 4).as("dist"))
      .transform(graft.functions.TopKAgg.perKey(col("qid"), col("dist"), col("vec_id"), 3))
      .toDF("doc_id", "neg_id", "dist", "rnk")
      .orderBy("doc_id", "rnk")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mm_pair_mining" -> (pairMining _),
    "mm_pair_mining_lsh" -> (pairMiningLsh _),
    "mm_pair_mining_ivf" -> (pairMiningIvf _),
    "mm_decode_meta" -> (decodeMeta _),
    "mm_frame_sample" -> (frameSample _),
    "mm_audio_chunks" -> (audioChunks _),
    "mm_scene_cuts" -> (sceneCuts _),
    "mm_resize" -> (resizePlan _))

  val oracleSql: Map[String, String] = Map(
    // reproduces the IVF-blocked mining path from the persisted index
    // artifacts (same __IVFDIR__ tables as the vs_knn_ivf_* oracles):
    // per-anchor centroid ranking, nprobe cell restriction, the
    // wrong-source mask, exact re-rank, top-3.
    "mm_pair_mining_ivf" ->
      s"""WITH ${IvfIndex.artifactCtes("__IVFDIR__")},
         |qs AS (
         |  SELECT e.vec_id AS qid, e.embedding AS qv, d.source AS q_source
         |  FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id),
         |cd AS (SELECT qid, cid, ${VectorSearch.dCosine("cvec", "qv")} AS cdist FROM qs, c),
         |pr AS (
         |  SELECT qid, cid FROM (
         |    SELECT qid, cid,
         |      row_number() OVER (PARTITION BY qid ORDER BY cdist, cid) AS r FROM cd)
         |  WHERE r <= ${IvfIndex.sqlNprobe}),
         |cand AS (
         |  SELECT qs.qid AS doc_id, a.vec_id AS neg_id,
         |    round(1e-9 + ${VectorSearch.dCosine("e.embedding", "qv")}, 4) AS dist
         |  FROM qs JOIN pr USING (qid)
         |    JOIN a ON a.centroid_id = pr.cid
         |    JOIN embeddings e ON e.vec_id = a.vec_id
         |    JOIN documents dn ON dn.doc_id = a.vec_id
         |  WHERE a.vec_id <> qs.qid AND dn.source <> qs.q_source)
         |SELECT doc_id, neg_id, dist, rnk FROM (
         |  SELECT doc_id, neg_id, dist,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY dist, neg_id) AS rnk
         |  FROM cand)
         |WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin,
    // same contract as mm_pair_mining but restricted to banded-sketch
    // candidates; the sketch is a pure md5 hash so DuckDB reproduces
    // the exact candidate set (same skSql as the other LSH oracles).
    "mm_pair_mining_lsh" ->
      s"""WITH sk AS (
         |  SELECT e.vec_id, e.embedding, d.source,
         |    ${EmbeddingLsh.skSql("e.embedding")} AS sk
         |  FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id),
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS doc_id, b.vec_id AS neg_id,
         |    a.embedding AS ea, b.embedding AS eb
         |  FROM sk a, sk b, generate_series(0, ${EmbeddingLsh.NumBands - 1}) t(band)
         |  WHERE a.vec_id <> b.vec_id AND a.source <> b.source
         |    AND (a.sk // CAST(2 ** (band * ${EmbeddingLsh.BandBits}) AS BIGINT)) % ${1 << EmbeddingLsh.BandBits}
         |      = (b.sk // CAST(2 ** (band * ${EmbeddingLsh.BandBits}) AS BIGINT)) % ${1 << EmbeddingLsh.BandBits}),
         |p AS (
         |  SELECT doc_id, neg_id,
         |    round(1e-9 + ${VectorSearch.dCosine("ea", "eb")}, 4) AS dist
         |  FROM cand)
         |SELECT doc_id, neg_id, dist,
         |  row_number() OVER (PARTITION BY doc_id ORDER BY dist, neg_id) AS rnk
         |FROM p QUALIFY rnk <= 3 ORDER BY doc_id, rnk""".stripMargin,
    "mm_pair_mining" ->
      s"""WITH p AS (
         |  SELECT a.vec_id AS doc_id, b.vec_id AS neg_id,
         |    round(1e-9 + ${VectorSearch.dCosine("a.embedding", "b.embedding")}, 4) AS dist
         |  FROM embeddings a JOIN documents sa ON a.vec_id = sa.doc_id,
         |       embeddings b JOIN documents sb ON b.vec_id = sb.doc_id
         |  WHERE a.vec_id <> b.vec_id AND sa.source <> sb.source)
         |SELECT doc_id, neg_id, dist,
         |  row_number() OVER (PARTITION BY doc_id ORDER BY dist, neg_id) AS rnk
         |FROM p QUALIFY rnk <= 3 ORDER BY doc_id, rnk""".stripMargin,
    // the stub's frame fingerprint is pure integer mixing on (doc_id,
    // frame) — exactly reproducible with BIGINT arithmetic + bitwise
    // AND in DuckDB, so the whole flatMap is oracle-checked.
    "mm_frame_sample" ->
      """WITH m AS (
        |  SELECT doc_id, octet_length(encode(text)) AS n FROM documents),
        |meta AS (
        |  SELECT doc_id,
        |    CASE WHEN n % 2 = 0 THEN 'img' ELSE 'vid' END AS fmt,
        |    CASE WHEN n % 2 = 0 THEN 1 ELSE n % 24 + 1 END AS n_frames
        |  FROM m),
        |f AS (
        |  SELECT doc_id, fmt, fr::BIGINT AS frame
        |  FROM meta, unnest(generate_series(1, n_frames)) AS u(fr)
        |  WHERE fr % 6 = 1)
        |SELECT doc_id, fmt, frame,
        |  ((doc_id * 1315423911 + frame * 2654435761) & 4294967295)::BIGINT AS frame_fp
        |FROM f ORDER BY doc_id, frame""".stripMargin,
    "mm_decode_meta" ->
      """WITH m AS (
        |  SELECT doc_id, octet_length(encode(text)) AS n,
        |    CASE WHEN octet_length(encode(text)) % 2 = 0 THEN 'img' ELSE 'vid' END AS fmt
        |  FROM documents),
        |meta AS (
        |  SELECT doc_id, fmt, n AS n_bytes,
        |    n % 640 + 16 AS width, (n * 7) % 480 + 16 AS height,
        |    CASE WHEN fmt = 'vid' THEN n % 24 + 1 ELSE 1 END AS n_frames
        |  FROM m)
        |SELECT fmt, count(*) AS n_media, sum(n_bytes)::BIGINT AS total_bytes,
        |  round(1e-9 + avg(width), 4) AS avg_width, round(1e-9 + avg(height), 4) AS avg_height,
        |  sum(n_frames)::BIGINT AS total_frames
        |FROM meta GROUP BY fmt ORDER BY fmt""".stripMargin,
    "mm_scene_cuts" ->
      s"""WITH m AS (
         |  SELECT doc_id, octet_length(encode(text)) AS n FROM documents),
         |meta AS (
         |  SELECT doc_id, n % 24 + 1 AS n_frames
         |  FROM m WHERE n % 2 = 1),
         |f AS (
         |  SELECT doc_id, fr::BIGINT AS frame,
         |    ((doc_id * 1315423911 + fr * 2654435761) & 4294967295)::BIGINT AS fp
         |  FROM meta, unnest(generate_series(1, n_frames)) u(fr)),
         |c AS (
         |  SELECT doc_id, frame, fp,
         |    lag(fp) OVER (PARTITION BY doc_id ORDER BY frame) AS prev_fp
         |  FROM f)
         |SELECT doc_id, count(*) AS n_frames,
         |  sum(CASE WHEN prev_fp IS NOT NULL AND abs(fp - prev_fp) > $SceneCutThreshold
         |      THEN 1 ELSE 0 END)::BIGINT AS n_cuts,
         |  (sum(CASE WHEN prev_fp IS NOT NULL AND abs(fp - prev_fp) > $SceneCutThreshold
         |      THEN 1 ELSE 0 END) + 1)::BIGINT AS n_scenes
         |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "mm_audio_chunks" ->
      s"""WITH m AS (
         |  SELECT doc_id,
         |    octet_length(encode(text))::BIGINT * 2048 * 1000 // $SampleRate AS dur_ms
         |  FROM documents),
         |w AS (
         |  SELECT doc_id, k::BIGINT * $AudioHopMs AS start_ms, dur_ms
         |  FROM m, unnest(generate_series(0, ((dur_ms - 1) // $AudioHopMs)::INT)) u(k)
         |  WHERE dur_ms > 0)
         |SELECT doc_id, start_ms // $AudioHopMs AS chunk_idx, start_ms,
         |  least(start_ms + $AudioWinMs, dur_ms) AS end_ms,
         |  (least(start_ms + $AudioWinMs, dur_ms) - start_ms) * $SampleRate // 1000 AS n_samples
         |FROM w ORDER BY doc_id, chunk_idx""".stripMargin,
    "mm_resize" ->
      """WITH m AS (
        |  SELECT doc_id, octet_length(encode(text)) AS n,
        |    CASE WHEN octet_length(encode(text)) % 2 = 0 THEN 'img' ELSE 'vid' END AS fmt
        |  FROM documents),
        |meta AS (
        |  SELECT doc_id, fmt,
        |    (n % 640 + 16)::BIGINT AS width, ((n * 7) % 480 + 16)::BIGINT AS height
        |  FROM m),
        |sc AS (
        |  SELECT *, least(224.0 / width, 224.0 / height) AS scale FROM meta)
        |SELECT doc_id, fmt, width, height,
        |  greatest(1, floor(width * scale)::BIGINT) AS out_w,
        |  greatest(1, floor(height * scale)::BIGINT) AS out_h
        |FROM sc ORDER BY doc_id""".stripMargin)
}
