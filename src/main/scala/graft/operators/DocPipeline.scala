package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.SafeRound.round

import graft.Tables
import graft.functions.PortableHash
import graft.functions.TextFunctions._

/** The reference's ingestion pipeline, Spark-first
  * (/root/reference/scripts/01_pdf_to_vector.sql:119-256:
  * UTL_TO_TEXT → UTL_TO_CHUNKS → UTL_TO_EMBEDDINGS → doc_chunks).
  *
  *  - UTL_TO_TEXT: binary→text decode. The synthetic corpus is already
  *    text, so decode is identity here; the binary plumbing (and the
  *    stub decoder the container mandates) lives in Multimodal.
  *  - UTL_TO_CHUNKS (`by:"words", max, overlap, normalize:"all"` —
  *    reference line 239): pure `functions._` composition — tokenize,
  *    sequence over chunk starts, slice, join. No UDF, fully codegen'd,
  *    explode fan-out is bounded by max-tokens so no skew.
  *  - UTL_TO_EMBEDDINGS (reference line 186: in-DB ONNX model): stands
  *    in a deterministic hashing-trick embedder — token → md5 bucket
  *    (±1 sign) → sparse weight vector, exactly the feature-hashing
  *    construction (Weinberger et al., ICML'09). The model is fake by
  *    mandate (no ONNX runtime in-container); the dataflow — explode,
  *    partial-agg by (chunk, bucket), norm join — is the real 100 TB
  *    shape: every step is a map or a partial-aggregable groupBy on
  *    uniformly-hashed keys.
  *
  * The sparse (bucket, weight) representation also powers chunk-level
  * knn as a *join on bucket* (inverted-index dot product) rather than
  * a dense cross join — the standard sparse-similarity topology at
  * scale.
  */
object DocPipeline {
  val MaxTokens = 40
  val Overlap = 10
  val Stride: Int = MaxTokens - Overlap
  val Dim = 64
  /** One digest per token: bucket = word 0, sign = word 1. */
  val EmbedSeed = 101

  /** UTL_TO_CHUNKS: (doc_id, chunk_id, n_tokens, chunk_text). */
  def chunks(s: SparkSession, dir: String): DataFrame =
    chunksOf(Tables.documents(s, dir))

  /** UTL_TO_CHUNKS over any (doc_id, text) frame — the corpus-dir
    * entry above binds it to the parquet documents table; the real
    * PDF decode ([[graft.sources.PdfText.utlToText]]) feeds the SAME
    * DAG its decoded frame, so binary ingestion changes nothing
    * downstream of the UTL_TO_TEXT boundary. */
  def chunksOf(d: DataFrame): DataFrame = {
    d.select(col("doc_id"), tokens(col("text")).as("toks"))
      .withColumn("n_chunks", nChunks(size(col("toks"))))
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0), col("n_chunks") - 1)).as("i"))
      .select(
        col("doc_id"),
        (col("i") + 1).cast("long").as("chunk_id"),
        slice(col("toks"), col("i") * Stride + 1, lit(MaxTokens)).as("ctoks"))
      .select(col("doc_id"), col("chunk_id"),
        size(col("ctoks")).cast("long").as("n_tokens"),
        array_join(col("ctoks"), " ").as("chunk_text"))
  }

  /** Number of [[chunksOf]] windows over `n` tokens: one window up to
    * MaxTokens, then one more per Stride tokens started. The funnel
    * ([[Pipeline.e2e]]) and the crawl funnel count chunks with this
    * same rule instead of exploding them. */
  def nChunks(n: Column): Column = windows(n, MaxTokens, Stride)

  /** Count of `max`-wide windows at step `stride` covering `n` units
    * (at least one, so an empty input still yields one empty window). */
  private def windows(n: Column, max: Int, stride: Int): Column =
    when(n <= max, lit(1))
      .otherwise(floor((n - max + stride - 1) / lit(stride)).cast("int") + 1)

  def chunksOrdered(s: SparkSession, dir: String): DataFrame =
    chunks(s, dir).orderBy("doc_id", "chunk_id")

  val CharMax = 200
  val CharOverlap = 40
  val CharStride: Int = CharMax - CharOverlap

  /** UTL_TO_CHUNKS `by:"characters"` variant (reference's documented
    * alternative A at 01_pdf_to_vector.sql:216-220): fixed-size char
    * windows with overlap over the normalized text. */
  def chunksByChars(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), normText(col("text")).as("t"))
      .withColumn("n_chunks", windows(length(col("t")), CharMax, CharStride))
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(0), col("n_chunks") - 1)).as("i"))
      .select(col("doc_id"), (col("i") + 1).cast("long").as("chunk_id"),
        expr(s"substring(t, i * $CharStride + 1, $CharMax)").as("chunk_text"))
      .select(col("doc_id"), col("chunk_id"),
        length(col("chunk_text")).cast("long").as("n_chars"), col("chunk_text"))
      .orderBy("doc_id", "chunk_id")

  val SentMaxWords = 60

  /** UTL_TO_CHUNKS `split by:"sentence"` variant (reference's
    * documented splitter mode at 01_pdf_to_vector.sql:224-231): break
    * on sentence boundaries, then pack consecutive sentences into
    * ≤60-word chunks (concat-and-cut at sentence granularity, so no
    * sentence is ever split). The per-doc window partitions on doc_id —
    * bounded work per doc, fully parallel across docs. */
  def chunksBySentence(s: SparkSession, dir: String): DataFrame = {
    val sents = Tables.documents(s, dir)
      .select(col("doc_id"),
        posexplode(filter(split(normText(col("text")), "[.!?]+\\s+"),
          x => length(x) > lit(0))))
      .select(col("doc_id"), col("pos"), col("col").as("sent"))
      .withColumn("nw",
        size(filter(split(col("sent"), "\\s+"), x => length(x) > lit(0))).cast("long"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, 0)
    sents.withColumn("cum", sum(col("nw")).over(w))
      .withColumn("chunk_id", expr(s"(cum - nw) div $SentMaxWords") + 1)
      .groupBy(col("doc_id"), col("chunk_id"))
      .agg(count(lit(1)).as("n_sentences"), sum(col("nw")).as("n_tokens"),
        array_join(transform(array_sort(collect_list(struct(col("pos"), col("sent")))),
          x => x.getField("sent")), " ").as("chunk_text"))
      .orderBy("doc_id", "chunk_id")
  }

  val RecMax = 200

  /** UTL_TO_CHUNKS `split: "recursively"` — the reference's DEFAULT
    * splitter (01_pdf_to_vector.sql:229-231): split on blank lines
    * (paragraphs); any piece over the char budget falls back to
    * newline (line) pieces; any line still over budget falls back to
    * whitespace (word) pieces. The ordered leaf pieces are then packed
    * into chunks by cumulative char budget — the same deterministic,
    * SQL-expressible packing rule as the sentence splitter (no
    * sequential greedy state, so it stays a window + groupBy and both
    * engines agree exactly). Nested higher-order lambdas, no UDF; the
    * per-doc window partitions on doc_id — parallel across docs.
    * RecursiveSpec exercises the paragraph/newline fallback levels on
    * synthetic multi-paragraph input (the corpus has no newlines). */
  def chunksRecursive(s: SparkSession, dir: String): DataFrame =
    chunksRecursiveOf(Tables.documents(s, dir))

  def chunksRecursiveOf(docs: DataFrame): DataFrame = {
    val leaves = expr(s"""
      flatten(transform(
        filter(split(lower(trim(text)), '\\\\n{2,}'), p -> length(p) > 0),
        p -> CASE WHEN length(p) <= $RecMax THEN array(p)
             ELSE flatten(transform(
               filter(split(p, '\\\\n+'), l -> length(l) > 0),
               l -> CASE WHEN length(l) <= $RecMax THEN array(l)
                    ELSE filter(split(l, '\\\\s+'), w -> length(w) > 0) END))
             END))""")
    packPieces(docs.select(col("doc_id"), posexplode(leaves)))
  }

  /** Nested fallback-split SQL: try each separator regex in order;
    * any piece still over `max` chars falls through to the next level,
    * ending at whitespace words. Shared by the custom-list splitter
    * (and mirrors the hand-written recursive splitter's shape). */
  private def leavesSql(input: String, seps: List[String], max: Int,
      depth: Int = 0): String = seps match {
    case Nil => s"filter(split($input, '\\\\s+'), w$depth -> length(w$depth) > 0)"
    case s0 :: rest =>
      val v = s"p$depth"
      s"""flatten(transform(
         |  filter(split($input, '$s0'), $v -> length($v) > 0),
         |  $v -> CASE WHEN length($v) <= $max THEN array($v)
         |       ELSE ${leavesSql(v, rest, max, depth + 1)} END))""".stripMargin
  }

  /** The custom separator list: sentence-period, then comma (the
    * corpus has no markup; for HTML-ish corpora this would be e.g.
    * `<p>`, `<section>` as in the reference's example). */
  val CustomSeps: List[String] = List("\\\\.\\\\s+", ",\\\\s+")

  /** UTL_TO_CHUNKS `split: "custom"` (reference's documented
    * alternative D at 01_pdf_to_vector.sql:233-236: a user-defined
    * separator list). Separators are tried in order as fallback
    * levels for oversize pieces — same topology as the recursive
    * splitter, parameterized by the list — then packed by char
    * budget. */
  def chunksCustom(s: SparkSession, dir: String): DataFrame =
    packPieces(Tables.documents(s, dir)
      .select(col("doc_id"),
        posexplode(expr(leavesSql("lower(trim(text))", CustomSeps, RecMax)))))

  /** Shared char-budget packing of ordered leaf pieces:
    * (doc_id, pos, piece) → (doc_id, chunk_id, n_pieces, n_chars,
    * chunk_text). */
  private def packPieces(exploded: DataFrame): DataFrame = {
    val pieces = exploded
      .select(col("doc_id"), col("pos"), col("col").as("piece"),
        length(col("col")).cast("long").as("nc"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, 0)
    pieces.withColumn("cum", sum(col("nc")).over(w))
      .withColumn("chunk_id", expr(s"(cum - nc) div $RecMax") + 1)
      .groupBy(col("doc_id"), col("chunk_id"))
      .agg(count(lit(1)).as("n_pieces"), sum(col("nc")).as("n_chars"),
        array_join(transform(array_sort(collect_list(struct(col("pos"), col("piece")))),
          x => x.getField("piece")), " ").as("chunk_text"))
      .orderBy("doc_id", "chunk_id")
  }

  val VocabSize = 100
  val VocabMax = 50

  /** UTL_TO_CHUNKS `by: "vocabulary"` (reference's documented
    * alternative B at 01_pdf_to_vector.sql:224-227): chunk budget
    * measured in TOKENIZER VOCABULARY tokens, not words — the mode
    * that aligns chunk sizes with a model tokenizer. The vocabulary
    * is the corpus top-100 tokens (built distributed, broadcast back);
    * an in-vocab word costs 1 token, an OOV word costs its BPE-ish
    * subword count ceil(len/4). Words are never split; packing is the
    * same deterministic cumulative-budget rule. */
  def chunksByVocab(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), posexplode(tokens(col("text"))))
      .select(col("doc_id"), col("pos"), col("col").as("token"))
    val vocab = toks.groupBy("token").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token")).limit(VocabSize)
      .select(col("token"), lit(1L).as("in_vocab"))
    val costed = toks.join(broadcast(vocab), Seq("token"), "left")
      .withColumn("vt",
        when(col("in_vocab").isNotNull, lit(1L))
          .otherwise(ceil(length(col("token")) / lit(4.0)).cast("long")))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, 0)
    costed.withColumn("cum", sum(col("vt")).over(w))
      .withColumn("chunk_id", expr(s"(cum - vt) div $VocabMax") + 1)
      .groupBy(col("doc_id"), col("chunk_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("vt")).as("n_vtokens"),
        array_join(transform(array_sort(collect_list(struct(col("pos"), col("token")))),
          x => x.getField("token")), " ").as("chunk_text"))
      .orderBy("doc_id", "chunk_id")
  }

  private def bucketOf(token: Column): Column =
    pmod(PortableHash.phashWord(token, EmbedSeed, 0), lit(Dim))
  private def signOf(token: Column): Column =
    PortableHash.phashWord(token, EmbedSeed, 1) % 2 * 2 - 1

  /** Sparse hashed embedding weights per chunk:
    * (doc_id, chunk_id, bucket, w) with w ≠ 0. */
  def chunkWeights(s: SparkSession, dir: String): DataFrame =
    graft.functions.Artifacts.frame(s, "chunkWeights", dir)(chunkWeightsPlan(s, dir))

  private def chunkWeightsPlan(s: SparkSession, dir: String): DataFrame =
    chunkWeightsOf(chunks(s, dir))

  /** Sparse hashed embedding weights over any chunks frame (see
    * [[chunksOf]] for why the DAG is corpus-source-agnostic). */
  def chunkWeightsOf(ch: DataFrame): DataFrame =
    ch.select(col("doc_id"), col("chunk_id"),
        explode(split(col("chunk_text"), " ")).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy(col("doc_id"), col("chunk_id"), bucketOf(col("token")).as("bucket"))
      .agg(sum(signOf(col("token"))).as("w"))
      .filter(col("w") =!= 0)

  /** UTL_TO_EMBEDDINGS end-to-end: per-chunk embedding stats
    * (doc_id, chunk_id, n_tokens, nnz, norm). */
  def docPipeline(s: SparkSession, dir: String): DataFrame =
    docPipelineFrom(chunks(s, dir), chunkWeights(s, dir))

  /** The full pipeline tail over any (doc_id, text) frame — the real
    * PDF ingestion path: decode → chunk → embed → stats with zero
    * corpus-dir binding. */
  def docPipelineOf(docs: DataFrame): DataFrame = {
    val ch = chunksOf(docs)
    docPipelineFrom(ch, chunkWeightsOf(ch))
  }

  private def docPipelineFrom(ch: DataFrame, w: DataFrame): DataFrame = {
    val stats = w
      .groupBy("doc_id", "chunk_id")
      .agg(count(lit(1)).as("nnz"),
        round(sqrt(sum(col("w") * col("w")).cast("double")), 4).as("norm"))
    ch
      .join(stats, Seq("doc_id", "chunk_id"), "left")
      .select(col("doc_id"), col("chunk_id"), col("n_tokens"),
        coalesce(col("nnz"), lit(0L)).as("nnz"),
        coalesce(col("norm"), lit(0.0)).as("norm"))
      .orderBy("doc_id", "chunk_id")
  }

  /** The reference's full E-pipeline shape INCLUDING the JSON leg
    * (01_pdf_to_vector.sql:132-256): UTL_TO_EMBEDDINGS returns a
    * VECTOR_ARRAY_T of JSON docs `{"embed_id","embed_data",...}` that
    * JSON_TABLE shreds back into relational rows. Here each doc's
    * chunks are serialized to exactly that JSON array (to_json over a
    * sorted struct array) and shredded back with from_json + explode —
    * the round trip is lossless, so the oracle checks the shredded
    * output directly. */
  def embedJsonTable(s: SparkSession, dir: String): DataFrame = {
    val varray = chunks(s, dir)
      .groupBy(col("doc_id"))
      .agg(to_json(array_sort(collect_list(struct(
        col("chunk_id").as("embed_id"),
        col("chunk_text").as("embed_data"),
        col("n_tokens").as("n_tokens"))))).as("varray"))
    varray
      .select(col("doc_id"),
        explode(from_json(col("varray"),
          "array<struct<embed_id:bigint,embed_data:string,n_tokens:bigint>>",
          java.util.Collections.emptyMap[String, String]())).as("et"))
      .select(col("doc_id"), col("et.embed_id").as("embed_id"),
        length(col("et.embed_data")).cast("long").as("n_chars"),
        col("et.n_tokens").as("n_tokens"))
      .orderBy("doc_id", "embed_id")
  }

  /** Chunk-level knn: top-10 chunks most cosine-similar to the chunk
    * (doc 0, chunk 1), via an inverted-index (bucket) equi-join —
    * sparse dot products with integer exactness, no cross join. */
  /** Per-chunk L2 norms of the weight table, persisted once per
    * corpus like the weights themselves (an Artifacts frame, r18):
    * chunkKnn (and contextPack through it) and maxSim each
    * re-aggregated the full weight table into the same norms twice
    * per draw (corpus side + query side). */
  private def chunkNorms(s: SparkSession, dir: String): DataFrame =
    graft.functions.Artifacts.frame(s, "chunkNorms", dir) {
      chunkWeights(s, dir).groupBy("doc_id", "chunk_id")
        .agg(sqrt(sum(col("w") * col("w")).cast("double")).as("nrm"))
    }

  def chunkKnn(s: SparkSession, dir: String): DataFrame = {
    // the weights table feeds four plan branches (weights, norms, the
    // query's weights and norm) — persisted once as an Artifacts frame.
    val w = chunkWeights(s, dir)
    val norms = chunkNorms(s, dir)
    val q = w.filter(col("doc_id") === 0 && col("chunk_id") === 1)
      .select(col("bucket"), col("w").as("wq"))
    val qNorm = norms.filter(col("doc_id") === 0 && col("chunk_id") === 1)
      .select(col("nrm").as("qnrm"))
    val dots = w.join(broadcast(q), "bucket")
      .groupBy("doc_id", "chunk_id")
      .agg(sum(col("w") * col("wq")).as("dot"))
    dots.join(norms, Seq("doc_id", "chunk_id"))
      .crossJoin(broadcast(qNorm))
      .filter(!(col("doc_id") === 0 && col("chunk_id") === 1))
      .select(col("doc_id"), col("chunk_id"),
        round(col("dot") / (col("nrm") * col("qnrm")), 4).as("sim"))
      .orderBy(col("sim").desc, col("doc_id"), col("chunk_id"))
      .limit(10)
  }

  /** RAG context assembly — the step between retrieval and the prompt:
    * the top-k retrieved chunks are packed into the model's context
    * window in relevance order until the token budget is exhausted
    * (whole chunks only — the standard greedy rule). Emits ALL top-k
    * rows with the running token total and an in_context flag, so the
    * report shows both what made the cut and what was dropped.
    *
    * Scale note: the pack window runs over the ALREADY-REDUCED top-k
    * answer set (k rows, one partition by construction) — the
    * retrieval underneath is the distributed part; packing k rows is
    * inherently serial and answer-sized. The similarity is emitted as
    * a scaled integer (`sim_e4` = sim × 10⁴, exact after chunkKnn's
    * 4-dp round) so the hash surface carries no floats, and the
    * answer-sized frame is coalesced to one partition so the parquet
    * read-back order IS the declared rnk order. */
  def contextPack(s: SparkSession, dir: String): DataFrame = {
    val budget = 120L
    // partition by a non-foldable constant (pmod(doc_id,1) ≡ 0): one
    // partition, same semantics, but survives ConstantFolding +
    // EliminateWindowPartitions — so the "No Partition Defined"
    // warning never fires and real unpartitioned windows stand out.
    val ord = Window.partitionBy(pmod(col("doc_id"), lit(1)))
      .orderBy(col("sim").desc, col("doc_id"), col("chunk_id"))
    val cum = ord.rowsBetween(Window.unboundedPreceding, 0)
    chunkKnn(s, dir)
      .join(chunks(s, dir).select(col("doc_id"), col("chunk_id"), col("n_tokens")),
        Seq("doc_id", "chunk_id"))
      .withColumn("rnk", row_number().over(ord).cast("long"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(cum).cast("long"))
      .withColumn("in_context", (col("cum_tokens") <= budget).cast("long"))
      .select(col("rnk"), col("doc_id"), col("chunk_id"),
        round(col("sim") * 10000, 0).cast("long").as("sim_e4"),
        col("n_tokens"), col("cum_tokens"), col("in_context"))
      .orderBy("rnk")
      .coalesce(1)
  }

  /** Multi-vector (late-interaction / ColBERT-style) retrieval:
    * score(doc) = Σ over query chunks of max over doc chunks of
    * cosine — the MaxSim reduction. Query = doc 0's chunks. The
    * chunk-pair sims flow through the same inverted-index bucket join
    * as chunkKnn (query side is a handful of chunks → broadcast);
    * max and sum are partial-aggregable, so the reduction is two
    * narrow groupBys. Sims are rounded BEFORE max/sum so both engines
    * reduce identical values. */
  def maxSim(s: SparkSession, dir: String): DataFrame = {
    val w = chunkWeights(s, dir)
    val norms = chunkNorms(s, dir)
    val qw = w.filter(col("doc_id") === 0)
      .select(col("chunk_id").as("qc"), col("bucket"), col("w").as("wq"))
    val qn = norms.filter(col("doc_id") === 0)
      .select(col("chunk_id").as("qc"), col("nrm").as("qnrm"))
    val dots = w.filter(col("doc_id") =!= 0)
      .join(broadcast(qw), "bucket")
      .groupBy(col("doc_id"), col("chunk_id"), col("qc"))
      .agg(sum(col("w") * col("wq")).as("dot"))
    val sims = dots
      .join(norms, Seq("doc_id", "chunk_id"))
      .join(broadcast(qn), "qc")
      .select(col("doc_id"), col("qc"),
        round(col("dot").cast("double") / (col("nrm") * col("qnrm")), 4).as("sim"))
    sims.groupBy("doc_id", "qc").agg(max(col("sim")).as("maxsim"))
      .groupBy("doc_id").agg(round(sum(col("maxsim")), 4).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(10)
  }

  // ---- DuckDB oracle --------------------------------------------------

  /** Shared CTE prefix reproducing chunks + weights in DuckDB. */
  private[graft] val chunkCte: String =
    s"""WITH t AS (
       |  SELECT doc_id,
       |    list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
       |                tok -> length(tok) > 0) AS toks
       |  FROM documents),
       |sized AS (
       |  SELECT doc_id, toks, len(toks) AS n,
       |    CASE WHEN len(toks) <= $MaxTokens THEN 1
       |         ELSE (len(toks) - $MaxTokens + $Stride - 1) // $Stride + 1 END AS n_chunks
       |  FROM t),
       |chunks AS (
       |  SELECT doc_id, i + 1 AS chunk_id,
       |    len(toks[i*$Stride+1 : i*$Stride+$MaxTokens]) AS n_tokens,
       |    array_to_string(toks[i*$Stride+1 : i*$Stride+$MaxTokens], ' ') AS chunk_text
       |  FROM sized, unnest(generate_series(0, n_chunks - 1)) AS u(i))""".stripMargin

  private val weightCte: String =
    s"""tok AS (
       |  SELECT doc_id, chunk_id, unnest(string_split(chunk_text, ' ')) AS token
       |  FROM chunks WHERE length(chunk_text) > 0),
       |wt AS (
       |  SELECT doc_id, chunk_id,
       |    CAST(${PortableHash.duckSqlWord("token", EmbedSeed, 0)} % $Dim AS BIGINT) AS bucket,
       |    sum(CAST(${PortableHash.duckSqlWord("token", EmbedSeed, 1)} % 2 AS BIGINT) * 2 - 1) AS w
       |  FROM tok GROUP BY 1, 2, 3),
       |wnz AS (SELECT * FROM wt WHERE w <> 0)""".stripMargin

  /** Extraction observability over the deterministic PDF corpus
    * (VERDICT r13 item 1): synthesize one PDF per document whose
    * status class cycles with doc_id (clear / decrypted_rc4 /
    * decrypted_aes / locked / unsupported / malformed — see
    * [[graft.sources.PdfGen]]), decode with the status channel, and
    * aggregate per status: document count + recovered chars. At crawl
    * scale this is the report a pipeline owner watches for invisible
    * data loss — a locked or unsupported file is a counted row here,
    * not a silent empty string. Narrow decode map → 6-group partial
    * agg: no shuffle before the final tiny exchange. */
  def extractReport(s: SparkSession, dir: String): DataFrame =
    graft.sources.PdfText.utlToTextReport(s, graft.sources.PdfGen.pdfTable(s, dir))
      .groupBy("extract_status")
      .agg(count(lit(1)).as("n_docs"),
        sum("extract_chars").as("total_chars"))
      .orderBy("extract_status")

  /** The CID decode gate (r15, VERDICT r14 item 1): every document
    * becomes a ToUnicode-less Identity-H PDF whose embedded TrueType
    * cmap (format 4 under a permuted glyphIdArray for even doc_ids,
    * format 12 for odd — [[graft.sources.PdfGen.cidTable]]) is the
    * ONLY route back to the text, and the gate demands the recovered
    * text BYTE-EXACT per document — the strongest possible check on
    * the r14 inversion path, which until now was spec-pinned but
    * never hash-checked. The DuckDB oracle predicts the exact text
    * from the documents column alone (the sanitize projection + trim),
    * so any inversion defect — wrong subtable, off-by-one segment
    * arithmetic, byte-order slip — diverges the hash. Same topology
    * as [[extractReport]]: narrow synthesize+decode map, no shuffle
    * before the output sort. */
  def extractCid(s: SparkSession, dir: String): DataFrame =
    graft.sources.PdfText.utlToTextReport(s, graft.sources.PdfGen.cidTable(s, dir))
      .select(col("doc_id"), col("extract_status"), col("text"))
      .orderBy("doc_id")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "doc_extract_report" -> (extractReport _),
    "doc_extract_cid" -> (extractCid _),
    "doc_chunk" -> (chunksOrdered _),
    "doc_chunk_chars" -> (chunksByChars _),
    "doc_chunk_sentence" -> (chunksBySentence _),
    "doc_chunk_recursive" -> (chunksRecursive _),
    "doc_chunk_custom" -> (chunksCustom _),
    "doc_chunk_vocab" -> (chunksByVocab _),
    "doc_embed_json_table" -> (embedJsonTable _),
    "doc_pipeline" -> (docPipeline _),
    "vs_chunk_knn" -> (chunkKnn _),
    "vs_context_pack" -> (contextPack _),
    "vs_maxsim" -> (maxSim _))

  val oracleSql: Map[String, String] = Map(
    // mirrors PdfGen's class cycle and sanitize: statuses are a pure
    // function of doc_id % 6; recovered chars for the readable classes
    // equal length(trim(sanitized text)) — extract() trims, and after
    // the printable-ASCII projection the only trimmable chars are
    // spaces, which both engines strip identically.
    "doc_extract_report" ->
      """WITH cls AS (
        |  SELECT doc_id % 6 AS k,
        |    length(trim(regexp_replace(text, '[^\x20-\x7e]', '?', 'g'))) AS chars
        |  FROM documents)
        |SELECT
        |  CASE k WHEN 0 THEN 'clear' WHEN 1 THEN 'decrypted_rc4'
        |         WHEN 2 THEN 'decrypted_aes' WHEN 3 THEN 'locked'
        |         WHEN 4 THEN 'unsupported' ELSE 'malformed' END AS extract_status,
        |  count(*) AS n_docs,
        |  CAST(sum(CASE WHEN k <= 2 THEN chars ELSE 0 END) AS BIGINT) AS total_chars
        |FROM cls GROUP BY 1 ORDER BY 1""".stripMargin,
    // byte-exact text equality through the Identity-H round trip: the
    // oracle never sees a PDF — it predicts the recovered text from
    // the documents column via the same sanitize projection the
    // generator applies (codepoint-wise printable-ASCII '?'
    // substitution, then the trim extract() performs).
    "doc_extract_cid" ->
      """SELECT doc_id, 'clear' AS extract_status,
        |  trim(regexp_replace(coalesce(text, ''), '[^\x20-\x7e]', '?', 'g')) AS text
        |FROM documents ORDER BY doc_id""".stripMargin,
    "doc_chunk" ->
      s"""$chunkCte
         |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
         |  CAST(n_tokens AS BIGINT) AS n_tokens, chunk_text
         |FROM chunks ORDER BY doc_id, chunk_id""".stripMargin,
    // JSON round-trip is identity on these fields; the oracle checks
    // the shredded relational output straight from the chunk CTE.
    "doc_embed_json_table" ->
      s"""$chunkCte
         |SELECT doc_id, CAST(chunk_id AS BIGINT) AS embed_id,
         |  CAST(length(chunk_text) AS BIGINT) AS n_chars,
         |  CAST(n_tokens AS BIGINT) AS n_tokens
         |FROM chunks ORDER BY doc_id, embed_id""".stripMargin,
    "doc_chunk_sentence" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |    list_filter(regexp_split_to_array(lower(trim(text)), '[.!?]+\\s+'),
         |                x -> length(x) > 0) AS sents
         |  FROM documents),
         |s AS (
         |  SELECT doc_id, i - 1 AS pos, sents[i] AS sent,
         |    len(list_filter(regexp_split_to_array(sents[i], '\\s+'),
         |        x -> length(x) > 0))::BIGINT AS nw
         |  FROM t, unnest(generate_series(1, len(sents))) AS u(i)),
         |c AS (
         |  SELECT *, sum(nw) OVER (PARTITION BY doc_id ORDER BY pos
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM s)
         |SELECT doc_id, ((cum - nw) // $SentMaxWords + 1)::BIGINT AS chunk_id,
         |  count(*) AS n_sentences, sum(nw)::BIGINT AS n_tokens,
         |  string_agg(sent, ' ' ORDER BY pos) AS chunk_text
         |FROM c GROUP BY doc_id, chunk_id
         |ORDER BY doc_id, chunk_id""".stripMargin,
    "doc_chunk_recursive" ->
      s"""WITH t AS (
         |  SELECT doc_id, lower(trim(text)) AS t FROM documents),
         |leaves AS (
         |  SELECT doc_id,
         |    flatten(list_transform(
         |      list_filter(regexp_split_to_array(t, '\\n{2,}'), p -> length(p) > 0),
         |      p -> CASE WHEN length(p) <= $RecMax THEN [p]
         |           ELSE flatten(list_transform(
         |             list_filter(regexp_split_to_array(p, '\\n+'), l -> length(l) > 0),
         |             l -> CASE WHEN length(l) <= $RecMax THEN [l]
         |                  ELSE list_filter(regexp_split_to_array(l, '\\s+'),
         |                       w -> length(w) > 0) END))
         |           END)) AS ps
         |  FROM t),
         |p AS (
         |  SELECT doc_id, i - 1 AS pos, ps[i] AS piece, length(ps[i])::BIGINT AS nc
         |  FROM leaves, unnest(generate_series(1, len(ps))) AS u(i)),
         |c AS (
         |  SELECT *, sum(nc) OVER (PARTITION BY doc_id ORDER BY pos
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM p)
         |SELECT doc_id, ((cum - nc) // $RecMax + 1)::BIGINT AS chunk_id,
         |  count(*) AS n_pieces, sum(nc)::BIGINT AS n_chars,
         |  string_agg(piece, ' ' ORDER BY pos) AS chunk_text
         |FROM c GROUP BY doc_id, chunk_id
         |ORDER BY doc_id, chunk_id""".stripMargin,
    "doc_chunk_custom" ->
      s"""WITH t AS (
         |  SELECT doc_id, lower(trim(text)) AS t FROM documents),
         |leaves AS (
         |  SELECT doc_id,
         |    flatten(list_transform(
         |      list_filter(regexp_split_to_array(t, '\\.\\s+'), p -> length(p) > 0),
         |      p -> CASE WHEN length(p) <= $RecMax THEN [p]
         |           ELSE flatten(list_transform(
         |             list_filter(regexp_split_to_array(p, ',\\s+'), l -> length(l) > 0),
         |             l -> CASE WHEN length(l) <= $RecMax THEN [l]
         |                  ELSE list_filter(regexp_split_to_array(l, '\\s+'),
         |                       w -> length(w) > 0) END))
         |           END)) AS ps
         |  FROM t),
         |p AS (
         |  SELECT doc_id, i - 1 AS pos, ps[i] AS piece, length(ps[i])::BIGINT AS nc
         |  FROM leaves, unnest(generate_series(1, len(ps))) AS u(i)),
         |c AS (
         |  SELECT *, sum(nc) OVER (PARTITION BY doc_id ORDER BY pos
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM p)
         |SELECT doc_id, ((cum - nc) // $RecMax + 1)::BIGINT AS chunk_id,
         |  count(*) AS n_pieces, sum(nc)::BIGINT AS n_chars,
         |  string_agg(piece, ' ' ORDER BY pos) AS chunk_text
         |FROM c GROUP BY doc_id, chunk_id
         |ORDER BY doc_id, chunk_id""".stripMargin,
    "doc_chunk_vocab" ->
      s"""WITH toks AS (
         |  SELECT doc_id, i - 1 AS pos, t[i] AS token FROM (
         |    SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
         |      x -> length(x) > 0) AS t FROM documents) s,
         |    unnest(generate_series(1, len(t))) AS u(i)),
         |vocab AS (
         |  SELECT token FROM (
         |    SELECT token, count(*) AS cnt FROM toks GROUP BY 1
         |    ORDER BY cnt DESC, token LIMIT $VocabSize)),
         |costed AS (
         |  SELECT k.doc_id, k.pos, k.token,
         |    CASE WHEN v.token IS NOT NULL THEN 1
         |         ELSE CAST(ceil(length(k.token) / 4.0) AS BIGINT) END AS vt
         |  FROM toks k LEFT JOIN vocab v ON k.token = v.token),
         |c AS (
         |  SELECT *, sum(vt) OVER (PARTITION BY doc_id ORDER BY pos
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM costed)
         |SELECT doc_id, ((cum - vt) // $VocabMax + 1)::BIGINT AS chunk_id,
         |  count(*) AS n_words, sum(vt)::BIGINT AS n_vtokens,
         |  string_agg(token, ' ' ORDER BY pos) AS chunk_text
         |FROM c GROUP BY doc_id, chunk_id
         |ORDER BY doc_id, chunk_id""".stripMargin,
    "doc_chunk_chars" ->
      s"""WITH t AS (
         |  SELECT doc_id, lower(trim(text)) AS t, length(lower(trim(text))) AS n
         |  FROM documents),
         |sized AS (
         |  SELECT doc_id, t,
         |    CASE WHEN n <= $CharMax THEN 1
         |         ELSE (n - $CharMax + $CharStride - 1) // $CharStride + 1 END AS n_chunks
         |  FROM t)
         |SELECT doc_id, CAST(i + 1 AS BIGINT) AS chunk_id,
         |  CAST(length(substr(t, i * $CharStride + 1, $CharMax)) AS BIGINT) AS n_chars,
         |  substr(t, i * $CharStride + 1, $CharMax) AS chunk_text
         |FROM sized, unnest(generate_series(0, n_chunks - 1)) AS u(i)
         |ORDER BY doc_id, chunk_id""".stripMargin,
    "doc_pipeline" ->
      s"""$chunkCte,
         |$weightCte,
         |stats AS (
         |  SELECT doc_id, chunk_id, count(*) AS nnz,
         |    round(1e-9 + sqrt(sum(w * w)::DOUBLE), 4) AS norm
         |  FROM wnz GROUP BY 1, 2)
         |SELECT c.doc_id, CAST(c.chunk_id AS BIGINT) AS chunk_id,
         |  CAST(c.n_tokens AS BIGINT) AS n_tokens,
         |  coalesce(s.nnz, 0)::BIGINT AS nnz, coalesce(s.norm, 0.0) AS norm
         |FROM chunks c LEFT JOIN stats s
         |  ON c.doc_id = s.doc_id AND c.chunk_id = s.chunk_id
         |ORDER BY c.doc_id, c.chunk_id""".stripMargin,
    "vs_maxsim" ->
      s"""$chunkCte,
         |$weightCte,
         |norms AS (
         |  SELECT doc_id, chunk_id, sqrt(sum(w * w)::DOUBLE) AS nrm
         |  FROM wnz GROUP BY 1, 2),
         |qw AS (SELECT chunk_id AS qc, bucket, w AS wq FROM wnz WHERE doc_id = 0),
         |qn AS (SELECT chunk_id AS qc, nrm AS qnrm FROM norms WHERE doc_id = 0),
         |dots AS (
         |  SELECT w.doc_id, w.chunk_id, q.qc, sum(w.w * q.wq) AS dot
         |  FROM wnz w JOIN qw q ON w.bucket = q.bucket
         |  WHERE w.doc_id <> 0 GROUP BY 1, 2, 3),
         |sims AS (
         |  SELECT d.doc_id, d.qc,
         |    round(1e-9 + d.dot::DOUBLE / (n.nrm * qn.qnrm), 4) AS sim
         |  FROM dots d
         |    JOIN norms n ON d.doc_id = n.doc_id AND d.chunk_id = n.chunk_id
         |    JOIN qn ON d.qc = qn.qc),
         |ms AS (SELECT doc_id, qc, max(sim) AS maxsim FROM sims GROUP BY 1, 2)
         |SELECT doc_id, round(1e-9 + sum(maxsim), 4) AS score
         |FROM ms GROUP BY doc_id
         |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
    "vs_context_pack" ->
      s"""$chunkCte,
         |$weightCte,
         |norms AS (
         |  SELECT doc_id, chunk_id, sqrt(sum(w * w)::DOUBLE) AS nrm
         |  FROM wnz GROUP BY 1, 2),
         |q AS (SELECT bucket, w AS wq FROM wnz WHERE doc_id = 0 AND chunk_id = 1),
         |qn AS (SELECT nrm AS qnrm FROM norms WHERE doc_id = 0 AND chunk_id = 1),
         |dots AS (
         |  SELECT w.doc_id, w.chunk_id, sum(w.w * q.wq) AS dot
         |  FROM wnz w JOIN q ON w.bucket = q.bucket GROUP BY 1, 2),
         |topk AS (
         |  SELECT d.doc_id, CAST(d.chunk_id AS BIGINT) AS chunk_id,
         |    round(1e-9 + d.dot / (n.nrm * qn.qnrm), 4) AS sim
         |  FROM dots d JOIN norms n ON d.doc_id = n.doc_id AND d.chunk_id = n.chunk_id, qn
         |  WHERE NOT (d.doc_id = 0 AND d.chunk_id = 1)
         |  ORDER BY sim DESC, d.doc_id, d.chunk_id LIMIT 10),
         |packed AS (
         |  SELECT t.doc_id, t.chunk_id,
         |    CAST(round(t.sim * 10000) AS BIGINT) AS sim_e4,
         |    c.n_tokens::BIGINT AS n_tokens,
         |    row_number() OVER (ORDER BY t.sim DESC, t.doc_id, t.chunk_id) AS rnk,
         |    CAST(sum(c.n_tokens::BIGINT) OVER (
         |      ORDER BY t.sim DESC, t.doc_id, t.chunk_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
         |  FROM topk t JOIN chunks c
         |    ON t.doc_id = c.doc_id AND t.chunk_id = c.chunk_id)
         |SELECT rnk, doc_id, chunk_id, sim_e4, n_tokens, cum_tokens,
         |  (CASE WHEN cum_tokens <= 120 THEN 1 ELSE 0 END)::BIGINT AS in_context
         |FROM packed ORDER BY rnk""".stripMargin,
    "vs_chunk_knn" ->
      s"""$chunkCte,
         |$weightCte,
         |norms AS (
         |  SELECT doc_id, chunk_id, sqrt(sum(w * w)::DOUBLE) AS nrm
         |  FROM wnz GROUP BY 1, 2),
         |q AS (SELECT bucket, w AS wq FROM wnz WHERE doc_id = 0 AND chunk_id = 1),
         |qn AS (SELECT nrm AS qnrm FROM norms WHERE doc_id = 0 AND chunk_id = 1),
         |dots AS (
         |  SELECT w.doc_id, w.chunk_id, sum(w.w * q.wq) AS dot
         |  FROM wnz w JOIN q ON w.bucket = q.bucket GROUP BY 1, 2)
         |SELECT d.doc_id, CAST(d.chunk_id AS BIGINT) AS chunk_id,
         |  round(1e-9 + d.dot / (n.nrm * qn.qnrm), 4) AS sim
         |FROM dots d JOIN norms n ON d.doc_id = n.doc_id AND d.chunk_id = n.chunk_id, qn
         |WHERE NOT (d.doc_id = 0 AND d.chunk_id = 1)
         |ORDER BY sim DESC, d.doc_id, d.chunk_id LIMIT 10""".stripMargin)
}
