package graft.operators

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.SafeRound.round

import graft.Tables
import graft.functions.PortableHash

/** Embedding-model management — the Spark stand-in for the reference's
  * ONNX model registry (/root/reference/models/load_models.py:
  * DBMS_VECTOR.LOAD_ONNX_MODEL / DROP_ONNX_MODEL / USER_MINING_MODELS,
  * and models/models.json).
  *
  * Models here are deterministic hashing-trick embedders (the
  * container ships no ONNX runtime — by mandate the model itself is a
  * stand-in, the management surface and the embedding dataflow are
  * real). A loaded model is (name, dim, seeds); `embed` produces the
  * per-doc sparse weight table exactly like DocPipeline's embedder,
  * parameterized by the model.
  */
object ModelRegistry {

  /** Registry record — mirrors the models.json entry shape
    * (models/models.json: id / name / description / output /
    * db_model_name; the download URL is deliberately not modeled). */
  final case class EmbedModel(name: String, dim: Int, seed: Int,
      id: String = "", description: String = "", file: String = "")

  /** Default catalog — mirrors models/models.json (one all-MiniLM
    * entry, 384-dim); a second smaller model exercises multi-model
    * management. */
  val catalog: Seq[EmbedModel] = Seq(
    EmbedModel("ALL_MINILM_L12_V2", 384, 101,
      id = "all-minilm", description = "general-purpose text embedding (384-dim)",
      file = "all_MiniLM_L12_v2.onnx"),
    EmbedModel("MINI_HASH_64", 64, 303,
      id = "mini-hash", description = "compact 64-dim hashing-trick embedder",
      file = "mini_hash_64.onnx"))

  /** model_catalog query: the registry metadata itself as a relation —
    * the models.json record shape (id, db model name, dim, artifact
    * file, description) that load_models.py prints and keys on. */
  def catalogReport(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    catalog.map(m => (m.id, m.name, m.dim.toLong, m.file, m.description))
      .toDF("model_id", "db_model_name", "dim", "file", "description")
      .orderBy("model_id")
  }

  /** The LOAD_ONNX_MODEL / DROP_ONNX_MODEL registry state. Not a
    * derived artifact, so it stays out of [[graft.functions.Artifacts]]:
    * no corpus stamp or LRU trim may unload a model. */
  private val loaded = TrieMap.empty[String, EmbedModel]

  /** DBMS_VECTOR.LOAD_ONNX_MODEL equivalent. */
  def load(m: EmbedModel, force: Boolean = false): Boolean =
    if (force) { loaded.put(m.name, m); true }
    else loaded.putIfAbsent(m.name, m).isEmpty

  /** DBMS_VECTOR.DROP_ONNX_MODEL equivalent. */
  def drop(name: String): Boolean = loaded.remove(name).isDefined

  /** USER_MINING_MODELS equivalent. */
  def list(): Seq[String] = loaded.keys.toSeq.sorted

  def get(name: String): Option[EmbedModel] = loaded.get(name)

  /** Exploded (doc_id, token) stream — shared by every model's embed
    * in the session (persisted once as an [[graft.functions.Artifacts]]
    * frame of the corpus dir). */
  private def tokenStream(s: SparkSession, dir: String): DataFrame =
    graft.functions.Artifacts.frame(s, "modelTokens", dir) {
      // per-token md5 hashing downstream is compute-dense: spread past
      // the file's byte-split parallelism (no-op at real corpus sizes)
      Tables.spread(s, dir, "documents")
        .select(col("doc_id"),
          explode(graft.functions.TextFunctions.tokens(col("text"))).as("token"))
    }

  /** Sparse embedding weights of each document under model `m`:
    * (doc_id, bucket, w). One md5 digest per (token, model) feeds BOTH
    * the bucket word and the sign word (phashWord words 0 and 1 of the
    * same digest) — materialized in a child projection so the hash
    * isn't computed twice. */
  def embed(s: SparkSession, dir: String, m: EmbedModel): DataFrame =
    graft.functions.Artifacts.frame(s, s"modelEmbed:${m.name}:${m.dim}:${m.seed}", dir) {
      tokenStream(s, dir)
        .select(col("doc_id"),
          md5(concat(lit(s"${m.seed}:"), col("token"))).as("dg"))
        .groupBy(col("doc_id"),
          pmod(conv(substring(col("dg"), 1, 8), 16, 10).cast("long"), lit(m.dim)).as("bucket"))
        .agg(sum(conv(substring(col("dg"), 9, 8), 16, 10).cast("long") % 2 * 2 - 1).as("w"))
        .filter(col("w") =!= 0)
    }

  /** model_registry query: load the catalog, embed the corpus under
    * every loaded model, report per-model stats. */
  def registryReport(s: SparkSession, dir: String): DataFrame = {
    catalog.foreach(m => load(m, force = true))
    val frames = list().flatMap(get).map { m =>
      embed(s, dir, m)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("nnz"),
          sqrt(sum(col("w") * col("w")).cast("double")).as("nrm"))
        .agg(count(lit(1)).as("n_docs"),
          round(avg("nnz"), 4).as("avg_nnz"),
          round(avg("nrm"), 4).as("avg_norm"))
        .select(lit(m.name).as("model"), lit(m.dim.toLong).as("dim"),
          col("n_docs"), col("avg_nnz"), col("avg_norm"))
    }
    frames.reduce(_ unionAll _).orderBy("model")
  }

  /** Deterministic evaluation sample: hash-selected query docs.
    * The modulus is derived from the corpus size —
    * greatest(AbSampleMod, n_docs / AbSampleCap) — so the sample is
    * 1/20 of a small corpus but CAPPED near AbSampleCap docs on a
    * large one: the sample × corpus scoring in `neighbors` stays
    * O(cap × N), not O(N² / 20), at 100 TB. Both engines compute the
    * same modulus from the same count, so the query remains
    * hash-checkable (identical at every driver SF, where the floor
    * of 20 still binds). */
  val AbSampleMod = 20
  val AbSampleCap = 500
  val AbSampleSeed = 17
  private[graft] def abSampleMod(nDocs: Long): Int =
    math.max(AbSampleMod.toLong, nDocs / AbSampleCap).toInt
  private def inSample(c: org.apache.spark.sql.Column, mod: Int) =
    PortableHash.phash(c, AbSampleSeed) % mod === 0

  /** Top-k neighbors OF THE SAMPLED QUERY DOCS under model `m`.
    * Weights are densified per doc and scored sample × corpus through
    * the codegen'd float dot kernel — integer weights are exact in
    * float32 and their dot exact in double, so the value is
    * bit-identical to the sparse integer formulation (the oracle),
    * without the bucket join's pair-row blowup on dense-ish vectors. */
  private def neighbors(s: SparkSession, dir: String, m: EmbedModel, k: Int,
      sampleMod: Int): DataFrame = {
    val w = embed(s, dir, m)
    val norms = w.groupBy("doc_id")
      .agg(sqrt(sum(col("w") * col("w")).cast("double")).as("nrm"))
    // Persisted: without a materialization boundary, CollapseProject
    // inlines the O(dim × nnz) transform/element_at vector build into
    // the cross-join projection, re-running it per scored PAIR (≈6 s
    // at sf0.1) instead of once per doc. The cached frame also hands
    // the join flat UnsafeArrayData floats (bulk-copy toFloatArray).
    val dense = graft.functions.Artifacts.frame(s, s"modelDense:${m.name}", dir) {
      w.groupBy(col("doc_id"))
        .agg(map_from_entries(collect_list(
          struct(col("bucket").cast("int"), col("w").cast("float")))).as("wm"))
        .select(col("doc_id"),
          transform(sequence(lit(0), lit(m.dim - 1)),
            i => coalesce(element_at(col("wm"), i), lit(0f))).as("dv"))
    }
    val q = dense.filter(inSample(col("doc_id"), sampleMod))
      .select(col("doc_id").as("da"), col("dv").as("qv"))
    val dots = dense.select(col("doc_id").as("db"), col("dv"))
      .crossJoin(broadcast(q))
      .filter(col("da") =!= col("db"))
      .select(col("da"), col("db"),
        (-graft.functions.FloatVecDistance.dot(col("qv"), col("dv"))).as("dot"))
    // bounded top-k aggregate on key (-sim, id) — identical order to a
    // (sim DESC, id) window rank, but the shuffle carries #sample × k
    // rows instead of every scored pair.
    dots
      .join(broadcast(norms.select(col("doc_id").as("da"), col("nrm").as("na"))), "da")
      .join(broadcast(norms.select(col("doc_id").as("db"), col("nrm").as("nb"))), "db")
      .select(col("da"), col("db"),
        round(col("dot") / (col("na") * col("nb")), 4).as("sim"))
      .groupBy(col("da"))
      .agg(graft.functions.TopKAgg.topkByDist(-col("sim"), col("db"), k).as("top"))
      .select(col("da").as("doc_id"), explode(col("top")))
      .select(col("doc_id"), col("col.id").as("nbr"))
  }

  /** A/B model evaluation: for each sampled query doc, how many of its
    * top-3 neighbors under model A survive under model B — the
    * retrieval-overlap histogram that gates an embedding-model swap. */
  def abOverlap(s: SparkSession, dir: String): DataFrame = {
    val Seq(a, b) = catalog.sortBy(_.name).take(2)
    // one count action sizes the eval sample; an eval job reads the
    // corpus many times over, so the extra metadata-only pass is noise
    val mod = abSampleMod(Tables.documents(s, dir).count())
    val na = neighbors(s, dir, a, 3, mod)
    val nb = neighbors(s, dir, b, 3, mod)
    // both neighbor tables and the match counts are SAMPLE-bounded
    // (≤ sample × k ≤ AbSampleCap × 3 rows at any corpus size), so the
    // joins are declared broadcast instead of letting size estimates
    // pick sort-merge (r17: the initial plan carried two
    // SortMergeJoins — two exchanges + sorts — on tables whose bound
    // is a few thousand rows by construction; guide §3.1, hint when
    // you KNOW a side is small).
    val matches = na.join(broadcast(nb), Seq("doc_id", "nbr"))
      .groupBy("doc_id").agg(count(lit(1)).as("m"))
    Tables.documents(s, dir).select(col("doc_id"))
      .filter(inSample(col("doc_id"), mod))
      .join(broadcast(matches), Seq("doc_id"), "left")
      .select(coalesce(col("m"), lit(0L)).as("overlap"))
      .groupBy("overlap")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("overlap")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "model_registry" -> (registryReport _),
    "model_catalog" -> (catalogReport _),
    "model_ab_overlap" -> (abOverlap _))

  private def catalogRowSql(m: EmbedModel): String =
    s"""SELECT '${m.id}' AS model_id, '${m.name}' AS db_model_name,
       |  CAST(${m.dim} AS BIGINT) AS dim, '${m.file}' AS file,
       |  '${m.description}' AS description""".stripMargin

  private def modelSql(m: EmbedModel): String =
    s"""SELECT '${m.name}' AS model, CAST(${m.dim} AS BIGINT) AS dim,
       |  count(*) AS n_docs, round(1e-9 + avg(nnz), 4) AS avg_nnz,
       |  round(1e-9 + avg(nrm), 4) AS avg_norm
       |FROM (
       |  SELECT doc_id, count(*) AS nnz, sqrt(sum(w * w)::DOUBLE) AS nrm
       |  FROM (
       |    SELECT doc_id,
       |      CAST(${PortableHash.duckSqlWord("token", m.seed, 0)} % ${m.dim} AS BIGINT) AS bucket,
       |      sum(CAST(${PortableHash.duckSqlWord("token", m.seed, 1)} % 2 AS BIGINT) * 2 - 1) AS w
       |    FROM (
       |      SELECT doc_id, unnest(list_filter(
       |        regexp_split_to_array(lower(trim(text)), '\\s+'),
       |        tok -> length(tok) > 0)) AS token
       |      FROM documents)
       |    GROUP BY 1, 2)
       |  WHERE w <> 0 GROUP BY doc_id)""".stripMargin

  /** The corpus-derived sample modulus, as DuckDB SQL — the same
    * greatest(floor, n_docs / cap) both the Spark side computes in
    * `abSampleMod` (references the `smod` CTE defined in the
    * model_ab_overlap statement). */
  private val sampleModSql = "(SELECT m FROM smod)"

  /** Per-model neighbor CTE chain (suffix keeps the two models'
    * pipelines apart in one statement). */
  private def nbrCtes(m: EmbedModel, suf: String): String =
    s"""w_$suf AS (
       |  SELECT doc_id,
       |    CAST(${PortableHash.duckSqlWord("token", m.seed, 0)} % ${m.dim} AS BIGINT) AS bucket,
       |    sum(CAST(${PortableHash.duckSqlWord("token", m.seed, 1)} % 2 AS BIGINT) * 2 - 1) AS w
       |  FROM tok GROUP BY 1, 2),
       |wnz_$suf AS (SELECT * FROM w_$suf WHERE w <> 0),
       |nrm_$suf AS (SELECT doc_id, sqrt(sum(w * w)::DOUBLE) AS nrm FROM wnz_$suf GROUP BY 1),
       |spdot_$suf AS (
       |  SELECT a.doc_id AS da, b.doc_id AS db, sum(a.w * b.w) AS dot
       |  FROM wnz_$suf a JOIN wnz_$suf b
       |    ON a.bucket = b.bucket AND a.doc_id <> b.doc_id
       |  WHERE ${PortableHash.duckSql("a.doc_id::VARCHAR", AbSampleSeed)} % $sampleModSql = 0
       |  GROUP BY 1, 2),
       |alldocs_$suf AS (SELECT DISTINCT doc_id FROM wnz_$suf),
       |dot_$suf AS (
       |  -- candidate set = sample × corpus (zero-overlap pairs score 0),
       |  -- mirroring the dense-kernel scoring on the Spark side
       |  SELECT q.doc_id AS da, t.doc_id AS db, coalesce(sp.dot, 0) AS dot
       |  FROM alldocs_$suf q JOIN alldocs_$suf t ON q.doc_id <> t.doc_id
       |  LEFT JOIN spdot_$suf sp ON sp.da = q.doc_id AND sp.db = t.doc_id
       |  WHERE ${PortableHash.duckSql("q.doc_id::VARCHAR", AbSampleSeed)} % $sampleModSql = 0),
       |nbr_$suf AS (
       |  SELECT da AS doc_id, db AS nbr FROM (
       |    SELECT da, db, row_number() OVER (PARTITION BY da
       |      ORDER BY round(1e-9 + dot::DOUBLE / (na.nrm * nb.nrm), 4) DESC, db) AS rnk
       |    FROM dot_$suf d
       |      JOIN nrm_$suf na ON d.da = na.doc_id
       |      JOIN nrm_$suf nb ON d.db = nb.doc_id)
       |  WHERE rnk <= 3)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "model_catalog" ->
      catalog.sortBy(_.id).map(catalogRowSql)
        .mkString("", "\nUNION ALL\n", "\nORDER BY model_id"),
    "model_registry" ->
      catalog.sortBy(_.name).map(modelSql)
        .mkString("", "\nUNION ALL\n", "\nORDER BY model"),
    "model_ab_overlap" -> {
      val Seq(a, b) = catalog.sortBy(_.name).take(2)
      s"""WITH smod AS (
         |  SELECT greatest($AbSampleMod, count(*) // $AbSampleCap) AS m
         |  FROM documents),
         |tok AS (
         |  SELECT doc_id, unnest(list_filter(
         |    regexp_split_to_array(lower(trim(text)), '\\s+'),
         |    tok -> length(tok) > 0)) AS token
         |  FROM documents),
         |${nbrCtes(a, "a")},
         |${nbrCtes(b, "b")},
         |matches AS (
         |  SELECT x.doc_id, count(*) AS m
         |  FROM nbr_a x JOIN nbr_b y ON x.doc_id = y.doc_id AND x.nbr = y.nbr
         |  GROUP BY 1)
         |SELECT coalesce(m.m, 0)::BIGINT AS overlap, count(*) AS n_docs
         |FROM documents d LEFT JOIN matches m ON d.doc_id = m.doc_id
         |WHERE ${PortableHash.duckSql("d.doc_id::VARCHAR", AbSampleSeed)} % $sampleModSql = 0
         |GROUP BY 1 ORDER BY 1""".stripMargin
    })
}
