package graft.operators

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Product quantization (PQ) — the memory-compression scale path for
  * ANN serving (Jégou et al., "Product Quantization for Nearest
  * Neighbor Search", TPAMI 2011; the same trade the reference's vector
  * index family exposes through Oracle's quantized index options,
  * beside the INT8 storage already covered by `vs_knn_int8`).
  *
  * The 64-dim float vector (256 B) is compressed to ONE 32-bit code:
  * 8 subspaces × 8 dims, 16 codewords per subspace → 4 bits per
  * subspace, packed `code = Σ code_m << 4m`. That is 64× smaller than
  * the raw vector — at 100 TB of embeddings the codes table is ~1.6 TB
  * and fits executor memory fleet-wide, which is exactly why IVF-PQ is
  * the standard billion-vector serving layout.
  *
  * Spark shape:
  *  - build: one k-means|| fit per subspace over the corpus slice
  *    (distributed; 8 small fits, built once like the IVF model);
  *    codebooks are 8×16×8 doubles — trivially broadcast.
  *  - encode: one narrow typed map per vector (argmin over 16
  *    codewords per subspace), emitting (vec_id, packed int).
  *  - search (ADC, asymmetric distance computation): the query builds
  *    a 8×16 lookup table of subspace distances DRIVER-side (128
  *    doubles, a literal), then each vector's approximate distance is
  *    `Σ_m table[m][(code >> 4m) & 15]` — a pure codegen expression
  *    over the packed int (shiftright/bitwise-and/element_at), no
  *    shuffle before the bounded top-k.
  *  - vectors are L2-NORMALIZED before encoding, so subspace-L2 ADC
  *    ranks by `‖q−x‖² = 2−2cos` — i.e. cosine order, matching the
  *    exact operators' metric.
  *
  * The k-means FIT stays spec-only (not SQL-reproducible), but the
  * serving path IS oracle-checked: `build` persists the codes and
  * codebooks as parquet artifacts (the real at-rest index layout),
  * and the DuckDB oracle reads them back and independently reproduces
  * the whole ADC topology — normalized query, 8×16 subspace distance
  * table, packed-code unpack via shift/mask, top-50 shortlist, exact
  * cosine re-rank. AnnSpec additionally asserts shortlist recall vs
  * the exact top-k and build determinism.
  */
object PqIndex {
  val NumSubspaces = 8
  val NumCodewords = 16
  val Seed = 7L

  /** At-rest location of the persisted index artifacts (codes +
    * codebooks) for a given corpus dir; the oracle SQL is bound to the
    * same path via the __PQDIR__ placeholder in SparkEntry. */
  def dumpDir(dir: String): String = graft.functions.Scratch.pathOf("pq", dir)

  /** At-rest location of the RESIDUAL codes + codebooks — the composed
    * IVF-PQ layout's own artifact set (__PQRDIR__ in the oracle SQL).
    * Kept separate from the flat PQ dump: the two encode different
    * quantities (x̂ vs x̂ − ĉ) and the flat codes remain the standalone
    * vs_knn_pq index. */
  def resDumpDir(dir: String): String = graft.functions.Scratch.pathOf("pqr", dir)

  /** codebooks(m)(k) = the k-th codeword of subspace m (dsub doubles). */
  type Codebooks = Array[Array[Array[Double]]]

  private def normalized(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"),
      transform(col("embedding"),
        x => x.cast("double") / sqrt(aggregate(col("embedding"), lit(0.0d),
          (a, v) => a + v.cast("double") * v.cast("double")))).as("nvec"))

  /** Training budget per codeword for the codebook fit — faiss's
    * max_points_per_centroid convention applied to PQ (each
    * subquantizer clusters into [[NumCodewords]] cells, so the sample
    * is 256·16 = 4096 rows): beyond that the codeword estimates stop
    * improving and training cost is pure waste. Never binds at the
    * gate corpora (N ≤ 2000 ≤ 4096 — artifacts and hashes
    * bit-unchanged, spec-pinned); where it engages the 8 sub-fits
    * train on a constant-size sample instead of 8 passes over the
    * corpus (measured 78.0 → const-bound at 200k vectors, 196.3 s →
    * const-bound at 600k — SURVEY §6). Encoding still covers every
    * vector, like IVF assignment. */
  val TrainPointsPerCodeword = 256

  /** Sampling modulus for the codebook training set — 1 until N
    * exceeds 256·NumCodewords; pure in n so specs can pin both
    * regimes. Stride-on-vec_id like IvfIndex.trainMod: deterministic,
    * so the bit-exact-reproducibility property below is preserved. */
  private[graft] def trainMod(n: Long): Long =
    math.max(1L, math.ceil(
      n.toDouble / (TrainPointsPerCodeword.toLong * NumCodewords)).toLong)

  /** Fit the per-subspace codebooks on an already-normalized frame.
    * NOT memoized — AnnSpec fits twice to assert that a fixed seed on
    * fixed data yields bit-identical codebooks, the reproducibility
    * property an incremental 100 TB index rebuild relies on. */
  private[graft] def fitOn(norm: DataFrame, dim: Int,
      m: Int = NumSubspaces): Codebooks = {
    // same fail-loud divisibility contract as buildResidual (ADVICE
    // r12): a non-divisor would silently drop the trailing dims
    require(dim % m == 0,
      s"PQ subspace count $m must divide the embedding dim $dim")
    val dsub = dim / m
    val tm = trainMod(norm.count())
    // undersample guard shared with the IVF fit (ADVICE r10): sparse
    // id spaces fall back to hash-stride, then to the full frame
    val train = IvfIndex.guardedStrideSample(norm, tm, minRows = NumCodewords)
    (0 until m).toArray.map { mi =>
      val sliced = train.select(
        array_to_vector(slice(col("nvec"), mi * dsub + 1, dsub)).as("features"))
      new KMeans().setK(NumCodewords).setSeed(Seed + mi).setMaxIter(20)
        .setFeaturesCol("features").setPredictionCol("cw")
        .fit(sliced).clusterCenters.map(_.toArray)
    }
  }

  /** Convenience: normalize + fit, from scratch every call. */
  def fitCodebooks(s: SparkSession, dir: String): Codebooks = {
    val norm = normalized(Tables.embeddings(s, dir)).cache()
    val dim = norm.select(size(col("nvec"))).head().getInt(0)
    val out = fitOn(norm, dim)
    norm.unpersist()
    out
  }

  /** Nearest-codeword encode of one vector against the codebooks —
    * shared by the flat and residual builds. Returns the packed code
    * as a Long (4 bits per subspace, so ≤ 16 subspaces); m ≤ 8 fits
    * an Int and the callers narrow it to keep the 32-bit at-rest
    * layout bit-identical at the default geometry. */
  private def packOne(v: Seq[Double], cbs: Codebooks): Long = {
    var packed = 0L
    var mi = 0
    while (mi < cbs.length) {
      val cb = cbs(mi)
      val off = mi * (v.length / cbs.length)
      var best = 0; var bestD = Double.MaxValue
      var k = 0
      while (k < cb.length) {
        var d = 0.0; var j = 0
        while (j < cb(k).length) {
          val diff = v(off + j) - cb(k)(j); d += diff * diff; j += 1
        }
        if (d < bestD) { bestD = d; best = k }
        k += 1
      }
      packed |= best.toLong << (4 * mi)
      mi += 1
    }
    packed
  }

  /** Persist codes + codebooks under `dump` and return the read-back
    * codes frame — every consumer (and the DuckDB oracle) scans the
    * same persisted bytes. The codes table is O(corpus): written
    * sharded across an EXPLICIT partition count (an expression-only
    * repartition lets AQE coalesce a small shuffle back to one task —
    * the exact failure mode this guards against); the shuffle moves
    * 12-byte rows — noise next to the encode. */
  private def persistArtifacts(s: SparkSession, dump: String,
      codes: DataFrame, codebooks: Codebooks, rows: Long): DataFrame = {
    import s.implicits._
    // shard count from the CODES table's own size (~16 B/row), not the
    // session's core-count-floored shuffle partitions — see
    // GraftSession.artifactShards.
    val shards = graft.GraftSession.artifactShards(rows * 16L)
    codes.repartition(shards, col("vec_id"))
      .write.mode("overwrite").parquet(s"$dump/codes.parquet")
    val cbRows = for {
      (cb, mi) <- codebooks.zipWithIndex.toSeq
      (cw, k) <- cb.zipWithIndex
    } yield (mi, k, cw.toSeq)
    cbRows.toDF("mi", "k", "cw")
      .coalesce(1).write.mode("overwrite").parquet(s"$dump/codebooks.parquet")
    s.read.parquet(s"$dump/codes.parquet")
  }

  /** Fit per-subspace codebooks and encode the corpus. Returns the
    * codes table (vec_id, code int) and the codebooks. The PQ index is
    * a persistent artifact: built once per [[graft.functions.Artifacts]]
    * entry of the corpus dir. */
  def build(s: SparkSession, dir: String): (DataFrame, Codebooks) =
    graft.functions.Artifacts.get(s, "pq", dir) {
      val norm = normalized(Tables.embeddings(s, dir)).cache()
      val dim = norm.select(size(col("nvec"))).head().getInt(0)
      val codebooks: Codebooks = fitOn(norm, dim)
      import s.implicits._
      val bc = s.sparkContext.broadcast(codebooks)
      val codes = norm.as[(Long, Seq[Double])]
        .map { case (id, v) => (id, packOne(v, bc.value).toInt) }
        .toDF("vec_id", "code")
      // persist the index artifacts: the codes table is the 4-byte
      // at-rest layout (what a 100 TB deployment keeps resident), the
      // codebooks are its 8×16×8-double dictionary.
      val out = persistArtifacts(s, dumpDir(dir), codes, codebooks,
        IvfIndex.corpusCount(s, dir))
      norm.unpersist()
      (out, codebooks)
    }

  /** L2-normalize one vector driver-side: the squares summed left to
    * right from 0.0, then each component divided by the root. The
    * centroid side of the residual and the query side of every ADC
    * table. */
  private[graft] def l2norm(a: Array[Double]): Array[Double] = {
    var ss = 0.0; var i = 0
    while (i < a.length) { ss += a(i) * a(i); i += 1 }
    val n = math.sqrt(ss)
    a.map(_ / n)
  }

  /** RESIDUAL-capable build for the composed IVF-PQ layout — FAISS
    * IVFPQ's `by_residual` switch (Jégou et al. 2011 §IV) made
    * data-adaptive. In residual mode, codes quantize
    * r = x̂ − ĉ(assign(x)) against the UNIT-normalized centroid of the
    * vector's own IVF cell: when cells are tight (real embedding
    * corpora cluster), residual norms are a fraction of vector norms
    * and the same 32-bit budget spends its codewords on a much
    * tighter ball — the standard recall lift at unchanged code size.
    * When cells are NOT tight, residual encoding is
    * counterproductive: on the near-uniform synthetic gate corpus the
    * residuals measure LARGER than the vectors themselves (mean
    * ‖x̂ − ĉ‖ = 1.13 vs ‖x̂‖ = 1 at sf0.1, per-dim std 0.141 vs
    * 0.125) and blind residual encoding measurably LOWERED shortlist
    * recall (0.345 vs 0.43 @5, SURVEY §6). So the mode is chosen at
    * build time by the quantity that determines k-means distortion at
    * a fixed codebook budget — the total variance of the encoded
    * distribution: residual iff E‖x̂ − ĉ‖² < Var(x̂) = 1 − ‖E x̂‖²
    * (E[r] ≈ 0 is not subtracted — the simplification only ever
    * favors flat, the safe side). One aggregate pass, no second fit.
    *
    * The choice is persisted as an OFFSET TABLE (cid → subtracted
    * vector: ĉ in residual mode, 0⃗ in flat mode), giving ONE code
    * path in both engines — zero offsets degenerate the residual
    * arithmetic to flat encoding bit-exactly, and the DuckDB oracle
    * replays whichever mode it finds in the artifacts. One shared
    * codebook set across cells (the FAISS default; per-cell codebooks
    * are nlist× the dictionary for marginal gain).
    *
    * `forceMode` pins the mode instead of the variance rule (Some(true)
    * = residual). `m` is the subspace count at a fixed 4 bits each, so
    * the code is 4·m bits: m=8 the 32-bit default, m=16 a 64-bit code
    * with half the subspace width. A finer codec has fewer ADC ties, so
    * the same declared recall target needs a SHORTER shortlist (the r11
    * finding: the 0.95-target shortlist tracks codec CROWDING, not N),
    * at 2× the code bytes and per-candidate lookups. The flat
    * standalone vs_knn_pq codec stays fixed at 8×16 — its oracle
    * reproduces the packed layout literally.
    *
    * Derived from the SAME persisted IVF artifacts the serving path
    * probes (`index` = the assignment frame, `centroids` = the fit
    * dictionary), so encode-time and serve-time cells can never
    * disagree. Cached in [[graft.functions.Artifacts]] with the IVF
    * geometry, mode and m in the name, so a non-default build never
    * collides with the default entry; artifacts persist only for the
    * default geometry, no forced mode and the default m (a sizing
    * build can't poison the oracle's artifact dir). Build cost is one
    * narrow join + typed map over the corpus — same shape as the flat
    * encode. */
  def buildResidual(s: SparkSession, dir: String,
      index: DataFrame, centroids: Array[Array[Double]],
      forceMode: Option[Boolean] = None,
      m: Int = NumSubspaces)
      : (DataFrame, Codebooks, Array[Array[Double]]) = {
    require(m >= 1 && m <= 16, s"PQ subspace count $m outside the 4-bit packing range")
    val isDefaultGeometry =
      centroids.length == IvfIndex.defaultNlist(IvfIndex.corpusCount(s, dir))
    // a forced mode (test/measurement) is cached under its own name —
    // None (adaptive) stays the production entry; the codes frame is
    // cached in memory when not persisted, and released with it
    type Res = (DataFrame, Codebooks, Array[Array[Double]])
    graft.functions.Artifacts.held[Res](s, s"pqResidual:${centroids.length}:$forceMode:$m", dir,
        _._1.unpersist()) {
      import s.implicits._
      val ncent = centroids.map(l2norm)
      val bcCent = s.sparkContext.broadcast(ncent)
      val dim = ncent(0).length
      // dsub = dim/m drops the trailing dim % m dimensions from fit,
      // encode, AND ADC when it doesn't divide — silent ranking
      // degradation with no signal (ADVICE r12). Fail loud instead;
      // dim is first known here (the centroid dictionary's width).
      require(dim % m == 0,
        s"PQ subspace count $m must divide the embedding dim $dim " +
          "(a non-divisor silently truncates the trailing dims)")
      val assigned = normalized(Tables.embeddings(s, dir))
        .join(index.select(col("vec_id"), col("centroid_id")), "vec_id")
        .select(col("vec_id"), col("nvec"), col("centroid_id"))
        .as[(Long, Seq[Double], Int)].cache()
      val byResidual = forceMode.getOrElse {
        // one distributed pass: (Σ‖x̂−ĉ‖², Σx̂, n) → the variance rule
        val (sumR2, sumVec, n) = assigned.map { case (_, v, cid) =>
          val c = bcCent.value(cid)
          var r2 = 0.0; var j = 0
          while (j < c.length) { val d = v(j) - c(j); r2 += d * d; j += 1 }
          (r2, v.toArray, 1L)
        }.reduce { (a, b) =>
          val sv = a._2.clone()
          var j = 0; while (j < sv.length) { sv(j) += b._2(j); j += 1 }
          (a._1 + b._1, sv, a._3 + b._3)
        }
        val meanR2 = sumR2 / n
        val meanNormSq = sumVec.map(x => x / n).map(x => x * x).sum
        meanR2 < 1.0 - meanNormSq
      }
      val offsets: Array[Array[Double]] =
        if (byResidual) ncent else ncent.map(c => Array.fill(c.length)(0.0))
      val bcOff = s.sparkContext.broadcast(offsets)
      val resid = assigned
        .map { case (id, v, cid) =>
          val c = bcOff.value(cid)
          (id, v.toArray.zipWithIndex.map { case (x, j) => x - c(j) }.toSeq)
        }.toDF("vec_id", "nvec").cache()
      val codebooks: Codebooks = fitOn(resid, dim, m)
      val bc = s.sparkContext.broadcast(codebooks)
      // m ≤ 8 keeps the 32-bit at-rest code (bit-identical default
      // artifacts); a finer codec needs the 64-bit packing
      val codes =
        if (m <= 8) resid.as[(Long, Seq[Double])]
          .map { case (id, v) => (id, packOne(v, bc.value).toInt) }
          .toDF("vec_id", "code")
        else resid.as[(Long, Seq[Double])]
          .map { case (id, v) => (id, packOne(v, bc.value)) }
          .toDF("vec_id", "code")
      // persist only the production entry (default geometry, no
      // forced mode, default m): a forced-mode test/measurement build
      // must not overwrite the artifact dir out from under the cached
      // read-back frames of the other mode
      val out =
        if (isDefaultGeometry && forceMode.isEmpty && m == NumSubspaces) {
          val dump = resDumpDir(dir)
          offsets.zipWithIndex.map { case (o, i) => (i, o.toSeq) }.toSeq
            .toDF("cid", "ovec").coalesce(1)
            .write.mode("overwrite").parquet(s"$dump/offsets.parquet")
          persistArtifacts(s, dump, codes, codebooks,
            IvfIndex.corpusCount(s, dir))
        } else codes.cache()
      out.count() // materialize before dropping the encode frames
      resid.unpersist(); assigned.unpersist()
      (out, codebooks, offsets)
    }
  }

  /** ADC scan: approximate distance of every code to `query` via the
    * driver-built 8×16 lookup table, as a single codegen expression
    * over the packed int. Returns (vec_id, adist). */
  def adcScores(codes: DataFrame, codebooks: Codebooks,
      query: Array[Double]): DataFrame = {
    val dsub = query.length / codebooks.length
    val table: Seq[Seq[Double]] = codebooks.zipWithIndex.map { case (cb, mi) =>
      cb.toSeq.map { cw =>
        var d = 0.0; var j = 0
        while (j < dsub) { val diff = query(mi * dsub + j) - cw(j); d += diff * diff; j += 1 }
        d
      }
    }.toSeq
    // statically unrolled: 8 element_at lookups summed — a flat
    // codegen expression, no array materialization per row
    val score = table.zipWithIndex.map { case (sub, mi) =>
      element_at(typedLit(sub),
        (shiftright(col("code"), mi * 4).bitwiseAND(15) + 1).cast("int"))
    }.reduce(_ + _)
    codes.select(col("vec_id"), score.as("adist"))
  }

  /** RESIDUAL batch-ADC tables: one flat 128-double lookup row per
    * (query, probed cell) — `adc(mi*NumCodewords+k) =
    * ‖(q̂ − ĉ_cell)_sub(mi) − cw(mi)(k)‖²`, so
    * `‖q̂ − x̂‖² = ‖(q̂ − ĉ) − r‖² ≈ Σ_m adc[m][code_m]` for a candidate
    * x̂ = ĉ + r encoded in that cell. Input frame needs
    * (qid, centroid_id, qv); output (qid, centroid_id, adc). The frame
    * is |queries| × nprobe rows — answer-sized, so the interpreted
    * higher-order functions are fine here (the corpus-sized
    * per-candidate work stays the codegen [[adcScoreOver]]).
    *
    * PERSIST the result before joining it against a corpus-sized
    * side: the returned frame is lazy, and a broadcast join's
    * build-side projection is evaluated per MATCH — without a
    * materialization boundary these interpreted lambdas run once per
    * joined candidate row, not once per (query, cell) (measured
    * 7.3 → 0.7 s on the sf1 candidate stream;
    * [[IvfPq.knnIvfPqBatch]] persists it as an
    * [[graft.functions.Artifacts]] frame). `offsets` must
    * be the per-cell encode-offset dictionary the codes were built
    * against ([[buildResidual]]'s third return — unit centroids in
    * residual mode, zeros in flat mode, where this degenerates to the
    * flat per-query table replicated per cell). */
  def adcTableResidual(pairsWithQv: DataFrame, offsets: Array[Array[Double]],
      codebooks: Codebooks): DataFrame = {
    val dsub = codebooks(0)(0).length
    val cbLit = typedLit(codebooks.map(_.map(_.toSeq).toSeq).toSeq)
    val ncLit = typedLit(offsets.map(_.toSeq).toSeq)
    val nq = transform(col("qv"),
      x => x.cast("double") / sqrt(aggregate(col("qv"), lit(0.0d),
        (a, v) => a + v.cast("double") * v.cast("double"))))
    pairsWithQv
      .select(col("qid"), col("centroid_id"), nq.as("nq"))
      .select(col("qid"), col("centroid_id"),
        transform(col("nq"), (x, i) =>
          x - element_at(element_at(ncLit, col("centroid_id") + 1), i + 1)).as("rq"))
      .select(col("qid"), col("centroid_id"),
        flatten(transform(cbLit, (cbm, mi) =>
          transform(cbm, cw =>
            aggregate(
              zip_with(slice(col("rq"), mi * lit(dsub) + 1, lit(dsub)), cw,
                (a, b) => (a - b) * (a - b)),
              lit(0.0d), (acc, x) => acc + x)))).as("adc"))
  }

  /** Driver-side flat residual ADC table for ONE query against ONE
    * probed cell's encode offset (`mi*NumCodewords + k` layout,
    * matching [[adcScoreOver]]) — the single-query twin of
    * [[adcTableResidual]], same left-to-right accumulation. */
  def flatResidualTable(qNorm: Array[Double], ncentCell: Array[Double],
      codebooks: Codebooks): Seq[Double] = {
    val dsub = qNorm.length / codebooks.length
    val out = new Array[Double](codebooks.length * NumCodewords)
    var mi = 0
    while (mi < codebooks.length) {
      var k = 0
      while (k < codebooks(mi).length) {
        val cw = codebooks(mi)(k)
        var d = 0.0; var j = 0
        while (j < dsub) {
          val off = mi * dsub + j
          val diff = (qNorm(off) - ncentCell(off)) - cw(j)
          d += diff * diff; j += 1
        }
        out(mi * NumCodewords + k) = d
        k += 1
      }
      mi += 1
    }
    out.toSeq
  }

  /** Approximate distance of a packed `code` against a per-row `adc`
    * lookup-table COLUMN — the batch twin of the static-literal unroll
    * in [[adcScores]]: `Σ_m adc[m*NumCodewords + ((code >> 4m) & 15)]`,
    * a flat codegen expression (8 element_at lookups on the joined
    * array, no per-row array construction), summed in the same mi
    * order as the single-query form. */
  def adcScoreOver(adc: Column, code: Column, m: Int = NumSubspaces): Column =
    (0 until m).map { mi =>
      element_at(adc,
        (shiftright(code, mi * 4).bitwiseAND(15) + lit(mi * NumCodewords) + 1).cast("int"))
    }.reduce(_ + _)

  /** vs_knn_pq: ADC top-50 shortlist over the 4-byte codes, exact
    * cosine re-rank of the shortlist, top-10 — the standard
    * compressed-domain serving topology (scan codes, touch full
    * vectors only for the shortlist). */
  def knnPq(s: SparkSession, dir: String, k: Int = 10, shortlist: Int = 50): DataFrame = {
    val (codes, codebooks) = build(s, dir)
    val q = l2norm(VectorSearch.queryVector(s, dir).map(_.toDouble))
    val cand = adcScores(VectorSearch.withoutQuery(codes), codebooks, q)
      .orderBy(col("adist"), col("vec_id"))
      .limit(shortlist)
    rerankQuery(s, dir, cand, k)
  }

  /** Exact re-rank of an ADC `shortlist` (vec_id) against the RAW
    * query row: vs_knn_cosine's scorer ([[VectorSearch.exactTopK]]),
    * which the oracle's dCosine fragment mirrors. Shared by vs_knn_pq
    * and vs_knn_ivf_pq. */
  private[graft] def rerankQuery(s: SparkSession, dir: String, shortlist: DataFrame,
      k: Int): DataFrame =
    VectorSearch.exactTopK(shortlist.join(Tables.embeddings(s, dir), "vec_id"),
      VectorSearch.queryFrame(s, dir), VectorSearch.queryCosine, k)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "vs_knn_pq" -> ((s, dir) => knnPq(s, dir)))

  /** DuckDB oracle over the persisted index artifacts: reproduces the
    * ADC serving path end-to-end from the SAME codes/codebooks parquet
    * Spark scans (__PQDIR__ is bound to dumpDir(sfDir) by SparkEntry).
    * The 1-ulp-scale arithmetic differences between the two engines'
    * distance sums sit far below the ADC distance gaps, so shortlist
    * membership and the rounded re-rank agree exactly. */
  val oracleSql: Map[String, String] = Map(
    "vs_knn_pq" ->
      s"""WITH qn AS (
         |  SELECT [x::DOUBLE / sqrt(list_sum([y::DOUBLE * y::DOUBLE for y in embedding]))
         |          for x in embedding] AS nq
         |  FROM embeddings WHERE vec_id = 0),
         |cb AS (SELECT mi, k, cw FROM read_parquet('__PQDIR__/codebooks.parquet/*.parquet')),
         |tab AS (
         |  SELECT mi, k,
         |    list_sum([(nq[mi * (len(nq) // ${NumSubspaces}) + j] - cw[j])
         |              * (nq[mi * (len(nq) // ${NumSubspaces}) + j] - cw[j])
         |              for j in generate_series(1, len(cw))]) AS d
         |  FROM cb, qn),
         |codes AS (
         |  SELECT vec_id, code
         |  FROM read_parquet('__PQDIR__/codes.parquet/*.parquet') WHERE vec_id <> 0),
         |adist AS (
         |  SELECT c.vec_id, sum(t.d) AS adist
         |  FROM codes c JOIN tab t ON ((c.code >> (4 * t.mi)) & 15) = t.k
         |  GROUP BY 1),
         |short AS (SELECT vec_id FROM adist ORDER BY adist, vec_id LIMIT 50),
         |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
         |SELECT e.vec_id, round(1e-9 + ${VectorSearch.dCosine("e.embedding", "qv")}, 4) AS dist
         |FROM embeddings e JOIN short USING (vec_id), q
         |ORDER BY dist, vec_id LIMIT 10""".stripMargin)
}
