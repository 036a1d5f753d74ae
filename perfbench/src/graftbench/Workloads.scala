package graftbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Dedup, DocPipeline, IvfIndex, Pipeline, TextAnalysis}
import graft.plans.KnnJoin
import graft.sources.{PdfGen, PdfText}
import graft.streaming.IvfStream

/** Input sizes of one workload. Every count derives from the run
  * length, so one BENCHMARK.json setting fixes them for every run. */
final case class Sizes(docs: Int = 0, vectors: Int = 0, queries: Int = 0,
    singles: Int = 0, repeats: Int = 0, rounds: Int = 0, perRound: Int = 0, searchesPerRound: Int = 0)

/** A workload: `setup` makes one corpus in a fresh directory and
  * builds what the timed phase needs; `timed` runs the measured calls
  * on one corpus; `report` turns the timed spans into metrics. */
trait Workload {
  def name: String
  def sizes(seconds: Int): Sizes
  /** The same corpus sizes with fewer repetitions: the warm-up runs
    * every timed call at least once (JIT and codegen only). */
  def warmCounts(z: Sizes): Sizes
  /** What setup hands the timed phase. */
  type C <: Corpus
  def setup(r: Run, z: Sizes, seed: Long, stream: Int, dir: String, phase: String): C
  def timed(r: Run, z: Sizes, c: C, phase: String): Unit
  def report(r: Run, z: Sizes): Unit
  /** Counts a traced run adds after the timed phase, on the timed
    * phase's corpus (never timed). */
  def traceExtras(r: Run, z: Sizes, c: C): Unit = ()
}

/** A corpus set up in its own directory, with the checksum of the
  * inputs generated for it. */
trait Corpus {
  def dir: String
  def checksum: String
}

object Workloads {
  val all: Map[String, Workload] = Seq(Ingest, Search, Upsert).map(w => w.name -> w).toMap

  private def sorted(rows: Seq[(Long, Double)]): Seq[(Long, Double)] = rows.sortBy { case (i, d) => (d, i) }

  /** k rows, ordered by (distance, id). */
  def topKProblems(what: String, rows: Seq[(Long, Double)], k: Int): Seq[String] =
    (if (rows.size != k) Seq(s"$what returned ${rows.size} rows, want $k") else Nil) ++
      (if (!Stats.ordered(rows)) Seq(s"$what rows not ordered by distance") else Nil)

  def idDist(rows: Array[Row]): Seq[(Long, Double)] =
    rows.toSeq.map(r => (r.getLong(0), r.getDouble(1)))

  // -------------------------------------------------------------------
  final case class IngestCorpus(dir: String, checksum: String, docs: Gen.Docs, src: String) extends Corpus

  object Ingest extends Workload {
    type C = IngestCorpus
    val name = "ingest"
    def sizes(seconds: Int): Sizes = Sizes(docs = 100 * seconds, vectors = 150 * seconds)
    def warmCounts(z: Sizes): Sizes = z

    def setup(r: Run, z: Sizes, seed: Long, stream: Int, dir: String, phase: String): IngestCorpus = {
      val s = r.spark
      import s.implicits._
      val d = Gen.docs(seed, z.docs, stream = stream)
      val v = Gen.vectors(seed, z.vectors, 0L, stream, Gen.centres(seed, 32))
      val pdfs = d.texts.map(PdfGen.clearPdf)
      val src = s"$dir-src"
      d.ids.toSeq.zip(pdfs.toSeq).toDF("doc_id", "payload")
        .repartition(r.cpus).write.parquet(s"$src/pdfs.parquet")
      new java.io.File(dir).mkdirs()
      Io.writeSingleFile(Io.vectorsDf(s, v), s"$dir/embeddings.parquet")
      IngestCorpus(dir, Gen.checksum(Some(d), Seq(v), pdfs.toSeq), d, src)
    }

    /** One cold pass: decode through the index build. */
    def timed(r: Run, z: Sizes, c: IngestCorpus, phase: String): Unit = {
      val trace = "pass"
      val s = r.spark
      val dir = c.dir
      val d = c.docs
      val src = c.src
      val texts = d.ids.zip(d.texts).toMap
      r.tracer.span("ingest.pass", trace, phase) {
        // decode, then write the decoded documents as the corpus table
        var decoded: DataFrame = null
        r.call("PdfText.utlToText", trace, phase) {
          decoded = PdfText.utlToText(s, s.read.parquet(s"$src/pdfs.parquet")).cache()
          decoded.collect()
        } { rows =>
          val bad = rows.count(row => !texts.get(row.getLong(0)).contains(row.getString(1)))
          (if (rows.length != d.ids.length) Seq(s"decoded ${rows.length} docs, want ${d.ids.length}") else Nil) ++
            (if (bad > 0) Seq(s"$bad docs decoded to text other than their source") else Nil)
        }
        r.call("documents.write", trace, phase) {
          decoded.select(col("doc_id"), col("text"), lit("en").as("lang"), lit("pdf").as("source"),
              length(col("text")).cast("long").as("n_chars"))
            .write.parquet(s"$dir/documents.parquet")
        }(_ => Nil)
        if (decoded != null) decoded.unpersist()

        var pairsReported: Option[Long] = None
        r.call("Dedup.minhashLsh", trace, phase) {
          Dedup.minhashLsh(s, dir).collect()
        } { rows =>
          val pairs = rows.map(row => (row.getLong(0), row.getLong(1))).toSet
          pairsReported = Some(pairs.size.toLong)
          r.info("pairs_reported") = pairs.size.toLong
          r.info("dedup_recall") = Stats.pairRecall(d.planted.toSeq, pairs)
          rows.filter(row => !(row.getLong(0) < row.getLong(1)) || row.getDouble(2) < Dedup.JaccardThreshold)
            .take(3).map(row => s"pair $row breaks doc_a < doc_b or the Jaccard threshold").toSeq
        }

        r.call("TextAnalysis.quality", trace, phase) {
          TextAnalysis.quality(s, dir).collect()
        } { rows =>
          if (rows.length != d.ids.length) Seq(s"quality scored ${rows.length} docs, want ${d.ids.length}") else Nil
        }

        r.call("DocPipeline.docPipeline", trace, phase) {
          DocPipeline.docPipeline(s, dir).select("doc_id", "chunk_id").collect()
        } { rows =>
          val got = rows.groupBy(_.getLong(0)).view.mapValues(_.length).toMap
          d.ids.toSeq.flatMap { id =>
            val want = Gen.expectedChunks(Gen.tokenCount(texts(id)))
            val have = got.getOrElse(id, 0)
            if (have != want) Some(s"doc $id has $have chunks, want $want") else None
          }
        }

        r.call("Pipeline.e2e", trace, phase) {
          Pipeline.e2e(s, dir).collect()
        } { rows =>
          val n = rows.map(row => row.getString(0) -> row.getLong(1)).toMap
          (if (rows.length != 7) Seq(s"funnel has ${rows.length} stages, want 7") else Nil) ++
            (if (!n.get("1_docs_in").contains(d.ids.length.toLong))
              Seq(s"funnel reads ${n.get("1_docs_in")} docs, want ${d.ids.length}") else Nil) ++
            (if (!pairsReported.exists(p => n.get("2_near_dup_removed").exists(_ <= p)))
              Seq(s"funnel removed ${n.get("2_near_dup_removed")} near-dups from $pairsReported reported pairs")
            else Nil)
        }

        r.call("IvfIndex.build", trace, phase) {
          IvfIndex.build(s, dir)._2
        } { cents =>
          val want = math.max(16, math.min(4096, math.round(math.sqrt(z.vectors.toDouble)).toInt))
          (if (cents.length != want) Seq(s"index has ${cents.length} centroids, want $want") else Nil) ++
            (if (Io.parquetFiles(s"${IvfIndex.dumpDir(dir)}/assign.parquet") < 2)
              Seq("index assignment artifact not written in shards") else Nil)
        }
      }
      ()
    }

    def report(r: Run, z: Sizes): Unit = {
      val timed = r.tracer.spans.toSeq.filter(_.phase == "timed")
      def span(name: String) = timed.find(_.name == name).get
      val decodeToE2e = (span("Pipeline.e2e").endNs - span("PdfText.utlToText").startNs) / 1e9
      r.put("ingest_docs_per_s", z.docs / decodeToE2e, "docs/s")
      r.put("index_build_s", span("IvfIndex.build").wallMs / 1e3, "s")
      r.put("dedup_recall", r.info("dedup_recall").asInstanceOf[Double], "ratio")
      r.put("pass_ms", span("ingest.pass").wallMs, "ms")
    }

    override def traceExtras(r: Run, z: Sizes, c: IngestCorpus): Unit = {
      // band-collision candidates, counted once through the public
      // candidate generator
      val cands = Dedup.bandCandidatesOf(Tables.documents(r.spark, c.dir)).count()
      val verified = r.info.get("pairs_reported").map(_.asInstanceOf[Long]).getOrElse(0L)
      r.ratios("Dedup.minhashLsh.verified_per_candidate") = (Stats.perCandidate(verified, cands),
        s"$verified verified pairs / $cands band-collision candidates")
    }
  }

  // -------------------------------------------------------------------
  final case class SearchCorpus(dir: String, checksum: String, vecs: Gen.Vecs, queries: Gen.Vecs)
    extends Corpus

  object Search extends Workload {
    type C = SearchCorpus
    val name = "search"
    def sizes(seconds: Int): Sizes =
      Sizes(vectors = 150 * seconds, queries = 15 * seconds, singles = 6 * seconds, repeats = 5)
    /** Latency settles only after tens of calls (the planner's code
      * paths are the last the JIT compiles), so the warm-up runs 30
      * probes and three of each batch call. */
    def warmCounts(z: Sizes): Sizes = z.copy(singles = 30, repeats = 3)

    def setup(r: Run, z: Sizes, seed: Long, stream: Int, dir: String, phase: String): SearchCorpus = {
      val s = r.spark
      val v = Gen.vectors(seed, z.vectors, 0L, stream, Gen.centres(seed, 32))
      val q = Gen.perturbed(seed + stream, z.queries, 1000000000L, v)
      new java.io.File(dir).mkdirs()
      Io.writeSingleFile(Io.vectorsDf(s, v), s"$dir/embeddings.parquet")
      Io.queriesDf(s, q).write.parquet(s"$dir-src/queries.parquet")
      r.call("IvfIndex.build", s"setup-$stream", phase)(IvfIndex.build(s, dir)._2)(_ => Nil)
      SearchCorpus(dir, Gen.checksum(None, Seq(v, q), Nil), v, q)
    }

    def timed(r: Run, z: Sizes, c: SearchCorpus, phase: String): Unit = {
      val s = r.spark
      val v = c.vecs
      val q = c.queries
      val (index, centroids) = IvfIndex.build(s, c.dir) // the memoized, already-built index
      val singles = math.min(z.singles, q.ids.length)
      val recalls = new Array[Double](singles)
      val truth = r.parMap(q.ids.length)(i => Stats.exactTopK(q.vecs(i), v.ids, v.vecs, 10))
      for (i <- 0 until singles) {
        r.scanBase(s"query-$i") = v.ids.length.toLong
        r.call("IvfIndex.search", s"query-$i", phase) {
          idDist(IvfIndex.search(s, index, centroids, q.vecs(i), 10).collect())
        } { rows =>
          recalls(i) = Stats.overlap(rows.map(_._1), truth(i).map(_._1))
          topKProblems(s"query $i", rows, 10)
        }
      }
      r.info("recall_at_10") = if (singles > 0) recalls.sum / singles else 0.0

      // the batch and exact calls are short, so each runs `repeats`
      // times and reports its median
      val qdf = s.read.parquet(s"${c.dir}-src/queries.parquet")
      for (rep <- 0 until z.repeats) {
        r.call("IvfIndex.searchBatch", s"batch-$rep", phase) {
          IvfIndex.searchBatch(s, index, centroids, qdf, 10).select("qid", "vec_id", "dist").collect()
        } { rows =>
          val byQ = rows.groupBy(_.getLong(0))
          (if (byQ.size != q.ids.length) Seq(s"batch answered ${byQ.size} of ${q.ids.length} queries") else Nil) ++
            byQ.toSeq.flatMap { case (qid, rs) =>
              topKProblems(s"batch query $qid", rs.toSeq.map(x => (x.getLong(1), x.getDouble(2))), 10)
            }.take(5)
        }
      }

      for (rep <- 0 until z.repeats) {
        r.call("KnnJoin", s"exact-$rep", phase) {
          KnnJoin(qdf, Tables.embeddings(s, c.dir).select("vec_id", "embedding"),
            "qv", "embedding", k = 10, metric = "cosine", roundDp = 4, tieBreak = Some("vec_id"))
            .select("qid", "vec_id", "dist").collect()
        } { rows =>
          val byQ = rows.groupBy(_.getLong(0))
          q.ids.indices.flatMap { i =>
            val got = sorted(byQ.getOrElse(q.ids(i), Array.empty[Row]).toSeq.map(x => (x.getLong(1), x.getDouble(2))))
            if (got != truth(i)) Some(s"query ${q.ids(i)}: exact join gave ${got.take(3)}..., brute force ${truth(i).take(3)}...")
            else None
          }
        }
      }
    }

    def report(r: Run, z: Sizes): Unit = {
      val lat = r.walls("IvfIndex.search", "timed")
      r.put("search_p50_ms", Stats.median(lat), "ms")
      Stats.tailPercentile(lat.size).filter(_ > 50).foreach(p => r.put(s"search_p${p}_ms", Stats.percentile(lat, p), "ms"))
      r.info("search_samples") = lat.size
      r.put("recall_at_10", r.info("recall_at_10").asInstanceOf[Double], "ratio")
      r.put("batch_qps", z.queries / (Stats.median(r.walls("IvfIndex.searchBatch", "timed")) / 1e3), "queries/s")
      val exactS = Stats.median(r.walls("KnnJoin", "timed")) / 1e3
      r.put("exact_qps", z.queries / exactS, "queries/s")
      r.put("exact_batch_s", exactS, "s")
    }
  }

  // -------------------------------------------------------------------
  final case class UpsertCorpus(dir: String, checksum: String, base: Gen.Vecs, adds: Seq[Gen.Vecs],
      model: org.apache.spark.ml.clustering.KMeansModel, nlist: Int, src: String) extends Corpus

  object Upsert extends Workload {
    type C = UpsertCorpus
    val name = "upsert"
    def sizes(seconds: Int): Sizes =
      Sizes(vectors = 100 * seconds, rounds = 6, perRound = 10 * seconds, searchesPerRound = 5, repeats = 2)
    def warmCounts(z: Sizes): Sizes = z.copy(rounds = 1, searchesPerRound = 1, repeats = 1)

    /** The streaming upsert is short, so it runs `repeats` times, each in
      * a corpus dir of its own: its fit memo is keyed by dir, so every
      * run is cold. */
    private def streamDirs(z: Sizes, dir: String): Seq[String] =
      dir +: (1 until z.repeats).map(k => s"$dir-copy$k")

    def setup(r: Run, z: Sizes, seed: Long, stream: Int, dir: String, phase: String): UpsertCorpus = {
      val s = r.spark
      val cents = Gen.centres(seed, 32)
      val base = Gen.vectors(seed, z.vectors, 0L, stream, cents)
      val adds = (0 until z.rounds).map(k =>
        Gen.vectors(seed, z.perRound, z.vectors.toLong + k * z.perRound, 100 + 10 * stream + k, cents))
      val src = s"$dir-src"
      new java.io.File(dir).mkdirs()
      // the corpus dir holds the whole corpus (base + every append) as
      // the one table IvfStream.indexUpsert reads
      val all = Gen.Vecs(base.ids ++ adds.flatMap(_.ids), base.vecs ++ adds.flatMap(_.vecs))
      Io.writeSingleFile(Io.vectorsDf(s, all), s"$dir/embeddings.parquet")
      streamDirs(z, dir).drop(1).foreach { d =>
        new java.io.File(d).mkdirs()
        java.nio.file.Files.copy(java.nio.file.Paths.get(s"$dir/embeddings.parquet"),
          java.nio.file.Paths.get(s"$d/embeddings.parquet"))
      }
      locally {
        import s.implicits._
        adds.zipWithIndex.flatMap { case (a, k) => a.ids.toSeq.zip(a.vecs.toSeq).map { case (i, v) => (k, i, v) } }
          .toDF("round", "vec_id", "embedding").repartition(1).write.parquet(s"$src/appends.parquet")
      }
      val nlist = IvfIndex.defaultNlist(z.vectors.toLong)
      val model = r.call("IvfIndex.fitModel", s"setup-$stream", phase) {
        IvfIndex.fitModel(Tables.embeddings(s, dir).filter(col("vec_id") < z.vectors), nlist)
      }(_ => Nil)
      r.call("IvfIndex.writeIndex", s"setup-$stream", phase) {
        IvfIndex.writeIndex(IvfIndex.assign(model.get,
          Tables.embeddings(s, dir).filter(col("vec_id") < z.vectors)), s"$src/index")
      }(_ => Nil)
      UpsertCorpus(dir, Gen.checksum(None, base +: adds, Nil), base, adds, model.orNull, nlist, src)
    }

    def timed(r: Run, z: Sizes, c: UpsertCorpus, phase: String): Unit = {
      val s = r.spark
      val base = c.base
      val adds = c.adds
      val model = c.model
      val nlist = c.nlist
      val src = c.src
      val indexPath = s"$src/index"
      val centroids = model.clusterCenters.map(_.toArray)
      var ids = base.ids; var vecs = base.vecs
      val files = scala.collection.mutable.ArrayBuffer.empty[Int]
      val recalls = scala.collection.mutable.ArrayBuffer.empty[Double]
      var found = 0; var asked = 0
      for (k <- 0 until z.rounds) {
        val a = adds(k)
        val before = Io.parquetFiles(indexPath)
        r.call("IvfIndex.append", s"round-$k", phase) {
          // the write IvfStream's foreachBatch does per micro-batch
          IvfIndex.assign(model, s.read.parquet(s"$src/appends.parquet").filter(col("round") === k)
              .select("vec_id", "embedding"))
            .repartition(nlist, col("centroid_id"))
            .write.mode("append").partitionBy("centroid_id").parquet(indexPath)
        }(_ => Nil)
        files += Io.parquetFiles(indexPath) - before
        ids = ids ++ a.ids; vecs = vecs ++ a.vecs
        val picks = (0 until z.searchesPerRound).map(j => (j * a.ids.length) / z.searchesPerRound)
        val truth = r.parMap(picks.size)(j => Stats.exactTopK(a.vecs(picks(j)), ids, vecs, 10))
        picks.zipWithIndex.foreach { case (p, j) =>
          r.scanBase(s"round-$k-q$j") = ids.length.toLong
          r.call("IvfIndex.search", s"round-$k-q$j", phase) {
            idDist(IvfIndex.search(s, IvfIndex.readIndex(s, indexPath), centroids, a.vecs(p), 10).collect())
          } { rows =>
            asked += 1
            recalls += Stats.overlap(rows.map(_._1), truth(j).map(_._1))
            val mine = rows.exists(_._1 == a.ids(p))
            if (mine) found += 1
            topKProblems(s"round $k search $j", rows, 10) ++
              (if (!mine) Seq(s"round $k: appended vector ${a.ids(p)} not returned by its own search") else Nil)
          }
        }
      }
      r.info("files_per_round") = files.toSeq
      if (phase == "timed" && files.nonEmpty)
        r.ratios("IvfIndex.append.files_per_round") = (files.sum.toDouble / files.size,
          s"${files.sum} parquet files added on disk / ${files.size} appends")
      r.info("fresh_recall_at_10") = if (recalls.nonEmpty) recalls.sum / recalls.size else 0.0
      r.info("read_your_writes") = s"$found/$asked"

      streamDirs(z, c.dir).zipWithIndex.foreach { case (d, k) =>
        r.call("IvfStream.indexUpsert", s"stream-$k", phase) {
          idDist(IvfStream.indexUpsert(s, d).collect())
        } { rows => topKProblems("stream upsert probe", rows, 10) }
      }
    }

    def report(r: Run, z: Sizes): Unit = {
      val appendS = r.walls("IvfIndex.append", "timed").sum / 1e3
      r.put("upsert_rows_per_s", z.rounds * z.perRound / appendS, "rows/s")
      val lat = r.walls("IvfIndex.search", "timed")
      r.put("fresh_search_p50_ms", Stats.median(lat), "ms")
      Stats.tailPercentile(lat.size).filter(_ > 50).foreach(p => r.put(s"fresh_search_p${p}_ms", Stats.percentile(lat, p), "ms"))
      r.put("fresh_recall_at_10", r.info("fresh_recall_at_10").asInstanceOf[Double], "ratio")
      r.put("stream_upsert_s", Stats.median(r.walls("IvfStream.indexUpsert", "timed")) / 1e3, "s")
    }
  }
}
