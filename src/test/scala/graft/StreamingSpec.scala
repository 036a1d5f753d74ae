package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._
import scala.util.{Try, Using}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.{StreamExecution, StreamingQueryWrapper}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Analytics, IvfIndex, Multimodal}
import graft.streaming.{IvfStream, Streaming}

class StreamingSpec extends AnyFunSuite {
  import SparkTestSession._

  test("stream_hourly equals batch q_events_hourly") {
    val stream = Streaming.hourly(spark, sf).collect().map(_.toSeq).toSet
    val batch = Analytics.qEventsHourly(spark, sf).collect().map(_.toSeq).toSet
    assert(stream == batch)
  }

  test("watermarked append-mode stream emits a subset of sealed windows") {
    val wm = Streaming.hourlyWatermarked(spark, sf)
      .select("hour", "event_type", "n").collect().map(_.toSeq).toSet
    val batch = Analytics.qEventsHourly(spark, sf)
      .select("hour", "event_type", "n").collect().map(_.toSeq).toSet
    assert(wm.nonEmpty, "watermarked stream emitted nothing")
    assert(wm.subsetOf(batch), "append-mode emitted a window batch disagrees with")
  }

  test("stream_sessionize matches batch sessionization on session sizes") {
    val stream = Streaming.sessionize(spark, sf)
      .groupBy("user_id").agg(count(lit(1)).as("n_sessions"), sum("n_events").as("n_events"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batch = Analytics.qEventsSessionize(spark, sf)
      .groupBy("user_id").agg(count(lit(1)).as("n_sessions"), sum("n_events").as("n_events"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(stream == batch)
  }

  test("streaming IVF upsert probes identically to a batch build with the same model") {
    // stream path: base half built in batch, odd half appended per micro-batch
    val streamed = IvfStream.indexUpsert(spark, sf).collect().map(_.toSeq).toSeq
    // batch path: same centroid model (seeded fit on the even half),
    // whole table assigned in one pass
    val emb = Tables.embeddings(spark, sf)
    // same adaptive geometry as IvfStream's base fit (at the spec SF
    // the √N default coincides with the 16-cell floor)
    val base = emb.filter(col("vec_id") % 2 === 0)
    val model = IvfIndex.fitModel(base, IvfIndex.defaultNlist(base.count()))
    val query = emb.filter(col("vec_id") === 0)
      .select("embedding").collect()(0).getSeq[Float](0).toArray
    val batchIndex = IvfIndex.assign(model, emb).filter(col("vec_id") =!= 0)
    val batch = IvfIndex.search(spark, batchIndex, model.clusterCenters.map(_.toArray),
      query, k = 10).collect().map(_.toSeq).toSeq
    assert(streamed == batch)
    assert(streamed.size == 10)

    // tamper negative-control for the STREAMED layout — the same
    // property AnnSpec pins for the batch PQ/IVF builds: serving and
    // oracle both trust the dumped artifacts, so corrupting ONE row in
    // a copy of the dump and re-deriving the answer through the same
    // probe path must change it. Reassigning the clean top-1 to the
    // centroid FARTHEST from the query (never in the nprobe-nearest
    // probe set) guarantees the probe misses it.
    val centroids = model.clusterCenters.map(_.toArray)
    val qd = query.map(_.toDouble)
    val far = centroids.zipWithIndex
      .maxBy { case (c, _) => graft.functions.VecMath.distD("cosine", c, qd) }._2
    val topHit = streamed.head.head.asInstanceOf[Long]
    val tmp = java.nio.file.Files.createTempDirectory("graft_stream_tamper").toString
    spark.read.parquet(IvfStream.scratchRoot(sf) + "/dump/assign.parquet")
      .withColumn("centroid_id",
        when(col("vec_id") === topHit, lit(far)).otherwise(col("centroid_id")))
      .write.mode("overwrite").parquet(s"$tmp/assign.parquet")
    val corrupt = spark.read.parquet(s"$tmp/assign.parquet")
      .join(emb, "vec_id")
      .select(col("vec_id"), col("embedding"), col("centroid_id"))
    val tampered = IvfIndex.search(spark,
      corrupt.filter(col("vec_id") =!= 0), centroids, query, k = 10)
      .collect().map(_.toSeq).toSeq
    assert(tampered != streamed,
      "a corrupted streamed-layout assignment row must change the probed answer")
  }

  test("the streamed dump and the batch dump are one format") {
    IvfIndex.build(spark, sf)
    IvfStream.indexUpsert(spark, sf).collect()
    val streamed = IvfStream.scratchRoot(sf) + "/dump"
    Seq("assign.parquet", "centroids.parquet").foreach { t =>
      def columns(dump: String) =
        spark.read.parquet(s"$dump/$t").schema.fields.map(f => (f.name, f.dataType)).toSeq
      assert(columns(streamed) == columns(IvfIndex.dumpDir(sf)), t)
    }
    val assigned = spark.read.parquet(s"$streamed/assign.parquet").select("vec_id")
    val ids = Tables.embeddings(spark, sf).select("vec_id")
    assert(assigned.count() == ids.count(), "one streamed assignment row per vec_id")
    assert(assigned.distinct().count() == ids.count(), "no vec_id assigned twice")
    assert(ids.except(assigned).isEmpty, "every corpus vec_id assigned")
  }

  test("streaming minhash candidates equal the batch band-candidate set") {
    val streamed = graft.streaming.DedupStream.candidates(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = graft.operators.Dedup.bandCandidatesOf(Tables.documents(spark, sf))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("dedup stream state join: pruned partitioned scan + broadcast batch, equals batch set") {
    import graft.operators.Dedup
    val docs = Tables.documents(spark, sf)
    val half0 = docs.filter(col("doc_id") % 2 === 0)
    val half1 = docs.filter(col("doc_id") % 2 === 1)
    def bandsOf(d: org.apache.spark.sql.DataFrame) =
      Dedup.bandsOf(Dedup.minhashDocsOf(d))
    val statePath = java.nio.file.Files.createTempDirectory("graft_state").toString + "/state"
    bandsOf(half0).write.partitionBy("band").parquet(statePath)
    val vs = graft.streaming.DedupStream.stateCandidates(bandsOf(half1), statePath)
    val p = vs.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // the state scan prunes to the batch's band partitions and the
    // batch side is broadcast — no state-side exchange
    assert(p.contains("PartitionFilters: [") && p.contains("band"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("Exchange hashpartitioning"), p)
    // cross-half ∪ within-half candidates == the batch operator's set
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val all = pairs(vs.distinct()) ++
      pairs(Dedup.bandCandidatesOf(half0)) ++ pairs(Dedup.bandCandidatesOf(half1))
    assert(all == pairs(Dedup.bandCandidatesOf(docs)))
  }

  test("dedup stream survives a zero-band micro-batch (ADVICE r17)") {
    // every doc under 3 tokens -> shingleSetOf is empty -> the
    // per-batch band scratch is written with NO data files; the
    // explicit-schema read must yield an empty typed frame, not an
    // 'Unable to infer schema' failure, and the drained candidate set
    // is empty.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_tinydocs").toString
    Seq((1L, "one two", "en", "syn", 7L), (2L, "ok", "en", "syn", 2L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val out = graft.streaming.DedupStream.candidates(spark, dir)
    assert(out.columns.toSeq == Seq("doc_a", "doc_b"))
    assert(out.count() == 0)
  }

  test("dedup stream survives a zero-band first batch followed by a normal batch") {
    // batch 1: every doc under 3 tokens -> zero band rows, so the state
    // table is appended with no data files; batch 2 then reads that
    // state dir, which schema inference cannot type. The drain must
    // still emit exactly the band-candidate set of batch 2's docs.
    import graft.streaming.DedupStream
    val docs = Tables.documents(spark, sf)
    val tiny = docs.limit(5).withColumn("doc_id", col("doc_id") + 1000000000L)
      .withColumn("text", lit("two tokens"))
    val root = java.nio.file.Files.createTempDirectory("graft_zeroband_first").toString
    DedupStream.addBatch(spark, root, tiny)
    assert(spark.read.schema(DedupStream.StateSchema).parquet(s"$root/state").count() == 0)
    DedupStream.addBatch(spark, root, docs)
    val out = DedupStream.drained(spark, root)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = graft.operators.Dedup.bandCandidatesOf(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(want.nonEmpty)
    assert(out == want)
  }

  test("quality route reports a typed empty frame on an all-empty drain (ADVICE r17)") {
    // a documents.parquet with ZERO rows still fires one micro-batch;
    // the partitioned route write then creates the sink dir with no
    // parquet data files, which used to fail schema inference.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_emptydocs").toString
    Seq.empty[(Long, String, String, String, Long)]
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val out = Streaming.qualityRoute(spark, dir)
    assert(out.columns.toSeq == Seq("route", "n_docs", "avg_quality"))
    assert(out.count() == 0)
  }

  private val stateConf = Seq("spark.sql.shuffle.partitions",
    "spark.sql.streaming.noDataMicroBatches.enabled")

  private def rows(df: DataFrame): Seq[Seq[Any]] = df.collect().map(_.toSeq).toSeq

  test("concurrent drains on one session each equal the serial run and leave the conf as it was") {
    val before = stateConf.map(spark.conf.get)
    val drains = Seq[(String, () => DataFrame)](
      "stream_quality_route" -> (() => Streaming.qualityRoute(spark, sf)),
      "stream_hourly" -> (() => Streaming.hourly(spark, sf)))
    val serial = drains.map { case (name, run) => name -> rows(run()) }.toMap
    // three copies of each, all six released together
    val runs = drains.flatMap(d => Seq.fill(3)(d))
    val barrier = new java.util.concurrent.CyclicBarrier(runs.size)
    val got = new java.util.concurrent.ConcurrentLinkedQueue[(String, Try[Seq[Seq[Any]]])]
    val threads = runs.map { case (name, run) => new Thread(() => {
      barrier.await()
      got.add(name -> Try(rows(run())))
      ()
    }) }
    threads.foreach(_.start())
    threads.foreach(_.join(300000))
    assert(got.size == runs.size, "a concurrent drain did not finish")
    got.asScala.foreach { case (name, r) =>
      assert(r.isSuccess, s"$name failed: ${r.failed.map(graft.Verify.describe).getOrElse("")}")
      assert(r.get == serial(name), s"$name: a concurrent run differs from the serial one")
    }
    assert(stateConf.map(spark.conf.get) == before, "a drain left its state sizing on the session")
  }

  test("one empty-result rule: every event drain over a zero-row events table is a typed empty frame") {
    // a copy of the corpus whose events table has zero rows; enrich
    // still reads customer, so every other table stays
    val dir = Files.createTempDirectory("graft_emptyevents")
    Using.resource(Files.list(Paths.get(sf)))(_.iterator().asScala.toList)
      .foreach(f => Files.copy(f, dir.resolve(f.getFileName)))
    val staged = Files.createTempDirectory("graft_emptyevents_w").resolve("events")
    spark.read.parquet(s"$sf/events.parquet").limit(0).coalesce(1).write.parquet(staged.toString)
    val part = Using.resource(Files.list(staged))(_.iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get)
    Files.move(part, dir.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val drains = Seq[(String, (SparkSession, String) => DataFrame)](
      "hourly" -> Streaming.hourly _, "hourlyWatermarked" -> Streaming.hourlyWatermarked _,
      "trending" -> Streaming.trending _, "enrich" -> Streaming.enrich _,
      "sessionize" -> Streaming.sessionize _, "intervalJoin" -> Streaming.intervalJoin _,
      "dedupStream" -> Streaming.dedupStream _)
    drains.foreach { case (name, q) =>
      def typed(df: DataFrame) = df.schema.map(f => f.name -> f.dataType)
      val want = typed(q(spark, sf))
      val empty = q(spark, dir.toString)
      assert(typed(empty) == want, s"$name: the empty result's columns differ")
      assert(empty.count() == 0, s"$name: rows from an empty events table")
    }
  }

  test("the drain sizes state inside its query only and removes its checkpoint") {
    val caller = stateConf.map(spark.conf.get)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Seq[String], Seq[String], String)]
    Streaming.drain(Streaming.eventStream(spark, sf),
        sizing = Some(Streaming.StateSizing(s"$sf/events.parquet"))) { (b, _) =>
      val id = spark.sparkContext.getLocalProperty(StreamExecution.QUERY_ID_KEY)
      val ckpt = spark.streams.get(id).asInstanceOf[StreamingQueryWrapper]
        .streamingQuery.resolvedCheckpointRoot
      seen.add((stateConf.map(b.sparkSession.conf.get), stateConf.map(spark.conf.get), ckpt))
      ()
    }
    val Seq((inStream, inCaller, ckpt)) = seen.asScala.toSeq
    assert(inStream == Seq("8", "false"), "the stream runs with the sized state")
    assert(inCaller == caller, "the caller's session changed during the drain")
    assert(stateConf.map(spark.conf.get) == caller, "the caller's session changed after the drain")
    assert(!graft.functions.Scratch.exists(spark, ckpt), s"checkpoint $ckpt outlived its drain")
  }

  test("mm_frame_sample is deterministic and bounded by n_frames") {
    val a = Multimodal.frameSample(spark, sf).collect().map(_.toSeq)
    val b = Multimodal.frameSample(spark, sf).collect().map(_.toSeq)
    assert(a.sameElements(b))
    assert(a.nonEmpty)
    // only vids have frames beyond 1; sampled frames are 1, 7, 13, 19
    val frames = a.map(_(2).asInstanceOf[Long]).toSet
    assert(frames.subsetOf(Set(1L, 7L, 13L, 19L)))
  }

  test("mm decode keeps payload size consistent with metadata") {
    val bad = Multimodal.decoded(spark, sf)
      .filter(m => m.width != m.n_bytes % 640 + 16 || m.n_bytes <= 0)
      .count()
    assert(bad == 0)
  }
}
