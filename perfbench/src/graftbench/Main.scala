package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark run of one workload:
  *
  *   Main --workload ingest|search|upsert --seed N --seconds S --trace 0|1
  *        --work DIR --out DIR [--cpus N] [--commit SHA]
  *
  * Generates every input from the seed under DIR (a fresh directory
  * the caller removes), sets up the workload's corpora (setup_s is the
  * median), warms JIT and codegen on the first corpus, runs the timed
  * phase on the last, checks every output, and writes record.json and
  * spans.jsonl under the out directory. */
object Main {
  /** Corpora set up per run: setup_s is the median of their set-up
    * times, the first also serves the warm-up, the last the timed phase. */
  val Setups = 3

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = Workloads.all.getOrElse(opt("workload"),
      sys.error(s"unknown workload ${opt("workload")} (one of ${Workloads.all.keys.mkString(", ")})"))
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val traced = opt.getOrElse("trace", "0") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    val out = Paths.get(opt("out")).toAbsolutePath
    val cpus = opt.get("cpus").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors())
    Files.createDirectories(work); Files.createDirectories(out)
    val hostStart = Host.snapshot()

    val spark = graft.GraftSession.configure(
      SparkSession.builder()
        .master(s"local[$cpus]")
        .appName(s"graftbench-${workload.name}")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.local.dir", work.resolve("spark-local").toString)
        .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString),
      0L, cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val run = new Run(spark, new Tracer(spark.sparkContext, traced), cpus)
    val z = workload.sizes(seconds)
    val since = ManagementFactory.getRuntimeMXBean.getStartTime
    def mark(what: String): Unit = run.info(what) = (System.currentTimeMillis() - since) / 1e3
    mark("session_ready_s")

    val setupWalls = scala.collection.mutable.ArrayBuffer.empty[Double]
    val corpora = scala.collection.mutable.ArrayBuffer.empty[workload.C]
    run.guard(s"${workload.name}.setup", "setup") {
      for (i <- 0 until Setups) {
        val dir = work.resolve(s"corpus-$i").toString
        val t0 = System.nanoTime()
        corpora += run.tracer.span(s"${workload.name}.setup", s"setup-$i", "setup") {
          workload.setup(run, z, seed, i, dir, "setup")
        }
        setupWalls += (System.nanoTime() - t0) / 1e9
      }
    }
    mark("setup_done_s")
    // warm-up: every timed call at least once, on the first corpus, for
    // JIT and codegen; the library's directory-keyed caches stay cold
    // for the last corpus, which the timed phase uses
    if (corpora.size == Setups) run.guard(s"${workload.name}.warmup", "warmup") {
      run.tracer.span(s"${workload.name}.warmup", "warmup", "warmup") {
        workload.timed(run, workload.warmCounts(z), corpora.head, "warmup")
      }
    }
    val processToFirstCallS =
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    val gc0 = Host.gcMs()
    val timedStart = System.nanoTime()
    if (corpora.size == Setups) run.guard(s"${workload.name}.timed", "timed") {
      run.tracer.span(s"${workload.name}.timed", "timed", "timed") {
        workload.timed(run, z, corpora.last, "timed")
      }
    }
    val timedS = (System.nanoTime() - timedStart) / 1e9
    val gcMs = Host.gcMs() - gc0

    run.guard(s"${workload.name}.report", "report")(workload.report(run, z))
    if (traced) {
      if (corpora.nonEmpty) run.guard(s"${workload.name}.traceExtras", "trace") {
        workload.traceExtras(run, z, corpora.last)
      }
      // counters arrive on the listener bus after the jobs end
      org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
    }
    val layers = if (traced) Layers.of(run, gcMs) else Layers.Empty
    val peakRssMb = Host.peakRssMb()
    val setupS = if (setupWalls.size == Setups) Stats.median(setupWalls.toSeq) else -1.0
    val e2e = Metrics.endToEnd(workload.name, run.named, setupS, peakRssMb)

    run.tracer.writeSpans(out.resolve("spans.jsonl"))
    val record = ListMap(
      "workload" -> workload.name, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "work_dir" -> work.toString, "sizes" -> ListMap(
        "docs" -> z.docs, "vectors" -> z.vectors, "queries" -> z.queries, "singles" -> z.singles, "repeats" -> z.repeats,
        "rounds" -> z.rounds, "per_round" -> z.perRound, "searches_per_round" -> z.searchesPerRound),
      "input_checksums" -> corpora.map(_.checksum).toSeq,
      "host" -> ListMap(
        "nproc" -> Runtime.getRuntime.availableProcessors(), "spark_cpus" -> cpus,
        "loadavg_start" -> hostStart.loadavg, "loadavg_end" -> Host.snapshot().loadavg,
        "java_processes_start" -> hostStart.javaProcs, "jdk" -> System.getProperty("java.version"),
        "spark" -> spark.version, "commit" -> opt.getOrElse("commit", "unknown")),
      "attempted" -> run.attempted, "failed" -> run.failed,
      "error_rate" -> (if (run.attempted == 0) 1.0 else run.failed.toDouble / run.attempted),
      "failures" -> run.failures.toSeq,
      "setup_walls_s" -> setupWalls.toSeq, "process_to_first_call_s" -> processToFirstCallS,
      "timed_phase_s" -> timedS,
      "end_to_end" -> withUnits(e2e),
      "named" -> withUnits(run.named.toSeq),
      "ratios" -> ListMap.from(run.ratios.map { case (k, (v, base)) => k -> ListMap("value" -> v, "base" -> base) }),
      "per_layer" -> withUnits(layers.result),
      "per_span" -> layers.perSpan,
      "info" -> ListMap.from(run.info))
    Files.write(out.resolve("record.json"), Json.value(record).getBytes("UTF-8"))
    spark.stop()
  }

  private def withUnits(xs: Seq[(String, (Double, String))]): ListMap[String, Any] =
    ListMap.from(xs.map { case (k, (v, u)) => k -> ListMap("value" -> v, "unit" -> u) })
}

/** The end-to-end metrics every workload reports, named by role; the
  * map from each role to the workload's own metric is fixed here. */
object Metrics {
  /** role -> (unit, named metric per workload) */
  val roles: Seq[(String, String, Map[String, String])] = Seq(
    ("rate_per_s", "1/s", Map("ingest" -> "ingest_docs_per_s", "search" -> "batch_qps",
      "upsert" -> "upsert_rows_per_s")),
    ("p50_ms", "ms", Map("ingest" -> "pass_ms", "search" -> "search_p50_ms",
      "upsert" -> "fresh_search_p50_ms")),
    ("recall", "ratio", Map("ingest" -> "dedup_recall", "search" -> "recall_at_10",
      "upsert" -> "fresh_recall_at_10")),
    ("bulk_s", "s", Map("ingest" -> "index_build_s", "search" -> "exact_batch_s",
      "upsert" -> "stream_upsert_s")))

  def endToEnd(workload: String, named: scala.collection.Map[String, (Double, String)],
      setupS: Double, peakRssMb: Double): Seq[(String, (Double, String))] =
    Seq("setup_s" -> (setupS, "s"), "peak_rss_mb" -> (peakRssMb, "MB")) ++
      roles.map { case (role, unit, by) =>
        role -> (named.get(by(workload)).map(_._1).getOrElse(-1.0), unit)
      }
}

object Host {
  final case class Snap(loadavg: String, javaProcs: Long)

  def snapshot(): Snap = Snap(
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).trim.split(" ").take(3).mkString(" ")
    catch { case _: Throwable => "unknown" },
    try ProcessHandle.allProcesses().iterator().asScala.count(p =>
      p.info().command().map[Boolean](c => c == "java" || c.endsWith("/java")).orElse(false)).toLong
    catch { case _: Throwable => -1L })

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum

  /** VmHWM: the process's peak resident set. */
  def peakRssMb(): Double =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
    catch { case _: Throwable => -1.0 }
}
