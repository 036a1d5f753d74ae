package graftbench

import scala.collection.immutable.ListMap

/** Per-layer numbers of a traced run.
  *
  *  - `perSpan`: for each library function the timed phase called (one
  *    span name per function), its calls, busy and driver-only time and
  *    the Spark counters of its jobs;
  *  - `result`: what the run's result line carries. Every workload must
  *    report every metric there, so it holds the counters summed over
  *    the timed phase and split by engine layer (driver, executor, scan,
  *    exchange, write, memory, JVM), plus per-function counts of the
  *    functions of all workloads (zero where a workload does not call
  *    one). Per-function times and the ratios stay in the record. */
final case class Layers(result: Seq[(String, (Double, String))], perSpan: ListMap[String, Any])

object Layers {
  val Empty: Layers = Layers(Nil, ListMap.empty)

  /** Engine-layer metric names and units, in report order. */
  val engineMetrics: Seq[(String, String)] = Seq(
    "busy_ms" -> "ms", "driver.wait_ms" -> "ms", "exec.task_ms" -> "ms",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "scan.input_rows" -> "count", "scan.input_bytes" -> "bytes",
    "exchange.shuffle_write_bytes" -> "bytes", "exchange.shuffle_read_bytes" -> "bytes",
    "write.output_bytes" -> "bytes", "memory.spill_bytes" -> "bytes", "jvm.gc_ms" -> "ms")

  /** The library functions the workloads call, one span name each. */
  val functions: Seq[String] = Seq(
    "PdfText.utlToText", "Dedup.minhashLsh", "TextAnalysis.quality", "DocPipeline.docPipeline",
    "Pipeline.e2e", "IvfIndex.build", "IvfIndex.search", "IvfIndex.searchBatch", "KnnJoin",
    "IvfIndex.append", "IvfStream.indexUpsert")

  /** Per-function counts carried in the result line. */
  val functionCounts: Seq[(String, String, Counters => Long)] = Seq(
    ("jobs", "count", _.jobs), ("input_rows", "count", _.inputRows),
    ("shuffle_write_bytes", "bytes", _.shuffleWriteBytes), ("output_bytes", "bytes", _.outputBytes))

  def of(r: Run, gcMs: Long): Layers = {
    val t = r.tracer
    val layer = t.spans.toSeq.filter(sp => sp.phase == "timed" && r.layerNames.contains(sp.name))
    val total = new Counters
    layer.foreach(sp => total.add(t.counters(sp)))
    val driverMs = layer.map(t.driverMs).sum
    val engine = Seq(
      layer.map(_.wallMs).sum, driverMs.toDouble, total.taskMs.toDouble,
      total.jobs.toDouble, total.stages.toDouble, total.tasks.toDouble,
      total.inputRows.toDouble, total.inputBytes.toDouble,
      total.shuffleWriteBytes.toDouble, total.shuffleReadBytes.toDouble,
      total.outputBytes.toDouble, total.spillBytes.toDouble, gcMs.toDouble)
    val byName = layer.groupBy(_.name).map { case (name, sps) =>
      val c = new Counters
      sps.foreach(sp => c.add(t.counters(sp)))
      name -> c
    }
    val counts = for (f <- functions; (m, unit, get) <- functionCounts)
      yield s"$f.$m" -> (byName.get(f).map(get).getOrElse(0L).toDouble, unit)
    val perSpan = ListMap.from(layer.groupBy(_.name).toSeq.sortBy(_._2.head.id).map { case (name, sps) =>
      val c = byName(name)
      name -> ListMap[String, Any](
        "calls" -> sps.size, "busy_ms" -> sps.map(_.wallMs).sum,
        "driver_ms" -> sps.map(t.driverMs).sum, "jobs" -> c.jobs, "stages" -> c.stages,
        "tasks" -> c.tasks, "task_ms" -> c.taskMs, "input_rows" -> c.inputRows,
        "shuffle_write_bytes" -> c.shuffleWriteBytes, "shuffle_read_bytes" -> c.shuffleReadBytes,
        "output_bytes" -> c.outputBytes, "spill_bytes" -> c.spillBytes)
    })
    // scan fraction: input rows each search read over the rows of the
    // corpus it searched, averaged over the searches
    val scans = layer.filter(_.name == "IvfIndex.search").flatMap { sp =>
      r.scanBase.get(sp.trace).map(base => t.counters(sp).inputRows.toDouble / base)
    }
    if (scans.nonEmpty)
      r.ratios("IvfIndex.search.scan_fraction") =
        (scans.sum / scans.size, "input rows per query / corpus rows, mean over queries")
    Layers(engineMetrics.zip(engine).map { case ((n, u), v) => n -> (v, u) } ++ counts,
      perSpan ++ ListMap("jvm.gc_ms" -> gcMs))
  }
}
