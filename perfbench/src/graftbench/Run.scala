package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** State of one benchmark run: the session, the tracer, the count of
  * calls attempted and failed, and every failure with its cause. */
final class Run(val spark: SparkSession, val tracer: Tracer, val cpus: Int) {
  var attempted = 0L
  var failed = 0L
  val failures: mutable.ArrayBuffer[Map[String, Any]] = mutable.ArrayBuffer.empty
  /** named end-to-end results: name -> (value, unit) */
  val named: mutable.LinkedHashMap[String, (Double, String)] = mutable.LinkedHashMap.empty
  /** layer ratios: name -> (value, base description) */
  val ratios: mutable.LinkedHashMap[String, (Double, String)] = mutable.LinkedHashMap.empty
  val info: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty
  /** names of the spans that are calls into a library layer */
  val layerNames: mutable.LinkedHashSet[String] = mutable.LinkedHashSet.empty
  /** corpus rows a search span's trace searched: the scan-fraction base */
  val scanBase: mutable.Map[String, Long] = mutable.Map.empty

  def fail(name: String, trace: String, phase: String, cls: String, msg: String): Unit = {
    failed += 1
    failures += scala.collection.immutable.ListMap("span" -> name, "trace" -> trace,
      "phase" -> phase, "exception" -> cls, "message" -> Option(msg).map(_.take(2000)).orNull)
  }

  /** Time one call into a layer as span `name`, then check its output.
    * A call that throws or fails its check counts as failed, with its
    * cause recorded; the run goes on either way. */
  def call[T](name: String, trace: String, phase: String)(body: => T)(
      check: T => Seq[String]): Option[T] = {
    attempted += 1
    layerNames += name
    val out =
      try Some(tracer.span(name, trace, phase)(body))
      catch { case t: Throwable => fail(name, trace, phase, t.getClass.getName, t.getMessage); None }
    out.foreach { v =>
      val problems =
        try check(v) catch { case t: Throwable => Seq(s"check threw ${t.getClass.getName}: ${t.getMessage}") }
      if (problems.nonEmpty)
        fail(name, trace, phase, "CheckFailed", problems.take(5).mkString("; ") +
          (if (problems.size > 5) s" (+${problems.size - 5} more)" else ""))
    }
    out
  }

  /** Run one phase of the run; a throw outside any call is recorded as
    * the phase's failure and the run goes on to report. */
  def guard(name: String, phase: String)(body: => Unit): Unit =
    try body catch { case t: Throwable => fail(name, phase, phase, t.getClass.getName, t.getMessage) }

  /** Spans of one name in one phase that completed without error. */
  def walls(name: String, phase: String): Seq[Double] =
    tracer.spans.toSeq.filter(sp => sp.name == name && sp.phase == phase && sp.error.isEmpty).map(_.wallMs)

  def put(name: String, value: Double, unit: String): Unit = named(name) = (value, unit)

  /** Run `f` over `n` indices on `cpus` threads (the benchmark's own
    * brute-force checks; never timed). */
  def parMap[T: scala.reflect.ClassTag](n: Int)(f: Int => T): Array[T] = {
    val out = new Array[T](n)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.max(1, cpus))
    try {
      val next = new java.util.concurrent.atomic.AtomicInteger(0)
      val futures = (0 until math.max(1, cpus)).map { _ =>
        pool.submit(new Runnable {
          def run(): Unit = {
            var i = next.getAndIncrement()
            while (i < n) { out(i) = f(i); i = next.getAndIncrement() }
          }
        })
      }
      futures.foreach(_.get())
    } finally pool.shutdown()
    out
  }
}

/** Writing the generated inputs in the layouts the library reads. */
object Io {
  import scala.jdk.CollectionConverters._

  /** Write `df` as ONE parquet file at `path` (the layout of a corpus
    * table the library's readers and its streaming source both take). */
  def writeSingleFile(df: DataFrame, path: String): Unit = {
    val tmp = java.nio.file.Paths.get(path + ".tmp")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = scala.util.Using.resource(java.nio.file.Files.list(tmp)) { s =>
      s.iterator().asScala.find(_.getFileName.toString.endsWith(".parquet")).get
    }
    java.nio.file.Files.move(part, java.nio.file.Paths.get(path))
    deleteTree(tmp)
  }

  def deleteTree(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      val all = scala.util.Using.resource(java.nio.file.Files.walk(p))(_.iterator().asScala.toSeq)
      all.reverse.foreach(java.nio.file.Files.deleteIfExists)
    }

  /** Parquet files under `dir`, counted on disk. */
  def parquetFiles(dir: String): Int = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) 0
    else scala.util.Using.resource(java.nio.file.Files.walk(p)) {
      _.iterator().asScala.count(_.getFileName.toString.endsWith(".parquet"))
    }
  }

  def vectorsDf(s: SparkSession, v: Gen.Vecs): DataFrame = {
    import s.implicits._
    v.ids.toSeq.zip(v.vecs.toSeq).toDF("vec_id", "embedding")
  }

  def queriesDf(s: SparkSession, v: Gen.Vecs): DataFrame = {
    import s.implicits._
    v.ids.toSeq.zip(v.vecs.toSeq).toDF("qid", "qv")
  }
}
