package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // default raised 4 → 8 in r2: the inventory grew to 86 queries
    // (incl. k-means fits and streaming drains); 8 threads keeps the
    // full dump comfortably inside any reasonable driver timeout.
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = GraftSession.configure(
      SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        // events.parquet carries TIMESTAMP(NANOS) which Spark cannot read
        // natively; read as long ns and let Tables.events normalize.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true"),
      GraftSession.dirBytes(sfDir), cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // optional comma-separated filter for focused dev runs (the driver
    // never sets it); oracle_sql.json is filtered identically so
    // selfcheck only checks what was dumped
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    SparkEntry.queries
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${Verify.describe(e)}")
      }
    }
    // bind oracle table paths to THIS run's sfDir, not a compile-time
    // constant — Spark results and oracle must read the same data
    val json = SparkEntry.oracleSqlFor(sfDir)
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${jsonStr(k)}: ${jsonStr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    System.err.println(s"[verify] artifacts held: ${graft.functions.Artifacts.size(spark)} " +
      s"of ${graft.functions.Artifacts.MaxPerSession}")
    spark.stop()
  }

  /** JSON string literal: escapes backslash, quote, and ALL control
    * chars (<0x20) — a tab or CR in builder-authored SQL would
    * otherwise make a reader's json.load fail and silently zero the
    * round's correctness. */
  def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** A failure's class and message, plus its root cause's when the
    * failure wraps another (Spark wraps task and stream errors). */
  def describe(e: Throwable): String = {
    def one(t: Throwable) = s"${t.getClass.getName}: ${t.getMessage}"
    var root = e
    while (root.getCause != null && (root.getCause ne root)) root = root.getCause
    if (root eq e) one(e) else s"${one(e)} (root cause ${one(root)})"
  }
}
