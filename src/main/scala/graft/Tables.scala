package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Readers for the driver-generated parquet lake.
  *
  * Mirrors the reference's storage layer (`scripts/setup/01_init.sql`:
  * tablespace + directory objects) as a plain parquet directory per
  * scale factor — on a real cluster these would be cloud-storage
  * prefixes; nothing here assumes local disk.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** One logical reader (schema + file index) per table, from
    * [[graft.functions.Artifacts]] keyed by the table's own path, so a
    * rewritten table gets a new reader.
    *
    * Every `spark.read.parquet(path)` pays a driver-side file listing
    * plus a parquet footer read for schema inference — measured at
    * ~60 ms per call on this corpus (OPTIMIZATION_r17.md §6), and the
    * per-query bench harness constructs every table it touches afresh,
    * so the suite paid it thousands of times per run. A real deployment
    * reads these tables through a catalog whose manifest carries the
    * schema and file list (guide §6 — the practical argument for
    * table formats at scale); this cache is the local stand-in:
    * the LOGICAL reader is reused, while every action still scans the
    * parquet data itself — nothing about query RESULTS is cached.
    * Returns the reader and the (bytes, newest mtime) stamp of the
    * path's one directory walk. */
  private def reader(spark: SparkSession, sfDir: String, name: String): (DataFrame, (Long, Long)) = {
    val path = s"$sfDir/$name.parquet"
    graft.functions.Artifacts.lookup[DataFrame](spark, "table", path, _ => ())(
      spark.read.parquet(path))
  }

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    reader(spark, sfDir, name)._1

  def lineitem(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "part")
  def nation(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "region")
  def documents(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "embeddings")

  /** The stream-side reader for COMPUTE-DENSE consumers (quadratic
    * pair scoring, per-row hashing/winnowing, quantization): when the
    * table is small enough that byte-based file splitting cannot fill
    * the cluster (≈ one task per 128 MiB, and a single-row-group file
    * is one task no matter what), round-robin it to cluster
    * parallelism first. The shuffle moves only `bytes` (< cores ×
    * 128 MiB by the guard) but unlocks every core for the expensive
    * stage after it; above the threshold — any real-scale corpus —
    * this is exactly `table()`, no extra exchange. Found at sf1: the
    * brute-force knn scored 200M pairs inside the ONE scan task of a
    * 5 MB embeddings file while 31 cores idled (bench_sf1, r5).
    */
  def spread(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // the table's bytes come from the reader's own stamp walk
    val (df, (bytes, _)) = reader(spark, sfDir, name)
    val par = spark.sparkContext.defaultParallelism
    if (underSplitParallelism(bytes, par)) df.repartition(par)
    else df
  }

  /** Guard for [[spread]]: true iff byte-based file splitting (one
    * task per ~[[GraftSession.TargetPartitionBytes]]) cannot produce
    * `par` scan tasks on its own. */
  def underSplitParallelism(bytes: Long, par: Int): Boolean =
    bytes < par.toLong * GraftSession.TargetPartitionBytes

  /** Stream-side analogue of [[spread]] for an already-materialized
    * frame (a `foreachBatch` micro-batch): a file-source micro-batch
    * arrives with one partition per FILE, so a compute-dense per-batch
    * stage (MinHash banding, centroid assignment, quality scoring)
    * runs on one core no matter how many are idle. Redistribute to
    * cluster parallelism when the batch has fewer partitions; no-op —
    * no exchange — when it already fills the cluster. */
  def spreadFrame(df: DataFrame): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < par) df.repartition(par) else df
  }

  /** The generator has shipped `ts` as parquet TIMESTAMP(NANOS)
    * (surfacing as long ns under `nanosAsLong`) and as naive
    * micros (surfacing as TIMESTAMP_NTZ). Normalize every encoding
    * to an instant TimestampType column — watermarks reject NTZ and
    * epoch casts differ — interpreting naive values as UTC (every
    * graft session pins spark.sql.session.timeZone=UTC).
    */
  def events(spark: SparkSession, sfDir: String): DataFrame =
    eventTime(table(spark, sfDir, "events"))

  /** The `ts` normalization of [[events]], for a batch or a streaming
    * read of the table alike (Streaming.eventStream). */
  private[graft] def eventTime(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }
}
