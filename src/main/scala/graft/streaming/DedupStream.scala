package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}

import graft.operators.Dedup

/** Incremental near-dup detection on a document STREAM — the dedup a
  * continuously-ingesting pipeline actually runs: you cannot re-LSH
  * the whole corpus per batch, so bucket membership lives in a STATE
  * TABLE and each micro-batch only joins its own band keys against it.
  *
  * Per micro-batch (foreachBatch):
  *  1. band keys of the new docs (the same md5 MinHash banding as the
  *     batch operator — one narrow pass over the batch), materialized
  *     ONCE to a per-batch scratch table (r17: this replaced a
  *     `.persist()` — the in-memory columnar cache build cost more
  *     than the band compute itself at micro-batch sizes, and the
  *     three consumers each re-scan the tiny parquet instead of
  *     re-running the shingle+MinHash chain);
  *  2. candidates = new-bands ⋈ state-table (new × old) plus the
  *     in-batch self-join (new × new) — band equi-joins, never doc×doc;
  *  3. append new bands to the state table, new candidates to the out
  *     table.
  * State is a parquet table PARTITIONED BY band and appended per
  * batch — at 100 TB the state side is the only thing that grows, and
  * the per-batch join never shuffles it: the scan prunes to the band
  * partitions present in the micro-batch (PartitionFilters — asserted
  * in StreamingSpec) and the (small) batch band set is broadcast, so
  * each batch costs one pruned state scan + a broadcast hash join,
  * zero state-side exchange. After the AvailableNow drain the emitted
  * candidate set equals the batch operator's band-candidate set
  * exactly (StreamingSpec asserts it).
  */
object DedupStream {

  /** The band state table's rows; `band` is its partition column. */
  val StateSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("bkey", StringType),
    StructField("band", IntegerType)))

  /** New-vs-state candidates for one micro-batch: state scan pruned to
    * the batch's band partitions, batch side broadcast. Factored out
    * so its plan (PartitionFilters + BroadcastHashJoin, no state-side
    * Exchange) is directly assertable in StreamingSpec. */
  def stateCandidates(bands: DataFrame, statePath: String): DataFrame = {
    val s = bands.sparkSession
    // ≤ NumBands small ints — partition-pruning metadata, not data.
    val batchBands = bands.select("band").distinct().collect().map(_.getInt(0))
    // explicit schema, like the per-batch scratch read: a first batch
    // with zero band rows (every doc under 3 tokens) leaves the state
    // dir with no data files, and schema inference would fail on it
    s.read.schema(StateSchema).parquet(statePath).as("o")
      .filter(col("o.band").isin(batchBands.toIndexedSeq: _*))
      .join(broadcast(bands).as("n"),
        col("n.band") === col("o.band") && col("n.bkey") === col("o.bkey") &&
          col("n.doc_id") =!= col("o.doc_id"))
      .select(least(col("n.doc_id"), col("o.doc_id")).as("doc_a"),
        greatest(col("n.doc_id"), col("o.doc_id")).as("doc_b"))
  }

  def candidates(s: SparkSession, dir: String): DataFrame = {
    // wiped fixed path: stale state would replay as already-seen bands;
    // per-call temp dirs would leak disk
    val root = graft.functions.Scratch.fresh("dedupstream", dir)
    Streaming.drain(Streaming.source(s, dir, "documents", filePerBatch = true)) {
      (batch, _) => addBatch(s, root, batch)
    }
    drained(s, root)
  }

  /** One micro-batch of the drain rooted at `root`: its band keys, its
    * candidates (in-batch and against the state table) appended to the
    * out table, its bands appended to the state table. */
  private[graft] def addBatch(s: SparkSession, root: String, batch: DataFrame): Unit = {
    val statePath = s"$root/state"
    val batchBandsPath = s"$root/batch_bands"
    // a file-source micro-batch is ONE partition per file; the
    // shingle+MinHash stage is the compute-dense step, so spread
    // it to cluster parallelism first (no-op on a full batch).
    // The band table is consumed three ways per batch (in-batch
    // self-join, new-vs-state join, state append); it is
    // materialized ONCE to a per-batch scratch table (overwritten
    // each batch) and every consumer re-scans that tiny parquet
    // instead of re-running the shingle+MinHash chain per
    // consumer. (r17: this replaces a `.persist()` whose
    // in-memory columnar build cost more than the band compute
    // itself at micro-batch sizes, and it drops the per-batch job
    // count from three full compute passes to one compute + cheap
    // re-scans.) The STATE table is a separate append below;
    // batch isolation needs no tag because the scratch table only
    // ever holds the current batch.
    val priorExists = graft.functions.Scratch.exists(s, statePath)
    val computed = Dedup.bandsOf(Dedup.minhashDocsOf(graft.Tables.spreadFrame(batch)))
    computed.write.mode("overwrite").parquet(batchBandsPath)
    // read back with the EXPLICIT band schema (ADVICE r17): a
    // batch whose documents yield zero band rows (all under 3
    // tokens) writes a data-less dir, and schema inference would
    // fail on it where the old persist() path handled empty
    // frames fine.
    val bands = s.read.schema(computed.schema).parquet(batchBandsPath)
    val withinBatch = bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    val vsState =
      if (!priorExists) withinBatch.limit(0)
      else stateCandidates(bands, statePath)
    withinBatch.union(vsState).distinct()
      .write.mode("append").parquet(s"$root/cands")
    // repartition on the partition column first: one file per band
    // per batch, not (shuffle partitions × bands) small files —
    // state-table file count stays linear in batches.
    bands.repartition(col("band"))
      .write.mode("append").partitionBy("band").parquet(statePath)
  }

  /** The distinct candidate pairs a drain rooted at `root` emitted. */
  private[graft] def drained(s: SparkSession, root: String): DataFrame =
    Streaming.readBack(s, s"$root/cands", PairSchema).distinct().orderBy("doc_a", "doc_b")

  private val PairSchema = StructType(Seq(
    StructField("doc_a", LongType), StructField("doc_b", LongType)))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_minhash_cand" -> (candidates _))

  /** The drained candidate set is deterministic and equals the batch
    * band-candidate set (every (new×old ∪ new×new) union over batches
    * = all band-colliding pairs), so the batch MinHash-LSH candidate
    * CTE chain is its exact oracle — promoted from rows-only. */
  val oracleSql: Map[String, String] = Map(
    "stream_minhash_cand" ->
      s"""WITH ${Dedup.shingleCte},
         |${Dedup.minhashCandCte}
         |SELECT doc_a, doc_b FROM cand ORDER BY doc_a, doc_b""".stripMargin)
}
