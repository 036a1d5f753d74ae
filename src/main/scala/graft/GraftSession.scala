package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Scale-knob derivation: the session settings that must TRACK DATA
  * SIZE, computed instead of hardcoded.
  *
  * The rule of thumb this encodes (and SessionSpec pins):
  *  - shuffle partitions ≈ input bytes / 128 MiB, floored at the
  *    machine's parallelism (a partition per core at minimum) and
  *    capped at 200k (scheduler sanity at the 100 TB end — 100 TB /
  *    128 MiB ≈ 800k raw would swamp the scheduler; AQE coalescing
  *    makes the cap safe because partitions are merged, not spilled).
  *  - files.maxPartitionBytes stays at 128 MiB — scan-side parallelism
  *    follows file count × this, and smaller values only multiply task
  *    overhead.
  *  - AQE on, with skew-join splitting: runtime re-planning is the
  *    defense for the skew no static estimate catches.
  */
object GraftSession {
  val TargetPartitionBytes: Long = 128L << 20
  val MaxShufflePartitions = 200000

  def shufflePartitionsFor(inputBytes: Long, parallelism: Int): Int = {
    val bySize = inputBytes / TargetPartitionBytes
    math.max(parallelism, math.min(MaxShufflePartitions.toLong, bySize).toInt)
  }

  /** Shard count for writing an O(corpus) ARTIFACT table of roughly
    * `bytes` payload (index assignments, PQ codes): target files of
    * [[TargetPartitionBytes]] (guide §6: output files in the
    * 128 MB–1 GB range), floored at 2 and capped at
    * [[MaxShufflePartitions]]. The session's shuffle-partition count
    * is the wrong unit for these writes: it is floored at CORE COUNT
    * for compute parallelism, so a small dump pays one near-empty
    * file + task commit per core (32 at the bench geometry), while at
    * scale the two formulas coincide (both are bytes/128 MiB). The
    * floor of 2 keeps the multi-file pin (AnnSpec): a single-file
    * dump would hide the AQE-coalesced one-task-writes-the-corpus
    * failure mode this path guards against. */
  def artifactShards(bytes: Long): Int =
    math.max(2L, math.min(MaxShufflePartitions.toLong,
      bytes / TargetPartitionBytes)).toInt

  /** Total bytes under a directory (the local stand-in for a cloud
    * prefix listing), walked at its canonical spelling, so a `file:`
    * URI sizes the same dir as its plain path. */
  def dirBytes(dir: String): Long = {
    val p = Paths.get(graft.functions.Scratch.canonicalDir(dir))
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_: Path)).mapToLong(Files.size(_: Path)).sum()
      finally s.close()
    }
  }

  /** Apply the scale-derived knobs for a job reading ~`inputBytes`
    * with `parallelism` cores. */
  def configure(b: SparkSession.Builder, inputBytes: Long,
      parallelism: Int): SparkSession.Builder =
    b.config("spark.sql.shuffle.partitions",
        shufflePartitionsFor(inputBytes, parallelism).toString)
      .config("spark.sql.files.maxPartitionBytes", TargetPartitionBytes.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
}
