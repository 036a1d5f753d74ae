package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import java.nio.charset.StandardCharsets

/** Benchmark runner. Prints ONE short JSON line to stdout and writes
  * the full per-query JSON to `bench_full.json`.
  *
  * Why two outputs: the harness that captures stdout keeps only the
  * last 2000 characters, and sbt appends a ~75-char `[success]` line
  * after the fork exits. A flat map of all query names alone costs
  * >1900 chars, so a single full-coverage line can never fit the
  * window (this is why rounds 1 and 2 both recorded `parsed: null`).
  * The stdout line therefore carries the total, the failed list, and
  * the top-20 slowest queries (the ones perf judging cares about),
  * plus a `queries_file` pointer to the complete per-query dump.
  */
object Bench {
  /** Parse the flat `"name":sec` map under `"queries"` out of a
    * bench_full.json / bench_prev.json dump (our own format — see
    * main below). Exposed for BenchSpec. */
  private[graft] def parsePrevQueries(txt: String): Map[String, Double] =
    try {
      val qsec = """"queries":\{([^}]*)\}""".r
      val pair = """"([^"]+)":(-?[0-9.]+)""".r
      qsec.findFirstMatchIn(txt).map(_.group(1)) match {
        case Some(body) =>
          pair.findAllMatchIn(body).map(m => m.group(1) -> m.group(2).toDouble).toMap
        case None => Map.empty[String, Double]
      }
    } catch { case _: Throwable => Map.empty[String, Double] }

  /** The `"sf"` dir a bench JSON was recorded at, or "" if unreadable. */
  private[graft] def parsePrevSf(txt: String): String =
    try """"sf":"([^"]*)"""".r.findFirstMatchIn(txt).map(_.group(1)).getOrElse("")
    catch { case _: Throwable => "" }

  /** SF-dir equality up to path spelling: a trailing slash, a `..`
    * segment, or a relative-vs-absolute spelling of the same dir must
    * not silently disable the regression witness. */
  private[graft] def sameSf(a: String, b: String): Boolean =
    try {
      a.nonEmpty && b.nonEmpty &&
        Paths.get(a).toAbsolutePath.normalize() == Paths.get(b).toAbsolutePath.normalize()
    } catch { case _: Throwable => a == b }

  /** First candidate snapshot recorded at the SAME SF as this run.
    * Candidates are tried in order; an existing file at a DIFFERENT SF
    * must not shadow a later same-SF one (the r5 audit found exactly
    * that: an sf1 bench_full.json left on disk emptied the witness for
    * the next sf0.1 run even though bench_prev.json matched). */
  private[graft] def selectPrev(candidates: Seq[java.nio.file.Path], sfDir: String): Map[String, Double] =
    candidates.iterator.flatMap { p =>
      try {
        if (!Files.exists(p)) None
        else {
          val txt = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
          if (sameSf(parsePrevSf(txt), sfDir)) Some(parsePrevQueries(txt)) else None
        }
      } catch { case _: Throwable => None }
    }.nextOption().getOrElse(Map.empty)

  /** Where a zero-failure full-inventory run snapshots itself, keyed by
    * the SF basename. Only the two tracked round-over-round witnesses
    * exist; focused sf0.01 iteration runs return None so they can never
    * clobber the driver-SF witness. */
  private[graft] def snapshotPath(sfDir: String): Option[java.nio.file.Path] =
    (try Paths.get(sfDir).toAbsolutePath.normalize().getFileName.toString
     catch { case _: Throwable => "" }) match {
      case "sf0.1"             => Some(Paths.get("/root/repo/bench_prev.json"))
      case "sf1" | "graft_sf1" => Some(Paths.get("/root/repo/bench_sf1.json"))
      case _                   => None
    }

  /** Documented kept negatives (SURVEY §6): the quadratic-candidate
    * LSH twins retained purely as correctness oracles next to their
    * shipped production paths. Their scale behavior is already
    * measured and recorded, so scale-SF refreshes skip timing them —
    * the r6 sf1 wall spent ~4 minutes (~50%) re-demonstrating a known
    * negative on every refresh. Driver SFs still time them, and their
    * correctness rows are unaffected (Verify runs the full registry). */
  private[graft] val KeptNegatives: Set[String] =
    Set("mm_pair_mining_lsh", "dedup_embedding_lsh")

  /** Documented GROUND-TRUTH baselines (SURVEY §6): the deliberately
    * quadratic exact twins of already-benched production paths
    * (capped containment/ngram, IVF-blocked embedding dedup and
    * mining, composed batch serving). Their scale exponents are
    * measured and recorded; at r10 they were ~33% of the sf1 wall,
    * re-demonstrating known O(N²) on every refresh (VERDICT r10
    * punch 3). Scale-SF benches skip timing them so the witness
    * tracks the PRODUCTION surface; driver SFs still time them, and
    * their correctness rows are unaffected (Verify runs the full
    * registry). */
  private[graft] val GroundTruthBaselines: Set[String] =
    Set("dedup_containment", "dedup_ngram_jaccard", "dedup_embedding",
      "mm_pair_mining", "vs_knn_batch")

  /** Queries with a DOCUMENTED cross-round drift history (SURVEY §6):
    * the shingle-join trio moved 1.3–1.6× across r9–r11 with untouched
    * code — their shuffle-heavy profile couples hardest to host load —
    * and src_jsonl_corrupt, the one query >2× in BOTH r12 draws with
    * untouched code (sub-second absolute: a write-then-read fixture
    * whose wall is mostly task-launch overhead, the noisiest cost on a
    * loaded host — VERDICT r12 watch item). They start at min-of-3
    * (the >2×-disagreement escalation, generalized to a standing
    * floor) so a future REAL regression is attributable to code, not
    * to an unlucky pair of draws (VERDICT r11 punch 6). */
  private[graft] val DriftProne: Set[String] =
    Set("dedup_containment_capped", "dedup_ngram_capped", "dedup_ngram_jaccard",
      "src_jsonl_corrupt")

  /** True for the scale-measurement dirs (sf ≥ 1 — the sf1 witness
    * and the 30×/100× exponent tilings): the SFs where kept negatives
    * and ground-truth baselines are skipped. */
  private[graft] def isScaleSf(sfDir: String): Boolean =
    (try Paths.get(sfDir).toAbsolutePath.normalize().getFileName.toString
     catch { case _: Throwable => "" }) match {
      case "sf1" | "graft_sf1" | "sf3" | "graft_sf3" |
           "sf10" | "graft_sf10" |
           "graft_sf3b" | "graft_sf10b" => true // bounded-family tilings
      case _ => false
    }

  /** Loadavg above which a timing draw counts as "busy host" for
    * drift adjudication (VERDICT r13 item 4). Calibration: the r13
    * builder witness ran at loadavg 2.4–4.7 (idle: just this JVM's own
    * GC/task threads), the noisy driver draws at 4–15 with a second
    * JVM active; 8 splits the observed bands. A query regressed >2×
    * vs the witness whose EVERY draw exceeded the bar gets one retry
    * on the run's tail (the quietest moment — all other queries
    * done). The verdict is then recomputed over ALL draws including
    * the retry: a QUIET retry that is still >2× flips the verdict to
    * "code" (the strongest evidence available — slow even on an idle
    * host), a still-busy still-slow run records "load", and a retry
    * that lands inside 2× records "noise". Quiet-host regressions
    * verdict "code" with no retry. This turns the last narrative step
    * of drift adjudication into data in bench_full.json. The bar is
    * host-relative — cpus/4 (8.0 on the calibration host's 32 cpus),
    * floored at 2.0 so a tiny CI box still distinguishes idle from
    * busy — and overridable via GRAFT_LOAD_BAR for hosts whose
    * idle/busy bands sit elsewhere (ADVICE r14: the 8.0 constant
    * misclassified genuinely-busy draws as quiet on smaller hosts). */
  private[graft] val LoadBar: Double =
    sys.env.get("GRAFT_LOAD_BAR")
      .flatMap(s => scala.util.Try(s.trim.toDouble).toOption)
      .getOrElse(math.max(Runtime.getRuntime.availableProcessors() / 4.0, 2.0))

  /** Absolute-delta floor under which a >2× ratio is never flagged
    * (VERDICT r15 item 2): sub-second queries are dominated by
    * task-launch overhead, the noisiest cost on a shared host, so a
    * ratio-only rule false-positives on them routinely — r15's
    * dedup_substring drew 0.165 s at the witness and 0.367 s under
    * load 6.75 (ratio 2.22, delta 0.2 s) with ZERO code change on its
    * path and verdict "code". 0.5 s is far above any observed
    * launch-noise delta (the r9–r15 noise cases all moved ≤ 0.25 s)
    * and far below any real regression worth a verdict (the r15
    * quadratic-regex find was +6 s at sf0.1). */
  private[graft] val DriftAbsFloorSec: Double = 0.5

  /** Effective floor for one query: the fixed 0.5 s floor SCALED DOWN
    * for very fast witnesses (ADVICE r16) — a flat 0.5 s floor would
    * permanently exempt any sub-half-second query from drift detection
    * at ANY ratio (50 ms → 540 ms is ~11× and still under a flat
    * floor). min(0.5 s, 3×witness) keeps the absolute floor for the
    * r15 noise cases it was built for (witness ≥ 167 ms → unchanged
    * 0.5 s) while a tiny-witness query still flags once it has tripled
    * AND moved by three witness-widths; the tail retry then
    * adjudicates noise vs code as usual. */
  private[graft] def driftFloorSec(prev: Double): Double =
    math.min(DriftAbsFloorSec, 3.0 * prev)

  /** Pure drift classification for one query vs the same-SF witness:
    * None = not regressed (no witness, a failed run, within 2×, or a
    * >2× move whose absolute delta is under [[DriftAbsFloorSec]] —
    * launch noise, not signal); Some("load") = regressed >2× with
    * EVERY draw on a busy host (min recorded loadavg above
    * [[LoadBar]] — noise candidate, gets the tail retry);
    * Some("code") = regressed on a quiet host, i.e. a real
    * regression. Factored pure so BenchSpec pins the rule. */
  private[graft] def driftVerdict(prev: Option[Double], minSec: Double,
      failed: Boolean, minLoad: Double): Option[String] =
    prev.filter(_ > 0).flatMap { p =>
      if (failed || minSec <= 0 || minSec <= 2 * p ||
          minSec - p <= driftFloorSec(p)) None
      else Some(if (minLoad > LoadBar) "load" else "code")
    }

  /** 1-minute loadavg at draw time (-1 if unreadable): recorded per
    * timing draw so round-over-round drift adjudication can cite the
    * host's actual load instead of narrative ("host noise" was argued
    * three rounds running without data — VERDICT r12 item 5). */
  private[graft] def load1(): Double =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")),
      StandardCharsets.UTF_8).split("\\s+")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** Live JVM count on the host (-1 if unreadable) — the second drift
    * witness: a concurrent sbt/Spark JVM is the usual culprit. */
  private[graft] def jvmCount(): Long =
    try ProcessHandle.allProcesses()
      .filter(p => p.info().command()
        .map[Boolean](c => c == "java" || c.endsWith("/java")).orElse(false))
      .count()
    catch { case _: Throwable => -1L }

  /** bench_full.json `errors`: per failed query, the class and
    * message of its first failure, and the root cause. */
  private[graft] def errorsJson(errors: Iterable[(String, Throwable)]): String = {
    import Verify.jsonStr
    errors.map { case (k, e) =>
      s""""$k":{"class":${jsonStr(e.getClass.getName)},"message":${jsonStr(String.valueOf(e.getMessage))},"cause":${jsonStr(Verify.describe(e))}}"""
    }.mkString("{", ",", "}")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/root/repo/bench_full.json")
    // shuffle partitions derived from input size (floored at cpus —
    // at local SFs that resolves to exactly `cpus`, at 100 TB it
    // resolves to bytes/128MiB; see GraftSession).
    val spark = GraftSession.configure(
      SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true"),
      GraftSession.dirBytes(sfDir), cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // untimed warmup: JIT + codegen + parquet footer caches, so the
    // first timed query doesn't absorb JVM startup.
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    // previous round's per-query times (if a bench_full.json from the
    // last run survives): a correlated-slow host stretch inflates BOTH
    // base draws so the >2×-disagreement trigger misses it, but the
    // previous round's recorded min is an independent witness.
    // bench_full.json is gitignored (it churns every run), so a fresh
    // checkout would silently lose the witness — the TRACKED snapshots
    // (bench_prev.json at the driver SF, bench_sf1.json at sf1) are
    // written by Bench itself after a zero-failure full-inventory run
    // (see below) and serve as fallbacks.
    // The witness is only valid at the SAME SF: an sf0.1 snapshot
    // read during an sf1 run makes every query look >2× regressed and
    // escalates the whole inventory to min-of-5 (a ~3× wall blowup,
    // hit on the first r5 scaling refresh). selectPrev skips
    // mismatched records instead of stopping at the first file found.
    val prev: Map[String, Double] = selectPrev(
      Seq(Paths.get(outFile), Paths.get("/root/repo/bench_prev.json"),
        Paths.get("/root/repo/bench_sf1.json")), sfDir)
    // min of two timed runs per query: the host is a shared box and a
    // single run can absorb an order-of-magnitude noise spike.
    // optional comma-separated filter for focused profiling runs
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    // an explicit ONLY filter overrides the scale-SF skips: a focused
    // profiling run that NAMES a kept negative or a ground-truth
    // baseline (e.g. measuring the exact twin to destruction for the
    // exponent table) should time it, not silently time nothing.
    val skippedNeg: Set[String] =
      if (isScaleSf(sfDir))
        (SparkEntry.queries.keySet & KeptNegatives) -- only.getOrElse(Set.empty)
      else Set.empty
    val skippedGt: Set[String] =
      if (isScaleSf(sfDir))
        (SparkEntry.queries.keySet & GroundTruthBaselines) -- only.getOrElse(Set.empty)
      else Set.empty
    val skipped: Set[String] = skippedNeg ++ skippedGt
    // first failure per query: its class, message and root cause land
    // in bench_full.json `errors` so a failed row carries its cause
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, Throwable]
    val base0 = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) && !skipped.contains(n) }
      .map { case (name, fn) =>
      var failed = false
      val loads = Vector.newBuilder[Double] // 1-min loadavg before each draw
      def timed(): Double = {
        loads += load1()
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count() } catch { case e: Throwable =>
          failed = true
          if (!errors.contains(name)) errors(name) = e
        }
        (System.nanoTime() - t0) / 1e9
      }
      // the shared host's noise band is >2× (occasionally 10×): when
      // the two base samples disagree by >2×, OR the min exceeds 2×
      // the previous round's recorded time for this query (correlated-
      // slow draws inflate both base samples together — r4 shipped
      // four 4-7× ghost regressions that way), escalate to min-of-5 so
      // a ghost regression needs five consecutive bad draws to
      // survive. All samples land in bench_full.json.
      val base =
        if (DriftProne.contains(name)) Vector(timed(), timed(), timed())
        else Vector(timed(), timed())
      // same ratio + absolute-delta bars as driftVerdict: a sub-floor
      // move on a sub-second query is launch noise and must not burn
      // three escalation draws either (review r16)
      val regressedVsPrev =
        prev.get(name).exists(p => p > 0 && base.min > 2 * p &&
          base.min - p > driftFloorSec(p))
      val samples =
        if (!failed && (base.max > 2 * base.min || regressedVsPrev))
          base ++ Vector(timed(), timed(), timed())
        else base
      // a failed query reports its elapsed-to-failure time NEGATED so a
      // broken query can't masquerade as a fast one
      (name, if (failed) -samples.min else samples.min, failed, samples, loads.result())
    }
    def r3(v: Double): String = f"$v%.3f"
    def r2(v: Double): String = f"$v%.2f"
    // ---- loadavg-aware drift adjudication (VERDICT r13 item 4) ----
    // A query still >2× vs the same-SF witness after its escalation
    // draws gets exactly ONE more draw here on the run's tail — the
    // quietest moment, every other query already finished. r16 widened
    // the retry from busy-host ("load") candidates to EVERY flagged
    // query: quiet-host one-off spikes happen too (r15's vs_knn_ivf_pq
    // 2.39 s vs 0.462 and this round's vs_knn_ivf_pq_batch 2.23 s vs
    // 0.808 both re-drew in band at min_load ~4 — GC/JIT hiccups, not
    // host load), and a manual focused re-draw was needed both times
    // to say so. The verdict lands in bench_full.json `drift`: "load"
    // (still slow, busy host — noise, watch), "code" (still slow on a
    // quiet host INCLUDING its tail retry — a real regression), or
    // "noise" (the tail retry came back inside the 2×/floor bars —
    // adjudicated clean, in data instead of narrative).
    val qmap = SparkEntry.queries
    def minLoadOf(loads: Vector[Double]): Double =
      if (loads.nonEmpty) loads.min else -1.0
    val results = base0.map { case r @ (name, v, failed, samples, loads) =>
      if (driftVerdict(prev.get(name), v, failed, minLoadOf(loads)).isEmpty) r
      else {
        val l = load1()
        val t0 = System.nanoTime()
        val ok = try { qmap(name)(spark, sfDir).count(); true }
          catch { case _: Throwable => false }
        val sec = (System.nanoTime() - t0) / 1e9
        if (ok) (name, math.min(v, sec), failed, samples :+ sec, loads :+ l)
        else r
      }
    }
    val driftJson = results.flatMap { case (name, v, failed, samples, loads) =>
      prev.get(name).filter(_ > 0).flatMap { p =>
        val retried = samples.length > base0.collectFirst {
          case (n, _, _, ss, _) if n == name => ss.length }.getOrElse(samples.length)
        def record(verdict: String) =
          s""""$name":{"prev":${r3(p)},"min":${r3(v)},"ratio":${r2(v / p)},"min_load":${r2(minLoadOf(loads))},"retried":$retried,"verdict":"$verdict"}"""
        driftVerdict(Some(p), v, failed, minLoadOf(loads)) match {
          case Some(verdict) => Some(record(verdict))
          case None if retried => Some(record("noise")) // tail retry resolved it
          case None => None
        }
      }
    }.mkString("{", ",", "}")
    val failedNames = results.collect { case (k, _, true, _, _) => s"\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.collect { case (_, v, false, _, _) => v }.sum
    // full per-query dump (all queries, ms precision) → file; `queries`
    // stays a flat name→sec map (round-over-round diffable), with every
    // raw timing draw alongside in `samples` and the host's 1-min
    // loadavg at each draw in `loadavg` (the drift-adjudication data —
    // VERDICT r12 item 5).
    val fullQs = results.map { case (k, v, _, _, _) => s"\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    val fullSamples = results
      .map { case (k, _, _, ss, _) => s"\"" + k + "\":" + ss.map(r3).mkString("[", ",", "]") }
      .mkString("{", ",", "}")
    val fullLoads = results
      .map { case (k, _, _, _, ls) => s"\"" + k + "\":" + ls.map(r2).mkString("[", ",", "]") }
      .mkString("{", ",", "}")
    val host = s"""{"jvms":${jvmCount()},"loadavg_end":${r2(load1())}}"""
    val skippedJson = skippedNeg.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val skippedGtJson = skippedGt.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val fullJson = s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":$fullQs,"samples":$fullSamples,"loadavg":$fullLoads,"host":$host,"drift":$driftJson,"failed":$failedNames,"errors":${errorsJson(errors)},"skipped_kept_negatives":$skippedJson,"skipped_ground_truth":$skippedGtJson,"sf":"$sfDir","n_queries":${results.size}}"""
    Files.write(Paths.get(outFile), (fullJson + "\n").getBytes(StandardCharsets.UTF_8))
    // self-snapshot the round-over-round witness: a zero-failure run of
    // the FULL inventory at a tracked SF overwrites its snapshot file.
    // This replaces the old manual `cp bench_full.json bench_prev.json`
    // convention, whose forgotten copy silently weakened the witness.
    // Kept negatives intentionally absent at a scale SF still count as
    // "full": the witness covers everything the scale SF ever times.
    val anyFailed = results.exists(_._3)
    val fullInventory =
      only.isEmpty && results.size == SparkEntry.queries.size - skipped.size
    if (!anyFailed && fullInventory)
      snapshotPath(sfDir).foreach { p =>
        Files.write(p, (fullJson + "\n").getBytes(StandardCharsets.UTF_8))
      }
    // short stdout line: total + failed + top-20 slowest + file pointer
    val top = results.filterNot(_._3).sortBy(-_._2).take(20)
      .map { case (k, v, _, _, _) => s"\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":$top,"drift":$driftJson,"failed":$failedNames,"skipped_kept_negatives":$skippedJson,"skipped_ground_truth":$skippedGtJson,"sf":"$sfDir","n_queries":${results.size},"queries_file":"$outFile","note":"stdout queries = top-20 slowest; full per-query JSON in queries_file"}""")
    spark.stop()
  }
}
