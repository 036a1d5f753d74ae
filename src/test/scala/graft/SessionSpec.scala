package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the scale-knob arithmetic of GraftSession. */
class SessionSpec extends AnyFunSuite {
  import GraftSession._

  test("shuffle partitions: floored at parallelism for small inputs") {
    assert(shufflePartitionsFor(0L, 32) == 32)
    assert(shufflePartitionsFor(1L << 30, 32) == 32) // 1 GiB / 128 MiB = 8 < 32
  }

  test("shuffle partitions: tracks bytes/128MiB in the large regime") {
    val tenTb = 10L << 40
    assert(shufflePartitionsFor(tenTb, 32) == (tenTb / TargetPartitionBytes).toInt)
    // 100 TB hits the scheduler-sanity cap
    assert(shufflePartitionsFor(100L << 40, 32) == MaxShufflePartitions)
  }

  test("shuffle partitions: monotone in input size") {
    val sizes = Seq(1L << 20, 1L << 30, 1L << 35, 1L << 40, 10L << 40, 100L << 40)
    val parts = sizes.map(shufflePartitionsFor(_, 16))
    assert(parts == parts.sorted)
  }

  test("dirBytes sees the testdata parquet files") {
    val b = dirBytes("/root/testdata/sf0.001")
    assert(b > 0L)
    // and the derived partitions for local test SFs equal parallelism
    assert(shufflePartitionsFor(b, 32) == 32)
  }

  // the four cache specs below keep the titles they had when the cache
  // held only frames (DfCache); they now drive graft.functions.Artifacts
  test("DfCache bounds live sessions: LRU eviction past MaxPerSession, recent keys survive") {
    import graft.functions.Artifacts
    val spark = SparkTestSession.spark
    import spark.implicits._
    Artifacts.clear()
    try {
      // overfill by 5: a service iterating many corpus dirs must not
      // accumulate persisted frames without limit (r7 kept only the
      // stopped-session hygiene; live sessions grew unboundedly)
      val n = Artifacts.MaxPerSession + 5
      (0 until n).foreach { i =>
        Artifacts.frame(spark, s"lru-spec-$i", SparkTestSession.sf)(Seq(i).toDF("v"))
      }
      assert(Artifacts.size(spark) == Artifacts.MaxPerSession)
      // least-recently-used dropped, most recent retained
      assert(!Artifacts.contains(spark, "lru-spec-0", SparkTestSession.sf))
      assert(Artifacts.contains(spark, s"lru-spec-${n - 1}", SparkTestSession.sf))
      // re-inserting an evicted key works (rebuild path, no stale state)
      val df = Artifacts.frame(spark, "lru-spec-0", SparkTestSession.sf)(Seq(42).toDF("v"))
      assert(df.collect().map(_.getInt(0)).toSeq == Seq(42))
    } finally Artifacts.clear()
  }

  test("DfCache: a throwing build leaves no entry; the next caller rebuilds") {
    import graft.functions.Artifacts
    val spark = SparkTestSession.spark
    import spark.implicits._
    Artifacts.clear()
    try {
      intercept[RuntimeException] {
        Artifacts.frame(spark, "boom", SparkTestSession.sf)(throw new RuntimeException("transient"))
      }
      // a never-built memo must not squat the map (LRU slot + a stale
      // first-caller thunk); the retry runs the NEW caller's build
      assert(!Artifacts.contains(spark, "boom", SparkTestSession.sf))
      val df = Artifacts.frame(spark, "boom", SparkTestSession.sf)(Seq(7).toDF("v"))
      assert(df.collect().map(_.getInt(0)).toSeq == Seq(7))
    } finally Artifacts.clear()
  }

  test("DfCache: a hit never queues behind another key's in-flight build") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    import graft.functions.Artifacts
    val spark = SparkTestSession.spark
    import spark.implicits._
    Artifacts.clear()
    try {
      Artifacts.frame(spark, "latch-hit", SparkTestSession.sf)(Seq(1).toDF("v"))
      val started = new CountDownLatch(1)
      val release = new CountDownLatch(1)
      // some builds run eager Spark jobs (Dedup.components executes
      // its whole propagation loop inside one); model that with a
      // build parked on a latch
      val builder = new Thread(() => {
        Artifacts.frame(spark, "latch-slow", SparkTestSession.sf) {
          started.countDown()
          release.await(30, TimeUnit.SECONDS)
          Seq(2).toDF("v")
        }
        ()
      })
      builder.start()
      assert(started.await(30, TimeUnit.SECONDS), "builder never started")
      // while latch-slow's build is parked, a hit on another key must
      // return promptly — pre-r10 it queued on the same monitor
      val t0 = System.nanoTime()
      val hit = Artifacts.frame(spark, "latch-hit", SparkTestSession.sf)(
        fail("latch-hit must be served from cache"))
      val hitMs = (System.nanoTime() - t0) / 1e6
      release.countDown()
      builder.join(30000)
      assert(hit.collect().map(_.getInt(0)).toSeq == Seq(1))
      assert(hitMs < 2000, s"hit blocked ${hitMs}ms behind an in-flight build")
    } finally Artifacts.clear()
  }

  test("DfCache: a waiter behind a throwing build retries with ITS OWN thunk") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    import graft.functions.Artifacts
    val spark = SparkTestSession.spark
    import spark.implicits._
    Artifacts.clear()
    try {
      val started = new CountDownLatch(1)
      val release = new CountDownLatch(1)
      @volatile var builderThrew = false
      val builder = new Thread(() => {
        try {
          Artifacts.frame(spark, "race-key", SparkTestSession.sf) {
            started.countDown()
            release.await(30, TimeUnit.SECONDS)
            throw new RuntimeException("builder fails")
          }
          ()
        } catch { case _: RuntimeException => builderThrew = true }
      })
      builder.start()
      assert(started.await(30, TimeUnit.SECONDS), "builder never started")
      // the waiter arrives while the doomed build is in flight; when
      // it throws, a lazy-val memo would REPLAY the builder's captured
      // thunk under the waiter (throwing its exception at the wrong
      // caller — or succeeding into an orphaned persist the removed
      // entry can never unpersist). The Try-recording memo makes the
      // waiter re-enter with its own thunk instead (ADVICE r10).
      @volatile var waiterResult: Seq[Int] = Nil
      val waiter = new Thread(() => {
        waiterResult = Artifacts.frame(spark, "race-key", SparkTestSession.sf)(Seq(9).toDF("v"))
          .collect().map(_.getInt(0)).toSeq
      })
      waiter.start()
      Thread.sleep(300) // let the waiter park on the memo monitor
      release.countDown()
      builder.join(30000); waiter.join(30000)
      assert(builderThrew, "builder must rethrow its own failure")
      assert(waiterResult == Seq(9), "waiter must get its own build's result")
      // the waiter's successful entry is tracked — eviction can reach it
      assert(Artifacts.contains(spark, "race-key", SparkTestSession.sf))
    } finally Artifacts.clear()
  }

  test("Scratch: same-JVM re-entry succeeds; a foreign lock holder fails loudly") {
    import graft.functions.Scratch
    // re-entrant within the JVM: repeated runs of one (query, dir)
    val p1 = Scratch.fresh("lockspec", "/tmp/lockspec_dir")
    val p2 = Scratch.fresh("lockspec", "/tmp/lockspec_dir")
    assert(p1 == p2)
    // foreign tenant: hold the raw OS lock on a key this JVM's Scratch
    // has never acquired — to FileChannel.tryLock an overlapping
    // same-JVM lock is exactly what another process's lock is, so this
    // models the concurrent-session wipe the lock exists to prevent
    val other = Scratch.pathOf("lockspec2", "/tmp/lockspec_dir")
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(other).getParent)
    val ch = java.nio.channels.FileChannel.open(
      java.nio.file.Paths.get(other + ".lock"),
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.WRITE)
    val fl = ch.lock()
    try {
      intercept[IllegalStateException] {
        Scratch.fresh("lockspec2", "/tmp/lockspec_dir")
      }
      ()
    } finally { fl.release(); ch.close() }
    // released → the next tenant acquires and proceeds
    Scratch.fresh("lockspec2", "/tmp/lockspec_dir")
    ()
  }
}
