package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench harness's pure pieces: the loadavg-aware drift
  * adjudication (SURVEY §6 r14 — "load"/"code"/none split at the 2×
  * bar and [[Bench.LoadBar]]), witness parsing, and the same-SF
  * guard that keeps a stale snapshot from ghost-escalating a run. */
class BenchSpec extends AnyFunSuite {

  test("driftVerdict: within 2x, missing witness, or failed run never flags") {
    assert(Bench.driftVerdict(None, 10.0, failed = false, minLoad = 1.0).isEmpty)
    assert(Bench.driftVerdict(Some(0.0), 10.0, failed = false, minLoad = 1.0).isEmpty)
    assert(Bench.driftVerdict(Some(-1.0), 10.0, failed = false, minLoad = 1.0).isEmpty)
    assert(Bench.driftVerdict(Some(5.0), 10.0, failed = false, minLoad = 1.0).isEmpty)
    assert(Bench.driftVerdict(Some(5.0), 10.1, failed = true, minLoad = 1.0).isEmpty)
    assert(Bench.driftVerdict(Some(5.0), -0.1, failed = false, minLoad = 1.0).isEmpty)
  }

  test("driftVerdict: >2x on a quiet host is code, on a busy host is load") {
    assert(Bench.driftVerdict(Some(1.0), 2.5, failed = false,
      minLoad = Bench.LoadBar - 1).contains("code"))
    assert(Bench.driftVerdict(Some(1.0), 2.5, failed = false,
      minLoad = Bench.LoadBar + 1).contains("load"))
    // exactly at the bar counts as quiet (strict >): the bar splits
    // the observed idle (2.4-4.7) and busy (4-15) bands
    assert(Bench.driftVerdict(Some(1.0), 2.5, failed = false,
      minLoad = Bench.LoadBar).contains("code"))
    // unreadable loadavg (-1) can never read as busy
    assert(Bench.driftVerdict(Some(1.0), 2.5, failed = false,
      minLoad = -1.0).contains("code"))
  }

  test("driftVerdict: a >2x move under the 0.5 s absolute floor never flags") {
    // the r15 false positive verbatim: dedup_substring 0.165 -> 0.367
    // under load 6.75 drew verdict "code" with no code change on its
    // path (VERDICT r15 item 2); the delta floor absorbs it
    assert(Bench.driftVerdict(Some(0.165), 0.367, failed = false,
      minLoad = 6.75).isEmpty)
    // boundary: delta exactly at the floor stays quiet (<=), a hair
    // above it flags
    assert(Bench.driftVerdict(Some(0.2), 0.7, failed = false,
      minLoad = 1.0).isEmpty)
    assert(Bench.driftVerdict(Some(0.2), 0.71, failed = false,
      minLoad = 1.0).contains("code"))
    // the floor never shields a real regression: a 1 s -> 2.5 s move
    // clears both the ratio bar and the floor
    assert(Bench.driftVerdict(Some(1.0), 2.5, failed = false,
      minLoad = 1.0).contains("code"))
  }

  test("drift floor scales down for tiny witnesses (ADVICE r16)") {
    // a flat 0.5 s floor would let a 50 ms query regress 11x forever;
    // min(0.5, 3*prev) flags it (delta 0.49 > floor 0.15)...
    assert(math.abs(Bench.driftFloorSec(0.05) - 0.15) < 1e-12)
    assert(Bench.driftVerdict(Some(0.05), 0.54, failed = false,
      minLoad = 1.0).contains("code"))
    // ...while a sub-3x move on the same witness stays quiet (ratio bar)
    assert(Bench.driftVerdict(Some(0.05), 0.09, failed = false,
      minLoad = 1.0).isEmpty)
    // witnesses >= 167 ms keep the full 0.5 s absolute floor
    assert(Bench.driftFloorSec(0.2) == 0.5)
    assert(Bench.driftFloorSec(5.0) == 0.5)
  }

  test("LoadBar derives from the host's cpu count, floored at 2") {
    // ADVICE r14: the 8.0 constant was calibrated to the 32-cpu
    // builder host and misread smaller hosts. Unless GRAFT_LOAD_BAR
    // overrides it, the bar is cpus/4 with a 2.0 floor (= 8.0 on the
    // calibration host, preserving the r13 band split). The env path
    // mirrors production's lenient parse (unparseable -> default) and
    // skips the floor assert: an explicit override below 2.0 is a
    // legitimate operator choice (review r15).
    val envBar = sys.env.get("GRAFT_LOAD_BAR")
      .flatMap(s => scala.util.Try(s.trim.toDouble).toOption)
    val default = math.max(Runtime.getRuntime.availableProcessors() / 4.0, 2.0)
    assert(Bench.LoadBar == envBar.getOrElse(default))
    if (envBar.isEmpty) assert(Bench.LoadBar >= 2.0)
  }

  test("parsePrevQueries + sameSf: the witness only binds at the matching SF") {
    val txt = """{"metric":"total","value":9.9,"unit":"sec","queries":{"a":1.5,"b":0.25},"sf":"/root/testdata/sf0.1"}"""
    assert(Bench.parsePrevQueries(txt) == Map("a" -> 1.5, "b" -> 0.25))
    assert(Bench.parsePrevSf(txt) == "/root/testdata/sf0.1")
    assert(Bench.sameSf("/root/testdata/sf0.1", "/root/testdata/sf0.1/"))
    assert(Bench.sameSf("/root/testdata/sf0.1", "/root/testdata/x/../sf0.1"))
    assert(!Bench.sameSf("/root/testdata/sf0.1", "/tmp/graft_sf1"))
    assert(!Bench.sameSf("", "/tmp/graft_sf1"))
  }

  test("a failed query's record carries its class, message and root cause") {
    val e = new RuntimeException("stream \"q\" stopped",
      new IllegalStateException("locked by another session"))
    assert(Verify.describe(e) == "java.lang.RuntimeException: stream \"q\" stopped " +
      "(root cause java.lang.IllegalStateException: locked by another session)")
    assert(Verify.describe(new IllegalStateException("x")) == "java.lang.IllegalStateException: x")
    val js = Bench.errorsJson(Seq("q1" -> e))
    assert(js.startsWith("""{"q1":{"class":"java.lang.RuntimeException","message":"stream \"q\" stopped","""), js)
    assert(js.contains("locked by another session"), js)
    assert(Bench.errorsJson(Nil) == "{}")
  }
}
