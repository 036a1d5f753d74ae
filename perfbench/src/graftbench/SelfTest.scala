package graftbench

/** Self-tests of the benchmark's own logic: the generator, the
  * percentile rule and the ratio arithmetic. No Spark session; prints
  * each failed check and exits non-zero if any failed. */
object SelfTest {
  private var failures = 0
  private var passed = 0

  private def check(name: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case t: Throwable => println(s"  threw $t"); false }
    if (ok) passed += 1 else { failures += 1; println(s"FAIL $name") }
  }

  private def near(a: Double, b: Double): Boolean = math.abs(a - b) < 1e-12

  def main(args: Array[String]): Unit = {
    // generator: same seed -> identical inputs; another seed -> others
    def inputs(seed: Long) = {
      val d = Gen.docs(seed, 300)
      val c = Gen.centres(seed, 8)
      val v = Gen.vectors(seed, 500, 0L, 0, c)
      Gen.checksum(Some(d), Seq(v, Gen.perturbed(seed, 20, 1000L, v)),
        d.texts.toSeq.map(graft.sources.PdfGen.clearPdf))
    }
    check("same seed gives identical input checksums")(inputs(7) == inputs(7))
    check("another seed gives other inputs")(inputs(7) != inputs(8))
    check("streams under one seed differ")(
      Gen.checksum(Some(Gen.docs(7, 100, stream = 0)), Nil, Nil) !=
        Gen.checksum(Some(Gen.docs(7, 100, stream = 1)), Nil, Nil))
    val d = Gen.docs(11, 1000)
    check("a tenth of the docs are planted near-duplicates")(d.planted.length == 100)
    check("planted pairs are (smaller, larger) and distinct docs")(
      d.planted.forall { case (a, b) => a < b } && d.planted.flatMap(p => Seq(p._1, p._2)).distinct.length == 200)
    check("planted copies differ from their source in 1-2 tokens")(d.planted.forall { case (a, b) =>
      val x = d.texts(a.toInt).split(" "); val y = d.texts(b.toInt).split(" ")
      x.length == y.length && x.zip(y).count { case (p, q) => p != q } <= 2
    })
    check("docs average about 60 tokens")(
      math.abs(d.texts.map(Gen.tokenCount).sum.toDouble / d.texts.length - 60) < 3)

    // chunk count closed form
    check("chunks: n <= 40 is one chunk")(Seq(1, 39, 40).forall(Gen.expectedChunks(_) == 1))
    check("chunks: ceil((n-40)/30)+1 above 40")(
      Gen.expectedChunks(41) == 2 && Gen.expectedChunks(70) == 2 && Gen.expectedChunks(71) == 3 &&
        Gen.expectedChunks(100) == 3 && Gen.expectedChunks(101) == 4)

    // percentile rule: highest percentile with >= 10 samples beyond it
    check("200 samples: p95 has exactly 10 beyond")(Stats.beyond(200, 95) == 10)
    check("200 samples report p95")(Stats.tailPercentile(200).contains(95))
    check("1000 samples report p99")(Stats.tailPercentile(1000).contains(99))
    check("199 samples fall back to p90")(Stats.tailPercentile(199).contains(90))
    check("50 samples report p80")(Stats.tailPercentile(50).contains(80))
    check("19 samples have no tail percentile")(Stats.tailPercentile(19).isEmpty)
    val xs = (1 to 200).map(_.toDouble)
    check("nearest-rank p95 of 1..200 is 190")(Stats.percentile(xs, 95) == 190.0)
    check("median of 1..200 is 100.5")(Stats.median(xs) == 100.5)
    check("median of odd count")(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)

    // recall arithmetic
    check("overlap counts shared ids over the truth size")(
      near(Stats.overlap(Seq(1L, 2L, 3L, 9L), Seq(1L, 2L, 3L, 4L)), 0.75))
    check("overlap ignores order")(near(Stats.overlap(Seq(4L, 3L, 2L, 1L), Seq(1L, 2L, 3L, 4L)), 1.0))
    check("pair recall counts every planted pair")(
      near(Stats.pairRecall(Seq((1L, 2L), (3L, 4L), (5L, 6L), (7L, 8L)), Set((1L, 2L), (5L, 6L), (9L, 10L))), 0.5))
    check("pair recall is directional on (smaller, larger)")(
      near(Stats.pairRecall(Seq((1L, 2L)), Set((2L, 1L))), 0.0))
    check("verified per candidate")(near(Stats.perCandidate(30, 120), 0.25))
    check("verified per candidate with no candidates")(Stats.perCandidate(0, 0) == 0.0)

    // exact top-k: ordered, ties broken by id, agrees with a full sort
    val c = Gen.centres(3, 4)
    val v = Gen.vectors(3, 400, 0L, 0, c)
    val q = v.vecs(17)
    val top = Stats.exactTopK(q, v.ids, v.vecs, 10)
    val full = v.ids.indices.map(i => (v.ids(i), Stats.round(Stats.cosine(q, v.vecs(i)), 4)))
      .sortBy { case (id, dd) => (dd, id) }.take(10)
    check("exact top-k equals a full sort by (rounded distance, id)")(top == full)
    check("exact top-k is ordered")(Stats.ordered(top))
    check("a corpus vector is its own nearest neighbour")(top.head == ((17L, 0.0)))
    check("rounding is HALF_UP at 4 dp")(Stats.round(0.12345, 4) == 0.1235 && Stats.round(0.12344, 4) == 0.1234)

    // driver-only time: span wall minus the union of task intervals
    check("idle time subtracts the union of task intervals")(
      Tracer.idleMs(0, 100, Seq((10L, 30L), (20L, 40L), (90L, 120L))) == 100 - 30 - 10)
    check("idle time of a span with no tasks is its wall")(Tracer.idleMs(5, 25, Nil) == 20)

    println(s"selftest: $passed passed, $failures failed")
    if (failures > 0) sys.exit(1)
  }
}
