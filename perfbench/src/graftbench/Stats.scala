package graftbench

/** The arithmetic behind every reported number, kept free of Spark so
  * the self-test can pin it. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted; val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile: the smallest sample with at least p% of
    * the samples at or below it. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val rank = math.max(1, math.ceil(p / 100.0 * s.length).toInt)
    s(rank - 1)
  }

  /** Samples that lie beyond the nearest-rank p-th percentile. */
  def beyond(n: Int, p: Double): Int = n - math.max(1, math.ceil(p / 100.0 * n).toInt)

  /** The highest of the usual percentiles that still has at least ten
    * samples beyond it; None when even the median has fewer. */
  def tailPercentile(n: Int): Option[Int] =
    Seq(99, 95, 90, 80, 75, 50).find(p => beyond(n, p) >= 10)

  /** |found ∩ truth| / |truth| — the share of the true top-k a search
    * returned. */
  def overlap(found: Seq[Long], truth: Seq[Long]): Double = {
    require(truth.nonEmpty, "overlap against an empty truth set")
    found.toSet.intersect(truth.toSet).size.toDouble / truth.size
  }

  /** Share of planted pairs that appear in the reported pair set. Every
    * planted pair counts in the denominator, found or not. */
  def pairRecall(planted: Seq[(Long, Long)], reported: Set[(Long, Long)]): Double = {
    require(planted.nonEmpty, "no planted pairs")
    planted.count(p => reported.contains(p)).toDouble / planted.size
  }

  /** Verified pairs per band-collision candidate. */
  def perCandidate(verified: Long, candidates: Long): Double =
    if (candidates == 0) 0.0 else verified.toDouble / candidates

  /** HALF_UP rounding of d + 1e-9 to `dp` decimals — the rounding the
    * library applies to reported distances. */
  def round(d: Double, dp: Int): Double =
    java.math.BigDecimal.valueOf(d + 1e-9).setScale(dp, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Cosine distance with left-to-right double accumulation of the
    * float-widened components. */
  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    1.0 - dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Brute-force top-k over `corpus` by (rounded distance, id):
    * the exact answer every search result is judged against. */
  def exactTopK(q: Array[Float], ids: Array[Long], corpus: Array[Array[Float]],
      k: Int, dp: Int = 4): Seq[(Long, Double)] = {
    val raw = new Array[Double](ids.length)
    var i = 0
    while (i < ids.length) { raw(i) = cosine(q, corpus(i)); i += 1 }
    // rounding is monotone, so the answer lies among the rows within
    // one rounding step of the k-th smallest raw distance
    val kth = raw.sorted.apply(math.min(k, raw.length) - 1)
    val slack = 1.1 * math.pow(10, -dp)
    raw.indices.filter(j => raw(j) <= kth + slack)
      .map(j => (ids(j), round(raw(j), dp)))
      .sortBy { case (id, d) => (d, id) }
      .take(k)
  }

  /** True when `rows` are ordered by (dist, id) ascending. */
  def ordered(rows: Seq[(Long, Double)]): Boolean =
    rows.zip(rows.drop(1)).forall { case ((ia, da), (ib, db)) => da < db || (da == db && ia < ib) }
}
