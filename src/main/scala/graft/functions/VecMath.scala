package graft.functions

/** Shared primitive-loop distance math (interpreted path of
  * FloatVecDistance and the KnnJoin physical operator). Double,
  * left-to-right accumulation — the portable convention. */
object VecMath {
  val metrics: Set[String] = Set("cosine", "l2", "dot", "manhattan")

  /** `a` L2-normalized: the squares summed left to right from 0.0,
    * then each component divided by the root. */
  def l2norm(a: Array[Double]): Array[Double] = {
    var ss = 0.0; var i = 0
    while (i < a.length) { ss += a(i) * a(i); i += 1 }
    val n = math.sqrt(ss)
    a.map(_ / n)
  }

  /** Double-array variant (mixed float/double sides widen first).
    * Same loops, same left-to-right double accumulation — a float
    * widened to double is exact, so dist == distD on the same data. */
  def distD(metric: String, av: Array[Double], bv: Array[Double]): Double = {
    val n = math.min(av.length, bv.length)
    var i = 0
    metric match {
      case "cosine" =>
        var dot = 0.0; var na = 0.0; var nb = 0.0
        while (i < n) {
          val x = av(i); val y = bv(i)
          dot += x * y; na += x * x; nb += y * y; i += 1
        }
        1.0 - dot / (math.sqrt(na) * math.sqrt(nb))
      case "l2" =>
        var acc = 0.0
        while (i < n) { val d = av(i) - bv(i); acc += d * d; i += 1 }
        math.sqrt(acc)
      case "dot" =>
        var acc = 0.0
        while (i < n) { acc += av(i) * bv(i); i += 1 }
        -acc
      case "manhattan" =>
        var acc = 0.0
        while (i < n) { acc += math.abs(av(i) - bv(i)); i += 1 }
        acc
      case other =>
        throw new IllegalArgumentException(
          s"unknown metric $other (one of ${metrics.mkString(",")})")
    }
  }

  def dist(metric: String, av: Array[Float], bv: Array[Float]): Double = {
    val n = math.min(av.length, bv.length)
    var i = 0
    metric match {
      case "cosine" =>
        var dot = 0.0; var na = 0.0; var nb = 0.0
        while (i < n) {
          val x = av(i).toDouble; val y = bv(i).toDouble
          dot += x * y; na += x * x; nb += y * y; i += 1
        }
        1.0 - dot / (math.sqrt(na) * math.sqrt(nb))
      case "l2" =>
        var acc = 0.0
        while (i < n) { val d = av(i).toDouble - bv(i).toDouble; acc += d * d; i += 1 }
        math.sqrt(acc)
      case "dot" =>
        var acc = 0.0
        while (i < n) { acc += av(i).toDouble * bv(i).toDouble; i += 1 }
        -acc
      case "manhattan" =>
        var acc = 0.0
        while (i < n) { acc += math.abs(av(i).toDouble - bv(i).toDouble); i += 1 }
        acc
      case other =>
        throw new IllegalArgumentException(
          s"unknown metric $other (one of ${metrics.mkString(",")})")
    }
  }
}
