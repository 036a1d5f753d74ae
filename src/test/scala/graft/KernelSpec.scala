package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{ArrayReduceAgg, FloatVecDistance, TopKAgg, VectorFunctions}

/** Custom Catalyst kernels must agree exactly with the combinator
  * formulations they replaced — that equivalence is what lets them
  * slot into oracle-checked queries without changing results. */
class KernelSpec extends AnyFunSuite {
  import SparkTestSession._

  private lazy val emb = Tables.embeddings(spark, sf).limit(50)
    .select(col("vec_id"), col("embedding"))

  test("FloatVecDistance matches combinator distances bit-for-bit") {
    val pairs = emb.crossJoin(
      emb.select(col("vec_id").as("b_id"), col("embedding").as("b_emb")))
      .filter(col("vec_id") < col("b_id"))
    val diffs = pairs.select(
      (FloatVecDistance.cosine(col("embedding"), col("b_emb")) -
        VectorFunctions.cosineDistance(col("embedding"), col("b_emb"))).as("dc"),
      (FloatVecDistance.l2(col("embedding"), col("b_emb")) -
        VectorFunctions.l2Distance(col("embedding"), col("b_emb"))).as("dl"),
      (FloatVecDistance.dot(col("embedding"), col("b_emb")) -
        VectorFunctions.negDotDistance(col("embedding"), col("b_emb"))).as("dd"),
      (FloatVecDistance.manhattan(col("embedding"), col("b_emb")) -
        VectorFunctions.manhattanDistance(col("embedding"), col("b_emb"))).as("dm"))
      .agg(max(abs(col("dc"))), max(abs(col("dl"))), max(abs(col("dd"))), max(abs(col("dm"))))
      .collect()(0)
    (0 until 4).foreach(i => assert(diffs.getDouble(i) == 0.0,
      s"kernel $i deviates from combinator path"))
  }

  test("FloatVecDistance mixed float/double sides match the combinator path bit-for-bit") {
    // the probe-ranking stage ranks float query vectors against the
    // DOUBLE centroid dictionary through this kernel; bit-identity
    // with the interpreted zip_with path is what allowed the swap
    // without touching any oracle hash.
    val cents = emb.select(col("vec_id").as("b_id"),
      transform(col("embedding"), x => x.cast("double")).as("cvec"))
    val pairs = emb.crossJoin(cents).filter(col("vec_id") < col("b_id"))
    val diffs = pairs.select(
      (FloatVecDistance.cosine(col("embedding"), col("cvec")) -
        VectorFunctions.cosineDistance(col("embedding"), col("cvec"))).as("dc"),
      (FloatVecDistance.l2(col("cvec"), col("embedding")) -
        VectorFunctions.l2Distance(col("cvec"), col("embedding"))).as("dl"))
      .agg(max(abs(col("dc"))), max(abs(col("dl"))))
      .collect()(0)
    (0 until 2).foreach(i => assert(diffs.getDouble(i) == 0.0,
      s"mixed-type kernel $i deviates from combinator path"))
    // interpreted (non-codegen) eval of the mixed form agrees too
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}
    val e = graft.functions.FloatVecDistance(
      Literal.create(Array(1f, 2f, 3f), ArrayType(FloatType)),
      Literal.create(Array(4.0, 5.0, 6.0), ArrayType(DoubleType)),
      "cosine")
    val all = graft.functions.FloatVecDistance(
      Literal.create(Array(1f, 2f, 3f), ArrayType(FloatType)),
      Literal.create(Array(4f, 5f, 6f), ArrayType(FloatType)),
      "cosine")
    assert(e.eval(null) == all.eval(null))
  }

  test("FloatVecDistance interpreted eval agrees with codegen") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    val e = graft.functions.FloatVecDistance(
      Literal.create(Array(1f, 2f, 3f), ArrayType(FloatType)),
      Literal.create(Array(4f, 5f, 6f), ArrayType(FloatType)),
      "cosine")
    val interpreted = e.eval(null).asInstanceOf[Double]
    import spark.implicits._
    val codegen = Seq((Array(1f, 2f, 3f), Array(4f, 5f, 6f))).toDF("a", "b")
      .select(FloatVecDistance.cosine(col("a"), col("b"))).collect()(0).getDouble(0)
    assert(interpreted == codegen)
  }

  test("WinnowMins matches the stacked-HOF winnowing bit-for-bit") {
    import graft.functions.{PortableHash, TextFunctions, WinnowMins}
    // the exact formulation the fused kernel replaced in
    // TextAnalysis.fingerprint — shingle strings, seeded phash per
    // shingle, array_min over each 4-slice
    val toks = Tables.documents(spark, sf)
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
    val viaHof = toks
      .select(col("doc_id"),
        transform(TextFunctions.shingles(col("toks"), 4),
          x => PortableHash.phash(x, 4242)).as("hs"))
      .filter(size(col("hs")) > 0)
      .select(col("doc_id"),
        transform(sequence(lit(0), size(col("hs")) - 1),
          i => array_min(slice(col("hs"), i + 1, lit(4)))).as("wm"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val viaKernel = toks
      .select(col("doc_id"), WinnowMins.of(col("toks"), 4, 4, 4242).as("wm"))
      .filter(size(col("wm")) > 0)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(viaKernel.keySet == viaHof.keySet)
    viaHof.foreach { case (id, wm) =>
      assert(viaKernel(id) == wm, s"winnow kernel deviates for doc $id")
    }
    // short-doc contract: fewer than n tokens → empty array, like shingles()
    import spark.implicits._
    val short = Seq((1L, Seq("a", "b", "c")), (2L, Seq("a", "b", "c", "d")))
      .toDF("doc_id", "toks")
      .select(col("doc_id"), size(WinnowMins.of(col("toks"), 4, 4, 7)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(short(1L) == 0 && short(2L) == 1)
    // interpreted eval agrees with the codegen path
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, StringType}
    val e = graft.functions.WinnowMins(
      Literal.create(Seq("x", "y", "z", "w", "v"), ArrayType(StringType)), 4, 4, 4242)
    val interp = e.eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toLongArray().toSeq
    val viaDf = Seq(Tuple1(Seq("x", "y", "z", "w", "v"))).toDF("toks")
      .select(WinnowMins.of(col("toks"), 4, 4, 4242)).collect()(0).getSeq[Long](0)
    assert(interp == viaDf)
  }

  test("TopKByDist equals window row_number top-k") {
    val pairs = emb.crossJoin(
      emb.select(col("vec_id").as("nid"), col("embedding").as("nvec")))
      .filter(col("vec_id") =!= col("nid"))
      .select(col("vec_id"), col("nid"),
        round(FloatVecDistance.cosine(col("embedding"), col("nvec")), 4).as("dist"))
    val viaAgg = pairs.groupBy("vec_id")
      .agg(TopKAgg.topkByDist(col("dist"), col("nid"), 3).as("top"))
      .select(col("vec_id"), posexplode(col("top")))
      .select(col("vec_id"), col("col.id"), col("col.dist"), (col("pos") + 1).as("rnk"))
      .collect().map(_.toSeq).toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id")).orderBy(col("dist"), col("nid"))
    val viaWindow = pairs.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("vec_id"), col("nid"), col("dist"), col("rnk"))
      .collect().map(_.toSeq).toSet
    assert(viaAgg == viaWindow)
  }

  test("ArrayLongReduce min/sum match explode+groupBy") {
    import spark.implicits._
    val df = Seq(
      (1L, Array(5L, 1L, 9L)), (1L, Array(3L, 7L, 2L)), (2L, Array(10L, 10L, 10L)))
      .toDF("k", "arr")
    val viaAgg = df.groupBy("k")
      .agg(ArrayReduceAgg.arrayMinAgg(col("arr")).as("mn"),
        ArrayReduceAgg.arraySumAgg(col("arr")).as("sm"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1), r.getSeq[Long](2)))
      .sortBy(_._1).toSeq
    assert(viaAgg == Seq(
      (1L, Seq(3L, 1L, 2L), Seq(8L, 8L, 11L)),
      (2L, Seq(10L, 10L, 10L), Seq(10L, 10L, 10L))))
  }

  test("flat-column signature aggregates match the retired ArrayLongReduce forms") {
    // the per-document MinhashSig kernel replaced the exploded
    // 32-column min() aggregate; this pins it against the elementwise
    // ArrayReduceAgg reference over the same distinct (doc, shingle)
    // rows — same signatures over real corpus shingles, element for
    // element, and the same doc set (docs with no shingle have none).
    import graft.operators.Dedup
    import graft.functions.{MinhashSig, PortableHash, TextFunctions}
    val docs = Tables.documents(spark, sf).limit(40)
    val viaKernel = Dedup.minhashDocsOf(docs)
      .filter(col("sig").isNotNull)
      .select(col("doc_id"), col("sig"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).sortBy(_._1).toSeq
    val viaTyped = docs
      .select(col("doc_id"),
        explode(TextFunctions.shingles(TextFunctions.tokens(col("text")), 3)).as("shingle"))
      .distinct()
      .select(col("doc_id"),
        array((0 until Dedup.NumPerms).map(i =>
          PortableHash.phashWord(col("shingle"), i / 4, i % 4)): _*).as("hs"))
      .groupBy("doc_id")
      .agg(ArrayReduceAgg.arrayMinAgg(col("hs")).as("sig"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).sortBy(_._1).toSeq
    assert(viaTyped.nonEmpty)
    assert(viaKernel == viaTyped)
    // interpreted eval agrees with the driver-side hash convention, and
    // an empty shingle array has no signature
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, StringType}
    val sh = Seq("a b c", "b c d")
    val interp = MinhashSig(Literal.create(sh, ArrayType(StringType)), Dedup.NumPerms)
      .eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toLongArray().toSeq
    assert(interp == (0 until Dedup.NumPerms).map(i =>
      sh.map(x => PortableHash.phashWordLocal(x, i / 4, i % 4)).min))
    assert(MinhashSig(Literal.create(Seq.empty[String], ArrayType(StringType)), Dedup.NumPerms)
      .eval(null) == null)
  }

  test("Shingles kernel equals the HOF n-gram form, interpreted and codegen") {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{ArrayType, StringType}
    import graft.functions.{Shingles, TextFunctions}
    import spark.implicits._
    // the lambda form the kernel replaced: the reference, kept here
    def hofShingles(toks: Column, n: Int): Column =
      when(size(toks) >= n,
        transform(sequence(lit(0), size(toks) - n),
          i => array_join(slice(toks, i + 1, lit(n)), " ")))
        .otherwise(array().cast("array<string>"))
    // 0, n-1 and n tokens (n = 3), whitespace runs, non-ASCII, null
    val edge = Seq[(Long, String)](
      (-1L, ""), (-2L, "   "), (-3L, "alpha beta"), (-4L, "alpha beta gamma"),
      (-5L, "  a\t\t b \n\n  c   d  "), (-6L, "Größe café naïve 日本語 テキスト ü"),
      (-7L, "x y z w v u t s r q p o"), (-8L, null))
      .toDF("doc_id", "text")
    val texts = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
      .union(edge)
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
    for (n <- Seq(1, 2, 3, 4, 8)) {
      val rows = texts
        .select(col("doc_id"), col("toks"),
          TextFunctions.shingles(col("toks"), n).as("k"), hofShingles(col("toks"), n).as("h"))
        .collect()
      assert(rows.length > 8)
      rows.foreach { r =>
        val id = r.getLong(0)
        val ref = r.getSeq[String](3)
        assert(r.getSeq[String](2) == ref, s"codegen kernel deviates for doc $id, n=$n")
        val toks = if (r.isNullAt(1)) null else r.getSeq[String](1)
        val interp = Shingles(Literal.create(toks, ArrayType(StringType)), n)
          .eval(null).asInstanceOf[ArrayData]
        assert(interp.toArray[AnyRef](StringType).map(_.toString).toSeq == ref,
          s"interpreted kernel deviates for doc $id, n=$n")
      }
    }
    // null text tokenizes to a null array: the kernel gives an empty
    // array either way, like the lambda form's size() guard
    val nulls = Seq[String](null).toDF("t")
      .select(size(TextFunctions.shingles(TextFunctions.tokens(col("t")), 3)),
        size(TextFunctions.shingles(lit(null).cast("array<string>"), 3)))
      .collect()(0)
    assert(nulls.getInt(0) == 0 && nulls.getInt(1) == 0)
  }

  test("FastHalfUpRound is bit-identical to the BigDecimal reference") {
    import graft.functions.FastHalfUpRound.{round => fast, slow}
    def bits(d: Double) = java.lang.Double.doubleToLongBits(d)
    def check(x: Double, s: Int): Unit =
      assert(bits(fast(x, s)) == bits(slow(x, s)),
        s"x=$x scale=$s fast=${fast(x, s)} slow=${slow(x, s)}")
    // adversarial: the full scale-4 grid ± boundary offsets, both signs
    val offs = Seq(0.0, 1e-9, -1e-9, 5e-5, -5e-5, 5e-5 + 1e-12, 5e-5 - 1e-12,
      4.9999e-5, 5.0001e-5, 2.5e-5, 7.5e-5)
    for (k <- -30000 to 30000; o <- offs) check(k / 1e4 + o, 4)
    // money-scale grid with half-cent boundaries
    for (k <- -5000 to 5000; o <- Seq(0.0, 0.005, 0.0049999, 0.0050001, -0.005))
      check(k * 1.37 + o, 2)
    // deterministic random sweep across magnitudes and scales
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 200000) {
      val x = (rnd.nextDouble() - 0.5) * math.pow(10, rnd.nextInt(16) - 6)
      check(x, rnd.nextInt(9))
    }
    // specials: NaN, infinities, zeros, guard boundaries, huge scales
    for (x <- Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
      0.0, -0.0, 1e12, -1e12, 9.999999e11, 1.1e12, 1e300, Double.MinPositiveValue))
      for (s <- Seq(0, 2, 4, 8)) check(x, s)
    // and through the column API: SafeRound over a spread of values
    // agrees with functions.round (the expression it replaced)
    import spark.implicits._
    val df = (1 to 5000).map(i => i * 0.013577 - 30.0).toDF("v")
    val diff = df.select(
      graft.functions.SafeRound.round(col("v"), 4).as("a"),
      org.apache.spark.sql.functions.round(col("v") + lit(1e-9), 4).as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(diff == 0L)
  }

  test("KnnJoin's rounded dist equals SafeRound over the cosine kernel, at half boundaries too") {
    import spark.implicits._
    import graft.functions.{SafeRound, VecMath}
    // seeded search over 3-d vectors for pairs whose distance plus
    // `shift` lies within `eps` of a 4-dp half boundary: raw distances
    // within 1e-6, and shifted ones inside FastHalfUpRound's exact band
    val rnd = new scala.util.Random(11)
    def near(eps: Double, shift: Double, n: Int): Seq[(Array[Float], Array[Float])] =
      Iterator.continually((Array.fill(3)(rnd.nextGaussian().toFloat),
          Array.fill(3)(rnd.nextGaussian().toFloat)))
        .filter { case (a, b) =>
          val y = (VecMath.dist("cosine", a, b) + shift) * 1e4
          math.abs(y - math.floor(y) - 0.5) < eps * 1e4
        }.take(n).toSeq
    val pairs = near(1e-6, 0.0, 20) ++ near(1e-10, 1e-9, 2) ++ near(1.0, 0.0, 6)
    val left = pairs.zipWithIndex.map { case ((a, _), i) => (i.toLong, a) }.toDF("qid", "qv")
    val right = pairs.zipWithIndex.map { case ((_, b), i) => (i.toLong, b) }.toDF("nid", "nvec")
    // k = |right|: every (left, right) pair comes back
    val viaJoin = graft.plans.KnnJoin(left, right, "qv", "nvec", k = pairs.size,
        roundDp = 4, tieBreak = Some("nid"))
      .select("qid", "nid", "dist").as[(Long, Long, Double)].collect()
    val viaColumn = left.crossJoin(right)
      .select(col("qid"), col("nid"),
        SafeRound.round(FloatVecDistance.cosine(col("qv"), col("nvec")), 4).as("dist"))
      .as[(Long, Long, Double)].collect()
    assert(viaJoin.length == pairs.size * pairs.size)
    def bits(r: Array[(Long, Long, Double)]) = r.map { case (q, n, d) =>
      (q, n) -> java.lang.Double.doubleToLongBits(d) }.toMap
    assert(bits(viaJoin) == bits(viaColumn))
  }

  test("Md5Words matches the conv/substring/md5 chain bit-for-bit") {
    // the r17 PortableHash rewrite: every phash/phashWord/phash64 now
    // reads raw digest bytes through the codegen Md5Words kernel —
    // this pins word w == conv(substring(md5(s), 8w+1, 8), 16, 10)
    // over real corpus strings, every word, several seeds, so the
    // swap cannot have moved any signature, band key or join key.
    import graft.functions.PortableHash
    def oldWord(c: org.apache.spark.sql.Column, seed: Int, word: Int) =
      conv(substring(md5(concat(lit(seed.toString), lit(":"), c.cast("string"))),
        word * 8 + 1, 8), 16, 10).cast("long")
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val sh = docs.select(explode(
      graft.functions.TextFunctions.shingles(
        graft.functions.TextFunctions.tokens(col("text")), 3)).as("s"))
    val mism = sh.select(
      (0 until 4).flatMap(w => Seq(77, 91).map(seed =>
        (PortableHash.phashWord(col("s"), seed, w) =!=
          oldWord(col("s"), seed, w)).as(s"m_${seed}_$w"))): _*)
      .select(greatest((lit(false) +: (0 until 4).flatMap(w =>
        Seq(77, 91).map(seed => col(s"m_${seed}_$w")))): _*).as("any"))
      .filter(col("any")).count()
    assert(mism == 0L, "Md5Words deviates from the conv/substring chain")
    // 64-bit packing: phash64 == old shiftleft(word0,32)|word1 form
    val m64 = sh.select((PortableHash.phash64(col("s"), 91) =!=
      shiftleft(oldWord(col("s"), 91, 0), 32).bitwiseOR(oldWord(col("s"), 91, 1))).as("m"))
      .filter(col("m")).count()
    assert(m64 == 0L, "phash64 packing deviates")
    // interpreted eval path agrees with the driver-side local form
    val w = graft.functions.Md5Words(
      org.apache.spark.sql.catalyst.expressions.Literal(
        org.apache.spark.unsafe.types.UTF8String.fromString("42:hello world"),
        org.apache.spark.sql.types.StringType))
    val arr = w.eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    (0 until 4).foreach { i =>
      assert(arr.getLong(i) == PortableHash.phashWordLocal("hello world", 42, i))
    }
    // null propagates like the md5 chain did
    val nulls = docs.select(PortableHash.phash(lit(null).cast("string")).as("h"))
      .filter(col("h").isNotNull).count()
    assert(nulls == 0L)
  }
}
