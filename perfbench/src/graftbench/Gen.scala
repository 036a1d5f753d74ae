package graftbench

import java.util.SplittableRandom

/** Seeded input generator. Everything a workload feeds the library is
  * made here from the run seed, in plain JVM arrays; the parquet and
  * PDF files the library reads are written from these arrays. The same
  * (seed, sizes) always gives the same arrays, so [[Gen.checksum]] of
  * the inputs is a function of the seed alone. */
object Gen {
  val Dim = 64

  /** Words drawn as stopwords by the quality scorer. */
  val Stopwords: Array[String] = Array("the", "a", "of", "and", "to", "in", "is", "it")

  final case class Docs(ids: Array[Long], texts: Array[String],
      /** (smaller id, larger id) of every planted near-duplicate pair */
      planted: Array[(Long, Long)])

  final case class Vecs(ids: Array[Long], vecs: Array[Array[Float]])

  private def rng(seed: Long, stream: Int): SplittableRandom =
    new SplittableRandom(seed * 1000003L + stream)

  /** Pseudo-words: 2-4 consonant-vowel syllables, distinct. */
  def vocab(seed: Long, n: Int): Array[String] = {
    val r = rng(seed, 1)
    val cons = "bcdfghjklmnprstvwz"; val vow = "aeiou"
    val out = scala.collection.mutable.LinkedHashSet.empty[String]
    while (out.size < n) {
      val syl = 2 + r.nextInt(3)
      val sb = new StringBuilder
      for (_ <- 0 until syl) sb.append(cons(r.nextInt(cons.length))).append(vow(r.nextInt(vow.length)))
      val w = sb.result()
      if (!Stopwords.contains(w)) out += w
    }
    out.toArray
  }

  /** `n` documents of 40-80 tokens (about 60 on average); a tenth of
    * them are near-duplicate copies of another document with one or
    * two tokens substituted. Ids start at `firstId`. */
  def docs(seed: Long, n: Int, firstId: Long = 0L, stream: Int = 0): Docs = {
    val words = vocab(seed, 4000)
    val r = rng(seed, 100 + stream)
    val texts = new Array[Array[String]](n)
    val nDup = n / 10
    val planted = new Array[(Long, Long)](nDup)
    // originals first, then each duplicate copies a distinct original
    val nOrig = n - nDup
    for (i <- 0 until nOrig) {
      val len = 40 + r.nextInt(41)
      val stopP = r.nextDouble() * 0.4
      texts(i) = Array.fill(len)(
        if (r.nextDouble() < stopP) Stopwords(r.nextInt(Stopwords.length))
        else words(r.nextInt(words.length)))
    }
    val sources = (0 until nOrig).toArray
    for (i <- sources.length - 1 to 1 by -1) {
      val j = r.nextInt(i + 1); val t = sources(i); sources(i) = sources(j); sources(j) = t
    }
    for (d <- 0 until nDup) {
      val src = sources(d)
      val copy = texts(src).clone()
      val edits = 1 + r.nextInt(2)
      for (_ <- 0 until edits) copy(r.nextInt(copy.length)) = words(r.nextInt(words.length))
      texts(nOrig + d) = copy
      planted(d) = (firstId + src, firstId + nOrig + d)
    }
    Docs(Array.tabulate(n)(i => firstId + i), texts.map(_.mkString(" ")), planted)
  }

  /** Unit-scale cluster centres for a vector corpus. */
  def centres(seed: Long, k: Int): Array[Array[Double]] = {
    val r = rng(seed, 2)
    Array.fill(k)(Array.fill(Dim)(gauss(r)))
  }

  private def gauss(r: SplittableRandom): Double = {
    // Box-Muller; SplittableRandom has no nextGaussian on JDK 17
    val u = 1.0 - r.nextDouble(); val v = r.nextDouble()
    math.sqrt(-2.0 * math.log(u)) * math.cos(2 * math.Pi * v)
  }

  /** `n` clustered vectors: a centre plus isotropic noise of scale 0.35
    * per coordinate. `stream` separates independent draws (corpus,
    * appends) under one seed. */
  def vectors(seed: Long, n: Int, firstId: Long, stream: Int,
      centres: Array[Array[Double]]): Vecs = {
    val r = rng(seed, 200 + stream)
    val vs = Array.fill(n) {
      val c = centres(r.nextInt(centres.length))
      Array.tabulate(Dim)(j => (c(j) + 0.35 * gauss(r)).toFloat)
    }
    Vecs(Array.tabulate(n)(i => firstId + i), vs)
  }

  /** Held-out queries: a random corpus vector moved by small noise, so
    * a query is near but never equal to a corpus point. */
  def perturbed(seed: Long, n: Int, firstId: Long, corpus: Vecs): Vecs = {
    val r = rng(seed, 300)
    val vs = Array.fill(n) {
      val base = corpus.vecs(r.nextInt(corpus.vecs.length))
      Array.tabulate(Dim)(j => (base(j) + 0.05 * gauss(r)).toFloat)
    }
    Vecs(Array.tabulate(n)(i => firstId + i), vs)
  }

  /** SHA-256 over the generated inputs (and the binary files made from
    * them), in a fixed order. */
  def checksum(docs: Option[Docs], vecs: Seq[Vecs], blobs: Seq[Array[Byte]]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val bb = java.nio.ByteBuffer.allocate(8)
    def long(x: Long): Unit = { bb.clear(); bb.putLong(x); md.update(bb.array()) }
    docs.foreach { d =>
      d.ids.indices.foreach { i => long(d.ids(i)); md.update(d.texts(i).getBytes("UTF-8")) }
      d.planted.foreach { case (a, b) => long(a); long(b) }
    }
    vecs.foreach { v =>
      v.ids.indices.foreach { i =>
        long(v.ids(i)); v.vecs(i).foreach(f => long(java.lang.Float.floatToIntBits(f).toLong))
      }
    }
    blobs.foreach { b => long(b.length); md.update(b) }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  /** Token count of a generated text under the library's tokenizer
    * rule (lower-case, trim, split on whitespace, drop empties). */
  def tokenCount(text: String): Int =
    text.trim.toLowerCase.split("\\s+").count(_.nonEmpty)

  /** Chunk count the chunker must produce for `n` tokens: one chunk up
    * to 40 tokens, then one more per 30-token stride. */
  def expectedChunks(n: Int): Int =
    if (n <= 40) 1 else math.ceil((n - 40).toDouble / 30).toInt + 1
}
