package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.VectorFunctions._
import graft.functions.TextFunctions._
import graft.functions.PortableHash

object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf = "/root/testdata/sf0.001"
}

class CoreSpec extends AnyFunSuite {
  import SparkTestSession._

  test("vector functions: self-distance identities") {
    import spark.implicits._
    val df = Seq((Array(1f, 2f, 3f), Array(1f, 2f, 3f)), (Array(1f, 0f, 0f), Array(0f, 1f, 0f)))
      .toDF("a", "b")
    val r = df.select(
      cosineDistance($"a", $"a").as("c0"),
      l2Distance($"a", $"a").as("l0"),
      manhattanDistance($"a", $"a").as("m0"),
      cosineDistance($"a", $"b").as("cab"),
      vecDot($"a", $"b").as("dab"),
      vecNorm($"a").as("na")).collect()
    assert(math.abs(r(0).getDouble(0)) < 1e-12)
    assert(math.abs(r(0).getDouble(1)) < 1e-12)
    assert(math.abs(r(0).getDouble(2)) < 1e-12)
    // orthogonal unit vectors: cosine distance 1, dot 0
    assert(math.abs(r(1).getDouble(3) - 1.0) < 1e-12)
    assert(math.abs(r(1).getDouble(4)) < 1e-12)
    assert(math.abs(r(0).getDouble(5) - math.sqrt(14)) < 1e-12)
  }

  test("to_vector/from_vector round-trip") {
    import spark.implicits._
    val df = Seq("[0.5,-1.25,3.0]").toDF("s")
    val arr = df.select(toVector($"s").as("v")).select(
      size($"v"), element_at($"v", 2)).collect()(0)
    assert(arr.getInt(0) == 3 && arr.getFloat(1) == -1.25f)
    val rt = df.select(fromVector(toVector($"s")).as("s2")).collect()(0).getString(0)
    assert(rt == "[0.5,-1.25,3.0]")
  }

  test("portable hash matches DuckDB convention") {
    import spark.implicits._
    // md5('hello') = 5d41402a... -> 0x5d41402a = 1564557354
    val h = Seq("hello").toDF("s").select(PortableHash.phash($"s")).collect()(0).getLong(0)
    assert(h == 1564557354L)
  }

  test("tokens and shingles") {
    import spark.implicits._
    val df = Seq("  The quick  brown fox ").toDF("t")
    val toks = df.select(tokens($"t").as("tk"))
    assert(toks.select(size($"tk")).collect()(0).getInt(0) == 4)
    val sh = toks.select(shingles($"tk", 3).as("sh")).select(explode($"sh")).as[String].collect()
    assert(sh.toSeq == Seq("the quick brown", "quick brown fox"))
    // fewer tokens than n -> empty
    val e = Seq("a b").toDF("t").select(shingles(tokens($"t"), 3).as("sh"))
      .select(size($"sh")).collect()(0).getInt(0)
    assert(e == 0)
  }

  test("all declared queries run on sf0.001 with stable schema") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, sf)
      val n = df.count()
      assert(n >= 0, s"$name failed")
      assert(df.columns.nonEmpty, s"$name has no columns")
    }
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("union-find and distributed label propagation agree on dup clusters") {
    import graft.operators.Dedup
    val pairs = Dedup.minhashLsh(spark, sf).select(col("doc_a"), col("doc_b"))
    val distributed = Dedup.propagate(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // public path takes the driver union-find branch at this size
    val unionFind = Dedup.components(spark, sf)
      .select(col("doc_id"), col("cluster"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(unionFind == distributed)
    assert(unionFind.nonEmpty)
  }

  test("syntax extensions mirror the underlying operators") {
    import graft.syntax._
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    val nbr = Tables.embeddings(spark, sf)
      .select(col("vec_id").as("nid"), col("embedding").as("nvec"))
    val viaSyntax = emb.knnJoin(nbr, "embedding", "nvec", k = 3)
      .select("vec_id", "nid", "dist").collect().map(_.toSeq).toSet
    val direct = graft.plans.KnnJoin(emb, nbr, "embedding", "nvec", k = 3)
      .select("vec_id", "nid", "dist").collect().map(_.toSeq).toSet
    assert(viaSyntax == direct && viaSyntax.nonEmpty)
    // column ops
    val d = Seq((Array(1f, 0f), Array(0f, 1f))).toDF("a", "b")
      .select($"a".cosineTo($"b").as("c"), $"a".binarized.as("bv")).collect()(0)
    assert(math.abs(d.getDouble(0) - 1.0) < 1e-12)
    assert(d.getSeq[Long](1).head == 1L) // sign bit of (1,0) packs to 0b01
    // bounded top-k per key
    val scored = Seq((1L, 0.3, 10L), (1L, 0.1, 11L), (1L, 0.2, 12L), (2L, 0.5, 13L))
      .toDF("k", "dist", "id")
    val top = scored.topKPerKey($"k", $"dist", $"id", 2)
      .orderBy("k", "rnk").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(top == Seq((1L, 11L), (1L, 12L), (2L, 13L)))
  }

  test("approx sketches stay within error bounds of exact") {
    // the within-10% contract is now IN the result surface: the
    // oracle asserts every flag is 1, and this spec mirrors that.
    val rows = graft.operators.Analytics2.qApproxSketches(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(2) == 1L, s"HLL drift past 10%: ${r}")
      assert(r.getLong(4) == 1L, s"percentile drift past 10%: ${r}")
    }
  }

  test("mmr rerank: top-1 fidelity, size, and diversity improvement") {
    import graft.operators.{HybridSearch, VectorSearch}
    val mmr = HybridSearch.mmrRerank(spark, sf).collect()
    assert(mmr.length == 5)
    assert(mmr.map(_.getLong(0)).toSeq == (1L to 5L))
    // first pick is the exact nearest neighbor
    val top1 = VectorSearch.knnCosine(spark, sf).collect()(0).getLong(0)
    assert(mmr(0).getLong(1) == top1)
    // deterministic across runs
    val again = HybridSearch.mmrRerank(spark, sf).collect()
    assert(mmr.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
  }

  test("recursive chunker falls back paragraph → newline → whitespace") {
    import spark.implicits._
    import graft.operators.DocPipeline
    val longLine = (1 to 60).map(i => f"w$i%03d").mkString(" ")   // 300 chars, no newline
    val docs = Seq(
      (1L, "aaa bbb\n\nccc ddd"),                 // two short paragraphs: kept whole
      (2L, ("x" * 150) + "\n" + ("y" * 150)),     // long paragraph: split at the newline
      (3L, longLine)                              // long single line: split at whitespace
    ).toDF("doc_id", "text")
    val out = DocPipeline.chunksRecursiveOf(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
    val d1 = out.filter(_._1 == 1L)
    assert(d1.length == 1 && d1(0)._3 == 2 && d1(0)._5 == "aaa bbb ccc ddd",
      s"paragraph level: ${d1.toSeq}")
    val d2 = out.filter(_._1 == 2L)
    // two LINE pieces (not 300 word pieces), packed by char budget
    assert(d2.map(_._3).sum == 2 && d2.flatMap(_._5.split(" ")).toSet ==
      Set("x" * 150, "y" * 150), s"newline level: ${d2.toSeq}")
    val d3 = out.filter(_._1 == 3L)
    assert(d3.map(_._3).sum == 60 && d3.length == 2, s"whitespace level: ${d3.toSeq}")
    // budget packing: every chunk's char sum stays within max + one piece
    assert(d3.forall(_._4 <= DocPipeline.RecMax + 4), s"overpacked: ${d3.toSeq}")
  }

  test("epoch shuffle: same docs, different order per epoch, deterministic") {
    import graft.operators.TrainingPipeline
    val rows = TrainingPipeline.epochShuffle(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val byEpoch = rows.groupBy(_._1)
    assert(byEpoch.keySet == Set(0L, 1L))
    // both epochs cover the identical sampled doc set
    assert(byEpoch(0L).map(_._2).toSet == byEpoch(1L).map(_._2).toSet)
    // the reshuffle actually moves things: some doc changes shard or position
    val m0 = byEpoch(0L).map(t => t._2 -> (t._3, t._4)).toMap
    assert(byEpoch(1L).exists(t => m0(t._2) != ((t._3, t._4))))
    assert(rows.forall(t => t._3 >= 0 && t._3 < 8 && t._4 >= 1))
    // pure function of (epoch, doc_id): a second run is bit-identical
    val again = TrainingPipeline.epochShuffle(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.toSeq == again.toSeq)
  }

  test("keep-best dedup: one keeper per cluster, keeper has max quality") {
    import graft.operators.Dedup
    val rows = Dedup.keepBest(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4)))
    val byCluster = rows.groupBy(_._2)
    byCluster.foreach { case (c, members) =>
      assert(members.count(_._5 == 1L) == 1, s"cluster $c keeper count")
      assert(members.forall(_._3 == members.length), s"cluster $c size mismatch")
      val keeper = members.find(_._5 == 1L).get
      assert(members.forall(_._4 <= keeper._4), s"cluster $c keeper not max-quality")
      // tie-break: min doc_id among max-quality members
      assert(keeper._1 == members.filter(_._4 == keeper._4).map(_._1).min)
    }
    // every document appears exactly once
    assert(rows.map(_._1).distinct.length == rows.length)
  }

  test("quality scoring: an empty or blank document scores null instead of throwing") {
    // ANSI division by a zero token or char count used to throw
    // DIVIDE_BY_ZERO; an undecodable PDF arrives as "" text
    import spark.implicits._
    val docs = Seq((1L, ""), (2L, "   "), (3L, "a b"),
      (4L, "the cat sat on the mat and it is fine")).toDF("doc_id", "text")
    val rows = graft.operators.TextAnalysis.qualityOf(docs).collect()
      .map(r => r.getLong(0) -> (1 to 5).map(i => Option(r.get(i)))).toMap
    assert(rows.keySet == Set(1L, 2L, 3L, 4L))
    // (stopword, punct, digit, repetition, quality)
    assert(rows(1L) == Seq(None, None, None, None, None))
    assert(rows(2L) == Seq(None, Some(0.0), Some(0.0), None, None))
    assert(rows(3L) == Seq(Some(0.5), Some(0.0), Some(0.0), Some(0.0), Some(1.0)))
    assert(rows(4L).forall(_.isDefined))
  }

  test("capped containment: subset of ground truth with exact scores, recall floor") {
    import graft.operators.Dedup
    val exact = Dedup.containment(spark, sf).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val capped = Dedup.containmentCapped(spark, sf).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // sound, with EXACT scores: the hot-side completion recovers the
    // full intersection for every surviving pair, so a capped row is
    // the ground-truth row bit-for-bit — never just "approximately in"
    capped.foreach { case (k, v) =>
      assert(exact.get(k).contains(v), s"pair $k: capped=$v exact=${exact.get(k)}")
    }
    // recall floor: only pairs whose ENTIRE overlap is df>cap shingles
    // can be missed (corpus-wide boilerplate — dedup_substring's
    // coverage signal owns those); the driver corpus keeps >= 90%
    assert(exact.nonEmpty)
    assert(capped.size >= math.ceil(exact.size * 0.9).toInt,
      s"recall ${capped.size}/${exact.size}")
  }

  test("every query has oracle sql or is documented rows-only") {
    // as of r5 the rows-only list is EMPTY: even the sketch query has
    // a hash-checked contract surface. Keep the set explicit so any
    // future rows-only query must be declared here.
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    val rowsOnly = Set.empty[String]
    assert(missing.subsetOf(rowsOnly), s"undocumented rows-only: ${missing -- rowsOnly}")
  }

  test("library code reads no environment") {
    // an env read in an operator changes a declared query's answer
    // from outside its call; the oracle checks only the call as written
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    val files = Seq("operators", "streaming", "functions", "plans", "sources").flatMap { pkg =>
      val walk = java.nio.file.Files.walk(root.resolve(pkg))
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    assert(files.size > 50, s"source tree not found under ${root.toAbsolutePath}")
    val hits = files.flatMap { f =>
      java.nio.file.Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if line.contains("sys.env") || line.contains("System.getenv") =>
          s"$f:${i + 1}: ${line.trim}"
      }
    }
    assert(hits.isEmpty, hits.mkString("environment reads in library code:\n", "\n", ""))
  }

  private val mainRoot = java.nio.file.Paths.get("src/main/scala")

  /** Every main-tree Scala file with its lines, for the source scans. */
  private lazy val mainSources: List[(java.nio.file.Path, IndexedSeq[String])] = {
    import scala.jdk.CollectionConverters._
    val walk = java.nio.file.Files.walk(mainRoot)
    val files = try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    assert(files.size > 50, s"source tree not found under ${mainRoot.toAbsolutePath}")
    files.map(f => f -> java.nio.file.Files.readAllLines(f).asScala.toIndexedSeq)
  }

  /** "file:line" of every main-tree line `keep` accepts. */
  private def sourceHits(keep: String => Boolean): Seq[String] = mainSources.flatMap { case (f, ls) =>
    ls.indices.filter(i => keep(ls(i))).map(i => s"$f:${i + 1}")
  }

  test("one bounded drain: the stream writer and its checkpoint appear once, inside it") {
    def hits(needle: String): Seq[(java.nio.file.Path, Int)] = mainSources.flatMap { case (f, ls) =>
      ls.indices.filter(i => ls(i).contains(needle)).map(f -> _)
    }
    // the helper's body: from its def to the next member def
    val helper = mainRoot.resolve("graft/streaming/Streaming.scala")
    val ls = mainSources.toMap.apply(helper)
    val from = ls.indexWhere(_.contains("def drain("))
    val to = ls.indexWhere(l => l.trim.startsWith("/**") || l.contains(" def "), from + 1)
    assert(from >= 0 && to > from, "Streaming.drain not found")
    Seq("writeStream", "checkpointLocation").foreach { needle =>
      val at = hits(needle)
      assert(at.size == 1, s"$needle at ${at.map { case (f, i) => s"$f:${i + 1}" }}")
      val (f, i) = at.head
      assert(f == helper && i > from && i < to, s"$needle outside the drain: $f:${i + 1}")
    }
    Seq("format(\"memory\")", "withStatePartitions").foreach { needle =>
      val at = hits(needle)
      assert(at.isEmpty, s"$needle at ${at.map { case (f, i) => s"$f:${i + 1}" }}")
    }
  }

  test("one IVF index format: its artifact names and centroid frame live in IvfIndex alone") {
    val owner = mainRoot.resolve("graft/operators/IvfIndex.scala")
    def outside(keep: String => Boolean): Seq[String] =
      sourceHits(keep).filterNot(_.startsWith(s"$owner:"))
    Seq("assign.parquet", "centroids.parquet").foreach { name =>
      assert(sourceHits(_.contains(name)).nonEmpty, s"$name not found in $owner")
      assert(outside(_.contains(name)).isEmpty, s"$name outside IvfIndex: ${outside(_.contains(name))}")
    }
    // a "cvec" column outside the oracle SQL text (whose lines start
    // with the stripMargin bar) is a centroid frame built in Scala
    val frame = (l: String) => l.contains("\"cvec\"") && !l.trim.startsWith("|")
    assert(sourceHits(frame).nonEmpty, s"no centroid frame in $owner")
    assert(outside(frame).isEmpty, s"centroid frames outside IvfIndex: ${outside(frame)}")
  }

  test("one query set: the vec_id=0 query and the every-50th batch live in VectorSearch alone") {
    // Scala column forms only: the oracle SQL spells `vec_id = 0` and
    // `% 50 = 0`, which none of these needles match
    val needles = Seq("col(\"vec_id\") === 0", "col(\"vec_id\") =!= 0", "% 50 ===")
    val owner = mainRoot.resolve("graft/operators/VectorSearch.scala")
    val outside = sourceHits(l => needles.exists(l.contains)).filterNot(_.startsWith(s"$owner:"))
    assert(outside.isEmpty, s"query-set rules outside VectorSearch: $outside")
    assert(sourceHits(_.contains("val QueryId")).exists(_.startsWith(s"$owner:")),
      s"no QueryId in $owner")
  }

  test("one k-means fit: KMeans is constructed in KMeansFit alone, LocalKMeans named in its bridge alone") {
    def confinedTo(owner: String, pattern: scala.util.matching.Regex): Unit = {
      val at = sourceHits(l => pattern.findFirstIn(l).nonEmpty)
      val file = mainRoot.resolve(owner)
      assert(at.nonEmpty, s"$pattern not found in $file")
      assert(at.forall(_.startsWith(s"$file:")), s"$pattern outside $file: $at")
    }
    confinedTo("graft/functions/KMeansFit.scala",
      """new\s+(org\.apache\.spark\.ml\.clustering\.)?KMeans\(""".r)
    confinedTo("org/apache/spark/mllib/clustering/GraftLocalKMeans.scala", """\bLocalKMeans\b""".r)
  }

  test("bench previous-round parser reads the dump format") {
    // the correlated-noise escalation depends on this parse: a format
    // drift that silently yields an empty map would disable the
    // round-over-round witness without any visible failure.
    val dump = """{"metric":"total","value":94.321,"unit":"sec",""" +
      """"queries":{"q1_pricing_summary":1.234,"vs_knn_pq":-0.500},""" +
      """"samples":{"q1_pricing_summary":[1.234,2.0]},"failed":["vs_knn_pq"]}"""
    val prev = Bench.parsePrevQueries(dump)
    assert(prev("q1_pricing_summary") == 1.234)
    assert(prev("vs_knn_pq") == -0.5) // failed queries stay negated
    assert(Bench.parsePrevQueries("not json at all").isEmpty)
    assert(Bench.parsePrevQueries("""{"value":1.0}""").isEmpty)
    // the witness is per-SF: Bench must be able to read the recorded
    // sf dir so an sf0.1 snapshot can't mass-escalate an sf1 run
    assert(Bench.parsePrevSf("""{"sf":"/root/testdata/sf0.1","value":1}""")
      == "/root/testdata/sf0.1")
    assert(Bench.parsePrevSf("""{"value":1.0}""") == "")
    assert(Bench.parsePrevSf("not json at all") == "")
  }

  test("bench witness selection is per-SF, path-normalized, and self-snapshotted") {
    // sameSf: spelling differences (trailing slash, dot segments) must
    // not disable the witness; different dirs must.
    assert(Bench.sameSf("/root/testdata/sf0.1", "/root/testdata/sf0.1/"))
    assert(Bench.sameSf("/root/testdata/sf0.1", "/root/testdata/./sf0.1"))
    assert(Bench.sameSf("/root/testdata/x/../sf1", "/root/testdata/sf1"))
    assert(!Bench.sameSf("/root/testdata/sf0.1", "/root/testdata/sf1"))
    assert(!Bench.sameSf("", "/root/testdata/sf1")) // unreadable record

    // selectPrev: an existing first candidate at the WRONG SF must not
    // shadow a later candidate at the right SF (the r5 audit gap).
    val dir = java.nio.file.Files.createTempDirectory("benchspec")
    def put(name: String, sf: String, q: String) = {
      val p = dir.resolve(name)
      java.nio.file.Files.write(p,
        s"""{"metric":"total","value":1.0,"queries":{$q},"sf":"$sf"}""".getBytes("UTF-8"))
      p
    }
    val wrongSf = put("bench_full.json", "/root/testdata/sf1", "\"qa\":9.0")
    val rightSf = put("bench_prev.json", "/root/testdata/sf0.1/", "\"qa\":1.5")
    val got = Bench.selectPrev(Seq(wrongSf, rightSf), "/root/testdata/sf0.1")
    assert(got == Map("qa" -> 1.5))
    // missing files and unreadable candidates are skipped, not fatal
    assert(Bench.selectPrev(Seq(dir.resolve("nope.json"), rightSf),
      "/root/testdata/sf0.1") == Map("qa" -> 1.5))
    assert(Bench.selectPrev(Seq(wrongSf), "/root/testdata/sf0.1").isEmpty)

    // snapshotPath: only the two tracked witnesses; focused iteration
    // SFs never clobber them.
    assert(Bench.snapshotPath("/root/testdata/sf0.1")
      .map(_.toString).contains("/root/repo/bench_prev.json"))
    assert(Bench.snapshotPath("/root/testdata/sf1/")
      .map(_.toString).contains("/root/repo/bench_sf1.json"))
    assert(Bench.snapshotPath("/tmp/graft_sf1") // the scale-tool default dst
      .map(_.toString).contains("/root/repo/bench_sf1.json"))
    assert(Bench.snapshotPath("/root/testdata/sf0.01").isEmpty)
    assert(Bench.snapshotPath("/root/testdata/sf0.001").isEmpty)
  }
}
