package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._
import scala.util.{Try, Using}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{BpeTokenizer, Dedup, IvfIndex, PqIndex}
import graft.streaming.IvfStream

/** The artifact cache as its callers see it: built once under a race,
  * and never served across an in-place rewrite of its corpus. */
class ArtifactsSpec extends AnyFunSuite {
  import SparkTestSession._

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** A fresh copy of a corpus dir (one parquet file per table). */
  private def corpusCopy(from: String = sf): String = {
    val to = Files.createTempDirectory("graft_artifacts")
    Using.resource(Files.list(Paths.get(from)))(_.iterator().asScala.toList)
      .foreach(f => Files.copy(f, to.resolve(f.getFileName)))
    to.toString
  }

  /** Replace `dir/table.parquet` in place with `f` of its content, as
    * one file like the generated corpus. */
  private def rewrite(dir: String, table: String, f: DataFrame => DataFrame): Unit = {
    val path = Paths.get(s"$dir/$table.parquet")
    val staged = Files.createTempDirectory("graft_rewrite").resolve(table)
    f(spark.read.parquet(path.toString)).coalesce(1).write.parquet(staged.toString)
    val part = Using.resource(Files.list(staged))(_.iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get)
    Files.move(part, path, StandardCopyOption.REPLACE_EXISTING)
  }

  /** New content for each input table: half the documents, reversed (so
    * word pairs change), plus an exact duplicate of doc 0 (so a new
    * near-dup pair appears); a third of the vectors dropped. */
  private val rewrites: Map[String, DataFrame => DataFrame] = Map(
    "documents" -> { docs =>
      val kept = docs.filter(col("doc_id") % 2 === 0).withColumn("text", reverse(col("text")))
      kept.unionByName(kept.filter(col("doc_id") === 0).withColumn("doc_id", lit(1000001L)))
    },
    "embeddings" -> (_.filter(col("vec_id") % 3 =!= 1)))

  private def rows(df: DataFrame): Seq[Seq[Any]] = df.collect().map(_.toSeq).toSeq

  /** One input per artifact kind: the table it derives from, the cached
    * object a hit returns again (None where the entry is internal), and
    * the answer a caller sees. */
  private case class Kind(label: String, table: String, cached: Option[String => AnyRef],
      answer: String => Any)

  private val kinds = Seq(
    Kind("persisted frame (Dedup.minhashLsh)", "documents",
      Some(d => Dedup.minhashLsh(spark, d)),
      d => rows(Dedup.minhashLsh(spark, d)).toSet),
    Kind("held rows (IvfIndex.build)", "embeddings",
      Some(d => IvfIndex.build(spark, d)._1),
      { d =>
        val (index, centroids) = IvfIndex.build(spark, d)
        (index.count(), IvfIndex.corpusCount(spark, d), centroids.map(_.toSeq).toSeq)
      }),
    Kind("PQ codes (PqIndex.build)", "embeddings",
      Some(d => PqIndex.build(spark, d)._1),
      { d =>
        val (codes, codebooks) = PqIndex.build(spark, d)
        (rows(codes).toSet, codebooks.map(_.map(_.toSeq).toSeq).toSeq)
      }),
    Kind("stream fit (IvfStream.indexUpsert)", "embeddings", None,
      { d =>
        val probe = rows(IvfStream.indexUpsert(spark, d))
        val centroids = rows(spark.read.parquet(s"${IvfStream.scratchRoot(d)}/dump/centroids.parquet")
          .orderBy("cid"))
        (probe, centroids)
      }),
    Kind("BPE merges (BpeTokenizer.learnMerges)", "documents",
      Some(d => BpeTokenizer.learnMerges(spark, d)),
      d => BpeTokenizer.learnMerges(spark, d)),
    Kind("table reader (Tables.documents)", "documents",
      Some(d => Tables.documents(spark, d)),
      d => rows(Tables.documents(spark, d).select("doc_id")).toSet))

  test("stale artifacts: every kind follows an in-place rewrite and releases the superseded entry") {
    kinds.foreach { k =>
      val dir = corpusCopy()
      val before = persisted
      val old = k.answer(dir)
      val mine = persisted -- before
      k.cached.foreach(c => assert(c(dir) eq c(dir), s"${k.label}: an unchanged corpus must hit"))
      rewrite(dir, k.table, rewrites(k.table))
      val want = k.answer(corpusCopy(dir))
      assert(want != old, s"${k.label}: the rewrite must change the answer")
      assert(k.answer(dir) == want, s"${k.label}: the answer must follow the rewritten ${k.table}")
      assert((persisted & mine).isEmpty, s"${k.label}: the superseded data must be released")
    }
  }

  test("a racing miss builds once: two threads released together share one IVF fit") {
    val dir = corpusCopy()
    val before = persisted
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val built = new java.util.concurrent.ConcurrentLinkedQueue[Try[(DataFrame, Array[Array[Double]])]]
    val threads = (0 until 2).map(_ => new Thread(() => {
      barrier.await()
      built.add(Try(IvfIndex.build(spark, dir)))
      ()
    }))
    threads.foreach(_.start())
    threads.foreach(_.join(300000))
    val Seq(a, b) = built.asScala.toSeq.map(_.get)
    assert((persisted -- before).size == 1, "one fit, one held copy of the index")
    assert(a._2.map(_.toSeq).toSeq == b._2.map(_.toSeq).toSeq, "identical centroids")
    val query = Tables.embeddings(spark, dir).filter(col("vec_id") === 0)
      .select("embedding").collect()(0).getSeq[Float](0).toArray
    def probe(i: (DataFrame, Array[Array[Double]])) = rows(IvfIndex.search(spark, i._1, i._2, query, k = 10))
    assert(probe(a) == probe(b), "identical answers")
    assert(spark.read.parquet(s"${IvfIndex.dumpDir(dir)}/assign.parquet").count() ==
      Tables.embeddings(spark, dir).count(), "a readable assignment artifact")
  }
}
