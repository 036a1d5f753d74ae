package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, DocPipeline, Pipeline, TextAnalysis}

/** Pins the one-aggregate training-data funnel ([[Pipeline.e2e]])
  * against the stage-by-stage form it replaced: each stage counted as
  * its own branch over the previous stage's survivors (left-anti join
  * against the near-dups, join to the quality scores, join of chunks
  * and weights to the survivors), the seven counts unioned. Equal
  * output on the gate corpus and on a hand-built corpus where every
  * stage is non-trivial. */
class FunnelSpec extends AnyFunSuite {
  import SparkTestSession._

  /** The stage-by-stage reference funnel. */
  private def reference(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"))
    val dupDocs = Dedup.minhashLsh(s, dir).select(col("doc_b").as("doc_id")).distinct()
    val afterDedup = docs.join(dupDocs, Seq("doc_id"), "left_anti")
    val qual = TextAnalysis.quality(s, dir).select(col("doc_id"), col("quality"))
    val afterQuality = afterDedup.join(qual, "doc_id")
      .filter(col("quality") >= Pipeline.QualityMin).select("doc_id")
    val chunks = DocPipeline.chunks(s, dir).join(afterQuality, "doc_id")
    val vectors = DocPipeline.chunkWeights(s, dir)
      .join(afterQuality, "doc_id")
      .select("doc_id", "chunk_id").distinct()
    def stage(name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n")).select(lit(name).as("stage"), col("n"))
    Seq(
      stage("1_docs_in", docs),
      stage("2_near_dup_removed", dupDocs),
      stage("3_after_dedup", afterDedup),
      stage("4_low_quality_removed",
        afterDedup.join(qual, "doc_id").filter(col("quality") < Pipeline.QualityMin)),
      stage("5_after_quality", afterQuality),
      stage("6_chunks", chunks),
      stage("7_chunk_vectors", vectors))
      .reduce(_ unionAll _)
      .orderBy("stage")
  }

  private def rows(df: DataFrame): Seq[(String, Long)] =
    df.collect().toSeq.map(r => r.getString(0) -> r.getLong(1))

  test("funnel equals the stage-by-stage reference on the gate corpus") {
    val got = rows(Pipeline.e2e(spark, sf))
    assert(got.map(_._1) == Seq("1_docs_in", "2_near_dup_removed", "3_after_dedup",
      "4_low_quality_removed", "5_after_quality", "6_chunks", "7_chunk_vectors"))
    assert(got == rows(reference(spark, sf)))
  }

  test("funnel equals the reference when every stage is non-trivial") {
    import spark.implicits._
    // letter-only words (digits would count against quality)
    def word(i: Int): String =
      "w" + Iterator.iterate(i)(_ / 26).takeWhile(_ > 0).map(k => ('a' + k % 26).toChar).mkString
    def prose(from: Int, n: Int): String =
      (from until from + n).map(i => if (i % 3 == 0) "the" else word(i)).mkString(" ")
    val texts = Seq(
      1L -> prose(1, 60),                          // keeper of a planted near-dup pair
      2L -> (prose(1, 60) + " " + word(999)),      // its near-dup (Jaccard ~0.98)
      3L -> prose(100, 130),                       // four chunks
      4L -> "12 !! 34 ## 56 %% 78 && 90 ** 11 $$",  // digit/punctuation heavy: low quality
      5L -> "the cat",                             // under 3 tokens: no shingles, no bands
      6L -> "",                                    // undecodable document: no score
      7L -> "   ",
      8L -> prose(300, 45))                        // two chunks
    val dir = java.nio.file.Files.createTempDirectory("graft_funnel").toString
    texts.map { case (id, t) => (id, t, "en", "pdf", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val got = rows(Pipeline.e2e(spark, dir)).toMap
    // the corpus exercises every stage
    assert(got("1_docs_in") == 8)
    assert(got("2_near_dup_removed") == 1, got)
    assert(got("4_low_quality_removed") == 1, got)
    // docs 6 and 7 score null: on neither side of the threshold
    assert(got("5_after_quality") == got("3_after_dedup") - got("4_low_quality_removed") - 2, got)
    assert(got("6_chunks") > got("5_after_quality"), got)
    assert(got("7_chunk_vectors") > 0, got)
    assert(rows(Pipeline.e2e(spark, dir)) == rows(reference(spark, dir)))
  }
}
