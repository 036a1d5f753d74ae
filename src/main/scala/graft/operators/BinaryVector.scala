package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.SafeRound.round

import graft.Tables

/** Binary vector quantization — the BINARY storage format of Oracle
  * 26ai's vector types (reference vector formats: FLOAT32 at
  * scripts/01_pdf_to_vector.sql:67; INT8 and BINARY are the documented
  * alternative storage classes). Sign-bit binarization packs a float
  * vector into dims/32 long words (32 bits per word keeps every engine
  * in exact signed-64 arithmetic); search runs on popcounts:
  * Hamming distance = Σ bit_count(xor) and Tanimoto similarity =
  * popcount(AND)/popcount(OR).
  *
  * Scale: 32× smaller than float32 — at 100 TB of embeddings the
  * binary sketch is the tier that stays in memory; Hamming top-k is a
  * TakeOrderedAndProject over a narrow scan of packed words, and the
  * packing itself is one codegen'd map (no UDF, no shuffle).
  */
object BinaryVector {

  /** Pack sign bits into 32-bit words held in a long array:
    * word w bit b = 1 iff vec[w*32 + b] > 0. */
  def binarize(vec: Column): Column =
    transform(sequence(lit(0), ((size(vec) - 1) / 32).cast("int")),
      w => aggregate(sequence(lit(0), lit(31)),
        lit(0L),
        (acc, b) => acc + when(
          w * 32 + b + 1 <= size(vec) &&
            element_at(vec, (w * 32 + b + 1).cast("int")) > 0f,
          pow(lit(2.0), b.cast("double")).cast("long")).otherwise(0L)))

  private def popSum(c: Column): Column =
    aggregate(c, lit(0L), (acc, x) => acc + bit_count(x).cast("long"))

  /** Hamming-distance top-k over binarized embeddings, with Tanimoto
    * similarity reported alongside. Ties (Hamming is integral) break
    * on vec_id. */
  def knnHamming(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
      .select(col("vec_id"), binarize(col("embedding")).as("bv"))
    val q = VectorSearch.queryRow(emb).select(col("bv").as("qbv"))
    VectorSearch.withoutQuery(emb)
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        popSum(zip_with(col("bv"), col("qbv"), (x, y) => x.bitwiseXOR(y))).as("hdist"),
        round(
          popSum(zip_with(col("bv"), col("qbv"), (x, y) => x.bitwiseAND(y))).cast("double") /
            popSum(zip_with(col("bv"), col("qbv"), (x, y) => x.bitwiseOR(y))), 4).as("tanimoto"))
      .orderBy(col("hdist"), col("vec_id"))
      .limit(10)
  }

  private val packSql =
    """[list_sum([CASE WHEN w * 32 + b + 1 <= len(embedding)
      |            AND embedding[w * 32 + b + 1] > 0
      |          THEN CAST(2 ** b AS BIGINT) ELSE 0 END
      |          for b in generate_series(0, 31)])::BIGINT
      | for w in generate_series(0, (len(embedding) - 1) // 32)]""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "vs_knn_hamming" -> (knnHamming _))

  val oracleSql: Map[String, String] = Map(
    "vs_knn_hamming" ->
      s"""WITH p AS (
         |  SELECT vec_id, $packSql AS bv FROM embeddings),
         |q AS (SELECT bv AS qbv FROM p WHERE vec_id = 0)
         |SELECT vec_id,
         |  list_sum([bit_count(xor(bv[i], qbv[i])) for i in generate_series(1, len(bv))])::BIGINT AS hdist,
         |  round(1e-9 +
         |    list_sum([bit_count(bv[i] & qbv[i]) for i in generate_series(1, len(bv))])::DOUBLE /
         |    list_sum([bit_count(bv[i] | qbv[i]) for i in generate_series(1, len(bv))]), 4) AS tanimoto
         |FROM p, q WHERE vec_id <> 0
         |ORDER BY hdist, vec_id LIMIT 10""".stripMargin)
}
