package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge.{toColumn, toExpr}
import org.apache.spark.sql.functions._

/** Tokenization / shingling / normalization primitives shared by the
  * chunker, dedup suite, and text-analysis operators.
  *
  * No UDFs, and everything is reproducible in the DuckDB oracle with
  * `regexp_split_to_array` + list comprehensions. Normalization and
  * tokenization are codegen'd `functions._` combinators. Shingling is
  * the [[Shingles]] Catalyst kernel: the combinator form needed a
  * `transform` lambda, whose body re-ran the whole tokenizer once per
  * shingle; the kernel evaluates the tokens once and builds every
  * n-gram in one linear pass, with bit-identical output.
  */
object TextFunctions {

  /** Normalized text: lowercase, trimmed (the reference's
    * UTL_TO_CHUNKS `normalize:"all"` analogue for the synthetic
    * corpus). */
  def normText(c: Column): Column = lower(trim(c))

  /** Whitespace tokens of the normalized text; empty-string-safe. */
  def tokens(c: Column): Column =
    filter(split(normText(c), "\\s+"), t => length(t) > lit(0))

  /** Word n-gram shingles joined by single spaces. Returns an empty
    * array when the doc has fewer than n tokens (or null tokens). */
  def shingles(toks: Column, n: Int): Column = toColumn(Shingles(toExpr(toks), n))

  /** Count of regexp matches in a string (DuckDB-reproducible via
    * length(regexp_replace(...,'','g')) arithmetic is fragile; instead
    * both engines use length-difference on a strip). */
  def strippedLen(c: Column, keepPattern: String): Column =
    length(regexp_replace(c, keepPattern, ""))
}
