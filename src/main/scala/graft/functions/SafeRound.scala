package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.lit

/** Cross-engine-stable rounding.
  *
  * Spark's `round` converts the double to its *shortest decimal
  * string* (BigDecimal.valueOf) before HALF_UP; DuckDB rounds the
  * binary value. For results whose shortest representation lands
  * exactly on a half boundary (systematic for averages of
  * cent-quantized sums: 1236.27/24 = 51.51125) the two disagree by one
  * ulp of the target scale. Adding 1e-9 before rounding — in BOTH
  * engines — pushes every such boundary value decisively to one side
  * while never moving a non-boundary value (result grids here are
  * ≥1e-7 apart). Operator files import this `round` after
  * `functions._` so the shadowing applies uniformly; the DuckDB oracle
  * strings carry the same `1e-9 +` shift.
  */
object SafeRound {
  private val Shift = 1e-9

  // FastHalfUpRound replaces functions.round: identical HALF_UP
  // semantics (bit-compatible — see its scaladoc and KernelSpec's
  // property pin) without the per-row BigDecimal/Double.toString the
  // builtin pays, which measured as expensive as the cosine kernel on
  // ANN candidate streams. The +1e-9 boundary shift is unchanged and
  // the cast keeps non-double inputs (ints, decimals) on the same
  // widening path functions.round used.
  def round(c: Column, scale: Int): Column =
    org.apache.spark.sql.GraftColumnBridge.toColumn(FastHalfUpRound(
      org.apache.spark.sql.GraftColumnBridge.toExpr((c + lit(Shift)).cast("double")),
      scale))

  /** [[round]] for one double outside a Column (a physical operator,
    * a stateful stream function, a driver-side rerank): the same
    * shift and the same HALF_UP, so its values equal the column's. */
  def roundValue(v: Double, scale: Int): Double =
    FastHalfUpRound.round(v + Shift, scale)

  /** Strict-superset prefilter slack for `round(x, 4) <= r` radius
    * filters on candidate streams. HALF_UP at 4 dp keeps a row iff
    * x + 1e-9 < r + 5e-5, so prefiltering the RAW kernel value at
    * `r + PreRoundSlack` (margin ~1e-6 beyond that boundary — far
    * outside repr/ulp wobble) excludes no keepable row; the exact
    * rounded filter still runs on the survivors, so results are
    * identical by construction. What it saves: Spark's Round on
    * DoubleType goes through BigDecimal.valueOf — a Double.toString
    * per evaluation — which measured as expensive as the 64-dim
    * cosine itself on the dedup candidate stream (sf1: the radius
    * stage fell 12.9 s → 6.9 s with the prefilter, identical rows).
    * Scale-4-specific, like the dedup distance contract. */
  val PreRoundSlack = 5.1e-5

  /** The prefilter predicate itself, so every two-phase radius site
    * shares one spelling of the superset invariant: apply to the RAW
    * kernel value, and keep the exact `round(dist, 4) <= r` filter
    * after it. */
  def radiusPrefilter(raw: Column, r: Double): Column =
    raw <= lit(r + PreRoundSlack)
}
