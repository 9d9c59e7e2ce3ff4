package graft.functions

/** Scalar math kernels shared by interpreted eval and generated code
  * (object methods compile to static forwarders, so codegen can emit
  * `graft.functions.GraftMath.erf(x)`).
  *
  * erf uses Abramowitz & Stegun 7.1.26 (max abs error 1.5e-7) — chosen
  * over a full-precision algorithm deliberately: the identical formula
  * is expressible in plain SQL arithmetic, which makes every Greek
  * oracle-checkable bit-for-bit (the DuckDB twin spells the same ops in
  * the same order). 1.5e-7 is far below any analytic significance for
  * vol-surface features. */
object GraftMath {

  private val P = 0.3275911
  private val A1 = 0.254829592
  private val A2 = 0.284496736
  private val A3 = 1.421413741
  private val A4 = 1.453152027
  private val A5 = 1.061405429

  /** A&S 7.1.26; erf(-x) = -erf(x). */
  def erf(x: Double): Double = {
    val ax = math.abs(x)
    val t = 1.0 / (1.0 + P * ax)
    val poly = ((((A5 * t - A4) * t + A3) * t - A2) * t + A1) * t
    val y = 1.0 - poly * math.exp(-(ax * ax))
    if (x < 0) -y else y
  }

  /** Standard normal CDF via erf. */
  def normCdf(x: Double): Double = 0.5 * (1.0 + erf(x / math.sqrt(2.0)))

  /** DuckDB SQL spelling of [[erf]] applied to a column expression.
    * `x` must be a simple column reference (it is repeated). Must stay
    * op-for-op identical to the Scala body. */
  def duckErf(x: String): String = {
    val t = s"(1.0 / (1.0 + $P * abs($x)))"
    val poly =
      s"((((($A5 * $t - $A4) * $t + $A3) * $t - $A2) * $t + $A1) * $t)"
    val y = s"(1.0 - $poly * exp(-(abs($x) * abs($x))))"
    s"(CASE WHEN $x < 0 THEN -$y ELSE $y END)"
  }
}
