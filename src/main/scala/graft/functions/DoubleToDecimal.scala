package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** Runtime for [[DoubleToDecimal18]]: a correctly-rounded double →
  * decimal(18, scale) conversion that avoids the built-in cast's
  * per-row `Double.toString` + `BigDecimal` parse on the overwhelmingly
  * common path.
  *
  * CONTRACT — bit-identical to Spark's non-ANSI
  * `Cast(double, DecimalType(18, scale))` (equivalently `try_cast`),
  * which evaluates `changePrecision(Decimal(x), target)`:
  * `Decimal(x)` is `BigDecimal.decimal(x)` = the SHORTEST decimal string
  * S(x) that round-trips to x (java `BigDecimal.valueOf`), and
  * `changePrecision` applies `setScale(scale, HALF_UP)` + null on
  * >18-digit overflow (NaN/Infinity throw NumberFormatException inside
  * `valueOf` → null).
  *
  * Fast path (no allocation beyond the result Decimal): with
  * p = 10^scale, the exact real product x·p is computed as a two-double
  * pair (y = fl(x·p), e = fma(x, p, −y); e is the exact multiplication
  * error — standard 2Prod). For n = rint(y), r = (y − n) + e satisfies
  * x·p = n + r up to one ~2⁻⁵³ addition rounding. The value the cast
  * actually rounds is S(x)·p, and |S(x) − x| ≤ ulp(x)/2, so
  * |S(x)·p − (n + r)| ≤ band := ulp(|x|)·p (factor-2 safety margin).
  * Whenever |r| < 1/2 − band, S(x)·p lies strictly inside
  * (n − 1/2, n + 1/2), where HALF_UP (= round-to-nearest, ties away —
  * and there are no ties strictly inside the interval) returns exactly
  * n. Anything near the boundary — including every genuine decimal tie —
  * falls back to the reference arithmetic.
  *
  * The guard |x|·p < 1.125e15 keeps band < 0.25 (band ≤ |x|·p·2⁻⁵² + ε)
  * and n comfortably inside both the long range and 18 digits, so the
  * fast path never needs its own overflow check. NaN/±Inf fail the
  * guard (comparisons with NaN are false) and take the fallback.
  *
  * DOCUMENTED ANSI DIVERGENCE (same posture as [[DecimalSum128]]):
  * under ANSI mode the built-in cast RAISES on >18-digit overflow and on
  * NaN/Infinity; graft_dec returns NULL there (the non-ANSI/try_cast
  * contract). Every declared query feeds money-scale doubles (|x| ≪
  * 1e12), so the divergence is unreachable in the oracle-checked
  * domain — and the in-domain ANSI-identity is pinned by spec.
  *
  * Proven value-identical to the built-in cast by
  * DoubleToDecimalSpec: directed boundary cases (exact half-ulp ties,
  * ±2⁻ᵏ binade edges, subnormals, ±0.0, NaN/Inf, 18-digit overflow) and
  * randomized sweeps across magnitudes, both via eval and codegen.
  */
object DoubleToDecimal18 {
  /** Largest |x|·pow for which the fast path is provably safe. */
  private val FastGuard = 1.125e15

  /** Reference path — the built-in cast's exact arithmetic. */
  def slow(x: Double, scale: Int): Decimal =
    try {
      val d = Decimal(x)
      if (d.changePrecision(18, scale)) d else null
    } catch { case _: NumberFormatException => null }

  /** Exact powers of ten 10^0 .. 10^15: each literal is an integer
    * below 2^53, so the double IS the power — unlike `math.pow`, whose
    * result the JDK only bounds to within 1 ulp. */
  val Pow10: Array[Double] = Array(
    1e0, 1e1, 1e2, 1e3, 1e4, 1e5, 1e6, 1e7,
    1e8, 1e9, 1e10, 1e11, 1e12, 1e13, 1e14, 1e15)

  /** pow must be the double 10^scale (exact for scale ≤ 15). */
  def toDec(x: Double, scale: Int, pow: Double): Decimal = {
    val ax = Math.abs(x)
    if (ax * pow < FastGuard) {
      val y = x * pow
      val n = Math.rint(y)
      val r = (y - n) + Math.fma(x, pow, -y)
      val band = Math.ulp(ax) * pow + 1e-12
      if (Math.abs(r) < 0.5 - band) {
        return Decimal.createUnsafe(n.toLong, 18, scale)
      }
    }
    slow(x, scale)
  }
}

/** `graft_dec(x, scale)` — double → decimal(18, scale), value-identical
  * to the built-in cast (see [[DoubleToDecimal18]]) at a fraction of the
  * per-row cost. The money pipeline casts every summed double through
  * decimal(18,6); the built-in cast's `Double.toString` + BigDecimal
  * parse was ~0.15 s per 600k rows per expression at sf0.1 — the largest
  * remaining per-row cost in q01/q03/q04/q06/q08/q18/q22/q24/q27
  * after the round-19 `graft_dsum` work (guide §4: expressions and
  * codegen). */
case class DoubleToDecimal18(child: Expression, scale: Int)
    extends UnaryExpression {

  override def dataType: DataType = DecimalType(18, scale)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case DoubleType if scale >= 0 && scale <= 15 =>
      TypeCheckResult.TypeCheckSuccess
    case DoubleType => TypeCheckResult.TypeCheckFailure(
      s"graft_dec requires 0 <= scale <= 15, got $scale")
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_dec requires a double argument, got ${other.sql}")
  }

  private def pow: Double = DoubleToDecimal18.Pow10(scale)

  override def nullSafeEval(input: Any): Any =
    DoubleToDecimal18.toDec(input.asInstanceOf[Double], scale, pow)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.DoubleToDecimal18.toDec($c, $scale, ${pow}D);
      ${ev.isNull} = ${ev.value} == null;
    """)

  override protected def withNewChildInternal(c: Expression): DoubleToDecimal18 =
    copy(child = c)

  override def prettyName: String = "graft_dec"
}
