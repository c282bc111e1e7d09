package graft.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types._

/** `CAST(double AS DECIMAL(p, s))` for p <= 18, s >= 0, computed on the
  * long-backed Decimal path instead of through `BigDecimal`.
  *
  * Spark casts a double by printing it (`Double.toString`), parsing the
  * string into a `BigDecimal` and rounding that HALF_UP to scale `s`
  * (`changePrecision`). The money canon (`T.dec` / `T.rate`) applies
  * that cast to every money column, so it dominates the CPU of the
  * Q1-shape aggregates. The fast path here is
  *
  *   c = Math.round(d * 10^s);  accept iff |c| < 2^50, |c| < 10^p and
  *   (double) c / 10^s == d
  *
  * and returns `Decimal.createUnsafe(c, p, s)`. Every other input —
  * NaN, ±Inf, overflow, off-grid values, magnitudes past 2^50 — runs
  * the original `Cast` (kept as `fallback`, over a bound reference to
  * the double), so nulls, ANSI errors and `try_cast` behave exactly as
  * before.
  *
  * Why an accepted result is Spark's, bit for bit: `c` and `10^s` are
  * exact doubles (|c| < 2^50, s <= 18) and IEEE division rounds
  * correctly, so the check makes `d` the double nearest to
  * x = c / 10^s, i.e. |d - x| <= ulp(d)/2. `Double.toString(d)` parses
  * back to `d`, so the printed value lies within ulp(d)/2 of `d`, hence
  * within ulp(d) of x. |x| < 2^50 / 10^s bounds ulp(d) <= 2^-2 * 10^-s,
  * so the printed value is strictly nearer to x than half a step of the
  * scale-`s` grid: HALF_UP rounding at scale `s` yields x, and |c| < 10^p
  * means x fits the precision. */
case class ExactDoubleToDecimal(child: Expression, fallback: Cast)
  extends UnaryExpression {

  private def target: DecimalType = fallback.dataType.asInstanceOf[DecimalType]

  override def dataType: DataType = fallback.dataType
  // the fallback is the original cast over a reference with the
  // child's nullability, so it reports the cast's own nullability
  override def nullable: Boolean = fallback.nullable

  private def asCast: Expression = fallback.withNewChildren(child :: Nil)
  override def toString: String = asCast.toString
  override def sql: String = asCast.sql

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) return null
    val c = ExactDoubleToDecimal.unscaled(v.asInstanceOf[Double],
      target.precision, target.scale)
    if (c != ExactDoubleToDecimal.Miss)
      Decimal.createUnsafe(c, target.precision, target.scale)
    else fallback.eval(InternalRow(v))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val in = child.genCode(ctx)
    val p = target.precision
    val s = target.scale
    val pow = ExactDoubleToDecimal.Pow10D(s)
    val d = ctx.freshName("d")
    val c = ctx.freshName("c")
    // the fallback cast reads the double from `d`: bind its reference to
    // that local, and hide the enclosing subexpressions so an equal
    // expression elsewhere in the stage cannot stand in for it
    val saved = ctx.currentVars
    ctx.currentVars = Seq(ExprCode(FalseLiteral, JavaCode.variable(d, DoubleType)))
    val fb =
      try ctx.withSubExprEliminationExprs(Map.empty)(Seq(fallback.genCode(ctx))).head
      finally ctx.currentVars = saved
    val body =
      s"""
         |double $d = ${in.value};
         |long $c = java.lang.Math.round($d * ${pow}D);
         |if ($c > -${ExactDoubleToDecimal.bound(p)}L &&
         |    $c < ${ExactDoubleToDecimal.bound(p)}L && $c / ${pow}D == $d) {
         |  ${ev.value} = org.apache.spark.sql.types.Decimal.createUnsafe($c, $p, $s);
         |} else {
         |  ${fb.code}
         |  ${if (nullable) s"${ev.isNull} = ${fb.isNull};" else ""}
         |  ${ev.value} = ${fb.value};
         |}
       """.stripMargin
    if (nullable) {
      ev.copy(code = in.code + code"""
        boolean ${ev.isNull} = ${in.isNull};
        Decimal ${ev.value} = null;
        if (!${ev.isNull}) {
          $body
        }""")
    } else {
      ev.copy(isNull = FalseLiteral, code = in.code + code"""
        Decimal ${ev.value} = null;
        $body""")
    }
  }

  override protected def withNewChildInternal(newChild: Expression): ExactDoubleToDecimal =
    copy(child = newChild, fallback = ExactDoubleToDecimal.over(fallback, newChild))
}

object ExactDoubleToDecimal {
  /** Unscaled-value sentinel for "not on the fast path": outside every
    * accepted range (|c| < 2^50). */
  final val Miss: Long = Long.MinValue

  private val Pow10: Array[Long] = Array.iterate(1L, 19)(_ * 10)
  /** 10^s as a double — exact for every s <= 18 (5^18 < 2^53). */
  private val Pow10D: Array[Double] = Pow10.map(_.toDouble)

  /** Exclusive bound on |c|: below 2^50 keeps ulp(d) <= 0.25 * 10^-s
    * (the exactness argument), below 10^p keeps the value in range. */
  private def bound(p: Int): Long = math.min(1L << 50, Pow10(p))

  /** The unscaled value of `d` at (p, s) when the fast path applies,
    * else `Miss`. Shared by `eval`; codegen inlines the same steps. */
  def unscaled(d: Double, p: Int, s: Int): Long = {
    val c = math.round(d * Pow10D(s))
    val b = bound(p)
    if (c > -b && c < b && c / Pow10D(s) == d) c else Miss
  }

  /** `cast` with its child replaced by a bound reference to a double
    * with `child`'s nullability: the fallback evaluated on one-column
    * rows (`eval`) or on a local (codegen). */
  def over(cast: Cast, child: Expression): Cast =
    cast.withNewChildren(BoundReference(0, DoubleType, child.nullable) :: Nil)
      .asInstanceOf[Cast]

  /** Whether `cast` is one this expression replaces. */
  def applies(cast: Cast): Boolean =
    cast.child.dataType == DoubleType && (cast.dataType match {
      case t: DecimalType => t.precision <= 18 && t.scale >= 0
      case _ => false
    })

  def apply(cast: Cast): ExactDoubleToDecimal =
    ExactDoubleToDecimal(cast.child, over(cast, cast.child))
}
