package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, EvalMode, Expression, SpecificInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateMutableProjection
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.expr.ExactDoubleToDecimal

/** `ExactDoubleToDecimal` must be Spark's `CAST(double AS DECIMAL(p, s))`
  * to the bit: the same value, precision and scale, the same nulls and
  * the same thrown errors, in codegen and in interpreted mode, under the
  * legacy, ANSI and try eval modes. Every (p, s) pair below runs 10^6
  * seeded random doubles (legacy mode; 10^5 of them under ANSI and try,
  * which differ from legacy only on the fallback), on-grid values and
  * their neighbouring doubles, half-way values and the edges of the
  * fast path (|unscaled| = 2^50 and 10^p) and of the double type. */
class ExactDecimalCastSpec extends SparkSpec {

  private val pairs = Seq((12, 2), (4, 2), (18, 4), (18, 0), (10, 10),
    (18, 18), (1, 0))
  private val modes = Seq(EvalMode.LEGACY, EvalMode.ANSI, EvalMode.TRY)

  private def pow10(n: Int): Double = math.pow(10, n)

  /** Seeded doubles around the (p, s) grid: on-grid values k / 10^s with
    * log-uniform k up to one digit past the precision, the same nudged
    * by 1-3 ulps, half-way values (k + 0.5) / 10^s, log-uniform off-grid
    * values, and raw random bit patterns. */
  private def randomInputs(p: Int, s: Int, n: Int, seed: Long): Array[Double] = {
    val r = new java.util.Random(seed)
    def k(): Long = {
      val digits = 1 + r.nextInt(p + 1)
      val k0 = (r.nextLong() >>> 1) % math.pow(10, digits).toLong
      if (r.nextBoolean()) -k0 else k0
    }
    def nudge(d: Double): Double = {
      var x = d
      for (_ <- 0 to r.nextInt(3))
        x = if (r.nextBoolean()) math.nextUp(x) else math.nextDown(x)
      x
    }
    Array.fill(n) {
      r.nextInt(10) match {
        case 0 | 1 | 2 | 3 => k() / pow10(s)
        case 4 | 5 => nudge(k() / pow10(s))
        case 6 => (k() + (if (r.nextBoolean()) 0.5 else -0.5)) / pow10(s)
        case 7 | 8 =>
          val mag = pow10(p - s + 1) * math.pow(10, -r.nextDouble() * (p + 4))
          (r.nextDouble() * 2 - 1) * mag
        case _ => java.lang.Double.longBitsToDouble(r.nextLong())
      }
    }
  }

  /** Named edges: the fast path's 2^50 / 10^s and 10^(p-s) boundaries
    * with their neighbours, half-way strings and the double type's
    * specials. */
  private def edges(p: Int, s: Int): Seq[Double] = {
    val grid = Seq((1L << 50).toDouble, ((1L << 50) - 1).toDouble,
      ((1L << 50) + 1).toDouble, pow10(p), pow10(p) - 1, pow10(p) + 1)
      .map(_ / pow10(s))
    val named = grid ++ Seq(pow10(p - s), "1.005".toDouble, "2.675".toDouble,
      "0.125".toDouble, "0.5".toDouble, "0.05".toDouble, "9.995".toDouble,
      1.0, 0.01, Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
      0.0, -0.0, Double.MinPositiveValue, Double.MaxValue)
    val withNeighbours = named.flatMap(d =>
      Seq(d, math.nextUp(d), math.nextDown(d),
        math.nextUp(math.nextUp(d)), math.nextDown(math.nextDown(d))))
    (withNeighbours ++ withNeighbours.map(-_)).distinct
  }

  /** What an evaluation produced: an error (class and message), null, or
    * a decimal as (unscaled exact value with its scale, precision). */
  private def outcome(f: => Any): Any =
    try f match {
      case null => null
      case d: Decimal => (d.toJavaBigDecimal, d.precision, d.scale)
      case other => other
    } catch { case e: Exception => (e.getClass.getName, e.getMessage) }

  private def cast(p: Int, s: Int, mode: EvalMode.Value): Cast =
    Cast(BoundReference(0, DoubleType, nullable = true), DecimalType(p, s),
      None, mode)

  /** Evaluate `e` on each input (None = null) — interpreted `eval`, or a
    * compiled projection (compile errors fail the test, never fall back). */
  private def run(e: Expression, codegen: Boolean,
      xs: Iterator[Option[Double]]): Iterator[Any] = {
    val row = new SpecificInternalRow(Seq(DoubleType))
    val f: InternalRow => Any =
      if (codegen) {
        val proj = GenerateMutableProjection.generate(Seq(e))
        proj.initialize(0)
        r => proj(r).get(0, e.dataType) match {
          case d: Decimal => d.clone() // the projection reuses its row
          case o => o
        }
      } else r => e.eval(r)
    xs.map { x =>
      x match {
        case Some(d) => row.setDouble(0, d)
        case None => row.setNullAt(0)
      }
      outcome(f(row))
    }
  }

  private def assertSame(p: Int, s: Int, mode: EvalMode.Value,
      xs: IndexedSeq[Option[Double]]): Unit = {
    val c = cast(p, s, mode)
    val fast = ExactDoubleToDecimal(c)
    assert(fast.nullable == c.nullable && fast.dataType == c.dataType)
    for (codegen <- Seq(false, true)) {
      val want = run(c, codegen, xs.iterator)
      val got = run(fast, codegen, xs.iterator)
      var i = 0
      while (want.hasNext) {
        val (w, g) = (want.next(), got.next())
        if (w != g)
          fail(s"decimal($p,$s) $mode codegen=$codegen input=${xs(i)}: " +
            s"cast gave $w, fast path gave $g")
        i += 1
      }
    }
  }

  for ((p, s) <- pairs) {
    test(s"decimal($p,$s): random, on-grid, half-way and edge doubles match Spark's cast in every mode") {
      val rnd = randomInputs(p, s, 1000000, 31L * p + s).map(Option(_))
      val fixed = (edges(p, s).map(Option(_)) :+ None).toIndexedSeq
      for (mode <- modes) {
        val n = if (mode == EvalMode.LEGACY) rnd.length else 100000
        assertSame(p, s, mode, fixed ++ rnd.take(n))
      }
    }
  }

  test("the fast path accepts exactly the on-grid values inside 2^50 and 10^p") {
    assert(ExactDoubleToDecimal.unscaled(1.005, 12, 2) == ExactDoubleToDecimal.Miss)
    assert(ExactDoubleToDecimal.unscaled(1.01, 12, 2) == 101L)
    assert(ExactDoubleToDecimal.unscaled(-0.0, 12, 2) == 0L)
    assert(ExactDoubleToDecimal.unscaled(99.99, 4, 2) == 9999L)
    assert(ExactDoubleToDecimal.unscaled(100.0, 4, 2) == ExactDoubleToDecimal.Miss)
    assert(ExactDoubleToDecimal.unscaled((1L << 50) / 100.0, 18, 2) ==
      ExactDoubleToDecimal.Miss)
    assert(ExactDoubleToDecimal.unscaled(((1L << 50) - 1) / 100.0, 18, 2) ==
      (1L << 50) - 1)
    assert(ExactDoubleToDecimal.unscaled(Double.NaN, 12, 2) == ExactDoubleToDecimal.Miss)
    assert(ExactDoubleToDecimal.unscaled(Double.NegativeInfinity, 12, 2) ==
      ExactDoubleToDecimal.Miss)
  }

  test("inside a whole-stage-codegen plan: the rule's rows equal Spark's cast, with the fallback and a repeated cast in one stage") {
    val xs: Seq[java.lang.Double] = (edges(12, 2).filter(d =>
        !d.isNaN && !d.isInfinite && math.abs(d) < 1e9) ++
      randomInputs(12, 2, 2000, 7L).filter(math.abs(_) < 1e9))
      .map(java.lang.Double.valueOf) :+ null
    val df = spark.createDataFrame(
      java.util.Arrays.asList(xs.map(Row(_)): _*),
      StructType(Seq(StructField("x", DoubleType))))
      .repartition(2) // no local-relation folding: the projection runs in codegen
    val q = df.select(col("x"),
      col("x").cast(DecimalType(12, 2)).as("a"),
      (col("x").cast(DecimalType(12, 2)) + lit(1)).as("b"))
    assert(q.queryExecution.optimizedPlan.expressions.exists(
      _.exists(_.isInstanceOf[ExactDoubleToDecimal])))
    val mode = if (spark.conf.get("spark.sql.ansi.enabled").toBoolean)
      EvalMode.ANSI else EvalMode.LEGACY
    val c = cast(12, 2, mode)
    val one = Decimal(1)
    q.collect().foreach { r =>
      val in = InternalRow(if (r.isNullAt(0)) null else r.getDouble(0))
      val want = Option(c.eval(in)).map(_.asInstanceOf[Decimal].toJavaBigDecimal)
      assert(Option(r.getDecimal(1)) == want, s"x=${r.get(0)}")
      assert(Option(r.getDecimal(2)) ==
        want.map(w => (Decimal(w) + one).toJavaBigDecimal), s"x=${r.get(0)}")
    }
  }

  test("the rule rewrites try_cast and legacy casts, and an ANSI overflow throws Spark's error") {
    import spark.implicits._
    val df = Seq(1.25, 12345678.9, Double.NaN).toDF("x").repartition(1)
    val t = df.selectExpr("try_cast(x AS DECIMAL(4,2)) AS t")
    assert(t.queryExecution.optimizedPlan.expressions.exists(
      _.exists(_.isInstanceOf[ExactDoubleToDecimal])))
    assert(t.collect().map(r => Option(r.getDecimal(0))).toSeq ==
      Seq(Some(new java.math.BigDecimal("1.25")), None, None))
    val ansi = Cast(BoundReference(0, DoubleType, nullable = true),
      DecimalType(4, 2), None, EvalMode.ANSI)
    val want = intercept[org.apache.spark.SparkThrowable](
      ansi.eval(InternalRow(12345678.9))).getCondition
    val prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try {
      val q = df.where(col("x") > 2 && !isnan(col("x")))
        .select(col("x").cast(DecimalType(4, 2)))
      val got = intercept[Exception](q.collect())
      def conds(e: Throwable): Seq[String] = Iterator.iterate(e)(_.getCause)
        .takeWhile(_ != null).collect {
          case st: org.apache.spark.SparkThrowable => st.getCondition
        }.toSeq
      assert(conds(got).contains(want), got)
    } finally spark.conf.set("spark.sql.ansi.enabled", prev)
  }
}
