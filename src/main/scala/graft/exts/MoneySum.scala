package graft.exts

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}

/** Exact fixed-point money sum — the fast replacement for
  * `sum(cast(x as decimal(38,4)))`.
  *
  * The corpus' cross-engine money policy sums in DECIMAL(38,4) so results
  * are exact and partition-order-independent. Spark's 38-digit decimal
  * aggregation runs through `Decimal` objects (measured 6× slower than a
  * double sum over SF10 lineitem: 14.9 s vs 2.5 s); DuckDB's decimal is a
  * native int128, which is where most of the remaining bench ratio on
  * money queries came from.
  *
  * This aggregate keeps the exactness but sums PRIMITIVE LONGS in
  * whole-stage-codegen: each value becomes `round(x·10⁴)` units (exact for
  * any ≤4-decimal money value; |x| < 9.2·10¹⁴ per value), accumulated into
  * a two-long 4-decimal fixed-point buffer `hi·10¹⁸ + lo` — headroom ~10²⁴
  * money units, enough for a 100 TB single-group sum (a single long would
  * overflow at ~10¹⁰ rows × 10⁵ prices). All update/merge arithmetic is
  * If/add/div/mod over longs (declarative, codegen'd); only the final
  * per-group conversion to double goes through BigDecimal for a correctly
  * rounded result — identical to `CAST(SUM(CAST(x AS DECIMAL(38,4))) AS
  * DOUBLE)` in DuckDB.
  */
case class MoneySum4(child: Expression)
    extends DeclarativeAggregate with UnaryLike[Expression] {

  override def prettyName: String = "money_sum4"
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  // Non-double input is a clean analysis error, not a runtime failure.
  // Both entry points (exprs.moneySum4 and the SQL-registered builder in
  // GraftExtensions) wrap the child in Cast(_, DoubleType) so arbitrary
  // numeric/decimal columns are coerced before this check runs.
  // (ImplicitCastInputTypes would be the idiomatic route, but its
  // signature mentions AbstractDataType, which is private[sql].)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == DoubleType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"money_sum4 requires DOUBLE input, got ${child.dataType.simpleString}")
  override protected def withNewChildInternal(newChild: Expression): MoneySum4 =
    copy(child = newChild)

  private lazy val hi = AttributeReference("hi", LongType, nullable = false)()
  private lazy val lo = AttributeReference("lo", LongType, nullable = false)()
  private lazy val cnt = AttributeReference("cnt", LongType, nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] = Seq(hi, lo, cnt)
  override lazy val initialValues: Seq[Expression] =
    Seq(Literal(0L), Literal(0L), Literal(0L))

  private val Base = Literal(1000000000000000000L) // 10^18 units of 10^-4

  /** round-half-away-from-zero of x·10⁴ as a long — matches both DuckDB's
    * scaled rounding and (on ≤4-decimal-grid inputs, the money contract)
    * Spark's shortest-repr HALF_UP decimal cast.
    *
    * Only finite inputs reach it: `updateExpressions` skips NaN/±Inf
    * like nulls (they neither add to the sum nor count as a value), so
    * a non-finite value never reaches the double→long cast. */
  private def units(x: Expression): Expression = {
    val scaled = Multiply(x, Literal(10000.0))
    If(GreaterThanOrEqual(scaled, Literal(0.0)),
      Cast(Add(scaled, Literal(0.5)), LongType),
      Cast(Subtract(scaled, Literal(0.5)), LongType))
  }

  /** (lo + delta) with carry into hi; |delta| < 10¹⁸ and |lo| < 10¹⁸, so
    * the intermediate fits a long with room to spare. */
  private def normalized(hiE: Expression, loE: Expression, delta: Expression)
      : (Expression, Expression) = {
    val lo2 = Add(loE, delta)
    val over = GreaterThanOrEqual(Abs(lo2), Base)
    (If(over, Add(hiE, IntegralDivide(lo2, Base)), hiE),
      If(over, Remainder(lo2, Base), lo2))
  }

  override lazy val updateExpressions: Seq[Expression] = {
    // Non-finite values are skipped like nulls: a decimal(38,4) cast would
    // yield null for NaN/±Inf (non-ANSI) or throw (ANSI) — neither is a
    // usable sum, and without the guard NaN corrupts the whole group
    // (0-cast) while Inf saturates to Long.MaxValue. Skipping matches the
    // oracle policy `SUM(CAST(x AS DECIMAL(38,4)))` under non-ANSI casts.
    val skip = Or(IsNull(child),
      Or(IsNaN(child), GreaterThanOrEqual(Abs(child), Literal(Double.PositiveInfinity))))
    val u = If(skip, Literal(0L), units(child))
    val (h2, l2) = normalized(hi, lo, u)
    Seq(h2, l2, Add(cnt, If(skip, Literal(0L), Literal(1L))))
  }

  override lazy val mergeExpressions: Seq[Expression] = {
    val (h2, l2) = normalized(hi.left, lo.left, lo.right)
    Seq(Add(h2, hi.right), l2, Add(cnt.left, cnt.right))
  }

  override lazy val evaluateExpression: Expression =
    If(EqualTo(cnt, Literal(0L)), Literal(null, DoubleType), TwoLongMoney4(hi, lo))
}

/** Exact (hi·10¹⁸ + lo)·10⁻⁴ → double via BigDecimal — runs once per output
  * group, so interpreted evaluation is free; correctly rounded like a
  * decimal→double cast. */
case class TwoLongMoney4(left: Expression, right: Expression)
    extends BinaryExpression {
  override def prettyName: String = "two_long_money4"
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = false
  override protected def withNewChildrenInternal(l: Expression, r: Expression): TwoLongMoney4 =
    copy(left = l, right = r)

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    defineCodeGen(ctx, ev, (h, l) =>
      s"java.math.BigDecimal.valueOf($h)" +
        ".multiply(java.math.BigDecimal.valueOf(1000000000000000000L))" +
        s".add(java.math.BigDecimal.valueOf($l)).movePointLeft(4).doubleValue()")

  override def nullSafeEval(h: Any, l: Any): Any = {
    val total = java.math.BigDecimal.valueOf(h.asInstanceOf[Long])
      .multiply(java.math.BigDecimal.valueOf(1000000000000000000L))
      .add(java.math.BigDecimal.valueOf(l.asInstanceOf[Long]))
      .movePointLeft(4)
    total.doubleValue()
  }
}
