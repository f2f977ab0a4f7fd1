package graft.expr

import java.math.BigInteger

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, Decimal, DecimalType, DoubleType, LongType}

/** Native Catalyst expression: the unscaled `long` of a DECIMAL(p ≤ 18)
  * value — for `CAST(x AS DECIMAL(p, s))` exactly Spark's own cast, read
  * as integer units of 10^-s, without a `Decimal` per row.
  *
  * When the child is a cast from DOUBLE, a fast path rounds `y = x·10^s`
  * with `rint`. Spark's cast rounds the decimal string of `x` (within half
  * an ulp of `x`) HALF_UP, so the two can differ only next to a tie:
  * for `|y| < 2^50` the string, scaled, lies within 0.19 of `y`, so
  * whenever `y` is at least 0.25 away from a half-integer (and the
  * rounded value fits `p` digits) both round to the same integer. Every
  * other double (NaN, ±Inf, near-ties, large or out-of-precision values)
  * and every other input type takes the exact path: Spark's cast itself,
  * with its nulls and its ANSI errors.
  */
case class DecimalUnits(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "graft_decimal_units"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case d: DecimalType if d.precision <= Decimal.MAX_LONG_DIGITS =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a decimal of precision <= ${Decimal.MAX_LONG_DIGITS}, " +
        s"got ${other.catalogString}")
  }

  /** The double the child casts, when the fast path applies. */
  @transient private lazy val doubleInput: Option[Expression] = child match {
    case c: Cast if c.child.dataType == DoubleType => Some(c.child)
    case _ => None
  }

  @transient private lazy val pow10: Double =
    math.pow(10, child.dataType.asInstanceOf[DecimalType].scale)
  @transient private lazy val maxUnits: Double =
    math.pow(10, child.dataType.asInstanceOf[DecimalType].precision)

  /** The child cast over a bound double slot (same mode, zone and origin). */
  @transient private lazy val exactCast: Expression =
    child.withNewChildren(Seq(BoundReference(0, DoubleType, nullable = true)))

  /** Spark's cast of `x`, as units; null where the cast gives null. */
  def exactUnits(x: Double): java.lang.Long = {
    val d = exactCast.eval(InternalRow(x))
    if (d == null) null else d.asInstanceOf[Decimal].toUnscaledLong
  }

  private def units(x: Double): Any = {
    val y = x * pow10
    val r = math.rint(y)
    if (math.abs(y) < DecimalUnits.FastLimit && math.abs(y - r) <= 0.25 &&
        math.abs(r) < maxUnits) r.toLong
    else exactUnits(x)
  }

  override def eval(input: InternalRow): Any = doubleInput match {
    case Some(x) =>
      val v = x.eval(input)
      if (v == null) null else units(v.asInstanceOf[Double])
    case None =>
      val d = child.eval(input)
      if (d == null) null else d.asInstanceOf[Decimal].toUnscaledLong
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    doubleInput match {
      case Some(x) =>
        val in = x.genCode(ctx)
        val self = ctx.addReferenceObj("units", this, classOf[DecimalUnits].getName)
        val y = ctx.freshName("y")
        val r = ctx.freshName("r")
        val exact = ctx.freshName("exact")
        ev.copy(code = code"""
          |${in.code}
          |boolean ${ev.isNull} = ${in.isNull};
          |long ${ev.value} = -1L;
          |if (!${ev.isNull}) {
          |  double $y = ${in.value} * ${pow10}D;
          |  double $r = java.lang.Math.rint($y);
          |  if (java.lang.Math.abs($y) < ${DecimalUnits.FastLimit}D
          |      && java.lang.Math.abs($y - $r) <= 0.25D
          |      && java.lang.Math.abs($r) < ${maxUnits}D) {
          |    ${ev.value} = (long) $r;
          |  } else {
          |    java.lang.Long $exact = $self.exactUnits(${in.value});
          |    if ($exact == null) {
          |      ${ev.isNull} = true;
          |    } else {
          |      ${ev.value} = $exact.longValue();
          |    }
          |  }
          |}""".stripMargin)
      case None =>
        defineCodeGen(ctx, ev, d => s"$d.toUnscaledLong()")
    }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object DecimalUnits {
  /** 2^50: below it the scaled decimal string is within 0.19 of `x·10^s`. */
  val FastLimit: Double = math.pow(2, 50)
}

/** Native Catalyst expression: `Σ children(i) · 2^shifts(i)` as an exact
  * DECIMAL(38, scale) of units of 10^-scale — the once-per-group
  * recombination of long limb sums. Null if any child is null (the limbs
  * of one sum are null for the same rows). A total past 38 digits fails
  * loudly (Spark's decimal precision error), never wraps.
  */
case class LimbSum(children: Seq[Expression], shifts: Seq[Int], scale: Int)
    extends Expression {

  override def dataType: DataType = DecimalType(DecimalType.MAX_PRECISION, scale)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_limb_sum"

  override def checkInputDataTypes(): TypeCheckResult =
    if (children.length != shifts.length)
      TypeCheckResult.TypeCheckFailure(s"$prettyName needs one shift per limb")
    else children.find(_.dataType != LongType) match {
      case Some(c) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires bigint limbs, got ${c.dataType.catalogString}")
      case None => TypeCheckResult.TypeCheckSuccess
    }

  /** The exact total of `limbs` (same order as [[shifts]]). */
  def combine(limbs: Array[Long]): Decimal = {
    var acc = BigInteger.ZERO
    var i = 0
    while (i < limbs.length) {
      acc = acc.add(BigInteger.valueOf(limbs(i)).shiftLeft(shifts(i)))
      i += 1
    }
    Decimal(new java.math.BigDecimal(acc, scale), DecimalType.MAX_PRECISION, scale)
  }

  override def eval(input: InternalRow): Any = {
    val vs = children.map(_.eval(input))
    if (vs.contains(null)) null else combine(vs.map(_.asInstanceOf[Long]).toArray)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ins = children.map(_.genCode(ctx))
    val self = ctx.addReferenceObj("limbSum", this, classOf[LimbSum].getName)
    ev.copy(code = code"""
      |${ins.map(_.code).mkString("\n")}
      |boolean ${ev.isNull} = ${ins.map(_.isNull).mkString(" || ")};
      |Decimal ${ev.value} = null;
      |if (!${ev.isNull}) {
      |  ${ev.value} = $self.combine(new long[] {${ins.map(_.value).mkString(", ")}});
      |}""".stripMargin)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(children = newChildren)
}
