package graft.functions

import java.math.{BigDecimal => JBigDecimal, BigInteger}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen._
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** The unscaled long of `CAST(child AS DECIMAL(18, scale))`, bit-equal
  * to Spark's own cast — the conversion half of [[MoneySum]].
  *
  * Spark casts a double to decimal through `Double.toString` and
  * `BigDecimal` (round half up on the shortest decimal string), which
  * made the string formatter the hottest frame of the money rollups.
  * The fast path computes `y = x·10^s` in double arithmetic instead,
  * and takes it only where it provably agrees with the string route
  * ([[MoneyMath.fromDouble]]). Integral inputs are `x·10^s` when that
  * fits 18 digits. Everything else — near-halves, NaN, ±Inf, large
  * magnitudes, integral overflow, and every other input type — runs
  * Spark's own `Cast` in the given eval mode, so nulls and errors are
  * exactly Spark's. */
case class MoneyUnscaled(child: Expression, scale: Int,
                         evalMode: EvalMode.Value)
    extends UnaryExpression {

  require(scale >= 0 && scale <= 18, s"money scale must be in [0, 18], got $scale")

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "money_unscaled"

  private def castTo(e: Expression): Expression =
    UnscaledValue(Cast(e, DecimalType(18, scale), None, evalMode))

  /** Spark's cast of one already-evaluated input value. */
  @transient private lazy val castOne =
    castTo(BoundReference(0, child.dataType, nullable = true))

  /** Slow path: `null` or a `java.lang.Long`, or Spark's cast error. */
  def slow(v: Any): Any = castOne.eval(new GenericInternalRow(Array[Any](v)))

  private def pow10: Long = MoneyMath.Pow10(scale)
  private def limit: Long = MoneyMath.Pow10(18 - scale)

  override protected def nullSafeEval(v: Any): Any = {
    val r = child.dataType match {
      case DoubleType => MoneyMath.fromDouble(v.asInstanceOf[Double], pow10.toDouble)
      case ByteType | ShortType | IntegerType | LongType =>
        MoneyMath.fromLong(v.asInstanceOf[Number].longValue, pow10, limit)
      case _ => MoneyMath.Slow
    }
    if (r != MoneyMath.Slow) r else slow(v)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val fast = child.dataType match {
      case DoubleType => Some((v: String) =>
        s"graft.functions.MoneyMath.fromDouble($v, ${pow10.toDouble}D)")
      case ByteType | ShortType | IntegerType | LongType => Some((v: String) =>
        s"graft.functions.MoneyMath.fromLong((long) $v, ${pow10}L, ${limit}L)")
      case _ => None
    }
    fast match {
      case None =>
        val c = castTo(child).genCode(ctx)
        ev.copy(code = c.code, isNull = c.isNull, value = c.value)
      case Some(call) =>
        val c = child.genCode(ctx)
        val self = ctx.addReferenceObj("money", this)
        val boxed = CodeGenerator.boxedType(child.dataType)
        val o = ctx.freshName("slow")
        ev.copy(code = code"""
          |${c.code}
          |boolean ${ev.isNull} = ${c.isNull};
          |long ${ev.value} = -1L;
          |if (!${ev.isNull}) {
          |  ${ev.value} = ${call(c.value.toString)};
          |  if (${ev.value} == java.lang.Long.MIN_VALUE) {
          |    Object $o = $self.slow($boxed.valueOf(${c.value}));
          |    ${ev.isNull} = $o == null;
          |    if (!${ev.isNull}) ${ev.value} = ((java.lang.Long) $o).longValue();
          |  }
          |}""".stripMargin)
    }
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The fast conversions of [[MoneyUnscaled]], shared by its
  * interpreted and generated code. Each returns [[Slow]] when it cannot
  * prove its answer equals Spark's cast. */
object MoneyMath {

  /** Never a fast result: those stay within ±2^40 (doubles) or
    * ±(10^18 − 1) (integers). */
  final val Slow = Long.MinValue

  val Pow10: Array[Long] = Array.iterate(1L, 19)(_ * 10)

  /** Below 2^40 the fraction of `|y|` is exact, with ulp ≤ 2^-12. */
  private final val FastLimit = 1099511627776.0 // 2^40

  /** Round half up of `x·10^s` (`pow` = 10^s, exact as a double for
    * s ≤ 18), or [[Slow]].
    *
    * Why `4·ulp` proves equality with Spark's cast: the cast rounds the
    * shortest decimal string S of x, and |S − x| ≤ ulp(x)/2 because S
    * parses back to x. Scaled by 10^s that is < ulp(y)·(1 + 2^-52),
    * and the product's own rounding adds ≤ ulp(y)/2; so S·10^s lies
    * within 1.5·ulp(y) of y. If frac(|y|) is more than 4·ulp(|y|) from
    * 0.5, both sit on the same side of the rounding boundary (an
    * integer crossing does not change a half-up result). Subnormal x
    * give |y| far below 0.5 either way. NaN and ±Inf fail the limit
    * test. */
  def fromDouble(x: Double, pow: Double): Long = {
    val y = x * pow
    val a = math.abs(y)
    if (!(a < FastLimit)) return Slow
    val fl = math.floor(a)
    val fr = a - fl
    if (math.abs(fr - 0.5) <= 4.0 * math.ulp(a)) return Slow
    val r = fl.toLong + (if (fr > 0.5) 1L else 0L)
    if (y < 0.0) -r else r
  }

  /** `v·10^s` (`pow` = 10^s) when it fits 18 digits, i.e.
    * `|v| < lim` = 10^(18−s); otherwise [[Slow]]. */
  def fromLong(v: Long, pow: Long, lim: Long): Long =
    if (v > -lim && v < lim) v * pow else Slow

  private val Pow10_28 = BigInteger.TEN.pow(28)

  /** The decimal(28, scale) value `hi·2^32 + lo`, or null when it needs
    * more than 28 digits. */
  def total(hi: Long, lo: Long, scale: Int): Decimal =
    if (hi >= Int.MinValue && hi <= Int.MaxValue) Decimal((hi << 32) + lo, 28, scale)
    else {
      val u = BigInteger.valueOf(hi).shiftLeft(32).add(BigInteger.valueOf(lo))
      if (u.abs.compareTo(Pow10_28) >= 0) null
      else Decimal(new JBigDecimal(u, scale), 28, scale)
    }
}

/** The final value of a [[MoneySum]] buffer: decimal(28, scale) of
  * `hi·2^32 + lo`, null past 28 digits (the caller's overflow check
  * turns that into Spark's null or error). Runs once per group. */
case class MoneyTotal(hi: Expression, lo: Expression, scale: Int)
    extends BinaryExpression {
  override def left: Expression = hi
  override def right: Expression = lo
  override def dataType: DataType = DecimalType(28, scale)
  override def nullable: Boolean = true
  override protected def nullSafeEval(h: Any, l: Any): Any =
    MoneyMath.total(h.asInstanceOf[Long], l.asInstanceOf[Long], scale)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (h, l) =>
      s"""${ev.value} = graft.functions.MoneyMath.total($h, $l, $scale);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(hi = newLeft, lo = newRight)
}

/** Exact money sum: `sum(CAST(child AS DECIMAL(18, scale)))` on a
  * buffer of three longs, so the hash aggregate keeps a fixed-width
  * row and no per-row decimal object.
  *
  *  - `hi`, `lo`: the running unscaled sum is `hi·2^32 + lo`, with `lo`
  *    kept in [0, 2^32) by carrying into `hi` on update and merge. One
  *    input moves `hi` by < 2^28, so `hi` cannot wrap below about
  *    3·10^10 maximal inputs per group.
  *  - `n`: the non-null input count; the result is null when it is 0.
  *
  * The result is decimal(28, scale) — Spark's `Sum` result type for a
  * decimal(18, scale) input — or, with `asDouble`, that decimal cast to
  * double. When the final sum needs more than 28 digits it is null
  * unless `evalMode` is ANSI, where it raises the error of Spark's
  * `Sum` (`CheckOverflowInSum`). Spark also nulls or raises when only
  * an intermediate prefix overflows; this judges the final sum only.
  */
case class MoneySum(child: Expression, scale: Int, evalMode: EvalMode.Value,
                    asDouble: Boolean)
    extends DeclarativeAggregate with UnaryLike[Expression] {

  private def decType = DecimalType(28, scale)

  override def dataType: DataType = if (asDouble) DoubleType else decType
  override def nullable: Boolean = true
  override def prettyName: String = "money_sum"

  private lazy val hi = AttributeReference("hi", LongType, nullable = false)()
  private lazy val lo = AttributeReference("lo", LongType, nullable = false)()
  private lazy val n = AttributeReference("n", LongType, nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] = Seq(hi, lo, n)

  override lazy val initialValues: Seq[Expression] = Seq.fill(3)(Literal(0L))

  private def add(a: Expression, b: Expression): Expression =
    Add(a, b, NumericEvalContext(EvalMode.LEGACY))
  private def high(e: Expression): Expression = ShiftRight(e, Literal(32))
  private def low(e: Expression): Expression = BitwiseAnd(e, Literal(0xFFFFFFFFL))

  // A null input leaves the buffer as is. Null-propagating arithmetic
  // under Coalesce (not If(IsNull(v), ...), whose branches codegen does
  // not share) keeps `v` and `t` in always-evaluated positions, so the
  // generated update converts each row once, as a common subexpression.
  override lazy val updateExpressions: Seq[Expression] = {
    val v = MoneyUnscaled(child, scale, evalMode)
    val t = add(lo, low(v))
    Seq(Coalesce(Seq(add(add(hi, high(v)), high(t)), hi)),
      Coalesce(Seq(low(t), lo)),
      add(n, Cast(IsNotNull(v), LongType)))
  }

  override lazy val mergeExpressions: Seq[Expression] = {
    val t = add(lo.left, lo.right)
    Seq(add(add(hi.left, hi.right), high(t)), low(t), add(n.left, n.right))
  }

  override lazy val evaluateExpression: Expression = {
    val dec = If(EqualTo(n, Literal(0L)), Literal.create(null, decType),
      CheckOverflowInSum(MoneyTotal(hi, lo, scale), decType,
        evalMode != EvalMode.ANSI, null))
    if (asDouble) Cast(dec, DoubleType) else dec
  }

  override protected def withNewChildInternal(newChild: Expression): MoneySum =
    copy(child = newChild)
}

/** Column-level API for the money kernel. The eval mode is the
  * session's at the call, as for Spark's own `cast`. */
object MoneyExprs {

  /** Exact `sum(CAST(c AS DECIMAL(18, scale)))` as decimal(28, scale),
    * or, with `asDouble`, cast to double. */
  def sum(c: Column, scale: Int, asDouble: Boolean): Column =
    Bridge.column(MoneySum(Bridge.expression(c), scale,
      EvalMode.fromSQLConf(SQLConf.get), asDouble).toAggregateExpression())
}
