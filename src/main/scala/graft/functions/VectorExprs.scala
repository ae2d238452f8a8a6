package graft.functions

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native codegen'd dot product over two `array<double>` columns.
  *
  * The built-in route — `aggregate(zip_with(a, b, _*_), 0.0, _+_)` —
  * allocates an intermediate array and evaluates the fold through
  * interpreted lambda calls per row; on an all-pairs similarity join
  * (SURVEY §7.5: q36/q37) that interpreter cost dominates the query.
  * This expression compiles to a tight scalar loop inside
  * WholeStageCodegen instead: no allocation, no virtual calls.
  *
  * Float semantics are IDENTICAL to the built-in route and to DuckDB's
  * `list_dot_product` — a sequential left-to-right fold — so every
  * oracle comparison stays bit-exact.
  */
case class VecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  private def isDoubleArray(t: DataType): Boolean = t match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (isDoubleArray(left.dataType) && isDoubleArray(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<double> arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "vec_dot"

  // Length mismatch RAISES rather than silently truncating: ragged
  // embedding data must fail loudly, matching the float-discipline
  // strictness everywhere else (a truncated dot product is a
  // plausible-but-wrong cosine that would sail through q36–q40).
  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (y.numElements() != n)
      throw new IllegalArgumentException(
        s"vec_dot: array length mismatch ($n vs ${y.numElements()})")
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |int $n = $a.numElements();
         |if ($b.numElements() != $n) {
         |  throw new IllegalArgumentException(
         |    "vec_dot: array length mismatch (" + $n + " vs " +
         |      $b.numElements() + ")");
         |}
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Column-level API + SQL registration for the vector expressions. */
object VectorExprs {

  /** vec_dot(a, b) as a Column — usable anywhere a built-in is. */
  def vecDot(a: Column, b: Column): Column =
    Bridge.column(VecDot(Bridge.expression(a), Bridge.expression(b)))

  /** Idempotent SQL-function registration on an existing session (the
    * driver contract hands us pre-built sessions, so extension-style
    * injection at build time isn't always available). Registers the
    * same builders [[graft.extensions.GraftExtensions]] injects. */
  def register(spark: SparkSession): Unit =
    graft.extensions.GraftExtensions.functions.foreach { case (id, info, b) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, b)
    }
}

/** `SparkSessionExtensions` hook under its older name
  * (`spark.sql.extensions=graft.functions.GraftExtensions`): injects the
  * same function builders as [[graft.extensions.GraftExtensions]]. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    graft.extensions.GraftExtensions.functions.foreach(ext.injectFunction)
}
