package graft.functions

import java.util.regex.Pattern

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Word n-grams of a text column — the one n-gram kernel of the engine.
  * Two modes over the same single tokenization:
  *
  *  - `distinct = true` (SQL `shingles`, [[TextExprs.shingles]]):
  *    distinct windows in first-occurrence order, bit-identical to
  *    {{{
  *      when(size(split(c, "\\s+")) >= n,
  *        array_distinct(transform(sequence(lit(1), size(toks) - (n-1)),
  *          i => concat_ws(" ", slice(toks, i, n)))))
  *        .otherwise(array())
  *    }}}
  *    and to the DuckDB oracle's `list_distinct(list_transform(range(...),
  *    i -> array_to_string(toks[i:i+n-1], ' ')))`.
  *  - `distinct = false` ([[TextExprs.ngrams]]): every window in start
  *    order, so array index = 0-based start position (`posexplode`
  *    yields `(pos, window)`); duplicates are kept.
  *
  * Both modes return an empty array when the text has fewer than `n`
  * tokens, and null for a null text.
  *
  * Why a native expression: the declarative spellings build each
  * window inside a `transform` lambda, and the usual one puts the
  * `split` inside the lambda too, so Spark re-tokenizes the whole
  * document for EVERY window — O(tokens²) per row — and evaluates the
  * lambda interpreted per element, allocating a slice array and a
  * joined string through virtual calls each time. Measured at sf0.1
  * that made the shingle explode the single hottest stage of the
  * whole bench (2.2 s warm, the floor under q33/q34/q50/q57/q58), and
  * at sf0.01 it was most of q108's and q97's time. This expression
  * makes one imperative pass per row: split once, build each window
  * with a StringBuilder, and (distinct mode) drop repeats keeping first
  * occurrences (CodegenFallback is fine: the cost was per-ELEMENT
  * lambda dispatch and the re-split, not the one virtual call per row).
  *
  * Tokenization parity notes: Spark's `split(str, regex)` is Java
  * `String.split(regex, -1)` — trailing empty tokens are KEPT (so a
  * trailing-whitespace text yields a final "" token, exactly like
  * DuckDB's `regexp_split_to_array`); this uses the same -1 limit.
  */
case class Shingles(child: Expression, n: Int, distinct: Boolean = true)
    extends UnaryExpression with CodegenFallback {

  private val ws = Pattern.compile("\\s+")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"shingles requires a string argument, got ${t.simpleString}")
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "shingles"

  override protected def nullSafeEval(input: Any): Any = {
    val toks = ws.split(input.asInstanceOf[UTF8String].toString, -1)
    val windows = new Array[String](math.max(toks.length - n + 1, 0))
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i < windows.length) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      windows(i) = sb.toString
      i += 1
    }
    // distinct keeps first occurrences, in order
    val out = if (distinct) windows.distinct else windows
    new GenericArrayData(out.map[Any](UTF8String.fromString))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TextExprs {
  /** Distinct word n-gram shingles of `text`, first-occurrence order. */
  def shingles(text: Column, n: Int): Column =
    Bridge.column(Shingles(Bridge.expression(text), n))

  /** Every word n-gram of `text` in start order (index = 0-based start
    * position), duplicates kept. */
  def ngrams(text: Column, n: Int): Column =
    Bridge.column(Shingles(Bridge.expression(text), n, distinct = false))
}
