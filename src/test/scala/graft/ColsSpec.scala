package graft

import scala.util.{Failure, Success, Try}

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BindReferences, BoundReference, Cast, EvalMode, GenericInternalRow, Literal, UnsafeProjection, UnscaledValue}
import org.apache.spark.sql.catalyst.expressions.aggregate.Sum
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.functions.{MoneyMath, MoneySum, MoneyUnscaled}
import graft.util.Cols

/** dsum/davg must be partition-order independent — the property that
  * makes results reproducible on a real cluster AND hash-equal to the
  * DuckDB oracle (SURVEY §7.4 decimal-vs-double drift).
  */
class ColsSpec extends SparkSuite
    with org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  import spark.implicits._

  private val values =
    (1 to 10000).map(i => (i % 7, i * 0.01 + 1.0 / (i + 3)))

  test("dsum is identical across partition layouts") {
    def total(parts: Int): Seq[(Int, Double)] =
      values.toDF("g", "x").repartition(parts)
        .groupBy("g").agg(Cols.dsum(col("x")).as("s"))
        .orderBy("g").as[(Int, Double)].collect().toSeq
    val a = total(1)
    assert(total(3) == a && total(17) == a)
  }

  test("plain double sum would NOT be stable (sanity of the concern)") {
    // not asserted inequality (could coincide); just document the check
    def total(parts: Int): Double =
      values.toDF("g", "x").repartition(parts)
        .agg(sum(col("x"))).head().getDouble(0)
    // both are finite sums of the same multiset — within float noise
    assert(math.abs(total(1) - total(13)) < 1e-6)
  }

  test("davg equals decimal sum over non-null count") {
    val df = Seq(Some(1.0), Some(2.0), None, Some(4.0)).toDF("x")
    val got = df.agg(Cols.davg(col("x"))).head().getDouble(0)
    assert(got == (1.0 + 2.0 + 4.0) / 3)
  }

  // ------------------------------------------------ the money kernel
  //
  // Cols.dsum/davg/decSum run on graft.functions.MoneySum. The specs
  // below hold them to Spark's own `sum(CAST(x AS DECIMAL(18,s)))`
  // (values, nulls and error classes) on adversarial inputs.

  private val Scales = Seq(0, 2, 4, 6)

  private def pow10(s: Int): Double = MoneyMath.Pow10(s).toDouble

  /** Doubles that stress the double→decimal rounding: cents, TPC-H
    * style price products, exact decimal half-points with their
    * neighbours, random bit patterns and mantissas, both signs. */
  private def moneyDoubles(s: Int): Gen[Double] = {
    val cents = Gen.chooseNum(-10000000L, 10000000L).map(_ / 100.0)
    val product = for {
      p <- Gen.chooseNum(90L, 10000000L)
      d <- Gen.chooseNum(0, 10)
      t <- Gen.chooseNum(0, 8)
    } yield p / 100.0 * (1.0 - d / 100.0) * (1.0 + t / 100.0)
    val half = for {
      k <- Gen.chooseNum(-10000000L, 10000000L)
      sc <- Gen.oneOf(s, s, s, 0, 2, 4, 6)
      nb <- Gen.oneOf(0, 1, 2)
    } yield {
      val h = (k + 0.5) / pow10(sc)
      if (nb == 1) Math.nextUp(h) else if (nb == 2) Math.nextDown(h) else h
    }
    val bits = Gen.long.map(java.lang.Double.longBitsToDouble)
      .suchThat(x => !x.isNaN && !x.isInfinite && math.abs(x) < 1e17 / pow10(s))
    val mantissa = for {
      m <- Gen.chooseNum(0L, (1L << 52) - 1)
      e <- Gen.chooseNum(-30, 45)
      neg <- Gen.oneOf(false, true)
    } yield {
      val x = java.lang.Double.longBitsToDouble(((e + 1023L) << 52) | m)
      if (neg) -x else x
    }
    Gen.frequency(4 -> cents, 3 -> product, 3 -> half, 1 -> bits,
      2 -> mantissa)
  }

  /** Doubles Spark's cast nulls (legacy) or rejects (ANSI) or takes
    * only just: NaN, ±Inf, the decimal(18,s) limit and its
    * neighbours, huge random bit patterns. */
  private def edgeDoubles(s: Int): Gen[Double] = {
    val lim = 1e18 / pow10(s)
    Gen.oneOf(
      Gen.const(Double.NaN), Gen.const(Double.PositiveInfinity),
      Gen.const(Double.NegativeInfinity),
      Gen.oneOf(lim, -lim, Math.nextDown(lim), -Math.nextDown(lim),
        (1e18 - 1) / pow10(s), lim / 2, Double.MaxValue, Double.MinPositiveValue),
      Gen.long.map(java.lang.Double.longBitsToDouble))
  }

  private def castUnscaled(v: Any, dt: DataType, s: Int,
                           mode: EvalMode.Value): Try[Any] =
    Try(UnscaledValue(Cast(Literal.create(v, dt), DecimalType(18, s), None, mode))
      .eval(InternalRow.empty))

  /** The error class of a failed action (the first in the cause chain). */
  private def condition(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).collectFirst {
      case e: SparkThrowable if e.getCondition != null => e.getCondition
    }.getOrElse(t.getClass.getName)

  test("money conversion equals Spark's Cast on 10^6 doubles (interpreted and generated)") {
    val params = Gen.Parameters.default
    var fast = 0
    var n = 0
    Scales.foreach { s =>
      val gen = Gen.frequency(20 -> moneyDoubles(s), 1 -> edgeDoubles(s))
      val xs = Array.tabulate(260000)(i =>
        gen.pureApply(params, Seed(1000L * s + i)))
      val expr = MoneyUnscaled(BoundReference(0, DoubleType, nullable = true),
        s, EvalMode.LEGACY)
      val proj = UnsafeProjection.create(Seq(expr))
      assert(proj.getClass.getName.contains("SpecificUnsafeProjection"),
        "the conversion must run through generated code here")
      xs.foreach { x =>
        val want = castUnscaled(x, DoubleType, s, EvalMode.LEGACY).get
        val row = new GenericInternalRow(Array[Any](x))
        val interp = expr.eval(row)
        val out = proj(row)
        val generated = if (out.isNullAt(0)) null else out.getLong(0)
        assert(interp == want && generated == want,
          s"scale $s, x=$x (${java.lang.Double.doubleToRawLongBits(x)}): " +
            s"cast $want, interpreted $interp, generated $generated")
        if (MoneyMath.fromDouble(x, pow10(s)) != MoneyMath.Slow) fast += 1
        n += 1
      }
    }
    assert(n >= 1000000)
    // the fast path is the common case, not a corner
    assert(fast > n / 2, s"fast path taken on $fast of $n")
  }

  test("money conversion raises Spark's cast errors in ANSI mode") {
    val params = Gen.Parameters.default
    Scales.foreach { s =>
      val expr = MoneyUnscaled(BoundReference(0, DoubleType, nullable = true),
        s, EvalMode.ANSI)
      val proj = UnsafeProjection.create(Seq(expr))
      (0 until 400).map(i => edgeDoubles(s).pureApply(params, Seed(77L + i)))
        .foreach { x =>
          val row = new GenericInternalRow(Array[Any](x))
          val want = castUnscaled(x, DoubleType, s, EvalMode.ANSI)
          val got = Try { val o = proj(row); if (o.isNullAt(0)) null else o.getLong(0) }
          (want, got) match {
            case (Success(a), Success(b)) => assert(a == b, s"scale $s, x=$x")
            case (Failure(a), Failure(b)) =>
              assert(condition(a) == condition(b), s"scale $s, x=$x")
            case _ => fail(s"scale $s, x=$x: cast $want, kernel $got")
          }
        }
    }
  }

  private val decimalTypes =
    Seq(DecimalType(18, 2), DecimalType(18, 0), DecimalType(10, 4),
      DecimalType(12, 8), DecimalType(5, 5), DecimalType(18, 9))

  /** One generated table: a group key and one column per input type
    * (double, int, long, decimal(p≤18)), with an all-null group. */
  private def moneyRows(s: Int, dec: DecimalType, mode: EvalMode.Value,
                        seed: Long): (StructType, Seq[Row]) = {
    val p = Gen.Parameters.default
    val r = new scala.util.Random(seed)
    def pick[T](g: Gen[T], i: Int) = g.pureApply(p, Seed(seed * 7919 + i))
    val poisonRate = if (r.nextBoolean()) 0.0 else 0.02
    val lim = MoneyMath.Pow10(18 - s)
    // clean values fit decimal(18,s) at every tested scale; edge values
    // (poisoned rows only) sit at or past its limit
    val ints = Gen.chooseNum(-100000, 100000)
    val edgeInts = Gen.oneOf(Int.MinValue, Int.MaxValue, 0, -1)
    val longs = Gen.chooseNum(-10000000000L, 10000000000L)
    val edgeLongs = Gen.oneOf(lim - 1, 1 - lim, lim, -lim, Long.MaxValue, Long.MinValue)
    def decs(digits: Int) = {
      val m = MoneyMath.Pow10(digits) - 1
      Gen.chooseNum(-m, m).map(u =>
        new java.math.BigDecimal(java.math.BigInteger.valueOf(u), dec.scale))
    }
    val n = 50 + r.nextInt(1500)
    val raw = (0 until n).map { i =>
      val poison = r.nextDouble() < poisonRate
      def maybeNull(v: Any): Any = if (r.nextInt(20) == 0) null else v
      Array[Any](r.nextInt(5),
        maybeNull(pick(if (poison) edgeDoubles(s) else moneyDoubles(s), i)),
        maybeNull(pick(if (poison) edgeInts else ints, i)),
        maybeNull(pick(if (poison) edgeLongs else longs, i)),
        maybeNull(pick(decs(if (poison) dec.precision else dec.precision.min(10)), i)))
    } ++ (0 until 3).map(_ => Array[Any](7, null, null, null, null))
    val types = Seq(DoubleType, IntegerType, LongType, dec)
    // under ANSI keep the rejected values of ONE (column, error class),
    // so which task fails first cannot change the expected class
    val rows = if (mode != EvalMode.ANSI) raw else {
      var kept: Option[(Int, String)] = None
      raw.map(_.zipWithIndex.map {
        case (v, 0) => v
        case (null, _) => null
        case (v, c) =>
          castUnscaled(v, types(c - 1), s, mode) match {
            case Success(_) => v
            case Failure(e) =>
              val key = (c, condition(e))
              if (kept.isEmpty) kept = Some(key)
              if (kept.contains(key)) v else null
          }
      })
    }
    val schema = StructType(StructField("g", IntegerType) +:
      Seq("d", "i", "l", "m").zip(types).map { case (c, t) => StructField(c, t) })
    (schema, rows.map(a => Row.fromSeq(a.toSeq)))
  }

  private def kernelAggs(s: Int) = Seq("d", "i", "l", "m").flatMap(c =>
    Seq(Cols.dsum(col(c), s), Cols.davg(col(c), s), Cols.decSum(col(c), s)))

  private def sparkAggs(s: Int) = Seq("d", "i", "l", "m").flatMap { c =>
    val dec = sum(col(c).cast(DecimalType(18, s)))
    Seq(dec.cast(DoubleType), dec.cast(DoubleType) / count(col(c)), dec)
  }

  /** Both sides give equal rows or fail with one error class; returns
    * "ok" or that class. */
  private def sameOutcome(what: String, a: => Seq[Row], b: => Seq[Row]): String =
    (Try(a), Try(b)) match {
      case (Success(x), Success(y)) => assert(x == y, what); "ok"
      case (Failure(x), Failure(y)) =>
        assert(condition(x) == condition(y), s"$what: ${x.getMessage}\n${y.getMessage}")
        condition(x)
      case (x, y) => fail(s"$what: kernel $x, Spark $y")
    }

  test("dsum/davg/decSum equal Spark's sum(cast(x as decimal(18,s))) row for row") {
    val ansiBefore = spark.conf.get("spark.sql.ansi.enabled")
    val outcomes = collection.mutable.ArrayBuffer.empty[(Boolean, String)]
    try {
      for (ansi <- Seq(false, true); s <- Scales; parts <- Seq(1, 17);
           k <- 0 until 3) {
        spark.conf.set("spark.sql.ansi.enabled", ansi.toString)
        val mode = EvalMode.fromBoolean(ansi)
        val seed = (if (ansi) 5000L else 0L) + 100L * s + 10L * parts + k
        val dec = decimalTypes((seed % decimalTypes.size).toInt)
        val (schema, rows) = moneyRows(s, dec, mode, seed)
        val df = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
          .repartition(parts)
        def grouped(aggs: Seq[org.apache.spark.sql.Column]): Seq[Row] =
          df.groupBy("g").agg(aggs.head, aggs.tail: _*).orderBy("g").collect().toSeq
        def empty(aggs: Seq[org.apache.spark.sql.Column]): Seq[Row] =
          df.limit(0).agg(aggs.head, aggs.tail: _*).collect().toSeq
        val what = s"ansi=$ansi scale=$s parts=$parts seed=$seed $dec"
        outcomes += ansi -> sameOutcome(what, grouped(kernelAggs(s)), grouped(sparkAggs(s)))
        if (k == 0) outcomes += ansi -> sameOutcome(s"$what (empty input)",
          empty(kernelAggs(s)), empty(sparkAggs(s)))
      }
    } finally spark.conf.set("spark.sql.ansi.enabled", ansiBefore)
    // both modes compared real rows, and ANSI also compared cast errors
    assert(outcomes.count(_ == (false -> "ok")) == outcomes.count(!_._1))
    assert(outcomes.count(_ == (true -> "ok")) >= 8, outcomes)
    assert(outcomes.exists { case (a, c) =>
      a && c.startsWith("NUMERIC_VALUE_OUT_OF_RANGE") }, outcomes)
  }

  test("a final sum past 28 digits is null in legacy mode and Spark's Sum error in ANSI") {
    Seq(EvalMode.LEGACY, EvalMode.ANSI).foreach { mode =>
      val agg = MoneySum(Literal(1.0), 2, mode, asDouble = false)
      val eval = BindReferences.bindReference(agg.evaluateExpression,
        agg.aggBufferAttributes)
      def total(hi: Long, lo: Long, n: Long) =
        Try(eval.eval(new GenericInternalRow(Array[Any](hi, lo, n))))
      // Spark's Sum after its decimal(28,2) buffer overflowed: sum = null
      val sparkSum = Sum(Literal(Decimal(1), DecimalType(18, 2)),
        org.apache.spark.sql.catalyst.expressions.NumericEvalContext(mode))
      val sparkEval = BindReferences.bindReference(sparkSum.evaluateExpression,
        sparkSum.aggBufferAttributes)
      val overflowed = Try(sparkEval.eval(new GenericInternalRow(Array[Any](null, false))))
      // 10^28 - 1 (the largest decimal(28) unscaled value) fits; one more does not
      val max = java.math.BigInteger.TEN.pow(28).subtract(java.math.BigInteger.ONE)
      val hi = max.shiftRight(32).longValueExact
      val lo = max.and(java.math.BigInteger.valueOf(0xFFFFFFFFL)).longValueExact
      assert(total(hi, lo, 1).get ==
        Decimal(new java.math.BigDecimal(max, 2), 28, 2))
      assert(total(-hi - 1, (1L << 32) - lo, 1).get ==
        Decimal(new java.math.BigDecimal(max.negate, 2), 28, 2))
      assert(total(0, 0, 0) == Success(null), "no input rows sum to null")
      val past = total(hi, lo + 1, 1)
      val pastNeg = total(-hi - 1, (1L << 32) - lo - 1, 1)
      if (mode == EvalMode.ANSI) {
        assert(overflowed.isFailure)
        Seq(past, pastNeg).foreach(t =>
          assert(condition(t.failed.get) == condition(overflowed.failed.get)))
      } else {
        assert(overflowed == Success(null))
        assert(past == Success(null) && pastNeg == Success(null))
      }
    }
  }

  // ------------------------------------------ the distinct-set kernel
  //
  // Cols.distinctPerOrder runs on graft.functions.SmallDistinct. The
  // spec holds it to Spark's own countDistinct, row for row.

  private val distinctCols = Seq("b", "s", "i", "l", "d")

  /** Groups 0–4 draw from a small pool (duplicates everywhere, the
    * extremes of every type, negatives and 0), group 5 holds 3000
    * distinct longs (the set grows), group 7 is all null. */
  private def distinctRows(seed: Long): (StructType, Seq[Row]) = {
    val r = new scala.util.Random(seed)
    val pool = Array[Long](0, 1, -1, 2, -2, 7, 127, -128, 32767, -32768,
      Int.MaxValue, Int.MinValue, Long.MaxValue, Long.MinValue, 1L << 40)
    def pick(): Long = pool(r.nextInt(pool.length))
    def maybeNull(v: Any): Any = if (r.nextInt(8) == 0) null else v
    def row(g: Int, v: Long, day: Int): Array[Any] = Array[Any](g,
      maybeNull(v.toByte), maybeNull(v.toShort), maybeNull(v.toInt),
      maybeNull(v),
      maybeNull(java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(day))))
    val small = (0 until 400 + r.nextInt(800)).map(_ =>
      row(r.nextInt(5), pick(), r.nextInt(40) - 20))
    val wide = (0 until 3000).map(i =>
      row(5, r.nextLong(), i - 1500))
    val nulls = (0 until 3).map(_ => Array[Any](7, null, null, null, null, null))
    val schema = StructType(StructField("g", IntegerType) +:
      distinctCols.zip(Seq(ByteType, ShortType, IntegerType, LongType, DateType))
        .map { case (c, t) => StructField(c, t) })
    (schema, (small ++ wide ++ nulls).map(a => Row.fromSeq(a.toSeq)))
  }

  test("distinctPerOrder equals countDistinct row for row") {
    import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
    val confs = Seq("spark.sql.ansi.enabled",
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold")
    val before = confs.map(k => k -> spark.conf.getOption(k))
    try {
      for (ansi <- Seq(false, true); threshold <- Seq(65536, 1);
           parts <- Seq(1, 8); k <- 0 until 2) {
        spark.conf.set(confs(0), ansi.toString)
        spark.conf.set(confs(1), threshold.toString)
        val seed = (if (ansi) 1000L else 0L) + 100L * parts +
          (if (threshold == 1) 10L else 0L) + k
        val (schema, rows) = distinctRows(seed)
        // round-robin: every group's duplicates land in every partition,
        // so partial sets serialize and merge
        val df = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
          .repartition(parts)
        val kernel = distinctCols.map(c => Cols.distinctPerOrder(col(c)))
        val exact = distinctCols.map(c => countDistinct(col(c)))
        val what = s"ansi=$ansi threshold=$threshold parts=$parts seed=$seed"
        val grouped = df.groupBy("g").agg(kernel.head, kernel.tail: _*).orderBy("g")
        val got = grouped.collect().toSeq
        assert(got == df.groupBy("g").agg(exact.head, exact.tail: _*)
          .orderBy("g").collect().toSeq, what)
        assert(got.exists(_.getLong(5) > 2000), s"$what: the wide group")
        assert(got.last.toSeq.tail.forall(_ == 0L), s"$what: the all-null group")
        val aggs = collect(grouped.queryExecution.executedPlan) {
          case a: ObjectHashAggregateExec => a
        }
        assert(aggs.nonEmpty, s"$what: the kernel left ObjectHashAggregate")
        if (threshold == 1)
          assert(aggs.map(_.metrics("numTasksFallBacked").value).sum > 0,
            s"$what: no task took the sort-based fallback")
        val none = df.limit(0)
        assert(none.agg(kernel.head, kernel.tail: _*).collect().toSeq ==
          none.agg(exact.head, exact.tail: _*).collect().toSeq, s"$what: empty")
        assert(none.agg(kernel.head, kernel.tail: _*).head().toSeq.forall(_ == 0L))
        assert(none.groupBy("g").agg(kernel.head, kernel.tail: _*).isEmpty,
          s"$what: empty grouped")
      }
    } finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("distinctPerOrder refuses non-integral input at analysis") {
    val df = Seq(("a", 1.5)).toDF("s", "x")
    Seq("s", "x").foreach { c =>
      val e = intercept[org.apache.spark.sql.AnalysisException](
        df.agg(Cols.distinctPerOrder(col(c))))
      assert(e.getMessage.contains("small_distinct requires an integral or date"),
        e.getMessage)
    }
  }
}
