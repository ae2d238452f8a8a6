package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}

/** Order-independent result fingerprint, spelled identically in
  * `perfbench/expected.py` so the DuckDB oracle's rows and the
  * engine's rows can be compared without shipping either result:
  *
  *  - columns sorted by name (the oracle gate's normalisation);
  *  - each value canonically encoded: every number as the bits of its
  *    IEEE double (so BIGINT/HUGEINT/DECIMAL/DOUBLE that compare equal
  *    encode equal), timestamps as UTC epoch micros, dates as epoch
  *    days, arrays/structs/maps recursively;
  *  - each row hashed (first 8 bytes of SHA-1 over the UTF-8 row
  *    string) and the hashes summed mod 2^64, so row order is free.
  *
  * The result reads `<rows>:<sum hex>:<column names>`. */
object Fingerprint {
  private val Sep = "\u0001"

  def encode(v: Any): String = v match {
    case null => "N"
    case b: Boolean => if (b) "b1" else "b0"
    case s: String => "s" + s
    case n: java.math.BigDecimal => num(n.doubleValue)
    case n: scala.math.BigDecimal => num(n.toDouble)
    case n: java.lang.Number => num(n.doubleValue)
    case t: java.time.Instant =>
      "t" + (t.getEpochSecond * 1000000L + t.getNano / 1000)
    case t: java.time.LocalDateTime =>
      encode(t.toInstant(java.time.ZoneOffset.UTC))
    case t: java.sql.Timestamp => encode(t.toInstant)
    case d: java.time.LocalDate => "d" + d.toEpochDay
    case d: java.sql.Date => "d" + d.toLocalDate.toEpochDay
    case a: Array[Byte] => "x" + a.map(b => f"${b & 0xff}%02x").mkString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => encode(k) + "=" + encode(x) }
        .sorted.mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(encode).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(encode).mkString("{", ",", "}")
    case other => "?" + other.toString
  }

  private def num(d: Double): String =
    if (d.isNaN) "fnan"
    else "f" + java.lang.Long.toHexString(
      java.lang.Double.doubleToLongBits(if (d == 0.0) 0.0 else d))

  /** Fingerprint of `rows` whose columns are named `names`. */
  def of(names: Seq[String], rows: Iterator[Row]): String = {
    val order = names.zipWithIndex.sortBy(_._1).map(_._2)
    val md = MessageDigest.getInstance("SHA-1")
    var sum = 0L
    var n = 0L
    rows.foreach { r =>
      val line = order.map(i => encode(r.get(i))).mkString(Sep)
      val h = md.digest(line.getBytes(UTF_8))
      var x = 0L
      var i = 0
      while (i < 8) { x = (x << 8) | (h(i) & 0xffL); i += 1 }
      sum += x
      n += 1
    }
    s"$n:${java.lang.Long.toHexString(sum)}:${names.sorted.mkString(",")}"
  }

  /** Runs `df` to its full result and fingerprints it. */
  def of(df: DataFrame): String = of(df.columns.toSeq, df.collect().iterator)
}
