package graft.functions

import org.apache.spark.sql.types.{DataType, IntegerType, LongType}

/** Iceberg partition TRANSFORMS (Iceberg spec §Partition Transforms) —
  * the functions that turn a source column value into a hidden
  * partition tuple value. Hidden partitioning is the feature identity
  * tuples cannot give: the table is physically clustered by
  * `bucket(N, key)` or `month(ts)` while queries keep filtering on the
  * RAW column — the planner applies the same transform to the
  * predicate and prunes manifests, no derived column ever leaks into
  * the table schema.
  *
  * Each transform is one scalar ([[bucketLong]], [[monthOrdinal]],
  * ...): the executor writers (`streaming.DeltaDataWriter`) derive
  * each row's partition tuple with it, and the planner applies it to
  * predicate values when PRUNING manifest tuples. One implementation
  * on both sides means write-time assignment and read-time pruning
  * can never disagree — the invariant hidden partitioning rests on.
  *
  * `bucket` is pinned to the spec's exact definition: murmur3_x86_32
  * (seed 0) over the value's 8-byte little-endian form, then
  * `(hash & Int.MaxValue) % N`. The spec publishes test vectors
  * (hash(34L) = 2017239379); IcebergSpec asserts them, so tables
  * written here bucket IDENTICALLY to tables written by any Iceberg
  * client — interop, not just self-consistency. Scope: long-typed
  * sources (int widens to long per the spec; string buckets need
  * Iceberg's UTF-8 murmur over non-4-byte-aligned input, which Spark's
  * hash family does not reproduce — refused loudly, never
  * approximated).
  */
object IcebergTransforms {

  // ---------------------------------------------------------------
  // murmur3_x86_32 over the 8-byte little-endian form, seed 0 — the
  // public algorithm, spelled out so the implementation is pinned to
  // the spec vectors rather than to any library's internals.
  // ---------------------------------------------------------------

  private final val C1 = 0xcc9e2d51
  private final val C2 = 0x1b873593

  /** murmur3_x86_32(littleEndianBytes(v), seed = 0). */
  def murmur3Long(v: Long): Int = {
    var h1 = 0 // seed
    // two 4-byte little-endian blocks: low word, then high word
    var k1 = v.toInt * C1
    k1 = Integer.rotateLeft(k1, 15) * C2
    h1 = Integer.rotateLeft(h1 ^ k1, 13) * 5 + 0xe6546b64
    k1 = (v >>> 32).toInt * C1
    k1 = Integer.rotateLeft(k1, 15) * C2
    h1 = Integer.rotateLeft(h1 ^ k1, 13) * 5 + 0xe6546b64
    // fmix32, total length 8 bytes
    h1 ^= 8
    h1 ^= h1 >>> 16
    h1 *= 0x85ebca6b
    h1 ^= h1 >>> 13
    h1 *= 0xc2b2ae35
    h1 ^= h1 >>> 16
    h1
  }

  /** Iceberg `bucket[n]` of a long value: non-negative hash mod n. */
  def bucketLong(v: Long, n: Int): Int =
    (murmur3Long(v) & Integer.MAX_VALUE) % n

  /** Iceberg `truncate[w]` of a long value: floor to a multiple of w
    * (the spec's `v - (((v % w) + w) % w)` — correct for negatives). */
  def truncateLong(v: Long, w: Long): Long = v - (((v % w) + w) % w)

  /** Iceberg `month` ordinal: months from 1970-01 (UTC calendar). */
  def monthOrdinal(year: Int, month: Int): Int = (year - 1970) * 12 + month - 1

  /** Iceberg `year` ordinal: years from 1970. */
  def yearOrdinal(year: Int): Int = year - 1970

  // ordinal-of-instant twins (UTC), for mapping PREDICATE literals
  // (epoch micros, the way Catalyst spells timestamp literals) onto
  // partition tuple ordinals when pruning
  private def utc(us: Long): java.time.LocalDateTime =
    java.time.LocalDateTime.ofEpochSecond(
      Math.floorDiv(us, 1000000L), 0, java.time.ZoneOffset.UTC)

  def monthOrdinalOfMicros(us: Long): Int = {
    val t = utc(us); monthOrdinal(t.getYear, t.getMonthValue)
  }
  def yearOrdinalOfMicros(us: Long): Int = utc(us).getYear - 1970
  def dayOrdinalOfMicros(us: Long): Int =
    Math.floorDiv(us, 86400L * 1000000L).toInt
  def hourOrdinalOfMicros(us: Long): Int =
    Math.floorDiv(us, 3600L * 1000000L).toInt

  /** Ordinal of an instant under a time transform (day/month/year/
    * hour) — what the executor writers key files on and what the
    * pruner compares against. */
  def timeOrdinalOfMicros(transform: String, us: Long): Int =
    transform match {
      case "month" => monthOrdinalOfMicros(us)
      case "year"  => yearOrdinalOfMicros(us)
      case "day"   => dayOrdinalOfMicros(us)
      case "hour"  => hourOrdinalOfMicros(us)
      case other => throw new IllegalArgumentException(
        s"'$other' is not a time transform")
    }

  /** The transform-string vocabulary, single source of truth —
    * consumers pattern-match these instead of re-declaring. */
  private[graft] val BucketRe = """bucket\[(\d+)\]""".r
  private[graft] val TruncateRe = """truncate\[(\d+)\]""".r

  /** The partition tuple field's type for a transform over a source
    * of type `srcType`. */
  def tupleType(transform: String, srcType: DataType): DataType =
    transform match {
      case "identity"    => srcType
      case BucketRe(_) | "month" | "year" | "day" | "hour" => IntegerType
      case TruncateRe(_) =>
        require(srcType == LongType || srcType == IntegerType,
          s"truncate over $srcType not supported (long/int only)")
        // the spec defines truncate as TYPE-PRESERVING (int source →
        // int tuple); the scalar math in [[truncateLong]] widens to
        // long internally, but the manifest's avro partition field
        // must carry the source type or external clients deriving the
        // tuple type from spec+schema mis-read the value
        srcType
      case other => throw new IllegalArgumentException(
        s"unsupported Iceberg partition transform '$other'")
    }

  /** Tuple field NAME for a transform over `src` — Iceberg's naming
    * convention (`<col>` for identity, `<col>_bucket`, `<col>_month`,
    * ...). */
  def tupleName(transform: String, src: String): String = transform match {
    case "identity"    => src
    case BucketRe(_)   => s"${src}_bucket"
    case TruncateRe(_) => s"${src}_trunc"
    case "month"       => s"${src}_month"
    case "year"        => s"${src}_year"
    case "day"         => s"${src}_day"
    case "hour"        => s"${src}_hour"
    case other => throw new IllegalArgumentException(
      s"unsupported Iceberg partition transform '$other'")
  }

  /** Is `transform` one this engine speaks? */
  def supported(transform: String): Boolean = transform match {
    case "identity" | "month" | "year" | "day" | "hour" => true
    case BucketRe(_) | TruncateRe(_) => true
    case _ => false
  }
}
