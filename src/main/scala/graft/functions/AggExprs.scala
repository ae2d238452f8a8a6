package graft.functions

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** Bounded top-k as ONE aggregate — the k-generalization of the
  * `min(struct(...))` argmin pattern (q39/q56, verdict r2 item 4).
  *
  * `row_number() OVER (PARTITION BY g ORDER BY s)`+`WHERE rn <= k`
  * sorts EVERY scored row inside each window partition: the exchange
  * moves all N rows and the sort is O(N log N) per group — the
  * first-that-worked plan, not the 100 TB one. This aggregate keeps a
  * k-sized sorted buffer instead: the partial (map-side) aggregate
  * collapses each group to ≤ k candidates BEFORE the exchange, so the
  * shuffle moves `groups × partitions × k` rows regardless of fan-in,
  * and no full sort ever runs (per-row insertion into a k-bounded
  * buffer — the per-partition-heap + final-merge shape).
  *
  * Semantics: the k SMALLEST (score, id) pairs in ascending
  * lexicographic order — exactly `ORDER BY score, id LIMIT k`, with
  * the unique id as the deterministic total-order tiebreak (the same
  * contract every ranking oracle in this repo relies on). Descending
  * ranks (top-k by similarity) negate the score at the call site —
  * IEEE negation is exact, so oracle parity is unaffected. Doubles
  * compare via `java.lang.Double.compare` — identical to Spark's own
  * DoubleType sort order.
  */
case class BoundedTopK(
    score: Expression,
    id: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[BoundedTopK.Buf] {

  require(k > 0, s"top_k_min requires k > 0, got $k")

  override def children: Seq[Expression] = Seq(score, id)

  override def checkInputDataTypes(): TypeCheckResult =
    if (score.dataType == DoubleType && id.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (double, bigint) arguments, got " +
        s"${score.dataType.simpleString} and ${id.dataType.simpleString}")

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("score", DoubleType, nullable = false),
      StructField("id", LongType, nullable = false))),
    containsNull = false)

  override def nullable: Boolean = false
  override def prettyName: String = "top_k_min"

  override def createAggregationBuffer(): BoundedTopK.Buf =
    new BoundedTopK.Buf(new ArrayBuffer[Double](k + 1),
      new ArrayBuffer[Long](k + 1))

  override def update(buf: BoundedTopK.Buf, input: InternalRow): BoundedTopK.Buf = {
    val s = score.eval(input)
    val i = id.eval(input)
    if (s != null && i != null)
      buf.insert(s.asInstanceOf[Double], i.asInstanceOf[Long], k)
    buf
  }

  override def merge(buf: BoundedTopK.Buf, other: BoundedTopK.Buf): BoundedTopK.Buf = {
    var i = 0
    while (i < other.size) {
      buf.insert(other.scores(i), other.ids(i), k)
      i += 1
    }
    buf
  }

  override def eval(buf: BoundedTopK.Buf): Any =
    new GenericArrayData((0 until buf.size).map(i =>
      InternalRow(buf.scores(i), buf.ids(i))).toArray[Any])

  override def serialize(buf: BoundedTopK.Buf): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + 16 * buf.size)
    bb.putInt(buf.size)
    var i = 0
    while (i < buf.size) {
      bb.putDouble(buf.scores(i)); bb.putLong(buf.ids(i)); i += 1
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): BoundedTopK.Buf = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = createAggregationBuffer()
    var i = 0
    while (i < n) {
      // pre-sorted and ≤ k by construction: append directly
      buf.scores += bb.getDouble; buf.ids += bb.getLong; i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): BoundedTopK =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BoundedTopK =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(score = newChildren(0), id = newChildren(1))
}

object BoundedTopK {

  /** k-bounded buffer, kept sorted ascending by (score, id). Insertion
    * is a linear scan + shift — O(k) per row with k ≤ ~50 everywhere
    * this is used, and rows past the current k-th are rejected by one
    * compare against the tail (the common case once the buffer warms). */
  final class Buf(val scores: ArrayBuffer[Double], val ids: ArrayBuffer[Long]) {
    def size: Int = scores.length

    private def lt(s: Double, i: Long, j: Int): Boolean = {
      val c = java.lang.Double.compare(s, scores(j))
      c < 0 || (c == 0 && i < ids(j))
    }

    def insert(s: Double, i: Long, k: Int): Unit = {
      if (size == k && !lt(s, i, k - 1)) return // below the cut — reject
      var pos = size
      while (pos > 0 && lt(s, i, pos - 1)) pos -= 1
      scores.insert(pos, s)
      ids.insert(pos, i)
      if (size > k) { scores.remove(k); ids.remove(k) }
      ()
    }
  }
}

/** Exact distinct count of an integral or date column as ONE
  * aggregate, for groups whose fan-in the data model bounds (one
  * order's lines): the same non-null bigint as `countDistinct`, 0 for
  * empty or all-null input.
  *
  * Spark plans two or more `countDistinct`s through
  * `RewriteDistinctAggregates`: an `Expand` copies every input row once
  * per distinct column, and four hash aggregates over (group, value,
  * gid) keys follow. Here each group dedups inside its own buffer — a
  * primitive-long open-addressing set ([[SmallDistinct.LongSet]]), no
  * boxing — so the plan keeps one aggregate pair and one exchange; the
  * partial buffer ships as a flat array of longs.
  *
  * Heap-safe only under the contract of [[graft.util.Cols.distinctPerOrder]]
  * (bounded fan-in per group); q03, q05, mvDailyRevenue, mvNationRevenue,
  * Quality, Sketches and TextAnalysis group by unbounded keys and stay
  * on Spark's spillable `countDistinct`. */
case class SmallDistinct(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[SmallDistinct.LongSet] {

  override def children: Seq[Expression] = Seq(child)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ByteType | ShortType | IntegerType | LongType | DateType =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an integral or date argument, got " +
        other.simpleString)
  }

  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = "small_distinct"

  override def createAggregationBuffer(): SmallDistinct.LongSet =
    new SmallDistinct.LongSet

  override def update(buf: SmallDistinct.LongSet,
                      input: InternalRow): SmallDistinct.LongSet = {
    val v = child.eval(input)
    // Byte/Short/Integer (dates are Integer days) and Long all widen
    if (v != null) buf.add(v.asInstanceOf[Number].longValue)
    buf
  }

  override def merge(buf: SmallDistinct.LongSet,
                     other: SmallDistinct.LongSet): SmallDistinct.LongSet = {
    other.foreach(buf.add)
    buf
  }

  override def eval(buf: SmallDistinct.LongSet): Any = buf.size.toLong

  override def serialize(buf: SmallDistinct.LongSet): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 * buf.size)
    buf.foreach(v => bb.putLong(v))
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): SmallDistinct.LongSet = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val buf = new SmallDistinct.LongSet
    while (bb.hasRemaining) buf.add(bb.getLong)
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): SmallDistinct =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): SmallDistinct =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0))
}

object SmallDistinct {

  /** Open-addressing set of longs with linear probing. 0 marks an
    * empty slot, so the value 0 is held by a flag instead. Fibonacci
    * hashing spreads the keys (order keys, part keys, dates are
    * dense runs); the table doubles at half load. */
  final class LongSet {
    private var slots = new Array[Long](8)
    private var used = 0
    private var hasZero = false

    def size: Int = used + (if (hasZero) 1 else 0)

    def add(v: Long): Unit =
      if (v == 0L) hasZero = true
      else {
        if (2 * (used + 1) > slots.length) grow()
        if (put(slots, v)) used += 1
      }

    def foreach(f: Long => Unit): Unit = {
      if (hasZero) f(0L)
      var i = 0
      while (i < slots.length) {
        if (slots(i) != 0L) f(slots(i))
        i += 1
      }
    }

    /** Inserts non-zero `v`; false when it was already there. */
    private def put(table: Array[Long], v: Long): Boolean = {
      val mask = table.length - 1
      val h = v * 0x9E3779B97F4A7C15L
      var i = (h ^ (h >>> 32)).toInt & mask
      while (table(i) != 0L && table(i) != v) i = (i + 1) & mask
      val fresh = table(i) == 0L
      table(i) = v
      fresh
    }

    private def grow(): Unit = {
      val old = slots
      slots = new Array[Long](old.length * 2)
      var i = 0
      while (i < old.length) {
        if (old(i) != 0L) put(slots, old(i))
        i += 1
      }
    }
  }
}

/** Per-group ROARING BITMAP of long row positions as ONE aggregate —
  * the executor-side construction step of a Delta deletion vector
  * (graft.sources.DeltaLog.deleteWhere groups matched rows by file
  * and aggregates their `_metadata.row_index` through this).
  *
  * The alternative — `collect()` the matched (file, position) rows
  * and group them on the driver — is O(deleted rows) driver memory:
  * a DELETE matching 1% of a 100 TB table collects billions of rows
  * and OOMs the driver. Here each task folds its rows into a
  * compressed bitmap (the partial aggregate), partials merge with
  * bitmap OR, and the driver receives ONE row per file whose payload
  * is the kilobytes-sized portable serialization — O(files), the
  * same metadata class as the log itself. This is where Delta's own
  * writer builds the bitmap too: inside the task that scanned the
  * file. */
case class RowPosBitmap(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[graft.sources.DeletionVectors.Bitmap64] {

  private type Bm = graft.sources.DeletionVectors.Bitmap64

  override def children: Seq[Expression] = Seq(child)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a bigint argument, got " +
        child.dataType.simpleString)

  /** The spec's portable RoaringBitmapArray bytes. */
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "row_pos_bitmap"

  override def createAggregationBuffer(): Bm =
    new graft.sources.DeletionVectors.Bitmap64

  override def update(buf: Bm, input: InternalRow): Bm = {
    val v = child.eval(input)
    if (v != null) buf.add(v.asInstanceOf[Long])
    buf
  }

  override def merge(buf: Bm, other: Bm): Bm = { buf.or(other); buf }

  override def eval(buf: Bm): Any = buf.serializePortable

  override def serialize(buf: Bm): Array[Byte] = buf.serializePortable

  override def deserialize(bytes: Array[Byte]): Bm =
    graft.sources.DeletionVectors.Bitmap64.fromPortable(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): RowPosBitmap =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): RowPosBitmap =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0))
}

/** Per-group bloom-filter bitmap as ONE aggregate — the write-side
  * half of the Delta bloom sidecar ([[graft.sources.DeltaLog]]).
  *
  * The expression-only build was `explode(array(pmod(xxhash64(k, i),
  * m)))` × [[graft.sources.DeltaLog.BloomHashes]] followed by a
  * `groupBy(file, word)` — it tripled the row count before the
  * aggregate and probed a string-keyed hash map once per PROBE
  * POSITION: ~13 CPU-seconds on the q84 fact commit's critical path
  * (stack samples: the fused Generate+hashAgg loop was the top frame
  * of the whole commit). This aggregate folds each row's probe
  * positions straight into a dense mBits-bit word array — one group
  * per file, 3 hashes + 3 bit-sets per row, no row expansion.
  *
  * BIT-FOR-BIT the same filter: bits come from
  * [[graft.sources.DeltaLog.bloomAdd]] over
  * [[graft.sources.DeltaLog.bloomPositions]], the driver-side
  * replica of catalyst's `pmod(xxhash64(key, i), m)` that the reader
  * probes with (ScaleSpec holds the equality against the engine's own
  * xxhash64 column). Null keys are skipped (the caller also filters
  * them, preserving the all-null-file ⇒ never-bloomed contract). */
case class BloomWords(
    child: Expression,
    mBits: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  require(mBits > 0 && mBits % 64 == 0,
    s"bloom_words requires a positive multiple-of-64 bit count, got $mBits")

  override def children: Seq[Expression] = Seq(child)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a bigint argument, got " +
        child.dataType.simpleString)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "bloom_words"

  override def createAggregationBuffer(): Array[Long] =
    new Array[Long](mBits / 64)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) graft.sources.DeltaLog.bloomAdd(buf, v.asInstanceOf[Long])
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < buf.length) { buf(i) |= other(i); i += 1 }
    buf
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(buf.length * 8)
    bb.asLongBuffer().put(buf)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val out = new Array[Long](bytes.length / 8)
    java.nio.ByteBuffer.wrap(bytes).asLongBuffer().get(out)
    out
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): BloomWords =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BloomWords =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0))
}

/** Column-level API for the aggregate expressions. */
object AggExprs {

  /** The k smallest (score, id) pairs of a group, ascending — as
    * `array<struct<score double, id bigint>>`. `posexplode` the result
    * for (rank − 1, row) pairs; negate the score for descending ranks. */
  def topKMin(score: Column, id: Column, k: Int): Column =
    Bridge.column(
      BoundedTopK(Bridge.expression(score), Bridge.expression(id), k)
        .toAggregateExpression())

  /** The group's long keys folded into an mBits-bit bloom bitmap,
    * as `array<bigint>` words — [[BloomWords]]. */
  def bloomWords(key: Column, mBits: Int): Column =
    Bridge.column(
      BloomWords(Bridge.expression(key), mBits).toAggregateExpression())

  /** The group's long values as portable roaring-bitmap bytes —
    * [[RowPosBitmap]]. */
  def rowPosBitmap(pos: Column): Column =
    Bridge.column(
      RowPosBitmap(Bridge.expression(pos)).toAggregateExpression())
}
