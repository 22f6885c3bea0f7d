package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types._

import graft.WindowFn

/** Exact percentile as one typed imperative aggregate with two modes — the
  * engine's MEDIAN, CONTINUOUS_PERCENTILE (continuous) and
  * DISCRETE_PERCENTILE (discrete):
  *
  *  - continuous reproduces Spark's `percentile` (Hive-style interpolation)
  *    bit for bit: `position = (n-1)*p`, the keys at ranks `floor(position)`
  *    and `ceil(position)`, no interpolation when they are equal, else
  *    `(higher-position)*lo + (position-lower)*hi`. Output DOUBLE. Input is
  *    what MEDIAN reads, any NumericType, each value read as a double;
  *    strings, intervals and dates fail analysis. Two edges differ: where
  *    -0.0 and 0.0 are both present Spark orders them by hash, this kernel
  *    -0.0 first, so a zero result may differ in sign; two DECIMALs that
  *    round to one double are one key here, so they no longer interpolate to
  *    within an ulp of that double;
  *  - discrete is the reference UDAF (DiscretePercentile.java:40-168): the
  *    smallest value whose cumulative distribution `running / total` reaches
  *    p. Output type = input type, restricted to what DISCRETE_PERCENTILE
  *    reads, INT / LONG / FLOAT / DOUBLE (DiscretePercentile.convertType:57-78).
  *
  * NULL inputs are skipped in both modes, so they never inflate the
  * denominator; an all-null group yields NULL.
  *
  * The buffer is a value → count table held as sorted primitive arrays
  * ([[ExactPercentileAgg.Counts]]). Update appends the key to an unsorted
  * pending array; eval, merge and serialize first settle it (one
  * `Arrays.sort` on the primitive keys, then the in-place merge into the
  * sorted table that `merge` also uses). Eval turns p into 0-based ranks and
  * reads their keys in one walk of the counts (`indexOfRanks`) — no boxing,
  * no comparator sort; discrete mode finds its rank with O(log n) divisions.
  * Whole-partition (unordered) windows and groupBy settle once: O(n log n)
  * per partition. Under a running window frame Spark updates the buffer
  * incrementally and evals once per peer group, so each peer group costs
  * O(distinct) to settle and read. Memory stays O(distinct values) per
  * partition.
  *
  * Keys are primitive longs: integral values as they are, floating values
  * (and decimals, converted to double first — a monotone map, so order
  * statistics are unchanged) as order-preserving bit patterns whose signed
  * order is `java.lang.Double.compare` order (NaN greatest, -0.0 < 0.0). A
  * LONG above 2^53 therefore stays exact in discrete mode.
  */
case class ExactPercentileAgg(
    child: Expression,
    percentile: Double,
    discrete: Boolean,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[ExactPercentileAgg.Counts]
  with UnaryLike[Expression] {

  import ExactPercentileAgg._

  override def dataType: DataType = if (discrete) child.dataType else DoubleType

  override def nullable: Boolean = true

  /** The input-type rule of the function each mode serves, casting nothing:
    * DISCRETE_PERCENTILE's, or MEDIAN's, the wider of the two continuous
    * ones. p must lie in [0, 1] in both modes: SQL reaches the kernel as
    * `graft_percentile` and `graft_percentile_disc` without the validator. */
  override def checkInputDataTypes(): TypeCheckResult = {
    val input = (if (discrete) WindowFn.DiscretePercentile else WindowFn.Median).input
    if (!(percentile >= 0.0 && percentile <= 1.0))
      TypeCheckResult.TypeCheckFailure(s"percentile must be in [0, 1], got $percentile")
    else if (!input.accepts(child.dataType))
      TypeCheckResult.TypeCheckFailure(s"$prettyName supports ${input.names} input, got ${child.dataType.simpleString}")
    else TypeCheckResult.TypeCheckSuccess
  }

  /** Floating keys are encoded bit patterns; integral keys are the value. */
  @transient private lazy val floating: Boolean = child.dataType match {
    case FloatType | DoubleType | _: DecimalType => true
    case _                                       => false
  }

  override def createAggregationBuffer(): Counts = new Counts()

  override def update(buffer: Counts, input: InternalRow): Counts = {
    val v = child.eval(input)
    if (v != null) buffer.add(encode(v))
    buffer
  }

  private def encode(v: Any): Long = v match {
    case d: Double  => encodeDouble(d)
    case f: Float   => encodeDouble(f.toDouble)
    case d: Decimal => encodeDouble(d.toDouble)
    case l: Long    => l
    case i: Int     => i.toLong
    case s: Short   => s.toLong
    case b: Byte    => b.toLong
    case other      => throw new IllegalStateException(s"unsupported percentile input $other")
  }

  private def toDouble(key: Long): Double =
    if (floating) decodeDouble(key) else key.toDouble

  override def merge(buffer: Counts, other: Counts): Counts = buffer.merge(other)

  override def eval(buffer: Counts): Any = {
    buffer.settle()
    if (buffer.size == 0) null
    else if (discrete) {
      val r = discreteRank(buffer.total)
      discreteOutput(buffer.keys(buffer.indexOfRanks(r, r)._1))
    } else continuous(buffer)
  }

  /** Spark's `Percentile.getPercentile` arithmetic: the keys at the 0-based
    * ranks `floor` and `ceil` of `(n-1)*p`. */
  private def continuous(b: Counts): Double = {
    val position = (b.total - 1) * percentile
    val lower = position.floor.toLong
    val higher = position.ceil.toLong
    val (i, j) = b.indexOfRanks(lower, higher)
    val lo = toDouble(b.keys(i))
    val hi = toDouble(b.keys(j))
    // Spark compares the boxed keys: equal integral values (two longs above
    // 2^53 that round to one double still interpolate), or `==` on floating
    // values (so -0.0 equals 0.0)
    if (i == j || (floating && hi == lo)) lo
    else (higher - position) * lo + (position - lower) * hi
  }

  /** The reference's predicate `running / total >= p`, first hit wins, as a
    * rank: the smallest count `c` in `[1, n]` with `c / n >= p` (IEEE
    * division by a positive constant is monotone, so a binary search with
    * the same arithmetic finds it), minus one. */
  private def discreteRank(n: Long): Long = {
    var lo = 1L
    var hi = n
    while (lo < hi) {
      val c = (lo + hi) >>> 1
      if (c / n.toDouble >= percentile) hi = c else lo = c + 1
    }
    lo - 1
  }

  private def discreteOutput(key: Long): Any = child.dataType match {
    case IntegerType => key.toInt
    case LongType    => key
    case FloatType   => decodeDouble(key).toFloat
    case _           => decodeDouble(key)
  }

  override def serialize(buffer: Counts): Array[Byte] = buffer.toBytes

  override def deserialize(storageFormat: Array[Byte]): Counts = Counts.fromBytes(storageFormat)

  override def withNewMutableAggBufferOffset(newOffset: Int): ExactPercentileAgg =
    copy(mutableAggBufferOffset = newOffset)

  override def withNewInputAggBufferOffset(newOffset: Int): ExactPercentileAgg =
    copy(inputAggBufferOffset = newOffset)

  override protected def withNewChildInternal(newChild: Expression): ExactPercentileAgg =
    copy(child = newChild)

  override def prettyName: String = if (discrete) "discrete_percentile" else "exact_percentile"
}

object ExactPercentileAgg {

  /** Order-preserving encoding: the signed order of the result is
    * `java.lang.Double.compare` order. NaN is canonicalised, so every NaN is
    * one key. Negative doubles flip their magnitude bits. */
  def encodeDouble(d: Double): Long = {
    val bits = java.lang.Double.doubleToLongBits(d)
    if (bits < 0) bits ^ Long.MaxValue else bits
  }

  def decodeDouble(key: Long): Double =
    java.lang.Double.longBitsToDouble(if (key < 0) key ^ Long.MaxValue else key)

  /** Sorted distinct keys with a parallel count per key, plus the keys added
    * since the last [[settle]] in an unsorted pending array; `total` counts
    * both. Slots `[0, size)` of keys and counts are live; read them only
    * after `settle()`. */
  final class Counts(
      var keys: Array[Long] = new Array[Long](16),
      var counts: Array[Long] = new Array[Long](16),
      var size: Int = 0,
      var total: Long = 0L) {

    private var pending = new Array[Long](16)
    private var pendingSize = 0
    private[graft] def pendingCapacity: Int = pending.length

    /** One occurrence of `key`, appended unsorted. A full pending array is
      * settled, then grown to at least the table's size, so each settle sorts
      * at least as many keys as it shifts (O(log n) amortized per add) and
      * memory stays O(distinct). */
    def add(key: Long): Unit = {
      if (pendingSize == pending.length) {
        settle()
        if (pending.length < size) pending = new Array[Long](math.max(size, pending.length * 2))
      }
      pending(pendingSize) = key
      pendingSize += 1
      total += 1
    }

    /** The indexes of the keys at the 0-based ranks `lo <= hi < total`,
      * in one walk of the settled counts: the first index whose cumulative
      * count exceeds each rank. */
    def indexOfRanks(lo: Long, hi: Long): (Int, Int) = {
      var i = 0
      var running = counts(0)
      while (running <= lo) { i += 1; running += counts(i) }
      var j = i
      while (running <= hi) { j += 1; running += counts(j) }
      (i, j)
    }

    /** Sort the pending keys (`Arrays.sort` on the primitive array) and
      * merge them into the table. */
    def settle(): Unit = if (pendingSize > 0) {
      val np = pendingSize
      pendingSize = 0
      java.util.Arrays.sort(pending, 0, np)
      mergeSorted(pending, null, np)
    }

    /** Merge `other` into this table, in place. */
    def merge(other: Counts): Counts = {
      settle()
      other.settle()
      mergeSorted(other.keys, other.counts, other.size)
      total += other.total
      this
    }

    /** Merge the sorted keys `ks[0, n)` into the table: each counting 1 when
      * `cs` is null (runs of duplicates allowed), else distinct keys with
      * weights `cs(i)`. Count bumps for keys already present, then one merge
      * of the new keys from the back, in place, that stops once the last
      * new key is placed. Does not touch `total`. */
    private def mergeSorted(ks: Array[Long], cs: Array[Long], n: Int): Unit = {
      var fresh = 0
      var from = 0 // the last key's place: the next key's is not before it
      var j = 0
      while (j < n) {
        val k = ks(j)
        var r = j + 1
        while (r < n && ks(r) == k) r += 1
        var step = 1 // gallop, then binary search: O(n log(size / n)) in all
        while (from + step < size && keys(from + step - 1) < k) step *= 2
        val at = java.util.Arrays.binarySearch(keys, from, math.min(from + step, size), k)
        if (at >= 0) counts(at) += (if (cs == null) r - j else cs(j)) else fresh += 1
        from = if (at >= 0) at + 1 else -at - 1
        j = r
      }
      if (fresh > 0) {
        if (size + fresh > keys.length) {
          val cap = math.max(size + fresh, keys.length * 2)
          keys = java.util.Arrays.copyOf(keys, cap)
          counts = java.util.Arrays.copyOf(counts, cap)
        }
        // w - i = new keys still to place
        var i = size - 1
        var w = size + fresh - 1
        j = n - 1
        while (w > i) {
          val k = ks(j)
          var r = j - 1
          while (r >= 0 && ks(r) == k) r -= 1
          while (i >= 0 && keys(i) > k) {
            keys(w) = keys(i); counts(w) = counts(i); i -= 1; w -= 1
          }
          if (i < 0 || keys(i) != k) { keys(w) = k; counts(w) = if (cs == null) j - r else cs(j); w -= 1 }
          j = r
        }
        size += fresh
      }
    }

    /** `size` then `size` (key, count) pairs, big-endian. */
    def toBytes: Array[Byte] = {
      settle()
      val buf = ByteBuffer.allocate(4 + 16 * size)
      buf.putInt(size)
      var i = 0
      while (i < size) { buf.putLong(keys(i)).putLong(counts(i)); i += 1 }
      buf.array()
    }
  }

  object Counts {
    def fromBytes(bytes: Array[Byte]): Counts = {
      val buf = ByteBuffer.wrap(bytes)
      val n = buf.getInt()
      val keys = new Array[Long](math.max(n, 16))
      val counts = new Array[Long](math.max(n, 16))
      var total = 0L
      var i = 0
      while (i < n) {
        keys(i) = buf.getLong()
        counts(i) = buf.getLong()
        total += counts(i)
        i += 1
      }
      new Counts(keys, counts, n, total)
    }
  }
}
