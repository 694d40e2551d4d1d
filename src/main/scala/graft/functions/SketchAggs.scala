package graft.functions

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** KMV distinct-count sketch state: the k SMALLEST DISTINCT values of a
  * long column (Bar-Yossef et al. 2002, "Counting distinct elements in a
  * data stream" — the k-minimum-values estimator; public algorithm).
  *
  * Why an aggregate and not `slice(array_sort(collect_set(h)), 1, k)`:
  * collect_set buffers EVERY distinct value in one partial — cardinality-
  * sized state that OOMs exactly when a distinct-count sketch is needed.
  * This buffer is k longs, map-side partials ship k longs, and merge is
  * union→k-smallest — associative, commutative and DUPLICATE-IDEMPOTENT,
  * so the merged sketch over partitioned data equals the sketch of the
  * concatenated stream no matter how Spark orders or re-runs partials.
  * That set-algebra identity (k-min of a distinct-union = k-min of the
  * union of k-mins) is what makes KMV the canonical mergeable distinct
  * sketch: per-group sketches roll up to any coarser grouping without
  * rescanning rows (the 100 TB cube path), unlike an exact
  * countDistinct, whose Expand+reshuffle must re-read the fact table.
  *
  * The result — ascending array of min(k, |distinct|) longs — is a pure
  * function of the input VALUE SET, hence deterministic and exactly
  * replayable by any engine (the DuckDB oracle recomputes it from the
  * same hash preimages).
  *
  * Returns array<bigint>, ascending. Estimation from the sketch (kth-min
  * scaling) is left to plain SQL over the returned array, so the
  * estimator arithmetic is visible in the query and in its oracle. */
case class KMinDistinctLongs(child: Expression, k: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[KMinBuffer] {
  require(k > 0 && k <= 4096, s"k must be in [1, 4096], got $k")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def createAggregationBuffer(): KMinBuffer = new KMinBuffer(k)

  override def update(buf: KMinBuffer, input: InternalRow): KMinBuffer = {
    val v = child.eval(input)
    if (v != null) buf.insert(v.asInstanceOf[Long])
    buf
  }

  override def merge(a: KMinBuffer, b: KMinBuffer): KMinBuffer = {
    b.foreach(a.insert)
    a
  }

  override def eval(buf: KMinBuffer): Any = new GenericArrayData(buf.sorted)

  override def serialize(buf: KMinBuffer): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + 8 * buf.size)
    bb.putInt(buf.size)
    buf.foreach(v => { bb.putLong(v); () })
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): KMinBuffer = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt()
    val buf = new KMinBuffer(k)
    var i = 0
    while (i < n) { buf.insert(bb.getLong()); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): KMinDistinctLongs =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KMinDistinctLongs =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): KMinDistinctLongs =
    copy(child = newChildren.head)
}

/** [[KMinDistinctLongs]]' state: at most k distinct longs, unordered, in
  * a primitive array, with the index of the largest held value cached.
  * Once the buffer is full, a value at or above that maximum — almost
  * every value of a long stream — is rejected in O(1). A value below it
  * pays an O(k) membership scan and, when it is new, replaces the
  * maximum and a rescan finds the next one. k is small by contract
  * (≤ 4096); past that a different sketch (HLL) is the right tool. */
final class KMinBuffer(val k: Int) {
  private val vals = new Array[Long](k)
  private var n = 0
  private var maxIdx = 0

  def size: Int = n

  def foreach(f: Long => Unit): Unit = {
    var i = 0
    while (i < n) { f(vals(i)); i += 1 }
  }

  /** The held values, ascending. */
  def sorted: Array[Long] = {
    val out = java.util.Arrays.copyOf(vals, n)
    java.util.Arrays.sort(out)
    out
  }

  def insert(v: Long): Unit =
    if (n < k || v < vals(maxIdx)) {
      var i = 0
      while (i < n) {
        if (vals(i) == v) return // distinctness: already tracked
        i += 1
      }
      if (n < k) {
        if (n == 0 || v > vals(maxIdx)) maxIdx = n
        vals(n) = v
        n += 1
      } else {
        vals(maxIdx) = v
        i = 1
        var m = 0
        while (i < k) { if (vals(i) > vals(m)) m = i; i += 1 }
        maxIdx = m
      }
    }
}

/** Misra–Gries heavy-hitter summary over a string column (Misra & Gries
  * 1982 "Finding repeated elements"; merge rule from Agarwal et al.
  * PODS'12 "Mergeable summaries" — public algorithms). At most `m`
  * tracked (item, count) entries per partial, with the classic
  * frequency guarantees under ANY merge tree over any partitioning:
  *
  *   - UNDERestimate only: est(x) ≤ f(x);
  *   - bounded residual:   f(x) − est(x) ≤ n / (m+1)  (n = stream size);
  *   - total capture: every x with f(x) > n/(m+1) is in the summary.
  *
  * Update is the textbook counter scheme (hit → +1; room → insert; else
  * decrement ALL and drop zeros — each decrement retires m+1 stream
  * elements at once, which is where the n/(m+1) bound comes from).
  * Merge sums counts pointwise, then restores the size bound by
  * subtracting the (m+1)-th largest combined count from everything and
  * dropping non-positives (PODS'12 Lemma 1: the residual bounds ADD, so
  * the merged summary keeps f(x) − est(x) ≤ (n_a + n_b)/(m+1)).
  *
  * The surviving ENTRY SET can differ between merge orders (only the
  * guarantees are order-invariant), so a deterministic query must reduce
  * the summary to guarantee-derived facts — e.g. "every exact-heavy item
  * is captured within bound", the q55/q214 tolerance-boolean pattern —
  * rather than hash the raw summary. Both engine and oracle then agree
  * by THEOREM, not by accident of scheduling.
  *
  * Scale shape: partials are m entries regardless of input size or key
  * skew — the exact groupBy(word).count this replaces is
  * vocabulary-sized per partition and shuffles the whole vocabulary;
  * this ships m entries per partition and never shuffles the corpus.
  *
  * Returns array<struct<item:string, est:bigint>>, (est DESC, item ASC).
  */
case class MisraGriesStrings(child: Expression, m: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[mutable.HashMap[String, Long]] {
  require(m >= 1 && m <= 4096, s"m must be in [1, 4096], got $m")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("item", StringType, nullable = false),
      StructField("est", LongType, nullable = false))),
    containsNull = false)

  override def createAggregationBuffer(): mutable.HashMap[String, Long] =
    mutable.HashMap.empty

  override def update(buf: mutable.HashMap[String, Long],
                      input: InternalRow): mutable.HashMap[String, Long] = {
    val v = child.eval(input)
    if (v != null) {
      val s = v.asInstanceOf[UTF8String].toString
      buf.get(s) match {
        case Some(c) => buf.update(s, c + 1)
        case None if buf.size < m => buf.update(s, 1L)
        case None => // decrement-all; zeros drop out
          val dead = buf.iterator.filter(_._2 == 1L).map(_._1).toList
          buf.mapValuesInPlace((_, c) => c - 1)
          dead.foreach(buf.remove)
      }
    }
    buf
  }

  override def merge(a: mutable.HashMap[String, Long],
                     b: mutable.HashMap[String, Long]): mutable.HashMap[String, Long] = {
    b.foreach { case (s, c) => a.update(s, a.getOrElse(s, 0L) + c) }
    if (a.size > m) {
      // (m+1)-th largest count; subtracting it keeps ≤ m entries and
      // adds ≤ that much residual to every survivor (PODS'12)
      val counts = a.values.toArray.sorted(Ordering[Long].reverse)
      val cut = counts(m)
      val dead = a.iterator.filter(_._2 <= cut).map(_._1).toList
      a.mapValuesInPlace((_, c) => c - cut)
      dead.foreach(a.remove)
    }
    a
  }

  override def eval(buf: mutable.HashMap[String, Long]): Any = {
    val rows = buf.toArray.sortBy { case (s, c) => (-c, s) }.map { case (s, c) =>
      new GenericInternalRow(Array[Any](UTF8String.fromString(s), c))
    }
    new GenericArrayData(rows.asInstanceOf[Array[Any]])
  }

  override def serialize(buf: mutable.HashMap[String, Long]): Array[Byte] = {
    val entries = buf.toArray
    val bytes = entries.map { case (s, _) => s.getBytes("UTF-8") }
    val size = 4 + bytes.map(12 + _.length).sum
    val bb = java.nio.ByteBuffer.allocate(size)
    bb.putInt(entries.length)
    entries.indices.foreach { i =>
      bb.putInt(bytes(i).length)
      bb.put(bytes(i))
      bb.putLong(entries(i)._2)
    }
    bb.array()
  }

  override def deserialize(bytesIn: Array[Byte]): mutable.HashMap[String, Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytesIn)
    val n = bb.getInt()
    val buf = mutable.HashMap.empty[String, Long]
    var i = 0
    while (i < n) {
      val len = bb.getInt()
      val arr = new Array[Byte](len)
      bb.get(arr)
      buf.update(new String(arr, "UTF-8"), bb.getLong())
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): MisraGriesStrings =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MisraGriesStrings =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): MisraGriesStrings =
    copy(child = newChildren.head)
}

/** Count-min sketch over a long column (Cormode & Muthukrishnan 2005,
  * "An improved data stream summary: the count-min sketch and its
  * applications" — public algorithm). depth×width counters; row d
  * hashes v to ((a_d·(v mod P) + b_d) mod P) mod width with
  * P = 2³¹ − 1 (the classic Carter–Wegman pairwise-independent family,
  * parameters derived deterministically from the seed by
  * [[CountMinLongs.hashParams]]).
  *
  * Why repo-native instead of Spark's `count_min_sketch`: Spark returns
  * an opaque binary with NO point-query expression, forcing the probe
  * through a per-row Scala closure over a broadcast sketch (the old q68
  * shape — the last closure UDF in this tree). This aggregate returns
  * the counter matrix as a flat `array<bigint>` (depth-major), so the
  * point estimate is plain SQL — `least(element_at(...))` over the same
  * hash arithmetic, codegen'd end to end — and a DuckDB oracle can
  * replay the ENTIRE sketch cell by cell (each cell is a pure function
  * of the input multiset: count of rows hashing there).
  *
  * Scale shape: partials are depth·width longs regardless of input size
  * or skew; merge is elementwise addition (associative + commutative),
  * so map-side combine ships one small matrix per partition — never the
  * row stream. Estimates NEVER under-count (every occurrence increments
  * every row's cell) and over-count by ≤ e·N/width with prob 1 − e^−depth.
  */
case class CountMinLongs(child: Expression, depth: Int, width: Int, seed: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Long]] {
  require(depth > 0 && depth <= 16, s"depth must be in [1, 16], got $depth")
  require(width > 0 && width <= (1 << 20),
    s"width must be in [1, 2^20], got $width")

  private val params = CountMinLongs.hashParams(seed, depth)

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def createAggregationBuffer(): Array[Long] =
    new Array[Long](depth * width)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val x = v.asInstanceOf[Long]
      var d = 0
      while (d < depth) {
        val (a, b) = params(d)
        buf(d * width + CountMinLongs.bucket(x, a, b, width)) += 1
        d += 1
      }
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < a.length) { a(i) += b(i); i += 1 }
    a
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 * buf.length)
    buf.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val buf = new Array[Long](bytes.length / 8)
    var i = 0
    while (i < buf.length) { buf(i) = bb.getLong(); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): CountMinLongs =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CountMinLongs =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): CountMinLongs =
    copy(child = newChildren.head)
}

object CountMinLongs {
  /** 2³¹ − 1, Mersenne prime: a_d·(v mod P) + b_d stays < 2⁶² — no int64
    * overflow on either engine, so the SQL replay is exact. */
  val P: Long = 2147483647L

  /** Deterministic per-row hash parameters (a_d ∈ [1, P−1], b_d ∈ [0, P−1])
    * from a splitmix64-style scramble of (seed, d). Public so probes and
    * oracles can inline the SAME literals the aggregate hashes with. */
  def hashParams(seed: Int, depth: Int): IndexedSeq[(Long, Long)] =
    (0 until depth).map { d =>
      val a = java.lang.Math.floorMod(scramble(seed.toLong * 31 + d), P - 1) + 1
      val b = java.lang.Math.floorMod(scramble(seed.toLong * 131 + d + 1000), P)
      (a, b)
    }

  private def scramble(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** The row-d bucket of value v — the exact arithmetic the SQL replay
    * mirrors: ((a·(v mod P) + b) mod P) mod width, all floor-mod. */
  def bucket(v: Long, a: Long, b: Long, width: Int): Int =
    (java.lang.Math.floorMod(
      a * java.lang.Math.floorMod(v, P) + b, P) % width).toInt
}
