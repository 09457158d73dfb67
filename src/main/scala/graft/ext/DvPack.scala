package graft.ext

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types.{BinaryType, DataType, LongType}

/** Partial-mergeable accumulator for one file's deletion-vector
  * bitmap. Replaces the `sort_array(collect_list(pos))` → pack-UDF
  * gather in `TxTable.writeDvSidecar`, whose weakness was the
  * whole-file mass-delete edge: a predicate tombstoning most of a
  * 10M-row parquet file materialized an ~80 MB sorted long array per
  * file inside one aggregation buffer before compressing. Here the
  * buffer approaches the compressed form the whole time — partials
  * accumulate into min(8·count, span/8)-bounded state, merge by OR
  * at the exchange, and no full position array ever materializes.
  *
  * Representation: a LOOSE growable long buffer plus an optional
  * DENSE CORE (a bit array over a byte range of the position space).
  *   - Positions land in the core when covered, in the loose buffer
  *     otherwise.
  *   - The core is built — and later grown — only when it PAYS:
  *     span/8 of the covered range must not exceed the loose bytes it
  *     absorbs (so a 3-row point delete never allocates a bitmap, and
  *     a far outlier after a tight cluster costs 8 bytes of loose
  *     space, not a span-sized reallocation).
  *   - A mass delete flips dense once ~span/64 positions have
  *     arrived and is O(1) bit sets from then on: a 90%-tombstoned
  *     10M-row file peaks at ~2.5 MB of buffer (1.25 MB core +
  *     the pre-flip loose buffer), vs 80 MB for the long array.
  *   - [[DvAcc.packed]] re-decides the final container from the true
  *     count and span, so the emitted bytes are ALWAYS identical to
  *     [[DvBitmap.pack]] of the same position set.
  *
  * Inter-partition serialization IS the packed container (plus a
  * zero-length sentinel for "no positions"), so shuffle bytes equal
  * final sidecar bytes and a dense partial is adopted on the other
  * side by reference-copy, not position replay.
  *
  * Contract (same as `writeDvSidecar` documents): positions are
  * distinct by construction — a predicate scan yields each visible
  * row once; the changeset path vacates keys via one semi-join. A
  * violated contract cannot corrupt the bitmap (dense bits OR; the
  * sparse container's binary search tolerates equal neighbors) —
  * only its size estimate.
  */
final class DvAcc {
  /** loose positions: first `looseN` slots, unsorted. */
  private[ext] var loose: Array[Long] = new Array[Long](8)
  private[ext] var looseN: Int = 0
  /** dense core (null until a flip pays): payload bit b of byte i
    * covers position ((coreBase + i) << 3) | b. */
  private[ext] var core: Array[Byte] = null
  private[ext] var coreBase: Long = 0L
  private[ext] var count: Long = 0L
  private[ext] var minPos: Long = Long.MaxValue
  private[ext] var maxPos: Long = Long.MinValue

  def isEmpty: Boolean = count == 0L

  /** Bytes a dense payload over the CURRENT position span would take. */
  private def spanBytes: Long = (maxPos >>> 3) - (minPos >>> 3) + 1L

  private def coreCovers(p: Long): Boolean = {
    val b = p >>> 3
    core != null && b >= coreBase && b < coreBase + core.length
  }

  private def setBit(p: Long): Unit = {
    val idx = ((p >>> 3) - coreBase).toInt
    core(idx) = (core(idx) | (1 << (p & 7).toInt)).toByte
  }

  /** (Re)allocate the core to cover [minPos, maxPos] with SYMMETRIC
    * geometric slack and drain the loose buffer into it. Symmetric,
    * not top-only: a scan's positions ascend, but MERGE order after a
    * shuffle can deliver partials in descending position order, and
    * top-only slack made that shape reallocate (and copy the whole
    * core) every ≤64 loose adds — quadratic-ish (the r14 ADVICE
    * item). With slack on both sides, growth in either direction is
    * geometric. Callers have decided the flip pays. */
  private def rebuildCore(): Unit = {
    val loData = minPos >>> 3
    // the old core's slack may already extend past maxPos' byte (or
    // below minPos') — the new allocation must cover the union or the
    // copy-over overflows
    val hi = math.max(maxPos >>> 3,
      if (core == null) Long.MinValue else coreBase + core.length - 1L)
    val span = hi - loData + 1L
    val slack = math.max(64L, span >>> 2)
    val lo = math.min(math.max(0L, loData - slack),
      if (core == null) Long.MaxValue else coreBase)
    val len = hi + slack - lo + 1L
    DvAcc.requireFits(len, count)
    val grown = new Array[Byte](len.toInt)
    if (core != null)
      System.arraycopy(core, 0, grown, (coreBase - lo).toInt, core.length)
    core = grown
    coreBase = lo
    var i = 0
    while (i < looseN) { setBit(loose(i)); i += 1 }
    looseN = 0
    if (loose.length > 1024) loose = new Array[Long](8)
  }

  /** Place a position (bookkeeping already done): core if covered,
    * else loose — then flip/grow the core when it pays. "Pays" =
    * the dense payload over the FULL current span costs no more than
    * the loose bytes it absorbs (8·looseN), so buffer memory stays
    * within ~2× of min(8·count, span/8), the optimum between the two
    * container encodings. */
  private def place(p: Long): Unit = {
    if (coreCovers(p)) { setBit(p); return }
    if (looseN == loose.length) {
      val grown = new Array[Long](loose.length << 1)
      System.arraycopy(loose, 0, grown, 0, looseN)
      loose = grown
    }
    loose(looseN) = p
    looseN += 1
    // flip floor of 64: a handful of positions never owns a core, so
    // tiny partials stay a few loose longs and two partials' cores
    // can only meet when both are genuinely clustered
    val currentCoreBytes = if (core == null) 0L else core.length.toLong
    if (looseN >= 64 && 8L * looseN >= spanBytes - currentCoreBytes)
      rebuildCore()
  }

  def add(p: Long): Unit = {
    require(p >= 0, s"deletion-vector position must be non-negative: $p")
    count += 1
    if (p < minPos) minPos = p
    if (p > maxPos) maxPos = p
    place(p)
  }

  /** Merge `other` into this (OR). A dense core merges by byte-OR
    * over the union span (bounded by the file's span/8 — the size
    * the final dense container would be anyway); a loose side
    * replays its entries, which are ≤ the sparse encoding it would
    * have shipped. */
  def mergeFrom(other: DvAcc): Unit = {
    if (other.isEmpty) return
    if (isEmpty && other.core != null && other.looseN == 0) {
      // adopt the dense container wholesale (merge into a fresh buffer
      // — the post-shuffle path): no replay, no realloc. Clone: the
      // donor buffer may be reused by the caller.
      core = other.core.clone()
      coreBase = other.coreBase
      count = other.count
      minPos = other.minPos
      maxPos = other.maxPos
      return
    }
    count += other.count
    if (other.minPos < minPos) minPos = other.minPos
    if (other.maxPos > maxPos) maxPos = other.maxPos
    if (other.core != null) {
      val needGrow = core == null || other.coreBase < coreBase ||
        other.coreBase + other.core.length > coreBase + core.length
      val lo = if (core == null) other.coreBase
               else math.min(coreBase, other.coreBase)
      val hi = (if (core == null) other.coreBase + other.core.length
                else math.max(coreBase + core.length,
                  other.coreBase + other.core.length)) - 1L
      val unionLen = hi - lo + 1L
      val ownLen = (if (core == null) 0L else core.length.toLong) +
        other.core.length.toLong
      // union-grow only when it PAYS: two cores over the row ranges of
      // ONE file are (near-)adjacent bands, so the union is about the
      // sum — but two far-apart clusters would union to a span-sized
      // monster, so those DECANT the incoming core into positions
      // instead (bounded by its own sparse encoding: it only became a
      // core because it is locally dense, so this is the rare shape)
      if (needGrow && unionLen > math.max(4096L, 4L * ownLen)) {
        var i = 0
        while (i < other.core.length) {
          val b = other.core(i) & 0xff
          if (b != 0) {
            var bit = 0
            while (bit < 8) {
              if (((b >>> bit) & 1) == 1)
                place(((other.coreBase + i) << 3) | bit.toLong)
              bit += 1
            }
          }
          i += 1
        }
      } else {
        if (needGrow) {
          DvAcc.requireFits(unionLen, count)
          val grown = new Array[Byte](unionLen.toInt)
          if (core != null)
            System.arraycopy(core, 0, grown, (coreBase - lo).toInt, core.length)
          core = grown
          coreBase = lo
        }
        val off = (other.coreBase - coreBase).toInt
        var i = 0
        while (i < other.core.length) {
          if (other.core(i) != 0)
            core(off + i) = (core(off + i) | other.core(i)).toByte
          i += 1
        }
      }
    }
    var i = 0
    while (i < other.looseN) { place(other.loose(i)); i += 1 }
  }

  /** Core positions in ascending order (the core is a bitmap, so the
    * scan IS the sort). Only called when the SPARSE container wins,
    * i.e. when count is small relative to span. */
  private def corePositions(): Array[Long] = {
    val out = Array.newBuilder[Long]
    var i = 0
    while (i < core.length) {
      val b = core(i) & 0xff
      if (b != 0) {
        var bit = 0
        while (bit < 8) {
          if (((b >>> bit) & 1) == 1) out += ((coreBase + i) << 3) | bit.toLong
          bit += 1
        }
      }
      i += 1
    }
    out.result()
  }

  /** The final [[DvBitmap]] container — re-decided from the true
    * count/span so the emitted bytes match [[DvBitmap.pack]] of the
    * same position set exactly. */
  def packed(): Array[Byte] = {
    require(!isEmpty, "empty deletion vector")
    val loByte = minPos >>> 3
    val hiByte = maxPos >>> 3
    val denseLen = 9L + (hiByte - loByte + 1L)
    val sparseLen = 5L + 8L * count
    DvAcc.requireFits(math.min(denseLen, sparseLen), count)
    if (denseLen <= sparseLen) {
      val out = new Array[Byte](denseLen.toInt)
      out(0) = 0
      var i = 0
      while (i < 8) { out(1 + i) = ((loByte >>> (8 * i)) & 0xff).toByte; i += 1 }
      if (core != null) {
        // blit the core's occupied overlap with the trimmed range
        val srcFrom = math.max(0L, loByte - coreBase).toInt
        val srcTo = math.min(core.length.toLong, hiByte - coreBase + 1L).toInt
        if (srcTo > srcFrom)
          System.arraycopy(core, srcFrom, out, (coreBase + srcFrom - loByte + 9L).toInt,
            srcTo - srcFrom)
      }
      var j = 0
      while (j < looseN) {
        val p = loose(j)
        val idx = (9L + (p >>> 3) - loByte).toInt
        out(idx) = (out(idx) | (1 << (p & 7).toInt)).toByte
        j += 1
      }
      out
    } else {
      // sparse wins ⇒ count is small; merge the (sorted) core scan
      // with the sorted loose buffer and emit the sparse container
      val fromCore = if (core == null) Array.emptyLongArray else corePositions()
      val fromLoose = java.util.Arrays.copyOf(loose, looseN)
      java.util.Arrays.sort(fromLoose)
      val all = new Array[Long](fromCore.length + fromLoose.length)
      var a = 0; var b = 0; var k = 0
      while (a < fromCore.length && b < fromLoose.length) {
        if (fromCore(a) <= fromLoose(b)) { all(k) = fromCore(a); a += 1 }
        else { all(k) = fromLoose(b); b += 1 }
        k += 1
      }
      while (a < fromCore.length) { all(k) = fromCore(a); a += 1; k += 1 }
      while (b < fromLoose.length) { all(k) = fromLoose(b); b += 1; k += 1 }
      DvBitmap.pack(all)
    }
  }
}

object DvAcc {
  private[ext] def requireFits(byteLen: Long, count: Long): Unit =
    require(byteLen <= Int.MaxValue - 16L,
      s"deletion vector too large for one container: $count tombstones " +
        "spanning a payload past 2^31 bytes in ONE file — a single " +
        "parquet file should never hold that many rows")

  /** Inverse of the wire format ([[DvAcc.packed]] bytes, or the empty
    * sentinel): adopts the container — no position replay for dense. */
  def from(bytes: Array[Byte]): DvAcc = {
    val acc = new DvAcc
    if (bytes.isEmpty) return acc
    bytes(0) match {
      case 0 =>
        var base = 0L
        var i = 7
        while (i >= 0) { base = (base << 8) | (bytes(1 + i) & 0xffL); i -= 1 }
        acc.coreBase = base
        acc.core = java.util.Arrays.copyOfRange(bytes, 9, bytes.length)
        // recover count/min/max with one payload scan (needed for the
        // final container pick and later merges' span math)
        var idx = 0
        while (idx < acc.core.length) {
          val b = acc.core(idx) & 0xff
          if (b != 0) {
            var bit = 0
            while (bit < 8) {
              if (((b >>> bit) & 1) == 1) {
                val p = ((base + idx) << 3) | bit.toLong
                acc.count += 1
                if (p < acc.minPos) acc.minPos = p
                if (p > acc.maxPos) acc.maxPos = p
              }
              bit += 1
            }
          }
          idx += 1
        }
      case 1 =>
        val ps = DvBitmap.positions(bytes)
        var i = 0
        while (i < ps.length) { acc.add(ps(i)); i += 1 }
      case t => sys.error(s"unknown deletion-vector container tag $t")
    }
    acc
  }
}

/** `dv_pack(pos)`: aggregate row positions into ONE packed
  * [[DvBitmap]] container — the partial-mergeable aggregate face of
  * [[DvBitmap.pack]]. Buffers live as [[DvAcc]] JVM objects
  * (TypedImperativeAggregate), serialize AS the packed container at
  * shuffle boundaries, and merge by OR — so the map side combines
  * before the exchange and no task ever materializes a full position
  * array. NULL positions are ignored; a group with no non-null
  * position evaluates to NULL. */
case class DvPack(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[DvAcc]
  with ImplicitCastInputTypes with UnaryLike[Expression] {

  override def prettyName: String = "dv_pack"
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def inputTypes = Seq(LongType)

  override def createAggregationBuffer(): DvAcc = new DvAcc

  override def update(buffer: DvAcc, input: InternalRow): DvAcc = {
    val v = child.eval(input)
    if (v != null) buffer.add(v.asInstanceOf[Long])
    buffer
  }

  override def merge(buffer: DvAcc, other: DvAcc): DvAcc = {
    buffer.mergeFrom(other)
    buffer
  }

  override def eval(buffer: DvAcc): Any =
    if (buffer.isEmpty) null else buffer.packed()

  override def serialize(buffer: DvAcc): Array[Byte] =
    if (buffer.isEmpty) Array.emptyByteArray else buffer.packed()

  override def deserialize(storageFormat: Array[Byte]): DvAcc =
    DvAcc.from(storageFormat)

  override def withNewMutableAggBufferOffset(newOffset: Int): DvPack =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): DvPack =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): DvPack =
    copy(child = newChild)
}

object DvPack {
  /** Column builder: `DvPack.agg(col("pos"))`. */
  def agg(pos: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      DvPack(org.apache.spark.sql.GraftColumnBridge.expression(pos))
        .toAggregateExpression())
}
