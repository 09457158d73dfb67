package graft.ext

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.types.{BooleanType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Deletion-vector bitmap codec: the tombstones of ONE data file,
  * packed into a single byte array (the sidecar stores one row per
  * FILE, not one row per tombstone — see `TxTable.writeDvSidecar`).
  * Mirrors the spirit of the lakehouse formats' RoaringBitmap DVs
  * (Delta's deletion vectors, Iceberg v3 position deletes) with two
  * deliberately simple containers, picked per file by encoded size:
  *
  *   - tag 0, DENSE:  `[0][baseByte: int64 LE][payload bytes]` —
  *     position p maps to payload bit `(p>>>3 − baseByte, p&7)`.
  *     Size ∝ position SPAN/8, the right shape for clustered deletes
  *     (a contiguous range of a file vanishing).
  *   - tag 1, SPARSE: `[1][count: int32 LE][count × int64 LE, sorted]`
  *     — membership by binary search. Size ∝ COUNT, the right shape
  *     for scattered point deletes across a wide file.
  *
  * Both probes are O(1)/O(log n) per row with zero allocation, called
  * statically from [[DvMapContains]]' generated code so the scan
  * filter stays inside whole-stage codegen. Positions are parquet
  * `row_index` values: non-negative, unique per file. */
object DvBitmap {
  private def readLongLE(b: Array[Byte], off: Int): Long = {
    var v = 0L; var i = 7
    while (i >= 0) { v = (v << 8) | (b(off + i) & 0xffL); i -= 1 }
    v
  }
  private def writeLongLE(b: Array[Byte], off: Int, v: Long): Unit = {
    var i = 0
    while (i < 8) { b(off + i) = ((v >>> (8 * i)) & 0xff).toByte; i += 1 }
  }
  private def readIntLE(b: Array[Byte], off: Int): Int = {
    var v = 0; var i = 3
    while (i >= 0) { v = (v << 8) | (b(off + i) & 0xff); i -= 1 }
    v
  }
  private def writeIntLE(b: Array[Byte], off: Int, v: Int): Unit = {
    var i = 0
    while (i < 4) { b(off + i) = ((v >>> (8 * i)) & 0xff).toByte; i += 1 }
  }

  /** Pack sorted, distinct, non-negative positions; picks the smaller
    * container. Never called on an empty set (a file with zero
    * tombstones gets no DvRef at all). */
  def pack(sorted: Array[Long]): Array[Byte] = {
    require(sorted.nonEmpty, "empty deletion vector")
    val baseByte = sorted(0) >>> 3
    val denseLen = 9L + ((sorted(sorted.length - 1) >>> 3) - baseByte + 1)
    val sparseLen = 5L + 8L * sorted.length
    // the chosen container must fit a JVM array — past ~268M sparse
    // tombstones (or a dense span whose BYTE length passes 2^31 while
    // still below sparseLen) the Int cast below would overflow to a
    // negative allocation size and surface as an opaque
    // NegativeArraySizeException; name the real bound instead
    require(math.min(denseLen, sparseLen) <= Int.MaxValue,
      s"deletion vector too large for one container: ${sorted.length} " +
        s"tombstones spanning positions ${sorted(0)}..${sorted(sorted.length - 1)} " +
        "in ONE file — a single parquet file should never hold that many rows")
    if (denseLen <= sparseLen) {
      val out = new Array[Byte](denseLen.toInt)
      out(0) = 0
      writeLongLE(out, 1, baseByte)
      var i = 0
      while (i < sorted.length) {
        val p = sorted(i)
        val idx = (9L + (p >>> 3) - baseByte).toInt
        out(idx) = (out(idx) | (1 << (p & 7).toInt)).toByte
        i += 1
      }
      out
    } else {
      val out = new Array[Byte](sparseLen.toInt)
      out(0) = 1
      writeIntLE(out, 1, sorted.length)
      var i = 0
      while (i < sorted.length) { writeLongLE(out, 5 + 8 * i, sorted(i)); i += 1 }
      out
    }
  }

  /** [[DvMapContains]]' per-row kernel: look the row's FILE up in the
    * broadcast per-file map, probe its container. A file with no
    * deletion vector is simply absent — nothing tombstoned. Keys are
    * [[UTF8String]] so the row's path column probes the map with zero
    * conversion (content-based hash/equals, no per-row String
    * allocation). */
  def mapContains(
      m: scala.collection.immutable.Map[UTF8String, Array[Byte]],
      file: UTF8String, pos: Long): Boolean = {
    val b = m.getOrElse(file, null)
    b != null && contains(b, pos)
  }

  /** Membership probe, both containers. */
  def contains(b: Array[Byte], pos: Long): Boolean = b(0) match {
    case 0 =>
      val idx = (pos >>> 3) - readLongLE(b, 1)
      idx >= 0 && idx < b.length - 9 &&
        ((b((9 + idx).toInt) >>> (pos & 7).toInt) & 1) == 1
    case 1 =>
      var lo = 0; var hi = readIntLE(b, 1) - 1
      while (lo <= hi) {
        val mid = (lo + hi) >>> 1
        val v = readLongLE(b, 5 + 8 * mid)
        if (v == pos) return true
        else if (v < pos) lo = mid + 1
        else hi = mid - 1
      }
      false
    case t => sys.error(s"unknown deletion-vector container tag $t")
  }

  /** Decode back to sorted positions (specs, CDC debugging). */
  def positions(b: Array[Byte]): Array[Long] = b(0) match {
    case 0 =>
      val baseByte = readLongLE(b, 1)
      val out = Array.newBuilder[Long]
      var i = 9
      while (i < b.length) {
        var bit = 0
        while (bit < 8) {
          if (((b(i) >>> bit) & 1) == 1)
            out += ((baseByte + i - 9) << 3) | bit.toLong
          bit += 1
        }
        i += 1
      }
      out.result()
    case 1 =>
      val n = readIntLE(b, 1)
      Array.tabulate(n)(i => readLongLE(b, 5 + 8 * i))
    case t => sys.error(s"unknown deletion-vector container tag $t")
  }
}

/** `dv_map_contains(file, pos)`: the deletion-vector scan filter.
  *
  * Probes a driver-folded, BROADCAST map of one container per file
  * (`TxTable.dvMap`) with the row's file-path string (a zero-copy
  * UTF8String view) and position: no join node and no per-row copy of
  * the bitmap bytes, so the cost is linear in rows at any bitmap size.
  * (A joined BINARY column is copied out of every row by
  * `UnsafeRow.getBinary`: a 375 KB dense container over a 3 M-row
  * file cost ~1 TB of memcpy in one task.)
  *
  * The broadcast handle rides the expression (tiny, serializable);
  * the generated code pulls `.value()` per row — a cached-field read
  * on TorrentBroadcast, not a fetch. toString hides the payload so
  * plan strings and their snapshots stay stable. */
case class DvMapContains(
    left: Expression, right: Expression,
    dvs: org.apache.spark.broadcast.Broadcast[
      scala.collection.immutable.Map[UTF8String, Array[Byte]]],
    nFiles: Int)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def dataType: DataType = BooleanType
  override def prettyName: String = "dv_map_contains"
  override def inputTypes = Seq(StringType, LongType)

  override def nullSafeEval(file: Any, pos: Any): Any =
    DvBitmap.mapContains(dvs.value,
      file.asInstanceOf[UTF8String], pos.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("dvMaps", dvs,
      "org.apache.spark.broadcast.Broadcast")
    defineCodeGen(ctx, ev, (f, p) =>
      s"graft.ext.DvBitmap.mapContains(" +
        s"(scala.collection.immutable.Map) $ref.value(), $f, $p)")
  }

  // keep plan strings payload-free (and snapshot-stable): the map is
  // filter STATE, not plan structure
  override def toString: String =
    s"dv_map_contains($left, $right, files=$nFiles)"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DvMapContains =
    copy(left = newLeft, right = newRight)
}

object DvMapContains {
  def apply(file: Column, pos: Column,
      dvs: org.apache.spark.broadcast.Broadcast[
        scala.collection.immutable.Map[UTF8String, Array[Byte]]],
      nFiles: Int): Column =
    org.apache.spark.sql.GraftColumnBridge.column(DvMapContains(
      org.apache.spark.sql.GraftColumnBridge.expression(file),
      org.apache.spark.sql.GraftColumnBridge.expression(pos),
      dvs, nFiles))
}
