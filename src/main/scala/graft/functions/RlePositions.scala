package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, LongType}

/** vt27/vt32: run-length + varint-delta codec for DELETION-VECTOR position
  * sets — the compressed sidecar format (Delta ships roaring bitmaps for the
  * same reason; RLE-of-runs is the equivalent published idea in its densest
  * regime and strictly smaller than 8-byte longs in every regime).
  *
  * A victim set is a sorted set of parquet row positions. On disk it becomes
  * one BINARY blob: a format byte (1), then for each maximal run of
  * consecutive positions two LEB128 varints — the GAP from the end of the
  * previous run (first run: the absolute start) and the run LENGTH. Dense
  * regimes (a contiguous delete of k rows) cost ~4 bytes total instead of
  * 8k; sparse regimes cost ~2 bytes per victim instead of 8. The decoder is
  * the exact inverse and both live here so the interpreted and generated
  * paths share one implementation.
  *
  * Encoding/decoding happens EXECUTOR-SIDE: the write verbs aggregate victim
  * positions per file and encode inside the commit job; every read decodes
  * in the task that scans the file (`Versioned.victimPositions`). The
  * driver never materializes a position.
  */
object RlePositions {

  /** Current sidecar blob format byte. */
  val FormatByte: Byte = 1

  /** Encode a SORTED, DISTINCT ascending position array (throws on
    * violations — recorded vectors must be auditable, so garbage in is a
    * bug, not data).
    */
  def encode(arr: ArrayData): Array[Byte] = {
    val n = arr.numElements()
    val out = new java.io.ByteArrayOutputStream(1 + 2 * n)
    out.write(FormatByte)
    var i = 0
    var next = 0L // the position immediately after the previous run
    while (i < n) {
      val start = arr.getLong(i)
      if (start < next) throw new IllegalArgumentException(
        s"rle_encode_positions needs sorted distinct non-negative positions, " +
          s"got $start after ${next - 1}")
      var end = start
      i += 1
      while (i < n && arr.getLong(i) == end + 1) { end += 1; i += 1 }
      writeVarint(out, start - next)
      writeVarint(out, end - start + 1)
      next = end + 1
    }
    out.toByteArray
  }

  /** Decode a blob back to the sorted ascending position array. */
  def decodeLongs(bytes: Array[Byte]): Array[Long] = {
    require(bytes.length >= 1 && bytes(0) == FormatByte,
      s"unknown deletion-vector blob format ${if (bytes.isEmpty) "<empty>" else bytes(0)}")
    val buf = Array.newBuilder[Long]
    var at = 1
    var next = 0L
    while (at < bytes.length) {
      val (gap, a1) = readVarint(bytes, at)
      val (len, a2) = readVarint(bytes, a1)
      val start = next + gap
      var p = start
      while (p < start + len) { buf += p; p += 1 }
      next = start + len
      at = a2
    }
    buf.result()
  }

  private def writeVarint(out: java.io.ByteArrayOutputStream, v0: Long): Unit = {
    var v = v0
    while ((v & ~0x7fL) != 0L) { out.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
    out.write(v.toInt)
  }

  private def readVarint(bytes: Array[Byte], at0: Int): (Long, Int) = {
    var v = 0L; var shift = 0; var at = at0
    while ({
      val b = bytes(at); at += 1
      v |= (b & 0x7fL) << shift; shift += 7
      (b & 0x80) != 0
    }) ()
    (v, at)
  }
}

/** `array<long>` (sorted distinct) → compressed `binary` blob. */
case class RleEncodePositions(child: Expression) extends UnaryExpression {
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"rle_encode_positions expects array<bigint>, got $t")
  }

  override protected def nullSafeEval(input: Any): Any =
    RlePositions.encode(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.RlePositions.encode($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "rle_encode_positions"
}
