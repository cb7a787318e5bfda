package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Fraction of a 64-bit-hash array whose PIGEONHOLE BLOCKS hit a
  * reference catalog — the per-row kernel of the streaming
  * trim-tolerant media gates
  * ([[graft.operators.Multimodal.blockBitmaps]] builds the
  * catalog; `StreamingOps.dropSetOverlapNearDups` applies it).
  *
  * The catalog is FOUR 65,536-bit bitmaps (one per 16-bit block
  * band), 32 KB total — bounded by the block SPACE, never the
  * catalog's media count: the same hard bound that lets
  * [[graft.operators.Multimodal.imageBlockTable]] always broadcast,
  * compressed from a ≤262,144-row join side into constructor state
  * probed at O(1) per band. A hash "matches" iff ANY of its four
  * blocks is set in its band's bitmap — pigeonhole-complete for
  * Hamming ≤3 per unit (frame / segment), the high-recall gate
  * semantics every block gate in this library shares.
  *
  * Array-probe rationale (the map-literal lesson,
  * [[BackoffLmScore]]): a `typedLit` map probes LINEARLY per
  * element; these bitmaps are plain JVM Long arrays on the
  * expression — two loads and a shift per band.
  *
  * Returns DOUBLE matched/|hashes| ∈ [0,1]; −1.0 for an EMPTY array
  * (the payload DECODED but was too short to fingerprint — it
  * testified and matched nothing, so gates keep it below any
  * positive threshold); NULL only for a NULL array (undecodable —
  * no testimony at all). The distinction lets one column reference
  * drive both the drop decision and the 'undecodable' reason in the
  * streaming curation verdicts. */
case class BlockBitmapMatchFrac(
    child: Expression, bitmaps: Array[Array[Long]])
  extends UnaryExpression with CodegenFallback {

  require(bitmaps.length == 4 && bitmaps.forall(_.length == 1024),
    "bitmaps must be 4 bands x 1024 longs (65,536 bits per band)")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<bigint> hashes, got $t")
  }

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_block_bitmap_match_frac"

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n == 0) return -1.0
    var matched = 0
    var i = 0
    while (i < n) {
      // a null element (producers here never emit one) counts in the
      // denominator and never matches — conservative keep semantics
      if (!arr.isNullAt(i)) {
        val h = arr.getLong(i)
        var hit = false
        var b = 0
        while (b < 4 && !hit) {
          val bv = ((h >>> (48 - 16 * b)) & 0xFFFFL).toInt
          hit = (bitmaps(b)(bv >>> 6) & (1L << (bv & 63))) != 0
          b += 1
        }
        if (hit) matched += 1
      }
      i += 1
    }
    matched.toDouble / n
  }

  override protected def withNewChildInternal(newChild: Expression): BlockBitmapMatchFrac =
    copy(child = newChild)
}
