package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.graftbridge.ColumnBridge

/** 64-bit Hilbert-curve index of two integer keys — the locality-tighter
  * sibling of [[ZOrder64]]: consecutive curve positions
  * are always ADJACENT cells (Morton order jumps across the plane at
  * quadrant boundaries), so range scans over a Hilbert-sorted layout
  * touch fewer row groups for the same 2-D selectivity.
  *
  * Same key contract as [[ZOrder64]]: 32-bit domain, out-of-range longs
  * saturate, inputs offset so negatives order below positives, output
  * sign-flipped to stay ordered under SIGNED long comparison. The curve
  * mapping is the classic bit-interleaved xy2d walk (public domain, e.g.
  * Hamilton, "Compact Hilbert Indices", or the Wikipedia form): descend
  * scales s = 2³¹ … 1, accumulate s²·((3·rx) ⊕ ry), rotate/flip the
  * frame. Aligned 2ᵏ×2ᵏ blocks occupy CONTIGUOUS index ranges of length
  * 4ᵏ — the property the layout spec asserts. */
case class Hilbert64(left: Expression, right: Expression)
    extends IntegralPairExpression {

  override protected def prettyFn: String = "hilbert64"
  override protected def compute(a: Long, b: Long): Long =
    Hilbert64.index(a, b)
  override protected def staticCall: String =
    "graft.functions.Hilbert64.index"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Hilbert64 =
    copy(left = newLeft, right = newRight)
}

object Hilbert64 {

  private val N1 = 0xffffffffL // n - 1 for the 2^32 grid

  /** Raw unsigned Hilbert position on the 2³²×2³² grid (wraps through
    * Long's two's complement for the top scale — the value is the
    * correct unsigned curve position bit pattern). */
  def rawIndex(a: Long, b: Long): Long = {
    var x = ZOrder64.clamp32(a) - Int.MinValue
    var y = ZOrder64.clamp32(b) - Int.MinValue
    var d = 0L
    var s = 1L << 31
    while (s > 0) {
      val rx = if ((x & s) > 0) 1L else 0L
      val ry = if ((y & s) > 0) 1L else 0L
      d += s * s * ((3 * rx) ^ ry)
      // rotate the frame
      if (ry == 0) {
        if (rx == 1) {
          x = N1 - x
          y = N1 - y
        }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }

  /** Signed-comparable curve index (same sign-flip convention as
    * [[ZOrder64.interleave]]). */
  def index(a: Long, b: Long): Long =
    rawIndex(a, b) ^ java.lang.Long.MIN_VALUE

  def apply(a: Column, b: Column): Column =
    ColumnBridge.column(Hilbert64(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
}
