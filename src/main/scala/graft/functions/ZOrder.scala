package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.graftbridge.ColumnBridge

/** 64-bit Morton (Z-order) interleave of two integer keys — the
  * multi-column clustering primitive: sorting a table by `z(a, b)` before
  * writing makes Parquet row-group min/max ranges tight in BOTH columns,
  * so filters on either (or both) prune row groups, where a plain sort
  * clusters only its leading column.
  *
  * Keys live in the 32-bit domain: each input is CLAMPED to
  * [Int.MinValue, Int.MaxValue] before interleaving (a even positions, b
  * odd), so out-of-range longs saturate — ordering degrades monotonically
  * at the domain edge rather than wrapping (2^32 never aliases 0). Keys
  * are offset by Int.MinValue so negative values order correctly as
  * unsigned bit patterns.
  */
case class ZOrder64(left: Expression, right: Expression)
    extends IntegralPairExpression {

  override protected def prettyFn: String = "zorder64"
  override protected def compute(a: Long, b: Long): Long =
    ZOrder64.interleave(a, b)
  override protected def staticCall: String =
    "graft.functions.ZOrder64.interleave"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ZOrder64 =
    copy(left = newLeft, right = newRight)
}

object ZOrder64 {

  /** Spread the low 32 bits of v into the even bit positions of a long. */
  def spread(v0: Long): Long = {
    var v = v0 & 0xffffffffL
    v = (v | (v << 16)) & 0x0000ffff0000ffffL
    v = (v | (v << 8)) & 0x00ff00ff00ff00ffL
    v = (v | (v << 4)) & 0x0f0f0f0f0f0f0f0fL
    v = (v | (v << 2)) & 0x3333333333333333L
    v = (v | (v << 1)) & 0x5555555555555555L
    v
  }

  /** Clamp to the 32-bit key domain: out-of-range longs saturate at the
    * domain edge instead of wrapping (2^32 must not alias 0 — clustering
    * order degrades monotonically, never scrambles). */
  def clamp32(v: Long): Long =
    math.max(Int.MinValue.toLong, math.min(Int.MaxValue.toLong, v))

  /** Raw 64-bit Morton word (b's top bit lands in bit 63). */
  def rawInterleave(a: Long, b: Long): Long =
    spread(clamp32(a) - Int.MinValue) | (spread(clamp32(b) - Int.MinValue) << 1)

  /** Morton interleave with SIGNED-comparable output: inputs are offset so
    * negatives sort below positives, and the final sign-bit flip converts
    * the unsigned z-word into a signed long with the same order (without
    * it, b ≥ 0 rows — offset bit 31 → position 63 — would sort below
    * b < 0 rows under signed comparison). */
  def interleave(a: Long, b: Long): Long =
    rawInterleave(a, b) ^ java.lang.Long.MIN_VALUE

  def apply(a: Column, b: Column): Column =
    ColumnBridge.column(ZOrder64(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
}
