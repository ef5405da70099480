package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Clustering keys for write-time data layout (north-star extension; no
  * reference counterpart).
  *
  * Parquet data skipping prunes row groups/files from per-column min/max
  * statistics, which only helps for columns the data is ordered by. A
  * plain sort clusters ONE column; interleaving the bits of two columns
  * into a Morton (Z-order) code and sorting by that clusters BOTH — every
  * file covers a small rectangle of the (x, y) key space, so selective
  * predicates on either column (or both) skip most files. This is the
  * same layout trick behind Delta/Iceberg Z-ORDER clustering, expressed
  * as plain codegen'd bit arithmetic. A writer clusters by a key with
  * `repartitionByRange(n, key).sortWithinPartitions(key)`.
  */
object Layout {

  /** Interleave the low 16 bits of `c` into the even bit positions of a
    * 32-bit result (the classic parallel bit-spread: each step doubles
    * the gap between occupied bit groups). */
  def spreadBits16(c: Column): Column = {
    val a = c.bitwiseAND(lit(0xffffL))
    val b = a.bitwiseOR(shiftleft(a, 8)).bitwiseAND(lit(0x00ff00ffL))
    val d = b.bitwiseOR(shiftleft(b, 4)).bitwiseAND(lit(0x0f0f0f0fL))
    val e = d.bitwiseOR(shiftleft(d, 2)).bitwiseAND(lit(0x33333333L))
    e.bitwiseOR(shiftleft(e, 1)).bitwiseAND(lit(0x55555555L))
  }

  /** 32-bit Morton (Z-order) code of two columns' low 16 bits: bits of
    * `x` land in even positions, bits of `y` in odd positions. Inputs are
    * masked to 16 bits, so callers with wider domains should pre-quantize
    * (e.g. rank or bucket the column) — Z-ordering only needs relative
    * order, not exact values. */
  def mortonCode(x: Column, y: Column): Column =
    spreadBits16(x).bitwiseOR(shiftleft(spreadBits16(y), 1))

  /** Hilbert-curve index of two columns' low `bits` bits — the
    * locality-preserving alternative to [[mortonCode]]: a Hilbert walk
    * never jumps across the key space (Z-order does at every quadrant
    * seam), so consecutive index ranges cover tighter rectangles and
    * min/max data skipping prunes better. Computed by the codegen'd
    * [[graft.plans.HilbertIndexExpr]] state machine (the bit-serial
    * rotate/flip walk is not expressible as fixed-depth Column algebra).
    * Same masking contract as Morton: pre-quantize wider domains. */
  def hilbertIndex(x: Column, y: Column, bits: Int = 16): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      graft.plans.HilbertIndexExpr(
        org.apache.spark.sql.GraftSqlBridge.expression(x.cast("long")),
        org.apache.spark.sql.GraftSqlBridge.expression(y.cast("long")),
        bits
      )
    )
}
