package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Morton (Z-order) keys for multi-dimensional lake layout (Morton 1966;
  * the interleave kernel is the standard magic-mask bit spread).
  *
  * Why it exists: a lake sorted on ONE column gives parquet row-group
  * min/max skipping on that column only — a 100 TB table queried by both
  * user and time ranges full-scans for whichever predicate it is not
  * sorted by. Sorting by the interleaved key clusters BOTH dimensions at
  * once (each 2^s × 2^s tile of the (a,b) grid is a contiguous z-range),
  * so range predicates on either dimension skip all but ~√selectivity of
  * the row groups (100M rows: SCALING.md, "lake layout — single-column
  * sort vs Z-order"); the write is
  * `repartitionByRange(z).sortWithinPartitions(z)` — plain Spark, no
  * custom committer.
  *
  * Built entirely from bitwise Column expressions, so the key stays
  * inside whole-stage codegen — no UDF in the layout-write path.
  */
object ZOrder {

  private val spreadSteps = Seq(
    16 -> 0x0000ffff0000ffffL,
    8 -> 0x00ff00ff00ff00ffL,
    4 -> 0x0f0f0f0f0f0f0f0fL,
    2 -> 0x3333333333333333L,
    1 -> 0x5555555555555555L)

  /** Spread the low 31 bits of `c` over the even bit positions (0,2,4…).
    * 31, not 32: bit 31 of the odd-bits dimension would land on z bit 63
    * — the LONG SIGN BIT — and a signed range-sort on the key would then
    * order every point with that bit set BEFORE the rest, splitting
    * every tile straddling the dimension midpoint. Capping the grid at
    * 31 bits/dimension keeps the key non-negative, so signed ordering ==
    * z-curve ordering always. */
  def spread(c: Column): Column =
    spreadSteps.foldLeft(c.bitwiseAND(lit(0x7fffffffL))) {
      case (x, (s, m)) => x.bitwiseOR(shiftleft(x, s)).bitwiseAND(lit(m))
    }

  /** Z-order key of two dimensions (each capped to a 31-bit grid — see
    * [[spread]]): `a` takes the even bits, `b` the odd bits. Callers
    * MUST normalize both dimensions onto the SAME bit width first (e.g.
    * `(x * 65536) DIV range` for a 16-bit grid): with unequal widths the
    * wider dimension's high bits own the top z bits and the "z" sort
    * degenerates into a plain sort on that dimension — the pruning audit
    * in SCALING.md's lake-layout section records exactly this failure.
    */
  def key(a: Column, b: Column): Column =
    spread(a).bitwiseOR(shiftleft(spread(b), 1))

  /** Driver-side reference twin (bit loop) for the spec. */
  def keyRef(a: Long, b: Long): Long = {
    var z = 0L
    var i = 0
    while (i < 31) {
      z |= ((a >>> i) & 1L) << (2 * i)
      z |= ((b >>> i) & 1L) << (2 * i + 1)
      i += 1
    }
    z
  }
}
