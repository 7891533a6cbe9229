package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Morton (Z-order) curve as native column expressions.
  *
  * Multi-dimensional clustering is the data-skipping lever a 100 TB
  * event store cannot do without: a table laid out in Z-value order
  * keeps rows that are close in BOTH dimensions close on disk, so
  * every file/row-group covers a small rectangle of the
  * (user, time) plane and parquet min/max stats prune a 2-D box
  * predicate down to the few row groups that intersect it. A layout
  * sorted on one column alone prunes only that column's predicates —
  * the other dimension's values spread over every file and its
  * min/max stats are useless. (The OPTIMIZE ZORDER feature of the
  * lakehouse engines; Morton 1966.)
  *
  * Everything here is plain `shiftleft`/`&`/`|` column arithmetic:
  * whole-stage-codegen'd, no UDF, usable inside any projection. The
  * reference has no layout surface at all (its task_partitioner
  * splits by row-group ranges, /root/reference/src/server/driver/
  * task_partitioner.cpp:59-96); this is the Spark-first extension of
  * that idea from split boundaries to physical row order.
  */
object Morton {

  /** Spread the low 16 bits of `c` so bit i lands at position 2i
    * (the classic magic-number doubling scheme, 64-bit lanes). */
  private def spread16(c: Column): Column = {
    val x0 = c.bitwiseAND(lit(0xFFFFL))
    val x1 = x0.bitwiseOR(shiftleft(x0, 8)).bitwiseAND(lit(0x00FF00FFL))
    val x2 = x1.bitwiseOR(shiftleft(x1, 4)).bitwiseAND(lit(0x0F0F0F0FL))
    val x3 = x2.bitwiseOR(shiftleft(x2, 2)).bitwiseAND(lit(0x33333333L))
    x3.bitwiseOR(shiftleft(x3, 1)).bitwiseAND(lit(0x55555555L))
  }

  /** Interleave two 16-bit values into a 32-bit Z-value (x gets the
    * even bits, y the odd). Inputs must already be 0..65535 ranks —
    * see [[rank16]]. */
  def zValue(x: Column, y: Column): Column =
    spread16(x).bitwiseOR(shiftleft(spread16(y), 1))

  /** Rank bit-width for a k-dimensional interleave: 16 bits per
    * dimension while the z value fits a non-negative long, narrower
    * grids beyond (k=4 → 15 bits, k=8 → 7). Coarser ranks only bound
    * clustering granularity — pruning reads the RAW column stats. */
  def bitsFor(k: Int): Int = math.min(16, 63 / k)

  /** Interleave k `bits`-bit ranks into a k·bits-bit Z-value:
    * bit i of rank j lands at position i·k + j (dimension 0 gets the
    * lowest lane, matching [[zValue]]'s x-even/y-odd layout at k=2).
    * The general-arity form of [[zValue]]: a plain bit-gather loop —
    * k·bits shift/mask/or terms, still ordinary codegen'd column
    * arithmetic — because the magic-number doubling trick is
    * per-stride and two-dimension-specific. Used once per OPTIMIZE
    * rewrite projection, so expression size (≤ 16·k nodes) is
    * irrelevant next to the sort it feeds. */
  def zValueN(ranks: Seq[Column], bits: Int): Column = {
    require(ranks.nonEmpty && bits >= 1 && ranks.length * bits <= 63,
      s"z interleave of ${ranks.length} × $bits bits exceeds a long")
    val k = ranks.length
    val terms = for {
      (r, j) <- ranks.zipWithIndex
      i <- 0 until bits
    } yield shiftleft(shiftright(r, i).bitwiseAND(lit(1L)), i * k + j)
    terms.reduce(_.bitwiseOR(_))
  }

  /** Scale a value of known [min, max] onto the 0..2^bits-1 rank
    * grid — [[rank16]] at general width, same monotonicity, clamp,
    * and degenerate-range semantics. */
  def rank(v: Column, min: Long, max: Long, bits: Int): Column = {
    val top = (1L << bits) - 1L
    val span = math.max(1L, max - min)
    least(greatest(
      ((v - lit(min)).cast("double") * lit(top.toDouble) /
        lit(span.toDouble)).cast("long"), lit(0L)), lit(top))
  }

  /** Scale a value of known [min, max] onto the 0..65535 rank grid.
    * Monotonic, so Z-order on ranks preserves locality of the raw
    * values; the raw columns (not the ranks) are what parquet stats
    * prune on, so rank resolution only bounds CLUSTERING granularity,
    * never correctness. Degenerate ranges (min == max) map to 0.
    * Values OUTSIDE [min, max] clamp to the grid edge rather than
    * wrapping, so a row beyond the grid's range clusters at the
    * boundary (locally coarser layout) instead of teleporting across
    * the curve; a null value ranks 0, because `greatest` skips nulls. */
  def rank16(v: Column, min: Long, max: Long): Column = {
    val span = math.max(1L, max - min)
    least(greatest(
      ((v - lit(min)).cast("double") * lit(65535.0) / lit(span.toDouble))
        .cast("long"), lit(0L)), lit(65535L))
  }
}
