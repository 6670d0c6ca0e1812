package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Space-filling-curve keys over two integer columns: the Morton (z-order)
  * and Hilbert codes that `OPTIMIZE ZORDER BY`-style layouts range-cluster
  * on, so that rows close in BOTH dimensions share files and parquet
  * min/max pruning works for predicates on either one. Here they feed the
  * layout-quality reports (`SamplingQueries`). Both codes are pure integer
  * arithmetic — identical in any engine — so those reports gate
  * value-exactly against the oracle.
  */
object Locality {

  /** Morton code of two non-negative values using `bits` low bits of
    * each: x occupies even output bits, y odd. Pure integer ops (shift /
    * mask / disjoint-bit add), so the value is engine-exact. Inputs must
    * be in [0, 2^bits); normalize (rank, bucket, or offset) first.
    */
  def zValue2(x: Column, y: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1, 31], got $bits")
    val xs = x.cast("long")
    val ys = y.cast("long")
    (0 until bits).map { i =>
      shiftright(xs, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i)) +
        shiftright(ys, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i + 1))
    }.reduce(_ + _) // bit positions are disjoint — the sum IS the OR
  }

  /** Hilbert-curve index of two non-negative values over the 2^bits grid
    * — the locality refinement of [[zValue2]]: CONSECUTIVE Hilbert codes
    * are always Manhattan-adjacent cells (the Morton curve jumps across
    * the grid at every power-of-two boundary), so range-clustering on the
    * Hilbert code yields tiles with strictly better worst-case bounding
    * boxes — the `OPTIMIZE ... HILBERT` option of modern lakehouse
    * layouts. The canonical xy2d recurrence (per-level quadrant digit +
    * reflect/swap rotation) unrolls at PLAN TIME into `bits` levels of
    * branch-free integer CASE arithmetic — no UDF, engine-exact, so a
    * layout gate can recompute it in SQL. Inputs must be in [0, 2^bits);
    * normalize (rank, bucket, or offset) first.
    */
  def hilbertValue2(x: Column, y: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1, 31], got $bits")
    val n = 1L << bits
    // fold over levels with a (d, x, y) struct accumulator — a plan-time
    // unroll would re-reference the previous level's x/y several times
    // per level and the expression TREE would grow ~4^bits; the fold
    // keeps it O(1) in bits (the oracle's unrolled-CTE mirror avoids the
    // same blowup with MATERIALIZED levels)
    val init = struct(lit(0L).as("d"),
      x.cast("long").as("x"), y.cast("long").as("y"))
    aggregate(
      sequence(lit(bits - 1), lit(0), lit(-1)),
      init,
      (acc, i) => {
        val s = call_function("shiftleft", lit(1L), i)
        val ss = call_function("shiftleft", lit(1L), i * lit(2))
        val ax = acc.getField("x")
        val ay = acc.getField("y")
        val rx = when(ax.bitwiseAND(s) > 0, lit(1L)).otherwise(lit(0L))
        val ry = when(ay.bitwiseAND(s) > 0, lit(1L)).otherwise(lit(0L))
        // quadrant digit (3·rx) XOR ry without bit ops: 0,1 / 3,2
        val nd = acc.getField("d") +
          ss * when(rx === 0, ry).otherwise(lit(3L) - ry)
        // rotation: ry=0 → (reflect about the full grid when rx=1, then
        // swap axes); ry=1 → identity
        val nx = when(ry === 0,
          when(rx === 1, lit(n - 1) - ay).otherwise(ay)).otherwise(ax)
        val ny = when(ry === 0,
          when(rx === 1, lit(n - 1) - ax).otherwise(ax)).otherwise(ay)
        struct(nd.as("d"), nx.as("x"), ny.as("y"))
      }).getField("d")
  }
}
