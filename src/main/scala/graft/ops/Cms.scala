package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Count-min sketch over a key column, DataFrame-native: the sketch IS a
  * (row, bucket, cnt) frame of at most depth×width rows, built by one
  * map-side-combinable aggregation. No custom aggregate buffer — Spark's
  * hash aggregation over the exploded (row, bucket) cells is the sketch
  * update. The sketch is linear: two sketches of the same depth/width
  * sum cell-wise to the sketch of their union (spec-proven), which is
  * how per-partition / per-day sketches roll up at 100 TB without
  * touching raw data twice.
  *
  * Guarantees (standard CMS, Cormode & Muthukrishnan): estimates never
  * undercount; a point estimate exceeds the true count by more than
  * e·N/width with probability ≤ e^-depth (independent xxhash64 rows, min
  * taken across them).
  */
object Cms {

  private def cells(key: Column, depth: Int, width: Int) =
    posexplode(transform(sequence(lit(0), lit(depth - 1)), d =>
      pmod(xxhash64(d, key), lit(width))))

  /** Build the sketch: one (row, bucket) cell per row per depth level,
    * hash-aggregated. Null keys are skipped (xxhash64 would fold them to
    * the seed; a frequency sketch of nulls belongs to a null-count, not a
    * collision cell).
    */
  def build(df: DataFrame, key: Column, depth: Int = 5,
      width: Int = 1024): DataFrame =
    df.filter(key.isNotNull)
      .select(cells(key, depth, width).as(Seq("row", "bucket")))
      .groupBy(col("row"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))

  /** Point estimates for `probes` (a frame with a `k` column of the keyed
    * type): min over depth rows of the probed cells. A key hitting an
    * untouched cell estimates 0 — correct, the key was never counted.
    */
  def estimate(sketch: DataFrame, probes: DataFrame, depth: Int = 5,
      width: Int = 1024): DataFrame =
    probes
      .select(col("k"), cells(col("k"), depth, width).as(Seq("row", "bucket")))
      .join(sketch, Seq("row", "bucket"), "left")
      .groupBy(col("k"))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est"))
}
