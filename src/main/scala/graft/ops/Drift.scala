package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distribution-drift detection between a reference slice and a current
  * slice of the same column — the Population Stability Index report that
  * gates model retraining and flags upstream schema/unit changes.
  *
  * Exactness: bucket edges are ORDER STATISTICS of the reference (the
  * row_number/ceil mechanism of `a_price_quantiles`), bucket assignment is
  * exact double comparisons, counts are integers, and each bucket's PSI
  * term quantizes its single ln to integer micro-nats — so the whole
  * report is engine- and partitioning-exact. Laplace smoothing
  * ((c+1)/(n+buckets)) keeps empty buckets finite without an epsilon
  * whose magnitude could differ between engines.
  *
  * Scale posture: the single global window ranks only the REFERENCE slice
  * — typically a fixed sample or yesterday's partition, not the 100 TB
  * fact table; at cluster scale feed a hash-sampled reference (edges from
  * a 1M-row sample are within sampling noise) — the mechanism is
  * unchanged. Everything downstream is two narrow groupBys and literal
  *-sized broadcasts.
  */
object Drift {

  /** Per-bucket PSI report: `bucket, ref_count, cur_count, psi_q`
    * (micro-nats; Σ psi_q over buckets = the headline PSI).
    */
  def psiReport(ref: DataFrame, cur: DataFrame, valueCol: String,
      buckets: Int = 10): DataFrame = {
    val v = col(valueCol)
    // edges: value at rank ceil(n·j/buckets), j = 1..buckets-1. Ordering by
    // value alone is deterministic HERE: ties share the value, and the
    // picked element is a value, not a row.
    val edges = {
      val w = Window.orderBy(v)
      val ranked = ref.select(v)
        .withColumn("__rn", row_number().over(w))
        .crossJoin(broadcast(ref.agg(count(lit(1)).as("__n"))))
      val edgeCols: Seq[Column] = (1 until buckets).map(j =>
        max(when(col("__rn") === ceil(col("__n") * lit(j.toDouble / buckets)), v))
          .as(s"e$j"))
      ranked.agg(edgeCols.head, edgeCols.tail: _*)
    }

    def bucketed(df: DataFrame): DataFrame = {
      val b = (1 until buckets)
        .map(j => when(v > col(s"e$j"), 1).otherwise(0))
        .reduce(_ + _)
      df.select(v).crossJoin(broadcast(edges))
        .select(b.as("bucket"))
        .groupBy(col("bucket")).agg(count(lit(1)).as("c"))
    }
    val rb = bucketed(ref).select(col("bucket"), col("c").as("ref_c"))
    val cb = bucketed(cur).select(col("bucket"), col("c").as("cur_c"))
    val tot = ref.agg(count(lit(1)).as("ref_n"))
      .crossJoin(cur.agg(count(lit(1)).as("cur_n")))

    val joined = rb.join(cb, Seq("bucket"), "full_outer")
      .select(col("bucket"),
        coalesce(col("ref_c"), lit(0L)).as("ref_c"),
        coalesce(col("cur_c"), lit(0L)).as("cur_c"))
      .crossJoin(broadcast(tot))
    val p = (col("ref_c").cast("double") + lit(1.0)) /
      (col("ref_n").cast("double") + lit(buckets.toDouble))
    val q = (col("cur_c").cast("double") + lit(1.0)) /
      (col("cur_n").cast("double") + lit(buckets.toDouble))
    joined.select(col("bucket"),
      col("ref_c").as("ref_count"), col("cur_c").as("cur_count"),
      round((p - q) * log(p / q) * lit(1e6)).cast("long").as("psi_q"))
      .orderBy(col("bucket"))
  }
}
