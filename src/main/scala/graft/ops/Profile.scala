package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Aggregations.avgStable

/** One-pass column profiler: the data-quality summary every ingest wants
  * (null counts, distincts, span, mean) computed as ONE aggregation over
  * ONE scan — at 100 TB the naive per-column loop is N full scans, and the
  * difference between "profile on every ingest" and "profile never".
  *
  * The row-per-column result shape comes from unpivoting the single
  * aggregated row (a 1-row stack, free), not from per-column passes.
  * Distincts are exact (one Expand, the oracle-parity choice — flip to
  * `approx_count_distinct` per column for the HLL single-pass at scale);
  * the mean is an exact decimal sum divided once (order-insensitive, so
  * hash-stable across engines and partitionings).
  */
object Profile {

  /** Numeric profile of `cols`: one row per column with
    * (column, n_rows, n_nulls, n_distinct, min_val, max_val, mean_val).
    */
  def numericProfile(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = cols.flatMap { c => Seq(
      count(when(col(c).isNull, 1)).as(s"__${c}__nulls"),
      countDistinct(col(c)).as(s"__${c}__distinct"),
      min(col(c).cast("double")).as(s"__${c}__min"),
      max(col(c).cast("double")).as(s"__${c}__max"),
      avgStable(col(c)).as(s"__${c}__mean"))
    } :+ count(lit(1)).as("__rows")
    val one = df.agg(aggs.head, aggs.tail: _*)
    val stacked = cols.map { c =>
      struct(lit(c).as("column"), col("__rows").as("n_rows"),
        col(s"__${c}__nulls").as("n_nulls"),
        col(s"__${c}__distinct").as("n_distinct"),
        col(s"__${c}__min").as("min_val"),
        col(s"__${c}__max").as("max_val"),
        col(s"__${c}__mean").as("mean_val"))
    }
    one.select(explode(array(stacked: _*)).as("p")).select(col("p.*"))
  }
}
