package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.Aggregations.sumStable

/** Gap-based sessionization of the event stream: window functions (lag →
  * new-session flag → running-sum session id → groupBy). Fully
  * SQL-expressible, so the `e_sessions` query has a DuckDB oracle. Event
  * times truncate to seconds, ties break by event_id, and totals go
  * through exact decimal accumulation.
  *
  * Scale posture: the windows partition by user_id — high cardinality,
  * tiny per-partition state.
  */
object Sessionize {

  /** Batch sessionization: a new session starts when the gap to the previous
    * event (per user, ordered by truncated ts then event_id) exceeds
    * `gapMinutes`.
    */
  def sessionsBatch(events: DataFrame, gapMinutes: Int): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("__ts"), col("event_id"))
    events
      .select(col("event_id"), col("user_id"),
        date_trunc("second", col("ts")).as("__ts"), col("value"))
      .withColumn("__gap",
        unix_timestamp(col("__ts")) - unix_timestamp(lag(col("__ts"), 1).over(w)))
      .withColumn("__new",
        when(col("__gap").isNull || col("__gap") > gapMinutes * 60L, 1)
          .otherwise(0))
      .withColumn("__sid", sum(col("__new")).over(w))
      .groupBy(col("user_id"), col("__sid"))
      .agg(min(col("__ts")).as("session_start"),
        max(col("__ts")).as("session_end"),
        count(lit(1)).as("n_events"),
        sumStable(col("value")).as("total_value"))
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"), col("total_value"))
  }
}
