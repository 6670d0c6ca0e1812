package graft

import org.apache.spark.sql.SparkSession

/** Shared SparkSession construction for the runnable mains (Bench,
  * Verify, PlanDump, PipelineApp) — one place for the session
  * config so the bench, the correctness dump, plan capture and the
  * pipeline CLI all run the SAME engine setup.
  *
  * Config experiments measured and REJECTED here in round 12 (recorded so
  * the next round does not re-run them):
  *  - `spark.sql.objectHashAggregate.sortBased.fallbackThreshold`
  *    128 → 131072. Hypothesis: the default 128 in-memory groups degrades
  *    every >128-key TypedImperativeAggregate (betweenness vector sums,
  *    HyperANF HLL unions, sketches) to sort-based aggregation, so
  *    raising it should win. Measured (isolated min-of-3, sf0.1):
  *    a_betweenness 27.2 → 34.1 s min with 56 s median (object hash map
  *    of ~20k × 1.6 KB buffers per task churns allocation + lookups and
  *    loses to the fallback's tight sort-merge of pre-serialized rows),
  *    a_mis_suppliers ~4 → 14 s (min-of-struct aggregations). The
  *    sort fallback is the FASTER path for this suite's fat-buffer
  *    aggregates, not just the safer one — keep Spark's default.
  */
object Sessions {
  /** The common builder: `local[cpus]` master, cpus shuffle partitions,
    * AQE, UTC, UI off, graft extensions.
    */
  def builder(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .withExtensions(new graft.expressions.GraftExtensions())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
}
