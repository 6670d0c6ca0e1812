// Hosted under org.apache.spark.sql to reach the classic Dataset's
// queryExecution and the LogicalRDD node that backs a localCheckpoint —
// same packaging rationale as VectorExpressions.
package org.apache.spark.sql.graftx

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.classic.{Dataset => ClassicDataset}
import org.apache.spark.sql.execution.LogicalRDD

/** Lifecycle helper for iterative algorithms that localCheckpoint per round:
  * Spark gives no public handle on the RDD persisted by
  * `Dataset.localCheckpoint`, so superseded rounds would pin
  * MEMORY_AND_DISK blocks until the session dies (an n-round loop holds n
  * copies of the working set). This frees the blocks behind a checkpointed
  * DataFrame once the next round's checkpoint is materialized, and owns
  * the round scaffold itself ([[materialize]], [[iterate]]).
  */
object CheckpointUtils {

  /** The metric values observed on one materialization, by metric name. */
  type Observed = Map[String, Any]

  /** Eager `localCheckpoint` of `df`, with `metrics` (aggregate columns,
    * each aliased) observed on that same job: a round's stop test or
    * driver-side scalar costs no job of its own. The only place that
    * creates an `Observation` for a checkpoint. The caller owns the
    * returned frame and frees it with [[unpersistLocalCheckpoint]].
    */
  def materialize(df: DataFrame, metrics: Column*): (DataFrame, Observed) =
    if (metrics.isEmpty) (df.localCheckpoint(), Map.empty)
    else {
      val obs = Observation()
      val cp = df.observe(obs, metrics.head, metrics.tail: _*).localCheckpoint()
      (cp, obs.get)
    }

  /** The round loop of a single-frame iterative operator. Materializes
    * `init`, then up to `maxRounds` times materializes `step(current)`,
    * frees the superseded round only after its successor is materialized
    * (the loop holds one copy of the working set), and stops once
    * `done(previous, current)` holds on the two rounds' observed
    * `metrics`. Returns the last round's frame (the caller owns it), the
    * rounds run, and whether `done` held: `false` means the cap was hit,
    * and the caller must turn that into an explicit outcome.
    */
  def iterate(init: DataFrame, maxRounds: Int, metrics: Column*)(
      step: DataFrame => DataFrame)(
      done: (Observed, Observed) => Boolean): (DataFrame, Int, Boolean) = {
    var (cur, seen) = materialize(init, metrics: _*)
    var rounds = 0
    var converged = false
    while (!converged && rounds < maxRounds) {
      val (next, obs) = materialize(step(cur), metrics: _*)
      unpersistLocalCheckpoint(cur)
      converged = done(seen, obs)
      cur = next
      seen = obs
      rounds += 1
    }
    (cur, rounds, converged)
  }

  /** The rows of the checkpointed `df` (a [[materialize]] result) under a
    * LogicalRDD that carries no origin statistics, so the planner sees the
    * conf-default `sizeInBytes`. `localCheckpoint` keeps the origin
    * plan's estimate, and a self-join per round squares it: across rounds
    * that compounds into a BigInteger wide enough to pin the driver in
    * Catalyst's stats visitor. The result wraps the same persisted RDD, so
    * [[unpersistLocalCheckpoint]] on it frees the checkpoint's blocks.
    */
  def withoutOriginStats(df: DataFrame): DataFrame = df match {
    case d: ClassicDataset[_] => d.queryExecution.analyzed match {
      case lr: LogicalRDD =>
        ClassicDataset.ofRows(d.sparkSession, lr.copy()(d.sparkSession, None, None))
      case p => throw new IllegalArgumentException(
        s"withoutOriginStats needs a checkpointed frame, got ${p.nodeName}")
    }
  }

  /** Unpersist (non-blocking) every RDD backing a localCheckpoint in `df`'s
    * plan. No-op for plans with no checkpoint. Only call once nothing live
    * still reads from `df` — the blocks are gone, and the LogicalRDD has no
    * lineage to recompute them.
    */
  def unpersistLocalCheckpoint(df: DataFrame): Unit = df match {
    case d: ClassicDataset[_] =>
      d.queryExecution.analyzed
        .collect { case lr: LogicalRDD => lr.rdd }
        .foreach(_.unpersist(blocking = false))
    case _ => ()
  }

  /** BLOCKING unpersist of every persisted RDD in the session — the
    * between-samples hygiene the bench mains share. Queries that stage
    * intermediates via localCheckpoint (jaccard, tfidf, ivf, simhash, …)
    * pin MEMORY_AND_DISK RDDs nothing unpersists once the query returns;
    * across repeated samples the pinned sf0.1 materializations squeeze
    * execution memory under the unified manager and shuffle-heavy
    * queries start spilling (d_dedup_clusters measured 12.1 s in-bench
    * vs 3.2 s isolated before the purge; a multi-query timing list
    * manufactured a 1.4× phantom the same way). BLOCKING because an
    * async unpersist bleeds its block-removal churn into the next timed
    * sample (measured: the query after a heavy purge inflates 2-4×).
    * Only call in an UNTIMED gap with no live frame still reading its
    * checkpoint.
    */
  def purgeAllPersisted(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
}
