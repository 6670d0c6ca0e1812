package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger

import graft.config.PipelineConfig
import graft.io.{Sinks, Sources}
import graft.jobs.{BronzeToSilver, SilverToGold}

/** Incremental bronze→silver with Glue-job-bookmark semantics
  * (`infrastructure/terraform/main.tf:174` "job-bookmark-enable",
  * `bronze_to_silver.py:152` `job.commit()`): each run processes ONLY files
  * not seen by a previous run, then appends to silver.
  *
  * Spark-native equivalent: a file-source Structured Streaming query with a
  * checkpoint directory, run with `Trigger.AvailableNow` — drain everything
  * new, then stop. The transform runs inside `foreachBatch`, so
  * `dropDuplicates` has per-run (per-batch) scope exactly like the
  * reference's per-run dedup, and no unbounded streaming state is kept.
  *
  * Delivery: file tracking is exactly-once via the checkpoint; the batch
  * parquet append inside foreachBatch makes an interrupted run at-least-once
  * on retry — the same contract as Glue bookmarks + `mode("append")`.
  */
object IncrementalIngest {

  def run(spark: SparkSession, cfg: PipelineConfig): Unit =
    run(spark, cfg, maintainGold = false)

  /** `maintainGold = true` chains the partition-restricted gold
    * maintenance into the same micro-batch: after the silver append, the
    * batch's touched gold partitions re-aggregate and replace
    * ([[graft.jobs.SilverToGold.runIncremental]]) — the full streaming
    * bronze→silver→gold path whose nightly cost scales with the batch,
    * not the table. The end state is spec-proven identical to a full
    * [[graft.jobs.SilverToGold.run]] over the accumulated silver.
    *
    * Either way the transformed batch is staged once
    * ([[graft.jobs.SilverToGold.stage]]): the emptiness test and the
    * touched partitions ride the staging job, and the silver append and
    * the gold sinks all read the checkpoint, so the bronze scan and the
    * dedup shuffle run once per batch. An empty (e.g. all-dirty) batch
    * writes nothing (P6/P7).
    */
  def run(spark: SparkSession, cfg: PipelineConfig,
      maintainGold: Boolean): Unit = {
    require(cfg.checkpointPath.nonEmpty,
      "incremental mode requires --checkpoint-path")
    val stream = Sources.bronzeJsonStream(spark, cfg.rawPath)
    val query = stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val staged = SilverToGold.stage(
          BronzeToSilver.transform(batch, cfg.clock))
        try if (staged.count > 0L) {
          Sinks.writeSilver(staged.rows, cfg.silverPath)
          if (maintainGold) SilverToGold.runIncremental(spark, cfg, staged)
        } finally org.apache.spark.sql.graftx.CheckpointUtils
          .unpersistLocalCheckpoint(staged.rows)
      }
      .option("checkpointLocation", cfg.checkpointPath)
      .trigger(Trigger.AvailableNow())
      .start()
    query.awaitTermination()
  }
}
