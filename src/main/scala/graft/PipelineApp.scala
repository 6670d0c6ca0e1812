package graft

import graft.config.PipelineConfig
import graft.jobs.{BronzeToSilver, SilverToGold}
import graft.orchestration.Pipeline
import graft.streaming.IncrementalIngest

/** Engine CLI — the single-JVM replacement for the reference's
  * Lambda → Step Functions → Glue control plane (SURVEY.md §3.4):
  *
  * {{{
  * runMain graft.PipelineApp --raw-path /data/raw --silver-path /data/silver \
  *   --gold-path /data/gold [--incremental --checkpoint-path /data/ckpt] \
  *   [--fixed-clock "2024-01-31 00:00:00"] [--approx-distinct]
  * }}}
  */
object PipelineApp {

  def main(args: Array[String]): Unit = {
    val cfg = PipelineConfig.fromArgs(args)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.builder(cpus)
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"))
      .appName("graft-pipeline")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val result = Pipeline.run(Seq(
        Pipeline.Stage("bronze_to_silver", () =>
          if (cfg.incremental) IncrementalIngest.run(spark, cfg)
          else { BronzeToSilver.run(spark, cfg); () }),
        Pipeline.Stage("silver_to_gold", () => SilverToGold.run(spark, cfg))))
      result match {
        case Pipeline.Failed(stage, e, _) =>
          System.err.println(s"[pipeline] failed at $stage: $e")
          sys.exit(1)
        case _ => ()
      }
    } finally spark.stop()
  }
}
