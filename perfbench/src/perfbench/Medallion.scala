package perfbench

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.config.PipelineConfig
import graft.jobs.{BronzeToSilver, SilverToGold}
import graft.orchestration.Pipeline
import graft.quality.QualityChecks
import graft.streaming.IncrementalIngest

/** The medallion mains in one pass: the `PipelineApp` batch path
  * (`Pipeline.run` of `BronzeToSilver` then `SilverToGold`) over one
  * landing, then K append batches with late rows through `IncrementalIngest`
  * with gold maintenance on top of the tables just written, then one
  * erasure request (`SilverToGold.runErasure`).
  */
object Medallion extends Workload {
  /** Pins `created_at` / `processed_timestamp`, so stored bytes repeat. */
  private val clock = Some(Timestamp.valueOf("2024-03-01 00:00:00"))

  private def gold(spark: SparkSession, cfg: PipelineConfig): Seq[(String, DataFrame)] =
    Seq(cfg.goldDailyPath, cfg.goldMonthlyPath, cfg.goldCustomerPath)
      .map(p => p -> spark.read.parquet(p))

  /** Silver invariants, gold conservation, the expected silver row count,
    * no erased customer left in silver or any gold table, and maintained
    * gold equal to a full recompute over the final silver.
    */
  private def checkEndState(ctx: Ctx, cfg: PipelineConfig, expectedSilver: Long,
      erased: Set[String], out: String): Unit = {
    val spark = ctx.spark
    val silver = spark.read.parquet(cfg.silverPath)
    QualityChecks.silverInvariants(silver).foreach { case (inv, ok) =>
      ctx.check(ok, s"silver invariant $inv does not hold") }
    val Seq(daily, monthly, customer) = gold(spark, cfg).map(_._2)
    ctx.check(QualityChecks.conservationHolds(daily, monthly, customer),
      "gold daily, monthly and customer totals disagree")
    val n = silver.count()
    ctx.check(n == expectedSilver, s"silver has $n rows, expected $expectedSilver")
    (("silver" -> silver) +: gold(spark, cfg)).foreach { case (t, df) =>
      val left = df.filter(col("customer_id").isin(erased.toSeq: _*)).count()
      ctx.check(left == 0, s"$left rows of erased customers survive in $t")
    }
    val ref = cfg.copy(goldPath = s"$out/gold_reference")
    SilverToGold.run(spark, ref)
    gold(spark, cfg).zip(gold(spark, ref)).foreach { case ((t, got), (_, want)) =>
      val w = want.select(got.columns.map(col): _*)
      val diff = got.exceptAll(w).count() + w.exceptAll(got).count()
      ctx.check(diff == 0, s"$t differs from a full recompute in $diff rows")
    }
  }

  def prepare(ctx: Ctx, dir: String, small: Boolean): Prepared = {
    val spark = ctx.spark
    val (n, k, m) = if (small) (2000, 1, 200) else (20000, 2, 600)
    val landing = Gen.transactions(spark, s"$dir/raw", n, ctx.seed, "b",
      dirtyShare = 0.05)
    val batches = (0 until k).map(i => Gen.transactions(spark, s"$dir/batch$i",
      m, ctx.seed, s"k$i", dirtyShare = 0.05, lateShare = 0.3,
      newDay = f"2024-02-${i + 1}%02d"))
    val all = Gen.Landing(0, 0, landing.clean ++ batches.flatMap(_.clean), Map())
    val erased = Gen.customers(all, 2, ctx.seed)
    new Prepared {
      val inputs = s"landing ${landing.files} files, ${landing.lines} lines, " +
        s"${landing.cleanCount} clean, dirty ${landing.dirty}; $k batches of " +
        s"${batches.head.lines} lines, 30% late; erasing ${erased.size} " +
        s"customers; ${Gen.landingWhy}"
      def pass(ctx: Ctx, p: Pass, out: String): Seq[String] = {
        import spark.implicits._
        val bulk = PipelineConfig(s"$dir/raw", s"$out/silver", s"$out/gold",
          clock = clock)
        val cfg = bulk.copy(rawPath = s"$out/landing",
          checkpointPath = s"$out/checkpoint")
        val subjects = erased.toSeq.sorted.toDF("customer_id")
        var counts = Map.empty[String, Long]
        p.timed(ctx.span("orchestration.pipeline")(ctx.runPipeline(Seq(
          Pipeline.Stage("bronze_to_silver", () => counts =
            ctx.span("jobs.bronze_to_silver")(BronzeToSilver.run(spark, bulk))),
          Pipeline.Stage("silver_to_gold", () =>
            ctx.span("jobs.silver_to_gold")(SilverToGold.run(spark, bulk)))))))
        ctx.check(counts("initial_count") == landing.lines,
          s"bronze read ${counts("initial_count")} lines, landed ${landing.lines}")
        ctx.check(counts("corrupt_count") == landing.dirty("malformed"),
          s"corrupt count ${counts("corrupt_count")}, landed " +
            s"${landing.dirty("malformed")} malformed lines")
        ctx.check(counts("final_count") == landing.cleanCount,
          s"silver wrote ${counts("final_count")} rows, expected ${landing.cleanCount}")
        new java.io.File(cfg.rawPath).mkdirs()
        for (i <- 0 until k) {
          new java.io.File(s"$dir/batch$i").listFiles().filter(_.isFile)
            .foreach(f => java.nio.file.Files.copy(f.toPath,
              new java.io.File(cfg.rawPath, f.getName).toPath))
          p.batch(ctx.span("streaming.incremental_ingest")(
            IncrementalIngest.run(spark, cfg, maintainGold = true)))
        }
        p.erase(ctx.span("jobs.run_erasure")(
          SilverToGold.runErasure(spark, cfg, subjects)))
        checkEndState(ctx, cfg, all.cleanCount - all.cleanOf(erased), erased, out)
        Seq(cfg.silverPath, cfg.goldPath)
      }
    }
  }
}
