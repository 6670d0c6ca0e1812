package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.config.PipelineConfig
import graft.datagen.TransactionGen
import graft.jobs.{BronzeToSilver, PretrainCorpus, SilverToGold}
import graft.orchestration.Pipeline
import graft.quality.QualityChecks
import graft.streaming.IncrementalIngest

/** End-to-end medallion pipeline: datagen → bronze→silver (batch and
  * incremental/bookmark mode) → silver→gold, plus orchestration retry and
  * quality invariants.
  */
class PipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft-pipeline").toString

  private val clock = Some(Timestamp.valueOf("2024-02-01 00:00:00"))

  test("batch pipeline end-to-end: generated JSONL → silver → gold, invariants hold") {
    val root = tmp()
    val raw = TransactionGen.generate(spark, 1000)
    TransactionGen.writeJsonl(raw, s"$root/raw")
    val cfg = PipelineConfig(s"$root/raw", s"$root/silver", s"$root/gold",
      clock = clock)
    BronzeToSilver.run(spark, cfg)
    SilverToGold.run(spark, cfg)

    val silver = spark.read.parquet(s"$root/silver")
    assert(silver.count() == 1000) // clean generator data: nothing dropped
    assert(silver.columns.toSet.contains("amount_category"))
    val inv = QualityChecks.silverInvariants(silver)
    assert(inv.values.forall(identity), s"violated: ${inv.filterNot(_._2).keys}")

    val daily = spark.read.parquet(cfg.goldDailyPath)
    val monthly = spark.read.parquet(cfg.goldMonthlyPath)
    val customer = spark.read.parquet(cfg.goldCustomerPath)
    assert(QualityChecks.conservationHolds(daily, monthly, customer))
    assert(customer.select("customer_id").distinct().count() == customer.count())
    // fixed clock → deterministic created_at
    assert(daily.select("created_at").distinct().as[Timestamp].head() == clock.get)
  }

  test("incremental mode has bookmark semantics: re-run ingests nothing, new files only once") {
    val root = tmp()
    val cfg = PipelineConfig(s"$root/raw", s"$root/silver", s"$root/gold",
      checkpointPath = s"$root/ckpt", clock = clock, incremental = true)
    TransactionGen.writeJsonl(TransactionGen.generate(spark, 300), s"$root/raw")

    IncrementalIngest.run(spark, cfg)
    val afterFirst = spark.read.parquet(s"$root/silver").count()
    assert(afterFirst == 300)

    // re-run with no new files: silver must NOT grow (the bookmark contract)
    IncrementalIngest.run(spark, cfg)
    assert(spark.read.parquet(s"$root/silver").count() == afterFirst)

    // drop new files in: only the delta is appended
    TransactionGen.generate(spark, 500).filter($"transaction_id" > "txn_00000299")
      .coalesce(1).write.mode("append").json(s"$root/raw")
    IncrementalIngest.run(spark, cfg)
    assert(spark.read.parquet(s"$root/silver").count() == 500)
  }

  test("streaming ingest with gold maintenance: the incremental gold end " +
    "state equals a full recompute over the accumulated silver") {
    val root = tmp()
    val cfg = PipelineConfig(s"$root/raw", s"$root/silver", s"$root/gold",
      checkpointPath = s"$root/ckpt", clock = clock, incremental = true)
    TransactionGen.writeJsonl(TransactionGen.generate(spark, 300), s"$root/raw")
    IncrementalIngest.run(spark, cfg, maintainGold = true)
    assert(new java.io.File(s"$root/gold/daily_aggregations").exists())
    // a second file drop: only the delta flows through the bookmark, and
    // only its touched gold partitions re-aggregate
    TransactionGen.generate(spark, 600)
      .filter($"transaction_id" > "txn_00000299")
      .coalesce(1).write.mode("append").json(s"$root/raw")
    IncrementalIngest.run(spark, cfg, maintainGold = true)
    val fullCfg = cfg.copy(goldPath = s"$root/gold_full")
    SilverToGold.run(spark, fullCfg)
    for (sub <- Seq("daily_aggregations", "monthly_aggregations",
        "customer_insights")) {
      val inc = spark.read.parquet(s"$root/gold/$sub")
      val full = spark.read.parquet(s"$root/gold_full/$sub")
        .select(inc.columns.map(col): _*)
      assert(inc.exceptAll(full).isEmpty && full.exceptAll(inc).isEmpty,
        s"$sub: streaming-maintained gold != full recompute")
    }
  }

  test("gdpr erasure: partition-restricted rewrite, emptied dirs dropped " +
    "on every tier, customer keys deleted, end state == full recompute") {
    val root = tmp()
    val cfg = PipelineConfig(s"$root/raw", s"$root/silver", s"$root/gold",
      clock = clock)
    // A solely owns day (1,1); C solely owns month 2; B survives
    val silver = Seq(
      ("t1", "A", 10.0, "2024-01-01 10:00:00", 2024, 1, 1),
      ("t2", "B", 20.0, "2024-01-02 10:00:00", 2024, 1, 2),
      ("t3", "C", 30.0, "2024-01-02 11:00:00", 2024, 1, 2),
      ("t4", "C", 40.0, "2024-02-03 12:00:00", 2024, 2, 3))
      .toDF("transaction_id", "customer_id", "amount", "transaction_date",
        "year", "month", "day")
      .withColumn("transaction_date", to_timestamp($"transaction_date"))
    graft.io.Sinks.writeSilver(silver, cfg.silverPath)
    SilverToGold.run(spark, cfg)
    SilverToGold.runErasure(spark, cfg, Seq("A", "C").toDF("customer_id"))
    // silver: emptied day dirs are byte-gone; the shared day keeps only B
    assert(!new java.io.File(
      s"${cfg.silverPath}/year=2024/month=1/day=1").exists())
    assert(!new java.io.File(
      s"${cfg.silverPath}/year=2024/month=2/day=3").exists())
    val silverAfter = spark.read.parquet(cfg.silverPath)
    assert(silverAfter.select("customer_id").distinct()
      .as[String].collect().toSeq == Seq("B"))
    // gold: month 2 emptied entirely -> its daily partition dir is gone;
    // year 2024 still has B, so the monthly partition survives
    assert(!new java.io.File(
      s"${cfg.goldDailyPath}/year=2024/month=2").exists())
    assert(new java.io.File(s"${cfg.goldMonthlyPath}/year=2024").exists())
    val cust = spark.read.parquet(cfg.goldCustomerPath)
    assert(cust.select("customer_id").as[String].collect().toSeq == Seq("B"))
    // end state == a from-scratch pipeline over silver-minus-erased
    val cfg2 = cfg.copy(silverPath = s"$root/silver2",
      goldPath = s"$root/gold_full")
    graft.io.Sinks.writeSilver(silver.filter($"customer_id" === "B"),
      cfg2.silverPath)
    SilverToGold.run(spark, cfg2)
    for (sub <- Seq("daily_aggregations", "monthly_aggregations",
        "customer_insights")) {
      val a = spark.read.parquet(s"$root/gold/$sub")
      val b = spark.read.parquet(s"$root/gold_full/$sub")
        .select(a.columns.map(col): _*)
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
        s"$sub: erased gold != full recompute")
    }
    // erasing a customer with no silver rows is a no-op beyond the
    // customer table (and never throws)
    SilverToGold.runErasure(spark, cfg, Seq("GHOST").toDF("customer_id"))
    assert(spark.read.parquet(cfg.goldCustomerPath).count() == 1)
  }

  test("erasure between streaming micro-batches: batches → erase → more " +
    "batches lands on the one-shot recompute over the retained union — " +
    "the interleaving a production deployment actually sees") {
    val root = tmp()
    val cfg = PipelineConfig(s"$root/raw", s"$root/silver", s"$root/gold",
      checkpointPath = s"$root/ckpt", clock = clock, incremental = true)
    // wave 1 lands through the bookmark stream with gold maintenance
    TransactionGen.writeJsonl(TransactionGen.generate(spark, 300),
      s"$root/raw")
    IncrementalIngest.run(spark, cfg, maintainGold = true)
    // forget every customer whose md5 starts with '0' — mid-stream
    val erased = spark.read.parquet(cfg.silverPath)
      .filter(substring(md5($"customer_id"), 1, 1) === "0")
      .select($"customer_id").distinct().localCheckpoint()
    assert(erased.count() > 0, "fixture must erase someone")
    SilverToGold.runErasure(spark, cfg, erased)
    // wave 2: new files (including NEW activity for some erased customers
    // — re-consent is legal; only their pre-erasure rows must stay gone)
    TransactionGen.generate(spark, 600)
      .filter($"transaction_id" > "txn_00000299")
      .coalesce(1).write.mode("append").json(s"$root/raw")
    IncrementalIngest.run(spark, cfg, maintainGold = true)
    // invariant: on-disk gold == a one-shot recompute over the silver that
    // actually exists now (wave-1-minus-erased ∪ wave 2)
    val fullCfg = cfg.copy(goldPath = s"$root/gold_full")
    SilverToGold.run(spark, fullCfg)
    for (sub <- Seq("daily_aggregations", "monthly_aggregations",
        "customer_insights")) {
      val inc = spark.read.parquet(s"$root/gold/$sub")
      val full = spark.read.parquet(s"$root/gold_full/$sub")
        .select(inc.columns.map(col): _*)
      assert(inc.exceptAll(full).isEmpty && full.exceptAll(inc).isEmpty,
        s"$sub: stream+erase+stream gold != one-shot recompute")
    }
    // the erased customers' wave-1 rows are byte-gone from silver
    val wave1Erased = spark.read.parquet(cfg.silverPath)
      .join(erased, Seq("customer_id"), "left_semi")
      .filter($"transaction_id" <= "txn_00000299")
    assert(wave1Erased.isEmpty,
      "pre-erasure rows of erased customers survived in silver")
  }

  test("the erasure provenance card is published only AFTER every tier's " +
    "mutation succeeds: a failing card write finds the data already " +
    "scrubbed, and no premature tombstone exists") {
    val root = tmp()
    val cfg = PipelineConfig(s"$root/raw", s"$root/silver", s"$root/gold",
      clock = clock)
    val silver = Seq(
      ("t1", "A", 10.0, "2024-01-01 10:00:00", 2024, 1, 1),
      ("t2", "B", 20.0, "2024-01-02 10:00:00", 2024, 1, 2))
      .toDF("transaction_id", "customer_id", "amount", "transaction_date",
        "year", "month", "day")
      .withColumn("transaction_date", to_timestamp($"transaction_date"))
    graft.io.Sinks.writeSilver(silver, cfg.silverPath)
    SilverToGold.run(spark, cfg)
    // card path parented by a regular FILE: the append itself must fail.
    // Because the card is the LAST act, the mutations have already run
    // when it does — the old (card-first) ordering would leave gold dirty
    new java.io.FileOutputStream(s"$root/blocker").close()
    intercept[Exception] {
      SilverToGold.runErasure(spark, cfg, Seq("A").toDF("customer_id"),
        provenance = Some((s"$root/blocker/card", 7L)))
    }
    assert(spark.read.parquet(cfg.goldDailyPath)
      .filter($"customer_id" === "A").count() == 0,
      "tier mutations must complete before the card write is attempted")
    assert(spark.read.parquet(cfg.silverPath)
      .filter($"customer_id" === "A").count() == 0)
    assert(!new java.io.File(s"$root/blocker/card").exists(),
      "no tombstone may exist for the failed card write")
  }

  test("gdpr erasure is crash-safe: a retry after silver was rewritten but " +
    "gold was not still scrubs gold; re-running after success is a no-op; " +
    "empty silver still deletes the customer row; NULL partitions fail " +
    "loudly") {
    val root = tmp()
    val cfg = PipelineConfig(s"$root/raw", s"$root/silver", s"$root/gold",
      clock = clock)
    val silver = Seq(
      ("t1", "A", 10.0, "2024-01-01 10:00:00", 2024, 1, 1),
      ("t2", "B", 20.0, "2024-01-02 10:00:00", 2024, 1, 2),
      ("t3", "A", 30.0, "2024-02-03 11:00:00", 2024, 2, 3))
      .toDF("transaction_id", "customer_id", "amount", "transaction_date",
        "year", "month", "day")
      .withColumn("transaction_date", to_timestamp($"transaction_date"))
    graft.io.Sinks.writeSilver(silver, cfg.silverPath)
    SilverToGold.run(spark, cfg)
    // simulate a crash AFTER the silver rewrite, BEFORE the gold re-agg:
    // silver is already clean of A, gold still carries A everywhere
    val fs = new org.apache.hadoop.fs.Path(cfg.silverPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(cfg.silverPath), true)
    graft.io.Sinks.writeSilver(silver.filter($"customer_id" === "B"),
      cfg.silverPath)
    assert(spark.read.parquet(cfg.goldDailyPath)
      .filter($"customer_id" === "A").count() > 0, "precondition: gold stale")
    // the retry must finish the job from the GOLD footprint alone
    SilverToGold.runErasure(spark, cfg, Seq("A").toDF("customer_id"))
    assert(spark.read.parquet(cfg.goldDailyPath)
      .filter($"customer_id" === "A").count() == 0)
    assert(spark.read.parquet(cfg.goldMonthlyPath)
      .filter($"customer_id" === "A").count() == 0)
    // A solely owned month 2: its gold partitions must be byte-gone
    assert(!new java.io.File(
      s"${cfg.goldDailyPath}/year=2024/month=2").exists())
    assert(spark.read.parquet(cfg.goldCustomerPath)
      .select("customer_id").as[String].collect().toSeq == Seq("B"))
    // re-running a completed erasure changes nothing and never throws
    val dailyBefore = spark.read.parquet(cfg.goldDailyPath).collect().toSet
    SilverToGold.runErasure(spark, cfg, Seq("A").toDF("customer_id"))
    assert(spark.read.parquet(cfg.goldDailyPath).collect().toSet
      == dailyBefore)
    // a MISSING silver tree still scrubs gold (anti-join rewrite) and the
    // customer table — the deepest crash-recovery state
    val cfg2 = cfg.copy(silverPath = s"$root/silver_gone",
      goldPath = s"$root/gold2")
    graft.io.Sinks.writeSilver(silver, s"$root/silver_b")
    SilverToGold.run(spark, cfg2.copy(silverPath = s"$root/silver_b"))
    SilverToGold.runErasure(spark, cfg2, Seq("A").toDF("customer_id"))
    assert(spark.read.parquet(cfg2.goldDailyPath)
      .filter($"customer_id" === "A").count() == 0)
    assert(!new java.io.File(
      s"${cfg2.goldDailyPath}/year=2024/month=2").exists(),
      "subject-only gold partition must be dropped even without silver")
    assert(spark.read.parquet(cfg2.goldDailyPath)
      .filter($"customer_id" === "B").count() > 0,
      "other customers' gold must survive the silverless scrub")
    assert(spark.read.parquet(cfg2.goldCustomerPath)
      .select("customer_id").as[String].collect().toSeq == Seq("B"))
    // NULL partition keys cannot be addressed by the rewrite: fail loudly
    val cfg3 = cfg.copy(silverPath = s"$root/silver3",
      goldPath = s"$root/gold3")
    graft.io.Sinks.writeSilver(
      silver.withColumn("year",
        when($"customer_id" === "A", lit(null)).otherwise($"year")
          .cast("int")),
      cfg3.silverPath)
    val e = intercept[IllegalStateException] {
      SilverToGold.runErasure(spark, cfg3, Seq("A").toDF("customer_id"))
    }
    assert(e.getMessage.contains("NULL"))
  }

  test("erasure retry after a failed monthly refresh: silver, daily and " +
    "the customer row already committed, and the retry still scrubs " +
    "gold monthly") {
    val root = tmp()
    val cfg = PipelineConfig(s"$root/raw", s"$root/silver", s"$root/gold",
      clock = clock)
    val silver = Seq(
      ("t1", "A", 10.0, "2024-01-01 10:00:00", 2024, 1, 1),
      ("t2", "B", 20.0, "2024-01-02 10:00:00", 2024, 1, 2),
      ("t3", "A", 30.0, "2024-02-03 11:00:00", 2024, 2, 3))
      .toDF("transaction_id", "customer_id", "amount", "transaction_date",
        "year", "month", "day")
      .withColumn("transaction_date", to_timestamp($"transaction_date"))
    graft.io.Sinks.writeSilver(silver, cfg.silverPath)
    SilverToGold.run(spark, cfg)
    val monthly = new java.io.File(cfg.goldMonthlyPath)
    val saved = new java.io.File(s"$root/monthly_before")
    org.apache.commons.io.FileUtils.copyDirectory(monthly, saved)
    SilverToGold.runErasure(spark, cfg, Seq("A").toDF("customer_id"))
    // the state a failed monthly write leaves: every other tier committed
    org.apache.commons.io.FileUtils.deleteDirectory(monthly)
    org.apache.commons.io.FileUtils.copyDirectory(saved, monthly)
    assert(spark.read.parquet(cfg.goldMonthlyPath)
      .filter($"customer_id" === "A").count() > 0, "precondition: stale")
    SilverToGold.runErasure(spark, cfg, Seq("A").toDF("customer_id"))
    assert(spark.read.parquet(cfg.goldMonthlyPath)
      .filter($"customer_id" === "A").count() == 0,
      "the retry left the subject's rows in gold monthly")
    val full = cfg.copy(silverPath = s"$root/silver_b",
      goldPath = s"$root/gold_full")
    graft.io.Sinks.writeSilver(silver.filter($"customer_id" === "B"),
      full.silverPath)
    SilverToGold.run(spark, full)
    for (sub <- goldTables) assert(sameGold(cfg, full, sub), sub)
  }

  test("an erasure that takes silver's last rows completes on every tier, " +
    "publishes its card, and a second run is a no-op") {
    val root = tmp()
    val cfg = PipelineConfig(s"$root/raw", s"$root/silver", s"$root/gold",
      clock = clock)
    // the only customer, with rows in two days of two years
    val silver = Seq(
      ("t1", "A", 10.0, "2023-12-31 10:00:00", 2023, 12, 31),
      ("t2", "A", 20.0, "2024-01-01 10:00:00", 2024, 1, 1))
      .toDF("transaction_id", "customer_id", "amount", "transaction_date",
        "year", "month", "day")
      .withColumn("transaction_date", to_timestamp($"transaction_date"))
    graft.io.Sinks.writeSilver(silver, cfg.silverPath)
    SilverToGold.run(spark, cfg)
    val card = s"$root/card"
    val touched = Seq(
      s"${cfg.silverPath}/year=2023/month=12/day=31",
      s"${cfg.silverPath}/year=2024/month=1/day=1",
      s"${cfg.goldDailyPath}/year=2023/month=12",
      s"${cfg.goldDailyPath}/year=2024/month=1",
      s"${cfg.goldMonthlyPath}/year=2023",
      s"${cfg.goldMonthlyPath}/year=2024")
    assert(touched.forall(new java.io.File(_).exists()))
    SilverToGold.runErasure(spark, cfg, Seq("A").toDF("customer_id"),
      provenance = Some((card, 1L)))
    for (d <- touched) assert(!new java.io.File(d).exists(), d)
    def cardOf(epoch: Long) = spark.read.parquet(card)
      .filter($"tombstone_epoch" === epoch)
      .select($"tier", $"partition", $"rows_erased")
      .as[(String, String, Long)].collect().toSet
    assert(cardOf(1L) == Set(
      ("silver", "year=2023/month=12/day=31", 1L),
      ("silver", "year=2024/month=1/day=1", 1L),
      ("gold_daily", "year=2023/month=12", 1L),
      ("gold_daily", "year=2024/month=1", 1L),
      ("gold_monthly", "year=2023", 1L),
      ("gold_monthly", "year=2024", 1L),
      ("gold_customer", "", 1L)))
    def customerIds() =
      if (graft.io.Sinks.parquetFileCount(spark, cfg.goldCustomerPath) == 0)
        Seq.empty[String]
      else spark.read.parquet(cfg.goldCustomerPath)
        .select("customer_id").as[String].collect().toSeq
    assert(customerIds().isEmpty)
    // the retry finds nothing left to erase and changes nothing
    SilverToGold.runErasure(spark, cfg, Seq("A").toDF("customer_id"),
      provenance = Some((card, 2L)))
    for (d <- touched) assert(!new java.io.File(d).exists(), d)
    assert(customerIds().isEmpty)
    assert(spark.read.parquet(card).filter($"tombstone_epoch" === 1L)
      .count() == 7)
    assert(cardOf(2L).forall(_._3 == 0L), cardOf(2L))
    // a full run over the emptied silver finds it absent: it does not
    // throw, and no tier's files or directories change
    def tiers(): Map[String, (Long, Long)] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        f +: Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      Seq(cfg.silverPath, cfg.goldDailyPath, cfg.goldMonthlyPath,
          cfg.goldCustomerPath)
        .flatMap(p => walk(new java.io.File(p)))
        .map(f => f.getPath -> ((f.length(), f.lastModified()))).toMap
    }
    val before = tiers()
    SilverToGold.run(spark, cfg)
    assert(tiers() == before)
  }

  test("erasure job count: two customers erased from a 2,000-row landing") {
    val root = tmp()
    val cfg = PipelineConfig(s"$root/raw", s"$root/silver", s"$root/gold",
      clock = clock)
    TransactionGen.writeJsonl(TransactionGen.generate(spark, 2000),
      s"$root/raw")
    BronzeToSilver.run(spark, cfg)
    SilverToGold.run(spark, cfg)
    val erased = spark.read.parquet(cfg.silverPath).select("customer_id")
      .distinct().orderBy("customer_id").limit(2).localCheckpoint()
    val jobs = org.apache.spark.sql.graftx.ListenerHook.countJobs(spark)(
      SilverToGold.runErasure(spark, cfg, erased))
    // three footprint scans, the staged silver rewrite, the gold refresh
    // and the customer-key delete: 32 jobs on this fixture
    assert(jobs <= 32, s"$jobs Spark jobs for one erasure")
    assert(spark.read.parquet(cfg.silverPath)
      .join(erased, Seq("customer_id"), "left_semi").isEmpty)
  }


  test("gold overwrite is idempotent: re-run produces identical tables") {
    val root = tmp()
    TransactionGen.writeJsonl(TransactionGen.generate(spark, 400), s"$root/raw")
    val cfg = PipelineConfig(s"$root/raw", s"$root/silver", s"$root/gold",
      clock = clock)
    BronzeToSilver.run(spark, cfg)
    SilverToGold.run(spark, cfg)
    val first = spark.read.parquet(cfg.goldDailyPath).collect().toSet
    SilverToGold.run(spark, cfg)
    val second = spark.read.parquet(cfg.goldDailyPath).collect().toSet
    assert(first == second)
  }

  test("incremental gold ≡ full recompute after N overlapping batches; " +
    "untouched partitions are never rewritten") {
    val root = tmp()
    val cfg = PipelineConfig(s"$root/raw", s"$root/silver", s"$root/gold",
      clock = clock)
    // full silver once, then re-play it as 3 HASH-split batches (so a y/m
    // partition accumulates rows across batches — the late-data case: the
    // incremental run must re-aggregate the whole partition each time)
    TransactionGen.writeJsonl(TransactionGen.generate(spark, 1200), s"$root/raw")
    val bronze = graft.io.Sources.bronzeJson(spark, s"$root/raw")
    val all = BronzeToSilver.transform(bronze, clock).localCheckpoint()
    for (i <- 0 until 3) {
      val batch = all.filter(pmod(xxhash64($"transaction_id"), lit(3)) === i)
        .localCheckpoint()
      graft.io.Sinks.writeSilver(batch, s"$root/silver")
      SilverToGold.runIncremental(spark, cfg, batch)
    }
    // reference result: the full recompute over the same silver
    val fullCfg = cfg.copy(goldPath = s"$root/gold_full")
    SilverToGold.run(spark, fullCfg)
    for (sub <- Seq("daily_aggregations", "monthly_aggregations",
        "customer_insights")) {
      val inc = spark.read.parquet(s"$root/gold/$sub")
      val full = spark.read.parquet(s"$root/gold_full/$sub")
        .select(inc.columns.map(col): _*)
      assert(inc.exceptAll(full).isEmpty && full.exceptAll(inc).isEmpty,
        s"$sub: incremental != full recompute")
    }
  }

  private val goldTables =
    Seq("daily_aggregations", "monthly_aggregations", "customer_insights")

  /** Gold table `sub` under `cfg` equals the same table under `ref`. */
  private def sameGold(cfg: PipelineConfig, ref: PipelineConfig,
      sub: String): Boolean = {
    val got = spark.read.parquet(s"${cfg.goldPath}/$sub")
    val want = spark.read.parquet(s"${ref.goldPath}/$sub")
      .select(got.columns.map(col): _*)
    got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty
  }

  test("overlapped incremental gold: one failed sink surfaces only after " +
    "the other two committed; a rerun of the batch equals a full recompute") {
    for (failing <- goldTables) {
      val root = tmp()
      val cfg = PipelineConfig(s"$root/raw", s"$root/silver", s"$root/gold",
        clock = clock)
      TransactionGen.writeJsonl(TransactionGen.generate(spark, 600),
        s"$root/raw")
      val all = BronzeToSilver.transform(
        graft.io.Sources.bronzeJson(spark, s"$root/raw"), clock)
        .localCheckpoint()
      val first = all.filter($"transaction_id" <= "txn_00000299")
        .localCheckpoint()
      val second = all.filter($"transaction_id" > "txn_00000299")
        .localCheckpoint()
      graft.io.Sinks.writeSilver(first, cfg.silverPath)
      SilverToGold.runIncremental(spark, cfg, first)
      graft.io.Sinks.writeSilver(second, cfg.silverPath)
      // an outage of exactly one sink's table: its directory moves aside
      // and a regular file takes its path, so only that sink can fail
      val live = new java.io.File(s"${cfg.goldPath}/$failing")
      val aside = new java.io.File(s"$root/aside")
      assert(live.renameTo(aside))
      Files.write(live.toPath, "outage".getBytes)
      intercept[Exception](SilverToGold.runIncremental(spark, cfg, second))
      assert(live.delete() && aside.renameTo(live))
      // by the time the failure surfaced, the other two sinks had run to
      // completion: committed, with no staging debris left behind
      val full = cfg.copy(goldPath = s"$root/gold_full")
      SilverToGold.run(spark, full)
      for (sub <- goldTables.filterNot(_ == failing))
        assert(sameGold(cfg, full, sub),
          s"$sub did not commit before the $failing failure surfaced")
      assert(new java.io.File(cfg.goldPath).list().sorted.toSeq ==
        goldTables.sorted)
      for (sub <- goldTables) assert(
        !new java.io.File(s"${cfg.goldPath}/$sub").list()
          .exists(_.startsWith(".spark-staging")), sub)
      // partial gold: the failed table still holds the first batch only
      assert(!sameGold(cfg, full, failing))
      // rerun the same batch: every table converges
      SilverToGold.runIncremental(spark, cfg, second)
      for (sub <- goldTables) assert(sameGold(cfg, full, sub),
        s"$sub != full recompute after rerunning past a $failing failure")
    }
  }

  test("an incremental micro-batch is a short job chain; an all-dirty batch " +
    "launches no silver-write or gold job and leaves every table " +
    "byte-untouched") {
    val root = tmp()
    val cfg = PipelineConfig(s"$root/raw", s"$root/silver", s"$root/gold",
      checkpointPath = s"$root/ckpt", clock = clock, incremental = true)
    TransactionGen.writeJsonl(TransactionGen.generate(spark, 300),
      s"$root/raw")
    // every Spark job started, and every SQL action run (its action name
    // and the root of its analyzed plan: writes are insert commands)
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val actions = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    val q = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        actions.add(s"$f ${qe.analyzed.nodeName}")
      def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = actions.add(s"$f failed")
    }
    def jobsOf(body: => Unit): (Int, Seq[String]) = {
      org.apache.spark.sql.graftx.ListenerHook.drain(spark)
      jobs.set(0)
      actions.clear()
      body
      org.apache.spark.sql.graftx.ListenerHook.drain(spark)
      (jobs.get(), actions.toArray(Array.empty[String]).toSeq)
    }
    def files(): Map[String, (Long, Long)] =
      Seq(cfg.silverPath, cfg.goldPath).flatMap { d =>
        java.nio.file.Files.walk(java.nio.file.Paths.get(d)).toArray.toSeq
          .map(_.asInstanceOf[java.nio.file.Path].toFile)
          .map(f => f.getPath -> (f.length(), f.lastModified()))
      }.toMap
    spark.sparkContext.addSparkListener(l)
    spark.listenerManager.register(q)
    try {
      val (batchJobs, batchActions) =
        jobsOf(IncrementalIngest.run(spark, cfg, maintainGold = true))
      // one staging action (the count and touched partitions observed on
      // it), then the silver append and the three gold sinks
      assert(batchActions.map(_.split(' ').head) ==
        Seq("localCheckpoint", "command", "command", "command", "command"),
        batchActions.mkString("\n"))
      assert(batchJobs <= 17, s"$batchJobs jobs for one micro-batch")
      // every line fails a cleaning rule: null customer, non-positive
      // amount, unparseable date, malformed JSON
      Files.write(java.nio.file.Paths.get(s"$root/raw/dirty.json"), Seq(
        """{"transaction_id":"d1","customer_id":null,"amount":5.0,"transaction_date":"2024-01-03 10:00:00"}""",
        """{"transaction_id":"d2","customer_id":"c1","amount":-5.0,"transaction_date":"2024-01-03 10:00:00"}""",
        """{"transaction_id":"d3","customer_id":"c1","amount":5.0,"transaction_date":"not a date"}""",
        """{"transaction_id":"d4", broken""").mkString("\n").getBytes)
      val before = files()
      val (dirtyJobs, dirtyActions) =
        jobsOf(IncrementalIngest.run(spark, cfg, maintainGold = true))
      assert(dirtyActions.map(_.split(' ').head) == Seq("localCheckpoint"),
        s"the all-dirty batch ran more than its staging:\n" +
          dirtyActions.mkString("\n"))
      assert(dirtyJobs > 0 && dirtyJobs < batchJobs)
      assert(files() == before, "an all-dirty batch touched silver or gold")
    } finally {
      spark.listenerManager.unregister(q)
      spark.sparkContext.removeSparkListener(l)
    }
  }

  test("incremental gold prunes the silver scan to touched partitions and " +
    "leaves other gold partition files byte-untouched") {
    val root = tmp()
    val cfg = PipelineConfig(s"$root/raw", s"$root/silver", s"$root/gold",
      clock = clock)
    // two months of data; ingest month 1 fully, then a month-2-only batch
    val rows = Seq(
      ("t1", "c1", 50.0, "2024-01-15 10:00:00"),
      ("t2", "c2", 70.0, "2024-01-20 11:00:00"),
      ("t3", "c1", 20.0, "2024-02-03 09:00:00"))
      .toDF("transaction_id", "customer_id", "amount", "td")
      .select($"transaction_id", $"customer_id", $"amount",
        to_timestamp($"td").as("transaction_date"))
      .withColumn("transaction_type", lit("purchase"))
    val silverAll = BronzeToSilver.transform(
      rows.withColumn("transaction_date",
        date_format($"transaction_date", "yyyy-MM-dd HH:mm:ss"))
        .withColumn("_corrupt_record", lit(null).cast("string")),
      clock).localCheckpoint()
    val jan = silverAll.filter($"month" === 1).localCheckpoint()
    val feb = silverAll.filter($"month" === 2).localCheckpoint()
    graft.io.Sinks.writeSilver(jan, s"$root/silver")
    SilverToGold.runIncremental(spark, cfg, jan)
    // snapshot January's gold-daily files (path → mtime)
    def janFiles(): Map[String, Long] = {
      val d = new java.io.File(s"$root/gold/daily_aggregations/year=2024/month=1")
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getPath -> f.lastModified()).toMap
    }
    val before = janFiles()
    assert(before.nonEmpty)
    // the February batch must not rewrite January's partition
    graft.io.Sinks.writeSilver(feb, s"$root/silver")
    SilverToGold.runIncremental(spark, cfg, feb)
    assert(janFiles() == before,
      "untouched y/m partition was rewritten by an unrelated batch")
    assert(new java.io.File(
      s"$root/gold/daily_aggregations/year=2024/month=2").exists())
    // the pruned silver scan: the daily aggregation's scan carries the
    // touched-partition literals as PartitionFilters
    val silver = graft.io.Sources.silverParquet(spark, s"$root/silver")
    val pruned = silver.filter($"year" === 2024 && $"month" === 2)
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("month"), scan)
    // both customers' insights survived the merge (c1 updated, c2 carried)
    val cust = spark.read.parquet(s"$root/gold/customer_insights")
    assert(cust.count() == 2)
    assert(cust.filter($"customer_id" === "c1")
      .head().getAs[Long]("lifetime_transactions") == 2L)
  }

  test("adversarial bronze rows are cleaned: dups, nulls, bad dates, non-positive amounts") {
    val root = tmp()
    val rows = Seq(
      """{"transaction_id":"t1","customer_id":"c1","amount":50.0,"transaction_date":"2024-01-15 10:30:00"}""",
      """{"transaction_id":"t1","customer_id":"c1","amount":50.0,"transaction_date":"2024-01-15 10:30:00"}""",
      """{"transaction_id":"t2","customer_id":null,"amount":10.0,"transaction_date":"2024-01-15 11:00:00"}""",
      """{"transaction_id":"t3","customer_id":"c3","amount":-4.0,"transaction_date":"2024-01-15 12:00:00"}""",
      """{"transaction_id":"t4","customer_id":"c4","amount":0.0,"transaction_date":"2024-01-15 12:00:00"}""",
      """{"transaction_id":"t5","customer_id":"c5","amount":9.99,"transaction_date":"GARBAGE"}""",
      """{"transaction_id":"t6","customer_id":"c6","amount":123.0,"transaction_date":"2024-01-16 09:00:00"}""",
      """this line is not json""")
    Files.createDirectories(java.nio.file.Paths.get(s"$root/raw"))
    Files.write(java.nio.file.Paths.get(s"$root/raw/batch.jsonl"),
      rows.mkString("\n").getBytes)
    val cfg = PipelineConfig(s"$root/raw", s"$root/silver", s"$root/gold",
      clock = clock)
    BronzeToSilver.run(spark, cfg)
    val silver = spark.read.parquet(s"$root/silver")
    assert(silver.select("transaction_id").as[String].collect().toSet ==
      Set("t1", "t6"))
    val t6 = silver.filter($"transaction_id" === "t6").head()
    assert(t6.getAs[String]("amount_category") === "medium")
    assert(t6.getAs[String]("transaction_type_derived") === "whole_number")
    assert(t6.getAs[Int]("hour") === 9)
  }

  test("pipeline runner retries with backoff then fails over to onFailure") {
    var attempts = 0
    var failed: Option[String] = None
    val slept = scala.collection.mutable.ArrayBuffer[Long]()
    val result = Pipeline.run(
      Seq(Pipeline.Stage("flaky", () => {
        attempts += 1
        if (attempts < 2) sys.error("transient")
      }),
        Pipeline.Stage("boom", () => sys.error("permanent"))),
      policy = Pipeline.RetryPolicy(intervalMillis = 10, maxRetries = 1),
      onFailure = (s, _) => failed = Some(s),
      sleep = slept.append(_))
    result match {
      case Pipeline.Failed(stage, _, stageResults) =>
        assert(stage == "boom")
        assert(stageResults.contains("flaky" -> 2)) // succeeded on retry
        assert(failed.contains("boom"))
        assert(slept.toSeq == Seq(10L, 10L)) // one backoff sleep per retry
      case other => fail(s"expected failure, got $other")
    }
  }

  test("Par.eval settles every task, then surfaces the first failure with " +
    "every later one attached as suppressed") {
    val settled = new java.util.concurrent.atomic.AtomicInteger()
    val e = intercept[IllegalStateException] {
      graft.orchestration.Par.eval[Int](Seq(
        () => { settled.incrementAndGet(); 1 },
        () => throw new IllegalStateException("first"),
        () => { Thread.sleep(100); settled.incrementAndGet(); 3 },
        () => throw new IllegalArgumentException("second")))
    }
    assert(e.getMessage == "first")
    assert(e.getSuppressed.toSeq.map(x => (x.getClass, x.getMessage)) ==
      Seq((classOf[IllegalArgumentException], "second")))
    assert(settled.get() == 2, "a sibling task was abandoned, not awaited")
  }

  test("datagen is deterministic and matches the reference domains") {
    val a = TransactionGen.generate(spark, 200).collect()
    val b = TransactionGen.generate(spark, 200).collect()
    assert(a.toSeq == b.toSeq)
    val df = TransactionGen.generate(spark, 500)
    assert(df.select("transaction_id").distinct().count() == 500)
    val amounts = df.select($"amount").as[Double].collect()
    assert(amounts.forall(x => x >= 10.0 && x <= 5000.0))
    assert(df.select("customer_id").distinct().count() <= 200)
    assert(df.select(min(to_timestamp($"transaction_date"))).as[Timestamp]
      .head().toString.startsWith("2024-01"))
  }

  test("composed pretrain pipeline: the eight orchestrated stages through " +
    "Pipeline.run land on the pure composition's manifest, every stage " +
    "writes, and each stage strictly filters its input") {
    val root = tmp()
    val raw = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .localCheckpoint()
    val result = Pipeline.run(PretrainCorpus.stages(spark, raw, root),
      sleep = _ => ())
    assert(result.isInstanceOf[Pipeline.Succeeded])
    assert(result.stageResults.map(_._1) == Seq("clean", "quality", "langid",
      "exact_dedup", "near_dedup", "decontaminate", "mix", "manifest"))
    // the staged (disk-chained) run equals the pure in-memory composition
    val staged = spark.read.parquet(s"$root/s8_manifest")
    val pure = PretrainCorpus.manifest(raw).select(staged.columns.map(col): _*)
    assert(staged.exceptAll(pure).isEmpty && pure.exceptAll(staged).isEmpty,
      "orchestrated manifest != pure composition")
    // monotone survivorship: each filter stage emits a (non-strict) subset
    val counts = Seq("s1_clean", "s2_quality", "s3_lang", "s4_exact",
      "s5_near", "s6_decon", "s7_mix")
      .map(n => spark.read.parquet(s"$root/$n").count())
    assert(counts.zip(counts.tail).forall { case (a, b) => b <= a },
      s"stage counts must be non-increasing: $counts")
    assert(counts.last > 0, "the composed pipeline must keep some documents")
    // survivors are a subset of the raw ids (no stage invents rows)
    val fin = spark.read.parquet(s"$root/s7_mix").select("doc_id")
    assert(fin.join(raw.select("doc_id"), Seq("doc_id"), "left_anti")
      .isEmpty)
  }

  test("pretrain erasure replays admissions: a doc suppressed as the " +
    "erased subject's near-dup is readmitted, and no store keeps a trace") {
    val root = tmp()
    val tA = "the quick brown fox jumps over a lazy dog while the rain " +
      "in spain falls mainly on the plain and the cat sat on the mat"
    val tB = tA.replace("cat", "bat") // near-dup of tA (1 word of ~25)
    val tC = "every good boy does fine and the sun will rise again to " +
      "warm a quiet field of green grass near the old mill today"
    val docs = Seq((1L, tA), (2L, tB), (3L, tC))
      .map { case (i, t) => (i, t, "en", "srcA", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val cfg = PretrainCorpus.Config(mixRates = Map("srcA" -> 1.0))
    PretrainCorpus.ingestWave(spark, docs, docs, root, cfg)
    def corpusIds = spark.read.parquet(s"$root/corpus")
      .select($"doc_id").as[Long].collect().toSet
    // doc 2 suppressed as doc 1's near-dup later member
    assert(corpusIds == Set(1L, 3L), s"precondition: $corpusIds")
    PretrainCorpus.eraseDocs(spark, root, Seq(1L).toDF("doc_id"))
    // the subject is gone AND its suppression of doc 2 is replayed away
    assert(corpusIds == Set(2L, 3L), s"after erasure: $corpusIds")
    // no store keeps a trace of doc 1
    for (sub <- Seq("corpus", "fingerprints", "admissions",
        "dedup_store/corpus", "dedup_store/index")) {
      assert(spark.read.parquet(s"$root/$sub")
        .filter($"doc_id" === 1L).isEmpty, s"doc 1 survives in $sub")
    }
    assert(spark.read.parquet(s"$root/dedup_store/pairs")
      .filter($"id_a" === 1L || $"id_b" === 1L).isEmpty)
    // and a fresh identical copy from a NEW owner is admissible again
    // (the fingerprint block died with the subject)
    PretrainCorpus.ingestWave(spark,
      Seq((50L, tA, "en", "srcA", tA.length.toLong))
        .toDF("doc_id", "text", "lang", "source", "n_chars"), docs, root,
      cfg)
    assert(corpusIds.contains(50L) || // kept unless near-dup-suppressed
      spark.read.parquet(s"$root/dedup_store/pairs")
        .filter($"id_b" === 50L).count() > 0)
  }

  test("a corpus erased down to nothing stays ingestable: the next wave " +
    "bootstraps from the anchor-only stores instead of tripping on the " +
    "missing __wv layout") {
    val root = tmp()
    val t1 = "the quick brown fox jumps over a lazy dog while the rain " +
      "in spain falls mainly on the plain and the cat sat on the mat"
    val t2 = "every good boy does fine and the sun will rise again to " +
      "warm a quiet field of green grass near the old mill today"
    def wave(id: Long, t: String) =
      Seq((id, t, "en", "srcA", t.length.toLong))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
    val raw = wave(1L, t1).unionByName(wave(50L, t2)).localCheckpoint()
    val cfg = PretrainCorpus.Config(mixRates = Map("srcA" -> 1.0))
    PretrainCorpus.ingestWave(spark, wave(1L, t1), raw, root, cfg)
    // forget EVERYTHING: stores swap down to their flat schema anchors
    PretrainCorpus.eraseDocs(spark, root, Seq(1L).toDF("doc_id"))
    // a retry of the completed erasure finds nothing left to erase: the
    // stores it emptied hold no data files (or only the anchor)
    PretrainCorpus.eraseDocs(spark, root, Seq(1L).toDF("doc_id"))
    // the next (id-ordered) wave must ingest cleanly from anchor state
    PretrainCorpus.ingestWave(spark, wave(50L, t2), raw, root, cfg)
    assert(spark.read.parquet(s"$root/corpus")
      .select($"doc_id").as[Long].collect().toSet == Set(50L))
    // and the ordering guard still has no prior ids to trip on
    assert(spark.read.parquet(s"$root/fingerprints")
      .select($"doc_id").as[Long].collect().toSet == Set(50L))
    // a NON-empty legacy (no __wv) fingerprint store fails loudly rather
    // than silently deduping the wave against nothing
    val legacy = tmp()
    Seq((7L, "aa")).toDF("doc_id", "fp")
      .write.parquet(s"$legacy/fingerprints")
    val le = intercept[IllegalStateException] {
      PretrainCorpus.ingestWave(spark, wave(80L, t1), raw, legacy, cfg)
    }
    assert(le.getMessage.contains("legacy"), le.getMessage)
    // and an erasure over it fails loudly too: rows without the __bk
    // layout cannot be bucket-pruned
    val ee = intercept[IllegalStateException] {
      PretrainCorpus.eraseDocs(spark, legacy, Seq(7L).toDF("doc_id"))
    }
    assert(ee.getMessage.contains("__bk"), ee.getMessage)
  }

  test("incremental ingest enforces the id-ordering precondition: an " +
    "out-of-order wave fails loudly and names the batch arbiter") {
    val raw = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .localCheckpoint()
    val mid = raw.agg(max($"doc_id")).head().getLong(0) / 2
    val root = tmp()
    // the UPPER id range lands first…
    PretrainCorpus.ingestWave(spark, raw.filter($"doc_id" > mid), raw, root)
    // …so the lower range violates the precondition the batch-equivalence
    // proof depends on, and must not silently produce a diverging corpus
    val e = intercept[IllegalStateException] {
      PretrainCorpus.ingestWave(spark, raw.filter($"doc_id" <= mid), raw,
        root)
    }
    assert(e.getMessage.contains("out-of-order") &&
      e.getMessage.contains("batch"), e.getMessage)
    // the guard fired before any store mutation: the store still holds
    // exactly the first wave and stays ingestable for an in-order wave
    val n = spark.read.parquet(s"$root/fingerprints").count()
    assert(n == spark.read.parquet(s"$root/dedup_store/corpus").count())
    PretrainCorpus.ingestWave(spark,
      raw.withColumn("doc_id", $"doc_id" + 1000000L), raw, root)
    assert(spark.read.parquet(s"$root/fingerprints").count() > n)
  }

  test("wave commit is idempotent: a crash-replayed wave — partial or " +
    "complete — overwrites its own output instead of double-appending") {
    val raw = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .localCheckpoint()
    val mid = raw.agg(max($"doc_id")).head().getLong(0) / 2
    val w0 = raw.filter($"doc_id" <= mid)
    val w1 = raw.filter($"doc_id" > mid)
    def snapshot(root: String): Seq[(String, Set[Long], Long)] =
      Seq("corpus", "fingerprints", "admissions", "dedup_store/corpus",
        "dedup_store/index").map { sub =>
        val df = spark.read.parquet(s"$root/$sub")
        (sub, df.select($"doc_id").distinct().as[Long].collect().toSet,
          df.count())
      } :+ {
        val p = spark.read.parquet(s"$root/dedup_store/pairs")
        ("pairs", p.select($"id_a").as[Long].collect().toSet ++
          p.select($"id_b").as[Long].collect().toSet, p.count())
      }
    // reference: each wave ingested exactly once
    val ref = tmp()
    PretrainCorpus.ingestWave(spark, w0, raw, ref)
    PretrainCorpus.ingestWave(spark, w1, raw, ref)
    val want = snapshot(ref)
    // replayed: wave 1 crashes twice — once right after the dedup-store
    // ingest but before any corpus/fp/admission commit landed (simulated
    // by deleting those wave partitions), once after a COMPLETE commit
    // (full redelivery) — then runs once more to completion
    val rep = tmp()
    PretrainCorpus.ingestWave(spark, w0, raw, rep)
    PretrainCorpus.ingestWave(spark, w1, raw, rep)
    // the stores are (__bk, __wv)-partitioned: a wave's commit is the
    // set of __wv=<wid> leaves across the bucket dirs
    def waveDirs(sub: String, wid: Long): Seq[java.io.File] =
      Option(new java.io.File(s"$rep/$sub").listFiles()).toSeq.flatten
        .filter(_.getName.startsWith("__bk="))
        .map(b => new java.io.File(b, s"__wv=$wid")).filter(_.exists())
    val wid1 = Option(new java.io.File(s"$rep/corpus").listFiles())
      .toSeq.flatten.filter(_.getName.startsWith("__bk="))
      .flatMap(b => Option(b.listFiles()).toSeq.flatten.map(_.getName))
      .filter(_.startsWith("__wv="))
      .map(_.stripPrefix("__wv=").toLong).max
    // partial-crash simulation: the fp store kept the wave but the corpus
    // and admissions never landed (the exact ordering hazard ADVICE named)
    for (sub <- Seq("corpus", "admissions"))
      assert(waveDirs(sub, wid1).nonEmpty, s"$sub lacks wave $wid1")
    for (sub <- Seq("corpus", "admissions"); d <- waveDirs(sub, wid1))
      org.apache.commons.io.FileUtils.deleteDirectory(d)
    PretrainCorpus.ingestWave(spark, w1, raw, rep) // replay after partial
    PretrainCorpus.ingestWave(spark, w1, raw, rep) // full redelivery
    assert(snapshot(rep) == want,
      s"replayed stores diverged:\n got=${snapshot(rep)}\nwant=$want")
  }

  test("eraseDocs coerces mismatched id types before bucket hashing: an " +
    "IntegerType GDPR list against LongType stores erases fully instead " +
    "of hashing into the wrong buckets and silently erasing nothing") {
    val root = tmp()
    val t1 = "the quick brown fox jumps over a lazy dog while the rain " +
      "in spain falls mainly on the plain and the cat sat on the mat"
    val t2 = "every good boy does fine and the sun will rise again to " +
      "warm a quiet field of green grass near the old mill today"
    val docs = Seq((1L, t1), (50L, t2))
      .map { case (i, t) => (i, t, "en", "srcA", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val cfg = PretrainCorpus.Config(mixRates = Map("srcA" -> 1.0))
    PretrainCorpus.ingestWave(spark, docs, docs, root, cfg)
    // the subject arrives as INT (e.g. parsed from a CSV of ints);
    // xxhash64(int) != xxhash64(long), so uncoerced bucket pruning
    // would miss the subject's real buckets
    PretrainCorpus.eraseDocs(spark, root, Seq(1).toDF("doc_id"))
    for (sub <- Seq("corpus", "fingerprints", "admissions",
        "dedup_store/corpus")) {
      assert(spark.read.parquet(s"$root/$sub")
        .filter($"doc_id" === 1L).isEmpty,
        s"doc 1 survives in $sub after an int-typed erase request")
    }
    assert(spark.read.parquet(s"$root/corpus")
      .filter($"doc_id" === 50L).count() == 1,
      "the retained doc must survive the typed erase")
  }

  test("eraseDocs is footprint-bounded: bucket directories outside the " +
    "subject's (and its pair partners') id-hash buckets stay " +
    "byte-identical through an erasure") {
    val raw = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .localCheckpoint()
    val w = raw.agg(max($"doc_id")).head().getLong(0) / 3 + 1
    val root = tmp()
    for (i <- 0L until 3L)
      PretrainCorpus.ingestWave(spark,
        raw.filter(expr(s"doc_id div $w") === i), raw, root)
    val subjects = raw
      .filter(substring(md5($"doc_id".cast("string")), 1, 1) === "0")
      .select($"doc_id").as[Long].collect().toSet
    val partners = spark.read.parquet(s"$root/dedup_store/pairs")
      .filter($"id_a".isin(subjects.toSeq: _*))
      .select($"id_b").as[Long].collect().toSet -- subjects
    def bucketsOf(ids: Set[Long]): Set[Long] =
      ids.toSeq.toDF("doc_id")
        .select(pmod(xxhash64($"doc_id"), lit(16L))).as[Long]
        .collect().toSet
    val subjectBk = bucketsOf(subjects)
    val corpusBk = subjectBk ++ bucketsOf(partners)
    def untouchedFiles(sub: String, affected: Set[Long])
        : Map[String, (Long, Long)] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
        else Seq(f)
      Option(new java.io.File(s"$root/$sub").listFiles()).toSeq.flatten
        .filter(b => b.getName.startsWith("__bk=") &&
          !affected.contains(b.getName.stripPrefix("__bk=").toLong))
        .flatMap(walk)
        .map(f => f.getPath -> ((f.length(), f.lastModified()))).toMap
    }
    val before = Map(
      "fingerprints" -> untouchedFiles("fingerprints", subjectBk),
      "admissions" -> untouchedFiles("admissions", subjectBk),
      "corpus" -> untouchedFiles("corpus", corpusBk))
    // the test must have power: some buckets are untouched, some touched
    assert(before.values.forall(_.nonEmpty),
      "fixture left no untouched buckets — shrink the subject set")
    assert(subjectBk.nonEmpty && subjectBk.size < 16)
    PretrainCorpus.eraseDocs(spark, root, subjects.toSeq.toDF("doc_id"))
    val after = Map(
      "fingerprints" -> untouchedFiles("fingerprints", subjectBk),
      "admissions" -> untouchedFiles("admissions", subjectBk),
      "corpus" -> untouchedFiles("corpus", corpusBk))
    for (sub <- before.keys)
      assert(after(sub) == before(sub),
        s"$sub: untouched buckets were rewritten — the erasure is not " +
          s"footprint-bounded (diff=${
            (after(sub).toSet diff before(sub).toSet).take(3)})")
    // and the erasure actually did its job inside the footprint
    assert(spark.read.parquet(s"$root/corpus")
      .filter($"doc_id".isin(subjects.toSeq: _*)).isEmpty)
    assert(spark.read.parquet(s"$root/fingerprints")
      .filter($"doc_id".isin(subjects.toSeq: _*)).isEmpty)
  }

  test("incremental pretrain ingest: 2-wave and 5-wave id-range splits " +
    "both land on the batch composition's corpus exactly") {
    val raw = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .localCheckpoint()
    val batch = PretrainCorpus.corpus(raw)
      .select($"doc_id").as[Long].collect().toSet
    val w = raw.agg(max($"doc_id")).head().getLong(0)
    for (waves <- Seq(2L, 5L)) {
      val root = tmp()
      val span = w / waves + 1
      for (i <- 0L until waves)
        PretrainCorpus.ingestWave(spark,
          raw.filter(expr(s"doc_id div $span") === i), raw, root)
      val inc = spark.read.parquet(s"$root/corpus")
        .select($"doc_id").as[Long].collect().toSet
      assert(inc == batch,
        s"$waves-wave incremental corpus != batch: " +
          s"extra=${(inc -- batch).take(5)} missing=${(batch -- inc).take(5)}")
    }
  }

  test("ordering guard reads the O(1) _maxid watermark and trips " +
    "IDENTICALLY from the marker and from the scan fallback") {
    val raw = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .localCheckpoint()
    val mid = raw.agg(max($"doc_id")).head().getLong(0) / 2
    val root = tmp()
    PretrainCorpus.ingestWave(spark, raw.filter($"doc_id" > mid), raw, root)
    // the ingest published the watermark
    assert(new java.io.File(root, "_maxid").exists(),
      "ingestWave did not publish the _maxid watermark")
    def trip(): String = intercept[IllegalStateException] {
      PretrainCorpus.ingestWave(spark, raw.filter($"doc_id" <= mid), raw,
        root)
    }.getMessage
    // marker path: the guard trips without scanning the store
    val viaMarker = trip()
    // scan fallback (pre-marker / post-erasure store shape): delete the
    // marker — the guard must reach the SAME verdict with the SAME bound
    assert(new java.io.File(root, "_maxid").delete())
    val viaScan = trip()
    assert(viaMarker == viaScan,
      s"guard verdicts diverge:\n marker=$viaMarker\n scan=$viaScan")
    // an in-order wave passes and re-establishes the marker from the scan
    PretrainCorpus.ingestWave(spark,
      raw.withColumn("doc_id", $"doc_id" + 1000000L), raw, root)
    assert(new java.io.File(root, "_maxid").exists(),
      "the scan-guarded wave did not re-establish the watermark")
    // and the re-established marker guards the next out-of-order wave too
    assert(intercept[IllegalStateException] {
      PretrainCorpus.ingestWave(spark, raw.filter($"doc_id" <= mid), raw,
        root)
    }.getMessage.contains("out-of-order"))
  }

  test("bucket modulus is recorded at ingest and enforced ever after: a " +
    "mismatched ingest or erase fails loudly instead of silently hashing " +
    "into the wrong buckets") {
    val root = tmp()
    val t1 = "the quick brown fox jumps over a lazy dog while the rain " +
      "in spain falls mainly on the plain and the cat sat on the mat"
    val t2 = "every good boy does fine and the sun will rise again to " +
      "warm a quiet field of green grass near the old mill today"
    val docs = Seq((1L, t1), (50L, t2))
      .map { case (i, t) => (i, t, "en", "srcA", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val cfg8 = PretrainCorpus.Config(mixRates = Map("srcA" -> 1.0),
      nBuckets = 8)
    PretrainCorpus.ingestWave(spark, docs, docs, root, cfg8)
    assert(graft.io.Sinks.readNBuckets(spark, root).contains(8))
    assert(graft.io.Sinks.readNBuckets(spark, s"$root/dedup_store")
      .contains(8))
    // a later ingest with a different modulus fails loudly (both the
    // workDir family and the dedup store are guarded)
    val e1 = intercept[IllegalStateException] {
      PretrainCorpus.ingestWave(spark,
        docs.withColumn("doc_id", $"doc_id" + 1000L), docs, root,
        cfg8.copy(nBuckets = 16))
    }
    assert(e1.getMessage.contains("bucket-modulus mismatch"), e1.getMessage)
    // an erase asserting the WRONG modulus fails loudly...
    val e2 = intercept[IllegalArgumentException] {
      PretrainCorpus.eraseDocs(spark, root, Seq(1L).toDF("doc_id"),
        nBuckets = Some(4))
    }
    assert(e2.getMessage.contains("bucket-modulus mismatch"), e2.getMessage)
    assert(spark.read.parquet(s"$root/corpus")
      .filter($"doc_id" === 1L).count() == 1,
      "the rejected erase must not have mutated the store")
    // ...and a marker-resolved erase (no free parameter at all) works —
    // the modulus the subject hashes with is the store's own record
    PretrainCorpus.eraseDocs(spark, root, Seq(1L).toDF("doc_id"))
    for (sub <- Seq("corpus", "fingerprints", "dedup_store/corpus"))
      assert(spark.read.parquet(s"$root/$sub")
        .filter($"doc_id" === 1L).isEmpty,
        s"doc 1 survives in $sub after the marker-resolved erase")
  }

  test("erasure retires the _maxid watermark: the next wave's guard " +
    "falls back to the scan and re-establishes the marker") {
    val root = tmp()
    val t1 = "the quick brown fox jumps over a lazy dog while the rain " +
      "in spain falls mainly on the plain and the cat sat on the mat"
    val t2 = "every good boy does fine and the sun will rise again to " +
      "warm a quiet field of green grass near the old mill today"
    def wave(id: Long, t: String) =
      Seq((id, t, "en", "srcA", t.length.toLong))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
    val raw = wave(1L, t1).unionByName(wave(50L, t2)).localCheckpoint()
    val cfg = PretrainCorpus.Config(mixRates = Map("srcA" -> 1.0))
    PretrainCorpus.ingestWave(spark, wave(50L, t2), raw, root, cfg)
    assert(new java.io.File(root, "_maxid").exists())
    // forget doc 50 — the recorded high-water bound (50) no longer
    // describes the store, so the marker must go with it
    PretrainCorpus.eraseDocs(spark, root, Seq(50L).toDF("doc_id"))
    assert(!new java.io.File(root, "_maxid").exists(),
      "a stale watermark would over-guard the next wave")
    // doc 1 (below the RETIRED bound) now ingests cleanly: the store is
    // anchor-only, the scan finds no prior ids, and the marker returns
    PretrainCorpus.ingestWave(spark, wave(1L, t1), raw, root, cfg)
    assert(spark.read.parquet(s"$root/corpus")
      .select($"doc_id").as[Long].collect().toSet == Set(1L))
    assert(new java.io.File(root, "_maxid").exists())
  }

}
