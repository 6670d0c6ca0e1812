package graft.jobs

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, collect_set, count, current_timestamp, lit, struct, when}
import org.apache.spark.sql.graftx.CheckpointUtils
import org.apache.spark.storage.StorageLevel

import graft.config.PipelineConfig
import graft.io.{Sinks, Sources}
import graft.ops.Aggregations
import graft.orchestration.Par

/** Silver → gold job: three independent aggregations from one silver scan
  * (reference `src/glue_jobs/silver_to_gold.py:main`).
  *
  * The reference scans silver three times with no cache (SURVEY.md §4.3
  * anti-pattern); here the cleaned projection is persisted MEMORY_AND_DISK
  * across the fan-out and unpersisted after — at 100 TB that's one scan of
  * the fact table instead of three (with only the ~7 referenced columns
  * cached, thanks to column pruning before the persist point).
  */
object SilverToGold {

  /** The silver columns the three gold aggregates read. */
  private val goldInput = Seq("transaction_id", "customer_id", "amount",
    "transaction_date", "year", "month", "day").map(col)

  /** The `created_at` stamp of every gold row: the fixed clock, else now. */
  private def createdAt(cfg: PipelineConfig): Column =
    cfg.clock.map(t => lit(t)).getOrElse(current_timestamp())

  /** Full recompute-overwrite of the three gold tables from silver.
    * The three sinks run concurrently, so a failure in one leaves the
    * other two committed — rerun; do not trust partial gold.
    */
  def run(spark: SparkSession, cfg: PipelineConfig): Unit = {
    // a silver table with no data file (an erasure took its last rows) is
    // absent, as the erasure counts it: reading it would fail schema
    // inference before the empty-input test below
    if (Sinks.parquetFileCount(spark, cfg.silverPath) == 0) return
    val silver = Sources.silverParquet(spark, cfg.silverPath)
    // P7 — empty-input short-circuit (silver_to_gold.py:122-124)
    if (silver.isEmpty) return
    val projected = silver.select(goldInput: _*)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val at = createdAt(cfg)
      val daily = Aggregations.daily(projected, cfg.approxDistinct)
        .withColumn("created_at", at)
        .filter("year IS NOT NULL AND month IS NOT NULL") // P5 guard
      val monthly = Aggregations.monthly(projected, cfg.approxDistinct)
        .withColumn("created_at", at)
        .filter("year IS NOT NULL")
      val customer = Aggregations.customerInsights(projected, cfg.approxDistinct)
        .withColumn("created_at", at)
      // the three sinks are independent (three aggregations of the SAME
      // persisted projection, three disjoint output paths) — overlap them
      // (guide §2.6): the monthly/customer jobs back-fill the executors the
      // daily write's tail frees, and on a cluster the three per-job
      // scheduling round-trips overlap. Concurrent first-materialization of
      // `projected` is safe: the block manager computes each cached
      // partition once under a per-block lock.
      Par.run(Seq(
        () => Sinks.writeGoldDaily(daily, cfg.goldDailyPath),
        () => Sinks.writeGoldMonthly(monthly, cfg.goldMonthlyPath),
        () => Sinks.writeGoldCustomer(customer, cfg.goldCustomerPath)))
    } finally projected.unpersist()
  }

  /** A silver-shaped batch staged ONCE (`localCheckpoint`), with the two
    * facts the incremental path branches on observed on that same pass:
    * its row count (the P6/P7 empty-batch test) and its touched
    * (year, month) partitions (null keys excluded — P5 guard). Every
    * consumer (silver append, gold maintenance) reads the checkpoint, so
    * the bronze scan and the dedup shuffle run once per batch. The
    * caller owns `rows` and unpersists it
    * (`CheckpointUtils.unpersistLocalCheckpoint`).
    */
  final case class StagedBatch(rows: DataFrame, count: Long,
      pairs: Seq[(Int, Int)])

  /** Stage `batch` (see [[StagedBatch]]): one job chain; the count and
    * the touched-partition set ride the checkpoint job as observed
    * metrics instead of separate `isEmpty` / `distinct().collect()` jobs.
    */
  def stage(batch: DataFrame): StagedBatch = {
    val (rows, obs) = CheckpointUtils.materialize(
      batch, count(lit(1)).as("n"),
      collect_set(when(col("year").isNotNull && col("month").isNotNull,
        struct(col("year"), col("month")))).as("pairs"))
    val pairs = obs("pairs").asInstanceOf[scala.collection.Seq[Row]]
      .map(r => (r.getInt(0), r.getInt(1))).toSeq.sorted
    StagedBatch(rows, obs("n").asInstanceOf[Long], pairs)
  }

  /** PARTITION-RESTRICTED gold maintenance — the 100 TB path [[run]]'s
    * full recompute-overwrite cannot take: only the gold partitions the
    * just-ingested `batch` of silver rows touches are re-aggregated and
    * replaced (dynamic partition overwrite), so nightly cost scales with
    * the BATCH's time footprint, not the table's history. Spec-asserted
    * equivalent to [[run]] after any batch sequence: re-aggregating a
    * whole y/m partition from silver is idempotent in how many batches
    * contributed rows to it (late data simply re-aggregates its
    * partition), the same argument the reference's full overwrite relies
    * on, applied per partition.
    *
    * `batch` must be silver-shaped (the frame just appended — e.g.
    * [[BronzeToSilver.transform]]'s output). It is staged once
    * ([[stage]]); callers that already hold a [[StagedBatch]] (the
    * streaming ingest) pass it directly. Empty batch → no-op (P7).
    *
    * FAILURE: the three sinks run concurrently, so a failure in one
    * leaves the other two committed — rerun the same batch; do not trust
    * partial gold. A rerun converges (spec-proven per failed sink).
    */
  def runIncremental(spark: SparkSession, cfg: PipelineConfig,
      batch: DataFrame): Unit = {
    val staged = stage(batch)
    try runIncremental(spark, cfg, staged)
    finally CheckpointUtils.unpersistLocalCheckpoint(staged.rows)
  }

  /** [[runIncremental]] over an already staged batch. The gold
    * partitions the batch touches — daily for its (year, month) pairs,
    * monthly for their years — are re-aggregated from silver as it stands
    * after the batch's append, by the same partition refresh the erasure
    * uses. Customer insights are not partition-prunable (a customer's
    * metrics span all history): silver is semi-joined to the batch's
    * customers (one scan, narrow output) and the resulting rows key-merge
    * into the customer table ([[Sinks.mergeGoldCustomer]]), concurrently
    * with the two partition writes (three disjoint tables, guide §2.6).
    * The merge runs even when every row has a null year/month (no touched
    * partition).
    */
  def runIncremental(spark: SparkSession, cfg: PipelineConfig,
      staged: StagedBatch): Unit = {
    if (staged.count == 0L) return
    val silver = Sources.silverParquet(spark, cfg.silverPath)
    // the broadcast semi-join build side ignores duplicate keys, so the
    // batch's customer column needs no distinct (a shuffle job) first
    val insights = Aggregations.customerInsights(
        silver.join(broadcast(staged.rows.select(col("customer_id"))),
          Seq("customer_id"), "left_semi").select(goldInput: _*),
        cfg.approxDistinct)
      .withColumn("created_at", createdAt(cfg))
    refreshGold(cfg, silver, staged.pairs, staged.pairs.map(_._1).distinct,
      () => Sinks.mergeGoldCustomer(spark, insights, "customer_id",
        cfg.goldCustomerPath))
  }

  /** GDPR / right-to-be-forgotten erasure — the deletion path [[run]]'s
    * full overwrite cannot take at 100 TB: rewrite ONLY the silver
    * day-partitions that hold the erased customers' rows, re-aggregate
    * only the gold partitions those rows touched (from the REWRITTEN
    * silver), and key-delete the customers from the customer table. Cost
    * scales with the erased customers' time footprint, never the table.
    *
    * CRASH-SAFE / IDEMPOTENT: the subject's footprint is scanned on every
    * tier, and the gold partitions to refresh are the UNION of the silver
    * and the gold footprints (the daily and monthly tables carry
    * customer_id). A retry after any partial run therefore still finds
    * every stale gold partition: after a crash between the silver rewrite
    * and the gold refresh silver is already clean, and after a failed
    * monthly write only gold monthly still holds the subject — the daily
    * and monthly refreshes run independently, each on its own touched
    * set. The customer-table key delete runs UNCONDITIONALLY (even when
    * silver is empty or already clean), and a second invocation after
    * success is a no-op. A table with no data file counts as absent, and
    * the gold refresh reads the rewritten silver under the schema taken
    * before the rewrite, so an erasure that takes silver's last rows
    * completes, and so does its retry.
    *
    * Dynamic partition overwrite only replaces partitions PRESENT in the
    * written frame, so partitions left EMPTY by the erasure are dropped
    * explicitly ([[Sinks.deletePartitionDirs]]) — silver day dirs, gold
    * month dirs, and gold year dirs alike; without that the old files
    * (and the data subject's rows) would silently survive. With no silver
    * to recompute from, gold is rewritten without the subject's rows
    * instead, so other customers' aggregates survive.
    *
    * Erased-customer rows in a NULL partition (hive default partition) of
    * any tier fail LOUDLY: partition predicates cannot address them, so
    * completing "successfully" while they survive would be a silent
    * compliance violation. The writers guard partition keys (P5), so this
    * only fires on tables written outside this library.
    *
    * `customers`' first column is the erased customer-id set (bounded:
    * erasure requests are human-scale). Spec-proven: end state ≡ a full
    * [[run]] over silver-minus-customers, byte-erased on disk, including
    * after a simulated mid-erasure crash.
    *
    * `provenance = Some((path, epoch))` additionally APPENDS an erasure
    * provenance card — one row per touched partition per tier:
    * (tombstone_epoch, tier, partition, rows_erased), plus the
    * customer-table row count — so derived-corpus consumers can prove
    * freshness against a tombstone epoch instead of re-scanning for the
    * subject (oracle-gated: every count is recomputable from the cleaned
    * law). The counts are MEASURED before any mutation (the rewrite
    * destroys the evidence) but the card is WRITTEN only after every
    * tier's mutation succeeds: a card row existing for an epoch means
    * that erasure completed, so a crash mid-erasure never leaves a
    * tombstone consumers would wrongly trust. The card records what THIS
    * invocation found: a crash-retry appends a new epoch whose counts
    * cover only what remained.
    */
  def runErasure(spark: SparkSession, cfg: PipelineConfig,
      customers: DataFrame,
      provenance: Option[(String, Long)] = None): Unit = {
    val keys = customers
      .select(col(customers.columns.head).cast("string").as("customer_id"))
      .distinct().localCheckpoint()
    try {
      val tiers = Seq(
        "silver" -> (cfg.silverPath, Seq("year", "month", "day")),
        "gold_daily" -> (cfg.goldDailyPath, Seq("year", "month")),
        "gold_monthly" -> (cfg.goldMonthlyPath, Seq("year"))) ++
        provenance.map(_ => "gold_customer" -> (cfg.goldCustomerPath, Nil))
      // independent read-only scans of different tables: overlap them
      // (guide §2.6) instead of paying one job round-trip after another
      val footprints = Par.eval(tiers.map { case (_, (path, partCols)) =>
        () => footprint(spark, keys, path, partCols) })
      val Seq(silver, daily, monthly) = footprints.take(3)
      val pairs = (silver.touched.map(_.take(2)) ++ daily.touched).distinct
        .map { case Seq(y, m) => (y, m) }
      val years = (pairs.map(_._1) ++ monthly.touched.map(_.head)).distinct
      // silver rewrite → gold refresh is a dependent chain (gold
      // recomputes from the REWRITTEN silver)
      def silverAndGold(): Unit = silver.table match {
        case None => Par.run(Seq(
          () => rewriteWithout(spark, keys, daily,
            Sinks.overwriteGoldDailyPartitions),
          () => rewriteWithout(spark, keys, monthly,
            Sinks.overwriteGoldMonthlyPartitions)))
        case Some(before) =>
          rewriteWithout(spark, keys, silver, Sinks.overwriteSilverPartitions)
          val after = spark.read.schema(before.schema).parquet(cfg.silverPath)
          // the gold partitions the erasure emptied: the refresh writes
          // nothing there, so their old files are dropped (disjoint from
          // every partition the refresh writes)
          refreshGold(cfg, after, pairs, years, () => if (years.nonEmpty) {
            val left = after.filter(col("year").isin(years: _*))
              .select("year", "month").distinct().collect()
              .map(r => (r.getInt(0), r.getInt(1))).toSet
            Sinks.deletePartitionDirs(spark, cfg.goldDailyPath,
              pairs.filterNot(left).map { case (y, m) => s"year=$y/month=$m" })
            Sinks.deletePartitionDirs(spark, cfg.goldMonthlyPath,
              years.filterNot(left.map(_._1)).map(y => s"year=$y"))
          })
      }
      // the customer table row is a pure key delete (a merge cannot
      // remove keys that no longer have any rows) — UNCONDITIONAL, so an
      // empty or already-clean silver still erases the aggregate row; no
      // step of the silver/gold chain reads or writes that table
      Par.run(Seq(() => silverAndGold(), () => Sinks.deleteGoldCustomerKeys(
        spark, keys, "customer_id", cfg.goldCustomerPath)))
      // every tier's mutation succeeded: publish the card, whose counts
      // were measured before any mutation destroyed the evidence
      provenance.foreach { case (path, epoch) =>
        import spark.implicits._
        tiers.zip(footprints).flatMap { case ((tier, _), fp) =>
          fp.counts.map { case (vs, n) => (epoch, tier, fp.rel(vs), n) } }
          .toDF("tombstone_epoch", "tier", "partition", "rows_erased")
          .coalesce(1).write.mode("append")
          .option("compression", "snappy").parquet(path)
      }
    } finally CheckpointUtils.unpersistLocalCheckpoint(keys)
  }

  /** Re-aggregate gold daily for the (year, month) `pairs` and gold
    * monthly for the `years` from `silver`, and replace exactly those
    * partitions (dynamic partition overwrite). Each write runs when its
    * own touched set is non-empty, concurrently with the other and with
    * the `alongside` tasks. The touched sets are bounded (a batch or an
    * erasure spans a handful of months), so they become partition-filter
    * literals and the silver scan reads the touched years' directories
    * only. That one scan is persisted and feeds both aggregates; the
    * block manager computes each cached partition once under a per-block
    * lock, so the concurrent consumers share it.
    */
  private def refreshGold(cfg: PipelineConfig, silver: DataFrame,
      pairs: Seq[(Int, Int)], years: Seq[Int], alongside: (() => Unit)*)
      : Unit = {
    val projected = silver
      .filter(col("year").isin((pairs.map(_._1) ++ years).distinct: _*))
      .select(goldInput: _*).persist(StorageLevel.MEMORY_AND_DISK)
    def stamped(agg: DataFrame) = agg.withColumn("created_at", createdAt(cfg))
    val daily = if (pairs.isEmpty) Nil else Seq(() =>
      Sinks.overwriteGoldDailyPartitions(stamped(Aggregations.daily(
        projected.filter(inPartitions(Seq("year", "month"),
          pairs.map { case (y, m) => Seq(y, m) })), cfg.approxDistinct)),
        cfg.goldDailyPath))
    val monthly = if (years.isEmpty) Nil else Seq(() =>
      Sinks.overwriteGoldMonthlyPartitions(stamped(Aggregations.monthly(
        projected.filter(col("year").isin(years: _*)), cfg.approxDistinct)),
        cfg.goldMonthlyPath))
    try Par.run(daily ++ monthly ++ alongside)
    finally projected.unpersist()
  }

  /** The erased customers' rows in the table at `path`: the table as read
    * (None when it holds no data file) and the row count per partition
    * (one `partCols` value tuple each; a single total when `partCols` is
    * empty).
    */
  private final case class Footprint(path: String, partCols: Seq[String],
      table: Option[DataFrame], counts: Seq[(Seq[Int], Long)]) {
    def touched: Seq[Seq[Int]] = counts.map(_._1)
    /** The partition's directory relative to the table root. */
    def rel(vs: Seq[Int]): String =
      partCols.zip(vs).map { case (c, v) => s"$c=$v" }.mkString("/")
  }

  /** Scan the subject's [[Footprint]] in one table. Null partition values
    * are collected, not filtered — they must fail, not survive.
    */
  private def footprint(spark: SparkSession, keys: DataFrame, path: String,
      partCols: Seq[String]): Footprint =
    if (Sinks.parquetFileCount(spark, path) == 0)
      Footprint(path, partCols, None, Nil)
    else {
      val table = spark.read.parquet(path)
      val rows = table.join(broadcast(keys), Seq("customer_id"), "left_semi")
        .groupBy(partCols.map(col): _*).agg(count(lit(1))).collect()
      if (rows.exists(r => partCols.indices.exists(r.isNullAt)))
        throw new IllegalStateException(
          s"runErasure: erased customers have rows in NULL " +
            s"${partCols.mkString("/")} partitions (hive default " +
            s"partition) of $path — partition-restricted rewrite cannot " +
            "address them; repair the partition keys (P5 guard) before " +
            "erasing")
      Footprint(path, partCols, Some(table), rows.toSeq.map(r =>
        (partCols.indices.map(r.getInt), r.getLong(partCols.size))))
    }

  /** Rewrite the touched partitions of `fp`'s table without the erased
    * customers' rows (dynamic partition overwrite through `write`), then
    * drop the partitions that held only them: dynamic overwrite writes
    * nothing there, so their old files would survive. The kept rows are
    * staged first, because the write replaces the path they are read from,
    * and the set of partitions still holding rows rides that staging job.
    */
  private def rewriteWithout(spark: SparkSession, keys: DataFrame,
      fp: Footprint, write: (DataFrame, String) => Unit): Unit =
    fp.table.filter(_ => fp.counts.nonEmpty).foreach { table =>
      val (kept, obs) = CheckpointUtils.materialize(
        table.filter(inPartitions(fp.partCols, fp.touched))
          .join(broadcast(keys), Seq("customer_id"), "left_anti"),
        collect_set(struct(fp.partCols.map(col): _*)).as("left"))
      try {
        write(kept, fp.path)
        val left: Set[Seq[Int]] = obs("left")
          .asInstanceOf[scala.collection.Seq[Row]]
          .map(r => fp.partCols.indices.map(r.getInt)).toSet
        Sinks.deletePartitionDirs(spark, fp.path,
          fp.touched.filterNot(left).map(fp.rel))
      } finally CheckpointUtils.unpersistLocalCheckpoint(kept)
    }

  /** `partCols` equal one of the `touched` value tuples. */
  private def inPartitions(partCols: Seq[String],
      touched: Seq[Seq[Int]]): Column =
    touched.map(vs => partCols.zip(vs)
      .map { case (c, v) => col(c) === v }.reduce(_ && _)).reduce(_ || _)
}
