package graft.io

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions.col

/** Sink writers (SURVEY.md §2.1 S4-S7): parquet + snappy, hive-style
  * partition layout matching the reference
  * (`bronze_to_silver.py:138-143`, `silver_to_gold.py:139-149`).
  *
  * Silver appends (incremental history); gold overwrites (full recompute is
  * the reference's idempotent late-data story). Static partition-overwrite
  * mode is kept deliberately — the reference replaces the whole gold root,
  * not just touched partitions (SURVEY.md §7.4 risk 5).
  */
object Sinks {

  /** S4 — silver: append, 3-level partitioning. At scale, y/m/d partitioning
    * gives consumers partition pruning and bounds single-write file counts.
    *
    * REBALANCE by the partition keys before the write (r12, guide §6): an
    * arbitrarily-partitioned frame writes up to tasks×days files (measured
    * ~N_tasks files per day dir at sf0.1 — the classic small-files trap,
    * paid again by every downstream scan and by the erasure rewrites);
    * the AQE rebalance clusters each day into as few tasks as its size
    * needs AND splits a day bigger than the advisory partition size, so
    * it is skew-safe where a plain repartition(y, m, d) would put one
    * giant day on one task.
    */
  def writeSilver(df: DataFrame, path: String): Unit =
    df.hint("rebalance", "year", "month", "day")
      .write.mode(SaveMode.Append)
      .partitionBy("year", "month", "day")
      .option("compression", "snappy")
      .parquet(path)

  /** S5 — gold daily: overwrite, partitioned year/month. */
  def writeGoldDaily(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite)
      .partitionBy("year", "month")
      .option("compression", "snappy")
      .parquet(path)

  /** S6 — gold monthly: overwrite, partitioned year. */
  def writeGoldMonthly(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite)
      .partitionBy("year")
      .option("compression", "snappy")
      .parquet(path)

  /** S7 — gold customer insights: overwrite, unpartitioned. */
  def writeGoldCustomer(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("compression", "snappy")
      .parquet(path)

  // -------------------------------------------------------------------
  // Incremental gold maintenance (SCALING.md: the nightly full gold
  // recompute is the pipeline's own scale cliff at 100 TB of silver
  // history). These writers replace ONLY the partitions present in the
  // incoming frame — Spark's dynamic partition-overwrite, the
  // `replaceWhere` idea without a table format — so a batch that touches
  // 2 of 120 months rewrites 2 directories, not the table. The full
  // overwrite above stays the default for reference parity
  // (`silver_to_gold.py:141-149` replaces the whole gold root).
  // -------------------------------------------------------------------

  /** S5 incremental — overwrite only the y/m partitions present in `df`;
    * all other gold daily partitions are left byte-untouched
    * (spec-asserted via file mtimes).
    */
  def overwriteGoldDailyPartitions(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("year", "month")
      .option("compression", "snappy")
      .parquet(path)

  /** Silver erasure — overwrite only the (year, month, day) partitions
    * present in `df` (dynamic partition overwrite at the silver table's
    * own granularity).
    */
  def overwriteSilverPartitions(df: DataFrame, path: String): Unit =
    df.hint("rebalance", "year", "month", "day") // see writeSilver
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("year", "month", "day")
      .option("compression", "snappy")
      .parquet(path)

  /** Remove partition directories by relative path ("year=2024/month=2").
    * Dynamic partition overwrite only replaces partitions PRESENT in the
    * written frame — a partition left EMPTY by an erasure keeps its old
    * files unless dropped explicitly. Callers pass the already-collected
    * touched set, so this walk is bounded.
    */
  def deletePartitionDirs(spark: org.apache.spark.sql.SparkSession,
      root: String, rels: Seq[String]): Unit = {
    if (rels.isEmpty) return
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    rels.foreach { r =>
      val p = new org.apache.hadoop.fs.Path(rootPath, r)
      if (fs.exists(p)) fs.delete(p, true)
    }
  }

  /** Read-modify-overwrite of an unpartitioned table, staged ON DISK: the
    * new table is written COMPLETELY to a sibling `__staging` directory,
    * then swapped into place through a MARKER-COMMITTED rename protocol.
    * A localCheckpoint staging would keep the rows only in executor
    * storage — an executor lost mid-swap could not recompute its blocks
    * (their source was already gone), risking the whole table; here every
    * byte is durable before the live path is touched. Used by the
    * customer-table merge/delete and the derived-store erasure paths.
    *
    * CRASH SAFETY — the protocol never leaves an unrecoverable state
    * (the old delete-then-rename shape had a window where the live path
    * was simply GONE and only manual `__staging` surgery brought it
    * back):
    *
    *   1. write `<path>__staging` completely
    *   2. create the `<path>__swap` marker  ← THE COMMIT POINT
    *   3. rename live → `<path>__old`
    *   4. rename staging → live
    *   5. delete `__old`, delete the marker
    *
    * A crash before step 2 leaves the live table untouched (staging is
    * debris); a crash at or after step 2 leaves the marker naming
    * staging as the committed truth. [[recoverSwap]] — run automatically
    * at the start of every swap, and callable directly after a crash —
    * rolls every intermediate state forward (marker present) or back
    * (marker absent) to a complete, readable table. Spec-enumerated per
    * crash point. Single writer per table, as before.
    */
  def stagedSwapParquet(spark: org.apache.spark.sql.SparkSession,
      df: DataFrame, path: String,
      partitionCols: Seq[String] = Nil): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(path + "__staging")
    val aside = new org.apache.hadoop.fs.Path(path + "__old")
    val marker = new org.apache.hadoop.fs.Path(path + "__swap")
    recoverSwap(spark, path) // finish or roll back a crashed predecessor
    if (fs.exists(tmp)) fs.delete(tmp, true)
    val w = df.write.mode(SaveMode.Overwrite)
      .option("compression", "snappy")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(tmp.toString)
    if (partitionCols.nonEmpty)
      // flat zero-row SCHEMA ANCHOR at the staging root: a partitioned
      // write of an empty frame produces no files at all, which would
      // swap in an unreadable (schema-less) store — the anchor keeps the
      // store readable and coexists with the partition dirs
      df.drop(partitionCols: _*).limit(0).write.mode(SaveMode.Append)
        .option("compression", "snappy").parquet(tmp.toString)
    fs.create(marker, true).close() // commit point: staging is the truth
    if (fs.exists(p) && !fs.rename(p, aside))
      throw new java.io.IOException(
        s"staged swap failed: rename $p -> $aside")
    if (!fs.rename(tmp, p))
      throw new java.io.IOException(
        s"staged swap failed: rename $tmp -> $p")
    fs.delete(aside, true)
    fs.delete(marker, false)
  }

  /** Recovery for [[stagedSwapParquet]]'s rename protocol: rolls a
    * crashed swap FORWARD when the commit marker exists (the staged
    * table was complete and declared the truth — promote it) and BACK
    * when it does not (staging is uncommitted debris — the live table
    * stands). Idempotent; a crash inside recovery re-enters it. Called
    * automatically by every swap; callers that only READ a possibly
    * crashed store run it once first.
    */
  def recoverSwap(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(path + "__staging")
    val aside = new org.apache.hadoop.fs.Path(path + "__old")
    val marker = new org.apache.hadoop.fs.Path(path + "__swap")
    if (fs.exists(marker)) {
      if (fs.exists(tmp)) {
        // crashed between the marker and the staging→live rename: the
        // staged table is the committed truth — promote it (any live
        // remnant is the superseded old table)
        if (fs.exists(p)) fs.delete(p, true)
        if (!fs.rename(tmp, p))
          throw new java.io.IOException(
            s"swap recovery failed: rename $tmp -> $p")
      } else if (!fs.exists(p) && fs.exists(aside)) {
        // no staging and no live: the protocol cannot produce this (the
        // staged truth only disappears by BECOMING live) — restore the
        // aside copy rather than leave no table at all
        if (!fs.rename(aside, p))
          throw new java.io.IOException(
            s"swap recovery failed: rename $aside -> $p")
      }
      fs.delete(aside, true)
      fs.delete(marker, false)
    } else {
      // uncommitted: staging is debris; an aside without a marker cannot
      // be produced by the protocol, but restoring beats deleting
      if (!fs.exists(p) && fs.exists(aside)) {
        if (!fs.rename(aside, p))
          throw new java.io.IOException(
            s"swap recovery failed: rename $aside -> $p")
      }
      if (fs.exists(tmp)) fs.delete(tmp, true)
    }
  }

  /** Recursive count of `.parquet` data files under `path` (0 when the
    * path does not exist). A store with none holds no rows and cannot
    * be read without a schema, so its callers treat 0 as "nothing
    * there" rather than reading it.
    */
  def parquetFileCount(spark: org.apache.spark.sql.SparkSession,
      path: String): Int = {
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(hp)) return 0
    val it = fs.listFiles(hp, true)
    var n = 0
    while (it.hasNext)
      if (it.next().getPath.getName.endsWith(".parquet")) n += 1
    n
  }

  /** Cast `ids`' first column to the type `storePath`'s schema records
    * for `id` — the shared guard of every bucket-hashed erasure path:
    * `xxhash64` is TYPE-SENSITIVE (xxhash64(int) != xxhash64(long)), so
    * an uncoerced id-type mismatch computes the wrong buckets and
    * silently erases nothing. A missing/unreadable store or absent
    * column leaves the ids unchanged (the caller's joins still coerce).
    */
  def coerceToStoreIdType(spark: org.apache.spark.sql.SparkSession,
      ids: DataFrame, storePath: String, id: String): DataFrame = {
    val named = ids.select(col(ids.columns.head).as(id))
    val hp = new org.apache.hadoop.fs.Path(storePath)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(hp)) return named
    val t =
      try spark.read.parquet(storePath).schema.fields
        .find(_.name == id).map(_.dataType)
      catch { case _: org.apache.spark.sql.AnalysisException => None }
    t.fold(named)(dt => named.select(col(id).cast(dt).as(id)))
  }

  /** Tmp + rename publish of one tiny marker file at a store root — the
    * shared mechanics of `_nbuckets` / `_maxid`.
    */
  private def writeMarkerFile(spark: org.apache.spark.sql.SparkSession,
      dir: String, name: String, content: String): Unit = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(root)
    val tmp = new org.apache.hadoop.fs.Path(dir, s".$name.tmp")
    val out = fs.create(tmp, true)
    out.write(content.getBytes("UTF-8"))
    out.close()
    val dst = new org.apache.hadoop.fs.Path(dir, name)
    if (fs.exists(dst)) fs.delete(dst, false)
    if (!fs.rename(tmp, dst))
      throw new java.io.IOException(s"marker publish failed: $dir/$name")
  }

  /** Read a marker file to EOF (a single read() may legally return a
    * prefix on remote-FS streams — parsing that prefix would yield a
    * silently wrong value, e.g. a smaller bucket modulus or a negative
    * number with its '-' cut). None when absent or empty.
    */
  private def readMarkerFile(spark: org.apache.spark.sql.SparkSession,
      dir: String, name: String): Option[String] = {
    val p = new org.apache.hadoop.fs.Path(dir, name)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try {
        val out = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](256)
        var n = in.read(buf)
        while (n > 0) { out.write(buf, 0, n); n = in.read(buf) }
        if (out.size() == 0) None else Some(out.toString("UTF-8"))
      } finally in.close()
    }
  }

  /** Delete a marker file (no-op when absent) — e.g. an erasure retiring
    * a watermark whose high-water bound no longer reflects the store.
    */
  def deleteMarkerFile(spark: org.apache.spark.sql.SparkSession,
      dir: String, name: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir, name)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, false)
  }

  /** Record the store family's ID-HASH BUCKET MODULUS at ingest time —
    * the `_nbuckets` marker at the store-family root. The bucket layout
    * (`__bk = xxhash64(id) mod n`) is fixed the moment the first wave
    * commits: a later ingest or erasure computing buckets with a
    * DIFFERENT modulus silently writes to / rewrites the wrong bucket
    * directories (for an erasure that is a quiet right-to-be-forgotten
    * failure — it erases nothing). So ingest persists the modulus once
    * and FAILS LOUDLY on a mismatch ever after; erasure reads it back
    * ([[resolveNBuckets]]) instead of trusting a free parameter.
    * Idempotent for the matching value (replays rewrite the same byte).
    */
  def recordNBuckets(spark: org.apache.spark.sql.SparkSession,
      dir: String, n: Int): Unit = {
    require(n > 0, s"nBuckets must be positive: $n")
    readNBuckets(spark, dir) match {
      case Some(m) if m != n => throw new IllegalStateException(
        s"bucket-modulus mismatch at $dir: the store was ingested with " +
          s"nBuckets=$m but this ingest uses nBuckets=$n — mixing moduli " +
          "corrupts the __bk layout (and silently breaks every " +
          "footprint-bounded erasure); re-ingest with the recorded " +
          "modulus or migrate the store")
      case Some(_) => ()
      case None =>
        // one-time ADOPTION check for pre-marker stores (runs only until
        // the marker exists): any on-disk bucket directory with index
        // >= n proves the store was ingested under a DIFFERENT modulus —
        // stamping n as ground truth would endorse exactly the
        // silent-wrong-buckets erasure failure the marker prevents. The
        // check is one level of subdirectory listings (the store
        // family's `<sub>/__bk=N` layout), and necessarily PARTIAL: a
        // wider legacy modulus whose occupied dirs all happen to sit
        // below n passes — provably wrong adoptions fail, the rest is
        // the caller's assertion, as it always was for legacy stores.
        val root = new org.apache.hadoop.fs.Path(dir)
        val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(root)) {
          // only the deleted-subdir RACE reads as empty; any other
          // listing failure must propagate — a transient I/O error
          // silently disabling this guard would stamp the wrong modulus
          // as ground truth, the exact failure the guard exists to stop
          def subdirs(p: org.apache.hadoop.fs.Path) =
            try fs.listStatus(p)
            catch {
              case _: java.io.FileNotFoundException =>
                Array.empty[org.apache.hadoop.fs.FileStatus]
            }
          val over = fs.listStatus(root).filter(_.isDirectory).iterator
            .flatMap(s => subdirs(s.getPath).iterator
              .map(_.getPath.getName)
              .filter(_.startsWith("__bk="))
              .flatMap(nm =>
                scala.util.Try(nm.stripPrefix("__bk=").toLong).toOption))
            .filter(_ >= n).toSeq
          if (over.nonEmpty) throw new IllegalStateException(
            s"recordNBuckets: $dir holds bucket directories up to " +
              s"__bk=${over.max}, impossible under nBuckets=$n — the " +
              "store predates the _nbuckets marker and was ingested " +
              "with a different modulus; pass the original value " +
              "instead of adopting a wrong one as ground truth")
        }
        writeMarkerFile(spark, dir, "_nbuckets", n.toString)
    }
  }

  /** The recorded bucket modulus, if the store has one. */
  def readNBuckets(spark: org.apache.spark.sql.SparkSession,
      dir: String): Option[Int] =
    readMarkerFile(spark, dir, "_nbuckets")
      .flatMap(s => scala.util.Try(s.trim.toInt).toOption)

  /** Resolve the bucket modulus an erasure must hash with: the store's
    * recorded `_nbuckets` marker when present — a caller-supplied value
    * that CONTRADICTS it fails loudly (the marker is ground truth; the
    * old free parameter silently erased nothing on a mismatch) — else
    * the caller's value, else `legacyDefault` (pre-marker stores were
    * ingested with the historical default unless the caller knows
    * better).
    */
  def resolveNBuckets(spark: org.apache.spark.sql.SparkSession,
      dir: String, caller: Option[Int], legacyDefault: Int = 16): Int =
    readNBuckets(spark, dir) match {
      case Some(m) =>
        caller.foreach(n => require(n == m,
          s"bucket-modulus mismatch at $dir: the store records " +
            s"nBuckets=$m but the caller passed $n — hashing with the " +
            "wrong modulus computes the wrong buckets and silently " +
            s"erases nothing; drop the explicit argument or pass $m"))
        m
      case None => caller.getOrElse(legacyDefault)
    }

  /** Publish the INGEST WATERMARK — the `_maxid` marker that makes the
    * id-ordering guard O(1) instead of a per-wave max-aggregate over the
    * whole accumulated fingerprint store (O(store rows) per wave; at
    * 100 TB the store is TB-scale and every wave would rescan it).
    * Three fields: the publishing wave's id, the max ingested id BEFORE
    * that wave (`Long.MinValue` = none), and the max INCLUDING it.
    * Written by the wave AFTER its guard passes and BEFORE its commits,
    * so a crash replay reads its own marker and checks against `prevMax`
    * — exactly the state its first attempt guarded against — while the
    * next wave checks against `curMax`. Erasure DELETES the marker (the
    * high-water bound may exceed the retained max; the next wave falls
    * back to the one-time store scan and re-establishes it).
    */
  def writeMaxIdWatermark(spark: org.apache.spark.sql.SparkSession,
      dir: String, waveId: Long, prevMax: Option[Long],
      curMax: Long): Unit =
    writeMarkerFile(spark, dir, "_maxid",
      s"$waveId ${prevMax.getOrElse(Long.MinValue)} $curMax")

  /** The recorded (waveId, prevMax, curMax) watermark, if any. A
    * malformed marker reads as absent (callers fall back to the scan —
    * conservative, never wrong).
    */
  def readMaxIdWatermark(spark: org.apache.spark.sql.SparkSession,
      dir: String): Option[(Long, Option[Long], Long)] =
    readMarkerFile(spark, dir, "_maxid").flatMap { s =>
      scala.util.Try {
        val parts = s.trim.split("\\s+")
        val prev = parts(1).toLong
        (parts(0).toLong,
          if (prev == Long.MinValue) None else Some(prev),
          parts(2).toLong)
      }.toOption
    }

  /** S7 erasure — DELETE rows for `keyCol` values in `keys` from the
    * unpartitioned customer table ([[mergeGoldCustomer]]'s missing
    * direction: a merge can only replace keys that still have rows).
    * Bounded by the customer dimension, like the merge; staged on disk
    * and atomically swapped ([[stagedSwapParquet]]).
    */
  def deleteGoldCustomerKeys(spark: org.apache.spark.sql.SparkSession,
      keys: DataFrame, keyCol: String, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return
    stagedSwapParquet(spark,
      spark.read.parquet(path)
        .join(org.apache.spark.sql.functions.broadcast(
          keys.select(col(keyCol)).distinct()), Seq(keyCol), "left_anti"),
      path)
  }

  /** S6 incremental — overwrite only the year partitions present in `df`. */
  def overwriteGoldMonthlyPartitions(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("year")
      .option("compression", "snappy")
      .parquet(path)

  /** S7 incremental — key-merge into the unpartitioned customer table:
    * existing rows for `keyCol` values present in `updates` are replaced,
    * everything else is carried over. The rewrite is bounded by the
    * CUSTOMER dimension (one row per customer), never by fact history —
    * the table this merges is already the small aggregate. The merged
    * frame is staged on disk and atomically swapped ([[stagedSwapParquet]])
    * because it reads the path it is about to replace.
    */
  def mergeGoldCustomer(spark: org.apache.spark.sql.SparkSession,
      updates: DataFrame, keyCol: String, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val merged =
      if (fs.exists(p))
        spark.read.parquet(path)
          .join(updates.select(col(keyCol)).distinct(), Seq(keyCol),
            "left_anti")
          .unionByName(updates)
      else updates
    stagedSwapParquet(spark, merged, path)
  }
}
