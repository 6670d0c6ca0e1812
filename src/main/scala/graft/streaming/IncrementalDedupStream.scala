package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{broadcast, col, lit, pmod, when, xxhash64}

import graft.operators.IncrementalDedup

/** Streaming front end for [[graft.operators.IncrementalDedup]]: the
  * per-batch step of a `foreachBatch` sink ([[ingestBatch]], with the batch
  * id as its epoch) that maintains the three stores of a continuously
  * deduped corpus —
  *
  *   - `<storeDir>/corpus`: every ingested document,
  *   - `<storeDir>/index`:  the (id, band, bucket) LSH rows,
  *   - `<storeDir>/pairs`:  near-dup pairs, each emitted EXACTLY ONCE, in
  *     the micro-batch where the pair's later member arrived.
  *
  * Per micro-batch the work is O(batch + collisions) — the accumulated
  * corpus is only touched by the collision point-fetch, so the sink's cost
  * does not grow with corpus age. That is the property that lets the same
  * code run forever against an unbounded source.
  *
  * Corpus and index rows are hive-partitioned by an ID-HASH BUCKET
  * (`__bk = xxhash64(id) mod nBuckets`): a right-to-be-forgotten request
  * ([[erase]]) then rewrites only the subject's bucket directories — cost
  * bounded by corpus/nBuckets per erased id, never the whole store. Size
  * `nBuckets` so one bucket is a tractable rewrite (at 100 TB and 1024
  * buckets, ~100 GB per bucket).
  *
  * Delivery: with an `epoch` (the streaming path always passes the
  * foreachBatch batch id), every store write lands under a `__wv=<epoch>`
  * partition via DYNAMIC OVERWRITE, and every read of prior state
  * excludes the current epoch's own rows — so a crash-replayed batch
  * overwrites its own partial output and recomputes against exactly the
  * state the first attempt saw. foreachBatch's at-least-once redelivery
  * becomes exactly-once EFFECT on the stores (spec-proven). Epochs must
  * be unique per batch (batch ids are); a store is epoch-managed from
  * birth — don't mix with `epoch = None` appends, whose layout has no
  * `__wv` directories (that legacy mode remains for one-shot backfills
  * that manage their own replay).
  */
object IncrementalDedupStream {

  private def exists(df: DataFrame, p: String): Boolean = {
    val hp = new Path(p)
    hp.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
      .exists(hp)
  }

  /** One ingest step: dedup `batch` against the store, then fold the batch
    * into it. Also usable directly for a batch (backfill) ingest loop —
    * stream and backfill share this exact code path. Pass a unique
    * `epoch` per batch to make a crash-replayed batch overwrite its own
    * output instead of double-appending (see the delivery note above).
    */
  def ingestBatch(batch: DataFrame, id: String, text: String,
      storeDir: String, minJaccard: Double, n: Int = 3, numHashes: Int = 64,
      bands: Int = 16, maxBucketSize: Int = 10000,
      nBuckets: Int = 16, epoch: Option[Long] = None): Unit = {
    val spark = batch.sparkSession
    epoch.foreach(e => require(e >= 0, s"ingestBatch: epoch $e is " +
      "negative — __wv=-1 is reserved for compacted history"))
    // publish the commit frontier BEFORE this batch writes anything:
    // every epoch strictly below the current one has completed its
    // foreachBatch (a checkpointed source never re-delivers it), so
    // `e - 1` is final whatever happens to THIS batch — compaction can
    // fold exactly that prefix with no crash-replay hazard
    epoch.foreach(e =>
      graft.io.Sinks.writeFrontier(spark, storeDir, e - 1))
    // the __bk layout is fixed at the store's first batch: record the
    // modulus once, fail loudly on any later batch hashing differently
    // (a silent mismatch would scatter ids across moduli and break the
    // erasure's bucket pruning — a quiet right-to-be-forgotten failure)
    graft.io.Sinks.recordNBuckets(spark, storeDir, nBuckets)
    val corpusPath = s"$storeDir/corpus"
    val indexPath = s"$storeDir/index"
    val pairsPath = s"$storeDir/pairs"
    // the batch feeds three consumers (pairs, index rows, corpus append) —
    // pin it so the source isn't re-read per consumer
    val stable = batch.localCheckpoint()
    // prior state = the store MINUS this epoch's own rows, so a replayed
    // batch sees exactly what its first attempt saw; a store whose every
    // commit so far was EMPTY has partition dirs but no data files and
    // reads as schema-less — that is bootstrap state, not an error.
    // A readable store WITHOUT the __wv layout under an epoch-tagged
    // ingest is either (a) fully erased down to the flat schema anchor —
    // zero rows, bootstrap — or (b) a NON-EMPTY legacy append-mode store,
    // where silently treating it as bootstrap would dedup the batch
    // against nothing AND let the first __wv dir hide the flat legacy
    // files from every later partition-discovery read: fail loudly.
    def prior(p: String): Option[DataFrame] =
      if (!exists(batch, p)) None
      else try {
        val df = spark.read.parquet(p)
        epoch match {
          case None => Some(df)
          case Some(e) if df.columns.contains("__wv") =>
            Some(df.filter(col("__wv") =!= e))
          case Some(_) if df.isEmpty => None // erased-to-anchor store
          case Some(_) => throw new IllegalStateException(
            s"epoch-tagged ingest over a non-empty legacy (no __wv) " +
              s"store at $p — its accumulated state would be silently " +
              "ignored and then hidden by partition discovery; migrate " +
              "the store (rewrite under a __wv partition) or keep " +
              "ingesting with epoch = None")
        }
      } catch {
        case _: org.apache.spark.sql.AnalysisException => None
      }
    // bootstrap: an absent store behaves as an empty corpus with an empty
    // index of the matching schema (limit(0) keeps column names/types)
    val oldDocs = prior(corpusPath).getOrElse(stable.limit(0))
    val oldIndex = prior(indexPath).getOrElse(
      IncrementalDedup.bandIndex(stable.limit(0), id, text, n, numHashes,
        bands))
    val newPairs = IncrementalDedup
      .incrementalPairs(stable, id, text, oldIndex, oldDocs, minJaccard,
        n, numHashes, bands, maxBucketSize)
    def write(df: DataFrame, path: String, parts: Seq[String]): Unit =
      epoch match {
        case None =>
          val w = df.write.mode("append")
          (if (parts.isEmpty) w else w.partitionBy(parts: _*)).parquet(path)
        case Some(e) if parts.isEmpty =>
          // explicit epoch subdir: a replay overwrites it wholesale, and
          // an EMPTY commit still writes a schema-bearing flat part file,
          // so the store stays readable from the first batch on
          df.write.mode("overwrite").parquet(s"$path/__wv=$e")
        case Some(e) =>
          val w = df.withColumn("__wv", lit(e)).write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
          w.partitionBy(parts :+ "__wv": _*).parquet(path)
      }
    write(newPairs, pairsPath, Nil)
    def bucketed(df: DataFrame) =
      df.withColumn("__bk", pmod(xxhash64(col(id)), lit(nBuckets.toLong)))
    write(bucketed(
        IncrementalDedup.bandIndex(stable, id, text, n, numHashes, bands)),
      indexPath, Seq("__bk"))
    write(bucketed(stable), corpusPath, Seq("__bk"))
  }

  /** Compact an epoch-managed dedup store: every micro-batch commits one
    * file set per `__wv` epoch into each `__bk` bucket (corpus/index) and
    * one `__wv` subdir into pairs, so after thousands of epochs every
    * collision point-fetch and erasure rewrite lists and opens thousands
    * of small files per bucket. Compaction folds all committed epochs
    * into the RESERVED `__wv=-1` partition (real epochs — batch ids or
    * wave min-ids — are never negative), keeping the `__bk` layout (the
    * erasure's bucket pruning must survive) and landing ONE file per
    * bucket (`repartition(__bk)`), via the disk-staged atomic swap.
    * Post-compaction ingest, collision detection, and erasure are
    * unchanged (spec-proven against an uncompacted twin).
    *
    * CONTRACT (compact behind the commit frontier, same as
    * [[graft.jobs.PretrainCorpus.compactStores]]): run at a batch
    * boundary with no crashed batch awaiting replay — a replayed batch
    * excludes only its own `__wv` partition from prior state, and
    * compaction would fold that partition into `__wv=-1` where the
    * replay reads it as someone else's history. The contract is CODE,
    * two ways: with an EXPLICIT `frontier` (the caller's assertion that
    * every epoch ≤ it is final) a store holding any newer epoch fails
    * loudly; with `frontier = None` the marker [[ingestBatch]] publishes
    * before each batch (`_frontier` = previous epoch — provably final)
    * bounds a PARTIAL fold: epochs at or below it fold into `__wv=-1`,
    * newer epochs carry through untouched under their own partitions, so
    * a pending replay still finds — and replay-overwrites — its own
    * `__wv`. A store with neither (pre-marker layouts) folds everything,
    * the caller-asserted legacy behavior.
    */
  def compact(spark: org.apache.spark.sql.SparkSession, storeDir: String,
      minFiles: Int = 64, frontier: Option[Long] = None): Unit = {
    val marker =
      if (frontier.isDefined) None
      else graft.io.Sinks.readFrontier(spark, storeDir)
    for (store <- Seq("corpus", "index", "pairs"))
      graft.io.Sinks.compactEpochStore(spark, s"$storeDir/$store",
        minFiles) { full =>
        // a store fully erased down to the flat schema anchor reads with
        // no __wv column and zero rows — already maximally compact, and
        // the exact state ingestBatch treats as bootstrap: no-op rather
        // than tripping the epoch-management check below
        if (!full.columns.contains("__wv") && full.isEmpty) None
        else {
          require(full.columns.contains("__wv"),
            s"compact: $storeDir/$store is not epoch-managed (no __wv " +
              "layout) — legacy append-mode stores manage their own file " +
              "hygiene")
          frontier.foreach { fr =>
            val over = full.filter(col("__wv") =!= lit(-1L) &&
              col("__wv") > lit(fr)).limit(1).count()
            require(over == 0L,
              s"compact: $storeDir/$store holds epochs beyond the commit " +
                s"frontier $fr — folding a possibly-uncommitted batch " +
                "into __wv=-1 would make its crash replay read its own " +
                "first attempt as history; complete or roll back the " +
                "batch first")
          }
          val parts =
            if (full.columns.contains("__bk")) Seq("__bk", "__wv")
            else Seq("__wv")
          // marker mode: fold the provably-final prefix, carry the tail
          val flat = marker match {
            case Some(fr) => full.withColumn("__wv",
              when(col("__wv") <= lit(fr), lit(-1L)).otherwise(col("__wv")))
            case None => full.withColumn("__wv", lit(-1L))
          }
          // corpus/index: one file per bucket (nBuckets is already the
          // erasure-cost knob that sizes a bucket tractably); pairs (no
          // bucket layout, collisions-only but unbounded): a fixed fan-out
          // keyed on id_a so no single task absorbs the whole store
          Some((if (parts.contains("__bk")) flat.repartition(col("__bk"))
            else flat.repartition(16, xxhash64(col("id_a"))), parts))
        }
      }
  }

  /** Right-to-be-forgotten erasure of the dedup stores: remove the `ids`
    * documents from corpus and index by rewriting ONLY their id-hash
    * bucket directories (the bucket set is computed from the ids alone —
    * no store scan to find the footprint), and drop every pair touching an
    * erased id from the pairs store (atomic staged swap — the pairs store
    * is collisions-only, orders of magnitude smaller than the corpus).
    * End state is spec-proven to hash-match stores rebuilt from scratch on
    * the retained corpus, and the store stays ingestable afterwards.
    * Epoch-managed stores keep their `__wv` layout (rewrites happen at
    * (bucket, epoch) granularity), so replay exclusion and future
    * epoch-tagged ingest keep working after an erasure.
    *
    * `ids` are coerced to the corpus store's ingested id type before
    * hashing — the bucket hash is type-sensitive (xxhash64(int) !=
    * xxhash64(long)), and an uncoerced mismatch would compute the wrong
    * buckets and silently erase nothing.
    *
    * The bucket modulus comes from the store's own `_nbuckets` marker
    * (recorded at ingest): hashing with any OTHER modulus computes the
    * wrong buckets and silently erases nothing, so the former free `Int`
    * parameter is now an optional assertion — a caller value that
    * contradicts the marker fails loudly ([[graft.io.Sinks
    * .resolveNBuckets]]); pre-marker stores fall back to the caller's
    * value, else the historical default.
    */
  def erase(spark: org.apache.spark.sql.SparkSession, storeDir: String,
      ids: DataFrame, id: String, nBuckets: Option[Int] = None): Unit = {
    val nb = graft.io.Sinks.resolveNBuckets(spark, storeDir, nBuckets)
    val keys = graft.io.Sinks
      .coerceToStoreIdType(spark, ids, s"$storeDir/corpus", id)
      .distinct().localCheckpoint()
    try {
      // the subject's bucket footprint: bounded driver state by definition
      val buckets = keys
        .select(pmod(xxhash64(col(id)), lit(nb.toLong)).as("__bk"))
        .distinct().collect().map(_.getLong(0)).toSeq
      for (store <- Seq("corpus", "index")) {
        val path = s"$storeDir/$store"
        if (buckets.nonEmpty && exists(keys, path)) {
          val full = spark.read.parquet(path)
          // dir nesting order is __bk outer, __wv inner (ingest's
          // partitionBy order) — parts must match for the rewrite
          val parts =
            if (full.columns.contains("__wv")) Seq("__bk", "__wv")
            else Seq("__bk")
          def dirs(df: DataFrame): Set[String] = df
            .select(parts.map(col): _*).distinct().collect()
            .map(r => parts.indices.map(i => s"${parts(i)}=${r.get(i)}")
              .mkString("/")).toSet
          val inBuckets = full.filter(col("__bk").isin(buckets: _*))
          // statically pruned to the subject's buckets; staged before the
          // dynamic partition overwrite (it reads the path it replaces)
          val touched = dirs(inBuckets)
          val retained = inBuckets
            .join(broadcast(keys), Seq(id), "left_anti")
            .localCheckpoint()
          try {
            retained.write.mode("overwrite")
              .option("partitionOverwriteMode", "dynamic")
              .partitionBy(parts: _*).parquet(path)
            // partitions holding ONLY the subject: dynamic overwrite wrote
            // nothing there, so the old files must be dropped explicitly
            val still = dirs(retained)
            graft.io.Sinks.deletePartitionDirs(spark, path,
              (touched -- still).toSeq)
          } finally org.apache.spark.sql.graftx.CheckpointUtils
            .unpersistLocalCheckpoint(retained)
        }
      }
      val pairsPath = s"$storeDir/pairs"
      if (exists(keys, pairsPath)) {
        val ka = keys.select(col(id).as("id_a"))
        val kb = keys.select(col(id).as("id_b"))
        val full = spark.read.parquet(pairsPath)
        graft.io.Sinks.stagedSwapParquet(spark,
          full.join(broadcast(ka), Seq("id_a"), "left_anti")
            .join(broadcast(kb), Seq("id_b"), "left_anti"),
          pairsPath,
          partitionCols =
            if (full.columns.contains("__wv")) Seq("__wv") else Nil)
      }
    } finally org.apache.spark.sql.graftx.CheckpointUtils
      .unpersistLocalCheckpoint(keys)
  }

  /** The accumulated pair store, or an empty frame if nothing collided yet. */
  def pairs(spark: org.apache.spark.sql.SparkSession, storeDir: String): DataFrame =
    spark.read.parquet(s"$storeDir/pairs")
      .select(col("id_a"), col("id_b"), col("jaccard"))
}
