package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{broadcast, col, lit, pmod, xxhash64}

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
  * Delivery: every store write lands under a `__wv=<epoch>` partition
  * via DYNAMIC OVERWRITE (the streaming path passes the foreachBatch
  * batch id as the epoch), and every read of prior state excludes the
  * current epoch's own rows — so a crash-replayed batch overwrites its
  * own partial output and recomputes against exactly the state the
  * first attempt saw. foreachBatch's at-least-once redelivery becomes
  * exactly-once EFFECT on the stores (spec-proven). Epochs must be
  * unique per batch (batch ids are).
  */
object IncrementalDedupStream {

  private def exists(df: DataFrame, p: String): Boolean = {
    val hp = new Path(p)
    hp.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
      .exists(hp)
  }

  /** One ingest step: dedup `batch` against the store, then fold the batch
    * into it. Also usable directly for a batch (backfill) ingest loop —
    * stream and backfill share this exact code path. `epoch` must be
    * unique per batch: a crash-replayed batch then overwrites its own
    * output instead of double-appending (see the delivery note above).
    */
  def ingestBatch(batch: DataFrame, id: String, text: String,
      storeDir: String, minJaccard: Double, n: Int = 3, numHashes: Int = 64,
      bands: Int = 16, maxBucketSize: Int = 10000,
      nBuckets: Int = 16, epoch: Long): Unit = {
    val spark = batch.sparkSession
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
    // A readable store WITHOUT the __wv layout is either (a) fully
    // erased down to the flat schema anchor — zero rows, bootstrap — or
    // (b) a NON-EMPTY flat store written outside this code, where
    // silently treating it as bootstrap would dedup the batch against
    // nothing AND let the first __wv dir hide the flat files from every
    // later partition-discovery read: fail loudly.
    def prior(p: String): Option[DataFrame] =
      if (!exists(batch, p)) None
      else try {
        val df = spark.read.parquet(p)
        if (df.columns.contains("__wv")) Some(df.filter(col("__wv") =!= epoch))
        else if (df.isEmpty) None // erased-to-anchor store
        else throw new IllegalStateException(
          s"ingest over a non-empty legacy (no __wv) store at $p — its " +
            "accumulated state would be silently ignored and then hidden " +
            "by partition discovery; migrate the store (rewrite under a " +
            "__wv partition) first")
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
    // pairs: an explicit epoch subdir — a replay overwrites it wholesale,
    // and an EMPTY commit still writes a schema-bearing flat part file,
    // so the store stays readable from the first batch on
    newPairs.write.mode("overwrite").parquet(s"$pairsPath/__wv=$epoch")
    // corpus/index: (__bk, __wv) partitions by dynamic overwrite
    def bucketed(df: DataFrame, path: String): Unit =
      df.withColumn("__bk", pmod(xxhash64(col(id)), lit(nBuckets.toLong)))
        .withColumn("__wv", lit(epoch)).write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("__bk", "__wv").parquet(path)
    bucketed(IncrementalDedup.bandIndex(stable, id, text, n, numHashes,
      bands), indexPath)
    bucketed(stable, corpusPath)
  }

  /** Right-to-be-forgotten erasure of the dedup stores: remove the `ids`
    * documents from corpus and index by rewriting ONLY their id-hash
    * bucket directories (the bucket set is computed from the ids alone —
    * no store scan to find the footprint), and drop every pair touching an
    * erased id from the pairs store (atomic staged swap — the pairs store
    * is collisions-only, orders of magnitude smaller than the corpus).
    * End state is spec-proven to hash-match stores rebuilt from scratch on
    * the retained corpus, and the store stays ingestable afterwards.
    * The stores keep their `__wv` layout (rewrites happen at (bucket,
    * epoch) granularity), so replay exclusion and future ingest keep
    * working after an erasure. A store with no data files (never
    * written, or already erased empty) has nothing to erase, so a retry
    * of a completed erasure is a no-op.
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
      // dir nesting order is __bk outer, __wv inner (ingest's
      // partitionBy order) — parts must match for the rewrite
      val parts = Seq("__bk", "__wv")
      for (store <- Seq("corpus", "index")) {
        val path = s"$storeDir/$store"
        if (buckets.nonEmpty &&
            graft.io.Sinks.parquetFileCount(spark, path) > 0) {
          val full = spark.read.parquet(path)
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
