package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental near-duplicate detection for a continuously-ingested corpus:
  * dedup each NEW batch against the already-ingested corpus through its
  * persisted LSH band index, without re-sketching the corpus.
  *
  * Why this exists: at 100 TB, re-running full-corpus dedup per ingest batch
  * re-shingles and re-hashes everything ever ingested — O(corpus) work for an
  * O(batch) question. The contract here is O(batch + candidates):
  *
  *  1. the corpus keeps a stored `(id, band, bucket)` index
  *     ([[bandIndex]] — ~`bands`×12 bytes per doc, written once at ingest);
  *  2. a new batch sketches ONLY itself, probes the index for bucket
  *     collisions (new×old and new×new — old×old pairs were already found
  *     when their docs arrived);
  *  3. exact Jaccard verification re-reads just the COLLIDING old docs by
  *     id — a semi-join point fetch;
  *  4. the batch's own index rows ([[bandIndex]] of the batch) append to the
  *     store, keeping the invariant for the next batch.
  *
  * Result equivalence: pairs(old ∪ new) restricted to pairs touching the new
  * batch — asserted against full recompute in the spec and against the exact
  * Jaccard oracle at the driver gate (`d_incremental_pairs`). Id spaces of
  * the batch and the corpus must be disjoint (append-only ingest).
  */
object IncrementalDedup {

  /** The persistable LSH index rows of a corpus slice: one (id, band,
    * bucket) row per band per doc. Same banding as [[Dedup.minhashLshPairs]],
    * so indexes built at different ingest times stay join-compatible.
    */
  def bandIndex(df: DataFrame, id: String, text: String, n: Int = 3,
      numHashes: Int = 64, bands: Int = 16): DataFrame =
    Dedup.bandBuckets(
      Dedup.docShingleArrays(df, id, text, n)
        .filter(size(col("shingles")) > 0),
      id, numHashes, bands)

  /** Near-duplicate pairs introduced by `newDocs`: every (a, b) with
    * Jaccard ≥ `minJaccard` where at least one side is new. `oldIndex` is
    * the stored [[bandIndex]] of `oldDocs`; only colliding old docs are
    * re-read for verification. Banding parameters must match the ones the
    * index was built with.
    *
    * The oversized-bucket cap considers old and new rows TOGETHER, so a
    * bucket that only becomes degenerate after the batch lands is pruned
    * exactly as a full recompute would prune it.
    *
    * Per-batch cost is bounded by the BATCH, not the corpus: a new pair
    * can only live in a bucket the batch itself touches, so the stored
    * index is first broadcast-semi-probed down to the batch's own
    * (band, bucket) set — the accumulated index is scanned column-pruned
    * but never SHUFFLED, and the oversized-bucket histogram groups only
    * the touched slice (for a touched bucket that count equals the
    * full-index count, since the probe keeps every old row in it, so the
    * cap prunes exactly as before; an untouched bucket holds no new row,
    * hence no batch-touching pair, hence its count is irrelevant). The
    * candidate join then probes NEW rows against the touched slice —
    * old×old collisions (already emitted when their docs arrived) are
    * never materialized, where the former two-sided self-join built them
    * first and filtered them after.
    */
  def incrementalPairs(newDocs: DataFrame, id: String, text: String,
      oldIndex: DataFrame, oldDocs: DataFrame, minJaccard: Double,
      n: Int = 3, numHashes: Int = 64, bands: Int = 16,
      maxBucketSize: Int = 10000): DataFrame = {
    // the batch is the small side — sketch it once, keep it around (16-byte
    // ids + shingle arrays of ONE batch, not the corpus)
    val newSh = Dedup.docShingleArrays(newDocs, id, text, n)
      .filter(size(col("shingles")) > 0).localCheckpoint()
    // pinned: feeds the touched-bucket probe, the combined slice, and the
    // candidate probe side — without the pin the minhash sketch of the
    // batch would recompute per consumer
    val newIdx = Dedup.bandBuckets(newSh, id, numHashes, bands)
      .localCheckpoint()
    // O(batch × bands) distinct buckets — micro-batch-bounded, so the
    // explicit broadcast is safe by construction and keeps the store
    // index on the probe (never-shuffled) side of the semi-join
    val touched = newIdx.select(col("band"), col("bucket")).distinct()
    val oldTouched = oldIndex.select(col(id), col("band"), col("bucket"))
      .join(broadcast(touched), Seq("band", "bucket"), "left_semi")
    val combined = oldTouched.withColumn("__new", lit(0))
      .unionByName(newIdx.withColumn("__new", lit(1)))
    val oversized = combined.groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("__bsz"))
      .filter(col("__bsz") > maxBucketSize)
      .select(col("band"), col("bucket"))
    val pruned = combined.join(oversized, Seq("band", "bucket"), "left_anti")
    // new × (old ∪ new) within a bucket, canonicalized by least/greatest:
    // a new×old pair appears once from its new member, a new×new pair
    // twice (once per member) — the distinct collapses it, exactly the
    // set the former `id_a < id_b` two-sided join produced
    val probe = pruned.filter(col("__new") === 1)
      .select(col("band"), col("bucket"), col(id).as("__idp"))
    val base = pruned.select(col("band"), col("bucket"), col(id).as("__idq"))
    val candidates = probe.join(base, Seq("band", "bucket"))
      .filter(col("__idp") =!= col("__idq"))
      .select(least(col("__idp"), col("__idq")).as("id_a"),
        greatest(col("__idp"), col("__idq")).as("id_b"))
      .distinct()
    // point-fetch the colliding old docs: semi join by id, then shingle just
    // those — the ONLY read of the stored corpus, and a pruned one. The
    // colliding-id set is bounded by batch × capped bucket occupancy, so
    // the explicit broadcast keeps the corpus scan on the probe side —
    // the store is never shuffled for the fetch either (an unhinted plan
    // sort-merge-shuffles the WHOLE corpus by id before AQE can demote it)
    val candIds = candidates.select(col("id_a").as(id))
      .union(candidates.select(col("id_b").as(id))).distinct()
    val oldSh = Dedup.docShingleArrays(
      oldDocs.join(broadcast(candIds), Seq(id), "left_semi"), id, text, n)
    val allSh = newSh.unionByName(oldSh)
    candidates
      .join(allSh.select(col(id).as("id_a"), col("shingles").as("sh_a")), Seq("id_a"))
      .join(allSh.select(col(id).as("id_b"), col("shingles").as("sh_b")), Seq("id_b"))
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double"))
      .filter(col("jaccard") >= minJaccard)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }
}
