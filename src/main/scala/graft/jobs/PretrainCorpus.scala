package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.{Decontaminate, Dedup}
import graft.ops.{Gopher, Packing, Sampling}
import graft.orchestration.Pipeline

/** The COMPOSED pretrain-corpus pipeline: every stage the engine ships
  * individually (clean → Gopher quality → language ID → exact dedup →
  * MinHash-LSH near dedup → benchmark decontamination → mixture sampling →
  * sequence packing + shard manifest), chained into one job with one
  * end-to-end law. Each stage is oracle-green on its own (`t_gopher_filters`,
  * `t_langid`, `d_exact_groups`, `d_minhash_pairs`, `t_decontaminate`,
  * `x_mixture_sample`, `x_seq_packing`, `x_shard_manifest`); this job is
  * where interface mismatches and double-counting would live — exactly where
  * the reference puts its only structure (two Glue jobs chained by Step
  * Functions, `pipeline_definition.json:3-84`) — so the `p_pretrain_e2e`
  * gate replays the ENTIRE chain in DuckDB and hash-compares the final
  * manifest.
  *
  * Stage order is the 100 TB cost argument: the per-document, shuffle-free
  * screens (blank, quality, language) run first and shrink the corpus
  * before anything shuffles; exact dedup (one hash groupBy) runs before the
  * LSH near-dedup so the banded index is built over fewer documents;
  * decontamination broadcasts only the benchmark's hashed grams; mixing is
  * a pure projection; and packing — the one per-source window — runs last,
  * over the smallest surviving set. Stage survivors are localCheckpoint-
  * staged where a stage's output feeds two consumers (the near-dedup
  * anti-join reads its input twice), so no filter chain is recomputed.
  *
  * Packing note: the packing LAW is per-source sequential by doc_id — as
  * a `partitionBy(source)` window that is one task per source, a skew
  * point at 100 TB with few giant sources. The job therefore packs with
  * [[Packing.packSharded]]: each source range-shards by doc_id, tokens
  * cumulate per shard in parallel, and per-shard prefix-sum offsets
  * restore the global bin ids — row-for-row equal to the window form
  * (spec-proven, and `x_seq_packing_sharded` proves it against the
  * window law's oracle). The `p_pretrain_e2e` oracle states the law in
  * its window form; this job runs the sharded mechanism against it.
  */
object PretrainCorpus {

  /** Stage parameters — defaults match the individual gates' constants.
    * `nBuckets` is the id-hash bucket fan-out of every wave-partitioned
    * store (fingerprints, admissions, corpus, and the dedup store): it
    * bounds an erasure's rewrite to the subject's buckets, so size it so
    * one bucket is a tractable rewrite at the deployment's corpus scale
    * (at 100 TB and 1024 buckets, ~100 GB per bucket). It must stay
    * constant for the life of a store — the erasure recomputes the
    * subject's buckets from ids alone with the same modulus.
    */
  case class Config(
      lang: String = "en",
      minJaccard: Double = 0.5,
      evalMod: Int = 17,
      packBudget: Int = 512,
      mixRates: Map[String, Double] =
        (0 until 20).map(i => s"src$i" -> ((i % 4) + 1) / 4.0).toMap,
      mixSalt: String = "mix",
      nBuckets: Int = 16)

  /** Stage 1 — drop blank documents (they tokenize to nothing and would
    * only ride the shuffles).
    */
  def clean(docs: DataFrame): DataFrame =
    docs.filter(length(trim(col("text"))) > 0)

  /** Stage 2 — Gopher quality screen ([[Gopher.report]]'s exact law). */
  def qualityFilter(docs: DataFrame): DataFrame =
    docs.join(
      Gopher.report(docs).filter(col("quality_pass") === 1).select("doc_id"),
      Seq("doc_id"), "left_semi")

  /** Stage 3 — language screen: keep documents the n-gram profile scorer
    * ([[TextFunctions.langGuess]]) assigns to `lang`. Pure projection +
    * filter — no shuffle.
    */
  def langFilter(docs: DataFrame, lang: String): DataFrame =
    docs.filter(TextFunctions.langGuess(col("text")) === lang)

  /** Stage 4 — exact dedup: keep the min-id document of every identical
    * text (raw md5, [[Dedup.exactGroups]]'s law).
    */
  def exactDedup(docs: DataFrame): DataFrame =
    docs.join(
      Dedup.exactGroups(docs, "doc_id", "text")
        .select(col("canonical_id").as("doc_id")),
      Seq("doc_id"), "left_semi")

  /** Stage 5 — near dedup: MinHash-LSH candidate pairs verified at exact
    * shingle Jaccard ≥ `minJaccard` ([[Dedup.minhashLshPairs]]); the LATER
    * member of every pair is dropped (id_a < id_b by construction), so the
    * oldest copy of each near-dup cluster survives — the same min-id-wins
    * convention as exact dedup, in the form a one-pass SQL replay can state
    * (`NOT IN (SELECT id_b FROM pairs)`).
    */
  def nearDedup(docs: DataFrame, minJaccard: Double): DataFrame = {
    val stable = docs.localCheckpoint() // feeds the index AND the anti-join
    val laters = Dedup
      .minhashLshPairs(stable, "doc_id", "text", minJaccard)
      .select(col("id_b").as("doc_id")).distinct()
    stable.join(laters, Seq("doc_id"), "left_anti")
  }

  /** Stage 6 — benchmark decontamination: the eval slice is the mod-`evalMod`
    * documents of the RAW corpus (held out regardless of what the filters
    * did to them); surviving corpus documents sharing any 13-gram with the
    * benchmark are dropped, and the benchmark slice itself never enters the
    * training corpus. Benchmark grams broadcast hashed
    * ([[Decontaminate.contaminationReport]]).
    */
  def decontaminate(docs: DataFrame, raw: DataFrame, evalMod: Int): DataFrame = {
    val bench = raw.filter(pmod(col("doc_id"), lit(evalMod)) === 0)
    val corpus = docs.filter(pmod(col("doc_id"), lit(evalMod)) =!= 0)
    corpus.join(
      Decontaminate.contaminationReport(corpus, "doc_id", "text", bench, "text")
        .filter(col("contaminated") === 1).select("doc_id"),
      Seq("doc_id"), "left_anti")
  }

  /** Stage 7 — domain-mixture sampling: per-source deterministic md5-bucket
    * keep rates ([[Sampling.mixtureKeep]]). Pure projection — no shuffle,
    * re-run-stable.
    */
  def mix(docs: DataFrame, rates: Map[String, Double],
      salt: String): DataFrame =
    docs.filter(Sampling.mixtureKeep(col("doc_id"), col("source"), rates,
      salt))

  /** Stages 1-7 composed: the surviving training corpus. */
  def corpus(raw: DataFrame, cfg: Config = Config()): DataFrame = {
    val s3 = langFilter(qualityFilter(clean(raw)), cfg.lang)
    val s5 = nearDedup(exactDedup(s3), cfg.minJaccard)
    mix(decontaminate(s5, raw, cfg.evalMod), cfg.mixRates, cfg.mixSalt)
  }

  /** Stage 8 — sequence packing + per-source shard manifest over the final
    * corpus: documents pack greedily into `packBudget`-token bins per
    * source in doc_id order ([[Packing.packSharded]] — the window law
    * without its per-source single-task window); the manifest
    * reports per source the doc/token totals, the bin count, how many
    * documents span a bin boundary, and the order-independent content
    * checksum (sum of a 32-bit md5 slice of "id:text" — the writer-side
    * integrity fingerprint). Every value depends on every upstream stage,
    * so a hash match on this frame proves the whole composition.
    */
  def manifest(raw: DataFrame, cfg: Config = Config()): DataFrame =
    manifestOf(corpus(raw, cfg), cfg)

  /** The packing + per-source manifest over an ALREADY-final corpus
    * (shared by the fused composition, the disk-chained stage, and the
    * incremental ingest's gate).
    */
  def manifestOf(fin: DataFrame, cfg: Config = Config()): DataFrame = {
    val toks = when(length(trim(col("text"))) === 0, lit(0))
      .otherwise(size(split(trim(col("text")), "\\s+"))).cast("int")
    val base = fin.select(col("doc_id"), col("source"), toks.as("n_tok"),
      conv(substring(
        md5(concat(col("doc_id").cast("string"), lit(":"), col("text"))),
        1, 8), 16, 10).cast("long").as("__h"))
    Packing.packSharded(base, "source", "doc_id", "n_tok", cfg.packBudget)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).cast("long").as("n_tokens"),
        (max(col("bin_last")) + 1).cast("long").as("n_bins"),
        sum((col("bin_last") > col("bin_first")).cast("long"))
          .as("n_spanning"),
        sum(col("__h")).as("checksum"))
  }

  /** The pipeline as ORCHESTRATED stages: each stage reads its
    * predecessor's parquet from `workDir`, transforms, writes its own —
    * the shape a scheduler actually runs (retry/backoff per stage,
    * restart-from-last-green), wired through
    * [[graft.orchestration.Pipeline.run]]. Spec-proven equal to the pure
    * [[manifest]] composition.
    */
  def stages(spark: SparkSession, raw: DataFrame, workDir: String,
      cfg: Config = Config()): Seq[Pipeline.Stage] = {
    def path(name: String) = s"$workDir/$name"
    def write(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").option("compression", "snappy")
        .parquet(path(name))
    def read(name: String): DataFrame = spark.read.parquet(path(name))
    Seq(
      Pipeline.Stage("clean", () => write(clean(raw), "s1_clean")),
      Pipeline.Stage("quality", () =>
        write(qualityFilter(read("s1_clean")), "s2_quality")),
      Pipeline.Stage("langid", () =>
        write(langFilter(read("s2_quality"), cfg.lang), "s3_lang")),
      Pipeline.Stage("exact_dedup", () =>
        write(exactDedup(read("s3_lang")), "s4_exact")),
      Pipeline.Stage("near_dedup", () =>
        write(nearDedup(read("s4_exact"), cfg.minJaccard), "s5_near")),
      Pipeline.Stage("decontaminate", () =>
        write(decontaminate(read("s5_near"), raw, cfg.evalMod), "s6_decon")),
      Pipeline.Stage("mix", () =>
        write(mix(read("s6_decon"), cfg.mixRates, cfg.mixSalt), "s7_mix")),
      Pipeline.Stage("manifest", () =>
        write(manifestOf(read("s7_mix"), cfg), "s8_manifest")))
  }

  /** INCREMENTAL corpus maintenance — one ingest `wave` flows through the
    * same eight-stage law against ACCUMULATED state, so a continuously-fed
    * corpus never recomputes over its history:
    *
    *  - the per-document screens (blank, quality, language) are stateless;
    *  - exact dedup consults an accumulated fingerprint store (md5 of the
    *    first-seen copy — appended per wave, O(wave) rows);
    *  - near dedup runs the wave through the incremental LSH store
    *    ([[graft.streaming.IncrementalDedupStream.ingestBatch]]): pairs
    *    are found against the store's band index in O(wave + collisions),
    *    and the wave's LATER members of new pairs are dropped;
    *  - decontamination and mixing are stateless per-document screens;
    *  - survivors append to `workDir/corpus`.
    *
    * EQUAL TO THE BATCH LAW by construction — `p_pretrain_incremental`
    * reuses `p_pretrain_e2e`'s oracle verbatim — PROVIDED waves arrive in
    * doc_id-range order (wave N's ids all above wave N-1's): the batch
    * near-dedup rule drops a doc iff some SMALLER-id qualifying partner
    * exists, and with id-ordered waves every smaller-id partner is
    * already in the store (the store ingests the wave's full post-screen,
    * post-exact-dedup set — including docs near-dedup then drops from the
    * corpus — exactly the population batch pairs are computed over).
    * Append-only ingest with monotone id ranges is the normal crawl-dump
    * shape — and the precondition is ENFORCED, not assumed: a wave whose
    * min screened id is not above every already-ingested id fails loudly
    * (one max aggregate over the narrow fingerprint store — the store
    * holds exactly the accumulated s4 population the near-dedup law
    * quantifies over, and the exact-dedup canonical of any group is
    * always stored, so the stored max bounds every id the law can
    * consult). For out-of-order ids the batch law itself is
    * order-dependent and a re-run of the fused [[corpus]] is the
    * arbiter, as the error says.
    *
    * CRASH-REPLAY SAFE: every store write of a wave — fingerprints,
    * admissions, corpus rows, and the dedup store via its `epoch` mode —
    * lands under a `__wv=<waveId>` partition by dynamic overwrite, and
    * every read of prior state excludes the wave's own partition. A
    * replayed wave therefore recomputes against exactly the state its
    * first attempt saw and overwrites any partial output: at-least-once
    * redelivery, exactly-once effect (spec-proven). `waveId` defaults to
    * the wave's min screened doc_id — deterministic across replays, and
    * unique across waves by the ordering guard.
    *
    * `raw` is the full reference corpus the eval slice is drawn from
    * (fixed upfront, the realistic decontamination setup).
    */
  def ingestWave(spark: SparkSession, wave: DataFrame, raw: DataFrame,
      workDir: String, cfg: Config = Config(),
      waveId: Option[Long] = None): Unit = {
    def exists(p: String): Boolean = {
      val hp = new org.apache.hadoop.fs.Path(p)
      hp.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(hp)
    }
    val fpPath = s"$workDir/fingerprints"
    // the wave's min screened id rides the checkpoint's own job; the
    // checkpoint feeds fp compute, store ingest, and the output
    val (screened, obsScr) = org.apache.spark.sql.graftx.CheckpointUtils
      .materialize(langFilter(qualityFilter(clean(wave)), cfg.lang),
        min(col("doc_id")).as("mn"))
    val minScreened = Option(obsScr("mn"))
      .map(_.asInstanceOf[Number].longValue())
    if (minScreened.isEmpty) return // nothing survived the screens: no-op
    val wid = waveId.getOrElse(minScreened.get)
    // prior fingerprint state: the store minus this wave's own partition
    // (so a crash replay sees what the first attempt saw). A store whose
    // every row was erased is an ANCHOR-ONLY read (stagedSwapParquet's
    // flat schema anchor carries no __wv column): zero rows, prior =
    // none. A NON-empty no-__wv store was written outside this code —
    // silently treating it as bootstrap would dedup against nothing and
    // then hide the flat files behind partition discovery: fail loudly
    // (the same rule IncrementalDedupStream.ingestBatch enforces).
    val fpPrior =
      if (!exists(fpPath)) None
      else {
        val df = spark.read.parquet(fpPath)
        if (df.columns.contains("__wv")) Some(df.filter(col("__wv") =!= wid))
        else if (df.isEmpty) None // fully-erased (anchor-only) store
        else throw new IllegalStateException(
          s"ingestWave over a non-empty legacy (no __wv) fingerprint " +
            s"store at $fpPath — its accumulated state would be " +
            "silently ignored and then hidden by partition discovery; " +
            "migrate the store (rewrite under a __wv partition) first")
      }
    // bucket-modulus marker: the __bk layout is fixed the moment the
    // first wave commits — a later ingest hashing with a different
    // modulus would write to the wrong bucket dirs and silently break
    // every footprint-bounded erasure, so the first wave records
    // cfg.nBuckets and every later wave fails loudly on a mismatch
    graft.io.Sinks.recordNBuckets(spark, workDir, cfg.nBuckets)
    // ORDERING GUARD — the batch-law equivalence precondition, enforced.
    // O(1) via the `_maxid` watermark each wave publishes (its bound is
    // the max doc_id the fingerprint store holds — the same quantity the
    // scan computes, so the guard trips IDENTICALLY from either source);
    // pre-marker stores fall back to the one-time full-store max scan
    // (O(store rows) — the cost the marker exists to retire), and an
    // erasure deletes the marker so the next wave re-establishes it from
    // the scan. A replay of wave `wid` reads its OWN marker and guards
    // against `prevMax` — exactly the state its first attempt saw.
    val guardBound: Option[Long] = fpPrior.flatMap { prev =>
      graft.io.Sinks.readMaxIdWatermark(spark, workDir) match {
        case Some((mWid, prevMax, _)) if mWid == wid => prevMax
        case Some((_, _, curMax)) => Some(curMax)
        case None =>
          Option(prev.agg(max(col("doc_id"))).head().get(0))
            .map(_.asInstanceOf[Number].longValue())
      }
    }
    guardBound.foreach { prevMax =>
      if (minScreened.get <= prevMax) throw new IllegalStateException(
        s"out-of-order wave: min screened doc_id ${minScreened.get} is " +
          s"not above the max already-ingested doc_id $prevMax — " +
          "incremental ingest equals the batch law only for " +
          "id-ordered waves; re-run the fused batch composition " +
          "(PretrainCorpus.corpus / manifest) as the arbiter for " +
          "this corpus instead")
    }
    // exact dedup: first copy in the WAVE wins (min id per fp), and any
    // fp already in the store blocks the whole wave group
    val waveFp = screened
      .select(col("doc_id"), md5(col("text")).as("fp"))
    val firstInWave = waveFp.groupBy(col("fp"))
      .agg(min(col("doc_id")).as("doc_id"))
    // checkpointed: feeds the watermark max, the s4 semi-join, and its
    // own store commit — without the pin the prior-store probe would
    // re-execute per consumer (each one an O(store) scan). The stored-max
    // watermark input rides the checkpoint job itself.
    val unseen = fpPrior match {
      case None => firstInWave
      case Some(prev) =>
        // anti-join FLIPPED into a semi-probe: `firstInWave ANTI store`
        // directly can only hash-build on the store side (too big to
        // broadcast), so it sort-merge-shuffles the WHOLE accumulated
        // store by fp on every wave. Probing the other way — store ⋉
        // wave → `hits`, the fps the store already holds — lets AQE
        // broadcast the wave side: the store is column-pruned SCANNED
        // but never shuffled, and the final anti-join runs against
        // `hits`, which is bounded by the wave (⊆ firstInWave's fps).
        // Row-for-row equal: wave ∖ store = wave ∖ (store ∩ wave).
        val hits = prev.select(col("fp"))
          .join(firstInWave.select(col("fp")), Seq("fp"), "left_semi")
        firstInWave.join(hits, Seq("fp"), "left_anti")
    }
    val (newFp, obsFp) = org.apache.spark.sql.graftx.CheckpointUtils
      .materialize(unseen, max(col("doc_id")).as("mx"))
    // publish the INGEST WATERMARK — after the guard, before any commit:
    // curMax = what the fingerprint store's max doc_id WILL be once this
    // wave commits (prior bound ∨ the wave's stored max — the exact
    // quantity the scan guard aggregates), prevMax = the bound this
    // wave's own guard used, so a crash replay of this wave guards
    // against the same state its first attempt did. The NEXT wave's
    // guard then reads one tiny file instead of max-scanning a store
    // that at 100 TB is TB-scale.
    val waveMax = Option(obsFp("mx"))
      .map(_.asInstanceOf[Number].longValue())
    (guardBound.toSeq ++ waveMax.toSeq).reduceOption(_ max _).foreach(cm =>
      graft.io.Sinks.writeMaxIdWatermark(spark, workDir, wid, guardBound,
        cm))
    val s4wave = screened.join(newFp.select(col("doc_id")),
      Seq("doc_id"), "left_semi").localCheckpoint()
    // near dedup against the accumulated store: ingest the wave's s4 set
    // (the population batch pairs are computed over), then drop the
    // wave docs that arrived as the LATER member of a new pair; the
    // store shares the wave's epoch, so its appends replay-overwrite too
    val storeDir = s"$workDir/dedup_store"
    graft.streaming.IncrementalDedupStream.ingestBatch(s4wave, "doc_id",
      "text", storeDir, cfg.minJaccard, nBuckets = cfg.nBuckets,
      epoch = wid)
    // only this wave's docs can be dropped (the anti-join target below is
    // s4wave), and id-ordered waves put every prior wave's later-member
    // id_b BELOW this wave's min id — so restricting the pairs store to
    // the wave's own ids before the distinct is row-equivalent, and the
    // distinct shuffles O(this wave's collisions) instead of O(every
    // pair ever recorded). The `>= minScreened` predicate is implied by
    // the semi-join (wave ids all sit at or above the wave min) but
    // Catalyst can't derive a min/max pushdown from a join, so it is
    // stated explicitly: parquet row-group stats then prune the
    // accumulated history's pairs off the SCAN as well — per-wave I/O
    // over the pairs store stops growing with corpus age.
    val laters = graft.streaming.IncrementalDedupStream
      .pairs(spark, storeDir)
      .filter(col("id_b") >= lit(minScreened.get))
      .join(s4wave.select(col("doc_id").as("id_b")), Seq("id_b"),
        "left_semi")
      .select(col("id_b").as("doc_id")).distinct()
    // per-doc ADMISSION FLAGS for the wave's whole s4 set (not just the
    // near-dedup survivors): eval-slice membership, benchmark
    // contamination, and the mixture draw are all deterministic
    // per-document decisions, persisted so an erasure can replay
    // admissions from stored state without re-shingling the corpus
    val bench = raw.filter(pmod(col("doc_id"), lit(cfg.evalMod)) === 0)
    val contaminated = Decontaminate
      .contaminationReport(
        s4wave.filter(pmod(col("doc_id"), lit(cfg.evalMod)) =!= 0),
        "doc_id", "text", bench, "text")
      .filter(col("contaminated") === 1).select(col("doc_id"))
    // checkpointed: admissions feeds its own store commit AND the
    // corpus commit's semi-join — un-staged, the contamination report's
    // 13-gram hashing pass over the wave executed TWICE (measured ~0.7 s
    // per wave at sf0.1 inside the admissions commit alone), and the
    // three commits below could not safely run concurrently
    val admissions = s4wave.select(col("doc_id"),
        (pmod(col("doc_id"), lit(cfg.evalMod)) === 0).as("in_eval"),
        Sampling.mixtureKeep(col("doc_id"), col("source"), cfg.mixRates,
          cfg.mixSalt).as("mix_keep"))
      .join(contaminated.withColumn("__c", lit(true)), Seq("doc_id"), "left")
      .select(col("doc_id"), col("in_eval"),
        coalesce(col("__c"), lit(false)).as("contaminated"), col("mix_keep"))
      .localCheckpoint()
    val s7wave = s4wave.join(laters, Seq("doc_id"), "left_anti")
      .join(admissions.filter(!col("in_eval") && !col("contaminated") &&
        col("mix_keep")).select(col("doc_id")), Seq("doc_id"), "left_semi")
    // epoch-tagged commits under (`__bk=<idHashBucket>`, `__wv=<waveId>`)
    // via dynamic partition overwrite: the `__wv` leg keeps crash replay
    // exactly-once (a replay recomputes the same deterministic rows and
    // overwrites whichever subset the crashed attempt left), and the
    // `__bk` leg — the dedup store's own layout — bounds an erasure's
    // rewrite to the subject's bucket directories instead of the whole
    // store ([[eraseDocs]]). An EMPTY commit writes no partition at all,
    // so when the store would otherwise hold zero data files a flat
    // zero-row SCHEMA ANCHOR keeps it readable (the same convention as
    // [[graft.io.Sinks.stagedSwapParquet]]'s post-erasure state).
    def commit(df: DataFrame, path: String): Unit = {
      // the committed row count rides the write action itself (observe):
      // a separate isEmpty would re-execute the frame's un-cached join
      // plan, and an unconditional store listing would grow with store
      // age — both are costs on every wave for a check that only matters
      // after the RARE empty commit
      val obs = org.apache.spark.sql.Observation()
      df.observe(obs, count(lit(1)).as("n"))
        .withColumn("__bk",
          pmod(xxhash64(col("doc_id")), lit(cfg.nBuckets.toLong)))
        .withColumn("__wv", lit(wid))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .option("compression", "snappy")
        .partitionBy("__bk", "__wv").parquet(path)
      // anchor needed only if this commit was empty AND the store holds
      // no data files at all (dynamic overwrite writes nothing for an
      // empty frame, leaving a never-non-empty store unreadable)
      if (obs.get("n").asInstanceOf[Long] == 0L &&
          graft.io.Sinks.parquetFileCount(spark, path) == 0)
        df.limit(0).write.mode("append").option("compression", "snappy")
          .parquet(path)
    }
    commit(newFp, fpPath)
    commit(admissions, s"$workDir/admissions")
    commit(s7wave, s"$workDir/corpus")
    // the commits were the checkpoints' last consumers — release the
    // pinned MEMORY_AND_DISK blocks rather than leaving them to squat on
    // executor memory for the life of the ingest loop (exception paths
    // still lean on the caller's purge, same as every staged query)
    Seq(screened, newFp, s4wave).foreach(
      org.apache.spark.sql.graftx.CheckpointUtils.unpersistLocalCheckpoint)
  }

  /** The FIRST MILE composed with the incremental law as ONE operator: a
    * checkpointed [[graft.io.Warc.warcStream]] over `landingDir`, each
    * micro-batch of parsed WARC records mapped to document rows by
    * `toDocs` (producing at least doc_id LONG, source STRING, text
    * STRING — how record headers map to ids and sources is
    * deployment-specific) and driven through [[ingestWave]] against the
    * accumulated stores. Empty micro-batches no-op; a crash-replayed
    * batch overwrites its own output (ingestWave's `__wv` commits);
    * waves must honor the id-ordering contract, which the guard enforces
    * loudly. Trigger and lifecycle belong to the caller via the returned
    * handle (the `p_pretrain_warc_stream` gate drives one AvailableNow
    * run per landed archive and is oracle-gated against the fused batch
    * law verbatim).
    */
  def ingestWarcStream(spark: SparkSession, landingDir: String,
      checkpointDir: String, raw: DataFrame, workDir: String,
      toDocs: DataFrame => DataFrame, cfg: Config = Config(),
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    graft.io.Warc.warcStream(spark, landingDir).toDF()
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        ingestWave(spark, toDocs(batch), raw, workDir, cfg)
        ()
      }
      .start()

  /** Right-to-be-forgotten erasure of the incremental corpus state — and
    * the REPLAY of every admission decision the subject influenced: a doc
    * previously suppressed as the later member of a near-dup pair with an
    * erased doc becomes admissible again, exactly as if the subject had
    * never been ingested. No re-shingling, no re-screening: the dedup
    * store already holds the retained s4 population and its pairs
    * ([[graft.streaming.IncrementalDedupStream.erase]] scrubs both), the
    * fingerprint store drops the subject's entries, and the persisted
    * admission flags replay decontamination/mixing per doc — the corpus
    * rebuild is ONE narrow pass over stored state.
    *
    * Two deliberate semantic boundaries, stated rather than hidden:
    * exact-duplicate COPIES of an erased doc stay out (their text — the
    * subject's content — was never stored, and readmitting it would
    * defeat the erasure); and historical decontamination flags stand
    * (the eval set is a fixed publication — erasing a corpus doc does
    * not reopen other docs' contamination verdicts). The
    * `p_pretrain_erasure` gate states the full law in SQL, these
    * boundaries included.
    *
    * FOOTPRINT-BOUNDED, the same contract as
    * [[graft.streaming.IncrementalDedupStream.erase]]: every store
    * rewrite touches only the id-hash buckets of the subject — plus, for
    * the corpus, the buckets of the subject's pair partners (the only
    * docs whose admission the erasure can flip) — never the whole store.
    * The bucket sets are computed from the ids and the narrow pairs
    * store alone; untouched bucket directories stay byte-identical
    * (spec-asserted). The bucket modulus comes from the store family's
    * own `_nbuckets` marker ([[ingestWave]] records [[Config.nBuckets]]
    * at first commit): hashing with any other modulus computes the wrong
    * buckets and silently erases nothing, so the former free `Int`
    * parameter is now an optional assertion — a caller value that
    * contradicts the marker fails loudly
    * ([[graft.io.Sinks.resolveNBuckets]]); pre-marker stores fall back
    * to the caller's value, else the historical default. Every store is
    * rewritten in the (`__bk`, `__wv`) layout [[ingestWave]] writes; a
    * store holding rows without a `__bk` column fails loudly. Ids are
    * coerced to the stores' ingested doc_id type before hashing (the
    * bucket hash is type-sensitive).
    *
    * Crash posture of the in-place bucket rewrite (the same one
    * [[graft.streaming.IncrementalDedupStream.erase]] carries): task and
    * executor failures are all-or-nothing — the dynamic overwrite's
    * staged files only move at commitJob, so a failed write job leaves
    * the store untouched and the erase simply re-runs. The residual
    * window is a DRIVER crash inside commitJob itself (between one
    * partition's delete and its rename) — milliseconds of metadata ops,
    * with the complete staged files still on disk under the job's
    * `.spark-staging-*` directory for manual recovery. A re-run after
    * any crash outside that window converges: stale subject-only
    * partitions are re-filtered and the delete list is recomputed from
    * the ids. A store with no data files, or only the flat schema
    * anchor, has nothing to erase, so a re-run after a completed
    * erasure is a no-op.
    */
  def eraseDocs(spark: SparkSession, workDir: String,
      ids: DataFrame, nBuckets: Option[Int] = None): Unit = {
    import org.apache.spark.sql.functions.broadcast
    val nb = graft.io.Sinks.resolveNBuckets(spark, workDir, nBuckets)
    // retire the ingest watermark FIRST: the erasure may remove the
    // store's max doc_id, so the recorded high-water bound stops
    // describing the store — the next wave's guard falls back to the
    // one-time scan and re-establishes the marker. Deleting before any
    // mutation keeps every crash state conservative (a stale marker
    // could only make the guard stricter, never laxer, but the scan is
    // always exactly right).
    graft.io.Sinks.deleteMarkerFile(spark, workDir, "_maxid")
    def exists(p: String): Boolean = {
      val hp = new org.apache.hadoop.fs.Path(p)
      hp.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(hp)
    }
    val unpersist = org.apache.spark.sql.graftx.CheckpointUtils
      .unpersistLocalCheckpoint(_: DataFrame)
    def bk(c: org.apache.spark.sql.Column) =
      pmod(xxhash64(c), lit(nb.toLong))
    def bucketsOf(df: DataFrame): Seq[Long] =
      df.select(bk(col("doc_id")).as("__bk")).distinct()
        .collect().map(_.getLong(0)).toSeq
    val parts = Seq("__bk", "__wv")
    def partDirs(df: DataFrame): Set[String] = df
      .select(parts.map(col): _*).distinct().collect()
      .map(r => parts.indices.map(i => s"${parts(i)}=${r.get(i)}")
        .mkString("/")).toSet
    // a store's rows, or None when it has none to erase: absent, no data
    // files, or only the flat schema anchor a rewrite down to zero rows
    // leaves. Rows outside the (__bk, __wv) layout fail loudly — the
    // same rule ingestWave applies to a store without __wv.
    def bucketedStore(path: String): Option[DataFrame] =
      if (graft.io.Sinks.parquetFileCount(spark, path) == 0) None
      else {
        val df = spark.read.parquet(path)
        if (df.columns.contains("__bk")) Some(df)
        else if (df.isEmpty) None
        else throw new IllegalStateException(
          s"eraseDocs over a non-empty store without the __bk layout at " +
            s"$path — a bucket-pruned rewrite cannot find the subject's " +
            "rows; migrate the store (rewrite under __bk/__wv) first")
      }
    // dynamic overwrite of `rebuilt` (already restricted to `buckets`)
    // over the store's rows in those buckets; partitions left with no
    // rows are dropped explicitly, and a store rewritten down to zero
    // data files keeps a flat schema anchor so it stays readable (and
    // reads as ingestWave's bootstrap state)
    def rewrite(path: String, store: Option[DataFrame], buckets: Seq[Long],
        rebuilt: DataFrame): Unit = {
      // staged before the overwrite: it reads the path it replaces
      val touched = store.fold(Set.empty[String])(df =>
        partDirs(df.filter(col("__bk").isin(buckets: _*))))
      val kept = rebuilt.localCheckpoint()
      try {
        kept.write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .option("compression", "snappy")
          .partitionBy(parts: _*).parquet(path)
        graft.io.Sinks.deletePartitionDirs(spark, path,
          (touched -- partDirs(kept)).toSeq)
        if (graft.io.Sinks.parquetFileCount(spark, path) == 0)
          kept.drop(parts: _*).limit(0).write.mode("append")
            .option("compression", "snappy").parquet(path)
      } finally unpersist(kept)
    }
    // the bucket hash is TYPE-SENSITIVE: coerce the ids to the stores'
    // ingested doc_id type before hashing (shared guard —
    // [[graft.io.Sinks.coerceToStoreIdType]]); the fingerprint store is
    // the narrowest schema that always exists alongside the others
    val keys = graft.io.Sinks
      .coerceToStoreIdType(spark, ids, s"$workDir/fingerprints", "doc_id")
      .distinct().localCheckpoint()
    try {
      // READMISSION CANDIDATES — materialized BEFORE any store mutates:
      // the later members of pairs whose EARLIER member is erased (those
      // pairs die with the subject, so only these docs can flip from
      // suppressed to admitted). Bounded by the subject's pair fan-out.
      val pairsPath = s"$workDir/dedup_store/pairs"
      val candidates = (
        if (!exists(pairsPath)) keys.limit(0)
        else graft.streaming.IncrementalDedupStream
          .pairs(spark, s"$workDir/dedup_store")
          .join(broadcast(keys.select(col("doc_id").as("id_a"))),
            Seq("id_a"), "left_semi")
          .select(col("id_b").as("doc_id")).distinct()
          .join(broadcast(keys), Seq("doc_id"), "left_anti")
        ).localCheckpoint()
      try {
        val subjectBuckets = bucketsOf(keys)
        val corpusBuckets =
          (subjectBuckets ++ bucketsOf(candidates)).distinct
        // the subject's fingerprints, vectors, and pairs die first
        // the dedup store self-resolves from its own marker (same cfg at
        // ingest, but each store is its own ground truth); the caller's
        // assertion, if any, is checked against both
        graft.streaming.IncrementalDedupStream.erase(spark,
          s"$workDir/dedup_store", keys, "doc_id", nBuckets)
        // fingerprint/admission stores: rewrite ONLY the subject's
        // buckets, at (__bk, __wv) granularity — replay exclusion and
        // future wave commits keep working on the surviving layout
        if (subjectBuckets.nonEmpty)
          for (sub <- Seq("fingerprints", "admissions")) {
            val p = s"$workDir/$sub"
            bucketedStore(p).foreach(full => rewrite(p, Some(full),
              subjectBuckets,
              full.filter(col("__bk").isin(subjectBuckets: _*))
                .join(broadcast(keys), Seq("doc_id"), "left_anti")))
          }
        // corpus rebuild from retained stored state, restricted to the
        // affected buckets: s4 population minus later-members of RETAINED
        // pairs, gated by the replayed admission flags; each doc keeps
        // the dedup store's wave tag. An erasure that swallowed the
        // ENTIRE corpus leaves the dedup store file-less: the corpus is
        // then empty by definition — drop it and stop.
        val corpusPath = s"$workDir/corpus"
        val dedupCorpus =
          bucketedStore(s"$workDir/dedup_store/corpus").filterNot(_.isEmpty)
        if (dedupCorpus.isEmpty) {
          val c = new org.apache.hadoop.fs.Path(corpusPath)
          c.getFileSystem(spark.sparkContext.hadoopConfiguration)
            .delete(c, true)
          return
        }
        if (corpusBuckets.nonEmpty) {
          val laters = graft.streaming.IncrementalDedupStream
            .pairs(spark, s"$workDir/dedup_store")
            .select(col("id_b").as("doc_id")).distinct()
          // the semi-join key determines the bucket, so the probe side
          // prunes to the same buckets as the rebuilt side
          val admitted = bucketedStore(s"$workDir/admissions")
            .fold(keys.limit(0))(_.filter(!col("in_eval") &&
              !col("contaminated") && col("mix_keep") &&
              col("__bk").isin(corpusBuckets: _*)).select(col("doc_id")))
          // the dedup store's own bucket modulus may differ — recompute
          // __bk from doc_id with THIS store's law before filtering
          // (__wv — the arrival wave — carries over from the dedup store)
          rewrite(corpusPath, bucketedStore(corpusPath), corpusBuckets,
            dedupCorpus.get.drop("__bk")
              .withColumn("__bk", bk(col("doc_id")))
              .filter(col("__bk").isin(corpusBuckets: _*))
              .join(laters, Seq("doc_id"), "left_anti")
              .join(admitted, Seq("doc_id"), "left_semi"))
        }
      } finally unpersist(candidates)
    } finally unpersist(keys)
  }
}
