package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.IncrementalDedupStream

/** Structured Streaming: stateless and aggregating operators driven through
  * real streaming queries (file source → memory sink) and checked against
  * the identical batch plan; the incremental dedup store and its erasure.
  */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("streaming SpaceSaving heavy hitters equal the batch summary") {
    import org.apache.spark.sql.graftx.SpaceSavingExpressions.spaceSaving
    // the mergeable summary is exactly what makes the aggregate legal in a
    // streaming aggregation: partials fold into the state store per batch
    val dir = Files.createTempDirectory("graft-hh-stream").toString
    val events = Tables.events(spark, "/root/testdata/sf0.001")
      .select($"event_id", $"event_type")
    // two separate file drops → at least two micro-batches of partials
    events.filter($"event_id" % 2 === 0).write.parquet(s"$dir/in")
    events.filter($"event_id" % 2 === 1).write.mode("append").parquet(s"$dir/in")
    val stream = spark.readStream.schema(events.schema).parquet(s"$dir/in")
    val q = stream.agg(spaceSaving($"event_type", 64).as("hh"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("hh_stream").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("hh_stream")
        .select(explode($"hh").as("e"))
        .select($"e.key", $"e.cnt", $"e.err")
        .as[(String, Long, Long)].collect().toSet
      val batch = events.agg(spaceSaving($"event_type", 64).as("hh"))
        .select(explode($"hh").as("e"))
        .select($"e.key", $"e.cnt", $"e.err")
        .as[(String, Long, Long)].collect().toSet
      assert(streamed.nonEmpty && streamed == batch)
      assert(streamed.forall(_._3 == 0L)) // exact regime either way
    } finally q.stop()
  }

  test("PII redaction and mixture keep run identically under readStream") {
    // both are stateless per-row projections, so they must compose into a
    // streaming ingest unchanged — the property a cleaning pipeline relies
    // on when the same transform serves backfill (batch) and live (stream)
    val dir = Files.createTempDirectory("graft-stream-pii").toString
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .limit(200)
    docs.write.parquet(s"$dir/in")
    val rates = Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.0)
    def transform(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("red", graft.functions.PiiFunctions.redactPii(
        concat($"text", lit(" mail "), $"doc_id", lit("@x.example.com"))))
      .withColumn("keep", graft.ops.Sampling.mixtureKeep(
        $"doc_id", $"source", rates))
      .select($"doc_id", $"red", $"keep")
    val q = transform(spark.readStream.schema(docs.schema).parquet(s"$dir/in"))
      .writeStream.outputMode("append").format("memory")
      .queryName("pii_stream").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("pii_stream").orderBy($"doc_id").collect()
      val batch = transform(spark.read.parquet(s"$dir/in"))
        .orderBy($"doc_id").collect()
      assert(streamed.nonEmpty && streamed.toSeq == batch.toSeq)
      assert(streamed.forall(_.getString(1).contains("<EMAIL>")))
    } finally q.stop()
  }

  test("span corruption streams ≡ batch (stateless hash-masked projection)") {
    // the denoising-objective generator must produce the SAME pairs in a
    // live ingest as in backfill — guaranteed because masking is a pure
    // function of (doc_id, position), never of arrival order
    val dir = Files.createTempDirectory("graft-stream-corrupt").toString
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .limit(150)
    docs.write.parquet(s"$dir/in")
    def transform(df: org.apache.spark.sql.DataFrame) =
      graft.ops.SpanCorrupt.corrupt(df, "doc_id", "text")
        .select($"doc_id", $"n_masked", $"n_spans",
          concat_ws(" ", $"input_tokens").as("inp"),
          concat_ws(" ", $"target_tokens").as("tgt"))
    val q = transform(spark.readStream.schema(docs.schema).parquet(s"$dir/in"))
      .writeStream.outputMode("append").format("memory")
      .queryName("corrupt_stream").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("corrupt_stream").orderBy($"doc_id").collect()
      val batch = transform(spark.read.parquet(s"$dir/in"))
        .orderBy($"doc_id").collect()
      assert(streamed.nonEmpty && streamed.toSeq == batch.toSeq)
      assert(streamed.exists(_.getLong(2) > 0)) // spans actually occur
    } finally q.stop()
  }

  test("curation pipeline (quality gate + decontaminate) streams ≡ batch") {
    // the corpus-curation chain is per-document given a broadcast benchmark
    // (quality score: stateless projection; decontamination: per-doc gram
    // overlap vs a static set) — so running it per micro-batch in
    // foreachBatch must reproduce the batch run over the union exactly.
    // That equivalence is what lets one pipeline serve backfill and live
    // ingest without a second implementation.
    val dir = Files.createTempDirectory("graft-stream-curate").toString
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val bench = docs.filter($"doc_id" % 17 === 0)
      .select($"doc_id", $"text").localCheckpoint()
    val corpus = docs.filter($"doc_id" % 17 =!= 0)
    // two ingest waves → two micro-batches at maxFilesPerTrigger=1
    corpus.filter($"doc_id" % 2 === 0).coalesce(1)
      .write.mode("append").parquet(s"$dir/in")
    corpus.filter($"doc_id" % 2 =!= 0).coalesce(1)
      .write.mode("append").parquet(s"$dir/in")
    def curate(df: org.apache.spark.sql.DataFrame) = {
      val scored = df.withColumn("q",
        graft.functions.TextFunctions.qualityScore($"text"))
        .filter($"q" > 0.2)
      val bad = graft.operators.Decontaminate
        .contaminationReport(scored, "doc_id", "text", bench, "text", n = 3)
        .filter($"contaminated" === 1).select($"doc_id")
      scored.join(bad, Seq("doc_id"), "left_anti").select($"doc_id", $"q")
    }
    val q = spark.readStream.schema(corpus.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/in")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        curate(batch).write.mode("append").parquet(s"$dir/out"): Unit
      }
      .option("checkpointLocation", s"$dir/ckpt")
      .start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.read.parquet(s"$dir/out")
      .as[(Long, Double)].collect().toSeq.sorted
    val batch = curate(spark.read.parquet(s"$dir/in"))
      .as[(Long, Double)].collect().toSeq.sorted
    assert(streamed.nonEmpty && streamed == batch)
    // both gates actually fired: some docs were cut by each stage
    assert(streamed.size < corpus.count())
  }

  test("incremental dedup stream emits each near-dup pair exactly once") {
    import graft.operators.Dedup
    val base = Files.createTempDirectory("graft-incdedup").toString
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // two ingest waves, one file each → two micro-batches at
    // maxFilesPerTrigger=1; a pair must surface exactly when its LATER
    // member arrives (same wave or the next), never twice
    docs.filter($"doc_id" % 2 === 0).coalesce(1).write
      .mode("append").parquet(s"$base/in")
    docs.filter($"doc_id" % 2 =!= 0).coalesce(1).write
      .mode("append").parquet(s"$base/in")
    // the foreachBatch sink: each micro-batch ingests under its batch id
    // as the epoch, so a redelivered batch overwrites its own output
    val q = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$base/in")
      .writeStream.option("checkpointLocation", s"$base/ckpt")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        IncrementalDedupStream.ingestBatch(batch, "doc_id", "text",
          s"$base/store", minJaccard = 0.5, epoch = id)
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    val got = IncrementalDedupStream.pairs(spark, s"$base/store")
      .select($"id_a", $"id_b").as[(Long, Long)].collect()
    val full = Dedup.minhashLshPairs(docs, "doc_id", "text", 0.5)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(full.nonEmpty)
    assert(got.length == got.toSet.size, "a pair was emitted twice")
    assert(got.toSet == full)
  }

  test("naive bayes scoring streams ≡ batch (frozen model, stateless projection)") {
    // the production deployment: train the reference classifier offline,
    // then score live ingest with the frozen model — scoring is a
    // stateless zero-shuffle projection, so it must compose into
    // readStream unchanged and reproduce the batch scores exactly
    import graft.ops.NaiveBayes
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-nb").toString
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .limit(300).localCheckpoint()
    val model = NaiveBayes.train(docs, "text",
      $"source".isin("src0", "src1", "src2"), vocabSize = 200)
    docs.write.parquet(s"$dir/in")
    val q = NaiveBayes.score(
        spark.readStream.schema(docs.schema).parquet(s"$dir/in"), "text", model)
      .select($"doc_id", $"margin_q", $"pred")
      .writeStream.outputMode("append").format("memory")
      .queryName("nb_stream").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("nb_stream")
        .as[(Long, Long, Long)].collect().toSeq.sorted
      val batch = NaiveBayes
        .score(spark.read.parquet(s"$dir/in"), "text", model)
        .select($"doc_id", $"margin_q", $"pred")
        .as[(Long, Long, Long)].collect().toSeq.sorted
      assert(streamed.nonEmpty && streamed == batch)
    } finally q.stop()
  }

  test("dedup store erasure: bucket-pruned corpus/index rewrite matches a " +
    "from-scratch rebuild on the retained docs, pairs lose both sides, " +
    "and ingest continues correctly afterwards") {
    import graft.operators.{Dedup, IncrementalDedup}
    val base = Files.createTempDirectory("graft-dedup-erase").toString
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .localCheckpoint()
    val w0 = docs.filter($"doc_id" % 3 === 0)
    val w1 = docs.filter($"doc_id" % 3 === 1)
    val w2 = docs.filter($"doc_id" % 3 === 2)
    IncrementalDedupStream.ingestBatch(w0, "doc_id", "text", s"$base/store",
      minJaccard = 0.5, epoch = 0L)
    IncrementalDedupStream.ingestBatch(w1, "doc_id", "text", s"$base/store",
      minJaccard = 0.5, epoch = 1L)
    // erase every ingested doc whose md5(doc_id) starts with '0'
    val ingested = w0.unionByName(w1)
    val erased = ingested
      .filter(substring(md5($"doc_id".cast("string")), 1, 1) === "0")
      .select($"doc_id").localCheckpoint()
    val erasedIds = erased.as[Long].collect().toSet
    assert(erasedIds.nonEmpty, "fixture must select some docs to erase")
    IncrementalDedupStream.erase(spark, s"$base/store", erased, "doc_id")
    val retained = ingested.filter(!$"doc_id".isin(erasedIds.toSeq: _*))
      .localCheckpoint()
    // corpus store == retained rows (id set equality)
    val corpusIds = spark.read.parquet(s"$base/store/corpus")
      .select($"doc_id").as[Long].collect().toSet
    assert(corpusIds == retained.select($"doc_id").as[Long].collect().toSet)
    // index store == bandIndex rebuilt from scratch on the retained docs
    val idxAfter = spark.read.parquet(s"$base/store/index")
      .select($"doc_id", $"band", $"bucket")
    val idxRebuilt = IncrementalDedup.bandIndex(retained, "doc_id", "text")
    assert(idxAfter.exceptAll(idxRebuilt).isEmpty &&
      idxRebuilt.exceptAll(idxAfter).isEmpty,
      "erased index != from-scratch rebuild")
    // pairs == all-pairs law over the retained corpus (both sides retained)
    val pairsAfter = IncrementalDedupStream.pairs(spark, s"$base/store")
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val pairsWant = Dedup.minhashLshPairs(retained, "doc_id", "text", 0.5)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(pairsAfter == pairsWant)
    // the store stays a valid ingest target: a post-erasure wave dedups
    // against the retained corpus exactly as a full recompute would
    IncrementalDedupStream.ingestBatch(w2, "doc_id", "text", s"$base/store",
      minJaccard = 0.5, epoch = 2L)
    val finalPairs = IncrementalDedupStream.pairs(spark, s"$base/store")
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val finalWant = Dedup
      .minhashLshPairs(retained.unionByName(w2), "doc_id", "text", 0.5)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(finalPairs == finalWant,
      "post-erasure ingest diverged from the full recompute law")
    // a store erased down to nothing: a retry of the completed erasure
    // finds no data files to rewrite and no-ops, and the store still
    // bootstraps the next epoch
    val few = w0.limit(40).localCheckpoint()
    IncrementalDedupStream.ingestBatch(few, "doc_id", "text",
      s"$base/small", minJaccard = 0.5, epoch = 0L)
    IncrementalDedupStream.erase(spark, s"$base/small",
      few.select($"doc_id"), "doc_id")
    IncrementalDedupStream.erase(spark, s"$base/small",
      few.select($"doc_id"), "doc_id")
    IncrementalDedupStream.ingestBatch(few, "doc_id", "text",
      s"$base/small", minJaccard = 0.5, epoch = 1L)
    assert(spark.read.parquet(s"$base/small/corpus").count() == few.count())
  }

  test("epoch-tagged ingest over a NON-empty legacy (no __wv) dedup " +
    "store fails loudly instead of silently deduping against nothing") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .limit(50).localCheckpoint()
    val base = Files.createTempDirectory("graft-legacy-store").toString
    // a legacy store: flat layout, real accumulated state
    docs.write.parquet(s"$base/store/corpus")
    val e = intercept[IllegalStateException] {
      IncrementalDedupStream.ingestBatch(docs, "doc_id", "text",
        s"$base/store", minJaccard = 0.5, epoch = 1L)
    }
    assert(e.getMessage.contains("legacy"), e.getMessage)
  }

  test("WET archives landing across triggers flow through ingestWave to " +
    "exactly the batch composition's manifest (first mile ∘ incremental " +
    "law, one path)") {
    val dir = "/root/testdata/sf0.001"
    // the gate: per-wave WET encode → checkpointed warcStream →
    // foreachBatch ingestWave → manifest over the accumulated corpus
    val got = SparkEntry.queries("p_pretrain_warc_stream")(spark, dir)
      .collect().toSeq
    // the arbiter: the fused batch composition over the same documents
    val want = graft.jobs.PretrainCorpus
      .manifest(Tables.load(spark, dir, "documents"))
      .orderBy($"source").collect().toSeq
    assert(got.nonEmpty && got == want,
      s"streamed WARC ingest diverged from the batch law:\n" +
        s" got=$got\nwant=$want")
  }

  test("streaming WARC ingestion: archives landing across triggers parse " +
    "to exactly the batch scan's rows, each file once") {
    import graft.io.Warc
    val base = Files.createTempDirectory("graft-warc-stream").toString
    def writeArc(name: String, ids: Seq[Long]): Unit = {
      val f = new java.io.FileOutputStream(s"$base/in/$name")
      f.write(Warc.encodeArchive(ids.map(i => Warc.WarcRecord("conversion",
        s"urn:graft:$i", s"http://s.example/$i",
        s"stream body $i with some words".getBytes("UTF-8")))))
      f.close()
    }
    new java.io.File(s"$base/in").mkdirs()
    writeArc("w1.warc.gz", Seq(1L, 2L))
    val q = Warc.warcStream(spark, s"$base/in").toDF()
      .writeStream.format("parquet")
      .option("path", s"$base/out")
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally q.stop()
    // a second archive lands; a NEW AvailableNow run ingests only it
    writeArc("w2.warc.wet.gz", Seq(3L, 4L, 5L))
    val q2 = Warc.warcStream(spark, s"$base/in").toDF()
      .writeStream.format("parquet")
      .option("path", s"$base/out")
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q2.awaitTermination() finally q2.stop()
    val streamed = spark.read.parquet(s"$base/out")
      .select($"record_id", $"target_uri", $"content_length", $"text")
      .collect().map(_.toSeq).toSeq
    val batch = Warc.warcScan(spark, s"$base/in").toDF()
      .select($"record_id", $"target_uri", $"content_length", $"text")
      .collect().map(_.toSeq).toSeq
    assert(streamed.nonEmpty && streamed.sortBy(_.toString) ==
      batch.sortBy(_.toString),
      "streamed WARC rows != batch scan")
    assert(streamed.size == streamed.distinct.size,
      "a record was ingested twice across triggers")
  }

}
