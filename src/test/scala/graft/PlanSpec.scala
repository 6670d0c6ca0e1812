package graft

import org.apache.spark.sql.execution.FormattedMode
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions: the optimizations SCALING.md claims must
  * actually appear in the executed plans — filters reaching the parquet
  * scan, dimension joins broadcasting, top-N avoiding global sorts, codegen
  * covering the hot paths.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution
      .explainString(FormattedMode)

  test("q1_agg: shipdate filter and column pruning reach the parquet scan") {
    val p = plan("q1_agg")
    assert(p.contains("PushedFilters:") &&
      p.contains("LessThanOrEqual(l_shipdate"), p)
    // projection prunes to the 7 referenced columns
    assert(!p.contains("l_comment") && p.contains("ReadSchema"))
    assert(p.contains("HashAggregate"))
    // codegen annotations only materialize on the executed adaptive plan
    val df = SparkEntry.queries("q1_agg")(spark, dir)
    df.collect()
    assert(df.queryExecution.explainString(FormattedMode).contains("codegen id"))
  }

  test("dimension joins broadcast; fact joins do not broadcast the fact side") {
    val p = plan("j_broadcast_enrich")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("BroadcastExchange"))
  }

  test("q5 snowflake: supplier and nation broadcast") {
    assert(plan("q5_nation_volume").contains("BroadcastHashJoin"))
  }

  test("semi and anti joins plan as LeftSemi / LeftAnti") {
    assert(plan("j_semi_orders").contains("LeftSemi"))
    assert(plan("j_anti_customers").contains("LeftAnti"))
  }

  test("top-N plans as TakeOrderedAndProject, not a global sort") {
    assert(plan("s_topn_lines").contains("TakeOrderedAndProject"))
  }

  test("tokenizer word-count handoff is a bounded top-N, not a full collect") {
    // the trainers' driver handoff must bound itself INSIDE the plan —
    // an unbounded distinct-word collect is a driver OOM at corpus scale
    val docs = Tables.load(spark, dir, "documents")
    val wcF = graft.ops.Bpe.topWordCountsFrame(docs, "text", maxDictWords = 50)
    val p = wcF.queryExecution.explainString(FormattedMode)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(wcF.collect().length <= 50)
    val bgF = graft.ops.CharLm.topBigramCountsFrame(docs, "text", maxPairs = 50)
    val pb = bgF.queryExecution.explainString(FormattedMode)
    assert(pb.contains("TakeOrderedAndProject"), pb)
    assert(bgF.collect().length <= 50)
  }

  test("weighted reservoir: single-pass bounded heap, no per-stratum " +
      "window sort") {
    val docs = Tables.load(spark, dir, "documents")
    val p = graft.ops.Sampling
      .weightedSample(docs, "doc_id", "source", "n_chars", k = 5)
      .queryExecution.explainString(FormattedMode)
    assert(p.contains("partial_bounded_topk"), p)
    assert(!p.contains("Window"), p)
  }

  test("multi-table LSH: bucket equi-joins with broadcast probe/candidate " +
      "sides, bounded heap — no BNLJ, no window") {
    import graft.operators.Similarity
    import org.apache.spark.sql.functions.col
    val emb = Tables.load(spark, dir, "embeddings")
    val qs = emb.filter(col("vec_id") % 97 === 0)
    val p = Similarity.lshTopKTables(emb, qs, "vec_id", "embedding", 5,
        bits = 6, tables = 4)
      .queryExecution.explainString(FormattedMode)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("partial_bounded_topk"), p)
    assert(!p.contains("Window"), p)
  }

  test("brute-force cosine top-k broadcasts the query side") {
    assert(plan("v_cosine_topk").contains("BroadcastNestedLoopJoin"))
  }

  test("exhaustive top-k reduces via bounded partial heaps, not a window") {
    // the scored stream must fold through the k-heap aggregate in BOTH
    // partial and final mode (map-side combine bounds the exchange to
    // partitions·k pairs per query); a Window here would ship every scored
    // corpus row to one reducer per query
    val p = plan("v_cosine_topk")
    assert("partial_bounded_topk".r.findAllIn(p).nonEmpty, p)
    assert(p.contains("ObjectHashAggregate"), p)
    assert(!p.contains("Window"), p)
  }

  test("skyline: no cartesian/BNLJ; the frontier filter is windowed per " +
    "partition, not one global sort") {
    val p = plan("a_skyline_parts")
    assert(!p.contains("CartesianProduct"), p)
    // phase-1 window partitions by the range-partition id, so at least
    // one Window node keys on __pid (a single global-partition window
    // would show an empty partition spec for every Window)
    assert(p.contains("__pid"), p)
  }

  test("betweenness: forward frontier and backward dependency rounds are " +
    "equi-joins — no BNLJ, no cartesian, no window") {
    val p = plan("a_betweenness")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p)
    assert(!p.contains("Window"), p) // per-(seed,v) sums, never a sort-rank
  }

  test("k-truss: triangle enumeration and the support peel are equi-joins") {
    val p = plan("a_ktruss")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p)
  }

  test("walk corpus: hops are equi-joins (no BNLJ), adjacency window is " +
    "per-vertex") {
    val p = plan("a_walk_corpus")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p)
  }

  test("binary hamming top-k: sign-bit scan reduces via bounded heaps, " +
    "query side broadcasts") {
    // the packed-signature scan must fold through the k-heap aggregate
    // (partial+final) with the tiny query side broadcast — and the fp32
    // rerank must stay out of the approximate scan entirely
    val p = plan("v_binary_topk")
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert("partial_bounded_topk".r.findAllIn(p).nonEmpty, p)
    assert(!p.contains("Window"), p)
  }

  test("ivfadc: corpus joins probed cells by EQUI-join — no full-corpus " +
      "ADC scan, bounded final reduction") {
    import graft.operators.{Clustering, Pq}
    import org.apache.spark.sql.functions.col
    val emb = Tables.load(spark, dir, "embeddings")
    val coarse = Clustering.fit(emb, "vec_id", "embedding", 4, maxIter = 1)
    val books = Pq.trainResidualCodebooks(emb, "vec_id", "embedding", coarse,
      m = 8, k = 4, maxIter = 1)
    val qs = emb.filter(col("vec_id") % 97 === 0)
    val p = Pq.ivfAdcTopK(emb, qs, "vec_id", "embedding", coarse, books,
        k = 5, nProbe = 2)
      .queryExecution.explainString(FormattedMode)
    // the scored set is cell-pruned: encoded corpus meets the probe side in
    // a hash equi-join on __cell, never a nested-loop over the whole corpus
    assert(p.contains("BroadcastHashJoin") &&
      p.contains("Left keys [1]: [__cell"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // final reduction is the bounded heap, two-phase
    assert(p.contains("partial_bounded_topk"), p)
    assert(!p.contains("Window"), p)
  }

  test("opq x ivfadc: the rotation is a zero-shuffle projection — the " +
      "composed search keeps the exact ivfadc probe plan shape") {
    import graft.operators.{Clustering, Opq, Pq}
    import org.apache.spark.sql.functions.col
    val emb = Tables.load(spark, dir, "embeddings")
    // the v_opq_ivf_check stack: (mean, R) from Opq.fit, the plain coarse
    // centroids rotated into the transformed space, residual books
    // trained there
    val coarse = Clustering.fit(emb, "vec_id", "embedding", 4, maxIter = 1)
    val opq = Opq.fit(emb, "vec_id", "embedding", 8, 4, alternations = 1,
      initIters = 1)
    val coarseR = coarse.map { c =>
      opq.rotation.map { r =>
        r.zip(c.zip(opq.mean).map { case (x, mn) => x - mn })
          .map { case (a, b) => a * b }.sum
      }.toSeq
    }
    val books = Pq.trainResidualCodebooks(Opq.rotate(emb, "embedding", opq),
      "vec_id", "rvec", coarseR, m = 8, k = 4, maxIter = 1)
    val model = Opq.IvfModel(opq.mean, opq.rotation, coarseR, books)
    val qs = emb.filter(col("vec_id") % 97 === 0)
    val p = Opq.ivfAdcTopK(emb, qs, "vec_id", "embedding", model,
        k = 5, nProbe = 2)
      .queryExecution.explainString(FormattedMode)
    assert(p.contains("BroadcastHashJoin") &&
      p.contains("Left keys [1]: [__cell"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_bounded_topk"), p)
    assert(!p.contains("Window"), p)
  }

  test("ivfadc large-C: kernel probe keeps the same plan shape — probe side " +
      "is the bounded |Q|·nProbe explode feeding the cell equi-join") {
    import graft.operators.{Clustering, Pq}
    import org.apache.spark.sql.functions.col
    val emb = Tables.load(spark, dir, "embeddings")
    val coarse = Clustering.fit(emb, "vec_id", "embedding", 4, maxIter = 1)
    val books = Pq.trainResidualCodebooks(emb, "vec_id", "embedding", coarse,
      m = 8, k = 4, maxIter = 1)
    val qs = emb.filter(col("vec_id") % 97 === 0)
    // literalMax = 0 forces the kernel path at any C (the production
    // switch engages it past LiteralCellThreshold cells)
    val p = Pq.ivfAdcTopK(emb, qs, "vec_id", "embedding", coarse, books,
        k = 5, nProbe = 2, literalMax = 0)
      .queryExecution.explainString(FormattedMode)
    // same scale shape as the literal path: hash equi-join on __cell with
    // the probe side broadcast, bounded-heap final reduction
    assert(p.contains("BroadcastHashJoin") &&
      p.contains("Left keys [1]: [__cell"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_bounded_topk"), p)
    assert(!p.contains("Window"), p)
    // the probe side entering the join is the per-query coarse_probe array
    // exploded — structurally ≤ |Q|·nProbe rows; the centroid table rides
    // the expression object, so the plan mentions only its SIZE
    assert(p.contains("coarse_probe"), p)
    assert(p.contains("explode(__probe"), p)
    assert(p.contains("coarse_residual"), p)
  }

  test("blocked cosine near-dup is an equi-join: no BNLJ, no cartesian") {
    val p = plan("v_cosine_neardup")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("minhash LSH wide stages never carry shingle arrays") {
    val p = plan("d_minhash_pairs")
    // every Exchange's output schema must be free of the shingles column;
    // arrays re-attach only at the final (broadcast) verify join
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.nonEmpty)
    val argLines = p.linesIterator.filter(l =>
      l.contains("Arguments:") && l.contains("hashpartitioning")).toSeq
    assert(argLines.forall(!_.contains("shingles")),
      argLines.mkString("\n"))
  }

  test("winnowing pairs: fingerprint join is an equi-join; exchanges " +
      "carry fingerprints, never document text") {
    val p = plan("d_winnowing_pairs")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    val argLines = p.linesIterator.filter(l =>
      l.contains("Arguments:") && l.contains("hashpartitioning")).toSeq
    assert(argLines.nonEmpty)
    assert(argLines.forall(!_.contains("text")), argLines.mkString("\n"))
  }

  test("pHash: basis-table joins broadcast, per-image reductions are " +
      "hash aggregations, no BNLJ") {
    // the full query checkpoints the hash frame (staging), which truncates
    // its visible plan — assert the dctHash segment on its own
    val grid = graft.multimodal.Multimodal.gridFeatures(
      graft.multimodal.Multimodal.imageTable(
        spark.read.parquet(s"$dir/documents.parquet")), grid = 8).toDF()
    val hp = graft.multimodal.Multimodal.dctHash(grid)
      .queryExecution.explainString(FormattedMode)
    assert(hp.contains("BroadcastHashJoin"), hp) // 64-row DCT basis table
    assert(!hp.contains("BroadcastNestedLoopJoin"), hp)
    assert(!hp.contains("CartesianProduct"), hp)
    assert(hp.contains("HashAggregate") || hp.contains("ObjectHashAggregate"),
      hp)
    val p = plan("m_phash_dups")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("annotator kappa: melt + self-equi-join on the item id, one " +
      "map-combinable aggregation per pair, no window") {
    val p = plan("t_annotator_kappa")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Window"), p)
  }

  test("sax motifs: per-user windows only — no global sort before the " +
      "final 64-row aggregate") {
    val p = plan("e_sax_motifs")
    assert(!p.contains("CartesianProduct"), p)
    // both windows partition by user_id; the only global ordering is the
    // final presentation orderBy on the 64-row motif aggregate
    val winLines = p.linesIterator.filter(_.contains("Window")).toSeq
    assert(winLines.nonEmpty)
    val parts = p.linesIterator.filter(l =>
      l.contains("Arguments:") && l.contains("windowspecdefinition")).toSeq
    assert(parts.forall(_.contains("user_id")), parts.mkString("\n"))
  }

  test("incremental dedup: equi-joins only, shingle arrays stay out of exchanges") {
    val p = plan("d_incremental_pairs")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // same discipline as d_minhash_pairs: the wide stages carry narrow
    // (id, band, bucket) rows; shingles appear only at the verify fetch
    val argLines = p.linesIterator.filter(l =>
      l.contains("Arguments:") && l.contains("hashpartitioning")).toSeq
    assert(argLines.forall(!_.contains("shingles")), argLines.mkString("\n"))
  }

  test("int8 rerank: fp32 vectors never enter the approximate scan") {
    val p = plan("v_int8_check")
    assert(!p.contains("CartesianProduct"), p)
    // the approximate pass is the (intentional) broadcast-query-side pair
    // scan, like brute force — but over int8 arrays: no BNLJ line may
    // mention the fp32 embedding column, only the quantized __q/__cq side
    val bnlj = p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).toSeq
    assert(bnlj.nonEmpty, p)
    assert(bnlj.forall(!_.contains("embedding")), bnlj.mkString("\n"))
  }

  test("aggregations are two-phase partial+final around one exchange") {
    val p = plan("p_daily_agg")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    assert(p.contains("Exchange"))
  }

  // shuffle-Exchange node count from the formatted details section
  // ("(3) Exchange" headers — BroadcastExchange deliberately not counted)
  private def shuffleCount(p: String): Int =
    "\\(\\d+\\) Exchange\\b".r.findAllIn(p).size

  test("PII redaction is a scan-fused projection: no exchange before the " +
    "output sort") {
    val p = plan("t_pii_redact")
    // exactly one Exchange (the final ORDER BY) — redaction itself adds none
    assert(shuffleCount(p) == 1, p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("Generate"), p)
  }

  test("mixture sampling shuffles only partial aggregates, never rows") {
    val p = plan("x_mixture_sample")
    // partial agg → exchange → final agg → output-sort exchange: the keep
    // decision runs map-side, so only (source, counts) rows cross the wire
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    assert(shuffleCount(p) == 2, p)
  }

  test("sequence packing reuses the shard partitioning for its aggregation") {
    val p = plan("x_seq_packing")
    // window exchange on source + final ORDER BY exchange; the groupBy
    // (source, bin) must NOT add a third shuffle — bin is a subdivision of
    // the window's source partitioning
    assert(shuffleCount(p) == 2, p)
    assert(p.contains("Window"), p)
  }

  test("line dedup: no cartesian anywhere; survivor pick is a group-limit") {
    val p = plan("t_line_dedup")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    // rank<=1 over the line key plans as WindowGroupLimit (top-1 pushdown
    // before the full window sort), keeping hot boilerplate lines cheap
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("dup-span report shuffles hashed gram longs, never document text") {
    val p = plan("t_dup_spans")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    val argLines = p.linesIterator.filter(l =>
      l.contains("Arguments:") && l.contains("hashpartitioning")).toSeq
    assert(argLines.nonEmpty)
    assert(argLines.forall(l => !l.contains("text") && !l.contains(" g#")),
      argLines.mkString("\n"))
  }

  test("semdedup pairwise work is an equi-join on the cell — no cartesian") {
    val emb = graft.Tables.load(spark, dir, "embeddings")
    val p = graft.operators.Clustering
      .semDeDupLabels(emb, "vec_id", "embedding", k = 4, tau = 0.45,
        maxIter = 2)
      .queryExecution.explainString(FormattedMode)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("theta sketches aggregate two-phase: raw keys never all shuffle") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.graftx.ThetaExpressions.thetaAgg
    val p = graft.Tables.load(spark, dir, "orders")
      .groupBy(col("o_orderstatus"))
      .agg(thetaAgg(col("o_custkey")).as("sk"))
      .queryExecution.explainString(FormattedMode)
    // imperative sketch buffers plan as ObjectHashAggregate with a
    // partial pass before the exchange — the shuffle carries sketches
    assert(p.contains("ObjectHashAggregate"), p)
    assert("(?s)ObjectHashAggregate.*Exchange.*ObjectHashAggregate".r
      .findFirstIn(p).isDefined, p)
  }

  test("bpe encoding is a zero-shuffle scan projection") {
    import org.apache.spark.sql.functions.col
    val p = graft.Tables.load(spark, dir, "documents")
      .select(org.apache.spark.sql.graftx.BpeExpressions
        .bpeEncode(col("text"), Seq(("a", "b"), ("ab", "c"))).as("toks"))
      .queryExecution.explainString(FormattedMode)
    assert(!p.contains("Exchange"), p)
    assert(p.contains("bpe_encode"), p)
  }

  test("pmi and bm25 stage count tables: corpus scans don't repeat per consumer") {
    // PMI: unigram/bigram tables staged once, totals derived from them —
    // the final plan reads ONLY the staged RDDs, zero parquet re-scans
    val pmi = plan("t_pmi_top")
    assert(!pmi.contains("Scan parquet"), pmi)
    // BM25: tf staged (feeds df + scoring); the only parquet scan left is
    // the corpus-stats aggregate pass (simple-mode plan: one line per node)
    val bm = SparkEntry.queries("t_bm25_topk")(spark, dir)
      .queryExecution.executedPlan.toString
    val scans = bm.linesIterator.count(_.contains("FileScan parquet"))
    assert(scans == 1, s"expected 1 corpus scan, got $scans\n$bm")
  }

  test("fuzzy match blocks as equi-joins; resample grid stays per-key") {
    // anchor blocking must plan as hash/sort-merge equi-joins — a cartesian
    // or non-equi BNLJ here would be the n² all-pairs scan the design bans
    val fm = plan("d_fuzzy_match")
    assert(!fm.contains("CartesianProduct"), fm.take(2000))
    assert(!fm.contains("BroadcastNestedLoopJoin"), fm.take(2000))
    // score-then-dedup shape: the native scorer is in the plan, both anchor
    // joins broadcast the catalog side, and NO join shuffles — the only
    // exchanges left are the tiny lev-survivor distinct + window/sort
    assert(fm.contains("bounded_levenshtein"), fm.take(2000))
    assert(fm.linesIterator.count(_.contains("BroadcastHashJoin")) >= 2, fm.take(2000))
    assert(!fm.contains("SortMergeJoin") && !fm.contains("ShuffledHashJoin"),
      fm.take(2000))
    // the resample grid comes from a per-user explode (Generate), joined
    // back on (user_id, h) — never a time-spine cartesian
    val rs = plan("e_resample_ffill")
    assert(rs.contains("Generate"), rs.take(2000))
    assert(!rs.contains("CartesianProduct") &&
      !rs.contains("BroadcastNestedLoopJoin"), rs.take(2000))
  }

  test("span removal: no cartesian; gram/coverage shuffles carry no text") {
    val p = plan("t_span_removal")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    val argLines = p.linesIterator.filter(l =>
      l.contains("Arguments:") && l.contains("hashpartitioning")).toSeq
    assert(argLines.nonEmpty)
    assert(argLines.forall(l => !l.contains("text") && !l.contains(" g#")),
      argLines.mkString("\n"))
  }

  test("naive bayes scoring is a zero-shuffle, codegen'd projection") {
    import org.apache.spark.sql.functions.col
    import graft.ops.NaiveBayes
    val corpus = graft.Tables.load(spark, dir, "documents")
    val model = NaiveBayes.train(corpus, "text",
      col("source").isin("src0", "src1"), 50)
    val scored = NaiveBayes.score(corpus, "text", model)
    val p = scored.queryExecution.explainString(FormattedMode)
    // the pass that touches the whole corpus: no Exchange, no Generate
    // (explode), no join — the model rides as literals in the projection
    assert(!p.contains("Exchange") && !p.contains("Generate") &&
      !p.contains("Join"), p)
    assert(p.contains("codegen id"), p)
  }

  test("t-closeness: global value table and totals broadcast; no " +
    "cartesian product (the group x value matrix rides a broadcast " +
    "nested loop over the tiny value table only)") {
    val p = plan("x_t_closeness")
    assert(p.contains("BroadcastExchange"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("gopher repetition: per-statistic counts are hash aggregates over " +
    "narrow keys; coverage joins are equi/semi joins, never BNLJ; the " +
    "n-gram statistics run STACKED (one shuffle set, not one per n)") {
    val p = plan("t_gopher_repetition")
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // the fused form: a single (n, gram) generator feeds the dup filter,
    // position-union distinct, and token-length join ONCE for n=5..10
    // (and once for the n=2..4 top-gram stats) — the whole plan measures
    // 10 shuffle Exchanges; the unfused per-n chains carried ~24 for the
    // six coverages alone
    assert(shuffleCount(p) <= 12, s"shuffles=${shuffleCount(p)}\n$p")
  }

  test("sharded packing: the corpus-sized window partitions by (source, " +
    "shard); the only per-source window runs over the sub-shard AGGREGATE") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val q = SparkEntry.queries("x_seq_packing_sharded")(spark, dir)
    val windows = q.queryExecution.optimizedPlan.collect {
      case w: LWindow => w
    }
    assert(windows.nonEmpty)
    // the document-stream window must be sharded (2 partition keys)…
    assert(windows.exists(_.partitionSpec.length == 2),
      q.queryExecution.optimizedPlan.toString)
    // …and any single-key (per-source) window must sit on top of an
    // aggregate (≤ numShards rows per source), never on the corpus
    windows.filter(_.partitionSpec.length < 2).foreach { w =>
      assert(w.child.collectFirst { case a: Aggregate => a }.nonEmpty,
        s"per-source window runs over non-aggregated input:\n$w")
    }
    // both offset joins broadcast; no shuffle join of the corpus
    val p = plan("x_seq_packing_sharded")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("pretrain e2e: the decontamination gram table broadcasts and the " +
    "dedup drops are anti equi-joins (the plan from the near-dedup " +
    "checkpoint onward — upstream screens are behind it)") {
    val p = plan("p_pretrain_e2e")
    assert(p.contains("BroadcastExchange"), p)
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("incremental laters read: the wave-min floor is PUSHED to the " +
    "pairs-store scan (row-group pruning of the history) and the wave " +
    "restriction plans as a semi equi-join") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val raw = Tables.load(spark, dir, "documents").localCheckpoint()
    try {
      val mid = raw.agg(max($"doc_id")).head().getLong(0) / 2
      val root = java.nio.file.Files
        .createTempDirectory("graft-plan-laters").toString
      graft.jobs.PretrainCorpus.ingestWave(spark,
        raw.filter($"doc_id" <= mid), raw, root)
      graft.jobs.PretrainCorpus.ingestWave(spark,
        raw.filter($"doc_id" > mid), raw, root)
      // the exact frame shape ingestWave builds for its laters read
      // (PretrainCorpus.ingestWave — filter floor, then semi-join to the
      // wave's ids, then the bounded distinct); asserted here because
      // the optimizer cannot derive the floor from the join, so only
      // the explicit predicate gets the history's row groups OFF the
      // scan — the claim SCALING.md makes for per-wave pairs I/O
      val waveIds = raw.filter($"doc_id" > mid)
        .select($"doc_id".as("id_b"))
      val laters = graft.streaming.IncrementalDedupStream
        .pairs(spark, s"$root/dedup_store")
        .filter($"id_b" >= lit(mid + 1))
        .join(waveIds, Seq("id_b"), "left_semi")
        .select($"id_b".as("doc_id")).distinct()
      val p = laters.queryExecution.explainString(FormattedMode)
      assert(p.contains("PushedFilters") &&
        p.contains("GreaterThanOrEqual(id_b"), p)
      assert(p.contains("LeftSemi"), p)
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"), p)
    } finally org.apache.spark.sql.graftx.CheckpointUtils
      .unpersistLocalCheckpoint(raw)
  }

  test("incremental dedup ingest: the accumulated store (index AND corpus) " +
    "reaches a shuffle only through a broadcast semi-probe — per-batch " +
    "shuffle volume is batch-bounded, never O(store)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val raw = Tables.load(spark, dir, "documents").localCheckpoint()
    try {
      val mid = raw.agg(max($"doc_id")).head().getLong(0) / 2
      val root = java.nio.file.Files
        .createTempDirectory("graft-plan-incidx").toString
      graft.streaming.IncrementalDedupStream.ingestBatch(
        raw.filter($"doc_id" <= mid), "doc_id", "text", s"$root/store",
        minJaccard = 0.5, epoch = 0L)
      // prior state exactly as ingestBatch's wave 2 would read it
      val oldIndex = spark.read.parquet(s"$root/store/index")
        .filter($"__wv" =!= 1L)
      val oldDocs = spark.read.parquet(s"$root/store/corpus")
        .filter($"__wv" =!= 1L)
      val q = graft.operators.IncrementalDedup.incrementalPairs(
        raw.filter($"doc_id" > mid), "doc_id", "text", oldIndex, oldDocs,
        minJaccard = 0.5)
      // AQE's inputPlan predates EnsureRequirements (no exchanges yet);
      // executedPlan on a never-run query is the INITIAL plan with
      // exchanges inserted — the static plan the claim is about, before
      // any runtime demotion could mask a shuffle
      val full: SparkPlan = q.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      def isStoreScan(p: SparkPlan): Boolean =
        p.children.isEmpty && (p.toString.contains("/store/index") ||
          p.toString.contains("/store/corpus"))
      // a store scan whose path to `p` does NOT pass a broadcast
      // semi-join: such a scan's full row set would feed the shuffle above
      def unguarded(p: SparkPlan): Boolean = p match {
        case b: BroadcastHashJoinExec if b.joinType == LeftSemi => false
        case s if isStoreScan(s) => true
        case other => other.children.exists(unguarded)
      }
      // sanity: the plan really scans the store and really shuffles (the
      // touched-slice histogram + candidate joins) — the guard assertion
      // below is not vacuous
      assert(full.collect { case s if isStoreScan(s) => s }.nonEmpty,
        full.toString)
      val shuffles = full.collect { case e: ShuffleExchangeLike => e }
      assert(shuffles.nonEmpty, full.toString)
      shuffles.foreach(sh =>
        assert(!sh.children.exists(unguarded),
          s"store scan reaches a shuffle un-probed:\n$sh"))
    } finally org.apache.spark.sql.graftx.CheckpointUtils
      .unpersistLocalCheckpoint(raw)
  }

}
