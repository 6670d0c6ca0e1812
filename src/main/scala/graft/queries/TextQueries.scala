package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFunctions._

/** Text-analysis queries over the `documents` table (training-data pipeline
  * operators): token statistics + quality score, language-ID heuristic,
  * content fingerprints.
  *
  * Oracle notes: every metric is arithmetic over exact integers (or md5),
  * with identical operation order spelled out in the DuckDB SQL — results are
  * bit-identical. Only the rolling hash (xxhash64-based) has no SQL oracle.
  */
object TextQueries extends QueryPack {

  /** DuckDB mirror of TextFunctions.normalize / tokens (shared with
    * [[PretrainQueries]]).
    */
  private[queries] val normSql =
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))"
  private[queries] val toksSql =
    s"CASE WHEN length($normSql) = 0 THEN [] ELSE string_split($normSql, ' ') END"

  private def inList(words: Seq[String]) = words.map(w => s"'$w'").mkString("[", ", ", "]")

  /** "Curated" label for ranking evaluation — the same 4-of-20 source
    * convention the Naive Bayes reference classifier trains on.
    */
  private[queries] val curatedSources: Seq[String] =
    (0 to 3).map(i => s"src$i")

  private val stopSql =
    s"len(list_filter(toks, t -> list_contains(${inList(defaultStopwords)}, t)))"

  /** Shared CTE chain producing q(doc_id, source, quality_score) with the
    * bit-identical composite-score arithmetic (used by the per-source
    * cutoff and the decile calibration oracles).
    */
  /** Shared vote frame for the weak-supervision family: four labeling
    * functions (quality band, language agreement, length band, stopword
    * density) voting +1/-1/0 per document, plus the unweighted majority —
    * used by t_weak_labels, t_annotator_kappa, t_fleiss_kappa.
    */
  private def weakVotes(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val base = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        qualityScore(col("text")).as("qs"),
        wsTokenCount(col("text")).as("wt"),
        stopwordCount(col("text")).as("sw"),
        langGuess(col("text")).as("lg"))
    base.select(col("doc_id"),
        when(col("qs") >= 0.5, 1).when(col("qs") < 0.25, -1)
          .otherwise(0).as("v1"),
        when(col("lg") === col("lang"), 1).otherwise(-1).as("v2"),
        when(col("wt") >= 20, 1).when(col("wt") < 5, -1)
          .otherwise(0).as("v3"),
        when(col("sw") * 10 >= col("wt"), 1).when(col("sw") === 0, -1)
          .otherwise(0).as("v4"))
      .withColumn("maj",
        signum(col("v1") + col("v2") + col("v3") + col("v4")).cast("int"))
  }

  /** DuckDB mirror of [[weakVotes]] — CTE chain ending in
    * `vm(doc_id, v1..v4, maj)`; shared by the weak-supervision oracles.
    */
  private lazy val weakVotesCtes: String = {
    val scoreCols = langProfiles.map { case (l, words) =>
      s"len(list_filter(toks, t -> list_contains(${inList(words)}, t))) AS score_$l"
    }.mkString(",\n    ")
    val langs = langProfiles.map(_._1)
    val mx = langs.map(l => s"score_$l").mkString("greatest(", ", ", ")")
    val guess = langs
      .map(l => s"WHEN __mx > 0 AND score_$l = __mx THEN '$l'")
      .mkString("CASE ", " ", " ELSE 'und' END")
    s"""t AS (SELECT doc_id, lang, text, $toksSql AS toks
       |  FROM documents),
       |m AS (SELECT doc_id, lang, toks,
       |    CAST(length(text) AS INTEGER) AS char_len,
       |    CAST(len(toks) AS INTEGER) AS wt,
       |    CAST(length(text) - length(regexp_replace(text,
       |      '[^a-zA-Z0-9\\s]', '', 'g')) AS INTEGER) AS punct_chars,
       |    CAST($stopSql AS INTEGER) AS sw,
       |    CAST(COALESCE(list_sum(list_transform(toks, t -> length(t))),
       |        0) AS DOUBLE)
       |      / CAST(greatest(len(toks), 1) AS DOUBLE) AS avg_token_len,
       |    $scoreCols
       |  FROM t),
       |g AS (SELECT *, $mx AS __mx FROM m),
       |q AS (SELECT doc_id, lang, wt, sw,
       |    0.25 * least(1.0, CAST(wt AS DOUBLE) / 50.0)
       |    + 0.25 * (1.0 - least(1.0, CAST(punct_chars AS DOUBLE)
       |        / CAST(greatest(char_len, 1) AS DOUBLE)))
       |    + 0.25 * least(1.0, CAST(sw AS DOUBLE) * 10.0
       |        / CAST(greatest(wt, 1) AS DOUBLE))
       |    + 0.25 * (1.0 - least(1.0, abs(avg_token_len - 5.0) / 5.0))
       |      AS qs,
       |    $guess AS lg
       |  FROM g),
       |v AS (SELECT doc_id,
       |    CASE WHEN qs >= 0.5 THEN 1 WHEN qs < 0.25 THEN -1
       |      ELSE 0 END AS v1,
       |    CASE WHEN lg = lang THEN 1 ELSE -1 END AS v2,
       |    CASE WHEN wt >= 20 THEN 1 WHEN wt < 5 THEN -1
       |      ELSE 0 END AS v3,
       |    CASE WHEN sw * 10 >= wt THEN 1 WHEN sw = 0 THEN -1
       |      ELSE 0 END AS v4
       |  FROM q),
       |vm AS MATERIALIZED (SELECT *,
       |    CAST(sign(v1 + v2 + v3 + v4) AS INTEGER) AS maj FROM v)"""
      .stripMargin
  }

  private def qualityScoredCte =
    s"""t AS (SELECT doc_id, source, text, $toksSql AS toks FROM documents),
       |m AS (
       |  SELECT doc_id, source,
       |    CAST(length(text) AS INTEGER) AS char_len,
       |    CAST(len(toks) AS INTEGER) AS ws_tokens,
       |    CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')) AS INTEGER) AS punct_chars,
       |    CAST($stopSql AS INTEGER) AS stopword_hits,
       |    CAST(COALESCE(list_sum(list_transform(toks, t -> length(t))), 0) AS DOUBLE)
       |      / CAST(greatest(len(toks), 1) AS DOUBLE) AS avg_token_len
       |  FROM t),
       |q AS (
       |  SELECT doc_id, source,
       |    0.25 * least(1.0, CAST(ws_tokens AS DOUBLE) / 50.0)
       |    + 0.25 * (1.0 - least(1.0,
       |        CAST(punct_chars AS DOUBLE) / CAST(greatest(char_len, 1) AS DOUBLE)))
       |    + 0.25 * least(1.0,
       |        CAST(stopword_hits AS DOUBLE) * 10.0 / CAST(greatest(ws_tokens, 1) AS DOUBLE))
       |    + 0.25 * (1.0 - least(1.0, abs(avg_token_len - 5.0) / 5.0)) AS quality_score
       |  FROM m)""".stripMargin

  /** Fixed blocklist for the Aho-Corasick screen: overlapping-prone
    * phrases, sub-word substrings, nested patterns ("agg" ⊃ "gg"), and a
    * never-matching entry — the shapes that break naive counting.
    */
  private[queries] val blockPatterns = Seq(
    "table", "table table", "a a", "scan", "agg", "gg",
    "value table", "stream sort", "spark", "zzz-unseen")

  override def queries: Map[String, Query] = Map(
    // Multi-pattern blocklist screen in ONE automaton pass per document
    // (native Aho-Corasick expression — a P-entry blocklist costs the
    // same single corpus scan as one pattern, where per-pattern contains
    // loops scan P times). ALL occurrences count, overlapping included;
    // the oracle recomputes every pattern's count by per-position
    // substring equality — a structurally independent O(len·P) mechanism
    // the automaton must match exactly.
    "t_blocklist_hits" -> ((s, dir) =>
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          org.apache.spark.sql.graftx.AhoCorasickExpressions
            .multiPatternCounts(col("text"), blockPatterns).as("__c"))
        .select(col("doc_id"),
          // null text scores (0, 0) — the NgramLm short-document convention
          coalesce(aggregate(col("__c"), lit(0L), (a, x) => a + x), lit(0L))
            .as("total_hits"),
          coalesce(size(filter(col("__c"), c => c > 0L)).cast("long"),
            lit(0L)).as("n_patterns_hit"))
        .orderBy(col("doc_id"))),

    // TextRank keyword extraction (Mihalcea & Tarau 2004): integer
    // PageRank over the corpus-wide word co-occurrence graph (adjacent
    // content words, length ≥ 4, symmetric distinct edges) — the
    // unsupervised keyword scorer. Words become 60-bit md5 vertex ids in
    // BOTH engines (a collision would merge identically on both sides —
    // value-exactness survives), so no global row_number id-assignment
    // window exists anywhere. Rank mass reuses Graph.pageRankInt
    // unchanged; the oracle unrolls the same integer recurrence.
    "t_textrank_keywords" -> ((s, dir) => {
      val toks = Tables.load(s, dir, "documents")
        .select(tokens(col("text")).as("t0"))
        .select(expr("filter(t0, w -> length(w) >= 4)").as("t"))
        .filter(size(col("t")) >= 2)
      val pairs = toks.select(explode(expr("transform(" +
          "sequence(0, size(t) - 2), " +
          "i -> named_struct('x', t[i], 'y', t[i + 1]))")).as("p"))
        .select(col("p.x").as("x"), col("p.y").as("y"))
        .filter(col("x") =!= col("y"))
      val und = pairs
        .unionByName(pairs.select(col("y").as("x"), col("x").as("y")))
        .distinct()
        .localCheckpoint() // feeds edges AND the id→word map
      def wid(c: org.apache.spark.sql.Column) =
        conv(substring(md5(c), 1, 15), 16, 10).cast("long")
      val edges = und.select(wid(col("x")).as("a"), wid(col("y")).as("b"))
      val vocab = und.select(col("x").as("word")).distinct()
        .select(col("word"), wid(col("word")).as("vertex"))
      graft.operators.Graph.pageRankInt(edges, "a", "b", iters = 3)
        .join(vocab, Seq("vertex"))
        .orderBy(col("rank").desc, col("word")).limit(30)
        .select(col("word"), col("rank").as("rank_micro"))
    }),

    // ROUGE-1/2 overlap (Lin 2004) between deterministic document pairs
    // (doc 2k = candidate vs doc 2k+1 = reference): clipped n-gram
    // matches Σ_g min(cnt_C, cnt_R) — the eval-overlap / near-dup-audit
    // metric between generated and reference text. All counts are exact
    // integers; the one F1 division is a single IEEE op. Gram counts
    // shuffle on (pair, gram) — bounded by document length, never by
    // corpus size; no pair materializes a cross product.
    "t_rouge_overlap" -> ((s, dir) => {
      val d = Tables.load(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"),
          tokens(col("text")).as("toks"))
        .withColumn("pair_id", floor(col("doc_id") / lit(2.0)).cast("long"))
        .withColumn("side", pmod(col("doc_id"), lit(2L)))
        // sequence(0, -1) would COUNT DOWN (negative default step) —
        // short docs must short-circuit to the empty bigram list
        .withColumn("bi", expr("CASE WHEN size(toks) < 2 " +
          "THEN CAST(array() AS array<string>) " +
          "ELSE transform(sequence(0, size(toks) - 2), " +
          "i -> concat(toks[i], ' ', toks[i + 1])) END"))
      def grams(c: String) = d
        .select(col("pair_id"), col("side"), explode(col(c)).as("g"))
        .groupBy(col("pair_id"), col("side"), col("g"))
        .agg(count(lit(1)).as("n"))
      def clipped(cnt: org.apache.spark.sql.DataFrame, out: String) = cnt
        .filter(col("side") === 0)
        .select(col("pair_id"), col("g"), col("n").as("cn"))
        .join(cnt.filter(col("side") === 1)
          .select(col("pair_id"), col("g"), col("n").as("rn")),
          Seq("pair_id", "g"))
        .groupBy(col("pair_id"))
        .agg(sum(least(col("cn"), col("rn"))).as(out))
      val tot = d.groupBy(col("pair_id")).agg(
        sum(when(col("side") === 0, size(col("toks")))).as("c_tokens"),
        sum(when(col("side") === 1, size(col("toks")))).as("r_tokens"),
        sum(when(col("side") === 0, size(col("bi")))).as("c_bigrams"),
        sum(when(col("side") === 1, size(col("bi")))).as("r_bigrams"),
        count(lit(1)).as("sides"))
        .filter(col("sides") === 2)
      tot.join(clipped(grams("toks"), "uni_match"), Seq("pair_id"), "left")
        .join(clipped(grams("bi"), "bi_match"), Seq("pair_id"), "left")
        .select(col("pair_id"), col("c_tokens"), col("r_tokens"),
          coalesce(col("uni_match"), lit(0L)).as("uni_match"),
          col("c_bigrams"), col("r_bigrams"),
          coalesce(col("bi_match"), lit(0L)).as("bi_match"),
          when(col("c_bigrams") + col("r_bigrams") > 0,
            lit(2.0) * coalesce(col("bi_match"), lit(0L))
              / (col("c_bigrams") + col("r_bigrams")).cast("double"))
            .otherwise(lit(0.0)).as("f1_bigram"))
        .orderBy(col("pair_id"))
    }),

    // Per-source quality cutoff: keep the best 20% of each source by the
    // composite quality score (ties by doc_id). Value-exact oracle: the
    // score arithmetic is the bit-identical t_text_stats formula and both
    // engines cut at row_number ≤ ceil(0.2 · |source|) after one IEEE
    // multiply, so the kept SET matches exactly.
    "t_quality_filter" -> ((s, dir) => {
      val scored = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          qualityScore(col("text")).as("quality_score"))
      graft.ops.Sampling
        .topFractionPerStratum(scored, "source", "quality_score", "doc_id", 0.2)
        .orderBy(col("doc_id"))
    }),

    // Per-source decile calibration of the quality score (CCNet-style
    // source-relative banding): ntile(10) within each source ordered by the
    // bit-identical score with doc_id tiebreak — rank-based, so the decile
    // assignment is engine-exact with no float-threshold ambiguity; min/max
    // per band are order statistics (no summation). One windowed pass per
    // source partition, then a narrow groupBy — the same no-global-sort
    // shape as the per-source cutoff.
    "t_quality_deciles" -> ((s, dir) => {
      val scored = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          qualityScore(col("text")).as("quality_score"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source"))
        .orderBy(col("quality_score").desc, col("doc_id"))
      scored.withColumn("decile", ntile(10).over(w))
        .groupBy(col("source"), col("decile"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("quality_score")).as("min_score"),
          max(col("quality_score")).as("max_score"))
        .orderBy(col("source"), col("decile"))
    }),

    // Pairwise Cohen's kappa between the four labeling functions — the
    // chance-corrected agreement screen run before trusting a weak-
    // supervision panel (near-0 pairs are noise, negative pairs are
    // systematic disagreement). Exact integer rational arithmetic; the
    // oracle recomputes all six pairs from the replayed vote law.
    "t_annotator_kappa" -> ((s, dir) =>
      graft.ops.Agreement.cohenKappaPairs(weakVotes(s, dir), "doc_id",
          Seq("v1", "v2", "v3", "v4"))
        .orderBy(col("lf_a"), col("lf_b"))),

    // Fleiss' kappa over the whole 4-function panel (items where all
    // vote): the single-number panel reliability.
    "t_fleiss_kappa" -> ((s, dir) =>
      graft.ops.Agreement.fleissKappa(weakVotes(s, dir),
        Seq("v1", "v2", "v3", "v4"))),

    // Snorkel-style weak supervision (Ratner et al. 2017, the closed-form
    // majority-vote variant): four labeling functions vote +1/-1/abstain
    // per document (quality band, language agreement, length band,
    // stopword density); pass 1 takes the unweighted majority, pass 2
    // estimates each LF's accuracy against that majority with Laplace
    // smoothing and re-scores every document with log-odds weights
    // (micro-unit ints). The standard bootstrap for training a quality
    // classifier when no labeled data exists. Scale posture: votes are a
    // pure projection fused into the scan; the accuracy pass is ONE
    // map-combinable 8-counter aggregate; the weight frame is one
    // broadcast row — nothing data-sized shuffles.
    "t_weak_labels" -> ((s, dir) => {
      val v = weakVotes(s, dir)
        .localCheckpoint() // feeds the accuracy agg AND the final scoring
      val accAgg = (1 to 4).flatMap { i => Seq(
        sum(when(col("maj") =!= 0 && col(s"v$i") =!= 0, 1L).otherwise(0L))
          .as(s"n$i"),
        sum(when(col("maj") =!= 0 && col(s"v$i") === col("maj"), 1L)
          .otherwise(0L)).as(s"a$i")) }
      val wts = v.agg(accAgg.head, accAgg.tail: _*)
        .select((1 to 4).map { i =>
          round(log((col(s"a$i") + 1).cast("double") /
            (col(s"n$i") - col(s"a$i") + 1).cast("double")) * lit(1e6))
            .cast("long").as(s"w$i") }: _*)
      val score = col("v1") * col("w1") + col("v2") * col("w2") +
        col("v3") * col("w3") + col("v4") * col("w4")
      v.crossJoin(broadcast(wts)) // 1-row weight frame
        .select(col("doc_id"), col("v1"), col("v2"), col("v3"), col("v4"),
          col("maj"), score.as("score_q"),
          signum(score).cast("int").as("label"))
        .orderBy(col("doc_id"))
    }),

    // Ranking evaluation of the quality score as a curated-vs-rest
    // classifier: tie-corrected Mann-Whitney AUC over the micro-unit
    // quantized score histogram. 2·auc·npos·nneg = Σ_buckets np_b·(2·cum_nn
    // (below) + nn_b) — all integer, so auc_q is engine-exact. Scale
    // posture: the groupBy runs over score BUCKETS (bounded by the 10⁶+1
    // quantized value domain, not the corpus), the cumulative window scans
    // those buckets once, and the final ratio divides in DECIMAL(38,0) so
    // the arithmetic survives npos·nneg beyond the int64 range (N ≈ 10⁹⁺
    // docs) — the same regime where a rank-the-whole-corpus formulation
    // would need a global sort this shape never does.
    "t_filter_auc" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("sq"))
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, -1)
      Tables.load(s, dir, "documents")
        .select(round(qualityScore(col("text")) * lit(1e6)).cast("long")
            .as("sq"),
          when(col("source").isin(curatedSources: _*), 1L).otherwise(0L)
            .as("pos"))
        .groupBy(col("sq"))
        .agg(sum(col("pos")).as("np"), sum(lit(1L) - col("pos")).as("nn"))
        .withColumn("cnb", coalesce(sum(col("nn")).over(w), lit(0L)))
        .agg(sum(col("np")).as("n_pos"), sum(col("nn")).as("n_neg"),
          sum(col("np") * (lit(2L) * col("cnb") + col("nn"))).as("num2"))
        .select(col("n_pos"), col("n_neg"),
          expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * num2) div " +
            "(CAST(2 AS DECIMAL(38,0)) * n_pos * n_neg) AS BIGINT)")
            .as("auc_q"))
        .withColumn("gini_q", lit(2L) * col("auc_q") - lit(1000000L))
    }),

    // Heaps-law vocabulary growth: distinct 3-gram shingle TYPES V vs token
    // count N at power-of-two prefix checkpoints of the id-ordered corpus,
    // plus the Heaps exponent β from OLS on the quantized log-log pairs
    // (shingle types, not unigrams: the fixture's unigram vocabulary is
    // bounded by construction, and n-gram-type growth is the diversity
    // signal a curation pipeline actually watches). First introduction is
    // min-id-wins (the d_novelty_scores law), so V(c) needs only
    // (shingle → min doc_id) — one narrow map-combinable shuffle however
    // big the corpus; checkpoints bucketize by ceil(log2) VIA INTEGER
    // BIN-STRING LENGTH (no float log2 at power boundaries), so the
    // cumulative window runs over ≤ 64 bucket rows. The β ratio divides in
    // DECIMAL(38,0) (micro-unit covariance sums can exceed int64·10⁶).
    "t_heaps_law" -> ((s, dir) => {
      def bucketOf(c: org.apache.spark.sql.Column) =
        when(c <= 1L, lit(1)).otherwise(length(bin(c - 1))).cast("int")
      val base = Tables.load(s, dir, "documents")
        .select(col("doc_id"), tokens(col("text")).as("toks"),
          org.apache.spark.sql.graftx.VectorExpressions
            .shingleArr(col("text"), 3).as("sh"))
        .localCheckpoint() // feeds the shingle-intro AND token-count passes
      val vb = base.select(col("doc_id"), explode(col("sh")).as("term"))
        .groupBy(col("term")).agg(min(col("doc_id")).as("m"))
        .groupBy(bucketOf(col("m")).as("b")).agg(count(lit(1)).as("v"))
      val nb = base
        .select(bucketOf(col("doc_id")).as("b"),
          size(col("toks")).cast("long").as("nt"))
        .groupBy(col("b"))
        .agg(count(lit(1)).as("nd"), sum(col("nt")).as("nt"))
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("b"))
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, 0)
      val cum = vb.join(nb, Seq("b"), "full_outer")
        .select(col("b"),
          sum(coalesce(col("nd"), lit(0L))).over(w).as("n_docs"),
          sum(coalesce(col("nt"), lit(0L))).over(w).as("n_tokens"),
          sum(coalesce(col("v"), lit(0L))).over(w).as("vocab"))
        .filter(col("n_tokens") > 0 && col("vocab") > 0)
        .select(col("b"),
          expr("shiftleft(CAST(1 AS BIGINT), b)").as("prefix_max_id"),
          col("n_docs"), col("n_tokens"), col("vocab"),
          round(log(col("n_tokens")) * lit(1e6)).cast("long").as("x"),
          round(log(col("vocab")) * lit(1e6)).cast("long").as("y"))
        .localCheckpoint() // feeds the OLS scalar AND the output rows
      val beta = cum.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"))
        .select(expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * " +
          "(CAST(n AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) " +
          "* sy)) div (CAST(n AS DECIMAL(38,0)) * sxx " +
          "- CAST(sx AS DECIMAL(38,0)) * sx) AS BIGINT)").as("beta_q"))
      cum.crossJoin(broadcast(beta)) // 1-row scalar frame
        .select(col("b"), col("prefix_max_id"), col("n_docs"),
          col("n_tokens"), col("vocab"), col("beta_q"))
        .orderBy(col("b"))
    }),

    // Tokenizer fertility per language: Σ subword-ish tokens / Σ whitespace
    // words, in integer micro-units — the multilingual-budget metric (a
    // high-fertility language consumes more sequence length per word, so
    // token budgets and mixture weights must be set in tokens, not words).
    // Two integer sums with map-side combine, one quantized division.
    "t_token_fertility" -> ((s, dir) =>
      Tables.load(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(wsTokenCount(col("text")).cast("long")).as("ws_tokens"),
          sum(bpeTokenCount(col("text")).cast("long")).as("bpe_tokens"))
        .withColumn("fertility_q",
          round(col("bpe_tokens").cast("double") * lit(1e6) /
            greatest(col("ws_tokens"), lit(1L)).cast("double")).cast("long"))
        .orderBy(col("lang"))),

    "t_text_stats" -> ((s, dir) =>
      Tables.load(s, dir, "documents").select(
        col("doc_id"),
        length(col("text")).as("char_len"),
        wsTokenCount(col("text")).as("ws_tokens"),
        bpeTokenCount(col("text")).as("bpe_tokens"),
        punctCount(col("text")).as("punct_chars"),
        stopwordCount(col("text")).as("stopword_hits"),
        avgTokenLen(col("text")).as("avg_token_len"),
        qualityScore(col("text")).as("quality_score"))
        .orderBy(col("doc_id"))),

    "t_langid" -> ((s, dir) => {
      val base = Tables.load(s, dir, "documents")
      val scored = langProfiles.foldLeft(base) { case (df, (l, _)) =>
        df.withColumn(s"score_$l", langScore(col("text"), l))
      }
      scored
        .withColumn("lang_guess", langGuess(col("text")))
        .select(col("doc_id") +: langProfiles.map { case (l, _) => col(s"score_$l") }
          :+ col("lang_guess"): _*)
        .orderBy(col("doc_id"))
    }),

    "t_fingerprint" -> ((s, dir) =>
      Tables.load(s, dir, "documents").select(
        col("doc_id"),
        fingerprintMd5(col("text")).as("fp_md5"))
        .orderBy(col("doc_id"))),

    // Corpus vocabulary: top bigrams by document frequency (distinct
    // per-doc shingles → df, the dedup-relevant count). One explode + one
    // narrow groupBy; top-20 plans as TakeOrderedAndProject.
    "t_top_bigrams" -> ((s, dir) =>
      graft.operators.Dedup.shingles(
        Tables.load(s, dir, "documents"), "doc_id", "text", n = 2)
        .groupBy(col("shingle").as("bigram"))
        .agg(count(lit(1)).as("df"))
        .orderBy(col("df").desc, col("bigram"))
        .limit(20)),

    // PMI collocation mining: rank bigrams by pointwise mutual information
    // ln(p(ab) / (p(a)·p(b))) — the informativeness-vs-frequency cut that
    // raw bigram counts (t_top_bigrams) can't make. All counts are exact
    // integers; the single ln is quantized to integer micro-nats with the
    // IDENTICAL double-arithmetic shape in both engines, so the ranking
    // and every output value hash-match. min-count 5 guards the
    // low-frequency PMI explosion; two narrow groupBys + two broadcast
    // unigram joins — nothing quadratic.
    "t_pmi_top" -> ((s, dir) => {
      import org.apache.spark.sql.graftx.VectorExpressions
      val docs = Tables.load(s, dir, "documents")
      // vocab-size count tables staged ONCE: the corpus is scanned exactly
      // twice (unigram explode + bigram explode); u1/u2 and both totals are
      // derived from the staged tables, not extra corpus passes (unstaged,
      // Spark re-tokenized the corpus for each of the four consumers)
      val uni = docs.select(
          explode(VectorExpressions.shingleArrAll(col("text"), 1)).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("cw"))
        .localCheckpoint()
      val biAll = docs.select(
          explode(VectorExpressions.shingleArrAll(col("text"), 2)).as("s"))
        .groupBy(col("s")).agg(count(lit(1)).as("np"))
        .localCheckpoint()
      val bi = biAll.filter(col("np") >= 5)
      // totals are Σ over the count tables — identical values by definition
      val tot = uni.agg(sum(col("cw")).as("n_tok"))
        .crossJoin(biAll.agg(sum(col("np")).as("n_bi")))
      val u1 = uni.select(col("w").as("w1"), col("cw").as("c1"))
      val u2 = uni.select(col("w").as("w2"), col("cw").as("c2"))
      bi.withColumn("w1", split(col("s"), " ").getItem(0))
        .withColumn("w2", split(col("s"), " ").getItem(1))
        .join(broadcast(u1), Seq("w1")).join(broadcast(u2), Seq("w2"))
        .crossJoin(broadcast(tot))
        .select(col("s").as("bigram"), col("np").as("n_pair"),
          round(log(
            (col("np").cast("double") * col("n_tok").cast("double") *
              col("n_tok").cast("double")) /
            (col("n_bi").cast("double") * col("c1").cast("double") *
              col("c2").cast("double"))) * 1e6).cast("long").as("pmi_q"))
        .orderBy(col("pmi_q").desc, col("bigram"))
        .limit(20)
    }),

    // Per-source token-distribution divergence: KL(source ‖ corpus) with
    // Laplace smoothing over the corpus vocabulary — the linguistic drift
    // screen that flags a source whose language shifted (scraper broke,
    // spam flood, wrong-language feed). Per-term contributions quantize to
    // micro-nats BEFORE the per-source integer sum (order-free, exact).
    // Scale shape: one corpus tokenize; everything after operates on
    // (source × vocab)-sized count tables — at 100 TB the vocab is capped
    // to top-K terms (the BPE maxDictWords pattern) and the spine stays
    // tiny; corpus totals are a 1-row broadcast.
    "t_source_divergence" -> ((s, dir) => {
      val toks = Tables.load(s, dir, "documents")
        .select(col("source"), explode(tokens(col("text"))).as("t"))
      val st = toks.groupBy(col("source"), col("t"))
        .agg(count(lit(1)).as("c_st")).localCheckpoint()
      val ct = st.groupBy(col("t")).agg(sum(col("c_st")).as("c_t"))
      val sn = st.groupBy(col("source")).agg(sum(col("c_st")).as("n_s"))
      val tot = ct.agg(count(lit(1)).as("v"), sum(col("c_t")).as("n"))
      val spine = sn.crossJoin(broadcast(ct)).crossJoin(broadcast(tot))
      val joined = spine.join(st, Seq("source", "t"), "left")
        .withColumn("c_st", coalesce(col("c_st"), lit(0L)))
      val p = (col("c_st").cast("double") + lit(1.0)) /
        (col("n_s").cast("double") + col("v").cast("double"))
      val q = (col("c_t").cast("double") + lit(1.0)) /
        (col("n").cast("double") + col("v").cast("double"))
      joined
        .select(col("source"), col("n_s"),
          round(p * log(p / q) * lit(1e6)).cast("long").as("term_q"))
        .groupBy(col("source"))
        .agg(max(col("n_s")).as("n_tok"), sum(col("term_q")).as("kl_q"))
        .orderBy(col("source"))
    }),

    // Inverse-document-frequency flavor with integer-exact arithmetic: for
    // each doc, its globally rarest token (min df, alphabetical tiebreak).
    // The df join shuffles (token, df) longs; the per-doc argmin is a
    // window over the doc's own tokens.
    // Per-source lexical diversity: type-token ratio (distinct/total
    // tokens, micro-units) and hapax fraction (share of vocabulary seen
    // exactly once) — the screens that catch template-generated or
    // boilerplate-heavy sources (TTR collapses) before training. Count
    // tables are (source × vocab)-bounded; integers until one final
    // quantized division — engine-exact.
    "t_lexical_diversity" -> ((s, dir) => {
      val st = Tables.load(s, dir, "documents")
        .select(col("source"), explode(tokens(col("text"))).as("t"))
        .groupBy(col("source"), col("t"))
        .agg(count(lit(1)).as("c"))
      st.groupBy(col("source"))
        .agg(sum(col("c")).as("n_tokens"),
          count(lit(1)).as("n_types"),
          sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"))
        .select(col("source"), col("n_tokens"), col("n_types"),
          round(col("n_types").cast("double") /
            col("n_tokens").cast("double") * lit(1e6)).cast("long")
            .as("ttr_q"),
          round(col("n_hapax").cast("double") /
            col("n_types").cast("double") * lit(1e6)).cast("long")
            .as("hapax_q"))
        .orderBy(col("source"))
    }),

    // Token-budget corpus selection (ops.Budget): keep the best documents
    // by quality until 30% of the corpus's characters are spent. The
    // operator cuts via a bucket histogram + driver walk + ONE
    // boundary-bucket window (no global sort); the oracle runs the
    // textbook global ORDER BY quality cumsum prefix — a structurally
    // independent plan that must produce the identical kept set (the
    // histogram cut is prefix-equivalent for ANY quality-threshold edges).
    "t_budget_select" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val scored = Tables.load(s, dir, "documents")
        .select(col("doc_id"), qualityScore(col("text")).as("quality_score"),
          col("n_chars"))
        .localCheckpoint() // edges, total, and the selection reuse it
      // exact decile edges (value-only ordering — ties share the value)
      val w = Window.orderBy(col("quality_score"))
      val ranked = scored.select(col("quality_score"))
        .withColumn("__rn", row_number().over(w))
        .crossJoin(broadcast(scored.agg(count(lit(1)).as("__n"))))
      val edgeCols = (1 until 10).map(j =>
        max(when(col("__rn") === ceil(col("__n") * lit(j / 10.0)),
          col("quality_score"))).as(s"e$j"))
      val eRow = ranked.agg(edgeCols.head, edgeCols.tail: _*).head()
      val es = (0 until 9).map(eRow.getDouble)
      val budget = scored.agg(sum(col("n_chars"))).head().getLong(0) * 3 / 10
      graft.ops.Budget.selectByBudget(scored, "doc_id", "quality_score",
          "n_chars", budget, es)
        .orderBy(col("doc_id"))
    }),

    // Per-source Gini concentration of document lengths — the data-balance
    // diagnostic (is one source's character mass concentrated in a few
    // giant documents?). Integer rank/sum arithmetic, one IEEE division,
    // micro-unit output — engine-exact (see ops.Robust.giniIndex).
    "t_source_gini" -> ((s, dir) =>
      graft.ops.Robust.giniIndex(Tables.load(s, dir, "documents"),
          "source", "n_chars", "doc_id")
        .orderBy(col("source"))),

    // DSIR data selection (Xie et al. 2023): top-20 raw documents by
    // hashed-bigram importance weight toward the src1 target domain —
    // per-bucket log-ratios quantized to micro-nats, per-doc integer sums,
    // so the whole ranking is engine-exact (see ops.Dsir).
    "t_dsir_select" -> ((s, dir) =>
      graft.ops.Dsir.selectTopK(Tables.load(s, dir, "documents"),
        "doc_id", "text", col("source") === "src1", k = 20)),

    "t_rarest_term" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val toks = docs.select(col("doc_id"),
        explode(array_distinct(tokens(col("text")))).as("tok"))
      val dfreq = toks.groupBy(col("tok")).agg(count(lit(1)).as("tok_df"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("tok_df"), col("tok"))
      toks.join(dfreq, Seq("tok"))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("doc_id"), col("tok").as("rarest_term"), col("tok_df"))
        .orderBy(col("doc_id"))
    }),

    // xxhash64-based order-sensitive fingerprint — DuckDB cannot evaluate
    // it, so the driver-visible check is cross-implementation agreement:
    // the native RollingFingerprint expression must be bit-identical to the
    // pure-built-in HOF chain over every document. Zero mismatches is a
    // constant the oracle CAN state.
    "t_rolling_fp_check" -> ((s, dir) =>
      Tables.load(s, dir, "documents").select(
        rollingFingerprint(col("text")).as("a"),
        rollingFingerprintHof(col("text")).as("b"))
        .filter(col("a") =!= col("b"))
        .agg(count(lit(1)).as("native_hof_mismatches"))),

    // Unicode dedup proof: derive a deterministic CJK/accented corpus from
    // the fixture (accent vowels, map 'data'→数据 — the SAME projection in
    // the oracle SQL), then show fingerprint + shingle dedup survive it:
    // a punctuation/case/spacing-jittered variant normalizes to the same
    // fingerprint and the same bigram-shingle set. The ASCII normalize
    // chain strips every non-[a-z0-9] char and is blind here; this query
    // gates the \p{L}\p{N}+NFKC chain against DuckDB's independent
    // nfc_normalize + RE2 evaluation, value by value (the corpus has no
    // compatibility characters, so NFKC ≡ NFC on it).
    "t_unicode_dedup" -> ((s, dir) => {
      val uni = translate(
        regexp_replace(col("text"), "data", "数据"),
        "aeio", "áéíö")
      val dirty = concat(lit("¡« "), upper(uni), lit(" »!  ¿?"))
      def sh(c: org.apache.spark.sql.Column) = array_sort(
        org.apache.spark.sql.graftx.VectorExpressions.shingleArr(c, 2, unicode = true))
      Tables.load(s, dir, "documents").select(
        col("doc_id"),
        fingerprintMd5Unicode(uni).as("fp"),
        (fingerprintMd5Unicode(dirty) === fingerprintMd5Unicode(uni))
          .cast("int").as("fp_match"),
        wsTokenCountUnicode(uni).as("n_tokens"),
        size(sh(uni)).as("n_shingles"),
        (sh(dirty) === sh(uni)).cast("int").as("shingle_match"))
        .orderBy(col("doc_id"))
    }),

    // Gopher-style document quality filters (Rae et al. 2021 §A1.1, adapted
    // to this corpus) — the law lives in [[graft.ops.Gopher.report]]
    // (shared verbatim with the composed pretrain pipeline): exact integer
    // signals, CROSS-MULTIPLIED pass/fail comparisons (no float epsilon),
    // tokenization staged once, two narrow explode→count→max aggregations.
    "t_gopher_filters" -> ((s, dir) =>
      graft.ops.Gopher.report(Tables.load(s, dir, "documents"))
        .orderBy(col("doc_id"))),

    // The FULL Gopher repetition battery (Rae et al. 2021 §A1.1): dup
    // pseudo-line char fraction, most-frequent-{2,3,4}-gram char
    // fractions, and duplicated-{5..10}-gram TOKEN-coverage fractions
    // (position union — overlaps never double-count). Every value is an
    // integer micro-fraction via floor division, so the oracle replays
    // all ten columns bit-exactly.
    "t_gopher_repetition" -> ((s, dir) =>
      graft.ops.Gopher.repetitionReport(Tables.load(s, dir, "documents"))
        .orderBy(col("doc_id"))))


  /** DuckDB replay of [[graft.ops.Gopher.repetitionReport]] — the same
    * integer micro-fraction laws over the same raw-token stream.
    */
  private def gopherRepetitionSql: String = {
    val tops = (2 to 4).map { n =>
      s"""g$n AS (SELECT doc_id, array_to_string(toks[k:k+${n - 1}], ' ') AS g
         |  FROM t, LATERAL (SELECT unnest(range(1, len(toks) - ${n - 2})) AS k)
         |  WHERE len(toks) >= $n),
         |tp$n AS (SELECT doc_id, CAST(c * length(g) AS BIGINT) AS topchars
         |  FROM (SELECT doc_id, g, count(*) AS c, row_number() OVER (
         |      PARTITION BY doc_id ORDER BY count(*) DESC, g) AS rn
         |    FROM g$n GROUP BY doc_id, g) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val covers = (5 to 10).map { n =>
      s"""o$n AS (SELECT doc_id, CAST(k - 1 AS BIGINT) AS i,
         |    array_to_string(toks[k:k+${n - 1}], ' ') AS g
         |  FROM t, LATERAL (SELECT unnest(range(1, len(toks) - ${n - 2})) AS k)
         |  WHERE len(toks) >= $n),
         |d$n AS (SELECT doc_id, g FROM o$n GROUP BY doc_id, g
         |  HAVING count(*) > 1),
         |c$n AS (SELECT doc_id, CAST(sum(ln) AS BIGINT) AS cov FROM (
         |    SELECT DISTINCT oo.doc_id, tl.tid, tl.ln
         |    FROM (SELECT o.doc_id, o.i FROM o$n o
         |          JOIN d$n d ON o.doc_id = d.doc_id AND o.g = d.g) oo,
         |      LATERAL (SELECT unnest(range(oo.i, oo.i + $n)) AS tid) u
         |    JOIN tl ON tl.doc_id = oo.doc_id AND tl.tid = u.tid)
         |  GROUP BY doc_id)""".stripMargin
    }.mkString(",\n")
    val topSel = (2 to 4).map(n =>
      s"""  CAST(CASE WHEN joined_chars > 0
         |    THEN (1000000 * coalesce(tp$n.topchars, 0)) // joined_chars
         |    ELSE 0 END AS BIGINT) AS top${n}_q""".stripMargin)
    val covSel = (5 to 10).map(n =>
      s"""  CAST(CASE WHEN tok_chars > 0
         |    THEN (1000000 * coalesce(c$n.cov, 0)) // tok_chars
         |    ELSE 0 END AS BIGINT) AS dup${n}_q""".stripMargin)
    val joins = (2 to 4).map(n => s"LEFT JOIN tp$n USING (doc_id)") ++
      (5 to 10).map(n => s"LEFT JOIN c$n USING (doc_id)")
    s"""WITH t AS (SELECT doc_id,
       |    CASE WHEN trim(text) = '' THEN []
       |         ELSE string_split_regex(trim(text), '\\s+') END AS toks
       |  FROM documents),
       |tot AS (SELECT doc_id,
       |    CAST(coalesce(list_sum(list_transform(toks, x -> length(x))), 0)
       |      AS BIGINT) AS tok_chars,
       |    CAST(length(array_to_string(toks, ' ')) AS BIGINT) AS joined_chars
       |  FROM t),
       |tl AS (SELECT doc_id, CAST(j AS BIGINT) AS tid,
       |    CAST(length(toks[CAST(j AS INTEGER) + 1]) AS BIGINT) AS ln
       |  FROM t, LATERAL (SELECT unnest(range(0, len(toks))) AS j)),
       |ln0 AS (SELECT doc_id,
       |    array_to_string(toks[(j*7+1):(j*7+7)], ' ') AS line
       |  FROM t, LATERAL (SELECT unnest(range(0, (len(toks)+6)//7)) AS j)),
       |dl AS (SELECT doc_id,
       |    CAST(sum(CASE WHEN c > 1 THEN c*length(line) ELSE 0 END)
       |      AS BIGINT) AS dup,
       |    CAST(sum(c*length(line)) AS BIGINT) AS tot
       |  FROM (SELECT doc_id, line, count(*) AS c FROM ln0 GROUP BY 1, 2)
       |  GROUP BY doc_id),
       |$tops,
       |$covers
       |SELECT tot.doc_id,
       |  CAST(CASE WHEN coalesce(dl.tot, 0) > 0
       |    THEN (1000000 * dl.dup) // dl.tot ELSE 0 END AS BIGINT)
       |    AS dup_line_q,
       |${(topSel ++ covSel).mkString(",\n")}
       |FROM tot LEFT JOIN dl USING (doc_id)
       |${joins.mkString("\n")}
       |ORDER BY doc_id""".stripMargin
  }

  override def oracleSql: Map[String, String] = Map(
    "t_blocklist_hits" -> {
      val vals = blockPatterns
        .map(p => s"('${p.replace("'", "''")}')").mkString(", ")
      s"""WITH p AS (SELECT * FROM (VALUES $vals) t(pat)),
         |h AS (SELECT d.doc_id, p.pat,
         |    CAST(len(list_filter(range(1, len(d.text) - len(p.pat) + 2),
         |      i -> substr(d.text, CAST(i AS INTEGER),
         |        CAST(len(p.pat) AS INTEGER)) = p.pat)) AS BIGINT) AS hits
         |  FROM documents d CROSS JOIN p)
         |SELECT doc_id, CAST(COALESCE(sum(hits), 0) AS BIGINT) AS total_hits,
         |  CAST(count(CASE WHEN hits > 0 THEN 1 END) AS BIGINT)
         |    AS n_patterns_hit
         |FROM h GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },

    "t_textrank_keywords" -> {
      // one damped integer PageRank round — the a_pagerank_parts
      // recurrence verbatim, over the word graph
      def round(k: Int): String =
        s"""c$k AS (SELECT e.b AS vv, SUM(r${k - 1}.r // deg.d) AS s
           |  FROM e JOIN deg ON e.a = deg.a
           |  JOIN r${k - 1} ON r${k - 1}.v = e.a
           |  GROUP BY e.b),
           |r$k AS (SELECT v.v,
           |    CAST(150000 + (85 * COALESCE(c$k.s, 0)) // 100 AS BIGINT)
           |      AS r
           |  FROM v LEFT JOIN c$k ON c$k.vv = v.v)""".stripMargin
      s"""WITH t1 AS (SELECT list_filter($toksSql, w -> length(w) >= 4)
         |    AS t FROM documents),
         |t2 AS (SELECT t FROM t1 WHERE len(t) >= 2),
         |pr0 AS (SELECT unnest(list_transform(range(1, len(t)),
         |    i -> {'x': t[i], 'y': t[i + 1]})) AS p FROM t2),
         |pr AS (SELECT p.x AS x, p.y AS y FROM pr0 WHERE p.x <> p.y),
         |p2 AS (SELECT DISTINCT x, y FROM
         |  (SELECT x, y FROM pr UNION ALL SELECT y AS x, x AS y FROM pr)),
         |e AS (SELECT CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT) AS a,
         |    CAST(('0x' || substr(md5(y), 1, 15)) AS BIGINT) AS b
         |  FROM p2),
         |vocab AS (SELECT x AS word,
         |    CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT) AS id
         |  FROM (SELECT DISTINCT x FROM p2)),
         |deg AS (SELECT a, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY a),
         |v AS (SELECT a AS v FROM e UNION SELECT b FROM e),
         |r0 AS (SELECT v, CAST(1000000 AS BIGINT) AS r FROM v),
         |${round(1)},
         |${round(2)},
         |${round(3)}
         |SELECT word, r AS rank_micro FROM r3
         |JOIN vocab ON vocab.id = r3.v
         |ORDER BY rank_micro DESC, word LIMIT 30""".stripMargin
    },

    "t_rouge_overlap" ->
      s"""WITH t AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
         |    $toksSql AS toks FROM documents),
         |d AS (SELECT doc_id // 2 AS pair_id, doc_id % 2 AS side, toks,
         |    list_transform(range(1, len(toks)),
         |      i -> toks[i] || ' ' || toks[i + 1]) AS bi
         |  FROM t),
         |u AS (SELECT pair_id, side, g, count(*) AS n FROM
         |    (SELECT pair_id, side, unnest(toks) AS g FROM d)
         |  GROUP BY 1, 2, 3),
         |b AS (SELECT pair_id, side, g, count(*) AS n FROM
         |    (SELECT pair_id, side, unnest(bi) AS g FROM d)
         |  GROUP BY 1, 2, 3),
         |um AS (SELECT x.pair_id,
         |    CAST(sum(least(x.n, y.n)) AS BIGINT) AS uni_match
         |  FROM u x JOIN u y ON x.pair_id = y.pair_id AND x.g = y.g
         |    AND x.side = 0 AND y.side = 1 GROUP BY 1),
         |bm AS (SELECT x.pair_id,
         |    CAST(sum(least(x.n, y.n)) AS BIGINT) AS bi_match
         |  FROM b x JOIN b y ON x.pair_id = y.pair_id AND x.g = y.g
         |    AND x.side = 0 AND y.side = 1 GROUP BY 1),
         |tot AS (SELECT pair_id,
         |    CAST(sum(CASE WHEN side = 0 THEN len(toks) END) AS BIGINT)
         |      AS c_tokens,
         |    CAST(sum(CASE WHEN side = 1 THEN len(toks) END) AS BIGINT)
         |      AS r_tokens,
         |    CAST(sum(CASE WHEN side = 0 THEN len(bi) END) AS BIGINT)
         |      AS c_bigrams,
         |    CAST(sum(CASE WHEN side = 1 THEN len(bi) END) AS BIGINT)
         |      AS r_bigrams
         |  FROM d GROUP BY pair_id HAVING count(*) = 2)
         |SELECT tot.pair_id, c_tokens, r_tokens,
         |  COALESCE(uni_match, 0) AS uni_match, c_bigrams, r_bigrams,
         |  COALESCE(bi_match, 0) AS bi_match,
         |  CASE WHEN c_bigrams + r_bigrams > 0
         |    THEN CAST(2.0 AS DOUBLE) * COALESCE(bi_match, 0)
         |      / CAST(c_bigrams + r_bigrams AS DOUBLE)
         |    ELSE CAST(0.0 AS DOUBLE) END AS f1_bigram
         |FROM tot LEFT JOIN um ON tot.pair_id = um.pair_id
         |LEFT JOIN bm ON tot.pair_id = bm.pair_id
         |ORDER BY tot.pair_id""".stripMargin,

    "t_quality_filter" ->
      s"""WITH $qualityScoredCte
         |SELECT doc_id, source, quality_score FROM q
         |QUALIFY row_number() OVER (PARTITION BY source
         |    ORDER BY quality_score DESC, doc_id)
         |  <= CEIL(CAST(0.2 AS DOUBLE)
         |    * CAST(COUNT(*) OVER (PARTITION BY source) AS DOUBLE))
         |ORDER BY doc_id""".stripMargin,

    "t_quality_deciles" ->
      s"""WITH $qualityScoredCte,
         |d AS (SELECT source, doc_id, quality_score,
         |    ntile(10) OVER (PARTITION BY source
         |      ORDER BY quality_score DESC, doc_id) AS decile
         |  FROM q)
         |SELECT source, CAST(decile AS INTEGER) AS decile,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  min(quality_score) AS min_score, max(quality_score) AS max_score
         |FROM d GROUP BY source, decile
         |ORDER BY source, decile""".stripMargin,

    "t_heaps_law" ->
      s"""WITH ${DedupQueries.shinglesSql},
         |tm AS (SELECT s, min(doc_id) AS m FROM sh GROUP BY s),
         |vb AS (SELECT CASE WHEN m <= 1 THEN 1
         |      ELSE CAST(length(bin(m - 1)) AS INTEGER) END AS b,
         |    CAST(count(*) AS BIGINT) AS v
         |  FROM tm GROUP BY 1),
         |nb AS (SELECT CASE WHEN doc_id <= 1 THEN 1
         |      ELSE CAST(length(bin(doc_id - 1)) AS INTEGER) END AS b,
         |    CAST(count(*) AS BIGINT) AS nd,
         |    CAST(sum(len(w)) AS BIGINT) AS nt
         |  FROM toks GROUP BY 1),
         |cum0 AS (SELECT COALESCE(vb.b, nb.b) AS b,
         |    sum(COALESCE(nd, 0)) OVER w AS n_docs,
         |    sum(COALESCE(nt, 0)) OVER w AS n_tokens,
         |    sum(COALESCE(v, 0)) OVER w AS vocab
         |  FROM vb FULL OUTER JOIN nb ON vb.b = nb.b
         |  WINDOW w AS (ORDER BY COALESCE(vb.b, nb.b)
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |cum AS (SELECT b, CAST(n_docs AS BIGINT) AS n_docs,
         |    CAST(n_tokens AS BIGINT) AS n_tokens,
         |    CAST(vocab AS BIGINT) AS vocab,
         |    CAST(round(ln(n_tokens) * 1e6) AS BIGINT) AS x,
         |    CAST(round(ln(vocab) * 1e6) AS BIGINT) AS y
         |  FROM cum0 WHERE n_tokens > 0 AND vocab > 0),
         |beta AS (SELECT CAST((CAST(1000000 AS HUGEINT) *
         |      (CAST(count(*) AS HUGEINT) * sum(x * y)
         |        - CAST(sum(x) AS HUGEINT) * sum(y)))
         |    // (CAST(count(*) AS HUGEINT) * sum(x * x)
         |        - CAST(sum(x) AS HUGEINT) * sum(x)) AS BIGINT) AS beta_q
         |  FROM cum)
         |SELECT b, (CAST(1 AS BIGINT) << b) AS prefix_max_id,
         |  n_docs, n_tokens, vocab, beta_q
         |FROM cum CROSS JOIN beta ORDER BY b""".stripMargin,

    "t_weak_labels" -> {
      val wCols = (1 to 4).map { i =>
        val a = s"sum(CASE WHEN maj != 0 AND v$i = maj THEN 1 ELSE 0 END)"
        val n = s"sum(CASE WHEN maj != 0 AND v$i != 0 THEN 1 ELSE 0 END)"
        s"CAST(round(ln(CAST($a + 1 AS DOUBLE) / " +
          s"CAST($n - $a + 1 AS DOUBLE)) * 1000000) AS BIGINT) AS w$i"
      }.mkString(",\n    ")
      s"""WITH $weakVotesCtes,
         |wts AS (SELECT
         |    $wCols
         |  FROM vm)
         |SELECT doc_id, v1, v2, v3, v4, maj,
         |  CAST(v1*w1 + v2*w2 + v3*w3 + v4*w4 AS BIGINT) AS score_q,
         |  CAST(sign(v1*w1 + v2*w2 + v3*w3 + v4*w4) AS INTEGER) AS label
         |FROM vm CROSS JOIN wts ORDER BY doc_id""".stripMargin
    },

    // six pairs from the replayed vote law: both-vote restriction,
    // agreement + marginal counters, cleared-denominator kappa with
    // sign-safe truncating division (Spark div truncates toward zero,
    // DuckDB // floors - the CASE makes them agree on negatives);
    // products widen through HUGEINT, mirroring the Spark side's
    // DECIMAL(38,0) casts, so 10**6 * n^2 never wraps int64
    "t_annotator_kappa" ->
      s"""WITH $weakVotesCtes,
         |lv AS (SELECT doc_id, 'v1' AS lf, v1 AS v FROM vm
         |  UNION ALL SELECT doc_id, 'v2', v2 FROM vm
         |  UNION ALL SELECT doc_id, 'v3', v3 FROM vm
         |  UNION ALL SELECT doc_id, 'v4', v4 FROM vm),
         |nz AS MATERIALIZED (SELECT * FROM lv WHERE v != 0),
         |p AS (SELECT a.lf AS lf_a, b.lf AS lf_b,
         |    CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(CASE WHEN a.v = b.v THEN 1 ELSE 0 END) AS BIGINT)
         |      AS agree,
         |    CAST(sum(CASE WHEN a.v = 1 THEN 1 ELSE 0 END) AS BIGINT) AS ap,
         |    CAST(sum(CASE WHEN a.v = -1 THEN 1 ELSE 0 END) AS BIGINT) AS am,
         |    CAST(sum(CASE WHEN b.v = 1 THEN 1 ELSE 0 END) AS BIGINT) AS bp,
         |    CAST(sum(CASE WHEN b.v = -1 THEN 1 ELSE 0 END) AS BIGINT) AS bm
         |  FROM nz a JOIN nz b ON a.doc_id = b.doc_id AND a.lf < b.lf
         |  GROUP BY 1, 2),
         |h AS (SELECT lf_a, lf_b, n, agree,
         |    CAST(n AS HUGEINT) * n AS n2,
         |    CAST(ap AS HUGEINT) * bp + CAST(am AS HUGEINT) * bm AS ch,
         |    CAST(agree AS HUGEINT) * n AS an
         |  FROM p)
         |SELECT lf_a, lf_b, n AS n_items, agree AS n_agree,
         |  CAST(CASE WHEN n2 - ch = 0 THEN 0
         |    WHEN an - ch >= 0
         |      THEN (1000000 * (an - ch)) // (n2 - ch)
         |    ELSE -((1000000 * (ch - an)) // (n2 - ch))
         |  END AS BIGINT) AS kappa_q
         |FROM h ORDER BY lf_a, lf_b""".stripMargin,

    "t_fleiss_kappa" ->
      s"""WITH $weakVotesCtes,
         |fl AS (SELECT (CASE WHEN v1 = 1 THEN 1 ELSE 0 END
         |    + CASE WHEN v2 = 1 THEN 1 ELSE 0 END
         |    + CASE WHEN v3 = 1 THEN 1 ELSE 0 END
         |    + CASE WHEN v4 = 1 THEN 1 ELSE 0 END) AS np
         |  FROM vm WHERE v1 != 0 AND v2 != 0 AND v3 != 0 AND v4 != 0),
         |ag AS (SELECT CAST(count(*) AS BIGINT) AS n_items,
         |    CAST(sum(np*(np-1) + (4-np)*(3-np)) AS BIGINT) AS s1,
         |    CAST(sum(np) AS BIGINT) AS t_pos,
         |    CAST(sum(4 - np) AS BIGINT) AS t_neg
         |  FROM fl),
         |h AS (SELECT n_items, s1, t_pos, t_neg,
         |    (CAST(n_items AS HUGEINT) * 4) * (n_items * 4)
         |      - CAST(t_pos AS HUGEINT) * t_pos
         |      - CAST(t_neg AS HUGEINT) * t_neg AS dend,
         |    CAST(s1 AS HUGEINT) * n_items * 4
         |      - 3 * (CAST(t_pos AS HUGEINT) * t_pos
         |        + CAST(t_neg AS HUGEINT) * t_neg) AS numr
         |  FROM ag)
         |SELECT n_items, s1, t_pos, t_neg,
         |  CAST(CASE WHEN 3 * dend = 0 THEN 0
         |    WHEN numr >= 0 THEN (1000000 * numr) // (3 * dend)
         |    ELSE -((1000000 * (-numr)) // (3 * dend))
         |  END AS BIGINT) AS kappa_q
         |FROM h""".stripMargin,

    "t_filter_auc" ->
      s"""WITH $qualityScoredCte,
         |sb AS (SELECT CAST(round(quality_score * 1e6) AS BIGINT) AS sq,
         |    CASE WHEN source IN (${curatedSources.map(s => s"'$s'").mkString(", ")})
         |      THEN 1 ELSE 0 END AS pos
         |  FROM q),
         |h AS (SELECT sq, CAST(sum(pos) AS BIGINT) AS np,
         |    CAST(sum(1 - pos) AS BIGINT) AS nn
         |  FROM sb GROUP BY sq),
         |cu AS (SELECT sq, np, nn,
         |    COALESCE(sum(nn) OVER (ORDER BY sq ROWS BETWEEN
         |      UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cnb
         |  FROM h),
         |tt AS (SELECT CAST(sum(np) AS BIGINT) AS n_pos,
         |    CAST(sum(nn) AS BIGINT) AS n_neg,
         |    CAST(sum(np * (2 * cnb + nn)) AS HUGEINT) AS num2
         |  FROM cu)
         |SELECT n_pos, n_neg,
         |  CAST((CAST(1000000 AS HUGEINT) * num2)
         |    // (CAST(2 AS HUGEINT) * n_pos * n_neg) AS BIGINT) AS auc_q,
         |  CAST(2 * ((CAST(1000000 AS HUGEINT) * num2)
         |    // (CAST(2 AS HUGEINT) * n_pos * n_neg)) - 1000000 AS BIGINT)
         |    AS gini_q
         |FROM tt""".stripMargin,

    "t_token_fertility" ->
      s"""WITH m AS (SELECT lang,
         |    len($toksSql) AS ws,
         |    len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\\s]')) AS bpe
         |  FROM documents)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(ws) AS BIGINT) AS ws_tokens,
        |  CAST(sum(bpe) AS BIGINT) AS bpe_tokens,
        |  CAST(round(CAST(sum(bpe) AS DOUBLE) * 1e6 /
        |    CAST(greatest(sum(ws), 1) AS DOUBLE)) AS BIGINT) AS fertility_q
        |FROM m GROUP BY lang ORDER BY lang""".stripMargin,

    "t_text_stats" ->
      s"""WITH t AS (SELECT doc_id, text, $toksSql AS toks FROM documents),
         |m AS (
         |  SELECT doc_id,
         |    CAST(length(text) AS INTEGER) AS char_len,
         |    CAST(len(toks) AS INTEGER) AS ws_tokens,
         |    CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\\s]')) AS INTEGER) AS bpe_tokens,
         |    CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')) AS INTEGER) AS punct_chars,
         |    CAST($stopSql AS INTEGER) AS stopword_hits,
         |    CAST(COALESCE(list_sum(list_transform(toks, t -> length(t))), 0) AS DOUBLE)
         |      / CAST(greatest(len(toks), 1) AS DOUBLE) AS avg_token_len,
         |    CAST(length(text) AS INTEGER) AS __len
         |  FROM t)
         |SELECT doc_id, char_len, ws_tokens, bpe_tokens, punct_chars,
         |  stopword_hits, avg_token_len,
         |  0.25 * least(1.0, CAST(ws_tokens AS DOUBLE) / 50.0)
         |  + 0.25 * (1.0 - least(1.0,
         |      CAST(punct_chars AS DOUBLE) / CAST(greatest(char_len, 1) AS DOUBLE)))
         |  + 0.25 * least(1.0,
         |      CAST(stopword_hits AS DOUBLE) * 10.0 / CAST(greatest(ws_tokens, 1) AS DOUBLE))
         |  + 0.25 * (1.0 - least(1.0, abs(avg_token_len - 5.0) / 5.0)) AS quality_score
         |FROM m ORDER BY doc_id""".stripMargin,

    "t_langid" -> {
      val scoreCols = langProfiles.map { case (l, words) =>
        s"CAST(len(list_filter(toks, t -> list_contains(${inList(words)}, t))) AS INTEGER) AS score_$l"
      }.mkString(",\n    ")
      val langs = langProfiles.map(_._1)
      val mx = langs.map(l => s"score_$l").mkString("greatest(", ", ", ")")
      val guess = langs.map(l => s"WHEN __mx > 0 AND score_$l = __mx THEN '$l'")
        .mkString("CASE ", " ", " ELSE 'und' END")
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |s AS (SELECT doc_id,
         |    $scoreCols
         |  FROM t),
         |g AS (SELECT *, $mx AS __mx FROM s)
         |SELECT doc_id, ${langs.map(l => s"score_$l").mkString(", ")},
         |  $guess AS lang_guess
         |FROM g ORDER BY doc_id""".stripMargin
    },

    "t_fingerprint" ->
      s"SELECT doc_id, md5($normSql) AS fp_md5 FROM documents ORDER BY doc_id",

    "t_top_bigrams" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS w FROM documents),
         |sh2 AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] AS s
         |  FROM t, LATERAL (SELECT unnest(range(1, len(w))) AS i)
         |  WHERE len(w) >= 2 AND i + 1 <= len(w))
         |SELECT s AS bigram, count(*) AS df FROM sh2
         |GROUP BY s ORDER BY df DESC, bigram LIMIT 20""".stripMargin,

    "t_pmi_top" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS w FROM documents),
         |uni AS (SELECT tok AS w1, CAST(count(*) AS BIGINT) AS cw
         |  FROM (SELECT unnest(w) AS tok FROM t) GROUP BY tok),
         |bi AS (SELECT s, CAST(count(*) AS BIGINT) AS np FROM (
         |    SELECT w[i] || ' ' || w[i+1] AS s
         |    FROM t, LATERAL (SELECT unnest(range(1, len(w))) AS i)
         |    WHERE len(w) >= 2 AND i + 1 <= len(w)) GROUP BY s
         |  HAVING count(*) >= 5),
         |tot AS (SELECT
         |    (SELECT CAST(sum(cw) AS BIGINT) FROM uni) AS n_tok,
         |    (SELECT CAST(sum(len(w) - 1) AS BIGINT)
         |     FROM t WHERE len(w) >= 2) AS n_bi)
         |SELECT s AS bigram, np AS n_pair,
         |  CAST(round(ln(
         |    (CAST(np AS DOUBLE) * CAST(n_tok AS DOUBLE) * CAST(n_tok AS DOUBLE))
         |    / (CAST(n_bi AS DOUBLE) * CAST(u1.cw AS DOUBLE) * CAST(u2.cw AS DOUBLE))
         |  ) * 1000000) AS BIGINT) AS pmi_q
         |FROM bi CROSS JOIN tot
         |JOIN uni u1 ON u1.w1 = string_split(s, ' ')[1]
         |JOIN uni u2 ON u2.w1 = string_split(s, ' ')[2]
         |ORDER BY pmi_q DESC, bigram LIMIT 20""".stripMargin,

    "t_source_divergence" -> {
      val pExpr = "((CAST(c_st AS DOUBLE) + 1.0) / (CAST(n_s AS DOUBLE) + CAST(v AS DOUBLE)))"
      val qExpr = "((CAST(c_t AS DOUBLE) + 1.0) / (CAST(n AS DOUBLE) + CAST(v AS DOUBLE)))"
      s"""WITH tk AS (SELECT source, unnest(w) AS t
         |  FROM (SELECT source, $toksSql AS w FROM documents)),
         |st AS (SELECT source, t, CAST(count(*) AS BIGINT) AS c_st
         |  FROM tk GROUP BY source, t),
         |ct AS (SELECT t, CAST(sum(c_st) AS BIGINT) AS c_t FROM st GROUP BY t),
         |sn AS (SELECT source, CAST(sum(c_st) AS BIGINT) AS n_s
         |  FROM st GROUP BY source),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS v,
         |    CAST(sum(c_t) AS BIGINT) AS n FROM ct),
         |sp AS (SELECT sn.source, sn.n_s, ct.t, ct.c_t, tot.v, tot.n
         |  FROM sn CROSS JOIN ct CROSS JOIN tot),
         |j AS (SELECT sp.source, sp.n_s, sp.v, sp.n, sp.c_t,
         |    COALESCE(st.c_st, CAST(0 AS BIGINT)) AS c_st
         |  FROM sp LEFT JOIN st ON sp.source = st.source AND sp.t = st.t)
         |SELECT source, max(n_s) AS n_tok,
         |  CAST(sum(CAST(round($pExpr * ln($pExpr / $qExpr) * 1000000) AS BIGINT))
         |    AS BIGINT) AS kl_q
         |FROM j GROUP BY source ORDER BY source""".stripMargin
    },

    "t_lexical_diversity" ->
      s"""WITH tk AS (SELECT source, unnest(w) AS t
         |  FROM (SELECT source, $toksSql AS w FROM documents)),
         |st AS (SELECT source, t, CAST(count(*) AS BIGINT) AS c
         |  FROM tk GROUP BY source, t),
         |a AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
         |    CAST(count(*) AS BIGINT) AS n_types,
         |    CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax
         |  FROM st GROUP BY source)
         |SELECT source, n_tokens, n_types,
         |  CAST(round(CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE)
         |    * 1000000) AS BIGINT) AS ttr_q,
         |  CAST(round(CAST(n_hapax AS DOUBLE) / CAST(n_types AS DOUBLE)
         |    * 1000000) AS BIGINT) AS hapax_q
         |FROM a ORDER BY source""".stripMargin,

    "t_budget_select" ->
      s"""WITH $qualityScoredCte,
         |j AS (SELECT q.doc_id, q.quality_score,
         |    CAST(d.n_chars AS BIGINT) AS n_chars
         |  FROM q JOIN documents d ON q.doc_id = d.doc_id),
         |c AS (SELECT doc_id, quality_score, n_chars,
         |    sum(n_chars) OVER (ORDER BY quality_score DESC, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM j),
         |tot AS (SELECT CAST(sum(n_chars) AS BIGINT) AS t FROM j)
         |SELECT doc_id, quality_score, n_chars
         |FROM c CROSS JOIN tot WHERE cum <= t * 3 // 10
         |ORDER BY doc_id""".stripMargin,

    "t_source_gini" ->
      """WITH r AS (SELECT source, CAST(n_chars AS BIGINT) AS x,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY n_chars, doc_id) AS BIGINT) AS rn
        |  FROM documents),
        |a AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx,
        |    CAST(sum((2 * rn - 1) * x) AS BIGINT) AS wx
        |  FROM r GROUP BY source)
        |SELECT source, n,
        |  CASE WHEN sx = 0 THEN CAST(0 AS BIGINT)
        |    ELSE CAST(round(CAST(wx - n * sx AS DOUBLE)
        |      / CAST(n * sx AS DOUBLE) * 1000000) AS BIGINT) END AS gini_q
        |FROM a ORDER BY source""".stripMargin,

    "t_dsir_select" -> {
      val pExpr = "((CAST(cp AS DOUBLE) + 1.0) / (CAST(np AS DOUBLE) + 65536.0))"
      val qExpr = "((CAST(cq AS DOUBLE) + 1.0) / (CAST(nq AS DOUBLE) + 65536.0))"
      s"""WITH t AS (SELECT doc_id, source, $toksSql AS w FROM documents),
         |g AS (SELECT doc_id, source, substr(md5(w[i] || ' ' || w[i+1]), 1, 4) AS b
         |  FROM t, LATERAL (SELECT unnest(range(1, len(w))) AS i)
         |  WHERE len(w) >= 2 AND i + 1 <= len(w)),
         |q AS (SELECT b, CAST(count(*) AS BIGINT) AS cq FROM g GROUP BY b),
         |p AS (SELECT b, CAST(count(*) AS BIGINT) AS cp FROM g
         |  WHERE source = 'src1' GROUP BY b),
         |tot AS (SELECT (SELECT CAST(sum(cq) AS BIGINT) FROM q) AS nq,
         |    (SELECT COALESCE(CAST(sum(cp) AS BIGINT), 0) FROM p) AS np),
         |r AS (SELECT q.b,
         |    CAST(round(ln($pExpr / $qExpr) * 1000000) AS BIGINT) AS unats
         |  FROM (SELECT q.b, q.cq, COALESCE(p.cp, CAST(0 AS BIGINT)) AS cp
         |        FROM q LEFT JOIN p ON q.b = p.b) q CROSS JOIN tot),
         |wts AS (SELECT g.doc_id, CAST(sum(r.unats) AS BIGINT) AS w_unats
         |  FROM g JOIN r ON g.b = r.b GROUP BY g.doc_id)
         |SELECT d.doc_id, COALESCE(wts.w_unats, CAST(0 AS BIGINT)) AS weight_unats
         |FROM documents d LEFT JOIN wts ON d.doc_id = wts.doc_id
         |ORDER BY weight_unats DESC, d.doc_id LIMIT 20""".stripMargin
    },

    "t_rarest_term" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS w FROM documents),
         |tk AS (SELECT DISTINCT doc_id, unnest(w) AS tok FROM t),
         |dfreq AS (SELECT tok, count(*) AS tok_df FROM tk GROUP BY tok),
         |r AS (SELECT doc_id, tok, tok_df,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY tok_df, tok) AS rn
         |  FROM tk JOIN dfreq USING (tok))
         |SELECT doc_id, tok AS rarest_term, tok_df FROM r
         |WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    "t_rolling_fp_check" ->
      "SELECT CAST(0 AS BIGINT) AS native_hof_mismatches",

    "t_unicode_dedup" -> {
      // DuckDB mirror of TextNormalize.normalizeUnicode (NFKC ≡ NFC here): RE2's
      // \p{L}\p{N} are the same Unicode categories as Java's, utf8proc
      // lower == Locale.ROOT lower on this corpus, nfc_normalize == NFC.
      def uNorm(c: String) =
        s"trim(regexp_replace(regexp_replace(lower(nfc_normalize($c)), " +
          s"'[^\\p{L}\\p{N} ]', '', 'g'), ' +', ' ', 'g'))"
      def grams(w: String) =
        s"list_sort(list_distinct(list_transform(range(1, len($w)), " +
          s"i -> $w[i] || ' ' || $w[i+1])))"
      s"""WITH base AS (
         |  SELECT doc_id,
         |    translate(regexp_replace(text, 'data', '数据', 'g'),
         |      'aeio', 'áéíö') AS u
         |  FROM documents),
         |b2 AS (SELECT doc_id, u,
         |    concat('¡« ', upper(u), ' »!  ¿?') AS d FROM base),
         |n AS (SELECT doc_id, ${uNorm("u")} AS nu, ${uNorm("d")} AS nd
         |  FROM b2),
         |tk AS (SELECT doc_id, nu, nd,
         |    CASE WHEN nu = '' THEN [] ELSE string_split(nu, ' ') END AS wu,
         |    CASE WHEN nd = '' THEN [] ELSE string_split(nd, ' ') END AS wd
         |  FROM n)
         |SELECT doc_id, md5(nu) AS fp,
         |  CAST(nd = nu AS INTEGER) AS fp_match,
         |  CAST(len(wu) AS INTEGER) AS n_tokens,
         |  CAST(len(${grams("wu")}) AS INTEGER) AS n_shingles,
         |  CAST(${grams("wd")} = ${grams("wu")} AS INTEGER) AS shingle_match
         |FROM tk ORDER BY doc_id""".stripMargin
    },

    "t_gopher_repetition" -> gopherRepetitionSql,

    "t_gopher_filters" ->
      s"""WITH t AS (SELECT doc_id,
         |    CASE WHEN trim(text) = '' THEN []
         |         ELSE string_split_regex(trim(text), '\\s+') END AS toks
         |  FROM documents),
         |base AS (SELECT doc_id,
         |    CAST(len(toks) AS BIGINT) AS n_words,
         |    CAST(coalesce(list_sum(list_transform(toks, x -> length(x))), 0)
         |      AS BIGINT) AS word_chars,
         |    CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))
         |      AS BIGINT) AS n_alpha_words,
         |    CAST(len(list_filter(toks, x ->
         |      list_contains(${inList(defaultStopwords)}, x))) AS BIGINT)
         |      AS n_stop_words
         |  FROM t),
         |wc AS (SELECT doc_id, w, count(*) AS c
         |  FROM (SELECT doc_id, unnest(toks) AS w FROM t) GROUP BY 1, 2),
         |tw AS (SELECT doc_id, max(c) AS top_word_count FROM wc GROUP BY 1),
         |bg AS (SELECT doc_id, b, count(*) AS c
         |  FROM (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
         |    i -> toks[i] || ' ' || toks[i + 1])) AS b FROM t) GROUP BY 1, 2),
         |tb AS (SELECT doc_id, max(c) AS top_bigram_count FROM bg GROUP BY 1)
         |SELECT base.doc_id, n_words, word_chars, n_alpha_words, n_stop_words,
         |  CAST(coalesce(top_word_count, 0) AS BIGINT) AS top_word_count,
         |  CAST(coalesce(top_bigram_count, 0) AS BIGINT) AS top_bigram_count,
         |  CAST(n_words >= 20 AND n_words <= 100000
         |    AND word_chars >= n_words * 2 AND word_chars <= n_words * 12
         |    AND n_alpha_words * 10 >= n_words * 8
         |    AND n_stop_words >= 1
         |    AND coalesce(top_bigram_count, 0) * 10 <= n_words AS INTEGER)
         |    AS quality_pass
         |FROM base LEFT JOIN tw USING (doc_id) LEFT JOIN tb USING (doc_id)
         |ORDER BY doc_id""".stripMargin)
}
