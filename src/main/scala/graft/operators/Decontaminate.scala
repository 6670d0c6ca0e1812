package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftx.VectorExpressions

/** Benchmark decontamination: flag (and drop) training documents that share
  * long word-n-grams with an evaluation/benchmark set, the standard guard
  * against test-set leakage when assembling a pretraining corpus (13-gram
  * overlap is the classic published configuration).
  *
  * Scale posture (100 TB corpus, benchmark ≪ corpus): benchmark sets are a
  * few thousand documents — their distinct n-gram set broadcasts (as 8-byte
  * xxhash64 keys, ~8 MB per million grams), so the corpus streams through a
  * broadcast hash join exactly once and NEVER shuffles its text. The only
  * shuffle is the per-doc hit count on the (id, partial-count) pairs, with
  * map-side combine. The contaminated-id set is then small by construction
  * (the pretrain job drops it with an anti-join,
  * [[graft.jobs.PretrainCorpus.decontaminate]]).
  */
object Decontaminate {

  /** Per-document contamination report over `corpus`: `n_hits` = number of
    * distinct word-`n`-grams the document shares with `benchmark`, and a
    * 0/1 `contaminated` flag at `minHits`. Every corpus document appears,
    * including those with fewer than `n` tokens (`n_hits = 0`).
    *
    * The join key is xxhash64 of the gram, not the string: a 64-bit key is
    * collision-free at benchmark-set cardinalities and shrinks the
    * broadcast ~10×. The gram sets are distinct on both sides, so the join
    * match count IS the distinct-overlap count.
    */
  def contaminationReport(corpus: DataFrame, id: String, text: String,
      benchmark: DataFrame, benchText: String,
      n: Int = 13, minHits: Int = 1): DataFrame = {
    val benchGrams = benchmark
      .select(explode(VectorExpressions.shingleArr(col(benchText), n)).as("g"))
      .select(gramKey(col("g")).as("gram")).distinct()
      .withColumn("__hit", lit(1))
    corpus
      .select(col(id),
        explode_outer(VectorExpressions.shingleArr(col(text), n)).as("g"))
      .select(col(id), gramKey(col("g")).as("gram"))
      .join(broadcast(benchGrams), Seq("gram"), "left")
      .groupBy(col(id))
      .agg(coalesce(sum(col("__hit")), lit(0)).cast("long").as("n_hits"))
      .withColumn("contaminated", (col("n_hits") >= minHits).cast("int"))
  }

  // hash AFTER explode and only non-null grams: Spark's xxhash64 hashes a
  // NULL input to the seed constant rather than NULL, which would let the
  // explode_outer placeholder row of a short document spuriously equi-join
  private def gramKey(c: org.apache.spark.sql.Column) =
    when(c.isNotNull, xxhash64(c))

  /** Per-document duplicated-span fraction (after Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better", 2022 —
    * repeated ≥ n-token spans are the unit of exact substring dedup): for
    * every word-n-gram POSITION of every document (NOT distinct — position
    * multiplicity is the point), does that gram's text occur at least once
    * more anywhere in the corpus — another document, or another position of
    * the same one? Returns (id, n_grams, n_dup, dup_fraction); documents
    * shorter than n tokens report 0 grams and fraction 0. Feed the fraction
    * to a threshold filter to drop boilerplate-heavy documents, or the
    * flagged positions to a span trimmer.
    *
    * Scale: the wide stages carry one xxhash64 long per
    * position, never the gram text; the plan is one window count partitioned
    * by gram key and one groupBy(id) — two narrow-key shuffles, no joins,
    * no broadcast, no driver state.
    */
  def dupSpanReport(corpus: DataFrame, id: String, text: String,
      n: Int = 13): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // native positional shingles: ONE normalize+tokenize pass per row (the
    // Column-DSL transform/slice/array_join formulation is interpreted per
    // position and ~10× slower end-to-end)
    val pos = corpus
      .select(col(id),
        explode_outer(VectorExpressions.shingleArrAll(col(text), n)).as("g"))
      .select(col(id), gramKey(col("g")).as("gram"))
    val wg = Window.partitionBy(col("gram"))
    pos.withColumn("__c", when(col("gram").isNotNull, count(lit(1)).over(wg)))
      .groupBy(col(id))
      .agg(count(col("gram")).as("n_grams"),
        coalesce(sum((col("__c") > 1).cast("long")), lit(0L)).as("n_dup"))
      .withColumn("dup_fraction", col("n_dup").cast("double") /
        greatest(col("n_grams"), lit(1L)).cast("double"))
  }

  /** Exact-substring dedup — the span TRIMMER [[dupSpanReport]] feeds (Lee
    * et al. 2022): rebuild every document with each token that is covered
    * by a NON-FIRST occurrence of a duplicated word-n-gram removed. The
    * globally-first occurrence of a span (minimum (id, position), a total
    * order shared with the oracle) survives verbatim; every later
    * occurrence — in another document or later in the same one — is cut.
    * Documents shorter than n tokens pass through whole. Returns
    * (id, n_toks, n_kept, kept_fp) with `kept_fp` = md5 of the kept tokens
    * space-joined in position order (normalized-token space, same contract
    * as the shingle chain).
    *
    * Scale shape: tokens and gram positions each explode once; the ONLY
    * per-gram work is a row_number window over the 8-byte gram key (narrow
    * shuffle, no text), and the ×n coverage expansion happens AFTER the
    * duplicate filter — it amplifies only the spans actually being
    * removed, then collapses through a distinct and an anti-join keyed on
    * (id, position) longs. Reassembly is one groupBy(id) sort-collect.
    */
  def removeDupSpans(corpus: DataFrame, id: String, text: String,
      n: Int = 13): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tokArr = VectorExpressions.shingleArrAll(col(text), 1)
    val toks = corpus.select(col(id), posexplode(tokArr).as(Seq("p", "tok")))
    val grams = corpus
      .select(col(id),
        posexplode(VectorExpressions.shingleArrAll(col(text), n))
          .as(Seq("pos", "g")))
      .select(col(id), col("pos"), xxhash64(col("g")).as("gram"))
    val wg = Window.partitionBy(col("gram")).orderBy(col(id), col("pos"))
    val remove = grams.withColumn("__rn", row_number().over(wg))
      .where(col("__rn") > 1)
      .select(col(id),
        explode(sequence(col("pos"), col("pos") + lit(n - 1))).as("p"))
      .distinct()
    val rebuilt = toks.join(remove, Seq(id, "p"), "left_anti")
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_kept"),
        md5(concat_ws(" ",
          transform(array_sort(collect_list(struct(col("p"), col("tok")))),
            e => e.getField("tok")))).as("kept_fp"))
    corpus.select(col(id), size(tokArr).cast("long").as("n_toks"))
      .join(rebuilt, Seq(id), "left")
      .select(col(id), col("n_toks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("kept_fp"), md5(lit(""))).as("kept_fp"))
  }

  /** Semantic decontamination — the embedding-space complement of the n-gram
    * screen above: a training document is flagged when its embedding's max
    * cosine against ANY benchmark embedding reaches `minCosine`. N-gram
    * overlap misses paraphrases and translations of benchmark items; this
    * catches them (the screen published for GPT-3/Llama-style corpus
    * assembly alongside the 13-gram rule). Returns every corpus row as
    * (id, max_cosine, contaminated 0/1).
    *
    * Scale posture mirrors [[contaminationReport]]: the benchmark set is a
    * few thousand rows — it broadcasts (with precomputed norms), the corpus
    * streams through the broadcast join exactly once and its vectors never
    * shuffle. The per-document max collapses |bench| scored rows to one
    * inside the map-side partial aggregate, so the only exchange carries
    * (id, double) pairs. `max` over doubles is order-independent, which is
    * what makes the report value-exact against a single-node oracle.
    */
  def semanticContamination(corpus: DataFrame, id: String, vec: String,
      benchmark: DataFrame, benchVec: String, minCosine: Double): DataFrame = {
    import graft.functions.VectorFunctions.cosineWithNorms
    val c = Similarity.withNorm(corpus, vec)
      .select(col(id), col(vec).as("__cv"), col("__nrm").as("__cn"))
    val b = Similarity.withNorm(benchmark, benchVec)
      .select(col(benchVec).as("__bv"), col("__nrm").as("__bn"))
    c.crossJoin(broadcast(b))
      .withColumn("__cos",
        cosineWithNorms(col("__cv"), col("__bv"), col("__cn"), col("__bn")))
      .groupBy(col(id))
      .agg(max(col("__cos")).as("max_cosine"))
      .withColumn("contaminated", (col("max_cosine") >= minCosine).cast("int"))
  }
}
