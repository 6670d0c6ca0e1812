package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._

/** Similarity search over an `array<float>` embedding column.
  *
  * Scale posture (billions of vectors):
  *  - Brute force broadcasts the (small) QUERY set and streams the corpus —
  *    one pass, no corpus shuffle; the only exchange is the final per-query
  *    top-k reduction (|Q|·k rows). This is the exact baseline.
  *  - The LSH variant buckets both sides by a random-hyperplane signature, so
  *    each query only scans its bucket — recall traded for a ~2^bits fanout
  *    reduction. Multi-probe (flipping one signature bit) recovers most of
  *    the recall loss for near-threshold neighbors.
  *  - The IVF variant uses a coarse quantizer (here: the pre-assigned label
  *    column as cell id, or per-label centroids computed on the fly) and
  *    searches only the closest cell(s).
  */
object Similarity {

  /** Corpus with per-row precomputed L2 norm (never recompute norms per pair). */
  def withNorm(df: DataFrame, vec: String): DataFrame =
    df.withColumn("__nrm", l2Norm(col(vec)))

  /** Exact cosine top-k: for each query row, the k nearest corpus rows
    * (excluding itself). Queries are broadcast; corpus is scanned once; the
    * per-query reduction is the bounded k-heap aggregate ([[TopK.perKey]])
    * so the only exchange carries ≤ partitions·k pairs per query, never the
    * full scored corpus.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, id: String,
      vec: String, k: Int): DataFrame = {
    val c = withNorm(corpus, vec)
      .select(col(id).as("neighbor_id"), col(vec).as("__cv"), col("__nrm").as("__cn"))
    val q = withNorm(queries, vec)
      .select(col(id).as("query_id"), col(vec).as("__qv"), col("__nrm").as("__qn"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine_sim",
        cosineWithNorms(col("__qv"), col("__cv"), col("__qn"), col("__cn")))
    TopK.perKey(scored, "query_id", "cosine_sim", "neighbor_id", k,
      descending = true)
  }

  /** Hard-negative mining for contrastive training data: for each query row,
    * the k most cosine-similar corpus rows whose `labelCol` DIFFERS from the
    * query's — the near-misses that make the strongest negatives. Same
    * exact single-pass shape as [[bruteForceTopK]]: queries broadcast with
    * their labels, the corpus streams once, and the label-mismatch predicate
    * rides the broadcast join condition so agreeing pairs are dropped before
    * any dot product is computed.
    */
  def hardNegativesTopK(corpus: DataFrame, queries: DataFrame, id: String,
      vec: String, labelCol: String, k: Int): DataFrame = {
    val c = withNorm(corpus, vec)
      .select(col(id).as("neighbor_id"), col(labelCol).as("__cl"),
        col(vec).as("__cv"), col("__nrm").as("__cn"))
    val q = withNorm(queries, vec)
      .select(col(id).as("query_id"), col(labelCol).as("__ql"),
        col(vec).as("__qv"), col("__nrm").as("__qn"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id") &&
        !(col("__ql") <=> col("__cl")))
      .withColumn("cosine_sim",
        cosineWithNorms(col("__qv"), col("__cv"), col("__qn"), col("__cn")))
    TopK.perKey(scored, "query_id", "cosine_sim", "neighbor_id", k,
      descending = true)
  }

  /** All corpus pairs with cosine ≥ threshold (embedding near-dup detection).
    * Exact O(n²) baseline via BroadcastNestedLoopJoin — small-corpus oracle
    * cross-check only; [[cosineNearDupBlocked]] is the exact scale path.
    */
  def cosineNearDupPairs(df: DataFrame, id: String, vec: String,
      minCosine: Double): DataFrame = {
    val n = withNorm(df, vec)
    val a = n.select(col(id).as("id_a"), col(vec).as("__va"), col("__nrm").as("__na"))
    val b = n.select(col(id).as("id_b"), col(vec).as("__vb"), col("__nrm").as("__nb"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("cosine_sim",
        cosineWithNorms(col("__va"), col("__vb"), col("__na"), col("__nb")))
      .filter(col("cosine_sim") >= minCosine)
      .select(col("id_a"), col("id_b"), col("cosine_sim"))
  }

  /** HARD-NEGATIVE mining for contrastive-embedding training data: for
    * every anchor that has a known positive (e.g. a text near-dup pair —
    * the standard weak-supervision source), the k corpus vectors CLOSEST
    * in embedding space that are NOT among its positives — the
    * semantically-near-but-not-duplicate examples a contrastive loss
    * learns the most from. Positives and self are excluded by anti-join
    * BEFORE the bounded k-heap, so the top-k never under-fills however
    * many positives rank at the top (a fixed shortlist filtered
    * afterwards would).
    *
    * `positives` carries (id_a, id_b) pairs; they are symmetrized here.
    * Scale shape: the anchor side (bounded by the positive-pair count)
    * broadcasts like [[bruteForceTopK]]'s query side; the corpus streams
    * once; the exchange is ≤ partitions·k rows per anchor. For corpora
    * where even the anchor side is huge, shortlist through
    * [[graft.operators.Pq.ivfAdcTopK]] with k + max-positives and rerank
    * — the exclusion stays an anti-join either way.
    */
  def hardNegatives(corpus: DataFrame, positives: DataFrame, id: String,
      vec: String, k: Int): DataFrame = {
    val pos = positives
      .select(col(positives.columns(0)).as("query_id"),
        col(positives.columns(1)).as("neighbor_id"))
      .unionByName(positives
        .select(col(positives.columns(1)).as("query_id"),
          col(positives.columns(0)).as("neighbor_id")))
      .distinct().localCheckpoint() // feeds the anchor set AND the anti-join
    val anchors = pos.select(col("query_id")).distinct()
    val base = withNorm(corpus, vec)
    val q = base
      .select(col(id).as("query_id"), col(vec).as("__qv"),
        col("__nrm").as("__qn"))
      .join(anchors, Seq("query_id"), "left_semi")
    val c = base.select(col(id).as("neighbor_id"), col(vec).as("__cv"),
      col("__nrm").as("__cn"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .join(broadcast(pos), Seq("query_id", "neighbor_id"), "left_anti")
      .withColumn("cosine_sim",
        cosineWithNorms(col("__qv"), col("__cv"), col("__qn"), col("__cn")))
    TopK.perKey(scored, "query_id", "cosine_sim", "neighbor_id", k,
      descending = true)
  }

  /** Exact all-pairs cosine ≥ threshold, block-partitioned: vector u in block
    * g(u) = hash(id) mod G meets vector v exactly once, in block-pair key
    * (min(g(u),g(v)), max(g(u),g(v))). Each side explodes its row to its
    * block-pair keys and the pair work runs inside an EQUI-join — n²/2
    * comparisons spread over G(G+1)/2 reducers with no driver broadcast and
    * no BroadcastNestedLoopJoin. Replication is ~G/2 copies of each (id,
    * vec, norm) row per side; comparisons dominate replication whenever
    * n ≫ G, so G is sized to the cluster's task count, not the data.
    *
    * This is the right EXACT path when the threshold sits inside the bulk of
    * the similarity distribution (no LSH gap): at cosine τ≈0.45 a random
    * hyperplane agrees on a near-pair bit with p≈0.65 vs p≈0.5 for
    * background, so no banding scheme separates them sub-quadratically —
    * the n² is inherent, and the game is distributing it evenly.
    */
  def cosineNearDupBlocked(df: DataFrame, id: String, vec: String,
      minCosine: Double, blocks: Int = 16): DataFrame = {
    val n = withNorm(df, vec)
      .select(col(id), col(vec), col("__nrm"),
        pmod(xxhash64(col(id)), lit(blocks)).cast("int").as("__g"))
    val a = n.select(col("__g").as("__i"),
      explode(sequence(col("__g"), lit(blocks - 1))).as("__j"),
      col(id).as("__ida"), col(vec).as("__va"), col("__nrm").as("__na"))
    val b = n.select(explode(sequence(lit(0), col("__g"))).as("__i"),
      col("__g").as("__j"),
      col(id).as("__idb"), col(vec).as("__vb"), col("__nrm").as("__nb"))
    a.join(b, Seq("__i", "__j"))
      // same-block pairs meet twice (both orientations) — keep one; cross-
      // block pairs meet exactly once in either orientation — keep it
      .filter(col("__i") =!= col("__j") || col("__ida") < col("__idb"))
      .withColumn("cosine_sim",
        cosineWithNorms(col("__va"), col("__vb"), col("__na"), col("__nb")))
      .filter(col("cosine_sim") >= minCosine)
      .select(least(col("__ida"), col("__idb")).as("id_a"),
        greatest(col("__ida"), col("__idb")).as("id_b"), col("cosine_sim"))
  }

  /** Approximate top-k via random-hyperplane LSH: both sides keyed by
    * signature; each query compares only within its bucket (plus one-bit
    * multi-probe neighbors when `multiProbe`).
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, id: String, vec: String,
      k: Int, bits: Int = 12, multiProbe: Boolean = true): DataFrame = {
    val c = withNorm(corpus, vec)
      .withColumn("__sig", hyperplaneSignature(col(vec), bits))
      .select(col("__sig"), col(id).as("neighbor_id"), col(vec).as("__cv"),
        col("__nrm").as("__cn"))
    val qBase = withNorm(queries, vec)
      .withColumn("__sig0", hyperplaneSignature(col(vec), bits))
      .select(col(id).as("query_id"), col(vec).as("__qv"),
        col("__nrm").as("__qn"), col("__sig0"))
    // probe signatures: exact bucket + (optionally) each one-bit flip
    def probes(sig0: org.apache.spark.sql.Column) =
      if (multiProbe)
        array(sig0 +: (0 until bits).map(b => sig0.bitwiseXOR(lit(1L << b))): _*)
      else array(sig0)
    val q = qBase
      .select(col("query_id"), col("__qv"), col("__qn"),
        explode(probes(col("__sig0"))).as("__sig"))
    // probe side broadcasts (|Q|·(bits+1) rows — queries are the small side
    // by construction): the corpus streams once and never shuffles on __sig
    val scored = c.join(broadcast(q), Seq("__sig"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosineWithNorms(col("__qv"), col("__cv"), col("__qn"), col("__cn"))
          .as("cosine_sim"))
    // no dedup needed: a query's probe signatures are pairwise-distinct
    // values and a corpus row has exactly one signature, so each (q, n)
    // pair meets in at most one probe bucket (unlike multi-TABLE schemes)
    TopK.perKey(scored, "query_id", "cosine_sim", "neighbor_id", k,
      descending = true)
  }

  /** Classical multi-TABLE LSH top-k (Indyk & Motwani's L-table scheme —
    * the memory-side baseline [[lshTopK]]'s bit-flip multi-probe exists to
    * beat, per Lv et al. 2007): `tables` INDEPENDENT hyperplane signatures
    * (disjoint plane sets via the banding expression; table 0's planes are
    * exactly [[lshTopK]]'s, so the single-table scheme is literally this
    * one's first table), the corpus keyed once PER TABLE — `tables`× the
    * index state, which is the whole point of multi-probe: probing
    * neighboring buckets of ONE table buys the recall that extra tables
    * otherwise pay for in memory. A candidate pair can meet in several
    * tables, so candidates dedup BEFORE scoring; the candidate∪query side
    * broadcasts and the corpus streams once for the vector fetch.
    */
  def lshTopKTables(corpus: DataFrame, queries: DataFrame, id: String,
      vec: String, k: Int, bits: Int = 12, tables: Int = 4,
      multiProbe: Boolean = false): DataFrame = {
    val c = corpus
      .withColumn("__sigs", hyperplaneBandBuckets(col(vec), tables, bits))
      .select(col(id).as("neighbor_id"),
        posexplode(col("__sigs")).as(Seq("__t", "__sig")))
    val qSig = queries
      .withColumn("__sigs", hyperplaneBandBuckets(col(vec), tables, bits))
      .select(col(id).as("query_id"),
        posexplode(col("__sigs")).as(Seq("__t", "__sig0")))
    def probes(sig0: org.apache.spark.sql.Column) =
      if (multiProbe)
        array(sig0 +: (0 until bits).map(b => sig0.bitwiseXOR(lit(1L << b))): _*)
      else array(sig0)
    val q = qSig.select(col("query_id"), col("__t"),
      explode(probes(col("__sig0"))).as("__sig"))
    // candidates meet per (table, bucket); dedup collapses multi-table hits
    val cand = c.join(broadcast(q), Seq("__t", "__sig"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"))
      .distinct()
    val qv = withNorm(queries, vec).select(col(id).as("query_id"),
      col(vec).as("__qv"), col("__nrm").as("__qn"))
    val cv = withNorm(corpus, vec).select(col(id).as("neighbor_id"),
      col(vec).as("__cv"), col("__nrm").as("__cn"))
    val scored = cv
      .join(broadcast(cand.join(qv, Seq("query_id"))), Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosineWithNorms(col("__qv"), col("__cv"), col("__qn"), col("__cn"))
          .as("cosine_sim"))
    TopK.perKey(scored, "query_id", "cosine_sim", "neighbor_id", k,
      descending = true)
  }

  /** IVF-style search with the corpus pre-partitioned by a cell column
    * (here the `label` column plays the coarse quantizer's cell id):
    * per-cell centroids are computed with order-insensitive decimal sums,
    * each query is assigned to its `nProbe` nearest centroids' cells, and
    * exact search runs only within those cells (classic recall/fanout
    * knob — nProbe=1 searches 1/|cells| of the corpus).
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, id: String, vec: String,
      cell: String, k: Int, dim: Int, nProbe: Int = 1): DataFrame = {
    import graft.ops.Aggregations.sumStable
    // centroid per cell: element-wise stable mean of member vectors
    val exploded = corpus.select(col(cell),
      posexplode(col(vec)).as(Seq("__i", "__x")))
    val centroids = exploded.groupBy(col(cell), col("__i"))
      .agg((sumStable(col("__x")) / count(lit(1))).as("__m"))
      .groupBy(col(cell))
      .agg(array_sort(collect_list(struct(col("__i"), col("__m")))).as("__pairs"))
      .select(col(cell).as("__cell"),
        transform(col("__pairs"), p => p.getField("__m")).as("__centroid"))
    val q = withNorm(queries, vec)
      .select(col(id).as("query_id"), col(vec).as("__qv"), col("__nrm").as("__qn"))
    val w0 = Window.partitionBy(col("query_id"))
      .orderBy(col("__csim").desc, col("__cell"))
    val assigned = q.join(broadcast(centroids), lit(true))
      .withColumn("__csim", cosine(col("__qv"), col("__centroid")))
      .withColumn("__r", row_number().over(w0))
      .filter(col("__r") <= nProbe)
      .select(col("query_id"), col("__qv"), col("__qn"), col("__cell"))
    val c = withNorm(corpus, vec)
      .select(col(cell).as("__cell"), col(id).as("neighbor_id"),
        col(vec).as("__cv"), col("__nrm").as("__cn"))
    // a probed cell can still be arbitrarily large at scale, so the final
    // reduction is the bounded k-heap — within-cell scored rows never all
    // converge on one reducer per query
    val scored = c.join(assigned, Seq("__cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine_sim",
        cosineWithNorms(col("__qv"), col("__cv"), col("__qn"), col("__cn")))
    TopK.perKey(scored, "query_id", "cosine_sim", "neighbor_id", k,
      descending = true)
  }

  /** Symmetric per-vector int8 scalar quantization: scale = max|x|/127, so
    * q = round(x/scale) spans the full [-127, 127] range. 1 byte/dim + one
    * double scale + one precomputed fp32 norm — the first compression rung
    * for billion-vector search: 4× less scan bandwidth and cache footprint
    * on the approximate pass. An all-zero vector quantizes with scale 1
    * (q = 0 everywhere), never a division by zero.
    */
  def quantizeInt8(df: DataFrame, id: String, vec: String): DataFrame = {
    val maxabs = aggregate(col(vec), lit(0.0d),
      (acc, x) => greatest(acc, abs(x.cast("double"))))
    df.select(col(id), col(vec),
      (when(maxabs > 0.0, maxabs).otherwise(1.0) / 127.0).as("__scale"))
      .withColumn("__q",
        transform(col(vec), x => round(x.cast("double") / col("__scale"))
          .cast("tinyint")))
      .withColumn("__nrm", l2Norm(col(vec)))
      .drop(vec)
  }

  /** MUTUAL k-nearest-neighbor pairs: (a, b) kept iff b is in a's top-k
    * AND a is in b's top-k — the reciprocal filter that turns a kNN graph
    * into a high-precision near-dup / cluster-seed edge set (asymmetric
    * hub neighbors, the classic false-positive source, drop out because
    * the hub doesn't reciprocate). Composes the bounded-heap top-k
    * ([[bruteForceTopK]] here; swap in any of the approximate paths for
    * scale) with one narrow self-equi-join on the (query, neighbor) pair
    * — the kNN lists are |V|·k rows, so the reciprocity join never
    * touches vectors.
    *
    * Output: (`id_a`, `id_b`, `cosine_sim`) with id_a < id_b.
    */
  def mutualTopK(df: DataFrame, id: String, vec: String, k: Int): DataFrame = {
    val knn = bruteForceTopK(df, df, id, vec, k)
      .select(col("query_id"), col("neighbor_id"), col("cosine_sim"))
      .localCheckpoint() // both sides of the reciprocity join
    knn.as("x")
      .join(knn.as("y"),
        col("x.query_id") === col("y.neighbor_id") &&
          col("x.neighbor_id") === col("y.query_id") &&
          col("x.query_id") < col("x.neighbor_id"))
      .select(col("x.query_id").as("id_a"), col("x.neighbor_id").as("id_b"),
        col("x.cosine_sim"))
  }

  /** Sign-bit BINARY quantization: bit i of the signature is 1 iff
    * `vec[i] ≥ 0`, packed little-endian into ⌈dim/64⌉ longs — 1 bit/dim,
    * the cheapest compression rung below int8 (64 dims of fp32 collapse
    * into one machine word; Hamming distance is one XOR + POPCNT). The
    * identity sign(x) comparison (rather than a learned threshold) is the
    * standard choice for zero-centered embedding spaces.
    */
  def signPack(vec: org.apache.spark.sql.Column, dim: Int)
      : org.apache.spark.sql.Column = {
    val words = (dim + 63) / 64
    transform(sequence(lit(0), lit(words - 1)), w =>
      aggregate(sequence(lit(0), lit(63)), lit(0L), (acc, b) => {
        val i = w * lit(64) + b
        when(i < dim && element_at(vec, (i + lit(1)).cast("int")) >= 0,
          acc.bitwiseOR(call_function("shiftleft", lit(1L), b)))
          .otherwise(acc)
      }))
  }

  /** Hamming distance between two packed sign signatures ([[signPack]]):
    * Σ popcount(a XOR b) over the word arrays — codegen'd bit ops, no
    * branching, ~dim/64 machine instructions per pair.
    */
  def hammingDist(sa: org.apache.spark.sql.Column,
      sb: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    aggregate(zip_with(sa, sb, (x, y) => bit_count(x.bitwiseXOR(y))),
      lit(0L), (acc, c) => acc + c.cast("long"))

  /** Exact Hamming top-k over sign signatures: for each query, the k
    * corpus rows with the fewest sign disagreements (ties to the smaller
    * id — a total order, so the result is partitioning-independent and
    * oracle-checkable). Same single-pass shape as [[bruteForceTopK]]:
    * queries broadcast (signatures only — 8 bytes per 64 dims), corpus
    * streams once, bounded k-heap reduction.
    *
    * Output: (`query_id`, `neighbor_id`, `hamming`, `rank`).
    */
  def binaryHammingTopK(corpus: DataFrame, queries: DataFrame, id: String,
      vec: String, dim: Int, k: Int): DataFrame = {
    val c = corpus.select(col(id).as("neighbor_id"),
      signPack(col(vec), dim).as("__cs"))
    val q = queries.select(col(id).as("query_id"),
      signPack(col(vec), dim).as("__qs"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("__hd", hammingDist(col("__qs"), col("__cs")))
    TopK.perKey(scored, "query_id", "__hd", "neighbor_id", k,
        descending = false)
      .select(col("query_id"), col("neighbor_id"),
        col("__hd").cast("long").as("hamming"), col("rank"))
  }

  /** Binary top-k with exact rerank: the approximate pass scans ONLY the
    * packed sign bits (⌈dim/64⌉ longs per row — 32× less bandwidth than
    * fp32, XOR+POPCNT per word) and keeps the `rerankFactor`·k
    * Hamming-nearest candidates per query; the exact pass point-fetches
    * those candidates' fp32 vectors and rescores with the exact cosine —
    * the [[int8RerankTopK]] asymmetry one compression rung further down.
    * Returned scores are exact; only set membership depends on the sign
    * approximation (so recall, not precision, is the tuning target —
    * grow `rerankFactor` until recall flattens).
    */
  def binaryRerankTopK(corpus: DataFrame, queries: DataFrame, id: String,
      vec: String, dim: Int, k: Int, rerankFactor: Int = 5): DataFrame = {
    val candidates = binaryHammingTopK(corpus, queries, id, vec, dim,
        k * rerankFactor)
      .select(col("query_id"), col("neighbor_id"))
    val cv = withNorm(corpus, vec)
      .select(col(id).as("neighbor_id"), col(vec).as("__cv"), col("__nrm").as("__cn"))
    val qv = withNorm(queries, vec)
      .select(col(id).as("query_id"), col(vec).as("__qv"), col("__nrm").as("__qn"))
    val rescored = candidates
      .join(cv, Seq("neighbor_id")).join(broadcast(qv), Seq("query_id"))
      .withColumn("cosine_sim",
        cosineWithNorms(col("__qv"), col("__cv"), col("__qn"), col("__cn")))
    TopK.perKey(rescored, "query_id", "cosine_sim", "neighbor_id", k,
      descending = true)
  }

  /** Quantized top-k with exact rerank: the approximate pass scores every
    * (query, corpus) pair on int8 arrays only — the codegen'd
    * [[org.apache.spark.sql.graftx.Int8DotProduct]] inner loop with scales
    * and precomputed norms, ~4× less bandwidth than fp32 — and keeps
    * `rerankFactor`·k candidates per query; the exact pass re-reads ONLY
    * those candidates' fp32 vectors from the corpus (a point fetch by id,
    * same asymmetry as the incremental-dedup collision fetch) and rescores
    * with the exact cosine, so every returned score is exact and only set
    * membership depends on quantization error. Queries broadcast; the
    * corpus fp32 vectors never enter the approximate scan.
    */
  def int8RerankTopK(corpus: DataFrame, queries: DataFrame, id: String,
      vec: String, k: Int, rerankFactor: Int = 5): DataFrame = {
    val cq = quantizeInt8(corpus, id, vec)
      .select(col(id).as("neighbor_id"), col("__q").as("__cq"),
        col("__scale").as("__cs"), col("__nrm").as("__cn"))
    val qq = quantizeInt8(queries, id, vec)
      .select(col(id).as("query_id"), col("__q").as("__qq"),
        col("__scale").as("__qs"), col("__nrm").as("__qn"))
    // approximate pass reduced by the bounded k·rerankFactor heap — the
    // int8 scan streams the whole corpus, so its reduction is exactly the
    // exchange the heap aggregate must bound
    val approxScored = cq.join(broadcast(qq), col("query_id") =!= col("neighbor_id"))
      .withColumn("__ascore",
        org.apache.spark.sql.graftx.VectorExpressions
          .int8Dot(col("__qq"), col("__cq")).cast("double") *
          col("__qs") * col("__cs") / (col("__qn") * col("__cn")))
    val candidates = TopK.perKey(approxScored, "query_id", "__ascore",
        "neighbor_id", k * rerankFactor, descending = true)
      .select(col("query_id"), col("neighbor_id"))
    // exact rerank: fp32 vectors appear only here, for candidates alone
    // (≤ k·rerankFactor rows per query — already bounded before this join)
    val cv = withNorm(corpus, vec)
      .select(col(id).as("neighbor_id"), col(vec).as("__cv"), col("__nrm").as("__cn"))
    val qv = withNorm(queries, vec)
      .select(col(id).as("query_id"), col(vec).as("__qv"), col("__nrm").as("__qn"))
    val rescored = candidates
      .join(cv, Seq("neighbor_id")).join(broadcast(qv), Seq("query_id"))
      .withColumn("cosine_sim",
        cosineWithNorms(col("__qv"), col("__cv"), col("__qn"), col("__cn")))
    TopK.perKey(rescored, "query_id", "cosine_sim", "neighbor_id", k,
      descending = true)
  }

  /** Johnson–Lindenstrauss sketch with a DETERMINISTIC Rademacher matrix:
    * projected coordinate k = Σⱼ s(k,j)·v[j] where the ±1 sign s(k,j) is
    * the parity of popcount((k+1)·73856093 XOR (j+1)·19349663) — pure
    * integer arithmetic, so the "random" matrix needs no storage, no
    * broadcast, and no RNG state: every executor (and the oracle)
    * rederives any entry on demand. Unscaled (no 1/√m factor): callers
    * compare projected distances to each other, where a common scale
    * cancels; sign flips are IEEE-exact, and the fold over j is
    * left-to-right, so results are bit-reproducible.
    *
    * Scale posture: one narrow projection expression per row — no
    * shuffle, no join; a 10⁹×768-dim corpus becomes 10⁹×m doubles in a
    * single codegen'd scan, the standard preconditioner before LSH /
    * coarse quantization when the native dimension is too wide to bucket.
    */
  def randomProjection(vectors: DataFrame, id: String, vec: String,
      targetDim: Int = 8): DataFrame = {
    require(targetDim >= 1 && targetDim <= 64, s"bad targetDim: $targetDim")
    val ys = (0 until targetDim).map { kk =>
      expr(s"""aggregate(sequence(0, size($vec) - 1), CAST(0.0 AS DOUBLE),
        (acc, j) -> acc + CAST(element_at($vec, j + 1) AS DOUBLE) *
          (CASE WHEN bit_count(CAST(${(kk + 1) * 73856093L} AS BIGINT)
              ^ ((j + 1) * CAST(19349663 AS BIGINT))) % 2 = 0
            THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END))""")
    }
    vectors.select(col(id), array(ys: _*).as("proj"))
  }
}
