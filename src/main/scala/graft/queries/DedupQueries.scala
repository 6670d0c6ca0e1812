package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Dedup, Graph, IncrementalDedup}

/** Deduplication queries over the `documents` table.
  *
  * The testdata plants ~5% near-duplicate pairs at shingle-Jaccard ≥ 0.9 with
  * background similarity ≤ 0.07, so `minJaccard = 0.5` separates cleanly.
  *
  * `d_minhash_pairs` (MinHash+LSH) shares the exact-Jaccard oracle: with 16
  * bands × 4 rows, detection probability at j ≥ 0.9 is 1-(1-0.9⁴)¹⁶ ≈ 1-4e-8,
  * and the data has no pairs in the (0.07, 0.9) gap where LSH could
  * plausibly miss — verified empirically to produce the identical pair set.
  */
object DedupQueries extends QueryPack {

  private[queries] val tau = 0.5
  private[queries] val tauContain = 0.6

  /** DuckDB mirror of Dedup.shingleArray(n=3) exploded to (doc_id, s) rows. */
  private[queries] val shinglesSql =
    """norm AS (SELECT doc_id,
      |  trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS t
      |  FROM documents),
      |toks AS (SELECT doc_id,
      |  CASE WHEN length(t) = 0 THEN [] ELSE string_split(t, ' ') END AS w
      |  FROM norm),
      |sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
      |  FROM toks, LATERAL (SELECT unnest(range(1, len(w) - 1)) AS i)
      |  WHERE len(w) >= 3 AND i + 2 <= len(w)),
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id)""".stripMargin

  private[queries] val jaccardPairsSql =
    s"""WITH $shinglesSql,
       |pairs AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
       |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT id_a, id_b,
       |  CAST(n_common AS DOUBLE) / CAST(sa.n + sb.n - n_common AS DOUBLE) AS jaccard
       |FROM pairs
       |JOIN sizes sa ON id_a = sa.doc_id
       |JOIN sizes sb ON id_b = sb.doc_id
       |WHERE CAST(n_common AS DOUBLE) / CAST(sa.n + sb.n - n_common AS DOUBLE) >= $tau
       |ORDER BY id_a, id_b""".stripMargin

  override def queries: Map[String, Query] = Map(

    // Right-to-be-forgotten erasure of the incremental dedup STORE: the
    // corpus ingests in three batches through the continuously-deduped
    // store (corpus/index/pairs, id-hash-bucketed layout), then every doc
    // whose md5(doc_id) starts with '0' is erased
    // (IncrementalDedupStream.erase — bucket-pruned corpus/index rewrite,
    // staged-swap pairs rewrite). The surviving pairs store must equal the
    // all-pairs exact-Jaccard law over the RETAINED corpus — proving batch
    // ingest composition AND that the subject's pairs (either side) died.
    "p_erasure_dedup_store" -> ((s, dir) => {
      import graft.streaming.IncrementalDedupStream
      val docs = Tables.load(s, dir, "documents")
      val tmp = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_dedup_store_${s.sparkContext.applicationId}").toString
      val fs = new org.apache.hadoop.fs.Path(tmp)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(tmp), true) // clean re-runs
      for (i <- 0 until 3)
        IncrementalDedupStream.ingestBatch(
          docs.filter(pmod(col("doc_id"), lit(3)) === i),
          "doc_id", "text", tmp, minJaccard = tau, epoch = i.toLong)
      val erased = docs
        .filter(substring(md5(col("doc_id").cast("string")), 1, 1) === "0")
        .select(col("doc_id"))
      IncrementalDedupStream.erase(s, tmp, erased, "doc_id")
      IncrementalDedupStream.pairs(s, tmp)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Fellegi-Sunter probabilistic record linkage on customers: block on
    // nation, compare (segment, balance band, name-tail quasi-identifier),
    // u-probabilities estimated exactly from value frequencies, score =
    // fixed-order likelihood-ratio product (no logs — bit-exact
    // cross-engine). VALUE-EXACT oracle: every surviving pair's odds and
    // agreement count must match the SQL recomputation.
    "d_record_linkage" -> ((s, dir) => {
      val c = Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"),
          col("c_mktsegment").as("seg"),
          floor(col("c_acctbal") / lit(1000.0)).cast("long").as("band"),
          col("c_name").substr(length(col("c_name")) - 1, lit(2)).as("tail"))
      graft.operators.RecordLinkage.fsPairOdds(c, "c_custkey", "c_nationkey",
          Seq(("seg", 0.9, 0.1), ("band", 0.9, 0.1), ("tail", 0.85, 0.15)),
          minOdds = 30.0)
        .orderBy(col("id_a"), col("id_b"))
    }),
    "d_exact_groups" -> ((s, dir) =>
      Dedup.exactGroups(Tables.load(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("canonical_id"))),

    "d_jaccard_pairs" -> ((s, dir) =>
      Dedup.jaccardPairs(Tables.load(s, dir, "documents"), "doc_id", "text",
        minJaccard = tau)
        .orderBy(col("id_a"), col("id_b"))),

    // Shingle novelty vs the id-ordered corpus prefix: min-id-wins first
    // introduction; novelty_q is exact integer micro-units. The oracle
    // re-derives first-introduction through the same min aggregation over
    // the shared shingle law.
    "d_novelty_scores" -> ((s, dir) =>
      Dedup.noveltyScores(Tables.load(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))),

    // Asymmetric containment (Broder): C(A→B) = |A∩B|/|A| ≥ 0.6 — catches
    // short-doc-quoted-in-long-doc subsumption that symmetric Jaccard
    // misses. Same inverted index; each pair scored in both directions.
    "d_containment_pairs" -> ((s, dir) =>
      Dedup.containmentPairs(Tables.load(s, dir, "documents"), "doc_id",
        "text", minContainment = tauContain)
        .orderBy(col("contained_id"), col("container_id"))),

    // The production configuration for HEALTHY shingle distributions:
    // 8-byte xxhash64 join keys (~10× narrower shuffle + cheaper sort than
    // raw shingle strings; 64-bit hashing is collision-free at these
    // cardinalities, so it shares the exact oracle). The inverted index
    // has no hot-shingle cap: cost is Σ df² over shingles, so a corpus
    // with stopword-like shingles needs MinHash LSH (d_minhash_pairs).
    "d_jaccard_pairs_fast" -> ((s, dir) =>
      Dedup.jaccardPairs(Tables.load(s, dir, "documents"), "doc_id", "text",
        minJaccard = tau, hashShingles = true)
        .orderBy(col("id_a"), col("id_b"))),

    "d_minhash_pairs" -> ((s, dir) =>
      Dedup.minhashLshPairs(Tables.load(s, dir, "documents"), "doc_id", "text",
        minJaccard = tau)
        .orderBy(col("id_a"), col("id_b"))),

    // Winnowing (MOSS) fingerprint matching: position-free min-of-window
    // selection over md5 gram hashes keeps ~2/(w+1) of the grams while
    // guaranteeing any shared run of ≥ w+k-1 tokens still collides. The
    // oracle replays the selection law exactly (md5 is engine-neutral).
    "d_winnowing_pairs" -> ((s, dir) =>
      Dedup.winnowingPairs(Tables.load(s, dir, "documents"), "doc_id", "text",
        minScoreQ = 500000L)
        .orderBy(col("id_a"), col("id_b"))),

    // Fuzzy entity resolution: queries are the part names with ONE char
    // deleted at a key-derived position; match back to the catalog within
    // edit distance ≤ 2 via ANCHOR BLOCKING — candidates share the exact
    // first-3 or last-3 chars, PLUS a ±2 length band. A single deletion
    // preserves at least one 3-anchor on any string of length ≥ 6 (a miss
    // needs the edit inside BOTH anchors, i.e. len < 2·3 — names here are
    // ≥ 7), so recall is provably total; levenshtein then runs only on
    // anchor-bucket × length-band candidates, never the n²·|name|
    // all-pairs scan. Two equi-joins + distinct + one bounded window.
    // The catalog's tiny name vocabulary makes anchor buckets fat, so the
    // scorer uses THRESHOLD levenshtein (early-exit at distance 3 — the
    // bounded-band O(k·len) algorithm, not the O(len²) table) and the gate
    // queries a mod-5 slice; mechanism and oracle are slice-exact.
    "d_fuzzy_match" -> ((s, dir) => {
      val parts = Tables.load(s, dir, "part")
        .select(col("p_partkey"), col("p_name"))
      val q = parts.filter(pmod(col("p_partkey"), lit(5)) === 0)
        .select(col("p_partkey").as("q_key"),
          expr("""concat(
              substring(p_name, 1, cast(p_partkey % length(p_name) as int)),
              substring(p_name, cast(p_partkey % length(p_name) as int) + 2, 1000000))""")
            .as("q_name"))
      // 26-bit char-presence mask, computed ONCE per side before the join:
      // one edit flips ≤ 2 presence bits, so lev(a,b) ≤ 2 ⟹
      // popcount(mask_a XOR mask_b) ≤ 4 — a recall-safe long-only prefilter
      // that runs in whole-stage codegen and spares the O(k·len)
      // levenshtein call on the ~90% of fat-bucket candidates it rejects.
      def charMask(c: String) = expr(
        s"""aggregate(filter(transform(split($c, ''), ch -> ascii(ch)),
           |  a -> a >= 97 AND a <= 122),
           |  CAST(0 AS BIGINT), (acc, a) -> acc | shiftleft(CAST(1 AS BIGINT), a - 97))""".stripMargin)
      val qa = q.select(col("q_key"), col("q_name"),
        expr("substring(q_name, 1, 3)").as("pre"),
        expr("substring(q_name, length(q_name) - 2, 3)").as("suf"),
        charMask("q_name").as("q_mask"))
      val pa = parts.select(col("p_partkey"), col("p_name"),
        expr("substring(p_name, 1, 3)").as("pre"),
        expr("substring(p_name, length(p_name) - 2, 3)").as("suf"),
        charMask("p_name").as("p_mask"))
      val band = abs(length(col("q_name")) - length(col("p_name"))) <= 2
      // Score-then-dedup: the tiny name vocabulary makes anchor buckets fat
      // (8 distinct 3-prefixes over the whole catalog → ~10M candidate rows
      // per join direction at sf0.1), so deduping candidates BEFORE scoring
      // shuffles tens of millions of (q_key, p_partkey) rows only to feed a
      // filter that keeps a few thousand. Instead both joins stay broadcast
      // (catalog ≪ fact side — and when it isn't, candidates shuffle on the
      // anchor key and names travel with them either way), the threshold
      // levenshtein runs MAP-SIDE on the un-deduped stream (a pair seen via
      // both anchors is scored twice — extra compute linear in overlap, far
      // cheaper than a wide shuffle), and the ONLY shuffle is the distinct
      // over lev-survivors: ~10³ rows instead of ~10⁷.
      val maskOk = expr("bit_count(q_mask ^ p_mask) <= 4")
      val byPre = qa.join(broadcast(pa.withColumnRenamed("suf", "__ps")), Seq("pre"))
        .filter(band && maskOk)
      val bySuf = qa.join(broadcast(pa.withColumnRenamed("pre", "__pp")), Seq("suf"))
        .filter(band && maskOk)
      val scored = byPre.select(col("q_key"), col("q_name"), col("p_partkey"), col("p_name"))
        .unionByName(bySuf.select(col("q_key"), col("q_name"), col("p_partkey"), col("p_name")))
        .withColumn("lev", org.apache.spark.sql.graftx.EditDistanceExpressions
          .boundedLev(col("q_name"), col("p_name"), 2))
        .filter(col("lev") >= 0)
        .select(col("q_key"), col("p_partkey"), col("lev"))
        .distinct()
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("q_key")).orderBy(col("lev"), col("p_partkey"))
      scored.withColumn("__rn", row_number().over(w))
        .groupBy(col("q_key"))
        .agg(count(lit(1)).as("n_matches"),
          max(when(col("__rn") === 1, col("p_partkey"))).as("best_key"),
          min(col("lev")).as("best_lev"))
        .orderBy(col("q_key"))
    }),

    // Continuous-ingest dedup: the mod-3 slice arrives as a NEW batch and is
    // deduped against the rest of the corpus through its persisted band
    // index — the corpus is never re-sketched, only colliding docs are
    // re-read. Result contract: exactly the full-recompute pairs that touch
    // the new batch, which is what the exact-Jaccard oracle states.
    "d_incremental_pairs" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val oldDocs = docs.filter(pmod(col("doc_id"), lit(3)) =!= 0)
      val newDocs = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
      val idx = IncrementalDedup.bandIndex(oldDocs, "doc_id", "text")
      IncrementalDedup.incrementalPairs(newDocs, "doc_id", "text",
        idx, oldDocs, minJaccard = tau)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Cluster collapse: connected components over the near-dup pair graph,
    // so a–b + b–c keeps ONE canonical doc from {a,b,c} instead of pair-wise
    // over-deletion. Oracle recomputes via DuckDB's recursive CTE
    // (transitive closure) — a structurally independent algorithm, so the
    // hash match verifies the iterative min-label propagation end to end.
    "d_dedup_clusters" -> ((s, dir) => {
      val pairs = Dedup.jaccardPairs(Tables.load(s, dir, "documents"),
        "doc_id", "text", minJaccard = tau, hashShingles = true)
      Graph.connectedComponents(pairs, "id_a", "id_b")
        .select(col("vertex").as("doc_id"), col("component").as("component_id"))
        .orderBy(col("doc_id"))
    }),

    // Same cluster collapse via the alternating large/small-star algorithm
    // (O(log² n) rounds vs diameter rounds) — gated against the SAME
    // recursive-CTE oracle, so both CC implementations are independently
    // verified end to end.
    "d_dedup_clusters_star" -> ((s, dir) => {
      val pairs = Dedup.jaccardPairs(Tables.load(s, dir, "documents"),
        "doc_id", "text", minJaccard = tau, hashShingles = true)
      Graph.connectedComponentsStar(pairs, "id_a", "id_b")
        .select(col("vertex").as("doc_id"), col("component").as("component_id"))
        .orderBy(col("doc_id"))
    }),

    // The step a real pipeline runs AFTER cluster collapse: pick ONE
    // canonical survivor per duplicate cluster and tag everything else for
    // deletion. Policy: keep the longest copy (n_chars desc), doc_id as
    // the total-order tiebreak — integer comparisons only, so both engines
    // agree exactly. Singleton docs (no near-dup) survive trivially with
    // cluster_size 1. One broadcast-sized join (components ≪ corpus) plus
    // one window over the component key — no new wide shuffles.
    "d_dedup_survivors" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val pairs = Dedup.jaccardPairs(docs, "doc_id", "text",
        minJaccard = tau, hashShingles = true)
      val comps = Graph.connectedComponents(pairs, "id_a", "id_b")
        .select(col("vertex").as("doc_id"), col("component").as("comp"))
      val member = docs.select(col("doc_id"), col("n_chars"))
        .join(comps, Seq("doc_id"), "left")
        .withColumn("component_id", coalesce(col("comp"), col("doc_id")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("component_id"))
      val wOrd = w.orderBy(col("n_chars").desc, col("doc_id"))
      member
        .withColumn("cluster_size", count(lit(1)).over(w))
        .withColumn("survivor",
          (row_number().over(wOrd) === 1).cast("int"))
        .select(col("doc_id"), col("component_id"), col("cluster_size"),
          col("survivor"))
        .orderBy(col("doc_id"))
    }),

    // xxhash64-based sketch — DuckDB cannot evaluate it, so the driver-
    // visible check is a second-implementation equivalence: (1) the banded
    // candidate scheme must produce exactly the blocked brute-force
    // Hamming ≤ 3 pair set (the 4×16-bit-band pigeonhole guarantee), and
    // (2) the native SimHash64 expression must be bit-identical to the HOF
    // formulation. Both counts must be zero — a constant the oracle CAN
    // state.
    "d_simhash_check" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      // banded-vs-brute equality over a deterministic 1/3 subset: the brute
      // side is quadratic by definition, so a scale-honest verification
      // bounds its input rather than growing with the corpus (the subset
      // still contains planted near-dup pairs at every sf)
      val sub = docs.filter(col("doc_id") % 3 === 0)
      val banded = Dedup.simhashPairs(sub, "doc_id", "text", maxHamming = 3)
      val brute = Dedup.simhashPairsBrute(sub, "doc_id", "text", maxHamming = 3)
      // symmetric difference as tagged-union + groupBy: each side's subtree
      // evaluates ONCE (exceptAll-both-ways would run banded and brute twice)
      val pairDiff = banded.withColumn("__src", lit(1))
        .unionByName(brute.withColumn("__src", lit(-1)))
        .groupBy(col("id_a"), col("id_b"), col("hamming"))
        .agg(sum(col("__src")).as("__d"))
        .filter(col("__d") =!= 0)
        .agg(count(lit(1)).as("pair_diff"))
      // the HOF formulation costs 64×|tokens| interpreted walks per row —
      // cross-check a deterministic 1/20 sample at the gate (ExtensionsSpec
      // proves full-corpus bit-identity)
      val nativeHof = docs.filter(col("doc_id") % 20 === 0)
        .select(Dedup.simhash64(col("text")).as("a"),
          Dedup.simhash64Hof(col("text")).as("b"))
        .filter(col("a") =!= col("b"))
        .agg(count(lit(1)).as("native_hof_mismatches"))
      pairDiff.crossJoin(nativeHof) // 1-row × 1-row
    }),

    // Sorted-neighborhood candidate pairs (Hernández-Stolfo): corpus
    // ordered by normalized text (pure [a-z0-9 ] bytes, so Java and DuckDB
    // collate identically), window w=5, every in-window pair emitted. The
    // Spark side derives the global rank WITHOUT a single-partition window
    // (range-repartition + per-partition row_number + collected offsets)
    // and generates pairs through a banded rank-bucket equi-join; the
    // oracle is the textbook one-window formulation — a hash match proves
    // the distributed ranking and banding are exactly the sequential
    // semantics.
    "d_snm_pairs" -> ((s, dir) => {
      import graft.functions.TextFunctions
      val docs = Tables.load(s, dir, "documents")
      Dedup.sortedNeighborhoodPairs(docs, "doc_id",
          TextFunctions.normalize(col("text")), w = 5)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Greedy submodular coverage selection (the complement of dedup): the
    // k documents that together cover the most distinct shingles, in greedy
    // order with deterministic tie-breaks. The oracle unrolls all k rounds
    // as CTEs — argmax, covered-set union, and every marginal count are
    // re-derived by DuckDB, so the whole greedy TRAJECTORY is value-exact.
    "d_coverage_select" -> ((s, dir) =>
      graft.operators.Coverage.greedySelect(
        Tables.load(s, dir, "documents"), "doc_id", "text",
        k = coverageK)))

  private[queries] val coverageK = 5

  /** Full-recompute exact Jaccard restricted to pairs touching the mod-3
    * "new batch" — the incremental path must find exactly these.
    */
  private val incrementalPairsSql =
    s"""WITH $shinglesSql,
       |pairs AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
       |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT id_a, id_b,
       |  CAST(n_common AS DOUBLE) / CAST(sa.n + sb.n - n_common AS DOUBLE) AS jaccard
       |FROM pairs
       |JOIN sizes sa ON id_a = sa.doc_id
       |JOIN sizes sb ON id_b = sb.doc_id
       |WHERE CAST(n_common AS DOUBLE) / CAST(sa.n + sb.n - n_common AS DOUBLE) >= $tau
       |  AND (id_a % 3 = 0 OR id_b % 3 = 0)
       |ORDER BY id_a, id_b""".stripMargin

  /** Unrolled k-round greedy coverage: round t's gains count shingles not
    * in the covered union c(t-1); winner = (max gain, min doc_id).
    */
  private def coverageSelectSql(k: Int): String = {
    val rounds = (1 to k).map { t =>
      val uDef =
        if (t == 1) ""
        else s"u$t AS (SELECT doc_id, s FROM sh " +
          s"WHERE s NOT IN (SELECT s FROM c${t - 1})),\n"
      val uncov = if (t == 1) "sh" else s"u$t"
      val cDef =
        if (t == 1) "c1 AS (SELECT DISTINCT s FROM sh " +
          "WHERE doc_id = (SELECT doc_id FROM w1))"
        else s"c$t AS (SELECT s FROM c${t - 1} UNION SELECT s FROM sh " +
          s"WHERE doc_id = (SELECT doc_id FROM w$t))"
      s"""${uDef}g$t AS (SELECT doc_id, count(*) AS g FROM $uncov GROUP BY doc_id),
         |w$t AS (SELECT doc_id, g FROM g$t ORDER BY g DESC, doc_id LIMIT 1),
         |$cDef""".stripMargin
    }.mkString(",\n")
    val sel = (1 to k)
      .map(t => s"SELECT $t AS round, doc_id, g FROM w$t")
      .mkString("\nUNION ALL ")
    s"""WITH $shinglesSql,
       |$rounds,
       |sel AS ($sel)
       |SELECT CAST(round AS INTEGER) AS round, doc_id,
       |  CAST(g AS BIGINT) AS gain,
       |  CAST(SUM(g) OVER (ORDER BY round) AS BIGINT) AS covered_total
       |FROM sel ORDER BY round""".stripMargin
  }

  override def oracleSql: Map[String, String] = Map(
    "d_coverage_select" -> coverageSelectSql(coverageK),
    "d_record_linkage" ->
      """WITH c AS (SELECT c_custkey, c_nationkey, c_mktsegment AS seg,
        |    CAST(floor(c_acctbal / CAST(1000.0 AS DOUBLE)) AS BIGINT)
        |      AS band,
        |    substr(c_name, CAST(length(c_name) AS INTEGER) - 1, 2) AS tail
        |  FROM customer),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM c),
        |us AS (SELECT CAST(sum(CAST(cc AS DECIMAL(19,0))
        |    * CAST(cc AS DECIMAL(19,0))) AS DOUBLE) AS sq
        |  FROM (SELECT count(*) AS cc FROM c GROUP BY seg)),
        |ub AS (SELECT CAST(sum(CAST(cc AS DECIMAL(19,0))
        |    * CAST(cc AS DECIMAL(19,0))) AS DOUBLE) AS sq
        |  FROM (SELECT count(*) AS cc FROM c GROUP BY band)),
        |ut AS (SELECT CAST(sum(CAST(cc AS DECIMAL(19,0))
        |    * CAST(cc AS DECIMAL(19,0))) AS DOUBLE) AS sq
        |  FROM (SELECT count(*) AS cc FROM c GROUP BY tail)),
        |st AS (SELECT
        |    us.sq / (CAST(n.n AS DOUBLE) * CAST(n.n AS DOUBLE)) AS u_seg,
        |    ub.sq / (CAST(n.n AS DOUBLE) * CAST(n.n AS DOUBLE)) AS u_band,
        |    ut.sq / (CAST(n.n AS DOUBLE) * CAST(n.n AS DOUBLE)) AS u_tail
        |  FROM n, us, ub, ut),
        |sc AS (SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
        |    CAST(a.seg IS NOT DISTINCT FROM b.seg AS INTEGER)
        |      + CAST(a.band IS NOT DISTINCT FROM b.band AS INTEGER)
        |      + CAST(a.tail IS NOT DISTINCT FROM b.tail AS INTEGER)
        |      AS n_agree,
        |    (CASE WHEN a.seg IS NOT DISTINCT FROM b.seg
        |        THEN CAST(0.9 AS DOUBLE) / u_seg
        |        ELSE CAST(0.1 AS DOUBLE) / (CAST(1.0 AS DOUBLE) - u_seg)
        |      END)
        |    * (CASE WHEN a.band IS NOT DISTINCT FROM b.band
        |        THEN CAST(0.9 AS DOUBLE) / u_band
        |        ELSE CAST(0.1 AS DOUBLE) / (CAST(1.0 AS DOUBLE) - u_band)
        |      END)
        |    * (CASE WHEN a.tail IS NOT DISTINCT FROM b.tail
        |        THEN CAST(0.85 AS DOUBLE) / u_tail
        |        ELSE CAST(0.15 AS DOUBLE) / (CAST(1.0 AS DOUBLE) - u_tail)
        |      END) AS odds
        |  FROM c a JOIN c b
        |    ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey,
        |    st)
        |SELECT id_a, id_b, n_agree, odds FROM sc
        |WHERE odds >= CAST(30.0 AS DOUBLE)
        |ORDER BY id_a, id_b""".stripMargin,

    "d_fuzzy_match" ->
      """WITH p AS (SELECT p_partkey, p_name FROM part),
        |q AS (SELECT p_partkey AS q_key,
        |    substr(p_name, 1, CAST(p_partkey % length(p_name) AS INTEGER))
        |    || substr(p_name, CAST(p_partkey % length(p_name) AS INTEGER) + 2)
        |    AS q_name FROM p WHERE p_partkey % 5 = 0),
        |qa AS (SELECT q_key, q_name, substr(q_name, 1, 3) AS pre,
        |    substr(q_name, length(q_name) - 2, 3) AS suf FROM q),
        |pa AS (SELECT p_partkey, p_name, substr(p_name, 1, 3) AS pre,
        |    substr(p_name, length(p_name) - 2, 3) AS suf FROM p),
        |c AS (
        |  SELECT DISTINCT q_key, q_name, p_partkey, p_name FROM (
        |    SELECT qa.q_key, qa.q_name, pa.p_partkey, pa.p_name
        |    FROM qa JOIN pa ON qa.pre = pa.pre
        |    WHERE abs(length(q_name) - length(p_name)) <= 2
        |    UNION ALL
        |    SELECT qa.q_key, qa.q_name, pa.p_partkey, pa.p_name
        |    FROM qa JOIN pa ON qa.suf = pa.suf
        |    WHERE abs(length(q_name) - length(p_name)) <= 2)),
        |s AS (SELECT q_key, p_partkey,
        |    CAST(levenshtein(q_name, p_name) AS INTEGER) AS lev
        |  FROM c WHERE levenshtein(q_name, p_name) <= 2),
        |r AS (SELECT q_key, p_partkey, lev, row_number() OVER (
        |    PARTITION BY q_key ORDER BY lev, p_partkey) AS rn FROM s)
        |SELECT q_key, CAST(count(*) AS BIGINT) AS n_matches,
        |  max(CASE WHEN rn = 1 THEN p_partkey END) AS best_key,
        |  min(lev) AS best_lev
        |FROM r GROUP BY q_key ORDER BY q_key""".stripMargin,

    "d_exact_groups" ->
      """SELECT md5(text) AS content_fp, min(doc_id) AS canonical_id,
        |  count(*) AS dup_count
        |FROM documents GROUP BY md5(text) ORDER BY canonical_id""".stripMargin,

    "d_novelty_scores" ->
      s"""WITH $shinglesSql,
         |first AS (SELECT s, min(doc_id) AS fd FROM sh GROUP BY s),
         |pd AS (SELECT sh.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
         |    CAST(sum(CASE WHEN sh.doc_id = fd THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_novel
         |  FROM sh JOIN first ON sh.s = first.s GROUP BY sh.doc_id)
         |SELECT d.doc_id, COALESCE(n_grams, 0) AS n_grams,
         |  COALESCE(n_novel, 0) AS n_novel,
         |  CAST(CASE WHEN COALESCE(n_grams, 0) = 0 THEN 0
         |    ELSE n_novel * 1000000 // n_grams END AS BIGINT) AS novelty_q
         |FROM documents d LEFT JOIN pd USING (doc_id)
         |ORDER BY doc_id""".stripMargin,

    "d_jaccard_pairs" -> jaccardPairsSql,
    "d_jaccard_pairs_fast" -> jaccardPairsSql,

    // the same all-pairs law, rooted on the corpus MINUS the erased ids —
    // what the store must hold after ingest-then-erase
    "p_erasure_dedup_store" -> jaccardPairsSql.replace(
      "FROM documents)",
      "FROM documents\n  WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <> '0')"),

    "d_containment_pairs" ->
      s"""WITH $shinglesSql,
         |pairs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
         |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |dirs AS (
         |  SELECT id_a AS contained_id, id_b AS container_id, n_common,
         |      sa.n AS n_self
         |    FROM pairs JOIN sizes sa ON id_a = sa.doc_id
         |  UNION ALL
         |  SELECT id_b, id_a, n_common, sb.n
         |    FROM pairs JOIN sizes sb ON id_b = sb.doc_id)
         |SELECT contained_id, container_id,
         |  CAST(n_common AS DOUBLE) / CAST(n_self AS DOUBLE) AS containment
         |FROM dirs
         |WHERE CAST(n_common AS DOUBLE) / CAST(n_self AS DOUBLE) >= $tauContain
         |ORDER BY contained_id, container_id""".stripMargin,
    "d_minhash_pairs" -> jaccardPairsSql,

    // Positional gram hashes → per-window minima → distinct fingerprints →
    // inverted-index pair scoring: the same law as the Spark side, re-derived
    // through DuckDB's LATERAL range generators.
    "d_winnowing_pairs" ->
      """WITH norm AS (SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS t
        |  FROM documents),
        |toks AS (SELECT doc_id,
        |  CASE WHEN length(t) = 0 THEN [] ELSE string_split(t, ' ') END AS w
        |  FROM norm),
        |grams AS (SELECT doc_id, i,
        |    md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS h
        |  FROM toks, LATERAL (SELECT unnest(range(1, len(w) - 1)) AS i)
        |  WHERE len(w) >= 3 AND i + 2 <= len(w)),
        |ng AS (SELECT doc_id, count(*) AS m FROM grams GROUP BY doc_id),
        |wins AS (SELECT doc_id, j
        |  FROM ng, LATERAL (SELECT unnest(range(1, greatest(m - 3, 1) + 1)) AS j)),
        |wmins AS (SELECT wins.doc_id, wins.j, min(g.h) AS fp
        |  FROM wins JOIN grams g ON g.doc_id = wins.doc_id
        |    AND g.i >= wins.j AND g.i < wins.j + 4
        |  GROUP BY 1, 2),
        |fps AS (SELECT DISTINCT doc_id, fp FROM wmins),
        |fsz AS (SELECT doc_id, count(*) AS n FROM fps GROUP BY doc_id),
        |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
        |  FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b, n_common,
        |  CAST((1000000 * n_common) // least(sa.n, sb.n) AS BIGINT) AS score_q
        |FROM p JOIN fsz sa ON id_a = sa.doc_id JOIN fsz sb ON id_b = sb.doc_id
        |WHERE (1000000 * n_common) // least(sa.n, sb.n) >= 500000
        |ORDER BY id_a, id_b""".stripMargin,
    "d_incremental_pairs" -> incrementalPairsSql,

    "d_dedup_clusters" -> dedupClustersSql,
    "d_dedup_clusters_star" -> dedupClustersSql,
    "d_dedup_survivors" -> dedupSurvivorsSql,

    "d_simhash_check" ->
      """SELECT CAST(0 AS BIGINT) AS pair_diff,
        |  CAST(0 AS BIGINT) AS native_hof_mismatches""".stripMargin,

    // textbook sequential SNM: one global window over the sorted corpus —
    // structurally independent of the Spark side's distributed ranking +
    // banded bucket join
    "d_snm_pairs" ->
      """WITH norm AS (SELECT doc_id,
        |    trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS t
        |  FROM documents),
        |r AS (SELECT doc_id, row_number() OVER (ORDER BY t, doc_id) AS rk
        |  FROM norm)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(b.rk - a.rk AS BIGINT) AS gap
        |FROM r a JOIN r b ON b.rk > a.rk AND b.rk - a.rk < 5
        |ORDER BY id_a, id_b""".stripMargin)

  /** Shared transitive-closure core: shingles → jaccard pairs → recursive
    * reachability over the undirected edge set.
    */
  private lazy val clusterCoreSql =
    s"""$shinglesSql,
       |cand AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
       |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |jp AS (
       |  SELECT id_a, id_b FROM cand
       |  JOIN sizes sa ON id_a = sa.doc_id
       |  JOIN sizes sb ON id_b = sb.doc_id
       |  WHERE CAST(n_common AS DOUBLE) / CAST(sa.n + sb.n - n_common AS DOUBLE) >= $tau),
       |edges AS (SELECT id_a AS a, id_b AS b FROM jp
       |  UNION ALL SELECT id_b, id_a FROM jp),
       |reach(s, t) AS (
       |  SELECT a, b FROM edges
       |  UNION
       |  SELECT r.s, e.b FROM reach r JOIN edges e ON r.t = e.a)""".stripMargin

  private lazy val dedupClustersSql =
    s"""WITH RECURSIVE $clusterCoreSql
       |SELECT s AS doc_id, least(s, min(t)) AS component_id
       |FROM reach GROUP BY s ORDER BY doc_id""".stripMargin

  private lazy val dedupSurvivorsSql =
    s"""WITH RECURSIVE $clusterCoreSql,
       |comp AS (SELECT s AS doc_id, least(s, min(t)) AS component_id
       |  FROM reach GROUP BY s),
       |m AS (SELECT d.doc_id,
       |    coalesce(c.component_id, d.doc_id) AS component_id, d.n_chars
       |  FROM documents d LEFT JOIN comp c USING (doc_id)),
       |r AS (SELECT doc_id, component_id,
       |    count(*) OVER (PARTITION BY component_id) AS cluster_size,
       |    row_number() OVER (PARTITION BY component_id
       |      ORDER BY n_chars DESC, doc_id) AS rn
       |  FROM m)
       |SELECT doc_id, component_id, CAST(cluster_size AS BIGINT) AS cluster_size,
       |  CAST(rn = 1 AS INTEGER) AS survivor
       |FROM r ORDER BY doc_id""".stripMargin
}
