package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftx.CheckpointUtils
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.VectorFunctions._

/** Distributed spherical k-means (Lloyd) over an `array<float>` embedding
  * column, and SemDeDup-style semantic deduplication built on it.
  *
  * Scale posture (billions of vectors): the model state is k·dim doubles —
  * it lives on the driver and is embedded in each iteration's plan, the
  * classic MLlib shape. Per iteration the corpus is scanned once:
  * assignment is a narrow projection through the
  * [[org.apache.spark.sql.graftx.CosineArgmaxCell]] kernel (k dot products
  * per row in one codegen'd call, plan size O(1) in k — NO join, NO
  * shuffle), and the centroid update's only exchange is the posexplode +
  * groupBy(cell, dim) whose map-side partial aggregation collapses n·dim
  * element rows to partitions·k·dim before the shuffle. Seeding is
  * deterministic (max-min from the smallest md5(id) row), sums are
  * order-insensitive decimals, and cosine ties break to the smallest cell
  * index, so a fit is bit-reproducible on any partitioning.
  */
object Clustering {
  import org.apache.spark.sql.graftx.PqExpressions.cosineArgmaxCell

  /** Lloyd stops once no centroid moves by more than this (squared). */
  private val Tol = 1e-9

  /** `df` plus a `cellCol` column assigning each row to its nearest (by
    * cosine) centroid, ties to the smallest cell index. Narrow — adds zero
    * exchanges to the plan.
    */
  def assign(df: DataFrame, vec: String, centroids: Seq[Seq[Double]],
      cellCol: String = "cell"): DataFrame =
    df.withColumn(cellCol,
      cosineArgmaxCell(col(vec), l2Norm(col(vec)), centroids))

  /** Lloyd iterations; returns the final centroids (≤ k × dim doubles —
    * fewer than k only when the seeding sample holds fewer than k ids).
    * Seeding is deterministic max-min (Gonzalez k-center) over ONE sample,
    * the [[SeedSampleRows]] smallest-(md5(id), id) rows, collected in a
    * single job and seeded on the driver: the first seed is the
    * smallest-md5 row, each next seed the sampled row with the LOWEST best
    * cosine to any chosen seed, ties by id in Spark's string order (UTF-8
    * bytes). Well-separated modes each get a seed, which plain hash
    * seeding does not guarantee. A chosen id retires every row carrying
    * it; rows with a null id or vector take no part in seeding (Lloyd
    * skips a null vector too).
    *
    * A row's cosine to a seed c is the kernel's arithmetic (see
    * [[org.apache.spark.sql.graftx.CosineArgmaxCell]]): the ascending-
    * index double dot of its float→double elements over `‖v‖ · ‖c‖`, with
    * `‖c‖ = 0` read as 1. A zero-norm row therefore scores NaN, which
    * orders above every cosine: it is seeded only once every other id is.
    *
    * Convergence is max squared centroid movement under 1e-9 (computed on
    * the driver for free from the same collect), else `maxIter`
    * (`maxIter = 0` returns the seeds). Empty cells keep their previous
    * centroid. The iterated (id, vec, norm) projection is staged once with
    * localCheckpoint so the seeding sample and the Lloyd rounds don't
    * re-read the source; at cluster scale stage with persist(DISK_ONLY)
    * instead.
    */
  def fit(df: DataFrame, id: String, vec: String, k: Int,
      maxIter: Int = 10): Seq[Seq[Double]] = {
    require(k >= 1, s"k must be >= 1, got $k")
    val (base, _) = CheckpointUtils.materialize(
      df.select(col(id).cast("string").as("__id"), col(vec).as("__v"))
        .withColumn("__nrm", l2Norm(col("__v"))))
    try lloyd(base, seeds(base, k), maxIter)
    finally CheckpointUtils.unpersistLocalCheckpoint(base)
  }

  /** Rows in the seeding sample, bounded by driver memory: the sample
    * lives there as S × dim doubles (64 MB at 1,024 dims). Every input
    * that reaches [[fit]] at the shipped scales is smaller (the
    * embeddings table has 500 rows at sf0.01 and 2,000 at sf0.1), so its
    * seeds are max-min over the whole input. Above S, the seeds come from
    * the S smallest-md5(id) rows only, a uniform hash sample.
    */
  private[graft] val SeedSampleRows = 8192

  /** Gonzalez max-min seeds of the staged `(__id, __v, __nrm)` frame: one
    * collect of the sample, then one driver pass over it per seed, each
    * folding the new seed into a running best cosine per row.
    */
  private def seeds(base: DataFrame, k: Int): Seq[Seq[Double]] = {
    val rows = base.filter(col("__id").isNotNull && col("__v").isNotNull)
      .orderBy(md5(col("__id")), col("__id")).limit(SeedSampleRows)
      .select(col("__v"), col("__id"), col("__nrm")).collect()
    val n = rows.length
    val vs = rows.map(_.getSeq[Any](0).iterator
      .map(_.asInstanceOf[Number].doubleValue).toArray)
    val ids = rows.map(r => UTF8String.fromString(r.getString(1)))
    val nrm = rows.map(_.getDouble(2))
    val best = Array.fill(n)(Double.NegativeInfinity)
    val retired = new Array[Boolean](n)
    // Spark's ascending (best cosine, id) order: NaN last, -0.0 = 0.0
    def before(i: Int, j: Int): Boolean = {
      val byCos = SQLOrderingUtil.compareDoubles(best(i), best(j))
      byCos < 0 || byCos == 0 && ids(i).binaryCompare(ids(j)) < 0
    }
    val picked = scala.collection.mutable.ArrayBuffer[Int]()
    var next = if (n == 0) -1 else 0
    while (next >= 0 && picked.size < k) {
      val p = next
      picked += p
      val c = vs(p)
      val cn = math.sqrt(c.foldLeft(0.0)((a, x) => a + x * x))
      val safe = if (cn == 0.0) 1.0 else cn
      next = -1
      var i = 0
      while (i < n) {
        if (ids(i) == ids(p)) retired(i) = true
        if (!retired(i)) {
          val v = vs(i)
          val m = math.min(v.length, c.length)
          var d = 0.0
          var j = 0
          while (j < m) { d += v(j) * c(j); j += 1 }
          val s = d / (nrm(i) * safe)
          if (SQLOrderingUtil.compareDoubles(s, best(i)) > 0) best(i) = s
          if (next < 0 || before(i, next)) next = i
        }
        i += 1
      }
    }
    picked.map(i => vs(i).toSeq).toSeq
  }

  private def lloyd(base: DataFrame, seeds: Seq[Seq[Double]],
      maxIter: Int): Seq[Seq[Double]] = {
    import graft.ops.Aggregations.sumStable
    if (seeds.isEmpty) return seeds // empty input frame
    var centroids = seeds
    val kk = centroids.size
    var iter = 0
    var moved = Double.MaxValue
    while (iter < maxIter && moved > Tol) {
      // one corpus scan: narrow argmax-cosine assign, then per-(cell, dim)
      // decimal-exact sums — k·dim rows collected to the driver
      val sums = base
        .withColumn("__cell",
          cosineArgmaxCell(col("__v"), col("__nrm"), centroids))
        .select(col("__cell"), posexplode(col("__v")).as(Seq("__i", "__x")))
        .groupBy(col("__cell"), col("__i"))
        .agg(sumStable(col("__x")).as("__s"), count(lit(1)).as("__n"))
        .collect()
      val dim = centroids.head.length
      val acc = Array.fill(kk)(new Array[Double](dim))
      val cnt = new Array[Long](kk)
      sums.foreach { r =>
        val c = r.getInt(0)
        acc(c)(r.getInt(1)) = r.getDouble(2)
        cnt(c) = r.getLong(3)
      }
      val next = centroids.indices.map { j =>
        if (cnt(j) == 0L) centroids(j)
        else acc(j).map(_ / cnt(j)).toSeq
      }
      moved = centroids.indices.map { j =>
        centroids(j).zip(next(j)).map { case (a, b) => (a - b) * (a - b) }.sum
      }.max
      centroids = next
      iter += 1
    }
    centroids
  }

  /** SemDeDup-style semantic deduplication (cluster-then-prune, after
    * Abbas et al. 2023, arXiv:2303.09540): k-means the corpus, then inside
    * each cluster mark every row that has a SMALLER-id neighbor with
    * cosine ≥ `tau` as pruned — the keep-first policy (same semantics as
    * the corpus line dedup): in a duplicate clique exactly the smallest id
    * survives, and membership is deterministic. Returns (id, cell,
    * pruned 0/1) for every input row.
    *
    * Scale: the pairwise work is confined within cells by an equi-join on
    * the cell id — k is the knob bounding expected cell size (the paper's
    * point: clustering makes near-quadratic dedup tractable by only
    * comparing semantic neighbors). Cross-cell near-dups at CELL BOUNDARIES
    * are the known blind spot: each row is compared only within its own
    * cell.
    *
    * Fat-cell hardening: a skewed cell (k too small, or a degenerate
    * embedding mode) would re-create the n² problem on ONE reducer, so
    * every cell larger than `fatCellRows` is automatically sub-blocked
    * with the [[Similarity.cosineNearDupBlocked]] block-pair scheme,
    * applied within the cell: row → block `xxhash64(id) % G` with
    * G = ⌈cellRows / fatCellRows⌉, and the pair work runs in the equi-join
    * on (cell, blockA, blockB) — a fat cell's pairs spread over G(G+1)/2
    * reducers, each seeing ≤ ~2·fatCellRows input rows. Cells under the
    * threshold get G = 1, which degenerates to the plain cell equi-join
    * (same keys, same work — no penalty on the common path). Each
    * unordered pair still meets exactly once (same-block pairs ordered by
    * id, cross-block pairs by block orientation), and the pruned row is
    * the pair's larger id, so the keep-first semantics are unchanged.
    */
  def semDeDupLabels(df: DataFrame, id: String, vec: String, k: Int,
      tau: Double, maxIter: Int = 10,
      fatCellRows: Int = 100000): DataFrame = {
    require(fatCellRows >= 1, s"fatCellRows must be >= 1, got $fatCellRows")
    val centroids = fit(df, id, vec, k, maxIter)
    // assignment + norm computed once, reused by both join sides
    val labeled = assign(df.select(col(id), col(vec)), vec, centroids, "cell")
      .withColumn("__nrm", l2Norm(col(vec)))
      .localCheckpoint()
    // per-cell block count G (≤ k rows — broadcast)
    val gOf = labeled.groupBy(col("cell"))
      .agg(ceil(count(lit(1)).cast("double") / fatCellRows).cast("int")
        .as("__nblk")) // NOT "__G": column resolution is case-insensitive,
      // and a name differing from "__g" only by case silently aliases it
    val withG = labeled.join(broadcast(gOf), Seq("cell"))
      .withColumn("__g", pmod(xxhash64(col(id)), col("__nblk")).cast("int"))
    val a = withG.select(col("cell"), col("__g").as("__i"),
      explode(sequence(col("__g"), col("__nblk") - 1)).as("__j"),
      col(id).as("__ida"), col(vec).as("__va"), col("__nrm").as("__na"))
    val b = withG.select(col("cell"),
      explode(sequence(lit(0), col("__g"))).as("__i"),
      col("__g").as("__j"),
      col(id).as("__idb"), col(vec).as("__vb"), col("__nrm").as("__nb"))
    val pruned = a.join(b, Seq("cell", "__i", "__j"))
      // same-block pairs meet twice (both orientations) — keep one; cross-
      // block pairs meet exactly once in either orientation — keep it.
      .filter(col("__i") =!= col("__j") || col("__ida") < col("__idb"))
      .filter(cosineWithNorms(col("__va"), col("__vb"),
        col("__na"), col("__nb")) >= tau)
      // the pair's larger id is the one with a smaller-id near-neighbor
      .select(greatest(col("__ida"), col("__idb")).as(id))
      .distinct()
    labeled.select(col(id), col("cell"))
      .join(pruned.withColumn("__p", lit(1)), Seq(id), "left")
      .select(col(id), col("cell"), coalesce(col("__p"), lit(0)).as("pruned"))
  }
}
