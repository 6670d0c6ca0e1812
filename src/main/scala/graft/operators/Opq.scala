package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** FULL Optimized Product Quantization (Ge, He, Ke, Sun, "Optimized
  * Product Quantization for Approximate Nearest Neighbor Search", CVPR
  * 2013 — the non-parametric solution, §3.2): learn an orthonormal
  * rotation R JOINTLY with the PQ codebooks by alternating
  *
  *   1. rotate:    y = R·(x − mean)            (zero-shuffle projection)
  *   2. quantize:  one Lloyd round per subspace on y (warm-started
  *                 from the previous codebooks, one corpus scan)
  *   3. rotate-update: R ← argmin_{R orthonormal} Σ‖R·xc − ŷ‖², solved
  *                 exactly by orthogonal Procrustes on the cross-moment
  *                 matrix M = Σ xc·ŷᵀ ([[Pca.procrustesRotation]])
  *
  * which monotonically non-increases the quantization distortion
  * E = Σ‖R·xc − ŷ‖²: step 2 is Lloyd (non-increasing given R), step 3 is
  * the exact minimizer given the codes (Ge et al. §3.2) — the property
  * the `v_opq_full_check` gate asserts on the recorded distortion
  * sequence. The first-order approximation (PCA rotate, then PQ —
  * `v_opq_check`) is this loop's INITIALIZATION, so full OPQ can only
  * improve on it.
  *
  * Scale posture: model state is mean + R (dim² doubles) + codebooks —
  * driver-side, folded into scans. Per alternation the corpus is scanned
  * twice (one Lloyd round; one combined distortion+cross-moment
  * aggregation whose exchange is a single dim²-long array per partition —
  * [[org.apache.spark.sql.graftx.VectorCrossMomentAgg]]); the SVD is a
  * dim×dim driver problem. Distortion is decimal-exact
  * ([[graft.ops.Aggregations.sumStable]]) so the monotonicity gate is
  * engine- and partitioning-exact.
  */
object Opq {

  /** rotation rows are the orthonormal basis: y = rotation · (x − mean).
    * `distortions(t)` = Σ‖R·xc − ŷ‖² recorded after alternation t's Lloyd
    * step (index 0 = the first-order initialization) — monotone
    * non-increasing by construction.
    */
  case class Model(mean: Array[Double], rotation: Array[Array[Double]],
      codebooks: Seq[Seq[Seq[Double]]], distortions: Seq[Double])

  /** `df` plus the rotated vector `outCol` (and the centered original in
    * `centeredCol` when non-empty) — a zero-shuffle projection: dim native
    * dot kernels against the literal rotation rows.
    */
  def rotate(df: DataFrame, vec: String, mean: Array[Double],
      rotation: Array[Array[Double]], outCol: String = "rvec",
      centeredCol: String = ""): DataFrame = {
    val centered = zip_with(col(vec).cast("array<double>"),
      typedlit(mean.toSeq), (x, m) => x - m)
    val keep = if (centeredCol.isEmpty) "__opq_cv" else centeredCol
    val rotated = df.withColumn(keep, centered)
      .withColumn(outCol, array(rotation.map(r =>
        VectorFunctions.dot(col(keep), typedlit(r.toSeq))): _*))
    if (centeredCol.isEmpty) rotated.drop(keep) else rotated
  }

  def rotate(df: DataFrame, vec: String, model: Model): DataFrame =
    rotate(df, vec, model.mean, model.rotation)

  /** PQ reconstruction ŷ of a code column: the concatenated codewords —
    * bounded literal lookups (m small arrays of k×sub doubles).
    */
  private def reconstructExpr(code: Column,
      books: Seq[Seq[Seq[Double]]]): Column =
    flatten(array(books.zipWithIndex.map { case (cb, mi) =>
      element_at(typedlit(cb), element_at(code, mi + 1) + 1)
    }: _*))

  /** Decimal-exact quantization distortion Σ‖y − ŷ‖² of `books` on an
    * already-rotated frame — one scan, engine- and partitioning-exact
    * (the quantity the `v_opq_full_check` gate compares across training
    * recipes).
    */
  def distortion(rotated: DataFrame, vecCol: String,
      books: Seq[Seq[Seq[Double]]]): Double = {
    import graft.ops.Aggregations.sumStable
    val vd = col(vecCol).cast("array<double>")
    rotated
      .withColumn("__hat", reconstructExpr(Pq.codesExpr(vd, books), books))
      .agg(sumStable(VectorFunctions.l2DistanceSq(vd, col("__hat"))))
      .head().getDouble(0)
  }

  /** Fit: PCA initialization (the first-order rotation — or a caller-
    * supplied `(mean, rotation)` init), initial codebook training, then
    * `alternations` rounds of the Ge et al. loop. Everything is
    * deterministic (hash seeding, decimal sums, quantized cross-moments,
    * deterministic Jacobi/Procrustes), so fits are bit-reproducible on any
    * partitioning.
    */
  def fit(df: DataFrame, id: String, vec: String, m: Int, k: Int,
      alternations: Int = 3, initIters: Int = 2,
      init: Option[(Array[Double], Array[Array[Double]])] = None): Model = {
    import graft.ops.Aggregations.sumStable
    require(alternations >= 1, "need at least one alternation")
    val (base, seen) = org.apache.spark.sql.graftx.CheckpointUtils.materialize(
      df.select(col(id).as("__id"), col(vec).cast("array<double>").as("__v")),
      max(size(col("__v"))).as("dim"))
    try {
      val dim = Pq.stagedDim(seen, "Opq.fit")
      val (mean, rot0) = init.getOrElse {
        val pca = Pca.fit(base, "__v", dim, dim)
        (pca.mean, pca.components)
      }
      var rot: Array[Array[Double]] = rot0
      // first-order init: PCA rotation + hash-seeded codebooks
      var rotated = rotate(base, "__v", mean, rot, "rvec", "__cv")
        .localCheckpoint()
      // the codebook trainer's input: a projection of the current
      // checkpointed `rotated`, so training stages no copy of its own
      def trainFrame = rotated.select(col("__id").cast("string").as("__id"),
        col("rvec").as("__v"))
      var books = Pq.seedAndLloyd(trainFrame, dim, m, k, initIters)
      val dists = scala.collection.mutable.ArrayBuffer[Double]()
      // one combined pass: decimal-exact distortion + the dim² cross-
      // moment matrix for the next Procrustes step
      def measure(): (Double, Array[Array[Double]]) = {
        val withHat = rotated.withColumn("__yhat",
          reconstructExpr(Pq.codesExpr(col("rvec"), books), books))
        val r = withHat.agg(
          sumStable(VectorFunctions.l2DistanceSq(col("rvec"), col("__yhat")))
            .as("e"),
          org.apache.spark.sql.graftx.MomentExpressions
            .vectorCrossMoments(col("__cv"), col("__yhat"), dim).as("m"))
          .head()
        val e = r.getDouble(0)
        val mq = r.getSeq[Long](1).toArray
        val mm = Array.tabulate(dim, dim)((i, j) =>
          mq(1 + i * dim + j) / 1e8)
        (e, mm)
      }
      var (e0, mm0) = measure()
      dists += e0
      var mm = mm0
      for (_ <- 1 to alternations) {
        rot = Pca.procrustesRotation(mm)
        val next = rotate(base, "__v", mean, rot, "rvec", "__cv")
          .localCheckpoint()
        org.apache.spark.sql.graftx.CheckpointUtils
          .unpersistLocalCheckpoint(rotated)
        rotated = next
        books = Pq.lloydRounds(trainFrame, books, maxIter = 1)
        val (e, nextMm) = measure()
        dists += e
        mm = nextMm
      }
      org.apache.spark.sql.graftx.CheckpointUtils
        .unpersistLocalCheckpoint(rotated)
      Model(mean, rot, books, dists.toSeq)
    } finally org.apache.spark.sql.graftx.CheckpointUtils
      .unpersistLocalCheckpoint(base)
  }

  /** OPQ-rotated IVFADC model — the learned isometry in FRONT of the
    * coarse quantizer, with the coarse centroids and the residual
    * codebooks both trained in the ROTATED space. This is the standard
    * production ANN stack (an OPQ pre-transform feeding an IVF+PQ index):
    * at equal bits (same cell count, same m×k residual books) the
    * rotation decorrelates the subspaces the residual coder sees, which
    * buys recall with ZERO search-time cost — rotating a query is a
    * dim-kernel projection, and the probe plan is bit-for-bit the
    * [[Pq.ivfAdcTopK]] one (broadcast probe side, cell equi-join, bounded
    * k-heap).
    */
  case class IvfModel(mean: Array[Double], rotation: Array[Array[Double]],
      coarse: Seq[Seq[Double]], codebooks: Seq[Seq[Seq[Double]]])

  /** Search the composed stack: rotate both sides (zero-shuffle
    * projections), then the plain IVFADC probe — identical plan shape,
    * so every scale property of [[Pq.ivfAdcTopK]] carries over verbatim.
    */
  def ivfAdcTopK(corpus: DataFrame, queries: DataFrame, id: String,
      vec: String, model: IvfModel, k: Int, nProbe: Int,
      literalMax: Int = Pq.LiteralCellThreshold): DataFrame =
    Pq.ivfAdcTopK(
      rotate(corpus, vec, model.mean, model.rotation),
      rotate(queries, vec, model.mean, model.rotation),
      id, "rvec", model.coarse, model.codebooks, k, nProbe, literalMax)
}
