package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Clustering

/** Spherical k-means + SemDeDup on planted fixtures: cluster recovery,
  * bit-reproducibility, keep-first prune semantics, and the zero-shuffle
  * assignment plan.
  */
class ClusteringSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  /** Tight planted clusters around three orthogonal axes: id / 100 names
    * the planted group, the jitter keeps members distinct but far closer
    * to their own axis than to any other.
    */
  private def planted(): org.apache.spark.sql.DataFrame =
    (for {
      g <- 0 until 3
      m <- 0 until 8
    } yield {
      val v = Array.fill(6)(0.01f * ((g * 8 + m) % 5))
      v(g * 2) = 1.0f
      v(g * 2 + 1) = 0.05f * m
      (g * 100L + m, v.toSeq)
    }).toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))

  test("PCA recovers planted variance axes; orthonormal, ordered, deterministic") {
    import graft.operators.Pca
    // variance concentrated on axes 0 (σ≈4) then 1 (σ≈1.4); axes 2..7 noise
    val df = (0 until 240).map { i =>
      val v = Array.fill(8)(0.001f * ((i * 7) % 11 - 5))
      v(0) = ((i % 7) - 3).toFloat * 2f
      v(1) = ((i % 5) - 2).toFloat
      (i.toLong, v.toSeq)
    }.toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    val m1 = Pca.fit(df, "embedding", 8, 3)
    val m2 = Pca.fit(df, "embedding", 8, 3)
    assert(m1.eigenvalues.toSeq == m2.eigenvalues.toSeq &&
      m1.components.map(_.toSeq).toSeq == m2.components.map(_.toSeq).toSeq,
      "fit must be bit-deterministic")
    // top two components align with the planted axes
    assert(math.abs(m1.components(0)(0)) > 0.999, m1.components(0).toSeq.toString)
    assert(math.abs(m1.components(1)(1)) > 0.999, m1.components(1).toSeq.toString)
    // sign convention: dominant entry positive
    assert(m1.components(0)(0) > 0 && m1.components(1)(1) > 0)
    // eigenvalues ordered, and the top-2 carry almost all variance
    assert(m1.eigenvalues.zip(m1.eigenvalues.tail).forall { case (a, b) => a >= b })
    assert(m1.eigenvalues.take(2).sum / m1.eigenvalues.sum > 0.99)
    // orthonormality
    for (i <- 0 until 3; j <- i until 3) {
      val d = m1.components(i).zip(m1.components(j)).map { case (x, y) => x * y }.sum
      assert(math.abs(d - (if (i == j) 1.0 else 0.0)) < 1e-9, s"($i,$j) -> $d")
    }
    // projection is scan-fused: no exchange in the plan, and the projected
    // variance reproduces the eigenvalues the driver-side eigensolve found
    val proj = Pca.project(df, "embedding", m1)
    assert(!proj.queryExecution.executedPlan.toString.contains("Exchange"))
    val vs = proj.select((0 until 3).map(i =>
      sum(col(s"pc$i") * col(s"pc$i")).as(s"v$i")): _*).head()
    for (i <- 0 until 3)
      assert(math.abs(vs.getDouble(i) / 240.0 - m1.eigenvalues(i)) <
        1e-6 * (m1.eigenvalues(i) + 1e-3), s"pc$i variance")
  }

  test("one-pass moment aggregate equals the exploded momentSums bit-for-bit") {
    import graft.operators.Pca
    import org.apache.spark.sql.graftx.MomentExpressions
    // mixed-sign values exercising the round-half-away-from-zero path,
    // spread over several partitions so partial merges are covered
    val df = (0 until 97).map { i =>
      (i.toLong, Array.tabulate(6)(d =>
        (((i * 31 + d * 17) % 23) - 11) * 0.37f))
    }.toDF("vec_id", "embedding").repartition(7)
      .withColumn("embedding", col("embedding").cast("array<float>"))
    val m = df.agg(MomentExpressions
        .vectorMoments(col("embedding").cast("array<double>"), 6).as("m"))
      .head().getSeq[Long](0).toArray
    assert(m(0) == 97L)
    val exploded = Pca.momentSums(df, "embedding", 6).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    for (i <- 0 until 6) assert(m(1 + i) == exploded((i, -1)), s"sx($i)")
    var idx = 1 + 6
    for (i <- 0 until 6; j <- i until 6) {
      assert(m(idx) == exploded((i, j)), s"sxy($i,$j)")
      idx += 1
    }
    // fit from the aggregate ≡ fit path end to end (bit-identical model)
    val viaAgg = Pca.fitFromMoments(m, 6, 2)
    val direct = Pca.fit(df, "embedding", 6, 2)
    assert(viaAgg.eigenvalues.toSeq == direct.eigenvalues.toSeq &&
      viaAgg.components.map(_.toSeq).toSeq == direct.components.map(_.toSeq).toSeq)
  }

  test("moment aggregate mirrors element_at null-element semantics " +
    "(null elements skipped, like the exploded sum)") {
    import graft.operators.Pca
    import org.apache.spark.sql.graftx.MomentExpressions
    // rows whose ARRAYS contain null elements: element_at yields null there,
    // sum() skips it — the aggregate must contribute nothing for that
    // element (and null either operand of a cross term)
    val df = Seq(
      (1L, Seq[java.lang.Double](1.5, null, 3.0)),
      (2L, Seq[java.lang.Double](null, 2.0, null)),
      (3L, Seq[java.lang.Double](4.0, -1.0, 0.5))
    ).toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<double>"))
    val m = df.agg(MomentExpressions
        .vectorMoments(col("embedding"), 3).as("m"))
      .head().getSeq[Long](0).toArray
    val exploded = Pca.momentSums(df, "embedding", 3).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(m(0) == 3L)
    for (i <- 0 until 3)
      assert(m(1 + i) == exploded.getOrElse((i, -1), 0L), s"sx($i)")
    var idx = 1 + 3
    for (i <- 0 until 3; j <- i until 3) {
      assert(m(idx) == exploded.getOrElse((i, j), 0L), s"sxy($i,$j)")
      idx += 1
    }
  }

  test("moment aggregate: over-length rows clamp to dim; near-half rounding " +
    "matches Spark round exactly") {
    import graft.operators.Pca
    import org.apache.spark.sql.graftx.MomentExpressions
    // rows LONGER than the declared dim: the aggregate must mirror
    // momentSums' element_at bound (read dim elements, never overrun)
    val long3 = Seq((1L, Seq(1.5, -2.25, 99.0)), (2L, Seq(0.5, 3.0, -7.0)))
      .toDF("vec_id", "embedding")
    val m = long3.agg(MomentExpressions
        .vectorMoments(col("embedding"), 2).as("m"))
      .head().getSeq[Long](0).toArray
    val exploded = Pca.momentSums(long3, "embedding", 2).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(m(0) == 2L)
    for (i <- 0 until 2) assert(m(1 + i) == exploded((i, -1)))
    assert(m(3) == exploded((0, 0)) && m(4) == exploded((0, 1)) &&
      m(5) == exploded((1, 1)))
    // the JDK-8010430 near-half case: x·1e8 lands one ulp below a half
    // boundary, where floor(x+0.5)'s ADD rounds up but HALF_UP must not
    val tricky = 4.9999999999999994e-9
    val t = Seq((1L, Seq(tricky))).toDF("vec_id", "embedding")
    val viaAgg = t.agg(MomentExpressions.vectorMoments(col("embedding"), 1))
      .head().getSeq[Long](0)(1)
    val viaRound = t.select(
      round(element_at(col("embedding"), 1) * lit(1e8)).cast("long"))
      .head().getLong(0)
    assert(viaAgg == viaRound,
      s"aggregate $viaAgg must equal Spark round $viaRound on the tie hazard")
  }

  test("kmeans recovers planted clusters, deterministically") {
    val df = planted()
    val c1 = Clustering.fit(df, "vec_id", "embedding", 3)
    val c2 = Clustering.fit(df, "vec_id", "embedding", 3)
    assert(c1 == c2, "same data + seeds must fit bit-identical centroids")
    val cells = Clustering.assign(df, "embedding", c1)
      .select((col("vec_id") / 100).cast("int").as("g"), col("cell"))
      .distinct().collect().map(r => (r.getInt(0), r.getInt(1)))
    // every planted group lands in exactly one cell, and no two groups share
    assert(cells.groupBy(_._1).forall(_._2.length == 1), s"split group: ${cells.toSeq}")
    assert(cells.map(_._2).distinct.length == 3, s"merged groups: ${cells.toSeq}")
  }

  test("fit and trainCodebooks free every checkpoint they stage") {
    import graft.operators.{Opq, Pq}
    val df = planted()
    val sc = spark.sparkContext
    // the persisted-RDD registry holds its RDDs weakly, and the context
    // cleaner unpersists one once it is garbage-collected: hold every
    // persisted RDD strongly during the call, so only an explicit
    // unpersist can take one off the registry
    def pinnedBy(call: => Any): Set[Int] = {
      val before = sc.getPersistentRDDs.keySet
      val held = java.util.concurrent.ConcurrentHashMap
        .newKeySet[org.apache.spark.rdd.RDD[_]]()
      val polling = new java.util.concurrent.atomic.AtomicBoolean(true)
      val poller = new Thread(() => while (polling.get()) {
        sc.getPersistentRDDs.values.foreach(held.add)
        Thread.sleep(1)
      })
      poller.start()
      try call finally { polling.set(false); poller.join() }
      (sc.getPersistentRDDs.keySet -- before).toSet
    }
    assert(pinnedBy(Clustering.fit(df, "vec_id", "embedding", 3)).isEmpty,
      "fit")
    assert(pinnedBy(Pq.trainCodebooks(df, "vec_id", "embedding", m = 2,
      k = 3, maxIter = 2)).isEmpty, "trainCodebooks")
    assert(pinnedBy(Opq.fit(df, "vec_id", "embedding", m = 2, k = 3,
      alternations = 2, initIters = 1)).isEmpty, "Opq.fit")
  }

  test("kmeans tolerates k larger than the distinct-point count") {
    val df = Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val cs = Clustering.fit(df, "vec_id", "embedding", 5)
    assert(cs.size == 2) // only 2 rows exist to seed from
    val assigned = Clustering.assign(df, "embedding", cs)
    assert(assigned.select(col("cell")).distinct().count() == 2)
  }

  /** Reference seeding: the distributed max-min loop `fit` ran before its
    * seeding moved to the driver — one ordered scan per seed over the
    * staged frame, ranking every unchosen row by its best cosine (one
    * literal dot per chosen seed) and then its id. `fit(…, maxIter = 0)`
    * returns the seeds, so the two are compared value for value.
    */
  private def scanSeeds(df: org.apache.spark.sql.DataFrame, k: Int)
      : Seq[Seq[Double]] = {
    import graft.functions.VectorFunctions.{dot, l2Norm}
    val base = df.select(col("vec_id").cast("string").as("__id"),
        col("embedding").as("__v"))
      .withColumn("__nrm", l2Norm(col("__v")))
      .localCheckpoint()
    try {
      def vecOf(r: org.apache.spark.sql.Row): Seq[Double] =
        r.getSeq[Any](0).map(_.asInstanceOf[Number].doubleValue).toSeq
      val first = base.orderBy(md5(col("__id")), col("__id"))
        .limit(1).select(col("__v"), col("__id")).collect()
      var centroids: Seq[Seq[Double]] = first.toSeq.map(vecOf)
      var chosen: Set[String] = first.map(_.getString(1)).toSet
      var exhausted = false
      while (!exhausted && centroids.size < k) {
        val bestCos = centroids.map { cvec =>
          val cn = math.sqrt(cvec.map(x => x * x).sum)
          val safe = if (cn == 0.0) 1.0 else cn
          dot(col("__v"), typedlit(cvec)) / (col("__nrm") * lit(safe))
        }
        val next = base.filter(!col("__id").isInCollection(chosen))
          .orderBy(array_max(array(bestCos: _*)).asc, col("__id"))
          .limit(1).select(col("__v"), col("__id")).collect()
        if (next.isEmpty) exhausted = true
        else {
          centroids = centroids :+ vecOf(next(0))
          chosen = chosen + next(0).getString(1)
        }
      }
      centroids
    } finally org.apache.spark.sql.graftx.CheckpointUtils
      .unpersistLocalCheckpoint(base)
  }

  private def seedsOf(df: org.apache.spark.sql.DataFrame, k: Int) =
    Clustering.fit(df, "vec_id", "embedding", k, maxIter = 0)

  test("driver seeding equals the distributed max-min loop: planted " +
      "fixture, duplicate vectors, k above the distinct points and rows") {
    val df = planted()
    for (k <- Seq(1, 3, 8)) assert(seedsOf(df, k) == scanSeeds(df, k), s"k=$k")
    // six rows, two distinct vectors: after both, every row ties at
    // cosine 1 and the id order picks; k = 10 stops at the six rows
    val dups = (1L to 6L).map(i =>
        i -> (if (i % 2 == 0) Seq(1.0f, 0.5f) else Seq(-0.25f, 1.0f)))
      .toDF("vec_id", "embedding")
    for (k <- Seq(2, 4, 10)) {
      val got = seedsOf(dups, k)
      assert(got == scanSeeds(dups, k), s"k=$k")
      assert(got.size == math.min(k, 6), s"k=$k: ${got.size} seeds")
    }
  }

  test("driver seeding breaks best-cosine ties by id in Spark's string " +
      "order (UTF-8 bytes), as the distributed loop does") {
    // id 6 has the smallest md5 and seeds first; 9 and 10 both score
    // cosine 0 against it, and "10" < "9" as strings
    val byNum = Seq(6L -> Seq(1.0f, 0.0f), 9L -> Seq(0.0f, 1.0f),
      10L -> Seq(0.0f, -1.0f)).toDF("vec_id", "embedding")
    assert(seedsOf(byNum, 2) == Seq(Seq(1.0, 0.0), Seq(0.0, -1.0)))
    assert(seedsOf(byNum, 3) == scanSeeds(byNum, 3))
    // "a" seeds first; U+FF21 precedes U+1F600 in UTF-8 bytes, while
    // String.compareTo (UTF-16 units, a surrogate first) orders them the
    // other way round
    val byBytes = Seq("a" -> Seq(1.0f, 0.0f), "\uFF21" -> Seq(0.0f, 1.0f),
      "\uD83D\uDE00" -> Seq(0.0f, -1.0f)).toDF("vec_id", "embedding")
    assert(seedsOf(byBytes, 2) == Seq(Seq(1.0, 0.0), Seq(0.0, 1.0)))
    assert(seedsOf(byBytes, 3) == scanSeeds(byBytes, 3))
  }

  test("fit accepts an all-zero vector: it scores NaN, as in the assign " +
      "kernel, and seeds last") {
    // id 1 seeds first (smallest md5); the zero row 5 is not a seed until
    // every other id is
    val df = Seq(1L -> Seq(1.0f, 0.0f), 2L -> Seq(0.0f, 1.0f),
      3L -> Seq(1.0f, 1.0f), 5L -> Seq(0.0f, 0.0f))
      .toDF("vec_id", "embedding")
    assert(seedsOf(df, 3) == Seq(Seq(1.0, 0.0), Seq(0.0, 1.0), Seq(1.0, 1.0)))
    assert(seedsOf(df, 4).last == Seq(0.0, 0.0))
    val cs = Clustering.fit(df, "vec_id", "embedding", 3)
    assert(cs.size == 3)
    assert(Clustering.assign(df, "embedding", cs).count() == 4)
    assert(Clustering.semDeDupLabels(df, "vec_id", "embedding", k = 3,
      tau = 0.99).count() == 4)
  }

  test("above the seeding sample: every seed is among the sample's " +
      "smallest-md5 rows, and the fit is equal across partitionings") {
    val n = Clustering.SeedSampleRows + 808
    // the row with the largest md5 points away from every other row, so
    // max-min over the whole input would seed it
    def md5Hex(i: Int) = java.security.MessageDigest.getInstance("MD5")
      .digest(i.toString.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    val outlier = (0 until n).maxBy(md5Hex)
    val df = (0 until n).map { i =>
      val v = if (i == outlier) Seq(-1.0f, -1.0f, -1.0f, -1.0f)
        else Seq(1.0f + i % 7, 1.0f + i % 11, 1.0f + i % 13, 0.001f * i)
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    val sampled = df.orderBy(md5(col("vec_id").cast("string")),
        col("vec_id").cast("string"))
      .limit(Clustering.SeedSampleRows).select(col("embedding"))
      .collect().map(_.getSeq[Float](0).map(_.toDouble)).toSet
    val seeds = seedsOf(df, 8)
    assert(seeds.size == 8 && seeds.forall(sampled.contains), seeds)
    val c1 = Clustering.fit(df.repartition(1), "vec_id", "embedding", 8,
      maxIter = 3)
    val c2 = Clustering.fit(df.repartition(7), "vec_id", "embedding", 8,
      maxIter = 3)
    assert(c1 == c2)
  }

  test("fit(k = 8) seeds in one job: staging, one sample, the Lloyd " +
      "rounds") {
    val df = planted()
    val jobs = org.apache.spark.sql.graftx.ListenerHook.countJobs(spark)(
      Clustering.fit(df, "vec_id", "embedding", 8))
    // 8 measured; a scan per seed launched 15
    assert(jobs <= 8, s"Clustering.fit launched $jobs jobs")
  }

  test("assignment is a narrow projection — no exchange in the plan") {
    val df = planted()
    val cs = Clustering.fit(df, "vec_id", "embedding", 3)
    val plan = Clustering.assign(df, "embedding", cs)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"assignment must not shuffle:\n$plan")
  }

  test("semDeDup prunes exactly the non-first members of duplicate groups") {
    // two exact-duplicate trios (ids 10,11,12 and 20,21,22) + two singletons
    val dup1 = Seq(1.0f, 0.2f, 0.0f, 0.0f)
    val dup2 = Seq(0.0f, 0.0f, 1.0f, 0.3f)
    val df = Seq(
      10L -> dup1, 11L -> dup1, 12L -> dup1,
      20L -> dup2, 21L -> dup2, 22L -> dup2,
      30L -> Seq(1.0f, -0.9f, 0.0f, 0.0f),
      40L -> Seq(0.0f, 0.1f, -1.0f, 0.8f)
    ).toDF("vec_id", "embedding")
    val labels = Clustering
      .semDeDupLabels(df, "vec_id", "embedding", k = 2, tau = 0.95)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(labels.filter(_._2 == 1).keySet == Set(11L, 12L, 21L, 22L),
      s"pruned set wrong: $labels")
    // keep-first: the smallest id of each clique survives, as do singletons
    assert(labels.filter(_._2 == 0).keySet == Set(10L, 20L, 30L, 40L))
  }

  test("fat cells auto-sub-block: one-cell corpus, bounded reducer input, " +
      "labels identical to the unblocked run") {
    // adversarial corpus: every row lands in ONE cell (k=1), with planted
    // duplicate pairs (2i, 2i+1) — the exact skew shape that would
    // otherwise put all n² pair work on a single reducer
    val df = (0 until 200).map { i =>
      val v = Array(1.0f, 0.001f * (i / 2), 0.0f, 0.0f)
      (i.toLong, v.toSeq)
    }.toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    val blocked = Clustering.semDeDupLabels(df, "vec_id", "embedding",
      k = 1, tau = 0.9999999, maxIter = 2, fatCellRows = 25)
    val plain = Clustering.semDeDupLabels(df, "vec_id", "embedding",
      k = 1, tau = 0.9999999, maxIter = 2)
    assert(blocked.orderBy("vec_id").collect().toSeq ==
      plain.orderBy("vec_id").collect().toSeq)
    // sub-blocking is actually active: the pair join keys on
    // (cell, blockA, blockB), not the bare cell
    val plan = blocked.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(plan.contains("Left keys [3]: [cell"), plan)
    // and the blocked pair stream is bounded: with G = ceil(200/25) = 8,
    // a block-pair reducer sees ≤ 2 * ceil(n/G) rows, never the whole cell
    val odd = blocked.filter(col("pruned") === 1)
      .select("vec_id").as[Long].collect().toSet
    assert(odd == (0 until 200).filter(_ % 2 == 1).map(_.toLong).toSet,
      s"pruned set wrong: $odd")
  }

  test("semDeDup labels partition the corpus and are deterministic") {
    val df = planted()
    val l1 = Clustering.semDeDupLabels(df, "vec_id", "embedding", 3, 0.999)
      .orderBy("vec_id").collect().toSeq
    val l2 = Clustering.semDeDupLabels(df, "vec_id", "embedding", 3, 0.999)
      .orderBy("vec_id").collect().toSeq
    assert(l1 == l2)
    assert(l1.length == df.count())
    assert(l1.forall(r => r.getInt(2) == 0 || r.getInt(2) == 1))
  }

  /** Two planted blobs + a border point + density-unreachable chain tail:
    * every role and label hand-computed (eps = 1, minPts = 3). Blob A
    * straddles the x = 0 grid boundary, so a pair meeting across adjacent
    * cells (including a NEGATIVE cell index) exercises the 3x3 stencil.
    */
  private def dbscanFixture() = Seq(
    (1L, -0.1, 0.0), // core, cluster 1 (blob A)
    (2L, 0.1, 0.0),  // core, cluster 1
    (3L, 0.0, 0.5),  // core, cluster 1
    (4L, 10.0, 10.0), // core, cluster 4 (blob B)
    (5L, 10.6, 10.0), // core, cluster 4
    (6L, 10.0, 10.6), // core, cluster 4
    (7L, 1.0, 0.0),  // border: one core neighbor (2), not core itself
    (8L, 50.0, 50.0), // noise: isolated
    (9L, 2.1, 0.0)   // noise: only neighbor is the BORDER point 7 —
                     // density-unreachable, the classic DBSCAN subtlety
  ).toDF("id", "x", "y")

  test("dbscan: hand-computed roles and labels on the planted fixture") {
    import graft.operators.Dbscan
    val out = Dbscan.cluster(dbscanFixture(), "id", "x", "y",
        eps2 = 1.0, minPts = 3)
      .orderBy("id")
      .as[(Long, String, Long)].collect().toSeq
    assert(out == Seq(
      (1L, "core", 1L), (2L, "core", 1L), (3L, "core", 1L),
      (4L, "core", 4L), (5L, "core", 4L), (6L, "core", 4L),
      (7L, "border", 1L), (8L, "noise", -1L), (9L, "noise", -1L)))
  }

  test("dbscan: labeling is invariant under partitioning") {
    import graft.operators.Dbscan
    val base = dbscanFixture()
    val a = Dbscan.cluster(base.repartition(1), "id", "x", "y", 1.0, 3)
      .orderBy("id").collect().toSeq
    val b = Dbscan.cluster(base.repartition(13, col("y")), "id", "x", "y",
        1.0, 3)
      .orderBy("id").collect().toSeq
    assert(a == b)
  }

  test("hard negatives: positives excluded before the heap (an identical " +
    "positive never fills a slot), k fills from the rest, symmetric pairs") {
    import graft.operators.Similarity
    // anchor 1 has positive 2 with IDENTICAL vector (cosine 1.0 — would be
    // rank 1 if the exclusion ran after a fixed shortlist)
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(1.0f, 0.0f)),
      (3L, Seq(0.9f, 0.1f)), (4L, Seq(0.5f, 0.5f)),
      (5L, Seq(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val pos = Seq((1L, 2L)).toDF("id_a", "id_b")
    val got = Similarity.hardNegatives(vecs, pos, "vec_id", "embedding", 2)
      .select($"query_id", $"neighbor_id", $"rank")
      .as[(Long, Long, Int)].collect().sorted
    // anchors: both pair members (symmetrized); 2 negatives each, never
    // each other
    assert(got.map(_._1).distinct.toSeq == Seq(1L, 2L))
    assert(!got.contains((1L, 2L, 1)) && !got.exists(r =>
      (r._1 == 1L && r._2 == 2L) || (r._1 == 2L && r._2 == 1L)),
      s"positive returned as negative: ${got.toSeq}")
    // nearest true negative for both anchors is 3, then 4
    assert(got.filter(_._1 == 1L).map(_._2).toSeq == Seq(3L, 4L))
    assert(got.filter(_._1 == 2L).map(_._2).toSeq == Seq(3L, 4L))
  }

}
