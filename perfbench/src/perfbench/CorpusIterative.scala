package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, lit, pmod}
import org.apache.spark.sql.types._

import graft.jobs.PretrainCorpus
import graft.operators.{Clustering, Graph}

/** Training-data operators in one pass: the pretrain corpus's 8-stage batch
  * law through `Pipeline.run` (text screens, exact and MinHash-LSH dedup,
  * decontamination, mixing, packing), then the iterative operators on a
  * seeded skewed graph and vector set (connected components, sampled
  * betweenness, HyperANF, k-means), each forced by one action: a parquet
  * write of its result, or for k-means its centroid collect. The erasure
  * request forgets a seeded vertex set and recomputes the components
  * without it. Outputs are checked against driver-side references ([[Ref]]).
  */
object CorpusIterative extends Workload {
  private val depth = 3
  private val k = 8
  private val ccCap = 20 // Graph.connectedComponents' default maxIter
  private val comps = 5

  def prepare(ctx: Ctx, dir: String, small: Boolean): Prepared = {
    val spark = ctx.spark
    import spark.implicits._
    val (nDocs, nv, nVec) = if (small) (300, 300, 500) else (2000, 1500, 3000)
    val docs = Gen.documents(spark, s"$dir/docs", nDocs, ctx.seed)
    val g = Gen.graph(nv, comps, ctx.seed, rootDepth = 4)
    if (g.diameter >= ccCap) throw new IllegalStateException(
      s"generated graph diameter ${g.diameter} is not below the round cap $ccCap")
    val rnd = new scala.util.Random(ctx.seed)
    val verts = (0L until g.vertices.toLong).toList
    val seeds = rnd.shuffle(verts).take(24).sorted
    val sources = rnd.shuffle(verts).take(48).sorted
    // erase among each community's youngest vertices: the roots and hubs
    // stay, so the erasure needs the same propagation rounds for every seed
    val per = g.vertices / comps
    val erased = rnd.shuffle(verts.filter(_ % per >= per * 7 / 10))
      .take(g.vertices / 50).toSet
    val vecs = Gen.vectors(nVec, 16, k, ctx.seed)
    val sym = g.edges.toSeq.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    spark.createDataFrame(spark.sparkContext.parallelize(
        sym.map { case (a, b) => Row(a, b) }, 4),
      StructType(Seq(StructField("a", LongType), StructField("b", LongType))))
      .write.parquet(s"$dir/graph")
    spark.createDataFrame(spark.sparkContext.parallelize(
        vecs.toSeq.map { case (i, v) => Row(i, v.toSeq) }, 4),
      StructType(Seq(StructField("id", LongType),
        StructField("vec", ArrayType(FloatType, containsNull = false)))))
      .write.parquet(s"$dir/vectors")

    // expected outputs, from the generated inputs alone
    val texts = spark.read.parquet(s"$dir/docs").select("doc_id", "text")
      .as[(Long, String)].collect()
    val s1 = texts.filter(_._2.trim.nonEmpty)
    val s2 = s1.filter(d => Ref.gopherPass(d._2))
    val s3 = s2.filter(d => Ref.language(d._2) == "en")
    val s4 = s3.map(_._2).distinct.length.toLong
    val expected = Seq(s1.length.toLong, s2.length.toLong, s3.length.toLong, s4)
    val refCc = Ref.components(sym)
    val refBc = Ref.betweenness(sym, seeds, depth)
    val refAnf = Ref.neighbourhood(sym, sources, depth)
    val refCcErased = Ref.components(sym.filter(e => !erased(e._1) && !erased(e._2)))

    new Prepared {
      val inputs = s"$docs; ${Gen.docsWhy}. Graph: ${g.vertices} vertices, " +
        s"${g.edges.length} edges, root depth ${g.depth}, diameter ${g.diameter}; ${Gen.graphWhy}. " +
        s"Vectors: $nVec x 16 in $k clusters; ${Gen.vectorsWhy}."
      def pass(ctx: Ctx, p: Pass, out: String): Seq[String] = {
        def in(name: String) = spark.read.parquet(s"$dir/$name")
        def stage(name: String) = spark.read.parquet(s"$out/corpus/$name")
        val spans = Layers.pretrainStages.toMap
        val stages = PretrainCorpus.stages(spark, in("docs"), s"$out/corpus")
          .map(s => s.copy(run = () => ctx.span(spans(s.name))(s.run())))
        p.batch(ctx.span("orchestration.pipeline")(ctx.runPipeline(stages)))

        val graph = in("graph")
        def run(span: String, df: => DataFrame): Unit =
          p.batch(ctx.span(span)(df.write.parquet(s"$out/$span")))
        def result(span: String) = spark.read.parquet(s"$out/$span")
        run("operators.graph.cc", Graph.connectedComponents(graph, "a", "b"))
        run("operators.graph.betweenness", Graph.betweennessInt(graph, "a", "b",
          seeds.toDF("v"), "v", maxDepth = depth))
        run("operators.graph.hyperanf", Graph.hyperAnf(graph, "a", "b",
          sources.toDF("v"), "v", maxDepth = depth))
        val centroids = p.batch(ctx.span("operators.clustering.kmeans")(
          Clustering.fit(in("vectors"), "id", "vec", k)))
        val gone = erased.toSeq
        p.erase(ctx.span("operators.graph.cc_erasure")(Graph.connectedComponents(
          graph.filter(!col("a").isin(gone: _*) && !col("b").isin(gone: _*)),
          "a", "b").write.parquet(s"$out/operators.graph.cc_erasure")))

        // corpus: stages 1-4 and 8 exactly, 5-7 by their contracts
        val counts = Seq("s1_clean", "s2_quality", "s3_lang", "s4_exact", "s5_near",
          "s6_decon", "s7_mix").map(s => stage(s).count())
        ctx.check(counts.take(4) == expected,
          s"stage counts ${counts.take(4)} differ from the expected $expected")
        ctx.check(counts.drop(3).sliding(2).forall(w => w(1) <= w(0)),
          s"stages 4-7 grew: ${counts.drop(3)}")
        val leaked = stage("s6_decon").filter(pmod(col("doc_id"), lit(17)) === 0).count()
        ctx.check(leaked == 0, s"$leaked benchmark-slice documents left after s6")
        val fin = stage("s7_mix").select("doc_id", "source", "text")
          .as[(Long, String, String)].collect().toSeq
        val manifest = stage("s8_manifest").select("source", "n_docs", "n_tokens",
          "n_bins", "n_spanning", "checksum").collect()
          .map(r => r.getString(0) -> (1 to 5).map(r.getLong)).toMap
        ctx.check(manifest == Ref.manifest(fin),
          "s8_manifest differs from packing the s7 corpus on the driver")

        // iterative operators
        def pairs(span: String): Map[Long, Long] =
          result(span).as[(Long, Long)].collect().toMap
        ctx.check(pairs("operators.graph.cc") == refCc,
          "connected components differ from union-find")
        ctx.check(pairs("operators.graph.cc_erasure") == refCcErased,
          "components after erasure differ from union-find")
        val bc = result("operators.graph.betweenness")
          .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
        ctx.check(bc == refBc, s"betweenness differs from budgeted Brandes at " +
          s"${(bc.keySet ++ refBc.keySet).count(v => bc.get(v) != refBc.get(v))} vertices")
        // HLL relative standard error at the default lgK = 9 is 1.04/√512
        val anf = result("operators.graph.hyperanf").as[(Int, Long)].collect().toMap
        ctx.check(anf.keySet == refAnf.keySet && refAnf.forall { case (h, n) =>
          math.abs(anf(h) - n) <= 3 * 1.04 / math.sqrt(512) * n + 1 },
          s"HyperANF $anf is not within 3 standard errors of exact $refAnf")
        ctx.check(centroids.size == k, s"k-means returned ${centroids.size} centroids")
        val assigned = Clustering.assign(in("vectors"), "vec", centroids)
          .select("id", "cell").as[(Long, Int)].collect().toMap
        val wrong = vecs.count { case (i, v) =>
          val (best, score) = Ref.nearest(v, centroids)
          assigned(i) != best &&
            math.abs(Ref.nearest(v, Seq(centroids(assigned(i))))._2 - score) > 1e-9
        }
        ctx.check(wrong == 0, s"$wrong points are not assigned to their nearest centroid")
        Seq(out)
      }
    }
  }
}
