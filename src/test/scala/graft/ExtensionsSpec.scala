package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{TextFunctions, VectorFunctions}
import graft.operators.{Dedup, Similarity}

/** Training-data extension operators: dedup sketches, similarity search,
  * text analysis — semantics and cross-implementation agreement.
  */
class ExtensionsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private def docs = spark.read.parquet(s"$dir/documents.parquet")
  private def embeddings = spark.read.parquet(s"$dir/embeddings.parquet")

  test("native ShingleArray matches the Column-DSL formulation exactly") {
    val native = Dedup.docShingleArrays(docs, "doc_id", "text", 3)
      .select($"doc_id", array_sort($"shingles").as("s"))
    val dsl = docs
      .select($"doc_id", TextFunctions.tokens($"text").as("__toks"))
      .select($"doc_id",
        array_sort(Dedup.shingleArrayOfTokens($"__toks", 3)).as("s"))
    assert(native.exceptAll(dsl).isEmpty && dsl.exceptAll(native).isEmpty)
  }

  test("bounded top-k heap aggregate ≡ row_number window, both directions, " +
      "across many partitions") {
    import org.apache.spark.sql.expressions.Window
    import graft.operators.TopK
    // adversarial scores: heavy ties (score = i % 7) force the id
    // tie-break; 40 partitions force real partial-heap merges; k larger
    // than some groups exercises the underfull path
    val rows = (0L until 2000L).map(i => (i % 13, (i % 7).toDouble, i))
    val df = rows.toDF("key", "score", "id").repartition(40)
    for (desc <- Seq(true, false); k <- Seq(1, 5, 300)) {
      val got = TopK.perKey(df, "key", "score", "id", k, desc)
        .as[(Long, Long, Double, Int)].collect().toSet
      val order = if (desc) Seq(col("score").desc, col("id"))
        else Seq(col("score"), col("id"))
      val w = Window.partitionBy(col("key")).orderBy(order: _*)
      val want = df.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select(col("key"), col("id"), col("score"), col("rank"))
        .as[(Long, Long, Double, Int)].collect().toSet
      assert(got === want, s"desc=$desc k=$k")
    }
  }

  test("space-saving summary: exact when under capacity; bounds and " +
      "guaranteed heavy hitters under eviction + partial merges") {
    import org.apache.spark.sql.graftx.SpaceSavingExpressions.spaceSaving
    // zipf-ish stream: key k appears ~(300 / k) times, 120 distinct keys,
    // capacity 16 → heavy eviction; 20 partitions → real partial merges
    val rows = (1 to 120).flatMap(k => Seq.fill(300 / k)(f"k$k%03d"))
    val df = rows.toDF("k").repartition(20)
    val got = df.agg(spaceSaving(col("k"), 16).as("hh"))
      .select(explode(col("hh")).as("e"))
      .select(col("e.key"), col("e.cnt"), col("e.err"))
      .as[(String, Long, Long)].collect()
    assert(got.length == 16)
    val truth = rows.groupBy(identity).view.mapValues(_.size.toLong).toMap
    // the SpaceSaving contract: cnt overestimates, cnt − err lower-bounds
    got.foreach { case (k, cnt, err) =>
      assert(cnt >= truth(k), s"$k: cnt $cnt under true ${truth(k)}")
      assert(cnt - err <= truth(k), s"$k: lower bound broken ($cnt, $err)")
    }
    // every key with true frequency > N/capacity must be present
    val n = rows.size
    val must = truth.filter(_._2 > n.toLong / 16).keySet
    assert(must.subsetOf(got.map(_._1).toSet),
      s"missing guaranteed heavy hitters: ${must -- got.map(_._1).toSet}")
    // exact regime: capacity above distinct-key count ⇒ plain counts
    val exact = df.agg(spaceSaving(col("k"), 256).as("hh"))
      .select(explode(col("hh")).as("e"))
      .select(col("e.key"), col("e.cnt"), col("e.err"))
      .as[(String, Long, Long)].collect()
    assert(exact.forall(_._3 == 0L))
    assert(exact.map(e => e._1 -> e._2).toMap == truth)
  }

  test("native vecDot is bit-identical to the HOF formulation") {
    val diff = embeddings.select(
      VectorFunctions.dot($"embedding", $"embedding").as("a"),
      VectorFunctions.dotHof($"embedding", $"embedding").as("b"))
      .filter($"a" =!= $"b").count()
    assert(diff == 0)
  }

  test("int8 quantization: native dot ≡ HOF, error bounded, all-zero safe") {
    import org.apache.spark.sql.graftx.VectorExpressions
    val q = Similarity.quantizeInt8(embeddings, "vec_id", "embedding")
    // native Int8DotProduct must be bit-identical to the interpreted HOF
    val hof = (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
      aggregate(zip_with(a, b, (x, y) => x.cast("long") * y.cast("long")),
        lit(0L), (acc, v) => acc + v)
    val mism = q.select(
      VectorExpressions.int8Dot($"__q", $"__q").as("n"),
      hof($"__q", $"__q").as("h")).filter($"n" =!= $"h").count()
    assert(mism == 0)
    // per-element dequantization error ≤ scale/2 (round-to-nearest)
    val badElems = q.join(embeddings, "vec_id")
      .select(size(filter(zip_with($"embedding", $"__q", (x, qv) =>
        abs(x.cast("double") - qv.cast("double") * $"__scale") >
          $"__scale" * 0.5 + 1e-12), p => p)).as("bad"))
      .agg(sum($"bad")).as[Long].head()
    assert(badElems == 0)
    // all-zero vector: scale 1, q all zero
    val z = Seq((1L, Array.fill(8)(0.0f))).toDF("vec_id", "embedding")
    val zq = Similarity.quantizeInt8(z, "vec_id", "embedding")
      .select($"__scale", $"__q").as[(Double, Seq[Byte])].head()
    assert(zq._1 == 1.0 / 127.0)
    assert(zq._2.forall(_ == 0))
  }

  test("int8 rerank top-k equals brute-force top-k on the fixture corpus") {
    val qs = embeddings.filter($"vec_id" % 97 === 0)
    val brute = Similarity.bruteForceTopK(embeddings, qs, "vec_id", "embedding", 10)
      .select($"query_id", $"neighbor_id", $"rank")
      .as[(Long, Long, Int)].collect().toSet
    val int8 = Similarity.int8RerankTopK(embeddings, qs, "vec_id", "embedding", 10)
      .select($"query_id", $"neighbor_id", $"rank")
      .as[(Long, Long, Int)].collect().toSet
    assert(brute.nonEmpty && int8 == brute)
  }

  test("randomProjection: sign law matches a Scala recompute; unscaled " +
    "Rademacher JL preserves total norm within the concentration band") {
    // exact per-entry check against an independent in-memory fold
    val v = Array(0.5f, -1.25f, 2.0f, 0.125f, -3.5f)
    val got = Similarity.randomProjection(
      Seq((1L, v)).toDF("vec_id", "embedding"), "vec_id", "embedding", 4)
      .select($"proj").as[Seq[Double]].head()
    val want = (0 until 4).map { k =>
      var acc = 0.0
      for (j <- v.indices) {
        val s = if (java.lang.Long.bitCount(
          ((k + 1) * 73856093L) ^ ((j + 1) * 19349663L)) % 2 == 0) 1.0 else -1.0
        acc += v(j).toDouble * s
      }
      acc
    }
    assert(got == want, s"$got vs $want")
    // E‖Rv‖² = m·‖v‖² for ±1 entries: the corpus-level ratio concentrates
    val m = 8
    val r = Similarity.randomProjection(embeddings, "vec_id", "embedding", m)
      .select(aggregate($"proj", lit(0.0), (a, x) => a + x * x).as("py"))
      .agg(sum($"py")).as[Double].head() /
      (m * embeddings.select(
        aggregate($"embedding", lit(0.0), (a, x) =>
          a + x.cast("double") * x.cast("double")).as("pv"))
        .agg(sum($"pv")).as[Double].head())
    assert(r > 0.7 && r < 1.3, s"norm-preservation ratio $r")
  }

  test("signPack packs sign bits little-endian, any dim, multi-word") {
    // dim 3: signs (+,−,+) → bits 0 and 2 → word 0b101 = 5
    val d3 = Seq(Tuple1(Seq(1.0f, -2.0f, 0.5f))).toDF("v")
      .select(Similarity.signPack($"v", 3).as("s")).as[Seq[Long]].head()
    assert(d3 === Seq(5L))
    // dim 70: all-positive → word0 = all 64 bits, word1 = low 6 bits
    val d70 = Seq(Tuple1(Seq.fill(70)(1.0f))).toDF("v")
      .select(Similarity.signPack($"v", 70).as("s")).as[Seq[Long]].head()
    assert(d70 === Seq(-1L, 63L))
    // zero counts as non-negative (bit set)
    val z = Seq(Tuple1(Seq(0.0f, -0.0f))).toDF("v")
      .select(Similarity.signPack($"v", 2).as("s")).as[Seq[Long]].head()
    assert(z === Seq(3L)) // IEEE −0.0 ≥ 0 in SQL comparison
  }

  test("packed-word hamming ≡ per-dimension sign-mismatch count") {
    val pairs = embeddings.as("x")
      .join(embeddings.as("y"), $"x.vec_id" < $"y.vec_id")
      .limit(500)
      .select(
        Similarity.hammingDist(
          Similarity.signPack($"x.embedding", 64),
          Similarity.signPack($"y.embedding", 64)).as("packed"),
        aggregate(
          zip_with($"x.embedding", $"y.embedding",
            (a, b) => ((a >= 0) =!= (b >= 0)).cast("long")),
          lit(0L), (acc, m) => acc + m).as("loop"))
    assert(pairs.filter($"packed" =!= $"loop").isEmpty)
    assert(pairs.filter($"packed" > 0).count() > 0)
  }

  test("binary rerank: exact scores from the brute universe, sane recall") {
    val qs = embeddings.filter($"vec_id" % 97 === 0)
    val brute = Similarity.bruteForceTopK(embeddings, qs, "vec_id", "embedding", 5)
      .select($"query_id", $"neighbor_id", $"cosine_sim")
      .as[(Long, Long, Double)].collect()
    val bin = Similarity.binaryRerankTopK(embeddings, qs, "vec_id",
        "embedding", 64, 5)
      .select($"query_id", $"neighbor_id", $"cosine_sim")
      .as[(Long, Long, Double)].collect()
    // every rerank score is THE exact cosine for that pair (point-fetch
    // rescore) — check against the full exact pair map
    val exactAll = Similarity.bruteForceTopK(embeddings, qs, "vec_id",
        "embedding", 1000)
      .select($"query_id", $"neighbor_id", $"cosine_sim")
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(bin.forall(r => exactAll((r._1, r._2)) === r._3))
    val recall = (bin.map(r => (r._1, r._2)).toSet &
      brute.map(r => (r._1, r._2)).toSet).size.toDouble / brute.length
    assert(recall >= 0.3, s"binary rerank recall $recall collapsed")
  }

  test("hard negatives: top-k different-label rows, vs driver-side recompute") {
    val qs = embeddings.filter($"vec_id" % 97 === 0)
    val got = Similarity
      .hardNegativesTopK(embeddings, qs, "vec_id", "embedding", "label", 5)
      .select($"query_id", $"neighbor_id", $"rank")
      .as[(Long, Long, Int)].collect().toSet
    // independent mechanism: collect all vectors, same left-fold cosine on
    // the driver, filter label mismatch, sort (cos desc, id), take 5
    val all = embeddings.select($"vec_id", $"embedding", $"label")
      .as[(Long, Seq[Float], Int)].collect()
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val d = a.zip(b).foldLeft(0.0) { case (s, (x, y)) =>
        s + x.toDouble * y.toDouble }
      val na = math.sqrt(a.foldLeft(0.0)((s, x) => s + x.toDouble * x.toDouble))
      val nb = math.sqrt(b.foldLeft(0.0)((s, x) => s + x.toDouble * x.toDouble))
      d / (na * nb)
    }
    val want = (for {
      (qid, qv, ql) <- all if qid % 97 == 0
      ((nid, cs), r) <- all
        .filter { case (nid, _, nl) => nid != qid && nl != ql }
        .map { case (nid, nv, _) => (nid, cos(qv, nv)) }
        .sortBy { case (nid, cs) => (-cs, nid) }
        .take(5).zipWithIndex
    } yield (qid, nid, r + 1)).toSet
    assert(got.nonEmpty && got == want)
    // and no returned neighbor ever shares the query's label
    val labels = all.map(t => t._1 -> t._3).toMap
    assert(got.forall { case (q, n, _) => labels(q) != labels(n) })
  }

  test("minhash LSH pairs equal exact jaccard pairs on planted near-dups") {
    val exact = Dedup.jaccardPairs(docs, "doc_id", "text", 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.minhashLshPairs(docs, "doc_id", "text", 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "testdata should contain planted near-dups")
    assert(lsh == exact)
  }

  test("incremental dedup finds exactly the full-recompute pairs touching the batch") {
    import graft.operators.IncrementalDedup
    val oldDocs = docs.filter($"doc_id" % 3 =!= 0)
    val newDocs = docs.filter($"doc_id" % 3 === 0)
    val idx = IncrementalDedup.bandIndex(oldDocs, "doc_id", "text")
    val inc = IncrementalDedup
      .incrementalPairs(newDocs, "doc_id", "text", idx, oldDocs, 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val full = Dedup.minhashLshPairs(docs, "doc_id", "text", 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      .filter(p => p._1 % 3 == 0 || p._2 % 3 == 0)
    assert(full.nonEmpty, "the mod-3 batch should touch planted near-dups")
    assert(inc == full)
  }

  test("band index appends: index(old) ∪ index(batch) = index(old ∪ batch)") {
    import graft.operators.IncrementalDedup
    val oldDocs = docs.filter($"doc_id" % 3 =!= 0)
    val newDocs = docs.filter($"doc_id" % 3 === 0)
    val appended = IncrementalDedup.bandIndex(oldDocs, "doc_id", "text")
      .unionByName(IncrementalDedup.bandIndex(newDocs, "doc_id", "text"))
    val whole = IncrementalDedup.bandIndex(docs, "doc_id", "text")
    assert(appended.exceptAll(whole).isEmpty && whole.exceptAll(appended).isEmpty)
  }

  test("containment catches subsumption that symmetric jaccard misses") {
    // doc 1 (8 tokens) quoted whole inside doc 2 (38 tokens): every shingle
    // of 1 occurs in 2, but J = |A|/|B| ≈ 0.17 — below any useful τ
    val inner = "alpha beta gamma delta epsilon zeta eta theta"
    val outer = "intro words here " + inner + " " +
      (1 to 24).map(i => s"filler$i").mkString(" ")
    val corpus = Seq((1L, inner), (2L, outer), (3L, "unrelated stuff entirely here"))
      .toDF("doc_id", "text")
    val cont = Dedup.containmentPairs(corpus, "doc_id", "text", 0.9)
      .as[(Long, Long, Double)].collect().toSeq
    assert(cont == Seq((1L, 2L, 1.0)),
      s"inner doc must be fully contained in outer, one direction only: $cont")
    val jac = Dedup.jaccardPairs(corpus, "doc_id", "text", 0.5)
      .as[(Long, Long, Double)].collect()
    assert(jac.isEmpty, "jaccard at τ=0.5 must miss the subsumed pair")
    // hashed shingle keys share the exact result
    val h = Dedup.containmentPairs(corpus, "doc_id", "text", 0.9,
      hashShingles = true).as[(Long, Long, Double)].collect().toSeq
    assert(h == cont)
  }

  test("hashShingles variant of jaccardPairs gives the same pairs") {
    val s = Dedup.jaccardPairs(docs, "doc_id", "text", 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val h = Dedup.jaccardPairs(docs, "doc_id", "text", 0.5, hashShingles = true)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(h == s)
  }

  // --- skew-stress: the caps must BIND on pathological corpora ---

  test("minhash maxBucketSize drops degenerate buckets") {
    // 50 identical docs: every band hashes to one bucket of size 50
    val degenerate = (1L to 50L).map(i => (i, "all documents are exactly alike here"))
      .toDF("doc_id", "text")
    val unbounded = Dedup.minhashLshPairs(degenerate, "doc_id", "text", 0.9)
    assert(unbounded.count() == 50L * 49 / 2)
    val bounded = Dedup.minhashLshPairs(degenerate, "doc_id", "text", 0.9,
      maxBucketSize = 10)
    assert(bounded.count() == 0)
  }

  test("native HyperplaneBands is bit-identical to the HOF formulation") {
    val diff = embeddings.select(
      VectorFunctions.hyperplaneBandBuckets($"embedding", 4, 6).as("a"),
      VectorFunctions.hyperplaneBandBucketsHof($"embedding", 4, 6).as("b"))
      .filter($"a" =!= $"b").count()
    assert(diff == 0)
    val sigDiff = embeddings.select(
      VectorFunctions.hyperplaneSignature($"embedding", 12).as("a"),
      VectorFunctions.hyperplaneSignatureHof($"embedding", 12).as("b"))
      .filter($"a" =!= $"b").count()
    assert(sigDiff == 0)
  }

  test("native SimHash64 is bit-identical to the HOF formulation") {
    val diff = docs.select(
      Dedup.simhash64($"text").as("a"),
      Dedup.simhash64Hof($"text").as("b"))
      .filter($"a" =!= $"b").count()
    assert(diff == 0)
  }

  test("identical texts have simhash hamming distance 0; near-dups small") {
    val dup = Seq((1L, "spark joins tables fast"), (2L, "spark joins tables fast"),
      (3L, "completely different words entirely here"))
      .toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(dup, "doc_id", "text", maxHamming = 0)
      .as[(Long, Long, Long)].collect()
    assert(pairs.toSeq == Seq((1L, 2L, 0L)))
  }

  test("rolling fingerprint is order-sensitive; md5 fingerprint is not") {
    val df = Seq((1L, "alpha beta gamma"), (2L, "gamma beta alpha")).toDF("id", "text")
    val roll = df.select(TextFunctions.rollingFingerprint($"text")).as[Long].collect()
    assert(roll(0) != roll(1))
    val norm = Seq((1L, "Alpha,  BETA gamma!"), (2L, "alpha beta gamma"))
      .toDF("id", "text")
      .select(TextFunctions.fingerprintMd5($"text")).as[String].collect()
    assert(norm(0) == norm(1))
  }

  test("blocked cosine near-dup is bit-identical to the BNLJ exact baseline") {
    val exact = Similarity.cosineNearDupPairs(embeddings, "vec_id", "embedding", 0.4)
      .as[(Long, Long, Double)].collect().toSet
    val blocked = Similarity.cosineNearDupBlocked(embeddings, "vec_id", "embedding",
      0.4, blocks = 4)
      .as[(Long, Long, Double)].collect().toSet
    assert(exact.nonEmpty)
    assert(blocked == exact)
  }

  test("brute-force topk: rank 1 is the most similar non-self vector") {
    val q = embeddings.filter($"vec_id" === 0)
    val got = Similarity.bruteForceTopK(embeddings, q, "vec_id", "embedding", 5)
      .orderBy($"rank").as[(Long, Long, Double, Int)].collect()
    assert(got.length == 5)
    assert(got.map(_._3).toSeq == got.map(_._3).sorted.reverse.toSeq)
    assert(!got.exists(_._2 == 0L), "self must be excluded")
  }

  test("LSH topk achieves reasonable recall of brute-force top-3") {
    // This synthetic corpus has near-RANDOM vectors (max pairwise cosine
    // ≈0.5), the hardest case for hyperplane LSH — use coarse buckets
    // (2^4) so the probability statement is testable at 50-500 vectors.
    val qs = embeddings.filter($"vec_id" % 97 === 0)
    val exact = Similarity.bruteForceTopK(embeddings, qs, "vec_id", "embedding", 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.lshTopK(embeddings, qs, "vec_id", "embedding", 3,
      bits = 4, multiProbe = true)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.3, s"LSH recall $recall collapsed — bucketing broken?")
  }

  test("LSH topk similarities are genuine cosines (subset of brute-force universe)") {
    val qs = embeddings.filter($"vec_id" % 97 === 0)
    val all = Similarity.bruteForceTopK(embeddings, qs, "vec_id", "embedding",
      k = 10000)
      .select("query_id", "neighbor_id", "cosine_sim")
      .as[(Long, Long, Double)].collect()
      .map { case (q, n, s) => (q, n) -> s }.toMap
    val lsh = Similarity.lshTopK(embeddings, qs, "vec_id", "embedding", 3,
      bits = 4, multiProbe = true)
      .select("query_id", "neighbor_id", "cosine_sim")
      .as[(Long, Long, Double)].collect()
    assert(lsh.nonEmpty)
    lsh.foreach { case (q, n, s) => assert(all((q, n)) == s) }
  }

  test("IVF topk returns k ranked neighbors per query from the assigned cell") {
    val qs = embeddings.filter($"vec_id" % 97 === 0)
    val got = Similarity.ivfTopK(embeddings, qs, "vec_id", "embedding", "label",
      k = 3, dim = 64)
    val n = qs.count()
    assert(got.count() == 3 * n)
    assert(got.filter($"query_id" === $"neighbor_id").count() == 0)
  }

  test("IVF nProbe widens the searched corpus: recall is monotone in nProbe") {
    val qs = embeddings.filter($"vec_id" % 97 === 0)
    val exact = Similarity.bruteForceTopK(embeddings, qs, "vec_id", "embedding", 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    def recall(nProbe: Int): Double = {
      val got = Similarity.ivfTopK(embeddings, qs, "vec_id", "embedding",
        "label", k = 3, dim = 64, nProbe = nProbe)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      (exact & got).size.toDouble / exact.size
    }
    val r1 = recall(1); val r3 = recall(3); val rAll = recall(10)
    assert(r1 <= r3 && r3 <= rAll)
    assert(rAll == 1.0, s"probing every cell must recover exact top-k, got $rAll")
  }

  test("aho-corasick counts every overlapping occurrence ≡ naive sliding " +
    "count, incl. nested and shared-suffix patterns") {
    import org.apache.spark.sql.graftx.AhoCorasickExpressions.multiPatternCounts
    def naive(text: String, p: String): Long =
      (0 to text.length - p.length)
        .count(i => text.regionMatches(i, p, 0, p.length)).toLong
    val pats = Seq("he", "she", "his", "hers", "aa", "a", "ushers")
    val texts = Seq("ushers", "aaaa", "ahishers", "xyz", "aaha aa shehe",
      "hehehe", "a")
    val got = texts.toDF("t")
      .select($"t", multiPatternCounts($"t", pats).as("c"))
      .as[(String, Seq[Long])].collect().toMap
    for (t <- texts; (p, i) <- pats.zipWithIndex)
      assert(got(t)(i) == naive(t, p), s"text='$t' pat='$p'")
    // classic fixture sanity: "ushers" fires she, he, hers, ushers once
    assert(got("ushers") == Seq(1L, 1L, 0L, 1L, 0L, 0L, 1L))
    // overlap: "aaaa" has 3 overlapping "aa", 4 "a"
    assert(got("aaaa")(4) == 3L && got("aaaa")(5) == 4L)
    // null text → null result
    val n = Seq((1, null: String)).toDF("id", "t")
      .select(multiPatternCounts($"t", pats).as("c")).collect()
    assert(n.head.isNullAt(0))
  }

  test("language guess picks the profile with most stopword hits") {
    val df = Seq(
      (1L, "the cat and the dog of the house"),
      (2L, "el gato y la casa de los perros en madrid"),
      (3L, "xyzzy qwerty plugh")).toDF("id", "text")
    val got = df.select($"id", TextFunctions.langGuess($"text")).as[(Long, String)]
      .collect().toMap
    assert(got(1L) == "en" && got(2L) == "es" && got(3L) == "und")
  }

  test("quality score is in [0,1] and higher for natural-looking text") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and runs into the calm woods again today"),
      (2L, "@@@@ #### !!!! %%%% ^^^^ &&&& **** (((( )))) $$$$")).toDF("id", "text")
    val got = df.select($"id", TextFunctions.qualityScore($"text")).as[(Long, Double)]
      .collect().toMap
    assert(got.values.forall(v => v >= 0.0 && v <= 1.0))
    assert(got(1L) > got(2L))
  }

  test("unicode normalize: CJK/accented text survives; ASCII chain is blind") {
    val rows = Seq(
      (1L, "Café «DÉJÀ Vu»!!"), // accented Latin, punct, case
      (2L, "数据 处理 引擎"), // CJK
      (3L, "Привет МИР 42"), // Cyrillic + digits
      (4L, "Café")) // decomposed e + combining acute
      .toDF("id", "t")
    val got = rows.select($"id",
      TextFunctions.normalizeUnicode($"t").as("u"),
      TextFunctions.normalize($"t").as("a")).as[(Long, String, String)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L)._1 == "café déjà vu")
    assert(got(2L)._1 == "数据 处理 引擎")
    assert(got(3L)._1 == "привет мир 42")
    // NFKC composes the decomposed form, so it fingerprints like the composed one
    assert(got(4L)._1 == "café")
    // the ASCII chain strips every non-[a-z0-9] char: CJK/Cyrillic vanish
    assert(got(1L)._2 == "caf dj vu" || got(1L)._2 == "caf dj vu".trim)
    assert(got(2L)._2.isEmpty && got(3L)._2 == "42")
  }

  test("unicode normalize NFKC folds compatibility forms") {
    val rows = Seq(
      (1L, "ﬁle"), // ﬁ ligature → "file" under NFKC
      (2L, "ＡＢＣ １２"), // full-width ＡＢＣ １２ → abc 12
      (3L, "x²")) // superscript two → x2
      .toDF("id", "t")
    val got = rows.select($"id", TextFunctions.normalizeUnicode($"t"))
      .as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "file", 2L -> "abc 12", 3L -> "x2"))
  }

  test("unicode shingles/fingerprints dedup jittered non-ASCII variants") {
    import org.apache.spark.sql.graftx.VectorExpressions
    val clean = "数据 café über straße tokyo"
    val dirty = "¡« 数据  CAFÉ ÜBER straße TOKYO »!?"
    val other = "数据 café über straße osaka"
    val df = Seq((1L, clean), (2L, dirty), (3L, other)).toDF("id", "t")
    val fp = df.select($"id",
      TextFunctions.fingerprintMd5Unicode($"t").as("fp"),
      array_sort(VectorExpressions.shingleArr($"t", 2, unicode = true)).as("sh"))
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getSeq[String](2)))).toMap
    assert(fp(1L)._1 == fp(2L)._1 && fp(1L)._1 != fp(3L)._1) // md5 fingerprint
    assert(fp(1L)._2 == fp(2L)._2 && fp(1L)._2 != fp(3L)._2) // shingle set
  }

  test("SQL-registered functions plan the same expressions as the Column DSL") {
    import org.apache.spark.sql.graftx.VectorExpressions
    docs.createOrReplaceTempView("__ext_docs")
    embeddings.createOrReplaceTempView("__ext_embs")

    val sqlText = spark.sql(
      """SELECT doc_id, simhash64(text) AS sh, rolling_fingerprint(text) AS fp,
        |  minhash_signature(shingle_array(text, 3), 32) AS mh
        |FROM __ext_docs""".stripMargin)
    val dslText = docs.select($"doc_id",
      VectorExpressions.simhash($"text").as("sh"),
      VectorExpressions.rollingFp($"text").as("fp"),
      VectorExpressions.minhash(
        VectorExpressions.shingleArr($"text", 3), 32).as("mh"))
    assert(sqlText.exceptAll(dslText).isEmpty && dslText.exceptAll(sqlText).isEmpty)

    val sqlVec = spark.sql(
      """SELECT vec_id, vec_dot(embedding, embedding) AS d,
        |  hyperplane_bands(embedding, 4, 8) AS hb
        |FROM __ext_embs""".stripMargin)
    val dslVec = embeddings.select($"vec_id",
      VectorExpressions.vecDot($"embedding", $"embedding").as("d"),
      VectorExpressions.hyperplaneBands($"embedding", 4, 8).as("hb"))
    assert(sqlVec.exceptAll(dslVec).isEmpty && dslVec.exceptAll(sqlVec).isEmpty)

    // a non-literal where an integer literal is required must fail loudly
    intercept[Exception] {
      spark.sql("SELECT minhash_signature(shingle_array(text, 3), doc_id) FROM __ext_docs")
    }

    val sqlAc = spark.sql(
      """SELECT doc_id, aho_corasick_counts(text, array('the', 'a a')) AS c
        |FROM __ext_docs""".stripMargin)
    val dslAc = docs.select($"doc_id",
      org.apache.spark.sql.graftx.AhoCorasickExpressions
        .multiPatternCounts($"text", Seq("the", "a a")).as("c"))
    assert(sqlAc.exceptAll(dslAc).isEmpty && dslAc.exceptAll(sqlAc).isEmpty)
    intercept[Exception] {
      spark.sql("SELECT aho_corasick_counts(text, array(text)) FROM __ext_docs")
    }
  }

  test("char-presence mask prefilter is recall-safe: lev ≤ k ⟹ ≤ 2k mask bits flip") {
    // d_fuzzy_match rejects candidates with popcount(mask_a ^ mask_b) > 4
    // before scoring at maxEdits 2 — sound because one edit changes the
    // presence SET of at most 2 letters. Prove the implication on randomized
    // edit chains rather than trusting the comment: for every pair within
    // lev ≤ k (built-in as ground truth), the mask xor must stay ≤ 2k.
    val rnd = new scala.util.Random(7)
    def mask(s: String): Long =
      s.toLowerCase.filter(c => c >= 'a' && c <= 'z')
        .foldLeft(0L)((acc, c) => acc | (1L << (c - 'a')))
    val alpha = "abcdefghijklmnopqrstuvwxyz"
    val pairs = (1 to 500).map { _ =>
      val s = (0 until 4 + rnd.nextInt(10)).map(_ => alpha(rnd.nextInt(26))).mkString
      var t = s
      (0 until rnd.nextInt(4)).foreach { _ =>
        if (t.nonEmpty) {
          val p = rnd.nextInt(t.length)
          rnd.nextInt(3) match {
            case 0 => t = t.substring(0, p) + t.substring(math.min(p + 1, t.length))
            case 1 => t = t.substring(0, p) + alpha(rnd.nextInt(26)) + t.substring(p)
            case 2 => t = t.substring(0, p) + alpha(rnd.nextInt(26)) +
              t.substring(math.min(p + 1, t.length))
          }
        }
      }
      (s, t)
    }
    val viol = pairs.toDF("a", "b")
      .select(levenshtein($"a", $"b").as("d"), $"a", $"b")
      .collect()
      .count { r =>
        val d = r.getInt(0)
        val bits = java.lang.Long.bitCount(mask(r.getString(1)) ^ mask(r.getString(2)))
        bits > 2 * d // any such row would be a candidate the prefilter loses
      }
    assert(viol == 0, "mask prefilter would have rejected a true near-match")
  }

  test("native bounded levenshtein ≡ built-in at every bound, all regimes") {
    import org.apache.spark.sql.graftx.EditDistanceExpressions
    val rnd = new scala.util.Random(42)
    val alphabets = Seq("abcd", "abcdefghijklmnopqrstuvwxyz", "aé中ß日x")
    def randStr(maxLen: Int): String = {
      val alpha = alphabets(rnd.nextInt(alphabets.size))
      (0 until rnd.nextInt(maxLen)).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
    }
    // near pairs (≤3 random edits of a base) + far pairs (independent draws):
    // exercises prefix/suffix trim, band early-exit, and the non-ASCII
    // code-point fallback in one corpus
    val pairs = (1 to 400).map { _ =>
      val s = randStr(16)
      val t =
        if (rnd.nextBoolean() && s.nonEmpty) {
          var x = s
          (0 until rnd.nextInt(4)).foreach { _ =>
            if (x.nonEmpty) {
              val p = rnd.nextInt(x.length)
              rnd.nextInt(3) match {
                case 0 => x = x.substring(0, p) + x.substring(math.min(p + 1, x.length))
                case 1 => x = x.substring(0, p) + "q" + x.substring(p)
                case 2 => x = x.substring(0, p) + "中" + x.substring(math.min(p + 1, x.length))
              }
            }
          }
          x
        } else randStr(16)
      (s, t)
    }
    val df = pairs.toDF("a", "b").cache()
    for (k <- Seq(0, 1, 2, 3, 7)) {
      val bad = df.select(
        EditDistanceExpressions.boundedLev($"a", $"b", k).as("n"),
        when(levenshtein($"a", $"b") <= k, levenshtein($"a", $"b"))
          .otherwise(lit(-1)).as("e"))
        .filter($"n" =!= $"e").count()
      assert(bad == 0, s"bound=$k disagrees with the built-in")
    }
    df.unpersist()
    // null propagation + SQL registration
    val viaSql = spark.sql(
      "SELECT bounded_levenshtein('kitten', 'sitting', 3) AS d").as[Int].head()
    assert(viaSql == 3)
    val nul = Seq((Option.empty[String], "x")).toDF("a", "b")
      .select(EditDistanceExpressions.boundedLev($"a", $"b", 2)).collect()
    assert(nul.head.isNullAt(0))
  }
}
