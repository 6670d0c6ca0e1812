package perfbench

import scala.collection.mutable

/** Driver-side references the corpus_iterative outputs are checked
  * against: plain sequential code over the generated inputs, written from
  * the published definitions, sharing no code with the engine.
  */
object Ref {

  private def adjacency(und: Seq[(Long, Long)]): Map[Long, Array[Long]] = {
    val m = mutable.HashMap[Long, mutable.ArrayBuffer[Long]]()
    und.foreach { case (a, b) =>
      m.getOrElseUpdate(a, mutable.ArrayBuffer()) += b
      m.getOrElseUpdate(b, mutable.ArrayBuffer()) += a
    }
    m.map { case (k, v) => k -> v.distinct.toArray.sorted }.toMap
  }

  /** Union-find components: vertex → minimum vertex id of its component. */
  def components(und: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var y = x
      while (parent(y) != r) { val n = parent(y); parent(y) = r; y = n }
      r
    }
    und.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.map(v => v -> find(v)).toMap
  }

  /** Largest BFS distance from `s`. */
  def eccentricity(und: Seq[(Long, Long)], s: Long): Int =
    bfs(adjacency(und), s, Int.MaxValue).values.max

  /** Largest BFS eccentricity over all vertices (exact; small graphs). */
  def diameter(und: Seq[(Long, Long)]): Int = {
    val adj = adjacency(und)
    adj.keys.iterator.map(s => bfs(adj, s, Int.MaxValue).values.max).max
  }

  private def bfs(adj: Map[Long, Array[Long]], s: Long,
      maxDepth: Int): Map[Long, Int] = {
    val dist = mutable.HashMap[Long, Int](s -> 0)
    var frontier = mutable.ArrayBuffer(s)
    var d = 0
    while (frontier.nonEmpty && d < maxDepth) {
      d += 1
      val next = mutable.ArrayBuffer[Long]()
      frontier.foreach(u => adj.getOrElse(u, Array.empty[Long]).foreach { v =>
        if (!dist.contains(v)) { dist(v) = d; next += v }
      })
      frontier = next
    }
    dist.toMap
  }

  /** Budgeted sampled betweenness in the engine's published integer law:
    * BFS from each seed to `maxDepth` layers, σ counts shortest paths, and
    * dependencies accumulate backward in micro-units per child:
    * tq(u) = ⌊(10⁶ + δq(u))·10⁶ / σ(u)⌋ and δq(v) = ⌊σ(v)·Σ tq / 10⁶⌋,
    * with δq = 0 on the deepest layer. Output covers layers
    * 1..maxDepth−1: vertex → (seeds reaching it, Σ δq).
    */
  def betweenness(symEdges: Seq[(Long, Long)], seeds: Seq[Long],
      maxDepth: Int, unit: Long = 1000000L): Map[Long, (Long, Long)] = {
    val adj = symEdges.groupBy(_._1).map { case (k, v) =>
      k -> v.map(_._2).distinct.toArray }
    val acc = mutable.HashMap[Long, (Long, Long)]()
    seeds.distinct.foreach { s =>
      val dist = mutable.HashMap[Long, Int](s -> 0)
      val sigma = mutable.HashMap[Long, Long](s -> 1L)
      val layers = mutable.ArrayBuffer(Seq(s))
      var d = 0
      while (d < maxDepth && layers(d).nonEmpty) {
        val nextLayer = mutable.LinkedHashSet[Long]()
        layers(d).foreach { u =>
          adj.getOrElse(u, Array.empty[Long]).foreach { v =>
            if (!dist.contains(v) || dist(v) == d + 1) {
              if (!dist.contains(v)) { dist(v) = d + 1; nextLayer += v }
              sigma(v) = sigma.getOrElse(v, 0L) + sigma(u)
            }
          }
        }
        layers += nextLayer.toSeq
        d += 1
      }
      val delta = mutable.HashMap[Long, Long]().withDefaultValue(0L)
      for (layer <- (layers.size - 2) to 1 by -1) {
        layers(layer).foreach { v =>
          val children = adj.getOrElse(v, Array.empty[Long])
            .filter(u => dist.get(u).contains(layer + 1))
          val sumTq = children.map { u =>
            (unit + delta(u)) * unit / sigma(u) }.sum
          delta(v) = sigma(v) * sumTq / unit
        }
      }
      for (layer <- 1 until math.min(maxDepth, layers.size); v <- layers(layer)) {
        val (n, bc) = acc.getOrElse(v, (0L, 0L))
        acc(v) = (n + 1, bc + delta(v))
      }
    }
    acc.toMap
  }

  /** Exact neighbourhood function from `sources`: N(h) for h ∈ [0, maxDepth]
    * = number of (source, vertex) pairs within h hops along `edges`.
    */
  def neighbourhood(edges: Seq[(Long, Long)], sources: Seq[Long],
      maxDepth: Int): Map[Int, Long] = {
    val adj = edges.groupBy(_._1).map { case (k, v) =>
      k -> v.map(_._2).distinct.toArray }
    val counts = Array.fill(maxDepth + 1)(0L)
    sources.distinct.foreach { s =>
      bfs(adj, s, maxDepth).values.foreach(d =>
        (d to maxDepth).foreach(h => counts(h) += 1))
    }
    counts.zipWithIndex.map { case (c, h) => h -> c }.toMap
  }

  private val stopwords =
    Set("the", "a", "an", "and", "of", "to", "in", "is", "it", "that")
  private val profiles = Seq(
    "en" -> Set("the", "a", "and", "of", "to", "in", "is"),
    "es" -> Set("el", "la", "los", "de", "en", "y", "que"),
    "fr" -> Set("le", "les", "et", "des", "du", "un", "une"),
    "de" -> Set("der", "die", "das", "und", "ein", "mit", "von"),
    "zh" -> Set("de", "shi", "bu", "le", "ren", "wo", "zai"))

  private def words(text: String): Array[String] = {
    val t = text.trim
    if (t.isEmpty) Array.empty else t.split("\\s+")
  }

  /** The Gopher quality rules as published (Rae et al. 2021), in the
    * integer form: 20..100000 words, mean word length 2..12, ≥ 80% of
    * words with a letter, a stopword, and no bigram over 10% of words.
    */
  def gopherPass(text: String): Boolean = {
    val w = words(text)
    val n = w.length.toLong
    val chars = w.map(_.length.toLong).sum
    val alpha = w.count(_.exists(c => c >= 'a' && c <= 'z'))
    val topBigram = if (n < 2) 0
      else w.sliding(2).map(_.mkString(" ")).toSeq.groupBy(identity)
        .values.map(_.size).max
    n >= 20 && n <= 100000 && chars >= 2 * n && chars <= 12 * n &&
      alpha * 10 >= 8 * n && w.exists(stopwords) && topBigram * 10 <= n
  }

  /** Stopword-profile language guess for lower-case ASCII text: the
    * profile with the most hits, ties to the earlier profile, none → und.
    */
  def language(text: String): String = {
    val w = words(text)
    val scores = profiles.map { case (l, ws) => l -> w.count(ws) }
    val best = scores.map(_._2).max
    if (best == 0) "und" else scores.find(_._2 == best).get._1
  }

  /** Per-source shard manifest of a final corpus under concat-and-chunk
    * packing in doc_id order: source → (docs, tokens, bins, documents
    * spanning a bin boundary, Σ of the first 32 bits of md5("id:text")).
    */
  def manifest(docs: Seq[(Long, String, String)],
      budget: Int = 512): Map[String, Seq[Long]] =
    docs.groupBy(_._2).map { case (source, ds) =>
      var cum = 0L
      var bins, spanning, checksum = 0L
      ds.sortBy(_._1).foreach { case (id, _, text) =>
        val n = words(text).length.toLong
        val first = cum / budget
        cum += n
        val last = math.max((cum - 1) / budget, first)
        bins = math.max(bins, last + 1)
        if (last > first) spanning += 1
        val md5 = java.security.MessageDigest.getInstance("MD5")
          .digest(s"$id:$text".getBytes("UTF-8"))
        checksum += md5.take(4).foldLeft(0L)((h, b) => (h << 8) | (b & 0xff))
      }
      source -> Seq(ds.size.toLong, cum, bins, spanning, checksum)
    }

  /** Index of the max-cosine centroid, ties to the smaller index. */
  def nearest(v: Array[Float], centroids: Seq[Seq[Double]]): (Int, Double) = {
    val nv = math.sqrt(v.map(x => x.toDouble * x).sum)
    centroids.zipWithIndex.map { case (c, j) =>
      val nc = math.sqrt(c.map(x => x * x).sum)
      val dot = v.indices.map(i => v(i).toDouble * c(i)).sum
      (j, dot / (nv * (if (nc == 0) 1.0 else nc)))
    }.maxBy(t => (t._2, -t._1))
  }
}
