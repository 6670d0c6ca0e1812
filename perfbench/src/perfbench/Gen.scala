package perfbench

import java.io.{File, PrintWriter}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. Every input of every workload derives from the
  * run's seed; the engine only ever sees the files or frames written here.
  * Each generator also returns the expected counts the output checks use,
  * computed on the driver from the generated rows (never from engine
  * output), and states why its input has the shape it has.
  */
object Gen {

  // ---------------------------------------------------------------- txns

  /** One landed transaction set.
    *
    * `clean` is every transaction id that must reach silver, with its
    * customer; `dirty` counts the injected dirty lines per kind. Dirty rows
    * are chosen so the engine's arbitrary dedup can never change a total:
    * duplicates are byte-identical copies of clean lines, and every other
    * dirty row carries a transaction id no clean row uses.
    */
  final case class Landing(files: Int, lines: Int,
      clean: Map[String, String], dirty: Map[String, Int]) {
    def cleanCount: Long = clean.size.toLong
    def cleanOf(customers: Set[String]): Long =
      clean.values.count(customers).toLong
  }

  val landingWhy: String =
    "TransactionGen rows landed 100 per JSONL file as the reference lands " +
      "them; byte-identical duplicates, a null in each required column, " +
      "amount <= 0, unparseable dates and malformed lines exercise every " +
      "cleaning rule without making the dedup choice matter"

  /** Base rows from the engine's own generator (set-up only). */
  private def baseRows(spark: SparkSession, n: Int, seed: Long): Array[Row] =
    graft.datagen.TransactionGen.generate(spark, n.toLong,
      seed = (seed & 0x7fffffff).toInt).collect()

  private def q(s: String): String =
    if (s == null) "null" else "\"" + s.replace("\"", "\\\"") + "\""

  private def jsonLine(id: String, cust: String, amount: java.lang.Double,
      date: String, r: Row): String =
    s"""{"transaction_id":${q(id)},"customer_id":${q(cust)},""" +
      s""""amount":${if (amount == null) "null" else amount.toString},""" +
      s""""transaction_date":${q(date)},"transaction_type":${q(r.getString(4))},""" +
      s""""merchant_id":${q(r.getString(5))},"payment_method":${q(r.getString(6))},""" +
      s""""currency":${q(r.getString(7))},"status":${q(r.getString(8))},""" +
      s""""category":${q(r.getString(9))}}"""

  /** Land `n` clean transactions plus `dirtyShare` of dirty lines as JSONL
    * under `dir`, 100 lines per file. Ids are `txn_<tag>_<i>`, so landings
    * with distinct tags never share an id. With `lateShare` < 1 the
    * non-late rows are moved to `newDay` (yyyy-MM-dd) and the late rows
    * keep their TransactionGen date in the January window, i.e. fall into
    * older partitions.
    */
  def transactions(spark: SparkSession, dir: String, n: Int, seed: Long,
      tag: String, dirtyShare: Double, lateShare: Double = 1.0,
      newDay: String = ""): Landing = {
    val rnd = new java.util.Random(seed * 31 + tag.hashCode)
    val rows = baseRows(spark, n, seed * 7919 + tag.hashCode)
    val clean = mutable.LinkedHashMap[String, String]()
    val lines = mutable.ArrayBuffer[String]()
    rows.zipWithIndex.foreach { case (r, i) =>
      val id = s"txn_${tag}_$i"
      val date =
        if (lateShare >= 1.0 || rnd.nextDouble() < lateShare) r.getString(3)
        else f"$newDay ${rnd.nextInt(24)}%02d:${rnd.nextInt(60)}%02d:${rnd.nextInt(60)}%02d"
      clean(id) = r.getString(1)
      lines += jsonLine(id, r.getString(1), r.getDouble(2), date, r)
    }
    val kinds = Seq("duplicate", "null_transaction_id", "null_customer_id",
      "null_amount", "null_transaction_date", "zero_amount",
      "negative_amount", "bad_date", "malformed")
    val dirty = mutable.LinkedHashMap[String, Int]().withDefaultValue(0)
    val nDirty = math.max(kinds.size, (n * dirtyShare).toInt)
    for (j <- 0 until nDirty) {
      val kind = kinds(j % kinds.size)
      val r = rows(rnd.nextInt(rows.length))
      val id = s"txn_${tag}_d$j"
      val date = r.getString(3)
      val cust = r.getString(1)
      val amt = java.lang.Double.valueOf(r.getDouble(2))
      lines += (kind match {
        case "duplicate" => lines(rnd.nextInt(n))
        case "null_transaction_id" => jsonLine(null, cust, amt, date, r)
        case "null_customer_id" => jsonLine(id, null, amt, date, r)
        case "null_amount" => jsonLine(id, cust, null, date, r)
        case "null_transaction_date" => jsonLine(id, cust, amt, null, r)
        case "zero_amount" => jsonLine(id, cust, 0.0, date, r)
        case "negative_amount" => jsonLine(id, cust, -amt, date, r)
        case "bad_date" => jsonLine(id, cust, amt, "2024-13-45 99:99:99", r)
        case _ => s"""{"transaction_id":"$id","amount":"""
      })
      dirty(kind) += 1
    }
    val shuffled = new scala.util.Random(rnd.nextLong()).shuffle(lines.toSeq)
    new File(dir).mkdirs()
    val files = shuffled.grouped(100).zipWithIndex.map { case (chunk, f) =>
      val w = new PrintWriter(new File(dir, f"$tag-$f%05d.json"), "UTF-8")
      try chunk.foreach(w.println) finally w.close()
    }.size
    Landing(files, shuffled.size, clean.toMap, dirty.toMap)
  }

  /** A seeded subject set of `k` customers, drawn from those present. */
  def customers(landing: Landing, k: Int, seed: Long): Set[String] = {
    val all = landing.clean.values.toSeq.distinct.sorted
    new scala.util.Random(seed).shuffle(all).take(k).toSet
  }

  // ---------------------------------------------------------------- docs

  /** Documents with ascending ids, by kind: exact copies and near-
    * duplicates of earlier documents, blank, short and Spanish documents,
    * and the rest regular English.
    */
  final case class Docs(n: Int, copies: Int, nearDups: Int, blank: Int,
      foreign: Int, short: Int)

  val docsWhy: String =
    "word-salad documents over a small English vocabulary with fixed " +
      "shares of exact copies and 1-in-12-token near-duplicates (the LSH " +
      "candidate work the documents share), plus blank, short and Spanish " +
      "documents so every screen drops something; the shares are exact " +
      "counts, so every seed gives the stages the same amount of work"

  private val enWords = ("the a and of to in is it that key agg row scan " +
    "slow fast table value part hash merge batch spark line sort window " +
    "data column join small customer query order big group filter stream " +
    "vector index shard token corpus model train eval").split(" ")
  private val esWords = ("el la los de en y que datos tabla valor parte " +
    "rapido lento fila consulta").split(" ")

  private def salad(rnd: java.util.Random, words: Array[String],
      len: Int): String =
    Array.fill(len)(words(rnd.nextInt(words.length))).mkString(" ")

  /** `n` documents written as parquet (doc_id, source, text) under `path`:
    * 6% exact copies, 10% near-duplicates, 4% each blank, short and
    * Spanish. The first 10% are regular, so copies always have originals.
    */
  def documents(spark: SparkSession, path: String, n: Int, seed: Long): Docs = {
    val rnd = new java.util.Random(seed)
    val counts = Docs(n, copies = n * 6 / 100, nearDups = n / 10,
      blank = n / 25, foreign = n / 25, short = n / 25)
    val kinds = Seq.fill(counts.copies)("copy") ++ Seq.fill(counts.nearDups)("near") ++
      Seq.fill(counts.blank)("blank") ++ Seq.fill(counts.foreign)("es") ++
      Seq.fill(counts.short)("short")
    val head = n / 10
    val order = Seq.fill(head)("en") ++ new scala.util.Random(seed).shuffle(
      kinds ++ Seq.fill(n - head - kinds.size)("en"))
    val texts = mutable.ArrayBuffer[(String, String)]()
    def regular = texts.filter(_._2.split(" ").length >= 24)
    order.foreach { kind =>
      val src = s"src${rnd.nextInt(20)}"
      texts += (kind match {
        case "copy" => texts(rnd.nextInt(texts.size))
        case "near" =>
          val pool = regular
          val (s0, t0) = pool(rnd.nextInt(pool.size))
          (s0, t0.split(" ").map(w =>
            if (rnd.nextInt(12) == 0) enWords(rnd.nextInt(enWords.length)) else w)
            .mkString(" "))
        case "blank" => (src, "  ")
        case "es" => (src, salad(rnd, esWords, 30 + rnd.nextInt(40)))
        case "short" => (src, salad(rnd, enWords, 5 + rnd.nextInt(10)))
        case _ => (src, salad(rnd, enWords, 24 + rnd.nextInt(90)))
      })
    }
    val rows = texts.zipWithIndex.map { case ((s, t), i) =>
      Row(i.toLong, s, t) }
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("source", StringType), StructField("text", StringType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, 4),
      schema).write.mode("overwrite").parquet(path)
    counts
  }

  // --------------------------------------------------------------- graph

  /** A skewed graph: `comps` preferential-attachment communities (each new
    * vertex links to two earlier ones chosen by degree), so components,
    * hubs and a small diameter are known by construction. Each undirected
    * edge is held once, as (a, b) with a < b. `depth` is the largest
    * distance from a community's root (vertex 0 of the community, its
    * minimum id) to any of its vertices: label propagation needs that many
    * rounds to settle, so candidates are drawn until it equals
    * `rootDepth`, which gives every seed the same number of rounds.
    */
  final case class GraphIn(vertices: Int, edges: Array[(Long, Long)],
      depth: Int, diameter: Int)

  val graphWhy: String =
    "preferential-attachment communities: skewed degrees (hubs), several " +
      "components, a fixed root depth so every seed needs the same rounds, " +
      "and a diameter measured below every operator's round cap"

  def graph(nVertices: Int, comps: Int, seed: Long, rootDepth: Int): GraphIn = {
    val rnd = new java.util.Random(seed)
    val per = nVertices / comps
    def candidate(): (Array[(Long, Long)], Int) = {
      val edges = mutable.LinkedHashSet[(Long, Long)]()
      for (c <- 0 until comps) {
        val base = c.toLong * per
        val ends = mutable.ArrayBuffer[Long](base)
        for (v <- 1 until per) {
          val id = base + v
          val targets = (0 until 2).map(_ => ends(rnd.nextInt(ends.size))).distinct
          targets.foreach { t =>
            edges += ((math.min(t, id), math.max(t, id)))
            ends += t; ends += id
          }
        }
      }
      val e = edges.toArray
      (e, (0 until comps).map(c => Ref.eccentricity(e, c.toLong * per)).max)
    }
    var (edges, depth) = candidate()
    var tries = 1
    while (depth != rootDepth) {
      require(tries < 200, s"no graph with root depth $rootDepth in 200 draws")
      val next = candidate(); edges = next._1; depth = next._2; tries += 1
    }
    GraphIn(comps * per, edges, depth, Ref.diameter(edges.toSeq))
  }

  /** `n` points in `dim` dimensions around `k` seeded unit directions. */
  def vectors(n: Int, dim: Int, k: Int, seed: Long): Array[(Long, Array[Float])] = {
    val rnd = new java.util.Random(seed)
    val centers = Array.fill(k) {
      val v = Array.fill(dim)(rnd.nextGaussian())
      val nrm = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / nrm)
    }
    Array.tabulate(n) { i =>
      val c = centers(rnd.nextInt(k))
      (i.toLong, c.map(x => (x + 0.08 * rnd.nextGaussian()).toFloat))
    }
  }

  val vectorsWhy: String =
    "well-separated clusters so the nearest-centroid check is decided by " +
      "a clear margin, not by floating-point ties"
}
