package graft.ops

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftx.VectorExpressions

/** Byte-pair-encoding tokenizer: LEARNED merges (Sennrich et al. 2016), not
  * the fixed regex heuristic of `TextFunctions.bpeishTokenCount`.
  *
  * Division of labor at 100 TB: the corpus-wide work — normalize, tokenize,
  * count word occurrences — is one distributed aggregation whose output is
  * the DISTINCT-WORD dictionary (bounded by vocabulary size, millions of
  * rows, not corpus rows; `maxDictWords` caps it deterministically for
  * adversarial corpora). Merge training then runs on that dictionary on the
  * driver — the standard shape for tokenizer training (the sequential
  * merge loop is inherently order-dependent; what must scale is the corpus
  * pass, not the dict loop). The learned merges fold back into the plan as
  * a driver literal inside the codegen'd [[org.apache.spark.sql.graftx.BpeEncode]]
  * expression, so ENCODING — the part that touches all 100 TB — is a
  * single whole-stage-codegen pass with zero shuffles and no model state
  * outside the task binary.
  *
  * Determinism contract (shared with the DuckDB oracle and the spec's
  * hand-computed fixture): each round merges the pair with the highest
  * weighted count, ties broken by lexicographic pair order; symbols never
  * contain spaces, so tuple order and "a b" string order agree.
  */
object Bpe {

  /** Distributed word-occurrence counts over `text` (shared normalize +
    * whitespace tokenize chain). One explode + one map-side-combinable
    * groupBy; the result is dictionary-sized.
    */
  def wordCounts(corpus: DataFrame, text: String): DataFrame =
    corpus
      .select(explode(VectorExpressions.shingleArrAll(col(text), 1))
        .as("word"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("c"))

  /** The bounded driver handoff, as a frame: the trainer's exact truncation
    * order (count desc, word asc — deterministic under ties) plus the
    * `maxDictWords` cap pushed INTO the distributed plan, where it executes
    * as a bounded per-partition heap + driver merge (TakeOrderedAndProject)
    * instead of an unbounded collect. At 100 TB the distinct-word tail
    * (typos, URLs, code) is effectively unbounded — the cap must bind
    * BEFORE rows reach the driver, not after.
    */
  def topWordCountsFrame(corpus: DataFrame, text: String,
      maxDictWords: Int = 1000000): DataFrame =
    wordCounts(corpus, text)
      .orderBy(col("c").desc, col("word"))
      .limit(maxDictWords)

  /** Collected form of [[topWordCountsFrame]] — ≤ `maxDictWords` rows on
    * the driver by construction. Semantics-identical to collecting the full
    * dictionary and letting [[train]] truncate: `train` sorts and takes on
    * the same (count desc, word asc) key.
    */
  def topWordCounts(corpus: DataFrame, text: String,
      maxDictWords: Int = 1000000): Seq[(String, Long)] =
    topWordCountsFrame(corpus, text, maxDictWords)
      .collect().iterator
      .map(r => (r.getString(0), r.getLong(1))).toVector

  /** Train `numMerges` merges on (word, count) pairs. Stops early when no
    * adjacent pair is left. `maxDictWords` keeps the driver dictionary
    * bounded: top-N by (count desc, word asc) — deterministic under ties.
    */
  def train(counts: Seq[(String, Long)], numMerges: Int,
      maxDictWords: Int = 1000000): Seq[(String, String)] = {
    var dict = counts
      .sortBy { case (w, c) => (-c, w) }
      .take(maxDictWords)
      .map { case (w, c) => (w.map(_.toString).toArray, c) }
    val merges = ArrayBuffer[(String, String)]()
    var rounds = 0
    var exhausted = false
    while (rounds < numMerges && !exhausted) {
      val pairCounts = scala.collection.mutable.HashMap[(String, String), Long]()
      dict.foreach { case (syms, c) =>
        var j = 0
        while (j < syms.length - 1) {
          val p = (syms(j), syms(j + 1))
          pairCounts(p) = pairCounts.getOrElse(p, 0L) + c
          j += 1
        }
      }
      if (pairCounts.isEmpty) exhausted = true
      else {
        val best = pairCounts.toSeq
          .minBy { case ((a, b), n) => (-n, a, b) }._1
        merges += best
        dict = dict.map { case (syms, c) => (mergePair(syms, best), c) }
      }
      rounds += 1
    }
    merges.toSeq
  }

  /** Merge every (left-to-right, non-overlapping) occurrence of `p`. */
  def mergePair(syms: Array[String], p: (String, String)): Array[String] = {
    val out = ArrayBuffer[String]()
    var j = 0
    while (j < syms.length) {
      if (j < syms.length - 1 && syms(j) == p._1 && syms(j + 1) == p._2) {
        out += syms(j) + syms(j + 1)
        j += 2
      } else {
        out += syms(j)
        j += 1
      }
    }
    out.toArray
  }

  /** The learned vocabulary: base symbols (single chars of the training
    * dictionary) plus one entry per merge.
    */
  def vocab(counts: Seq[(String, Long)],
      merges: Seq[(String, String)]): Set[String] =
    counts.iterator.flatMap(_._1.map(_.toString)).toSet ++
      merges.iterator.map { case (a, b) => a + b }
}
