package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Character-bigram language model for perplexity-style quality filtering —
  * the CCNet recipe (score each document under a corpus LM; gibberish and
  * boilerplate land in the tail) at demonstration scale: the model is
  * char-bigram add-one smoothed instead of a word-level KenLM, which keeps
  * the model a ≤ |alphabet|² table while exercising the full distributed
  * shape.
  *
  * Division of labor at 100 TB (the k-means/BPE pattern): counting bigrams
  * is one corpus pass — explode-free native tokenization feeding a
  * map-side-combinable groupBy whose result is at most |alphabet|² ≈ 1.4k
  * rows; the model trains from that driver-side and folds back into the
  * plan as a literal inside the codegen'd `char_lm_score` expression, so
  * SCORING — the pass that touches everything — is a zero-shuffle
  * projection.
  *
  * Exactness contract with the oracle: log-probabilities are quantized to
  * integer MICRO-NATS at train time (`round(ln((b+1)/(u+V)) · 10⁶)`), so a
  * document's score is an integer SUM — order-independent and
  * engine-exact, immune to the float-summation-order divergence a raw
  * double sum would have. (The ln itself is 1-ulp reproducible across
  * engines; a flipped rounding would need the product within ~1e-9 of a
  * half boundary — vanishing for transcendental outputs.)
  */
object CharLm {

  /** Bigram counts over the normalized text of `corpus` (space included —
    * it models word boundaries). Result is alphabet²-sized.
    */
  def bigramCounts(corpus: DataFrame, text: String): DataFrame =
    corpus
      .select(explode(org.apache.spark.sql.graftx.CharLmExpressions
        .charBigrams(col(text))).as("p"))
      .select(substring(col("p"), 1, 1).as("c1"),
        substring(col("p"), 2, 1).as("c2"))
      .groupBy(col("c1"), col("c2"))
      .agg(count(lit(1)).as("b"))

  /** Bounded driver handoff for [[bigramCounts]]: the normalized alphabet
    * `[a-z0-9 ]` gives at most 37² ≈ 1.4k rows, and the handoff is still
    * capped at the `maxPairs` heaviest bigrams (count desc, then c1/c2 asc:
    * deterministic under ties) INSIDE the plan, same shape as
    * [[Bpe.topWordCountsFrame]]. The cap never binds at the default; when a
    * caller lowers it, the model trains on the dominant sub-alphabet.
    */
  def topBigramCountsFrame(corpus: DataFrame, text: String,
      maxPairs: Int = 1 << 20): DataFrame =
    bigramCounts(corpus, text)
      .orderBy(col("b").desc, col("c1"), col("c2"))
      .limit(maxPairs)

  /** Collected form of [[topBigramCountsFrame]] — ≤ `maxPairs` rows on the
    * driver by construction.
    */
  def topBigramCounts(corpus: DataFrame, text: String,
      maxPairs: Int = 1 << 20): Seq[((String, String), Long)] =
    topBigramCountsFrame(corpus, text, maxPairs)
      .collect().iterator
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toVector

  /** The trained model: sorted alphabet and a row-major |A|×|A| table of
    * micro-nat log-probs `round(ln((b+1)/(u+V)) · 10⁶)` where `u` is the
    * predecessor count of the row char and V the alphabet size.
    */
  final case class Model(alphabet: String, tableQ: Seq[Long])

  def train(bigrams: Seq[((String, String), Long)]): Model = {
    val alphabet = bigrams.iterator
      .flatMap { case ((a, b), _) => Iterator(a, b) }
      .toSeq.distinct.sorted.mkString
    val a = alphabet.length
    val idx = alphabet.zipWithIndex.toMap
    val bi = Array.fill[Long](a * a)(0L)
    val uni = Array.fill[Long](a)(0L)
    bigrams.foreach { case ((c1, c2), n) =>
      val i = idx(c1.charAt(0)); val j = idx(c2.charAt(0))
      bi(i * a + j) = n
      uni(i) += n
    }
    val q = (0 until a * a).map { k =>
      val i = k / a
      Math.round(Math.log((bi(k) + 1).toDouble / (uni(i) + a).toDouble) * 1e6)
    }
    Model(alphabet, q)
  }
}
