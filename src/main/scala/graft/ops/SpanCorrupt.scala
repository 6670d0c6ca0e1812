package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** T5-style span-corruption pair generation (Raffel et al., JMLR 2020
  * §3.1.4): mask a deterministic subset of token positions, collapse each
  * maximal masked RUN to one `<extra_id_k>` sentinel in the input, and
  * emit the sentinel-prefixed masked spans as the target — the
  * denoising-objective data pass, as a corpus transform.
  *
  * Masking is a two-round multiplicative hash in plain non-overflowing
  * integer arithmetic (Knuth's 2654435761 twice, 2²⁰ ring):
  *
  *   h = ((doc·2654435761 + i) mod 2²⁰)·2654435761 + seed) mod 2²⁰
  *   masked(i) ⇔ h mod rate = 0
  *
  * so the corruption is exactly reproducible on any engine, partitioning,
  * or retry — the [[graft.operators.Graph.deterministicWalks]] contract —
  * and an oracle can replay every span (a true RNG could not be gated).
  * Doc ids must stay below 2⁶³/2654435761 ≈ 3.4·10⁹ so the first mix
  * product fits a signed long (the walks bound, same reason: an engine
  * that ERRORS on overflow must agree with one that wraps).
  * Expected mask density is 1/rate; spans arise where masked positions
  * happen to be adjacent, matching the i.i.d.-corruption variant.
  *
  * Scale shape: one HOF fold per row over the token array (array-append
  * accumulator — O(len²) copying per doc, irrelevant at document token
  * counts), zero shuffle, scan-fused: the same posture as the BPE and
  * char-LM projections.
  *
  * Output: every input column plus `n_tokens`, `n_masked`, `n_spans`,
  * `input_tokens` (sentinel-compressed), `target_tokens`
  * (sentinel-prefixed spans).
  */
object SpanCorrupt {

  def corrupt(docs: DataFrame, id: String, text: String,
      rate: Int = 5, seed: Long = 12345L): DataFrame = {
    require(rate >= 2, "rate < 2 would mask everything")
    val emptyArr = expr("CAST(array() AS ARRAY<STRING>)")
    val init = struct(emptyArr.as("inp"), emptyArr.as("tgt"),
      lit(0).as("k"), lit(false).as("pm"))
    // token array staged ONCE per row (the fold references it per element;
    // an inlined tokens(text) would re-tokenize at every access), and the
    // index sequence guarded for empty docs (sequence(0, -1) DESCENDS)
    val toks = col("__toks")
    val idxs = when(size(toks) > 0, sequence(lit(0), size(toks) - 1))
      .otherwise(expr("CAST(array() AS ARRAY<INT>)"))
    val folded = aggregate(
      idxs,
      init,
      (acc, i) => {
        val tok = element_at(toks, (i + lit(1)).cast("int"))
        val h1 = (col(id).cast("long") * lit(2654435761L) + i.cast("long")) %
          lit(1048576L)
        val h2 = (h1 * lit(2654435761L) + lit(seed)) % lit(1048576L)
        val masked = h2 % rate === 0
        val sentinel = concat(lit("<extra_id_"),
          acc.getField("k").cast("string"), lit(">"))
        val newSpan = masked && !acc.getField("pm")
        struct(
          when(!masked, concat(acc.getField("inp"), array(tok)))
            .when(newSpan, concat(acc.getField("inp"), array(sentinel)))
            .otherwise(acc.getField("inp")).as("inp"),
          when(newSpan, concat(acc.getField("tgt"), array(sentinel, tok)))
            .when(masked, concat(acc.getField("tgt"), array(tok)))
            .otherwise(acc.getField("tgt")).as("tgt"),
          when(newSpan, acc.getField("k") + 1).otherwise(acc.getField("k"))
            .as("k"),
          masked.as("pm"))
      })
    docs
      .withColumn("__toks", TextFunctions.tokens(col(text)))
      .withColumn("__sc", folded)
      .withColumn("n_tokens", size(toks).cast("long"))
      .withColumn("n_spans", col("__sc.k").cast("long"))
      .withColumn("n_masked",
        (size(col("__sc.tgt")) - col("__sc.k")).cast("long"))
      .withColumn("input_tokens", col("__sc.inp"))
      .withColumn("target_tokens", col("__sc.tgt"))
      .drop("__sc", "__toks")
  }
}
