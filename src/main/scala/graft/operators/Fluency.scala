package graft.operators

import graft.functions.{TextFunctions => TF}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus-relative bigram fluency scoring — the CCNet-style "LM quality"
  * signal computed without an external model: the corpus itself is the
  * language model. P(w₂|w₁) = c(w₁w₂) / c(w₁·) over all bigram occurrences;
  * a document's fluency is the mean of its bigrams' conditional
  * probabilities. Boilerplate and templated text (whose bigrams dominate
  * the corpus) score high; garbled or rare-construction text scores low —
  * the same ordering a perplexity filter produces, in linear space.
  *
  * Numeric contract: probabilities quantize to MILLIONTHS by exact integer
  * division — floor(10⁶·c₂/c₁) — so every per-bigram term, each per-doc sum,
  * and the final mean are integer-exact and order-invariant: bit-identical
  * on any engine, partitioning, or row order (log-space scores would drift
  * by ulps across engines; see the fixed-point sourceQualityGate note in
  * PLANS.md). The one double in the output divides two exact integers.
  *
  * Scale: one tokenize pass; the slim (doc, w₁, w₂) occurrence frame
  * persists, both count tables aggregate it map-side-combined, and the
  * count joins probe it. TWO plan shapes, chosen by `preAggregate` —
  * the knob-not-constant posture of the AQE-width decision, because the
  * right shape flips with vocabulary size:
  *
  *  - `false` (default): the count joins probe the occurrence stream
  *    directly. While c₂/c₁ fit the broadcast threshold the occurrence
  *    frame NEVER shuffles — zero wide shuffles end to end — and the
  *    A/B logged in PLANS.md (Round-6 deltas) measures this faster at
  *    every available scale (sf0.1: 0.8 s vs 1.9 s; deterministic ×10
  *    sf1: 5.1 s vs 7.0 s warm).
  *  - `true`: occurrences first REDUCE to per-(doc, w₁, w₂)
  *    multiplicities (one uniformly-keyed shuffle), and the vocab-keyed
  *    joins then move |distinct bigrams per doc| rows instead of the
  *    corpus token stream — join volume drops by the per-document
  *    repetition factor and head-word skew blunts. k·⌊10⁶·c₂/c₁⌋ ≡ the
  *    occurrence-wise sum, so the result is IDENTICAL (spec-proved).
  *    Set it when the count joins stop broadcasting (`.explain` shows
  *    SortMergeJoin on w₁) — that is the regime where the occurrence
  *    plan would shuffle the token stream twice on skewed vocab keys;
  *    the A/B gap narrowing 2.3× → 1.4× from sf0.1 to sf1 is that
  *    crossover approaching.
  *
  * 10⁶·c₂ stays in BIGINT up to 9·10¹² occurrences of a single bigram.
  */
object Fluency {

  /** Per-document bigram fluency over whitespace tokens (lowercased).
    * Documents with fewer than two tokens have no bigrams and are excluded.
    * Returns (idCol, n_bigrams, fluency_micro_sum, fluency).
    */
  def bigramFluency(docs: DataFrame, idCol: String, textCol: String,
                    preAggregate: Boolean = false): DataFrame = {
    val toks = docs
      .select(col(idCol), TF.tokens(col(textCol)).as("w"))
      .filter(size(col("w")) >= 2)
    val occ = toks
      .select(col(idCol),
        explode(zip_with(
          slice(col("w"), lit(1), size(col("w")) - 1),
          slice(col("w"), lit(2), size(col("w")) - 1),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col(idCol), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    // either frame is the single persisted scan both count tables and the
    // probe side consume; `g` carries the multiplicity k, `occ` is k ≡ 1
    val g = Caches.persist(
      (if (preAggregate)
        occ.groupBy(col(idCol), col("w1"), col("w2")).agg(count(lit(1)).as("k"))
      else occ.withColumn("k", lit(1L))))
    val c2 = g.groupBy("w1", "w2").agg(sum("k").as("c2"))
    val c1 = g.groupBy("w1").agg(sum("k").as("c1"))
    g
      .join(c2, Seq("w1", "w2"))
      .join(c1, Seq("w1"))
      .select(col(idCol), col("k"), expr("(1000000L * c2) div c1").as("p_micro"))
      .groupBy(idCol)
      .agg(sum("k").as("n_bigrams"),
        sum(expr("k * p_micro")).as("fluency_micro_sum"))
      .withColumn("fluency",
        col("fluency_micro_sum").cast("double") /
          (col("n_bigrams") * lit(1000000L)).cast("double"))
  }
}
