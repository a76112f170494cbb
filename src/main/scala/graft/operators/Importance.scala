package graft.operators

import graft.functions.{Sampling, TextFunctions}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data selection by hashed-feature importance weighting — the DSIR shape
  * (Xie et al. 2023, "Data Selection for Language Models via Importance
  * Resampling"): estimate a TARGET distribution and the RAW-corpus
  * distribution over a small hashed feature space, score every document by
  * how target-like its features are, then gate/sample on the score. The
  * classic use: target = a high-quality slice (wiki-like sources, one
  * language), corpus = the crawl; keep what scores target-like.
  *
  * Feature space: unigram occurrences hashed into `buckets` cells with the
  * cross-engine md5 bucket ([[Sampling.md5Bucket]]) — the same primitive
  * the split/sample family uses, so the oracle replays it exactly.
  *
  * HASH-EXACT CONTRACT: the per-bucket importance ratio uses add-one
  * smoothing, `w_b = ((t_b+1)/(T+B)) / ((c_b+1)/(C+B))` (t/c = target/
  * corpus occurrences in bucket b; T/C = totals; B = bucket count),
  * computed as doubles in one pinned association and floored to integer
  * MICRO-UNITS; a document's score is the integer SUM of its tokens'
  * micro-weights — associative, partitioning-independent, bit-replayable.
  * DSIR's log-likelihood-ratio is the sum of log w_b; this operator sums
  * quantized w_b instead (ln is not exactly rounded — engines drift in the
  * last ulp and floor() amplifies that to a hash mismatch). The induced
  * ordering weights high-ratio features arithmetically rather than
  * geometrically; the gate semantics — "documents whose mass sits in
  * target-heavy buckets score high" — are unchanged, and the contract is
  * the documented, deterministic one.
  *
  * Scale shape: both distribution estimates are ONE map-side-combined
  * count over the exploded token stream (the target side filters FIRST,
  * inside the scan stage). The weight table is `buckets` rows — broadcast;
  * scoring is a broadcast join on the token stream plus one map-side-
  * combined sum per document. Document bodies never shuffle; nothing
  * corpus-sized reaches the driver.
  */
object Importance {

  /** Score every document against the target slice selected by `isTarget`.
    * Returns (idCol, n_tokens, score_micro, per_token_micro):
    * `score_micro` = Σ token micro-weights, `per_token_micro` the
    * length-normalized score (one exactly-rounded division) used as the
    * selection key — without it, long documents outscore target-like ones.
    */
  def score(docs: DataFrame, idCol: String, textCol: String, isTarget: Column,
            buckets: Int = 512): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    val toks = Caches.persist(docs.select(col(idCol), isTarget.as("__tgt"),
        explode(TextFunctions.tokens(col(textCol))).as("__w"))
      .select(col(idCol), col("__tgt"),
        Sampling.md5Bucket(col("__w"), buckets).as("b")))
    val counts = toks.groupBy("b").agg(
      sum(when(col("__tgt"), 1L).otherwise(0L)).as("t_b"),
      count(lit(1)).as("c_b"))
    val totals = toks.agg(
      sum(when(col("__tgt"), 1L).otherwise(0L)).as("t_tot"),
      count(lit(1)).as("c_tot"))
    val weights = counts.crossJoin(broadcast(totals))
      .withColumn("w_micro",
        floor(lit(1e6) *
          (((col("t_b").cast("double") + lit(1.0)) /
              (col("t_tot").cast("double") + lit(buckets.toDouble))) /
            ((col("c_b").cast("double") + lit(1.0)) /
              (col("c_tot").cast("double") + lit(buckets.toDouble)))))
          .cast("long"))
      .select("b", "w_micro")
    toks.join(broadcast(weights), "b")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_tokens"), sum("w_micro").as("score_micro"))
      .withColumn("per_token_micro",
        col("score_micro").cast("double") / col("n_tokens"))
  }
}
