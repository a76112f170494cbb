package graft.operators

import graft.functions.TextFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Token co-occurrence statistics — collocation mining over a corpus
  * (phrase discovery for tokenizer vocab seeding, boilerplate-phrase
  * detection, the "new york"-style multiword-unit signal; Church & Hanks
  * 1990 association-ratio formulation).
  *
  * PMI here is the RATIO form p(xy)/(p(x)·p(y)) = (c12/N)/((c1/M)(c2/M)),
  * not its log: identical ranking (log is monotone), but the ratio is a
  * chain of exactly-rounded IEEE ops in ONE pinned association —
  * `((c12/N)/c1·M/c2)·M` — so the score bit-matches any engine replaying
  * the same op tree, where `ln` drifts in the last ulp. The division-first
  * order also keeps every intermediate ≤ M·ratio, so nothing approaches
  * double-integer-precision loss even at 10¹² tokens (a numerator-first
  * `c12·M²` overflows exact-integer doubles at ~10⁸ tokens).
  *
  * Scale shape: bigrams and unigrams are doc-local explodes; both count
  * frames are one map-side-combined aggregation; the unigram frame joins
  * the bigram frame TWICE by word — vocabulary-sized, broadcast-eligible,
  * never corpus-sized; corpus totals ride in as a broadcast 1-row frame.
  * The final global top-k is an `ORDER BY … LIMIT k` — Spark plans
  * TakeOrderedAndProject (per-partition heaps, no global sort).
  */
object Cooccur {

  /** Top-k adjacent-pair collocations by PMI ratio among pairs seen at
    * least `minCount` times. Returns (w1, w2, c12, c1, c2, pmi_ratio),
    * ties broken by (w1, w2).
    */
  def topPmiPairs(docs: DataFrame, textCol: String, minCount: Long, k: Int): DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    require(k >= 1, s"k must be >= 1, got $k")
    // persisted: three consumers read the tokenized stream (unigram counts,
    // bigram counts, the n_bigrams total) — without the barrier the full
    // corpus re-tokenizes once per pass
    val toks = Caches.persist(docs.select(TextFunctions.tokens(col(textCol)).as("__t")))
    val uni = Caches.persist(toks.select(explode(col("__t")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c")))
    // docs with <2 tokens contribute no bigrams (wordShingles' whole-doc
    // fallback gram would poison the pair counts here)
    val bi = toks.filter(size(col("__t")) >= 2)
      .select(explode(transform(sequence(lit(0), size(col("__t")) - 2),
        i => struct(element_at(col("__t"), i + 1).as("w1"),
          element_at(col("__t"), i + 2).as("w2")))).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      .filter(col("c12") >= minCount)
    val totals = uni.agg(sum("c").as("m_tokens")).crossJoin(
      toks.agg(sum(greatest(size(col("__t")) - 1, lit(0))).as("n_bigrams")))
    bi
      .join(broadcast(uni.select(col("w").as("w1"), col("c").as("c1"))), "w1")
      .join(broadcast(uni.select(col("w").as("w2"), col("c").as("c2"))), "w2")
      .crossJoin(broadcast(totals))
      .withColumn("pmi_ratio",
        col("c12").cast("double") / col("n_bigrams") / col("c1") * col("m_tokens")
          / col("c2") * col("m_tokens"))
      .select("w1", "w2", "c12", "c1", "c2", "pmi_ratio")
      .orderBy(col("pmi_ratio").desc, col("w1"), col("w2"))
      .limit(k)
  }

  /** Top-k word n-grams PER GROUP by raw count — the boilerplate report
    * (per-source repeated headers/footers/license blocks surface as the
    * dominant n-grams; C4/RefinedWeb-style pipelines cut lines matching
    * them). Returns (groupCol, gram, cnt, gram_rank), ties broken by gram.
    *
    * Scale shape: grams are a doc-local explode; counting is one
    * map-side-combined aggregation to the slim (group, gram) vocabulary;
    * the per-group top-k window is the `row_number() <= k` shape
    * TopKRewriteRule rewrites into bounded k-heap partials — the shuffle
    * carries k rows per group per task, never a group's whole vocabulary.
    * Docs shorter than n tokens contribute nothing (graft_shingle_list
    * yields the empty array for them — no whole-doc fallback gram).
    */
  def topNgramsPerGroup(docs: DataFrame, groupCol: String, textCol: String,
                        n: Int, k: Int): DataFrame = {
    require(n >= 1 && k >= 1, s"n and k must be >= 1, got n=$n k=$k")
    // native one-pass shingle list (duplicates kept — counts are the
    // point; docs with <n tokens yield the empty array, subsuming the old
    // size(tokens)>=n pre-filter that tokenized every doc a second time):
    // the declarative explode(wordShingles) HOF evaluates interpreted;
    // value parity spec-pinned in NativeHashSpec
    docs
      .select(col(groupCol),
        explode(graft.plans.NativeHash.shingleList(col(textCol), n)).as("gram"))
      .groupBy(groupCol, "gram").agg(count(lit(1)).as("cnt"))
      .withColumn("gram_rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(groupCol)
          .orderBy(col("cnt").desc, col("gram"))))
      .filter(col("gram_rank") <= k)
  }
}
