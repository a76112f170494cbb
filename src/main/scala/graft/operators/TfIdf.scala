package graft.operators

import graft.functions.TextFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus TF-IDF: the characteristic terms of every document, scored
  * against corpus-wide document frequency — keyword extraction / topic
  * labeling over a curation corpus (the text-analysis family of SURVEY
  * §2.3, alongside lang-id and quality).
  *
  * Scoring uses the RAW idf ratio `tf · N / df` instead of `tf · ln(N/df)`:
  * identical per-document ranking (ln is monotone), but division is an
  * exactly-rounded IEEE operation on every engine while `ln` is not —
  * which keeps the operator hash-exact under the DuckDB oracle. (A log
  * variant would rank the same rows; only the score column would drift in
  * the last ulp.)
  *
  * Scale shape: tokens explode into slim (doc, term) rows; tf is one
  * map-side-combined aggregation; df aggregates the tf frame again (rows
  * are already distinct (doc, term) pairs, so no second distinct pass);
  * the corpus doc count rides in as a broadcast 1-row frame; df joins
  * back by term (broadcast below `autoBroadcastJoinThreshold` — the term
  * vocabulary is tiny next to the corpus); the final per-doc top-k window
  * is eligible for the TopKRewriteRule heap rewrite.
  */
object TfIdf {

  /** Top-k terms per document by tf·N/df, ties broken by term; returns
    * (idCol, term, tf, df, score, term_rank).
    */
  def topKTerms(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val terms = docs.select(col(idCol),
      explode(TextFunctions.tokens(col(textCol))).as("term"))
    // persisted: df re-aggregates THIS frame — without it Catalyst re-plans
    // the whole tokenize+explode+agg chain for the df branch and the corpus
    // is scanned (and tokenized) twice; the persisted frame is the slim
    // distinct (doc, term, tf) triple, far smaller than the corpus
    val tf = Caches.persist(terms.groupBy(idCol, "term").agg(count(lit(1)).as("tf")))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("__n"))
    val scored = tf
      .join(df, "term")
      .crossJoin(broadcast(n))
      .withColumn("score", (col("tf") * col("__n")).cast("double") / col("df"))
    val w = Window.partitionBy(idCol).orderBy(col("score").desc, col("term"))
    scored
      .withColumn("term_rank", row_number().over(w))
      .filter(col("term_rank") <= k)
      .select(col(idCol), col("term"), col("tf"), col("df"), col("score"), col("term_rank"))
  }

  /** Corpus RARITY score: per document, the fraction of its DISTINCT terms
    * whose corpus document frequency is ≤ `dfMax` — the "how much of this
    * document is vocabulary nothing else uses" signal (OOV/garbage detector:
    * high ratio flags mojibake, hashes, boilerplate IDs; near-zero flags
    * templated text). All-integer arithmetic until one final exactly-rounded
    * division, so the score is hash-exact cross-engine — unlike a
    * log-probability LM score, which drifts in the last ulp.
    *
    * Scale shape: one slim distinct (doc, term) explode (persisted — df
    * re-aggregates it, the corpus tokenizes once), df joins back by term,
    * one map-side-combined count per document. Document bodies never
    * shuffle.
    */
  def rarityScore(docs: DataFrame, idCol: String, textCol: String, dfMax: Long,
                  shingleN: Int = 1): DataFrame = {
    val units =
      if (shingleN == 1) TextFunctions.wordSet(col(textCol))
      // native one-pass distinct shingles: the declarative
      // array_distinct(wordShingles) HOF evaluates interpreted (same value
      // semantics — spec-pinned in NativeHashSpec)
      else graft.plans.NativeHash.shingleSet(col(textCol), shingleN)
    val terms = Caches.persist(docs.select(col(idCol), explode(units).as("term")))
    val df = terms.groupBy("term").agg(count(lit(1)).as("df"))
    terms.join(df, "term")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_terms"),
        sum(when(col("df") <= dfMax, 1L).otherwise(0L)).as("n_rare"))
      .withColumn("rare_ratio", col("n_rare").cast("double") / col("n_terms"))
  }

  /** BM25 retrieval scores for every document against a fixed query term
    * set — the ranked-retrieval sibling of [[topKTerms]] (the reference's
    * keyword-match feed filters are boolean; BM25 is the published
    * graded-relevance upgrade: Robertson & Spärck Jones probabilistic
    * relevance framework, the k1/b formulation of Robertson et al.,
    * TREC-3). Returns (idCol, n_hits, score_micro): number of distinct
    * query terms present and the BM25 score.
    *
    * HASH-EXACT CONTRACT: every per-(doc, term) contribution
    * `idf_ratio · tf·(k1+1) / (tf + k1·(1−b + b·dl/avgdl))` is computed
    * as doubles in ONE pinned association (each *, /, + exactly rounded,
    * so any engine computing the same op tree bit-matches), then floored
    * to integer MICRO-UNITS; the per-document score is an integer SUM of
    * those micro-contributions — associative, partitioning-independent.
    * idf uses the +0.5-smoothed RATIO (N−df+0.5)/(df+0.5), not its log:
    * ln is not exactly rounded and engines disagree in the last ulp,
    * which a floor() then amplifies to an off-by-one micro-unit. Ranking
    * differs from log-BM25 only where a document trades a rare term for
    * several common ones; the contract is documented, deterministic, and
    * replayable in SQL.
    *
    * Scale shape: the term filter (`array_contains` on a literal array)
    * prunes the exploded token stream INSIDE the scan stage, so only
    * query-term occurrences — a vanishing fraction of the corpus —
    * shuffle into the tf aggregation. dl is a doc-local `size()` (no
    * shuffle); avgdl and N ride in as a broadcast 1-row frame; df (≤
    * |query| rows) broadcasts. One map-side-combined sum per document.
    */
  def bm25(docs: DataFrame, idCol: String, textCol: String,
           queryTerms: Seq[String], k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    val qlit = array(queryTerms.distinct.sorted.map(lit): _*)
    val toks = docs.select(col(idCol), TextFunctions.tokens(col(textCol)).as("__t"))
      .select(col(idCol), size(col("__t")).as("dl"), explode(col("__t")).as("term"))
      .filter(array_contains(qlit, col("term")))
    // tf carries dl along (constant per doc) — saves a join back to a
    // doc-length frame; persisted because df re-aggregates it
    val tf = Caches.persist(toks.groupBy(col(idCol), col("term"), col("dl"))
      .agg(count(lit(1)).as("tf")))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val stats = docs.select(TextFunctions.tokens(col(textCol)).as("__t"))
      .agg(count(lit(1)).as("n_docs"), sum(size(col("__t"))).as("tot_tokens"))
    val scored = tf
      .join(broadcast(df), "term")
      .crossJoin(broadcast(stats))
      .withColumn("avgdl", col("tot_tokens").cast("double") / col("n_docs"))
      .withColumn("idf_r",
        ((col("n_docs") - col("df")).cast("double") + lit(0.5)) /
          (col("df").cast("double") + lit(0.5)))
      .withColumn("denom",
        col("tf").cast("double") +
          lit(k1) * (lit(1.0 - b) + lit(b) * (col("dl").cast("double") / col("avgdl"))))
      .withColumn("contrib_micro",
        floor(lit(1e6) * (col("idf_r") * (col("tf").cast("double") * lit(k1 + 1.0)) / col("denom")))
          .cast("long"))
    scored.groupBy(idCol)
      .agg(count(lit(1)).as("n_hits"), sum("contrib_micro").as("score_micro"))
  }

  /** "More like this": for each query document, the top-k most similar
    * documents by an idf-weighted term dot product over the inverted
    * index — the doc-to-doc leg of the retrieval family (BM25 answers a
    * term query, [[graft.operators.Search.phraseSearch]] a quoted one;
    * this answers "find documents like THIS one", Lucene's MLT shape).
    *
    * Scoring stays EXACT: integer idf_u = (N·10⁶) div df per term,
    * per-term contribution tf_q·tf_c·idf_u as a long (headroom: tf ≤
    * ~10³ and df ≥ 1 keep it under 2⁶³ through ~10⁷-doc corpora; the
    * SUM accumulates as decimal(38,0)/HUGEINT far beyond that), so the
    * ranking key is partitioning-invariant and replays in SQL; the
    * reported cosine-style `sim` is a fixed IEEE tree (two correctly
    * rounded sqrts, one multiply, one divide) over those exact integers.
    *
    * Scale shape: the corpus tokenizes ONCE into the persisted slim
    * (doc, term, tf) frame; df and norms re-aggregate it; the candidate
    * join keys on term with only the |queries|-sized side filtered in
    * the scan, so pairs are bounded by Σ_t df(t) over the QUERY's terms —
    * never corpus². `dfCap > 0` drops ultra-common terms from the match
    * (the Lucene maxDocFreq knob) when a real corpus's stopwords would
    * otherwise dominate both cost and score; the registered config
    * leaves it off because the synthetic vocabulary is ~40 words.
    */
  def moreLikeThis(docs: DataFrame, idCol: String, textCol: String,
                   queryIds: Seq[Long], k: Int, dfCap: Long = 0L): DataFrame = {
    require(queryIds.nonEmpty, "queryIds must be non-empty")
    require(k >= 1, s"k must be >= 1, got $k")
    val terms = docs.select(col(idCol).as("doc_id"),
      explode(TextFunctions.tokens(col(textCol))).as("term"))
    val tf = Caches.persist(terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf")))
    val df0 = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val df = if (dfCap > 0) df0.filter(col("df") <= dfCap) else df0
    val n = docs.agg(count(lit(1)).as("__n"))
    // norms + both sides of the candidate join read it
    val w = Caches.persist(tf.join(df, "term").crossJoin(broadcast(n))
      .select(col("doc_id"), col("term"), col("tf"),
        expr("(__n * 1000000) div df").as("idf_u")))
    // cast to decimal BEFORE the multiply: a long tf*tf*idf_u product can
    // wrap silently on a pathological corpus (DuckDB's HUGEINT multiplies
    // exactly; Spark's long wraps) — decimal(38,0) arithmetic is exact
    val norms = w.groupBy("doc_id")
      .agg(sum(col("tf").cast("decimal(38,0)") * col("tf") * col("idf_u")).as("norm_u"))
    val q = w.filter(col("doc_id").isin(queryIds: _*))
      .select(col("doc_id").as("query_id"), col("term"), col("tf").as("qtf"),
        col("idf_u"))
    val pairs = q.join(w.select(col("doc_id").as("cand_id"), col("term"),
        col("tf").as("ctf")), "term")
      .filter(col("cand_id") =!= col("query_id"))
      .groupBy("query_id", "cand_id")
      .agg(sum(col("qtf").cast("decimal(38,0)") * col("ctf") * col("idf_u"))
        .as("score_u"))
    val sim = pairs
      .join(norms.select(col("doc_id").as("query_id"), col("norm_u").as("qn_u")), "query_id")
      .join(norms.select(col("doc_id").as("cand_id"), col("norm_u").as("cn_u")), "cand_id")
      .withColumn("sim", col("score_u").cast("double") /
        (sqrt(col("qn_u").cast("double")) * sqrt(col("cn_u").cast("double"))))
    val win = Window.partitionBy("query_id").orderBy(col("score_u").desc, col("cand_id"))
    sim.withColumn("rank", row_number().over(win))
      .filter(col("rank") <= k)
      .select("query_id", "cand_id", "score_u", "qn_u", "cn_u", "sim", "rank")
  }
}
