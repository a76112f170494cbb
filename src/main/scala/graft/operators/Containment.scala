package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** WITHIN-corpus directional containment: detect documents that are
  * near-SUBSETS of another document — truncated copies, quoted excerpts, a
  * page republished inside a boilerplate wrapper. Symmetric jaccard misses
  * exactly these: |A| ≪ |B| caps jaccard at |A|/|B| however completely A is
  * contained, so the near-dup family's threshold never fires. The test here
  * is containment(src→dst) = |S(src) ∩ S(dst)| / |S(src)| over distinct
  * word-n-gram shingle sets — 1.0 means every shingle of src appears in dst.
  * (The cross-corpus cousin is [[Decontaminate]], where the protected side
  * broadcasts; within one corpus both sides are corpus-sized and the join
  * must be an inverted index, not a broadcast.)
  *
  * Scale design — inverted shingle index + exact verify:
  *
  *  - one native shingle pass per doc ([[graft.plans.NativeHash.shingleSet]]),
  *    sorted once; the slim (id, shingles) frame persists and both the
  *    index and the verify read it (corpus tokenizes ONCE);
  *  - candidate pairs come from an equi-join of the exploded (shingle, id)
  *    inverted index with itself — work ∝ Σ df(g)², NOT corpus²;
  *  - the df cap bounds the quadratic: shingles with df > dfCap (site
  *    boilerplate present on millions of pages) are dropped from candidate
  *    GENERATION only — each would contribute df² join rows while carrying
  *    no discriminating signal. The documented recall trade: a pair sharing
  *    ONLY capped shingles is missed (spec-pinned with a planted ubiquitous
  *    shingle); verification is always exact over the FULL sets;
  *  - verify = one native merge-scan intersection per distinct candidate
  *    pair over the sorted full shingle arrays — containment needs the
  *    exact count (both directions divide the same intersection), so the
  *    early-exit jaccard variant doesn't apply.
  *
  * Emits ordered pairs: a row per direction that clears the threshold.
  */
object Containment {

  /** Ordered near-subset pairs (src, dst, n_src, n_dst, isect, containment)
    * with containment(src→dst) ≥ threshold, src ≠ dst.
    *
    * @param dfCap shingles occurring in more than dfCap docs are excluded
    *              from candidate generation (never from verification) —
    *              at Long.MaxValue candidates are exact
    */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       threshold: Double, shingleN: Int = 5,
                       dfCap: Long = Long.MaxValue): DataFrame = {
    val verified = verifiedPairs(docs, idCol, textCol, threshold, shingleN, dfCap)
    val aToB = verified
      .filter(col("__isect").cast("double") >= col("__sza").cast("double") * threshold)
      .select(col("__a").as("src"), col("__b").as("dst"),
        col("__sza").as("n_src"), col("__szb").as("n_dst"), col("__isect").as("isect"))
    val bToA = verified
      .filter(col("__isect").cast("double") >= col("__szb").cast("double") * threshold)
      .select(col("__b").as("src"), col("__a").as("dst"),
        col("__szb").as("n_src"), col("__sza").as("n_dst"), col("__isect").as("isect"))
    aToB.unionByName(bToA)
      .withColumn("containment",
        col("isect").cast("double") / col("n_src").cast("double"))
  }

  /** Shared candidate+verify pipeline: one (__a < __b) row per verified
    * candidate pair with both set sizes and the exact intersection — each
    * orientation's containment test divides the SAME `__isect`.
    */
  private def verifiedPairs(docs: DataFrame, idCol: String, textCol: String,
                            threshold: Double, shingleN: Int,
                            dfCap: Long): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"threshold in (0,1], got $threshold")
    val sets = Caches.persist(docs
      .select(col(idCol).as("__id"),
        sort_array(graft.plans.NativeHash.shingleSet(col(textCol), shingleN)).as("__gs"))
      .select(col("__id"), col("__gs"), size(col("__gs")).as("__sz")))
    val inv = sets.select(col("__id"), explode(col("__gs")).as("__g"))
    val rare = inv.join(
      inv.groupBy("__g").agg(count(lit(1)).as("__df"))
        .filter(col("__df") <= dfCap).select("__g"),
      Seq("__g"))
    val cands = rare.select(col("__g"), col("__id").as("__a"))
      .join(rare.select(col("__g"), col("__id").as("__b")), Seq("__g"))
      .filter(col("__a") < col("__b"))
      .select("__a", "__b")
      .distinct()
    cands
      .join(sets.select(col("__id").as("__a"), col("__gs").as("__ga"), col("__sz").as("__sza")), Seq("__a"))
      .join(sets.select(col("__id").as("__b"), col("__gs").as("__gb"), col("__sz").as("__szb")), Seq("__b"))
      .select(col("__a"), col("__b"), col("__sza"), col("__szb"),
        graft.plans.NativeHash.sortedIntersectSize(col("__ga"), col("__gb")).as("__isect"))
  }

  /** INCREMENTAL containment — the shape a production ingest runs: batch
    * documents that are ≥ threshold near-subsets of some EXISTING corpus
    * document are rejected; survivors admit (the [[Decontaminate]]
    * direction but against a corpus-sized right side, and the
    * [[graft.operators.Dedup.probeSurvivors]] posture for containment).
    * Only the batch→corpus direction is tested — an ingest never un-admits
    * corpus documents.
    *
    * Scale: the batch side is small by construction, so every
    * batch-derived frame BROADCASTS (exploded shingles, candidate pairs,
    * batch sets) and the corpus inverted index streams map-side — zero
    * corpus shuffle, exactly like the jaccard probe. dfCap prunes
    * boilerplate shingles from candidate generation on the CORPUS side
    * (same recall trade as [[containmentPairs]]); verify is the exact
    * merge-scan over full sets.
    */
  def probeNotContained(corpus: DataFrame, batch: DataFrame, idCol: String, textCol: String,
                        threshold: Double, shingleN: Int = 5,
                        dfCap: Long = Long.MaxValue): DataFrame = {
    val corpusSets = Caches.persist(buildContainmentIndex(corpus, idCol, textCol, shingleN))
    probeIndexNotContained(corpusSets, batch, idCol, textCol, threshold, shingleN, dfCap)
  }

  /** The containment index: one sorted distinct-shingle set per document,
    * (`__id`, `__gs`, `__sz`). The reusable artifact of [[probeNotContained]]
    * — a bulk corpus build writes it once, a streaming gate
    * ([[graft.streaming.ContainmentGate]]) appends admitted batches' rows,
    * and every probe reads it without re-tokenizing the corpus.
    */
  def buildContainmentIndex(docs: DataFrame, idCol: String, textCol: String,
                            shingleN: Int = 5): DataFrame =
    docs.select(col(idCol).as("__id"),
        sort_array(graft.plans.NativeHash.shingleSet(col(textCol), shingleN)).as("__gs"))
      .select(col("__id"), col("__gs"), size(col("__gs")).as("__sz"))

  /** [[probeNotContained]] over a PREBUILT index (the gate/bulk shared code
    * path — same semantics, the corpus tokenize already paid). When dfCap
    * is unbounded the df aggregation over the corpus index is skipped
    * entirely (it would filter nothing but still shuffle the whole inverted
    * index per probe).
    */
  def probeIndexNotContained(corpusSets: DataFrame, batch: DataFrame,
                             idCol: String, textCol: String,
                             threshold: Double, shingleN: Int = 5,
                             dfCap: Long = Long.MaxValue): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"threshold in (0,1], got $threshold")
    val corpusInv = corpusSets.select(col("__id").as("__cid"), explode(col("__gs")).as("__g"))
    val rareInv =
      if (dfCap == Long.MaxValue) corpusInv
      else corpusInv.join(
        corpusInv.groupBy("__g").agg(count(lit(1)).as("__df"))
          .filter(col("__df") <= dfCap).select("__g"),
        Seq("__g"))
    val batchSets = Caches.persist(buildContainmentIndex(batch, idCol, textCol, shingleN))
    val batchInv = batchSets.select(col("__id").as("__bid"), explode(col("__gs")).as("__g"))
    val cands = rareInv.join(broadcast(batchInv), Seq("__g"))
      .select("__bid", "__cid").distinct()
    val contained = cands
      .join(broadcast(batchSets.select(col("__id").as("__bid"), col("__gs").as("__bgs"),
        col("__sz").as("__bsz"))), Seq("__bid"))
      .join(corpusSets.select(col("__id").as("__cid"), col("__gs").as("__cgs")), Seq("__cid"))
      .filter(graft.plans.NativeHash.sortedIntersectSize(col("__bgs"), col("__cgs"))
        .cast("double") >= col("__bsz").cast("double") * threshold)
      .select(col("__bid").as(idCol)).distinct()
    batch.join(contained, Seq(idCol), "left_anti")
  }

  /** The containment MATERIALIZER: drop every document with a containment
    * witness that BEATS it under a strict total order — larger shingle set
    * first, ties to the smaller id. A truncated copy always loses to its
    * superset; among equal-size mutual containments the lowest id survives.
    * The drop test is against the ORDER, not against survival, so it is one
    * pass (no iteration): in any chain A ⊆ B ⊆ C every non-maximal element
    * has an order-beating witness and drops, while the order-maximal
    * element of any witness set is beaten by nothing and always survives —
    * a cluster can never drop entirely.
    */
  def dropContained(docs: DataFrame, idCol: String, textCol: String,
                    threshold: Double, shingleN: Int = 5,
                    dfCap: Long = Long.MaxValue): DataFrame = {
    // ONE pass over the verified (__a < __b) pairs — materializing both
    // orientations via containmentPairs would re-execute the whole
    // candidate+verify subtree once per union branch (Spark reuses
    // exchanges, not the post-shuffle merge-scan intersect work). With
    // __a < __b the beats-order makes the loser UNIQUE per pair: __b beats
    // __a only by size (szb > sza); __a beats __b on size or the id tie
    // (sza >= szb) — mutually exclusive, so one CASE projection suffices.
    val verified = verifiedPairs(docs, idCol, textCol, threshold, shingleN, dfCap)
    val losers = verified
      .select(
        when(col("__isect").cast("double") >= col("__sza").cast("double") * threshold &&
             col("__szb") > col("__sza"), col("__a"))
        .when(col("__isect").cast("double") >= col("__szb").cast("double") * threshold &&
              col("__sza") >= col("__szb"), col("__b"))
        .as(idCol))
      .filter(col(idCol).isNotNull)
      .distinct()
    docs.join(losers, Seq(idCol), "left_anti")
  }
}
