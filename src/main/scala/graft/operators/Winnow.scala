package graft.operators

import graft.plans.NativeHash
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Winnowing document fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD
  * 2003 — the MOSS local fingerprint-selection algorithm). Complements the
  * dedup family: [[graft.functions.TextFunctions.fingerprint]] summarizes a
  * whole document in one rolling hash, minhash summarizes its SET of
  * shingles; winnowing selects a POSITION-AWARE subset of k-gram hashes
  * with a locality guarantee — any two documents sharing a token run of
  * length ≥ w + k − 1 share at least one selected fingerprint. That makes
  * the selected set the right index key for plagiarism/excerpt detection
  * at a fraction of the full gram index's size (expected density 2/(w+1)).
  *
  * Selection rule (the paper's): every window of `w` consecutive gram
  * hashes selects its minimum, breaking ties by RIGHTMOST position; the
  * document fingerprint is the distinct selected (pos, hash) set.
  * Documents with ≥ k tokens but fewer than w gram windows degrade to a
  * single whole-document window, so every hashable doc keeps ≥ 1
  * fingerprint.
  *
  * At 100 TB: selection is DOC-LOCAL — one native gram-hash pass
  * ([[NativeHash.tokenGramHashes]], the cross-engine md5 family) plus an
  * O(n·w) higher-order-function fold per row, entirely inside the scan
  * stage: no shuffle, no UDF, embarrassingly parallel across any executor
  * count. Only the ~2/(w+1)-density selected set leaves the stage.
  */
object Winnow {

  /** Selected fingerprints: (id, pos, gram_hash) — `pos` is the selected
    * gram's token offset. `k` = tokens per gram, `w` = window width in
    * grams.
    */
  def fingerprints(docs: DataFrame, idCol: String, textCol: String,
                   k: Int = 4, w: Int = 4): DataFrame = {
    require(k >= 1, s"gram width must be >= 1, got $k")
    require(w >= 1, s"window width must be >= 1, got $w")
    val g = NativeHash.tokenGramHashes(col(textCol), k)
    // windows start at s = 0..n-w (one degenerate whole-doc window when
    // 1 <= n < w); each keeps its rightmost-minimum (hash, pos) — `<=`
    // keeps the LATER position on equal hashes, the paper's tie rule.
    // Selection runs in the native graft_winnow_select (r13): the
    // declarative transform(sequence, s => aggregate(...)) twin evaluated
    // as per-element INTERPRETED lambdas — O(n·w) dispatch per doc on the
    // winnow hot path; the native loop is value-identical (WinnowSpec pins
    // it against the retained declarative form). No shuffle until distinct.
    // layout-capped scans rebalance up to the session parallelism (r13):
    // identity at real scan widths (GraftSession.rebalanceScan)
    val sel = graft.GraftSession.rebalanceScan(docs)
      .select(col(idCol).as("id"), g.as("g"))
      .filter(size(col("g")) >= 1)
      .select(col("id"), explode(NativeHash.winnowSelect(col("g"), w)).as("f"))
    sel.select(col("id").as(idCol),
      col("f").getField("pos").as("pos"),
      col("f").getField("h").as("gram_hash"))
  }

  /** Candidate document pairs sharing selected fingerprints — the winnowing
    * index's join product. `dfCap` drops fingerprint hashes selected by
    * more than that many documents before pairing (the boilerplate guard:
    * same posture as the shingle-index `dfCap` in
    * [[Containment.containmentPairs]] — candidate work stays ∝ Σ df² with
    * df bounded, never corpus²). `minShared` keeps pairs with at least that
    * many distinct shared fingerprint hashes.
    */
  def candidatePairs(docs: DataFrame, idCol: String, textCol: String,
                     k: Int = 4, w: Int = 4, dfCap: Int = 1000,
                     minShared: Int = 2): DataFrame = {
    require(dfCap >= 2, s"dfCap must be >= 2, got $dfCap")
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    // distinct hash per doc: a hash selected at several positions counts
    // once toward the pair, like an inverted-index posting
    val fp = Caches.persist(fingerprints(docs, idCol, textCol, k, w)
      .select(col(idCol).as("id"), col("gram_hash").as("h"))
      .distinct())
    val kept = fp.groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") <= dfCap)
      .select("h")
    Dedup.keyPairs(fp.join(kept, "h"), "id", "h")(lit(true))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .select(col("id_a").as(s"${idCol}_a"), col("id_b").as(s"${idCol}_b"),
        col("n_shared"))
  }

  /** The winnowing CLOSED LOOP — the materializer the candidate index
    * exists for (the plagiarism/excerpt dedup use the paper targets):
    * [[candidatePairs]] proposes, an EXACT full-gram-set check verifies,
    * verified pairs cluster, one document per cluster (minimum id)
    * survives. Returns the surviving rows of `docs`.
    *
    * Verify measure: |G_a ∩ G_b| ≥ threshold · min(|G_a|, |G_b|) over the
    * DISTINCT k-gram hash sets — the overlap coefficient, directional like
    * [[Containment]]: an excerpt wholly inside a larger host scores 1.0
    * however large the host, where symmetric jaccard is capped at
    * |A|/|B|. The locality guarantee COMPOSES: any pair sharing a
    * ≥ w+k−1-token run shares a selected fingerprint, so it is always a
    * candidate (at minShared = 1); verification then grades the pair on
    * its full gram sets, not the winnowed ~2/(w+1) sample.
    *
    * Scale shape: candidates are dfCap-bounded (work ∝ Σ df²); the
    * corpus-sized gram-set frame joins the slim candidate pairs by id (at
    * 100 TB the pair side is candidate-sized and broadcast-eligible, and
    * only candidate docs' arrays survive the join); clustering runs on
    * verified pairs through [[Graph.connectedComponents]] (byte-aware
    * driver union-find small, pointer-halving label propagation at
    * scale). Document bodies move once, into the winners join.
    */
  def keepAfterVerify(docs: DataFrame, idCol: String, textCol: String,
                      k: Int = 4, w: Int = 4, dfCap: Int = 1000,
                      minShared: Int = 2, threshold: Double = 0.5,
                      maxRounds: Int = 50,
                      collectEdgeThreshold: Long = 1L << 22): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    val cand = candidatePairs(docs, idCol, textCol, k, w, dfCap, minShared)
      .select(col(s"${idCol}_a").as("__ia"), col(s"${idCol}_b").as("__ib"))
    // distinct sorted gram-hash set per doc — candidates always have ≥ 1
    // gram (fingerprint selection requires it), so min-size is never 0
    val grams = docs.select(col(idCol).as("__gid"),
      sort_array(array_distinct(NativeHash.tokenGramHashes(col(textCol), k))).as("__g"))
    val verified = cand
      .join(grams.select(col("__gid").as("__ia"), col("__g").as("__set_a")), "__ia")
      .join(grams.select(col("__gid").as("__ib"), col("__g").as("__set_b")), "__ib")
      .filter(NativeHash.sortedIntersectSize(col("__set_a"), col("__set_b")).cast("double") >=
        lit(threshold) * least(size(col("__set_a")), size(col("__set_b"))).cast("double"))
      .select(col("__ia").as("ga"), col("__ib").as("gb"))
    docs.join(Dedup.survivors(verified, docs.select(col(idCol)), idCol, maxRounds,
      collectEdgeThreshold), idCol)
  }
}
