package graft.operators

import graft.functions.TextFunctions
import graft.plans.NativeHash
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Document deduplication family (SURVEY.md §2.3): exact, MinHash+LSH,
  * SimHash. Each stage is shuffle-bounded — no all-pairs scan ever
  * materializes; candidates come from hash-bucket joins.
  */
object Dedup {

  /** Exact duplicate groups by content fingerprint. One groupBy shuffle with
    * map-side combine; at 100 TB the md5 keys shuffle, not the documents.
    * `n_docs`/`keep_id` are exact; the `doc_ids` audit sample carries only
    * the `sampleCap` numerically-lowest ids (string-sorted for display,
    * with the cap published as `sample_cap`), so the payload is BOUNDED
    * under pathological duplication — a boilerplate page with 10⁸ copies
    * contributes 16 ids, not a 10⁸-element array. The cap rides Spark's
    * WindowGroupLimit (row_number ≤ cap pushes a partial limit BEFORE the
    * exchange), so oversize groups are trimmed map-side, not just at agg
    * time. The dedup MATERIALIZER ([[dropDuplicatesExact]]) does NOT go
    * through this report — it aggregates only min(id) per fingerprint,
    * skipping the sample window entirely.
    */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String,
                  sampleCap: Int = 16): DataFrame = {
    require(sampleCap >= 1, s"sampleCap must be >= 1, got $sampleCap")
    val fp = docs.select(col(idCol).as("__id"),
      TextFunctions.contentFingerprint(col(textCol)).as("fingerprint"))
    val stats = fp.groupBy("fingerprint")
      .agg(count(lit(1)).as("n_docs"), min(col("__id")).as("keep_id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("fingerprint").orderBy("__id")
    val sample = fp.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= sampleCap)
      .groupBy("fingerprint")
      .agg(array_join(sort_array(collect_list(col("__id").cast("string"))), ",")
        .as("doc_ids"))
    stats.join(sample, "fingerprint")
      .select(col("fingerprint"), col("n_docs"), col("keep_id"), col("doc_ids"),
        lit(sampleCap).as("sample_cap"))
  }

  /** The dedup OUTPUT: one surviving row per distinct content fingerprint
    * (lowest id wins). Shuffles only (fingerprint, id) pairs, then
    * broadcast-or-shuffle joins the winners back to the full rows — at
    * 100 TB the document bodies move at most once.
    */
  def dropDuplicatesExact(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // min(id) straight off the (fingerprint, id) projection — ONE
    // map-side-combined agg; the audit-sample window pass + join that
    // exactGroups pays for its report has no place in the materializer
    val keep = docs
      .select(col(idCol).as("__id"),
        TextFunctions.contentFingerprint(col(textCol)).as("fingerprint"))
      .groupBy("fingerprint")
      .agg(min(col("__id")).as(idCol))
      .select(idCol)
    docs.join(keep, idCol)
  }

  /** Banded bucket keys over a minhash signature: band i's key is a
    * polynomial combine of signature values [i·r, i·r+r) seeded by the band
    * index, so one long column is the whole (band, r-row-slice) identity.
    * With r ≥ 2 a bucket collision needs agreement on r independent
    * minhashes — the "globally-minimum-hashed common word" mega-bucket of
    * single-value bands (every doc containing that word shares the band
    * value) shrinks by another factor of P[agree] per extra row. Candidate
    * recall for a pair at jaccard j is 1 − (1 − j^r)^bands.
    */
  private[graft] def bandKeys(sig: Column, bands: Int, r: Int): Column =
    NativeHash.bandKeys(sig, bands, r)

  /** The declarative HOF form of [[bandKeys]] — kept as the equivalence
    * reference the spec checks the native expression against.
    */
  private[graft] def bandKeysDeclarative(sig: Column, bands: Int, r: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)), i =>
      aggregate(slice(sig, i * lit(r) + lit(1), lit(r)),
        (i + lit(1)).cast("long"),
        (acc, v) => acc * lit(1000003L) + v))

  /** MinHash-LSH candidate pairs (id_a < id_b): docs sharing ≥1 of `bands`
    * banded bucket keys (r minhash rows per band). Defaults bands=20, r=2:
    * P[miss] = (1 − j²)^20 ≈ 1.3e-9 at j = 0.8 — zero expected misses up
    * to billions of pairs — while bucket sizes under common-word skew stay
    * bounded (a single-hash band puts every doc containing the globally
    * minimum-hashed word in ONE bucket; an r=2 key needs two such
    * agreements, shrinking buckets quadratically). Precision is restored by
    * the exact-jaccard verify in [[nearDupPairs]].
    *
    * Scale: explode `bands` keys per doc → groupBy-free equi-join on the
    * key. The band index is baked into the key's seed, so a plain key join
    * reproduces exactly the "∃ band pair agreeing" predicate the broadcast
    * path's arrays_overlap evaluates — both strategies see identical
    * candidate sets. Residual skew is handled by AQE skew-join splitting;
    * the verify join only ever sees candidate pairs.
    */
  def minhashCandidates(docs: DataFrame, idCol: String, textCol: String,
                        bands: Int = 20, r: Int = 2): DataFrame = {
    // both self-join sides read the keys frame — persist the slim
    // (id, bands longs) projection so the signature (the dominant map cost
    // over a 100 TB corpus: one pass over every token) is computed ONCE
    // per document, not once per join side
    val keys = Caches.persist(docs.select(
      col(idCol).as("id"),
      bandKeys(NativeHash.minhashSignature(col(textCol), bands * r), bands, r).as("bks")))
    keyPairs(keys.select(col("id"), explode(col("bks")).as("bk")), "id", "bk")(lit(true))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }

  /** The one broadcast all-pairs scan of `df` against itself: the probe
    * side streams repartitioned to the session parallelism (so the O(n²)
    * condition evaluations spread over every core even off a
    * few-partition cached frame) aliased `a`, the build side broadcasts
    * aliased `b`, and the join keeps `a.id < b.id && cond`. Callers pass
    * the slim projection the condition and their select read.
    */
  private[graft] def allPairs(df: DataFrame, id: String)(cond: Column): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism).as("a")
      .join(broadcast(df.as("b")), col(s"a.$id") < col(s"b.$id") && cond)

  /** The one key self-join of `df`: rows pair when they share `key`, with
    * `a.id < b.id && cond` (sides aliased `a` and `b`). Callers keep their
    * own select and `distinct` — a pair sharing several keys comes out
    * once per shared key.
    */
  private[graft] def keyPairs(df: DataFrame, id: String, key: String)(cond: Column): DataFrame =
    df.as("a").join(df.as("b"),
      col(s"a.$key") === col(s"b.$key") && col(s"a.$id") < col(s"b.$id") && cond)

  /** A corpus canonicalized to its DISTINCT word (or shingle) sets plus the
    * verified near-dup rep-pair graph between them — the one substrate of
    * the minhash family ([[setGraph]]: [[nearDupPairs]],
    * [[dropDuplicatesNear]], …) and the exact prefix-filter family
    * ([[prefixSub]]: [[prefixFilterPairs]], [[clusterSubstrate]], …), built
    * by [[canonicalSets]]. Since r12 the set identity is the GROUP-MIN doc
    * id `g` (a long on the standard corpus): every pairwise stage and every
    * consumer relabel runs on narrow keys (guide §2.3), and `groups` is
    * hash-partitioned by `g` so downstream aggregates/joins inherit the
    * partitioning (guide §2.4).
    *
    * @param keyed    (id, g) per document — slim, persisted; NO word
    *                 arrays and no per-group id arrays ever materialize in a
    *                 row (a 10⁸-copy boilerplate group must never become one
    *                 10⁸-element executor row). Docs whose set key is null
    *                 never pair and carry no row.
    * @param skel     (g, n) per DISTINCT word set — member counts
    * @param groups   (g, words) per DISTINCT word set; words are re-derived
    *                 from the one representative doc, so the full-corpus
    *                 tokenization pass runs exactly once
    * @param repPairs (id_a, id_b, jaccard) over g, id_a < id_b — exact
    *                 verified pairs between distinct sets
    */
  private[graft] final case class SetGraph(keyed: DataFrame, skel: DataFrame,
                                           groups: DataFrame, repPairs: DataFrame)

  private def setUnits(shingleN: Int): Column => Column =
    if (shingleN <= 1) TextFunctions.wordSet
    // native one-pass distinct shingles joined on the U+0001 sentinel —
    // minhashSignature re-tokenizes on whitespace downstream, so each
    // shingle must stay ONE non-whitespace token, and the sentinel (vs
    // deleting spaces) keeps distinct shingles distinct ('a bc' and
    // 'ab c' must not both become 'abc'). Value-identical to the
    // declarative array_distinct(transform(wordShingles(c, n),
    // s => translate(s, " ", "\u0001"))) HOF chain (spec-pinned in
    // NativeHashSpec), which evaluates interpreted
    else c => graft.plans.NativeHash.shingleSetSep(c, shingleN, "\u0001")

  /** The md5 content key of a text's canonical (sorted distinct) unit set. */
  private[graft] def setKey(text: Column, shingleN: Int): Column =
    md5(array_join(sort_array(setUnits(shingleN)(text)), " "))

  /** Canonicalization — identical word sets collapse before any pairwise
    * work. Builds the [[SetGraph]] frames and hands the persisted
    * (set_key, g, n) skeleton and the `groups` frame to `repPairs`, the
    * family's candidate + verify step (which also runs its own route-choice
    * count: this function starts no job).
    */
  private def canonicalSets(docs: DataFrame, idCol: String, textCol: String, shingleN: Int)(
      repPairs: (DataFrame, DataFrame) => DataFrame): SetGraph = {
    // layout-capped scans rebalance up to the session parallelism (r13):
    // the tokenize+md5 pass below otherwise runs on however few tasks the
    // file layout yields (1 on single-row-group test files) — identity at
    // real scan widths (GraftSession.rebalanceScan)
    val docsW = graft.GraftSession.rebalanceScan(docs)
    // pass 1 — the only full-corpus tokenization: every doc collapses to its
    // set identity. Only the slim (id, set_key) projection persists (read by
    // the skeleton agg AND the id→g attach); the md5 content key never rides
    // a pairwise shuffle (r12).
    val keyedMd5 = Caches.persist(
      docsW.select(col(idCol).as("id"), setKey(col(textCol), shingleN).as("set_key")))
    // group skeleton: min id + size per distinct set — pure min/count agg,
    // bounded state under ANY duplication factor (no collect_list)
    // read by keyed attach, groups build, and skel consumers
    val skelMd5 = Caches.persist(keyedMd5.groupBy("set_key")
      .agg(min(col("id")).as("g"), count(lit(1)).as("n")))
    val keyed = Caches.persist(keyedMd5.join(skelMd5.select("set_key", "g"), "set_key")
      .select(col("id"), col("g")))
    // rep words: tokenization re-runs only for the one representative doc
    // of each distinct set — keyed by the LONG g from here on.
    // The repartition(g) is load-bearing (guide §2.4 "share one exchange"):
    // the cached frame's HashPartitioning(g) propagates through the whole
    // pairwise chain — the banded-route signature explode, the prefix
    // route's collect_list agg, the candidate distinct (id_a = the streamed
    // side's g, and a hash partitioning on a SUBSET of the grouping keys
    // satisfies ClusteredDistribution), and the verify/expansion joins on
    // id_a — so NONE of them re-shuffle. Without it the join above can
    // broadcast the skeleton side, the cached frame inherits the docs
    // scan's unknown partitioning, and every downstream stage pays its own
    // exchange of a multi-million-row pair stream (measured on the prefix
    // route: the 4/5 warm chain 3.2 s with the partitioning vs 8.7 s
    // without; one slim rep-words shuffle buys exchange-free descendants).
    val units = setUnits(shingleN)
    val groups = Caches.persist(skelMd5.select(col("g"))
      .join(docs.select(col(idCol).as("g"), col(textCol).as("__text")), "g")
      .select(col("g"), sort_array(units(col("__text"))).as("words"))
      .repartition(col("g")))
    SetGraph(keyed, skelMd5.select("g", "n"), groups, repPairs(skelMd5, groups))
  }

  /** Exact jaccard over the sorted distinct unit arrays `wa`/`wb` of each
    * row; keeps rows with jaccard ≥ threshold and adds the `jaccard` column.
    * Single-scan threshold + count: −1 (failing pairs bail mid-merge —
    * candidates are recall-biased, so most do) or the exact |A∩B|; passing
    * pairs pay exactly one full merge, same as the plain intersect.
    * |A∪B| = |A|+|B|−|A∩B| — no union array (the arrays are sorted+distinct
    * by canonicalization).
    */
  private def withJaccard(pairs: DataFrame, wa: String, wb: String, threshold: Double): DataFrame =
    pairs
      .withColumn("__i", NativeHash.sortedIntersectGe(col(wa), col(wb), threshold))
      .filter(col("__i") >= 0)
      .withColumn("jaccard",
        col("__i").cast("double") / (size(col(wa)) + size(col(wb)) - col("__i")).cast("double"))

  /** The exact verify of candidate rep pairs (id_a, id_b): word arrays join
    * back from `groups` (through `side`, e.g. a broadcast hint), optionally
    * size-ratio pruned (j ≥ t ⇒ min|set| ≥ t·max|set|) before the
    * [[withJaccard]] merge scan. Returns (id_a, id_b, jaccard).
    */
  private def verifyPairs(candidates: DataFrame, groups: DataFrame, threshold: Double,
                          side: DataFrame => DataFrame = identity,
                          sizePrune: Boolean = false): DataFrame = {
    val joined = candidates
      .join(side(groups.select(col("g").as("id_a"), col("words").as("words_a"))), "id_a")
      .join(side(groups.select(col("g").as("id_b"), col("words").as("words_b"))), "id_b")
    val pruned =
      if (!sizePrune) joined
      else joined.filter(least(size(col("words_a")), size(col("words_b"))).cast("double") >=
        lit(threshold) * greatest(size(col("words_a")), size(col("words_b"))).cast("double"))
    withJaccard(pruned, "words_a", "words_b", threshold).select("id_a", "id_b", "jaccard")
  }

  /** Rep pairs → doc pairs (id_a < id_b, jaccard): cross-group pairs are
    * rep pairs × member ids via two equi-joins on the slim (id, g) frame;
    * identical-set pairs (jaccard exactly 1.0, unless `identical` is
    * false) come from a self equi-join on the set identity — singleton
    * groups drop out naturally. Joins, not collect_list + explode, so no
    * executor row ever holds a per-group id array.
    */
  private[graft] def docPairs(g: SetGraph, identical: Boolean = true): DataFrame = {
    val cross = g.repPairs
      .join(g.keyed.select(col("g").as("id_a"), col("id").as("ia")), "id_a")
      .join(g.keyed.select(col("g").as("id_b"), col("id").as("ib")), "id_b")
      .select(least(col("ia"), col("ib")).as("id_a"),
        greatest(col("ia"), col("ib")).as("id_b"), col("jaccard"))
    val intra = g.keyed.as("a")
      .join(g.keyed.as("b"), col("a.g") === col("b.g") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), lit(1.0).as("jaccard"))
    if (identical) cross.unionByName(intra) else cross
  }

  private[graft] def setGraph(docs: DataFrame, idCol: String, textCol: String,
                              threshold: Double, bands: Int, r: Int, shingleN: Int,
                              broadcastThreshold: Long): SetGraph =
    canonicalSets(docs, idCol, textCol, shingleN) { (_, groups) =>
      // Candidate strategy on the distinct sets, chosen like a planner would:
      // few reps → all-pairs broadcast join probing (size-ratio, band-key
      // overlap) INSIDE the join condition — the candidate stream stays slim
      // (two keys), no word arrays ride the O(n²) scan; many reps → banded
      // LSH bucket join. Both evaluate the same predicate ("∃ agreeing band
      // key" ∩ size-compatible), so the candidate set — and therefore the
      // verified result — never depends on the route taken. Word arrays join
      // back only for the verify step.
      val nReps = groups.count() // also materializes the persisted frame
      val broadcastable = nReps <= broadcastThreshold
      Route.record(docs.sparkSession, "minhash", if (broadcastable) "broadcast" else "banded")
      val candidates: DataFrame =
        if (broadcastable) {
          val sets = groups.select(col("g"), size(col("words")).as("sz"),
            bandKeys(NativeHash.minhashSignature(array_join(col("words"), " "), bands * r),
              bands, r).as("sig"))
          allPairs(sets, "g")(
              // size-ratio prune (j ≥ t ⇒ min|set| ≥ t·max|set|): cheap int
              // compare eliminates pairs before the signature probe
              least(col("a.sz"), col("b.sz")).cast("double") >=
                lit(threshold) * greatest(col("a.sz"), col("b.sz")).cast("double") &&
              arrays_overlap(col("a.sig"), col("b.sig")))
            .select(col("a.g").as("id_a"), col("b.g").as("id_b"))
        } else {
          val reps = groups.select(col("g").as("id"), array_join(col("words"), " ").as("text"))
          minhashCandidates(reps, "id", "text", bands, r)
        }
      verifyPairs(candidates, groups, threshold,
        side = if (broadcastable) broadcast else identity, sizePrune = true)
    }

  /** Near-duplicate pairs: LSH candidates filtered by exact word-set jaccard
    * ≥ threshold. Output is verifiable against an all-pairs oracle because
    * the LSH stage has ~zero false-negative mass at useful thresholds.
    *
    * Canonicalization first: jaccard depends only on the word SET, so docs
    * with identical sets collapse to one representative before any pairwise
    * work — LSH, candidate dedup and verify all run on distinct sets, then
    * rep pairs expand back to doc pairs by JOIN against the slim keyed frame
    * (identical-set pairs are jaccard 1.0 by construction). On
    * boilerplate-heavy corpora this shrinks the quadratic stage by the
    * duplication factor squared — and because the expansion is a join, not
    * collect_list + explode, no executor row ever holds a per-group id
    * array. The pair LIST itself is still inherently quadratic under
    * duplication — a real curation run should consume
    * [[dropDuplicatesNear]], which never expands to doc pairs at all.
    *
    * @param shingleN jaccard unit: 1 = word sets (default — order-blind),
    *                 n>1 = n-word shingle sets (word-order-sensitive, the
    *                 classic MinHash text-dedup configuration)
    * @param bands number of LSH bands; candidate recall = 1 − (1 − j^r)^bands
    * @param r minhash rows per band (r ≥ 2 keeps bucket sizes bounded under
    *          common-word skew — see [[minhashCandidates]])
    * @param broadcastThreshold max distinct word sets for the broadcast
    *                           all-pairs probe; above it the banded bucket
    *                           join runs. 0 forces the banded path — both
    *                           strategies produce the identical candidate
    *                           set, so results never depend on the route.
    *                           Default 256 is the measured local[32]
    *                           crossover (PLANS.md, Round-8 deltas: the
    *                           O(n²) broadcast scan wins only below
    *                           ~128-256 sets where fixed shuffle overhead
    *                           dominates; at 16k sets it is already 5.7×
    *                           slower and the gap grows quadratically —
    *                           curve in PLANS.md).
    */
  def nearDupPairs(docs: DataFrame, idCol: String, textCol: String,
                   threshold: Double, bands: Int = 20, r: Int = 2, shingleN: Int = 1,
                   broadcastThreshold: Long = 256L): DataFrame =
    docPairs(setGraph(docs, idCol, textCol, threshold, bands, r, shingleN, broadcastThreshold),
      identical = threshold <= 1.0)

  /** Cross-source duplication MATRIX — the corpus-level decontamination
    * diagnostic: per (unordered) source pair, how many verified near-dup
    * pairs cross it, how many distinct documents participate, and what
    * share of the two sources' docs that is. The diagonal (a = b) is each
    * source's internal duplication. This is the report that catches one
    * crawl slice wholesale-mirroring another BEFORE both are mixed into a
    * training set at double weight.
    *
    * Scale shape: GROUP-WISE combinatorics on the rep graph — doc pairs
    * are counted, never materialized. Per-group per-source member counts
    * (the only pass over doc rows) feed three contributions: cross-group
    * products cntA(s₁)·cntB(s₂) along verified rep edges, within-group
    * cross-source products, and within-group same-source C(c,2) — so a
    * 10⁸-copy boilerplate group costs one count row, not 10¹⁶ pairs.
    * Distinct participating docs come from the (group, source) →
    * partner-source enumeration, deduplicated per matrix cell before the
    * final sum. The |sources| totals frame broadcasts into the share.
    */
  def sourceOverlap(docs: DataFrame, idCol: String, textCol: String,
                    srcCol: String, threshold: Double): DataFrame = {
    val g = setGraph(docs, idCol, textCol, threshold, bands = 20, r = 2,
      shingleN = 1, broadcastThreshold = 256L)
    // per-group per-source member counts — slim (g, src, cnt)
    val gsrc = Caches.persist(g.keyed
      .join(docs.select(col(idCol).as("id"), col(srcCol).as("src")), "id")
      .groupBy("g", "src").agg(count(lit(1)).as("cnt"))
      .withColumnRenamed("g", "set_key"))
    // the verified rep-pair stream is read three times (cross products +
    // both neighbor directions) — persist it or the banded candidate +
    // verify pipeline re-runs per consumer. Width is PINNED at persist
    // (r13, §2.5): AQE coalesces the ~17 MB verify output to 1-2
    // partitions, so unpinned, every downstream leg ran the 698k-row
    // stream near-single-threaded (probe: crossPairs 1.0 s, partners 1.5 s,
    // nDocs 1.6 s warm — map-bound on one core); repartition(n, ka) is an
    // explicit count, which AQE leaves alone.
    val eDir = Caches.persist(g.repPairs.select(col("id_a").as("ka"), col("id_b").as("kb"))
      .repartition(docs.sparkSession.sparkContext.defaultParallelism, col("ka")))
    val eBoth = eDir.unionByName(eDir.select(col("kb").as("ka"), col("ka").as("kb")))
    // r13 (guide §3.1): on dense near-dup corpora the rep-pair stream is
    // ~pairwise-sized (698k rows at sf0.1/t=0.8) while gsrc stays SET-GRAIN
    // (|distinct sets| × |sources|); joined by plan default both gsrc
    // probes sort-merge — shuffling the pair stream three times. Gate an
    // explicit broadcast on gsrc's measured row count (one control-plane
    // scalar over the persisted frame): under it, every pair-stream join is
    // a map-side hash probe and the stream never shuffles. Above the gate
    // (a corpus whose set×source grain is genuinely huge) the exchange
    // plan stands.
    val gsrcSmall = gsrc.count() <= 1000000L
    Route.record(docs.sparkSession, "source_overlap", if (gsrcSmall) "broadcast" else "shuffle")
    def gsrcSide(d: DataFrame): DataFrame = if (gsrcSmall) broadcast(d) else d
    def cell(s1: Column, s2: Column) =
      Seq(least(s1, s2).as("source_a"), greatest(s1, s2).as("source_b"))

    // ---- pair counts: three combinatorial contributions ----
    val crossPairs = eDir
      .join(gsrcSide(gsrc.select(col("set_key").as("ka"), col("src").as("s1"), col("cnt").as("c1"))), "ka")
      .join(gsrcSide(gsrc.select(col("set_key").as("kb"), col("src").as("s2"), col("cnt").as("c2"))), "kb")
      .select(cell(col("s1"), col("s2")) :+ (col("c1") * col("c2")).as("p"): _*)
    val intraCross = gsrc.as("a")
      .join(gsrcSide(gsrc.as("b")), col("a.set_key") === col("b.set_key") && col("a.src") < col("b.src"))
      .select(cell(col("a.src"), col("b.src")) :+ (col("a.cnt") * col("b.cnt")).as("p"): _*)
    val intraSame = gsrc.filter(col("cnt") >= 2)
      .select(cell(col("src"), col("src")) :+
        expr("(cnt * (cnt - 1)) div 2").as("p"): _*)
    val nPairs = crossPairs.unionByName(intraCross).unionByName(intraSame)
      .groupBy("source_a", "source_b").agg(sum("p").as("n_pairs"))

    // ---- distinct participating docs: (group, source) × partner sources ----
    // partner sources of a group = sources of rep-neighbor groups (self =
    // false) plus the group's own sources (self = true; a same-source
    // partner within the group needs cnt ≥ 2)
    // r13: collapse partner rows to the (group, partner-source) grain FIRST
    // (map-side-combined max instead of a distinct over 5-column rows after
    // the join): gsrc is unique per (group, src) and the collapsed partners
    // per (group, s2), so the joined rows are already unique per
    // (group, src, s2) — and a cell (sa, sb) fixes s2 given src, so the
    // old trailing 5-column distinct was guaranteed a no-op row-set-wise
    // and is dropped. Eligibility folds the self flag: a nonself partner
    // always qualifies; a self-only partner needs s2 ≠ src or cnt ≥ 2
    // (the same predicate the row-level filter applied before dedup).
    val partners = eBoth
      .join(gsrcSide(gsrc.select(col("set_key").as("kb"), col("src").as("s2"))), "kb")
      .select(col("ka").as("set_key"), col("s2"), lit(0).as("ns"))
      .unionByName(gsrc.select(col("set_key"), col("src").as("s2"), lit(1).as("ns")))
      .groupBy("set_key", "s2").agg(min("ns").as("ns")) // ns = 0 iff some nonself row
    val nDocs = gsrcSide(gsrc).join(partners, "set_key")
      .filter(col("ns") === 0 || col("s2") =!= col("src") || col("cnt") >= 2)
      .select(cell(col("src"), col("s2")) :+ col("cnt"): _*)
      .groupBy("source_a", "source_b").agg(sum("cnt").as("n_docs"))

    val sizes = docs.groupBy(col(srcCol).as("__s")).agg(count(lit(1)).as("__n"))
    nPairs.join(nDocs, Seq("source_a", "source_b"))
      .join(broadcast(sizes.select(col("__s").as("source_a"), col("__n").as("na"))), "source_a")
      .join(broadcast(sizes.select(col("__s").as("source_b"), col("__n").as("nb"))), "source_b")
      .select(col("source_a"), col("source_b"), col("n_pairs"), col("n_docs"),
        (col("n_docs").cast("double") /
          when(col("source_a") === col("source_b"), col("na"))
            .otherwise(col("na") + col("nb"))).as("dup_share"))
  }

  /** Near-duplicate CLUSTER-SIZE histogram — the dedup diagnostic that
    * says where the duplication lives: many size-2 pairs is organic
    * reposting, a few power-of-two-bucket-12 mega-clusters is one template
    * stamped a thousand times (and the dedup savings estimate is Σ(sz−1)
    * over exactly these rows). Sizes come from connected components over
    * the verified near-dup pair graph; docs
    * with no near-dup edge surface as the singleton bucket so every doc is
    * accounted for and the shares sum to 1.
    *
    * Scale shape: everything runs on the REP graph (one node per distinct
    * word set) — component labels via [[Graph.connectedComponents]]
    * (min-label propagation + pointer halving, localCheckpoint per
    * round), then each group deposits its member COUNT into its
    * component, so doc pairs are never materialized and a 10⁸-copy
    * boilerplate group costs one node + one count. One reduction to ≤64
    * bit-length buckets; the total is a 1-row broadcast frame.
    */
  /** Per-doc near-duplicate MEMBERSHIP flag: does this doc have ANY
    * near-duplicate (word-set jaccard ≥ threshold) in the corpus? — the
    * signal calibration reports join against (quality × duplication,
    * source × duplication). A doc is a member iff its distinct word set
    * has an identical twin (group n > 1) or its rep appears in a verified
    * rep pair — same rep-graph economics as [[clusterSizeHistogram]]:
    * never doc pairs, only distinct-set pairs.
    */
  def nearDupMembership(docs: DataFrame, idCol: String, textCol: String,
                        threshold: Double): DataFrame = {
    val g = setGraph(docs, idCol, textCol, threshold, bands = 20, r = 2,
      shingleN = 1, broadcastThreshold = 256L)
    val paired = g.repPairs.select(col("id_a").as("g"))
      .union(g.repPairs.select(col("id_b").as("g")))
      .distinct()
      .withColumn("p", lit(true))
    val setFlag = g.skel
      .join(paired, Seq("g"), "left")
      .select(col("g"),
        (col("n") > 1 || coalesce(col("p"), lit(false))).as("is_dup"))
    g.keyed.join(setFlag, "g").select(col("id"), col("is_dup"))
  }

  def clusterSizeHistogram(docs: DataFrame, idCol: String, textCol: String,
                           threshold: Double): DataFrame = {
    val g = setGraph(docs, idCol, textCol, threshold, bands = 20, r = 2,
      shingleN = 1, broadcastThreshold = 256L)
    // rep edges are ALREADY at the group-min long grain (r12) — the
    // dropDuplicatesNear edge shape with no relabel joins: a boilerplate
    // group with 10⁸ identical copies is ONE node here, so the component
    // pass never sees the |group|² doc pairs
    val labels = Graph.connectedComponents(g.repPairs, "id_a", "id_b")
    // every distinct set deposits its member count into its component;
    // groups without a near-dup edge are their own component, which makes
    // an n=1 untouched group exactly the singleton bucket
    val hist = g.skel
      .join(labels.withColumnRenamed("node", "g"), Seq("g"), "left")
      .select(coalesce(col("comp"), col("g")).as("comp"), col("n"))
      .groupBy("comp").agg(sum("n").as("sz"))
      .groupBy(length(bin(col("sz"))).as("bucket"))
      .agg(count(lit(1)).as("n_clusters"), sum("sz").as("n_docs"))
    hist.crossJoin(broadcast(docs.agg(count(lit(1)).as("__total"))))
      .select(col("bucket"), col("n_clusters"), col("n_docs"),
        (col("n_docs").cast("double") / col("__total")).as("docs_share"))
  }

  /** Per-document near-dup CLUSTER ASSIGNMENT at the EXACT jaccard ≥
    * tNum/tDen grain: (id, cluster_id, cluster_size) where cluster_id is the
    * component-minimum doc id of the [[prefixFilterPairs]] graph
    * (prefix-filter candidates are complete by theorem, so the assignment
    * carries no minhash recall caveat) and cluster_size counts DOCUMENTS,
    * identical copies included. This is the substrate soft-dedup weighting
    * and leakage-safe splitting share: where [[dropDuplicatesNear]] KEEPS
    * one doc per cluster, consumers of this frame keep everything and act
    * on the label (weight 1/size, split by hash(cluster_id), …).
    *
    * Scale shape: clustering runs on the REP graph — one node per distinct
    * word set, relabeled to its group-min LONG doc id before any component
    * work (the q_keep_sweep relabel: longs propagate ~6× cheaper than
    * 32-char md5 strings) — so a boilerplate page with 10⁸ identical copies
    * is ONE node. Document rows move exactly once, through the two slim
    * hash joins that attach (cluster_id, cluster_size) at the end.
    */
  def clusterAssign(docs: DataFrame, idCol: String, textCol: String,
                    tNum: Int, tDen: Int, shingleN: Int = 1): DataFrame =
    attachLabels(clusterSubstrate(docs, idCol, textCol, tNum, tDen, shingleN))

  /** The SET-GRAIN cluster substrate the whole soft-dedup family shares —
    * exposed so consumers that need more than per-doc labels (the split
    * leakage audit needs the verified rep-pair edges AND per-set split
    * vectors) ride ONE implementation instead of re-deriving the pipeline
    * (r11 advice: qSplitLeakage had inlined a copy that could drift).
    *
    *  - `keyed`    (id, set_key)              — one row per DOCUMENT
    *  - `repPairs` (id_a, id_b, jaccard)      — verified jaccard ≥ t edges
    *                                            between DISTINCT word sets
    *                                            (set grain, complete by
    *                                            the prefix-filter theorem)
    *  - `setLbl`   (set_key, cluster_id, n)   — one row per DISTINCT set:
    *                                            component label (global min
    *                                            doc id) + member count
    *
    * Since r12 the opaque set identity `set_key` IS the group-min doc id
    * (a long on the standard corpus), not the md5 content hash — every
    * pairwise/join stage is narrower and no consumer relabels (guide §2.3).
    */
  final case class ClusterSubstrate(keyed: DataFrame, repPairs: DataFrame, setLbl: DataFrame)

  def clusterSubstrate(docs: DataFrame, idCol: String, textCol: String,
                       tNum: Int, tDen: Int, shingleN: Int = 1): ClusterSubstrate = {
    // r12: prefixSub already emits rep pairs AT the group-min LONG grain,
    // so the two edge-relabel joins this function used to pay are gone —
    // the rep-pair frame IS the CC edge frame (set_key ≡ g throughout the
    // substrate: an opaque set identity to every consumer, and the long
    // relabel the downstream family did per-query now happens nowhere)
    val sub = prefixSub(docs, idCol, textCol, tNum, tDen, shingleN)
    val repPairs = Caches.persist(sub.repPairs) // read by CC AND consumers
    // (node, comp) for TOUCHED rep nodes; an edge-less set is its own
    // cluster via the coalesce — comp over group-min ids IS the global
    // min doc id of the component, since every g is its group's min
    val labels = Graph.connectedComponents(repPairs, "id_a", "id_b")
    // read by the size agg AND the per-doc attach
    val setLbl = Caches.persist(sub.skel
      .join(labels.withColumnRenamed("node", "g"), Seq("g"), "left")
      .select(col("g").as("set_key"), coalesce(col("comp"), col("g")).as("cluster_id"), col("n")))
    ClusterSubstrate(sub.keyed.select(col("id"), col("g").as("set_key")), repPairs, setLbl)
  }

  /** Per-doc (id, cluster_id, cluster_size) off a substrate — the two slim
    * joins that move document rows exactly once.
    */
  def attachLabels(sub: ClusterSubstrate): DataFrame = {
    val sizes = sub.setLbl.groupBy("cluster_id").agg(sum(col("n")).as("cluster_size"))
    sub.keyed.join(sub.setLbl.select("set_key", "cluster_id"), "set_key")
      .join(sizes, "cluster_id")
      .select(col("id"), col("cluster_id"), col("cluster_size"))
  }

  // ---- materialized cluster-label table -----------------------------------
  // (dir, threshold) -> on-disk substrate paths; one JVM-wide map so every
  // consumer in a Verify/Bench session pays the prefix-pair + CC substrate
  // ONCE and the rest read a slim parquet label frame — the shape a real
  // 100 TB curation run ships (compute labels once, persist, join many).
  private val substrateStore =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String, String)]()

  /** The substrate of the `documents` table under `dir`, computed ONCE per
    * JVM per (dir, tNum/tDen) and persisted as three parquet tables (the
    * pinned-fixture precedent of q_ann_ivf's centroids). Deterministic:
    * labels are group-min longs off the exact prefix-filter graph, so the
    * materialized frame is bit-identical to an in-line [[clusterSubstrate]]
    * pass — oracles keep replaying the full chain.
    */
  def materializedSubstrate(s: org.apache.spark.sql.SparkSession, dir: String,
                            tNum: Int, tDen: Int): ClusterSubstrate = {
    val paths = substrateStore.computeIfAbsent(s"$dir|$tNum/$tDen", _ => {
      val base = java.nio.file.Files
        .createTempDirectory(s"graft_clusters_${tNum}_$tDen").toString
      val docs = graft.GraftSession.table(s, dir, "documents")
      val sub = clusterSubstrate(docs, "doc_id", "text", tNum, tDen)
      val (kp, rp, lp) = (s"$base/keyed", s"$base/rep_pairs", s"$base/set_lbl")
      sub.keyed.write.mode("overwrite").parquet(kp)
      sub.repPairs.write.mode("overwrite").parquet(rp)
      sub.setLbl.write.mode("overwrite").parquet(lp)
      (kp, rp, lp)
    })
    def read(path: String) = graft.GraftSession.parquet(s, path)
    ClusterSubstrate(read(paths._1), read(paths._2), read(paths._3))
  }

  /** Materialized per-doc (id, cluster_id, cluster_size) label table over
    * `dir`'s documents — [[attachLabels]] on [[materializedSubstrate]].
    */
  def clusterTable(s: org.apache.spark.sql.SparkSession, dir: String,
                   tNum: Int, tDen: Int): DataFrame =
    attachLabels(materializedSubstrate(s, dir, tNum, tDen))

  /** The near-dup dedup MATERIALIZER: one surviving row per connected
    * component of the near-duplicate graph (cluster-minimum id wins) — what
    * a real 100 TB curation run consumes. Mirrors [[dropDuplicatesExact]]:
    * document bodies move at most once, into the final winners join.
    *
    * Never expands to doc pairs: clustering runs on the REP graph (one node
    * per distinct word set, labeled by the group's min doc id), so a
    * boilerplate page with 10⁸ copies contributes ONE node, not 10¹⁶ pairs.
    * Rep edges are the post-verify pairs of DISTINCT word sets — already
    * collapsed quadratically by canonicalization — so they usually sit
    * under [[Graph.connectedComponents]]'s driver budget; above it the
    * engine's distributed propagation route runs (both routes produce
    * identical components — spec-asserted).
    */
  def dropDuplicatesNear(docs: DataFrame, idCol: String, textCol: String,
                         threshold: Double, bands: Int = 20, r: Int = 2, shingleN: Int = 1,
                         broadcastThreshold: Long = 256L, maxRounds: Int = 50,
                         collectEdgeThreshold: Long = 1L << 22): DataFrame = {
    val g = setGraph(docs, idCol, textCol, threshold, bands, r, shingleN, broadcastThreshold)
    // rep pairs are already group-min node ids (r12); isolated groups (no
    // near-dup edge) keep their own min unconditionally
    val winners = survivors(g.repPairs.select(col("id_a").as("ga"), col("id_b").as("gb")),
      g.skel.select(col("g").as(idCol)), idCol, maxRounds, collectEdgeThreshold)
    docs.join(winners, idCol)
  }

  /** One survivor per connected component of the (ga, gb) edge frame —
    * its minimum id, i.e. the [[Graph.connectedComponents]] label rows
    * with node = comp — plus every id of the one-column `ids` frame that
    * no edge touches (absent from the label frame). Shared by the
    * near-dup, semantic and winnowing materializers.
    */
  private[graft] def survivors(edges: DataFrame, ids: DataFrame, idCol: String,
                               maxRounds: Int, collectEdgeThreshold: Long): DataFrame = {
    val labels = Graph.connectedComponents(edges, "ga", "gb", maxRounds, collectEdgeThreshold)
    labels.filter(col("node") === col("comp")).select(col("node").as(idCol))
      .unionByName(ids.join(labels.select(col("node").as(idCol)), Seq(idCol), "left_anti"))
  }

  /** The persistent corpus near-dup INDEX: one row per DISTINCT word set —
    * (set_key, words, sz, bks). At 100 TB this is computed once, stored
    * alongside the corpus, and every incremental batch probes it
    * ([[incrementalSurvivors]]) — a production corpus is never re-minhashed
    * per ingest.
    *
    * Build shape mirrors [[canonicalSets]]: the full-corpus pass produces only
    * slim (id, set_key) rows; word arrays and signatures are derived from
    * one representative document per distinct set, so canonical duplicates
    * never carry arrays through the shuffle.
    */
  def buildNearDupIndex(corpus: DataFrame, idCol: String, textCol: String,
                        bands: Int = 20, r: Int = 2, shingleN: Int = 1): DataFrame =
    indexRows(corpus.select(col(idCol).as("id"), setKey(col(textCol), shingleN).as("set_key")),
      corpus, idCol, textCol, bands, r, shingleN)

  /** Index rows (set_key, words, sz, bks) of the slim (id, set_key) frame
    * `keyed` over `docs`: one row per distinct set, its words re-derived
    * from the set's min-id document. Builds both the corpus index and a
    * probe batch's reps.
    */
  private def indexRows(keyed: DataFrame, docs: DataFrame, idCol: String, textCol: String,
                        bands: Int, r: Int, shingleN: Int): DataFrame =
    keyed.groupBy("set_key").agg(min(col("id")).as("id"))
      .join(docs.select(col(idCol).as("id"), col(textCol).as("__text")), "id")
      .select(col("set_key"), sort_array(setUnits(shingleN)(col("__text"))).as("words"))
      .withColumn("sz", size(col("words")))
      .withColumn("bks",
        bandKeys(NativeHash.minhashSignature(array_join(col("words"), " "), bands * r), bands, r))

  /** INCREMENTAL dedup — the shape a production 100 TB corpus actually runs:
    * new batch rows survive iff no document already in the corpus is a
    * near-duplicate (word/shingle-set jaccard ≥ threshold). Exact duplicates
    * are subsumed — identical normalized text means an identical unit set,
    * jaccard 1.0 ≥ any threshold — so one corpus index serves both gates.
    *
    * Scale: the batch is small next to the corpus by construction, so every
    * batch-derived frame BROADCASTS — the probe costs two streamed scans of
    * the corpus index (slim band keys for candidates, word arrays for the
    * verify join-back) and batch-sized work, with NO corpus shuffle and no
    * corpus self-join; only matched slim candidate pairs shuffle for their
    * distinct.
    * Within-batch dedup is deliberately out of scope (compose with
    * [[dropDuplicatesNear]] on the batch first); survivors here are "safe to
    * append", and their index rows are exactly [[buildNearDupIndex]] of the
    * survivor set — the incremental loop closes.
    *
    * Recall: identical LSH parameters to [[nearDupPairs]] — P[candidate
    * miss] = (1 − j^r)^bands ≈ 1.3e-9 at j = 0.8 with the defaults, then
    * exact-jaccard verify.
    */
  def incrementalSurvivors(corpus: DataFrame, batch: DataFrame, idCol: String, textCol: String,
                           threshold: Double, bands: Int = 20, r: Int = 2,
                           shingleN: Int = 1, batchBroadcastThreshold: Long = 65536L,
                           nestedLoopWorkBudget: Long = 1L << 30): DataFrame = {
    // persisted: the banded probe route reads the index TWICE (slim band
    // keys for candidates, word arrays for the verify join-back) — without
    // the barrier the whole index build (the corpus minhash pass, the
    // dominant cost) re-executes per read. A production loop materializes
    // the index to storage anyway ([[probeSurvivors]] on the parquet frame
    // — the q_dedup_probe bench shape); this persist gives the one-shot
    // build+probe composition the same single-build guarantee. On the
    // nested-loop route (small batches) probeSurvivors RELEASES this cache
    // after deriving its slim repartitioned copy — that route reads the
    // index once, so the common incremental path never holds two
    // corpus-sized caches.
    val index = Caches.persist(buildNearDupIndex(corpus, idCol, textCol, bands, r, shingleN))
    probeSurvivors(index, batch, idCol, textCol, threshold, bands, r, shingleN,
      batchBroadcastThreshold, nestedLoopWorkBudget)
  }

  /** Probe a prebuilt [[buildNearDupIndex]] frame with a new batch; returns
    * the surviving batch rows. See [[incrementalSurvivors]].
    *
    * Two candidate routes evaluating the SAME predicate ("∃ agreeing band
    * key" ∩ size-compatible) — results never depend on the route. The
    * planner keys on BOTH dimensions (r9 — batch size alone let a huge
    * index pay |index|·|batch| predicate evaluations plus a corpus-sized
    * deserialized persist for a 10-doc batch):
    *
    *  - **nested loop** (batch reps ≤ `batchBroadcastThreshold` AND
    *    |index| · |batch reps| ≤ `nestedLoopWorkBudget` — the normal
    *    incremental regime): ONE streamed pass over the index, batch reps
    *    broadcast, band overlap + size prune + jaccard verify all inside
    *    the join — each (index row × batch rep) pair is tested exactly
    *    once, nothing explodes, nothing shuffles but the final tiny
    *    contaminated-key distinct. (The banded explode route degenerates
    *    on short-doc / high-similarity corpora: every true near-dup pair
    *    collides on ~all bands, multiplying the collision stream by
    *    bands × cluster size — measured 23M collision rows for 3.2M
    *    pairs, 20 s of distinct + re-join at sf0.1 vs sub-second for this
    *    route.)
    *  - **banded** (larger batches, or an index too large for the
    *    work budget): equi-join on exploded keys (per-pair work
    *    O(colliding bands), not O(batch reps)), size-pruned on the slim
    *    streams, distinct pairs BEFORE word arrays join back for the
    *    verify. This route never persists the index deserialized — the
    *    spill-free path when the index dwarfs executor memory.
    *
    * `nestedLoopWorkBudget` default is the measured local[32] crossover
    * region (PLANS.md, Round-9 probe route planner): below ~10⁹ index×batch
    * cell evaluations the nested loop's zero-shuffle scan wins; above it
    * the banded route's collision-bounded work dominates. |index| counts
    * cheaply where the production shape needs it (a parquet-backed index
    * answers from footer metadata; the incremental composition's derived
    * index is persisted, so its count materializes work every route reads
    * anyway).
    */
  def probeSurvivors(index: DataFrame, batch: DataFrame, idCol: String, textCol: String,
                     threshold: Double, bands: Int = 20, r: Int = 2,
                     shingleN: Int = 1, batchBroadcastThreshold: Long = 65536L,
                     nestedLoopWorkBudget: Long = 1L << 30): DataFrame = {
    // one batch pass → slim (id, set_key); canonical batch duplicates probe once
    val keyed = Caches.persist(
      batch.select(col(idCol).as("id"), setKey(col(textCol), shingleN).as("set_key")))
    val bReps = Caches.persist(indexRows(keyed, batch, idCol, textCol, bands, r, shingleN)
      .select(col("set_key").as("__bkey"), col("words").as("__bwords"),
        col("sz").as("__bsz"), col("bks").as("__bbks")))

    // j ≥ t ⇒ min|set| ≥ t·max|set| — cheap int compare before anything else
    def sizePrune(sz: Column, bsz: Column): Column =
      least(sz, bsz).cast("double") >= lit(threshold) * greatest(sz, bsz).cast("double")
    // only the verdict matters here (survivor keys, not jaccard values) —
    // the early-exit test decides most candidates in a fraction of the
    // merge scan (bit-identical to the full-intersect filter)
    def verified(pairs: DataFrame): DataFrame = pairs
      .filter(NativeHash.jaccardGe(col("words"), col("__bwords"), threshold))
      .select("__bkey").distinct()

    val nB = bReps.count()
    val useNested = nB <= batchBroadcastThreshold &&
      index.count() <= nestedLoopWorkBudget / math.max(nB, 1L)
    Route.record(batch.sparkSession, "probe", if (useNested) "nested" else "banded")
    val contaminated =
      if (useNested) {
        // The streamed index MUST be persisted (deserialized) for this
        // route: the per-pair condition reads the stream row's arrays
        // through JoinedRow, and from a parquet scan every access
        // re-materializes UnsafeArrayData element by element — measured
        // 75 s vs 7 s at the ×10 corpus for the SAME work off an
        // in-memory (object-array) index. Corpus-sized persist is the
        // documented price of the nested-loop route; the banded branch
        // below is the spill-free alternative for large batches.
        // REPARTITION the streamed index to full parallelism before the
        // loop: the nested loop's work is |index| × |batch reps| CONDITION
        // evaluATIONS and it runs WHERE THE STREAM PARTITIONS ARE — a
        // single-file parquet index (the materialized-index ingest shape)
        // scans as ONE partition, so the whole quadratic loop lands on one
        // core (measured: a 21-minute single task at the ×10 corpus; 32-way
        // repartition of the same 30k-row index → seconds). The repartition
        // itself is one linear pass over the slim projection.
        // this route reads the incoming index exactly ONCE — to build the
        // slim repartitioned copy below. The incrementalSurvivors pin only
        // pays off on the banded route, which reads the index twice; release
        // it here so the common incremental path holds ONE corpus-sized
        // cache, not two. The copy is materialized off the pinned index
        // first: released before, the copy would rebuild the whole index
        // from the corpus. An index the caller pinned stays pinned: a caller
        // probing one index batch after batch keeps its cache.
        val width = index.sparkSession.sparkContext.defaultParallelism
        val slim = Caches.persist(index.select(col("words"), col("sz"), col("bks"))
          .repartition(width))
        if (Caches.pinned(index)) { slim.count(); Caches.unpersist(index) }
        // condition order (And short-circuits left-to-right): scalar size
        // prune first, then band overlap (20-long arrays), then the full
        // jaccard merge-scan on the survivors — overlap only downgrades
        // jacc-passing pairs that never band-collide, keeping this route's
        // predicate identical to the banded branch
        slim.join(broadcast(bReps),
            sizePrune(col("sz"), col("__bsz")) &&
              arrays_overlap(col("bks"), col("__bbks")) &&
              NativeHash.jaccardGe(col("words"), col("__bwords"), threshold))
          .select("__bkey").distinct()
      } else {
        val bKeys = bReps.select(col("__bkey"), col("__bsz"), explode(col("__bbks")).as("__bk"))
        val cKeys = index.select(col("set_key"), col("sz"), explode(col("bks")).as("__bk"))
        val cand = cKeys.join(broadcast(bKeys), "__bk")
          .filter(sizePrune(col("sz"), col("__bsz")))
          .select("set_key", "__bkey").distinct()
        verified(index.select(col("set_key"), col("sz"), col("words"))
          .join(broadcast(cand), "set_key")
          .join(broadcast(bReps.select(col("__bkey"), col("__bsz"), col("__bwords"))), "__bkey")
          .filter(sizePrune(col("sz"), col("__bsz"))))
      }

    val survivorIds = keyed
      .join(broadcast(contaminated.select(col("__bkey").as("set_key"))), Seq("set_key"), "left_anti")
      .select(col("id").as(idCol))
    batch.join(survivorIds, idCol)
  }

  /** SimHash near-dup candidates: 64-bit fingerprints bucketed so any
    * hamming-≤3 pair shares ≥1 bucket key (pigeonhole-complete; cutoffs
    * above 3 are best-effort recall), verified by exact hamming distance.
    *
    * Two pigeonhole-complete bucketings, selected by corpus size:
    *
    *  - QUARTERS (default below `blockThreshold` docs): 4 tables of 16-bit
    *    keys — 3 flipped bits leave ≥1 of 4 quarters clean. Cheap (4 keys/
    *    doc) but only 2¹⁶ buckets per table: at 10⁹ docs every bucket holds
    *    ~15k fingerprints and the in-bucket pair scan goes quadratic.
    *  - BLOCKS (auto at corpus scale): 64 bits split into 6 blocks
    *    (11/11/11/11/10/10); 3 flipped bits leave ≥3 of 6 blocks clean, so
    *    every ≤3-distant pair agrees on at least one of the C(6,3)=20
    *    3-block combinations. Key = combo-seeded injective polynomial of
    *    the 3 block values → 20 tables of ~2³²-key space; buckets stay
    *    tiny at 10⁹+ docs at the price of 20 keys/doc.
    *
    * Both produce IDENTICAL results (each emits a superset of the ≤3-
    * distant pairs, exact-hamming verified, then distinct) — the spec
    * proves block == quarter == all-pairs, so the oracle evidence covers
    * the branch a 100 TB run takes.
    */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String, maxHamming: Int = 3,
                   blockKeys: Option[Boolean] = None,
                   blockThreshold: Long = 4000000L): DataFrame = {
    // persist the slim fingerprint frame: the self-join reads it twice, and
    // the auto-mode count below then shares that one computation instead of
    // forcing an extra full pass over the raw corpus. Layout-capped scans
    // rebalance first (r13, GraftSession.rebalanceScan — identity at real
    // scan widths) so the per-doc simhash runs on every core.
    val fp = Caches.persist(graft.GraftSession.rebalanceScan(docs)
      .select(col(idCol).as("id"), NativeHash.simhash64(col(textCol)).as("sim")))
    val useBlocks = blockKeys.getOrElse(fp.count() > blockThreshold)
    Route.record(docs.sparkSession, "simhash", if (useBlocks) "blocks" else "quarters")
    val keyed =
      if (useBlocks) {
        val blocks = Seq((0, 11), (11, 11), (22, 11), (33, 11), (44, 10), (54, 10))
        val keyExprs = blocks.indices.combinations(3).toSeq.zipWithIndex.map {
          case (combo, ci) =>
            combo.foldLeft(lit(ci.toLong)) { (acc, bi) =>
              val (shift, width) = blocks(bi)
              // exact bit-packing (block values < 2^11): key = combo index
              // in the top bits over three 11-bit slots — ci·2³³ + v₁·2²² +
              // v₂·2¹¹ + v₃ < 20·2³³, truly injective across all 20 tables
              // (a polynomial base like 1000003 overflows Long at ci ≥ 10
              // and can merge buckets across combos)
              acc * lit(2048L) + call_function("shiftright", col("sim"), lit(shift))
                .bitwiseAND(lit((1L << width) - 1))
            }
        }
        fp.select(col("id"), col("sim"), explode(array(keyExprs: _*)).as("bk"))
      } else {
        fp.select(col("id"), col("sim"),
          explode(transform(sequence(lit(0), lit(3)), q =>
            // quarter index seeds the key so one equi-join column carries
            // (table, chunk) identity, same shape as the block path
            q.cast("long") * lit(1000003L) +
              call_function("shiftright", col("sim"), q * 16).bitwiseAND(lit(0xFFFFL)))).as("bk"))
      }
    keyPairs(keyed, "id", "bk")(lit(true))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        bit_count(col("a.sim").bitwiseXOR(col("b.sim"))).as("hamming"))
      // filter BEFORE distinct: the hamming cut runs map-side on the raw
      // bucket collisions; only surviving pairs pay the dedup shuffle
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Embedding-cosine near-duplicate pairs (id_a < id_b, cosine ≥
    * threshold), brute force — the correctness baseline for semantic dedup.
    * One side broadcasts, the other streams repartitioned, so the O(n²)
    * pair scan parallelizes; cosine is the fused native expression
    * (bit-identical to the declarative fold and the DuckDB oracle).
    * At corpus scale use [[embedNearDupPairsLsh]].
    */
  def embedNearDupPairs(vecs: DataFrame, idCol: String, vecCol: String,
                        threshold: Double): DataFrame = {
    allPairs(vecs.select(col(idCol).as("id"), col(vecCol).as("v")), "id")(lit(true))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        NativeHash.cosine(col("a.v"), col("b.v")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Scale path for embedding near-dup: MULTI-TABLE hyperplane LSH —
    * OR-of-ANDs, the exact embedding analogue of the banded minhash route.
    * Each of `nTables` tables hashes a vector to the sign bits of its own
    * `planesPerTable` md5-derived hyperplanes; a pair is a candidate iff
    * some table's bits all agree. Recall at angle θ is
    * 1 − (1 − (1 − θ/π)^k)^L — tables (L) drive recall to 1, planes per
    * table (k) keep each table's buckets small, precision is restored by
    * the exact-cosine verify. planesPerTable = 0 degenerates every table to
    * one bucket = exact brute force.
    *
    * Scale shape mirrors [[minhashCandidates]]: explode L keys per vector →
    * equi-join on the key (table identity is packed into the key, so one
    * long column carries the whole OR-of-ANDs predicate) → distinct slim
    * candidate pairs → vectors join back only for the verify. Per-task
    * pair counts are bucket-bounded instead of corpus²; the verify join
    * only ever sees candidates.
    *
    * @param bruteThreshold max VECTORS for the broadcast aligned-key scan;
    *                        above it the exploded bucket equi-join runs.
    *                        Both routes produce the identical pair set
    *                        (spec-asserted): key t packs its table index in
    *                        the high bits — `(t << k) | bits` — so keys from
    *                        DIFFERENT tables can never be equal, and
    *                        `arrays_overlap(ks_a, ks_b)` ⟺ ∃ table whose k
    *                        planes all agree, exactly the exploded
    *                        equi-join + distinct's candidate predicate. At
    *                        low bucket cardinality (the oracle-forced 32×2
    *                        config has 4 buckets/table) the exploded route's
    *                        bucket collisions are ~L·(n/buckets)² rows through
    *                        a shuffle + distinct + two vector joins back —
    *                        strictly MORE work than the n²/2 codegen'd
    *                        key-array probes of the broadcast scan; at
    *                        production key widths (8×16: 2¹⁶ buckets/table)
    *                        and corpus scale the exploded route's
    *                        bucket-bounded candidates win, and n is far past
    *                        the threshold anyway. The prefixSub
    *                        bruteThreshold / connectedComponents planner-split
    *                        precedent, applied to the embedding family.
    */
  def embedNearDupPairsLsh(vecs: DataFrame, idCol: String, vecCol: String,
                           threshold: Double, nTables: Int = 16,
                           planesPerTable: Int = 8,
                           bruteThreshold: Long = 4096L): DataFrame = {
    // persisted: both routes read it twice or more (self-join / vector
    // attach) — the projection + L·k projections per vector compute once
    val keyed = Caches.persist(vecs.select(col(idCol).as("id"), col(vecCol).as("v"),
      graft.functions.VectorFunctions.lshKeys(col(vecCol), nTables, planesPerTable).as("ks")))
    // route choice on the vector count (one control-plane scalar — it also
    // materializes the persisted keyed frame both routes consume). The
    // config gate L ≥ 2^k picks the COLLISION-DOMINATED regime: expected
    // exploded candidate volume ≈ L·n²/2^(k+1) (L tables of 2^k buckets),
    // so the bucket join only beats the n²/2 broadcast probes when
    // 2^k ≫ L — measured: 32×2 (4 buckets/table) 4.4 s exploded vs 0.6 s
    // brute, while 8×16 (2¹⁶ buckets/table) is 0.37 s exploded vs 0.56 s
    // brute at the same n.
    val brute = keyed.count() <= bruteThreshold && nTables.toLong >= (1L << planesPerTable)
    Route.record(vecs.sparkSession, "embed_lsh", if (brute) "brute" else "exploded")
    if (brute) {
      allPairs(keyed, "id")(arrays_overlap(col("a.ks"), col("b.ks")))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
          NativeHash.cosine(col("a.v"), col("b.v")).as("cosine"))
        .filter(col("cosine") >= threshold)
    } else {
      val cand = keyPairs(keyed.select(col("id"), explode(col("ks")).as("bk")), "id", "bk")(lit(true))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
        .distinct()
      cand
        .join(keyed.select(col("id").as("id_a"), col("v").as("va")), "id_a")
        .join(keyed.select(col("id").as("id_b"), col("v").as("vb")), "id_b")
        .withColumn("cosine", NativeHash.cosine(col("va"), col("vb")))
        .filter(col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    }
  }

  /** SEMANTIC dedup (SemDeDup-style): cluster embeddings to their nearest
    * centroid, find cosine-≥threshold pairs WITHIN each cluster, and keep
    * one row per connected component (cluster-min id wins) — near-dup
    * semantics with meaning-space edges instead of token-space edges, for
    * paraphrases and re-renderings exact/minhash dedup can't see.
    *
    * The centroid partition is the scale contract: pairwise work is
    * per-cell O(|cell|²) instead of corpus², tuned by `nlist` at training
    * time exactly like IVF probe cost; pairs crossing cell boundaries are
    * out of scope BY DEFINITION (the published SemDeDup trade — raise
    * nlist for cheaper cells, lower it for higher recall). Centroids ride
    * a broadcast; component election runs on [[Graph.connectedComponents]]
    * (byte-aware driver union-find small, pointer-halving label
    * propagation at scale).
    *
    * Centroids come in pinned (train with [[Ann.trainIvfCentroids]] and
    * persist) so assignment is replayable — the oracle replays nearest-cell
    * assignment, in-cell pair scan, and transitive closure over the same
    * float bits.
    */
  def dropDuplicatesSemantic(vecs: DataFrame, idCol: String, vecCol: String,
                             centroids: DataFrame, threshold: Double,
                             maxRounds: Int = 50,
                             collectEdgeThreshold: Long = 1L << 22): DataFrame = {
    val cells = Ann.assignToNearest(
      vecs.select(col(idCol).as("vid"), col(vecCol).as("v")), centroids)
    val a = cells.select(col("cid"), col("vid").as("ga"), col("v").as("va"))
    val b = cells.select(col("cid"), col("vid").as("gb"), col("v").as("vb"))
    val edges = a.join(b, Seq("cid"))
      .filter(col("ga") < col("gb"))
      .filter(NativeHash.cosine(col("va"), col("vb")) >= threshold)
      .select("ga", "gb")
    val winners = survivors(edges, vecs.select(col(idCol)), idCol, maxRounds, collectEdgeThreshold)
    vecs.join(winners, idCol)
  }

  /** Sub-document (span-level) dedup, C4-style: segment each document's
    * normalized token stream into consecutive `spanWords`-token spans, keep
    * only the globally FIRST occurrence (lowest (id, span index)) of every
    * distinct span, and reassemble documents from their surviving spans —
    * boilerplate paragraphs repeated across a crawl survive exactly once,
    * everywhere else they are cut out of the text.
    *
    * Output: one row per input document — (id, n_spans, n_kept, text_kept),
    * where text_kept is the surviving spans re-joined in original order
    * (possibly empty when every span of a document occurred earlier
    * elsewhere).
    *
    * Plan, sized for 100 TB: spans explode map-side (no shuffle); the
    * winner election shuffles only slim (md5, id, idx) triples into a
    * min(struct) aggregate with map-side combine — a boilerplate span
    * duplicated 10⁸ times costs one partial min per map task, never an
    * id array (same contract as [[dropDuplicatesExact]]). Span text then
    * moves exactly twice: once through the hash-keyed winners join (the
    * winners side is aggregate-sized; AQE splits a skewed probe
    * partition), once through the per-document reassembly groupBy. The
    * reassembly payload per row is bounded by the document's own length —
    * no corpus-proportional state anywhere.
    *
    * Collision assumption: spans are identified by md5(span) for BOTH the
    * winner election and the join-back — the repo-wide fingerprint
    * convention, but here a collision would merge two distinct spans and
    * delete text (not just over-merge a dedup group). At 2⁶⁴-bit effective
    * span-id space the expected first collision needs ~2⁶⁴ distinct spans
    * (birthday bound on the 128-bit digest is far beyond corpus scale);
    * callers needing content-safety against adversarial collisions should
    * join back on the span value itself.
    */
  def removeRepeatedSpans(docs: DataFrame, idCol: String, textCol: String,
                          spanWords: Int = 10): DataFrame = {
    require(spanWords >= 1, s"spanWords must be >= 1, got $spanWords")
    // one native pass per doc (graft_token_spans) — tokenization + span
    // join run once instead of the interpreted transform/slice/array_join
    // HOF chain; an empty text is one empty span, so every doc emits a row
    // and the trailing short span counts.
    val ex = docs
      .select(col(idCol), posexplode(NativeHash.tokenSpans(col(textCol), spanWords))
        .as(Seq("span_idx", "span")))
      .withColumn("__h", md5(col("span")))
    val winners = ex
      .groupBy("__h")
      .agg(min(struct(col(idCol), col("span_idx"))).as("__win"))
    // getField, not col("__win.name"): a dotted user id column must stay a
    // flat field lookup, never re-parse as a nested path
    ex.join(winners, "__h")
      .withColumn("kept",
        col("__win").getField(idCol) === col(idCol) &&
          col("__win").getField("span_idx") === col("span_idx"))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_spans"),
        sum(col("kept").cast("long")).as("n_kept"),
        array_join(
          transform(
            filter(array_sort(collect_list(struct(col("span_idx"), col("kept"), col("span")))),
              s => s.getField("kept")),
            s => s.getField("span")),
          " ").as("text_kept"))
  }

  /** VARIABLE-LENGTH exact substring dedup — the published standard for
    * training-data dedup (Lee et al. 2022, "Deduplicating Training Data
    * Makes Language Models Better": remove any ≥ minTokens-token repeated
    * substring, keeping its first occurrence). [[removeRepeatedSpans]]
    * only sees duplicates that land on its fixed aligned grid; a repeated
    * region at ANY offset and ANY length ≥ minTokens is invisible to it.
    *
    * Spark-shaped formulation (suffix arrays don't distribute; the
    * gram-granular reduction does): a token position lies inside some
    * repeated substring of length ≥ L **iff** it is covered by a sliding
    * L-gram that occurs ≥ 2 times in the corpus — any repeat of length
    * m ≥ L contains a covering L-gram for each of its positions, and a
    * duplicated L-gram IS a length-L repeat. Keep-first: for every
    * duplicated gram its globally FIRST occurrence (min (doc, pos))
    * rescues the positions it covers. A position is removed iff some
    * covering duplicated-gram occurrence is a non-first copy AND no
    * covering duplicated gram has its first occurrence there. Guarantees
    * (spec-pinned): only positions inside duplicated grams are ever
    * removed; every duplicated gram's first occurrence survives intact;
    * unique text is untouched.
    *
    * Plan, sized for 100 TB: gram hashing is one native pass per doc
    * (O(|doc|·L) bytes through md5 — the honest cost of gram-granular
    * dedup; md5 because the DuckDB oracle replays it). The winner
    * election shuffles slim (h, id, pos) triples into a min(struct) +
    * count aggregate with map-side combine; only DUPLICATED grams
    * (cnt ≥ 2 — in a curated corpus a small fraction) reach the coverage
    * explode, which is bounded by L rows per duplicated occurrence. The
    * token stream explodes once per token — same order as the tokenize
    * pass every text operator already pays. No per-doc state exceeds the
    * doc's own length; reassembly is the [[removeRepeatedSpans]] payload
    * contract.
    *
    * Returns (idCol, n_tokens, n_kept, text_kept) — one row per input doc
    * (zero-token docs carry (0, 0, '')).
    */
  def removeRepeatedSubstrings(docs: DataFrame, idCol: String, textCol: String,
                               minTokens: Int = 10): DataFrame = {
    require(minTokens >= 1, s"minTokens must be >= 1, got $minTokens")
    val L = minTokens
    // slim gram occurrences; persisted — the election and the coverage
    // probe both read it, the corpus tokenizes/hashes exactly once
    val ex = Caches.persist(docs.select(col(idCol).as("id"),
        posexplode(NativeHash.tokenGramHashes(col(textCol), L)).as(Seq("pos", "h"))))
    val dups = ex.groupBy("h")
      .agg(min(struct(col("id"), col("pos"))).as("win"), count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2)
      .select(col("h"), col("win"))
    // occurrences of duplicated grams, flagged first/copy; coverage then
    // explodes L positions per occurrence and reduces per (doc, position):
    // rescued = some covering duplicated gram is first-occurrence here
    val cov = ex.join(dups, "h")
      .select(col("id"),
        explode(sequence(col("pos"), col("pos") + lit(L - 1))).as("i"),
        when(col("win").getField("id") === col("id") &&
             col("win").getField("pos") === col("pos"), 1).otherwise(0).as("w"))
      .groupBy("id", "i")
      .agg((max(col("w")) === 1).as("rescued"))
    // token stream with compacted positions (empty tokens only exist for
    // whitespace-only text, where the gram pass also sees zero tokens)
    val toks = docs.select(col(idCol).as("id"),
        posexplode(filter(TextFunctions.tokens(col(textCol)), t => length(t) > 0))
          .as(Seq("i", "tok")))
    val agg = toks.join(cov, Seq("id", "i"), "left")
      .withColumn("kept", col("rescued").isNull || col("rescued"))
      .groupBy("id")
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(col("kept").cast("long")).as("n_kept"),
        array_join(
          transform(
            filter(array_sort(collect_list(struct(col("i"), col("kept"), col("tok")))),
              s => s.getField("kept")),
            s => s.getField("tok")),
          " ").as("text_kept"))
    docs.select(col(idCol).as("id")).join(agg, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("text_kept"), lit("")).as("text_kept"))
  }

  /** Exact all-pairs n-gram/word jaccard over a bounded id range (the
    * correctness baseline the LSH paths approximate).
    */
  def jaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                   threshold: Double): DataFrame = {
    val words = docs.select(col(idCol).as("id"), TextFunctions.wordSet(col(textCol)).as("words"))
    words.as("a").join(words.as("b"), col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        (size(array_intersect(col("a.words"), col("b.words"))).cast("double") /
          size(array_union(col("a.words"), col("b.words"))).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** EXACT set-similarity self-join via PREFIX FILTERING (the AllPairs /
    * PPJoin family — Bayardo, Ma & Srikant, WWW'07; Xiao et al., ICDE'08 —
    * public formulations): emits exactly the pairs with word-set jaccard ≥
    * tNum/tDen, with NO probabilistic recall argument. The deterministic
    * twin of [[nearDupPairs]]: same threshold, same all-pairs oracle, but
    * where minhash banding argues "P[miss] ≈ 1.3e-9", this route argues
    * "misses are impossible" — the posture a decontamination gate with a
    * hard guarantee requirement needs.
    *
    * Candidate generation: every distinct word set orders its tokens
    * rarest-first (global df ascending, token tie-break) and indexes ONLY
    * its prefix — the first |x| − ⌈t·|x|⌉ + 1 tokens. Prefix-filter
    * theorem: jaccard ≥ t ⇒ overlap ≥ ⌈t·max(|x|,|y|)⌉ ≥ ⌈t·|x|⌉, and two
    * sorted sets with overlap ≥ α share a token inside their
    * (|·|−α+1)-prefixes (skipping a full prefix forfeits more tokens than
    * the overlap can spare). Rarest-first ordering is the performance
    * half: the stopword-grade tokens that would detonate an inverted-index
    * self-join land at the END of every ordered set and never enter a
    * prefix, so posting lists in the join stay df-of-rare-token short.
    *
    * Scale shape: one vocabulary-sized df agg, one bounded per-set sort,
    * prefix explode (≤ ⌊(1−t)|x|⌋+1 rows per set), equi-join on the prefix
    * token with the exact-integer size-ratio prune inside the join
    * condition, candidate distinct, then the same single-scan merge verify
    * as the minhash route. Never corpus²: candidate volume is Σ over
    * prefix tokens of df², and canonicalization already collapsed
    * identical sets so duplication factor never multiplies the join.
    *
    * The threshold is a RATIONAL (tNum/tDen): ⌈t·|x|⌉ runs in integer
    * arithmetic (`DIV`). A binary-double 0.8 computes 0.8·10 =
    * 8.000000000000002, ceils to 9, and silently shortens the prefix —
    * a correctness bug that only fires on specific set sizes.
    */
  def prefixFilterPairs(docs: DataFrame, idCol: String, textCol: String,
                        tNum: Int, tDen: Int, shingleN: Int = 1): DataFrame =
    docPairs(prefixSub(docs, idCol, textCol, tNum, tDen, shingleN))

  /** The prefix-filter join's [[SetGraph]] (from [[canonicalSets]]): its
    * `repPairs` are the exact jaccard ≥ tNum/tDen pairs of DISTINCT sets.
    *
    * r12 optimization (guide §2.3 "narrower types"): every pairwise stage —
    * the prefix-token self-join, the candidate `distinct`, the verify
    * joins, and everything downstream (CC relabels, doc-pair expansion,
    * split-vector joins) — used to run on 32-char md5 set keys; measured at
    * sf0.1/t=0.5 the candidate distinct alone shuffled 31M (md5, md5)
    * string pairs in 35 s. Group-min ids are typically 8-byte longs, shrink
    * those shuffles ~4-8×, and are exactly the identity every downstream
    * consumer relabeled to anyway (the r9 q_keep_sweep lesson, now applied
    * at the source). The md5 content key still exists — one groupBy derives
    * g from it — but it never rides a pairwise shuffle again.
    *
    * @param bruteThreshold max DISTINCT sets for the broadcast all-pairs
    *                        verify route; above it the prefix-filter join
    *                        runs. Both routes are exact — all-pairs is
    *                        trivially complete, the prefix join complete by
    *                        theorem — so the result never depends on the
    *                        route (spec-asserted). Default 4096 is the
    *                        measured local[32] regime: at 3935 sets the
    *                        broadcast scan verifies the t=1/2 graph in
    *                        ~1.5-2 s where the prefix join's 31M-row
    *                        candidate stream + distinct took ~30 s (the
    *                        dense 31-token-vocabulary corpus is the prefix
    *                        filter's worst case: prefixes cover half of
    *                        every set and candidate volume ≈ Σ df² goes
    *                        quadratic anyway); the scan's n²/2 size-pruned
    *                        condition evaluations grow quadratically, so
    *                        the ×10 corpus (~39k sets) correctly routes to
    *                        the prefix join. The same planner split as the
    *                        minhash substrate's `broadcastThreshold`
    *                        ([[setGraph]]) and [[probeSurvivors]], applied
    *                        to the exact family.
    */
  private[graft] def prefixSub(docs: DataFrame, idCol: String, textCol: String,
                               tNum: Int, tDen: Int,
                               shingleN: Int = 1,
                               bruteThreshold: Long = 4096L): SetGraph = {
    require(tNum > 0 && tDen >= tNum, s"threshold $tNum/$tDen outside (0,1]")
    val threshold = tNum.toDouble / tDen
    canonicalSets(docs, idCol, textCol, shingleN) { (skel, groups) =>
      // route choice on the distinct-set count (one control-plane scalar;
      // also materializes the persisted skeleton) — see bruteThreshold above
      val brute = skel.count() <= bruteThreshold
      Route.record(docs.sparkSession, "prefix", if (brute) "brute" else "prefix")
      // the exact-integer size-ratio prune (min ≥ t·max ⇔ d·min ≥ n·max)
      def sizeOk(sa: Column, sb: Column): Column =
        lit(tDen.toLong) * least(sa, sb) >= lit(tNum.toLong) * greatest(sa, sb)
      if (brute) {
        // broadcast all-pairs verify: trivially complete, n²/2 size-pruned
        // condition evaluations
        val pairs = allPairs(groups.select(col("g"), col("words"), size(col("words")).as("sz")), "g")(
            sizeOk(col("a.sz"), col("b.sz")))
          .select(col("a.g").as("id_a"), col("a.words").as("wa"),
            col("b.g").as("id_b"), col("b.words").as("wb"))
        withJaccard(pairs, "wa", "wb", threshold).select("id_a", "id_b", "jaccard")
      } else {
        // global rarest-first order: df over DISTINCT sets (any global total
        // order is correct; df-ascending keeps the indexed prefixes cold)
        val tokDf = groups.select(explode(col("words")).as("w"))
          .groupBy("w").agg(count(lit(1)).as("df"))
        val ordered = groups.select(col("g"), explode(col("words")).as("w"))
          .join(tokDf, "w")
          .groupBy("g")
          .agg(sort_array(collect_list(struct(col("df"), col("w")))).as("ow"))
          .select(col("g"),
            transform(col("ow"), s => s.getField("w")).as("ow"))
        // prefix length |x| − ⌈t·|x|⌉ + 1; ⌈n·sz/d⌉ = (n·sz + d − 1) DIV d
        val pref = ordered
          .withColumn("sz", size(col("ow")))
          .withColumn("p",
            (col("sz") - expr(s"(sz * $tNum + ${tDen - 1}) DIV $tDen") + 1).cast("int"))
          .select(col("g"), col("sz"),
            posexplode(slice(col("ow"), lit(1), col("p")))
              .as(Seq("pos", "w")))
        // inverted-index equi-join on the prefix token; two exact-integer
        // prunes ride the join condition: the size-ratio and PPJoin's
        // POSITIONAL filter — a jaccard-≥t pair needs overlap
        // α = ⌈n(sa+sb)/(n+d)⌉, and for the FIRST common token
        // (0-based positions pa, pb) the overlap is ≤ 1 + min(sa−1−pa,
        // sb−1−pb); every true pair's first-common-token row passes (earlier
        // common tokens would contradict "first"), so completeness holds
        // while same-token collisions deep in dissimilar prefixes drop before
        // the distinct (measured 14.8M → much smaller raw stream on the
        // 31-word dense corpus)
        val alphaDen = (tNum + tDen).toLong
        val cand = keyPairs(pref, "g", "w")(
            sizeOk(col("a.sz"), col("b.sz")) &&
            (lit(1L) + least(col("a.sz") - 1 - col("a.pos"), col("b.sz") - 1 - col("b.pos"))) *
              lit(alphaDen) >= lit(tNum.toLong) * (col("a.sz") + col("b.sz")))
          .select(col("a.g").as("id_a"), col("b.g").as("id_b"))
          .distinct()
        verifyPairs(cand, groups, threshold)
      }
    }
  }
}
