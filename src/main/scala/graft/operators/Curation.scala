package graft.operators

import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-curation gates ABOVE single-document granularity: decisions keyed
  * by a grouping column (source / domain / crawl snapshot) that a per-row
  * filter can't express because the verdict depends on the group's
  * aggregate statistics.
  */
object Curation {

  /** Source-level quality gate: keep documents whose SOURCE's mean quality
    * is at or above the corpus-wide mean — the domain-blocklist shape of a
    * pretraining pipeline (a low-quality domain is dropped wholesale, even
    * its above-average pages).
    *
    * Output: one row per surviving document — (id, src, quality, src_avg),
    * so downstream stages can re-weight by how far a source clears the bar.
    *
    * Plan, sized for 100 TB: the scoring pass runs once (persisted slim
    * (id, src, quality) frame, pinned through [[Caches]]); the per-source
    * stats aggregate it with map-side combine down to |distinct sources|
    * rows, and the corpus mean derives from those stats (a second
    * aggregation of an already-tiny frame — the documents are NOT scanned
    * again). The gate itself is a BROADCAST join: document rows never
    * shuffle — each row does a map-side hash lookup of its source's
    * verdict. Total corpus-sized work: one scan, zero shuffles of the
    * documents.
    *
    * Means are FIXED-POINT: quality quantizes to micro-units (×10⁶, a
    * bigint) before summing, so the per-source and corpus means come from
    * exactly-associative integer sums — bit-identical on any engine, any
    * partitioning, any row order. A raw double `avg()` drifts in the last
    * ulp with summation order, which flips gate verdicts for sources
    * sitting exactly at the corpus mean and breaks run-to-run
    * reproducibility at different parallelism. Micro (not nano) units keep
    * the BIGINT corpus total safe past 9×10¹² docs — above the 10¹⁰-doc
    * source scale this module is sized for (nano-units would overflow at
    * ~9.2×10⁹ docs and silently flip gate verdicts).
    */
  def sourceQualityGate(docs: DataFrame, idCol: String, srcCol: String,
                        quality: Column): DataFrame = {
    val scored = Caches.persist(docs
      .select(col(idCol), col(srcCol), quality.as("quality")))
    val srcStats = scored.groupBy(col(srcCol))
      .agg(sum(round(col("quality") * 1e6).cast("long")).as("__qsum"),
        count(lit(1)).as("src_docs"))
    // corpus mean = total nano-quality / total docs — derived from the
    // ~|sources|-row stats frame, never rescanning the documents
    val corpus = srcStats.agg(
      sum(col("__qsum")).as("__tq"), sum(col("src_docs")).as("__td"))
    val passing = srcStats
      .crossJoin(broadcast(corpus))
      .filter(col("__qsum").cast("double") / col("src_docs").cast("double") >=
        col("__tq").cast("double") / col("__td").cast("double"))
      .select(col(srcCol),
        (col("__qsum").cast("double") / (col("src_docs").cast("double") * 1e6)).as("src_avg"))
    scored.join(broadcast(passing), srcCol)
      .select(col(idCol), col(srcCol), col("quality"), col("src_avg"))
  }

  /** Per-group document CAP — keep at most `cap` documents per group
    * (domain / source / crawl snapshot), chosen by a deterministic md5
    * priority over the id so the kept subset is reproducible across runs,
    * engines and partitionings — the standard web-corpus guard against a
    * single domain dominating the training mix (boilerplate-heavy domains
    * contribute millions of pages; the cap bounds any one group's
    * contribution while sampling it uniformly).
    *
    * Scale: written declaratively as `row_number() ≤ cap` so Catalyst sees
    * the standard window shape — and graft's TopKRewriteRule rewrites it to
    * the bounded `graft_topk` aggregate: partial state per group is a
    * cap-sized heap, map tasks ship ≤ cap rows per group instead of the
    * whole group, and no single-domain mega-partition is ever sorted. With
    * the rule disabled the window form still computes correctly (external
    * sort, spill-safe) — the rewrite is a pure optimization, proven
    * result-identical in TopKRewriteRuleSpec.
    */
  def capPerGroup(docs: DataFrame, idCol: String, grpCol: String, cap: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(!docs.columns.contains("__prio") && !docs.columns.contains("__rn"),
      "capPerGroup reserves temp columns __prio/__rn; rename caller columns first")
    val w = Window.partitionBy(grpCol).orderBy(col("__prio"), col(idCol))
    docs
      .withColumn("__prio", md5(col(idCol).cast("string")))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= cap)
      .drop("__prio", "__rn")
  }

  /** Per-source corpus REPORT — the summary table every curation run
    * publishes: doc count, whitespace-token total, EXACT median doc length,
    * and distinct-content count (1 − distinct/total = the source's exact-dup
    * rate). Mirrors the reference's per-feed aggregation reporting shape
    * (`src/Service/Aggregator.php:62-89` summarizes each supplier feed after
    * normalization).
    *
    * Plan, sized for 100 TB: ONE corpus scan produces a slim (src, chars,
    * fingerprint, tokens) stream; counts/sums/distinct aggregate it with
    * map-side combine (the distinct pays one extra slim (src, fp) shuffle).
    * The median deliberately avoids Spark's `median()`/`percentile()`
    * aggregate, which buffers EVERY group value in executor memory (an OOM
    * when one source holds 10¹⁰ docs). Doc lengths are a bounded discrete
    * domain, so the corpus reduces losslessly to a per-(src, chars)
    * frequency histogram — ~|sources × distinct lengths| rows, map-side
    * combined — and the median reads off the cumulative histogram: the
    * rows covering positions ⌊(n+1)/2⌋ and ⌊(n+2)/2⌋, averaged (identical
    * interpolation to SQL `median`). Window state per row is two running
    * longs — nothing corpus-sized is ever held in memory.
    */
  def corpusStats(docs: DataFrame, srcCol: String, textCol: String,
                  charsCol: String): DataFrame = {
    // persisted: both aggregations below consume it — without this the
    // documents (and the md5/tokenize work) would be scanned twice
    val slim = Caches.persist(docs.select(col(srcCol), col(charsCol).as("__chars"),
      md5(col(textCol)).as("__fp"),
      graft.functions.TextFunctions.tokenCountWs(col(textCol)).cast("long").as("__tok")))
    val base = slim.groupBy(col(srcCol)).agg(
      count(lit(1)).as("n_docs"),
      sum(col("__tok")).as("total_tokens"),
      countDistinct(col("__fp")).as("distinct_docs"))
    base.join(histMedian(slim, srcCol), srcCol)
      .select(col(srcCol), col("n_docs"), col("total_tokens"),
        col("median_chars"), col("distinct_docs"))
  }

  /** The lossless-histogram median over a slim frame carrying `__chars` —
    * shared by [[corpusStats]] and [[corpusStatsSketch]]. Identical
    * interpolation to SQL `median`: average of the values at positions
    * ⌊(n+1)/2⌋ and ⌊(n+2)/2⌋ of the cumulative histogram.
    */
  private def histMedian(slim: DataFrame, srcCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = slim.groupBy(col(srcCol), col("__chars")).agg(count(lit(1)).as("__cnt"))
    val byChars = Window.partitionBy(srcCol).orderBy("__chars")
    val whole = Window.partitionBy(srcCol)
    hist
      .withColumn("__hi", sum(col("__cnt")).over(byChars))
      .withColumn("__n", sum(col("__cnt")).over(whole))
      .withColumn("__lo", col("__hi") - col("__cnt") + 1)
      .withColumn("__p1", ((col("__n") + 1) / 2).cast("long"))
      .withColumn("__p2", ((col("__n") + 2) / 2).cast("long"))
      .filter(col("__p1").between(col("__lo"), col("__hi")) ||
        col("__p2").between(col("__lo"), col("__hi")))
      .groupBy(col(srcCol))
      .agg(((sum(when(col("__p1").between(col("__lo"), col("__hi")),
          col("__chars").cast("double")).otherwise(lit(0.0))) +
        sum(when(col("__p2").between(col("__lo"), col("__hi")),
          col("__chars").cast("double")).otherwise(lit(0.0)))) / 2.0).as("median_chars"))
  }

  /** [[corpusStats]] at 100 TB shape: the distinct-content column comes
    * from a per-source HyperLogLog register table instead of
    * `COUNT(DISTINCT md5)`. Exact distinct pays a corpus-sized shuffle of
    * every distinct fingerprint; the sketch reduces map-side to ≤ m rows
    * per source, and the whole report stays ORACLE-EXACT because what it
    * publishes is deterministic sketch state:
    *
    *  - `hll_buckets`   — non-empty registers (exact int),
    *  - `hll_sum`       — the dyadic harmonic denominator
    *                      Σ 2^(49−rho) + (m−v)·2^49, exact BIGINT
    *                      (≤ m·2^49 ≈ 2.3·10¹⁸ at p=12),
    *  - `est_distinct`  — the raw HLL harmonic estimate: one double
    *                      division of exact integers with a constant
    *                      factor written identically on both engines, so
    *                      even the double is bit-identical cross-engine.
    *
    * `est_distinct` is the uncorrected estimator: the small-range
    * (linear-counting) correction needs `ln`, whose last-ulp rounding is
    * not pinned across engines — consumers needing it apply
    * [[Sketch.hllEstimate]]'s branch over the same published state
    * (v = hll_buckets), downstream of the gate.
    */
  def corpusStatsSketch(docs: DataFrame, srcCol: String, textCol: String,
                        charsCol: String, p: Int = 12): DataFrame = {
    val m = 1 << p
    val maxRho = Sketch.MaxRho
    val (bucket, rho) = Sketch.hllProjection(col(textCol), p)
    val slim = Caches.persist(docs.select(col(srcCol), col(charsCol).as("__chars"),
      graft.functions.TextFunctions.tokenCountWs(col(textCol)).cast("long").as("__tok"),
      bucket.as("__bucket"), rho.as("__rho")))
    val base = slim.groupBy(col(srcCol)).agg(
      count(lit(1)).as("n_docs"),
      sum(col("__tok")).as("total_tokens"))
    val regs = slim.groupBy(col(srcCol), col("__bucket"))
      .agg(max(col("__rho")).as("__rho"))
    val alphaM2P = s"((CAST(0.7213 AS DOUBLE) / (CAST(1.0 AS DOUBLE) + " +
      s"CAST(1.079 AS DOUBLE) / CAST($m AS DOUBLE))) * " +
      s"CAST(${m.toLong * m.toLong} AS DOUBLE) * CAST(${1L << maxRho} AS DOUBLE))"
    val hll = regs.groupBy(col(srcCol)).agg(
        count(lit(1)).as("hll_buckets"),
        sum(expr(s"shiftleft(CAST(1 AS BIGINT), $maxRho - __rho)")).as("__s_ne"))
      .withColumn("hll_sum",
        col("__s_ne") + (lit(m.toLong) - col("hll_buckets")) * lit(1L << maxRho))
      .withColumn("est_distinct", expr(s"$alphaM2P / CAST(hll_sum AS DOUBLE)"))
      .select(col(srcCol), col("hll_buckets"), col("hll_sum"), col("est_distinct"))
    base.join(histMedian(slim, srcCol), srcCol).join(hll, srcCol)
      .select(col(srcCol), col("n_docs"), col("total_tokens"), col("median_chars"),
        col("hll_buckets"), col("hll_sum"), col("est_distinct"))
  }

  /** EXACT per-group percentiles of a discrete value (doc lengths, token
    * counts) — [[corpusStats]]' histogram-median machinery generalized to
    * any percentile list, same reason: `percentile()`/`median()` buffer
    * every group value in executor memory (OOM at 10¹⁰-doc sources), while
    * the lossless frequency histogram is ~|groups × distinct values| rows
    * and the cumulative window carries two running longs of state.
    *
    * Percentile semantics (discrete, no interpolation): p-th percentile =
    * the smallest value whose cumulative count ≥ ⌈p·n⌉ — replayed
    * identically in SQL. The ⌈p·n⌉ position is one IEEE double product on
    * both engines, so the cut position is bit-identical cross-engine.
    * Output: one `p<N>` BIGINT column per requested percentile.
    */
  def lengthPercentiles(docs: DataFrame, srcCol: String, valueCol: String,
                        ps: Seq[Double] = Seq(0.5, 0.9, 0.99)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(ps.nonEmpty && ps.forall(p => p > 0.0 && p <= 1.0), s"bad percentiles $ps")
    val hist = docs.groupBy(col(srcCol), col(valueCol).as("__v"))
      .agg(count(lit(1)).as("__cnt"))
    val cum = hist
      .withColumn("__hi", sum(col("__cnt")).over(
        Window.partitionBy(srcCol).orderBy("__v")))
      .withColumn("__n", sum(col("__cnt")).over(Window.partitionBy(srcCol)))
    val aggs = ps.map { p =>
      val pos = ceil(col("__n") * lit(p)).cast("long")
      min(when(col("__hi") >= pos, col("__v"))).cast("long")
        .as(s"p${math.round(p * 100)}")
    }
    cum.groupBy(col(srcCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** Robust per-group outlier gate: median/MAD instead of mean/stddev —
    * the Hampel identifier. A curation corpus's length/score distributions
    * are heavy-tailed, and mean±k·σ moves WITH the outliers it should
    * flag; the median and the median-absolute-deviation are 50%-breakdown
    * estimators, so one garbage slice cannot drag the gate. Flags rows
    * with |value − median| > k·MAD. Returns (idCol, groupCol, value, med,
    * mad, is_outlier) for every row.
    *
    * All-integer: both medians come from [[lengthPercentiles]]' lossless
    * histogram CDF (discrete, no interpolation — a mean-based rule would
    * hinge on an unpinned stddev sqrt), so the verdict is a pure function
    * of the data, replayable in SQL. MAD = 0 (over half the group
    * identical) flags every value ≠ median — the documented Hampel edge.
    *
    * Scale shape: two histogram aggregations (each ~|groups × distinct
    * values| rows, map-side-combined) + two broadcast joins of |groups|-
    * row frames back onto the stream. Row bodies never shuffle; no
    * value-buffering percentile aggregate anywhere.
    */
  def robustOutliers(docs: DataFrame, idCol: String, groupCol: String,
                     valueCol: String, k: Int = 3): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val slim = docs.select(col(idCol), col(groupCol),
      col(valueCol).cast("long").as("value"))
    val med = lengthPercentiles(slim, groupCol, "value", Seq(0.5))
      .select(col(groupCol), col("p50").as("med"))
    val dev = slim.join(broadcast(med), groupCol)
      .withColumn("__adev", abs(col("value") - col("med")))
    val mad = lengthPercentiles(dev, groupCol, "__adev", Seq(0.5))
      .select(col(groupCol), col("p50").as("mad"))
    dev.join(broadcast(mad), groupCol)
      .select(col(idCol), col(groupCol), col("value"), col("med"), col("mad"),
        (col("__adev") > lit(k.toLong) * col("mad")).as("is_outlier"))
  }

  /** Per-group vocabulary CONCENTRATION — the Simpson index Σp² of the
    * unigram distribution (and its Gini-impurity complement 1−Σp²): the
    * "is this slice all one template?" diagnostic. A boilerplate-dominated
    * source concentrates its token mass on few types (Σp² → 1); diverse
    * prose spreads it (Σp² → 1/vocab). Shannon entropy is the textbook
    * statistic, but `ln` is not exactly rounded cross-engine — Simpson is
    * the same diagnostic as ONE pinned division (Σc² / M²), so the whole
    * row sits under the hash gate. Returns (groupCol, m_tokens, n_vocab,
    * sum_c2, simpson, gini).
    *
    * Scale shape: one doc-local explode, one map-side-combined count to
    * the slim (group, token) vocabulary, one map-side-combined reduction
    * to |groups| rows. Long Σc² holds to ~3·10⁹ occurrences of a single
    * type; past that widen to decimal(38,0) — the documented trade.
    */
  def vocabConcentration(docs: DataFrame, groupCol: String, textCol: String): DataFrame = {
    val counts = docs
      .select(col(groupCol), explode(TextFunctions.tokens(col(textCol))).as("w"))
      .groupBy(groupCol, "w").agg(count(lit(1)).as("c"))
    counts.groupBy(groupCol)
      .agg(sum("c").as("m_tokens"), count(lit(1)).as("n_vocab"),
        sum(col("c") * col("c")).as("sum_c2"))
      .withColumn("simpson",
        col("sum_c2").cast("double") / (col("m_tokens") * col("m_tokens")))
      .withColumn("gini", lit(1.0) - col("simpson"))
  }

  /** Vocabulary GROWTH curve (the Heaps'-law table): distinct token types
    * seen within the first N documents, for a checkpoint list of N — the
    * "is this corpus still giving us new vocabulary?" saturation signal
    * that decides when more of a source stops paying. "First N" is by the
    * id order, so the curve is a pure function of the corpus, not of
    * partitioning. Returns (n_docs, total_tokens, vocab) per checkpoint.
    *
    * Scale shape: a token's first appearance is one map-side-combined
    * `min(id)` to the slim vocabulary frame; each checkpoint is then a
    * conditional count over vocabulary-sized (not corpus-sized) data —
    * the checkpoint list broadcasts and the comparison runs inside the
    * aggregation, so the corpus tokenizes ONCE for the whole curve.
    */
  def vocabGrowth(docs: DataFrame, idCol: String, textCol: String,
                  checkpoints: Seq[Long]): DataFrame = {
    require(checkpoints.nonEmpty, "checkpoints must be non-empty")
    val spark = docs.sparkSession
    import spark.implicits._
    val cps = checkpoints.distinct.sorted.toDF("n_docs")
    val toks = docs.select(col(idCol).as("__id"),
      TextFunctions.tokens(col(textCol)).as("__t"))
    val firsts = toks.select(col("__id"), explode(col("__t")).as("w"))
      .groupBy("w").agg(min("__id").as("first_id"))
    val vocab = firsts.crossJoin(broadcast(cps))
      .groupBy("n_docs")
      .agg(sum(when(col("first_id") < col("n_docs"), 1L).otherwise(0L)).as("vocab"))
    val totals = toks.select(col("__id"), size(col("__t")).cast("long").as("__n"))
      .crossJoin(broadcast(cps))
      .groupBy("n_docs")
      .agg(sum(when(col("__id") < col("n_docs"), col("__n")).otherwise(0L))
        .as("total_tokens"))
    totals.join(vocab, "n_docs").select("n_docs", "total_tokens", "vocab")
  }

  /** Per-row empirical-CDF rank transform within a group — quantile
    * normalization: sources score on incomparable scales (one crawl's
    * "quality 7" is another's "quality 40"), and mixing on raw scores
    * over-selects whichever source scores generously. The rank transform
    * maps every row to its within-group ECDF value (share of the group
    * with value ≤ v), putting all groups on the same [0,1] scale.
    *
    * All-integer until ONE pinned division per row: the counts come from
    * the same lossless frequency histogram as [[lengthPercentiles]]
    * (windows run over |groups × distinct values| histogram rows, never
    * corpus rows), and rows join back on (group, value) — co-keyed, one
    * shuffle each side. Returns (idCol, groupCol, value, cum_le, n, pct).
    */
  def rankNormalize(docs: DataFrame, idCol: String, groupCol: String,
                    valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val slim = docs.select(col(idCol), col(groupCol),
      col(valueCol).cast("long").as("value"))
    val cum = slim.groupBy(col(groupCol), col("value")).agg(count(lit(1)).as("__cnt"))
      .withColumn("cum_le",
        sum(col("__cnt")).over(Window.partitionBy(groupCol).orderBy("value")))
      .withColumn("n", sum(col("__cnt")).over(Window.partitionBy(groupCol)))
      .select(col(groupCol), col("value"), col("cum_le"), col("n"))
    slim.join(cum, Seq(groupCol, "value"))
      .select(col(idCol), col(groupCol), col("value"), col("cum_le"), col("n"),
        (col("cum_le").cast("double") / col("n")).as("pct"))
  }

  /** Quantile mapping: carry `fromGroup`'s values onto `toGroup`'s
    * distribution — the rank-preserving transform behind cross-source
    * score alignment (quantile normalization in bioinformatics, CDF
    * matching in domain adaptation): a value at percentile p in the
    * source group maps to the smallest target value whose ECDF ≥ p.
    * [[rankNormalize]] puts every group on [0,1]; this goes the second
    * step and lands one group's scale ON another's.
    *
    * Scale shape: both ECDFs come from the lossless frequency-histogram
    * engine (windows over |distinct values| rows, never corpus rows); the
    * mapping join is |V_from| × |V_to| over the two DISTINCT-VALUE
    * frames — value-domain bounded, never corpus-sized — and rows join
    * back on (value), co-keyed. Exact-double ECDF comparisons (one pinned
    * division each side), so the mapped value is engine-exact.
    * Returns (idCol, value, pct, mapped) for every `fromGroup` row.
    */
  def quantileMap(docs: DataFrame, idCol: String, groupCol: String, valueCol: String,
                  fromGroup: String, toGroup: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def cdf(g: String) = docs
      .filter(col(groupCol) === g)
      .select(col(valueCol).cast("long").as("value"))
      .groupBy("value").agg(count(lit(1)).as("__cnt"))
      .withColumn("cum", sum(col("__cnt")).over(Window.orderBy("value")))
      .withColumn("n", sum(col("__cnt")).over(Window.partitionBy(lit(1))))
      .select(col("value"), (col("cum").cast("double") / col("n")).as("cdf"))
    val from = cdf(fromGroup)
    val to = cdf(toGroup)
    val mapping = from.select(col("value").as("b_value"), col("cdf").as("pct"))
      .join(to.select(col("value").as("a_value"), col("cdf").as("a_cdf")),
        col("a_cdf") >= col("pct"))
      .groupBy("b_value", "pct")
      .agg(min("a_value").as("mapped"))
    docs.filter(col(groupCol) === fromGroup)
      .select(col(idCol), col(valueCol).cast("long").as("value"))
      .join(mapping.withColumnRenamed("b_value", "value"), Seq("value"))
      .select(col(idCol), col("value"), col("pct"), col("mapped"))
  }

  /** Pairwise TOTAL-VARIATION distance between per-group unigram
    * distributions — the "which sources are distributionally
    * interchangeable?" mix diagnostic. KL/JS are the textbook choices but
    * need `ln` (not exactly rounded cross-engine); TV is the same
    * ranking as ONE pinned division per pair, via the overlap identity
    *   TV(p,q) = 1 − Σ_w min(c₁M₂, c₂M₁) / (M₁M₂)
    * which needs only the INNER join on shared words — words unique to
    * one group contribute through the identity, not through an outer
    * join. Returns (group_a, group_b, overlap_num, denom, tv).
    *
    * Scale shape: one doc-local explode + map-side-combined count to the
    * slim (group, word) vocabulary; one vocabulary-keyed self-join whose
    * fan-out is bounded by groups-per-word; |groups|-row totals broadcast
    * everywhere; the |groups|² pair frame is control-plane-sized. Long
    * c·M holds to ~2·10⁹ tokens per group (c·M < 2⁶³); past that widen
    * to decimal(38,0) — the documented [[vocabConcentration]] trade.
    */
  def distributionDistance(docs: DataFrame, groupCol: String, textCol: String): DataFrame = {
    val counts = Caches.persist(docs
      .select(col(groupCol).as("g"), explode(TextFunctions.tokens(col(textCol))).as("w"))
      .groupBy("g", "w").agg(count(lit(1)).as("c")))
    val totals = counts.groupBy("g").agg(sum("c").as("m"))
    val a = counts.join(broadcast(totals), "g")
      .select(col("g").as("ga"), col("w"), col("c").as("ca"), col("m").as("ma"))
    val b = counts.join(broadcast(totals), "g")
      .select(col("g").as("gb"), col("w"), col("c").as("cb"), col("m").as("mb"))
    val overlap = a.join(b, "w").filter(col("ga") < col("gb"))
      .groupBy("ga", "gb")
      .agg(sum(least(col("ca") * col("mb"), col("cb") * col("ma"))).as("num"))
    val pairs = totals.select(col("g").as("ga"), col("m").as("ma"))
      .crossJoin(broadcast(totals.select(col("g").as("gb"), col("m").as("mb"))))
      .filter(col("ga") < col("gb"))
    pairs.join(overlap, Seq("ga", "gb"), "left")
      .select(col("ga").as("group_a"), col("gb").as("group_b"),
        coalesce(col("num"), lit(0L)).as("overlap_num"),
        (col("ma") * col("mb")).as("denom"),
        (lit(1.0) - coalesce(col("num"), lit(0L)).cast("double") /
          (col("ma") * col("mb"))).as("tv"))
  }
}
