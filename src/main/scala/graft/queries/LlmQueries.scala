package graft.queries

import graft.GraftSession.table
import graft.functions.{TextFunctions => TF}
import graft.operators.{Ann, Caches, Curation, Dedup, Graph, Route, Winnow}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** LLM-training-data pipeline queries (SURVEY.md §2.3) over the `documents`
  * and `embeddings` tables.
  */
object LlmQueries {

  /** DuckDB mirror of [[TF.wordSet]]. */
  private val wordSetSql = """list_distinct(string_split_regex(lower(trim(text)), '\s+'))"""

  // ---- exact dedup -------------------------------------------------------
  /** `n_docs`/`keep_id` exact; `doc_ids` is the sampleCap=16 bounded audit
    * sample (numerically-lowest ids, string-sorted for display) — see
    * [[Dedup.exactGroups]] for the WindowGroupLimit bound.
    */
  def qDedupExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exactGroups(table(s, dir, "documents"), "doc_id", "text")
      .orderBy("fingerprint")

  val qDedupExactSql: String =
    """WITH fp AS (
      |  SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint
      |  FROM documents),
      |st AS (SELECT fingerprint, COUNT(*) AS n_docs, MIN(doc_id) AS keep_id
      |       FROM fp GROUP BY fingerprint),
      |capped AS (
      |  SELECT fingerprint, doc_id FROM (
      |    SELECT fingerprint, doc_id,
      |      row_number() OVER (PARTITION BY fingerprint ORDER BY doc_id) AS rn
      |    FROM fp) t WHERE rn <= 16),
      |ids AS (SELECT fingerprint,
      |          array_to_string(list_sort(list(CAST(doc_id AS VARCHAR))), ',') AS doc_ids
      |        FROM capped GROUP BY fingerprint)
      |SELECT st.fingerprint, st.n_docs, st.keep_id, ids.doc_ids, 16 AS sample_cap
      |FROM st JOIN ids USING (fingerprint)
      |ORDER BY fingerprint""".stripMargin

  def qDedupKeep(s: SparkSession, dir: String): DataFrame =
    Dedup.dropDuplicatesExact(table(s, dir, "documents"), "doc_id", "text")
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy("doc_id")

  val qDedupKeepSql: String =
    """WITH fp AS (
      |  SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS f
      |  FROM documents),
      |keep AS (SELECT min(doc_id) AS doc_id FROM fp GROUP BY f)
      |SELECT d.doc_id, d.lang, d.source, d.n_chars
      |FROM documents d JOIN keep USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin

  // ---- minhash-LSH near-dup (verified by exact jaccard) ------------------
  def qDedupMinhash(s: SparkSession, dir: String): DataFrame =
    Dedup.nearDupPairs(table(s, dir, "documents"), "doc_id", "text", threshold = 0.8)
      .orderBy("id_a", "id_b")

  /** Same operator FORCED down the banded bucket-join path (the 100 TB
    * branch — broadcastThreshold 0 routes past the broadcast probe), same
    * all-pairs oracle: both candidate strategies evaluate the identical
    * "∃ agreeing band key" predicate, so the oracle-exact evidence covers
    * the branch a large-corpus run takes, not just the small-corpus one.
    */
  def qDedupMinhashBanded(s: SparkSession, dir: String): DataFrame =
    Dedup.nearDupPairs(table(s, dir, "documents"), "doc_id", "text", threshold = 0.8,
        broadcastThreshold = 0L)
      .orderBy("id_a", "id_b")

  /** Oracle = exact all-pairs jaccard; matches because 20 bands × r=2 have
    * ~zero false-negative mass at j ≥ 0.8 (P[miss] = (1−0.8²)²⁰ ≈ 1.3e-9;
    * identical word sets collapse in canonicalization and never touch LSH).
    */
  val qDedupMinhashSql: String =
    s"""WITH w AS (SELECT doc_id, $wordSetSql AS words FROM documents)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  CAST(len(list_intersect(a.words, b.words)) AS DOUBLE) /
       |  CAST(len(list_distinct(list_concat(a.words, b.words))) AS DOUBLE) AS jaccard
       |FROM w a, w b
       |WHERE a.doc_id < b.doc_id
       |  AND CAST(len(list_intersect(a.words, b.words)) AS DOUBLE) /
       |      CAST(len(list_distinct(list_concat(a.words, b.words))) AS DOUBLE) >= 0.8
       |ORDER BY id_a, id_b""".stripMargin

  /** EXACT set-similarity join via prefix filtering (AllPairs/PPJoin
    * family): the deterministic twin of q_dedup_minhash — same threshold
    * (4/5), same all-pairs oracle, but candidate completeness is a theorem
    * (rarest-first prefix indexing), not a 1−(1−j^r)^b recall argument.
    * Passing the SAME hash gate as the minhash route proves the two
    * completely different candidate generators agree pair-for-pair.
    */
  def qSetSimJoin(s: SparkSession, dir: String): DataFrame =
    Dedup.prefixFilterPairs(table(s, dir, "documents"), "doc_id", "text", tNum = 4, tDen = 5)
      .orderBy("id_a", "id_b")

  /** P(candidate | jaccard = s) = 1 − (1 − s²)^bands at decile midpoints
    * s = (2d+1)/20 — exact BigInt rational floored to ppm, shared by the
    * query's literal column and the oracle SQL generator so both engines
    * carry the identical theory numbers.
    */
  private def lshTheoryPpm(bands: Int): Seq[(Int, Long)] =
    (5 to 9).map { d =>
      val num = BigInt(400 - (2 * d + 1) * (2 * d + 1)) // (1−s²)·400
      val den = BigInt(400)
      d -> (((den.pow(bands) - num.pow(bands)) * 1000000) / den.pow(bands)).toLong
    }

  /** LSH banding S-CURVE tuning report: does the deployed (bands, r)
    * actually deliver its textbook recall? Exact pairs at jaccard ≥ 0.5
    * (prefix-filter join — completeness by theorem, so the denominator
    * carries no recall caveat) bucket into similarity deciles; for each,
    * the EMPIRICAL candidate rate of a banded minhash against the
    * THEORETICAL 1 − (1−s²)^b at the decile midpoint. The report that
    * justifies "12 bands × r=2 at threshold 0.8" with measured numbers
    * instead of a formula citation — and catches a broken hash family
    * (empirical ≪ theory) before it silently under-deduplicates a corpus.
    *
    * The signature here is the CROSS-ENGINE md5 family (element i = min
    * over words of md5("mh{i}:" + w) mod 2³¹), so the candidate set —
    * LSH's actual behavior, bucket collisions included — replays in SQL
    * and sits under the hash gate; the production operator's xxhash64
    * signature can't (and needs no) mirror. Bucket join on the (band,
    * v₀, v₁) TUPLE, not a folded key — no overflow, same predicate.
    *
    * Scale shape: prefix-filter exact pairs (bounded explode, equi join),
    * signature = one token pass × k=24 md5s, bucket equi-join per band,
    * ≤5-row final groupBy.
    */
  def qLshTuning(s: SparkSession, dir: String): DataFrame = {
    val bands = 12; val r = 2
    val docs = table(s, dir, "documents")
    // r12 optimization (guide §8 "decide with small rows, count with
    // arithmetic"): both the exact-pair deciles and the empirical candidate
    // rate are pure functions of the WORD SET, so everything runs at the
    // distinct-set grain and doc-pair counts come from group-size products
    // — the 8.9M-row doc-pair expansion and the 10⁷-row bucket self-join +
    // distinct of the previous shape never materialize. Per verified rep
    // pair (complete by the prefix-filter theorem): weight n_a·n_b; per
    // n≥2 set: C(n,2) jaccard-1.0 pairs in decile 9. Candidate status =
    // "∃ band whose two minhash rows agree", evaluated as a literal-indexed
    // 12-term codegen'd OR on the two 24-long signatures (identical to the
    // bucket-join predicate: a bucket collision IS v₀∧v₁ agreement; docs
    // with identical sets have identical signatures, so an intra-set pair
    // is a candidate iff the set carries a signature at all).
    val sub = Dedup.prefixSub(docs, "doc_id", "text", 1, 2)
    // r13 (guide §8 "decide with small rows"): the signature is min-per-row
    // of a pure token→hash function, so hash the VOCABULARY once — 24 md5s
    // per distinct word — and take 24 element-wise mins per doc, instead of
    // 24 md5s per (doc, word) OCCURRENCE through nested interpreted
    // transform() lambdas (zipfian corpora repeat words ~50×: the md5 work
    // drops by the repeat factor and the per-element HOF dispatch goes
    // away; measured 3.4 s → 0.6 s warm for the signature leg). Values are
    // identical: min over a doc's words of h_i(w) ≡ min over its exploded
    // (doc, word) rows of the dictionary's h_i(w).
    val words = docs
      .join(sub.skel.select(col("g").as("doc_id")), "doc_id")
      .select(col("doc_id").as("g"), explode(TF.wordSet(col("text"))).as("w"))
    val dict = words.select("w").distinct()
      .select(col("w"), transform(sequence(lit(0), lit(bands * r - 1)), i =>
        graft.plans.NativeHash.md5Mod(
          concat(lit("mh"), i.cast("string"), lit(":"), col("w")), 2147483648L)).as("hs"))
    val minCols = (0 until bands * r).map(i => min(element_at(col("hs"), i + 1)).as(s"m$i"))
    // persisted: BOTH signature legs of the cross join read it — unpersisted
    // the vocabulary join + 24-min agg executed twice per run
    val sigG = Caches.persist(words.join(dict, "w")
      .groupBy("g")
      .agg(minCols.head, minCols.tail: _*)
      .select(col("g"), array((0 until bands * r).map(i => col(s"m$i")): _*).as("sig")))
    val bandHit = (0 until bands).map { b =>
      element_at(col("sig_a"), b * 2 + 1) === element_at(col("sig_b"), b * 2 + 1) &&
        element_at(col("sig_a"), b * 2 + 2) === element_at(col("sig_b"), b * 2 + 2)
    }.reduce(_ || _)
    val cross = sub.repPairs
      .select(col("id_a"), col("id_b"),
        least(floor(col("jaccard") * 10).cast("int"), lit(9)).as("decile"))
      .join(sub.skel.select(col("g").as("id_a"), col("n").as("na")), "id_a")
      .join(sub.skel.select(col("g").as("id_b"), col("n").as("nb")), "id_b")
      .join(sigG.select(col("g").as("id_a"), col("sig").as("sig_a")), Seq("id_a"), "left")
      .join(sigG.select(col("g").as("id_b"), col("sig").as("sig_b")), Seq("id_b"), "left")
      .select(col("decile"), (col("na") * col("nb")).as("w"),
        (col("sig_a").isNotNull && col("sig_b").isNotNull && bandHit).as("hit"))
    val intra = sub.skel.filter(col("n") >= 2)
      .join(sigG.select(col("g"), lit(true).as("p")), Seq("g"), "left")
      .select(lit(9).cast("int").as("decile"), expr("(n * (n - 1)) DIV 2").as("w"),
        coalesce(col("p"), lit(false)).as("hit"))
    val theory = lshTheoryPpm(bands).foldLeft(lit(null).cast("long")) {
      case (el, (d, ppm)) => when(col("decile") === d, lit(ppm)).otherwise(el)
    }
    cross.unionByName(intra)
      .groupBy("decile")
      .agg(sum("w").as("n_pairs"),
        coalesce(sum(when(col("hit"), col("w"))), lit(0L)).as("n_cand"))
      .withColumn("emp_ppm", expr("n_cand * 1000000 div n_pairs"))
      .withColumn("theory_ppm", theory)
      .orderBy("decile")
  }

  def qLshTuningSql: String = {
    val cases = lshTheoryPpm(12)
      .map { case (d, ppm) => s"WHEN $d THEN $ppm" }.mkString(" ")
    s"""WITH w AS (SELECT doc_id, $wordSetSql AS words FROM documents),
       |p AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |    CAST(least(CAST(floor(
       |      CAST(len(list_intersect(a.words, b.words)) AS DOUBLE) /
       |      CAST(len(list_distinct(list_concat(a.words, b.words))) AS DOUBLE) * 10)
       |      AS BIGINT), 9) AS INT) AS decile
       |  FROM w a, w b
       |  WHERE a.doc_id < b.doc_id
       |    AND CAST(len(list_intersect(a.words, b.words)) AS DOUBLE) /
       |        CAST(len(list_distinct(list_concat(a.words, b.words))) AS DOUBLE) >= 0.5),
       |sigsrc AS (
       |  SELECT doc_id, g.i AS i,
       |    CAST(min(md5_number_lower('mh' || g.i || ':' || t.wd) % 2147483648) AS BIGINT) AS v
       |  FROM (SELECT doc_id, unnest(words) AS wd FROM w) t,
       |       LATERAL unnest(generate_series(0, 23)) AS g(i)
       |  GROUP BY doc_id, g.i),
       |bk AS (
       |  SELECT a0.doc_id, a0.i // 2 AS b, a0.v AS v0, a1.v AS v1
       |  FROM sigsrc a0 JOIN sigsrc a1 ON a1.doc_id = a0.doc_id AND a1.i = a0.i + 1
       |  WHERE a0.i % 2 = 0),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
       |  FROM bk x JOIN bk y
       |    ON x.b = y.b AND x.v0 = y.v0 AND x.v1 = y.v1 AND x.doc_id < y.doc_id),
       |agg AS (
       |  SELECT decile, CAST(count(*) AS BIGINT) AS n_pairs,
       |    CAST(coalesce(sum(CASE WHEN c.id_a IS NOT NULL THEN 1 END), 0) AS BIGINT) AS n_cand
       |  FROM p LEFT JOIN cand c USING (id_a, id_b) GROUP BY decile)
       |SELECT decile, n_pairs, n_cand, n_cand * 1000000 // n_pairs AS emp_ppm,
       |  CAST(CASE decile $cases END AS BIGINT) AS theory_ppm
       |FROM agg ORDER BY decile""".stripMargin
  }

  /** Threshold-sensitivity curve for near-dup dedup: pair counts at
    * jaccard ≥ 0.7 / 0.8 / 0.9 from ONE exact pass — the tuning report
    * that shows what moving the dedup threshold would actually delete
    * BEFORE committing a corpus rebuild. The generator is the
    * prefix-filter join at the curve's floor (exact at every threshold
    * above it, by the same theorem), so the curve carries no recall
    * caveat at any point; a minhash-banded generator could not say that
    * at 0.7 (recall 1−(1−0.49)²⁰ leaves measurable false-negative mass).
    */
  def qDedupSweep(s: SparkSession, dir: String): DataFrame = {
    // r12 optimization (guide §8): pair COUNTS are group-size arithmetic
    // over the set-grain rep pairs — n_pairs(t) = Σ_{rep pairs, j≥t}
    // n_a·n_b + Σ_{sets} C(n,2) (identical-set pairs are jaccard 1.0 ≥
    // every t) — so the doc-pair expansion never materializes. Values are
    // unchanged; the oracle still replays the doc-grain all-pairs scan.
    val sub = Dedup.prefixSub(table(s, dir, "documents"), "doc_id", "text", 7, 10)
    val wPairs = Caches.persist(sub.repPairs
      .join(sub.skel.select(col("g").as("id_a"), col("n").as("na")), "id_a")
      .join(sub.skel.select(col("g").as("id_b"), col("n").as("nb")), "id_b")
      .select(col("jaccard"), (col("na") * col("nb")).as("w"))
      .unionByName(sub.skel.filter(col("n") >= 2)
        .select(lit(1.0).as("jaccard"), expr("(n * (n - 1)) DIV 2").as("w"))))
    Seq(0.7, 0.8, 0.9).map { t =>
      wPairs.agg(lit(t).as("threshold"),
        coalesce(sum(when(col("jaccard") >= t, col("w"))), lit(0L)).as("n_pairs"))
    }.reduce(_.unionByName(_)).orderBy("threshold")
  }

  val qDedupSweepSql: String = {
    def level(t: String) =
      s"SELECT CAST($t AS DOUBLE) AS threshold, CAST(coalesce(sum(CASE WHEN j >= $t THEN 1 END), 0) AS BIGINT) AS n_pairs FROM p"
    s"""WITH w AS (SELECT doc_id, $wordSetSql AS words FROM documents),
       |p AS (
       |  SELECT CAST(len(list_intersect(a.words, b.words)) AS DOUBLE) /
       |         CAST(len(list_distinct(list_concat(a.words, b.words))) AS DOUBLE) AS j
       |  FROM w a, w b
       |  WHERE a.doc_id < b.doc_id
       |    AND CAST(len(list_intersect(a.words, b.words)) AS DOUBLE) /
       |        CAST(len(list_distinct(list_concat(a.words, b.words))) AS DOUBLE) >= 0.7)
       |SELECT * FROM (
       |  ${level("0.7")}
       |  UNION ALL ${level("0.8")}
       |  UNION ALL ${level("0.9")})
       |ORDER BY threshold""".stripMargin
  }

  /** Keep-count sweep: how many documents SURVIVE near-dup dedup at
    * jaccard ≥ 0.7 / 0.8 / 0.9 — the corpus-planning companion to
    * `q_dedup_sweep`'s pair counts (pairs say how much similarity exists;
    * this says what the deduped corpus would actually be). One exact
    * set-grain rep-pair pass at the floor threshold, then per threshold:
    * filter edges, connected components at the DISTINCT-SET grain (the
    * canonicalization means identical-set docs always collapse, so
    * survivors = set-components — the doc-pair expansion never runs),
    * n_kept = n_sets − touched + components. The oracle replays each
    * threshold's transitive closure with a recursive CTE at the doc
    * grain — result-equal because identical-set docs are jaccard-1.0
    * connected at every threshold.
    */
  def qKeepSweep(s: SparkSession, dir: String): DataFrame =
    keepSweep(s, dir, collectEdgeThreshold = 1L << 22)

  /** @param collectEdgeThreshold byte-aware driver budget for the one-pass
    *                             sweep route (test seam — route equality is
    *                             spec-asserted)
    */
  private[graft] def keepSweep(s: SparkSession, dir: String,
                               collectEdgeThreshold: Long): DataFrame = {
    val docs = table(s, dir, "documents")
    // r12: prefixSub's rep pairs arrive AT the group-min LONG grain — the
    // per-query relabel joins this query used to pay (the r9 "longs collect
    // ~6× cheaper than md5 strings" fix) now live at the substrate source
    val sub = Dedup.prefixSub(docs, "doc_id", "text", 7, 10)
    val rp = Caches.persist(sub.repPairs
      .select(col("id_a").as("ga"), col("id_b").as("gb"), col("jaccard")))
    // r13 (§5 fewer driver round-trips): the rep-pair set is SET-GRAIN
    // bounded, and all three thresholds need only components/touched
    // counts over subsets of it — under the byte-aware budget, ONE collect
    // + three runs of the engine's driver union-find replace ~15
    // control-plane jobs. Above the budget each threshold runs
    // Graph.connectedComponents; both routes are spec-asserted row-equal
    // on the real corpus.
    val nPairs = rp.count()
    val nSetsScalar = sub.skel.count()
    val thresholds = Seq(0.7, 0.8, 0.9)
    // a collected pair is two long ids plus its jaccard double: 24 bytes
    val onDriver = nPairs <= Graph.driverEdgeBudget(collectEdgeThreshold, bytesPerEdge = 24.0)
    Route.record(s, "keep_sweep", if (onDriver) "driver" else "distributed")
    if (onDriver) {
      val pairs = rp.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      val rows = thresholds.map { t =>
        val labels = Graph.unionFind(pairs.iterator.collect { case (a, b, j) if j >= t => (a, b) })
        val ncomp = labels.count { case (n, c) => n == c }
        org.apache.spark.sql.Row(t, nSetsScalar - labels.size + ncomp)
      }
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("threshold", org.apache.spark.sql.types.DoubleType, nullable = false),
        org.apache.spark.sql.types.StructField("n_kept", org.apache.spark.sql.types.LongType, nullable = false)))
      s.createDataFrame(s.sparkContext.parallelize(rows, 1), schema).orderBy("threshold")
    } else {
      val nSets = sub.skel.agg(count(lit(1)).as("n_sets"))
      thresholds.map { t =>
        val labels = Graph.connectedComponents(rp.filter(col("jaccard") >= t), "ga", "gb",
          collectEdgeThreshold = collectEdgeThreshold)
        val counts = labels.agg(count(lit(1)).as("touched"),
          count(when(col("node") === col("comp"), lit(1))).as("ncomp"))
        nSets.crossJoin(counts)
          .select(lit(t).as("threshold"),
            (col("n_sets") - col("touched") + col("ncomp")).as("n_kept"))
      }.reduce(_.unionByName(_)).orderBy("threshold")
    }
  }

  val qKeepSweepSql: String = {
    def closure(tag: String, t: String) =
      s"""p$tag AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM w a, w b
         |  WHERE a.doc_id < b.doc_id
         |    AND CAST(len(list_intersect(a.words, b.words)) AS DOUBLE) /
         |        CAST(len(list_distinct(list_concat(a.words, b.words))) AS DOUBLE) >= $t),
         |e$tag AS (SELECT id_a AS src, id_b AS dst FROM p$tag
         |          UNION ALL SELECT id_b, id_a FROM p$tag),
         |r$tag(id, r) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e$tag.dst, r$tag.r FROM r$tag JOIN e$tag ON e$tag.src = r$tag.id),
         |k$tag AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_kept FROM (
         |    SELECT id, min(r) AS m FROM r$tag GROUP BY id) x WHERE x.m = x.id)""".stripMargin
    s"""WITH RECURSIVE w AS (SELECT doc_id, $wordSetSql AS words FROM documents),
       |${closure("7", "0.7")},
       |${closure("8", "0.8")},
       |${closure("9", "0.9")}
       |SELECT * FROM (
       |  SELECT CAST(0.7 AS DOUBLE) AS threshold, n_kept FROM k7
       |  UNION ALL SELECT CAST(0.8 AS DOUBLE), n_kept FROM k8
       |  UNION ALL SELECT CAST(0.9 AS DOUBLE), n_kept FROM k9)
       |ORDER BY threshold""".stripMargin
  }

  /** Pairwise Pearson correlation matrix over three exact document
    * metrics (chars, whitespace tokens, distinct tokens) in ONE
    * aggregation pass — the profiling companion to `q_trend_fit`'s OLS:
    * all nine moments (sums, squares, cross-products) accumulate as
    * decimal(38,0)/HUGEINT exact integers, and each correlation is a
    * MIRRORED IEEE tree (two sqrt, one division) over them, so the
    * doubles agree bit for bit cross-engine. Corpus rows move once; the
    * moment frame is one row.
    */
  def qCorrMatrix(s: SparkSession, dir: String): DataFrame = {
    val d = table(s, dir, "documents").select(
      col("n_chars").as("x"),
      size(TF.tokens(col("text"))).cast("long").as("y"),
      size(TF.wordSet(col("text"))).cast("long").as("z"))
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(20,0)")
    val m = Caches.persist(d.agg(
      count(lit(1)).cast("decimal(20,0)").as("n"),
      sum(dec(col("x"))).as("sx"), sum(dec(col("y"))).as("sy"), sum(dec(col("z"))).as("sz"),
      sum(dec(col("x") * col("x"))).as("qx"), sum(dec(col("y") * col("y"))).as("qy"),
      sum(dec(col("z") * col("z"))).as("qz"),
      sum(dec(col("x") * col("y"))).as("pxy"), sum(dec(col("x") * col("z"))).as("pxz"),
      sum(dec(col("y") * col("z"))).as("pyz")))
    def corr(name: String, sa: String, sb: String, qa: String, qb: String, p: String) =
      m.select(lit(name).as("pair"),
        ((col("n") * col(p) - col(sa) * col(sb)).cast("double") /
          (sqrt((col("n") * col(qa) - col(sa) * col(sa)).cast("double")) *
            sqrt((col("n") * col(qb) - col(sb) * col(sb)).cast("double")))).as("corr"))
    corr("chars_tokens", "sx", "sy", "qx", "qy", "pxy")
      .unionByName(corr("chars_distinct", "sx", "sz", "qx", "qz", "pxz"))
      .unionByName(corr("tokens_distinct", "sy", "sz", "qy", "qz", "pyz"))
      .orderBy("pair")
  }

  val qCorrMatrixSql: String = {
    def corr(name: String, sa: String, sb: String, qa: String, qb: String, p: String) =
      s"""SELECT '$name' AS pair,
         |  CAST(n * $p - $sa * $sb AS DOUBLE) /
         |  (sqrt(CAST(n * $qa - $sa * $sa AS DOUBLE)) *
         |   sqrt(CAST(n * $qb - $sb * $sb AS DOUBLE))) AS corr
         |FROM m""".stripMargin
    s"""WITH d AS (
       |  SELECT n_chars AS x,
       |    CAST(len(string_split_regex(lower(trim(text)), '\\s+')) AS BIGINT) AS y,
       |    CAST(len(list_distinct(string_split_regex(lower(trim(text)), '\\s+'))) AS BIGINT) AS z
       |  FROM documents),
       |m AS (
       |  SELECT CAST(count(*) AS HUGEINT) AS n,
       |    sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
       |    sum(CAST(z AS HUGEINT)) AS sz,
       |    sum(CAST(x * x AS HUGEINT)) AS qx, sum(CAST(y * y AS HUGEINT)) AS qy,
       |    sum(CAST(z * z AS HUGEINT)) AS qz,
       |    sum(CAST(x * y AS HUGEINT)) AS pxy, sum(CAST(x * z AS HUGEINT)) AS pxz,
       |    sum(CAST(y * z AS HUGEINT)) AS pyz
       |  FROM d)
       |SELECT * FROM (
       |  ${corr("chars_tokens", "sx", "sy", "qx", "qy", "pxy")}
       |  UNION ALL ${corr("chars_distinct", "sx", "sz", "qx", "qz", "pxz")}
       |  UNION ALL ${corr("tokens_distinct", "sy", "sz", "qy", "qz", "pyz")})
       |ORDER BY pair""".stripMargin
  }

  /** Declared-vs-detected language confusion matrix — the rollup of
    * `q_lang_id` a corpus QA review actually reads: per (labeled,
    * detected) cell, the document count and its share of the labeled
    * language (one pinned division). The report that catches a mislabeled
    * crawl slice or a lang-ID regression at a glance.
    */
  def qLangMismatch(s: SparkSession, dir: String): DataFrame = {
    // layout-capped scan rebalanced (r13): five marker regexes per doc ran
    // on however few tasks the file layout yields — identity at real widths
    val d = Caches.persist(graft.GraftSession.rebalanceScan(table(s, dir, "documents"))
      .select(col("lang").as("labeled_lang"), TF.langId(col("text")).as("detected_lang"))
      .groupBy("labeled_lang", "detected_lang").agg(count(lit(1)).as("n")))
    val tot = d.groupBy("labeled_lang").agg(sum("n").as("t"))
    d.join(tot, "labeled_lang")
      .select(col("labeled_lang"), col("detected_lang"), col("n"),
        (col("n").cast("double") / col("t").cast("double")).as("share"))
      .orderBy("labeled_lang", "detected_lang")
  }

  val qLangMismatchSql: String = {
    val hits = TF.langMarkers.map { case (lang, re) =>
      s"CAST(len(regexp_extract_all(lower(text), '$re')) AS INT) AS ${lang}_h"
    }.mkString(",\n  ")
    val gm = "greatest(" + TF.langMarkers.map(_._1 + "_h").mkString(", ") + ")"
    val cases = TF.langMarkers.map { case (lang, _) => s"WHEN ${lang}_h = gm THEN '$lang'" }.mkString(" ")
    s"""WITH h AS (SELECT doc_id, lang, $hits FROM documents),
       |g AS (SELECT *, $gm AS gm FROM h),
       |det AS (
       |  SELECT lang AS labeled_lang,
       |    CASE WHEN gm = 0 THEN 'und' $cases END AS detected_lang
       |  FROM g),
       |m AS (
       |  SELECT labeled_lang, detected_lang, CAST(count(*) AS BIGINT) AS n
       |  FROM det GROUP BY 1, 2),
       |t AS (SELECT labeled_lang, CAST(sum(n) AS BIGINT) AS t FROM m GROUP BY 1)
       |SELECT m.labeled_lang, m.detected_lang, m.n,
       |  CAST(m.n AS DOUBLE) / CAST(t.t AS DOUBLE) AS share
       |FROM m JOIN t USING (labeled_lang)
       |ORDER BY labeled_lang, detected_lang""".stripMargin
  }

  /** Blocking-quality confusion matrix: simhash hamming-≤3 candidates vs
    * the EXACT jaccard-≥0.8 truth set (the prefix-filter join — itself
    * zero-false-negative by theorem, so the truth leg needs no recall
    * caveat). tp/fp/fn plus precision/recall as pinned divisions — the
    * `q_ann_recall` sibling for text blocking: before shipping a cheap
    * 64-bit blocker at 100 TB, this is the query that says what it costs
    * in misses and wasted verifies.
    */
  def qSimhashEval(s: SparkSession, dir: String): DataFrame = {
    val docs = table(s, dir, "documents")
    // r13 (guide §8, the q_dedup_sweep/q_lsh_tuning counting precedent):
    // tp/fp/fn are COUNTS, so the ~3M-row doc-grain truth expansion and the
    // full-outer join it fed never need to materialize. |truth| is
    // group-size arithmetic over the set-grain substrate (Σ nₐ·n_b per rep
    // pair + Σ C(n,2) per n≥2 set — exactly what the expansion counted);
    // tp tests each of the ~1.7k simhash candidates for truth membership
    // (same set ⇒ jaccard 1, else canonical group pair ∈ repPairs — the
    // prefix-filter theorem makes repPairs complete above the threshold);
    // fp = |cand| − tp, fn = |truth| − tp. Values identical, the dominant
    // shuffle gone.
    val cand = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3)
    val sub = Dedup.prefixSub(docs, "doc_id", "text", 4, 5)
    val nTruth = sub.repPairs
      .join(sub.skel.select(col("g").as("id_a"), col("n").as("na")), "id_a")
      .join(sub.skel.select(col("g").as("id_b"), col("n").as("nb")), "id_b")
      .select((col("na") * col("nb")).as("w"))
      .unionByName(sub.skel.filter(col("n") >= 2)
        .select(expr("(n * (n - 1)) DIV 2").as("w")))
      .agg(coalesce(sum("w"), lit(0L)).as("n_truth"))
    val candG = cand
      .join(sub.keyed.select(col("id").as("id_a"), col("g").as("g1")), "id_a")
      .join(sub.keyed.select(col("id").as("id_b"), col("g").as("g2")), "id_b")
      .select(least(col("g1"), col("g2")).as("cga"),
        greatest(col("g1"), col("g2")).as("cgb"))
    val counts = candG
      .join(sub.repPairs.select(col("id_a").as("cga"), col("id_b").as("cgb"),
        lit(1).as("hit")), Seq("cga", "cgb"), "left")
      .agg(
        coalesce(sum(when(col("cga") === col("cgb") || col("hit").isNotNull, 1L)
          .otherwise(0L)), lit(0L)).as("tp"),
        count(lit(1)).as("n_cand"))
    counts.crossJoin(nTruth)
      .select(col("tp"), (col("n_cand") - col("tp")).as("fp"),
        (col("n_truth") - col("tp")).as("fn"))
      .select(col("tp"), col("fp"), col("fn"),
        (col("tp").cast("double") / (col("tp") + col("fp")).cast("double")).as("precision"),
        (col("tp").cast("double") / (col("tp") + col("fn")).cast("double")).as("recall"))
  }

  val qSimhashEvalSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t FROM documents),
       |fp AS (
       |  SELECT doc_id, list_reduce(list_transform(range(0, 64), b ->
       |    CASE WHEN list_sum(list_transform(t, w ->
       |           CASE WHEN (md5_number_lower(w) >> b) & 1 = 1 THEN 1 ELSE -1 END)) > 0
       |         THEN CAST(1 AS UBIGINT) << b ELSE CAST(0 AS UBIGINT) END),
       |    (a, b) -> a | b) AS sim
       |  FROM toks),
       |cand AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM fp a, fp b
       |  WHERE a.doc_id < b.doc_id AND bit_count(xor(a.sim, b.sim)) <= 3),
       |w AS (SELECT doc_id, $wordSetSql AS words FROM documents),
       |truth AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM w a, w b
       |  WHERE a.doc_id < b.doc_id
       |    AND CAST(len(list_intersect(a.words, b.words)) AS DOUBLE) /
       |        CAST(len(list_distinct(list_concat(a.words, b.words))) AS DOUBLE) >= 0.8),
       |j AS (
       |  SELECT c.id_a IS NOT NULL AS inc, t.id_a IS NOT NULL AS intr
       |  FROM cand c FULL OUTER JOIN truth t USING (id_a, id_b)),
       |m AS (
       |  SELECT CAST(sum(CASE WHEN inc AND intr THEN 1 ELSE 0 END) AS BIGINT) AS tp,
       |         CAST(sum(CASE WHEN inc AND NOT intr THEN 1 ELSE 0 END) AS BIGINT) AS fp,
       |         CAST(sum(CASE WHEN NOT inc AND intr THEN 1 ELSE 0 END) AS BIGINT) AS fn
       |  FROM j)
       |SELECT tp, fp, fn,
       |  CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) AS precision,
       |  CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) AS recall
       |FROM m""".stripMargin

  /** The near-dup MATERIALIZER: one surviving document per connected
    * component of the jaccard-≥0.8 graph (cluster-min id wins). The oracle
    * computes the same components with a recursive CTE over the all-pairs
    * edge list — transitive closure, not just pairs, sits under the hash
    * gate.
    */
  def qDedupNearKeep(s: SparkSession, dir: String): DataFrame =
    Dedup.dropDuplicatesNear(table(s, dir, "documents"), "doc_id", "text", threshold = 0.8)
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy("doc_id")

  val qDedupNearKeepSql: String =
    s"""WITH RECURSIVE w AS (SELECT doc_id, $wordSetSql AS words FROM documents),
       |p AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM w a, w b
       |  WHERE a.doc_id < b.doc_id
       |    AND CAST(len(list_intersect(a.words, b.words)) AS DOUBLE) /
       |        CAST(len(list_distinct(list_concat(a.words, b.words))) AS DOUBLE) >= 0.8),
       |e AS (SELECT id_a AS src, id_b AS dst FROM p
       |      UNION ALL SELECT id_b AS src, id_a AS dst FROM p),
       |reach(id, r) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.dst, reach.r FROM reach JOIN e ON e.src = reach.id),
       |cl AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id)
       |SELECT d.doc_id, d.lang, d.source, d.n_chars
       |FROM documents d JOIN cl USING (doc_id)
       |WHERE d.doc_id = cl.cluster_id
       |ORDER BY d.doc_id""".stripMargin

  // ---- incremental (batch-vs-corpus) dedup --------------------------------
  /** Every 4th doc plays the incoming batch; the rest are the existing
    * corpus. Survivors are batch docs with NO corpus near-duplicate at
    * jaccard ≥ 0.8 — the probe touches the corpus index without shuffling
    * it. The oracle is the direct all-pairs batch×corpus jaccard scan.
    */
  def qDedupIncremental(s: SparkSession, dir: String): DataFrame = {
    val docs = table(s, dir, "documents")
    Dedup.incrementalSurvivors(
        docs.filter(col("doc_id") % 4 =!= 0), docs.filter(col("doc_id") % 4 === 0),
        "doc_id", "text", threshold = 0.8)
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy("doc_id")
  }

  val qDedupIncrementalSql: String =
    s"""WITH w AS (SELECT doc_id, $wordSetSql AS words FROM documents),
       |hit AS (
       |  SELECT DISTINCT b.doc_id
       |  FROM w b, w c
       |  WHERE b.doc_id % 4 = 0 AND c.doc_id % 4 <> 0
       |    AND CAST(len(list_intersect(b.words, c.words)) AS DOUBLE) /
       |        CAST(len(list_distinct(list_concat(b.words, c.words))) AS DOUBLE) >= 0.8)
       |SELECT d.doc_id, d.lang, d.source, d.n_chars
       |FROM documents d
       |WHERE d.doc_id % 4 = 0 AND d.doc_id NOT IN (SELECT doc_id FROM hit)
       |ORDER BY d.doc_id""".stripMargin

  // ---- exact n-gram jaccard over a bounded window ------------------------
  def qNgramJaccard(s: SparkSession, dir: String): DataFrame =
    Dedup.jaccardPairs(table(s, dir, "documents").filter(col("doc_id") < 200), "doc_id", "text", 0.5)
      .orderBy("id_a", "id_b")

  val qNgramJaccardSql: String =
    s"""WITH w AS (SELECT doc_id, $wordSetSql AS words FROM documents WHERE doc_id < 200)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  CAST(len(list_intersect(a.words, b.words)) AS DOUBLE) /
       |  CAST(len(list_distinct(list_concat(a.words, b.words))) AS DOUBLE) AS jaccard
       |FROM w a, w b
       |WHERE a.doc_id < b.doc_id
       |  AND CAST(len(list_intersect(a.words, b.words)) AS DOUBLE) /
       |      CAST(len(list_distinct(list_concat(a.words, b.words))) AS DOUBLE) >= 0.5
       |ORDER BY id_a, id_b""".stripMargin

  // ---- ANN: brute-force cosine top-k ------------------------------------
  def qAnnCosine(s: SparkSession, dir: String): DataFrame = {
    val emb = table(s, dir, "embeddings")
    Ann.bruteForceTopK(emb.filter(col("vec_id") < 5), emb, "vec_id", "embedding", k = 10)
      .orderBy("query_id", "rank")
  }

  private val dotSql =
    "list_reduce(list_transform(list_zip(q.embedding, c.embedding), z -> CAST(z[1] AS DOUBLE)*CAST(z[2] AS DOUBLE)), (acc,v) -> acc+v)"
  private def normSql(t: String) =
    s"sqrt(list_reduce(list_transform($t.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)), (acc,v) -> acc+v))"

  val qAnnCosineSql: String =
    s"""WITH s AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    $dotSql / (${normSql("q")} * ${normSql("c")}) AS cosine
       |  FROM embeddings c, embeddings q
       |  WHERE q.vec_id < 5 AND q.vec_id <> c.vec_id)
       |SELECT query_id, neighbor_id, cosine, rank FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
       |  FROM s) t
       |WHERE rank <= 10
       |ORDER BY query_id, rank""".stripMargin

  // ---- text analysis -----------------------------------------------------
  def qTokenCount(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents")
      .select(col("doc_id"),
        TF.tokenCountWs(col("text")).cast("long").as("ws_tokens"),
        TF.tokenCountBpe(col("text")).cast("long").as("bpe_tokens"))
      .orderBy("doc_id")

  val qTokenCountSql: String =
    """SELECT doc_id,
      |  CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT) AS ws_tokens,
      |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9\s]')) AS BIGINT) AS bpe_tokens
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  def qLangId(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents")
      .select(col("doc_id"), col("lang").as("labeled_lang"), TF.langId(col("text")).as("detected_lang"))
      .orderBy("doc_id")

  val qLangIdSql: String = {
    val hits = TF.langMarkers.map { case (lang, re) =>
      s"CAST(len(regexp_extract_all(lower(text), '$re')) AS INT) AS ${lang}_h"
    }.mkString(",\n  ")
    val gm = "greatest(" + TF.langMarkers.map(_._1 + "_h").mkString(", ") + ")"
    val cases = TF.langMarkers.map { case (lang, _) => s"WHEN ${lang}_h = gm THEN '$lang'" }.mkString(" ")
    s"""WITH h AS (SELECT doc_id, lang, $hits FROM documents),
       |g AS (SELECT *, $gm AS gm FROM h)
       |SELECT doc_id, lang AS labeled_lang,
       |  CASE WHEN gm = 0 THEN 'und' $cases END AS detected_lang
       |FROM g
       |ORDER BY doc_id""".stripMargin
  }

  /** Reliability diagram for the language-ID heuristic against the
    * labeled `lang` column — the classifier-eval query every corpus
    * pipeline runs before trusting a filter: bucket docs by marker
    * EVIDENCE (best-language stopword hits, capped at 5+) and report
    * per-bucket accuracy in exact ppm. A well-calibrated detector shows
    * accuracy rising with evidence; a flat curve means the markers are
    * noise. All-integer: hit counts, argmax ties by marker order (the
    * [[TF.langId]] contract), ppm by integer division.
    *
    * Scale shape: one scan, per-row regex counts (codegen'd), ≤6-row
    * groupBy — the aggregate is map-side combined into nothing.
    */
  def qLangidCalibration(s: SparkSession, dir: String): DataFrame = {
    val hits = TF.langMarkers.map { case (_, re) => TF.stopwordHits(col("text"), re) }
    val best = hits.reduce((a, b) => greatest(a, b))
    table(s, dir, "documents")
      .select(col("lang"), TF.langId(col("text")).as("detected"),
        least(best, lit(5)).cast("int").as("conf_bin"))
      .groupBy("conf_bin")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("detected") === col("lang"), 1L).otherwise(0L)).as("n_correct"))
      .withColumn("acc_ppm", expr("n_correct * 1000000 div n_docs"))
      .orderBy("conf_bin")
  }

  val qLangidCalibrationSql: String = {
    val hits = TF.langMarkers.map { case (lang, re) =>
      s"CAST(len(regexp_extract_all(lower(text), '$re')) AS INT) AS ${lang}_h"
    }.mkString(",\n  ")
    val gm = "greatest(" + TF.langMarkers.map(_._1 + "_h").mkString(", ") + ")"
    val cases = TF.langMarkers.map { case (lang, _) => s"WHEN ${lang}_h = gm THEN '$lang'" }.mkString(" ")
    s"""WITH h AS (SELECT doc_id, lang, $hits FROM documents),
       |g AS (SELECT *, $gm AS gm FROM h),
       |d AS (SELECT lang,
       |        CASE WHEN gm = 0 THEN 'und' $cases END AS detected,
       |        CAST(least(gm, 5) AS INT) AS conf_bin
       |      FROM g),
       |b AS (SELECT conf_bin, CAST(count(*) AS BIGINT) AS n_docs,
       |        CAST(sum(CASE WHEN detected = lang THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
       |      FROM d GROUP BY conf_bin)
       |SELECT conf_bin, n_docs, n_correct, n_correct * 1000000 // n_docs AS acc_ppm
       |FROM b ORDER BY conf_bin""".stripMargin
  }

  /** Within-document word-entropy proxy on the integer bit-length lens —
    * the repetition tell [[qRepetition]]'s top-bigram ratio misses when a
    * doc cycles a SET of phrases: ent_bits = Σ_w c_w·(⌊log₂n⌋ − ⌊log₂c_w⌋)
    * = n·⌊log₂n⌋ − Σ c_w·⌊log₂c_w⌋, the floor-log analogue of n·H(doc).
    * Boilerplate pages (few distinct words, high counts) score near 0;
    * natural prose approaches n·⌊log₂ n_distinct⌋. All-integer, so the
    * score is engine- and partitioning-exact; `ent_x1000` is the exact
    * per-token division.
    *
    * Scale shape: token explode → (doc, word) groupBy (map-side combine
    * collapses each doc's words within its partition — a doc lives in one
    * row, so pre-shuffle size is per-doc DISTINCT words) → per-doc
    * aggregate. Both identities (Σc = n, the two-term split) let one
    * aggregate produce everything — no join back for n.
    */
  def qDocEntropy(s: SparkSession, dir: String): DataFrame = {
    val wc = table(s, dir, "documents")
      .select(col("doc_id"), explode(TF.tokens(col("text"))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
    wc.groupBy("doc_id")
      .agg(sum("c").as("n_tokens"), count(lit(1)).as("distinct_words"),
        sum(col("c") * (length(bin(col("c"))) - 1)).as("cbits"))
      .select(col("doc_id"), col("n_tokens"), col("distinct_words"),
        (col("n_tokens") * (length(bin(col("n_tokens"))) - 1) - col("cbits"))
          .as("ent_bits"))
      .withColumn("ent_x1000", expr("ent_bits * 1000 div n_tokens"))
      .orderBy("doc_id")
  }

  val qDocEntropySql: String =
    """WITH t AS (
      |  SELECT doc_id, w FROM (
      |    SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
      |    FROM documents)
      |  WHERE len(w) > 0),
      |wc AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS c FROM t GROUP BY 1, 2),
      |d AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
      |        CAST(count(*) AS BIGINT) AS distinct_words,
      |        CAST(sum(c * (len(bin(c)) - 1)) AS BIGINT) AS cbits
      |      FROM wc GROUP BY 1)
      |SELECT doc_id, n_tokens, distinct_words,
      |  n_tokens * (len(bin(n_tokens)) - 1) - cbits AS ent_bits,
      |  (n_tokens * (len(bin(n_tokens)) - 1) - cbits) * 1000 // n_tokens AS ent_x1000
      |FROM d ORDER BY doc_id""".stripMargin

  def qQualityScore(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents")
      .select(col("doc_id"), TF.qualityScore(col("text")).as("quality"))
      .orderBy("doc_id")

  val qQualityScoreSql: String =
    """SELECT doc_id,
      |  greatest(least(
      |    least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.5
      |    + least(CAST(len(regexp_extract_all(lower(text), '\b(the|a|of|and|to|in|is|it)\b')) AS DOUBLE)
      |            / greatest(CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS DOUBLE), 1.0) * 4.0, 1.0) * 0.5
      |    - least(CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE)
      |            / greatest(CAST(length(text) AS DOUBLE), 1.0) * 10.0, 1.0) * 0.25,
      |  1.0), 0.0) AS quality
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** Quality-weighted downsampling (CCNet shape): each doc kept with
    * probability = its quality score, via the deterministic salted-hash
    * draw ([[graft.functions.Sampling.weightedSampled]]) — expected output
    * fraction = corpus mean quality, no RNG anywhere.
    */
  def qWeightedSample(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents")
      .select(col("doc_id"), TF.qualityScore(col("text")).as("quality"))
      .filter(graft.functions.Sampling.weightedSampled(col("doc_id"), col("quality")))
      .orderBy("doc_id")

  val qWeightedSampleSql: String =
    """WITH s AS (
      |  SELECT doc_id,
      |    greatest(least(
      |      least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.5
      |      + least(CAST(len(regexp_extract_all(lower(text), '\b(the|a|of|and|to|in|is|it)\b')) AS DOUBLE)
      |              / greatest(CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS DOUBLE), 1.0) * 4.0, 1.0) * 0.5
      |      - least(CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE)
      |              / greatest(CAST(length(text) AS DOUBLE), 1.0) * 10.0, 1.0) * 0.25,
      |    1.0), 0.0) AS quality
      |  FROM documents)
      |SELECT doc_id, quality FROM s
      |WHERE CAST(md5_number_lower('ws:' || CAST(doc_id AS VARCHAR)) % 4294967296 AS DOUBLE)
      |      < quality * 4294967296.0
      |ORDER BY doc_id""".stripMargin

  def qFingerprint(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents")
      .select(col("doc_id"),
        TF.contentFingerprint(col("text")).as("fingerprint"),
        md5(substring(TF.normText(col("text")), 1, 100)).as("prefix_fp"))
      .orderBy("doc_id")

  val qFingerprintSql: String =
    """SELECT doc_id,
      |  md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint,
      |  md5(substr(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), 1, 100)) AS prefix_fp
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  // ---- text cleaning + redaction audit ------------------------------------
  def qTextClean(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents")
      .select(col("doc_id"),
        TF.cleanText(col("text")).as("clean_text"),
        TF.urlCount(col("text")).cast("long").as("n_urls"),
        TF.emailCount(col("text")).cast("long").as("n_emails"))
      .orderBy("doc_id")

  val qTextCleanSql: String =
    s"""SELECT doc_id,
       |  trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
       |    '${TF.UrlPattern}', '<URL>', 'g'),
       |    '${TF.EmailPattern}', '<EMAIL>', 'g'),
       |    '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]', '', 'g'),
       |    '\\s+', ' ', 'g')) AS clean_text,
       |  CAST(len(regexp_extract_all(text, '${TF.UrlPattern}')) AS BIGINT) AS n_urls,
       |  CAST(len(regexp_extract_all(text, '${TF.EmailPattern}')) AS BIGINT) AS n_emails
       |FROM documents
       |ORDER BY doc_id""".stripMargin

  // ---- PII redaction (email / IP / SSN / phone) ---------------------------
  /** Staged PII redaction with per-type counts. The synthetic corpus
    * carries no PII, so the query first ENRICHES every document with
    * deterministic doc_id-derived PII (an email, a phone number, an IPv4,
    * an SSN-shaped id) — both engines build the identical string, then both
    * replay the same four-stage redaction, so the oracle checks the real
    * pattern semantics, not a wall of zeros.
    */
  def qPiiRedact(s: SparkSession, dir: String): DataFrame = {
    val enriched = concat(col("text"),
      lit(" contact user"), col("doc_id").cast("string"),
      lit("@mail.example.com or +1 (555) 010-"),
      lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
      lit(" at 10.0."), pmod(col("doc_id"), lit(256)).cast("string"), lit("."),
      pmod(col("doc_id") * 7, lit(256)).cast("string"),
      lit(" ssn 123-45-"), lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
      lit("."))
    table(s, dir, "documents")
      .select(col("doc_id"), TF.piiRedact(enriched).as("p"))
      .select(col("doc_id"),
        col("p.n_email").cast("long").as("n_email"),
        col("p.n_ip").cast("long").as("n_ip"),
        col("p.n_ssn").cast("long").as("n_ssn"),
        col("p.n_phone").cast("long").as("n_phone"),
        col("p.redacted").as("redacted"))
      .orderBy("doc_id")
  }

  val qPiiRedactSql: String =
    s"""WITH enr AS (
       |  SELECT doc_id,
       |    text || ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com or +1 (555) 010-' ||
       |    lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' at 10.0.' ||
       |    CAST(doc_id % 256 AS VARCHAR) || '.' || CAST((doc_id * 7) % 256 AS VARCHAR) ||
       |    ' ssn 123-45-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || '.' AS t0
       |  FROM documents),
       |s1 AS (SELECT doc_id,
       |    CAST(len(regexp_extract_all(t0, '${TF.EmailPattern}')) AS BIGINT) AS n_email,
       |    regexp_replace(t0, '${TF.EmailPattern}', '<EMAIL>', 'g') AS t1 FROM enr),
       |s2 AS (SELECT doc_id, n_email,
       |    CAST(len(regexp_extract_all(t1, '${TF.Ipv4Pattern}')) AS BIGINT) AS n_ip,
       |    regexp_replace(t1, '${TF.Ipv4Pattern}', '<IP>', 'g') AS t2 FROM s1),
       |s3 AS (SELECT doc_id, n_email, n_ip,
       |    CAST(len(regexp_extract_all(t2, '${TF.SsnPattern}')) AS BIGINT) AS n_ssn,
       |    regexp_replace(t2, '${TF.SsnPattern}', '<SSN>', 'g') AS t3 FROM s2),
       |s4 AS (SELECT doc_id, n_email, n_ip, n_ssn,
       |    CAST(len(regexp_extract_all(t3, '${TF.PhonePattern}')) AS BIGINT) AS n_phone,
       |    regexp_replace(t3, '${TF.PhonePattern}', '<PHONE>', 'g') AS t4 FROM s3)
       |SELECT doc_id, n_email, n_ip, n_ssn, n_phone, t4 AS redacted
       |FROM s4
       |ORDER BY doc_id""".stripMargin

  // ---- corpus novelty / rarity score --------------------------------------
  /** Per-document NOVELTY: the fraction of its distinct 5-gram shingles
    * that occur in no other document (df ≤ 1) — exact duplicates score 0,
    * fully original text scores 1, template-with-slots text lands between.
    * All-integer counts until one final exactly-rounded division.
    */
  def qRarityScore(s: SparkSession, dir: String): DataFrame =
    graft.operators.TfIdf.rarityScore(table(s, dir, "documents"),
        "doc_id", "text", dfMax = 1, shingleN = 5)
      .orderBy("doc_id")

  val qRarityScoreSql: String =
    """WITH t AS (
      |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t FROM documents),
      |sh AS (
      |  SELECT doc_id, CASE WHEN len(t) >= 5
      |    THEN list_transform(range(0, len(t) - 4), i -> array_to_string(t[i+1:i+5], ' '))
      |    ELSE [array_to_string(t, ' ')] END AS gs
      |  FROM t),
      |terms AS (SELECT doc_id, unnest(list_distinct(gs)) AS term FROM sh),
      |df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM terms GROUP BY 1)
      |SELECT t.doc_id,
      |  CAST(COUNT(*) AS BIGINT) AS n_terms,
      |  CAST(SUM(CASE WHEN df.df <= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
      |  CAST(SUM(CASE WHEN df.df <= 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS rare_ratio
      |FROM terms t JOIN df USING (term)
      |GROUP BY t.doc_id
      |ORDER BY t.doc_id""".stripMargin

  // ---- repetition ratio (boilerplate/garbage signal) ----------------------
  /** Fraction of all word 2-grams taken by the single most frequent one —
    * the Gopher-style repetition quality gate.
    */
  /** Shuffle-free per-row computation via the native graft_top_ngram_ratio
    * expression (the explode+groupBy formulation shuffles every bigram
    * twice); docs with <2 tokens drop out identically to the oracle's
    * natural gram-less dropout.
    */
  def qRepetition(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents")
      .select(col("doc_id"), graft.plans.NativeHash.topNgramRatio(col("text"), 2).as("r"))
      .filter(col("r").isNotNull)
      .select(col("doc_id"), col("r.ratio").as("top_bigram_ratio"), col("r.total").as("n_bigrams"))
      .orderBy("doc_id")

  val qRepetitionSql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t FROM documents),
      |grams AS (
      |  SELECT doc_id, t[i] || ' ' || t[i+1] AS g
      |  FROM toks, unnest(range(1, len(t))) AS u(i)),
      |counts AS (SELECT doc_id, g, count(*) AS c FROM grams GROUP BY 1, 2)
      |SELECT doc_id,
      |  CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS top_bigram_ratio,
      |  CAST(sum(c) AS BIGINT) AS n_bigrams
      |FROM counts GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  // ---- embedding-cosine near-dup ------------------------------------------
  /** Semantic near-dup pairs over the embeddings table. Threshold 0.3 is
    * corpus-calibrated (≈ the 99th pairwise percentile of this synthetic
    * corpus — real near-dup corpora use ~0.95 on the same code path).
    */
  def qDedupEmbed(s: SparkSession, dir: String): DataFrame =
    Dedup.embedNearDupPairs(table(s, dir, "embeddings"), "vec_id", "embedding", threshold = 0.3)
      .orderBy("id_a", "id_b")

  val qDedupEmbedSql: String =
    s"""WITH p AS (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |    ${dotSql.replace("q.embedding", "a.embedding").replace("c.embedding", "b.embedding")} /
       |      (${normSql("a")} * ${normSql("b")}) AS cosine
       |  FROM embeddings a, embeddings b
       |  WHERE a.vec_id < b.vec_id)
       |SELECT id_a, id_b, cosine FROM p WHERE cosine >= 0.3
       |ORDER BY id_a, id_b""".stripMargin

  /** The multi-table LSH route FORCED under the brute-force all-pairs
    * oracle — the embedding mirror of how q_dedup_minhash_banded gates the
    * banded route against ground truth. 32 tables × 2 planes is the
    * recall-saturating configuration for THIS corpus's adversarially weak
    * pairs (true pairs sit at cosine 0.30–0.51, barely above the random
    * background — real near-dup corpora at 0.9+ reach the same recall with
    * ~8×8): every true pair collides in ≥3 tables at both sf0.01 and
    * sf0.1 (measured; the margin is asserted in VectorLshSpec), so the
    * LSH union equals the exact pair set and the hash gate is meaningful.
    * Everything is deterministic — md5 plane family, fixed data — so this
    * is a fact about the configuration, not a coin flip.
    */
  def qDedupEmbedLsh(s: SparkSession, dir: String): DataFrame =
    Dedup.embedNearDupPairsLsh(table(s, dir, "embeddings"), "vec_id", "embedding",
        threshold = 0.3, nTables = 32, planesPerTable = 2)
      .orderBy("id_a", "id_b")

  /** The PRODUCTION embed-LSH posture — 8 tables × 16 planes, the config
    * every scale run ships (PLANS.md, Round-6 deltas: 2¹⁶ buckets/table keeps
    * bucket occupancy — and with it per-task candidate work — O(corpus/
    * buckets); recall ≈ 0.97 on cosine-0.98 planted twins, measured ≥ 0.95).
    * Unlike the oracle-forced 32×2 twin above (4 buckets/table ⇒ (n/4)²
    * in-bucket pairs per table — quadratic BY CONSTRUCTION, kept only
    * because it saturates recall on this corpus's adversarially weak
    * 0.30–0.51-cosine pairs and so sits under the brute-force gate), this
    * entry IS the plan a 100 TB run executes. Its oracle replays the SAME
    * machinery in SQL — every table key (16 md5-plane sign bits packed
    * under the table id), the candidate equi-join, the exact-cosine verify
    * — so the production posture is hash-gated end to end, not just
    * recall-sampled. On this corpus the 8×16 keys admit only the strongest
    * pairs (by design — weak pairs are what 32×2 exists for), and the
    * oracle proves the surviving set exactly.
    */
  def qDedupEmbedLshProd(s: SparkSession, dir: String): DataFrame =
    Dedup.embedNearDupPairsLsh(table(s, dir, "embeddings"), "vec_id", "embedding",
        threshold = 0.3, nTables = 8, planesPerTable = 16)
      .orderBy("id_a", "id_b")

  val qDedupEmbedLshProdSql: String = {
    // global plane index g = t*16 + p; component = md5-derived [-0.5, 0.5)
    // — the same cross-engine plane family as every other LSH oracle
    val projSql =
      """list_reduce(list_transform(list_zip(embedding, range(0, len(embedding))), z ->
        |  CAST(z[1] AS DOUBLE) * ((md5_number_lower(CAST(t*16 + p AS VARCHAR) || ':' || CAST(z[2] AS VARCHAR)) % 1000) / 1000.0 - 0.5)),
        |  (acc, x) -> acc + x)""".stripMargin
    val keySql =
      s"""(CAST(t AS BIGINT) << 16) | list_reduce(list_transform(range(0, 16), p ->
         |  CASE WHEN $projSql > 0 THEN CAST(1 AS BIGINT) << p ELSE CAST(0 AS BIGINT) END),
         |  (acc, b) -> acc | b)""".stripMargin
    s"""WITH b AS (
       |  SELECT vec_id, unnest(list_transform(range(0, 8), t -> $keySql)) AS bk
       |  FROM embeddings),
       |cand AS (
       |  SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
       |  FROM b x JOIN b y ON x.bk = y.bk AND x.vec_id < y.vec_id),
       |p AS (
       |  SELECT cand.id_a, cand.id_b,
       |    $dotSql / (${normSql("q")} * ${normSql("c")}) AS cosine
       |  FROM cand
       |  JOIN embeddings q ON q.vec_id = cand.id_a
       |  JOIN embeddings c ON c.vec_id = cand.id_b)
       |SELECT id_a, id_b, cosine FROM p WHERE cosine >= 0.3
       |ORDER BY id_a, id_b""".stripMargin
  }

  // ---- deterministic hash split/sample -----------------------------------
  def qHashSplit(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents")
      .select(col("doc_id"),
        graft.functions.Sampling.md5Bucket(col("doc_id"), 100).as("bucket"),
        graft.functions.Sampling.split(col("doc_id"), trainPct = 80, valPct = 10).as("split"),
        graft.functions.Sampling.sampled(col("doc_id"), 10).as("in_sample"))
      .orderBy("doc_id")

  val qHashSplitSql: String =
    """SELECT doc_id,
      |  CAST(md5_number_lower(CAST(doc_id AS VARCHAR)) % 100 AS INT) AS bucket,
      |  CASE WHEN md5_number_lower(CAST(doc_id AS VARCHAR)) % 100 < 80 THEN 'train'
      |       WHEN md5_number_lower(CAST(doc_id AS VARCHAR)) % 100 < 90 THEN 'val'
      |       ELSE 'test' END AS split,
      |  md5_number_lower(CAST(doc_id AS VARCHAR)) % 100 < 10 AS in_sample
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  // ---- full curation pipeline (the gates composed) ------------------------
  /** The end-to-end curation shape a pretraining corpus runs: quality gate
    * (≥0.35) → repetition gate (top-bigram ratio ≤ 0.06, gram-less docs
    * pass) → exact-dedup keep (lowest id per fingerprint among survivors).
    * Every stage is an already-oracle-exact operator; this query pins their
    * COMPOSITION under the same gate.
    */
  def qCurationPipeline(s: SparkSession, dir: String): DataFrame = {
    val scored = table(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        TF.qualityScore(col("text")).as("quality"),
        graft.plans.NativeHash.topNgramRatio(col("text"), 2).getField("ratio").as("rep_ratio"),
        TF.contentFingerprint(col("text")).as("fp"))
    val gated = scored.filter(col("quality") >= 0.35 &&
      (col("rep_ratio").isNull || col("rep_ratio") <= 0.06))
    // dedup-keep via a window min instead of groupBy+join-back: ONE scan of
    // documents (the quality/repetition/fingerprint native exprs run once),
    // one shuffle on fp. The join-back formulation consumed `gated` twice,
    // recomputing the whole gate stack — at 100 TB that doubles the
    // dominant map cost.
    val byFp = org.apache.spark.sql.expressions.Window.partitionBy("fp")
    gated.withColumn("__keep", min("doc_id").over(byFp))
      .filter(col("doc_id") === col("__keep"))
      .select("doc_id", "lang", "quality", "rep_ratio")
      .orderBy("doc_id")
  }

  val qCurationPipelineSql: String =
    """WITH q AS (
      |  SELECT doc_id, lang, text,
      |    greatest(least(
      |      least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.5
      |      + least(CAST(len(regexp_extract_all(lower(text), '\b(the|a|of|and|to|in|is|it)\b')) AS DOUBLE)
      |              / greatest(CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS DOUBLE), 1.0) * 4.0, 1.0) * 0.5
      |      - least(CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE)
      |              / greatest(CAST(length(text) AS DOUBLE), 1.0) * 10.0, 1.0) * 0.25,
      |    1.0), 0.0) AS quality,
      |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
      |  FROM documents),
      |toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t FROM documents),
      |grams AS (SELECT doc_id, t[i] || ' ' || t[i+1] AS g FROM toks, unnest(range(1, len(t))) AS u(i)),
      |counts AS (SELECT doc_id, g, count(*) AS c FROM grams GROUP BY 1, 2),
      |rep AS (SELECT doc_id, CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS rep_ratio
      |        FROM counts GROUP BY doc_id),
      |gated AS (
      |  SELECT q.doc_id, q.lang, q.quality, rep.rep_ratio, q.fp
      |  FROM q LEFT JOIN rep ON q.doc_id = rep.doc_id
      |  WHERE q.quality >= 0.35 AND (rep.rep_ratio IS NULL OR rep.rep_ratio <= 0.06)),
      |keep AS (SELECT fp, min(doc_id) AS doc_id FROM gated GROUP BY fp)
      |SELECT g.doc_id, g.lang, g.quality, g.rep_ratio
      |FROM gated g JOIN keep k ON g.fp = k.fp AND g.doc_id = k.doc_id
      |ORDER BY g.doc_id""".stripMargin

  /** The FULL modern pretraining gate sequence, composed end-to-end under
    * one oracle (the r4 curation operators chained the way a production
    * corpus build runs them):
    *
    *   1. span-level dedup — repeated 10-token spans keep only their
    *      globally first occurrence; documents re-assemble from surviving
    *      spans (the rewritten text feeds every later stage)
    *   2. source quality gate — sources whose mean rewritten-text quality
    *      clears the corpus mean survive wholesale
    *   3. per-domain cap — ≤ 15 docs per source, md5-priority uniform
    *      (the row_number form auto-rewrites to the bounded graft_topk heap)
    *   4. decontamination — 3-gram containment ≤ 0.5 against the benchmark
    *      suite (every 50th doc), probed over the REWRITTEN text
    *
    * Scale shape: one full-corpus tokenization for the span stage; the gate
    * runs on a persisted slim scored frame; the cap ships ≤ cap rows per
    * source per map task; the benchmark shingle set broadcasts. Document
    * text moves only where a stage rewrites or probes it.
    */
  def qCurationPipelineV2(s: SparkSession, dir: String): DataFrame = {
    val docs = table(s, dir, "documents")
    val corp = docs.filter(col("doc_id") % 50 =!= 0)
    val bench = docs.filter(col("doc_id") % 50 === 0)
      .select(col("doc_id"), col("text").as("text_kept"))
    // 1. span dedup (rewrites text), source joined back for the gate
    val spanned = Dedup.removeRepeatedSpans(corp, "doc_id", "text", spanWords = 10)
      .join(corp.select(col("doc_id"), col("source")), "doc_id")
      .select("doc_id", "source", "text_kept")
    // 2. source-level quality gate on the REWRITTEN text
    val gated = Curation.sourceQualityGate(spanned, "doc_id", "source",
      TF.qualityScore(col("text_kept")))
    // 3. domain cap, md5-priority
    val capped = Curation.capPerGroup(gated, "doc_id", "source", cap = 15)
    // 4. decontaminate the survivors' rewritten text against the benchmark
    val working = capped.join(spanned.select("doc_id", "text_kept"), "doc_id")
    graft.operators.Decontaminate.dropContaminated(working, bench,
        "doc_id", "text_kept", n = 3, maxOverlap = 0.5)
      .select("doc_id", "source", "quality", "src_avg")
      .orderBy("doc_id")
  }

  val qCurationPipelineV2Sql: String = {
    def qualitySql(t: String): String =
      s"""greatest(least(
         |      least(CAST(length($t) AS DOUBLE) / 500.0, 1.0) * 0.5
         |      + least(CAST(len(regexp_extract_all(lower($t), '\\b(the|a|of|and|to|in|is|it)\\b')) AS DOUBLE)
         |              / greatest(CAST(len(string_split_regex(lower(trim($t)), '\\s+')) AS DOUBLE), 1.0) * 4.0, 1.0) * 0.5
         |      - least(CAST(len(regexp_extract_all($t, '[.,!?;:]')) AS DOUBLE)
         |              / greatest(CAST(length($t) AS DOUBLE), 1.0) * 10.0, 1.0) * 0.25,
         |    1.0), 0.0)""".stripMargin
    s"""WITH corp AS (SELECT * FROM documents WHERE doc_id % 50 <> 0),
       |words AS (
       |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w FROM corp),
       |spans AS (
       |  SELECT doc_id, i AS span_idx,
       |    array_to_string(list_slice(w, i*10 + 1, i*10 + 10), ' ') AS span
       |  FROM words, LATERAL unnest(generate_series(0, CAST(ceil(len(w) / 10.0) AS BIGINT) - 1)) AS g(i)),
       |flagged AS (
       |  SELECT doc_id, span_idx, span,
       |    row_number() OVER (PARTITION BY span ORDER BY doc_id, span_idx) = 1 AS kept
       |  FROM spans),
       |sp AS (
       |  SELECT f.doc_id, c.source,
       |    coalesce(array_to_string(list(span ORDER BY span_idx) FILTER (WHERE kept), ' '), '') AS text_kept
       |  FROM flagged f JOIN corp c USING (doc_id)
       |  GROUP BY f.doc_id, c.source),
       |q AS (SELECT doc_id, source, text_kept, ${qualitySql("text_kept")} AS quality FROM sp),
       |st AS (SELECT source, CAST(SUM(CAST(round(quality * 1000000.0) AS BIGINT)) AS BIGINT) AS qsum,
       |              count(*) AS src_docs FROM q GROUP BY source),
       |ga AS (SELECT CAST(SUM(qsum) AS BIGINT) AS tq, CAST(SUM(src_docs) AS BIGINT) AS td FROM st),
       |gated AS (
       |  SELECT q.doc_id, q.source, q.quality,
       |    CAST(st.qsum AS DOUBLE) / (CAST(st.src_docs AS DOUBLE) * 1000000.0) AS src_avg,
       |    q.text_kept
       |  FROM q JOIN st USING (source), ga
       |  WHERE CAST(st.qsum AS DOUBLE) / CAST(st.src_docs AS DOUBLE) >= CAST(ga.tq AS DOUBLE) / CAST(ga.td AS DOUBLE)),
       |capped AS (
       |  SELECT doc_id, source, quality, src_avg, text_kept FROM (
       |    SELECT *, row_number() OVER (PARTITION BY source
       |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
       |    FROM gated) t
       |  WHERE rn <= 15),
       |ct AS (SELECT doc_id, string_split_regex(lower(trim(text_kept)), '\\s+') AS t FROM capped),
       |csh0 AS (
       |  SELECT doc_id, CASE WHEN len(t) >= 3
       |    THEN list_transform(range(0, len(t) - 2), i -> array_to_string(t[i+1:i+3], ' '))
       |    ELSE [array_to_string(t, ' ')] END AS gs
       |  FROM ct),
       |bt AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
       |       FROM documents WHERE doc_id % 50 = 0),
       |bsh0 AS (
       |  SELECT doc_id, CASE WHEN len(t) >= 3
       |    THEN list_transform(range(0, len(t) - 2), i -> array_to_string(t[i+1:i+3], ' '))
       |    ELSE [array_to_string(t, ' ')] END AS gs
       |  FROM bt),
       |bsh AS (SELECT DISTINCT g FROM (SELECT unnest(list_distinct(gs)) AS g FROM bsh0)),
       |csh AS (SELECT doc_id, unnest(list_distinct(gs)) AS g FROM csh0),
       |hits AS (
       |  SELECT c.doc_id, count(*) AS n_shingles, count(b.g) AS matched
       |  FROM csh c LEFT JOIN bsh b ON c.g = b.g
       |  GROUP BY c.doc_id),
       |contaminated AS (
       |  SELECT doc_id FROM hits
       |  WHERE CAST(matched AS DOUBLE) / CAST(n_shingles AS DOUBLE) > 0.5)
       |SELECT c.doc_id, c.source, c.quality, c.src_avg
       |FROM capped c
       |WHERE c.doc_id NOT IN (SELECT doc_id FROM contaminated)
       |ORDER BY c.doc_id""".stripMargin
  }

  // ---- benchmark decontamination ------------------------------------------
  /** Every 50th doc plays the eval benchmark; the query returns the
    * surviving corpus docs with their 3-gram containment stats (docs whose
    * shingles are >50% contained in the benchmark set are contaminated and
    * dropped). The corpus's heavy near-dup structure guarantees real
    * contamination hits at sf scales.
    */
  def qDecontaminate(s: SparkSession, dir: String): DataFrame = {
    val docs = table(s, dir, "documents")
    graft.operators.Decontaminate.overlap(
        docs.filter(col("doc_id") % 50 =!= 0), docs.filter(col("doc_id") % 50 === 0),
        "doc_id", "text", n = 3)
      .withColumnRenamed("id", "doc_id")
      .filter(col("overlap_ratio") <= 0.5)
      .orderBy("doc_id")
  }

  val qDecontaminateSql: String =
    """WITH t AS (
      |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t FROM documents),
      |sh AS (
      |  SELECT doc_id, CASE WHEN len(t) >= 3
      |    THEN list_transform(range(0, len(t) - 2), i -> array_to_string(t[i+1:i+3], ' '))
      |    ELSE [array_to_string(t, ' ')] END AS gs
      |  FROM t),
      |bsh AS (SELECT DISTINCT g FROM (SELECT unnest(list_distinct(gs)) AS g FROM sh WHERE doc_id % 50 = 0)),
      |csh AS (SELECT doc_id, unnest(list_distinct(gs)) AS g FROM sh WHERE doc_id % 50 <> 0),
      |hits AS (
      |  SELECT c.doc_id, count(*) AS n_shingles, count(b.g) AS matched
      |  FROM csh c LEFT JOIN bsh b ON c.g = b.g
      |  GROUP BY c.doc_id)
      |SELECT doc_id, n_shingles, matched,
      |  CAST(matched AS DOUBLE) / CAST(n_shingles AS DOUBLE) AS overlap_ratio
      |FROM hits
      |WHERE CAST(matched AS DOUBLE) / CAST(n_shingles AS DOUBLE) <= 0.5
      |ORDER BY doc_id""".stripMargin

  // ---- stratified deterministic sampling ---------------------------------
  /** Corpus rebalancing: keep 25% of English, 70% of German, 50% of
    * everything else — hash-deterministic, so the sample is identical on
    * any engine and stable under repartitioning.
    */
  def qStratifiedSample(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents")
      .filter(graft.functions.Sampling.stratifiedSampled(
        col("doc_id"), col("lang"), Map("en" -> 25, "de" -> 70), defaultPct = 50))
      .select("doc_id", "lang")
      .orderBy("doc_id")

  val qStratifiedSampleSql: String =
    """SELECT doc_id, lang FROM documents
      |WHERE md5_number_lower(CAST(doc_id AS VARCHAR)) % 100 <
      |  CASE WHEN lang = 'en' THEN 25 WHEN lang = 'de' THEN 70 ELSE 50 END
      |ORDER BY doc_id""".stripMargin

  /** EXACT-k per-stratum downsample: each source keeps exactly its 100
    * hash-first documents (fewer if the source is smaller) — the "cap
    * every source at k docs" draw where a percentage can't promise a
    * count. Rank = md5-priority order with doc_id tie-break, so the
    * sample is deterministic, engine-stable, and INCREMENTAL (adding
    * docs can only displace from the boundary, never reshuffle). The
    * Filter(row_number ≤ k) form lowers to Spark's WindowGroupLimit
    * (partial mode runs BEFORE the exchange, so the shuffle carries ≤ k
    * rows per source per input partition, never the corpus — the same
    * bounded-shuffle property TopKRewriteRule gives attribute-ordered
    * windows; the computed md5 order key keeps that rule out here,
    * plan-asserted in DriftSampleSpec).
    */
  def qSampleExactK(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("source")
      .orderBy(graft.functions.Sampling.md5Lower(col("doc_id")), col("doc_id"))
    table(s, dir, "documents")
      .select(col("doc_id"), col("source"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 100)
      .select("source", "doc_id")
      .orderBy("source", "doc_id")
  }

  val qSampleExactKSql: String =
    """WITH r AS (
      |  SELECT source, doc_id,
      |    row_number() OVER (PARTITION BY source
      |      ORDER BY md5_number_lower(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      |  FROM documents)
      |SELECT source, doc_id FROM r WHERE rn <= 100
      |ORDER BY source, doc_id""".stripMargin

  // ---- token-budget corpus mixing -----------------------------------------
  /** Assemble a training mix: 400 tokens from src0, 900 from src1, 700
    * from every other source — hash-priority order, so the draw is
    * deterministic and incremental. The oracle replays the same total order
    * as ONE window per source; the operator computes it as a two-level
    * distributed prefix sum (see [[graft.operators.Mix]]).
    */
  def qTokenBudgetMix(s: SparkSession, dir: String): DataFrame =
    graft.operators.Mix.tokenBudget(table(s, dir, "documents"),
        "doc_id", "text", "source",
        budgets = Map("src0" -> 400L, "src1" -> 900L), defaultBudget = 700L)
      .orderBy("doc_id")

  val qTokenBudgetMixSql: String =
    """WITH t AS (
      |  SELECT doc_id, source,
      |    CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT) AS n_tokens,
      |    md5_number_lower(CAST(doc_id AS VARCHAR)) % 1000000 AS prio
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, source, n_tokens,
      |    SUM(n_tokens) OVER (PARTITION BY source ORDER BY prio % 64, prio, doc_id
      |                        ROWS UNBOUNDED PRECEDING) AS cum_tokens
      |  FROM t)
      |SELECT doc_id, source, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
      |FROM c
      |WHERE cum_tokens <= CASE WHEN source = 'src0' THEN 400
      |                         WHEN source = 'src1' THEN 900 ELSE 700 END
      |ORDER BY doc_id""".stripMargin

  // ---- temperature mixing (budgets from the corpus itself) ----------------
  /** Budgets derived by temperature sampling at α = 0.5: budget_s =
    * 3000 · √total_s / Σ√total — the data-balancing rule multilingual/
    * multi-domain mixes publish, with sqrt the one power both engines
    * round identically. The oracle replays weight quantization, the
    * integer allocation, AND the draw — the whole mix is hash-gated.
    */
  def qTemperatureMix(s: SparkSession, dir: String): DataFrame =
    graft.operators.Mix.temperatureMix(table(s, dir, "documents"),
        "doc_id", "text", "source", totalBudget = 3000L)
      .orderBy("doc_id")

  val qTemperatureMixSql: String =
    """WITH t AS (
      |  SELECT doc_id, source,
      |    CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT) AS n_tokens,
      |    md5_number_lower(CAST(doc_id AS VARCHAR)) % 1000000 AS prio
      |  FROM documents),
      |tot AS (SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS tot FROM t GROUP BY source),
      |w AS (SELECT source, CAST(floor(sqrt(CAST(tot AS DOUBLE)) * 1000000.0) AS BIGINT) AS w FROM tot),
      |b AS (SELECT source,
      |        CAST(CAST(3000 AS HUGEINT) * w // (SELECT SUM(w) FROM w) AS BIGINT) AS budget
      |      FROM w),
      |c AS (
      |  SELECT doc_id, source, n_tokens,
      |    SUM(n_tokens) OVER (PARTITION BY source ORDER BY prio % 64, prio, doc_id
      |                        ROWS UNBOUNDED PRECEDING) AS cum_tokens
      |  FROM t)
      |SELECT c.doc_id, c.source, c.n_tokens, CAST(c.cum_tokens AS BIGINT) AS cum_tokens
      |FROM c JOIN b USING (source)
      |WHERE c.cum_tokens <= b.budget
      |ORDER BY c.doc_id""".stripMargin

  /** Temperature mix at rational α = 1/4 — the integer-exact arbitrary-α
    * path under the gate. The oracle re-derives weight = ⌊10⁶·tot^(1/4)⌋
    * EXACTLY in SQL: a double `pow` seeds a candidate, then HUGEINT
    * arithmetic picks the greatest k in candidate±3 with k⁴ ≤ tot·10²⁴ —
    * the same floor the BigInt Newton root computes (double pow is within
    * a few ulps, so the ±3 window always brackets the true root; HUGEINT
    * verification is gate-exact to tot ≈ 1.7·10¹⁵ tokens, beyond any sf
    * here — the Scala side is BigInt-unbounded).
    */
  def qTemperatureMixAlpha(s: SparkSession, dir: String): DataFrame =
    graft.operators.Mix.temperatureMixAlpha(table(s, dir, "documents"),
        "doc_id", "text", "source", totalBudget = 3000L, alphaP = 1, alphaQ = 4)
      .orderBy("doc_id")

  val qTemperatureMixAlphaSql: String =
    """WITH t AS (
      |  SELECT doc_id, source,
      |    CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT) AS n_tokens,
      |    md5_number_lower(CAST(doc_id AS VARCHAR)) % 1000000 AS prio
      |  FROM documents),
      |tot AS (SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS tot FROM t GROUP BY source),
      |seed AS (SELECT source, tot,
      |           CAST(floor(pow(CAST(tot AS DOUBLE), 0.25) * 1000000.0) AS HUGEINT) AS c
      |         FROM tot),
      |w AS (SELECT source,
      |        list_max(list_filter([c-3, c-2, c-1, c, c+1, c+2, c+3],
      |          k -> k >= 0 AND k*k*k*k <=
      |               CAST(tot AS HUGEINT) * CAST('1000000000000000000000000' AS HUGEINT))) AS w
      |      FROM seed),
      |b AS (SELECT source,
      |        CAST(CAST(3000 AS HUGEINT) * w // (SELECT SUM(w) FROM w) AS BIGINT) AS budget
      |      FROM w),
      |c AS (
      |  SELECT doc_id, source, n_tokens,
      |    SUM(n_tokens) OVER (PARTITION BY source ORDER BY prio % 64, prio, doc_id
      |                        ROWS UNBOUNDED PRECEDING) AS cum_tokens
      |  FROM t)
      |SELECT c.doc_id, c.source, c.n_tokens, CAST(c.cum_tokens AS BIGINT) AS cum_tokens
      |FROM c JOIN b USING (source)
      |WHERE c.cum_tokens <= b.budget
      |ORDER BY c.doc_id""".stripMargin

  // ---- epoch mixing (up-sampling) -----------------------------------------
  /** Up-sampling mix: src0's 4000-token budget ≈ 2.8 epochs of its ~1435
    * tokens (2 full repeats + a hash-priority partial), src1's 800 is a
    * partial draw only, every other source gets 1500 (≈ one epoch ± a
    * partial). One row per (doc, epoch).
    */
  def qEpochMix(s: SparkSession, dir: String): DataFrame =
    graft.operators.Mix.epochMix(table(s, dir, "documents"),
        "doc_id", "text", "source",
        budgets = Map("src0" -> 4000L, "src1" -> 800L), defaultBudget = 1500L)
      .orderBy("doc_id", "epoch")

  val qEpochMixSql: String =
    """WITH t AS (
      |  SELECT doc_id, source,
      |    CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT) AS n_tokens,
      |    md5_number_lower(CAST(doc_id AS VARCHAR)) % 1000000 AS prio
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, source, n_tokens,
      |    SUM(n_tokens) OVER (PARTITION BY source ORDER BY prio % 64, prio, doc_id
      |                        ROWS UNBOUNDED PRECEDING) AS cum_tokens,
      |    SUM(n_tokens) OVER (PARTITION BY source) AS tot,
      |    CASE WHEN source = 'src0' THEN 4000
      |         WHEN source = 'src1' THEN 800 ELSE 1500 END AS budget
      |  FROM t),
      |e AS (
      |  SELECT doc_id, source, n_tokens,
      |    CAST(FLOOR(budget * 1.0 / tot) AS BIGINT) +
      |      CASE WHEN cum_tokens <= budget % tot THEN 1 ELSE 0 END AS n_ep
      |  FROM c)
      |SELECT doc_id, source, n_tokens,
      |  CAST(unnest(generate_series(0, n_ep - 1)) AS BIGINT) AS epoch
      |FROM e WHERE n_ep > 0
      |ORDER BY doc_id, epoch""".stripMargin

  // ---- corpus tf-idf ------------------------------------------------------
  /** Top-3 characteristic terms per document by tf·N/df (raw-ratio idf —
    * same ranking as ln, exactly-rounded on every engine; see
    * [[graft.operators.TfIdf]]).
    */
  def qTfidfTopk(s: SparkSession, dir: String): DataFrame =
    graft.operators.TfIdf.topKTerms(table(s, dir, "documents"), "doc_id", "text", 3)
      .orderBy("doc_id", "term_rank")

  val qTfidfTopkSql: String =
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
      |  FROM documents),
      |tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2),
      |df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
      |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
      |sc AS (
      |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
      |    CAST(tf.tf * n.n AS DOUBLE) / df.df AS score,
      |    ROW_NUMBER() OVER (PARTITION BY tf.doc_id
      |      ORDER BY CAST(tf.tf * n.n AS DOUBLE) / df.df DESC, tf.term) AS rnk
      |  FROM tf JOIN df USING (term) CROSS JOIN n)
      |SELECT doc_id, term, tf, df, score, CAST(rnk AS INT) AS term_rank
      |FROM sc WHERE rnk <= 3
      |ORDER BY doc_id, rnk""".stripMargin

  // ---- sequence packing (GPT-style pack-then-chunk) ----------------------
  /** Pack each (lang, shard) document stream into 2048-token windows;
    * every doc reports its sequence id and token offset. Sharding keeps
    * packing parallel (|strata|×shards streams) and deterministic.
    */
  def qSeqPack(s: SparkSession, dir: String): DataFrame =
    graft.operators.Pack.packSequences(table(s, dir, "documents"),
        "doc_id", "text", "lang", maxTokens = 2048, shards = 8)
      .select("doc_id", "lang", "shard", "n_tokens", "seq_id", "seq_offset")
      .orderBy("doc_id")

  val qSeqPackSql: String =
    """WITH t AS (
      |  SELECT doc_id, lang,
      |    CAST(md5_number_lower(CAST(doc_id AS VARCHAR)) % 8 AS INT) AS shard,
      |    CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT) AS n_tokens
      |  FROM documents),
      |c AS (
      |  SELECT *, SUM(n_tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id
      |                                ROWS UNBOUNDED PRECEDING) AS cum
      |  FROM t)
      |SELECT doc_id, lang, shard, n_tokens,
      |  CAST((cum - n_tokens) // 2048 AS BIGINT) AS seq_id,
      |  CAST((cum - n_tokens) % 2048 AS BIGINT) AS seq_offset
      |FROM c ORDER BY doc_id""".stripMargin

  // ---- overlapping token-window chunking (RAG prep) ----------------------
  /** 64-token chunks stepping by 48 (16-token overlap); the last chunk of a
    * document runs short. Purely per-row — the oracle replays the identical
    * start grid and slices.
    */
  def qDocChunk(s: SparkSession, dir: String): DataFrame =
    graft.operators.Pack.chunkTokens(table(s, dir, "documents"),
        "doc_id", "text", chunkSize = 64, stride = 48)
      .orderBy("doc_id", "chunk_idx")

  val qDocChunkSql: String =
    """WITH w AS (
      |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t FROM documents),
      |c AS (
      |  SELECT doc_id,
      |    CAST(g.i // 48 AS INT) AS chunk_idx,
      |    CAST(g.i AS INT) AS chunk_start,
      |    CAST(least(len(t) - g.i, 64) AS INT) AS n_chunk_tokens,
      |    array_to_string(list_slice(t, g.i + 1, g.i + 64), ' ') AS chunk_text
      |  FROM w, LATERAL unnest(generate_series(0, CAST(greatest(len(t) - 1, 0) AS BIGINT), 48)) AS g(i)
      |  WHERE len(t) > 0)
      |SELECT doc_id, chunk_idx, chunk_start, n_chunk_tokens, chunk_text
      |FROM c
      |ORDER BY doc_id, chunk_idx""".stripMargin

  // ---- token-budget shard assignment (corpus output layout) ---------------
  /** 1500-token output shards over the deterministic (bucket, priority, id)
    * global order — a document belongs to the shard its first token lands
    * in. The oracle replays the same order with one window; the operator
    * computes it as the two-level distributed prefix sum.
    */
  def qShardAssign(s: SparkSession, dir: String): DataFrame =
    graft.operators.Mix.shardAssign(table(s, dir, "documents"),
        "doc_id", "text", shardTokens = 1500L)
      .orderBy("doc_id")

  val qShardAssignSql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT) AS n_tokens,
      |    md5_number_lower(CAST(doc_id AS VARCHAR)) % 1000000 AS prio
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, n_tokens,
      |    SUM(n_tokens) OVER (ORDER BY prio % 64, prio, doc_id
      |                        ROWS UNBOUNDED PRECEDING) AS cum_tokens
      |  FROM t)
      |SELECT doc_id, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens,
      |  CAST((cum_tokens - n_tokens) // 1500 AS BIGINT) AS shard_id
      |FROM c
      |ORDER BY doc_id""".stripMargin

  // ---- rows-only queries (no SQL-expressible oracle) ---------------------
  /** maxHamming = 3 keeps the 16-bit-quarter bucketing pigeonhole-COMPLETE
    * (any ≤3-bit-distant pair shares a quarter), so the bucketed result
    * equals the all-pairs scan the oracle runs — value-exact, not
    * approximate. The md5-family fingerprints are DuckDB-reproducible.
    */
  def qDedupSimhash(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairs(table(s, dir, "documents"), "doc_id", "text", maxHamming = 3)
      .orderBy("id_a", "id_b")

  val qDedupSimhashSql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t FROM documents),
      |fp AS (
      |  SELECT doc_id, list_reduce(list_transform(range(0, 64), b ->
      |    CASE WHEN list_sum(list_transform(t, w ->
      |           CASE WHEN (md5_number_lower(w) >> b) & 1 = 1 THEN 1 ELSE -1 END)) > 0
      |         THEN CAST(1 AS UBIGINT) << b ELSE CAST(0 AS UBIGINT) END),
      |    (a, b) -> a | b) AS sim
      |  FROM toks)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |  CAST(bit_count(xor(a.sim, b.sim)) AS INT) AS hamming
      |FROM fp a, fp b
      |WHERE a.doc_id < b.doc_id AND bit_count(xor(a.sim, b.sim)) <= 3
      |ORDER BY id_a, id_b""".stripMargin

  def qAnnLsh(s: SparkSession, dir: String): DataFrame = {
    val emb = table(s, dir, "embeddings")
    // nTables=1 is exactly the classic single-table bucket search (same
    // plane family) — the oracle below replays those bucket ids
    Ann.lshTopK(emb.filter(col("vec_id") < 5), emb, "vec_id", "embedding", k = 10,
        nTables = 1, planesPerTable = 4)
      .orderBy("query_id", "rank")
  }

  /** The hyperplane components are md5-derived with the cross-engine
    * formula (see VectorFunctions.lshBucket), so even the LSH bucket ids
    * are oracle-reproducible: the whole bucketed search is value-exact, not
    * rows-only.
    */
  val qAnnLshSql: String = {
    val planeSql = "((md5_number_lower(CAST(p AS VARCHAR) || ':' || CAST(z[2] AS VARCHAR)) % 1000) / 1000.0 - 0.5)"
    val bucketSql =
      s"""list_reduce(list_transform(range(0, 4), p ->
         |  CASE WHEN list_reduce(list_transform(list_zip(embedding, range(0, len(embedding))), z ->
         |         CAST(z[1] AS DOUBLE) * $planeSql), (acc, x) -> acc + x) > 0
         |       THEN CAST(1 AS BIGINT) << p ELSE CAST(0 AS BIGINT) END),
         |  (acc, b) -> acc | b)""".stripMargin
    s"""WITH b AS (
       |  SELECT vec_id, embedding, $bucketSql AS bucket FROM embeddings),
       |s AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    $dotSql / (${normSql("q")} * ${normSql("c")}) AS cosine
       |  FROM b c JOIN b q ON c.bucket = q.bucket
       |  WHERE q.vec_id < 5 AND q.vec_id <> c.vec_id)
       |SELECT query_id, neighbor_id, cosine, rank FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
       |  FROM s) t
       |WHERE rank <= 10
       |ORDER BY query_id, rank""".stripMargin
  }

  /** Dataset tag for fixture paths: last path segment + a short hash of the
    * absolute path. Fixtures are keyed by the dataset they were trained on
    * so a CONCURRENT JVM (a unit suite training on its own temp corpus)
    * can never clobber the centroids a Verify run pinned between the dump
    * and the DuckDB oracle replay — the failure mode a shared path has.
    */
  private def dataTag(dir: String): String = {
    val abs = new java.io.File(dir).getAbsolutePath
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(abs.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
    val name = abs.substring(abs.lastIndexOf('/') + 1).replaceAll("[^A-Za-z0-9._-]", "_")
    s"${name}_$h"
  }

  /** Absolute path of the persisted IVF centroid fixture for `dir`. Training
    * is deterministic (seeded k-means on the lowest-id sample), so the
    * fixture content is a pure function of (corpus, nlist, iters) — but
    * k-means itself is not SQL-expressible, so the CENTROIDS are pinned on
    * disk and the oracle reproduces everything downstream of training
    * (nearest-cell assignment, nprobe probe routing, in-cell search,
    * ranking) in pure SQL over the same float bits.
    */
  def ivfCentroidFixture(dir: String): String =
    new java.io.File(s"target/verify_fixtures/ivf_centroids_n16i1_${dataTag(dir)}.parquet").getAbsolutePath

  // The dataset qAnnIvf last pinned centroids for. Verify dumps the
  // oracle SQL AFTER running the query in the same JVM, so the dumped SQL
  // always reads the fixture that run wrote.
  private val lastIvfDir = new java.util.concurrent.atomic.AtomicReference[String](".")

  /** Pin a deterministic training artifact (centroids, merge tables) at
    * `fixture` WITHOUT the delete/rewrite race a blind
    * `mode("overwrite")` has. Training always runs (it is cheap and
    * deterministic) into a PRIVATE temp dir; the result then compares
    * against the existing fixture:
    *
    *  - content equal (the common case — same dataset ⇒ same training):
    *    nothing touches the published path, so a concurrent JVM mid-read
    *    or mid-DuckDB-replay of the same fixture can never observe a
    *    delete/write window;
    *  - content differs (the dataset at this path CHANGED — path-keyed
    *    fixtures would otherwise go silently stale) or no complete
    *    fixture exists: the temp dir RENAMES into place (atomic on a
    *    local/HDFS filesystem; readers see old or new, never partial).
    *    Losing a rename race just means the concurrent writer's
    *    identical bytes won.
    */
  /** Fixture paths this JVM has already pinned. Training is a deterministic
    * pure function of (corpus path, params) and the fixture file name encodes
    * both — so re-running `build()` on a later invocation in the SAME process
    * can only reproduce identical bytes. Without this gate every `q_bpe_*`
    * invocation re-ran the corpus word-count aggregation (and `q_bpe_encode`
    * a second scan for the vocab) before the query proper — at 100 TB that is
    * a full corpus re-scan per query. Within one JVM the corpus at a path is
    * assumed stable (the same contract as any cached table); cross-JVM and
    * cross-process pinning keeps the atomic-rename compare in [[pinFixture]].
    */
  private val pinnedOnce =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def pinFixtureOnce(build: () => DataFrame, fixture: String,
                             spark: SparkSession): Unit =
    if (!pinnedOnce.contains(fixture)) {
      pinFixture(build, fixture, spark)
      pinnedOnce.add(fixture)
    }

  private def pinFixture(build: () => DataFrame, fixture: String,
                           spark: SparkSession): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI("file:///"), spark.sparkContext.hadoopConfiguration)
    val dst = new org.apache.hadoop.fs.Path(fixture)
    val ok = new org.apache.hadoop.fs.Path(fixture, "_SUCCESS")
    val tmp = new org.apache.hadoop.fs.Path(
      fixture + ".tmp-" + java.util.UUID.randomUUID.toString.take(8))
    build().coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    // fixtures are tiny by construction (≤ nlist centroid rows / numMerges
    // merge rows) — row-level compare is a driver-side no-op in cost
    def rows(p: org.apache.hadoop.fs.Path) =
      spark.read.parquet(p.toString).collect().map(_.toSeq.toString).sorted.toSeq
    if (fs.exists(ok) && rows(dst) == rows(tmp)) {
      fs.delete(tmp, true)
      return
    }
    fs.delete(dst, true) // stale content or incomplete dir — replace
    if (!fs.rename(tmp, dst)) {
      require(fs.exists(ok), s"fixture rename to $fixture failed and no complete fixture exists")
      fs.delete(tmp, true)
    }
  }

  /** Multi-table hyperplane LSH ANN (OR-of-ANDs, 8 tables × 4 planes).
    * The oracle re-derives every table key in SQL — key t = (t << 4) |
    * sign bits of md5-derived global planes t·4..t·4+3 — so the whole
    * multi-table candidate union + rank is value-exact under the hash
    * gate, exactly like q_ann_lsh gates the single-table route.
    */
  def qAnnLshMulti(s: SparkSession, dir: String): DataFrame = {
    val emb = table(s, dir, "embeddings")
    Ann.lshTopK(emb.filter(col("vec_id") < 5), emb, "vec_id", "embedding", k = 10,
        nTables = 8, planesPerTable = 4)
      .orderBy("query_id", "rank")
  }

  val qAnnLshMultiSql: String = {
    // global plane index g = t*4 + p; component = md5-derived [-0.5, 0.5)
    val projSql =
      """list_reduce(list_transform(list_zip(embedding, range(0, len(embedding))), z ->
        |  CAST(z[1] AS DOUBLE) * ((md5_number_lower(CAST(t*4 + p AS VARCHAR) || ':' || CAST(z[2] AS VARCHAR)) % 1000) / 1000.0 - 0.5)),
        |  (acc, x) -> acc + x)""".stripMargin
    val keySql =
      s"""(CAST(t AS BIGINT) << 4) | list_reduce(list_transform(range(0, 4), p ->
         |  CASE WHEN $projSql > 0 THEN CAST(1 AS BIGINT) << p ELSE CAST(0 AS BIGINT) END),
         |  (acc, b) -> acc | b)""".stripMargin
    s"""WITH b AS (
       |  SELECT vec_id, embedding, unnest(list_transform(range(0, 8), t -> $keySql)) AS bk
       |  FROM embeddings),
       |cand AS (
       |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
       |  FROM b c JOIN b q ON c.bk = q.bk
       |  WHERE q.vec_id < 5 AND q.vec_id <> c.vec_id),
       |s AS (
       |  SELECT cand.query_id, cand.neighbor_id,
       |    $dotSql / (${normSql("q")} * ${normSql("c")}) AS cosine
       |  FROM cand
       |  JOIN embeddings q ON q.vec_id = cand.query_id
       |  JOIN embeddings c ON c.vec_id = cand.neighbor_id)
       |SELECT query_id, neighbor_id, cosine, rank FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
       |  FROM s) t
       |WHERE rank <= 10
       |ORDER BY query_id, rank""".stripMargin
  }

  // ---- k-NN graph -----------------------------------------------------------
  /** Top-5 neighbor graph over the WHOLE embeddings table — see
    * [[Ann.knnGraph]] for the symmetric bucket-join shape (no broadcast
    * side; per-task work bucket-bounded). Registered at 2 tables × 4
    * planes so the DuckDB oracle replays every bucket id, candidate pair,
    * and exact re-rank; production posture raises planes with the same
    * machinery (the [[qDedupEmbedLshProd]] precedent).
    */
  def qKnnGraph(s: SparkSession, dir: String): DataFrame =
    Ann.knnGraph(table(s, dir, "embeddings"), "vec_id", "embedding", k = 5,
        nTables = 2, planesPerTable = 4)
      .orderBy("src_id", "rank")

  /** The knn-graph edge list as a standalone SELECT (CTE-embeddable —
    * [[qLabelPuritySql]] wraps it), replaying bucket ids, candidate pairs,
    * and the exact re-rank, parameterized by the LSH posture.
    */
  private def knnGraphInnerSql(nTables: Int, planes: Int): String = {
    val projSql =
      s"""list_reduce(list_transform(list_zip(embedding, range(0, len(embedding))), z ->
         |  CAST(z[1] AS DOUBLE) * ((md5_number_lower(CAST(t*$planes + p AS VARCHAR) || ':' || CAST(z[2] AS VARCHAR)) % 1000) / 1000.0 - 0.5)),
         |  (acc, x) -> acc + x)""".stripMargin
    val keySql =
      s"""(CAST(t AS BIGINT) << $planes) | list_reduce(list_transform(range(0, $planes), p ->
         |  CASE WHEN $projSql > 0 THEN CAST(1 AS BIGINT) << p ELSE CAST(0 AS BIGINT) END),
         |  (acc, b) -> acc | b)""".stripMargin
    s"""WITH b AS (
       |  SELECT vec_id, embedding, unnest(list_transform(range(0, $nTables), t -> $keySql)) AS bk
       |  FROM embeddings),
       |cand AS (
       |  SELECT DISTINCT s.vec_id AS src_id, c.vec_id AS neighbor_id
       |  FROM b s JOIN b c ON s.bk = c.bk
       |  WHERE s.vec_id <> c.vec_id),
       |sc AS (
       |  SELECT cand.src_id, cand.neighbor_id,
       |    $dotSql / (${normSql("q")} * ${normSql("c")}) AS cosine
       |  FROM cand
       |  JOIN embeddings q ON q.vec_id = cand.src_id
       |  JOIN embeddings c ON c.vec_id = cand.neighbor_id)
       |SELECT src_id, neighbor_id, cosine, rank FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY src_id ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
       |  FROM sc) t
       |WHERE rank <= 5""".stripMargin
  }

  val qKnnGraphSql: String = knnGraphInnerSql(2, 4) + "\nORDER BY src_id, rank"

  /** PRODUCTION knn-graph posture: 8 tables × 16 planes — 65 536 buckets
    * per table, so per-bucket candidate sets stay bounded as the corpus
    * grows (the 2×4 entry above is the oracle-saturation config whose
    * candidates grow ~n²/32 — it exists to hash-gate the machinery, the
    * [[qDedupEmbedLshProd]] precedent exactly). Plane count is a config
    * knob that must track log₂|corpus|; at 8×16 only strongly-similar
    * vectors collide, which is what a near-neighbor GRAPH wants (weak
    * neighbors are noise edges). Hash-gated end to end: the oracle
    * replays all 128 plane projections per vector.
    */
  def qKnnGraphProd(s: SparkSession, dir: String): DataFrame =
    Ann.knnGraph(table(s, dir, "embeddings"), "vec_id", "embedding", k = 5,
        nTables = 8, planesPerTable = 16)
      .orderBy("src_id", "rank")

  val qKnnGraphProdSql: String = knnGraphInnerSql(8, 16) + "\nORDER BY src_id, rank"

  // ---- k-NN label purity ----------------------------------------------------
  /** Per-label neighbor agreement over the [[qKnnGraph]] edge list — the
    * standard embedding-quality probe: if the embedding separates classes,
    * a vector's nearest neighbors mostly share its label. Slim (id →
    * label) columns join the edge list twice, one per-label aggregation
    * (distinct sources + edge/match counts), ONE pinned division.
    */
  private def labelPurityAt(s: SparkSession, dir: String,
                            nTables: Int, planes: Int): DataFrame = {
    val emb = table(s, dir, "embeddings")
    val g = Ann.knnGraph(emb, "vec_id", "embedding", k = 5,
      nTables = nTables, planesPerTable = planes)
    val lab = emb.select(col("vec_id"), col("label"))
    g.join(lab.select(col("vec_id").as("src_id"), col("label").as("label")), "src_id")
      .join(lab.select(col("vec_id").as("neighbor_id"), col("label").as("n_label")),
        "neighbor_id")
      .groupBy("label")
      .agg(countDistinct(col("src_id")).as("n_vectors"),
        count(lit(1)).as("n_edges"),
        sum(when(col("label") === col("n_label"), 1L).otherwise(0L)).as("n_match"))
      .withColumn("purity", col("n_match").cast("double") / col("n_edges"))
      .orderBy("label")
  }

  def qLabelPurity(s: SparkSession, dir: String): DataFrame =
    labelPurityAt(s, dir, nTables = 2, planes = 4)

  /** The purity report a production run would ship: same aggregation over
    * the PRODUCTION 8×16 knn graph ([[qKnnGraphProd]]) — the embedding-
    * quality number you'd gate a training mix on rides the scale posture,
    * not the oracle-saturation 2×4 twin (which stays registered as
    * [[qLabelPurity]]). Config-only on the same machinery, the
    * `q_knn_graph_prod` precedent.
    */
  def qLabelPurityProd(s: SparkSession, dir: String): DataFrame =
    labelPurityAt(s, dir, nTables = 8, planes = 16)

  private def labelPuritySqlAt(nTables: Int, planes: Int): String =
    s"""WITH g AS (
       |${knnGraphInnerSql(nTables, planes)}),
       |j AS (
       |  SELECT sl.label AS label, g.src_id, nl.label AS n_label
       |  FROM g JOIN embeddings sl ON sl.vec_id = g.src_id
       |         JOIN embeddings nl ON nl.vec_id = g.neighbor_id)
       |SELECT label, CAST(count(DISTINCT src_id) AS BIGINT) AS n_vectors,
       |  CAST(count(*) AS BIGINT) AS n_edges,
       |  CAST(sum(CASE WHEN label = n_label THEN 1 ELSE 0 END) AS BIGINT) AS n_match,
       |  CAST(sum(CASE WHEN label = n_label THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS purity
       |FROM j GROUP BY label
       |ORDER BY label""".stripMargin

  val qLabelPuritySql: String = labelPuritySqlAt(2, 4)
  val qLabelPurityProdSql: String = labelPuritySqlAt(8, 16)

  // ---- positional phrase search ---------------------------------------------
  /** Exact-phrase retrieval over the corpus — see
    * [[graft.operators.Search.phraseSearch]] for the shifted-postings
    * intersection (scan-stage term filter; only the phrase's own postings
    * ever move). The oracle replays postings, shifts, joins, and the
    * per-doc aggregate.
    */
  def qPhraseSearch(s: SparkSession, dir: String): DataFrame =
    graft.operators.Search.phraseSearch(
        table(s, dir, "documents"), "doc_id", "text", "batch agg row")
      .orderBy("doc_id")

  val qPhraseSearchSql: String =
    """WITH toks AS (
      |  SELECT doc_id, i - 1 AS pos, t[i] AS term
      |  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
      |        FROM documents) d,
      |       unnest(range(1, len(t) + 1)) AS r(i)
      |  WHERE t[i] IN ('batch', 'agg', 'row')),
      |p0 AS (SELECT doc_id, pos AS start FROM toks WHERE term = 'batch'),
      |p1 AS (SELECT doc_id, pos - 1 AS start FROM toks WHERE term = 'agg'),
      |p2 AS (SELECT doc_id, pos - 2 AS start FROM toks WHERE term = 'row'),
      |h AS (SELECT p0.doc_id, p0.start FROM p0
      |      JOIN p1 USING (doc_id, start) JOIN p2 USING (doc_id, start))
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits,
      |  CAST(min(start) AS INT) AS first_pos
      |FROM h GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  // ---- more-like-this -------------------------------------------------------
  /** Doc-to-doc retrieval: top-10 most similar documents for each of five
    * query docs — see [[TfIdf.moreLikeThis]] for the exact-integer
    * idf-weighted dot ranking and the query-bounded posting join.
    *
    * Determinism: the gated projection is ALL exact integers — the dot
    * `score_u` plus both squared norms `qn_u`/`cn_u`. The cosine is
    * derivable as score_u/(√qn_u·√cn_u) but the raw double stays OUT of
    * the hash gate (r9's red row was its unpinned sqrt-divide). r11: the
    * gated integers are now CAST TO BIGINT on both sides — this was the
    * repo's ONLY oracle gating raw HUGEINT columns, and Spark's
    * decimal128 vs DuckDB's HUGEINT arrow export hash differently on the
    * driver even when numerically equal (the house `CAST(SUM(...) AS
    * BIGINT)` convention exists for exactly this; r9/r10 stayed red while
    * value-exact locally because the local checker compares values, not
    * arrow representations). The internal math stays exact decimal; the
    * downcast fails LOUDLY via [[bigintChecked]] if a corpus ever
    * overflows the long range. The r11 per-column raw-representation
    * diagnostic twins (`q_mlt_*`) did their job — the driver gate named
    * raw decimal/HUGEINT as the drifting representation and this row went
    * green — and were removed in r12 as SURVEY promised; the lesson is now
    * enforced mechanically by OracleTypeLintSpec (every oracle DESCRIBEd
    * in DuckDB, integer-class alignment asserted against the Spark schema).
    */
  def qMoreLikeThis(s: SparkSession, dir: String): DataFrame =
    graft.operators.TfIdf.moreLikeThis(table(s, dir, "documents"), "doc_id", "text",
        queryIds = Seq(0L, 1L, 2L, 3L, 4L), k = 10)
      .select(col("query_id"), col("cand_id"),
        bigintChecked(col("score_u"), "score_u"),
        bigintChecked(col("qn_u"), "qn_u"),
        bigintChecked(col("cn_u"), "cn_u"),
        col("rank"))
      .orderBy("query_id", "rank")

  /** Loud decimal(38,0) → BIGINT downcast: Spark's non-ANSI cast nulls on
    * overflow silently; this raises instead (Skyline/Scale fail-loud
    * convention). Gate-side only — internal aggregation stays decimal.
    */
  private def bigintChecked(c: Column, name: String): Column = {
    val lo = lit(Long.MinValue).cast("decimal(38,0)")
    val hi = lit(Long.MaxValue).cast("decimal(38,0)")
    when(c < lo || c > hi,
        raise_error(concat(lit(s"$name exceeds BIGINT range: "), c.cast("string"))))
      .otherwise(c.cast("long")).as(name)
  }

  val qMoreLikeThisSql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
      |  FROM documents),
      |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2),
      |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
      |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
      |w AS (SELECT tf.doc_id, tf.term, tf.tf, (nn.n * 1000000) // df.df AS idf_u
      |      FROM tf JOIN df USING (term), nn),
      |nrm AS (SELECT doc_id, sum(CAST(tf * tf AS HUGEINT) * idf_u) AS norm_u
      |        FROM w GROUP BY 1),
      |p AS (
      |  SELECT q.doc_id AS query_id, c.doc_id AS cand_id,
      |    sum(CAST(q.tf * c.tf AS HUGEINT) * q.idf_u) AS score_u
      |  FROM w q JOIN w c USING (term)
      |  WHERE q.doc_id IN (0, 1, 2, 3, 4) AND c.doc_id <> q.doc_id
      |  GROUP BY 1, 2),
      |s AS (
      |  SELECT p.query_id, p.cand_id, p.score_u,
      |    nq.norm_u AS qn_u, nc.norm_u AS cn_u
      |  FROM p JOIN nrm nq ON nq.doc_id = p.query_id
      |         JOIN nrm nc ON nc.doc_id = p.cand_id)
      |SELECT query_id, cand_id, CAST(score_u AS BIGINT) AS score_u,
      |  CAST(qn_u AS BIGINT) AS qn_u, CAST(cn_u AS BIGINT) AS cn_u, rank FROM (
      |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY score_u DESC, cand_id) AS INT) AS rank
      |  FROM s) t
      |WHERE rank <= 10
      |ORDER BY query_id, rank""".stripMargin


  // ---- int8 scalar quantization -------------------------------------------
  /** The quantized embedding STORE: per-dimension affine int8 codes (1 byte
    * per cell vs 4 — the 100 TB memory trade every vector store ships).
    * Ranges come from the corpus itself; every code is one pinned IEEE
    * chain (subtract, one divide per dim, multiply, half-up round on a
    * non-negative value), so the whole store replays bit-exact in SQL.
    */
  def qEmbedQuant(s: SparkSession, dir: String): DataFrame =
    graft.operators.Quant.quantized(table(s, dir, "embeddings"), "vec_id", "embedding")
      .orderBy("vec_id", "pos")

  val qEmbedQuantSql: String =
    """WITH ex AS (
      |  SELECT vec_id, CAST(u.i - 1 AS INT) AS pos, CAST(embedding[u.i] AS DOUBLE) AS x
      |  FROM embeddings, LATERAL unnest(generate_series(1, CAST(len(embedding) AS BIGINT))) AS u(i)),
      |rg AS (SELECT pos, min(x) AS mn, max(x) AS mx FROM ex GROUP BY pos)
      |SELECT e.vec_id, e.pos,
      |  CASE WHEN r.mx = r.mn THEN CAST(0 AS TINYINT)
      |       ELSE CAST(round((e.x - r.mn) * (254.0 / (r.mx - r.mn))) - 127 AS TINYINT) END AS code
      |FROM ex e JOIN rg r USING (pos)
      |ORDER BY vec_id, pos""".stripMargin

  /** ANN over the QUANTIZED store: rank by the exact integer code dot
    * product — the scan a code-only store runs without touching a float.
    * The oracle replays range extraction, every code, the integer dot,
    * and the ranking; fidelity vs float cosine is measured in QuantSpec.
    */
  def qAnnQuant(s: SparkSession, dir: String): DataFrame = {
    val emb = table(s, dir, "embeddings")
    graft.operators.Quant.annTopKQuantized(emb.filter(col("vec_id") < 5), emb,
        "vec_id", "embedding", k = 10)
      .orderBy("query_id", "rank")
  }

  val qAnnQuantSql: String =
    """WITH ex AS (
      |  SELECT vec_id, CAST(u.i - 1 AS INT) AS pos, CAST(embedding[u.i] AS DOUBLE) AS x
      |  FROM embeddings, LATERAL unnest(generate_series(1, CAST(len(embedding) AS BIGINT))) AS u(i)),
      |rg AS (SELECT pos, min(x) AS mn, max(x) AS mx FROM ex GROUP BY pos),
      |cd AS (
      |  SELECT e.vec_id, e.pos,
      |    CASE WHEN r.mx = r.mn THEN 0
      |         ELSE CAST(round((e.x - r.mn) * (254.0 / (r.mx - r.mn))) - 127 AS INT) END AS code
      |  FROM ex e JOIN rg r USING (pos)),
      |cl AS (SELECT vec_id, list(code ORDER BY pos) AS c FROM cd GROUP BY vec_id),
      |s AS (
      |  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
      |    list_reduce(list_transform(list_zip(q.c, n.c), z -> z[1] * z[2]), (acc, v) -> acc + v) AS dotq
      |  FROM cl q JOIN cl n ON n.vec_id <> q.vec_id
      |  WHERE q.vec_id < 5)
      |SELECT query_id, neighbor_id, CAST(dotq AS INT) AS dotq, rank FROM (
      |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY dotq DESC, neighbor_id) AS INT) AS rank
      |  FROM s) t
      |WHERE rank <= 10
      |ORDER BY query_id, rank""".stripMargin

  /** The 1-bit sign store (the third rung of the quantization ladder):
    * bit j = (x_j > midrange_j), packed 32 dims per word by the
    * SQL-replayable `acc·2 + bit` fold — two longs per vector at dim 64
    * where the float store pays 256 bytes.
    */
  def qEmbedBinary(s: SparkSession, dir: String): DataFrame =
    graft.operators.Quant.binarized(table(s, dir, "embeddings"), "vec_id", "embedding")
      .orderBy("vec_id", "widx")

  /** Shared binarization CTEs: midrange thresholds from per-dim min/max
    * ((mn+mx)/2 — two exactly-deterministic IEEE ops), strict-greater sign
    * bits, and the identical acc·2+bit fold per 32-dim word.
    */
  private val binaryWordsCtes: String =
    """ex AS (
      |  SELECT vec_id, CAST(u.i - 1 AS INT) AS pos, CAST(embedding[u.i] AS DOUBLE) AS x
      |  FROM embeddings, LATERAL unnest(generate_series(1, CAST(len(embedding) AS BIGINT))) AS u(i)),
      |rg AS (SELECT pos, min(x) AS mn, max(x) AS mx FROM ex GROUP BY pos),
      |bt AS (
      |  SELECT e.vec_id, e.pos,
      |    CASE WHEN e.x > (r.mn + r.mx) / 2 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS bit
      |  FROM ex e JOIN rg r USING (pos)),
      |w AS (
      |  SELECT vec_id, CAST(pos // 32 AS INT) AS widx,
      |    list_reduce(list(bit ORDER BY pos), (acc, v) -> acc * 2 + v) AS word
      |  FROM bt GROUP BY vec_id, CAST(pos // 32 AS INT))""".stripMargin

  private val binaryWordsSql: String = "WITH " + binaryWordsCtes

  val qEmbedBinarySql: String = binaryWordsSql +
    """
      |SELECT vec_id, widx, word FROM w ORDER BY vec_id, widx""".stripMargin

  /** ANN by exact Hamming distance over the 1-bit store — XOR + popcount
    * per comparison, the cheapest scan in the quantization family. The
    * oracle replays thresholds, every packed word, and the ranking.
    */
  def qAnnHamming(s: SparkSession, dir: String): DataFrame = {
    val emb = table(s, dir, "embeddings")
    graft.operators.Quant.annTopKHamming(emb.filter(col("vec_id") < 5), emb,
        "vec_id", "embedding", k = 10)
      .orderBy("query_id", "rank")
  }

  val qAnnHammingSql: String = binaryWordsSql +
    """,
      |wl AS (SELECT vec_id, list(word ORDER BY widx) AS ws FROM w GROUP BY vec_id),
      |s AS (
      |  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
      |    CAST(list_reduce(list_transform(list_zip(q.ws, n.ws),
      |      z -> CAST(bit_count(xor(z[1], z[2])) AS INT)), (acc, v) -> acc + v) AS INT) AS hamming
      |  FROM wl q JOIN wl n ON n.vec_id <> q.vec_id
      |  WHERE q.vec_id < 5)
      |SELECT query_id, neighbor_id, hamming, rank FROM (
      |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY hamming, neighbor_id) AS INT) AS rank
      |  FROM s) t
      |WHERE rank <= 10
      |ORDER BY query_id, rank""".stripMargin

  // ---- line-grain dedup (the C4/CCNet boilerplate pass) -------------------
  /** Line-level first-occurrence dedup over a multi-line corpus derived
    * IN-QUERY (the [[qCdcDelta]] precedent): each document becomes
    * navbar? + body + footer? + subscribe? lines, with the boilerplate
    * planted on deterministic id strides so both engines derive the same
    * crawl shape. The exact-duplicate doc bodies already present in the
    * documents table dedup too — the winner is the lowest (doc_id, line).
    */
  def qLineDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = table(s, dir, "documents").select(col("doc_id"), col("text"))
    val lined = docs.select(col("doc_id"), concat_ws("\n",
        when(col("doc_id") % 3 === 0, lit("NAVBAR HOME ABOUT CONTACT SEARCH LOGIN")),
        col("text"),
        when(col("doc_id") % 5 === 0, lit("COPYRIGHT ALL RIGHTS RESERVED SITE FOOTER")),
        when(col("doc_id") % 7 === 0, lit("SUBSCRIBE TO OUR NEWSLETTER FOR WEEKLY UPDATES"))
      ).as("text"))
    graft.operators.LineDedup.dedupLines(lined, "doc_id", "text", minLen = 10)
      .orderBy("doc_id")
  }

  val qLineDedupSql: String =
    """WITH lined AS (
      |  SELECT doc_id, concat_ws(chr(10),
      |    CASE WHEN doc_id % 3 = 0 THEN 'NAVBAR HOME ABOUT CONTACT SEARCH LOGIN' END,
      |    text,
      |    CASE WHEN doc_id % 5 = 0 THEN 'COPYRIGHT ALL RIGHTS RESERVED SITE FOOTER' END,
      |    CASE WHEN doc_id % 7 = 0 THEN 'SUBSCRIBE TO OUR NEWSLETTER FOR WEEKLY UPDATES' END) AS text
      |  FROM documents),
      |ls AS (SELECT doc_id, string_split(text, chr(10)) AS ll FROM lined),
      |l AS (
      |  SELECT doc_id, CAST(u.i - 1 AS INT) AS line_idx, ll[u.i] AS line, trim(ll[u.i]) AS tl
      |  FROM ls, LATERAL unnest(generate_series(1, CAST(len(ll) AS BIGINT))) AS u(i)),
      |wi AS (
      |  SELECT tl, doc_id AS wid, line_idx AS widx FROM (
      |    SELECT tl, doc_id, line_idx, row_number() OVER (PARTITION BY tl ORDER BY doc_id, line_idx) AS rn
      |    FROM l WHERE len(tl) >= 10) t WHERE rn = 1),
      |k AS (
      |  SELECT l.doc_id, l.line_idx, l.line,
      |    (w.wid IS NULL OR (w.wid = l.doc_id AND w.widx = l.line_idx)) AS keep
      |  FROM l LEFT JOIN wi w ON w.tl = l.tl)
      |SELECT doc_id,
      |  coalesce(string_agg(CASE WHEN keep THEN line END, chr(10) ORDER BY line_idx), '') AS text,
      |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS INT) AS n_kept,
      |  CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS INT) AS n_dropped
      |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---- product quantization -----------------------------------------------
  /** Shared CTE prefix for the PQ oracle: micro-unit quantization, exploded
    * cells, the ksub=16 lowest-id seeds sliced into m=4 subspaces of 16
    * dims, and TWO per-subspace Lloyd rounds (integer L2² argmin with
    * lowest-cid ties PER SUBSPACE, floor-mean update, empty cells keep the
    * old coordinate) — the [[kmeansPrefixSql]] shape with a `sub` dimension
    * threaded through, so the ENTIRE train → encode → search chain sits
    * under the hash gate with no pinned fixture.
    */
  private val pqPrefixSql: String = {
    val sub = 16 // dims per subspace (dim 64 / m 4)
    def round(din: String, cin: String, a: String, s: String, cout: String): String =
      s"""$din AS (
         |  SELECT e.vec_id, c.sub, c.cid, CAST(sum((e.qv - c.qv) * (e.qv - c.qv)) AS BIGINT) AS d2
         |  FROM qe e JOIN $cin c ON c.pos = e.pos GROUP BY e.vec_id, c.sub, c.cid),
         |$a AS (
         |  SELECT vec_id, sub, cid FROM (
         |    SELECT vec_id, sub, cid, row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, cid) AS rn
         |    FROM $din) t WHERE rn = 1),
         |$s AS (
         |  SELECT a.sub, a.cid, e.pos, CAST(sum(e.qv) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS c
         |  FROM $a a JOIN qe e ON e.vec_id = a.vec_id AND CAST(e.pos // $sub AS INT) = a.sub
         |  GROUP BY a.sub, a.cid, e.pos),
         |$cout AS (
         |  SELECT p.sub, p.cid, p.pos,
         |    coalesce(CAST((s.s - ((s.s % s.c + s.c) % s.c)) / s.c AS BIGINT), p.qv) AS qv
         |  FROM $cin p LEFT JOIN $s s ON s.sub = p.sub AND s.cid = p.cid AND s.pos = p.pos)""".stripMargin
    s"""WITH q AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS v
       |  FROM embeddings),
       |qe AS (
       |  SELECT vec_id, CAST(u.i - 1 AS INT) AS pos, v[u.i] AS qv
       |  FROM q, LATERAL unnest(generate_series(1, CAST(len(v) AS BIGINT))) AS u(i)),
       |seed AS (
       |  SELECT vec_id, CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid
       |  FROM q ORDER BY vec_id LIMIT 16),
       |c0 AS (
       |  SELECT s.cid, CAST(e.pos // $sub AS INT) AS sub, e.pos, e.qv
       |  FROM seed s JOIN qe e USING (vec_id)),
       |${round("d1", "c0", "a1", "s1", "c1")},
       |${round("d2r", "c1", "a2", "s2", "c2")},
       |d3 AS (
       |  SELECT e.vec_id, c.sub, c.cid, CAST(sum((e.qv - c.qv) * (e.qv - c.qv)) AS BIGINT) AS d2
       |  FROM qe e JOIN c2 c ON c.pos = e.pos GROUP BY e.vec_id, c.sub, c.cid),
       |pqcodes AS (
       |  SELECT vec_id, sub, cid AS code FROM (
       |    SELECT vec_id, sub, cid, row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, cid) AS rn
       |    FROM d3) t WHERE rn = 1)""".stripMargin
  }

  /** The PQ code store: each vector as m=4 one-byte codes (64× smaller
    * than the float store at dim 64) after two co-trained Lloyd rounds
    * per subspace. The oracle replays training, encoding, and the argmin
    * ties in pure integer SQL.
    */
  def qPqCodes(s: SparkSession, dir: String): DataFrame = {
    val emb = table(s, dir, "embeddings")
    val books = graft.operators.Pq.train(emb, "vec_id", "embedding", m = 4, ksub = 16, iters = 2)
    graft.operators.Pq.codes(emb, "vec_id", "embedding", books)
      .orderBy("vec_id", "sub")
  }

  val qPqCodesSql: String = pqPrefixSql +
    """
      |SELECT vec_id, sub, code FROM pqcodes ORDER BY vec_id, sub""".stripMargin

  /** ANN by asymmetric distance computation over the PQ store: exact
    * integer L2² between the RAW query micro-units and each candidate's
    * reconstructed centroids — the scan that touches only m-byte codes on
    * the stream side. Recall fidelity vs exact search is measured in
    * PqSpec on planted structure.
    */
  def qAnnPq(s: SparkSession, dir: String): DataFrame = {
    val emb = table(s, dir, "embeddings")
    val books = graft.operators.Pq.train(emb, "vec_id", "embedding", m = 4, ksub = 16, iters = 2)
    graft.operators.Pq.annTopKAdc(emb.filter(col("vec_id") < 5), emb,
        "vec_id", "embedding", books, k = 10)
      .orderBy("query_id", "rank")
  }

  val qAnnPqSql: String = pqPrefixSql +
    """,
      |rec AS (
      |  SELECT co.vec_id AS neighbor_id, c.pos, c.qv
      |  FROM pqcodes co JOIN c2 c ON c.sub = co.sub AND c.cid = co.code),
      |sc AS (
      |  SELECT q.vec_id AS query_id, r.neighbor_id,
      |    CAST(sum((q.qv - r.qv) * (q.qv - r.qv)) AS BIGINT) AS d2
      |  FROM qe q JOIN rec r ON r.pos = q.pos
      |  WHERE q.vec_id < 5 AND r.neighbor_id <> q.vec_id
      |  GROUP BY q.vec_id, r.neighbor_id)
      |SELECT query_id, neighbor_id, d2, rank FROM (
      |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY d2, neighbor_id) AS INT) AS rank
      |  FROM sc) t
      |WHERE rank <= 10
      |ORDER BY query_id, rank""".stripMargin

  /** The int8 store's quality audit: per-dimension reconstruction error in
    * exact micro-units (count/max/sum + one pinned-division mean). The
    * worst dimension's max error bounds what any downstream integer dot
    * can drift — the number that says whether the 4× trade is safe.
    */
  def qQuantError(s: SparkSession, dir: String): DataFrame =
    graft.operators.Quant.quantErrorByDim(table(s, dir, "embeddings"), "vec_id", "embedding")
      .orderBy("pos")

  val qQuantErrorSql: String =
    """WITH ex AS (
      |  SELECT vec_id, CAST(u.i - 1 AS INT) AS pos, CAST(embedding[u.i] AS DOUBLE) AS x
      |  FROM embeddings, LATERAL unnest(generate_series(1, CAST(len(embedding) AS BIGINT))) AS u(i)),
      |rg AS (SELECT pos, min(x) AS mn, max(x) AS mx FROM ex GROUP BY pos),
      |cd AS (
      |  SELECT e.vec_id, e.pos,
      |    CASE WHEN r.mx = r.mn THEN 0
      |         ELSE CAST(round((e.x - r.mn) * (254.0 / (r.mx - r.mn))) - 127 AS INT) END AS code
      |  FROM ex e JOIN rg r USING (pos)),
      |er AS (
      |  SELECT e.pos,
      |    abs(CAST(round(e.x * 1000000.0) AS BIGINT) -
      |        CAST(round((r.mn + (c.code + 127) * ((r.mx - r.mn) / 254.0)) * 1000000.0) AS BIGINT)) AS err_u
      |  FROM ex e JOIN rg r USING (pos) JOIN cd c ON c.vec_id = e.vec_id AND c.pos = e.pos)
      |SELECT pos, CAST(count(*) AS BIGINT) AS n, CAST(max(err_u) AS BIGINT) AS max_err_u,
      |  CAST(sum(err_u) AS BIGINT) AS sum_err_u,
      |  CAST(sum(err_u) AS DOUBLE) / count(*) AS mean_err_u
      |FROM er GROUP BY pos
      |ORDER BY pos""".stripMargin

  // ---- tokenizer efficiency report ----------------------------------------
  /** Per-source tokenizer-efficiency report under the pinned 48-merge BPE:
    * docs, words, model tokens, chars, and the two ratios every tokenizer
    * eval quotes — chars-per-token (compression) and tokens-per-word
    * (fertility). Two pinned divisions; the token counts ride the same
    * replayed merge chain as [[qBpeCount]].
    */
  def qVocabCoverage(s: SparkSession, dir: String): DataFrame = {
    val merges = pinnedBpeMerges(s, dir)
    table(s, dir, "documents")
      .select(col("source"),
        size(filter(TF.tokens(col("text")), w => length(w) > 0)).cast("long").as("nw"),
        graft.operators.Bpe.bpeLen(col("text"), merges).cast("long").as("nb"),
        length(col("text")).cast("long").as("nc"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("nw").as("n_words"),
        sum("nb").as("n_bpe"), sum("nc").as("n_chars"))
      .select(col("source"), col("n_docs"), col("n_words"), col("n_bpe"), col("n_chars"),
        (col("n_chars").cast("double") / col("n_bpe")).as("chars_per_token"),
        (col("n_bpe").cast("double") / col("n_words")).as("fertility"))
      .orderBy("source")
  }

  def qVocabCoverageSql: String =
    s"""WITH RECURSIVE ${bpeDocLenCtes(bpeMergesFixture(lastBpeDir.get))},
       |base AS (
       |  SELECT d.source, coalesce(l.n_words, 0) AS nw, coalesce(l.n_bpe, 0) AS nb,
       |    len(d.text) AS nc
       |  FROM documents d LEFT JOIN doclen l USING (doc_id))
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(nw) AS BIGINT) AS n_words,
       |  CAST(sum(nb) AS BIGINT) AS n_bpe, CAST(sum(nc) AS BIGINT) AS n_chars,
       |  CAST(sum(nc) AS DOUBLE) / CAST(sum(nb) AS BIGINT) AS chars_per_token,
       |  CAST(sum(nb) AS DOUBLE) / CAST(sum(nw) AS BIGINT) AS fertility
       |FROM base GROUP BY source
       |ORDER BY source""".stripMargin

  // ---- contrastive pair mining --------------------------------------------
  /** Training pairs for an embedding model: verified near-dup positives
    * (banded-minhash path, jaccard ≥ 0.8) + hash-bucket negatives. The
    * oracle replays positives as exact all-pairs jaccard (the
    * [[qDedupMinhashSql]] zero-false-negative argument) and negatives as
    * the same md5-bucket consecutive pairing.
    */
  def qPairMine(s: SparkSession, dir: String): DataFrame =
    graft.operators.PairMine.contrastivePairs(table(s, dir, "documents"),
        "doc_id", "text", theta = 0.8, negBuckets = 32)
      .orderBy("id_a", "id_b")

  val qPairMineSql: String =
    s"""WITH w AS (SELECT doc_id, $wordSetSql AS words FROM documents),
       |pos AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM w a, w b
       |  WHERE a.doc_id < b.doc_id
       |    AND CAST(len(list_intersect(a.words, b.words)) AS DOUBLE) /
       |        CAST(len(list_distinct(list_concat(a.words, b.words))) AS DOUBLE) >= 0.8),
       |bk AS (
       |  SELECT doc_id AS id, CAST(md5_number_lower(CAST(doc_id AS VARCHAR)) % 32 AS INT) AS bucket
       |  FROM documents),
       |r AS (SELECT id, bucket, row_number() OVER (PARTITION BY bucket ORDER BY id) AS rn FROM bk),
       |neg AS (
       |  SELECT a.id AS id_a, bb.id AS id_b
       |  FROM r a JOIN r bb ON bb.bucket = a.bucket AND bb.rn = a.rn + 1
       |  WHERE a.rn % 2 = 1),
       |negx AS (
       |  SELECT n.id_a, n.id_b FROM neg n
       |  LEFT JOIN pos p ON p.id_a = n.id_a AND p.id_b = n.id_b
       |  WHERE p.id_a IS NULL)
       |SELECT id_a, id_b, label FROM (
       |  SELECT id_a, id_b, CAST(1 AS INT) AS label FROM pos
       |  UNION ALL
       |  SELECT id_a, id_b, CAST(0 AS INT) AS label FROM negx) t
       |ORDER BY id_a, id_b""".stripMargin

  // ---- two-stage prefix-dimension ANN -------------------------------------
  /** Matryoshka-style cascade: shortlist c=30 by the integer dot over the
    * first 16 dims only, rerank the shortlist by the exact full-dim dot,
    * keep 10. The cheap stage reads a quarter of each vector; the full
    * read happens on |Q|·c rows. Both stages replay in SQL.
    */
  def qAnnPrefix(s: SparkSession, dir: String): DataFrame = {
    val emb = table(s, dir, "embeddings")
    graft.operators.Quant.annTopKPrefix(emb.filter(col("vec_id") < 5), emb,
        "vec_id", "embedding", prefixDim = 16, c = 30, k = 10)
      .orderBy("query_id", "rank")
  }

  val qAnnPrefixSql: String =
    """WITH q AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS v
      |  FROM embeddings),
      |sl AS (
      |  SELECT query_id, neighbor_id, qv, cv FROM (
      |    SELECT qq.vec_id AS query_id, cc.vec_id AS neighbor_id, qq.v AS qv, cc.v AS cv,
      |      row_number() OVER (PARTITION BY qq.vec_id ORDER BY
      |        list_reduce(list_transform(list_zip(qq.v[1:16], cc.v[1:16]), z -> z[1] * z[2]), (acc, x) -> acc + x) DESC,
      |        cc.vec_id) AS pr
      |    FROM q cc, q qq WHERE qq.vec_id < 5 AND qq.vec_id <> cc.vec_id) t
      |  WHERE pr <= 30),
      |f AS (
      |  SELECT query_id, neighbor_id,
      |    CAST(list_reduce(list_transform(list_zip(qv, cv), z -> z[1] * z[2]), (acc, x) -> acc + x) AS BIGINT) AS dot_full
      |  FROM sl)
      |SELECT query_id, neighbor_id, dot_full, rank FROM (
      |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY dot_full DESC, neighbor_id) AS INT) AS rank
      |  FROM f) t
      |WHERE rank <= 10
      |ORDER BY query_id, rank""".stripMargin

  // ---- hybrid retrieval: reciprocal rank fusion ---------------------------
  /** Reciprocal rank fusion (Cormack et al.) of two retrieval branches —
    * float-cosine brute force and 1-bit Hamming — the standard hybrid
    * trick for combining rankings whose scores are not comparable:
    * rrf = Σ 1/(60 + rank_branch) over the branches that returned the
    * candidate (k=20 each), re-ranked descending. Two pinned divisions and
    * ONE addition in a fixed order, so the fused score is bit-identical
    * cross-engine; ties break on neighbor_id.
    *
    * Scale shape: each branch is its own (already-scaling) top-k; the
    * fusion is a join on (query, candidate) over k-bounded lists — |Q|·k
    * rows, never corpus-sized.
    */
  def qRrfFuse(s: SparkSession, dir: String): DataFrame = {
    val emb = table(s, dir, "embeddings")
    val qs = emb.filter(col("vec_id") < 5)
    val cos = Ann.bruteForceTopK(qs, emb, "vec_id", "embedding", k = 20)
      .select(col("query_id"), col("neighbor_id"), col("rank").as("r_cos"))
    val ham = graft.operators.Quant.annTopKHamming(qs, emb, "vec_id", "embedding", k = 20)
      .select(col("query_id"), col("neighbor_id"), col("rank").as("r_ham"))
    cos.join(ham, Seq("query_id", "neighbor_id"), "full_outer")
      .select(col("query_id"), col("neighbor_id"),
        (coalesce(lit(1.0) / (lit(60) + col("r_cos")), lit(0.0)) +
         coalesce(lit(1.0) / (lit(60) + col("r_ham")), lit(0.0))).as("rrf"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("query_id")
          .orderBy(col("rrf").desc, col("neighbor_id"))))
      .filter(col("rank") <= 10)
      .orderBy("query_id", "rank")
  }

  val qRrfFuseSql: String =
    s"""WITH $binaryWordsCtes,
       |wl AS (SELECT vec_id, list(word ORDER BY widx) AS ws FROM w GROUP BY vec_id),
       |cosb AS (
       |  SELECT query_id, neighbor_id, r AS r_cos FROM (
       |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY $dotSql / (${normSql("q")} * ${normSql("c")}) DESC, c.vec_id) AS r
       |    FROM embeddings c, embeddings q
       |    WHERE q.vec_id < 5 AND q.vec_id <> c.vec_id) t
       |  WHERE r <= 20),
       |hamb AS (
       |  SELECT query_id, neighbor_id, r AS r_ham FROM (
       |    SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY list_reduce(list_transform(list_zip(q.ws, n.ws),
       |          z -> CAST(bit_count(xor(z[1], z[2])) AS INT)), (acc, v) -> acc + v),
       |        n.vec_id) AS r
       |    FROM wl q JOIN wl n ON n.vec_id <> q.vec_id
       |    WHERE q.vec_id < 5) t
       |  WHERE r <= 20),
       |fused AS (
       |  SELECT coalesce(c.query_id, h.query_id) AS query_id,
       |    coalesce(c.neighbor_id, h.neighbor_id) AS neighbor_id,
       |    coalesce(CAST(1 AS DOUBLE) / (60 + c.r_cos), CAST(0 AS DOUBLE)) +
       |    coalesce(CAST(1 AS DOUBLE) / (60 + h.r_ham), CAST(0 AS DOUBLE)) AS rrf
       |  FROM cosb c FULL OUTER JOIN hamb h
       |    ON h.query_id = c.query_id AND h.neighbor_id = c.neighbor_id)
       |SELECT query_id, neighbor_id, rrf, rank FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY rrf DESC, neighbor_id) AS INT) AS rank
       |  FROM fused) t
       |WHERE rank <= 10
       |ORDER BY query_id, rank""".stripMargin

  // ---- IVF-PQ -------------------------------------------------------------
  /** Shared CTE prefix for the IVF-PQ oracle: ONE coarse Lloyd round at
    * kc=8 over the corpus, final cell assignment + integer residuals, then
    * ONE per-subspace Lloyd round at ksub=16 over the residuals and the
    * final residual codes — the [[kmeansPrefixSql]] and [[pqPrefixSql]]
    * shapes composed, every step integer-exact.
    */
  private val ivfpqPrefixSql: String =
    """WITH q AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS v
      |  FROM embeddings),
      |qe AS (
      |  SELECT vec_id, CAST(u.i - 1 AS INT) AS pos, v[u.i] AS qv
      |  FROM q, LATERAL unnest(generate_series(1, CAST(len(v) AS BIGINT))) AS u(i)),
      |cseed AS (
      |  SELECT vec_id, CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid
      |  FROM q ORDER BY vec_id LIMIT 8),
      |cc0 AS (SELECT s.cid, e.pos, e.qv FROM cseed s JOIN qe e USING (vec_id)),
      |cd1 AS (
      |  SELECT e.vec_id, c.cid, CAST(sum((e.qv - c.qv) * (e.qv - c.qv)) AS BIGINT) AS d2
      |  FROM qe e JOIN cc0 c ON c.pos = e.pos GROUP BY e.vec_id, c.cid),
      |ca1 AS (
      |  SELECT vec_id, cid FROM (
      |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
      |    FROM cd1) t WHERE rn = 1),
      |cs1 AS (
      |  SELECT a.cid, e.pos, CAST(sum(e.qv) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS c
      |  FROM ca1 a JOIN qe e USING (vec_id) GROUP BY a.cid, e.pos),
      |cc1 AS (
      |  SELECT p.cid, p.pos,
      |    coalesce(CAST((s.s - ((s.s % s.c + s.c) % s.c)) / s.c AS BIGINT), p.qv) AS qv
      |  FROM cc0 p LEFT JOIN cs1 s ON s.cid = p.cid AND s.pos = p.pos),
      |fd AS (
      |  SELECT e.vec_id, c.cid, CAST(sum((e.qv - c.qv) * (e.qv - c.qv)) AS BIGINT) AS d2
      |  FROM qe e JOIN cc1 c ON c.pos = e.pos GROUP BY e.vec_id, c.cid),
      |fa AS (
      |  SELECT vec_id, cid FROM (
      |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
      |    FROM fd) t WHERE rn = 1),
      |re AS (
      |  SELECT e.vec_id, e.pos, e.qv - c.qv AS rv
      |  FROM qe e JOIN fa a USING (vec_id) JOIN cc1 c ON c.cid = a.cid AND c.pos = e.pos),
      |pseed AS (
      |  SELECT vec_id, CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid
      |  FROM q ORDER BY vec_id LIMIT 16),
      |p0 AS (SELECT s.cid, CAST(r.pos // 16 AS INT) AS sub, r.pos, r.rv AS qv FROM pseed s JOIN re r USING (vec_id)),
      |pd1 AS (
      |  SELECT r.vec_id, p.sub, p.cid, CAST(sum((r.rv - p.qv) * (r.rv - p.qv)) AS BIGINT) AS d2
      |  FROM re r JOIN p0 p ON p.pos = r.pos GROUP BY r.vec_id, p.sub, p.cid),
      |pa1 AS (
      |  SELECT vec_id, sub, cid FROM (
      |    SELECT vec_id, sub, cid, row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, cid) AS rn
      |    FROM pd1) t WHERE rn = 1),
      |ps1 AS (
      |  SELECT a.sub, a.cid, r.pos, CAST(sum(r.rv) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS c
      |  FROM pa1 a JOIN re r ON r.vec_id = a.vec_id AND CAST(r.pos // 16 AS INT) = a.sub
      |  GROUP BY a.cid, a.sub, r.pos),
      |p1 AS (
      |  SELECT p.sub, p.cid, p.pos,
      |    coalesce(CAST((s.s - ((s.s % s.c + s.c) % s.c)) / s.c AS BIGINT), p.qv) AS qv
      |  FROM p0 p LEFT JOIN ps1 s ON s.sub = p.sub AND s.cid = p.cid AND s.pos = p.pos),
      |pd2 AS (
      |  SELECT r.vec_id, p.sub, p.cid, CAST(sum((r.rv - p.qv) * (r.rv - p.qv)) AS BIGINT) AS d2
      |  FROM re r JOIN p1 p ON p.pos = r.pos GROUP BY r.vec_id, p.sub, p.cid),
      |pcodes AS (
      |  SELECT vec_id, sub, cid AS code FROM (
      |    SELECT vec_id, sub, cid, row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, cid) AS rn
      |    FROM pd2) t WHERE rn = 1)""".stripMargin

  /** The IVF-PQ inverted store: each vector's coarse cell plus its m=4
    * residual codes — the production vector-store layout (partition by
    * cell at scale; a probe reads np partitions, never the corpus).
    */
  def qIvfpqStore(s: SparkSession, dir: String): DataFrame = {
    val emb = table(s, dir, "embeddings")
    val model = graft.operators.IvfPq.train(emb, "vec_id", "embedding",
      kc = 8, m = 4, ksub = 16, itersCoarse = 1, itersPq = 1)
    graft.operators.IvfPq.store(emb, "vec_id", "embedding", model)
      .orderBy("vec_id", "sub")
  }

  val qIvfpqStoreSql: String = ivfpqPrefixSql +
    """
      |SELECT f.vec_id, f.cid, p.sub, p.code
      |FROM fa f JOIN pcodes p USING (vec_id)
      |ORDER BY vec_id, sub""".stripMargin

  /** IVF-PQ search: probe the np=2 nearest cells by integer L2², then ADC
    * within the probed cells against reconstructed residuals. The oracle
    * replays BOTH trainings, the assignment, the residual codes, the probe
    * routing, and the ranking — the whole chain under the hash gate.
    */
  def qAnnIvfpq(s: SparkSession, dir: String): DataFrame = {
    val emb = table(s, dir, "embeddings")
    val model = graft.operators.IvfPq.train(emb, "vec_id", "embedding",
      kc = 8, m = 4, ksub = 16, itersCoarse = 1, itersPq = 1)
    graft.operators.IvfPq.annTopK(emb.filter(col("vec_id") < 5), emb,
        "vec_id", "embedding", model, np = 2, k = 10)
      .orderBy("query_id", "rank")
  }

  val qAnnIvfpqSql: String = ivfpqPrefixSql +
    """,
      |pbd AS (
      |  SELECT e.vec_id, c.cid, CAST(sum((e.qv - c.qv) * (e.qv - c.qv)) AS BIGINT) AS d2
      |  FROM qe e JOIN cc1 c ON c.pos = e.pos WHERE e.vec_id < 5 GROUP BY e.vec_id, c.cid),
      |pb AS (
      |  SELECT vec_id AS query_id, cid FROM (
      |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS pr
      |    FROM pbd) t WHERE pr <= 2),
      |adc AS (
      |  SELECT pb.query_id, f.vec_id AS neighbor_id,
      |    CAST(sum(((e.qv - cc.qv) - pp.qv) * ((e.qv - cc.qv) - pp.qv)) AS BIGINT) AS d2
      |  FROM pb
      |  JOIN fa f ON f.cid = pb.cid AND f.vec_id <> pb.query_id
      |  JOIN pcodes co ON co.vec_id = f.vec_id
      |  JOIN qe e ON e.vec_id = pb.query_id AND CAST(e.pos // 16 AS INT) = co.sub
      |  JOIN cc1 cc ON cc.cid = pb.cid AND cc.pos = e.pos
      |  JOIN p1 pp ON pp.sub = co.sub AND pp.cid = co.code AND pp.pos = e.pos
      |  GROUP BY pb.query_id, f.vec_id)
      |SELECT query_id, neighbor_id, d2, rank FROM (
      |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY d2, neighbor_id) AS INT) AS rank
      |  FROM adc) t
      |WHERE rank <= 10
      |ORDER BY query_id, rank""".stripMargin

  def qAnnIvf(s: SparkSession, dir: String): DataFrame = {
    val emb = table(s, dir, "embeddings")
    val fixture = ivfCentroidFixture(dir)
    lastIvfDir.set(dir)
    pinFixtureOnce(() => Ann.trainIvfCentroids(emb, "vec_id", "embedding",
      nlist = 16, iters = 1), fixture, s)
    // search consumes the PINNED floats read back from the fixture — the
    // Spark result and the SQL oracle provably see identical centroid bits
    val pinned = s.read.parquet(fixture)
    Ann.ivfTopKWithCentroids(emb.filter(col("vec_id") < 5), emb, pinned,
        "vec_id", "embedding", k = 10, nprobe = 4)
      .orderBy("query_id", "rank")
  }

  /** Pure-SQL IVF oracle over the pinned centroid fixture: cell assignment =
    * argmax cosine (ties → lowest cid), probes = top-4 cells per query,
    * search = brute force within probed cells. Mirrors
    * [[Ann.ivfTopKWithCentroids]] stage for stage; cosine is the same
    * left-fold double formula as every other embedding oracle.
    */
  def qAnnIvfSql: String = ivfSqlAt(4)

  /** The IVF oracle at a given nprobe — shared by the registered nprobe-4
    * entry and the recall report's probe-sweep legs.
    */
  private def ivfSqlAt(nprobe: Int): String = {
    def cosSql(a: String, b: String): String =
      s"""(list_reduce(list_transform(list_zip($a, $b), z -> CAST(z[1] AS DOUBLE)*CAST(z[2] AS DOUBLE)), (acc,v) -> acc+v)
         | / (sqrt(list_reduce(list_transform($a, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)), (acc,v) -> acc+v))
         |   * sqrt(list_reduce(list_transform($b, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)), (acc,v) -> acc+v))))""".stripMargin
    s"""WITH cent AS (SELECT cid, centroid FROM read_parquet('${ivfCentroidFixture(lastIvfDir.get)}/*.parquet')),
       |asgn AS (
       |  SELECT vid, cid FROM (
       |    SELECT e.vec_id AS vid, t.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${cosSql("e.embedding", "t.centroid")} DESC, t.cid) AS r
       |    FROM embeddings e CROSS JOIN cent t) x
       |  WHERE r = 1),
       |probes AS (
       |  SELECT query_id, cid FROM (
       |    SELECT q.vec_id AS query_id, t.cid,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY ${cosSql("q.embedding", "t.centroid")} DESC, t.cid) AS pr
       |    FROM embeddings q CROSS JOIN cent t WHERE q.vec_id < 5) x
       |  WHERE pr <= $nprobe),
       |s AS (
       |  SELECT p.query_id, a.vid AS neighbor_id,
       |    ${cosSql("q.embedding", "c.embedding")} AS cosine
       |  FROM probes p
       |  JOIN asgn a ON a.cid = p.cid
       |  JOIN embeddings q ON q.vec_id = p.query_id
       |  JOIN embeddings c ON c.vec_id = a.vid
       |  WHERE p.query_id <> a.vid)
       |SELECT query_id, neighbor_id, cosine, rank FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
       |  FROM s) t
       |WHERE rank <= 10
       |ORDER BY query_id, rank""".stripMargin
  }

  /** Centroid fixture for the SEMANTIC dedup materializer — same
    * deterministic training as the IVF fixture, its own path (and its own
    * dataset key) so no two queries or JVMs race over one directory.
    */
  def semdedupCentroidFixture(dir: String): String =
    new java.io.File(s"target/verify_fixtures/semdedup_centroids_n16i1_${dataTag(dir)}.parquet").getAbsolutePath

  private val lastSemdedupDir = new java.util.concurrent.atomic.AtomicReference[String](".")

  /** SemDeDup-style semantic dedup: one survivor per connected component
    * of the within-cell cosine-≥0.3 graph over pinned k-means cells. The
    * oracle replays cell assignment (argmax cosine over the fixture, ties →
    * lowest cid), the in-cell pair scan, and the transitive closure — the
    * whole meaning-space materializer sits under the hash gate, cell
    * restriction included.
    */
  def qSemdedup(s: SparkSession, dir: String): DataFrame = {
    val emb = table(s, dir, "embeddings")
    val fixture = semdedupCentroidFixture(dir)
    lastSemdedupDir.set(dir)
    pinFixture(() => Ann.trainIvfCentroids(emb, "vec_id", "embedding",
      nlist = 16, iters = 1), fixture, s)
    val pinned = s.read.parquet(fixture)
    Dedup.dropDuplicatesSemantic(emb, "vec_id", "embedding", pinned, threshold = 0.3)
      .select("vec_id", "label")
      .orderBy("vec_id")
  }

  def qSemdedupSql: String = {
    def cosSql(a: String, b: String): String =
      s"""(list_reduce(list_transform(list_zip($a, $b), z -> CAST(z[1] AS DOUBLE)*CAST(z[2] AS DOUBLE)), (acc,v) -> acc+v)
         | / (sqrt(list_reduce(list_transform($a, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)), (acc,v) -> acc+v))
         |   * sqrt(list_reduce(list_transform($b, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)), (acc,v) -> acc+v))))""".stripMargin
    s"""WITH RECURSIVE cent AS (SELECT cid, centroid FROM read_parquet('${semdedupCentroidFixture(lastSemdedupDir.get)}/*.parquet')),
       |asgn AS (
       |  SELECT vid, cid FROM (
       |    SELECT e.vec_id AS vid, t.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${cosSql("e.embedding", "t.centroid")} DESC, t.cid) AS r
       |    FROM embeddings e CROSS JOIN cent t) x
       |  WHERE r = 1),
       |p AS (
       |  SELECT x.vid AS id_a, y.vid AS id_b
       |  FROM asgn x
       |  JOIN asgn y ON x.cid = y.cid AND x.vid < y.vid
       |  JOIN embeddings ea ON ea.vec_id = x.vid
       |  JOIN embeddings eb ON eb.vec_id = y.vid
       |  WHERE ${cosSql("ea.embedding", "eb.embedding")} >= 0.3),
       |e AS (SELECT id_a AS src, id_b AS dst FROM p
       |      UNION ALL SELECT id_b AS src, id_a AS dst FROM p),
       |reach(id, r) AS (
       |  SELECT vec_id, vec_id FROM embeddings
       |  UNION
       |  SELECT e.dst, reach.r FROM reach JOIN e ON e.src = reach.id),
       |cl AS (SELECT id AS vec_id, min(r) AS cluster_id FROM reach GROUP BY id)
       |SELECT em.vec_id, em.label
       |FROM embeddings em JOIN cl USING (vec_id)
       |WHERE em.vec_id = cl.cluster_id
       |ORDER BY vec_id""".stripMargin
  }

  /** IVF forced EXHAUSTIVE (nprobe == nlist): every cell scans, so the
    * result equals brute force for any trained centroids — which puts the
    * whole IVF machinery (quantizer training, distributed cell assignment,
    * probe routing, ranking) under the brute-force oracle, the same way
    * q_dedup_minhash_banded forces its scale branch under the all-pairs
    * oracle. Only the k-means cell QUALITY (recall at nprobe < nlist)
    * stays spec-tested rather than oracle-tested.
    */
  def qAnnIvfFull(s: SparkSession, dir: String): DataFrame = {
    val emb = table(s, dir, "embeddings")
    Ann.ivfTopK(emb.filter(col("vec_id") < 5), emb, "vec_id", "embedding", k = 10, nlist = 16, nprobe = 16)
      .orderBy("query_id", "rank")
  }

  // ---- sub-document span dedup (C4-style) --------------------------------
  /** Repeated 10-token spans keep only their globally first occurrence;
    * documents reassemble from surviving spans. Oracle = the same
    * first-occurrence rule via a window over every span occurrence.
    */
  def qSpanDedup(s: SparkSession, dir: String): DataFrame =
    Dedup.removeRepeatedSpans(table(s, dir, "documents"), "doc_id", "text", spanWords = 10)
      .orderBy("doc_id")

  val qSpanDedupSql: String =
    """WITH words AS (
      |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w FROM documents),
      |spans AS (
      |  SELECT doc_id, i AS span_idx,
      |    array_to_string(list_slice(w, i*10 + 1, i*10 + 10), ' ') AS span
      |  FROM words, LATERAL unnest(generate_series(0, CAST(ceil(len(w) / 10.0) AS BIGINT) - 1)) AS g(i)),
      |flagged AS (
      |  SELECT doc_id, span_idx, span,
      |    row_number() OVER (PARTITION BY span ORDER BY doc_id, span_idx) = 1 AS kept
      |  FROM spans)
      |SELECT doc_id,
      |  CAST(count(*) AS BIGINT) AS n_spans,
      |  CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  coalesce(array_to_string(list(span ORDER BY span_idx) FILTER (WHERE kept), ' '), '') AS text_kept
      |FROM flagged
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  /** VARIABLE-LENGTH exact substring dedup (r8 — the r7 verdict's #3):
    * remove every repeated substring of ≥ 10 tokens at ANY offset/length
    * (Lee et al. 2022 semantics at gram granularity), keep-first. The
    * oracle replays the full chain: sliding-gram md5s from list slices,
    * the (doc, pos) first-occurrence election as a window, the coverage
    * explode, the rescue reduction, and the reassembly.
    */
  def qSubstrDedup(s: SparkSession, dir: String): DataFrame =
    Dedup.removeRepeatedSubstrings(table(s, dir, "documents"), "doc_id", "text",
        minTokens = 10)
      .orderBy("doc_id")

  val qSubstrDedupSql: String =
    """WITH wl AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> len(t) > 0) AS l
      |  FROM documents),
      |tok AS (
      |  SELECT doc_id, CAST(g.i - 1 AS INT) AS i, l[g.i] AS tok
      |  FROM wl, LATERAL unnest(generate_series(1, CAST(len(l) AS BIGINT))) AS g(i)),
      |gr AS (
      |  SELECT doc_id, CAST(g.j - 1 AS INT) AS pos,
      |    md5(array_to_string(l[g.j:g.j+9], ' ')) AS h
      |  FROM wl, LATERAL unnest(generate_series(1, CAST(len(l) - 10 + 1 AS BIGINT))) AS g(j)),
      |occ AS (
      |  SELECT doc_id, pos,
      |    row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) = 1 AS iswin,
      |    count(*) OVER (PARTITION BY h) AS cnt
      |  FROM gr),
      |cov AS (
      |  SELECT doc_id, CAST(u.i AS INT) AS i,
      |    max(CASE WHEN iswin THEN 1 ELSE 0 END) = 1 AS rescued
      |  FROM (SELECT * FROM occ WHERE cnt >= 2) o,
      |       LATERAL unnest(generate_series(o.pos, o.pos + 9)) AS u(i)
      |  GROUP BY doc_id, u.i),
      |keptt AS (
      |  SELECT t.doc_id, t.i, t.tok, (c.i IS NULL OR c.rescued) AS kept
      |  FROM tok t LEFT JOIN cov c ON c.doc_id = t.doc_id AND c.i = t.i),
      |agg AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
      |    CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |    coalesce(array_to_string(list(tok ORDER BY i) FILTER (WHERE kept), ' '), '') AS text_kept
      |  FROM keptt GROUP BY doc_id)
      |SELECT d.doc_id,
      |  coalesce(a.n_tokens, 0) AS n_tokens,
      |  coalesce(a.n_kept, 0) AS n_kept,
      |  coalesce(a.text_kept, '') AS text_kept
      |FROM documents d LEFT JOIN agg a USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  // ---- winnowing fingerprints (MOSS) -------------------------------------
  /** Winnowing selection (Schleimer et al. 2003): every w=4 window of k=4
    * token-gram md5s keeps its rightmost minimum; the distinct selected
    * (pos, hash) set is the document fingerprint. The oracle replays gram
    * hashing, the per-window min, the rightmost tie-break, and the distinct
    * projection in SQL.
    */
  def qWinnow(s: SparkSession, dir: String): DataFrame =
    Winnow.fingerprints(table(s, dir, "documents"), "doc_id", "text", k = 4, w = 4)
      .orderBy("doc_id", "pos")

  val qWinnowSql: String =
    """WITH wl AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> len(t) > 0) AS l
      |  FROM documents),
      |gr AS (
      |  SELECT doc_id, CAST(g.j - 1 AS INT) AS pos,
      |    md5(array_to_string(l[g.j:g.j+3], ' ')) AS h
      |  FROM wl, LATERAL unnest(generate_series(1, CAST(len(l) - 4 + 1 AS BIGINT))) AS g(j)),
      |n AS (SELECT doc_id, count(*) AS n FROM gr GROUP BY doc_id),
      |wins AS (
      |  SELECT doc_id, CAST(s.s AS INT) AS s
      |  FROM n, LATERAL unnest(generate_series(0, CAST(greatest(n - 4, 0) AS BIGINT))) AS s(s)),
      |cand AS (
      |  SELECT w.doc_id, w.s, g.pos, g.h
      |  FROM wins w JOIN gr g ON g.doc_id = w.doc_id AND g.pos BETWEEN w.s AND w.s + 3),
      |mins AS (SELECT doc_id, s, min(h) AS mh FROM cand GROUP BY doc_id, s),
      |sel AS (
      |  SELECT c.doc_id, max(c.pos) AS pos
      |  FROM cand c JOIN mins m ON m.doc_id = c.doc_id AND m.s = c.s AND c.h = m.mh
      |  GROUP BY c.doc_id, c.s),
      |fp AS (SELECT DISTINCT doc_id, pos FROM sel)
      |SELECT f.doc_id, f.pos, g.h AS gram_hash
      |FROM fp f JOIN gr g ON g.doc_id = f.doc_id AND g.pos = f.pos
      |ORDER BY f.doc_id, f.pos""".stripMargin

  /** Winnowing-index candidate pairs: documents sharing ≥ 2 distinct
    * selected fingerprint hashes, boilerplate hashes (df > 1000) dropped
    * before pairing. The guarantee makes this the bounded-work candidate
    * set for ≥ w+k−1-token overlap detection.
    */
  def qWinnowPairs(s: SparkSession, dir: String): DataFrame =
    Winnow.candidatePairs(table(s, dir, "documents"), "doc_id", "text",
        k = 4, w = 4, dfCap = 1000, minShared = 2)
      .orderBy("doc_id_a", "doc_id_b")

  /** Shared winnowing-index CTE chain (tokenize → gram md5s → per-window
    * rightmost-min selection → distinct selected (doc, hash) postings →
    * df-capped hash set) — the common prefix of the pairs and keep oracles.
    */
  private val winnowIndexCtes: String =
    """wl AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> len(t) > 0) AS l
      |  FROM documents),
      |gr AS (
      |  SELECT doc_id, CAST(g.j - 1 AS INT) AS pos,
      |    md5(array_to_string(l[g.j:g.j+3], ' ')) AS h
      |  FROM wl, LATERAL unnest(generate_series(1, CAST(len(l) - 4 + 1 AS BIGINT))) AS g(j)),
      |n AS (SELECT doc_id, count(*) AS n FROM gr GROUP BY doc_id),
      |wins AS (
      |  SELECT doc_id, CAST(s.s AS INT) AS s
      |  FROM n, LATERAL unnest(generate_series(0, CAST(greatest(n - 4, 0) AS BIGINT))) AS s(s)),
      |cand AS (
      |  SELECT w.doc_id, w.s, g.pos, g.h
      |  FROM wins w JOIN gr g ON g.doc_id = w.doc_id AND g.pos BETWEEN w.s AND w.s + 3),
      |mins AS (SELECT doc_id, s, min(h) AS mh FROM cand GROUP BY doc_id, s),
      |sel AS (
      |  SELECT c.doc_id, max(c.pos) AS pos
      |  FROM cand c JOIN mins m ON m.doc_id = c.doc_id AND m.s = c.s AND c.h = m.mh
      |  GROUP BY c.doc_id, c.s),
      |fph AS (
      |  SELECT DISTINCT f.doc_id, g.h
      |  FROM (SELECT DISTINCT doc_id, pos FROM sel) f
      |  JOIN gr g ON g.doc_id = f.doc_id AND g.pos = f.pos),
      |kept AS (SELECT h FROM fph GROUP BY h HAVING count(*) <= 1000)""".stripMargin

  val qWinnowPairsSql: String =
    s"""WITH $winnowIndexCtes
      |SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
      |  CAST(count(*) AS BIGINT) AS n_shared
      |FROM fph a JOIN kept k ON k.h = a.h
      |JOIN fph b ON b.h = a.h AND a.doc_id < b.doc_id
      |GROUP BY 1, 2 HAVING count(*) >= 2
      |ORDER BY doc_id_a, doc_id_b""".stripMargin

  /** The winnowing CLOSED LOOP under the oracle: candidate pairs from the
    * selected-fingerprint index, exact full-gram-set overlap-coefficient
    * verify (≥ 0.5 of the smaller set), connected-component closure,
    * cluster-min survivor per component. The SQL replays selection,
    * candidate generation, the verify measure, and the recursive-CTE
    * transitive closure end to end.
    */
  def qWinnowKeep(s: SparkSession, dir: String): DataFrame =
    Winnow.keepAfterVerify(table(s, dir, "documents"), "doc_id", "text",
        k = 4, w = 4, dfCap = 1000, minShared = 2, threshold = 0.5)
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy("doc_id")

  val qWinnowKeepSql: String =
    s"""WITH RECURSIVE $winnowIndexCtes,
      |pairs AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM fph a JOIN kept k ON k.h = a.h
      |  JOIN fph b ON b.h = a.h AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2 HAVING count(*) >= 2),
      |gsets AS (SELECT doc_id, list(DISTINCT h) AS g FROM gr GROUP BY doc_id),
      |ver AS (
      |  SELECT p.id_a, p.id_b
      |  FROM pairs p
      |  JOIN gsets a ON a.doc_id = p.id_a
      |  JOIN gsets b ON b.doc_id = p.id_b
      |  WHERE CAST(len(list_intersect(a.g, b.g)) AS DOUBLE) >=
      |        0.5 * CAST(least(len(a.g), len(b.g)) AS DOUBLE)),
      |e AS (SELECT id_a AS src, id_b AS dst FROM ver
      |      UNION ALL SELECT id_b AS src, id_a AS dst FROM ver),
      |reach(id, r) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT e.dst, reach.r FROM reach JOIN e ON e.src = reach.id),
      |cl AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id)
      |SELECT d.doc_id, d.lang, d.source, d.n_chars
      |FROM documents d JOIN cl USING (doc_id)
      |WHERE d.doc_id = cl.cluster_id
      |ORDER BY d.doc_id""".stripMargin

  // ---- source-level quality gate -----------------------------------------
  /** Keep documents whose source's mean quality clears the corpus mean —
    * the domain-blocklist decision shape. Gate side is broadcast; document
    * rows never shuffle.
    */
  def qSourceGate(s: SparkSession, dir: String): DataFrame =
    Curation.sourceQualityGate(table(s, dir, "documents"), "doc_id", "source",
        TF.qualityScore(col("text")))
      .orderBy("doc_id")

  // ---- per-domain document cap --------------------------------------------
  /** At most 10 docs per source, md5-priority uniform sample — the
    * domain-domination guard. The row_number form rewrites to the bounded
    * graft_topk aggregate via TopKRewriteRule.
    */
  def qDomainCap(s: SparkSession, dir: String): DataFrame =
    Curation.capPerGroup(table(s, dir, "documents"), "doc_id", "source", cap = 10)
      .select("doc_id", "source", "lang", "n_chars")
      .orderBy("doc_id")

  val qDomainCapSql: String =
    """SELECT doc_id, source, lang, n_chars FROM (
      |  SELECT doc_id, source, lang, n_chars,
      |    row_number() OVER (PARTITION BY source
      |                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      |  FROM documents) t
      |WHERE rn <= 10
      |ORDER BY doc_id""".stripMargin

  // ---- per-source corpus statistics report --------------------------------
  /** The end-of-run report: per source, doc count, token total, exact median
    * doc length (histogram-based — memory-safe at any group size), distinct
    * content count.
    */
  def qCorpusStats(s: SparkSession, dir: String): DataFrame =
    Curation.corpusStats(table(s, dir, "documents"), "source", "text", "n_chars")
      .orderBy("source")

  val qCorpusStatsSql: String =
    """SELECT source,
      |  COUNT(*) AS n_docs,
      |  CAST(SUM(len(string_split_regex(lower(trim(text)), '\s+'))) AS BIGINT) AS total_tokens,
      |  CAST(median(n_chars) AS DOUBLE) AS median_chars,
      |  CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS distinct_docs
      |FROM documents
      |GROUP BY source
      |ORDER BY source""".stripMargin

  /** The corpus report at 100 TB shape: distinct-content accounting via the
    * per-source HLL register state instead of an exact COUNT(DISTINCT) —
    * bounded memory, still fully under the hash gate (the published columns
    * are exact sketch state plus one bit-pinned double division; see
    * [[Curation.corpusStatsSketch]]).
    */
  def qCorpusStatsV2(s: SparkSession, dir: String): DataFrame =
    Curation.corpusStatsSketch(table(s, dir, "documents"), "source", "text", "n_chars")
      .orderBy("source")

  val qCorpusStatsV2Sql: String =
    """WITH slim AS (
      |  SELECT source, n_chars,
      |    CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT) AS tok,
      |    CAST(md5_number_lower(text) % 4096 AS INT) AS bucket,
      |    CAST(CASE WHEN md5_number_lower('r:' || text) % 281474976710656 = 0 THEN 49
      |         ELSE 49 - length(bin(md5_number_lower('r:' || text) % 281474976710656)) END AS INT) AS rho
      |  FROM documents),
      |base AS (
      |  SELECT source, COUNT(*) AS n_docs, CAST(SUM(tok) AS BIGINT) AS total_tokens,
      |         CAST(median(n_chars) AS DOUBLE) AS median_chars
      |  FROM slim GROUP BY source),
      |regs AS (SELECT source, bucket, max(rho) AS rho FROM slim GROUP BY 1, 2),
      |hll AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS hll_buckets,
      |         CAST(sum(CAST(1 AS BIGINT) << (49 - rho)) AS BIGINT) AS s_ne
      |  FROM regs GROUP BY source)
      |SELECT base.source, n_docs, total_tokens, median_chars, hll_buckets,
      |  CAST(s_ne + (4096 - hll_buckets) * (CAST(1 AS BIGINT) << 49) AS BIGINT) AS hll_sum,
      |  ((CAST(0.7213 AS DOUBLE) / (CAST(1.0 AS DOUBLE) + CAST(1.079 AS DOUBLE) / CAST(4096 AS DOUBLE)))
      |    * CAST(16777216 AS DOUBLE) * CAST(562949953421312 AS DOUBLE))
      |    / CAST(s_ne + (4096 - hll_buckets) * (CAST(1 AS BIGINT) << 49) AS DOUBLE) AS est_distinct
      |FROM base JOIN hll USING (source)
      |ORDER BY source""".stripMargin

  /** Exact per-source p50/p90/p99 doc-length percentiles via the histogram
    * CDF — no value-buffering percentile aggregate on either engine: the
    * oracle replays the same "smallest value with cumulative count ≥ ⌈p·n⌉"
    * rule over the same histogram.
    */
  def qLengthPercentiles(s: SparkSession, dir: String): DataFrame =
    Curation.lengthPercentiles(table(s, dir, "documents"), "source", "n_chars")
      .orderBy("source")

  val qLengthPercentilesSql: String =
    """WITH hist AS (
      |  SELECT source, n_chars AS v, CAST(count(*) AS BIGINT) AS cnt
      |  FROM documents GROUP BY 1, 2),
      |cum AS (
      |  SELECT source, v, cnt,
      |    sum(cnt) OVER (PARTITION BY source ORDER BY v) AS hi,
      |    sum(cnt) OVER (PARTITION BY source) AS n
      |  FROM hist)
      |SELECT source,
      |  CAST(min(CASE WHEN hi >= CEIL(n * 0.5) THEN v END) AS BIGINT) AS p50,
      |  CAST(min(CASE WHEN hi >= CEIL(n * 0.9) THEN v END) AS BIGINT) AS p90,
      |  CAST(min(CASE WHEN hi >= CEIL(n * 0.99) THEN v END) AS BIGINT) AS p99
      |FROM cum GROUP BY source
      |ORDER BY source""".stripMargin

  /** Per-source quality-score percentiles — the CONTINUOUS-value cousin of
    * the length percentiles: quality micro-quantizes to a bounded integer
    * domain (≤ 10⁶ + 1 distinct cells), so the same histogram CDF gives
    * EXACT percentiles with two-running-longs window state where a naive
    * percentile aggregate buffers every value. The report a curation run
    * publishes next to the gate verdicts ("p50 quality per source").
    */
  def qQualityPercentiles(s: SparkSession, dir: String): DataFrame =
    Curation.lengthPercentiles(
        table(s, dir, "documents").select(col("source"),
          round(TF.qualityScore(col("text")) * lit(1000000.0)).cast("long").as("qm")),
        "source", "qm")
      .select(col("source"),
        (col("p50").cast("double") / 1000000.0).as("p50_quality"),
        (col("p90").cast("double") / 1000000.0).as("p90_quality"),
        (col("p99").cast("double") / 1000000.0).as("p99_quality"))
      .orderBy("source")

  val qQualityPercentilesSql: String =
    """WITH q AS (
      |  SELECT source,
      |    CAST(round(greatest(least(
      |      least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.5
      |      + least(CAST(len(regexp_extract_all(lower(text), '\b(the|a|of|and|to|in|is|it)\b')) AS DOUBLE)
      |              / greatest(CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS DOUBLE), 1.0) * 4.0, 1.0) * 0.5
      |      - least(CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE)
      |              / greatest(CAST(length(text) AS DOUBLE), 1.0) * 10.0, 1.0) * 0.25,
      |    1.0), 0.0) * 1000000.0) AS BIGINT) AS qm
      |  FROM documents),
      |hist AS (SELECT source, qm AS v, CAST(count(*) AS BIGINT) AS cnt FROM q GROUP BY 1, 2),
      |cum AS (
      |  SELECT source, v, cnt,
      |    sum(cnt) OVER (PARTITION BY source ORDER BY v) AS hi,
      |    sum(cnt) OVER (PARTITION BY source) AS n
      |  FROM hist)
      |SELECT source,
      |  CAST(min(CASE WHEN hi >= CEIL(n * 0.5) THEN v END) AS DOUBLE) / 1000000.0 AS p50_quality,
      |  CAST(min(CASE WHEN hi >= CEIL(n * 0.9) THEN v END) AS DOUBLE) / 1000000.0 AS p90_quality,
      |  CAST(min(CASE WHEN hi >= CEIL(n * 0.99) THEN v END) AS DOUBLE) / 1000000.0 AS p99_quality
      |FROM cum GROUP BY source
      |ORDER BY source""".stripMargin

  val qSourceGateSql: String =
    """WITH q AS (
      |  SELECT doc_id, source,
      |    greatest(least(
      |      least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.5
      |      + least(CAST(len(regexp_extract_all(lower(text), '\b(the|a|of|and|to|in|is|it)\b')) AS DOUBLE)
      |              / greatest(CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS DOUBLE), 1.0) * 4.0, 1.0) * 0.5
      |      - least(CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE)
      |              / greatest(CAST(length(text) AS DOUBLE), 1.0) * 10.0, 1.0) * 0.25,
      |    1.0), 0.0) AS quality
      |  FROM documents),
      |s AS (SELECT source, CAST(SUM(CAST(round(quality * 1000000.0) AS BIGINT)) AS BIGINT) AS qsum,
      |             count(*) AS src_docs FROM q GROUP BY source),
      |g AS (SELECT CAST(SUM(qsum) AS BIGINT) AS tq, CAST(SUM(src_docs) AS BIGINT) AS td FROM s)
      |SELECT q.doc_id, q.source, q.quality,
      |  CAST(s.qsum AS DOUBLE) / (CAST(s.src_docs AS DOUBLE) * 1000000.0) AS src_avg
      |FROM q JOIN s USING (source), g
      |WHERE CAST(s.qsum AS DOUBLE) / CAST(s.src_docs AS DOUBLE) >= CAST(g.tq AS DOUBLE) / CAST(g.td AS DOUBLE)
      |ORDER BY q.doc_id""".stripMargin

  // ---- directional containment (near-subset pairs) ------------------------
  /** Ordered near-subset pairs at containment ≥ 0.8 over distinct 5-gram
    * shingles — the truncation/excerpt detector symmetric jaccard can't
    * express (|A| ≪ |B| caps jaccard regardless of how completely A ⊂ B).
    * dfCap = 2²⁰ provably exceeds every df at test scale, so the registered
    * result is the EXACT pair set; the cap's recall trade is spec-pinned
    * separately ([[graft.operators.Containment]]).
    */
  def qContainment(s: SparkSession, dir: String): DataFrame =
    graft.operators.Containment.containmentPairs(table(s, dir, "documents"),
        "doc_id", "text", threshold = 0.8, shingleN = 5, dfCap = 1L << 20)
      .select(col("src"), col("dst"), col("n_src").cast("long").as("n_src"),
        col("n_dst").cast("long").as("n_dst"), col("isect").cast("long").as("isect"),
        col("containment"))
      .orderBy("src", "dst")

  val qContainmentSql: String =
    """WITH t AS (
      |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t FROM documents),
      |sh AS (
      |  SELECT doc_id, CASE WHEN len(t) >= 5
      |    THEN list_distinct(list_transform(range(0, len(t) - 4), i -> array_to_string(t[i+1:i+5], ' ')))
      |    ELSE [array_to_string(t, ' ')] END AS gs
      |  FROM t),
      |sz AS (SELECT doc_id, len(gs) AS sz FROM sh),
      |e AS (SELECT doc_id, unnest(gs) AS g FROM sh),
      |p AS (
      |  SELECT a.doc_id AS a, b.doc_id AS b, CAST(COUNT(*) AS BIGINT) AS isect
      |  FROM e a JOIN e b ON a.g = b.g AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |j AS (
      |  SELECT p.a, p.b, sa.sz AS sza, sb.sz AS szb, p.isect
      |  FROM p JOIN sz sa ON sa.doc_id = p.a JOIN sz sb ON sb.doc_id = p.b),
      |d AS (
      |  SELECT a AS src, b AS dst, sza AS n_src, szb AS n_dst, isect FROM j
      |  WHERE CAST(isect AS DOUBLE) >= CAST(sza AS DOUBLE) * 0.8
      |  UNION ALL
      |  SELECT b, a, szb, sza, isect FROM j
      |  WHERE CAST(isect AS DOUBLE) >= CAST(szb AS DOUBLE) * 0.8)
      |SELECT src, dst, CAST(n_src AS BIGINT) AS n_src, CAST(n_dst AS BIGINT) AS n_dst,
      |  CAST(isect AS BIGINT) AS isect,
      |  CAST(isect AS DOUBLE) / CAST(n_src AS DOUBLE) AS containment
      |FROM d
      |ORDER BY src, dst""".stripMargin

  // ---- incremental containment probe --------------------------------------
  /** The ingest shape: the doc_id ≡ 0 (mod 4) slice arrives as a batch
    * against the rest of the corpus; batch docs ≥ 0.8-contained in some
    * corpus doc are rejected, survivors admit. Batch frames broadcast, the
    * corpus index streams — zero corpus shuffle ([[graft.operators.Containment]]).
    */
  def qContainmentProbe(s: SparkSession, dir: String): DataFrame = {
    val docs = table(s, dir, "documents")
    graft.operators.Containment.probeNotContained(
        docs.filter(col("doc_id") % 4 =!= 0), docs.filter(col("doc_id") % 4 === 0),
        "doc_id", "text", threshold = 0.8, shingleN = 5, dfCap = 1L << 20)
      .select("doc_id", "source", "lang")
      .orderBy("doc_id")
  }

  val qContainmentProbeSql: String =
    """WITH t AS (
      |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t FROM documents),
      |sh AS (
      |  SELECT doc_id, CASE WHEN len(t) >= 5
      |    THEN list_distinct(list_transform(range(0, len(t) - 4), i -> array_to_string(t[i+1:i+5], ' ')))
      |    ELSE [array_to_string(t, ' ')] END AS gs
      |  FROM t),
      |b AS (SELECT doc_id, unnest(gs) AS g FROM sh WHERE doc_id % 4 = 0),
      |c AS (SELECT doc_id, unnest(gs) AS g FROM sh WHERE doc_id % 4 <> 0),
      |bsz AS (SELECT doc_id, len(gs) AS sz FROM sh WHERE doc_id % 4 = 0),
      |isect AS (
      |  SELECT b.doc_id AS bid, c.doc_id AS cid, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM b JOIN c USING (g) GROUP BY 1, 2),
      |contained AS (
      |  SELECT DISTINCT i.bid AS doc_id
      |  FROM isect i JOIN bsz ON bsz.doc_id = i.bid
      |  WHERE CAST(i.n AS DOUBLE) >= CAST(bsz.sz AS DOUBLE) * 0.8)
      |SELECT d.doc_id, d.source, d.lang
      |FROM documents d
      |WHERE d.doc_id % 4 = 0 AND d.doc_id NOT IN (SELECT doc_id FROM contained)
      |ORDER BY d.doc_id""".stripMargin

  // ---- embedding mean-pool ------------------------------------------------
  /** Chunk→document mean pooling over the embeddings table (groups of 10
    * consecutive vec_ids stand in for a document's chunk set). Micro-unit
    * integer cell sums make the mean partitioning-invariant and let the
    * oracle replay every element exactly — see [[graft.operators.Embed]].
    *
    * The REGISTERED projection posexplodes the pooled array: every element
    * AND its assembled position sit under the hash gate as scalars (arrow
    * list schemas differ cross-engine in child naming/nullability, which
    * the driver's schema compare would flag even for equal values — the
    * exploded form gates strictly more: content plus assembly order).
    */
  def qEmbedPool(s: SparkSession, dir: String): DataFrame =
    graft.operators.Embed.meanPool(
        table(s, dir, "embeddings").withColumn("grp", expr("vec_id DIV 10")),
        "grp", "embedding")
      .select(col("grp"), posexplode(col("mean_embedding")).as(Seq("pos", "m")))
      .orderBy("grp", "pos")

  val qEmbedPoolSql: String =
    """WITH e AS (
      |  SELECT vec_id // 10 AS grp, CAST(g.i - 1 AS INT) AS pos,
      |         CAST(round(CAST(embedding[g.i] AS DOUBLE) * 1000000.0) AS BIGINT) AS micro
      |  FROM embeddings, LATERAL unnest(generate_series(1, CAST(len(embedding) AS BIGINT))) AS g(i))
      |SELECT grp, pos,
      |  CAST(SUM(micro) AS DOUBLE) / (CAST(COUNT(*) AS DOUBLE) * 1000000.0) AS m
      |FROM e GROUP BY grp, pos
      |ORDER BY grp, pos""".stripMargin

  // ---- content-defined chunking --------------------------------------------
  /** CTE chain chunking snapshot `src`: position-local CDC cuts (md5 of
    * the 8-char window prefixed '00' ⇒ expected ~256-char chunks), chunk
    * reassembly via a lag window + final-tail union, empty chunks dropped.
    * CTE names carry prefix `p` so the delta oracle can run the chain once
    * per snapshot in a single WITH.
    */
  private def cdcChunkCtes(src: String, p: String): String =
    s"""${p}d AS (SELECT doc_id, text, CAST(length(text) AS INT) AS n FROM $src),
      |${p}cuts AS (
      |  SELECT doc_id, CAST(u.i AS INT) AS cut
      |  FROM ${p}d, LATERAL unnest(generate_series(8, n)) AS u(i)
      |  WHERE substr(md5(substr(text, CAST(u.i AS INT) - 7, 8)), 1, 2) = '00'),
      |${p}mx AS (SELECT doc_id, max(cut) AS mc FROM ${p}cuts GROUP BY doc_id),
      |${p}ch AS (
      |  SELECT doc_id,
      |    coalesce(lag(cut) OVER (PARTITION BY doc_id ORDER BY cut), 0) + 1 AS s,
      |    cut AS e
      |  FROM ${p}cuts
      |  UNION ALL
      |  SELECT d.doc_id, coalesce(mx.mc, 0) + 1 AS s, d.n AS e
      |  FROM ${p}d d LEFT JOIN ${p}mx mx USING (doc_id)),
      |${p}idx AS (
      |  SELECT doc_id, s, e,
      |    CAST(row_number() OVER (PARTITION BY doc_id ORDER BY s) - 1 AS INT) AS chunk_idx
      |  FROM ${p}ch WHERE e >= s),
      |${p}chunks AS (
      |  SELECT i.doc_id, i.chunk_idx, CAST(i.s AS INT) AS start,
      |    CAST(i.e - i.s + 1 AS INT) AS chunk_len,
      |    md5(substr(d.text, i.s, i.e - i.s + 1)) AS chunk_hash
      |  FROM ${p}idx i JOIN ${p}d d USING (doc_id))""".stripMargin

  private val cdcChunksSql: String = "WITH " + cdcChunkCtes("documents", "")

  /** Content-defined chunking of every document — the chunk index rows
    * themselves (id, idx, start, len, hash), all boundary decisions under
    * the hash gate.
    */
  def qCdcChunks(s: SparkSession, dir: String): DataFrame =
    graft.operators.Cdc.chunks(table(s, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id", "chunk_idx")

  val qCdcChunksSql: String = cdcChunksSql +
    """
      |SELECT doc_id, chunk_idx, start, chunk_len, chunk_hash FROM chunks
      |ORDER BY doc_id, chunk_idx""".stripMargin

  /** Corpus chunk-dedup accounting: total vs distinct chunks and chars —
    * the "what does chunk-level dedup save on this corpus" report.
    */
  def qCdcStats(s: SparkSession, dir: String): DataFrame =
    graft.operators.Cdc.dedupStats(table(s, dir, "documents"), "doc_id", "text")

  val qCdcStatsSql: String = cdcChunksSql +
    """,
      |g AS (
      |  SELECT chunk_hash, max(chunk_len) AS len, CAST(count(*) AS BIGINT) AS copies
      |  FROM chunks GROUP BY chunk_hash)
      |SELECT CAST(sum(copies) AS BIGINT) AS n_chunks,
      |  CAST(count(*) AS BIGINT) AS n_distinct_chunks,
      |  CAST(sum(len * copies) AS BIGINT) AS chars_total,
      |  CAST(sum(len) AS BIGINT) AS chars_distinct
      |FROM g""".stripMargin

  /** CROSS-SNAPSHOT CDC delta — the versioning query the chunk index
    * exists for: snapshot t is the documents table; snapshot t+1 is
    * derived IN-QUERY with deterministic planted churn both engines replay
    * identically — deletions (doc_id % 13), prefix edits (doc_id % 7 →
    * 'EDITQ ' + text, the resync case: all but the first ~2 chunks
    * re-align and reuse), and inserts (doc_id % 11 spawns id+10⁷ with
    * upper(text) — all-new chunk content). The report prices storing t+1
    * against t's chunk store.
    */
  def qCdcDelta(s: SparkSession, dir: String): DataFrame = {
    val docs = table(s, dir, "documents").select(col("doc_id"), col("text"))
    val next = docs
      .filter(col("doc_id") % 13 =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % 7 === 0, concat(lit("EDITQ "), col("text")))
          .otherwise(col("text")).as("text"))
      .unionByName(docs.filter(col("doc_id") % 11 === 0)
        .select((col("doc_id") + lit(10000000L)).as("doc_id"),
          upper(col("text")).as("text")))
    graft.operators.Cdc.deltaStats(docs, next, "doc_id", "text")
  }

  val qCdcDeltaSql: String =
    s"""WITH snap_new AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 7 = 0 THEN 'EDITQ ' || text ELSE text END AS text
      |  FROM documents WHERE doc_id % 13 <> 0
      |  UNION ALL
      |  SELECT doc_id + 10000000 AS doc_id, upper(text) AS text
      |  FROM documents WHERE doc_id % 11 = 0),
      |${cdcChunkCtes("documents", "o")},
      |${cdcChunkCtes("snap_new", "nw")},
      |oldh AS (SELECT DISTINCT chunk_hash FROM ochunks)
      |SELECT CAST(count(*) AS BIGINT) AS n_chunks,
      |  CAST(sum(CASE WHEN o.chunk_hash IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_reused,
      |  CAST(sum(CASE WHEN o.chunk_hash IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
      |  CAST(sum(c.chunk_len) AS BIGINT) AS chars_total,
      |  CAST(sum(CASE WHEN o.chunk_hash IS NULL THEN c.chunk_len ELSE 0 END) AS BIGINT) AS chars_new
      |FROM nwchunks c LEFT JOIN oldh o ON o.chunk_hash = c.chunk_hash""".stripMargin

  // ---- distributed exact-integer k-means ----------------------------------
  /** Shared CTE prefix: micro-unit quantization, exploded cells, the k=8
    * lowest-id seeds, and TWO full Lloyd rounds (assign by integer L2² with
    * lowest-cid ties, floor-mean update, empty cells keep the old
    * coordinate) — every arithmetic step integer-exact on both engines.
    */
  private val kmeansPrefixSql: String =
    """WITH q AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS v
      |  FROM embeddings),
      |qe AS (
      |  SELECT vec_id, CAST(u.i - 1 AS INT) AS pos, v[u.i] AS qv
      |  FROM q, LATERAL unnest(generate_series(1, CAST(len(v) AS BIGINT))) AS u(i)),
      |seed AS (
      |  SELECT vec_id, CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid
      |  FROM q ORDER BY vec_id LIMIT 8),
      |c0 AS (SELECT s.cid, e.pos, e.qv FROM seed s JOIN qe e USING (vec_id)),
      |d1 AS (
      |  SELECT e.vec_id, c.cid, CAST(sum((e.qv - c.qv) * (e.qv - c.qv)) AS BIGINT) AS d2
      |  FROM qe e JOIN c0 c USING (pos) GROUP BY e.vec_id, c.cid),
      |a1 AS (
      |  SELECT vec_id, cid FROM (
      |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
      |    FROM d1) t WHERE rn = 1),
      |s1 AS (
      |  SELECT a.cid, e.pos, CAST(sum(e.qv) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS c
      |  FROM a1 a JOIN qe e USING (vec_id) GROUP BY a.cid, e.pos),
      |c1 AS (
      |  SELECT c0.cid, c0.pos,
      |    coalesce(CAST((s.s - ((s.s % s.c + s.c) % s.c)) / s.c AS BIGINT), c0.qv) AS qv
      |  FROM c0 LEFT JOIN s1 s ON s.cid = c0.cid AND s.pos = c0.pos),
      |d2t AS (
      |  SELECT e.vec_id, c.cid, CAST(sum((e.qv - c.qv) * (e.qv - c.qv)) AS BIGINT) AS d2
      |  FROM qe e JOIN c1 c USING (pos) GROUP BY e.vec_id, c.cid),
      |a2 AS (
      |  SELECT vec_id, cid FROM (
      |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
      |    FROM d2t) t WHERE rn = 1),
      |s2 AS (
      |  SELECT a.cid, e.pos, CAST(sum(e.qv) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS c
      |  FROM a2 a JOIN qe e USING (vec_id) GROUP BY a.cid, e.pos),
      |c2 AS (
      |  SELECT c1.cid, c1.pos,
      |    coalesce(CAST((s.s - ((s.s % s.c + s.c) % s.c)) / s.c AS BIGINT), c1.qv) AS qv
      |  FROM c1 LEFT JOIN s2 s ON s.cid = c1.cid AND s.pos = c1.pos)""".stripMargin

  /** Full-corpus deterministic k-means: final assignment (vec_id, cid, d2)
    * after two Lloyd rounds at k=8. The oracle replays quantization, both
    * assign/update rounds, and the final argmin in pure integer SQL.
    */
  def qKmeansAssign(s: SparkSession, dir: String): DataFrame =
    graft.operators.KMeans.cluster(table(s, dir, "embeddings"), "vec_id", "embedding",
        k = 8, iters = 2)
      .orderBy("vec_id")

  val qKmeansAssignSql: String = kmeansPrefixSql +
    """,
      |d3 AS (
      |  SELECT e.vec_id, c.cid, CAST(sum((e.qv - c.qv) * (e.qv - c.qv)) AS BIGINT) AS d2
      |  FROM qe e JOIN c2 c USING (pos) GROUP BY e.vec_id, c.cid)
      |SELECT vec_id, cid, d2 FROM (
      |  SELECT vec_id, cid, d2, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
      |  FROM d3) t WHERE rn = 1
      |ORDER BY vec_id""".stripMargin

  /** The trained centroids themselves, exploded to (cid, pos, qval) scalar
    * cells so every coordinate sits under the hash gate.
    */
  def qKmeansCentroids(s: SparkSession, dir: String): DataFrame =
    graft.operators.KMeans.centroidTable(table(s, dir, "embeddings"), "vec_id", "embedding",
        k = 8, iters = 2)
      .orderBy("cid", "pos")

  val qKmeansCentroidsSql: String = kmeansPrefixSql +
    """
      |SELECT cid, pos, qv AS qval FROM c2 ORDER BY cid, pos""".stripMargin

  // ---- cluster-quality report ---------------------------------------------
  /** Per-label tightness/separation audit of the embedding space — exact
    * intra sum-of-squares to the label centroid plus the nearest other
    * centroid, the two numbers behind every silhouette-style judgement.
    * See [[graft.operators.ClusterReport.report]] for the two-scan /
    * control-plane shape.
    */
  def qClusterReport(s: SparkSession, dir: String): DataFrame =
    graft.operators.ClusterReport.report(table(s, dir, "embeddings"), "label", "embedding")
      .orderBy("label")

  val qClusterReportSql: String =
    """WITH q AS (
      |  SELECT vec_id, CAST(label AS INT) AS label,
      |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS v
      |  FROM embeddings),
      |qe AS (
      |  SELECT vec_id, label, CAST(u.i - 1 AS INT) AS pos, v[u.i] AS qv
      |  FROM q, LATERAL unnest(generate_series(1, CAST(len(v) AS BIGINT))) AS u(i)),
      |cell AS (
      |  SELECT label, pos, CAST(sum(qv) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS c
      |  FROM qe GROUP BY 1, 2),
      |cent AS (
      |  SELECT label, pos, CAST((s - ((s % c + c) % c)) / c AS BIGINT) AS cv FROM cell),
      |d AS (
      |  SELECT e.vec_id, e.label, CAST(sum((e.qv - c.cv) * (e.qv - c.cv)) AS BIGINT) AS d2
      |  FROM qe e JOIN cent c ON c.label = e.label AND c.pos = e.pos
      |  GROUP BY 1, 2),
      |intra AS (
      |  SELECT label, CAST(count(*) AS BIGINT) AS n, CAST(sum(d2) AS BIGINT) AS sum_d2
      |  FROM d GROUP BY 1),
      |cd AS (
      |  SELECT a.label AS la, b.label AS lb,
      |    CAST(sum((a.cv - b.cv) * (a.cv - b.cv)) AS BIGINT) AS d2
      |  FROM cent a JOIN cent b ON a.pos = b.pos AND a.label <> b.label
      |  GROUP BY 1, 2),
      |near AS (
      |  SELECT la AS label, lb AS nearest_label, d2 AS nearest_d2 FROM (
      |    SELECT la, lb, d2, row_number() OVER (PARTITION BY la ORDER BY d2, lb) AS rn
      |    FROM cd) t WHERE rn = 1)
      |SELECT i.label, i.n, i.sum_d2, CAST(i.sum_d2 AS DOUBLE) / i.n AS mean_d2,
      |  nr.nearest_label, nr.nearest_d2
      |FROM intra i JOIN near nr USING (label)
      |ORDER BY label""".stripMargin

  /** Cluster-BALANCED sampling — the use-case full-corpus k-means exists
    * for: assign every vector to its trained cluster, then cap each cluster
    * at 30 via the md5-priority uniform rule ([[Curation.capPerGroup]], the
    * domain-cap machinery pointed at topic cells). Dominant topics shrink
    * to the cap, rare topics keep everything. Oracle = the full k-means
    * replay + the same deterministic cap.
    */
  def qClusterBalance(s: SparkSession, dir: String): DataFrame =
    Curation.capPerGroup(
        graft.operators.KMeans.cluster(table(s, dir, "embeddings"), "vec_id", "embedding",
          k = 8, iters = 2),
        "vec_id", "cid", cap = 30)
      .select("vec_id", "cid")
      .orderBy("vec_id")

  val qClusterBalanceSql: String = kmeansPrefixSql +
    """,
      |d3 AS (
      |  SELECT e.vec_id, c.cid, CAST(sum((e.qv - c.qv) * (e.qv - c.qv)) AS BIGINT) AS d2
      |  FROM qe e JOIN c2 c USING (pos) GROUP BY e.vec_id, c.cid),
      |fin AS (
      |  SELECT vec_id, cid FROM (
      |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
      |    FROM d3) t WHERE rn = 1)
      |SELECT vec_id, cid FROM (
      |  SELECT vec_id, cid,
      |    row_number() OVER (PARTITION BY cid
      |                       ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS crn
      |  FROM fin) t
      |WHERE crn <= 30
      |ORDER BY vec_id""".stripMargin

  // ---- trained-merges BPE tokenization ------------------------------------

  /** Absolute path of the pinned BPE merge-table fixture for `dir`.
    * Training (graft.operators.Bpe.train, 48 merges) is a deterministic
    * pure function of the corpus's word-frequency table, but not
    * SQL-expressible — so like the IVF centroids, the MERGES are pinned on
    * disk and the oracle replays everything downstream of training (the
    * whole encode) in pure SQL over the same strings.
    */
  def bpeMergesFixture(dir: String): String =
    new java.io.File(s"target/verify_fixtures/bpe_merges_m48_${dataTag(dir)}.parquet").getAbsolutePath

  private val lastBpeDir = new java.util.concurrent.atomic.AtomicReference[String](".")

  // merge tables are ≤48 rows; memoizing the parsed Seq also skips the
  // (tiny but per-invocation) fixture read-back job
  private val mergesMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[(String, String)]]()

  private def pinnedBpeMerges(s: SparkSession, dir: String): Seq[(String, String)] = {
    val fixture = bpeMergesFixture(dir)
    lastBpeDir.set(dir)
    mergesMemo.computeIfAbsent(fixture, { _ =>
      pinFixtureOnce(() => graft.operators.Bpe.train(table(s, dir, "documents"), "text",
        numMerges = 48), fixture, s)
      graft.operators.Bpe.mergesOf(s.read.parquet(fixture))
    })
  }

  /** The shared oracle CTE chain: distinct corpus words → BPE length per
    * word via one literal `replace` per merge rank over the
    * separator-wrapped token string (chr(31) boundaries make matches
    * token-exact; `replace` is leftmost-first non-overlapping — exactly
    * the native expression's per-rank pass) → per-document word and BPE
    * token counts. Callers embed it under WITH RECURSIVE.
    */
  private def bpeDocLenCtes(fixture: String): String =
    s"""m AS (SELECT rank, lhs, rhs FROM read_parquet('$fixture/*.parquet')),
       |wx AS (
       |  SELECT doc_id, w FROM (
       |    SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
       |    FROM documents)
       |  WHERE len(w) > 0),
       |uw AS (SELECT DISTINCT w FROM wx),
       |enc(w, r, s) AS (
       |  SELECT w, 0, chr(31) || array_to_string(regexp_extract_all(w, '.'), chr(31)||chr(31)) || chr(31)
       |  FROM uw
       |  UNION ALL
       |  SELECT e.w, e.r + 1,
       |    replace(e.s, chr(31)||m.lhs||chr(31)||chr(31)||m.rhs||chr(31), chr(31)||m.lhs||m.rhs||chr(31))
       |  FROM enc e JOIN m ON m.rank = e.r + 1),
       |wlen AS (
       |  SELECT w, len(string_split(s, chr(31)||chr(31))) AS n
       |  FROM enc WHERE r = (SELECT max(rank) FROM m)),
       |doclen AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words, CAST(sum(n) AS BIGINT) AS n_bpe
       |  FROM wx JOIN wlen USING (w) GROUP BY doc_id)""".stripMargin

  /** Per-document model-token counts under the pinned 48-merge table —
    * whitespace words vs BPE tokens side by side (the drift the regex
    * approximation can't see). Zero-word documents carry (0, 0).
    */
  def qBpeCount(s: SparkSession, dir: String): DataFrame = {
    val merges = pinnedBpeMerges(s, dir)
    table(s, dir, "documents")
      .select(col("doc_id"),
        size(filter(TF.tokens(col("text")), w => length(w) > 0))
          .cast("long").as("n_words"),
        graft.operators.Bpe.bpeLen(col("text"), merges).cast("long").as("n_bpe"))
      .orderBy("doc_id")
  }

  def qBpeCountSql: String =
    s"""WITH RECURSIVE ${bpeDocLenCtes(bpeMergesFixture(lastBpeDir.get))}
       |SELECT d.doc_id,
       |  CAST(coalesce(l.n_words, 0) AS BIGINT) AS n_words,
       |  CAST(coalesce(l.n_bpe, 0) AS BIGINT) AS n_bpe
       |FROM documents d LEFT JOIN doclen l USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  def bpeVocabFixture(dir: String): String =
    new java.io.File(s"target/verify_fixtures/bpe_vocab_m48_${dataTag(dir)}.parquet").getAbsolutePath

  private def pinnedBpeVocab(s: SparkSession, dir: String): DataFrame = {
    val fixture = bpeVocabFixture(dir)
    pinFixtureOnce(() => {
      val merges = s.read.parquet(bpeMergesFixture(dir))
      graft.operators.Bpe.vocab(table(s, dir, "documents"), "text", merges)
    }, fixture, s)
    s.read.parquet(fixture)
  }

  /** Full token-ID encoding — what a packed corpus on disk stores: one row
    * per (doc, word, token) with the token's vocabulary id (−1 = UNK).
    * The oracle recovers the token STREAM (not just counts) from the same
    * separator-wrapped replay and joins the pinned vocabulary, so every
    * emitted id sits under the hash gate.
    */
  def qBpeEncode(s: SparkSession, dir: String): DataFrame = {
    val merges = pinnedBpeMerges(s, dir)
    val vocab = pinnedBpeVocab(s, dir)
    table(s, dir, "documents")
      .select(col("doc_id"), posexplode(TF.tokens(col("text"))).as(Seq("word_idx", "w")))
      .filter(length(col("w")) > 0)
      .select(col("doc_id"), col("word_idx"),
        posexplode(graft.operators.Bpe.bpeTokens(col("w"), merges)).as(Seq("tok_idx", "token")))
      .join(broadcast(vocab), Seq("token"), "left")
      .select(col("doc_id"), col("word_idx"), col("tok_idx"), col("token"),
        coalesce(col("token_id"), lit(-1)).cast("int").as("token_id"))
      .orderBy("doc_id", "word_idx", "tok_idx")
  }

  def qBpeEncodeSql: String =
    s"""WITH RECURSIVE ${bpeDocLenCtes(bpeMergesFixture(lastBpeDir.get))},
       |v AS (SELECT token, token_id FROM read_parquet('${bpeVocabFixture(lastBpeDir.get)}/*.parquet')),
       |toks AS (
       |  SELECT w, string_split(trim(s, chr(31)), chr(31)||chr(31)) AS ts
       |  FROM enc WHERE r = (SELECT max(rank) FROM m)),
       |wpos AS (
       |  SELECT doc_id, CAST(g.i - 1 AS INT) AS word_idx, wl[g.i] AS wd
       |  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS wl FROM documents),
       |       LATERAL unnest(generate_series(1, CAST(len(wl) AS BIGINT))) AS g(i)
       |  WHERE len(wl[g.i]) > 0),
       |stream AS (
       |  SELECT doc_id, word_idx, CAST(g2.j - 1 AS INT) AS tok_idx, ts[g2.j] AS token
       |  FROM wpos JOIN toks ON toks.w = wpos.wd,
       |       LATERAL unnest(generate_series(1, CAST(len(ts) AS BIGINT))) AS g2(j))
       |SELECT doc_id, word_idx, tok_idx, token,
       |  CAST(coalesce(v.token_id, -1) AS INT) AS token_id
       |FROM stream LEFT JOIN v USING (token)
       |ORDER BY doc_id, word_idx, tok_idx""".stripMargin

  // ---- WordPiece: greedy longest-match sub-word encoding ------------------
  def wpVocabFixture(dir: String): String =
    new java.io.File(s"target/verify_fixtures/wp_vocab_v2048_${dataTag(dir)}.parquet").getAbsolutePath

  private val lastWpDir = new java.util.concurrent.atomic.AtomicReference[String](".")
  private val wpPiecesMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[String]]()

  private def pinnedWpVocab(s: SparkSession, dir: String): DataFrame = {
    val fixture = wpVocabFixture(dir)
    lastWpDir.set(dir)
    pinFixtureOnce(() => graft.operators.WordPiece.buildVocab(
      table(s, dir, "documents"), "text", vocabSize = 2048), fixture, s)
    s.read.parquet(fixture)
  }

  private def pinnedWpPieces(s: SparkSession, dir: String): Seq[String] = {
    val fixture = wpVocabFixture(dir)
    wpPiecesMemo.computeIfAbsent(fixture, { _ =>
      graft.operators.WordPiece.piecesOf(pinnedWpVocab(s, dir))
    })
  }

  /** WordPiece token-ID encoding — the GREEDY-MATCH tokenizer family next
    * to [[qBpeEncode]]'s merge-rank BPE: one row per (doc, word, token)
    * under a pinned frequency-built vocabulary
    * ([[graft.operators.WordPiece.buildVocab]], fixture-pinned like the
    * BPE merge table), segmented by the released BERT greedy
    * longest-match walk as a native expression
    * (`graft_wordpiece_tokens`). The oracle replays the IDENTICAL walk in
    * SQL: candidate (word, pos, len) substrings hash-join the vocab once
    * (never a nested-loop prefix scan), per-position longest matches
    * reduce to a `max(adv)` table, and a recursive CTE walks each
    * DISTINCT word through it — unknown-at-any-position and >100-char
    * words collapse to one `[UNK]`, exactly the native semantics.
    */
  def qWordpieceEncode(s: SparkSession, dir: String): DataFrame = {
    val vocab = pinnedWpVocab(s, dir)
    val pieces = pinnedWpPieces(s, dir)
    table(s, dir, "documents")
      .select(col("doc_id"), posexplode(TF.tokens(col("text"))).as(Seq("word_idx", "w")))
      .filter(length(col("w")) > 0)
      .select(col("doc_id"), col("word_idx"),
        posexplode(graft.operators.WordPiece.wpTokens(col("w"), pieces))
          .as(Seq("tok_idx", "token")))
      .join(broadcast(vocab.select(col("piece").as("token"), col("token_id"))),
        Seq("token"), "left")
      .select(col("doc_id"), col("word_idx"), col("tok_idx"), col("token"),
        coalesce(col("token_id"), lit(-1)).cast("int").as("token_id"))
      .orderBy("doc_id", "word_idx", "tok_idx")
  }

  def qWordpieceEncodeSql: String =
    s"""WITH RECURSIVE
       |v AS (SELECT piece, token_id FROM read_parquet('${wpVocabFixture(lastWpDir.get)}/*.parquet')),
       |wpos AS (
       |  SELECT doc_id, CAST(g.i - 1 AS INT) AS word_idx, wl[g.i] AS wd
       |  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS wl FROM documents),
       |       LATERAL unnest(generate_series(1, CAST(len(wl) AS BIGINT))) AS g(i)
       |  WHERE len(wl[g.i]) > 0),
       |words AS (SELECT DISTINCT wd AS w FROM wpos WHERE len(wd) <= 100),
       |cand AS (
       |  SELECT w, p.i AS pos, l.j AS adv,
       |    CASE WHEN p.i = 1 THEN substr(w, 1, CAST(l.j AS BIGINT))
       |         ELSE '##' || substr(w, CAST(p.i AS BIGINT), CAST(l.j AS BIGINT)) END AS surface
       |  FROM words,
       |    LATERAL unnest(generate_series(1, CAST(len(w) AS BIGINT))) AS p(i),
       |    LATERAL unnest(generate_series(1, CAST(least(CASE WHEN p.i = 1 THEN 14 ELSE 12 END,
       |                                                 len(w) - p.i + 1) AS BIGINT))) AS l(j)),
       |mt AS (
       |  SELECT c.w, c.pos, max(c.adv) AS adv
       |  FROM cand c JOIN v ON v.piece = c.surface
       |  GROUP BY c.w, c.pos),
       |walk(w, pos, tok_idx, token, bad) AS (
       |  SELECT w, CAST(1 AS BIGINT), CAST(-1 AS INT), CAST(NULL AS VARCHAR), false
       |  FROM words
       |  UNION ALL
       |  SELECT s.w,
       |    s.pos + coalesce(mt.adv, CAST(len(s.w) AS BIGINT)),
       |    CAST(s.tok_idx + 1 AS INT),
       |    CASE WHEN mt.adv IS NULL THEN NULL
       |         WHEN s.pos = 1 THEN substr(s.w, 1, mt.adv)
       |         ELSE '##' || substr(s.w, s.pos, mt.adv) END,
       |    mt.adv IS NULL
       |  FROM walk s LEFT JOIN mt ON mt.w = s.w AND mt.pos = s.pos
       |  WHERE NOT s.bad AND s.pos <= len(s.w)),
       |badw AS (SELECT DISTINCT w FROM walk WHERE bad),
       |toks AS (
       |  SELECT w, tok_idx, token FROM walk
       |  WHERE token IS NOT NULL AND w NOT IN (SELECT w FROM badw)
       |  UNION ALL
       |  SELECT w, 0, '[UNK]' FROM badw
       |  UNION ALL
       |  SELECT wd AS w, 0, '[UNK]'
       |  FROM (SELECT DISTINCT wd FROM wpos WHERE len(wd) > 100)),
       |stream AS (
       |  SELECT doc_id, word_idx, t.tok_idx, t.token
       |  FROM wpos JOIN toks t ON t.w = wpos.wd)
       |SELECT doc_id, word_idx, CAST(tok_idx AS INT) AS tok_idx, token,
       |  CAST(coalesce(v.token_id, -1) AS INT) AS token_id
       |FROM stream LEFT JOIN v ON v.piece = stream.token
       |ORDER BY doc_id, word_idx, tok_idx""".stripMargin

  // ---- Unigram LM: Viterbi min-cost sub-word encoding ----------------------
  def ugVocabFixture(dir: String): String =
    new java.io.File(s"target/verify_fixtures/ug_vocab_v2048_${dataTag(dir)}.parquet").getAbsolutePath

  private val lastUgDir = new java.util.concurrent.atomic.AtomicReference[String](".")
  private val ugEntriesMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[(String, Int)]]()

  private def pinnedUgVocab(s: SparkSession, dir: String): DataFrame = {
    val fixture = ugVocabFixture(dir)
    lastUgDir.set(dir)
    pinFixtureOnce(() => graft.operators.Unigram.buildVocab(
      table(s, dir, "documents"), "text", vocabSize = 2048), fixture, s)
    s.read.parquet(fixture)
  }

  private def pinnedUgEntries(s: SparkSession, dir: String): Seq[(String, Int)] = {
    val fixture = ugVocabFixture(dir)
    ugEntriesMemo.computeIfAbsent(fixture, { _ =>
      graft.operators.Unigram.entriesOf(pinnedUgVocab(s, dir))
    })
  }

  /** Unigram-LM token-ID encoding — the VITERBI tokenizer family closing
    * the three public sub-word algorithms next to [[qBpeEncode]]
    * (merge-rank) and [[qWordpieceEncode]] (greedy longest-match): one
    * row per (doc, word, token) under a pinned frequency-built vocabulary
    * with INTEGER per-piece costs ([[graft.operators.Unigram.buildVocab]],
    * bit-length −log p analogue), segmented by SentencePiece's Viterbi
    * minimum-total-cost DP as a native expression
    * (`graft_unigram_tokens`); ties on total cost take the longest piece.
    * The oracle replays the IDENTICAL DP in SQL: candidate substrings
    * hash-join the vocab once, a recursive CTE runs the BACKWARD DP per
    * distinct word carrying a rolling window of the next
    * [[graft.plans.Unigram.PieceLenMax]] best-costs as a list (each
    * iteration needs best[i+1..i+L] — exactly what the rolling list
    * holds), and a second recursive CTE walks forward choosing the
    * longest piece achieving the optimum at each position.
    */
  def qUnigramEncode(s: SparkSession, dir: String): DataFrame = {
    val vocab = pinnedUgVocab(s, dir)
    val entries = pinnedUgEntries(s, dir)
    table(s, dir, "documents")
      .select(col("doc_id"), posexplode(TF.tokens(col("text"))).as(Seq("word_idx", "w")))
      .filter(length(col("w")) > 0)
      .select(col("doc_id"), col("word_idx"),
        posexplode(graft.operators.Unigram.ugTokens(col("w"), entries))
          .as(Seq("tok_idx", "token")))
      .join(broadcast(vocab.select(col("piece").as("token"), col("token_id"))),
        Seq("token"), "left")
      .select(col("doc_id"), col("word_idx"), col("tok_idx"), col("token"),
        coalesce(col("token_id"), lit(-1)).cast("int").as("token_id"))
      .orderBy("doc_id", "word_idx", "tok_idx")
  }

  def qUnigramEncodeSql: String =
    s"""WITH RECURSIVE
       |v AS (SELECT piece, token_id, CAST(cost AS BIGINT) AS cost
       |      FROM read_parquet('${ugVocabFixture(lastUgDir.get)}/*.parquet')),
       |wpos AS (
       |  SELECT doc_id, CAST(g.i - 1 AS INT) AS word_idx, wl[g.i] AS wd
       |  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS wl FROM documents),
       |       LATERAL unnest(generate_series(1, CAST(len(wl) AS BIGINT))) AS g(i)
       |  WHERE len(wl[g.i]) > 0),
       |words AS (SELECT DISTINCT wd AS w FROM wpos WHERE len(wd) <= 100),
       |cand AS (
       |  SELECT w, p.i AS pos, l.j AS adv, substr(w, CAST(p.i AS BIGINT), CAST(l.j AS BIGINT)) AS surface
       |  FROM words,
       |    LATERAL unnest(generate_series(1, CAST(len(w) AS BIGINT))) AS p(i),
       |    LATERAL unnest(generate_series(1, CAST(least(12, len(w) - p.i + 1) AS BIGINT))) AS l(j)),
       |cc AS (
       |  SELECT c.w, c.pos, c.adv, v.cost
       |  FROM cand c JOIN v ON v.piece = c.surface AND v.token_id > 0),
       |cl AS (
       |  SELECT w, pos, list(struct_pack(adv := adv, cost := cost)) AS cands
       |  FROM cc GROUP BY w, pos),
       |dp(w, i, bests) AS (
       |  SELECT w, CAST(len(w) + 1 AS BIGINT),
       |    [CAST(0 AS BIGINT), 1073741823, 1073741823, 1073741823, 1073741823, 1073741823,
       |     1073741823, 1073741823, 1073741823, 1073741823, 1073741823, 1073741823]
       |  FROM words
       |  UNION ALL
       |  SELECT d.w, d.i - 1,
       |    list_prepend(
       |      coalesce(list_min(list_transform(cl.cands, x -> x.cost + d.bests[x.adv])),
       |               CAST(1073741823 AS BIGINT)),
       |      d.bests[1:11])
       |  FROM dp d LEFT JOIN cl ON cl.w = d.w AND cl.pos = d.i - 1
       |  WHERE d.i > 1),
       |best AS (SELECT w, i, bests[1] AS b FROM dp),
       |choice AS (
       |  SELECT cc.w, cc.pos, max(cc.adv) AS adv
       |  FROM cc JOIN best b1 ON b1.w = cc.w AND b1.i = cc.pos
       |          JOIN best b2 ON b2.w = cc.w AND b2.i = cc.pos + cc.adv
       |  WHERE cc.cost + b2.b = b1.b AND b1.b < 1073741823
       |  GROUP BY cc.w, cc.pos),
       |enc AS (SELECT w FROM best WHERE i = 1 AND b < 1073741823),
       |walk(w, pos, tok_idx, token) AS (
       |  SELECT w, CAST(1 AS BIGINT), CAST(-1 AS INT), CAST(NULL AS VARCHAR)
       |  FROM enc
       |  UNION ALL
       |  SELECT s.w, s.pos + ch.adv, CAST(s.tok_idx + 1 AS INT),
       |    substr(s.w, s.pos, ch.adv)
       |  FROM walk s JOIN choice ch ON ch.w = s.w AND ch.pos = s.pos
       |  WHERE s.pos <= len(s.w)),
       |toks AS (
       |  SELECT w, tok_idx, token FROM walk WHERE token IS NOT NULL
       |  UNION ALL
       |  SELECT w, 0, '[UNK]' FROM words WHERE w NOT IN (SELECT w FROM enc)
       |  UNION ALL
       |  SELECT wd AS w, 0, '[UNK]'
       |  FROM (SELECT DISTINCT wd FROM wpos WHERE len(wd) > 100)),
       |stream AS (
       |  SELECT doc_id, word_idx, t.tok_idx, t.token
       |  FROM wpos JOIN toks t ON t.w = wpos.wd)
       |SELECT doc_id, word_idx, CAST(tok_idx AS INT) AS tok_idx, token,
       |  CAST(coalesce(v.token_id, -1) AS INT) AS token_id
       |FROM stream LEFT JOIN v ON v.piece = stream.token
       |ORDER BY doc_id, word_idx, tok_idx""".stripMargin

  // ---- MLM masking: training-example construction --------------------------
  /** BERT-style masked-LM example construction (the published 15% /
    * 80-10-10 recipe, Devlin et al. 2019) with every coin flip a HASH of
    * (doc, position) — reproducible across runs, engines and
    * partitionings, the property RNG masking lacks (and the difference
    * between "the same eval set every night" and silent drift). Per
    * selected word: 80% → `[MASK]`, 10% → a vocabulary piece picked by
    * hash (the pinned WordPiece vocab doubles as the replacement pool),
    * 10% → kept unchanged but still a prediction target. Emits ONE ROW
    * PER MASKED POSITION (doc_id, word_idx, original, action,
    * replacement) — the supervision pairs a training loader materializes.
    *
    * Scale shape: one corpus scan, three md5 projections, one broadcast
    * join against the ≤V-row vocab for the random picks.
    */
  def qMlmMask(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Sampling
    val vocab = pinnedWpVocab(s, dir).select(col("token_id"), col("piece"))
    // layout-capped scan rebalanced (r13) — the tokenize+hash explode below
    // otherwise runs single-task on test files; identity at real widths
    val words = graft.GraftSession.rebalanceScan(table(s, dir, "documents"))
      .select(col("doc_id"), posexplode(TF.tokens(col("text"))).as(Seq("word_idx", "w")))
      .filter(length(col("w")) > 0)
    // native graft_md5_mod (r13): value-identical to pmod(md5Lower(·), m)
    // (fuzz-pinned in SketchSpec) without the per-position hex round-trip +
    // decimal(20,0) arithmetic — u_sel runs on EVERY word position
    val sel = words
      .withColumn("u_sel", graft.plans.NativeHash.md5Mod(
        concat_ws(":", lit("mlm"), col("doc_id").cast("string"),
          col("word_idx").cast("string")), 100L))
      .filter(col("u_sel") < 15)
      .withColumn("u_act", graft.plans.NativeHash.md5Mod(
        concat_ws(":", lit("mlmact"), col("doc_id").cast("string"),
          col("word_idx").cast("string")), 10L))
      .withColumn("token_id", graft.plans.NativeHash.md5Mod(
        concat_ws(":", lit("mlmpick"), col("doc_id").cast("string"),
          col("word_idx").cast("string")), 2048L).cast("int"))
    sel.join(broadcast(vocab), Seq("token_id"), "left")
      .select(col("doc_id"), col("word_idx"), col("w").as("original"),
        when(col("u_act") < 8, lit("mask"))
          .when(col("u_act") === 8, lit("random")).otherwise(lit("keep")).as("action"),
        when(col("u_act") < 8, lit("[MASK]"))
          .when(col("u_act") === 8, coalesce(col("piece"), lit("[UNK]")))
          .otherwise(col("w")).as("replacement"))
      .orderBy("doc_id", "word_idx")
  }

  def qMlmMaskSql: String =
    s"""WITH v AS (SELECT piece, token_id FROM read_parquet('${wpVocabFixture(lastWpDir.get)}/*.parquet')),
       |wpos AS (
       |  SELECT doc_id, CAST(g.i - 1 AS INT) AS word_idx, wl[g.i] AS w
       |  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS wl FROM documents),
       |       LATERAL unnest(generate_series(1, CAST(len(wl) AS BIGINT))) AS g(i)
       |  WHERE len(wl[g.i]) > 0),
       |sel AS (
       |  SELECT doc_id, word_idx, w,
       |    CAST(md5_number_lower('mlmact:' || doc_id || ':' || word_idx) % 10 AS BIGINT) AS u_act,
       |    CAST(md5_number_lower('mlmpick:' || doc_id || ':' || word_idx) % 2048 AS INT) AS token_id
       |  FROM wpos
       |  WHERE md5_number_lower('mlm:' || doc_id || ':' || word_idx) % 100 < 15)
       |SELECT doc_id, word_idx, w AS original,
       |  CASE WHEN u_act < 8 THEN 'mask' WHEN u_act = 8 THEN 'random' ELSE 'keep' END AS action,
       |  CASE WHEN u_act < 8 THEN '[MASK]' WHEN u_act = 8 THEN coalesce(v.piece, '[UNK]') ELSE w END AS replacement
       |FROM sel LEFT JOIN v USING (token_id)
       |ORDER BY doc_id, word_idx""".stripMargin

  // ---- T5 span corruption: seq2seq example construction --------------------
  /** T5-style span-corruption example construction (Raffel et al. 2020,
    * §3.1.4): corrupted spans are replaced by ORDERED sentinel tokens and
    * the (sentinel → original span) pairs are the seq2seq targets. Span
    * starts fire at 5% of word positions and each start draws a length
    * 1..5 (mean 3 — T5's default mean span length), BOTH from hashes of
    * (doc, position), so the corrupted example set is identical across
    * runs, engines and partitionings (the same drift argument as
    * [[qMlmMask]]). Overlapping or touching draws merge into maximal
    * covered runs (island detection), the "adjacent corrupted positions
    * share one sentinel" rule; expected corruption ≈ 5% × 3 ≈ T5's
    * published 15% of tokens. Emits ONE ROW PER SPAN: (doc_id,
    * sentinel_id, span_start, span_len, span_text) — the target-side
    * supervision a training loader materializes.
    *
    * Scale shape: one corpus scan, two hash projections, a ≤5-row
    * explode, and per-DOC windows (bounded by doc length — no global
    * window); the spans groupBy carries only (doc, grp, pos, word).
    */
  def qSpanCorrupt(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Sampling
    import org.apache.spark.sql.expressions.Window
    // layout-capped scan rebalanced (r13) — tokenize + per-position hashes
    // otherwise run single-task on test files; identity at real widths
    val words = graft.GraftSession.rebalanceScan(table(s, dir, "documents"))
      .select(col("doc_id"), posexplode(TF.tokens(col("text"))).as(Seq("word_idx", "w")))
      .filter(length(col("w")) > 0)
    // Start/draw flags inline on the words frame (native graft_md5_mod,
    // r13 — value-identical to pmod(md5Lower(·), m); the draw hash only
    // evaluates on the 5% start rows via the when short-circuit, exactly
    // the old starts-filter cost profile).
    val marked = words
      .withColumn("is_start", graft.plans.NativeHash.md5Mod(concat_ws(":", lit("t5s"),
        col("doc_id").cast("string"), col("word_idx").cast("string")), 100L) < 5)
      .withColumn("draw", when(col("is_start"),
        graft.plans.NativeHash.md5Mod(concat_ws(":", lit("t5l"),
          col("doc_id").cast("string"), col("word_idx").cast("string")),
          5L).cast("int") + 1).otherwise(lit(0)))
    // covered positions; draws may run past the last word — truncation to
    // real positions is T5's end-of-text clip. r13 shape: a position is
    // covered iff SOME start within the last ≤4 positions still reaches it
    // (draws are 1..5), and word_idx strictly increases per row, so 5
    // lag() probes in ONE doc-keyed window pass decide coverage — the old
    // explode→distinct→join-back form shuffled the full words frame two
    // extra times (guide §2.4 remove shuffles outright; value-identical:
    // same starts, same reach arithmetic, same end-of-text clip, and only
    // REAL positions are ever probed). A lag row that doesn't exist yields
    // null ⇒ the disjunct is null/false ⇒ filter(covered) drops it, the
    // same truncation the join gave.
    val byDocIdx = Window.partitionBy("doc_id").orderBy("word_idx")
    val coveredFlag = (1 to 4).map { k =>
      lag(col("is_start"), k).over(byDocIdx) &&
        (col("word_idx") - lag(col("word_idx"), k).over(byDocIdx) <
          lag(col("draw"), k).over(byDocIdx))
    }.foldLeft(col("is_start"))(_ || _) // a start always covers itself (draw ≥ 1)
    val valid = marked
      .withColumn("covered", coveredFlag)
      .filter(col("covered"))
      .select(col("doc_id"), col("word_idx").as("pos"), col("w"))
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    val spans = valid
      .withColumn("grp", col("pos") - row_number().over(byDoc))
      .groupBy("doc_id", "grp")
      .agg(min("pos").as("span_start"), count(lit(1)).cast("int").as("span_len"),
        array_join(transform(array_sort(collect_list(struct(col("pos"), col("w")))),
          x => x.getField("w")), " ").as("span_text"))
    spans
      .withColumn("sentinel_id",
        (row_number().over(Window.partitionBy("doc_id").orderBy("span_start")) - 1).cast("int"))
      .select(col("doc_id"), col("sentinel_id"), col("span_start"),
        col("span_len"), col("span_text"))
      .orderBy("doc_id", "sentinel_id")
  }

  val qSpanCorruptSql: String =
    """WITH wpos AS (
      |  SELECT doc_id, CAST(g.i - 1 AS INT) AS word_idx, wl[g.i] AS w
      |  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS wl FROM documents),
      |       LATERAL unnest(generate_series(1, CAST(len(wl) AS BIGINT))) AS g(i)
      |  WHERE len(wl[g.i]) > 0),
      |starts AS (
      |  SELECT doc_id, word_idx,
      |    CAST(md5_number_lower('t5l:' || doc_id || ':' || word_idx) % 5 AS INT) + 1 AS span_len_draw
      |  FROM wpos
      |  WHERE md5_number_lower('t5s:' || doc_id || ':' || word_idx) % 100 < 5),
      |covered AS (
      |  SELECT DISTINCT doc_id, CAST(word_idx + g.i AS INT) AS pos
      |  FROM starts, LATERAL unnest(generate_series(0, CAST(span_len_draw - 1 AS BIGINT))) AS g(i)),
      |valid AS (
      |  SELECT c.doc_id, c.pos, w.w
      |  FROM covered c JOIN wpos w ON w.doc_id = c.doc_id AND w.word_idx = c.pos),
      |isl AS (
      |  SELECT doc_id, pos, w,
      |    pos - CAST(row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS INT) AS grp
      |  FROM valid),
      |spans AS (
      |  SELECT doc_id, grp, MIN(pos) AS span_start, CAST(COUNT(*) AS INT) AS span_len,
      |    string_agg(w, ' ' ORDER BY pos) AS span_text
      |  FROM isl GROUP BY doc_id, grp)
      |SELECT doc_id,
      |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY span_start) - 1 AS INT) AS sentinel_id,
      |  span_start, span_len, span_text
      |FROM spans ORDER BY doc_id, sentinel_id""".stripMargin

  def bpeBytesMergesFixture(dir: String): String =
    new java.io.File(s"target/verify_fixtures/bpe_merges_bytes_m48_${dataTag(dir)}.parquet").getAbsolutePath

  def bpeBytesVocabFixture(dir: String): String =
    new java.io.File(s"target/verify_fixtures/bpe_vocab_bytes_m48_${dataTag(dir)}.parquet").getAbsolutePath

  private val bytesMergesMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[(String, String)]]()

  private def pinnedBpeBytesMerges(s: SparkSession, dir: String): Seq[(String, String)] = {
    val fixture = bpeBytesMergesFixture(dir)
    lastBpeDir.set(dir)
    bytesMergesMemo.computeIfAbsent(fixture, { _ =>
      pinFixtureOnce(() => graft.operators.Bpe.trainBytes(table(s, dir, "documents"), "text",
        numMerges = 48), fixture, s)
      graft.operators.Bpe.mergesOf(s.read.parquet(fixture))
    })
  }

  private def pinnedBpeBytesVocab(s: SparkSession, dir: String): DataFrame = {
    val fixture = bpeBytesVocabFixture(dir)
    pinFixtureOnce(() => {
      val merges = s.read.parquet(bpeBytesMergesFixture(dir))
      graft.operators.Bpe.vocabBytes(s, merges)
    }, fixture, s)
    s.read.parquet(fixture)
  }

  /** BYTE-LEVEL token-ID encoding — the real GPT-2/LLaMA tokenizer shape:
    * words remap through the public byte→unicode table, merges apply over
    * byte symbols, and the vocabulary's 256-symbol base covers every
    * possible input byte — so NO row can carry UNK = −1 (the code-point
    * path's drift on non-Latin/code text). The oracle replays the ENTIRE
    * chain in SQL: UTF-8 byte expansion of each code point is pure
    * arithmetic, the byte→symbol table is one CASE, and the merge replay
    * is the same per-rank `replace` as `q_bpe_encode` — every token id
    * hash-gated.
    */
  def qBpeEncodeBytes(s: SparkSession, dir: String): DataFrame = {
    val merges = pinnedBpeBytesMerges(s, dir)
    val vocab = pinnedBpeBytesVocab(s, dir)
    table(s, dir, "documents")
      .select(col("doc_id"), posexplode(TF.tokens(col("text"))).as(Seq("word_idx", "w")))
      .filter(length(col("w")) > 0)
      .select(col("doc_id"), col("word_idx"),
        posexplode(graft.operators.Bpe.bpeTokensBytes(col("w"), merges)).as(Seq("tok_idx", "token")))
      .join(broadcast(vocab), Seq("token"), "left")
      .select(col("doc_id"), col("word_idx"), col("tok_idx"), col("token"),
        coalesce(col("token_id"), lit(-1)).cast("int").as("token_id"))
      .orderBy("doc_id", "word_idx", "tok_idx")
  }

  def qBpeEncodeBytesSql: String =
    s"""WITH RECURSIVE
       |mb AS (SELECT rank, lhs, rhs FROM read_parquet('${bpeBytesMergesFixture(lastBpeDir.get)}/*.parquet')),
       |vb AS (SELECT token, token_id FROM read_parquet('${bpeBytesVocabFixture(lastBpeDir.get)}/*.parquet')),
       |wx AS (
       |  SELECT doc_id, w FROM (
       |    SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
       |    FROM documents)
       |  WHERE len(w) > 0),
       |uw AS (SELECT DISTINCT w FROM wx),
       |wc AS (
       |  SELECT w, g.i AS ci, unicode(cl[g.i]) AS cp
       |  FROM (SELECT w, regexp_extract_all(w, '.') AS cl FROM uw),
       |       LATERAL unnest(generate_series(1, CAST(len(cl) AS BIGINT))) AS g(i)),
       |wby AS (
       |  -- UTF-8 encoding as pure arithmetic on the code point
       |  SELECT w, ci, g2.j AS bi, bl[g2.j] AS bv
       |  FROM (SELECT w, ci,
       |          CASE WHEN cp < 128 THEN [cp]
       |               WHEN cp < 2048 THEN [192 + cp // 64, 128 + cp % 64]
       |               WHEN cp < 65536 THEN [224 + cp // 4096, 128 + (cp // 64) % 64, 128 + cp % 64]
       |               ELSE [240 + cp // 262144, 128 + (cp // 4096) % 64, 128 + (cp // 64) % 64, 128 + cp % 64]
       |          END AS bl
       |        FROM wc),
       |       LATERAL unnest(generate_series(1, CAST(len(bl) AS BIGINT))) AS g2(j)),
       |sym AS (
       |  -- the public GPT-2 byte->unicode table: printables map to
       |  -- themselves, the 68 excluded bytes to 256+rank in byte order
       |  SELECT w, ci, bi,
       |    CASE WHEN (bv BETWEEN 33 AND 126) OR (bv BETWEEN 161 AND 172) OR (bv BETWEEN 174 AND 255)
       |           THEN chr(CAST(bv AS INT))
       |         WHEN bv <= 32 THEN chr(CAST(256 + bv AS INT))
       |         WHEN bv BETWEEN 127 AND 160 THEN chr(CAST(289 + bv - 127 AS INT))
       |         ELSE chr(323) END AS s1
       |  FROM wby),
       |ubw AS (SELECT w, string_agg(s1, '' ORDER BY ci, bi) AS symw FROM sym GROUP BY w),
       |encb(w, r, s) AS (
       |  SELECT w, 0, chr(31) || array_to_string(regexp_extract_all(symw, '.'), chr(31)||chr(31)) || chr(31)
       |  FROM ubw
       |  UNION ALL
       |  SELECT e.w, e.r + 1,
       |    replace(e.s, chr(31)||m.lhs||chr(31)||chr(31)||m.rhs||chr(31), chr(31)||m.lhs||m.rhs||chr(31))
       |  FROM encb e JOIN mb m ON m.rank = e.r + 1),
       |toksb AS (
       |  SELECT w, string_split(trim(s, chr(31)), chr(31)||chr(31)) AS ts
       |  FROM encb WHERE r = (SELECT max(rank) FROM mb)),
       |wpos AS (
       |  SELECT doc_id, CAST(g.i - 1 AS INT) AS word_idx, wl[g.i] AS wd
       |  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS wl FROM documents),
       |       LATERAL unnest(generate_series(1, CAST(len(wl) AS BIGINT))) AS g(i)
       |  WHERE len(wl[g.i]) > 0),
       |stream AS (
       |  SELECT doc_id, word_idx, CAST(g2.j - 1 AS INT) AS tok_idx, ts[g2.j] AS token
       |  FROM wpos JOIN toksb ON toksb.w = wpos.wd,
       |       LATERAL unnest(generate_series(1, CAST(len(ts) AS BIGINT))) AS g2(j))
       |SELECT doc_id, word_idx, tok_idx, token,
       |  CAST(coalesce(vb.token_id, -1) AS INT) AS token_id
       |FROM stream LEFT JOIN vb USING (token)
       |ORDER BY doc_id, word_idx, tok_idx""".stripMargin

  /** [[qTokenBudgetMix]] in MODEL tokens: the same hash-priority budget
    * draw, but n_tokens is the trained-BPE count — budgets now mean what
    * the training run means by "tokens".
    */
  def qTokenBudgetBpe(s: SparkSession, dir: String): DataFrame = {
    val merges = pinnedBpeMerges(s, dir)
    graft.operators.Mix.tokenBudget(table(s, dir, "documents"),
        "doc_id", "text", "source",
        budgets = Map("src0" -> 700L, "src1" -> 1500L), defaultBudget = 1100L,
        tokenCount = Some(graft.operators.Bpe.bpeLen(col("text"), merges)))
      .orderBy("doc_id")
  }

  def qTokenBudgetBpeSql: String =
    s"""WITH RECURSIVE ${bpeDocLenCtes(bpeMergesFixture(lastBpeDir.get))},
       |t AS (
       |  SELECT d.doc_id, d.source,
       |    CAST(coalesce(l.n_bpe, 0) AS BIGINT) AS n_tokens,
       |    md5_number_lower(CAST(d.doc_id AS VARCHAR)) % 1000000 AS prio
       |  FROM documents d LEFT JOIN doclen l USING (doc_id)),
       |c AS (
       |  SELECT doc_id, source, n_tokens,
       |    SUM(n_tokens) OVER (PARTITION BY source ORDER BY prio % 64, prio, doc_id
       |                        ROWS UNBOUNDED PRECEDING) AS cum_tokens
       |  FROM t)
       |SELECT doc_id, source, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
       |FROM c
       |WHERE cum_tokens <= CASE WHEN source = 'src0' THEN 700
       |                         WHEN source = 'src1' THEN 1500 ELSE 1100 END
       |ORDER BY doc_id""".stripMargin

  /** [[qSeqPack]] in MODEL tokens: identical shard/stream structure, BPE
    * sequence offsets — what a packed tokenized corpus on disk would hold.
    */
  def qSeqPackBpe(s: SparkSession, dir: String): DataFrame = {
    val merges = pinnedBpeMerges(s, dir)
    graft.operators.Pack.packSequences(table(s, dir, "documents"),
        "doc_id", "text", "lang", maxTokens = 2048, shards = 8,
        tokenCount = Some(graft.operators.Bpe.bpeLen(col("text"), merges)))
      .select("doc_id", "lang", "shard", "n_tokens", "seq_id", "seq_offset")
      .orderBy("doc_id")
  }

  def qSeqPackBpeSql: String =
    s"""WITH RECURSIVE ${bpeDocLenCtes(bpeMergesFixture(lastBpeDir.get))},
       |t AS (
       |  SELECT d.doc_id, d.lang,
       |    CAST(md5_number_lower(CAST(d.doc_id AS VARCHAR)) % 8 AS INT) AS shard,
       |    CAST(coalesce(l.n_bpe, 0) AS BIGINT) AS n_tokens
       |  FROM documents d LEFT JOIN doclen l USING (doc_id)),
       |c AS (
       |  SELECT *, SUM(n_tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id
       |                                ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM t)
       |SELECT doc_id, lang, shard, n_tokens,
       |  CAST((cum - n_tokens) // 2048 AS BIGINT) AS seq_id,
       |  CAST((cum - n_tokens) % 2048 AS BIGINT) AS seq_offset
       |FROM c ORDER BY doc_id""".stripMargin

  // ---- BM25 ranked retrieval ----------------------------------------------
  /** BM25 scores for a fixed 4-term query over the corpus — the graded
    * upgrade of the reference's boolean keyword filters (see
    * [[graft.operators.TfIdf.bm25]] for the micro-quantized hash-exact
    * contract and the scan-stage term pruning).
    */
  private val bm25Terms = Seq("spark", "window", "merge", "hash")

  def qBm25(s: SparkSession, dir: String): DataFrame =
    graft.operators.TfIdf.bm25(table(s, dir, "documents"), "doc_id", "text",
        bm25Terms)
      .orderBy("doc_id")

  val qBm25Sql: String = {
    val qlist = bm25Terms.sorted.map(t => s"'$t'").mkString(", ")
    s"""WITH tok AS (
       |  SELECT doc_id, len(string_split_regex(lower(trim(text)), '\\s+')) AS dl,
       |    unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
       |  FROM documents),
       |tf AS (
       |  SELECT doc_id, term, dl, CAST(count(*) AS BIGINT) AS tf
       |  FROM tok WHERE term IN ($qlist) GROUP BY 1, 2, 3),
       |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
       |st AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(len(string_split_regex(lower(trim(text)), '\\s+'))) AS BIGINT)
       |      AS tot_tokens
       |  FROM documents),
       |sc AS (
       |  SELECT tf.doc_id,
       |    CAST(FLOOR(1000000.0 * (
       |      ((CAST(st.n_docs - df.df AS DOUBLE) + 0.5) / (CAST(df.df AS DOUBLE) + 0.5))
       |      * (CAST(tf.tf AS DOUBLE) * 2.2)
       |      / (CAST(tf.tf AS DOUBLE)
       |         + 1.2 * (0.25 + 0.75 * (CAST(tf.dl AS DOUBLE)
       |                                 / (CAST(st.tot_tokens AS DOUBLE) / st.n_docs))))
       |    )) AS BIGINT) AS contrib
       |  FROM tf JOIN df USING (term) CROSS JOIN st)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits,
       |  CAST(sum(contrib) AS BIGINT) AS score_micro
       |FROM sc GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin
  }

  // ---- PMI collocations ---------------------------------------------------
  /** Top-40 adjacent-pair collocations by PMI ratio (pairs seen ≥ 5 times)
    * — see [[graft.operators.Cooccur.topPmiPairs]] for the pinned-division
    * determinism contract and the vocabulary-sized join shape.
    */
  def qCooccurPmi(s: SparkSession, dir: String): DataFrame =
    graft.operators.Cooccur.topPmiPairs(table(s, dir, "documents"), "text",
        minCount = 5, k = 40)
      .orderBy(col("pmi_ratio").desc, col("w1"), col("w2"))

  val qCooccurPmiSql: String =
    """WITH t AS (
      |  SELECT string_split_regex(lower(trim(text)), '\s+') AS t FROM documents),
      |uni AS (
      |  SELECT w, CAST(count(*) AS BIGINT) AS c
      |  FROM (SELECT unnest(t) AS w FROM t) GROUP BY w),
      |bi AS (
      |  SELECT p[1] AS w1, p[2] AS w2, CAST(count(*) AS BIGINT) AS c12
      |  FROM (
      |    SELECT unnest(list_transform(range(0, len(t) - 1),
      |                                 i -> [t[i+1], t[i+2]])) AS p
      |    FROM t WHERE len(t) >= 2)
      |  GROUP BY 1, 2 HAVING count(*) >= 5),
      |tot AS (
      |  SELECT (SELECT CAST(sum(c) AS BIGINT) FROM uni) AS m_tokens,
      |         (SELECT CAST(sum(greatest(len(t) - 1, 0)) AS BIGINT) FROM t)
      |           AS n_bigrams)
      |SELECT bi.w1, bi.w2, bi.c12, u1.c AS c1, u2.c AS c2,
      |  CAST(bi.c12 AS DOUBLE) / tot.n_bigrams / u1.c * tot.m_tokens
      |    / u2.c * tot.m_tokens AS pmi_ratio
      |FROM bi JOIN uni u1 ON u1.w = bi.w1 JOIN uni u2 ON u2.w = bi.w2
      |CROSS JOIN tot
      |ORDER BY pmi_ratio DESC, w1, w2
      |LIMIT 40""".stripMargin

  // ---- per-source boilerplate n-grams -------------------------------------
  /** Top-5 word 3-grams per source by count — the boilerplate report (see
    * [[graft.operators.Cooccur.topNgramsPerGroup]]; the top-k window is the
    * TopKRewriteRule heap shape).
    */
  def qTopNgrams(s: SparkSession, dir: String): DataFrame =
    graft.operators.Cooccur.topNgramsPerGroup(table(s, dir, "documents"),
        "source", "text", n = 3, k = 5)
      .orderBy("source", "gram_rank")

  val qTopNgramsSql: String =
    """WITH t AS (
      |  SELECT source, string_split_regex(lower(trim(text)), '\s+') AS t
      |  FROM documents),
      |g AS (
      |  SELECT source, unnest(list_transform(range(0, len(t) - 2),
      |                                       i -> array_to_string(t[i+1:i+3], ' '))) AS gram
      |  FROM t WHERE len(t) >= 3),
      |c AS (SELECT source, gram, CAST(count(*) AS BIGINT) AS cnt FROM g GROUP BY 1, 2),
      |r AS (
      |  SELECT source, gram, cnt,
      |    row_number() OVER (PARTITION BY source ORDER BY cnt DESC, gram) AS rnk
      |  FROM c)
      |SELECT source, gram, cnt, CAST(rnk AS INT) AS gram_rank
      |FROM r WHERE rnk <= 5
      |ORDER BY source, gram_rank""".stripMargin

  // ---- robust per-source outlier gate -------------------------------------
  /** Hampel outliers on document length per source: |n_chars − median| >
    * 3·MAD (see [[graft.operators.Curation.robustOutliers]] for the
    * 50%-breakdown rationale and the histogram-CDF integer contract).
    */
  def qRobustOutliers(s: SparkSession, dir: String): DataFrame =
    graft.operators.Curation.robustOutliers(table(s, dir, "documents"),
        "doc_id", "source", "n_chars", k = 3)
      .orderBy("doc_id")

  val qRobustOutliersSql: String =
    """WITH s AS (
      |  SELECT doc_id, source, CAST(n_chars AS BIGINT) AS value FROM documents),
      |h1 AS (SELECT source, value AS v, CAST(count(*) AS BIGINT) AS cnt
      |       FROM s GROUP BY 1, 2),
      |c1 AS (
      |  SELECT source, v,
      |    sum(cnt) OVER (PARTITION BY source ORDER BY v) AS hi,
      |    sum(cnt) OVER (PARTITION BY source) AS n
      |  FROM h1),
      |med AS (
      |  SELECT source, CAST(min(CASE WHEN hi >= CEIL(n * 0.5) THEN v END) AS BIGINT) AS med
      |  FROM c1 GROUP BY source),
      |d AS (
      |  SELECT s.doc_id, s.source, s.value, m.med, abs(s.value - m.med) AS adev
      |  FROM s JOIN med m USING (source)),
      |h2 AS (SELECT source, adev AS v, CAST(count(*) AS BIGINT) AS cnt
      |       FROM d GROUP BY 1, 2),
      |c2 AS (
      |  SELECT source, v,
      |    sum(cnt) OVER (PARTITION BY source ORDER BY v) AS hi,
      |    sum(cnt) OVER (PARTITION BY source) AS n
      |  FROM h2),
      |mad AS (
      |  SELECT source, CAST(min(CASE WHEN hi >= CEIL(n * 0.5) THEN v END) AS BIGINT) AS mad
      |  FROM c2 GROUP BY source)
      |SELECT d.doc_id, d.source, d.value, d.med, ma.mad,
      |  d.adev > 3 * ma.mad AS is_outlier
      |FROM d JOIN mad ma USING (source)
      |ORDER BY d.doc_id""".stripMargin

  // ---- vocabulary concentration + growth ----------------------------------
  /** Per-source Simpson/Gini vocabulary concentration — see
    * [[graft.operators.Curation.vocabConcentration]] for why Simpson
    * replaces Shannon entropy under the hash gate.
    */
  def qVocabGini(s: SparkSession, dir: String): DataFrame =
    graft.operators.Curation.vocabConcentration(table(s, dir, "documents"),
        "source", "text")
      .orderBy("source")

  val qVocabGiniSql: String =
    """WITH c AS (
      |  SELECT source, w, CAST(count(*) AS BIGINT) AS c
      |  FROM (SELECT source,
      |          unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
      |        FROM documents)
      |  GROUP BY 1, 2),
      |a AS (
      |  SELECT source, CAST(sum(c) AS BIGINT) AS m_tokens,
      |    CAST(count(*) AS BIGINT) AS n_vocab,
      |    CAST(sum(c * c) AS BIGINT) AS sum_c2
      |  FROM c GROUP BY source)
      |SELECT source, m_tokens, n_vocab, sum_c2,
      |  CAST(sum_c2 AS DOUBLE) / (m_tokens * m_tokens) AS simpson,
      |  1.0 - CAST(sum_c2 AS DOUBLE) / (m_tokens * m_tokens) AS gini
      |FROM a ORDER BY source""".stripMargin

  /** Near-dup cluster-size histogram at jaccard ≥ 0.8 — see
    * [[graft.operators.Dedup.clusterSizeHistogram]]. Oracle = the
    * all-pairs zero-false-negative pair replay, then min-label
    * reachability as a recursive CTE (propagating only labels smaller
    * than the receiving node — the component min always is).
    */
  def qDedupClusterSizes(s: SparkSession, dir: String): DataFrame =
    Dedup.clusterSizeHistogram(table(s, dir, "documents"), "doc_id", "text",
        threshold = 0.8)
      .orderBy("bucket")

  val qDedupClusterSizesSql: String =
    s"""WITH RECURSIVE w AS (SELECT doc_id, $wordSetSql AS words FROM documents),
       |p AS (
       |  SELECT a.doc_id AS ia, b.doc_id AS ib
       |  FROM w a, w b
       |  WHERE a.doc_id < b.doc_id
       |    AND CAST(len(list_intersect(a.words, b.words)) AS DOUBLE) /
       |        CAST(len(list_distinct(list_concat(a.words, b.words))) AS DOUBLE) >= 0.8),
       |e AS (SELECT ia AS src, ib AS dst FROM p UNION SELECT ib, ia FROM p),
       |nd AS (SELECT DISTINCT src AS node FROM e),
       |lp(node, lbl) AS (
       |  SELECT node, node FROM nd
       |  UNION
       |  SELECT e.dst, lp.lbl FROM lp JOIN e ON e.src = lp.node WHERE lp.lbl < e.dst),
       |comps AS (SELECT node, min(lbl) AS comp FROM lp GROUP BY node),
       |sizes AS (SELECT comp, CAST(count(*) AS BIGINT) AS sz FROM comps GROUP BY comp),
       |hist AS (
       |  SELECT CAST(len(bin(sz)) AS INT) AS bucket,
       |    CAST(count(*) AS BIGINT) AS n_clusters, CAST(sum(sz) AS BIGINT) AS n_docs
       |  FROM sizes GROUP BY 1),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS total FROM documents),
       |tch AS (SELECT CAST(count(*) AS BIGINT) AS touched FROM comps),
       |uni AS (
       |  SELECT bucket, n_clusters, n_docs FROM hist
       |  UNION ALL
       |  SELECT CAST(1 AS INT), tot.total - tch.touched, tot.total - tch.touched
       |  FROM tot, tch)
       |SELECT u.bucket, u.n_clusters, u.n_docs,
       |  CAST(u.n_docs AS DOUBLE) / tot.total AS docs_share
       |FROM uni u, tot
       |ORDER BY bucket""".stripMargin

  /** Cross-source duplication matrix at jaccard ≥ 0.8 — see
    * [[graft.operators.Dedup.sourceOverlap]]. Oracle = the all-pairs
    * zero-false-negative replay (the q_dedup_minhash / q_pair_mine
    * precedent) grouped the same way.
    */
  def qSourceOverlap(s: SparkSession, dir: String): DataFrame =
    Dedup.sourceOverlap(table(s, dir, "documents"), "doc_id", "text",
        "source", threshold = 0.8)
      .orderBy("source_a", "source_b")

  val qSourceOverlapSql: String =
    s"""WITH w AS (SELECT doc_id, source, $wordSetSql AS words FROM documents),
       |p AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.source AS sa, b.source AS sb
       |  FROM w a, w b
       |  WHERE a.doc_id < b.doc_id
       |    AND CAST(len(list_intersect(a.words, b.words)) AS DOUBLE) /
       |        CAST(len(list_distinct(list_concat(a.words, b.words))) AS DOUBLE) >= 0.8),
       |t AS (SELECT least(sa, sb) AS source_a, greatest(sa, sb) AS source_b,
       |             id_a, id_b FROM p),
       |g AS (SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_pairs
       |      FROM t GROUP BY 1, 2),
       |dd AS (SELECT source_a, source_b, CAST(count(DISTINCT d) AS BIGINT) AS n_docs
       |       FROM (SELECT source_a, source_b, unnest([id_a, id_b]) AS d FROM t)
       |       GROUP BY 1, 2),
       |sz AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY 1)
       |SELECT g.source_a, g.source_b, g.n_pairs, dd.n_docs,
       |  CAST(dd.n_docs AS DOUBLE) /
       |    (CASE WHEN g.source_a = g.source_b THEN za.n ELSE za.n + zb.n END) AS dup_share
       |FROM g JOIN dd USING (source_a, source_b)
       |JOIN sz za ON za.source = g.source_a
       |JOIN sz zb ON zb.source = g.source_b
       |ORDER BY source_a, source_b""".stripMargin

  /** Within-source ECDF rank normalization of doc length — see
    * [[graft.operators.Curation.rankNormalize]] (quantile normalization
    * onto a common [0,1] scale before cross-source mixing).
    */
  def qScoreNormalize(s: SparkSession, dir: String): DataFrame =
    graft.operators.Curation.rankNormalize(table(s, dir, "documents"),
        "doc_id", "source", "n_chars")
      .orderBy("doc_id")

  val qScoreNormalizeSql: String =
    """WITH s AS (
      |  SELECT doc_id, source, CAST(n_chars AS BIGINT) AS value FROM documents),
      |h AS (SELECT source, value, CAST(count(*) AS BIGINT) AS cnt
      |      FROM s GROUP BY 1, 2),
      |c AS (
      |  SELECT source, value,
      |    CAST(sum(cnt) OVER (PARTITION BY source ORDER BY value) AS BIGINT) AS cum_le,
      |    CAST(sum(cnt) OVER (PARTITION BY source) AS BIGINT) AS n
      |  FROM h)
      |SELECT s.doc_id, s.source, s.value, c.cum_le, c.n,
      |  CAST(c.cum_le AS DOUBLE) / c.n AS pct
      |FROM s JOIN c USING (source, value)
      |ORDER BY doc_id""".stripMargin

  /** Pairwise total-variation distance between source unigram
    * distributions — see [[graft.operators.Curation.distributionDistance]]
    * for the ln-free overlap identity and the inner-join-only shape.
    */
  def qSourceDivergence(s: SparkSession, dir: String): DataFrame =
    graft.operators.Curation.distributionDistance(table(s, dir, "documents"),
        "source", "text")
      .orderBy("group_a", "group_b")

  val qSourceDivergenceSql: String =
    """WITH t AS (
      |  SELECT source, unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
      |  FROM documents),
      |c AS (SELECT source, w, CAST(count(*) AS BIGINT) AS c FROM t GROUP BY 1, 2),
      |m AS (SELECT source, CAST(sum(c) AS BIGINT) AS m FROM c GROUP BY 1),
      |pairs AS (
      |  SELECT a.source AS sa, a.m AS ma, b.source AS sb, b.m AS mb
      |  FROM m a JOIN m b ON a.source < b.source),
      |ov AS (
      |  SELECT ca.source AS sa, cb.source AS sb,
      |    CAST(sum(least(ca.c * mb.m, cb.c * ma.m)) AS BIGINT) AS num
      |  FROM c ca JOIN c cb ON ca.w = cb.w AND ca.source < cb.source
      |  JOIN m ma ON ma.source = ca.source
      |  JOIN m mb ON mb.source = cb.source
      |  GROUP BY 1, 2)
      |SELECT p.sa AS group_a, p.sb AS group_b,
      |  CAST(coalesce(o.num, 0) AS BIGINT) AS overlap_num,
      |  CAST(p.ma * p.mb AS BIGINT) AS denom,
      |  1.0 - CAST(coalesce(o.num, 0) AS DOUBLE) / (p.ma * p.mb) AS tv
      |FROM pairs p LEFT JOIN ov o ON o.sa = p.sa AND o.sb = p.sb
      |ORDER BY group_a, group_b""".stripMargin

  // ---- Zipf power-law fit over the rank-frequency curve --------------------
  /** Zipf exponent diagnostic next to [[qVocabGrowth]]'s Heaps curve: the
    * rank-frequency power law freq ∝ rank^s fitted in LOG2 BUCKETS with
    * pure integer arithmetic — x = bitlen(rank)−1, y = bitlen(freq)−1
    * (both exact integer ⌊log2⌋, the #137 lens; no floating log whose
    * last ulp is engine-unpinned), least-squares slope/intercept as ONE
    * integer division each in ppm. Output: one row per log2-rank bucket
    * (words, tokens, Σy) with the global fit columns alongside — a corpus
    * whose slope drifts from ≈ −1 ppm-scale is the classic
    * boilerplate/duplication tell.
    *
    * Scale shape: word-frequency aggregate → [[graft.operators.Scale
    * .globalRowNumber]] rank (no single-task window) → ≤64-row bucket
    * group-by; the fit sums ride a broadcast 1-row aggregate.
    */
  /** Exact ⌊num·10⁶/den⌋ (trunc-toward-zero, matching DuckDB `//`) in TWO
    * ×1000 stages so every product stays in int64 (num·10⁶ overflows once
    * num passes ~9.2·10¹²; floor composes exactly:
    * ⌊a·10⁶/d⌋ = q1·1000 + ⌊(a·1000 − q1·d)·1000/d⌋ with q1 = ⌊a·1000/d⌋,
    * and trunc-toward-zero = sign·floor(abs) — identical in DuckDB).
    * `op` is `div` on the Spark side, `//` in DuckDB oracle SQL.
    */
  private def ppmDivExpr(num: String, den: String, op: String = "div"): String =
    s"(CASE WHEN $num < 0 THEN -1 ELSE 1 END) * " +
    s"((abs($num) * 1000 $op $den) * 1000 + " +
    s"((abs($num) * 1000 - (abs($num) * 1000 $op $den) * $den) * 1000) $op $den)"

  def qZipfFit(s: SparkSession, dir: String): DataFrame = {
    val freq = table(s, dir, "documents")
      .select(explode(TF.tokens(col("text"))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("freq"))
    val ranked = graft.operators.Scale.globalRowNumber(
        freq.withColumn("neg_freq", -col("freq")), Seq("neg_freq", "w"), "rank")
      .select((length(bin(col("rank"))) - 1).cast("long").as("x"),
        (length(bin(col("freq"))) - 1).cast("long").as("y"),
        col("freq"))
    val buckets = ranked.groupBy("x")
      .agg(count(lit(1)).as("n_words"), sum("freq").as("tokens"), sum("y").as("y_sum"))
    def ppm(num: String): String = ppmDivExpr(num, "den", "div")
    val fit = ranked.agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sx2"))
      .withColumn("num_s", expr("n * sxy - sx * sy"))
      .withColumn("num_i", expr("sy * sx2 - sx * sxy"))
      .withColumn("den", expr("n * sx2 - sx * sx"))
      .select(col("n"), expr(ppm("num_s")).as("slope_ppm"),
        expr(ppm("num_i")).as("intercept_ppm"))
    buckets.crossJoin(broadcast(fit)).orderBy("x")
  }

  val qZipfFitSql: String =
    """WITH f AS (
      |  SELECT w, CAST(count(*) AS BIGINT) AS freq FROM (
      |    SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS w FROM documents)
      |  WHERE len(w) > 0 GROUP BY w),
      |r AS (
      |  SELECT CAST(len(bin(row_number() OVER (ORDER BY freq DESC, w))) - 1 AS BIGINT) AS x,
      |    CAST(len(bin(freq)) - 1 AS BIGINT) AS y, freq
      |  FROM f),
      |b AS (
      |  SELECT x, CAST(count(*) AS BIGINT) AS n_words, CAST(sum(freq) AS BIGINT) AS tokens,
      |    CAST(sum(y) AS BIGINT) AS y_sum
      |  FROM r GROUP BY x),
      |s AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx,
      |    CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x * y) AS BIGINT) AS sxy,
      |    CAST(sum(x * x) AS BIGINT) AS sx2
      |  FROM r),
      |d AS (SELECT s.*, n * sxy - sx * sy AS num_s, sy * sx2 - sx * sxy AS num_i,
      |             n * sx2 - sx * sx AS den FROM s),
      |fit AS (
      |  SELECT n,
      |    CAST((CASE WHEN num_s < 0 THEN -1 ELSE 1 END) *
      |      ((abs(num_s) * 1000 // den) * 1000 +
      |       ((abs(num_s) * 1000 - (abs(num_s) * 1000 // den) * den) * 1000) // den) AS BIGINT) AS slope_ppm,
      |    CAST((CASE WHEN num_i < 0 THEN -1 ELSE 1 END) *
      |      ((abs(num_i) * 1000 // den) * 1000 +
      |       ((abs(num_i) * 1000 - (abs(num_i) * 1000 // den) * den) * 1000) // den) AS BIGINT) AS intercept_ppm
      |  FROM d)
      |SELECT b.x, b.n_words, b.tokens, b.y_sum, fit.n, fit.slope_ppm, fit.intercept_ppm
      |FROM b, fit ORDER BY b.x""".stripMargin

  // ---- deterministic Poisson bootstrap CI ----------------------------------
  /** Bootstrap 95% confidence interval for the mean document length via
    * the POISSON bootstrap — the resampling formulation that actually
    * scales (classic index-resampling needs a global index and a B×n
    * random-access join; Poisson(1) weights need only a per-row hash,
    * the standard trick for bootstrap on sharded data). Every weight is
    * the inverse-CDF of a HASH of (resample, doc) against fixed u32
    * cutoffs (⌊2³²·P(Poisson(1) ≤ k)⌋, k ≤ 5, tail capped at 6) — no RNG,
    * so the B=200 resample means and the (5th, 196th) order statistics
    * (the 2.5%/97.5% CI bounds) are identical across runs, engines and
    * partitionings.
    *
    * Scale shape: one scan × B hash projections (a ≤B-row explode),
    * map-side combined into B groups; the order-statistic window runs
    * over exactly B = 200 rows by construction (control-plane sized).
    */
  def qBootstrapCi(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val B = 200
    val cuts = Seq(1580030168L, 3160060337L, 3950075421L, 4213413783L,
      4279248373L, 4292415291L)
    val d = table(s, dir, "documents").select(col("doc_id"), col("n_chars"))
    // native graft_md5_mod (r12): value-identical to pmod(md5Lower(·), 2³²)
    // (fuzz-pinned) — this is a B×n hot path (200 hashes per doc) and the
    // declarative route paid a hex round-trip + decimal(20,0) mod per hash
    val u = graft.plans.NativeHash.md5Mod(concat_ws(":", lit("bs"),
      col("b").cast("string"), col("doc_id").cast("string")), 4294967296L)
    val w = cuts.zipWithIndex.foldRight(lit(6L): Column) { case ((cut, k), el) =>
      when(u < cut, k.toLong).otherwise(el)
    }
    val means = d
      .select(col("doc_id"), col("n_chars"),
        explode(sequence(lit(0), lit(B - 1))).as("b"))
      .select(col("b"), w.as("w"), (w * col("n_chars")).as("wx"))
      .groupBy("b").agg(sum("w").as("sw"), sum("wx").as("swx"))
      .select(col("b"), (col("swx").cast("double") / col("sw")).as("mean_b"))
    val ranked = means.withColumn("rk",
      row_number().over(Window.orderBy("mean_b", "b"))) // B=200 rows total
    val point = d.agg(count(lit(1)).as("n_docs"),
      (sum("n_chars").cast("double") / count(lit(1))).as("mean_chars"))
    point
      .crossJoin(broadcast(ranked.filter(col("rk") === 5).select(col("mean_b").as("ci_lo"))))
      .crossJoin(broadcast(ranked.filter(col("rk") === 196).select(col("mean_b").as("ci_hi"))))
      .select(col("n_docs"), col("mean_chars"), col("ci_lo"), col("ci_hi"))
  }

  val qBootstrapCiSql: String =
    """WITH d AS (SELECT doc_id, n_chars FROM documents),
      |r AS (
      |  SELECT g.b, d.doc_id, d.n_chars,
      |    md5_number_lower('bs:' || g.b || ':' || d.doc_id) % 4294967296 AS u
      |  FROM d, LATERAL unnest(generate_series(0, 199)) AS g(b)),
      |wtd AS (
      |  SELECT b,
      |    CAST(CASE WHEN u < 1580030168 THEN 0 WHEN u < 3160060337 THEN 1
      |         WHEN u < 3950075421 THEN 2 WHEN u < 4213413783 THEN 3
      |         WHEN u < 4279248373 THEN 4 WHEN u < 4292415291 THEN 5
      |         ELSE 6 END AS BIGINT) AS w,
      |    n_chars
      |  FROM r),
      |m AS (
      |  SELECT b, CAST(sum(w) AS BIGINT) AS sw, CAST(sum(w * n_chars) AS BIGINT) AS swx
      |  FROM wtd GROUP BY b),
      |mb AS (SELECT b, CAST(swx AS DOUBLE) / sw AS mean_b FROM m),
      |rk AS (SELECT mean_b, row_number() OVER (ORDER BY mean_b, b) AS rk FROM mb),
      |pt AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
      |              CAST(sum(n_chars) AS DOUBLE) / count(*) AS mean_chars FROM d)
      |SELECT pt.n_docs, pt.mean_chars, lo.mean_b AS ci_lo, hi.mean_b AS ci_hi
      |FROM pt, (SELECT mean_b FROM rk WHERE rk = 5) lo,
      |     (SELECT mean_b FROM rk WHERE rk = 196) hi""".stripMargin

  // ---- two-sample Kolmogorov–Smirnov drift between hash splits -------------
  /** Exact two-sample Kolmogorov–Smirnov distance between the train and
    * test halves of the deterministic hash split (the same buckets as
    * `q_hash_split`): did the 80/10/10 assignment skew the document-length
    * distribution? D = max over observed x of |F_train(x) − F_test(x)|,
    * computed by EXACT integer cross-multiplication
    * (dev = |i·n_test − j·n_train| — never a floating CDF), reported in
    * ppm via the same two-stage division as [[qZipfFit]]. A healthy hash
    * split keeps D near the sampling-noise floor; a biased key
    * (time-correlated ids, sharded id ranges) shows up as a fat D long
    * before a model does.
    *
    * Scale shape: one scan → per-distinct-value groupBy (far smaller than
    * the corpus) → [[graft.operators.Scale.runningSum]] two-level prefix
    * sums (no single-task global window) → 1-row control-plane reduce.
    * The cross-products stay in int64 up to ~10⁹ docs per side — past
    * that, bucket the value axis first.
    */
  def qKsSplitDrift(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Sampling
    val b = Sampling.md5Bucket(col("doc_id"), 100)
    val perValue = table(s, dir, "documents")
      .filter(b < 80 || b >= 90)
      .select(col("n_chars"), (b < 80).cast("long").as("is_train"))
      .groupBy("n_chars")
      .agg(sum("is_train").as("c1"), sum(lit(1L) - col("is_train")).as("c2"))
    val run = graft.operators.Scale.runningSum(
      graft.operators.Scale.runningSum(perValue, Seq("n_chars"), "c1", "i"),
      Seq("n_chars"), "c2", "j")
    val tot = perValue.agg(sum("c1").as("n_train"), sum("c2").as("n_test"))
    run.crossJoin(broadcast(tot))
      .select(col("n_train"), col("n_test"),
        abs(col("i") * col("n_test") - col("j") * col("n_train")).as("dev"))
      .groupBy("n_train", "n_test")
      .agg(max("dev").as("ks_num"))
      .withColumn("ks_den", expr("n_train * n_test"))
      .select(col("n_train"), col("n_test"), col("ks_num"), col("ks_den"),
        expr(ppmDivExpr("ks_num", "ks_den")).as("ks_ppm"))
  }

  val qKsSplitDriftSql: String =
    """WITH d AS (
      |  SELECT n_chars,
      |    CASE WHEN md5_number_lower(CAST(doc_id AS VARCHAR)) % 100 < 80
      |         THEN 1 ELSE 0 END AS is_train
      |  FROM documents
      |  WHERE md5_number_lower(CAST(doc_id AS VARCHAR)) % 100 < 80
      |     OR md5_number_lower(CAST(doc_id AS VARCHAR)) % 100 >= 90),
      |pv AS (
      |  SELECT n_chars, CAST(sum(is_train) AS BIGINT) AS c1,
      |    CAST(sum(1 - is_train) AS BIGINT) AS c2
      |  FROM d GROUP BY n_chars),
      |run AS (
      |  SELECT n_chars,
      |    CAST(sum(c1) OVER (ORDER BY n_chars) AS BIGINT) AS i,
      |    CAST(sum(c2) OVER (ORDER BY n_chars) AS BIGINT) AS j
      |  FROM pv),
      |tot AS (SELECT CAST(sum(c1) AS BIGINT) AS n_train,
      |               CAST(sum(c2) AS BIGINT) AS n_test FROM pv),
      |dev AS (
      |  SELECT n_train, n_test,
      |    CAST(max(abs(i * n_test - j * n_train)) AS BIGINT) AS ks_num
      |  FROM run, tot GROUP BY n_train, n_test)
      |SELECT n_train, n_test, ks_num, n_train * n_test AS ks_den,
      |  CAST((CASE WHEN ks_num < 0 THEN -1 ELSE 1 END) *
      |    ((abs(ks_num) * 1000 // (n_train * n_test)) * 1000 +
      |     ((abs(ks_num) * 1000 - (abs(ks_num) * 1000 // (n_train * n_test)) * (n_train * n_test)) * 1000)
      |       // (n_train * n_test)) AS BIGINT) AS ks_ppm
      |FROM dev""".stripMargin

  /** Vocabulary growth at doc-count checkpoints — see
    * [[graft.operators.Curation.vocabGrowth]] (Heaps'-law saturation
    * signal; one tokenize pass for the whole curve).
    */
  def qVocabGrowth(s: SparkSession, dir: String): DataFrame =
    graft.operators.Curation.vocabGrowth(table(s, dir, "documents"),
        "doc_id", "text", checkpoints = Seq(64L, 256L, 1024L, 4096L))
      .orderBy("n_docs")

  val qVocabGrowthSql: String =
    """WITH cps AS (SELECT unnest([64, 256, 1024, 4096]) AS n_docs),
      |t AS (
      |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
      |  FROM documents),
      |firsts AS (
      |  SELECT w, CAST(min(doc_id) AS BIGINT) AS first_id
      |  FROM (SELECT doc_id, unnest(t) AS w FROM t) GROUP BY w),
      |vocab AS (
      |  SELECT cps.n_docs,
      |    CAST(sum(CASE WHEN f.first_id < cps.n_docs THEN 1 ELSE 0 END) AS BIGINT)
      |      AS vocab
      |  FROM firsts f CROSS JOIN cps GROUP BY 1),
      |tot AS (
      |  SELECT cps.n_docs,
      |    CAST(sum(CASE WHEN t.doc_id < cps.n_docs THEN len(t.t) ELSE 0 END) AS BIGINT)
      |      AS total_tokens
      |  FROM t CROSS JOIN cps GROUP BY 1)
      |SELECT CAST(tot.n_docs AS BIGINT) AS n_docs, tot.total_tokens, vocab.vocab
      |FROM tot JOIN vocab USING (n_docs)
      |ORDER BY n_docs""".stripMargin

  // ---- leading principal direction (integer power iteration) --------------
  /** Projection of every embedding onto the corpus's leading variance axis
    * — exact-integer power iteration (see [[graft.operators.Pca]]): the
    * dim² moment matrix and 6 driver-side BigInt rounds replay fully in
    * SQL, so every projection is hash-gated.
    */
  def qPcaProject(s: SparkSession, dir: String): DataFrame =
    graft.operators.Pca.project(table(s, dir, "embeddings"), "vec_id", "embedding",
        iters = 6)
      .orderBy("vec_id")

  val qPcaProjectSql: String = {
    val rounds = (1 to 6).map { r =>
      val prev = if (r == 1) "v0" else s"v${r - 1}"
      s"""u$r AS (
         |  SELECT c.i, sum(c.cv * v.vj) AS u
         |  FROM cov c JOIN $prev v ON v.i = c.j GROUP BY c.i),
         |m$r AS (SELECT max(abs(u)) AS m FROM u$r),
         |v$r AS (
         |  SELECT u.i,
         |    CASE WHEN u.u < 0 THEN -(((-u.u) * 1000000) // m.m)
         |         ELSE (u.u * 1000000) // m.m END AS vj
         |  FROM u$r u CROSS JOIN m$r m)""".stripMargin
    }.mkString(",\n")
    s"""WITH q AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS v
       |  FROM embeddings),
       |qe AS (
       |  SELECT vec_id, CAST(u.i - 1 AS INT) AS pos, v[u.i] AS qv
       |  FROM q, LATERAL unnest(generate_series(1, CAST(len(v) AS BIGINT))) AS u(i)),
       |mu AS (
       |  SELECT pos, (s - ((s % n + n) % n)) // n AS m
       |  FROM (SELECT pos, CAST(sum(qv) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS n
       |        FROM qe GROUP BY pos)),
       |ctr AS (
       |  SELECT e.vec_id, e.pos, e.qv - m.m AS d FROM qe e JOIN mu m USING (pos)),
       |cov AS (
       |  SELECT a.pos AS i, b.pos AS j, CAST(sum(CAST(a.d AS HUGEINT) * b.d) AS HUGEINT) AS cv
       |  FROM ctr a JOIN ctr b USING (vec_id) GROUP BY 1, 2),
       |v0 AS (SELECT DISTINCT pos AS i, CAST(1000000 AS HUGEINT) AS vj FROM qe),
       |$rounds
       |SELECT c.vec_id, CAST(sum(c.d * CAST(v.vj AS BIGINT)) AS BIGINT) AS proj_micro
       |FROM ctr c JOIN v6 v ON v.i = c.pos
       |GROUP BY c.vec_id
       |ORDER BY c.vec_id""".stripMargin
  }

  // ---- hashed-feature importance score (the DSIR shape) -------------------
  /** Importance score of every document against the English slice as the
    * target distribution — the data-selection gate of Xie et al. 2023 over
    * the cross-engine md5 feature hash (see [[graft.operators.Importance]]
    * for the micro-quantized ratio contract replacing the log-LR).
    */
  def qImportanceScore(s: SparkSession, dir: String): DataFrame =
    graft.operators.Importance.score(table(s, dir, "documents"),
        "doc_id", "text", isTarget = col("lang") === "en", buckets = 512)
      .orderBy("doc_id")

  val qImportanceScoreSql: String =
    """WITH tok AS (
      |  SELECT doc_id, lang = 'en' AS tgt,
      |    CAST(md5_number_lower(unnest(string_split_regex(lower(trim(text)), '\s+')))
      |         % 512 AS INT) AS b
      |  FROM documents),
      |cnt AS (
      |  SELECT b,
      |    CAST(sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS t_b,
      |    CAST(count(*) AS BIGINT) AS c_b
      |  FROM tok GROUP BY b),
      |tot AS (
      |  SELECT CAST(sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS t_tot,
      |    CAST(count(*) AS BIGINT) AS c_tot
      |  FROM tok),
      |w AS (
      |  SELECT b,
      |    CAST(FLOOR(1000000.0 * (
      |      ((CAST(t_b AS DOUBLE) + 1.0) / (CAST(t_tot AS DOUBLE) + 512.0))
      |      / ((CAST(c_b AS DOUBLE) + 1.0) / (CAST(c_tot AS DOUBLE) + 512.0))
      |    )) AS BIGINT) AS w_micro
      |  FROM cnt CROSS JOIN tot)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
      |  CAST(sum(w_micro) AS BIGINT) AS score_micro,
      |  CAST(sum(w_micro) AS DOUBLE) / count(*) AS per_token_micro
      |FROM tok JOIN w USING (b)
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  // ---- cross-source quantile mapping --------------------------------------------
  /** src1's doc lengths mapped onto src0's length distribution — see
    * [[graft.operators.Curation.quantileMap]]: rank-preserving CDF
    * matching, the cross-source score-alignment transform.
    */
  def qQuantileMap(s: SparkSession, dir: String): DataFrame =
    graft.operators.Curation.quantileMap(table(s, dir, "documents"),
        "doc_id", "source", "n_chars", fromGroup = "src1", toGroup = "src0")
      .orderBy("doc_id")

  val qQuantileMapSql: String =
    """WITH b0 AS (SELECT CAST(n_chars AS BIGINT) AS value FROM documents WHERE source = 'src1'),
      |a0 AS (SELECT CAST(n_chars AS BIGINT) AS value FROM documents WHERE source = 'src0'),
      |bc AS (
      |  SELECT value, CAST(sum(cnt) OVER (ORDER BY value) AS DOUBLE) /
      |                CAST(sum(cnt) OVER () AS DOUBLE) AS pct
      |  FROM (SELECT value, CAST(count(*) AS BIGINT) AS cnt FROM b0 GROUP BY 1)),
      |ac AS (
      |  SELECT value, CAST(sum(cnt) OVER (ORDER BY value) AS DOUBLE) /
      |                CAST(sum(cnt) OVER () AS DOUBLE) AS cdf
      |  FROM (SELECT value, CAST(count(*) AS BIGINT) AS cnt FROM a0 GROUP BY 1)),
      |m AS (
      |  SELECT bc.value, bc.pct, CAST(min(ac.value) AS BIGINT) AS mapped
      |  FROM bc JOIN ac ON ac.cdf >= bc.pct
      |  GROUP BY 1, 2)
      |SELECT d.doc_id, CAST(d.n_chars AS BIGINT) AS value, m.pct, m.mapped
      |FROM documents d JOIN m ON m.value = CAST(d.n_chars AS BIGINT)
      |WHERE d.source = 'src1'
      |ORDER BY d.doc_id""".stripMargin

  // ---- embedding norm audit -----------------------------------------------------
  /** Embedding-store QA: per label, the vector count, degenerate
    * (zero-norm) count, and exact norm percentiles — the health report a
    * vector store publishes before anyone trusts cosine math over it
    * (zero vectors poison normalization; a drifting norm distribution
    * flags a broken encoder batch).
    *
    * Norms land as FLOORED MICRO-UNIT integers (sequential fold over the
    * array + one correctly-rounded sqrt — deterministic on both engines),
    * then the lossless histogram-CDF engine does percentiles: no
    * value-buffering aggregate, ~\|labels × distinct norms\| rows.
    */
  def qEmbedNormAudit(s: SparkSession, dir: String): DataFrame = {
    // percentile histogram + the count/zero agg both read it
    val norms = Caches.persist(table(s, dir, "embeddings")
      .select(col("label"),
        floor(sqrt(aggregate(col("embedding"), lit(0.0),
          (a, x) => a + x.cast("double") * x.cast("double"))) * lit(1000000.0))
          .cast("long").as("norm_u")))
    val pct = graft.operators.Curation.lengthPercentiles(norms, "label", "norm_u")
    val stats = norms.groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("norm_u") === 0L, 1L).otherwise(0L)).as("n_zero"))
    stats.join(pct, "label").orderBy("label")
  }

  val qEmbedNormAuditSql: String =
    """WITH n AS (
      |  SELECT label,
      |    CAST(floor(sqrt(list_reduce(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
      |      (a, v) -> a + v)) * 1000000.0) AS BIGINT) AS v
      |  FROM embeddings),
      |hist AS (SELECT label, v, CAST(count(*) AS BIGINT) AS cnt FROM n GROUP BY 1, 2),
      |cum AS (
      |  SELECT label, v, cnt,
      |    sum(cnt) OVER (PARTITION BY label ORDER BY v) AS hi,
      |    sum(cnt) OVER (PARTITION BY label) AS nn
      |  FROM hist),
      |pct AS (
      |  SELECT label,
      |    CAST(min(CASE WHEN hi >= CEIL(nn * 0.5) THEN v END) AS BIGINT) AS p50,
      |    CAST(min(CASE WHEN hi >= CEIL(nn * 0.9) THEN v END) AS BIGINT) AS p90,
      |    CAST(min(CASE WHEN hi >= CEIL(nn * 0.99) THEN v END) AS BIGINT) AS p99
      |  FROM cum GROUP BY 1),
      |st AS (
      |  SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
      |    CAST(sum(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero
      |  FROM n GROUP BY 1)
      |SELECT st.label, n_vecs, n_zero, p50, p90, p99
      |FROM st JOIN pct USING (label)
      |ORDER BY label""".stripMargin

  // ---- chi-square independence audit ------------------------------------------
  /** Is `lang` independent of `source`? — the contingency-table χ² test,
    * the categorical cousin of [[AnalyticsQueries.qAbTest]]'s two-proportion
    * z². Per-cell output: observed, expected (micro-units), and the cell's
    * χ² contribution floored to nano-units — an INTEGER, so the final sum
    * is order- and partition-invariant (a raw double Σ over cells would
    * hash-differ under re-aggregation order; the AB-test z² avoided this by
    * having one row, a luxury an R×C table doesn't have).
    *
    * Scale shape: one map-side-combined count to \|langs × sources\| cells;
    * margins via two aggregations of that cell frame (control-plane sized);
    * everything downstream is arithmetic on ≤ R·C rows.
    */
  /** Per-cell χ² contingency frame for any two categorical columns —
    * reused by the spec on planted tables.
    */
  def chi2Cells(df: DataFrame, rowCol: String, colCol: String): DataFrame = {
    // margins ×2 + the final select all read it
    val cells = Caches.persist(df
      .groupBy(rowCol, colCol).agg(count(lit(1)).as("obs")))
    val rowm = cells.groupBy(rowCol).agg(sum("obs").as("row_n"))
    val colm = cells.groupBy(colCol).agg(sum("obs").as("col_n"))
    val tot = cells.agg(sum("obs").as("n"))
    val exp = col("row_n").cast("double") * col("col_n").cast("double") / col("n").cast("double")
    val dev = col("obs").cast("double") - exp
    cells.join(rowm, rowCol).join(colm, colCol).crossJoin(broadcast(tot))
      .select(col(rowCol), col(colCol), col("obs"),
        floor(exp * lit(1000000.0)).cast("long").as("exp_micro"),
        floor(dev * dev / exp * lit(1000000000.0)).cast("long").as("chi2_nano"))
      .orderBy(rowCol, colCol)
  }

  def qChi2Independence(s: SparkSession, dir: String): DataFrame =
    chi2Cells(table(s, dir, "documents"), "lang", "source")

  val qChi2IndependenceSql: String =
    """WITH c AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS obs FROM documents GROUP BY 1, 2),
      |r AS (SELECT lang, CAST(sum(obs) AS BIGINT) AS row_n FROM c GROUP BY 1),
      |s AS (SELECT source, CAST(sum(obs) AS BIGINT) AS col_n FROM c GROUP BY 1),
      |t AS (SELECT CAST(sum(obs) AS BIGINT) AS n FROM c)
      |SELECT c.lang, c.source, c.obs,
      |  CAST(floor(CAST(row_n AS DOUBLE) * CAST(col_n AS DOUBLE) / CAST(n AS DOUBLE) * 1000000.0) AS BIGINT) AS exp_micro,
      |  CAST(floor(
      |    (CAST(obs AS DOUBLE) - CAST(row_n AS DOUBLE) * CAST(col_n AS DOUBLE) / CAST(n AS DOUBLE))
      |    * (CAST(obs AS DOUBLE) - CAST(row_n AS DOUBLE) * CAST(col_n AS DOUBLE) / CAST(n AS DOUBLE))
      |    / (CAST(row_n AS DOUBLE) * CAST(col_n AS DOUBLE) / CAST(n AS DOUBLE)) * 1000000000.0) AS BIGINT) AS chi2_nano
      |FROM c JOIN r USING (lang) JOIN s USING (source), t
      |ORDER BY lang, source""".stripMargin

  // ---- quality × duplication calibration -------------------------------------
  /** Is low-quality text more duplicated? — the C4-era curation finding as
    * a report: docs bucketed by quality score (value buckets, floor(q·10),
    * rank-free so partitioning-invariant) × NEAR-dup membership
    * ([[Dedup.nearDupMembership]], jaccard ≥ 0.8); per bucket the dup
    * rate. The membership pass rides the rep-graph economics (distinct
    * sets, never doc pairs); the quality pass is one scan projection.
    */
  def qQualityDupRate(s: SparkSession, dir: String): DataFrame = {
    val docs = table(s, dir, "documents")
    val member = Dedup.nearDupMembership(docs, "doc_id", "text", threshold = 0.8)
      .withColumnRenamed("id", "doc_id")
    docs.select(col("doc_id"), TF.qualityScore(col("text")).as("quality"))
      .join(member, "doc_id")
      .withColumn("bucket", least(floor(col("quality") * 10).cast("int"), lit(9)))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dup"))
      .withColumn("dup_rate", col("n_dup").cast("double") / col("n_docs").cast("double"))
      .orderBy("bucket")
  }

  /** Membership replays by the all-pairs zero-false-negative argument
    * (the [[qDedupNearKeepSql]] precedent).
    */
  val qQualityDupRateSql: String =
    s"""WITH w AS (SELECT doc_id, $wordSetSql AS words FROM documents),
       |m AS (
       |  SELECT DISTINCT a.doc_id FROM w a JOIN w b ON a.doc_id <> b.doc_id
       |  WHERE CAST(len(list_intersect(a.words, b.words)) AS DOUBLE) /
       |        CAST(len(list_distinct(list_concat(a.words, b.words))) AS DOUBLE) >= 0.8),
       |q AS (
       |  SELECT doc_id,
       |    greatest(least(
       |      least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.5
       |      + least(CAST(len(regexp_extract_all(lower(text), '\\b(the|a|of|and|to|in|is|it)\\b')) AS DOUBLE)
       |              / greatest(CAST(len(string_split_regex(lower(trim(text)), '\\s+')) AS DOUBLE), 1.0) * 4.0, 1.0) * 0.5
       |      - least(CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE)
       |              / greatest(CAST(length(text) AS DOUBLE), 1.0) * 10.0, 1.0) * 0.25,
       |    1.0), 0.0) AS quality
       |  FROM documents)
       |SELECT least(CAST(floor(quality * 10) AS INT), 9) AS bucket,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(CASE WHEN m.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
       |  CAST(sum(CASE WHEN m.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS dup_rate
       |FROM q LEFT JOIN m USING (doc_id)
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- label propagation ----------------------------------------------------
  /** Auto-labeling: a 25% md5-seeded trusted set expands over the 2×4 kNN
    * graph for 2 majority-vote rounds — see [[graft.operators.LabelProp]].
    * Per-vector output; the spec derives accuracy on the held-out 75%.
    */
  private def labelPropAt(s: SparkSession, dir: String,
                          nTables: Int, planes: Int): DataFrame = {
    val emb = table(s, dir, "embeddings")
    val edges = Ann.knnGraph(emb, "vec_id", "embedding", k = 5,
      nTables = nTables, planesPerTable = planes)
    graft.operators.LabelProp.propagate(edges, emb, "vec_id", "label",
        graft.functions.Sampling.md5Bucket(col("vec_id"), 4) === 0, rounds = 2)
      .orderBy("vec_id")
  }

  def qLabelProp(s: SparkSession, dir: String): DataFrame =
    labelPropAt(s, dir, nTables = 2, planes = 4)

  /** PRODUCTION posture: the same propagation over the 8×16 knn graph
    * (the q_knn_graph_prod precedent) — in-bucket candidate sets bounded
    * by 65 536 buckets per table, so the edge build scales where the
    * oracle-saturating 2×4 config is quadratic by construction (21.7×
    * cold for 10× data, measured; it joins the scale-run skip set).
    */
  def qLabelPropProd(s: SparkSession, dir: String): DataFrame =
    labelPropAt(s, dir, nTables = 8, planes = 16)

  private def labelPropSqlAt(nTables: Int, planes: Int): String =
    s"""WITH g AS (
       |${knnGraphInnerSql(nTables, planes)}),
       |seeds AS (
       |  SELECT vec_id, label,
       |    md5_number_lower(CAST(vec_id AS VARCHAR)) % 4 = 0 AS is_seed
       |  FROM embeddings),
       |l0 AS (SELECT vec_id, CASE WHEN is_seed THEN label END AS pred FROM seeds),
       |v1 AS (SELECT g.src_id, l0.pred AS vote, count(*) AS n
       |       FROM g JOIN l0 ON l0.vec_id = g.neighbor_id
       |       WHERE l0.pred IS NOT NULL GROUP BY 1, 2),
       |p1 AS (SELECT src_id AS vec_id, vote FROM (
       |         SELECT *, row_number() OVER (PARTITION BY src_id ORDER BY n DESC, vote) AS rn
       |         FROM v1) t WHERE rn = 1),
       |l1 AS (SELECT s.vec_id, CASE WHEN s.is_seed THEN s.label ELSE p1.vote END AS pred
       |       FROM seeds s LEFT JOIN p1 USING (vec_id)),
       |v2 AS (SELECT g.src_id, l1.pred AS vote, count(*) AS n
       |       FROM g JOIN l1 ON l1.vec_id = g.neighbor_id
       |       WHERE l1.pred IS NOT NULL GROUP BY 1, 2),
       |p2 AS (SELECT src_id AS vec_id, vote FROM (
       |         SELECT *, row_number() OVER (PARTITION BY src_id ORDER BY n DESC, vote) AS rn
       |         FROM v2) t WHERE rn = 1),
       |l2 AS (SELECT s.vec_id, CASE WHEN s.is_seed THEN s.label ELSE p2.vote END AS pred
       |       FROM seeds s LEFT JOIN p2 USING (vec_id))
       |SELECT s.vec_id, s.is_seed, s.label AS true_label, l2.pred AS pred_label
       |FROM seeds s JOIN l2 USING (vec_id)
       |ORDER BY s.vec_id""".stripMargin

  val qLabelPropSql: String = labelPropSqlAt(2, 4)
  val qLabelPropProdSql: String = labelPropSqlAt(8, 16)

  // ---- sorted-neighborhood dedup ------------------------------------------
  /** The merge/purge pass — see [[graft.operators.Snm.snmPairs]]: window-4
    * neighbors of the 24-char normalized-prefix order, word-set jaccard
    * ≥ 0.5. The prefix-anchored leg of the blocking family.
    */
  def qSnmDedup(s: SparkSession, dir: String): DataFrame =
    graft.operators.Snm.snmPairs(table(s, dir, "documents"), "doc_id", "text",
        window = 4, minJaccard = 0.5)
      .orderBy("id_a", "id_b")

  val qSnmDedupSql: String =
    s"""WITH r AS (
       |  SELECT doc_id, text, row_number() OVER (ORDER BY
       |    substr(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), 1, 24), doc_id) AS rn
       |  FROM documents),
       |w AS (SELECT doc_id, $wordSetSql AS words, rn FROM r),
       |c AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |    CAST(len(list_intersect(a.words, b.words)) AS DOUBLE) /
       |    CAST(len(list_distinct(list_concat(a.words, b.words))) AS DOUBLE) AS jaccard
       |  FROM w a JOIN w b ON b.rn BETWEEN a.rn + 1 AND a.rn + 3)
       |SELECT id_a, id_b, jaccard FROM c WHERE jaccard >= 0.5
       |ORDER BY id_a, id_b""".stripMargin

  // ---- ANN recall report ------------------------------------------------
  /** Recall@10 of the registered single-table LSH posture vs exact brute
    * force — see [[Ann.recallAtK]]. The report that decides whether an
    * index config ships; both legs replay in SQL, so even the recall
    * numbers are oracle-exact.
    */
  def qAnnRecall(s: SparkSession, dir: String): DataFrame = {
    val emb = table(s, dir, "embeddings")
    val q = emb.filter(col("vec_id") < 5)
    // |Q|·k rows, read once per evaluated posture
    val truth = Caches.persist(Ann.bruteForceTopK(q, emb, "vec_id", "embedding", k = 10))
    def leg(nTables: Int, name: String) =
      Ann.recallAtK(truth,
          Ann.lshTopK(q, emb, "vec_id", "embedding", k = 10,
            nTables = nTables, planesPerTable = 4))
        .withColumn("method", lit(name))
    leg(1, "lsh_1x4").union(leg(8, "lsh_8x4"))
      .select("method", "query_id", "n_truth", "n_hit", "recall")
      .orderBy("method", "query_id")
  }

  val qAnnRecallSql: String = {
    def agg(name: String, tbl: String) =
      s"""SELECT '$name' AS method, t.query_id, CAST(count(*) AS BIGINT) AS n_truth,
         |  CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
         |  CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) /
         |    CAST(count(*) AS DOUBLE) AS recall
         |FROM truth t LEFT JOIN $tbl a
         |  ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
         |GROUP BY 2""".stripMargin
    s"""WITH truth AS ($qAnnCosineSql),
       |a1 AS ($qAnnLshSql),
       |a8 AS ($qAnnLshMultiSql)
       |${agg("lsh_1x4", "a1")}
       |UNION ALL
       |${agg("lsh_8x4", "a8")}
       |ORDER BY method, query_id""".stripMargin
  }

  /** IVF recall report — the probe-sweep companion to `q_ann_recall`'s
    * LSH postures: recall@10 of nprobe = 2 vs 4 (of 16 cells) against the
    * brute-force truth, per query. Both legs and the truth replay in SQL
    * over the SAME pinned centroid fixture, so the recall numbers
    * themselves are hash-gated; nprobe-4 recall provably dominates
    * nprobe-2 per query (its probed cells are a superset and the exact
    * rescoring makes recall = \|truth ∩ candidates\|).
    */
  def qAnnRecallIvf(s: SparkSession, dir: String): DataFrame = {
    val emb = table(s, dir, "embeddings")
    val q = emb.filter(col("vec_id") < 5)
    val truth = Caches.persist(Ann.bruteForceTopK(q, emb, "vec_id", "embedding", k = 10))
    val fixture = ivfCentroidFixture(dir)
    lastIvfDir.set(dir)
    pinFixtureOnce(() => Ann.trainIvfCentroids(emb, "vec_id", "embedding",
      nlist = 16, iters = 1), fixture, s)
    val pinned = s.read.parquet(fixture)
    def leg(nprobe: Int, name: String) =
      Ann.recallAtK(truth,
          Ann.ivfTopKWithCentroids(q, emb, pinned, "vec_id", "embedding",
            k = 10, nprobe = nprobe))
        .withColumn("method", lit(name))
    leg(2, "ivf_p2").union(leg(4, "ivf_p4"))
      .select("method", "query_id", "n_truth", "n_hit", "recall")
      .orderBy("method", "query_id")
  }

  // def, not val: the fixture path inside ivfSqlAt resolves from
  // lastIvfDir, which the query sets at run time — a val would freeze the
  // default before any query ran (same contract as qAnnIvfSql)
  def qAnnRecallIvfSql: String = {
    def agg(name: String, tbl: String) =
      s"""SELECT '$name' AS method, t.query_id, CAST(count(*) AS BIGINT) AS n_truth,
         |  CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
         |  CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) /
         |    CAST(count(*) AS DOUBLE) AS recall
         |FROM truth t LEFT JOIN $tbl a
         |  ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
         |GROUP BY 2""".stripMargin
    s"""WITH truth AS ($qAnnCosineSql),
       |p2 AS (${ivfSqlAt(2)}),
       |p4 AS (${ivfSqlAt(4)})
       |${agg("ivf_p2", "p2")}
       |UNION ALL
       |${agg("ivf_p4", "p4")}
       |ORDER BY method, query_id""".stripMargin
  }

  // ---- compaction plan ------------------------------------------------------
  /** Small-file compaction plan over the per-source pseudo-file listing —
    * see [[graft.operators.Compaction]]. 64 hash-bucketed files per
    * source, 4 KiB target bins, prefix-sum packing: one window pass over
    * a metadata-sized listing.
    */
  def qCompactionPlan(s: SparkSession, dir: String): DataFrame =
    graft.operators.Compaction.plan(
        graft.operators.Compaction.pseudoFiles(
          table(s, dir, "documents"), "source", "doc_id", "n_chars", buckets = 64),
        targetBytes = 4096L)
      .orderBy("source", "bin_id")

  val qCompactionPlanSql: String =
    """WITH f AS (
      |  SELECT source, CAST(md5_number_lower(CAST(doc_id AS VARCHAR)) % 64 AS INT) AS file_id,
      |    CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS bytes
      |  FROM documents GROUP BY 1, 2),
      |p AS (
      |  SELECT *, coalesce(sum(bytes) OVER (
      |      PARTITION BY source ORDER BY file_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
      |  FROM f)
      |SELECT source, CAST(cum_before // 4096 AS BIGINT) AS bin_id,
      |  CAST(count(*) AS BIGINT) AS n_files, CAST(sum(n_docs) AS BIGINT) AS n_docs,
      |  CAST(sum(bytes) AS BIGINT) AS bytes,
      |  CAST(min(file_id) AS INT) AS file_lo, CAST(max(file_id) AS INT) AS file_hi,
      |  CAST(sum(bytes) AS DOUBLE) / 4096.0 AS fill
      |FROM p GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  // ---- soft dedup: per-doc cluster weights --------------------------------
  /** The DuckDB recursive-CTE prelude shared by the cluster-grain oracles:
    * exact jaccard-≥0.8 all-pairs edges → min-label transitive closure →
    * per-DOC cluster assignment `cl(doc_id, cluster_id)` (untouched docs
    * are their own cluster). Mirrors [[Dedup.clusterAssign]] at 4/5.
    */
  private val clusterAssignSqlPrelude: String =
    s"""w AS (SELECT doc_id, $wordSetSql AS words FROM documents),
       |p AS (
       |  SELECT a.doc_id AS ia, b.doc_id AS ib
       |  FROM w a, w b
       |  WHERE a.doc_id < b.doc_id
       |    AND CAST(len(list_intersect(a.words, b.words)) AS DOUBLE) /
       |        CAST(len(list_distinct(list_concat(a.words, b.words))) AS DOUBLE) >= 0.8),
       |e AS (SELECT ia AS src, ib AS dst FROM p UNION SELECT ib, ia FROM p),
       |nd AS (SELECT DISTINCT src AS node FROM e),
       |lp(node, lbl) AS (
       |  SELECT node, node FROM nd
       |  UNION
       |  SELECT e.dst, lp.lbl FROM lp JOIN e ON e.src = lp.node WHERE lp.lbl < e.dst),
       |comps AS (SELECT node, min(lbl) AS comp FROM lp GROUP BY node),
       |cl AS (
       |  SELECT d.doc_id, COALESCE(c.comp, d.doc_id) AS cluster_id
       |  FROM documents d LEFT JOIN comps c ON c.node = d.doc_id)""".stripMargin

  /** SOFT dedup: instead of DROPPING near-duplicates, DOWN-WEIGHT them —
    * every document keeps flowing but carries weight 1/cluster_size, so
    * each near-dup cluster contributes exactly one document-equivalent of
    * training mass (the public soft-dedup recipe, the gentle sibling of the
    * hard materializer [[qDedupNearKeep]]: no information is destroyed,
    * boilerplate just stops dominating the gradient). Weight is pinned as
    * exact integer ppm (10⁶ DIV size — the floor-division house contract);
    * the raw 1/size rational stays derivable from cluster_size. Clustering
    * is the EXACT prefix-filter graph at jaccard ≥ 4/5, per-doc labels via
    * the MATERIALIZED [[Dedup.clusterTable]] — the substrate (rep-graph CC,
    * doc rows move once) is computed once per corpus and persisted; all
    * four family consumers join the slim label parquet (the r11 verdict's
    * "compute ONCE and ship the label frame" production shape). The oracle
    * still replays the full chain.
    */
  def qSoftDedup(s: SparkSession, dir: String): DataFrame =
    Dedup.clusterTable(s, dir, 4, 5)
      .select(col("id").as("doc_id"), col("cluster_id"), col("cluster_size"),
        expr("CAST(1000000 DIV cluster_size AS BIGINT)").as("weight_ppm"))
      .orderBy("doc_id")

  val qSoftDedupSql: String =
    s"""WITH RECURSIVE $clusterAssignSqlPrelude,
       |sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size FROM cl GROUP BY 1)
       |SELECT cl.doc_id, cl.cluster_id, sz.cluster_size,
       |  CAST(1000000 // sz.cluster_size AS BIGINT) AS weight_ppm
       |FROM cl JOIN sz USING (cluster_id)
       |ORDER BY cl.doc_id""".stripMargin

  /** Near-dup materializer with PRODUCTION keep semantics: per cluster keep
    * the HIGHEST-QUALITY member (doc_id tie-break), not the lowest id —
    * [[qDedupNearKeep]]'s min-id winner is the reproducibility-first
    * contract, but a real curation run keeps the best-written copy of each
    * boilerplate family (the quality gate and the dedup pass compose
    * instead of fighting). Selection is `Filter(row_number = 1)` over the
    * per-cluster quality window, which lowers to Spark's WindowGroupLimit —
    * a 10⁸-copy cluster is trimmed to its best row map-side BEFORE the
    * exchange, so the shuffle carries one candidate per cluster per input
    * partition, never the cluster.
    */
  def qDedupKeepBest(s: SparkSession, dir: String): DataFrame = {
    val docs = table(s, dir, "documents")
    val cl = Dedup.clusterTable(s, dir, 4, 5)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster_id").orderBy(col("quality").desc, col("doc_id"))
    docs.select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        TF.qualityScore(col("text")).as("quality"))
      .join(cl.select(col("id").as("doc_id"), col("cluster_id"), col("cluster_size")), "doc_id")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("doc_id", "cluster_id", "cluster_size", "lang", "source", "n_chars", "quality")
      .orderBy("doc_id")
  }

  val qDedupKeepBestSql: String =
    s"""WITH RECURSIVE $clusterAssignSqlPrelude,
       |sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size FROM cl GROUP BY 1),
       |q AS (SELECT doc_id, lang, source, n_chars,
       |  greatest(least(
       |    least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.5
       |    + least(CAST(len(regexp_extract_all(lower(text), '\\b(the|a|of|and|to|in|is|it)\\b')) AS DOUBLE)
       |            / greatest(CAST(len(string_split_regex(lower(trim(text)), '\\s+')) AS DOUBLE), 1.0) * 4.0, 1.0) * 0.5
       |    - least(CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE)
       |            / greatest(CAST(length(text) AS DOUBLE), 1.0) * 10.0, 1.0) * 0.25,
       |  1.0), 0.0) AS quality
       |  FROM documents),
       |j AS (
       |  SELECT q.doc_id, q.lang, q.source, q.n_chars, q.quality,
       |         cl.cluster_id, sz.cluster_size
       |  FROM q JOIN cl USING (doc_id) JOIN sz USING (cluster_id)),
       |r AS (SELECT *, row_number() OVER (
       |        PARTITION BY cluster_id ORDER BY quality DESC, doc_id) AS rn FROM j)
       |SELECT doc_id, cluster_id, cluster_size, lang, source, n_chars, quality
       |FROM r WHERE rn = 1
       |ORDER BY doc_id""".stripMargin

  /** EFFECTIVE training-token mass per source under soft dedup: raw token
    * counts next to the down-weighted mass Σ tokens·⌊10⁶/cluster_size⌋ —
    * the number a mixture designer actually budgets with (a source that is
    * 90% boilerplate contributes far fewer effective tokens than its raw
    * size claims; `retention` makes the haircut visible per source). The
    * per-doc weighted mass stays in exact integers (ppm scale, decimal(38,0)
    * INTERNAL sum so 100 TB token counts can't wrap); the GATED column is
    * pinned to BIGINT on both sides via [[bigintChecked]] — the house
    * convention the r11 `q_mlt_*` diagnostics proved (decimal128 vs
    * HUGEINT arrow exports hash differently at the driver even when
    * numerically equal). Retention is ONE pinned division at the end.
    */
  def qEffectiveTokens(s: SparkSession, dir: String): DataFrame = {
    val docs = table(s, dir, "documents")
    val cl = Dedup.clusterTable(s, dir, 4, 5)
    docs.select(col("doc_id"), col("source"),
        TF.tokenCountWs(col("text")).cast("long").as("toks"))
      .join(cl.select(col("id").as("doc_id"), col("cluster_size")), "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("toks")).as("raw_tokens"),
        sum(expr("toks * 1000000 DIV cluster_size").cast("decimal(38,0)")).as("eff_dec"))
      .select(col("source"), col("n_docs"), col("raw_tokens"),
        bigintChecked(col("eff_dec"), "eff_tokens_ppm"),
        (col("eff_dec").cast("double") /
          (col("raw_tokens") * lit(1000000L)).cast("double")).as("retention"))
      .orderBy("source")
  }

  val qEffectiveTokensSql: String =
    s"""WITH RECURSIVE $clusterAssignSqlPrelude,
       |sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size FROM cl GROUP BY 1),
       |t AS (
       |  SELECT d.source,
       |    CAST(len(string_split_regex(lower(trim(d.text)), '\\s+')) AS BIGINT) AS toks,
       |    sz.cluster_size
       |  FROM documents d
       |  JOIN cl ON cl.doc_id = d.doc_id
       |  JOIN sz USING (cluster_id))
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(toks) AS BIGINT) AS raw_tokens,
       |  CAST(sum((toks * 1000000) // cluster_size) AS BIGINT) AS eff_tokens_ppm,
       |  CAST(sum((toks * 1000000) // cluster_size) AS DOUBLE) /
       |    CAST(sum(toks) * 1000000 AS DOUBLE) AS retention
       |FROM t GROUP BY source
       |ORDER BY source""".stripMargin

  // ---- leakage-safe split: hash the CLUSTER, not the doc ------------------
  /** Train/val/test split LEAKAGE audit: hashing each DOC into a split (the
    * naive recipe, [[qHashSplit]]) strands near-duplicate pairs across the
    * train/test boundary — the eval set then "tests" memorized training
    * text. Hashing the near-dup CLUSTER id instead sends every member of a
    * cluster to the same split, so cross-split near-dup pairs are ZERO by
    * construction. One row per policy: split sizes plus the leaked-pair
    * count, both policies over the SAME exact pair set (the prefix-filter
    * graph at 4/5 — completeness by theorem, so "zero leaked pairs" is a
    * guarantee, not a recall estimate). The count is computed at the SET
    * grain from per-set split vectors — the duplication²-growing doc-pair
    * frame never materializes (see the inline derivation).
    */
  def qSplitLeakage(s: SparkSession, dir: String): DataFrame = {
    // ONE substrate serves both the cluster labels and the pair
    // arithmetic: the jaccard-1.0 doc-pair expansion NEVER materializes.
    // A boilerplate set with n identical copies carries C(n,2) intra-set
    // pairs (duplication² — 4.5M doc pairs for one 3000-copy group at ×10
    // corpus scale); counting cross-split pairs needs only each set's
    // per-split membership VECTOR: intra-set cross = (n² − Σ_s n_s²)/2,
    // and for a verified rep pair (A,B), cross = n_A·n_B − Σ_s n_{A,s}·n_{B,s}.
    // Every doc's split is a pure hash of its id (or cluster id), so the
    // vectors are one set-grain agg over the slim keyed frame. r12: the
    // substrate is [[Dedup.materializedSubstrate]] — the same persisted
    // keyed/repPairs/setLbl parquet the rest of the soft-dedup family
    // joins, not a re-derived inline copy (r11 advice: the copy could
    // drift from Dedup.clusterAssign).
    val sub = Dedup.materializedSubstrate(s, dir, 4, 5)
    val keyed = sub.keyed
    val repPairs = sub.repPairs
    val setLbl = sub.setLbl.select("set_key", "cluster_id")
    def flag(c: org.apache.spark.sql.Column, v: String) =
      sum(when(c === v, 1L).otherwise(0L))
    val ds = graft.functions.Sampling.split(col("id"), trainPct = 80, valPct = 10)
    val cs = graft.functions.Sampling.split(col("cluster_id"), trainPct = 80, valPct = 10)
    // per-set split vectors (doc-hash and cluster-hash policies side by side)
    // read by intra-set, rep-pair, and split-size aggregates
    val vec = Caches.persist(keyed.join(setLbl, "set_key")
      .select(col("set_key"), ds.as("dsp"), cs.as("csp"))
      .groupBy("set_key")
      .agg(count(lit(1)).as("n"),
        flag(col("dsp"), "train").as("d_tr"), flag(col("dsp"), "val").as("d_va"),
        flag(col("dsp"), "test").as("d_te"),
        flag(col("csp"), "train").as("c_tr"), flag(col("csp"), "val").as("c_va"),
        flag(col("csp"), "test").as("c_te")))
    // (n² − Σ_s n_s²) is always EVEN, so per-set DIV 2 is exact; all the
    // arithmetic stays in longs (a double `/` would round above 2^53)
    def intraOf(p: String) = expr(
      s"(n * n - (${p}_tr * ${p}_tr + ${p}_va * ${p}_va + ${p}_te * ${p}_te)) DIV 2")
    val intra = vec.agg(
      coalesce(sum(intraOf("d")), lit(0L)).as("doc_intra"),
      coalesce(sum(intraOf("c")), lit(0L)).as("cluster_intra"))
    def cross2(p: String) =
      col("a.n") * col("b.n") -
        (col(s"a.${p}_tr") * col(s"b.${p}_tr") + col(s"a.${p}_va") * col(s"b.${p}_va") +
          col(s"a.${p}_te") * col(s"b.${p}_te"))
    val inter = repPairs.select(col("id_a"), col("id_b"))
      .join(vec.as("a"), col("id_a") === col("a.set_key"))
      .join(vec.as("b"), col("id_b") === col("b.set_key"))
      .agg(coalesce(sum(cross2("d")), lit(0L)).as("doc_inter"),
        coalesce(sum(cross2("c")), lit(0L)).as("cluster_inter"))
    val crosses = intra.crossJoin(inter).select(
      (col("doc_intra") + col("doc_inter")).as("doc_cross"),
      (col("cluster_intra") + col("cluster_inter")).as("cluster_cross"))
    val counts = vec.agg(
      sum(col("d_tr")).as("d_tr"), sum(col("d_va")).as("d_va"), sum(col("d_te")).as("d_te"),
      sum(col("c_tr")).as("c_tr"), sum(col("c_va")).as("c_va"), sum(col("c_te")).as("c_te"))
    val both = counts.crossJoin(crosses)
    both.select(lit("cluster_hash").as("policy"), col("c_tr").as("train_docs"),
        col("c_va").as("val_docs"), col("c_te").as("test_docs"),
        col("cluster_cross").as("cross_pairs"))
      .unionByName(both.select(lit("doc_hash").as("policy"), col("d_tr").as("train_docs"),
        col("d_va").as("val_docs"), col("d_te").as("test_docs"),
        col("doc_cross").as("cross_pairs")))
      .orderBy("policy")
  }

  val qSplitLeakageSql: String =
    s"""WITH RECURSIVE $clusterAssignSqlPrelude,
       |a AS (SELECT doc_id,
       |  CASE WHEN md5_number_lower(CAST(doc_id AS VARCHAR)) % 100 < 80 THEN 'train'
       |       WHEN md5_number_lower(CAST(doc_id AS VARCHAR)) % 100 < 90 THEN 'val'
       |       ELSE 'test' END AS doc_split,
       |  CASE WHEN md5_number_lower(CAST(cluster_id AS VARCHAR)) % 100 < 80 THEN 'train'
       |       WHEN md5_number_lower(CAST(cluster_id AS VARCHAR)) % 100 < 90 THEN 'val'
       |       ELSE 'test' END AS cluster_split
       |  FROM cl),
       |x AS (SELECT
       |  CAST(coalesce(sum(CASE WHEN aa.doc_split <> ab.doc_split THEN 1 ELSE 0 END), 0) AS BIGINT) AS doc_cross,
       |  CAST(coalesce(sum(CASE WHEN aa.cluster_split <> ab.cluster_split THEN 1 ELSE 0 END), 0) AS BIGINT) AS cluster_cross
       |  FROM p JOIN a aa ON aa.doc_id = p.ia JOIN a ab ON ab.doc_id = p.ib),
       |c AS (SELECT
       |  CAST(sum(CASE WHEN doc_split = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS d_tr,
       |  CAST(sum(CASE WHEN doc_split = 'val' THEN 1 ELSE 0 END) AS BIGINT) AS d_va,
       |  CAST(sum(CASE WHEN doc_split = 'test' THEN 1 ELSE 0 END) AS BIGINT) AS d_te,
       |  CAST(sum(CASE WHEN cluster_split = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS c_tr,
       |  CAST(sum(CASE WHEN cluster_split = 'val' THEN 1 ELSE 0 END) AS BIGINT) AS c_va,
       |  CAST(sum(CASE WHEN cluster_split = 'test' THEN 1 ELSE 0 END) AS BIGINT) AS c_te
       |  FROM a)
       |SELECT * FROM (
       |  SELECT 'cluster_hash' AS policy, c.c_tr AS train_docs, c.c_va AS val_docs,
       |         c.c_te AS test_docs, x.cluster_cross AS cross_pairs FROM c, x
       |  UNION ALL
       |  SELECT 'doc_hash', c.d_tr, c.d_va, c.d_te, x.doc_cross FROM c, x)
       |ORDER BY policy""".stripMargin

  // ---- padding-waste report: length-bucketed batching ---------------------
  /** Sequence-length BATCHING economics: bucket documents by BPE token
    * count into power-of-two capacity buckets (cap = next pow2 ≥ len — the
    * bucketed-batching recipe every training loader uses) and price the
    * padding: `pad_waste` = tokens burned padding each doc to its bucket
    * cap, vs `maxpad_waste` = the same docs padded to the GLOBAL max length
    * (the no-bucketing baseline). The gap is the GPU-time argument for
    * length-bucketed batching, computed in exact integers. One corpus scan
    * + a ≤64-row group-by; the global max rides a broadcast 1-row agg.
    */
  def qPadWaste(s: SparkSession, dir: String): DataFrame = {
    // read by the bucket agg AND the global-max agg
    val d = Caches.persist(table(s, dir, "documents")
      .select(TF.tokenCountBpe(col("text")).cast("long").as("len"))
      .filter(col("len") > 0)
      .select(col("len"),
        when(col("len") <= 1, lit(1L))
          .otherwise(expr("shiftleft(CAST(1 AS BIGINT), length(bin(len - 1)))")).as("cap")))
    d.groupBy("cap")
      .agg(count(lit(1)).as("n_docs"), sum(col("len")).as("tokens"))
      .crossJoin(broadcast(d.agg(max(col("len")).as("max_len"))))
      .select(col("cap"), col("n_docs"), col("tokens"),
        (col("cap") * col("n_docs") - col("tokens")).as("pad_waste"),
        (col("max_len") * col("n_docs") - col("tokens")).as("maxpad_waste"))
      .orderBy("cap")
  }

  val qPadWasteSql: String =
    """WITH t AS (
      |  SELECT CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9\s]')) AS BIGINT) AS ln
      |  FROM documents),
      |f AS (
      |  SELECT ln, CASE WHEN ln <= 1 THEN CAST(1 AS BIGINT)
      |                  ELSE CAST(CAST(1 AS BIGINT) << len(bin(ln - 1)) AS BIGINT) END AS cap
      |  FROM t WHERE ln > 0),
      |m AS (SELECT max(ln) AS max_ln FROM f)
      |SELECT f.cap, CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(f.ln) AS BIGINT) AS tokens,
      |  CAST(f.cap * count(*) - sum(f.ln) AS BIGINT) AS pad_waste,
      |  CAST(m.max_ln * count(*) - sum(f.ln) AS BIGINT) AS maxpad_waste
      |FROM f, m GROUP BY f.cap, m.max_ln
      |ORDER BY f.cap""".stripMargin

  // ---- length-bucketed batching: sorted vs arrival-order packing ----------
  /** The OTHER half of the batching-economics story [[qPadWaste]] opens:
    * given a fixed batch size B, how much padding does LENGTH-SORTED
    * batching save over arrival-order batching? Both strategies assign
    * docs to B=32-row batches by a global row number (arrival = doc_id
    * order; sorted = token length desc) and pad every row to its batch
    * max. Two rows out: (strategy, n_batches, tokens, padded, pad_waste,
    * waste_ppm) in exact integers — the sorted row's waste_ppm is the
    * loader-side GPU-time argument.
    *
    * Scale shape: the global row number is [[graft.operators.Scale
    * .globalRowNumber]] (range-partition + partition-local numbering +
    * driver offset combine — no single-task window), and everything after
    * it is two ≤N/B-row group-bys.
    */
  def qLengthBucketPack(s: SparkSession, dir: String): DataFrame = {
    val B = 32
    // persist the slim (doc_id, len) frame: BOTH strategies consume it, and
    // each globalRowNumber pass otherwise re-runs the tokenizer regex over
    // the full corpus twice more (range-boundary sampling + the shuffle)
    val d = Caches.persist(table(s, dir, "documents")
      .select(col("doc_id"), TF.tokenCountBpe(col("text")).cast("long").as("len"))
      .filter(col("len") > 0))
    def packed(df: DataFrame, strategy: String): DataFrame =
      df.withColumn("batch_id", expr(s"(rn - 1) div $B"))
        .groupBy("batch_id")
        .agg(count(lit(1)).as("n"), sum("len").as("tok"), max("len").as("mx"))
        .agg(count(lit(1)).as("n_batches"), sum("tok").as("tokens"),
          sum(col("mx") * col("n")).as("padded"))
        .select(lit(strategy).as("strategy"), col("n_batches"), col("tokens"),
          col("padded"), (col("padded") - col("tokens")).as("pad_waste"),
          expr("(padded - tokens) * 1000000 div padded").as("waste_ppm"))
    val arrival = packed(graft.operators.Scale.globalRowNumber(d, Seq("doc_id"), "rn"),
      "arrival")
    val sorted = packed(graft.operators.Scale.globalRowNumber(
      d.withColumn("neg_len", -col("len")), Seq("neg_len", "doc_id"), "rn"), "sorted")
    arrival.unionByName(sorted).orderBy("strategy")
  }

  val qLengthBucketPackSql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9\s]')) AS BIGINT) AS ln
      |  FROM documents),
      |f AS (SELECT * FROM t WHERE ln > 0),
      |a AS (SELECT ln, (row_number() OVER (ORDER BY doc_id) - 1) // 32 AS batch_id FROM f),
      |s AS (SELECT ln, (row_number() OVER (ORDER BY ln DESC, doc_id) - 1) // 32 AS batch_id FROM f),
      |pa AS (SELECT batch_id, count(*) AS n, sum(ln) AS tok, max(ln) AS mx FROM a GROUP BY 1),
      |ps AS (SELECT batch_id, count(*) AS n, sum(ln) AS tok, max(ln) AS mx FROM s GROUP BY 1),
      |u AS (
      |  SELECT 'arrival' AS strategy, CAST(count(*) AS BIGINT) AS n_batches,
      |    CAST(sum(tok) AS BIGINT) AS tokens, CAST(sum(mx * n) AS BIGINT) AS padded FROM pa
      |  UNION ALL
      |  SELECT 'sorted', CAST(count(*) AS BIGINT),
      |    CAST(sum(tok) AS BIGINT), CAST(sum(mx * n) AS BIGINT) FROM ps)
      |SELECT strategy, n_batches, tokens, padded,
      |  CAST(padded - tokens AS BIGINT) AS pad_waste,
      |  CAST((padded - tokens) * 1000000 // padded AS BIGINT) AS waste_ppm
      |FROM u ORDER BY strategy""".stripMargin

  // ---- differentially-private corpus-statistics release -------------------
  /** Noisy per-(source, lang) doc counts under the GEOMETRIC mechanism at
    * ε = ln2, 2·ln2, 3·ln2 ([[graft.operators.Privacy]] — exact-integer
    * inverse CDF, so the draw is bit-identical in DuckDB and the whole
    * frame hash-gates). One corpus scan, a ≤|sources×langs|-row group-by,
    * then three constant-width noise projections unioned — control-plane
    * sized after the scan.
    */
  def qDpCount(s: SparkSession, dir: String): DataFrame = {
    val base = table(s, dir, "documents")
      .groupBy("source", "lang").agg(count(lit(1)).as("n_true"))
    graft.operators.Privacy.noisyCounts(base, Seq("source", "lang"), "n_true", Seq(1, 2, 3))
      .orderBy("source", "lang", "eps_ln2")
  }

  val qDpCountSql: String =
    s"""WITH g AS (
       |  SELECT source, lang, CAST(count(*) AS BIGINT) AS n_true
       |  FROM documents GROUP BY 1, 2),
       |${graft.operators.Privacy.oracleNoiseCtes(Seq("source", "lang"), "n_true", Seq(1, 2, 3), "dp")}
       |SELECT source, lang, eps_ln2, n_true, CAST(noise AS BIGINT) AS noise,
       |  CAST(greatest(0, n_true + noise) AS BIGINT) AS n_noisy
       |FROM n ORDER BY source, lang, eps_ln2""".stripMargin

  // ---- differentially-private histogram with contribution bounding --------
  /** The user-level DP shape [[qDpCount]]'s row-level release lacks: a
    * histogram of events by type where each USER contributes at most
    * C = 3 events (their 3 earliest by (ts, event_id) — the standard
    * contribution-bounding clamp that caps the L1 sensitivity of the
    * whole histogram at C, so the per-count geometric noise at ε = j·ln2
    * yields user-level ε = C·j·ln2). One per-user window pass (the same
    * user-partitioned shuffle every events query rides), a
    * ≤\|event types\|-row group-by, then the shared noise projection.
    */
  def qDpHistogram(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val raw = table(s, dir, "events")
    val byUser = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
    val base = raw
      .select(col("user_id"), col("event_id"),
        graft.GraftSession.eventTsMs(raw).as("ts_ms"), col("event_type"))
      .withColumn("rn", row_number().over(byUser))
      .filter(col("rn") <= 3)
      .groupBy("event_type").agg(count(lit(1)).as("n_clamped"))
    graft.operators.Privacy.noisyCounts(base, Seq("event_type"), "n_clamped",
        Seq(1, 2, 3), salt = "dph")
      .orderBy("event_type", "eps_ln2")
  }

  val qDpHistogramSql: String =
    s"""WITH c AS (
       |  SELECT event_type,
       |    row_number() OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS rn
       |  FROM events),
       |g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_clamped
       |      FROM c WHERE rn <= 3 GROUP BY 1),
       |${graft.operators.Privacy.oracleNoiseCtes(Seq("event_type"), "n_clamped", Seq(1, 2, 3), "dph")}
       |SELECT event_type, eps_ln2, n_clamped, CAST(noise AS BIGINT) AS noise,
       |  CAST(greatest(0, n_clamped + noise) AS BIGINT) AS n_noisy
       |FROM n ORDER BY event_type, eps_ln2""".stripMargin

  // ---- DP vocabulary release (stability-based top-k) -----------------------
  /** Stability-based private VOCABULARY release (the Korolova et al.,
    * WWW 2009 search-log shape): which tokens may be published from a
    * private corpus? Each document contributes its first C = 10 distinct
    * tokens (contribution bounding — per-doc sensitivity C like
    * [[qDpHistogram]]'s clamp), counts get the same exact-integer
    * geometric noise as the DP family, and a token is RELEASED only if
    * its noisy doc-count clears T = 20 — rare tokens (names, ids, the
    * PII-shaped tail) stay unpublished even before noise, and the
    * threshold turns the noise into a (ε, δ) set-release guarantee.
    * Emits released rows only, per ε ∈ {ln2, 2ln2, 3ln2}.
    *
    * Scale shape: one token pass → per-(doc, token) first-position
    * aggregate → per-doc ≤C window (doc-partitioned) → vocabulary-grain
    * groupBy → the shared noise projection; the released frame is
    * vocabulary-sized, never corpus-sized.
    */
  def qDpTopk(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val C = 10; val T = 20L
    val byDoc = Window.partitionBy("doc_id").orderBy("fp", "w")
    val base = table(s, dir, "documents")
      .select(col("doc_id"), posexplode(TF.tokens(col("text"))).as(Seq("word_idx", "w")))
      .filter(length(col("w")) > 0)
      .groupBy("doc_id", "w").agg(min("word_idx").as("fp"))
      .withColumn("rn", row_number().over(byDoc))
      .filter(col("rn") <= C)
      .groupBy("w").agg(count(lit(1)).as("n_true"))
    graft.operators.Privacy.noisyCounts(base, Seq("w"), "n_true", Seq(1, 2, 3),
        salt = "dpt")
      .filter(col("n_noisy") >= T)
      .orderBy("w", "eps_ln2")
  }

  val qDpTopkSql: String =
    s"""WITH fp AS (
       |  SELECT doc_id, wl[g.i] AS w, CAST(min(g.i - 1) AS INT) AS fp
       |  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS wl FROM documents),
       |       LATERAL unnest(generate_series(1, CAST(len(wl) AS BIGINT))) AS g(i)
       |  WHERE len(wl[g.i]) > 0
       |  GROUP BY doc_id, wl[g.i]),
       |clamped AS (
       |  SELECT doc_id, w,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY fp, w) AS rn
       |  FROM fp),
       |g AS (SELECT w, CAST(count(*) AS BIGINT) AS n_true
       |      FROM clamped WHERE rn <= 10 GROUP BY 1),
       |${graft.operators.Privacy.oracleNoiseCtes(Seq("w"), "n_true", Seq(1, 2, 3), "dpt")}
       |SELECT w, eps_ln2, n_true, CAST(noise AS BIGINT) AS noise,
       |  CAST(greatest(0, n_true + noise) AS BIGINT) AS n_noisy
       |FROM n
       |WHERE greatest(0, n_true + noise) >= 20
       |ORDER BY w, eps_ln2""".stripMargin

  // ---- URL canonicalization dedup -----------------------------------------
  /** Crawl-grain URL dedup: canonicalize messy absolute URLs
    * ([[graft.functions.Urls.canonicalize]] — scheme/host case, `www.`,
    * default ports, trailing slashes, fragments, tracking params, query
    * param order) and collapse to one record per canonical URL. The messy
    * URLs are derived DETERMINISTICALLY from (doc_id, source, lang) so the
    * oracle rebuilds byte-identical inputs — every canonicalization rule
    * fires on some subset (case via doc_id%2, www via %3, port via %5,
    * trailing slash via %4, fragment via %6, tracking/param-order via %3)
    * and the cross-variant collapse is visible in n_raw > n_variants ≥ 1.
    * Pure codegen'd Column exprs: the pass is one projection + one groupBy
    * at 100 TB, no UDF in the hot path.
    */
  def qUrlCanon(s: SparkSession, dir: String): DataFrame = {
    val mod7 = (col("doc_id") % 7).cast("string")
    val raw = concat(
      when(col("doc_id") % 2 === 0, lit("HTTP://")).otherwise(lit("http://")),
      when(col("doc_id") % 3 === 0, lit("WWW.")).otherwise(lit("")),
      col("source"), lit(".example.com"),
      when(col("doc_id") % 5 === 0, lit(":80")).otherwise(lit("")),
      lit("/"), col("lang"), lit("/doc/"), mod7,
      when(col("doc_id") % 4 === 0, lit("/")).otherwise(lit("")),
      when(col("doc_id") % 3 === 1,
          concat(lit("?utm_source=feed&b="), mod7, lit("&a=1")))
        .when(col("doc_id") % 3 === 2, concat(lit("?a=1&b="), mod7))
        .otherwise(lit("")),
      when(col("doc_id") % 6 === 0, lit("#frag")).otherwise(lit("")))
    table(s, dir, "documents")
      .select(col("doc_id"), raw.as("url"))
      .select(col("doc_id"), col("url"),
        graft.functions.Urls.canonicalize(col("url")).as("canonical_url"))
      .groupBy("canonical_url")
      .agg(count(lit(1)).as("n_raw"),
        countDistinct(col("url")).as("n_variants"),
        min(col("doc_id")).as("min_doc"))
      .orderBy("canonical_url")
  }

  val qUrlCanonSql: String =
    """WITH raw AS (
      |  SELECT doc_id,
      |    (CASE WHEN doc_id % 2 = 0 THEN 'HTTP://' ELSE 'http://' END) ||
      |    (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END) ||
      |    source || '.example.com' ||
      |    (CASE WHEN doc_id % 5 = 0 THEN ':80' ELSE '' END) ||
      |    '/' || lang || '/doc/' || CAST(doc_id % 7 AS VARCHAR) ||
      |    (CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END) ||
      |    (CASE WHEN doc_id % 3 = 1 THEN '?utm_source=feed&b=' || CAST(doc_id % 7 AS VARCHAR) || '&a=1'
      |          WHEN doc_id % 3 = 2 THEN '?a=1&b=' || CAST(doc_id % 7 AS VARCHAR)
      |          ELSE '' END) ||
      |    (CASE WHEN doc_id % 6 = 0 THEN '#frag' ELSE '' END) AS url
      |  FROM documents),
      |s1 AS (
      |  SELECT doc_id, url,
      |    lower(regexp_extract(regexp_replace(url, '#.*$', ''), '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
      |    regexp_replace(regexp_replace(url, '#.*$', ''), '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest
      |  FROM raw),
      |s2 AS (
      |  SELECT doc_id, url, scheme,
      |    regexp_extract(rest, '^([^/?]*)', 1) AS hostport,
      |    regexp_replace(rest, '^[^/?]*', '') AS pathq
      |  FROM s1),
      |s3 AS (
      |  SELECT doc_id, url, scheme,
      |    regexp_replace(lower(regexp_replace(hostport, ':[0-9]+$', '')), '^www\.', '') AS host,
      |    regexp_extract(hostport, ':([0-9]+)$', 1) AS port,
      |    regexp_replace(regexp_extract(pathq, '^([^?]*)', 1), '/+$', '') AS path0,
      |    list_sort(list_filter(string_split(regexp_extract(pathq, '\?(.*)$', 1), '&'),
      |      p -> p <> '' AND NOT regexp_matches(p, '^(utm_[a-z]+|fbclid|gclid)=', 'i'))) AS params
      |  FROM s2),
      |canon AS (
      |  SELECT doc_id, url,
      |    scheme || '://' || host ||
      |    (CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
      |               OR (scheme = 'https' AND port = '443') THEN ''
      |          ELSE ':' || port END) ||
      |    (CASE WHEN path0 = '' THEN '/' ELSE path0 END) ||
      |    (CASE WHEN len(params) > 0 THEN '?' || array_to_string(params, '&') ELSE '' END)
      |      AS canonical_url
      |  FROM s3)
      |SELECT canonical_url, CAST(count(*) AS BIGINT) AS n_raw,
      |  CAST(count(DISTINCT url) AS BIGINT) AS n_variants,
      |  CAST(min(doc_id) AS BIGINT) AS min_doc
      |FROM canon GROUP BY 1
      |ORDER BY 1""".stripMargin
}
