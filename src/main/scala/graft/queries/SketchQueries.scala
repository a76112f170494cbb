package graft.queries

import graft.GraftSession.table
import graft.functions.{TextFunctions => TF}
import graft.operators.{Caches, Fluency, Sketch}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Sketch-based corpus statistics and corpus-relative scoring (SURVEY.md §2
  * beyond-inventory rows): HyperLogLog distinct counting, Count-Min heavy
  * hitters, and bigram fluency. All three are oracle-exact — the sketches
  * hash with the cross-engine md5 family, so DuckDB replays the full
  * register/counter state, and the fluency score is integer-exact by
  * construction.
  */
object SketchQueries {

  private val tokensSql = """string_split_regex(lower(trim(text)), '\s+')"""

  // ---- HyperLogLog distinct sketch ---------------------------------------
  /** Full HLL register table (m = 4096) over document texts — the complete
    * sketch state sits under the hash gate; estimation accuracy is
    * spec-measured in SketchSpec.
    */
  def qHllDistinct(s: SparkSession, dir: String): DataFrame =
    Sketch.hllRegisters(table(s, dir, "documents"), "text")
      .orderBy("bucket")

  val qHllDistinctSql: String =
    """WITH h AS (
      |  SELECT CAST(md5_number_lower(text) % 4096 AS INT) AS bucket,
      |         md5_number_lower('r:' || text) % 281474976710656 AS w
      |  FROM documents),
      |r AS (
      |  SELECT bucket,
      |    CAST(CASE WHEN w = 0 THEN 49 ELSE 49 - length(bin(w)) END AS INT) AS rho
      |  FROM h)
      |SELECT bucket, CAST(max(rho) AS INT) AS rho, CAST(12 AS INT) AS p
      |FROM r GROUP BY bucket
      |ORDER BY bucket""".stripMargin

  // ---- Count-Min heavy hitters -------------------------------------------
  /** Top-20 tokens by Count-Min estimated count (d=4 rows × w=1024 slots).
    * est ≥ true always; for heavy tokens est == true whp — both properties
    * spec-pinned. Ties at the cut break by token, so the result is a total
    * order on both engines.
    */
  def qHeavyHitters(s: SparkSession, dir: String): DataFrame = {
    val toks = table(s, dir, "documents")
      .select(explode(TF.tokens(col("text"))).as("token"))
    Sketch.cmsEstimates(toks, "token")
      .withColumnRenamed("k", "token")
      .orderBy(desc("est"), asc("token"))
      .limit(20)
  }

  val qHeavyHittersSql: String =
    s"""WITH toks AS (
       |  SELECT unnest($tokensSql) AS k FROM documents),
       |cms AS (
       |  SELECT i, CAST(md5_number_lower(CAST(i AS VARCHAR) || ':' || k) % 1024 AS INT) AS slot,
       |         CAST(count(*) AS BIGINT) AS cnt
       |  FROM toks, LATERAL unnest(generate_series(0, 3)) AS g(i)
       |  GROUP BY 1, 2),
       |keys AS (SELECT DISTINCT k FROM toks),
       |probes AS (
       |  SELECT k, i, CAST(md5_number_lower(CAST(i AS VARCHAR) || ':' || k) % 1024 AS INT) AS slot
       |  FROM keys, LATERAL unnest(generate_series(0, 3)) AS g(i))
       |SELECT k AS token, CAST(min(cnt) AS BIGINT) AS est
       |FROM probes JOIN cms USING (i, slot)
       |GROUP BY k
       |ORDER BY est DESC, token
       |LIMIT 20""".stripMargin

  // ---- CMS join-size estimation (AMS inner product) ------------------------
  /** Join-cardinality estimation by Count-Min inner product — the
    * AMS-sketch trick a planner uses to price a join WITHOUT running it:
    * |A ⋈ B| = Σ_k c_A(k)·c_B(k), and the per-depth inner product
    * Σ_slot CMS_A[i]·CMS_B[i] over-estimates exactly that (collisions
    * only ADD), so the MIN over the d depths is a one-sided estimate:
    * est ≥ exact always, tight when w ≫ distinct keys. Two join shapes:
    * the orders⋈lineitem equi join, and the events SELF join on user —
    * whose size is the second frequency moment Σc², the number a skew
    * check needs BEFORE attempting a per-user join. The audit column
    * computes the exact size from per-key GROUP COUNTS (never the
    * materialized join).
    *
    * Scale shape: each sketch is a d-fold explode into ≤ d·w counters
    * (map-side combined); inner products join two ≤ d·w-row frames;
    * exact audit is two key-grain aggregates joined at key grain.
    */
  def qJoinSizeEstimate(s: SparkSession, dir: String): DataFrame = {
    val d = 4; val w = 8192 // w >> distinct keys keeps the equi-join estimate tight
    def cms(df: DataFrame, key: String): DataFrame =
      Sketch.cmsTable(df.select(col(key)), key, d, w)
    def inner(a: DataFrame, b: DataFrame): DataFrame =
      a.select(col("i"), col("slot"), col("cnt").as("ca"))
        .join(b.select(col("i"), col("slot"), col("cnt").as("cb")), Seq("i", "slot"))
        .groupBy("i").agg(sum(col("ca") * col("cb")).as("ip"))
        .agg(min("ip").as("est"))
    def exact(a: DataFrame, keyA: String, b: DataFrame, keyB: String): DataFrame =
      a.groupBy(col(keyA).as("k")).agg(count(lit(1)).as("ca"))
        .join(b.groupBy(col(keyB).as("k")).agg(count(lit(1)).as("cb")), Seq("k"))
        .agg(coalesce(sum(col("ca") * col("cb")), lit(0L)).as("exact"))
    def report(name: String, est: DataFrame, ex: DataFrame): DataFrame =
      est.crossJoin(ex).select(lit(name).as("join_name"), col("est"), col("exact"),
        expr("(est - exact) * 1000000 div exact").as("err_ppm"))
    val ords = table(s, dir, "orders")
    val li = table(s, dir, "lineitem")
    val ev = table(s, dir, "events")
    // persisted: the self inner product reads the events sketch on BOTH
    // join sides — without the barrier the d×|events| hash pass runs twice
    // (r12; the sketch is ≤ d·w rows, control-plane sized)
    val evCms = Caches.persist(cms(ev, "user_id"))
    report("orders_lineitem",
        inner(cms(ords, "o_orderkey"), cms(li, "l_orderkey")),
        exact(ords, "o_orderkey", li, "l_orderkey"))
      .unionByName(report("events_self",
        inner(evCms, evCms), exact(ev, "user_id", ev, "user_id")))
      .orderBy("join_name")
  }

  val qJoinSizeEstimateSql: String = {
    def cms(from: String, key: String) =
      s"""SELECT i, CAST(md5_number_lower(CAST(i AS VARCHAR) || ':' || $key) % 8192 AS INT) AS slot,
         |       CAST(count(*) AS BIGINT) AS cnt
         |  FROM $from, LATERAL unnest(generate_series(0, 3)) AS g(i)
         |  GROUP BY 1, 2""".stripMargin
    def pair(name: String, cmsA: String, cmsB: String, exA: String, kA: String,
             exB: String, kB: String) =
      s"""SELECT '$name' AS join_name,
         |  (SELECT CAST(min(ip) AS BIGINT) FROM (
         |     SELECT a.i, CAST(sum(a.cnt * b.cnt) AS BIGINT) AS ip
         |     FROM $cmsA a JOIN $cmsB b USING (i, slot) GROUP BY a.i)) AS est,
         |  (SELECT CAST(coalesce(sum(ca.n * cb.n), 0) AS BIGINT) FROM
         |     (SELECT $kA AS k, CAST(count(*) AS BIGINT) AS n FROM $exA GROUP BY 1) ca
         |     JOIN
         |     (SELECT $kB AS k, CAST(count(*) AS BIGINT) AS n FROM $exB GROUP BY 1) cb
         |     USING (k)) AS exact""".stripMargin
    s"""WITH cms_o AS (${cms("orders", "o_orderkey")}),
       |cms_l AS (${cms("lineitem", "l_orderkey")}),
       |cms_e AS (${cms("events", "user_id")}),
       |base AS (
       |  ${pair("orders_lineitem", "cms_o", "cms_l", "orders", "o_orderkey", "lineitem", "l_orderkey")}
       |  UNION ALL
       |  ${pair("events_self", "cms_e", "cms_e", "events", "user_id", "events", "user_id")})
       |SELECT join_name, est, exact, (est - exact) * 1000000 // exact AS err_ppm
       |FROM base ORDER BY join_name""".stripMargin
  }

  // ---- Bloom prefilter ----------------------------------------------------
  /** The streaming-gate Bloom prefilter under the hash gate: insert the
    * content fingerprints of the already-ingested corpus slice (doc_id ≡ 0
    * mod 5), probe EVERY document's fingerprint. Inserted keys are all
    * member=true (no false negatives — spec-pinned); the rest are mostly
    * false with a deterministic false-positive set, because positions come
    * from the cross-engine md5 family — so the oracle replays the ENTIRE
    * bit table and every verdict, exactly like the HLL/CMS state.
    *
    * Fingerprints (md5 hex) rather than raw texts probe the filter: that is
    * what a production gate hashes (32-byte keys, not document bodies), and
    * both engines compute identical hex.
    */
  def qBloomPrefilter(s: SparkSession, dir: String): DataFrame = {
    val docs = table(s, dir, "documents")
    val inserted = docs.filter(col("doc_id") % 5 === 0).select(md5(col("text")).as("fp"))
    val bits = Sketch.bloomBits(inserted, "fp", k = 4, m = 16384)
    Sketch.bloomMightContain(docs.select(md5(col("text")).as("fp")), bits, "fp")
      .orderBy("probe_key")
  }

  val qBloomPrefilterSql: String =
    """WITH ins AS (
      |  SELECT DISTINCT md5(text) AS kk FROM documents WHERE doc_id % 5 = 0),
      |bits AS (
      |  SELECT DISTINCT CAST(md5_number_lower('b' || CAST(i AS VARCHAR) || ':' || kk) % 16384 AS INT) AS pos
      |  FROM ins, LATERAL unnest(generate_series(0, 3)) AS g(i)),
      |probes AS (SELECT DISTINCT md5(text) AS probe_key FROM documents),
      |pp AS (
      |  SELECT probe_key,
      |         CAST(md5_number_lower('b' || CAST(i AS VARCHAR) || ':' || probe_key) % 16384 AS INT) AS pos
      |  FROM probes, LATERAL unnest(generate_series(0, 3)) AS g(i))
      |SELECT probe_key,
      |  CAST(sum(CASE WHEN b.pos IS NOT NULL THEN 1 ELSE 0 END) = 4 AS BOOLEAN) AS member
      |FROM pp LEFT JOIN bits b ON pp.pos = b.pos
      |GROUP BY probe_key
      |ORDER BY probe_key""".stripMargin

  // ---- corpus-relative bigram fluency ------------------------------------
  /** Per-document bigram fluency (integer-exact millionth-quantized mean of
    * corpus-conditional bigram probabilities). Docs with < 2 tokens have no
    * bigrams and are excluded on both engines.
    */
  def qLmScore(s: SparkSession, dir: String): DataFrame =
    Fluency.bigramFluency(table(s, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id")

  val qLmScoreSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, $tokensSql AS w FROM documents),
       |b AS (
       |  SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
       |  FROM t, LATERAL unnest(generate_series(1, len(w) - 1)) AS g(i)
       |  WHERE len(w) >= 2),
       |c2 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2 FROM b GROUP BY 1, 2),
       |c1 AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM b GROUP BY 1),
       |s AS (
       |  SELECT b.doc_id, (1000000 * c2.c2) // c1.c1 AS p_micro
       |  FROM b JOIN c2 USING (w1, w2) JOIN c1 USING (w1))
       |SELECT doc_id,
       |  CAST(count(*) AS BIGINT) AS n_bigrams,
       |  CAST(sum(p_micro) AS BIGINT) AS fluency_micro_sum,
       |  CAST(CAST(sum(p_micro) AS DOUBLE) / CAST(count(*) * 1000000 AS DOUBLE) AS DOUBLE) AS fluency
       |FROM s GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  // ---- HLL set algebra: intersection by inclusion-exclusion --------------
  /** Distinct-set OVERLAP from sketches alone — the "how many part keys
    * appear in BOTH corpus slices" question answered without ever
    * shuffling a distinct set: est(A∩B) = est(A) + est(B) − est(A∪B),
    * where the union sketch is [[Sketch.hllMerge]]'s per-bucket register
    * max (associative, so slices merge in any order — the per-shard
    * sketch posture at 100 TB). Slices are the scale-free key residues
    * pk%5≤2 and pk%5≥2: a genuine 20%-of-keyspace overlap at every SF.
    *
    * p = 8 (m = 256) keeps every estimate ≥ ~4·m, far above the 2.5·m
    * linear-counting cutover, so all three estimates take the raw
    * harmonic-mean branch — whose only floating ops are IEEE-exact
    * multiplies and one division over an exact-BIGINT harmonic sum. The
    * oracle replays registers, merge, both estimator branches, and the
    * inclusion-exclusion arithmetic — all four doubles hash bit-exact.
    */
  def qHllIntersect(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = table(s, dir, "lineitem")
    val a = li.filter(col("l_partkey") % 5 <= 2).select(col("l_partkey").as("pk"))
    val b = li.filter(col("l_partkey") % 5 >= 2).select(col("l_partkey").as("pk"))
    // persisted (r13, guide §5 reuse): each register table is read TWICE —
    // by its own estimate collect and by the merged-union estimate — and
    // the expensive part of a 256-row register frame is the full lineitem
    // md5 pass behind it, which unpersisted ran 2× per slice (4 scans/run)
    val ra = Caches.persist(Sketch.hllRegisters(a, "pk", p = 8))
    val rb = Caches.persist(Sketch.hllRegisters(b, "pk", p = 8))
    val ru = Sketch.hllMerge(ra, rb)
    val (ea, eb, eu) =
      (Sketch.hllEstimate(ra, 8), Sketch.hllEstimate(rb, 8), Sketch.hllEstimate(ru, 8))
    Seq((ea, eb, eu, ea + eb - eu))
      .toDF("est_a", "est_b", "est_union", "est_intersect")
  }

  val qHllIntersectSql: String = {
    // register CTE per slice: bucket/rho draws from the md5 family,
    // exactly hllRegisters' projection at p = 8
    def regs(name: String, pred: String) =
      s"""h_$name AS (
         |  SELECT CAST(md5_number_lower(CAST(l_partkey AS VARCHAR)) % 256 AS INT) AS bucket,
         |         md5_number_lower('r:' || CAST(l_partkey AS VARCHAR)) % 281474976710656 AS w
         |  FROM lineitem WHERE $pred),
         |r_$name AS (
         |  SELECT bucket, max(CAST(CASE WHEN w = 0 THEN 49
         |                              ELSE 49 - length(bin(w)) END AS INT)) AS rho
         |  FROM h_$name GROUP BY bucket)""".stripMargin
    // the estimator: exact-BIGINT harmonic sum, then hllEstimate's double
    // arithmetic in the same operation order, both branches replayed
    def est(name: String) =
      s"""s_$name AS (
         |  SELECT CAST(sum(CAST(1 AS BIGINT) << (49 - rho)) AS BIGINT)
         |           + (256 - count(*)) * (CAST(1 AS BIGINT) << 49) AS s,
         |         256 - count(*) AS v
         |  FROM r_$name),
         |e_$name AS (
         |  SELECT CASE WHEN ((0.7213 / (1.0 + 1.079 / 256.0)) * 256 * 256)
         |                   * 562949953421312.0 / CAST(s AS DOUBLE) <= 2.5 * 256
         |              AND v > 0
         |              THEN 256 * ln(256.0 / v)
         |              ELSE ((0.7213 / (1.0 + 1.079 / 256.0)) * 256 * 256)
         |                   * 562949953421312.0 / CAST(s AS DOUBLE) END AS e
         |  FROM s_$name)""".stripMargin
    s"""WITH ${regs("a", "l_partkey % 5 <= 2")},
       |${regs("b", "l_partkey % 5 >= 2")},
       |r_u AS (
       |  SELECT bucket, max(rho) AS rho
       |  FROM (SELECT * FROM r_a UNION ALL SELECT * FROM r_b) GROUP BY bucket),
       |${est("a")},
       |${est("b")},
       |${est("u")}
       |SELECT e_a.e AS est_a, e_b.e AS est_b, e_u.e AS est_union,
       |       e_a.e + e_b.e - e_u.e AS est_intersect
       |FROM e_a, e_b, e_u""".stripMargin
  }
}
