package graft.operators

import graft.plans.NativeHash
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bounded-memory sketches for corpus-scale statistics: HyperLogLog distinct
  * counting and Count-Min frequency estimation.
  *
  * Both sketches hash with the library's cross-engine md5 family
  * ([[graft.functions.Sampling.md5Lower]] == DuckDB `md5_number_lower`), so
  * the ENTIRE sketch state — every register, every counter — is a
  * deterministic function of the data, bit-identical on any engine,
  * partitioning, or cluster size, and therefore sits under the DuckDB hash
  * gate like any exact query. Approximation error lives only in the final
  * ESTIMATE, whose accuracy is spec-measured; the sketch itself is exact.
  *
  * Why sketches at 100 TB: exact `COUNT(DISTINCT url)` over 10¹² rows is a
  * full shuffle of every distinct value; the HLL register table is m
  * integers (4 KB at p=12) produced by one map-side-combined aggregation —
  * values never shuffle, only (bucket, rho) partials do. Both sketches merge
  * associatively (register max / counter sum), so per-shard or per-day
  * sketches fold into the corpus sketch without re-reading data — the shape
  * incremental corpus accounting actually runs.
  */
object Sketch {

  /** rho is computed over a 48-bit window (hash mod 2^48): rho ∈ [1, 49],
    * 49 = "window all zeros". 48 bits keeps every scaled term 2^(49-rho)
    * and their 4096-bucket sum inside exact BIGINT range on both engines.
    */
  private val WindowBits = 48
  val MaxRho: Int = WindowBits + 1

  /** HyperLogLog register table for `key`: one (bucket, rho, p) row per
    * NON-EMPTY bucket, m = 2^p buckets. The precision travels IN the
    * schema (a constant `p` column) so a register table is self-describing:
    * [[hllMerge]] of sketches built at different precisions can't silently
    * mix registers, and [[hllEstimate]] fails fast on a table whose p
    * doesn't match the caller's.
    *
    * bucket = md5_number_lower(key) mod m; the rho window is an independent
    * md5 draw ("r:" + key) so bucket and rho bits never correlate — and both
    * are replayable in pure SQL (`bin()` string length gives the leading-
    * zero count on either engine, no clz builtin needed).
    *
    * Plan shape: project → partial max → final max over ≤ m groups. One
    * narrow shuffle of at most m rows per task; output size is m rows
    * regardless of corpus size.
    */
  def hllRegisters(df: DataFrame, key: String, p: Int = 12): DataFrame =
    hllRegistersBy(df, Nil, key, p)

  /** The (bucket, rho) projection behind [[hllRegisters]] — shared with the
    * streaming sketch ([[graft.streaming.StreamStats]]), so batch and
    * per-window streaming registers are the same deterministic function of
    * the data by construction.
    */
  def hllProjection(key: org.apache.spark.sql.Column, p: Int = 12):
      (org.apache.spark.sql.Column, org.apache.spark.sql.Column) = {
    require(p >= 4 && p <= 16, s"p must be in [4,16], got $p")
    val m = 1 << p
    val k = key.cast("string")
    // native graft_md5_mod == the declarative md5Lower/pmod route (fuzz-
    // pinned in SketchSpec); the memoized digest makes repeated keys ~free
    val w = NativeHash.md5Mod(concat(lit("r:"), k), 1L << WindowBits)
    val rho = when(w === 0L, MaxRho).otherwise(lit(MaxRho) - length(bin(w))).cast("int")
    (NativeHash.md5Mod(k, m).cast("int"), rho)
  }

  /** Per-GROUP register tables in one pass: (groupCols…, bucket, rho, p) —
    * the sketch-MV building block ([[graft.queries.AnalyticsQueries.qMvHllRefresh]]):
    * a distinct-count-per-day MV is |days|·m bounded rows, maintained by
    * [[hllMergeBy]] without ever rescanning history.
    */
  def hllRegistersBy(df: DataFrame, groupCols: Seq[String], key: String,
                     p: Int = 12): DataFrame = {
    val (bucket, rho) = hllProjection(col(key), p)
    df.select(groupCols.map(col) :+ bucket.as("bucket") :+ rho.as("rho"): _*)
      .groupBy((groupCols :+ "bucket").map(col): _*)
      .agg(max("rho").as("rho"))
      .withColumn("p", lit(p))
  }

  /** Grouped [[hllMerge]]: per (group, bucket, p) max — associative and
    * idempotent, so delta batches fold in any order.
    */
  def hllMergeBy(a: DataFrame, b: DataFrame, groupCols: Seq[String]): DataFrame =
    a.unionByName(b)
      .groupBy((groupCols ++ Seq("bucket", "p")).map(col): _*)
      .agg(max("rho").as("rho"))
      .select((groupCols ++ Seq("bucket", "rho", "p")).map(col): _*)

  /** Merge register tables (per-shard sketches → corpus sketch): per-bucket
    * max. Associative and idempotent, so shards combine in any order.
    *
    * Grouping includes the `p` column: registers from sketches built at
    * different precisions never combine into one bucket row (their
    * estimates would be meaningless), and [[hllEstimate]] rejects the
    * mixed-precision table outright.
    */
  def hllMerge(a: DataFrame, b: DataFrame): DataFrame = hllMergeBy(a, b, Nil)

  /** Distinct-count estimate from a register table: the standard HLL
    * harmonic-mean estimator with linear-counting small-range correction.
    *
    * The registers are the oracle-gated artifact; this fold collects ≤ m
    * rows (bounded by construction, like the IVF quantizer sample) and sums
    * the dyadic terms 2^(MaxRho−rho) as exact BigInt — at p ≥ 14 the
    * empty-bucket term (m − rows)·2^49 exceeds Long range, so a Long
    * accumulator would silently wrap; BigInt keeps every admitted p ∈
    * [4, 16] exact and order-invariant. The only floating ops are the
    * final constant multiply and one division, so the estimate itself is
    * order- and partition-invariant. Relative error ≈ 1.04/√m (~1.6% at
    * p=12), spec-measured in SketchSpec.
    *
    * Fails fast when the table's `p` column (if present) disagrees with
    * the caller's p — the guard that catches a mismatched [[hllMerge]].
    */
  def hllEstimate(registers: DataFrame, p: Int = 12): Double = {
    val m = 1 << p
    val hasP = registers.columns.contains("p")
    val cols = if (hasP) Seq(col("bucket"), col("rho"), col("p"))
               else Seq(col("bucket"), col("rho"))
    val rows = registers.select(cols: _*).collect()
    require(rows.length <= m, s"register table has ${rows.length} rows for m=$m")
    if (hasP) {
      val ps = rows.map(_.getInt(2)).distinct
      require(ps.isEmpty || (ps.length == 1 && ps.head == p),
        s"register table precision ${ps.mkString(",")} != requested p=$p " +
          "(mixed values mean sketches of different precisions were merged)")
    }
    var sScaled = BigInt(0)
    rows.foreach { r => sScaled += BigInt(1) << (MaxRho - r.getInt(1)) }
    sScaled += BigInt(m - rows.length) << MaxRho // empty buckets: rho = 0
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    val eRaw = alpha * m * m * java.lang.Math.scalb(1.0, MaxRho) / sScaled.toDouble
    val v = m - rows.length
    if (eRaw <= 2.5 * m && v > 0) m * math.log(m.toDouble / v) else eRaw
  }

  /** Count-Min sketch counter table for `key`: (i, slot, cnt) over d hash
    * rows × w slots. hash_i(key) = md5_number_lower(i + ":" + key) mod w.
    *
    * One map-side-combined count into ≤ d·w groups — the d-fold explode
    * multiplies only the slim (i, slot) projection, never carried columns,
    * and the result is d·w longs no matter the corpus size.
    */
  def cmsTable(df: DataFrame, key: String, d: Int = 4, w: Int = 1024): DataFrame =
    cmsProject(df, key, d, w)
      .groupBy("i", "slot").agg(count(lit(1)).as("cnt"))

  /** The slim (i, slot) projection behind [[cmsTable]] — d rows per input
    * row, carrying only `carry` columns besides the counter coordinates.
    * Shared with the streaming sketch ([[graft.streaming.StreamStats]]),
    * so batch and per-window streaming counters are the same deterministic
    * function of the data by construction.
    */
  def cmsProject(df: DataFrame, key: String, d: Int, w: Int,
                 carry: Seq[String] = Nil): DataFrame = {
    require(d >= 1 && w >= 2, s"need d>=1, w>=2; got d=$d w=$w")
    val keep = carry.map(col)
    // layout-capped scans rebalance up to the session parallelism (r13):
    // d md5s per row otherwise run on however few tasks the file layout
    // yields; identity at real scan widths (GraftSession.rebalanceScan)
    graft.GraftSession.rebalanceScan(df)
      .select(keep :+ col(key).cast("string").as("k"): _*)
      .select(keep ++ Seq(explode(sequence(lit(0), lit(d - 1))).as("i"), col("k")): _*)
      .select(keep ++ Seq(col("i"), cmsSlot(w)): _*)
  }

  /** Counter slot of key `k` in row `i`: md5_number_lower(i ":" k) mod w. */
  private def cmsSlot(w: Int): org.apache.spark.sql.Column =
    NativeHash.md5Mod(concat(col("i").cast("string"), lit(":"), col("k")), w)
      .cast("int").as("slot")

  /** Bloom-filter bit table for `key`: one (pos, k, m) row per SET bit,
    * k hash functions over an m-bit space. pos_i(key) =
    * md5_number_lower("b" + i + ":" + key) mod m — the same cross-engine md5
    * family as the HLL/CMS sketches, so the ENTIRE bit state is a
    * deterministic function of the data and replays in pure SQL.
    *
    * k and m travel in the schema (constant columns) so a bit table is
    * self-describing: [[bloomMerge]] keeps bits from differently-parametered
    * filters apart (they never collapse into one row), and
    * [[bloomMightContain]] reads its probe parameters from the table it
    * probes and REFUSES a table carrying more than one (k, m) pair — a
    * mixed merge is detected at probe time, before any wrong answer.
    *
    * NULL keys are dropped: a NULL fingerprint has no hash positions (the
    * md5 family is null-safe, null→null), so inserting it would add a
    * useless NULL pos row and probing it could only return an arbitrary
    * verdict. [[bloomMightContain]] drops NULL probe keys under the same
    * policy — callers that must route NULL keys handle them before the
    * filter, exactly as they would for the downstream exact index.
    *
    * Plan shape: slim key projection → k-fold explode of (pos) only →
    * distinct with map-side partial — at most min(k·n, m) rows come out
    * regardless of corpus size, and the sparse set-bit representation is
    * exactly the state an incremental corpus gate maintains (new shard →
    * union-distinct, see [[bloomMerge]]).
    *
    * Why a Bloom gate at 100 TB: the exact streaming dedup gate keeps one
    * state row per distinct fingerprint (RocksDB-backed); a Bloom prefilter
    * is m BITS broadcast to every executor — probe rows that miss ANY of
    * their k positions are definite non-members and skip the expensive
    * index probe entirely; only possible-members (true hits + a measured
    * false-positive ratio ≈ fill^k) pay the join.
    */
  def bloomBits(df: DataFrame, key: String, k: Int = 4, m: Int = 65536): DataFrame = {
    require(k >= 1 && m >= 2, s"need k>=1, m>=2; got k=$k m=$m")
    df.select(col(key).cast("string").as("kk"))
      .filter(col("kk").isNotNull)
      .select(explode(sequence(lit(0), lit(k - 1))).as("i"), col("kk"))
      .select(NativeHash.md5Mod(concat(lit("b"), col("i").cast("string"), lit(":"), col("kk")), m)
        .cast("int").as("pos"))
      .distinct()
      .withColumn("k", lit(k)).withColumn("m", lit(m))
  }

  /** Merge bit tables (per-shard filters → corpus filter): set union.
    * Associative and idempotent. Grouping includes (k, m): bits from
    * filters built with different parameters never collapse into one row,
    * and a mixed merge surfaces as >1 (k, m) pair — [[bloomMightContain]]
    * rejects such a table at probe time. (The merge itself stays a lazy
    * transformation: an eager parameter assertion here would force both
    * input lineages on every shard union; the probe's require is the
    * enforcement point.)
    */
  def bloomMerge(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).select("pos", "k", "m").distinct()

  /** Membership probe: one row per DISTINCT probe key, `member` = all k
    * positions of the key are set in `bits`. No false negatives (every inserted key
    * probes true); false-positive ratio ≈ fill^k, spec-measured.
    *
    * The bit table broadcasts while m keeps it broadcast-sized (≤ m rows of
    * one int after the slim projection); a broadcast HINT overrides Spark's
    * own size thresholds, so above [[bloomBroadcastMaxM]] the hint is
    * withheld and the join falls back to the planner's choice (an equi-join
    * shuffle on pos over the sparse set — same plan shape, no rewrite).
    * Probe keys fan out ×k map-side and re-aggregate with map-side combine,
    * so the only shuffle is ≤ |probe| slim rows. NULL probe keys are
    * dropped (see [[bloomBits]]).
    *
    * Reading (k, m) forces one tiny action on `bits`' lineage at call time
    * (the probe join is a separate execution) — callers probing an
    * expensively-derived bit table should `.cache()` it first.
    */
  /** Above this m a bloom bit table is no longer force-broadcast (2²⁷
    * positions ≈ 0.5 GiB of ints before dedup — past executor-broadcast
    * comfort; the guarantee "≤ m rows" stops being a useful bound). */
  val bloomBroadcastMaxM: Int = 1 << 27

  def bloomMightContain(probe: DataFrame, bits: DataFrame, probeKey: String): DataFrame = {
    val params = bits.select("k", "m").distinct().collect()
    // an EMPTY bit table is the legitimate nothing-inserted state (bloomBits
    // of an empty frame yields zero rows): no position is set, so every
    // probe key is a definite non-member
    if (params.isEmpty)
      return probe.select(col(probeKey).cast("string").as("probe_key"))
        .filter(col("probe_key").isNotNull).distinct()
        .withColumn("member", lit(false))
    require(params.length == 1,
      s"bit table carries ${params.length} distinct (k, m) pairs — refusing to probe a mixed merge")
    val (k, m) = (params(0).getInt(0), params(0).getInt(1))
    val slim = bits.select(col("pos"), lit(1).as("__hit"))
    val setBits = if (m <= bloomBroadcastMaxM) broadcast(slim) else slim
    probe.select(col(probeKey).cast("string").as("probe_key"))
      .filter(col("probe_key").isNotNull).distinct()
      .select(col("probe_key"), explode(sequence(lit(0), lit(k - 1))).as("i"))
      .select(col("probe_key"),
        NativeHash.md5Mod(concat(lit("b"), col("i").cast("string"), lit(":"), col("probe_key")), m)
          .cast("int").as("pos"))
      .join(setBits, Seq("pos"), "left")
      .groupBy("probe_key")
      .agg((sum(coalesce(col("__hit"), lit(0))) === k).as("member"))
  }

  /** CMS point estimates for every distinct key in `df`: est = min over the
    * d counters the key hashes to. Guarantees est ≥ true count (collisions
    * only inflate), with overestimate bounded by ~e·N/w per row whp — so for
    * heavy keys est == true with high probability, which is what a
    * frequency gate actually consumes.
    *
    * The d·w counter table broadcasts (KBs by construction); distinct keys
    * shuffle once, slim. Returns (k, est).
    */
  def cmsEstimates(df: DataFrame, key: String, d: Int = 4, w: Int = 1024): DataFrame = {
    val table = cmsTable(df, key, d, w)
    val probes = df.select(col(key).cast("string").as("k")).distinct()
      .select(col("k"), explode(sequence(lit(0), lit(d - 1))).as("i"))
      .select(col("k"), col("i"), cmsSlot(w))
    probes.join(broadcast(table), Seq("i", "slot"))
      .groupBy("k").agg(min("cnt").as("est"))
  }
}
