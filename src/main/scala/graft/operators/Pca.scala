package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Principal-direction projection over an embedding column — the 1-D PCA
  * every curation stack keeps around: project the corpus onto its leading
  * variance axis to spot outlier slices, order semantic duplicates, or
  * seed a split threshold. Classic power iteration (von Mises &
  * Pollaczek-Geiringer 1929), re-expressed so the DATA-PLANE work is two
  * Spark aggregations and the ITERATION is control-plane arithmetic on a
  * dim×dim table.
  *
  * EXACT-INTEGER CONTRACT (the [[KMeans]]/[[Embed]] posture): vectors
  * quantize once to micro-units; the per-dimension mean is the floor of
  * the exact integer mean; the centered second-moment matrix is a pure
  * integer sum — associative, so any partitioning yields the same matrix
  * bit for bit. Power iteration runs in BigInt on the driver with a
  * truncation-toward-zero rescale (`sign(u)·(|u|·SCALE ÷ max|u|)` — sign
  * split so floor-vs-truncate disagreements between engines cannot
  * arise), so the direction, and every projection, is a pure function of
  * the input replayable in SQL. Float PCA is none of this: sum order
  * changes the matrix, and eigensolvers differ across libraries.
  *
  * Scale shape: quantize+center is doc-local; the moment matrix is ONE
  * map-side-combined aggregation whose output is dim² cells (4096 longs at
  * dim 64) regardless of corpus size — the classic outer-product trick; the
  * iteration touches only that table (driver, control plane); projection is
  * a doc-local `zip_with`/`aggregate` fold inside the scan stage. Nothing
  * corpus-sized shuffles or reaches the driver. Moment cells sum as
  * decimal(38,0) (the oracle's HUGEINT): exact to ~10³⁸ — ≳10²⁵ rows at
  * |q| ≤ 2·10⁶ micro-units, far past any corpus — where a Long cell
  * silently wraps at ~10¹⁸.
  */
object Pca {

  private val Scale = 1000000L

  /** (mean, direction): per-dimension floor-mean in micro-units, and the
    * leading direction in `Scale` units after `iters` power rounds —
    * driver-side control plane (dim and dim² longs).
    */
  def principalDirection(vectors: DataFrame, idCol: String, vecCol: String,
                         iters: Int): (Array[Long], Array[Long]) = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    // layout-capped scan rebalance (r13, GraftSession.rebalanceScan —
    // identity at real scan widths): the quantize pass AND the dim²-per-row
    // outer-product explode below otherwise run on however few tasks the
    // file layout yields (1 on the single-row-group test tables)
    val q = Caches.persist(graft.GraftSession.rebalanceScan(vectors)
      .select(col(idCol).as("id"), KMeans.quantize(col(vecCol)).as("qv")))
    val sums = q.select(posexplode(col("qv")).as(Seq("pos", "v")))
      .groupBy("pos").agg(sum("v").as("s"), count(lit(1)).as("n"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    require(sums.nonEmpty, "pca: empty input")
    val dim = sums.length
    val mean = new Array[Long](dim)
    sums.foreach { case (p, s, n) => mean(p) = Math.floorDiv(s, n) }
    val centered = q.select(
      zip_with(col("qv"), typedLit(mean.toSeq), (a, b) => a - b).as("d"))
    // cells sum as decimal(38,0) — matching the oracle's HUGEINT — so the
    // moment matrix stays exact far past the ~1e18 point where a Long sum
    // would silently wrap and the engines diverge without an error; each
    // PRODUCT still fits a long (|q| ≤ 2·10⁶ micro-units ⇒ ≤ 4·10¹²)
    // r13: ONE flat native outer product per row + a single posexplode —
    // the old double posexplode materialized n·dim intermediate rows each
    // CARRYING the full centered array before exploding again
    // (twin-pinned in NativeVecSpec; cell (i, j) is flat position i·dim+j)
    val cells = centered
      .select(posexplode(graft.plans.NativeHash.outerFlatLL(col("d"))).as(Seq("p", "v")))
      .groupBy("p").agg(sum(col("v").cast("decimal(38,0)")).as("c"))
      .collect().map(r => ((r.getInt(0) / dim, r.getInt(0) % dim), BigInt(r.getDecimal(1).toBigInteger))).toMap
    def cov(i: Int, j: Int): BigInt = cells.getOrElse((i, j), BigInt(0))
    var v = Array.fill(dim)(BigInt(Scale))
    for (_ <- 0 until iters) {
      val u = Array.tabulate(dim)(i => (0 until dim).map(j => cov(i, j) * v(j)).sum)
      val mx = u.map(_.abs).max
      require(mx != BigInt(0),
        "pca: zero second-moment matrix (constant corpus) — no principal direction")
      v = u.map(x => (if (x.signum < 0) -BigInt(1) else BigInt(1)) * (x.abs * Scale / mx))
    }
    (mean, v.map(_.toLong))
  }

  /** Projection of every vector onto the leading direction:
    * (idCol, proj_micro) with proj = Σ (q−mean)·v — one doc-local integer
    * fold per row against the literal direction array.
    */
  def project(vectors: DataFrame, idCol: String, vecCol: String,
              iters: Int = 6): DataFrame = {
    val (mean, dir) = principalDirection(vectors, idCol, vecCol, iters)
    val d = zip_with(KMeans.quantize(col(vecCol)), typedLit(mean.toSeq), (a, b) => a - b)
    vectors.select(col(idCol),
      aggregate(zip_with(d, typedLit(dir.toSeq), (x, w) => x * w),
        lit(0L), (acc, x) => acc + x).as("proj_micro"))
  }
}
