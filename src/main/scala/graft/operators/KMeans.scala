package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed, deterministic Lloyd k-means over embedding columns.
  *
  * [[Ann.trainIvfCentroids]] trains on a bounded driver-side sample — the
  * right posture for a coarse quantizer. This operator is the FULL-CORPUS
  * path: when the clustering itself is the product (topic balancing,
  * SemDeDup-style cluster assignment, cluster-stratified sampling), every
  * vector must vote in the update, and at 100 TB that update must be
  * distributed, associative, and reproducible. Naive float k-means is none
  * of those — float sums depend on partitioning order, so two runs of the
  * "same" clustering disagree.
  *
  * Design: EXACT INTEGER arithmetic end to end.
  *
  *  - vectors quantize once to micro-units (`round(v·10⁶)` as long — the
  *    [[Embed.meanPool]] recipe, identical on every engine);
  *  - assignment is argmin of integer squared-L2 (ties → lowest cid),
  *    computed per-row against literal centroid arrays: ZERO shuffle, no
  *    UDF — `zip_with`/`aggregate` higher-order expressions inside the
  *    scan stage;
  *  - the update is one slim (cid, pos, sum, count) aggregation with
  *    map-side combine — integer sums are associative, so any partitioning
  *    yields the same centroid; the new centroid coordinate is the FLOOR
  *    of the exact mean (`(s − ((s % c + c) % c)) / c` — floor division
  *    written so Spark and SQL agree on negatives);
  *  - centroids between iterations are a k×dim long table on the driver —
  *    control-plane-sized (the 100 TB data plane never collects).
  *
  * Empty clusters keep their previous centroid. Iteration count is fixed
  * (production k-means runs a fixed budget; convergence detection would
  * make run time data-dependent).
  */
object KMeans {

  /** Micro-unit quantization of a float/double vector column. */
  def quantize(vec: Column): Column =
    transform(vec, x => round(x.cast("double") * lit(1000000.0)).cast("long"))

  /** Integer L2² against a literal centroid — the native one-loop form
    * (r12); [[l2sqDeclarative]] is the retained spec reference.
    */
  private[graft] def l2sq(qv: Column, cent: Seq[Long]): Column =
    graft.plans.NativeHash.l2sqLL(qv, typedLit(cent))

  private[graft] def l2sqDeclarative(qv: Column, cent: Seq[Long]): Column =
    aggregate(zip_with(qv, typedLit(cent), (a, b) => (a - b) * (a - b)),
      lit(0L), (acc, x) => acc + x)

  /** (best cid, its L2²) against literal centroids, ties to lowest cid —
    * ONE native loop over the flattened centroid table (r12; the
    * k × interpreted-HOF argmin chain evaluated per row before).
    * [[bestOfDeclarative]] is the retained spec reference.
    */
  private[graft] def bestOf(qv: Column, cents: Array[Array[Long]]): Column =
    graft.plans.NativeHash.bestCell(qv, cents)

  private[graft] def bestOfDeclarative(qv: Column, cents: Array[Array[Long]]): Column =
    array_min(array(cents.zipWithIndex.map { case (cv, ci) =>
      struct(l2sqDeclarative(qv, cv.toSeq).as("d2"), lit(ci).as("cid"))
    }: _*)).cast("struct<d2:bigint,cid:int>")

  /** Train `iters` Lloyd rounds from the k lowest-id vectors; returns the
    * final centroids as k micro-unit arrays (driver-side — k·dim longs).
    */
  def train(vectors: DataFrame, idCol: String, vecCol: String,
            k: Int, iters: Int): Array[Array[Long]] =
    lloyd(vectors.select(col(idCol).as("id"), quantize(col(vecCol)).as("qv")), 1, k, iters)(0)

  /** The one Lloyd loop: `iters` rounds over an (id, qv) micro-unit frame
    * whose vectors split into `m` contiguous subspaces, co-training one
    * k-cell codebook per subspace (m = 1 is plain k-means, [[train]]; m > 1
    * is [[Pq]]'s product quantizer). Returns `books(s)(c)` = the centroid
    * of subspace s, cell c (dim/m longs) — driver-side control plane,
    * k·dim longs total. Seeds are the k lowest-id vectors sliced per
    * subspace; the argmin is integer L2² with lowest-cid ties; a cell
    * nobody joins keeps its coordinate. The input frame is persisted as
    * given, so a caller that reads the same frame again hits the cache.
    */
  private[graft] def lloyd(quantized: DataFrame, m: Int, k: Int, iters: Int): Array[Array[Array[Long]]] = {
    require(m >= 1, s"m must be >= 1, got $m")
    require(k >= 1, s"k must be >= 1, got $k")
    require(iters >= 0, s"iters must be >= 0, got $iters")
    val spark = quantized.sparkSession
    import spark.implicits._
    val q = Caches.persist(quantized)
    val seeds: Array[Array[Long]] = q.orderBy("id").limit(k)
      .select("qv").as[Array[Long]].collect()
    require(seeds.nonEmpty, "k-means: empty input")
    val dim = seeds.head.length
    require(dim % m == 0, s"dim $dim not divisible into m=$m subspaces")
    val subDim = dim / m
    var books: Array[Array[Array[Long]]] =
      Array.tabulate(m, seeds.length)((s, c) => seeds(c).slice(s * subDim, (s + 1) * subDim))
    for (_ <- 0 until iters) {
      // one scan: literal-codebook argmins, then slim integer cell sums.
      // The m argmins MUST be projected in their own select BELOW the
      // explode: fused into the generator's projection, Catalyst evaluates
      // them per EXPLODED row (dim× re-evaluation — measured 7.7 s vs
      // 0.65 s per iteration at sf0.1)
      val withC = q.select(graft.plans.NativeHash.pqCodes(col("qv"), books).as("cids"), col("qv"))
      // the cell key is (cid of pos's subspace, pos): the subspace is
      // pos div subDim, derived on the driver rather than grouped on
      val next = withC
        .select(col("cids"), posexplode(col("qv")).as(Seq("pos", "v")))
        .select(element_at(col("cids"), (expr(s"pos div $subDim") + 1).cast("int")).as("cid"),
          col("pos"), col("v"))
        .groupBy("cid", "pos")
        .agg(sum("v").as("s"), count(lit(1)).as("c"))
        // floor mean in PURE long arithmetic (`div`, not `/` — double
        // division loses exactness past 2^53, i.e. ~10¹⁰ docs of micro-units)
        .select(col("cid"), col("pos"), expr("(s - ((s % c + c) % c)) div c").as("qv"))
        .collect()
      val updated = books.map(_.map(_.clone()))
      next.foreach { r =>
        val pos = r.getInt(1)
        updated(pos / subDim)(r.getInt(0))(pos % subDim) = r.getLong(2)
      }
      books = updated
    }
    books
  }

  /** Final assignment against trained centroids: (idCol, cid, d2). */
  def assign(vectors: DataFrame, idCol: String, vecCol: String,
             cents: Array[Array[Long]]): DataFrame =
    vectors.select(col(idCol), quantize(col(vecCol)).as("qv"))
      .select(col(idCol), bestOf(col("qv"), cents).as("b"))
      .select(col(idCol), col("b").getField("cid").as("cid"),
        col("b").getField("d2").as("d2"))

  /** Trained centroids as a (cid, pos, qval) frame — the oracle-friendly
    * exploded view (cross-engine list schemas differ; scalar cells don't).
    */
  def centroidTable(vectors: DataFrame, idCol: String, vecCol: String,
                    k: Int, iters: Int): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val cents = train(vectors, idCol, vecCol, k, iters)
    spark.createDataset(for {
      (cv, ci) <- cents.zipWithIndex.toSeq
      (v, p) <- cv.zipWithIndex
    } yield (ci, p, v)).toDF("cid", "pos", "qval")
  }

  /** Assignment of the full input after `iters` training rounds. */
  def cluster(vectors: DataFrame, idCol: String, vecCol: String,
              k: Int, iters: Int): DataFrame =
    assign(vectors, idCol, vecCol, train(vectors, idCol, vecCol, k, iters))
}

