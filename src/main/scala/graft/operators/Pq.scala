package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Product quantization (PQ) — the codebook half of the quantization family
  * ([[Quant]] is the scalar half): split each embedding into `m` contiguous
  * subspaces, train a small k-means codebook per subspace, and store each
  * vector as `m` one-byte codes. At dim 64 / m 4 that is a 64× store
  * reduction (4 bytes vs 256), and similarity scans become asymmetric
  * distance computation (ADC): the raw query versus each candidate's
  * RECONSTRUCTED centroids — no candidate float is ever touched.
  *
  * EXACT-REPLAY CONTRACT (the [[KMeans]] posture, extended per-subspace):
  * vectors micro-unit quantize once; training co-trains ALL `m` codebooks
  * in ONE corpus scan per Lloyd round — per-row the `m` argmins are
  * computed against literal centroid slices inside the scan stage (zero
  * shuffle), then one slim (sub, cid, pos) integer cell aggregation with
  * map-side combine updates every codebook at once. Seeds are the `ksub`
  * lowest-id vectors sliced per subspace; ties go to the lowest cid; empty
  * cells keep their previous coordinate; the new coordinate is the FLOOR
  * of the exact integer mean. Every step is integer arithmetic, so
  * codebooks, codes, and ADC distances are bit-identical cross-engine and
  * partitioning-independent — the whole train → encode → search chain
  * replays in pure SQL (no pinned fixture, unlike the float-centroid IVF).
  *
  * Scale shape: the codebooks are m·ksub·(dim/m) = ksub·dim longs of
  * driver control plane; the data plane never collects. Encoding and ADC
  * are doc-local projections against literals; the ADC join broadcasts the
  * (small) query side while the stream side carries only m-byte codes —
  * the PQ memory story at 100 TB.
  */
object Pq {

  /** Per-row array of the `m` subspace codes against literal codebooks —
    * ONE native loop over the flattened codebook table (r12; before, each
    * row evaluated m × ksub interpreted aggregate/zip_with folds).
    * [[cidArrayDeclarative]] is the retained spec reference.
    */
  private[graft] def cidArray(qv: Column, subDim: Int, books: Array[Array[Array[Long]]]): Column =
    graft.plans.NativeHash.pqCodes(qv, books)

  private def l2sqDecl(v: Column, cent: Seq[Long]): Column =
    aggregate(zip_with(v, typedLit(cent), (a, b) => (a - b) * (a - b)),
      lit(0L), (acc, x) => acc + x)

  private def cidOfDecl(qv: Column, s: Int, sub: Int, book: Array[Array[Long]]): Column =
    array_min(array(book.zipWithIndex.map { case (cv, ci) =>
      struct(l2sqDecl(slice(qv, s * sub + 1, sub), cv.toSeq).as("d2"), lit(ci).as("cid"))
    }: _*)).cast("struct<d2:bigint,cid:int>").getField("cid")

  private[graft] def cidArrayDeclarative(qv: Column, subDim: Int,
                                             books: Array[Array[Array[Long]]]): Column =
    array(books.indices.map(s => cidOfDecl(qv, s, subDim, books(s))): _*)

  /** Train `iters` Lloyd rounds per subspace; returns
    * `books(s)(c)` = the micro-unit centroid of subspace `s`, cluster `c`
    * (dim/m longs) — driver-side control plane, ksub·dim longs total.
    */
  def train(vectors: DataFrame, idCol: String, vecCol: String,
            m: Int, ksub: Int, iters: Int): Array[Array[Array[Long]]] =
    trainQuantized(vectors.select(col(idCol).as("id"), KMeans.quantize(col(vecCol)).as("qv")),
      m, ksub, iters)

  /** [[train]] over an ALREADY micro-unit-quantized (id, qv) frame — the
    * entry point [[IvfPq]] uses to train codebooks on residual vectors.
    * Runs the one Lloyd loop, [[KMeans.lloyd]], over m subspaces.
    */
  def trainQuantized(quantized: DataFrame, m: Int, ksub: Int, iters: Int): Array[Array[Array[Long]]] =
    KMeans.lloyd(quantized, m, ksub, iters)

  /** The m-byte code store: (idCol, sub, code) — doc-local argmin per
    * subspace against literal codebooks, zero shuffle.
    */
  def codes(vectors: DataFrame, idCol: String, vecCol: String,
            books: Array[Array[Array[Long]]]): DataFrame = {
    val subDim = books(0)(0).length
    vectors.select(col(idCol), KMeans.quantize(col(vecCol)).as("qv"))
      .select(col(idCol), cidArray(col("qv"), subDim, books).as("cids"))
      // _outer: same rows (cids is a non-empty m-array) minus the
      // InferFiltersFromGenerate `size(cids) > 0` filter that would inline
      // the m-argmin tree into a per-row interpreted predicate
      .select(col(idCol), posexplode_outer(col("cids")).as(Seq("sub", "code")))
  }

  /** Trained codebooks as (sub, cid, pos, qval) scalar cells (pos is the
    * ABSOLUTE dimension index) — the oracle-friendly exploded view.
    */
  def codebookTable(vectors: DataFrame, idCol: String, vecCol: String,
                    m: Int, ksub: Int, iters: Int): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val books = train(vectors, idCol, vecCol, m, ksub, iters)
    val subDim = books(0)(0).length
    spark.createDataset(for {
      (book, s) <- books.zipWithIndex.toSeq
      (cv, ci) <- book.zipWithIndex.toSeq
      (v, p) <- cv.zipWithIndex.toSeq
    } yield (s, ci, s * subDim + p, v)).toDF("sub", "cid", "pos", "qval")
  }

  /** Top-k neighbors per query by ADC: exact integer L2² between the RAW
    * query micro-units and each candidate's reconstructed centroids,
    * ranked ascending (neighbor-id tie-break). The stream side carries
    * only the m-code array; the query side rides the broadcast with its
    * raw vector. Returns (query_id, neighbor_id, d2, rank).
    */
  def annTopKAdc(queries: DataFrame, vectors: DataFrame, idCol: String, vecCol: String,
                 books: Array[Array[Array[Long]]], k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val m = books.length
    val subDim = books(0)(0).length
    val cand = vectors.select(col(idCol).as("neighbor_id"), KMeans.quantize(col(vecCol)).as("cqv"))
      .select(col("neighbor_id"), cidArray(col("cqv"), subDim, books).as("cids"))
    val q = queries.select(col(idCol).as("query_id"), KMeans.quantize(col(vecCol)).as("qqv"))
    // native ADC (r12): one loop over the flattened codebooks per
    // (query, candidate) pair — the m interpreted zip_with folds before
    val d2 = graft.plans.NativeHash.pqAdc(col("qqv"), col("cids"), books)
    cand.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), d2.as("d2"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("d2"), col("neighbor_id"))))
      .filter(col("rank") <= k)
  }
}
