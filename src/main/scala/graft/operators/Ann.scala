package graft.operators

import graft.functions.VectorFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an `array<float>` embedding
  * column (SURVEY.md §2.3).
  */
object Ann {

  /** Brute-force cosine top-k: the correctness baseline. Queries broadcast
    * (they are few); candidates stream — one pass over the corpus, no
    * shuffle until the per-query top-k window.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
                     vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", VectorFunctions.cosine(col("qv"), col("cv")))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cosine", "rank")
  }

  /** Recall@k report: per query, how many of the exact top-k `truth`
    * neighbors the `approx` result found — the evaluation harness that
    * justifies (or rejects) an ANN index posture before it ships. Both
    * inputs are (query_id, neighbor_id, …) rankings from the operators
    * above; the comparison is set intersection, so equal tie-break
    * contracts on both sides keep it deterministic at the k boundary.
    * Scale shape: both inputs are |Q|·k slim rows — control-plane sized
    * regardless of corpus size; one equi-join, one agg.
    */
  def recallAtK(truth: DataFrame, approx: DataFrame): DataFrame = {
    val a = approx.select(col("query_id"), col("neighbor_id")).withColumn("hit", lit(1))
    truth.select("query_id", "neighbor_id")
      .join(a, Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_truth"), sum(coalesce(col("hit"), lit(0))).as("n_hit"))
      .withColumn("recall", col("n_hit").cast("double") / col("n_truth").cast("double"))
  }

  /** Max vectors collected for coarse-quantizer training — bounds driver
    * memory; IVF quantizers train on a sample by design (the cells only
    * need to partition space reasonably, assignment stays exact).
    */
  val MaxTrainSample = 65536

  /** IVF (inverted-file) ANN: partition the corpus into `nlist` Voronoi
    * cells around trained centroids; a query scans only its `nprobe`
    * nearest cells. The standard coarse-quantizer scale path: per-query
    * work drops from |corpus| to ~nprobe/nlist of it, and the cell
    * assignment is a plain equi-join key — shuffle-friendly at 100 TB.
    *
    * Training is deterministic k-means on a driver-side sample (seeds =
    * the `nlist` lowest-id vectors, sample = the [[MaxTrainSample]]
    * lowest-id vectors, `iters` Lloyd rounds) — quantizer training is
    * sample-based in every production IVF build; running Lloyd as
    * distributed jobs over a handful of centroids only buys scheduler
    * overhead. Cell ASSIGNMENT of the full corpus stays distributed.
    * With `nprobe == nlist` results equal brute force exactly (the spec
    * asserts this, for any centroids).
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
              k: Int, nlist: Int = 16, nprobe: Int = 4, iters: Int = 1): DataFrame =
    ivfTopKWithCentroids(queries, corpus,
      trainIvfCentroids(corpus, idCol, vecCol, nlist, iters), idCol, vecCol, k, nprobe)

  /** Deterministic coarse-quantizer training (see [[ivfTopK]]): returns the
    * (cid int, centroid array&lt;float&gt;) table. Exposed separately so the
    * trained centroids can be PERSISTED as a parquet fixture — with the
    * centroids pinned, everything downstream of training (cell assignment,
    * probe routing, nprobe-cell search, ranking) is plain relational algebra
    * over float arrays, which a SQL oracle reproduces value-exactly. The
    * centroids are cast to float before use so both engines hash the same
    * bits.
    */
  def trainIvfCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                        nlist: Int = 16, iters: Int = 1): DataFrame = {
    val c = corpus.select(col(idCol).as("vid"), col(vecCol).as("v"))
    val spark = corpus.sparkSession
    import spark.implicits._
    val sample: Array[Array[Float]] =
      c.orderBy("vid").limit(MaxTrainSample).select("v").as[Array[Float]].collect()
    require(sample.nonEmpty, "IVF training: empty corpus")
    var cents: Array[Array[Double]] = sample.take(nlist).map(_.map(_.toDouble))
    for (_ <- 0 until iters) {
      val sums = Array.fill(cents.length)(new Array[Double](sample.head.length))
      val cnts = new Array[Long](cents.length)
      sample.foreach { v =>
        var best = 0; var bestSim = Double.MinValue
        var ci = 0
        while (ci < cents.length) {
          val sim = cosineDD(v, cents(ci))
          if (sim > bestSim) { bestSim = sim; best = ci }
          ci += 1
        }
        cnts(best) += 1
        var d = 0
        while (d < v.length) { sums(best)(d) += v(d); d += 1 }
      }
      cents = cents.indices.map { ci =>
        if (cnts(ci) == 0) cents(ci) else sums(ci).map(_ / cnts(ci))
      }.toArray
    }
    spark.createDataset(
        cents.zipWithIndex.map { case (v, i) => (i, v.map(_.toFloat)) }.toSeq)
      .toDF("cid", "centroid")
  }

  /** IVF search against a FIXED centroid table (trained by
    * [[trainIvfCentroids]] or loaded from a persisted fixture). Every stage
    * is declarative: nearest-cell assignment (argmax cosine, ties → lowest
    * cid), per-query nprobe probe routing, in-cell scoring, top-k ranking.
    */
  def ivfTopKWithCentroids(queries: DataFrame, corpus: DataFrame, centroids: DataFrame,
                           idCol: String, vecCol: String, k: Int, nprobe: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("vid"), col(vecCol).as("v"))
    val cells = assignToNearest(c, centroids)                       // corpus → cell
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val probes = q.crossJoin(broadcast(centroids))
      .withColumn("d", VectorFunctions.cosine(col("qv"), col("centroid")))
      .withColumn("pr", row_number().over(Window.partitionBy("query_id").orderBy(col("d").desc, col("cid"))))
      .filter(col("pr") <= nprobe)
      .select("query_id", "qv", "cid")

    val scored = cells.join(probes, Seq("cid"))
      .filter(col("query_id") =!= col("vid"))
      .withColumn("cosine", VectorFunctions.cosine(col("qv"), col("v")))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("vid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vid").as("neighbor_id"), col("cosine"), col("rank"))
  }

  /** k-NN GRAPH: top-k cosine neighbors for EVERY corpus vector — the
    * corpus-wide build behind SemDeDup clustering, embedding-space
    * visualization, and graph-based label propagation. [[lshTopK]]'s
    * shape broadcasts the query side and so cannot take queries = corpus;
    * this is the symmetric formulation: both sides of the candidate join
    * stream, keyed on the LSH bucket.
    *
    * Scale shape: per-vector bucket keys are computed in the scan stage
    * (native expression), the candidate self-join is a plain shuffle
    * equi-join on the bucket key — per-task work is Σ|bucket|² per table,
    * never corpus² — and candidates collapse to DISTINCT slim (src,
    * neighbor) pairs BEFORE embeddings join back for exact re-ranking, so
    * a pair colliding in several tables scores once and vectors cross the
    * wire once. The per-source top-k window runs on slim scored pairs
    * (TopKRewriteRule heap partials).
    */
  def knnGraph(corpus: DataFrame, idCol: String, vecCol: String, k: Int,
               nTables: Int = 8, planesPerTable: Int = 8): DataFrame = {
    // exploded key stream (twice) + two score join-backs
    val c = Caches.persist(corpus.select(col(idCol).as("vid"), col(vecCol).as("v"),
        VectorFunctions.lshKeys(col(vecCol), nTables, planesPerTable).as("ks")))
    val src = c.select(col("vid"), explode(col("ks")).as("bk"))
    val dst = c.select(col("vid").as("nid"), explode(col("ks")).as("bk"))
    val cand = src.join(dst, Seq("bk"))
      .filter(col("vid") =!= col("nid"))
      .select("vid", "nid")
      .distinct()
    val scored = cand
      .join(c.select(col("vid"), col("v").as("qv")), "vid")
      .join(c.select(col("vid").as("nid"), col("v").as("cv")), "nid")
      .withColumn("cosine", VectorFunctions.cosine(col("qv"), col("cv")))
    val w = Window.partitionBy("vid").orderBy(col("cosine").desc, col("nid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("vid").as("src_id"), col("nid").as("neighbor_id"),
        col("cosine"), col("rank"))
  }

  /** Driver-side cosine for quantizer training (float vec × double centroid). */
  private def cosineDD(a: Array[Float], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) { dot += a(i) * b(i); i += 1 }
    i = 0; while (i < a.length) { na += a(i).toDouble * a(i); i += 1 }
    i = 0; while (i < b.length) { nb += b(i) * b(i); i += 1 }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Nearest-centroid assignment: broadcast the (small) centroid table,
    * argmin by cosine distance.
    *
    * Shuffle discipline: the ×nlist scored stream carries ONLY
    * (vid, cid, d) — the cosine is computed map-side while the vector is
    * still in hand, then the embedding payload is dropped BEFORE the
    * per-vid argmax shuffle (which TopKRewriteRule turns into a k=1 heap:
    * one slim row per vector leaves each map task — asserted in
    * PlanContractSpec). Vectors join back by id afterwards, so the wide
    * column crosses the wire once, not nlist times.
    */
  private[graft] def assignToNearest(c: DataFrame, centroids: DataFrame): DataFrame = {
    val w = Window.partitionBy("vid").orderBy(col("d").desc, col("cid"))
    val asgn = c.crossJoin(broadcast(centroids))
      .withColumn("d", VectorFunctions.cosine(col("v"), col("centroid")))
      .select("vid", "cid", "d")
      .withColumn("r", row_number().over(w))
      .filter(col("r") === 1)
      .select("vid", "cid")
    c.join(asgn, "vid").select("vid", "v", "cid")
  }

  /** LSH-bucketed ANN, MULTI-TABLE (OR-of-ANDs): a corpus vector is a
    * candidate for a query iff some table's `planesPerTable` hyperplane
    * signs all agree — recall per neighbor at angle θ is
    * 1 − (1 − (1 − θ/π)^k)^L, tuned by adding tables at constant bucket
    * size. The 100 TB path: per-task candidate sets are bucket-bounded
    * instead of corpus-sized, queries broadcast, the corpus streams.
    * nTables=1 reproduces the classic single-table bucket search.
    *
    * Candidates resolve as DISTINCT slim (query, neighbor) pairs before
    * vectors join back for scoring — a pair colliding in several tables is
    * scored once, and corpus vectors never ride the exploded key stream.
    */
  def lshTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
              vecCol: String, k: Int, nTables: Int = 8, planesPerTable: Int = 8): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      VectorFunctions.lshKeys(col(vecCol), nTables, planesPerTable).as("ks"))
    // exploded key stream + score join-back both read it
    val c = Caches.persist(corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      VectorFunctions.lshKeys(col(vecCol), nTables, planesPerTable).as("ks")))
    val qe = q.select(col("query_id"), explode(col("ks")).as("bk"))
    val ce = c.select(col("neighbor_id"), explode(col("ks")).as("bk"))
    val cand = ce.join(broadcast(qe), Seq("bk"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id")
      .distinct()
    val scored = cand
      .join(broadcast(q.select(col("query_id"), col("qv"))), "query_id")
      .join(c.select(col("neighbor_id"), col("cv")), "neighbor_id")
      .withColumn("cosine", VectorFunctions.cosine(col("qv"), col("cv")))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cosine", "rank")
  }
}
