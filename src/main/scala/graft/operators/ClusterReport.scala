package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Cluster-quality / embedding-drift report over a labeled vector table —
  * the audit a curation pipeline runs after clustering (or between two
  * crawl snapshots labeled by source): per label, how tight the cluster
  * is (exact intra sum-of-squares to its centroid) and how close the
  * nearest other centroid sits — the two numbers behind every
  * silhouette-style "are these clusters real?" judgement, kept in the
  * exact-integer contract instead of a float silhouette.
  *
  * Scale shape: TWO scans of the data plane — one slim (label, pos)
  * integer aggregation for the floor-mean centroids (map-side combined),
  * one intra-distance pass where each row meets its OWN label's literal
  * centroid via a coalesce/CASE chain inside the scan stage (the
  * [[KMeans.bestOf]] precedent: zero shuffle, no join of row bodies).
  * Centroids and the |labels|² nearest matrix are driver control plane
  * (k·dim longs). Long Σd² holds to ~10¹⁸ micro-units² per label —
  * ~10³ members at unit-norm dim-64; past that widen to decimal(38,0),
  * the documented [[Curation.vocabConcentration]] trade.
  */
object ClusterReport {

  /** Per-label report: (label, n, sum_d2, mean_d2, nearest_label,
    * nearest_d2) — mean is ONE pinned double division; everything else is
    * exact integers, so the report is partitioning-independent.
    */
  def report(vecs: DataFrame, labelCol: String, vecCol: String): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val q = Caches.persist(vecs.select(col(labelCol).cast("int").as("label"),
      KMeans.quantize(col(vecCol)).as("qv")))

    val cents: Map[Int, Array[Long]] = q
      .select(col("label"), posexplode(col("qv")).as(Seq("pos", "v")))
      .groupBy("label", "pos")
      .agg(sum("v").as("s"), count(lit(1)).as("c"))
      .select(col("label"), col("pos"), expr("(s - ((s % c + c) % c)) div c").as("cv"))
      .collect().groupBy(_.getInt(0))
      .map { case (l, rows) =>
        val a = new Array[Long](rows.length)
        rows.foreach(r => a(r.getInt(1)) = r.getLong(2))
        l -> a
      }
    require(cents.size >= 2, s"cluster report needs >= 2 labels, got ${cents.size}")
    val labels = cents.keys.toSeq.sorted

    // nearest other centroid: |labels|²·dim driver arithmetic, ties → lowest label
    val near = labels.map { l =>
      val c = cents(l)
      val (nl, nd) = labels.filter(_ != l).map { m =>
        val d = cents(m).zip(c).map { case (a, b) => val x = a - b; x * x }.sum
        (m, d)
      }.minBy { case (m, d) => (d, m) }
      (l, nl, nd)
    }.toDF("label", "nearest_label", "nearest_d2")

    val ownD2 = coalesce(labels.map(l =>
      when(col("label") === lit(l), KMeans.l2sq(col("qv"), cents(l).toSeq))): _*)
    q.select(col("label"), ownD2.as("d2"))
      .groupBy("label")
      .agg(count(lit(1)).as("n"), sum("d2").as("sum_d2"))
      .join(broadcast(near), "label")
      .select(col("label"), col("n"), col("sum_d2"),
        (col("sum_d2").cast("double") / col("n")).as("mean_d2"),
        col("nearest_label"), col("nearest_d2"))
  }
}
