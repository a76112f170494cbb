package graft

import graft.operators.{Ann, Dedup, Route}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Semantic (SemDeDup-style) dedup: with one cell it equals the brute-force
  * component materializer; with many cells only within-cell pairs merge (the
  * published trade); both CC routes agree; assignment is pinned-centroid
  * deterministic.
  */
class SemDedupSpec extends SparkSpec {
  import spark.implicits._

  private def emb: DataFrame = spark.read.parquet(s"$sfDir/embeddings.parquet")

  /** Driver union-find over the exact all-pairs edge list — the reference
    * the operator must reproduce when every pair is in scope.
    */
  private def bruteSurvivors(threshold: Double): Set[Long] = {
    val ids = emb.select("vec_id").collect().map(_.getLong(0))
    val edges = Dedup.embedNearDupPairs(emb, "vec_id", "embedding", threshold)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = { var r = x; while (parent.getOrElse(r, r) != r) r = parent(r); r }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    ids.filter(id => find(id) == id).toSet
  }

  test("one cell ⇒ semantic dedup equals the brute-force component materializer") {
    val one = Seq((0, Array.fill(8)(0.1f))).toDF("cid", "centroid")
    val got = Dedup.dropDuplicatesSemantic(emb, "vec_id", "embedding", one, threshold = 0.3)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(got == bruteSurvivors(0.3))
  }

  test("both CC routes produce identical survivors") {
    val one = Seq((0, Array.fill(8)(0.1f))).toDF("cid", "centroid")
    val viaDriver = Dedup.dropDuplicatesSemantic(emb, "vec_id", "embedding", one, 0.3)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(Route.last(spark, "cc") == "driver")
    val viaDistributed = Dedup.dropDuplicatesSemantic(emb, "vec_id", "embedding", one, 0.3,
        collectEdgeThreshold = 0L)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(Route.last(spark, "cc") == "distributed")
    assert(viaDriver == viaDistributed)
  }

  test("pairs crossing cell boundaries do not merge (the SemDeDup trade)") {
    // two identical vectors pushed into different cells by hand-built
    // centroids: duplicate by cosine, invisible to the in-cell scan
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(1.0f, 0.0f)),   // identical pair
      (3L, Array(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val centroids = Seq((0, Array(1.0f, 0.05f)), (1, Array(1.0f, -0.05f))).toDF("cid", "centroid")
    // both of (1,2) tie on cosine against both centroids -> both land in
    // cid 0 (lowest-cid tie-break) and DO merge ...
    val merged = Dedup.dropDuplicatesSemantic(vecs, "vec_id", "embedding", centroids, 0.9)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(merged == Set(1L, 3L))
    // ... but when the centroids separate them, the duplicate survives:
    // cell restriction is the documented recall trade, not a bug
    val apart = Seq((1L, Array(1.0f, 0.1f)), (2L, Array(1.0f, -0.1f)))
      .toDF("vec_id", "embedding")
    val split = Dedup.dropDuplicatesSemantic(apart, "vec_id", "embedding", centroids, 0.9)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(split == Set(1L, 2L)) // cosine(v1,v2)≈0.98 ≥ 0.9, yet both survive
  }

  test("survivors are repartition-stable") {
    val pinned = Ann.trainIvfCentroids(emb, "vec_id", "embedding", nlist = 8, iters = 1)
    val base = Dedup.dropDuplicatesSemantic(emb, "vec_id", "embedding", pinned, 0.3)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val re = Dedup.dropDuplicatesSemantic(emb.repartition(7), "vec_id", "embedding", pinned, 0.3)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(base == re)
  }
}
