package graft

import graft.operators.Caches
import org.apache.spark.sql.CachedRelations

/** Every frame an iterative engine persists is registered with [[Caches]],
  * so one `Caches.release()` after a unit of work leaves Spark's cache as
  * it found it — a long-running consumer or query loop pins nothing.
  */
class CachesSpec extends SparkSpec {

  test("Caches.release() unpins everything the walk, HITS and Lloyd engines persist") {
    Caches.release()
    val before = CachedRelations.count(spark)
    for (q <- Seq("q_pagerank", "q_ppr", "q_hits", "q_kmeans_assign", "q_ann_ivfpq")) {
      Bench.evaluate(SparkEntry.queries(q)(spark, sfDir))
      assert(CachedRelations.count(spark) > before, s"$q persisted nothing")
      Caches.release()
      assert(CachedRelations.count(spark) === before, s"$q left a cached relation behind")
    }
  }
}
