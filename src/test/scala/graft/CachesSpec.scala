package graft

import graft.operators.Caches
import org.apache.spark.sql.{CachedRelations, DataFrame}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

/** Every frame an operator pins goes through [[Caches.persist]], so one
  * `Caches.release()` after a unit of work leaves Spark's cache as it found
  * it — a long-running consumer or query loop pins nothing — and a frame
  * the caller pinned is never unpinned by graft.
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

  // a plan of its own per test: Spark keys its cache on the plan
  private def frame(n: Long): DataFrame = spark.range(n).select((col("id") * 3).as("x"))

  private def pinned(df: DataFrame): Boolean = df.storageLevel != StorageLevel.NONE

  test("Caches.unpersist unpins a frame graft pinned and drops it from the release queue") {
    Caches.release()
    val before = CachedRelations.count(spark)
    val df = Caches.persist(frame(101))
    df.count()
    assert(pinned(df) && CachedRelations.count(spark) === before + 1)
    Caches.unpersist(df)
    assert(!pinned(df) && CachedRelations.count(spark) === before)
    // no longer queued: a later release() leaves the caller's own pin alone
    df.persist()
    try {
      Caches.release()
      assert(pinned(df), "release() unpinned a frame Caches.unpersist had already dropped")
    } finally df.unpersist()
  }

  test("graft never unpins a frame the caller persisted") {
    Caches.release()
    val df = frame(103).persist()
    df.count()
    try {
      Caches.unpersist(df)
      assert(pinned(df), "Caches.unpersist unpinned a frame graft did not pin")
      assert(Caches.persist(df) eq df)
      Caches.release()
      assert(pinned(df), "release() unpinned a frame the caller pinned first")
    } finally df.unpersist()
  }
}
