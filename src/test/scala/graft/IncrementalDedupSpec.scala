package graft

import graft.operators.{Caches, Dedup, Route}
import org.apache.spark.sql.{CachedRelations, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.storage.StorageLevel

/** Incremental (batch-vs-corpus) dedup: constructive ground truth — the
  * corpus is base docs; the batch mixes exact copies (jaccard 1.0), near
  * variants (14/16 = 0.875), far variants (below threshold) and fresh docs
  * (disjoint word blocks), so the expected survivor set is known without an
  * all-pairs scan.
  */
class IncrementalDedupSpec extends SparkSpec {

  private object CachePlans extends AdaptiveSparkPlanHelper

  private val n = 200

  /** Corpus doc i: 2 universal words + 12 unique block words + marker. */
  private def corpus(): DataFrame =
    spark.range(n).select(col("id"),
      concat_ws(" ", Seq(lit("alpha"), lit("omega"), concat(lit("u"), col("id"))) ++
        (0 until 12).map(j => concat(lit("w"), (col("id") * 12 + lit(j)).cast("string"))): _*).as("text"))

  /** Batch: ids offset by 10·n so provenance is readable.
    *  - [0, n):    exact copies of corpus docs      → dropped (j = 1.0)
    *  - [n, 2n):   one-word variants                → dropped (j = 0.875)
    *  - [2n, 3n):  8-of-12-block variants           → survive (j = 10/20 = 0.5)
    *  - [3n, 4n):  fresh docs on a disjoint block   → survive
    */
  private def batch(): DataFrame = {
    val exact = spark.range(n).select((col("id") + 10 * n).as("id"),
      concat_ws(" ", Seq(lit("alpha"), lit("omega"), concat(lit("u"), col("id"))) ++
        (0 until 12).map(j => concat(lit("w"), (col("id") * 12 + lit(j)).cast("string"))): _*).as("text"))
    val near = spark.range(n).select((col("id") + 11 * n).as("id"),
      concat_ws(" ", Seq(lit("alpha"), lit("omega"), concat(lit("x"), col("id"))) ++
        (0 until 12).map(j => concat(lit("w"), (col("id") * 12 + lit(j)).cast("string"))): _*).as("text"))
    val far = spark.range(n).select((col("id") + 12 * n).as("id"),
      concat_ws(" ", Seq(lit("alpha"), lit("omega"), concat(lit("y"), col("id"))) ++
        (0 until 8).map(j => concat(lit("w"), (col("id") * 12 + lit(j)).cast("string"))) ++
        (0 until 4).map(j => concat(lit("z"), (col("id") * 4 + lit(j)).cast("string"))): _*).as("text"))
    val fresh = spark.range(n).select((col("id") + 13 * n).as("id"),
      concat_ws(" ", (0 until 15).map(j =>
        concat(lit("f"), (col("id") * 15 + lit(j)).cast("string"))): _*).as("text"))
    exact.unionByName(near).unionByName(far).unionByName(fresh)
  }

  test("survivors are exactly the far variants and fresh docs") {
    val ids = Dedup.incrementalSurvivors(corpus(), batch(), "id", "text", threshold = 0.8)
      .select("id").collect().map(_.getLong(0)).sorted
    Caches.release()
    val expected = ((12 * n until 13 * n) ++ (13 * n until 14 * n)).map(_.toLong).sorted
    assert(ids.toSeq == expected.toSeq,
      s"got ${ids.length} survivors, expected ${expected.length}")
  }

  test("probing a prebuilt index equals the inline build") {
    val idx = Dedup.buildNearDupIndex(corpus(), "id", "text")
    val viaIndex = Dedup.probeSurvivors(idx, batch(), "id", "text", threshold = 0.8)
      .select("id").collect().map(_.getLong(0)).toSet
    Caches.release()
    val inline = Dedup.incrementalSurvivors(corpus(), batch(), "id", "text", threshold = 0.8)
      .select("id").collect().map(_.getLong(0)).toSet
    Caches.release()
    assert(viaIndex == inline)
  }

  test("index roundtrips through parquet: the on-disk index probes identically") {
    val dir = java.nio.file.Files.createTempDirectory("graft_neardup_idx").toFile
    val path = new java.io.File(dir, "index.parquet").getPath
    Dedup.buildNearDupIndex(corpus(), "id", "text").write.mode("overwrite").parquet(path)
    val onDisk = Dedup.probeSurvivors(spark.read.parquet(path), batch(), "id", "text",
        threshold = 0.8)
      .select("id").collect().map(_.getLong(0)).toSet
    Caches.release()
    val inline = Dedup.incrementalSurvivors(corpus(), batch(), "id", "text", threshold = 0.8)
      .select("id").collect().map(_.getLong(0)).toSet
    Caches.release()
    assert(onDisk == inline && onDisk.size == 2 * n)
  }

  test("empty corpus keeps the whole batch; batch ⊆ corpus keeps nothing") {
    val empty = corpus().filter(lit(false))
    val all = Dedup.incrementalSurvivors(empty, batch(), "id", "text", threshold = 0.8).count()
    Caches.release()
    assert(all == 4L * n)
    val copies = corpus().select((col("id") + 10 * n).as("id"), col("text"))
    val none = Dedup.incrementalSurvivors(corpus(), copies, "id", "text", threshold = 0.8).count()
    Caches.release()
    assert(none == 0L)
  }

  test("broadcast and banded probe routes produce identical survivors") {
    val idx = Dedup.buildNearDupIndex(corpus(), "id", "text")
    val bcast = Dedup.probeSurvivors(idx, batch(), "id", "text", threshold = 0.8)
      .select("id").collect().map(_.getLong(0)).toSet
    Caches.release()
    val banded = Dedup.probeSurvivors(idx, batch(), "id", "text", threshold = 0.8,
        batchBroadcastThreshold = 0L) // force the large-batch route
      .select("id").collect().map(_.getLong(0)).toSet
    Caches.release()
    assert(bcast == banded && bcast.size == 2 * n)
  }

  test("route planner keys on BOTH |index| and |batch|; routes stay result-identical") {
    val idx = Dedup.buildNearDupIndex(corpus(), "id", "text")
    // small batch + generous budget → nested loop
    val a = Dedup.probeSurvivors(idx, batch(), "id", "text", threshold = 0.8)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(Route.last(spark, "probe") == "nested")
    Caches.release()
    // same small batch, but a work budget the index exceeds → the planner
    // must refuse the |index|·|batch| scan and take the banded route
    val b = Dedup.probeSurvivors(idx, batch(), "id", "text", threshold = 0.8,
        nestedLoopWorkBudget = 1L)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(Route.last(spark, "probe") == "banded")
    Caches.release()
    assert(a == b && a.size == 2 * n)
  }

  test("a nested probe keeps the index its caller pinned cached") {
    val idx = Dedup.buildNearDupIndex(corpus(), "id", "text")
    idx.persist()
    idx.count()
    try {
      Dedup.probeSurvivors(idx, batch().filter(col("id") < 10 * n + 10), "id", "text",
          threshold = 0.8).collect()
      assert(Route.last(spark, "probe") == "nested")
      assert(idx.storageLevel != StorageLevel.NONE, "probe unpinned the caller's index")
    } finally { idx.unpersist(); Caches.release() }
  }

  test("nested incremental route holds one corpus-sized cache: the index pin is released early") {
    Caches.release()
    val before = CachedRelations.count(spark)
    Dedup.incrementalSurvivors(corpus(), batch(), "id", "text", threshold = 0.8).collect()
    assert(Route.last(spark, "probe") == "nested")
    // keyed batch, batch reps and the slim repartitioned index copy; the
    // full index pin is gone
    assert(CachedRelations.count(spark) - before == 3)
    Caches.release()
    assert(CachedRelations.count(spark) == before)
  }

  test("nested incremental route builds its slim index copy from the pinned index") {
    Caches.release()
    Dedup.incrementalSurvivors(corpus(), batch(), "id", "text", threshold = 0.8).collect()
    assert(Route.last(spark, "probe") == "nested")
    val slim = CachedRelations.plans(spark).collect {
      case (logical, physical) if logical.output.map(_.name) == Seq("words", "sz", "bks") => physical
    }
    Caches.release()
    assert(slim.size == 1, s"expected one cached slim index copy, got ${slim.size}")
    // released before the copy was materialized, the index pin is gone from
    // the copy's cached plan, which then re-runs the whole corpus build
    val indexScans = CachePlans.collect(slim.head) {
      case s: InMemoryTableScanExec if s.relation.output.map(_.name).contains("bks") => s
    }
    assert(indexScans.nonEmpty, s"slim copy does not read the index cache:\n${slim.head}")
  }

  test("result is stable under repartitioning both sides") {
    val a = Dedup.incrementalSurvivors(corpus().repartition(7), batch().repartition(3),
      "id", "text", threshold = 0.8).select("id").collect().map(_.getLong(0)).toSet
    Caches.release()
    val b = Dedup.incrementalSurvivors(corpus().repartition(2), batch().repartition(13),
      "id", "text", threshold = 0.8).select("id").collect().map(_.getLong(0)).toSet
    Caches.release()
    assert(a == b && a.size == 2 * n)
  }
}
