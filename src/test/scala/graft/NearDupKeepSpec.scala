package graft

import graft.operators.{Caches, Dedup, Graph, Route}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** [[Dedup.dropDuplicatesNear]] — the connected-components near-dup
  * materializer — on a corpus with KNOWN cluster structure under 5×
  * duplication (the shape whose pair-list output explodes quadratically),
  * plus plan audits proving no row ever carries a per-group id array.
  *
  * Corpus: n base texts, each present as 5 identical copies, plus 5 copies
  * of a single-word variant (jaccard base↔variant = 14/16 ≈ 0.875). Word
  * blocks are disjoint across bases, so ground-truth clusters are exactly
  * {base i copies ∪ variant i copies} — 10 docs, min id = 10·i.
  */
class NearDupKeepSpec extends SparkSpec {

  private val nBases = 120

  /** doc ids: cluster i owns ids [10i, 10i+10) — first 5 are base copies,
    * next 5 variant copies.
    */
  private def corpus(): DataFrame = {
    def words(prefix: String, cluster: org.apache.spark.sql.Column) = {
      val cols = Seq(lit("alpha"), lit("omega"), concat(lit(prefix), cluster.cast("string"))) ++
        (0 until 12).map(j => concat(lit("w"), (cluster * 12 + lit(j)).cast("string")))
      concat_ws(" ", cols: _*)
    }
    // NB: `/` is double division on Columns — floor+cast for the cluster idx
    val cluster = floor(col("id") / 10).cast("long")
    spark.range(nBases * 10L).select(col("id"),
      when(col("id") % 10 < 5, words("u", cluster))
        .otherwise(words("x", cluster)).as("text"))
  }

  test("keeps exactly one doc per ground-truth cluster (the cluster-min id)") {
    val kept = Dedup.dropDuplicatesNear(corpus(), "id", "text", threshold = 0.8)
      .select("id").orderBy("id").collect().map(_.getLong(0)).toSeq
    Caches.release()
    assert(kept == (0 until nBases).map(_ * 10L),
      s"expected the ${nBases} cluster minima, got ${kept.size} rows: ${kept.take(20)}")
  }

  test("banded (forced) and broadcast routes keep the identical survivor set") {
    val viaBroadcast = Dedup.dropDuplicatesNear(corpus(), "id", "text", 0.8)
      .select("id").orderBy("id").collect().toSeq
    Caches.release()
    val viaBanded = Dedup.dropDuplicatesNear(corpus(), "id", "text", 0.8, broadcastThreshold = 0L)
      .select("id").orderBy("id").collect().toSeq
    Caches.release()
    assert(viaBroadcast == viaBanded)
    assert(viaBroadcast.nonEmpty)
  }

  test("chained near-dups merge into one cluster (transitivity, not just pairs)") {
    // sliding 40-word windows shifted by 2: jaccard at distance d is
    // (40−2d)/(40+2d) → 0.905 / 0.818 / 0.739, so (0,3) is NOT a pair but
    // the chain connects the component {0,1,2,3} to one survivor
    val rows = (0 until 4).map { v =>
      (v.toLong, (v * 2 until v * 2 + 40).map(i => s"w$i").mkString(" "))
    }
    import spark.implicits._
    val docs = rows.toDF("id", "text")
    val pairs = Dedup.nearDupPairs(docs, "id", "text", 0.8)
      .select("id_a", "id_b").orderBy("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    Caches.release()
    assert(!pairs.contains((0L, 3L)), s"0-3 should be below threshold: $pairs")
    val kept = Dedup.dropDuplicatesNear(docs, "id", "text", 0.8)
      .select("id").collect().map(_.getLong(0)).toSeq
    Caches.release()
    assert(kept == Seq(0L), s"chain should collapse to doc 0, got $kept")
  }

  test("driver union-find and distributed label propagation keep identical survivors") {
    val docs = corpus()
    val viaUnionFind = Dedup.dropDuplicatesNear(docs, "id", "text", 0.8)
      .select("id").orderBy("id").collect().toSeq
    Caches.release()
    // collectEdgeThreshold = -1 forces the distributed propagation loop
    val viaLoop = Dedup.dropDuplicatesNear(docs, "id", "text", 0.8, collectEdgeThreshold = -1L)
      .select("id").orderBy("id").collect().toSeq
    Caches.release()
    assert(viaUnionFind == viaLoop && viaUnionFind.nonEmpty)
  }

  test("corpus with no near-dups keeps every doc (empty edge set, both routes)") {
    // disjoint word blocks, no copies → zero rep pairs
    val docs = spark.range(50).select(col("id"),
      concat_ws(" ", (0 until 10).map(j =>
        concat(lit("u"), (col("id") * 10 + lit(j)).cast("string"))): _*).as("text"))
    for (thresholdForce <- Seq(1L << 22, -1L)) {
      val kept = Dedup.dropDuplicatesNear(docs, "id", "text", 0.8,
          collectEdgeThreshold = thresholdForce)
        .select("id").orderBy("id").collect().map(_.getLong(0)).toSeq
      Caches.release()
      assert(kept == (0L until 50L), s"route $thresholdForce dropped docs")
    }
  }

  test("string ids work on both CC routes and keep the same (UTF8-min) survivors") {
    // near-dup cluster with string ids: route choice must not change the
    // supported id types or the chosen minimum
    val rows = (0 until 6).map { v =>
      (f"doc-${9 - v}%02d", (v * 2 until v * 2 + 40).map(i => s"w$i").mkString(" "))
    }
    import spark.implicits._
    val docs = rows.toDF("id", "text") // ids doc-09..doc-04; min = doc-04
    val viaUnionFind = Dedup.dropDuplicatesNear(docs, "id", "text", 0.8)
      .select("id").collect().map(_.getString(0)).toSeq.sorted
    Caches.release()
    val viaLoop = Dedup.dropDuplicatesNear(docs, "id", "text", 0.8, collectEdgeThreshold = -1L)
      .select("id").collect().map(_.getString(0)).toSeq.sorted
    Caches.release()
    assert(viaUnionFind == viaLoop)
    assert(viaUnionFind.contains("doc-04"))
  }

  test("edge budget is byte-aware: wide string ids engage the distributed route") {
    // budget math (bytes per edge): two 8-byte ids keep the calibrated
    // threshold; string ids shrink it by (utf8 width + JVM overhead) / 8
    // per endpoint
    assert(Graph.driverEdgeBudget(1L << 22, 2 * 8.0) == (1L << 22))
    assert(Graph.driverEdgeBudget(1L << 22, 2 * 148.0) < (1L << 22) / 16)

    // same cluster shape twice, same tiny edge count, same threshold — the
    // only difference is id WIDTH. Long ids fit the 8-edge budget (driver
    // route); ~200-byte string ids blow it (distributed route engages),
    // and both keep identical survivors.
    def texts(v: Int) = (v * 2 until v * 2 + 40).map(i => s"w$i").mkString(" ")
    import spark.implicits._
    val longIds = (0 until 4).map(v => (v.toLong, texts(v))).toDF("id", "text")
    val wide = "u" * 190
    val wideIds = (0 until 4).map(v => (s"$wide-$v", texts(v))).toDF("id", "text")

    val keptLong = Dedup.dropDuplicatesNear(longIds, "id", "text", 0.8, collectEdgeThreshold = 8L)
      .select("id").collect().map(_.getLong(0)).toSeq
    val longRoute = Route.last(spark, "cc")
    Caches.release()
    val keptWide = Dedup.dropDuplicatesNear(wideIds, "id", "text", 0.8, collectEdgeThreshold = 8L)
      .select("id").collect().map(_.getString(0)).toSeq
    val wideRoute = Route.last(spark, "cc")
    Caches.release()
    assert(longRoute == "driver", s"8-byte ids within the edge budget should collect, took $longRoute")
    assert(wideRoute == "distributed", s"wide ids must engage the distributed route, took $wideRoute")
    assert(keptLong == Seq(0L))
    assert(keptWide == Seq(s"$wide-0"))
  }

  test("no collect_list anywhere in the materializer or pair plans") {
    val docs = corpus()
    for (df <- Seq(
        Dedup.dropDuplicatesNear(docs, "id", "text", 0.8),
        Dedup.nearDupPairs(docs, "id", "text", 0.8))) {
      val plan = df.queryExecution.optimizedPlan.toString
      assert(!plan.contains("collect_list"),
        "near-dup plans must never aggregate unbounded id arrays")
      Caches.release()
    }
  }
}
