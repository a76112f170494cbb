package graft

import graft.operators.Dict
import org.apache.spark.sql.functions._

/** Dictionary encoding (`Dict`): frequency-desc dense codes with the
  * lexicographic tie break, OOV null contract, and broadcast encode plan.
  */
class DictSpec extends SparkSpec {
  import spark.implicits._

  test("codes are dense, frequency-desc, value-asc on ties") {
    val rows = (Seq.fill(5)("b") ++ Seq.fill(5)("a") ++ Seq.fill(2)("z") ++ Seq("m"))
      .toDF("v")
    val d = Dict.build(rows, "v").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._3)
    // ties (a,b both 5) break lexicographically: a first
    assert(d.toSeq == Seq(("a", 5L, 0L), ("b", 5L, 1L), ("z", 2L, 2L), ("m", 1L, 3L)))
  }

  test("encode joins codes back; out-of-vocabulary is null, not miscoded") {
    val dict = Dict.build(Seq("a", "a", "b").toDF("v"), "v")
    val enc = Dict.encode(Seq("a", "b", "NEW").toDF("v"), dict, "v")
    val opt = enc.queryExecution.optimizedPlan.toString
    val got = enc.collect().map(r => r.getString(0) ->
      (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(got == Map("a" -> Some(0L), "b" -> Some(1L), "NEW" -> None))
  }

  test("nulls are not vocabulary: excluded from build, encode to null code") {
    val dict = Dict.build(Seq(Some("a"), Some("a"), None, Some("b")).toDF("v"), "v")
    // the null group must NOT hold a code (it would be dead: === never matches)
    assert(dict.collect().forall(r => r.getString(0) != null))
    assert(dict.count() == 2)
    val enc = Dict.encode(Seq(Some("a"), None).toDF("v"), dict, "v").collect()
      .map(r => Option(r.getString(0)) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(enc == Map(Some("a") -> Some(0L), (None: Option[String]) -> None))
  }

  test("bigVocab route: two-level rank assigns identical codes, no broadcast in encode") {
    // skewed counts + a tie block — (n desc, value) is total post-agg, so
    // the two-level numbering must agree with the window exactly
    val rows = (1 to 400).flatMap(i => Seq.fill(1 + i % 7)(s"v${i % 97}")).toDF("v")
    val small = Dict.build(rows, "v").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._3).toSeq
    val big = Dict.build(rows, "v", bigVocab = true).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._3).toSeq
    assert(big == small)
    // big-vocab build must not run a single global window over the vocab
    val bigPlan = Dict.build(rows, "v", bigVocab = true).queryExecution.optimizedPlan.toString
    assert(!bigPlan.contains("Window"), s"bigVocab build still windows globally:\n$bigPlan")
    // non-broadcast encode: no broadcast HINT on the dict side (the planner
    // may still pick broadcast for a genuinely tiny frame from stats — the
    // contract is that a corpus-scale dictionary is never FORCED through one)
    val dictBig = Dict.build(rows, "v", bigVocab = true)
    val encNoHint = Dict.encode(rows, dictBig, "v", broadcastDict = false)
    val hinted = Dict.encode(rows, dictBig, "v")
    assert(hinted.queryExecution.optimizedPlan.toString.contains("broadcast"))
    assert(!encNoHint.queryExecution.optimizedPlan.toString.contains("broadcast"),
      s"broadcastDict=false still hints broadcast:\n${encNoHint.queryExecution.optimizedPlan}")
    assert(encNoHint.filter(col("code").isNull).count() == 0)
    graft.operators.Caches.release()
  }

  test("dictionary on the real vocabulary is a pure function of counts") {
    val d = queries.AnalyticsQueries.qDictEncode(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // dense from 0
    assert(d.map(_._3).toSeq == d.indices.map(_.toLong))
    // counts non-increasing along codes; equal counts ordered by value
    d.sliding(2).foreach { case Array(a, b) =>
      assert(a._2 > b._2 || (a._2 == b._2 && a._1 < b._1))
    }
    // driver model: recompute the assignment from raw counts
    val counts = spark.read.parquet(s"$sfDir/part.parquet")
      .groupBy("p_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1))
    val model = counts.sortBy { case (v, n) => (-n, v) }.zipWithIndex
      .map { case ((v, n), i) => (v, n, i.toLong) }
    assert(d.toSeq == model.toSeq)
  }
}
