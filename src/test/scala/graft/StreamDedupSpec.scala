package graft

import graft.operators.Dedup
import graft.streaming.{NearDupGate, StreamDedup}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming first-seen dedup: cross-batch suppression, min-id winner
  * within a batch, canonical (word-set) mode, and equivalence with the
  * batch materializer when ids follow arrival order.
  */
class StreamDedupSpec extends SparkSpec {
  import spark.implicits._

  private def run(canonical: Boolean)(batches: Seq[Seq[(Long, String)]]): Seq[(Long, String)] = {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val docs = in.toDF().toDF("doc_id", "text")
    val name = s"sd_out_${if (canonical) "c" else "e"}_${batches.map(_.size).sum}"
    val q = StreamDedup.firstSeen(docs, "doc_id", "text", canonical = canonical)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
      spark.table(name).collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sortBy(_._1)
    } finally q.stop()
  }

  test("first occurrence wins across batches; within-batch ties go to min id") {
    val out = run(canonical = false)(Seq(
      Seq((3L, "alpha beta"), (1L, "alpha beta"), (2L, "gamma")),
      Seq((10L, "alpha beta"), (11L, "delta")),   // 10 is a cross-batch dup
      Seq((12L, "  ALPHA   beta "), (13L, "gamma")))) // normalization dups
    assert(out == Seq((1L, "alpha beta"), (2L, "gamma"), (11L, "delta")))
  }

  test("canonical mode also drops word-order/multiplicity variants") {
    val exact = run(canonical = false)(Seq(
      Seq((1L, "alpha beta")), Seq((2L, "beta alpha"), (3L, "alpha beta alpha"))))
    assert(exact.map(_._1) == Seq(1L, 2L, 3L)) // distinct normalized texts
    val canon = run(canonical = true)(Seq(
      Seq((1L, "alpha beta")), Seq((2L, "beta alpha"), (3L, "alpha beta alpha"))))
    assert(canon.map(_._1) == Seq(1L)) // one word set
  }

  test("stream result equals batch dropDuplicatesExact under arrival-order ids") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(col("doc_id") < 300).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sortBy(_._1)
    val batches = docs.grouped(80).toSeq
    val streamed = run(canonical = false)(batches).map(_._1)
    val batch = Dedup.dropDuplicatesExact(
        docs.toDF("doc_id", "text"), "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSeq.sorted
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("stateTtl: dedup holds inside the horizon, idle keys expire and re-admit") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val docs = in.toDF().toDF("doc_id", "text")
    // processAllAvailable NEVER returns under ProcessingTimeTimeout
    // (FlatMapGroupsWithStateExec.shouldRunAnotherBatch is always true, so
    // noNewData never latches) — poll the sink with a deadline instead,
    // and give the engine a real trigger cadence rather than a busy loop
    val q = StreamDedup.firstSeen(docs, "doc_id", "text", stateTtl = Some("1 second"))
      .writeStream.format("memory").queryName("sd_ttl").outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("250 milliseconds"))
      .start()
    def ids(): Seq[Long] =
      spark.table("sd_ttl").select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    def waitFor(cond: => Boolean): Unit = {
      val end = System.currentTimeMillis + 60000
      while (!cond && System.currentTimeMillis < end) Thread.sleep(200)
      assert(cond, s"sink after deadline: ${ids()}")
    }
    try {
      in.addData((1L, "alpha"), (2L, "beta"), (3L, "alpha"))
      waitFor(ids() == Seq(1L, 2L)) // in-horizon dup 3 dropped
      Thread.sleep(3000)            // let the 1s horizon lapse + timeout batch fire
      in.addData((4L, "alpha"))
      waitFor(ids() == Seq(1L, 2L, 4L)) // expired key re-admits
    } finally q.stop()
  }

  test("near-dup gate: stream admissions equal sequential batch probes, index grows") {
    implicit val sq = spark.sqlContext
    def d(id: Long, words: Seq[String]) = (id, words.mkString(" "))
    val w = (0 until 10).map(i => s"w$i") // base 10-word set
    val x = (0 until 10).map(i => s"x$i")
    val y = (0 until 10).map(i => s"y$i")
    val corpus = Seq(d(1L, w)).toDF("doc_id", "text")
    val batch1 = Seq(
      d(10L, w.reverse),            // canonical dup of 1 (j=1) -> rejected
      d(11L, x),                    // fresh -> admitted
      d(12L, w.take(9) :+ "z"))     // j=9/11=0.818 vs 1 -> rejected
    val batch2 = Seq(
      d(20L, x.take(9) :+ "q"),     // near-dup of ADMITTED 11 -> rejected
      d(21L, y))                    // fresh -> admitted

    val gate = new NearDupGate(
      Dedup.buildNearDupIndex(corpus, "doc_id", "text"), "doc_id", "text", threshold = 0.8)
    val got = scala.collection.mutable.ArrayBuffer[Long]()
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch(gate.foreachBatch { s =>
        got ++= s.select("doc_id").collect().map(_.getLong(0))
      })
      .start()
    try {
      in.addData(batch1: _*); q.processAllAvailable()
      in.addData(batch2: _*); q.processAllAvailable()
    } finally q.stop()
    assert(got.sorted.toSeq == Seq(11L, 21L))

    // reference: the same batches probed sequentially in pure batch mode
    var idx = Dedup.buildNearDupIndex(corpus, "doc_id", "text")
    val ref = Seq(batch1, batch2).flatMap { b =>
      val s = Dedup.probeSurvivors(idx, b.toDF("doc_id", "text"), "doc_id", "text", 0.8)
      idx = idx.unionByName(Dedup.buildNearDupIndex(s, "doc_id", "text"))
      s.select("doc_id").collect().map(_.getLong(0))
    }
    assert(got.sorted.toSeq == ref.sorted)
    // index holds one row per distinct admitted word set (+1 initial)
    assert(gate.currentIndex.count() == 3L)
  }

  test("near-dup gate recovery: a restarted gate over the persisted index equals a continuous run") {
    nearDupRestart(java.nio.file.Files.createTempDirectory("gate_persist").toString + "/index")
  }

  test("near-dup gate recovery over a file: URI reads the persisted admissions back") {
    nearDupRestart("file:" + java.nio.file.Files.createTempDirectory("gate_uri").toString + "/index")
  }

  private def nearDupRestart(dir: String): Unit = {
    import spark.implicits._
    def d(id: Long, words: Seq[String]) = (id, words.mkString(" "))
    val w = (0 until 10).map(i => s"rw$i")
    val x = (0 until 10).map(i => s"rx$i")
    val y = (0 until 10).map(i => s"ry$i")
    val corpus = Seq(d(1L, w)).toDF("doc_id", "text")
    val batch1 = Seq(d(11L, x)).toDF("doc_id", "text")               // fresh -> admitted
    val batch2 = Seq(
      d(20L, x.take(9) :+ "q"),    // near-dup of batch-1 ADMISSION -> must be rejected after restart
      d(21L, y)).toDF("doc_id", "text")                               // fresh -> admitted

    def initial = Dedup.buildNearDupIndex(corpus, "doc_id", "text")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).toSeq.sorted

    // continuous run: both batches through one gate (no persistence needed)
    val continuous = new NearDupGate(initial, "doc_id", "text", threshold = 0.8)
    val c1 = ids(continuous.admit(batch1))
    val c2 = ids(continuous.admit(batch2))

    // restarted run: gate 1 persists its admissions, dies; gate 2 recovers
    val gateA = new NearDupGate(initial, "doc_id", "text", threshold = 0.8,
      persistDir = Some(dir))
    val r1 = ids(gateA.admit(batch1))
    val gateB = new NearDupGate(initial, "doc_id", "text", threshold = 0.8,
      persistDir = Some(dir)) // fresh JVM-equivalent: only initial + disk
    val r2 = ids(gateB.admit(batch2))

    assert(r1 == c1 && r1 == Seq(11L))
    assert(r2 == c2 && r2 == Seq(21L),
      "restarted gate must remember batch-1 admissions (20 is a near-dup of admitted 11)")
    // the recovered index also re-persists ITS admissions for the next restart
    val gateC = new NearDupGate(initial, "doc_id", "text", threshold = 0.8,
      persistDir = Some(dir))
    assert(gateC.currentIndex.count() == 3L) // corpus + 2 persisted admissions
    graft.operators.Caches.release()
  }

  test("bloom gate: admissions equal firstSeen/batch dedup; only possible-members pay the exact join") {
    implicit val sq = spark.sqlContext
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(col("doc_id") < 300).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sortBy(_._1)
    val batches = docs.grouped(80).toSeq

    val gate = new graft.streaming.BloomGate(spark, "doc_id", "text", k = 4, m = 1 << 16)
    val got = scala.collection.mutable.ArrayBuffer[Long]()
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch(gate.foreachBatch { s =>
        got ++= s.select("doc_id").collect().map(_.getLong(0))
      })
      .start()
    try {
      batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()

    val batch = Dedup.dropDuplicatesExact(
        docs.toDF("doc_id", "text"), "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSeq.sorted
    assert(got.sorted.toSeq == batch && got.nonEmpty)

    // prefilter accounting: the exact anti-join saw only possible-members —
    // at most the true cross-batch duplicates plus the tiny fp sliver, and
    // strictly fewer rows than the naive always-join (= every distinct
    // fingerprint of batches 2..n; batch 1 probes an empty filter)
    val naive = batches.drop(1).map(b =>
      b.map(_._2).map(t => t.trim.toLowerCase).distinct.size.toLong).sum
    assert(gate.exactJoinRows < naive,
      s"exact join rows ${gate.exactJoinRows} not below naive $naive")
  }

  test("bloom gate: null-text rows are one ordinary dedup key, consistent across batches") {
    val gate = new graft.streaming.BloomGate(spark, "doc_id", "text", k = 4, m = 1 << 12)
    def batch(rows: (java.lang.Long, String)*) =
      rows.toSeq.toDF("doc_id", "text")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).toSeq.sorted
    // first batch: two null-text rows -> min-id one admitted, like any key
    val a1 = ids(gate.admit(batch((5L, null), (2L, null), (1L, "alpha"))))
    assert(a1 == Seq(1L, 2L), s"first batch admitted $a1")
    // second batch: null text must now REJECT (it was admitted in batch 1) —
    // the pre-fix behavior silently dropped the group in steady state and
    // admitted it on the first batch; both eras violated the firstSeen
    // contract one way or the other
    val a2 = ids(gate.admit(batch((10L, null), (11L, "beta"), (12L, "alpha"))))
    assert(a2 == Seq(11L), s"second batch admitted $a2")
    // third batch: still consistent
    val a3 = ids(gate.admit(batch((20L, null))))
    assert(a3 == Seq.empty, s"third batch admitted $a3")
  }

  test("bloom gate exact-set join shape: corpus side streams, small sides broadcast") {
    // the two-step restructure of the left-anti resolve: BroadcastHashJoin
    // only supports BuildRight for semi/anti joins, so both steps must put
    // the SMALL frame on the right — the corpus-sized fps frame is the
    // streamed (left) side of the semi join and appears under no broadcast
    import org.apache.spark.sql.functions.broadcast
    val fps = (0L until 5000L).map(i => s"fp$i").toDF("__fp")
    val possible = Seq("fp1", "fp2", "nope").toDF("__fp")
    val dupKeys = fps.join(broadcast(possible), Seq("__fp"), "left_semi")
    val confirmedNew = possible.join(broadcast(dupKeys), Seq("__fp"), "left_anti")
    val plan = confirmedNew.queryExecution.executedPlan.toString
    val bhj = "BroadcastHashJoin".r.findAllIn(plan).size
    assert(bhj == 2, s"expected both steps as BroadcastHashJoin BuildRight:\n$plan")
    assert(plan.contains("LeftSemi, BuildRight") && plan.contains("LeftAnti, BuildRight"), plan)
    assert(ids(confirmedNew) == Seq("nope"))
  }

  private def ids(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.getString(0)).toSeq.sorted

  test("crawl-frontier firstSeenByKey: canonical-URL variants admit once, distinct resources pass") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val docs = in.toDF().toDF("doc_id", "url")
    val q = StreamDedup.firstSeenByKey(docs, "doc_id",
        graft.functions.Urls.canonicalize(col("url")))
      .writeStream.format("memory").queryName("sd_url").outputMode("append").start()
    try {
      in.addData((1L, "HTTP://WWW.A.com:80/p?utm_source=x&b=2&a=1"), (2L, "http://b.com/q"))
      q.processAllAvailable()
      in.addData((3L, "http://a.com/p?a=1&b=2#frag"), (4L, "http://b.com/q/"),
        (5L, "https://b.com/q"))
      q.processAllAvailable()
      val out = spark.table("sd_url").select("doc_id").collect().map(_.getLong(0)).toSeq.sorted
      // 3 is the canonical twin of 1 (case/www/port/tracking/param-order/
      // fragment all normalize away); 4 is the trailing-slash twin of 2;
      // 5 differs by SCHEME — a different canonical resource, admitted
      assert(out == Seq(1L, 2L, 5L))
    } finally q.stop()
  }

  test("firstSeenByKey: a key stringifying to literal 'null' never collides with the null-key class") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val docs = in.toDF().toDF("doc_id", "url")
    // key on the RAW url column: row 2 carries a genuine null, row 3 the
    // literal text "null" — under the r11 bare-"null" sentinel row 3 would
    // be folded into row 2's state cell and silently dropped
    val q = StreamDedup.firstSeenByKey(docs, "doc_id", col("url"))
      .writeStream.format("memory").queryName("sd_nullkey").outputMode("append").start()
    try {
      in.addData((2L, null: String))
      q.processAllAvailable()
      in.addData((3L, "null"), (4L, null: String))
      q.processAllAvailable()
      val out = spark.table("sd_nullkey").select("doc_id").collect().map(_.getLong(0)).toSeq.sorted
      // 2 admits (first null), 3 admits (distinct literal-"null" class),
      // 4 rejects (second null)
      assert(out == Seq(2L, 3L))
    } finally q.stop()
  }
}
