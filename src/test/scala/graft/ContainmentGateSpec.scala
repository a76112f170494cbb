package graft

import graft.operators.Containment
import graft.streaming.ContainmentGate
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Streaming containment gate: stream admissions equal sequential batch
  * probes, truncations of EARLIER ADMISSIONS are rejected (the case the
  * jaccard gate structurally misses), and a restarted gate over the
  * persisted index equals a continuous run.
  */
class ContainmentGateSpec extends SparkSpec {
  import spark.implicits._

  private def d(id: Long, words: Seq[String]) = (id, words.mkString(" "))
  private val w = (0 until 10).map(i => s"cw$i")
  private val x = (0 until 10).map(i => s"cx$i")
  private val y = (0 until 10).map(i => s"cy$i")

  test("stream admissions equal sequential batch probes; truncation of an admission rejects") {
    implicit val sq = spark.sqlContext
    val corpus = Seq(d(1L, w)).toDF("doc_id", "text")
    val batch1 = Seq(
      d(10L, w.take(6)),            // truncation of corpus doc 1 (containment 1.0) -> rejected
      d(11L, x))                    // fresh -> admitted
    val batch2 = Seq(
      d(20L, x.take(7)),            // truncation of batch-1 ADMISSION 11 -> rejected
      d(21L, x.take(7) ++ Seq("cq1", "cq2", "cq3")), // 7/10 contained -> below 0.9 -> admitted
      d(22L, y))                    // fresh -> admitted

    // word-level shingles (n=1): containment over word sets
    val gate = new ContainmentGate(
      Containment.buildContainmentIndex(corpus, "doc_id", "text", shingleN = 1),
      "doc_id", "text", threshold = 0.9, shingleN = 1)
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
    assert(got.sorted.toSeq == Seq(11L, 21L, 22L))

    // the jaccard gate misses the batch-2 truncation: j(x.take(7), x) = 0.7
    // — below any near-dup threshold that doesn't also collapse 21

    // reference: the same batches probed sequentially in pure batch mode,
    // single code path (probeNotContained == gate admission per batch)
    var idx = corpus
    val ref = Seq(batch1, batch2).flatMap { b =>
      val s = Containment.probeNotContained(idx, b.toDF("doc_id", "text"),
        "doc_id", "text", threshold = 0.9, shingleN = 1)
      idx = idx.unionByName(s)
      s.select("doc_id").collect().map(_.getLong(0))
    }
    assert(got.sorted.toSeq == ref.sorted)
    // index holds one row per admitted doc (+1 initial)
    assert(gate.currentIndex.count() == 4L)
    graft.operators.Caches.release()
  }

  test("recovery: a restarted gate over the persisted index equals a continuous run") {
    restart(java.nio.file.Files.createTempDirectory("cgate_persist").toString + "/index")
  }

  test("recovery over a file: URI reads the persisted admissions back") {
    restart("file:" + java.nio.file.Files.createTempDirectory("cgate_uri").toString + "/index")
  }

  private def restart(dir: String): Unit = {
    val corpus = Seq(d(1L, w)).toDF("doc_id", "text")
    val batch1 = Seq(d(11L, x)).toDF("doc_id", "text")   // fresh -> admitted
    val batch2 = Seq(
      d(20L, x.take(8)),   // truncation of batch-1 ADMISSION -> must reject after restart
      d(21L, y)).toDF("doc_id", "text")                  // fresh -> admitted

    def initial = Containment.buildContainmentIndex(corpus, "doc_id", "text", shingleN = 1)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).toSeq.sorted

    val continuous = new ContainmentGate(initial, "doc_id", "text",
      threshold = 0.8, shingleN = 1)
    val c1 = ids(continuous.admit(batch1))
    val c2 = ids(continuous.admit(batch2))

    val gateA = new ContainmentGate(initial, "doc_id", "text",
      threshold = 0.8, shingleN = 1, persistDir = Some(dir))
    val r1 = ids(gateA.admit(batch1))
    val gateB = new ContainmentGate(initial, "doc_id", "text",
      threshold = 0.8, shingleN = 1, persistDir = Some(dir)) // fresh JVM-equivalent
    val r2 = ids(gateB.admit(batch2))

    assert(r1 == c1 && r1 == Seq(11L))
    assert(r2 == c2 && r2 == Seq(21L),
      "restarted gate must remember batch-1 admissions (20 is contained in admitted 11)")
    val gateC = new ContainmentGate(initial, "doc_id", "text",
      threshold = 0.8, shingleN = 1, persistDir = Some(dir))
    assert(gateC.currentIndex.count() == 3L) // corpus + 2 persisted admissions
    graft.operators.Caches.release()
  }

  test("superset of an admitted doc is admitted (only batch->corpus direction probed)") {
    val corpus = Seq(d(1L, w.take(5))).toDF("doc_id", "text")
    val gate = new ContainmentGate(
      Containment.buildContainmentIndex(corpus, "doc_id", "text", shingleN = 1),
      "doc_id", "text", threshold = 0.9, shingleN = 1)
    val got = gate.admit(Seq(d(30L, w)).toDF("doc_id", "text")) // w ⊇ w.take(5)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(got == Seq(30L), "an ingest never un-admits corpus docs; supersets admit")
    graft.operators.Caches.release()
  }
}
