package graft

import graft.operators.{MapRule, Mapper}
import graft.streaming.{StreamPipeline, StreamSessionize}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("stream pipeline: map+clean then stateful last-write-wins dedupe") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(String, String, String, Long)]
    val feed = in.toDF().toDF("raw_upc", "raw_price", "raw_qty", "seq")

    val mapped = Mapper.mapColumns(feed,
      Seq(MapRule("upc", "raw_upc"), MapRule("price", "raw_price"),
        MapRule("qty", "raw_qty"), MapRule("seq", "seq")),
      supplierId = 5L, version = 2L)
    val deduped = StreamPipeline.latestPerKey(mapped, "upc", "seq")

    val query = deduped.writeStream.format("memory").queryName("dedup_out")
      .outputMode("update").start()
    try {
      in.addData(("0-111", "10,5", "3 pcs", 1L), ("0-111", "11.0", "4", 2L), ("0-222", "7", "1", 3L))
      query.processAllAvailable()
      val out = spark.table("dedup_out")
        .groupBy("upc").agg(max_by(struct("price", "qty", "seq"), col("seq")).as("r"))
        .select("upc", "r.price", "r.qty", "r.seq").orderBy("upc").collect()
      assert(out.map(r => (r.getString(0), r.getDouble(1), r.getLong(2), r.getLong(3))).toSeq ==
        Seq(("0111", 11.0, 4L, 2L), ("0222", 7.0, 1L, 3L)))
    } finally query.stop()
  }

  test("file-source stream over the real events table (kafka stand-in)") {
    import java.nio.file.{Files, Paths}
    import org.apache.spark.sql.functions._
    val src = Files.createTempDirectory("evt").toString
    Files.copy(Paths.get(s"$sfDir/events.parquet"), Paths.get(src, "events.parquet"))
    val schema = spark.read.parquet(s"$sfDir/events.parquet").schema
    val stream = spark.readStream.schema(schema).parquet(src)
    assert(stream.isStreaming)
    val agg = stream
      .select(GraftSession.eventTsMs(stream).as("ts_ms"), col("value"))
      .select(expr("ts_ms DIV 3600000 * 3600000").as("w"), col("value"))
      .groupBy("w").agg(count(lit(1)).as("n"))
    val q = agg.writeStream.format("memory").queryName("evt_stream")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      assert(spark.table("evt_stream").agg(sum("n")).first().getLong(0) == 1000L)
    } finally q.stop()
  }

  test("stateful sessionization: gap splits sessions, watermark closes them") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Long, Long, Long)]
    val events = in.toDF().toDF("user_id", "ts_ms", "value_u")
    def ms(ts: String) = Timestamp.valueOf(ts).getTime
    val (userA, userB) = (1L, 2L)

    val sessions = StreamSessionize.sessionize(events, gap = "30 minutes")
    val q = sessions.writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    try {
      // user A: two events 10 min apart (one session), then 2h silence,
      // then another event (second session); values in micro-units
      in.addData(
        (userA, ms("2024-01-01 00:00:00"), 1000000L),
        (userA, ms("2024-01-01 00:10:00"), 2000000L))
      q.processAllAvailable()
      in.addData((userA, ms("2024-01-01 02:10:00"), 5000000L))
      q.processAllAvailable()
      // advance the watermark far enough to close the open session
      in.addData((userB, ms("2024-01-01 09:00:00"), 500000L))
      q.processAllAvailable()
      in.addData((userB, ms("2024-01-01 23:00:00"), 500000L))
      q.processAllAvailable()

      val out = spark.table("sess_out").orderBy("user_id", "session_start_ms").collect()
      val a = out.filter(_.getAs[Long]("user_id") == userA)
      assert(a.length == 2, s"expected 2 closed sessions for A, got ${out.mkString(";")}")
      assert(a(0).getAs[Long]("n_events") == 2 && a(0).getAs[Long]("value_u") == 3000000L)
      assert(a(1).getAs[Long]("n_events") == 1 && a(1).getAs[Long]("value_u") == 5000000L)
    } finally q.stop()
  }

  test("watermarked windowed agg over an event stream") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Timestamp, String, Double)]
    val events = in.toDF().toDF("ts", "event_type", "value")

    val agg = StreamPipeline.windowedAgg(events, "ts", "event_type", "1 hour", "2 hours")
    val query = agg.writeStream.format("memory").queryName("win_out")
      .outputMode("update").start()
    try {
      in.addData(
        (Timestamp.valueOf("2024-01-01 00:10:00"), "buy", 1.5),
        (Timestamp.valueOf("2024-01-01 00:50:00"), "buy", 2.5),
        (Timestamp.valueOf("2024-01-01 01:10:00"), "buy", 4.0))
      query.processAllAvailable()
      val out = spark.table("win_out").orderBy("window_start").collect()
      assert(out.length == 2)
      assert(out.head.getAs[Long]("n") == 2 && out.head.getAs[Double]("sum_value") == 4.0)
    } finally query.stop()
  }
}
