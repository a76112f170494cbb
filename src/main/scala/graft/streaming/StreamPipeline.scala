package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.GroupStateTimeout

/** Streaming form of the reference pipeline (SURVEY.md §2.1 #9): the
  * reference tails a Kafka topic of supplier feeds and emits normalized rows
  * (/root/reference/src/Command/ConsumerCommand.php,
  * /root/reference/src/Service/Kafka/KafkaProducer.php). Here the same
  * operators run on Structured Streaming frames — `readStream` from a
  * file/Kafka source, the identical `Mapper.mapColumns` (pure projection,
  * so it takes streaming frames unchanged), stateful dedupe, `writeStream`
  * out; gap sessions are [[StreamSessionize]].
  * Kafka itself isn't in this container; sources are file/memory streams,
  * which exercise the identical unbounded-processing semantics.
  */
object StreamPipeline {

  /** Stateful last-write-wins dedupe: keeps, per key, the row with the
    * highest `orderCol` (a long) seen so far and emits it on every update —
    * the streaming twin of KeyedMergeSet's default rule. State is one row
    * per key, partitioned by the grouping key across executors.
    */
  def latestPerKey(df: DataFrame, key: String, orderCol: String): DataFrame = {
    val schema = df.schema
    implicit val rowEnc = Encoders.row(schema)
    implicit val keyEnc = Encoders.STRING
    df.groupByKey((r: Row) => String.valueOf(r.getAs[Any](key)))
      .mapGroupsWithState[Row, Row](GroupStateTimeout.NoTimeout) { (_, rows, state) =>
        val candidates = rows ++ state.getOption.iterator
        val best = candidates.maxBy(_.getAs[Long](orderCol))
        state.update(best)
        best
      }
  }

  /** Watermarked tumbling-window aggregation over an event stream — the
    * streaming twin of AnalyticsQueries.qEventsWindow. Late rows beyond the
    * watermark are dropped; state is bounded by (windows in flight × keys).
    */
  def windowedAgg(events: DataFrame, tsCol: String, keyCol: String,
                  windowLen: String, watermark: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen), col(keyCol))
      .agg(count(lit(1)).as("n"), sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(col("window.start").as("window_start"), col(keyCol), col("n"), col("sum_value"))
}
