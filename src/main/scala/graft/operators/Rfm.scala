package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

/** RFM (recency / frequency / monetary) customer segmentation — the
  * classic product-analytics cut of an orders stream: per customer, days
  * since last order, order count, and total spend, each scored into
  * quintiles, concatenated into the familiar 111–555 segment code.
  *
  * Determinism contract: the base stats are exact integers (epoch-micros
  * recency, count, micro-unit spend), and the quintile cuts come from
  * [[Curation.lengthPercentiles]]' lossless histogram CDF (smallest value
  * whose cumulative count ≥ ⌈p·n⌉) — so a score is a pure integer
  * comparison against four broadcast thresholds, bit-identical on any
  * partitioning. Ties score identically by construction (score = 1 +
  * #thresholds strictly below the value).
  *
  * Scale shape: one map-side-combined per-customer aggregation; ONE
  * global max as a 1-row broadcast; three percentile probes over the
  * |customers|-histogram (never row bodies); scoring is a scan-stage
  * projection against literal-ish broadcast thresholds.
  */
object Rfm {

  def rfm(orders: DataFrame, custCol: String, tsCol: String,
          amountCol: String): DataFrame = {
    val base = Caches.persist(orders.select(col(custCol).as("cust"),
        unix_micros(col(tsCol).cast(TimestampType)).as("ts_us"),
        round(col(amountCol).cast("double") * lit(1000000.0)).cast("long").as("amt_u"))
      .groupBy("cust")
      .agg(max("ts_us").as("last_us"), count(lit(1)).as("frequency"),
        sum("amt_u").as("monetary_u")))

    val withR = Caches.persist(base
      .crossJoin(broadcast(base.agg(max("last_us").as("gmax"))))
      .select(col("cust"), expr("(gmax - last_us) div 86400000000").as("recency_days"),
        col("frequency"), col("monetary_u")))

    val ps = Seq(0.2, 0.4, 0.6, 0.8)
    def cuts(dim: String, prefix: String): DataFrame =
      Curation.lengthPercentiles(withR.withColumn("__g", lit(1)), "__g", dim, ps)
        .select(ps.map(p => col(s"p${math.round(p * 100)}").as(s"${prefix}${math.round(p * 100)}")): _*)
    def quintile(v: Column, prefix: String): Column =
      lit(1) + ps.map(p => when(v > col(s"${prefix}${math.round(p * 100)}"), 1).otherwise(0))
        .reduce(_ + _)

    withR
      .crossJoin(broadcast(cuts("recency_days", "r")))
      .crossJoin(broadcast(cuts("frequency", "f")))
      .crossJoin(broadcast(cuts("monetary_u", "m")))
      .select(col("cust"), col("recency_days"), col("frequency"), col("monetary_u"),
        (lit(6) - quintile(col("recency_days"), "r")).as("r_score"), // recent = high
        quintile(col("frequency"), "f").as("f_score"),
        quintile(col("monetary_u"), "m").as("m_score"))
      .withColumn("rfm",
        col("r_score") * lit(100) + col("f_score") * lit(10) + col("m_score"))
  }
}
