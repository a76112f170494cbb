package graft

import graft.operators.Metrics
import org.apache.spark.sql.functions._

/** `Metrics.timed` reads the sink's own observed metrics, and never blocks
  * past its bound when the sink runs no action. */
class MetricsSpec extends SparkSpec {

  private def feed = spark.range(0, 10).select(
    when(col("id") % 3 === 0, lit(null)).otherwise(col("id").cast("string")).as("upc"))

  test("a sink that writes returns exact rows and non-null keys") {
    val out = java.nio.file.Files.createTempDirectory("metrics").toString + "/out"
    val (_, stats) = Metrics.timed(feed, "upc")(_.write.mode("overwrite").parquet(out))
    assert(stats.rows == 10 && stats.nonNullKeys == 6, stats)
  }

  test("a sink that runs no action returns zero stats within the bound") {
    val t0 = System.nanoTime()
    val (result, stats) = Metrics.timed(feed, "upc")(_ => "skipped")
    val waitedMs = (System.nanoTime() - t0) / 1000000L
    assert(result == "skipped")
    assert(stats.rows == 0 && stats.nonNullKeys == 0, stats)
    assert(waitedMs >= Metrics.StatsWait.toMillis && waitedMs < Metrics.StatsWait.toMillis + 3000, waitedMs)
  }
}
