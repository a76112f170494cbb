package graft.operators

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

import scala.concurrent.Await
import scala.concurrent.duration._
import scala.util.Try

/** Per-run pipeline stats, the Spark-native form of the reference's
  * `ConsumerCommand::outputStats` (/root/reference/src/Command/
  * ConsumerCommand.php:100-110): the reference prints processing time and
  * memory after each message; a distributed run's equivalent health
  * numbers are row counts and key quality, collected for FREE on the rows
  * already flowing through the action via `Dataset.observe` — no second
  * pass, no extra job.
  */
object Metrics {

  final case class RunStats(rows: Long, nonNullKeys: Long, elapsedMs: Long) {
    def render(label: String): String =
      s"SUCCESS: $label | Rows: $rows | Keyed: $nonNullKeys | Time: ${elapsedMs / 1000.0}s"
  }

  /** Attach observation metrics to a feed; returns the instrumented frame
    * and a handle readable AFTER the first action on it.
    */
  def attach(df: DataFrame, keyCol: String): (DataFrame, Observation) = {
    val obs = new Observation()
    (df.observe(obs, count(lit(1)).as("rows"), count(col(keyCol)).as("non_null_keys")), obs)
  }

  /** Run `action` on the instrumented frame and return its stats. The
    * observed metrics are awaited for at most [[StatsWait]]: an action-less
    * sink never completes the observation, and must yield zero stats
    * instead of blocking the consumer forever.
    */
  def timed[T](df: DataFrame, keyCol: String)(action: DataFrame => T): (T, RunStats) = {
    val (instrumented, obs) = attach(df, keyCol)
    val t0 = System.nanoTime()
    val result = action(instrumented)
    val row = Try(Await.result(obs.future, StatsWait)).toOption
    def stat(name: String) = row.fold(0L)(_.getAs[Long](name))
    (result, RunStats(stat("rows"), stat("non_null_keys"), (System.nanoTime() - t0) / 1000000L))
  }

  /** How long [[timed]] waits for observed metrics after the sink returns:
    * they arrive on the listener bus shortly after the action ends, so the
    * bound is only reached by a sink that ran no action on the frame.
    */
  val StatsWait: FiniteDuration = 2.seconds
}
