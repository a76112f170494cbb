package graft

import org.apache.spark.sql.SparkSession

/** Dev tool: time registered queries N times at a target SF, each fully
  * evaluated with [[Bench.evaluate]]'s `noop` write, and print each one's
  * formatted physical plan — for reconciling driver-bench regressions
  * (`runMain graft.Diag <name>[,<name>...] <sfDir> <cpus> [runs]`).
  */
object Diag {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val cpus  = if (args.length > 2) args(2) else "32"
    val runs  = if (args.length > 3) args(3).toInt else 3
    val spark = GraftSession.tune(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    for (name <- names) {
      val fn = SparkEntry.queries(name)
      // warmup on the sibling sf0.001 tables like Bench does
      try Bench.evaluate(fn(spark, new java.io.File(new java.io.File(sfDir).getParentFile,
        "sf0.001").getPath)) catch { case _: Throwable => () }
      graft.operators.Caches.release()
      val times = (1 to runs).map { _ =>
        val t0 = System.nanoTime()
        Bench.evaluate(fn(spark, sfDir))
        (System.nanoTime() - t0) / 1e9
      }
      graft.operators.Caches.release()
      println(s"== $name  runs=${times.map(t => f"$t%.3f").mkString(",")}  min=${f"${times.min}%.3f"}")
      println(fn(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
