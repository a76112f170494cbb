package graft

/** `GraftSession.autoSizeShuffle` derives the AQE initial shuffle width
  * from the input size only when the session has none: an explicit
  * `initialPartitionNum` is the deployment's decision.
  */
class AutoSizeShuffleSpec extends SparkSpec {

  private val conf = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"

  test("an explicitly set initialPartitionNum is left alone") {
    withConf(conf -> "7") {
      assert(GraftSession.autoSizeShuffle(spark, sfDir) === 7)
      assert(spark.conf.get(conf) === "7")
    }
  }

  test("without a setting the width is derived from the input and applied") {
    withConf(conf -> "7") {
      spark.conf.unset(conf)
      val width = GraftSession.autoSizeShuffle(spark, sfDir)
      // sf0.001 is far below one partition per 768 KB: the floor applies,
      // rounded up to a power of two
      assert(width >= spark.sparkContext.defaultParallelism && Integer.bitCount(width) === 1)
      assert(spark.conf.get(conf) === width.toString)
    }
  }
}
