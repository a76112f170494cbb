package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Skew- and layout-management operators (SURVEY.md §4). AQE handles most
  * runtime skew; these are the explicit tools for when the skew is known
  * ahead of time (hot keys in a fact⋈fact join) or the layout should be
  * decided at write time (repeated co-located joins on one key).
  */
object Scale {

  /** Salted equi-join for skewed left (fact) sides: the left's hot keys
    * spread over `salts` sub-keys; the right side replicates each row
    * `salts` times. Correct for 1:N joins where the right is the "1" side.
    *
    * At 100 TB: a single hot key (null-ish UPCs, boilerplate fingerprints)
    * otherwise pins one reducer; salting caps per-task input at
    * |hot key| / salts at the cost of replicating the small side.
    */
  def saltedJoin(left: DataFrame, right: DataFrame, key: String, salts: Int,
                 joinType: String = "inner"): DataFrame = {
    require(salts > 0, "salts must be positive")
    val saltedLeft = left.withColumn("__salt", (rand(seed = 7) * salts).cast("int"))
    val saltedRight = right.withColumn("__salt",
      explode(sequence(lit(0), lit(salts - 1))))
    saltedLeft.join(saltedRight,
        saltedLeft(key) === saltedRight(key) && saltedLeft("__salt") === saltedRight("__salt"),
        joinType)
      .drop(saltedRight(key)).drop("__salt")
  }

  /** Distributed global row number 1..N in `orderCols` order — the
    * scale-correct replacement for `row_number() OVER (ORDER BY …)`, whose
    * empty window frame moves ALL data to one task.
    *
    * Mechanics (the zipWithIndex pattern, kept inside Catalyst): range-
    * partition on the order columns, number rows per partition with a
    * partition-local window, then add each partition's starting offset —
    * a driver-side cumulative sum over the ≤ `partitions` per-partition
    * counts, looked up via a literal map (no broadcast join, no
    * single-partition window anywhere). Rows tying on `orderCols` get
    * arbitrary relative order, exactly like the window formulation.
    *
    * Costs one extra pass for the counts; the range-partitioned frame is
    * pinned through [[Caches]] between the two jobs —
    * long-running callers release via `Caches.release()`.
    */
  def globalRowNumber(df: DataFrame, orderCols: Seq[String], out: String = "row_idx",
                      partitions: Int = 0): DataFrame = {
    val cols = orderCols.map(col)
    val n = if (partitions > 0) partitions
            else df.sparkSession.sessionState.conf.numShufflePartitions
    // monotonically_increasing_id over the range-sorted frame encodes
    // (partitionId << 33) | in-order-offset — a partition-local row number
    // with NO window and no second shuffle
    val sorted = Caches.persist(df.repartitionByRange(n, cols: _*)
      .sortWithinPartitions(cols: _*)
      .withColumn("__mid", monotonically_increasing_id()))
    val pid = shiftright(col("__mid"), 33)
    val localOff = col("__mid").bitwiseAND(lit((1L << 33) - 1))
    val counts = sorted.groupBy(pid.as("__pid")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val offsets = counts.sortBy(_._1)
      .scanLeft((-1L, 0L, 0L)) { case ((_, acc, _), (p, c)) => (p, acc + c, acc) }
      .drop(1)
    val offExpr =
      if (offsets.isEmpty) lit(0L)
      else coalesce(element_at(
        map(offsets.toIndexedSeq.flatMap { case (p, _, off) => Seq(lit(p), lit(off)) }: _*), pid), lit(0L))
    sorted
      .withColumn(out, (offExpr + localOff + lit(1L)).cast("long"))
      .drop("__mid")
  }

  /** Shared skeleton of the distributed running aggregates: range-partition
    * on the order columns (equal keys land in one partition, so ties never
    * straddle a boundary), stamp the partition id, persist. The per-pid
    * groups are the units both the partition-local window and the
    * driver-side prefix combine run over.
    */
  private def rangeStamped(df: DataFrame, orderCols: Seq[String]): DataFrame = {
    val cols = orderCols.map(col)
    val n = df.sparkSession.sessionState.conf.numShufflePartitions
    val stamped = Caches.persist(df.repartitionByRange(n, cols: _*)
      .sortWithinPartitions(cols: _*)
      .withColumn("__pid", spark_partition_id().cast("long")))
    stamped
  }

  /** The prefix scans accumulate `valueCol` as long; a fractional value
    * column would silently truncate, so integral input types only.
    */
  private def requireIntegral(df: DataFrame, c: String, op: String): Unit = {
    val t = df.schema(c).dataType
    require(Seq("ByteType", "ShortType", "IntegerType", "LongType")
        .contains(t.toString),
      s"$op valueCol '$c' must be integral, got $t")
  }

  /** Distributed running SUM of `valueCol` in `orderCols` order (frame =
    * unbounded preceding .. current row) — the scale-correct replacement
    * for `SUM() OVER (ORDER BY …)` with an empty PARTITION BY, which moves
    * every row to one task. Partition-local running sums ride a per-pid
    * window; each partition's starting offset is a driver-side prefix sum
    * over the ≤ `spark.sql.shuffle.partitions` per-partition totals,
    * injected as a literal map (control-plane-sized, no broadcast join).
    *
    * Rows tying on `orderCols` scan in arbitrary relative order (exactly
    * like the window formulation) — callers that need row-deterministic
    * intermediate values must either pin a full tie-break in `orderCols`
    * or make tied rows value-identical (then any permutation yields the
    * same running sequence).
    */
  def runningSum(df: DataFrame, orderCols: Seq[String], valueCol: String,
                 out: String): DataFrame = {
    requireIntegral(df, valueCol, "runningSum")
    val stamped = rangeStamped(df, orderCols)
    val totals = stamped.groupBy("__pid").agg(sum(col(valueCol).cast("long")).as("t"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
    val offsets = totals
      .scanLeft((-1L, 0L, 0L)) { case ((_, acc, _), (p, t)) => (p, acc + t, acc) }
      .drop(1)
    val offExpr =
      if (offsets.isEmpty) lit(0L)
      else coalesce(element_at(
        map(offsets.toIndexedSeq.flatMap { case (p, _, off) => Seq(lit(p), lit(off)) }: _*),
        col("__pid")), lit(0L))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("__pid")
      .orderBy(orderCols.map(col): _*)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    stamped.withColumn(out, offExpr + sum(col(valueCol).cast("long")).over(w)).drop("__pid")
  }

  /** Distributed running MAX of `valueCol` over rows STRICTLY BEFORE the
    * current one in `orderCols` order (null when nothing precedes) — the
    * scan behind dominance/skyline tests ("best value among everything
    * cheaper than me"). Same two-level shape as [[runningSum]]; the
    * strict frame means equal order keys must NOT see each other, so
    * `orderCols` must be unique per row (one row per distinct key —
    * aggregate first).
    */
  def strictPrefixMax(df: DataFrame, orderCols: Seq[String], valueCol: String,
                      out: String): DataFrame = {
    requireIntegral(df, valueCol, "strictPrefixMax")
    val stamped = rangeStamped(df, orderCols)
    val maxes = stamped.groupBy("__pid").agg(max(col(valueCol).cast("long")).as("m"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
    // prefix max over PRECEDING partitions: None for the first
    val offsets = maxes
      .scanLeft((-1L, Option.empty[Long], Option.empty[Long])) {
        case ((_, acc, _), (p, m)) => (p, Some(acc.fold(m)(math.max(_, m))), acc)
      }
      .drop(1)
    val offExpr =
      if (offsets.isEmpty) lit(null).cast("long")
      else element_at(
        map(offsets.toIndexedSeq.flatMap { case (p, _, off) =>
          Seq(lit(p), off.map(lit(_)).getOrElse(lit(null).cast("long"))) }: _*),
        col("__pid"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("__pid")
      .orderBy(orderCols.map(col): _*)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    // greatest skips nulls: local-prefix null (first row of a partition) or
    // offset null (first partition) fall back to the other side; both null
    // (global first row) stays null
    stamped
      .withColumn(out, greatest(max(col(valueCol).cast("long")).over(w), offExpr))
      .drop("__pid")
  }

  /** Write a frame bucketed+sorted by the join key. Two tables bucketed the
    * same way join with ZERO exchange on either side — the layout-time
    * answer to "this key is joined every night".
    */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, key)
      .sortBy(key)
      .format("parquet")
      .saveAsTable(table)

  /** Join two bucketed tables on their bucket key (exchange-free when both
    * sides were written with [[writeBucketed]] and the same bucket count).
    */
  def bucketedJoin(spark: SparkSession, leftTable: String, rightTable: String,
                   key: String): DataFrame =
    spark.table(leftTable).join(spark.table(rightTable), key)
}
