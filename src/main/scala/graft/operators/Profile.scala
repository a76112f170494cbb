package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Data-profiling report — the first thing an ETL pipeline runs on an
  * unfamiliar feed (the reference validates incoming EDI feeds field by
  * field before mapping them; this is that check as one declarative pass):
  * per column, the row/null/distinct counts and min/max.
  *
  * Determinism contract: every profiled value is normalized to an EXACT
  * domain before any aggregate touches it — integers as-is, floating
  * point in micro-units (the [[KMeans.quantize]] recipe), timestamps as
  * epoch microseconds, strings native (binary collation on both
  * engines) — so min/max/distinct are bit-identical regardless of
  * partitioning and the whole report sits under the hash gate.
  *
  * Scale shape: ONE aggregation job over the table. The distinct counts
  * make it an Expand plan (one projection per distinct group + one for
  * the plain aggregates, so a c-column profile scans c+1 row-images) with
  * map-side partial aggregation; that is the exact-count trade. At 100 TB
  * profile with the HLL register table ([[Sketch]]) instead and keep this
  * pass for the slices where exactness is the requirement. The final
  * per-column pivot is a driver-free explode of one literal-shaped row.
  */
object Profile {

  /** One profile row per column of `df`:
    * (col_name, n_rows, n_null, n_distinct, min_num, max_num, min_str,
    * max_str) — numeric-like columns fill the `_num` pair (BIGINT exact
    * domain), strings the `_str` pair; the other pair is NULL.
    */
  def profile(df: DataFrame): DataFrame = {
    val fields = df.schema.fields.toSeq

    // (normalized column, isNumericLike)
    def norm(f: StructField): (Column, Boolean) = f.dataType match {
      case ByteType | ShortType | IntegerType | LongType | BooleanType =>
        (col(f.name).cast("long"), true)
      case FloatType | DoubleType =>
        (round(col(f.name).cast("double") * lit(1000000.0)).cast("long"), true)
      // session TZ is pinned UTC (GraftSession.tune), so the NTZ→timestamp
      // cast is instant-preserving and matches the oracle's epoch_us
      case TimestampType | TimestampNTZType =>
        (unix_micros(col(f.name).cast(TimestampType)), true)
      case StringType    => (col(f.name), false)
      case dt => throw new IllegalArgumentException(
        s"Profile.profile: unsupported column type ${f.name}: $dt")
    }

    val aggs: Seq[Column] = count(lit(1)).as("__n") +: fields.flatMap { f =>
      val (c, _) = norm(f)
      Seq(count(c).as(s"__nn_${f.name}"),
        countDistinct(c).as(s"__nd_${f.name}"),
        min(c).as(s"__mn_${f.name}"),
        max(c).as(s"__mx_${f.name}"))
    }
    val one = df.agg(aggs.head, aggs.tail: _*)

    val rows = fields.map { f =>
      val num = norm(f)._2
      struct(
        lit(f.name).as("col_name"),
        col("__n").as("n_rows"),
        (col("__n") - col(s"__nn_${f.name}")).as("n_null"),
        col(s"__nd_${f.name}").as("n_distinct"),
        (if (num) col(s"__mn_${f.name}").cast("long")
         else lit(null).cast("long")).as("min_num"),
        (if (num) col(s"__mx_${f.name}").cast("long")
         else lit(null).cast("long")).as("max_num"),
        (if (num) lit(null).cast("string")
         else col(s"__mn_${f.name}").cast("string")).as("min_str"),
        (if (num) lit(null).cast("string")
         else col(s"__mx_${f.name}").cast("string")).as("max_str"))
    }
    one.select(explode(array(rows: _*)).as("r")).select("r.*")
  }

  /** Distribution DRIFT between two snapshots of the same table: per
    * monitored column, the total-variation distance between the two
    * value distributions — the monitoring gate that catches a crawl,
    * lang-ID, or upstream-schema regression BEFORE the new snapshot
    * enters a training mix. Returns one (column, tv) row per monitored
    * column; tv ∈ [0, 1], 0 = identical distributions.
    *
    * Exactness: TV = ½·Σ|pA − pB| computed as ONE division of exact
    * integers — Σ|cntA·totB − cntB·totA| / (2·totA·totB) — with the
    * products summed as decimal(38,0) (the [[Pca]] overflow contract:
    * cnt·tot exceeds Long past ~3e9-row snapshots). Numeric columns
    * drift-monitor through an exact bucketing BEFORE calling this (a
    * categorical lens keeps the metric distribution-free).
    *
    * Scale: per column one value-grain count agg per side, one
    * full-outer join on the value (vocabulary-sized), totals broadcast
    * back as a 1-row frame. Snapshot rows never move twice.
    */
  def drift(a: DataFrame, b: DataFrame, cols: Seq[String]): DataFrame = {
    val perCol = cols.map { c =>
      val ca = a.groupBy(col(c).cast("string").as("va")).agg(count(lit(1)).as("ca"))
      val cb = b.groupBy(col(c).cast("string").as("vb")).agg(count(lit(1)).as("cb"))
      // null-safe key: NULL is a real distribution value here (a column
      // that is 30% null in both snapshots must report tv = 0, not 0.3);
      // a plain equi-join would orphan both null rows and double-count
      val j = Caches.persist(ca.join(cb, ca("va") <=> cb("vb"), "full_outer")
        .select(coalesce(col("ca"), lit(0L)).as("ca"), coalesce(col("cb"), lit(0L)).as("cb")))
      val tot = j.agg(sum("ca").as("ta"), sum("cb").as("tb"))
      j.crossJoin(broadcast(tot))
        .agg(
          sum(abs(col("ca").cast("decimal(19,0)") * col("tb") -
            col("cb").cast("decimal(19,0)") * col("ta"))).as("num"),
          max("ta").as("ta"), max("tb").as("tb"))
        .select(lit(c).as("column"),
          (col("num").cast("double") /
            (lit(2).cast("decimal(19,0)") * col("ta") * col("tb")).cast("double")).as("tv"))
    }
    perCol.reduce(_.unionByName(_))
  }
}
