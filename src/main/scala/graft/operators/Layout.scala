package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-layout audit: Z-order (Morton-curve) clustering vs single-column
  * sort, measured by the min/max file-pruning statistics a lakehouse scan
  * actually uses.
  *
  * At 100 TB the cheapest query is the one that never reads the file:
  * parquet row-group and file skipping prune on per-file min/max ranges,
  * so the WRITE-side ordering decides every future scan's I/O. A single
  * -column sort gives perfect pruning on that column and none on any
  * other; interleaving the bits of two quantized columns (the Morton /
  * Z-order curve, Orenstein & Merrett 1984 — the layout behind
  * Delta/Iceberg OPTIMIZE ZORDER) bounds the per-file span on BOTH.
  * This operator is the audit that justifies the rewrite: it lays the
  * table out both ways and reports the average per-file span fraction
  * per dimension — the expected fraction of files a point/range filter
  * must read.
  *
  * Scale shape: quantization bounds come from ONE map-side-combined
  * 1-row agg (broadcast back — no second pass); the z-key is a pure
  * codegen'd integer expression in the scan projection. The global
  * row_number here MODELS the production write (`repartitionByRange`
  * on the z-key + `sortWithinPartitions` + one file per partition —
  * a range shuffle, never a driver sort); the summary then collapses
  * to |files| slim rows and ONE final row per layout.
  */
object Layout {

  /** Morton interleave of the low `bits` bits of `a` (odd positions) and
    * `b` (even positions) — disjoint bit positions, so `+` is `|` and the
    * whole key is one codegen'd integer expression tree.
    */
  def zValue(a: Column, b: Column, bits: Int = 16): Column =
    (0 until bits).flatMap { i =>
      Seq(shiftleft(shiftright(a, i).bitwiseAND(lit(1L)), 2 * i + 1),
          shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), 2 * i))
    }.reduce(_ + _)

  /** The same interleave as ANSI SQL (oracle replay). */
  def zSql(a: String, b: String, bits: Int = 16): String =
    (0 until bits).flatMap { i =>
      Seq(s"(((($a) >> $i) & 1) << ${2 * i + 1})", s"(((($b) >> $i) & 1) << ${2 * i})")
    }.mkString(" + ")

  /** Hilbert-curve index of the cell (x, y) on the 2^bits × 2^bits grid —
    * the classic xy→d walk (Hilbert 1891; the iterative form is the one
    * on every reference card), expressed as ONE fold over bit levels with
    * a (x, y, d) struct accumulator: per level, quadrant bits rx/ry add
    * s²·((3·rx) xor ry) to d, then the frame rotates/reflects. All
    * integer, so the key is engine-exact. Hilbert beats Morton on
    * locality because consecutive d are always ADJACENT cells (Morton
    * jumps at quadrant seams) — aligned 4^j segments are exact subsquares
    * either way, but straddling file boundaries cost less here.
    */
  def hilbertValue(x: Column, y: Column, bits: Int = 16): Column =
    // the native loop expression — the declarative fold below evaluates
    // INTERPRETED (HigherOrderFunction, struct accumulator) at ~µs/row and
    // runs twice under repartitionByRange sampling; measured 278 s cold on
    // q_hilbert_layout at the ×10 corpus vs sub-second with the loop. The
    // fold stays as the spec's independent model and the SQL CTE replay.
    graft.plans.NativeHash.hilbertD(x, y, bits)

  /** The declarative fold formulation — the independent model
    * [[graft.plans.NativeHash.HilbertD]] is spec-checked against (and the
    * shape the DuckDB CTE chain replays level by level).
    */
  def hilbertValueFold(x: Column, y: Column, bits: Int = 16): Column = {
    val levels = array((0 until bits).reverse.map(i => lit(1L << i)): _*)
    val init = struct(x.cast("long").as("x"), y.cast("long").as("y"), lit(0L).as("d"))
    aggregate(levels, init, (acc, s) => {
      val ax = acc.getField("x"); val ay = acc.getField("y"); val ad = acc.getField("d")
      val rx = when(ax.bitwiseAND(s) > 0, lit(1L)).otherwise(lit(0L))
      val ry = when(ay.bitwiseAND(s) > 0, lit(1L)).otherwise(lit(0L))
      val d2 = ad + s * s * (lit(3L) * rx).bitwiseXOR(ry)
      // if ry==0: reflect when rx==1, then swap x/y; else unchanged
      val nx = when(ry === 0, when(rx === 1, s - lit(1L) - ay).otherwise(ay)).otherwise(ax)
      val ny = when(ry === 0, when(rx === 1, s - lit(1L) - ax).otherwise(ax)).otherwise(ay)
      struct(nx.as("x"), ny.as("y"), d2.as("d"))
    }).getField("d")
  }

  /** The same walk as chained SQL CTEs (oracle replay): one `SELECT *
    * REPLACE` per bit level, every REPLACE expression reading the PREVIOUS
    * level's row (standard SQL semantics), from a seed CTE named `fromCte`
    * carrying columns x, y, d.
    */
  def hilbertSqlCtes(fromCte: String, bits: Int = 16): (String, String) = {
    val ctes = (0 until bits).reverse.zipWithIndex.map { case (i, lvl) =>
      val s = 1L << i
      val prev = if (lvl == 0) fromCte else s"h${lvl - 1}"
      s"""h$lvl AS (
         |  SELECT * REPLACE (
         |    CASE WHEN (y & $s) > 0 THEN x
         |         WHEN (x & $s) > 0 THEN $s - 1 - y ELSE y END AS x,
         |    CASE WHEN (y & $s) > 0 THEN y
         |         WHEN (x & $s) > 0 THEN $s - 1 - x ELSE x END AS y,
         |    d + CAST($s AS BIGINT) * $s * xor(3 * (CASE WHEN (x & $s) > 0 THEN 1 ELSE 0 END),
         |                      (CASE WHEN (y & $s) > 0 THEN 1 ELSE 0 END)) AS d
         |  ) FROM $prev)""".stripMargin
    }
    (ctes.mkString(",\n"), s"h${bits - 1}")
  }

  /** Per-layout pruning summary over equal-size files: one row with the
    * file count and, per dimension, the summed span and the average span
    * FRACTION of the domain (what a uniform point filter expects to
    * scan). `orderCols` must be a total order or file assignment is not
    * reproducible.
    */
  private def summary(df: DataFrame, layout: String, rowsPerFile: Int,
                      dimA: String, dimB: String, orderCols: Seq[String]): DataFrame =
    // global file assignment WITHOUT the single-task row_number() OVER
    // (ORDER BY …) window: Scale.globalRowNumber range-partitions on the
    // curve key, numbers within partitions, and offsets by the per-partition
    // counts — identical rn for a total order (tieCols pin it), but the
    // audited table never collapses to one task at 100 TB.
    // Project to the audited dims + order key FIRST: globalRowNumber
    // persists its range-shuffled input, and a cache boundary defeats
    // column pruning — without this the full table (every string column)
    // rides the shuffle and the cache; at the ×10 corpus that was most of
    // the audit's cost
    Scale.globalRowNumber(
        df.select((orderCols ++ Seq(dimA, dimB)).distinct.map(col): _*),
        orderCols, out = "rn")
      .withColumn("file_id", expr(s"CAST((rn - 1) DIV $rowsPerFile AS BIGINT)"))
      .groupBy("file_id")
      .agg(min(col(dimA)).as("a_min"), max(col(dimA)).as("a_max"),
           min(col(dimB)).as("b_min"), max(col(dimB)).as("b_max"),
           count(lit(1)).as("n_rows"))
      .agg(count(lit(1)).as("n_files"), sum("n_rows").as("n_rows"),
           sum(col("a_max") - col("a_min") + lit(1L)).as("span_a"),
           sum(col("b_max") - col("b_min") + lit(1L)).as("span_b"))
      .withColumn("layout", lit(layout))

  /** The audit: rows laid out (1) by the z-curve over the quantized
    * (dimA, dimB) pair and (2) by dimA alone, same file size, same
    * summary. Quantization is affine integer floor-division scaling to
    * [0, 2^bits) over the observed domain — rank-free, engine-exact.
    * `tieCols` pins a total order under both layouts.
    */
  private def quantized(df: DataFrame, dimA: String, dimB: String,
                        bits: Int): (DataFrame, DataFrame) = {
    // 1 row, read by every layout branch and the final select
    val dom = Caches.persist(df.agg(
      min(dimA).cast("long").as("a_lo"), max(dimA).cast("long").as("a_hi"),
      min(dimB).cast("long").as("b_lo"), max(dimB).cast("long").as("b_hi")))
    val scale = 1L << bits
    val wide = df.crossJoin(broadcast(dom))
      .withColumn("qa", expr(
        s"CAST(((CAST($dimA AS BIGINT) - a_lo) * ${scale}L) DIV (a_hi - a_lo + 1) AS BIGINT)"))
      .withColumn("qb", expr(
        s"CAST(((CAST($dimB AS BIGINT) - b_lo) * ${scale}L) DIV (b_hi - b_lo + 1) AS BIGINT)"))
    (wide, dom)
  }

  private def finish(summaries: DataFrame, dom: DataFrame): DataFrame =
    summaries
      .crossJoin(broadcast(dom))
      .select(col("layout"), col("n_files"), col("n_rows"), col("span_a"), col("span_b"),
        (col("span_a").cast("double") /
          (col("n_files") * (col("a_hi") - col("a_lo") + lit(1L))).cast("double")).as("frac_a"),
        (col("span_b").cast("double") /
          (col("n_files") * (col("b_hi") - col("b_lo") + lit(1L))).cast("double")).as("frac_b"))

  def zorderAudit(df: DataFrame, dimA: String, dimB: String,
                  rowsPerFile: Int, tieCols: Seq[String], bits: Int = 16): DataFrame = {
    val (wide, dom) = quantized(df, dimA, dimB, bits)
    val zs = summary(wide.withColumn("zkey", zValue(col("qa"), col("qb"), bits)),
      "zorder", rowsPerFile, dimA, dimB, "zkey" +: tieCols)
    val ls = summary(wide, "linear_" + dimA, rowsPerFile, dimA, dimB, dimA +: tieCols)
    finish(zs.union(ls), dom)
  }

  /** Same audit, Hilbert-keyed — one row, schema-aligned with
    * [[zorderAudit]] so the two reports compare cell for cell.
    */
  def hilbertAudit(df: DataFrame, dimA: String, dimB: String,
                   rowsPerFile: Int, tieCols: Seq[String], bits: Int = 16): DataFrame = {
    val (wide, dom) = quantized(df, dimA, dimB, bits)
    val hs = summary(
      wide.withColumn("hkey", hilbertValue(col("qa"), col("qb"), bits)),
      "hilbert", rowsPerFile, dimA, dimB, "hkey" +: tieCols)
    finish(hs, dom)
  }
}
