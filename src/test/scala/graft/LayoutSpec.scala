package graft

import graft.operators.Layout
import org.apache.spark.sql.functions.col

/** Z-order layout audit ([[graft.operators.Layout]]): Morton-key bit
  * algebra, the closed-form full-grid square property, and the real
  * lineitem audit's pruning-dominance invariants.
  */
class LayoutSpec extends SparkSpec {
  import spark.implicits._

  test("zValue interleaves bits (a odd positions, b even)") {
    // a=3 (bits 0,1 -> positions 1,3), b=1 (bit 0 -> position 0): 2+8+1
    val got = Seq((3L, 1L)).toDF("a", "b")
      .select(Layout.zValue(col("a"), col("b"), bits = 2)).as[Long].head()
    assert(got === 11L)
    // full 16-bit width: a=0xFFFF alone fills all odd positions
    val hi = Seq((0xFFFFL, 0L)).toDF("a", "b")
      .select(Layout.zValue(col("a"), col("b"))).as[Long].head()
    assert(hi === 0xAAAAAAAAL)
  }

  test("full 2^5 x 2^5 grid: z-order files are exact 4x4 squares") {
    val grid = (for (a <- 0 until 32; b <- 0 until 32) yield (a.toLong, b.toLong)).toDF("a", "b")
    val got = Layout.zorderAudit(grid, "a", "b", rowsPerFile = 16, tieCols = Seq("a", "b"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(5), r.getDouble(6)))).toMap
    // 1024 rows / 16 = 64 files; every z-order file is a 4x4 square
    assert(got("zorder") === ((64L, 1024L, 4.0 / 32.0, 4.0 / 32.0)))
    // linear-by-a files: a constant within a file (32 rows per a value),
    // b spans 16 consecutive values
    assert(got("linear_a") === ((64L, 1024L, 1.0 / 32.0, 16.0 / 32.0)))
  }

  test("lineitem audit: z-curve strictly beats the single-dim sort on the other dim") {
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val n = li.count()
    // file size that yields ~48 files at any sf (the registered query pins
    // 4096, sized for sf>=0.01; sf0.001 would get 2 files and no signal)
    val perFile = math.max(16, (n / 48).toInt)
    val rows = Layout.zorderAudit(li, "l_partkey", "l_suppkey", perFile,
        tieCols = Seq("l_orderkey", "l_linenumber")).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(5), r.getDouble(6)))).toMap
    val (zf, lf) = (rows("zorder"), rows("linear_l_partkey"))
    assert(zf._2 === n && lf._2 === n && zf._1 === lf._1)
    // single-dim sort: perfect on its own column, unpruned on the other
    assert(lf._3 < zf._3 && zf._4 < lf._4)
    // and the z-curve bounds BOTH dims away from full-domain scans
    assert(zf._3 < 0.75 && zf._4 < 0.75)
  }

  /** Reference xy→d (the classic iterative walk, independent coding). */
  private def hilbertRef(bits: Int, x0: Long, y0: Long): Long = {
    var (x, y, d) = (x0, y0, 0L)
    var s = 1L << (bits - 1)
    while (s > 0) {
      val rx = if ((x & s) > 0) 1L else 0L
      val ry = if ((y & s) > 0) 1L else 0L
      d += s * s * ((3 * rx) ^ ry)
      if (ry == 0) {
        if (rx == 1) { x = s - 1 - x; y = s - 1 - y }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }

  test("hilbertValue matches the reference walk exhaustively on a 32x32 grid") {
    val grid = (for (a <- 0 until 32; b <- 0 until 32) yield (a.toLong, b.toLong)).toDF("a", "b")
    val got = grid.select(col("a"), col("b"), Layout.hilbertValue(col("a"), col("b"), bits = 5))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    for (a <- 0L until 32L; b <- 0L until 32L)
      assert(got((a, b)) === hilbertRef(5, a, b), s"cell ($a,$b)")
    // the curve is a bijection onto [0, 1024)
    val ds = got.values.toSeq
    assert(ds.distinct.size === 1024 && ds.min === 0L && ds.max === 1023L)
  }

  test("native graft_hilbert_d == the declarative fold at full 16-bit width") {
    // hilbertValue now routes to the native loop expression; the HOF fold
    // stays as the independent model (and the DuckDB CTE replay shape) —
    // pin them identical on seeded full-width coordinates
    val rng = new scala.util.Random(12L)
    val pts = Seq.fill(2000)((rng.nextInt(1 << 16).toLong, rng.nextInt(1 << 16).toLong))
    val mismatches = pts.toDF("a", "b")
      .select(
        Layout.hilbertValue(col("a"), col("b")).as("native"),
        Layout.hilbertValueFold(col("a"), col("b")).as("fold"))
      .where(col("native") =!= col("fold")).count()
    assert(mismatches === 0L)
  }

  test("full grid: hilbert files are exact 4x4 subsquares too (aligned 4^j segments)") {
    val grid = (for (a <- 0 until 32; b <- 0 until 32) yield (a.toLong, b.toLong)).toDF("a", "b")
    val got = Layout.hilbertAudit(grid, "a", "b", rowsPerFile = 16, tieCols = Seq("a", "b"))
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(5), r.getDouble(6))).head
    assert(got === ((64L, 1024L, 4.0 / 32.0, 4.0 / 32.0)))
  }

  test("lineitem: hilbert bounds both dims; schema aligns with the z-order report") {
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val n = li.count()
    val perFile = math.max(16, (n / 48).toInt)
    val h = Layout.hilbertAudit(li, "l_partkey", "l_suppkey", perFile,
      tieCols = Seq("l_orderkey", "l_linenumber")).collect().head
    assert(h.getString(0) === "hilbert" && h.getLong(2) === n)
    assert(h.getDouble(5) < 0.75 && h.getDouble(6) < 0.75)
  }

  test("q_zorder_layout returns both layouts over the full table") {
    val got = graft.queries.AnalyticsQueries.qZorderLayout(spark, sfDir).collect()
    val n = spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    assert(got.map(_.getString(0)).toSeq === Seq("linear_l_partkey", "zorder"))
    assert(got.forall(r => r.getLong(2) === n && r.getDouble(5) > 0 && r.getDouble(6) > 0))
  }

  test("file assignment plan has NO window: the audited table never collapses to one task") {
    // the pre-r11 summary ran row_number() OVER (ORDER BY curve) — a
    // single-partition window over the FULL audited table; the
    // Scale.globalRowNumber route must leave no WindowExec in the plan
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val plan = Layout.zorderAudit(li, "l_partkey", "l_suppkey", 64,
      tieCols = Seq("l_orderkey", "l_linenumber"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"unexpected window in audit plan:\n$plan")
    graft.operators.Caches.release()
  }
}
