package graft

import graft.sources.XlsxWriter
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import java.io.File
import java.nio.file.{Files, Paths}

/** One-time bench fixtures, written under target/bench_fixtures and reused
  * across runs.
  *
  * [[xlsxDir]]: the sf lineitem table rendered as a DIRECTORY of real .xlsx
  * workbooks (one per partition; header row + inline-number cells), so the
  * bench measures `ExcelSource.readXlsxGrid` ingesting file-carried row
  * coordinates — the actual 100 TB shape (thousands of supplier workbooks
  * on shared storage) — instead of the fabricated in-memory grid
  * `q_excel_range` uses to sit under the DuckDB oracle. Executors write to
  * the local filesystem, which in bench-local mode is shared with the
  * driver; fixture generation is not part of any timed region.
  */
object BenchFixtures {

  /** The persistent near-dup corpus index (Dedup.buildNearDupIndex over the
    * documents NOT in the probe batch) written to parquet once — the
    * production contract: at 100 TB the index is computed at corpus-build
    * time and stored alongside the data, so the steady-state per-ingest cost
    * is ONLY the probe. `q_dedup_incremental` keeps timing build+probe (the
    * amortized path, and the oracle-gated one); `q_dedup_probe` times what a
    * production ingest actually pays.
    */
  // bump whenever buildNearDupIndex defaults (bands/r/shingleN) or the index
  // schema change — the version lands in the fixture dir name so a stale
  // on-disk index from an earlier code state is never silently reused
  private val NearDupIndexVersion = "v1_b20r2s1"

  def nearDupIndexDir(spark: SparkSession, sfDir: String): String = {
    val dir = new File(
      s"target/bench_fixtures/neardup_index_${NearDupIndexVersion}_${new File(sfDir).getName}")
    if (!new File(dir, "_SUCCESS").exists()) {
      graft.operators.Dedup.buildNearDupIndex(
          GraftSession.table(spark, sfDir, "documents").filter(col("doc_id") % 4 =!= 0),
          "doc_id", "text")
        .write.mode("overwrite").parquet(dir.getPath)
    }
    dir.getPath
  }

  def xlsxDir(spark: SparkSession, sfDir: String, parts: Int = 16): String = {
    val dir = new File(s"target/bench_fixtures/xlsx_${new File(sfDir).getName}")
    val done = new File(dir, "_DONE")
    if (!done.exists()) {
      dir.mkdirs()
      val path = dir.getAbsolutePath
      GraftSession.table(spark, sfDir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice").cast("decimal(12,2)").cast("double").as("l_price"))
        .repartition(parts)
        .foreachPartition { (it: Iterator[Row]) =>
          val pid = org.apache.spark.TaskContext.getPartitionId()
          val rows = Seq[Any]("ok", "ln", "qty", "price") +: it.map(_.toSeq).toSeq
          Files.write(Paths.get(path, f"part-$pid%05d.xlsx"),
            XlsxWriter.build(Seq("Sheet1" -> rows)))
          ()
        }
      Files.write(done.toPath, Array.emptyByteArray)
    }
    dir.getPath
  }
}
