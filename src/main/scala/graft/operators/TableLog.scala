package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Lakehouse commit-log accounting — the Delta/Iceberg-shaped snapshot
  * ledger (add/remove-file actions per commit) with time-travel reads;
  * the missing piece next to the family's z-order/Hilbert audits,
  * [[Compaction]] planning, SCD2 and MV refresh.
  *
  * The action log is ONE ROW PER FILE ACTION: (commit_id, action ∈
  * add|remove, file_id, rows, bytes, min_key, max_key) — remove actions
  * carry the removed file's stats, exactly like Delta's `remove` entries,
  * so snapshot math never re-reads data files. Everything here runs on
  * that metadata-sized frame: a 100 TB table with millions of files is a
  * millions-of-rows log (MBs), and per-commit accounting collapses it to
  * a |commits|-sized control-plane frame before the only window.
  *
  * Reference anchor: the reference keeps no table history — every
  * `Aggregator.php` run rebuilds the keyed set from scratch; this is the
  * ledger that turns those full rebuilds into append/compact commits a
  * consumer can time-travel across.
  */
object TableLog {

  /** Per-commit accounting + running snapshot totals: files/rows/bytes
    * added and removed in each commit, and the LIVE file/row/byte counts
    * after it (the `DESCRIBE HISTORY` + snapshot-summary view). One
    * groupBy over the action log, then one window over |commits| rows.
    */
  def snapshotAccounting(actions: DataFrame): DataFrame = {
    val isAdd = col("action") === lit("add")
    val perCommit = actions.groupBy("commit_id").agg(
      sum(when(isAdd, 1L).otherwise(0L)).as("files_added"),
      sum(when(!isAdd, 1L).otherwise(0L)).as("files_removed"),
      sum(when(isAdd, col("n_rows")).otherwise(0L)).as("rows_added"),
      sum(when(!isAdd, col("n_rows")).otherwise(0L)).as("rows_removed"),
      sum(when(isAdd, col("bytes")).otherwise(0L)).as("bytes_added"),
      sum(when(!isAdd, col("bytes")).otherwise(0L)).as("bytes_removed"))
    // |commits|-sized frame: the unpartitioned running window is sound here
    val w = Window.orderBy("commit_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perCommit
      .withColumn("live_files", sum(col("files_added") - col("files_removed")).over(w))
      .withColumn("live_rows", sum(col("rows_added") - col("rows_removed")).over(w))
      .withColumn("live_bytes", sum(col("bytes_added") - col("bytes_removed")).over(w))
  }

  /** The live file set AS OF `asOfCommit` (inclusive): files added at or
    * before the snapshot and not removed at or before it — the listing a
    * time-travel scan plans over. Add-side anti-join on the remove side,
    * both filtered to the snapshot in the scan stage; file_id is the join
    * key, so the work is |log|-bounded regardless of table size.
    */
  def liveFilesAt(actions: DataFrame, asOfCommit: Long): DataFrame = {
    val adds = actions.filter(col("action") === lit("add") &&
        col("commit_id") <= lit(asOfCommit))
      .select("file_id", "n_rows", "bytes", "min_key", "max_key")
    val removes = actions.filter(col("action") === lit("remove") &&
        col("commit_id") <= lit(asOfCommit))
      .select("file_id")
    adds.join(removes, Seq("file_id"), "left_anti")
  }

  /** The scan summary a time-travel read publishes before touching data:
    * file/row/byte totals and the key span of the snapshot's live set —
    * ONE row per snapshot off [[liveFilesAt]]'s metadata frame.
    */
  def timeTravelScan(actions: DataFrame, asOfCommit: Long): DataFrame =
    liveFilesAt(actions, asOfCommit)
      .agg(lit(asOfCommit).as("as_of"),
        count(lit(1)).as("n_files"),
        sum("n_rows").as("n_rows"), sum("bytes").as("bytes"),
        min("min_key").as("min_key"), max("max_key").as("max_key"))
      .select("as_of", "n_files", "n_rows", "bytes", "min_key", "max_key")

  /** VACUUM eligibility plan — the maintenance op that closes the
    * history/time-travel/compaction family: which physical files can be
    * DELETED at each candidate retention horizon, vs still needed by a
    * time-travelable snapshot. `horizon` = the oldest commit a reader may
    * still time-travel to; a file removed at commit c is needed by
    * snapshots [added_commit, c−1], so it is physically deletable iff
    * c ≤ horizon (every snapshot that contained it has expired). Live
    * files (no remove action) never vacuum.
    *
    * Output: (horizon, status ∈ live|retained|deletable, n_files, bytes) —
    * a complete |horizons|×3 scaffold (zero rows included), so "nothing
    * reclaimable yet" is a visible 0, not a missing row. Scale shape:
    * everything runs on the metadata log — per-file add/remove collapse,
    * then a broadcast cross with the |horizons|-row control-plane frame;
    * a 100 TB table with millions of files is a millions-of-row groupBy,
    * and no data file is ever read ([[liveFilesAt]]'s invariant).
    */
  def vacuumPlan(actions: DataFrame, horizons: Seq[Long]): DataFrame = {
    val spark = actions.sparkSession
    import spark.implicits._
    val perFile = actions.groupBy("file_id").agg(
      min(when(col("action") === lit("add"), col("commit_id"))).as("added_commit"),
      min(when(col("action") === lit("remove"), col("commit_id"))).as("removed_commit"),
      max(when(col("action") === lit("add"), col("bytes"))).as("bytes"))
    val hs = horizons.toDF("horizon")
    val statuses = Seq("live", "retained", "deletable").toDF("status")
    val statusOf = when(col("removed_commit").isNull, lit("live"))
      .when(col("removed_commit") <= col("horizon"), lit("deletable"))
      .otherwise(lit("retained"))
    val counted = perFile.crossJoin(broadcast(hs)) // |files|×|horizons| metadata frame
      .select(col("horizon"), statusOf.as("status"), col("bytes"))
      .groupBy("horizon", "status")
      .agg(count(lit(1)).as("n_files"), sum(col("bytes")).as("bytes"))
    hs.crossJoin(statuses) // the 1-row-class scaffold: |horizons|×3
      .join(counted, Seq("horizon", "status"), "left")
      .select(col("horizon"), col("status"),
        coalesce(col("n_files"), lit(0L)).as("n_files"),
        coalesce(col("bytes"), lit(0L)).as("bytes"))
  }

  /** Deterministic planted commit log over the orders table (sandbox
    * tables are static single files, so history is planted the same way
    * [[Compaction.pseudoFiles]] plants a listing):
    *
    *   commit 1  initial load — orders with year ≤ 1996, 8 files keyed
    *             `o_orderkey % 8` (file_id 100+b)
    *   commit 2  append — years 1997–1998 into files 200+b
    *   commit 3  append — year ≥ 1999 into files 300+b
    *   commit 4  compaction — REMOVES all commit-1 files, adds the 2
    *             merged files 900 + (b % 2); remove actions replay the
    *             removed files' stats, merged adds sum them, so rows and
    *             bytes net to ZERO (the compaction invariant the spec
    *             pins)
    *
    * rows = order count, bytes = Σ round(o_totalprice·100) (the
    * cent-exact size stand-in), min/max_key = the o_orderkey span (the
    * pruning stats a real manifest carries).
    */
  def plantedLog(orders: DataFrame): DataFrame = {
    val era = when(year(col("o_orderdate")) <= 1996, 1L)
      .when(year(col("o_orderdate")) <= 1998, 2L)
      .otherwise(3L)
    // commit-1 rows are re-read for the compaction's actions
    val files = Caches.persist(orders
      .select(era.as("commit_id"),
        (col("o_orderkey") % 8).cast("long").as("b"),
        col("o_orderkey"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
      .groupBy("commit_id", "b")
      .agg(count(lit(1)).as("n_rows"), sum("cents").as("bytes"),
        min("o_orderkey").cast("long").as("min_key"),
        max("o_orderkey").cast("long").as("max_key"))
      .select(col("commit_id"), lit("add").as("action"),
        (col("commit_id") * 100 + col("b")).as("file_id"),
        col("n_rows"), col("bytes"), col("min_key"), col("max_key")))
    val c1 = files.filter(col("commit_id") === 1L)
    val removes = c1.select(lit(4L).as("commit_id"), lit("remove").as("action"),
      col("file_id"), col("n_rows"), col("bytes"), col("min_key"), col("max_key"))
    val merged = c1
      .groupBy((col("file_id") % 2).as("mb"))
      .agg(sum("n_rows").as("n_rows"), sum("bytes").as("bytes"),
        min("min_key").as("min_key"), max("max_key").as("max_key"))
      .select(lit(4L).as("commit_id"), lit("add").as("action"),
        (lit(900L) + col("mb")).as("file_id"),
        col("n_rows"), col("bytes"), col("min_key"), col("max_key"))
    files.unionByName(removes).unionByName(merged)
  }
}
