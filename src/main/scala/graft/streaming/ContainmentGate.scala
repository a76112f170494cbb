package graft.streaming

import org.apache.spark.sql.DataFrame

/** Streaming CONTAINMENT admission gate — the `foreachBatch` member of the
  * gate family ([[NearDupGate]] = jaccard near-dup, [[BloomGate]] = exact
  * fingerprint, this = directional near-subset). A crawl re-fetches pages as
  * truncated copies, AMP versions, and boilerplate-wrapped excerpts of
  * documents already admitted; symmetric jaccard never fires on those
  * (|A| ≪ |B| caps it at |A|/|B|), so an ingest that only runs the near-dup
  * gate accumulates every truncation. This gate rejects a batch document
  * whose shingle set is ≥ `threshold` contained in ANY admitted document,
  * using the exact operator a bulk ingest uses
  * ([[graft.operators.Containment.probeIndexNotContained]] — batch-derived
  * frames broadcast, the corpus index streams map-side, zero corpus
  * shuffle); admitted survivors' index rows append so later batches test
  * against earlier admissions too. One code path serves bulk and stream.
  *
  * The growing index is the [[graft.operators.Containment.buildContainmentIndex]]
  * frame held as an eager `localCheckpoint` (constant-depth lineage across
  * an unbounded run). With `persistDir` set, admissions' index rows ALSO
  * append to parquet and a restarted gate over the same directory recovers
  * them: restart == continuous (same protocol as [[NearDupGate]]).
  *
  * Direction note: only batch→corpus containment is probed — an ingest
  * never un-admits corpus documents, so a batch doc that is a SUPERSET of
  * an admitted doc is admitted (both now coexist; a later compaction can
  * run [[graft.operators.Containment.dropContained]] over the corpus).
  */
final class ContainmentGate(initialIndex: DataFrame, idCol: String, textCol: String,
                            threshold: Double, shingleN: Int = 5,
                            dfCap: Long = Long.MaxValue,
                            persistDir: Option[String] = None) {
  import graft.operators.{Caches, Containment}

  @volatile private var index: DataFrame = persistDir match {
    case Some(dir) if ContainmentGate.hasData(dir) =>
      initialIndex.unionByName(graft.GraftSession.parquet(initialIndex.sparkSession, dir))
        .localCheckpoint(true)
    case _ => initialIndex
  }
  /** The current containment index (initial ∪ admitted survivors' sets). */
  def currentIndex: DataFrame = index

  /** Probe one batch; returns its survivors and grows the index with them.
    * Within-batch containment is NOT collapsed (same contract as the other
    * gates — compose with `dropContained` upstream when one batch can carry
    * both a document and its own truncation).
    */
  def admit(batch: DataFrame): DataFrame = synchronized {
    val survivors = Containment.probeIndexNotContained(
      index, batch, idCol, textCol, threshold, shingleN, dfCap).persist()
    Caches.register(survivors)
    val newRows = Containment.buildContainmentIndex(survivors, idCol, textCol, shingleN)
      .localCheckpoint(true) // computed once: the append write AND the union both read it
    persistDir.foreach(dir => newRows.write.mode("append").parquet(dir))
    index = index.unionByName(newRows).localCheckpoint(true)
    survivors
  }

  /** Adapter for `writeStream.foreachBatch`: admits each micro-batch, hands
    * survivors to `sink`, then releases the batch's operator-internal caches.
    */
  def foreachBatch(sink: DataFrame => Unit): (DataFrame, Long) => Unit = (batch, _) => {
    val survivors = admit(batch)
    try sink(survivors) finally Caches.release()
  }
}

object ContainmentGate {
  private def hasData(dir: String): Boolean = {
    val d = new java.io.File(dir)
    d.isDirectory && d.listFiles() != null &&
      d.listFiles().exists(f => f.getName.endsWith(".parquet") && f.length() > 0)
  }
}
