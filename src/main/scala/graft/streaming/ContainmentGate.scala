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
  * frame, grown and (with `persistDir`) recovered by the [[AdmissionGate]]
  * body both gates share.
  *
  * Direction note: only batch→corpus containment is probed — an ingest
  * never un-admits corpus documents, so a batch doc that is a SUPERSET of
  * an admitted doc is admitted (both now coexist; a later compaction can
  * run [[graft.operators.Containment.dropContained]] over the corpus).
  */
final class ContainmentGate(initialIndex: DataFrame, idCol: String, textCol: String,
                            threshold: Double, shingleN: Int = 5,
                            dfCap: Long = Long.MaxValue,
                            persistDir: Option[String] = None)
    extends AdmissionGate(initialIndex, persistDir) {
  import graft.operators.Containment

  protected def probe(index: DataFrame, batch: DataFrame): DataFrame =
    Containment.probeIndexNotContained(index, batch, idCol, textCol, threshold, shingleN, dfCap)
  protected def indexRows(survivors: DataFrame): DataFrame =
    Containment.buildContainmentIndex(survivors, idCol, textCol, shingleN)
}
