package graft.operators

import org.apache.spark.sql.SparkSession

/** The one record of a planner route decision. Each data-derived split (a
  * measured count against a threshold, choosing between two physical
  * routes that produce the same result) records its choice here under
  * its site name:
  *
  *  - `cc` ([[Graph.connectedComponents]]): driver | distributed
  *  - `probe` ([[Dedup.probeSurvivors]]): nested | banded
  *  - `embed_lsh` ([[Dedup.embedNearDupPairsLsh]]): brute | exploded
  *  - `minhash` (`Dedup.setGraph`): broadcast | banded
  *  - `prefix` (`Dedup.prefixSub`): brute | prefix
  *  - `source_overlap` ([[Dedup.sourceOverlap]]): broadcast | shuffle
  *  - `simhash` ([[Dedup.simhashPairs]]): quarters | blocks
  *  - `keep_sweep` (`LlmQueries.keepSweep`): driver | distributed
  *
  * The record is the Spark local property `graft.route.<site>`, so it is
  * scoped to the calling thread: two runs on two threads of one session
  * never see each other's choice, and every job the thread starts after
  * the decision carries it in its properties, where a
  * `SparkListener.onJobStart` can read it.
  */
object Route {
  private val Prefix = "graft.route."

  def record(spark: SparkSession, site: String, choice: String): Unit =
    spark.sparkContext.setLocalProperty(Prefix + site, choice)

  /** The choice this thread last recorded at `site`, or "" if none. */
  def last(spark: SparkSession, site: String): String =
    Option(spark.sparkContext.getLocalProperty(Prefix + site)).getOrElse("")
}
