package graft.streaming

import graft.operators.{Caches, Mix}
import org.apache.spark.sql.DataFrame

/** Continuous token-budget shard layout over a stream — the streaming
  * publisher for the corpus-output layout [[graft.operators.Mix.shardAssign]]
  * computes in batch: documents arrive in micro-batches, each batch extends
  * the global token stream from where the previous batch ended, and shard
  * boundaries fall every `shardTokens` tokens ACROSS batches (shard ids
  * never reset; a shard can span a batch boundary exactly like a document
  * can straddle a shard boundary).
  *
  * Semantics vs batch: a stream cannot re-sort the past, so the global
  * order is (arrival batch, then the same deterministic (bucket, priority,
  * id) order within the batch) — running the whole corpus through one
  * micro-batch reproduces the batch operator exactly (spec-pinned), and
  * any batch split preserves contiguous token accounting.
  *
  * Exactly-once offsets under foreachBatch's at-least-once replay: the
  * running offset is checkpointed per batch id (tiny driver-side file,
  * written atomically via temp + rename). A REPLAYED batch id finds its
  * own start offset recorded and reuses it — re-processing batch b can
  * never double-advance the stream position. This is the standard
  * idempotent-foreachBatch pattern (track batchId in the sink's own
  * transaction state).
  */
object StreamShards {

  /** The foreachBatch function: assign shards to each micro-batch at the
    * running token offset and append the slim layout rows to `outDir`
    * (partitioned by shard_id). Wire it as
    * `stream.writeStream.foreachBatch(StreamShards.shardBatch(...))`.
    *
    * @param stateDir driver-visible directory for the offset checkpoint
    */
  def shardBatch(idCol: String, textCol: String, shardTokens: Long,
                 outDir: String, stateDir: String,
                 prioBuckets: Int = 64): (DataFrame, Long) => Unit = {
    (batch: DataFrame, batchId: Long) =>
      val state = readState(stateDir)
      val start = state.get(batchId) match {
        case Some((s, _)) => s // replayed batch: reuse its recorded start
        case None =>
          val prior = state.filter(_._1 < batchId)
          if (prior.isEmpty) 0L else prior.maxBy(_._1)._2._2
      }
      val assigned = Caches.persist(Mix.shardAssign(batch, idCol, textCol, shardTokens,
          prioBuckets, startOffset = start))
      try {
        // end offset from the assignment itself (cum_tokens is already
        // start-shifted); empty batches advance nothing
        val end = assigned.agg(org.apache.spark.sql.functions.max("cum_tokens"))
          .collect()(0) match {
            case r if r.isNullAt(0) => start
            case r => r.getLong(0)
          }
        assigned.write.mode("append")
          .partitionBy("shard_id").parquet(outDir)
        writeState(stateDir, state + (batchId -> (start, end)))
      } finally Caches.unpersist(assigned)
  }

  // ---- offset checkpoint: batchId -> (startOffset, endOffset) ------------

  private def stateFile(dir: String) = new java.io.File(dir, "shard_offsets.tsv")

  def readState(dir: String): Map[Long, (Long, Long)] = {
    val f = stateFile(dir)
    if (!f.exists()) Map.empty
    else scala.io.Source.fromFile(f, "UTF-8").getLines().filter(_.nonEmpty).map { l =>
      val Array(b, s, e) = l.split("\t")
      b.toLong -> (s.toLong, e.toLong)
    }.toMap
  }

  private def writeState(dir: String, state: Map[Long, (Long, Long)]): Unit = {
    val d = new java.io.File(dir)
    d.mkdirs()
    val tmp = java.io.File.createTempFile("shard_offsets", ".tmp", d)
    val out = new java.io.PrintWriter(tmp, "UTF-8")
    try state.toSeq.sortBy(_._1).foreach { case (b, (s, e)) => out.println(s"$b\t$s\t$e") }
    finally out.close()
    java.nio.file.Files.move(tmp.toPath, stateFile(dir).toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }
}
