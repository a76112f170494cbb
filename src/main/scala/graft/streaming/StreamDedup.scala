package graft.streaming

import graft.functions.TextFunctions
import org.apache.spark.sql.{DataFrame, Encoder, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming FIRST-SEEN deduplication — the unbounded twin of
  * `Dedup.dropDuplicatesExact`: documents flow in continuously (the shape a
  * crawl-ingest pipeline actually has) and only the first occurrence of each
  * fingerprint is ever emitted. The reference processes its feeds as an
  * unbounded Kafka consumer (/root/reference/src/Command/ConsumerCommand.php);
  * this is the same consume-forever contract for the dedup gate.
  *
  * Scale: state is ONE boolean per distinct fingerprint, hash-partitioned by
  * the grouping key across executors — no per-key row buffering, no growth
  * under duplication (a 10⁸-copy boilerplate page is still one state entry).
  * For corpus-lifetime runs back the state store with RocksDB
  * (`spark.sql.streaming.stateStore.providerClass`) so state lives on disk;
  * `stateTtl` bounds it further when "seen" only needs to persist for a
  * dedup horizon (e.g. re-crawl window) rather than forever.
  */
object StreamDedup {

  /** Emit each document whose dedup key was never seen before; later
    * occurrences (any micro-batch, any partition) are dropped. Within one
    * micro-batch the smallest `idCol` value wins, so the output is
    * deterministic given the batch boundaries — and equals the batch
    * `dropDuplicatesExact` result whenever ids are assigned in arrival
    * order.
    *
    * @param canonical dedup on the sorted word SET (order/multiplicity
    *                  insensitive — the canonical-duplicate class minhash
    *                  collapses) instead of normalized-text equality
    * @param stateTtl  optional processing-time horizon after which a key is
    *                  forgotten (re-admitting later copies); refreshed on
    *                  every re-sighting, so only keys idle for the full
    *                  horizon expire. With a TTL the engine re-triggers
    *                  batches even without input to fire pending timeouts —
    *                  run the query with a ProcessingTime trigger interval
    *                  (not the default as-fast-as-possible), and note
    *                  `processAllAvailable` no longer terminates (poll the
    *                  sink instead)
    */
  def firstSeen(docs: DataFrame, idCol: String, textCol: String,
                canonical: Boolean = false, stateTtl: Option[String] = None): DataFrame = {
    val fp =
      if (canonical) graft.operators.Dedup.setKey(col(textCol), shingleN = 1)
      else TextFunctions.contentFingerprint(col(textCol))
    firstSeenByKey(docs, idCol, fp, stateTtl)
  }

  /** [[firstSeen]] on an ARBITRARY precomputed dedup-key expression — the
    * CRAWL-FRONTIER shape: key = `Urls.canonicalize(url)`, so tracking-param
    * / case / trailing-slash variants of an already-fetched page never
    * re-enter the fetch queue, no matter which micro-batch they arrive in.
    * Same contract as [[firstSeen]]: one state cell per distinct key,
    * smallest `idCol` wins within a batch, optional TTL re-admits after the
    * re-crawl horizon. A null key (e.g. a row with no URL) is its own
    * singleton class: the state key is tag-prefixed (`n` for null, `v` +
    * value otherwise), so a row whose key genuinely stringifies to "null"
    * (a URL column holding the literal text) can never be folded into the
    * null class and silently dropped (r11 advice — the old sentinel was
    * the bare string "null").
    */
  def firstSeenByKey(docs: DataFrame, idCol: String, key: org.apache.spark.sql.Column,
                     stateTtl: Option[String] = None): DataFrame = {
    val keyed = docs.withColumn("__fp",
      when(key.isNull, lit("n")).otherwise(concat(lit("v"), key.cast("string"))))
    val schema = keyed.schema
    val idIdx = schema.fieldIndex(idCol)
    implicit val rowEnc: Encoder[Row] = Encoders.row(schema)
    implicit val keyEnc: Encoder[String] = Encoders.STRING
    implicit val seenEnc: Encoder[Boolean] = Encoders.scalaBoolean
    val timeout =
      if (stateTtl.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout

    keyed
      .groupByKey((r: Row) => r.getAs[String]("__fp"))
      .flatMapGroupsWithState[Boolean, Row](OutputMode.Append, timeout) {
        (_: String, rows: Iterator[Row], state: GroupState[Boolean]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val first = !state.exists
            state.update(true)
            stateTtl.foreach(state.setTimeoutDuration) // re-sighting refreshes the horizon
            if (!first) Iterator.empty
            else {
              var best: Row = null
              rows.foreach { r =>
                if (best == null || cmp(r.get(idIdx), best.get(idIdx)) < 0) best = r
              }
              Iterator(best)
            }
          }
      }
      .toDF()
      .drop("__fp")
  }

  private def cmp(a: Any, b: Any): Int =
    a.asInstanceOf[Comparable[Any]].compareTo(b)
}

/** The body every index-probing admission gate shares ([[NearDupGate]],
  * [[ContainmentGate]]): each micro-batch is probed against the gate's
  * index with the SAME operator a bulk ingest uses (`probe`), and admitted
  * survivors' index rows (`indexRows`) append so later batches test against
  * earlier admissions too. One code path serves bulk ingest and the stream;
  * only the batching differs.
  *
  * The growing index lives as an eager `localCheckpoint` (constant-depth
  * lineage across an unbounded run). With `persistDir` (any Hadoop path) set,
  * every admission's index rows ALSO append to parquet in the index's own
  * schema, and a new gate constructed over the same directory recovers
  * them: restart == continuous, spec-asserted. Without it the admitted
  * index is session-only and a restart forgets admissions.
  */
abstract class AdmissionGate private[streaming] (initialIndex: DataFrame,
                                                 persistDir: Option[String]) {
  import graft.operators.Caches

  /** The surviving rows of `batch` against `index`. */
  protected def probe(index: DataFrame, batch: DataFrame): DataFrame
  /** The index rows of admitted `survivors`. */
  protected def indexRows(survivors: DataFrame): DataFrame

  @volatile private var index: DataFrame = persistDir match {
    case Some(dir) if AdmissionGate.hasData(initialIndex.sparkSession, dir) =>
      // recovery: prior admissions re-enter the probe index before the
      // first batch — identical schema, so the probe plan is unchanged
      initialIndex.unionByName(graft.GraftSession.parquet(initialIndex.sparkSession, dir))
        .localCheckpoint(true)
    case _ => initialIndex
  }
  /** The current index (initial ∪ admitted survivors). */
  def currentIndex: DataFrame = index

  /** Probe one batch; returns its survivors and grows the index with them.
    * Within-batch duplicates are NOT collapsed (the bulk probe's contract —
    * compose with the batch materializer upstream when batches can
    * self-collide).
    */
  def admit(batch: DataFrame): DataFrame = synchronized {
    val survivors = Caches.persist(probe(index, batch))
    val newRows = indexRows(survivors)
      .localCheckpoint(true) // computed once: the append write AND the union both read it
    persistDir.foreach(dir => newRows.write.mode("append").parquet(dir))
    index = index.unionByName(newRows).localCheckpoint(true)
    survivors
  }

  /** Adapter for `writeStream.foreachBatch`: admits each micro-batch, hands
    * survivors to `sink`, then releases the batch's operator-internal
    * caches (an unbounded run must not accumulate pinned frames).
    */
  def foreachBatch(sink: DataFrame => Unit): (DataFrame, Long) => Unit = (batch, _) => {
    val survivors = admit(batch)
    try sink(survivors) finally Caches.release()
  }
}

object AdmissionGate {
  /** True when `dir` already holds persisted admission rows (a parquet
    * append from a previous run — detected by non-empty data files, not
    * just the directory, which the first append also creates). Listed
    * through the path's Hadoop `FileSystem`, so `file:`, `hdfs:` or `s3a:`
    * URIs recover like bare local paths.
    */
  private def hasData(spark: org.apache.spark.sql.SparkSession, dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) &&
      fs.listStatus(p).exists(f => f.getPath.getName.endsWith(".parquet") && f.getLen > 0)
  }
}

/** Streaming NEAR-dup admission gate: an [[AdmissionGate]] whose probe is
  * [[graft.operators.Dedup.probeSurvivors]] (batch side broadcasts, the
  * index never shuffles) over a [[graft.operators.Dedup.buildNearDupIndex]]
  * index — the same artifact a bulk corpus build stores.
  */
final class NearDupGate(initialIndex: DataFrame, idCol: String, textCol: String,
                        threshold: Double, bands: Int = 20, r: Int = 2, shingleN: Int = 1,
                        persistDir: Option[String] = None)
    extends AdmissionGate(initialIndex, persistDir) {
  import graft.operators.Dedup

  protected def probe(index: DataFrame, batch: DataFrame): DataFrame =
    Dedup.probeSurvivors(index, batch, idCol, textCol, threshold, bands, r, shingleN)
  protected def indexRows(survivors: DataFrame): DataFrame =
    Dedup.buildNearDupIndex(survivors, idCol, textCol, bands, r, shingleN)
}

/** Streaming EXACT-dedup admission gate with a Bloom prefilter — the
  * production use the Bloom sketch exists for. The exact admitted-set join
  * is the expensive step of a fingerprint gate (at 100 TB the admitted set
  * is corpus-sized and must shuffle or be state-store-probed per batch);
  * the Bloom bit table is ≤ m BITS broadcast to every executor. A batch
  * fingerprint whose k positions are not all set is a DEFINITE non-member
  * (no false negatives — SketchSpec) and admits without touching the exact
  * set; only possible-members (true duplicates + the measured ≈fill^k
  * false-positive sliver) pay the exact anti-join that resolves them.
  *
  * Result contract: admissions are EXACTLY `StreamDedup.firstSeen`'s (=
  * batch `dropDuplicatesExact` under arrival-order ids) — the prefilter
  * changes cost, never the verdict (spec-pinned, including the
  * only-possible-members-join accounting).
  */
final class BloomGate(spark: org.apache.spark.sql.SparkSession,
                      idCol: String, textCol: String,
                      k: Int = 4, m: Int = 1 << 20) {
  import graft.operators.Sketch

  private val fpSchema = "__fp string"
  @volatile private var fps: DataFrame = // exact admitted fingerprints
    spark.createDataFrame(new java.util.ArrayList[Row](),
      org.apache.spark.sql.types.StructType.fromDDL(fpSchema))
  @volatile private var bits: DataFrame =
    Sketch.bloomBits(fps, "__fp", k, m).localCheckpoint(true)
  /** Rows the exact anti-join processed across all batches (the cost the
    * prefilter saves — observable so specs/ops can assert the win). */
  @volatile var exactJoinRows: Long = 0L

  /** Admit one micro-batch: emit first-seen rows (min `idCol` within the
    * batch per fingerprint), grow the bit table + exact set.
    *
    * NULL-text rows (fingerprint null) are one ordinary dedup key — the
    * same contract as `firstSeen`, whose `groupByKey` keeps the null-fp
    * group. The Bloom/exact machinery drops NULL keys (and SQL null joins
    * never match), so the null fingerprint is coalesced to a sentinel that
    * md5 hex can never produce; it then flows the normal path: first
    * sighting admits, every later one rejects.
    */
  def admit(batch: DataFrame): DataFrame = synchronized {
    val keyed = batch
      .withColumn("__fp",
        coalesce(TextFunctions.contentFingerprint(col(textCol)), lit(BloomGate.NullFp)))
    // within-batch first-seen, same election as the state gate: min id wins
    val firstInBatch = keyed
      .groupBy("__fp")
      .agg(min_by(struct(batch.columns.map(col): _*), col(idCol)).as("__r"))
      .select(col("__fp"), col("__r.*"))
      .localCheckpoint(true) // two consumers below; compute the election once
    // an empty bit table (first batch, nothing admitted) carries no (k, m)
    // row for the probe to read — and trivially has no set bits: all false
    val verdicts =
      if (bits.isEmpty)
        firstInBatch.select(col("__fp").as("probe_key"), lit(false).as("member"))
      else Sketch.bloomMightContain(firstInBatch.select("__fp"), bits, "__fp")
    val possible = firstInBatch.join(
      verdicts.filter(col("member")).select(col("probe_key").as("__fp")), Seq("__fp"))
    val definite = firstInBatch.join(
      verdicts.filter(!col("member")).select(col("probe_key").as("__fp")), Seq("__fp"))
    exactJoinRows += possible.count()
    // only possible-members reach the exact set. BroadcastHashJoin can only
    // build the RIGHT side of a left-anti join, so "broadcast the small
    // batch side" is expressed in two steps that each build-right: the
    // corpus-sized `fps` streams map-side against the broadcast batch keys
    // (left-semi → the ≤|possible| duplicate keys), and that small result
    // broadcasts as the anti-join's build side. `fps` never shuffles.
    val possibleKeys = possible.select("__fp")
    val dupKeys = fps.join(broadcast(possibleKeys), Seq("__fp"), "left_semi")
    val confirmedNew = possible.join(broadcast(dupKeys), Seq("__fp"), "left_anti")
    val admitted = definite.unionByName(confirmedNew).localCheckpoint(true)
    val newFps = admitted.select("__fp")
    bits = Sketch.bloomMerge(bits, Sketch.bloomBits(newFps, "__fp", k, m))
      .localCheckpoint(true)
    fps = fps.unionByName(newFps).localCheckpoint(true)
    admitted.drop("__fp")
  }

  /** Adapter for `writeStream.foreachBatch`. */
  def foreachBatch(sink: DataFrame => Unit): (DataFrame, Long) => Unit =
    (batch, _) => sink(admit(batch))
}

object BloomGate {
  /** Sentinel standing in for a NULL fingerprint — `contentFingerprint`
    * emits 32 lowercase hex chars, so this value collides with no real key.
    */
  val NullFp: String = "__null_fp__"
}
