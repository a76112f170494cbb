package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampType}


/** Session + table helpers shared by the library, Verify, Bench and tests.
  *
  * Scale notes: shuffle partitions default small for local[32]; on a real
  * cluster callers override via `spark.sql.shuffle.partitions` / AQE.
  */
object GraftSession {

  /** Apply graft's recommended conf to a builder (AQE on, ANSI off for
    * permissive EDI-style coercions — the reference engine coerces dirty
    * strings, never throws; cf. /root/reference/src/Service/Mapper/Mapper.php:21-52).
    */
  def tune(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.extensions", "graft.plans.GraftExtensions")
    .config("spark.sql.ansi.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    // AQE shuffle WIDTH is a deployment knob, not a library constant. A
    // fixed initialPartitionNum is wrong at both ends: at toy SF the extra
    // reducers are pure scheduling overhead (a hardcoded 256 measured +25%
    // to +80% across the sf0.1 registry — 2.8 s → 5.1 s on the composed
    // curation pipeline), and on a real cluster a small constant CAPS
    // parallelism below a properly sized spark.sql.shuffle.partitions.
    // Deployments size shuffle.partitions to the data (AQE coalesces down
    // for free); scale runs that want wider-than-default initial shuffles
    // set spark.sql.adaptive.coalescePartitions.initialPartitionNum
    // themselves — the r5 sf1 audit's measured wins (banded minhash
    // 47 s → 34 s at sf1) reproduce with 256 there.
    // InferFiltersFromGenerate rewrites explode(e) into
    // Filter(size(e) > 0) + explode(e): when e is a COMPUTED array
    // (tokenization, shingles, PQ codes — most generators in this
    // library), the whole expression tree is evaluated twice per row,
    // once in an often-interpreted filter — measured 12.9 s vs 2.0 s on
    // the PQ store and ~2× on every tokenize-and-explode scan. The rule
    // only prunes rows whose arrays are empty/null (Generate itself
    // already skips them); on corpora without empty-array columns it is
    // pure loss, so it is excluded engine-wide.
    .config("spark.sql.optimizer.excludedRules",
      "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
    // events.parquet carries TIMESTAMP(NANOS) which Spark 4 refuses by
    // default; read as long nanos — we convert to epoch millis explicitly,
    // which is also the determinism-safe interchange with the oracle.
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    // CsvSource enforces the reference's skip-ragged-rows semantics through
    // the corrupt-record column; parser-side pruning would skip the arity
    // check on pruned reads (EDI feeds are narrow — pruning buys nothing)
    .config("spark.sql.csv.parser.columnPruning.enabled", "false")
    // Spark's generated-code cache must hold a whole pass of graft's plans,
    // or a warm loop re-runs Janino (and then the JIT) on classes it
    // compiled a moment ago. Measured working sets (distinct classes per
    // pass, perfbench, CodegenMetrics): one drain of the seven EDI config
    // messages 107, one pass of four registry queries 100. The cache is a
    // Guava LRU with 4 segments of maxEntries/4 each, evicting per segment:
    // at the default 100 (25 per segment) no pass fits, and every warm pass
    // recompiled 44-67 classes (EDI) or 26-49 (registry). At 2000 (500 per
    // segment) both working sets fit together several times over, and warm
    // passes compile 0 (registry) or 2 (EDI: the consumer's own stream
    // read, whose tasks run under a class loader that is new for each
    // query start, and the cache is keyed by loader). An entry keeps its
    // source (about 5 KB mean, 20 KB p95) and bytecode (about 2.2 KB mean,
    // 7 KB p95), so a full cache holds roughly 15 MB of driver heap; it only
    // fills in a JVM that generates that many distinct plans.
    .config("spark.sql.codegen.cache.maxEntries", "2000")

  def local(threads: Int = 4): SparkSession = {
    val s = tune(
      SparkSession
        .builder()
        .master(s"local[$threads]")
        .appName("graft")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", threads.toString)
    ).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Load one of the standard tables from a scale-factor directory. */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    parquet(spark, s"$sfDir/$name.parquet")

  /** `spark.read.parquet(path)`, with the schema worked out on the driver.
    *
    * Spark infers a parquet schema with a Spark job of its own
    * (`ParquetUtils.inferSchema` → `mergeSchemasInParallel`: parallelize,
    * mapPartitions, collect), even when, as without `mergeSchema`, it reads
    * a single footer. At registry sizes that job is a large share of a
    * query's fixed cost: 10 of the 43 jobs of a perfbench `registry_full`
    * pass, and 6 of `q5_local_supplier`'s 15 stages. This helper does the
    * same inference without the job, then hands Spark the schema:
    *  - list `path` through the Hadoop `FileSystem`, dropping the names
    *    Spark's file index drops (`_…` and `.…`, except `_metadata…`,
    *    `_common_metadata…` and partition-style `_a=b`; `…._COPYING_`);
    *  - pick the file Spark's inference picks: `_common_metadata`, else
    *    `_metadata`, else the first data file in path order;
    *  - read that footer without its row groups, and convert it with the
    *    converter `mergeSchemasInParallel` builds (the same five session
    *    confs, constructor defaults for the other three).
    *
    * It falls back to plain `spark.read.parquet(path)`, so Spark's own
    * errors and semantics stand, wherever the shortcut could differ: a glob
    * or a missing path, sub-directories (partitions), no data file,
    * `mergeSchema` on, a Hadoop input path filter, or a footer that cannot
    * be read. Each call reads one footer and keeps nothing, so a table
    * rewritten in place is never read under a stale schema.
    */
  def parquet(spark: SparkSession, path: String): DataFrame =
    footerSchema(spark, path).fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))

  private def footerSchema(spark: SparkSession, path: String): Option[StructType] = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
    import org.apache.parquet.hadoop.Footer
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.spark.sql.execution.datasources.parquet.{
      ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
    val sql = spark.sessionState.conf
    val conf = spark.sessionState.newHadoopConf()
    if (sql.isParquetSchemaMergingEnabled || path.exists("{}[]*?\\".contains(_)) ||
        conf.get("mapreduce.input.pathFilter.class") != null) return None
    // Spark's file index (HadoopFSUtils.shouldFilterOutPathName)
    def listed(name: String) =
      !((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
        name.endsWith("._COPYING_")) ||
        name.startsWith("_common_metadata") || name.startsWith("_metadata")
    try {
      val p = new Path(path)
      val fs = p.getFileSystem(conf)
      val leaves = fs.listStatus(p).filter(s => listed(s.getPath.getName))
      if (leaves.exists(_.isDirectory)) return None
      // ParquetUtils.splitFiles/inferSchema
      val sorted = leaves.sortBy(_.getPath.toString)
      def named(n: String) = sorted.find(_.getPath.getName == n)
      val summary = Set("_common_metadata", "_metadata")
      named("_common_metadata").orElse(named("_metadata"))
        .orElse(sorted.find(s => !summary(s.getPath.getName)))
        .map { f =>
          val footer = new Footer(f.getPath,
            ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(f, conf), SKIP_ROW_GROUPS))
          ParquetFileFormat.readSchemaFromFooter(footer, new ParquetToSparkSchemaConverter(
            assumeBinaryIsString = sql.isParquetBinaryAsString,
            assumeInt96IsTimestamp = sql.isParquetINT96AsTimestamp,
            inferTimestampNTZ = sql.parquetInferTimestampNTZEnabled,
            nanosAsLong = sql.legacyParquetNanosAsLong,
            respectUnknownTypeAnnotation = sql.parquetReaderRespectUnknownTypeAnnotation))
        }
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** `df`, rebalanced up to the session's parallelism when the FILE LAYOUT
    * caps the scan below it — single-row-group files (every toy/test
    * table here) and few-unsplittable-file production inputs scan as 1-2
    * tasks, so all per-row map work above them runs near-single-threaded
    * (guide §2.5 input skew: "one huge unsplittable file … repartition
    * immediately after the read"). At real scale the scan width already
    * exceeds defaultParallelism and this is the IDENTITY — the condition
    * is derived from the data layout, not the core count. Apply ONLY
    * where per-row work dominates the scan (tokenize / regex / hash over
    * document text): a cheap column scan does not earn the exchange
    * back (measured: langid 2.4 s → 0.5 s, plain lineitem agg
    * 0.19 s → 0.56 s — OPTIMIZATION_r13.md, Change 6).
    *
    * ONLY call this on scan-rooted frames (a table, or filter/project over
    * one): the partition-count probe walks `df.rdd`, and under AQE that
    * EXECUTES any upstream exchanges — on a derived frame the probe itself
    * re-runs the upstream pipeline (measured: the composed curation
    * pipeline doubled when its joined intermediate was probed).
    */
  def rebalanceScan(df: DataFrame): DataFrame = {
    if (df.isStreaming) return df // micro-batch width is the source's
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < p) df.repartition(p) else df
  }

  /** The events table's `ts` as epoch MILLISECONDS, whatever physical type
    * the parquet writer chose. Generators have shipped `ts` both as
    * TIMESTAMP(NANOS) — which Spark 4 only reads as a long via
    * `nanosAsLong` (see [[tune]]) — and as TIMESTAMP(MICROS), which arrives
    * as TIMESTAMP_NTZ. `DIV` has no timestamp overload, so the long-nanos
    * expression fails analysis on the NTZ read (and vice versa); dispatching
    * on the *schema as read* makes every events query engine-stable across
    * testdata regenerations. The session TZ is pinned UTC ([[tune]]), so the
    * NTZ→timestamp cast is instant-preserving and both branches agree with
    * the oracle's `epoch_ms(ts)`.
    */
  def eventTsMs(events: DataFrame, tsCol: String = "ts"): Column =
    events.schema(tsCol).dataType match {
      case LongType => expr(s"$tsCol DIV 1000000") // nanos-as-long → ms
      case _        => unix_millis(col(tsCol).cast(TimestampType))
    }

  /** Derive the AQE initial shuffle width from the INPUT'S on-disk size and
    * set it on the session (a runtime SQL conf — no rebuild needed).
    *
    * The r5 A/B established both failure modes of a constant: 256 initial
    * reducers cost +25–80% at sf0.1 (scheduling overhead on MB-scale
    * stages) while 32 costs 2.7–3.8× at sf1 (GC-bound mega-partitions in
    * the dedup family). The data size is what discriminates, so derive the
    * default from it: one initial partition per ~768 KB of compressed
    * parquet, rounded up to a power of two, clamped to
    * [defaultParallelism, 1024] — sf0.1 (≈18 MB) lands at the floor (32,
    * the proven setting) and the ×10 corpus (≈106 MB) lands at 256 (the
    * proven knob value). On a real cluster the same rule tracks
    * `maxPartitionBytes`-style sizing. A session whose
    * `initialPartitionNum` is already set (by the builder, `-Dspark.…` or
    * `spark.conf.set`) is left untouched: explicit beats derived.
    *
    * @return the width applied (or the explicit setting's value)
    */
  def autoSizeShuffle(spark: SparkSession, dataDir: String): Int = {
    val conf = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
    spark.conf.getOption(conf) match {
      case Some(n) => n.toInt
      case None =>
        def bytes(f: java.io.File): Long =
          if (f.isDirectory) f.listFiles() match {
            case null => 0L
            case fs => fs.map(bytes).sum
          }
          else if (f.getName.endsWith(".parquet")) f.length()
          else 0L
        val total = bytes(new java.io.File(dataDir))
        val target = 768L * 1024
        val raw = math.max(1L, (total + target - 1) / target)
        val floored = math.max(spark.sparkContext.defaultParallelism.toLong,
          math.min(1024L, raw)).toInt
        val parts = if (floored <= 1) 1 else Integer.highestOneBit(floored - 1) << 1
        spark.conf.set(conf, parts.toString)
        parts
    }
  }

  val standardTables: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** Register every standard table as a temp view, so the whole engine is
    * also reachable through `spark.sql(...)` (including the injected
    * graft_* functions).
    */
  def registerTables(spark: SparkSession, sfDir: String): Unit =
    standardTables.foreach(n => table(spark, sfDir, n).createOrReplaceTempView(n))
}
