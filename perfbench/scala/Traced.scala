package graftbench

import java.io.File

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.monotonically_increasing_id

import graft.config.InputConfig
import graft.operators.{Aggregator, Caches, KeyedMergeSet, Mapper, MultiSourceMerge, SubSourceFeed}
import graft.sinks.ProduceSink

/** The traced run's per-layer measurements. The workload's traced pass
  * (spans and listeners on) gives the scheduler totals and the tracing
  * overhead; staged evaluation then times each layer on its own: the
  * layer's input is persisted and materialized untimed, and its output is
  * fully evaluated with a `noop` write. Staged times do not sum to the
  * fused time. Layers a workload does not pass through report 0. */
object Traced {

  val Families: Map[Int, String] =
    Map(2 -> "csv", 4 -> "xlsx", 5 -> "morris_xml", 8 -> "rest_json", 1 -> "sheets", 3 -> "drive_folder")

  /** Every per-layer metric with its unit. */
  val LayerMetrics: Seq[(String, String)] =
    Seq("config.parse_us" -> "us") ++
      Families.values.toSeq.sorted.map(f => s"sources.${f}_s" -> "s") ++
      Seq("sources.eager_jobs" -> "count", "operators.plan_ms" -> "ms", "operators.map_s" -> "s",
        "operators.merge_s" -> "s", "operators.multisource_s" -> "s", "operators.merge_shuffle_mb" -> "MB",
        "sinks.produce_s" -> "s", "sinks.out_mb" -> "MB", "sinks.produce_ms" -> "ms",
        "streaming.batches" -> "count", "streaming.batch_overhead_ms" -> "ms",
        "streaming.stats_wait_ms" -> "ms") ++
      Registry.Queries.flatMap(q => Seq(s"queries.$q.s" -> "s", s"queries.$q.count_s" -> "s",
        s"queries.$q.stages" -> "count", s"queries.$q.tasks" -> "count",
        s"queries.$q.driver_gap_s" -> "s", s"queries.$q.shuffle_mb" -> "MB")) ++
      Seq("spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
        "spark.task_s" -> "s", "spark.driver_gap_s" -> "s", "spark.shuffle_write_mb" -> "MB",
        "spark.spill_mb" -> "MB", "spark.gc_s" -> "s", "trace.pass_s" -> "s")

  /** Report 0 for every layer the run did not measure. */
  def zeroRest(ctx: Ctx): Unit =
    LayerMetrics.foreach { case (n, u) => if (!ctx.has(n)) ctx.number(n, 0.0, u) }

  private def stamp(df: DataFrame): DataFrame =
    df.withColumn(Aggregator.IngestSeqCol, monotonically_increasing_id())

  /** Staged layers over every config, then each message's fixed costs
    * (parse, plan, produce) with the layers called directly. */
  def staged(ctx: Ctx, l: Listeners, resolver: Resolver, configs: Seq[String]): Unit = {
    val spark = ctx.spark
    val units = LayerMetrics.toMap
    val acc = scala.collection.mutable.Map[String, Double]().withDefaultValue(0.0)
    var outBytes = 0L
    configs.foreach { line =>
      val cfg = InputConfig.fromJson(line)
      val held = scala.collection.mutable.ArrayBuffer[DataFrame]()
      def hold(df: DataFrame): DataFrame = { val p = df.persist(); p.count(); held += p; p }
      val ord = Aggregator.IngestSeqCol
      ctx.attempt(s"staged:${cfg.name}") {
        val raw = if (!cfg.isMultiSource) {
          val (df, t) = Bench.secs {
            val d = resolver.read(spark, cfg.typeId.get, cfg.source, cfg.range); Bench.noop(d); d
          }
          acc(s"sources.${Families(cfg.typeId.get)}_s") += t
          hold(stamp(df))
        } else {
          val subs = cfg.subSources
          val base = hold(stamp(resolver.read(spark, subs.head.typeId, subs.head.filename, subs.head.range)))
          val feeds = subs.tail.map(s => SubSourceFeed(
            hold(stamp(resolver.read(spark, s.typeId, s.filename, s.range))), s.key, s.fields, ord))
          val (m, t) = Bench.secs {
            val m = MultiSourceMerge.merge(base, subs.head.key, ord, feeds, keepOrderCol = true); Bench.noop(m); m
          }
          acc("operators.multisource_s") += t
          hold(m)
        }
        val (mapped, tMap) = Bench.secs {
          val m = Mapper.mapColumns(raw, cfg.rules, cfg.supplierId, cfg.version, passthrough = Seq(ord))
          Bench.noop(m); m
        }
        acc("operators.map_s") += tMap
        val rules = cfg.rules.flatMap(r => r.merge.map(r.target -> _)).toMap
        val mappedHeld = hold(mapped)
        val before = l.jobs.snap(spark)
        val (merged, tMerge) = Bench.secs {
          val g = KeyedMergeSet.dedupe(mappedHeld, "upc", rules, ord); Bench.noop(g); g
        }
        acc("operators.merge_s") += tMerge
        acc("operators.merge_shuffle_mb") += (l.jobs.snap(spark) - before).shuffleWrite / 1048576.0
        val mergedHeld = hold(merged)
        val dest = s"${ctx.work}/staged_out/${cfg.name}"
        acc("sinks.produce_s") += Bench.secs(ProduceSink.writeJsonl(mergedHeld, "upc", dest))._2
        outBytes += Bench.dirBytes(new File(dest))
      }
      held.foreach(_.unpersist(true))
      Caches.release()
    }
    acc.foreach { case (k, v) => ctx.number(k, v, units(k)) }
    ctx.number("sinks.out_mb", outBytes / 1048576.0, "MB")

    var parse, plan, produce = 0.0
    configs.foreach { line =>
      ctx.attempt("staged:message") {
        val (cfg, tp) = Bench.secs(InputConfig.fromJson(line))
        val (df, tr) = Bench.secs(Aggregator.run(spark, cfg, resolver))
        produce += Bench.secs(ProduceSink.writeJsonl(df, "upc", s"${ctx.work}/staged_out/${cfg.name}"))._2
        parse += tp; plan += tr
      }
      Caches.release()
    }
    ctx.number("config.parse_us", 1e6 * parse / configs.size, "us")
    ctx.number("operators.plan_ms", 1000 * plan / configs.size, "ms")
    ctx.number("sinks.produce_ms", 1000 * produce / configs.size, "ms")
    zeroRest(ctx)
  }

  /** Each query fully evaluated with the listener's per-query deltas, then
    * `count()` beside it, to show where pruning hides work. */
  def registry(ctx: Ctx, l: Listeners, queries: Seq[String], dir: String): Unit = {
    val spark = ctx.spark
    val before = l.jobs.snap(spark)
    val from = System.currentTimeMillis()
    var total = 0.0
    queries.foreach { q =>
      val b = l.jobs.snap(spark)
      val t0 = System.currentTimeMillis()
      ctx.attempt(s"query:$q") {
        val t = Bench.secs(ctx.tracer(s"queries.$q")(Bench.noop(graft.SparkEntry.queries(q)(spark, dir))))._2
        ctx.number(s"queries.$q.s", t, "s")
        total += t
      }
      Caches.release()
      val d = l.jobs.snap(spark) - b
      ctx.number(s"queries.$q.stages", d.stages.toDouble, "count")
      ctx.number(s"queries.$q.tasks", d.tasks.toDouble, "count")
      ctx.number(s"queries.$q.driver_gap_s", d.driverGapS(t0, System.currentTimeMillis()), "s")
      ctx.number(s"queries.$q.shuffle_mb", d.shuffleWrite / 1048576.0, "MB")
    }
    l.sparkMetrics(ctx, l.jobs.snap(spark) - before, from, System.currentTimeMillis())
    ctx.number("trace.pass_s", total, "s")
    queries.foreach { q =>
      ctx.attempt(s"count:$q") {
        ctx.number(s"queries.$q.count_s", Bench.secs(graft.SparkEntry.queries(q)(spark, dir).count())._2, "s")
      }
      Caches.release()
    }
    zeroRest(ctx)
  }
}
