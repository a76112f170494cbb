package graftbench

import java.io.File
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{StringType, StructType}

import graft.operators.{Aggregator, Caches}
import graft.sinks.ProduceSink
import graft.sources._
import graft.streaming.ConfigConsumer

/** The benchmark's source resolver: type_id → the graft reader for a file
  * or directory under the generated inputs. With `listeners` set (traced
  * runs) it counts the Spark jobs each reader call runs eagerly. */
final class Resolver(root: String, ctx: Ctx, listeners: Option[Listeners]) extends Aggregator.SourceResolver {
  private val restRow = StructType(Seq("item_code", "unit_price", "on_hand", "state", "label")
    .map(org.apache.spark.sql.types.StructField(_, StringType)))
  @volatile var reads = 0L
  @volatile var eagerJobs = 0L

  def read(spark: SparkSession, typeId: Int, source: String, range: Option[String]): DataFrame =
    ctx.tracer("sources.read") {
      val before = listeners.map(_.jobs.snap(spark).jobs)
      val p = s"$root/$source"
      val df = typeId match {
        case 1     => SheetsSource.toTable(spark, p, range)
        case 2 | 7 => CsvSource.read(spark, p)
        case 3     => DriveFolderSource.read(spark, p, range)
        case 4 | 6 => ExcelSource.toTable(ExcelSource.readXlsxGrid(spark, p), range)
        case 5     => MorrisXmlSource.parse(spark.read.option("wholetext", "true").text(p), "value")
        case 8     => RestJsonSource.read(spark, p, restRow)
        case t     => throw new IllegalArgumentException(s"no reader for type_id $t")
      }
      before.foreach { b => synchronized { reads += 1; eagerJobs += listeners.get.jobs.snap(spark).jobs - b } }
      df
    }
}

/** `edi_feeds`: the paper's pipeline as its consumer runs it. A closed loop
  * with one serial consumer: every config message (one per source family
  * plus one multi-source config) sits in a fresh config directory before
  * `ConfigConsumer.start`, and the stream is drained with
  * `processAllAvailable`. One round = one drain of every message; each
  * message goes `Aggregator.run` → `ProduceSink.writeJsonl`. */
object EdiFeeds {
  final case class Round(drainS: Double, cpuS: Double, gapsS: Seq[(String, Double)],
                         cpuGapsS: Seq[(String, Double)], produced: Seq[String],
                         statsWaitS: Seq[Double])

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val all = new File(s"${ctx.inputs}/messages").listFiles()
      .filter(_.getName.endsWith(".json")).sortBy(_.getName).toSeq
    val rows = Bench.manifest(ctx.inputs).get("meta").get("rows").asDouble
    val listeners = if (ctx.trace) Some(new Listeners(spark)) else None
    val resolver = new Resolver(ctx.inputs, ctx, listeners)
    var roundNo = 0

    def round(messages: Seq[File]): Round = {
      val dir = s"${ctx.work}/consumer/r$roundNo"
      roundNo += 1
      Files.createDirectories(Paths.get(s"$dir/configs"))
      messages.foreach(m => Files.copy(m.toPath, Paths.get(s"$dir/configs/${m.getName}")))
      val done = new ConcurrentLinkedQueue[(String, Long, Long)]()
      val waits = new ConcurrentLinkedQueue[Double]()
      val failed0 = ctx.failures("message")
      ctx.count(messages.size)
      val (t0, c0) = (System.nanoTime(), Bench.cpuNs())
      val q = ConfigConsumer.start(spark, s"$dir/configs", s"$dir/checkpoint", resolver,
        sink = (cfg, feed) => {
          ctx.tracer("sinks.produce")(ProduceSink.writeJsonl(feed, "upc", s"$dir/out/${cfg.name}"))
          done.add((cfg.name, System.nanoTime(), Bench.cpuNs()))
        },
        onError = (_, e) => ctx.error("message", e),
        onStats = (cfg, _) => {
          val t = System.nanoTime()
          done.asScala.find(_._1 == cfg.name).foreach(d => waits.add((t - d._2) / 1e9))
        })
      try q.processAllAvailable() finally q.stop()
      val (t1, c1) = (System.nanoTime(), Bench.cpuNs())
      val order = done.asScala.toSeq
      // a message neither produced nor reported to onError is a failure too
      val silent = messages.size - order.map(_._1).distinct.size - (ctx.failures("message") - failed0)
      (1 to silent).foreach(_ => ctx.error("message", new IllegalStateException("message neither produced nor failed")))
      ctx.fact("last_round_out", Bench.quote(s"$dir/out"))
      val pairs = order.zip(order.drop(1))
      Round((t1 - t0) / 1e9, (c1 - c0) / 1e9,
        pairs.map { case (a, b) => b._1 -> (b._2 - a._2) / 1e9 },
        pairs.map { case (a, b) => b._1 -> (b._3 - a._3) / 1e9 },
        order.map(_._1), waits.asScala.toSeq)
    }
    def produced(rs: Seq[Round]): String =
      rs.map(_.produced.map(Bench.quote).mkString("[", ",", "]")).mkString("[", ",", "]")

    ctx.log(f"warm-up round ${round(all).drainS}%.1f s")
    if (!ctx.trace) {
      val rounds = Seq.newBuilder[Round]
      ctx.timedPasses(_ => rounds += round(all))
      val rs = rounds.result()
      val perMsg = rs.flatMap(_.gapsS).groupMap(_._1)(_._2).values.map(Bench.median).toSeq
      ctx.number("rows_per_s", rows / Bench.median(rs.map(_.drainS)), "rows/s")
      ctx.number("op_geomean_ms", 1000 * Bench.geomean(perMsg), "ms")
      ctx.number("cpu_us_per_row", 1e6 * Bench.median(rs.map(_.cpuS)) / rows, "us")
      ctx.number("op_cpu_geomean_ms", 1000 * Bench.geomean(
        rs.flatMap(_.cpuGapsS).groupMap(_._1)(_._2).values.map(Bench.median).toSeq), "ms")
      ctx.fact("produced_rounds", produced(rs))
    } else {
      val l = listeners.get
      l.stream.reset()
      val before = l.jobs.snap(spark)
      val (reads0, eager0) = (resolver.reads, resolver.eagerJobs)
      val from = System.currentTimeMillis()
      val r = round(all)
      val to = System.currentTimeMillis()
      l.sparkMetrics(ctx, l.jobs.snap(spark) - before, from, to)
      val (batches, overheadMs) = l.stream.get
      ctx.fact("produced_rounds", produced(Seq(r)))
      ctx.number("trace.pass_s", r.drainS, "s")
      ctx.number("streaming.batches", batches.toDouble, "count")
      ctx.number("streaming.batch_overhead_ms", if (batches > 0) overheadMs.toDouble / batches else 0, "ms")
      ctx.number("streaming.stats_wait_ms", 1000 * Bench.median(r.statsWaitS), "ms")
      ctx.number("sources.eager_jobs", (resolver.eagerJobs - eager0).toDouble / (resolver.reads - reads0), "count")
      Traced.staged(ctx, l, resolver, all.map(m => Bench.readLines(m.getPath).head))
    }
  }
}

/** `registry_full`: registry queries, each fully evaluated with a `noop`
  * write; operator caches released between queries. */
object Registry {
  val Queries: Seq[String] = Seq(
    "q1_pricing_summary", "q5_local_supplier", "q_supplier_agg", "q_concomp")

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val dir = ctx.inputs
    val listeners = if (ctx.trace) Some(new Listeners(spark)) else None
    val counts = Bench.manifest(dir).get("meta").get("tables")
    val rows = Queries.flatMap(tables).map(t => counts.get(t).asDouble).sum

    val out = s"${ctx.work}/registry_out"
    // two discarded warm-up passes; the first writes each result for the
    // oracle check, every other pass evaluates with a noop write
    def query(q: String, dump: Boolean): Option[(Double, Double)] = ctx.attempt(s"query:$q") {
      val df = graft.SparkEntry.queries(q)(spark, dir)
      ctx.tracer(s"queries.$q")(if (dump) df.write.mode("overwrite").parquet(s"$out/$q") else Bench.noop(df))
      Caches.release()
    }
    def pass(dump: Boolean = false): (Seq[Option[(Double, Double)]], Double) = {
      val r = Bench.secs(Queries.map(query(_, dump)))
      ctx.log(Queries.zip(r._1).map { case (q, t) => f"$q ${t.fold(-1.0)(_._1)}%.2f/${t.fold(-1.0)(_._2)}%.2f" }.mkString(" "))
      r
    }

    ctx.log(f"warm-up pass ${pass(dump = true)._2}%.1f s")
    ctx.log(f"warm-up pass ${pass()._2}%.1f s")
    ctx.fact("out_dir", Bench.quote(out))
    ctx.fact("oracle_sql", Queries.map(q => s"${Bench.quote(q)}:${Bench.quote(graft.SparkEntry.oracleSql(q))}")
      .mkString("{", ",", "}"))
    if (!ctx.trace) {
      val per = Queries.map(_ => Seq.newBuilder[(Double, Double)]).toVector
      ctx.timedPasses { _ =>
        pass()._1.zip(per).foreach { case (t, b) => t.foreach(b += _) }
      }
      // a pass is the sum of each query's median over passes, so a spike
      // in one query of one pass does not move it
      val wall = per.map(b => Bench.median(b.result().map(_._1)))
      val cpu = per.map(b => Bench.median(b.result().map(_._2)))
      ctx.number("rows_per_s", rows / wall.sum, "rows/s")
      ctx.number("op_geomean_ms", 1000 * Bench.geomean(wall), "ms")
      ctx.number("cpu_us_per_row", 1e6 * cpu.sum / rows, "us")
      ctx.number("op_cpu_geomean_ms", 1000 * Bench.geomean(cpu), "ms")
    } else Traced.registry(ctx, listeners.get, Queries, dir)
  }

  /** The tables each query reads; `rows_per_s` counts their rows. */
  def tables(q: String): Seq[String] = q match {
    case "q1_pricing_summary" | "q_supplier_agg" => Seq("lineitem")
    case "q5_local_supplier" => Seq("lineitem", "orders", "supplier", "customer", "nation", "region")
    case "q_concomp"         => Seq("orders", "lineitem")
  }
}
