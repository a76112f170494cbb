package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spans recorded around calls into the program, from the benchmark's own
  * code. Each span holds its name, start, end, parent and run id; spans are
  * kept in memory and written as JSONL when the run ends. A disabled tracer
  * runs the body and records nothing. */
final class Tracer(enabled: Boolean) {
  final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)

  val runId: String = java.util.UUID.randomUUID().toString
  private val ids = new AtomicInteger(0)
  private val spans = mutable.ArrayBuffer[Span]()
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        spans.synchronized(spans += Span(id, parent, name, t0, t1))
      }
    }

  /** Span time minus the part of it that its children cover, summed by name. */
  def selfSeconds: Map[String, Double] = spans.synchronized {
    val kids = spans.groupBy(_.parent)
    spans.toSeq.groupMapReduce(_.name) { s =>
      val covered = kids.getOrElse(s.id, Nil).map(c => c.endNs - c.startNs).sum
      (s.endNs - s.startNs - covered) / 1e9
    }(_ + _)
  }

  def write(path: String): Unit = if (enabled) spans.synchronized {
    val lines = spans.sortBy(_.startNs).map { s =>
      s"""{"run":"$runId","id":${s.id},"parent":${s.parent},"name":${Bench.quote(s.name)},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    Files.write(Paths.get(path), lines.mkString("", "\n", "\n").getBytes(UTF_8))
  }
}

/** Scheduler totals from a SparkListener: jobs, stages, tasks, task time,
  * GC, shuffle and spill bytes, and the job intervals used to find the
  * driver time between jobs. Read with [[snap]] after the bus has drained. */
final class JobStats extends SparkListener {
  final case class Snap(jobs: Long, stages: Long, tasks: Long, taskMs: Long, gcMs: Long,
                        shuffleWrite: Long, spill: Long, intervals: Vector[(Long, Long)]) {
    def -(o: Snap): Snap = Snap(jobs - o.jobs, stages - o.stages, tasks - o.tasks, taskMs - o.taskMs,
      gcMs - o.gcMs, shuffleWrite - o.shuffleWrite, spill - o.spill, intervals.drop(o.intervals.size))

    /** Wall time between `fromMs` and `toMs` when no job was running. */
    def driverGapS(fromMs: Long, toMs: Long): Double = {
      var covered = 0L
      var reach = fromMs
      intervals.sortBy(_._1).foreach { case (s, e) =>
        val a = math.max(s, reach); val b = math.min(e, toMs)
        if (b > a) { covered += b - a; reach = b }
      }
      (toMs - fromMs - covered) / 1000.0
    }
  }

  private var jobs, stages, tasks, taskMs, gcMs, shuffleWrite, spill = 0L
  private val starts = mutable.Map[Int, Long]()
  private val intervals = mutable.ArrayBuffer[(Long, Long)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1; starts(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    intervals += ((starts.remove(e.jobId).getOrElse(e.time), e.time))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized { stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    Option(e.taskMetrics).foreach { m =>
      taskMs += m.executorRunTime
      gcMs += m.jvmGCTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def snap(spark: SparkSession): Snap = {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    synchronized { Snap(jobs, stages, tasks, taskMs, gcMs, shuffleWrite, spill, intervals.toVector) }
  }
}

/** Micro-batch totals from a StreamingQueryListener. */
final class StreamStats extends StreamingQueryListener {
  private var batches = 0L
  private var overheadMs = 0L

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    val d = e.progress.durationMs
    if (d.containsKey("addBatch")) {
      batches += 1
      overheadMs += d.get("triggerExecution") - d.get("addBatch")
    }
  }
  def reset(): Unit = synchronized { batches = 0; overheadMs = 0 }
  def get: (Long, Long) = synchronized((batches, overheadMs))
}

/** Installs both listeners and turns their deltas into `spark.*` metrics. */
final class Listeners(spark: SparkSession) {
  val jobs = new JobStats
  val stream = new StreamStats
  spark.sparkContext.addSparkListener(jobs)
  spark.streams.addListener(stream)

  def sparkMetrics(ctx: Ctx, d: JobStats#Snap, fromMs: Long, toMs: Long): Unit = {
    ctx.number("spark.jobs", d.jobs.toDouble, "count")
    ctx.number("spark.stages", d.stages.toDouble, "count")
    ctx.number("spark.tasks", d.tasks.toDouble, "count")
    ctx.number("spark.task_s", d.taskMs / 1000.0, "s")
    ctx.number("spark.driver_gap_s", d.driverGapS(fromMs, toMs), "s")
    ctx.number("spark.shuffle_write_mb", d.shuffleWrite / 1048576.0, "MB")
    ctx.number("spark.spill_mb", d.spill / 1048576.0, "MB")
    ctx.number("spark.gc_s", d.gcMs / 1000.0, "s")
  }
}
