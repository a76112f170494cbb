package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Entry point of the benchmark JVM.
  *
  *   --role setup   build the session, record the set-up time, exit
  *   --role main    build the session, run one workload, write result.json
  *
  * Every workload runs a discarded warm-up pass, then whole timed passes
  * until `--seconds` have elapsed, then (untimed) dumps what check.py needs.
  * With `--trace 1` it instead runs the traced and staged passes of
  * [[Traced]] and reports per-layer metrics.
  */
object Bench {

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = a("work")
    val spark = session(work)
    // set-up cost as CPU seconds of this JVM: unlike wall time it does not
    // move with CPU stolen from the box or with the concurrent probes
    val setupS = cpuNs() / 1e9
    val setupWallS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    if (a("role") == "setup") {
      write(s"$work/setup-${a("id")}.json", s"""{"setup_s":$setupS,"setup_wall_s":$setupWallS}""")
      Runtime.getRuntime.halt(0) // the session dies with the JVM; no teardown to time
    }
    awaitProbes(work, a.getOrElse("probes", "0").toInt)
    System.err.println(f"[bench] set up in $setupWallS%.1f s ($setupS%.1f CPU s); probes done")
    val ctx = new Ctx(spark, a("inputs"), work, a("seconds").toDouble, a("trace") == "1")
    ctx.number("setup_s", setupS, "s")
    ctx.number("setup_wall_s", setupWallS, "s")
    try {
      a("workload") match {
        case "edi_feeds"     => EdiFeeds.run(ctx)
        case "registry_full" => Registry.run(ctx)
        case w               => throw new IllegalArgumentException(s"unknown workload $w")
      }
      graft.operators.Caches.release()
      ctx.number("live_heap_mb", liveHeapMb(), "MB")
    } catch {
      case NonFatal(e) => e.printStackTrace(); ctx.error("workload", e)
    }
    if (ctx.trace) ctx.log(ctx.tracer.selfSeconds.toSeq.sortBy(-_._2)
      .map { case (n, t) => f"$n $t%.3f" }.mkString("span self seconds: ", ", ", ""))
    ctx.tracer.write(s"$work/spans.jsonl")
    write(s"$work/result.json", ctx.json)
    // nothing left to time or keep: the session's local directories live
    // in `work`, which run.py removes
    Runtime.getRuntime.halt(0)
  }

  /** The fixed session every role builds: `local[N]` with N = min(4,
    * cores), a fixed shuffle width, every local directory inside `work`. */
  def session(work: String): SparkSession = {
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)
    val s = graft.GraftSession.tune(SparkSession.builder()
        .master(s"local[$cores]")
        .appName("graft-bench")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
        .config("spark.driver.host", "localhost")
        .config("spark.driver.bindAddress", "127.0.0.1"))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The set-up probes start together with this JVM; wait until they have
    * recorded their set-up so that they do not share the box with the
    * timed passes. */
  private def awaitProbes(work: String, n: Int): Unit = {
    val deadline = System.nanoTime() + 120L * 1000000000L
    def done = Option(new File(work).list()).getOrElse(Array.empty[String])
      .count(f => f.startsWith("setup-") && f.endsWith(".json"))
    while (done < n && System.nanoTime() < deadline) Thread.sleep(20)
  }

  /** Heap still reachable after the last pass: full collections until the
    * used heap settles (Spark's cleaner frees blocks asynchronously after
    * a collection finds their owners unreachable). */
  private def liveHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    def used() = { System.gc(); Thread.sleep(200); mem.getHeapMemoryUsage.getUsed }
    var (prev, cur, n) = (Long.MaxValue, used(), 0)
    while (prev - cur > (1L << 20) && n < 10) { prev = cur; cur = used(); n += 1 }
    math.min(prev, cur) / (1024.0 * 1024.0)
  }

  def write(path: String, s: String): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.write(Paths.get(path), s.getBytes(UTF_8))
  }

  /** The inputs' manifest.json (written by gen.py). */
  def manifest(inputs: String): com.fasterxml.jackson.databind.JsonNode =
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(new File(s"$inputs/manifest.json"))

  def readLines(path: String): Seq[String] =
    new String(Files.readAllBytes(Paths.get(path)), UTF_8).split("\n").toSeq.filter(_.trim.nonEmpty)

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(math.log).sum / xs.size)

  /** CPU time of every thread of this JVM. CPU time a hypervisor steals
    * from the box is not charged to it, unlike wall time. */
  def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def secs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).map(dirBytes).sum
    else f.length()

  def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c    => b += c
    }
    (b += '"').toString
  }
}

/** What one run records: metrics, operations attempted and failed (with
  * each failure's class and message), and facts for the output checks. */
final class Ctx(val spark: SparkSession, val inputs: String, val work: String,
                val seconds: Double, val trace: Boolean) {
  val tracer = new Tracer(enabled = trace)
  private val metrics = mutable.LinkedHashMap[String, (Double, String)]()
  private val facts = mutable.LinkedHashMap[String, String]()
  private val errors = mutable.ArrayBuffer[(String, String, String)]()
  private var attempted = 0L
  private var failed = 0L

  def number(name: String, v: Double, unit: String): Unit = synchronized { metrics(name) = (v, unit) }

  def has(name: String): Boolean = synchronized(metrics.contains(name))

  /** A raw JSON value handed to check.py. */
  def fact(name: String, json: String): Unit = synchronized { facts(name) = json }

  def error(op: String, e: Throwable): Unit = synchronized {
    failed += 1
    errors += ((op, e.getClass.getName, String.valueOf(e.getMessage).take(2000)))
    System.err.println(s"[bench] $op failed: ${e.getClass.getName}: ${e.getMessage}")
  }

  def count(n: Long = 1): Unit = synchronized { attempted += n }

  def failures(op: String): Int = synchronized(errors.count(_._1 == op))

  /** One operation: counted as attempted; on failure its error is recorded
    * and the run goes on. Returns the body's wall and CPU seconds. */
  def attempt(op: String)(body: => Unit): Option[(Double, Double)] = {
    count()
    val c0 = Bench.cpuNs()
    try { val t = Bench.secs(body)._2; Some((t, (Bench.cpuNs() - c0) / 1e9)) }
    catch { case NonFatal(e) => error(op, e); None }
  }

  /** Whole timed passes until the run's seconds are spent (at least one). */
  def timedPasses(pass: Int => Unit): Int = {
    val t0 = System.nanoTime()
    var n = 0
    while (n == 0 || (System.nanoTime() - t0) / 1e9 < seconds) { pass(n); n += 1 }
    log(f"$n timed passes in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    n
  }

  def log(msg: String): Unit = System.err.println(s"[bench] $msg")

  def json: String = synchronized {
    import Bench.quote
    val m = metrics.map { case (k, (v, u)) =>
      s"${quote(k)}:{\"value\":${if (v.isNaN || v.isInfinite) "null" else v.toString},\"unit\":${quote(u)}}"
    }.mkString(",")
    val e = errors.map { case (op, c, msg) =>
      s"{\"op\":${quote(op)},\"class\":${quote(c)},\"message\":${quote(msg)}}"
    }.mkString(",")
    val f = facts.map { case (k, v) => s"${quote(k)}:$v" }.mkString(",")
    s"""{"attempted":$attempted,"failed":$failed,"metrics":{$m},"errors":[$e],"facts":{$f}}"""
  }
}
