package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import java.util.concurrent.{CountDownLatch, TimeUnit}

/** Shared local session for all specs (one JVM-wide session, cheap). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"

  /** Set session confs for the duration of `body`, restoring the previous
    * values after — the session is shared across suites, so every conf
    * change must be scoped.
    */
  def withConf[T](pairs: (String, String)*)(body: => T): T = {
    val prev = pairs.map { case (k, _) => k -> util.Try(spark.conf.get(k)).toOption }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** Jobs started from this thread while `body` runs. A sentinel job ends the
    * count: listener events arrive in order, so once it is seen every job
    * `body` started has been seen too. */
  def jobsStartedBy[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"jobs-started-${System.nanoTime()}"
    val sentinel = "jobs-started-sentinel"
    val seen = new java.util.concurrent.atomic.AtomicInteger()
    val done = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group)) {
          if (e.properties.getProperty("spark.job.description") == sentinel) done.countDown()
          else seen.incrementAndGet()
        }
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "counted")
    try {
      val out = body
      sc.setJobDescription(sentinel)
      sc.parallelize(Seq(1), 1).count()
      assert(done.await(30, TimeUnit.SECONDS), "sentinel job never reached the listener")
      (out, seen.get)
    } finally {
      sc.clearJobGroup()
      sc.setJobDescription(null)
      sc.removeSparkListener(listener)
    }
  }
}

object SparkSpec {
  // tests exercise semantics on KB-scale data: wide initial shuffles
  // (measured +60% suite wall-clock at an initialPartitionNum of 256) only
  // add per-shuffle scheduling overhead here, so specs pin the initial
  // width to the thread count regardless of the environment. Scale
  // behavior is measured by the bench, not the unit suite.
  lazy val session: SparkSession = {
    val s = GraftSession.tune(SparkSession.builder()
        .master("local[4]")
        .appName("graft-test")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "4"))
      // AFTER tune: builder options are last-write-wins, so this stays the
      // session's setting whatever tune() grows to set
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", "4")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
