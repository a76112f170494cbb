package graft

import graft.operators.{Caches, Graph, Route}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, CyclicBarrier, TimeUnit}
import scala.jdk.CollectionConverters._

/** A route decision is recorded on the thread that made it ([[Route]]):
  * two runs on two threads of one session each read their own choice, and
  * the jobs a thread starts after a decision carry it in their properties.
  */
class RouteSpec extends SparkSpec {
  import spark.implicits._

  private val edges = Seq(1L -> 2L, 2L -> 3L, 7L -> 8L)
  private val aboveEdges = 1L << 22 // driver budget far above 3 edges
  private val belowEdges = 0L       // budget below the edge count

  test("two threads of one session each read their own cc route") {
    val df = edges.toDF("src", "dst")
    val barrier = new CyclicBarrier(2)
    val seen = new ConcurrentHashMap[Long, String]()
    val errors = new ConcurrentLinkedQueue[Throwable]()
    val threads = Seq(aboveEdges, belowEdges).map { budget =>
      new Thread(() =>
        try {
          Graph.connectedComponents(df, "src", "dst", collectEdgeThreshold = budget)
          // both decisions are made before either thread reads its record
          barrier.await(60, TimeUnit.SECONDS)
          seen.put(budget, Route.last(spark, "cc"))
        } catch { case t: Throwable => errors.add(t) })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(120000))
    Caches.release()
    assert(errors.isEmpty, errors.asScala.mkString("\n"))
    assert(seen.asScala.toMap == Map(aboveEdges -> "driver", belowEdges -> "distributed"))
  }

  test("jobs started after a cc decision carry graft.route.cc in their properties") {
    val sc = spark.sparkContext
    val group = s"route-${System.nanoTime()}"
    val sentinel = "route-sentinel"
    val routes = new ConcurrentLinkedQueue[String]()
    val done = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group)) {
          if (e.properties.getProperty("spark.job.description") == sentinel) done.countDown()
          else routes.add(String.valueOf(e.properties.getProperty("graft.route.cc")))
        }
    }
    val df = edges.toDF("src", "dst")
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "route")
    try {
      // distributed first: its propagation rounds run after the decision;
      // then the driver route, whose edge collect is the last job
      Graph.connectedComponents(df, "src", "dst", collectEdgeThreshold = belowEdges).collect()
      Graph.connectedComponents(df, "src", "dst", collectEdgeThreshold = aboveEdges).collect()
      sc.setJobDescription(sentinel)
      sc.parallelize(Seq(1), 1).count()
      assert(done.await(30, TimeUnit.SECONDS), "sentinel job never reached the listener")
    } finally {
      sc.clearJobGroup()
      sc.setJobDescription(null)
      sc.removeSparkListener(listener)
      Caches.release()
    }
    val seen = routes.asScala.toSeq
    assert(seen.contains("distributed"), seen)
    assert(seen.last == "driver", seen)
  }
}
