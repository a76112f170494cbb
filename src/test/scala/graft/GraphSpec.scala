package graft

import graft.operators.{Graph, Route}
import org.apache.spark.sql.functions._

/** Fixed-point PageRank (`Graph.pageRank`): a driver-side reference model
  * pins the floor-division contract, planted structure proves the ranking
  * orders authority correctly, and the fixed-point mass accounting holds.
  */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  private val Scale = 1000000000000L

  /** Reference model of the documented integer rule. */
  private def prRef(edges: Seq[(String, String)], iters: Int,
                    damp: Long = 850L, redistribute: Boolean = false): Map[String, Long] = {
    val e = edges.distinct
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct.sorted
    val deg = e.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
    val init = Scale / nodes.size
    val base = ((1000L - damp) * init) / 1000L
    var r = nodes.map(_ -> init).toMap
    for (_ <- 0 until iters) {
      val share =
        if (!redistribute) 0L
        else Math.floorDiv(
          nodes.filterNot(deg.contains).map(r).sum, nodes.size.toLong)
      val in = e.groupBy(_._2).map { case (d, es) =>
        d -> es.map(x => r(x._1) / deg(x._1)).sum
      }
      r = nodes.map(n => n -> (base + (damp * (in.getOrElse(n, 0L) + share)) / 1000L)).toMap
    }
    r
  }

  private def run(edges: Seq[(String, String)], iters: Int,
                  redistribute: Boolean = false): Map[String, Long] = {
    val out = Graph.pageRank(edges.toDF("src", "dst"), "src", "dst", iters,
        redistributeDangling = redistribute)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    graft.operators.Caches.release()
    out
  }

  test("operator matches the reference model (chain, star, cycle, duplicate edges)") {
    val chain = Seq("a" -> "b", "b" -> "c", "c" -> "d")
    val star = Seq("h" -> "l1", "l1" -> "h", "h" -> "l2", "l2" -> "h",
      "h" -> "l3", "l3" -> "h")
    val cycle = Seq("x" -> "y", "y" -> "z", "z" -> "x")
    val dups = chain ++ chain // distinct() must collapse these
    for (g <- Seq(chain, star, cycle, dups); it <- 0 to 3)
      assert(run(g, it) === prRef(g, it), s"graph=$g iters=$it")
  }

  test("star hub outranks leaves; symmetric cycle stays uniform") {
    val star = Seq("h" -> "l1", "l1" -> "h", "h" -> "l2", "l2" -> "h",
      "h" -> "l3", "l3" -> "h")
    val r = run(star, 3)
    assert(Seq("l1", "l2", "l3").forall(l => r("h") > r(l)))
    val cyc = run(Seq("x" -> "y", "y" -> "z", "z" -> "x"), 3)
    assert(cyc.values.toSet.size === 1, s"cycle ranks diverged: $cyc")
  }

  test("mass never exceeds the fixed-point budget and only floor loss shrinks it") {
    val g = Seq("a" -> "b", "b" -> "a", "b" -> "c", "c" -> "a", "a" -> "c")
    val masses = (0 to 4).map(it => run(g, it).values.sum)
    assert(masses.forall(_ <= Scale))
    // no dangling sources here, so loss per round is only floor residue:
    // strictly bounded by (edges + nodes) units per round
    masses.sliding(2).foreach { case Seq(m0, m1) =>
      assert(m1 <= m0 && m0 - m1 <= 8, s"masses=$masses")
    }
  }

  test("dangling sink drops its mass (documented variant) but still ranks") {
    // b has in-edges only: its received mass leaks each round
    val g = Seq("a" -> "b", "c" -> "b", "a" -> "c", "c" -> "a")
    val r = run(g, 2)
    assert(r.keySet === Set("a", "b", "c"))
    assert(r === prRef(g, 2))
    assert(run(g, 3).values.sum < run(g, 1).values.sum)
  }

  test("dangling redistribution matches the reference model and conserves mass") {
    // b is dangling (in-edges only); d hangs off the cycle
    val g = Seq("a" -> "b", "c" -> "b", "a" -> "c", "c" -> "a", "a" -> "d", "d" -> "a")
    for (it <- 0 to 3)
      assert(run(g, it, redistribute = true) === prRef(g, it, redistribute = true),
        s"iters=$it")
    // leak variant loses b's whole received mass per round; redistribution
    // keeps the total within floor residue of the budget: per round at most
    // (n for init) + n (share floors) + edges (contrib floors) + n (damping
    // floors) units — a constant, not a fraction of scale
    val n = 4
    val rounds = 4
    val mass = run(g, rounds, redistribute = true).values.sum
    val bound = n + rounds * (2 * n + g.size).toLong
    assert(Scale - mass <= bound, s"mass=$mass leak=${Scale - mass} bound=$bound")
    assert(run(g, rounds).values.sum < mass, "leak variant should fall below")
  }

  test("50-round pageRank stays constant-depth (localCheckpoint lineage)") {
    val g = Seq("a" -> "b", "b" -> "c", "c" -> "a", "a" -> "c")
    val t0 = System.nanoTime()
    val r = run(g, 50)
    val secs = (System.nanoTime() - t0) / 1e9
    assert(r === prRef(g, 50))
    // with per-round persist-only lineage the optimizer re-walks a plan
    // tree that grows linearly in rounds; checkpointed rounds stay flat
    assert(secs < 120.0, s"50 rounds took ${secs}s — lineage likely growing")
  }

  /** Reference model of the personalized restart rule. */
  private def pprRef(edges: Seq[(String, String)], seeds: Seq[String],
                     iters: Int, damp: Long = 850L): Map[String, Long] = {
    val e = edges.distinct
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct.sorted
    val deg = e.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
    val init = Scale / seeds.length
    val seedBase = ((1000L - damp) * init) / 1000L
    val seedSet = seeds.toSet
    var r = nodes.map(n => n -> (if (seedSet(n)) init else 0L)).toMap
    for (_ <- 0 until iters) {
      val in = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
      e.foreach { case (s, d) => in(d) += r(s) / deg(s) }
      r = nodes.map(n =>
        n -> ((if (seedSet(n)) seedBase else 0L) + (damp * in(n)) / 1000L)).toMap
    }
    r
  }

  test("personalized pageRank matches the reference model; mass stays near seeds") {
    val g = Seq("a" -> "b", "b" -> "a", "b" -> "c", "c" -> "b",
      "c" -> "d", "d" -> "c", "x" -> "y", "y" -> "x")
    val got = Graph.pageRank(g.toDF("src", "dst"), "src", "dst",
        iters = 3, seeds = Seq("a"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    graft.operators.Caches.release()
    assert(got === pprRef(g, Seq("a"), 3))
    // the disconnected (x, y) component never receives mass
    assert(got("x") === 0L && got("y") === 0L)
    // mass reaches exactly the seed's component, thinning toward the far end
    assert(Seq("a", "b", "c", "d").forall(got(_) > 0L))
    assert(got("d") < got("b")) // 3 hops out sits below the seed's neighbor
  }

  test("a repeated seed is one seed: its restart mass is not lost") {
    val g = Seq("a" -> "b", "b" -> "a", "b" -> "c", "c" -> "b", "c" -> "d")
    def ppr(seeds: Seq[String]) = {
      val out = Graph.pageRank(g.toDF("src", "dst"), "src", "dst", iters = 3, seeds = seeds)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      graft.operators.Caches.release()
      out
    }
    val once = ppr(Seq("a", "c"))
    assert(ppr(Seq("a", "a", "c")) === once)
    assert(once === pprRef(g, Seq("a", "c"), 3))
  }

  test("dropZeroRanks gate equals filter(rank > 0) for the uniform restart too") {
    // damping 1000: the restart term is 0, so e (no in-edges) ranks 0 and
    // only the in-flow side of the gate keeps the other nodes
    val g = Seq("a" -> "b", "b" -> "c", "c" -> "a", "a" -> "d", "e" -> "a")
    val gated = Graph.pageRank(g.toDF("src", "dst"), "src", "dst", iters = 2,
        dampingMillis = 1000, dropZeroRanks = true)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    graft.operators.Caches.release()
    assert(gated === prRef(g, 2, damp = 1000L).filter(_._2 > 0))
    assert(gated.keySet === Set("a", "b", "c", "d"))
  }

  test("dropZeroRanks gate equals filter(rank > 0) on the real trade graph (r13 route equality)") {
    import org.apache.spark.sql.functions._
    val edges = graft.operators.Caches.persist(GraftSession.table(spark, sfDir, "orders")
      .join(GraftSession.table(spark, sfDir, "lineitem"),
        col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey") * 2).cast("long").as("c"),
        (col("l_suppkey") * 2 + 1).cast("long").as("ss"))
      .distinct())
    val sym = edges.select(col("c").as("src"), col("ss").as("dst"))
      .union(edges.select(col("ss").as("src"), col("c").as("dst")))
    val seeds: Seq[Any] = Seq(2L, 4L, 6L, 8L, 10L)
    val gated = Graph.pageRank(sym, "src", "dst", iters = 3, seeds = seeds,
      edgesDistinct = true, dropZeroRanks = true)
    val filtered = Graph.pageRank(sym, "src", "dst", iters = 3, seeds = seeds,
        edgesDistinct = true)
      .localCheckpoint().filter(col("rank") > 0)
    assert(gated.exceptAll(filtered).isEmpty && filtered.exceptAll(gated).isEmpty)
    assert(gated.count() > 0)
    graft.operators.Caches.release()
  }

  // ---- connected components ----------------------------------------------

  /** Ground truth: transitive closure by union-find. */
  private def ccTrue(edges: Seq[(String, String)]): Map[String, String] = {
    val parent = scala.collection.mutable.Map[String, String]()
    def find(x: String): String = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.map(n => n -> find(n)).toMap
  }

  private def runCc(edges: Seq[(String, String)], maxRounds: Int = 50,
                    collectEdgeThreshold: Long = 1L << 22): Map[String, String] = {
    val out = Graph.connectedComponents(edges.toDF("src", "dst"), "src", "dst",
        maxRounds, collectEdgeThreshold)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    graft.operators.Caches.release()
    out
  }

  test("cc operator computes the true components on every fixture — BOTH routes") {
    val chain = Seq("a" -> "b", "b" -> "c", "c" -> "d", "d" -> "e")
    val twoComps = Seq("a" -> "b", "b" -> "c", "x" -> "y")
    val dups = twoComps ++ twoComps
    val directedOnly = Seq("b" -> "a", "c" -> "b") // symmetrization must connect
    val selfLoop = Seq("a" -> "a", "b" -> "c")
    for (g <- Seq(chain, twoComps, dups, directedOnly, selfLoop)) {
      // driver union-find route (fixtures sit under the byte-aware budget)
      assert(runCc(g) === ccTrue(g), s"graph=$g")
      assert(Route.last(spark, "cc") === "driver")
      // distributed propagation route, forced — the r13 planner split must
      // keep both routes label-identical
      assert(runCc(g, collectEdgeThreshold = 0L) === ccTrue(g), s"graph=$g (distributed)")
      assert(Route.last(spark, "cc") === "distributed")
    }
  }

  test("cc pointer halving converges geometrically, not linearly") {
    // a 14-node path (diameter 13): plain 1-hop propagation needs 13
    // rounds; with pointer halving the label chain collapses in 5
    // (distributed route forced — the driver route has no rounds)
    val path = (0 until 13).map(i => f"n$i%02d" -> f"n${i + 1}%02d")
    assert(runCc(path, maxRounds = 5, collectEdgeThreshold = 0L) === ccTrue(path))
    // two far-apart components never merge
    val g = path ++ Seq("z1" -> "z2", "z2" -> "z3")
    val labels = runCc(g, collectEdgeThreshold = 0L)
    assert(labels === ccTrue(g))
    assert(labels("z3") === "z1" && labels("n13") === "n00")
  }

  test("cc route check on string ids is one aggregate, then the driver collect") {
    // under AQE the aggregate over the freshly persisted edge frame is
    // three jobs (cache fill, partial-agg map stage, result); the collect
    // is the fourth. A separate distinct, count or width job would add more
    val g = Seq("a" -> "b", "b" -> "c", "x" -> "y", "a" -> "b")
    val (labels, jobs) = jobsStartedBy(Graph.connectedComponents(g.toDF("src", "dst"), "src", "dst"))
    assert(Route.last(spark, "cc") === "driver")
    assert(labels.collect().map(r => r.getString(0) -> r.getString(1)).toMap === ccTrue(g))
    graft.operators.Caches.release()
    assert(jobs === 4, s"connectedComponents started $jobs jobs")
  }

  test("cc budget counts the bytes of both endpoints, whichever column is wide") {
    // 4 edges of 2-byte ids against ~190-byte ids: at 32 edges' budget the
    // narrow ids alone would fit (≈ 5 edges), the real edge width does not
    val wide = "w" * 190
    val g = Seq("a0" -> s"${wide}0", "a1" -> s"${wide}0", "a1" -> s"${wide}1", "a2" -> s"${wide}1")
    for (edges <- Seq(g, g.map(_.swap))) {
      assert(runCc(edges, collectEdgeThreshold = 32L) === ccTrue(edges))
      assert(Route.last(spark, "cc") === "distributed", s"wide endpoint ignored for $edges")
    }
  }

  test("cc on the real trade graph equals driver union-find (the registry edge rule)") {
    val e = GraftSession.table(spark, "/root/testdata/sf0.01", "orders")
      .join(GraftSession.table(spark, "/root/testdata/sf0.01", "lineitem"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey"), col("l_suppkey"))
      .agg(sum(col("l_quantity")).as("q")).filter(col("q") >= 80)
      .select(concat(lit("c"), col("o_custkey").cast("string")).as("src"),
        concat(lit("s"), col("l_suppkey").cast("string")).as("dst"))
    val pairs = e.collect().map(r => (r.getString(0), r.getString(1))).toSeq
    // registry posture: the sparsified trade graph sits under the driver
    // budget, so the default call takes the union-find route
    val got = Graph.connectedComponents(e, "src", "dst")
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    graft.operators.Caches.release()
    assert(Route.last(spark, "cc") === "driver")
    assert(got === ccTrue(pairs))
    assert(got.nonEmpty)
    // the at-scale propagation route must produce the identical labeling
    // on the same real edge frame (route-equality gate for the r13 split)
    val gotDist = Graph.connectedComponents(e, "src", "dst",
        collectEdgeThreshold = 0L)
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    graft.operators.Caches.release()
    assert(Route.last(spark, "cc") === "distributed")
    assert(gotDist === got)
  }
}
