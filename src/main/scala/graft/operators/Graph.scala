package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph analytics in the DataFrame algebra — the Pregel shape
  * (repeated sparse matrix-vector product = join ranks to edges, aggregate
  * contributions per destination) without a graph runtime.
  *
  * PageRank here is EXACT-INTEGER: ranks live in fixed-point units of
  * `scale` total mass, contributions and the damping mix use floor
  * division, so the result is a pure function of the edge set —
  * partitioning-independent, replayable in SQL, and comparable across
  * engines bit for bit. (Float PageRank differs run to run for the same
  * reason float k-means does: sum order.) The floor-division contract IS
  * the published semantics of this operator, not an approximation of some
  * float truth.
  *
  * At 100 TB: per iteration one equi-join of the slim (src, dst, deg) edge
  * frame against the (node, rank) frame and one map-side-combined sum per
  * destination — both shuffle on node keys and AQE-coalesce; the edge frame
  * is persisted once with out-degrees precomputed. Nothing node- or
  * edge-sized ever reaches the driver (only the node COUNT, one scalar).
  * Iteration count is fixed, like [[KMeans]] — convergence detection would
  * make run time data-dependent.
  *
  * Dangling nodes (out-degree 0) never appear as a source here: callers
  * pass directed edges and the operator ranks only nodes incident to an
  * edge; a node with in-edges but no out-edges keeps receiving mass but
  * contributes none — by default its mass leaks (the "dropped dangling
  * mass" PageRank variant); `redistributeDangling = true` selects the
  * standard uniform-redistribution variant (mass conserved up to floor
  * residue). Symmetrize edges upstream when degree-flow centrality over an
  * undirected graph is wanted.
  */
object Graph {

  /** Connected components over an undirected edge set — the one
    * connected-components engine in graft, and the cluster step every
    * pairwise dedup family ends in (near-dup pairs → components → keep one
    * per component: the winners are the label rows with node = comp, the
    * touched set is the label frame's nodes). Returns (node, comp) for
    * every node incident to an edge, comp = the component's MINIMUM node
    * id — the true transitive closure, a pure function of the edge set.
    * Edges are symmetrized here; direction and duplicates are ignored.
    *
    * Route, chosen like a planner would (both routes produce the
    * identical label set, spec-asserted):
    *  - edge count ≤ [[driverEdgeBudget]] → BOUNDED driver union-find
    *    ([[unionFind]]), one collect instead of 3 jobs × rounds. Edges here
    *    are post-canonical (rep pairs, verified pairs, sparsified trade
    *    pairs), i.e. the same bounded control-plane class as the
    *    quantizer sample.
    *  - above it → distributed min-label propagation, at 100 TB: per
    *    round one equi-join of the slim symmetric edge frame (persisted
    *    once, pre-partitioned on src so rounds add no edge exchange)
    *    against the (node, label) frame, one map-side-combined min, and a
    *    label-keyed self-join — all shuffle on node keys and AQE-coalesce.
    *    Each round does (1) a neighbor-min — m(v) = min(l(v), min over
    *    neighbors' labels) — and (2) pointer halving — adopt the label OF
    *    the adopted label (labels are always node ids, so the lookup
    *    always hits). Plain propagation needs O(diameter) rounds; the
    *    halving step collapses label chains geometrically, the
    *    pointer-jumping O(log diameter) bound. Rounds run until a fixed
    *    point (changed == 0), so the output is the exact components, and
    *    the SQL oracle replays the measured round count for its corpus.
    *    Each round `localCheckpoint`s the label frame: lineage stays
    *    constant-depth (an unbounded iterative plan tree is both an
    *    optimizer-time and a stack-depth bomb) and superseded blocks are
    *    released by the ContextCleaner; the convergence count rides the
    *    checkpoint job as an observed metric (r13 — one job per round,
    *    not two). Nothing graph-sized ever reaches the driver.
    *
    * The route decision is ONE aggregate over the persisted edge frame:
    * the edge count for fixed-width ids, the count plus the mean UTF-8
    * width of both endpoints for string ids (the width must be known
    * before anything is collected). Duplicate edges are not removed
    * first — both routes accept them, and a raw count can only push the
    * choice toward the distributed route. The choice is recorded as
    * [[Route]] site `cc`.
    */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
                          maxRounds: Int = 50,
                          collectEdgeThreshold: Long = 1L << 22): DataFrame = {
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    val dir0 = Caches.persist(edges.select(col(srcCol).as("src"), col(dstCol).as("dst")))
    val (nEdges, bytesPerEdge) =
      if (dir0.schema.exists(_.dataType == org.apache.spark.sql.types.StringType)) {
        val r = dir0.agg(count(lit(1)),
          avg(octet_length(col("src")) + octet_length(col("dst")))).head
        (r.getLong(0), if (r.isNullAt(1)) 0.0 else r.getDouble(1) + 2 * StringIdOverheadBytes)
      } else (dir0.count(), LongEdgeBytes)
    val onDriver = nEdges <= driverEdgeBudget(collectEdgeThreshold, bytesPerEdge)
    Route.record(edges.sparkSession, "cc", if (onDriver) "driver" else "distributed")
    if (onDriver) ccDriverLabels(dir0) else ccDistributedLabels(dir0, maxRounds)
  }

  /** Bytes per edge `collectEdgeThreshold` is calibrated for: two 8-byte
    * ids, ≈ 64 MB of driver control plane at the 4M default.
    */
  private val LongEdgeBytes = 16.0

  /** JVM String + hash-entry cost per stored string id, on top of its
    * UTF-8 width — far above the width itself for short ids.
    */
  private val StringIdOverheadBytes = 48.0

  /** Effective driver-collect edge budget for the union-find route: the
    * calibrated `collectEdgeThreshold` shrinks in proportion once an edge
    * costs more than [[LongEdgeBytes]] (string URLs / UUIDs, or extra
    * payload collected with each edge), so the bound tracks BYTES, not
    * edge count.
    */
  private[graft] def driverEdgeBudget(collectEdgeThreshold: Long, bytesPerEdge: Double): Long =
    (collectEdgeThreshold * LongEdgeBytes / math.max(LongEdgeBytes, bytesPerEdge)).toLong

  /** Driver union-find (path compression, union-by-min) over a bounded
    * edge stream: (node, comp) for every node of an edge, in first-seen
    * order, comp = the component's minimum id. Ids compare through their
    * external natural order, except strings, which use UTF8String byte
    * order so the driver and distributed routes pick the same minimum
    * (java.lang.String order diverges on non-BMP code points).
    */
  private[graft] def unionFind(edges: Iterator[(Any, Any)]): Seq[(Any, Any)] = {
    def lt(a: Any, b: Any): Boolean = (a, b) match {
      case (x: String, y: String) =>
        org.apache.spark.unsafe.types.UTF8String.fromString(x)
          .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(y)) < 0
      case (x, y) => x.asInstanceOf[Comparable[Any]].compareTo(y) < 0
    }
    val parent = new java.util.HashMap[Any, Any]()
    val nodes = new java.util.LinkedHashSet[Any]()
    def find(x: Any): Any = {
      var r = x
      while (parent.getOrDefault(r, r) != r) r = parent.get(r)
      var c = x
      while (parent.getOrDefault(c, c) != r) { val n = parent.get(c); parent.put(c, r); c = n }
      r
    }
    edges.foreach { case (a, b) =>
      nodes.add(a); nodes.add(b)
      val ra = find(a)
      val rb = find(b)
      // union-by-min: roots only ever decrease, so the final root IS the
      // component's minimum node id
      if (ra != rb) { if (lt(ra, rb)) parent.put(rb, ra) else parent.put(ra, rb) }
    }
    import scala.jdk.CollectionConverters._
    nodes.asScala.toSeq.map(n => (n, find(n)))
  }

  /** The driver route: collect the bounded edge frame and label it with
    * [[unionFind]].
    */
  private def ccDriverLabels(dir0: DataFrame): DataFrame = {
    val spark = dir0.sparkSession
    val dt = dir0.schema.head.dataType
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("node", dt),
      org.apache.spark.sql.types.StructField("comp", dt)))
    val rows = unionFind(dir0.collect().iterator.map(r => (r.get(0), r.get(1))))
      .map { case (n, c) => org.apache.spark.sql.Row(n, c) }
    // parallelize (not a LocalRelation): the label frame is node-sized and
    // feeds joins — keep it distributed like the propagation route's output
    val slices = math.max(1, math.min(spark.sparkContext.defaultParallelism, rows.size / 8192 + 1))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, slices), schema)
  }

  /** Min-label propagation with pointer halving — the at-scale route; see
    * [[connectedComponents]].
    */
  private def ccDistributedLabels(dir0: DataFrame, maxRounds: Int): DataFrame = {
    val e = Caches.persist(dir0.union(dir0.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      // one extra slim shuffle at build so HashPartitioning(src) is cached:
      // the per-round edge⋈labels equi-join then never re-exchanges the
      // (much larger) edge frame (guide §2.4; the r12 rep-words precedent)
      .repartition(col("src")))
    var labels = e.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("comp")).localCheckpoint()
    var changed = 1L
    var rounds = 0
    while (changed > 0 && rounds < maxRounds) {
      val byNbr = e
        .join(labels.select(col("node").as("src"), col("comp").as("slbl")), "src")
        .groupBy("dst").agg(min(col("slbl")).as("nlbl"))
        .withColumnRenamed("dst", "node")
      val step1 = labels.join(byNbr, Seq("node"), "left")
        .select(col("node"), col("comp").as("old"),
          least(col("comp"), coalesce(col("nlbl"), col("comp"))).as("l1"))
      // the changed-count rides the checkpoint's materialization job as an
      // observed metric — no second scan per round (guide §5: fewer driver
      // round-trips per iteration)
      val obs = new org.apache.spark.sql.Observation()
      val step2 = step1
        .join(labels.select(col("node").as("ln"), col("comp").as("llbl")),
          step1("l1") === col("ln"), "left")
        .select(col("node"), col("old"),
          least(col("l1"), coalesce(col("llbl"), col("l1"))).as("comp"))
        .observe(obs, count(when(col("comp") =!= col("old"), lit(1))).as("chg"))
        .localCheckpoint()
      changed = obs.get("chg").asInstanceOf[Long]
      labels = step2.select("node", "comp")
      rounds += 1
    }
    require(changed == 0,
      s"connectedComponents: min-label propagation did not converge in $maxRounds rounds")
    labels
  }

  /** Fixed-point PageRank, the one random-walk engine: returns
    * (node, rank) after `iters` rounds, rank in units of `scale` total
    * initial mass, damping = `dampingMillis`/1000. Each round adds a
    * restart term to the damped in-flow:
    *
    *  - `seeds` empty: the UNIFORM restart. Every node starts at
    *    init = scale div n, and next(v) = base + (d·(in(v) + share)) div
    *    1000 with base = ((1000−d)·init) div 1000.
    *  - `seeds` given: PERSONALIZED PageRank, random-walk-with-restart
    *    relevance to a seed set ("what is close to THESE nodes": expand a
    *    trusted domain list, find accounts trading like a known cohort).
    *    Each distinct seed starts at init = scale div |distinct seeds|,
    *    and the restart term applies only on seed nodes:
    *    next(v) = [v ∈ seeds]·base + (d·in(v)) div 1000. A seed listed
    *    twice is one seed. Seeds not present in the graph contribute
    *    nothing — callers own seed validation. The seed test is a literal
    *    `isin` in the projection, and no node count is taken.
    *
    * Dangling nodes (in-edges but no out-edges): by default their received
    * mass LEAKS each round (the "dropped dangling mass" variant — the
    * documented published semantics of this operator's default).
    * `redistributeDangling = true` (uniform restart only) selects the
    * standard textbook variant instead: each round the dangling nodes'
    * total mass is divided uniformly (floor) across all nodes inside the
    * damping term (`share` = D div n above), so total mass is conserved up
    * to floor residue. The dangling total is one slim anti-join + sum per
    * round (a control-plane scalar, like the node count).
    *
    * Lineage stays BOUNDED-depth via `localCheckpoint` every
    * [[PageRankCheckpointEvery]] rounds (a 50-round persist-only loop grows
    * the logical plan linearly — optimizer time and stack depth both pay
    * per round), but NOT every round: a checkpoint is an eager
    * materialization, and checkpointing each of the registered 3 rounds
    * measured 8–9 s cold at sf0.1 vs ~0.5 s with the rounds pipelined
    * into one job (the r9 lesson: bound lineage at K, don't flatten it
    * to 1). The `redistributeDangling` variant checkpoints every round
    * regardless — its per-round driver scalar materializes the chain
    * anyway, and an unpinned tail would recompute O(iters²).
    *
    * @param edgesDistinct caller asserts the edge frame is already
    *                      duplicate-free (e.g. built by a distinct or an
    *                      aggregation), so the operator's canonicalizing
    *                      `distinct()` — a full edge-frame exchange — is a
    *                      provable no-op and is skipped. Results are
    *                      identical either way (r13, guide §2.4 "a distinct
    *                      on data that is already unique").
    * @param dropZeroRanks emit only rows with rank > 0 — decided from the
    *                      FINAL round's base columns (`rank > 0` ⟺ the
    *                      restart term is positive on the node, or the
    *                      damped floor-division is ≥ 1, i.e.
    *                      in + share ≥ ⌈1000/d⌉), so no filter on the
    *                      COMPUTED rank column ever reaches the optimizer.
    *                      A query-level `.filter(rank > 0)` measured ~1.7 s
    *                      of per-run constraint re-derivation through the
    *                      3-round plan (r12), which the r12 workaround
    *                      (localCheckpoint before the filter) only traded
    *                      for an eager extra materialization; the base-
    *                      column gate costs nothing (r13). Route equality
    *                      is spec-asserted on the real trade graph.
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String, iters: Int,
               seeds: Seq[Any] = Nil,
               dampingMillis: Int = 850,
               scale: Long = 1000000000000L,
               redistributeDangling: Boolean = false,
               edgesDistinct: Boolean = false,
               dropZeroRanks: Boolean = false): DataFrame = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    require(dampingMillis >= 0 && dampingMillis <= 1000,
      s"dampingMillis must be in [0, 1000], got $dampingMillis")
    require(scale > 0 && scale <= Long.MaxValue / 1000,
      "scale must be positive and leave headroom for the damping multiply")
    require(seeds.isEmpty || !redistributeDangling,
      "redistributeDangling applies to the uniform restart only")
    require(!dropZeroRanks || iters >= 1,
      "dropZeroRanks gates the final ROUND — it needs at least one iteration")
    // e persisted (r12): deg, ew and BOTH legs of the nodes union read it —
    // unpersisted, the caller's edge derivation (often a join + distinct)
    // re-executed up to 4x per run
    val e0 = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val e = Caches.persist(if (edgesDistinct) e0 else e0.distinct())
    val deg = e.groupBy("src").agg(count(lit(1)).as("deg"))
    // pre-partitioned on the per-round join key before persisting (r13, the
    // CC-route precedent): HashPartitioning(src) is cached with the frame,
    // so the per-iteration ew⋈ranks equi-join never re-exchanges the edge
    // frame — only the node-sized rank frame shuffles each round
    val ew = Caches.persist(e.join(deg, "src").repartition(col("src")))
    val nodes = Caches.persist(
      e.select(col("src").as("node")).union(e.select(col("dst").as("node"))).distinct())
    // onRestart: the nodes that start with mass and take the restart term
    // (all of them, or the seeds; the optimizer folds `when(true, …)`)
    val seedSet = seeds.distinct
    val (n, init, onRestart) =
      if (seedSet.isEmpty) {
        val n = nodes.count() // the one driver scalar (control plane)
        if (n == 0) return nodes.withColumn("rank", lit(0L))
        (n, scale / n, lit(true))
      } else (0L, scale / seedSet.length, col("node").isin(seedSet: _*))
    val base = ((1000L - dampingMillis) * init) / 1000L
    var ranks = nodes.select(col("node"), when(onRestart, lit(init)).otherwise(lit(0L)).as("rank"))
    if (redistributeDangling) ranks = ranks.localCheckpoint()
    for (i <- 0 until iters) {
      // per-node share of the dangling mass this round (0 when leaking):
      // dangling = nodes with no out-edge = ranks minus deg's src set
      val share =
        if (!redistributeDangling) 0L
        else Math.floorDiv(
          ranks.join(deg.select(col("src").as("node")), Seq("node"), "left_anti")
            .agg(coalesce(sum("rank"), lit(0L))).head.getLong(0), n)
      val contribs = ew.join(ranks, ew("src") === ranks("node"))
        .select(col("dst").as("node"), expr("rank div deg").as("c"))
        .groupBy("node").agg(sum("c").as("in"))
      var joined = nodes.join(contribs, Seq("node"), "left")
      if (dropZeroRanks && i == iters - 1) {
        // rank > 0 on base columns: the restart term is base on the
        // restart nodes (positive unless dampingMillis = 1000), and the
        // damped term (d·(in + share)) div 1000 is ≥ 1 iff in + share ≥
        // ⌈1000/d⌉ (in is a sum of nonnegative floor quotients)
        val restartPass = if (base > 0) onRestart else lit(false)
        val inPass =
          if (dampingMillis > 0)
            coalesce(col("in"), lit(0L)) >= (1000L + dampingMillis - 1) / dampingMillis - share
          else lit(false)
        joined = joined.filter(restartPass || inPass)
      }
      ranks = joined
        .select(col("node"),
          (when(onRestart, lit(base)).otherwise(lit(0L)) +
            expr(s"($dampingMillis * (coalesce(in, 0L) + $share)) div 1000"))
            .as("rank"))
      if (redistributeDangling || (i + 1) % PageRankCheckpointEvery == 0)
        ranks = ranks.localCheckpoint()
    }
    ranks
  }

  /** Rounds between [[pageRank]]'s lineage-bounding checkpoints. */
  private val PageRankCheckpointEvery = 8

  /** Per-node triangle counts over an undirected simple graph — the
    * clustering-structure primitive (local clustering coefficient, spam/
    * community detection over link graphs; the co-order graph query uses it
    * to find tightly-coupled supplier groups). Returns (node, deg, n_tri)
    * for every node incident to an edge; `deg` is the undirected degree,
    * `n_tri` the number of triangles the node participates in (0 included).
    *
    * The RESULT is a pure function of the edge set — direction and
    * duplicate edges are erased by canonicalization, self-loops dropped —
    * so the SQL oracle can replay it with the naive a<b<c three-way join.
    * The PLAN is the degree-ordered wedge enumeration (the MapReduce
    * triangle-counting bound of Suri & Vassilvitskii, WWW'11): orient every
    * edge from the (deg, id)-smaller endpoint to the larger, enumerate
    * wedges only at each edge's SMALLER endpoint, and close them against
    * the oriented edge set. Out-degree under this orientation is O(√m) on
    * any graph, so wedge count is Σ d_out² ≤ m^{3/2} — the naive
    * enumeration is Σ d² which a single celebrity node (every crawl graph
    * has one) turns quadratic.
    *
    * At 100 TB: three slim shuffles build the oriented frame (degree agg +
    * two key joins); the wedge self-join and the closing join shuffle on
    * node keys and AQE-coalesce; per-node counts are one map-side-combined
    * sum. Nothing graph-sized reaches the driver.
    */
  def triangleCounts(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val und = Caches.persist(edges
      .select(least(col(srcCol), col(dstCol)).as("u"),
        greatest(col(srcCol), col(dstCol)).as("v"))
      .filter(col("u") =!= col("v")).distinct())
    val deg = Caches.persist(und.select(col("u").as("node")).union(und.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg")))
    // orient u→v when (deg(u), u) < (deg(v), v): a total order, so the
    // oriented graph is a DAG and every triangle closes exactly once
    val lowFirst = und
      .join(deg.select(col("node").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), "v")
    val oriented = Caches.persist(lowFirst.select(
        when(col("du") < col("dv") ||
             (col("du") === col("dv") && col("u") < col("v")), col("u"))
          .otherwise(col("v")).as("a"),
        when(col("du") < col("dv") ||
             (col("du") === col("dv") && col("u") < col("v")), col("v"))
          .otherwise(col("u")).as("b"),
        least(col("du"), col("dv")).as("da"),
        greatest(struct(col("du").as("d"), col("u").as("n")),
                 struct(col("dv").as("d"), col("v").as("n")))
          .getField("d").as("db")))
    // wedges at the apex a: unordered out-neighbor pairs (b, c) with
    // (db, b) < (dc, c) in the SAME total order, so the closing edge is
    // exactly the oriented b→c
    val w1 = oriented.select(col("a"), col("b"), col("db"))
    val w2 = oriented.select(col("a").as("a2"), col("b").as("c"), col("db").as("dc"))
    val wedges = w1.join(w2,
      col("a") === col("a2") &&
        (col("db") < col("dc") || (col("db") === col("dc") && col("b") < col("c"))))
      .select(col("a"), col("b"), col("c"))
    // persisted: the three-way role union below reads the closed triangles
    // once per role — without the barrier the wedge-closing join (the
    // dominant m^1.5 stage) would re-execute up to 3×
    val tris = Caches.persist(wedges.join(oriented.select(col("a").as("b"), col("b").as("c")),
      Seq("b", "c")))
    val perNode = tris.select(col("a").as("node"))
      .union(tris.select(col("b").as("node")))
      .union(tris.select(col("c").as("node")))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))
    deg.join(perNode, Seq("node"), "left")
      .select(col("node"), col("deg"), coalesce(col("n_tri"), lit(0L)).as("n_tri"))
  }

  /** k-CORE decomposition membership: the maximal subgraph where every
    * node keeps degree ≥ k — the standard "dense nucleus" filter (spam
    * farms, tightly-coupled supplier rings, community cores; Seidman 1983,
    * the public formulation). Returns (node, deg) for the members, deg =
    * the node's WITHIN-CORE degree.
    *
    * Peeling: repeatedly delete nodes with current degree < k; the fixed
    * point is the k-core (order of deletion provably doesn't matter, so
    * the result is a pure function of the edge set). Each round is one
    * semi-join of the persisted symmetric edge frame against the alive
    * set (both endpoints), a map-side-combined degree count, and a
    * filter; the alive frame `localCheckpoint`s per round (constant-depth
    * lineage, the [[connectedComponents]] contract) and convergence is
    * one control-plane scalar (removed == 0). Extra peel rounds past the
    * fixed point are no-ops — which is what lets a fixed-unroll SQL
    * replay gate a run-to-convergence operator.
    */
  /** @param symDistinct caller asserts the SYMMETRIZED union is already
    *                     duplicate-free — true for distinct BIPARTITE edge
    *                     sets (src/dst domains disjoint, so the two union
    *                     legs can never collide) — making the operator's
    *                     canonicalizing `distinct()` a provable no-op
    *                     (r13, guide §2.4).
    */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
            maxRounds: Int = 50, symDistinct: Boolean = false): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val dir = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .filter(col("src") =!= col("dst"))
    val sym = dir.union(dir.select(col("dst").as("src"), col("src").as("dst")))
    // pre-partitioned on src (r13): the per-round alive semi-join on src
    // then reuses the cached HashPartitioning instead of re-exchanging the
    // edge frame every peel round
    val e = Caches.persist((if (symDistinct) sym else sym.distinct())
      .repartition(col("src")))
    var alive = e.select(col("src").as("node")).distinct().localCheckpoint()
    // r13: ONE action per round — the survivor count rides the checkpoint
    // job as an observed metric and the previous round's count is
    // remembered, where the old shape paid two counts plus a redundant
    // second localCheckpoint (an eager re-materialization) every round
    var aliveCount = alive.count()
    var removed = 1L
    var rounds = 0
    while (removed > 0 && rounds < maxRounds) {
      val obs = new org.apache.spark.sql.Observation()
      val degNow = e
        .join(alive.select(col("node").as("src")), "src")
        .join(alive.select(col("node").as("dst")), "dst")
        .groupBy("src").agg(count(lit(1)).as("deg"))
        .withColumnRenamed("src", "node")
      val next = degNow.filter(col("deg") >= k)
        .observe(obs, count(lit(1)).as("n"))
        .localCheckpoint()
      val nextCount = obs.get("n").asInstanceOf[Long]
      removed = aliveCount - nextCount
      aliveCount = nextCount
      alive = next
      rounds += 1
    }
    require(removed == 0, s"kCore: peeling did not converge in $maxRounds rounds")
    alive.select("node", "deg")
  }

  /** Multi-source BFS hop distance, bounded at `rounds` hops: (node, hops)
    * for every node reachable from the seed set within `rounds` edges —
    * the neighborhood-expansion primitive (fraud blast radius, "expand a
    * trusted domain list by ≤ 3 links", contamination spread). Fixed
    * round count like [[pageRank]] — run time is not data-dependent, and
    * hop distances already found are final (BFS frontier monotonicity),
    * so round r output = exact min-hop distance for every node within r.
    *
    * Per round: one equi-join of the frontier against the persisted
    * symmetric edge frame + a min agg merged with the settled set —
    * work ∝ frontier out-degree, never graph². Lineage bounded per round
    * by `localCheckpoint` (the distance frame is read twice per round).
    */
  def bfsHops(edges: DataFrame, srcCol: String, dstCol: String,
              seeds: Seq[Any], rounds: Int,
              symDistinct: Boolean = false): DataFrame = {
    require(seeds.nonEmpty, "seeds must be non-empty")
    require(rounds >= 0, s"rounds >= 0, got $rounds")
    val dir = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val sym = dir.union(dir.select(col("dst").as("src"), col("src").as("dst")))
    // symDistinct / the src pre-partition: see [[kCore]] (r13) — every
    // frontier expansion joins on src
    val e = Caches.persist((if (symDistinct) sym else sym.distinct())
      .repartition(col("src")))
    // seed the round-0 frame from the literal seed list, NOT the
    // edge-incident node set: a seed with no edges is still at distance 0
    // ("every node reachable from the seed set" includes the seeds).
    // Seeds are literals of whatever the caller's node type is (r13: the
    // graph queries relabel string nodes to longs before the operator).
    var dist = edges.sparkSession.range(1)
      .select(explode(array(seeds.distinct.map(lit): _*)).as("node"),
        lit(0L).as("hops")).localCheckpoint()
    for (_ <- 0 until rounds) {
      val nbr = e.join(dist.select(col("node").as("src"), col("hops")), "src")
        .select(col("dst").as("node"), (col("hops") + 1L).as("hops"))
      dist = dist.unionByName(nbr)
        .groupBy("node").agg(min("hops").as("hops"))
        .localCheckpoint()
    }
    dist
  }

  /** HITS hubs & authorities (Kleinberg 1999, the public formulation) over
    * a DIRECTED edge set, exact-integer: scores live in fixed-point units
    * and each half-step renormalizes to total mass `scale` by floor
    * division — sum order can't move a bit, so the result is a pure
    * function of the edge set (the same argument as [[pageRank]]'s
    * floor-division contract). auth(v) = Σ hub(u) over in-edges, then
    * auth ← auth·scale div Σauth; hub(u) = Σ auth(v) over out-edges, then
    * the same normalization. Returns (node, hub, auth) for every node.
    *
    * Overflow headroom: post-normalization scores sum to ≤ scale, so a
    * raw half-step value is ≤ scale and the normalization multiply is
    * bounded by scale² — keep scale ≤ 3e9 to stay inside Long.
    *
    * Per round: two slim edge⋈score joins + map-side-combined sums; the
    * two normalization totals are control-plane scalars (one driver
    * `first()` each, like [[connectedComponents]]' changed-count).
    */
  def hits(edges: DataFrame, srcCol: String, dstCol: String, iters: Int,
           scale: Long = 1000000L,
           edgesDistinct: Boolean = false): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(scale > 0 && scale <= 3000000000L, s"scale out of Long headroom: $scale")
    val dir = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    // when the operator owns the canonicalizing distinct, persist it so the
    // two pre-partitioned copies below don't each recompute it (and the
    // caller's edge derivation) from scratch
    val e0 =
      if (edgesDistinct) dir
      else Caches.persist(dir.distinct())
    // TWO pre-partitioned persisted copies of the slim edge frame (r13,
    // guide §2.4): the auth half-step joins on src, the hub half-step on
    // dst — one cached HashPartitioning each, so no half-step ever
    // re-exchanges edges; only the (smaller) score frames shuffle.
    val eSrc = Caches.persist(e0.repartition(col("src")))
    val eDst = Caches.persist(e0.repartition(col("dst")))
    val nodes = Caches.persist(eSrc.select(col("src").as("node"))
      .union(eSrc.select(col("dst").as("node"))).distinct())
    val n = nodes.count()
    if (n == 0) return nodes.select(col("node"), lit(0L).as("hub"), lit(0L).as("auth"))
    var hub = nodes.select(col("node"), lit(scale / n).as("s")).localCheckpoint()
    var auth = hub
    for (_ <- 0 until iters) {
      // r13 (second pass): iterate on the AGGREGATE-SIZED score frames —
      // a node absent from a half-step's frame has raw = 0, contributes 0
      // to the next half-step's sums, and (0·scale) div tot = 0, so
      // deferring the all-nodes left join to the final output is value-
      // identical and drops two node-sized joins per iteration. The
      // normalization total rides the checkpoint's materialization job as
      // an observed metric (one job per half-step, no separate scan).
      val obsA = new org.apache.spark.sql.Observation()
      val rawA = eSrc.join(hub.select(col("node").as("src"), col("s")), "src")
        .groupBy(col("dst").as("node")).agg(sum("s").as("raw"))
        .observe(obsA, sum("raw").as("tot"))
        .localCheckpoint()
      val totA = math.max(1L, obsA.get("tot").asInstanceOf[Long])
      // auth/hub are one-projection derivatives of the checkpointed raw
      // frames — re-checkpointing them would pay a second eager
      // materialization per half-step for depth-1 lineage
      auth = rawA.select(col("node"), expr(s"(raw * $scale) div $totA").as("s"))
      val obsH = new org.apache.spark.sql.Observation()
      val rawH = eDst.join(auth.select(col("node").as("dst"), col("s")), "dst")
        .groupBy(col("src").as("node")).agg(sum("s").as("raw"))
        .observe(obsH, sum("raw").as("tot"))
        .localCheckpoint()
      val totH = math.max(1L, obsH.get("tot").asInstanceOf[Long])
      hub = rawH.select(col("node"), expr(s"(raw * $scale) div $totH").as("s"))
    }
    nodes
      .join(hub.withColumnRenamed("s", "hub"), Seq("node"), "left")
      .join(auth.withColumnRenamed("s", "auth"), Seq("node"), "left")
      .select(col("node"), coalesce(col("hub"), lit(0L)).as("hub"),
        coalesce(col("auth"), lit(0L)).as("auth"))
  }
}
