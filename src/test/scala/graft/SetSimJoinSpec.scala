package graft

import graft.operators.{Caches, Dedup, Route}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exact prefix-filter set-similarity join (AllPairs/PPJoin family):
  * completeness is a theorem, so the gate here is literal equality with
  * brute force — on a corpus engineered to stress exactly the things the
  * prefix filter could get wrong (threshold-straddling jaccards, stopword
  * skew, duplicated sets).
  */
class SetSimJoinSpec extends SparkSpec {

  /** base/variant pairs with known jaccard 14/16 = 0.875 plus two
    * universal stopword-grade tokens in every doc (the skew that kills a
    * naive inverted-index self-join — rarest-first prefixes must keep
    * them out of the candidate stage).
    */
  private def corpus(n: Int): DataFrame = {
    def words(prefix: String): org.apache.spark.sql.Column = {
      val cols = Seq(lit("alpha"), lit("omega"),
        concat(lit(prefix), col("id").cast("string"))) ++
        (0 until 12).map(j => concat(lit("w"), (col("id") * 12 + lit(j)).cast("string")))
      concat_ws(" ", cols: _*)
    }
    val base = spark.range(n).select(col("id"), words("u").as("text"))
    val variant = spark.range(n)
      .select((col("id") + n).as("id"), words("x").as("text"))
    base.unionByName(variant)
  }

  test("prefix-filter join finds exactly the constructed pairs under stopword skew") {
    val pairs = Dedup.prefixFilterPairs(corpus(1500), "id", "text", tNum = 4, tDen = 5).collect()
    Caches.release()
    assert(pairs.length == 1500, s"expected 1500 pairs, got ${pairs.length}")
    assert(pairs.forall(r => r.getLong(1) == r.getLong(0) + 1500))
    assert(pairs.forall(r => math.abs(r.getDouble(2) - 14.0 / 16.0) < 1e-12))
  }

  test("equals brute-force all-pairs on a threshold-straddling random corpus") {
    // overlapping word windows from a shared vocabulary: per group of 3
    // ids — two identical 10-token docs (jaccard 1.0, the intra path) and
    // one 9-token subset (jaccard 9/10 = 0.9 with both); adjacent groups
    // overlap 8/12 ≈ 0.67 (below threshold) — pairs on BOTH sides of 0.8
    val grp = expr("id div 3")
    val nTok = when(col("id") % 3 === 2, lit(9)).otherwise(lit(10))
    val docs = spark.range(240).select(col("id"),
      concat_ws(" ", transform(sequence(lit(0), nTok - 1),
        j => concat(lit("v"), (grp * 2 + j).cast("string")))).as("text"))
    val exact = Dedup.jaccardPairs(docs, "id", "text", 0.8)
      .orderBy("id_a", "id_b").collect().toSeq
    val viaPrefix = Dedup.prefixFilterPairs(docs, "id", "text", 4, 5)
      .orderBy("id_a", "id_b").collect().toSeq
    Caches.release()
    assert(viaPrefix.nonEmpty)
    assert(viaPrefix == exact)
  }

  test("brute and prefix candidate routes produce identical rep pairs (r12 planner split)") {
    // default bruteThreshold routes these small corpora down the broadcast
    // all-pairs scan; bruteThreshold = 0 forces the prefix-filter join —
    // both are exact, so the substrate must be bit-identical either way
    // (the setGraph route-equality contract, extended to the exact family)
    for ((docs, tag) <- Seq((corpus(500), "stopword-skew"),
                            (corpus(300).filter(col("id") % 5 =!= 1), "gapped"))) {
      val brute = Dedup.prefixSub(docs, "id", "text", 4, 5)
        .repPairs.orderBy("id_a", "id_b").collect().toSeq
      Caches.release()
      assert(Route.last(spark, "prefix") == "brute", tag)
      val prefix = Dedup.prefixSub(docs, "id", "text", 4, 5, bruteThreshold = 0L)
        .repPairs.orderBy("id_a", "id_b").collect().toSeq
      Caches.release()
      assert(Route.last(spark, "prefix") == "prefix", tag)
      assert(brute.nonEmpty, tag)
      assert(brute == prefix, tag)
    }
  }

  test("prefix route (forced) still finds exactly the constructed pairs") {
    val sub = Dedup.prefixSub(corpus(700), "id", "text", 4, 5, bruteThreshold = 0L)
    assert(Route.last(spark, "prefix") == "prefix")
    val cross = sub.repPairs
      .join(sub.keyed.select(col("g").as("id_a"), col("id").as("ia")), "id_a")
      .join(sub.keyed.select(col("g").as("id_b"), col("id").as("ib")), "id_b")
      .select(least(col("ia"), col("ib")).as("id_a"),
        greatest(col("ia"), col("ib")).as("id_b"))
      .collect()
    Caches.release()
    assert(cross.length == 700, s"expected 700 pairs, got ${cross.length}")
  }

  test("agrees with the minhash route pair-for-pair on a mixed corpus") {
    val docs = corpus(400).filter(col("id") % 7 =!= 3)
    val viaMinhash = Dedup.nearDupPairs(docs, "id", "text", 0.8)
      .orderBy("id_a", "id_b").collect().toSeq
    Caches.release()
    val viaPrefix = Dedup.prefixFilterPairs(docs, "id", "text", 4, 5)
      .orderBy("id_a", "id_b").collect().toSeq
    Caches.release()
    assert(viaPrefix == viaMinhash)
    assert(viaPrefix.nonEmpty)
  }

  /** Shingle fixture (n = 3): per group, a 12-word base, an identical copy
    * (jaccard 1.0), a last-word variant (9/11 ≈ 0.82, passes 4/5), a
    * swapped-middle variant (same word SET, shingle jaccard 6/14 — fails)
    * and a mid-word variant (7/13 — fails). Groups share no words.
    */
  private val shingleRows: Seq[(Long, String)] = (0 until 30).flatMap { g =>
    val base = (0 until 12).map(j => s"s${g * 20 + j}")
    val swapped = base.updated(5, base(6)).updated(6, base(5))
    Seq(base, base, base.updated(11, s"z$g"), swapped, base.updated(6, s"m$g"))
      .zipWithIndex.map { case (ws, k) => ((g * 5 + k).toLong, ws.mkString(" ")) }
  }

  /** Driver all-pairs reference over word 3-gram shingle sets. */
  private def shingleRef(rows: Seq[(Long, String)], t: Double): Seq[(Long, Long, Double)] = {
    def sh(s: String) = s.trim.toLowerCase.split("\\s+").sliding(3).map(_.mkString(" ")).toSet
    rows.combinations(2).flatMap { case Seq((ia, ta), (ib, tb)) =>
      val (a, b) = (sh(ta), sh(tb))
      val i = a.intersect(b).size
      val j = i.toDouble / (a.size + b.size - i).toDouble
      if (j >= t) Some((math.min(ia, ib), math.max(ia, ib), j)) else None
    }.toSeq.sorted
  }

  test("shingle sets (n = 3): both prefix routes equal the minhash route and all-pairs shingle jaccard") {
    import spark.implicits._
    val docs = shingleRows.toDF("id", "text")
    def rows(df: DataFrame) = df.select("id_a", "id_b", "jaccard").as[(Long, Long, Double)]
      .collect().toSeq.sorted
    val ref = shingleRef(shingleRows, 0.8)
    // 30 copies, 60 last-word pairs (base and copy each pair with the variant)
    assert(ref.size == 90 && ref.count(_._3 == 1.0) == 30)
    val viaBrute = rows(Dedup.prefixFilterPairs(docs, "id", "text", 4, 5, shingleN = 3))
    Caches.release()
    assert(Route.last(spark, "prefix") == "brute")
    val forced = Dedup.prefixSub(docs, "id", "text", 4, 5, shingleN = 3, bruteThreshold = 0L)
    assert(Route.last(spark, "prefix") == "prefix")
    val viaPrefix = rows(Dedup.docPairs(forced))
    Caches.release()
    val viaMinhash = rows(Dedup.nearDupPairs(docs, "id", "text", 0.8, shingleN = 3))
    Caches.release()
    assert(viaBrute == ref)
    assert(viaPrefix == ref)
    assert(viaMinhash == ref)
  }

  test("job counts: building and collecting the near-dup pair frames starts the pinned jobs") {
    // each substrate runs one route-choice count while it is built; the
    // rest starts when the pair frame is collected. Pinned so a shared
    // building block cannot add a job to either family.
    val docs = corpus(60).unionByName(
      corpus(60).filter(col("id") < 10).withColumn("id", col("id") + 1000))
    // the route each build took, read right after it: (site, choice)
    val routes = Seq.newBuilder[(String, String)]
    def jobs(site: String)(build: => DataFrame): (Int, Int, Long) = {
      Caches.release()
      val (df, built) = jobsStartedBy(build)
      routes += site -> Route.last(spark, site)
      val (n, collected) = jobsStartedBy(df.collect().length.toLong)
      Caches.release()
      (built, collected, n)
    }
    val got = Seq(
      "nearDupPairs" -> jobs("minhash")(Dedup.nearDupPairs(docs, "id", "text", 0.8)),
      "nearDupPairs banded" ->
        jobs("minhash")(Dedup.nearDupPairs(docs, "id", "text", 0.8, broadcastThreshold = 0L)),
      "prefixFilterPairs" -> jobs("prefix")(Dedup.prefixFilterPairs(docs, "id", "text", 4, 5)),
      "prefixFilterPairs prefix join" -> jobs("prefix") {
        Dedup.docPairs(Dedup.prefixSub(docs, "id", "text", 4, 5, bruteThreshold = 0L))
      })
    info(got.mkString(", "))
    // (jobs to build, jobs to collect, pairs): 60 variant pairs, 10 copies
    // and 10 copy × variant pairs
    assert(got.toMap == Map(
      "nearDupPairs" -> (8, 13, 80L),
      "nearDupPairs banded" -> (8, 14, 80L),
      "prefixFilterPairs" -> (5, 15, 80L),
      "prefixFilterPairs prefix join" -> (5, 26, 80L)), got)
    assert(routes.result() == Seq("minhash" -> "broadcast", "minhash" -> "banded",
      "prefix" -> "brute", "prefix" -> "prefix"))
  }
}
