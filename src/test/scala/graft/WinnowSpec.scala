package graft

import graft.operators.{Route, Winnow}
import org.apache.spark.sql.functions._

/** Winnowing fingerprints (`Winnow.fingerprints`, Schleimer et al. 2003):
  * a driver-side reference model pins the selection rule (every w-window
  * of k-gram md5s keeps its rightmost minimum), the paper's locality
  * guarantee is asserted on planted overlaps, and the operator is checked
  * against the model on the real documents table.
  */
class WinnowSpec extends SparkSpec {
  import spark.implicits._

  private val K = 4
  private val W = 4

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Reference model of the documented selection rule. */
  private def winnowRef(text: String): Seq[(Int, String)] = {
    val toks = text.trim.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
    if (toks.length < K) return Seq.empty
    val g = (0 to toks.length - K).map(j => md5hex(toks.slice(j, j + K).mkString(" ")))
    val n = g.length
    val sel = (0 to math.max(n - W, 0)).map { s =>
      val e = math.min(s + W, n)
      // rightmost minimum of g[s until e)
      (s until e).reduceLeft((a, b) => if (g(b) <= g(a)) b else a)
    }.distinct.sorted
    sel.map(p => (p, g(p)))
  }

  private def run(docs: Seq[(Long, String)]): Map[Long, Seq[(Int, String)]] =
    Winnow.fingerprints(docs.toDF("doc_id", "text"), "doc_id", "text", K, W)
      .collect()
      .map(r => (r.getLong(0), (r.getInt(1), r.getString(2))))
      .groupBy(_._1).map { case (id, rs) => id -> rs.map(_._2).sortBy(_._1).toSeq }

  private def words(prefix: String, n: Int): String =
    (0 until n).map(i => s"$prefix$i").mkString(" ")

  test("native graft_winnow_select equals the declarative HOF twin it replaced (r13)") {
    // the exact pre-r13 expression, kept here as the spec-side twin
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val g = graft.plans.NativeHash.tokenGramHashes(col("text"), K)
    val base = docs.select(col("doc_id"), g.as("g"))
      .withColumn("n", size(col("g")))
      .filter(col("n") >= 1)
    val declarative = base.select(col("doc_id"),
      explode(array_distinct(transform(
        sequence(lit(0), greatest(col("n") - W, lit(0))),
        s => aggregate(
          sequence(s, least(s + W, col("n")) - 1),
          struct(lit("~").as("h"), lit(-1).as("pos")),
          (acc, i) => when(element_at(col("g"), i + 1) <= acc.getField("h"),
              struct(element_at(col("g"), i + 1).as("h"), i.as("pos")))
            .otherwise(acc))))).as("f"))
      .select(col("doc_id"), col("f").getField("pos").as("pos"),
        col("f").getField("h").as("h"))
    val native = base.select(col("doc_id"),
        explode(graft.plans.NativeHash.winnowSelect(col("g"), W)).as("f"))
      .select(col("doc_id"), col("f").getField("pos").as("pos"),
        col("f").getField("h").as("h"))
    assert(native.exceptAll(declarative).count() == 0L)
    assert(declarative.exceptAll(native).count() == 0L)
  }

  test("operator matches the reference model on fixtures (short docs, ties, long docs)") {
    val docs = Seq(
      1L -> words("a", 40),                       // normal doc
      2L -> words("b", K),                        // exactly one gram (n=1 < w)
      3L -> words("c", K + 1),                    // two grams, still < w windows
      4L -> words("d", K - 1),                    // too short: no grams at all
      5L -> (words("e", 10) + " " + words("e", 10)), // internal repeat → equal hashes → tie path
      6L -> "  X  y\t Z  x ")                     // messy whitespace + case folding
    val got = run(docs)
    val want = docs.map { case (id, t) => id -> winnowRef(t) }.filter(_._2.nonEmpty).toMap
    assert(got === want)
  }

  test("every doc with >= k tokens keeps at least one fingerprint; density tracks 2/(w+1)") {
    val docs = (0L until 50L).map(id => id -> words(s"t${id}x", 60))
    val got = run(docs)
    assert(got.keySet === docs.map(_._1).toSet)
    val grams = 60 - K + 1
    val densities = got.values.map(_.size.toDouble / grams)
    val mean = densities.sum / densities.size
    // paper's expected density for random hashes is 2/(w+1) = 0.4 at w=4
    assert(mean > 0.25 && mean < 0.55, s"mean selected density $mean")
  }

  test("locality guarantee: docs sharing a >= w+k-1 token run share a fingerprint") {
    val shared = words("s", W + K - 1) // exactly the guarantee threshold
    val docs = Seq(
      10L -> (words("p", 30) + " " + shared + " " + words("q", 30)),
      11L -> (words("r", 17) + " " + shared + " " + words("u", 23)),
      12L -> words("v", 50)) // unrelated
    val fps = run(docs)
    val h10 = fps(10L).map(_._2).toSet
    val h11 = fps(11L).map(_._2).toSet
    assert((h10 intersect h11).nonEmpty, "guaranteed shared fingerprint missing")
    val pairs = Winnow.candidatePairs(docs.toDF("doc_id", "text"), "doc_id", "text",
        K, W, dfCap = 1000, minShared = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    graft.operators.Caches.release()
    assert(pairs.contains((10L, 11L)))
    assert(!pairs.exists(p => p._1 == 12L || p._2 == 12L))
  }

  test("candidatePairs: n_shared counts distinct hashes; dfCap drops boilerplate") {
    val boiler = words("z", 30)
    val docs = (0L until 6L).map(id => id -> (boiler + " " + words(s"o$id", 20)))
    // every pair shares many fingerprints from the boilerplate run
    val loose = Winnow.candidatePairs(docs.toDF("doc_id", "text"), "doc_id", "text",
        K, W, dfCap = 1000, minShared = 1).collect()
    graft.operators.Caches.release()
    assert(loose.length === 6 * 5 / 2)
    assert(loose.forall(_.getLong(2) >= 1))
    // dfCap = 2 < 6 docs: every boilerplate hash is dropped; suffixes are
    // disjoint, so no pairs survive
    val capped = Winnow.candidatePairs(docs.toDF("doc_id", "text"), "doc_id", "text",
        K, W, dfCap = 2, minShared = 1).collect()
    graft.operators.Caches.release()
    assert(capped.isEmpty)
  }

  test("keepAfterVerify: planted excerpts dedup through the closed loop, unique docs survive") {
    val host = words("h", 40)
    val run20 = host.split(" ").slice(5, 25).mkString(" ") // 20-token run of the host
    val docs = Seq(
      1L -> host,
      2L -> run20,                            // pure excerpt → overlap 1.0
      3L -> words("u", 50),                   // unique
      4L -> words("v", 50),                   // unique
      5L -> (words("x", 3) + " " + run20))    // excerpt behind a short prefix
    val kept = Winnow.keepAfterVerify(docs.toDF("doc_id", "text"), "doc_id", "text",
        K, W, dfCap = 1000, minShared = 1, threshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    graft.operators.Caches.release()
    // the locality guarantee survives composition: both excerpts share a
    // ≥ w+k−1 run with the host, so they are candidates; the full-gram
    // overlap coefficient (1.0 and 17/20) clears 0.5; cluster-min wins
    assert(kept === Set(1L, 3L, 4L), s"kept=$kept")
  }

  test("keepAfterVerify matches a driver-side reference model on the real table") {
    val rows = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    // reference: selection → df-capped postings → ≥2-shared pairs →
    // full-gram overlap-coefficient verify → union-find min winners
    val fps = rows.map { case (id, t) => id -> winnowRef(t).map(_._2).toSet }.toMap
    val df = fps.values.flatten.groupBy(identity).map { case (h, hs) => h -> hs.size }
    val keptH = df.filter(_._2 <= 1000).keySet
    val gsets = rows.map { case (id, t) =>
      val toks = t.trim.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
      id -> (0 to toks.length - K).map(j => md5hex(toks.slice(j, j + K).mkString(" "))).toSet
    }.toMap
    val ids = rows.map(_._1).sorted
    val pairs = for {
      i <- ids; j <- ids
      if i < j && (fps(i) intersect fps(j)).count(keptH) >= 2 &&
        (gsets(i) intersect gsets(j)).size.toDouble >=
          0.5 * math.min(gsets(i).size, gsets(j).size)
    } yield (i, j)
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    val want = ids.filter(id => find(id) == id).toSet
    def kept(collectEdgeThreshold: Long): Set[Long] = {
      val out = Winnow.keepAfterVerify(rows.toDF("doc_id", "text"), "doc_id", "text",
          K, W, dfCap = 1000, minShared = 2, threshold = 0.5,
          collectEdgeThreshold = collectEdgeThreshold)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      graft.operators.Caches.release()
      out
    }
    // both connected-components routes keep the same documents
    val viaLoop = kept(0L)
    assert(Route.last(spark, "cc") === "distributed")
    val got = kept(1L << 22)
    assert(Route.last(spark, "cc") === "driver")
    assert(got === want)
    assert(viaLoop === got)
  }

  test("operator matches the reference model on the real documents table") {
    val rows = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val got = run(rows)
    val want = rows.map { case (id, t) => id -> winnowRef(t) }.filter(_._2.nonEmpty).toMap
    assert(got === want)
  }
}
