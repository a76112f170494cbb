package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Contrastive training-pair mining — the dataset an embedding model (or
  * reranker) trains on: positive pairs that should embed close, negative
  * pairs that should not. Positives come from the verified near-duplicate
  * graph ([[Dedup.nearDupPairs]], the banded-minhash scale path): n-gram
  * Jaccard ≥ theta, label 1. Negatives are hash-bucket pairings — each doc
  * md5-buckets, consecutive ids within a bucket pair up, anything that
  * verified positive is anti-joined away — label 0. No RNG anywhere: the
  * pair set is reproducible across engines, runs, and partitionings (the
  * [[graft.functions.Sampling]] hashing contract).
  *
  * Scale shape: positives ride the banded candidate stream (never
  * corpus²); negatives are one md5-bucket projection, a PARTITIONED
  * row_number (bucket-local sort — no global ordering anywhere), one
  * self-join on (bucket, rn), and an anti-join against the positives.
  * Each doc lands in at most one negative pair, so the negative set is
  * ≤ n/2 rows.
  */
object PairMine {

  /** (id_a, id_b, label): label 1 = verified near-dup, 0 = hash-paired
    * negative; id_a < id_b in every row; pairs are unique.
    */
  def contrastivePairs(docs: DataFrame, idCol: String, textCol: String,
                       theta: Double, negBuckets: Int): DataFrame = {
    require(negBuckets >= 1, s"negBuckets must be >= 1, got $negBuckets")
    // read twice (positive stream + negative anti-join) — unpersisted, the
    // whole banded candidate+verify pipeline would run once per consumer
    val pos = Caches.persist(Dedup.nearDupPairs(docs, idCol, textCol, theta)
      .select(col("id_a"), col("id_b"), lit(1).as("label")))
    val b = docs.select(col(idCol).as("id"),
        graft.functions.Sampling.md5Bucket(col(idCol), negBuckets).as("bucket"))
      .withColumn("rn", row_number().over(Window.partitionBy("bucket").orderBy("id")))
    val neg = b.filter(col("rn") % 2 === 1).as("a")
      .join(b.filter(col("rn") % 2 === 0).as("bb"),
        col("a.bucket") === col("bb.bucket") && col("bb.rn") === col("a.rn") + 1)
      .select(col("a.id").as("id_a"), col("bb.id").as("id_b"), lit(0).as("label"))
      .join(pos.select("id_a", "id_b"), Seq("id_a", "id_b"), "left_anti")
    pos.unionByName(neg)
  }
}
