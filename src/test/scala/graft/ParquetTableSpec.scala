package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, LongType, StringType}
import java.nio.file.{Files, Path}

/** `GraftSession.parquet` (and `table` through it) resolves a parquet
  * schema on the driver: the frame equals Spark's own inferred read in
  * schema and rows, building it starts no Spark job, and Spark's errors and
  * semantics stand wherever the shortcut falls back. */
class ParquetTableSpec extends SparkSpec {

  private def same(path: String): DataFrame = {
    val mine = GraftSession.parquet(spark, path)
    val theirs = spark.read.parquet(path)
    // StructField equality covers names, types, nullability and metadata
    assert(mine.schema == theirs.schema, path)
    assert(mine.collect().toSeq == theirs.collect().toSeq, path)
    mine
  }

  private def tmp(prefix: String): Path = Files.createTempDirectory(prefix)

  test("every standard table matches Spark's inferred read in schema and rows") {
    val sf001 = new java.io.File(new java.io.File(sfDir).getParentFile, "sf0.01").getPath
    for (dir <- Seq(sfDir, sf001); t <- GraftSession.standardTables) {
      val df = same(s"$dir/$t.parquet")
      assert(GraftSession.table(spark, dir, t).schema == df.schema)
    }
  }

  test("footer types follow the session's parquet confs, as Spark's inference does") {
    import org.apache.parquet.example.data.simple.{NanoTime, SimpleGroupFactory}
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.io.api.Binary
    import org.apache.parquet.schema.MessageTypeParser
    // an events-style file no Spark writer makes: TIMESTAMP(NANOS), an
    // unannotated binary and a legacy INT96 timestamp
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 id; optional int64 ts (TIMESTAMP(NANOS,true)); " +
        "optional binary raw; optional int96 legacy; }")
    val path = tmp("pq-nanos").resolve("events.parquet").toString
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(path)).withType(schema).build()
    val groups = new SimpleGroupFactory(schema)
    try (1 to 3).foreach { i =>
      w.write(groups.newGroup().append("id", i.toLong).append("ts", 1700000000123456789L + i)
        .append("raw", Binary.fromString(s"r$i")).append("legacy", new NanoTime(2460000 + i, 1000L * i)))
    } finally w.close()
    // the session reads TIMESTAMP(NANOS) as long nanos (GraftSession.tune)
    assert(same(path).schema("ts").dataType == LongType)
    assert(same(path).schema("raw").dataType == BinaryType)
    withConf("spark.sql.parquet.binaryAsString" -> "true") {
      assert(same(path).schema("raw").dataType == StringType)
    }
    // Spark refuses TIMESTAMP(NANOS) without nanosAsLong, and INT96 without
    // int96AsTimestamp; the helper raises the same exception
    for (off <- Seq("spark.sql.legacy.parquet.nanosAsLong", "spark.sql.parquet.int96AsTimestamp"))
      withConf(off -> "false") {
        assert(intercept[Throwable](GraftSession.parquet(spark, path)).getClass ==
          intercept[Throwable](spark.read.parquet(path)).getClass, off)
      }
  }

  test("a Spark-written directory with _SUCCESS and .crc files matches Spark's read") {
    val out = tmp("pq-multi").resolve("lineitem").toString
    GraftSession.table(spark, sfDir, "lineitem").repartition(3).write.parquet(out)
    val names = new java.io.File(out).list().toSeq
    assert(names.contains("_SUCCESS") && names.exists(_.endsWith(".crc")), names)
    assert(names.count(n => n.startsWith("part-") && n.endsWith(".parquet")) == 3, names)
    same(out)
  }

  test("the file Spark's inference reads decides; hidden files never do") {
    val dir = tmp("pq-pick")
    def single(name: String, df: DataFrame): Path = {
      df.coalesce(1).write.parquet(dir.resolve(name).toString)
      new java.io.File(dir.resolve(name).toString).listFiles()
        .find(_.getName.startsWith("part-")).get.toPath
    }
    val narrow = single("narrow", spark.range(4).select(col("id")))
    val wide = single("wide", spark.range(2).select(col("id"), lit("w").as("w")))
    def columns(files: (String, Path)*): Seq[String] = {
      val t = Files.createDirectory(tmp("pq-pick-t").resolve("t"))
      files.foreach { case (name, f) => Files.copy(f, t.resolve(name)) }
      same(t.toString).columns.toSeq
    }
    assert(columns("b.parquet" -> narrow, "_a.parquet" -> wide, ".a.parquet" -> wide,
      "a.parquet._COPYING_" -> wide) == Seq("id"))
    // the first data file in path order
    assert(columns("b.parquet" -> narrow, "a.parquet" -> wide) == Seq("id", "w"))
    // a summary file wins over the data files, _common_metadata over _metadata
    for (summary <- Seq("_metadata", "_common_metadata"))
      assert(columns("a.parquet" -> narrow, summary -> wide) == Seq("id", "w"), summary)
    assert(columns("a.parquet" -> wide, "_metadata" -> wide, "_common_metadata" -> narrow) == Seq("id"))
  }

  test("mergeSchema and partition directories keep Spark's semantics") {
    val dir = tmp("pq-merge")
    spark.range(3).select(col("id")).write.parquet(dir.resolve("t/p=1").toString)
    spark.range(3).select(col("id"), lit("z").as("z")).write.parquet(dir.resolve("t/p=2").toString)
    val t = dir.resolve("t").toString
    assert(same(t).columns.toSeq == Seq("id", "p"))
    withConf("spark.sql.parquet.mergeSchema" -> "true") {
      assert(same(t).columns.toSet == Set("id", "z", "p"))
    }
  }

  test("building a frame starts no job; Spark's own read does") {
    // the counter sees the schema-inference job of Spark's read
    assert(jobsStartedBy(spark.read.parquet(s"$sfDir/lineitem.parquet"))._2 >= 1)
    val (df, jobs) = jobsStartedBy(GraftSession.table(spark, sfDir, "lineitem"))
    assert(jobs == 0, s"GraftSession.table started $jobs job(s)")
    assert(df.count() == spark.read.parquet(s"$sfDir/lineitem.parquet").count())
  }

  test("a missing path and an empty directory raise Spark's own exception") {
    def cls(read: String => DataFrame, path: String) =
      intercept[Throwable](read(path)).getClass
    val missing = tmp("pq-missing").resolve("nope.parquet").toString
    val empty = tmp("pq-empty").toString
    for (p <- Seq(missing, empty))
      assert(cls(GraftSession.parquet(spark, _), p) == cls(spark.read.parquet(_), p), p)
  }

  test("registry frames build lazily: no job before an action") {
    for (q <- Seq("q1_pricing_summary", "q5_local_supplier", "q_supplier_agg")) {
      val (_, jobs) = jobsStartedBy(SparkEntry.queries(q)(spark, sfDir))
      assert(jobs == 0, s"$q started $jobs job(s) while its frame was built")
    }
  }
}
