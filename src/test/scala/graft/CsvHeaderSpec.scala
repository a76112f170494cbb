package graft

import graft.sources.CsvSource
import java.nio.file.{Files, Path}

/** `CsvSource.read` takes its header from the file itself, with Spark's CSV
  * header rules and without running a Spark job. */
class CsvHeaderSpec extends SparkSpec {

  private def file(dir: Path, name: String, content: String): String = {
    Files.writeString(dir.resolve(name), content)
    dir.resolve(name).toString
  }

  /** Header names as Spark's own file-level header read derives them. */
  private def sparkHeader(path: String): Seq[String] =
    spark.read.option("header", "true").csv(path).columns.toSeq

  test("quoted, duplicate and empty header names match Spark's header read") {
    val dir = Files.createTempDirectory("csvhdr")
    val path = file(dir, "feed.csv",
      "\n\"a,b\",x,,X,\"\",x,\"q\"\"t\",price.usd\n1,2,3,4,5,6,7,8\n9,10,11,12,13,14,15,16\n1,2\n")
    val expected = sparkHeader(path)
    assert(expected.contains("a,b") && expected.count(_.startsWith("_c")) == 2, expected)
    val df = CsvSource.read(spark, path)
    assert(df.columns.toSeq == expected)
    // the ragged row is still skipped under the derived schema
    assert(df.count() == 2)
  }

  test("byte-order mark and directory inputs match Spark's header read") {
    val dir = Files.createTempDirectory("csvhdr-bom")
    val bom = file(dir, "bom.csv", "\uFEFFsku,cost\nA,1\n")
    assert(CsvSource.read(spark, bom).columns.toSeq == sparkHeader(bom))
    val feeds = Files.createDirectories(dir.resolve("feeds"))
    file(feeds, "_SUCCESS", "")
    file(feeds, "a.csv", "\n  \n")
    file(feeds, "b.csv", "upc,price\n111,1.0\n")
    val df = CsvSource.read(spark, feeds.toString)
    assert(df.columns.toSeq == Seq("upc", "price"))
    assert(df.columns.toSeq == sparkHeader(feeds.toString))
  }

  test("the reader runs no Spark job") {
    val dir = Files.createTempDirectory("csvhdr-jobs")
    val path = file(dir, "feed.csv", "sku,cost\nA,1\nB,2\n")
    // the counter sees the job Spark's own file-level header read runs
    assert(jobsStartedBy(sparkHeader(path))._2 >= 1)
    val (df, jobs) = jobsStartedBy(CsvSource.read(spark, path))
    assert(jobs == 0, s"CsvSource.read started $jobs job(s)")
    assert(df.count() == 2)
  }
}
