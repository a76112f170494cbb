package graft

import graft.config.InputConfig
import graft.operators.Aggregator
import graft.sinks.ProduceSink
import graft.sources._
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import java.nio.file.{Files, Path}

/** A warm pipeline reuses the classes Spark generated for it: the session's
  * code cache (`spark.sql.codegen.cache.maxEntries`, set in
  * `GraftSession.tune`) must hold a whole pass of EDI plans, or every pass
  * re-runs Janino on classes it compiled a moment ago.
  */
class CodegenReuseSpec extends SparkSpec {

  private val restRow = StructType(Seq("item_code", "unit_price", "on_hand", "state", "label")
    .map(StructField(_, StringType)))

  private def resolver(dir: Path) = new Aggregator.SourceResolver {
    def read(spark: SparkSession, typeId: Int, source: String, range: Option[String]): DataFrame = {
      val p = dir.resolve(source).toString
      typeId match {
        case 1     => SheetsSource.toTable(spark, p, range)
        case 2 | 7 => CsvSource.read(spark, p)
        case 3     => DriveFolderSource.read(spark, p, range)
        case 4 | 6 => ExcelSource.toTable(ExcelSource.readXlsxGrid(spark, p), range)
        case 5     => MorrisXmlSource.parse(spark.read.option("wholetext", "true").text(p), "value")
        case 8     => RestJsonSource.read(spark, p, restRow)
        case t     => throw new IllegalArgumentException(s"unresolved type $t")
      }
    }
  }

  // dirty values of every kind the cleaners handle, repeated keys for the
  // merge rules, one missing key
  private val rows = Seq(
    Seq("0-111-222", "10.50", "5", "new", "Hat"),
    Seq(" 0111 222 ", "$9.75", "7 pcs", "sale", ""),
    Seq("333444", "12,50", "1,234", "", "Cape"),
    Seq("#555666", "n/a", "2", "new", "Mask"),
    Seq("", "3", "1", "old", "Wig"),
    Seq("333444", "8 usd", "9", "new", "Cape II"))

  private def csv(header: Seq[String], rs: Seq[Seq[String]]): String =
    (header +: rs).map(_.map(v => "\"" + v + "\"").mkString(",")).mkString("", "\n", "\n")

  private def write(dir: Path, rel: String, content: String): Unit = {
    val p = dir.resolve(rel)
    Files.createDirectories(p.getParent)
    Files.writeString(p, content)
  }

  private def writeXlsx(dir: Path, rel: String, header: Seq[String], rs: Seq[Seq[String]]): Unit = {
    val p = dir.resolve(rel)
    Files.createDirectories(p.getParent)
    Files.write(p, XlsxTestWriter.build(Seq("Sheet1" -> (header +: rs))))
  }

  private def json(s: String) = "\"" + s.replace("\"", "\\\"") + "\""

  private def rules(k: String, p: String, q: String, s: String, t: String) =
    s"""{"upc":"$k","price":["$p","min"],"qty":["$q","max"],"status":["$s","addArray"],"title":"$t"}"""

  private def config(id: Int, typeId: Int, source: String, rulesJson: String) =
    s"""{"supplier_id":$id,"name":"m$id","type_id":$typeId,"source":"$source","range":null,""" +
      s""""column_map_rules":$rulesJson,"version":1}"""

  /** One config per source family plus a multi-source one, with its feeds. */
  private def fixture(): (Path, Seq[InputConfig]) = {
    val dir = Files.createTempDirectory("cgreuse")
    write(dir, "csv/feed.csv", csv(Seq("sku", "cost", "stock", "status", "title"), rows))
    (0 until 2).foreach(b => writeXlsx(dir, s"xlsx/book_$b.xlsx",
      Seq("ean", "price", "qty", "flag", "name"), rows.map(r => (s"$b" + r.head) +: r.tail)))
    write(dir, "morris/doc_0.xml", rows.map { r =>
      s"<available><gtin>${r(0)}</gtin><qty>${r(2)}</qty><detail><price>${r(1)}</price></detail></available>"
    }.mkString("<root>", "", "</root>"))
    write(dir, "rest/page_0.json", rows.map { r =>
      Seq("item_code", "unit_price", "on_hand", "state", "label").zip(r)
        .map { case (k, v) => s"${json(k)}:${json(v)}" }.mkString("{", ",", "}")
    }.mkString("""{"data":[""", ",", """],"meta":{"last_page":1},"links":{"next":null}}""") + "\n")
    write(dir, "sheets/values.json",
      (Seq("UPC", "Price", "Qty", "Status", "Title") +: rows).map(_.map(json).mkString("[", ",", "]"))
        .mkString("""{"range":"Sheet1!A1:E7","majorDimension":"ROWS","values":[""", ",", "]}"))
    write(dir, "drive/a_latest.csv", csv(Seq("sku", "cost", "stock", "status", "title"), rows))
    writeXlsx(dir, "drive/b_older.xlsx", Seq("sku", "cost"), Seq(Seq("1", "2")))
    write(dir, "multi/base.csv", csv(Seq("sku", "cost", "stock", "title"), rows.map(r => Seq(r(0), r(1), r(2), r(4)))))
    writeXlsx(dir, "multi/xlsx/book_0.xlsx", Seq("sku", "brand"), Seq(Seq("333444", "Acme"), Seq("999", "None")))
    write(dir, "multi/rest/page_0.json",
      """{"data":[{"item_code":"0-111-222","on_hand":"4"},{"item_code":"#555666","on_hand":"6 pcs"}],"meta":{"last_page":1}}""" + "\n")
    val configs = Seq(
      config(1, 2, "csv/feed.csv", rules("sku", "cost", "stock", "status", "title")),
      config(2, 4, "xlsx", rules("ean", "price", "qty", "flag", "name")),
      config(3, 5, "morris", """{"upc":"gtin","price":["price","min"],"qty":["qty","max"]}"""),
      config(4, 8, "rest", rules("item_code", "unit_price", "on_hand", "state", "label")),
      config(5, 1, "sheets/values.json", rules("UPC", "Price", "Qty", "Status", "Title")),
      config(6, 3, "drive", rules("sku", "cost", "stock", "status", "title")),
      """{"supplier_id":7,"name":"m7","source":[
        |{"type_id":2,"filename":"multi/base.csv","key":"sku"},
        |{"type_id":4,"filename":"multi/xlsx","key":"sku","fields":["brand"]},
        |{"type_id":8,"filename":"multi/rest","key":"item_code","fields":["on_hand"]}],
        |"column_map_rules":{"upc":"sku","price":["cost","min"],"qty":["on_hand","max"],"brand":"brand","title":"title"},
        |"version":1}""".stripMargin.replace("\n", ""))
    (dir, configs.map(InputConfig.fromJson))
  }

  test("a second pass over every source family and a multi-source config compiles no class") {
    val (dir, configs) = fixture()
    val res = resolver(dir)
    val out = Files.createTempDirectory("cgreuse-out")
    def pass(n: Int): (Long, Seq[Long]) = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val produced = configs.map { cfg =>
        ProduceSink.writeJsonl(Aggregator.run(spark, cfg, res, key = "upc"), "upc", s"$out/p$n/${cfg.name}")
        spark.read.text(s"$out/p$n/${cfg.name}").count()
      }
      (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before, produced)
    }
    val (first, rows1) = pass(1)
    val (second, rows2) = pass(2)
    assert(rows1.forall(_ > 0) && rows1 == rows2, s"produced rows: $rows1 then $rows2")
    // a pass generates more than 100 distinct classes (more than Spark's
    // default cache holds); with a cold cache the first pass compiles them
    // all, with a warm one (suites run before this one) fewer
    info(s"compiles: first pass $first, second pass $second")
    assert(second == 0, s"the second pass recompiled $second classes (first pass: $first)")
  }
}
