package graft

import graft.config.{InputConfig, SourceRouter}
import graft.operators.{MapRule, MultiSourceMerge, SubSourceFeed}
import graft.sources.{CsvSource, MorrisXmlSource, RestJsonSource, XlsxWriter}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class SourcesSpec extends SparkSpec {
  import spark.implicits._

  test("csv line parse handles quoting and types") {
    val df = Seq("""1,"a,b",2.5""", """2,plain,3.5""").toDF("line")
    val schema = new StructType().add("id", LongType).add("s", StringType).add("v", DoubleType)
    val out = CsvSource.parseLines(df, col("line"), schema).drop("line").orderBy("id").collect()
    assert(out.toSeq == Seq(Row(1L, "a,b", 2.5), Row(2L, "plain", 3.5)))
  }

  test("csv file read skips ragged rows like the reference handler") {
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("csvragged").toString
    Files.writeString(Paths.get(dir, "feed.csv"),
      "sku,cost,stock\nA-1,5,2\nB-2,8\nC-3,1,4,9\nD-4,2,7\n")
    val out = graft.sources.CsvSource.read(spark, s"$dir/feed.csv")
    // B-2 (too few) and C-3 (too many) dropped, like count(row) != count(header)
    assert(out.select("sku").collect().map(_.getString(0)).sorted.toSeq == Seq("A-1", "D-4"))
    assert(out.count() == 2)
  }

  test("morris xml parses available items, missing fields get PHP-cast defaults") {
    val xml =
      """<root>
        |<available><gtin>123</gtin><qty>5</qty><detail><price>9.99</price></detail></available>
        |<available><gtin>456</gtin><qty>2</qty><detail><price>1.50</price></detail></available>
        |<available><gtin>789</gtin><qty>1</qty><detail></detail></available>
        |</root>""".stripMargin
    val out = MorrisXmlSource.parse(Seq(xml).toDF("xml"), "xml").orderBy("gtin").collect()
    assert(out.toSeq == Seq(Row("123", 5L, 9.99), Row("456", 2L, 1.5), Row("789", 1L, 0.0)))
  }

  test("morris xml scanner: entities, attributes, comments, self-closing, CDATA fallback") {
    // entities + attributes + comments + PI + whitespace — fast-scan path
    val fancy =
      """<?xml version="1.0"?><root>
        |<!-- comment with <brackets> -->
        |<available kind="a&gt;b"><gtin> A&amp;B&#65; </gtin><qty>7.9</qty>
        |  <detail note='x>y'><price> 3.5 </price></detail></available>
        |<available><gtin/><qty/><detail/></available>
        |</root>""".stripMargin
    val out = MorrisXmlSource.parse(Seq(fancy).toDF("xml"), "xml").orderBy("gtin").collect()
    // gtin keeps raw text (trim happens in numeric casts only); qty "7.9" → PHP intval via float → 7
    assert(out.toSeq == Seq(Row("", 0L, 0.0), Row(" A&BA ", 7L, 3.5)))

    // CDATA → StAX fallback path. The StAX reader reports CDATA as its own
    // event type, which the parser has always ignored — the scanner's
    // fallback preserves that exact (pre-existing) behavior.
    val cdata = "<root><available><gtin><![CDATA[X<Y]]></gtin><qty>1</qty>" +
      "<detail><price>2</price></detail></available></root>"
    val cd = MorrisXmlSource.parse(Seq(cdata).toDF("xml"), "xml").collect()
    assert(cd.toSeq == Seq(Row("", 1L, 2.0)))
  }

  test("rest json pages explode data rows") {
    val page = """{"data":[{"id":1,"name":"x"},{"id":2,"name":"y"}],"meta":{"last_page":1}}"""
    val schema = new StructType().add("id", LongType).add("name", StringType)
    val out = RestJsonSource.parsePages(Seq(page).toDF("body"), col("body"), schema).orderBy("id").collect()
    assert(out.toSeq == Seq(Row(1L, "x"), Row(2L, "y")))
  }

  test("multi-source merge: first source keyed, later update fields on existing keys only") {
    val base = Seq(("u1", 10.0, 1L), ("u1", 11.0, 2L), ("u2", 20.0, 3L)).toDF("upc", "price", "seq")
    val sub = Seq(("u1", "A", 1L), ("u3", "C", 2L)).toDF("upc", "brand", "seq")
    val out = MultiSourceMerge.merge(base, "upc", "seq",
      Seq(SubSourceFeed(sub, "upc", Seq("brand"), "seq"))).orderBy("upc").collect()
    // u1: last price wins (11.0) + brand grafted; u2 kept, no brand; u3 dropped
    assert(out.toSeq == Seq(Row("u1", 11.0, "A"), Row("u2", 20.0, null)))
  }

  test("drive folder: first file (lexicographic) wins, extension dispatches parser") {
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("drv").toString
    Files.writeString(Paths.get(dir, "b_feed.csv"), "sku,qty\nB-1,9\n")
    Files.write(Paths.get(dir, "a_feed.xlsx"), XlsxWriter.build(Seq(
      "S" -> Seq(Seq("sku", "qty"), Seq("A-1", 4)))))
    // a_feed.xlsx sorts first -> excel path
    val out = graft.sources.DriveFolderSource.read(spark, dir, None).collect()
    assert(out.length == 1 && out.head.getAs[String]("sku") == "A-1")

    val csvOnly = Files.createTempDirectory("drv2").toString
    Files.writeString(Paths.get(csvOnly, "feed.csv"), "sku,qty\nC-1,2\nC-2,3\n")
    assert(graft.sources.DriveFolderSource.read(spark, csvOnly, None).count() == 2)

    val bad = Files.createTempDirectory("drv3").toString
    Files.writeString(Paths.get(bad, "feed.pdf"), "nope")
    val e = intercept[IllegalArgumentException](graft.sources.DriveFolderSource.read(spark, bad, None))
    assert(e.getMessage.contains("Unsupported file type"))
  }

  test("drive folder: a file: URI reads the same rows as the plain path") {
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("drv-uri")
    Files.writeString(dir.resolve("b_feed.csv"), "sku,qty\nB-1,9\n")
    Files.writeString(dir.resolve("a_feed.csv"), "sku,qty\nA-1,4\nA-2,5\n")
    Files.createDirectory(dir.resolve("0_subdir")) // files only: a directory never wins
    def rows(folder: String) =
      graft.sources.DriveFolderSource.read(spark, folder, None).collect().toSeq
    val plain = rows(dir.toString)
    assert(plain == Seq(Row("A-1", "4"), Row("A-2", "5")))
    assert(rows(dir.toUri.toString) == plain)
    val empty = Files.createTempDirectory("drv-uri-empty").toUri.toString
    val e = intercept[IllegalArgumentException](rows(empty))
    assert(e.getMessage.contains("No files found"))
  }

  test("rest api config: per-supplier lookup, defaults, reference error modes") {
    val json =
      """{"42": {"base_uri": "https://api.example.com/", "auth": {"kind": "jwt"},
        |        "items": {"uri": "/items", "page_size": "250"}, "verify_ssl": false},
        | "7":  {"base_uri": "http://x"}}""".stripMargin
    val cfg = graft.config.RestApiConfigProvider.fromJson(json, "42")
    assert(cfg.baseUri == "https://api.example.com") // trailing slash trimmed
    assert(cfg.pageSize == 250 && cfg.pageParam == "page" && cfg.sizeParam == "per_page")
    assert(!cfg.verifySsl && cfg.auth == Map("kind" -> "jwt"))
    assert(graft.config.RestApiConfigProvider.fromJson(json, "7").verifySsl)

    val miss = intercept[RuntimeException](graft.config.RestApiConfigProvider.fromJson(json, "99"))
    assert(miss.getMessage == "REST config not found for supplier: 99")
    val badFile = intercept[RuntimeException](graft.config.RestApiConfigProvider.fromFile("/nope.json", "1"))
    assert(badFile.getMessage.startsWith("REST config file not found"))
    val badJson = intercept[RuntimeException](graft.config.RestApiConfigProvider.fromJson("not json", "1"))
    assert(badJson.getMessage.startsWith("Invalid REST config JSON"))
  }

  test("input config parses single and multi-source messages") {
    val single = InputConfig.fromJson(
      """{"supplier_id":123,"name":"S","type_id":2,"source":"https://x/feed.csv",
        |"range":null,"column_map_rules":{"price":"cost","qty":["Quantity","min"]},"version":1}""".stripMargin)
    assert(!single.isMultiSource && single.typeId.contains(2))
    assert(single.rules.toSet == Set(MapRule("price", "cost"), MapRule("qty", "Quantity", Some("min"))))

    val multi = InputConfig.fromJson(
      """{"supplier_id":9,"type_id":null,"source":[
        |{"type_id":1,"filename":"sheet1","key":"upc","fields":["name","price"],"range":"A1:Z9"},
        |{"type_id":4,"filename":"f.xlsx","key":"upc","fields":["qty"]}],
        |"column_map_rules":{},"version":2}""".stripMargin)
    assert(multi.isMultiSource && multi.subSources.map(_.typeId) == Seq(1, 4))
    assert(multi.subSources.head.fields == Seq("name", "price"))

    intercept[IllegalArgumentException](InputConfig.fromJson("""{"supplier_id":1}"""))
    assert(SourceRouter.handlerFor(5) == "morris_xml_sftp")
    intercept[IllegalArgumentException](SourceRouter.handlerFor(99))
  }

  test("jsonl: escapes round-trip, malformed lines drop, partial records keep") {
    import org.apache.spark.sql.types._
    val schema = new StructType()
      .add("id", LongType).add("txt", StringType)
    val lines = Seq(
      """{"id":1,"txt":"plain"}""",
      """{"id":2,"txt":"quotes \" and \\ and\nnewline é"}""", // escaped content
      """{"id":3}""",                   // missing field: partial record KEEPS
      """not json at all""",            // malformed: drops
      """{"id":""").toDF("line")        // truncated: drops
    val got = graft.sources.JsonlSource.parseLines(lines, col("line"), schema)
      .orderBy("id").collect().map(r => (r.get(0), r.get(1))).toSeq
    assert(got == Seq(
      (1L, "plain"),
      (2L, "quotes \" and \\ and\nnewline é"),
      (3L, null)))
    // and the full serialize→parse loop is lossless on awkward strings
    val src = Seq((10L, "a\"b\\c\nd\té")).toDF("id", "txt")
    val round = graft.sources.JsonlSource.parseLines(
      src.select(to_json(struct(col("id"), col("txt"))).as("l")), col("l"), schema)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(round == Seq((10L, "a\"b\\c\nd\té")))
  }
}
