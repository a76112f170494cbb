package graft

import graft.sources.{A1Range, ExcelSource, XlsxWriter}
import org.apache.spark.sql.Row
import java.nio.file.{Files, Paths}

class ExcelSpec extends SparkSpec {
  import spark.implicits._

  test("A1Range parses every reference-normalized shape") {
    assert(A1Range.parse("A1:I500") == A1Range(None, 1, 1L, Some(9), Some(500L)))
    assert(A1Range.parse("A:I") == A1Range(None, 1, 1L, Some(9), None))
    assert(A1Range.parse("B2:D") == A1Range(None, 2, 2L, Some(4), None))
    assert(A1Range.parse("I") == A1Range(None, 9, 1L, Some(9), None))
    assert(A1Range.parse("C3") == A1Range(None, 3, 3L, Some(3), Some(3L)))
    assert(A1Range.parse("Data!AA10:AB20") == A1Range(Some("Data"), 27, 10L, Some(28), Some(20L)))
    intercept[IllegalArgumentException](A1Range.parse("1:9"))
  }

  test("parseXlsx reads shared strings, numbers, gaps, multiple sheets") {
    val bytes = XlsxWriter.build(Seq(
      "Prices" -> Seq(
        Seq("upc", "price", "qty"),
        Seq("000111222333", 12.5, 3),
        Seq("000111222444", null, 7)
      ),
      "Other" -> Seq(Seq("x"))
    ))
    val rows = ExcelSource.parseXlsx(bytes).toVector
    assert(rows.map(_.sheet).distinct == Vector("Prices", "Other"))
    val prices = rows.filter(_.sheet == "Prices")
    assert(prices.head.cells == Seq("upc", "price", "qty"))
    assert(prices(1).cells == Seq("000111222333", "12.5", "3"))
    assert(prices(2).cells == Seq("000111222444", null, "7"))
  }

  test("readXlsxGrid + toTable: header row becomes columns, range applies") {
    val dir = Files.createTempDirectory("xlsx").toString
    val bytes = XlsxWriter.build(Seq(
      "Feed" -> Seq(
        Seq("junk", "junk2"),
        Seq("upc", "price"),
        Seq("111", 9.99),
        Seq("222", 1.5)
      )
    ))
    Files.write(Paths.get(dir, "feed.xlsx"), bytes)
    val grid = ExcelSource.readXlsxGrid(spark, dir)
    val table = ExcelSource.toTable(grid, Some("Feed!A2:B4")).orderBy("row_idx").collect()
    assert(table.toSeq == Seq(Row(3L, "111", "9.99"), Row(4L, "222", "1.5")))

    // no range: first sheet whole grid, header = first row
    val all = ExcelSource.toTable(grid, None).orderBy("row_idx").collect()
    assert(all.map(_.getString(1)).toSeq == Seq("upc", "111", "222"))
  }

  test("toTable: duplicate header names collapse last-occurrence-wins (array_combine parity)") {
    val bytes = XlsxWriter.build(Seq(
      "S" -> Seq(
        Seq("id", "qty", "qty", "price"),
        Seq("a", 1, 2, 9.5),
        Seq("b", 3, 4, 1.5))))
    val grid = spark.createDataset(ExcelSource.parseXlsx(bytes).toSeq)
    val table = ExcelSource.toTable(grid, None).orderBy("row_idx")
    assert(table.columns.toSeq == Seq("row_idx", "id", "qty", "price"))
    // qty must carry cell 3 (the LAST occurrence), not cell 2
    assert(table.collect().map(r => (r.getString(1), r.getString(2))).toSeq ==
      Seq(("a", "2"), ("b", "4")))
  }

  test("toTable: data wider than the header reads through padded null-name columns") {
    // PhpSpreadsheet rectangularizes, so header gains null cells → all
    // collapse into ONE trailing column (PHP "" key, last occurrence wins)
    val bytes = XlsxWriter.build(Seq(
      "S" -> Seq(
        Seq("id"),
        Seq("a", "x1", "x2"),
        Seq("b"))))
    val grid = spark.createDataset(ExcelSource.parseXlsx(bytes).toSeq)
    val table = ExcelSource.toTable(grid, None).orderBy("row_idx")
    assert(table.columns.toSeq == Seq("row_idx", "id", "_c1"))
    assert(table.collect().map(r => (r.getString(1), r.getString(2))).toSeq ==
      Seq(("a", "x2"), ("b", null)))
  }

  test("inline-string cells parse like shared strings") {
    // hand-build a sheet using t="inlineStr" (<is><t>) instead of the sst
    val bos = new java.io.ByteArrayOutputStream()
    val zos = new java.util.zip.ZipOutputStream(bos)
    def put(name: String, content: String): Unit = {
      zos.putNextEntry(new java.util.zip.ZipEntry(name)); zos.write(content.getBytes("UTF-8")); zos.closeEntry()
    }
    put("xl/workbook.xml", """<?xml version="1.0"?><workbook><sheets><sheet name="S" sheetId="1"/></sheets></workbook>""")
    put("xl/worksheets/sheet1.xml",
      """<?xml version="1.0"?><worksheet><sheetData>
        |<row r="1"><c r="A1" t="inlineStr"><is><t>hello</t></is></c><c r="B1"><v>7</v></c></row>
        |</sheetData></worksheet>""".stripMargin)
    zos.close()
    val rows = ExcelSource.parseXlsx(bos.toByteArray).toVector
    assert(rows.head.cells == Seq("hello", "7"))
  }

  test("sheet names follow workbook.xml.rels r:id mapping, not part numbering") {
    // workbook order: First (stored as sheet9.xml), Second (stored as
    // sheet2.xml) — numeric part order would pair the names backwards
    val bytes = XlsxWriter.build(
      Seq(
        "First"  -> Seq(Seq("a"), Seq("from-first")),
        "Second" -> Seq(Seq("b"), Seq("from-second"))),
      partNumbering = Some(Seq(9, 2)))
    val rows = ExcelSource.parseXlsx(bytes).toVector
    assert(rows.filter(_.sheet == "First").map(_.cells.head) == Vector("a", "from-first"))
    assert(rows.filter(_.sheet == "Second").map(_.cells.head) == Vector("b", "from-second"))
    // workbook order preserved: First is sheet_idx 0 (the default sheet)
    assert(rows.filter(_.sheetIdx == 0).forall(_.sheet == "First"))
  }

  test("fuzz: random grids round-trip through build→parse exactly") {
    val rnd = new scala.util.Random(31)
    val alphabet = Seq("plain", "with space", "uni-кир", "a&b<c>\"d'", "", "123", "x.y")
    (1 to 20).foreach { trial =>
      val nSheets = 1 + rnd.nextInt(3)
      val sheets = (1 to nSheets).map { si =>
        val rows = (0 until 1 + rnd.nextInt(6)).map { _ =>
          (0 until 1 + rnd.nextInt(5)).map { _ =>
            rnd.nextInt(4) match {
              case 0 => null
              case 1 => alphabet(rnd.nextInt(alphabet.length))
              case 2 => java.lang.Integer.valueOf(rnd.nextInt(1000))
              case 3 => java.lang.Double.valueOf(math.round(rnd.nextDouble() * 1e4) / 100.0)
            }
          }
        }
        (s"Sheet$si", rows.map(_.toSeq))
      }
      val useRels = rnd.nextBoolean()
      val parts = if (useRels) Some(rnd.shuffle((10 until 10 + nSheets).toList).toSeq) else None
      val bytes = XlsxWriter.build(sheets, partNumbering = parts)
      val parsed = ExcelSource.parseXlsx(bytes).toVector
      sheets.zipWithIndex.foreach { case ((name, rows), si) =>
        val got = parsed.filter(_.sheet == name).sortBy(_.rowIdx)
        assert(got.size == rows.count(_.exists(_ != null)) ||
          got.size == rows.size, s"trial $trial sheet $name row count")
        rows.zipWithIndex.foreach { case (cells, ri) =>
          got.find(_.rowIdx == ri + 1).foreach { gr =>
            cells.zipWithIndex.foreach { case (c, ci) =>
              val want = c match {
                case null      => null
                case s: String => s
                case n         => n.toString
              }
              val actual = if (ci < gr.cells.length) gr.cells(ci) else null
              assert(actual == want, s"trial $trial $name r${ri + 1}c${ci + 1}: '$actual' != '$want'")
            }
          }
        }
      }
    }
  }

  test("missing sheet falls back to first sheet; single-column range") {
    val bytes = XlsxWriter.build(Seq("S1" -> Seq(Seq("a", "b"), Seq("1", "2"))))
    val grid = spark.createDataset(ExcelSource.parseXlsx(bytes).toSeq)
    val out = ExcelSource.selectRange(ExcelSource.gridDF(grid), Some("Nope!B")).orderBy("row_idx").collect()
    assert(out.map(_.getSeq[String](1)).toSeq == Seq(Seq("b"), Seq("2")))
  }
}
