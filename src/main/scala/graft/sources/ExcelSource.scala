package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import java.io.ByteArrayInputStream
import java.util.zip.ZipInputStream
import javax.xml.parsers.SAXParserFactory
import org.xml.sax.helpers.DefaultHandler
import org.xml.sax.Attributes
import scala.collection.mutable

/** A1-notation range reference with the reference handler's normalization
  * semantics (/root/reference/src/Service/InputHandler/ExcelInputHandler.php:196-242):
  * `A:I` → `A1:I{maxRow}`, `A1:I` → bottom-open, `I` → single column,
  * `C3` → single cell, optional `Sheet!` prefix.
  */
final case class A1Range(sheet: Option[String], colStart: Int, rowStart: Long,
                         colEnd: Option[Int], rowEnd: Option[Long]) {
  def rowEndOr(maxRow: Long): Long = rowEnd.getOrElse(maxRow)
}

object A1Range {

  def colToIdx(letters: String): Int =
    letters.toUpperCase.foldLeft(0)((acc, ch) => acc * 26 + (ch - 'A' + 1))

  private val Rect      = "^([A-Za-z]+)([0-9]+):([A-Za-z]+)([0-9]+)$".r
  private val ColsOnly  = "^([A-Za-z]+):([A-Za-z]+)$".r
  private val OpenBelow = "^([A-Za-z]+)([0-9]+):([A-Za-z]+)$".r
  private val OneCol    = "^([A-Za-z]+)$".r
  private val OneCell   = "^([A-Za-z]+)([0-9]+)$".r

  /** Parse `[Sheet!]range`; throws on unsupported shapes (the reference logs
    * and passes through, which then fails in PhpSpreadsheet — we fail fast).
    */
  def parse(range: String): A1Range = {
    val trimmed = range.trim
    val (sheet, addr) = trimmed.split("!", 2) match {
      case Array(s, a) => (Some(s.trim).filter(_.nonEmpty), a.trim)
      case _           => (None, trimmed)
    }
    addr match {
      case Rect(c1, r1, c2, r2)   => A1Range(sheet, colToIdx(c1), r1.toLong, Some(colToIdx(c2)), Some(r2.toLong))
      case ColsOnly(c1, c2)       => A1Range(sheet, colToIdx(c1), 1L, Some(colToIdx(c2)), None)
      case OpenBelow(c1, r1, c2)  => A1Range(sheet, colToIdx(c1), r1.toLong, Some(colToIdx(c2)), None)
      case OneCol(c1)             => A1Range(sheet, colToIdx(c1), 1L, Some(colToIdx(c1)), None)
      case OneCell(c1, r1)        => A1Range(sheet, colToIdx(c1), r1.toLong, Some(colToIdx(c1)), Some(r1.toLong))
      case other                  => throw new IllegalArgumentException(s"Unsupported range format '$other'")
    }
  }
}

/** One worksheet row of an Excel grid: 1-based row index, cells as raw
  * strings left-padded to the max referenced column (nulls for gaps).
  */
final case class GridRow(sheet: String, sheetIdx: Int, rowIdx: Long, cells: Seq[String])

/** xlsx reader on JDK-only zip + SAX — no external Excel library exists in
  * this environment, and none is needed: an xlsx is a zip of XML parts.
  * Distribution model: `binaryFile` rows (one per workbook) flatMap to
  * [[GridRow]]s on executors, so a directory of thousands of supplier
  * workbooks parses with full cluster parallelism; per-file memory is
  * bounded by SAX streaming.
  */
object ExcelSource {

  /** Read every sheet of every .xlsx under `path` as a grid Dataset. */
  def readXlsxGrid(spark: SparkSession, path: String): Dataset[GridRow] = {
    import spark.implicits._
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.xlsx")
      .load(path)
      .select("content")
      .as[Array[Byte]]
      .flatMap(parseXlsx(_))
  }

  /** Canonical snake_case column view of a GridRow Dataset. */
  def gridDF(grid: Dataset[GridRow]): DataFrame =
    grid.toDF("sheet", "sheet_idx", "row_idx", "cells")

  /** Reference pipeline: grid → optional A1 range → first row is the header,
    * remaining rows become named columns
    * (ExcelInputHandler.php:159-186, `buildCollectionFromRows`). Reference
    * parity details: PhpSpreadsheet's toArray/rangeToArray rectangularizes,
    * so the effective header is the first row PADDED to the widest row in
    * range (missing header cells → null), and PHP's array_combine collapses
    * duplicate column names with the LAST occurrence's value at the FIRST
    * occurrence's position (null/empty names all collapse into one "" key).
    * Spark columns need non-empty names, so the "" key surfaces as `_c<i>`.
    * Header discovery and the width probe are two tiny driver actions (as
    * with Spark's own csv header inference); rows shorter than the header
    * read as nulls (array_pad parity).
    */
  def toTable(grid: Dataset[GridRow], range: Option[String]): DataFrame =
    toTableDF(gridDF(grid), range)

  /** [[toTable]] over an already-columnar grid frame (sheet, sheet_idx,
    * row_idx, cells).
    */
  def toTableDF(grid: DataFrame, range: Option[String]): DataFrame = {
    // the probe action and the caller's own action both consume the sliced
    // grid — persist so the (possibly expensive) upstream computes once
    val sliced = graft.operators.Caches.persist(selectRange(grid, range))
    // ONE probe job for header row, header position and rectangularized
    // width (min_by picks the first row; three scans would triple the
    // upstream cost)
    val probe = sliced.agg(
      min(col("row_idx")).as("hidx"),
      min_by(col("cells"), col("row_idx")).as("header"),
      max(size(col("cells"))).as("width")).first()
    require(!probe.isNullAt(0), "Excel: no rows in range")
    val headerIdx = probe.getLong(0)
    val rawHeader = probe.getSeq[String](1).toVector
    val width = probe.getInt(2)
    // header padded to the rectangularized width, names normalized (null→"")
    val named = rawHeader.padTo(math.max(width, rawHeader.size), null: String)
      .zipWithIndex.map { case (n, i) => (Option(n).getOrElse(""), i) }
    // array_combine: position of first occurrence, cell of last occurrence
    val lastIdx = named.groupMapReduce(_._1)(_._2)(math.max)
    val cols = named.filter { case (n, i) => named.indexWhere(_._1 == n) == i }
      .map { case (n, firstI) =>
        val cellI = lastIdx(n)
        element_at(col("cells"), cellI + 1).as(if (n.isEmpty) s"_c$firstI" else n)
      }
    sliced.filter(col("row_idx") > headerIdx)
      .select(col("row_idx") +: cols: _*)
  }

  /** Trim a grid to an A1 range: returns (row_idx, cells) with cells sliced
    * to the range's columns. Row/column filters are plain Catalyst
    * predicates — at scale they prune before any shuffle.
    */
  def selectRange(grid: DataFrame, range: Option[String]): DataFrame = {
    val base = grid
    range.map(A1Range.parse) match {
      case None =>
        firstSheetOnly(base, None).select(col("row_idx"), col("cells"))
      case Some(r) =>
        val onSheet = firstSheetOnly(base, r.sheet)
        val rowFiltered = r.rowEnd match {
          case Some(end) => onSheet.filter(col("row_idx").between(r.rowStart, end))
          case None      => onSheet.filter(col("row_idx") >= r.rowStart)
        }
        val width = r.colEnd.map(_ - r.colStart + 1)
        val sliceExpr = width match {
          case Some(w) => slice(col("cells"), r.colStart, w)
          case None    => slice(col("cells"), lit(r.colStart), greatest(size(col("cells")) - (r.colStart - 1), lit(1)))
        }
        rowFiltered.select(col("row_idx"), sliceExpr.as("cells"))
    }
  }

  /** Keep the requested sheet, or the first sheet when unnamed (the
    * reference uses the active sheet; falls back to active on a missing
    * name — ExcelInputHandler.php:135-141).
    */
  private def firstSheetOnly(grid: DataFrame, sheet: Option[String]): DataFrame =
    sheet match {
      case Some(name) if grid.filter(col("sheet") === name).limit(1).count() > 0 =>
        grid.filter(col("sheet") === name)
      case _ => grid.filter(col("sheet_idx") === 0)
    }

  // ---- pure-JVM xlsx parsing (runs on executors) -------------------------

  def parseXlsx(bytes: Array[Byte]): Iterator[GridRow] = {
    val parts = readZip(bytes)
    val shared = parts.get("xl/sharedStrings.xml").map(parseSharedStrings).getOrElse(Vector.empty)
    val sheets = parts.get("xl/workbook.xml").map(parseWorkbookSheets).getOrElse(Vector.empty)
    // The spec-correct pairing is workbook.xml's sheet order joined to
    // worksheet parts via r:id through xl/_rels/workbook.xml.rels — part
    // FILENAME numbering need not match workbook order (sheet reordering).
    val rels = parts.get("xl/_rels/workbook.xml.rels").map(parseRels).getOrElse(Map.empty)
    val resolved: Seq[(String, String)] = sheets.flatMap { case (name, rid) =>
      rid.flatMap(rels.get).filter(parts.contains).map(name -> _)
    }
    val ordered: Seq[(String, String)] =
      if (sheets.nonEmpty && resolved.size == sheets.size) resolved
      else {
        // no usable rels (minimal writers): fall back to numeric part order
        val sheetParts = parts.keys.filter(_.matches("xl/worksheets/sheet[0-9]+\\.xml")).toSeq
          .sortBy(p => p.replaceAll("[^0-9]", "").toInt)
        sheetParts.zipWithIndex.map { case (p, i) =>
          (sheets.map(_._1).lift(i).getOrElse(s"Sheet${i + 1}"), p)
        }
      }
    ordered.iterator.zipWithIndex.flatMap { case ((name, part), idx) =>
      parseSheet(parts(part), shared).map { case (rowIdx, cells) => GridRow(name, idx, rowIdx, cells) }
    }
  }

  private def readZip(bytes: Array[Byte]): Map[String, Array[Byte]] = {
    val zis = new ZipInputStream(new ByteArrayInputStream(bytes))
    val out = mutable.Map[String, Array[Byte]]()
    var e = zis.getNextEntry
    while (e != null) {
      if (!e.isDirectory) out(e.getName) = zis.readAllBytes()
      e = zis.getNextEntry
    }
    out.toMap
  }

  private def newParser = {
    val f = SAXParserFactory.newInstance()
    f.setFeature("http://apache.org/xml/features/disallow-doctype-decl", true)
    f.newSAXParser()
  }

  /** `<sst><si><t>…</t></si>…` — rich-text runs concatenate their `<t>`s. */
  private def parseSharedStrings(xml: Array[Byte]): Vector[String] = {
    val strings = Vector.newBuilder[String]
    val handler = new DefaultHandler {
      var inT = false
      val current = new StringBuilder
      override def startElement(uri: String, local: String, qName: String, a: Attributes): Unit =
        qName match {
          case "si" => current.clear()
          case "t"  => inT = true
          case _    =>
        }
      override def endElement(uri: String, local: String, qName: String): Unit =
        qName match {
          case "si" => strings += current.toString
          case "t"  => inT = false
          case _    =>
        }
      override def characters(ch: Array[Char], start: Int, length: Int): Unit =
        if (inT) current.appendAll(ch, start, length)
    }
    newParser.parse(new ByteArrayInputStream(xml), handler)
    strings.result()
  }

  /** `<sheets><sheet name="…" r:id="rIdN"/>…</sheets>` in workbook order. */
  private def parseWorkbookSheets(xml: Array[Byte]): Vector[(String, Option[String])] = {
    val sheets = Vector.newBuilder[(String, Option[String])]
    val handler = new DefaultHandler {
      override def startElement(uri: String, local: String, qName: String, a: Attributes): Unit =
        if (qName == "sheet")
          sheets += ((Option(a.getValue("name")).getOrElse(""),
            Option(a.getValue("r:id")).orElse(Option(a.getValue("id")))))
    }
    newParser.parse(new ByteArrayInputStream(xml), handler)
    sheets.result()
  }

  /** `xl/_rels/workbook.xml.rels`: relationship Id → zip part path.
    * Targets are relative to `xl/` unless package-absolute (leading `/`).
    */
  private def parseRels(xml: Array[Byte]): Map[String, String] = {
    val rels = Map.newBuilder[String, String]
    val handler = new DefaultHandler {
      override def startElement(uri: String, local: String, qName: String, a: Attributes): Unit =
        if (qName == "Relationship")
          (Option(a.getValue("Id")), Option(a.getValue("Target"))) match {
            case (Some(id), Some(t)) =>
              val norm =
                if (t.startsWith("/")) t.drop(1)
                else "xl/" + t.stripPrefix("./")
              rels += id -> norm
            case _ =>
          }
    }
    newParser.parse(new ByteArrayInputStream(xml), handler)
    rels.result()
  }

  /** Stream `<row r="N"><c r="A1" t="…"><v>…</v></c>…</row>`s. */
  private def parseSheet(xml: Array[Byte], shared: Vector[String]): Iterator[(Long, Seq[String])] = {
    val rows = Vector.newBuilder[(Long, Seq[String])]
    val handler = new DefaultHandler {
      var rowIdx = 0L
      var cells = mutable.ArrayBuffer[String]()
      var cellCol = 0
      var cellType = ""
      var inValue = false
      val value = new StringBuilder

      override def startElement(uri: String, local: String, qName: String, a: Attributes): Unit =
        qName match {
          case "row" =>
            rowIdx = Option(a.getValue("r")).map(_.toLong).getOrElse(rowIdx + 1)
            cells = mutable.ArrayBuffer[String]()
          case "c" =>
            cellCol = Option(a.getValue("r"))
              .map(ref => A1Range.colToIdx(ref.takeWhile(_.isLetter)))
              .getOrElse(cells.length + 1)
            cellType = Option(a.getValue("t")).getOrElse("")
            value.clear()
          case "v" | "t" => inValue = true
          case _         =>
        }
      override def endElement(uri: String, local: String, qName: String): Unit =
        qName match {
          case "v" | "t" => inValue = false
          case "c" =>
            val v = cellType match {
              case "s" => shared.lift(value.toString.trim.toInt).getOrElse("")
              case _   => value.toString
            }
            while (cells.length < cellCol) cells += null
            cells(cellCol - 1) = v
          case "row" => rows += ((rowIdx, cells.toSeq))
          case _     =>
        }
      override def characters(ch: Array[Char], start: Int, length: Int): Unit =
        if (inValue) value.appendAll(ch, start, length)
    }
    newParser.parse(new ByteArrayInputStream(xml), handler)
    rows.result().iterator
  }
}
