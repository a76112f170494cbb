package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Google Sheets source model (reference type_id 1,
  * /root/reference/src/Service/InputHandler/GoogleSheetsInputHandler.php;
  * the Drive FOLDER type 3 lives in [[DriveFolderSource]]). The Google API
  * itself is out of scope (zero egress); what the API *returns* is public
  * knowledge — a `spreadsheets.values.get` response:
  *
  *   {"range":"Sheet1!A1:Z100","majorDimension":"ROWS","values":[[...],...]}
  *
  * This source parses dumps of those responses (one JSON document per
  * sheet/file, e.g. mirrored to object storage by a thin fetcher) into the
  * same grid model ExcelSource uses, so range/header/mapping behavior is
  * shared downstream. A Drive folder (type 3) is a directory of such dumps —
  * `spark.read` lists it and each file parses independently on executors.
  */
object SheetsSource {

  private val responseSchema = new StructType()
    .add("range", StringType)
    .add("majorDimension", StringType)
    .add("values", ArrayType(ArrayType(StringType)))

  /** Parse a column of values-API JSON documents into the shared grid shape
    * (sheet, sheet_idx, row_idx, cells).
    */
  def parseValuesJson(df: DataFrame, jsonCol: String, sheetName: String = "Sheet1"): DataFrame =
    df.select(from_json(col(jsonCol), responseSchema).as("r"))
      .select(posexplode(col("r.values")).as(Seq("row0", "cells")))
      .select(
        lit(sheetName).as("sheet"),
        lit(0).as("sheet_idx"),
        (col("row0") + 1).cast("long").as("row_idx"),
        col("cells"))

  /** Read a directory of values-API dumps (the Drive-folder shape). */
  def read(spark: SparkSession, path: String): DataFrame =
    parseValuesJson(spark.read.option("wholetext", "true").text(path), "value")

  /** Full reference behavior for type 1: values dump → grid → A1 range →
    * header-named columns (the sheet's own `range` field is the already-
    * applied server-side range; `range` here is the config's request range).
    */
  def toTable(spark: SparkSession, path: String, range: Option[String]): DataFrame =
    ExcelSource.toTableDF(read(spark, path), range)
}
