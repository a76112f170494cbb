package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Reference type_id 3 — Drive folder
  * (/root/reference/src/Service/InputHandler/GoogleDriveFolderHandler.php:29-68):
  * list the folder, take the FIRST file, sniff csv-vs-excel by extension,
  * and dispatch to the matching parser; unsupported types error. The Drive
  * transport is out of scope (zero egress) — `folder` is a mirrored local/
  * object-store directory. The reference's "first file" is Drive's
  * arbitrary listing order; we pin lexicographic order so re-runs are
  * deterministic on a cluster.
  */
object DriveFolderSource {

  /** The `getFileType` dispatch (GoogleDriveFolderHandler.php:83-99). */
  private[sources] def fileType(name: String): String = {
    val ext = name.substring(name.lastIndexOf('.') + 1).toLowerCase
    ext match {
      case "csv"          => "csv"
      case "xls" | "xlsx" => "excel"
      case _              => "unsupported"
    }
  }

  /** `folder` is any Hadoop path (a local path, a `file:` URI, `hdfs://`,
    * `s3a://`…), listed through its `FileSystem` as the other readers do. */
  def read(spark: SparkSession, folder: String, range: Option[String]): DataFrame = {
    val dir = new org.apache.hadoop.fs.Path(folder)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = (if (fs.isDirectory(dir)) fs.listStatus(dir).filter(_.isFile) else Array.empty)
      .map(_.getPath)
    require(files.nonEmpty, s"Google Drive: No files found in folder $folder")
    val first = files.minBy(_.getName)
    fileType(first.getName) match {
      case "csv"   => CsvSource.read(spark, first.toString)
      case "excel" => ExcelSource.toTable(ExcelSource.readXlsxGrid(spark, first.toString), range)
      case _ => throw new IllegalArgumentException(s"Google Drive: Unsupported file type: ${first.getName}")
    }
  }
}
