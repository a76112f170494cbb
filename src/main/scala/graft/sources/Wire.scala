package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Wire-format parsers for the reference's source types, all as Catalyst
  * expressions over content columns — parsing is distributed with the data,
  * never a driver-side loop. The network hop itself (HTTP/SFTP/Google API)
  * is out of scope in a zero-egress container (SURVEY.md §5); files land
  * locally and these readers take over exactly where the reference's
  * transports hand content to its input handlers.
  */
object CsvSource {

  /** File-level CSV ingest with the reference handler's semantics
    * (/root/reference/src/Service/InputHandler/CsvInputHandler.php:66-96):
    * first row is the header, rows whose token count differs from the
    * header's are skipped. DROPMALFORMED alone does NOT enforce arity with
    * an inferred all-string schema (short rows pad with nulls silently), so
    * the schema is pinned explicitly and arity violations surface through
    * the corrupt-record column, which the reader then filters.
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    // the CSV parser only detects arity violations when it parses the full
    // row — with parser-side column pruning it silently pads/truncates, so
    // pruned queries would keep rows the reference skips. The conf is part
    // of GraftSession.tune; readers must NOT mutate the caller's session
    // (a library entry point silently reconfiguring every later CSV read
    // is a worse failure mode than this error).
    require(
      spark.conf.get("spark.sql.csv.parser.columnPruning.enabled", "true") == "false",
      "CsvSource.read requires spark.sql.csv.parser.columnPruning.enabled=false " +
        "(set by GraftSession.tune) so ragged-row detection survives column pruning")
    val header = headerOf(spark, path)
    require(header.nonEmpty, s"CsvSource.read: no header row found in $path")
    val schema = StructType(
      header.map(org.apache.spark.sql.types.StructField(_, org.apache.spark.sql.types.StringType)) :+
        org.apache.spark.sql.types.StructField("_graft_corrupt", org.apache.spark.sql.types.StringType))
    spark.read
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_graft_corrupt")
      .schema(schema)
      .csv(path)
      // the second conjunct references a data column without constraining
      // anything: Spark refuses scans whose only required column is the
      // corrupt-record column, and the optimizer cannot fold this away.
      // Backtick-quoted: a header like "price.usd" must stay one flat
      // column reference, not a nested-field path.
      .filter(col("_graft_corrupt").isNull &&
        coalesce(length(col(s"`${header.head}`")) >= -1, lit(true)))
      .drop("_graft_corrupt")
  }

  /** The column names `spark.read.option("header", "true").csv(path)` would
    * give, without running a Spark job: the first non-empty line of the
    * first data file (name order) that has one is read through the Hadoop
    * `FileSystem`, and Spark's own CSV header rules (quoting, `_c<i>` for
    * empty names, de-duplication under `spark.sql.caseSensitive`) are
    * applied to it as a one-row local Dataset, which plans to a local scan.
    */
  private def headerOf(spark: SparkSession, path: String): Array[String] =
    firstLine(spark, path).fold(Array.empty[String]) { line =>
      spark.read.option("header", "true")
        .csv(spark.createDataset(Seq(line))(org.apache.spark.sql.Encoders.STRING)).columns
    }

  private def firstLine(spark: SparkSession, path: String): Option[String] = {
    import org.apache.hadoop.fs.{FileStatus, Path}
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    // Spark's file index skips hidden and bookkeeping files (_SUCCESS, .crc)
    def data(s: FileStatus) = s.isFile && !s.getPath.getName.startsWith("_") &&
      !s.getPath.getName.startsWith(".")
    val matched = Option(fs.globStatus(p)).getOrElse(Array.empty[FileStatus])
    if (matched.isEmpty) throw new java.io.FileNotFoundException(s"Path does not exist: $path")
    val files = matched.sortBy(_.getPath.getName)
      .flatMap(s => if (s.isDirectory) fs.listStatus(s.getPath).sortBy(_.getPath.getName) else Array(s))
      .filter(data)
    val codecs = new org.apache.hadoop.io.compress.CompressionCodecFactory(conf)
    files.iterator.map { f =>
      val raw = fs.open(f.getPath)
      val in = Option(codecs.getCodec(f.getPath)).fold[java.io.InputStream](raw)(_.createInputStream(raw))
      val r = new java.io.BufferedReader(new java.io.InputStreamReader(in, java.nio.charset.StandardCharsets.UTF_8))
      try Iterator.continually(r.readLine()).takeWhile(_ != null).find(_.trim.nonEmpty)
        // Hadoop's line reader drops a UTF-8 byte-order mark at offset 0
        .map(_.stripPrefix("\uFEFF"))
      finally r.close()
    }.collectFirst { case Some(l) => l }
  }

  /** Line-level parse for already-loaded content (streaming bodies, tests). */
  def parseLines(df: DataFrame, lineCol: Column, schema: StructType): DataFrame =
    df.withColumn("__row", from_csv(lineCol, schema, Map.empty[String, String]))
      .select(col("*"), col("__row.*"))
      .drop("__row")
}

/** Morris Costumes XML feed parser
  * (/root/reference/src/Service/InputHandler/MorrisXmlSftpInputHandler.php:22-42):
  * documents shaped `<root><available><gtin/><qty/><detail><price/></detail></available>...</root>`
  * → one row per `<available>` with PHP-cast semantics (missing → 0 / "").
  *
  * xpath() returns the per-document arrays; arrays_zip+explode fans them out
  * without leaving Catalyst, so a 100 TB pile of XML documents parses with
  * ordinary executor parallelism.
  */
object MorrisXmlSource {

  /** One streaming parse per document via the native `graft_morris_parse`
    * expression (the earlier xpath formulation re-parsed each document once
    * per field — 3× the work; kept in git history for reference).
    */
  def parse(df: DataFrame, xmlCol: String, keepCols: Seq[String] = Nil): DataFrame =
    df.select(keepCols.map(col) :+ explode(graft.plans.NativeHash.morrisParse(col(xmlCol))).as("__r"): _*)
      .select(keepCols.map(col) ++ Seq(col("__r.gtin"), col("__r.qty"), col("__r.price")): _*)
}

/** JSONL (one JSON object per line) — the training-corpus interchange
  * format (WebDataset/HuggingFace-style shards) and the row shape the
  * reference's produce side already emits
  * (/root/reference/src/Service/KafkaProducer.php — one JSON document per
  * message). Parsing is `from_json` per line: fully distributed, codegen'd,
  * schema-pinned; malformed lines surface as all-null structs the caller
  * filters (PERMISSIVE semantics, same posture as [[CsvSource.read]]'s
  * corrupt-record handling).
  */
object JsonlSource {

  /** Parse a column of JSONL lines into `schema`'s columns; rows whose line
    * fails to parse are DROPPED (every parsed field null — indistinguishable
    * from an all-null record, which JSONL corpora do not carry).
    */
  def parseLines(df: DataFrame, lineCol: Column, schema: StructType): DataFrame = {
    val parsed = df.withColumn("__rec", from_json(lineCol, schema))
    parsed
      .filter(schema.fieldNames.map(f => col(s"__rec.`$f`").isNotNull)
        .reduceOption(_ || _).getOrElse(lit(true)))
      .select(col("__rec.*"))
  }

  /** File-level ingest of a directory of .jsonl files (the 100 TB path —
    * one task per file split; text source lines never hit the driver).
    */
  def read(spark: SparkSession, path: String, schema: StructType): DataFrame =
    parseLines(spark.read.text(path), col("value"), schema)
}

/** REST API page parser
  * (/root/reference/src/Service/InputHandler/RestApiInputHandler.php:24-67):
  * responses shaped `{"data":[...], "meta":{"last_page":N}, "links":{...}}`;
  * rows live under `data`. Pagination at scale = one file/object per page,
  * listed by the storage layer — each page parses independently.
  */
object RestJsonSource {

  /** Parse a column of page documents; `rowSchema` types the `data` rows. */
  def parsePages(df: DataFrame, pageCol: Column, rowSchema: StructType): DataFrame = {
    val pageSchema = new StructType().add("data", org.apache.spark.sql.types.ArrayType(rowSchema))
    df.select(explode(from_json(pageCol, pageSchema).getField("data")).as("__r"))
      .select(col("__r.*"))
  }

  /** File-level ingest of a directory of page files (the 100 TB path). */
  def read(spark: SparkSession, path: String, rowSchema: StructType): DataFrame =
    parsePages(spark.read.text(path), col("value"), rowSchema)
}
