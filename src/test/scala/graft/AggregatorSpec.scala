package graft

import graft.config.InputConfig
import graft.operators.Aggregator
import graft.sinks.ProduceSink
import graft.sources.{CsvSource, ExcelSource, SheetsSource, XlsxWriter}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import java.nio.file.{Files, Paths}

class AggregatorSpec extends SparkSpec {

  private def resolver(dir: String) = new Aggregator.SourceResolver {
    def read(spark: SparkSession, typeId: Int, source: String, range: Option[String]): DataFrame =
      typeId match {
        case 1     => SheetsSource.toTable(spark, s"$dir/$source", range)
        case 3     => graft.sources.DriveFolderSource.read(spark, s"$dir/$source", range)
        case 2 | 7 => CsvSource.read(spark, s"$dir/$source")
        case 4 | 6 => ExcelSource.toTable(ExcelSource.readXlsxGrid(spark, s"$dir/$source"), range)
        case t     => throw new IllegalArgumentException(s"unresolved type $t")
      }
  }

  test("single-source csv config end to end: route → read → map → dedupe → produce") {
    val dir = Files.createTempDirectory("agg").toString
    Files.writeString(Paths.get(dir, "feed.csv"),
      """sku,cost,stock,seq
        |0-111-222,10.50,5,1
        |0-111-222,9 usd,7,2
        |0-333-444,3,1,3
        |""".stripMargin)

    val config = InputConfig.fromJson(
      """{"supplier_id":42,"name":"S","type_id":2,"source":"feed.csv","range":null,
        |"column_map_rules":{"upc":"sku","price":["cost","min"],"qty":["stock","max"],"seq":"seq"},
        |"version":7}""".stripMargin)

    val out = Aggregator.run(spark, config, resolver(dir), key = "upc", orderCol = Some("seq"))
      .orderBy("upc")
    val rows = out.select("upc", "price", "qty", "supplier_id", "version").collect()
    assert(rows.toSeq == Seq(
      Row("0111222", 9.0, 7L, 42L, 7L),
      Row("0333444", 3.0, 1L, 42L, 7L)))

    val sink = Files.createTempDirectory("sink").toString + "/out"
    ProduceSink.writeJsonl(out, "upc", sink)
    val produced = spark.read.json(sink)
    assert(produced.count() == 2 && produced.columns.contains("upc"))

    // wire compatibility: the produced JSONL parses back through the typed
    // JSONL SOURCE losslessly — the produce side and the ingest side agree
    // on the format without schema inference
    val roundTrip = graft.sources.JsonlSource.read(spark, sink,
        org.apache.spark.sql.types.StructType.fromDDL(
          "upc string, price double, qty bigint, supplier_id bigint, version bigint"))
      .orderBy("upc")
      .select("upc", "price", "qty", "supplier_id", "version").collect()
    assert(roundTrip.toSeq == rows.toSeq)
  }

  test("config consumer: streams config messages, one aggregation each, bad message skipped") {
    val dir = Files.createTempDirectory("cc").toString
    Files.writeString(Paths.get(dir, "feed.csv"),
      "sku,cost,stock,seq\nA-1,5,2,1\nB-2,8,3,2\n")
    val cfgDir = Files.createTempDirectory("cfgs").toString
    Files.writeString(Paths.get(cfgDir, "msgs.jsonl"),
      """{"supplier_id":1,"type_id":2,"source":"feed.csv","column_map_rules":{"upc":"sku","price":"cost","seq":"seq"},"version":1}
        |not a json config
        |{"supplier_id":2,"type_id":2,"source":"feed.csv","column_map_rules":{"upc":"sku","qty":"stock","seq":"seq"},"version":3}
        |""".stripMargin)

    val results = scala.collection.mutable.Map[Long, Long]()
    val errors = scala.collection.mutable.ArrayBuffer[String]()
    val q = graft.streaming.ConfigConsumer.start(
      spark, cfgDir,
      Files.createTempDirectory("ckpt").toString,
      resolver(dir),
      sink = (cfg, feed) => results.synchronized { results(cfg.supplierId) = feed.count() },
      onError = (msg, _) => errors.synchronized { errors += msg },
      orderCol = Some("seq"))
    try {
      q.processAllAvailable()
      assert(results.toMap == Map(1L -> 2L, 2L -> 2L))
      assert(errors.size == 1 && errors.head.startsWith("not a json"))
    } finally q.stop()
  }

  test("multi-source config: xlsx base keyed + sheets dump grafting fields") {
    val dir = Files.createTempDirectory("agg2").toString
    // base: xlsx with upc+price
    Files.write(Paths.get(dir, "base.xlsx"), XlsxWriter.build(Seq(
      "Feed" -> Seq(Seq("upc", "price"), Seq("111", 5.0), Seq("222", 8.0)))))
    // enrich: sheets values dump with upc+stock
    Files.writeString(Paths.get(dir, "sheet1"),
      """{"range":"Sheet1!A1:B3","majorDimension":"ROWS",
        |"values":[["upc","stock"],["111","4"],["999","9"]]}""".stripMargin.replace("\n", ""))

    val config = InputConfig.fromJson(
      """{"supplier_id":9,"type_id":null,"source":[
        |{"type_id":6,"filename":"base.xlsx","key":"upc","fields":[]},
        |{"type_id":1,"filename":"sheet1","key":"upc","fields":["stock"]}],
        |"column_map_rules":{"upc":"upc","price":"price","qty":"stock"},
        |"version":1}""".stripMargin)

    val out = Aggregator.run(spark, config, resolver(dir), key = "upc")
      .orderBy("upc").collect()
    // 111 gets stock grafted (qty 4); 222 keeps null→0 qty; 999 dropped (not in base)
    assert(out.map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSeq ==
      Seq(("111", 5.0, 4L), ("222", 8.0, 0L)))
  }

  test("metrics ride the sink action: rows/keyed counts per consumed message") {
    val dir = Files.createTempDirectory("met").toString
    Files.writeString(Paths.get(dir, "feed.csv"), "sku,cost\nA-1,5\nB-2,8\n,3\n")
    val cfgDir = Files.createTempDirectory("metcfg").toString
    Files.writeString(Paths.get(cfgDir, "m.jsonl"),
      """{"supplier_id":3,"type_id":2,"source":"feed.csv","column_map_rules":{"upc":"sku","price":"cost"},"version":1}""" + "\n")
    val stats = scala.collection.mutable.ArrayBuffer[graft.operators.Metrics.RunStats]()
    val q = graft.streaming.ConfigConsumer.start(
      spark, cfgDir, Files.createTempDirectory("metckpt").toString,
      resolver(dir),
      sink = (_, feed) => feed.count(): Unit,
      onStats = (_, st) => stats.synchronized { stats += st })
    try {
      q.processAllAvailable()
      assert(stats.size == 1)
      // 3 csv rows, but the empty-key row is dropped by the keyed dedupe → 2
      assert(stats.head.rows == 2 && stats.head.nonNullKeys == 2, stats.head)
      assert(stats.head.render("x").startsWith("SUCCESS: x | Rows: 2"))
    } finally q.stop()
  }

  test("no orderCol: last-write-wins follows file row order via stamped ingest sequence") {
    val dir = Files.createTempDirectory("agg3").toString
    // 20 rows for the same key, value = row position; the reference keeps
    // the LAST row of the file (arrival order), so must we — deterministically.
    val rows = (1 to 20).map(i => s"K-1,$i.0,$i").mkString("\n")
    Files.writeString(Paths.get(dir, "feed.csv"), s"sku,cost,stock\n$rows\n")
    val config = InputConfig.fromJson(
      """{"supplier_id":1,"type_id":2,"source":"feed.csv",
        |"column_map_rules":{"upc":"sku","price":"cost","qty":"stock"},
        |"version":1}""".stripMargin)
    (1 to 3).foreach { _ =>
      val out = Aggregator.run(spark, config, resolver(dir), key = "upc").collect()
      assert(out.length == 1)
      val r = out.head
      assert(r.getAs[Double]("price") == 20.0 && r.getAs[Long]("qty") == 20L,
        s"expected the file's last row to win, got $r")
      assert(!out.head.schema.fieldNames.contains(Aggregator.IngestSeqCol))
    }
  }
}
