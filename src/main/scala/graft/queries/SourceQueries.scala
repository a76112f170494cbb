package graft.queries

import graft.GraftSession.table
import graft.functions.Cleaners
import graft.operators.{Caches, MultiSourceMerge, SubSourceFeed}
import graft.sources.{CsvSource, MorrisXmlSource, RestJsonSource}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-trip source-parser queries (SURVEY.md §6): serialize parquet rows
  * into the wire format inside the query, parse back with graft's parser,
  * and let the DuckDB oracle compute the equivalent plain projection — the
  * parser itself sits under the hash-match gate.
  */
object SourceQueries {

  // ---- CSV: to_csv → from_csv round trip --------------------------------
  def qCsvRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val lines = table(s, dir, "lineitem")
      .select(to_csv(struct(
        col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"), col("l_returnflag")
      )).as("line"))
    val schema = new StructType()
      .add("l_orderkey", LongType).add("l_linenumber", IntegerType)
      .add("l_extendedprice", DoubleType).add("l_returnflag", StringType)
    CsvSource.parseLines(lines, col("line"), schema)
      .drop("line")
      .orderBy("l_orderkey", "l_linenumber")
  }

  val qCsvRoundtripSql: String =
    """SELECT l_orderkey, l_linenumber, l_extendedprice, l_returnflag
      |FROM lineitem
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  // ---- JSONL: to_json → from_json round trip ----------------------------
  /** The training-corpus interchange format under the gate: every document
    * row serializes to one JSON line (string escaping included) and parses
    * back through [[graft.sources.JsonlSource]]; the oracle computes the
    * plain projection, so the serializer+parser pair must be lossless.
    */
  def qJsonlRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val lines = table(s, dir, "documents")
      .select(to_json(struct(
        col("doc_id"), col("lang"), col("source"), col("n_chars"), col("text")
      )).as("line"))
    val schema = new StructType()
      .add("doc_id", LongType).add("lang", StringType)
      .add("source", StringType).add("n_chars", LongType).add("text", StringType)
    graft.sources.JsonlSource.parseLines(lines, col("line"), schema)
      .orderBy("doc_id")
  }

  val qJsonlRoundtripSql: String =
    """SELECT doc_id, lang, source, n_chars, text
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  // ---- ORC: columnar-binary roundtrip through real files ----------------
  /** ORC write → read roundtrip through REAL files (Spark's built-in
    * columnar binary source — the interchange format next to parquet in
    * every warehouse): the part table written as ORC under
    * target/bench_fixtures, read back, and hash-gated against the plain
    * parquet projection. Types survive losslessly (int64/int32/string/
    * double); the write is re-done per run (overwrite) so the gate never
    * reads a stale fixture.
    */
  def qOrcRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val out = s"target/bench_fixtures/orc_roundtrip_${new java.io.File(dir).getName}"
    table(s, dir, "part").write.mode("overwrite").orc(out)
    s.read.orc(out)
      .select("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice")
      .orderBy("p_partkey")
  }

  val qOrcRoundtripSql: String =
    """SELECT p_partkey, p_name, p_brand, p_type, p_size, p_retailprice
      |FROM part
      |ORDER BY p_partkey""".stripMargin

  // ---- Morris XML: build docs per order, parse back ---------------------
  def qMorrisXml(s: SparkSession, dir: String): DataFrame = {
    val fragment = concat(
      lit("<available><gtin>"), col("l_partkey").cast("string"),
      lit("</gtin><qty>"), floor(col("l_quantity")).cast("long").cast("string"),
      lit("</qty><detail><price>"), col("l_extendedprice").cast("decimal(12,2)").cast("string"),
      lit("</price></detail></available>")
    )
    val docs = table(s, dir, "lineitem")
      .select(col("l_orderkey").as("doc_id"), fragment.as("frag"))
      .groupBy("doc_id")
      .agg(concat(lit("<root>"), array_join(sort_array(collect_list(col("frag"))), ""), lit("</root>")).as("xml"))
    MorrisXmlSource.parse(docs, "xml", keepCols = Seq("doc_id"))
      .orderBy("doc_id", "gtin", "qty", "price")
  }

  val qMorrisXmlSql: String =
    """SELECT l_orderkey AS doc_id, CAST(l_partkey AS VARCHAR) AS gtin,
      |  CAST(floor(l_quantity) AS BIGINT) AS qty,
      |  CAST(CAST(l_extendedprice AS DECIMAL(12,2)) AS DOUBLE) AS price
      |FROM lineitem
      |ORDER BY doc_id, gtin, qty, price""".stripMargin

  // ---- REST JSON pages: build paginated responses, parse back -----------
  def qRestJson(s: SparkSession, dir: String): DataFrame = {
    val pages = table(s, dir, "orders")
      .withColumn("page", col("o_orderkey") % 50)
      .groupBy("page")
      .agg(to_json(struct(
        collect_list(struct(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))).as("data"),
        struct(lit(50).as("last_page")).as("meta")
      )).as("body"))
    val rowSchema = new StructType()
      .add("o_orderkey", LongType).add("o_custkey", LongType)
      .add("o_orderstatus", StringType).add("o_totalprice", DoubleType)
    RestJsonSource.parsePages(pages, col("body"), rowSchema)
      .orderBy("o_orderkey")
  }

  val qRestJsonSql: String =
    """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
      |FROM orders
      |ORDER BY o_orderkey""".stripMargin

  // ---- Multi-source merge ----------------------------------------------
  /** Base feed (lineitem-as-supplier-file) enriched by two part-derived
    * sub-sources keyed on upc — the reference's multi-source mode end to end.
    */
  def qMultisourceMerge(s: SparkSession, dir: String): DataFrame = {
    val base = table(s, dir, "lineitem").select(
      Cleaners.cleanUpc(col("l_partkey")).as("upc"),
      Cleaners.cleanFloat(col("l_extendedprice")).as("price"),
      Cleaners.cleanInteger(col("l_quantity")).as("qty"),
      (col("l_orderkey") * 10 + col("l_linenumber")).as("line_seq")
    )
    val partFeed = table(s, dir, "part").select(
      Cleaners.cleanUpc(col("p_partkey")).as("upc"),
      col("p_brand").as("brand"),
      col("p_retailprice").as("retail_price"),
      col("p_size").as("pack_size"),
      col("p_partkey").as("seq")
    )
    MultiSourceMerge.merge(
      base, "upc", "line_seq",
      Seq(
        SubSourceFeed(broadcast(partFeed), "upc", Seq("brand", "retail_price"), "seq"),
        SubSourceFeed(broadcast(partFeed), "upc", Seq("pack_size"), "seq")
      )
    ).orderBy("upc")
  }

  val qMultisourceMergeSql: String =
    """WITH feed AS (
      |  SELECT substr(regexp_replace(CAST(l_partkey AS VARCHAR), '[^a-zA-Zа-яА-Я0-9.]', '', 'g'), 1, 13) AS upc,
      |    COALESCE(TRY_CAST(regexp_extract(regexp_replace(regexp_replace(replace(CAST(l_extendedprice AS VARCHAR), ',', '.'), '[^a-zA-Zа-яА-Я0-9.]', '', 'g'), '[^0-9.]', '', 'g'), '^([0-9]*\.?[0-9]*)', 1) AS DOUBLE), 0.0) AS price,
      |    COALESCE(TRY_CAST(regexp_replace(CAST(l_quantity AS VARCHAR), '[^0-9]', '', 'g') AS BIGINT), 0) AS qty,
      |    l_orderkey*10 + l_linenumber AS line_seq
      |  FROM lineitem),
      |base AS (
      |  SELECT upc, arg_max(price, line_seq) AS price, arg_max(qty, line_seq) AS qty
      |  FROM feed WHERE upc IS NOT NULL AND upc <> '' GROUP BY upc),
      |p AS (
      |  SELECT substr(regexp_replace(CAST(p_partkey AS VARCHAR), '[^a-zA-Zа-яА-Я0-9.]', '', 'g'), 1, 13) AS part_upc,
      |    arg_max(p_brand, p_partkey) AS brand,
      |    arg_max(p_retailprice, p_partkey) AS retail_price,
      |    arg_max(p_size, p_partkey) AS pack_size
      |  FROM part GROUP BY part_upc)
      |SELECT b.upc, b.price, b.qty, p.brand, p.retail_price, p.pack_size
      |FROM base b LEFT JOIN p ON b.upc = p.part_upc
      |ORDER BY b.upc""".stripMargin

  // ---- Excel grid + A1 range -------------------------------------------
  /** Lineitem rows laid out as a worksheet grid, then trimmed by an A1 range
    * (`B2:D`) with the reference's normalization semantics. Grid coordinates
    * are fabricated with [[graft.operators.Scale.globalRowNumber]] — the
    * distributed (range-partition + offset) global index, not a
    * single-partition window; real xlsx ingest (ExcelSource.readXlsxGrid)
    * carries row indexes from the file and needs no index at all.
    */
  def qExcelRange(s: SparkSession, dir: String): DataFrame = {
    // prune BEFORE the global index: globalRowNumber persists its input,
    // so pruning after it would still scan and cache all 16 columns
    val grid = graft.operators.Scale
      .globalRowNumber(table(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"),
        Seq("l_orderkey", "l_linenumber"))
      .select(lit("Sheet1").as("sheet"), lit(0).as("sheet_idx"), col("row_idx"),
        array(col("l_orderkey").cast("string"), col("l_linenumber").cast("string"),
          col("l_quantity").cast("string"),
          col("l_extendedprice").cast("decimal(12,2)").cast("string")).as("cells"))
    graft.sources.ExcelSource.selectRange(grid, Some("B2:D"))
      .select(col("row_idx"),
        element_at(col("cells"), 1).as("b"),
        element_at(col("cells"), 2).as("c"),
        element_at(col("cells"), 3).as("d"))
      .orderBy("row_idx")
  }

  val qExcelRangeSql: String =
    """WITH g AS (
      |  SELECT row_number() OVER (ORDER BY l_orderkey, l_linenumber) AS row_idx,
      |    CAST(l_linenumber AS VARCHAR) AS b,
      |    CAST(l_quantity AS VARCHAR) AS c,
      |    CAST(CAST(l_extendedprice AS DECIMAL(12,2)) AS VARCHAR) AS d
      |  FROM lineitem)
      |SELECT row_idx, b, c, d FROM g WHERE row_idx >= 2 ORDER BY row_idx""".stripMargin

  /** The reference's full Excel table pipeline (grid → header row → named
    * columns, ExcelInputHandler.php:159-186) under the oracle, including
    * the array_combine duplicate-header rule: the header names cells 2 AND
    * 3 "qty", so the surviving qty column must carry cell 3's value (last
    * occurrence wins) at position 2 (first occurrence).
    */
  def qExcelTable(s: SparkSession, dir: String): DataFrame = {
    val data = graft.operators.Scale
      .globalRowNumber(table(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"),
        Seq("l_orderkey", "l_linenumber"))
      .select(lit("Sheet1").as("sheet"), lit(0).as("sheet_idx"), (col("row_idx") + 1).as("row_idx"),
        array(col("l_orderkey").cast("string"), col("l_linenumber").cast("string"),
          col("l_quantity").cast("string"),
          col("l_extendedprice").cast("decimal(12,2)").cast("string")).as("cells"))
    val header = s.range(1)
      .select(lit("Sheet1").as("sheet"), lit(0).as("sheet_idx"), lit(1L).as("row_idx"),
        array(lit("ok"), lit("qty"), lit("qty"), lit("price")).as("cells"))
    graft.sources.ExcelSource.toTableDF(header.unionByName(data), None)
      .orderBy("row_idx")
  }

  val qExcelTableSql: String =
    """WITH g AS (
      |  SELECT row_number() OVER (ORDER BY l_orderkey, l_linenumber) + 1 AS row_idx,
      |    CAST(l_orderkey AS VARCHAR) AS ok,
      |    CAST(l_quantity AS VARCHAR) AS qty,
      |    CAST(CAST(l_extendedprice AS DECIMAL(12,2)) AS VARCHAR) AS price
      |  FROM lineitem)
      |SELECT row_idx, ok, qty, price FROM g ORDER BY row_idx""".stripMargin

  // ---- Config routing ---------------------------------------------------
  /** Configs built as JSON strings from supplier rows, parsed with from_json
    * and routed type_id → handler, mirroring Aggregator::getHandlerByType.
    */
  def qConfigRoute(s: SparkSession, dir: String): DataFrame = {
    val cfgJson = table(s, dir, "supplier").select(
      to_json(struct(
        col("s_suppkey").as("supplier_id"),
        col("s_name").as("name"),
        (col("s_suppkey") % 8 + 1).cast("int").as("type_id"),
        concat(lit("feed_"), col("s_suppkey")).as("source"),
        lit(1).as("version")
      )).as("msg"))
    val schema = new StructType()
      .add("supplier_id", LongType).add("name", StringType)
      .add("type_id", IntegerType).add("source", StringType).add("version", IntegerType)
    val handlerExpr = graft.config.SourceRouter.handlers.toSeq.sortBy(_._1)
      .foldLeft(lit(null).cast("string")) { case (acc, (id, h)) =>
        when(col("type_id") === id, h).otherwise(acc)
      }
    cfgJson.select(from_json(col("msg"), schema).as("c"))
      .select(col("c.*"))
      .withColumn("handler", handlerExpr)
      .orderBy("supplier_id")
  }

  val qConfigRouteSql: String =
    """SELECT s_suppkey AS supplier_id, s_name AS name,
      |  CAST(s_suppkey % 8 + 1 AS INT) AS type_id,
      |  'feed_' || s_suppkey AS source,
      |  CAST(1 AS INT) AS version,
      |  CASE CAST(s_suppkey % 8 + 1 AS INT)
      |    WHEN 1 THEN 'google_sheets' WHEN 2 THEN 'csv_http'
      |    WHEN 3 THEN 'google_drive_folder' WHEN 4 THEN 'excel_http'
      |    WHEN 5 THEN 'morris_xml_sftp' WHEN 6 THEN 'excel_sftp'
      |    WHEN 7 THEN 'csv_sftp' WHEN 8 THEN 'rest_api' END AS handler
      |FROM supplier
      |ORDER BY supplier_id""".stripMargin

  // ---- Media headers: write fixtures → binaryFile ingest → probe --------
  /** REAL container-header parsing under the hash gate: a sparse doc-id
    * sample becomes minimal PNG/JPEG/GIF/BMP/WAV files
    * ([[graft.multimodal.MediaFixtures]] — dims derived arithmetically from
    * the id), ingested through the production `binaryFile` path and probed
    * by [[graft.multimodal.MediaHeaders]]; the oracle recomputes the
    * arithmetic from the documents table, so any endianness/offset error in
    * EITHER the writer or the parser breaks the match. The id collect is
    * fixture control plane (a bounded 1/7 sample), not a data-plane loop.
    */
  def qMediaProbe(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.{MediaFixtures, MediaHeaders}
    val ids = table(s, dir, "documents")
      .filter(col("doc_id") % 7 === 0)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val fxDir = MediaFixtures.ensureDir(ids, dir)
    import s.implicits._
    s.read.format("binaryFile")
      .option("pathGlobFilter", "m*.*") // skip the _COMPLETE pin marker
      .load(fxDir)
      .select(col("path"), col("content")).as[(String, Array[Byte])]
      .map { case (path, bytes) =>
        val name = path.substring(path.lastIndexOf('/') + 1)
        val id = name.substring(1, name.lastIndexOf('.')).toLong
        val (w, h, d) = MediaHeaders.probe(bytes)
        (id, w.toLong, h.toLong, d)
      }
      .toDF("media_id", "width", "height", "duration_ms")
      .orderBy("media_id")
  }

  val qMediaProbeSql: String =
    """SELECT doc_id AS media_id,
      |  CASE WHEN doc_id % 5 = 4 THEN 0 ELSE doc_id % 1897 + 16 END AS width,
      |  CASE WHEN doc_id % 5 = 4 THEN 0 ELSE doc_id % 1013 + 16 END AS height,
      |  CASE WHEN doc_id % 5 = 4
      |       THEN ((doc_id % 977 + 1) * 4410 * 1000) // 176400
      |       ELSE 0 END AS duration_ms
      |FROM documents
      |WHERE doc_id % 7 = 0
      |ORDER BY doc_id""".stripMargin

  // ---- data-profiling report ---------------------------------------------
  /** Per-column profile of the orders feed — see
    * [[graft.operators.Profile.profile]] for the exact-domain
    * normalization (ints as-is, doubles micro-units, timestamps
    * epoch-micros, strings binary collation) and the one-pass Expand
    * shape. The oracle replays every normalization and aggregate.
    */
  def qProfile(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.profile(table(s, dir, "orders")).orderBy("col_name")

  /** k-anonymity risk audit over the customer feed's quasi-identifiers
    * (nation × market segment × account-balance bucket): for k ∈ {2, 5,
    * 10}, how many equivalence classes fall below k members and how many
    * customers sit in them — the re-identification exposure report a
    * privacy review runs BEFORE a dataset leaves the boundary. One
    * group-by builds the class-size frame (persisted — three k-thresholds
    * read it); everything after is class-grain, never row-grain.
    */
  def qKanon(s: SparkSession, dir: String): DataFrame = {
    val g = Caches.persist(table(s, dir, "customer")
      .groupBy(col("c_nationkey"), col("c_mktsegment"),
        floor(col("c_acctbal") / 1000.0).cast("long").as("bal_bucket"))
      .agg(count(lit(1)).as("n")))
    Seq(2, 5, 10).map { k =>
      g.agg(
        lit(k).as("k"),
        coalesce(sum(when(col("n") < k, 1L)), lit(0L)).as("classes_at_risk"),
        coalesce(sum(when(col("n") < k, col("n"))), lit(0L)).as("rows_at_risk"))
    }.reduce(_.unionByName(_)).orderBy("k")
  }

  val qKanonSql: String = {
    def level(k: Int) =
      s"""SELECT $k AS k,
         |  CAST(coalesce(sum(CASE WHEN n < $k THEN 1 END), 0) AS BIGINT) AS classes_at_risk,
         |  CAST(coalesce(sum(CASE WHEN n < $k THEN n END), 0) AS BIGINT) AS rows_at_risk
         |FROM g""".stripMargin
    s"""WITH g AS (
       |  SELECT c_nationkey, c_mktsegment,
       |    CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_bucket,
       |    CAST(count(*) AS BIGINT) AS n
       |  FROM customer GROUP BY 1, 2, 3)
       |SELECT * FROM (
       |  ${level(2)}
       |  UNION ALL ${level(5)}
       |  UNION ALL ${level(10)})
       |ORDER BY k""".stripMargin
  }

  /** Right-to-be-forgotten delete-propagation audit: for a deterministic
    * 1% hash sample of data subjects (the erasure request batch a
    * privacy pipeline processes), how many rows does the delete touch in
    * EVERY table that carries the subject — customers directly, orders
    * by customer key, lineitems by CASCADE through their order, events
    * by user id. The per-table (rows, deleted, ppm) report is what a
    * governance review signs off before the physical delete runs — and
    * the cascade count is the expensive one a naive audit gets wrong by
    * counting only direct key hits.
    *
    * Scale shape: four independent scans, each a filter + 1-row count;
    * the lineitem cascade is a semi join against the FILTERED (1%)
    * orders side — broadcast-sized at any corpus scale; 1-row frames
    * cross-join into the 4-row report (control plane).
    */
  def qDeletePropagation(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Sampling
    // native graft_md5_mod (r13): value-identical to pmod(md5Lower(·), 100)
    // — the hit predicate scans every row of all four tables
    def hit(c: Column): Column =
      graft.plans.NativeHash.md5Mod(concat(lit("del:"), c.cast("string")), 100L) === 0
    def report(name: String, all: DataFrame, affected: DataFrame): DataFrame =
      all.agg(count(lit(1)).as("n_rows"))
        .crossJoin(affected.agg(count(lit(1)).as("n_deleted")))
        .select(lit(name).as("table_name"), col("n_rows"), col("n_deleted"),
          expr("n_deleted * 1000000 div n_rows").as("del_ppm"))
    val cust = table(s, dir, "customer").select(col("c_custkey"))
    val ord = table(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
    val li = table(s, dir, "lineitem").select(col("l_orderkey"))
    val ev = table(s, dir, "events").select(col("user_id"))
    val ordHit = ord.filter(hit(col("o_custkey")))
    Seq(
      report("customer", cust, cust.filter(hit(col("c_custkey")))),
      report("orders", ord, ordHit),
      report("lineitem", li,
        li.join(ordHit, li("l_orderkey") === ordHit("o_orderkey"), "left_semi")),
      report("events", ev, ev.filter(hit(col("user_id"))))
    ).reduce(_.unionByName(_)).orderBy("table_name")
  }

  val qDeletePropagationSql: String = {
    def rep(name: String, allFrom: String, affFrom: String) =
      s"""SELECT '$name' AS table_name,
         |  (SELECT CAST(count(*) AS BIGINT) FROM $allFrom) AS n_rows,
         |  (SELECT CAST(count(*) AS BIGINT) FROM $affFrom) AS n_deleted""".stripMargin
    s"""WITH oh AS (
       |  SELECT o_orderkey FROM orders
       |  WHERE md5_number_lower('del:' || o_custkey) % 100 = 0),
       |base AS (
       |  ${rep("customer", "customer",
                "customer WHERE md5_number_lower('del:' || c_custkey) % 100 = 0")}
       |  UNION ALL ${rep("orders", "orders", "oh")}
       |  UNION ALL ${rep("lineitem", "lineitem",
                "lineitem WHERE l_orderkey IN (SELECT o_orderkey FROM oh)")}
       |  UNION ALL ${rep("events", "events",
                "events WHERE md5_number_lower('del:' || user_id) % 100 = 0")})
       |SELECT table_name, n_rows, n_deleted, n_deleted * 1000000 // n_rows AS del_ppm
       |FROM base ORDER BY table_name""".stripMargin
  }

  /** Snapshot-over-snapshot distribution drift on the documents feed: the
    * "new crawl" snapshot plants a deletion wave (doc_id % 9), a lang-ID
    * regression (every 6th doc re-tagged 'xx'), and a length shift (every
    * 4th doc +50 chars) — [[graft.operators.Profile.drift]] reports the
    * total-variation distance per monitored column (n_chars through an
    * exact 100-char bucket lens). The gate that catches a bad crawl
    * BEFORE it enters a mix; every count and the pinned division replay
    * in SQL.
    */
  def qProfileDrift(s: SparkSession, dir: String): DataFrame = {
    val a = table(s, dir, "documents")
      .select(col("lang"), col("source"), expr("n_chars div 100").as("n_chars_bucket"))
    val b = table(s, dir, "documents")
      .filter(col("doc_id") % 9 =!= 0)
      .select(
        when(col("doc_id") % 6 === 0, lit("xx")).otherwise(col("lang")).as("lang"),
        col("source"),
        expr("(n_chars + (CASE WHEN doc_id % 4 = 0 THEN 50 ELSE 0 END)) div 100")
          .as("n_chars_bucket"))
    graft.operators.Profile.drift(a, b, Seq("lang", "source", "n_chars_bucket"))
      .orderBy("column")
  }

  val qProfileDriftSql: String = {
    def tv(c: String) =
      s"""SELECT '$c' AS "column",
         |  CAST(sum(abs(CAST(ca AS HUGEINT) * tb - CAST(cb AS HUGEINT) * ta)) AS DOUBLE) /
         |  CAST(2 * (SELECT ta FROM t_$c) * (SELECT tb FROM t_$c) AS DOUBLE) AS tv
         |FROM j_$c, (SELECT ta, tb FROM t_$c)""".stripMargin
    def cte(c: String) =
      s"""ca_$c AS (SELECT $c AS v, CAST(count(*) AS BIGINT) AS ca FROM a GROUP BY 1),
         |cb_$c AS (SELECT $c AS v, CAST(count(*) AS BIGINT) AS cb FROM b GROUP BY 1),
         |j_$c AS (SELECT coalesce(ca, 0) AS ca, coalesce(cb, 0) AS cb
         |         FROM ca_$c FULL OUTER JOIN cb_$c
         |           ON ca_$c.v IS NOT DISTINCT FROM cb_$c.v),
         |t_$c AS (SELECT sum(ca) AS ta, sum(cb) AS tb FROM j_$c)""".stripMargin
    s"""WITH a AS (
       |  SELECT lang, source, CAST(n_chars // 100 AS VARCHAR) AS n_chars_bucket
       |  FROM documents),
       |b AS (
       |  SELECT CASE WHEN doc_id % 6 = 0 THEN 'xx' ELSE lang END AS lang, source,
       |    CAST((n_chars + (CASE WHEN doc_id % 4 = 0 THEN 50 ELSE 0 END)) // 100 AS VARCHAR)
       |      AS n_chars_bucket
       |  FROM documents WHERE doc_id % 9 <> 0),
       |${cte("lang")},
       |${cte("source")},
       |${cte("n_chars_bucket")}
       |SELECT * FROM (
       |  ${tv("lang")}
       |  UNION ALL ${tv("source")}
       |  UNION ALL ${tv("n_chars_bucket")})
       |ORDER BY "column"""".stripMargin
  }

  val qProfileSql: String = {
    def num(c: String, expr: String) =
      s"""SELECT '$c' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(count(*) - count($expr) AS BIGINT) AS n_null,
         |  CAST(count(DISTINCT $expr) AS BIGINT) AS n_distinct,
         |  CAST(min($expr) AS BIGINT) AS min_num, CAST(max($expr) AS BIGINT) AS max_num,
         |  CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
         |FROM orders""".stripMargin
    def str(c: String) =
      s"""SELECT '$c' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(count(*) - count($c) AS BIGINT) AS n_null,
         |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
         |  CAST(NULL AS BIGINT) AS min_num, CAST(NULL AS BIGINT) AS max_num,
         |  CAST(min($c) AS VARCHAR) AS min_str, CAST(max($c) AS VARCHAR) AS max_str
         |FROM orders""".stripMargin
    Seq(
      num("o_orderkey", "o_orderkey"),
      num("o_custkey", "o_custkey"),
      str("o_orderstatus"),
      num("o_totalprice", "CAST(round(o_totalprice * 1000000.0) AS BIGINT)"),
      num("o_orderdate", "epoch_us(o_orderdate)"),
      str("o_orderpriority")
    ).mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
  }

  // ---- referential-integrity audit ---------------------------------------
  /** FK audit over every edge of the TPC-H-shaped star — see
    * [[graft.operators.Integrity.fkAudit]] for the per-key-counts-first
    * shape (the fact collapses to distinct keys before any join). The
    * oracle replays the same distinct-key left join per edge.
    */
  def qIntegrity(s: SparkSession, dir: String): DataFrame = {
    def t(n: String) = table(s, dir, n)
    graft.operators.Integrity.audit(Seq(
      (t("lineitem"), "l_orderkey", t("orders"), "o_orderkey", "lineitem.l_orderkey->orders"),
      (t("lineitem"), "l_partkey", t("part"), "p_partkey", "lineitem.l_partkey->part"),
      (t("lineitem"), "l_suppkey", t("supplier"), "s_suppkey", "lineitem.l_suppkey->supplier"),
      (t("orders"), "o_custkey", t("customer"), "c_custkey", "orders.o_custkey->customer"),
      (t("customer"), "c_nationkey", t("nation"), "n_nationkey", "customer.c_nationkey->nation"),
      (t("supplier"), "s_nationkey", t("nation"), "n_nationkey", "supplier.s_nationkey->nation"),
      (t("nation"), "n_regionkey", t("region"), "r_regionkey", "nation.n_regionkey->region")))
  }

  val qIntegritySql: String = {
    def one(fact: String, fk: String, dim: String, pk: String, edge: String) =
      s"""SELECT '$edge' AS edge, CAST(sum(c) AS BIGINT) AS n_rows,
         |  CAST(sum(CASE WHEN k IS NULL THEN c ELSE 0 END) AS BIGINT) AS n_null_fk,
         |  CAST(sum(CASE WHEN k IS NOT NULL AND pk IS NULL THEN c ELSE 0 END) AS BIGINT) AS n_orphan_rows,
         |  CAST(count(CASE WHEN k IS NOT NULL AND pk IS NULL THEN 1 END) AS BIGINT) AS n_orphan_keys
         |FROM (
         |  SELECT kc.k, kc.c, d.$pk AS pk
         |  FROM (SELECT $fk AS k, count(*) AS c FROM $fact GROUP BY 1) kc
         |  LEFT JOIN $dim d ON kc.k = d.$pk)""".stripMargin
    Seq(
      one("lineitem", "l_orderkey", "orders", "o_orderkey", "lineitem.l_orderkey->orders"),
      one("lineitem", "l_partkey", "part", "p_partkey", "lineitem.l_partkey->part"),
      one("lineitem", "l_suppkey", "supplier", "s_suppkey", "lineitem.l_suppkey->supplier"),
      one("orders", "o_custkey", "customer", "c_custkey", "orders.o_custkey->customer"),
      one("customer", "c_nationkey", "nation", "n_nationkey", "customer.c_nationkey->nation"),
      one("supplier", "s_nationkey", "nation", "n_nationkey", "supplier.s_nationkey->nation"),
      one("nation", "n_regionkey", "region", "r_regionkey", "nation.n_regionkey->region")
    ).mkString("", "\nUNION ALL\n", "\nORDER BY edge")
  }

  // ---- SCD type-2 snapshot merge -----------------------------------------
  /** SCD2 history build over the orders dimension: snapshot t is the
    * table; snapshot t+1 is derived IN-QUERY with deterministic planted
    * churn both engines replay identically (the [[LlmQueries.qCdcDelta]]
    * precedent) — deletions (key % 13), status flips (% 5 → 'X'), price
    * bumps (% 7 → +100.00 in micro-units), inserts (% 11 spawns key+10⁷).
    * Prices are normalized to exact micro-units BEFORE the merge so the
    * change comparison is integer-exact. See [[graft.operators.Scd.scd2]].
    */
  def qScd2(s: SparkSession, dir: String): DataFrame = {
    val base = table(s, dir, "orders").select(col("o_orderkey"), col("o_orderstatus"),
      round(col("o_totalprice") * lit(1000000.0)).cast("long").as("price_u"))
    val next = base.filter(col("o_orderkey") % 13 =!= 0)
      .select(col("o_orderkey"),
        when(col("o_orderkey") % 5 === 0, lit("X"))
          .otherwise(col("o_orderstatus")).as("o_orderstatus"),
        when(col("o_orderkey") % 7 === 0, col("price_u") + lit(100000000L))
          .otherwise(col("price_u")).as("price_u"))
      .unionByName(base.filter(col("o_orderkey") % 11 === 0)
        .select((col("o_orderkey") + lit(10000000L)).as("o_orderkey"),
          col("o_orderstatus"), col("price_u")))
    graft.operators.Scd.scd2(base, next, "o_orderkey", Seq("o_orderstatus", "price_u"))
      .orderBy("o_orderkey", "valid_from")
  }

  val qScd2Sql: String =
    """WITH oldt AS (
      |  SELECT o_orderkey AS k, o_orderstatus AS st,
      |    CAST(round(o_totalprice * 1000000.0) AS BIGINT) AS pu
      |  FROM orders),
      |newt AS (
      |  SELECT k, CASE WHEN k % 5 = 0 THEN 'X' ELSE st END AS st,
      |    CASE WHEN k % 7 = 0 THEN pu + 100000000 ELSE pu END AS pu
      |  FROM oldt WHERE k % 13 <> 0
      |  UNION ALL
      |  SELECT k + 10000000 AS k, st, pu FROM oldt WHERE k % 11 = 0),
      |j AS (
      |  SELECT coalesce(o.k, n.k) AS k, o.st AS ost, o.pu AS opu,
      |    n.st AS nst, n.pu AS npu,
      |    o.k IS NOT NULL AS in_o, n.k IS NOT NULL AS in_n
      |  FROM oldt o FULL OUTER JOIN newt n ON n.k = o.k),
      |cls AS (
      |  SELECT *, in_o AND in_n AND ost IS NOT DISTINCT FROM nst
      |              AND opu IS NOT DISTINCT FROM npu AS same
      |  FROM j)
      |SELECT k AS o_orderkey, ost AS o_orderstatus, opu AS price_u,
      |  CAST(0 AS INT) AS valid_from, CAST(1 AS INT) AS valid_to, false AS is_current
      |FROM cls WHERE in_o AND NOT same
      |UNION ALL
      |SELECT k, ost, opu, CAST(0 AS INT), CAST(NULL AS INT), true
      |FROM cls WHERE same
      |UNION ALL
      |SELECT k, nst, npu, CAST(1 AS INT), CAST(NULL AS INT), true
      |FROM cls WHERE in_n AND NOT same
      |ORDER BY o_orderkey, valid_from""".stripMargin
}
