package graft

import graft.ingest.IngestOptions
import graft.session.{Engine, EngineConfig}
import org.apache.spark.sql.graftbridge.ArrowBridge
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** API-surface tests mirroring the reference's own suite:
  * bindings.test.ts (query/prepared/reset), filesystem.test.ts (parquet scan,
  * COPY, EXPORT), insert_csv/json/arrow tests, webdb_test.cc (tokenizer). */
class EngineSpec extends AnyFunSuite {

  private lazy val engine =
    new Engine(EngineConfig(existingSession = Some(SparkTestSession.spark)))
  private lazy val conn = engine.connect()
  private val sf = "/root/testdata/sf0.001"

  test("engine path: frame EXCLUDE inside a QUALIFY query rewrites via the post-sugar pass (round 12)") {
    Tables.registerAll(SparkTestSession.spark, sf)
    val df = conn.queryDF(
      """SELECT o_orderkey,
        |  CAST(min(o_totalprice) OVER (PARTITION BY o_orderpriority
        |    ORDER BY o_orderdate
        |    RANGE BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
        |    EXCLUDE GROUP) AS DOUBLE) AS other_min
        |FROM orders
        |QUALIFY row_number() OVER (PARTITION BY o_orderpriority
        |                           ORDER BY o_orderdate, o_orderkey) = 1
        |ORDER BY o_orderkey""".stripMargin)
    val rows = df.collect()
    assert(rows.length === 5) // one survivor per priority
    assert(df.columns.toSeq === Seq("o_orderkey", "other_min"))
    // the EXCLUDE window evaluated over ALL rows (pre-QUALIFY): the
    // excluded-peer minimum must exist even though only 1 row survives
    assert(rows.forall(!_.isNullAt(1)))
  }

  test("engine path: named WINDOW clause shared by several functions (round 12)") {
    val rows = conn.queryDF(
      """SELECT k, v,
        |  CAST(sum(v) OVER w AS BIGINT) AS run,
        |  rank() OVER w AS rnk
        |FROM (VALUES (1, 10), (1, 20), (2, 40)) AS t(k, v)
        |WINDOW w AS (ORDER BY k)
        |ORDER BY k, v""".stripMargin).collect()
    // shared ORDER BY window: default RANGE frame, rank over the same spec
    assert(rows.map(r => (r.getInt(0), r.getLong(2), r.getInt(3))).toSeq ===
      Seq((1, 30L, 1), (1, 30L, 1), (2, 70L, 3)))
  }

  test("engine path: EXCLUDE inside a named WINDOW definition inlines and rewrites") {
    // the exclusion key rides the named spec into every `OVER w` (Spark's
    // own substitution), then the rule plans it. Hand-checked: EXCLUDE TIES
    // keeps the current row, drops its other peers.
    val rows = conn.queryDF(
      """SELECT k, v, CAST(sum(v) OVER w AS BIGINT) AS s
        |FROM (VALUES (1, 10), (1, 20), (2, 40)) AS t(k, v)
        |WINDOW w AS (ORDER BY k RANGE BETWEEN UNBOUNDED PRECEDING
        |             AND CURRENT ROW EXCLUDE TIES)
        |ORDER BY k, v""".stripMargin).collect()
    assert(rows.map(r => (r.getInt(0), r.getLong(2))).toSeq ===
      Seq((1, 10L), (1, 20L), (2, 70L)))
  }

  test("engine path: FROM-first syntax (bare, relocated SELECT, subquery) (round 12)") {
    Tables.registerAll(SparkTestSession.spark, sf)
    assert(conn.queryDF("FROM region").collect().length === 5)
    val rows = conn.queryDF(
      """FROM (VALUES (1, 10), (2, 20), (3, 30)) AS t(k, v)
        |SELECT k, v WHERE k > 1 ORDER BY k""".stripMargin).collect()
    assert(rows.map(_.getInt(0)).toSeq === Seq(2, 3))
    // FROM-first inside a subquery, composed with an outer aggregate
    val agg = conn.queryDF(
      "SELECT CAST(count(*) AS BIGINT) AS n FROM (FROM nation WHERE n_regionkey = 0)")
      .collect().head.getLong(0)
    assert(agg === 5)
  }

  test("query via parquet_scan returns Arrow IPC file bytes (bindings.test.ts:161-173)") {
    engine.files.registerFilePath("lineitem.parquet", s"$sf/lineitem.parquet")
    val df = conn.queryDF(
      "SELECT count(*)::INTEGER AS cnt FROM parquet_scan('lineitem.parquet')")
    assert(df.collect().head.getInt(0) === 6000)
    val bytes = conn.query(
      "SELECT count(*)::INTEGER AS cnt FROM parquet_scan('lineitem.parquet')")
    // Arrow IPC file magic
    assert(new String(bytes.take(6), "UTF-8") === "ARROW1")
  }

  test("window EXCLUDE TIES/GROUP compile through the engine SQL path (round 10)") {
    // the T620 frame exclusions must work on the engine surface, not
    // just the declared-query path — literal table, hand-checked values
    val rows = conn.queryDF(
      """SELECT k,
        |  CAST(sum(v) OVER (ORDER BY k RANGE BETWEEN UNBOUNDED PRECEDING
        |    AND CURRENT ROW EXCLUDE TIES) AS BIGINT) AS ties_sum,
        |  CAST(sum(v) OVER (ORDER BY k RANGE BETWEEN UNBOUNDED PRECEDING
        |    AND CURRENT ROW EXCLUDE GROUP) AS BIGINT) AS grp_sum
        |FROM (VALUES (1, 10), (1, 20), (2, 40)) AS t(k, v)
        |ORDER BY k, v""".stripMargin).collect()
    // k=1 rows: peers of each other → TIES keeps only own v, GROUP drops
    // both (NULL); k=2: prefix {10,20} + own 40 / prefix only
    assert(rows.map(r => (r.getInt(0),
      if (r.isNullAt(1)) -1L else r.getLong(1),
      if (r.isNullAt(2)) -1L else r.getLong(2))).toSeq ===
      Seq((1, 10L, -1L), (1, 20L, -1L), (2, 70L, 30L)))
  }

  test("generate_series is end-inclusive (bindings.test.ts:57)") {
    val rows = conn.queryDF("SELECT * FROM generate_series(1, 5)")
      .collect().map(_.getLong(0)) // explode(sequence) yields ints per input type
    assert(rows.toSeq === Seq(1L, 2L, 3L, 4L, 5L))
  }

  test("bare-filename FROM ref scans a CSV (github_332.test.ts:67)") {
    val p = Files.createTempFile("graft", ".csv")
    Files.writeString(p, "Name,ProductGroup\nx,A\ny,B\n")
    engine.files.registerFilePath("Products.csv", p.toString)
    val df = conn.queryDF("SELECT productgroup FROM 'Products.csv' ORDER BY 1")
    // case-insensitive resolution, case-preserving output schema
    assert(df.schema.head.name === "ProductGroup")
    assert(df.collect().map(_.getString(0)).toSeq === Seq("A", "B"))
  }

  test("read_csv TVF with options (duckdb_sync_benchmarks.ts:400)") {
    val p = Files.createTempFile("graft", ".csv")
    Files.writeString(p, "1|10.5\n2|20.5\n")
    engine.files.registerFilePath("pipe.csv", p.toString)
    val df = conn.queryDF(
      "SELECT * FROM read_csv('pipe.csv', delim='|', header=false)")
    assert(df.columns.toSeq === Seq("column0", "column1"))
    assert(df.count() === 2)
  }

  test("read_csv skip=N drops leading lines (csv_insert_options.h:17-45)") {
    val p = Files.createTempFile("graft", ".csv")
    Files.writeString(p, "garbage preamble\nmore garbage\na|b\n1|2\n3|4\n")
    engine.files.registerFilePath("skippy.csv", p.toString)
    val df = conn.queryDF(
      "SELECT * FROM read_csv('skippy.csv', delim='|', header=true, skip=2)")
    assert(df.columns.toSeq === Seq("a", "b"))
    assert(df.count() === 2)
  }

  test("CREATE TABLE / INSERT / DROP round-trip (bindings.test.ts:74-86)") {
    conn.queryDF("DROP TABLE IF EXISTS main.tbl_rt")
    conn.queryDF("CREATE TABLE main.tbl_rt(a INT, b STRING)")
    conn.queryDF("INSERT INTO main.tbl_rt VALUES (1, 'x'), (2, 'y')")
    assert(conn.queryDF("SELECT sum(a)::INT AS s FROM main.tbl_rt")
      .collect().head.getInt(0) === 3)
    conn.queryDF("DROP TABLE main.tbl_rt")
  }

  test("CREATE TABLE with DEFAULT columns (bindings.test.ts:74-84)") {
    conn.queryDF("DROP TABLE IF EXISTS main.def_t")
    conn.queryDF(
      "CREATE TABLE main.def_t(a INT, b INT DEFAULT NULL, c STRING DEFAULT 'x')")
    conn.queryDF("INSERT INTO main.def_t(a) VALUES (1), (2)")
    val rows = conn.queryDF("SELECT a, b, c FROM main.def_t ORDER BY a").collect()
    assert(rows.map(_.isNullAt(1)).forall(identity)) // DEFAULT NULL materializes
    assert(rows.map(_.getString(2)).toSeq === Seq("x", "x"))
    conn.queryDF("DROP TABLE main.def_t")
  }

  test("PRAGMA show_tables lists tables with a single name column (bindings.test.ts:43-51)") {
    conn.queryDF("CREATE TABLE IF NOT EXISTS main.show_me(a INT)")
    val df = conn.queryDF("PRAGMA show_tables")
    assert(df.columns.toSeq === Seq("name"))
    assert(df.collect().map(_.getString(0)).contains("show_me"))
    conn.queryDF("DROP TABLE main.show_me")
  }

  test("prepared statement with positional params (bindings.test.ts:57,203)") {
    val id = conn.prepare("SELECT v + ? AS r FROM (SELECT 10 AS v)")
    val out = conn.runPrepared(id, Seq(5)).collect().head.getInt(0)
    assert(out === 15)
    conn.closePrepared(id)
  }

  test("strict prepared-param typecheck rejects out-of-range ints (bindings.test.ts:103-141)") {
    conn.queryDF("DROP TABLE IF EXISTS main.strict_t")
    conn.queryDF("CREATE TABLE main.strict_t(v TINYINT)")
    val id = conn.prepare("INSERT INTO main.strict_t VALUES (?)")
    conn.runPrepared(id, Seq(100)) // fits
    val e = intercept[IllegalArgumentException](conn.runPrepared(id, Seq(10000)))
    assert(e.getMessage.contains("out of range"))
    conn.queryDF("DROP TABLE main.strict_t")
  }

  test("reset drops tables (bindings.test.ts:38-52)") {
    conn.queryDF("CREATE TABLE main.reset_me(a INT)")
    assert(conn.queryDF("PRAGMA show_tables")
      .collect().map(_.getString(0)).contains("reset_me"))
    engine.reset()
    assert(!conn.queryDF("PRAGMA show_tables")
      .collect().map(_.getString(0)).contains("reset_me"))
  }

  test("tokenizer goldens (webdb_test.cc:75-80)") {
    assert(engine.tokenize("SELECT 1") === (Seq(0, 7), Seq(4, 1)))
    assert(engine.tokenize("SELECT * FROM region") ===
      (Seq(0, 7, 9, 14), Seq(4, 3, 4, 0)))
    val (off, typ) = engine.tokenize("SELECT 'x' -- c")
    assert(off === Seq(0, 7, 11) && typ === Seq(4, 2, 5))
  }

  test("streaming send: schema first, then batches, then EOS (webdb.cc:121-202)") {
    engine.files.registerFilePath("li2.parquet", s"$sf/lineitem.parquet")
    val st = conn.send("SELECT l_orderkey FROM parquet_scan('li2.parquet') LIMIT 5000")
    assert(st.schemaIpc.nonEmpty)
    var batches = 0
    var b = conn.fetchQueryResults()
    while (b.nonEmpty) { batches += 1; b = conn.fetchQueryResults() }
    assert(batches >= 2) // 5000 rows / 2048 per batch ⇒ ≥2 batches
    // stream cleared after EOS
    assert(conn.fetchQueryResults().isEmpty)
  }

  test("Arrow IPC ingest round-trip (insert_arrow.test.ts)") {
    val src = conn.queryDF("SELECT id, id * 2 AS dbl FROM range(0, 10)")
    val ipc = ArrowBridge.toIpcStream(src)
    conn.insertArrowFromIPCStream(ipc, IngestOptions(name = "arrow_rt"))
    val back = conn.queryDF("SELECT sum(dbl)::BIGINT AS s FROM main.arrow_rt")
    assert(back.collect().head.getLong(0) === (0 until 10).map(_ * 2).sum)
    conn.queryDF("DROP TABLE main.arrow_rt")
  }

  test("Arrow IPC ingest buffers chunks until EOS (webdb.cc:284-304)") {
    val src = conn.queryDF("SELECT id FROM range(0, 100)")
    val ipc = ArrowBridge.toIpcStream(src)
    val (h1, h2) = ipc.splitAt(ipc.length / 2)
    conn.insertArrowFromIPCStream(h1, IngestOptions(name = "arrow_chunked"))
    // stream not complete yet → table must not exist
    assert(!SparkTestSession.spark.catalog.tableExists("main.arrow_chunked"))
    conn.insertArrowFromIPCStream(h2, IngestOptions(name = "arrow_chunked"))
    assert(conn.queryDF("SELECT count(*)::BIGINT AS n FROM main.arrow_chunked")
      .collect().head.getLong(0) === 100)
    conn.queryDF("DROP TABLE main.arrow_chunked")
  }

  test("sendPrepared streams a prepared result: schema, batches, EOS") {
    val id = conn.prepare("SELECT v * ? AS r FROM (SELECT 6 AS v)")
    val st = conn.sendPrepared(id, Seq(7))
    assert(st.schemaIpc.nonEmpty)
    var batches = 0
    var b = conn.fetchQueryResults()
    while (b.nonEmpty) { batches += 1; b = conn.fetchQueryResults() }
    assert(batches >= 1)
    conn.closePrepared(id)
  }

  test("single-call Arrow ingest propagates genuine save failures") {
    val src = conn.queryDF("SELECT id FROM range(0, 5)")
    val ipc = ArrowBridge.toIpcStream(src)
    // complete, parseable stream in ONE call; the save target is invalid →
    // the error must surface, not be mistaken for an incomplete stream
    intercept[Exception] {
      conn.insertArrowFromIPCStream(ipc,
        IngestOptions(schema = "no such schema!", name = "bad"))
    }
  }

  test("Arrow IPC ingest handles an EOS marker split across chunks") {
    val src = conn.queryDF("SELECT id FROM range(0, 50)")
    val ipc = ArrowBridge.toIpcStream(src)
    // split INSIDE the trailing 8-byte EOS marker: neither chunk ends with
    // the full marker, only the accumulated buffer does
    val (h1, h2) = ipc.splitAt(ipc.length - 3)
    conn.insertArrowFromIPCStream(h1, IngestOptions(name = "arrow_split_eos"))
    assert(!SparkTestSession.spark.catalog.tableExists("main.arrow_split_eos"))
    conn.insertArrowFromIPCStream(h2, IngestOptions(name = "arrow_split_eos"))
    assert(conn.queryDF("SELECT count(*)::BIGINT AS n FROM main.arrow_split_eos")
      .collect().head.getLong(0) === 50)
    conn.queryDF("DROP TABLE main.arrow_split_eos")
  }

  test("strict typecheck maps ? markers past literals to the right column") {
    conn.queryDF("DROP TABLE IF EXISTS main.strict_mix")
    conn.queryDF("CREATE TABLE main.strict_mix(tiny TINYINT, big BIGINT)")
    // the single ? binds to `big` (second column) — 10000 is valid there,
    // and must NOT be rejected against TINYINT (round-1 advice finding)
    val id = conn.prepare("INSERT INTO main.strict_mix(tiny, big) VALUES (1, ?)")
    conn.runPrepared(id, Seq(10000L)).collect()
    assert(conn.queryDF("SELECT big FROM main.strict_mix").collect().head.getLong(0) === 10000L)
    // and an out-of-range TINYINT bind in first position still fails
    val id2 = conn.prepare("INSERT INTO main.strict_mix(tiny, big) VALUES (?, 5)")
    intercept[IllegalArgumentException] { conn.runPrepared(id2, Seq(10000)) }
    conn.queryDF("DROP TABLE main.strict_mix")
  }

  test("explicit aliases keep their case (stored-case rename is ref-only)") {
    conn.queryDF("DROP TABLE IF EXISTS main.case_t")
    conn.queryDF("CREATE TABLE main.case_t(MixedCase INT)")
    conn.queryDF("INSERT INTO main.case_t VALUES (7)")
    // direct reference in any case resolves to the stored case
    assert(conn.queryDF("SELECT mixedcase FROM main.case_t").schema.fieldNames
      .toSeq === Seq("MixedCase"))
    // a user alias that happens to match a leaf name is NOT rewritten
    assert(conn.queryDF("SELECT sum(MixedCase) AS Mixedcase FROM main.case_t")
      .schema.fieldNames.toSeq === Seq("Mixedcase"))
    conn.queryDF("DROP TABLE main.case_t")
  }

  test("CSV ingest with dateformat (insert_csv.test.ts:151-177)") {
    val p = Files.createTempFile("graft", ".csv")
    Files.writeString(p, "d\n01/02/2020\n03/04/2021\n")
    engine.files.registerFilePath("dates.csv", p.toString)
    conn.insertCSVFromPath("dates.csv", IngestOptions(name = "csv_dates",
      dateFormat = Some("%m/%d/%Y"),
      columns = Some(StructType(Seq(StructField("d", DateType))))))
    val rows = conn.queryDF("SELECT d FROM main.csv_dates ORDER BY d")
      .collect().map(_.getDate(0).toString)
    assert(rows.toSeq === Seq("2020-01-02", "2021-03-04"))
    conn.queryDF("DROP TABLE main.csv_dates")
  }

  test("CSV ingest option matrix: quote + escape + delimiter (insert_csv.test.ts:21-120)") {
    val p = Files.createTempFile("graft", ".csv")
    Files.writeString(p, "name;note\n\"Smith; John\";\"said \\\"hi\\\"\"\nplain;text\n")
    engine.files.registerFilePath("quoted.csv", p.toString)
    conn.insertCSVFromPath("quoted.csv", graft.ingest.IngestOptions(
      name = "csv_quoted", delimiter = Some(";"), quote = Some("\""),
      escape = Some("\\")))
    val rows = conn.queryDF("SELECT name, note FROM main.csv_quoted ORDER BY name")
      .collect()
    assert(rows.map(_.getString(0)).toSeq === Seq("Smith; John", "plain"))
    assert(rows.head.getString(1) === "said \"hi\"")
    conn.queryDF("DROP TABLE main.csv_quoted")
  }

  test("JSON ingest: ROW_ARRAY shape with type inference (insert_json.test.ts:21-45)") {
    val p = Files.createTempFile("graft", ".json")
    Files.writeString(p,
      """[{"a":1,"b":"x","t":"2008-01-01 00:00:00"},{"a":2,"b":"y","t":"2009-01-01 00:00:00"}]""")
    engine.files.registerFilePath("rows.json", p.toString)
    conn.insertJSONFromPath("rows.json", IngestOptions(name = "json_rows"))
    val df = conn.queryDF("SELECT * FROM main.json_rows")
    // analyzer: small ints → INT32, timestamp-candidate strings → TIMESTAMP,
    // fields sorted by name
    assert(df.schema.fieldNames.toSeq === Seq("a", "b", "t"))
    assert(df.schema("a").dataType === IntegerType)
    assert(df.schema("t").dataType === TimestampType)
    assert(df.count() === 2)
    conn.queryDF("DROP TABLE main.json_rows")
  }

  test("JSON ingest: large ROW_ARRAY splits into multiple scan partitions") {
    // 2k rows ≈ 100 KB; threshold forced to 1 byte and split size to 16 KB
    // so the splittable NDJSON path engages and the scan fans out — the
    // multiLine path would be exactly ONE task regardless of file size
    val rows = (0 until 2000).map(i =>
      s"""{"id":$i,"name":"row-padding-padding-$i","v":${i * 3}}""")
    val p = Files.createTempFile("graft-big", ".json")
    Files.writeString(p, rows.mkString("[", ",", "]"))
    val savedProp = sys.props.get("graft.json.splitThreshold")
    val savedSplit = SparkTestSession.spark.conf.get("spark.sql.files.maxPartitionBytes")
    try {
      sys.props("graft.json.splitThreshold") = "1"
      SparkTestSession.spark.conf.set("spark.sql.files.maxPartitionBytes", "16384")
      engine.files.registerFilePath("bigrows.json", p.toString)
      conn.insertJSONFromPath("bigrows.json", IngestOptions(name = "json_big"))
      val df = conn.queryDF("SELECT * FROM main.json_big")
      assert(df.count() === 2000)
      assert(df.selectExpr("sum(v)").collect().head.getLong(0) ===
        (0 until 2000).map(_ * 3L).sum)
      // the read is genuinely multi-task
      val parts = graft.ingest.JsonIngest.read(SparkTestSession.spark,
        p.toString, IngestOptions(name = "unused")).rdd.getNumPartitions
      assert(parts > 1, s"splittable JSON read planned only $parts partition(s)")
      conn.queryDF("DROP TABLE main.json_big")
    } finally {
      savedProp match {
        case Some(v) => sys.props("graft.json.splitThreshold") = v
        case None => sys.props.remove("graft.json.splitThreshold")
      }
      SparkTestSession.spark.conf.set("spark.sql.files.maxPartitionBytes", savedSplit)
      engine.files.dropFile("bigrows.json")
    }
  }

  test("JSON ingest: COLUMN_OBJECT shape (insert_json.test.ts:47-82)") {
    val p = Files.createTempFile("graft", ".json")
    Files.writeString(p, """{"a":[1,4,9],"b":["x","y","z"]}""")
    engine.files.registerFilePath("cols.json", p.toString)
    conn.insertJSONFromPath("cols.json", IngestOptions(name = "json_cols"))
    val rows = conn.queryDF("SELECT a, b FROM main.json_cols ORDER BY a").collect()
    assert(rows.map(_.getInt(0)).toSeq === Seq(1, 4, 9))
    assert(rows.map(_.getString(1)).toSeq === Seq("x", "y", "z"))
    conn.queryDF("DROP TABLE main.json_cols")
  }

  test("JSON ingest: large COLUMN_OBJECT transcodes to a splittable, value-identical scan") {
    import graft.ingest.JsonIngest
    // every analyzer corner in one fixture: int32, uint64 (BigInteger),
    // candidate-promoted quoted numbers, mixed epoch/string timestamps,
    // bools with nulls, numeric/bool mix → double, string/number mix →
    // string, plus a ragged (shorter) column that must pad with NULL
    val colsJson =
      """{"a":[1,2,3,4],
        |"big":[18446744073709551615, 2, 3],
        |"promoted":["10","20","30","40"],
        |"t":["2008-01-01 00:00:00", 1199145600, null, "2009-06-01T12:30:00"],
        |"flag":[true,false,null,true],
        |"mix":[1, 2.5, true, null],
        |"s":["plain", 7, "x", "y"]}""".stripMargin
    val p = Files.createTempFile("graft-colsplit", ".json")
    Files.writeString(p, colsJson)
    val savedProp = sys.props.get("graft.json.splitThreshold")
    val savedSplit = SparkTestSession.spark.conf.get("spark.sql.files.maxPartitionBytes")
    def readWith(threshold: String) = {
      sys.props("graft.json.splitThreshold") = threshold
      JsonIngest.read(SparkTestSession.spark, p.toString, IngestOptions(name = "unused"))
    }
    try {
      val inMemory = readWith((1L << 40).toString)   // stays on the driver path
      SparkTestSession.spark.conf.set("spark.sql.files.maxPartitionBytes", "64")
      val split = readWith("1")                      // chunk + zip-merge path
      assert(split.schema === inMemory.schema,
        s"schemas diverged:\n${split.schema}\nvs\n${inMemory.schema}")
      val key: org.apache.spark.sql.Row => String = _.toString
      assert(split.collect().sortBy(key).toSeq === inMemory.collect().sortBy(key).toSeq)
      assert(split.rdd.getNumPartitions > 1,
        s"splittable COLUMN_OBJECT read planned only ${split.rdd.getNumPartitions} partition(s)")
    } finally {
      savedProp match {
        case Some(v) => sys.props("graft.json.splitThreshold") = v
        case None => sys.props.remove("graft.json.splitThreshold")
      }
      SparkTestSession.spark.conf.set("spark.sql.files.maxPartitionBytes", savedSplit)
    }
  }

  test("NDJSON staging auto-routes to shared storage on non-local masters") {
    import graft.ingest.JsonIngest
    // local masters share the driver fs → driver temp dir (None)
    assert(JsonIngest.stagingDirFor("local[8]", "file:/wh").isEmpty)
    // cluster masters route next to the warehouse so executors can read it
    assert(JsonIngest.stagingDirFor("spark://host:7077", "hdfs://nn/wh")
      === Some("hdfs://nn/wh/graft-json-staging"))
    assert(JsonIngest.stagingDirFor("yarn", "s3a://bucket/wh/")
      === Some("s3a://bucket/wh/graft-json-staging"))
    // an explicit -Dgraft.json.stagingDir always wins
    val saved = sys.props.get("graft.json.stagingDir")
    try {
      sys.props("graft.json.stagingDir") = "/explicit"
      assert(JsonIngest.stagingDirFor("spark://h:7077", "hdfs://nn/wh") === Some("/explicit"))
      assert(JsonIngest.stagingDirFor("local[4]", "file:/wh") === Some("/explicit"))
    } finally saved match {
      case Some(v) => sys.props("graft.json.stagingDir") = v
      case None => sys.props.remove("graft.json.stagingDir")
    }
  }

  test("COPY TO CSV writes a single file with header/delimiter (filesystem.test.ts:116-130)") {
    conn.queryDF("CREATE TABLE main.copy_src AS SELECT 1 AS a, 2 AS b UNION ALL SELECT 3, 4")
    val out = Files.createTempDirectory("graft-copy-test").resolve("out.csv")
    conn.queryDF(s"COPY main.copy_src TO '${out}' WITH (FORMAT CSV, HEADER 1, DELIMITER ';')")
    val content = Files.readString(out)
    assert(content === "a;b\n1;2\n3;4\n")
    conn.queryDF("DROP TABLE main.copy_src")
  }

  test("COPY TO CSV: bare HEADER and no HEADER write the header, HEADER false does not") {
    // duckdb 1.0.0 writes `a,b` for the first two spellings and none for the third
    Seq("(FORMAT CSV, HEADER)" -> "a,b\n1,x\n", "(FORMAT CSV)" -> "a,b\n1,x\n",
        "(FORMAT CSV, HEADER false)" -> "1,x\n").foreach { case (opts, want) =>
      val out = Files.createTempDirectory("graft-copy-header").resolve("out.csv")
      conn.queryDF(s"COPY (SELECT 1 AS a, 'x' AS b) TO '$out' $opts")
      assert(Files.readString(out) === want, opts)
    }
  }

  test("COPY (SELECT ...) TO parquet (filesystem.test.ts:246-259)") {
    val out = Files.createTempDirectory("graft-copy-test").resolve("q.parquet")
    conn.queryDF(s"COPY (SELECT 42 AS v) TO '${out}' (FORMAT PARQUET)")
    val back = SparkTestSession.spark.read.parquet(out.toString)
    assert(back.collect().head.getInt(0) === 42)
  }

  test("EXPORT DATABASE writes tables + schema.sql + load.sql (filesystem.test.ts:183-244)") {
    conn.queryDF("CREATE TABLE main.exp_t AS SELECT 7 AS x")
    val dir = Files.createTempDirectory("graft-export-test")
    conn.queryDF(s"EXPORT DATABASE '$dir' (FORMAT PARQUET)")
    val names = Files.list(dir).iterator()
    val listed = new scala.collection.mutable.ArrayBuffer[String]()
    names.forEachRemaining(p => listed += p.getFileName.toString)
    assert(listed.contains("schema.sql"))
    assert(listed.contains("load.sql"))
    assert(listed.contains("exp_t.parquet"))
    assert(Files.readString(dir.resolve("schema.sql")).contains("CREATE TABLE exp_t"))
    conn.queryDF("DROP TABLE main.exp_t")
  }

  test("EXPORT → DROP → IMPORT DATABASE round-trips tables (csv incl. COPY FROM)") {
    conn.queryDF("CREATE TABLE main.rt_t AS SELECT 3 AS a, 'x''y' AS b UNION ALL SELECT 4, 'z'")
    val dir = Files.createTempDirectory("graft-import-test")
    conn.queryDF(s"EXPORT DATABASE '$dir'") // csv form → load.sql uses COPY FROM
    conn.queryDF("DROP TABLE main.rt_t")
    conn.queryDF(s"IMPORT DATABASE '$dir'")
    val back = conn.queryDF("SELECT a, b FROM main.rt_t ORDER BY a")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(back === Seq((3, "x'y"), (4, "z")))
    conn.queryDF("DROP TABLE main.rt_t")
  }

  test("COPY t FROM appends with the target table's schema") {
    conn.queryDF("DROP TABLE IF EXISTS main.cf_t")
    conn.queryDF(
      "CREATE TABLE main.cf_t AS SELECT CAST(1 AS BIGINT) AS id, CAST(2.5 AS DOUBLE) AS v")
    val f = Files.createTempDirectory("graft-copyfrom-test").resolve("in.csv")
    Files.writeString(f, "id,v\n9,3.5\n")
    conn.queryDF(s"COPY main.cf_t FROM '$f' (FORMAT 'csv', header 1)")
    val rows = conn.queryDF("SELECT id, v FROM main.cf_t ORDER BY id").collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(1L, 9L)) // schema-driven: id stays BIGINT
    assert(rows.map(_.getDouble(1)).toSeq === Seq(2.5, 3.5))
    conn.queryDF("DROP TABLE main.cf_t")
  }

  test("COPY t FROM a headerless CSV keeps the first data row (DuckDB default)") {
    conn.queryDF("DROP TABLE IF EXISTS main.cfh_t")
    conn.queryDF(
      "CREATE TABLE main.cfh_t AS SELECT CAST(1 AS BIGINT) AS id, CAST(2.5 AS DOUBLE) AS v")
    val f = Files.createTempDirectory("graft-copyfrom-nohdr").resolve("in.csv")
    // no header line: with HEADER absent, DuckDB reads BOTH rows
    Files.writeString(f, "9,3.5\n10,4.5\n")
    conn.queryDF(s"COPY main.cfh_t FROM '$f' (FORMAT 'csv')")
    val ids = conn.queryDF("SELECT id FROM main.cfh_t ORDER BY id")
      .collect().map(_.getLong(0)).toSeq
    assert(ids === Seq(1L, 9L, 10L))
    conn.queryDF("DROP TABLE main.cfh_t")
  }

  test("emitBigInt=false patches INT64 → FLOAT64 recursively (bindings.test.ts:176-198)") {
    val e2 = new Engine(EngineConfig(existingSession = Some(SparkTestSession.spark),
      emitBigInt = false))
    val c2 = e2.connect()
    val bytes = c2.send("SELECT 1::BIGINT AS v").schemaIpc
    val df = ArrowBridge.fromIpcStream(SparkTestSession.spark, bytes)
    assert(df.schema("v").dataType === DoubleType)
  }

  test("glob + copyFileToBuffer over registered files (webdb.cc:578-757)") {
    engine.files.registerFileText("data/a1.csv", "x\n1\n")
    engine.files.registerFileText("data/a2.csv", "x\n2\n")
    engine.files.registerFileText("other.txt", "zzz")
    assert(engine.files.globFiles("data/*.csv") === Seq("data/a1.csv", "data/a2.csv"))
    assert(new String(engine.files.copyFileToBuffer("other.txt"), "UTF-8") === "zzz")
    assert(engine.files.dropFile("other.txt"))
    assert(!engine.files.isRegistered("other.txt"))
  }

  test("registerFileHandle + flushFiles (bindings_interface.ts:32,36)") {
    // Path / File / InputStream / byte-array handles all register and read back
    val tmp = java.nio.file.Files.createTempFile("graft-handle-", ".csv")
    java.nio.file.Files.writeString(tmp, "x\n42\n")
    engine.files.registerFileHandle("h_path.csv", tmp)
    engine.files.registerFileHandle("h_file.csv", tmp.toFile)
    engine.files.registerFileHandle("h_stream.csv",
      new java.io.ByteArrayInputStream("x\n7\n".getBytes("UTF-8")))
    engine.files.registerFileHandle("h_bytes.csv", "x\n9\n".getBytes("UTF-8"))
    assert(new String(engine.files.copyFileToBuffer("h_path.csv"), "UTF-8") === "x\n42\n")
    assert(new String(engine.files.copyFileToBuffer("h_file.csv"), "UTF-8") === "x\n42\n")
    assert(new String(engine.files.copyFileToBuffer("h_stream.csv"), "UTF-8") === "x\n7\n")
    assert(new String(engine.files.copyFileToBuffer("h_bytes.csv"), "UTF-8") === "x\n9\n")
    val df = conn.queryDF("SELECT * FROM read_csv('h_stream.csv', header=true)")
    assert(df.collect().map(_.get(0).toString).toSeq === Seq("7"))
    intercept[IllegalArgumentException] {
      engine.files.registerFileHandle("bad", new Object)
    }
    // flush is a durability fsync over registered local files: a no-op
    // observable only as "does not throw", incl. with a URL entry present
    engine.files.registerFileURL("h_url", "http://localhost:1/never-fetched")
    engine.files.flushFiles()
    Seq("h_path.csv", "h_file.csv", "h_stream.csv", "h_bytes.csv", "h_url")
      .foreach(engine.files.dropFile)
    java.nio.file.Files.delete(tmp)
  }

  test("file statistics: scan + read counters (webdb.cc:703-714)") {
    engine.files.registerFilePath("stats.parquet", s"$sf/region.parquet")
    engine.files.collectFileStatistics("stats.parquet", enable = true)
    conn.queryDF("SELECT count(*) AS n FROM parquet_scan('stats.parquet')").collect()
    engine.files.copyFileToBuffer("stats.parquet")
    val st = engine.files.exportFileStatistics("stats.parquet")
    assert(st.sizeBytes > 0)
    assert(st.scanResolutions === 1)
    assert(st.apiReads === 1)
    assert(st.apiBytesRead === st.sizeBytes)
    engine.files.collectFileStatistics("stats.parquet", enable = false)
  }

  test("EngineConfig.path opens a parquet directory as the catalog (SURVEY #2.1 .db replacement)") {
    val e2 = new Engine(EngineConfig(existingSession = Some(SparkTestSession.spark),
      path = Some(sf)))
    val c2 = e2.connect()
    val n = c2.queryDF("SELECT count(*)::BIGINT AS n FROM region").collect().head.getLong(0)
    assert(n === 5)
    // the ns-timestamp events table opened too (readParquetAuto path)
    assert(c2.queryDF("SELECT count(*)::BIGINT AS n FROM events")
      .collect().head.getLong(0) === 1000)
  }

  test("feature flags + version") {
    assert(engine.getVersion.startsWith("graft-spark-"))
    assert(engine.getFeatureFlags("threads"))
  }
}
