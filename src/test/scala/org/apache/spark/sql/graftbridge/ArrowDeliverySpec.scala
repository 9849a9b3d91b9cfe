package org.apache.spark.sql.graftbridge

import java.io.ByteArrayOutputStream
import java.nio.channels.Channels
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkTestSession
import graft.results.ResultWriter
import graft.session.{Connection, Engine, EngineConfig}
import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector.VectorSchemaRoot
import org.apache.arrow.vector.ipc.{ArrowFileReader, ArrowReader, ArrowStreamReader, ArrowStreamWriter}
import org.apache.arrow.vector.types.pojo.Schema
import org.apache.arrow.vector.util.ByteArrayReadableSeekableByteChannel
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.arrow.ArrowWriter
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.ArrowUtils
import org.scalatest.funsuite.AnyFunSuite

/** Arrow result delivery: the record batches encoded on the executors —
  * column by column for a columnar scan, row by row otherwise — and framed
  * on the driver decode to exactly what the driver-side encoder (collect,
  * then one `ArrowWriter` loop, kept below as the reference) produced:
  * the same schema, then the same rows in the same order, through
  * `query`, `send` + `fetchQueryResults` and the whole-stream form. */
class ArrowDeliverySpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  /** Three files of ~2300 rows in one row group each, and a fourth of 3000
    * rows in many small row groups: every file is a scan partition of its
    * own, and the large row groups are cut into more than one record batch. */
  private lazy val typedDir: String = {
    val dir = Files.createTempDirectory("arrow-delivery-").resolve("typed").toString
    def rows(from: Long, to: Long, files: Int) = spark.range(from, to, 1, files).selectExpr(
      "id AS k",
      "CASE WHEN id % 7 = 0 THEN NULL ELSE CAST(id AS INT) END AS i",
      "CASE WHEN id % 5 = 0 THEN NULL ELSE id * 1.5D END AS d",
      "CAST(id / 100 AS DECIMAL(10,2)) AS dec_small",
      "CASE WHEN id % 9 = 0 THEN NULL ELSE CAST(id * 1000003 AS DECIMAL(38,6)) END AS dec_wide",
      "CASE WHEN id % 11 = 0 THEN NULL ELSE date_add(DATE'2020-01-01', CAST(id % 900 AS INT)) END AS dt",
      "timestamp_micros(1600000000000000 + id * 3600000001) AS ts",
      "CAST(timestamp_micros(1500000000000000 + id * 61000000) AS TIMESTAMP_NTZ) AS ntz",
      "CASE WHEN id % 3 = 0 THEN NULL ELSE concat('s_', id, repeat('x', CAST(id % 13 AS INT))) END AS s",
      "id % 2 = 0 AS b",
      "named_struct('a', CAST(id AS INT), 'b', CASE WHEN id % 4 = 0 THEN NULL ELSE concat('n', id) END) AS st",
      "CASE WHEN id % 6 = 0 THEN NULL ELSE sequence(0L, id % 5) END AS arr",
      "map(concat('k', id % 3), CAST(id AS DOUBLE)) AS m")
    rows(0, 7000, 3).write.parquet(dir)
    rows(7000, 10000, 1).write.mode("append").option("parquet.block.size", 16384).parquet(dir)
    dir
  }

  private def connect(emitBigInt: Boolean): Connection = {
    val e = new Engine(EngineConfig(emitBigInt = emitBigInt,
      existingSession = Some(spark.newSession())))
    e.files.registerFilePath("typed.parquet", typedDir)
    e.files.registerFilePath("lineitem.parquet", s"${SparkTestSession.sfDir}/lineitem.parquet")
    e.connect()
  }
  private lazy val conn = connect(emitBigInt = true)
  private lazy val noBigInt = connect(emitBigInt = false)

  // ------------------------------------------------------------ reference
  /** The driver-side encoder the engine used before: collect the rows,
    * write them into one set of vectors, 2048 rows per batch. */
  private def referenceStream(df: DataFrame): Array[Byte] = {
    val schema = ArrowUtils.toArrowSchema(df.schema,
      spark.sessionState.conf.sessionLocalTimeZone,
      errorOnDuplicatedFieldNames = true, largeVarTypes = false)
    val rows = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]]
      .queryExecution.executedPlan.executeCollect()
    val allocator = new RootAllocator(Long.MaxValue)
    val root = VectorSchemaRoot.create(schema, allocator)
    val out = new ByteArrayOutputStream()
    val writer = new ArrowStreamWriter(root, null, Channels.newChannel(out))
    val arrowWriter = ArrowWriter.create(root)
    try {
      writer.start()
      rows.grouped(2048).foreach { chunk =>
        arrowWriter.reset()
        chunk.foreach(arrowWriter.write)
        arrowWriter.finish()
        writer.writeBatch()
      }
      writer.end()
      out.toByteArray
    } finally { writer.close(); root.close(); allocator.close() }
  }

  /** BIGINT → DOUBLE at any depth, as `emitBigInt = false` delivers. */
  private def withoutBigInt(df: DataFrame): DataFrame = {
    def patch(dt: DataType): DataType = dt match {
      case LongType => DoubleType
      case ArrayType(e, n) => ArrayType(patch(e), n)
      case MapType(k, v, n) => MapType(patch(k), patch(v), n)
      case StructType(fs) => StructType(fs.map(f => f.copy(dataType = patch(f.dataType))))
      case other => other
    }
    df.select(df.schema.fields.toSeq.map(f =>
      if (patch(f.dataType) == f.dataType) col(f.name)
      else col(f.name).cast(patch(f.dataType)).as(f.name)): _*)
  }

  // ------------------------------------------------------------- decoding
  private case class Decoded(schema: Schema, rows: Seq[Seq[AnyRef]], batchRows: Seq[Int])

  private def read(reader: ArrowReader, allocator: RootAllocator): Decoded =
    try {
      val root = reader.getVectorSchemaRoot
      val rows = Seq.newBuilder[Seq[AnyRef]]
      val sizes = Seq.newBuilder[Int]
      while (reader.loadNextBatch()) {
        val vectors = root.getFieldVectors.asScala.toSeq
        sizes += root.getRowCount
        (0 until root.getRowCount).foreach(i => rows += vectors.map(_.getObject(i)))
      }
      Decoded(root.getSchema, rows.result(), sizes.result())
    } finally { reader.close(); allocator.close() }

  private def decodeStream(bytes: Array[Byte]): Decoded = {
    val allocator = new RootAllocator(Long.MaxValue)
    read(new ArrowStreamReader(new ByteArrayReadableSeekableByteChannel(bytes), allocator),
      allocator)
  }

  private def decodeFile(bytes: Array[Byte]): Decoded = {
    val allocator = new RootAllocator(Long.MaxValue)
    val reader = new ArrowFileReader(new ByteArrayReadableSeekableByteChannel(bytes), allocator)
    val blocks = reader.getRecordBlocks.size
    val d = read(reader, allocator)
    assert(blocks === d.batchRows.size, "one footer block per record batch")
    d
  }

  /** Every delivery form of `sql` decodes to the reference. */
  private def assertDelivered(c: Connection, sql: String, emitBigInt: Boolean): Decoded = {
    val df = c.queryDF(sql)
    val want = decodeStream(referenceStream(if (emitBigInt) df else withoutBigInt(df)))

    def same(form: String, got: Decoded): Unit = {
      assert(got.schema === want.schema, s"$form schema")
      assert(got.rows.size === want.rows.size, s"$form row count")
      got.rows.zip(want.rows).zipWithIndex.foreach { case ((g, w), i) =>
        assert(g === w, s"$form row $i")
      }
      assert(got.batchRows.forall(n => n > 0 && n <= 2048), s"$form batch sizes ${got.batchRows}")
    }

    same("query", decodeFile(c.query(sql)))
    same("ipcStream", decodeStream(ResultWriter.ipcStream(c.queryDF(sql), emitBigInt)))
    val st = c.send(sql)
    val head = decodeStream(st.schemaIpc)
    assert(head.batchRows.isEmpty)
    val fetched = Iterator.continually(c.fetchQueryResults()).takeWhile(_.nonEmpty)
      .map(decodeStream).toSeq
    fetched.foreach { f =>
      assert(f.schema === head.schema)
      assert(f.batchRows.size === 1, "one record batch per fetch")
    }
    same("send", Decoded(head.schema, fetched.flatMap(_.rows), fetched.flatMap(_.batchRows)))
    want
  }

  private def encoder(c: Connection, sql: String): ArrowBridge.Encoder =
    ArrowBridge.encoder(c.queryDF(sql))

  // ---------------------------------------------------------------- cases
  test("a typed multi-file parquet scan is encoded from its column vectors") {
    val sql = "SELECT * FROM parquet_scan('typed.parquet')"
    assert(encoder(conn, sql).isInstanceOf[ArrowBridge.Columnar])
    val got = assertDelivered(conn, sql, emitBigInt = true)
    assert(got.rows.size === 10000)
    assert(got.rows.map(_.head.asInstanceOf[java.lang.Long].longValue).toSet ===
      (0L until 10000L).toSet)
    // nulls in every nullable shape, nested ones included
    Seq("i", "d", "dec_wide", "dt", "s", "arr").foreach { name =>
      val at = got.schema.getFields.asScala.indexWhere(_.getName == name)
      assert(got.rows.exists(_(at) == null), name)
    }
  }

  test("a lineitem scan is columnar and delivered unchanged") {
    val sql = "SELECT * FROM 'lineitem.parquet'"
    assert(encoder(conn, sql).isInstanceOf[ArrowBridge.Columnar])
    assert(assertDelivered(conn, sql, emitBigInt = true).rows.size === 6000)
  }

  test("a case-preserving rename and a column reorder stay on the column vectors") {
    val sql = "SELECT S, K, ST, M, DEC_WIDE FROM parquet_scan('typed.parquet')"
    assert(conn.queryDF(sql).columns.toSeq === Seq("s", "k", "st", "m", "dec_wide"))
    assert(encoder(conn, sql).isInstanceOf[ArrowBridge.Columnar])
    assertDelivered(conn, sql, emitBigInt = true)
  }

  test("a computed projection is encoded row by row") {
    val sql = "SELECT k + 1 AS k1, upper(s) AS us, d * 2 AS d2, st.b AS sb, " +
      "arr[1] AS a1 FROM parquet_scan('typed.parquet')"
    assert(encoder(conn, sql).isInstanceOf[ArrowBridge.Rows])
    assert(assertDelivered(conn, sql, emitBigInt = true).rows.size === 10000)
  }

  test("a full sort keeps its order across partitions") {
    val sql = "SELECT k, s, dt FROM parquet_scan('typed.parquet') ORDER BY dt DESC NULLS LAST, k"
    assert(encoder(conn, sql).isInstanceOf[ArrowBridge.Rows])
    assert(assertDelivered(conn, sql, emitBigInt = true).rows.size === 10000)
  }

  test("LIMIT, top-k and local rows are collected and encoded on the driver") {
    Seq(
      "SELECT * FROM parquet_scan('typed.parquet') LIMIT 100" -> 100,
      "SELECT k, s FROM parquet_scan('typed.parquet') ORDER BY d DESC NULLS LAST, k LIMIT 50" -> 50,
      "SELECT * FROM (VALUES (1, 'a'), (2, NULL)) t(x, y)" -> 2
    ).foreach { case (sql, n) =>
      assert(encoder(conn, sql).isInstanceOf[ArrowBridge.OnDriver], sql)
      assert(assertDelivered(conn, sql, emitBigInt = true).rows.size === n, sql)
    }
  }

  test("an empty result is the schema alone") {
    val sql = "SELECT * FROM parquet_scan('typed.parquet') WHERE k < 0"
    val got = assertDelivered(conn, sql, emitBigInt = true)
    assert(got.rows.isEmpty && got.batchRows.isEmpty)
    assert(got.schema.getFields.size === 13)
    assert(conn.send(sql).nextBatch().isEmpty)
  }

  test("emitBigInt = false patches the scan and its nested BIGINTs to DOUBLE") {
    val sql = "SELECT * FROM parquet_scan('typed.parquet')"
    assert(encoder(noBigInt, sql).isInstanceOf[ArrowBridge.Columnar],
      "the connection's plan itself is columnar")
    val got = assertDelivered(noBigInt, sql, emitBigInt = false)
    assert(got.rows.size === 10000)
    assert(got.schema.findField("k").getType.toString.startsWith("FloatingPoint"))
    assert(got.schema.findField("arr").getChildren.get(0).getType.toString
      .startsWith("FloatingPoint"))
  }

  test("no result allocator is a root of its own: no `new RootAllocator(` under src/main") {
    val sources = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") || p.toString.endsWith(".java")).toSeq
    assert(sources.exists(_.endsWith("ArrowBridge.scala")))
    val hits = sources.flatMap { p =>
      Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if line.contains("new RootAllocator(") => s"$p:${i + 1}"
      }
    }
    assert(hits.isEmpty)
  }
}
