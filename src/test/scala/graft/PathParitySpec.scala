package graft

import graft.session.{Engine, EngineConfig}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftbridge.ArrowBridge
import org.scalatest.funsuite.AnyFunSuite

/** Every way a statement enters the engine means the same SQL. Each DuckDB
  * expression below gives DuckDB's answer, or DuckDB's error, through
  * `query`, a prepared statement without and with a parameter, a streamed
  * prepared result, and inside UPDATE SET, DELETE WHERE and INSERT … SELECT
  * … RETURNING. The DML statements at the end are DuckDB text the DML
  * commands plan on the same path. Expected values are DuckDB 1.0's. */
class PathParitySpec extends AnyFunSuite {

  private lazy val engine = new Engine(EngineConfig(
    existingSession = Some(SparkTestSession.spark), maximumThreads = 2))
  private lazy val conn = engine.connect()

  /** A DuckDB expression, a one-parameter spelling of it with its argument,
    * and DuckDB's answer as text (None: DuckDB's conversion error). */
  private case class Case(expr: String, paramExpr: String, arg: Any,
      answer: Option[String])

  private val cases = Seq(
    Case("1 / 0", "? / 0", 1, Some("null")),
    Case("7 // 2.0", "7 // ?", 2.0, Some("3.5")),
    Case("DATE '2020-01-05' - DATE '2020-01-01'", "? - DATE '2020-01-01'",
      java.time.LocalDate.of(2020, 1, 5), Some("4")),
    Case("current_setting('threads')", "current_setting('threads') + ?", 0, Some("2")),
    Case("CAST('yes' AS BOOLEAN)", "CAST(? AS BOOLEAN)", "yes", None))

  /** DuckDB: "Conversion Error: Could not convert string 'yes' to BOOL". */
  private def conversionError(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("Could not convert string 'yes'"))

  /** The first value `run` yields as text, or None on the conversion error;
    * any other error fails the test. */
  private def outcome(run: => Any): Option[String] =
    try Some(String.valueOf(run))
    catch { case e: Exception if conversionError(e) => None }

  private def first(df: DataFrame): Any = df.collect().head.get(0)

  private def typedFirst(df: DataFrame): (Any, String) = {
    val v = first(df)
    (v, df.schema.head.dataType.typeName)
  }

  private val table = "main.path_parity"

  /** A fresh one-row table (1, 'x') of DuckDB types (INTEGER, VARCHAR). */
  private def freshTable(): Unit = {
    conn.queryDF(s"DROP TABLE IF EXISTS $table")
    val loc = new java.io.File("spark-warehouse/main.db/path_parity")
    if (loc.exists()) {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(loc)
    }
    conn.queryDF(s"CREATE TABLE $table AS SELECT 1 AS a, 'x' AS s")
  }

  cases.foreach { c =>
    test(s"query: SELECT ${c.expr}") {
      assert(outcome(first(conn.queryDF(s"SELECT ${c.expr}"))) === c.answer)
    }

    test(s"prepared, no parameter: SELECT ${c.expr}") {
      val id = conn.prepare(s"SELECT ${c.expr}")
      try assert(outcome(first(conn.runPrepared(id, Nil))) === c.answer)
      finally conn.closePrepared(id)
    }

    test(s"prepared, one parameter: SELECT ${c.paramExpr}") {
      val id = conn.prepare(s"SELECT ${c.paramExpr}")
      try assert(outcome(first(conn.runPrepared(id, Seq(c.arg)))) === c.answer)
      finally conn.closePrepared(id)
    }

    test(s"sendPrepared: SELECT ${c.paramExpr}") {
      val id = conn.prepare(s"SELECT ${c.paramExpr}")
      try {
        val got = outcome {
          conn.sendPrepared(id, Seq(c.arg))
          first(ArrowBridge.fromIpcStream(engine.spark, conn.fetchQueryResults()))
        }
        assert(got === c.answer)
      } finally conn.closePrepared(id)
    }

    test(s"UPDATE SET: ${c.expr}") {
      freshTable()
      val got = outcome {
        conn.queryDF(s"UPDATE $table SET s = CAST(${c.expr} AS VARCHAR) WHERE a = 1").collect()
        first(conn.queryDF(s"SELECT s FROM $table WHERE a = 1"))
      }
      assert(got === c.answer)
    }

    test(s"DELETE WHERE: ${c.expr}") {
      freshTable()
      val literal = c.answer.map(a => if (a == "null") "NULL" else s"'$a'").getOrElse("'x'")
      val got = outcome(first(conn.queryDF(
        s"DELETE FROM $table WHERE CAST(${c.expr} AS VARCHAR) IS NOT DISTINCT FROM $literal")))
      assert(got === c.answer.map(_ => "1"))
      val left = first(conn.queryDF(s"SELECT count(*) AS n FROM $table"))
      assert(left === (if (c.answer.isDefined) 0L else 1L))
    }

    test(s"INSERT … SELECT … RETURNING: ${c.expr}") {
      freshTable()
      val got = outcome(first(conn.queryDF(
        s"INSERT INTO $table SELECT 9, CAST(${c.expr} AS VARCHAR) RETURNING s")))
      assert(got === c.answer)
    }
  }

  test("query answers carry DuckDB's types: DOUBLE for // over a fraction, BIGINT days") {
    assert(typedFirst(conn.queryDF("SELECT 7 // 2.0")) === ((3.5, "double")))
    assert(typedFirst(conn.queryDF(
      "SELECT DATE '2020-01-05' - DATE '2020-01-01'")) === ((4L, "long")))
    val id = conn.prepare("SELECT 7 // 2.0")
    try assert(typedFirst(conn.runPrepared(id, Nil)) === ((3.5, "double")))
    finally conn.closePrepared(id)
  }

  test("EXPLAIN <mode> explains the statement-path plan and runs nothing") {
    val extended = conn.queryDF("EXPLAIN EXTENDED SELECT 7 // 2.0 AS q")
    assert(extended.columns.toSeq === Seq("plan"))
    assert(first(extended).toString.contains("graft_fdiv"))
    conn.queryDF("DROP TABLE IF EXISTS main.path_parity_explain")
    conn.queryDF("EXPLAIN FORMATTED CREATE TABLE main.path_parity_explain AS SELECT 1 AS a")
    assert(!engine.spark.catalog.tableExists("main.path_parity_explain"))
  }

  test("DuckDB DML text: casts, table functions and settings inside DML") {
    freshTable()
    def rows(sql: String): Seq[String] =
      conn.queryDF(sql).collect().map(_.toSeq.mkString("|")).toSeq.sorted
    assert(rows(s"INSERT INTO $table SELECT 3, 4::VARCHAR RETURNING *") === Seq("3|4"))
    assert(rows(s"INSERT INTO $table SELECT r_regionkey, r_name FROM " +
      s"parquet_scan('${SparkTestSession.sfDir}/region.parquet') WHERE r_regionkey < 2 " +
      "RETURNING a") === Seq("0", "1"))
    assert(rows(s"INSERT INTO $table SELECT generate_series, 'g' " +
      "FROM generate_series(10, 11) RETURNING a") === Seq("10", "11"))
    assert(rows(s"UPDATE $table SET s = (a*10)::VARCHAR WHERE a = 3") === Seq("1"))
    assert(rows(s"SELECT s FROM $table WHERE a = 3") === Seq("30"))
    assert(rows(s"DELETE FROM $table WHERE s = 30::VARCHAR") === Seq("1"))
    assert(rows(s"INSERT INTO $table SELECT 5, 'main' RETURNING a") === Seq("5"))
    assert(rows(s"DELETE FROM $table WHERE s = current_setting('schema')") === Seq("1"))
    assert(rows(s"SELECT a FROM $table") === Seq("0", "1", "1", "10", "11"))
  }
}
