package graft

import graft.session.{Engine, EngineConfig}
import org.scalatest.funsuite.AnyFunSuite

/** DELETE / UPDATE / INSERT..RETURNING — DuckDB's DML statements over the
  * engine's copy-on-write tables (parquet has no in-place mutation; the
  * semantics match DuckDB's, the mechanics match Delta/Iceberg's). */
class DmlSpec extends AnyFunSuite {

  private lazy val engine =
    new Engine(EngineConfig(existingSession = Some(SparkTestSession.spark)))
  private lazy val conn = engine.connect()

  private def setup(name: String): Unit = {
    drop(name)
    conn.queryDF(
      s"CREATE TABLE main.$name AS " +
        "SELECT 1 AS id, 'a' AS tag, CAST(10.0 AS DOUBLE) AS v UNION ALL " +
        "SELECT 2, 'b', 20.0 UNION ALL " +
        "SELECT 3, 'a', 30.0 UNION ALL SELECT 4, 'c', 40.0")
  }

  private def drop(name: String): Unit = {
    conn.queryDF(s"DROP TABLE IF EXISTS main.$name")
    // a crashed earlier run can orphan the managed location after the DROP
    val loc = new java.io.File(s"spark-warehouse/main.db/$name")
    if (loc.exists()) {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(loc)
    }
  }

  test("DELETE FROM with WHERE removes matching rows and reports the count") {
    setup("dml_d")
    val n = conn.queryDF("DELETE FROM main.dml_d WHERE tag = 'a'")
      .collect().head.getLong(0)
    assert(n === 2L)
    val left = conn.queryDF("SELECT id FROM main.dml_d ORDER BY id")
      .collect().map(_.getInt(0)).toSeq
    assert(left === Seq(2, 4))
    // bare DELETE empties the table
    assert(conn.queryDF("DELETE FROM main.dml_d").collect().head.getLong(0) === 2L)
    assert(conn.queryDF("SELECT count(*) AS n FROM main.dml_d")
      .collect().head.getLong(0) === 0L)
    conn.queryDF("DROP TABLE main.dml_d")
  }

  test("UPDATE SET with WHERE rewrites only matching rows, keeps types") {
    setup("dml_u")
    val n = conn.queryDF(
      "UPDATE main.dml_u SET v = v * 2, tag = upper(tag) WHERE id <= 2")
      .collect().head.getLong(0)
    assert(n === 2L)
    val rows = conn.queryDF("SELECT id, tag, v FROM main.dml_u ORDER BY id")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getDouble(2))).toSeq
    assert(rows === Seq((1, "A", 20.0), (2, "B", 40.0), (3, "a", 30.0), (4, "c", 40.0)))
    conn.queryDF("DROP TABLE main.dml_u")
  }

  test("INSERT .. RETURNING evaluates the projection over the inserted rows") {
    setup("dml_i")
    val ret = conn.queryDF(
      "INSERT INTO main.dml_i VALUES (5, 'e', 50.0), (6, 'f', 60.0) RETURNING id, v * 10 AS v10")
      .collect().map(r => (r.getInt(0), r.getDouble(1))).toSeq.sorted
    assert(ret === Seq((5, 500.0), (6, 600.0)))
    assert(conn.queryDF("SELECT count(*) AS n FROM main.dml_i")
      .collect().head.getLong(0) === 6L)
    // column-list form: unlisted columns are NULL
    val r2 = conn.queryDF(
      "INSERT INTO main.dml_i (id, tag) VALUES (7, 'g') RETURNING *").collect().head
    assert(r2.getInt(0) === 7 && r2.getString(1) === "g" && r2.isNullAt(2))
    conn.queryDF("DROP TABLE main.dml_i")
  }

  /** (1, 'x'), (2, NULL), (3, 'y'): a predicate on `s` is NULL for row 2. */
  private def setupNulls(name: String): Unit = {
    drop(name)
    conn.queryDF(
      s"CREATE TABLE main.$name AS SELECT * FROM " +
        "(VALUES (1, 'x'), (2, CAST(NULL AS STRING)), (3, 'y')) v(a, s)")
  }

  private def nullRows(name: String): Seq[(Int, String)] =
    conn.queryDF(s"SELECT a, s FROM main.$name ORDER BY a")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq

  test("DELETE keeps the rows whose predicate is NULL, as DuckDB does") {
    setupNulls("dml_dn")
    val n = conn.queryDF("DELETE FROM main.dml_dn WHERE s = 'x'")
      .collect().head.getLong(0)
    assert(n === 1L)
    assert(nullRows("dml_dn") === Seq((2, null), (3, "y")))
    conn.queryDF("DROP TABLE main.dml_dn")
  }

  test("UPDATE leaves the rows whose predicate is NULL unchanged") {
    setupNulls("dml_un")
    val n = conn.queryDF("UPDATE main.dml_un SET a = a * 10 WHERE s <> 'x'")
      .collect().head.getLong(0)
    assert(n === 1L)
    assert(nullRows("dml_un") === Seq((1, "x"), (2, null), (30, "y")))
    conn.queryDF("DROP TABLE main.dml_un")
  }

  test("EXPLAIN returns the plan; EXPLAIN ANALYZE runs the query") {
    Tables.registerAll(SparkTestSession.spark, SparkTestSession.sfDir)
    val plan = conn.queryDF(
      "EXPLAIN SELECT n_name FROM nation WHERE n_nationkey < 5").collect().head
    assert(plan.getString(0) === "physical_plan")
    assert(plan.getString(1).contains("Scan parquet") ||
      plan.getString(1).contains("Scan"))
    val analyzed = conn.queryDF(
      "EXPLAIN ANALYZE SELECT count(*) FROM nation").collect().head
    assert(analyzed.getString(0) === "analyzed_plan")
    // dialect text inside EXPLAIN still rewrites (list spelling)
    val dialect = conn.queryDF(
      "EXPLAIN SELECT list_extract(regexp_split_to_array(n_name, '\\s'), 1) FROM nation")
      .collect().head.getString(1)
    assert(dialect.contains("element_at") || dialect.contains("split"))
    // Spark's own mode keyword keeps Spark's shape
    val formatted = conn.queryDF("EXPLAIN FORMATTED SELECT 1 AS x")
    assert(formatted.columns.toSeq === Seq("plan"))
  }

  test("DML on a temp view rewrites the view in place") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    Seq((1, 5.0), (2, 6.0), (3, 7.0)).toDF("id", "v")
      .createOrReplaceTempView("__dml_view")
    val n = conn.queryDF("DELETE FROM __dml_view WHERE id = 2")
      .collect().head.getLong(0)
    assert(n === 1L)
    assert(conn.queryDF("SELECT count(*) AS n FROM __dml_view")
      .collect().head.getLong(0) === 2L)
  }
}
