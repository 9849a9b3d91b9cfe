package graft

import graft.session.{Engine, EngineConfig}
import org.scalatest.funsuite.AnyFunSuite

/** The statement path's parse-tree hook (graftbridge.ParsedSql with the
  * DialectFunctions table) reaches every expression of the statement — CTE
  * bodies, VALUES rows, UNION BY NAME branches, GROUP BY ALL select lists —
  * and touches only calls, never a column or a literal that merely shares a
  * DuckDB function's name. */
class ParseTreeHookSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private lazy val conn =
    new Engine(EngineConfig(existingSession = Some(spark))).connect()

  private def one(sql: String): org.apache.spark.sql.Row = conn.queryDF(sql).collect().head

  test("CTE bodies get the operator rewrites (DuckDB: NULL, 3.5, 9, NULL)") {
    val a = one("WITH c AS (SELECT 1 / 0 AS x, 7 // 2.0 AS y) SELECT x, y FROM c")
    assert(a.isNullAt(0))
    assert(a.get(1).toString.toDouble === 3.5)
    val b = conn.queryDF(
      "WITH c AS (SELECT DATE '2024-03-10' - DATE '2024-03-01' AS d) SELECT d FROM c")
    assert(b.schema.head.dataType === org.apache.spark.sql.types.LongType)
    assert(b.collect().head.getLong(0) === 9L)
    val c = one("SELECT * FROM (WITH c AS (SELECT 1 % 0 AS x) SELECT x FROM c) s")
    assert(c.isNullAt(0))
  }

  test("CTE bodies and VALUES rows get the function table") {
    val r = one("WITH c AS (SELECT log(100) AS l, fsum(x) AS s FROM (VALUES (1), (2)) v(x)) " +
      "SELECT l, s FROM c")
    assert(r.getDouble(0) === 2.0 && r.getDouble(1) === 3.0)
    val v = one("SELECT * FROM (VALUES (1 / 0, log(1000), list_value(1, 2)[2])) t(a, b, c)")
    assert(v.isNullAt(0) && math.abs(v.getDouble(1) - 3.0) < 1e-12 && v.getInt(2) === 2)
  }

  test("FROM-position unnest is a relation: Spark's explode generator") {
    val xs = conn.queryDF("SELECT * FROM unnest(list_value(3, 1, 2))").collect().map(_.getInt(0))
    assert(xs.sorted.toSeq === Seq(1, 2, 3))
  }

  test("columns named like DuckDB functions and literals that spell calls pass through") {
    val r = one(
      """SELECT log, `left`, epoch, 'log(x)' AS lit, log(log) AS fn
        |FROM (SELECT 100 AS log, 'abc' AS `left`, 5 AS epoch)""".stripMargin)
    assert(r.getInt(0) === 100 && r.getString(1) === "abc" && r.getInt(2) === 5)
    assert(r.getString(3) === "log(x)")
    assert(r.getDouble(4) === 2.0) // the call, not the column, is DuckDB's log10
  }

  test("DuckDB spellings resolve inside a UNION BY NAME branch") {
    val df = conn.queryDF(
      """SELECT fsum(x) AS s, list(x) AS l FROM (VALUES (1), (2)) a(x)
        |UNION ALL BY NAME
        |SELECT list(y) AS l, fsum(y) AS s FROM (VALUES (5)) b(y)""".stripMargin)
    assert(df.columns.toSeq === Seq("s", "l"))
    val rows = df.collect().map(r => (r.getDouble(0), r.getSeq[Int](1).sorted)).toSet
    assert(rows === Set((3.0, Seq(1, 2)), (5.0, Seq(5))))
  }

  test("GROUP BY ALL keeps DuckDB aggregate spellings out of the keys") {
    val rows = conn.queryDF(
      """SELECT g, fsum(x) AS s, list(x) AS l
        |FROM (VALUES ('a', 1), ('a', 2), ('b', 5)) t(g, x)
        |GROUP BY ALL ORDER BY g""".stripMargin).collect()
    assert(rows.map(r => (r.getString(0), r.getDouble(1), r.getSeq[Int](2).sorted)).toSeq ===
      Seq(("a", 3.0, Seq(1, 2)), ("b", 5.0, Seq(5))))
  }

  test("date_trunc on DATE, TIMESTAMP and TIMESTAMP_NTZ columns") {
    Tables.registerAll(spark, SparkTestSession.sfDir)
    val months = conn.queryDF(
      "SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m FROM orders")
      .collect().map(_.getDate(0).toLocalDate)
    assert(months.nonEmpty && months.forall(_.getDayOfMonth == 1))
    val r = one(
      """SELECT date_trunc('month', d) AS a, CAST(date_trunc('hour', ts) AS STRING) AS b,
        |       CAST(date_trunc('hour', ntz) AS STRING) AS c, date_trunc('year', ntz) AS e
        |FROM (SELECT DATE '2024-03-10' AS d, TIMESTAMP '2024-03-10 12:34:56' AS ts,
        |             CAST(TIMESTAMP '2024-03-10 12:34:56' AS TIMESTAMP_NTZ) AS ntz)""".stripMargin)
    assert(r.get(0).toString === "2024-03-01")
    assert(r.getString(1) === "2024-03-10 12:00:00")
    assert(r.getString(2) === "2024-03-10 12:00:00")
    assert(r.get(3).toString === "2024-01-01")
  }

  test("aggregate spellings keep FILTER and DISTINCT; scalar ones reject them") {
    val r = one(
      """SELECT fsum(x) FILTER (WHERE x > 1) AS f, string_agg(DISTINCT s, ',' ORDER BY s) AS d,
        |       skewness(x) FILTER (WHERE x > 100) AS k
        |FROM (VALUES (1, 'b'), (2, 'a'), (3, 'b')) t(x, s)""".stripMargin)
    assert(r.getDouble(0) === 5.0 && r.getString(1) === "a,b" && r.isNullAt(2))
    intercept[Exception] {
      conn.queryDF("SELECT log(x) FILTER (WHERE x > 1) FROM (VALUES (10)) t(x)").collect()
    }
    // the table maps fsum to a sum that keeps the FILTER, which analysis folds
    val w = conn.queryDF(
      "SELECT fsum(x) FILTER (WHERE x > 1) OVER () AS w FROM (VALUES (1), (2), (3)) t(x)")
      .collect().map(_.getDouble(0))
    assert(w.toSeq === Seq(5.0, 5.0, 5.0))
  }

  test("window EXCLUDE expands fsum and favg like sum and avg over DOUBLE") {
    val t = "FROM (VALUES (1, 1), (2, 2), (3, 2), (4, 3)) t(x, y)"
    def col(sql: String) = conn.queryDF(sql).collect().map(r =>
      if (r.isNullAt(0)) None else Some(r.get(0).toString.toDouble)).toSeq
    for ((duck, spark) <- Seq("fsum" -> "sum", "kahan_sum" -> "sum", "favg" -> "avg");
         (frame, excl) <- Seq(
           "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING" -> "CURRENT ROW",
           "ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING" -> "CURRENT ROW",
           "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW" -> "TIES",
           "RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING" -> "GROUP")) {
      def q(f: String, arg: String) =
        s"SELECT $f($arg) OVER (ORDER BY y $frame EXCLUDE $excl) AS w $t ORDER BY x"
      val got = col(q(duck, "x"))
      assert(got === col(q(spark, "CAST(x AS DOUBLE)")), s"$duck, $frame EXCLUDE $excl")
      assert(got.exists(_.isDefined))
    }
  }

  test("a temp view keeps the DuckDB meaning of its body when read back") {
    conn.queryDF("CREATE OR REPLACE TEMP VIEW hook_v AS " +
      "SELECT log(100) AS l, fsum(x) AS s FROM (VALUES (1), (2)) t(x)").collect()
    val r = one("SELECT * FROM hook_v")
    assert(r.getDouble(0) === 2.0 && r.getDouble(1) === 3.0)
    // a body the hook leaves alone stays text, whose names bind at each read
    conn.queryDF("CREATE OR REPLACE TEMP VIEW hook_b AS SELECT 1 AS x").collect()
    conn.queryDF("CREATE OR REPLACE TEMP VIEW hook_a AS SELECT * FROM hook_b").collect()
    conn.queryDF("CREATE OR REPLACE TEMP VIEW hook_b AS SELECT 2 AS x").collect()
    assert(one("SELECT * FROM hook_a").getInt(0) === 2)
    // a persisted view would be read back from its text, without the hook
    intercept[UnsupportedOperationException] {
      conn.queryDF("CREATE VIEW hook_p AS SELECT log(100) AS l").collect()
    }
    conn.queryDF("CREATE VIEW hook_p AS SELECT 1 AS one").collect()
    assert(one("SELECT * FROM hook_p").getInt(0) === 1)
    conn.queryDF("DROP VIEW hook_p").collect()
  }
}
