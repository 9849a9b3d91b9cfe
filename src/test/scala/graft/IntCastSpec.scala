package graft

import graft.functions.GraftIntCast
import graft.session.{Engine, EngineConfig}
import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** DuckDB numeric→integer CAST rounding (Spark truncates): which casts the
  * statement path's parse-tree hook makes the rounding GraftIntCast, and
  * executed values pinned against DuckDB 1.0.0: DOUBLE→int half-EVEN,
  * DECIMAL→int half-AWAY, VARCHAR→int parse + half-AWAY, TRY_CAST NULL
  * where the value does not parse or fit. */
class IntCastSpec extends AnyFunSuite {

  private lazy val conn = {
    val spark = SparkTestSession.spark
    spark.sql("SELECT 1.5D AS x, 2 AS a, 3 AS b, 'q' AS s, array(1, 2) AS xs")
      .createOrReplaceTempView("icast_t")
    new Engine(EngineConfig(existingSession = Some(spark))).connect()
  }

  private def one(sql: String): Any = conn.queryDF(sql).collect().head.get(0)

  /** The GraftIntCasts of the analyzed plan, as (target, eval mode). */
  private def intCasts(sql: String): Seq[(DataType, EvalMode.Value)] =
    conn.queryDF(sql).queryExecution.analyzed.flatMap(_.expressions.flatMap(_.collect {
      case g: GraftIntCast => (g.to, g.evalMode)
    }))

  /** A plain cast's mode: the session's. */
  private lazy val SessionMode =
    if (SparkTestSession.spark.conf.get("spark.sql.ansi.enabled").toBoolean) EvalMode.ANSI
    else EvalMode.LEGACY

  test("CAST(e AS INT/BIGINT/...) rewrites; non-integer targets stay") {
    assert(intCasts("SELECT CAST(x AS INT) FROM icast_t") === Seq((IntegerType, SessionMode)))
    assert(intCasts("SELECT CAST(a + b AS BIGINT) FROM icast_t") === Seq((LongType, SessionMode)))
    assert(intCasts("SELECT CAST(concat(s, ',') AS SMALLINT) FROM icast_t") ===
      Seq((ShortType, SessionMode)))
    assert(intCasts("SELECT TRY_CAST(x AS TINYINT) FROM icast_t") ===
      Seq((ByteType, EvalMode.TRY)))
    for (q <- Seq(
      "SELECT CAST(x AS DOUBLE) FROM icast_t",
      "SELECT CAST(x AS VARCHAR) FROM icast_t",
      "SELECT CAST(x AS DECIMAL(4,2)) FROM icast_t",
      "SELECT CAST(xs AS ARRAY<BIGINT>) FROM icast_t",
      "SELECT 'CAST(x AS INT)' AS lit FROM icast_t"))
      assert(intCasts(q).isEmpty, s"changed: $q")
    assert(one("SELECT 'CAST(x AS INT)' AS lit") === "CAST(x AS INT)")
    assert(one("SELECT CAST(xs AS ARRAY<BIGINT>) AS v FROM icast_t").toString === "ArraySeq(1, 2)")
  }

  test("nested casts rewrite inside-out without touching outer targets") {
    val plan = conn.queryDF("SELECT CAST(CAST(a AS INT) AS VARCHAR) AS v FROM icast_t")
      .queryExecution.analyzed
    val outer = plan.expressions.flatMap(_.collect { case c: Cast => c })
    assert(outer.map(_.dataType) === Seq(StringType))
    assert(outer.head.child.isInstanceOf[GraftIntCast])
    assert(one("SELECT CAST(CAST(2.5 AS INT) AS VARCHAR) AS v") === "3")
    assert(one("SELECT CAST(CAST(x AS DOUBLE) AS BIGINT) AS v FROM icast_t") === 2L)
  }

  test(":: postfix form rewrites; INTERVAL and array types excluded") {
    assert(intCasts("SELECT x::INT FROM icast_t") === Seq((IntegerType, SessionMode)))
    assert(intCasts("SELECT (a + b)::BIGINT FROM icast_t") === Seq((LongType, SessionMode)))
    assert(one("SELECT '2.5'::INTEGER AS v") === 3)
    for (q <- Seq(
      "SELECT '1 day'::INTERVAL FROM icast_t",
      "SELECT x::DOUBLE FROM icast_t",
      "SELECT xs::ARRAY<BIGINT> FROM icast_t"))
      assert(intCasts(q).isEmpty, s"changed: $q")
  }

  test("executed values match DuckDB's type-dependent rounding") {
    // DECIMAL literals: half-away
    assert(one("SELECT CAST(2.5 AS INT) AS x") === 3)
    assert(one("SELECT CAST(-2.5 AS INT) AS x") === -3)
    assert(one("SELECT CAST(2.4 AS INT) AS x") === 2)
    // DOUBLE: half-even (rint)
    assert(one("SELECT CAST(CAST(2.5 AS DOUBLE) AS INT) AS x") === 2)
    assert(one("SELECT CAST(CAST(3.5 AS DOUBLE) AS INT) AS x") === 4)
    assert(one("SELECT CAST(CAST(-2.5 AS DOUBLE) AS INT) AS x") === -2)
    // VARCHAR: parse then half-away
    assert(one("SELECT CAST('2.5' AS INT) AS x") === 3)
    assert(one("SELECT CAST('-2.5' AS INT) AS x") === -3)
    assert(one("SELECT '2.7'::BIGINT AS x") === 3L)
    // integral sources unchanged
    assert(one("SELECT CAST(7 AS BIGINT) AS x") === 7L)
    assert(one("SELECT CAST(TRUE AS INT) AS x") === 1)
  }

  test("TRY_CAST rounds like DuckDB 1.0.0 and is NULL where the value does not parse or fit") {
    assert(one("SELECT TRY_CAST('1.5' AS INT) AS v") === 2)
    assert(one("SELECT TRY_CAST(3.5::DOUBLE AS INT) AS v") === 4)
    assert(one("SELECT TRY_CAST(2.5::DECIMAL(4,1) AS INT) AS v") === 3)
    assert(one("SELECT TRY_CAST('-2.5' AS INT) AS v") === -3)
    assert(one("SELECT TRY_CAST('1e3' AS INT) AS v") === 1000)
    for (e <- Seq("'abc'", "'1-URGENT'", "300", "1e20")) {
      val t = if (e == "300") "TINYINT" else "INT"
      assert(one(s"SELECT TRY_CAST($e AS $t) AS v") === null, e)
    }
    // the same over a column, past constant folding
    val r = conn.queryDF("""SELECT TRY_CAST(s AS INT) AS v FROM VALUES
      |  ('1.5'), ('-2.5'), ('1e3'), ('abc'), ('1-URGENT') AS t(s)""".stripMargin)
      .collect().map(_.get(0)).toSeq
    assert(r === Seq(2, -3, 1000, null, null))
  }

  test("a cast over a window aggregate rounds") {
    val r = conn.queryDF(
      "SELECT CAST(avg(x) OVER () AS INT) AS v FROM VALUES (1), (2) AS t(x)")
      .collect().map(_.getInt(0)).toSeq
    assert(r === Seq(2, 2))
  }

  test("an unaliased cast is named by the cast, not by the engine's expression") {
    val df = conn.queryDF("SELECT CAST(x AS INT), a::BIGINT, TRY_CAST(s AS SMALLINT) FROM icast_t")
    assert(df.columns.toSeq === Seq("CAST(x AS INT)", "CAST(a AS BIGINT)",
      "TRY_CAST(s AS SMALLINT)"))
  }

  test("a function template's fractional cast still truncates") {
    // datesub's template casts months_between (1.97 here) to BIGINT;
    // DuckDB 1.0.0 answers 1 whole month
    assert(one(
      "SELECT datesub('month', DATE '2024-01-15', DATE '2024-03-14') AS v") === 1L)
  }

  test("a prefix minus applies after the cast") {
    for (q <- Seq("SELECT -128::TINYINT AS v", "SELECT (-128::TINYINT) AS v")) {
      val e = intercept[Exception](conn.queryDF(q).collect())
      assert(e.getMessage.contains("CAST_OVERFLOW"), e.getMessage)
    }
    assert(one("SELECT bit_count(-1::TINYINT) AS v") === 8)
    // a binary minus and an exponent's sign keep their meaning
    assert(one("SELECT 5 -1::TINYINT AS v") === 4)
    assert(one("SELECT 2e-1::DOUBLE AS v") === 0.2)
  }

  test("a stored view with a rounding integer cast must be a temp view") {
    // a persisted view stores text, which Spark reads back with its own cast
    val e = intercept[UnsupportedOperationException](conn.queryDF(
      "CREATE VIEW icast_v AS SELECT CAST(x AS INT) AS v FROM VALUES (1.5D) AS t(x)"))
    assert(e.getMessage.contains("CREATE TEMP VIEW"))
    conn.queryDF("CREATE OR REPLACE TEMP VIEW icast_tv AS SELECT CAST(x AS INT) AS v FROM icast_t")
    assert(one("SELECT v FROM icast_tv") === 2)
    // a cast of integral values reads back the same from text
    conn.queryDF("CREATE OR REPLACE VIEW icast_pv AS " +
      "SELECT CAST(sum(x) OVER () AS INT) AS v FROM VALUES (1), (2) AS t(x)").collect()
    try assert(one("SELECT v FROM icast_pv") === 3)
    finally conn.queryDF("DROP VIEW IF EXISTS icast_pv").collect()
  }
}
