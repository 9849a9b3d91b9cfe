package graft

import graft.session.{Engine, EngineConfig}
import org.scalatest.funsuite.AnyFunSuite

/** DuckDB query-sugar parity: QUALIFY, GROUP BY ALL, ORDER BY ALL,
  * star-EXCLUDE — rewritten by DialectSugar, executed end-to-end through
  * the engine Connection against the shared test tables. Each case is
  * checked against the equivalent hand-expanded Spark SQL. */
class DialectSugarSpec extends AnyFunSuite {

  private lazy val engine =
    new Engine(EngineConfig(existingSession = Some(SparkTestSession.spark)))
  private lazy val conn = engine.connect()

  private def prepare(): Unit =
    Tables.registerAll(SparkTestSession.spark, SparkTestSession.sfDir)

  test("DISTINCT ON keeps the first row per group by the query's ORDER BY") {
    prepare()
    val df = conn.queryDF(
      """SELECT DISTINCT ON (n_regionkey) n_regionkey, n_nationkey, n_name
        |FROM nation
        |ORDER BY n_regionkey, n_nationkey DESC""".stripMargin)
    val expected = conn.queryDF(
      """SELECT n_regionkey, n_nationkey, n_name FROM (
        |  SELECT *, row_number() OVER (PARTITION BY n_regionkey
        |                               ORDER BY n_nationkey DESC) AS rk
        |  FROM nation) WHERE rk = 1 ORDER BY n_regionkey, n_nationkey DESC""".stripMargin)
    assert(df.columns.toSeq === Seq("n_regionkey", "n_nationkey", "n_name"))
    assert(df.collect().map(_.toSeq).toSeq === expected.collect().map(_.toSeq).toSeq)
  }

  test("DISTINCT ON without ORDER BY yields one row per key") {
    prepare()
    val df = conn.queryDF(
      "SELECT DISTINCT ON (n_regionkey, n_nationkey % 2) n_regionkey FROM nation")
    assert(df.count() === 10) // 5 regions × 2 parities
  }

  test("DISTINCT ON in a subquery; literal text untouched") {
    prepare()
    val sub = conn.queryDF(
      """SELECT count(*) AS n FROM (
        |  SELECT DISTINCT ON (n_regionkey) n_regionkey, n_name
        |  FROM nation ORDER BY n_regionkey, n_name)""".stripMargin)
    assert(sub.collect().head.getLong(0) === 5)
    val lit = conn.queryDF("SELECT 'SELECT DISTINCT ON (x) y' AS s")
    assert(lit.collect().head.getString(0) === "SELECT DISTINCT ON (x) y")
  }

  test("QUALIFY filters on a window predicate and hides the marker column") {
    prepare()
    val df = conn.queryDF(
      """SELECT * FROM nation
        |QUALIFY row_number() OVER (PARTITION BY n_regionkey ORDER BY n_nationkey) <= 2
        |ORDER BY n_nationkey""".stripMargin)
    val expected = conn.queryDF(
      """SELECT n_nationkey, n_name, n_regionkey FROM (
        |  SELECT *, row_number() OVER (PARTITION BY n_regionkey ORDER BY n_nationkey) AS rk
        |  FROM nation) WHERE rk <= 2 ORDER BY n_nationkey""".stripMargin)
    assert(!df.columns.contains(graft.dialect.DialectSugar.QualMarker))
    assert(df.columns.toSeq === Seq("n_nationkey", "n_name", "n_regionkey"))
    assert(df.collect().map(_.toSeq).toSeq === expected.collect().map(_.toSeq).toSeq)
  }

  test("QUALIFY inside a subquery and a CTE body") {
    prepare()
    val sub = conn.queryDF(
      """SELECT count(*) AS n FROM (
        |  SELECT * FROM nation
        |  QUALIFY row_number() OVER (PARTITION BY n_regionkey ORDER BY n_nationkey) = 1)""".stripMargin)
    assert(sub.collect().head.getLong(0) === 5)
    val cte = conn.queryDF(
      """WITH firsts AS (
        |  SELECT * FROM nation
        |  QUALIFY row_number() OVER (PARTITION BY n_regionkey ORDER BY n_nationkey) = 1)
        |SELECT count(*) AS n FROM firsts""".stripMargin)
    assert(cte.collect().head.getLong(0) === 5)
  }

  test("GROUP BY ALL groups by the non-aggregate select items") {
    prepare()
    val df = conn.queryDF(
      """SELECT n_regionkey, count(*) AS n, min(n_name) AS first_name
        |FROM nation GROUP BY ALL ORDER BY n_regionkey""".stripMargin)
    val expected = conn.queryDF(
      """SELECT n_regionkey, count(*) AS n, min(n_name) AS first_name
        |FROM nation GROUP BY 1 ORDER BY n_regionkey""".stripMargin)
    assert(df.collect().map(_.toSeq).toSeq === expected.collect().map(_.toSeq).toSeq)
  }

  test("GROUP BY ALL with only aggregates collapses to a global aggregate") {
    prepare()
    val df = conn.queryDF(
      "SELECT count(*) AS n, sum(n_regionkey) AS s FROM nation GROUP BY ALL")
    assert(df.count() === 1)
    assert(df.collect().head.getLong(0) === 25)
  }

  test("ORDER BY ALL orders by every column left to right, with direction") {
    prepare()
    val df = conn.queryDF(
      "SELECT n_regionkey, n_nationkey FROM nation ORDER BY ALL")
    val rows = df.collect().map(r => (r.getInt(0), r.getInt(1))).toSeq
    assert(rows === rows.sorted)
    val desc = conn.queryDF(
      "SELECT n_regionkey, n_nationkey FROM nation ORDER BY ALL DESC")
    val drows = desc.collect().map(r => (r.getInt(0), r.getInt(1))).toSeq
    assert(drows === rows.sorted.reverse)
  }

  test("star EXCLUDE drops the named columns") {
    prepare()
    val df = conn.queryDF(
      "SELECT * EXCLUDE (n_name) FROM nation ORDER BY n_nationkey")
    assert(df.columns.toSeq === Seq("n_nationkey", "n_regionkey"))
    assert(df.count() === 25)
  }

  test("sugar composes: GROUP BY ALL + QUALIFY + ORDER BY ALL in one query") {
    prepare()
    val df = conn.queryDF(
      """SELECT n_regionkey, count(*) AS n FROM nation
        |GROUP BY ALL
        |QUALIFY row_number() OVER (ORDER BY n DESC, n_regionkey) <= 3
        |ORDER BY ALL""".stripMargin)
    assert(df.count() === 3)
    assert(df.columns.toSeq === Seq("n_regionkey", "n"))
  }

  test("set-operation branches rewrite independently") {
    prepare()
    val df = conn.queryDF(
      """SELECT n_regionkey FROM nation GROUP BY ALL
        |UNION ALL
        |SELECT n_regionkey FROM nation GROUP BY ALL
        |ORDER BY ALL""".stripMargin)
    assert(df.count() === 10)
  }

  test("identifiers containing keyword substrings are not mangled") {
    prepare()
    // columns/aliases like `all_union` must not trigger keyword rewrites
    val df = conn.queryDF(
      "SELECT n_regionkey AS union_all, count(*) AS n FROM nation GROUP BY ALL ORDER BY 1")
    assert(df.columns.toSeq === Seq("union_all", "n"))
    assert(df.count() === 5)
  }

  test("star-EXCEPT-looking text inside literals survives byte-identically") {
    prepare()
    val df = conn.queryDF("SELECT '*  EXCEPT (x)' AS s FROM region ORDER BY r_regionkey LIMIT 1")
    assert(df.collect().head.getString(0) === "*  EXCEPT (x)")
  }

  test("ORDER BY ALL composes with LIMIT and bare NULLS ordering") {
    prepare()
    val df = conn.queryDF(
      "SELECT n_regionkey, n_nationkey FROM nation ORDER BY ALL LIMIT 7")
    assert(df.count() === 7)
    val nf = conn.queryDF(
      "SELECT n_regionkey, n_nationkey FROM nation ORDER BY ALL NULLS FIRST LIMIT 3")
    assert(nf.count() === 3)
    val dn = conn.queryDF(
      "SELECT n_regionkey, n_nationkey FROM nation ORDER BY ALL DESC NULLS LAST LIMIT 3")
    assert(dn.collect().head.getInt(1) === 24)
  }

  test("GROUP BY ALL ignores aggregate-looking text inside string literals") {
    prepare()
    val df = conn.queryDF(
      """SELECT concat('sum(', n_name) AS tag, count(*) AS n
        |FROM nation GROUP BY ALL ORDER BY tag LIMIT 5""".stripMargin)
    assert(df.count() === 5)
    assert(df.collect().head.getString(0).startsWith("sum("))
  }

  test("keywords inside SQL comments are ignored") {
    prepare()
    val df = conn.queryDF(
      """SELECT n_regionkey -- QUALIFY GROUP BY ALL (not real)
        |FROM nation /* ORDER BY ALL inside a block comment
        |   spanning lines ( unbalanced */ WHERE n_regionkey = 0
        |ORDER BY n_nationkey""".stripMargin)
    assert(df.count() === 5)
  }

  test("keywords inside string literals are untouched") {
    prepare()
    val df = conn.queryDF(
      "SELECT 'GROUP BY ALL QUALIFY x' AS s, n_regionkey FROM nation GROUP BY ALL ORDER BY 2")
    assert(df.count() === 5)
    assert(df.collect().head.getString(0) === "GROUP BY ALL QUALIFY x")
  }

  // ------------------------------------------------------- star REPLACE

  test("star REPLACE substitutes the expression under the original name") {
    prepare()
    val df = conn.queryDF(
      "SELECT * REPLACE (n_regionkey + 100 AS n_regionkey) FROM nation ORDER BY n_nationkey")
    val expected = conn.queryDF(
      "SELECT n_nationkey, n_name, n_regionkey + 100 AS n_regionkey FROM nation ORDER BY n_nationkey")
    assert(df.columns.sorted.toSeq === Seq("n_name", "n_nationkey", "n_regionkey"))
    val key = (r: org.apache.spark.sql.Row) => df.columns.sorted.map(c => r.getAs[Any](c)).toSeq
    assert(df.collect().map(key).toSeq === expected.collect().map(key).toSeq)
  }

  test("qualified star t.* REPLACE resolves against the alias") {
    prepare()
    val df = conn.queryDF(
      """SELECT n.* REPLACE (upper(n_name) AS n_name)
        |FROM nation n ORDER BY n_nationkey""".stripMargin)
    assert(df.columns.sorted.toSeq === Seq("n_name", "n_nationkey", "n_regionkey"))
    assert(df.select("n_name").collect().forall(r => r.getString(0) == r.getString(0).toUpperCase))
    assert(df.count() === 25)
  }

  test("EXCLUDE merges into the REPLACE-emitted EXCEPT list") {
    prepare()
    val df = conn.queryDF(
      """SELECT * EXCLUDE (n_name) REPLACE (n_regionkey * 2 AS n_regionkey)
        |FROM nation ORDER BY n_nationkey""".stripMargin)
    assert(df.columns.sorted.toSeq === Seq("n_nationkey", "n_regionkey"))
    assert(df.collect().head.getInt(df.columns.indexOf("n_regionkey")) % 2 === 0)
  }

  test("REPLACE spec expressions may contain commas and nested parens") {
    prepare()
    val df = conn.queryDF(
      """SELECT * REPLACE (concat(n_name, ',', 'x') AS n_name) FROM nation
        |ORDER BY n_nationkey LIMIT 1""".stripMargin)
    assert(df.collect().head.getAs[String]("n_name").endsWith(",x"))
  }

  test("multiplication before replace(...) is not a star REPLACE item") {
    // `a * replace(x,y,z)` — the star is arithmetic; the rewrite must not touch it
    val sql = "SELECT n_regionkey * replace(n_name, 'a', 'b') AS x FROM nation"
    assert(graft.dialect.DialectSugar.rewrite(sql) === sql)
    val sql2 = "SELECT 2 * replace('3', 'q', 'z') AS x FROM region"
    assert(graft.dialect.DialectSugar.rewrite(sql2) === sql2)
  }

  test("star REPLACE text inside literals and comments is untouched") {
    prepare()
    val lit = conn.queryDF(
      "SELECT '* REPLACE (x AS y)' AS s FROM region ORDER BY r_regionkey LIMIT 1")
    assert(lit.collect().head.getString(0) === "* REPLACE (x AS y)")
    val commented = conn.queryDF(
      """SELECT n_regionkey -- * REPLACE (a AS b) not real
        |FROM nation WHERE n_regionkey = 0""".stripMargin)
    assert(commented.count() === 5)
  }

  test("star REPLACE rewrites each set-operation branch independently") {
    prepare()
    val df = conn.queryDF(
      """SELECT * REPLACE (n_regionkey + 1 AS n_regionkey) FROM nation
        |UNION ALL
        |SELECT * REPLACE (n_regionkey + 2 AS n_regionkey) FROM nation""".stripMargin)
    assert(df.count() === 50)
    val sums = df.groupBy().sum("n_regionkey").collect().head.getLong(0)
    // base sum(n_regionkey) over nation = 50; +1 and +2 per 25 rows
    assert(sums === 50 * 2 + 25 + 50)
  }

  test("star REPLACE inside a subquery is rewritten; count(*) is untouched") {
    prepare()
    val df = conn.queryDF(
      """SELECT count(*) AS n FROM (
        |  SELECT * REPLACE (n_regionkey + 1 AS n_regionkey) FROM nation
        |  WHERE n_regionkey < 2)""".stripMargin)
    assert(df.collect().head.getLong(0) === 10)
  }

  // ------------------------------------- QUALIFY over unprojected columns

  test("QUALIFY may reference unprojected columns: injected then stripped") {
    prepare()
    val rewritten = graft.dialect.DialectSugar.rewrite(
      "SELECT n_name FROM nation QUALIFY row_number() OVER (PARTITION BY n_regionkey ORDER BY n_nationkey) = 1")
    // both unprojected predicate columns join the strip list with the marker
    assert(rewritten.contains(
      s"EXCEPT (${graft.dialect.DialectSugar.QualMarker}, n_regionkey, n_nationkey)"))
    val df = conn.queryDF(
      """SELECT n_name FROM nation
        |QUALIFY row_number() OVER (PARTITION BY n_regionkey ORDER BY n_nationkey) = 1
        |ORDER BY n_name""".stripMargin)
    assert(df.columns.toSeq === Seq("n_name"))
    assert(df.count() === 5)
  }

  test("QUALIFY injection bails out on grouped and DISTINCT bases") {
    // grouped base: injecting a column would change grouping semantics —
    // the unknown column must NOT appear in the projection (loud error
    // downstream is acceptable; silent regrouping is not)
    val grouped = graft.dialect.DialectSugar.rewrite(
      "SELECT n_regionkey, count(*) AS n FROM nation GROUP BY 1 QUALIFY row_number() OVER (ORDER BY mystery_col) = 1")
    assert(!grouped.contains(", mystery_col"))
    assert(grouped.contains(s"EXCEPT (${graft.dialect.DialectSugar.QualMarker})"))
    val distinct = graft.dialect.DialectSugar.rewrite(
      "SELECT DISTINCT n_regionkey FROM nation QUALIFY rank() OVER (ORDER BY other_col) = 1")
    assert(!distinct.contains(", other_col"))
  }

  test("QUALIFY on a grouped base still works over projected columns") {
    prepare()
    val df = conn.queryDF(
      """SELECT n_regionkey, count(*) AS n FROM nation GROUP BY 1
        |QUALIFY row_number() OVER (ORDER BY n DESC, n_regionkey) <= 2
        |ORDER BY n_regionkey""".stripMargin)
    assert(df.count() === 2)
    assert(df.columns.toSeq === Seq("n_regionkey", "n"))
  }

  test("GROUP BY ALL excludes window items from the grouping keys") {
    prepare()
    // ratio-to-report: the windowed sum-of-sums is evaluated AFTER grouping
    // (DuckDB semantics) and must not be emitted as a group key
    val df = conn.queryDF(
      """SELECT n_regionkey, sum(n_nationkey) AS s, sum(sum(n_nationkey)) OVER () AS tot
        |FROM nation GROUP BY ALL ORDER BY 1""".stripMargin)
    assert(df.count() === 5)
    assert(df.collect().forall(_.getLong(2) === 300L))
  }

  test("bare SEMI / ANTI JOIN rewrite to Spark's LEFT-prefixed forms") {
    // Spark's parser reads both bare spellings as its LEFT forms: no text
    // pass is involved, the parsed plan carries the join types
    import org.apache.spark.sql.catalyst.plans.{LeftAnti, LeftSemi}
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val plan = SparkTestSession.spark.sessionState.sqlParser.parsePlan(
      "SELECT * FROM a SEMI JOIN b ON a.k = b.k ANTI JOIN c ON a.k = c.k")
    assert(plan.collect { case j: Join => j.joinType }.toSet === Set(LeftSemi, LeftAnti))
    // already-prefixed forms and literal text stay untouched
    val kept = graft.dialect.DialectSugar.rewrite(
      "SELECT 'semi join me' AS s FROM a LEFT SEMI JOIN b ON a.k = b.k")
    assert(kept.contains("'semi join me'"))
    assert(!kept.contains("LEFT LEFT"))
  }

  test("SEMI JOIN executes as a semi join end-to-end") {
    prepare()
    val df = conn.queryDF(
      """SELECT n_nationkey FROM nation SEMI JOIN region
        |  ON n_regionkey = r_regionkey AND r_regionkey < 2
        |ORDER BY n_nationkey""".stripMargin)
    assert(df.count() === 10) // 2 regions x 5 nations
    assert(df.columns.toSeq === Seq("n_nationkey")) // right side not projected
  }

  test("USING SAMPLE spellings rewrite to TABLESAMPLE") {
    def rw(s: String) = graft.dialect.DialectSugar.rewrite(s)
    assert(rw("SELECT * FROM t USING SAMPLE 10%")
      .contains("TABLESAMPLE (10 PERCENT)"))
    assert(rw("SELECT * FROM t USING SAMPLE 50 ROWS")
      .contains("TABLESAMPLE (50 ROWS)"))
    assert(rw("SELECT * FROM t USING SAMPLE 50") // bare count = ROWS
      .contains("TABLESAMPLE (50 ROWS)"))
    assert(rw("SELECT * FROM t USING SAMPLE bernoulli(20%)")
      .contains("TABLESAMPLE (20 PERCENT)"))
    assert(rw("SELECT * FROM t USING SAMPLE reservoir(40 ROWS)")
      .contains("TABLESAMPLE (40 ROWS)"))
    assert(rw("SELECT * FROM t USING SAMPLE 10% (system, 377)")
      .contains("TABLESAMPLE (10 PERCENT) REPEATABLE (377)"))
    assert(rw("SELECT * FROM t USING SAMPLE 10 ROWS REPEATABLE (42)")
      .contains("TABLESAMPLE (10 ROWS) REPEATABLE (42)"))
    // a subquery's closing paren after the clause is not consumed
    val sub = rw("SELECT * FROM (SELECT * FROM t USING SAMPLE 5) q")
    assert(sub.contains("TABLESAMPLE (5 ROWS)) q"))
  }

  test("USING SAMPLE n ROWS returns exactly n rows end-to-end") {
    prepare()
    val df = conn.queryDF("SELECT * FROM orders USING SAMPLE 50 ROWS")
    assert(df.count() === 50)
    val pct = conn.queryDF(
      "SELECT * FROM orders USING SAMPLE 50% (bernoulli) REPEATABLE (7)")
    val total = conn.queryDF("SELECT * FROM orders").count()
    val n = pct.count()
    assert(n > 0 && n < total) // Bernoulli: strictly sampled, nonempty w.h.p.
  }
}
