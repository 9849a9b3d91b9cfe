package graft

import graft.dialect.DialectSyntax
import graft.session.{Engine, EngineConfig}
import org.scalatest.funsuite.AnyFunSuite

/** DuckDB function-spelling parity (the DialectFunctions tree table), the
  * text-level operator forms (DialectSyntax) and the dialect's literal-escape
  * translation, end-to-end through the engine Connection. */
class DialectFunctionsSpec extends AnyFunSuite {

  private lazy val engine =
    new Engine(EngineConfig(existingSession = Some(SparkTestSession.spark)))
  private lazy val conn = engine.connect()

  private def prepare(): Unit =
    Tables.registerAll(SparkTestSession.spark, SparkTestSession.sfDir)

  // ------------------------------------------------------ spelling table
  test("name map rewrites list functions and unnest") {
    prepare()
    val xs = "list_value('b', NULL, 'a', 'b')"
    val rows = conn.queryDF(
      s"""SELECT unnest(list_distinct($xs)) AS u, list_contains($xs, 'a') AS c,
         |       LIST_EXTRACT($xs, 1) AS e""".stripMargin).collect()
    // list_distinct drops NULL elements since round 13 (probe grid)
    assert(rows.map(_.getString(0)).sorted.toSeq === Seq("a", "b"))
    assert(rows.forall(r => r.getBoolean(1) && r.getString(2) == "b"))
  }

  test("function names inside string literals are untouched") {
    val r = conn.queryDF("SELECT 'call unnest(x) and list_sort(y)' AS s").collect().head
    assert(r.getString(0) === "call unnest(x) and list_sort(y)")
  }

  test("string_split quotes a literal separator for Spark's regex split") {
    val r = conn.queryDF("SELECT string_split('a.b.c', '.') AS v").collect().head
    assert(r.getSeq[String](0) === Seq("a", "b", "c"))
    // non-literal separator: no safe quoting — the call stays unresolved
    val e = intercept[Exception] {
      conn.queryDF("SELECT string_split(a, b) AS v FROM (SELECT 'x.y' AS a, '.' AS b)").collect()
    }
    assert(e.getMessage.toLowerCase.contains("string_split"))
  }

  test("range maps to a guarded sequence (end-exclusive, empty-safe)") {
    prepare()
    val rows = conn.queryDF(
      "SELECT unnest(range(2, 5)) AS v").collect().map(_.getLong(0)).toSeq
    assert(rows === Seq(2L, 3L, 4L))
    val empty = conn.queryDF(
      "SELECT size(range(5, 2)) AS n").collect().head.getInt(0)
    assert(empty === 0)
  }

  // ----------------------------------------------- end-to-end via engine
  test("split on a backslash regex survives the literal-escape translation") {
    prepare()
    val df = conn.queryDF(
      """SELECT CAST(array_length(regexp_split_to_array(trim(n_name), '\s+')) AS BIGINT) AS n
        |FROM nation WHERE n_nationkey = 0""".stripMargin)
    assert(df.collect().head.getLong(0) >= 1L)
  }

  test("regexp_replace: DuckDB first-match default, 'g'/'i' flags, \\N backrefs") {
    prepare()
    def one(sql: String): String =
      conn.queryDF(s"SELECT $sql AS v").collect().head.getString(0)
    // first-only default (Spark's builtin would give 'X bbb X')
    assert(one("regexp_replace('aaa bbb aaa', 'a+', 'X')") === "X bbb aaa")
    assert(one("regexp_replace('aaa bbb aaa', 'a+', 'X', 'g')") === "X bbb X")
    assert(one("regexp_replace('Hello World', 'h', 'X', 'i')") === "Xello World")
    assert(one("regexp_replace('aAbA', 'a', 'X', 'gi')") === "XXbX")
    // RE2 rewrite syntax: \1 is a backref, $ is literal
    assert(one("""regexp_replace('john@x.com', '(\w+)@', '\1 AT ')""") === "john AT x.com")
    assert(one("""regexp_replace('a$b', '\$', 'USD')""") === "aUSDb")
    assert(one("regexp_replace('ab', 'b', '$0')") === "a$0")
  }

  test("quantified ALL/ANY/SOME comparisons reduce to scalar-subquery / IN forms") {
    val out = DialectSyntax.rewrite(
      "SELECT 1 FROM t WHERE a > ALL (SELECT b FROM u) AND c = ANY (SELECT d FROM v)")
    assert(out.contains("> (SELECT max(_qv) FROM (SELECT b FROM u) AS _qall_"))
    assert(out.matches("(?s).*c\\s+IN \\(SELECT d FROM v\\).*"))
    val anti = DialectSyntax.rewrite(
      "SELECT 1 FROM t WHERE a <> ALL (SELECT b FROM u) AND a < SOME (SELECT b FROM u)")
    assert(anti.matches("(?s).*a\\s+NOT IN \\(SELECT b FROM u\\).*"))
    assert(anti.contains("< (SELECT max(_qv)"))
    // non-subquery parens (IN-list) untouched; = ALL has no reduction
    val skip = DialectSyntax.rewrite(
      "SELECT 1 FROM t WHERE a = ALL (SELECT b FROM u) AND c > ALL (1, 2)")
    assert(skip.contains("= ALL (SELECT b FROM u)") && skip.contains("> ALL (1, 2)"))
    prepare()
    val n = conn.queryDF(
      """SELECT count(*) AS n FROM orders
        |WHERE o_totalprice >= ALL (SELECT o_totalprice FROM orders)""".stripMargin)
      .collect().head.getLong(0)
    assert(n >= 1L) // the maximum-priced order(s) survive
  }

  test("scalar generate_series folds to sequence; step and interval forms included") {
    prepare()
    val r = conn.queryDF(
      """SELECT generate_series(1, 5) AS a, generate_series(0, 10, 5) AS b,
        |       generate_series(5, 1, -2) AS c""".stripMargin).collect().head
    assert(r.getSeq[Any](0).map(_.toString) === Seq("1", "2", "3", "4", "5"))
    assert(r.getSeq[Any](1).map(_.toString) === Seq("0", "5", "10"))
    assert(r.getSeq[Any](2).map(_.toString) === Seq("5", "3", "1"))
    val ts = conn.queryDF(
      """SELECT size(generate_series(TIMESTAMP '2024-01-01',
        |     TIMESTAMP '2024-01-07', INTERVAL 3 DAY)) AS n""".stripMargin)
      .collect().head.getInt(0)
    assert(ts === 3) // 01, 04, 07
  }

  test("dayname/monthname render English names via date_format") {
    prepare()
    val r = conn.queryDF(
      "SELECT dayname(DATE '2024-01-01') AS d, monthname(DATE '2024-03-15') AS m")
      .collect().head
    assert(r.getString(0) === "Monday")
    assert(r.getString(1) === "March")
  }

  test("regexp_extract: 2-arg returns the full match (group 0), not group 1") {
    prepare()
    val r = conn.queryDF(
      """SELECT regexp_extract('abc123def', '[0-9]+') AS full,
        |       regexp_extract('abc123def', '([a-z]+)([0-9]+)', 2) AS grp,
        |       regexp_extract('abc', 'z+') AS miss""".stripMargin)
      .collect().head
    assert(r.getString(0) === "123")
    assert(r.getString(1) === "123")
    assert(r.getString(2) === "") // DuckDB 1.0.0: empty string, not NULL
  }

  test("string predicate spellings map to Spark names") {
    prepare()
    val r = conn.queryDF(
      "SELECT regexp_matches('Widget', '^W') AS a, starts_with('abc', 'ab') AS b, ends_with('abc', 'bc') AS c")
      .collect().head
    assert(r.getBoolean(0) && r.getBoolean(1) && r.getBoolean(2))
  }

  test("array_to_string joins with the separator but is NULL for empty lists (DuckDB 1.x)") {
    prepare()
    val r = conn.queryDF(
      """SELECT array_to_string(array('a', 'b'), '|') AS joined,
        |       array_to_string(filter(array('x'), t -> false), '|') AS empty,
        |       array_to_string(array(''), '|') AS one_empty_elem""".stripMargin)
      .collect().head
    assert(r.getString(0) === "a|b")
    assert(r.isNullAt(1)) // DuckDB: array_to_string([], '|') IS NULL
    assert(r.getString(2) === "") // [''] joins to '' — NOT nulled
  }

  test("JSON ->> maps to get_json_object with path normalization") {
    assert(DialectSyntax.rewrite("SELECT j ->> '$.a.b' FROM t") ===
      "SELECT get_json_object(j, '$.a.b') FROM t")
    assert(DialectSyntax.rewrite("SELECT j ->> 'key' FROM t") ===
      "SELECT get_json_object(j, '$.key') FROM t")
    // inside a literal: untouched
    assert(DialectSyntax.rewrite("SELECT 'a ->> ''b''' AS s") ===
      "SELECT 'a ->> ''b''' AS s")
    prepare()
    val v = conn.queryDF(
      "SELECT CAST(props ->> 'k' AS BIGINT) AS k FROM events WHERE event_id = 0")
      .collect().head.getLong(0)
    assert(v >= 0L)
  }

  test("strftime maps C patterns to date_format incl. quoted literal letters") {
    prepare()
    val t = conn.queryDF(
      "SELECT strftime(TIMESTAMP '2024-01-02 03:04:05', '%Y-%m-%dT%H:%M') AS v")
      .collect().head.getString(0)
    assert(t === "2024-01-02T03:04")
    val v = conn.queryDF(
      "SELECT strftime(o_orderdate, '%Y-%m') AS m FROM orders WHERE o_orderkey = 1")
      .collect().head.getString(0)
    assert(v.matches("\\d{4}-\\d{2}"))
  }

  test("strptime maps to to_timestamp and epoch_ms to unix_millis") {
    prepare()
    val ts = conn.queryDF(
      "SELECT CAST(strptime('03/15/2024', '%m/%d/%Y') AS STRING) AS v")
      .collect().head.getString(0)
    assert(ts === "2024-03-15 00:00:00")
    val ms = conn.queryDF(
      "SELECT epoch_ms(strptime('01/02/1970', '%m/%d/%Y')) AS ms")
      .collect().head.getLong(0)
    assert(ms === 86400000L)
  }

  test("epoch_ms integer overload converts ms to TIMESTAMP (DuckDB parity)") {
    prepare()
    // integer-typed argument → epoch_ms(BIGINT) overload
    val d = conn.queryDF("SELECT CAST(epoch_ms(86400000) AS DATE) AS d")
      .collect().head.getDate(0).toString
    assert(d === "1970-01-02")
    // the :: cast arrives as the hook's GraftIntCast and must still
    // pick the BIGINT overload; everything else takes TIMESTAMP → ms
    val r = conn.queryDF(
      """SELECT CAST(epoch_ms(x::BIGINT) AS STRING) AS a,
        |       epoch_ms(TIMESTAMP '1970-01-02 00:00:00') AS b
        |FROM (SELECT '86400000' AS x)""".stripMargin).collect().head
    assert(r.getString(0) === "1970-01-02 00:00:00")
    assert(r.getLong(1) === 86400000L)
  }

  test("1-argument make_timestamp is epoch microseconds (DuckDB parity)") {
    prepare()
    // DuckDB 1.0.0: make_timestamp(3600000000) = 1970-01-01 01:00:00
    val r = conn.queryDF(
      "SELECT CAST(make_timestamp(3600000000) AS STRING) AS a, " +
        "CAST(make_timestamp(2024, 3, 15, 1, 2, 3.5) AS STRING) AS b").collect().head
    assert(r.getString(0) === "1970-01-01 01:00:00")
    assert(r.getString(1) === "2024-03-15 01:02:03.5")
  }

  test("array_length(NULL) is NULL, not -1 (sizeOfNull pinned)") {
    prepare()
    val r = conn.queryDF(
      "SELECT array_length(CAST(NULL AS ARRAY<INT>)) AS n, array_length(array(1,2)) AS m")
      .collect().head
    assert(r.isNullAt(0) && r.getInt(1) === 2)
  }

  test("range in FROM position is a TVF even after a comma cross-join") {
    // comma cross-join: the token before the call is ',', not FROM — the
    // clause tracker must still classify it as FROM position
    prepare()
    // select-list position after a comma IS the list form
    val l = conn.queryDF("SELECT n_name, range(3) AS r FROM nation LIMIT 1")
      .collect().head.getSeq[Long](1)
    assert(l === Seq(0L, 1L, 2L))
    val n = conn.queryDF("SELECT count(*) AS c FROM nation, range(3) r")
      .collect().head.getLong(0)
    assert(n === 75L) // 25 nations × 3
  }

  test("JSON -> chains fold into nested get_json_object") {
    assert(DialectSyntax.rewrite("SELECT j -> 'a' ->> 'b' FROM t") ===
      "SELECT get_json_object(get_json_object(j, '$.a'), '$.b') FROM t")
    assert(DialectSyntax.rewrite("SELECT j -> 'a' -> 0 ->> 'b' FROM t") ===
      "SELECT get_json_object(get_json_object(get_json_object(j, '$.a'), '$[0]'), '$.b') FROM t")
    // lambda bodies inside higher-order functions are NOT json arrows
    val lambda = "SELECT transform(xs, x -> 'a') FROM t"
    assert(DialectSyntax.rewrite(lambda) === lambda)
    val lambdaInt = "SELECT filter(xs, x -> 1) FROM t"
    assert(DialectSyntax.rewrite(lambdaInt) === lambdaInt)
    prepare()
    val v = conn.queryDF(
      """SELECT '{"a": {"b": 7}}' -> 'a' ->> 'b' AS v""").collect().head.getString(0)
    assert(v === "7")
  }

  test("aggregate and constructor spellings map to Spark names") {
    // quantile_cont stays verbatim since round 13: it resolves to the
    // engine's native DuckDB-parity marker (functions/QuantileAggs.scala)
    prepare()
    val agg = conn.queryDF(
      """SELECT arg_max(a, b) AS mx, arg_min(a, b) AS mn, quantile_cont(b, 0.5) AS q,
        |       max(strpos(s, '-')) AS p
        |FROM (VALUES ('x', 1, 'a-b'), ('y', 3, 'ab'), ('z', 2, 'abc-')) t(a, b, s)""".stripMargin)
      .collect().head
    assert(agg.getString(0) === "y" && agg.getString(1) === "x")
    assert(agg.get(2).toString.toDouble === 2.0 && agg.getInt(3) === 4)
    val r = conn.queryDF(
      """SELECT struct_extract(struct_pack(a := 7, b := 'x'), 'a') AS v,
        |       struct_pack(k := 1, p := 2 * 2).p AS w,
        |       list_extract(list_value(1, 2, 3), 2) AS e""".stripMargin).collect().head
    assert(r.getInt(0) === 7 && r.getInt(1) === 4 && r.getInt(2) === 2)
  }

  test("SIMILAR TO is a raw anchored regex (DuckDB semantics); GLOB translates") {
    // DuckDB's SIMILAR TO: full regex match, % and _ LITERAL
    assert(DialectSyntax.rewrite("SELECT * FROM t WHERE s SIMILAR TO '(a|b)c*'") ===
      "SELECT * FROM t WHERE regexp_like(s, '^(?:(a|b)c*)$')")
    assert(DialectSyntax.rewrite("SELECT * FROM t WHERE s NOT SIMILAR TO 'x'") ===
      "SELECT * FROM t WHERE NOT regexp_like(s, '^(?:x)$')")
    // GLOB: * → .*, ? → ., regex specials escaped (pre-doubled for the
    // C-style literal), brackets preserved
    assert(DialectSyntax.rewrite("SELECT * FROM t WHERE s GLOB 'a*.c?[0-9]'") ===
      """SELECT * FROM t WHERE regexp_like(s, '^(?:a.*\\.c.[0-9])$')""")
    // glob bracket negation [!...] → regex [^...]
    assert(DialectSyntax.rewrite("SELECT * FROM t WHERE s GLOB 'a[!xy]b'") ===
      "SELECT * FROM t WHERE regexp_like(s, '^(?:a[^xy]b)$')")
    // inside a string literal: untouched
    val lit = "SELECT 'x SIMILAR TO y' AS s"
    assert(DialectSyntax.rewrite(lit) === lit)
    prepare()
    val n = conn.queryDF(
      "SELECT count(*) AS n FROM documents WHERE source GLOB 'src?' AND lang SIMILAR TO '(en|de)'")
      .collect().head.getLong(0)
    assert(n > 0)
  }

  test("SIMILAR TO / GLOB after a binary operator passes through loudly " +
      "(DuckDB binds the match below ||; rewriting only the rightmost " +
      "token would silently drop the left side — round-14 ADVICE)") {
    val sql = "SELECT 'x' || 'abc' SIMILAR TO 'xa.*' AS v"
    assert(DialectSyntax.rewrite(sql) === sql)
    val ident = "SELECT a || b SIMILAR TO 'p' AS v"
    assert(DialectSyntax.rewrite(ident) === ident)
    val arith = "SELECT a - b GLOB 'p*' AS v"
    assert(DialectSyntax.rewrite(arith) === arith)
    // unpreceded literal operand still rewrites
    assert(DialectSyntax.rewrite("SELECT 'abc' SIMILAR TO 'a.c' AS v") ===
      "SELECT regexp_like('abc', '^(?:a.c)$') AS v")
    prepare()
    // the pass-through surfaces Spark's own loud parse error
    intercept[Exception] {
      conn.queryDF("SELECT 'x' || 'abc' SIMILAR TO 'xa.*' AS v").collect()
    }
  }

  test("json_valid: JSON null document is valid, NULL input is NULL " +
      "(round-14 ADVICE; probed)") {
    prepare()
    val r = conn.queryDF(
      "SELECT json_valid('null') AS a, json_valid(NULL) AS b, " +
        "json_valid(' null ') AS c, json_valid('nul') AS d, " +
        "json_valid('{\"a\": 1}') AS e, json_valid('nope{') AS f").collect().head
    assert(r.getBoolean(0) === true)
    assert(r.isNullAt(1))
    assert(r.getBoolean(2) === true)
    assert(r.getBoolean(3) === false)
    assert(r.getBoolean(4) === true)
    assert(r.getBoolean(5) === false)
  }

  test("date_trunc: coarse fields, alias spellings, loud unknown field " +
      "(round-14 ADVICE; probed against duckdb)") {
    prepare()
    val r = conn.queryDF(
      "SELECT date_trunc('decade', DATE '1987-06-05') AS a, " +
        "date_trunc('century', DATE '2001-06-05') AS b, " +
        "date_trunc('millennium', DATE '1987-06-05') AS c, " +
        "date_trunc('isoyear', DATE '2021-01-01') AS d, " +
        "CAST(date_trunc('milliseconds', TIMESTAMP '1987-06-05 04:03:02.123456') AS STRING) AS e, " +
        "CAST(date_trunc('epoch', TIMESTAMP '1987-06-05 04:03:02.123456') AS STRING) AS f")
      .collect().head
    assert(r.get(0).toString === "1980-01-01")
    assert(r.get(1).toString === "2000-01-01")
    assert(r.get(2).toString === "1000-01-01")
    assert(r.get(3).toString === "2019-12-30")
    assert(r.getString(4) === "1987-06-05 04:03:02.123")
    assert(r.getString(5) === "1987-06-05 04:03:02")
    val e = intercept[Exception] {
      conn.queryDF("SELECT date_trunc('era', DATE '1987-06-05') AS v").collect()
    }
    assert(e.getMessage.contains("unrecognized field"))
  }

  test("gcd/lcm error loudly on Long overflow instead of wrapping " +
      "(round-14 ADVICE; DuckDB 'Out of Range')") {
    prepare()
    assert(conn.queryDF("SELECT lcm(4, 6) AS v").collect().head.getLong(0) === 12L)
    val e1 = intercept[Exception] {
      conn.queryDF("SELECT lcm(4611686018427387904, 3) AS v").collect()
    }
    assert(e1.getMessage.contains("Out of Range"))
    val e2 = intercept[Exception] {
      conn.queryDF("SELECT gcd(-9223372036854775808, 0) AS v").collect()
    }
    assert(e2.getMessage.contains("Out of Range"))
  }

  test("infix minus type-dispatches like DuckDB (graft_sub): DATE-DATE " +
      "is BIGINT days, DATE-INTERVAL a timestamp, numerics widen") {
    prepare()
    val r = conn.queryDF(
      "SELECT DATE '2024-03-01' - DATE '2024-02-01' AS a, " +
        "DATE '2024-03-01' - 1 AS b, " +
        "CAST(DATE '2024-03-01' - INTERVAL 1 DAY AS STRING) AS c, " +
        "CAST(TIMESTAMP '2024-03-01 10:00:00' - INTERVAL 90 MINUTE AS STRING) AS d, " +
        "25.5 - CAST(3 AS DOUBLE) AS e, " +
        "CAST(10.50 AS DECIMAL(12,2)) - 3 AS f").collect().head
    assert(r.getLong(0) === 29L)
    assert(r.get(1).toString === "2024-02-29")
    assert(r.getString(2) === "2024-02-29 00:00:00")
    assert(r.getString(3) === "2024-03-01 08:30:00")
    assert(r.getDouble(4) === 22.5)
    assert(r.getDecimal(5).toPlainString === "7.50")
    // plain spark.sql keeps Spark's interval semantics (hook is engine-scoped)
    val sparkSide = SparkTestSession.spark
      .sql("SELECT DATE '2024-03-01' - DATE '2024-02-01' AS v")
      .schema.head.dataType.typeName
    assert(sparkSide.startsWith("interval"))
  }

  test("upper/lower use utf8proc's simple mapping (ß→ẞ, never " +
      "length-changing; round 14)") {
    prepare()
    val r = conn.queryDF(
      "SELECT upper('straße') AS a, lower('ẞ') AS b, upper('ﬁt') AS c, " +
        "lower('ΑΣ') AS d, ucase('abc') AS e, lcase('ABC') AS f").collect().head
    assert(r.getString(0) === "STRAẞE")
    assert(r.getString(1) === "ß")
    assert(r.getString(2) === "ﬁT")
    assert(r.getString(3) === "ασ")   // plain sigma, no final-form rule
    assert(r.getString(4) === "ABC")
    assert(r.getString(5) === "abc")
    // plain spark.sql keeps the JVM full mapping (engine-scoped)
    assert(SparkTestSession.spark.sql("SELECT upper('straße') AS v")
      .collect().head.getString(0) === "STRASSE")
  }

  test("list_slice / list_position / list_unique / pops / date_diff rewrites") {
    prepare()
    val l = "list_value(1, 2, NULL, 2, 5)"
    val r = conn.queryDF(
      s"""SELECT list_slice($l, 2, 4) AS s, list_position($l, 5) AS p,
         |       list_position($l, 9) AS none, list_unique($l) AS u,
         |       array_pop_back($l) AS b, array_pop_front($l) AS f""".stripMargin)
      .collect().head
    def ints(i: Int) = r.getSeq[Any](i).map(v => Option(v).map(_.toString).orNull)
    assert(ints(0) === Seq("2", null, "2"))
    // DuckDB 1.0.0 contract: 0 when absent (same as Spark array_position)
    assert(r.get(1).toString === "5" && r.get(2).toString === "0")
    // round 13: NULL elements excluded from the count, like duckdb
    assert(r.get(3).toString === "3")
    assert(ints(4) === Seq("1", "2", null, "2") && ints(5) === Seq("2", null, "2", "5"))
    // boundary semantics: 23:00 Dec31 → 01:00 Jan1 crosses ONE day boundary
    val d = conn.queryDF(
      "SELECT date_diff('day', TIMESTAMP '1994-12-31 23:00:00', TIMESTAMP '1995-01-01 01:00:00') AS d")
      .collect().head.getLong(0)
    assert(d === 1L)
  }

  test("arg_max/arg_min: 2-arg maps to max_by/min_by, 3-arg builds top-n lists") {
    // 2-arg form: see "aggregate and constructor spellings"; 3-arg top-n (newer-DuckDB surface; the reference 1.0.0 binder lacks
    // it, so this is spec-pinned rather than oracle-pinned)
    prepare()
    val r = conn.queryDF(
      """SELECT array_to_string(arg_max(o_orderkey, o_orderkey, 3), ',') AS top3,
        |       array_to_string(arg_min(o_orderkey, o_orderkey, 2), ',') AS bot2
        |FROM orders""".stripMargin).collect().head
    val expected = SparkTestSession.spark.table("orders")
      .select(org.apache.spark.sql.functions.col("o_orderkey"))
      .collect().map(_.getLong(0)).sorted
    assert(r.getString(0) === expected.takeRight(3).reverse.mkString(","))
    assert(r.getString(1) === expected.take(2).mkString(","))
  }

  test("list pipeline end-to-end: sort, distinct, extract on a real column") {
    prepare()
    val df = conn.queryDF(
      """SELECT list_extract(list_sort(list_distinct(regexp_split_to_array(trim(text), '\s+'))), 1) AS tok
        |FROM documents WHERE doc_id = 0""".stripMargin)
    val tok = df.collect().head.getString(0)
    assert(tok != null && tok.nonEmpty && !tok.contains(" "))
  }

  test("ordered aggregates: list / string_agg with ORDER BY keep the order") {
    prepare()
    val rows = conn.queryDF(
      """SELECT array_to_string(list(o_orderkey ORDER BY o_orderkey DESC), ',') AS ks,
        |       string_agg(o_orderstatus, '|' ORDER BY o_orderkey) AS st
        |FROM orders WHERE o_orderkey <= 7""".stripMargin).collect()
    val ks = rows.head.getString(0).split(',').map(_.toLong)
    assert(ks.sameElements(ks.sorted.reverse), s"not DESC: ${ks.mkString(",")}")
    assert(rows.head.getString(1).count(_ == '|') == ks.length - 1)
    // plain (unordered) list still collects
    val n = conn.queryDF(
      "SELECT size(list(o_orderkey)) AS n FROM orders WHERE o_orderkey <= 7")
      .collect().head.getInt(0)
    assert(n == ks.length)
  }

  test("list_aggregate applies the named aggregate, NULLs skipped") {
    val r = conn.queryDF(
      """SELECT list_aggregate(array(1, 2, NULL, 4), 'sum') AS s,
        |       list_aggregate(array(1, 2, NULL, 4), 'count') AS c,
        |       list_aggregate(array(1, 2, NULL, 4), 'max') AS m,
        |       list_aggregate(array(1, 2, NULL, 4), 'avg') AS a,
        |       list_aggregate(array(CAST(NULL AS INT)), 'sum') AS empty_s""".stripMargin)
      .collect().head
    assert(r.getDouble(0) == 7.0 && r.getLong(1) == 3L && r.getInt(2) == 4 &&
      math.abs(r.getDouble(3) - 7.0 / 3) < 1e-12 && r.isNullAt(4))
  }

  test("time_bucket: day-dividing intervals floor-align; others pass through") {
    val q = conn.queryDF(
      "SELECT CAST(time_bucket(INTERVAL '15 minutes', TIMESTAMP '2024-01-01 10:29:59') AS STRING) AS b")
      .head.getString(0)
    assert(q == "2024-01-01 10:15:00", q)
    // pre-epoch floor (not truncate-toward-zero): -1s falls in the bucket
    // STARTING before it
    val r = conn.queryDF(
      "SELECT CAST(time_bucket(INTERVAL '1 hour', TIMESTAMP '1969-12-31 23:59:59') AS STRING) AS b")
      .head.getString(0)
    assert(r == "1969-12-31 23:00:00", r)
    // a week does not divide a day-origin: the call stays unresolved
    val e = intercept[Exception] {
      conn.queryDF("SELECT time_bucket(INTERVAL '7 days', TIMESTAMP '2024-01-01 10:00:00') AS b")
        .collect()
    }
    assert(e.getMessage.toLowerCase.contains("time_bucket"))
  }

  test("unsupported ordered-aggregate shapes pass through untouched") {
    val t = "(VALUES (1, 2, 1), (2, NULL, 2), (3, 1, 1)) t(x, y, a)"
    // NULLS FIRST ascending is exactly sort_array's order
    val nf = conn.queryDF(s"SELECT list(x ORDER BY y NULLS FIRST) AS l FROM $t")
      .collect().head.getSeq[Int](0)
    assert(nf === Seq(2, 3, 1))
    // NULLS LAST ascending and mixed directions have no single sort_array:
    // the call reaches Spark untouched and fails loudly
    for (order <- Seq("y NULLS LAST", "a ASC, y DESC"))
      intercept[Exception] {
        conn.queryDF(s"SELECT list(x ORDER BY $order) AS l FROM $t").collect()
      }
  }
}
