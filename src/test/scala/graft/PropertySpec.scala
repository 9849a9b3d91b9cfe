package graft

import org.scalacheck.{Gen, Prop}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.unsafe.types.UTF8String

/** Property-based checks of the correctness-critical kernels: the portable
  * hash (the foundation of every dedup/multimodal oracle) and the PPJoin
  * prefix-filter bound (the losslessness claim behind p08's rewrite). */
class PropertySpec extends AnyFunSuite {

  /** scalatest↔scalacheck bridge (the scalatestplus artifact is not in the
    * offline cache): run the prop with 300 cases, fail the suite on any
    * counterexample. */
  private def check(p: Prop): Unit = {
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(300), p)
    assert(res.passed, res.status.toString)
  }

  private lazy val conn = new graft.session.Engine(graft.session.EngineConfig(
    existingSession = Some(SparkTestSession.spark))).connect()
  private def rows(sql: String) = conn.queryDF(sql).collect()

  /** A statement on the engine's path answers, or fails loudly: with the
    * frame-EXCLUDE rule's typed error, or with an analysis error that its
    * `twin` (the statement without its EXCLUDE clause) fails with too.
    * Some(rows) when it answered. */
  private def answers(sql: String, twin: String): Option[Array[org.apache.spark.sql.Row]] =
    scala.util.Try(rows(sql)) match {
      case scala.util.Success(rs) => Some(rs)
      case scala.util.Failure(_: graft.functions.WindowExcludeUnsupported) => None
      case scala.util.Failure(e: org.apache.spark.sql.AnalysisException) =>
        assert(scala.util.Try(rows(twin)).failed.toOption
          .exists(_.isInstanceOf[org.apache.spark.sql.AnalysisException]),
          s"$sql fails in analysis (${e.getMessage.take(200)}), but $twin does not")
        None
      case scala.util.Failure(e) => throw e
    }

  private val P = graft.pipeline.PortableHash.P

  /** Independent reference implementation of the poly hash (BigInt fold —
    * no overflow concerns at all, unlike the production kernel). */
  private def referencePolyHash(s: String, mult: Long, mod: Long): Long = {
    var acc = BigInt(0)
    s.codePoints().toArray.foreach { cp =>
      acc = (acc * mult + cp).mod(BigInt(mod))
    }
    acc.toLong
  }

  test("PolyHash kernel equals a BigInt reference fold on arbitrary unicode") {
    val unicodePiece = Gen.oneOf(
      Gen.alphaNumStr.map(_.take(5)),
      Gen.oneOf("é", "ß", "中", "🙂" /* 🙂 non-BMP */, " ", "\t"))
    val gen = for {
      s <- Gen.oneOf(
        Gen.asciiPrintableStr,
        Gen.listOf(unicodePiece).map(_.mkString))
      mult <- Gen.oneOf(31L, 37L, 131L)
    } yield (s, mult)
    check(Prop.forAll(gen) { case (s, mult) =>
      graft.functions.HashKernels.polyHash(UTF8String.fromString(s), mult, P) ==
        referencePolyHash(s, mult, P)
    })
  }

  test("dialect rewrites never alter string-literal contents") {
    // literal containing function-ish text, quotes (SQL-doubled), operators
    val inner = Gen.oneOf(
      Gen.asciiPrintableStr.map(_.take(30).replace("'", "''")),
      Gen.const("unnest(x), list_sort(y)"),
      Gen.const("range(1, 5) from join"),
      Gen.const("it''s strftime(ts, ''%Y'')"))
    val gen = for {
      pre <- Gen.oneOf("SELECT ", "SELECT list_sort(a), ", "SELECT unnest(xs), ")
      lit <- inner
      post <- Gen.oneOf(" AS s FROM t", " AS s FROM t WHERE list_contains(xs, 'k')")
    } yield (s"$pre'$lit'$post", lit.replace("''", "'"))
    // function spellings resolve on the parse tree, where a literal is a
    // value: every row carries the literal's DuckDB value unchanged
    val spark = SparkTestSession.spark
    spark.sql("SELECT array('b', 'a') AS a, array('k') AS xs").createOrReplaceTempView("t")
    val conn = new graft.session.Engine(
      graft.session.EngineConfig(existingSession = Some(spark))).connect()
    check(Prop.forAllNoShrink(gen) { case (sql, value) =>
      conn.queryDF(sql).collect().forall(_.getAs[String]("s") == value)
    })
  }

  test("a literal holding ${…} keeps its text (no variable substitution)") {
    val conn = new graft.session.Engine(
      graft.session.EngineConfig(existingSession = Some(SparkTestSession.spark))).connect()
    // DuckDB 1.0.0 keeps the text; Spark's substitution makes it 'ac'
    for (v <- Seq("a${b}c", "${x}", "$${y}z"))
      assert(conn.queryDF(s"SELECT '$v' AS s").collect().head.getString(0) === v)
  }

  test("round-6 rewriters are literal-safe and total on arbitrary text") {
    // AsofJoinSql / MacroRegistry / match-op rewrites must (a) never throw
    // on arbitrary SQL-ish text, (b) never touch literal contents, and
    // (c) leave text without their keywords byte-identical
    val reg = new graft.dialect.MacroRegistry
    reg.dispatch("CREATE MACRO fuzz_m(x) AS x + 1")
    val lit = Gen.oneOf(
      Gen.const("a ASOF JOIN b ON x >= y"),
      Gen.const("fuzz_m(1) GLOB '*'"),
      Gen.const("s SIMILAR TO '%x%'"),
      Gen.asciiPrintableStr.map(_.replace("'", "''").take(30)))
    val gen = for {
      pre <- Gen.oneOf("SELECT ", "SELECT a, ", "SELECT fuzz_m(a), ")
      l <- lit
      post <- Gen.oneOf(" AS s FROM t", " AS s FROM l a ASOF JOIN r b ON a.k = b.k AND a.t >= b.t")
    } yield (s"$pre'$l'$post", s"'$l'")
    check(Prop.forAll(gen) { case (sql, quoted) =>
      val a = graft.dialect.AsofJoinSql.rewrite(sql)
      val m = reg.expand(sql)
      val f = graft.dialect.DialectSyntax.rewrite(sql)
      a.contains(quoted) && m.contains(quoted) && f.contains(quoted)
    })
  }

  test("WindowExclude TIES/GROUP rewriter is total and literal-safe on arbitrary window-ish text") {
    // Every frame EXCLUDE spelling, over every frame and statement shape:
    // the text pass keeps the string literal, and on the engine's path the
    // statement answers with the literal intact or fails loudly — with the
    // rule's typed error, or in analysis where the statement without its
    // EXCLUDE fails too; never another exception, never a mangled literal.
    val spark = SparkTestSession.spark
    spark.sql("""CREATE OR REPLACE TEMP VIEW t AS SELECT * FROM VALUES
      |  (1, 1, 1, 1, 1, 'a'), (2, 1, 2, 1, 1, 'b'), (NULL, 2, 3, 1, 2, 'c'),
      |  (4, 3, 3, 2, 2, 'd'), (5, 3, 4, 2, 3, NULL) AS t(x, y, z, p, g, c)""".stripMargin)
    spark.sql("CREATE OR REPLACE TEMP VIEW u AS SELECT * FROM VALUES ('a'), ('b') AS u(a)")
    val excl = Gen.oneOf("EXCLUDE TIES", "EXCLUDE GROUP",
      "EXCLUDE CURRENT ROW", "EXCLUDE NO OTHERS", "")
    val frame = Gen.oneOf(
      "", "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW ",
      "RANGE BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING ",
      "ROWS BETWEEN 2 PRECEDING AND 1 FOLLOWING ",
      "ROWS BETWEEN 3 PRECEDING AND UNBOUNDED FOLLOWING ",
      "ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING ",
      "ROWS BETWEEN 0 PRECEDING AND 0 FOLLOWING ",
      "ROWS 5 PRECEDING ",
      "RANGE BETWEEN 2 PRECEDING AND 1 FOLLOWING ",
      "RANGE BETWEEN INTERVAL 2 DAYS PRECEDING AND INTERVAL 1 DAYS FOLLOWING ",
      "RANGE BETWEEN 3 PRECEDING AND UNBOUNDED FOLLOWING ",
      "RANGE BETWEEN CURRENT ROW AND 2 FOLLOWING ",
      "GROUPS BETWEEN 1 PRECEDING AND 1 FOLLOWING ",
      "GROUPS BETWEEN 2 PRECEDING AND UNBOUNDED FOLLOWING ",
      "GROUPS BETWEEN CURRENT ROW AND 3 FOLLOWING ",
      "GROUPS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING ")
    val base = Gen.oneOf("ORDER BY y", "PARTITION BY p ORDER BY y DESC, z",
      "PARTITION BY p", "")
    val lit = Gen.oneOf("EXCLUDE TIES", "OVER (", "SELECT", ") FROM (",
      "ROWS BETWEEN", "2 PRECEDING")
    val shape = Gen.oneOf(
      // plain select, star, subquery nesting, CAST wrap, set op, group by
      (w: String, l: String) => s"SELECT sum(x) OVER ($w) AS s, '$l' AS c FROM t",
      (w: String, l: String) => s"SELECT *, sum(x) OVER ($w) AS s, '$l' AS c FROM t",
      (w: String, l: String) => s"SELECT q.*, count(x) OVER ($w), '$l' AS c FROM t q",
      (w: String, l: String) =>
        s"SELECT * FROM (SELECT CAST(min(x) OVER ($w) AS DOUBLE) AS s, '$l' AS c FROM t) q",
      (w: String, l: String) =>
        s"SELECT avg(x) OVER ($w) AS s, '$l' AS c FROM t UNION ALL SELECT 1, a FROM u WHERE a = '$l'",
      (w: String, l: String) =>
        s"SELECT g, count(*) OVER ($w), '$l' AS c FROM t GROUP BY g",
      // grouped shapes: min, aliased aggregates, CAST wrapping, HAVING, tails
      (w: String, l: String) =>
        s"SELECT g, min(min(x)) OVER ($w) AS m, '$l' AS c FROM t GROUP BY g",
      (w: String, l: String) =>
        s"SELECT g, count(*) AS n, CAST(max(sum(x)) OVER ($w) AS BIGINT), '$l' AS c" +
          s" FROM t GROUP BY g HAVING count(*) > 1 ORDER BY g LIMIT 7",
      (w: String, l: String) =>
        s"SELECT max(x) OVER ($w) AS s, '$l' AS c FROM t WHERE c <> '$l' ORDER BY s LIMIT 5")
    val gen = for {
      b <- base; f <- frame; e <- excl; l <- lit; sh <- shape
    } yield (sh(s"$b $f$e".trim, l), sh(s"$b $f".trim, l), l)
    var answered = 0
    check(Prop.forAll(gen) { case (sql, twin, l) =>
      val got = answers(sql, twin)
      if (got.isDefined) answered += 1
      graft.dialect.WindowExclude.rewrite(sql).contains(s"'$l'") && // must not throw
        got.forall(_.forall(r => r.getAs[String]("c") == l))
    })
    // about 30% of the grid answers (GROUPS without EXCLUDE, INTERVAL
    // offsets over integers and ungrouped columns fail in both forms)
    assert(answered >= 50, s"only $answered of 300 statements answered")
  }

  test("FULL dialect chain is total and literal-safe on adversarial SQL (round-11)") {
    // The engine's whole rewrite stack (DialectRewriter.rewrite: macro
    // expansion → literal escaping → series/type keywords → COLUMNS
    // expansion → DialectSyntax incl. ListComprehension+WindowExclude →
    // DialectSugar incl. AsofJoinSql → SetOpsByName → NullOrder) is ~12
    // string-surgery passes deep; each new pass multiplies interaction
    // surface. Over generated SQL carrying adversarial literals and
    // comments, the chain must (a) never throw and (b) preserve every
    // tracked literal byte-for-byte (after its one sanctioned transform,
    // the standard-SQL → Spark escape doubling of backslashes).
    val spark = SparkTestSession.spark
    Tables.registerAll(spark, SparkTestSession.sfDir)
    val rewriter = new graft.dialect.DialectRewriter(
      spark, new graft.session.FileRegistry)
    val trap = Gen.oneOf(
      // pass-trigger keywords hiding inside literals
      "EXCLUDE TIES", "OVER (", ") FROM (", "ROWS BETWEEN", "unnest(x)",
      "GROUP BY ALL", "UNION ALL BY NAME", "QUALIFY rank() <= 1",
      "COLUMNS('n_.*')", "::VARCHAR", "BLOB", "generate_series(1, 3)",
      "ASOF JOIN", "list_sort([2,1])", "[x + 1 FOR x IN xs]",
      "ORDER BY ALL", "NULLS FIRST", "-- not a comment", "it''s",
      "try_cast(a AS INT)")
    val litGen = Gen.oneOf(trap,
      Gen.asciiPrintableStr.map(_.replace("'", "''").take(24)))
    // comments carrying pass keywords (no quotes inside: a stray
    // apostrophe in a comment is indistinguishable from a literal start
    // for a string-level rewriter — documented out of scope)
    val comment = Gen.oneOf("", "/* GROUP BY ALL ROWS BETWEEN x */ ",
      "-- unnest QUALIFY generate_series\n")
    val shapes = IndexedSeq[(String, String) => String](
      (w: String, l: String) => s"SELECT n_name, '$l' AS c ${w}FROM nation",
      (w: String, l: String) =>
        s"SELECT n_regionkey, count(*) OVER (ORDER BY n_regionkey" +
          s" RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW EXCLUDE GROUP)," +
          s" '$l' ${w}FROM nation",
      (w: String, l: String) =>
        s"SELECT *, '$l' AS c FROM nation ${w}QUALIFY" +
          s" row_number() OVER (PARTITION BY n_regionkey ORDER BY n_nationkey) <= 2",
      // frame EXCLUDE + QUALIFY interaction
      (w: String, l: String) =>
        s"SELECT n_name, min(n_nationkey) OVER (ORDER BY n_regionkey" +
          s" RANGE BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING" +
          s" EXCLUDE GROUP) AS m, '$l' AS c FROM nation ${w}QUALIFY" +
          s" row_number() OVER (PARTITION BY n_regionkey ORDER BY n_nationkey) <= 2",
      (w: String, l: String) =>
        s"SELECT n_name::VARCHAR AS v, '$l' FROM nation ${w}UNION ALL BY NAME" +
          s" SELECT r_name::VARCHAR AS v, '$l' FROM region",
      (w: String, l: String) =>
        s"SELECT list_sort([n_regionkey, 2]) AS xs, '$l' ${w}FROM nation" +
          s" GROUP BY ALL ORDER BY ALL",
      (w: String, l: String) =>
        s"SELECT [x + 1 FOR x IN [1, 2]] AS ys, '$l' ${w}FROM generate_series(1, 3)",
      (w: String, l: String) =>
        s"SELECT COLUMNS('n_.*'), '$l' ${w}FROM nation ORDER BY n_nationkey",
      (w: String, l: String) =>
        s"SELECT a.n_name, '$l' FROM nation a ${w}ASOF JOIN" +
          s" (SELECT r_regionkey, r_regionkey AS t FROM region) b" +
          s" ON a.n_regionkey = b.r_regionkey AND a.n_nationkey >= b.t",
      // struct/map literal + bracket-slice shapes (round 12)
      (w: String, l: String) =>
        s"SELECT ({'k': n_nationkey, 's': '$l'}).k AS k, n_name[1:3] AS pre, '$l' ${w}FROM nation",
      (w: String, l: String) =>
        s"SELECT element_at(MAP {'a': n_regionkey}, 'a') AS v, '$l' ${w}FROM nation",
      // window FILTER shapes (round 12): plain fold, count(*), and the
      // FILTER + frame-EXCLUDE composition
      (w: String, l: String) =>
        s"SELECT n_name, CAST(count(*) FILTER (WHERE n_name <> '$l')" +
          s" OVER (ORDER BY n_nationkey) AS BIGINT) AS n, '$l' ${w}FROM nation",
      (w: String, l: String) =>
        s"SELECT min(n_nationkey) FILTER (WHERE n_name <> '$l')" +
          s" OVER (ORDER BY n_regionkey RANGE BETWEEN UNBOUNDED PRECEDING" +
          s" AND UNBOUNDED FOLLOWING EXCLUDE GROUP) AS m, '$l' ${w}FROM nation",
      // FROM-first shapes (round 12): bare, relocated SELECT, set-op
      // branches, and FROM-first feeding QUALIFY sugar
      (w: String, l: String) => s"FROM nation ${w}SELECT n_name, '$l' AS c WHERE n_regionkey >= 0",
      (w: String, l: String) => s"FROM nation ${w}WHERE n_name <> '$l'",
      (w: String, l: String) =>
        s"FROM nation SELECT n_name AS v, '$l' AS c ${w}UNION ALL FROM region SELECT r_name AS v, '$l' AS c",
      (w: String, l: String) =>
        s"FROM nation ${w}SELECT n_name, '$l' AS c QUALIFY" +
          s" row_number() OVER (PARTITION BY n_regionkey ORDER BY n_nationkey) <= 2")
    // the frame-EXCLUDE and window-FILTER shapes also run on the engine:
    // the literal comes back as DuckDB reads it
    val engineShapes = Set(1, 3, 11, 12)
    val gen = for { l <- litGen; c <- comment; i <- Gen.choose(0, shapes.size - 1) } yield
      (shapes(i)(c, l), l, engineShapes(i))
    check(Prop.forAll(gen) { case (sql, l, onEngine) =>
      val out = rewriter.rewrite(sql) // must not throw
      // the sanctioned transform: standard-SQL literals get backslashes
      // doubled for Spark's C-style parser; otherwise byte-identical
      (out.contains(s"'${l.replace("\\", "\\\\")}'") || out.contains(s"'$l'")) &&
        // (a trap with a bare quote ends its literal early: text-only)
        (!onEngine || l.replace("''", "").contains("'") ||
          rows(sql).forall(_.toSeq.contains(l.replace("''", "'"))))
    })
  }

  test("literal escape translation: Spark evaluates the DuckDB meaning") {
    // for any backslash-bearing content, escapeLiteralsForSpark('c') must
    // make Spark's parser produce exactly c (DuckDB literal semantics)
    val content = Gen.listOf(Gen.oneOf(
      Gen.alphaNumChar.map(_.toString), Gen.const("\\"), Gen.const("\\s"),
      Gen.const("."), Gen.const("\\d+"))).map(_.mkString.take(40))
    val spark = SparkTestSession.spark
    check(Prop.forAll(content) { c =>
      val sql = graft.dialect.SqlText.escapeLiteralsForSpark(
        "SELECT '" + c.replace("'", "") + "' AS s")
      spark.sql(sql).collect().head.getString(0) == c.replace("'", "")
    })
  }

  test("PPJoin prefix bound is lossless: J >= 0.8 pairs always share a prefix token") {
    // the production rule: prefix length = n - ceil(0.8 n) + 1 under a
    // shared total token order (here: natural Long order standing in for
    // the doc-frequency order; losslessness holds for ANY fixed order)
    def prefixLen(n: Int): Int = n - ((4 * n + 4) / 5) + 1
    val setGen = Gen.chooseNum(5, 60).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(0L, 40L)).map(_.toSet))
    check(Prop.forAll(setGen, setGen) { (a, b) =>
      val inter = a.intersect(b).size.toDouble
      val j = inter / (a.size + b.size - inter)
      if (a.nonEmpty && b.nonEmpty && j >= 0.8) {
        val pa = a.toSeq.sorted.take(prefixLen(a.size)).toSet
        val pb = b.toSeq.sorted.take(prefixLen(b.size)).toSet
        pa.intersect(pb).nonEmpty
      } else true
    })
  }

  test("integer ceil (4n+4) div 5 satisfies the ceiling definition of 4n/5") {
    // the float form ceil(0.8 * n) is WRONG for multiples of 5 (0.8 is not
    // exact binary: 0.8 * 65 = 52.000000000000004 → 53) — which is exactly
    // why the production prefix length uses the integer form
    check(Prop.forAll(Gen.chooseNum(1, 1000000)) { n =>
      val k = (4 * n + 4) / 5
      5L * k >= 4L * n && 5L * (k - 1) < 4L * n
    })
  }

  test("glob translation: '*' absorbs arbitrary runs, '?' exactly one char") {
    val lit = Gen.listOf(Gen.oneOf(Gen.alphaNumChar, Gen.oneOf('.', '-', '_'))).map(_.mkString)
    val filler = Gen.listOf(Gen.alphaNumChar).map(_.mkString)
    check(Prop.forAll(lit, lit, filler) { (a, b, f) =>
      val star = graft.session.GlobToRegex(a + "*" + b)
      val q = graft.session.GlobToRegex(a + "?" + b)
      star.matches(a + f + b) &&
        q.matches(a + "x" + b) &&
        !q.matches(a + b) &&
        !q.matches(a + "xy" + b)
    })
  }
}
