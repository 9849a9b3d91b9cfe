package graft

import graft.functions.{TryCastParseRule, TryParseIntegral}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.scalatest.funsuite.AnyFunSuite

/** Parity + plan-shape pins for the exception-free TRY_CAST rewrite.
  *
  * Parity: Spark's own try_cast is the reference — the same probe matrix
  * must produce identical results through TryParseIntegral (the rule is
  * active in the shared test session, built with GraftExtensions, so
  * `try_cast` here IS the rewritten path; the reference values are
  * computed with the rule excluded by name).
  */
class TryParseSpec extends AnyFunSuite {
  import SparkTestSession.spark

  private val probes: Seq[String] = Seq(
    null, "42", " 42", "42 ", " 42 ", "\t12\n", "+7", "-7", "007", "",
    " ", "abc", "1.5", "1.0", "1e3", "12abc", "0x1A", "+", "-", "٤٢",
    "2147483647", "2147483648", "-2147483648", "-2147483649",
    "127", "128", "-128", "-129", "32767", "32768", "-32768", "-32769",
    "9223372036854775807", "9223372036854775808", "-9223372036854775808",
    "-9223372036854775809")

  private val targets = Seq("tinyint", "smallint", "int", "bigint")

  /** Probes must come from a FILE source: ConvertToLocalRelation evaluates
    * projections over local relations during the main optimizer batches,
    * BEFORE the user-rule batch — a local-relation probe would never
    * exercise the rewrite. NaN is normalized for comparability. */
  private def probeFrame(values: Seq[String]): org.apache.spark.sql.DataFrame = {
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Files.createTempDirectory("tryparse-probe")
    spark.createDataFrame(
      values.map(org.apache.spark.sql.Row(_)).asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("s",
          org.apache.spark.sql.types.StringType, nullable = true))))
      .coalesce(1).write.mode("overwrite").parquet(dir.toString)
    spark.read.parquet(dir.toString)
  }

  private def normalize(rows: Seq[Seq[Any]]): Seq[Seq[Any]] =
    rows.map(_.map {
      case d: java.lang.Double if d.isNaN => "NaN"
      case f: java.lang.Float if f.isNaN => "NaN"
      case v => v
    }).sortBy(_.headOption.map(String.valueOf).getOrElse(""))

  /** Spark's own TRY path: the rule excluded by name. Taking it out of
    * `extraOptimizations` is not enough, since the extension appends it
    * again at the next analysis. */
  private def withoutRule[T](f: => T): T = {
    spark.conf.set("spark.sql.optimizer.excludedRules", TryCastParseRule.ruleName)
    try f finally spark.conf.unset("spark.sql.optimizer.excludedRules")
  }

  private def probeResults(): Seq[Seq[Any]] = {
    normalize(probeFrame(probes)
      .selectExpr("s" +: targets.map(t => s"try_cast(s as $t) as to_$t"): _*)
      .collect().toSeq.map(_.toSeq))
  }

  test("wrapper parse matches Spark try_cast on the full probe matrix") {
    val withRule = probeResults()
    // Spark's built-in throwing TRY path as the reference
    val without = withoutRule(probeResults())
    assert(withRule === without)
    withoutRule {
      val plan = spark.range(1).selectExpr("try_cast(CAST(id AS STRING) AS int) v")
        .queryExecution.optimizedPlan
      assert(!plan.expressions.exists(_.exists(_.isInstanceOf[TryParseIntegral])),
        s"the reference still carries the rewrite:\n$plan")
    }
  }

  test("rule rewrites TRY-mode string casts and stays in codegen") {
    val df = spark.range(10).selectExpr("CAST(id AS STRING) s")
      .selectExpr("try_cast(s as bigint) v")
    val optimized = df.queryExecution.optimizedPlan
    assert(optimized.expressions.exists(_.exists(_.isInstanceOf[TryParseIntegral])),
      s"TRY_CAST not rewritten:\n$optimized")
    val exec = df.queryExecution.executedPlan
    assert(exec.exists(_.isInstanceOf[WholeStageCodegenExec]),
      s"rewritten plan fell out of codegen:\n$exec")
    assert(df.collect().map(_.getLong(0)).toSeq === (0L until 10L))
  }

  private val fpProbes: Seq[String] = Seq(
    null, "1.5", " 2 ", "1e3", "1E-3", ".5", "5.", "+.5", "-5.",
    "Infinity", "-Infinity", "+Infinity", "inf", "-inf", "NaN", "nan",
    "infinity", "abc", "1d", "1f", "0x1p3", "1.5e", "e3", "1,5", "٤٢",
    "", " ", "+", "-", ".", "1.2.3", "1.005", "12345.675", "-12345.675",
    "1e50", "-1e50", "1e-50", "99999999999999999999.9", "\t7\n", " 7",
    "7", "iPhone", "none", "NULLX", "9" * 40,
    "1-URGENT", "1e+3", " -1.5E-2 ", "1 2", "1e3.5", "1e", "++1", "5.e2",
    "1\u0664", "+\u0664", "1e\u0664", "1x\u0664")

  private def fpResults(): Seq[Seq[Any]] = {
    normalize(probeFrame(fpProbes)
      .selectExpr("s",
        "try_cast(s as double) d", "try_cast(s as float) f",
        "try_cast(s as decimal(10,2)) d10", "try_cast(s as decimal(3,2)) d3",
        "try_cast(s as decimal(38,10)) d38").collect().toSeq.map(_.toSeq))
  }

  test("guarded decimal/double/float TRY casts match Spark try_cast") {
    val withRule = fpResults()
    val without = withoutRule(fpResults())
    assert(withRule === without)
    // and the rule actually rewrote: the optimized plan carries the guard
    val df = spark.range(3).selectExpr("CAST(id AS STRING) s")
      .selectExpr("try_cast(s as decimal(10,2)) v")
    assert(df.queryExecution.optimizedPlan.expressions
      .exists(_.exists(_.isInstanceOf[graft.functions.NumericParseable])),
      s"decimal TRY_CAST not guarded:\n${df.queryExecution.optimizedPlan}")
  }

  private val dtProbes: Seq[String] = Seq(
    null, "2024-01-15", " 2024-01-15 ", "2024-1-5", "2024-01-15 10:30:00",
    "2024-01-15T10:30:00", "2024-01-15T10:30:00Z", "2024-01-15 10:30:00+05:30",
    "2024-01-15 10:30:00.123456", "2024", "2024-01", "2024-13-01",
    "2024-02-30", "2024-02-29", "2023-02-29", "2024-01-15 25:00:00",
    "15/01/2024", "Jan 15 2024", "20240115", "abc", "", " ", "-", "T10:30",
    "10:30:00", "0001-01-01", "9999-12-31", "+10000-01-01", "今日",
    "2024-01-15x", "null", "epoch", "now", "today")

  private def dtResults(): Seq[Seq[Any]] = {
    normalize(probeFrame(dtProbes)
      .selectExpr("s",
        "try_cast(s as date) dt",
        "CAST(try_cast(s as timestamp) AS STRING) ts",
        "CAST(try_cast(s as timestamp_ntz) AS STRING) ntz")
      .collect().toSeq.map(_.toSeq))
  }

  /** Datetime targets are deliberately NOT rewritten (see TryCastParseRule
    * scaladoc: Spark 4.1's native TRY datetime cast is already exception-
    * free — measured all-garbage ≈ all-valid — and an Option-based rewrite
    * prototype was 2× slower). This test (a) pins that the rule leaves
    * datetime casts alone, and (b) keeps the dirty-date matrix running so
    * any future rewrite attempt inherits a ready-made parity gate. */
  test("date/timestamp TRY casts: rule leaves them to Spark; matrix is stable") {
    val withRule = dtResults()
    val without = withoutRule(dtResults())
    assert(withRule === without)
    // valid rows parsed, garbage rows NULL (spot pins on the matrix)
    val byKey = withRule.map(r => String.valueOf(r.head) -> r.tail).toMap
    assert(byKey("2024-01-15") === Seq(java.sql.Date.valueOf("2024-01-15"),
      "2024-01-15 00:00:00", "2024-01-15 00:00:00"))
    assert(byKey("abc") === Seq(null, null, null))
    assert(byKey("2024-02-30") === Seq(null, null, null))
  }

  test("non-string and datetime TRY casts are left to Spark") {
    val df = spark.range(5).selectExpr(
      "try_cast(id AS int) a",              // long → int: not a string parse
      "try_cast(CAST(id AS STRING) AS date) b") // datetime: native TRY is
                                                // already exception-free
    val opt = df.queryExecution.optimizedPlan
    assert(!opt.expressions.exists(_.exists(_.isInstanceOf[TryParseIntegral])))
    assert(!opt.expressions.exists(
      _.exists(_.isInstanceOf[graft.functions.NumericParseable])))
    assert(df.count() === 5)
  }
}
