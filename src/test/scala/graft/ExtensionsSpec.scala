package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** `spark.sql.extensions`-style registration: a session built with
  * GraftExtensions alone resolves the native functions from SQL text, with
  * no engine and no registerAll call. Uses an isolated SparkSession
  * (newSession would share function registries; extensions bind at build). */
class ExtensionsSpec extends AnyFunSuite with BeforeAndAfterAll {

  /** Runs `f` on a FRESH session built with GraftExtensions (the shared
    * test session must not satisfy getOrCreate), then restores the shared
    * session for the rest of the suite run. The shared session is built
    * first: the SparkContext's confs are the first builder's, and the other
    * suites need theirs. */
  private def withExtensionSession(f: SparkSession => Unit): Unit = {
    SparkTestSession.spark
    val prior = SparkSession.getActiveSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spark = SparkSession.builder()
      .master("local[2]")
      .appName("graft-ext-spec")
      .config("spark.ui.enabled", "false")
      // the engine's generated-class cache bound: this session may be the
      // first in the test JVM to generate code, which sizes the JVM's cache
      .config(graft.session.SessionDefaults.CodegenCacheConf,
        graft.session.SessionDefaults.CodegenCacheEntries.toLong)
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try f(spark)
    finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      prior.foreach(SparkSession.setDefaultSession)
      prior.foreach(SparkSession.setActiveSession)
    }
  }

  test("withExtensions session resolves vec_* / graft_polyhash / vec_sum from SQL") {
    withExtensionSession { spark =>
      val r = spark.sql(
        """SELECT vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d,
          |       vec_cosine(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS c,
          |       graft_polyhash('hello', 31L, 2147483647L) AS h,
          |       simhash64(array(7L)) AS s""".stripMargin).collect().head
      assert(r.getDouble(0) === 11.0)
      assert(math.abs(r.getDouble(1) - 1.0) < 1e-12)
      assert(r.getLong(2) === 99162322L) // matches the DuckDB char fold
      assert(r.getLong(3) === 7L) // single hash votes its own bits
      val agg = spark.sql(
        "SELECT vec_sum(v) AS s FROM VALUES (array(1.0D, 2.0D)), (array(3.0D, 4.0D)) AS t(v)")
        .collect().head.getSeq[Double](0)
      assert(agg === Seq(4.0, 6.0))
      // Round-15 regression pin: the extension must land the optimizer
      // rules in the END-position extraOptimizations batch (via the
      // post-hoc hook), NOT the operator-optimization batch — at operator
      // position the marker eliminator outran the histogram stitch and a
      // windowed entropy over an all-NULL partition folded to NULL
      // (duckdb: 0). No registerAll call anywhere on this session.
      val ent = spark.sql(
        """SELECT (SELECT max(r) FROM (SELECT CAST(entropy(x) OVER
          |  (PARTITION BY x % 2) AS DOUBLE) AS r, x FROM
          |  (VALUES (CAST(NULL AS INT)), (CAST(NULL AS INT))) t(x)) s) AS v"""
          .stripMargin).collect().head
      assert(ent.getDouble(0) === 0.0,
        "extension-built session: windowed entropy over an all-NULL " +
          s"partition must be 0.0, got ${ent.get(0)}")
      // and the resolution rule rides the same build: cross-family
      // interval comparison resolves (normalized: 1 month < 40 days)
      val iv = spark.sql(
        "SELECT make_ym_interval(0, 1) < make_dt_interval(40) AS v")
        .collect().head
      assert(iv.getBoolean(0))
    }
  }

  test("every function-table name resolves to its table entry in an extension-only session") {
    withExtensionSession { spark =>
      val missing = functions.FunctionTable.entries.flatMap { case (id, info, _) =>
        val described = spark.sql(s"DESCRIBE FUNCTION ${id.funcName}")
          .collect().map(_.getString(0)).toSeq
        if (described.contains(s"Usage: ${info.getUsage}")) None
        else Some(s"${id.funcName}: ${described.mkString(" | ")}")
      }
      assert(missing.isEmpty, "not resolved to the table's entry:\n" + missing.mkString("\n"))
      assert(functions.installed(spark))
    }
  }

  test("q91's product() text answers DuckDB's rows in an extension-only session") {
    withExtensionSession { spark =>
      val rows = spark.sql(SparkEntry.oracleSql("q91_values_product")).collect()
        .map(r => (r.getInt(0), r.getDouble(1), r.getLong(2))).toSeq
      // DuckDB 1.0.0 on the same text
      assert(rows === Seq((1, 24.0, 3L), (2, 30.0, 2L)))
    }
  }

  test("3-argument levenshtein keeps Spark's threshold form in an extension-only session") {
    withExtensionSession { spark =>
      val r = spark.sql("SELECT levenshtein('kitten', 'sitting', 2) AS a, " +
        "levenshtein('kitten', 'sitting', 5) AS b, levenshtein('kitten', 'sitting') AS c")
        .collect().head
      // Spark's builtin answers INT, the DuckDB spelling BIGINT
      assert((0 to 2).map(r.getAs[Number](_).longValue) === Seq(-1L, 3L, 3L))
    }
  }

  test("an engine on an existingSession without the extension installs the function table and rules") {
    // every builder-made session in this JVM takes the extension from the
    // SparkContext's conf, so the plain session comes from the classic
    // constructor that takes its extensions as given (private to Spark's
    // package, hence reflection)
    val shared = SparkTestSession.spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val plain = classOf[org.apache.spark.sql.classic.SparkSession].getConstructors
      .find(_.getParameterCount == 6).get
      .newInstance(shared.sparkContext, Some(shared.sharedState), None,
        new org.apache.spark.sql.SparkSessionExtensions, Map.empty, Map.empty)
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    assert(!functions.installed(plain))
    assert(!plain.catalog.functionExists("product"))

    val conn = new session.Engine(session.EngineConfig(existingSession = Some(plain))).connect()
    val rows = conn.queryDF(SparkEntry.oracleSql("q91_values_product")).collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getLong(2))).toSeq
    assert(rows === Seq((1, 24.0, 3L), (2, 30.0, 2L)))
    assert(functions.installed(plain))
    assert(plain.experimental.extraOptimizations.contains(functions.ExactQuantileRule))
  }
}
