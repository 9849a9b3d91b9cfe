package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** `spark.sql.extensions`-style registration: a session built with
  * GraftExtensions resolves the native functions from SQL text without any
  * imperative registerAll call. Uses an isolated SparkSession (newSession
  * would share function registries; extensions bind at build). */
class ExtensionsSpec extends AnyFunSuite with BeforeAndAfterAll {

  test("withExtensions session resolves vec_* / graft_polyhash / vec_sum from SQL") {
    // ensure we exercise a FRESH session build: the shared test session must
    // not satisfy getOrCreate here
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
    try {
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
    } finally {
      // restore the shared session for the rest of the suite run
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      prior.foreach(SparkSession.setDefaultSession)
      prior.foreach(SparkSession.setActiveSession)
    }
  }
}
