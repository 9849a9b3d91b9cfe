package graft

import graft.session.{Engine, EngineConfig, SessionDefaults}
import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

/** Spark's generated-class cache holds the engine's working set: a cycle
  * of statements with more distinct classes than Spark's default cache of
  * 100 entries compiles each class once, not again on every run. Every
  * session the tests build carries the engine's bound, so whichever suite
  * generates code first in the test JVM sizes the cache the same way. */
class CodegenCacheSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private lazy val conn =
    new Engine(EngineConfig(existingSession = Some(spark))).connect()

  test("a cycle of more statements than 100 cache entries compiles each class once") {
    assert(spark.conf.get(SessionDefaults.CodegenCacheConf).toInt ===
      SessionDefaults.CodegenCacheEntries)
    spark.range(1000).toDF("x").createOrReplaceTempView("codegen_cycle")
    try {
      // each literal is inlined into the generated code, so every
      // statement compiles at least one class of its own
      val stmts = (1 to 150).map(i =>
        s"SELECT sum(x * $i) AS s FROM codegen_cycle WHERE x % 1000 <> ${1000 + i}")
      def compiles(): Long = {
        val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        stmts.zip(1 to stmts.size).foreach { case (sql, i) =>
          assert(conn.queryDF(sql).collect().head.getAs[Number](0).longValue === 499500L * i)
        }
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
      }
      val first = compiles()
      assert(first > 100, s"the cycle must need more than 100 classes, compiled $first")
      assert(compiles() === 0L,
        s"the second round recompiled classes the first compiled ($first)")
    } finally spark.catalog.dropTempView("codegen_cycle")
  }
}
