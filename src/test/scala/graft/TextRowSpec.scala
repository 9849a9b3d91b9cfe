package graft

import graft.operators.{ExtendedQueries, MicroQueries, OperatorQueries, RelationalQueries, ScalarExtras, TemporalJoins, WindowExtras}
import graft.session.{Engine, EngineConfig}
import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Try

/** One implementation per oracle row: every row of the operator suites runs
  * its own oracle text on the engine's statement path, so the oracle checks
  * the path users take. The builders listed here are the exceptions; each
  * carries its reason in a comment above it. A text row's canonicalized
  * optimized plan must equal the plan of its oracle text run through a
  * fresh engine connection on the same tables. */
class TextRowSpec extends AnyFunSuite {
  import SparkTestSession.{sfDir, spark}

  private val rows = RelationalQueries.all ++ OperatorQueries.all ++ ExtendedQueries.all ++
    WindowExtras.all ++ ScalarExtras.all ++ TemporalJoins.all ++ MicroQueries.all

  private val builders = Set(
    "q21_exists_notexists", "q26_window_running_lag", "q44_approx_distinct",
    "q46_window_distribution", "q47_range_frame", "q54_range_join_banded", "q68_window_nth_ignore_nulls",
    "micro_sort_int")

  private lazy val fresh = {
    val c = new Engine(EngineConfig(existingSession = Some(spark.newSession()))).connect()
    Tables.registerAll(c.engine.spark, sfDir)
    c
  }

  private def canonical(df: DataFrame): String =
    Bench.planFingerprint(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]]
      .queryExecution.optimizedPlan.canonicalized.toString)

  private def textPlan(q: Q): String = canonical(fresh.queryDF(q.oracle))

  test("the kept builders are eight rows of the operator suites") {
    assert(builders.size === 8)
    assert(builders.subsetOf(rows.map(_.name).toSet),
      s"not a row: ${builders -- rows.map(_.name)}")
  }

  test("each kept builder plans what its text does not") {
    val redundant = rows.filter(q => builders(q.name))
      .filter(q => Try(textPlan(q)).toOption.contains(canonical(q.fn(spark, sfDir))))
    assert(redundant.isEmpty, s"builders equal to their text: ${redundant.map(_.name)}")
  }

  rows.filterNot(q => builders(q.name)).foreach { q =>
    test(s"${q.name} plans as its oracle text") {
      assert(canonical(q.fn(spark, sfDir)) === textPlan(q))
    }
  }
}
