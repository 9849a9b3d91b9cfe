package graft.functions

import org.apache.spark.sql.catalyst.analysis.{UnresolvedFunction, UnresolvedStar}
import org.apache.spark.sql.catalyst.expressions.{CaseWhen, Expression, WindowExpression}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

/** `agg(x) FILTER (WHERE p) OVER (…)`: DuckDB accepts a FILTER on a window
  * aggregate; Spark parses it and rejects it while it extracts the windows,
  * ahead of every resolution rule an extension can add. For an aggregate
  * that skips NULL inputs, filtering a row out and nulling its argument
  * leave the same state, so the predicate folds into the value argument:
  * `agg(CASE WHEN p THEN x END) OVER (…)`. A DISTINCT stays outside the CASE
  * ([[DistinctFilterWindowRule]] plans it over whole partitions); every
  * other filtered window keeps Spark's error.
  *
  * The fold runs in the analyzer's hint batch, which follows named-window
  * substitution, precedes resolution and also runs on a stored view's body
  * when the view is read, so view text keeps its FILTER. It sees Spark's
  * function names: on the engine's statement path the function-spelling
  * table has already rewritten DuckDB's (`fsum` is `sum` over DOUBLE by
  * then). */
object WindowFilterFold extends Rule[LogicalPlan] {

  private val NullIgnoring = Set("sum", "count", "avg", "mean", "min", "max",
    "stddev", "stddev_samp", "stddev_pop", "variance", "var_samp", "var_pop",
    "median", "entropy", "quantile", "quantile_disc", "quantile_cont")
  /** Members whose second argument is the quantile position. */
  private val FirstArgOnly = Set("quantile", "quantile_disc", "quantile_cont")

  private def fold(uf: UnresolvedFunction): Option[UnresolvedFunction] = {
    val name = uf.nameParts.last.toLowerCase(java.util.Locale.ROOT)
    val folds = uf.filter.isDefined && uf.nameParts.length == 1 && NullIgnoring(name) &&
      !uf.arguments.headOption.exists(_.isInstanceOf[UnresolvedStar])
    def when(x: Expression) = CaseWhen(Seq(uf.filter.get -> x))
    uf.arguments match {
      case Seq(x) if folds => Some(uf.copy(arguments = Seq(when(x)), filter = None))
      case Seq(x, q) if folds && FirstArgOnly(name) =>
        Some(uf.copy(arguments = Seq(when(x), q), filter = None))
      case _ => None
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveExpressions {
    case w @ WindowExpression(uf: UnresolvedFunction, _) =>
      fold(uf).fold(w: Expression)(f => w.copy(windowFunction = f))
  }
}
