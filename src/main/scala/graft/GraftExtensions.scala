package graft

import org.apache.spark.sql.SparkSessionExtensions

/** Standard Spark extension entry point: make the engine's native
  * expressions and rules available in ANY session via
  *
  * {{{
  * spark.sql.extensions=graft.GraftExtensions           // spark-submit conf
  * SparkSession.builder().withExtensions(new GraftExtensions) // programmatic
  * }}}
  *
  * Every session the engine builds carries it (`SessionDefaults.builder`).
  * It injects each entry of [[functions.FunctionTable]], the engine's one
  * function table, which Catalyst resolves like built-ins — usable from
  * SQL text on every executor with codegen — and the engine's resolution
  * and optimizer rules. `graft.functions.registerAll` installs the same
  * table and the optimizer rules on a caller-built `existingSession`
  * without the extension; the resolution rules can only ride a session's
  * construction.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    // Optimizer rules (TryCastParseRule / ExactQuantileRule /
    // QuantileFallbackRule / RangeWindowGroupRule) must land in the
    // END-position "User Provided Optimizers" batch, NOT the operator-
    // optimization batch injectOptimizerRule feeds: at operator-batch
    // position their stitched output is re-chewed by the standard rules
    // and the marker-eliminator can outrun the histogram stitch
    // (round 15: windowed entropy over an all-NULL partition folded to
    // NULL). injectPostHocResolutionRule is the one hook that receives
    // the session, so the rules are appended to experimental
    // .extraOptimizations, as graft.functions.registerAll does;
    // the hook itself is a pass-through on the plan and the append is
    // idempotent.
    ext.injectPostHocResolutionRule { session =>
      new org.apache.spark.sql.catalyst.rules.Rule[
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] {
        override val ruleName = "graft.EnsureOptimizerRules"
        override def apply(
            plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
            : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
          functions.ensureOptimizerRules(session)
          plan
        }
      }
    }
    // interval comparisons Spark can't resolve (CalendarIntervalType /
    // cross-family) → exact normalized compare (months=30 d, day=24 h)
    ext.injectResolutionRule(_ => functions.IntervalCompareRule)
    // frame EXCLUDE: the dialect text leaves a graft_exclude key in the
    // window's PARTITION BY, and the rule plans it on the resolved Window
    // nodes, ahead of DistinctFilterWindowRule (which must not stitch a
    // keyed window) and of CheckAnalysis. The key is registered with
    // Spark's builtins, which every session's registry is cloned from:
    // a persisted view stores the key in its text, and Spark refuses a
    // persisted view that names a session (temporary) function; it is
    // registered once per JVM
    functions.WindowExclusion.registerBuiltin
    ext.injectResolutionRule(_ => functions.WindowExcludeRule)
    // ahead of resolution (the hint batch, which also runs on a stored
    // view's body): an EXCLUDE avg is spelled as its DOUBLE sum / count, and
    // a window FILTER folds into the argument, since window extraction
    // rejects it before any resolution rule runs
    ext.injectHintResolutionRule(_ => functions.WindowExcludeAvg)
    ext.injectHintResolutionRule(_ => functions.WindowFilterFold)
    // DISTINCT/FILTER window aggregates over whole-partition frames must
    // stitch BEFORE CheckAnalysis rejects them (duck accepts them for
    // every aggregate; Spark's check fires ahead of all optimizer rules)
    ext.injectResolutionRule(_ => functions.DistinctFilterWindowRule)
    functions.FunctionTable.entries.foreach(ext.injectFunction)
  }
}
