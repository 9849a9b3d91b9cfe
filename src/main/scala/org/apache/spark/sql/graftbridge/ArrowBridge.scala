package org.apache.spark.sql.graftbridge

import java.io.ByteArrayOutputStream
import java.nio.channels.Channels

import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector.VectorSchemaRoot
import org.apache.arrow.vector.ipc.{ArrowFileWriter, ArrowStreamWriter}
import org.apache.arrow.vector.types.pojo.Schema
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.arrow.{ArrowConverters, ArrowWriter}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.ArrowUtils

/** Bridge into Spark's `private[sql]` Arrow machinery (ArrowUtils /
  * ArrowWriter / ArrowConverters) — the engine's result wire format is Arrow
  * IPC, exactly like the reference (lib/src/webdb.cc:84-139 materializes an
  * IPC *file*, streams one IPC `RecordBatch` per fetch).
  *
  * Lives under `org.apache.spark.sql` purely for package-private access; all
  * engine logic stays in the `graft` packages.
  */
object ArrowBridge {

  /** Serialize a DataFrame as a complete Arrow IPC **file** (materialized
    * query result). Runs the plan distributed, collects InternalRows to the
    * driver (results are client-bound by definition), writes vectors in
    * `maxRecordsPerBatch` chunks. */
  def toIpcFile(df: DataFrame, maxRecordsPerBatch: Int = 2048): Array[Byte] =
    write(df, maxRecordsPerBatch, stream = false)

  /** Serialize as Arrow IPC **stream** bytes (schema header + batches + EOS). */
  def toIpcStream(df: DataFrame, maxRecordsPerBatch: Int = 2048): Array[Byte] =
    write(df, maxRecordsPerBatch, stream = true)

  /** The Arrow schema of a result, timestamps in the session time zone. */
  def arrowSchema(spark: SparkSession, schema: StructType): Schema =
    ArrowUtils.toArrowSchema(schema, spark.sessionState.conf.sessionLocalTimeZone,
      errorOnDuplicatedFieldNames = true, largeVarTypes = false)

  private def write(df: DataFrame, maxRecordsPerBatch: Int, stream: Boolean): Array[Byte] = {
    val arrowSchema = this.arrowSchema(df.sparkSession, df.schema)
    val rows: Array[InternalRow] =
      df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]]
        .queryExecution.executedPlan.executeCollect()

    val allocator = new RootAllocator(Long.MaxValue)
    val root = VectorSchemaRoot.create(arrowSchema, allocator)
    val out = new ByteArrayOutputStream()
    val channel = Channels.newChannel(out)
    val writer =
      if (stream) new ArrowStreamWriter(root, null, channel)
      else new ArrowFileWriter(root, null, channel)
    val arrowWriter = ArrowWriter.create(root)
    try {
      writer.start()
      var i = 0
      while (i < rows.length) {
        val end = math.min(i + maxRecordsPerBatch, rows.length)
        arrowWriter.reset()
        var j = i
        while (j < end) { arrowWriter.write(rows(j)); j += 1 }
        arrowWriter.finish()
        writer.writeBatch()
        i = end
      }
      writer.end()
      out.toByteArray
    } finally {
      writer.close()
      root.close()
      allocator.close()
    }
  }

  /** Incremental execution: a pull-based InternalRow iterator that runs
    * the plan partition-by-partition (driver holds at most one partition —
    * the streaming-send path must NOT materialize the result). */
  def executeToIterator(df: DataFrame): Iterator[InternalRow] =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]]
      .queryExecution.executedPlan.executeToIterator()

  /** One Arrow IPC stream (schema + single batch + EOS) from driver-local
    * InternalRows — the per-fetch chunk of the streaming protocol. With no
    * rows it is the schema-only message sent first (schema + EOS). */
  def ipcStreamForRows(arrowSchema: Schema, rows: Seq[InternalRow]): Array[Byte] = {
    val allocator = new RootAllocator(Long.MaxValue)
    val root = VectorSchemaRoot.create(arrowSchema, allocator)
    val out = new ByteArrayOutputStream()
    val writer = new ArrowStreamWriter(root, null, Channels.newChannel(out))
    val arrowWriter = ArrowWriter.create(root)
    try {
      writer.start()
      if (rows.nonEmpty) {
        arrowWriter.reset()
        rows.foreach(arrowWriter.write)
        arrowWriter.finish()
        writer.writeBatch()
      }
      writer.end()
      out.toByteArray
    } finally {
      writer.close(); root.close(); allocator.close()
    }
  }

  /** Decode a complete Arrow IPC stream into a DataFrame (ingest path —
    * reference insertArrowFromIPCStream, webdb.cc:280-337). */
  def fromIpcStream(spark: SparkSession, bytes: Array[Byte]): DataFrame = {
    val (iter, schema) = ArrowConverters.fromIPCStream(bytes)
    try ofLocalRows(spark, schema, iter.map(_.copy()).toSeq)
    finally iter.close()
  }

  /** Build a DataFrame from driver-local InternalRows. */
  def ofLocalRows(spark: SparkSession, schema: StructType,
      rows: Seq[InternalRow]): DataFrame = {
    val attrs: Seq[Attribute] = DataTypeUtils.toAttributes(schema)
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      LocalRelation(attrs, rows))
  }
}

/** Reference behavior pinned by github_332.test.ts:71-77: identifier
  * resolution is case-insensitive but the output schema preserves the
  * *stored* column case (`SELECT productgroup` returns a field named
  * `ProductGroup`). Spark instead emits the case as typed in the query; this
  * pass renames output columns back to the leaf relation's case when a
  * unique case-insensitive match exists. */
object CasePreserve {
  /** Restore the *stored* case of directly-referenced columns (the reference
    * preserves creation case through case-insensitive resolution). Only
    * output attributes that resolve to a leaf relation attribute — tracked
    * by exprId through the analyzed plan — are renamed; explicit user
    * aliases (fresh exprIds) are untouched, so `SELECT sum(x) AS Total`
    * keeps its alias verbatim and two aliases can never collapse onto one
    * leaf name. */
  def fix(df: DataFrame): DataFrame = {
    val analyzed =
      df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]].queryExecution.analyzed
    val leafById = analyzed.collectLeaves()
      .flatMap(_.output.map(a => a.exprId -> a.name)).toMap
    val renamed = analyzed.output.map { a =>
      leafById.get(a.exprId) match {
        case Some(orig) if orig != a.name && orig.equalsIgnoreCase(a.name) => orig
        case _ => a.name
      }
    }
    if (renamed == df.schema.fieldNames.toSeq) df
    else df.toDF(renamed: _*)
  }
}

/** `spark.sql` with a parse-level hook for operator spellings whose
  * SEMANTICS depend on resolved types — text rewrites preserve precedence
  * but cannot type-dispatch, and optimizer rules run too late to change an
  * expression's resolved type. The one current rewrite: DuckDB's `//`
  * (dialect-rewritten to the `div` keyword, which Spark parses straight to
  * IntegralDivide, bypassing the function registry) becomes the engine's
  * `graft_fdiv`, whose analysis-time replacement keeps integral semantics
  * for integral operands and degenerates to plain DOUBLE division when
  * either operand is fractional — DuckDB 1.0's probed behavior. Applied
  * only on the engine's statement path (Connection); plain spark.sql keeps
  * Spark's `div`. */
object ParsedSql {
  import org.apache.spark.sql.catalyst.expressions.{Add, Divide, EvalMode, IntegralDivide, Remainder, SubqueryExpression, Subtract}
  import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

  private def fn(name: String,
      args: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =
    new org.apache.spark.sql.catalyst.analysis.UnresolvedFunction(
      Seq(name), args, false, None, false, Nil, false)

  /** The operator rewrites, applied RECURSIVELY through subquery
    * expressions — transformAllExpressions alone does not descend into a
    * ScalarSubquery/Exists/ListQuery's nested plan, which left `//`, `/`
    * and `%` inside subqueries on Spark semantics (found by the round-13
    * aggregate probe grid, which runs everything as scalar subqueries). */
  private def fixPlan(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case se: SubqueryExpression => se.withNewPlan(fixPlan(se.plan))
      case d: IntegralDivide => fn("graft_fdiv", Seq(d.left, d.right))
      // date_part/extract: DuckDB's INTERVAL component semantics (hours
      // unbounded, days separate, trunc-toward-zero month arithmetic,
      // DOUBLE epoch) are a resolved-type dispatch — graft_datepart keeps
      // Spark's own field parsing for date/timestamp sources
      case uf: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
          if uf.nameParts.length == 1 && uf.arguments.length == 2 &&
            !uf.isDistinct && uf.filter.isEmpty &&
            Set("extract", "date_part", "datepart")(
              uf.nameParts.head.toLowerCase) =>
        fn("graft_datepart", uf.arguments)
      // DATE − DATE is BIGINT days in DuckDB, an INTERVAL in Spark — a
      // resolved-type dispatch (graft_sub reproduces Spark's analyzer
      // dispatch for every other operand combination)
      case s: Subtract => fn("graft_sub", Seq(s.left, s.right))
      // DATE + INTERVAL is a midnight-anchored TIMESTAMP in DuckDB where
      // Spark keeps DATE — the graft_sub mirror (round 14)
      case a: Add => fn("graft_add", Seq(a.left, a.right))
      // DuckDB yields NULL for division/modulo by zero at EVERY type;
      // Spark's ANSI `/` and `%` throw. try_divide/try_mod are exactly
      // Divide/Remainder with EvalMode.TRY — same typing, NULL on zero
      // (round-13 probe grid: 1/0, 1.0/0.0, 1 % 0 all NULL in DuckDB).
      case d: Divide if d.evalMode != EvalMode.TRY =>
        fn("try_divide", Seq(d.left, d.right))
      case r: Remainder if r.evalMode != EvalMode.TRY =>
        fn("try_mod", Seq(r.left, r.right))
      // plain CAST(e AS BOOLEAN): DuckDB's strict VARCHAR set (errors on
      // 'yes'/'no'/padded where Spark's ANSI cast silently accepts);
      // graft_cast_bool dispatches on the resolved type — non-strings
      // keep Spark's cast (TRY casts are handled in the dialect layer)
      case c: org.apache.spark.sql.catalyst.expressions.Cast
          if c.dataType == org.apache.spark.sql.types.BooleanType &&
            !c.isTryCast =>
        fn("graft_cast_bool", Seq(c.child))
    }

  /** Parse `text`, apply the operator rewrites, and bind positional `?`
    * parameters the way Spark's own `sql(text, args)` binds them
    * (`PosParameterizedQuery` over literal arguments). */
  def sql(spark: SparkSession, text: String, args: Seq[Any] = Nil): DataFrame = {
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val plan = fixPlan(cs.sessionState.sqlParser.parsePlan(text))
    org.apache.spark.sql.classic.Dataset.ofRows(cs,
      if (args.isEmpty) plan
      else org.apache.spark.sql.catalyst.analysis.PosParameterizedQuery(plan,
        args.map(a => cs.toRichColumn(org.apache.spark.sql.functions.lit(a)).expr)))
  }

  /** Spark's own `EXPLAIN <mode>` (one `plan` column) over the plan `sql`
    * would run; like Spark's EXPLAIN, a command is explained, not run. */
  def explain(spark: SparkSession, text: String, mode: String): DataFrame = {
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    org.apache.spark.sql.classic.Dataset.ofRows(cs,
      org.apache.spark.sql.execution.command.ExplainCommand(
        fixPlan(cs.sessionState.sqlParser.parsePlan(text)),
        org.apache.spark.sql.execution.ExplainMode.fromString(mode)))
  }
}

/** Column ↔ Expression bridge (Spark 4 wraps Columns in ColumnNodes; the
  * classic converters are package-private-ish) + SQL function registration
  * for the engine's native expressions. */
object ExprBridge {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.catalyst.expressions.Expression
  import org.apache.spark.sql.classic.ExpressionUtils

  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  def registerFunction(spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")
}
