package org.apache.spark.sql.graftbridge

import java.io.ByteArrayOutputStream
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.channels.Channels

import scala.jdk.CollectionConverters._

import org.apache.arrow.vector.{VectorSchemaRoot, VectorUnloader}
import org.apache.arrow.vector.ipc.WriteChannel
import org.apache.arrow.vector.ipc.message.{ArrowBlock, ArrowFooter, MessageSerializer}
import org.apache.arrow.vector.types.pojo.Schema
import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.{CollectLimitExec, CollectTailExec, ColumnarToRowExec,
  CommandResultExec, LocalTableScanExec, ProjectExec, SparkPlan, TakeOrderedAndProjectExec,
  WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.arrow.{ArrowConverters, ArrowWriter}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.ArrowUtils
import org.apache.spark.sql.vectorized.{ColumnarArray, ColumnarBatch}

/** Bridge into Spark's `private[sql]` Arrow machinery (ArrowUtils /
  * ArrowWriter / ArrowConverters) — the engine's result wire format is Arrow
  * IPC, exactly like the reference (lib/src/webdb.cc:84-139 materializes an
  * IPC *file*, streams one IPC `RecordBatch` per fetch).
  *
  * Record batches are encoded where the rows are: on the executors, column
  * by column when the plan is a columnar scan that is only converted to rows
  * (and at most renamed), row by row otherwise; on the driver only for plans
  * whose root takes its rows there anyway (limits, top-k, local and command
  * results). The driver frames the encoded messages — schema, batches, EOS,
  * plus the footer of the file form — and never decodes them.
  *
  * Lives under `org.apache.spark.sql` purely for package-private access; all
  * engine logic stays in the `graft` packages.
  */
object ArrowBridge {

  /** Serialize a DataFrame as a complete Arrow IPC **file** (materialized
    * query result), at most `maxRecordsPerBatch` rows per record batch. */
  def toIpcFile(df: DataFrame, maxRecordsPerBatch: Int = 2048): Array[Byte] = {
    val schema = arrowSchema(df)
    val head = concat(FileMagic, new Array[Byte](2), schemaMessage(schema))
    val batches = recordBatches(df, maxRecordsPerBatch, incremental = false).toSeq
    val offsets = batches.scanLeft(head.length.toLong)(_ + _.length)
    val blocks = batches.zip(offsets).map { case (msg, at) =>
      val meta = metadataLength(msg)
      new ArrowBlock(at, meta, msg.length - meta)
    }
    val footer = WriteChannel.serialize(new ArrowFooter(schema, Nil.asJava, blocks.asJava))
    val footerBytes = new Array[Byte](footer.remaining)
    footer.get(footerBytes)
    concat(head +: batches :+ Eos :+ footerBytes :+ littleEndian(footerBytes.length) :+
      FileMagic: _*)
  }

  /** Serialize as Arrow IPC **stream** bytes (schema header + batches + EOS). */
  def toIpcStream(df: DataFrame, maxRecordsPerBatch: Int = 2048): Array[Byte] =
    concat(schemaMessage(arrowSchema(df)) +:
      recordBatches(df, maxRecordsPerBatch, incremental = false).toSeq :+ Eos: _*)

  /** The streaming form: the schema-only IPC stream, then one complete IPC
    * stream (schema, one batch, EOS) per record batch. The plan's batches
    * are pulled one partition at a time, so the driver never holds the
    * whole result. */
  def ipcStreams(df: DataFrame,
      maxRecordsPerBatch: Int = 2048): (Array[Byte], Iterator[Array[Byte]]) = {
    val schemaMsg = schemaMessage(arrowSchema(df))
    (concat(schemaMsg, Eos),
      recordBatches(df, maxRecordsPerBatch, incremental = true).map(concat(schemaMsg, _, Eos)))
  }

  /** The Arrow schema of a result, timestamps in the session time zone. */
  private def arrowSchema(df: DataFrame): Schema =
    toArrowSchema(df.schema, timeZone(df.sparkSession))

  private def toArrowSchema(schema: StructType, timeZone: String): Schema =
    ArrowUtils.toArrowSchema(schema, timeZone,
      errorOnDuplicatedFieldNames = true, largeVarTypes = false)

  private def timeZone(spark: SparkSession): String =
    spark.sessionState.conf.sessionLocalTimeZone

  private val FileMagic = "ARROW1".getBytes("US-ASCII")
  private val Eos = Array[Byte](-1, -1, -1, -1, 0, 0, 0, 0)

  private def schemaMessage(schema: Schema): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    MessageSerializer.serialize(new WriteChannel(Channels.newChannel(out)), schema)
    out.toByteArray
  }

  /** The length of an encapsulated message's prefix and flatbuffer
    * metadata: the continuation marker, then the padded metadata size. */
  private def metadataLength(msg: Array[Byte]): Int =
    8 + ByteBuffer.wrap(msg, 4, 4).order(ByteOrder.LITTLE_ENDIAN).getInt

  private def littleEndian(i: Int): Array[Byte] =
    ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN).putInt(i).array()

  private def concat(parts: Array[Byte]*): Array[Byte] = {
    val out = new Array[Byte](Math.toIntExact(parts.map(_.length.toLong).sum))
    parts.foldLeft(0) { (at, p) => System.arraycopy(p, 0, out, at, p.length); at + p.length }
    out
  }

  /** How a result plan's record batches are encoded. */
  private[graftbridge] sealed trait Encoder
  /** The root takes its rows on the driver: collect, encode there. */
  private[graftbridge] final case class OnDriver(plan: SparkPlan) extends Encoder
  /** A columnar scan only converted to rows: encode its column vectors,
    * output column `i` from the scan's column `ordinals(i)`. */
  private[graftbridge] final case class Columnar(scan: SparkPlan, ordinals: Seq[Int])
    extends Encoder
  /** Any other plan: encode its rows where they are produced. */
  private[graftbridge] final case class Rows(plan: SparkPlan) extends Encoder

  private[graftbridge] def encoder(df: DataFrame): Encoder = {
    val plan = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]]
      .queryExecution.executedPlan
    val driverRoot = plan match {
      case a: AdaptiveSparkPlanExec => a.inputPlan
      case p => p
    }
    val rowRoot = plan match {
      case WholeStageCodegenExec(child) => child
      case p => p
    }
    (driverRoot, rowRoot) match {
      case (_: CollectLimitExec | _: TakeOrderedAndProjectExec | _: CollectTailExec |
          _: LocalTableScanExec | _: CommandResultExec, _) => OnDriver(plan)
      case (_, c: ColumnarToRowExec) => Columnar(c.child, c.output.indices)
      case (_, ProjectExec(list, c: ColumnarToRowExec)) =>
        val ordinals = list.map {
          case a: Attribute => c.output.indexWhere(_.exprId == a.exprId)
          case Alias(a: Attribute, _) => c.output.indexWhere(_.exprId == a.exprId)
          case _ => -1
        }
        if (ordinals.contains(-1)) Rows(plan) else Columnar(c.child, ordinals)
      case _ => Rows(plan)
    }
  }

  /** The result's encapsulated record-batch messages, in result order:
    * gathered in one job, or pulled one partition at a time. */
  private def recordBatches(df: DataFrame, maxRows: Int,
      incremental: Boolean): Iterator[Array[Byte]] = {
    val schema = df.schema
    val tz = timeZone(df.sparkSession)
    def gather(batches: RDD[Array[Byte]]) =
      if (incremental) batches.toLocalIterator else batches.collect().iterator
    encoder(df) match {
      case OnDriver(plan) =>
        // deferred like the executor forms (a stream runs it on its first
        // fetch), and drained at once, which closes the encoder's allocator
        // even if the stream is abandoned
        Iterator.single(()).flatMap(_ => ArrowConverters.toBatchIterator(
          plan.executeCollect().iterator, schema, maxRows, tz, true, false, null).toList)
      case Columnar(scan, ordinals) =>
        val cols = ordinals.toArray
        gather(scan.executeColumnar().mapPartitionsInternal(
          encodeColumnar(_, cols, schema, tz, maxRows)))
      case Rows(plan) =>
        gather(plan.execute().mapPartitionsInternal(rows => ArrowConverters.toBatchIterator(
          rows, schema, maxRows, tz, true, false, TaskContext.get())))
    }
  }

  /** The column-vector kernel: each batch is cut into chunks of at most
    * `maxRows` rows and every output column is written straight from its
    * scan vector. Runs in a task; the Arrow schema is built there because
    * it is not serializable, and the vectors live in a child of Spark's
    * Arrow allocator until the task completes. */
  private def encodeColumnar(batches: Iterator[ColumnarBatch], ordinals: Array[Int],
      schema: StructType, tz: String, maxRows: Int): Iterator[Array[Byte]] = {
    val allocator = ArrowUtils.rootAllocator.newChildAllocator("graft-result", 0, Long.MaxValue)
    val root = VectorSchemaRoot.create(toArrowSchema(schema, tz), allocator)
    TaskContext.get().addTaskCompletionListener[Unit] { _ => root.close(); allocator.close() }
    val writers = root.getFieldVectors.asScala.map(ArrowWriter.createFieldWriter).toArray
    val unloader = new VectorUnloader(root)
    batches.flatMap { batch =>
      Iterator.range(0, batch.numRows, maxRows).map { start =>
        val n = math.min(maxRows, batch.numRows - start)
        var f = 0
        while (f < writers.length) {
          val w = writers(f)
          val column = new ColumnarArray(batch.column(ordinals(f)), start, n)
          w.reset()
          var i = 0
          while (i < n) { w.write(column, i); i += 1 }
          w.finish()
          f += 1
        }
        root.setRowCount(n)
        val recordBatch = unloader.getRecordBatch
        try {
          // sized for the body and a generous flatbuffer header: no regrowth
          val out = new ByteArrayOutputStream(recordBatch.computeBodyLength.toInt + 4096)
          MessageSerializer.serialize(new WriteChannel(Channels.newChannel(out)), recordBatch)
          out.toByteArray
        } finally recordBatch.close()
      }
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
