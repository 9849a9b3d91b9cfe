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

/** `spark.sql` with the engine's parse-tree hook: the one place where a
  * DuckDB operator or function spelling becomes an engine expression.
  * Text rewrites preserve precedence but cannot type-dispatch, and
  * optimizer rules run too late to change an expression's resolved type,
  * so the hook rewrites the parsed plan before analysis:
  *  - operators: DuckDB's `//` (dialect-rewritten to the `div` keyword,
  *    which parses straight to IntegralDivide) becomes `graft_fdiv`,
  *    DATE−DATE and DATE+INTERVAL the `graft_sub`/`graft_add` dispatchers,
  *    `/` and `%` their NULL-on-zero TRY forms, and CAST / TRY_CAST to
  *    BOOLEAN DuckDB's strict string set;
  *  - integer casts: CAST, `::` and TRY_CAST to TINYINT, SMALLINT, INT or
  *    BIGINT become DuckDB's rounding [[graft.functions.GraftIntCast]],
  *    in the walk of the statement only, so the casts of the function
  *    table's templates keep truncating;
  *  - function calls: every `UnresolvedFunction` goes through the
  *    spelling table in [[graft.dialect.DialectFunctions]] (a window
  *    FILTER is folded later, in analysis, by
  *    [[graft.functions.WindowFilterFold]], so a stored view keeps it).
  * The walk is bottom-up and reaches subquery plans and CTE definitions.
  * Applied only on the engine's statement path (Connection and the
  * dialect passes that resolve a branch or an aggregate); plain
  * `spark.sql` keeps Spark's semantics. */
object ParsedSql {
  import org.apache.spark.sql.catalyst.analysis.{PersistedView, UnresolvedFunction, UnresolvedTableValuedFunction}
  import org.apache.spark.sql.catalyst.expressions.{Add, Cast, Divide, EvalMode, Expression, IntegralDivide, Remainder, SubqueryExpression, Subtract}
  import org.apache.spark.sql.catalyst.plans.logical.{CreateView, LogicalPlan, SubqueryAlias, UnresolvedWith}
  import org.apache.spark.sql.execution.command.CreateViewCommand
  import graft.functions.GraftIntCast

  private def fn(name: String, args: Seq[Expression]) =
    new UnresolvedFunction(Seq(name), args, false, None, false, Nil, false)

  private val operators: PartialFunction[Expression, Expression] = {
    case d: IntegralDivide => fn("graft_fdiv", Seq(d.left, d.right))
    // DATE − DATE is BIGINT days in DuckDB, an INTERVAL in Spark — a
    // resolved-type dispatch (graft_sub reproduces Spark's analyzer
    // dispatch for every other operand combination)
    case s: Subtract => fn("graft_sub", Seq(s.left, s.right))
    // DATE + INTERVAL is a midnight-anchored TIMESTAMP in DuckDB where
    // Spark keeps DATE — the graft_sub mirror
    case a: Add => fn("graft_add", Seq(a.left, a.right))
    // DuckDB yields NULL for division/modulo by zero at EVERY type;
    // Spark's ANSI `/` and `%` throw. try_divide/try_mod are exactly
    // Divide/Remainder with EvalMode.TRY — same typing, NULL on zero
    // (probed: 1/0, 1.0/0.0, 1 % 0 all NULL in DuckDB).
    case d: Divide if d.evalMode != EvalMode.TRY =>
      fn("try_divide", Seq(d.left, d.right))
    case r: Remainder if r.evalMode != EvalMode.TRY =>
      fn("try_mod", Seq(r.left, r.right))
    // CAST(e AS BOOLEAN): DuckDB's strict VARCHAR set (errors on
    // 'yes'/'no'/padded where Spark's ANSI cast silently accepts);
    // TRY_CAST(e AS BOOLEAN) the same set, NULL-quiet. Both dispatch on the
    // resolved type — non-strings keep Spark's cast. Literal inputs would
    // constant-fold before any optimizer-rule defense could run.
    case c: Cast if c.dataType == org.apache.spark.sql.types.BooleanType =>
      fn(if (c.isTryCast) "graft_try_bool" else "graft_cast_bool", Seq(c.child))
  }

  /** The operator rewrites alone: the function table's templates carry
    * them, since a template's output is not walked again. */
  def fixOperators(e: Expression): Expression = e.transformUp(operators)

  private def fixExpr(e: Expression, strict: Boolean): Expression = {
    val withChildren = e match {
      case se: SubqueryExpression => se.withNewPlan(fixPlan(se.plan, strict))
      case _ => e.mapChildren(fixExpr(_, strict))
    }
    withChildren match {
      case uf: UnresolvedFunction =>
        graft.dialect.DialectFunctions.resolve(uf, strict).getOrElse(uf)
      case c: Cast if graft.functions.TryParseIntegral.targets(c.dataType) =>
        GraftIntCast(c.child, c.dataType, c.evalMode)
      case other => operators.applyOrElse(other, identity[Expression])
    }
  }

  /** Every expression of every plan node, CTE definitions included (they
    * are not children of `UnresolvedWith`). */
  private def fixPlan(plan: LogicalPlan, strict: Boolean): LogicalPlan = {
    val node = plan match {
      case w: UnresolvedWith => w.copy(cteRelations = w.cteRelations.map {
        case (name, body, depth) =>
          (name, fixPlan(body, strict).asInstanceOf[SubqueryAlias], depth)
      })
      case t: UnresolvedTableValuedFunction =>
        graft.dialect.DialectFunctions.tableFunction(t.name).fold(t)(n => t.copy(name = Seq(n)))
      // A view stored as its SQL text is re-parsed on every read, without
      // this hook. When the hook changes the body, a temp view stores the
      // hooked plan instead (its names bound now, where text binds them at
      // each read); a persisted view, which must store text, see `parsed`
      case v: CreateViewCommand
          if v.viewType != PersistedView && fixPlan(v.plan, strict) != v.plan =>
        v.copy(originalText = None)
      case other => other
    }
    node.mapChildren(fixPlan(_, strict)).mapExpressions(fixExpr(_, strict))
  }

  /** A persisted view stores its text, read back without the hook, so it
    * is refused when the hook changed its body, unless `readsBackSame`. */
  private def parsed(spark: SparkSession, text: String, strict: Boolean): LogicalPlan = {
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val plan = cs.sessionState.sqlParser.parsePlan(text)
    val hooked = fixPlan(plan, strict)
    (plan, hooked) match {
      case (v: CreateView, h: CreateView) if !readsBackSame(cs, v.query, h.query) =>
        throw new UnsupportedOperationException("CREATE VIEW stores its body as text, " +
          "which is read back without the DuckDB dialect: use CREATE TEMP VIEW")
      case _ => hooked
    }
  }

  /** The hook left `query` as it was, or changed only integer casts of
    * integral values, which do not round: their text means the same. */
  private def readsBackSame(spark: org.apache.spark.sql.classic.SparkSession,
      query: LogicalPlan, hooked: LogicalPlan): Boolean =
    hooked == query ||
      hooked.transformAllExpressions { case g: GraftIntCast => g.plain } == query &&
      !org.apache.spark.sql.classic.Dataset.ofRows(spark, hooked).queryExecution.analyzed
        .exists(_.expressions.exists(_.exists {
          case g: GraftIntCast => g.replacement != g.plain
          case _ => false
        }))

  /** Parse `text`, apply the hook, and bind positional `?` parameters the
    * way Spark's own `sql(text, args)` binds them (`PosParameterizedQuery`
    * over literal arguments). `strict` is `SET strict_math`. */
  def sql(spark: SparkSession, text: String, args: Seq[Any] = Nil,
      strict: Boolean = false): DataFrame = {
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val plan = parsed(spark, text, strict)
    org.apache.spark.sql.classic.Dataset.ofRows(cs,
      if (args.isEmpty) plan
      else org.apache.spark.sql.catalyst.analysis.PosParameterizedQuery(plan,
        args.map(a => cs.toRichColumn(org.apache.spark.sql.functions.lit(a)).expr)))
  }

  /** The output schema of `text` under the hook, analyzed, not run. */
  def schema(spark: SparkSession, text: String, strict: Boolean): StructType =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      parsed(spark, text, strict)).schema

  /** One expression under the hook, as a Column. */
  def column(spark: SparkSession, text: String, strict: Boolean): org.apache.spark.sql.Column =
    ExprBridge.column(fixExpr(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.sqlParser.parseExpression(text), strict))

  /** Spark's own `EXPLAIN <mode>` (one `plan` column) over the plan `sql`
    * would run; like Spark's EXPLAIN, a command is explained, not run. */
  def explain(spark: SparkSession, text: String, mode: String,
      strict: Boolean = false): DataFrame = {
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    org.apache.spark.sql.classic.Dataset.ofRows(cs,
      org.apache.spark.sql.execution.command.ExplainCommand(parsed(spark, text, strict),
        org.apache.spark.sql.execution.ExplainMode.fromString(mode)))
  }
}

/** Column ↔ Expression bridge (Spark 4 wraps Columns in ColumnNodes; the
  * classic converters are package-private-ish). */
object ExprBridge {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.catalyst.expressions.Expression
  import org.apache.spark.sql.classic.ExpressionUtils

  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
