package graft.results

import graft.session.ResultStream
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ArrowBridge
import org.apache.spark.sql.types._

/** DataFrame → Arrow IPC result serialization, including the reference's
  * BigInt patch: with emitBigInt=false every INT64/UINT64 column — including
  * nested struct/array/map fields — is rewritten to FLOAT64 in schema and
  * data before results are returned (lib/src/arrow_casts.cc:9-88, recursive
  * descent lib/include/duckdb/web/arrow_casts.h:20-60; asserted by
  * bindings.test.ts:176-198). */
object ResultWriter {

  def ipcFile(df: DataFrame, emitBigInt: Boolean): Array[Byte] =
    ArrowBridge.toIpcFile(patch(df, emitBigInt))

  def ipcStream(df: DataFrame, emitBigInt: Boolean): Array[Byte] =
    ArrowBridge.toIpcStream(patch(df, emitBigInt))

  /** Streaming form: schema-only IPC stream first, then one IPC stream per
    * batch (reference sends the schema on send() and one RecordBatch per
    * fetch — webdb.cc:121-139,169-202). The batches are encoded where the
    * rows are and pulled one partition at a time — the driver never
    * materializes the full result, which is the whole point of the
    * batch-fetch protocol. The schema message comes from the analyzed schema
    * alone (no second plan). */
  def stream(df: DataFrame, emitBigInt: Boolean, batchRows: Int = 2048): ResultStream = {
    val (schemaIpc, batches) = ArrowBridge.ipcStreams(patch(df, emitBigInt), batchRows)
    new ResultStream(schemaIpc, batches)
  }

  /** Rewrite all 64-bit integer columns (at any nesting depth) to double. */
  private[results] def patch(df: DataFrame, emitBigInt: Boolean): DataFrame =
    if (emitBigInt) df
    else {
      val cols = df.schema.fields.map { f =>
        if (hasLong(f.dataType)) col(f.name).cast(patchType(f.dataType)).as(f.name)
        else col(f.name)
      }
      df.select(cols.toSeq: _*)
    }

  private def hasLong(dt: DataType): Boolean = dt match {
    case LongType => true
    case ArrayType(e, _) => hasLong(e)
    case MapType(k, v, _) => hasLong(k) || hasLong(v)
    case StructType(fs) => fs.exists(f => hasLong(f.dataType))
    case _ => false
  }

  private def patchType(dt: DataType): DataType = dt match {
    case LongType => DoubleType
    case ArrayType(e, n) => ArrayType(patchType(e), n)
    case MapType(k, v, n) => MapType(patchType(k), patchType(v), n)
    case StructType(fs) =>
      StructType(fs.map(f => f.copy(dataType = patchType(f.dataType))))
    case other => other
  }
}
