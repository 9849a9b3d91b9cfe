package graft.results

import graft.SparkTestSession
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftbridge.ArrowBridge
import org.scalatest.funsuite.AnyFunSuite

/** The streaming schema message is written from the result's schema alone.
  * It must be the same bytes as the schema-only IPC stream of the result
  * run with `LIMIT 0`, which is how it was produced before. */
class ResultStreamSchemaSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private def limitZeroSchema(df: DataFrame, emitBigInt: Boolean): Array[Byte] =
    ArrowBridge.toIpcStream(ResultWriter.patch(df, emitBigInt).limit(0))

  private val shapes = Seq(
    "flat" ->
      """SELECT 1 AS i, CAST(2 AS BIGINT) AS l, 'x' AS s, 1.5D AS d, true AS b,
        |  DATE'2024-01-02' AS dt, CAST(NULL AS SMALLINT) AS n""".stripMargin,
    "nested" ->
      """SELECT named_struct('a', 1, 'b', named_struct('c', 'x')) AS st,
        |  array(1, 2) AS arr, array(named_struct('k', 'v')) AS arr_st,
        |  map('k', array(1.0D)) AS m""".stripMargin,
    "decimal" ->
      """SELECT CAST(1.25 AS DECIMAL(18,4)) AS d18, CAST(3 AS DECIMAL(38,10)) AS d38,
        |  CAST(7 AS DECIMAL(5,0)) AS d5""".stripMargin,
    "timestamp" ->
      """SELECT TIMESTAMP'2024-01-02 03:04:05' AS ts,
        |  TIMESTAMP_NTZ'2024-01-02 03:04:05' AS ntz, array(TIMESTAMP'2024-01-02') AS ts_arr""".stripMargin,
    "bigint-patched" ->
      """SELECT CAST(1 AS BIGINT) AS l, array(CAST(2 AS BIGINT)) AS la,
        |  named_struct('x', CAST(3 AS BIGINT), 'y', 'z') AS ls,
        |  map(CAST(4 AS BIGINT), array(CAST(5 AS BIGINT))) AS lm""".stripMargin)

  for ((name, sql) <- shapes; emitBigInt <- Seq(true, false))
    test(s"schema message is byte-identical to the LIMIT 0 stream: $name, emitBigInt=$emitBigInt") {
      val df = spark.sql(sql)
      val streamed = ResultWriter.stream(df, emitBigInt)
      assert(streamed.schemaIpc.toSeq === limitZeroSchema(df, emitBigInt).toSeq)
      // the batches that follow carry the same schema
      val batch = streamed.nextBatch()
      val decoded = ArrowBridge.fromIpcStream(spark, batch)
      assert(decoded.schema === ResultWriter.patch(df, emitBigInt).schema)
      assert(streamed.nextBatch().isEmpty)
    }
}
