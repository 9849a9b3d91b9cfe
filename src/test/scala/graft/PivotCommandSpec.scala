package graft

import graft.session.{Commands, Engine, EngineConfig}
import org.scalatest.funsuite.AnyFunSuite

/** DuckDB PIVOT / UNPIVOT statements and the DESCRIBE / SUMMARIZE meta
  * commands, dispatched through the engine Connection. */
class PivotCommandSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private lazy val engine =
    new Engine(EngineConfig(existingSession = Some(spark)))
  private lazy val conn = engine.connect()

  private def prepare(): Unit =
    Tables.registerAll(spark, SparkTestSession.sfDir)

  test("PIVOT with explicit GROUP BY: one column per ON value") {
    prepare()
    val df = conn.queryDF(
      "PIVOT orders ON o_orderstatus USING sum(o_totalprice) GROUP BY o_orderpriority")
    assert(df.columns.head === "o_orderpriority")
    assert(df.columns.toSet.contains("O")) // a status value became a column
    val statuses = spark.table("orders").select("o_orderstatus")
      .distinct().collect().map(_.getString(0)).toSet
    assert(df.columns.toSet === statuses + "o_orderpriority")
  }

  test("PIVOT USING aggregates resolve DuckDB function spellings") {
    prepare()
    val df = conn.queryDF("PIVOT orders ON o_orderstatus USING fsum(o_totalprice)")
    val byStatus = spark.table("orders").groupBy("o_orderstatus")
      .agg(org.apache.spark.sql.functions.sum("o_totalprice")).collect()
      .map(r => r.getString(0) -> r.get(1).toString.toDouble).toMap
    // implicit GROUP BY: one row per order, its price under its status
    byStatus.foreach { case (st, total) =>
      val got = df.agg(org.apache.spark.sql.functions.sum(st)).head.getDouble(0)
      assert(math.abs(got - total) < 1e-6 * math.max(1.0, total), st)
    }
  }

  test("PIVOT implicit GROUP BY: remaining columns group") {
    prepare()
    spark.sql("SELECT o_orderpriority, o_orderstatus, o_totalprice FROM orders")
      .createOrReplaceTempView("__pvt_narrow")
    val df = conn.queryDF("PIVOT __pvt_narrow ON o_orderstatus USING sum(o_totalprice)")
    assert(df.columns.head === "o_orderpriority") // the only non-ON, non-agg column
    val explicit = conn.queryDF(
      "PIVOT __pvt_narrow ON o_orderstatus USING sum(o_totalprice) GROUP BY o_orderpriority")
    assert(df.orderBy("o_orderpriority").collect().map(_.toSeq).toSeq ===
      explicit.orderBy("o_orderpriority").collect().map(_.toSeq).toSeq)
  }

  test("PIVOT implicit GROUP BY keeps columns whose names collide with USING tokens") {
    prepare()
    import spark.implicits._
    // a grouping column literally named `sum` and one colliding with a word
    // inside a string literal — both must still group (binder-rule parity;
    // the old word-regex over the USING text excluded them)
    Seq(("a", "x", 1.0), ("a", "x", 2.0), ("b", "y", 3.0))
      .toDF("sum", "lit", "price").createOrReplaceTempView("__pvt_collide")
    val df = conn.queryDF(
      "PIVOT __pvt_collide ON lit USING sum(price + length('sum lit') * 0)")
    assert(df.columns.contains("sum"))
    assert(df.count() === 2L) // grouped by the `sum` column: 'a' and 'b'
  }

  test("PIVOT ON ... IN pins columns and skips the distinct job") {
    prepare()
    val df = conn.queryDF(
      "PIVOT orders ON o_orderstatus IN ('O', 'F') USING sum(o_totalprice) GROUP BY o_orderpriority")
    // exactly the pinned values become columns, in the pinned order
    assert(df.columns.toSeq === Seq("o_orderpriority", "O", "F"))
    val dynamic = conn.queryDF(
      "PIVOT orders ON o_orderstatus USING sum(o_totalprice) GROUP BY o_orderpriority")
    val fromDyn = dynamic.select("o_orderpriority", "O", "F")
      .orderBy("o_orderpriority").collect().map(_.toSeq).toSeq
    assert(df.orderBy("o_orderpriority").collect().map(_.toSeq).toSeq === fromDyn)
  }

  test("PIVOT aliased aggregates name columns value_alias like DuckDB") {
    prepare()
    val one = conn.queryDF(
      "PIVOT orders ON o_orderstatus USING sum(o_totalprice) AS s GROUP BY o_orderpriority")
    assert(one.columns.toSeq.filter(_ != "o_orderpriority").forall(_.endsWith("_s")))
    val two = conn.queryDF(
      "PIVOT orders ON o_orderstatus USING sum(o_totalprice) AS s, count(*) AS c GROUP BY o_orderpriority")
    val nonGroup = two.columns.toSeq.filter(_ != "o_orderpriority")
    assert(nonGroup.exists(_.endsWith("_s")) && nonGroup.exists(_.endsWith("_c")))
  }

  test("UNPIVOT melts columns and drops NULL cells") {
    prepare()
    import spark.implicits._
    Seq((1L, Some(10.0), None: Option[Double]), (2L, Some(20.0), Some(30.0)))
      .toDF("id", "a", "b").createOrReplaceTempView("__unp_t")
    val df = conn.queryDF("UNPIVOT __unp_t ON a, b INTO NAME k VALUE v")
      .orderBy("id", "k")
    assert(df.columns.toSeq === Seq("id", "k", "v"))
    val rows = df.collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    assert(rows === Seq((1L, "a", 10.0), (2L, "a", 20.0), (2L, "b", 30.0)))
  }

  test("DESCRIBE emits DuckDB's shape and type spellings") {
    prepare()
    val df = conn.queryDF("DESCRIBE embeddings")
    assert(df.columns.toSeq ===
      Seq("column_name", "column_type", "null", "key", "default", "extra"))
    val types = df.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(types("embedding") === "FLOAT[]")
    assert(types("vec_id") === "BIGINT")
    assert(types("label") === "INTEGER")
  }

  test("SUMMARIZE computes per-column statistics in one pass") {
    prepare()
    val df = conn.queryDF("SUMMARIZE nation")
    assert(df.columns.toSeq === Seq("column_name", "column_type", "min", "max",
      "approx_unique", "avg", "std", "q25", "q50", "q75", "count", "null_percentage"))
    val rows = df.collect().map(r => r.getString(0) -> r).toMap
    val n = spark.table("nation").count()
    val key = rows("n_nationkey")
    assert(key.getAs[Long]("count") === n)
    assert(key.getAs[String]("min") === "0")
    assert(key.getAs[Double]("null_percentage") === 0.0)
    // non-numeric column: ordering stats exist, moments are null
    val name = rows("n_name")
    assert(name.getAs[String]("min") != null)
    assert(name.getAs[String]("avg") == null)
  }

  test("DESCRIBE and SUMMARIZE accept a SELECT target like DuckDB") {
    prepare()
    val d = conn.queryDF("DESCRIBE SELECT n_nationkey, n_name FROM nation")
    assert(d.collect().map(_.getString(0)).toSeq === Seq("n_nationkey", "n_name"))
    val s = conn.queryDF("SUMMARIZE SELECT n_nationkey FROM nation WHERE n_nationkey < 5")
    val row = s.collect().head
    assert(row.getString(0) === "n_nationkey")
    assert(row.getAs[Long]("count") === 5L)
    assert(row.getAs[String]("max") === "4")
    // DESCRIBE TABLE keyword form
    assert(conn.queryDF("DESCRIBE TABLE nation").count() === 3L)
  }

  test("Spark-native DESCRIBE forms fall through to spark.sql") {
    prepare()
    // DESCRIBE EXTENDED isn't a DuckDB form — the command layer must not
    // swallow it; Spark's own handler returns (col_name, data_type, comment)
    val df = conn.queryDF("DESCRIBE EXTENDED nation")
    assert(df.columns.toSeq === Seq("col_name", "data_type", "comment"))
  }

  test("PRAGMA table_info emits the SQLite-shaped listing") {
    prepare()
    val df = conn.queryDF("PRAGMA table_info('orders')")
    assert(df.columns.toSeq === Seq("cid", "name", "type", "notnull", "dflt_value", "pk"))
    val rows = df.collect()
    assert(rows.map(_.getInt(0)).toSeq === rows.indices.toSeq)
    val byName = rows.map(r => r.getString(1) -> r.getString(2)).toMap
    assert(byName("o_orderkey") === "BIGINT")
    assert(byName("o_orderstatus") === "VARCHAR")
  }

  test("duckTypeName maps nested and decimal types") {
    import org.apache.spark.sql.types._
    assert(Commands.duckTypeName(ArrayType(ArrayType(DoubleType))) === "DOUBLE[][]")
    assert(Commands.duckTypeName(DecimalType(12, 2)) === "DECIMAL(12,2)")
    assert(Commands.duckTypeName(
      StructType(Seq(StructField("a", LongType), StructField("b", StringType))))
      === "STRUCT(a BIGINT, b VARCHAR)")
    assert(Commands.duckTypeName(BinaryType) === "BLOB")
  }
}
