package graft

import graft.functions._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Native Catalyst expressions: correctness vs reference Scala math, codegen
  * vs interpreted agreement, and SQL registration. */
class FunctionsSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  private val vecs = Seq(
    (1L, Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f)),
    (2L, Array(0.0f, 0.0f, 0.0f), Array(1.0f, 1.0f, 1.0f)),
    (3L, Array(-1.0f, 2.5f, 0.5f), Array(2.0f, -0.5f, 1.5f)))

  test("vec_dot / vec_norm / vec_cosine match reference math") {
    val df = vecs.toDF("id", "a", "b")
      .withColumn("dot", vec_dot(col("a"), col("b")))
      .withColumn("na", vec_norm(col("a")))
      .withColumn("cos", vec_cosine(col("a"), col("b")))
      .orderBy("id")
    val rows = df.collect()
    vecs.zip(rows).foreach { case ((_, a, b), r) =>
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x).sum)
      val cos = if (na == 0 || nb == 0) 0.0 else dot / (na * nb)
      assert(math.abs(r.getAs[Double]("dot") - dot) < 1e-12)
      assert(math.abs(r.getAs[Double]("na") - na) < 1e-12)
      assert(math.abs(r.getAs[Double]("cos") - cos) < 1e-12)
    }
  }

  test("mixed float/double arrays work (LSH plane dot)") {
    val df = vecs.toDF("id", "a", "b")
      .withColumn("plane", array(lit(0.5), lit(-0.5), lit(1.0)))
      .withColumn("d", vec_dot(col("a"), col("plane")))
      .orderBy("id")
    val first = df.collect().head.getAs[Double]("d")
    assert(math.abs(first - (1.0 * 0.5 + 2.0 * -0.5 + 3.0 * 1.0)) < 1e-12)
  }

  test("simhash64: identical inputs → identical hash; bit-majority behavior") {
    val df = Seq(
      (1L, Array(0xFFFFFFFFFFFFFFFFL, 0xFFFFFFFFFFFFFFFFL, 0L)),
      (2L, Array(0xFFFFFFFFFFFFFFFFL, 0xFFFFFFFFFFFFFFFFL, 0L)),
      (3L, Array(0L, 0L, 1L)))
      .toDF("id", "hashes")
      .withColumn("sh", simhash64(col("hashes")))
      .orderBy("id")
      .select("id", "sh")
    val rows = df.collect()
    assert(rows(0).getLong(1) === rows(1).getLong(1))
    // two all-ones vs one zero → every bit majority 1 → all-ones
    assert(rows(0).getLong(1) === -1L)
    // majority zero everywhere except bit0 has 1 vote of 3 → all zero
    assert(rows(2).getLong(1) === 0L)
  }

  test("expressions are SQL-registered via the engine") {
    val r = spark.sql(
      "SELECT vec_cosine(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS c, " +
        "simhash64(array(7L)) AS s").collect().head
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
    assert(r.getLong(1) === 7L)
  }

  test("interpreted eval agrees with codegen") {
    // force interpreted path by eval'ing the expression directly
    import org.apache.spark.sql.catalyst.util.ArrayData
    val e = graft.functions.VecCosine(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        ArrayData.toArrayData(Array(1.0f, 2.0f)),
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)),
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        ArrayData.toArrayData(Array(2.0f, 4.0f)),
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)))
    val interpreted = e.eval(null).asInstanceOf[Double]
    val viaDf = Seq((Array(1.0f, 2.0f), Array(2.0f, 4.0f))).toDF("a", "b")
      .select(vec_cosine(col("a"), col("b"))).collect().head.getDouble(0)
    assert(math.abs(interpreted - viaDf) < 1e-15)
    assert(math.abs(interpreted - 1.0) < 1e-12)
  }

  test("dup_chars matches the O(n²) HOF spelling on randomized arrays") {
    // The oracle keeps the quadratic aggregate/filter spelling; the native
    // kernel must agree element-for-element, including null elements
    // (skipped), empty arrays (0) and a null array (null).
    val rnd = new scala.util.Random(42)
    val words = Array("a", "bb", "ccc", "dddd", "", "héllo", "a")
    val data = (1 to 200).map { i =>
      val n = rnd.nextInt(12)
      val arr = Array.fill(n)(
        if (rnd.nextInt(10) == 0) null else words(rnd.nextInt(words.length)))
      (i, arr)
    }
    val df = data.toDF("id", "sents")
      .withColumn("hof", expr(
        """aggregate(filter(sents, x -> size(filter(sents, y -> y = x)) > 1),
          |          0L, (acc, x) -> acc + length(x))""".stripMargin))
      .withColumn("native", graft.functions.dup_chars(col("sents")))
    assert(df.where(col("hof") =!= col("native")).count() === 0)
    // edges: empty array -> 0, null array -> null, multi-byte chars counted
    // as chars (length() semantics), null elements ignored
    val edges = Seq(
      (1, Some(Array.empty[String])),
      (2, None),
      (3, Some(Array("héllo", "héllo", null, "x"))))
      .toDF("id", "sents")
      .select(col("id"), graft.functions.dup_chars(col("sents")).as("d"))
      .orderBy("id").collect()
    assert(edges(0).getLong(1) === 0L)
    assert(edges(1).isNullAt(1))
    assert(edges(2).getLong(1) === 10L) // 2 × 5 chars, null skipped
    // SQL registration
    assert(spark.sql("SELECT dup_chars(array('q','q','r')) AS d")
      .collect().head.getLong(0) === 2L)
  }

  test("vec_sum aggregates element-wise with map-side partial aggregation") {
    val df = Seq(
      (0, Array(1.0f, 2.0f)), (0, Array(3.0f, 4.0f)),
      (1, Array(10.0f, 20.0f)), (1, Array(1.0f, 1.0f)), (1, Array(1.0f, 1.0f)))
      .toDF("g", "v").repartition(4)
    val rows = df.groupBy(col("g")).agg(vec_sum(col("v")).as("s"))
      .orderBy(col("g")).collect()
    assert(rows(0).getSeq[Double](1) === Seq(4.0, 6.0))
    assert(rows(1).getSeq[Double](1) === Seq(12.0, 22.0))
    // partial (map-side) aggregation is present before the exchange
    val plan = df.groupBy(col("g")).agg(vec_sum(col("v")))
      .asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_vecsumagg") || plan.toLowerCase.contains("partial"),
      s"no partial aggregation in plan:\n$plan")
    // ragged lengths: shorter vector treated as zero-padded
    val ragged = Seq((0, Array(1.0f)), (0, Array(1.0f, 5.0f))).toDF("g", "v")
      .groupBy(col("g")).agg(vec_sum(col("v")).as("s")).collect()
    assert(ragged.head.getSeq[Double](1) === Seq(2.0, 5.0))
    // SQL registration
    Seq((0, Array(1.0f, 2.0f))).toDF("g", "v").createOrReplaceTempView("vs_t")
    assert(spark.sql("SELECT vec_sum(v) AS s FROM vs_t GROUP BY g")
      .collect().head.getSeq[Double](0) === Seq(1.0, 2.0))
  }

  test("product aggregate: null-skip, empty group, cross-partition merge") {
    val df = Seq((1, Some(2)), (1, Some(3)), (1, Some(4)),
        (2, Some(5)), (2, None), (3, None))
      .toDF("g", "x")
      .repartition(4) // force partial buffers to merge across partitions
      .groupBy(col("g")).agg(graft.functions.product(col("x")).as("p"))
      .orderBy(col("g"))
    val rows = df.collect()
    assert(rows(0).getDouble(1) === 24.0)
    assert(rows(1).getDouble(1) === 5.0) // NULL skipped
    assert(rows(2).isNullAt(1))          // all-NULL group -> NULL
    // SQL registration + map-side partial aggregation in the plan
    Seq((0, 2.5), (0, 4.0)).toDF("g", "x").createOrReplaceTempView("prod_t")
    assert(spark.sql("SELECT product(x) AS p FROM prod_t GROUP BY g")
      .collect().head.getDouble(0) === 10.0)
    val plan = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
      .queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("partial"), s"no partial aggregation:\n$plan")
  }
}
