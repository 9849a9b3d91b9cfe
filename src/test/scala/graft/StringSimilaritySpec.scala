package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the byte-level text-similarity kernels to values measured from
  * native DuckDB 1.0.0 (probe session, this repo round 6): jaccard is a
  * byte-SET measure, jaro/jw/damerau/levenshtein count bytes (é = 2), the
  * JW prefix boost fires only above 0.7 Jaro, damerau is true DL (CA→ABC
  * = 2, not OSA's 3), hamming demands equal byte length. */
class StringSimilaritySpec extends AnyFunSuite {
  import SparkTestSession.spark
  import graft.functions.StringSimKernels._
  import org.apache.spark.unsafe.types.UTF8String.{fromString => u}

  private val eps = 1e-12

  private def approx(a: Double, b: Double): Boolean = math.abs(a - b) < eps

  test("jaccard matches DuckDB (byte sets, multiset-insensitive)") {
    assert(approx(jaccard(u("abc"), u("abc")), 1.0))
    assert(approx(jaccard(u("abc"), u("abd")), 0.5))
    assert(approx(jaccard(u("abc"), u("cba")), 1.0))
    assert(approx(jaccard(u("aab"), u("ab")), 1.0))
    assert(approx(jaccard(u("aa"), u("aaaa")), 1.0))
    assert(approx(jaccard(u("abc"), u("ABC")), 0.0))
    assert(approx(jaccard(u("night"), u("nacht")), 0.42857142857142855))
    assert(approx(jaccard(u("DWAYNE"), u("DUANE")), 0.5714285714285714))
    assert(approx(jaccard(u("ca"), u("abc")), 0.6666666666666666))
    assert(approx(jaccard(u("éclair"), u("eclair")), 0.625)) // byte sets
    assert(approx(jaccard(u("DIXON"), u("DICKSONX")), 0.625))
    intercept[IllegalArgumentException](jaccard(u("abc"), u("")))
  }

  test("jaro matches DuckDB") {
    assert(approx(jaro(u("abc"), u("abc")), 1.0))
    assert(approx(jaro(u("abc"), u("abd")), 0.7777777777777777))
    assert(approx(jaro(u("abc"), u("cba")), 0.5555555555555555))
    assert(approx(jaro(u("aab"), u("ab")), 0.611111111111111))
    assert(approx(jaro(u("night"), u("nacht")), 0.7333333333333334))
    assert(approx(jaro(u("MARTHA"), u("MARHTA")), 0.9444444444444445))
    assert(approx(jaro(u("DWAYNE"), u("DUANE")), 0.8222222222222223))
    assert(approx(jaro(u("kitten"), u("sitting")), 0.746031746031746))
    assert(approx(jaro(u("ca"), u("abc")), 0.0))
    assert(approx(jaro(u("ab"), u("ba")), 0.0))
    assert(approx(jaro(u("éclair"), u("eclair")), 0.8492063492063492))
    assert(approx(jaro(u("aa"), u("aaaa")), 0.8333333333333334))
    assert(approx(jaro(u("DIXON"), u("DICKSONX")), 0.7666666666666666))
    assert(approx(jaro(u("abc"), u("")), 0.0))
    assert(approx(jaro(u(""), u("")), 0.0))
  }

  test("jaro_winkler matches DuckDB incl. the 0.7 boost threshold") {
    assert(approx(jaroWinkler(u("abc"), u("abd")), 0.8222222222222222))
    assert(approx(jaroWinkler(u("night"), u("nacht")), 0.76))
    assert(approx(jaroWinkler(u("MARTHA"), u("MARHTA")), 0.9611111111111111))
    assert(approx(jaroWinkler(u("DWAYNE"), u("DUANE")), 0.8400000000000001))
    assert(approx(jaroWinkler(u("aa"), u("aaaa")), 0.8666666666666667))
    assert(approx(jaroWinkler(u("DIXON"), u("DICKSONX")), 0.8133333333333332))
    // below the 0.7 threshold the prefix boost must NOT fire
    assert(approx(jaroWinkler(u("aXXXXX"), u("aYYYYY")), 0.4444444444444444))
    assert(approx(jaroWinkler(u("abcdXXXX"), u("abcdYYYY")), 0.6666666666666666))
    assert(approx(jaroWinkler(u("abXXcd"), u("abYYcd")), 0.8222222222222222))
  }

  test("damerau_levenshtein matches DuckDB (true DL, byte-level)") {
    assert(damerauLevenshtein(u("abc"), u("abc")) === 0L)
    assert(damerauLevenshtein(u("abc"), u("abd")) === 1L)
    assert(damerauLevenshtein(u("ab"), u("ba")) === 1L)
    assert(damerauLevenshtein(u("abc"), u("cba")) === 2L)
    assert(damerauLevenshtein(u("CA"), u("ABC")) === 2L) // not OSA's 3
    assert(damerauLevenshtein(u("night"), u("nacht")) === 2L)
    assert(damerauLevenshtein(u("MARTHA"), u("MARHTA")) === 1L)
    assert(damerauLevenshtein(u("kitten"), u("sitting")) === 3L)
    assert(damerauLevenshtein(u("éclair"), u("eclair")) === 2L) // bytes
    assert(damerauLevenshtein(u("abc"), u("")) === 3L)
    assert(damerauLevenshtein(u(""), u("")) === 0L)
    assert(damerauLevenshtein(u("DIXON"), u("DICKSONX")) === 4L)
  }

  test("levenshtein matches DuckDB (byte-level: é counts 2)") {
    assert(levenshtein(u("MARTHA"), u("MARHTA")) === 2L)
    assert(levenshtein(u("ca"), u("abc")) === 3L)
    assert(levenshtein(u("ab"), u("ba")) === 2L)
    assert(levenshtein(u("éclair"), u("eclair")) === 2L)
    assert(levenshtein(u("kitten"), u("sitting")) === 3L)
    assert(levenshtein(u(""), u("abc")) === 3L)
  }

  test("hamming matches DuckDB (byte count, equal byte length required)") {
    assert(hamming(u("abc"), u("abd")) === 1L)
    assert(hamming(u("ab"), u("ab")) === 0L)
    assert(hamming(u("é"), u("á")) === 1L) // C3A9 vs C3A1: one differing byte
    intercept[IllegalArgumentException](hamming(u("abc"), u("ab")))
    intercept[IllegalArgumentException](hamming(u("é"), u("e"))) // 2 vs 1 bytes
    // DuckDB 1.0.0 rejects empty inputs even when lengths match
    val e = intercept[IllegalArgumentException](hamming(u(""), u("")))
    assert(e.getMessage.contains("length > 0"))
  }

  test("jaro of empty strings is 0.0 (DuckDB 1.0.0, including ''-vs-'')") {
    assert(jaro(u(""), u("")) === 0.0)
    assert(jaro(u(""), u("abc")) === 0.0)
    assert(jaro(u("abc"), u("")) === 0.0)
  }

  test("3-arg levenshtein keeps Spark's builtin threshold form") {
    val r = spark.sql(
      "SELECT levenshtein('kitten','sitting',2) a, levenshtein('kitten','sitting',3) b")
      .collect()(0)
    assert(r.getInt(0) === -1) // distance 3 > threshold 2 → Spark's -1
    assert(r.getInt(1) === 3)
  }

  test("SQL surface: registered spellings, codegen, null passthrough") {
    val r = spark.sql(
      """SELECT jaccard('night','nacht') j, mismatches('abc','abd') m,
        |  jaro_similarity('MARTHA','MARHTA') js,
        |  jaro_winkler_similarity('DWAYNE','DUANE') jw,
        |  damerau_levenshtein('CA','ABC') dl, editdist3('ca','abc') ed,
        |  levenshtein('éclair','eclair') lev,
        |  jaccard(NULL, 'x') nj""".stripMargin).collect()(0)
    assert(approx(r.getDouble(0), 0.42857142857142855))
    assert(r.getLong(1) === 1L)
    assert(approx(r.getDouble(2), 0.9444444444444445))
    assert(approx(r.getDouble(3), 0.8400000000000001))
    assert(r.getLong(4) === 2L)
    assert(r.getLong(5) === 3L)
    assert(r.getLong(6) === 2L) // DuckDB bytes, not Spark's 1 code point
    assert(r.isNullAt(7))
    // stays inside whole-stage codegen
    val df = spark.range(100).selectExpr(
      "jaro_winkler_similarity(CAST(id AS STRING), '42') v")
    assert(df.queryExecution.executedPlan.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec]))
    assert(df.count() === 100)
  }
}
