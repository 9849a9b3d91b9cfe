package graft

import graft.session.{Engine, EngineConfig}
import org.scalatest.funsuite.AnyFunSuite

/** Query-SHAPE differential fuzzing (round 15): probe_grid pins scalar
  * expressions; this spec pins FULL queries — joins, GROUP BY + HAVING,
  * window frames with EXCLUDE, QUALIFY, set operations, ordered
  * aggregates, correlated subqueries — generated pseudo-randomly by
  * scripts/query_fuzz.py (seed 15) and evaluated in python-duckdb over
  * the sf0.001 fixtures. The composition rewriters (the frame-EXCLUDE rule,
  * DialectSugar QUALIFY, SetOpsByName, ordered-aggregate surgery) are
  * exactly where a bug would hide from single-feature oracles.
  *
  * Comparison: every value normalized like ProbeGridSpec.norm, columns
  * joined with '|', rows SORTED lexicographically, md5 over the joined
  * text — row order never matters (LIMIT shapes carry a total ORDER BY
  * by construction). A failing line is a FOUND DIVERGENCE: fix it or pin
  * it in `knownDivergences` with its COVERAGE boundary — never delete. */
class QueryFuzzSpec extends AnyFunSuite {

  private lazy val engine =
    new Engine(EngineConfig(existingSession = Some(SparkTestSession.spark),
      path = Some(SparkTestSession.sfDir)))
  private lazy val conn = engine.connect()

  private val knownDivergences: Map[String, String] = Map.empty

  /** Mirror of query_fuzz.py's norm() (probe_grid conventions). */
  private def norm(v: Any): String = v match {
    case null => "NULL"
    case b: Boolean => if (b) "true" else "false"
    case d: Double => normDouble(d)
    case f: Float => normDouble(f.toDouble)
    case d: java.math.BigDecimal => normDouble(d.doubleValue)
    case d: BigDecimal => normDouble(d.toDouble)
    case t: java.sql.Timestamp =>
      new java.text.SimpleDateFormat("yyyy-MM-dd HH:mm:ss").format(t)
    case t: java.time.LocalDateTime =>
      t.format(java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss"))
    case d: java.sql.Date => d.toString
    case d: java.time.LocalDate => d.toString
    case s: scala.collection.Seq[_] => s.map(norm).mkString("[", ", ", "]")
    case other => other.toString
  }

  private def normDouble(d: Double): String = {
    if (d.isNaN) return "NaN"
    if (d.isInfinity) return if (d > 0) "Infinity" else "-Infinity"
    val s = BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_EVEN)
      .bigDecimal.toPlainString.reverse.dropWhile(_ == '0').reverse
      .stripSuffix(".")
    if (s.isEmpty || s == "-0") "0" else s
  }

  private def digest(rows: Array[org.apache.spark.sql.Row]): String = {
    val lines = rows.map(r =>
      (0 until r.length).map(i => norm(r.get(i))).mkString("|")).sorted
    java.security.MessageDigest.getInstance("MD5")
      .digest(lines.mkString("\n").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  private lazy val fixtures: Seq[(String, String, Int, String)] = {
    val in = getClass.getResourceAsStream("/query_fuzz.tsv")
    assert(in != null, "query_fuzz.tsv missing from test resources")
    scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filterNot(l => l.startsWith("#") || l.trim.isEmpty)
      .map { l => val a = l.split("\t", 4); (a(0), a(1), a(2).toInt, a(3)) }
      .toSeq
  }

  test("all fuzzed query shapes match the pinned duckdb results") {
    val failures = scala.collection.mutable.Buffer.empty[String]
    var known = 0
    for ((name, sql, nrows, md5) <- fixtures) {
      if (knownDivergences.contains(name)) known += 1
      else scala.util.Try(conn.queryDF(sql).collect()) match {
        case scala.util.Success(rows) =>
          if (rows.length != nrows)
            failures += s"$name: rows engine=${rows.length} duckdb=$nrows | $sql"
          else if (digest(rows) != md5)
            failures += s"$name: HASH mismatch (${rows.length} rows) | $sql"
        case scala.util.Failure(e) =>
          failures += s"$name: engine ERROR ${Option(e.getMessage).getOrElse(e.toString).takeWhile(_ != '\n').take(140)} | $sql"
      }
    }
    assert(failures.isEmpty,
      s"\n${failures.size} divergence(s) of ${fixtures.size} fuzz shapes " +
        s"($known known):\n" + failures.take(25).mkString("\n"))
  }
}
