package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** A DuckDB function spelling is decided in one place: the parse-tree table
  * in `graft/dialect/DialectFunctions.scala`. This guard scans the other
  * sources under `graft/dialect/` so a text pass that matches a call by one
  * of the table's names fails the build instead of splitting the decision
  * again:
  *  - no regex in a text pass matches `name(` for a name the table decides;
  *  - the scanner of the deleted text layer (`rewriteCalls`) stays gone. */
class FunctionSpellingGuardSpec extends AnyFunSuite {

  private val dir = Paths.get("src/main/scala/graft/dialect")

  private lazy val textPasses: Seq[(String, String)] =
    Files.list(dir).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        p.getFileName.toString != "DialectFunctions.scala")
      .toSeq.sortBy(_.toString)
      .map(p => p.getFileName.toString -> Files.readString(p))

  /** Names a source's regex literals match as calls: every identifier
    * inside a string literal that also spells `\s*\(` (a call pattern),
    * comments excluded. */
  private[graft] def callPatternNames(source: String): Set[String] = {
    val code = source.linesIterator.map(_.replaceAll("^\\s*(//|\\*|/\\*).*", "")).mkString("\n")
    val literals = "(?s)\"\"\".*?\"\"\"|\"(?:[^\"\\\\\\n]|\\\\.)*\"".r.findAllIn(code)
    literals.filter(l => l.contains("\\s*\\(") || l.contains("\\\\s*\\\\("))
      .flatMap(l => "[A-Za-z_][A-Za-z0-9_]*".r.findAllIn(l).map(_.toLowerCase))
      .toSet
  }

  test("the guard sees the text passes and the table") {
    assert(textPasses.exists(_._1 == "DialectSyntax.scala"))
    assert(graft.dialect.DialectFunctions.spellings.contains("list_sort"))
    // the detector flags the shape the deleted name map used
    assert(callPatternNames(
      "val P = Pattern.compile(\"(?i)\\\\b(list_sort|unnest)\\\\s*\\\\(\")")
      .contains("unnest"))
  }

  /** Text passes that match a table name in a position the tree table
    * never sees, each with its reason. */
  private val Allowed = Map(
    // `FROM generate_series(a, b)` is a table function: it parses to a
    // relation, not to a call
    "DialectRewriter.scala" -> Set("generate_series"))

  test("no text pass under graft/dialect/ rewrites a call by a table name") {
    val table = graft.dialect.DialectFunctions.spellings
    val found = textPasses.flatMap { case (file, text) =>
      (callPatternNames(text) & table -- Allowed.getOrElse(file, Set.empty))
        .toSeq.sorted.map(n => s"$file: $n")
    }
    assert(found.isEmpty, "call matched by name outside the table:\n" + found.mkString("\n"))
  }

  test("the text layer's call scanner stays deleted") {
    val found = textPasses.filter(_._2.contains("rewriteCalls")).map(_._1)
    assert(found.isEmpty, found.mkString(", "))
  }
}
