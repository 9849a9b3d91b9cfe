package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** DuckDB-dialect text becomes a Spark plan in one place: the statement path
  * of `graft.session.Connection`. This guard scans the main sources so a new
  * hand-spelled pass chain fails the build instead of silently drifting from
  * the engine's path:
  *  - outside `graft/dialect/`, no file calls a dialect object's `.rewrite(`
  *    or `SqlText.escapeLiteralsForSpark(`;
  *  - under `graft/session/`, `spark.sql(` only runs catalog DDL the engine
  *    spells itself, never rewritten text;
  *  - `ParsedSql.sql(` is called by the statement path alone. */
class StatementPathGuardSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  private lazy val sources: Seq[(String, String)] =
    Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq.sortBy(_.toString)
      .map(p => root.relativize(p).toString.replace('\\', '/') -> Files.readString(p))

  private def inDialect(rel: String) = rel.startsWith("graft/dialect/")

  private def hits(text: String, re: scala.util.matching.Regex): Seq[String] =
    text.linesIterator.zipWithIndex.collect {
      case (line, i) if re.findFirstIn(line).isDefined => s"${i + 1}: ${line.trim}"
    }.toSeq

  test("the main sources are where the guard looks") {
    assert(sources.exists(_._1 == "graft/session/Connection.scala"))
    assert(dialectObjects.contains("DialectSugar") && dialectObjects.contains("SqlText"))
  }

  private lazy val dialectObjects: Set[String] = sources.filter(s => inDialect(s._1))
    .flatMap { case (_, text) => """(?m)^object (\w+)""".r.findAllMatchIn(text).map(_.group(1)) }
    .toSet

  test("no dialect pass is called outside graft/dialect/") {
    val pass = (s"""\\b(?:${dialectObjects.mkString("|")})\\.rewrite\\(|""" +
      """\bescapeLiteralsForSpark\(""").r
    val found = sources.filterNot(s => inDialect(s._1)).flatMap { case (rel, text) =>
      hits(text, pass).map(h => s"$rel:$h")
    }
    assert(found.isEmpty, "hand-spelled dialect chain:\n" + found.mkString("\n"))
  }

  test("graft/session/ runs no rewritten text through spark.sql") {
    val call = """spark\.sql\(""".r
    val ownDdl = """spark\.sql\(s?"(?:CREATE DATABASE|DROP TABLE) """.r
    val found = sources.filter(_._1.startsWith("graft/session/")).flatMap { case (rel, text) =>
      hits(text, call).filterNot(h => ownDdl.findFirstIn(h).isDefined).map(h => s"$rel:$h")
    }
    assert(found.isEmpty, "spark.sql outside the statement path:\n" + found.mkString("\n"))
  }

  test("only the statement path calls ParsedSql.sql") {
    val found = sources.filterNot(_._1 == "graft/session/Connection.scala")
      .flatMap { case (rel, text) =>
        hits(text, """\bParsedSql\.sql\(""".r).map(h => s"$rel:$h")
      }
    assert(found.isEmpty, "ParsedSql.sql outside Connection:\n" + found.mkString("\n"))
  }
}
