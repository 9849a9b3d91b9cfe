package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The engine's SQL functions are declared once, in
  * `graft.functions.FunctionTable`, and installed by its two consumers:
  * `GraftExtensions.apply` (one `injectFunction` over the table) and
  * `functions.registerAll` (one `registerFunction` over the table, for a
  * session built without the extension). This guard scans the main sources
  * so a second, hand-kept function list fails the build instead of drifting
  * from the table. The one other registration is the frame-EXCLUDE key
  * `graft_exclude`: it goes into Spark's builtin registry, not a session's,
  * since a persisted view may name it. */
class FunctionTableGuardSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  private lazy val sources: Seq[(String, String)] =
    Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq.sortBy(_.toString)
      .map(p => root.relativize(p).toString.replace('\\', '/') -> Files.readString(p))

  // calls and method references alike (`foreach(ext.injectFunction)`)
  private val registration =
    """\b(?:injectFunction|registerFunction|createOrReplaceTempFunction)\b""".r

  /** Each file allowed a registration call, with its calls' lines. */
  private val allowed: Map[String, Seq[String]] = Map(
    "graft/GraftExtensions.scala" ->
      Seq("functions.FunctionTable.entries.foreach(ext.injectFunction)"),
    "graft/functions/package.scala" ->
      Seq("registry(spark).registerFunction(id, info, builder) }"),
    "graft/functions/WindowExcludeRule.scala" ->
      Seq("org.apache.spark.sql.catalyst.analysis.FunctionRegistry.builtin.registerFunction("))

  private def calls(text: String): Seq[String] =
    text.linesIterator.map(_.trim).filter(l => registration.findFirstIn(l).isDefined)
      .filterNot(l => l.startsWith("//") || l.startsWith("*") || l.startsWith("/**"))
      .toSeq

  test("the main sources are where the guard looks") {
    assert(allowed.keySet.forall(rel => sources.exists(_._1 == rel)))
    assert(functions.FunctionTable.entries.nonEmpty)
  }

  test("functions are registered only by the function table's consumers") {
    val found = sources.flatMap { case (rel, text) =>
      val expected = allowed.getOrElse(rel, Nil)
      val got = calls(text)
      if (got == expected) Nil
      else Seq(s"$rel: ${got.mkString(" / ")}" +
        (if (expected.isEmpty) "" else s" (expected only: ${expected.mkString(" / ")})"))
    }
    assert(found.isEmpty,
      "function registration outside graft.functions.FunctionTable's consumers:\n" +
        found.mkString("\n"))
  }

  test("each table name is declared once") {
    val names = functions.FunctionTable.entries.map(_._1.funcName)
    assert(names.diff(names.distinct).isEmpty, names.diff(names.distinct))
  }
}
