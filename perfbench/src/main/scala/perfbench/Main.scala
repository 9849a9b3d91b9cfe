package perfbench

import scala.jdk.CollectionConverters._

/** Entry points, driven by `run.py`:
  *
  *  - `catalog <out.json>`: the engine's oracle SQL and operator names, for
  *    the DuckDB answer script.
  *  - `run <config.json>`: one workload run; prints the result line.
  */
object Main {

  def main(args: Array[String]): Unit = args.toList match {
    case "catalog" :: out :: Nil =>
      val doc = Map(
        "oracle" -> graft.SparkEntry.oracleSql,
        "operators" -> graft.SparkEntry.allQueries.map(_.name))
      java.nio.file.Files.write(java.nio.file.Paths.get(out), Json.write(doc).getBytes("UTF-8"))
    case "run" :: config :: Nil =>
      val result = run(Json.read(config))
      println(Json.write(result))
      System.exit(0)
    case _ =>
      System.err.println("usage: perfbench.Main catalog <out.json> | run <config.json>")
      System.exit(2)
  }

  def run(c: com.fasterxml.jackson.databind.JsonNode): Map[String, Any] = {
    val s = Settings(
      workload = c.get("workload").asText,
      seed = c.get("seed").asLong,
      seconds = c.get("seconds").asDouble,
      trace = c.get("trace").asBoolean,
      base = c.get("base").asText,
      files = c.get("files").elements().asScala
        .map(p => p.get(0).asText -> p.get(1).asText).toSeq,
      answers = Json.strings(c.get("answers")),
      out = c.get("out").asText)
    val spec = Json.read(c.get("spec").asText)
    val oracle = graft.SparkEntry.oracleSql
    val stmts = Workloads.build(s.workload, spec, oracle,
      graft.SparkEntry.allQueries.map(_.name).toSet)
    val passes = Workloads.passes(s.seconds, Workloads.passSeconds(s.workload, spec))
    new Runner(s, stmts, passes, new Checker(s.answers)).run()
  }
}
