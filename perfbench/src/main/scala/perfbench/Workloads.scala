package perfbench

import com.fasterxml.jackson.databind.JsonNode

/** How a statement calls the engine. */
sealed trait Call
object Call {
  /** `AsyncEngine.runQuery` — the worker protocol's RUN_QUERY. */
  final case class RunQuery(sql: String) extends Call
  /** `Connection.query` — an Arrow IPC file. */
  final case class Query(sql: String) extends Call
  /** `Connection.send` then `fetchQueryResults` until end of stream. */
  final case class Stream(sql: String) extends Call
  /** `AsyncEngine.sendQuery` then `fetchQueryResults` until end of stream —
    * the worker protocol's streamed path. */
  final case class AsyncStream(sql: String) extends Call
  /** `SparkEntry.queries(name)` delivered by `ResultWriter.ipcFile`. */
  final case class Operator(name: String) extends Call
  /** `Connection.insertCSVFromPath` / `insertJSONFromPath` /
    * `insertArrowFromIPCStream` of a registered input file. */
  final case class Load(format: String, file: String, table: String) extends Call
}

/** How a statement's output is checked. */
sealed trait Check
object Check {
  /** Compare with DuckDB's answer, stored as `<id>.arrow`. */
  final case class Answer(id: String) extends Check
  /** Loads return nothing; the read that follows checks the table. */
  case object Loaded extends Check
}

/** One statement of a workload. `kind` names the ingest metric it feeds
  * (`csv`, `json`, `arrow`, `copy`) or is empty. `rejected` marks the
  * statements the engine is known to reject: their error counts in
  * `error_rate`, but is expected. */
final case class Stmt(id: String, call: Call, check: Check, kind: String = "",
    rejected: Boolean = false) {
  /** Delivered batch by batch, so it has a first-batch time. */
  def streamed: Boolean = call match {
    case Call.Stream(_) | Call.AsyncStream(_) => true
    case _ => false
  }
}

/** The workloads, read from `workloads.json`. */
object Workloads {

  /** A workload's statements from its sections in `workloads.json`:
    *
    *  - `oracle`: engine oracle statements by name, and `sql`: statements
    *    of the benchmark's own, both through `AsyncEngine.runQuery` when the
    *    workload's `api` is `async`, else through `Connection.query` — or,
    *    when listed in `streamed`, streamed batch by batch through the same
    *    client;
    *  - `operators`: pipeline operators by name;
    *  - `results`: wide results, each fetched as an IPC file and as a stream;
    *  - `loads`: loads and COPYs, each followed by the read that checks it,
    *    streamed through `Connection.send`.
    *
    * A pass runs them in this order.
    *
    * Every statement is checked against a DuckDB answer (every operator has
    * oracle SQL). */
  def build(workload: String, spec: JsonNode, oracle: Map[String, String],
      operators: Set[String]): Seq[Stmt] = {
    val w = spec.get(workload)
    require(w != null, s"unknown workload $workload")
    def names(key: String): Seq[String] = Option(w.get(key)).map(Json.strings).getOrElse(Nil)
    def fields(key: String): Seq[(String, JsonNode)] =
      Option(w.get(key)).map(Json.fields).getOrElse(Nil)
    val rejected = names("rejected").toSet
    val streamed = names("streamed").toSet
    val async = Option(w.get("api")).exists(_.asText == "async")
    def sqlCall(sql: String): Call = if (async) Call.RunQuery(sql) else Call.Query(sql)
    def streamCall(sql: String): Call = if (async) Call.AsyncStream(sql) else Call.Stream(sql)
    def oracleSql(name: String): String =
      oracle.getOrElse(name, throw new IllegalArgumentException(s"no oracle SQL for $name"))

    val queries = (names("oracle").map(n => n -> oracleSql(n)) ++
      fields("sql").map { case (id, q) => id -> q.asText }).map { case (id, q) =>
      Stmt(id, if (streamed(id)) streamCall(q) else sqlCall(q), Check.Answer(id),
        rejected = rejected(id))
    }
    require(streamed.subsetOf(queries.map(_.id).toSet), s"unknown streamed statements in $workload")
    val ops = names("operators").map { n =>
      require(operators(n) && oracle.contains(n), s"no operator with oracle SQL named $n")
      Stmt(n, Call.Operator(n), Check.Answer(n))
    }
    val results = fields("results").flatMap { case (id, q) =>
      Seq(Stmt(id, Call.Query(q.asText), Check.Answer(id)),
        Stmt(s"$id~stream", Call.Stream(q.asText), Check.Answer(id)))
    }
    val loads = fields("loads").flatMap { case (id, step) =>
      val read = Stmt(s"$id~read", Call.Stream(step.get("read").asText),
        Check.Answer(s"$id~read"))
      step.get("format").asText match {
        case "copy" =>
          Seq(Stmt(id, Call.Query(step.get("sql").asText), Check.Answer(id), "copy"), read)
        case f =>
          Seq(Stmt(id, Call.Load(f, step.get("file").asText, step.get("table").asText),
            Check.Loaded, f), read)
      }
    }
    queries ++ ops ++ results ++ loads
  }

  /** Untimed, unchecked passes over the workload run in set-up. A fresh
    * JVM runs its first pass slower while the JIT compiles the engine's and
    * Spark's driver paths and the first pipeline operators build the
    * `Pins.shared` stages the later ones reuse; the timed passes start
    * after it. */
  val WarmupPasses = 1

  /** The workload's nominal pass length in seconds (`pass_s`), a little
    * under its warm pass on the reference host. */
  def passSeconds(workload: String, spec: JsonNode): Double =
    Option(spec.get(workload).get("pass_s")).map(_.asDouble).getOrElse(
      throw new IllegalArgumentException(s"no pass_s for $workload"))

  /** The passes a run of `seconds` measures: `round(seconds / passSeconds)`,
    * at least one. The count depends on `seconds` alone, not on how fast
    * the host runs, so every run of a workload measures the same
    * executions. */
  def passes(seconds: Double, passSeconds: Double): Int =
    math.max(1, math.round(seconds / passSeconds).toInt)
}
