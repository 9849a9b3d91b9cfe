package graft.tools

import graft.pipeline.{Pins, SharedStages}
import graft.session.{Engine, EngineConfig, SessionDefaults}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row}
import java.nio.file.{Files, Paths}

/** Measurement and plan-inspection probe for optimization rounds, beside
  * the `Verify` and `Bench` mains. It times named queries
  * (`SparkEntry.queries`) or ad-hoc DuckDB SQL (run through an engine
  * connection, the path user statements take) into the bench's noop sink or
  * a `collect()`, and can dump each statement's plan. Each statement's line
  * gives its run times and, per run, `compiles`: the classes Spark
  * generated and compiled with Janino in that run (0 once the generated-
  * class cache holds them all). Every mode runs on the one session built
  * here, with the engine's session defaults. Settings, all optional:
  *
  *   PROBE_SF_DIR    table directory (default perfbench/data/sf0.1)
  *   PROBE_CPUS      local[n] and shuffle partitions (default 4)
  *   PROBE_ONLY      comma-separated query names
  *   PROBE_SQL       ad-hoc SQL, ';'-separated; `@file` reads a file
  *   PROBE_RUNS      timed runs per statement (default 2)
  *   PROBE_SINK      noop (default) | collect
  *   PROBE_PLAN      formatted | canonical | physical: dump that plan
  *   PROBE_OUT       plan dump directory (default java.io.tmpdir)
  *   PROBE_PREBUILD  1 = build the shared pipeline stages first
  *   PROBE_CONF      k=v[,k=v...] session conf overrides
  *
  *   PROBE_ONLY=p74_eval_leak_rate PROBE_PREBUILD=1 PROBE_PLAN=canonical \
  *     sbt "runMain graft.tools.Probe"
  *   PROBE_SQL='SELECT count(*) FROM lineitem' PROBE_SINK=collect \
  *     sbt "runMain graft.tools.Probe"
  */
object Probe {
  /** `k=v[,k=v...]` as pairs; empty entries are skipped, and an entry
    * without `=` is an IllegalArgumentException naming it. */
  def confOverrides(spec: String): Seq[(String, String)] =
    spec.split(",").toSeq.map(_.trim).filter(_.nonEmpty).map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => k.trim -> v.trim
        case _ => throw new IllegalArgumentException(s"PROBE_CONF entry '$kv' is not k=v")
      }
    }

  def main(args: Array[String]): Unit = {
    val env = sys.env
    val sfDir = env.getOrElse("PROBE_SF_DIR", "perfbench/data/sf0.1")
    val cpus = env.getOrElse("PROBE_CPUS", "4")
    val runs = env.getOrElse("PROBE_RUNS", "2").toInt
    val collect = env.get("PROBE_SINK").contains("collect")
    val outDir = env.getOrElse("PROBE_OUT", System.getProperty("java.io.tmpdir"))
    val builder = SessionDefaults.builder(s"local[$cpus]", cpus.toInt)
    // overrides go in at build time, so the child sessions the text rows
    // run on (see graft.Q.connection) inherit them too
    confOverrides(env.getOrElse("PROBE_CONF", "")).foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // codegen/shuffle warm-up, as Bench does
    spark.range(1000000L).selectExpr("sum(id)").collect()
    if (env.get("PROBE_PREBUILD").contains("1")) {
      val b = SharedStages.prebuild(spark, sfDir)
      println("[probe] stage_build: " + b.map { case (k, v) => f"$k=$v%.2f" }.mkString(" "))
      Pins.releaseEphemeral(spark)
    }

    lazy val conn = {
      val c = new Engine(EngineConfig(existingSession = Some(spark))).connect()
      graft.Tables.registerAll(c.engine.spark, sfDir)
      c
    }
    val named: Seq[(String, () => DataFrame)] =
      env.get("PROBE_ONLY").toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
        .map(n => n -> (() => graft.SparkEntry.queries(n)(spark, sfDir)))
    val adhoc: Seq[(String, () => DataFrame)] = env.get("PROBE_SQL").toSeq
      .flatMap { s =>
        (if (s.startsWith("@")) Files.readString(Paths.get(s.drop(1))) else s).split(";")
      }
      .map(_.trim).filter(_.nonEmpty).zipWithIndex
      .map { case (stmt, i) =>
        println(s"[probe] sql$i: ${stmt.linesIterator.next().take(70)}")
        s"sql$i" -> (() => conn.queryDF(stmt))
      }

    (named ++ adhoc).foreach { case (name, build) =>
      spark.sparkContext.setJobDescription(name)
      val (ts, compiles) = (1 to runs).map { _ =>
        val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        val t0 = System.nanoTime()
        val df = build()
        if (collect) df.collect() else df.write.format("noop").mode("overwrite").save()
        Pins.releaseEphemeral(spark)
        ((System.nanoTime() - t0) / 1e9, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0)
      }.unzip
      val qe = build().asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]].queryExecution
      val canon = qe.optimizedPlan.canonicalized.toString
      val phys = qe.executedPlan.toString
      env.get("PROBE_PLAN").foreach { kind =>
        val text = kind match {
          case "canonical" => canon
          case "physical" => phys
          case _ => qe.explainString(org.apache.spark.sql.execution.FormattedMode)
        }
        val file = Paths.get(outDir, s"${name}_$kind.txt")
        Files.createDirectories(file.getParent)
        Files.writeString(file, text)
        println(s"[probe] $name plan: $file")
      }
      def cnt(op: String) = op.r.findAllIn(phys).size
      println(f"[probe] $name%-32s ${ts.map(t => f"$t%7.3f").mkString(" ")}  " +
        f"min=${ts.min}%.3f compiles=${compiles.mkString(",")} " +
        s"md5=${graft.Bench.planFingerprint(canon)} " +
        s"sorts=${cnt("\\bSort \\[")} windows=${cnt("\\bWindow(GroupLimit)? \\[")} " +
        s"exchanges=${cnt("\\bExchange ")}")
    }
    spark.stop()
  }
}
