package perfbench

/** Turns executions, jobs and spans into the end-to-end metrics (untraced
  * passes) and the per-layer metrics (traced passes). */
final class Report(s: Settings, setupS: Double, plainRuns: Seq[Exec],
    tracedRuns: Seq[Exec], pings: Seq[Long], jobExec: Seq[(JobRecord, Option[Int])], spans: Seq[Span],
    heapMb: Double, heapPeakMb: Double, tempViews: Int, pinnedMb: Double) {

  private val MB = 1e6
  private def ms(n: Long): Double = n / 1e6
  private def p50(xs: Iterable[Double]): Double = {
    val m = Stats.median(xs.toSeq)
    if (m.isNaN) 0.0 else m
  }
  private def hd50(xs: Iterable[Double]): Double = {
    val m = Stats.hdQuantile(xs.toSeq, 0.5)
    if (m.isNaN) 0.0 else m
  }

  private val jobsOf: Map[Int, Seq[JobRecord]] =
    jobExec.collect { case (j, Some(e)) => e -> j }.groupMap(_._1)(_._2)

  private def unexpected(e: Exec) = e.wrong.nonEmpty || (e.error.nonEmpty && !e.stmt.rejected)

  // ------------------------------------------------------------ end to end

  /** The measured passes folded into one best-of-P pass: each statement's
    * fastest successful execution, or its first when none succeeded. A
    * co-tenant that takes CPU time from this host for a few seconds slows
    * some executions and not others; the fastest of a statement's
    * executions, one pass apart, is the one it least disturbed. */
  val best: Seq[Exec] = Report.best(plainRuns)

  def endToEnd: Seq[(String, Double, String)] = {
    val ok = best.filter(_.ok)
    val windowS = best.map(_.nanos).sum / 1e9
    val lat = ok.map(e => ms(e.nanos))
    val tail = Stats.tail(lat)
    val scanned = best.filterNot(_.stmt.call.isInstanceOf[Call.Load])
      .flatMap(e => jobsOf.getOrElse(e.exec, Nil)).map(_.inputBytes).sum
    val input = best.map(_.payload).sum + scanned
    val firstBatch = plainRuns.filter(e => e.ok && e.stmt.streamed).groupBy(_.stmt.id)
      .values.map(es => ms(es.map(_.firstNanos).min))
    Seq(
      ("setup_s", setupS, "s"),
      ("stmt_p50_ms", hd50(lat), "ms"),
      ("stmt_tail_ms", tail.value, "ms"),
      ("stmts_per_s", ok.length / windowS, "1/s"),
      ("result_mb_per_s", best.map(_.bytes).sum / MB / windowS, "MB/s"),
      ("first_batch_p50_ms", hd50(firstBatch), "ms"),
      ("input_mb_per_s", input / MB / windowS, "MB/s"),
      ("ok_rate", plainRuns.count(_.ok).toDouble / plainRuns.length, "ratio"),
      ("heap_retained_mb", heapMb, "MB"))
  }

  // ------------------------------------------------------------- per layer

  def perLayer: Seq[(String, Double, String)] = {
    val decomposed = tracedRuns
    val passes = decomposed.map(_.pass).distinct.size.max(1).toDouble
    val layers = SelfTime.byLayer(spans)
    def layer(e: Exec, l: String): Option[Long] = layers.get(e.exec).flatMap(_.get(l))
    def work(e: Exec): Long = e.nanos - layer(e, "trace").getOrElse(0L)
    val jobs = decomposed.flatMap(e => jobsOf.getOrElse(e.exec, Nil))
    def perPass(f: JobRecord => Double): Double = jobs.map(f).sum / passes
    def spanMs(name: String) = spans.filter(_.name == name).map(x => ms(x.nanos))
    def kindMs(kind: String) = p50(decomposed.filter(e => e.ok && e.stmt.kind == kind).map(e => ms(e.nanos)))

    val dialect = decomposed.flatMap(e => layer(e, "dialect"))
    val ingestJobs = decomposed.filter(_.stmt.kind.nonEmpty).flatMap(e => jobsOf.getOrElse(e.exec, Nil))
    Seq(
      ("session.async_wait_ms", p50(pings.map(ms)), "ms"),
      ("session.temp_views", tempViews.toDouble, "count"),
      ("dialect.rewrite_ms", p50(dialect.map(ms)), "ms"),
      ("dialect.rewrite_total_s", dialect.sum / 1e9 / passes, "s"),
      ("dialect.share", if (decomposed.isEmpty) 0.0 else dialect.sum.toDouble / decomposed.map(work).sum, "ratio"),
      ("plan.analysis_ms", p50(spanMs("plan.analysis")), "ms"),
      ("plan.optimization_ms", p50(spanMs("plan.optimization")), "ms"),
      ("plan.planning_ms", p50(spanMs("plan.planning")), "ms"),
      ("exec.wall_ms", p50(decomposed.flatMap(e => layer(e, "exec")).map(ms)), "ms"),
      ("exec.cpu_s", perPass(_.cpuNanos / 1e9), "s"),
      ("exec.jobs", jobs.length / passes, "count"),
      ("exec.tasks", perPass(_.tasks.toDouble), "count"),
      ("exec.task_wait_ms", p50(jobs.flatMap(_.taskWaitMs)), "ms"),
      ("exec.gc_ms", perPass(_.gcMs.toDouble), "ms"),
      ("exec.input_mb", perPass(_.inputBytes / MB), "MB"),
      ("exec.shuffle_read_mb", perPass(_.shuffleReadBytes / MB), "MB"),
      ("exec.shuffle_write_mb", perPass(_.shuffleWriteBytes / MB), "MB"),
      ("exec.spill_mb", perPass(_.spillBytes / MB), "MB"),
      ("results.encode_ms", p50(decomposed.flatMap(e => layer(e, "results")).map(ms)), "ms"),
      ("results.bytes_mb", decomposed.map(_.bytes).sum / MB / passes, "MB"),
      ("results.rows", decomposed.map(_.rows).sum / passes, "count"),
      ("results.batches", decomposed.map(_.batches).sum / passes, "count"),
      ("pipeline.build_ms", p50(spanMs("pipeline.build")), "ms"),
      ("pipeline.pinned_mb", pinnedMb, "MB"),
      ("ingest.csv_ms", kindMs("csv"), "ms"),
      ("ingest.json_ms", kindMs("json"), "ms"),
      ("ingest.arrow_ms", kindMs("arrow"), "ms"),
      ("ingest.copy_ms", kindMs("copy"), "ms"),
      ("ingest.write_mb", ingestJobs.map(_.outputBytes).sum / MB / passes, "MB"),
      ("trace.overhead_ms", p50(decomposed.map(e => ms(layer(e, "trace").getOrElse(0L)))), "ms"),
      ("trace.unattributed_ms", p50(decomposed.flatMap(e => layer(e, "unattributed")).map(ms)), "ms"))
  }

  // -------------------------------------------------------------- artifact

  private def failures(runs: Seq[Exec]): Map[String, String] =
    runs.filter(_.error.nonEmpty).map(e => e.stmt.id -> e.error.get).toMap

  private def statements(runs: Seq[Exec]) =
    runs.groupBy(_.stmt.id).toSeq.sortBy(_._1).map { case (id, es) =>
      id -> Map(
        "runs" -> es.length,
        "ok" -> es.count(_.ok),
        "p50_ms" -> p50(es.map(e => ms(e.nanos))),
        "min_ms" -> es.map(e => ms(e.nanos)).min,
        "first_batch_p50_ms" -> (if (es.head.stmt.streamed) p50(es.map(e => ms(e.firstNanos))) else 0.0),
        "rows" -> es.head.rows,
        "bytes" -> es.head.bytes)
    }

  private def spanRecords = spans.map(x => Map(
    "id" -> x.id, "parent" -> x.parent, "stmt" -> x.stmt, "name" -> x.name,
    "start_ns" -> x.start, "end_ns" -> x.end, "derived" -> x.derived))

  /** Self time per layer for each traced statement, with the statement's
    * own duration, so that the parts visibly add up to the whole. */
  private def layerTable = {
    val layers = SelfTime.byLayer(spans)
    tracedRuns.map { e =>
      Map("stmt" -> e.stmt.id, "exec" -> e.exec, "total_ms" -> ms(e.nanos),
        "self_ms" -> layers.getOrElse(e.exec, Map.empty).map { case (k, v) => k -> ms(v) })
    }
  }

  def result: Map[String, Any] = {
    val all = plainRuns ++ tracedRuns
    val metrics = (if (s.trace) perLayer else endToEnd).map { case (n, v, u) =>
      n -> scala.collection.immutable.ListMap("value" -> v, "unit" -> u)
    }
    val tail = Stats.tail(best.filter(_.ok).map(e => ms(e.nanos)))
    val e2eDetail = Map(
      "tail_percentile" -> tail.pct,
      "tail_samples" -> tail.n,
      "tail_beyond" -> tail.beyond,
      "error_rate" -> plainRuns.count(!_.ok).toDouble / plainRuns.length.max(1),
      "heap_peak_after_gc_mb" -> heapPeakMb,
      "temp_views" -> tempViews,
      "passes" -> plainRuns.map(_.pass).distinct.size,
      "jobs" -> jobExec.length,
      "jobs_attributed" -> jobExec.count(_._2.exists(_ != BenchListener.ProbeStmt)),
      "jobs_input_mb" -> jobExec.map(_._1.inputBytes).sum / MB,
      "jobs_cpu_s" -> jobExec.map(_._1.cpuNanos).sum / 1e9,
      "window_s" -> plainRuns.map(_.nanos).sum / 1e9,
      "best_pass_s" -> best.map(_.nanos).sum / 1e9,
      "pass_p50_ms" -> plainRuns.groupBy(_.pass).toSeq.sortBy(_._1).map { case (_, es) =>
        p50(es.filter(_.ok).map(e => ms(e.nanos))) },
      "pass_s" -> plainRuns.groupBy(_.pass).toSeq.sortBy(_._1).map { case (_, es) =>
        es.map(_.nanos).sum / 1e9 })
    val artifact = scala.collection.immutable.ListMap(
      "workload" -> s.workload,
      "seed" -> s.seed,
      "trace" -> s.trace,
      "cores" -> Runtime.getRuntime.availableProcessors,
      "end_to_end" -> (if (s.trace) Map.empty else
        endToEnd.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap),
      "end_to_end_detail" -> (if (s.trace) Map.empty else e2eDetail),
      "per_layer" -> (if (s.trace) perLayer.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap else Map.empty),
      "failures" -> failures(all),
      "wrong" -> all.filter(_.wrong.nonEmpty).map(e => e.stmt.id -> e.wrong.get).toMap,
      "statements" -> statements(if (s.trace) tracedRuns else plainRuns).toMap,
      "layer_self_ms" -> layerTable,
      "spans" -> spanRecords)
    java.nio.file.Files.write(java.nio.file.Paths.get(s.out), Json.write(artifact).getBytes("UTF-8"))
    scala.collection.immutable.ListMap(
      "correct" -> !all.exists(unexpected),
      "attempted" -> all.length,
      "failed" -> all.count(unexpected),
      "metrics" -> scala.collection.immutable.ListMap(metrics: _*))
  }
}

object Report {

  /** Each statement's fastest successful execution, or its first when none
    * succeeded, in the order the statements first ran. */
  def best(runs: Seq[Exec]): Seq[Exec] = {
    val byStmt = runs.groupBy(_.stmt.id)
    runs.map(_.stmt.id).distinct.map { id =>
      val ok = byStmt(id).filter(_.ok)
      if (ok.nonEmpty) ok.minBy(_.nanos) else byStmt(id).head
    }
  }
}
