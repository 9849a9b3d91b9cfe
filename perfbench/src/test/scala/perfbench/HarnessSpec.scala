package perfbench

import org.scalatest.funsuite.AnyFunSuite

class HarnessSpec extends AnyFunSuite {

  test("tail is the highest percentile with ten samples beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    val t = Stats.tail(xs)
    assert(t.pct == 90.0 && t.n == 100 && t.beyond == 10)
    assert(math.abs(t.value - 90.5) < 0.1 && xs.count(_ > t.value) == 10)
    val u = Stats.tail((1 to 40).map(_.toDouble))
    assert(u.pct == 75.0 && math.abs(u.value - 30.5) < 0.1)
  }

  test("tail falls back to the median when no percentile above it has ten samples beyond") {
    val t = Stats.tail((1 to 15).map(_.toDouble))
    assert(t.pct == 50.0 && math.abs(t.value - 8.0) < 1e-9 && t.beyond == 7)
    assert(Stats.tail(Nil).n == 0)
  }

  test("the Harrell-Davis quantile weighs every order statistic") {
    assert(Stats.hdQuantile(Seq(5.0), 0.5) == 5.0)
    assert(math.abs(Stats.hdQuantile(Seq(1.0, 2.0, 3.0, 10.0), 0.5) - 3.25) < 0.2)
    // one sample moving past the middle moves the estimate a little, not by the gap
    val a = Stats.hdQuantile(Seq(1.0, 2.0, 3.0, 20.0, 21.0), 0.5)
    val b = Stats.hdQuantile(Seq(1.0, 2.0, 19.0, 20.0, 21.0), 0.5)
    assert(b - a < 10.0 && b > a)
  }

  test("the best-of-P pass takes each statement's fastest successful execution") {
    val a = Stmt("a", Call.Query("a"), Check.Answer("a"))
    val b = Stmt("b", Call.Query("b"), Check.Answer("b"), rejected = true)
    def exec(i: Int, st: Stmt, pass: Int, nanos: Long, ok: Boolean = true) =
      Exec(i, st, pass, traced = false, 0L, nanos, nanos, 0L, 0L, 0L, 0,
        if (ok) None else Some("boom"), None)
    val runs = Seq(exec(0, a, 0, 50), exec(1, b, 0, 5, ok = false),
      exec(2, a, 1, 30), exec(3, b, 1, 4, ok = false), exec(4, a, 2, 40, ok = false))
    val best = Report.best(runs)
    assert(best.map(_.exec) == Seq(2, 1))
  }

  test("a run of s seconds measures round(s / pass_s) passes, at least one") {
    assert(Workloads.passes(24, 8) == 3)
    assert(Workloads.passes(24, 6) == 4)
    assert(Workloads.passes(20, 8) == 3)
    assert(Workloads.passes(19, 8) == 2)
    assert(Workloads.passes(0, 8) == 1)
  }

  test("quantiles interpolate linearly") {
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.quantile(Seq(0.0, 10.0), 0.25) == 2.5)
  }

  test("self time is the span minus the union of its children") {
    val spans = Seq(
      Span(0, -1, 7, "stmt", 0, 100),
      Span(1, 0, 7, "session.queryDF", 10, 40),
      Span(2, 1, 7, "dialect.rewrite", 10, 15, derived = true),
      Span(3, 1, 7, "plan.analysis", 30, 40, derived = true),
      Span(4, 0, 7, "results.ipcFile", 50, 95),
      // two overlapping jobs inside the delivery call
      Span(5, 4, 7, "exec.job", 55, 80),
      Span(6, 4, 7, "exec.job", 70, 85))
    val self = SelfTime.of(spans)
    assert(self(0) == 100 - 30 - 45)
    assert(self(1) == 30 - 5 - 10)
    assert(self(4) == 45 - 30)
    assert(self(5) == 25 && self(6) == 15)
    val layers = SelfTime.byLayer(spans)(7)
    assert(layers("unattributed") == 25)
    assert(layers("session") == 15 && layers("dialect") == 5 && layers("plan") == 10)
    assert(layers("results") == 15 && layers("exec") == 40)
    // the layers account for the whole statement, overlapping jobs included
    assert(layers.values.sum == 100 + 10)
  }

  test("covered clips children to the parent interval") {
    assert(SelfTime.covered(Seq((0L, 10L), (5L, 20L), (30L, 50L)), 2, 40) == 18 + 10)
    assert(SelfTime.covered(Nil, 0, 10) == 0)
  }

  test("jobs go to the statement named by the local property, else to the window that contains them") {
    val windows = Seq(JobAttribution.Window(1, 0, 100), JobAttribution.Window(2, 100, 200))
    assert(JobAttribution.assign(Some(2), 50, windows).contains(2))
    assert(JobAttribution.assign(None, 150, windows).contains(2))
    assert(JobAttribution.assign(None, 50, windows).contains(1))
    assert(JobAttribution.assign(None, 500, windows).isEmpty)
    // the rewrite probe's jobs fall inside a statement's window but belong to none
    val probe = JobAttribution.assign(Some(BenchListener.ProbeStmt), 50, windows)
    assert(probe.nonEmpty && !windows.exists(w => probe.contains(w.stmt)))
  }

  test("tracer attaches a job under the innermost span that contains its start") {
    val tr = new Tracer(true)
    tr.statement(3, "stmt") {
      tr.span("session.queryDF")(Thread.sleep(2))
      tr.span("results.ipcFile")(Thread.sleep(5))
    }
    val ipc = tr.last("results.ipcFile").get
    tr.attach(3, "exec.job", ipc.start + 1, ipc.end - 1)
    val job = tr.last("exec.job").get
    assert(job.parent == ipc.id && job.stmt == 3)
    tr.attach(4, "exec.job", ipc.start + 1, ipc.end)
    assert(tr.spans.count(_.name == "exec.job") == 1)
  }

  test("float normalisation tolerates last-digit noise but not real differences") {
    assert(Digest.normFloat(1234567.891) == Digest.normFloat(1234567.8910000002))
    assert(Digest.normFloat(0.1 + 0.2) == Digest.normFloat(0.3))
    assert(Digest.normFloat(1.5) != Digest.normFloat(1.51))
    assert(Digest.normFloat(1e-9) == "0" && Digest.normFloat(-0.0) == "0")
    assert(Digest.normFloat(Double.NaN) == "nan")
  }

  /** A two-column Arrow IPC file (id INT, s VARCHAR) of `rows`. */
  private def ipc(rows: Seq[(Int, String)]): Digest.IpcFile = {
    import org.apache.arrow.memory.RootAllocator
    import org.apache.arrow.vector.{IntVector, VarCharVector, VectorSchemaRoot}
    import org.apache.arrow.vector.ipc.ArrowFileWriter
    val alloc = new RootAllocator(Long.MaxValue)
    val ids = new IntVector("id", alloc)
    val ss = new VarCharVector("s", alloc)
    rows.zipWithIndex.foreach { case ((i, s), k) =>
      ids.setSafe(k, i); ss.setSafe(k, s.getBytes("UTF-8"))
    }
    val root = VectorSchemaRoot.of(ids, ss)
    root.setRowCount(rows.length)
    val out = new java.io.ByteArrayOutputStream()
    val w = new ArrowFileWriter(root, null, java.nio.channels.Channels.newChannel(out))
    w.start(); w.writeBatch(); w.end(); w.close()
    root.close(); alloc.close()
    Digest.IpcFile(out.toByteArray)
  }

  test("digests ignore row order and catch changed values") {
    val a = Digest.of(ipc(Seq(1 -> "x", 2 -> "y")))
    assert(a == Digest.of(ipc(Seq(2 -> "y", 1 -> "x"))))
    assert(a.sum != Digest.of(ipc(Seq(1 -> "y", 2 -> "x"))).sum)
    assert(a.columns == Seq("id:INT", "s:STR") && a.rows == 2)
    assert(Digest.decode(a.encode) == a)
  }

  test("a digest mismatch from float noise passes the tolerant comparison, a real one does not") {
    val d = Digest(Seq("id:INT", "s:STR"), 2, 1L)
    val a = ipc(Seq(1 -> "x", 2 -> "y"))
    assert(Digest.compare(a, d.copy(sum = 2L), a, d).isEmpty)
    assert(Digest.compare(a, d, ipc(Seq(1 -> "x", 2 -> "z")), d.copy(sum = 2L)).nonEmpty)
  }

  test("a result identical to one checked right passes by its hash; a different one is checked in full") {
    val dir = java.nio.file.Files.createTempDirectory("answers")
    try {
      java.nio.file.Files.write(dir.resolve("q.arrow"), ipc(Seq(1 -> "x", 2 -> "y")).bytes)
      val checker = new Checker(Seq(dir.toString))
      val st = Stmt("q", Call.Query("q"), Check.Answer("q"))
      assert(checker.check(st, Some(ipc(Seq(1 -> "x", 2 -> "y")))) == (None, 2L, 1))
      assert(checker.check(st, Some(ipc(Seq(1 -> "x", 2 -> "y")))) == (None, 2L, 1))
      assert(checker.check(st, Some(ipc(Seq(1 -> "x", 2 -> "z"))))._1.nonEmpty)
    } finally {
      java.nio.file.Files.list(dir).forEach(f => java.nio.file.Files.delete(f))
      java.nio.file.Files.delete(dir)
    }
  }
}
