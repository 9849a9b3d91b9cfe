package graft

import graft.session.{AsyncEngine, Connection, Engine, EngineConfig}
import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector.ipc.ArrowFileReader
import org.apache.arrow.vector.util.ByteArrayReadableSeekableByteChannel
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import scala.concurrent.{Await, Future}
import scala.concurrent.duration._
import scala.concurrent.ExecutionContext.Implicits.global

/** The scan-relation cache: every `parquet_scan` / `read_csv` / bare-file
  * scan resolves its source once per version into one temp view, and a
  * changed or re-registered source is read afresh. Each test opens its
  * engine on a session of its own (shared SparkContext, own temp-view
  * namespace), so the scan views it counts are its own. */
class ScanCacheSpec extends AnyFunSuite {

  private val sf = SparkTestSession.sfDir

  private def freshEngine(): Engine =
    new Engine(EngineConfig(existingSession = Some(SparkTestSession.spark.newSession())))

  private def scanViews(e: Engine): Set[String] =
    e.spark.catalog.listTables().collect()
      .filter(t => t.isTemporary && t.name.startsWith("__graft_scan_"))
      .map(_.name).toSet

  private def count(c: Connection, sql: String): Long =
    c.queryDF(sql).collect().head.getLong(0)

  private def first(c: Connection, sql: String): String =
    String.valueOf(c.queryDF(sql).collect().head.get(0))

  private def tempFile(suffix: String, text: String): Path = {
    val p = Files.createTempFile("scan-cache-", suffix)
    p.toFile.deleteOnExit()
    Files.writeString(p, text)
  }

  private def firstLong(ipcFile: Array[Byte]): Long = {
    val alloc = new RootAllocator(Long.MaxValue)
    val reader = new ArrowFileReader(new ByteArrayReadableSeekableByteChannel(ipcFile), alloc)
    try {
      assert(reader.loadNextBatch())
      reader.getVectorSchemaRoot.getVector(0).getObject(0).asInstanceOf[Number].longValue()
    } finally { reader.close(); alloc.close() }
  }

  test("50 statements leave one scan view per source; reset starts the count again") {
    val e = freshEngine()
    val c = e.connect()
    e.files.registerFilePath("lt_region.parquet", s"$sf/region.parquet")
    e.files.registerFilePath("lt_nation.parquet", s"$sf/nation.parquet")
    e.files.registerFilePath("lt.csv", tempFile(".csv", "a;b\n1;x\n2;y\n3;z\n").toString)
    e.files.collectFileStatistics("lt_region.parquet", enable = true)
    val stmt = c.prepare(
      "SELECT count(*)::BIGINT AS n FROM parquet_scan('lt_region.parquet') WHERE r_regionkey >= ?")
    (0 until 50).foreach { i =>
      i % 5 match {
        case 0 =>
          assert(count(c, "SELECT count(*)::BIGINT FROM parquet_scan('lt_region.parquet')") === 5)
        case 1 =>
          assert(count(c, "SELECT count(*)::BIGINT FROM read_parquet('lt_nation.parquet')") === 25)
        case 2 =>
          val df = c.queryDF("SELECT * FROM read_csv('lt.csv', delim=';')")
          assert(df.columns.toSeq === Seq("a", "b") && df.count() === 3)
        case 3 =>
          val df = c.queryDF("SELECT * FROM read_csv('lt.csv', delim=',')")
          assert(df.columns.toSeq === Seq("a;b") && df.count() === 3)
        case _ =>
          assert(c.runPrepared(stmt, Seq(3)).collect().head.getLong(0) === 2)
      }
    }
    assert(scanViews(e).size === 4)
    val st = e.files.exportFileStatistics("lt_region.parquet")
    assert(st.scanResolutions === 20)
    assert(st.relationResolutions === 1)

    e.reset()
    assert(scanViews(e).isEmpty)
    e.files.registerFilePath("lt_region.parquet", s"$sf/region.parquet")
    assert(count(c, "SELECT count(*)::BIGINT FROM parquet_scan('lt_region.parquet')") === 5)
    assert(c.runPrepared(stmt, Seq(0)).collect().head.getLong(0) === 5)
    assert(scanViews(e).size === 1)
  }

  test("a same-length registerFileBuffer rewrite is read afresh, into the same view") {
    val e = freshEngine()
    val c = e.connect()
    e.files.collectFileStatistics("buf.csv", enable = true)
    e.files.registerFileText("buf.csv", "v\n1\n")
    assert(first(c, "SELECT v FROM read_csv('buf.csv')") === "1")
    val view = scanViews(e)
    val spilled = Paths.get(e.files.resolve("buf.csv"))
    val mtime = Files.getLastModifiedTime(spilled)
    // same length, another inferred type: a stale relation would still read
    // the column as INTEGER
    e.files.registerFileText("buf.csv", "v\nx\n")
    // the rewrite lands within the same modification-time tick: the listing
    // looks unchanged, only the re-registration tells
    Files.setLastModifiedTime(spilled, mtime)
    assert(first(c, "SELECT v FROM read_csv('buf.csv')") === "x")
    e.files.registerFileText("buf.csv", "v\n2\n")
    assert(count(c, "SELECT sum(v)::BIGINT FROM read_csv('buf.csv')") === 2)
    assert(scanViews(e) === view)
    // bare-file form, a source of its own
    assert(count(c, "SELECT sum(v)::BIGINT FROM 'buf.csv'") === 2)
    e.files.registerFileText("buf.csv", "v\n3\n")
    assert(count(c, "SELECT sum(v)::BIGINT FROM 'buf.csv'") === 3)
    val st = e.files.exportFileStatistics("buf.csv")
    assert(st.scanResolutions === 5 && st.relationResolutions === 5)
  }

  test("COPY TO over a scanned path is read afresh") {
    val e = freshEngine()
    val c = e.connect()
    val out = Files.createTempDirectory("scan-cache-copy-").resolve("out.csv").toString
    c.queryDF(s"COPY (SELECT 1 AS v) TO '$out' (FORMAT CSV, HEADER true)")
    assert(first(c, s"SELECT v FROM read_csv('$out')") === "1")
    // a file of the same length and another inferred type, here also with
    // the same modification time: the listing looks unchanged, only the
    // COPY tells
    val mtime = Files.getLastModifiedTime(Paths.get(out))
    c.queryDF(s"COPY (SELECT 'x' AS v) TO '$out' (FORMAT CSV, HEADER true)")
    Files.setLastModifiedTime(Paths.get(out), mtime)
    assert(first(c, s"SELECT v FROM read_csv('$out')") === "x")
    c.queryDF(s"COPY (SELECT 3 AS v UNION ALL SELECT 40) TO '$out' (FORMAT CSV, HEADER true)")
    assert(count(c, s"SELECT sum(v)::BIGINT FROM read_csv('$out')") === 43)
    val pq = out.stripSuffix(".csv") + ".parquet"
    c.queryDF(s"COPY (SELECT 5::BIGINT AS v) TO '$pq' (FORMAT PARQUET)")
    assert(count(c, s"SELECT sum(v)::BIGINT FROM parquet_scan('$pq')") === 5)
    c.queryDF(s"COPY (SELECT 6::BIGINT AS v UNION ALL SELECT 7) TO '$pq' (FORMAT PARQUET)")
    assert(count(c, s"SELECT sum(v)::BIGINT FROM parquet_scan('$pq')") === 13)
    assert(scanViews(e).size === 2)
  }

  test("a file changed behind the registry's back is read afresh") {
    val e = freshEngine()
    val c = e.connect()
    val p = tempFile(".csv", "v\n1\n")
    e.files.registerFilePath("outside.csv", p.toString)
    assert(count(c, "SELECT sum(v)::BIGINT FROM read_csv('outside.csv')") === 1)
    Files.writeString(p, "v\n10\n20\n")
    assert(count(c, "SELECT sum(v)::BIGINT FROM read_csv('outside.csv')") === 30)
  }

  test("dropFile, then the name re-registered to another file, reads the new file") {
    val e = freshEngine()
    val c = e.connect()
    e.files.registerFilePath("swap.parquet", s"$sf/region.parquet")
    assert(count(c, "SELECT count(*)::BIGINT FROM parquet_scan('swap.parquet')") === 5)
    assert(e.files.dropFile("swap.parquet"))
    assert(scanViews(e).isEmpty)
    e.files.registerFilePath("swap.parquet", s"$sf/nation.parquet")
    assert(count(c, "SELECT count(*)::BIGINT FROM parquet_scan('swap.parquet')") === 25)
    // re-registered without a drop in between
    e.files.registerFilePath("swap.parquet", s"$sf/region.parquet")
    assert(count(c, "SELECT count(*)::BIGINT FROM parquet_scan('swap.parquet')") === 5)
  }

  test("two engines on one session never see each other's files under the same name") {
    val session = SparkTestSession.spark.newSession()
    val (e1, e2) = (new Engine(EngineConfig(existingSession = Some(session))),
      new Engine(EngineConfig(existingSession = Some(session))))
    val (c1, c2) = (e1.connect(), e2.connect())
    e1.files.registerFilePath("same.parquet", s"$sf/region.parquet")
    e2.files.registerFilePath("same.parquet", s"$sf/nation.parquet")
    e1.files.registerFileText("same.csv", "v\n1\n")
    e2.files.registerFileText("same.csv", "v\n2\n")
    (1 to 3).foreach { _ =>
      assert(count(c1, "SELECT count(*)::BIGINT FROM parquet_scan('same.parquet')") === 5)
      assert(count(c2, "SELECT count(*)::BIGINT FROM parquet_scan('same.parquet')") === 25)
      assert(count(c1, "SELECT sum(v)::BIGINT FROM read_csv('same.csv')") === 1)
      assert(count(c2, "SELECT sum(v)::BIGINT FROM read_csv('same.csv')") === 2)
    }
    // the session holds both engines' views: two sources each
    assert(scanViews(e1).size === 4)
  }

  test("concurrent connections and an async client resolve each source once") {
    val e = freshEngine()
    val names = Seq("cc_region.parquet", "cc_nation.parquet", "cc.csv")
    e.files.registerFilePath(names(0), s"$sf/region.parquet")
    e.files.registerFilePath(names(1), s"$sf/nation.parquet")
    e.files.registerFilePath(names(2), tempFile(".csv", "v\n1\n2\n3\n4\n").toString)
    names.foreach(e.files.collectFileStatistics(_, enable = true))
    val queries = Seq(
      "SELECT count(*)::BIGINT FROM parquet_scan('cc_region.parquet')" -> 5L,
      "SELECT count(*)::BIGINT FROM parquet_scan('cc_nation.parquet')" -> 25L,
      "SELECT sum(v)::BIGINT FROM read_csv('cc.csv')" -> 10L)
    val rounds = 5
    val threads = (0 until 4).map { t =>
      Future {
        val c = e.connect()
        (0 until rounds).flatMap(r => queries.map { case (q, want) =>
          (count(c, q), want) })
      }
    }
    val async = new AsyncEngine(e)
    val id = Await.result(async.connect(), 90.seconds)
    val asyncRuns = Future.sequence((0 until rounds).flatMap(_ => queries.map {
      case (q, want) => async.runQuery(id, q).map(b => (firstLong(b), want)) }))
    val all =
      try Await.result(Future.sequence(threads), 5.minutes).flatten ++
        Await.result(asyncRuns, 5.minutes)
      finally async.close()
    assert(all.size === 5 * rounds * queries.size)
    all.foreach { case (got, want) => assert(got === want) }
    assert(scanViews(e).size === 3)
    names.foreach { n =>
      val st = e.files.exportFileStatistics(n)
      assert(st.scanResolutions === 5L * rounds)
      assert(st.relationResolutions === 1)
    }
  }
}
