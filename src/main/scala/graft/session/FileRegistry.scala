package graft.session

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Named byte-source registry, mirroring the reference's registered-file
  * model (registerFileBuffer/URL/Path, dropFile, globFiles, copyFileToBuffer
  * — /root/reference lib/src/webdb.cc:578-757, protocols BUFFER/NATIVE/HTTP
  * in lib/include/duckdb/web/io/web_filesystem.h:29-33).
  *
  * Spark reads through Hadoop `FileSystem`, which already does ranged reads
  * over local/HTTP/S3 paths — so "registration" reduces to a name→URI map;
  * in-memory buffers are spilled to a session temp dir so executors can read
  * them like any other file (at cluster scale that dir would be shared
  * storage; the registry API is unchanged).
  */
/** Per-file I/O statistics (reference collectFileStatistics /
  * exportFileStatistics — webdb.cc:703-714, counters file_stats.h:24-120).
  * Coarse counters (size, scan resolutions, API byte reads) are always
  * collected: `scanResolutions` counts every scan of the file in SQL,
  * `relationResolutions` the scans that resolved its relation anew (the
  * rest were served by the scan-relation cache). BLOCK-level counters — the
  * reference's per-block cold/ahead/cached read histogram over ≤1000
  * power-of-two blocks — are populated for reads the engine itself issues
  * (ranged HTTP scans, copyFileToBuffer). Local parquet scans go through the OS page cache,
  * which Spark cannot introspect, so their block rows stay zero. */
final case class FileStatistics(
    fileName: String,
    sizeBytes: Long,
    scanResolutions: Long,
    apiReads: Long,
    apiBytesRead: Long,
    blockShift: Int = 0,
    blocks: Seq[graft.io.BlockStatistics] = Nil,
    bytesReadCold: Long = 0L,
    bytesReadAhead: Long = 0L,
    bytesReadCached: Long = 0L,
    relationResolutions: Long = 0L)

final class FileRegistry {
  import FileRegistry._

  private val entries = new ConcurrentHashMap[String, String]()
  private val statsEnabled = ConcurrentHashMap.newKeySet[String]()
  private val scanCounts = new ConcurrentHashMap[String, AtomicLong]()
  private val relationCounts = new ConcurrentHashMap[String, AtomicLong]()
  private val readCounts = new ConcurrentHashMap[String, AtomicLong]()
  private val readBytes = new ConcurrentHashMap[String, AtomicLong]()
  private val scans = new ConcurrentHashMap[ScanKey, ScanEntry]()

  private def counter(m: ConcurrentHashMap[String, AtomicLong], name: String) =
    m.computeIfAbsent(name, _ => new AtomicLong())

  /** Enable/disable statistics collection for a registered file — both the
    * coarse counters and the per-block collector behind the read path. */
  def collectFileStatistics(name: String, enable: Boolean): Unit =
    if (enable) {
      statsEnabled.add(name)
      val stored = resolve(name)
      graft.io.ReadStatsHub.arm(stored)
      // local files know their size now; HTTP files materialize their
      // collector at open time (size comes from the HEAD request)
      try {
        val p = Paths.get(stored)
        if (Files.isRegularFile(p))
          graft.io.ReadStatsHub.collectorFor(stored, Files.size(p))
      } catch { case _: Exception => () }
    } else {
      statsEnabled.remove(name)
      graft.io.ReadStatsHub.disarm(resolve(name))
    }

  /** Zero all statistics for a file, keeping collection armed if it was
    * (reference shell `.fstats reset` — shell.rs:437-439; the wasm DB API
    * has no reset call, so the reference only prints — here the counters
    * genuinely restart). */
  def resetFileStatistics(name: String): Unit = {
    scanCounts.remove(name); relationCounts.remove(name)
    readCounts.remove(name); readBytes.remove(name)
    val stored = resolve(name)
    graft.io.ReadStatsHub.disarm(stored)
    if (statsEnabled.contains(name)) collectFileStatistics(name, enable = true)
  }

  def exportFileStatistics(name: String): FileStatistics = {
    val p = Paths.get(resolve(name))
    val size = if (Files.exists(p) && !Files.isDirectory(p)) Files.size(p) else 0L
    val blocks = graft.io.ReadStatsHub.get(resolve(name))
    FileStatistics(name, size,
      counter(scanCounts, name).get(),
      counter(readCounts, name).get(),
      counter(readBytes, name).get(),
      blockShift = blocks.map(_.blockShift).getOrElse(0),
      blocks = blocks.map(_.export).getOrElse(Nil),
      bytesReadCold = blocks.map(_.bytesCold.get()).getOrElse(0L),
      bytesReadAhead = blocks.map(_.bytesAhead.get()).getOrElse(0L),
      bytesReadCached = blocks.map(_.bytesCached.get()).getOrElse(0L),
      relationResolutions = counter(relationCounts, name).get())
  }

  private def count(m: ConcurrentHashMap[String, AtomicLong], name: String): Unit =
    if (statsEnabled.contains(name)) counter(m, name).incrementAndGet()

  /** The temp view a scan of `name` reads: one view per source, kept while
    * the source is unchanged. The key is the resolved path, the reader
    * `kind` and its parsed `options`; the value the source's version stamp
    * (its leaf files' paths, lengths and modification times) and the view.
    * A hit costs one listing and a check that the view still exists; a miss
    * or a changed stamp runs `load` on the resolved path and replaces the
    * same view. Sources without a real modification time (HTTP) resolve on
    * every scan. The update is atomic per key, so concurrent scans of one
    * source resolve it once. */
  private[graft] def scanView(spark: SparkSession, name: String, kind: String,
      options: Map[String, String] = Map.empty)(load: String => DataFrame): String = {
    count(scanCounts, name)
    val key = ScanKey(resolve(name), kind, options)
    // listed before `load` runs: a source that changes in between gets a
    // stamp older than its data, which only costs one more resolution
    val stamp = version(spark, key.path)
    scans.compute(key, (_, old) =>
      if (old != null && stamp.isDefined && old.stamp == stamp &&
          spark.catalog.tableExists(old.view)) old
      else {
        val view = if (old != null) old.view else nextView()
        load(key.path).createOrReplaceTempView(view)
        count(relationCounts, name)
        ScanEntry(stamp, view, spark)
      }).view
  }

  /** Mark the scans of `name`'s source stale: the next one re-resolves it
    * even if its listing looks unchanged (a same-length rewrite within one
    * modification-time tick). */
  private[graft] def invalidate(name: String): Unit = {
    val path = resolve(name)
    scans.keySet.asScala.filter(_.path == path).foreach(k =>
      scans.computeIfPresent(k, (_, e) => e.copy(stamp = None)))
  }

  /** Forget the scans whose source matches `dropped` and drop their views. */
  private def dropScans(dropped: String => Boolean): Unit =
    scans.keySet.asScala.filter(k => dropped(k.path)).foreach(k =>
      Option(scans.remove(k)).foreach(e => e.spark.catalog.dropTempView(e.view)))

  /** (Re)bind `name`, invalidating the scans of what it resolved to before
    * and after. */
  private def rebind(name: String)(bind: => Unit): Unit = {
    invalidate(name)
    bind
    invalidate(name)
  }

  private lazy val spillDir: Path = {
    val d = Files.createTempDirectory("graft-files-")
    d.toFile.deleteOnExit()
    d
  }

  /** Register an in-memory buffer under a file name. */
  def registerFileBuffer(name: String, bytes: Array[Byte]): Unit = {
    val p = spillDir.resolve(sanitize(name))
    rebind(name) {
      Files.createDirectories(p.getParent)
      Files.write(p, bytes)
      entries.put(name, p.toString)
    }
    // re-registration of a stats-enabled name is a file write (the wasm
    // analogue: writing a registered buffer's pages)
    graft.io.ReadStatsHub.get(p.toString)
      .foreach(_.registerWrite(0L, bytes.length.toLong))
  }

  /** Register UTF-8 text under a file name. */
  def registerFileText(name: String, text: String): Unit =
    registerFileBuffer(name, text.getBytes("UTF-8"))

  /** Register a URL (http(s)://...) or local path under a file name.
    * Query strings (presigned S3/GCS-style links) survive the trip through
    * Hadoop `Path` — which has no query component and treats `?` as a glob
    * metachar — by encoding them into a `!q=<base64url>` path suffix that
    * [[graft.io.HttpFileSystem]] decodes back before issuing requests. */
  def registerFileURL(name: String, url: String): Unit = {
    val qIdx = url.indexOf('?')
    val stored =
      if (qIdx >= 0 && url.matches("(?i)https?://.*"))
        url.substring(0, qIdx) + "!q=" + java.util.Base64.getUrlEncoder.withoutPadding
          .encodeToString(url.substring(qIdx + 1).getBytes("UTF-8"))
      else url
    rebind(name)(entries.put(name, stored))
  }

  /** Register a native filesystem path under a file name. */
  def registerFilePath(name: String, path: String): Unit =
    rebind(name)(entries.put(name, path))

  /** Register an open byte-source handle (reference registerFileHandle,
    * packages/duckdb-wasm/src/bindings/bindings_interface.ts:32; the
    * implementation at bindings_base.ts:346-368 keeps the handle in a
    * name→handle map and registers the name as an ordinary file). The JVM
    * handle types: a `Path`/`File` registers in place, an `InputStream` is
    * drained to the spill dir (executors need a re-readable source, not a
    * one-shot stream), a byte array behaves like registerFileBuffer, a
    * `URL` like registerFileURL. */
  def registerFileHandle(name: String, handle: Any): Unit = handle match {
    case p: Path => registerFilePath(name, p.toString)
    case f: java.io.File => registerFilePath(name, f.getPath)
    case in: java.io.InputStream => registerFileBuffer(name, in.readAllBytes())
    case bytes: Array[Byte] => registerFileBuffer(name, bytes)
    case url: java.net.URL => registerFileURL(name, url.toString)
    case other => throw new IllegalArgumentException(
      s"unsupported file handle type: ${if (other == null) "null" else other.getClass.getName}")
  }

  /** Flush all registered files to durable storage (reference flushFiles,
    * bindings_interface.ts:36 — flushes the wasm paged filesystem's dirty
    * pages). The JVM registry writes spilled buffers eagerly, so flushing
    * reduces to an fsync of every registered local file; remote URLs have
    * nothing to flush. */
  def flushFiles(): Unit =
    entries.values.asScala.foreach { stored =>
      try {
        val p = Paths.get(stored)
        if (Files.isRegularFile(p)) {
          val ch = java.nio.channels.FileChannel.open(p, java.nio.file.StandardOpenOption.WRITE)
          try ch.force(true) finally ch.close()
        }
      } catch { case _: Exception => () } // URL-backed entries: nothing local
    }

  def dropFile(name: String): Boolean = {
    val path = resolve(name)
    dropScans(_ == path)
    entries.remove(name) != null
  }

  def dropFiles(): Unit = {
    dropScans(_ => true)
    entries.clear()
  }

  /** Resolve a (possibly registered) name to a readable URI; unregistered
    * names pass through untouched (bare paths work like the reference's
    * NATIVE protocol). */
  def resolve(name: String): String =
    Option(entries.get(name)).getOrElse(name)

  def isRegistered(name: String): Boolean = entries.containsKey(name)

  /** Glob over registered names (reference glob semantics: `*` any run, `?`
    * one char — lib/src/io/glob.cc:16-128). */
  def globFiles(pattern: String): Seq[String] = {
    val re = GlobToRegex(pattern)
    entries.keySet.asScala.toSeq.filter(re.matches).sorted
  }

  /** Read back the bytes behind a registered name (reference
    * copyFileToBuffer, used to export query/COPY results). */
  def copyFileToBuffer(name: String): Array[Byte] = {
    val out = doCopyFileToBuffer(name)
    if (statsEnabled.contains(name)) {
      counter(readCounts, name).incrementAndGet()
      counter(readBytes, name).addAndGet(out.length.toLong)
      graft.io.ReadStatsHub.get(resolve(name))
        .foreach(_.registerRead(0L, out.length.toLong, continuation = false))
    }
    out
  }

  private def doCopyFileToBuffer(name: String): Array[Byte] = {
    val p = Paths.get(resolve(name))
    if (Files.isDirectory(p)) {
      // Spark sinks write part-directories; a single-part dir reads back
      // as its lone data file (COPY TO coalesces to 1 part).
      val parts = Files.list(p).iterator().asScala
        .filter(f => { val n = f.getFileName.toString
          !n.startsWith(".") && !n.startsWith("_") })
        .toSeq.sortBy(_.getFileName.toString)
      require(parts.nonEmpty, s"no data files under $name")
      Files.readAllBytes(parts.head)
    } else Files.readAllBytes(p)
  }

  /** Copy a registered file's bytes to a native path. */
  def copyFileToPath(name: String, out: String): Unit =
    Files.write(Paths.get(out), copyFileToBuffer(name))

  private def sanitize(name: String): String =
    name.replaceAll("[^A-Za-z0-9._/-]", "_").stripPrefix("/")
}

object FileRegistry {
  /** A scan source: resolved path, reader kind and parsed reader options. */
  private final case class ScanKey(path: String, kind: String, options: Map[String, String])

  /** A resolved scan: the source version it was read at (None: re-resolve
    * on the next scan) and the temp view holding it. */
  private final case class ScanEntry(stamp: Option[Seq[(String, Long, Long)]], view: String,
      spark: SparkSession)

  // JVM-global: engines from getOrCreate share one session, and so one
  // temp-view namespace
  private val viewCounter = new AtomicLong()
  private def nextView(): String = s"__graft_scan_${viewCounter.incrementAndGet()}"

  /** The source's version: path, length and modification time of each leaf
    * file under `path` (a file, directory or glob), from one recursive
    * Hadoop listing. None when it cannot be versioned: no match, a failed
    * listing, or a file system without real modification times (HTTP). */
  private def version(spark: SparkSession, path: String): Option[Seq[(String, Long, Long)]] =
    try {
      val p = new HPath(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      def leaves(st: FileStatus): Seq[FileStatus] =
        if (st.isDirectory) fs.listStatus(st.getPath).toSeq.flatMap(leaves) else Seq(st)
      val stamp = Option(fs.globStatus(p)).toSeq.flatten.flatMap(leaves)
        .map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).sorted
      if (stamp.isEmpty || stamp.exists(_._3 == 0L)) None else Some(stamp)
    } catch { case NonFatal(_) => None }
}

/** Reference-faithful glob→regex translation (`*` → `.*`, `?` → `.`,
  * everything else literal — lib/src/io/glob.cc:16-128). */
object GlobToRegex {
  def apply(glob: String): scala.util.matching.Regex = {
    val sb = new StringBuilder("^")
    glob.foreach {
      case '*' => sb.append(".*")
      case '?' => sb.append(".")
      case c if "\\.[]{}()+-^$|".contains(c) => sb.append("\\").append(c)
      case c => sb.append(c)
    }
    sb.append("$").toString.r
  }
}
