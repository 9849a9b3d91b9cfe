package graft.session

import java.nio.file.Files
import org.apache.spark.sql.SparkSession

/** Engine configuration — mirrors the reference's open() config surface
  * (lib/src/config.cc:25-55: path, emitBigInt, maximumThreads,
  * allowFullHTTPReads; feature flags lib/include/duckdb/web/config.h:14-21).
  *
  * `maximumThreads` maps to local[n] parallelism; at cluster scale the same
  * engine builds against an existing cluster SparkSession instead.
  *
  * An `existingSession` keeps the confs it was built with. Spark sizes its
  * JVM-wide generated-class cache from `spark.sql.codegen.cache.maxEntries`
  * once, at the JVM's first codegen, so a session built without the
  * engine's bound ([[SessionDefaults.CodegenCacheEntries]]) cannot be given
  * it afterwards: statements beyond Spark's default of 100 classes then
  * recompile their classes on every run. Build it with
  * [[SessionDefaults.builder]], or set that conf, before anything in the
  * JVM runs a query; the engine logs a WARN when the session's value is
  * below its own.
  */
final case class EngineConfig(
    path: Option[String] = None,
    emitBigInt: Boolean = true,
    maximumThreads: Int = 0, // 0 → all cores
    shufflePartitions: Int = 32,
    existingSession: Option[SparkSession] = None)

/** The engine root: owns the SparkSession (≈ the reference's WebDB,
  * lib/src/webdb.cc:545-577), the file registry, and the catalog. Sessions
  * connect via [[Connection]] (own prepared statements + one active result
  * stream, lib/include/duckdb/web/webdb.h:33-99).
  *
  * The default schema is `main`, like the reference (webdb.cc:348). A
  * `path` opens a directory of parquet files as a read-only catalog — the
  * Spark-native replacement for attaching a DuckDB-format .db file
  * (SURVEY §2.1 "out of scope" row).
  */
final class Engine(val config: EngineConfig = EngineConfig()) {

  val files = new FileRegistry

  /** SQL macros, engine-scoped like DuckDB's catalog (CREATE MACRO /
    * DROP MACRO dispatch in Commands; expansion in DialectRewriter). */
  val macros = new graft.dialect.MacroRegistry

  /** Session options maintained by SET/RESET (DuckDB option names) and
    * read back via `current_setting('name')`. Pre-seeded with the
    * engine-truthful defaults; unknown names read as errors, like DuckDB. */
  val settings = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Defaults for the common DuckDB options: DuckDB returns an option's
    * default from current_setting() even when it was never SET, and RESET
    * restores the default rather than making the name unreadable. Values
    * are engine-truthful where the engine has a real counterpart (threads,
    * memory_limit from the JVM heap, UTC session timezone) and DuckDB's
    * shipped defaults otherwise. Genuinely unknown names still error. */
  val defaultSettings: Map[String, String] = {
    val threads =
      (if (config.maximumThreads > 0) config.maximumThreads
       else Runtime.getRuntime.availableProcessors).toString
    val memGiB = Runtime.getRuntime.maxMemory.toDouble / (1L << 30)
    val mem = f"$memGiB%.1f GiB"
    Map(
      "threads" -> threads,
      "worker_threads" -> threads,
      "memory_limit" -> mem,
      "max_memory" -> mem,
      "timezone" -> "UTC",
      "default_order" -> "asc",
      "default_null_order" -> "nulls_last",
      "enable_progress_bar" -> "false",
      "preserve_insertion_order" -> "true",
      "enable_object_cache" -> "false",
      "enable_external_access" -> "true",
      "access_mode" -> "automatic",
      "checkpoint_threshold" -> "16.0 MiB",
      "wal_autocheckpoint" -> "16.0 MiB",
      "temp_directory" -> System.getProperty("java.io.tmpdir", "/tmp"),
      "schema" -> "main",
      "search_path" -> "",
      // engine-specific: loud DuckDB-style out-of-domain math errors
      // (ln(0), sqrt(-1), asin(2), …) — default off = Spark-lenient NULLs
      "strict_math" -> "false")
  }
  defaultSettings.foreach { case (k, v) => settings.put(k, v) }

  /** `SET strict_math = true` → out-of-domain math errors loudly like
    * DuckDB (see functions/StrictMath.scala). */
  def strictMath: Boolean =
    Seq("true", "on", "1").contains(
      String.valueOf(settings.getOrDefault("strict_math", "false")).toLowerCase)

  private def buildSession(): SparkSession = {
    val s = openSession()
    // a session built without graft.GraftExtensions (a caller's, or one that
    // getOrCreate found running): install the function table and the
    // optimizer rules the extension would have brought
    if (!graft.functions.installed(s)) graft.functions.registerAll(s)
    s
  }

  private def openSession(): SparkSession = config.existingSession match {
    case Some(s) =>
      val entries = s.conf.get(SessionDefaults.CodegenCacheConf).toInt
      if (entries < SessionDefaults.CodegenCacheEntries)
        org.slf4j.LoggerFactory.getLogger(classOf[Engine]).warn(
          s"existingSession has ${SessionDefaults.CodegenCacheConf}=$entries, below the " +
            s"engine's ${SessionDefaults.CodegenCacheEntries}: Spark sizes its generated-class " +
            "cache once per JVM, so statements past that many classes recompile on every run. " +
            "Build the session with graft.session.SessionDefaults.builder or set the conf.")
      s
    case None =>
      val n = if (config.maximumThreads > 0) config.maximumThreads.toString else "*"
      val warehouse = Files.createTempDirectory("graft-warehouse-")
      warehouse.toFile.deleteOnExit()
      val s = SessionDefaults.builder(s"local[$n]", config.shufflePartitions)
        .appName("graft-engine")
        .config("spark.sql.warehouse.dir", warehouse.toString)
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s
  }

  @volatile private var _spark: SparkSession = _

  def spark: SparkSession = synchronized {
    if (_spark == null) { _spark = buildSession(); initCatalog() }
    _spark
  }

  private def initCatalog(): Unit = {
    // GROUP BY / ORDER BY ordinals are positions in DuckDB; with ordinal
    // resolution off (possible on a caller-supplied existingSession) an
    // ORDER BY ordinal silently becomes a constant expression, so pin both
    // confs (GROUP BY ALL / ORDER BY ALL are Spark's own and need neither)
    _spark.conf.set("spark.sql.groupByOrdinal", "true")
    _spark.conf.set("spark.sql.orderByOrdinal", "true")
    // DuckDB's array_length(NULL) / cardinality(NULL) is NULL; Spark's
    // size() returns -1 under the legacy default. The dialect rewrite maps
    // array_length → size, so pin the conf to DuckDB's (and standard SQL's)
    // null semantics.
    _spark.conf.set("spark.sql.legacy.sizeOfNull", "false")
    // Spark substitutes `${name}` in statement text, string literals
    // included (an unknown name becomes empty text); DuckDB keeps
    // 'a${b}c' as written
    _spark.conf.set("spark.sql.variable.substitute", "false")
    _spark.sql("CREATE DATABASE IF NOT EXISTS main")
    _spark.catalog.setCurrentDatabase("main")
    // ranged HTTP(S) reads for URL-registered files (reference
    // runtime_browser.ts:224-258) — executors issue Range requests directly
    val hc = _spark.sparkContext.hadoopConfiguration
    if (hc.get("fs.http.impl") == null)
      hc.set("fs.http.impl", "graft.io.HttpFileSystem")
    if (hc.get("fs.https.impl") == null)
      hc.set("fs.https.impl", "graft.io.HttpsFileSystem")
    config.path.foreach(openPath)
  }

  /** Open a directory of `<table>.parquet` files as the catalog (read-only). */
  private def openPath(dir: String): Unit = {
    val d = new java.io.File(dir)
    Option(d.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet"))
      .foreach { f =>
        val name = f.getName.stripSuffix(".parquet")
        try graft.Tables.readParquetAuto(_spark, f.getPath).createOrReplaceTempView(name)
        catch { case e: Exception =>
          System.err.println(s"[engine] skipping $name: ${e.getMessage}") }
      }
  }

  def connect(): Connection = new Connection(this)

  /** Drop everything and reopen (reference reset(), webdb.cc:542;
    * semantics pinned by bindings.test.ts:38-52). */
  def reset(): Unit = synchronized {
    if (_spark != null) {
      val cat = _spark.catalog
      cat.listTables("main").collect().foreach { t =>
        if (t.isTemporary) cat.dropTempView(t.name)
        else _spark.sql(s"DROP TABLE IF EXISTS main.`${t.name}`")
      }
      cat.listTables().collect().filter(_.isTemporary)
        .foreach(t => cat.dropTempView(t.name))
      cat.clearCache()
      files.dropFiles()
      initCatalog()
    }
  }

  def getVersion: String = s"graft-spark-${spark.version}"

  /** Capability flags (reference getFeatureFlags, config.h:14-21). */
  def getFeatureFlags: Map[String, Boolean] = Map(
    "threads" -> true, // JVM engine always threads (wasm gated this)
    "simd" -> true, // whole-stage codegen ≈ vectorized execution
    "bigint64array" -> true,
    "crossOriginIsolated" -> false)

  def tokenize(sql: String): (Seq[Int], Seq[Int]) = SqlTokenizer.tokenize(sql)

  def close(): Unit = synchronized {
    if (_spark != null && config.existingSession.isEmpty) _spark.stop()
    _spark = null
  }
}
