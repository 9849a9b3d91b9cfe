package graft.session

import org.apache.spark.sql.SparkSession

/** The confs every session the engine runs on is built with: the engine's
  * own ([[Engine]] without an `existingSession`) and those of `Verify`,
  * `Bench`, `tools/Probe` and the tests, so that all of them plan and
  * execute alike.
  *
  * The generated-class cache bound: Spark compiles each whole-stage and
  * expression class with Janino (about 10 ms each) and keeps the result in
  * one JVM-wide cache. `CodeGenerator` sizes that cache once, from the
  * active session's `spark.sql.codegen.cache.maxEntries`, at the JVM's
  * first codegen. Spark's default of 100 entries is smaller than one cycle
  * of the `interactive` benchmark's statements (186 classes): statements
  * then evict each other's classes, and every run compiles them again, on
  * the driver while planning and in each task of the stage.
  * [[CodegenCacheEntries]] holds the distinct classes of the whole
  * statement catalog, so a class is compiled once per JVM. A cached
  * class retains about 27 KB of heap (`interactive`'s retained heap rose
  * 2.4 MB for its 86 classes beyond the default), so the bound caps the
  * cache at about 110 MB, reached only by a JVM that runs the whole
  * catalog.
  */
object SessionDefaults {

  val CodegenCacheConf = "spark.sql.codegen.cache.maxEntries"

  /** Distinct generated classes of every `SparkEntry.queries` row plus
    * every oracle text on the statement path, at sf0.001 on `local[4]`:
    * 3653 (2814 + 839), counted with `CodegenMetrics` under a cache that
    * evicts nothing; rounded up to the next power of two. */
  val CodegenCacheEntries = 4096

  /** A builder for `local[cores]`-style `master` with the engine's
    * extensions, UTC session time, AQE, `partitions` shuffle partitions,
    * no UI and the generated-class cache bound. Callers add their own
    * confs (app name, warehouse) before `getOrCreate`. */
  def builder(master: String, partitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      // the engine's functions, resolution and optimizer rules: resolution
      // rules can only ride session construction, so every session the
      // engine runs on is built with the extension
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", partitions.toLong)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(CodegenCacheConf, CodegenCacheEntries.toLong)
}
