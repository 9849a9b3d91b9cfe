package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated TPC-H-ish tables (see TESTDATA.md).
  *
  * Each table is one parquet file under the scale-factor directory. Reads go
  * straight through `spark.read.parquet` so Catalyst's parquet source handles
  * predicate pushdown, column pruning and partition splitting — at 100 TB the
  * same call simply points at a directory of many files and the scan
  * parallelizes by row-group.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Per-session plan cache: repeated loads of the same table reuse the
    * resolved relation (file listing + parquet footer/schema read happen
    * once per session instead of once per query — measurable when a bench
    * run executes 60 queries back to back). DataFrames are immutable plans,
    * so sharing is safe. Weak keys: entries die with their SparkSession
    * (identityHashCode keys would leak stopped sessions and could collide). */
  private val planCache =
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[(String, String), DataFrame]]()

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val perSession = planCache.synchronized {
      var m = planCache.get(spark)
      if (m == null) {
        m = new java.util.concurrent.ConcurrentHashMap[(String, String), DataFrame]()
        planCache.put(spark, m)
      }
      m
    }
    perSession.computeIfAbsent((dir, name), _ => doLoad(spark, dir, name))
  }

  private def doLoad(spark: SparkSession, dir: String, name: String): DataFrame =
    readParquetAuto(spark, s"$dir/$name.parquet")

  /** Parquet read that tolerates TIMESTAMP(NANOS) columns, which Spark's
    * reader rejects outright ([PARQUET_TYPE_ILLEGAL]). The ns columns are
    * detected from the parquet footer, read as raw Longs
    * (`nanosAsLong`), and converted with exact integral division (a double
    * roundtrip would lose precision above 2^53). */
  def readParquetAuto(spark: SparkSession, path: String): DataFrame = {
    val nsCols = nanosColumns(spark, path)
    if (nsCols.isEmpty) spark.read.parquet(path)
    else {
      // The flag stays set for the session: every engine read path routes
      // through this method (Tables.load / DialectRewriter / Engine / Shell),
      // which converts any ns column — so a raw-long leak to a later read
      // can't happen inside the engine surface.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      nsCols.foldLeft(spark.read.parquet(path)) { (df, c) =>
        // floor division (not `div`, which truncates toward zero and is 1µs
        // off for pre-epoch timestamps): subtract the positive remainder.
        df.withColumn(c, org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr(
            s"(`$c` - pmod(`$c`, 1000)) div 1000")))
      }
    }
  }

  /** Column names with TIMESTAMP(NANOS) logical type, from the footer of the
    * first parquet file under `path`. */
  private def nanosColumns(spark: SparkSession, path: String): Seq[String] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.hadoop.fs.{Path => HPath}
    try {
      val conf = spark.sparkContext.hadoopConfiguration
      val p = new HPath(path)
      val fs = p.getFileSystem(conf)
      val file =
        if (fs.getFileStatus(p).isDirectory)
          fs.listStatus(p).map(_.getPath)
            .find(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
            .getOrElse(return Nil)
        else p
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
      val schema =
        try reader.getFooter.getFileMetaData.getSchema
        finally reader.close()
      import scala.jdk.CollectionConverters._
      schema.getFields.asScala.toSeq.flatMap { f =>
        Option(f.getLogicalTypeAnnotation).collect {
          case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
              if t.getUnit == LogicalTypeAnnotation.TimeUnit.NANOS => f.getName
        }
      }
    } catch { case _: Exception => Nil }
  }

  /** Register every table as a temp view named exactly like the oracle's
    * table names, so `spark.sql` text matches DuckDB-side SQL 1:1. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}

