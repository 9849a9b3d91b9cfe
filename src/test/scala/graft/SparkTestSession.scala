package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (creating a SparkContext per
  * suite would dominate test wall-clock), built with the engine's session
  * defaults, so tests run with the generated-class cache the engine runs
  * with. */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = graft.session.SessionDefaults.builder("local[8]", 8)
      .appName("graft-tests")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sfDir = "/root/testdata/sf0.001"
}
