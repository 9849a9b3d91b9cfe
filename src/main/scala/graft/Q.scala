package graft

import graft.session.{Connection, Engine, EngineConfig}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One query in the engine's declared surface: the Spark plan plus the
  * equivalent DuckDB oracle SQL the driver cross-checks it against. */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: String)

object Q {

  /** A text row: its DuckDB text runs through an engine [[Connection]] — the
    * statement path every user query takes — and DuckDB runs the identical
    * text as the oracle. The engine's own path is the unit under oracle, not
    * a hand-expanded equivalent. */
  def text(name: String, sql: String): Q = Q(name, engineSql(sql), sql)

  /** Plans `sql` on the engine's statement path over the tables of `dir`. */
  def engineSql(sql: String)(spark: SparkSession, dir: String): DataFrame =
    connection(spark, dir).queryDF(sql)

  private final class Registered(val conn: Connection) {
    var dir: String = null
  }

  /** One engine connection per caller session, on a child session of it:
    * the engine's session set-up (current database `main`, the ordinal and
    * `sizeOfNull` confs) stays off the caller's other rows. The child takes
    * its confs from the SparkContext, not from runtime `conf.set` calls on
    * the caller's session. */
  private val connections = new java.util.WeakHashMap[SparkSession, Registered]()

  /** The caller session's engine connection with the tables of `dir`
    * registered as views; they are registered again only when `dir` differs
    * from the last directory registered on that connection. */
  def connection(spark: SparkSession, dir: String): Connection = {
    val r = connections.synchronized {
      connections.computeIfAbsent(spark, s =>
        new Registered(new Engine(EngineConfig(existingSession = Some(s.newSession()))).connect()))
    }
    r.synchronized {
      if (r.dir != dir) {
        Tables.registerAll(r.conn.engine.spark, dir)
        r.dir = dir
      }
    }
    r.conn
  }
}
