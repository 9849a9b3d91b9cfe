package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming over the events table. The reference engine has no
  * event-time streaming surface (SURVEY §1.1 — its only "streaming" is
  * incremental result fetch), so this module is part of the north-star
  * extension set: the same engine operators, run incrementally.
  *
  * Every transform here is defined once and works on BOTH a batch DataFrame
  * and a readStream DataFrame — the Spark-native way to keep batch/streaming
  * parity testable (StreamingSpec drives the same functions through a
  * memory-sink streaming query).
  */
object EventStreaming {

  /** Event-time columns must be TIMESTAMP (LTZ) for `withWatermark` —
    * µs-precision parquet surfaces as TIMESTAMP_NTZ, which the streaming
    * engine rejects. The cast is meaning-preserving under the sessions'
    * pinned UTC, and a no-op when the column is already LTZ. */
  private def eventTime(df: DataFrame, c: String): DataFrame =
    df.withColumn(c, col(c).cast("timestamp"))

  /** Tumbling-window hourly counts per event type with a watermark for state
    * eviction (at 100 TB/day the watermark bounds state size). */
  def hourlyAgg(events: DataFrame): DataFrame =
    eventTime(events, "ts")
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(col("w.start").as("hour_start"), col("event_type"),
        col("n"), col("total_value"))

  /** Sliding-window (1h window, 15m slide) event rates. */
  def slidingRates(events: DataFrame): DataFrame =
    eventTime(events, "ts")
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("w_start"), col("w.end").as("w_end"), col("n"))

  /** Streaming exact-dedup: drop re-deliveries of the same event id, with
    * the watermark bounding dedup state to the late-arrival horizon (the
    * streaming counterpart of the p05 batch dedup — at 100 TB/day the state
    * store holds one key per event inside the watermark, not per event ever
    * seen). Works identically on a batch frame (state bound is a no-op). */
  def dedupeStream(events: DataFrame): DataFrame =
    eventTime(events, "ts")
      .withWatermark("ts", "1 hour")
      .dropDuplicates("event_id")

  // ------------------------------------------------ streaming near-dedup
  /** Streaming NEAR-duplicate dedup over documents (doc_id, text, ts) —
    * the incremental counterpart of the p06 MinHash/LSH batch dedup, using
    * the SAME signature kernel and band keys (graft.pipeline.PortableHash),
    * so batch and stream agree key-for-key.
    *
    * Two watermark-bounded stateful stages:
    *  1. per-band dedup — each (band, band_sig) bucket keeps its first
    *     arrival (`dropDuplicatesWithinWatermark`, state evicted at the
    *     late-arrival horizon);
    *  2. per-document verdict — a document survives iff ALL its bands were
    *     first-seen (an LSH candidate shares ≥1 band, so sharing any band
    *     with an earlier doc marks a near-duplicate).
    * Emits (doc_id, ts) of survivors once the watermark passes their event
    * time. State is O(buckets within the watermark), never O(corpus) — the
    * property that matters at 100 TB/day. */
  def nearDedupeStream(docs: DataFrame): DataFrame = {
    val bands = docBandRows(eventTime(docs, "ts").withWatermark("ts", "1 hour"))
    bands
      .dropDuplicatesWithinWatermark("band", "band_sig")
      .groupBy(col("doc_id"), col("ts"))
      .agg(count(lit(1)).as("fresh_bands"))
      .filter(col("fresh_bands") === graft.pipeline.PortableHash.Bands)
      .select(col("doc_id"), col("ts"))
  }

  /** Batch oracle for [[nearDedupeStream]]: a document survives iff it is
    * the (ts, doc_id)-first in EVERY one of its LSH buckets. Matches the
    * stream when arrival order follows event time (buckets keep their
    * first arrival in both worlds, and a dropped document's fresh buckets
    * still block later documents — same as stream state). */
  def nearDedupeBatch(docs: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band"), col("band_sig")).orderBy(col("ts"), col("doc_id"))
    docBandRows(eventTime(docs, "ts"))
      .withColumn("rk", row_number().over(w))
      .groupBy(col("doc_id"), col("ts"))
      .agg(sum(when(col("rk") === 1, 1L).otherwise(0L)).as("fresh_bands"))
      .filter(col("fresh_bands") === graft.pipeline.PortableHash.Bands)
      .select(col("doc_id"), col("ts"))
  }

  /** (doc_id, ts, band, band_sig) LSH band rows via the shared MinHash
    * kernel — batch/stream-agnostic (all narrow, codegen'd work). */
  private def docBandRows(docs: DataFrame): DataFrame = {
    val PH = graft.pipeline.PortableHash
    val sig = graft.pipeline.DedupQueries.shingleHashes(docs)
      .withColumn("sig", graft.functions.minhash_sig(
        col("sh"), PH.perms.map(_._1), PH.perms.map(_._2), PH.P))
    val bandStructs = (0 until PH.Bands).map { bnd =>
      struct(lit(bnd).as("band"), expr(PH.sparkBandSig("sig", bnd)).as("band_sig"))
    }
    sig.select(col("doc_id"), col("ts"), explode(array(bandStructs: _*)).as("b"))
      .select(col("doc_id"), col("ts"),
        col("b.band").as("band"), col("b.band_sig").as("band_sig"))
  }

  // ---------------------------------------------- stream-stream interval join
  /** Watermarked stream-stream interval join (click→purchase attribution):
    * every purchase pairs with the same user's clicks from the preceding
    * 30 minutes. One definition serves batch AND stream — as a streaming
    * query, Spark derives the state bound from the watermarks plus the
    * interval condition (clicks are droppable once the purchase-side
    * watermark passes c_ts + 30 min), so join state is O(events within the
    * horizon), never O(stream) — the property that matters at 100 TB/day.
    * In batch the same plan is one shuffle on user_id with the range
    * predicate evaluated post-join. */
  val AttributionWindowMin = 30

  def attributionJoin(purchases: DataFrame, clicks: DataFrame): DataFrame = {
    val p = eventTime(purchases, "ts").filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val c = eventTime(clicks, "ts").filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    p.join(c,
        col("user_id") === col("c_user") &&
          col("c_ts") >= col("p_ts") - expr(s"INTERVAL $AttributionWindowMin MINUTES") &&
          col("c_ts") <= col("p_ts"))
      .select(col("purchase_id"), col("click_id"), col("user_id"),
        (unix_timestamp(col("p_ts")) - unix_timestamp(col("c_ts"))).as("lag_s"))
  }

  // ------------------------------------------ stream-static decontamination
  /** Stream-static decontamination: the streaming corpus left-anti joined
    * against a STATIC blocklist of content fingerprints (held-out eval-set
    * hashes, the p04 polynomial kernel) — the filter an ingest pipeline
    * runs continuously. Stream-static anti joins carry ZERO streaming
    * state (no watermark required; the static side is just a lookup that
    * Spark broadcasts when it fits), so throughput is the map-side hash
    * probe — the right shape at 100 TB/day. One definition serves batch
    * and stream (StreamingSpec pins equality). */
  def decontaminateStream(docs: DataFrame, blocklist: DataFrame): DataFrame =
    docs
      .withColumn("content_poly",
        expr(graft.pipeline.PortableHash.sparkCharHash("text")))
      .join(blocklist, Seq("content_poly"), "left_anti")

  // ------------------------------------------------- stateful sessionization
  final case class Event(user_id: Long, event_id: Long, ts: java.sql.Timestamp,
      event_type: String, value: Double)
  final case class SessionState(sessionId: Long, lastTs: Long)
  final case class SessionizedEvent(user_id: Long, event_id: Long,
      session_id: Long)

  val SessionGapMs: Long = 30 * 60 * 1000L

  /** Per-user session assignment via mapGroupsWithState-style custom state:
    * a new session starts after a >30 min gap. Streaming-native stateful
    * processing (KeyValueGroupedDataset.flatMapGroupsWithState). */
  def sessionize(events: Dataset[Event]): Dataset[SessionizedEvent] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.NoTimeout)(assignSessions)
  }

  private def assignSessions(userId: Long, events: Iterator[Event],
      state: GroupState[SessionState]): Iterator[SessionizedEvent] = {
    var st = state.getOption.getOrElse(SessionState(0L, Long.MinValue))
    val out = events.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).map { e =>
      val t = e.ts.getTime
      if (st.lastTs != Long.MinValue && t - st.lastTs > SessionGapMs)
        st = SessionState(st.sessionId + 1, t)
      else st = st.copy(lastTs = t)
      SessionizedEvent(e.user_id, e.event_id, st.sessionId)
    }
    state.update(st)
    out.iterator
  }

  /** Batch-equivalent sessionization (gap → cumulative sum over a window) —
    * the oracle-checkable form of the same semantics. */
  def sessionizeBatch(events: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    events
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("new_session",
        when(col("prev_ts").isNull, 0)
          .when(unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) > SessionGapMs / 1000,
            1).otherwise(0))
      .withColumn("session_id",
        sum(col("new_session")).over(
          w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0))
          .cast("long"))
      .select(col("user_id"), col("event_id"), col("session_id"))
  }
}

/** Batch-contract entries for the driver's correctness gate. */
object StreamingQueries {
  import graft.{Q, Tables}

  private def sessionizeQ(s: SparkSession, dir: String): DataFrame =
    EventStreaming.sessionizeBatch(Tables.load(s, dir, "events"))
      .orderBy(col("user_id"), col("event_id"))

  private val sessionizeSql =
    """SELECT user_id, event_id, session_id
      |FROM (SELECT user_id, event_id,
      |        CAST(sum(CASE WHEN prev_ts IS NULL THEN 0
      |                      WHEN floor(epoch(ts)) - floor(epoch(prev_ts)) > 1800 THEN 1
      |                      ELSE 0 END)
      |          OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |          AS session_id
      |      FROM (SELECT user_id, event_id, ts,
      |              lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      |            FROM events) g) t
      |ORDER BY user_id, event_id""".stripMargin

  private def hourlyAggQ(s: SparkSession, dir: String): DataFrame =
    EventStreaming.hourlyAgg(Tables.load(s, dir, "events"))
      .select(date_format(col("hour_start"), "yyyy-MM-dd HH:mm").as("hour_start"),
        col("event_type"), col("n"), col("total_value"))
      .orderBy(col("hour_start"), col("event_type"))

  private val hourlyAggSql =
    """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS hour_start,
      | event_type, count(*) AS n, sum(value) AS total_value
      |FROM events GROUP BY 1, 2 ORDER BY hour_start, event_type""".stripMargin

  private def attributionQ(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
    EventStreaming.attributionJoin(ev, ev)
      .orderBy(col("purchase_id"), col("click_id"))
  }

  private val attributionSql =
    """SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id,
      |  CAST(floor(epoch(p.ts)) - floor(epoch(c.ts)) AS BIGINT) AS lag_s
      |FROM events p JOIN events c
      |  ON p.user_id = c.user_id
      | AND p.event_type = 'purchase' AND c.event_type = 'click'
      | AND c.ts >= p.ts - INTERVAL 30 MINUTE AND c.ts <= p.ts
      |ORDER BY purchase_id, click_id""".stripMargin

  private def slidingQ(s: SparkSession, dir: String): DataFrame =
    EventStreaming.slidingRates(Tables.load(s, dir, "events"))
      .select(date_format(col("w_start"), "yyyy-MM-dd HH:mm").as("w_start"),
        date_format(col("w_end"), "yyyy-MM-dd HH:mm").as("w_end"), col("n"))
      .orderBy(col("w_start"))

  // Sliding windows emulated relationally: an event belongs to the 4
  // epoch-aligned 15-min-stepped hour windows covering it, so the fan-out
  // is a constant-range cross join; [start, end) boundary semantics match
  // Spark's window() exactly on the integer slot arithmetic.
  private val slidingSql =
    """WITH s AS (
      |  SELECT CAST(floor(epoch(ts) / 900) AS BIGINT) AS slot FROM events),
      |x AS (
      |  SELECT (slot - k.i) * 900 AS ws
      |  FROM s, (SELECT unnest(range(4)) AS i) k)
      |SELECT strftime(make_timestamp(ws * 1000000), '%Y-%m-%d %H:%M') AS w_start,
      |       strftime(make_timestamp((ws + 3600) * 1000000), '%Y-%m-%d %H:%M') AS w_end,
      |       count(*) AS n
      |FROM x GROUP BY ws ORDER BY 1""".stripMargin

  // Batch form of the stream-static decontamination over the corpus: the
  // blocklist is the fingerprints of the held-out slice (doc_id % 10 = 3).
  private def streamDecontamQ(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.load(s, dir, "documents")
    val bl = d.filter(pmod(col("doc_id"), lit(10)) === 3)
      .select(expr(graft.pipeline.PortableHash.sparkCharHash("text"))
        .as("content_poly"))
      .distinct()
    EventStreaming.decontaminateStream(d, bl)
      .select(col("doc_id"), col("content_poly"))
      .orderBy(col("doc_id"))
  }

  private val streamDecontamSql = {
    val h = graft.pipeline.PortableHash.duckCharHash("text")
    s"""WITH fp AS (SELECT doc_id, $h AS content_poly FROM documents),
       |bl AS (SELECT DISTINCT content_poly FROM fp WHERE doc_id % 10 = 3)
       |SELECT doc_id, content_poly FROM fp
       |WHERE content_poly NOT IN (SELECT content_poly FROM bl)
       |ORDER BY doc_id""".stripMargin
  }

  val all: Seq[Q] = Seq(
    Q("q36_sessionize_gapwindow", sessionizeQ, sessionizeSql),
    Q("q37_event_time_window", hourlyAggQ, hourlyAggSql),
    Q("q65_stream_interval_join", attributionQ, attributionSql),
    Q("q70_sliding_window", slidingQ, slidingSql),
    Q("q82_stream_static_decontam", streamDecontamQ, streamDecontamSql))
}
