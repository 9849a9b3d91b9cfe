package graft.scale

import org.apache.spark.sql.{Column, DataFrame, DataFrameWriter, Row}
import org.apache.spark.sql.functions._

/** Cluster-scale join/layout utilities — the techniques the 100 TB
  * deployment leans on, packaged so pipelines use them declaratively.
  *
  * - **Bucketed co-located joins**: both sides pre-hashed into the same
  *   bucket layout on the join key ⇒ the join runs with NO shuffle at all
  *   (verified by ScaleSpec: zero Exchange in the physical plan). This is
  *   the Spark-native answer to repeated large-fact joins.
  * - **Salted joins**: a skewed hot key would send one reducer 1000× the
  *   work; salting splits each key into `saltBuckets` sub-keys (left side
  *   gets a deterministic salt, the smaller right side is replicated per
  *   salt) so the shuffle spreads evenly. AQE's skew-join handles moderate
  *   skew automatically; salting is for the pathological tail.
  */
object Scale {

  /** Write a table bucketed+sorted on the join key (one-time layout cost;
    * every subsequent equi-join on `key` is shuffle-free). */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int): Unit =
    df.write
      .bucketBy(buckets, key)
      .sortBy(key)
      .mode("overwrite")
      .saveAsTable(table)

  /** Inner equi-join with key salting for skew. `left` is the large/skewed
    * side; `right` must be small enough to replicate `saltBuckets`×.
    * The salt is deterministic (hash of the whole left row) so retried
    * tasks produce identical partitioning. */
  def saltedJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
      saltBuckets: Int): DataFrame = {
    require(saltBuckets > 0)
    val saltedLeft = left.withColumn("__salt",
      pmod(xxhash64(left.columns.map(col).toSeq: _*), lit(saltBuckets)).cast("int"))
    val salts = array((0 until saltBuckets).map(lit): _*)
    val saltedRight = right.withColumn("__salt", explode(salts))
    saltedLeft.join(saltedRight, (keys :+ "__salt").toSeq).drop("__salt")
  }

  /** Skew-proof AS-OF join: the plain form
    * ([[graft.operators.TemporalJoins.asofJoin]]) windows on
    * `partitionBy(key)` alone, so one pathological key (a bot user with 10⁸
    * events) becomes ONE task. This variant time-slices each key's stream
    * into `segmentSeconds` segments and runs in two phases:
    *
    *  1. local as-of per (key, segment) — parallel across a hot key's
    *     segments (the window partitions by the pair);
    *  2. boundary carry-over: per (key, segment) the latest right row is
    *     summarized to ONE row; a per-key window over the tiny summary
    *     table (one row per touched segment, not per event) carries the
    *     most recent right value across segment boundaries, and left rows
    *     whose segment had no earlier right row take the carried match.
    *
    * Output is identical to the plain form (ties at equal times break
    * toward the right row, like the `(__t, __side)` ordering there; equal
    * right timestamps tie-break by the greater payload, which the plain
    * form leaves partition-order-dependent). ScaleSpec pins equality on a
    * pathologically skewed key. */
  def segmentedAsofJoin(left: DataFrame, right: DataFrame, key: String,
      leftTime: String, rightTime: String, rightPayload: String,
      segmentSeconds: Long = 3600L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(segmentSeconds > 0)
    val lTagged = left.select(col(key), col(leftTime).as("__t"), lit(1).as("__side"),
      lit(null).cast(right.schema(rightPayload).dataType).as("__payload"),
      lit(null).cast(right.schema(rightTime).dataType).as("__rt"))
    val rTagged = right.select(col(key), col(rightTime).as("__t"), lit(0).as("__side"),
      col(rightPayload).as("__payload"), col(rightTime).as("__rt"))
    val u = lTagged.unionByName(rTagged)
      .withColumn("__seg", floor(col("__t").cast("double") / segmentSeconds).cast("long"))

    // phase 1: as-of inside each (key, segment) — rights sort before lefts
    // at equal times, so ≥ stays inclusive
    val localW = Window.partitionBy(col(key), col("__seg"))
      .orderBy(col("__t"), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val localMatched = u
      .withColumn("__lm", last(col("__payload"), ignoreNulls = true).over(localW))
      .withColumn("__lmt", last(col("__rt"), ignoreNulls = true).over(localW))

    // phase 2: one summary row per (key, segment); carry = latest right
    // value from STRICTLY earlier segments (own-segment rights are local)
    val summary = u.groupBy(col(key), col("__seg"))
      .agg(max(when(col("__side") === 0,
        struct(col("__t"), col("__payload"), col("__rt")))).as("__lastr"))
    val carryW = Window.partitionBy(col(key)).orderBy(col("__seg"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val carry = summary
      .withColumn("__carry", last(col("__lastr"), ignoreNulls = true).over(carryW))
      .select(col(key), col("__seg"), col("__carry"))

    localMatched.filter(col("__side") === 1)
      .join(carry, Seq(key, "__seg"))
      .withColumn("__match", coalesce(col("__lm"), col("__carry.__payload")))
      .withColumn("__match_t", coalesce(col("__lmt"), col("__carry.__rt")))
      .select(col(key), col("__t"), col("__match"), col("__match_t"))
  }

  /** Distributed RANGE-frame window (frame = [key − width, key]): a bare
    * `Window.orderBy(key).rangeBetween(-width, 0)` funnels the ENTIRE table
    * through one task (Spark plans an unpartitioned WindowExec behind a
    * SinglePartition exchange) — the same scale-killer class as a global
    * row_number. This variant buckets rows by `floor(key / bucketSize)` and
    * runs the window partitioned BY BUCKET, with each row duplicated once
    * into the next bucket as context: because `bucketSize > width`, every
    * value in a row's frame lives either in its own bucket or the previous
    * one, so each real row sees exactly the rows of its frame — results are
    * identical to the global form at any parallelism (ScaleSpec pins
    * equality), cost is one shuffle of 2× the rows.
    *
    * `aggs` builds the frame aggregates from the prepared WindowSpec
    * (e.g. `w => Seq(count(lit(1)).over(w).as("n"))`). */
  def bandedRangeFrame(df: DataFrame, key: String, width: Long,
      aggs: org.apache.spark.sql.expressions.WindowSpec => Seq[Column],
      bucketSize: Long = 4096L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(bucketSize > width, s"bucketSize $bucketSize must exceed frame width $width")
    // exact floor division over longs (a double floor() loses precision for
    // keys beyond 2^53; subtracting the positive pmod first makes the
    // numerator exactly divisible, so integral `div` equals true floor for
    // negative keys too, and `/` — which returns DOUBLE on longs — is
    // avoided entirely)
    val g = expr(s"(`$key` - pmod(`$key`, ${bucketSize}L)) div ${bucketSize}L")
    val real = df.withColumn("__g", g).withColumn("__ctx", lit(false))
    val ctx = df.withColumn("__g", g + 1).withColumn("__ctx", lit(true))
    val w = Window.partitionBy(col("__g")).orderBy(col(key))
      .rangeBetween(-width, 0)
    real.unionByName(ctx)
      .select(col("*") +: aggs(w): _*)
      .filter(!col("__ctx"))
      .drop("__g", "__ctx")
  }

  /** Running positional window state (first_value/last_value IGNORE NULLS +
    * nth_value over the unbounded-preceding frame) partitioned by a
    * LOW-CARDINALITY key, with NO window over the full table keyed on that
    * key alone. A bare `Window.partitionBy(lowCardKey)` plans one task per
    * key value — 5 event types ⇒ 5 single-task sorts of 20% of the table
    * each at any scale (the q68 shape round-5 flagged). Instead:
    *
    *  1. rows bucket by an order-aligned coarse id (e.g. event day), and the
    *     running state is computed per (key, bucket) — parallelism grows
    *     with the data;
    *  2. per (key, bucket), ONE summary row (row count, bucket's first/last
    *     non-null) is extracted, and the tiny summary table — one row per
    *     touched bucket, never per event — carries state across buckets
    *     with a per-key window (bounded by bucket count, the same
    *     boundary-carry shape as [[segmentedAsofJoin]]);
    *  3. the global nth row sits in whichever bucket the prefix counts say;
    *     its value is recovered from the ≤ n local head rows of each bucket
    *     and joined back per key.
    *
    * `bucket` must be monotone in `ord` (rows of an earlier bucket all sort
    * before rows of a later one) and `ord` must be a total order within the
    * key. Results are identical to the single-window form at any
    * parallelism (ScaleSpec pins equality). */
  def bandedRunningPositional(df: DataFrame, partKey: String, bucket: Column,
      ord: Seq[Column], valCol: String, nthCol: String, n: Int,
      firstName: String, lastName: String, nthName: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val b = df.withColumn("__b", bucket)
    val wRn = Window.partitionBy(col(partKey), col("__b")).orderBy(ord: _*)
    val wLoc = wRn.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = b
      .withColumn("__rn", row_number().over(wRn))
      .withColumn("__locF", first(col(valCol), ignoreNulls = true).over(wLoc))
      .withColumn("__locL", last(col(valCol), ignoreNulls = true).over(wLoc))
    // one row per (key, bucket): the bucket's LAST row's running state is
    // the whole-bucket first/last non-null
    val summary = local.groupBy(col(partKey), col("__b"))
      .agg(count(lit(1)).as("__cnt"),
        max_by(col("__locF"), col("__rn")).as("__bF"),
        max_by(col("__locL"), col("__rn")).as("__bL"))
    // per-key carry over STRICTLY earlier buckets — a window keyed by the
    // low-card key, but over the summary table (O(buckets) rows)
    val wCarry = Window.partitionBy(col(partKey)).orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val carry = summary
      .withColumn("__prevCnt", coalesce(sum(col("__cnt")).over(wCarry), lit(0L)))
      .withColumn("__carryF", first(col("__bF"), ignoreNulls = true).over(wCarry))
      .withColumn("__carryL", last(col("__bL"), ignoreNulls = true).over(wCarry))
      .select(col(partKey), col("__b"), col("__prevCnt"), col("__carryF"),
        col("__carryL"))
    // global nth row per key: among the ≤ n head rows of each bucket, the
    // one whose global row number is exactly n
    val nthMap = local.filter(col("__rn") <= n)
      .select(col(partKey), col("__b"), col("__rn"), col(nthCol).as("__nthVal"))
      .join(carry.select(col(partKey), col("__b"), col("__prevCnt")),
        Seq(partKey, "__b"))
      .filter(col("__rn") + col("__prevCnt") === n)
      .select(col(partKey), col("__nthVal"))
    local.join(carry, Seq(partKey, "__b"))
      .join(nthMap, Seq(partKey), "left")
      .withColumn(firstName, coalesce(col("__carryF"), col("__locF")))
      .withColumn(lastName, coalesce(col("__locL"), col("__carryL")))
      .withColumn(nthName,
        when(col("__rn") + col("__prevCnt") >= n, col("__nthVal")))
      .drop("__b", "__rn", "__locF", "__locL", "__prevCnt", "__carryF",
        "__carryL", "__nthVal")
  }

  /** Connected components by alternating large-star / small-star rounds
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14): converges in O(log n) rounds on ANY graph, where min-label
    * propagation ([[graft.pipeline.DedupQueries.dedupClustersConverged]])
    * needs O(diameter) — a 1000-link duplicate chain costs ~10 rounds here
    * vs ~1000 there. Each round is two shuffles (neighborhood min + edge
    * re-emit); state is the edge list itself, halving toward a star per
    * component; no driver collect (the convergence probe reads one count).
    *
    *  - large-star: every node links its LARGER neighbors to the minimum
    *    of its neighborhood (keeps the graph connected, strictly reduces
    *    large-edge potential);
    *  - small-star: every node links its smaller-or-equal neighbors and
    *    itself to that minimum (flattens chains into stars).
    *
    * `edges` needs columns (src, dst); undirectedness is handled here.
    * Returns (node, component) with component = the node's minimum
    * reachable id. ScaleSpec pins equality against min-label fixpoint on
    * both a pathological chain and the real LSH candidate graph. */
  def connectedComponents(edges: DataFrame, maxRounds: Int = 50): DataFrame = {
    def symmetrize(e: DataFrame): DataFrame =
      e.select(col("src"), col("dst"))
        .unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
        .filter(col("src") =!= col("dst")).distinct()

    // one star round: link the selected side of every neighborhood to
    // min(neighborhood ∪ self); `large` selects dst > src, small the rest
    def star(e: DataFrame, large: Boolean): DataFrame = {
      val m = e.groupBy(col("src"))
        .agg(least(min(col("dst")), col("src")).as("m"))
      val joined = e.join(m, "src")
      val side =
        if (large) joined.filter(col("dst") > col("src"))
        else joined.filter(col("dst") <= col("src"))
      val linked = side.select(col("dst").as("src"), col("m").as("dst"))
      val self =
        if (large) linked
        else linked.unionByName(m.select(col("src"), col("m").as("dst")))
      // no distinct here: every star output flows into symmetrize, whose
      // trailing distinct dedupes once instead of twice per half-round
      self.filter(col("src") =!= col("dst"))
    }

    val nodes = symmetrize(edges).select(col("src").as("node")).distinct()
    // localCheckpoint, NOT persist: persist caches the data but the
    // LOGICAL PLAN still doubles every round (each round references the
    // previous twice), and by ~10 rounds plan stringification alone OOMs
    // the driver. The checkpoint truncates lineage to the materialized
    // RDD — the iterate-and-checkpoint shape iterative graph algorithms
    // need on any cluster. (Old checkpoint blocks are released by the
    // ContextCleaner once unreferenced.)
    var cur = symmetrize(edges).localCheckpoint(true)
    var converged = false
    var r = 0
    while (!converged && r < maxRounds) {
      val next = symmetrize(star(symmetrize(star(cur, large = true)), large = false))
        .localCheckpoint(true)
      // converged when the round was a no-op (same edge set); both sides
      // are distinct, so symmetric-difference emptiness == set equality,
      // probed with ONE action
      converged = next.exceptAll(cur)
        .unionByName(cur.exceptAll(next)).isEmpty
      cur = next
      r += 1
    }
    // a non-fixpoint edge set yields plausible-looking but WRONG labels
    // (components are not yet stars) — fail loudly instead
    require(converged,
      s"connectedComponents did not converge within $maxRounds rounds " +
        "(the alternating-star algorithm needs O(log n); raise maxRounds)")
    // at the fixpoint every component is a star around its minimum: each
    // node's component is min(neighbors ∪ self); isolated inputs keep
    // their own id (they never appear — callers join on the result)
    val labels = cur.groupBy(col("src").as("node"))
      .agg(least(min(col("dst")), col("src")).as("component"))
    nodes.join(labels, Seq("node"), "left_outer")
      .select(col("node"), coalesce(col("component"), col("node")).as("component"))
  }

  /** Top skewed keys of a column — the observability half of skew handling
    * (decide salting factors from real key histograms, not guesses). */
  def keySkew(df: DataFrame, key: String, topN: Int = 20): DataFrame =
    df.groupBy(col(key))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col(key))
      .limit(topN)

  /** Ungrouped (whole-table) exact quantiles — the worst case for
    * `percentile`'s map buffer, since the single group's value→count map
    * IS the table's distinct set on one executor. Delegates to the plain
    * `percentile` aggregate and lets
    * [[graft.functions.ExactQuantileRule]] rewrite it to the
    * range-partition + prefix-offset plan (no data-sized buffer, no
    * data-sized SinglePartition — the constant-key-window form this method
    * used before single-tasked the whole distinct histogram) in a session
    * built with [[graft.GraftExtensions]]. When the rule bails (exchange
    * reuse disabled), the builtin buffer is the documented fallback. */
  def exactQuantile(df: DataFrame, valueCol: String,
      qs: Seq[(Double, String)]): DataFrame = {
    require(qs.nonEmpty && qs.forall { case (q, _) => q >= 0.0 && q <= 1.0 })
    val aggs = qs.map { case (q, name) =>
      percentile(col(valueCol).cast("double"), lit(q)).as(name)
    }
    df.agg(aggs.head, aggs.tail: _*)
  }
}
