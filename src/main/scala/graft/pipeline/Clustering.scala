package graft.pipeline

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic k-means over int8-QUANTIZED embeddings — the clustering
  * primitive behind semantic dedup and diversity-balanced sampling in a
  * training-data pipeline.
  *
  * Floating-point k-means cannot be oracled bit-exactly (parallel double
  * summation has no fixed order), so the kernel runs entirely in INTEGER
  * arithmetic: vectors quantize to BIGINT (p34's floor-plus-half), L2
  * distances are exact integer sums, and the centroid update is an
  * integer truncated mean (`div` toward zero in both engines). Two Lloyd
  * iterations from a hash-priority seeded init ([[seedInit]]).
  *
  * Scale shape: assignment is a broadcast nested loop (k codegen'd integer
  * distance folds per row, map-side — the corpus never shuffles for it);
  * the update aggregates (cell, pos) partial sums map-side, so one shuffle
  * carries k × dim scalar rows per iteration, not the corpus. The argmin
  * window partitions by vec_id. At 100 TB, k and dim are constants —
  * per-iteration cost is one scan + one k×dim-sized shuffle.
  */
object Clustering {

  private[pipeline] val K = 8
  private[pipeline] val Dim = 64

  /** Ceiling on the centroid-table size [[assign]] will materialize to the
    * driver (2^17 cells × 64 dims × 8 B ≈ 67 MB — comfortably inside any
    * driver, and the per-row k×dim argmin loop stays ~10^7 integer ops).
    * The k = ⌈√n⌉ consumers (SemDeDup) cross this at n ≈ 1.7×10^10
    * vectors; beyond it [[assign]] switches to the TWO-LEVEL
    * coarse-then-fine assignment (round 14 — previously a loud error):
    * k' = ⌈√k⌉ coarse representatives are hash-priority-sampled from the
    * fine centroids and broadcast; each fine centroid and each vector
    * takes its nearest coarse cell via the same fused kernel; the fine
    * argmin then runs within the vector's coarse group through a
    * coarse-keyed join (AQE picks broadcast vs shuffle by the group
    * table's size) + a map-side-combining min(struct) — n·√k̄ distance
    * rows instead of n·k, nothing driver-sized. NOTE the two-level path
    * is IVF-approximate: a vector whose true nearest fine centroid lives
    * in a different coarse group gets its within-group minimum instead —
    * the standard IVF trade, acceptable for the clustering consumers
    * (SemDeDup cells are themselves a heuristic partition). The spec pins
    * exactness on well-separated synthetic clusters, where the two paths
    * agree bit-for-bit. Override the ceiling for tests via
    * `spark.graft.clustering.maxCells`. */
  private[graft] val MaxCells: Int = 1 << 17

  private[graft] def maxCells(s: SparkSession): Int =
    s.conf.get("spark.graft.clustering.maxCells", MaxCells.toString).toInt

  /** (vec_id, q: array<bigint>) — shared quantization stage, pinned and
    * memoized per dir ([[Pins.shared]]): both Lloyd iterations re-read it
    * within a query, and the embedding-family queries (p38/p49/p53/…)
    * rebuild the identical stage across a harness run — same pattern as
    * the LSH signature stage. */
  private[graft] def quantized(s: SparkSession, dir: String): DataFrame =
    Pins.shared(s, dir, "quantized-embeddings") {
      Tables.load(s, dir, "embeddings")
        .withColumn("v", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
        .withColumn("amax", expr("array_max(transform(v, x -> abs(x)))"))
        .withColumn("scale",
          when(col("amax") > 0, lit(127.0) / col("amax")).otherwise(lit(1.0)))
        .select(col("vec_id"),
          expr("transform(v, x -> CAST(floor(x * scale + 0.5D) AS BIGINT))").as("q"))
    }

  /** Nearest centroid per vector (exact integer L2, ties → smallest cell),
    * via the fused [[graft.functions.NearestCell]] codegen kernel: the
    * centroid table — broadcast-sized by the k-means contract, exactly
    * what a BroadcastHashJoin would ship — is materialized once and the
    * k×dim argmin loop runs inside whole-stage codegen over the vector
    * scan. One row per VECTOR ever exists.
    *
    * The previous crossJoin+argmin-aggregate shape materialized n·k join
    * rows each copying both array payloads (~1 KB/row): 83 s per
    * assignment round at sf10 with k=781 (and 170 s more when the q array
    * rode the aggregation buffer and kicked the aggregate off codegen
    * HashAggregate) vs ~2 s fused. MLlib's KMeans collects centroids per
    * Lloyd round for the same reason. */
  private[graft] def assign(q: DataFrame, cents: DataFrame): DataFrame = {
    // limit(ceiling + 1): if the collected set fits the ceiling, the
    // limit was a no-op and the table is COMPLETE; if not, the collect
    // was bounded — fall through to the two-level path before any
    // driver pressure builds
    val ceiling = maxCells(q.sparkSession)
    val rows = cents.select(col("cell").cast("long").as("cell"), col("c"))
      .limit(ceiling + 1).collect()
    if (rows.length <= ceiling) {
      val nc = graft.functions.nearest_cell(col("q"),
        rows.map(_.getLong(0)).toSeq,
        rows.map(_.getSeq[Long](1)).toSeq)
      q.withColumn("m", nc)
        .select(col("vec_id"), col("q"), col("m.cell").as("cell"), col("m.dist").as("dist"))
    } else twoLevelAssign(q, cents, ceiling)
  }

  /** Hash-priority coarse representatives drawn FROM the fine centroids —
    * the same fixed-seed sampling math as [[seedInit]], keyed by cell. */
  private[graft] def coarseReps(cents: DataFrame, kc: Int): DataFrame = {
    val P = PortableHash.P
    val pri = pmod(lit(SeedA) * pmod(col("cell").cast("long"), lit(P)) + lit(SeedB), lit(P))
    val w = Window.orderBy(col("pri"), col("cell"))
    cents.select(col("cell").cast("long").as("cell"), col("c"))
      .withColumn("pri", pri)
      .orderBy(col("pri"), col("cell")).limit(kc)
      .select((row_number().over(w) - 1).cast("long").as("coarse"),
        col("c").as("cc"))
  }

  /** The over-ceiling assignment (see [[MaxCells]]): coarse k' = ⌈√k⌉
    * representatives broadcast through the fused kernel, fine argmin
    * within the coarse group via a coarse-keyed join + one map-side-
    * combining min(struct). Same output contract as [[assign]]. */
  private[graft] def twoLevelAssign(q: DataFrame, cents: DataFrame,
      ceiling: Int): DataFrame = {
    val k = cents.count()
    val kc = math.ceil(math.sqrt(k.toDouble)).toInt
    require(kc <= ceiling,
      s"two-level k-means: even the coarse level (k' = $kc of k = $k) " +
        s"exceeds the ceiling $ceiling — raise " +
        "spark.graft.clustering.maxCells or use a smaller k")
    val reps = coarseReps(cents, kc).collect()
    val repIds = reps.map(_.getLong(0)).toSeq
    val repVecs = reps.map(_.getSeq[Long](1)).toSeq
    // each FINE centroid joins its nearest coarse group (k rows, one
    // fused-kernel pass over the centroid table — never the corpus)
    val grouped = cents
      .select(col("cell").cast("long").as("fine_cell"), col("c"))
      .withColumn("m", graft.functions.nearest_cell(col("c"), repIds, repVecs))
      .select(col("m.cell").as("coarse"), col("fine_cell"), col("c"))
    // each VECTOR takes its coarse cell map-side
    val vCoarse = q
      .withColumn("m", graft.functions.nearest_cell(col("q"), repIds, repVecs))
      .select(col("vec_id"), col("q"), col("m.cell").as("coarse"))
    // fine argmin within the group: n·(k/k') distance rows, collapsed by a
    // map-side-combining min over (dist, cell) — ties break to the
    // smallest cell exactly like the fused kernel
    val dist = expr(
      "aggregate(zip_with(q, c, (a, b) -> (a - b) * (a - b)), " +
        "CAST(0 AS BIGINT), (acc, x) -> acc + x)")
    vCoarse.join(grouped, "coarse")
      .select(col("vec_id"), col("q"), col("fine_cell"), dist.as("dist"))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("dist"), col("fine_cell"), col("q"))).as("m"))
      .select(col("vec_id"), col("m.q").as("q"),
        col("m.fine_cell").as("cell"), col("m.dist").as("dist"))
  }

  /** Integer truncated-mean centroid update: (cell, pos) partial sums →
    * `sx div n` (toward zero, like Java) → re-assembled in pos order. */
  private[graft] def update(assigned: DataFrame): DataFrame =
    assigned
      .select(col("cell"), posexplode(col("q")).as(Seq("pos", "x")))
      .groupBy(col("cell"), col("pos"))
      .agg(sum(col("x")).as("sx"), count(lit(1)).as("n"))
      .withColumn("cx", expr("sx div n"))
      .groupBy(col("cell"))
      .agg(expr("transform(array_sort(collect_list(struct(pos, cx))), s -> s.cx)").as("c"))

  /** Hash-priority seeding (round 10, replacing first-k): the k seeds are
    * the vectors with the SMALLEST deterministic priority
    * pri = (A·(vec_id mod P) + B) mod P — a fixed-seed uniform sample of
    * the corpus in the spirit of k-means‖ oversampling (Bahmani et al.
    * 2012: seeds drawn ∝ uniform from the data beat any
    * first-rows-of-the-scan init). First-k seeds are whatever rows sort
    * first — on real data adjacent rows share a shard/domain, so seeds
    * were CORRELATED and cell sizes skewed; a uniform hash sample spreads
    * them. Shapes: one TakeOrderedAndProject (per-partition partial top-k,
    * k-row merge — no global window, no corpus shuffle), then cell labels
    * = 0-based rank in (pri, vec_id) order via a window over the k-row
    * result. vec_id is reduced mod P before the multiply so the product
    * stays < 2^62 at any id scale; identical integer arithmetic on the
    * DuckDB side keeps the oracle bit-exact at every SF.
    *
    * A must be of order P: with a small multiplier, A·id never wraps P
    * over a contiguous id range shorter than P/A and the "sample" is
    * monotone in id — first-k in disguise (ClusteringSeedSpec pins the
    * non-degeneracy). A·id mod P with A ≈ 1.1e9 wraps every ~2 ids. */
  private[graft] val SeedA = 1103515245L
  private[graft] val SeedB = 15485863L

  private[graft] def seedInit(q: DataFrame, k: Int): DataFrame = {
    val P = PortableHash.P
    val pri = pmod(lit(SeedA) * pmod(col("vec_id"), lit(P)) + lit(SeedB), lit(P))
    val w = Window.orderBy(col("pri"), col("vec_id"))
    q.select(col("vec_id"), col("q")).withColumn("pri", pri)
      .orderBy(col("pri"), col("vec_id")).limit(k)
      .select((row_number().over(w) - 1).cast("long").as("cell"), col("q").as("c"))
  }

  /** The c0 seeding CTE body, shared by [[duckKmeansCtes]]. */
  private[pipeline] def duckSeedSql(kSql: String): String =
    s"""c0 AS (SELECT CAST(rk - 1 AS BIGINT) AS cell, q AS c FROM (
       |  SELECT q, row_number() OVER (
       |    ORDER BY ($SeedA * (vec_id % ${PortableHash.P}) + $SeedB)
       |      % ${PortableHash.P}, vec_id) AS rk
       |  FROM qv) t WHERE rk <= ($kSql))""".stripMargin

  private def kmeans(s: SparkSession, dir: String): DataFrame = {
    val q = quantized(s, dir)
    val cents0 = seedInit(q, K)
    val a1 = assign(q, cents0)
    val cents1 = update(a1)
    val a2 = assign(q, cents1)
    a2.groupBy(col("cell"))
      .agg(count(lit(1)).as("n_members"), sum(col("dist")).as("inertia"))
      .join(cents1.select(col("cell"),
        expr("aggregate(c, CAST(0 AS BIGINT), (a, x) -> a + x)").as("centroid_sum")), "cell")
      .select(col("cell"), col("n_members"), col("inertia"), col("centroid_sum"))
      .orderBy(col("cell"))
  }

  // DuckDB mirror: identical integer kernel. `sx div n` (trunc toward
  // zero) is spelled with the sign-split `//` (floor) so no float
  // division enters the chain; list indexing is 1-based so positions
  // shift by one against Spark's 0-based posexplode — only pos ORDER
  // matters, and both sort ascending. The CTE prefix (through the final
  // assignment a2) is shared with SemanticOps' p49 oracle.
  /** `kSql` is spliced into the initial-centroid filter — an Int literal
    * for the fixed-k consumers, or a scalar subquery (p49's corpus-scaled
    * cell count) since `qv` is already in scope when `c0` is defined. */
  private[pipeline] def duckKmeansCtes(kSql: String = K.toString): String =
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |m AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS amax FROM e),
       |sc AS (SELECT vec_id, v,
       |         CASE WHEN amax > 0 THEN CAST(127 AS DOUBLE) / amax
       |              ELSE CAST(1 AS DOUBLE) END AS scale FROM m),
       |qv AS (SELECT vec_id,
       |         list_transform(v, x -> CAST(floor(x * scale + 0.5) AS BIGINT)) AS q
       |       FROM sc),
       |${duckSeedSql(kSql)},
       |d1 AS (
       |  SELECT qv.vec_id, qv.q, c0.cell,
       |    CAST(list_sum(list_transform(range(1, ${Dim + 1}),
       |      i -> (qv.q[i] - c0.c[i]) * (qv.q[i] - c0.c[i]))) AS BIGINT) AS dist
       |  FROM qv, c0),
       |a1 AS (
       |  SELECT vec_id, q, cell, dist FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id
       |                                 ORDER BY dist, cell) AS rk FROM d1) t
       |  WHERE rk = 1),
       |u0 AS (SELECT cell, unnest(range(1, ${Dim + 1})) AS pos, q FROM a1),
       |u1 AS (SELECT cell, pos, q[pos] AS x FROM u0),
       |u2 AS (SELECT cell, pos, CAST(sum(x) AS BIGINT) AS sx, count(*) AS n
       |       FROM u1 GROUP BY 1, 2),
       |u3 AS (SELECT cell, pos,
       |         CASE WHEN sx >= 0 THEN sx // n ELSE -((-sx) // n) END AS cx
       |       FROM u2),
       |c1 AS (SELECT cell, list(cx ORDER BY pos) AS c FROM u3 GROUP BY cell),
       |d2 AS (
       |  SELECT qv.vec_id, c1.cell,
       |    CAST(list_sum(list_transform(range(1, ${Dim + 1}),
       |      i -> (qv.q[i] - c1.c[i]) * (qv.q[i] - c1.c[i]))) AS BIGINT) AS dist
       |  FROM qv, c1),
       |a2 AS (
       |  SELECT vec_id, cell, dist FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id
       |                                 ORDER BY dist, cell) AS rk FROM d2) t
       |  WHERE rk = 1)""".stripMargin

  private val kmeansSql =
    s"""WITH ${duckKmeansCtes()}
       |SELECT a2.cell,
       |  count(*) AS n_members,
       |  CAST(sum(a2.dist) AS BIGINT) AS inertia,
       |  CAST(list_sum(list_prepend(CAST(0 AS BIGINT), any_value(c1.c))) AS BIGINT)
       |    AS centroid_sum
       |FROM a2 JOIN c1 ON a2.cell = c1.cell
       |GROUP BY a2.cell
       |ORDER BY a2.cell""".stripMargin

  val all: Seq[Q] = Seq(
    Q("p38_kmeans_quantized", kmeans, kmeansSql))
}
