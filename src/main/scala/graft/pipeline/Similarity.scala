package graft.pipeline

import graft.{Q, Tables}
import graft.functions.{vec_cosine, vec_dot, vec_norm}
import graft.pipeline.{PortableHash => PH}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (vec_id, embedding: Array[Float] dim=64, label).
  *
  * Two paths, per the north-star spec:
  *  - brute-force cosine top-k — the correctness baseline. Queries are a
  *    small set → `broadcast()` them against the corpus: a map-side nested
  *    loop that scales linearly in corpus size with zero shuffle (the top-k
  *    per query is a partial-aggregated window).
  *  - LSH-bucketed (random hyperplane signatures) — the 100 TB path: corpus
  *    is bucketed once (narrow), candidates come from a bucket equi-join.
  *
  * The kernels (dot / norm / cosine) are native codegen'd Catalyst
  * expressions over the raw float arrays (graft.functions.VectorExpressions)
  * — no per-row intermediate arrays, no UDFs, float→double widening inside
  * the generated loop. Hyperplanes are fixed-seed compile-time constants
  * shared with the generated DuckDB oracles ([[PortableHash.planes]]), so
  * the oracle reproduces every bucket and cosine bit for bit.
  */
object Similarity {

  /** Sign-bit LSH bucket from fixed hyperplanes. */
  private[pipeline] def withLshBucket(emb: DataFrame, ps: Seq[Array[Double]]): DataFrame = {
    val bucket = ps.zipWithIndex.map { case (p, i) =>
      val planeCol = array(p.map(lit).toSeq: _*)
      when(vec_dot(col("embedding"), planeCol) >= 0, 1 << i).otherwise(0)
    }.reduce(_ + _)
    emb.withColumn("bucket", bucket)
  }

  /** Attach the L2 norm of the raw float vector. */
  private[pipeline] def withNorm(emb: DataFrame): DataFrame =
    emb.withColumn("norm", vec_norm(col("embedding")))

  private def corpus(s: SparkSession, dir: String): DataFrame =
    withNorm(Tables.load(s, dir, "embeddings"))

  /** Brute-force cosine top-5 for query vectors (vec_id < 5). */
  private def annBrute(s: SparkSession, dir: String): DataFrame = {
    val c = corpus(s, dir)
    val queries = c.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("vec_id"))
    c.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .withColumn("cosine", vec_cosine(col("embedding"), col("qv")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("query_id"), col("rk"), col("vec_id").as("neighbor_id"), col("label"))
      .orderBy(col("query_id"), col("rk"))
  }

  private val annBruteSql =
    s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
       |scored AS (
       |  SELECT q.query_id, e.vec_id, e.label,
       |         ${PH.duckCosine("e.v", "q.qv")} AS cosine
       |  FROM e, q WHERE e.vec_id <> q.query_id),
       |ranked AS (
       |  SELECT query_id, vec_id, label,
       |         CAST(row_number() OVER (PARTITION BY query_id
       |                                 ORDER BY cosine DESC, vec_id) AS INTEGER) AS rk
       |  FROM scored)
       |SELECT query_id, rk, vec_id AS neighbor_id, label
       |FROM ranked WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin

  /** LSH-bucketed ANN: same queries, candidates restricted to the query's
    * bucket — the sublinear scale path (bucket equi-join instead of scan). */
  private def annLsh(s: SparkSession, dir: String): DataFrame = {
    val bucketed = withLshBucket(corpus(s, dir), PH.planes(8, 64, seed = 7))
    val queries = bucketed.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("bucket").as("qbucket"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("vec_id"))
    bucketed.join(broadcast(queries),
        col("bucket") === col("qbucket") && col("vec_id") =!= col("query_id"))
      .withColumn("cosine", vec_cosine(col("embedding"), col("qv")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("query_id"), col("rk"), col("vec_id").as("neighbor_id"))
      .orderBy(col("query_id"), col("rk"))
  }

  private val annLshSql = {
    val ps = PH.planes(8, 64, seed = 7)
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |bk AS (SELECT vec_id, v, ${PH.duckLshBucket("v", ps)} AS bucket FROM e),
       |q AS (SELECT vec_id AS query_id, v AS qv, bucket AS qbucket FROM bk WHERE vec_id < 5),
       |scored AS (
       |  SELECT q.query_id, bk.vec_id,
       |         ${PH.duckCosine("bk.v", "q.qv")} AS cosine
       |  FROM bk, q WHERE bk.bucket = q.qbucket AND bk.vec_id <> q.query_id),
       |ranked AS (
       |  SELECT query_id, vec_id,
       |         CAST(row_number() OVER (PARTITION BY query_id
       |                                 ORDER BY cosine DESC, vec_id) AS INTEGER) AS rk
       |  FROM scored)
       |SELECT query_id, rk, vec_id AS neighbor_id
       |FROM ranked WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin
  }

  /** IVF-style ANN: a coarse quantizer partitions the corpus into cells;
    * queries scan ONLY their own cell (nprobe=1). The quantizer here is
    * deterministic-seeded (centroids = the first 8 vectors) so the oracle
    * reproduces the index bit for bit — at 100 TB the centroids come from
    * an offline k-means and are broadcast the same way. Assignment is a
    * broadcast nested loop (8 codegen'd cosines per row, map-side); the
    * argmax is a per-vector window (one shuffle on vec_id; with trained
    * literal centroids it would fold into the scan projection). Search is
    * a cell equi-join — the same sublinear structure as the LSH path but
    * with learned, data-adaptive cells. */
  private def annIvf(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(s, dir, "embeddings")
    val cents = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cv"))
    val wAssign = Window.partitionBy(col("vec_id")).orderBy(col("cc").desc, col("cent_id"))
    val assigned = e.crossJoin(broadcast(cents))
      .withColumn("cc", vec_cosine(col("embedding"), col("cv")))
      .withColumn("rk", row_number().over(wAssign))
      .filter(col("rk") === 1)
      .select(col("vec_id"), col("embedding"), col("cent_id").as("cell"))
    val queries = assigned.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("cell").as("qcell"))
    val wTop = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("vec_id"))
    assigned.join(broadcast(queries),
        col("cell") === col("qcell") && col("vec_id") =!= col("query_id"))
      .withColumn("cosine", vec_cosine(col("embedding"), col("qv")))
      .withColumn("rk", row_number().over(wTop))
      .filter(col("rk") <= 5)
      .select(col("query_id"), col("rk"), col("vec_id").as("neighbor_id"), col("cell"))
      .orderBy(col("query_id"), col("rk"))
  }

  private val annIvfSql =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |cents AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < 8),
       |scored AS (
       |  SELECT e.vec_id, e.v, cents.cent_id,
       |         ${PH.duckCosine("e.v", "cents.cv")} AS cc
       |  FROM e, cents),
       |assigned AS (
       |  SELECT vec_id, v, cent_id AS cell FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id
       |                                 ORDER BY cc DESC, cent_id) AS rk
       |    FROM scored) t
       |  WHERE rk = 1),
       |q AS (SELECT vec_id AS query_id, v AS qv, cell AS qcell
       |      FROM assigned WHERE vec_id < 5),
       |cand AS (
       |  SELECT q.query_id, a.vec_id, a.cell,
       |         ${PH.duckCosine("a.v", "q.qv")} AS cosine
       |  FROM assigned a, q
       |  WHERE a.cell = q.qcell AND a.vec_id <> q.query_id),
       |ranked AS (
       |  SELECT query_id, vec_id, cell,
       |         CAST(row_number() OVER (PARTITION BY query_id
       |                                 ORDER BY cosine DESC, vec_id) AS INTEGER) AS rk
       |  FROM cand)
       |SELECT query_id, rk, vec_id AS neighbor_id, cell
       |FROM ranked WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin

  /** Per-label centroid stats — grouped vector aggregation via the native
    * [[graft.functions.VecSumAgg]] aggregate: ONE shuffle carrying a single
    * 64-slot buffer per (map task × label) thanks to map-side partial
    * aggregation. (The posexplode → groupBy(label, pos) → re-assemble
    * alternative shuffles rows × dim scalar records — 10⁹ exploded rows at
    * corpus scale vs. a handful of arrays here.) */
  private def labelCentroidNorm(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")
      .groupBy(col("label"))
      .agg(graft.functions.vec_sum(col("embedding")).as("sums"),
        count(lit(1)).as("n"))
      .select(col("label"),
        expr("aggregate(sums, cast(0 as double), (acc, x) -> acc + (x / n) * (x / n))")
          .as("centroid_sqnorm"),
        size(col("sums")).cast("long").as("dim"))
      .orderBy(col("label"))

  private val labelCentroidNormSql =
    """WITH x AS (
      |  SELECT label, pos, embedding[pos + 1] AS v
      |  FROM embeddings, (SELECT unnest(range(64)) AS pos) p),
      |c AS (SELECT label, pos, avg(CAST(v AS DOUBLE)) AS cv FROM x GROUP BY 1, 2)
      |SELECT label, CAST(sum(cv * cv) AS DOUBLE) AS centroid_sqnorm, count(*) AS dim
      |FROM c GROUP BY label ORDER BY label""".stripMargin

  /** Multi-probe IVF (nprobe=2): each query searches its TWO nearest cells
    * instead of one — the standard recall knob of an IVF index. Corpus
    * vectors still live in exactly one cell, so probing two distinct cells
    * can't duplicate a candidate; the search stays a cell equi-join whose
    * cost is nprobe/ncells of a full scan. The query side fans out to one
    * row per probed cell and is broadcast — the corpus side's partitioning
    * is untouched at any scale. */
  private def annIvfProbe2(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(s, dir, "embeddings")
    val cents = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cv"))
    val wAssign = Window.partitionBy(col("vec_id")).orderBy(col("cc").desc, col("cent_id"))
    val ranked = e.crossJoin(broadcast(cents))
      .withColumn("cc", vec_cosine(col("embedding"), col("cv")))
      .withColumn("crk", row_number().over(wAssign))
    val assigned = ranked.filter(col("crk") === 1)
      .select(col("vec_id"), col("embedding"), col("cent_id").as("cell"))
    val qprobes = ranked.filter(col("vec_id") < 5 && col("crk") <= 2)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("cent_id").as("qcell"))
    val wTop = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("vec_id"))
    assigned.join(broadcast(qprobes),
        col("cell") === col("qcell") && col("vec_id") =!= col("query_id"))
      .withColumn("cosine", vec_cosine(col("embedding"), col("qv")))
      .withColumn("rk", row_number().over(wTop))
      .filter(col("rk") <= 5)
      .select(col("query_id"), col("rk"), col("vec_id").as("neighbor_id"), col("cell"))
      .orderBy(col("query_id"), col("rk"))
  }

  private val annIvfProbe2Sql =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |cents AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < 8),
       |scored AS (
       |  SELECT e.vec_id, e.v, cents.cent_id,
       |         ${PH.duckCosine("e.v", "cents.cv")} AS cc
       |  FROM e, cents),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id
       |                               ORDER BY cc DESC, cent_id) AS crk
       |  FROM scored),
       |assigned AS (
       |  SELECT vec_id, v, cent_id AS cell FROM ranked WHERE crk = 1),
       |q AS (SELECT vec_id AS query_id, v AS qv, cent_id AS qcell
       |      FROM ranked WHERE vec_id < 5 AND crk <= 2),
       |cand AS (
       |  SELECT q.query_id, a.vec_id, a.cell,
       |         ${PH.duckCosine("a.v", "q.qv")} AS cosine
       |  FROM assigned a, q
       |  WHERE a.cell = q.qcell AND a.vec_id <> q.query_id),
       |topk AS (
       |  SELECT query_id, vec_id, cell,
       |         CAST(row_number() OVER (PARTITION BY query_id
       |                                 ORDER BY cosine DESC, vec_id) AS INTEGER) AS rk
       |  FROM cand)
       |SELECT query_id, rk, vec_id AS neighbor_id, cell
       |FROM topk WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin

  /** Recall@5 evaluation of the LSH index against exact brute force — the
    * metric that decides whether an approximate index is usable (every ANN
    * deployment runs exactly this eval on a query sample before switching
    * over). Ground truth and approximate top-5 are both computed against the
    * same broadcast query sample; the comparison itself is a left join on
    * (query_id, neighbor_id) over two k-row-per-query sets — trivially tiny
    * no matter the corpus size. The corpus is scanned once per arm (exact =
    * full scan, approx = bucket equi-join) and never reshuffled; at 100 TB
    * the eval cost is the brute-force arm on the SAMPLE of queries, which is
    * the standard (and unavoidable) price of ground truth. */
  private def annRecallEval(s: SparkSession, dir: String): DataFrame = {
    val bucketed = withLshBucket(corpus(s, dir), PH.planes(8, 64, seed = 7))
    val queries = bucketed.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("bucket").as("qbucket"))
    val wTop = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("vec_id"))
    val exact = bucketed.join(broadcast(queries.drop("qbucket")),
        col("vec_id") =!= col("query_id"))
      .withColumn("cosine", vec_cosine(col("embedding"), col("qv")))
      .withColumn("rk", row_number().over(wTop))
      .filter(col("rk") <= 5)
      .select(col("query_id"), col("vec_id"))
    val approx = bucketed.join(broadcast(queries),
        col("bucket") === col("qbucket") && col("vec_id") =!= col("query_id"))
      .withColumn("cosine", vec_cosine(col("embedding"), col("qv")))
      .withColumn("rk", row_number().over(wTop))
      .filter(col("rk") <= 5)
      .select(col("query_id").as("aq"), col("vec_id").as("av"))
    exact.join(approx,
        col("query_id") === col("aq") && col("vec_id") === col("av"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_exact"), count(col("av")).as("n_hit"))
      .select(col("query_id"), col("n_exact"), col("n_hit"),
        (col("n_hit").cast("double") / col("n_exact").cast("double")).as("recall"))
      .orderBy(col("query_id"))
  }

  private val annRecallEvalSql = {
    val ps = PH.planes(8, 64, seed = 7)
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |bk AS (SELECT vec_id, v, ${PH.duckLshBucket("v", ps)} AS bucket FROM e),
       |q AS (SELECT vec_id AS query_id, v AS qv, bucket AS qbucket FROM bk WHERE vec_id < 5),
       |ex_scored AS (
       |  SELECT q.query_id, bk.vec_id,
       |         ${PH.duckCosine("bk.v", "q.qv")} AS cosine
       |  FROM bk, q WHERE bk.vec_id <> q.query_id),
       |ex AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |           row_number() OVER (PARTITION BY query_id
       |                              ORDER BY cosine DESC, vec_id) AS rk
       |    FROM ex_scored) t WHERE rk <= 5),
       |ap_scored AS (
       |  SELECT q.query_id, bk.vec_id,
       |         ${PH.duckCosine("bk.v", "q.qv")} AS cosine
       |  FROM bk, q WHERE bk.bucket = q.qbucket AND bk.vec_id <> q.query_id),
       |ap AS (
       |  SELECT query_id AS aq, vec_id AS av FROM (
       |    SELECT query_id, vec_id,
       |           row_number() OVER (PARTITION BY query_id
       |                              ORDER BY cosine DESC, vec_id) AS rk
       |    FROM ap_scored) t WHERE rk <= 5)
       |SELECT query_id, CAST(count(*) AS BIGINT) AS n_exact,
       |  CAST(count(av) AS BIGINT) AS n_hit,
       |  CAST(count(av) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS recall
       |FROM ex LEFT JOIN ap ON ex.query_id = ap.aq AND ex.vec_id = ap.av
       |GROUP BY query_id ORDER BY query_id""".stripMargin
  }

  /** Hard-negative mining for contrastive training: for each query vector,
    * the top-3 most-similar corpus vectors with a DIFFERENT label — the
    * negatives that sit closest to the decision boundary, which is exactly
    * what embedding-model training pairs want (in-batch random negatives are
    * too easy). Same broadcast-queries shape as the brute-force arm: the
    * label inequality is evaluated inside the broadcast nested loop, so the
    * corpus is scanned once with zero shuffle; the per-query top-3 is a
    * window over the query-id key (bounded by |queries| × corpus matches,
    * partially aggregated map-side). At 100 TB the mining runs per query
    * batch against an LSH/IVF-restricted candidate set — the label filter
    * composes with any of the index arms above unchanged. */
  private def hardNegatives(s: SparkSession, dir: String): DataFrame = {
    val c = corpus(s, dir)
    val queries = c.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("label").as("qlabel"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("vec_id"))
    c.join(broadcast(queries), col("label") =!= col("qlabel"))
      .withColumn("cosine", vec_cosine(col("embedding"), col("qv")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("query_id"), col("rk"), col("vec_id").as("negative_id"),
        col("label"))
      .orderBy(col("query_id"), col("rk"))
  }

  private val hardNegativesSql =
    s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |q AS (SELECT vec_id AS query_id, v AS qv, label AS qlabel FROM e WHERE vec_id < 5),
       |scored AS (
       |  SELECT q.query_id, e.vec_id, e.label,
       |         ${PH.duckCosine("e.v", "q.qv")} AS cosine
       |  FROM e, q WHERE e.label <> q.qlabel),
       |ranked AS (
       |  SELECT query_id, vec_id, label,
       |         CAST(row_number() OVER (PARTITION BY query_id
       |                                 ORDER BY cosine DESC, vec_id) AS INTEGER) AS rk
       |  FROM scored)
       |SELECT query_id, rk, vec_id AS negative_id, label
       |FROM ranked WHERE rk <= 3 ORDER BY query_id, rk""".stripMargin

  val all: Seq[Q] = Seq(
    Q("p11_ann_brute_topk", annBrute, annBruteSql),
    Q("p12_ann_lsh_topk", annLsh, annLshSql),
    Q("p13_label_centroids", labelCentroidNorm, labelCentroidNormSql),
    Q("p21_ann_ivf_topk", annIvf, annIvfSql),
    Q("p36_ann_ivf_nprobe2", annIvfProbe2, annIvfProbe2Sql),
    Q("p53_ann_recall_eval", annRecallEval, annRecallEvalSql),
    Q("p54_hard_negatives", hardNegatives, hardNegativesSql))
}
