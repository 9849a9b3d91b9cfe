package graft.pipeline

import graft.Q
import graft.pipeline.{PortableHash => PH}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-diagnostic and sampling operators a large-scale training-data
  * pipeline runs alongside dedup/curation: weighted sampling, candidate-
  * graph health, sketch calibration, template collapse, and sequence-
  * length/padding economics. Every query has a DuckDB oracle built from
  * the same portable arithmetic as the rest of the pipeline family.
  *
  * Scale stance (the 100 TB question, per query):
  *  - p66: priority keys are a narrow projection; the sample is a
  *    TakeOrdered top-k — no global sort, no shuffle beyond top-k merge.
  *  - p67: degrees are one hash aggregation of the banded candidate pairs
  *    (never all pairs); the histogram is a second tiny aggregation.
  *  - p68: the O(len) comparisons run on banded candidates only, so the
  *    report is near-dup-rate-sized, never corpus-sized.
  *  - p69: one hash aggregation keyed by a 128-bit digest — exact-dedup
  *    shape, uniform keys.
  *  - p70: single narrow scan + one aggregation over ~8 bucket keys
  *    (map-side partials collapse almost everything).
  */
object CorpusDiagnostics {

  private def docs(s: SparkSession, dir: String): DataFrame =
    graft.Tables.load(s, dir, "documents")

  // ------------------------------------- p66 weighted priority sampling
  /** Weighted sampling WITHOUT replacement via priority keys (Efraimidis &
    * Spirtes, "Weighted random sampling with a reservoir"): each doc gets
    * an exponential race clock key = -ln(u)/w and the k smallest keys win —
    * equivalent to sequential weighted draws, but embarrassingly parallel
    * and deterministic here because u comes from the shared affine hash of
    * doc_id (not an RNG), so both engines — and any two cluster runs —
    * select the identical sample. Weight = n_chars: longer docs
    * proportionally likelier, the usual token-budget-aware sampling. */
  private val SampleK = 100
  private val HashA = 1103515245L
  private val HashB = 12345L

  private def weightedSample(s: SparkSession, dir: String): DataFrame = {
    val u = (pmod(pmod(col("doc_id"), lit(PH.P)) * HashA + HashB, lit(PH.P)) + 1)
      .cast("double") / lit((PH.P + 1).toDouble)
    val keyed = docs(s, dir)
      .select(col("doc_id"), col("n_chars").as("w"),
        (-log(u) / col("n_chars").cast("double")).as("priority"))
      .orderBy(col("priority"), col("doc_id"))
      .limit(SampleK)
    // rank over the k-row TakeOrdered result — a constant-size frame, the
    // same bounded-global-window pattern as the other top-k reports
    keyed.withColumn("rnk",
        row_number().over(Window.orderBy(col("priority"), col("doc_id"))))
      .select(col("rnk"), col("doc_id"), col("w"), col("priority"))
  }

  private val weightedSampleSql =
    s"""WITH keyed AS (
       |  SELECT doc_id, n_chars AS w,
       |    -ln(CAST(((doc_id % ${PH.P}) * $HashA + $HashB) % ${PH.P} + 1 AS DOUBLE)
       |        / ${(PH.P + 1).toDouble})
       |      / CAST(n_chars AS DOUBLE) AS priority
       |  FROM documents)
       |SELECT CAST(row_number() OVER (ORDER BY priority, doc_id) AS INTEGER) AS rnk,
       |       doc_id, w, priority
       |FROM keyed
       |ORDER BY priority, doc_id
       |LIMIT $SampleK""".stripMargin

  // --------------------------------- p67 candidate-graph degree profile
  /** Degree histogram of the MinHash-LSH candidate graph — the health
    * metric that tells you whether banding parameters are right BEFORE
    * paying for verification: a heavy high-degree tail means bands are too
    * coarse (hub documents match everything — boilerplate or collision
    * pileup), mass at degree 0 means the corpus is clean. Degrees count
    * both directions of each (a<b) pair; docs in no pair report degree 0
    * via the left join. */
  private def dupGraphDegree(s: SparkSession, dir: String): DataFrame = {
    val cand = DedupQueries.candidatePairs(s, dir)
    val deg = cand.select(col("doc_a").as("doc_id"))
      .unionByName(cand.select(col("doc_b").as("doc_id")))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("degree"))
    docs(s, dir).select(col("doc_id"))
      .join(deg, Seq("doc_id"), "left_outer")
      .select(coalesce(col("degree"), lit(0L)).as("degree"))
      .groupBy(col("degree")).agg(count(lit(1)).as("n_docs"))
      .orderBy(col("degree"))
  }

  private val dupGraphDegreeSql =
    s"""WITH ${PH.duckLshCtes("documents")},
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id),
       |deg AS (
       |  SELECT doc_id, count(*) AS degree FROM (
       |    SELECT doc_a AS doc_id FROM cand
       |    UNION ALL SELECT doc_b FROM cand) GROUP BY doc_id)
       |SELECT coalesce(deg.degree, 0) AS degree, count(*) AS n_docs
       |FROM documents d LEFT JOIN deg USING (doc_id)
       |GROUP BY 1 ORDER BY degree""".stripMargin

  // ------------------------------------ p68 MinHash sketch calibration
  /** Sketch calibration report: per banded candidate pair, the MinHash
    * signature estimate (matching components / 32) against the EXACT
    * shingle-set Jaccard and the absolute estimation error — how you
    * validate a 32-permutation budget before trusting it at corpus scale.
    * Exact Jaccard is computed only on banded candidates (the verify-stage
    * discipline shared with p22/p65), so cost tracks the near-dup rate,
    * not the corpus. */
  private def minhashCalibration(s: SparkSession, dir: String): DataFrame = {
    val sig = DedupQueries.cachedSignatures(s, dir)
    val grams = DedupQueries.shingleHashes(docs(s, dir))
      .select(col("doc_id"), array_distinct(col("sh")).as("grams"))
    DedupQueries.candidatePairs(s, dir)
      .join(sig.select(col("doc_id").as("doc_a"), col("sig").as("sa")), "doc_a")
      .join(sig.select(col("doc_id").as("doc_b"), col("sig").as("sb")), "doc_b")
      .withColumn("est",
        expr(s"aggregate(zip_with(sa, sb, (x, y) -> IF(x = y, 1, 0)), 0, " +
          s"(acc, v) -> acc + v) / cast(${PH.MinhashPerms} as double)"))
      .join(grams.select(col("doc_id").as("doc_a"), col("grams").as("ga")), "doc_a")
      .join(grams.select(col("doc_id").as("doc_b"), col("grams").as("gb")), "doc_b")
      .withColumn("common", size(array_intersect(col("ga"), col("gb"))))
      // Jaccard of two EMPTY shingle sets (docs under 3 tokens band together
      // on the empty-set signature) is pinned to 0.0 on both engines — the
      // raw 0/0 would be NULL here but engine-dependent float semantics in
      // DuckDB, so the convention is explicit rather than inherited.
      .withColumn("exact",
        when(size(col("ga")) + size(col("gb")) - col("common") === 0, lit(0.0))
          .otherwise(col("common").cast("double")
            / (size(col("ga")) + size(col("gb")) - col("common")).cast("double")))
      .select(col("doc_a"), col("doc_b"), col("est"), col("exact"),
        abs(col("est") - col("exact")).as("abs_err"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  private val minhashCalibrationSql = {
    val matches = (1 to PH.MinhashPerms)
      .map(k => s"(CASE WHEN sa.sig[$k] = sb.sig[$k] THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""WITH ${PH.duckLshCtes("documents")},
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id),
       |est AS (
       |  SELECT c.doc_a, c.doc_b,
       |    CAST($matches AS DOUBLE) / ${PH.MinhashPerms}.0 AS est
       |  FROM cand c JOIN sig sa ON sa.doc_id = c.doc_a
       |              JOIN sig sb ON sb.doc_id = c.doc_b),
       |d AS (SELECT doc_id, list_distinct(sh) AS grams FROM sh),
       |nt AS (SELECT doc_id, len(grams) AS nt FROM d),
       |toks AS (SELECT doc_id, unnest(grams) AS tok FROM d),
       |common AS (
       |  SELECT c.doc_a, c.doc_b, count(*) AS common
       |  FROM cand c
       |  JOIN toks a ON a.doc_id = c.doc_a
       |  JOIN toks b ON b.doc_id = c.doc_b AND b.tok = a.tok
       |  GROUP BY 1, 2),
       |calib AS (
       |  -- LEFT JOIN: band-sig collisions (31-bit space) can pair docs with
       |  -- ZERO shared shingles; the inner-join form dropped them while the
       |  -- engine keeps them with exact = 0. nt comes from the per-doc table
       |  -- so the denominator survives the missing common row; an all-empty
       |  -- denominator pins to 0.0 (same convention as the engine side).
       |  SELECT e.doc_a, e.doc_b, e.est,
       |    CASE WHEN na.nt + nb.nt - coalesce(cm.common, 0) = 0 THEN 0.0
       |         ELSE CAST(coalesce(cm.common, 0) AS DOUBLE)
       |           / CAST(na.nt + nb.nt - coalesce(cm.common, 0) AS DOUBLE) END AS exact
       |  FROM est e
       |  LEFT JOIN common cm ON cm.doc_a = e.doc_a AND cm.doc_b = e.doc_b
       |  JOIN nt na ON na.doc_id = e.doc_a
       |  JOIN nt nb ON nb.doc_id = e.doc_b)
       |SELECT doc_a, doc_b, est, exact, abs(est - exact) AS abs_err
       |FROM calib ORDER BY doc_a, doc_b""".stripMargin
  }

  // ------------------------------------------- p69 template collapse
  /** Template-level dedup: collapse documents sharing a normalized HEADER
    * — lowercase, drop the closed-class fillers, keep the first 8 content
    * tokens. Catches boilerplate families (same generated preamble,
    * varying tail) that exact MD5 dedup (p05) misses entirely and that
    * near-dup banding only pairs up when the tail stays similar too. The
    * digest-keyed aggregation is the same uniform-key hash-groupBy shape
    * as p05; normalization is a narrow scan-side split/filter/slice. */
  private def templateDedup(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .withColumn("toks", expr(
        "filter(split(trim(lower(text)), '\\\\s+'), t -> t NOT IN ('a', 'the'))"))
      .withColumn("tpl", concat_ws(" ", slice(col("toks"), 1, 8)))
      .groupBy(md5(col("tpl")).as("template_md5"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("keep_id"),
        countDistinct(col("text")).as("n_raw_variants"))
      .filter(col("n_docs") > 1)
      .orderBy(col("keep_id"))

  private val templateDedupSql =
    """SELECT md5(tpl) AS template_md5, count(*) AS n_docs,
      |  min(doc_id) AS keep_id, count(DISTINCT text) AS n_raw_variants
      |FROM (
      |  SELECT doc_id, text, array_to_string(
      |    list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
      |                t -> t NOT IN ('a', 'the'))[1:8], ' ') AS tpl
      |  FROM documents)
      |GROUP BY 1 HAVING count(*) > 1
      |ORDER BY keep_id""".stripMargin

  // ------------------------------- p70 sequence-length / padding waste
  /** Sequence-length economics: bucket docs by token count into the
    * power-of-two ladder a fixed-shape training batcher pads to, and
    * report the padding waste per bucket — the number that decides whether
    * you pack sequences (p33) or pad. The ladder is a closed CASE (no
    * float log2), so both engines bucket identically. It runs to the
    * documented max sequence length (65536); longer docs are TRUNCATED to
    * the cap before counting — what a fixed-shape batcher actually does —
    * so `real_tokens <= padded_tokens` holds for every input, not just
    * corpora that happen to stay under the top rung. */
  private[graft] val MaxSeqLen = 65536L

  private def seqlenHistogram(s: SparkSession, dir: String): DataFrame =
    seqlenHistogramOf(docs(s, dir))

  /** Frame-parameterized body so the spec can probe the ladder with docs
    * beyond any bucket the test corpus happens to contain. */
  private[graft] def seqlenHistogramOf(d: DataFrame): DataFrame =
    d
      .withColumn("n_tok",
        least(size(split(trim(col("text")), "\\s+")).cast("long"), lit(MaxSeqLen)))
      .withColumn("bucket",
        when(col("n_tok") <= 16, 16L).when(col("n_tok") <= 32, 32L)
          .when(col("n_tok") <= 64, 64L).when(col("n_tok") <= 128, 128L)
          .when(col("n_tok") <= 256, 256L).when(col("n_tok") <= 512, 512L)
          .when(col("n_tok") <= 1024, 1024L).when(col("n_tok") <= 2048, 2048L)
          .when(col("n_tok") <= 4096, 4096L).when(col("n_tok") <= 8192, 8192L)
          .when(col("n_tok") <= 16384, 16384L).when(col("n_tok") <= 32768, 32768L)
          .otherwise(MaxSeqLen))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("real_tokens"),
        (max(col("bucket")) * count(lit(1))).as("padded_tokens"))
      .withColumn("waste_ratio",
        lit(1.0) - col("real_tokens").cast("double") / col("padded_tokens").cast("double"))
      .orderBy(col("bucket"))

  private val seqlenHistogramSql =
    s"""WITH t AS (
      |  SELECT LEAST(CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT),
      |               $MaxSeqLen) AS n_tok
      |  FROM documents),
      |b AS (
      |  SELECT n_tok,
      |    CASE WHEN n_tok <= 16 THEN 16 WHEN n_tok <= 32 THEN 32
      |         WHEN n_tok <= 64 THEN 64 WHEN n_tok <= 128 THEN 128
      |         WHEN n_tok <= 256 THEN 256 WHEN n_tok <= 512 THEN 512
      |         WHEN n_tok <= 1024 THEN 1024 WHEN n_tok <= 2048 THEN 2048
      |         WHEN n_tok <= 4096 THEN 4096 WHEN n_tok <= 8192 THEN 8192
      |         WHEN n_tok <= 16384 THEN 16384 WHEN n_tok <= 32768 THEN 32768
      |         ELSE $MaxSeqLen END AS bucket
      |  FROM t)
      |SELECT CAST(bucket AS BIGINT) AS bucket, count(*) AS n_docs,
      |  CAST(sum(n_tok) AS BIGINT) AS real_tokens,
      |  CAST(max(bucket) * count(*) AS BIGINT) AS padded_tokens,
      |  1.0 - CAST(sum(n_tok) AS DOUBLE) / CAST(max(bucket) * count(*) AS DOUBLE)
      |    AS waste_ratio
      |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin

  val all: Seq[Q] = Seq(
    Q("p66_weighted_sample", weightedSample, weightedSampleSql),
    Q("p67_dup_graph_degree", dupGraphDegree, dupGraphDegreeSql),
    Q("p68_minhash_calibration", minhashCalibration, minhashCalibrationSql),
    Q("p69_template_dedup", templateDedup, templateDedupSql),
    Q("p70_seqlen_histogram", seqlenHistogram, seqlenHistogramSql))
}
