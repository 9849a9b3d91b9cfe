package graft.pipeline

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus selection & mixing statistics — the operators that decide HOW MUCH
  * of each slice of a curated corpus a training run actually samples:
  *
  *  - **p72 DSIR importance weights** (Xie et al., "Data Selection for
  *    Language Models via Importance Resampling", NeurIPS 2023): hashed
  *    n-gram bucket counts under a target-vs-raw bag-of-ngrams model give
  *    every raw document a log importance weight
  *    `Σ_b c_doc[b]·(ln p̂_target[b] − ln p̂_raw[b])` with Laplace-smoothed
  *    bucket probabilities. The held-out target slice reuses the corpus
  *    convention of p25/p47 (doc_id % 17 = 0 stands in for the curated
  *    target domain).
  *  - **p73 source mixture reweighting**: temperature-smoothed sampling
  *    weights per source, `q_s ∝ p_s^α` with α = 1/2 (the exponential
  *    smoothing of multilingual/multi-domain training à la XLM-R) — emits
  *    natural share, smoothed share, and the sampling boost q/p each
  *    source gets.
  *  - **p74 eval-side leak rate**: per EVAL document, the fraction of its
  *    3-token shingles that occur anywhere in the training split — the
  *    per-example contamination statistic model reports publish (the
  *    train-side flags are p25; the train→eval attribution is p47; this is
  *    the eval-side view that decides whether a benchmark number is
  *    trustworthy).
  *
  * 100 TB shapes: every aggregate is keyed by a bounded domain (8192 hash
  * buckets, the source catalog) or a uniform high-cardinality key
  * ((doc_id, bucket), shingle hash) with map-side partial collapse; the
  * only joins against corpus-scale frames broadcast a bounded side (the
  * 8192-row log-ratio table; the eval shingle set). Nothing windows,
  * nothing funnels through one task.
  */
object MixtureOps {

  private val PH = graft.pipeline.PortableHash

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  // ------------------------------------------- p72 DSIR importance weights
  /** Hash-bucket count B: DSIR's paper setting is 10k; a power of two
    * keeps the modulus cheap in both engines. */
  private val Buckets = 8192L

  /** Input size (documents relation estimate) at which p72's shared
    * bucket aggregate is pinned; below it the per-split explodes win. */
  private val PinMinBytes = 32L << 20

  /** Per-doc hashed n-gram feature buckets (unigrams + bigrams over the
    * shared token-hash arrays): the fixed-dimension bag-of-ngrams both
    * distributions are estimated on. */
  private def featureStream(s: SparkSession, dir: String): DataFrame = {
    val B = Buckets
    val P = PH.P
    CorpusOps.tokenHashed(s, dir)
      .select(col("doc_id"),
        explode(expr(
          s"""concat(
             |  transform(th, h -> pmod(h, ${B}L)),
             |  CASE WHEN size(th) >= 2
             |    THEN transform(sequence(1, size(th) - 1),
             |      i -> pmod(pmod(element_at(th, i) * 31L
             |                     + element_at(th, i + 1), ${P}L), ${B}L))
             |    ELSE CAST(array() AS ARRAY<BIGINT>) END)""".stripMargin))
          .as("b"))
  }

  /** DSIR log importance weight per RAW document. One corpus pass builds
    * the (doc_id, bucket) counts; bucket-marginal counts for both splits
    * collapse map-side onto the ≤8192-bucket domain; the log-ratio table
    * (≤8192 rows) broadcasts back onto the per-doc counts. */
  private def dsirWeights(s: SparkSession, dir: String): DataFrame = {
    val B = Buckets
    val feats = featureStream(s, dir)
    // ONE (doc_id, bucket) count aggregate serves both splits (round 17,
    // guide §2.4): the raw/tgt doc_id filters commute with the groupBy
    // (doc_id is a group key), so every consumer can share one
    // explode→aggregate subtree. The filters MUST sit above a collapse
    // barrier: they push back through the aggregate (doc_id is a group
    // key) and re-split the plan into per-consumer explode subtrees
    // otherwise (measured: the barrier-less spelling kept 5 Generates —
    // exchange reuse never fires on subtrees that differ by a pushed
    // filter). The pin holds (doc_id, b, c) — the token stream collapsed
    // ~1.4:1 map-side — and is released by the harness after the
    // consuming action.
    //
    // The barrier is SIZE-GATED (guide §1.2 step 3 — scale-adaptive, not
    // local-mode-tuned): materializing the pin beats re-running the
    // explode per split only when the explode is expensive (sf10:
    // 24.8 → 19.8 s), while at small inputs the cache write costs more
    // than the three cheap explodes it saves (sf0.1: 0.94 → 2.82 s
    // measured with an unconditional pin, cold-confirmed). Below the
    // gate the filters push back down and the plan is exactly the
    // pre-round-17 per-split shape.
    val allDoc0 = feats.groupBy(col("doc_id"), col("b"))
      .agg(count(lit(1)).as("c"))
    val allDoc =
      if (Tables.load(s, dir, "documents")
            .queryExecution.optimizedPlan.stats.sizeInBytes >= PinMinBytes)
        allDoc0.pinned
      else allDoc0
    // per-raw-doc bucket counts: the frame the weights are scored over
    val rawDoc = allDoc.filter(pmod(col("doc_id"), lit(17)) =!= 0)
    // bucket marginals; both derive from the shared aggregate
    val tgt = allDoc.filter(pmod(col("doc_id"), lit(17)) === 0)
      .groupBy(col("b")).agg(sum(col("c")).as("ct"))
    val rawB = rawDoc.groupBy(col("b")).agg(sum(col("c")).as("cr"))
    val tTot = tgt.agg(sum(col("ct")).as("t_tot"))
    val rTot = rawB.agg(sum(col("cr")).as("r_tot"))
    val lr = rawB.join(tgt, Seq("b"), "left")
      .crossJoin(tTot).crossJoin(rTot) // two one-row aggregates
      .select(col("b"),
        (log((coalesce(col("ct"), lit(0L)) + lit(1L)).cast("double") /
             (col("t_tot") + lit(B)).cast("double"))
          - log((col("cr") + lit(1L)).cast("double") /
                (col("r_tot") + lit(B)).cast("double"))).as("logratio"))
    rawDoc.join(broadcast(lr), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_feats"),
        sum(col("c").cast("double") * col("logratio")).as("logw"))
      .select(col("doc_id"), col("n_feats"), col("logw"),
        (col("logw") / col("n_feats").cast("double")).as("mean_logw"))
      .orderBy(col("doc_id"))
  }

  private val dsirSql = {
    val B = Buckets
    val P = PH.P
    s"""WITH th AS (SELECT doc_id, ${PH.duckTokenHashes("text")} AS th FROM documents),
       |feats AS (
       |  SELECT doc_id, unnest(list_concat(
       |    list_transform(th, h -> h % $B),
       |    CASE WHEN len(th) >= 2
       |      THEN list_transform(range(1, len(th)),
       |        i -> ((th[i] * 31 + th[i + 1]) % $P) % $B)
       |      ELSE [] END)) AS b
       |  FROM th),
       |raw_doc AS (
       |  SELECT doc_id, b, count(*) AS c FROM feats
       |  WHERE doc_id % 17 <> 0 GROUP BY doc_id, b),
       |tgt AS (SELECT b, count(*) AS ct FROM feats WHERE doc_id % 17 = 0 GROUP BY b),
       |raw_b AS (SELECT b, CAST(sum(c) AS BIGINT) AS cr FROM raw_doc GROUP BY b),
       |t_tot AS (SELECT CAST(sum(ct) AS BIGINT) AS t_tot FROM tgt),
       |r_tot AS (SELECT CAST(sum(cr) AS BIGINT) AS r_tot FROM raw_b),
       |lr AS (
       |  SELECT raw_b.b,
       |    ln(CAST(coalesce(tgt.ct, 0) + 1 AS DOUBLE) / CAST(t_tot + $B AS DOUBLE))
       |      - ln(CAST(cr + 1 AS DOUBLE) / CAST(r_tot + $B AS DOUBLE)) AS logratio
       |  FROM raw_b LEFT JOIN tgt USING (b) CROSS JOIN t_tot CROSS JOIN r_tot)
       |SELECT doc_id,
       |  CAST(sum(c) AS BIGINT) AS n_feats,
       |  sum(CAST(c AS DOUBLE) * logratio) AS logw,
       |  sum(CAST(c AS DOUBLE) * logratio) / CAST(sum(c) AS DOUBLE) AS mean_logw
       |FROM raw_doc JOIN lr USING (b)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------ p73 source mixture reweight
  /** Temperature-smoothed source sampling weights, α = 1/2: q_s =
    * √p_s / Σ √p, where p_s is the source's natural token share. sqrt is
    * IEEE-correctly-rounded, so both engines agree bit-for-bit; the
    * source catalog is tiny at any corpus size (the only all-reduce is
    * over the per-source aggregate). */
  private def sourceMixture(s: SparkSession, dir: String): DataFrame = {
    // NULL text must drop on BOTH sides: under legacy sizeOfNull (the
    // default outside Engine sessions) size(split(NULL)) = -1 would be
    // summed into n_tok while the oracle's len(regexp_split_to_array)
    // is NULL and skipped by sum — same bug class as TermStats r12.
    val perSrc = docs(s, dir)
      .filter(col("text").isNotNull)
      .select(col("source"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("tk"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("tk")).as("n_tok"))
    val tot = perSrc.agg(sum(col("n_tok")).cast("double").as("n_all"))
    val z = perSrc.crossJoin(tot)
      .withColumn("p_nat", col("n_tok").cast("double") / col("n_all"))
    val sz = z.agg(sum(sqrt(col("p_nat"))).as("sum_sqrt"))
    z.crossJoin(sz)
      .select(col("source"), col("n_docs"), col("n_tok"), col("p_nat"),
        (sqrt(col("p_nat")) / col("sum_sqrt")).as("q_smooth"))
      .withColumn("boost", col("q_smooth") / col("p_nat"))
      .orderBy(col("source"))
  }

  private val sourceMixtureSql =
    """WITH s AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS n_tok
      |  FROM documents WHERE text IS NOT NULL GROUP BY source),
      |t AS (SELECT CAST(sum(n_tok) AS DOUBLE) AS n_all FROM s),
      |z AS (SELECT source, n_docs, n_tok,
      |        CAST(n_tok AS DOUBLE) / n_all AS p_nat
      |      FROM s CROSS JOIN t),
      |w AS (SELECT sum(sqrt(p_nat)) AS sum_sqrt FROM z)
      |SELECT source, n_docs, n_tok, p_nat,
      |  sqrt(p_nat) / sum_sqrt AS q_smooth,
      |  (sqrt(p_nat) / sum_sqrt) / p_nat AS boost
      |FROM z CROSS JOIN w ORDER BY source""".stripMargin

  // --------------------------------------------- p74 eval-side leak rate
  /** Per EVAL document: distinct 3-token shingles, how many of them occur
    * anywhere in the training split, and the leaked fraction. The raw
    * shingle set collapses map-side on the uniform shingle hash before the
    * join; the eval side is benchmark-sized, so AQE broadcasts it (same
    * posture as p25, pinned there both ways). */
  private def evalLeakRate(s: SparkSession, dir: String): DataFrame = {
    val pairs = CorpusOps.shinglePairs(s, dir)
    val evalP = pairs.filter(pmod(col("doc_id"), lit(17)) === 0)
    val rawSh = pairs.filter(pmod(col("doc_id"), lit(17)) =!= 0)
      .select(col("shingle")).distinct()
    val leaked = evalP.join(rawSh, Seq("shingle"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_leaked"))
    evalP.groupBy(col("doc_id")).agg(count(lit(1)).as("n_shingles"))
      .join(leaked, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_leaked"), lit(0L)).as("n_leaked"))
      .withColumn("leak_ratio",
        col("n_leaked").cast("double") / col("n_shingles").cast("double"))
      .orderBy(col("doc_id"))
  }

  private val evalLeakSql =
    s"""WITH th AS (SELECT doc_id, ${PH.duckTokenHashes("text")} AS th FROM documents),
       |sh AS (SELECT doc_id, ${PH.duckShingles("th")} AS sh FROM th),
       |pairs AS (SELECT DISTINCT doc_id, unnest(sh) AS shingle FROM sh),
       |raw_sh AS (SELECT DISTINCT shingle FROM pairs WHERE doc_id % 17 <> 0),
       |leaked AS (
       |  SELECT p.doc_id, CAST(count(*) AS BIGINT) AS n_leaked
       |  FROM (SELECT * FROM pairs WHERE doc_id % 17 = 0) p
       |  JOIN raw_sh USING (shingle) GROUP BY p.doc_id)
       |SELECT e.doc_id,
       |  CAST(count(*) AS BIGINT) AS n_shingles,
       |  coalesce(any_value(l.n_leaked), 0) AS n_leaked,
       |  CAST(coalesce(any_value(l.n_leaked), 0) AS DOUBLE)
       |    / CAST(count(*) AS DOUBLE) AS leak_ratio
       |FROM (SELECT * FROM pairs WHERE doc_id % 17 = 0) e
       |LEFT JOIN leaked l ON e.doc_id = l.doc_id
       |GROUP BY e.doc_id ORDER BY e.doc_id""".stripMargin

  // --------------------------------- p75 per-source quality-quantile prune
  /** Keep the top (1 − q) of every source by a quality score — the
    * per-domain pruning step curation pipelines run after scoring (a
    * fixed global cutoff over-prunes clean domains and under-prunes noisy
    * ones). The threshold is the DISCRETE per-source q-quantile (smallest
    * score with cumulative count ≥ ⌈q·n⌉): a rank-selected DATA VALUE, so
    * both engines pick bit-identical thresholds and the kept flag never
    * hinges on interpolated-double ulps (the continuous-quantile spelling
    * would: `score >= thr` flips discretely at 1-ulp threshold noise).
    *
    * 100 TB shape: the corpus collapses map-side onto the
    * (source, score) HISTOGRAM — bounded by distinct score rationals per
    * source, not rows; the cumulative window runs over that histogram
    * only; the per-source threshold table broadcasts back. Nothing
    * windows over corpus-scale data (contrast `percent_rank() OVER
    * (PARTITION BY source)`, which funnels each source through one task). */
  private val PruneQ = 0.2

  private def sourceQuantilePrune(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toksArr = split(lower(trim(col("text"))), "\\s+")
    val scored = docs(s, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"),
        (size(array_distinct(toksArr)).cast("double") /
          size(toksArr).cast("double")).as("score"))
    val hist = scored.groupBy(col("source"), col("score"))
      .agg(count(lit(1)).as("c"))
    val wCum = Window.partitionBy("source").orderBy("score")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist
      .withColumn("cum", sum(col("c")).over(wCum))
      .withColumn("n_src", sum(col("c")).over(Window.partitionBy("source")))
    val thr = cum
      .filter(col("cum") >= ceil(lit(PruneQ) * col("n_src").cast("double")))
      .groupBy(col("source")).agg(min(col("score")).as("thr"))
    scored.join(broadcast(thr), Seq("source"))
      .select(col("doc_id"), col("source"), col("score"), col("thr"),
        (col("score") >= col("thr")).as("kept"))
      .orderBy(col("doc_id"))
  }

  private val pruneSql =
    s"""WITH scored AS (
       |  SELECT doc_id, source,
       |    CAST(len(list_distinct(regexp_split_to_array(lower(trim(text)), '\\s+'))) AS DOUBLE)
       |      / CAST(len(regexp_split_to_array(lower(trim(text)), '\\s+')) AS DOUBLE) AS score
       |  FROM documents WHERE text IS NOT NULL),
       |hist AS (SELECT source, score, count(*) AS c FROM scored GROUP BY source, score),
       |cum AS (
       |  SELECT source, score,
       |    sum(c) OVER (PARTITION BY source ORDER BY score
       |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
       |    sum(c) OVER (PARTITION BY source) AS n_src
       |  FROM hist),
       |thr AS (
       |  SELECT source, min(score) AS thr FROM cum
       |  WHERE cum >= ceil($PruneQ * CAST(n_src AS DOUBLE)) GROUP BY source)
       |SELECT s.doc_id, s.source, s.score, t.thr, s.score >= t.thr AS kept
       |FROM scored s JOIN thr t ON s.source = t.source ORDER BY s.doc_id""".stripMargin

  // ------------------------------------------- p76 bigram LM surprisal
  /** Mean interpolated-bigram surprisal per document — the next-order
    * perplexity proxy above p42's unigram surprisal:
    * p(w₂|w₁) = λ·c(w₁w₂)/c(w₁) + (1−λ)·c(w₂)/N with λ = 0.75, averaged
    * as −ln p over the document's bigram positions (tf-weighted over the
    * distinct-bigram frame — identical value, bounded relation).
    *
    * Shapes: both count tables derive from the shared token arrays with
    * map-side collapse onto the vocab/vocab² domains; the logp table
    * broadcasts onto the raw bigram POSITION stream and the per-doc mean
    * collapses map-side by doc_id (documents are partition-local, so the
    * partial aggregate emits one row per doc before the shuffle — a
    * (doc, w1, w2) tf pre-aggregate instead shuffles every position on
    * the Zipfian bigram key: measured 44.0 → 17.6 s at sf10). At 100 TB
    * the LM table itself outgrows a broadcast before the corpus side
    * hurts — the production spelling hashes the LM into fixed buckets
    * first (exactly p72's feature hashing), trading bias for a bounded
    * broadcast; this operator keeps the exact table and documents the
    * cliff. */
  private val Lambda = 0.75

  private def bigramSurprisal(s: SparkSession, dir: String): DataFrame = {
    val t = TermStats.toks(s, dir)
    // the position stream feeds both the c2 count table and the final
    // broadcast-join pass. Pinning it as a collapse barrier was MEASURED
    // AND REJECTED (round 17): the cache write of the 54M-row two-string
    // stream costs more than re-running the explode from the already-
    // cached token arrays (sf10 A/B: 10.9 → 14.9 s warm) — the expensive
    // stage was the regex split, and [[TermStats.toks]] already shares it
    val bg = t.select(col("doc_id"),
        explode(expr(
          """CASE WHEN size(t) >= 2
            |  THEN transform(sequence(1, size(t) - 1),
            |    i -> named_struct('w1', element_at(t, i), 'w2', element_at(t, i + 1)))
            |  ELSE CAST(array() AS ARRAY<STRUCT<w1: STRING, w2: STRING>>) END""".stripMargin))
          .as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val c2 = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
    val uni = t.select(explode(col("t")).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("c1"))
    val n = uni.agg(sum(col("c1")).as("n_tot"))
    val logp = c2
      .join(uni.select(col("term").as("w1"), col("c1").as("c1w1")), Seq("w1"))
      .join(uni.select(col("term").as("w2"), col("c1").as("c1w2")), Seq("w2"))
      .crossJoin(n) // one-row aggregate
      .select(col("w1"), col("w2"),
        (lit(Lambda) * (col("c2").cast("double") / col("c1w1").cast("double"))
          + lit(1.0 - Lambda) * (col("c1w2").cast("double") / col("n_tot").cast("double")))
          .as("p"))
    bg.join(broadcast(logp), Seq("w1", "w2"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        (sum(-log(col("p"))) / count(lit(1)).cast("double")).as("mean_surprisal"))
      .orderBy(col("doc_id"))
  }

  private val bigramSql =
    s"""WITH t AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS t FROM documents),
       |bg AS (
       |  SELECT doc_id,
       |    unnest(list_transform(range(1, len(t)), i -> t[i])) AS w1,
       |    unnest(list_transform(range(1, len(t)), i -> t[i + 1])) AS w2
       |  FROM t),
       |c2 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2 FROM bg GROUP BY w1, w2),
       |uni AS (SELECT unnest(t) AS term FROM t),
       |c1 AS (SELECT term, CAST(count(*) AS BIGINT) AS c1 FROM uni GROUP BY term),
       |n AS (SELECT CAST(count(*) AS BIGINT) AS n_tot FROM uni),
       |logp AS (
       |  SELECT w1, w2,
       |    CAST($Lambda AS DOUBLE) * (CAST(c2 AS DOUBLE) / CAST(u1.c1 AS DOUBLE))
       |      + CAST(${1.0 - Lambda} AS DOUBLE) * (CAST(u2.c1 AS DOUBLE) / CAST(n_tot AS DOUBLE)) AS p
       |  FROM c2 JOIN c1 u1 ON c2.w1 = u1.term JOIN c1 u2 ON c2.w2 = u2.term
       |  CROSS JOIN n)
       |SELECT bg.doc_id,
       |  CAST(count(*) AS BIGINT) AS n_bigrams,
       |  sum(-ln(p)) / CAST(count(*) AS DOUBLE) AS mean_surprisal
       |FROM bg JOIN logp USING (w1, w2)
       |GROUP BY bg.doc_id ORDER BY bg.doc_id""".stripMargin

  // --------------------------------------------- p77 epoch mixture plan
  /** Materialize p73's temperature-smoothed mixture as per-source EPOCH
    * MULTIPLICITIES — what a trainer actually executes: every document of
    * source s is repeated ⌊b_s⌋ or ⌈b_s⌉ times, with the fractional part
    * resolved per-document by a deterministic LCG residual so the
    * realized epoch count converges to b_s without any RNG state. The
    * boost b_s = √(N/tok_s) is the α = ½ smoothing with normalization
    * folded into the token budget; unlike the normalized q_s/p_s spelling
    * it contains NO cross-source float reduction, so the discretization
    * ⌊b_s·10⁶⌋ is bit-identical in both engines (a float SUM's ordering
    * would leak ulps into the discrete copy counts).
    *
    * 100 TB shape: one per-source aggregate (map-side collapsing, source
    * catalog tiny), the ≤|sources| plan table broadcasts onto the corpus,
    * per-doc copies reduce back to the source domain. */
  private def epochMixturePlan(s: SparkSession, dir: String): DataFrame = {
    val perDoc = docs(s, dir)
      .filter(col("text").isNotNull) // see sourceMixture: legacy sizeOfNull
      .select(col("doc_id"), col("source"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("tk"))
    val perSrc = perDoc.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("tk")).as("n_tok"))
    val tot = perSrc.agg(sum(col("n_tok")).as("n_all"))
    val plan = perSrc.crossJoin(tot) // one-row aggregate
      .withColumn("boost",
        sqrt(col("n_all").cast("double") / col("n_tok").cast("double")))
      .withColumn("m", floor(col("boost") * lit(1000000.0)).cast("long"))
    val copies = perDoc
      .join(broadcast(plan.select(col("source"), col("m"))), Seq("source"))
      .select(col("source"),
        (floor(col("m") / lit(1000000L)).cast("long") +
          when((col("doc_id") * lit(1103515245L) + lit(12345L)) % lit(1000000L)
                 < col("m") % lit(1000000L), lit(1L)).otherwise(lit(0L)))
          .as("copies"))
      .groupBy(col("source")).agg(sum(col("copies")).as("n_copies"))
    plan.select(col("source"), col("n_docs"), col("n_tok"), col("boost"))
      .join(copies, Seq("source"))
      .withColumn("eff_epochs",
        col("n_copies").cast("double") / col("n_docs").cast("double"))
      .orderBy(col("source"))
  }

  private val epochPlanSql =
    """WITH d AS (
      |  SELECT doc_id, source,
      |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS tk
      |  FROM documents WHERE text IS NOT NULL),
      |s AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |        CAST(sum(tk) AS BIGINT) AS n_tok
      |      FROM d GROUP BY source),
      |t AS (SELECT CAST(sum(n_tok) AS BIGINT) AS n_all FROM s),
      |p AS (SELECT source, n_docs, n_tok,
      |        sqrt(CAST(n_all AS DOUBLE) / CAST(n_tok AS DOUBLE)) AS boost,
      |        CAST(floor(sqrt(CAST(n_all AS DOUBLE) / CAST(n_tok AS DOUBLE))
      |                   * 1000000.0) AS BIGINT) AS m
      |      FROM s CROSS JOIN t),
      |c AS (SELECT d.source,
      |        CAST(floor(m / 1000000) AS BIGINT)
      |          + (CASE WHEN (d.doc_id * 1103515245 + 12345) % 1000000
      |                       < m % 1000000 THEN 1 ELSE 0 END) AS copies
      |      FROM d JOIN p USING (source)),
      |cc AS (SELECT source, CAST(sum(copies) AS BIGINT) AS n_copies
      |       FROM c GROUP BY source)
      |SELECT p.source, p.n_docs, p.n_tok, p.boost, cc.n_copies,
      |  CAST(cc.n_copies AS DOUBLE) / CAST(p.n_docs AS DOUBLE) AS eff_epochs
      |FROM p JOIN cc USING (source)
      |ORDER BY p.source""".stripMargin

  val all: Seq[Q] = Seq(
    Q("p72_dsir_weights", dsirWeights, dsirSql),
    Q("p73_source_mixture", sourceMixture, sourceMixtureSql),
    Q("p74_eval_leak_rate", evalLeakRate, evalLeakSql),
    Q("p75_source_quantile_prune", sourceQuantilePrune, pruneSql),
    Q("p76_bigram_surprisal", bigramSurprisal, bigramSql),
    Q("p77_epoch_mixture_plan", epochMixturePlan, epochPlanSql))
}
