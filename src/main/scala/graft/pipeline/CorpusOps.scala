package graft.pipeline

import graft.{Q, Tables}
import graft.functions.vec_dot
import graft.pipeline.{PortableHash => PH}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-hygiene operators a large-scale training-data pipeline runs after
  * dedup and before training: benchmark decontamination, repetition-based
  * quality signals (Gopher/RefinedWeb-style), deterministic shard layout,
  * and random-projection dimensionality reduction.
  *
  * Like the rest of the pipeline suite, every kernel is arithmetic both
  * engines can express exactly ([[PortableHash]] fragments, integer ratios,
  * ordered double dot products) so each query carries a full bit-exact
  * DuckDB oracle.
  */
object CorpusOps {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  /** Shared (doc_id, th) token-hash arrays — the first stage of every
    * shingle-family query, memoized per dir ([[Pins.shared]], round 10):
    * p58/p64 consume it directly and [[shinglePairs]] builds on it. */
  private[pipeline] def tokenHashed(s: SparkSession, dir: String): DataFrame =
    Pins.shared(s, dir, "doc-token-hashes") {
      docs(s, dir)
        .withColumn("th", expr(PH.sparkTokenHashes("text")))
        .select(col("doc_id"), col("th"))
    }

  /** Shared distinct (doc_id, shingle) pairs — p25/p47/p50 each built
    * this identical tokenize+shingle+distinct stage per query (the
    * doc_id filters push through the distinct's aggregate, so no two
    * branches' exchanges are reusable); one harness run now computes it
    * once per dir, same posture as the LSH signature stage, disclosed
    * through the bench warm array / cold-equivalent pass. */
  private[pipeline] def shinglePairs(s: SparkSession, dir: String): DataFrame =
    Pins.shared(s, dir, "doc-shingle-pairs") {
      tokenHashed(s, dir)
        .select(col("doc_id"), explode(expr(PH.sparkShingles("th"))).as("shingle"))
        .distinct()
    }

  // ------------------------------------------------------- decontamination
  /** Benchmark decontamination: flag corpus documents sharing 3-token
    * shingles with a held-out eval set (here the deterministic slice
    * doc_id % 17 = 0 — in production the broadcast side is the actual
    * benchmark suite). The join is an inverted-index equi-join on shingle
    * hash with the eval side broadcast: at 100 TB the corpus side streams
    * map-side against the (always small) benchmark shingle set — no
    * shuffle of the corpus at all. */
  private def decontaminate(s: SparkSession, dir: String): DataFrame = {
    val pairs = shinglePairs(s, dir)
    val eval = pairs.filter(pmod(col("doc_id"), lit(17)) === 0)
      .select(col("shingle")).distinct()
      .withColumn("is_eval", lit(1))
    // no forced broadcast (r8): THIS query's eval slice is a corpus
    // fraction (doc_id%17), so a pinned broadcast grows with the corpus —
    // the measured sf0.1 run-to-run variance was its collect+build. A
    // plain equi-join on the diverse shingle key shuffles uniformly; a
    // production-sized (small, fixed) benchmark suite still broadcasts
    // automatically via AQE's measured-size threshold.
    pairs.filter(pmod(col("doc_id"), lit(17)) =!= 0)
      .join(eval, Seq("shingle"), "left_outer")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        count(col("is_eval")).as("n_contaminated"))
      .filter(col("n_contaminated") > 0)
      .select(col("doc_id"), col("n_shingles"), col("n_contaminated"),
        (col("n_contaminated").cast("double") / col("n_shingles").cast("double"))
          .as("contam_ratio"))
      .orderBy(col("doc_id"))
  }

  private val decontaminateSql =
    s"""WITH th AS (SELECT doc_id, ${PH.duckTokenHashes("text")} AS th FROM documents),
       |sh AS (SELECT doc_id, ${PH.duckShingles("th")} AS sh FROM th),
       |pairs AS (SELECT DISTINCT doc_id, unnest(sh) AS shingle FROM sh),
       |eval AS (SELECT DISTINCT shingle, 1 AS is_eval FROM pairs WHERE doc_id % 17 = 0)
       |SELECT p.doc_id,
       |  count(*) AS n_shingles,
       |  count(e.is_eval) AS n_contaminated,
       |  CAST(count(e.is_eval) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS contam_ratio
       |FROM (SELECT * FROM pairs WHERE doc_id % 17 <> 0) p
       |LEFT JOIN eval e USING (shingle)
       |GROUP BY p.doc_id HAVING count(e.is_eval) > 0
       |ORDER BY doc_id""".stripMargin

  // --------------------------------------------------- repetition signals
  /** Gopher/RefinedWeb-style repetition + shape signals, all narrow
    * projection (zero shuffle at any scale): duplicate-sentence counts and
    * the fraction of characters inside duplicated sentences, mean/max word
    * length, symbol-to-token ratio. The duplicate scan is O(sentences²) per
    * document via nested array lambdas — documents are bounded, and the
    * whole thing stays inside whole-stage codegen.
    *
    * The narrow RESULT goes through `sortedOnce` (persist
    * before the global ORDER BY): the range sort's sampling job would
    * otherwise re-execute the whole lambda projection a second time
    * (measured 3.8 s → 1.7 s at sf1 — the sampler pass costs as much as
    * the real one). The cached frame is 8 scalars/doc; the harness
    * clearCache releases it. */
  private def repetition(s: SparkSession, dir: String): DataFrame = {
    val sents = split(col("text"), "\\.\\s+")
    val toks = split(trim(col("text")), "\\s+")
    val base = docs(s, dir)
      .withColumn("sents", sents)
      .withColumn("toks", toks)
    val nSents = size(col("sents")).cast("long")
    val nDistinct = size(array_distinct(col("sents"))).cast("long")
    // characters inside sentences that occur more than once in the
    // document — the native O(n) hash kernel (round 10) replacing the
    // interpreted O(sentences²) HOF spelling `aggregate(filter(sents,
    // x -> size(filter(sents, y -> y = x)) > 1), 0L, (acc, x) -> acc +
    // length(x))`. Honest measurement: NO sf1 change on this corpus
    // (~15 sentences/doc — the regex splits dominate); the kernel is a
    // robustness bound for wide real documents, where the quadratic
    // lambda scan would take over. The DuckDB oracle keeps the O(n²)
    // list_filter spelling — same value by definition.
    val dupChars = graft.functions.dup_chars(col("sents"))
    val totChars = expr("aggregate(sents, 0L, (acc, x) -> acc + length(x))")
    val symbols = (length(col("text"))
      - length(translate(col("text"), "#*%@", ""))).cast("long")
    base.select(
      col("doc_id"),
      nSents.as("n_sents"),
      (nSents - nDistinct).as("n_dup_sents"),
      ((nSents - nDistinct).cast("double") / nSents.cast("double"))
        .as("dup_sent_ratio"),
      (dupChars.cast("double") / totChars.cast("double")).as("dup_char_ratio"),
      (expr("aggregate(toks, 0L, (acc, t) -> acc + length(t))").cast("double")
        / size(col("toks")).cast("double")).as("mean_word_len"),
      expr("array_max(transform(toks, t -> length(t)))").cast("long")
        .as("max_word_len"),
      (symbols.cast("double") / size(col("toks")).cast("double"))
        .as("symbol_ratio"))
      .sortedOnce("doc_id")
  }

  private val repetitionSql =
    """WITH b AS (
      |  SELECT doc_id, text,
      |    regexp_split_to_array(text, '\.\s+') AS sents,
      |    regexp_split_to_array(trim(text), '\s+') AS toks
      |  FROM documents)
      |SELECT doc_id,
      |  CAST(len(sents) AS BIGINT) AS n_sents,
      |  CAST(len(sents) - len(list_distinct(sents)) AS BIGINT) AS n_dup_sents,
      |  CAST(len(sents) - len(list_distinct(sents)) AS DOUBLE)
      |    / CAST(len(sents) AS DOUBLE) AS dup_sent_ratio,
      |  CAST(list_sum(list_prepend(CAST(0 AS BIGINT), list_transform(
      |         list_filter(sents, x -> len(list_filter(sents, y -> y = x)) > 1),
      |         x -> CAST(length(x) AS BIGINT)))) AS DOUBLE)
      |    / CAST(list_sum(list_prepend(CAST(0 AS BIGINT),
      |         list_transform(sents, x -> CAST(length(x) AS BIGINT)))) AS DOUBLE)
      |    AS dup_char_ratio,
      |  CAST(list_sum(list_prepend(CAST(0 AS BIGINT),
      |         list_transform(toks, t -> CAST(length(t) AS BIGINT)))) AS DOUBLE)
      |    / CAST(len(toks) AS DOUBLE) AS mean_word_len,
      |  CAST(list_max(list_transform(toks, t -> length(t))) AS BIGINT)
      |    AS max_word_len,
      |  CAST(length(text) - length(regexp_replace(text, '[#*%@]', '', 'g')) AS DOUBLE)
      |    / CAST(len(toks) AS DOUBLE) AS symbol_ratio
      |FROM b ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------ shard assignment
  /** Deterministic training-shard layout: a portable affine hash gives a
    * reproducible global shuffle order, shard = hash mod N, and the
    * within-shard position comes from a window partitioned BY SHARD — never
    * a global single-partition rank. At 100 TB, N scales with the corpus so
    * each shard (≈ window partition) stays bounded; the output order is
    * stable across engines, runs, and cluster sizes, which is exactly the
    * reproducibility property a training dataloader needs. */
  private val ShardCount = 16
  private def shardAssignment(s: SparkSession, dir: String): DataFrame = {
    val (a, b) = (1103515245L, 12345L)
    val w = Window.partitionBy(col("shard_id")).orderBy(col("h"), col("doc_id"))
    docs(s, dir)
      // reduce mod P BEFORE multiplying: (P−1)·a + b < 2^62, ANSI-safe for
      // any doc_id (a raw doc_id·a overflows long past doc_id ≈ 8×10^9)
      .select(col("doc_id"),
        pmod(pmod(col("doc_id"), lit(PH.P)) * a + b, lit(PH.P)).as("h"))
      .withColumn("shard_id", pmod(col("h"), lit(ShardCount.toLong)))
      .withColumn("pos_in_shard", (row_number().over(w) - 1).cast("long"))
      .orderBy(col("doc_id"))
  }

  private val shardAssignmentSql =
    s"""WITH h AS (
       |  SELECT doc_id, ((doc_id % ${PH.P}) * 1103515245 + 12345) % ${PH.P} AS h
       |  FROM documents),
       |sh AS (SELECT doc_id, h, h % $ShardCount AS shard_id FROM h)
       |SELECT doc_id, h, shard_id,
       |  CAST(row_number() OVER (PARTITION BY shard_id ORDER BY h, doc_id) - 1
       |       AS BIGINT) AS pos_in_shard
       |FROM sh ORDER BY doc_id""".stripMargin

  // ------------------------------------------------- domain-mix resample
  /** Temperature-based domain mixing (α = 0.5): per-source sampling targets
    * ∝ n_s^α flatten the source distribution the way multilingual/domain
    * mixes are built, then each source contributes its `n_target` docs with
    * the smallest portable hash (deterministic, engine-independent).
    * Weights use floor(sqrt(n)) so the whole computation is INTEGER
    * arithmetic — no cross-engine float summation order to disagree on.
    * The global weight-sum window runs over one row PER SOURCE (aggregate
    * stats, never corpus rows). The per-source selection is a TWO-PHASE
    * top-k (the TakeOrderedAndProject trick): phase 1 ranks per
    * (source, input partition) — parallel across a huge source's splits —
    * and keeps ≤ MixTotal rows each; phase 2 ranks the ≤ MixTotal ×
    * nPartitions survivors per source. A single `Window.partitionBy(source)`
    * over the raw corpus would funnel a 100 TB source through ONE task;
    * here the final window sees a bounded candidate set. Both phases agree
    * with the naive global rank because the global top-k of a source is
    * contained in the union of its per-partition top-k's. */
  private val MixTotal = 200L
  private def domainMix(s: SparkSession, dir: String): DataFrame = {
    val targets = docs(s, dir)
      .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      .withColumn("weight", floor(sqrt(col("n_docs"))).cast("long"))
      .withColumn("n_target",
        expr(s"($MixTotal * weight) div sum(weight) over ()"))
    val hashed = docs(s, dir)
      .select(col("doc_id"), col("source"),
        pmod(pmod(col("doc_id"), lit(PH.P)) * 1103515245L + 12345L, lit(PH.P))
          .as("h"))
    val wLocal = Window.partitionBy(col("source"), col("__pid"))
      .orderBy(col("h"), col("doc_id"))
    val survivors = hashed
      .withColumn("__pid", org.apache.spark.sql.functions.spark_partition_id())
      .withColumn("__lrk", row_number().over(wLocal))
      .filter(col("__lrk") <= MixTotal)
    val wGlobal = Window.partitionBy(col("source")).orderBy(col("h"), col("doc_id"))
    survivors
      .withColumn("rk", row_number().over(wGlobal).cast("long"))
      .join(targets, "source")
      .filter(col("rk") <= col("n_target"))
      .select(col("source"), col("doc_id"), col("rk"),
        col("n_docs"), col("weight"), col("n_target"))
      .orderBy(col("source"), col("rk"))
  }

  private val domainMixSql =
    s"""WITH counts AS (
       |  SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
       |targets AS (
       |  SELECT source, n_docs,
       |    CAST(floor(sqrt(n_docs)) AS BIGINT) AS weight,
       |    CAST(($MixTotal * CAST(floor(sqrt(n_docs)) AS BIGINT))
       |      // CAST(sum(CAST(floor(sqrt(n_docs)) AS BIGINT)) OVER () AS BIGINT)
       |      AS BIGINT) AS n_target
       |  FROM counts),
       |ranked AS (
       |  SELECT doc_id, source,
       |    CAST(row_number() OVER (PARTITION BY source
       |      ORDER BY ((doc_id % ${PH.P}) * 1103515245 + 12345) % ${PH.P}, doc_id)
       |      AS BIGINT) AS rk
       |  FROM documents)
       |SELECT r.source, r.doc_id, r.rk, t.n_docs, t.weight, t.n_target
       |FROM ranked r JOIN targets t USING (source)
       |WHERE r.rk <= t.n_target
       |ORDER BY r.source, r.rk""".stripMargin

  // -------------------------------------------- random-projection reduce
  /** Johnson–Lindenstrauss-style dimensionality reduction: project the
    * 64-dim embeddings onto 8 fixed-seed hyperplanes. Pure narrow map — the
    * projection matrix is a compile-time constant folded into the scan
    * projection (at 100 TB: zero shuffle, one pass). Kernel is the native
    * codegen'd [[graft.functions.VecDot]]; ordered left-to-right double
    * accumulation matches DuckDB's list_dot_product bit for bit. */
  private def randomProjection(s: SparkSession, dir: String): DataFrame = {
    val ps = PH.planes(8, 64, seed = 11)
    val projCols: Seq[Column] = ps.zipWithIndex.map { case (p, i) =>
      vec_dot(col("embedding"), array(p.map(lit).toSeq: _*)).as(s"proj_$i")
    }
    Tables.load(s, dir, "embeddings")
      .select(col("vec_id") +: projCols: _*)
      .orderBy(col("vec_id"))
  }

  private val randomProjectionSql = {
    val ps = PH.planes(8, 64, seed = 11)
    val projExprs = ps.zipWithIndex.map { case (p, i) =>
      val lit = p.map(_.toString).mkString("[", ", ", "]")
      s"list_dot_product(v, CAST($lit AS DOUBLE[])) AS proj_$i"
    }
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
       |SELECT vec_id, ${projExprs.mkString(",\n  ")}
       |FROM e ORDER BY vec_id""".stripMargin
  }

  // ------------------------------------------------ p55 vocabulary drift
  /** Unigram-distribution drift between two corpus snapshots (old =
    * doc_id % 2 = 0, new = doc_id % 2 = 1 — in production the snapshot key
    * is the crawl/ingest date): the top terms by absolute probability
    * shift. This is the monitoring statistic a continuously-refreshed
    * training corpus needs — a sudden drift spike means the crawl mix
    * changed (new spam cluster, a source went dark) before any model sees
    * it. Shapes: one explode into ONE conditional hash agg keyed by term
    * (both snapshot counts in the same buffer — no per-snapshot scan, no
    * full-outer join), totals re-aggregated from the vocabulary-sized frame
    * (the identical agg subtree reuses the shuffle), a one-row totals cross
    * join, TakeOrdered top-20 — no all-pairs, nothing single-task. */
  private def vocabDrift(s: SparkSession, dir: String): DataFrame = {
    val perTerm = docs(s, dir).select(col("doc_id"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("term"))
      .groupBy(col("term"))
      .agg(sum(when(col("doc_id") % 2 === 0, 1L).otherwise(0L)).as("c_old"),
        sum(when(col("doc_id") % 2 === 1, 1L).otherwise(0L)).as("c_new"))
    val tot = perTerm.agg(sum(col("c_old")).as("tot_old"),
      sum(col("c_new")).as("tot_new"))
    perTerm.crossJoin(tot) // one-row aggregate
      .withColumn("p_old", col("c_old").cast("double") / col("tot_old").cast("double"))
      .withColumn("p_new", col("c_new").cast("double") / col("tot_new").cast("double"))
      .withColumn("drift", abs(col("p_new") - col("p_old")))
      .select(col("term"), col("c_old"), col("c_new"),
        col("p_old"), col("p_new"), col("drift"))
      .orderBy(col("drift").desc, col("term"))
      .limit(20)
  }

  private val vocabDriftSql =
    """WITH t AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
      |  FROM documents),
      |per AS (SELECT term,
      |  CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c_old,
      |  CAST(sum(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c_new
      |  FROM t GROUP BY term),
      |tot AS (SELECT CAST(sum(c_old) AS BIGINT) AS tot_old,
      |               CAST(sum(c_new) AS BIGINT) AS tot_new FROM per)
      |SELECT term, c_old, c_new,
      |  CAST(c_old AS DOUBLE) / CAST(tot_old AS DOUBLE) AS p_old,
      |  CAST(c_new AS DOUBLE) / CAST(tot_new AS DOUBLE) AS p_new,
      |  abs(CAST(c_new AS DOUBLE) / CAST(tot_new AS DOUBLE)
      |    - CAST(c_old AS DOUBLE) / CAST(tot_old AS DOUBLE)) AS drift
      |FROM per CROSS JOIN tot
      |ORDER BY drift DESC, term LIMIT 20""".stripMargin

  // -------------------------------------- p56 temperature mixing weights
  private val MixAlpha = 0.5

  /** Temperature-smoothed source mixing weights (the multilingual/domain
    * sampling rule of Devlin et al. mBERT and the XLM-R data recipe):
    * sampling weight ∝ n_tokens^α renormalized, α = 0.5 — upsamples small
    * sources, tempers the head. One hash agg keyed by source plus a
    * one-row normalization cross join; the output is dimension-table-sized
    * (one row per source) at any corpus scale. */
  private def mixingWeights(s: SparkSession, dir: String): DataFrame = {
    val perSource = docs(s, dir)
      .select(col("source"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tok"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
    val tot = perSource.agg(
      sum(col("n_tokens")).as("tot_tokens"),
      sum(pow(col("n_tokens").cast("double"), MixAlpha)).as("tot_pow"))
    perSource.crossJoin(tot) // one-row aggregate
      .select(col("source"), col("n_docs"), col("n_tokens"),
        (col("n_tokens").cast("double") / col("tot_tokens").cast("double"))
          .as("p_raw"),
        (pow(col("n_tokens").cast("double"), MixAlpha) / col("tot_pow"))
          .as("p_temp"))
      .orderBy(col("source"))
  }

  private val mixingWeightsSql =
    s"""WITH per AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(len(regexp_split_to_array(trim(text), '\\s+'))) AS BIGINT) AS n_tokens
       |  FROM documents GROUP BY source),
       |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot_tokens,
       |               sum(pow(CAST(n_tokens AS DOUBLE), $MixAlpha)) AS tot_pow
       |        FROM per)
       |SELECT source, n_docs, n_tokens,
       |  CAST(n_tokens AS DOUBLE) / CAST(tot_tokens AS DOUBLE) AS p_raw,
       |  pow(CAST(n_tokens AS DOUBLE), $MixAlpha) / tot_pow AS p_temp
       |FROM per CROSS JOIN tot ORDER BY source""".stripMargin

  // --------------------------------------- p57 length-quantile outliers
  /** Per-source length-outlier trim: documents outside the [q05, q95]
    * n_chars band of their OWN source (length norms differ per source, so
    * a global cut over- or under-trims every stratum). Exact interpolated
    * quantiles per source (Spark `percentile` ≡ DuckDB `quantile_cont`),
    * then the dimension-table-sized quantile frame joins back broadcast —
    * the corpus is scanned twice but never shuffled. */
  private def lengthOutliers(s: SparkSession, dir: String): DataFrame = {
    val q = docs(s, dir).groupBy(col("source"))
      .agg(expr("percentile(n_chars, 0.05)").as("lo"),
        expr("percentile(n_chars, 0.95)").as("hi"))
    docs(s, dir).join(broadcast(q), Seq("source"))
      .filter(col("n_chars") < col("lo") || col("n_chars") > col("hi"))
      .select(col("doc_id"), col("source"), col("n_chars"),
        col("lo"), col("hi"))
      .orderBy(col("doc_id"))
  }

  private val lengthOutliersSql =
    """WITH q AS (
      |  SELECT source, quantile_cont(n_chars, 0.05) AS lo,
      |         quantile_cont(n_chars, 0.95) AS hi
      |  FROM documents GROUP BY source)
      |SELECT doc_id, d.source, n_chars, lo, hi
      |FROM documents d JOIN q ON d.source = q.source
      |WHERE n_chars < lo OR n_chars > hi
      |ORDER BY doc_id""".stripMargin

  // ------------------------------------------------ p58 shingle novelty
  /** Content-novelty rate of the NEW snapshot against the OLD (same
    * doc_id-parity snapshot key as p55): per new document, the fraction of
    * its 3-token shingles never seen in the old corpus. This is the
    * incremental-crawl signal — a refresh whose novelty collapses toward 0
    * is re-crawling what the corpus already has; one spiking toward 1 is a
    * distribution break (or spam). Shapes: shingle explode (the persist is
    * the standard projection-collapse barrier, see simhashFingerprints),
    * a distinct agg on the old side, one hash-keyed left join (both sides
    * partitioned by shingle hash, unbounded key space), per-doc agg —
    * never an all-pairs comparison. */
  private def shingleNovelty(s: SparkSession, dir: String): DataFrame = {
    val hashed = tokenHashed(s, dir)
    val grams = hashed.filter(size(col("th")) >= 3)
      .select(col("doc_id"), explode(expr(PH.sparkShingles("th"))).as("g"))
    val oldSet = grams.filter(col("doc_id") % 2 === 0)
      .select(col("g")).distinct().withColumn("seen", lit(1))
    grams.filter(col("doc_id") % 2 === 1)
      .join(oldSet, Seq("g"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("seen").isNull, 1L).otherwise(0L)).as("n_novel"))
      .select(col("doc_id"), col("n_shingles"), col("n_novel"),
        (col("n_novel").cast("double") / col("n_shingles").cast("double"))
          .as("novelty_ratio"))
      .orderBy(col("doc_id"))
  }

  private val shingleNoveltySql =
    s"""WITH th AS (SELECT doc_id, ${PH.duckTokenHashes("text")} AS th FROM documents),
       |sh AS (SELECT doc_id, unnest(${PH.duckShingles("th")}) AS g
       |       FROM th WHERE len(th) >= 3),
       |olds AS (SELECT DISTINCT g FROM sh WHERE doc_id % 2 = 0),
       |j AS (SELECT sh.doc_id,
       |        CASE WHEN olds.g IS NULL THEN 1 ELSE 0 END AS novel
       |      FROM sh LEFT JOIN olds ON sh.g = olds.g
       |      WHERE sh.doc_id % 2 = 1)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
       |  CAST(sum(novel) AS BIGINT) AS n_novel,
       |  CAST(sum(novel) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS novelty_ratio
       |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ------------------------------------------- p64 boilerplate shingles
  /** Boilerplate detection by document frequency: the 3-token shingles
    * that occur in the most DISTINCT documents (nav bars, footers, cookie
    * banners — the content C4/RefinedWeb strip by exactly this statistic).
    * Distinct from p44, which measures within-corpus duplicated character
    * spans per document; this ranks corpus-wide repeated token sequences.
    * Shapes: per-doc DISTINCT shingle explode (dedup inside the doc is a
    * hash agg keyed by (doc, shingle) — unbounded), one df agg keyed by
    * shingle, a one-row total cross join, TakeOrdered top-20. */
  private def boilerplateShingles(s: SparkSession, dir: String): DataFrame = {
    val hashed = tokenHashed(s, dir)
    val grams = hashed.filter(size(col("th")) >= 3)
      .select(col("doc_id"), explode(expr(PH.sparkShingles("th"))).as("g"))
      .distinct() // one vote per document
    val nDocs = docs(s, dir).agg(count(lit(1)).as("n_docs"))
    grams.groupBy(col("g")).agg(count(lit(1)).as("df"))
      .crossJoin(nDocs) // one-row aggregate
      .select(col("g"), col("df"),
        (col("df").cast("double") / col("n_docs").cast("double")).as("df_ratio"))
      .orderBy(col("df").desc, col("g"))
      .limit(20)
  }

  private val boilerplateShinglesSql =
    s"""WITH th AS (SELECT doc_id, ${PH.duckTokenHashes("text")} AS th FROM documents),
       |sh AS (SELECT DISTINCT doc_id, unnest(${PH.duckShingles("th")}) AS g
       |       FROM th WHERE len(th) >= 3),
       |n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents)
       |SELECT g, CAST(count(*) AS BIGINT) AS df,
       |  CAST(count(*) AS DOUBLE) / CAST(n_docs AS DOUBLE) AS df_ratio
       |FROM sh CROSS JOIN n
       |GROUP BY g, n_docs
       |ORDER BY df DESC, g LIMIT 20""".stripMargin

  // ------------------------------------------------- p60 data-card stats
  /** Per-source "data card" descriptive statistics — the summary table
    * every released training set ships (docs, token volume, length
    * distribution, language spread). One hash agg keyed by source with
    * exact interpolated percentiles; output is dimension-table-sized. */
  private def dataCardStats(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("source"), col("lang"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tok"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("total_tokens"),
        avg(col("n_tok").cast("double")).as("mean_tokens"),
        expr("percentile(n_tok, 0.5)").as("p50_tokens"),
        expr("percentile(n_tok, 0.95)").as("p95_tokens"),
        countDistinct(col("lang")).as("n_langs"))
      .orderBy(col("source"))

  private val dataCardStatsSql =
    """WITH d AS (
      |  SELECT source, lang,
      |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tok
      |  FROM documents)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_tok) AS BIGINT) AS total_tokens,
      |  avg(CAST(n_tok AS DOUBLE)) AS mean_tokens,
      |  quantile_cont(n_tok, 0.5) AS p50_tokens,
      |  quantile_cont(n_tok, 0.95) AS p95_tokens,
      |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
      |FROM d GROUP BY source ORDER BY source""".stripMargin

  val all: Seq[Q] = Seq(
    Q("p25_decontaminate", decontaminate, decontaminateSql),
    Q("p26_repetition_signals", repetition, repetitionSql),
    Q("p27_shard_assignment", shardAssignment, shardAssignmentSql),
    Q("p28_random_projection", randomProjection, randomProjectionSql),
    Q("p29_domain_mix", domainMix, domainMixSql),
    Q("p55_vocab_drift", vocabDrift, vocabDriftSql),
    Q("p56_mixing_weights", mixingWeights, mixingWeightsSql),
    Q("p57_length_outliers", lengthOutliers, lengthOutliersSql),
    Q("p58_shingle_novelty", shingleNovelty, shingleNoveltySql),
    Q("p60_data_card_stats", dataCardStats, dataCardStatsSql),
    Q("p64_boilerplate_shingles", boilerplateShingles, boilerplateShinglesSql))
}
