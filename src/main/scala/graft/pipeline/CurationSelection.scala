package graft.pipeline

import graft.{Q, Tables}
import graft.operators.PositionalJoin
import graft.pipeline.{PortableHash => PH}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-6 curation/selection wave: SimHash hamming-band near-dup pairs,
  * per-cluster survivor selection, contamination attribution, and the
  * deterministic epoch shuffle a training-data loader needs.
  *
  * Scale design:
  *  - p45 joins on SimHash BANDS (never all pairs) and verifies popcount
  *    on candidates only. The fingerprint packs TWO independent 31-bit
  *    portable simhashes into 62 bits so bands are 16 bits wide — the
  *    width, not the band count, is what bounds collisions (n²/2^width);
  *    additional hash families widen further at larger corpora.
  *  - p46 windows partition by cluster label (unbounded key space) over
  *    the already-banded cluster labels; no new all-pairs work.
  *  - p47 attributes each training doc to its best-overlapping eval doc
  *    with a per-doc window — state bounded by candidate overlaps. The
  *    eval join is NOT hint-broadcast: this query's eval slice is a
  *    corpus fraction, so the planner decides (a real fixed-size eval
  *    suite auto-broadcasts under AQE's measured-size threshold).
  *  - p48 derives per-epoch ranks from [[PositionalJoin.globalIndex]]
  *    (range-partitioned two-pass positions — full parallelism, no
  *    data-sized SinglePartition) + an O(epochs) offset table; batch
  *    assignment is pure arithmetic after that.
  */
object CurationSelection {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  // ------------------------------------------- p45 simhash hamming bands
  /** Near-dup candidate pairs whose SimHash fingerprints agree on at least
    * one of 4 bands, verified by exact popcount on candidates only. The
    * verify threshold (≤ 3) matches the banding guarantee exactly —
    * pigeonhole over 4 bands catches every pair within hamming distance 3
    * — so recall at the emitted threshold is 1.0, not probabilistic.
    *
    * The fingerprint is 62 bits — two independent 31-bit SimHashes (token
    * multipliers 31/37, both in the portable oracle family) packed into
    * one long — so bands are ~16 bits wide: 8-bit bands (one 31-bit hash)
    * measured 129 s at sf1, collisions growing as n²/2^width. See
    * [[simhashFingerprints]] for the shingle basis that keeps band values
    * uniform. At larger corpora a third hash family widens bands again. */
  /** 62-bit content fingerprints over SHINGLE hashes (3-gram rolling
    * hashes), not unigram tokens: shingles live in a diverse space, so
    * majority-vote bits are near-uniform and band values spread. A
    * token-level simhash clusters badly on narrow vocabularies — this
    * corpus has 265 distinct tokens, every document shares most of them,
    * and the resulting band collisions made the join quadratic-ish
    * (measured 59 s at sf1; a df-based stopword filter cannot help when
    * the whole vocabulary is "frequent"). Sequence-level shingles are also
    * the stronger near-dup semantic — the same reason the MinHash family
    * (p06–p08) fingerprints shingles. Entirely narrow (scan-side) work:
    * no shuffle exists before the band join. Shingle-less docs (< 3
    * tokens) carry no sequence signal and are excluded. */
  private[graft] def simhashFingerprints(s: SparkSession, dir: String): DataFrame = {
    // The persist is a PROJECTION-COLLAPSE barrier, not a reuse cache:
    // sparkShingles references its token array 3× per element, and
    // collapsed into one projection Catalyst re-evaluates the whole
    // per-character token-hash transform for every element_at — O(tokens²)
    // per document (whole operator measured 25.7 s at sf0.1 collapsed,
    // 1.2 s with the barrier; 5.9 s at sf1). Same class as the
    // p31/LSH-signature persists; the harness cache-clear releases it,
    // MEMORY_AND_DISK spills at scale.
    val hashed = docs(s, dir)
      .withColumn("th", expr(PH.sparkTokenHashes("text")))
      .withColumn("thb", expr(PH.sparkTokenHashes("text", PH.TokMult2)))
      .select(col("doc_id"), col("th"), col("thb"))
      .pinned
    hashed
      .filter(size(col("th")) >= 3) // shingle-less docs: no sequence signal
      .withColumn("sh1", expr(PH.sparkShingles("th")))
      .withColumn("sh2", expr(PH.sparkShingles("thb")))
      .select(col("doc_id"),
        graft.functions.simhash64(col("sh1"))
          .bitwiseOR(shiftleft(graft.functions.simhash64(col("sh2")), 31))
          .as("h"))
  }

  private def simhashBandPairs(s: SparkSession, dir: String): DataFrame = {
    // persist the (doc_id, h) fingerprints — 16 bytes/doc — so the band
    // self-join's two sides read the cache instead of re-running the
    // double shingle+simhash transform per side (harness clearCache
    // releases it, as with the signature caches)
    val base = simhashFingerprints(s, dir)
      .pinned
    val bandCols = (0 to 3).map { j =>
      val mask = if (j == 3) 16383L else 65535L // 62 bits = 16+16+16+14
      struct(lit(j).as("band"), expr(s"(h >> ${16 * j}) & $mask").as("bv"))
    }
    val bands = base
      .select(col("doc_id"), col("h"), explode(array(bandCols: _*)).as("b"))
      .select(col("doc_id"), col("h"), col("b.band").as("band"), col("b.bv").as("bv"))
    val a = bands.select(col("band").as("band_a"), col("bv").as("bv_a"),
      col("doc_id").as("doc_a"), col("h").as("ha"))
    val b = bands.select(col("band").as("band_b"), col("bv").as("bv_b"),
      col("doc_id").as("doc_b"), col("h").as("hb"))
    // popcount verify INSIDE the join (residual condition): candidates die
    // during the band join instead of surviving to a distinct over the
    // full collision set — the distinct then dedups only true near-dup
    // pairs seen via multiple bands (measured 3.4s → ~1s at sf0.1)
    a.join(b, col("band_a") === col("band_b") && col("bv_a") === col("bv_b") &&
        col("doc_a") < col("doc_b") &&
        expr("bit_count(ha ^ hb) <= 3"))
      .select(col("doc_a"), col("doc_b"),
        expr("CAST(bit_count(ha ^ hb) AS BIGINT)").as("hamming"))
      .distinct()
      .orderBy(col("doc_a"), col("doc_b"))
  }

  private val simhashBandPairsSql = {
    val bits = DedupQueries.simhashBitsSqlFor("sh1")
    val bitsB = DedupQueries.simhashBitsSqlFor("sh2")
    s"""WITH raw AS (SELECT doc_id, ${PH.duckTokenHashes("text")} AS th,
       |       ${PH.duckTokenHashes("text", PH.TokMult2)} AS thb FROM documents),
       |shx AS (SELECT doc_id, len(th) AS n_toks, ${PH.duckShingles("th")} AS sh1,
       |        ${PH.duckShingles("thb")} AS sh2 FROM raw),
       |sh AS (SELECT doc_id, $bits + ($bitsB << 31) AS h FROM shx
       |       WHERE len(sh1) >= 1 AND n_toks >= 3),
       |bands AS (
       |  SELECT doc_id, h, 0 AS band, (h >> 0) & 65535 AS bv FROM sh
       |  UNION ALL SELECT doc_id, h, 1, (h >> 16) & 65535 FROM sh
       |  UNION ALL SELECT doc_id, h, 2, (h >> 32) & 65535 FROM sh
       |  UNION ALL SELECT doc_id, h, 3, (h >> 48) & 16383 FROM sh),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.h AS ha, b.h AS hb
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
       |FROM cand WHERE bit_count(xor(ha, hb)) <= 3
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  // ------------------------------------------------ p46 cluster survivors
  /** One survivor per near-dup cluster: the highest-uniqueness document
    * (distinct-token ratio), doc_id tie-break — duplicate texts have
    * identical scores, so the tie-break is load-bearing and deterministic
    * in both engines. */
  private def clusterSurvivors(s: SparkSession, dir: String): DataFrame = {
    val toks = split(trim(col("text")), "\\s+")
    val scored = docs(s, dir).select(col("doc_id"),
      (size(array_distinct(toks)).cast("double") / size(toks).cast("double"))
        .as("q"))
    val labels = DedupQueries.clusterLabels(s, dir, rounds = 4)
    val w = Window.partitionBy(col("label"))
    val wRank = w.orderBy(col("q").desc, col("doc_id"))
    labels.join(scored, "doc_id")
      .withColumn("n_docs", count(lit(1)).over(w))
      .withColumn("rk", row_number().over(wRank))
      .filter(col("rk") === 1)
      .select(col("label").as("cluster_id"), col("n_docs"),
        col("doc_id").as("survivor_doc"), col("q").as("survivor_q"))
      .orderBy(col("cluster_id"))
  }

  private val clusterSurvivorsSql =
    s"""WITH ${DedupQueries.clusterLabelCtes},
       |scored AS (SELECT doc_id,
       |  CAST(len(list_distinct(regexp_split_to_array(trim(text), '\\s+'))) AS DOUBLE)
       |    / CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS DOUBLE) AS q
       |  FROM documents)
       |SELECT cluster_id, n_docs, doc_id AS survivor_doc, q AS survivor_q FROM (
       |  SELECT l.label AS cluster_id, s.doc_id, s.q,
       |    CAST(count(*) OVER (PARTITION BY l.label) AS BIGINT) AS n_docs,
       |    row_number() OVER (PARTITION BY l.label ORDER BY s.q DESC, s.doc_id) AS rk
       |  FROM l4 l JOIN scored s USING (doc_id))
       |WHERE rk = 1 ORDER BY cluster_id""".stripMargin

  // --------------------------------------- p47 contamination attribution
  /** Per-training-doc contamination attribution: the eval-set document
    * sharing the most 8-gram fingerprints, with the shared count and the
    * overlap ratio against the training doc's own fingerprint set. The
    * eval side (doc_id % 17 = 0, as p25) is broadcast. */
  private def contamAttribution(s: SparkSession, dir: String): DataFrame = {
    // the shared shingle-pairs stage (CorpusOps) serves all three
    // consumers (eval side, the shared join, the per-doc size agg)
    val pairs = CorpusOps.shinglePairs(s, dir)
    val eval = pairs.filter(pmod(col("doc_id"), lit(17)) === 0)
      .select(col("doc_id").as("eval_doc"), col("shingle"))
    val train = pairs.filter(pmod(col("doc_id"), lit(17)) =!= 0)
    val trainSize = train.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"))
    // NO forced broadcast (r8): this query's eval split is doc_id%17 — a
    // corpus FRACTION, so a pinned broadcast grows linearly with the
    // corpus (at sf10 the ~3.5M-row build was 100+ MB and its collect/
    // build dominated with 24–60 s run-to-run swings; at 100 TB it simply
    // OOMs). A plain equi-join on the diverse shingle key shuffles both
    // sides uniformly, and when the eval suite IS genuinely small (the
    // production case) AQE's threshold broadcasts it automatically.
    val shared = train.join(eval, Seq("shingle"))
      .groupBy(col("doc_id"), col("eval_doc"))
      .agg(count(lit(1)).as("n_shared"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("n_shared").desc, col("eval_doc"))
    shared.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .join(trainSize, "doc_id")
      .select(col("doc_id"), col("eval_doc"), col("n_shared"),
        (col("n_shared").cast("double") / col("n_shingles").cast("double"))
          .as("overlap_ratio"))
      .orderBy(col("doc_id"))
  }

  private val contamAttributionSql =
    s"""WITH th AS (SELECT doc_id, ${PH.duckTokenHashes("text")} AS th FROM documents),
       |sh AS (SELECT doc_id, ${PH.duckShingles("th")} AS sh FROM th),
       |pairs AS (SELECT DISTINCT doc_id, unnest(sh) AS shingle FROM sh),
       |eval AS (SELECT doc_id AS eval_doc, shingle FROM pairs WHERE doc_id % 17 = 0),
       |train AS (SELECT * FROM pairs WHERE doc_id % 17 <> 0),
       |tsize AS (SELECT doc_id, count(*) AS n_shingles FROM train GROUP BY 1),
       |shared AS (
       |  SELECT t.doc_id, e.eval_doc, count(*) AS n_shared
       |  FROM train t JOIN eval e USING (shingle) GROUP BY 1, 2)
       |SELECT s.doc_id, s.eval_doc, s.n_shared,
       |  CAST(s.n_shared AS DOUBLE) / CAST(z.n_shingles AS DOUBLE) AS overlap_ratio
       |FROM shared s JOIN tsize z USING (doc_id)
       |QUALIFY row_number() OVER (PARTITION BY s.doc_id
       |                           ORDER BY s.n_shared DESC, s.eval_doc) = 1
       |ORDER BY s.doc_id""".stripMargin

  // ------------------------------------------------- p48 epoch shuffle
  private val ShufP = 2147483647L // 2^31 - 1
  private val ShufA = 1103515245L
  private val ShufB = 1013904223L
  private val BatchSize = 64L

  /** Deterministic per-epoch global shuffle + micro-batch assignment: each
    * (epoch, doc) gets a portable hash key, per-epoch ranks come from the
    * range-partitioned global index (epoch is the leading sort key, so
    * per-epoch rank = global rank − the epoch's broadcast offset), and
    * batches are fixed-size rank blocks. Every run and every engine agrees
    * — the property an interruptible training loader needs. */
  private def epochShuffle(s: SparkSession, dir: String): DataFrame = {
    val keyed = docs(s, dir).select(col("doc_id"))
      .withColumn("epoch", explode(array(lit(0L), lit(1L))))
      .withColumn("h", expr(
        s"((doc_id % ${ShufP}L) * ${ShufA}L + epoch * ${ShufB}L) % ${ShufP}L"))
    val idx = PositionalJoin.globalIndex(keyed,
      Seq(col("epoch"), col("h"), col("doc_id")), "grn")
    val offs = idx.groupBy(col("epoch")).agg(min(col("grn")).as("e0"))
    idx.join(broadcast(offs), "epoch")
      .withColumn("rank_in_epoch", col("grn") - col("e0") + 1)
      .withColumn("batch_id", expr(s"(rank_in_epoch - 1) div $BatchSize"))
      .select(col("epoch"), col("doc_id"), col("h"), col("rank_in_epoch"),
        col("batch_id"))
      .orderBy(col("epoch"), col("rank_in_epoch"))
  }

  private val epochShuffleSql =
    s"""WITH e AS (
       |  SELECT doc_id, epoch FROM documents
       |  CROSS JOIN (SELECT CAST(unnest([0, 1]) AS BIGINT) AS epoch)),
       |k AS (SELECT doc_id, epoch,
       |        ((doc_id % $ShufP) * $ShufA + epoch * $ShufB) % $ShufP AS h
       |      FROM e)
       |SELECT epoch, doc_id, h,
       |  row_number() OVER (PARTITION BY epoch ORDER BY h, doc_id) AS rank_in_epoch,
       |  CAST((row_number() OVER (PARTITION BY epoch ORDER BY h, doc_id) - 1)
       |       // $BatchSize AS BIGINT) AS batch_id
       |FROM k ORDER BY epoch, rank_in_epoch""".stripMargin

  val all: Seq[Q] = Seq(
    Q("p45_simhash_band_pairs", simhashBandPairs, simhashBandPairsSql),
    Q("p46_cluster_survivors", clusterSurvivors, clusterSurvivorsSql),
    Q("p47_contam_attribution", contamAttribution, contamAttributionSql),
    Q("p48_epoch_shuffle", epochShuffle, epochShuffleSql))
}
