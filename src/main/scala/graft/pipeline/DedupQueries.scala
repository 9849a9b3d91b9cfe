package graft.pipeline

import graft.{Q, Tables}
import graft.pipeline.{PortableHash => PH}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines (SURVEY north-star
  * extensions): exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine
  * near-dup.
  *
  * Scale design (the point at 100 TB):
  *  - Exact dedup = hash-groupBy → one shuffle on a 128-bit digest, perfectly
  *    parallel, no skew (hash keys are uniform).
  *  - MinHash: signatures are computed scan-side with the codegen'd one-pass
  *    MinHashSignature kernel (no UDF, no shuffle); candidate pairs come from
  *    a *band equi-join* (shuffle on (band, signature) — the canonical LSH
  *    join), never a cross join.
  *  - SimHash / Jaccard verify run only on blocked/banded candidates.
  *  - All "randomness" is compile-time constants from a fixed seed, so every
  *    run (and every executor) agrees.
  *
  * Every hash is the portable polynomial family from [[PortableHash]], so
  * each operator carries a bit-exact DuckDB oracle (generated from the same
  * constants) instead of a rows-only check.
  */
object DedupQueries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  /** Exact duplicate grouping on a content digest. */
  private def exact(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .groupBy(md5(col("text")).as("content_md5"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy(col("keep_id"))

  private val exactSql =
    """SELECT md5(text) AS content_md5, min(doc_id) AS keep_id, count(*) AS n_copies
      |FROM documents GROUP BY md5(text) ORDER BY keep_id""".stripMargin

  // ---------------------------------------------------------------- MinHash

  /** 3-word shingle hashes per document (the discriminative unit — unigram
    * tokens from a small vocabulary would make every pair look similar).
    * Shingles combine per-token poly-hashes numerically — building the
    * shingle *strings* just to hash them costs ~5× more (measured). */
  private[graft] def shingleHashes(d: DataFrame): DataFrame =
    d.withColumn("th", expr(PH.sparkTokenHashes("text")))
      .withColumn("sh", expr(PH.sparkShingles("th")))

  /** doc_id + 32-component minhash signature array, computed in ONE pass
    * over the shingle hashes by the native MinHashSignature expression.
    * Entirely narrow (scan-side) work. */
  private[pipeline] def signatures(d: DataFrame): DataFrame =
    shingleHashes(d)
      .select(col("doc_id"),
        graft.functions.minhash_sig(col("sh"), PH.perms.map(_._1), PH.perms.map(_._2), PH.P)
          .as("sig"))

  /** LSH band rows: (doc_id, band, band_sig) — the join key for candidates.
    * Band signatures fold the band's 4 components with the same portable
    * arithmetic the oracle uses. */
  private[pipeline] def bandRows(sig: DataFrame): DataFrame = {
    val bandStructs = (0 until PH.Bands).map { bnd =>
      struct(lit(bnd).as("band"), expr(PH.sparkBandSig("sig", bnd)).as("band_sig"))
    }
    sig.select(col("doc_id"), explode(array(bandStructs: _*)).as("b"))
      .select(col("doc_id"), col("b.band").as("band"), col("b.band_sig").as("band_sig"))
  }

  /** Signature stage, pinned and SHARED across queries (keyed by dir): the
    * 32-permutation × shingle transform is the expensive narrow stage, and
    * within one query both sides of the band self-join consume it (without
    * the cache it runs twice), while ACROSS a harness run six queries
    * (p06/p07/p22/p65/p67/p68) rebuild the identical stage — the
    * [[Pins.shared]] memo computes it once per run. Released at harness
    * end ([[Pins.releaseAll]]); warm hits are reported in the bench
    * artifact so shared-stage reuse is never mistaken for cold-path
    * speed. */
  private[pipeline] def cachedSignatures(s: SparkSession, dir: String): DataFrame =
    Pins.shared(s, dir, "lsh-signatures")(signatures(docs(s, dir)))

  /** Distinct LSH candidate pairs (doc_a < doc_b) from the band equi-join
    * over CACHED signatures — shared across every pair-consuming query
    * (p06, p07, p22, p65, p67, p68, and the edge builders) through the
    * same per-dir memo as the signatures, so the band self-join also runs
    * once per harness run instead of once per consumer. */
  private[pipeline] def candidatePairs(s: SparkSession, dir: String): DataFrame =
    Pins.shared(s, dir, "lsh-candidate-pairs") {
      val bands = bandRows(cachedSignatures(s, dir))
      val a = bands.select(col("band").as("band_a"), col("band_sig").as("sig_a"),
        col("doc_id").as("doc_a"))
      val b = bands.select(col("band").as("band_b"), col("band_sig").as("sig_b"),
        col("doc_id").as("doc_b"))
      a.join(b, col("band_a") === col("band_b") && col("sig_a") === col("sig_b")
          && col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b"))
        .distinct()
    }

  /** MinHash-LSH candidate duplicate pairs via band equi-join (a < b). */
  private def minhashPairs(s: SparkSession, dir: String): DataFrame =
    candidatePairs(s, dir).orderBy(col("doc_a"), col("doc_b"))

  private val minhashPairsSql =
    s"""WITH ${PH.duckLshCtes("documents")}
       |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |FROM bands a JOIN bands b
       |  ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
       |ORDER BY doc_a, doc_b""".stripMargin

  /** MinHash-estimated Jaccard for every candidate pair (fraction of the 32
    * signature components that agree). */
  private def minhashJaccard(s: SparkSession, dir: String): DataFrame = {
    val sig = cachedSignatures(s, dir)
    candidatePairs(s, dir)
      .join(sig.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sig", "sa"), "doc_a")
      .join(sig.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sig", "sb"), "doc_b")
      .withColumn("est_jaccard",
        expr(s"aggregate(zip_with(sa, sb, (x, y) -> IF(x = y, 1, 0)), 0, (acc, v) -> acc + v) / cast(${PH.MinhashPerms} as double)"))
      .select(col("doc_a"), col("doc_b"), col("est_jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  private val minhashJaccardSql = {
    val matches = (1 to PH.MinhashPerms)
      .map(k => s"(CASE WHEN sa.sig[$k] = sb.sig[$k] THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""WITH ${PH.duckLshCtes("documents")},
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id)
       |SELECT c.doc_a, c.doc_b,
       |  CAST($matches AS DOUBLE) / CAST(${PH.MinhashPerms} AS DOUBLE) AS est_jaccard
       |FROM cand c
       |JOIN sig sa ON sa.doc_id = c.doc_a
       |JOIN sig sb ON sb.doc_id = c.doc_b
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  // ------------------------------------------------------- n-gram Jaccard
  /** Exact token-set Jaccard with **PPJoin prefix filtering** — the
    * scalable set-similarity join. A full inverted-index join (every doc ×
    * every distinct shingle) generates candidates super-linearly when
    * shingles repeat across the corpus (measured 1.2 s → 23 s for sf0.1 →
    * sf1). The prefix-filter principle makes it near-linear and is
    * *lossless* for a Jaccard threshold t: if J(A,B) ≥ t the two docs must
    * share at least one token among each one's `|X| − ⌈t·|X|⌉ + 1` rarest
    * tokens under any fixed global token order. So:
    *   1. global doc-frequency per shingle (one wordcount shuffle);
    *   2. per doc, keep only the prefix of rarest shingles (window over
    *      doc_id, ordered by (df, tok) — a total order shared by all docs);
    *   3. candidates = prefix-token equi-join on (source, token) — hot
    *      shingles are excluded from prefixes, so no quadratic blowup;
    *   4. exact verify: array_intersect over the candidates' full gram
    *      sets, then the threshold filter.
    * ⌈0.8·n⌉ is computed in exact integer arithmetic ((4n+4) div 5) — a
    * float ceil can round the prefix one short and silently drop pairs. */
  private def ngramJaccard(s: SparkSession, dir: String): DataFrame = {
    // persisted: the prefix path and both verify joins consume the gram
    // arrays (released by the harness after the consuming action)
    val d = shingleHashes(docs(s, dir))
      .withColumn("grams", array_distinct(col("sh")))
      .select(col("doc_id"), col("source"),
        col("grams"), size(col("grams")).as("nt"))
      .pinned
    val toks = d.select(col("doc_id"), col("source"), col("nt"),
      explode(col("grams")).as("tok"))
    val dfreq = toks.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("df"), col("tok"))
    val prefix = toks.join(dfreq, "tok")
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= col("nt") - expr("(nt * 4 + 4) div 5") + 1)
    val a = prefix.select(col("source").as("src"), col("tok"), col("doc_id").as("doc_a"))
    val b = prefix.select(col("source").as("src"), col("tok"), col("doc_id").as("doc_b"))
    val cand = a.join(b, Seq("src", "tok"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct()
    cand
      .join(d.select(col("doc_id").as("doc_a"), col("grams").as("ga"), col("nt").as("nt_a")), "doc_a")
      .join(d.select(col("doc_id").as("doc_b"), col("grams").as("gb"), col("nt").as("nt_b")), "doc_b")
      .withColumn("common", size(array_intersect(col("ga"), col("gb"))))
      .withColumn("jaccard", col("common").cast("double")
        / (col("nt_a") + col("nt_b") - col("common")).cast("double"))
      .filter(col("jaccard") >= 0.8)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  private val ngramJaccardSql =
    s"""WITH th AS (SELECT doc_id, source, ${PH.duckTokenHashes("text")} AS th FROM documents),
       |sh AS (SELECT doc_id, source, ${PH.duckShingles("th")} AS sh FROM th),
       |d AS (SELECT doc_id, source, list_distinct(sh) AS grams FROM sh),
       |toks AS (SELECT doc_id, source, len(grams) AS nt, unnest(grams) AS tok FROM d),
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.nt AS nt_a, b.nt AS nt_b,
       |         count(*) AS common
       |  FROM toks a JOIN toks b ON a.source = b.source AND a.tok = b.tok
       |  WHERE a.doc_id < b.doc_id
       |  GROUP BY 1, 2, 3, 4)
       |SELECT doc_a, doc_b,
       |  CAST(common AS DOUBLE) / CAST(nt_a + nt_b - common AS DOUBLE) AS jaccard
       |FROM pairs
       |WHERE CAST(common AS DOUBLE) / CAST(nt_a + nt_b - common AS DOUBLE) >= 0.8
       |ORDER BY doc_a, doc_b""".stripMargin

  // --------------------------------------------------------------- SimHash
  /** SimHash per document + 16-bit suffix bucket (hamming-neighbor
    * candidates share buckets). The bit-vote kernel is a native codegen'd
    * Catalyst expression (graft.functions.SimHash64) over the portable
    * 31-bit token poly-hashes — bits 31..63 of the vote are structurally 0,
    * so the bucket comes from the low 16 bits. */
  private def simhash(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .withColumn("th", expr(PH.sparkTokenHashes("text")))
      .withColumn("simhash64", graft.functions.simhash64(col("th")))
      .select(col("doc_id"), col("simhash64"),
        expr("simhash64 & 65535").as("bucket16"))
      .sortedOnce("doc_id") // shuffle-free child: avoid the sampler re-run

  // per-bit majority vote, mirroring SimHash64: bit j set iff strictly
  // more token hashes have bit j set than not (31 meaningful bits: token
  // hashes are < 2^31). Shared with the hamming-band pairs oracle (p45),
  // which evaluates it over a second token-hash column too.
  private[pipeline] def simhashBitsSqlFor(thCol: String): String =
    (0 to 30).map { j =>
      s"(CASE WHEN list_sum(list_transform($thCol, h -> CASE WHEN ((h >> $j) & 1) = 1 THEN 1 ELSE -1 END)) > 0 THEN CAST(${1L << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    }.mkString("(", " + ", ")")

  private val simhashSql = {
    val bits = simhashBitsSqlFor("th")
    s"""WITH th AS (SELECT doc_id, ${PH.duckTokenHashes("text")} AS th FROM documents)
       |SELECT doc_id, $bits AS simhash64, $bits & 65535 AS bucket16
       |FROM th ORDER BY doc_id""".stripMargin
  }

  // --------------------------------------------- embedding cosine near-dup
  /** Near-duplicate pairs by embedding cosine over LSH-bucketed candidates
    * (random-hyperplane signatures, fixed seed). */
  private def embeddingNearDup(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(s, dir, "embeddings")
    val bucketed = Similarity.withLshBucket(emb, PH.planes(8, 64, seed = 7))
    val a = bucketed.select(col("bucket").as("bk_a"), col("vec_id").as("vec_a"),
      col("embedding").as("va"))
    val b = bucketed.select(col("bucket").as("bk_b"), col("vec_id").as("vec_b"),
      col("embedding").as("vb"))
    a.join(b, col("bk_a") === col("bk_b") && col("vec_a") < col("vec_b"))
      .withColumn("cosine", graft.functions.vec_cosine(col("va"), col("vb")))
      // the synthetic embeddings are near-random (max pairwise cosine ≈ 0.48)
      // — 0.2 sits at ~p99 of the pair distribution, so "near-dup" is
      // meaningful while the candidate set stays small.
      .filter(col("cosine") >= 0.2)
      .select(col("vec_a"), col("vec_b"), col("cosine"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  private val embeddingNearDupSql = {
    val ps = PH.planes(8, 64, seed = 7)
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |bk AS (SELECT vec_id, v, ${PH.duckLshBucket("v", ps)} AS bucket FROM e)
       |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |  ${PH.duckCosine("a.v", "b.v")} AS cosine
       |FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
       |WHERE ${PH.duckCosine("a.v", "b.v")} >= 0.2
       |ORDER BY vec_a, vec_b""".stripMargin
  }

  // ------------------------------------------------------ dedup clustering
  /** Duplicate CLUSTERS from the pairwise LSH candidates: connected
    * components by min-label propagation (each doc starts labeled with its
    * own id; every round takes the min over neighbors). Pairs alone
    * under-count duplicates — A~B and B~C must collapse to ONE keeper —
    * and at corpus scale this is the canonical iterative join: per round
    * one shuffle on the edge key, state one label per doc, no driver
    * collect. The declared query runs a FIXED 4 rounds so the DuckDB
    * oracle (the same 4 rounds unrolled as CTEs) is equal by construction;
    * [[dedupClustersConverged]] iterates to fixpoint for callers (the
    * candidate graph's components here have tiny diameters — PipelineSpec
    * asserts 4 rounds already reach it). */
  /** Bidirectional candidate edges, persisted (consumed once per round).
    * Signatures come CACHED: the self-join evaluates its two sides
    * independently, and without the cache the 32-permutation signature
    * transform (the expensive narrow stage) runs twice. */
  private def candidateEdges(s: SparkSession, dir: String): DataFrame = {
    val cand = candidatePairs(s, dir)
    cand.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(cand.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .pinned
  }

  /** One propagation round, materialized: each round references the
    * previous round TWICE (neighbor lookup + outer join), so the logical
    * plan would DOUBLE per round (2^rounds copies of the base plan) if the
    * lineage were left attached. `localCheckpoint(true)`, NOT `persist`:
    * persist caches the data but keeps the full plan, and by ~10 rounds
    * plan stringification alone OOMs the driver (same failure
    * [[graft.scale.Scale.connectedComponents]] documents). The eager
    * checkpoint truncates lineage to the materialized RDD; superseded
    * rounds' blocks are released by the ContextCleaner once unreferenced.
    * At cluster scale this is the standard iterate-and-checkpoint shape. */
  private[graft] def propagate(edges: DataFrame, labels: DataFrame): DataFrame = {
    val nbrMin = edges
      .join(labels.select(col("doc_id").as("dst"), col("label").as("nl")), "dst")
      .groupBy(col("src").as("doc_id")).agg(min(col("nl")).as("mnl"))
    labels.join(nbrMin, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        least(col("label"), coalesce(col("mnl"), col("label"))).as("label"))
      .localCheckpoint(true)
  }

  /** Min-label rounds until no label changes (or maxRounds). Per round the
    * driver sees ONE boolean — the loop condition — never the data; plan
    * size stays flat across rounds because [[propagate]] checkpoints
    * (PlanBoundSpec asserts this on a 200-link chain for 30+ rounds). */
  private[graft] def propagateToFixpoint(
      edges: DataFrame, init: DataFrame, maxRounds: Int): DataFrame = {
    var labels = init
    var converged = false
    var r = 0
    while (!converged && r < maxRounds) {
      val next = propagate(edges, labels)
      converged = next.join(labels.withColumnRenamed("label", "prev"), "doc_id")
        .filter(col("label") =!= col("prev")).isEmpty
      labels = next
      r += 1
    }
    labels
  }

  private[graft] def clusterLabels(s: SparkSession, dir: String, rounds: Int): DataFrame = {
    val edges = candidateEdges(s, dir)
    var labels = docs(s, dir).select(col("doc_id"), col("doc_id").as("label"))
    for (_ <- 1 to rounds) labels = propagate(edges, labels)
    labels
  }

  private def dedupClusters(s: SparkSession, dir: String): DataFrame =
    clusterLabels(s, dir, rounds = 4)
      .groupBy(col("label").as("cluster_id"))
      .agg(count(lit(1)).as("n_docs"), max(col("doc_id")).as("max_doc"))
      .orderBy(col("cluster_id"))

  /** Fixpoint variant: propagate until no label changes, re-using each
    * round's materialized labels (per round the driver sees one boolean —
    * the loop condition, never the data). */
  def dedupClustersConverged(s: SparkSession, dir: String, maxRounds: Int = 50): DataFrame =
    propagateToFixpoint(
      candidateEdges(s, dir),
      docs(s, dir).select(col("doc_id"), col("doc_id").as("label")),
      maxRounds)

  /** Bucket-star candidate edges: each LSH bucket contributes a star
    * (every member → the bucket's min doc_id) instead of all pairs. Same
    * CONNECTIVITY as [[candidateEdges]] — any two docs sharing a bucket
    * are joined through the bucket hub — at O(bucket) edges per bucket
    * instead of O(bucket²), which is the difference between linear and
    * quadratic work on the popular buckets a 100 TB corpus always has
    * (boilerplate, templates). One window shuffle on (band, band_sig)
    * replaces the self-join, and singleton buckets drop out for free
    * (min == self). ONLY valid for consumers that run components to
    * convergence (the hub path adds one hop, so a fixed-round min-label
    * pass sees different intermediate labels); the 4-round-pinned p24/p46
    * oracle queries keep the all-pairs graph. */
  private[pipeline] def starCandidateEdges(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band"), col("band_sig"))
    bandRows(signatures(docs(s, dir)))
      .withColumn("m", min(col("doc_id")).over(w))
      .filter(col("doc_id") =!= col("m"))
      .select(col("m").as("src"), col("doc_id").as("dst"))
      .distinct()
      .pinned
  }

  /** O(log n)-round variant of [[dedupClustersConverged]]: the LSH
    * candidate graph through [[graft.scale.Scale.connectedComponents]]
    * (alternating star rounds). Same labels (component = min doc_id);
    * preferable when near-dup chains are long — round count no longer
    * scales with chain length (ScaleSpec pins equality on both the real
    * candidate graph and a pathological 200-link chain). Feeds the
    * bucket-star edge set, not all pairs: components are identical
    * (ScaleSpec's star-vs-fixpoint equality is the proof) and the edge
    * build is linear in band rows. */
  def dedupClustersStar(s: SparkSession, dir: String, maxRounds: Int = 50): DataFrame = {
    val comps = graft.scale.Scale.connectedComponents(
      starCandidateEdges(s, dir), maxRounds)
    docs(s, dir)
      .join(comps.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("label"))
  }

  /** p30: the SCALE-PATH clustering in the oracle gate — same
    * (cluster_id, n_docs, max_doc) output as p24, but labels come from the
    * O(log n) alternating-star components rather than O(diameter) min-label
    * rounds. The oracle stays the min-label CTE: component = min reachable
    * doc_id on both paths, and ScaleSpec pins the label equality, so the
    * variant you would actually run at 100 TB is the one carrying the green
    * CORRECTNESS row. */
  private def dedupClustersStarAgg(s: SparkSession, dir: String): DataFrame =
    dedupClustersStar(s, dir)
      .groupBy(col("label").as("cluster_id"))
      .agg(count(lit(1)).as("n_docs"), max(col("doc_id")).as("max_doc"))
      .orderBy(col("cluster_id"))

  /** The LSH-band → candidate-edge → 4-round min-label CTE chain, ending in
    * `l4(doc_id, label)`. Shared by the p24/p30 oracle and the
    * cluster-survivor oracle (p46). */
  private[pipeline] val clusterLabelCtes: String = {
    def round(prev: String, cur: String): String =
      s"""$cur AS (
         |  SELECT d.doc_id, least(d.label, coalesce(m.mnl, d.label)) AS label
         |  FROM $prev d LEFT JOIN (
         |    SELECT e.src AS doc_id, min(l.label) AS mnl
         |    FROM edges e JOIN $prev l ON l.doc_id = e.dst GROUP BY 1) m
         |  USING (doc_id))""".stripMargin
    s"""${PH.duckLshCtes("documents")},
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id),
       |edges AS (SELECT doc_a AS src, doc_b AS dst FROM cand
       |          UNION ALL SELECT doc_b AS src, doc_a AS dst FROM cand),
       |l0 AS (SELECT doc_id, doc_id AS label FROM documents),
       |${round("l0", "l1")},
       |${round("l1", "l2")},
       |${round("l2", "l3")},
       |${round("l3", "l4")}""".stripMargin
  }

  private val dedupClustersSql =
    s"""WITH $clusterLabelCtes
       |SELECT label AS cluster_id, count(*) AS n_docs, max(doc_id) AS max_doc
       |FROM l4 GROUP BY 1 ORDER BY cluster_id""".stripMargin

  // -------------------------------------------- edit-distance verification
  /** Character-level verification of the MinHash-LSH candidates: exact
    * Levenshtein distance + normalized similarity per candidate pair. The
    * expensive O(len²) kernel runs ONLY on banded candidates (never all
    * pairs) — the standard second stage of a fuzzy-dedup pipeline, and the
    * strictest near-dup signal available without semantics. Uses the
    * engine's registered byte-level `levenshtein`
    * ([[graft.functions.StringSimilarity]]) — DuckDB's exact semantics on
    * ANY input (Spark's builtin counts code points, which diverges on
    * non-ASCII), so the oracle is exact by construction. */
  private def editDistancePairs(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"), col("text"))
    candidatePairs(s, dir)
      .join(d.select(col("doc_id").as("doc_a"), col("text").as("ta")), "doc_a")
      .join(d.select(col("doc_id").as("doc_b"), col("text").as("tb")), "doc_b")
      .withColumn("edit_dist", expr("CAST(levenshtein(ta, tb) AS INT)"))
      .withColumn("edit_sim",
        lit(1.0) - col("edit_dist").cast("double")
          / greatest(length(col("ta")), length(col("tb"))).cast("double"))
      .select(col("doc_a"), col("doc_b"), col("edit_dist"), col("edit_sim"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  private val editDistancePairsSql =
    s"""WITH ${PH.duckLshCtes("documents")},
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id)
       |SELECT c.doc_a, c.doc_b,
       |  CAST(levenshtein(da.text, db.text) AS INTEGER) AS edit_dist,
       |  1.0::DOUBLE - CAST(levenshtein(da.text, db.text) AS DOUBLE)
       |    / CAST(greatest(length(da.text), length(db.text)) AS DOUBLE) AS edit_sim
       |FROM cand c
       |JOIN documents da ON da.doc_id = c.doc_a
       |JOIN documents db ON db.doc_id = c.doc_b
       |ORDER BY doc_a, doc_b""".stripMargin

  // ------------------------------------------- fuzzy match verification
  /** Fuzzy-duplicate verdicts over the LSH candidates with the DuckDB
    * text-similarity scalars: Jaro-Winkler (prefix-weighted, the
    * record-linkage standard) plus normalized Damerau-Levenshtein (true
    * transposition-aware distance). Like p22, the O(len²) kernels run ONLY
    * on banded candidate pairs — never all pairs — so the cost scales with
    * the near-dup rate, not the corpus. Normalization uses byte lengths
    * (octet_length) to match the byte-level kernels exactly in both
    * engines. */
  private def fuzzyVerify(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"), col("text"))
    candidatePairs(s, dir)
      .join(d.select(col("doc_id").as("doc_a"), col("text").as("ta")), "doc_a")
      .join(d.select(col("doc_id").as("doc_b"), col("text").as("tb")), "doc_b")
      .withColumn("jw", expr("jaro_winkler_similarity(ta, tb)"))
      .withColumn("dl_dist", expr("CAST(damerau_levenshtein(ta, tb) AS BIGINT)"))
      .withColumn("dl_sim",
        lit(1.0) - col("dl_dist").cast("double")
          / greatest(octet_length(col("ta")), octet_length(col("tb"))).cast("double"))
      .withColumn("is_dup", col("jw") >= 0.9 && col("dl_sim") >= 0.8)
      .select(col("doc_a"), col("doc_b"), col("jw"), col("dl_dist"),
        col("dl_sim"), col("is_dup"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  private val fuzzyVerifySql =
    s"""WITH ${PH.duckLshCtes("documents")},
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id)
       |SELECT c.doc_a, c.doc_b,
       |  jaro_winkler_similarity(da.text, db.text) AS jw,
       |  CAST(damerau_levenshtein(da.text, db.text) AS BIGINT) AS dl_dist,
       |  1.0::DOUBLE - CAST(damerau_levenshtein(da.text, db.text) AS DOUBLE)
       |    / CAST(greatest(strlen(da.text), strlen(db.text)) AS DOUBLE)
       |    AS dl_sim,
       |  (jaro_winkler_similarity(da.text, db.text) >= 0.9 AND
       |   1.0::DOUBLE - CAST(damerau_levenshtein(da.text, db.text) AS DOUBLE)
       |     / CAST(greatest(strlen(da.text), strlen(db.text)) AS DOUBLE)
       |     >= 0.8) AS is_dup
       |FROM cand c
       |JOIN documents da ON da.doc_id = c.doc_a
       |JOIN documents db ON db.doc_id = c.doc_b
       |ORDER BY doc_a, doc_b""".stripMargin

  // ------------------------------------------------- stratified sampling
  /** Deterministic stratified sample: the k "first" documents per
    * (source, lang) stratum under poly-hash order — balanced subcorpora
    * with run-to-run (and engine-to-engine) stability, the sampling shape
    * a reproducible training mix needs. One shuffle on the stratum key;
    * rank state is per stratum. */
  private def stratifiedSample(s: SparkSession, dir: String): DataFrame = {
    val k = 5
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"), col("lang"))
      .orderBy(col("hk"), col("doc_id"))
    docs(s, dir)
      .withColumn("hk", expr(PH.sparkCharHash("text")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("source"), col("lang"), col("rnk"), col("doc_id"), col("n_chars"))
      .orderBy(col("source"), col("lang"), col("rnk"))
  }

  private val stratifiedSampleSql =
    s"""SELECT source, lang, CAST(rnk AS INTEGER) AS rnk, doc_id, n_chars
       |FROM (
       |  SELECT source, lang, doc_id, n_chars,
       |         row_number() OVER (PARTITION BY source, lang
       |                            ORDER BY ${PH.duckCharHash("text")}, doc_id) AS rnk
       |  FROM documents) t
       |WHERE rnk <= 5
       |ORDER BY source, lang, rnk""".stripMargin

  // ------------------------------------- p62 leakage-safe cluster split
  private val SplitBuckets = 10L
  private val TrainBuckets = 8L // 80/20

  /** Contamination-safe train/heldout split: the split key is the doc's
    * near-dup CLUSTER label, not the doc itself, so two near-duplicate
    * documents can never land on opposite sides of the split (the classic
    * eval-leakage bug a doc-hash split has: train on one copy, test on its
    * near-dup). Labels come from the O(log n) star components (the 100 TB
    * path, label-equality pinned by ScaleSpec); the bucket is the shared
    * p27 affine hash of the label — deterministic across engines, runs,
    * and cluster sizes. Zero shuffle beyond the component rounds: the
    * bucket/split are narrow projections over (doc_id, label). */
  private def clusterSafeSplit(s: SparkSession, dir: String): DataFrame = {
    val (a, b) = (1103515245L, 12345L)
    dedupClustersStar(s, dir)
      .withColumn("bucket",
        pmod(pmod(col("label"), lit(PH.P)) * a + b, lit(PH.P)) % SplitBuckets)
      .select(col("doc_id"), col("label").as("cluster_id"), col("bucket"),
        when(col("bucket") < TrainBuckets, "train").otherwise("heldout")
          .as("split"))
      .orderBy(col("doc_id"))
  }

  private val clusterSafeSplitSql =
    s"""WITH $clusterLabelCtes
       |SELECT doc_id, label AS cluster_id,
       |  ((label % ${PH.P}) * 1103515245 + 12345) % ${PH.P} % $SplitBuckets AS bucket,
       |  CASE WHEN ((label % ${PH.P}) * 1103515245 + 12345) % ${PH.P} % $SplitBuckets
       |            < $TrainBuckets
       |       THEN 'train' ELSE 'heldout' END AS split
       |FROM l4 ORDER BY doc_id""".stripMargin

  val all: Seq[Q] = Seq(
    Q("p05_dedup_exact", exact, exactSql),
    Q("p06_minhash_lsh_pairs", minhashPairs, minhashPairsSql),
    Q("p07_minhash_est_jaccard", minhashJaccard, minhashJaccardSql),
    Q("p08_ngram_jaccard_pairs", ngramJaccard, ngramJaccardSql),
    Q("p09_simhash64", simhash, simhashSql),
    Q("p10_embedding_neardup", embeddingNearDup, embeddingNearDupSql),
    Q("p22_edit_distance_pairs", editDistancePairs, editDistancePairsSql),
    Q("p23_stratified_sample", stratifiedSample, stratifiedSampleSql),
    Q("p24_dedup_clusters", dedupClusters, dedupClustersSql),
    Q("p30_dedup_clusters_star", dedupClustersStarAgg, dedupClustersSql),
    Q("p62_cluster_safe_split", clusterSafeSplit, clusterSafeSplitSql),
    Q("p65_fuzzy_verify", fuzzyVerify, fuzzyVerifySql))

  /** Debug/inspection helper: full shingle-jaccard distribution (no
    * threshold) over source-blocked pairs. */
  private[graft] def shingleJaccardAll(s: SparkSession, dir: String): DataFrame = {
    val d = shingleHashes(docs(s, dir))
      .withColumn("grams", array_distinct(col("sh")))
      .select(col("doc_id"), col("source"), col("grams"), size(col("grams")).as("nt"))
    val toks = d.select(col("doc_id"), col("source"), col("nt"), explode(col("grams")).as("tok"))
    val a = toks.select(col("source").as("src"), col("tok"), col("doc_id").as("doc_a"), col("nt").as("nt_a"))
    val b = toks.select(col("source").as("src"), col("tok"), col("doc_id").as("doc_b"), col("nt").as("nt_b"))
    a.join(b, Seq("src", "tok")).filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"), col("nt_a"), col("nt_b"))
      .agg(count(lit(1)).as("common"))
      .withColumn("jaccard", col("common").cast("double")
        / (col("nt_a") + col("nt_b") - col("common")).cast("double"))
  }
}
