package graft.pipeline

import graft.{Q, Tables}
import graft.pipeline.{PortableHash => PH}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Semantic-level curation operators: SemDeDup-style embedding dedup
  * inside k-means cells, a Bloom-filter decontamination prefilter, and
  * out-of-vocabulary scoring against a corpus top-K vocabulary.
  *
  * Everything is integer/rational arithmetic over the shared
  * [[PortableHash]] constants and the quantized k-means kernel from
  * [[Clustering]], so each query carries a bit-exact DuckDB oracle.
  */
object SemanticOps {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  // ------------------------------------------------------ p49 SemDeDup
  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): embeddings cluster
    * with k-means, then near-duplicate PAIRS are searched only inside a
    * cluster — the cross-cluster quadratic blowup never happens. A vector
    * is dropped when a same-cell neighbor with a smaller vec_id is within
    * the cosine threshold; the reported `dup_of` is the smallest such
    * neighbor.
    *
    * The cosine test runs in exact integer arithmetic over the int8
    * quantized vectors: cos(a,b) >= t  ⟺  dot > 0 ∧ dot²·10⁴ ≥ (t·100)²·|a|²·|b|²
    * so both engines agree bit for bit — no float
    * epsilon at the decision boundary. The threshold here is t = 0.40
    * (→ 1600): the synthetic embeddings are near-orthogonal (max observed
    * cosine ≈ 0.47), so a production-style 0.85 would select nothing —
    * the constant is the only thing that changes at real data.
    *
    * 100 TB design: k scales with the corpus (SemDeDup uses ~50k cells for
    * LAION-scale data) so the EXPECTED cell size is a constant and the
    * per-cell self-join stays bounded — the same contract as an LSH band
    * bucket. Assignment is the broadcast k×dim nested loop from
    * [[Clustering]]; the pair join shuffles on cell, never all-pairs. */
  /** Cell count for the SemDeDup k-means: more cells than p38's k=8 —
    * the pair search is quadratic IN THE CELL, so k is what keeps it
    * bounded (k=8 over 50k vectors was measured at 7 s; k=64 is ~1 s).
    * k SCALES WITH THE CORPUS (round 8): assignment costs n·k·d and the
    * per-cell pair verify n·(n/k)·d, so total work n·d·(k + n/k) is
    * minimized at k = √n — k = max(64, ceil(sqrt(n))). Measured at sf10
    * (200k vectors): fixed k=64 → 174 s (3.1k-vector cells, pair-bound);
    * k=n/256=781 → 218 s (assign-bound at 83 s/round); k=√n=448 → the
    * balanced point. The SemDeDup paper holds cell size constant because
    * its GPU assignment makes n·k cheap; on a CPU engine the √n balance
    * is the right exponent — total work grows n^1.5 instead of n². Both
    * engines derive k from the same count (correctly-rounded IEEE sqrt),
    * so the oracle holds at every SF, not just where a constant happens
    * to match. */
  private val SemK = 64

  private def semdedup(s: SparkSession, dir: String): DataFrame = {
    val q = Clustering.quantized(s, dir)
    // k = max(64, ceil(sqrt(n))) resolved DRIVER-SIDE (one scalar action
    // over the pinned quantized stage): the hash-priority seeding (round
    // 10) needs k as a LIMIT to stay a TakeOrdered — a data-dependent
    // top-k is not expressible declaratively without a global rank window
    // over the corpus. Same driver-side class as assign()'s k-row
    // centroid collect; the previous declarative kk column only worked
    // because first-k seeding was a map-side filter.
    val kk = q.agg(greatest(lit(SemK.toLong),
      expr("CAST(ceil(sqrt(count(1))) AS BIGINT)")).as("kk")).head().getLong(0)
    val cents0 = Clustering.seedInit(q, kk.toInt)
    val a2 = Clustering.assign(q, Clustering.update(Clustering.assign(q, cents0)))
    // norms and the pair dot products run through the codegen'd vec_dot
    // (not an interpreted zip_with lambda — the pair join is the hot loop);
    // every value fits far below 2^53 so the double intermediate is EXACT,
    // and the cast back to BIGINT keeps the threshold test in integers
    val m = a2.withColumn("n",
      graft.functions.vec_dot(col("q"), col("q")).cast("long"))
      .select(col("cell"), col("vec_id"), col("q"), col("n"))
    // Pair verify is FUSED per cell (r8): collect each cell's members —
    // bounded at ~√n rows by the corpus-scaled k, the same bounded-group
    // contract as an LSH band bucket — sorted by vec_id, and run the
    // integer-cosine pair loop inside the CellNearDupPairs generator. The
    // previous a×b self-join materialized Σ|cell|²/2 rows each copying
    // both ~0.5 KB arrays (45 M rows ≈ the whole p49 runtime at sf10);
    // the generator emits only the dup rows and early-exits at the first
    // (= minimum) passing neighbor. Threshold: t=0.40 → (t·100)² = 1600,
    // identical integer arithmetic to the oracle's pair CTE.
    m.groupBy(col("cell"))
      .agg(sort_array(collect_list(struct(col("vec_id"), col("q"), col("n"))))
        .as("items"))
      .select(col("cell"), graft.functions.cell_neardup_pairs(col("items"), 1600L))
      .select(col("vec_id"), col("dup_of"), col("cell"))
      .orderBy(col("vec_id"))
  }

  private val semdedupSql =
    s"""WITH ${Clustering.duckKmeansCtes(
        s"SELECT greatest($SemK, CAST(ceil(sqrt(count(*))) AS BIGINT)) FROM qv")},
       |qn AS (SELECT vec_id,
       |         CAST(list_sum(list_prepend(CAST(0 AS BIGINT),
       |           list_transform(q, x -> x * x))) AS BIGINT) AS n, q
       |       FROM qv),
       |mv AS (SELECT a2.vec_id, a2.cell, qn.q, qn.n
       |       FROM a2 JOIN qn USING (vec_id)),
       |pr AS (
       |  SELECT a.cell, a.vec_id AS a_id, b.vec_id AS b_id,
       |    CAST(list_sum(list_transform(range(1, ${Clustering.Dim + 1}),
       |      i -> a.q[i] * b.q[i])) AS BIGINT) AS dot,
       |    a.n AS na, b.n AS nb
       |  FROM mv a JOIN mv b ON a.cell = b.cell AND a.vec_id < b.vec_id)
       |SELECT b_id AS vec_id, CAST(min(a_id) AS BIGINT) AS dup_of, cell
       |FROM pr
       |WHERE dot > 0 AND dot * dot * 10000 >= 1600 * na * nb
       |GROUP BY b_id, cell
       |ORDER BY vec_id""".stripMargin

  // ------------------------------------- p50 Bloom-filter decontamination
  /** Decontamination with a Bloom-filter PREFILTER: the benchmark (eval)
    * shingle set compresses to an m-bit Bloom filter (k hash probes per
    * shingle), corpus shingles test against the filter map-side, and only
    * the "maybe" hits go to the exact verification join — the standard
    * scale pattern when the blocklist itself is too big to broadcast raw
    * but its bitset is not (m bits vs gigabytes of shingles).
    *
    * The filter is modeled deterministically so both engines agree: the
    * bit ARRAY is the distinct set of probe positions (j, (a_j·h + b_j)
    * mod P mod m) — identical arithmetic to a real bitset, j kept in the
    * key so each of the k probes has its own subspace. Per document the
    * query reports Bloom hits (n_maybe), exact hits (n_exact), and the
    * measured false-positive count their difference — the quantity you
    * size m/k against.
    *
    * 100 TB design: bits ≤ k·|eval shingles| rows regardless of corpus
    * size → broadcast; the corpus side is a map-side semi-join + one
    * aggregation keyed by doc_id. Corpus never reshuffles on shingle.
    *
    * m is SIZED FROM THE EVAL SET (round 9; a fixed m = 2^16 reported
    * itself undersized via its own n_false_pos telemetry once the eval
    * suite grew): for a target false-positive rate ε = 0.1% at k probes,
    * FP ≈ (1 − e^{−kn/m})^k ⟹ m = k·n / ln(1/(1 − ε^{1/k})); with k = 3
    * that is m ≈ 28.47·n, rounded up to a power of two. The derivation is
    * pure 64-bit integer arithmetic (10⁶·ln(1/0.9) ≈ 105360 as a fixed
    * scaled constant, ceil-division, pow2 via a filtered 2^p list) so both
    * engines compute the identical m from the identical count — the oracle
    * stays parametric in the eval-set size instead of pinning a constant.
    *
    * The pow2 ladder is CLAMPED at 2^31 (round 10): probe positions are
    * (h mod P) mod m with P = 2^31−1, so any m ≥ 2^31 leaves the outer
    * mod a no-op and the extra width never receives a bit — 2^31 is the
    * sizing ceiling of this hash domain, ~75 M eval shingles at ε = 0.1%.
    * Demand beyond the clamp fails LOUDLY (raise_error) instead of the
    * previous silent null-m cascade ([[mDerivationSql]], spec-pinned);
    * the DuckDB oracle CTE mirrors the same loud error() past its ladder
    * (round-11 advice: the engines must diverge loudly-vs-loudly). */
  private val BloomK = 3
  /** 10⁶·ln(1/(1−ε^{1/k})) for ε = 0.001, k = 3 — the scaled denominator
    * of the m-derivation; see the FP-target algebra in the scaladoc. */
  private val BloomLnScaled = 105360L

  private def bloomProbes: Seq[(Long, Long)] = PH.perms.take(BloomK)

  /** The derived-m expression over an eval-shingle-count column: smallest
    * power of two ≥ ~28.47·n, CLAMPED to the 2^31 probe domain (positions
    * are (h mod P) mod m with P = 2^31−1; a wider filter never receives a
    * bit in its upper half, so ε would silently degrade past the clamp).
    * Demand beyond the clamp raises instead of emitting a null m that
    * cascades into silently-empty results (round-10; the previous 2^40
    * ladder had exactly that failure shape at >3.9e10 shingles). */
  private[graft] def mDerivationSql(nev: String): String = {
    // the L suffix keeps the arithmetic in BIGINT even when `nev` is an
    // INT literal (ANSI mode overflows 30000 * 3000000 in INT otherwise)
    val req = s"(($nev * ${BloomK * 1000000L}L + ${BloomLnScaled - 1}L) div ${BloomLnScaled}L)"
    s"CASE WHEN $req > ${1L << 31} THEN CAST(raise_error(concat(" +
      s"'bloom m-derivation overflow: ', CAST($nev AS STRING), " +
      s"' eval shingles demand a filter wider than the 2^31 probe domain " +
      s"((h mod P) mod m, P = 2^31-1); shard the eval set')) AS BIGINT) " +
      s"ELSE array_min(filter(transform(sequence(6, 31), " +
      s"p -> shiftleft(CAST(1 AS BIGINT), p)), v -> v >= $req)) END"
  }

  /** Core over a (doc_id, shingle) pair stream; `fixedM` pins the filter
    * width for specs that measure the derived sizing against a constant. */
  private[graft] def bloomCore(pairs: DataFrame, fixedM: Option[Long]): DataFrame = {
    val evalSh = pairs.filter(pmod(col("doc_id"), lit(17)) === 0)
      .select(col("shingle")).distinct()
    // one-row m: derived from |evalSh| (same declarative 1-row-broadcast
    // pattern as SemDeDup's corpus-scaled k)
    val mDf = fixedM match {
      case Some(m) => evalSh.sparkSession.range(1).select(lit(m).as("m"))
      case None => evalSh.agg(count(lit(1)).as("nev"))
        .select(expr(mDerivationSql("nev")).as("m"))
    }
    val posOf = bloomProbes.zipWithIndex.map { case ((a, b), j) =>
      struct(lit(j).as("j"),
        pmod(pmod(lit(a) * col("shingle") + lit(b), lit(PH.P)), col("m")).as("pos"))
    }
    // One (j, pos) bit relation broadcast ONCE into the probe join. Two
    // rejected round-10 variants, for the record: k per-probe broadcast
    // left-joins (map-side, no aggregate) measured 14.6–21.5 s cold vs
    // this shape's 10.4 s at sf1 — broadcast-exchange reuse does not
    // fire across the differing join conditions, so every variant pays
    // k ≈ |bits|-sized broadcast hash-table builds where this shape
    // pays one; the aggregate the joins would have saved is map-side-
    // collapsing anyway (the k probe rows of a shingle land in the same
    // partition).
    val bits = evalSh.crossJoin(broadcast(mDf))
      .select(explode(array(posOf: _*)).as("jp"))
      .select(col("jp.j").as("j"), col("jp.pos").as("pos")).distinct()
      .withColumn("hit", lit(1))
    val corpus = pairs.filter(pmod(col("doc_id"), lit(17)) =!= 0)
    // pinned: the per-doc counts and the survivor verify both consume the
    // probe results; recomputing would re-run the 3-probe explode + bits
    // join per consumer
    val probed = corpus.crossJoin(broadcast(mDf))
      .select(col("doc_id"), col("shingle"),
        explode(array(posOf: _*)).as("jp"))
      .select(col("doc_id"), col("shingle"),
        col("jp.j").as("j"), col("jp.pos").as("pos"))
      .join(broadcast(bits), Seq("j", "pos"), "left_outer")
      .groupBy(col("doc_id"), col("shingle"))
      .agg((count(col("hit")) === BloomK).as("maybe"))
      .pinned
    val counts = probed.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("maybe"), 1L).otherwise(0L)).as("n_maybe"))
      .filter(col("n_maybe") > 0)
    // exact verification runs ONLY on the Bloom survivors — the point of
    // the prefilter (r8; the previous shape joined EVERY corpus shingle
    // against a forced broadcast of the raw eval shingle set, which is a
    // corpus FRACTION here and would grow unboundedly — the only bounded
    // broadcast is the bitset above, ≤ k·m rows by construction). The
    // survivor join is a plain equi-join on the diverse shingle key; when
    // a real deployment's eval suite is small, AQE broadcasts it on its
    // measured size. Bloom soundness (no false negatives) makes this
    // equivalent to the old all-shingles join: is_eval can only be 1
    // where maybe is true.
    val exactHits = probed.filter(col("maybe"))
      .join(evalSh.withColumn("is_eval", lit(1)), Seq("shingle"), "left_outer")
      .groupBy(col("doc_id")).agg(count(col("is_eval")).as("n_exact"))
    // INVARIANT the inner join below relies on: `exactHits` has a row for
    // EVERY doc_id in `counts` — counts keeps exactly the docs with
    // n_maybe > 0, and exactHits LEFT-joins from the maybe-filtered probes,
    // so a doc with any maybe shingle always survives its groupBy (with
    // n_exact possibly 0). Changing either side's filter or join type
    // breaks this and silently drops docs.
    counts.join(exactHits, Seq("doc_id"))
      .select(col("doc_id"), col("n_shingles"), col("n_maybe"), col("n_exact"),
        (col("n_maybe") - col("n_exact")).as("n_false_pos"))
      .orderBy(col("doc_id"))
  }

  private def bloomDecontam(s: SparkSession, dir: String): DataFrame = {
    // the shared shingle-pairs stage (CorpusOps) serves the eval and
    // corpus branches here and the same stage in p25/p47
    val pairs = CorpusOps.shinglePairs(s, dir)
    bloomCore(pairs, fixedM = None)
  }

  private val bloomDecontamSql = {
    val probesList = bloomProbes.zipWithIndex.map { case ((a, b), j) =>
      s"[CAST($j AS BIGINT), (($a * shingle + $b) % ${PH.P}) % m]"
    }.mkString("[", ", ", "]")
    s"""WITH th AS (SELECT doc_id, ${PH.duckTokenHashes("text")} AS th FROM documents),
       |sh AS (SELECT doc_id, ${PH.duckShingles("th")} AS sh FROM th),
       |pairs AS (SELECT DISTINCT doc_id, unnest(sh) AS shingle FROM sh),
       |evalsh AS (SELECT DISTINCT shingle FROM pairs WHERE doc_id % 17 = 0),
       |mraw AS (SELECT (count(*) * ${BloomK * 1000000L} + ${BloomLnScaled - 1})
       |                  // $BloomLnScaled AS r FROM evalsh),
       |msel AS (SELECT CASE WHEN min(v) IS NULL THEN CAST(error(
       |             'bloom m-derivation overflow: eval shingles demand a filter '
       |             || 'wider than the 2^31 probe domain; shard the eval set')
       |             AS BIGINT) ELSE min(v) END AS m
       |         FROM (SELECT unnest(list_transform(range(6, 32),
       |                 p -> CAST(pow(2, p) AS BIGINT))) AS v) t, mraw
       |         WHERE t.v >= mraw.r),
       |bits AS (SELECT DISTINCT jp[1] AS j, jp[2] AS pos
       |         FROM (SELECT unnest($probesList) AS jp FROM evalsh, msel)),
       |corpus AS (SELECT doc_id, shingle FROM pairs WHERE doc_id % 17 <> 0),
       |probes AS (SELECT doc_id, shingle, jp[1] AS j, jp[2] AS pos
       |           FROM (SELECT doc_id, shingle, unnest($probesList) AS jp
       |                 FROM corpus, msel)),
       |probed AS (
       |  SELECT p.doc_id, p.shingle, count(b.pos) = $BloomK AS maybe
       |  FROM probes p LEFT JOIN bits b ON p.j = b.j AND p.pos = b.pos
       |  GROUP BY p.doc_id, p.shingle),
       |ev AS (SELECT shingle, 1 AS is_eval FROM evalsh)
       |SELECT pr.doc_id,
       |  count(*) AS n_shingles,
       |  CAST(sum(CASE WHEN pr.maybe THEN 1 ELSE 0 END) AS BIGINT) AS n_maybe,
       |  count(ev.is_eval) AS n_exact,
       |  CAST(sum(CASE WHEN pr.maybe THEN 1 ELSE 0 END) AS BIGINT)
       |    - count(ev.is_eval) AS n_false_pos
       |FROM probed pr LEFT JOIN ev USING (shingle)
       |GROUP BY pr.doc_id
       |HAVING CAST(sum(CASE WHEN pr.maybe THEN 1 ELSE 0 END) AS BIGINT) > 0
       |ORDER BY pr.doc_id""".stripMargin
  }

  // ------------------------------------------------------- p51 OOV rate
  /** Out-of-vocabulary rate per document against the corpus top-K
    * vocabulary — the tokenizer-coverage signal a data pipeline tracks
    * when the training vocabulary is frozen: rising OOV flags domain
    * drift or encoding junk. Vocabulary = top `VocabSize` tokens by
    * (count DESC, token ASC) — the tiebreak makes the cut deterministic.
    *
    * 100 TB design: the vocabulary is a two-level aggregation (map-side
    * partials, then one token-keyed shuffle of the DISTINCT vocabulary,
    * not the corpus) + a top-K that is tiny by construction; the per-doc
    * pass is explode → broadcast hash join against the K-row vocab →
    * re-aggregate by doc_id. The corpus shuffles once, keyed by doc_id. */
  // the synthetic corpus has a few hundred distinct tokens — the cut must
  // land INSIDE the distribution for the signal to be non-trivial
  private val VocabSize = 150

  private def oovRate(s: SparkSession, dir: String): DataFrame = {
    // vocabulary units are adjacent-word BIGRAMS: the synthetic corpus has
    // only ~31 distinct words, so word-level coverage is trivially total —
    // bigrams give a distribution the top-K cut actually lands inside
    // (at real data the unit definition is the knob, the shape is fixed).
    // The PIN holds per-doc bigram ARRAYS, not the exploded stream
    // (round 10): the expensive string work (regex split + 50M concat_ws
    // allocations) runs once into a docs-sized cache, and each consumer
    // pays only a cheap explode from the cached arrays. Both consumers
    // keep their map-side-collapsing aggregations, so no corpus-sized
    // shuffle exists anywhere (a (doc, unit, cnt) pre-aggregate was
    // measured WORSE here — bigrams are near-distinct within a doc, so
    // that shape ships ~every bigram through a full shuffle).
    val unitArrs = docs(s, dir)
      .withColumn("toks", split(trim(col("text")), "\\s+"))
      .select(col("doc_id"), expr(
        "transform(sequence(1, greatest(size(toks) - 1, 1)), " +
          "i -> concat_ws(' ', element_at(toks, i), element_at(toks, i + 1)))")
        .as("units"))
      .pinned
    val units = unitArrs.select(col("doc_id"), explode(col("units")).as("unit"))
    // top-K via sort+limit → TakeOrderedAndProject, never a global window;
    // the (cnt DESC, unit ASC) total order makes the cut deterministic
    val vocab = units.groupBy(col("unit")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("unit").asc)
      .limit(VocabSize)
      .select(col("unit")).withColumn("in_vocab", lit(1))
    units.join(broadcast(vocab), Seq("unit"), "left_outer")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_units"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_rate",
        col("n_oov").cast("double") / col("n_units").cast("double"))
      .orderBy(col("doc_id"))
  }

  private val oovRateSql =
    s"""WITH tk AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
       |  FROM documents),
       |units AS (
       |  SELECT doc_id, unnest(list_transform(
       |    range(1, greatest(len(toks) - 1, 1) + 1),
       |    i -> concat_ws(' ', toks[i], toks[i + 1]))) AS unit
       |  FROM tk),
       |vocab AS (
       |  SELECT unit FROM (
       |    SELECT unit, row_number() OVER (ORDER BY count(*) DESC, unit ASC) AS rk
       |    FROM units GROUP BY unit) t
       |  WHERE rk <= $VocabSize),
       |v AS (SELECT unit, 1 AS in_vocab FROM vocab)
       |SELECT doc_id,
       |  count(*) AS n_units,
       |  CAST(sum(CASE WHEN v.in_vocab IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       |  CAST(sum(CASE WHEN v.in_vocab IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(count(*) AS DOUBLE) AS oov_rate
       |FROM units LEFT JOIN v USING (unit)
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  // ------------------------------------------- p59 eval-proximity leaks
  /** Semantic eval-proximity scan: for every corpus vector, the maximum
    * cosine to any held-out eval embedding (eval set = vec_id < 64 — a
    * benchmark suite is a small constant, exactly like the ANN query
    * sets), reporting the top-20 closest corpus vectors as leak
    * candidates. This is the SEMANTIC complement of the exact-overlap
    * decontamination (p25/p50): paraphrased benchmark items share no
    * shingles but sit next to the eval set in embedding space. Shapes:
    * broadcast nested loop over the constant eval set (corpus scanned
    * once, zero shuffle), per-vector argmax via a map-side
    * WindowGroupLimit, global top-20 fused to TakeOrdered. */
  private def evalProximity(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(s, dir, "embeddings")
    val eval_ = e.filter(col("vec_id") < 64)
      .select(col("vec_id").as("eval_id"), col("embedding").as("ev"))
    val wBest = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id"))
      .orderBy(col("cosine").desc, col("eval_id"))
    e.filter(col("vec_id") >= 64)
      .join(broadcast(eval_))
      .withColumn("cosine",
        graft.functions.vec_cosine(col("embedding"), col("ev")))
      .withColumn("rk", row_number().over(wBest))
      .filter(col("rk") === 1)
      .select(col("vec_id"), col("eval_id"), col("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(20)
  }

  private val evalProximitySql =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |ev AS (SELECT vec_id AS eval_id, v AS evv FROM e WHERE vec_id < 64),
       |scored AS (
       |  SELECT e.vec_id, ev.eval_id,
       |         ${PH.duckCosine("e.v", "ev.evv")} AS cosine
       |  FROM e, ev WHERE e.vec_id >= 64),
       |best AS (
       |  SELECT vec_id, eval_id, cosine FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id
       |                                 ORDER BY cosine DESC, eval_id) AS rk
       |    FROM scored) t WHERE rk = 1)
       |SELECT vec_id, eval_id, cosine
       |FROM best ORDER BY cosine DESC, vec_id LIMIT 20""".stripMargin

  val all: Seq[Q] = Seq(
    Q("p49_semdedup", semdedup, semdedupSql),
    Q("p50_bloom_decontam", bloomDecontam, bloomDecontamSql),
    Q("p51_oov_rate", oovRate, oovRateSql),
    Q("p59_eval_proximity", evalProximity, evalProximitySql))
}
