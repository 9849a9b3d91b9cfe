package graft.pipeline

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus term statistics — the signals a training-data pipeline derives
  * from raw text before selection/mixing:
  *
  *  - **p40 TF-IDF top terms**: per-document top-3 terms by tf·idf — the
  *    classic keyword/topic signal (used for topical dedup, domain tagging,
  *    quality heuristics). Shapes: one explode, two hash aggregations, a
  *    vocabulary-sized join (AQE broadcasts the df side when small), and a
  *    per-document window — every key is high-cardinality (doc_id, term),
  *    nothing funnels through a single task at any scale.
  *  - **p41 trigram counts**: corpus-level n-gram language-model counts
  *    (the contamination/repetition statistic and the classic LM baseline).
  *    Trigrams are generated inside a single `transform` over the token
  *    array — no self-join — then one hash aggregation keyed by trigram.
  *
  * Both oracle-checked against DuckDB running its own list/lambda dialect.
  */
object TermStats {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  /** Per-doc lowercased token arrays — SHARED across the term-statistics
    * family ([[Pins.shared]], round 10): six query sites (p40/p41/p42/
    * p43/p55/p66) rebuild the identical regex split otherwise, the
    * single most expensive stage of each. One row per document (arrays,
    * not exploded rows — the split is what's worth caching; explode from
    * cached arrays is cheap and stays per-consumer), memoized per dir
    * like the LSH signature stage and disclosed through the bench's warm
    * array / cold-equivalent pass. */
  private[pipeline] def toks(s: SparkSession, dir: String): DataFrame =
    Pins.shared(s, dir, "doc-toks-lower") {
      docs(s, dir).select(col("doc_id"),
        split(lower(trim(col("text"))), "\\s+").as("t"))
    }

  /** (doc_id, term, tf) frame over the shared token arrays (round 10):
    * every downstream statistic derives from it — doc frequency is the
    * per-term ROW count (the frame has exactly one row per (doc, term)),
    * corpus term counts are sums of tf, corpus size is Σ tf. NOT pinned:
    * each consumer re-runs the cheap explode + map-side-collapsing
    * aggregate FROM THE CACHED ARRAYS (AQE does not deduplicate stages
    * above an InMemoryRelation — verified on the final adaptive plan —
    * so the subtree genuinely executes per consumer; what the rewrite
    * removes is the 50M-row exploded-stream persist round-trip and the
    * Expand-doubled countDistinct pass, which dominated). */
  private def docTermTf(s: SparkSession, dir: String): DataFrame =
    toks(s, dir).select(col("doc_id"), explode(col("t")).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))

  // ------------------------------------------------------------ p40 tf-idf
  private def tfidfTopTerms(s: SparkSession, dir: String): DataFrame = {
    val tf = docTermTf(s, dir)
    // df = rows per term (one row per (doc, term) by construction);
    // n = distinct docs — both from the bounded tf frame, never the
    // exploded stream
    val dfreq = tf.groupBy(col("term"))
      .agg(count(lit(1)).as("df"))
    val ndocs = tf.agg(countDistinct(col("doc_id")).as("n"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("term"))
    // BROADCAST the vocabulary-sized df side: an equi-join on `term` would
    // shuffle the corpus-sized tf frame onto a Zipfian key space (this
    // testdata: 265 distinct tokens → a handful of straggler tasks; real
    // corpora: the stopword keys). The build side is |distinct tokens|
    // rows — broadcastable through ~100M-token vocabularies (a few GB);
    // an uncapped web-scale long tail needs the production trick anyway
    // (top-K vocab + UNK bucket, which also re-bounds this side), or
    // AQE's skew-join split once the tail is too big to ship.
    tf.join(broadcast(dfreq), Seq("term"))
      .crossJoin(ndocs) // one-row aggregate: broadcast nested loop
      .withColumn("tfidf",
        col("tf").cast("double") * log(col("n").cast("double") / col("df").cast("double")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("doc_id"), col("term"), col("tfidf"))
      .orderBy(col("doc_id"), col("tfidf").desc, col("term"))
  }

  private val tfidfSql =
    """WITH toks AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
      |  FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
      |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY term),
      |n AS (SELECT count(DISTINCT doc_id) AS n FROM toks)
      |SELECT doc_id, term, tfidf FROM (
      |  SELECT tf.doc_id, tf.term,
      |    CAST(tf.tf AS DOUBLE) * ln(CAST(n.n AS DOUBLE) / CAST(df.df AS DOUBLE)) AS tfidf,
      |    row_number() OVER (PARTITION BY tf.doc_id
      |                       ORDER BY CAST(tf.tf AS DOUBLE)
      |                         * ln(CAST(n.n AS DOUBLE) / CAST(df.df AS DOUBLE)) DESC,
      |                         tf.term) AS rn
      |  FROM tf JOIN df ON tf.term = df.term CROSS JOIN n) q
      |WHERE rn <= 3
      |ORDER BY doc_id, tfidf DESC, term""".stripMargin

  // ----------------------------------------------------------- p41 trigrams
  private def trigramCounts(s: SparkSession, dir: String): DataFrame = {
    // trigrams from inside the token array: no self-join, no shuffle until
    // the final count; sequence guarded (Spark's sequence DESCENDS when
    // start > stop, so short docs must yield an empty array explicitly)
    val tri = expr(
      """transform(
        |  if(size(t) >= 3, sequence(1, size(t) - 2), array()),
        |  i -> concat(element_at(t, i), ' ', element_at(t, i + 1), ' ',
        |              element_at(t, i + 2)))""".stripMargin)
    toks(s, dir)
      .select(explode(tri).as("tri"))
      .groupBy(col("tri"))
      .agg(count(lit(1)).cast("long").as("n"))
      .orderBy(col("n").desc, col("tri"))
      .limit(50)
  }

  private val trigramSql =
    """WITH toks AS (
      |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
      |  FROM documents),
      |tris AS (
      |  SELECT unnest(CASE WHEN len(t) >= 3
      |    THEN list_transform(range(1, len(t) - 1),
      |           i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])
      |    ELSE [] END) AS tri
      |  FROM toks)
      |SELECT tri, CAST(count(*) AS BIGINT) AS n
      |FROM tris GROUP BY tri
      |ORDER BY n DESC, tri
      |LIMIT 50""".stripMargin

  // ------------------------------------------------- p42 unigram surprisal
  /** Mean unigram surprisal per document: −ln p(token) averaged over the
    * document's tokens, p from the corpus unigram distribution — the
    * cheapest perplexity proxy (low = boilerplate/repetitive, high =
    * noise/rare-token soup; both tails get filtered in practice). Shapes:
    * explode → vocabulary-sized count join → per-doc average. */
  private def unigramLogprob(s: SparkSession, dir: String): DataFrame = {
    // everything derives from the shared (doc, term, tf) frame: corpus
    // term counts and the corpus size are sums of tf, and the per-doc
    // token-multiset average rewrites as the tf-weighted mean
    // Σ tf·(−ln p) / Σ tf — same value (6-dp-stable), over a relation
    // bounded by distinct (doc, term) pairs instead of every token
    val tf = docTermTf(s, dir)
    val cnt = tf.groupBy(col("term")).agg(sum(col("tf")).as("c"))
    val tot = tf.agg(sum(col("tf")).as("tot"))
    // broadcast the vocabulary-sized count table: shuffling the corpus
    // frame on the Zipfian `term` key is the skew trap (same reasoning
    // as p40's df side; p51 already broadcasts its vocab)
    tf.join(broadcast(cnt), Seq("term"))
      .crossJoin(tot) // one-row aggregate
      .groupBy(col("doc_id"))
      .agg(
        (sum(col("tf").cast("double") *
            -log(col("c").cast("double") / col("tot").cast("double"))) /
          sum(col("tf").cast("double"))).as("mean_surprisal"),
        sum(col("tf")).as("n_tok"))
      .orderBy(col("doc_id"))
  }

  private val unigramSql =
    """WITH toks AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
      |  FROM documents),
      |cnt AS (SELECT term, count(*) AS c FROM toks GROUP BY term),
      |tot AS (SELECT count(*) AS tot FROM toks)
      |SELECT doc_id,
      |  avg(-ln(CAST(c AS DOUBLE) / CAST(tot AS DOUBLE))) AS mean_surprisal,
      |  CAST(count(*) AS BIGINT) AS n_tok
      |FROM toks JOIN cnt USING (term) CROSS JOIN tot
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // --------------------------------------------- p43 context-window chunks
  private val ChunkSize = 64
  private val ChunkStride = 48 // = size − overlap(16)

  /** Context-window chunking with overlap — how documents become training
    * sequences: tile each token array with windows of `ChunkSize` every
    * `ChunkStride` tokens (16-token overlap carries context across chunk
    * boundaries). Pure narrow explode over in-array slices: no shuffle
    * until the deterministic output sort, chunk count ∝ document length. */
  private def contextChunks(s: SparkSession, dir: String): DataFrame = {
    val st = ChunkStride
    toks(s, dir)
      .withColumn("n", size(col("t")))
      .withColumn("k",
        expr(s"1 + CAST(floor((greatest(n, 1) - 1) / $st) AS INT)"))
      .select(col("doc_id"), col("t"), col("n"),
        explode(expr("sequence(0, k - 1)")).as("ci"))
      .withColumn("start_pos", lit(1) + col("ci") * st)
      .withColumn("chunk_len",
        least(lit(ChunkSize), col("n") - col("start_pos") + 1))
      .select(col("doc_id"),
        col("ci").cast("long").as("chunk_idx"),
        col("start_pos").cast("long").as("start_pos_l"),
        col("chunk_len").cast("long").as("chunk_len_l"),
        element_at(col("t"), col("start_pos")).as("first_tok"),
        element_at(col("t"), col("start_pos") + col("chunk_len") - 1).as("last_tok"))
      .withColumnRenamed("start_pos_l", "start_pos")
      .withColumnRenamed("chunk_len_l", "chunk_len")
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  private val chunksSql =
    s"""WITH toks AS (
       |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS t
       |  FROM documents),
       |base AS (
       |  SELECT doc_id, t, len(t) AS n,
       |    1 + CAST(floor((greatest(len(t), 1) - 1) / $ChunkStride) AS BIGINT) AS k
       |  FROM toks),
       |ch AS (SELECT doc_id, t, n, unnest(range(0, k)) AS ci FROM base)
       |SELECT doc_id, CAST(ci AS BIGINT) AS chunk_idx,
       |  CAST(1 + ci * $ChunkStride AS BIGINT) AS start_pos,
       |  CAST(least($ChunkSize, n - (1 + ci * $ChunkStride) + 1) AS BIGINT) AS chunk_len,
       |  t[CAST(1 + ci * $ChunkStride AS INT)] AS first_tok,
       |  t[CAST(ci * $ChunkStride + least($ChunkSize, n - (1 + ci * $ChunkStride) + 1) AS INT)] AS last_tok
       |FROM ch ORDER BY doc_id, chunk_idx""".stripMargin

  // --------------------------------------- p44 duplicated-span detection
  private val GramLen = 20
  private val GramStride = 8

  /** The shared (doc_id, i, h) gram stream of the ExactSubstr family:
    * every `GramLen`-char gram at `GramStride` offsets, poly-hashed. */
  private def gramStream(s: SparkSession, dir: String): DataFrame = {
    val PH = graft.pipeline.PortableHash
    // NULL-text docs contribute no grams (explicit, and in agreement with
    // [[docPositions]] — both arms of the singleton complement must drop
    // the same rows or the subtraction is garbage)
    docs(s, dir).filter(col("text").isNotNull).select(col("doc_id"),
        explode(expr(
          s"sequence(1, greatest(1, length(text) - ${GramLen - 1}), $GramStride)"))
          .as("i"),
        col("text"))
      .select(col("doc_id"), col("i").cast("long").as("i"),
        expr(PH.sparkCharHash(s"substring(text, CAST(i AS INT), $GramLen)")).as("h"))
  }

  /** Per-doc SINGLETON gram positions — the shared upstream of the
    * ExactSubstr family ([[Pins.shared]], round 17): p44 and p71 each
    * re-hashed the whole gram stream through the identical h-keyed
    * aggregate, the single most expensive stage of both (the second
    * consumer re-paid ~9 s of the suite's sf10 sweep). One row per doc
    * holding the ascending-from-arithmetic positions whose gram hash is
    * corpus-unique; p44's n_single is the array size, p71 subtracts the
    * array from the arithmetic position stream. Disclosed through the
    * bench's stage_build / cold-equivalent pass like every shared stage. */
  private[pipeline] def gramSinglesPos(s: SparkSession, dir: String): DataFrame =
    Pins.shared(s, dir, "gram-singles-pos") {
      gramAgg(gramStream(s, dir)).filter(col("c") === 1)
        .groupBy(col("doc1")).agg(collect_list(col("i1")).as("si"))
    }

  /** ONE skew-safe aggregate over the gram stream, keyed by the gram
    * hash: (h, c, doc1, i1) where (doc1, i1) = min(doc_id)/min(i) locate
    * the unique occurrence EXACTLY when c = 1 (a singleton has one row,
    * so its minima are its coordinates).
    *
    * This is the load-bearing shape choice of p44/p71 (round 11, third
    * iteration — the measured ledger):
    *  - `count(*) OVER (PARTITION BY h)` (rounds ≤10): one gram pass,
    *    3.9 s at sf1, but every occurrence of a hot boilerplate gram
    *    lands in ONE window task and AQE skew-split applies to shuffle
    *    joins, not windows — a 100 TB scale-killer.
    *  - dup-set aggregate + rejoin on h (the oracle's spelling):
    *    skew-safe (map-side partials collapse hot keys; the rejoin is
    *    AQE-splittable) but hashes the gram stream TWICE and measured
    *    9.2 s at sf1 — the aggregate's exchange carries partial counts
    *    Spark cannot reuse for the join side.
    *  - THIS singleton-complement shape: per-doc duplicated-gram counts
    *    are n_grams − n_singletons, and n_grams + gram POSITIONS are
    *    pure length arithmetic needing no hashing — so the dup statistic
    *    derives from the singleton rows of this ONE aggregate (hot keys
    *    still collapse map-side into O(1) state per task; the per-doc
    *    regroup is keyed by uniform doc_id) joined back to a doc-sized
    *    frame, never to the gram stream. One gram pass, no window, no
    *    gram-stream rejoin: 4.3/5.5 s at sf1 (within noise of the
    *    window's 3.9 s), skew-safe at any scale. */
  private def gramAgg(grams: DataFrame): DataFrame =
    grams.groupBy(col("h")).agg(count(lit(1)).as("c"),
      min(col("doc_id")).as("doc1"), min(col("i")).as("i1"))

  /** Per-doc gram-position array from LENGTH ARITHMETIC alone (positions
    * are deterministic: 1, 1+stride, …) — no explode, no hashing.
    * NULL-text docs are filtered out to match the gram-stream arm (round
    * 12, ADVICE: keeping them yields `size(NULL) = -1` → n_grams = -1 and
    * dup_ratio garbage under sizeOfNull's legacy default). */
  private def docPositions(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).filter(col("text").isNotNull).select(col("doc_id"),
      length(col("text")).cast("long").as("doc_len"),
      expr(s"sequence(1L, CAST(greatest(1, length(text) - ${GramLen - 1}) AS BIGINT), ${GramStride}L)")
        .as("ps_all"))

  /** Exact-substring duplication signal (the ExactSubstr statistic of Lee
    * et al., "Deduplicating Training Data Makes Language Models Better"):
    * hash every `GramLen`-char gram at `GramStride` offsets, mark grams
    * whose hash repeats corpus-wide, report the duplicated-gram fraction
    * per document. The suffix-array construction of the paper is replaced
    * by the hash-bucket shape that distributes: ONE map-side-collapsing
    * aggregate keyed by gram hash ([[gramAgg]] — see its ledger for the
    * two rejected shapes), whose SINGLETON rows complement the dup
    * statistic (n_dup = n_grams − n_singletons, with n_grams pure length
    * arithmetic); no all-pairs comparison, no window, no gram-stream
    * rejoin exists. Gram volume is |corpus chars| / stride — the stride
    * is the cost knob, exactly the sampling the paper's followups use at
    * scale. Shares the portable polynomial kernel, so DuckDB reproduces
    * every hash bit-for-bit (the oracle keeps its GROUP BY h HAVING +
    * rejoin spelling — same result, DuckDB-idiomatic). */
  private def dupSpanGrams(s: SparkSession, dir: String): DataFrame = {
    // n_single = singleton-position array size (the shared stage's list
    // has exactly one element per singleton gram of the doc — identical
    // to the count aggregate this replaced)
    val singles = gramSinglesPos(s, dir)
      .select(col("doc1"), size(col("si")).cast("long").as("n_single"))
    docPositions(s, dir)
      .select(col("doc_id"), size(col("ps_all")).cast("long").as("n_grams"))
      .join(singles, col("doc_id") === col("doc1"), "left")
      .select(col("doc_id"), col("n_grams"),
        (col("n_grams") - coalesce(col("n_single"), lit(0L))).as("n_dup"))
      .select(col("doc_id"), col("n_grams"), col("n_dup"),
        (col("n_dup").cast("double") / col("n_grams").cast("double")).as("dup_ratio"))
      .orderBy(col("doc_id"))
  }

  private val dupSpanSql = {
    val PH = graft.pipeline.PortableHash
    s"""WITH pos AS (
       |  SELECT doc_id, text,
       |    unnest(range(1, greatest(1, length(text) - ${GramLen - 1}) + 1, $GramStride)) AS i
       |  FROM documents WHERE text IS NOT NULL),
       |g AS (SELECT doc_id,
       |        ${PH.duckCharHash(s"substr(text, CAST(i AS INT), $GramLen)")} AS h
       |      FROM pos),
       |dup AS (SELECT h FROM g GROUP BY h HAVING count(*) > 1),
       |m AS (SELECT g.doc_id,
       |        CASE WHEN dup.h IS NOT NULL THEN 1 ELSE 0 END AS isdup
       |      FROM g LEFT JOIN dup ON g.h = dup.h)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
       |  CAST(sum(isdup) AS BIGINT) AS n_dup,
       |  CAST(sum(isdup) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS dup_ratio
       |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------- p71 duplicated-span REMOVAL plan
  /** The removal step on top of p44's detection (Lee et al.'s ExactSubstr
    * dedup actually CUTS the duplicated spans out of the training text):
    * per document, the duplicated grams' [i, i+G−1] character intervals
    * are UNION-MERGED and the plan reports how many characters the cut
    * removes and the surviving length — the quantities a pipeline applies
    * (and audits) before tokenization.
    *
    * The interval union is a single in-row fold over the SORTED dup
    * positions with the running (end, total) state PACKED into one BIGINT
    * (end·2³² + total): DuckDB's `list_reduce` only folds with an
    * accumulator of the element type, so a struct state has no oracle
    * spelling — the packed integer runs bit-identically in both engines
    * (end ≤ doc length ≪ 2³¹, total < 2³², product < 2⁶³). Shapes are
    * p44's plus one collect_list bounded by grams-per-doc (the SINGLETON
    * positions the [[gramAgg]] rows carry; dup positions are the
    * arithmetic position array minus them) — one gram-hash aggregate,
    * then doc-keyed aggregation; nothing new at 100 TB. */
  private def dupSpanRemoval(s: SparkSession, dir: String): DataFrame = {
    val G = GramLen
    val pack = 4294967296L // 2^32
    // span ends clamp at doc_len: a doc shorter than G hashes one short
    // gram whose nominal span would overrun the text
    val covered = expr(
      s"""pmod(aggregate(ps, 0L, (a, i) ->
         |  IF(least(i + ${G - 1}L, doc_len) <= a div ${pack}L, a,
         |     least(i + ${G - 1}L, doc_len) * ${pack}L + pmod(a, ${pack}L)
         |       + least(i + ${G - 1}L, doc_len)
         |       - greatest(i - 1L, a div ${pack}L))),
         |  ${pack}L)""".stripMargin)
    // singleton-complement ([[gramAgg]]): dup positions per doc = the
    // arithmetic position array MINUS the singleton positions, which the
    // one h-keyed aggregate carries as (doc1, i1) — no gram-stream rejoin
    val singlesPos = gramSinglesPos(s, dir)
    docPositions(s, dir)
      .join(singlesPos, col("doc_id") === col("doc1"), "left")
      .select(col("doc_id"), col("doc_len"),
        size(col("ps_all")).cast("long").as("n_grams"),
        // array_except keeps ps_all's ascending order (positions distinct)
        array_except(col("ps_all"),
          coalesce(col("si"), expr("CAST(array() AS ARRAY<BIGINT>)"))).as("ps"))
      .select(col("doc_id"), col("n_grams"),
        size(col("ps")).cast("long").as("n_dup"), col("doc_len"),
        covered.as("covered_chars"))
      .withColumn("cleaned_len", col("doc_len") - col("covered_chars"))
      .orderBy(col("doc_id"))
  }

  private val dupSpanRemovalSql = {
    val PH = graft.pipeline.PortableHash
    val G = GramLen
    val pack = 4294967296L
    s"""WITH pos AS (
       |  SELECT doc_id, text,
       |    unnest(range(1, greatest(1, length(text) - ${G - 1}) + 1, $GramStride)) AS i
       |  FROM documents WHERE text IS NOT NULL),
       |g AS (SELECT doc_id, CAST(i AS BIGINT) AS i,
       |        ${PH.duckCharHash(s"substr(text, CAST(i AS INT), $G)")} AS h
       |      FROM pos),
       |dup AS (SELECT h FROM g GROUP BY h HAVING count(*) > 1),
       |m AS (SELECT g.doc_id, g.i,
       |        CASE WHEN dup.h IS NOT NULL THEN 1 ELSE 0 END AS isdup
       |      FROM g LEFT JOIN dup ON g.h = dup.h),
       |agg AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
       |    CAST(sum(isdup) AS BIGINT) AS n_dup,
       |    list_sort(list(i) FILTER (isdup = 1)) AS ps
       |  FROM m GROUP BY doc_id),
       |folded AS (
       |  SELECT a.doc_id, a.n_grams, a.n_dup,
       |    CAST(length(d.text) AS BIGINT) AS doc_len,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT), coalesce(a.ps, [])),
       |      (acc, i) -> CASE
       |        WHEN least(i + ${G - 1}, CAST(length(d.text) AS BIGINT))
       |             <= acc // $pack THEN acc
       |        ELSE least(i + ${G - 1}, CAST(length(d.text) AS BIGINT)) * $pack
       |          + acc % $pack
       |          + least(i + ${G - 1}, CAST(length(d.text) AS BIGINT))
       |          - greatest(i - 1, acc // $pack) END) AS acc
       |  FROM agg a JOIN documents d USING (doc_id))
       |SELECT doc_id, n_grams, n_dup, doc_len,
       |  acc % $pack AS covered_chars,
       |  doc_len - acc % $pack AS cleaned_len
       |FROM folded
       |ORDER BY doc_id""".stripMargin
  }

  // --------------------------------------------------- p52 BPE merge step
  /** One step of BPE tokenizer training: count adjacent symbol pairs over
    * the corpus and report the top candidates — the argmax row is the merge
    * the tokenizer would apply next (Sennrich et al., "Neural Machine
    * Translation of Rare Words with Subword Units"). The crucial scale move
    * is the classic one from the paper's implementation: pair counting runs
    * over the **vocabulary weighted by word frequency**, not over corpus
    * tokens — the explode volume is Σ|word| over DISTINCT words (vocabulary-
    * sized, sublinear in corpus growth), after one hash aggregation keyed by
    * term collapses the corpus. Then one more hash aggregation keyed by
    * (left_sym, right_sym) — unbounded key spaces throughout, top-k fuses to
    * TakeOrdered. Length-1 words are filtered BEFORE the position explode
    * (they have no pairs; Spark's `sequence(1, 0)` would DESCEND). */
  private def bpeMergeStep(s: SparkSession, dir: String): DataFrame = {
    val vocab = toks(s, dir).select(explode(col("t")).as("term"))
      .filter(length(col("term")) >= 2)
      .groupBy(col("term")).agg(count(lit(1)).as("c"))
    vocab.select(col("term"), col("c"),
        explode(expr("sequence(1, length(term) - 1)")).as("i"))
      .select(
        expr("substring(term, CAST(i AS INT), 1)").as("left_sym"),
        expr("substring(term, CAST(i AS INT) + 1, 1)").as("right_sym"),
        col("c"))
      .groupBy(col("left_sym"), col("right_sym"))
      .agg(sum(col("c")).as("pair_count"))
      .orderBy(col("pair_count").desc, col("left_sym"), col("right_sym"))
      .limit(20)
  }

  private val bpeSql =
    """WITH toks AS (
      |  SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
      |  FROM documents),
      |vocab AS (
      |  SELECT term, count(*) AS c FROM toks
      |  WHERE length(term) >= 2 GROUP BY term),
      |pos AS (
      |  SELECT term, c, unnest(range(1, length(term))) AS i FROM vocab),
      |pairs AS (
      |  SELECT substr(term, CAST(i AS INT), 1) AS left_sym,
      |         substr(term, CAST(i AS INT) + 1, 1) AS right_sym, c
      |  FROM pos)
      |SELECT left_sym, right_sym, CAST(sum(c) AS BIGINT) AS pair_count
      |FROM pairs GROUP BY left_sym, right_sym
      |ORDER BY pair_count DESC, left_sym, right_sym
      |LIMIT 20""".stripMargin

  // ----------------------------------------------------- p61 Zipf slope
  private val ZipfTopN = 1000

  /** Zipf-law fit over the corpus frequency distribution: the slope of
    * ln(freq) ~ ln(rank) across the top-1000 terms (natural text sits near
    * −1; spam/boilerplate-heavy corpora flatten, template soup steepens —
    * a one-number corpus-health diagnostic, with r² as the fit quality).
    * Scale shape: the vocabulary agg is hash-keyed (unbounded), the top-N
    * cut fuses to TakeOrdered, and the only global window ranks the
    * CONSTANT-size top-N frame (1000 rows on one task by construction —
    * never data-sized); the regression is one tiny aggregate. */
  private def zipfSlope(s: SparkSession, dir: String): DataFrame = {
    val top = toks(s, dir).select(explode(col("t")).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("term")).limit(ZipfTopN)
    val w = Window.orderBy(col("c").desc, col("term"))
    top.withColumn("rank", row_number().over(w))
      .agg(count(lit(1)).as("n_terms"),
        expr("regr_slope(ln(CAST(c AS DOUBLE)), ln(CAST(rank AS DOUBLE)))")
          .as("slope"),
        expr("regr_intercept(ln(CAST(c AS DOUBLE)), ln(CAST(rank AS DOUBLE)))")
          .as("intercept"),
        expr("regr_r2(ln(CAST(c AS DOUBLE)), ln(CAST(rank AS DOUBLE)))")
          .as("r2"))
  }

  private val zipfSlopeSql =
    s"""WITH toks AS (
       |  SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS term
       |  FROM documents),
       |vocab AS (SELECT term, count(*) AS c FROM toks GROUP BY term
       |          ORDER BY c DESC, term LIMIT $ZipfTopN),
       |ranked AS (
       |  SELECT c, row_number() OVER (ORDER BY c DESC, term) AS rank
       |  FROM vocab)
       |SELECT CAST(count(*) AS BIGINT) AS n_terms,
       |  regr_slope(ln(CAST(c AS DOUBLE)), ln(CAST(rank AS DOUBLE))) AS slope,
       |  regr_intercept(ln(CAST(c AS DOUBLE)), ln(CAST(rank AS DOUBLE))) AS intercept,
       |  regr_r2(ln(CAST(c AS DOUBLE)), ln(CAST(rank AS DOUBLE))) AS r2
       |FROM ranked""".stripMargin

  val all: Seq[Q] = Seq(
    Q("p40_tfidf_top_terms", tfidfTopTerms, tfidfSql),
    Q("p41_trigram_counts", trigramCounts, trigramSql),
    Q("p42_unigram_logprob", unigramLogprob, unigramSql),
    Q("p43_context_chunks", contextChunks, chunksSql),
    Q("p44_dup_span_grams", dupSpanGrams, dupSpanSql),
    Q("p71_dup_span_removal", dupSpanRemoval, dupSpanRemovalSql),
    Q("p52_bpe_merge_step", bpeMergeStep, bpeSql),
    Q("p61_zipf_slope", zipfSlope, zipfSlopeSql))
}
