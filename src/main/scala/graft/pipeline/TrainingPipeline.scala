package graft.pipeline

import graft.Q
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Composable training-data curation pipeline — the operators of this module
  * (dedup, quality, language, splits) chained as one declarative flow, the
  * way a 100 TB corpus actually gets built. Each stage is a DataFrame
  * transformation: the whole pipeline is ONE Catalyst plan (filters merge,
  * projections prune, nothing materializes until the sink), except the
  * explicitly-staged LSH candidate join.
  *
  * ```scala
  * TrainingPipeline(docs)
  *   .dedupeExact()
  *   .dedupeNear()                 // MinHash-LSH candidates → drop b-sides
  *   .filterQuality(minTokens = 5, maxCharsPerToken = 12.0)
  *   .withLanguage()
  *   .split(train = 0.8, valid = 0.1)
  *   .result
  * ```
  */
final class TrainingPipeline private (val result: DataFrame) {

  /** Keep one document per exact content duplicate group (min doc_id wins) —
    * a window over the content digest, no driver-side state. */
  def dedupeExact(): TrainingPipeline = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(col("text"))).orderBy(col("doc_id"))
    new TrainingPipeline(
      result.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn"))
  }

  /** Drop the higher-id side of every MinHash-LSH near-duplicate candidate
    * pair (the staged band join from DedupQueries). */
  def dedupeNear(): TrainingPipeline = {
    val spark = result.sparkSession
    val bands = DedupQueries.bandRows(DedupQueries.signatures(result))
    val a = bands.select(col("band").as("band_a"), col("band_sig").as("sig_a"),
      col("doc_id").as("doc_a"))
    val b = bands.select(col("band").as("band_b"), col("band_sig").as("sig_b"),
      col("doc_id").as("doc_b"))
    val losers = a.join(b,
        col("band_a") === col("band_b") && col("sig_a") === col("sig_b")
          && col("doc_a") < col("doc_b"))
      .select(col("doc_b").as("doc_id")).distinct()
    new TrainingPipeline(result.join(losers, Seq("doc_id"), "left_anti"))
  }

  /** Quality gates: token count and verbosity bounds (pure narrow filter). */
  def filterQuality(minTokens: Int, maxCharsPerToken: Double): TrainingPipeline = {
    // fully qualified: the split(train, valid) stage below shadows functions.split
    val toks = size(org.apache.spark.sql.functions.split(trim(col("text")), "\\s+"))
    new TrainingPipeline(result.filter(
      toks >= minTokens &&
        (length(col("text")).cast("double") / toks.cast("double")) <= maxCharsPerToken))
  }

  /** Attach the heuristic language prediction. */
  def withLanguage(): TrainingPipeline = {
    def hits(markers: Seq[String]): Column =
      markers.map(m =>
        when(concat(lit(" "), lower(col("text")), lit(" ")).like(s"% $m %"), 1)
          .otherwise(0)).reduce(_ + _)
    val en = hits(Seq("the", "a", "and", "of", "is"))
    val es = hits(Seq("el", "la", "de", "los", "es"))
    val fr = hits(Seq("le", "la", "et", "les", "est"))
    new TrainingPipeline(result.withColumn("pred_lang",
      when(en >= es && en >= fr && en > 0, "en")
        .when(es >= fr && es > 0, "es")
        .when(fr > 0, "fr").otherwise("und")))
  }

  /** Deterministic stratified subsample: keep the k "first" documents per
    * stratum under poly-hash order (reproducible balanced mixes; one
    * shuffle on the stratum key). */
  def sampleStratified(k: Int, strata: String*): TrainingPipeline = {
    val keys = if (strata.nonEmpty) strata else Seq("source", "lang")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*)
      .orderBy(expr(PortableHash.sparkCharHash("text")), col("doc_id"))
    new TrainingPipeline(
      result.withColumn("__rnk", row_number().over(w))
        .filter(col("__rnk") <= k).drop("__rnk"))
  }

  /** Drop documents sharing ≥ `maxRatio` of their 3-token shingles with a
    * benchmark/eval set (decontamination, the p25 kernel): a benchmark
    * suite is small by nature, and AQE broadcasts it from its MEASURED
    * size — no forced hint (r8), so a caller passing an unexpectedly large
    * eval frame degrades to a uniform shingle-keyed shuffle instead of an
    * unbounded driver collect. */
  def decontaminate(evalDocs: DataFrame, maxRatio: Double = 0.1): TrainingPipeline = {
    val shingled = (df: DataFrame) => df
      .withColumn("__th", expr(PortableHash.sparkTokenHashes("text")))
      .select(col("doc_id"), explode(expr(PortableHash.sparkShingles("__th"))).as("__sh"))
      .distinct()
    val evalSh = shingled(evalDocs).select(col("__sh")).distinct()
      .withColumn("__hit", lit(1))
    val contaminated = shingled(result)
      .join(evalSh, Seq("__sh"), "left_outer")
      .groupBy(col("doc_id"))
      .agg((count(col("__hit")).cast("double") / count(lit(1)).cast("double"))
        .as("__ratio"))
      .filter(col("__ratio") >= maxRatio)
      .select(col("doc_id"))
    new TrainingPipeline(result.join(contaminated, Seq("doc_id"), "left_anti"))
  }

  /** Repetition gate (the p26 kernel): drop documents whose duplicate-
    * sentence ratio exceeds `maxDupSentRatio` — pure narrow filter. */
  def filterRepetition(maxDupSentRatio: Double): TrainingPipeline = {
    val sents = org.apache.spark.sql.functions.split(col("text"), "\\.\\s+")
    val ratio = (size(sents) - size(array_distinct(sents))).cast("double") /
      size(sents).cast("double")
    new TrainingPipeline(result.filter(ratio <= maxDupSentRatio))
  }

  /** Deterministic shard layout (the p27 kernel): adds shard_id /
    * pos_in_shard; positions come from per-shard windows, never a global
    * rank. Write with `.result.write.partitionBy("shard_id")` for a
    * reproducible training layout. */
  def shardBy(nShards: Int): TrainingPipeline = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard_id")).orderBy(col("__h"), col("doc_id"))
    new TrainingPipeline(result
      .withColumn("__h",
        pmod(pmod(col("doc_id"), lit(PortableHash.P)) * 1103515245L + 12345L,
          lit(PortableHash.P)))
      .withColumn("shard_id", pmod(col("__h"), lit(nShards.toLong)))
      .withColumn("pos_in_shard", (row_number().over(w) - 1).cast("long"))
      .drop("__h"))
  }

  /** Deterministic train/valid/test assignment by id modulus. */
  def split(train: Double, valid: Double): TrainingPipeline = {
    val trainMax = (train * 10).toInt
    val validMax = trainMax + (valid * 10).toInt
    new TrainingPipeline(result.withColumn("split",
      when(pmod(col("doc_id"), lit(10)) < trainMax, "train")
        .when(pmod(col("doc_id"), lit(10)) < validMax, "valid")
        .otherwise("test")))
  }
}

object TrainingPipeline {
  def apply(docs: DataFrame): TrainingPipeline = new TrainingPipeline(docs)

  // ------------------------------------------------ p78 BPE training loop
  /** Number of merges the p78 oracle row unrolls (the DuckDB side is one
    * statement, so each round is a CTE triplet — keep it small). */
  private[graft] val BpeMerges = 6

  /** Frequency-weighted symbol-sequence vocabulary (TermStats.toks's
    * tokenization + p52's length filter): one row per DISTINCT word,
    * exploded to its character sequence. Pair counting over this frame is
    * vocabulary-sized — sublinear in corpus growth, the classic move from
    * Sennrich et al.'s reference implementation. */
  private def bpeVocab(s: SparkSession, dir: String): DataFrame =
    graft.Tables.load(s, dir, "documents")
      .select(explode(org.apache.spark.sql.functions.split(
        lower(trim(col("text"))), "\\s+")).as("term"))
      .filter(length(col("term")) >= 2)
      .groupBy(col("term")).agg(count(lit(1)).as("c"))
      .select(expr("transform(sequence(1, length(term)), " +
        "i -> substring(term, CAST(i AS INT), 1))").as("sy"), col("c"))

  /** Full BPE tokenizer-training loop (Sennrich et al. 2016) — p52 is one
    * merge step; this iterates it: per round, count adjacent symbol pairs
    * over the weighted vocabulary, take the argmax pair (ties →
    * lexicographic smallest), and REWRITE every word's symbol sequence
    * with the pair merged left-to-right non-overlapping ("aaa" + (a,a) →
    * [aa, a] — the reference implementation's scan order). Returns the
    * merge table (merge_rank, left_sym, right_sym, merged, pair_count) —
    * the artifact a tokenizer ships.
    *
    * Scale shape (the connectedComponents discipline): rounds are
    * DRIVER-BOUNDED (nMerges is the vocab-size budget, a constant);
    * per round the only driver data is ONE argmax row (TakeOrdered(1));
    * the vocabulary is localCheckpoint'ed per round so the lambda-rewrite
    * lineage never stacks; the merge rewrite is a map-side `aggregate`
    * lambda over each word's symbol array — the corpus collapsed to the
    * distinct-word frame once, up front, and never reshuffles. Pair
    * exhaustion before the budget returns the merges found (natural
    * convergence — every word a single symbol — not an error). */
  def bpeTrain(s: SparkSession, dir: String, nMerges: Int = BpeMerges)
      : DataFrame = {
    var vocab = bpeVocab(s, dir).localCheckpoint()
    val merges = Seq.newBuilder[(Long, String, String, String, Long)]
    var round = 0
    var exhausted = false
    while (round < nMerges && !exhausted) {
      val best = vocab.filter(size(col("sy")) >= 2)
        .select(col("c"), explode(expr(
          "transform(sequence(0, size(sy) - 2), " +
            "i -> named_struct('l', sy[i], 'r', sy[i + 1]))")).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("c")).as("pc"))
        .orderBy(col("pc").desc, col("l"), col("r"))
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val (l, r, pc) =
          (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += ((round + 1L, l, r, l + r, pc))
        // left-to-right non-overlapping rewrite: acc = (done symbols,
        // pending symbol); a merge consumes the pending left and the
        // current right, and the merged symbol is NOT reconsidered as a
        // left (the '' pend) — Sennrich's scan order
        vocab = vocab.select(mergeRewrite(l, r).as("sy"), col("c"))
          .localCheckpoint()
        round += 1
      }
    }
    import s.implicits._
    merges.result()
      .toDF("merge_rank", "left_sym", "right_sym", "merged", "pair_count")
  }

  /** Vocab-size-driven stop (round 16): train until the tokenizer's
    * symbol inventory (base characters + one new symbol per merge)
    * reaches `targetVocab` — how production BPE budgets are specified
    * (Sennrich's --symbols). The merge budget derives from ONE one-row
    * distinct-char aggregate, so the loop stays driver-bounded; pair
    * exhaustion still stops early. A target at or below the base
    * alphabet trains zero merges. */
  def bpeTrainToVocab(s: SparkSession, dir: String, targetVocab: Int)
      : DataFrame = {
    val base = bpeVocab(s, dir)
      .select(explode(col("sy")).as("ch"))
      .agg(countDistinct(col("ch")).as("n"))
      .head().getLong(0)
    bpeTrain(s, dir, math.max(0L, targetVocab - base).toInt)
  }

  /** The merge-apply scan over a `sy` symbol array as a Column: acc =
    * (done symbols, pending symbol); a merge consumes the pending left
    * and the current right, and the merged symbol is not reconsidered as
    * a left — left-to-right non-overlapping, the reference order. */
  private def mergeRewrite(l: String, r: String): Column =
    aggregate(
      col("sy"),
      struct(typedLit(Seq.empty[String]).as("o"), lit("").as("p")),
      (acc, sym) =>
        when(acc("p") === lit(l) && sym === lit(r),
          struct(concat(acc("o"), array(lit(l + r))).as("o"),
            lit("").as("p")))
          .when(acc("p") === lit(""),
            struct(acc("o").as("o"), sym.as("p")))
          .otherwise(struct(concat(acc("o"), array(acc("p"))).as("o"),
            sym.as("p"))),
      acc => when(acc("p") === lit(""), acc("o"))
        .otherwise(concat(acc("o"), array(acc("p")))))

  private def bpeTrainQ(s: SparkSession, dir: String): DataFrame =
    bpeTrain(s, dir)

  /** p79: BPE ENCODE — apply the trained merge table to the corpus and
    * report per-source token totals (the compression a tokenizer buys).
    * The merges come from [[bpeTrain]] (weighted length≥2 vocabulary);
    * ENCODING runs over ALL distinct words — merges can't touch
    * single-symbol words, so their token count is their char count.
    * Scale shape: the rewrite chain runs over the DISTINCT-word frame
    * (vocabulary-sized), and the corpus only joins the (term → token
    * count) result — words never re-tokenize per occurrence. */
  private def bpeEncode(s: SparkSession, dir: String): DataFrame = {
    val merges = bpeTrain(s, dir).collect().sortBy(_.getLong(0))
    val words = graft.Tables.load(s, dir, "documents")
      .select(col("source"),
        explode(org.apache.spark.sql.functions.split(
          lower(trim(col("text"))), "\\s+")).as("term"))
      .filter(length(col("term")) >= 1)
    var vocab = words.select(col("term")).distinct()
      .select(col("term"), expr("transform(sequence(1, length(term)), " +
        "i -> substring(term, CAST(i AS INT), 1))").as("sy"))
      .localCheckpoint()
    merges.foreach { m =>
      vocab = vocab.select(col("term"),
        mergeRewrite(m.getString(1), m.getString(2)).as("sy"))
        .localCheckpoint()
    }
    words.join(
        vocab.select(col("term"), size(col("sy")).cast("long").as("nt")),
        Seq("term"))
      .groupBy(col("source"))
      .agg(sum(col("nt")).as("bpe_tokens"), count(lit(1)).as("n_words"))
      .orderBy(col("source"))
  }

  /** The DuckDB mirror, one statement: each round is a CTE triplet —
    * pair counts over the space-joined vocabulary (`p_i`), the argmax
    * (`b_i`), and the rewrite (`v_i`) as a `list_reduce` scan encoding
    * (done, pending) into one string with a chr(1) sentinel (probed:
    * 'a a a a' + (a,a) → 'aa aa', the same non-overlapping order as the
    * Spark lambda). chr(1) inside a document token would break the
    * encoding — not a character the tokenization produces. */
  /** The list_reduce merge-apply over `$prev.w` with `$b`'s pair. */
  private def applySql(prev: String, b: String): String =
    s"""trim(replace(list_reduce(
       |    list_prepend(chr(1), string_split($prev.w, ' ')),
       |    (acc, s) -> CASE
       |      WHEN split_part(acc, chr(1), 2) = $b.l AND s = $b.r
       |        THEN split_part(acc, chr(1), 1) || ' ' || $b.l || $b.r || chr(1)
       |      WHEN split_part(acc, chr(1), 2) = ''
       |        THEN split_part(acc, chr(1), 1) || chr(1) || s
       |      ELSE split_part(acc, chr(1), 1) || ' ' ||
       |        split_part(acc, chr(1), 2) || chr(1) || s
       |    END), chr(1), ' '))""".stripMargin

  /** The shared WITH-body: tokenize → weighted vocabulary → BpeMerges
    * rounds of (pair counts p_i, argmax b_i, rewrite v_i). */
  private val bpeMergeCtes: String = {
    def round(i: Int): String = {
      val prev = s"v${i - 1}"
      s"""p$i AS (SELECT sy[i] AS l, sy[i + 1] AS r, CAST(sum(c) AS BIGINT) AS pc
         |  FROM (SELECT sy, c, unnest(range(1, len(sy))) AS i
         |        FROM (SELECT string_split(w, ' ') AS sy, c FROM $prev) t0) t1
         |  GROUP BY 1, 2),
         |b$i AS (SELECT l, r, pc FROM p$i ORDER BY pc DESC, l, r LIMIT 1),
         |v$i AS (SELECT CASE WHEN b$i.l IS NULL THEN $prev.w
         |    ELSE ${applySql(prev, s"b$i")} END AS w, $prev.c
         |  FROM $prev LEFT JOIN b$i ON TRUE)""".stripMargin
    }
    s"""toks AS (
       |  SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS term
       |  FROM documents),
       |vocab AS (
       |  SELECT term, count(*) AS c FROM toks
       |  WHERE length(term) >= 2 GROUP BY term),
       |v0 AS (
       |  SELECT array_to_string(list_transform(range(1, length(term) + 1),
       |    i -> term[i]), ' ') AS w, c FROM vocab),
       |${(1 to BpeMerges).map(round).mkString(",\n")}""".stripMargin
  }

  private val bpeTrainSql: String = {
    val union = (1 to BpeMerges).map(i =>
      s"SELECT $i AS merge_rank, l AS left_sym, r AS right_sym, " +
        s"l || r AS merged, pc AS pair_count FROM b$i").mkString("\n  UNION ALL ")
    s"""WITH $bpeMergeCtes
       |SELECT CAST(merge_rank AS BIGINT) AS merge_rank, left_sym, right_sym,
       |       merged, CAST(pair_count AS BIGINT) AS pair_count FROM (
       |  $union) m
       |ORDER BY merge_rank""".stripMargin
  }

  /** The p79 mirror: the shared merge CTEs feed an ENCODE chain over ALL
    * distinct words (e0..eN thread the original term), then the corpus
    * word stream joins the (term → token count) result per source. */
  private val bpeEncodeSql: String = {
    def enc(i: Int): String = {
      val prev = s"e${i - 1}"
      s"""e$i AS (SELECT $prev.term, CASE WHEN b$i.l IS NULL THEN $prev.w
         |    ELSE ${applySql(prev, s"b$i")} END AS w
         |  FROM $prev LEFT JOIN b$i ON TRUE)""".stripMargin
    }
    s"""WITH $bpeMergeCtes,
       |allv AS (SELECT DISTINCT term FROM toks WHERE length(term) >= 1),
       |e0 AS (
       |  SELECT term, array_to_string(list_transform(range(1, length(term) + 1),
       |    i -> term[i]), ' ') AS w FROM allv),
       |${(1 to BpeMerges).map(enc).mkString(",\n")},
       |tok2 AS (
       |  SELECT source, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS term
       |  FROM documents),
       |encl AS (SELECT term, CAST(len(string_split(w, ' ')) AS BIGINT) AS nt
       |         FROM e$BpeMerges)
       |SELECT source, CAST(sum(nt) AS BIGINT) AS bpe_tokens,
       |       count(*) AS n_words
       |FROM tok2 JOIN encl USING (term)
       |GROUP BY source ORDER BY source""".stripMargin
  }

  /** The end-to-end curation flow as a declared query (rows-only check):
    * per-split corpus stats after full dedupe + quality gates. */
  private def endToEnd(s: SparkSession, dir: String): DataFrame =
    TrainingPipeline(graft.Tables.load(s, dir, "documents"))
      .dedupeExact()
      .dedupeNear()
      .filterQuality(minTokens = 5, maxCharsPerToken = 12.0)
      .withLanguage()
      .split(train = 0.8, valid = 0.1)
      .result
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"),
        countDistinct(col("pred_lang")).as("n_langs"))
      .orderBy(col("split"))

  /** The same flow as DuckDB CTEs — exact-dedupe window, the full portable
    * MinHash-LSH chain ([[PortableHash.duckLshCtes]]) over the deduped set,
    * quality/language/split stages, final per-split rollup. */
  private val endToEndSql = {
    def hits(markers: Seq[String]): String =
      markers.map(m => s"(CASE WHEN (' ' || lower(text) || ' ') LIKE '% $m %' THEN 1 ELSE 0 END)")
        .mkString("(", " + ", ")")
    s"""WITH exact AS (
       |  SELECT doc_id, text, lang, source, n_chars FROM (
       |    SELECT d.*, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
       |    FROM documents d) t
       |  WHERE rn = 1),
       |${PortableHash.duckLshCtes("exact")},
       |losers AS (
       |  SELECT DISTINCT b.doc_id FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id),
       |neardup AS (
       |  SELECT e.* FROM exact e WHERE e.doc_id NOT IN (SELECT doc_id FROM losers)),
       |quality AS (
       |  SELECT *, len(regexp_split_to_array(trim(text), '\\s+')) AS toks FROM neardup),
       |filt AS (
       |  SELECT * FROM quality
       |  WHERE toks >= 5 AND CAST(length(text) AS DOUBLE) / CAST(toks AS DOUBLE) <= 12.0),
       |scored AS (
       |  SELECT *, ${hits(Seq("the", "a", "and", "of", "is"))} AS s_en,
       |            ${hits(Seq("el", "la", "de", "los", "es"))} AS s_es,
       |            ${hits(Seq("le", "la", "et", "les", "est"))} AS s_fr
       |  FROM filt),
       |lang2 AS (
       |  SELECT *, CASE WHEN s_en >= s_es AND s_en >= s_fr AND s_en > 0 THEN 'en'
       |                 WHEN s_es >= s_fr AND s_es > 0 THEN 'es'
       |                 WHEN s_fr > 0 THEN 'fr' ELSE 'und' END AS pred_lang
       |  FROM scored),
       |spl AS (
       |  SELECT *, CASE WHEN doc_id % 10 < 8 THEN 'train'
       |                 WHEN doc_id % 10 < 9 THEN 'valid'
       |                 ELSE 'test' END AS split
       |  FROM lang2)
       |SELECT split, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars,
       |       count(DISTINCT pred_lang) AS n_langs
       |FROM spl GROUP BY split ORDER BY split""".stripMargin
  }

  val all: Seq[Q] = Seq(
    Q("p20_training_pipeline", endToEnd, endToEndSql),
    Q("p78_bpe_train", bpeTrainQ, bpeTrainSql),
    Q("p79_bpe_encode", bpeEncode, bpeEncodeSql))
}
