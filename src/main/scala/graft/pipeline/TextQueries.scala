package graft.pipeline

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a large-scale training-data pipeline, run over
  * the `documents` table (doc_id, text, lang, source, n_chars).
  *
  * Everything here is pure narrow projection — no shuffle at all except the
  * final deterministic ORDER BY (dropped by Catalyst under `count()`), so the
  * operators scale linearly with input splits at 100 TB.
  *
  * All built from codegen'd `org.apache.spark.sql.functions` — no UDFs.
  */
object TextQueries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  private val ws = "\\s+"

  /** Whitespace + BPE-ish tokenization counts. */
  private def tokenCount(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(
        col("doc_id"),
        size(split(trim(col("text")), ws)).cast("long").as("n_tokens"),
        // BPE-ish: split on whitespace AND punctuation boundaries
        size(split(trim(col("text")), "[\\s.,!?;:]+")).cast("long").as("n_bpe_ish"),
        length(col("text")).cast("long").as("n_chars_actual"))
      .sortedOnce("doc_id")

  private val tokenCountSql =
    """SELECT doc_id,
      | CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
      | CAST(len(regexp_split_to_array(trim(text), '[\s.,!?;:]+')) AS BIGINT) AS n_bpe_ish,
      | CAST(length(text) AS BIGINT) AS n_chars_actual
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Quality scoring: length / whitespace / vowel / uniqueness ratios.
    * Only IEEE-exact arithmetic (single divisions) for oracle bit-parity.
    * Character-class counts use `translate`/`replace` (plain char scans)
    * instead of regexp_replace — same counts, no regex engine in the hot
    * loop (the oracle keeps its regexp form; outputs are equal). */
  private def quality(s: SparkSession, dir: String): DataFrame = {
    val len = length(col("text")).cast("double")
    val spaces = (length(col("text")) - length(expr("replace(text, ' ', '')"))).cast("long")
    val vowels = (length(col("text")) - length(translate(col("text"), "aeiou", ""))).cast("long")
    val tokens = split(trim(col("text")), ws)
    docs(s, dir)
      .select(
        col("doc_id"), col("n_chars"),
        spaces.as("n_spaces"),
        vowels.as("n_vowels"),
        (vowels.cast("double") / len).as("vowel_ratio"),
        size(tokens).cast("long").as("n_tokens"),
        size(array_distinct(tokens)).cast("long").as("n_unique_tokens"),
        (size(array_distinct(tokens)).cast("double") / size(tokens).cast("double"))
          .as("uniqueness"),
        (len / size(tokens).cast("double")).as("chars_per_token"))
      .sortedOnce("doc_id")
  }

  private val qualitySql =
    """SELECT doc_id, n_chars,
      | CAST(length(text) - length(regexp_replace(text, '[ ]', '', 'g')) AS BIGINT) AS n_spaces,
      | CAST(length(text) - length(regexp_replace(text, '[aeiou]', '', 'g')) AS BIGINT) AS n_vowels,
      | CAST(length(text) - length(regexp_replace(text, '[aeiou]', '', 'g')) AS DOUBLE)
      |   / CAST(length(text) AS DOUBLE) AS vowel_ratio,
      | CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
      | CAST(len(list_distinct(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS n_unique_tokens,
      | CAST(len(list_distinct(regexp_split_to_array(trim(text), '\s+'))) AS DOUBLE)
      |   / CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE) AS uniqueness,
      | CAST(length(text) AS DOUBLE)
      |   / CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE) AS chars_per_token
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Language ID by n-gram / marker-word heuristic, argmax with a fixed
    * preference order. Scores are exact integers → oracle-safe. */
  private def langId(s: SparkSession, dir: String): DataFrame = {
    def hits(markers: Seq[String]): Column =
      markers.map(m => when(col("padded").like(s"% $m %"), 1).otherwise(0))
        .reduce(_ + _)
    val en = Seq("the", "a", "and", "of", "is")
    val es = Seq("el", "la", "de", "los", "es")
    val fr = Seq("le", "la", "et", "les", "est")
    docs(s, dir)
      .withColumn("padded", concat(lit(" "), lower(col("text")), lit(" ")))
      .withColumn("s_en", hits(en))
      .withColumn("s_es", hits(es))
      .withColumn("s_fr", hits(fr))
      .withColumn("pred_lang",
        when(col("s_en") >= col("s_es") && col("s_en") >= col("s_fr") && col("s_en") > 0, "en")
          .when(col("s_es") >= col("s_fr") && col("s_es") > 0, "es")
          .when(col("s_fr") > 0, "fr")
          .otherwise("und"))
      .select(col("doc_id"), col("s_en"), col("s_es"), col("s_fr"), col("pred_lang"))
      .sortedOnce("doc_id")
  }

  private val langIdSql = {
    def hits(markers: Seq[String]): String =
      markers.map(m => s"(CASE WHEN (' ' || lower(text) || ' ') LIKE '% $m %' THEN 1 ELSE 0 END)")
        .mkString("(", " + ", ")")
    val en = hits(Seq("the", "a", "and", "of", "is"))
    val es = hits(Seq("el", "la", "de", "los", "es"))
    val fr = hits(Seq("le", "la", "et", "les", "est"))
    s"""SELECT doc_id, s_en, s_es, s_fr,
       | CASE WHEN s_en >= s_es AND s_en >= s_fr AND s_en > 0 THEN 'en'
       |      WHEN s_es >= s_fr AND s_es > 0 THEN 'es'
       |      WHEN s_fr > 0 THEN 'fr'
       |      ELSE 'und' END AS pred_lang
       |FROM (SELECT doc_id, $en AS s_en, $es AS s_es, $fr AS s_fr
       |      FROM documents) scored
       |ORDER BY doc_id""".stripMargin
  }

  /** Document fingerprinting: content hash (md5) + rolling poly-hash of the
    * full text + winnowing-style min/max over the token-hash stream. All
    * portable arithmetic ([[PortableHash]]) → bit-exact DuckDB oracle. */
  private def fingerprint(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .withColumn("th", expr(PortableHash.sparkTokenHashes("text")))
      .select(
        col("doc_id"),
        md5(col("text")).as("content_md5"),
        expr(PortableHash.sparkCharHash("text")).as("content_poly"),
        // winnowing-style: min/max over token hashes = robust doc sketch
        array_min(col("th")).as("min_token_hash"),
        array_max(col("th")).as("max_token_hash"))
      .sortedOnce("doc_id")

  private val fingerprintSql =
    s"""WITH th AS (SELECT doc_id, text, ${PortableHash.duckTokenHashes("text")} AS th FROM documents)
       |SELECT doc_id, md5(text) AS content_md5,
       |  ${PortableHash.duckCharHash("text")} AS content_poly,
       |  list_min(th) AS min_token_hash, list_max(th) AS max_token_hash
       |FROM th ORDER BY doc_id""".stripMargin

  /** Deterministic hash-free train/valid/test split (stable across runs and
    * engines — the property a reproducible training pipeline needs). */
  private def trainTestSplit(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .withColumn("split",
        when(pmod(col("doc_id"), lit(10)) < 8, "train")
          .when(pmod(col("doc_id"), lit(10)) < 9, "valid")
          .otherwise("test"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
      .orderBy(col("split"))

  private val trainTestSplitSql =
    """SELECT CASE WHEN doc_id % 10 < 8 THEN 'train'
      |            WHEN doc_id % 10 < 9 THEN 'valid'
      |            ELSE 'test' END AS split,
      | count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
      |FROM documents GROUP BY split ORDER BY split""".stripMargin

  /** Corpus vocabulary with doc frequencies — the explode-then-aggregate
    * shape (shuffle on token; at 100 TB this is the canonical wordcount).
    * The mixed count(*)/count(DISTINCT doc_id) aggregate plans an Expand
    * that doubles the exploded stream, but its map-side partials collapse
    * to |vocab|-sized sets per partition — measured FASTER than the
    * explicit (doc, tok)-then-(tok) two-level spelling, which ships every
    * distinct (doc, tok) pair through a shuffle (2.0 vs 2.3 s at sf1 on
    * this Zipfian vocabulary; the two-level form only wins when the
    * vocabulary is too wide for partials to collapse). */
  private def vocabulary(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"), explode(split(trim(col("text")), ws)).as("tok"))
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("n"), countDistinct(col("doc_id")).as("doc_freq"))
      .orderBy(col("tok"))

  private val vocabularySql =
    """SELECT tok, count(*) AS n, count(DISTINCT doc_id) AS doc_freq
      |FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
      |      FROM documents) t
      |GROUP BY tok ORDER BY tok""".stripMargin

  val all: Seq[Q] = Seq(
    Q("p01_token_count", tokenCount, tokenCountSql),
    Q("p02_quality_score", quality, qualitySql),
    Q("p03_lang_id", langId, langIdSql),
    Q("p04_fingerprint", fingerprint, fingerprintSql),
    Q("p18_train_test_split", trainTestSplit, trainTestSplitSql),
    Q("p19_vocabulary", vocabulary, vocabularySql))
}
