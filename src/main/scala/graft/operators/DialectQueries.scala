package graft.operators

import graft.{Q, Tables}
import graft.session.{Connection, Engine, EngineConfig}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Oracled coverage for the DuckDB dialect surface Spark has no spelling
  * for: star modifiers, QUALIFY, function and operator spellings, window
  * EXCLUDE, PIVOT/UNPIVOT, macros, COLUMNS(...), UNION BY NAME and more.
  *
  * Every row runs its DuckDB text through an engine [[Connection]] — the
  * statement path every user query takes — and hands DuckDB the identical
  * text as the oracle, since DuckDB runs both forms natively. That makes the
  * engine's own path the unit under oracle, not a hand-expanded equivalent.
  *
  * Scale note: the rewrite is string-level and happens once on the driver;
  * the emitted plan is an ordinary Spark plan, so nothing here changes
  * shape at 100 TB.
  */
object DialectQueries {

  /** One engine connection per caller session, on a child session of it:
    * the engine's session set-up (current database `main`, the ordinal and
    * `sizeOfNull` confs) stays off the caller's other rows. The child takes
    * its confs from the SparkContext, not from runtime `conf.set` calls on
    * the caller's session. */
  private val connections = new java.util.WeakHashMap[SparkSession, Connection]()

  private def connection(spark: SparkSession, dir: String): Connection = {
    val conn = connections.synchronized {
      connections.computeIfAbsent(spark, s =>
        new Engine(EngineConfig(existingSession = Some(s.newSession()))).connect())
    }
    Tables.registerAll(conn.engine.spark, dir)
    conn
  }

  /** A row whose DuckDB text runs on the engine's statement path. */
  private def engineSql(sql: String)(spark: SparkSession, dir: String): DataFrame =
    connection(spark, dir).queryDF(sql)

  // star EXCLUDE + REPLACE on one star item: the EXCLUDE list must merge
  // into the emitted EXCEPT together with the replaced columns. Column
  // ORDER deviates by design (replaced columns move to the end — the
  // string rewrite cannot know the star's expansion order); the driver
  // compare sorts columns by name, and name-based consumers are unaffected.
  private val q57Sql =
    """SELECT * EXCLUDE (o_orderpriority)
      |       REPLACE (upper(o_orderstatus) AS o_orderstatus,
      |                o_totalprice * 2 AS o_totalprice)
      |FROM orders
      |WHERE o_orderkey <= 1000
      |ORDER BY o_orderkey""".stripMargin

  // QUALIFY over a column the SELECT list does not project (o_custkey):
  // DialectSugar injects it into the inner projection and strips it again
  // via star-EXCEPT, so the output schema stays exactly the declared one.
  private val q58Sql =
    """SELECT o_orderkey, o_orderstatus, o_totalprice
      |FROM orders
      |QUALIFY row_number() OVER (PARTITION BY o_custkey
      |                           ORDER BY o_totalprice DESC, o_orderkey) <= 2
      |ORDER BY o_orderkey""".stripMargin

  // DuckDB list-function spellings over a split-to-array column: extraction
  // (1-based in both engines), length (cast — DuckDB's array_length is
  // BIGINT, Spark's size is INT), membership, and sort+distinct composition.
  private val q59Sql =
    """SELECT doc_id,
      |  list_extract(toks, 1) AS first_tok,
      |  CAST(array_length(toks) AS BIGINT) AS n_toks,
      |  list_contains(toks, 'the') AS has_the,
      |  list_extract(list_sort(list_distinct(toks)), 1) AS min_tok
      |FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
      |      FROM documents)
      |WHERE doc_id % 20 = 0
      |ORDER BY doc_id""".stripMargin

  // unnest in the SELECT list (DuckDB's row-expanding form → Spark explode):
  // the non-generator column repeats per produced row in both engines.
  private val q60Sql =
    """SELECT doc_id,
      |  unnest(list_sort(list_distinct(regexp_split_to_array(trim(text), '\s+')))) AS tok
      |FROM documents
      |WHERE doc_id % 100 = 0
      |ORDER BY doc_id, tok""".stripMargin

  // DuckDB's simplified PIVOT statement: the engine side feeds the SAME
  // DuckDB text through PivotOps (the parser + Spark dynamic pivot are the
  // unit under oracle); column-per-status sums over a dynamic value set.
  private val q61Pivot =
    "PIVOT orders ON o_orderstatus USING sum(o_totalprice) GROUP BY o_orderpriority"
  private val q61Oracle =
    s"SELECT * FROM ($q61Pivot) ORDER BY o_orderpriority"

  private def pivotQ(spark: SparkSession, dir: String): DataFrame =
    engineSql(q61Pivot)(spark, dir).orderBy(col("o_orderpriority"))

  // UNPIVOT back to long form, NULL cells dropped (both engines' default).
  private val wideSql =
    """SELECT o_orderpriority,
      |  sum(CASE WHEN o_orderstatus='F' THEN o_totalprice ELSE 0 END) AS f_total,
      |  sum(CASE WHEN o_orderstatus='O' THEN o_totalprice ELSE 0 END) AS o_total,
      |  sum(CASE WHEN o_orderstatus='P' THEN o_totalprice ELSE 0 END) AS p_total
      |FROM orders GROUP BY o_orderpriority""".stripMargin
  private val q62Unpivot =
    "UNPIVOT __graft_wide ON f_total, o_total, p_total INTO NAME status VALUE total"
  private val q62Oracle =
    s"""WITH wide AS ($wideSql)
       |SELECT * FROM (${q62Unpivot.replace("__graft_wide", "wide")})
       |ORDER BY o_orderpriority, status""".stripMargin

  private def unpivotQ(spark: SparkSession, dir: String): DataFrame = {
    val conn = connection(spark, dir)
    conn.queryDF(wideSql).createOrReplaceTempView("__graft_wide")
    conn.queryDF(q62Unpivot).orderBy(col("o_orderpriority"), col("status"))
  }

  // DESCRIBE in DuckDB's result shape with DuckDB type spellings — BIGINT /
  // TIMESTAMP / VARCHAR / DOUBLE on orders, FLOAT[] / INTEGER on embeddings
  // (the array spelling exercises the recursive type mapping).
  private val q63Oracle =
    """SELECT 'orders' AS tbl, column_name, column_type, "null" AS is_null
      |FROM (DESCRIBE orders)
      |UNION ALL
      |SELECT 'embeddings', column_name, column_type, "null"
      |FROM (DESCRIBE embeddings)
      |ORDER BY tbl, column_name""".stripMargin

  private def describeQ(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.lit
    Tables.registerAll(spark, dir)
    graft.session.Commands.describe(spark, "orders").withColumn("tbl", lit("orders"))
      .unionByName(graft.session.Commands.describe(spark, "embeddings")
        .withColumn("tbl", lit("embeddings")))
      .select(col("tbl"), col("column_name"), col("column_type"),
        col("null").as("is_null"))
      .orderBy(col("tbl"), col("column_name"))
  }

  // Datetime function spellings: strftime (C pattern → Java pattern),
  // epoch_ms ≡ unix_millis, date_part (same name+order in both engines).
  private val q64Sql =
    """SELECT o_orderkey,
      |  strftime(o_orderdate, '%Y-%m-%dT%H:%M') AS d_str,
      |  epoch_ms(o_orderdate) AS ms,
      |  CAST(date_part('year', o_orderdate) AS BIGINT) AS yr,
      |  CAST(date_part('month', o_orderdate) AS BIGINT) AS mo
      |FROM orders WHERE o_orderkey <= 500
      |ORDER BY o_orderkey""".stripMargin

  // String-function spellings: regexp_matches → regexp_like, starts_with /
  // ends_with → startswith/endswith, array_to_string → array_join.
  private val q66Sql =
    """SELECT doc_id,
      |  regexp_matches(text, '^[A-Z]') AS caps_start,
      |  starts_with(trim(text), 'The') AS starts_the,
      |  ends_with(trim(text), '.') AS ends_dot,
      |  array_to_string(list_sort(list_distinct(
      |    regexp_split_to_array(lower(source), '-'))), '|') AS src_key
      |FROM documents WHERE doc_id % 25 = 0
      |ORDER BY doc_id""".stripMargin

  // JSON arrow operator: '$.path' and bare-key forms both normalize to
  // get_json_object; DuckDB runs ->> natively as the oracle.
  private val q67Sql =
    """SELECT event_type, count(*) AS n,
      |  CAST(sum(CAST(props ->> '$.k' AS BIGINT)) AS BIGINT) AS sum_k,
      |  CAST(min(CAST(props ->> 'k' AS BIGINT)) AS BIGINT) AS min_k
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // JSON `->` operator (JSON-typed extraction) chained into `->>`:
  // each `->` folds to get_json_object, sound for the chainable
  // (object/array) results; integer segments address arrays 0-based in both
  // engines. The JSON is built from row data so values vary per row.
  private val q71Sql =
    """SELECT o_orderkey,
      |  CAST(j -> 'a' ->> 'b' AS BIGINT) AS b_val,
      |  j -> 'a' -> 'arr' ->> 1 AS arr_1,
      |  j ->> '$.a.b' AS b_path
      |FROM (SELECT o_orderkey,
      |        '{"a": {"b": ' || CAST(o_orderkey AS STRING) || ', "arr": [10,20,30]}}' AS j
      |      FROM orders WHERE o_orderkey <= 200)
      |ORDER BY o_orderkey""".stripMargin

  // PIVOT with a pinned IN-list: the value set is bound at parse time (no
  // distinct-values job on either engine) and the column order is the
  // declared one.
  private val q72Pivot =
    "PIVOT orders ON o_orderstatus IN ('O', 'F') USING sum(o_totalprice) GROUP BY o_orderpriority"
  private val q72Oracle =
    s"SELECT * FROM ($q72Pivot) ORDER BY o_orderpriority"

  private def pivotInQ(spark: SparkSession, dir: String): DataFrame =
    engineSql(q72Pivot)(spark, dir).orderBy(col("o_orderpriority"))

  // ASOF JOIN in SQL (AsofJoinSql: equi-join + per-key lead() validity
  // window; DuckDB runs the text natively). The right side dedups per
  // (user, ts) first — equal-time ties are resolved arbitrarily by BOTH
  // engines, so the oracle pins them away.
  private val q73Sql =
    """SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS click_id,
      |  epoch_ms(p.ts) - epoch_ms(c.ts) AS gap_ms
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |ASOF JOIN (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
      |           QUALIFY row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id) = 1) c
      |  ON p.user_id = c.user_id AND p.ts >= c.ts
      |ORDER BY p.user_id, purchase_id""".stripMargin

  // DISTINCT ON — DuckDB's first-row-per-group idiom, compiled through the
  // QUALIFY machinery (q58's path): highest-price order per customer.
  private val q69Sql =
    """SELECT DISTINCT ON (o_custkey) o_custkey, o_orderkey, o_totalprice
      |FROM orders
      |WHERE o_custkey <= 200
      |ORDER BY o_custkey, o_totalprice DESC, o_orderkey""".stripMargin

  // SQL macro expansion (MacroRegistry): the engine side defines the macro
  // and runs the sugared text; the oracle is the hand-expanded equivalent
  // (the driver's oracle runs one statement, so DuckDB's own CREATE MACRO
  // can't be exercised — the unit under oracle is OUR expansion).
  private val q74Macro =
    "CREATE MACRO graft_disc(p, pct := 0.1) AS p * (1 - pct)"
  private val q74Use =
    """SELECT o_orderpriority,
      |  CAST(sum(graft_disc(o_totalprice)) AS DOUBLE) AS total_disc,
      |  CAST(sum(graft_disc(o_totalprice, pct := 0.25)) AS DOUBLE) AS total_disc25
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin
  private val q74Oracle =
    """SELECT o_orderpriority,
      |  CAST(sum(o_totalprice * (1 - 0.1)) AS DOUBLE) AS total_disc,
      |  CAST(sum(o_totalprice * (1 - 0.25)) AS DOUBLE) AS total_disc25
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  private def macroQ(spark: SparkSession, dir: String): DataFrame = {
    val conn = connection(spark, dir)
    conn.queryDF(q74Macro)
    // the expansion happens at planning time, so the macro can go at once
    try conn.queryDF(q74Use) finally conn.queryDF("DROP MACRO graft_disc")
  }

  // COLUMNS('regex') star expression — the bare form's output names are the
  // column names in both engines, so the SAME text runs on both sides
  // (DuckDB expands natively, Spark through ColumnsExpansion).
  private val q75Sql =
    """SELECT COLUMNS('l_(orderkey|partkey|quantity)')
      |FROM lineitem
      |WHERE l_orderkey <= 100
      |ORDER BY l_orderkey, l_partkey""".stripMargin

  // aggregate spellings: arg_max/arg_min (value at extremum of the second
  // argument — keyed by the UNIQUE o_orderkey so ties can't differ),
  // quantile_cont (exact interpolated ≡ Spark percentile), strpos (1-based).
  private val q76Sql =
    """SELECT o_orderpriority,
      |  arg_max(o_totalprice, o_orderkey) AS price_at_max_key,
      |  arg_min(o_totalprice, o_orderkey) AS price_at_min_key,
      |  CAST(quantile_cont(o_totalprice, 0.5) AS DOUBLE) AS med_price,
      |  CAST(strpos(min(o_orderpriority), '-') AS BIGINT) AS dash_pos
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // constructor spellings: struct_pack(k := v) / struct_extract / list_value.
  private val q77Sql =
    """SELECT o_orderkey,
      |  struct_extract(struct_pack(k := o_orderkey, p := o_totalprice), 'p') AS packed_p,
      |  list_extract(list_value(o_orderkey, o_orderkey + 1, o_orderkey + 2), 2) AS second
      |FROM orders WHERE o_orderkey <= 100 ORDER BY o_orderkey""".stripMargin

  // WITH RECURSIVE — Spark 4 executes recursive CTEs natively (UnionLoop),
  // so the SAME text runs on both engines: a halving-ancestry walk per
  // seeded document (≈log₂(doc_id) levels; the recursion carries one row
  // per (seed, level) — state is O(seeds·log n), never corpus-sized).
  // Integer `/` yields DOUBLE in both dialects; the halving goes through
  // floor() because the bare double→int CAST diverges (Spark truncates,
  // DuckDB rounds half-even — 3/2 would step to 1 vs 2).
  private val q78Sql =
    """WITH RECURSIVE up(doc_id, anc, depth) AS (
      |  SELECT doc_id, doc_id, 0 FROM documents WHERE doc_id % 100 = 0
      |  UNION ALL
      |  SELECT doc_id, CAST(floor(anc / 2) AS BIGINT), depth + 1 FROM up WHERE anc > 0
      |)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS chain_len,
      |  CAST(max(depth) AS BIGINT) AS max_depth
      |FROM up GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // Pattern-match operators Spark lacks: SIMILAR TO with DuckDB's raw-regex
  // full-match semantics (% and _ are LITERAL there — pinned by the last
  // disjunct, which matches nothing) and DuckDB GLOB (*, ?, [...]), both →
  // anchored regexp_like; same text runs natively on DuckDB.
  private val q79Sql =
    """SELECT doc_id, source, lang
      |FROM documents
      |WHERE (source SIMILAR TO 'src1[0-5]' AND lang SIMILAR TO '(en|de)')
      |   OR source GLOB 'src?'
      |   OR (lang SIMILAR TO '%(en|de|fr)%' AND source GLOB 'src1*')
      |ORDER BY doc_id""".stripMargin

  // Second list-function wave + boundary-exact date_diff: list_slice
  // (1-based inclusive ends), list_position (NULL when absent), list_unique,
  // array_pop_back/front, list_reverse, date_diff over day and month parts.
  private val q80Sql =
    """SELECT doc_id,
      |  array_to_string(list_slice(toks, 2, 4), ' ') AS mid,
      |  CAST(list_position(toks, 'the') AS BIGINT) AS pos_the,
      |  CAST(list_position(toks, '__absent__') AS BIGINT) AS pos_none,
      |  CAST(list_unique(toks) AS BIGINT) AS n_uniq,
      |  list_extract(list_reverse(toks), 1) AS last_tok,
      |  CAST(array_length(array_pop_back(toks)) AS BIGINT) AS n_m1,
      |  CAST(array_length(array_pop_front(toks)) AS BIGINT) AS n_m2
      |FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
      |      FROM documents)
      |WHERE doc_id % 25 = 0
      |ORDER BY doc_id""".stripMargin

  // POSITIONAL JOIN — row-position pairing over ordered subqueries with
  // NULL padding on the shorter side (FULL-outer-by-position). Each side
  // projects its own row_number so the pairing is observable and the output
  // deterministic; side lengths differ to exercise the padding. The engine
  // side compiles through DialectSugar.positionalJoin (window spelling);
  // the scale path — range-partitioned two-pass positions, no
  // SinglePartition stage — is operators.PositionalJoin, pinned equal in
  // PositionalJoinSpec.
  private val q83Sql =
    """SELECT coalesce(l.pos, r.pos) AS pos, l.lk, l.lprice, r.rk, r.rprio
      |FROM (SELECT row_number() OVER (ORDER BY o_orderkey) AS pos,
      |             o_orderkey AS lk, o_totalprice AS lprice
      |      FROM orders WHERE o_orderkey <= 400 ORDER BY lk) AS l
      |POSITIONAL JOIN
      |     (SELECT row_number() OVER (ORDER BY o_orderkey) AS pos,
      |             o_orderkey AS rk, o_orderpriority AS rprio
      |      FROM orders WHERE o_orderkey BETWEEN 201 AND 800 ORDER BY rk) AS r
      |ORDER BY pos""".stripMargin

  // Window frame EXCLUDE CURRENT ROW (SQL:2016 T620, DuckDB-native) over a
  // named WINDOW clause: WindowExclude inlines the named spec and splits
  // the ROWS frame around the current row ([a,-1] ⊕ [+1,b]); the trailing
  // running-sum column exercises the empty-left-half edge (first row per
  // partition → NULL). Partitioned by o_custkey — cardinality grows with
  // the data, not a constant-key window.
  private val q84Sql =
    """SELECT o_orderkey,
      |  CAST(sum(o_totalprice) OVER w AS DOUBLE) AS nb_sum,
      |  CAST(count(*) OVER w AS BIGINT) AS nb_cnt,
      |  CAST(avg(o_totalprice) OVER w AS DOUBLE) AS nb_avg,
      |  CAST(min(o_totalprice) OVER w AS DOUBLE) AS nb_min,
      |  CAST(max(o_totalprice) OVER w AS DOUBLE) AS nb_max,
      |  CAST(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderkey
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW EXCLUDE CURRENT ROW)
      |    AS DOUBLE) AS run_sum_ex
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey
      |             ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING EXCLUDE CURRENT ROW)
      |ORDER BY o_orderkey""".stripMargin

  // Ordered-aggregate spellings: list(x ORDER BY k DESC) keeps DuckDB's
  // declared order (struct-sort expansion), string_agg with ORDER BY and
  // separator, list_aggregate applied to the collected list (sum in DOUBLE
  // — deviation documented at the rewrite; cast on both sides). Unique
  // order key (o_orderkey) so tie order can't differ between engines.
  private val q85Sql =
    """SELECT o_orderpriority,
      |  array_to_string(list(o_orderkey ORDER BY o_orderkey DESC), ',') AS keys_desc,
      |  string_agg(o_orderstatus, '|' ORDER BY o_orderkey) AS statuses,
      |  CAST(list_aggregate(list(o_totalprice ORDER BY o_orderkey), 'sum') AS DOUBLE) AS sum_via_list,
      |  CAST(list_aggregate(list(o_orderkey ORDER BY o_orderkey), 'max') AS BIGINT) AS max_via_list,
      |  CAST(list_aggregate(list(o_orderkey ORDER BY o_orderkey), 'count') AS BIGINT) AS cnt_via_list,
      |  CAST(list_aggregate(list(o_totalprice ORDER BY o_orderkey), 'avg') AS DOUBLE) AS avg_via_list
      |FROM orders
      |WHERE o_orderkey <= 300
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  // time_bucket (epoch-aligned for day-dividing intervals) + median — both
  // spellings shared by the engines after the rewrite; bucket surfaces as
  // epoch ms so no timestamp-vs-timestamptz type skew reaches the compare.
  private val q86Sql =
    """SELECT epoch_ms(time_bucket(INTERVAL '15 minutes', ts)) AS bucket_ms,
      |  CAST(count(*) AS BIGINT) AS n,
      |  CAST(median(value) AS DOUBLE) AS med_value,
      |  CAST(sum(value) AS DOUBLE) AS sum_value
      |FROM events
      |GROUP BY 1 ORDER BY 1""".stripMargin

  private val q81Sql =
    """SELECT o_orderkey,
      |  CAST(date_diff('day', o_orderdate, TIMESTAMP '1995-06-15 00:00:00') AS BIGINT) AS d_days,
      |  CAST(date_diff('month', o_orderdate, TIMESTAMP '1995-06-15 00:00:00') AS BIGINT) AS d_months,
      |  CAST(date_diff('year', o_orderdate, TIMESTAMP '1995-06-15 00:00:00') AS BIGINT) AS d_years
      |FROM orders WHERE o_orderkey <= 300
      |ORDER BY o_orderkey""".stripMargin

  // bracket list expressions: a literal, a plain comprehension, and a
  // filtered comprehension — DuckDB runs the brackets natively, the Spark
  // side goes through ListComprehension → transform/filter/array
  // The inner query is the unit under test (bracket literals, comprehensions,
  // slices, 1-based/negative indexing). The outer SELECT only flattens the
  // ARRAY-typed columns to pipe-joined strings so the driver comparator can
  // lexsort/hash the result (pandas cannot sort ndarray cells) — identical
  // text runs on both engines, so the flattening itself is also oracled.
  private val q87Sql =
    """SELECT doc_id,
      |  array_to_string(list_transform(tok_lens, t -> CAST(t AS STRING)), '|') AS tok_lens_s,
      |  array_to_string(long_toks, '|') AS long_toks_s,
      |  array_to_string(tags, '|') AS tags_s,
      |  array_to_string(slice_mid, '|') AS slice_mid_s,
      |  array_to_string(slice_head, '|') AS slice_head_s,
      |  array_to_string(list_transform(slice_tail, t -> CAST(t AS STRING)), '|') AS slice_tail_s,
      |  first_tok, last_tok, second_lit
      |FROM (
      |  SELECT doc_id,
      |    [CAST(length(t) AS BIGINT) FOR t IN string_split(text, ' ')] AS tok_lens,
      |    [upper(t) FOR t IN string_split(text, ' ') IF length(t) > 6] AS long_toks,
      |    [lang, source] AS tags,
      |    string_split(text, ' ')[2:4] AS slice_mid,
      |    string_split(text, ' ')[:3] AS slice_head,
      |    [10, 20, 30, 40][3:] AS slice_tail,
      |    string_split(text, ' ')[1] AS first_tok,
      |    string_split(text, ' ')[-1] AS last_tok,
      |    [10, 20, 30][2] AS second_lit
      |  FROM documents WHERE doc_id <= 50) brackets
      |ORDER BY doc_id""".stripMargin

  // UNION ALL BY NAME: mismatched column sets NULL-fill and align by name
  // (left columns first, then the right side's new ones) — DuckDB native,
  // Spark via the SetOpsByName schema-resolving rewrite
  private val q88Sql =
    """SELECT o_orderkey AS k, o_totalprice AS price
      |FROM orders WHERE o_orderkey <= 100
      |UNION ALL BY NAME
      |SELECT c_name AS name, c_custkey AS k
      |FROM customer WHERE c_custkey <= 50
      |ORDER BY k, price""".stripMargin

  // default null ordering under LIMIT: DuckDB sorts NULLs last, so the
  // returned ROW SET (not just its order) depends on the NullOrder pin;
  // TRY_CAST rides along (same spelling both engines)
  private val q89Sql =
    """SELECT CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_orderkey END AS v,
      |  TRY_CAST(substring(o_orderpriority, 1, 1) AS INT) AS prio,
      |  TRY_CAST(o_orderstatus AS INT) AS never
      |FROM orders
      |ORDER BY v LIMIT 40""".stripMargin

  // bare SEMI / ANTI JOIN keywords (DuckDB spells Spark's LEFT SEMI/ANTI
  // without the LEFT): both sides of the union exercise the rewrite, with
  // an extra non-equi conjunct on the semi side. DuckDB runs the bare
  // spelling natively as the oracle.
  private val q90Sql =
    """SELECT 'semi' AS side, c_custkey, c_name
      |FROM customer SEMI JOIN orders
      |  ON o_custkey = c_custkey AND o_totalprice > 400000
      |UNION ALL
      |SELECT 'anti' AS side, c_custkey, c_name
      |FROM customer ANTI JOIN orders ON o_custkey = c_custkey
      |ORDER BY side, c_custkey""".stripMargin

  // VALUES inline table with a column-list alias, grouped through the
  // native product() aggregate (graft.functions.ProductAgg — Spark has no
  // product spelling; DuckDB runs its built-in). Small exact integers so
  // the DOUBLE product is order-independent; one NULL proves null-skip.
  private val q91Sql =
    """SELECT t.grp,
      |  CAST(product(t.x) AS DOUBLE) AS prod,
      |  CAST(count(t.x) AS BIGINT) AS n
      |FROM (VALUES (1, 2), (1, 3), (1, 4), (2, 5), (2, 6), (2, NULL))
      |  AS t(grp, x)
      |GROUP BY t.grp
      |ORDER BY t.grp""".stripMargin

  // statistic aggregate spellings shared by both engines: median / mode /
  // bool_and / bool_or / bit_and / bit_or / bit_xor. The mode argument's
  // most-frequent value is unique per group (l_linenumber = 1 strictly
  // dominates), so tie-break rules can't diverge; every integer aggregate
  // is CAST to BIGINT against DuckDB's widening.
  private val q92Sql =
    """SELECT l_returnflag,
      |  CAST(median(l_quantity) AS DOUBLE) AS med_qty,
      |  CAST(mode(l_linenumber) AS BIGINT) AS mode_line,
      |  bool_and(l_quantity > 1) AS all_multi,
      |  bool_or(l_discount > 0.09) AS any_deep_disc,
      |  CAST(bit_and(l_partkey) AS BIGINT) AS band,
      |  CAST(bit_or(l_partkey) AS BIGINT) AS bor,
      |  CAST(bit_xor(l_partkey) AS BIGINT) AS bxor
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  // USING SAMPLE → TABLESAMPLE rewrite, pinned at 100% so the sampled
  // row set is the whole table and the result is deterministic on both
  // engines (method/e.g. bernoulli is advisory; fractional sampling is
  // RNG-divergent by nature and covered by row-count specs instead).
  private val q93Sql =
    """SELECT CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum
      |FROM orders USING SAMPLE 100% (bernoulli)""".stripMargin

  // regexp_replace first-match default vs 'g', combined 'gi' flags, RE2 \N
  // backrefs, and 2-arg regexp_extract's group-0 default — all DuckDB
  // semantics Spark's same-named functions silently diverge on.
  private val q94Sql =
    """SELECT p_partkey,
      |  regexp_replace(p_name, '[aeiou]', '_') AS first_devowel,
      |  regexp_replace(p_name, '([a-z]+) ([a-z]+)', '\2-\1') AS swap_first,
      |  regexp_replace(p_name, 'a', 'X', 'gi') AS global_ci,
      |  regexp_extract(p_name, '[a-z]+') AS first_word,
      |  regexp_extract(p_name, '([a-z]+) ([a-z]+)', 2) AS second_word
      |FROM part WHERE p_partkey <= 200 ORDER BY p_partkey""".stripMargin

  // Quantified subquery comparisons (ANSI ALL/ANY/SOME) — DuckDB parses
  // them natively; Spark doesn't, so DialectFunctions reduces order
  // comparisons to min/max scalar subqueries and =ANY to IN.
  private val q95Sql =
    """SELECT o_orderkey, o_totalprice
      |FROM orders
      |WHERE o_totalprice > ALL (SELECT l_extendedprice FROM lineitem WHERE l_orderkey = 1)
      |  AND o_custkey = ANY (SELECT c_custkey FROM customer WHERE c_nationkey = 5)
      |  AND o_totalprice < SOME (SELECT l_extendedprice * 100 FROM lineitem WHERE l_orderkey = 1)
      |ORDER BY o_orderkey LIMIT 50""".stripMargin

  // Scalar-position generate_series: inclusive series with step, and the
  // timestamp + INTERVAL form — both fold to Spark's sequence(). String-cast
  // output keeps the timestamp comparison engine-neutral (both sessions
  // render 'yyyy-MM-dd HH:mm:ss').
  private val q96Sql =
    """SELECT CAST(v AS BIGINT) AS v, CAST(ts AS STRING) AS ts_s
      |FROM (SELECT unnest(generate_series(0, 20, 5)) AS v) a,
      |     (SELECT unnest(generate_series(TIMESTAMP '2024-01-01',
      |                                    TIMESTAMP '2024-01-05',
      |                                    INTERVAL 2 DAY)) AS ts) b
      |ORDER BY v, ts_s""".stripMargin

  // MAP constructor (two-list form → map_from_arrays), map_keys/map_values/
  // cardinality (names agree), printf → format_string.
  // Outer SELECT flattens the ARRAY-typed map_keys/map_values outputs to
  // pipe-joined strings for the driver comparator (same rationale as q87);
  // the MAP construction/inspection under test is untouched in the subquery.
  private val q97Sql =
    """SELECT o_orderkey,
      |  array_to_string(ks, '|') AS ks_s,
      |  array_to_string(list_transform(vs, t -> CAST(t AS STRING)), '|') AS vs_s,
      |  n, tag
      |FROM (
      |  SELECT o_orderkey,
      |    map_keys(map(['a','b','c'], [1, 2, 3])) AS ks,
      |    map_values(map(['x','y'], [o_orderkey, o_custkey])) AS vs,
      |    CAST(cardinality(map(['a'], [1])) AS BIGINT) AS n,
      |    printf('%s/%d', o_orderstatus, o_orderkey) AS tag
      |  FROM orders WHERE o_orderkey <= 20) maps
      |ORDER BY o_orderkey""".stripMargin

  // `//` integer division (truncation toward zero on both engines)
  private val q99Sql =
    """SELECT o_orderkey,
      |  CAST(o_orderkey // 7 AS BIGINT) AS q7,
      |  CAST((0 - o_orderkey) // 7 AS BIGINT) AS qneg
      |FROM orders WHERE o_orderkey <= 100 ORDER BY o_orderkey""".stripMargin

  // dayname/monthname spellings over real date data
  private val q98Sql =
    """SELECT o_orderkey,
      |  dayname(o_orderdate) AS dow_name,
      |  monthname(o_orderdate) AS mon_name
      |FROM orders WHERE o_orderkey <= 100 ORDER BY o_orderkey""".stripMargin

  // DuckDB text-similarity scalars (byte-level kernels, StringSimilarity):
  // the identical SQL runs natively in DuckDB as the oracle. hamming needs
  // equal lengths, so it compares fixed-width prefixes.
  private val q100Sql =
    """SELECT p_partkey,
      |  jaccard(p_name, p_type) AS jac,
      |  jaro_similarity(p_name, p_type) AS jaro,
      |  jaro_winkler_similarity(p_name, p_type) AS jw,
      |  CAST(damerau_levenshtein(p_name, p_type) AS BIGINT) AS dl,
      |  CAST(levenshtein(p_name, p_type) AS BIGINT) AS lev,
      |  CAST(hamming(substring(p_brand, 1, 7), 'Brand#0') AS BIGINT) AS ham,
      |  CAST(mismatches(substring(p_type, 1, 5), 'PROMO') AS BIGINT) AS mis
      |FROM part WHERE p_partkey <= 300 ORDER BY p_partkey""".stripMargin

  // Window frame EXCLUDE TIES / EXCLUDE GROUP (SQL:2016 T620, the two
  // peer-group exclusions; round 10): compiled by WindowExclude's
  // dense_rank-over-a-wrapped-FROM expansion into integer-RANGE frames
  // around the current peer group. o_orderdate within an o_orderpriority
  // partition is duplicate-heavy, so peer groups have real width — TIES
  // and GROUP genuinely differ from EXCLUDE CURRENT ROW here. Covers the
  // default frame (spelled explicitly), the full UNBOUNDED⋯UNBOUNDED
  // frame, and a suffix RANGE frame; sum/count/avg/min/max all exercised.
  // Float discipline: o_totalprice is DOUBLE in the driver data and the
  // two engines accumulate window sums in different orders (DuckDB's
  // windowed aggregates ride a segment tree), so partition-wide sums
  // drift past the 6-dp gate — the true sum is an exact 2-dp value, so
  // round(·, 2) recovers it identically on both sides. avg runs over the
  // INTEGER o_custkey instead: integer-valued double accumulation is
  // exact in any order below 2^53, so no rounding is needed there.
  private val q103Sql =
    """SELECT o_orderkey,
      |  CAST(round(sum(o_totalprice) OVER wt, 2) AS DOUBLE) AS ties_sum,
      |  CAST(count(*) OVER wt AS BIGINT) AS ties_cnt,
      |  CAST(avg(o_custkey) OVER wt AS DOUBLE) AS ties_avg,
      |  CAST(min(o_totalprice) OVER wt AS DOUBLE) AS ties_min,
      |  CAST(round(sum(o_totalprice) OVER wg, 2) AS DOUBLE) AS grp_sum,
      |  CAST(max(o_totalprice) OVER wg AS DOUBLE) AS grp_max,
      |  CAST(count(*) OVER (PARTITION BY o_orderpriority ORDER BY o_orderdate
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
      |    EXCLUDE GROUP) AS BIGINT) AS full_grp_cnt,
      |  CAST(round(sum(o_totalprice) OVER (PARTITION BY o_orderpriority
      |    ORDER BY o_orderdate
      |    RANGE BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
      |    EXCLUDE TIES), 2) AS DOUBLE) AS suffix_ties_sum
      |FROM orders
      |WINDOW wt AS (PARTITION BY o_orderpriority ORDER BY o_orderdate
      |              RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
      |              EXCLUDE TIES),
      |       wg AS (PARTITION BY o_orderpriority ORDER BY o_orderdate
      |              RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
      |              EXCLUDE GROUP)
      |ORDER BY o_orderkey""".stripMargin

  // k-offset ROWS frames with EXCLUDE TIES/GROUP (round 11): each
  // remaining frame piece is a prefix-aggregate difference over a
  // row_number helper (WindowExclude k-offset path). Tie-order
  // determinism: l_linenumber peer groups are wide and the tie order
  // within them is engine-chosen, so per-ROW results vary — but the
  // MULTISET of (flag, linenumber, result) rows does not, because the
  // aggregated value (l_linenumber itself) is constant inside every
  // peer group and rn-ranges only ever cut inside peer groups. The
  // driver's hash compares sorted rows, i.e. exactly that multiset.
  private val q104Sql =
    """SELECT l_returnflag, l_linenumber,
      |  CAST(sum(l_linenumber) OVER w AS BIGINT) AS g_sum,
      |  CAST(count(*) OVER w AS BIGINT) AS g_cnt,
      |  CAST(count(l_linenumber) OVER (PARTITION BY l_returnflag
      |    ORDER BY l_linenumber
      |    ROWS BETWEEN 4 PRECEDING AND 1 FOLLOWING EXCLUDE TIES) AS BIGINT) AS t_cnt,
      |  CAST(avg(l_linenumber) OVER (PARTITION BY l_returnflag
      |    ORDER BY l_linenumber
      |    ROWS BETWEEN 2 PRECEDING AND UNBOUNDED FOLLOWING EXCLUDE GROUP)
      |    AS DOUBLE) AS mixed_avg,
      |  CAST(sum(l_linenumber) OVER (PARTITION BY l_returnflag
      |    ORDER BY l_linenumber
      |    ROWS BETWEEN 5 PRECEDING AND CURRENT ROW EXCLUDE TIES) AS BIGINT) AS pre_ties_sum
      |FROM lineitem WHERE l_orderkey <= 5000
      |WINDOW w AS (PARTITION BY l_returnflag ORDER BY l_linenumber
      |             ROWS BETWEEN 3 PRECEDING AND 2 FOLLOWING EXCLUDE GROUP)
      |ORDER BY l_returnflag, l_linenumber, g_sum, g_cnt, t_cnt, mixed_avg,
      |  pre_ties_sum""".stripMargin

  // RANGE-mode frames with EXCLUDE TIES/GROUP, k-offsets included
  // (round 11): the subtract path — in RANGE mode every supported frame
  // contains the whole peer group, so the exclusion is frame-aggregate
  // minus peer-group-aggregate (+ self for TIES), one wrap-free Window
  // pass. Covers INTERVAL offsets over a DATE key, a sliding band, and
  // the [k PRECEDING, UNBOUNDED FOLLOWING] sequence-reversal spelling
  // (DESC NULLS FIRST + [UNBOUNDED PRECEDING, k FOLLOWING], keeping the
  // frame incremental — the literal UNBOUNDED FOLLOWING upper bound is
  // O(n²) in Spark). Tie-order determinism: RANGE frames depend on the
  // order VALUE only, so every output cell is a function of
  // (partition, o_orderdate) — no peer-permutation sensitivity. Float
  // discipline: integer o_custkey arguments make sums exact and
  // flip_avg an identical IEEE division on both engines.
  private val q105Sql =
    """SELECT o_orderkey,
      |  CAST(sum(o_custkey) OVER (PARTITION BY o_orderpriority
      |    ORDER BY o_orderdate
      |    RANGE BETWEEN INTERVAL 3 DAYS PRECEDING AND INTERVAL 2 DAYS FOLLOWING
      |    EXCLUDE GROUP) AS BIGINT) AS band_grp_sum,
      |  CAST(count(*) OVER (PARTITION BY o_orderpriority
      |    ORDER BY o_orderdate
      |    RANGE BETWEEN INTERVAL 2 DAYS PRECEDING AND INTERVAL 1 DAYS FOLLOWING
      |    EXCLUDE TIES) AS BIGINT) AS band_ties_cnt,
      |  CAST(avg(o_custkey) OVER (PARTITION BY o_orderpriority
      |    ORDER BY o_orderdate
      |    RANGE BETWEEN INTERVAL 2 DAYS PRECEDING AND UNBOUNDED FOLLOWING
      |    EXCLUDE GROUP) AS DOUBLE) AS flip_avg,
      |  CAST(sum(o_custkey) OVER (PARTITION BY o_orderpriority
      |    ORDER BY o_orderdate
      |    RANGE BETWEEN UNBOUNDED PRECEDING AND INTERVAL 1 DAYS FOLLOWING
      |    EXCLUDE TIES) AS BIGINT) AS pre_ties_sum
      |FROM orders
      |ORDER BY o_orderkey""".stripMargin

  // EXCLUDE inside a GROUP BY block (round 11): only the wrapped
  // dense_rank path had to reject grouped blocks (the wrap would change
  // evaluation order) — the subtract path rewrites the window call in
  // place, so windows over aggregated rows work unrestricted. DuckDB's
  // parser requires an explicit frame before EXCLUDE; the rewriter also
  // accepts the bare default-frame spelling for API users.
  private val q106Sql =
    """SELECT o_orderpriority, o_orderstatus,
      |  CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(count(*)) OVER (ORDER BY o_orderpriority
      |    RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW EXCLUDE GROUP)
      |    AS BIGINT) AS before_cnt,
      |  CAST(avg(count(*)) OVER (ORDER BY o_orderpriority
      |    RANGE BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
      |    EXCLUDE TIES) AS DOUBLE) AS nongrp_avg
      |FROM orders GROUP BY o_orderpriority, o_orderstatus
      |ORDER BY o_orderpriority, o_orderstatus""".stripMargin

  // EXCLUDE in set-operation branches (round 11): the wrapped dense_rank
  // path rewrites each branch independently (ownership of an EXCLUDE call
  // switches at the branch's SELECT keyword), so min/max — which cannot
  // ride the wrap-free subtract path — work on both sides of a UNION.
  // The trailing ORDER BY belongs to the whole union and must survive the
  // second branch's FROM wrap untouched. RANGE frames keep every output
  // cell a function of (partition, o_orderdate) — no tie-order
  // sensitivity; round(·,2) recovers the exact 2-dp double sums.
  private val q107Sql =
    """SELECT o_orderkey,
      |  CAST(round(sum(o_totalprice) OVER (PARTITION BY o_orderpriority
      |    ORDER BY o_orderdate
      |    RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW EXCLUDE TIES), 2)
      |    AS DOUBLE) AS v,
      |  CAST(min(o_totalprice) OVER (PARTITION BY o_orderpriority
      |    ORDER BY o_orderdate
      |    RANGE BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
      |    EXCLUDE GROUP) AS DOUBLE) AS m
      |FROM orders WHERE o_orderstatus = 'F'
      |UNION ALL
      |SELECT o_orderkey,
      |  CAST(round(sum(o_totalprice) OVER (PARTITION BY o_orderpriority
      |    ORDER BY o_orderdate
      |    RANGE BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING EXCLUDE GROUP), 2)
      |    AS DOUBLE) AS v,
      |  CAST(max(o_totalprice) OVER (PARTITION BY o_orderpriority
      |    ORDER BY o_orderdate
      |    RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW EXCLUDE TIES)
      |    AS DOUBLE) AS m
      |FROM orders WHERE o_orderstatus = 'O'
      |ORDER BY o_orderkey""".stripMargin

  // EXCLUDE TIES/GROUP over GROUPED blocks on the WRAP path (round 12):
  // q106 covers the wrap-free subtract route (sum/count/avg); min/max and
  // GROUPS offsets need the dense_rank helpers, which the grouped wrap
  // evaluates POST-GROUP inside the derived table (WindowExclude.
  // rewriteGroupedBlock). Group key (priority, status) makes the window
  // order keys unique within each status partition (singleton peer
  // groups) except the CASE-bucketed ties_min column, whose RANGE frame
  // depends only on the order VALUE — every cell is a function of
  // (partition, order value), so no tie-order sensitivity anywhere.
  // HAVING filters inside the wrap; sums run over integer o_custkey
  // (exact double accumulation below 2^53).
  private val q108Sql =
    """SELECT o_orderpriority, o_orderstatus,
      |  CAST(count(*) AS BIGINT) AS n,
      |  CAST(min(count(*)) OVER (PARTITION BY o_orderstatus
      |    ORDER BY o_orderpriority
      |    RANGE BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
      |    EXCLUDE GROUP) AS BIGINT) AS other_min,
      |  CAST(max(sum(o_custkey)) OVER (PARTITION BY o_orderstatus
      |    ORDER BY o_orderpriority
      |    GROUPS BETWEEN 1 PRECEDING AND 1 FOLLOWING EXCLUDE GROUP)
      |    AS BIGINT) AS nb_max,
      |  CAST(min(count(*)) OVER (PARTITION BY o_orderstatus
      |    ORDER BY (CASE WHEN o_orderpriority <= '2-HIGH' THEN 0 ELSE 1 END)
      |    RANGE BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
      |    EXCLUDE TIES) AS BIGINT) AS ties_min
      |FROM orders
      |GROUP BY o_orderpriority, o_orderstatus
      |HAVING count(*) > 2
      |ORDER BY o_orderpriority, o_orderstatus""".stripMargin

  // EXCLUDE TIES/GROUP together with QUALIFY (round 12): the first
  // WindowExclude pass rejects blocks containing QUALIFY (the wrap's own
  // window set would interleave with the post-filter), but DialectSugar's
  // QUALIFY rewrite moves the projection into a plain inner SELECT — the
  // SECOND frame-EXCLUDE pass then rewrites it. min forces the wrapped
  // dense_rank path; the QUALIFY predicate keeps 2 rows per partition.
  // RANGE frames make every cell a function of (partition, o_orderdate);
  // round(·,2) recovers the exact 2-dp double sums.
  private val q109Sql =
    """SELECT o_orderkey, o_orderpriority,
      |  CAST(round(sum(o_totalprice) OVER (PARTITION BY o_orderpriority
      |    ORDER BY o_orderdate
      |    RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW EXCLUDE TIES), 2)
      |    AS DOUBLE) AS pre_sum,
      |  CAST(min(o_totalprice) OVER (PARTITION BY o_orderpriority
      |    ORDER BY o_orderdate
      |    RANGE BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
      |    EXCLUDE GROUP) AS DOUBLE) AS other_min
      |FROM orders
      |QUALIFY row_number() OVER (PARTITION BY o_orderpriority
      |                           ORDER BY o_orderdate, o_orderkey) <= 2
      |ORDER BY o_orderkey""".stripMargin

  // DuckDB 1.0.0 (the oracle) has not implemented GROUPS mode — but the
  // window order key is UNIQUE within each partition here (one row per
  // priority post-group), so every peer group is a single row and
  // `GROUPS 1 PRECEDING AND 1 FOLLOWING` ≡ `ROWS 1 PRECEDING AND
  // 1 FOLLOWING`: the oracle runs the ROWS spelling of the same frame.
  private val q108OracleSql =
    q108Sql.replace("GROUPS BETWEEN 1 PRECEDING AND 1 FOLLOWING",
      "ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING")

  // Named WINDOW clause (SQL:2003, duckdb test/sql/window — window.test's
  // named-window cases): one spec shared by several functions. Spark
  // parses the clause natively; the dialect chain must pass it through
  // untouched (WindowExclude sees `OVER w` — no frame text — and leaves
  // it alone). Both engines give the shared ORDER BY sum the default
  // RANGE UNBOUNDED PRECEDING..CURRENT ROW frame.
  private val q110Sql =
    """SELECT o_orderpriority, o_orderkey,
      |  CAST(round(sum(o_totalprice) OVER w, 2) AS DOUBLE) AS run_price,
      |  rank() OVER w AS rnk,
      |  CAST(count(*) OVER w AS BIGINT) AS n_seen
      |FROM orders
      |WHERE o_orderkey < 1000
      |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_orderpriority, o_orderkey""".stripMargin

  // DuckDB FROM-first syntax (round 12): leading FROM, optional SELECT
  // directly after the from-list (DuckDB 1.0 grammar verified: SELECT may
  // NOT follow WHERE). FromFirst relocates the SELECT clause / synthesizes
  // SELECT *; the oracle runs the original text natively.
  private val q111Sql =
    """FROM lineitem
      |SELECT l_returnflag,
      |  sum(l_quantity) AS sum_qty,
      |  CAST(count(*) AS BIGINT) AS n
      |WHERE l_shipdate <= DATE '1998-09-02'
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  // Window-function FILTER clause (round 12): Spark rejects window
  // aggregates with a filter predicate; WindowFilter folds the predicate
  // into a CASE argument (exact for NULL-ignoring aggregates). The third
  // column composes FILTER with a frame EXCLUDE — WindowFilter runs
  // before the EXCLUDE expansion so both rewrites stack. ROWS frames on
  // the unique (o_orderdate, o_orderkey) order make every cell
  // deterministic; round(·,2) recovers exact 2-dp sums.
  private val q112Sql =
    """SELECT o_orderkey, o_orderpriority,
      |  CAST(count(*) FILTER (WHERE o_orderstatus = 'F')
      |    OVER (PARTITION BY o_orderpriority ORDER BY o_orderdate, o_orderkey
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_f,
      |  CAST(round(sum(o_totalprice) FILTER (WHERE o_totalprice > 1000)
      |    OVER (PARTITION BY o_orderpriority ORDER BY o_orderdate, o_orderkey
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS DOUBLE) AS big_sum,
      |  CAST(min(o_custkey) FILTER (WHERE o_orderstatus <> 'P')
      |    OVER (PARTITION BY o_orderpriority ORDER BY o_custkey
      |          RANGE BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
      |          EXCLUDE GROUP) AS BIGINT) AS other_min
      |FROM orders
      |WHERE o_orderkey < 2000
      |ORDER BY o_orderkey""".stripMargin

  // Bracket slice/extract over strings and lists (round 12): DuckDB's
  // `e[a:b]` / `e[i]` — 1-based inclusive, negatives from the end,
  // clamping, lo > hi = empty — via the type-dispatching graft_slice /
  // graft_extract expressions. The oracle runs the bracket syntax
  // natively; semantics pinned empirically on DuckDB 1.0.
  private val q113Sql =
    """SELECT doc_id,
      |  text[1:40] AS head40,
      |  text[-10:] AS tail10,
      |  text[5] AS ch5,
      |  array_to_string((regexp_split_to_array(trim(text), '\s+'))[2:4], ' ') AS midtoks
      |FROM documents
      |WHERE doc_id % 7 = 0
      |ORDER BY doc_id""".stripMargin

  // Struct/map literal sugar (round 12): {'k': v} → named_struct, MAP
  // {...} → map(), struct_pack(:=) → named_struct. Outputs flatten to
  // scalars (field access / map_keys / map_values + list extract); map
  // BRACKET extraction (list-valued in DuckDB 1.0) is oracled by q119.
  private val q114Sql =
    """SELECT n_nationkey,
      |  ({'k': n_nationkey, 'nm': n_name}).k + 1 AS k1,
      |  ({'k': n_nationkey, 'nm': n_name}).nm AS nm,
      |  (struct_pack(lo := n_name[1:2], n := n_regionkey)).lo AS lo2,
      |  array_to_string(map_keys(MAP {'a': n_regionkey, 'b': n_nationkey}), ',') AS mk,
      |  CAST((map_values(MAP {'a': n_regionkey, 'b': n_nationkey}))[2] AS BIGINT) AS mv2
      |FROM nation ORDER BY n_nationkey""".stripMargin

  // Day-of-week numbering + EPOCH extract field (round 12): DuckDB
  // dow/dayofweek = Sunday 0, isodow = Monday 1..Sunday 7, epoch = DOUBLE
  // seconds — all differ from (or are missing in) Spark's native fields;
  // DialectFunctions renumbers via dayofweek/weekday and unix_micros.
  private val q115Sql =
    """SELECT o_orderkey,
      |  CAST(date_part('dow', o_orderdate) AS INTEGER) AS dow,
      |  CAST(date_part('dayofweek', o_orderdate) AS INTEGER) AS dow2,
      |  CAST(extract(isodow FROM o_orderdate) AS INTEGER) AS iso,
      |  CAST(date_part('epoch', o_orderdate) AS DOUBLE) AS ep,
      |  CAST(date_part('doy', o_orderdate) AS INTEGER) AS doy
      |FROM orders WHERE o_orderkey < 1000 ORDER BY o_orderkey""".stripMargin

  // Numeric→integer CAST rounding (round 12): DuckDB ROUNDS where Spark
  // truncates — half-even from DOUBLE, half-away from DECIMAL/VARCHAR
  // (graft_icast via IntCastSyntax; modes pinned empirically on 1.0).
  // o_totalprice is a 2-dp DOUBLE, so the DECIMAL(18,2) hop is exact and
  // the int casts exercise genuine fractional rounding.
  private val q116Sql =
    """SELECT o_orderkey,
      |  CAST(o_totalprice AS INT) AS p_int,
      |  (o_totalprice / 7)::BIGINT AS p_div,
      |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS INT) AS p_dec
      |FROM orders WHERE o_orderkey < 3000 ORDER BY o_orderkey""".stripMargin

  // Exact discrete quantiles (round 13): DuckDB's quantile_disc /
  // quantile keep the INPUT type (INT, VARCHAR, TIMESTAMP) and select the
  // element at 1-based rank max(1, ceil(q·n)) — Spark's percentile_disc
  // agrees on the rank but casts to DOUBLE and rejects non-numerics, so
  // the engine resolves these to its native markers
  // (functions/QuantileAggs.scala) and rewrites them into the histogram +
  // conditional-min shape (ExactQuantileRule) — no data-sized buffer.
  // Grouped AND global forms, plus DISTINCT and the bare `quantile` alias.
  private val q117Sql =
    """WITH g AS (
      |  SELECT o_orderpriority AS k,
      |    CAST(quantile_disc(o_custkey, 0.25) AS BIGINT) AS qd25,
      |    CAST(quantile(o_custkey, 0.5) AS BIGINT) AS qmed,
      |    CAST(quantile_disc(DISTINCT o_custkey, 0.5) AS BIGINT) AS qdd,
      |    quantile_disc(o_orderstatus, 0.5) AS qstr,
      |    quantile_disc(o_orderdate, 0.5) AS qts
      |  FROM orders GROUP BY o_orderpriority),
      |a AS (
      |  SELECT 'ALL' AS k,
      |    CAST(quantile_disc(o_custkey, 0.25) AS BIGINT) AS qd25,
      |    CAST(quantile(o_custkey, 0.5) AS BIGINT) AS qmed,
      |    CAST(quantile_disc(DISTINCT o_custkey, 0.5) AS BIGINT) AS qdd,
      |    quantile_disc(o_orderstatus, 0.5) AS qstr,
      |    quantile_disc(o_orderdate, 0.5) AS qts
      |  FROM orders)
      |SELECT * FROM g UNION ALL SELECT * FROM a ORDER BY k""".stripMargin

  // DECIMAL quantile semantics (round 13): DuckDB's median over DECIMAL is
  // DISCRETE-LOWER (keeps the type; NOT the interpolated midpoint), and
  // quantile_cont over DECIMAL truncates the exact interpolation TOWARD
  // ZERO at the input scale (differentially probed, 200 randomized trials
  // — plain rounding and increment-truncation both fail on negatives,
  // which `25.5 - l_quantity` exercises). Outputs CAST to DOUBLE so the
  // comparator sees plain floats; the semantic difference survives the
  // cast. l_quantity/l_extendedprice are 2-dp-exact DOUBLEs, so the
  // DECIMAL hops are exact on both engines.
  private val q118Sql =
    """SELECT l_returnflag,
      |  CAST(median(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS med_dec,
      |  CAST(median(l_quantity) AS DOUBLE) AS med_dbl,
      |  CAST(quantile_cont(CAST(l_extendedprice AS DECIMAL(14,2)), 0.25) AS DOUBLE) AS qc_dec,
      |  CAST(quantile_cont(CAST(25.5 - l_quantity AS DECIMAL(12,2)), 0.1) AS DOUBLE) AS qc_neg,
      |  CAST(quantile_cont(l_quantity, 0.9) AS DOUBLE) AS qc_dbl
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // Map bracket extraction (round 13): LIST-valued in DuckDB 1.0 — m['k']
  // / element_at / map_extract give [v] on hit ([NULL] for a present NULL
  // value) and [] when the key misses or the key/map is NULL (all probed).
  // The engine's graft_extract map branch emits the guarded list shape.
  // Round 14: the oracle row flattens every LIST column to
  // `len:joined` text (the q87/q97 precedent) because the driver's
  // pandas-based row sort cannot hash ndarray cells — `0:` (miss/[]),
  // `1:` ([NULL], the nullv column exercises a present NULL value) and
  // `1:v` ([v]) stay distinguishable through the flattening.
  private val q119Sql =
    """WITH b AS (
      |  SELECT n_nationkey,
      |    (MAP {'a': n_nationkey, 'b': n_regionkey})['a'] AS hit,
      |    (MAP {'a': n_nationkey})['zz'] AS miss,
      |    (MAP {1: n_regionkey, 2: n_nationkey})[2] AS int_key,
      |    (MAP {'a': CASE WHEN n_nationkey % 3 = 0 THEN NULL ELSE n_nationkey END})['a'] AS nullv,
      |    map_extract(MAP {'a': n_nationkey, 'b': n_regionkey}, 'b') AS me,
      |    element_at(MAP {'a': n_nationkey}, 'a') AS ea,
      |    CAST((MAP {'a': n_nationkey, 'b': n_regionkey})['b'][1] AS BIGINT) AS chain
      |  FROM nation)
      |SELECT n_nationkey,
      |  concat(CAST(len(hit) AS STRING), ':', coalesce(array_to_string(hit, ','), '')) AS hit,
      |  concat(CAST(len(miss) AS STRING), ':', coalesce(array_to_string(miss, ','), '')) AS miss,
      |  concat(CAST(len(int_key) AS STRING), ':', coalesce(array_to_string(int_key, ','), '')) AS int_key,
      |  concat(CAST(len(nullv) AS STRING), ':', coalesce(array_to_string(nullv, ','), '')) AS nullv,
      |  concat(CAST(len(me) AS STRING), ':', coalesce(array_to_string(me, ','), '')) AS me,
      |  concat(CAST(len(ea) AS STRING), ':', coalesce(array_to_string(ea, ','), '')) AS ea,
      |  chain
      |FROM b ORDER BY n_nationkey""".stripMargin

  // Logarithm bases (round 13 differential probe): DuckDB's 1-argument
  // log(x) is BASE 10 where Spark's is ln — silently divergent before the
  // dialect rewrite to log10; 2-argument log(b, x) agrees natively.
  private val q120Sql =
    """SELECT n_nationkey,
      |  CAST(log(n_nationkey + 1) AS DOUBLE) AS lg,
      |  CAST(log(2, n_nationkey + 1) AS DOUBLE) AS lgb,
      |  CAST(ln(n_nationkey + 1) AS DOUBLE) AS lnv,
      |  CAST(log2(n_nationkey + 1) AS DOUBLE) AS lg2
      |FROM nation ORDER BY n_nationkey""".stripMargin

  // `//` fractional-operand parity (round 13): DuckDB 1.0's // on any
  // fractional operand (DOUBLE, or DECIMAL at any scale) is PLAIN DOUBLE
  // division; only integral//integral truncates. Spark's div silently
  // truncated DECIMAL operands before the parse-level graft_fdiv hook.
  // Precedence is pinned too: a * b // c groups as (a*b)//c.
  private val q121Sql =
    """SELECT o_orderkey,
      |  CAST(o_orderkey // 3 AS BIGINT) AS int_div,
      |  o_totalprice // 7 AS frac_div,
      |  CAST(o_totalprice AS DECIMAL(18,2)) // 7 AS dec_div,
      |  CAST(o_orderkey + 1 // 2 * 3 AS BIGINT) AS prec
      |FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey""".stripMargin

  // Shannon entropy (round 13): DuckDB's entropy(x) is log₂ entropy of
  // the value distribution — a map-state aggregate Spark lacks. The
  // engine computes it from the (group, value) histogram with two plain
  // map-side-combining aggregations (ExactQuantileRule.finishEntropy) —
  // no window, no data-sized buffer; all-NULL groups are 0.0 like DuckDB.
  private val q122Sql =
    """SELECT l_returnflag,
      |  CAST(entropy(l_linestatus) AS DOUBLE) AS h_status,
      |  CAST(entropy(CAST(l_quantity AS BIGINT)) AS DOUBLE) AS h_qty,
      |  CAST(entropy(DISTINCT l_linestatus) AS DOUBLE) AS h_dist,
      |  CAST(entropy(l_linestatus) FILTER (WHERE l_quantity > 25) AS DOUBLE) AS h_filt
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // Infix date arithmetic (round 14): DATE − DATE is BIGINT days in
  // DuckDB (INTERVAL in Spark) — the parse-level graft_sub marker
  // type-dispatches on the RESOLVED operand types; DATE − int stays DATE,
  // DATE − INTERVAL is a TIMESTAMP (probed — DuckDB midnight-anchors).
  private val q123Sql =
    """SELECT o_orderkey,
      |  CAST(o_orderdate AS DATE) - DATE '1995-01-01' AS days_since,
      |  CAST(CAST(o_orderdate AS DATE) - 30 AS DATE) AS back30,
      |  CAST(CAST(o_orderdate AS DATE) - INTERVAL 7 DAY AS TIMESTAMP) AS back_ts,
      |  (CAST(o_orderdate AS DATE) - DATE '1995-01-01') // 7 AS weeks_since,
      |  CAST(CAST(o_orderdate AS DATE) - CAST(o_orderdate AS DATE) AS BIGINT) AS zero_days
      |FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey""".stripMargin

  // Simple case mapping + coarse date_trunc + json_valid edges (round 14):
  // upper follows utf8proc's SIMPLE mapping (ß→U+1E9E ẞ, never
  // length-changing — the JVM's full mapping emits SS); date_trunc gains
  // decade/century/millennium/isoyear and DuckDB's alias spellings;
  // json_valid treats a JSON null document as valid and NULL input as NULL.
  private val q124Sql =
    """SELECT n_nationkey,
      |  upper(n_name || 'ß') AS up,
      |  lower(n_name || 'İ') AS lo,
      |  CAST(date_trunc('decade', DATE '1970-01-01' + n_nationkey * 500) AS DATE) AS dec_t,
      |  CAST(date_trunc('century', DATE '1900-01-01' + n_nationkey * 2000) AS DATE) AS cen_t,
      |  CAST(date_trunc('isoyear', DATE '2016-01-01' + n_nationkey) AS DATE) AS iso_t,
      |  CAST(date_trunc('mons', DATE '2024-03-14' + n_nationkey * 11) AS DATE) AS mon_t,
      |  json_valid(CASE WHEN n_nationkey % 4 = 0 THEN 'null'
      |                  WHEN n_nationkey % 4 = 1 THEN '{"a": 1}'
      |                  WHEN n_nationkey % 4 = 2 THEN NULL
      |                  ELSE 'nope{' END) AS jv
      |FROM nation ORDER BY n_nationkey""".stripMargin

  // Quantile type edges (round 14): median over VARCHAR is discrete-lower
  // keeping VARCHAR; over TIMESTAMP it interpolates in microsecond space;
  // quantile_cont rides DECIMAL(p>18) with DuckDB's unscaled-double
  // arithmetic and TIMESTAMP with microsecond interpolation. All probed;
  // the ExactQuantileRule histogram path carries every one (no
  // collect_list buffer).
  private val q125Sql =
    """SELECT o_orderpriority AS k,
      |  median(o_orderstatus) AS med_str,
      |  CAST(median(CAST(o_orderdate AS TIMESTAMP)) AS TIMESTAMP) AS med_ts,
      |  CAST(quantile_cont(CAST(o_totalprice AS DECIMAL(25,2)), 0.3) AS DOUBLE) AS qc_wide,
      |  CAST(quantile_cont(CAST(o_orderdate AS TIMESTAMP), 0.25) AS TIMESTAMP) AS qc_ts,
      |  median(DISTINCT o_orderstatus) AS med_dstr
      |FROM orders GROUP BY o_orderpriority ORDER BY k""".stripMargin

  // Quantile aggregates in WINDOW position (round 14): DuckDB accepts
  // every aggregate as a window function. Whole-partition frames (the
  // no-ORDER-BY spelling) ride QuantileFallbackRule.rewriteWindow's
  // group-join stitch — the marker moves to aggregate position (=
  // ExactQuantileRule's histogram shape, no per-row collect, no
  // data-sized buffer) and joins back under the window — so this form is
  // safe over the full orders table at any SF. count(*) per group pins
  // that the stitch neither drops nor duplicates rows. round(·,2)
  // recovers the exact 2-dp median from engine-order float drift
  // (the q103 discipline).
  private val q126Sql =
    """WITH w AS (
      |  SELECT o_orderpriority AS k,
      |    median(o_totalprice) OVER (PARTITION BY o_orderpriority) AS med_all,
      |    CAST(quantile_disc(o_custkey, 0.25) OVER (PARTITION BY o_orderpriority) AS BIGINT) AS qd_all,
      |    median(o_orderstatus) OVER () AS med_str
      |  FROM orders)
      |SELECT k, CAST(round(min(med_all), 2) AS DOUBLE) AS med,
      |  max(qd_all) AS qd, min(med_str) AS med_str,
      |  CAST(count(*) AS BIGINT) AS cnt
      |FROM w GROUP BY k ORDER BY k""".stripMargin

  // Ordered/sliding window frames carry per-frame quantile state (the
  // windowed collect_list composite — what an exact per-frame quantile
  // costs in any engine), so this row runs over a key-bounded subset
  // (~500 rows at every SF). Multi-column ORDER BY keeps RANGE peers
  // single rows; the ROWS frames order by the unique key — both engines'
  // tie orders agree by construction. VARCHAR median exercises the
  // discrete-select composite in a sliding frame.
  private val q127Sql =
    """SELECT o_orderkey,
      |  CAST(quantile_disc(o_custkey, 0.5) OVER (ORDER BY o_orderkey) AS BIGINT) AS qd_run,
      |  CAST(quantile_cont(o_totalprice, 0.25) OVER (
      |    PARTITION BY o_orderpriority ORDER BY o_orderdate, o_orderkey) AS DOUBLE) AS qc_run,
      |  median(o_orderstatus) OVER (ORDER BY o_orderkey
      |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS med_slide,
      |  CAST(quantile_disc(o_custkey, 0.9) OVER (PARTITION BY o_orderpriority
      |    ORDER BY o_orderkey ROWS BETWEEN 3 PRECEDING AND 1 FOLLOWING) AS BIGINT) AS qd_slide
      |FROM orders WHERE o_orderkey <= 2000 ORDER BY o_orderkey""".stripMargin

  // date_part/extract over INTERVAL values (round 14, graft_datepart):
  // DuckDB intervals keep months/days/micros independent — hours are
  // UNBOUNDED (never roll into days), minutes roll into hours, month
  // arithmetic truncates toward zero, epoch is DOUBLE seconds. A
  // timestamp difference carries a DAY component on both engines
  // (DuckDB normalizes ts−ts to days + time < 24 h; Spark's
  // DT(DAY,SECOND) splits the same way), so the per-row extracts agree.
  // The 07:30:00 anchor makes every time component non-zero, and orders
  // before 1995 exercise the negative mirror.
  private val q128Sql =
    """SELECT o_orderkey,
      |  CAST(extract(day FROM CAST(o_orderdate AS TIMESTAMP)
      |    - TIMESTAMP '1995-01-01 07:30:00') AS BIGINT) AS dd,
      |  CAST(extract(hour FROM CAST(o_orderdate AS TIMESTAMP)
      |    - TIMESTAMP '1995-01-01 07:30:00') AS BIGINT) AS dh,
      |  CAST(date_part('mins', CAST(o_orderdate AS TIMESTAMP)
      |    - TIMESTAMP '1995-01-01 07:30:00') AS BIGINT) AS dm,
      |  CAST(date_part('epoch', CAST(o_orderdate AS TIMESTAMP)
      |    - TIMESTAMP '1995-01-01 07:30:00') AS DOUBLE) AS dep,
      |  CAST(epoch(o_orderdate) AS DOUBLE) AS dateep,
      |  CAST(extract(hour FROM INTERVAL 90 MINUTE)
      |    + extract(year FROM INTERVAL 14 MONTH)
      |    + date_part('ms', INTERVAL '1.5' SECOND) AS BIGINT) AS consts
      |FROM orders WHERE o_orderkey <= 2000 ORDER BY o_orderkey""".stripMargin

  // Wave-6 scalar surface over table data (round 14): datesub complete
  // units, age() component reads, codepoint chr, the ** power operator,
  // and DATE + INTERVAL's TIMESTAMP result type (graft_add) — left
  // uncast so the driver's schema compare pins the type parity.
  private val q129Sql =
    """SELECT o_orderkey,
      |  CAST(datesub('month', DATE '1994-06-15', o_orderdate) AS BIGINT) AS dsm,
      |  CAST(datesub('day', DATE '1994-06-15', o_orderdate) AS BIGINT) AS dsd,
      |  CAST(date_part('month', age(CAST(o_orderdate AS TIMESTAMP),
      |    TIMESTAMP '1994-06-15 07:30:00')) AS BIGINT) AS agem,
      |  CAST(date_part('day', age(CAST(o_orderdate AS TIMESTAMP),
      |    TIMESTAMP '1994-06-15 07:30:00')) AS BIGINT) AS aged,
      |  chr(65 + CAST(o_orderkey % 26 AS INTEGER)) AS ch,
      |  CAST((o_orderkey % 7) ** 2 AS DOUBLE) AS pw,
      |  o_orderdate + INTERVAL 40 DAY AS plus_iv,
      |  last_day(o_orderdate) AS eom
      |FROM orders WHERE o_orderkey <= 2000 ORDER BY o_orderkey""".stripMargin

  // Ordered first/last aggregates (round 14): DuckDB's in-aggregate
  // ORDER BY — min_by/max_by with the NULLS-LAST default encoded in
  // (null-flag, key) struct pairs. Multi-key orders with the unique
  // o_orderkey tiebreaker keep both engines deterministic. mode() and
  // arbitrary-free string_agg ride along; count FILTER without WHERE.
  private val q130Sql =
    """SELECT o_orderpriority AS k,
      |  CAST(first(o_orderkey ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS cheapest,
      |  CAST(last(o_orderkey ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS dearest,
      |  CAST(first(o_custkey ORDER BY o_orderdate, o_orderkey) AS BIGINT) AS first_cust,
      |  CAST(last(o_orderkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS BIGINT) AS oldest,
      |  mode(o_orderstatus) AS md,
      |  CAST(count(*) FILTER (o_totalprice > 150000) AS BIGINT) AS big_cnt
      |FROM orders GROUP BY o_orderpriority ORDER BY k""".stripMargin

  // Multi-unit INTERVAL literals + cross-family interval arithmetic +
  // normalized interval comparisons (round 15, closing the round-14
  // "unrepresentable corner"): the literal rewrite keeps DuckDB's
  // independent components ('400 days 26 hours' extracts day 400 /
  // hour 26), mixed-family addition is component-wise, and comparisons
  // normalize months to 30 days / days to 24 h on both engines. The
  // ts-difference comparison exercises IntervalCompareRule over table
  // data (DT vs CalendarIntervalType from the literal).
  private val q131Sql =
    """SELECT o_orderkey,
      |  CAST(date_part('day', INTERVAL '400 days 26 hours') AS BIGINT) AS litd,
      |  CAST(date_part('hour', INTERVAL '400 days 26 hours') AS BIGINT) AS lith,
      |  CAST(date_part('month', INTERVAL '1 month 5 days'
      |    + INTERVAL 26 HOURS) AS BIGINT) AS addm,
      |  CAST(date_part('hour', INTERVAL '1 month 5 days'
      |    + INTERVAL 26 HOURS) AS BIGINT) AS addh,
      |  CAST(date_part('day', INTERVAL '1.5 months') AS BIGINT) AS fracd,
      |  (CAST(o_orderdate AS TIMESTAMP) - TIMESTAMP '1995-01-01 00:00:00')
      |    > INTERVAL '3 months 10 days' AS cmp,
      |  CAST(date_part('minute', INTERVAL '1 day 01:30:00') AS BIGINT) AS tailm
      |FROM orders WHERE o_orderkey <= 2000 ORDER BY o_orderkey""".stripMargin

  // Running-frame quantiles over the FULL lineitem table (round 16, the
  // long-partition variant of q127): (flag, ship-year) partitions hold
  // ~n/21 rows at every SF (~3 M at sf10), so a per-row frame buffer
  // would be O(partition²) bytes — this row only became runnable when
  // ordered frames moved to the WindowQuantileHist O(distinct) histogram
  // (collect_list-free, plan-pinned in QuantileWindowSpec) — while the
  // partition COUNT stays task-parallel (a running window over ONE
  // global partition is inherently a sequential pass in any engine; the
  // whole-frame global shape is q126's stitch instead). RANGE default
  // frames include date peers, so every statistic is deterministic under
  // ties; the DECIMAL cast exercises the truncated-interpolation window
  // path and median(l_shipdate) the epoch-micros one. ent_run is
  // canonicalized to 9 dp (the q126 round(·,2) discipline): windowed
  // entropy is Σ c·log2(c) accumulated in each engine's own iteration
  // order (the AVL run walk here, DuckDB's hash-map entry order there) —
  // same algebra, float summation order differs by a few ulps
  // (≤4.2e-15 observed at sf0.01), and duck's order is not observable
  // or stable, so the contract pins the 9-dp value. QuantileWindowSpec
  // keeps the kernel's raw (unrounded) value pinned against the
  // collect_list composite.
  private val q132Sql =
    """SELECT l_orderkey, l_linenumber,
      |  quantile_disc(l_quantity, 0.9) OVER w AS qd_run,
      |  quantile_cont(CAST(l_extendedprice AS DECIMAL(12,2)), 0.25)
      |    OVER w AS qc_dec_run,
      |  median(l_shipdate) OVER w AS med_ts_run,
      |  median(l_returnflag) OVER w AS med_str_run,
      |  round(CAST(entropy(l_linestatus) OVER w AS DOUBLE), 9) AS ent_run
      |FROM lineitem
      |WINDOW w AS (PARTITION BY l_returnflag, year(l_shipdate)
      |             ORDER BY l_shipdate)
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  // Interval ORDER BY contract (round 16, closing the r15 boundary):
  // the engine keeps SPARK-NATIVE interval sort (total-micros order for
  // day-time intervals). DuckDB 1.0's sort comparator is the RAW
  // months/days/micros triple, which provably disagrees with its own
  // normalize-entries `<` operator (probed, r15: '31 days' vs
  // '24 days 168 hours' sort one way and compare the other), so no
  // single choice can match both duck surfaces. This row pins the chosen
  // semantics on the subdomain where all three orders coincide:
  // timestamp differences, which duck normalizes to (0, days,
  // |time| < 24 h) — lexicographic raw-triple ≡ total micros there.
  // Multi-unit literal mixes may diverge from duck's ORDER BY by design;
  // COVERAGE.md states the contract.
  private val q133Sql =
    """SELECT o_orderkey, o_orderdate
      |FROM orders
      |ORDER BY (CAST(o_orderdate AS TIMESTAMP)
      |          - TIMESTAMP '1995-06-01 12:00:00'), o_orderkey
      |LIMIT 100""".stripMargin

  // IGNORE NULLS positionals under frame EXCLUDE CURRENT ROW (round 16,
  // closing the r15 loud reject): null-skipping composes the two frame
  // halves directly — first non-null of [lo, −1] else of [+1, hi] — so
  // the rewrite needs no row-presence counting (WindowExclude). The
  // (ts, event_id) ordering is unique, so ROWS frames are deterministic.
  private val q134Sql =
    """WITH e AS (
      |  SELECT event_id, event_type, ts,
      |    CASE WHEN event_id % 5 = 0 THEN NULL ELSE value END AS v
      |  FROM events)
      |SELECT event_id,
      |  first_value(v IGNORE NULLS) OVER (PARTITION BY event_type
      |    ORDER BY ts, event_id
      |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING EXCLUDE CURRENT ROW) AS f_mid,
      |  last_value(v IGNORE NULLS) OVER (PARTITION BY event_type
      |    ORDER BY ts, event_id
      |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING EXCLUDE CURRENT ROW) AS l_mid,
      |  first_value(v IGNORE NULLS) OVER (PARTITION BY event_type
      |    ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW EXCLUDE CURRENT ROW) AS f_pre,
      |  last_value(v IGNORE NULLS) OVER (PARTITION BY event_type
      |    ORDER BY ts, event_id
      |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING EXCLUDE CURRENT ROW) AS l_post
      |FROM e ORDER BY event_id""".stripMargin

  // DISTINCT / FILTER window aggregates (round 17): DuckDB accepts both
  // modifiers on every windowed aggregate; Spark rejects them in analysis
  // (DISTINCT_WINDOW_FUNCTION_UNSUPPORTED fires in CheckAnalysis, the
  // FILTER check inside window extraction — BEFORE any optimizer rule).
  // Whole-partition DISTINCT stitches to aggregate position at
  // resolution time (functions.DistinctFilterWindowRule); FILTER folds
  // to a CASE-null argument at the text layer (dialect.WindowFilter,
  // exact for null-skipping aggregates — the quantile family included),
  // which also composes with ordered frames (the mf column rides the
  // WindowQuantileHist path after the fold). Integer sums keep the
  // hash bit-exact; the interpolated medians are single expressions
  // over identical straddle elements, not accumulations.
  private val q135Sql =
    """SELECT o_orderkey,
      |  CAST(count(DISTINCT o_custkey % 100) OVER wp AS BIGINT) AS cd,
      |  CAST(sum(DISTINCT o_custkey % 100) OVER wp AS BIGINT) AS sd,
      |  CAST(median(DISTINCT o_custkey % 100) OVER wp AS DOUBLE) AS md,
      |  CAST(sum(o_custkey % 100) FILTER (WHERE o_orderkey % 2 = 0)
      |    OVER wp AS BIGINT) AS sf,
      |  CAST(count(*) FILTER (WHERE o_custkey % 3 > 0) OVER wp AS BIGINT) AS cf,
      |  CAST(median(o_totalprice) FILTER (WHERE o_orderkey % 2 = 0)
      |    OVER w2 AS DOUBLE) AS mf
      |FROM orders
      |WINDOW wp AS (PARTITION BY o_orderstatus),
      |       w2 AS (PARTITION BY o_orderstatus ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_orderkey""".stripMargin

  val all: Seq[Q] = Seq(
    Q("q135_distinct_filter_window", engineSql(q135Sql), Some(q135Sql)),
    Q("q134_ignore_nulls_exclude", engineSql(q134Sql), Some(q134Sql)),
    Q("q133_interval_orderby", engineSql(q133Sql), Some(q133Sql)),
    Q("q132_quantile_window_long", engineSql(q132Sql), Some(q132Sql)),
    Q("q131_interval_multiunit", engineSql(q131Sql), Some(q131Sql)),
    Q("q130_ordered_first_last", engineSql(q130Sql), Some(q130Sql)),
    Q("q129_scalar_wave6", engineSql(q129Sql), Some(q129Sql)),
    Q("q128_interval_extract", engineSql(q128Sql), Some(q128Sql)),
    Q("q127_quantile_window_frames", engineSql(q127Sql), Some(q127Sql)),
    Q("q126_quantile_window", engineSql(q126Sql), Some(q126Sql)),
    Q("q125_quantile_types", engineSql(q125Sql), Some(q125Sql)),
    Q("q124_case_trunc_json", engineSql(q124Sql), Some(q124Sql)),
    Q("q123_date_arith", engineSql(q123Sql), Some(q123Sql)),
    Q("q122_entropy", engineSql(q122Sql), Some(q122Sql)),
    Q("q121_floordiv_fractional", engineSql(q121Sql), Some(q121Sql)),
    Q("q120_log_bases", engineSql(q120Sql), Some(q120Sql)),
    Q("q119_map_bracket_list", engineSql(q119Sql), Some(q119Sql)),
    Q("q118_decimal_quantiles", engineSql(q118Sql), Some(q118Sql)),
    Q("q117_quantile_disc", engineSql(q117Sql), Some(q117Sql)),
    Q("q116_int_cast_rounding", engineSql(q116Sql), Some(q116Sql)),
    Q("q115_dow_epoch", engineSql(q115Sql), Some(q115Sql)),
    Q("q114_struct_map_literals", engineSql(q114Sql), Some(q114Sql)),
    Q("q113_bracket_slice", engineSql(q113Sql), Some(q113Sql)),
    Q("q112_window_filter", engineSql(q112Sql), Some(q112Sql)),
    Q("q111_from_first", engineSql(q111Sql), Some(q111Sql)),
    Q("q110_named_window", engineSql(q110Sql), Some(q110Sql)),
    Q("q103_window_exclude_ties", engineSql(q103Sql), Some(q103Sql)),
    Q("q104_window_exclude_offsets", engineSql(q104Sql), Some(q104Sql)),
    Q("q105_window_exclude_range_offsets", engineSql(q105Sql), Some(q105Sql)),
    Q("q106_window_exclude_grouped", engineSql(q106Sql), Some(q106Sql)),
    Q("q107_window_exclude_setop", engineSql(q107Sql), Some(q107Sql)),
    Q("q108_window_exclude_grouped_wrap", engineSql(q108Sql), Some(q108OracleSql)),
    Q("q109_window_exclude_qualify", engineSql(q109Sql), Some(q109Sql)),
    Q("q57_star_replace", engineSql(q57Sql), Some(q57Sql)),
    Q("q100_string_similarity", engineSql(q100Sql), Some(q100Sql)),
    Q("q58_qualify_unprojected", engineSql(q58Sql), Some(q58Sql)),
    Q("q59_list_functions", engineSql(q59Sql), Some(q59Sql)),
    Q("q60_unnest_tokens", engineSql(q60Sql), Some(q60Sql)),
    Q("q61_pivot", pivotQ, Some(q61Oracle)),
    Q("q62_unpivot", unpivotQ, Some(q62Oracle)),
    Q("q63_describe", describeQ, Some(q63Oracle)),
    Q("q64_datetime_functions", engineSql(q64Sql), Some(q64Sql)),
    Q("q66_string_predicates", engineSql(q66Sql), Some(q66Sql)),
    Q("q67_json_arrow", engineSql(q67Sql), Some(q67Sql)),
    Q("q69_distinct_on", engineSql(q69Sql), Some(q69Sql)),
    Q("q71_json_arrow_chain", engineSql(q71Sql), Some(q71Sql)),
    Q("q72_pivot_in", pivotInQ, Some(q72Oracle)),
    Q("q73_asof_join_sql", engineSql(q73Sql), Some(q73Sql)),
    Q("q74_macro_expansion", macroQ, Some(q74Oracle)),
    Q("q75_columns_regex", engineSql(q75Sql), Some(q75Sql)),
    Q("q76_agg_spellings", engineSql(q76Sql), Some(q76Sql)),
    Q("q77_constructor_spellings", engineSql(q77Sql), Some(q77Sql)),
    Q("q78_recursive_cte", engineSql(q78Sql), Some(q78Sql)),
    Q("q79_pattern_operators", engineSql(q79Sql), Some(q79Sql)),
    Q("q80_list_functions_2", engineSql(q80Sql), Some(q80Sql)),
    Q("q81_date_diff", engineSql(q81Sql), Some(q81Sql)),
    Q("q83_positional_join", engineSql(q83Sql), Some(q83Sql)),
    Q("q84_window_exclude", engineSql(q84Sql), Some(q84Sql)),
    Q("q85_ordered_aggregates", engineSql(q85Sql), Some(q85Sql)),
    Q("q86_time_bucket_median", engineSql(q86Sql), Some(q86Sql)),
    Q("q87_list_comprehension", engineSql(q87Sql), Some(q87Sql)),
    Q("q88_union_by_name", engineSql(q88Sql), Some(q88Sql)),
    Q("q89_null_order_limit", engineSql(q89Sql), Some(q89Sql)),
    Q("q90_semi_anti_join", engineSql(q90Sql), Some(q90Sql)),
    Q("q91_values_product", engineSql(q91Sql), Some(q91Sql)),
    Q("q92_stat_aggregates", engineSql(q92Sql), Some(q92Sql)),
    Q("q93_using_sample", engineSql(q93Sql), Some(q93Sql)),
    Q("q94_regexp_semantics", engineSql(q94Sql), Some(q94Sql)),
    Q("q95_quantified_subqueries", engineSql(q95Sql), Some(q95Sql)),
    Q("q96_generate_series", engineSql(q96Sql), Some(q96Sql)),
    Q("q97_map_printf", engineSql(q97Sql), Some(q97Sql)),
    Q("q98_day_month_names", engineSql(q98Sql), Some(q98Sql)),
    Q("q99_int_division", engineSql(q99Sql), Some(q99Sql)))
}
