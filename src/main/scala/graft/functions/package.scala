package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.graftbridge.ExprBridge

/** Column-API + SQL-surface wrappers for the engine's native Catalyst
  * expressions. `registerAll` exposes them to `spark.sql` text
  * (vec_dot / vec_norm / vec_cosine / simhash64). */
package object functions {

  import graft.functions.{SimHash64, VecCosine, VecDot, VecNorm}

  def vec_dot(a: Column, b: Column): Column =
    ExprBridge.column(VecDot(ExprBridge.expression(a), ExprBridge.expression(b)))

  def vec_norm(a: Column): Column =
    ExprBridge.column(VecNorm(ExprBridge.expression(a)))

  def vec_cosine(a: Column, b: Column): Column =
    ExprBridge.column(VecCosine(ExprBridge.expression(a), ExprBridge.expression(b)))

  def simhash64(tokenHashes: Column): Column =
    ExprBridge.column(SimHash64(ExprBridge.expression(tokenHashes)))

  /** Characters inside duplicated array elements (p26 repetition kernel;
    * O(n) hash pass replacing the interpreted O(n²) HOF chain). */
  def dup_chars(a: Column): Column =
    ExprBridge.column(DupChars(ExprBridge.expression(a)))

  /** [scale, q_sum, q_l1, q_min, q_max] of one-pass int8 quantization. */
  def quant_stats(a: Column): Column =
    ExprBridge.column(QuantStats(ExprBridge.expression(a)))

  /** struct(cell, dist): nearest centroid over a compile-time (broadcast-
    * sized) centroid table — the fused k-means assignment kernel. */
  def nearest_cell(q: Column, cells: Seq[Long], cents: Seq[Seq[Long]]): Column =
    ExprBridge.column(NearestCell(ExprBridge.expression(q), cells, cents))

  /** Generator: (vec_id, dup_of=min passing smaller id) over one cell's
    * sorted members — the fused SemDeDup pair-verify kernel. */
  def cell_neardup_pairs(items: Column, tSqTimes1e4: Long): Column =
    ExprBridge.column(CellNearDupPairs(ExprBridge.expression(items), tSqTimes1e4))

  def minhash_sig(elementHashes: Column, a: Seq[Long], b: Seq[Long], p: Long): Column =
    ExprBridge.column(MinHashSignature(ExprBridge.expression(elementHashes), a, b, p))

  def poly_hash(s: Column, mult: Long, modP: Long): Column =
    ExprBridge.column(PolyHash(ExprBridge.expression(s), mult, modP))

  /** Element-wise vector sum aggregate (map-side partial aggregation). */
  def vec_sum(a: Column): Column =
    ExprBridge.column(
      VecSumAgg(ExprBridge.expression(a)).toAggregateExpression())

  /** Multiplicative aggregate (DuckDB `product`); NULL-skipping, DOUBLE. */
  def product(a: Column): Column =
    ExprBridge.column(
      ProductAgg(ExprBridge.expression(a)).toAggregateExpression())

  private def arity(name: String, n: Int)(
      es: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) = {
    require(es.length == n, s"$name requires $n argument(s), got ${es.length}")
    es
  }

  /** The integral target of a graft_icast, from its string-literal tag. */
  private[graft] def icastTarget(
      e: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    e match {
      case l: org.apache.spark.sql.catalyst.expressions.Literal
          if l.dataType.isInstanceOf[StringType] && l.value != null =>
        l.value.toString.toLowerCase match {
          case "tinyint" => ByteType
          case "smallint" => ShortType
          case "int" | "integer" => IntegerType
          case "bigint" => LongType
          case other =>
            throw new IllegalArgumentException(s"graft_icast: unknown target $other")
        }
      case other =>
        throw new IllegalArgumentException(
          s"graft_icast target must be a string literal, got $other")
    }
  }

  /** The engine's optimizer rules, in application order, at the position
    * they were built for: the END-position "User Provided Optimizers"
    * batch. POSITION IS LOAD-BEARING — injected into the operator-
    * optimization batch (SparkSessionExtensions.injectOptimizerRule) the
    * stitch output gets re-chewed by the standard operator rules and the
    * marker-eliminator can outrun the histogram rule (round 15: windowed
    * entropy over an all-NULL partition folded to NULL). Idempotent.
    *
    *  - TryCastParseRule: exception-free TRY_CAST(string AS integral)
    *  - ExactQuantileRule: grouped exact percentile → histogram +
    *    spillable window (no data-sized agg buffer)
    *  - QuantileFallbackRule: always-on eliminator for the DuckDB-parity
    *    quantile markers; AFTER ExactQuantileRule so the histogram shape
    *    wins when it can
    *  - RangeWindowGroupRule: RANGE-mode window aggregates over the
    *    (pk, ord) group table; AFTER the quantile rules so their
    *    engineered histogram windows are already in place (and bailed on)
    */
  def ensureOptimizerRules(spark: SparkSession): Unit =
    Seq(TryCastParseRule, ExactQuantileRule, QuantileFallbackRule,
        RangeWindowGroupRule).foreach { rule =>
      if (!spark.experimental.extraOptimizations.contains(rule))
        spark.experimental.extraOptimizations =
          spark.experimental.extraOptimizations :+ rule
    }
  // NOTE (round 15): re-running Catalyst's ColumnPruning over the emitted
  // stitch plans was measured a NO-OP — FileSourceStrategy prunes scan
  // schemas at physical planning regardless of end-position rule output
  // (verified: identical ReadSchema per branch with and without), so no
  // cleanup pass rides here.

  def registerAll(spark: SparkSession): Unit = {
    ensureOptimizerRules(spark)
    ExprBridge.registerFunction(spark, "vec_dot",
      es => { arity("vec_dot", 2)(es); VecDot(es(0), es(1)) })
    ExprBridge.registerFunction(spark, "vec_norm",
      es => { arity("vec_norm", 1)(es); VecNorm(es.head) })
    ExprBridge.registerFunction(spark, "vec_cosine",
      es => { arity("vec_cosine", 2)(es); VecCosine(es(0), es(1)) })
    ExprBridge.registerFunction(spark, "simhash64",
      es => { arity("simhash64", 1)(es); SimHash64(es.head) })
    ExprBridge.registerFunction(spark, "quant_stats",
      es => { arity("quant_stats", 1)(es); QuantStats(es.head) })
    ExprBridge.registerFunction(spark, "dup_chars",
      es => { arity("dup_chars", 1)(es); DupChars(es.head) })
    ExprBridge.registerFunction(spark, "vec_sum",
      es => { arity("vec_sum", 1)(es); VecSumAgg(es.head) })
    ExprBridge.registerFunction(spark, "product",
      es => { arity("product", 1)(es); ProductAgg(es.head) })
    ExprBridge.registerFunction(spark, "regexp_replace_first",
      es => { arity("regexp_replace_first", 3)(es)
        RegexpReplaceFirst(es(0), es(1), es(2)) })
    // DuckDB bracket-slice semantics for strings AND lists (the dialect
    // layer emits this for `expr[a:b]` — type dispatch happens after
    // resolution, which SQL text cannot do)
    ExprBridge.registerFunction(spark, "graft_slice",
      es => { arity("graft_slice", 3)(es); GraftSlice(es(0), es(1), es(2)) })
    ExprBridge.registerFunction(spark, "graft_extract",
      es => { arity("graft_extract", 2)(es); GraftExtract(es(0), es(1)) })
    ExprBridge.registerFunction(spark, "graft_icast",
      es => { arity("graft_icast", 2)(es); GraftIntCast(es(0), icastTarget(es(1))) })
    // DuckDB text-similarity scalars (byte-level, see StringSimilarity).
    // `levenshtein` intentionally REPLACES Spark's builtin in engine
    // sessions: Spark counts code points, DuckDB counts bytes — identical
    // on ASCII, and the engine surface promises DuckDB semantics. Spark's
    // 3-arg threshold form levenshtein(s1, s2, k) is NOT a DuckDB spelling
    // but pre-existing Spark queries may use it, so it delegates to the
    // builtin (keeping Spark's code-point + threshold semantics) instead
    // of failing the 2-arg arity check.
    val sims = Seq(
      "jaccard" -> "jaccard", "hamming" -> "hamming",
      "mismatches" -> "hamming", "jaro_similarity" -> "jaro",
      "jaro_winkler_similarity" -> "jaro_winkler",
      "damerau_levenshtein" -> "damerau_levenshtein",
      "levenshtein" -> "levenshtein", "editdist3" -> "levenshtein")
    sims.foreach { case (name, kind) =>
      ExprBridge.registerFunction(spark, name, es =>
        if (name == "levenshtein" && es.length == 3)
          org.apache.spark.sql.catalyst.expressions.Levenshtein(
            es(0), es(1), Some(es(2)))
        else { arity(name, 2)(es); StringSimilarity(es(0), es(1), kind) })
    }
    // DuckDB-parity quantile family (see QuantileAggs.scala): selection
    // math matches Spark's builtins, TYPES do not — quantile_disc keeps
    // the input type (Spark's percentile_disc casts to DOUBLE), median is
    // DECIMAL-discrete, quantile_cont is DECIMAL-truncating. `median` and
    // `quantile_cont` intentionally REPLACE Spark's builtins in engine
    // sessions (the levenshtein precedent: the engine surface promises
    // DuckDB semantics; non-DECIMAL behavior is identical).
    def oneOrTwo(name: String)(
        es: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) = {
      require(es.length == 1 || es.length == 2,
        s"$name requires 1 or 2 arguments, got ${es.length}")
      (es.head,
        if (es.length == 2) es(1)
        else org.apache.spark.sql.catalyst.expressions.Literal(0.5))
    }
    for (name <- Seq("quantile_disc", "quantile"))
      ExprBridge.registerFunction(spark, name,
        es => { val (x, q) = oneOrTwo(name)(es); GraftQuantileDisc(x, q) })
    ExprBridge.registerFunction(spark, "median",
      es => { arity("median", 1)(es); GraftMedian(es.head) })
    ExprBridge.registerFunction(spark, "quantile_cont",
      es => { val (x, q) = oneOrTwo("quantile_cont")(es); GraftQuantileCont(x, q) })
    ExprBridge.registerFunction(spark, "entropy",
      es => { arity("entropy", 1)(es); GraftEntropy(es.head) })
    // DuckDB's // operator (parse-level hook, see graftbridge.ParsedSql):
    // integral operands divide integrally, fractional operands degenerate
    // to plain DOUBLE division
    ExprBridge.registerFunction(spark, "graft_fdiv",
      es => { arity("graft_fdiv", 2)(es); GraftFloorDiv(es(0), es(1)) })
    ExprBridge.registerFunction(spark, "graft_sub",
      es => { arity("graft_sub", 2)(es); GraftSub(es(0), es(1)) })
    ExprBridge.registerFunction(spark, "graft_datepart",
      es => { arity("graft_datepart", 2)(es); GraftDatePart(es(0), es(1)) })
    ExprBridge.registerFunction(spark, "graft_add",
      es => { arity("graft_add", 2)(es); GraftAdd(es(0), es(1)) })
    ExprBridge.registerFunction(spark, "graft_chr",
      es => { arity("graft_chr", 1)(es); GraftChr(es.head) })
    ExprBridge.registerFunction(spark, "graft_strip_accents",
      es => { arity("graft_strip_accents", 1)(es); GraftStripAccents(es.head) })
    ExprBridge.registerFunction(spark, "graft_printf",
      es => GraftPrintf(es))
    ExprBridge.registerFunction(spark, "graft_age",
      es => { arity("graft_age", 2)(es); GraftAge(es(0), es(1)) })
    ExprBridge.registerFunction(spark, "graft_bar", es => GraftBar(es))
    ExprBridge.registerFunction(spark, "graft_signbit",
      es => { arity("graft_signbit", 1)(es); GraftSignbit(es.head) })
    ExprBridge.registerFunction(spark, "graft_nextafter",
      es => { arity("graft_nextafter", 2)(es); GraftNextAfter(es(0), es(1)) })
    // round-13 probe-grid parity kernels (type-dispatched after
    // resolution — see DialectParityFns.scala)
    ExprBridge.registerFunction(spark, "graft_len",
      es => { arity("graft_len", 1)(es); GraftLen(es.head) })
    ExprBridge.registerFunction(spark, "graft_bit_count",
      es => { arity("graft_bit_count", 1)(es); GraftBitCount(es.head) })
    ExprBridge.registerFunction(spark, "graft_date_trunc",
      es => { arity("graft_date_trunc", 2)(es); GraftDateTrunc(es(0), es(1)) })
    ExprBridge.registerFunction(spark, "graft_gamma",
      es => { arity("graft_gamma", 1)(es); GraftGamma(es.head, log = false) })
    ExprBridge.registerFunction(spark, "graft_lgamma",
      es => { arity("graft_lgamma", 1)(es); GraftGamma(es.head, log = true) })
    ExprBridge.registerFunction(spark, "graft_try_bool",
      es => { arity("graft_try_bool", 1)(es); GraftTryBool(es.head) })
    ExprBridge.registerFunction(spark, "graft_cast_bool",
      es => { arity("graft_cast_bool", 1)(es); GraftCastBool(es.head) })
    ExprBridge.registerFunction(spark, "graft_gcd",
      es => { arity("graft_gcd", 2)(es); GraftGcd(es(0), es(1), lcm = false) })
    ExprBridge.registerFunction(spark, "graft_lcm",
      es => { arity("graft_lcm", 2)(es); GraftGcd(es(0), es(1), lcm = true) })
    ExprBridge.registerFunction(spark, "graft_nfc",
      es => { arity("graft_nfc", 1)(es); GraftNfcNormalize(es.head) })
    ExprBridge.registerFunction(spark, "graft_upper",
      es => { arity("graft_upper", 1)(es); GraftCaseMap(es.head, upper = true) })
    ExprBridge.registerFunction(spark, "graft_lower",
      es => { arity("graft_lower", 1)(es); GraftCaseMap(es.head, upper = false) })
    // strict-math kernels (SET strict_math = true maps ln/log10/log2/
    // sqrt/asin/acos here on the parse tree — DuckDB's loud out-of-domain
    // errors)
    for (kind <- Seq("ln", "log10", "log2", "sqrt", "asin", "acos"))
      ExprBridge.registerFunction(spark, s"graft_strict_$kind",
        es => { arity(s"graft_strict_$kind", 1)(es); StrictMathCheck(es.head, kind) })
    ExprBridge.registerFunction(spark, "graft_polyhash",
      es => {
        arity("graft_polyhash", 3)(es)
        def const(e: org.apache.spark.sql.catalyst.expressions.Expression): Long =
          e match {
            case org.apache.spark.sql.catalyst.expressions.Literal(v: Long, _) => v
            case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v.toLong
            case other => throw new IllegalArgumentException(
              s"graft_polyhash mult/mod must be integer literals, got $other")
          }
        PolyHash(es.head, const(es(1)), const(es(2)))
      })
  }
}
