package graft.dialect

/** The `strict_math` option's text pass (applied by DialectRewriter.rewrite
  * AFTER the full dialect chain, so DuckDB's 1-arg log has already become
  * log10): rewrites the six domain-checked function names to the
  * graft_strict_* kernels ([[graft.functions.StrictMathCheck]]). Name-only
  * surgery outside string literals; `\b` keeps identifiers like `myln(`
  * untouched, and the emitted names cannot re-match. */
object StrictMathText {

  private val P = java.util.regex.Pattern.compile(
    "(?i)\\b(ln|log10|log2|sqrt|asin|acos)\\s*\\(")

  def rewrite(sql: String): String =
    SqlText.mapOutsideLiterals(sql) { seg =>
      val m = P.matcher(seg)
      val sb = new java.lang.StringBuilder
      while (m.find())
        m.appendReplacement(sb, "graft_strict_" + m.group(1).toLowerCase + "(")
      m.appendTail(sb)
      sb.toString
    }
}
