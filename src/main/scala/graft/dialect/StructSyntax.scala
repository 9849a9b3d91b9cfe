package graft.dialect

/** DuckDB struct/map literal sugar (duckdb docs/sql/data_types/struct +
  * map; verified on 1.0):
  *
  *   {'a': 1, 'b': 'x'}        → named_struct('a', 1, 'b', 'x')
  *   MAP {'k1': 10, 'k2': 20}  → map('k1', 10, 'k2', 20)
  *   struct_pack(a := 1)       → named_struct('a', 1)
  *
  * Keys must be single-quoted string literals (struct_pack uses bare
  * identifiers with `:=`); values are arbitrary expressions — nested
  * braces/brackets recurse, `::` casts inside values are not mistaken for
  * the key separator. A brace group that does not parse as a literal
  * (unquoted key, no top-level colon) is left untouched so Spark's parser
  * rejects it loudly. Runs before the bracket pass so struct literals can
  * nest inside list literals and vice versa.
  */
object StructSyntax {

  def rewrite(sql: String): String = structPack(braces(sql))

  // ------------------------------------------------------- {'k': v} braces
  private def braces(sql: String): String = {
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < sql.length) {
      sql.charAt(i) match {
        case '\'' =>
          val e = SqlText.literalEnd(sql, i); sb.append(sql, i, e); i = e
        case '-' | '/' =>
          val ce = SqlText.commentEnd(sql, i)
          if (ce > i) { sb.append(sql, i, ce); i = ce }
          else { sb.append(sql.charAt(i)); i += 1 }
        case '{' =>
          val close = matchingBrace(sql, i)
          if (close < 0) { sb.append(sql.charAt(i)); i += 1 }
          else {
            val inner = braces(sql.substring(i + 1, close)) // recurse first
            val mapAt = mapKeywordStart(sb)
            translate(inner, mapAt >= 0) match {
              case Some(call) =>
                if (mapAt >= 0) sb.setLength(mapAt) // drop the MAP word + ws
                sb.append(call)
                i = close + 1
              case None =>
                sb.append(sql.charAt(i)); i += 1
            }
          }
        case c => sb.append(c); i += 1
      }
    }
    sb.toString
  }

  /** Start index of a trailing `MAP` keyword in sb (whitespace after it
    * allowed), or -1. */
  private def mapKeywordStart(sb: java.lang.StringBuilder): Int = {
    var i = sb.length - 1
    while (i >= 0 && sb.charAt(i).isWhitespace) i -= 1
    if (i < 2) return -1
    val word = sb.substring(i - 2, i + 1)
    if (word.equalsIgnoreCase("MAP") &&
        (i - 3 < 0 || !(sb.charAt(i - 3).isLetterOrDigit || sb.charAt(i - 3) == '_')))
      i - 2
    else -1
  }

  /** `named_struct(...)`/`map(...)` text for the brace body, or None when
    * the body is not a literal. Struct keys must be quoted strings
    * (unquoted struct keys are left for Spark's loud parse error); MAP
    * keys are arbitrary expressions in DuckDB (`MAP {1: v}`). */
  private def translate(inner: String, isMap: Boolean): Option[String] = {
    val items = SqlText.splitTopLevel(inner, ',')
    if (items.isEmpty || items.forall(_.trim.isEmpty)) return None
    val pairs = items.map { item =>
      topLevelColon(item) match {
        case -1 => return None
        case c =>
          val k = item.substring(0, c).trim
          val v = item.substring(c + 1).trim
          val quoted = k.startsWith("'") && k.endsWith("'") && k.length >= 2
          if (k.isEmpty || v.isEmpty || (!isMap && !quoted)) return None
          (k, v)
      }
    }
    // MAP emits the two-array constructor: plain `map(k, v)` would collide
    // with the function table, which reads 2-argument map() as DuckDB's
    // map(keys_list, values_list) form (single-pair literals were silently
    // miscompiled before round 13)
    if (isMap)
      Some(s"map_from_arrays(array(${pairs.map(_._1).mkString(", ")}), " +
        s"array(${pairs.map(_._2).mkString(", ")}))")
    else
      Some(s"named_struct(${pairs.map { case (k, v) => s"$k, $v" }.mkString(", ")})")
  }

  /** Index of the single top-level `:` (a `::` cast is not a separator),
    * or -1. */
  private def topLevelColon(s: String): Int = {
    var i = 0
    var depth = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '\'' => i = SqlText.literalEnd(s, i)
        case '(' | '[' | '{' => depth += 1; i += 1
        case ')' | ']' | '}' => depth -= 1; i += 1
        case ':' if depth == 0 =>
          if (i + 1 < s.length && s.charAt(i + 1) == ':') i += 2 // cast
          else return i
        case _ => i += 1
      }
    }
    -1
  }

  private def matchingBrace(sql: String, open: Int): Int = {
    var i = open
    var depth = 0
    while (i < sql.length) {
      sql.charAt(i) match {
        case '\'' => i = SqlText.literalEnd(sql, i)
        case '-' | '/' =>
          val ce = SqlText.commentEnd(sql, i)
          if (ce > i) i = ce else i += 1
        case '{' => depth += 1; i += 1
        case '}' =>
          depth -= 1; i += 1
          if (depth == 0) return i - 1
        case _ => i += 1
      }
    }
    -1
  }

  // ------------------------------------------- struct_pack(name := value)
  private val StructPack =
    java.util.regex.Pattern.compile("(?i)\\bstruct_pack\\s*\\(")

  private def structPack(sql: String): String = {
    val m = StructPack.matcher(sql)
    var out = sql
    var changed = true
    var guard = 0
    while (changed && guard < 64) {
      guard += 1
      changed = false
      m.reset(out)
      var search = 0
      while (!changed && m.find(search)) {
        if (insideLiteral(out, m.start())) search = m.end()
        else {
          val open = m.end() - 1
          val close = closeParen(out, open)
          val args = SqlText.splitTopLevel(out.substring(open + 1, close - 1), ',')
          val pairs = args.flatMap { a =>
            val idx = a.indexOf(":=")
            if (idx < 0) None
            else Some(s"'${a.substring(0, idx).trim}', ${a.substring(idx + 2).trim}")
          }
          if (pairs.length == args.length && pairs.nonEmpty) {
            out = out.substring(0, m.start()) +
              s"named_struct(${pairs.mkString(", ")})" + out.substring(close)
            changed = true
          } else search = m.end()
        }
      }
    }
    out
  }

  private def insideLiteral(sql: String, pos: Int): Boolean = {
    var i = 0
    while (i < pos) {
      if (sql.charAt(i) == '\'') {
        val e = SqlText.literalEnd(sql, i)
        if (pos < e) return true
        i = e
      } else i += 1
    }
    false
  }

  private def closeParen(sql: String, open: Int): Int = {
    var i = open
    var depth = 0
    while (i < sql.length) {
      sql.charAt(i) match {
        case '\'' => i = SqlText.literalEnd(sql, i)
        case '(' => depth += 1; i += 1
        case ')' =>
          depth -= 1; i += 1
          if (depth == 0) return i
        case _ => i += 1
      }
    }
    sql.length
  }
}
