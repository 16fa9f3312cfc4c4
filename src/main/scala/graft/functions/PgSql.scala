package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}

/** PostgreSQL-syntax frontend subset — the reference vendors a full
  * PG-compatible SQL parser selected per-query by the translation
  * setting comment `--!syntax_pg`
  * (yql/essentials/sql/settings/translation_settings.cpp:131 →
  * PgParser; the frontend itself is sql/pg/pg_sql.cpp). Every PG
  * query lowers to the same relational operators the v1 dialect
  * reaches, so this frontend is a TRANSLATOR to Spark SQL, not a new
  * execution surface: the scoped subset covers the read-side
  * constructs real PG-dialect users write — SELECT / CTE / set ops,
  * `expr::type` casts with PG type names, `||` concat, LIMIT/OFFSET,
  * positional `$n` parameters, `~ ~* ~~ ~~*` (and `!`-negated) match
  * operators, E'' escape strings, `""` identifiers, `''` doubling,
  * and `--` and (nested) `/* */` comments.
  *
  * The translator rewrites only what Spark 4.1's own grammar cannot
  * parse. `a IS [NOT] DISTINCT FROM b`, `x::type` (once the PG type
  * name is mapped), `now()`, `cardinality`, and `string_agg` (NULL on
  * an empty group, `DISTINCT`, running `OVER (ORDER BY ...)`) reach
  * Spark's parser as written, with its precedence; `strpos` is a
  * registered builtin ([[YqlSql.registerAll]]).
  *
  * PG semantics faithfully preserved where Spark's defaults differ:
  * - plain `'a\nb'` literals are RAW (standard_conforming_strings=on):
  *   the translator re-escapes backslashes so Spark sees the same
  *   bytes; `E'...'` strings decode C-style escapes.
  * - `"ident"` is a quoted identifier, translated to backticks.
  * - `''` doubling inside literals is the PG escape for a quote.
  *
  * Also bound (round-11 widening): `DISTINCT ON (...)` (PG's
  * first-row-per-group — rewritten to a row_number window, the exact
  * lowering pg_sql.cpp's plan reaches), `ARRAY[...]` literals and
  * 1-based subscripts (out-of-range and index<1 → NULL, as PG),
  * `array_agg` (NULL elements KEPT, via a struct wrap),
  * `BETWEEN SYMMETRIC`, dollar-quoted strings (`$tag$...$tag$`),
  * `[NOT] SIMILAR TO` with literal patterns (+ ESCAPE),
  * `unnest(...)` and `generate_series(...)` in FROM position (the
  * latter empty when the step points away from the stop, as PG),
  * `array_length(a,1)`/`array_to_string`/`string_to_array`, PG
  * default NULL ordering (NULLS LAST asc / FIRST desc — the opposite
  * of Spark's) injected into every sort.
  *
  * Out-of-subset constructs raise with a named reason (the repo-wide
  * contract for unimplementable/unscoped surface): DML/DDL under PG
  * syntax, array slices `a[i:j]`, select-list set-returning
  * functions, ordered string_agg and array_agg, multi-arg unnest,
  * non-literal SIMILAR TO patterns.
  */
object PgSql {

  /** Does the query select the PG parser? (translation_settings.cpp:
    * a leading `--!syntax_pg` line.) */
  def isPg(query: String): Boolean =
    query.linesIterator.map(_.trim).find(_.nonEmpty)
      .exists(_.equalsIgnoreCase("--!syntax_pg"))

  def sql(spark: SparkSession, query: String,
      params: Map[String, String] = Map.empty): DataFrame = {
    YqlSql.registerAll(spark)
    spark.sql(translate(query, params))
  }

  /** PG dialect → Spark SQL text. `params` binds positional `$n`
    * (keys "1"/"$1" both accepted; values are SQL literal text). */
  def translate(query: String, params: Map[String, String] = Map.empty)
      : String = {
    val noMarker = query.linesIterator.map { l =>
      if (l.trim.equalsIgnoreCase("--!syntax_pg")) "" else l
    }.mkString("\n")
    val normalized = normalizeLexemes(noMarker, params)
    val statementHead = firstKeyword(normalized)
    if (!Set("SELECT", "WITH", "VALUES", "TABLE").contains(statementHead))
      throw new IllegalArgumentException(
        s"PG-syntax subset covers SELECT/CTE/VALUES queries; '" +
          statementHead + "' statements are not bound under " +
          "--!syntax_pg — use the v1 dialect (pg_sql.cpp parses the " +
          "full statement surface; the scoped subset is read-side)")
    rewriteOrderNulls(rewriteFunctions(rewriteCasts(rewriteArrays(
      rewriteDistinctOn(rewriteMatchOps(normalized))))))
  }

  /** PG's default null ordering is the OPPOSITE of Spark's: PG sorts
    * NULLs LAST ascending and FIRST descending (the "NULLs are
    * larger than everything" model); Spark defaults to NULLS FIRST
    * ascending / LAST descending. Every ORDER BY item without an
    * explicit NULLS clause — top-level sorts AND window-spec sorts —
    * gets PG's default injected. */
  private def rewriteOrderNulls(sql: String): String = {
    val stops = Seq("LIMIT", "OFFSET", "FETCH", "UNION", "INTERSECT",
      "EXCEPT", "ROWS", "RANGE", "GROUPS", "WINDOW", "FOR")
    // rightmost-first so a nested window ORDER BY is finished before
    // its enclosing list is re-measured on the updated text
    var text = sql
    var searchEnd = text.length
    var go = true
    while (go) {
      val masked = SqlText.mask(text)
      // lookahead, not \s: `ORDER BY(a)` is legal PG — the item scan
      // starts right after BY either way
      val m = SqlText.re("(?is)\\bORDER\\s+BY(?=[\\s(])").findAllMatchIn(masked)
        .filter(_.start < searchEnd).foldLeft(
          Option.empty[scala.util.matching.Regex.Match]) {
          (acc, mm) => if (acc.forall(_.start < mm.start)) Some(mm) else acc
        }
      m match {
        case None => go = false
        case Some(mm) =>
          // list end: same-depth clause keyword, enclosing ')', or EOS
          val stop = SqlText.findKw(text, stops, mm.end)
          val end = if (stop >= 0) stop else SqlText.groupEnd(text, mm.end)
          val items = SqlText.split(text.substring(mm.end, end))
          val rebuilt = items.map { raw =>
            val it = raw.trim
            if (it.isEmpty ||
                SqlText.re("(?is).*\\bNULLS\\s+(FIRST|LAST)\\s*$").matches(it)) raw
            else if (SqlText.re("(?is).*\\bDESC\\s*$").matches(it)) s" $it NULLS FIRST"
            else s" $it NULLS LAST"
          }.mkString(",")
          text = text.substring(0, mm.end) + rebuilt + " " +
            text.substring(end)
          searchEnd = mm.start
      }
    }
    text
  }

  /** Pass 1 — lexeme-level normalization: PG string literals (raw /
    * E-escape / '' doubling) → Spark literals, `"ident"` → backticks,
    * `$n` → bound literal text, and `--` / `/* */` comments → a
    * space. */
  private def normalizeLexemes(q: String,
      params: Map[String, String]): String = {
    val out = new StringBuilder
    val n = q.length
    var i = 0
    def prevIdentChar: Boolean =
      out.nonEmpty && (out.last.isLetterOrDigit || out.last == '_')
    while (i < n) {
      val c = q.charAt(i)
      val isE = (c == 'E' || c == 'e') && i + 1 < n &&
        q.charAt(i + 1) == '\'' && !prevIdentChar
      if (c == '\'' || isE) {
        var j = if (isE) i + 2 else i + 1
        val body = new StringBuilder
        var closed = false
        while (j < n && !closed) {
          val d = q.charAt(j)
          if (d == '\'') {
            if (j + 1 < n && q.charAt(j + 1) == '\'') {
              body.append('\''); j += 2 // '' doubling
            } else { closed = true; j += 1 }
          } else if (d == '\\' && isE && j + 1 < n) {
            // decode the C-style escapes PG's E'' supports; unknown
            // escapes keep the char (PG: "any other → the char itself")
            q.charAt(j + 1) match {
              case 'n' => body.append('\n')
              case 't' => body.append('\t')
              case 'r' => body.append('\r')
              case 'b' => body.append('\b')
              case 'f' => body.append('\f')
              case '\\' => body.append('\\')
              case '\'' => body.append('\'')
              case other => body.append(other)
            }
            j += 2
          } else { body.append(d); j += 1 }
        }
        if (!closed) throw new IllegalArgumentException(
          s"unterminated string literal at offset $i")
        out.append(sparkStringLiteral(body.toString))
        i = j
      } else if (c == '"') {
        var j = i + 1
        val id = new StringBuilder
        var closed = false
        while (j < n && !closed) {
          val d = q.charAt(j)
          if (d == '"') {
            if (j + 1 < n && q.charAt(j + 1) == '"') { id.append('"'); j += 2 }
            else { closed = true; j += 1 }
          } else { id.append(d); j += 1 }
        }
        if (!closed) throw new IllegalArgumentException(
          s"unterminated quoted identifier at offset $i")
        out.append('`').append(id.toString.replace("`", "``")).append('`')
        i = j
      } else if (c == '$' && i + 1 < n && q.charAt(i + 1).isDigit) {
        var j = i + 1
        while (j < n && q.charAt(j).isDigit) j += 1
        val num = q.substring(i + 1, j)
        val bound = params.get(num).orElse(params.get(s"$$$num"))
          .getOrElse(throw new IllegalArgumentException(
            s"PG positional parameter $$$num is not bound — pass it " +
              "in the params map"))
        out.append('(').append(bound).append(')')
        i = j
      } else if (c == '$' && i + 1 < n &&
          (q.charAt(i + 1) == '$' || q.charAt(i + 1).isLetter ||
            q.charAt(i + 1) == '_')) {
        // dollar quoting: $tag$ raw body $tag$ (no escape processing
        // at all — the body is the exact bytes between the delimiters)
        var j = i + 1
        while (j < n && (q.charAt(j).isLetterOrDigit || q.charAt(j) == '_'))
          j += 1
        if (j >= n || q.charAt(j) != '$')
          throw new IllegalArgumentException(
            s"malformed dollar-quote delimiter at offset $i")
        val delim = q.substring(i, j + 1) // "$tag$" incl. both dollars
        val bodyStart = j + 1
        val close = q.indexOf(delim, bodyStart)
        if (close < 0) throw new IllegalArgumentException(
          s"unterminated dollar-quoted string ($delim) at offset $i")
        out.append(sparkStringLiteral(q.substring(bodyStart, close)))
        i = close + delim.length
      } else if (c == '-' && i + 1 < n && q.charAt(i + 1) == '-') {
        // a comment is whitespace to PG; later passes do not lex
        // comments, so none reaches them
        val eol = q.indexOf('\n', i)
        out.append(' ')
        i = if (eol < 0) n else eol
      } else if (c == '/' && i + 1 < n && q.charAt(i + 1) == '*') {
        // block comments nest in PG
        var depth = 1
        var j = i + 2
        while (j < n && depth > 0) {
          if (q.startsWith("/*", j)) { depth += 1; j += 2 }
          else if (q.startsWith("*/", j)) { depth -= 1; j += 2 }
          else j += 1
        }
        if (depth > 0) throw new IllegalArgumentException(
          s"unterminated /* comment at offset $i")
        out.append(' ')
        i = j
      } else { out.append(c); i += 1 }
    }
    out.toString
  }

  /** Emit a Spark single-quoted literal for an exact string VALUE
    * (backslashes and quotes re-escaped — Spark's lexer applies
    * backslash escapes that PG's raw literals do not). */
  private def sparkStringLiteral(value: String): String =
    "'" + value.flatMap {
      case '\\' => "\\\\"
      case '\'' => "\\'"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\u0000' => "\\0"
      case other => other.toString
    } + "'"

  private def firstKeyword(sql: String): String = {
    val masked = SqlText.mask(sql)
    val m = "(?is)^[\\s(]*([A-Za-z_]+)".r
      .findFirstMatchIn(masked)
    m.map(_.group(1).toUpperCase).getOrElse("")
  }

  /** `SELECT DISTINCT ON (e1..ek) items FROM ... ORDER BY o1..on` —
    * PG keeps the FIRST row of each e1..ek group in o-order (and
    * requires the leftmost ORDER BY expressions to match the ON set,
    * parse_clause.c's "SELECT DISTINCT ON expressions must match
    * initial ORDER BY expressions"). Lowered to the window form the
    * reference's planner itself reaches: rank rows per ON-group by
    * the full ORDER BY and keep rank 1.
    *
    * Scope notes: ORDER BY items may be select-list aliases or
    * ordinals — both are substituted with their expressions inside
    * the window (where output aliases are not yet in scope). The
    * outer ORDER BY re-sorts the one-row-per-group result by the ON
    * expressions only (the remaining order items are tie-breakers
    * WITHIN a group, already consumed by the window); table
    * qualifiers are stripped there because the subquery boundary
    * hides range names. DISTINCT ON combined with GROUP BY/HAVING or
    * a qualified `t.*` raises named. */
  private def rewriteDistinctOn(sql: String): String = {
    val masked = SqlText.mask(sql)
    val m = SqlText.re("(?is)\\bSELECT\\s+DISTINCT\\s+ON\\s*\\(")
      .findFirstMatchIn(masked).getOrElse {
        if (SqlText.re("(?is).*\\bDISTINCT\\s+ON\\s*\\(.*").matches(masked))
          throw new IllegalArgumentException(
            "DISTINCT ON must directly follow SELECT (PG grammar)")
        return sql
      }
    val onOpen = m.end - 1
    val onClose = SqlText.matchBracket(sql, onOpen)
    val onExprs = SqlText.split(
      sql.substring(onOpen + 1, onClose)).map(_.trim)

    // clause positions at this SELECT's own depth, up to the span end
    // (enclosing ')' or a top-level set-op keyword)
    val spanEnd = {
      val setOp = SqlText.findKw(sql, Seq("UNION", "INTERSECT", "EXCEPT"),
        onClose + 1)
      if (setOp >= 0) setOp else SqlText.groupEnd(sql, onClose + 1)
    }
    def clauseAt(kws: String*): Int = {
      val at = SqlText.findKw(sql, kws, onClose + 1)
      if (at < spanEnd) at else -1
    }
    val kw = Seq("FROM", "WHERE", "GROUP", "HAVING", "WINDOW", "ORDER")
      .map(k => k -> clauseAt(k)).filter(_._2 >= 0).toMap
    val limitStart = clauseAt("LIMIT", "OFFSET", "FETCH")
    for (bad <- Seq("GROUP", "HAVING", "WINDOW"))
      if (kw.contains(bad)) throw new IllegalArgumentException(
        s"DISTINCT ON combined with $bad is not in the bound PG " +
          "subset — aggregate in a CTE first")
    val fromPos = kw.getOrElse("FROM", throw new IllegalArgumentException(
      "DISTINCT ON without a FROM clause is not in the bound PG subset"))
    val orderPos = kw.get("ORDER")
    val restEnd = orderPos.orElse(Option(limitStart).filter(_ >= 0))
      .getOrElse(spanEnd)
    val items = sql.substring(onClose + 1, fromPos).trim
    val rest = sql.substring(fromPos, restEnd)
    val orderListText = orderPos.map { p =>
      val end = if (limitStart >= 0) limitStart else spanEnd
      sql.substring(p, end).replaceFirst("(?is)^ORDER\\s+BY\\s*", "")
    }
    val limitTail =
      if (limitStart >= 0) sql.substring(limitStart, spanEnd) else ""

    // alias / ordinal → expression, for ORDER BY items that name
    // select-list outputs (not yet in scope inside the window)
    val itemList = SqlText.split(items).map(_.trim)
    if (itemList.exists(it => it.endsWith(".*")))
      throw new IllegalArgumentException(
        "qualified `t.*` under DISTINCT ON is not in the bound PG " +
          "subset — list the columns")
    val asRe = "(?is)^(.*\\S)\\s+AS\\s+(`[^`]+`|[A-Za-z_][A-Za-z0-9_]*)$".r
    def aliasKey(raw: String): String =
      raw.stripPrefix("`").stripSuffix("`").toLowerCase
    val aliasToExpr: Map[String, String] = itemList.flatMap {
      case asRe(expr, alias) => Some(aliasKey(alias) -> expr.trim)
      case _ => None
    }.toMap
    val ordinalExpr: Int => String = { ord =>
      if (ord < 1 || ord > itemList.length)
        throw new IllegalArgumentException(
          s"ORDER BY ordinal $ord is out of range for the select list")
      itemList(ord - 1) match {
        case asRe(expr, _) => expr.trim
        case plain => plain
      }
    }
    def norm(e: String): String =
      e.replaceAll("\\s+", " ").trim.toLowerCase

    // window ORDER BY: the full order list with aliases/ordinals
    // substituted; PG's match rule checked on the leading k items
    val dirRe =
      "(?is)^(.*?)\\s*((?:ASC|DESC)?\\s*(?:NULLS\\s+(?:FIRST|LAST))?)$".r
    val orderItems = orderListText.map(t =>
      SqlText.split(t).map(_.trim)).getOrElse(Seq.empty)
    val substituted = orderItems.map { it =>
      val dirRe(core, dir) = it
      val c = core.trim
      val expr =
        if (c.matches("[0-9]+")) ordinalExpr(c.toInt)
        else aliasToExpr.getOrElse(aliasKey(c), c)
      (expr, dir.trim)
    }
    if (orderItems.nonEmpty) {
      val lead = substituted.take(onExprs.length).map(p => norm(p._1))
      val want = onExprs.map(norm)
      val leadRaw = orderItems.take(onExprs.length)
        .map { case dirRe(core, _) => norm(core) }
      if (substituted.length < onExprs.length ||
          (lead.toSet != want.toSet && leadRaw.toSet != want.toSet))
        throw new IllegalArgumentException(
          "SELECT DISTINCT ON expressions must match initial ORDER BY " +
            "expressions")
    }
    val windowOrder =
      if (substituted.nonEmpty)
        substituted.map { case (e, d) =>
          if (d.isEmpty) e else s"$e $d" }.mkString(", ")
      else onExprs.mkString(", ")

    // outer ORDER BY: only the group keys order the final result;
    // strip table qualifiers (hidden by the subquery boundary)
    def unqualify(e: String): String = {
      val t = e.trim
      if (t.matches("[A-Za-z_][A-Za-z0-9_]*\\.[A-Za-z_][A-Za-z0-9_]*"))
        t.substring(t.indexOf('.') + 1)
      else t
    }
    val outerOrder =
      if (substituted.isEmpty) ""
      else " ORDER BY " + substituted.take(onExprs.length)
        .map { case (e, d) =>
          val u = unqualify(e)
          if (d.isEmpty) u else s"$u $d" }.mkString(", ")
    val outerItems = itemList.map {
      case "*" => "* EXCEPT (__pg_don_rn)"
      case it => unqualifyTop(it)
    }.mkString(", ")

    val rebuilt = sql.substring(0, m.start) +
      s"SELECT $outerItems FROM (SELECT *, row_number() OVER " +
      s"(PARTITION BY ${onExprs.mkString(", ")} ORDER BY $windowOrder) " +
      s"AS __pg_don_rn $rest) __pg_don WHERE __pg_don_rn = 1" +
      outerOrder + (if (limitTail.nonEmpty) " " + limitTail else "") +
      sql.substring(spanEnd)
    rewriteDistinctOn(rebuilt)
  }

  /** Strip single-level table qualifiers from the column references
    * of one select item — the DISTINCT ON subquery boundary hides
    * range names, but its `SELECT *` re-exports every column
    * unqualified. Qualified refs inside string literals are protected
    * by the mask; function names (ident followed by `(`) and the
    * right side of `.` chains keep their text. */
  private def unqualifyTop(item: String): String = {
    val masked = SqlText.mask(item)
    val re = SqlText.re("(?<![.`])\\b([A-Za-z_][A-Za-z0-9_]*)\\.(?=[A-Za-z_`])")
    val b = new StringBuilder(item)
    re.findAllMatchIn(masked).toSeq.reverseIterator.foreach { mm =>
      b.replace(mm.start, mm.end, "")
    }
    b.toString
  }

  /** PG regex/like operators → Spark predicates. `~` binds like a
    * comparison; its operands are the adjacent primaries, which is
    * what the in-place token substitution preserves. `~*` needs the
    * RHS captured so the (?i) flag can prefix the pattern. */
  private def rewriteMatchOps(sql: String): String = {
    var s = sql
    // longest-first so !~~* is not eaten by !~
    s = replaceTopLevel(s, "!~~\\*", " NOT ILIKE ")
    s = replaceTopLevel(s, "!~~", " NOT LIKE ")
    s = replaceTopLevel(s, "~~\\*", " ILIKE ")
    s = replaceTopLevel(s, "~~", " LIKE ")
    // case-insensitive regex: capture the RHS primary to prefix (?i)
    s = rewriteCiRegex(s, "!~\\*", negate = true)
    s = rewriteCiRegex(s, "~\\*", negate = false)
    s = replaceTopLevel(s, "!~(?![*~])", " NOT RLIKE ")
    // infix ~ only (a prefix ~ is PG bitwise-not; out of subset and
    // left for Spark to reject): require an operand on the left
    val masked = SqlText.mask(s)
    val b = new StringBuilder(s)
    var at = masked.length - 1
    while (at >= 0) {
      if (masked.charAt(at) == '~' &&
          (at == 0 || "~!*".indexOf(masked.charAt(at - 1)) < 0) &&
          (at + 1 >= masked.length || "~*".indexOf(masked.charAt(at + 1)) < 0)) {
        var k = at - 1
        while (k >= 0 && masked.charAt(k).isWhitespace) k -= 1
        val lhs = k >= 0 && (SqlText.isIdent(masked.charAt(k)) ||
          "')`".indexOf(masked.charAt(k)) >= 0)
        if (lhs) b.replace(at, at + 1, " RLIKE ")
      }
      at -= 1
    }
    b.toString
  }

  /** Keywords that END an operand scan in either direction (anything
    * at or below comparison precedence, plus clause heads). `IS`
    * bounds `x IS NULL`, `DISTINCT` bounds `SELECT DISTINCT`; `CASE`
    * and `END` stop a scan only when they open or close an ENCLOSING
    * case expression — a whole `CASE ... END` is one operand. */
  private val operandStopWords: Set[String] = Set(
    "AND", "OR", "NOT", "IS", "IN", "LIKE", "ILIKE", "RLIKE", "BETWEEN",
    "SELECT", "FROM", "WHERE", "GROUP", "HAVING", "WINDOW", "ORDER",
    "LIMIT", "OFFSET", "FETCH", "UNION", "INTERSECT", "EXCEPT",
    "JOIN", "ON", "USING", "BY", "AS", "CASE", "WHEN", "THEN", "ELSE",
    "END", "DISTINCT", "ALL", "ASC", "DESC", "NULLS", "SYMMETRIC",
    "ESCAPE", "OVER", "PARTITION", "VALUES", "WITH", "SET", "RETURNING")

  private val caseOrEnd =
    SqlText.re("(?i)(?<!\\.)\\b(CASE|END)\\b(?!\\.)")

  /** Index just past the `END` that closes the `CASE` at `at`. */
  private def caseEnd(masked: String, at: Int): Int = {
    var depth = 0
    caseOrEnd.findAllMatchIn(masked).filter(_.start >= at).foreach { m =>
      depth += (if (m.group(1).equalsIgnoreCase("CASE")) 1 else -1)
      if (depth == 0) return m.end
    }
    throw new IllegalArgumentException(
      s"CASE without END near offset $at")
  }

  /** Start of the `CASE` that the `END` at `at` closes. */
  private def caseStart(masked: String, at: Int): Int = {
    var depth = 0
    caseOrEnd.findAllMatchIn(masked).takeWhile(_.start <= at).toSeq
      .reverseIterator.foreach { m =>
        depth += (if (m.group(1).equalsIgnoreCase("END")) 1 else -1)
        if (depth == 0) return m.start
      }
    throw new IllegalArgumentException(
      s"END without CASE near offset $at")
  }

  /** Backward scan from `end` (exclusive) over one comparison operand:
    * skips bracketed groups, quoted regions and `CASE ... END` whole,
    * and takes a `::type` suffix with its operand (the type pass has
    * already reduced the name to one Spark word, plus `(p, s)`); stops
    * at a same-depth comma, comparison char, opening paren, or stop
    * word. */
  private def operandStart(masked: String, end: Int): Int = {
    var i = end - 1
    var start = end
    var done = false
    while (i >= 0 && !done) {
      val c = masked.charAt(i)
      if (c == ')' || c == ']') {
        start = SqlText.openerOf(masked, i); i = start - 1
      } else if (c == '\'' || c == '`') {
        i -= 1
        while (i >= 0 && masked.charAt(i) != c) i -= 1
        start = i; i -= 1
      } else if (c.isWhitespace) { i -= 1 }
      else if (c == ':' && i > 0 && masked.charAt(i - 1) == ':') { i -= 2 }
      else if (c == ',' || c == '(' || c == '[' ||
          "<>=!".indexOf(c) >= 0) { done = true }
      else if (SqlText.isIdent(c) || c == '.') {
        var j = i
        while (j >= 0 &&
          (SqlText.isIdent(masked.charAt(j)) || masked.charAt(j) == '.')) j -= 1
        val word = masked.substring(j + 1, i + 1).toUpperCase
        if (word == "END") { start = caseStart(masked, j + 1); i = start - 1 }
        else if (operandStopWords.contains(word)) done = true
        else { start = j + 1; i = j }
      } else if ("+-*/%|&#^~".indexOf(c) >= 0) {
        // keep unary +/- with their operand: `-5 = ANY(...)`
        start = i; i -= 1
      } else done = true
    }
    start
  }

  /** Forward twin of [[operandStart]], from `at` (inclusive). */
  private def operandEnd(masked: String, at: Int): Int = {
    var i = at
    var end = at
    var done = false
    val n = masked.length
    while (i < n && !done) {
      val c = masked.charAt(i)
      if (c == '(' || c == '[') {
        i = SqlText.matchBracket(masked, i) + 1; end = i
      } else if (c == '\'' || c == '`') {
        i += 1
        while (i < n && masked.charAt(i) != c) i += 1
        i += 1; end = i
      } else if (c.isWhitespace) { i += 1 }
      else if (c == ':' && i + 1 < n && masked.charAt(i + 1) == ':') { i += 2 }
      else if (c == ',' || c == ')' || c == ']' ||
          "<>=!".indexOf(c) >= 0) { done = true }
      else if (SqlText.isIdent(c) || c == '.') {
        var j = i
        while (j < n &&
          (SqlText.isIdent(masked.charAt(j)) || masked.charAt(j) == '.')) j += 1
        val word = masked.substring(i, j).toUpperCase
        if (word == "CASE") { i = caseEnd(masked, i); end = i }
        else if (operandStopWords.contains(word)) done = true
        else { i = j; end = i }
      } else if ("+-*/%|&#^~".indexOf(c) >= 0) { i += 1 }
      else done = true
    }
    end
  }

  /** PG array surface: `ARRAY[e1, ...]` literals → `array(...)`, and
    * 1-based subscripts `prim[idx]` → `get(prim, idx - 1)`: Spark's
    * `get` is 0-based and returns NULL for EVERY invalid index —
    * negative, zero-after-shift, past-the-end, NULL — which is
    * exactly PG's out-of-range contract (element_at would error on 0
    * and count negatives from the end; try_element_at and a
    * CASE-guarded element_at both trip a Spark 4.1 codegen bug,
    * "isNull_N is not an rvalue" → interpreted fallback, when the
    * array is non-foldable and repeated). Slices `a[i:j]` raise
    * named. */
  private def rewriteArrays(sql: String): String = {
    val masked = SqlText.mask(sql)
    // literals first (innermost-last; the loop re-masks every pass)
    val lit = SqlText.re("(?is)\\bARRAY\\s*\\[").findFirstMatchIn(masked)
    if (lit.isDefined) {
      val open = lit.get.end - 1
      val close = SqlText.matchBracket(masked, open)
      return rewriteArrays(sql.substring(0, lit.get.start) +
        s"array(${sql.substring(open + 1, close)})" +
        sql.substring(close + 1))
    }
    // subscripts: a '[' whose previous non-space char ends a primary
    var at = masked.indexOf('[')
    while (at >= 0) {
      var k = at - 1
      while (k >= 0 && masked.charAt(k).isWhitespace) k -= 1
      val prim = k >= 0 && (SqlText.isIdent(masked.charAt(k)) ||
        "')]`".indexOf(masked.charAt(k)) >= 0)
      if (prim) {
        val close = SqlText.matchBracket(masked, at)
        val idx = sql.substring(at + 1, close)
        if (SqlText.mask(idx).contains(":"))
          throw new IllegalArgumentException(
            "PG array slices a[i:j] are not in the bound subset — " +
              "use slice(arr, start, length) semantics via explicit calls")
        val start = backPrimary(masked, at)
        val prim0 = sql.substring(start, at).trim
        return rewriteArrays(sql.substring(0, start) +
          s" get($prim0, ($idx) - 1) " +
          sql.substring(close + 1))
      }
      at = masked.indexOf('[', at + 1)
    }
    sql
  }

  /** Backward scan over exactly ONE primary ending at `end`
    * (exclusive): an identifier chain, a quoted literal, or a
    * paren/bracket group with its function name — the `[]` subscript
    * operand, which binds tighter than any operator. */
  private def backPrimary(masked: String, end: Int): Int = {
    var i = end - 1
    while (i >= 0 && masked.charAt(i).isWhitespace) i -= 1
    if (i < 0) return end
    val c = masked.charAt(i)
    if (c == ')' || c == ']') {
      var j = SqlText.openerOf(masked, i) - 1
      while (j >= 0 && (SqlText.isIdent(masked.charAt(j)) ||
        masked.charAt(j) == '.')) j -= 1
      j + 1
    } else if (c == '\'' || c == '`') {
      var j = i - 1
      while (j >= 0 && masked.charAt(j) != c) j -= 1
      math.max(j, 0)
    } else {
      var j = i
      while (j >= 0 && (SqlText.isIdent(masked.charAt(j)) ||
        masked.charAt(j) == '.')) j -= 1
      j + 1
    }
  }

  private def replaceTopLevel(sql: String, opRe: String,
      replacement: String): String = {
    val masked = SqlText.mask(sql)
    val re = SqlText.re(opRe)
    val b = new StringBuilder(sql)
    re.findAllMatchIn(masked).toSeq.reverseIterator.foreach { m =>
      b.replace(m.start, m.end, replacement)
    }
    b.toString
  }

  /** `a ~* 'pat'` → `a RLIKE concat('(?i)', ('pat'))`: the RHS primary
    * (literal / identifier / parenthesized expr / function call) is
    * captured by a forward scan. */
  private def rewriteCiRegex(sql: String, opRe: String,
      negate: Boolean): String = {
    val masked = SqlText.mask(sql)
    val m = SqlText.re(opRe).findFirstMatchIn(masked).getOrElse(return sql)
    var j = m.end
    while (j < sql.length && sql.charAt(j).isWhitespace) j += 1
    val rhsEnd = endOfPrimary(sql, masked, j)
    val rhs = sql.substring(j, rhsEnd)
    val op = if (negate) " NOT RLIKE " else " RLIKE "
    val rebuilt = sql.substring(0, m.start) + op +
      s"concat('(?i)', ($rhs))" + sql.substring(rhsEnd)
    rewriteCiRegex(rebuilt, opRe, negate)
  }

  /** Forward scan over one primary expression starting at `at`:
    * identifier/number (with dots), quoted literal, or a name
    * followed by a parenthesized argument list. */
  private def endOfPrimary(sql: String, masked: String, at: Int): Int = {
    var j = at
    val n = sql.length
    if (j < n && (masked.charAt(j) == '\'' || masked.charAt(j) == '`')) {
      val q = masked.charAt(j)
      j += 1
      while (j < n && masked.charAt(j) != q) j += 1
      return j + 1
    }
    while (j < n && (SqlText.isIdent(sql.charAt(j)) ||
        sql.charAt(j) == '.')) j += 1
    if (j < n && sql.charAt(j) == '(') j = SqlText.matchBracket(sql, j) + 1
    math.max(j, at + 1)
  }

  /** `expr::pgtype` → `expr::sparktype`: Spark 4.1 parses `::` itself
    * (a postfix on a primary, as in PG), so only the type name after
    * each `::` is rewritten; the operand is left to Spark's parser. */
  private def rewriteCasts(sql: String): String = {
    val out = new StringBuilder(sql)
    castType.findAllMatchIn(SqlText.mask(sql)).toSeq.reverseIterator
      .foreach { m =>
        out.replace(m.start, m.end, "::" + pgType(
          m.group(1).toLowerCase.split("\\s+").mkString(" "),
          Option(m.group(2)).getOrElse("")))
      }
    out.toString
  }

  /** `::` and the PG type name after it — one word or a multi-word
    * name [[pgType]] knows — with its optional `(p[, s])`. */
  private val castType = ("(?i)::\\s*(double\\s+precision|" +
    "character\\s+varying|timestamp\\s+with(?:out)?\\s+time\\s+zone|\\w*)" +
    "(\\([^)]*\\))?").r

  /** PG type name → Spark type (pg_sql.cpp resolves through the PG
    * catalog OIDs; this is the scalar subset). */
  private def pgType(name: String, args: String): String =
    name.toLowerCase match {
      case "int2" | "smallint" => "SMALLINT"
      case "int4" | "int" | "integer" => "INT"
      case "int8" | "bigint" => "BIGINT"
      case "float4" | "real" => "FLOAT"
      case "float8" | "double precision" => "DOUBLE"
      case "numeric" | "decimal" =>
        if (args.nonEmpty) s"DECIMAL$args" else "DECIMAL(38, 18)"
      case "text" | "varchar" | "char" | "bpchar" | "name" |
          "character varying" | "character" => "STRING"
      case "bool" | "boolean" => "BOOLEAN"
      case "date" => "DATE"
      case "timestamp" | "timestamptz" | "timestamp with time zone" |
          "timestamp without time zone" => "TIMESTAMP"
      case "bytea" => "BINARY"
      case "json" | "jsonb" => "STRING"
      case "oid" => "BIGINT"
      case other => throw new IllegalArgumentException(
        s"PG type '$other' is not in the bound cast subset " +
          "(int2/4/8, float4/8, numeric, text/varchar, bool, date, " +
          "timestamp[tz], bytea, json)")
    }

  /** The PG spellings whose Spark builtin or grammar differs. */
  private def rewriteFunctions(sql: String): String = {
    var s = sql
    s = rejectOrderedStringAgg(s)
    s = rewriteArrayAgg(s)
    s = rewriteArrayFns(s)
    s = rewriteSimilarTo(s)
    s = rewriteBetweenSymmetric(s)
    s = rewriteAnyAll(s)
    s = rewriteFetchFirst(s)
    s = rewriteExtractEpoch(s)
    s = rewriteGenerateSeries(s)
    s = rewriteUnnest(s)
    s
  }

  /** `x op ANY(arr)` / `x op ALL(arr)` → Spark's higher-order
    * `exists` / `forall` with the comparison inside the lambda —
    * both follow the same three-valued logic as PG's quantified
    * comparisons (no match + a NULL element → NULL, not false). The
    * sub-link form `ANY (SELECT ...)` raises named (use IN/EXISTS). */
  private def rewriteAnyAll(sql: String): String = {
    val masked = SqlText.mask(sql)
    val m = "([=<>!]{1,2})\\s*(?i:(ANY|SOME|ALL))\\s*\\(".r
      .findFirstMatchIn(masked).getOrElse(return sql)
    val op = m.group(1)
    if (!Set("=", "<>", "!=", "<", "<=", ">", ">=").contains(op))
      throw new IllegalArgumentException(
        s"'$op ${m.group(2)}(...)' is not a bound quantified comparison")
    val open = m.end - 1
    val close = SqlText.matchBracket(sql, open)
    val inner = sql.substring(open + 1, close).trim
    if (SqlText.re("(?is)^(SELECT|WITH|VALUES)\\b.*").matches(inner))
      throw new IllegalArgumentException(
        s"${m.group(2).toUpperCase} with a subquery is not in the " +
          "bound PG subset — use IN (SELECT ...) or EXISTS")
    val lStart = operandStart(masked, m.start)
    val lhs = sql.substring(lStart, m.start).trim
    if (lhs.isEmpty) throw new IllegalArgumentException(
      s"${m.group(2).toUpperCase} comparison with a missing left " +
        s"operand near offset ${m.start}")
    val fn =
      if (m.group(2).equalsIgnoreCase("ALL")) "forall" else "exists"
    val sparkOp = if (op == "!=") "<>" else op
    rewriteAnyAll(sql.substring(0, lStart) +
      s" $fn($inner, __pg_e -> ($lhs) $sparkOp __pg_e) " +
      sql.substring(close + 1))
  }

  /** SQL-standard row limiting: `FETCH { FIRST | NEXT } [n] ROWS
    * ONLY` → LIMIT n (count defaults to 1); `OFFSET n ROWS` drops
    * the unit keyword. `WITH TIES` raises named (needs a rank
    * window, not a LIMIT). */
  private def rewriteFetchFirst(sql: String): String = {
    if (SqlText.re("(?is).*\\bWITH\\s+TIES\\b.*").matches(SqlText.mask(sql)))
      throw new IllegalArgumentException(
        "FETCH FIRST ... WITH TIES is not in the bound PG subset — " +
          "rewrite with rank() OVER (ORDER BY ...) <= n")
    var s = replaceTopLevelKeepGroups(sql,
      "(?i)\\bOFFSET\\s+(\\d+)\\s+ROWS?\\b", "OFFSET $1")
    s = replaceTopLevelKeepGroups(s,
      "(?i)\\bFETCH\\s+(?:FIRST|NEXT)\\s+(\\d+)\\s+ROWS?\\s+ONLY\\b",
      "LIMIT $1")
    s = replaceTopLevelKeepGroups(s,
      "(?i)\\bFETCH\\s+(?:FIRST|NEXT)\\s+ROWS?\\s+ONLY\\b", "LIMIT 1")
    // PG's standard clause order is OFFSET-then-FETCH; Spark's
    // grammar only accepts LIMIT-then-OFFSET
    val re = SqlText.re("(?i)\\bOFFSET\\s+(\\d+)\\s+LIMIT\\s+(\\d+)")
    val masked = SqlText.mask(s)
    val b = new StringBuilder(s)
    re.findAllMatchIn(masked).toSeq.reverseIterator.foreach { m =>
      b.replace(m.start, m.end, s"LIMIT ${m.group(2)} OFFSET ${m.group(1)}")
    }
    b.toString
  }

  /** Like [[replaceTopLevel]] but the replacement may reference
    * capture groups ($1). */
  private def replaceTopLevelKeepGroups(sql: String, opRe: String,
      replacement: String): String = {
    val masked = SqlText.mask(sql)
    val re = SqlText.re(opRe)
    val b = new StringBuilder(sql)
    re.findAllMatchIn(masked).toSeq.reverseIterator.foreach { m =>
      val rep = replacement.replace("$1",
        if (m.groupCount >= 1 && m.group(1) != null) m.group(1) else "")
      b.replace(m.start, m.end, rep)
    }
    b.toString
  }

  /** `array_agg(e)` — PG KEEPS NULL elements (collect_list drops
    * them), so the value rides inside a never-NULL struct and is
    * unwrapped after the collect. `DISTINCT` passes through
    * (struct distinctness ≡ value distinctness); aggregate ORDER BY
    * raises named like string_agg. */
  private def rewriteArrayAgg(sql: String): String = {
    val masked = SqlText.mask(sql)
    val m = SqlText.re("(?i)\\barray_agg\\s*\\(")
      .findFirstMatchIn(masked).getOrElse(return sql)
    val close = SqlText.matchBracket(sql, m.end - 1)
    val argText = sql.substring(m.end, close).trim
    if (SqlText.re("(?is).*\\bORDER\\s+BY\\b.*").matches(SqlText.mask(argText)))
      throw new IllegalArgumentException(
        "array_agg with an aggregate ORDER BY is not in the bound " +
          "PG subset — the distributed collect has no order contract")
    val (distinct, e) =
      if (argText.matches("(?is)^DISTINCT\\s.*"))
        (true, argText.replaceFirst("(?is)^DISTINCT\\s+", ""))
      else (false, argText)
    val d = if (distinct) "DISTINCT " else ""
    // zero-row guard: PG's array_agg over no rows is NULL, Spark's
    // collect_list is [] — count(*) (not count(e): array_agg keeps
    // NULL inputs) gates the same way string_agg's guard does
    rewriteArrayAgg(sql.substring(0, m.start) +
      s"CASE WHEN count(*) = 0 THEN NULL ELSE " +
      s"transform(collect_list(${d}struct(($e) AS v)), x -> x.v) END" +
      sql.substring(close + 1))
  }

  /** The PG array toolkit whose Spark spelling differs:
    * `array_length(a, 1)` → nullif(size, 0) (PG: NULL for the empty
    * array, which has no dimensions; dims ≠ 1 raise named),
    * `array_to_string` → array_join (both skip NULL elements; the
    * 3-arg null-replacement form matches too),
    * `string_to_array(s, 'sep')` → split on the regex-quoted literal
    * separator (Spark's split takes a REGEX; non-literal or empty
    * separators raise named). */
  private def rewriteArrayFns(sql: String): String = {
    var s = sql
    s = replaceTopLevel(s,
      "(?i)\\barray_to_string(?=\\s*\\()", "array_join")
    // one match per pass, innermost recursion re-masks the text
    val masked = SqlText.mask(s)
    val lenM = SqlText.re("(?i)\\barray_length\\s*\\(")
      .findFirstMatchIn(masked)
    if (lenM.isDefined) {
      val m = lenM.get
      val close = SqlText.matchBracket(s, m.end - 1)
      val args = SqlText.split(s.substring(m.end, close))
      if (args.length != 2 || args(1).trim != "1")
        throw new IllegalArgumentException(
          "array_length with a dimension other than 1 is not in " +
            "the bound PG subset (arrays here are 1-dimensional)")
      return rewriteArrayFns(s.substring(0, m.start) +
        s"nullif(size(${args(0).trim}), 0)" + s.substring(close + 1))
    }
    val staM = SqlText.re("(?i)\\bstring_to_array\\s*\\(")
      .findFirstMatchIn(masked)
    if (staM.isDefined) {
      val m = staM.get
      val close = SqlText.matchBracket(s, m.end - 1)
      val args = SqlText.split(s.substring(m.end, close))
        .map(_.trim)
      if (args.length != 2)
        throw new IllegalArgumentException(
          "string_to_array takes (string, separator) in the bound " +
            "PG subset")
      val sep = decodeSparkLiteral(args(1)).getOrElse(
        throw new IllegalArgumentException(
          "string_to_array needs a literal separator in the bound " +
            "PG subset (Spark's split takes a regex)"))
      if (sep.isEmpty) throw new IllegalArgumentException(
        "string_to_array with an empty separator is not in the " +
          "bound PG subset")
      val quoted = sep.flatMap { ch =>
        if ("\\^$.|?*+()[]{}".indexOf(ch) >= 0) s"\\$ch" else ch.toString
      }
      // PG: string_to_array('', sep) = {} (cardinality 0); Spark's
      // split('', sep) = [''] (cardinality 1)
      return rewriteArrayFns(s.substring(0, m.start) +
        s"CASE WHEN (${args(0)}) = '' THEN array() ELSE " +
        s"split(${args(0)}, ${sparkStringLiteral(quoted)}) END" +
        s.substring(close + 1))
    }
    s
  }

  /** Decode a Spark single-quoted literal this translator itself
    * emitted (see [[sparkStringLiteral]]); None if the text is not a
    * plain literal. */
  private def decodeSparkLiteral(text: String): Option[String] = {
    val t = text.trim
    if (t.length < 2 || t.charAt(0) != '\'' || t.last != '\'') return None
    val body = t.substring(1, t.length - 1)
    val out = new StringBuilder
    var i = 0
    while (i < body.length) {
      val c = body.charAt(i)
      if (c == '\'') return None // interior quote → not one literal
      if (c == '\\' && i + 1 < body.length) {
        body.charAt(i + 1) match {
          case 'n' => out.append('\n'); case 'r' => out.append('\r')
          case 't' => out.append('\t'); case '0' => out.append('\u0000')
          case other => out.append(other)
        }
        i += 2
      } else { out.append(c); i += 1 }
    }
    Some(out.toString)
  }

  /** `expr [NOT] SIMILAR TO 'pattern' [ESCAPE 'c']` → anchored RLIKE.
    * PG's similar_escape: `%` → `.*`, `_` → `.`, the escape char
    * (default `\`) literalizes the next char; `| * + ? ( ) [ ] { }`
    * keep their POSIX-regex meaning; everything ELSE is literal —
    * including `.` `^` `$`, which ARE regex metachars and so get
    * escaped for Java. The pattern must be a literal (the translation
    * happens at parse time, as in similar_escape's const-fold path). */
  private def rewriteSimilarTo(sql: String): String = {
    val masked = SqlText.mask(sql)
    val m = SqlText.re("(?is)\\b(NOT\\s+)?SIMILAR\\s+TO\\b")
      .findFirstMatchIn(masked).getOrElse(return sql)
    var j = m.end
    while (j < masked.length && masked.charAt(j).isWhitespace) j += 1
    if (j >= masked.length || masked.charAt(j) != '\'')
      throw new IllegalArgumentException(
        "SIMILAR TO needs a literal pattern in the bound PG subset")
    var k = j + 1
    while (k < masked.length && masked.charAt(k) != '\'') k += 1
    var end = k + 1
    val pat = decodeSparkLiteral(sql.substring(j, end)).getOrElse(
      throw new IllegalArgumentException(
        "SIMILAR TO needs a literal pattern in the bound PG subset"))
    // optional ESCAPE 'c'
    var esc = '\\'
    val tail = masked.substring(end)
    val em = "(?is)^\\s*ESCAPE\\s*'".r.findFirstMatchIn(tail)
    em.foreach { e =>
      var p = end + e.end
      val q0 = p - 1
      while (p < masked.length && masked.charAt(p) != '\'') p += 1
      val escLit = decodeSparkLiteral(sql.substring(q0, p + 1)).getOrElse(
        throw new IllegalArgumentException(
          "SIMILAR TO ESCAPE needs a literal character"))
      if (escLit.length != 1) throw new IllegalArgumentException(
        "SIMILAR TO ESCAPE must be a single character")
      esc = escLit.charAt(0)
      end = p + 1
    }
    val re = new StringBuilder("^(?:")
    var i = 0
    var inClass = false
    while (i < pat.length) {
      val c = pat.charAt(i)
      if (c == esc && i + 1 < pat.length) {
        // similar_escape emits backslash+char VERBATIM for every
        // escaped character ("We allow any character at all to be
        // escaped; notably, this allows access to POSIX
        // character-class escapes such as \d") — Java regex shares
        // \d/\s/\w/\b with PG's ARE, and a literal escape like \%
        // stays a literal. PG's ARE word-boundary escapes Java spells
        // differently — translate rather than surface a raw
        // PatternSyntaxException at eval time: \m (start of word) →
        // (?<!\w)(?=\w), \M (end of word) → (?<=\w)(?!\w), \y (any
        // boundary) → \b, \Y (non-boundary) → \B. Inside a bracket
        // expression they are no class members: they pass through
        // verbatim and fail loudly (`[\b]` would be a backspace class).
        val nx = pat.charAt(i + 1)
        if (inClass) re.append('\\').append(nx)
        else nx match {
          case 'm' => re.append("(?<!\\w)(?=\\w)")
          case 'M' => re.append("(?<=\\w)(?!\\w)")
          case 'y' => re.append("\\b")
          case 'Y' => re.append("\\B")
          case _ => re.append('\\').append(nx)
        }
        i += 2
      } else {
        if (inClass) {
          re.append(c)
          if (c == ']') inClass = false
        } else c match {
          case '%' => re.append(".*")
          case '_' => re.append('.')
          case '[' => re.append('['); inClass = true
          case '|' | '*' | '+' | '?' | '(' | ')' | '{' | '}' =>
            re.append(c)
          case other =>
            if ("\\^$.".indexOf(other) >= 0) re.append('\\').append(other)
            else re.append(other)
        }
        i += 1
      }
    }
    re.append(")$")
    val op = if (m.group(1) != null) " NOT RLIKE " else " RLIKE "
    rewriteSimilarTo(sql.substring(0, m.start) + op +
      sparkStringLiteral(re.toString) + sql.substring(end))
  }

  /** `FROM unnest(arr)` → `(SELECT explode(arr) AS unnest)`; the
    * `WITH ORDINALITY` form adds PG's 1-based position as the second
    * output column via posexplode. Multi-argument unnest (PG's
    * zip-unnest) and select-list unnest raise named. */
  private def rewriteUnnest(sql: String): String = {
    var s = sql
    var found = true
    while (found) {
      val masked = SqlText.mask(s)
      SqlText.re("(?i)\\bunnest\\s*\\(")
        .findFirstMatchIn(masked) match {
        case None => found = false
        case Some(m) =>
          val before = masked.substring(0, m.start)
          val afterKw = SqlText.re("(?is).*(\\bfrom|\\bjoin)\\s*$")
            .pattern.matcher(before).matches()
          val ctx = clauseContext(before).toLowerCase
          val afterComma = "(?s).*,\\s*$".r.pattern.matcher(ctx).matches() &&
            ctx.lastIndexOf("from") > ctx.lastIndexOf("select")
          if (!(afterKw || afterComma)) throw new IllegalArgumentException(
            "unnest outside FROM position is a set-returning function " +
              "in the select list — not in the bound PG subset; move " +
              "it to the FROM clause")
          val open = s.indexOf('(', m.start)
          val close = SqlText.matchBracket(s, open)
          val args = SqlText.split(s.substring(open + 1, close))
          if (args.length != 1) throw new IllegalArgumentException(
            "multi-argument unnest (PG's zip-unnest) is not in the " +
              "bound PG subset — unnest each array separately")
          val arr = args.head.trim
          // WITH ORDINALITY → posexplode, PG's 1-based ordinal second
          val tail = masked.substring(close + 1)
          val om = SqlText.re("(?is)^\\s*WITH\\s+ORDINALITY\\b").findFirstMatchIn(tail)
          val (replacement, endAt) = om match {
            case Some(o) =>
              (s"(SELECT col AS unnest, pos + 1 AS ordinality FROM " +
                s"(SELECT posexplode($arr)))", close + 1 + o.end)
            case None =>
              (s"(SELECT explode($arr) AS unnest)", close + 1)
          }
          s = s.substring(0, m.start) + replacement + s.substring(endAt)
      }
    }
    s
  }

  /** `string_agg` is Spark's own (NULL on an empty group, `DISTINCT`,
    * running `OVER (ORDER BY ...)`); only PG's in-call ORDER BY has no
    * Spark spelling and raises named. */
  private def rejectOrderedStringAgg(sql: String): String = {
    val masked = SqlText.mask(sql)
    SqlText.re("(?i)\\bstring_agg\\s*\\(").findAllMatchIn(masked)
      .foreach { m =>
        val close = SqlText.matchBracket(masked, m.end - 1)
        if (SqlText.re("(?is).*\\bORDER\\s+BY\\b.*")
            .matches(masked.substring(m.end, close)))
          throw new IllegalArgumentException(
            "string_agg with an aggregate ORDER BY is not in the bound " +
              "PG subset")
      }
    sql
  }

  /** `a BETWEEN SYMMETRIC x AND y` → bounds sorted with
    * least/greatest (PG swaps the endpoints when x > y). */
  private def rewriteBetweenSymmetric(sql: String): String = {
    val masked = SqlText.mask(sql)
    val m = SqlText.re("(?is)\\bBETWEEN\\s+SYMMETRIC\\b")
      .findFirstMatchIn(masked).getOrElse(return sql)
    val xEnd = operandEnd(masked, m.end)
    val x = sql.substring(m.end, xEnd).trim
    var j = xEnd
    while (j < masked.length && masked.charAt(j).isWhitespace) j += 1
    if (!masked.regionMatches(true, j, "AND", 0, 3))
      throw new IllegalArgumentException(
        "BETWEEN SYMMETRIC without AND near offset " + m.start)
    val yEnd = operandEnd(masked, j + 3)
    val y = sql.substring(j + 3, yEnd).trim
    rewriteBetweenSymmetric(sql.substring(0, m.start) +
      s"BETWEEN least(($x), ($y)) AND greatest(($x), ($y))" +
      sql.substring(yEnd))
  }

  /** `extract(epoch from x)` → seconds-since-epoch as DOUBLE (PG
    * returns a fractional numeric; `unix_micros` keeps sub-second
    * precision). Spark's own EXTRACT covers every other field, so
    * only the `epoch` keyword rewrites; the inner expression is cast
    * to timestamp first (PG accepts date/timestamp alike). */
  private def rewriteExtractEpoch(sql: String): String = {
    var s = sql
    var m = SqlText.re("(?i)\\bextract\\s*\\(\\s*epoch\\s+from\\s")
      .findFirstMatchIn(SqlText.mask(s))
    while (m.isDefined) {
      val open = s.indexOf('(', m.get.start)
      val close = SqlText.matchBracket(s, open)
      val inner = s.substring(m.get.end - 1, close).trim
      s = s.substring(0, m.get.start) +
        s"(CAST(unix_micros(CAST(($inner) AS TIMESTAMP)) AS DOUBLE) / 1000000.0)" +
        s.substring(close + 1)
      m = SqlText.re("(?i)\\bextract\\s*\\(\\s*epoch\\s+from\\s")
        .findFirstMatchIn(SqlText.mask(s))
    }
    s
  }

  /** `FROM generate_series(a, b [, step])` — PG's ubiquitous rowset
    * generator — becomes a Spark lateral-free subquery
    * `(SELECT explode(sequence(a, b [, step])) AS generate_series)`;
    * a following `AS g(i)` column-alias list is Spark-native and
    * passes through. Spark's `sequence` picks its own direction (and
    * rejects a step that points away from `b`), so a guard gives PG's
    * rule: no rows when the step points away from `b`, an error for a
    * zero step. The step's sign is read against `step - step`, a
    * zero of the step's own type (numeric or ANSI interval) that
    * cannot overflow, unlike `a + step` near the type's bounds.
    * Outside table position (select-list SRFs) the construct raises
    * with a named reason, like the other out-of-subset PG forms. */
  private def rewriteGenerateSeries(sql: String): String = {
    var s = sql
    var found = true
    while (found) {
      val masked = SqlText.mask(s)
      SqlText.re("(?i)\\bgenerate_series\\s*\\(")
        .findFirstMatchIn(masked) match {
        case None => found = false
        case Some(m) =>
          // table position = preceded (ignoring whitespace) by FROM,
          // JOIN or a comma inside a FROM list; anything else is a
          // select-list set-returning call — out of subset
          val before = masked.substring(0, m.start)
          val afterKw = SqlText.re("(?is).*(\\bfrom|\\bjoin)\\s*$")
            .pattern.matcher(before).matches()
          // a comma counts as table position only when the current
          // CLAUSE is a FROM list (last FROM after last SELECT at the
          // call's own paren depth — nested subqueries, including
          // already-rewritten generate_series calls, are blanked out)
          val ctx = clauseContext(before).toLowerCase
          val afterComma = "(?s).*,\\s*$".r.pattern.matcher(ctx).matches() &&
            ctx.lastIndexOf("from") > ctx.lastIndexOf("select")
          val tablePos = afterKw || afterComma
          if (!tablePos) throw new IllegalArgumentException(
            "generate_series outside FROM position is a set-returning " +
              "function in the select list — not in the bound PG " +
              "subset; move it to the FROM clause")
          val open = s.indexOf('(', m.start)
          val close = SqlText.matchBracket(s, open)
          val args = SqlText.split(s.substring(open + 1, close))
          require(args.length == 2 || args.length == 3,
            "generate_series takes (start, stop [, step])")
          val Seq(a, b) = args.take(2).map(t => s"(${t.trim})")
          val series = args.length match {
            case 2 => s"CASE WHEN $a <= $b THEN sequence($a, $b)"
            case _ =>
              val st = s"(${args(2).trim})"
              val zero = s"($st - $st)"
              s"CASE WHEN $st > $zero AND $a <= $b OR " +
                s"$st < $zero AND $a >= $b THEN sequence($a, $b, $st) " +
                s"WHEN $st = $zero THEN " +
                "raise_error('generate_series step size cannot equal zero')"
          }
          s = s.substring(0, m.start) +
            s"(SELECT explode($series ELSE array() END) " +
            "AS generate_series)" + s.substring(close + 1)
      }
    }
    s
  }

  /** The text of the CURRENT clause: `before` from the paren that
    * encloses its end, with every nested group (subqueries) blanked to
    * spaces. */
  private def clauseContext(before: String): String = {
    val sb = new StringBuilder(before)
    var i = before.length - 1
    while (i >= 0 && before.charAt(i) != '(') {
      if (")]}".indexOf(before.charAt(i)) >= 0) {
        val open = SqlText.openerOf(before, i)
        for (k <- open to i) sb.setCharAt(k, ' ')
        i = open
      }
      i -= 1
    }
    sb.substring(i + 1)
  }
}
