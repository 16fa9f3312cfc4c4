package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.graft.{shims => S}

/** YQL's SQL-STRING entry point for module calls — the
  * `Module::Function(args)` spelling of the reference grammar
  * (yql/essentials/sql/v1/SQLv1.g.in, module call over `::`).
  *
  * Spark SQL is already the dialect for everything else in §2.D; what
  * it lacks is the module-call SPELLING. Two pieces close that:
  *
  *   1. [[registerAll]] installs the [[YqlModules]] surface in the
  *      session's FunctionRegistry under `module_function` names
  *      (`digest_md5`, `url_gethost`, ...) — native Catalyst
  *      expression builders, not UDFs, so everything stays codegen'd;
  *   2. [[rewrite]] turns `Digest::Md5(x)` into `digest_md5(x)` before
  *      the text reaches `spark.sql` (quoted strings are left alone).
  *
  * [[sql]] does both. Functions whose YQL signature takes a constant
  * (regex patterns, separators, formats) require foldable literal
  * arguments, like the reference's compile-time module-call typing.
  */
object YqlSql {

  /** Module names the rewrite recognizes on the left of `::`. Anything
    * else (`a::int` cast shorthand, unknown modules) is left verbatim
    * for Spark to resolve. */
  private val KnownModules: Set[String] = Set(
    "digest", "url", "string", "math", "unicode", "datetime",
    "json", "ip", "pire", "re2", "hyperscan", "pcre", "yson",
    "histogram", "vector", "compress", "decompress", "trydecompress",
    "stat", "json2", "datetime2")

  /** Modules whose reference signatures are CURRIED factories —
    * `Re2::Grep(pattern)(string)` (udf/list/re2.md, pire.md). An inline
    * double application fuses to the flat registered call
    * `re2_grep(string, pattern[, rewrite])`; the `$f = Re2::Grep(p)`
    * binding form lowers to a lambda in YqlScript. Hyperscan/Pcre have
    * their own registrations (audited vs hyperscan_udf.cpp). */
  private val CurriedModules: Set[String] =
    Set("re2", "pire", "hyperscan", "pcre")
  private[functions] def moduleName(m: String): String =
    // Pcre is "currently an alias to Hyperscan" (docs udf/list/pcre.md);
    // Hyperscan has its own registrations (textual anchoring,
    // whole-match capture, literal replace — see YqlModules.Hyperscan)
    if (m.equalsIgnoreCase("hyperscan") || m.equalsIgnoreCase("pcre"))
      "hyperscan"
    // Json2/DateTime2 are the reference's module NAMES for the modern
    // json/datetime surfaces this engine registers under json_/datetime_
    else if (m.equalsIgnoreCase("json2")) "json"
    else if (m.equalsIgnoreCase("datetime2")) "datetime"
    else m.toLowerCase

  /** Lowered module-call names that would shadow a Spark builtin of
    * the same name (e.g. `url_decode`) — these register and rewrite
    * under a `yql__` prefix instead. */
  private val CollidesWithBuiltin: Set[String] = Set("url_decode", "url_encode")

  /** `Module::Function(`, at an identifier boundary. */
  private val ModuleCall = SqlText.re(
    "\\b([A-Za-z_][A-Za-z0-9_]*)::([A-Za-z_][A-Za-z0-9_]*)(\\s*)\\(")

  /** `Module::Function(` → `module_function(`, outside string literals
    * and backtick-quoted identifiers. Only call sites of the known
    * modules are rewritten: the match must start at an identifier
    * boundary, the left identifier must be a registered module, and the
    * right identifier must be immediately followed (modulo whitespace)
    * by `(` — so Spark's `expr::type` cast shorthand survives. */
  def rewrite(sql: String): String = {
    val out = new StringBuilder
    var i = 0
    val n = sql.length
    for (mm <- ModuleCall.findAllMatchIn(SqlText.mask(sql))
        if mm.start >= i && KnownModules(mm.group(1).toLowerCase)) {
      out.append(sql.substring(i, mm.start))
      val lowered =
        moduleName(mm.group(1)) + "_" + mm.group(2).toLowerCase
      // module functions whose lowered name collides with a Spark
      // builtin register prefixed — never shadow the session
      val name = if (CollidesWithBuiltin(lowered)) "yql__" + lowered
        else lowered
      // curried inline application `Re2::Grep(p)(s)` fuses to the
      // flat registered call `re2_grep(s, p)` (replace:
      // `re2_replace(s, p, rewrite)`)
      val open = mm.end - 1
      val fused =
        if (!CurriedModules(mm.group(1).toLowerCase)) None
        else try {
          val close = SqlText.matchBracket(sql, open)
          var j = close + 1
          while (j < n && sql.charAt(j).isWhitespace) j += 1
          if (j < n && sql.charAt(j) == '(') {
            val close2 = SqlText.matchBracket(sql, j)
            val args1 = sql.substring(open + 1, close)
            val args2 = SqlText.split(sql.substring(j + 1, close2))
              .map(_.trim).filter(_.nonEmpty)
            require(args2.nonEmpty,
              s"$name application needs at least the string argument")
            Some((s"$name(${rewrite(args2.head)}, ${rewrite(args1)}" +
              args2.tail.map(a => s", ${rewrite(a)}").mkString + ")",
              close2 + 1))
          } else None
        } catch { case _: IllegalArgumentException => None }
      fused match {
        case Some((text, next)) => out.append(text); i = next
        case None =>
          out.append(name).append(mm.group(3)).append('(')
          i = mm.end
      }
    }
    out.append(sql.substring(i))
    tupleAccess(inlineLambdas(aggSpellings(lowerAggregateBy(
      lowerContainerAggregate(structSugar(re2OptionsSugar(ysonOptionsSugar(
        containerLiterals(coalesceOp(typeArgSugar(out.toString)))))))))))
  }

  /** `Re2::Options(false AS CaseSensitive, ...)` → the token literal
    * `'re2opts:cXdXlX'` (re2_udf.cpp:39-66 TOptionsSchema — ALL fields
    * are named optionals). CaseSensitive / DotNl / Literal carry
    * behavior; Utf8 / LogErrors / MaxMem are accepted and ignored (no
    * JVM-engine effect); the automaton-level fields Java regex cannot
    * express (PosixSyntax, LongestMatch, NeverNl, NeverCapture) raise
    * here, at fold time, when set true. */
  private def re2OptionsSugar(sql: String): String = {
    val re = SqlText.re("(?i)\\bre2_options\\s*\\(")
    val m = re.findAllMatchIn(SqlText.mask(sql))
      .find(mm => !sql.substring(mm.end).trim.startsWith("'re2opts:"))
      .getOrElse(return sql)
    val close = SqlText.matchBracket(sql, m.end - 1)
    val args = SqlText.split(sql.substring(m.end, close))
      .map(_.trim).filter(_.nonEmpty)
    var caseSens = true; var dotNl = false; var literal = false
    val named = ("(?i)^(TRUE|FALSE|NULL|[0-9]+)\\s+AS\\s+" +
      "([A-Za-z][A-Za-z0-9_]*)$").r
    def b(v: String) = v.equalsIgnoreCase("true")
    // A NULL literal is an UNSET optional — it keeps the field's
    // default (CaseSensitive defaults TRUE per re2_udf.cpp:34), it
    // does not mean false.
    def isNull(v: String) = v.equalsIgnoreCase("null")
    args.foreach {
      case named(v, nm) if isNull(v) =>
        nm.toLowerCase match {
          case "casesensitive" | "dotnl" | "literal" | "utf8" |
              "logerrors" | "maxmem" | "posixsyntax" | "longestmatch" |
              "nevernl" | "nevercapture" => // unset: keep default
          case _ => throw new IllegalArgumentException(
            s"Re2::Options: unknown field $nm (re2_udf.cpp:39-66)")
        }
      case named(v, nm) => nm.toLowerCase match {
        case "casesensitive" => caseSens = b(v)
        case "dotnl" => dotNl = b(v)
        case "literal" => literal = b(v)
        case "utf8" | "logerrors" | "maxmem" => // no JVM-engine effect
        case "posixsyntax" | "longestmatch" | "nevernl" |
            "nevercapture" =>
          if (b(v)) throw new IllegalArgumentException(
            s"Re2::Options($nm) is not expressible on the JVM regex " +
              "engine (leftmost-longest / capture-stripping are " +
              "automaton semantics) — unset it or use the default")
        case _ => throw new IllegalArgumentException(
          s"Re2::Options: unknown field $nm (re2_udf.cpp:39-66)")
      }
      case other => throw new IllegalArgumentException(
        "Re2::Options takes NAMED literal fields (`false AS " +
          s"CaseSensitive`, ...), got: ${other.take(40)}")
    }
    val tok = s"'re2opts:c${if (caseSens) 1 else 0}d${if (dotNl) 1 else 0}" +
      s"l${if (literal) 1 else 0}'"
    re2OptionsSugar(sql.substring(0, m.start) + s"re2_options($tok)" +
      sql.substring(close + 1))
  }

  /** `Yson::Options(true AS AutoConvert, false AS Strict)` → the
    * opaque token literal `'ysonopts:aXsX'` (yson2_udf.cpp:56-99
    * TOptions: two OPTIONAL named bools, positionally AutoConvert then
    * Strict; an unset argument is false). The bools are literals in
    * every reference spelling, so the resource folds at parse time and
    * the enclosing ConvertTo / Lookup lowering dispatches statically —
    * no runtime resource value exists in the plan. */
  private def ysonOptionsSugar(sql: String): String = {
    val re = SqlText.re("(?i)\\byson_options\\s*\\(")
    val m = re.findAllMatchIn(SqlText.mask(sql))
      .find(mm => !sql.substring(mm.end).trim.startsWith("'ysonopts:"))
      .getOrElse(return sql)
    val close = SqlText.matchBracket(sql, m.end - 1)
    val args = SqlText.split(sql.substring(m.end, close))
      .map(_.trim).filter(_.nonEmpty)
    var auto = false; var strict = false
    val named = "(?i)^(TRUE|FALSE|NULL)\\s+AS\\s+(AutoConvert|Strict)$".r
    val bare = "(?i)^(TRUE|FALSE|NULL)$".r
    def b(v: String) = v.equalsIgnoreCase("true")
    // NULL = unset optional → keep the field's default (both default
    // false here, so skipping is behavior-identical but keeps the
    // unset-vs-false distinction explicit).
    def isNull(v: String) = v.equalsIgnoreCase("null")
    args.zipWithIndex.foreach { case (a, idx) =>
      a match {
        case named(v, _) if isNull(v) => // unset: keep default
        case bare(v) if isNull(v) => // unset: keep default
        case named(v, nm) =>
          if (nm.equalsIgnoreCase("autoconvert")) auto = b(v) else strict = b(v)
        case bare(v) => if (idx == 0) auto = b(v) else strict = b(v)
        case other => throw new IllegalArgumentException(
          "Yson::Options expects literal bools (optionally `AS " +
            s"AutoConvert`/`AS Strict`), got: ${other.take(40)}")
      }
    }
    val tok = s"'ysonopts:a${if (auto) 1 else 0}s${if (strict) 1 else 0}'"
    ysonOptionsSugar(sql.substring(0, m.start) + s"yson_options($tok)" +
      sql.substring(close + 1))
  }

  /** YQL's `a ?? b` coalesce operator (basic.md#coalesce; grammar
    * truth SQLv1.g.in:113-117: `double_question` lives in
    * neq_subexpr — BELOW the bit/add/mul/concat operators, ABOVE
    * comparisons and booleans, right-associative). Operands therefore
    * run to the nearest comparison/boolean/clause boundary:
    * `u > 1 AND v ?? false` = u > 1 AND coalesce(v, false);
    * `a ?? b > c` = coalesce(a, b) > c. `A ?? B ?? C` flattens into
    * one coalesce (associative either way). The NVL alias is Spark's
    * own nvl. */
  private def coalesceOp(sql: String): String = {
    val masked = SqlText.mask(sql)
    val at = masked.indexOf("??")
    if (at < 0) return sql
    val stops = Set("SELECT", "FROM", "WHERE", "GROUP", "ORDER", "HAVING",
      "LIMIT", "OFFSET", "AS", "WHEN", "THEN", "ELSE", "END", "ON",
      "RETURN", "RETURNING", "BY", "UNION", "ALL", "SET", "VALUES",
      "JOIN", "WINDOW", "OVER", "PARTITION", "ASC", "DESC", "DISTINCT",
      "CASE", "INTO", "ASSUME",
      // ?? binds above comparisons and booleans (neq_subexpr)
      "AND", "OR", "XOR", "NOT", "IN", "IS", "LIKE", "ILIKE", "GLOB",
      "REGEXP", "RLIKE", "MATCH", "BETWEEN", "ESCAPE")
    val stopChars = Set('<', '>', '=', '!')
    // the expression slot around position `at`: scan out over whole
    // bracket groups to an enclosing bracket, a top-level comma, or a
    // clause keyword
    var lo = at
    var done = false
    while (lo > 0 && !done) {
      val c = masked.charAt(lo - 1)
      if (")]}".indexOf(c) >= 0) lo = SqlText.openerOf(masked, lo - 1)
      else if ("([{,;".indexOf(c) >= 0 || stopChars(c)) done = true
      else if (SqlText.isIdent(c)) {
        var ws = lo - 1
        while (ws > 0 && SqlText.isIdent(masked.charAt(ws - 1))) ws -= 1
        if (stops(masked.substring(ws, lo).toUpperCase)) done = true
        else lo = ws
      } else lo -= 1
    }
    var hi = at + 2
    done = false
    while (hi < masked.length && !done) {
      val c = masked.charAt(hi)
      if ("([{".indexOf(c) >= 0) hi = SqlText.matchBracket(masked, hi) + 1
      else if (")]},;".indexOf(c) >= 0 || stopChars(c)) done = true
      else if (SqlText.isIdent(c)) {
        var we = hi
        while (we < masked.length && SqlText.isIdent(masked.charAt(we))) we += 1
        if (stops(masked.substring(hi, we).toUpperCase)) done = true
        else hi = we
      } else hi += 1
    }
    val slot = sql.substring(lo, hi)
    val parts = SqlText.split(slot, "??")
    val trimmed = parts.map(_.trim)
    require(trimmed.forall(_.nonEmpty),
      s"malformed ?? expression: ${slot.take(60)}")
    coalesceOp(sql.substring(0, lo) +
      s" coalesce(${trimmed.mkString(", ")}) " + sql.substring(hi))
  }

  /** YQL's inline lambda spelling `($x[, $y]) -> (expr)` and the
    * statement-body form `($x) -> { RETURN expr; }` → Spark lambda
    * syntax (`__la_x -> expr` with `$x` occurrences renamed). Runs
    * LAST: the factory-combinator passes (AGGREGATE_BY,
    * List/DictAggregate) consume their lambdas textually first, so
    * whatever still spells `($x) ->` here binds as a real Spark lambda
    * (ListMap, ListFold, StaticMap, ...). */
  private def inlineLambdas(sql: String): String = {
    val headRe = ("\\(\\s*\\$([A-Za-z_][A-Za-z0-9_]*)" +
      "((\\s*,\\s*\\$[A-Za-z_][A-Za-z0-9_]*)*)\\s*\\)\\s*->\\s*").r
    val masked = SqlText.mask(sql)
    val m = headRe.findFirstMatchIn(masked).getOrElse(return sql)
    val params = ("\\$([A-Za-z_][A-Za-z0-9_]*)".r
      .findAllMatchIn(masked.substring(m.start, m.end))
      .map(_.group(1))).toSeq
    // body: a parenthesized/braced group, or a single expression the
    // caller delimits (leave the latter's extent alone)
    val i = m.end
    var body: String = null
    var bodyEnd = m.end
    if (i < sql.length && sql.charAt(i) == '(') {
      val close = SqlText.matchBracket(sql, i)
      body = sql.substring(i, close + 1) // keep the parens
      bodyEnd = close + 1
    } else if (i < sql.length && sql.charAt(i) == '{') {
      val close = SqlText.matchBracket(sql, i)
      val stmts = sql.substring(i + 1, close).trim.stripSuffix(";").trim
      val rm = SqlText.re("(?i)^RETURN\\b").findFirstMatchIn(stmts).getOrElse(
        throw new IllegalArgumentException(
          "lambda statement bodies support a single RETURN expr; got: " +
            stmts.take(60)))
      body = "(" + stmts.substring(rm.end).trim + ")"
      bodyEnd = close + 1
    } else {
      // un-delimited body: runs to the end of the current argument
      // (top-level comma or closing bracket)
      val comma = SqlText.indexOfTop(sql, ",", i)
      val j = if (comma >= 0) comma else SqlText.groupEnd(sql, i)
      body = sql.substring(i, j)
      bodyEnd = j
    }
    var newBody = body
    for (p <- params)
      newBody = SqlText.re(java.util.regex.Pattern.quote("$" + p) + "\\b")
        .pattern.matcher(newBody)
        .replaceAll(java.util.regex.Matcher.quoteReplacement(s"__la_$p"))
    // Spark's lambda grammar parenthesizes only MULTI-param heads
    val head =
      if (params.length == 1) s"__la_${params.head} -> "
      else params.map(p => s"__la_$p").mkString("(", ", ", ")") + " -> "
    inlineLambdas(sql.substring(0, m.start) + head + newBody +
      sql.substring(bodyEnd))
  }

  /** `ListAggregate(list, AggregationFactory('NAME'[, p]))` and
    * `DictAggregate(dict-of-lists, factory)` (list.md#listaggregate,
    * dict.md#dictaggregate): the factory applies to a LIST value, not
    * a group — lowered onto array expressions (count/min/max/sum/avg
    * and the exact interpolated median/percentile), per dict key for
    * DictAggregate with empty-list keys removed, all inside one
    * codegen'd projection. */
  private def lowerContainerAggregate(sql: String): String = {
    val re = SqlText.re("(?i)\\b(List|Dict)Aggregate\\s*\\(")
    val m = re.findFirstMatchIn(SqlText.mask(sql))
      .getOrElse(return sql)
    val dict = m.group(1).equalsIgnoreCase("Dict")
    val close = SqlText.matchBracket(sql, m.end - 1)
    val args = SqlText.split(sql.substring(m.end, close))
      .map(_.trim)
    require(args.length == 2,
      s"${m.group(1)}Aggregate takes (container, aggregation factory)")
    val factory = parseFactory(args(1), s"${m.group(1)}Aggregate")
    val name = factory.name
    val params = factory.params
    def overList(l0: String): String = {
      // combinators: flatten the list-of-lists input; apply the input
      // transformation per item (basic.md#aggregatetransform)
      val flat = if (factory.flatten) s"flatten($l0)" else l0
      val txd =
        if (factory.inputTx("__id") == "__id") flat
        else s"transform($flat, __lagg_i -> ${factory.inputTx("__lagg_i")})"
      val nn = s"filter($txd, __lagg_x -> __lagg_x IS NOT NULL)"
      def pctl(p: String): String = {
        val s = s"array_sort(transform($nn, __lagg_x -> " +
          "CAST(__lagg_x AS DOUBLE)))"
        val r = s"((size($s) - 1) * CAST($p AS DOUBLE))"
        s"CASE WHEN size($s) = 0 THEN NULL ELSE " +
          s"element_at($s, CAST(floor($r) AS INT) + 1) * " +
          s"(1.0D - ($r - floor($r))) + " +
          s"element_at($s, CAST(ceil($r) AS INT) + 1) * " +
          s"($r - floor($r)) END"
      }
      name match {
        case "count" => s"CAST(size($nn) AS BIGINT)"
        case "min" => s"array_min($nn)"
        case "max" => s"array_max($nn)"
        case "sum" => s"aggregate($nn, try_element_at($nn, 1) - " +
          s"try_element_at($nn, 1), (__lagg_a, __lagg_x) -> " +
          "__lagg_a + __lagg_x)"
        case "avg" => s"CASE WHEN size($nn) = 0 THEN NULL ELSE " +
          s"aggregate(transform($nn, __lagg_x -> " +
          s"CAST(__lagg_x AS DOUBLE)), 0.0D, " +
          s"(__lagg_a, __lagg_x) -> __lagg_a + __lagg_x) / size($nn) END"
        case "median" => pctl(params.headOption.getOrElse("0.5"))
        case "percentile" => pctl(params.headOption.getOrElse(
          throw new IllegalArgumentException(
            "AggregationFactory('percentile') needs the level parameter")))
        case "aggregate_list" | "agg_list" => nn
        case "aggregate_list_distinct" | "agg_list_distinct" =>
          s"array_sort(array_distinct($nn))"
        case other => throw new IllegalArgumentException(
          s"${m.group(1)}Aggregate supports count/min/max/sum/avg/" +
            s"median/percentile/AGGREGATE_LIST[_DISTINCT] factories, " +
            s"got: $other")
      }
    }
    val container = rewrite(args(0))
    val repl =
      if (!dict) factory.outputTx(overList(s"($container)"))
      else "map_from_entries(transform(filter(map_entries(" +
        s"$container), __dagg_e -> size(__dagg_e.value) > 0), " +
        s"__dagg_e -> struct(__dagg_e.key, " +
        s"${factory.outputTx(overList("__dagg_e.value"))})))"
    lowerContainerAggregate(
      sql.substring(0, m.start) + repl + sql.substring(close + 1))
  }

  /** The bare-type-token argument of `Nothing(Optional<Int32>)`,
    * `FromBytes(b, Uint64)` and `Unpickle(Uint32, b)` (basic.md) —
    * Spark SQL cannot parse a type expression in argument position, so
    * the type text quotes into the string literal the builders take. */
  private def typeArgSugar(sql: String): String = {
    val re = SqlText.re("(?i)\\b(Nothing|FromBytes|Unpickle|" +
      "ListCreate|DictCreate|SetCreate|Variant|Enum)\\s*\\(")
    val masked = SqlText.mask(sql)
    var out = sql
    // right-to-left so earlier offsets stay valid after replacement
    // split args tracking <> depth too: Tuple<Utf8,Double?> must stay
    // one argument
    def splitAngleAware(s: String): Seq[String] = {
      val outB = scala.collection.mutable.ArrayBuffer.empty[String]
      var d = 0; var start = 0; var i = 0
      while (i < s.length) {
        s.charAt(i) match {
          case '(' | '[' | '{' | '<' => d += 1
          case ')' | ']' | '}' | '>' => d -= 1
          case ',' if d == 0 => outB += s.substring(start, i); start = i + 1
          case _ =>
        }
        i += 1
      }
      outB += s.substring(start)
      outB.toSeq.map(_.trim)
    }
    for (m <- re.findAllMatchIn(masked).toSeq.reverseIterator) {
      val close = SqlText.matchBracket(out, m.end - 1)
      val args = splitAngleAware(out.substring(m.end, close))
      val tis: Seq[Int] = m.group(1).toLowerCase match {
        case "frombytes" => Seq(1)
        case "dictcreate" => Seq(0, 1)
        case "variant" => Seq(2)
        case "enum" => Seq(1)
        case _ => Seq(0)
      }
      var newArgs = args
      var changed = false
      for (ti <- tis if ti < args.length) {
        // substituted $type bindings arrive parenthesized
        var t = args(ti)
        while (t.startsWith("(") && t.endsWith(")") &&
            SqlText.matchBracket(t, 0) == t.length - 1)
          t = t.substring(1, t.length - 1).trim
        val isType = t.nonEmpty && t.head.isLetter &&
          t.forall(c => c.isLetterOrDigit || "<>?,:_ ".contains(c)) &&
          !t.equalsIgnoreCase("null")
        if (isType) { newArgs = newArgs.updated(ti, s"'$t'"); changed = true }
      }
      if (changed)
        out = out.substring(0, m.end) + newArgs.mkString(", ") +
          out.substring(close)
    }
    out
  }

  /** YQL container literals (basic.md#containerliteral):
    * `<|name: value, ...|>` (struct), `[v, ...]` (list), `{k: v, ...}`
    * (dict) and `{k, ...}` (set) — lowered onto the same builders the
    * spelled-out constructors use (AsStruct/AsList/AsDict/AsSet).
    * Tuple literals `(a, b)` stay with AsTuple: bare parens are
    * ambiguous with SQL grouping and row constructors.
    *
    * `[` directly after an identifier/`)`/`]` is element access, not a
    * literal; `{` inside a MATCH_RECOGNIZE PATTERN(...) is a
    * quantifier, so PATTERN regions are skipped. */
  private def containerLiterals(sql: String): String = {
    val masked0 = SqlText.mask(sql)
    // mask PATTERN ( ... ) regions — `{n,m}` quantifiers live there
    val masked = {
      val sb = new StringBuilder(masked0)
      val p = SqlText.re("(?i)\\bPATTERN\\s*\\(")
      for (m <- p.findAllMatchIn(masked0)) {
        try {
          val close = SqlText.matchBracket(masked0, m.end - 1)
          for (i <- m.end until close) sb.setCharAt(i, 'x')
        } catch { case _: IllegalArgumentException => }
      }
      sb.toString
    }
    def prevNonSpace(i: Int): Char = {
      var j = i - 1
      while (j >= 0 && masked.charAt(j).isWhitespace) j -= 1
      if (j < 0) ' ' else masked.charAt(j)
    }
    // `[` after an identifier is element access — except after a SQL
    // keyword, where an expression (so a list literal) begins
    val kw = Set("SELECT", "DISTINCT", "WHERE", "HAVING", "WHEN", "THEN",
      "ELSE", "AND", "OR", "NOT", "IN", "BY", "AS", "ON", "RETURN",
      "RETURNING", "UNION", "ALL", "VALUES", "SET", "BETWEEN", "LIKE",
      "ILIKE", "RLIKE", "IS", "CASE", "OVER", "PARTITION", "ORDER",
      "GROUP", "LIMIT", "OFFSET", "ASC", "DESC", "JOIN", "FROM", "USING")
    def prevWordIsKeyword(i: Int): Boolean = {
      var j = i - 1
      while (j >= 0 && masked.charAt(j).isWhitespace) j -= 1
      val end = j
      while (j >= 0 && SqlText.isIdent(masked.charAt(j))) j -= 1
      end > j && kw(masked.substring(j + 1, end + 1).toUpperCase)
    }
    // matching closer with <| |> / [ ] / { } / ( ) depth tracking
    def matchClose(open: Int): Int = {
      var i = open; var depth = 0
      while (i < masked.length) {
        val c = masked.charAt(i)
        if (c == '<' && i + 1 < masked.length && masked.charAt(i + 1) == '|') {
          depth += 1; i += 2
        } else if (c == '|' && i + 1 < masked.length &&
            masked.charAt(i + 1) == '|') {
          i += 2 // string concat operator
        } else if (c == '|' && i + 1 < masked.length &&
            masked.charAt(i + 1) == '>') {
          depth -= 1; if (depth == 0) return i; i += 2
        } else {
          if (c == '(' || c == '[' || c == '{') depth += 1
          else if (c == ')' || c == ']' || c == '}') {
            depth -= 1; if (depth == 0) return i
          }
          i += 1
        }
      }
      SqlText.fail(sql, open, "unbalanced container literal")
    }
    // depth-0 positions of `s` (over its mask) under the SAME bracket
    // classes, `<| |>` included
    def topLevel(s: String): Seq[Int] = {
      val m = SqlText.mask(s)
      val out = scala.collection.mutable.ArrayBuffer.empty[Int]
      var depth = 0; var i = 0
      while (i < m.length) {
        val c = m.charAt(i)
        if (m.startsWith("<|", i)) { depth += 1; i += 2 }
        else if (m.startsWith("||", i)) i += 2 // string concat operator
        else if (m.startsWith("|>", i)) { depth -= 1; i += 2 }
        else {
          if (c == '(' || c == '[' || c == '{') depth += 1
          else if (c == ')' || c == ']' || c == '}') depth -= 1
          else if (depth == 0) out += i
          i += 1
        }
      }
      out.toSeq
    }
    def splitItems(s: String): Seq[String] = {
      val cuts = topLevel(s).filter(s.charAt(_) == ',')
      (-1 +: cuts).zip(cuts :+ s.length)
        .map { case (a, b) => s.substring(a + 1, b).trim }.filter(_.nonEmpty)
    }
    // first top-level single ':' (':: module calls don't split)
    def splitColon(s: String): Option[(String, String)] =
      topLevel(s).find(i => s.charAt(i) == ':' &&
          !s.startsWith("::", i) && !(i > 0 && s.charAt(i - 1) == ':'))
        .map(i => (s.substring(0, i).trim, s.substring(i + 1).trim))
    def structName(raw: String): String = {
      val t = raw.trim
      if (t.startsWith("`") && t.endsWith("`") && t.length >= 2)
        "'" + t.substring(1, t.length - 1).replace("'", "\\'") + "'"
      else if (t.nonEmpty && (t.head.isLetter || t.head == '_') &&
          t.forall(SqlText.isIdent))
        s"'$t'"
      else t // expression form — the builder requires it foldable
    }
    var i = 0
    while (i < masked.length) {
      val c = masked.charAt(i)
      if (c == '<' && i + 1 < masked.length && masked.charAt(i + 1) == '|') {
        val close = matchClose(i) // at the '|' of '|>'
        val items = splitItems(sql.substring(i + 2, close))
        val parts = items.map { it =>
          splitColon(it) match {
            case Some((n, v)) => s"${structName(n)}, ${containerLiterals(v)}"
            case None => throw new IllegalArgumentException(
              s"struct literal items need `name: value`: ${it.take(60)}")
          }
        }
        return containerLiterals(sql.substring(0, i) +
          s"yql_asstruct(${parts.mkString(", ")})" + sql.substring(close + 2))
      } else if (c == '[' &&
          ((!SqlText.isIdent(prevNonSpace(i)) && prevNonSpace(i) != ')' &&
            prevNonSpace(i) != ']') || prevWordIsKeyword(i))) {
        val close = matchClose(i)
        val items = splitItems(sql.substring(i + 1, close))
          .map(containerLiterals)
        return containerLiterals(sql.substring(0, i) +
          s"array(${items.mkString(", ")})" + sql.substring(close + 1))
      } else if (c == '{' && !(prevNonSpace(i) == '>' && {
        // a `{` right after `->` is a lambda statement body
        // (inlineLambdas owns it), not a dict/set literal
        var j = i - 1
        while (j >= 0 && masked.charAt(j).isWhitespace) j -= 1
        j >= 1 && masked.charAt(j - 1) == '-'
      })) {
        val close = matchClose(i)
        val items = splitItems(sql.substring(i + 1, close))
        val entries = items.map(splitColon)
        val repl =
          if (items.nonEmpty && entries.forall(_.isDefined))
            "todict(array(" + entries.flatten.map { case (k, v) =>
              s"named_struct('_1', ${containerLiterals(k)}, " +
                s"'_2', ${containerLiterals(v)})" }.mkString(", ") + "))"
          else if (entries.forall(_.isEmpty))
            s"toset(array(${items.map(containerLiterals).mkString(", ")}))"
          else throw new IllegalArgumentException(
            "a container literal mixes dict `k: v` and set items: " +
              sql.substring(i, math.min(close + 1, i + 60)))
        return containerLiterals(
          sql.substring(0, i) + repl + sql.substring(close + 1))
      }
      i += 1
    }
    sql
  }

  /** The named-argument sugar of `AsStruct(value AS name, ...)` and
    * `ExpandStruct(struct, value AS name, ...)` (struct.md;
    * basic.md#asstruct) — Spark SQL cannot parse `AS` inside call
    * arguments, so the items lower to alternating ('name', value)
    * arguments of the registered builders. */
  private def structSugar(sql: String): String = {
    val re = SqlText.re("(?i)\\b(ExpandStruct|AsStruct|StructType)\\s*\\(")
    val m = re.findFirstMatchIn(SqlText.mask(sql))
      .getOrElse(return sql)
    val fn = m.group(1).toLowerCase
    val close = SqlText.matchBracket(sql, m.end - 1)
    val args = SqlText.split(sql.substring(m.end, close))
      .map(_.trim).filter(_.nonEmpty)
    // split one argument at its TOP-LEVEL trailing `AS name` (the AS
    // inside CAST(x AS t) sits behind parens and is ignored)
    def asItem(a: String): (String, String) = {
      // anchored: the AS must run to the END of the item
      val re2 = "(?i)^AS\\s+([A-Za-z_][A-Za-z0-9_]*)\\s*$".r
      var at = SqlText.findKw(a, "AS")
      while (at >= 0 && re2.findFirstIn(a.substring(at)).isEmpty)
        at = SqlText.findKw(a, "AS", at + 2)
      require(at > 0, s"$fn items must be spelled `value AS name`, " +
        s"got: ${a.take(60)}")
      (re2.findFirstMatchIn(a.substring(at)).get.group(1),
        a.substring(0, at).trim)
    }
    val (head, items) =
      if (fn == "expandstruct") (Seq(rewrite(args.head)), args.tail)
      else (Seq.empty, args)
    val lowered = items.map(asItem).flatMap { case (n, v) =>
      Seq(s"'$n'", rewrite(v)) }
    val target = fn match {
      case "expandstruct" => "yql_expandstruct"
      case "structtype" => "yql_structtype"
      case _ => "yql_asstruct"
    }
    structSugar(sql.substring(0, m.start) +
      s"$target(${(head ++ lowered).mkString(", ")})" +
      sql.substring(close + 1))
  }

  /** Aggregate-function SPELLINGS the reference names differently from
    * Spark (docs builtins/aggregation.md): SOME, the HLL trio, the
    * AGGREGATE_LIST family, TOPFREQ/MODE, the STDDEV/VARIANCE alias
    * zoo, CORRELATION/COVARIANCE (which per the docs do NOT skip NULL —
    * it counts as 0), and the BOOL_* trio (which per the docs DO
    * poison on NULL, unlike Spark's null-skipping bool_and/bool_or).
    * Pure text lowering onto Spark aggregates — everything stays
    * codegen'd and map-side-combined; TOPFREQ lands on the registered
    * bounded-buffer [[TopFreqAgg]]. */
  private def aggSpellings(sql: String): String = {
    val names = Seq(
      // longest-first so CORRELATION wins over CORR etc.
      "AGGREGATE_LIST_DISTINCT", "AGG_LIST_DISTINCT", "AGGREGATE_LIST",
      "AGG_LIST", "COUNTDISTINCTESTIMATE", "HYPERLOGLOG", "HLL",
      "CORRELATION", "CORR", "COVARIANCE_POPULATION", "COVAR_POPULATION",
      "COVARIANCE_SAMPLE", "COVAR_SAMPLE", "COVARIANCE", "COVAR",
      "STDDEV_POPULATION", "POPULATION_STDDEV", "STDDEVPOP",
      "STDDEV_SAMPLE", "SAMPLE_STDDEV", "STDDEVSAMP",
      "VARIANCE_POPULATION", "POPULATION_VARIANCE", "VARPOP",
      "VARIANCE_SAMPLE", "SAMPLE_VARIANCE", "VARSAMP",
      "TOPFREQ", "MODE", "SOME", "BOOL_AND", "BOOL_OR", "BOOL_XOR")
    val re = SqlText.re("(?i)\\b(" + names.mkString("|") + ")\\s*\\(")
    val masked = SqlText.mask(sql)
    val m = re.findFirstMatchIn(masked).getOrElse(return sql)
    val name = m.group(1).toUpperCase
    val close = SqlText.matchBracket(sql, m.end - 1)
    val rawArgs = SqlText.split(sql.substring(m.end, close))
      .map(_.trim).filter(_.nonEmpty)
    // DISTINCT prefix (AGGREGATE_LIST(DISTINCT x))
    val dm = rawArgs.headOption.flatMap(a =>
      SqlText.re("(?i)^DISTINCT\\b").findFirstMatchIn(a))
    val args = dm match {
      case Some(d) => rawArgs.head.substring(d.end).trim +: rawArgs.tail
      case None => rawArgs
    }
    // corr/covar route through registered yql_* builders (never the
    // bare Spark names — `corr(` would re-match the CORR spelling and
    // recurse); the builder adds the NULL-as-0 cast and accepts the
    // AggregationFactory one-Tuple form
    def twoArg(fn: String): String = s"$fn(${args.mkString(", ")})"
    def listAgg(distinct: Boolean): String = {
      val fn = if (distinct) "collect_set" else "collect_list"
      val base = s"$fn(${args(0)})"
      if (args.length > 1) s"slice($base, 1, ${args(1)})" else base
    }
    def nullPoison(inner: String): String =
      s"CASE WHEN count_if((${args(0)}) IS NULL) > 0 THEN NULL ELSE $inner END"
    val repl = name match {
      case "SOME" => s"any_value(${args(0)}, true)"
      case "COUNTDISTINCTESTIMATE" | "HYPERLOGLOG" | "HLL" =>
        if (args.length > 1) {
          val p = args(1).trim.toIntOption.getOrElse(throw
            new IllegalArgumentException(
              s"$name precision must be an integer literal, got ${args(1)}"))
          require(p >= 4 && p <= 18, s"$name precision must be in [4, 18]")
          // HLL precision p (2^p registers) → Spark's relative SD knob.
          // COST NOTE: HLL++ flattens its registers into the agg buffer
          // (2^p/6 longs per group) — precision ≥14 inflates the
          // aggregation schema enough to blow past whole-stage-codegen
          // limits (a measured 25-row query took 12 s at p=16). High
          // precision is for genuinely large groups.
          val rsd = 1.04 / math.sqrt(math.pow(2.0, p.toDouble))
          s"approx_count_distinct(${args(0)}, ${rsd}D)"
        } else s"approx_count_distinct(${args(0)})"
      case "AGGREGATE_LIST" | "AGG_LIST" => listAgg(dm.isDefined)
      case "AGGREGATE_LIST_DISTINCT" | "AGG_LIST_DISTINCT" => listAgg(true)
      case "TOPFREQ" | "MODE" =>
        val num = if (name == "MODE") args.lift(1).getOrElse("1")
          else args.lift(1).getOrElse("1")
        val buf = args.lift(2).getOrElse("100")
        s"yql_topfreq(${args(0)}, $num, $buf)"
      case "CORRELATION" | "CORR" => twoArg("yql_corr")
      case "COVARIANCE" | "COVAR" | "COVARIANCE_SAMPLE" | "COVAR_SAMPLE" =>
        twoArg("yql_covar_samp")
      case "COVARIANCE_POPULATION" | "COVAR_POPULATION" =>
        twoArg("yql_covar_pop")
      case "STDDEV_POPULATION" | "POPULATION_STDDEV" | "STDDEVPOP" =>
        s"stddev_pop(${args(0)})"
      case "STDDEV_SAMPLE" | "SAMPLE_STDDEV" | "STDDEVSAMP" =>
        s"stddev_samp(${args(0)})"
      case "VARIANCE_POPULATION" | "POPULATION_VARIANCE" | "VARPOP" =>
        s"var_pop(${args(0)})"
      case "VARIANCE_SAMPLE" | "SAMPLE_VARIANCE" | "VARSAMP" =>
        s"var_samp(${args(0)})"
      // every/any are Spark's aliases of bool_and/bool_or — spelled so
      // because `bool_and(` in the replacement would re-match BOOL_AND
      case "BOOL_AND" => nullPoison(s"every(${args(0)})")
      case "BOOL_OR" => nullPoison(s"any(${args(0)})")
      case "BOOL_XOR" => nullPoison(
        s"CASE WHEN count(${args(0)}) = 0 THEN NULL " +
          s"ELSE count_if(${args(0)}) % 2 = 1 END")
      case other => throw new IllegalStateException(other)
    }
    aggSpellings(sql.substring(0, m.start) + repl + sql.substring(close + 1))
  }

  /** `AGGREGATE_BY([DISTINCT] expr, AggregationFactory('NAME'[, p...]))`
    * and `MULTI_AGGREGATE_BY(listExpr, factory)`
    * (builtins/aggregation.md#aggregate-by; factory basic.md
    * #aggregationfactory). The factory is a compile-time descriptor —
    * a `$f = AggregationFactory(...)` binding inlines to the literal
    * call before this pass — so AGGREGATE_BY lowers to the named
    * aggregate spelled directly (`COUNT(DISTINCT x)`,
    * `percentile(x, 0.9)`, every registered aggregate name works).
    *
    * MULTI_AGGREGATE_BY applies the factory item-by-item over a LIST
    * column, truncated to the shortest list (the reference's rule):
    * lowered onto `transform(sequence(1, min(size(l))), i -> f_i)`
    * over `collect_list`, with per-index count/min/max/sum/avg/
    * median/percentile as array HOFs (percentile = the exact
    * linear-interpolation rank, Spark `percentile` semantics). The
    * collected group is one array per row of the group — the same
    * per-group state the reference's item-wise traits hold.
    */
  /** A resolved aggregation factory: the base aggregate name/params
    * plus the input/output transformations and list-flattening the
    * AggregateTransformInput/Output and AggregateFlatten combinators
    * (basic.md#aggregatetransform, #aggregateflatten) layered on. */
  private case class Factory(name: String, params: Seq[String],
      inputTx: String => String, outputTx: String => String,
      flatten: Boolean)

  /** One-argument lambda text `($x) -> (body)` → textual application. */
  private def lambdaTx(t0: String, ctx: String): String => String = {
    var t = t0.trim
    while (t.startsWith("(") && SqlText.matchBracket(t, 0) == t.length - 1 &&
        !"(?s)^\\(\\s*\\$".r.findFirstIn(t).isDefined)
      t = t.substring(1, t.length - 1).trim
    val m = "(?s)^\\(\\s*\\$([A-Za-z_][A-Za-z0-9_]*)\\s*\\)\\s*->\\s*".r
      .findFirstMatchIn(t).getOrElse(throw new IllegalArgumentException(
        s"$ctx takes a one-argument lambda (($$x) -> (expr)), got: " +
          t0.take(60)))
    val param = m.group(1)
    var body = t.substring(m.end).trim
    if (body.startsWith("(") && SqlText.matchBracket(body, 0) == body.length - 1)
      body = body.substring(1, body.length - 1).trim
    val pat =
      SqlText.re(java.util.regex.Pattern.quote("$" + param) + "\\b").pattern
    arg => pat.matcher(body).replaceAll(
      java.util.regex.Matcher.quoteReplacement(s"($arg)"))
  }

  /** Parse a factory expression: AggregationFactory('name'[, p...]),
    * possibly wrapped in AggregateTransformInput/Output or
    * AggregateFlatten combinators (arbitrarily nested). */
  private def parseFactory(fac0: String, ctx: String): Factory = {
    var fac = fac0.trim
    while (fac.startsWith("(") && SqlText.matchBracket(fac, 0) == fac.length - 1)
      fac = fac.substring(1, fac.length - 1).trim
    def wrapped(kw: String): Option[Seq[String]] =
      s"(?i)^$kw\\s*\\(".r.findFirstMatchIn(fac).map { m =>
        val close = SqlText.matchBracket(fac, m.end - 1)
        require(fac.substring(close + 1).trim.isEmpty,
          s"trailing text after $kw: ${fac0.take(60)}")
        SqlText.split(fac.substring(m.end, close)).map(_.trim)
      }
    wrapped("AggregateTransformInput") match {
      case Some(args) =>
        require(args.length == 2,
          "AggregateTransformInput takes (factory, lambda)")
        val inner = parseFactory(args(0), ctx)
        val lam = lambdaTx(args(1), "AggregateTransformInput")
        return inner.copy(inputTx = x => inner.inputTx(lam(x)))
      case None =>
    }
    wrapped("AggregateTransformOutput") match {
      case Some(args) =>
        require(args.length == 2,
          "AggregateTransformOutput takes (factory, lambda)")
        val inner = parseFactory(args(0), ctx)
        val lam = lambdaTx(args(1), "AggregateTransformOutput")
        return inner.copy(outputTx = r => lam(inner.outputTx(r)))
      case None =>
    }
    wrapped("AggregateFlatten") match {
      case Some(args) =>
        require(args.length == 1, "AggregateFlatten takes (factory)")
        val inner = parseFactory(args(0), ctx)
        require(!inner.flatten, "AggregateFlatten cannot nest")
        return inner.copy(flatten = true)
      case None =>
    }
    val fm = "(?i)^AggregationFactory\\s*\\(".r.findFirstMatchIn(fac)
      .getOrElse(throw new IllegalArgumentException(
        s"$ctx factory must be AggregationFactory('name'[, ...]) or a " +
          s"combinator over one, got: ${fac0.take(60)}"))
    val fclose = SqlText.matchBracket(fac, fm.end - 1)
    val fargs = SqlText.split(fac.substring(fm.end, fclose))
      .map(_.trim)
    require(fargs.nonEmpty && fargs.head.length >= 2 &&
      (fargs.head.head == '\'' || fargs.head.head == '"'),
      "AggregationFactory takes a constant aggregate name")
    Factory(fargs.head.substring(1, fargs.head.length - 1).toLowerCase,
      fargs.tail, identity, identity, flatten = false)
  }

  private def lowerAggregateBy(sql: String): String = {
    val re = SqlText.re("(?i)\\b(MULTI_)?(AGGREGATE_BY|AGGREGATEBY)\\s*\\(")
    val m = re.findFirstMatchIn(SqlText.mask(sql))
      .getOrElse(return sql)
    val multi = m.group(1) != null
    val close = SqlText.matchBracket(sql, m.end - 1)
    val args = SqlText.split(sql.substring(m.end, close))
      .map(_.trim)
    require(args.length == 2,
      "AGGREGATE_BY takes (expression, aggregation factory)")
    val factory = parseFactory(args(1), "AGGREGATE_BY")
    val name = factory.name
    val params = factory.params
    // DISTINCT prefix on the aggregated expression
    val dm = SqlText.re("(?i)^DISTINCT\\b").findFirstMatchIn(args(0))
    val ex0 = dm.map(d => args(0).substring(d.end).trim).getOrElse(args(0))
    val ex = factory.inputTx(ex0)
    val dkw = if (dm.isDefined) "DISTINCT " else ""
    val repl = factory.outputTx(
      if (!multi && factory.flatten) {
        // AggregateFlatten (basic.md#aggregateflatten): the input is a
        // LIST column and every item aggregates, like FLATTEN LIST BY.
        // Decomposable aggregates lower to a per-row list reduction
        // under the matching corpus-level combiner.
        require(dm.isEmpty, "AggregateFlatten does not combine with DISTINCT")
        val nn = s"filter($ex, __afl_x -> __afl_x IS NOT NULL)"
        name match {
          case "count" => s"CAST(sum(size($nn)) AS BIGINT)"
          case "sum" => s"sum(aggregate($nn, try_element_at($nn, 1) - " +
            s"try_element_at($nn, 1), (__afl_a, __afl_x) -> " +
            "__afl_a + __afl_x))"
          case "min" => s"min(array_min($nn))"
          case "max" => s"max(array_max($nn))"
          case "avg" => s"sum(aggregate(transform($nn, __afl_x -> " +
            s"CAST(__afl_x AS DOUBLE)), 0.0D, (__afl_a, __afl_x) -> " +
            s"__afl_a + __afl_x)) / sum(size($nn))"
          case "aggregate_list" | "agg_list" =>
            s"flatten(collect_list($ex))"
          case "aggregate_list_distinct" | "agg_list_distinct" =>
            s"array_sort(array_distinct(flatten(collect_list($ex))))"
          case other => throw new IllegalArgumentException(
            "AggregateFlatten supports count/sum/min/max/avg/" +
              s"AGGREGATE_LIST[_DISTINCT] factories, got: $other")
        }
      } else if (!multi) {
        val (fn, ps) = name match {
          case "median" if params.isEmpty => ("percentile", Seq("0.5"))
          case "median" => ("percentile", params)
          case "aggregate_list" | "agg_list" => ("collect_list", params)
          case "aggregate_list_distinct" | "agg_list_distinct" =>
            ("collect_set", params)
          case n => (n, params)
        }
        s"$fn($dkw$ex${ps.map(p => s", $p").mkString})"
      } else {
        require(!factory.flatten,
          "MULTI_AGGREGATE_BY does not combine with AggregateFlatten")
        require(dm.isEmpty,
          "MULTI_AGGREGATE_BY does not take DISTINCT (apply the factory " +
            "item-by-item over the list instead)")
        val rows = s"collect_list($ex)"
        def fi =
          s"filter(transform($rows, __magg_r -> " +
            "element_at(__magg_r, CAST(__magg_i AS INT))), " +
            "__magg_x -> __magg_x IS NOT NULL)"
        def pctl(p: String): String = {
          val s = s"array_sort(transform($fi, __magg_x -> " +
            "CAST(__magg_x AS DOUBLE)))"
          val r = s"((size($s) - 1) * CAST($p AS DOUBLE))"
          s"CASE WHEN size($s) = 0 THEN NULL ELSE " +
            s"element_at($s, CAST(floor($r) AS INT) + 1) * " +
            s"(1.0D - ($r - floor($r))) + " +
            s"element_at($s, CAST(ceil($r) AS INT) + 1) * " +
            s"($r - floor($r)) END"
        }
        val perIndex = name match {
          case "count" => s"CAST(size($fi) AS BIGINT)"
          case "min" => s"array_min($fi)"
          case "max" => s"array_max($fi)"
          case "sum" => s"aggregate($fi, element_at($fi, 1) - " +
            s"element_at($fi, 1), (__magg_a, __magg_x) -> " +
            "__magg_a + __magg_x)"
          case "avg" => s"aggregate(transform($fi, __magg_x -> " +
            s"CAST(__magg_x AS DOUBLE)), 0.0D, " +
            s"(__magg_a, __magg_x) -> __magg_a + __magg_x) / size($fi)"
          case "median" => pctl(params.headOption.getOrElse("0.5"))
          case "percentile" => pctl(params.headOption.getOrElse(
            throw new IllegalArgumentException(
              "AggregationFactory('percentile') needs the level parameter")))
          case other => throw new IllegalArgumentException(
            s"MULTI_AGGREGATE_BY supports count/min/max/sum/avg/median/" +
              s"percentile factories, got: $other")
        }
        // size(NULL) = -1 in Spark: NULL lists must not poison the
        // shortest-length rule (collect_list skips the rows; min must too)
        val minLen = s"min(CASE WHEN $ex IS NULL THEN NULL " +
          s"ELSE size($ex) END)"
        s"CASE WHEN $minLen < 1 THEN array() ELSE " +
          s"transform(sequence(1, $minLen), __magg_i -> $perIndex) END"
      })
    lowerAggregateBy(sql.substring(0, m.start) + repl +
      sql.substring(close + 1))
  }

  /** YQL's 0-based tuple element access `t.0` (docs
    * types/containers.md — tuples index with a dot and a 0-based
    * literal) onto the engine's canonical `_1.._n` struct fields
    * (what [[registerAll]]'s AsTuple builds): `expr.K` → `expr._{K+1}`
    * when `expr` ends in an identifier, `)` or `]`. A preceding run of
    * pure digits stays a numeric literal (`1.5`, `1.0e3`); nested
    * accesses (`t.0.1`) resolve through the fixpoint. */
  private def tupleAccess(sql: String): String = {
    def pass(s: String): String = {
      val masked = SqlText.mask(s)
      val sb = new StringBuilder
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        if (c == '.' && masked.charAt(i) == '.' && i + 1 < s.length &&
            s.charAt(i + 1).isDigit && i > 0) {
          val prev = s.charAt(i - 1)
          val isAccess =
            if (prev == ')' || prev == ']') true
            else if (SqlText.isIdent(prev)) {
              var j = i - 1
              while (j >= 0 && SqlText.isIdent(s.charAt(j))) j -= 1
              !s.substring(j + 1, i).forall(_.isDigit)
            } else false
          var e = i + 1
          while (e < s.length && s.charAt(e).isDigit) e += 1
          val after = if (e < s.length) s.charAt(e) else ' '
          if (isAccess && !SqlText.isIdent(after)) {
            sb.append("._").append(s.substring(i + 1, e).toInt + 1)
            i = e
          } else { sb.append(c); i += 1 }
        } else { sb.append(c); i += 1 }
      }
      sb.toString
    }
    var cur = sql
    var next = pass(cur)
    while (next != cur) { cur = next; next = pass(cur) }
    cur
  }

  private val hopWmCounter = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Streaming `GROUP BY HOP`: when the statement's FROM names a
    * STREAMING temp view, the validated `delay` argument becomes the
    * frame's WATERMARK before the textual lowering turns HOP into
    * `window()` — the source re-registers with a derived `__hop_te`
    * event-time column watermarked by `delay`, and HOP groups on that
    * column, so rows later than `delay` are dropped and window state
    * evicts as the watermark advances (the mkql_multihopping.h delay
    * contract, same eviction the typed Streams.hoppingWindow path
    * uses). Batch frames pass through untouched: their rows are final,
    * so lowerHop validates and drops delay there. Bails conservatively
    * (leaving batch semantics) on unresolvable shapes: named-$ args,
    * subquery FROM, non-streaming sources. */
  private[functions] def hopStreamRewrite(spark: SparkSession,
      sql0: String): String = {
    val masked = SqlText.mask(sql0)
    val m = SqlText.re("(?i)\\bHOP\\s*\\(").findFirstMatchIn(masked)
      .getOrElse(return sql0)
    val close =
      try SqlText.matchBracket(sql0, m.end - 1)
      catch { case _: IllegalArgumentException => return sql0 }
    val args = SqlText.split(sql0.substring(m.end, close))
      .map(_.trim)
    if (args.length != 4 || args.exists(_.contains("$"))) return sql0
    val delay =
      try YqlScript.isoInterval(args(3), "HOP", "delay")
      catch { case _: IllegalArgumentException => return sql0 }
    // statement scope (masked ';' boundaries), then FROM <identifier>
    val stmtStart = masked.lastIndexOf(';', m.start) + 1
    val stmtEnd = {
      val e = masked.indexOf(';', m.start)
      if (e < 0) sql0.length else e
    }
    val stmt = sql0.substring(stmtStart, stmtEnd)
    val fromAt = SqlText.findKw(stmt, "FROM")
    if (fromAt < 0) return sql0
    val afterFrom = stmt.substring(fromAt + 4)
    val leadWs = afterFrom.indexWhere(!_.isWhitespace)
    if (leadWs < 0) return sql0
    val src = SqlText.re("^([A-Za-z_][A-Za-z0-9_]*)\\b")
      .findFirstMatchIn(afterFrom.substring(leadWs))
      .map(_.group(1)).getOrElse(return sql0)
    val streaming =
      try spark.table(src).isStreaming catch { case _: Exception => false }
    if (!streaming) return sql0
    val wm = spark.table(src)
      .withColumn("__hop_te",
        org.apache.spark.sql.functions.expr(rewrite(args.head)))
      .withWatermark("__hop_te", s"${delay.toMillis} milliseconds")
    val view = s"graft_hopwm_${hopWmCounter.incrementAndGet()}"
    wm.createOrReplaceTempView(view)
    val srcAbs = stmtStart + fromAt + 4 + leadWs
    val newArgs = ("__hop_te" +: args.tail).mkString(", ")
    sql0.substring(0, srcAbs) + view +
      sql0.substring(srcAbs + src.length, m.end) + newArgs +
      sql0.substring(close)
  }

  /** Run a YQL-spelled SQL string or SCRIPT: statement-level
    * constructs ($name bindings, lambda bindings, FLATTEN BY,
    * SELECT * WITHOUT, PRAGMA) lower through [[YqlScript]], module
    * calls through [[rewrite]], then Catalyst parses the result. A
    * multi-statement script evaluates to its last SELECT. */
  def sql(spark: SparkSession, query: String,
      params: Map[String, String] = Map.empty,
      libraries: Map[String, String] = Map.empty): DataFrame = {
    registerAll(spark)
    // module-call spellings + FROM-position table-path functions
    // (RANGE/EACH/CONCAT/FOLDER/LIKE/REGEXP — YqlTablePaths) +
    // index reads `FROM t VIEW idx` (SQLv1.g.in:952 table_ref's VIEW
    // suffix): the read targets the INDEX table itself — an index-only
    // scan, sorted by the indexed columns so predicates on them prune
    // row groups; columns outside the index error at analysis, like
    // the reference's covered-column check
    def full(s: String): String =
      SessionLambda.rewrite(spark, MatchRecognizeSql.rewrite(spark,
        viewRewrite(spark, YqlTablePaths.rewrite(spark, rewrite(s)))))
    // EVALUATE IF conditions fold through Catalyst: a constant boolean
    // expression evaluated once at lowering time (matching the
    // reference's evaluation phase)
    // comments are whitespace: they go once, here, so no pass below
    // scans or splices one
    val lowered = YqlScript.lower(
        hopStreamRewrite(spark, SqlText.dropComments(query)),
        params, Some { cond =>
      val r = spark.sql(s"SELECT CAST((${rewrite(cond)}) AS BOOLEAN) AS c").head
      !r.isNullAt(0) && r.getBoolean(0)
    }, libraries)
    // UNION [ALL] mode (select.cpp:2846-2852): by NAME unless
    // PRAGMA PositionalUnionAll selects ANSI positional mode.
    // lowerUnions analyzes branch shapes through Catalyst (schema
    // only — no job) and aligns columns; identical branch shapes
    // pass through untouched.
    val positional =
      lowered.pragmas.exists(_.trim.equalsIgnoreCase("PositionalUnionAll"))
    // PRAGMA DistinctOverWindow gates agg(DISTINCT) OVER w exactly like
    // the reference; the lowering raises without it
    val distinctWin =
      lowered.pragmas.exists(_.trim.equalsIgnoreCase("DistinctOverWindow"))
    def analyze(b: String): Seq[(String, org.apache.spark.sql.types.DataType)] =
      spark.sql(b).schema.fields.toSeq.map(f => f.name -> f.dataType)
    def unions(s: String): String = YqlScript.lowerUnions(
      YqlScript.lowerFlattenColumns(
        YqlScript.lowerDistinctOverWindow(s, distinctWin), analyze),
      positional, analyze)
    // DISCARD statements type-check (spark.sql analyzes eagerly) but
    // never execute or produce a result — the reference's validation
    // spelling
    lowered.discards.foreach(s => spark.sql(unions(full(s))))
    // SOURCE order: a write (INSERT/DML/DDL) must complete before a
    // later SELECT that reads its target (spark.sql executes these
    // eagerly). The script evaluates to its last SELECT; an all-write
    // script returns an empty frame (the write IS the result).
    // A DML statement with RETURNING produces a result set (the
    // affected rows), so it participates in "the script evaluates to
    // its last result" exactly like a SELECT.
    var last: Option[DataFrame] = None
    def ret(r: Option[DataFrame]): Unit = r.foreach(df => last = Some(df))
    lowered.stmts.foreach {
      case YqlScript.SelectStmt(s) => last = Some(spark.sql(unions(full(s))))
      case YqlScript.PipeStmt(s, command, inline, inDelim, outDelim) =>
        // Streaming::Process[Inline]: one external process per
        // partition over the single string column of the source
        val src = spark.sql(unions(full(s)))
        require(src.schema.length == 1,
          "Streaming::Process expects a single string column; project " +
            s"one, got: ${src.schema.fieldNames.mkString(", ")}")
        val cmd = inline match {
          case Some(script) =>
            // ProcessInline (streaming_udf.cpp:729-765): the script
            // text lands in an executable temp file
            val f = java.nio.file.Files.createTempFile("graft_pipe", ".sh")
            java.nio.file.Files.writeString(f, script)
            f.toFile.setExecutable(true)
            f.toFile.deleteOnExit()
            Seq("/bin/sh", f.toString) ++ command
          case None => command
        }
        last = Some(graft.streaming.Streams.process(
          src, src.schema.fieldNames.head, cmd, inDelim, outDelim))
      case YqlScript.InsertStmt(s) =>
        // the union lowering applies to the SOURCE query of the
        // INSERT — never analyze the INSERT head itself (spark.sql
        // on a command would execute it)
        val f = full(s)
        val selAt = SqlText.findKw(f, "SELECT")
        val stmt = if (selAt < 0) f
          else f.substring(0, selAt) + unions(f.substring(selAt))
        // first write to an @anonymous table creates it (docs
        // select.md#temporary-tables — the table exists only for this
        // script run); later writes append/overwrite normally
        val anonTarget = "(?i)^INSERT\\s+(?:INTO|OVERWRITE\\s+TABLE)\\s+" +
          "(graft_anon_\\w+)"
        val create = anonTarget.r.findFirstMatchIn(stmt)
          .map(_.group(1)).filter(t => !spark.catalog.tableExists(t))
        create match {
          case Some(t) =>
            val body = stmt.substring(stmt.indexOf(t) + t.length).trim
            require(!body.startsWith("("),
              "a column list on the FIRST write to an @anonymous " +
                "table is not supported (the write defines the schema)")
            spark.sql(s"CREATE TABLE $t USING parquet AS $body")
          case None => spark.sql(stmt)
        }
      case YqlScript.DdlStmt(s) => spark.sql(full(s))
      case YqlScript.IndexStmt(tgt, nm, cols, unique, drop) =>
        if (drop) YqlDml.dropIndex(spark, tgt, nm)
        else YqlDml.addIndex(spark, tgt, nm, cols, unique)
      case YqlScript.UpsertStmt(tgt, cols, src, repl, returning) =>
        ret(YqlDml.upsert(spark, tgt, spark.sql(unions(full(src))), cols,
          repl, returning))
      case YqlScript.InsertOrStmt(tgt, cols, src, mode, returning) =>
        ret(YqlDml.insertOr(spark, tgt, spark.sql(unions(full(src))), cols,
          mode, returning))
      case YqlScript.DeleteStmt(tgt, where, keySrc, returning) =>
        ret(YqlDml.delete(spark, tgt,
          where.map(w => org.apache.spark.sql.functions.expr(rewrite(w))),
          keySrc.map(k => spark.sql(unions(full(k)))), returning))
      case YqlScript.UpdateStmt(tgt, sets, where, keySrc, returning) =>
        keySrc match {
          case Some(k) =>
            ret(YqlDml.updateOn(spark, tgt, spark.sql(unions(full(k))),
              returning))
          case None => ret(YqlDml.update(spark, tgt,
            sets.map { case (c, e) =>
              c -> org.apache.spark.sql.functions.expr(rewrite(e)) },
            where.map(w => org.apache.spark.sql.functions.expr(rewrite(w))),
            returning))
        }
    }
    // @anonymous tables die with the script (the reference deletes its
    // temp directory on query completion): materialize the result off
    // the tables first — localCheckpoint cuts the lineage — then drop
    if (lowered.anonTables.nonEmpty) {
      last = last.map(_.localCheckpoint())
      lowered.anonTables.foreach(t => YqlDml.dropTableDeep(spark, t))
    }
    last.getOrElse(spark.emptyDataFrame)
  }

  /** `FROM t VIEW idx` → the registered index table (quote-masked
    * scanning; fixpoint over multiple occurrences). */
  private[functions] def viewRewrite(spark: SparkSession,
      sql: String): String = {
    val re = SqlText.re("(?i)\\b(FROM|JOIN)\\s+([A-Za-z_][A-Za-z0-9_.]*|`[^`]+`)" +
      "\\s+VIEW\\s+([A-Za-z_][A-Za-z0-9_]*)")
    val masked = SqlText.mask(sql)
    re.findFirstMatchIn(masked) match {
      case None => sql
      case Some(m) =>
        val target = sql.substring(m.start(2), m.end(2))
        val name = sql.substring(m.start(3), m.end(3))
        val idx = YqlDml.indexes(spark, target).getOrElse(name,
          throw new IllegalArgumentException(
            s"no index `$name` on $target (FROM ... VIEW reads a " +
            "registered secondary index)"))
        viewRewrite(spark, sql.substring(0, m.start) +
          sql.substring(m.start(1), m.end(1)) + " `" + idx._3 + "`" +
          sql.substring(m.end))
    }
  }

  def registerAll(spark: SparkSession): Unit = {
    // the Yson:: module lowers onto the QL registry's yson_* functions
    graft.functions.QLFunctions.registerAll(spark)
    val r = spark.sessionState.functionRegistry
    // once per session: repeat calls would churn the registry and log a
    // "replaced a previously registered function" WARN per name
    if (r.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier("digest_md5"))) return
    // Histogram:: post-processing + the struct-producing aggregates
    HistogramModule.register(spark)
    import org.apache.spark.sql.catalyst.expressions.Expression
    def cc(e: Expression): Column = S.column(e)
    def reg(name: String)(b: Seq[Expression] => Expression): Unit =
      r.createOrReplaceTempFunction(name, b, "built-in")
    def reg1(name: String)(f: Column => Column): Unit =
      reg(name)(es => S.convert(f(cc(es.head))))
    def reg2(name: String)(f: (Column, Column) => Column): Unit =
      reg(name)(es => S.convert(f(cc(es(0)), cc(es(1)))))
    // constant second/third args (patterns, separators, formats): the
    // reference types module calls at compile time, so non-foldable
    // arguments are an error, not a per-row evaluation
    def litStr(e: Expression, fn: String): String = {
      require(e.foldable, s"$fn requires a constant argument")
      val v = e.eval(null)
      require(v != null, s"$fn constant argument is null")
      v.toString
    }
    def reg1s(name: String)(f: (Column, String) => Column): Unit =
      reg(name)(es => S.convert(f(cc(es(0)), litStr(es(1), name))))
    def reg1ss(name: String)(f: (Column, String, String) => Column): Unit =
      reg(name)(es =>
        S.convert(f(cc(es(0)), litStr(es(1), name), litStr(es(2), name))))

    import YqlModules._
    import org.apache.spark.sql.functions.{atan2, ceil, exp, floor, lit,
      lower, upper}
    reg1("digest_md5")(Digest.md5)
    reg1("digest_sha256")(Digest.sha256)
    reg1("digest_crc32")(Digest.crc32)
    reg1("digest_xxh")(Digest.xxh)
    // MurMurHash family re-registered bit-exact below (DigestFnExpr)

    reg1("url_gethost")(Url.getHost)
    reg1("url_getpath")(Url.getPath)
    reg1("url_getscheme")(Url.getScheme)
    reg1s("url_getcgiparam")(Url.getCgiParam)
    reg1("yql__url_decode")(Url.decode)
    reg1("yql__url_encode")(Url.encode)
    reg1("url_gettld")(Url.getTld)
    reg1s("url_getdomain")((c, n) => Url.getDomain(c, n.toInt))
    reg1("url_getdomainlevel")(Url.getDomainLevel)
    reg1("url_cutwww")(Url.cutWww)
    reg1("url_cutscheme")(Url.cutScheme)
    reg1("url_getfragment")(Url.getFragment)
    reg1("url_gethostport")(Url.getHostPort)
    reg1("url_getport")(Url.getPort)
    reg1("url_getschemehost")(Url.getSchemeHost)
    reg1("url_getschemehostport")(Url.getSchemeHostPort)
    reg1("url_gettail")(Url.getTail)
    reg1("url_querystringtodict")(Url.queryStringToDict)
    reg1("url_querystringtolist")(Url.queryStringToList)
    // Url:: tail (url_base; UrlOps.scala)
    Seq("normalize", "normalizewithdefaulthttpscheme", "isknowntld",
      "iswellknowntld", "getsignificantdomain", "getowner", "cutwww2",
      "cutquerystringandfragment", "hostnametopunycode",
      "forcehostnametopunycode", "punycodetohostname",
      "forcepunycodetohostname", "canbepunycodehostname",
      "buildquerystring", "parse").foreach(fn =>
      reg(s"url_$fn")(es => UrlFnExpr(fn, es)))
    reg("url_isallowedbyrobotstxt")(_ =>
      throw new IllegalArgumentException(
        "Url::IsAllowedByRobotsTxt is not bound in this build (needs " +
          "the reference's packed robots.txt data format)"))
    reg1("digest_sha1")(Digest.sha1)
    reg1("digest_md5hex")(Digest.md5)
    // the Digest:: long tail (digest_udf.cpp) — bit-exact public
    // algorithms in DigestOps/FarmHash (the farmhash fingerprints are
    // the portable forever-fixed variants farmhash_iface.cc binds:
    // Fingerprint(ui64), Fingerprint(Uint128), mk::Hash32,
    // na::Hash64, cc Fingerprint128 = CityHash128)
    Seq("crc32c", "superfasthash", "fnv32", "fnv64", "siphash",
      "numerichash", "inthash64", "md5raw", "md5halfmix",
      "cityhash", "cityhash128", "farmhashfingerprint",
      "farmhashfingerprint2", "farmhashfingerprint32",
      "farmhashfingerprint64", "farmhashfingerprint128",
      "crc64", "murmurhash", "murmurhash32", "murmurhash2a",
      "murmurhash2a32", "blake2b", "xxh3", "xxh3_128", "argon2",
      "highwayhash").foreach(fn =>
      reg(s"digest_$fn")(es => DigestFnExpr(fn, es)))
    // PG's strpos(string, substring) (PgSql): Spark's `position` with
    // the arguments swapped, printed and named as `position`
    reg("strpos") { es =>
      require(es.length == 2, "strpos takes (string, substring)")
      val e = new org.apache.spark.sql.catalyst.expressions.StringLocate(
        es(1), es(0))
      e.setTagValue(org.apache.spark.sql.catalyst.analysis.FunctionRegistry
        .FUNC_ALIAS, "position")
      e
    }

    // ——— the struct-builtins family (struct.md; StructModule.scala).
    // AddMember/ExpandStruct/RemoveMember(s) ride Spark's own
    // UpdateFields (full codegen) behind the AssertFieldsExpr guard;
    // struct-producing results re-sort into the reference's canonical
    // lexicographic member order.
    locally {
      import org.apache.spark.sql.catalyst.expressions.{CreateNamedStruct,
        DropField, Literal, UpdateFields, WithField}
      import org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue
      import org.apache.spark.sql.catalyst.util.ArrayData
      import org.apache.spark.sql.types.StringType
      import org.apache.spark.unsafe.types.UTF8String
      def litStrings(e: Expression, fn: String): Seq[String] = {
        require(e.foldable, s"$fn requires a constant member-name list")
        val v = e.eval(null)
        require(v != null, s"$fn member-name list is null")
        v.asInstanceOf[ArrayData].toArray[UTF8String](StringType)
          .map(_.toString).toSeq
      }
      def litPairs(e: Expression, fn: String): Seq[(String, String)] = {
        require(e.foldable, s"$fn requires a constant rename-rule list")
        val arr = e.eval(null).asInstanceOf[ArrayData]
        (0 until arr.numElements()).map { i =>
          val r = arr.getStruct(i, 2)
          (r.getUTF8String(0).toString, r.getUTF8String(1).toString)
        }
      }
      reg("trymember")(es =>
        TryMemberExpr(es(0), litStr(es(1), "TryMember"), es(2)))
      reg("addmember") { es =>
        val n = litStr(es(1), "AddMember")
        SortStructExpr(UpdateFields(
          AssertFieldsExpr(es(0), Seq(n), mustExist = false, "AddMember"),
          Seq(WithField(n, es(2)))))
      }
      reg("yql_expandstruct") { es =>
        require(es.length >= 3 && es.length % 2 == 1,
          "ExpandStruct takes (struct, value AS name, ...)")
        val items = es.tail.grouped(2)
          .map(g => (litStr(g(0), "ExpandStruct"), g(1))).toSeq
        val dup = items.map(_._1).groupBy(identity)
          .collectFirst { case (n, g) if g.length > 1 => n }
        require(dup.isEmpty, s"ExpandStruct: duplicate member '${dup.get}'")
        SortStructExpr(UpdateFields(
          AssertFieldsExpr(es(0), items.map(_._1), mustExist = false,
            "ExpandStruct"),
          items.map { case (n, v) => WithField(n, v) }))
      }
      reg("removemember") { es =>
        val n = litStr(es(1), "RemoveMember")
        SortStructExpr(UpdateFields(
          AssertFieldsExpr(es(0), Seq(n), mustExist = true, "RemoveMember"),
          Seq(DropField(n))))
      }
      reg("forceremovemember") { es =>
        SortStructExpr(UpdateFields(es(0),
          Seq(DropField(litStr(es(1), "ForceRemoveMember")))))
      }
      reg("choosemembers") { es =>
        val names = litStrings(es(1), "ChooseMembers")
        require(names.nonEmpty, "ChooseMembers needs at least one member")
        CreateNamedStruct(names.sorted.flatMap(n =>
          Seq(Literal(n), UnresolvedExtractValue(es(0), Literal(n)))))
      }
      reg("removemembers") { es =>
        val names = litStrings(es(1), "RemoveMembers")
        SortStructExpr(UpdateFields(
          AssertFieldsExpr(es(0), names, mustExist = true, "RemoveMembers"),
          names.map(DropField.apply)))
      }
      reg("forceremovemembers") { es =>
        val names = litStrings(es(1), "ForceRemoveMembers")
        SortStructExpr(UpdateFields(es(0), names.map(DropField.apply)))
      }
      reg("combinemembers") { es =>
        require(es.length >= 2, "CombineMembers takes two or more structs")
        CombineMembersExpr(es, es.map(_ => ""), "CombineMembers")
      }
      reg("flattenmembers") { es =>
        require(es.length >= 2,
          "FlattenMembers takes two or more (prefix, struct) tuples")
        val parts = es.map {
          case cns: CreateNamedStruct if cns.valExprs.length == 2 &&
              cns.valExprs.head.foldable =>
            (String.valueOf(cns.valExprs.head.eval(null)), cns.valExprs(1))
          case other => throw new IllegalArgumentException(
            "FlattenMembers arguments must be AsTuple(prefix, struct) " +
              s"with a constant prefix, got ${other.sql}")
        }
        CombineMembersExpr(parts.map(_._2), parts.map(_._1),
          "FlattenMembers")
      }
      reg("listunionall") { es =>
        require(es.length >= 2, "ListUnionAll takes two or more lists")
        ListUnionAllExpr(es)
      }
      reg("structmembers")(es => StructMembersExpr(es.head))
      // StaticMap / StaticZip (basic.md): member-wise lambda / zip
      reg("staticmap") { es =>
        require(es.length == 2, "StaticMap takes (struct, lambda)")
        org.apache.spark.sql.graft.StaticMapExpr(es(0), es(1))
      }
      reg("staticzip") { es =>
        require(es.nonEmpty, "StaticZip takes one or more structs")
        StaticZipExpr(es)
      }
      reg("gathermembers")(es => GatherMembersExpr(es.head))
      reg("renamemembers")(es => RenameMembersExpr(es(0),
        litPairs(es(1), "RenameMembers"), force = false))
      reg("forcerenamemembers")(es => RenameMembersExpr(es(0),
        litPairs(es(1), "ForceRenameMembers"), force = true))
      reg("spreadmembers")(es => SpreadMembersExpr(es(0),
        litStrings(es(1), "SpreadMembers"), force = false))
      reg("forcespreadmembers")(es => SpreadMembersExpr(es(0),
        litStrings(es(1), "ForceSpreadMembers"), force = true))
      // ——— the type-introspection module (builtins/types.md). A TYPE
      // VALUE in this engine is its canonical YQL type text: every
      // constructor/accessor is a compile-time text transform, TypeOf
      // reads the child's resolved Spark type through the bijection,
      // and a TypeHandle IS the same text (the reference splits the
      // compile-time and runtime representations; one canonical text
      // serves both here, so EvaluateType/ParseTypeHandle compose).
      locally {
        import org.apache.spark.sql.catalyst.expressions.{CreateArray,
          Literal}
        import org.apache.spark.sql.types.StringType
        import org.apache.spark.unsafe.types.UTF8String
        def litT(s: String): Expression =
          Literal(UTF8String.fromString(s), StringType)
        // TEXTUAL canonicalization (capitalization, ? → Optional<>,
        // recursive over composites) — parse() validates but its
        // containsNull defaults must not leak Optional<> into the text
        val simpleNames = Seq("Bool", "Int8", "Int16", "Int32", "Int64",
          "Uint8", "Uint16", "Uint32", "Uint64", "Float", "Double",
          "String", "Utf8", "Json", "Uuid", "Date", "Datetime",
          "Timestamp", "Interval", "Null")
          .map(n => n.toLowerCase -> n).toMap
        def canon(s0: String): String = {
          val s = s0.trim
          val low = s.toLowerCase
          def inner(p: String) = s.substring(p.length + 1, s.length - 1)
          def wrap(p: String) =
            s"$p<${EnsureTypeExpr.splitTop(inner(p)).map(canon).mkString(",")}>"
          if (s.endsWith("?")) s"Optional<${canon(s.dropRight(1))}>"
          else if (low.startsWith("optional<")) wrap("Optional")
          else if (low.startsWith("list<")) wrap("List")
          else if (low.startsWith("stream<")) s"List<${canon(inner("Stream"))}>"
          else if (low.startsWith("dict<")) wrap("Dict")
          else if (low.startsWith("tuple<")) wrap("Tuple")
          else if (low.startsWith("struct<") || low.startsWith("variant<")) {
            val p = if (low.startsWith("struct<")) "Struct" else "Variant"
            p + "<" + EnsureTypeExpr.splitTop(inner(p)).map { m =>
              val i = m.indexOf(':')
              if (i > 0 && !m.substring(0, i).contains("<"))
                s"${m.substring(0, i).trim.stripPrefix("'").stripSuffix("'")}:" +
                  canon(m.substring(i + 1))
              else canon(m)
            }.mkString(",") + ">"
          } else simpleNames.getOrElse(low, {
            EnsureTypeExpr.parse(s) // validates or raises
            s
          })
        }
        // validate the whole text once (raises on malformed types)
        def canonV(s: String): String = {
          EnsureTypeExpr.parse(s); canon(s)
        }
        def peel(s0: String, prefix: String, fn: String): String = {
          val s = s0.trim
          require(s.toLowerCase.startsWith(prefix.toLowerCase + "<") &&
            s.endsWith(">"), s"$fn expects a $prefix<...> type, got $s0")
          s.substring(prefix.length + 1, s.length - 1).trim
        }
        def tyArg(es: Seq[Expression], i: Int, fn: String): String =
          litStr(es(i), fn).trim
        reg("typeof")(es => TypeOfExpr(es.head))
        reg("formattype")(es => es.head)
        reg("formattypediff")(es => es.head) // diff of equal texts = text
        reg("parsetype")(es => litT(canonV(tyArg(es, 0, "ParseType"))))
        reg("instanceof")(es => Literal.create(null,
          EnsureTypeExpr.parse(tyArg(es, 0, "InstanceOf"))))
        reg("datatype")(es => litT(canonV(tyArg(es, 0, "DataType"))))
        reg("optionaltype")(es =>
          litT(s"Optional<${tyArg(es, 0, "OptionalType")}>"))
        reg("listtype")(es => litT(s"List<${tyArg(es, 0, "ListType")}>"))
        reg("streamtype")(es => litT(s"List<${tyArg(es, 0, "StreamType")}>"))
        reg("dicttype")(es => litT(
          s"Dict<${tyArg(es, 0, "DictType")},${tyArg(es, 1, "DictType")}>"))
        reg("settype")(es => litT(s"List<${tyArg(es, 0, "SetType")}>"))
        reg("tupletype")(es => litT("Tuple<" + es.indices.map(i =>
          tyArg(es, i, "TupleType")).mkString(",") + ">"))
        // StructType(Type AS Name, ...) — the AS sugar lowers to
        // alternating ('Name', type) arguments (structSugar)
        reg("yql_structtype") { es =>
          require(es.length % 2 == 0, "StructType takes Type AS Name items")
          litT("Struct<" + es.grouped(2).map(g =>
            s"${litStr(g(0), "StructType")}:${litStr(g(1), "StructType")}")
            .mkString(",") + ">")
        }
        reg("varianttype") { es =>
          val t = tyArg(es, 0, "VariantType")
          val low = t.toLowerCase
          val inner =
            if (low.startsWith("struct<")) peel(t, "Struct", "VariantType")
            else if (low.startsWith("tuple<")) peel(t, "Tuple", "VariantType")
            else throw new IllegalArgumentException(
              s"VariantType expects a Struct<> or Tuple<> type, got $t")
          litT(s"Variant<$inner>")
        }
        reg("optionalitemtype") { es =>
          val t = tyArg(es, 0, "OptionalItemType")
          litT(if (t.endsWith("?")) t.dropRight(1).trim
            else peel(t, "Optional", "OptionalItemType"))
        }
        reg("listitemtype")(es =>
          litT(peel(tyArg(es, 0, "ListItemType"), "List", "ListItemType")))
        reg("streamitemtype")(es =>
          litT(peel(tyArg(es, 0, "StreamItemType"), "List",
            "StreamItemType")))
        def dictPart(es: Seq[Expression], i: Int, fn: String): String = {
          val parts = EnsureTypeExpr.splitTop(peel(tyArg(es, 0, fn),
            "Dict", fn))
          require(parts.length == 2, s"$fn: malformed Dict type")
          parts(i)
        }
        reg("dictkeytype")(es => litT(dictPart(es, 0, "DictKeyType")))
        reg("dictpayloadtype")(es =>
          litT(dictPart(es, 1, "DictPayloadType")))
        reg("tupleelementtype") { es =>
          val parts = EnsureTypeExpr.splitTop(peel(
            tyArg(es, 0, "TupleElementType"), "Tuple", "TupleElementType"))
          val i = litStr(es(1), "TupleElementType").trim.toInt
          require(i >= 0 && i < parts.length,
            s"TupleElementType: index $i out of ${parts.length}")
          litT(parts(i))
        }
        reg("structmembertype") { es =>
          val parts = EnsureTypeExpr.splitTop(peel(
            tyArg(es, 0, "StructMemberType"), "Struct", "StructMemberType"))
          val name = litStr(es(1), "StructMemberType").trim
          parts.collectFirst {
            case p if p.substring(0, math.max(p.indexOf(':'), 0)).trim
              .stripPrefix("'").stripSuffix("'") == name =>
              litT(p.substring(p.indexOf(':') + 1).trim)
          }.getOrElse(throw new IllegalArgumentException(
            s"StructMemberType: no member '$name'"))
        }
        reg("variantunderlyingtype") { es =>
          val inner = peel(tyArg(es, 0, "VariantUnderlyingType"),
            "Variant", "VariantUnderlyingType")
          litT(if (EnsureTypeExpr.splitTop(inner).forall(_.contains(":")))
            s"Struct<$inner>" else s"Tuple<$inner>")
        }
        reg("typekind") { es =>
          val t = tyArg(es, 0, "TypeKind")
          val low = t.toLowerCase
          val kind = Seq("Optional", "List", "Dict", "Tuple", "Struct",
            "Variant", "Stream", "Enum", "Tagged")
            .find(k => low.startsWith(k.toLowerCase + "<"))
            .getOrElse(if (low == "null") "Null" else "Data")
          litT(kind)
        }
        // TypeHandle family: one canonical text serves both worlds
        reg("typehandle")(es => es.head)
        reg("evaluatetype")(es => es.head)
        reg("parsetypehandle")(es =>
          litT(canonV(tyArg(es, 0, "ParseTypeHandle"))))
        reg("formattypehandle")(es => es.head)
        reg("datatypehandle")(es =>
          litT(canonV(tyArg(es, 0, "DataTypeHandle"))))
        reg("optionaltypehandle")(es =>
          litT(s"Optional<${tyArg(es, 0, "OptionalTypeHandle")}>"))
        reg("listtypehandle")(es =>
          litT(s"List<${tyArg(es, 0, "ListTypeHandle")}>"))
        reg("streamtypehandle")(es =>
          litT(s"List<${tyArg(es, 0, "StreamTypeHandle")}>"))
        reg("emptylisttypehandle")(_ => litT("EmptyList"))
        reg("emptydicttypehandle")(_ => litT("EmptyDict"))
        reg("tupletypecomponents")(es => CreateArray(
          EnsureTypeExpr.splitTop(peel(tyArg(es, 0, "TupleTypeComponents"),
            "Tuple", "TupleTypeComponents")).map(litT)))
        reg("datatypecomponents")(es => CreateArray(Seq(
          litT(canonV(tyArg(es, 0, "DataTypeComponents"))))))
      }

      // Variant / AsVariant / Enum / AsEnum / AsTagged / Untag
      // (basic.md#variant, #enum, #as-tagged). The engine's variant
      // shape is struct<__tag, one nullable member per alternative>;
      // enum values are their tag strings; Tagged is type-level
      // metadata the bijection erases (the docs: "preserving the
      // physical data type").
      locally {
        import org.apache.spark.sql.types.{StringType, StructType}
        import org.apache.spark.unsafe.types.UTF8String
        reg("variant") { es =>
          require(es.length == 3, "Variant takes (value, name, type)")
          val name0 = litStr(es(1), "Variant")
          val t = EnsureTypeExpr.parse(litStr(es(2), "Variant"))
            .asInstanceOf[StructType]
          // tuple-variant index spelling: "0" names the first field
          val name = if (name0.forall(_.isDigit)) s"_${name0.toInt + 1}"
            else name0
          require(t.fieldNames.contains(name) && name != "__tag",
            s"Variant: '$name0' is not an alternative of ${t.simpleString}")
          CreateNamedStruct(t.fields.toSeq.flatMap { f =>
            Seq(Literal(f.name),
              if (f.name == "__tag") Literal(UTF8String.fromString(name),
                StringType)
              else if (f.name == name) es(0)
              else Literal.create(null, f.dataType))
          })
        }
        reg("asvariant") { es =>
          val name = litStr(es(1), "AsVariant")
          CreateNamedStruct(Seq(
            Literal("__tag"), Literal(UTF8String.fromString(name),
              StringType),
            Literal(name), es(0)))
        }
        reg("enum") { es =>
          require(es.length == 2, "Enum takes (name, type)")
          val name = litStr(es(0), "Enum")
          val typeText = litStr(es(1), "Enum").trim
          require(typeText.toLowerCase.startsWith("enum<") &&
            typeText.endsWith(">"), s"Enum needs an Enum<...> type")
          val members = typeText.substring(5, typeText.length - 1)
            .split(",").map(_.trim)
          require(members.contains(name),
            s"Enum: '$name' is not a member of $typeText")
          Literal(UTF8String.fromString(name), StringType)
        }
        reg("asenum")(es =>
          Literal(UTF8String.fromString(litStr(es.head, "AsEnum")),
            StringType))
        reg("astagged")(es => es.head)
        reg("untag")(es => es.head)
      }

      // AsStruct(e AS n, ...) — the struct constructor itself
      // (basic.md#asstruct); the AS-argument sugar lowers in
      // [[structSugar]] to alternating name/value arguments
      reg("yql_asstruct") { es =>
        require(es.length % 2 == 0, "AsStruct takes value AS name items")
        SortStructExpr(CreateNamedStruct(es.grouped(2).flatMap(g =>
          Seq(Literal(litStr(g(0), "AsStruct")), g(1))).toSeq))
      }
    }

    // CORRELATION/COVARIANCE (aggregation.md#correlation-covariance):
    // NULL counts as 0 per the docs (unlike Spark's pair-skipping
    // corr/covar), and the AggregationFactory form passes ONE Tuple
    // argument carrying both columns
    locally {
      import org.apache.spark.sql.functions.{coalesce, corr, covar_pop,
        covar_samp, lit}
      def corrLike(fn: (Column, Column) => Column)(es: Seq[Expression]): Expression = {
        def dz(c: Column) = coalesce(c.cast("double"), lit(0d))
        val (a, b) =
          if (es.length >= 2) (cc(es(0)), cc(es(1)))
          else (cc(es(0)).getField("_1"), cc(es(0)).getField("_2"))
        S.convert(fn(dz(a), dz(b)))
      }
      reg("yql_corr")(corrLike(corr))
      reg("yql_covar_samp")(corrLike(covar_samp))
      reg("yql_covar_pop")(corrLike(covar_pop))
    }

    // TOPFREQ/MODE (aggregation.md#topfreq-mode) — the [[aggSpellings]]
    // rewrite lands here; num/bufSize are compile-time constants like
    // the reference's typed UDAF parameters
    reg("yql_topfreq") { es =>
      require(es.nonEmpty, "TOPFREQ takes (value[, num[, bufSize]])")
      def lint(i: Int, dflt: Int): Int = if (es.length > i) {
        require(es(i).foldable, "TOPFREQ num/buffer must be constants")
        val v = es(i).eval(null)
        require(v != null, "TOPFREQ num/buffer constant is null")
        v.toString.toDouble.toInt
      } else dflt
      org.apache.spark.sql.graft.TopFreqAgg(es.head, lint(1, 1), lint(2, 100))
        .toAggregateExpression()
    }
    reg1("ip_isipv4")(Ip.isIPv4)
    reg1("ip_isipv6")(Ip.isIPv6)
    reg("ip_getsubnet")(es => S.convert(Ip.getSubnet(cc(es(0)),
      if (es.length > 1) litStr(es(1), "ip_getsubnet").toInt else 24)))
    reg1("ip_converttoipv6")(Ip.convertToIPv6)

    reg1("string_toupper")(Str.toUpper)
    reg1("string_tolower")(Str.toLower)
    reg1("string_strip")(Str.strip)
    reg1s("string_splittolist")(Str.splitToList)
    reg1s("string_joinfromlist")(Str.joinFromList)
    reg1ss("string_replaceall")(Str.replaceAll)
    reg1s("string_startswith")(Str.startsWith)
    reg1s("string_endswith")(Str.endsWith)

    // String:: breadth (docs udf/list/string.md)
    reg1s("string_contains")(Str.contains)
    reg1s("string_find")(Str.find)
    reg1s("string_reversefind")(Str.reverseFind)
    reg1s("string_hasprefix")(Str.startsWith)
    reg1s("string_hassuffix")(Str.endsWith)
    reg1s("string_hasprefixignorecase")((c, p) =>
      Str.startsWith(lower(c), p.toLowerCase))
    reg1s("string_hassuffixignorecase")((c, p) =>
      Str.endsWith(lower(c), p.toLowerCase))
    reg1s("string_startswithignorecase")((c, p) =>
      Str.startsWith(lower(c), p.toLowerCase))
    reg1s("string_endswithignorecase")((c, p) =>
      Str.endsWith(lower(c), p.toLowerCase))
    reg1("string_asciitolower")(lower)
    reg1("string_asciitoupper")(upper)
    reg1("string_reverse")(Str.reverse)
    reg("string_substring")(es => S.convert(Str.substring(cc(es(0)),
      cc(es(1)), if (es.length > 2) cc(es(2)) else lit(Int.MaxValue))))
    reg2("string_levensteindistance")(Str.levensteinDistance)
    reg("string_leftpad")(es => S.convert(Str.leftPad(cc(es(0)), cc(es(1)),
      if (es.length > 2) litStr(es(2), "string_leftpad") else " ")))
    reg("string_rightpad")(es => S.convert(Str.rightPad(cc(es(0)), cc(es(1)),
      if (es.length > 2) litStr(es(2), "string_rightpad") else " ")))
    reg1s("string_removeall")(Str.removeAll)
    reg1ss("string_replacefirst")(Str.replaceFirst)
    reg1ss("string_replacelast")(Str.replaceLast)
    reg1("string_collapse")(Str.collapse)
    reg1("string_hexencode")(Str.hexEncode)
    reg1("string_hexdecode")(Str.hexDecode)
    reg1("string_isascii")(Str.isAscii)
    reg1("string_isasciialpha")(Str.isAsciiAlpha)
    reg1("string_isasciialnum")(Str.isAsciiAlnum)
    reg1("string_isasciihex")(Str.isAsciiHex)
    reg1("string_isasciilower")(Str.isAsciiLower)
    reg1("string_isasciiupper")(Str.isAsciiUpper)
    reg1("string_isasciispace")(Str.isAsciiSpace)

    // String:: formatting/escaping tail (string_udf.cpp; StringOps.scala)
    Seq("escapec", "unescapec", "encodehtml", "decodehtml", "cgiescape",
      "cgiunescape", "collapsetext", "hex", "shex", "bin", "sbin",
      "hextext", "bintext", "humanreadablebytes", "humanreadablequantity",
      "humanreadableduration", "prec", "base64decode", "base64strictdecode",
      "removefirst", "removelast", "asciitotitle", "tobytelist",
      "frombytelist").foreach(fn =>
      reg(s"string_$fn")(es => StringFnExpr(fn, es)))
    reg1("string_base64encode")(c => org.apache.spark.sql.functions
      .base64(c.cast(org.apache.spark.sql.types.BinaryType)))

    reg1("math_sqrt")(Math.sqrt)
    reg1("math_log")(Math.log)
    reg1("math_abs")(Math.abs)
    reg1("math_sigmoid")(Math.sigmoid)
    reg2("math_pow")(Math.pow)
    reg("math_round")(es => S.convert(
      if (es.length > 1) Math.round(cc(es(0)), litStr(es(1), "math_round").toInt)
      else Math.round(cc(es(0)))))

    // Math:: breadth (docs udf/list/math.md); trig/hyperbolic map to
    // the Spark builtins of the same name
    def alias2(yql: String, spark: String): Unit =
      reg(yql)(es => org.apache.spark.sql.catalyst.analysis
        .UnresolvedFunction(Seq(spark), es, isDistinct = false))
    reg("math_pi")(_ => S.convert(Math.pi()))
    reg("math_e")(_ => S.convert(Math.e()))
    reg("math_eps")(_ => S.convert(Math.eps()))
    reg1("math_exp")(exp)
    reg1("math_exp2")(Math.exp2)
    reg1("math_ln")(org.apache.spark.sql.functions.log)
    reg1("math_log2")(Math.log2)
    reg1("math_log10")(Math.log10)
    reg1("math_ceil")(ceil)
    reg1("math_floor")(floor)
    reg1("math_trunc")(Math.trunc)
    reg1("math_rint")(Math.rint)
    reg1("math_nearbyint")(Math.rint)
    reg1("math_cbrt")(Math.cbrt)
    reg1("math_fabs")(org.apache.spark.sql.functions.abs)
    reg2("math_fmod")(Math.fmod)
    reg2("math_hypot")(Math.hypot)
    reg2("math_ldexp")(Math.ldexp)
    reg2("math_atan2")(atan2)
    for (n <- Seq("sin", "cos", "tan", "asin", "acos", "atan",
        "sinh", "cosh", "tanh", "asinh", "acosh", "atanh"))
      alias2(s"math_$n", n)
    reg1("math_isnan")(Math.isNaN)
    reg1("math_isinf")(Math.isInf)
    reg1("math_isfinite")(Math.isFinite)
    reg("math_fuzzyequals")(es => S.convert(Math.fuzzyEquals(cc(es(0)),
      cc(es(1)), if (es.length > 2) cc(es(2)) else lit(1e-13))))
    reg2("math_mod")(Math.mod)
    reg2("math_rem")(Math.rem)
    // Math:: special-function tail (math_udf.cpp; MathOps.scala)
    Seq("erf", "erfinv", "erfcinv", "lgamma", "tgamma", "remainder")
      .foreach(fn => reg(s"math_$fn")(es => MathFnExpr(fn, es)))


    reg1("unicode_getlength")(Unicode.getLength)
    reg1("unicode_tolower")(Unicode.toLower)
    reg1("unicode_toupper")(Unicode.toUpper)
    reg1("unicode_totitle")(Unicode.toTitle)
    reg1("unicode_strip")(Unicode.strip)
    reg1s("unicode_find")(Unicode.find)
    reg1("unicode_isalpha")(Unicode.isAlpha)
    reg1("unicode_isdigit")(Unicode.isDigit)
    reg1("unicode_isalnum")(Unicode.isAlnum)
    reg1("unicode_isspace")(Unicode.isSpace)
    reg1("unicode_islower")(Unicode.isLower)
    reg1("unicode_isupper")(Unicode.isUpper)
    reg1("unicode_reverse")(Unicode.reverse)
    reg1("unicode_normalize")(Unicode.normalize)
    reg(name = "unicode_substring")(es =>
      S.convert(Unicode.substring(cc(es(0)), cc(es(1)), cc(es(2)))))
    // Unicode:: tail (unicode_base_udf.h; UnicodeOps.scala)
    Seq("normalizenfc", "normalizenfd", "normalizenfkc", "normalizenfkd",
      "fold", "isutf", "isascii", "ishex", "isunicodeset", "rfind",
      "replaceall", "replacefirst", "replacelast", "removeall",
      "removefirst", "removelast", "tocodepointlist", "fromcodepointlist",
      "splittolist", "joinfromlist", "levensteindistance", "touint64",
      "trytouint64").foreach(fn =>
      reg(s"unicode_$fn")(es => UnicodeFnExpr(fn, es)))
    reg("unicode_translit")(_ => throw new IllegalArgumentException(
      "Unicode::Translit is not bound in this build (needs the " +
        "reference's per-language transliteration tables)"))

    reg1("datetime_getyear")(DateTime.getYear)
    reg1("datetime_getmonth")(DateTime.getMonth)
    reg1("datetime_getdayofmonth")(DateTime.getDayOfMonth)
    reg1("datetime_getdayofweek")(DateTime.getDayOfWeek)
    reg1("datetime_gethour")(DateTime.getHour)
    reg1("datetime_getminute")(DateTime.getMinute)
    reg1("datetime_startofyear")(DateTime.startOfYear)
    reg1("datetime_startofmonth")(DateTime.startOfMonth)
    reg1("datetime_startofweek")(DateTime.startOfWeek)
    reg1("datetime_startofday")(DateTime.startOfDay)
    reg1("datetime_fromseconds")(DateTime.fromSeconds)
    reg1("datetime_toseconds")(DateTime.toSeconds)
    reg1s("datetime_format")(DateTime.format)
    reg1s("datetime_parse")(DateTime.parse)
    reg2("datetime_intervaldays")(DateTime.intervalDays)
    reg("datetime_makedate")(es =>
      S.convert(DateTime.makeDate(cc(es(0)), cc(es(1)), cc(es(2)))))
    reg1("datetime_getsecond")(DateTime.getSecond)
    reg1("datetime_getdayofyear")(DateTime.getDayOfYear)
    reg1("datetime_getweekofyear")(DateTime.getWeekOfYearIso)
    reg1("datetime_getweekofyeariso")(DateTime.getWeekOfYearIso)
    reg1("datetime_getmonthname")(DateTime.getMonthName)
    reg1("datetime_getdayofweekname")(DateTime.getDayOfWeekName)
    reg1("datetime_gettimezonename")(DateTime.getTimezoneName)
    reg1("datetime_frommilliseconds")(DateTime.fromMilliseconds)
    reg1("datetime_frommicroseconds")(DateTime.fromMicroseconds)
    reg1("datetime_tomilliseconds")(DateTime.toMilliseconds)
    reg1("datetime_tomicroseconds")(DateTime.toMicroseconds)
    reg1("datetime_todays")(DateTime.toDays)
    reg1("datetime_tohours")(DateTime.toHours)
    reg1("datetime_tominutes")(DateTime.toMinutes)
    reg1("datetime_startofquarter")(DateTime.startOfQuarter)
    reg1("datetime_endofmonth")(DateTime.endOfMonth)
    reg("datetime_makedatetime")(es => S.convert(DateTime.makeDatetime(
      cc(es(0)), cc(es(1)), cc(es(2)), cc(es(3)), cc(es(4)), cc(es(5)))))
    reg("datetime_maketimestamp")(es => S.convert(DateTime.makeDatetime(
      cc(es(0)), cc(es(1)), cc(es(2)), cc(es(3)), cc(es(4)), cc(es(5)))))
    reg1s("datetime_shiftyears")((c, n) => DateTime.shiftYears(c, n.toInt))
    reg1s("datetime_shiftquarters")((c, n) =>
      DateTime.shiftQuarters(c, n.toInt))
    reg1s("datetime_shiftmonths")((c, n) => DateTime.shiftMonths(c, n.toInt))
    reg1("datetime_intervalfromdays")(DateTime.intervalFromDays)
    reg1("datetime_intervalfromhours")(DateTime.intervalFromHours)
    reg1("datetime_intervalfromminutes")(DateTime.intervalFromMinutes)
    reg1("datetime_intervalfromseconds")(DateTime.intervalFromSeconds)

    reg1s("json_value")(Json.value)
    reg1s("json_exists")(Json.exists)
    reg1s("json_query")(Json.query)
    // placeholder spellings the JSON_VALUE/EXISTS/QUERY clause lowering
    // emits (lowerJsonSql) — same kernels, names the scanner skips
    reg1s("yql__json_value")(Json.value)
    reg1s("yql__json_exists")(Json.exists)
    reg1s("yql__json_query")(Json.query)
    reg1s("json_valueint")(Json.valueInt)
    reg1s("json_valuedouble")(Json.valueDouble)

    // Compress::/Decompress::/TryDecompress:: (compress_udf.cpp module
    // triple) — the codecs with JVM bindings: JDK deflate family plus
    // the zstd-jni/snappy-java jars Spark itself ships. The reference's
    // remaining codecs (Brotli/Lzma/BZip2/Xz) have no codec on this
    // classpath and raise naming the codec at analysis time.
    locally {
      import org.apache.spark.sql.catalyst.expressions.Cast
      import org.apache.spark.sql.types.BinaryType
      def codec(name: String, fn: String, tryMode: Boolean): Unit =
        reg(name)(es => {
          require(es.nonEmpty, s"$name needs the data argument")
          Compress.CodecFnExpr(fn, tryMode,
            Cast(es.head, BinaryType) +: es.tail)
        })
      codec("compress_gzip", "gzip", tryMode = false)
      codec("compress_zlib", "zlib", tryMode = false)
      codec("compress_zstd", "zstd", tryMode = false)
      codec("compress_snappy", "snappy", tryMode = false)
      codec("decompress_gzip", "ungzip", tryMode = false)
      codec("decompress_zlib", "unzlib", tryMode = false)
      codec("decompress_zstd", "unzstd", tryMode = false)
      codec("decompress_snappy", "unsnappy", tryMode = false)
      codec("trydecompress_gzip", "ungzip", tryMode = true)
      codec("trydecompress_zlib", "unzlib", tryMode = true)
      codec("trydecompress_zstd", "unzstd", tryMode = true)
      codec("trydecompress_snappy", "unsnappy", tryMode = true)
      for (m <- Seq("compress", "decompress", "trydecompress");
           c <- Seq("brotli", "lzma", "bzip2", "xz")
           if !(m == "compress" && c == "xz"))
        reg(s"${m}_$c")(_ => throw new IllegalArgumentException(
          s"$m::$c is not bound in this build (no JVM codec on the " +
            "Spark classpath); available: Gzip, Zlib, Zstd, Snappy"))
    }

    // Stat:: t-digest (stat_udf.h): the Create/AddValue/Merge resource
    // verbs are aggregation in a declarative engine — Stat::TDigest is
    // the build aggregate, TDigest_Merge the sketch-rollup aggregate;
    // Serialize/Deserialize are identity because the engine's sketch
    // COLUMN representation already is the serialized wire form.
    reg("stat_tdigest")(es => {
      require(es.nonEmpty && es.length <= 3,
        "Stat::TDigest takes (value[, delta[, k]])")
      val delta = if (es.length > 1) litStr(es(1), "stat_tdigest").toDouble
        else TDigestSketch.DefaultDelta
      val k = if (es.length > 2) litStr(es(2), "stat_tdigest").toDouble
        else TDigestSketch.DefaultK
      S.convert(TDigestSketch.agg(cc(es.head).cast("double"), delta, k))
    })
    reg1("stat_tdigest_merge")(c => TDigestSketch.mergeAgg(c))
    reg2("stat_tdigest_getpercentile")((s, p) =>
      TDigestSketch.percentileOf(s, p.cast("double")))
    reg2("stat_tdigest_getrank")((s, v) =>
      TDigestSketch.rankOf(s, v.cast("double")))
    reg("stat_tdigest_serialize")(es => es.head)
    reg("stat_tdigest_deserialize")(es => es.head)

    reg1("ip_fromstring")(Ip.fromString)
    reg1("ip_tostring")(Ip.toString)
    reg1("ip_isprivate")(Ip.isPrivate)
    reg1("ip_isembeddedipv4")(Ip.isEmbeddedIPv4)

    reg1s("pire_match")(Pire.matches)
    reg1s("pire_grep")(Pire.grep)
    reg1s("pire_capture")(Pire.capture)
    // BacktrackingGrep/Match: the reference swaps the regex ENGINE
    // (pire's DFA limits vs full backtracking); the JVM engine here is
    // already backtracking, so the observable contract is Grep/Match
    reg1s("pire_backtrackinggrep")(Pire.grep)
    reg1s("pire_backtrackingmatch")(Pire.matches)
    // MultiGrep/MultiMatch: one regex per LINE of the pattern literal,
    // one Bool per regex, as the reference's Tuple (positional struct)
    def multi(name: String, f: (Column, String) => Column): Unit =
      reg(name)(es => {
        val pats = litStr(es(1), name).split("\n").toSeq
        require(pats.nonEmpty, s"$name needs at least one pattern line")
        S.convert(org.apache.spark.sql.functions.struct(
          pats.zipWithIndex.map { case (p, i) =>
            f(cc(es(0)), p).as(s"_${i + 1}") }: _*))
      })
    multi("pire_multigrep", Pire.grep)
    multi("pire_multimatch", Pire.matches)
    // Hyperscan:: own surface (hyperscan_udf.cpp; NOT a Pire alias —
    // textual `^p$` anchoring, whole-match capture, literal replace;
    // see YqlModules.Hyperscan for the audited divergence notes)
    reg1s("hyperscan_match")(Hyperscan.matches)
    reg1s("hyperscan_grep")(Hyperscan.grep)
    reg1s("hyperscan_backtrackingmatch")(Hyperscan.matches)
    reg1s("hyperscan_backtrackinggrep")(Hyperscan.grep)
    reg1s("hyperscan_capture")(Hyperscan.capture)
    reg1ss("hyperscan_replace")(Hyperscan.replace)
    multi("hyperscan_multigrep", Hyperscan.grep)
    multi("hyperscan_multimatch", Hyperscan.matches)
    // Re2::Options (re2_udf.cpp:39-66 TOptionsSchema, named optional
    // bools): folded to a token at parse time (re2OptionsSugar); the
    // fused factory call carries it as a TRAILING argument and the
    // PATTERN transforms at lowering — CaseSensitive=false → (?i),
    // DotNl=true → (?s), Literal=true → \Q…\E quoting. Utf8/LogErrors/
    // MaxMem are accepted with no JVM-engine effect (the native engine
    // is UTF-16 internally and never logs to stderr); the automaton
    // semantics Java regex cannot express (PosixSyntax leftmost-longest,
    // LongestMatch, NeverNl, NeverCapture) raise AT FOLD TIME when set.
    reg("re2_options")(es => es.headOption.getOrElse(
      org.apache.spark.sql.catalyst.expressions.Literal(
        org.apache.spark.unsafe.types.UTF8String.fromString("re2opts:"),
        org.apache.spark.sql.types.StringType)))
    def re2Opts(name: String, es: Seq[Expression]): Seq[Expression] =
      es.lastOption match {
        case Some(org.apache.spark.sql.catalyst.expressions.Literal(
            s: org.apache.spark.unsafe.types.UTF8String, _))
            if s != null && s.toString.startsWith("re2opts:") =>
          val tok = s.toString
          val pat = litStr(es(1), name)
          val quoted =
            if (tok.contains("l1")) java.util.regex.Pattern.quote(pat)
            else pat
          // RE2 case folding with the default Utf8=true is Unicode-wide,
          // so (?i) alone (ASCII-only in java.util.regex) would diverge
          // on non-ASCII patterns — (?iu) adds UNICODE_CASE.
          val flags = (if (tok.contains("c0")) "(?iu)" else "") +
            (if (tok.contains("d1")) "(?s)" else "")
          es.updated(1, org.apache.spark.sql.catalyst.expressions.Literal(
            org.apache.spark.unsafe.types.UTF8String.fromString(
              flags + quoted),
            org.apache.spark.sql.types.StringType)).dropRight(1)
        case _ => es
      }
    def reg1sOpt(name: String)(f: (Column, String) => Column): Unit =
      reg(name) { es0 =>
        val es = re2Opts(name, es0)
        S.convert(f(cc(es(0)), litStr(es(1), name)))
      }
    reg1ss("pire_replace")(Pire.replace)

    reg1sOpt("re2_grep")(Re2.grep)
    reg1sOpt("re2_match")(Re2.matches)
    reg1sOpt("re2_count")(Re2.count)
    reg1sOpt("re2_findandconsume")(Re2.findAndConsume)
    reg1sOpt("re2_capture")(Re2.capture)
    reg(name = "re2_replace") { es0 =>
      val es = re2Opts("re2_replace", es0)
      S.convert(Re2.replace(cc(es(0)), litStr(es(1), "re2_replace"),
        litStr(es(2), "re2_replace")))
    }

    // YQL's bare builtin spellings (ListMap, AGGREGATE_LIST, ...) as
    // aliases of the Spark builtins they denote. Spark SQL lowercases
    // function names at resolution, so registering the lowercase name
    // makes the YQL spelling work in any SQL string with NO rewrite —
    // including lambda arguments (`ListMap(xs, x -> x + 1)`), which
    // pass through untouched to the aliased higher-order function.
    // `SOME` is NOT aliased: Spark already owns `some` (= bool_or)
    // with different semantics; YQL's SOME is served by any_value.
    import org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
    def alias(yql: String, spark: String): Unit =
      reg(yql)(es => UnresolvedFunction(Seq(spark), es, isDistinct = false))
    // lambda-taking aliases construct the higher-order expression
    // directly: a lambda argument under an UnresolvedFunction alias
    // trips the analyzer's non-higher-order check before the alias
    // resolves, so the indirection must not exist for these
    import org.apache.spark.sql.catalyst.expressions.{ArrayFilter, ArrayTransform}
    reg("listmap")(es => ArrayTransform(es(0), es(1)))
    reg("listfilter")(es => ArrayFilter(es(0), es(1)))
    // ListCollect: Spark arrays are eager — identity (list.md
    // #listcollect exists to force a LAZY list; there is none here)
    reg("listcollect")(es => es.head)
    // ListCreate / DictCreate / SetCreate (list.md, dict.md): empty
    // containers of an explicitly named type (typeArgSugar quotes the
    // bare type token); a set is the engine's canonical sorted array
    locally {
      import org.apache.spark.sql.catalyst.expressions.Literal
      import org.apache.spark.sql.types.{ArrayType, MapType}
      reg("listcreate")(es => Literal.create(Seq.empty[Any],
        ArrayType(EnsureTypeExpr.parse(litStr(es.head, "ListCreate")))))
      reg("setcreate")(es => Literal.create(Seq.empty[Any],
        ArrayType(EnsureTypeExpr.parse(litStr(es.head, "SetCreate")))))
      reg("dictcreate")(es => Literal.create(Map.empty[Any, Any],
        MapType(EnsureTypeExpr.parse(litStr(es(0), "DictCreate")),
          EnsureTypeExpr.parse(litStr(es(1), "DictCreate")))))
    }
    // ListFold / ListFoldMap (list.md): the user lambda is
    // (item, state) — Spark's aggregate merge is (state, item), so the
    // lambda's parameter list swaps. ListFoldMap's per-step (newItem,
    // newState) tuple is obtained by APPLYING the user lambda through
    // a single-element zip_with (Catalyst has no direct lambda-apply),
    // then the fold accumulates (items array, state).
    locally {
      import org.apache.spark.sql.catalyst.expressions.{ArrayAggregate,
        CreateArray, CreateNamedStruct, GetStructField, LambdaFunction,
        Literal => CLit, UnresolvedNamedLambdaVariable, ZipWith}
      def swap(lam: Expression): Expression = lam match {
        case lf: LambdaFunction if lf.arguments.length == 2 =>
          lf.copy(arguments = Seq(lf.arguments(1), lf.arguments(0)))
        case other => throw new IllegalArgumentException(
          "ListFold takes a two-argument (item, state) lambda, got: " +
            other.sql)
      }
      def freshVar(n: String) =
        UnresolvedNamedLambdaVariable(Seq(n))
      reg("listfold") { es =>
        require(es.length == 3, "ListFold takes (list, state, lambda)")
        val v = freshVar("__lf_fin")
        ArrayAggregate(es(0), es(1), swap(es(2)),
          LambdaFunction(v, Seq(v)))
      }
      reg("listfoldmap") { es =>
        require(es.length == 3, "ListFoldMap takes (list, state, lambda)")
        import org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue
        def fld(e: Expression, n: String): Expression =
          UnresolvedExtractValue(e, CLit(n))
        // apply the user (item, state) lambda: Catalyst has no direct
        // lambda-apply, so ride a single-element zip_with
        def applyLam(item: Expression, state: Expression): Expression =
          UnresolvedFunction(Seq("element_at"),
            Seq(ZipWith(CreateArray(Seq(item)), CreateArray(Seq(state)),
              es(2).asInstanceOf[LambdaFunction]), CLit(1)),
            isDistinct = false)
        // acc: struct<_1: array<newItem>, _2: state>
        val acc = freshVar("__lfm_acc")
        val x = freshVar("__lfm_x")
        val pair = applyLam(x, fld(acc, "_2"))
        val merge = LambdaFunction(
          CreateNamedStruct(Seq(
            CLit("_1"), UnresolvedFunction(Seq("concat"), Seq(
              fld(acc, "_1"), CreateArray(Seq(fld(pair, "_1")))),
              isDistinct = false),
            CLit("_2"), fld(pair, "_2"))),
          Seq(acc, x))
        // zero's empty item array gets the newItem TYPE from a sliced
        // transform over the input (nothing survives the 0-length slice)
        val q = freshVar("__lfm_q")
        val zero = CreateNamedStruct(Seq(
          CLit("_1"), UnresolvedFunction(Seq("slice"),
            Seq(ArrayTransform(es(0),
              LambdaFunction(fld(applyLam(q, es(1)), "_1"), Seq(q))),
              CLit(1), CLit(0)), isDistinct = false),
          CLit("_2"), es(1)))
        val fin = freshVar("__lfm_fin")
        ArrayAggregate(es(0), zero, merge,
          LambdaFunction(fld(fin, "_1"), Seq(fin)))
      }
    }
    alias("listflatmap", "flatten") // compose with ListMap for the lambda form
    alias("listsort", "array_sort")
    alias("listuniq", "array_distinct")
    alias("listlength", "size")
    alias("listconcat", "array_join")
    alias("listextend", "concat")
    alias("listhas", "array_contains")
    reg("listhead")(es => UnresolvedFunction(Seq("try_element_at"),
      es :+ org.apache.spark.sql.catalyst.expressions.Literal(1),
      isDistinct = false))
    reg("listlast")(es => UnresolvedFunction(Seq("try_element_at"),
      es :+ org.apache.spark.sql.catalyst.expressions.Literal(-1),
      isDistinct = false))
    // List:: breadth (docs builtins/list.md) — Column-API higher-order
    // functions (codegen'd ArrayAggregate/Transform/Exists under the
    // hood)
    import org.apache.spark.sql.functions.{aggregate => cAgg, arrays_zip,
      exists => cExists, filter => cFilter, flatten => cFlatten,
      greatest => cGreatest, least => cLeast, forall => cForall,
      size => cSize, slice => cSlice, sort_array, struct => cStruct,
      transform => cTransform, try_element_at, when => cWhen,
      array_position}
    // sum with a zero of the ELEMENT's own type (first - first); an
    // empty list gives NULL — YQL's empty Optional sum
    def listSum(c: Column): Column = {
      val z = try_element_at(c, lit(1)) - try_element_at(c, lit(1))
      cAgg(c, z, (a, b) => a + b)
    }
    reg1("listsum")(listSum)
    reg1("listavg")(c =>
      listSum(c).cast("double") / cSize(c).cast("double"))
    reg1("listhasitems")(c => cSize(c) > 0)
    /** 0-based (index, value) tuples (ListEnumerate). */
    reg1("listenumerate")(c => cTransform(c, (v, i) =>
      cStruct(i.cast("long").as("_1"), v.as("_2"))))
    reg2("listindexof")((c, v) => {
      val pos = array_position(c, v)
      cWhen(pos > 0, pos - 1)
    })
    reg1("listany")(c => cExists(c, b => b))
    reg1("listall")(c => cForall(c, b => b))
    reg1("listnotnull")(c => cFilter(c, _.isNotNull))
    reg1("listflatten")(cFlatten)
    reg2("listskip")((c, n) => cSlice(c, (n + lit(1)).cast("int"),
      cGreatest(cSize(c) - n.cast("int"), lit(0))))
    reg2("listtake")((c, n) => cSlice(c, lit(1), n.cast("int")))
    reg1("listsortdesc")(c => sort_array(c, asc = false))
    reg1s("listextract")((c, field) =>
      cTransform(c, _.getField(field)))
    // ListTakeWhile / ListSkipWhile (builtins/list.md): the user lambda
    // arrives as a Spark lambda expression — map it over the list, find
    // the first FALSE, slice around it (no per-row driver logic, stays
    // codegen'd)
    // the analyzer demands the TOP resolved node be a higher-order
    // function when a lambda argument is present, so both are one
    // ArrayFilter keyed on the 0-based index of the first FALSE of
    // transform(list, userLambda) (array_position is 1-based; 0 =
    // no false = take everything / skip everything)
    locally {
      import org.apache.spark.sql.catalyst.expressions.{And,
        ArrayFilter, ArrayTransform, Cast, EqualTo, GreaterThanOrEqual,
        LambdaFunction, LessThan, Literal => CLit, Not, Or, Subtract,
        UnresolvedNamedLambdaVariable}
      import org.apache.spark.sql.types.LongType
      def firstFalse(es: Seq[Expression]): Expression =
        UnresolvedFunction(Seq("array_position"),
          Seq(ArrayTransform(es(0), es(1)), CLit(false)),
          isDistinct = false)
      def lv(n: String) = UnresolvedNamedLambdaVariable(Seq(n))
      reg("listtakewhile") { es =>
        require(es.length == 2, "ListTakeWhile takes (list, lambda)")
        val pos = firstFalse(es)
        val v = lv("__tw_v"); val i = lv("__tw_i")
        ArrayFilter(es(0), LambdaFunction(
          Or(EqualTo(pos, CLit(0L)),
            LessThan(Cast(i, LongType), Subtract(pos, CLit(1L)))),
          Seq(v, i)))
      }
      reg("listskipwhile") { es =>
        require(es.length == 2, "ListSkipWhile takes (list, lambda)")
        val pos = firstFalse(es)
        val v = lv("__sw_v"); val i = lv("__sw_i")
        ArrayFilter(es(0), LambdaFunction(
          And(Not(EqualTo(pos, CLit(0L))),
            GreaterThanOrEqual(Cast(i, LongType), Subtract(pos, CLit(1L)))),
          Seq(v, i)))
      }
    }

    // the list/tuple constructors (builtins/basic.md AsList/AsTuple).
    // AsTuple builds the engine's canonical tuple shape — a struct with
    // positional fields _1.._n (what ToDict/DictItems consume); YQL's
    // 0-based element access `t.0` rewrites onto `._1` in [[rewrite]]
    alias("aslist", "array")
    reg("astuple") { es =>
      org.apache.spark.sql.catalyst.expressions.CreateNamedStruct(
        es.zipWithIndex.flatMap { case (e, i) =>
          Seq(org.apache.spark.sql.catalyst.expressions
            .Literal(s"_${i + 1}"), e) })
    }
    // the Set* builtins (builtins/dict.md) — canonical sorted arrays
    reg2("setintersection")(SetOps.intersection)
    reg2("setunion")(SetOps.union)
    reg2("setdifference")(SetOps.difference)
    reg2("setsymmetricdifference")(SetOps.symmetricDifference)
    reg2("setincludes")(SetOps.includes)
    reg2("setisdisjoint")(SetOps.isDisjoint)
    // ToDict: list of (_1,_2) tuples → dict, FIRST key wins
    // (builtins/dict.md; map_from_entries raises on duplicates, so
    // dedup by key first); ToSet: list → Set (here: the distinct
    // sorted array the Set* builtins consume)
    reg1("todict")(c => {
      import org.apache.spark.sql.functions.{aggregate => cAgg,
        array => cArr, concat => cConcat, exists => cExists,
        map_from_entries, slice => cSlice, struct => cStruct,
        transform => cTransform, when => cWhen}
      // first key wins: fold keeping only first occurrences (slice to
      // length 0 makes an empty array of the element's own type)
      val dedup = cAgg(c, cSlice(c, lit(1), lit(0)), (acc, t) =>
        cWhen(cExists(acc, e =>
            e.getField("_1") === t.getField("_1")), acc)
          .otherwise(cConcat(acc, cArr(t))))
      map_from_entries(cTransform(dedup, t =>
        cStruct(t.getField("_1").as("key"),
          t.getField("_2").as("value"))))
    })
    reg1("toset")(c =>
      org.apache.spark.sql.functions.array_sort(
        org.apache.spark.sql.functions.array_distinct(c)))
    // the Vector:: module (udfs/common/vector/vector_udf.cpp): a
    // positional accumulator — Create(reserve) / Emplace(v, i, x)
    // (set index i if i < size, else push_back) / Swap(v, a, b)
    // (no-op out of range) / GetResult(v). The reference's mutable
    // resource is an immutable ARRAY value here, so the module is four
    // pure codegen'd array expressions; the reserve hint has no
    // immutable-array equivalent and drops.
    locally {
      import org.apache.spark.sql.functions.{array, concat, element_at,
        size, slice, transform, when}
      reg1("vector_create")(_ => array())
      reg("vector_emplace") { es =>
        require(es.length == 3, "Vector::Emplace takes (vector, index, value)")
        val v = cc(es(0)); val i = cc(es(1)).cast("int"); val x = cc(es(2))
        S.convert(when(i >= 0 && i < size(v),
          concat(slice(v, lit(1), i), array(x),
            slice(v, i + lit(2), size(v) - i - lit(1))))
          .otherwise(concat(v, array(x))))
      }
      reg("vector_swap") { es =>
        require(es.length == 3, "Vector::Swap takes (vector, a, b)")
        val v = cc(es(0)); val a = cc(es(1)).cast("int")
        val b = cc(es(2)).cast("int")
        S.convert(when(a >= 0 && b >= 0 && a < size(v) && b < size(v),
          transform(v, (e, j) =>
            when(j === a, element_at(v, b + lit(1)))
              .when(j === b, element_at(v, a + lit(1)))
              .otherwise(e)))
          .otherwise(v))
      }
      reg1("vector_getresult")(c => c)
    }
    // ListZip truncates to the SHORTEST input (builtins/list.md);
    // arrays_zip pads with NULL, so cut back — ListZipAll is the
    // padded form
    reg2("listzip")((a, b) =>
      cSlice(arrays_zip(a, b), lit(1), cLeast(cSize(a), cSize(b))))
    alias("listzipall", "arrays_zip")
    alias("listmin", "array_min")
    alias("listmax", "array_max")
    alias("listreverse", "reverse")
    alias("listfromrange", "sequence")
    alias("listreplicate", "array_repeat")
    alias("aggregate_list", "collect_list")
    alias("aggregate_list_distinct", "collect_set")
    // CurrentUtcDate/Datetime/Timestamp (builtins/basic.md — the
    // reference's NOW() alternatives; session timezone is pinned UTC).
    // Datetime is YQL's SECONDS-precision type → truncate. The
    // optional dependency arguments (the reference's spelling to
    // defeat per-query constant folding) are accepted and ignored:
    // Spark evaluates these once per query, which IS the reference's
    // no-argument behavior.
    reg("currentutcdate")(_ =>
      UnresolvedFunction(Seq("current_date"), Nil, isDistinct = false))
    reg("currentutctimestamp")(_ =>
      UnresolvedFunction(Seq("current_timestamp"), Nil, isDistinct = false))
    reg("currentutcdatetime")(_ =>
      UnresolvedFunction(Seq("date_trunc"),
        Seq(org.apache.spark.sql.catalyst.expressions.Literal("second"),
          UnresolvedFunction(Seq("current_timestamp"), Nil,
            isDistinct = false)),
        isDistinct = false))
    // Ensure / EnsureType / EnsureConvertibleTo (builtin.cpp:3005-3007;
    // docs builtins/basic.md "Ensure..."): pass the value through, fail
    // the query when the check fails. Ensure checks its predicate at
    // EXECUTION (raise_error short-circuits under the CASE, so rows
    // that satisfy the predicate never evaluate it); the type asserts
    // check at ANALYSIS and cost nothing at runtime.
    reg("ensure") { es =>
      require(es.length == 2 || es.length == 3,
        "Ensure takes (value, predicate[, message])")
      val msg = if (es.length == 3) es(2)
        else org.apache.spark.sql.catalyst.expressions.Literal(
          "Ensure: condition violated")
      org.apache.spark.sql.catalyst.expressions.CaseWhen(
        Seq((es(1), es(0))),
        Some(UnresolvedFunction(Seq("raise_error"), Seq(msg),
          isDistinct = false)))
    }
    def regEnsureType(name: String, strict: Boolean): Unit =
      reg(name.toLowerCase) { es =>
        require(es.length == 2 || es.length == 3,
          s"$name takes (value, type[, message])")
        EnsureTypeExpr(es(0), litStr(es(1), name), strict,
          if (es.length == 3) Some(litStr(es(2), name)) else None)
      }
    regEnsureType("EnsureType", strict = true)
    regEnsureType("EnsureConvertibleTo", strict = false)

    // Random / RandomNumber / RandomUuid (builtin.cpp:3155-3157; docs
    // "Random..."): nondeterministic, one fresh value per row. The
    // required arguments exist only to control call-site dedup in the
    // reference (the values are never read) — same here: required,
    // ignored. RandomNumber spans the full 64-bit range via a hash of
    // a per-row v4 uuid; RandomUuid is the string form of the v4 uuid
    // (this engine's Uuid representation).
    def regRandom(name: String, build: () => Expression): Unit =
      reg(name.toLowerCase) { es =>
        require(es.nonEmpty,
          s"$name requires at least one dependency argument " +
            "(builtins/basic.md: arguments only control the call time)")
        build()
      }
    regRandom("Random",
      () => UnresolvedFunction(Seq("rand"), Nil, isDistinct = false))
    regRandom("RandomNumber",
      () => UnresolvedFunction(Seq("xxhash64"),
        Seq(UnresolvedFunction(Seq("uuid"), Nil, isDistinct = false)),
        isDistinct = false))
    regRandom("RandomUuid",
      () => UnresolvedFunction(Seq("uuid"), Nil, isDistinct = false))

    // ——— basic.md stragglers: optional ops, byte/bit surgery, the
    // remaining As* container constructors, hint passthroughs,
    // timezone shifts and the (engine-canonical) Pickle wire
    locally {
      import org.apache.spark.sql.catalyst.expressions.{Cast, CreateArray,
        CreateNamedStruct, Literal}
      import org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
      import org.apache.spark.sql.types.{BinaryType, StringType, StructField,
        StructType}
      def ufn(name: String, args: Seq[Expression]): Expression =
        UnresolvedFunction(Seq(name), args, isDistinct = false)
      alias("max_of", "greatest")
      alias("min_of", "least")
      alias("asliststrict", "array")
      // Just is the optional wrap — Spark nullability is the optional
      // layer, the value itself is unchanged; AssumeStrict/Likely are
      // optimizer hints with pass-through semantics (basic.md: "the
      // result ... is the same as its argument"); EvaluateExpr forces
      // evaluation before the main run — Catalyst constant-folding
      // already does exactly that for the foldable expressions the
      // reference accepts there
      reg("just")(es => es.head)
      // TableRow() (basic.md#tablerow): the whole row as a struct —
      // star expansion resolves in analysis, so this works anywhere a
      // scalar can appear (registry lookup is case-insensitive)
      reg("tablerow")(es => {
        require(es.isEmpty, "TableRow() takes no arguments")
        org.apache.spark.sql.catalyst.expressions.CreateStruct(
          Seq(org.apache.spark.sql.catalyst.analysis.UnresolvedStar(None)))
      })
      // Operation metadata (basic.md "Access to the metadata of the
      // current operation"): the Spark application IS the operation
      reg("currentoperationid")(es => {
        require(es.isEmpty, "CurrentOperationId() takes no arguments")
        Literal(org.apache.spark.unsafe.types.UTF8String.fromString(
          spark.sparkContext.applicationId), StringType)
      })
      reg("currentoperationsharedid")(es => {
        require(es.isEmpty,
          "CurrentOperationSharedId() takes no arguments")
        Literal(org.apache.spark.unsafe.types.UTF8String.fromString(
          spark.sparkContext.applicationId), StringType)
      })
      reg("currentauthenticateduser")(es => {
        require(es.isEmpty,
          "CurrentAuthenticatedUser() takes no arguments")
        Literal(org.apache.spark.unsafe.types.UTF8String.fromString(
          spark.sparkContext.sparkUser), StringType)
      })
      // Named raises for the basic.md stragglers whose semantics need
      // a context this engine deliberately does not model
      reg("tablerecordindex")(_ => throw new IllegalArgumentException(
        "TableRecordIndex() needs the MapReduce input-chunk scan order" +
          " — not meaningful over an unordered parquet scan; use" +
          " row_number() OVER an explicit ORDER BY instead"))
      reg("weakfield")(_ => throw new IllegalArgumentException(
        "WeakField() reads weak-schema tables; this engine's parquet" +
          " schemas are strong — reference the column directly"))
      reg("jointablerow")(_ => throw new IllegalArgumentException(
        "JoinTableRow() (prefixed whole-row struct) is not implemented" +
          " — project the joined columns or use TableRow() per side" +
          " before the join"))
      reg("assumestrict")(es => es.head)
      reg("likely")(es => es.head)
      reg("evaluateexpr")(es => es.head)
      reg("evaluateatom")(es => es.head)
      reg("unwrap")(es => UnwrapExpr(es.head,
        if (es.length > 1) litStr(es(1), "Unwrap") else ""))
      reg("nothing")(es => Literal.create(null,
        EnsureTypeExpr.parse(litStr(es.head, "Nothing"))))
      reg("byteat")(es => ByteAtExpr(es(0), es(1)))
      reg("tobytes")(es => ToBytesExpr(es.head))
      reg("frombytes")(es =>
        FromBytesExpr(es(0), litStr(es(1), "FromBytes")))
      reg("testbit")(es => BitOpExpr(es(0), es(1), "test"))
      reg("setbit")(es => BitOpExpr(es(0), es(1), "set"))
      reg("clearbit")(es => BitOpExpr(es(0), es(1), "clear"))
      reg("flipbit")(es => BitOpExpr(es(0), es(1), "flip"))
      // AsDict: first key wins (ToDict's rule); AsDictStrict raises on
      // duplicates (map_from_entries under the default EXCEPTION dedup
      // policy); AsSet(Strict) land on the canonical sorted array
      reg("asdict")(es => ufn("todict", Seq(CreateArray(es))))
      reg("asdictstrict")(es => ufn("map_from_entries", Seq(CreateArray(es))))
      reg("asset")(es => ufn("toset", Seq(CreateArray(es))))
      reg("assetstrict") { es =>
        val arr = CreateArray(es)
        org.apache.spark.sql.catalyst.expressions.CaseWhen(
          Seq((org.apache.spark.sql.catalyst.expressions.Not(
            org.apache.spark.sql.catalyst.expressions.EqualTo(
              ufn("size", Seq(ufn("array_distinct", Seq(arr)))),
              ufn("size", Seq(arr)))),
            ufn("raise_error",
              Seq(Literal("AsSetStrict: duplicate set items"))))),
          Some(ufn("toset", Seq(arr))))
      }
      // AddTimezone/RemoveTimezone (basic.md): the engine carries one
      // timestamp type — the shift IS the timezone application
      reg("addtimezone")(es =>
        ufn("from_utc_timestamp", Seq(es(0), es(1))))
      reg("removetimezone")(es =>
        ufn("to_utc_timestamp", Seq(es(0), es(1))))
      // Pickle/StablePickle/Unpickle (basic.md#pickle): the reference
      // leaves the wire format unspecified ("can change"); this
      // engine's canonical wire is the JSON image of the value —
      // deterministic, self-describing, round-trips through Unpickle
      // with the type text
      def pickle(es: Seq[Expression]): Expression =
        Cast(ufn("to_json", Seq(CreateNamedStruct(
          Seq(Literal("v"), es.head)))), BinaryType)
      reg("pickle")(pickle)
      reg("stablepickle")(pickle)
      reg("unpickle") { es =>
        val t = EnsureTypeExpr.parse(litStr(es(0), "Unpickle"))
        S.convert(S.column(ufn("from_json",
          Seq(Cast(es(1), StringType),
            Literal(StructType(Seq(StructField("v", t))).toDDL))))
          .getField("v"))
      }
    }

    alias("dictkeys", "map_keys")
    // DictItems → (_1, _2) tuples; DictHasItems (builtins/dict.md)
    reg1("dictitems")(c => {
      import org.apache.spark.sql.functions.{map_entries, struct => cS,
        transform => cT}
      cT(map_entries(c), e =>
        cS(e.getField("key").as("_1"), e.getField("value").as("_2")))
    })
    reg1("dicthasitems")(c =>
      org.apache.spark.sql.functions.size(
        org.apache.spark.sql.functions.map_keys(c)) > 0)
    alias("dictpayloads", "map_values")
    alias("dictlength", "size")
    alias("dictcontains", "map_contains_key")
    alias("dictlookup", "try_element_at")
  }
}
