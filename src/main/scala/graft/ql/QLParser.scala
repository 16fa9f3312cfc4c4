package graft.ql

/** A real QL parser — tokenizer, recursive-descent grammar and AST —
  * replacing string rewriting for the SelectRows surface.
  *
  * Grammar per the reference (parser.ypp): implicit SELECT, projection
  * list with aliases, `[//path]` table descriptors, `WITH INDEX`,
  * JOIN/LEFT JOIN with USING or `ON (lhs) = (rhs)` plus AND-predicate,
  * ARRAY JOIN, WHERE, `GROUP BY expr [AS alias] ... [WITH TOTALS]`
  * (before or after HAVING → ETotalsMode), ORDER BY ASC/DESC,
  * OFFSET/LIMIT in either order. Expression precedence follows
  * parser.ypp's chain exactly: OR < AND < NOT < IS [NOT] NULL <
  * =,!=,<> < LIKE/ILIKE/RLIKE/REGEXP [ESCAPE] < relational(< <= > >=)
  * and IN / NOT IN / BETWEEN (incl. tuple and multi-range forms) <
  * `|` < `&` < `<< >>` < `+ -` < `* / %` < unary -/+/~/NOT < atoms
  * (literals incl. `123u` uint64, qualified identifiers, calls,
  * CASE/TRANSFORM, tuples, `x[i]` item accessors, `||` concat).
  *
  * The AST lowers to Spark SQL text ([[QLEmitter]]): tuple IN/= become
  * conjunction chains (IsRowInRowset lowering), tuple BETWEEN becomes
  * the lexicographic expansion, uint64 literals keep their
  * two's-complement bits with ordering comparisons routed through the
  * biased u64_* comparators, GROUP BY aliases substitute into the
  * projection, WITH TOTALS lowers to ROLLUP.
  */
object QLParser {

  final case class QLParseException(msg: String, pos: Int)
      extends RuntimeException(s"$msg at $pos")

  // ----- tokens -----
  sealed trait Tok { def pos: Int }
  final case class TIdent(s: String, pos: Int) extends Tok
  final case class TKw(s: String, pos: Int) extends Tok // uppercase keyword
  final case class TInt(v: Long, pos: Int) extends Tok
  final case class TUInt(bits: Long, pos: Int) extends Tok
  final case class TDouble(v: Double, pos: Int) extends Tok
  final case class TStr(v: String, pos: Int) extends Tok
  final case class TTable(path: String, pos: Int) extends Tok
  final case class TOp(s: String, pos: Int) extends Tok
  final case class TEnd(pos: Int) extends Tok

  private val keywords = Set(
    "SELECT", "FROM", "WHERE", "GROUP", "BY", "HAVING", "ORDER", "ASC", "DESC",
    "OFFSET", "LIMIT", "JOIN", "LEFT", "ARRAY", "USING", "ON", "AS", "WITH",
    "TOTALS", "INDEX", "HINT", "AND", "OR", "NOT", "IS", "NULL", "BETWEEN",
    "IN", "CASE", "WHEN", "THEN", "ELSE", "END", "LIKE", "ILIKE", "RLIKE",
    "REGEXP", "ESCAPE", "TRUE", "FALSE", "INF", "DISTINCT")

  def tokenize(s: String): Vector[Tok] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Tok]
    var i = 0
    val n = s.length
    def isIdentStart(c: Char) = c.isLetter || c == '_'
    def isIdentChar(c: Char) = c.isLetterOrDigit || c == '_'
    // `.` + digit directly after an identifier is positional member
    // access (`t.tuple.0.b`, SyntaxV2), not a `.5` double literal
    def lastWasIdent = out.nonEmpty && out.last.isInstanceOf[TIdent]
    while (i < n) {
      val c = s.charAt(i)
      if (c.isWhitespace) i += 1
      else if (c == '.' && lastWasIdent && i + 1 < n && s.charAt(i + 1).isDigit) {
        out += TOp(".", i); i += 1
        val start = i
        while (i < n && s.charAt(i).isDigit) i += 1
        out += TInt(s.substring(start, i).toLong, start)
      }
      else if (c == '[') {
        // table descriptor [//path], bracket-escaped system column
        // [$tablet_index] (test_query.py:2332), or an item accessor —
        // the lexer emits TTable/TIdent for the first two forms
        val close = s.indexOf(']', i)
        if (i + 1 < n && s.charAt(i + 1) == '/' && close > i) {
          out += TTable(s.substring(i + 1, close), i); i = close + 1
        } else if (i + 1 < n && s.charAt(i + 1) == '$' && close > i &&
            s.substring(i + 2, close)
              .matches("[A-Za-z_][A-Za-z0-9_]*(:[A-Za-z_][A-Za-z0-9_]*)?")) {
          // [$tablet_index] (test_query.py:2332) and the per-column
          // read-timestamp refs [$timestamp:col] (test_query.py:2183
          // test_versioned_select) — one bracket-escaped identifier
          out += TIdent(s.substring(i + 1, close), i); i = close + 1
        } else { out += TOp("[", i); i += 1 }
      } else if (c == '`') {
        // backtick-quoted identifier (lexer.rl; ql_query_ut.cpp
        // QuotedColumnNames): escapes \n \t \r \\ \` \xNN \uNNNN decode
        // into the identifier text; `//path` forms name tables
        val start = i
        i += 1
        val sb = new StringBuilder
        while (i < n && s.charAt(i) != '`') {
          val ch = s.charAt(i)
          if (ch == '\\' && i + 1 < n) {
            s.charAt(i + 1) match {
              case 'n' => sb.append('\n'); i += 2
              case 't' => sb.append('\t'); i += 2
              case 'r' => sb.append('\r'); i += 2
              case '\\' => sb.append('\\'); i += 2
              case '`' => sb.append('`'); i += 2
              case 'x' if i + 3 < n =>
                sb.append(Integer.parseInt(s.substring(i + 2, i + 4), 16).toChar)
                i += 4
              case 'u' if i + 5 < n =>
                sb.append(Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar)
                i += 6
              case other => sb.append(other); i += 2
            }
          } else { sb.append(ch); i += 1 }
        }
        if (i >= n) throw QLParseException("unterminated quoted identifier", start)
        i += 1
        val text = sb.toString
        if (text.startsWith("//")) out += TTable(text, start)
        else out += TIdent(text, start)
      } else if (c == '\'' || c == '"') {
        val start = i
        i += 1
        val sb = new StringBuilder
        while (i < n && s.charAt(i) != c) {
          val ch = s.charAt(i)
          if (ch == '\\' && i + 1 < n) {
            // lexer.rl's escape set: \a \b \f \n \r \t \v \0 \' \" \\ \xNN
            def isHex(k: Char) =
              k.isDigit || ('a' <= k && k <= 'f') || ('A' <= k && k <= 'F')
            s.charAt(i + 1) match {
              case 'n' => sb.append('\n'); i += 2
              case 't' => sb.append('\t'); i += 2
              case 'r' => sb.append('\r'); i += 2
              case 'a' => sb.append('\u0007'); i += 2
              case 'b' => sb.append('\b'); i += 2
              case 'f' => sb.append('\f'); i += 2
              case 'v' => sb.append('\u000B'); i += 2
              case '0' => sb.append('\u0000'); i += 2
              case 'x' if i + 3 < n && isHex(s.charAt(i + 2)) && isHex(s.charAt(i + 3)) =>
                sb.append(Integer.parseInt(s.substring(i + 2, i + 4), 16).toChar)
                i += 4
              case '\\' => sb.append('\\'); i += 2
              case '\'' => sb.append('\''); i += 2
              case '"' => sb.append('"'); i += 2
              case other => sb.append(other); i += 2
            }
          } else { sb.append(ch); i += 1 }
        }
        if (i >= n) throw QLParseException("unterminated string", start)
        i += 1
        out += TStr(sb.toString, start)
      } else if (c.isDigit || (c == '.' && i + 1 < n && s.charAt(i + 1).isDigit)) {
        val start = i
        while (i < n && s.charAt(i).isDigit) i += 1
        var isDouble = false
        if (i < n && s.charAt(i) == '.' && (i + 1 >= n || !isIdentStart(s.charAt(i + 1)))) {
          isDouble = true; i += 1
          while (i < n && s.charAt(i).isDigit) i += 1
        }
        if (i < n && (s.charAt(i) == 'e' || s.charAt(i) == 'E') &&
            (i + 1 < n && (s.charAt(i + 1).isDigit || s.charAt(i + 1) == '-' || s.charAt(i + 1) == '+'))) {
          isDouble = true; i += 1
          if (s.charAt(i) == '-' || s.charAt(i) == '+') i += 1
          while (i < n && s.charAt(i).isDigit) i += 1
        }
        val text = s.substring(start, i)
        if (!isDouble && i < n && (s.charAt(i) == 'u' || s.charAt(i) == 'U')) {
          i += 1
          out += TUInt(java.lang.Long.parseUnsignedLong(text), start)
        } else if (isDouble) out += TDouble(text.toDouble, start)
        else out += TInt(text.toLong, start)
      } else if (isIdentStart(c)) {
        val start = i
        while (i < n && isIdentChar(s.charAt(i))) i += 1
        val word = s.substring(start, i)
        val up = word.toUpperCase
        if (keywords(up)) out += TKw(up, start) else out += TIdent(word, start)
      } else if (c == '%' && s.regionMatches(true, i + 1, "true", 0, 4) &&
          (i + 5 >= n || !isIdentChar(s.charAt(i + 5)))) {
        // YSON boolean literals %true / %false (lexer.rl)
        out += TKw("TRUE", i); i += 5
      } else if (c == '%' && s.regionMatches(true, i + 1, "false", 0, 5) &&
          (i + 6 >= n || !isIdentChar(s.charAt(i + 6)))) {
        out += TKw("FALSE", i); i += 6
      } else {
        val two = if (i + 1 < n) s.substring(i, i + 2) else ""
        two match {
          case "<=" | ">=" | "!=" | "<>" | "<<" | ">>" | "||" =>
            out += TOp(two, i); i += 2
          case _ =>
            "+-*/%(),.=<>|&~#]{};".indexOf(c) match {
              case -1 => throw QLParseException(s"unexpected character '$c'", i)
              case _ => out += TOp(c.toString, i); i += 1
            }
        }
      }
    }
    out += TEnd(n)
    out.toVector
  }

  // ----- AST -----
  sealed trait Expr
  final case class Ref(parts: Seq[String]) extends Expr
  final case class IntLit(v: Long) extends Expr
  final case class UIntLit(bits: Long) extends Expr
  final case class DoubleLit(v: Double) extends Expr
  final case class StrLit(v: String) extends Expr
  final case class BoolLit(v: Boolean) extends Expr
  case object NullLit extends Expr
  final case class Call(name: String, args: Seq[Expr],
      distinct: Boolean = false) extends Expr
  final case class Bin(op: String, l: Expr, r: Expr) extends Expr
  final case class Un(op: String, e: Expr) extends Expr
  final case class IsNullOp(e: Expr, negated: Boolean) extends Expr
  final case class LikeOp(e: Expr, kind: String, pattern: Expr,
      escape: Option[Expr], negated: Boolean) extends Expr
  final case class InList(tuple: Seq[Expr], rows: Seq[Seq[Expr]], negated: Boolean) extends Expr
  final case class BetweenOp(tuple: Seq[Expr],
      ranges: Seq[(Seq[Expr], Seq[Expr])], negated: Boolean) extends Expr
  final case class CaseExpr(operand: Option[Expr],
      branches: Seq[(Expr, Expr)], elseE: Option[Expr]) extends Expr
  final case class TupleExpr(items: Seq[Expr]) extends Expr
  final case class ItemAccess(e: Expr, index: Expr) extends Expr
  /** `(expr AS name)` inside an expression (parser.ypp:542-556
    * TAliasExpression): registers `name` for the whole query scope.
    * Desugared away by [[parse]] — downstream consumers never see it. */
  final case class InlineAlias(e: Expr, name: String) extends Expr
  /** Pre-rendered SQL fragment — emitted verbatim. Synthesized only by
    * QLEmitter's WITH TOTALS lowering (guarded group keys); never
    * produced by the parser. */
  final case class RawSql(sql: String) extends Expr
  case object Star extends Expr

  final case class SelectItem(e: Expr, alias: Option[String])
  final case class OrderItem(e: Expr, desc: Boolean)
  sealed trait FromItem { def alias: Option[String] }
  final case class TableRef(path: String, alias: Option[String]) extends FromItem
  /** `FROM (SELECT ...)` nested query (ast.h:506-508,
    * test_query.py:2463 test_subquery). */
  final case class SubquerySource(q: Query, alias: Option[String]) extends FromItem
  sealed trait JoinLike
  final case class JoinClause(isLeft: Boolean, table: TableRef,
      using: Seq[String], on: Option[(Seq[Expr], Seq[Expr])],
      pred: Option[Expr]) extends JoinLike
  /** `[LEFT] ARRAY JOIN items [AND predicate]` (ast.h:485-501
    * TArrayJoin::Predicate): the predicate filters UNNESTED rows; LEFT
    * keeps parents whose every unnested row fails it (nulls). */
  final case class ArrayJoinClause(isLeft: Boolean, items: Seq[SelectItem],
      pred: Option[Expr] = None) extends JoinLike

  /** ETotalsMode (query_common.h:78-82). */
  sealed trait TotalsMode
  case object NoTotals extends TotalsMode
  case object TotalsBeforeHaving extends TotalsMode
  case object TotalsAfterHaving extends TotalsMode

  final case class Query(
      select: Seq[SelectItem],
      from: Option[FromItem],
      withIndex: Option[String],
      joins: Seq[JoinLike],
      where: Option[Expr],
      groupBy: Seq[SelectItem],
      totals: TotalsMode,
      having: Option[Expr],
      orderBy: Seq[OrderItem],
      offset: Option[Long],
      limit: Option[Long])

  // ----- parser -----
  /** Parse invocations since JVM start — instrumentation for the
    * parse-once contract in [[graft.ql.SelectRows]] (asserted by
    * QLParserSpec). */
  val parseCount = new java.util.concurrent.atomic.AtomicLong(0)

  def parse(ql: String): Query = {
    parseCount.incrementAndGet()
    desugarInlineAliases(new P(tokenize(ql)).fullQuery())
  }

  /** Resolve `(expr AS x)` inline aliases (parser.ypp's AliasMap):
    * every `x` reference in the defining query's scope substitutes to
    * the aliased expression and the wrapper disappears, so downstream
    * lowering never sees [[InlineAlias]]. Duplicate registration is an
    * error like the reference's "Alias has been already used"; scopes
    * are per query (subqueries resolve their own aliases). */
  private def desugarInlineAliases(q: Query): Query = {
    val defs = scala.collection.mutable.LinkedHashMap[String, Expr]()
    def collect(e: Expr): Unit = e match {
      case InlineAlias(inner, n) =>
        if (defs.contains(n))
          throw QLParseException(s"alias \"$n\" has been already used", 0)
        collect(inner)
        defs(n) = inner
      case Call(_, args, _) => args.foreach(collect)
      case Bin(_, l, r) => collect(l); collect(r)
      case Un(_, x) => collect(x)
      case IsNullOp(x, _) => collect(x)
      case LikeOp(x, _, p, esc, _) => collect(x); collect(p); esc.foreach(collect)
      case InList(t, rows, _) => t.foreach(collect); rows.foreach(_.foreach(collect))
      case BetweenOp(t, rs, _) =>
        t.foreach(collect); rs.foreach { case (a, b) => a.foreach(collect); b.foreach(collect) }
      case CaseExpr(o, bs, el) =>
        o.foreach(collect); bs.foreach { case (w, th) => collect(w); collect(th) }
        el.foreach(collect)
      case TupleExpr(items) => items.foreach(collect)
      case ItemAccess(x, idx) => collect(x); collect(idx)
      case _ => ()
    }
    def queryExprs(qq: Query): Seq[Expr] =
      qq.select.map(_.e) ++ qq.where ++ qq.groupBy.map(_.e) ++ qq.having ++
        qq.orderBy.map(_.e) ++ qq.joins.flatMap {
          case JoinClause(_, _, _, on, pred) =>
            on.toSeq.flatMap(t => t._1 ++ t._2) ++ pred
          case ArrayJoinClause(_, items, pred) => items.map(_.e) ++ pred
        }
    queryExprs(q).foreach(collect)
    // `active` guards pathological self-reference `(x + 1 as x)`
    def rw(e: Expr, active: Set[String]): Expr = e match {
      case InlineAlias(inner, _) => rw(inner, active)
      case Ref(Seq(n)) if defs.contains(n) && !active(n) =>
        rw(defs(n), active + n)
      case Ref(_) | IntLit(_) | UIntLit(_) | DoubleLit(_) | StrLit(_) |
           BoolLit(_) | NullLit | Star => e
      case Call(n, args, d) => Call(n, args.map(rw(_, active)), d)
      case Bin(op, l, r) => Bin(op, rw(l, active), rw(r, active))
      case Un(op, x) => Un(op, rw(x, active))
      case IsNullOp(x, n) => IsNullOp(rw(x, active), n)
      case LikeOp(x, k, p, esc, n) =>
        LikeOp(rw(x, active), k, rw(p, active), esc.map(rw(_, active)), n)
      case InList(t, rows, n) =>
        InList(t.map(rw(_, active)), rows.map(_.map(rw(_, active))), n)
      case BetweenOp(t, rs, n) => BetweenOp(t.map(rw(_, active)),
        rs.map { case (a, b) => (a.map(rw(_, active)), b.map(rw(_, active))) }, n)
      case CaseExpr(o, bs, el) => CaseExpr(o.map(rw(_, active)),
        bs.map { case (w, th) => (rw(w, active), rw(th, active)) },
        el.map(rw(_, active)))
      case TupleExpr(items) => TupleExpr(items.map(rw(_, active)))
      case ItemAccess(x, idx) => ItemAccess(rw(x, active), rw(idx, active))
      case other => other // RawSql: opaque, nothing to rewrite
    }
    def r(e: Expr): Expr = rw(e, Set.empty)
    val fromR = q.from.map {
      case SubquerySource(sub, a) => SubquerySource(desugarInlineAliases(sub), a)
      case other => other
    }
    if (defs.isEmpty && (fromR == q.from)) q
    else q.copy(
      select = q.select.map(si => si.copy(e = r(si.e))),
      from = fromR,
      joins = q.joins.map {
        case jc @ JoinClause(_, _, _, on, pred) => jc.copy(
          on = on.map { case (l, rr) => (l.map(r), rr.map(r)) },
          pred = pred.map(r))
        case aj @ ArrayJoinClause(_, items, pred) => aj.copy(
          items = items.map(si => si.copy(e = r(si.e))), pred = pred.map(r))
      },
      where = q.where.map(r),
      groupBy = q.groupBy.map(si => si.copy(e = r(si.e))),
      having = q.having.map(r),
      orderBy = q.orderBy.map(oi => oi.copy(e = r(oi.e))))
  }

  private final class P(toks: Vector[Tok]) {
    private var i = 0
    private def cur: Tok = toks(i)
    private def bump(): Tok = { val t = toks(i); i += 1; t }
    private def fail(msg: String): Nothing = throw QLParseException(msg, cur.pos)
    private def isKw(s: String): Boolean = cur match {
      case TKw(k, _) => k == s
      case _ => false
    }
    private def takeKw(s: String): Unit =
      if (isKw(s)) i += 1 else fail(s"expected $s")
    private def tryKw(s: String): Boolean = { if (isKw(s)) { i += 1; true } else false }
    private def isOp(s: String): Boolean = cur match {
      case TOp(o, _) => o == s
      case _ => false
    }
    private def takeOp(s: String): Unit =
      if (isOp(s)) i += 1 else fail(s"expected '$s'")
    private def tryOp(s: String): Boolean = { if (isOp(s)) { i += 1; true } else false }
    private def ident(): String = bump() match {
      case TIdent(s, _) => s
      // a reserved word where an identifier is required is a firm
      // diagnostic (parser.ypp / ql_query_ut.cpp KeywordAlias:
      // "unexpected keyword"), raised as IllegalArgumentException with
      // the reference's wording rather than a generic parse error
      case TKw(k, pos) => throw new IllegalArgumentException(
        s"unexpected keyword ${k.toLowerCase} at $pos")
      case t => throw QLParseException("expected identifier", t.pos)
    }

    def fullQuery(): Query = {
      val q = queryBody()
      cur match {
        case TEnd(_) =>
        case t => throw QLParseException("trailing input", t.pos)
      }
      q
    }

    /** One query production WITHOUT the end-of-input demand — the
      * FROM-subquery branch stops at its closing `)`. */
    private def queryBody(): Query = {
      tryKw("SELECT")
      val select = selectList()
      val from = if (tryKw("FROM")) {
        if (tryOp("(")) {
          val sub = queryBody()
          takeOp(")")
          val alias =
            if (tryKw("AS")) Some(ident())
            else cur match {
              case TIdent(s, _) => i += 1; Some(s)
              case _ => None
            }
          Some(SubquerySource(sub, alias))
        } else Some(tableRef())
      } else None
      val withIndex =
        if (isKw("WITH") && peekKw(1) == Some("INDEX")) {
          takeKw("WITH"); takeKw("INDEX")
          bump() match {
            case TTable(p, _) => Some(p)
            case TIdent(s, _) => Some(s)
            case t => throw QLParseException("expected index table", t.pos)
          }
        } else None
      // WITH HINT {yson map}: an execution hint (KwWithHint) — parsed
      // and dropped; Catalyst/AQE own physical decisions here
      skipWithHint()
      val joins = joinClauses()
      val where = if (tryKw("WHERE")) Some(expr()) else None
      var totals: TotalsMode = NoTotals
      var groupBy: Seq[SelectItem] = Nil
      var having: Option[Expr] = None
      if (isKw("GROUP")) {
        takeKw("GROUP"); takeKw("BY")
        groupBy = selectList()
        if (isKw("WITH") && peekKw(1) == Some("TOTALS")) {
          takeKw("WITH"); takeKw("TOTALS"); totals = TotalsBeforeHaving
        }
        if (tryKw("HAVING")) having = Some(expr())
        if (isKw("WITH") && peekKw(1) == Some("TOTALS")) {
          takeKw("WITH"); takeKw("TOTALS")
          totals = if (having.isDefined) TotalsAfterHaving else TotalsBeforeHaving
        }
      }
      val orderBy =
        if (isKw("ORDER")) {
          takeKw("ORDER"); takeKw("BY")
          val items = Vector.newBuilder[OrderItem]
          var more = true
          while (more) {
            val e = expr()
            val desc = if (tryKw("DESC")) true else { tryKw("ASC"); false }
            items += OrderItem(e, desc)
            more = tryOp(",")
          }
          items.result()
        } else Nil
      var offset: Option[Long] = None
      var limit: Option[Long] = None
      // OFFSET k LIMIT n (QL order) or LIMIT n [OFFSET k]
      while (isKw("OFFSET") || isKw("LIMIT")) {
        if (tryKw("OFFSET")) offset = Some(intLit())
        else { takeKw("LIMIT"); limit = Some(intLit()) }
      }
      Query(select, from, withIndex, joins, where, groupBy, totals, having,
        orderBy, offset, limit)
    }

    private def peekKw(ahead: Int): Option[String] = toks.lift(i + ahead).collect {
      case TKw(k, _) => k
    }

    /** `WITH HINT {yson}` or `WITH HINT "{yson}"` — skipped. */
    private def skipWithHint(): Unit =
      if (isKw("WITH") && peekKw(1) == Some("HINT")) {
        takeKw("WITH"); takeKw("HINT")
        cur match {
          case TStr(_, _) => i += 1
          case _ =>
            takeOp("{")
            var depth = 1
            while (depth > 0) bump() match {
              case TOp("{", _) => depth += 1
              case TOp("}", _) => depth -= 1
              case TEnd(p) => throw QLParseException("unterminated WITH HINT", p)
              case _ =>
            }
        }
      }

    private def intLit(): Long = bump() match {
      case TInt(v, _) => v
      case t => throw QLParseException("expected integer literal", t.pos)
    }

    private def selectList(): Seq[SelectItem] = {
      val out = Vector.newBuilder[SelectItem]
      var more = true
      while (more) {
        if (isOp("*")) { bump(); out += SelectItem(Star, None) }
        else {
          val e = expr()
          val alias =
            if (tryKw("AS")) Some(ident())
            else cur match {
              // bare alias (identifier not followed by '(' and not a keyword)
              case TIdent(s, _) if !toks.lift(i + 1).exists {
                case TOp("(", _) => true; case _ => false } =>
                i += 1; Some(s)
              case _ => None
            }
          out += SelectItem(e, alias)
        }
        more = tryOp(",")
      }
      out.result()
    }

    private def tableRef(): TableRef = {
      val path = bump() match {
        case TTable(p, _) => p
        case TIdent(s, _) => s
        case t => throw QLParseException("expected table", t.pos)
      }
      val alias =
        if (tryKw("AS")) Some(ident())
        else cur match {
          case TIdent(s, _) => i += 1; Some(s)
          case _ => None
        }
      TableRef(path, alias)
    }

    private def joinClauses(): Seq[JoinLike] = {
      val out = Vector.newBuilder[JoinLike]
      var more = true
      while (more) {
        val save = i
        val isLeft = tryKw("LEFT")
        if (tryKw("ARRAY")) {
          takeKw("JOIN")
          val items = selectList()
          val pred = if (tryKw("AND")) Some(expr()) else None
          out += ArrayJoinClause(isLeft, items, pred)
        } else if (tryKw("JOIN")) {
          val t = tableRef()
          // WITH HINT on a join clause (test_query.py:2556
          // push_down_group_by hint) — execution hint, parsed + dropped
          skipWithHint()
          if (tryKw("USING")) {
            val cols = Vector.newBuilder[String]
            cols += ident()
            while (tryOp(",")) cols += ident()
            // `USING cols AND predicate` (test_query.py:2446):
            // the predicate filters the foreign side
            val pred = if (tryKw("AND")) Some(expr()) else None
            out += JoinClause(isLeft, t, cols.result(), None, pred)
          } else {
            takeKw("ON")
            // sides sit below `=` in the grammar (parser.ypp:385:
            // ON bitor-op-expr = bitor-op-expr [AND predicate])
            val lhs = asTuple(bitOrExprPublic())
            takeOp("=")
            val rhs = asTuple(bitOrExprPublic())
            val pred = if (tryKw("AND")) Some(expr()) else None
            out += JoinClause(isLeft, t, Nil, Some((lhs, rhs)), pred)
          }
        } else { i = save; more = false }
      }
      out.result()
    }

    private def bitOrExprPublic(): Expr = bitOrExpr()

    // precedence chain (parser.ypp)
    def expr(): Expr = orExpr()

    private def orExpr(): Expr = {
      var e = andExpr()
      while (tryKw("OR")) e = Bin("OR", e, andExpr())
      e
    }
    private def andExpr(): Expr = {
      var e = notExpr()
      while (tryKw("AND")) e = Bin("AND", e, notExpr())
      e
    }
    private def notExpr(): Expr =
      if (tryKw("NOT")) Un("NOT", notExpr()) else isNullExpr()

    private def isNullExpr(): Expr = {
      var e = equalExpr()
      while (isKw("IS")) {
        takeKw("IS")
        val neg = tryKw("NOT")
        takeKw("NULL")
        e = IsNullOp(e, neg)
      }
      e
    }

    private def equalExpr(): Expr = {
      var e = likeExpr()
      var more = true
      while (more) {
        if (tryOp("=")) e = Bin("=", e, likeExpr())
        else if (tryOp("!=") || tryOp("<>")) e = Bin("!=", e, likeExpr())
        else more = false
      }
      e
    }

    private def likeExpr(): Expr = {
      var e = relExpr()
      var more = true
      while (more) {
        val neg = isKw("NOT") && peekKw(1).exists(Set("LIKE", "ILIKE", "RLIKE", "REGEXP"))
        if (neg) takeKw("NOT")
        if (tryKw("LIKE")) e = likeTail(e, "LIKE", neg)
        else if (tryKw("ILIKE")) e = likeTail(e, "ILIKE", neg)
        else if (tryKw("RLIKE")) e = likeTail(e, "RLIKE", neg)
        else if (tryKw("REGEXP")) e = likeTail(e, "RLIKE", neg)
        else { if (neg) fail("dangling NOT"); more = false }
      }
      e
    }
    private def likeTail(e: Expr, kind: String, neg: Boolean): Expr = {
      val pat = relExpr()
      val esc = if (tryKw("ESCAPE")) Some(relExpr()) else None
      LikeOp(e, kind, pat, esc, neg)
    }

    private def relExpr(): Expr = {
      var e = bitOrExpr()
      var more = true
      while (more) {
        if (tryOp("<")) e = Bin("<", e, bitOrExpr())
        else if (tryOp("<=")) e = Bin("<=", e, bitOrExpr())
        else if (tryOp(">")) e = Bin(">", e, bitOrExpr())
        else if (tryOp(">=")) e = Bin(">=", e, bitOrExpr())
        else if (isKw("NOT") && peekKw(1).exists(Set("IN", "BETWEEN"))) {
          takeKw("NOT")
          if (tryKw("IN")) e = inTail(e, negated = true)
          else { takeKw("BETWEEN"); e = betweenTail(e, negated = true) }
        } else if (tryKw("IN")) e = inTail(e, negated = false)
        else if (tryKw("BETWEEN")) e = betweenTail(e, negated = false)
        else more = false
      }
      e
    }

    private def asTuple(e: Expr): Seq[Expr] = e match {
      case TupleExpr(items) => items
      case other => Seq(other)
    }

    private def inTail(e: Expr, negated: Boolean): Expr = {
      takeOp("(")
      val rows = Vector.newBuilder[Seq[Expr]]
      rows += asTuple(expr())
      while (tryOp(",")) rows += asTuple(expr())
      takeOp(")")
      InList(asTuple(e), rows.result(), negated)
    }

    private def betweenTail(e: Expr, negated: Boolean): Expr = {
      val tup = asTuple(e)
      // forms (parser.ypp:623-647): `BETWEEN lo AND hi`,
      // `BETWEEN (lo1 AND hi1, lo2 AND hi2, ...)` (range list), with
      // tuple bounds in either. Bounds parse below AND — bitOrExpr —
      // so the range-list AND separator stays unambiguous.
      if (tryOp("(")) {
        val first = bitOrExpr()
        if (tryOp(",")) {
          // parenthesized lower tuple: (a, b) AND (hi...)
          val items = Vector.newBuilder[Expr]
          items += first
          items += bitOrExpr()
          while (tryOp(",")) items += bitOrExpr()
          takeOp(")")
          takeKw("AND")
          BetweenOp(tup, Seq((items.result(), asTuple(bitOrExpr()))), negated)
        } else if (tryKw("AND")) {
          val ranges = Vector.newBuilder[(Seq[Expr], Seq[Expr])]
          ranges += ((asTuple(first), asTuple(bitOrExpr())))
          while (tryOp(",")) {
            val lo = bitOrExpr(); takeKw("AND"); val hi = bitOrExpr()
            ranges += ((asTuple(lo), asTuple(hi)))
          }
          takeOp(")")
          BetweenOp(tup, ranges.result(), negated)
        } else {
          takeOp(")")
          takeKw("AND")
          BetweenOp(tup, Seq((asTuple(first), asTuple(bitOrExpr()))), negated)
        }
      } else {
        val lo = bitOrExpr()
        takeKw("AND")
        val hi = bitOrExpr()
        BetweenOp(tup, Seq((asTuple(lo), asTuple(hi))), negated)
      }
    }

    private def bitOrExpr(): Expr = {
      var e = bitAndExpr()
      while (tryOp("|")) e = Bin("|", e, bitAndExpr())
      e
    }
    private def bitAndExpr(): Expr = {
      var e = shiftExpr()
      while (tryOp("&")) e = Bin("&", e, shiftExpr())
      e
    }
    private def shiftExpr(): Expr = {
      var e = addExpr()
      var more = true
      while (more) {
        if (tryOp("<<")) e = Bin("<<", e, addExpr())
        else if (tryOp(">>")) e = Bin(">>", e, addExpr())
        else more = false
      }
      e
    }
    private def addExpr(): Expr = {
      var e = mulExpr()
      var more = true
      while (more) {
        if (tryOp("+")) e = Bin("+", e, mulExpr())
        else if (tryOp("-")) e = Bin("-", e, mulExpr())
        else if (tryOp("||")) e = Bin("||", e, mulExpr())
        else more = false
      }
      e
    }
    private def mulExpr(): Expr = {
      var e = unaryExpr()
      var more = true
      while (more) {
        if (tryOp("*")) e = Bin("*", e, unaryExpr())
        else if (tryOp("/")) e = Bin("/", e, unaryExpr())
        else if (tryOp("%")) e = Bin("%", e, unaryExpr())
        else if (cur match { case TIdent(s, _) if s.equalsIgnoreCase("div") => true; case _ => false }) {
          bump(); e = Bin("DIV", e, unaryExpr())
        } else more = false
      }
      e
    }
    private def unaryExpr(): Expr =
      if (tryOp("-")) Un("-", unaryExpr())
      else if (tryOp("+")) unaryExpr()
      else if (tryOp("~")) Un("~", unaryExpr())
      else postfixExpr()

    private def postfixExpr(): Expr = {
      var e = atom()
      var more = true
      while (more) {
        if (tryOp("[")) {
          val idx = expr()
          takeOp("]")
          e = ItemAccess(e, idx)
        } else if (isOp(".") && (e match {
          case _: Ref => true
          case _ => false
        })) {
          bump()
          // SyntaxV2 positional member access: `t.tuple.0.b` addresses
          // tuple elements by index (ql_query_ut.cpp
          // CompositeMemberAccessorTuple) — a digit segment is legal
          val parts = e.asInstanceOf[Ref].parts
          e = cur match {
            case TInt(v, _) if v >= 0 => bump(); Ref(parts :+ v.toString)
            case _ => Ref(parts :+ ident())
          }
        } else more = false
      }
      e
    }

    private def atom(): Expr = bump() match {
      case TInt(v, _) => IntLit(v)
      case TUInt(b, _) => UIntLit(b)
      case TDouble(v, _) => DoubleLit(v)
      case TStr(v, _) => StrLit(v)
      case TKw("TRUE", _) => BoolLit(true)
      case TKw("FALSE", _) => BoolLit(false)
      case TKw("NULL", _) => NullLit
      case TKw("INF", _) => DoubleLit(Double.PositiveInfinity)
      case TOp("#", _) => NullLit // yson entity
      case TKw("CASE", _) => caseExpr()
      case TIdent(name, _) =>
        if (tryOp("(")) {
          val distinct = tryKw("DISTINCT")
          val args = Vector.newBuilder[Expr]
          if (!isOp(")")) {
            if (isOp("*")) { bump(); args += Star } // count(*)
            else args += expr()
            while (tryOp(",")) args += expr()
          }
          takeOp(")")
          Call(name, args.result(), distinct)
        } else Ref(Seq(name))
      case TOp("(", p) =>
        val first = expr()
        if (isKw("AS")) {
          // parenthesized inline alias: `(expr AS x)` names the value
          // for reuse anywhere in the query (parser.ypp expression rule)
          bump()
          val name = ident()
          takeOp(")")
          InlineAlias(first, name)
        } else if (tryOp(",")) {
          val items = Vector.newBuilder[Expr]
          items += first
          items += expr()
          while (tryOp(",")) items += expr()
          takeOp(")")
          TupleExpr(items.result())
        } else { takeOp(")"); first }
      case t => throw QLParseException("unexpected token", t.pos)
    }

    private def caseExpr(): Expr = {
      val operand = if (!isKw("WHEN")) Some(expr()) else None
      val branches = Vector.newBuilder[(Expr, Expr)]
      while (tryKw("WHEN")) {
        val w = expr()
        takeKw("THEN")
        branches += ((w, expr()))
      }
      val elseE = if (tryKw("ELSE")) Some(expr()) else None
      takeKw("END")
      branches.result() match {
        case bs if bs.nonEmpty => CaseExpr(operand, bs, elseE)
        case _ => fail("CASE needs at least one WHEN")
      }
    }
  }
}
