package graft.ql

import QLParser._

/** Lower the QL AST to Spark SQL text (the Catalyst hand-off — same
  * division as the reference's query_preparer feeding its execution
  * engine). Lowerings:
  *
  *   - `[//path]` tables → temp-view names ([[SelectRows.viewName]]);
  *   - tuple `=` / `IN` → conjunction/disjunction chains (the
  *     IsRowInRowset lowering, type-agnostic);
  *   - tuple `BETWEEN` → lexicographic range expansion
  *     (key_trie.cpp's prefix-range semantics);
  *   - uint64 literals → two's-complement Long bits; ordering
  *     comparisons with a uint64 operand → biased u64_* comparators;
  *   - `GROUP BY expr AS alias` → alias-substituted projection;
  *   - `WITH TOTALS` → group rows UNION ALL a totals row; ORDER BY /
  *     LIMIT bind to the group rows only, BeforeHaving totals all
  *     groups while AfterHaving semi-joins the surviving keys, empty
  *     input yields no totals row, null group keys raise
  *     (ql_query_ut.cpp GroupByTotalsOrderBy / GroupByWithTotalsEmpty /
  *     GroupByWithTotalsNulls);
  *   - `OFFSET k LIMIT n` → `LIMIT n OFFSET k`;
  *   - `WITH INDEX` is handled upstream by [[SelectRows]] (view swap
  *     into the plans/SecondaryIndex scan + semi-join); the emitter
  *     itself drops the clause from the SQL text.
  */
object QLEmitter {

  /** UseCanonicalNullRelations (query_common.h): when true,
    * comparisons keep SQL three-valued logic instead of QL's default
    * null-smallest / null-equals-null lowering. Scoped per transpile
    * by [[SelectRows.apply]]. */
  val canonicalNulls = new scala.util.DynamicVariable[Boolean](false)

  /** Declared ascending-key prefix per table path (from YtSortOrderKey
    * field metadata), scoped per transpile by [[SelectRows.apply]].
    * Feeds the OrderByPrimaryKeyPrefix elision (ql_query_ut.cpp:857,
    * query_preparer.cpp: an ORDER BY matching the table's key prefix
    * drops the OrderClause — rows already arrive in key order, so the
    * page is a plain offset/limit over the ordered scan). At scale
    * this replaces a full top-k pass over every row with a
    * short-circuited limit on the leading key ranges. */
  val sortedKeysOf = new scala.util.DynamicVariable[Map[String, Seq[String]]](Map.empty)

  /** Typed `Any` comparison lowering (composite_compare.cpp
    * CompareYsonValues; ql_query_ut.cpp CompareAny/CompareAnyMixed/
    * OrderByAny): when an operand of a comparison is an Any column
    * (per the [[TableCols]] inventories from [[SelectRows.anyScope]])
    * or an Any-producing call, ordering ops route through
    * `any_compare` and ORDER BY keys through `any_sort_key` (an
    * order-isomorphic byte encoding, so the sort stays a plain
    * distributed binary sort). A typed operand mixed with an Any one
    * is wrapped in `to_any` first. Equality needs no rewrite between
    * two Any values — the carrier is canonical JSON, so string
    * equality IS typed equality. */
  /** A table's column inventory: all field names plus the subsets
    * carrying the `any` and `uint64` logical types. Tracked PER TABLE
    * so a typed column in one join side is never routed through the
    * Any ordering just because another table has an Any column of the
    * same name. uint64 columns carry their bits in a signed Long; the
    * rewrite routes their comparisons/division/ordering through the
    * biased u64_* forms so unsigned semantics survive
    * (row_base.h EValueType::Uint64; functions/Uint64). */
  final case class TableCols(all: Set[String], any: Set[String],
      u64: Set[String] = Set.empty)

  /** `byTable` maps VIEW names (not aliases) to their column
    * inventories; a ref no inventory tags as Any (every ref, when
    * `byTable` is empty) is typed. */
  def toSql(q: Query, byTable: Map[String, TableCols]): String =
    toSql(rewriteAnyQuery(q, byTable))

  /** Aliases visible in `q`'s FROM/JOIN scope → their inventories. */
  private def scopeOf(q: Query, byTable: Map[String, TableCols]): Map[String, TableCols] = {
    def ofTable(path: String, alias: Option[String]): (String, TableCols) = {
      val vn = SelectRows.viewName(path)
      alias.getOrElse(vn) -> byTable.getOrElse(vn, TableCols(Set.empty, Set.empty))
    }
    val fromScope = q.from.map {
      case TableRef(path, alias) => ofTable(path, alias)
      case SubquerySource(sub, alias) =>
        alias.getOrElse("_sub") -> subqueryCols(sub, byTable)
    }
    val joinScope = q.joins.collect {
      case JoinClause(_, TableRef(path, alias), _, _, _) => ofTable(path, alias)
    }
    (fromScope ++ joinScope).toMap
  }

  /** The output inventory of a subquery source: select-item names, Any
    * iff the item's expression is Anyish in the subquery's own scope. */
  private def subqueryCols(sub: Query, byTable: Map[String, TableCols]): TableCols = {
    val inner = scopeOf(sub, byTable)
    val named = sub.select.flatMap { si =>
      val name = si.alias.orElse(si.e match {
        case Ref(parts) => Some(parts.last)
        case _ => None
      })
      name.map(n => (n, isAnyish(si.e, inner), isU64ish(si.e, inner)))
    }
    val starCols =
      if (sub.select.exists(_.e == Star)) inner.values.toSeq else Nil
    TableCols(
      named.map(_._1).toSet ++ starCols.flatMap(_.all),
      named.collect { case (n, true, _) => n }.toSet ++ starCols.flatMap(_.any),
      named.collect { case (n, _, true) => n }.toSet ++ starCols.flatMap(_.u64))
  }

  private def isAnyish(e: Expr, scope: Map[String, TableCols]): Boolean = e match {
    case Ref(parts) =>
      if (parts.length >= 2 && scope.contains(parts.head))
        scope(parts.head).any.contains(parts(1))
      else {
        // unqualified: Any iff every in-scope owner tags it Any
        val c = parts.last
        val owners = scope.values.filter(_.all.contains(c))
        owners.nonEmpty && owners.forall(_.any.contains(c))
      }
    case Call(n, _, _) =>
      n == "to_any" || n == "yson_string_to_any" || n == "get_any" || n == "try_get_any"
    case _ => false
  }

  /** A uint64-typed operand: a `Nu` literal, a column the schema tags
    * `uint64`, or an unsigned-producing call. */
  private def isU64ish(e: Expr, scope: Map[String, TableCols]): Boolean = e match {
    case UIntLit(_) => true
    case Ref(parts) =>
      if (parts.length >= 2 && scope.contains(parts.head))
        scope(parts.head).u64.contains(parts(1))
      else {
        val c = parts.last
        val owners = scope.values.filter(_.all.contains(c))
        owners.nonEmpty && owners.forall(_.u64.contains(c))
      }
    case Call(n, _, _) =>
      Set("u64_div", "u64_mod", "parse_uint64", "parse_u64", "uint64")(n.toLowerCase)
    case _ => false
  }

  private def rewriteAnyExpr(e: Expr, scope: Map[String, TableCols]): Expr = {
    def anyish(x: Expr) = isAnyish(x, scope)
    def u64ish(x: Expr) = isU64ish(x, scope)
    def wrap(x: Expr): Expr =
      if (anyish(x)) x else Call("to_any", Seq(x))
    // make_list / make_map build an ANY value in the reference
    // (ql_query_ut.cpp MakeList / MakeMapSuccess: mixed element types,
    // nested Any, entity nulls). Uniform typed arguments keep the
    // native array/map lowering; mixed literal kinds, Any refs, null
    // literals, or make_entity() switch to the JSON-carrier builders.
    def litKind(x: Expr): Option[String] = x match {
      case IntLit(_) => Some("i")
      case UIntLit(_) => Some("u")
      case DoubleLit(_) => Some("d")
      case StrLit(_) => Some("s")
      case BoolLit(_) => Some("b")
      case _ => None
    }
    def needsAnyForm(args: Seq[Expr]): Boolean = {
      val kinds = args.flatMap(litKind).distinct
      kinds.length > 1 || args.exists(anyish) ||
        args.contains(NullLit) ||
        args.exists { case Call("make_entity", _, _) => true; case _ => false }
    }
    mapRefs(e) {
      case Bin(op @ ("<" | "<=" | ">" | ">="), l, r) if anyish(l) || anyish(r) =>
        Some(Bin("raw" + op, Call("any_compare", Seq(wrap(l), wrap(r))), IntLit(0)))
      // uint64 columns carry raw bits — ordering comparisons, division
      // and modulo route through the unsigned forms (functions/Uint64)
      case Bin(op @ ("<" | "<=" | ">" | ">="), l, r) if u64ish(l) || u64ish(r) =>
        val fn = Map("<" -> "u64_lt", "<=" -> "u64_leq",
          ">" -> "u64_gt", ">=" -> "u64_geq")(op)
        Some(Bin("raw=", Call(fn,
          Seq(rewriteAnyExpr(l, scope), rewriteAnyExpr(r, scope))),
          BoolLit(true)))
      case Bin("/", l, r) if u64ish(l) || u64ish(r) =>
        Some(Call("u64_div",
          Seq(rewriteAnyExpr(l, scope), rewriteAnyExpr(r, scope))))
      case Bin("%", l, r) if u64ish(l) || u64ish(r) =>
        Some(Call("u64_mod",
          Seq(rewriteAnyExpr(l, scope), rewriteAnyExpr(r, scope))))
      case Bin(op @ ("=" | "!="), l, r) if anyish(l) != anyish(r) =>
        Some(Bin(op, wrap(l), wrap(r)))
      case Call("make_list", args, _) if needsAnyForm(args) =>
        Some(Call("any_make_list",
          args.map(a => wrap(rewriteAnyExpr(a, scope)))))
      case Call("make_map", args, _) =>
        require(args.length % 2 == 0,
          "make_map: expected an even number of arguments")
        args.grouped(2).foreach { kv =>
          litKind(kv.head).foreach(k => require(k == "s",
            "make_map: map keys must be strings"))
        }
        if (needsAnyForm(args.grouped(2).map(_.last).toSeq))
          Some(Call("any_make_map",
            args.map(a => wrap(rewriteAnyExpr(a, scope)))))
        else None
      // list functions over Any-carrier lists compare canonical JSON
      // fragments element-wise (ql_query_ut.cpp ListHasIntersection:
      // entity elements never match, an empty side has no intersection)
      case Call("list_has_intersection", args, _) if args.exists(anyish) =>
        Some(Call("any_list_has_intersection",
          args.map(a => wrap(rewriteAnyExpr(a, scope)))))
      case Call("list_contains", Seq(l, v), _) if anyish(l) =>
        // the needle must be a concrete v1 scalar — an Any needle is a
        // type error (ql_expressions_ut.cpp ListContainsAny: "Wrong
        // type for argument")
        if (anyish(v)) throw new IllegalArgumentException(
          "Wrong type for argument 2 to function list_contains")
        Some(Call("any_list_contains",
          Seq(wrap(rewriteAnyExpr(l, scope)),
            wrap(rewriteAnyExpr(v, scope)))))
      case _ => None
    }
  }

  /** Walk every node of an expression tree. */
  private def foreachExpr(e: Expr)(f: Expr => Unit): Unit = {
    f(e)
    def go(x: Expr) = foreachExpr(x)(f)
    e match {
      case Call(_, args, _) => args.foreach(go)
      case Bin(_, l, r) => go(l); go(r)
      case Un(_, x) => go(x)
      case IsNullOp(x, _) => go(x)
      case LikeOp(x, _, p, esc, _) => go(x); go(p); esc.foreach(go)
      case InList(t, rows, _) => t.foreach(go); rows.foreach(_.foreach(go))
      case BetweenOp(t, rs, _) =>
        t.foreach(go); rs.foreach { case (a, b) => a.foreach(go); b.foreach(go) }
      case CaseExpr(o, bs, el) =>
        o.foreach(go); bs.foreach { case (w, th) => go(w); go(th) }; el.foreach(go)
      case TupleExpr(items) => items.foreach(go)
      case ItemAccess(x, i) => go(x); go(i)
      case _ => ()
    }
  }

  /** Prepare-time diagnostics on USER queries, mirroring the
    * reference's TQueryPrepareTest surface (ql_query_ut.cpp:
    * MisuseAggregateFunction, FailedTypeInference,
    * ResultSchemaCollision, JoinColumnCollision). Called by
    * [[SelectRows.transpile]] before lowering — NOT from toSql, which
    * also lowers synthesized helper queries (the WITH TOTALS totals
    * row is a legitimate global aggregate). Recurses into FROM
    * subqueries. Throws IllegalArgumentException: these are semantic
    * diagnostics on a well-formed query, not parse errors, so they
    * carry no QLParseException position. */
  def validate(q: Query, byTable: Map[String, TableCols]): Unit =
    validateScoped(q, byTable)

  /** Nesting depth of an expression tree (for the reference's
    * MaxExpressionDepth = 50 guard, ql_query_ut.cpp TooBigQuery /
    * FormatQueryDepthLimit). */
  private def depthOf(e: Expr): Int = {
    def maxOf(xs: Seq[Expr]): Int = if (xs.isEmpty) 0 else xs.map(depthOf).max
    1 + (e match {
      case Call(_, args, _) => maxOf(args)
      case Bin(_, l, r) => maxOf(Seq(l, r))
      case Un(_, x) => depthOf(x)
      case IsNullOp(x, _) => depthOf(x)
      case LikeOp(x, _, p, esc, _) => maxOf(Seq(x, p) ++ esc)
      case InList(t, rows, _) => maxOf(t ++ rows.flatten)
      case BetweenOp(t, rs, _) =>
        maxOf(t ++ rs.flatMap { case (a, b) => a ++ b })
      case CaseExpr(o, bs, el) =>
        maxOf(o.toSeq ++ bs.flatMap { case (w, th) => Seq(w, th) } ++ el)
      case TupleExpr(items) => maxOf(items)
      case ItemAccess(x, i) => maxOf(Seq(x, i))
      case _ => 0
    })
  }
  private val MaxExpressionDepth = 50
  /** query_preparer.cpp:35 MaxJoinNumber. */
  private val MaxJoinNumber = 200

  private def validateScoped(q: Query, byTable: Map[String, TableCols]): Unit = {
    val scope = scopeOf(q, byTable)
    // join count cap (query_preparer.cpp:1110, ql_query_ut.cpp BigJoin)
    if (q.joins.count(_.isInstanceOf[JoinClause]) > MaxJoinNumber)
      throw new IllegalArgumentException(
        "The number of joins exceeds the allowed maximum. Consider rewriting the query.")
    // expression depth cap (TooBigQuery: 50 chained "+ i" terms raise)
    (q.select.map(_.e) ++ q.where ++ q.groupBy.map(_.e) ++ q.having ++
      q.orderBy.map(_.e)).foreach { e =>
      if (depthOf(e) > MaxExpressionDepth)
        throw new IllegalArgumentException("Maximum expression depth exceeded")
    }
    // Misuse of aggregate: aggregates cannot nest …
    (q.select.map(_.e) ++ q.having).foreach { e =>
      foreachExpr(e) {
        case Call(n, args, _) if aggNames(n.toLowerCase) && args.exists(containsAgg) =>
          throw new IllegalArgumentException(
            s"""Misuse of aggregate function "$n": aggregate arguments cannot contain aggregates""")
        case _ => ()
      }
    }
    // … and require a GROUP BY clause (no implicit global aggregation)
    if (q.groupBy.isEmpty) {
      q.select.map(_.e).foreach { e =>
        foreachExpr(e) {
          case Call(n, _, _) if aggNames(n.toLowerCase) =>
            throw new IllegalArgumentException(
              s"""Misuse of aggregate function "$n": no GROUP BY clause""")
          case _ => ()
        }
      }
    }
    // a bare untyped NULL projection has no inferable type
    q.select.foreach {
      case SelectItem(NullLit, _) =>
        throw new IllegalArgumentException(
          "Type inference failed: untyped NULL projection")
      case _ => ()
    }
    // output alias collision
    val aliases = q.select.flatMap(_.alias)
    aliases.diff(aliases.distinct).headOption.foreach { a =>
      throw new IllegalArgumentException(
        s"""Alias "$a" has been already used""")
    }
    // OFFSET requires LIMIT; ORDER BY requires LIMIT (the reference
    // top-k contract, ql_query_ut.cpp OffsetLimit/OrderByWithoutLimit —
    // an unbounded distributed sort is never what a QL caller means)
    if (q.offset.nonEmpty && q.limit.isEmpty)
      throw new IllegalArgumentException("OFFSET used without LIMIT")
    if (q.orderBy.nonEmpty && q.limit.isEmpty)
      throw new IllegalArgumentException("ORDER BY used without LIMIT")
    // greatest() cannot infer a type for an untyped NULL argument
    // (ql_query_ut.cpp GreatestError); an entity literal in an IN
    // rowset cannot type against an Any operand (AnyInNull)
    (q.select.map(_.e) ++ q.where ++ q.groupBy.map(_.e) ++ q.having ++
      q.orderBy.map(_.e)).foreach { e =>
      foreachExpr(e) {
        case Call(n, args, _) if n.equalsIgnoreCase("greatest") &&
            args.contains(NullLit) =>
          throw new IllegalArgumentException(
            "Type inference failed: greatest with untyped NULL argument")
        case InList(tuple, rows, _) if rows.flatten.contains(NullLit) &&
            tuple.exists(t => isAnyish(t, scope)) =>
          throw new IllegalArgumentException(
            "Cannot use expression of type null with an Any operand in IN")
        case _ => ()
      }
    }
    // Ambiguous resolution over joins (schema-aware catalogs only):
    // an unqualified column living in 2+ scope tables must be a USING
    // key; `*` must not expand overlapping non-key columns
    val tables = scope.values.toSeq.filter(_.all.nonEmpty)
    if (tables.length >= 2) {
      // names a ref may use unqualified despite living in 2+ tables:
      // USING keys, same-name ON equi-keys (equal by construction),
      // and aliases DEFINED by this query (select/group-by/array-join
      // aliases shadow source columns, GroupByAlias semantics)
      val usingCols = q.joins.collect {
        case JoinClause(_, _, u, _, _) => u
      }.flatten.toSet ++ q.joins.collect {
        case JoinClause(_, _, _, Some((l, r)), _) =>
          l.zip(r).collect {
            case (Ref(lp), Ref(rp)) if lp.last == rp.last => lp.last
          }
      }.flatten ++ q.select.flatMap(_.alias) ++ q.groupBy.flatMap(_.alias) ++
        q.joins.collect {
          case ArrayJoinClause(_, items, _) => items.flatMap(_.alias)
        }.flatten
      def ambiguous(c: String) =
        !usingCols.contains(c) && tables.count(_.all.contains(c)) >= 2
      def checkScalar(e: Expr): Unit = foreachExpr(e) {
        case Ref(Seq(c)) if ambiguous(c) =>
          throw new IllegalArgumentException(
            s"""Ambiguous resolution for column "$c"""")
        case _ => ()
      }
      q.select.foreach {
        case SelectItem(Star, _) =>
          tables.flatMap(_.all.toSeq).groupBy(identity).collectFirst {
            case (c, occ) if occ.size >= 2 && !usingCols.contains(c) => c
          }.foreach { c =>
            throw new IllegalArgumentException(
              s"""Ambiguous resolution for column "$c"""")
          }
        case si => checkScalar(si.e)
      }
      (q.where ++ q.having).foreach(checkScalar)
      q.groupBy.foreach(si => checkScalar(si.e))
      q.orderBy.foreach(o => checkScalar(o.e))
    }
    q.from.foreach {
      case SubquerySource(sub, _) => validateScoped(sub, byTable)
      case _ => ()
    }
  }

  private def rewriteAnyQuery(q: Query, byTable: Map[String, TableCols]): Query = {
    val scope = scopeOf(q, byTable)
    def rw(e: Expr): Expr = rewriteAnyExpr(e, scope)
    q.copy(
      select = q.select.map(si => si.copy(e = rw(si.e))),
      from = q.from.map {
        case SubquerySource(sub, a) => SubquerySource(rewriteAnyQuery(sub, byTable), a)
        case other => other
      },
      joins = q.joins.map {
        case j: JoinClause => j.copy(
          on = j.on.map { case (l, r) => (l.map(rw), r.map(rw)) },
          pred = j.pred.map(rw))
        case aj: ArrayJoinClause =>
          aj.copy(items = aj.items.map(si => si.copy(e = rw(si.e))), pred = aj.pred.map(rw))
      },
      where = q.where.map(rw),
      groupBy = q.groupBy.map(si => si.copy(e = rw(si.e))),
      having = q.having.map(rw),
      orderBy = q.orderBy.map { o =>
        val e1 = rw(o.e)
        if (isAnyish(e1, scope)) o.copy(e = Call("any_sort_key", Seq(e1)))
        // unsigned ordering: bias the bits so the signed sort is the
        // unsigned order (order-isomorphic, stays a plain binary sort)
        else if (isU64ish(e1, scope)) o.copy(e = Call("u64_sort_key", Seq(e1)))
        else o.copy(e = e1)
      })
  }

  def toSql(q: Query): String = {
    // Multi-item ARRAY JOIN is ZIPPED, not cartesian
    // (test_query.py:2008 test_array_join: lists align positionally,
    // the shorter pads with null) — lowered to one
    // explode(arrays_zip(...)) whose struct fields are reached through
    // the generated row alias. arrays_zip names fields after plain
    // column refs, positionally otherwise.
    val zipClauses = q.joins.collect {
      case c @ ArrayJoinClause(_, items, _) if items.length > 1 => c
    }
    val arrayJoinSubst: Map[String, Expr] = zipClauses.flatMap { c =>
      c.items.zipWithIndex.map { case (it, ix) =>
        val field = it.e match {
          case Ref(parts) => parts.last
          case _ => ix.toString
        }
        val alias = it.alias.getOrElse(s"value$ix")
        alias -> Ref(Seq("_ajz", field))
      }
    }.toMap
    // `GROUP BY a` where the SELECT list defines `expr AS a` groups by
    // the ALIAS, shadowing any source column of the same name — and the
    // shadowing is total: every OTHER reference to the name (aggregate
    // arguments included) sees the alias expression; only the defining
    // select item itself reads the raw column (ql_query_ut.cpp:4167
    // GroupByAlias: `a % 3 as a, sum(a + b) as b ... group by a` sums
    // (a % 3) + b). Aggregate-bearing select items never become keys.
    val selectAliasKeys: Map[String, Expr] = q.select.collect {
      case SelectItem(e, Some(a)) if !containsAgg(e) => a -> e
    }.toMap
    val groupByResolved = q.groupBy.map {
      case SelectItem(Ref(Seq(n)), None) if selectAliasKeys.contains(n) =>
        SelectItem(selectAliasKeys(n), Some(n))
      case si => si
    }
    // substitute GROUP BY + shadowing SELECT aliases into the projection
    val aliasMap: Map[String, Expr] = selectAliasKeys ++
      groupByResolved.collect { case SelectItem(e, Some(a)) => a -> e }.toMap ++
        arrayJoinSubst
    def substWith(e: Expr, m: Map[String, Expr]): Expr = {
      def go(e: Expr): Expr = e match {
        case Ref(Seq(one)) if m.contains(one) => m(one)
        case Ref(_) | IntLit(_) | UIntLit(_) | DoubleLit(_) | StrLit(_) |
             BoolLit(_) | NullLit | Star => e
        case Call(n, args, d) => Call(n, args.map(go), d)
        case Bin(op, l, r) => Bin(op, go(l), go(r))
        case Un(op, x) => Un(op, go(x))
        case IsNullOp(x, n) => IsNullOp(go(x), n)
        case LikeOp(x, k, p, esc, n) => LikeOp(go(x), k, go(p), esc.map(go), n)
        case InList(t, rows, n) => InList(t.map(go), rows.map(_.map(go)), n)
        case BetweenOp(t, rs, n) =>
          BetweenOp(t.map(go), rs.map { case (a, b) => (a.map(go), b.map(go)) }, n)
        case CaseExpr(o, bs, el) =>
          CaseExpr(o.map(go), bs.map { case (w, t) => (go(w), go(t)) }, el.map(go))
        case TupleExpr(items) => TupleExpr(items.map(go))
        case ItemAccess(x, idx) => ItemAccess(go(x), go(idx))
        case other => other // RawSql / InlineAlias: no refs to rewrite
      }
      go(e)
    }
    def subst(e: Expr): Expr = substWith(e, aliasMap)
    val select = q.select.map {
      // bare reference to a GROUP BY alias: substitute the expression
      // and keep the alias as the output name
      case SelectItem(Ref(Seq(one)), None) if aliasMap.contains(one) =>
        SelectItem(aliasMap(one), Some(one))
      // the item DEFINING an alias reads raw columns, not itself
      case SelectItem(e, a @ Some(name)) =>
        SelectItem(substWith(e, aliasMap - name), a)
      case SelectItem(e, a) => SelectItem(subst(e), a)
    }
    val groupExprs = groupByResolved.map(g =>
      substWith(g.e, g.alias.fold(aliasMap)(aliasMap - _)))

    val sb = new StringBuilder("SELECT ")
    sb.append(select.map(si => si.alias match {
      case Some(a) => s"${emit(si.e)} AS $a"
      case None => emit(si.e)
    }).mkString(", "))
    // FROM chain. Spark's grammar places lateralView* AFTER all join
    // relations, but QL interleaves ARRAY JOIN with table JOINs
    // (test_query.py:2043 test_array_join_with_table_join) — when an
    // ARRAY JOIN precedes a table JOIN, fold what we have so far into a
    // subselect (re-aliased to the base alias so qualified refs keep
    // resolving) and join against that.
    var fromSql = new StringBuilder
    var baseAlias: Option[String] = None
    q.from.foreach {
      case TableRef(path, alias) =>
        fromSql.append(SelectRows.viewName(path))
        alias.foreach(a => fromSql.append(" AS ").append(a))
        baseAlias = alias
      case SubquerySource(sub, alias) =>
        fromSql.append("(").append(toSql(sub)).append(")")
        alias.foreach(a => fromSql.append(" AS ").append(a))
        baseAlias = alias
    }
    var pendingLateral = false
    var ajIdx = 0
    q.joins.foreach {
      case JoinClause(isLeft, t, using, on, pred) =>
        if (pendingLateral) {
          val inner = fromSql.toString
          fromSql = new StringBuilder
          fromSql.append("(SELECT * FROM ").append(inner).append(")")
          baseAlias.foreach(a => fromSql.append(" AS ").append(a))
          pendingLateral = false
        }
        fromSql.append(if (isLeft) " LEFT JOIN " else " JOIN ")
        if (using.nonEmpty && pred.isDefined) {
          // `USING cols AND predicate` (test_query.py:2446
          // test_join_range_inference_uses_predicate): the predicate
          // filters the FOREIGN side before the join — lowered as a
          // filtered subselect so USING still unifies the key columns
          // (ON would leave both sides' keys ambiguous downstream).
          fromSql.append("(SELECT * FROM ").append(SelectRows.viewName(t.path))
            .append(" WHERE ").append(emit(pred.get)).append(")")
          t.alias.foreach(a => fromSql.append(" AS ").append(a))
        } else {
          fromSql.append(SelectRows.viewName(t.path))
          t.alias.foreach(a => fromSql.append(" AS ").append(a))
        }
        if (using.nonEmpty)
          fromSql.append(using.map(quoteIdent).mkString(" USING (", ", ", ")"))
        on.foreach { case (lhs, rhs) =>
          require(lhs.length == rhs.length, "ON tuple arity mismatch")
          val eqs = lhs.zip(rhs).map { case (a, b) => s"${emit(a)} = ${emit(b)}" }
          val cond = pred.map(p => eqs :+ emit(p)).getOrElse(eqs)
          fromSql.append(cond.mkString(" ON (", " AND ", ")"))
        }
      case ArrayJoinClause(isLeft, items, pred) =>
        val fn = if (isLeft) "explode_outer" else "explode"
        // AND predicate filters the UNNESTED rows BEFORE the explode
        // (lambda over the array) so LEFT keeps parents whose every
        // element fails it — one row of nulls, exactly TArrayJoin's
        // predicate semantics (ql_query_ut.cpp ArrayJoinWithPredicate)
        def filtered(arr: String, substPred: Expr => Expr): String =
          pred match {
            case None => arr
            case Some(p) => s"filter($arr, _x -> ${emit(substPred(p))})"
          }
        if (items.length == 1) {
          // ARRAY JOIN expr AS a → LATERAL VIEW explode (left = outer)
          val alias = items.head.alias.getOrElse("value0")
          def substLambda(e: Expr): Expr = mapRefs(e) {
            case Ref(Seq(`alias`)) => Some(Ref(Seq("_x")))
            case _ => None
          }
          val arr = filtered(emit(items.head.e), substLambda)
          fromSql.append(s" LATERAL VIEW $fn($arr) _aj$ajIdx AS ${quoteIdent(alias)}")
        } else {
          // zipped multi ARRAY JOIN: one explode of arrays_zip — the
          // aliases were rewritten to _ajz.<field> in the projection
          val fieldOf: Map[String, String] = items.zipWithIndex.map {
            case (it, ix) =>
              val field = it.e match {
                case Ref(parts) => parts.last
                case _ => ix.toString
              }
              it.alias.getOrElse(s"value$ix") -> field
          }.toMap
          def substLambda(e: Expr): Expr = mapRefs(e) {
            case Ref(Seq(one)) if fieldOf.contains(one) =>
              Some(Ref(Seq("_x", fieldOf(one))))
            case _ => None
          }
          val zipped = items.map(it => emit(it.e)).mkString("arrays_zip(", ", ", ")")
          fromSql.append(s" LATERAL VIEW $fn(${filtered(zipped, substLambda)}) _ajt AS _ajz")
        }
        ajIdx += 1
        pendingLateral = true
    }
    val fromWhereSb = new StringBuilder
    if (fromSql.nonEmpty) fromWhereSb.append(" FROM ").append(fromSql)
    q.where.foreach(w => fromWhereSb.append(" WHERE ").append(emit(subst(w))))
    val fromWhere = fromWhereSb.toString
    // QL `GROUP BY 1` groups by the CONSTANT (one global group,
    // test_query.py:201 test_group_by1, :1371
    // test_aggregate_string_capture) — Spark reads a bare integer as
    // a projection ordinal, so emit int literals with the L suffix
    // (LongType literals are never ordinals).
    def emitGroup(e: Expr): String = e match {
      case IntLit(v) => s"${v}L"
      case other => emit(other)
    }
    // Coordinated group-by key order (ql_query_ut.cpp
    // GroupByOrderByCoordinated1 "no sorting" cases,
    // GroupByCoordinatedWithAggregates1-4): when the group key of a
    // single-table query LEADS with a prefix of the table's declared
    // ascending keys, the reference's coordinator streams tablets in
    // key order and merges groups on the fly — results arrive ordered
    // by the group key with NO ORDER BY clause, and OFFSET/LIMIT page
    // in that order. Reproduce the observable contract with an
    // implicit ascending ORDER BY over the group items: under LIMIT it
    // plans as top-k (TakeOrderedAndProject), otherwise it sorts the
    // aggregated — already reduced — stream, never the raw scan.
    val groupKeyOrdered: Boolean = q.orderBy.isEmpty && groupExprs.nonEmpty && {
      val declaredKeys: Seq[String] = q.from match {
        case Some(TableRef(path, _)) if q.joins.isEmpty =>
          sortedKeysOf.value.getOrElse(path, Nil)
        case _ => Nil
      }
      declaredKeys.nonEmpty && {
        val lead = groupExprs.takeWhile {
          case Ref(parts) => declaredKeys.contains(parts.last)
          case _ => false
        }.collect { case Ref(parts) => parts.last }
        lead.nonEmpty && lead == declaredKeys.take(lead.length)
      }
    }
    val orderLimitSql: String = {
      // NaN order keys are an error in QL (ql_query_ut.cpp OrderBy) —
      // guard computed sort expressions. Bare refs stay unwrapped: they
      // may name an output alias, which Spark resolves only outside a
      // function call.
      def orderItem(o: OrderItem): String = {
        val body = subst(o.e) match {
          case r @ Ref(_) => emit(r)
          case other => s"ql_order_guard(${emit(other)})"
        }
        body + (if (o.desc) " DESC" else " ASC")
      }
      // OrderByPrimaryKeyPrefix (ql_query_ut.cpp:857): ascending ORDER
      // BY column refs forming a prefix of the single scanned table's
      // declared key order elide the sort — the scan already yields key
      // order, and the page becomes a plain limit/offset. Only for a
      // bare single-table query: joins, grouping, totals and subquery
      // sources all break scan order.
      val keyPrefixElided: Boolean = q.orderBy.nonEmpty && {
        val declaredKeys: Seq[String] = q.from match {
          case Some(TableRef(path, _)) if q.joins.isEmpty &&
              q.groupBy.isEmpty && q.totals == NoTotals =>
            sortedKeysOf.value.getOrElse(path, Nil)
          case _ => Nil
        }
        declaredKeys.nonEmpty && q.orderBy.length <= declaredKeys.length &&
          q.orderBy.zip(declaredKeys).forall {
            case (OrderItem(Ref(parts), false), k) => parts.last == k
            case _ => false
          }
      }
      val ob = q.orderBy match {
        case Nil if groupKeyOrdered =>
          " ORDER BY " + groupExprs.map(emitGroup).mkString(", ")
        case Nil => ""
        case _ if keyPrefixElided => ""
        case items => " ORDER BY " + items.map(orderItem).mkString(", ")
      }
      // Spark's LIMIT operand is Int; QL accepts any int64
      // (ql_query_ut.cpp OrderByWithHugeLimit) — beyond Int.MaxValue a
      // limit cannot bind anyway, so clamp
      ob + q.limit.map(n => s" LIMIT ${math.min(n, Int.MaxValue.toLong)}").getOrElse("") +
        q.offset.map(n => s" OFFSET $n").getOrElse("")
    }
    if (q.totals == NoTotals || groupExprs.isEmpty) {
      sb.append(fromWhere)
      if (groupExprs.nonEmpty)
        sb.append(" GROUP BY ").append(groupExprs.map(emitGroup).mkString(", "))
      q.having.foreach(h => sb.append(" HAVING ").append(emit(subst(h))))
      sb.append(orderLimitSql)
      sb.toString
    } else {
      // WITH TOTALS (ETotalsMode, query_common.h:78-82) as UNION ALL of
      // the group rows and one totals row, matching the reference's
      // evaluation order (ql_query_ut.cpp GroupByTotalsOrderBy,
      // GroupByWithTotalsEmpty, GroupByWithTotalsNulls):
      //   - ORDER BY / LIMIT / OFFSET apply to GROUP ROWS ONLY; the
      //     totals row is computed over all groups and always survives.
      //   - BeforeHaving: totals over every group (ignores HAVING);
      //     AfterHaving: totals only over groups that pass HAVING
      //     (lowered as a key IN-subquery semi-join).
      //   - Empty input produces NO totals row (HAVING count(1) > 0).
      //   - A null group key is an error under totals (the totals row
      //     would be indistinguishable): raise_error guard on each key.
      val keySqls = groupExprs.map(emitGroup)
      val guarded = keySqls.map(k =>
        s"if(($k) IS NULL, raise_error('Null values are forbidden in group key'), $k)")
      val keyOf: Map[String, String] = keySqls.zip(guarded).toMap
      // a rewritten key keeps its ORIGINAL output name: explicit alias,
      // else the bare column name, else the original expression text
      def itemSql(si: SelectItem, body: String, orig: String): String =
        si.alias.orElse(si.e match {
          case Ref(parts) => Some(quoteIdent(parts.last))
          case _ if body != orig => Some(quoteIdent(orig))
          case _ => None
        }).fold(body)(a => s"$body AS $a")
      // Key subexpressions inside mixed select items (ql_query_ut.cpp
      // CardinalityAggregateTotals2: `(cardinality(a) - b*1000) >= -b*10`
      // with `group by b`) rewrite per branch — in the group rows to the
      // GUARDED key (so Spark matches the grouping expression), in the
      // totals row to NULL (the totals key is null). Aggregate ARGUMENTS
      // are never rewritten: they re-aggregate the real column.
      val keyExprSet: Set[Expr] = groupExprs.toSet
      def mapKeys(e: Expr, f: Expr => Expr): Expr = {
        def go(x: Expr): Expr =
          if (keyExprSet.contains(x)) f(x)
          else x match {
            case c @ Call(n, _, d) if d || aggNames(n.toLowerCase) => c
            case Call(n, args, d) => Call(n, args.map(go), d)
            case Bin(op, l, r) => Bin(op, go(l), go(r))
            case Un(op, u) => Un(op, go(u))
            case IsNullOp(u, n) => IsNullOp(go(u), n)
            case LikeOp(u, k, p, esc, n) =>
              LikeOp(go(u), k, go(p), esc.map(go), n)
            case InList(t, rows, n) =>
              InList(t.map(go), rows.map(_.map(go)), n)
            case BetweenOp(t, rs, n) => BetweenOp(t.map(go),
              rs.map { case (a, b) => (a.map(go), b.map(go)) }, n)
            case CaseExpr(o, bs, el) => CaseExpr(o.map(go),
              bs.map { case (w, th) => (go(w), go(th)) }, el.map(go))
            case TupleExpr(items) => TupleExpr(items.map(go))
            case ItemAccess(u, idx) => ItemAccess(go(u), go(idx))
            case other => other
          }
        go(e)
      }
      val groupSelect = select.map { si =>
        val sql = emit(si.e)
        itemSql(si,
          keyOf.getOrElse(sql, emit(mapKeys(si.e, k => RawSql(keyOf(emit(k)))))),
          sql)
      }.mkString(", ")
      val totalsSelect = select.map { si =>
        val sql = emit(si.e)
        itemSql(si,
          if (keyOf.contains(sql)) "NULL" else emit(mapKeys(si.e, _ => NullLit)),
          sql)
      }.mkString(", ")
      val havingSql = q.having.map(h => s" HAVING ${emit(subst(h))}").getOrElse("")
      // HAVING inside a totals key subquery cannot see the outer select
      // list, so aliases of aggregate-bearing select items (`sum(b) as
      // t ... having t > 200`, ql_query_ut.cpp GroupByWithTotals) must
      // inline their definitions.
      val havingSubSql = {
        val aggSelectAliases: Map[String, Expr] = select.collect {
          case SelectItem(e, Some(a)) => a -> e
        }.toMap
        q.having.map(h =>
          s" HAVING ${emit(substWith(subst(h), aggSelectAliases))}").getOrElse("")
      }
      val groupSql = s"SELECT $groupSelect$fromWhere GROUP BY " +
        guarded.mkString(", ") + havingSql + orderLimitSql
      val totalsWhere =
        if (groupKeyOrdered && q.limit.isDefined) {
          // Coordinated totals under a key-prefix group key + LIMIT
          // (ql_query_ut.cpp GroupByCoordinatedWithTotalsWithLimit
          // PrimaryKeyPrefixInGroupKey): the coordinator short-circuits
          // the scan after `limit` key groups, so the totals row covers
          // ONLY the emitted groups — unlike the non-key case, where
          // the full scan happens anyway and totals span every group.
          // Lower as: totals restricted to the paged group-key set.
          val keys = keySqls.mkString("(", ", ", ")")
          val page = s" ORDER BY ${keySqls.mkString(", ")}" +
            s" LIMIT ${math.min(q.limit.get, Int.MaxValue.toLong)}" +
            q.offset.map(n => s" OFFSET $n").getOrElse("")
          val sub = s"SELECT ${keySqls.mkString(", ")}$fromWhere GROUP BY " +
            keySqls.mkString(", ") + havingSubSql + page
          val cond = s"$keys IN ($sub)"
          if (q.where.isDefined) s" AND $cond" else s" WHERE $cond"
        } else if (q.totals == TotalsAfterHaving && q.having.isDefined) {
          val keys = keySqls.mkString("(", ", ", ")")
          val sub = s"SELECT ${keySqls.mkString(", ")}$fromWhere GROUP BY " +
            keySqls.mkString(", ") + havingSubSql
          val cond = s"$keys IN ($sub)"
          if (q.where.isDefined) s" AND $cond" else s" WHERE $cond"
        } else ""
      val totalsSql =
        s"SELECT $totalsSelect$fromWhere$totalsWhere HAVING count(1) > 0"
      s"SELECT * FROM ($groupSql) UNION ALL $totalsSql"
    }
  }

  def emit(e: Expr): String = e match {
    case Star => "*"
    case RawSql(s) => s
    case Ref(parts) =>
      // positional segments address tuple elements; YtTuple lowers to
      // a struct with fields _1.._n (types/YtTypes §1.2), so `.0`
      // emits as `_1` (first part is always a name, never an index)
      (parts.head +: parts.tail.map(p =>
        if (p.nonEmpty && p.forall(_.isDigit)) s"_${p.toInt + 1}" else p))
        .map(quoteIdent).mkString(".")
    case IntLit(v) => v.toString
    case UIntLit(bits) => s"${bits}L"
    case DoubleLit(v) =>
      // the D suffix keeps QL's double literal a DOUBLE (Spark parses
      // bare `2.0` as DECIMAL(2,1))
      if (v.isPosInfinity) "double('inf')" else v.toString + "D"
    case StrLit(v) => "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    case BoolLit(v) => v.toString
    case NullLit => "NULL"
    // tuple TRANSFORM lowers to a CASE of per-element conjunctions —
    // the same IsRowInRowset lowering as tuple `=`/IN, because struct
    // equality would demand identical field types while QL coerces
    // element-wise (ql_query_ut.cpp SimpleTransform2: int64 keys match
    // double literals, null cells null-match)
    case Call(n, TupleExpr(keys) +: TupleExpr(fromRows) +: TupleExpr(toVals) +: rest, _)
        if n.equalsIgnoreCase("transform") && rest.length <= 1 =>
      val sb = new StringBuilder("CASE")
      fromRows.zip(toVals).foreach { case (row, tv) =>
        val cells = row match { case TupleExpr(cs) => cs; case single => Seq(single) }
        require(cells.length == keys.length, "TRANSFORM tuple arity mismatch")
        val cond = keys.zip(cells).map { case (k, c) => emitBin("=", k, c) }
          .mkString("(", " AND ", ")")
        sb.append(" WHEN ").append(cond).append(" THEN ").append(emit(tv))
      }
      rest.headOption.foreach(d => sb.append(" ELSE ").append(emit(d)))
      sb.append(" END").toString
    case Call(name, args, distinct) =>
      val d = if (distinct) "DISTINCT " else ""
      val fn = qlOnlyNames.getOrElse(name.toLowerCase, name)
      s"$fn($d${args.map(emit).mkString(", ")})"
    case Bin(op, l, r) => emitBin(op, l, r)
    // unary ops on the null literal are null (`-#`, `~#`;
    // ql_query_ut.cpp UnaryNullOperations) — Spark's operators don't
    // all accept NullType, so fold here
    case Un(_, NullLit) => "NULL"
    case Un("NOT", x) => s"(NOT ${emit(x)})"
    case Un("-", x) => s"(- ${emit(x)})"
    case Un("~", x) => s"(~ ${emit(x)})"
    case Un(op, x) => s"($op ${emit(x)})"
    case IsNullOp(x, neg) => s"(${emit(x)} IS ${if (neg) "NOT " else ""}NULL)"
    case LikeOp(x, kind, pat, esc, neg) =>
      val body = kind match {
        case "LIKE" => s"${emit(x)} LIKE ${emit(pat)}" +
          esc.map(e => s" ESCAPE ${emit(e)}").getOrElse("")
        case "ILIKE" => s"${emit(x)} ILIKE ${emit(pat)}"
        case _ => s"${emit(x)} RLIKE ${emit(pat)}"
      }
      if (neg) s"(NOT ($body))" else s"($body)"
    case InList(tuple, rows, neg) =>
      // a null member in the rowset MATCHES null (IsRowInRowset
      // compares with null == null; ql_query_ut.cpp SimpleInWithNull) —
      // SQL IN would never match it, so null rows take the
      // conjunction lowering below where `=` becomes IS NULL / <=>
      val body =
        if (tuple.length == 1 && rows.forall(_.length == 1) &&
            !rows.exists(_.head == NullLit))
          s"${emit(tuple.head)} IN (${rows.map(r => emit(r.head)).mkString(", ")})"
        else rows.map { row =>
          require(row.length == tuple.length, "IN tuple arity mismatch")
          // through emitBin so null members lower to IS NULL / <=>
          tuple.zip(row).map { case (a, b) => emitBin("=", a, b) }
            .mkString("(", " AND ", ")")
        }.mkString("(", " OR ", ")")
      if (neg) s"(NOT ($body))" else s"($body)"
    case BetweenOp(tuple, ranges, neg) =>
      val body = ranges.map(r => rangeExpansion(tuple, r._1, r._2))
        .mkString("(", " OR ", ")")
      if (neg) s"(NOT ($body))" else s"($body)"
    case CaseExpr(operand, branches, elseE) =>
      val sb = new StringBuilder("CASE")
      operand.foreach(o => sb.append(' ').append(emit(o)))
      branches.foreach { case (w, t) =>
        sb.append(" WHEN ").append(emit(w)).append(" THEN ").append(emit(t))
      }
      elseE.foreach(x => sb.append(" ELSE ").append(emit(x)))
      sb.append(" END").toString
    case TupleExpr(items) => items.map(emit).mkString("(", ", ", ")")
    // QL item access returns null out-of-bounds / on a missing key
    // (ql_query_ut.cpp CompositeMemberAccessorListAndDict: `list[-1]`,
    // `dict['missing']` → #) where ANSI `x[i]` throws. Integer indexes
    // are list access → `get` (0-based, null OOB); anything else is a
    // dict key → `try_element_at`. An index of unknown type (a column
    // ref) keeps the raw form — the common case is a struct field path
    // where Spark's own extractor is right.
    case ItemAccess(x, idx) if isIntLike(idx) => s"get(${emit(x)}, ${emit(idx)})"
    case ItemAccess(x, idx @ (StrLit(_) | Call(_, _, _))) =>
      s"try_element_at(${emit(x)}, ${emit(idx)})"
    case ItemAccess(x, idx) => s"${emit(x)}[${emit(idx)}]"
    // InlineAlias never reaches the emitter — QLParser.parse desugars
    // it — but emit the inner expression defensively rather than crash
    case InlineAlias(x, _) => emit(x)
  }

  /** QL spellings whose semantics differ from the Spark builtin of the
    * same name — call sites rewrite to prefixed registry entries
    * ([[graft.functions.QLFunctions.registerAll]]) so the session's
    * stock `if`/`greatest`/`transform`/`cardinality` are never
    * shadowed. */
  private val qlOnlyNames = Map(
    "if" -> "ql__if", "greatest" -> "ql__greatest",
    "transform" -> "ql__transform", "cardinality" -> "ql__cardinality",
    // QL strings are BYTE strings (builtin_function_registry.cpp:30
    // registers length: String → Int64 over the byte payload); Spark's
    // length counts characters, so the spelling maps to octet_length
    "length" -> "octet_length")

  /** QL aggregate-function names (builtin_function_registry.cpp
    * aggregate section) — used to keep aggregate-bearing select items
    * out of GROUP BY alias resolution. */
  private val aggNames = Set("sum", "min", "max", "avg", "count", "first",
    "argmin", "argmax", "cardinality", "dict_sum", "boolxor", "checked_sum",
    "bool_and", "bool_or", "top_by", "bottom_by", "histogram",
    "log_histogram", "aggregate_list", "stddev", "variance", "percentile")

  private def containsAgg(e: Expr): Boolean = e match {
    case Call(n, args, distinct) =>
      distinct || aggNames(n.toLowerCase) || args.exists(containsAgg)
    case Bin(_, l, r) => containsAgg(l) || containsAgg(r)
    case Un(_, x) => containsAgg(x)
    case IsNullOp(x, _) => containsAgg(x)
    case LikeOp(x, _, p, esc, _) =>
      containsAgg(x) || containsAgg(p) || esc.exists(containsAgg)
    case InList(t, rows, _) => t.exists(containsAgg) || rows.exists(_.exists(containsAgg))
    case BetweenOp(t, rs, _) => t.exists(containsAgg) ||
      rs.exists { case (a, b) => a.exists(containsAgg) || b.exists(containsAgg) }
    case CaseExpr(o, bs, el) => o.exists(containsAgg) ||
      bs.exists { case (w, th) => containsAgg(w) || containsAgg(th) } ||
      el.exists(containsAgg)
    case TupleExpr(items) => items.exists(containsAgg)
    case ItemAccess(x, idx) => containsAgg(x) || containsAgg(idx)
    case _ => false
  }

  private def isIntLike(e: Expr): Boolean = e match {
    case IntLit(_) | UIntLit(_) => true
    case Bin("+" | "-" | "*" | "/" | "%", l, r) => isIntLike(l) && isIntLike(r)
    case Un("-" | "~", x) => isIntLike(x)
    case _ => false
  }

  /** Lexicographic `tuple BETWEEN lo AND hi` (prefix-range semantics of
    * the key trie, key_trie.cpp): scalar case is plain BETWEEN. Bounds
    * may be key PREFIXES of the tuple (test_query.py:1587
    * test_multi_between: `(a, b) between ((1) and (1, 2), ...)`) — a
    * short bound constrains only its prefix, exactly the key-trie
    * range semantics (`(1)` as a lower bound = from (1, -inf)). */
  private def rangeExpansion(tuple: Seq[Expr], lo: Seq[Expr], hi: Seq[Expr]): String = {
    require(lo.length <= tuple.length && hi.length <= tuple.length,
      "BETWEEN bound tuple longer than the compared tuple")
    if (tuple.length == 1)
      s"(${emit(tuple.head)} BETWEEN ${emit(lo.head)} AND ${emit(hi.head)})"
    else {
      def bound(op: String, eqOp: String, bnd: Seq[Expr]): String = {
        // lexicographic comparison of the tuple's |bnd|-prefix vs bnd
        def go(k: Int): String = {
          val a = emit(tuple(k)); val b = emit(bnd(k))
          if (k == bnd.length - 1) s"$a $eqOp $b"
          else s"($a $op $b OR ($a = $b AND ${go(k + 1)}))"
        }
        go(0)
      }
      s"(${bound(">", ">=", lo)} AND ${bound("<", "<=", hi)})"
    }
  }

  private def emitBin(op: String, l: Expr, r: Expr): String = {
    val u64Cmp = Map("<" -> "u64_lt", "<=" -> "u64_leq",
      ">" -> "u64_gt", ">=" -> "u64_geq")
    (op, l, r) match {
      // pre-lowered comparison (Any rewrite): emit verbatim, no null
      // re-wrapping — any_compare already owns the semantics
      case (o, _, _) if o.startsWith("raw") =>
        s"(${emit(l)} ${o.stripPrefix("raw")} ${emit(r)})"
      case (o, _, UIntLit(_)) if u64Cmp.contains(o) =>
        s"${u64Cmp(o)}(${emit(l)}, ${emit(r)})"
      case (o, UIntLit(_), _) if u64Cmp.contains(o) =>
        s"${u64Cmp(o)}(${emit(l)}, ${emit(r)})"
      case ("=", TupleExpr(ls), TupleExpr(rs)) if ls.length == rs.length =>
        val cmp = if (canonicalNulls.value) "=" else "<=>"
        ls.zip(rs).map { case (a, b) => s"${emit(a)} $cmp ${emit(b)}" }
          .mkString("(", " AND ", ")")
      case ("!=", TupleExpr(ls), TupleExpr(rs)) if ls.length == rs.length =>
        val cmp = if (canonicalNulls.value) "=" else "<=>"
        "(NOT " + ls.zip(rs).map { case (a, b) => s"${emit(a)} $cmp ${emit(b)}" }
          .mkString("(", " AND ", ")") + ")"
      // ordered tuple comparison → lexicographic expansion (same
      // key-trie semantics as BETWEEN; needed for `(c, d) > {pair}`,
      // test_query.py:1740)
      case (o @ ("<" | "<=" | ">" | ">="), TupleExpr(ls), TupleExpr(rs))
          if ls.length == rs.length =>
        val strict = if (o.startsWith("<")) "<" else ">"
        def go(k: Int): String = {
          val a = emit(ls(k)); val b = emit(rs(k))
          if (k == ls.length - 1) s"$a $o $b"
          else s"($a $strict $b OR ($a = $b AND ${go(k + 1)}))"
        }
        go(0)
      // canonical mode: SQL three-valued logic, no null rewrites
      case (o @ ("=" | "!=" | "<" | "<=" | ">" | ">="), _, _)
          if canonicalNulls.value =>
        s"(${emit(l)} ${if (o == "!=") "<>" else o} ${emit(r)})"
      // QL equality with the null literal matches nulls
      // (test_query.py:882 `where c = null`)
      case ("=", _, NullLit) => s"(${emit(l)} IS NULL)"
      case ("=", NullLit, _) => s"(${emit(r)} IS NULL)"
      case ("!=", _, NullLit) => s"(${emit(l)} IS NOT NULL)"
      case ("!=", NullLit, _) => s"(${emit(r)} IS NOT NULL)"
      // Default (non-canonical) QL null relations
      // (cg_fragment_compiler.cpp:1602-1628, tests
      // test_query.py:1911 test_select_with_canonical_null_relations):
      // null compares as the SMALLEST value and null == null is true —
      // not SQL three-valued logic. Lowered as AND/OR of simple
      // null-checked predicates so (a) parquet pushdown still sees each
      // conjunct/disjunct and (b) the result is boolean-TOTAL: a
      // comparison projected in the SELECT list yields false, never SQL
      // NULL (the naive `a IS NULL OR a < b` returns NULL when only b
      // is null — right under WHERE, wrong as a projected value).
      case ("=", _, _) => s"(${emit(l)} <=> ${emit(r)})"
      case ("!=", _, _) => s"(NOT (${emit(l)} <=> ${emit(r)}))"
      case ("<", _, _) =>
        val (a, b) = (emit(l), emit(r))
        s"(($b IS NOT NULL) AND (($a IS NULL) OR ($a < $b)))"
      case ("<=", _, _) =>
        val (a, b) = (emit(l), emit(r))
        s"(($a IS NULL) OR (($b IS NOT NULL) AND ($a <= $b)))"
      case (">", _, _) =>
        val (a, b) = (emit(l), emit(r))
        s"(($a IS NOT NULL) AND (($b IS NULL) OR ($a > $b)))"
      case (">=", _, _) =>
        val (a, b) = (emit(l), emit(r))
        s"(($b IS NULL) OR (($a IS NOT NULL) AND ($a >= $b)))"
      // QL `/` divides integrally on integers, float on doubles —
      // Spark's ANSI `/` is always double, so route through ql_div;
      // `%` carries the same error surface (zero divisor raises,
      // INT_MIN % -1 raises where Spark's Remainder wraps to 0)
      case ("/", _, _) => s"ql_div(${emit(l)}, ${emit(r)})"
      case ("%", _, _) => s"ql_mod(${emit(l)}, ${emit(r)})"
      // QL `||` concatenates strings ONLY (ql_expressions_ut.cpp
      // ConcatenateOperator: `1 || 2` and int64 operands are a type
      // error) — Spark's || would silently stringify, so route through
      // the strict form
      case ("||", _, _) => s"ql_concat(${emit(l)}, ${emit(r)})"
      case _ => s"(${emit(l)} $op ${emit(r)})"
    }
  }

  /** Generic bottom-up rewrite: `f` returning Some replaces the node. */
  private def mapRefs(e: Expr)(f: Expr => Option[Expr]): Expr = f(e).getOrElse(e match {
    case Call(n, args, d) => Call(n, args.map(mapRefs(_)(f)), d)
    case Bin(op, l, r) => Bin(op, mapRefs(l)(f), mapRefs(r)(f))
    case Un(op, x) => Un(op, mapRefs(x)(f))
    case IsNullOp(x, n) => IsNullOp(mapRefs(x)(f), n)
    case LikeOp(x, k, p, esc, n) =>
      LikeOp(mapRefs(x)(f), k, mapRefs(p)(f), esc.map(mapRefs(_)(f)), n)
    case InList(t, rows, n) =>
      InList(t.map(mapRefs(_)(f)), rows.map(_.map(mapRefs(_)(f))), n)
    case BetweenOp(t, rs, n) => BetweenOp(t.map(mapRefs(_)(f)),
      rs.map { case (a, b) => (a.map(mapRefs(_)(f)), b.map(mapRefs(_)(f))) }, n)
    case CaseExpr(o, bs, el) => CaseExpr(o.map(mapRefs(_)(f)),
      bs.map { case (w, t) => (mapRefs(w)(f), mapRefs(t)(f)) }, el.map(mapRefs(_)(f)))
    case TupleExpr(items) => TupleExpr(items.map(mapRefs(_)(f)))
    case ItemAccess(x, i) => ItemAccess(mapRefs(x)(f), mapRefs(i)(f))
    case other => other
  })

  private def quoteIdent(s: String): String =
    if (s.nonEmpty && s.forall(c => c.isLetterOrDigit || c == '_')) s
    else "`" + s.replace("`", "``") + "`"
}
