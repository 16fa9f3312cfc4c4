package graft.ql

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The QL query-string surface — `SelectRows("a, sum(b) FROM [//t]
  * WHERE ... GROUP BY ...")` (dynamic_table_client.h:110; grammar
  * parser.ypp:243-251; docs dyn-query-language.md).
  *
  * QL is close enough to ANSI SQL that the idiomatic Spark
  * implementation is a source-to-source transpile into `spark.sql`,
  * letting Catalyst own parsing, typing and optimization — the same
  * separation the reference draws between query_preparer and the
  * execution engine. Dialect deltas handled here:
  *
  *   - implicit SELECT: a QL query starts at the projection list;
  *   - table refs `[//path/to/table]` resolve through a caller-supplied
  *     catalog (default: last path segment = temp-view name);
  *   - `WITH INDEX [//index]` routes through
  *     [[graft.plans.SecondaryIndex]] when the index table is in the
  *     catalog: index-only WHERE conjuncts prune the index scan and the
  *     surviving keys semi-join the primary (the reference's
  *     TransformWithIndexStatement, secondary_index/transform.cpp:137);
  *   - `JOIN ... USING a, b` → `USING (a, b)`;
  *   - tuple comparisons/IN `(a, b) = (c, d)`, `(a, b) IN ((1, 2), …)`
  *     → equality conjunctions/disjunctions (IsRowInRowset lowering);
  *   - uint64 literals `123u` → two's-complement Long bit patterns,
  *     with ordering comparisons routed through the biased u64_*
  *     comparators (functions/Uint64) so unsigned semantics survive;
  *   - QL builtin names (try_get_*, transform, timestamp_floor_*,
  *     farm_hash, …) resolve via [[graft.functions.QLFunctions
  *     .registerAll]];
  *   - `GROUP BY expr AS alias` → alias substituted into the
  *     projection, bare expr in GROUP BY;
  *   - `WITH TOTALS` → group rows UNION ALL totals row with the
  *     reference's order/limit/having/empty/null-key semantics (see
  *     [[QLEmitter.toSql]]);
  *   - `OFFSET k LIMIT n` → `LIMIT n OFFSET k`;
  *   - `GROUP BY <literal>` groups by a constant, never an ordinal
  *     (spark.sql.groupByOrdinal=false during execution).
  *
  * QL `/` keeps its per-type semantics — integer division on integral
  * operands, float on doubles — via the `ql_div` lowering; `e = null`
  * matches nulls (IS NULL), per the reference's tests.
  */
object SelectRows {

  /** Per-query execution options, the SelectRows surface of
    * TQueryOptions (query_common.h / dynamic_table_client.h):
    * InputRowLimit truncates what each table READS (the reference
    * stops feeding rows past the limit, ql_query_ut.cpp InputRowLimit
    * filters only the first N), OutputRowLimit truncates the result,
    * UseCanonicalNullRelations switches comparisons from QL's
    * null-smallest/null-equals-null semantics to SQL three-valued
    * logic (test_query.py test_select_with_canonical_null_relations). */
  final case class Options(
      inputRowLimit: Option[Int] = None,
      outputRowLimit: Option[Int] = None,
      useCanonicalNullRelations: Boolean = false,
      allowFullScan: Boolean = true,
      allowJoinWithoutIndex: Boolean = true,
      // the CLIENT default is fail-on-incomplete (client_common.h:188
      // FailOnIncompleteResult = true); the engine surface these
      // Options model truncates silently (ql_query_ut.cpp OutputRowLimit
      // expects the truncated rows), so the flag is opt-in here —
      // test_query.py test_yt_2375 passes %false explicitly for the
      // same reason
      failOnIncompleteResult: Boolean = false)

  /** Run a QL query. Tables referenced as `[//path]` must either be in
    * `catalog` (path → DataFrame) or already registered as temp views
    * under their last path segment. */
  def apply(spark: SparkSession, ql: String,
      catalog: Map[String, DataFrame] = Map.empty): DataFrame =
    apply(spark, ql, catalog, Options())

  def apply(spark: SparkSession, ql: String, catalog: Map[String, DataFrame],
      options: Options): DataFrame = run(spark, ql, catalog, options)._1

  /** [[apply]]'s body: the result DataFrame plus the Spark SQL text it
    * handed to `spark.sql` (what [[explain]] prints). */
  private def run(spark: SparkSession, ql: String, catalog: Map[String, DataFrame],
      options: Options): (DataFrame, String) = {
    graft.functions.QLFunctions.registerAll(spark)
    // Parse ONCE; every downstream stage (option checks, index rewrite,
    // emitter) threads this query. A QLParseException propagates to
    // the caller with the parser's position.
    val parsed = QLParser.parse(ql)
    if (!options.allowFullScan) {
      // allow_full_scan=%false (test_query.py test_full_scan): an
      // unfiltered scan is a policy error at prepare time
      if (parsed.where.isEmpty && parsed.limit.isEmpty)
        throw new IllegalArgumentException(
          "Query requires a full scan, which is disabled by the allow_full_scan option")
    }
    {
      // joins on nonsimple (type_v3) columns raise at prepare time —
      // the v1 engine joins on EValueType only (test_query.py
      // test_join_nonv1_types: decimal join key → "nonsimple type")
      import org.apache.spark.sql.types._
      def nonsimple(dt: DataType): Boolean = dt match {
        case _: DecimalType => true
        case ByteType | ShortType | IntegerType | LongType | FloatType |
             DoubleType | StringType | BinaryType | BooleanType |
             DateType | TimestampType => false
        case _ => true // struct / array / map / variant
      }
      val fromDf = parsed.from.collect {
        case QLParser.TableRef(p, _) => catalog.get(p)
      }.flatten
      parsed.joins.foreach {
        case QLParser.JoinClause(_, table, using, _, _) if using.nonEmpty =>
          val sides = catalog.get(table.path).toSeq ++ fromDf
          val bad = using.filter(c => sides.exists(df =>
            df.schema.fields.exists(f => f.name == c && nonsimple(f.dataType))))
          if (bad.nonEmpty) throw new IllegalArgumentException(
            s"Join key ${bad.head} carries a nonsimple type and cannot " +
            "be used in a join equation")
        case _ => ()
      }
    }
    if (!options.allowJoinWithoutIndex) {
      // allow_join_without_index=%false (test_query.py
      // test_inefficient_join; client_dynamic_tables_impl.cpp:1679): a
      // join whose equations never touch the foreign table's leading
      // key column has ForeignKeyPrefix == 0 — every foreign row would
      // be read — and is a policy error at prepare time. Array joins
      // are exempt, as in the reference.
      parsed.joins.foreach {
        case QLParser.JoinClause(_, table, using, on, _) =>
          val firstKey = catalog.get(table.path).flatMap(df =>
            df.schema.fields.find(_.metadata.contains(
              graft.types.YtTypes.YtSortOrderKey)).map(_.name))
          def refs(e: QLParser.Expr): Seq[String] = e match {
            case QLParser.Ref(parts) => Seq(parts.last)
            case _ => Seq.empty
          }
          val eqCols: Set[String] = (using ++
            on.toSeq.flatMap { case (l, r) => (l ++ r).flatMap(refs) }).toSet
          val used = firstKey.exists(eqCols.contains)
          if (!used) throw new IllegalArgumentException(
            "Foreign table key is not used in the join clause; " +
            "the query is inefficient, consider rewriting it")
        case _: QLParser.ArrayJoinClause => ()
      }
    }
    val cat = options.inputRowLimit match {
      case Some(n) => catalog.map { case (p, df) => p -> df.limit(n) }
      case None => catalog
    }
    cat.foreach { case (path, df) =>
      widenTypeV1(df).createOrReplaceTempView(viewName(path))
    }
    // WITH INDEX through the string surface — the reference's
    // TransformWithIndexStatement (secondary_index/transform.cpp:137-146)
    // rewrites the statement to scan the INDEX table with the predicate
    // and join the primary by its key. Here: the WHERE's index-only
    // conjuncts prune the index scan, the surviving keys broadcast
    // left-semi-join the primary, and the full WHERE still evaluates on
    // the (reduced) primary — a superset filter, so partially-pushable
    // predicates stay correct and the predicated-index restriction is
    // preserved by the semi-join itself. An unfolded index turns
    // `list_contains(col, v)` into the index's scalar equality
    // (transform.cpp's unfolding of `value IN unfolded_col`).
    // Returns a restore thunk: the view swap is scoped to THIS query's
    // analysis (spark.sql resolves views eagerly), so other readers of
    // the table's view name never see the semi-join-filtered plan.
    val restoreViews = rewriteWithIndex(spark, parsed, cat)
    // ascending-key prefix per table (YtSortOrderKey field metadata,
    // contiguous from the first column) — feeds ORDER BY elision on
    // key-sorted scans (ql_query_ut.cpp OrderByPrimaryKeyPrefix)
    val sortedKeys: Map[String, Seq[String]] = cat.map { case (path, df) =>
      path -> df.schema.fields.takeWhile(f =>
        f.metadata.contains(graft.types.YtTypes.YtSortOrderKey) &&
        f.metadata.getString(graft.types.YtTypes.YtSortOrderKey) == "ascending")
        .map(_.name).toSeq
    }
    val sql = QLEmitter.canonicalNulls.withValue(options.useCanonicalNullRelations) {
      QLEmitter.sortedKeysOf.withValue(sortedKeys) {
        transpileParsed(parsed, anyScope(cat))
      }
    }
    val prev = spark.conf.get("spark.sql.groupByOrdinal", "true")
    spark.conf.set("spark.sql.groupByOrdinal", "false")
    val df =
      try spark.sql(sql)
      finally {
        spark.conf.set("spark.sql.groupByOrdinal", prev)
        restoreViews()
      }
    val limited = options.outputRowLimit match {
      case Some(n) if options.failOnIncompleteResult =>
        // read one row past the limit; a (n+1)-th row means the limit
        // truncated a larger result → "query result is incomplete".
        // The guard sees at most n+1 rows (the limit already cut the
        // stream), so the single-partition pass is O(limit), not a
        // driver materialization of the result.
        import org.apache.spark.sql.Encoders
        val schema = df.schema
        df.limit(n + 1).coalesce(1).mapPartitions { it =>
          val rows = it.take(n + 1).toSeq
          if (rows.length > n) throw new IllegalStateException(
            s"Query result is incomplete: output row limit $n exceeded " +
            "(fail_on_incomplete_result)")
          rows.iterator
        }(Encoders.row(schema))
      case Some(n) => df.limit(n)
      case None => df
    }
    (limited, sql)
  }

  /** Swap the primary table's temp view for the index-scan + semi-join
    * plan when the query names a `WITH INDEX` table that is present in
    * the catalog. No-op (hint dropped, full scan) when the index is not
    * in the catalog, the primary has no key columns shared with the
    * index, or no WHERE conjunct is evaluable on the index alone.
    *
    * Only conjuncts whose refs are unqualified or qualified by the
    * primary's alias (or view name) are pushable, and they are emitted
    * with qualifiers STRIPPED — the index DataFrame has no alias, so
    * `p.tag = 'a'` pushes as `tag = 'a'`. Any resolution failure in the
    * swap degrades to the full-scan path (hint dropped) instead of
    * failing a query that worked without the hint.
    *
    * Returns a restore thunk that re-registers the primary's original
    * view; the caller invokes it right after `spark.sql` resolves, so
    * the filtered plan is never visible to other readers of the view
    * name. */
  private def rewriteWithIndex(spark: SparkSession,
      q: QLParser.Query,
      cat: Map[String, DataFrame]): () => Unit = {
    import QLParser._
    var restore: () => Unit = () => ()
    for {
      idxPath <- q.withIndex
      idx <- cat.get(idxPath)
      (primPath, primAlias) <- q.from.collect { case TableRef(p, a) => (p, a) }
      prim <- cat.get(primPath)
      where <- q.where
    } {
      import org.apache.spark.sql.types.ArrayType
      val idxCols = idx.schema.fieldNames.toSet
      // qualifiers that denote the primary table in this query's scope
      val primQuals: Set[String] =
        primAlias.toSet + viewName(primPath)
      val keyCols = prim.schema.fields.takeWhile(_.metadata.contains(
        graft.types.YtTypes.YtSortOrderKey)).map(_.name).filter(idxCols).toSeq
      def isArr(df: DataFrame, c: String): Boolean =
        df.schema.fields.exists(f => f.name == c && f.dataType.isInstanceOf[ArrayType])
      // full reference paths, so qualification is visible to the filter
      def refPaths(e: Expr): Set[Seq[String]] = e match {
        case Ref(ps) => Set(ps)
        case Call(_, args, _) => args.flatMap(refPaths).toSet
        case Bin(_, l, r) => refPaths(l) ++ refPaths(r)
        case Un(_, x) => refPaths(x)
        case IsNullOp(x, _) => refPaths(x)
        case LikeOp(x, _, p, esc, _) =>
          refPaths(x) ++ refPaths(p) ++ esc.toSeq.flatMap(refPaths)
        case InList(t, rows, _) => (t ++ rows.flatten).flatMap(refPaths).toSet
        case BetweenOp(t, rs, _) =>
          (t ++ rs.flatMap(r => r._1 ++ r._2)).flatMap(refPaths).toSet
        case CaseExpr(op, br, el) =>
          (op.toSeq ++ br.flatMap(b => Seq(b._1, b._2)) ++ el.toSeq)
            .flatMap(refPaths).toSet
        case TupleExpr(xs) => xs.flatMap(refPaths).toSet
        case ItemAccess(x, ix) => refPaths(x) ++ refPaths(ix)
        case _ => Set.empty
      }
      // a ref is pushable when bare (`tag`) or qualified by the primary
      // (`p.tag`); a foreign qualifier (another join's alias) is not
      def pushableRef(ps: Seq[String]): Boolean =
        ps.length == 1 || (ps.length == 2 && primQuals(ps.head))
      // strip the primary qualifier for emission onto the bare index df
      def strip(e: Expr): Expr = e match {
        case Ref(ps) => Ref(Seq(ps.last))
        case Call(n, args, d) => Call(n, args.map(strip), d)
        case Bin(op, l, r) => Bin(op, strip(l), strip(r))
        case Un(op, x) => Un(op, strip(x))
        case IsNullOp(x, n) => IsNullOp(strip(x), n)
        case LikeOp(x, k, p, esc, n) =>
          LikeOp(strip(x), k, strip(p), esc.map(strip), n)
        case InList(t, rows, n) => InList(t.map(strip), rows.map(_.map(strip)), n)
        case BetweenOp(t, rs, n) =>
          BetweenOp(t.map(strip), rs.map(r => (r._1.map(strip), r._2.map(strip))), n)
        case CaseExpr(op, br, el) => CaseExpr(op.map(strip),
          br.map(b => (strip(b._1), strip(b._2))), el.map(strip))
        case TupleExpr(xs) => TupleExpr(xs.map(strip))
        case ItemAccess(x, ix) => ItemAccess(strip(x), strip(ix))
        case other => other
      }
      def conjuncts(e: Expr): Seq[Expr] = e match {
        case Bin("AND", l, r) => conjuncts(l) ++ conjuncts(r)
        case other => Seq(other)
      }
      // unfolded-index lowering: membership over the primary's list
      // column is an equality scan of the index's per-element rows
      def unfold(e: Expr): Expr = e match {
        case Call("list_contains", Seq(Ref(ps), v), _)
            if pushableRef(ps) && isArr(prim, ps.last) && idxCols(ps.last) &&
               !isArr(idx, ps.last) =>
          Bin("=", Ref(Seq(ps.last)), v)
        case other => other
      }
      val pushed = conjuncts(where).map(unfold)
        .filter { c =>
          val refs = refPaths(c)
          refs.nonEmpty && refs.forall(ps =>
            pushableRef(ps) && idxCols(ps.last))
        }
        .map(strip)
      if (keyCols.nonEmpty && pushed.nonEmpty) {
        val pushedSql = pushed.map(QLEmitter.emit).mkString(" AND ")
        try {
          val swapped = graft.plans.SecondaryIndex
            .query(widenTypeV1(prim), widenTypeV1(idx), keyCols, pushedSql)
          swapped.queryExecution.assertAnalyzed() // resolution check here
          swapped.createOrReplaceTempView(viewName(primPath))
          restore = () =>
            widenTypeV1(prim).createOrReplaceTempView(viewName(primPath))
        } catch {
          case _: org.apache.spark.sql.AnalysisException => () // full scan
        }
      }
    }
    restore
  }

  /** type_v1 propagation (ql_query_ut.cpp TypeV1Propagation): the v1
    * query engine computes over EValueType, so plain int8/16/32
    * columns enter the engine as int64 and float as double — `a + a`
    * on an int32 column sums in 64-bit, and results surface as
    * optional&lt;int64&gt;. Composite (type_v3) columns keep their
    * inner types: CompositeMemberAccessorStructPositionalEncoding's
    * result schema stays int32 through a struct path, so only
    * TOP-LEVEL scalar columns widen here.
    */
  private def widenTypeV1(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types._
    val needs = df.schema.fields.exists(f => f.dataType match {
      case ByteType | ShortType | IntegerType | FloatType => true
      case _ => false
    })
    if (!needs) df
    else df.select(df.schema.fields.map { f =>
      val c = df.col("`" + f.name.replace("`", "``") + "`")
      f.dataType match {
        case ByteType | ShortType | IntegerType => c.cast(LongType).as(f.name)
        case FloatType => c.cast(DoubleType).as(f.name)
        case _ => c
      }
    }.toIndexedSeq: _*)
  }

  /** Run a QL query with placeholder values — the reference's
    * `select_rows(query, placeholder_values=...)` surface
    * (test_query.py:1740 test_select_with_placeholders): `{name}`
    * tokens substitute typed literals before parsing. Scalars become
    * int/double/string/bool literals; a Seq becomes a tuple literal,
    * so `(c, d) > {pair}` is the lexicographic tuple comparison.
    */
  def apply(spark: SparkSession, ql: String, catalog: Map[String, DataFrame],
      placeholders: Map[String, Any]): DataFrame =
    apply(spark, substitutePlaceholders(ql, placeholders), catalog)

  private[ql] def substitutePlaceholders(ql: String,
      values: Map[String, Any]): String = {
    def lit(v: Any): String = v match {
      // backslash escapes only — the QL lexer reads '' as two adjacent
      // string literals, so SQL-style quote doubling would misparse
      case s: String => "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"
      case b: Boolean => b.toString
      case d: Double => d.toString
      case f: Float => f.toString
      case xs: Seq[_] => xs.map(lit).mkString("(", ", ", ")")
      case null => "null"
      case other => other.toString // integral types
    }
    "\\{([A-Za-z_][A-Za-z0-9_]*)\\}".r.replaceAllIn(ql, m =>
      values.get(m.group(1)) match {
        case Some(v) => java.util.regex.Matcher.quoteReplacement(lit(v))
        case None => throw new IllegalArgumentException(
          s"no value for placeholder {${m.group(1)}}")
      })
  }

  /** ExplainQuery (dynamic_table_client.h:110-115): the query plan for
    * a QL string — the Spark SQL that [[apply]] ran plus Catalyst's
    * formatted physical plan (scans with pushed filters, joins,
    * exchanges), the same information surface as the reference's
    * explain output. */
  def explain(spark: SparkSession, ql: String,
      catalog: Map[String, DataFrame] = Map.empty): String = {
    val (df, sql) = run(spark, ql, catalog, Options())
    s"-- transpiled SQL --\n$sql\n-- physical plan --\n" +
      df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
  }

  def viewName(path: String): String =
    path.stripPrefix("//").split('/').last.replaceAll("[^A-Za-z0-9_]", "_")

  /** Per-view column inventories (all names + the `any`- and
    * `uint64`-typed subsets, from field metadata written by
    * [[graft.types.YtTypes.YtSchema.toStructType]]), keyed by view
    * name — the Any rewrite resolves refs against the query's own
    * FROM/JOIN scope, so a typed column `x` in one table is never
    * Any-routed because another table has an Any column `x`. */
  def anyScope(catalog: Map[String, DataFrame]): Map[String, QLEmitter.TableCols] = {
    import graft.types.YtTypes.YtTypeKey
    catalog.map { case (path, df) =>
      def typed(t: String) = df.schema.fields.collect {
        case f if f.metadata.contains(YtTypeKey) &&
          f.metadata.getString(YtTypeKey) == t => f.name
      }.toSet
      viewName(path) -> QLEmitter.TableCols(
        df.schema.fieldNames.toSet, typed("any"), typed("uint64"))
    }
  }

  /** QL → Spark SQL through the one grammar: [[QLParser]] (tokenizer +
    * recursive descent per parser.ypp), [[QLEmitter.validate]], then
    * [[QLEmitter.toSql]]. A string the parser rejects raises its
    * QLParseException, naming the position. */
  def transpile(ql: String, byTable: Map[String, QLEmitter.TableCols]): String =
    transpileParsed(QLParser.parse(ql), byTable)

  /** [[transpile]] over an already-parsed query — the parse-once path
    * used by [[apply]]. */
  private def transpileParsed(q: QLParser.Query,
      byTable: Map[String, QLEmitter.TableCols]): String = {
    QLEmitter.validate(q, byTable)
    QLEmitter.toSql(q, byTable)
  }
}
