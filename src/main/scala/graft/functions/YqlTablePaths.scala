package graft.functions

/** Table-path functions in FROM — the multi-table read idiom of the
  * YQL string surface (SQLv1.g.in:952 table_ref's function-call form;
  * discovery yt/yql/providers/yt/provider/yql_yt_key.cpp:20,147
  * MrFolderName / MrTableRange[Strict]Name and
  * yql_yt_io_discovery.cpp:99-200):
  *
  *   - `RANGE(dir[, from[, to]])` — every member table of `dir` whose
  *     NAME falls in the inclusive lexicographic range (the standard
  *     "read a month of daily logs" spelling);
  *   - `CONCAT(p1, p2, ...)` — the named tables, unioned;
  *   - `EACH($list)` — like CONCAT over a LITERAL list of paths
  *     (`AsList(...)` / `[...]`);
  *   - `LIKE(dir, pattern)` / `REGEXP(dir, pattern)` — members whose
  *     name matches the SQL-LIKE pattern / the (unanchored) regexp;
  *   - `FOLDER(dir)` — the directory LISTING itself as a relation
  *     (Path, Type), the discovery primitive.
  *
  * The "cypress directory" is a filesystem directory of parquet
  * tables: a member is either `<name>.parquet` or a parquet directory
  * `<name>`. Discovery happens at REWRITE time (the reference resolves
  * ranges in its compile-time IO-discovery phase the same way), and
  * the lowered text reads the selected members only:
  *
  *   - one member → a single `parquet.`path`` scan;
  *   - several members of one directory with glob-safe names → ONE
  *     scan over a `{n1,n2,...}` path glob: a single FileSourceScan
  *     over exactly the selected files, so filter pushdown, column
  *     pruning and partition coalescing behave as if it were one
  *     table — at a 1000-table month this is one scan node, not a
  *     1000-way union;
  *   - otherwise a `UNION ALL` of per-member scans.
  *
  * Members OUTSIDE the range never appear in the plan at all — the
  * pruning is structural, not a runtime filter (PlanSpec asserts via
  * `df.inputFiles`). An empty selection lowers to a `LIMIT 0` scan of
  * any member (the schema source), matching the reference's empty
  * range = empty table.
  */
object YqlTablePaths {

  private val Fns = Set("RANGE", "EACH", "CONCAT", "FOLDER", "LIKE", "REGEXP")

  /** Relation cache for lowered member scans. A bare
    * `FROM parquet.`path`` resolves the file relation from scratch on
    * EVERY analysis — directory listing, footer read, schema merge,
    * streaming-metadata probe, all driver-side — and one fuzz sweep
    * lowers dozens of such scans over the same handful of member
    * paths. When the active session is known (the [[rewrite]] overload
    * below), each distinct path registers ONCE as a temp view over a
    * `spark.read.parquet` relation and the lowered text references the
    * view; every execution still scans the parquet files (this caches
    * the file index + schema, never data — same posture as
    * [[graft.sources.Tables.load]]). */
  private val viewCache =
    new java.util.WeakHashMap[org.apache.spark.sql.SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, (String, Seq[(Long, Long)])]]()
  private val viewSeq = new java.util.concurrent.atomic.AtomicLong()
  private val activeSession =
    new scala.util.DynamicVariable[Option[org.apache.spark.sql.SparkSession]](None)

  /** Session-aware rewrite: member scans go through the relation
    * cache. Text-only callers keep the bare-path lowering. */
  def rewrite(spark: org.apache.spark.sql.SparkSession, sql: String): String =
    activeSession.withValue(Some(spark)) { rewrite(sql) }

  /** The `dir/{n1,n2,...}` member glob [[union]] lowers to. */
  private val MemberGlob = "^(.*)/\\{([^{}]*)\\}$".r

  /** (mtime, length) of every file a scan of `path` reads — the member
    * itself, or each member a `dir/{a,b}` glob names — stamped by
    * [[graft.sources.Tables.stampOf]] as relations are: an in-session
    * rewrite of a member invalidates the cached view even when the
    * rewrite keeps its mtime. One stat per member per lowering. */
  private def stampOf(path: String): Seq[(Long, Long)] = {
    val members = path match {
      case MemberGlob(dir, names) if !new java.io.File(path).exists =>
        names.split(",").toSeq.map(n => new java.io.File(dir, n).getPath)
      case _ => Seq(path)
    }
    members.map(graft.sources.Tables.stampOf)
  }

  /** The FROM-able reference for a member path: a cached registered
    * view when a session is active (sessions key weakly, entries
    * re-resolve when the path's stamp moves and drop the view they
    * supersede), the bare SQL-on-file scan text otherwise. */
  private def pathRef(path: String): String = activeSession.value match {
    case Some(spark) =>
      val perSession = viewCache.synchronized {
        var m = viewCache.get(spark)
        if (m == null) {
          m = new java.util.concurrent.ConcurrentHashMap[String, (String, Seq[(Long, Long)])]()
          viewCache.put(spark, m)
        }
        m
      }
      val stamp = stampOf(path)
      val hit = perSession.get(path)
      val view =
        if (hit != null && hit._2 == stamp) hit._1
        else {
          val v = s"__g_tbl_${viewSeq.incrementAndGet()}"
          spark.read.parquet(path).createOrReplaceTempView(v)
          perSession.put(path, (v, stamp))
          if (hit != null) spark.catalog.dropTempView(hit._1)
          v
        }
      s"`$view`"
    case None => s"parquet.`${qIdent(path)}`"
  }

  /** Rewrite every FROM/JOIN-position table-path call in `sql`;
    * scalar uses of the same names (string CONCAT, the LIKE operator)
    * are untouched because only `FROM <fn>(` / `JOIN <fn>(` spans
    * match, and calls whose first argument is NOT a constant path
    * string (a literal list for EACH) pass through to Spark — that
    * keeps `FROM range(10)` and table-valued functions intact.
    * Quote-masked scanning; fixpoint over multiple calls. */
  def rewrite(sql: String): String = {
    // TablePath()/TableName() (zero-arg pseudo-functions; the
    // reference's per-row source-table accessors, the standard
    // companions of RANGE reads): when referenced, each member scan
    // carries its LOGICAL path as a `__g_tp` column and the pseudo-
    // functions lower onto it. This forces the per-member UNION ALL
    // lowering (a literal per scan) instead of the single glob scan —
    // the price of per-row provenance, paid only when asked for.
    // Caveat: `SELECT *` then includes __g_tp; these functions are
    // used with explicit projections (GROUP BY TableName()).
    val wantPath = PseudoRe
      .findFirstIn(YqlScript.maskQuotes(sql)).isDefined
    val (out, loweredCalls) = rewriteFrom(sql, 0, wantPath, 0)
    if (!wantPath || loweredCalls == 0) out
    else {
      val masked = YqlScript.maskQuotes(out)
      val sb = new StringBuilder
      var last = 0
      PseudoRe.findAllMatchIn(masked).foreach { m =>
        sb.append(out.substring(last, m.start))
        if (m.group(1).equalsIgnoreCase("Path")) sb.append("__g_tp")
        else sb.append("regexp_extract(__g_tp, '[^/]+$', 0)")
        last = m.end
      }
      sb.append(out.substring(last))
      sb.toString
    }
  }

  private val PseudoRe = "(?i)\\bTable(Path|Name)\\s*\\(\\s*\\)".r

  private val CallRe =
    "(?i)\\b(FROM|JOIN)\\s+(RANGE|EACH|CONCAT|FOLDER|LIKE|REGEXP|AS_TABLE)\\s*\\(".r

  @annotation.tailrec
  private def rewriteFrom(sql: String, from: Int, withPath: Boolean,
      lowered: Int): (String, Int) = {
    val masked = YqlScript.maskQuotes(sql)
    CallRe.findAllMatchIn(masked).find(_.start >= from) match {
      case None => (sql, lowered)
      case Some(m) =>
        val fn = m.group(2).toUpperCase
        val open = m.end - 1
        val close = YqlScript.matchParen(sql, open)
        val args = YqlScript.splitTopLevel(sql.substring(open + 1, close))
          .map(_.trim).filter(_.nonEmpty)
        if (!eligible(fn, args)) rewriteFrom(sql, close + 1, withPath, lowered)
        else {
          val replacement = lower(fn, args, withPath && fn != "FOLDER")
          rewriteFrom(sql.substring(0, m.start) + m.group(1) + " " +
            replacement + sql.substring(close + 1), 0, withPath, lowered + 1)
        }
    }
  }

  private def eligible(fn: String, args: Seq[String]): Boolean = fn match {
    case "AS_TABLE" => args.length == 1
    case "EACH" => args.length == 1 &&
      (try { listArg(args.head); true }
       catch { case _: IllegalArgumentException => false })
    case _ => args.nonEmpty &&
      (try { strArg(args.head, fn); true }
       catch { case _: IllegalArgumentException => false })
  }

  // ——— lowering per function ———

  private def lower(fn: String, args: Seq[String],
      withPath: Boolean): String = fn match {
    case "RANGE" =>
      require(args.nonEmpty && args.length <= 3,
        s"RANGE takes (dir[, from[, to]]), got ${args.length} args")
      val dir = strArg(args(0), "RANGE")
      val from = args.lift(1).map(strArg(_, "RANGE"))
      val to = args.lift(2).map(strArg(_, "RANGE"))
      val ms = members(dir)
      val sel = ms.filter { case (n, _) =>
        from.forall(n >= _) && to.forall(n <= _)
      }
      union(dir, sel, ms, withPath)
    case "CONCAT" =>
      require(args.nonEmpty, "CONCAT needs at least one table path")
      val paths = args.map(a => resolve(strArg(a, "CONCAT")))
      unionPaths(paths, withPath)
    case "EACH" =>
      require(args.length == 1, "EACH takes one list argument")
      val elems = listArg(args.head)
      require(elems.nonEmpty, "EACH list is empty")
      unionPaths(elems.map(resolve), withPath)
    case "LIKE" =>
      require(args.length == 2, "LIKE takes (dir, pattern)")
      val dir = strArg(args(0), "LIKE")
      val pat = likeToRegex(strArg(args(1), "LIKE"))
      val ms = members(dir)
      union(dir, ms.filter { case (n, _) => pat.matcher(n).matches() }, ms,
        withPath)
    case "REGEXP" =>
      require(args.length == 2, "REGEXP takes (dir, pattern)")
      val dir = strArg(args(0), "REGEXP")
      val pat = java.util.regex.Pattern.compile(strArg(args(1), "REGEXP"))
      val ms = members(dir)
      // unanchored, like the reference's partial-match semantics
      union(dir, ms.filter { case (n, _) => pat.matcher(n).find() }, ms,
        withPath)
    case "AS_TABLE" =>
      // AS_TABLE($rows): a LITERAL list of AsStruct(...) rows becomes a
      // derived table (the reference's parameterized-table idiom,
      // yql/docs select/from_as_table). AsStruct(e AS n, ...) →
      // named_struct('n', e, ...), the list → inline(array(...)).
      asTable(args.head)
    case "FOLDER" =>
      require(args.nonEmpty && args.length <= 2,
        "FOLDER takes (dir[, attrs])")
      val dir = strArg(args(0), "FOLDER")
      val ms = members(dir)
      if (ms.isEmpty)
        "(SELECT CAST(NULL AS STRING) AS Path, CAST(NULL AS STRING) AS Type " +
          "WHERE 1 = 0)"
      else
        "(SELECT * FROM VALUES " + ms.map { case (n, _) =>
          s"('${qLit(dir.stripSuffix("/") + "/" + n)}', 'table')"
        }.mkString(", ") + " AS __gfolder(Path, Type))"
    case other => throw new IllegalStateException(other)
  }

  // ——— argument parsing ———

  /** A constant path argument: quoted string or backticked identifier
    * (substituted `$bindings` arrive as one parenthesized group). */
  private def strArg(a0: String, fn: String): String = {
    var a = a0.trim
    while (a.startsWith("(") && YqlScript.matchParen(a, 0) == a.length - 1)
      a = a.substring(1, a.length - 1).trim
    if ((a.startsWith("'") && a.endsWith("'") && a.length >= 2) ||
        (a.startsWith("\"") && a.endsWith("\"") && a.length >= 2) ||
        (a.startsWith("`") && a.endsWith("`") && a.length >= 2))
      a.substring(1, a.length - 1)
    else throw new IllegalArgumentException(
      s"$fn expects constant path strings, got: ${a0.take(60)}")
  }

  /** A literal list: `AsList('a', 'b')` or `['a', 'b']`. */
  private def listArg(a0: String): Seq[String] = {
    var a = a0.trim
    while (a.startsWith("(") && YqlScript.matchParen(a, 0) == a.length - 1)
      a = a.substring(1, a.length - 1).trim
    val inner =
      if (a.startsWith("[") && a.endsWith("]")) a.substring(1, a.length - 1)
      else {
        // `[...]` literals arrive pre-lowered as array(...)
        val m = "(?i)^(AsList|array)\\s*\\(".r.findFirstMatchIn(a).getOrElse(
          throw new IllegalArgumentException(
            "EACH expects a literal list (AsList(...) or [...]); " +
            s"got: ${a0.take(60)}"))
        val close = YqlScript.matchParen(a, m.end - 1)
        require(a.substring(close + 1).trim.isEmpty,
          s"trailing text after the EACH list: ${a0.take(60)}")
        a.substring(m.end, close)
      }
    YqlScript.splitTopLevel(inner).map(_.trim).filter(_.nonEmpty)
      .map(strArg(_, "EACH"))
  }

  /** `AS_TABLE(AsList(AsStruct(e AS n, ...), ...))` →
    * `(SELECT inline(array(named_struct('n', e, ...), ...)))`. */
  private def asTable(a0: String): String = {
    var a = a0.trim
    while (a.startsWith("(") && YqlScript.matchParen(a, 0) == a.length - 1)
      a = a.substring(1, a.length - 1).trim
    val inner =
      if (a.startsWith("[") && a.endsWith("]")) a.substring(1, a.length - 1)
      else {
        // `[...]` literals arrive pre-lowered as array(...) rows
        val m = "(?i)^(AsList|array)\\s*\\(".r.findFirstMatchIn(a).getOrElse(
          throw new IllegalArgumentException(
            "AS_TABLE expects a literal list of AsStruct rows " +
            s"(AsList(AsStruct(...), ...)); got: ${a0.take(60)}"))
        val close = YqlScript.matchParen(a, m.end - 1)
        require(a.substring(close + 1).trim.isEmpty,
          s"trailing text after the AS_TABLE list: ${a0.take(60)}")
        a.substring(m.end, close)
      }
    val rows = YqlScript.splitTopLevel(inner).map(_.trim).filter(_.nonEmpty)
    require(rows.nonEmpty, "AS_TABLE list is empty")
    val structs = rows.map { r =>
      // rows may arrive pre-lowered by YqlSql.structSugar —
      // yql_asstruct('n', e, ...) is already named_struct-shaped
      val pre = "(?i)^yql_asstruct\\s*\\(".r.findFirstMatchIn(r)
      if (pre.isDefined) {
        val close = YqlScript.matchParen(r, pre.get.end - 1)
        require(r.substring(close + 1).trim.isEmpty,
          s"trailing text after an AS_TABLE row: ${r.take(60)}")
        s"named_struct(${r.substring(pre.get.end, close)})"
      } else {
      val m = "(?i)^AsStruct\\s*\\(".r.findFirstMatchIn(r).getOrElse(
        throw new IllegalArgumentException(
          s"AS_TABLE rows must be AsStruct(expr AS name, ...): ${r.take(60)}"))
      val close = YqlScript.matchParen(r, m.end - 1)
      require(r.substring(close + 1).trim.isEmpty,
        s"trailing text after an AS_TABLE row: ${r.take(60)}")
      val fields = YqlScript.splitTopLevel(r.substring(m.end, close))
        .map(_.trim).filter(_.nonEmpty).map { item =>
          val am = "(?i)^([\\s\\S]+?)\\s+AS\\s+([A-Za-z_][A-Za-z0-9_]*)$".r
            .findFirstMatchIn(item).getOrElse(
              throw new IllegalArgumentException(
                s"AsStruct item needs `expr AS name`: ${item.take(60)}"))
          s"'${am.group(2)}', ${am.group(1)}"
        }
      s"named_struct(${fields.mkString(", ")})"
      }
    }
    s"(SELECT inline(array(${structs.mkString(", ")})))"
  }

  private def likeToRegex(pat: String): java.util.regex.Pattern = {
    val sb = new StringBuilder
    pat.foreach {
      case '%' => sb.append(".*")
      case '_' => sb.append('.')
      case c => sb.append(java.util.regex.Pattern.quote(c.toString))
    }
    java.util.regex.Pattern.compile(sb.toString)
  }

  // ——— directory listing & scan text ———

  /** Member tables of a directory: (name, absolute path), name-sorted.
    * A member is `<name>.parquet` or a directory `<name>`. */
  private def members(dir: String): Seq[(String, String)] = {
    val d = new java.io.File(dir)
    require(d.isDirectory, s"not a table directory: $dir")
    Option(d.listFiles()).getOrElse(Array.empty[java.io.File]).toSeq
      .filter(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .filter(f => f.isDirectory || f.getName.endsWith(".parquet"))
      .map(f => (f.getName.stripSuffix(".parquet"), f.getAbsolutePath))
      .sortBy(_._1)
  }

  /** A named path: used verbatim if it exists, else with `.parquet`. */
  private def resolve(p: String): String = {
    if (new java.io.File(p).exists) p
    else if (new java.io.File(p + ".parquet").exists) p + ".parquet"
    else throw new IllegalArgumentException(s"no such table: $p")
  }

  /** Filesystem paths go into the SQL text as identifiers/literals, so
    * they must be escaped (a quote or backslash in a directory name
    * must not break — or worse, redirect — the lowered scan). */
  private def qIdent(path: String): String = path.replace("`", "``")
  private def qLit(s: String): String =
    s.replace("\\", "\\\\").replace("'", "\\'")

  private def scan(path: String): String =
    s"SELECT * FROM ${pathRef(path)}"

  /** The logical (extension-less) path of a member file/dir. */
  private def logical(path: String): String = path.stripSuffix(".parquet")

  /** A member scan carrying its logical path for TablePath()/
    * TableName(). */
  private def scanWithPath(path: String): String =
    s"SELECT *, '${qLit(logical(path))}' AS __g_tp " +
      s"FROM ${pathRef(path)}"

  private val GlobMeta = "{}[],*?\\".toSet

  /** Union of selected members; one glob scan when they share `dir`
    * and the basenames are glob-safe. `all` supplies the schema
    * source for an empty selection. */
  private def union(dir: String, sel: Seq[(String, String)],
      all: Seq[(String, String)], withPath: Boolean): String =
    if (sel.isEmpty) {
      require(all.nonEmpty, s"empty table directory: $dir")
      if (withPath)
        s"(SELECT *, CAST(NULL AS STRING) AS __g_tp " +
          s"FROM ${pathRef(all.head._2)} LIMIT 0)"
      else s"(${scan(all.head._2)} LIMIT 0)"
    } else if (withPath) unionPaths(sel.map(_._2), withPath = true)
    else if (sel.length == 1) s"(${scan(sel.head._2)})"
    else {
      val bases = sel.map(p => new java.io.File(p._2).getName)
      // the dir prefix rides into the glob verbatim too — a
      // metacharacter there would misroute the scan just like one in
      // a basename
      if (!dir.exists(GlobMeta) && bases.forall(b => !b.exists(GlobMeta))) {
        val glob = s"${dir.stripSuffix("/")}/{${bases.mkString(",")}}"
        s"(${scan(glob)})"
      } else unionPaths(sel.map(_._2), withPath = false)
    }

  private def unionPaths(paths: Seq[String], withPath: Boolean): String = {
    val one: String => String = if (withPath) scanWithPath else scan
    if (paths.length == 1) s"(${one(paths.head)})"
    else "(" + paths.map(one).mkString(" UNION ALL ") + ")"
  }
}
