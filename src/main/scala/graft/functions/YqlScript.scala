package graft.functions

/** YQL STATEMENT-level constructs, lowered onto Spark SQL text before
  * parsing — the layer in front of `spark.sql` that makes a real YQL
  * query string (as users type it) runnable:
  *
  *   - named expressions `$x = expr;` and named subselects
  *     `$t = (SELECT ...);` (SQLv1.g.in `named_nodes_stmt`,
  *     lowering sql/v1/sql_query.cpp): later `$x` references
  *     substitute the bound text;
  *   - lambda bindings `$f = ($a, $b) -> (expr);` (SQLv1.g.in
  *     `lambda`): call sites `$f(e1, e2)` inline the body with
  *     parameters substituted; a BARE `$f` passed to a higher-order
  *     function lowers to a Spark SQL lambda literal;
  *   - `FLATTEN BY` / `FLATTEN OPTIONAL BY` / `FLATTEN LIST BY` /
  *     `FLATTEN DICT BY` (SQLv1.g.in `flatten_source`) → a derived
  *     table over `LATERAL VIEW explode` (the same unnest the QL
  *     surface's ARRAY JOIN uses — per-element rows stream through
  *     the scan, no driver materialization);
  *   - `SELECT * WITHOUT c1, c2` (SQLv1.g.in `without_column_list`)
  *     → `SELECT * EXCEPT (c1, c2)`;
  *   - `PRAGMA ...;` statements are accepted and recorded (the
  *     reference's pragmas steer its own optimizer/runtime; Catalyst
  *     owns those decisions here);
  *   - `DECLARE $p AS Type [= default];` typed external parameters,
  *     `DEFINE SUBQUERY ... END DEFINE;` templates, `REDUCE` (the
  *     grouped-stream verb), `PROCESS`, `DISCARD`;
  *   - `USE cluster;` / `COMMIT;` accepted as validated no-ops
  *     (single catalog; statements already execute in source order);
  *   - `INSERT INTO target [WITH TRUNCATE] SELECT ...` → Spark
  *     `INSERT INTO` / `INSERT OVERWRITE TABLE`, interleaved with
  *     SELECTs in source order;
  *   - the DML verbs over KEYED tables (SQLv1.g.in:579,968-969):
  *     `UPSERT INTO` / `REPLACE INTO`, `INSERT OR
  *     ABORT|REVERT|IGNORE`, `[BATCH] DELETE FROM ... [WHERE|ON]`,
  *     `[BATCH] UPDATE ... [SET ...|ON]`, each with an optional
  *     `RETURNING *|cols` — parsed here, executed by [[YqlDml]];
  *   - script DDL (:647,:698,:833): `CREATE TABLE (cols, PRIMARY
  *     KEY)` (+ `PARTITION BY HASH` bucketing, :690-693) / CTAS /
  *     `DROP TABLE [IF EXISTS]` / ALTER pass-through, and the
  *     secondary-index verbs `ALTER TABLE ... ADD INDEX name GLOBAL
  *     [UNIQUE] ON (cols)` / `DROP INDEX` (:744,:764) with `FROM t
  *     VIEW idx` index reads (:952);
  *   - `IMPORT lib SYMBOLS $f` / library `EXPORT` modules, attached
  *     via the caller's libraries map or `PRAGMA library('f.sql')`;
  *   - `[EVALUATE] IF` / `[EVALUATE] [PARALLEL] FOR` statement
  *     folding/unrolling, `DO` action splicing, bare `VALUES`.
  *
  * Everything is a source-to-source rewrite: Catalyst still does all
  * parsing, resolution and optimization of the final text, so the
  * whole surface (joins, windows, aggregates) composes with these
  * spellings for free. Scripts evaluate to the LAST result-producing
  * statement (a SELECT, VALUES, or DML-with-RETURNING).
  */
object YqlScript {

  final case class Lambda(params: Seq[String], body: String)

  /** A lowered script statement, in source order: result-producing
    * SELECTs interleaved with side-effecting INSERTs (a later SELECT
    * may read a table an earlier INSERT wrote, so order is part of the
    * semantics — the reference serializes them the same way within a
    * transaction). */
  private val anonCounter = new java.util.concurrent.atomic.AtomicLong()

  sealed trait Stmt { def sql: String }
  final case class SelectStmt(sql: String) extends Stmt
  /** `PROCESS src USING Streaming::Process(TableRows(), cmd, ...)` —
    * pipe the single string column of `sql` through an external
    * command (streaming_udf.cpp TStreamingProcess; Inline writes the
    * script to a temp file first). */
  final case class PipeStmt(sql: String, command: Seq[String],
      inlineScript: Option[String], inputDelimiter: String,
      outputDelimiter: String) extends Stmt
  final case class InsertStmt(sql: String) extends Stmt
  /** Ready-to-run Spark DDL text (CREATE/DROP/ALTER TABLE lowered). */
  final case class DdlStmt(sql: String) extends Stmt
  /** `UPSERT INTO` / `REPLACE INTO` (SQLv1.g.in:579 into_table_stmt):
    * a key-merge write onto a KEYED table — UPSERT keeps unlisted
    * columns of existing rows, REPLACE nulls them (full-row image).
    * `source` is the lowered SELECT/VALUES text; `columns` the
    * explicit column list (empty = source column names apply). */
  final case class UpsertStmt(target: String, columns: Seq[String],
      source: String, replace: Boolean,
      returning: Option[Seq[String]] = None) extends Stmt {
    def sql: String = (if (replace) "REPLACE INTO " else "UPSERT INTO ") +
      target + (if (columns.isEmpty) "" else columns.mkString(" (", ", ", ")")) +
      " " + source + retSql(returning)
  }
  /** `INSERT OR ABORT|REVERT|IGNORE INTO` (SQLv1.g.in:579): keyed
    * insert with a conflict policy — abort/revert fail on any existing
    * key, ignore inserts only fresh keys. */
  final case class InsertOrStmt(target: String, columns: Seq[String],
      source: String, mode: String,
      returning: Option[Seq[String]] = None) extends Stmt {
    def sql: String = s"INSERT OR ${mode.toUpperCase} INTO " + target +
      (if (columns.isEmpty) "" else columns.mkString(" (", ", ", ")")) +
      " " + source + retSql(returning)
  }

  /** `ALTER TABLE t ADD INDEX name GLOBAL [UNIQUE] ON (cols)` /
    * `ALTER TABLE t DROP INDEX name` (SQLv1.g.in:744
    * alter_table_add_index, :764 table_index): secondary-index DDL on
    * a keyed table, executed by [[YqlDml.addIndex]]/[[YqlDml.dropIndex]]. */
  final case class IndexStmt(target: String, name: String,
      columns: Seq[String], unique: Boolean, drop: Boolean) extends Stmt {
    def sql: String =
      if (drop) s"ALTER TABLE $target DROP INDEX $name"
      else s"ALTER TABLE $target ADD INDEX $name GLOBAL" +
        (if (unique) " UNIQUE" else "") + columns.mkString(" ON (", ", ", ")")
  }

  /** `DELETE FROM t [WHERE p | ON <keys-select>]` (SQLv1.g.in:968
    * delete_stmt): `where` and `keySource` are mutually exclusive;
    * both empty = delete every row. */
  final case class DeleteStmt(target: String, where: Option[String],
      keySource: Option[String],
      returning: Option[Seq[String]] = None) extends Stmt {
    def sql: String = s"DELETE FROM $target" +
      where.map(" WHERE " + _).getOrElse("") +
      keySource.map(" ON " + _).getOrElse("") + retSql(returning)
  }
  /** `UPDATE t SET c = e, ... [WHERE p]` or `UPDATE t ON <select>`
    * (SQLv1.g.in:969 update_stmt): a partial update of matching rows —
    * key columns are immutable. */
  final case class UpdateStmt(target: String, sets: Seq[(String, String)],
      where: Option[String], keySource: Option[String],
      returning: Option[Seq[String]] = None) extends Stmt {
    def sql: String = s"UPDATE $target" +
      (if (sets.isEmpty) "" else
        sets.map { case (c, e) => s"$c = $e" }.mkString(" SET ", ", ", "")) +
      where.map(" WHERE " + _).getOrElse("") +
      keySource.map(" ON " + _).getOrElse("") + retSql(returning)
  }

  private def retSql(r: Option[Seq[String]]): String = r match {
    case None => ""
    case Some(Nil) => " RETURNING *"
    case Some(cols) => cols.mkString(" RETURNING ", ", ", "")
  }

  /** `discards` are DISCARD statements: analyzed (type-checked) but
    * never a script result — the reference's validation spelling. */
  final case class Lowered(pragmas: Seq[String], stmts: Seq[Stmt],
      discards: Seq[String] = Nil, anonTables: Seq[String] = Nil) {
    def selects: Seq[String] = stmts.collect { case SelectStmt(s) => s }
    def inserts: Seq[String] = stmts.collect { case InsertStmt(s) => s }
  }

  /** Lower a YQL script to Spark SQL statement texts (module-call
    * `::` spellings are left for [[YqlSql.rewrite]]). `params` binds
    * DECLARE'd parameters by name to SQL literal/expression text.
    * `evalCond` evaluates an `EVALUATE IF` condition (SQL boolean
    * expression text → value) — the reference folds these in its
    * evaluation phase; [[YqlSql.sql]] passes a Catalyst-backed hook,
    * and without one EVALUATE IF raises. */
  def lower(script: String, params: Map[String, String] = Map.empty,
      evalCond: Option[String => Boolean] = None,
      libraries: Map[String, String] = Map.empty): Lowered = {
    val sts = scala.collection.mutable.ArrayBuffer(
      SqlText.split(script, ";").map(_.trim).filter(_.nonEmpty): _*)
    val scalars = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val lambdas = scala.collection.mutable.LinkedHashMap.empty[String, Lambda]
    val actions = scala.collection.mutable.LinkedHashMap
      .empty[String, (Seq[String], String)]
    val pragmas = scala.collection.mutable.ArrayBuffer.empty[String]
    val stmts = scala.collection.mutable.ArrayBuffer.empty[Stmt]
    val discards = scala.collection.mutable.ArrayBuffer.empty[String]
    val libCache = scala.collection.mutable.Map
      .empty[String, (Map[String, String], Map[String, Lambda], Set[String])]
    // modules attached in-script via PRAGMA library('file.sql');
    // caller-supplied `libraries` win on name collision
    val pragmaLibs = scala.collection.mutable.Map.empty[String, String]
    // PRAGMA File("alias", "path") attachments: alias → local path
    // (basic.md#file-content-path; syntax/pragma.md#file). This engine
    // is zero-egress — URLs raise, local files attach.
    val pragmaFiles = scala.collection.mutable.Map.empty[String, String]
    val unsupported = Set("ROLLBACK")
    // `@name` anonymous (temporary) tables (docs select.md
    // #temporary-tables): each name maps, per script run, to a
    // globally unique catalog table that the executor creates on first
    // INSERT and drops when the script completes — the reference's
    // auto-deleted temp-directory tables. `@$name` resolves the named
    // string first.
    val anonRun = anonCounter.incrementAndGet()
    val anonNames = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def rewriteAnon(text: String): String = {
      val masked = SqlText.mask(text)
      val re = "@(\\$?[A-Za-z_][A-Za-z0-9_]*)".r
      val sb = new StringBuilder
      var last = 0
      re.findAllMatchIn(masked).foreach { m =>
        val raw = text.substring(m.start(1), m.end(1))
        val key =
          if (!raw.startsWith("$")) raw
          else {
            val bound = scalars.getOrElse(raw.substring(1),
              throw new IllegalArgumentException(
                s"@$raw: undeclared named expression"))
            val t = bound.trim.stripPrefix("(").stripSuffix(")").trim
            require(t.length >= 2 && (t.head == '\'' || t.head == '"') &&
              t.last == t.head,
              s"@$raw must bind to a constant string, got: ${t.take(40)}")
            t.substring(1, t.length - 1)
          }
        val tbl = anonNames.getOrElseUpdate(key, s"graft_anon_${anonRun}_$key")
        sb.append(text.substring(last, m.start)).append(tbl)
        last = m.end
      }
      sb.append(text.substring(last)).toString
    }
    var idx = 0
    while (idx < sts.length) {
      var st = sts(idx)
      // DO BEGIN / EVALUATE ... DO BEGIN inline bodies: internal ';'
      // were statement splits — rejoin until every BEGIN (including an
      // ELSE branch's) has its closing END DO
      if (st.takeWhile(_.isLetter).toUpperCase
            .matches("DO|EVALUATE|IF|FOR|PARALLEL") &&
          SqlText.findKw(st, "BEGIN") >= 0) {
        def countTopKw(s: String, kw: String): Int = {
          var c = 0; var at = SqlText.findKw(s, kw)
          while (at >= 0) { c += 1; at = SqlText.findKw(s, kw, at + kw.length) }
          c
        }
        while (countTopKw(st, "BEGIN") > countTopKw(st, "END DO")) {
          idx += 1
          require(idx < sts.length, "BEGIN without END DO")
          st = st + "; " + sts(idx)
        }
      }
      // `SELECT ... INTO RESULT name` (select_kind suffix): names the
      // result set in the reference's multi-result protocol; here the
      // script evaluates to its last SELECT, so the name is validated
      // and dropped.
      st = stripIntoResult(st)
      if (st.indexOf('@') >= 0) st = rewriteAnon(st)
      var firstWord = st.takeWhile(c => c.isLetter).toUpperCase
      // `BATCH DELETE|UPDATE` (SQLv1.g.in:968-969): the reference
      // chunks the write into independent transactions to bound
      // transaction size; here every statement is already one
      // distributed job with no row-count ceiling, so the modifier
      // validates and drops
      if (firstWord == "BATCH") {
        st = st.drop("BATCH".length).trim
        firstWord = st.takeWhile(c => c.isLetter).toUpperCase
        require(firstWord == "DELETE" || firstWord == "UPDATE",
          s"BATCH applies to DELETE/UPDATE, got: ${st.take(40)}")
      }
      if (firstWord != "PRAGMA" && pragmaFiles.nonEmpty &&
          SqlText.re("(?i)\\b(FileContent|FilePath|FolderPath|ParseFile)\\s*\\(")
            .findFirstIn(SqlText.mask(st)).isDefined)
        st = lowerFileFns(st, pragmaFiles)
      if (firstWord == "PRAGMA") {
        val p = st.drop("PRAGMA".length).trim
        // Result-AFFECTING pragmas must not be silently inert: a script
        // that sets one would run here and return different rows than
        // the reference (sql_query.cpp pragma table). Raise, naming the
        // unimplemented semantics; operational/optimizer pragmas keep
        // the accept-and-record behavior.
        val name = p.takeWhile(c => c.isLetterOrDigit || c == '.' || c == '_')
          .split('.').last.toLowerCase
        semanticPragmas.get(name).foreach { why =>
          throw new IllegalArgumentException(
            s"PRAGMA ${p.takeWhile(c => c.isLetterOrDigit || c == '.')}: " +
              s"$why — this engine does not implement that mode, and " +
              "accepting it silently would change query results; remove " +
              "the pragma or port the query")
        }
        pragmas += p
        // PRAGMA library('lib.sql') (SQLv1.g.in pragma_stmt; the
        // reference attaches the named file to the translation) — here
        // the argument is a filesystem path whose BASENAME (minus
        // extension) becomes the module name IMPORT resolves
        val lib = "(?i)^library\\s*\\(\\s*('[^']*'|\"[^\"]*\")\\s*\\)$".r
          .findFirstMatchIn(p)
        lib.foreach { m =>
          val path = m.group(1).drop(1).dropRight(1)
          val f = new java.io.File(path)
          require(f.isFile, s"PRAGMA library: no such file: $path")
          val name = f.getName.replaceAll("\\.[^.]*$", "")
          pragmaLibs(name) =
            new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        }
        // PRAGMA File("alias", "path") / PRAGMA Folder("prefix", "dir")
        // — attach files for FileContent/FilePath/FolderPath/ParseFile
        val fileP = ("(?i)^file\\s*\\(\\s*('[^']*'|\"[^\"]*\")\\s*,\\s*" +
          "('[^']*'|\"[^\"]*\")\\s*\\)$").r.findFirstMatchIn(p)
        fileP.foreach { m =>
          val alias = m.group(1).drop(1).dropRight(1)
          val path = m.group(2).drop(1).dropRight(1)
          require(!path.matches("(?i)^[a-z][a-z0-9+.-]*://.*"),
            s"PRAGMA File: this engine is zero-egress — attach a local " +
              s"path, got a URL: $path")
          require(new java.io.File(path).isFile,
            s"PRAGMA File: no such file: $path")
          pragmaFiles(alias) = path
        }
        val folderP = ("(?i)^folder\\s*\\(\\s*('[^']*'|\"[^\"]*\")\\s*,\\s*" +
          "('[^']*'|\"[^\"]*\")\\s*\\)$").r.findFirstMatchIn(p)
        folderP.foreach { m =>
          val prefix = m.group(1).drop(1).dropRight(1)
          val dir = new java.io.File(m.group(2).drop(1).dropRight(1))
          require(dir.isDirectory,
            s"PRAGMA Folder: no such directory: ${dir.getPath}")
          def walk(f: java.io.File, rel: String): Unit =
            if (f.isFile) pragmaFiles(s"$prefix/$rel") = f.getPath
            else if (f.isDirectory) f.listFiles.foreach(c =>
              walk(c, if (rel.isEmpty) c.getName else s"$rel/${c.getName}"))
          dir.listFiles.foreach(c => walk(c, c.getName))
        }
      }
      // USE cluster; — cluster selection (SQLv1.g.in use_stmt). This
      // engine is its own single catalog: accepted, validated, no-op.
      else if (firstWord == "USE") {
        require(st.drop("USE".length).trim
          .matches("[A-Za-z_][A-Za-z0-9_]*|`[^`]+`"),
          s"malformed USE: ${st.take(60)}")
      }
      // COMMIT; — sequences writes before later reads. Statements
      // already execute eagerly in source order here, so the barrier
      // is trivially satisfied.
      else if (firstWord == "COMMIT") {
        require(st.drop("COMMIT".length).trim.isEmpty,
          s"malformed COMMIT: ${st.take(60)}")
      }
      else if (firstWord == "DISCARD")
        discards += lowerSelect(substitute(st.drop("DISCARD".length).trim,
          scalars, lambdas))
      else if (firstWord == "PROCESS")
        stmts += lowerProcessPipe(st, scalars, lambdas)
          .getOrElse(SelectStmt(lowerProcess(st, scalars, lambdas)))
      else if (firstWord == "REDUCE")
        stmts += SelectStmt(lowerReduce(st, scalars, lambdas))
      else if (firstWord == "INSERT") {
        // `INSERT OR ABORT|REVERT|IGNORE INTO` (SQLv1.g.in:579) is the
        // keyed conflict-policy insert; bare INSERT INTO stays the
        // static-table append
        val or = SqlText.re("(?i)^INSERT\\s+OR\\s+(ABORT|REVERT|IGNORE)\\s+INTO\\b")
          .findFirstMatchIn(st)
        if (or.isDefined)
          stmts += lowerInsertOr(st, or.get.group(1).toLowerCase,
            or.get.end, scalars, lambdas)
        else stmts += InsertStmt(lowerInsert(st, scalars, lambdas))
      }
      // key-merge DML (SQLv1.g.in:579,968-969) — parsed here, executed
      // by YqlSql against the keyed target with DynTable semantics
      else if (firstWord == "UPSERT" || firstWord == "REPLACE")
        stmts += lowerUpsert(st, scalars, lambdas)
      else if (firstWord == "DELETE")
        stmts += lowerDelete(st, scalars, lambdas)
      else if (firstWord == "UPDATE")
        stmts += lowerUpdate(st, scalars, lambdas)
      else if (firstWord == "CREATE" || firstWord == "DROP" ||
          firstWord == "ALTER")
        stmts += lowerDdl(st, scalars, lambdas)
      else if (firstWord == "DECLARE")
        lowerDeclare(st, params, scalars)
      else if (firstWord == "DEFINE") {
        // the body's internal ';' separators were statement splits —
        // rejoin fragments until the closing END DEFINE
        while (!st.toUpperCase.endsWith("END DEFINE")) {
          idx += 1
          require(idx < sts.length, "DEFINE without END DEFINE")
          st = st + "; " + sts(idx)
        }
        if (SqlText.re("(?i)^DEFINE\\s+ACTION\\b").findFirstIn(st).isDefined)
          defineAction(st, actions)
        else defineSubquery(st, scalars, lambdas)
      }
      // DO $action(args); / DO BEGIN ... END DO; / DO EMPTY_ACTION()
      // (do_stmt): splice the action's statements at the call site
      // with parameters textually bound — the reference's
      // translation-time macro expansion, exactly.
      else if (firstWord == "DO")
        sts.insertAll(idx + 1,
          expandDo(st.drop("DO".length).trim, actions))
      // EVALUATE FOR $x IN <list literal> DO ... [ELSE DO ...]
      // (evaluate_for_stmt): translation-time loop unrolling.
      // EVALUATE IF <cond> DO ... [ELSE DO ...] (evaluate_if_stmt):
      // the condition folds through the evalCond hook.
      // if_stmt/for_stmt (SQLv1.g.in:949-950): the EVALUATE prefix is
      // OPTIONAL, and FOR takes an optional PARALLEL hint (unrolled
      // bodies here are independent statements either way)
      else if (firstWord == "EVALUATE" || firstWord == "IF" ||
          firstWord == "FOR" || firstWord == "PARALLEL") {
        var norm = st
        if (firstWord == "PARALLEL") {
          norm = norm.drop("PARALLEL".length).trim
          require(norm.takeWhile(_.isLetter).equalsIgnoreCase("FOR"),
            s"PARALLEL applies to FOR, got: ${norm.take(40)}")
        }
        if (!norm.takeWhile(_.isLetter).equalsIgnoreCase("EVALUATE"))
          norm = "EVALUATE " + norm
        if (SqlText.re("(?i)^EVALUATE\\s+IF\\b").findFirstIn(norm).isDefined)
          sts.insertAll(idx + 1,
            evaluateIf(norm, actions, scalars, lambdas, evalCond))
        else {
          // EVALUATE PARALLEL FOR normalizes to EVALUATE FOR
          norm = SqlText.re("(?i)^EVALUATE\\s+PARALLEL\\s+FOR\\b")
            .replaceFirstIn(norm, "EVALUATE FOR")
          sts.insertAll(idx + 1, evaluateFor(norm, actions, scalars, lambdas))
        }
      }
      // IMPORT lib SYMBOLS $a, $b; (SQLv1.g.in import_stmt): bind the
      // library module's EXPORTed named nodes into this script's scope.
      // Libraries come from the caller's `libraries` map (name → module
      // text), lowered once per script and cached.
      else if (firstWord == "IMPORT") {
        val m = (s"(?i)^IMPORT\\s+($TargetRe)\\s+SYMBOLS\\s+([\\s\\S]+)$$").r
          .findFirstMatchIn(st).getOrElse(throw new IllegalArgumentException(
            s"malformed IMPORT (IMPORT lib SYMBOLS $$a, ...): ${st.take(60)}"))
        val lib = m.group(1).stripPrefix("`").stripSuffix("`")
        val syms = SqlText.split(m.group(2)).map(_.trim).filter(_.nonEmpty)
          .map { s0 =>
            require(s0.matches("\\$[A-Za-z_][A-Za-z0-9_]*"),
              s"malformed IMPORT symbol: ${s0.take(40)}")
            s0.stripPrefix("$")
          }
        require(syms.nonEmpty, "IMPORT without symbols")
        val text = libraries.get(lib).orElse(pragmaLibs.get(lib))
          .getOrElse(throw new IllegalArgumentException(
            s"unknown library `$lib`; register it in the libraries map " +
            "or attach it with PRAGMA library('path.sql')"))
        val (ls, ll, ex) = libCache.getOrElseUpdate(lib,
          lowerLibrary(lib, text))
        syms.foreach { sym =>
          require(ex(sym), s"library `$lib` does not export $$$sym")
          if (ll.contains(sym)) lambdas(sym) = ll(sym)
          else scalars(sym) = ls(sym)
        }
      }
      // EXPORT only terminates a library module (lowerLibrary); in a
      // main script it is an error, like the reference's SQL mode check
      else if (firstWord == "EXPORT") throw new IllegalArgumentException(
        "EXPORT is only allowed inside a library module")
      else if (unsupported(firstWord)) throw new IllegalArgumentException(
        s"unsupported YQL statement: $firstWord")
      else bindingOf(st) match {
        case Some((name, rhs)) =>
          // bindings resolve at DEFINITION time against earlier ones,
          // so later substitution is a single non-recursive pass; a
          // lambda's own parameters are kept for call-time binding
          parseLambda(rhs.trim, scalars, lambdas) match {
            case Some(Lambda(params, rawBody)) =>
              lambdas(name) = Lambda(params,
                substitute(rawBody, scalars, lambdas, keep0 = params.toSet))
            case None =>
              // curried regex-module factory (docs udf/list/re2.md,
              // pire.md): `$f = Re2::Grep(pattern)` binds a CALLABLE —
              // lower to a lambda over the flat registered function so
              // the existing call-site inlining applies
              val factory = ("(?i)^(Re2|Pire|Hyperscan|Pcre)::" +
                "([A-Za-z_][A-Za-z0-9_]*)\\s*\\(").r
                .findFirstMatchIn(rhs.trim)
              // Re2::Options is NOT a factory: it binds a scalar
              // options resource (folded to a token by the statement
              // rewrite) that later factory calls carry as a trailing
              // argument — route it to the scalar branch below
              val curried = factory
                .filterNot(_.group(2).equalsIgnoreCase("options"))
                .filter { fm =>
                  SqlText.matchBracket(rhs.trim, fm.end - 1) == rhs.trim.length - 1 }
              curried match {
                case Some(fm) =>
                  val fn = fm.group(2).toLowerCase
                  val mod =
                    if (fm.group(1).equalsIgnoreCase("re2")) "re2" else "pire"
                  val t = rhs.trim
                  val args = substitute(
                    t.substring(fm.end, t.length - 1), scalars, lambdas)
                  if (fn == "replace")
                    lambdas(name) = Lambda(Seq("__s", "__r"),
                      s"${mod}_replace($$__s, $args, $$__r)")
                  else
                    lambdas(name) = Lambda(Seq("__s"),
                      s"${mod}_$fn($$__s, $args)")
                case None =>
                  val body = lowerSelect(substitute(rhs.trim, scalars, lambdas))
                  // wrap unless already ONE balanced group (a subselect)
                  scalars(name) =
                    if (body.startsWith("(") && SqlText.matchBracket(body, 0) == body.length - 1)
                      body
                    else "(" + body + ")"
              }
          }
        case None =>
          stmts += SelectStmt(lowerSelect(substitute(st, scalars, lambdas)))
      }
      idx += 1
    }
    if (stmts.isEmpty) throw new IllegalArgumentException(
      "YQL script has no executable statement (SELECT/INSERT/DML/DDL)")
    Lowered(pragmas.toSeq, stmts.toSeq, discards.toSeq,
      anonNames.values.toSeq)
  }

  /** Pragmas whose semantics CHANGE query results relative to this
    * engine's behavior (reference pragma table sql_query.cpp:2939-3337;
    * docs yt/docs/en/yql/syntax/pragma.md) → lowercase name → why it
    * must raise instead of silently no-op. Only the modes this engine
    * genuinely cannot produce raise. The ANSI-mode pragmas
    * (AnsiInForEmptyOrNullableItemsCollections, AnsiRankForNullableKeys,
    * AnsiCurrentRow, OrderedColumns, SimpleColumns) request exactly the
    * semantics this engine ALWAYS runs (Spark/ANSI: standard IN with
    * NULLs, null-peer rank, RANGE implicit frame, preserved projection
    * order, unprefixed join columns) — those accept-and-record, which
    * is "implemented", not "ignored". Operational/optimizer pragmas
    * stay accept-and-record too. */
  private val semanticPragmas: Map[String, String] = Map(
    "disablesimplecolumns" ->
      ("qualified join-output columns (a.b-style) are not implemented; " +
        "this engine always produces SimpleColumns naming"),
    "coalescejoinkeysonqualifiedall" ->
      "coalesced join keys under qualified * are not implemented",
    "disableansiinforemptyornullableitemscollections" ->
      ("legacy non-ANSI IN-with-NULLs (pragma.md: '1 IN (2,3,NULL) = " +
        "Just(False)') is not implemented; this engine always runs the " +
        "standard semantics"),
    "disableansirankfornullablekeys" ->
      ("legacy rank() over nullable keys (NULL result, NULL keys " +
        "unequal) is not implemented; this engine always runs the " +
        "ANSI null-peer semantics"))
  // (DistinctOverWindow is IMPLEMENTED: lowerDistinctOverWindow
  // rewrites agg(DISTINCT) OVER onto collect_set when the pragma is
  // set, and raises the reference's error without it.)

  /** The `Streaming::Process` / `Streaming::ProcessInline` spelling of
    * PROCESS USING (streaming_udf.cpp:694,765; signature
    * (stream, command[, arguments][, inputDelimiter][, outputDelimiter])):
    * parsed here into a [[PipeStmt]] the executor runs as one external
    * process per partition. Literal-typed arguments, like the
    * reference's compile-time signature. Returns None when the USING
    * call is not the Streaming module (the lambda path handles it). */
  private def lowerProcessPipe(st: String,
      scalars: collection.Map[String, String],
      lambdas: collection.Map[String, Lambda]): Option[PipeStmt] = {
    val usingAt = SqlText.findKw(st, "USING")
    if (usingAt < 0) return None
    val whereAt = SqlText.findKw(st, "WHERE")
    val usingEnd = if (whereAt > usingAt) whereAt else st.length
    val call = substitute(st.substring(usingAt + 5, usingEnd).trim,
      scalars, lambdas)
    val m = "(?i)^Streaming\\s*::\\s*(Process|ProcessInline)\\s*\\("
      .r.findFirstMatchIn(call).getOrElse(return None)
    val open = call.indexOf('(', m.end - 1)
    val close = SqlText.matchBracket(call, open)
    val args = SqlText.split(call.substring(open + 1, close))
      .map(_.trim).filter(_.nonEmpty)
    require(args.nonEmpty &&
      args.head.replaceAll("\\s", "").equalsIgnoreCase("TableRows()"),
      "Streaming::Process takes TableRows() as its stream argument")
    require(args.length >= 2,
      "Streaming::Process needs the command argument")
    def strLit(s: String, what: String): String = {
      val t = s.trim
      require(t.length >= 2 && (t.head == '\'' || t.head == '"') &&
        t.last == t.head,
        s"Streaming::Process: $what must be a string literal, got: $t")
      t.substring(1, t.length - 1)
    }
    val cmdOrScript = strLit(args(1), "the command")
    val extra: Seq[String] =
      if (args.length >= 3 && args(2).replaceAll("\\s", "")
          .toLowerCase.startsWith("aslist(")) {
        val o2 = args(2).indexOf('(')
        SqlText.split(args(2).substring(o2 + 1,
          SqlText.matchBracket(args(2), o2))).map(a => strLit(a, "an argument"))
      } else Seq.empty
    val delims = args.drop(if (extra.nonEmpty) 3 else 2)
      .map(a => strLit(a, "a delimiter"))
    require(delims.length <= 2,
      "Streaming::Process takes at most (in, out) delimiters")
    val inDelim = delims.headOption.getOrElse("\n")
    val outDelim = delims.lift(1).getOrElse("\n")

    var head = st.substring(0, usingAt).trim
      .substring("PROCESS".length).trim
    if (head.toUpperCase.startsWith("STREAM "))
      head = head.substring("STREAM".length).trim
    val src = substitute(head, scalars, lambdas)
    val where = if (whereAt < 0) ""
      else " WHERE " + substitute(st.substring(whereAt + 5).trim,
        scalars, lambdas)
    val srcSql = lowerSelect(s"SELECT * FROM $src$where")
    if (m.group(1).equalsIgnoreCase("ProcessInline"))
      Some(PipeStmt(srcSql, extra, Some(cmdOrScript), inDelim, outDelim))
    else
      Some(PipeStmt(srcSql, cmdOrScript +: extra, None, inDelim, outDelim))
  }

  /** `PROCESS [STREAM] src [USING $f(TableRows()) [AS a]] [WHERE p]`
    * (SQLv1.g.in process_core): without USING, the documented
    * passthrough (`SELECT *`); with USING, the lambda applies per row —
    * `$p.col` references become column refs, and the body must be
    * `AsStruct(expr AS name, ...)` (the row-building idiom), which
    * lowers to the projection list. */
  private def lowerProcess(st: String,
      scalars: collection.Map[String, String],
      lambdas: collection.Map[String, Lambda]): String = {
    def findKw(kw: String): Int = SqlText.findKw(st, kw)
    val usingAt = findKw("USING")
    val whereAt = findKw("WHERE")
    val srcEnd = Seq(usingAt, whereAt, st.length).filter(_ >= 0).min
    var head = st.substring(0, srcEnd).trim
    head = head.substring("PROCESS".length).trim
    if (head.toUpperCase.startsWith("STREAM "))
      head = head.substring("STREAM".length).trim
    val src = substitute(head, scalars, lambdas)
    val where = if (whereAt < 0) ""
      else " WHERE " + substitute(st.substring(whereAt + 5).trim, scalars, lambdas)
    val items =
      if (usingAt < 0) "*"
      else {
        val usingEnd = if (whereAt > usingAt) whereAt else st.length
        val call = st.substring(usingAt + 5, usingEnd).trim
        val m = ("(?i)^\\$([A-Za-z_][A-Za-z0-9_]*)\\s*\\(\\s*TableRows\\s*\\(\\s*\\)\\s*\\)" +
          "(\\s+AS\\s+[A-Za-z_][A-Za-z0-9_]*)?$").r
          .findFirstMatchIn(call).getOrElse(throw new IllegalArgumentException(
            s"PROCESS USING supports `$$lambda(TableRows())`, got: ${call.take(60)}"))
        val lam = lambdas.getOrElse(m.group(1),
          throw new IllegalArgumentException(s"undeclared lambda $$${m.group(1)}"))
        require(lam.params.length == 1,
          "PROCESS lambda takes exactly one row parameter")
        val p = lam.params.head
        // $p.col → col; a bare whole-row $p is out of scope
        val body = ("\\$" + java.util.regex.Pattern.quote(p) + "\\.").r
          .replaceAllIn(lam.body, "")
        if (body.contains("$" + p)) throw new IllegalArgumentException(
          "whole-row lambda references are not supported in PROCESS; " +
          "use $" + p + ".column")
        asStructItems(body, "PROCESS")
      }
    lowerSelect(s"SELECT $items FROM $src$where")
  }

  /** Unwrap `AsStruct(item AS name, ...)` — the row-building idiom —
    * into a projection list. */
  private def asStructItems(body: String, ctx: String): String = {
    val t = body.trim
    val m = "(?i)^AsStruct\\s*\\(".r.findFirstMatchIn(t)
      .getOrElse(throw new IllegalArgumentException(
        s"$ctx lambda body must be AsStruct(expr AS name, ...)"))
    val close = SqlText.matchBracket(t, m.end - 1)
    require(close == t.length - 1,
      s"$ctx lambda body must be a single AsStruct(...) call")
    SqlText.split(t.substring(m.end, close))
      .map(_.trim).filter(_.nonEmpty).mkString(", ")
  }

  /** `REDUCE src [PRESORT s [ASC|DESC], ...] ON k1, k2 USING $f(arg)
    * [AS a] [WHERE pre] [HAVING post] [ASSUME ORDER BY ...]`
    * (SQLv1.g.in reduce_core; semantics
    * yt/docs/en/yql/syntax/reduce.md): group `src` by the ON columns
    * and call the two-parameter lambda once per group with
    * (key, lazy value stream). The supported lambda shape is the
    * row-building idiom `($k, $vs) -> (AsStruct(item AS name, ...))`:
    * items reference the key — `$k` for a single column, `$k.N` tuple
    * access for multi-column keys (the documented Tuple key) — and
    * aggregate the stream, `$vs` inside aggregate calls; with
    * `$f(TableRow())` the stream items are whole rows and `$vs.col`
    * projects a column. Lowered to a grouped aggregation — Spark's
    * partial/final hash aggregate IS the distributed reduce (map-side
    * combine, no whole-group materialization).
    *
    * PRESORT orders each group's stream (the docs' in-group sequence):
    * order-insensitive aggregates are unaffected; for
    * `AGGREGATE_LIST($vs)` (or `AGGREGATE_LIST($vs.col)` with
    * TableRow()) the lowering collects (presort-keys, value) structs
    * and sorts each group's array with a comparator — the documented
    * order, exactly, with no global sort. `ASSUME ORDER BY` is
    * accepted and ignored (it asserts an order without sorting; result
    * ROWS are identical). `USING ALL` (one call over all groups as a
    * single stream) and multi-input REDUCE are rejected. */
  private def lowerReduce(st: String,
      scalars: collection.Map[String, String],
      lambdas: collection.Map[String, Lambda]): String = {
    import java.util.regex.{Matcher, Pattern}
    val presortAt = SqlText.findKw(st, "PRESORT")
    val onAt = SqlText.findKw(st, "ON")
    val usingAt = SqlText.findKw(st, "USING")
    require(onAt >= 0 && usingAt > onAt, "REDUCE requires ON ... USING ...")
    val whereAt = SqlText.findKw(st, "WHERE", usingAt)
    val havingAt = SqlText.findKw(st, "HAVING", usingAt)
    val assumeAt = SqlText.findKw(st, "ASSUME", usingAt)
    val usingEnd = Seq(whereAt, havingAt, assumeAt, st.length)
      .filter(_ >= 0).min
    val srcEnd = if (presortAt >= 0) presortAt else onAt
    val head = st.substring(0, srcEnd).trim.substring("REDUCE".length).trim
    require(SqlText.split(head).length == 1,
      "multi-input REDUCE is not supported")
    val src = substitute(head, scalars, lambdas)
    val presort: Seq[(String, Boolean)] =
      if (presortAt < 0) Nil
      else SqlText.split(st.substring(presortAt + "PRESORT".length, onAt))
        .map(_.trim).filter(_.nonEmpty).map { item =>
          val up = item.toUpperCase
          if (up.endsWith(" DESC")) (item.dropRight(5).trim, false)
          else if (up.endsWith(" ASC")) (item.dropRight(4).trim, true)
          else (item, true)
        }.map { case (e, asc) => (substitute(e, scalars, lambdas), asc) }
    val keys = SqlText.split(st.substring(onAt + 2, usingAt))
      .map(_.trim).filter(_.nonEmpty)
    require(keys.nonEmpty, "REDUCE ON requires at least one key column")
    var call = st.substring(usingAt + "USING".length, usingEnd).trim
    if (SqlText.re("(?i)^ALL\\b[\\s\\S]*").matches(call))
      throw new IllegalArgumentException(
        "REDUCE USING ALL (one call over every group) is not supported; " +
        "use USING (one call per group)")
    call = "(?i)\\s+AS\\s+[A-Za-z_][A-Za-z0-9_]*$".r.replaceFirstIn(call, "")
    val m = "^\\$([A-Za-z_][A-Za-z0-9_]*)\\s*\\(".r.findFirstMatchIn(call)
      .getOrElse(throw new IllegalArgumentException(
        s"REDUCE USING supports `$$lambda(arg)`, got: ${call.take(60)}"))
    val close = SqlText.matchBracket(call, m.end - 1)
    require(call.substring(close + 1).trim.isEmpty,
      "trailing text after the REDUCE USING call")
    val lam = lambdas.getOrElse(m.group(1),
      throw new IllegalArgumentException(s"undeclared lambda $$${m.group(1)}"))
    require(lam.params.length == 2,
      "REDUCE lambda takes two parameters: (key, values)")
    val rawArg = call.substring(m.end, close).trim
    val wholeRow = rawArg.matches("(?i)TableRow\\s*\\(\\s*\\)")
    val argExpr = if (wholeRow) "" else substitute(rawArg, scalars, lambdas)
    val Seq(kp, vp) = lam.params
    // sorted in-group collect: (presort keys, value) structs, one
    // array_sort comparator per group's array — PRESORT order, exact
    def sortedCollect(valueExpr: String): String = {
      val fields = presort.zipWithIndex
        .map { case ((e, _), i) => s"'__ps$i', ($e)" }
        .mkString(", ")
      def cmp(i: Int): String =
        if (i == presort.length) "0"
        else {
          val (lt, gt) = if (presort(i)._2) (-1, 1) else (1, -1)
          s"CASE WHEN l.__ps$i < r.__ps$i THEN $lt " +
            s"WHEN l.__ps$i > r.__ps$i THEN $gt ELSE ${cmp(i + 1)} END"
        }
      s"transform(array_sort(collect_list(named_struct($fields, " +
        s"'__pv', ($valueExpr))), (l, r) -> ${cmp(0)}), x -> x.__pv)"
    }
    def rewriteRefs(text0: String): String = {
      var text = text0
      // key references: bare $k (single column) or $k.N tuple access
      if (keys.length == 1) {
        require(!text.contains("$" + kp + "."),
          s"$$$kp is the bare key value for a single-column key")
        text = SqlText.re("\\$" + Pattern.quote(kp) + "\\b").replaceAllIn(text,
          Matcher.quoteReplacement("(" + keys.head + ")"))
      } else {
        text = ("\\$" + Pattern.quote(kp) + "\\.(\\d+)").r
          .replaceAllIn(text, mm => {
            val i = mm.group(1).toInt
            require(i < keys.length,
              s"key tuple index $i out of range (${keys.length} key columns)")
            Matcher.quoteReplacement("(" + keys(i) + ")")
          })
        if (SqlText.re("\\$" + Pattern.quote(kp) + "\\b").findFirstIn(text).isDefined)
          throw new IllegalArgumentException("bare $" + kp +
            " with a multi-column key; use $" + kp + ".N tuple access")
      }
      // value-stream references
      if (wholeRow) {
        if (presort.nonEmpty) {
          val re = ("(?i)AGGREGATE_LIST\\s*\\(\\s*\\$" + Pattern.quote(vp) +
            "\\.([A-Za-z_][A-Za-z0-9_]*)\\s*\\)").r
          text = re.replaceAllIn(text,
            mm => Matcher.quoteReplacement(sortedCollect(mm.group(1))))
        }
        text = ("\\$" + Pattern.quote(vp) + "\\.").r.replaceAllIn(text, "")
        if (SqlText.re("\\$" + Pattern.quote(vp) + "\\b").findFirstIn(text).isDefined)
          throw new IllegalArgumentException("bare $" + vp +
            " with TableRow(); project columns as $" + vp + ".col")
      } else {
        require(!text.contains("$" + vp + "."),
          s"$$$vp is the stream of `$rawArg` values; member access needs TableRow()")
        if (presort.nonEmpty) {
          val re = ("(?i)AGGREGATE_LIST\\s*\\(\\s*\\$" + Pattern.quote(vp) +
            "\\s*\\)").r
          text = re.replaceAllIn(text,
            Matcher.quoteReplacement(sortedCollect(argExpr)))
        }
        text = SqlText.re("\\$" + Pattern.quote(vp) + "\\b").replaceAllIn(text,
          Matcher.quoteReplacement("(" + argExpr + ")"))
      }
      text
    }
    val items = asStructItems(rewriteRefs(lam.body), "REDUCE")
    val where = if (whereAt < 0) "" else " WHERE " +
      substitute(st.substring(whereAt + 5,
        Seq(havingAt, assumeAt, st.length).filter(_ >= 0).min).trim,
        scalars, lambdas)
    val having = if (havingAt < 0) "" else " HAVING " +
      substitute(rewriteRefs(st.substring(havingAt + 6,
        Seq(assumeAt, st.length).filter(_ >= havingAt).min).trim),
        scalars, lambdas)
    lowerSelect(
      s"SELECT $items FROM $src$where GROUP BY ${keys.mkString(", ")}$having")
  }

  /** `INSERT INTO target [WITH TRUNCATE] <select>` (SQLv1.g.in
    * into_table_stmt; `WITH TRUNCATE` is the overwrite spelling,
    * semantics yt/docs en/yql/syntax/insert_into.md): the write verb
    * of a YQL script. Targets are session-catalog tables (identifier
    * or backticked name); the source select goes through the full
    * statement lowering (bindings, FLATTEN BY, WITHOUT), then the
    * whole statement lowers to Spark's `INSERT INTO` / `INSERT
    * OVERWRITE TABLE` — a distributed write planned by Catalyst, with
    * WITH TRUNCATE mapping to overwrite exactly. */
  private def lowerInsert(st: String,
      scalars: collection.Map[String, String],
      lambdas: collection.Map[String, Lambda]): String = {
    if (stripReturning(st)._2.isDefined) throw new IllegalArgumentException(
      "INSERT ... RETURNING is not supported; UPSERT/REPLACE/DELETE/UPDATE " +
      "support RETURNING")
    // `\s*` before the source: `INSERT INTO t(a, b) SELECT ...` — the
    // column list glued to the table name — is standard spelling
    val m = SqlText.re("(?i)^INSERT\\s+INTO\\s+([A-Za-z_][A-Za-z0-9_.]*|`[^`]+`)" +
      "(\\s+WITH\\s+TRUNCATE\\b)?\\s*([\\s\\S]+)$").findFirstMatchIn(st)
      .getOrElse(throw new IllegalArgumentException(
        s"malformed INSERT: ${st.take(60)}"))
    val target = m.group(1)
    val truncate = m.group(2) != null
    var src = m.group(3).trim
    // optional column list `(a, b)` between target and source
    var colList = ""
    if (src.startsWith("(")) {
      val close = SqlText.matchBracket(src, 0)
      val inner = src.substring(1, close)
      val rest = src.substring(close + 1).trim
      val restKw = rest.takeWhile(_.isLetter).toUpperCase
      if ((restKw == "SELECT" || restKw == "VALUES") &&
          SqlText.split(inner).forall(
            _.trim.matches("[A-Za-z_][A-Za-z0-9_]*|`[^`]+`"))) {
        colList = s" ($inner)"; src = rest
      }
    }
    val kw = src.takeWhile(_.isLetter).toUpperCase
    require(kw == "SELECT" || kw == "VALUES" || src.startsWith("("),
      "INSERT source must be a SELECT, VALUES, or parenthesized query")
    val lowered =
      if (kw == "VALUES") substitute(src, scalars, lambdas)
      else lowerSelect(substitute(src, scalars, lambdas))
    if (truncate) s"INSERT OVERWRITE TABLE $target$colList $lowered"
    else s"INSERT INTO $target$colList $lowered"
  }

  private val TargetRe = "[A-Za-z_][A-Za-z0-9_.]*|`[^`]+`"

  /** Strip a trailing top-level `RETURNING *|c1, c2` clause
    * (SQLv1.g.in:577 returning_columns_list) from a DML statement.
    * Returns (statement without the clause, Some(Nil) for `*` /
    * Some(cols) / None). Only a TRAILING clause whose tail parses as
    * a column list counts — `returning` as an identifier elsewhere is
    * left alone. */
  private def stripReturning(st: String): (String, Option[Seq[String]]) = {
    var at = SqlText.findKw(st, "RETURNING")
    var last = -1
    while (at >= 0) { last = at; at = SqlText.findKw(st, "RETURNING", at + 9) }
    if (last < 0) return (st, None)
    val tail = st.substring(last + "RETURNING".length).trim
    if (tail == "*") (st.substring(0, last).trim, Some(Nil))
    else {
      val cols = SqlText.split(tail).map(_.trim)
      if (cols.nonEmpty &&
          cols.forall(_.matches("[A-Za-z_][A-Za-z0-9_]*|`[^`]+`")))
        (st.substring(0, last).trim, Some(cols))
      else (st, None)
    }
  }

  /** `UPSERT INTO t [(cols)] <select|values>` / `REPLACE INTO ...`
    * (SQLv1.g.in:579 into_table_stmt, UPSERT|REPLACE alternatives;
    * semantics yt/docs sorted-dynamic-tables.md:171-177): the keyed
    * write verbs. Lowered to an [[UpsertStmt]]; execution (the
    * full-outer key merge onto the target, latest-wins) lives in
    * [[YqlDml]] — the same semantics DynTable.insertRows gives the
    * API surface. */
  private def lowerUpsert(st0: String,
      scalars: collection.Map[String, String],
      lambdas: collection.Map[String, Lambda]): Stmt = {
    val (st, returning) = stripReturning(st0)
    val m = (s"(?i)^(UPSERT|REPLACE)\\s+INTO\\s+($TargetRe)\\s*([\\s\\S]+)$$").r
      .findFirstMatchIn(st).getOrElse(throw new IllegalArgumentException(
        s"malformed ${st.takeWhile(_.isLetter).toUpperCase}: ${st.take(60)}"))
    val replace = m.group(1).equalsIgnoreCase("REPLACE")
    val target = m.group(2)
    var src = m.group(3).trim
    var cols: Seq[String] = Nil
    if (src.startsWith("(")) {
      val close = SqlText.matchBracket(src, 0)
      val inner = src.substring(1, close)
      val rest = src.substring(close + 1).trim
      val restKw = rest.takeWhile(_.isLetter).toUpperCase
      if ((restKw == "SELECT" || restKw == "VALUES") &&
          SqlText.split(inner).forall(
            _.trim.matches("[A-Za-z_][A-Za-z0-9_]*|`[^`]+`"))) {
        cols = SqlText.split(inner).map(_.trim); src = rest
      }
    }
    val kw = src.takeWhile(_.isLetter).toUpperCase
    require(kw == "SELECT" || kw == "VALUES" || src.startsWith("("),
      s"${m.group(1).toUpperCase} source must be a SELECT, VALUES, or " +
      "parenthesized query")
    val lowered =
      if (kw == "VALUES") substitute(src, scalars, lambdas)
      else lowerSelect(substitute(src, scalars, lambdas))
    UpsertStmt(target, cols, lowered, replace, returning)
  }

  /** `INSERT OR ABORT|REVERT|IGNORE INTO t [(cols)] <select|values>`
    * (SQLv1.g.in:579): keyed insert with a conflict policy, executed
    * by [[YqlDml.insertOr]]. `afterInto` is the match end of the
    * `INSERT OR <mode> INTO` head. */
  private def lowerInsertOr(st0: String, mode: String, afterInto: Int,
      scalars: collection.Map[String, String],
      lambdas: collection.Map[String, Lambda]): Stmt = {
    val (stFull, returning) = stripReturning(st0)
    val rest0 = stFull.substring(math.min(afterInto, stFull.length)).trim
    val m = (s"^($TargetRe)\\s*([\\s\\S]+)$$").r.findFirstMatchIn(rest0)
      .getOrElse(throw new IllegalArgumentException(
        s"malformed INSERT OR ${mode.toUpperCase}: ${st0.take(60)}"))
    val target = m.group(1)
    var src = m.group(2).trim
    var cols: Seq[String] = Nil
    if (src.startsWith("(")) {
      val close = SqlText.matchBracket(src, 0)
      val inner = src.substring(1, close)
      val rest = src.substring(close + 1).trim
      val restKw = rest.takeWhile(_.isLetter).toUpperCase
      if ((restKw == "SELECT" || restKw == "VALUES") &&
          SqlText.split(inner).forall(
            _.trim.matches("[A-Za-z_][A-Za-z0-9_]*|`[^`]+`"))) {
        cols = SqlText.split(inner).map(_.trim); src = rest
      }
    }
    val kw = src.takeWhile(_.isLetter).toUpperCase
    require(kw == "SELECT" || kw == "VALUES" || src.startsWith("("),
      s"INSERT OR ${mode.toUpperCase} source must be a SELECT, VALUES, " +
      "or parenthesized query")
    val lowered =
      if (kw == "VALUES") substitute(src, scalars, lambdas)
      else lowerSelect(substitute(src, scalars, lambdas))
    InsertOrStmt(target, cols, lowered, mode, returning)
  }

  /** Unwrap one level of full-statement parentheses (`ON (SELECT ...)`). */
  private def unwrapGroup(s0: String): String = {
    var s = s0.trim
    while (s.startsWith("(") && SqlText.matchBracket(s, 0) == s.length - 1)
      s = s.substring(1, s.length - 1).trim
    s
  }

  /** `DELETE FROM t [WHERE p | ON <keys-select>]` (SQLv1.g.in:968
    * delete_stmt): WHERE keeps the non-matching rows; ON is the
    * by-key form (the source must project exactly the key columns).
    * Execution in [[YqlDml.delete]] — DynTable.deleteRows semantics. */
  private def lowerDelete(st0: String,
      scalars: collection.Map[String, String],
      lambdas: collection.Map[String, Lambda]): Stmt = {
    val (st, returning) = stripReturning(st0)
    val m = (s"(?i)^DELETE\\s+FROM\\s+($TargetRe)\\s*([\\s\\S]*)$$").r
      .findFirstMatchIn(st).getOrElse(throw new IllegalArgumentException(
        s"malformed DELETE: ${st.take(60)}"))
    val target = m.group(1)
    val rest = m.group(2).trim
    if (rest.isEmpty) DeleteStmt(target, None, None, returning)
    else {
      val kw = rest.takeWhile(_.isLetter).toUpperCase
      if (kw == "WHERE")
        DeleteStmt(target,
          Some(substitute(rest.drop("WHERE".length).trim, scalars, lambdas)),
          None, returning)
      else if (kw == "ON")
        DeleteStmt(target, None, Some(lowerSelect(substitute(
          unwrapGroup(rest.drop("ON".length)), scalars, lambdas))), returning)
      else throw new IllegalArgumentException(
        s"DELETE expects WHERE or ON, got: ${rest.take(60)}")
    }
  }

  /** `UPDATE t SET c = e, ... [WHERE p]` or `UPDATE t ON <select>`
    * (SQLv1.g.in:969 update_stmt): partial update — SET assignments
    * all evaluate against the OLD row (simultaneous assignment); the
    * ON form updates the source's non-key columns for matching keys.
    * Execution in [[YqlDml]] — the DynTable partial-update semantics. */
  private def lowerUpdate(st0: String,
      scalars: collection.Map[String, String],
      lambdas: collection.Map[String, Lambda]): Stmt = {
    val (st, returning) = stripReturning(st0)
    val m = (s"(?i)^UPDATE\\s+($TargetRe)\\s+([\\s\\S]+)$$").r
      .findFirstMatchIn(st).getOrElse(throw new IllegalArgumentException(
        s"malformed UPDATE: ${st.take(60)}"))
    val target = m.group(1)
    val rest = m.group(2).trim
    val kw = rest.takeWhile(_.isLetter).toUpperCase
    if (kw == "ON")
      UpdateStmt(target, Nil, None, Some(lowerSelect(substitute(
        unwrapGroup(rest.drop("ON".length)), scalars, lambdas))), returning)
    else {
      require(kw == "SET", s"UPDATE expects SET or ON, got: ${rest.take(60)}")
      val whereAt = SqlText.findKw(rest, "WHERE")
      val setText = rest.substring("SET".length,
        if (whereAt >= 0) whereAt else rest.length)
      val sets = SqlText.split(setText).map(_.trim).filter(_.nonEmpty).map { item =>
        val mm = "^([A-Za-z_][A-Za-z0-9_]*|`[^`]+`)\\s*=\\s*([\\s\\S]+)$".r
          .findFirstMatchIn(item).getOrElse(
            throw new IllegalArgumentException(
              s"malformed SET assignment: ${item.take(60)}"))
        require(!mm.group(2).startsWith("="),
          s"malformed SET assignment: ${item.take(60)}")
        (mm.group(1), substitute(mm.group(2).trim, scalars, lambdas))
      }
      require(sets.nonEmpty, "UPDATE SET list is empty")
      val where =
        if (whereAt < 0) None
        else Some(substitute(rest.substring(whereAt + "WHERE".length).trim,
          scalars, lambdas))
      UpdateStmt(target, sets, where, None, returning)
    }
  }

  /** Script DDL (SQLv1.g.in:647 create_table_stmt, :833
    * drop_table_stmt, :698 alter_table_stmt) lowered to Spark DDL
    * over parquet: `CREATE TABLE t (a Int64, ..., PRIMARY KEY (k))`
    * maps YQL types through [[declaredSparkType]] and records the key
    * columns as the `graft.key_columns` table property — the keyed-
    * table marker the DML verbs require; `CREATE TABLE ... AS
    * <select>` runs the select through the full statement lowering;
    * DROP and ALTER pass through shape-checked. */
  private def lowerDdl(st: String,
      scalars: collection.Map[String, String],
      lambdas: collection.Map[String, Lambda]): Stmt = {
    val first = st.takeWhile(_.isLetter).toUpperCase
    if (first == "DROP") {
      require(st.matches(s"(?is)^DROP\\s+TABLE\\s+(IF\\s+EXISTS\\s+)?($TargetRe)\\s*$$"),
        s"malformed DROP TABLE: ${st.take(60)}")
      DdlStmt(st)
    } else if (first == "ALTER") {
      // ADD/DROP INDEX (SQLv1.g.in:744,:764) executes through YqlDml;
      // column add/drop/rename pass through to Spark's ALTER TABLE
      val add = (s"(?i)^ALTER\\s+TABLE\\s+($TargetRe)\\s+ADD\\s+INDEX\\s+" +
        "([A-Za-z_][A-Za-z0-9_]*)\\s+GLOBAL(\\s+UNIQUE)?(\\s+SYNC)?" +
        "\\s+ON\\s*\\(([^)]*)\\)\\s*$").r.findFirstMatchIn(st)
      val drop = (s"(?i)^ALTER\\s+TABLE\\s+($TargetRe)\\s+DROP\\s+INDEX\\s+" +
        "([A-Za-z_][A-Za-z0-9_]*)\\s*$").r.findFirstMatchIn(st)
      if (add.isDefined) {
        val m = add.get
        val cols = m.group(5).split(",").toSeq.map(_.trim).filter(_.nonEmpty)
        require(cols.nonEmpty, "empty index column list")
        IndexStmt(m.group(1), m.group(2), cols,
          unique = m.group(3) != null, drop = false)
      } else if (drop.isDefined)
        IndexStmt(drop.get.group(1), drop.get.group(2), Nil,
          unique = false, drop = true)
      else {
        require(st.matches(s"(?is)^ALTER\\s+TABLE\\s+($TargetRe)\\s+[\\s\\S]+$$"),
          s"malformed ALTER TABLE: ${st.take(60)}")
        DdlStmt(st)
      }
    } else {
      val m = (s"(?i)^CREATE\\s+TABLE\\s+(IF\\s+NOT\\s+EXISTS\\s+)?($TargetRe)\\s*([\\s\\S]*)$$").r
        .findFirstMatchIn(st).getOrElse(throw new IllegalArgumentException(
          s"malformed CREATE TABLE: ${st.take(60)}"))
      val ifNot = if (m.group(1) != null) "IF NOT EXISTS " else ""
      val name = m.group(2)
      val rest = m.group(3).trim
      if (rest.startsWith("(")) {
        val close = SqlText.matchBracket(rest, 0)
        var keys = Seq.empty[String]
        val cols = SqlText.split(rest.substring(1, close)).map(_.trim)
          .filter(_.nonEmpty).flatMap { item =>
            val pk = "(?i)^PRIMARY\\s+KEY\\s*\\(([^)]*)\\)$".r
              .findFirstMatchIn(item)
            if (pk.isDefined) {
              require(keys.isEmpty, "multiple PRIMARY KEY clauses")
              keys = pk.get.group(1).split(",").toSeq.map(_.trim)
                .filter(_.nonEmpty)
              require(keys.nonEmpty, "empty PRIMARY KEY column list")
              None
            } else {
              val cm = "^([A-Za-z_][A-Za-z0-9_]*|`[^`]+`)\\s+([\\s\\S]+)$".r
                .findFirstMatchIn(item).getOrElse(
                  throw new IllegalArgumentException(
                    s"malformed column definition: ${item.take(60)}"))
              // `Type [NOT NULL]` — map the type, keep the constraint
              val rawTy = cm.group(2).trim
              val notNull = "(?i)\\s+NOT\\s+NULL$".r.findFirstIn(rawTy).isDefined
              val ty = "(?i)\\s+NOT\\s+NULL$".r.replaceFirstIn(rawTy, "")
              Some((cm.group(1),
                declaredSparkType(ty).getOrElse(ty), notNull))
            }
          }.toBuffer
        require(cols.nonEmpty, "CREATE TABLE has no columns")
        // `PARTITION BY HASH (cols)` + `WITH (UNIFORM_PARTITIONS = n)`
        // (SQLv1.g.in:690-693): the reference's hash-partitioned keyed
        // table → Spark BUCKETED-SORTED storage. Partition columns
        // must be key columns and become NOT NULL (the reference
        // requires non-null partitioning keys; non-null keys also let
        // the DML merge join reuse the bucket distribution — the big
        // side of an UPSERT never shuffles). Other WITH settings
        // (AUTO_PARTITIONING_*) validate and drop: Spark owns runtime
        // re-partitioning via AQE.
        val trail = rest.substring(close + 1).trim
        var bucketCols = Seq.empty[String]
        var buckets = 32
        if (trail.nonEmpty) {
          val pbm = ("(?i)^PARTITION\\s+BY\\s+HASH\\s*\\(([^)]*)\\)" +
            "\\s*([\\s\\S]*)$").r.findFirstMatchIn(trail).getOrElse(
              throw new IllegalArgumentException(
                s"trailing text after the CREATE TABLE column list: ${st.take(80)}"))
          bucketCols = pbm.group(1).split(",").toSeq.map(_.trim)
            .filter(_.nonEmpty)
          require(bucketCols.nonEmpty, "empty PARTITION BY HASH column list")
          require(bucketCols.forall(keys.contains),
            "PARTITION BY HASH columns must be PRIMARY KEY columns")
          val w = pbm.group(2).trim
          if (w.nonEmpty) {
            val wm = "(?i)^WITH\\s*\\(([\\s\\S]*)\\)$".r.findFirstMatchIn(w)
              .getOrElse(throw new IllegalArgumentException(
                s"malformed WITH table settings: ${w.take(60)}"))
            SqlText.split(wm.group(1)).map(_.trim).filter(_.nonEmpty)
              .foreach { entry =>
                val em = "^([A-Za-z_][A-Za-z0-9_]*)\\s*=\\s*([\\s\\S]+)$".r
                  .findFirstMatchIn(entry).getOrElse(
                    throw new IllegalArgumentException(
                      s"malformed table setting: ${entry.take(60)}"))
                if (em.group(1).equalsIgnoreCase("UNIFORM_PARTITIONS"))
                  buckets = em.group(2).trim.toInt
                // other settings (AUTO_PARTITIONING_*) validate + drop
              }
          }
        }
        val colSql = cols.map { case (n, t0, nn) =>
          val forced = nn || bucketCols.contains(n)
          s"$n $t0" + (if (forced) " NOT NULL" else "")
        }
        val bucketSql =
          if (bucketCols.isEmpty) ""
          else s" CLUSTERED BY (${bucketCols.mkString(", ")}) " +
            s"SORTED BY (${bucketCols.mkString(", ")}) INTO $buckets BUCKETS"
        // parquet reads surface every column nullable regardless of the
        // DDL, so "all keys NOT NULL" is recorded as a property the DML
        // merge consults for the bucket-compatible plain-equality join
        val keysNonNull = keys.nonEmpty && keys.forall(k =>
          cols.exists { case (n, _, nn) =>
            n == k && (nn || bucketCols.contains(n)) })
        val props = if (keys.isEmpty) ""
          else s" TBLPROPERTIES ('graft.key_columns'='${keys.mkString(",")}'" +
            (if (keysNonNull) ", 'graft.keys_nonnull'='true'" else "") + ")"
        DdlStmt(s"CREATE TABLE $ifNot$name (${colSql.mkString(", ")}) " +
          s"USING parquet$bucketSql$props")
      } else if (SqlText.kwEnd(rest, 0, "AS") >= 0) {
        val sel = lowerSelect(substitute(unwrapGroup(rest.drop(2)),
          scalars, lambdas))
        DdlStmt(s"CREATE TABLE $ifNot$name USING parquet AS $sel")
      } else throw new IllegalArgumentException(
        s"malformed CREATE TABLE: ${st.take(60)}")
    }
  }

  /** `DECLARE $p AS type_name [= default]` (SQLv1.g.in declare_stmt):
    * a typed external parameter. The value comes from the caller's
    * `params` map (SQL literal/expression text) or the declared
    * default; the declared YQL type lowers to a CAST so the parameter
    * enters the query with the reference's declared type, not the
    * literal's inferred one. */
  private def lowerDeclare(st: String, params: Map[String, String],
      scalars: scala.collection.mutable.LinkedHashMap[String, String]): Unit = {
    val m = ("(?i)^DECLARE\\s+\\$([A-Za-z_][A-Za-z0-9_]*)\\s+AS\\s+" +
      "([A-Za-z_][A-Za-z0-9_]*(?:\\s*\\([^)]*\\))?\\s*\\??)" +
      "(?:\\s*=\\s*([\\s\\S]+))?$").r.findFirstMatchIn(st)
      .getOrElse(throw new IllegalArgumentException(
        s"malformed DECLARE: ${st.take(60)}"))
    val name = m.group(1)
    val value = params.get(name).orElse(Option(m.group(3)).map(_.trim))
      .getOrElse(throw new IllegalArgumentException(
        s"DECLARE $$$name has no binding: pass params(\"$name\") " +
        "or declare a default"))
    scalars(name) = declaredSparkType(m.group(2)) match {
      case Some(t) => s"(CAST(($value) AS $t))"
      case None => s"($value)"
    }
  }

  /** YQL type_name → Spark SQL cast type for DECLARE'd parameters
    * (type bijection as in types/YtTypes; unsigned widens to the next
    * signed type, uint64 rides the engine's biased-BIGINT domain). */
  private def declaredSparkType(yql: String): Option[String] = {
    val t = yql.trim.stripSuffix("?").trim
    val up = t.toUpperCase
    if (up.startsWith("DECIMAL")) Some(up)
    else up match {
      case "STRING" | "UTF8" => Some("STRING")
      case "INT8" | "UINT8" => Some("TINYINT")
      case "INT16" | "UINT16" => Some("SMALLINT")
      case "INT32" => Some("INT")
      case "UINT32" | "INT64" | "UINT64" => Some("BIGINT")
      case "FLOAT" => Some("FLOAT")
      case "DOUBLE" => Some("DOUBLE")
      case "BOOL" => Some("BOOLEAN")
      case "DATE" => Some("DATE")
      case "DATETIME" | "TIMESTAMP" => Some("TIMESTAMP")
      case _ => None
    }
  }

  /** `DEFINE SUBQUERY $s($a, ...) AS <bindings>; SELECT ... END
    * DEFINE` (SQLv1.g.in define_action_or_subquery_stmt): a
    * parameterized subquery template. The body is a scriptlet — named
    * scalar/lambda bindings plus exactly one final SELECT — processed
    * in its own scope (outer bindings visible, locals shadow, the
    * parameters kept for call-time binding). A call site `$s(args)`
    * (typically `FROM $s(...)`) inlines the final SELECT as a
    * parenthesized derived table with arguments substituted — plain
    * Catalyst planning, so the template composes with joins/windows
    * for free. DEFINE ACTION (side-effecting templates driven by DO)
    * is rejected. */
  private def defineSubquery(st: String,
      scalars: scala.collection.mutable.LinkedHashMap[String, String],
      lambdas: scala.collection.mutable.LinkedHashMap[String, Lambda]): Unit = {
    val m = "(?i)^DEFINE\\s+(ACTION|SUBQUERY)\\s+\\$([A-Za-z_][A-Za-z0-9_]*)\\s*\\(".r
      .findFirstMatchIn(st).getOrElse(throw new IllegalArgumentException(
        s"malformed DEFINE: ${st.take(60)}"))
    if (m.group(1).equalsIgnoreCase("ACTION"))
      throw new IllegalArgumentException(
        "DEFINE ACTION (side-effect templates) is not supported; " +
        "use DEFINE SUBQUERY")
    val name = m.group(2)
    val close = SqlText.matchBracket(st, m.end - 1)
    val params = SqlText.split(st.substring(m.end, close)).map(_.trim)
      .filter(_.nonEmpty).map(_.stripSuffix("?").stripPrefix("$"))
    val rest = st.substring(close + 1).trim
    require(rest.take(2).equalsIgnoreCase("AS"),
      "DEFINE SUBQUERY requires AS before the body")
    val bodyAll = rest.substring(2).trim
    require(bodyAll.toUpperCase.endsWith("END DEFINE"),
      "DEFINE without END DEFINE")
    val body = bodyAll.substring(0, bodyAll.length - "END DEFINE".length).trim
    val locals = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val localLams = scala.collection.mutable.LinkedHashMap.empty[String, Lambda]
    var select: Option[String] = None
    SqlText.split(body, ";").map(_.trim).filter(_.nonEmpty).foreach { s0 =>
      val scope = scalars ++ locals
      val lamScope = lambdas ++ localLams
      bindingOf(s0) match {
        case Some((n, rhs)) =>
          require(select.isEmpty, "bindings after the subquery's final SELECT")
          parseLambda(rhs.trim, scope, lamScope) match {
            case Some(Lambda(ps, rb)) =>
              localLams(n) = Lambda(ps,
                substitute(rb, scope, lamScope, keep0 = (ps ++ params).toSet))
            case None =>
              val b = lowerSelect(substitute(rhs.trim, scope, lamScope,
                keep0 = params.toSet))
              locals(n) =
                if (b.startsWith("(") && SqlText.matchBracket(b, 0) == b.length - 1) b
                else "(" + b + ")"
          }
        case None =>
          require(select.isEmpty,
            "DEFINE SUBQUERY body must end in exactly one SELECT")
          select = Some(lowerSelect(substitute(s0, scope, lamScope,
            keep0 = params.toSet)))
      }
    }
    lambdas(name) = Lambda(params, select.getOrElse(
      throw new IllegalArgumentException("DEFINE SUBQUERY body has no SELECT")))
  }

  /** `DEFINE ACTION $a($p, ...) AS <stmts> END DEFINE`
    * (define_action_or_subquery_stmt): a statement-list template.
    * The body is stored RAW; `DO $a(args)` splices it at the call
    * site with parameters textually bound — the reference expands
    * actions at translation time the same way. */
  private def defineAction(st: String,
      actions: scala.collection.mutable.LinkedHashMap[String, (Seq[String], String)]): Unit = {
    val m = "(?i)^DEFINE\\s+ACTION\\s+\\$([A-Za-z_][A-Za-z0-9_]*)\\s*\\(".r
      .findFirstMatchIn(st).getOrElse(throw new IllegalArgumentException(
        s"malformed DEFINE ACTION: ${st.take(60)}"))
    val name = m.group(1)
    val close = SqlText.matchBracket(st, m.end - 1)
    val params = SqlText.split(st.substring(m.end, close)).map(_.trim)
      .filter(_.nonEmpty).map(_.stripSuffix("?").stripPrefix("$"))
    val rest = st.substring(close + 1).trim
    require(rest.take(2).equalsIgnoreCase("AS"),
      "DEFINE ACTION requires AS before the body")
    val bodyAll = rest.substring(2).trim
    require(bodyAll.toUpperCase.endsWith("END DEFINE"),
      "DEFINE without END DEFINE")
    actions(name) =
      (params, bodyAll.substring(0, bodyAll.length - "END DEFINE".length).trim)
  }

  /** Lower a LIBRARY module (SQLv1.g.in export_stmt; modules are the
    * reuse unit IMPORT pulls from): named scalar/lambda bindings and
    * DEFINE SUBQUERY templates, terminated by `EXPORT $a, $b;`
    * statements naming the public symbols. Bindings resolve against
    * earlier LIBRARY bindings only (a module is self-contained);
    * non-exported names stay private. Returns (scalars, lambdas,
    * exported names). */
  private def lowerLibrary(name: String, text: String)
      : (Map[String, String], Map[String, Lambda], Set[String]) = {
    val scalars = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val lambdas = scala.collection.mutable.LinkedHashMap.empty[String, Lambda]
    var exports = Set.empty[String]
    val sts = scala.collection.mutable.ArrayBuffer(SqlText.split(
      SqlText.dropComments(text), ";").map(_.trim).filter(_.nonEmpty): _*)
    var idx = 0
    while (idx < sts.length) {
      var st = sts(idx)
      val first = st.takeWhile(_.isLetter).toUpperCase
      if (first == "EXPORT") {
        val names = SqlText.split(st.drop("EXPORT".length)).map(_.trim)
          .filter(_.nonEmpty).map { s0 =>
            require(s0.matches("\\$[A-Za-z_][A-Za-z0-9_]*"),
              s"library `$name`: malformed EXPORT symbol: ${s0.take(40)}")
            s0.stripPrefix("$")
          }
        require(names.nonEmpty, s"library `$name`: EXPORT without symbols")
        exports ++= names
      } else if (first == "DEFINE") {
        while (!st.toUpperCase.endsWith("END DEFINE")) {
          idx += 1
          require(idx < sts.length,
            s"library `$name`: DEFINE without END DEFINE")
          st = st + "; " + sts(idx)
        }
        defineSubquery(st, scalars, lambdas)
      } else bindingOf(st) match {
        case Some((n, rhs)) =>
          parseLambda(rhs.trim, scalars, lambdas) match {
            case Some(Lambda(ps, rawBody)) =>
              lambdas(n) = Lambda(ps,
                substitute(rawBody, scalars, lambdas, keep0 = ps.toSet))
            case None =>
              val body = lowerSelect(substitute(rhs.trim, scalars, lambdas))
              scalars(n) =
                if (body.startsWith("(") && SqlText.matchBracket(body, 0) == body.length - 1)
                  body
                else "(" + body + ")"
          }
        case None => throw new IllegalArgumentException(
          s"library `$name`: only bindings, DEFINE SUBQUERY and EXPORT " +
          s"are allowed, got: ${st.take(60)}")
      }
      idx += 1
    }
    exports.foreach { e =>
      require(scalars.contains(e) || lambdas.contains(e),
        s"library `$name` EXPORTs undefined $$$e")
    }
    (scalars.toMap, lambdas.toMap, exports)
  }

  /** Expand the text after a `DO` keyword into raw statements to
    * splice: `$action(args)` binds the stored template's parameters,
    * `BEGIN <stmts> END DO` is an inline body, `EMPTY_ACTION()` is
    * nothing (the documented no-op action). */
  private def expandDo(body0: String,
      actions: collection.Map[String, (Seq[String], String)]): Seq[String] = {
    val body = body0.trim
    if (body.toUpperCase.startsWith("BEGIN")) {
      val up = body.toUpperCase
      require(up.endsWith("END DO"), "DO BEGIN without END DO")
      SqlText.split(
        body.substring("BEGIN".length, body.length - "END DO".length), ";")
        .map(_.trim).filter(_.nonEmpty)
    } else if (body.matches("(?i)EMPTY_ACTION\\s*\\(\\s*\\)")) Nil
    else {
      val m = "^\\$([A-Za-z_][A-Za-z0-9_]*)\\s*\\(".r.findFirstMatchIn(body)
        .getOrElse(throw new IllegalArgumentException(
          s"DO expects $$action(args), BEGIN...END DO, or EMPTY_ACTION(): ${body.take(60)}"))
      val close = SqlText.matchBracket(body, m.end - 1)
      require(body.substring(close + 1).trim.isEmpty,
        "trailing text after the DO call")
      val (params, tmpl) = actions.getOrElse(m.group(1),
        throw new IllegalArgumentException(s"undeclared action $$${m.group(1)}"))
      val args = SqlText.split(body.substring(m.end, close)).map(_.trim)
        .filter(_.nonEmpty)
      require(args.length == params.length,
        s"action $$${m.group(1)} expects ${params.length} args, got ${args.length}")
      val bound = params.zip(args).map { case (p, a) => p -> s"($a)" }.toMap
      SqlText.split(replaceNames(tmpl, bound), ";")
        .map(_.trim).filter(_.nonEmpty)
    }
  }

  /** `EVALUATE FOR $x IN <list> DO <do> [ELSE DO <do>]`
    * (evaluate_for_stmt): translation-time loop unrolling over a
    * LITERAL list — `AsList(e1, ...)` or `[e1, ...]` — substituting
    * each element text for `$x` in the DO body; the ELSE branch runs
    * for an empty list. Non-literal lists require runtime evaluation
    * the reference performs in its evaluation phase; they raise here. */
  private def evaluateFor(st: String,
      actions: collection.Map[String, (Seq[String], String)],
      scalars: collection.Map[String, String],
      lambdas: collection.Map[String, Lambda]): Seq[String] = {
    val m = "(?i)^EVALUATE\\s+FOR\\s+\\$([A-Za-z_][A-Za-z0-9_]*)\\s+IN\\s+".r
      .findFirstMatchIn(st).getOrElse(throw new IllegalArgumentException(
        s"malformed EVALUATE FOR: ${st.take(60)}"))
    val x = m.group(1)
    val doAt = SqlText.findKw(st, "DO", m.end)
    require(doAt > 0, "EVALUATE FOR requires DO")
    var listText = substitute(st.substring(m.end, doAt).trim, scalars, lambdas)
    // a $binding substitutes as one parenthesized group — unwrap it
    while (listText.startsWith("(") &&
        SqlText.matchBracket(listText, 0) == listText.length - 1)
      listText = listText.substring(1, listText.length - 1).trim
    val elems: Seq[String] = {
      val asList = "(?i)^AsList\\s*\\(".r.findFirstMatchIn(listText)
      if (asList.isDefined) {
        val close = SqlText.matchBracket(listText, asList.get.end - 1)
        require(listText.substring(close + 1).trim.isEmpty,
          "EVALUATE FOR list must be a single AsList(...) literal")
        SqlText.split(listText.substring(asList.get.end, close))
          .map(_.trim).filter(_.nonEmpty)
      } else if (listText.startsWith("[") && listText.endsWith("]"))
        SqlText.split(listText.substring(1, listText.length - 1))
          .map(_.trim).filter(_.nonEmpty)
      else throw new IllegalArgumentException(
        "EVALUATE FOR supports literal lists (AsList(...) or [...]); " +
        s"got: ${listText.take(60)}")
    }
    // the loop DO body ends either at a top-level ELSE or at the end
    val afterDo = st.substring(doAt + 2).trim
    val (loopBody, elseBody) = {
      val endDo = SqlText.findKw(st, "END DO", doAt)
      val elseAt = SqlText.findKw(st, "ELSE",
        if (endDo >= 0) endDo else doAt)
      if (elseAt < 0) (afterDo, None)
      else {
        val eb = st.substring(elseAt + "ELSE".length).trim
        require(eb.toUpperCase.startsWith("DO"),
          "EVALUATE FOR ELSE requires a DO branch")
        (st.substring(doAt + 2, elseAt).trim,
          Some(eb.substring(2).trim))
      }
    }
    if (elems.isEmpty)
      elseBody.toSeq.flatMap(b => expandDo(b, actions))
    else elems.flatMap { e =>
      expandDo(replaceNames(loopBody, Map(x -> s"($e)")), actions)
    }
  }

  /** `EVALUATE IF <cond> DO <do> [ELSE DO <do>]` (evaluate_if_stmt):
    * the condition is a constant boolean expression folded through
    * `evalCond` (the reference evaluates these in its evaluation
    * phase before execution); the matching DO branch splices. */
  private def evaluateIf(st: String,
      actions: collection.Map[String, (Seq[String], String)],
      scalars: collection.Map[String, String],
      lambdas: collection.Map[String, Lambda],
      evalCond: Option[String => Boolean]): Seq[String] = {
    val m = "(?i)^EVALUATE\\s+IF\\s+".r.findFirstMatchIn(st).get
    val doAt = SqlText.findKw(st, "DO", m.end)
    require(doAt > 0, "EVALUATE IF requires DO")
    val cond = substitute(st.substring(m.end, doAt).trim, scalars, lambdas)
    val hook = evalCond.getOrElse(throw new IllegalArgumentException(
      "EVALUATE IF needs a condition evaluator; run through YqlSql.sql"))
    val endDo = SqlText.findKw(st, "END DO", doAt)
    val elseAt = SqlText.findKw(st, "ELSE", if (endDo >= 0) endDo else doAt)
    val (thenBody, elseBody) =
      if (elseAt < 0) (st.substring(doAt + 2).trim, None)
      else {
        val eb = st.substring(elseAt + "ELSE".length).trim
        require(eb.toUpperCase.startsWith("DO"),
          "EVALUATE IF ELSE requires a DO branch")
        (st.substring(doAt + 2, elseAt).trim, Some(eb.substring(2).trim))
      }
    if (hook(cond)) expandDo(thenBody, actions)
    else elseBody.toSeq.flatMap(b => expandDo(b, actions))
  }

  /** Strip a trailing top-level `INTO RESULT name` (select_kind
    * suffix), validating its shape. */
  private def stripIntoResult(st: String): String = {
    val at = SqlText.findKw(st, "INTO RESULT")
    // `INSERT/UPSERT/REPLACE INTO result ...` is a write to a table
    // named "result", not the select_kind suffix
    val first = st.trim.takeWhile(_.isLetter).toUpperCase
    if (at < 0 || first == "INSERT" || first == "UPSERT" || first == "REPLACE") st
    else {
      val name = st.substring(at + "INTO RESULT".length).trim
      require(name.matches("[A-Za-z_][A-Za-z0-9_]*|`[^`]+`"),
        s"malformed INTO RESULT: ${st.take(60)}")
      st.substring(0, at).trim
    }
  }

  /** Quote-aware replacement of ONLY the given `$name` references;
    * every other `$ref` passes through untouched (unlike
    * [[substitute]], which rejects unknown names — templates are
    * expanded before their spliced statements resolve bindings). */
  private def replaceNames(text: String, map: Map[String, String]): String = {
    val out = new StringBuilder
    var last = 0
    NamedRef.findAllMatchIn(SqlText.mask(text)).foreach { m =>
      map.get(m.group(1)).foreach { repl =>
        out.append(text.substring(last, m.start)).append(repl); last = m.end
      }
    }
    out.append(text.substring(last)).toString
  }

  /** A `$name` reference (matched over [[SqlText.mask]]). */
  private val NamedRef = "\\$([\\p{L}_][\\p{L}\\p{Nd}_]*)".r

  /** FileContent / FilePath / FolderPath / ParseFile over the
    * PRAGMA File/Folder attachments (basic.md#file-content-path):
    * everything resolves at LOWERING time — content and paths inline
    * as literals, ParseFile's one-value-per-line list becomes a typed
    * array literal. FolderPath materializes a directory whose layout
    * mirrors the alias structure (symlinks; copies where links fail). */
  private def lowerFileFns(st0: String,
      files: collection.Map[String, String]): String = {
    def lit(s: String): String = "'" + s.replace("\\", "\\\\")
      .replace("'", "\\'").replace("\n", "\\n").replace("\r", "\\r")
      .replace("\t", "\\t") + "'"
    def unq(a: String, fn: String): String = {
      val t = a.trim
      require(t.length >= 2 && (t.head == '\'' || t.head == '"') &&
        t.last == t.head, s"$fn takes a constant string, got: ${a.take(40)}")
      t.substring(1, t.length - 1)
    }
    var st = st0
    val re = SqlText.re("(?i)\\b(FileContent|FilePath|FolderPath|ParseFile)\\s*\\(")
    var m = re.findFirstMatchIn(SqlText.mask(st))
    while (m.isDefined) {
      val mm = m.get
      val fn = mm.group(1).toLowerCase
      val close = SqlText.matchBracket(st, mm.end - 1)
      val args = SqlText.split(st.substring(mm.end, close)).map(_.trim)
      def pathOf(alias: String): String =
        files.getOrElse(alias, throw new IllegalArgumentException(
          s"${mm.group(1)}: no attached file '$alias' " +
            "(declare it with PRAGMA File(\"alias\", \"path\"))"))
      val repl = fn match {
        case "filepath" => lit(pathOf(unq(args(0), "FilePath")))
        case "filecontent" =>
          lit(new String(java.nio.file.Files.readAllBytes(
            java.nio.file.Paths.get(pathOf(unq(args(0), "FileContent")))),
            "UTF-8"))
        case "folderpath" =>
          val prefix = unq(args(0), "FolderPath")
          val members = files.toSeq.collect {
            case (a, p) if a.startsWith(prefix + "/") =>
              (a.substring(prefix.length + 1), p)
          }
          require(members.nonEmpty,
            s"FolderPath: no attached files under '$prefix/'")
          val root = java.nio.file.Files
            .createTempDirectory("graft_folder_").toFile
          members.foreach { case (rel, p) =>
            val dst = new java.io.File(root, rel)
            dst.getParentFile.mkdirs()
            try java.nio.file.Files.createSymbolicLink(
              dst.toPath, java.nio.file.Paths.get(p).toAbsolutePath)
            catch { case _: Exception =>
              java.nio.file.Files.copy(java.nio.file.Paths.get(p), dst.toPath)
            }
          }
          lit(root.getPath)
        case "parsefile" =>
          require(args.length == 2, "ParseFile takes (type, alias)")
          val t = EnsureTypeExpr.parse(unq(args(0), "ParseFile"))
          val lines = scala.io.Source.fromFile(
            pathOf(unq(args(1), "ParseFile")), "UTF-8").getLines().toSeq
          // `x IN ParseFile(...)` — the docs' canonical use — needs
          // SQL's value-list form, not an array expression
          val inPos = {
            var j = mm.start - 1
            while (j >= 0 && st.charAt(j).isWhitespace) j -= 1
            j >= 1 && SqlText.kwEnd(st, j - 1, "IN") >= 0
          }
          if (inPos)
            lines.map(l => s"CAST(${lit(l)} AS ${t.sql})")
              .mkString("(", ", ", ")")
          else
            s"CAST(array(${lines.map(lit).mkString(", ")}) AS ARRAY<${t.sql}>)"
      }
      st = st.substring(0, mm.start) + repl + st.substring(close + 1)
      m = re.findFirstMatchIn(SqlText.mask(st))
    }
    st
  }

  /** `$name = rhs` (single-bind form of `named_nodes_stmt`). */
  private def bindingOf(st: String): Option[(String, String)] = {
    val m = "^\\$([A-Za-z_][A-Za-z0-9_]*)\\s*=([\\s\\S]*)$".r
      .findFirstMatchIn(st)
    if (st.matches("^\\$[A-Za-z_][A-Za-z0-9_]*\\s*,[\\s\\S]*"))
      throw new IllegalArgumentException(
        "multi-target named-expression bindings ($a, $b = ...) are not supported")
    // `==` at the start of the RHS means the statement was a bare
    // comparison expression, not a binding
    m.filter(mm => !mm.group(2).startsWith("="))
      .map(mm => (mm.group(1), mm.group(2)))
  }

  /** `($a, $b) -> ( body )` — the simple-expression lambda form — or
    * the statement-body form `($a) -> { $x = e1; RETURN e2 }`
    * (SQLv1.g.in `lambda_body`): local `$x` bindings resolve in order
    * (parameters and outer bindings visible), and the lambda's body is
    * the fully-substituted RETURN expression. */
  private[functions] def parseLambda(rhs: String,
      outerScalars: collection.Map[String, String] = Map.empty,
      outerLambdas: collection.Map[String, Lambda] = Map.empty): Option[Lambda] = {
    val t = rhs.trim
    val m = "^\\(\\s*((?:\\$[A-Za-z_][A-Za-z0-9_]*\\??\\s*,\\s*)*\\$[A-Za-z_][A-Za-z0-9_]*\\??)?\\s*\\)\\s*->\\s*([({])".r
      .findFirstMatchIn(t).getOrElse(return None)
    val params = Option(m.group(1)).toSeq.flatMap(_.split(",").toSeq)
      .map(_.trim.stripSuffix("?").stripPrefix("$"))
    if (m.group(2) == "(") {
      val bodyStart = m.end
      val bodyEnd = SqlText.matchBracket(t, bodyStart - 1)
      if (bodyEnd != t.length - 1) return None
      Some(Lambda(params, t.substring(bodyStart, bodyEnd).trim))
    } else { // statement body: { stmt; ...; RETURN expr; }
      if (!t.endsWith("}")) return None
      val body = t.substring(m.end, t.length - 1)
      val locals = scala.collection.mutable.LinkedHashMap.empty[String, String]
      var ret: Option[String] = None
      SqlText.split(body, ";").map(_.trim).filter(_.nonEmpty).foreach { st =>
        def scope = outerScalars ++ locals // locals shadow outer names
        if (st.take(6).equalsIgnoreCase("RETURN")) {
          require(ret.isEmpty, "lambda body has multiple RETURN statements")
          ret = Some(substitute(st.drop(6).trim, scope,
            outerLambdas, keep0 = params.toSet))
        } else {
          require(ret.isEmpty, "statements after RETURN in lambda body")
          val (name, r) = bindingOf(st).getOrElse(
            throw new IllegalArgumentException(
              s"unsupported lambda-body statement: ${st.take(60)}"))
          locals(name) = "(" + substitute(r.trim, scope,
            outerLambdas, keep0 = params.toSet) + ")"
        }
      }
      Some(Lambda(params, ret.getOrElse(throw new IllegalArgumentException(
        "lambda body has no RETURN statement"))))
    }
  }

  /** Expand `$name` references: lambda calls inline their body with
    * arguments substituted; bare lambda refs lower to Spark lambda
    * literals; scalars substitute their bound text. Quote-aware; an
    * unbound `$name` is an error (the reference rejects undeclared
    * named nodes at translation). */
  private[functions] def substitute(text: String,
      scalars: collection.Map[String, String],
      lambdas: collection.Map[String, Lambda],
      keep0: Set[String] = Set.empty): String = {
    // INLINE lambda literals (`($x) -> ...` inside a scalar binding,
    // e.g. an AggregateTransformInput argument) bind their own $params
    // — those names stay verbatim for the downstream lambda lowering
    // rather than erroring as undeclared bindings
    val masked = SqlText.mask(text)
    val keep = keep0 ++
      "\\(\\s*\\$[A-Za-z_][A-Za-z0-9_]*(\\s*,\\s*\\$[A-Za-z_][A-Za-z0-9_]*)*\\s*\\)\\s*->".r
        .findAllIn(masked)
        .flatMap(h => "\\$([A-Za-z_][A-Za-z0-9_]*)".r.findAllMatchIn(h)
          .map(_.group(1)))
        .toSet
    val out = new StringBuilder
    var i = 0
    val n = text.length
    for (m <- NamedRef.findAllMatchIn(masked) if m.start >= i) {
      out.append(text.substring(i, m.start))
      val j = m.end
      val name = m.group(1)
      var k = j
      while (k < n && text.charAt(k).isWhitespace) k += 1
      val isCall = k < n && text.charAt(k) == '(' && lambdas.contains(name)
      if (keep(name)) {
        out.append(text.substring(m.start, j)); i = j
      } else if (isCall) {
        val close = SqlText.matchBracket(text, k)
        // arguments resolve in the CALLER's scope before binding
        val args = SqlText.split(text.substring(k + 1, close)).map(_.trim)
          .filter(_.nonEmpty)
          .map(a => substitute(a, scalars, lambdas, keep))
        val lam = lambdas(name)
        require(args.length == lam.params.length,
          s"lambda $$$name expects ${lam.params.length} args, got ${args.length}")
        val bound = lam.params.zip(args).map { case (p, a) =>
          p -> ("(" + a + ")")
        }.toMap
        out.append("(")
          .append(substitute(lam.body, bound, Map.empty[String, Lambda]))
          .append(")")
        i = close + 1
      } else if (lambdas.contains(name)) {
        // bare lambda reference → Spark SQL lambda literal
        val lam = lambdas(name)
        val fresh = lam.params.map(p => p -> s"__la_$p").toMap
        val body = substitute(lam.body, fresh.map { case (k2, v) => k2 -> v },
          Map.empty[String, Lambda])
        val head =
          if (lam.params.length == 1) fresh(lam.params.head)
          else lam.params.map(fresh).mkString("(", ", ", ")")
        out.append(head).append(" -> ").append(body)
        i = j
      } else scalars.get(name) match {
        case Some(repl) => out.append(repl); i = j
        case None => throw new IllegalArgumentException(
          s"undeclared named expression $$$name")
      }
    }
    out.append(text.substring(i)).toString
  }

  // ——— select-level lowerings ———
  private[functions] def lowerSelect(sql: String): String =
    lowerFlatten(lowerWithout(lowerSample(lowerTableHints(lowerHints(
      lowerSessionWindow(lowerSessionWindowOver(lowerHop(lowerBitcast(
        lowerJsonSql(sql))))))))))

  /** SQL-standard JSON accessors with their clause forms (docs
    * builtins/json.md): `JSON_VALUE(j, path [RETURNING T]
    * [{NULL|ERROR|DEFAULT e} ON EMPTY] [... ON ERROR])`,
    * `JSON_EXISTS(j, path [{TRUE|FALSE|UNKNOWN|ERROR} ON ERROR])`,
    * `JSON_QUERY(j, path [wrapper] [{ERROR|NULL|EMPTY ARRAY|EMPTY
    * OBJECT} ON EMPTY/ERROR])`. The engine evaluates JsonPath in lax
    * mode where a non-existent path IS the empty case — so the ON
    * ERROR handler only has the empty case to fire on and both
    * handlers lower onto the missing-path branch; `strict` paths
    * raise naming the unimplemented mode. */
  private[functions] def lowerJsonSql(sql: String): String = {
    val names = Seq("JSON_VALUE", "JSON_EXISTS", "JSON_QUERY")
    var text = sql
    var changed = true
    while (changed) {
      changed = false
      val lower = text.toUpperCase
      var best = -1
      var bestName: String = null
      for (n <- names) {
        // advance past boundary-invalid hits (e.g. the emitted
        // yql__json_value placeholder contains the name as a substring)
        var from = 0
        var done = false
        while (!done) {
          val at = lower.indexOf(n + "(", from)
          if (at < 0) done = true
          else if (at == 0 || !SqlText.isIdent(text.charAt(at - 1))) {
            if (best < 0 || at < best) { best = at; bestName = n }
            done = true
          } else from = at + 1
        }
      }
      if (best >= 0) {
        val open = text.indexOf('(', best)
        val close = SqlText.matchBracket(text, open)
        val inner = text.substring(open + 1, close)
        val parts = SqlText.split(inner).map(_.trim)
        require(parts.length == 2,
          s"$bestName takes (json, 'path' [clauses])")
        val jsonExpr = parts.head
        // the path literal leads the second chunk; clauses follow
        val chunk = parts(1)
        require(chunk.startsWith("'") || chunk.startsWith("\""),
          s"$bestName: the JsonPath must be a string literal")
        val qc = chunk.head
        var pe = 1
        while (pe < chunk.length && chunk.charAt(pe) != qc) {
          if (chunk.charAt(pe) == '\\') pe += 1
          pe += 1
        }
        val path0 = chunk.substring(1, pe)
        val clauses = chunk.substring(pe + 1).trim
        require(!path0.trim.toLowerCase.startsWith("strict"),
          s"$bestName: strict-mode JsonPath is not implemented here " +
            "(the engine evaluates lax mode); drop the strict prefix")
        val path = path0.trim.stripPrefix("lax").trim
        val cu = clauses.toUpperCase
        def ret(t: String): String = t.toLowerCase match {
          case "int8" | "int16" | "int32" | "int64" | "uint8" | "uint16" |
               "uint32" | "uint64" => "BIGINT"
          case "float" => "FLOAT"
          case "double" => "DOUBLE"
          case "bool" => "BOOLEAN"
          case "string" | "utf8" => "STRING"
          case other => throw new IllegalArgumentException(
            s"JSON_VALUE RETURNING: unsupported type $other")
        }
        val lowered = bestName match {
          case "JSON_EXISTS" =>
            // lax mode: no error case remains, the handler is inert
            require(cu.isEmpty || cu.endsWith("ON ERROR"),
              s"JSON_EXISTS: unexpected clause: $clauses")
            s"yql__json_exists($jsonExpr, '$path')"
          case "JSON_VALUE" =>
            var castTo = "STRING"
            var rest = clauses
            val rm = "(?i)^RETURNING\\s+([A-Za-z0-9_]+)\\s*".r
            rm.findFirstMatchIn(rest).foreach { m =>
              castTo = ret(m.group(1)); rest = rest.substring(m.end)
            }
            val base = s"CAST(yql__json_value($jsonExpr, '$path') AS $castTo)"
            val ru = rest.trim
            val handler =
              "(?i)^(NULL|ERROR|DEFAULT\\s+.+?)\\s+ON\\s+(EMPTY|ERROR)"
                .r.findFirstMatchIn(ru)
            handler.map(_.group(1).trim) match {
              case None =>
                require(ru.isEmpty,
                  s"JSON_VALUE: unexpected clause: $rest")
                base
              case Some(h) if h.equalsIgnoreCase("NULL") => base
              case Some(h) if h.equalsIgnoreCase("ERROR") =>
                s"CASE WHEN yql__json_exists($jsonExpr, '$path') THEN $base " +
                  s"ELSE CAST(raise_error('JSON_VALUE: empty result on " +
                  s"path $path') AS $castTo) END"
              case Some(h) => // DEFAULT <expr>
                val dflt = h.substring("DEFAULT".length).trim
                s"COALESCE($base, CAST($dflt AS $castTo))"
            }
          case "JSON_QUERY" =>
            val base = s"yql__json_query($jsonExpr, '$path')"
            val wrapped =
              if (cu.contains("WITH") && cu.contains("WRAPPER") &&
                  !cu.contains("WITHOUT")) {
                if (cu.contains("UNCONDITIONAL") || !cu.contains("CONDITIONAL"))
                  s"CASE WHEN $base IS NULL THEN NULL ELSE " +
                    s"concat('[', $base, ']') END"
                else
                  s"CASE WHEN $base IS NULL THEN NULL " +
                    s"WHEN $base LIKE '[%' THEN $base " +
                    s"ELSE concat('[', $base, ']') END"
              } else base
            if (cu.contains("EMPTY ARRAY ON"))
              s"COALESCE($wrapped, '[]')"
            else if (cu.contains("EMPTY OBJECT ON"))
              s"COALESCE($wrapped, '{}')"
            else wrapped
        }
        text = text.substring(0, best) + "(" + lowered + ")" +
          text.substring(close + 1)
        changed = true
      }
    }
    text
  }

  /** `BITCAST(x AS IntN|UintN)` (docs syntax/expressions.md#bitcast):
    * bitwise integer conversion — always succeeds, truncates to the
    * low N bits with two's-complement sign for signed targets. ANSI
    * CAST raises on overflow, so the lowering wraps explicitly:
    * signed = arithmetic-shift sign extension of the low bits,
    * unsigned = mask, landing on the engine's unsigned representation
    * types (types/YtTypes.scala: Uint8→SMALLINT, Uint16→INT,
    * Uint32/Uint64→BIGINT raw bits).
    */
  def lowerBitcast(sql: String): String = {
    val re = SqlText.re("(?i)\\bBITCAST\\s*\\(")
    re.findFirstMatchIn(SqlText.mask(sql)) match {
      case None => sql
      case Some(m) =>
        val close = SqlText.matchBracket(sql, m.end - 1)
        val inner = sql.substring(m.end, close)
        val at = SqlText.findKw(inner, "AS")
        require(at > 0, s"BITCAST takes (expr AS IntType): ${inner.take(40)}")
        val x = inner.substring(0, at).trim
        val t = inner.substring(at + 2).trim
        def signed(bits: Int, sqlT: String) =
          s"CAST(shiftright(shiftleft(CAST(($x) AS BIGINT), ${64 - bits}), " +
            s"${64 - bits}) AS $sqlT)"
        def unsigned(mask: String, sqlT: String) =
          s"CAST((CAST(($x) AS BIGINT) & $mask) AS $sqlT)"
        val repl = t.toLowerCase match {
          case "int8" => signed(8, "TINYINT")
          case "int16" => signed(16, "SMALLINT")
          case "int32" => signed(32, "INT")
          case "int64" => s"CAST(($x) AS BIGINT)"
          case "uint8" => unsigned("255", "SMALLINT")
          case "uint16" => unsigned("65535", "INT")
          case "uint32" => unsigned("4294967295", "BIGINT")
          case "uint64" => s"CAST(($x) AS BIGINT)" // raw 64 bits
          case other => throw new IllegalArgumentException(
            s"BITCAST target must be an integer type, got: $other")
        }
        lowerBitcast(sql.substring(0, m.start) + repl +
          sql.substring(close + 1))
    }
  }

  /** `GROUP BY HOP(time, hop, interval, delay)` — the streaming
    * hopping-window grouping (SQLv1.g.in:533
    * hopping_window_specification; executor mkql_multihopping.h;
    * parse sql_group_by.cpp:364 — arg order time/hop/interval/delay).
    * Lowered onto Spark's sliding `window(time, interval, hop)`
    * grouping: each event lands in interval/hop epoch-aligned windows,
    * the same placement the reference computes. `HOP_START()` /
    * `HOP_END()` (builtin.cpp:3190) become the window-struct bounds.
    * `delay` bounds late-event admission: on a batch frame every row
    * is already final, so it validates and drops; the streaming
    * operator path (Streams.hoppingWindow over a watermarked frame)
    * owns state eviction.
    */
  def lowerHop(sql: String): String = {
    val masked = SqlText.mask(sql)
    SqlText.re("(?i)\\bHOP\\s*\\(").findFirstMatchIn(masked) match {
      case None => sql
      case Some(m) =>
        val gb = SqlText.re("(?i)\\bGROUP\\s+BY\\b").findFirstMatchIn(masked)
        require(gb.exists(_.end <= m.start),
          "HOP(...) is only valid as a GROUP BY hopping window " +
            "specification (SQLv1.g.in:533)")
        val close = SqlText.matchBracket(sql, m.end - 1)
        val args = SqlText.split(sql.substring(m.end, close)).map(_.trim)
        require(args.length == 4,
          s"HOP takes (time_extractor, hop, interval, delay), got " +
            s"${args.length} argument(s)")
        val te = args.head
        def interval(a: String, what: String): java.time.Duration =
          isoInterval(a, "HOP", what)
        val hop = interval(args(1), "hop")
        val size = interval(args(2), "interval")
        interval(args(3), "delay") // validated; inert on final batch rows
        require(!hop.isZero && !hop.isNegative,
          s"HOP hop must be a positive interval, got: ${args(1)}")
        require(!size.isZero && !size.isNegative,
          s"HOP interval must be a positive interval, got: ${args(2)}")
        val lowered = sql.substring(0, m.start) +
          s"window($te, '${size.toMillis} milliseconds', " +
          s"'${hop.toMillis} milliseconds')" + sql.substring(close + 1)
        // duplicate spec raises, as the reference does
        // (sql_group_by.cpp:366)
        require(SqlText.re("(?i)\\bHOP\\s*\\(")
          .findFirstIn(SqlText.mask(lowered)).isEmpty,
          "Duplicate hopping window specification.")
        // HOP_START()/HOP_END() → the grouped window's bounds (scan
        // the mask, splice the original)
        var out = lowered
        Seq("HOP_START" -> "window.start", "HOP_END" -> "window.end")
          .foreach { case (kw, repl) =>
            val re = SqlText.re(s"(?i)\\b$kw\\s*\\(\\s*\\)")
            val msk = SqlText.mask(out)
            val sb = new StringBuilder
            var last = 0
            re.findAllMatchIn(msk).foreach { mm =>
              sb.append(out.substring(last, mm.start)).append(repl)
              last = mm.end
            }
            out = sb.append(out.substring(last)).toString
          }
        out
    }
  }

  /** A constant ISO-8601 interval argument, with the reference's
    * raises (sql_group_by.cpp:393-401 processIntervalParam). */
  private[functions] def isoInterval(a: String, fn: String,
      what: String): java.time.Duration = {
    val lit =
      if (a.length >= 2 && (a.head == '\'' || a.head == '"') &&
          a.last == a.head) a.substring(1, a.length - 1)
      else throw new IllegalArgumentException(
        s"$fn $what must be a constant interval string, got: $a")
    // the designator 'T' shall be absent if all time components are
    // absent
    if (lit.endsWith("T")) throw new IllegalArgumentException(
      "Time prefix 'T' at end of interval constant. The " +
        "designator 'T' shall be absent if all of the time " +
        "components are absent.")
    try java.time.Duration.parse(lit)
    catch { case _: java.time.format.DateTimeParseException =>
      throw new IllegalArgumentException(
        s"Expected interval in ISO 8601 format, got: '$lit'") }
  }

  /** `GROUP BY [keys,] SessionWindow(time, timeout) [AS name]` — the
    * reference's session grouping (docs syntax/group_by.md
    * "GROUP BY ... SessionWindow()"): each partition (the OTHER group
    * keys) splits into sessions at neighbor gaps exceeding `timeout`;
    * the session key column — also readable via the `SessionStart()`
    * aggregate — is the session's minimum `time`. Lowered onto Spark's
    * `session_window(time, gap)` grouping, whose `.start` is exactly
    * that minimum; the alias and SessionStart() become
    * `session_window.start`. The extended 4-argument lambda form
    * raises (use the typed operator path for custom session logic).
    */
  /** `SessionWindow(time, timeout)` inside a WINDOW/OVER
    * `PARTITION BY` (docs syntax/window.md#partition: "Both in
    * PARTITION BY and GROUP BY you can use ... SessionWindow") —
    * sessionize the window input inside the OTHER partition keys, then
    * PARTITION BY the session. `SessionStart()` reads the session key
    * (the session's minimum time, like the GROUP BY form).
    *
    * The classic gaps-and-islands splice: the FROM (with its WHERE —
    * sessionization runs over the window INPUT) wraps into a derived
    * table computing boundary flag → running count = session ordinal →
    * min(time) per session = the key; the window's SessionWindow item
    * rewrites to that key column. All the added windows ride the SAME
    * (keys, time) sort order, so one exchange serves the whole stack.
    */
  private[graft] def lowerSessionWindowOver(sql: String): String = {
    val masked = SqlText.mask(sql)
    // a window-definition region: inline `OVER (...)` or `WINDOW w AS (...)`
    val regionRe = SqlText.re(
      "(?i)\\b(OVER|WINDOW\\s+[A-Za-z_][A-Za-z0-9_]*\\s+AS)\\s*\\(")
    val region = regionRe.findAllMatchIn(masked).flatMap { m =>
      val close = SqlText.matchBracket(sql, m.end - 1)
      val inner = masked.substring(m.end, close)
      SqlText.re("(?i)\\bSessionWindow\\s*\\(").findFirstMatchIn(inner)
        .map(sm => (m, close, sm))
    }.toSeq.headOption.getOrElse(return sql)
    val (m, close, _) = region
    val inner = sql.substring(m.end, close)
    val innerMasked = masked.substring(m.end, close)
    val pb = SqlText.re("(?i)\\bPARTITION\\s+BY\\b").findFirstMatchIn(innerMasked)
      .getOrElse(throw new IllegalArgumentException(
        "SessionWindow in a window definition needs PARTITION BY " +
          "(docs syntax/window.md#partition)"))
    // the PARTITION BY list runs to ORDER BY / ROWS / RANGE / end
    val stop = Some(SqlText.findKw(inner, Seq("ORDER", "ROWS", "RANGE"),
      pb.end)).filter(_ >= 0).getOrElse(inner.length)
    val items = SqlText.split(inner.substring(pb.end, stop))
      .map(_.trim).filter(_.nonEmpty)
    val (sessItems, keys) = items.partition(i =>
      "(?i)^SessionWindow\\s*\\(".r.findFirstIn(i).isDefined)
    require(sessItems.length == 1,
      "exactly one SessionWindow(...) per window definition")
    val sm = "(?i)^SessionWindow\\s*\\(".r.findFirstMatchIn(sessItems.head).get
    val sClose = SqlText.matchBracket(sessItems.head, sm.end - 1)
    val sArgs = SqlText.split(sessItems.head.substring(sm.end, sClose))
      .map(_.trim)
    require(sArgs.length == 2,
      "SessionWindow in a window definition takes (time_expr, timeout)")
    val te = sArgs.head
    val gap = isoInterval(sArgs(1), "SessionWindow", "timeout")
    require(!gap.isZero && !gap.isNegative,
      s"SessionWindow timeout must be a positive interval, got: ${sArgs(1)}")
    // splice the sessionized derived table around FROM [... WHERE ...]
    val fromAt = SqlText.findKw(sql, "FROM")
    require(fromAt >= 0, "SessionWindow window needs a FROM source")
    require(SqlText.findKw(sql, "GROUP") < 0,
      "SessionWindow in a window definition cannot combine with GROUP BY")
    val fromEnd = Some(SqlText.findKw(sql, Seq("WINDOW", "ORDER", "LIMIT",
      "HAVING"), fromAt + 4)).filter(_ >= 0).getOrElse(sql.length)
    val src = sql.substring(fromAt + 4, fromEnd).trim // incl. WHERE
    val pbKeys = if (keys.isEmpty) "" else keys.mkString(", ") + ", "
    val pbOnly = if (keys.isEmpty) "" else "PARTITION BY " + keys.mkString(", ")
    val ord = s"ORDER BY unix_micros($te)"
    val w1 = s"OVER (${if (keys.isEmpty) "" else pbOnly + " "}$ord)"
    val inner1 =
      s"SELECT *, CASE WHEN lag(unix_micros($te)) $w1 IS NULL OR " +
        s"unix_micros($te) - lag(unix_micros($te)) $w1 > ${gap.toMillis * 1000L} " +
        s"THEN 1 ELSE 0 END AS __sess_new FROM $src"
    val inner2 =
      s"SELECT *, sum(__sess_new) OVER (${if (keys.isEmpty) "" else pbOnly + " "}" +
        s"$ord ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) " +
        s"AS __sess_id FROM ($inner1)"
    val inner3 =
      s"SELECT *, min($te) OVER (PARTITION BY ${pbKeys}__sess_id) " +
        s"AS __sess_key FROM ($inner2)"
    // the window's SessionWindow item → the session key column
    val newInner = inner.substring(0, pb.end) + " " +
      (keys :+ "__sess_key").mkString(", ") + " " + inner.substring(stop)
    // two disjoint spans replace (window-def inner, FROM source) — the
    // window definition may sit before OR after FROM (inline OVER in
    // the select list vs a trailing WINDOW clause)
    val repls = Seq(
      (m.end, close, newInner),
      (fromAt, fromEnd, s"FROM ($inner3) ")).sortBy(-_._1)
    var out = sql
    for ((a, b, r) <- repls) out = out.substring(0, a) + r + out.substring(b)
    // SessionStart() reads the session key; drop any OVER qualifier
    out = SqlText.re("(?i)\\bSessionStart\\s*\\(\\s*\\)" +
      "(\\s+OVER\\s+[A-Za-z_][A-Za-z0-9_]*|\\s*OVER\\s*\\([^)]*\\))?")
      .replaceAllIn(out, "__sess_key")
    lowerSessionWindowOver(out)
  }

  def lowerSessionWindow(sql: String): String = {
    val masked = SqlText.mask(sql)
    SqlText.re("(?i)\\bSessionWindow\\s*\\(").findFirstMatchIn(masked) match {
      case None => sql
      case Some(m) =>
        val gb = SqlText.re("(?i)\\bGROUP\\s+BY\\b").findFirstMatchIn(masked)
        require(gb.exists(_.end <= m.start),
          "SessionWindow(...) is only valid in GROUP BY " +
            "(docs syntax/group_by.md#session-window)")
        val close = SqlText.matchBracket(sql, m.end - 1)
        val args = SqlText.split(sql.substring(m.end, close)).map(_.trim)
        // the extended 4-argument form (order, init, update, calculate)
        // needs a session — [[SessionLambda.rewrite]] owns it later in
        // the pipeline; pass the text through untouched
        if (args.length == 4) return sql
        require(args.length == 2,
          s"SessionWindow takes (time_expr, timeout), got " +
            s"${args.length} argument(s)")
        val te = args.head
        val gap = isoInterval(args(1), "SessionWindow", "timeout")
        require(!gap.isZero && !gap.isNegative,
          s"SessionWindow timeout must be a positive interval, got: " +
            args(1))
        // optional `AS name` after the close paren
        val aliasRe = "(?i)^\\s+AS\\s+([A-Za-z_][A-Za-z0-9_]*)".r
        val alias = aliasRe.findFirstMatchIn(masked.substring(close + 1))
        val tailStart = close + 1 + alias.map(_.end).getOrElse(0)
        val lowered = sql.substring(0, m.start) +
          s"session_window($te, '${gap.toMillis} milliseconds')" +
          sql.substring(tailStart)
        require(SqlText.re("(?i)\\bSessionWindow\\s*\\(")
          .findFirstIn(SqlText.mask(lowered)).isEmpty,
          "Duplicate session window specification.")
        // the alias and SessionStart() read the session key. A BARE
        // select-list occurrence of the alias (preceded by SELECT or a
        // comma, followed by a comma or FROM) re-aliases itself so the
        // output column keeps the user's name, like the reference's
        // GROUP BY-aliased key column.
        var out = lowered
        val repls = alias.map(a =>
          (s"\\b${java.util.regex.Pattern.quote(a.group(1))}\\b",
            Some(a.group(1)))).toSeq :+
          (("(?i)\\bSessionStart\\s*\\(\\s*\\)", None: Option[String]))
        repls.foreach { case (pat, name) =>
          val re = SqlText.re(pat)
          val msk = SqlText.mask(out)
          val sb = new StringBuilder
          var last = 0
          re.findAllMatchIn(msk).foreach { mm =>
            val before = msk.substring(0, mm.start).reverse
              .dropWhile(_.isWhitespace)
            val after = msk.substring(mm.end).dropWhile(_.isWhitespace)
            val bareItem = name.isDefined &&
              (before.headOption.contains(',') ||
                before.take(6).reverse.equalsIgnoreCase("SELECT")) &&
              (after.headOption.contains(',') ||
                after.take(5).toUpperCase.startsWith("FROM "))
            sb.append(out.substring(last, mm.start))
              .append(if (bareItem) s"session_window.start AS ${name.get}"
                else "session_window.start")
            last = mm.end
          }
          out = sb.append(out.substring(last)).toString
        }
        out
    }
  }

  /** `agg(DISTINCT x) OVER w` — gated behind `PRAGMA
    * DistinctOverWindow` exactly like the reference (source.cpp:290
    * AddAggregationOverWindow raises "Aggregation with distinct is not
    * allowed over window" without the pragma; sql_call_expr.cpp:392
    * SetOverWindowDistinct with it). Spark has no distinct window
    * aggregates, so with the pragma the call rewrites onto the
    * per-frame distinct SET:
    *   - COUNT(DISTINCT x) -> CAST(size(collect_set(x) OVER w) AS BIGINT)
    *   - SUM(DISTINCT x)   -> aggregate(collect_set(x) OVER w, zero, +)
    *     where zero = element_at(set,1) - element_at(set,1) keeps the
    *     element's own type (NULL start on an empty set = SQL's NULL
    *     sum over zero rows)
    *   - AVG(DISTINCT x)   -> distinct sum / CAST(distinct count AS DOUBLE)
    *   - MIN/MAX(DISTINCT x) -> MIN/MAX(x) (DISTINCT is a no-op there)
    * collect_set skips NULLs exactly as DISTINCT aggregation does, and
    * the set is computed over the window's own frame, so running
    * frames give running distinct aggregates. Repeated subtrees
    * collapse under whole-stage codegen subexpression elimination.
    */
  def lowerDistinctOverWindow(sql: String, enabled: Boolean): String = {
    val re = SqlText.re("(?i)\\b(count|sum|avg|min|max)(\\s*\\()\\s*distinct\\b")
    def step(s: String, from: Int): String = {
      val masked = SqlText.mask(s)
      re.findFirstMatchIn(masked.substring(from))
        .map(m => (m, m.start + from, m.end + from)) match {
        case None => s
        case Some((m, start, end)) =>
          val open = s.indexOf('(', from + m.start(2))
          val close = SqlText.matchBracket(s, open)
          val expr = s.substring(end, close).trim
          // OVER follows? if not, it's an ordinary distinct aggregate —
          // Spark handles those natively
          var i = close + 1
          while (i < s.length && s.charAt(i).isWhitespace) i += 1
          val isOver = SqlText.kwEnd(s, i, "OVER") >= 0
          if (!isOver) return step(s, close + 1)
          if (!enabled) throw new IllegalArgumentException(
            "Aggregation with distinct is not allowed over window " +
              "(source.cpp AddAggregationOverWindow); set PRAGMA " +
              "DistinctOverWindow to enable it")
          require(SqlText.split(expr).length == 1,
            "DISTINCT over window supports a single argument, got: " +
              expr.take(60))
          var j = i + 4
          while (j < s.length && s.charAt(j).isWhitespace) j += 1
          val overEnd =
            if (j < s.length && s.charAt(j) == '(') SqlText.matchBracket(s, j) + 1
            else {
              var k = j
              while (k < s.length && SqlText.isIdent(s.charAt(k))) k += 1
              require(k > j, s"malformed OVER clause: ${s.substring(i).take(40)}")
              k
            }
          val over = s.substring(j, overEnd)
          val set = s"collect_set($expr) OVER $over"
          val sum = s"aggregate($set, element_at($set, 1) - " +
            s"element_at($set, 1), (__da, __db) -> __da + __db)"
          val repl = m.group(1).toLowerCase match {
            case "count" => s"CAST(size($set) AS BIGINT)"
            case "sum" => sum
            case "avg" => s"($sum / CAST(size($set) AS DOUBLE))"
            case mm => s"$mm($expr) OVER $over"
          }
          step(s.substring(0, start) + repl + s.substring(overEnd), 0)
      }
    }
    step(sql, 0)
  }

  /** `* WITHOUT a, b` → `* EXCEPT (a, b)` (matched against the
    * quote mask, so the words inside a string literal pass through). */
  def lowerWithout(sql: String): String = {
    val ident = "[A-Za-z_][A-Za-z0-9_]*(?:\\.[A-Za-z_][A-Za-z0-9_]*)?"
    val re = s"(?i)\\*\\s+WITHOUT\\s+(?:IF\\s+EXISTS\\s+)?($ident(?:\\s*,\\s*$ident)*)".r
    val masked = SqlText.mask(sql)
    val out = new StringBuilder
    var last = 0
    re.findAllMatchIn(masked).foreach { m =>
      out.append(sql.substring(last, m.start))
        .append("* EXCEPT (").append(sql.substring(m.start(1), m.end(1)))
        .append(")")
      last = m.end
    }
    out.append(sql.substring(last))
    out.toString
  }

  /** `src [AS a] FLATTEN [OPTIONAL|LIST|DICT] BY col [AS alias]` →
    * a derived table over LATERAL VIEW explode. The parenthesized
    * multi-column form `FLATTEN BY (a, b [AS y], ...)` builds the
    * Cartesian product of the flattened columns (the reference's
    * FlattenByColumns list, source.cpp:471) via chained LATERAL
    * VIEWs. */
  def lowerFlatten(sql: String): String = {
    val ident = "[A-Za-z_][A-Za-z0-9_]*"
    val re = SqlText.re("(?i)\\bFLATTEN\\s+(?:(OPTIONAL|LIST|DICT)\\s+)?BY\\s+" +
      s"(?:($ident)(\\s+AS\\s+($ident))?|\\(([^)]*)\\))")
    // keyword search and the backward source scan both run over the
    // quote mask, so 'FLATTEN BY x' inside a string literal (and
    // quoted parens in the source) can't derail the rewrite; the
    // matched spans are spliced from the original text
    val masked = SqlText.mask(sql)
    val m = re.findFirstMatchIn(masked).getOrElse(return sql)
    val mode = Option(m.group(1)).map(_.toUpperCase).getOrElse("LIST")
    // one (col, alias) per flattened column: single-ident form or the
    // parenthesized list
    val colSpecs: Seq[(String, Option[String])] =
      if (m.group(2) != null) Seq((m.group(2), Option(m.group(4))))
      else m.group(5).split(",").toSeq.map(_.trim).filter(_.nonEmpty).map { p =>
        val asRe = s"(?i)^($ident)(?:\\s+AS\\s+($ident))?$$".r
        asRe.findFirstMatchIn(p) match {
          case Some(mm) => (mm.group(1), Option(mm.group(2)))
          case None => throw new IllegalArgumentException(
            s"unsupported FLATTEN BY item: $p")
        }
      }
    require(colSpecs.nonEmpty, "empty FLATTEN BY list")
    // backward scan over `src [AS a]` — src is an identifier chain or
    // a parenthesized derived table
    var e = m.start - 1
    while (e >= 0 && masked.charAt(e).isWhitespace) e -= 1
    def wordEndingAt(p: Int): (String, Int) = {
      var s0 = p
      while (s0 >= 0 && (SqlText.isIdent(masked.charAt(s0)) ||
        masked.charAt(s0) == '.')) s0 -= 1
      (sql.substring(s0 + 1, p + 1), s0)
    }
    var srcAlias: Option[String] = None
    var srcEnd = e
    if (masked.charAt(e) != ')') {
      val (w, before) = wordEndingAt(e)
      var b = before
      while (b >= 0 && masked.charAt(b).isWhitespace) b -= 1
      if (b >= 1 && SqlText.kwEnd(masked, b - 1, "AS") >= 0) {
        srcAlias = Some(w)
        srcEnd = b - 2
        while (srcEnd >= 0 && masked.charAt(srcEnd).isWhitespace) srcEnd -= 1
      }
    }
    val srcStart =
      if (masked.charAt(srcEnd) == ')') {
        // match backward to the opening paren of the derived table
        var d = 0; var p = srcEnd; var found = -1
        while (p >= 0 && found < 0) {
          masked.charAt(p) match {
            case ')' => d += 1
            case '(' => d -= 1; if (d == 0) found = p
            case _ =>
          }
          p -= 1
        }
        require(found >= 0, "unbalanced parentheses before FLATTEN BY")
        found
      } else wordEndingAt(srcEnd)._2 + 1
    val src = sql.substring(srcStart, srcEnd + 1)
    val inner = mode match {
      case "OPTIONAL" =>
        val conds = colSpecs.map(_._1).map(c => s"$c IS NOT NULL")
          .mkString(" AND ")
        val aliasSel = colSpecs.collect { case (c, Some(a)) => s", $c AS $a" }
          .mkString
        s"(SELECT *$aliasSel FROM $src WHERE $conds)"
      case _ => // LIST (default) / DICT — chained LATERAL VIEWs build
        // the Cartesian product across the flattened columns
        def ex(c: String): String =
          if (mode == "DICT") s"explode(map_entries($c))" else s"explode($c)"
        val views = colSpecs.zipWithIndex.map { case ((c, _), i) =>
          s" LATERAL VIEW ${ex(c)} __fbv$i AS __fb$i"
        }.mkString
        val except = (colSpecs.collect { case (c, None) => c } ++
          colSpecs.indices.map(i => s"__fb$i")).mkString(", ")
        val sel = colSpecs.zipWithIndex.map { case ((c, a), i) =>
          s"__fb$i AS ${a.getOrElse(c)}"
        }.mkString(", ")
        s"(SELECT * EXCEPT ($except), $sel FROM $src$views)"
    }
    val replaced = sql.substring(0, srcStart) + inner +
      srcAlias.map(a => s" AS $a").getOrElse("") + sql.substring(m.end)
    lowerFlatten(replaced) // additional FLATTEN clauses, to fixpoint
  }

  /** Optimizer-hint spellings that carry no semantics on Spark —
    * `GROUP COMPACT BY` / `PARTITION COMPACT BY` / `IN COMPACT`
    * (SQLv1.g.in:510,1061,100: COMPACT promises few distinct keys, so
    * the reference skips its map-side combine phase; Catalyst owns the
    * partial-aggregation decision here, so the hint validates and
    * drops) — and `ASSUME ORDER BY sort_list` (:508
    * ext_order_by_clause: the writer's claim that output is ALREADY in
    * that order — the reference runs NO sort for it, so the lowering
    * drops the whole clause rather than adding one). Both scans run
    * over the quote mask; the spellings inside string literals pass
    * through untouched. */
  def lowerHints(sql: String): String = {
    // COMPACT hint: drop the word, keep the construct
    var text = sql
    var changed = true
    while (changed) {
      changed = false
      val masked = SqlText.mask(text)
      SqlText.re("(?i)\\b(GROUP|PARTITION|IN)\\s+COMPACT\\b")
        .findFirstMatchIn(masked).foreach { m =>
          text = text.substring(0, m.start) +
            text.substring(m.start(1), m.end(1)) + text.substring(m.end)
          changed = true
        }
    }
    // ASSUME ORDER BY <sort list>: drop through the end of the list —
    // the list ends at the enclosing ')' or the next top-level clause
    changed = true
    while (changed) {
      changed = false
      val masked = SqlText.mask(text)
      val assume = SqlText.re("(?i)\\bASSUME\\s+ORDER\\s+BY\\b")
      assume.findFirstMatchIn(masked).foreach { mm =>
        val stop = SqlText.findKw(text, Seq("LIMIT", "OFFSET", "UNION",
          "INTO", "HAVING", "WINDOW"), mm.end)
        val cut = if (stop >= 0) stop else SqlText.groupEnd(text, mm.end)
        text = text.substring(0, mm.start) + text.substring(cut)
        changed = true
      }
    }
    text
  }

  /** Table-ref hints — `FROM t WITH SCHEMA (a Int32, ...)` /
    * `WITH INFER_SCHEMA` / `WITH (hint, hint, ...)` (SQLv1.g.in:956-960
    * table_hints). In the reference, SCHEMA declares the shape of a
    * weak/schemaless YT table at read time; every table here is
    * schema-carrying parquet, so the hint lowers to the read-time
    * CONTRACT it states: project to EXACTLY the declared columns, each
    * CAST to the declared YT type (extra columns drop, declared order
    * holds) — a derived table Catalyst plans like any other, with
    * pruning/pushdown intact. All other hints (INFER_SCHEMA, XLOCK,
    * INLINE, provider steering) validate and drop. */
  def lowerTableHints(sql: String): String = {
    val aliasStop = Set("WHERE", "GROUP", "ORDER", "HAVING", "LIMIT",
      "OFFSET", "UNION", "INTERSECT", "EXCEPT", "JOIN", "LEFT", "RIGHT",
      "FULL", "INNER", "CROSS", "ON", "USING", "SAMPLE", "TABLESAMPLE",
      "MATCH_RECOGNIZE", "WINDOW", "FLATTEN", "VIEW", "WITH", "INTO",
      "ASSUME", "SEMI", "ANTI", "NATURAL")
    val re = SqlText.re("(?i)\\b(FROM|JOIN)\\s+" +
      "([A-Za-z_][A-Za-z0-9_.]*|`[^`]+`)\\s+WITH\\b")
    var text = sql
    var changed = true
    while (changed) {
      changed = false
      val masked = SqlText.mask(text)
      re.findFirstMatchIn(masked).foreach { m =>
        val tbl = text.substring(m.start(2), m.end(2))
        var i = m.end
        while (i < masked.length && masked.charAt(i).isWhitespace) i += 1
        // collect the hint list: parenthesized group, or one hint
        val hints = scala.collection.mutable.ArrayBuffer.empty[String]
        var end = i
        if (i < masked.length && masked.charAt(i) == '(') {
          val close = SqlText.matchBracket(masked, i)
          hints ++= SqlText.split(text.substring(i + 1, close))
            .map(_.trim).filter(_.nonEmpty)
          end = close + 1
        } else {
          // single hint: IDENT [= tag | ( ... )] — SCHEMA's struct
          // group included
          var j = i
          while (j < masked.length && SqlText.isIdent(masked.charAt(j))) j += 1
          var k = j
          while (k < masked.length && masked.charAt(k).isWhitespace) k += 1
          if (k < masked.length && masked.charAt(k) == '=') {
            k += 1
            while (k < masked.length && masked.charAt(k).isWhitespace) k += 1
          }
          if (k < masked.length && masked.charAt(k) == '(')
            k = SqlText.matchBracket(masked, k) + 1
          else if (text.substring(i, j).equalsIgnoreCase("SCHEMA") ||
              text.substring(i, j).equalsIgnoreCase("COLUMNS")) {
            // unparenthesized type form: consume one type token
            while (k < masked.length && (SqlText.isIdent(masked.charAt(k)) ||
              "<>?,".contains(masked.charAt(k)))) k += 1
          } else k = j
          hints += text.substring(i, k).trim
          end = k
        }
        // SCHEMA hint → projection contract; INLINE → broadcast (the
        // reference's "small table, process via its in-memory view" is
        // exactly Spark's broadcast side — the hint rides a derived
        // table, ResolveJoinStrategyHints attaches it to the scan and
        // the enclosing join sees it); everything else drops
        val schemaHint = hints.map(_.trim).find(h =>
          h.toUpperCase.startsWith("SCHEMA"))
        val inline = hints.exists(_.trim.equalsIgnoreCase("INLINE"))
        def hintHead: String =
          if (inline) s"/*+ BROADCAST(${tbl.split("\\.").last}) */ " else ""
        val replacement = schemaHint match {
          case Some(h) =>
            val open = h.indexOf('(')
            require(open > 0 && h.endsWith(")"),
              s"unsupported SCHEMA hint form: $h")
            val items = SqlText.split(h.substring(open + 1, h.length - 1))
              .map(_.trim).filter(_.nonEmpty)
            require(items.nonEmpty, "empty SCHEMA hint")
            val casts = items.map { it =>
              val sp = it.indexWhere(_.isWhitespace)
              require(sp > 0, s"SCHEMA hint item needs 'name Type': $it")
              val name = it.substring(0, sp)
              val tp = declaredSparkType(it.substring(sp + 1)).getOrElse(
                throw new IllegalArgumentException(
                  s"unsupported type in SCHEMA hint: $it"))
              s"CAST(`$name` AS $tp) AS `$name`"
            }
            // keep a following alias if one is spelled; otherwise the
            // table's base name stays addressable
            var a = end
            while (a < masked.length && masked.charAt(a).isWhitespace) a += 1
            var b = a
            while (b < masked.length && SqlText.isIdent(masked.charAt(b))) b += 1
            val word = if (b > a) text.substring(a, b).toUpperCase else ""
            val hasAlias = word == "AS" ||
              (word.nonEmpty && !aliasStop.contains(word))
            val base = tbl.split("\\.").last.replaceAll("`", "")
            s"(SELECT $hintHead${casts.mkString(", ")} FROM $tbl)" +
              (if (hasAlias) "" else s" `$base`")
          case None =>
            if (!inline) tbl
            else {
              // keep a following alias addressable, like the SCHEMA arm
              var a = end
              while (a < masked.length && masked.charAt(a).isWhitespace) a += 1
              var b = a
              while (b < masked.length && SqlText.isIdent(masked.charAt(b))) b += 1
              val word = if (b > a) text.substring(a, b).toUpperCase else ""
              val hasAlias = word == "AS" ||
                (word.nonEmpty && !aliasStop.contains(word))
              val base = tbl.split("\\.").last.replaceAll("`", "")
              s"(SELECT $hintHead* FROM $tbl)" +
                (if (hasAlias) "" else s" `$base`")
            }
        }
        text = text.substring(0, m.start(2)) + replacement + text.substring(end)
        changed = true
      }
    }
    text
  }

  /** YQL sampling clauses (SQLv1.g.in:559,561 sample_clause /
    * tablesample_clause; sql_select.cpp:608-668 SetSamplingOptions):
    * `src SAMPLE fraction` (Bernoulli, fraction in [0,1]) and
    * `src TABLESAMPLE BERNOULLI(percent) [REPEATABLE(seed)]` /
    * `TABLESAMPLE SYSTEM(percent)` lower to Spark's native postfix
    * `TABLESAMPLE (p PERCENT) [REPEATABLE (seed)]` — the same
    * grammatical position (after the source and its alias), so the
    * rewrite is in-place. SYSTEM mode (block sampling in the
    * reference — sampled storage chunks, a throughput optimization)
    * maps to row-level Bernoulli: the sampling CONTRACT (approximate
    * fraction, optional seed determinism) is what queries observe;
    * block selection is a storage-layer detail Spark's scan does not
    * expose. SAMPLE requires a numeric-literal fraction (named
    * expressions have already substituted by this point). */
  def lowerSample(sql: String): String = {
    var text = sql
    var changed = true
    while (changed) {
      changed = false
      val masked = SqlText.mask(text)
      val m1 = SqlText.re("(?i)\\bTABLESAMPLE\\s+(BERNOULLI|SYSTEM)\\s*\\(")
        .findFirstMatchIn(masked)
      m1 match {
        case Some(m) =>
          val open = m.end - 1
          val close = SqlText.matchBracket(masked, open)
          val pct = text.substring(open + 1, close).trim
          text = text.substring(0, m.start) +
            s"TABLESAMPLE ($pct PERCENT)" + text.substring(close + 1)
          changed = true
        case None =>
          // the fraction may arrive parenthesized — named expressions
          // substitute as "(lit)"; the alternation never consumes an
          // enclosing paren that was not part of the match
          val m2 = SqlText.re("(?i)\\bSAMPLE\\s+(?:\\(\\s*([0-9]*\\.?[0-9]+)\\s*\\)" +
            "|([0-9]*\\.?[0-9]+)\\b)").findFirstMatchIn(masked)
          m2.foreach { m =>
            val g = if (m.group(1) != null) 1 else 2
            val frac = text.substring(m.start(g), m.end(g)).toDouble
            require(frac >= 0.0 && frac <= 1.0,
              s"SAMPLE fraction must be in [0, 1], got $frac")
            // keep full precision: fraction → percent in decimal text
            val pct = java.math.BigDecimal.valueOf(frac)
              .multiply(java.math.BigDecimal.valueOf(100)).stripTrailingZeros
              .toPlainString
            text = text.substring(0, m.start) +
              s"TABLESAMPLE ($pct PERCENT)" + text.substring(m.end)
            changed = true
          }
      }
    }
    text
  }

  /** YQL `UNION [ALL]` modes (select.cpp:2803-2852 TUnion;
    * sql_select.cpp:1380-1412 chain building; docs
    * yql/syntax/select.md#union-all): the DEFAULT mode combines
    * branches BY COLUMN NAME — the result carries every column found
    * in at least one branch, a branch missing a column supplies NULL,
    * the output column order is the largest common prefix of the
    * branch orders followed by the remaining names alphabetically, and
    * heterogeneous types for one name (string vs numeric) raise.
    * `PRAGMA PositionalUnionAll` switches to ANSI positional mode =
    * Spark's native UNION, a pass-through. A trailing ORDER BY /
    * LIMIT / OFFSET after the LAST branch binds to the whole union
    * (the reference reads it off the last select kind,
    * sql_select.cpp:1385 `if (last) orderBy = ...`; Spark parses the
    * original text the same way), so the rewrite lifts it out of the
    * last branch before wrapping. `schemaOf` is Catalyst ANALYSIS of
    * branch text (spark.sql(...).schema — no job runs); recursion
    * covers union chains inside derived tables and subquery
    * expressions. Branches whose column-name sequences already agree
    * pass through unchanged — positional and by-name coincide, and
    * existing plans keep their shape. */
  /** `FROM src [AS a] FLATTEN COLUMNS` (docs syntax/flatten.md
    * #flatten-columns): every column of `src` must be a struct; the
    * result has one column per struct FIELD (source column names are
    * dropped). Lowered to a derived table expanding `c.*` per struct —
    * schema comes from Catalyst ANALYSIS only (no job), the same
    * pattern lowerUnions uses.
    */
  def lowerFlattenColumns(sql: String,
      schemaOf: String => Seq[(String, org.apache.spark.sql.types.DataType)])
      : String = {
    val masked = SqlText.mask(sql)
    val re = SqlText.re("(?i)\\bFLATTEN\\s+COLUMNS\\b")
    re.findFirstMatchIn(masked) match {
      case None => sql
      case Some(m) =>
        // scan BACKWARD over [alias] and the source (paren subquery or
        // table identifier)
        var j = m.start - 1
        def skipWs(): Unit = while (j >= 0 && sql.charAt(j).isWhitespace) j -= 1
        def identStart(): Int = {
          var k = j
          while (k >= 0 && (SqlText.isIdent(sql.charAt(k)) ||
            ".`".contains(sql.charAt(k)))) k -= 1
          k + 1
        }
        skipWs()
        var alias = ""
        if (j >= 0 && SqlText.isIdent(sql.charAt(j))) {
          // possible `AS alias` — only treat as alias if preceded by AS
          val is = identStart()
          var k = is - 1
          while (k >= 0 && sql.charAt(k).isWhitespace) k -= 1
          if (k >= 1 && SqlText.kwEnd(sql, k - 1, "AS") >= 0) {
            alias = sql.substring(is, j + 1)
            j = k - 2
            skipWs()
          }
        }
        val srcEnd = j + 1
        val srcStart =
          if (j >= 0 && sql.charAt(j) == ')') SqlText.openerOf(masked, j)
          else identStart()
        val src = sql.substring(srcStart, srcEnd)
        require(src.nonEmpty, "FLATTEN COLUMNS needs a FROM source")
        val cols = schemaOf(s"SELECT * FROM $src")
        val bad = cols.filterNot(
          _._2.isInstanceOf[org.apache.spark.sql.types.StructType])
        require(bad.isEmpty,
          "FLATTEN COLUMNS requires every source column to be a " +
            s"structure, got: ${bad.map(c => c._1 + ": " +
              c._2.simpleString).mkString(", ")}")
        val expand = cols.map(c => s"`${c._1}`.*").mkString(", ")
        val aliasSql = if (alias.nonEmpty) s" AS $alias" else ""
        lowerFlattenColumns(
          sql.substring(0, srcStart) +
            s"(SELECT $expand FROM $src)$aliasSql" + sql.substring(m.end),
          schemaOf)
    }
  }

  def lowerUnions(sql: String, positional: Boolean,
      schemaOf: String => Seq[(String, org.apache.spark.sql.types.DataType)])
      : String = {
    if (positional) return sql
    // recurse into parenthesized groups that could hold a select chain
    val text = {
      val out = new StringBuilder
      val masked = SqlText.mask(sql)
      var i = 0; var last = 0
      while (i < masked.length) {
        if (masked.charAt(i) == '(') {
          val close = SqlText.matchBracket(masked, i)
          val innerUp = masked.substring(i + 1, close).toUpperCase
          if (innerUp.contains("UNION") && innerUp.contains("SELECT")) {
            out.append(sql.substring(last, i + 1))
              .append(lowerUnions(sql.substring(i + 1, close), positional,
                schemaOf))
            last = close // keep ')'
          }
          i = close
        }
        i += 1
      }
      out.append(sql.substring(last)).toString
    }
    // the top-level UNION [ALL] chain at THIS level
    final case class Op(start: Int, end: Int, all: Boolean)
    val ops = scala.collection.mutable.ArrayBuffer.empty[Op]
    var at = SqlText.findKw(text, "UNION")
    while (at >= 0) {
      val allEnd = SqlText.kwEnd(text, at, "UNION ALL")
      ops += Op(at, if (allEnd >= 0) allEnd else at + 5, allEnd >= 0)
      at = SqlText.findKw(text, "UNION", ops.last.end)
    }
    if (ops.isEmpty) return text
    var branches = (0 +: ops.map(_.end).toSeq)
      .zip(ops.map(_.start).toSeq :+ text.length)
      .map { case (s, e) => text.substring(s, e) }
    // a leading WITH prefix (CTE list) scopes the whole statement:
    // keep it in front, analyze every branch under it
    var prefix = ""
    if (SqlText.re("(?is)^\\s*WITH\\b").findFirstIn(branches.head).isDefined) {
      val selAt = SqlText.findKw(branches.head, "SELECT")
      require(selAt > 0,
        s"cannot locate the main SELECT after WITH in: ${branches.head.take(80)}")
      prefix = branches.head.substring(0, selAt)
      branches = branches.updated(0, branches.head.substring(selAt))
    }
    // lift the whole-union ORDER BY / LIMIT / OFFSET off the last branch
    var tail = ""
    locally {
      val lb = branches.last
      val cut = SqlText.findKw(lb, Seq("ORDER", "LIMIT", "OFFSET"), 0)
      if (cut > 0) {
        tail = " " + lb.substring(cut)
        branches = branches.updated(branches.length - 1, lb.substring(0, cut))
      }
    }
    val bodies = branches.map(b => unwrapGroup(b))
    val schemas = bodies.map(b =>
      schemaOf(if (prefix.isEmpty) b else prefix + b))
    val nameSeqs = schemas.map(_.map(_._1))
    // already aligned by position AND name → modes coincide, pass through
    if (nameSeqs.map(_.map(_.toLowerCase)).distinct.size == 1) return text
    // largest common prefix of the branch column orders
    var lcp = 0
    while (nameSeqs.forall(_.length > lcp) &&
        nameSeqs.map(ns => ns(lcp).toLowerCase).distinct.size == 1) lcp += 1
    val head = nameSeqs.head.take(lcp)
    val rest = scala.collection.mutable.LinkedHashMap.empty[String, String]
    nameSeqs.foreach(_.foreach(n =>
      if (!rest.contains(n.toLowerCase)) rest(n.toLowerCase) = n))
    head.foreach(n => rest.remove(n.toLowerCase))
    val outCols = head ++ rest.values.toSeq.sortBy(_.toLowerCase)
    // shared-type check: the docs raise on heterogeneous types
    outCols.foreach { c =>
      import org.apache.spark.sql.types._
      val ts = schemas.flatMap(_.collectFirst {
        case (n, t) if n.equalsIgnoreCase(c) => t
      }).distinct.filterNot(_ == NullType)
      val ok = ts.size <= 1 ||
        ts.forall(_.isInstanceOf[NumericType]) ||
        ts.forall(t => t == DateType || t == TimestampType ||
          t == TimestampNTZType) ||
        ts.forall(_.isInstanceOf[StringType])
      require(ok, s"UNION by name: column $c has incompatible types " +
        s"across branches: ${ts.mkString(", ")}")
    }
    def q(c: String) = "`" + c.replace("`", "``") + "`"
    val rewritten = bodies.zip(schemas).map { case (b, sch) =>
      val have = sch.map(_._1.toLowerCase).toSet
      val items = outCols.map(c =>
        if (have(c.toLowerCase)) q(c) else s"NULL AS ${q(c)}")
      s"SELECT ${items.mkString(", ")} FROM ($b)"
    }
    prefix + rewritten.head + ops.toSeq.zip(rewritten.tail).map {
      case (op, b) => (if (op.all) " UNION ALL " else " UNION ") + b
    }.mkString + tail
  }
}
