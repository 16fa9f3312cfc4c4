package graft.ql

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{PgSql, YqlDml, YqlSql}
import graft.sources.Tables

/** The seeded differential fuzz domains, each declared once. A domain
  * draws its cases at a size and a seed and renders the SAME draw
  * twice: as the engine DataFrame builder and as DuckDB oracle SQL, in
  * the style of the reference's randomized evaluate suites
  * (ql_query_ut.cpp). The pinned correctness entries are their domain
  * at one size and seed ([[defs]], [[oracles]]); `graft.tools.FuzzSweep`
  * runs the same domains over a seed range ([[swept]]). A hash mismatch is a
  * lowering or semantics bug: the generators rule out engine-divergent
  * edge cases by construction.
  */
object FuzzDomains {

  /** One draw: the engine side, with the `SparkEntry.queries`
    * signature (session, corpus dir), and its DuckDB oracle. */
  final case class Draw(build: (SparkSession, String) => DataFrame, oracle: String)

  /** A fixture written once per engine: columns over one corpus table,
    * and the same rows as DuckDB SQL. */
  private final case class Fixture(table: String, cols: Seq[Column], sql: String) {
    def apply(s: SparkSession, d: String, spread: Boolean = false): DataFrame =
      (if (spread) Tables.loadSpread(s, d, table) else Tables.load(s, d, table))
        .select(cols: _*)
    def cte(name: String): String = s"$name AS ($sql)"
  }

  /** The int64 row (a, b, nullable c) of the expression domains. */
  private val abc = Fixture("orders",
    Seq(col("o_orderkey").as("a"), col("o_custkey").as("b"),
      when(col("o_orderkey") % 7 === 0, lit(null).cast("long"))
        .otherwise(col("o_custkey") % 100).as("c")),
    """SELECT o_orderkey AS a, o_custkey AS b,
      |  CASE WHEN o_orderkey % 7 = 0 THEN NULL
      |       ELSE o_custkey % 100 END AS c FROM orders""".stripMargin)

  /** ASCII columns (id, s, t, nullable u) of the string domain. */
  private val strs = Fixture("orders",
    Seq(col("o_orderkey").as("id"), col("o_orderstatus").as("s"),
      col("o_orderpriority").as("t"),
      when(col("o_orderkey") % 5 === 0, lit(null).cast("string"))
        .otherwise(col("o_orderstatus")).as("u")),
    """SELECT o_orderkey AS id, o_orderstatus AS s, o_orderpriority AS t,
      |  CASE WHEN o_orderkey % 5 = 0 THEN NULL
      |       ELSE o_orderstatus END AS u FROM orders""".stripMargin)

  private val tups = Fixture("orders",
    Seq(col("o_orderkey").as("id"), col("o_orderkey").as("a"),
      (col("o_custkey") % 23).as("b")),
    "SELECT o_orderkey AS id, o_orderkey AS a, o_custkey % 23 AS b FROM orders")

  /** Schema-tagged uint64 columns; DuckDB wraps into UBIGINT by
    * HUGEINT mod 2^64. */
  private val u64Pair = {
    val md = new org.apache.spark.sql.types.MetadataBuilder()
      .putString(graft.types.YtTypes.YtTypeKey, "uint64").build()
    Fixture("orders",
      Seq(col("o_orderkey").as("id"),
        shiftleft(col("o_orderkey") + 7, 40).as("ua", md),
        shiftleft(col("o_custkey") * 31 + 5, 38).as("ub", md)),
      """SELECT o_orderkey AS id,
        |  CAST(((o_orderkey + 7)::HUGEINT * 1099511627776) %
        |    18446744073709551616 AS UBIGINT) AS ua,
        |  CAST(((o_custkey * 31 + 5)::HUGEINT * 274877906944) %
        |    18446744073709551616 AS UBIGINT) AS ub
        |  FROM orders""".stripMargin)
  }

  /** The `fw` view the SQL-text domains (windows, set ops, scripts,
    * DML) read. */
  private val fw = Fixture("orders",
    Seq(col("o_orderkey").as("a"), (col("o_custkey") % 7).as("k"),
      (col("o_custkey") % 997).as("v")),
    "SELECT o_orderkey AS a, o_custkey % 7 AS k, o_custkey % 997 AS v FROM orders")

  private val jl = Fixture("orders",
    Seq(col("o_orderkey").as("a"), (col("o_custkey") % 25).as("k")),
    "SELECT o_orderkey AS a, o_custkey % 25 AS k FROM orders")
  private val jr = Fixture("nation",
    Seq(col("n_nationkey").as("k"), col("n_nationkey").as("n"),
      col("n_regionkey").as("r")),
    "SELECT n_nationkey AS k, n_nationkey AS n, n_regionkey AS r FROM nation")

  private def items(xs: Seq[String], name: String = "x"): String =
    xs.zipWithIndex.map { case (e, i) => s"$e AS $name$i" }.mkString(", ")

  private def unionAll(parts: Seq[String]): String = parts.mkString("\nUNION ALL\n")

  private def union(dfs: Seq[DataFrame]): DataFrame = dfs.reduce(_ unionByName _)

  private val canonical = SelectRows.Options(useCanonicalNullRelations = true)

  /** SelectRows over one fixture: `head` and the drawn items, grouped by
    * `group`, as QL over `[//tmp/fz]` and as DuckDB over a `base` CTE. */
  private def selectRows(fix: Fixture, es: Seq[ExprFuzz.FExpr],
      head: (String, String), group: (String, String) = ("", ""),
      options: SelectRows.Options = canonical, spread: Boolean = false): Draw = {
    val ql = s"${head._1}, ${items(es.map(_.ql))} from [//tmp/fz]${group._1}"
    Draw((s, d) => SelectRows(s, ql, Map("//tmp/fz" -> fix(s, d, spread)), options),
      s"WITH ${fix.cte("base")}\nSELECT ${head._2}, ${items(es.map(_.duck))} " +
        s"FROM base${group._2}")
  }

  /** Whole-query cases over named QL tables, unioned under a case tag. */
  private def qlCases(cases: Seq[(String, String)], fixes: (String, Fixture)*)
      : (SparkSession, String) => DataFrame = (s, d) => {
    val cat = fixes.map { case (n, f) => s"//tmp/$n" -> f(s, d) }.toMap
    union(cases.map { case (ql, _) => SelectRows(s, ql, cat, canonical) })
  }

  private def yqlCases(scripts: Seq[String], view: (SparkSession, String) => Unit)
      : (SparkSession, String) => DataFrame = (s, d) => {
    view(s, d)
    union(scripts.map(YqlSql.sql(s, _)))
  }

  private def fwView(s: SparkSession, d: String): Unit = fw(s, d).createOrReplaceTempView("fw")

  private def tableView(name: String)(s: SparkSession, d: String): Unit =
    Tables.load(s, d, name).createOrReplaceTempView(name)

  // ---- QL surface (SelectRows through the parser and emitter) ----------

  /** Random int64 expressions over (a, b, nullable c). The projection is
    * pure per-row compute on a single-split scan, so it is spread. */
  def exprs(n: Int, seed: Long): Draw =
    selectRows(abc, ExprFuzz.exprs(n, seed), ("a as id", "a AS id"), spread = true)

  /** concat/lower/prefix/substr/LIKE and lexicographic comparisons. */
  def strings(n: Int, seed: Long): Draw =
    selectRows(strs, ExprFuzz.stringExprs(n, seed), ("id", "id"))

  /** Lexicographic row comparisons and tuple IN. */
  def tuples(n: Int, seed: Long): Draw =
    selectRows(tups, ExprFuzz.tupleExprs(n, seed), ("id", "id"))

  /** Full-range uint64 literals and u64-tagged columns, against native
    * UBIGINT arithmetic (the string surface's u64 routing, default null
    * relations). */
  def u64(n: Int, seed: Long): Draw =
    selectRows(u64Pair, ExprFuzz.u64Exprs(n, seed), ("id", "id"),
      options = SelectRows.Options())

  /** sum/min/max/count_if shapes grouped by a % 10, exact int64. */
  def aggs(n: Int, seed: Long): Draw =
    selectRows(abc, ExprFuzz.aggExprs(n, seed), ("g", "a % 10 AS g"),
      (" group by a % 10 as g", " GROUP BY a % 10"))

  /** Randomized WHERE/GROUP BY/HAVING/ORDER BY/OFFSET/LIMIT assembly. */
  def queries(n: Int, seed: Long): Draw = {
    val cases = ExprFuzz.queryCases(n, seed)
    Draw(qlCases(cases, "fq" -> abc),
      s"WITH ${abc.cte("fq")}\n" + unionAll(cases.map(c => s"(${c._2})")))
  }

  /** INNER/LEFT joins with foreign-side predicates and WHERE clauses. */
  def joins(n: Int, seed: Long): Draw = {
    val cases = ExprFuzz.joinCases(n, seed)
    Draw(qlCases(cases, "jl" -> jl, "jr" -> jr),
      s"WITH ${jl.cte("jl")},\n${jr.cte("jr")}\n" + unionAll(cases.map(_._2)))
  }

  // ---- SQL text over the `fw` view --------------------------------------

  /** Ranking, analytic and framed window columns with tie-broken orders:
    * shared ANSI text. About a third of the cases have an empty PARTITION
    * BY on purpose, so WindowExec's "No Partition Defined" WARNs are fuzz
    * coverage, not product plans. */
  def windows(n: Int, seed: Long): Draw = {
    val cases = ExprFuzz.windowCases(n, seed)
    val global = cases.count(c => !c.toUpperCase.contains("PARTITION BY"))
    val select = s"SELECT a, ${items(cases, "w")} FROM fw"
    Draw((s, d) => {
      fwView(s, d)
      System.err.println(s"[fuzz] windows: $global of $n cases use empty " +
        "PARTITION BY (global windows) by design")
      s.sql(select)
    }, s"WITH ${fw.cte("fw")}\n$select")
  }

  /** UNION / INTERSECT / EXCEPT (plain and ALL) between filtered
    * projections: shared ANSI text. */
  def setOps(n: Int, seed: Long): Draw = {
    val cases = ExprFuzz.setOpCases(n, seed)
    Draw((s, d) => { fwView(s, d); union(cases.map(s.sql)) },
      s"WITH ${fw.cte("fw")}\n" + unionAll(cases))
  }

  /** YQL scripts (bindings, lambdas, named subselects, DECLARE, REDUCE)
    * against hand-expanded plain SQL of the same draws. */
  def scripts(n: Int, seed: Long): Draw = {
    val cases = ExprFuzz.scriptCases(n, seed)
    Draw(yqlCases(cases.map(_._1), fwView),
      s"WITH ${fw.cte("fw")}\n" + unionAll(cases.map(_._2)))
  }

  /** UPSERT/REPLACE/DELETE/UPDATE interleavings on keyed tables named
    * `<prefix>_<i>` against the relational algebra of the same draws. */
  def dml(n: Int, seed: Long, prefix: String = "fuzz_dml"): Draw = {
    val cases = ExprFuzz.dmlCases(n, seed, prefix)
    Draw((s, d) => {
      cases.foreach { case (_, _, tbl) => YqlDml.dropTableDeep(s, tbl) }
      yqlCases(cases.map(_._1), fwView)(s, d)
    }, s"WITH ${fw.cte("fw")}\n" + unionAll(cases.map(_._2)))
  }

  // ---- YQL surface over corpus tables -----------------------------------

  /** Fixed-length MATCH_RECOGNIZE patterns, replayed as lead() chains. */
  def matchRecognize(n: Int, seed: Long): Draw = {
    val cases = ExprFuzz.matchRecognizeCases(n, seed)
    Draw(yqlCases(cases.map(_._1), tableView("events")),
      unionAll(cases.map(c => s"(${c._2})")))
  }

  /** HOP and SessionWindow placement, replayed with time_bucket, unnest
    * and session islands. */
  def hopSession(n: Int, seed: Long): Draw = {
    val cases = ExprFuzz.hopSessionCases(n, seed)
    Draw(yqlCases(cases.map(_._1), tableView("events")),
      unionAll(cases.map(c => s"(${c._2})")))
  }

  /** Drawn (YQL, DuckDB) item pairs projected over `orders`. */
  private def orderItems(its: Seq[(String, String)]): Draw = {
    def select(es: Seq[String]) =
      s"SELECT o_orderkey AS id, ${items(es)} FROM orders WHERE o_orderkey < 3000"
    Draw(yqlCases(Seq(select(its.map(_._1))), tableView("orders")),
      select(its.map(_._2)))
  }

  /** Yson::Options carrier × target × mode triples, the DuckDB side
    * re-derived from base columns by the convert.h rules. */
  def ysonOpt(n: Int, seed: Long): Draw = orderItems(ExprFuzz.ysonOptItems(n, seed))

  /** Escape roundtrips, width pins, char-class removals and erf/gamma
    * differentials. */
  def strFmt(n: Int, seed: Long): Draw = orderItems(ExprFuzz.strFmtItems(n, seed))

  /** RANGE / LIKE / REGEXP / EACH-CONCAT member selections over the
    * month-named table directory, replayed over the known month list. */
  def tablePaths(n: Int, seed: Long): Draw = {
    val cases = ExprFuzz.tablePathCases(n, seed, graft.queries.Yql.tablePathMonths)
    def select(i: Int, from: String) =
      s"""SELECT CAST($i AS BIGINT) AS case_id,
         |  CAST(COUNT(o_orderkey) AS BIGINT) AS n,
         |  CAST(SUM(CAST(floor(o_totalprice) AS BIGINT)) AS BIGINT)
         |    AS total
         |FROM $from""".stripMargin
    Draw((s, d) => {
      graft.queries.Yql.tablePathFixture(s, d)
      val dir = graft.queries.Yql.tablePathDir(d)
      union(cases.zipWithIndex.map { case ((from, _), i) =>
        YqlSql.sql(s, select(i, from.replace("$DIR", dir))) })
    }, unionAll(cases.zipWithIndex.map { case ((_, where), i) =>
      s"(${select(i, s"orders WHERE $where")})" }))
  }

  // ---- PG frontend (PgFuzz) ---------------------------------------------

  /** Random queries inside the bound PG subset; DuckDB's dialect is PG
    * flavoured, so most lexemes ship verbatim to the oracle. */
  def pg(n: Int, seed: Long): Draw = {
    val (text, params, duck) = PgFuzz.render(n, seed)
    Draw((s, d) => { Tables.registerAll(s, d); PgSql.sql(s, text, params) }, duck)
  }

  /** DISTINCT ON's keyed-window lowering against DuckDB's native
    * DISTINCT ON, PG's default null order left implicit. */
  def distinctOn(seed: Long): Draw = {
    val (text, duck) = PgFuzz.renderDistinctOn(seed)
    Draw((s, d) => { Tables.registerAll(s, d); PgSql.sql(s, text) }, duck)
  }

  // ---- dynamic tables ---------------------------------------------------

  /** The MVCC merge verbs over a seeded write/delete log ([[DynFuzz]]). */
  def dynLog(seed: Long): Draw =
    Draw((s, d) => DynFuzz.run(s, Tables.load(s, d, "orders"), seed), DynFuzz.oracleSql(seed))

  /** Secondary-index SYNC maintenance under randomized DML. */
  def dynIndex(seed: Long): Draw =
    Draw((s, d) => DynIndexFuzz.run(s, Tables.load(s, d, "orders"), seed),
      DynIndexFuzz.oracleSql(seed))

  /** Queue-consumer and producer exactly-once under seeded interleavings. */
  def dynQueue(seed: Long): Draw =
    Draw((s, d) => DynQueueFuzz.run(s, Tables.load(s, d, "events"), seed),
      DynQueueFuzz.oracleSql(seed))

  // ---- the registry -----------------------------------------------------

  /** The pinned correctness entries of `SparkEntry`: each is its domain
    * at one size and seed. */
  private val pinned: Seq[(String, Draw)] = Seq(
    "ql_fuzz_exprs" -> exprs(40, 42L),
    "ql_fuzz_strings" -> strings(30, 99L),
    "ql_fuzz_queries" -> queries(12, 33L),
    "ql_fuzz_joins" -> joins(12, 21L),
    "ql_fuzz_tuples" -> tuples(24, 13L),
    "ql_fuzz_u64" -> u64(24, 77L),
    "ql_fuzz_aggs" -> aggs(16, 5L),
    "ql_fuzz_windows" -> windows(14, 31L),
    "ql_fuzz_setops" -> setOps(12, 47L),
    "yql_fuzz_pg" -> pg(34, 1107L),
    "yql_pg_distinct_on" -> distinctOn(1111L),
    "yql_fuzz_script" -> scripts(12, 61L),
    "yql_fuzz_ysonopt" -> ysonOpt(16, 71L),
    "yql_fuzz_strfmt" -> strFmt(14, 53L),
    "yql_fuzz_matchrec" -> matchRecognize(6, 59L),
    "yql_fuzz_hopsession" -> hopSession(8, 67L),
    "yql_fuzz_tablepaths" -> tablePaths(10, 83L),
    "yql_fuzz_dml" -> dml(6, 73L),
    "dyn_fuzz_log" -> dynLog(47L),
    "dyn_fuzz_index" -> dynIndex(53L),
    "dyn_fuzz_queue" -> dynQueue(59L))

  val defs: Map[String, (SparkSession, String) => DataFrame] =
    pinned.map { case (n, d) => n -> d.build }.toMap

  val oracles: Map[String, String] = pinned.map { case (n, d) => n -> d.oracle }.toMap

  /** FuzzSweep's domains at their swept sizes, by the short name of its
    * `fz_<name>_<seed>` entries. */
  val swept: Seq[(String, Long => Draw)] = Seq(
    "expr" -> (exprs(25, _)), "str" -> (strings(20, _)), "tup" -> (tuples(16, _)),
    "agg" -> (aggs(12, _)), "q" -> (queries(8, _)), "join" -> (joins(8, _)),
    "win" -> (windows(10, _)), "set" -> (setOps(8, _)), "script" -> (scripts(8, _)),
    "dml" -> (dml(4, _)), "mr" -> (matchRecognize(4, _)),
    "hopsess" -> (hopSession(5, _)), "ysonopt" -> (ysonOpt(12, _)),
    "pg" -> (pg(24, _)), "pgdon" -> (distinctOn(_)), "dyn" -> (dynLog(_)),
    "dynidx" -> (dynIndex(_)), "dynq" -> (dynQueue(_)), "paths" -> (tablePaths(6, _)),
    "strfmt" -> (strFmt(12, _)))
}
