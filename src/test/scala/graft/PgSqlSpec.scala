package graft

import graft.functions.PgSql

/** PG-syntax frontend subset (pg_sql.cpp via the --!syntax_pg
  * translation setting, translation_settings.cpp:131). Shapes follow
  * pg_sql_ut.cpp's read-side cases (Casts, Operators, ParamRefs) —
  * executed end-to-end here, not parse-compared. */
class PgSqlSpec extends SparkSpec {

  private def one(q: String, params: Map[String, String] = Map.empty) =
    PgSql.sql(spark, q, params).head()

  test("syntax marker routes; plain v1 text does not") {
    assert(PgSql.isPg("--!syntax_pg\nSELECT 1"))
    assert(PgSql.isPg("  \n --!SYNTAX_PG \nSELECT 1"))
    assert(!PgSql.isPg("SELECT 1 -- !syntax_pg"))
    assert(!PgSql.isPg("--!syntax_v1\nSELECT 1"))
  }

  test(":: casts: PG type names, chaining, precision args " +
      "(pg_sql_ut Casts)") {
    val r = one(
      """--!syntax_pg
        |SELECT '41'::int4 + 1 AS i, 1::int8 AS b, '2.5'::float8 AS d,
        |  3.14159::numeric(6,2) AS num, 17::text AS t,
        |  'true'::bool AS flag, '2024-05-17'::date AS dt,
        |  42::int4::text::int8 AS chained,
        |  ('1' || '2')::int4 AS parened,
        |  length('abc'::varchar(2)) AS vlen""".stripMargin)
    assert(r.getInt(0) == 42)
    assert(r.getLong(1) == 1L)
    assert(r.getDouble(2) == 2.5)
    assert(r.getDecimal(3).toString == "3.14")
    assert(r.getString(4) == "17")
    assert(r.getBoolean(5))
    assert(r.getDate(6).toString == "2024-05-17")
    assert(r.getLong(7) == 42L)
    assert(r.getInt(8) == 12)
    assert(r.getInt(9) == 3)
  }

  test("string literals: raw by default, E'' decodes escapes, '' " +
      "doubling, \"\" identifiers") {
    val r = one(
      """--!syntax_pg
        |SELECT length('a\nb') AS rawlen, length(E'a\nb') AS elen,
        |  'it''s' AS quoted, E'tab\there' AS tabbed,
        |  'x' AS "Quoted Name"""".stripMargin)
    assert(r.getInt(0) == 4) // backslash-n is TWO raw chars in PG
    assert(r.getInt(1) == 3) // E'' decodes to newline
    assert(r.getString(2) == "it's")
    assert(r.getString(3) == "tab\there")
    assert(r.schema.fieldNames.toSeq.contains("Quoted Name"))
  }

  test("match operators: ~~ ~~* !~~ ~ ~* !~ (pg_sql_ut Operators)") {
    val r = one(
      """--!syntax_pg
        |SELECT 'Hello' ~~ 'He%' AS like_hit,
        |  'Hello' ~~* 'he%' AS ilike_hit,
        |  'Hello' !~~ 'x%' AS nlike,
        |  'abc123' ~ '[0-9]+' AS re_hit,
        |  'ABC' ~* 'abc' AS re_ci,
        |  'abc' !~ '^b' AS re_neg""".stripMargin)
    for (i <- 0 until 6) assert(r.getBoolean(i), s"col $i")
  }

  test("positional parameters $n bind; unbound raises " +
      "(pg_sql_ut ParamRefs)") {
    val r = one("--!syntax_pg\nSELECT $1::int4 + $2::int4 AS s",
      Map("1" -> "20", "$2" -> "22"))
    assert(r.getInt(0) == 42)
    val e = intercept[IllegalArgumentException] {
      PgSql.translate("--!syntax_pg\nSELECT $1 AS x")
    }
    assert(e.getMessage.contains("$1"))
  }

  test("CTE + set op + LIMIT/OFFSET + || over catalog tables") {
    graft.sources.Tables.registerAll(spark, sfDir)
    val df = PgSql.sql(spark,
      """--!syntax_pg
        |WITH r AS (SELECT r_regionkey AS k, r_name FROM region),
        |     n AS (SELECT n_nationkey AS k, n_name FROM nation)
        |SELECT k, r_name || '!' AS nm FROM r
        |UNION ALL
        |SELECT k, n_name FROM n
        |ORDER BY k, nm
        |LIMIT 5 OFFSET 2""".stripMargin)
    val rows = df.collect()
    assert(rows.length == 5)
    assert(rows.map(_.get(0).toString).toSeq ==
      Seq("1", "1", "2", "2", "3"))
  }

  test("function fixups: strpos swaps args, now() maps") {
    val r = one(
      """--!syntax_pg
        |SELECT strpos('graft-engine', 'engine') AS at,
        |  strpos('abc', 'z') AS missing,
        |  (now() > '2020-01-01'::timestamp) AS recent""".stripMargin)
    assert(r.getInt(0) == 7)
    assert(r.getInt(1) == 0)
    assert(r.getBoolean(2))
  }

  test("out-of-subset constructs raise with a named reason") {
    val dml = intercept[IllegalArgumentException] {
      PgSql.translate("--!syntax_pg\nINSERT INTO t VALUES (1)")
    }
    assert(dml.getMessage.contains("INSERT"), dml.getMessage)
    val zip = intercept[IllegalArgumentException] {
      PgSql.translate(
        "--!syntax_pg\nSELECT * FROM unnest(ARRAY[1], ARRAY[2])")
    }
    assert(zip.getMessage.contains("unnest"), zip.getMessage)
    val sim = intercept[IllegalArgumentException] {
      PgSql.translate("--!syntax_pg\nSELECT a SIMILAR TO b FROM t")
    }
    assert(sim.getMessage.contains("literal pattern"), sim.getMessage)
    val donGroup = intercept[IllegalArgumentException] {
      PgSql.translate(
        "--!syntax_pg\nSELECT DISTINCT ON (a) a, count(*) FROM t " +
          "GROUP BY a ORDER BY a")
    }
    assert(donGroup.getMessage.contains("GROUP"), donGroup.getMessage)
    val slice = intercept[IllegalArgumentException] {
      PgSql.translate("--!syntax_pg\nSELECT arr[1:2] FROM t")
    }
    assert(slice.getMessage.contains("slice"), slice.getMessage)
    val sagg = intercept[IllegalArgumentException] {
      PgSql.translate(
        "--!syntax_pg\nSELECT string_agg(a, ',' ORDER BY a) FROM t")
    }
    assert(sagg.getMessage.contains("ORDER BY"), sagg.getMessage)
    val typ = intercept[IllegalArgumentException] {
      PgSql.translate("--!syntax_pg\nSELECT 'x'::point AS p")
    }
    assert(typ.getMessage.contains("point"), typ.getMessage)
  }

  test("operators and :: inside string literals are untouched") {
    val r = one(
      """--!syntax_pg
        |SELECT 'a::b' AS c1, 'x ~~ y' AS c2, '$1' AS c3""".stripMargin)
    assert(r.getString(0) == "a::b")
    assert(r.getString(1) == "x ~~ y")
    assert(r.getString(2) == "$1")
  }

  test("generate_series in FROM position (incl. step + column alias); " +
      "select-list SRF raises") {
    val rows = PgSql.sql(spark,
      """--!syntax_pg
        |SELECT i * 10 AS x
        |FROM generate_series(2, 4) AS g(i)
        |ORDER BY i""".stripMargin).collect()
    assert(rows.map(_.getInt(0)).toSeq == Seq(20, 30, 40))
    val joined = PgSql.sql(spark,
      """--!syntax_pg
        |SELECT count(*)::int8 AS n
        |FROM generate_series(1, 3) AS a(i), generate_series(1, 4, 2) AS b(j)
        |WHERE a.i <= b.j""".stripMargin).head()
    // i ∈ {1,2,3}, j ∈ {1,3}; i≤j → (1,1),(1,3),(2,3),(3,3)
    assert(joined.getLong(0) == 4L)
    val srf = intercept[IllegalArgumentException] {
      PgSql.translate("--!syntax_pg\nSELECT a, generate_series(1, 3) FROM t")
    }
    assert(srf.getMessage.contains("generate_series"), srf.getMessage)
  }

  test("DISTINCT ON keeps the first row per group in ORDER BY order " +
      "(parse_clause.c window lowering)") {
    graft.sources.Tables.registerAll(spark, sfDir)
    // latest order per customer, PG's canonical DISTINCT ON shape —
    // aliases and ordinals in ORDER BY both substitute
    val rows = PgSql.sql(spark,
      """--!syntax_pg
        |SELECT DISTINCT ON (o.o_custkey) o.o_custkey AS k,
        |       o.o_orderdate, o.o_orderkey
        |FROM orders AS o
        |WHERE o.o_custkey <= 20
        |ORDER BY k, o.o_orderdate DESC, o.o_orderkey DESC
        |LIMIT 5""".stripMargin).collect()
    assert(rows.length == 5)
    // oracle: max-by-(date, key) via plain SQL
    val expect = spark.sql(
      """SELECT o_custkey AS k, o_orderdate, o_orderkey FROM (
        |  SELECT o_custkey, o_orderdate, o_orderkey, row_number() OVER (
        |    PARTITION BY o_custkey
        |    ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |  FROM orders WHERE o_custkey <= 20) WHERE rn = 1
        |ORDER BY k LIMIT 5""".stripMargin).collect()
    assert(rows.map(_.toString).toSeq == expect.map(_.toString).toSeq)
    // ON expressions must lead ORDER BY (PG parse_clause.c error)
    val e = intercept[IllegalArgumentException] {
      PgSql.translate(
        "--!syntax_pg\nSELECT DISTINCT ON (a) a, b FROM t ORDER BY b, a")
    }
    assert(e.getMessage.contains("must match initial ORDER BY"),
      e.getMessage)
  }

  test("ARRAY literals and 1-based subscripts; out-of-range and " +
      "index<1 are NULL (PG array semantics)") {
    val r = one(
      """--!syntax_pg
        |SELECT (ARRAY[10, 20, 30])[2] AS ok,
        |  (ARRAY[10, 20, 30])[4] AS oob,
        |  (ARRAY[10, 20, 30])[0] AS zero,
        |  (ARRAY['a' || 'b', 'c'])[1] AS s,
        |  (ARRAY[ARRAY[1, 2], ARRAY[3, 4]])[2][1] AS nested,
        |  1 + (ARRAY[5, 6])[1 + 1] AS arith""".stripMargin)
    assert(r.getInt(0) == 20)
    assert(r.isNullAt(1))
    assert(r.isNullAt(2))
    assert(r.getString(3) == "ab")
    assert(r.getInt(4) == 3)
    assert(r.getInt(5) == 7)
  }

  test("IS [NOT] DISTINCT FROM maps to null-safe equality") {
    val r = one(
      """--!syntax_pg
        |SELECT 1 IS DISTINCT FROM 2 AS t1,
        |  NULL IS DISTINCT FROM NULL AS f1,
        |  NULL IS DISTINCT FROM 1 AS t2,
        |  3 IS NOT DISTINCT FROM 3 AS t3,
        |  NULL IS NOT DISTINCT FROM NULL AS t4,
        |  1 + 1 IS DISTINCT FROM 3 AS arith,
        |  'a' || 'b' IS NOT DISTINCT FROM 'ab' AS cat""".stripMargin)
    assert(r.getBoolean(0)); assert(!r.getBoolean(1))
    assert(r.getBoolean(2)); assert(r.getBoolean(3))
    assert(r.getBoolean(4)); assert(r.getBoolean(5))
    assert(r.getBoolean(6))
  }

  test("string_agg joins non-NULLs, NULL on empty; BETWEEN SYMMETRIC " +
      "sorts its bounds") {
    val r = one(
      """--!syntax_pg
        |WITH t AS (SELECT 1 AS g, 'x' AS v
        |           UNION ALL SELECT 1, 'y'
        |           UNION ALL SELECT 2, NULL)
        |SELECT
        |  (SELECT string_agg(v, ',') FROM t WHERE g = 1) AS joined,
        |  (SELECT string_agg(v, ',') FROM t WHERE g = 2) AS empty,
        |  5 BETWEEN SYMMETRIC 10 AND 1 AS sym,
        |  5 BETWEEN 10 AND 1 AS plain""".stripMargin)
    assert(Set("x,y", "y,x").contains(r.getString(0)))
    assert(r.isNullAt(1))
    assert(r.getBoolean(2)); assert(!r.getBoolean(3))
  }

  test("dollar-quoted strings: $$...$$ and $tag$...$tag$ are raw " +
      "(no escape processing), nestable by tag") {
    val r = one(
      """--!syntax_pg
        |SELECT $$it's raw \n$$ AS a,
        |  $q$body with $$ inside$q$ AS b,
        |  length($x$ $x$) AS c""".stripMargin)
    assert(r.getString(0) == "it's raw \\n")
    assert(r.getString(1) == "body with $$ inside")
    assert(r.getInt(2) == 1)
  }

  test("SIMILAR TO: %/_ wildcards, regex metachars, literal dot, " +
      "NOT form, ESCAPE override (similar_escape)") {
    val r = one(
      """--!syntax_pg
        |SELECT 'abc' SIMILAR TO 'a%' AS t1,
        |  'abc' SIMILAR TO '%(b|d)%' AS t2,
        |  'abc' SIMILAR TO 'ab' AS f1,
        |  'a.c' SIMILAR TO 'a.c' AS dot_lit,
        |  'axc' SIMILAR TO 'a.c' AS dot_not_meta,
        |  'a_c' SIMILAR TO 'a\_c' AS esc_us,
        |  'abc' NOT SIMILAR TO 'x%' AS neg,
        |  'a%c' SIMILAR TO 'a!%c' ESCAPE '!' AS custom_esc,
        |  'a7c' SIMILAR TO 'a[0-9]c' AS cls""".stripMargin)
    assert(r.getBoolean(0)); assert(r.getBoolean(1))
    assert(!r.getBoolean(2)) // whole-string anchor: 'ab' != 'abc'
    assert(r.getBoolean(3))
    assert(!r.getBoolean(4)) // '.' is literal in SIMILAR TO
    assert(r.getBoolean(5)); assert(r.getBoolean(6))
    assert(r.getBoolean(7)); assert(r.getBoolean(8))
  }

  test("unnest in FROM position; WITH ORDINALITY is 1-based") {
    val rows = PgSql.sql(spark,
      """--!syntax_pg
        |SELECT u.x * 10 AS v
        |FROM unnest(ARRAY[3, 1, 2]) AS u(x)
        |ORDER BY v""".stripMargin).collect()
    assert(rows.map(_.getInt(0)).toSeq == Seq(10, 20, 30))
    val ord = PgSql.sql(spark,
      """--!syntax_pg
        |SELECT * FROM unnest(ARRAY['a', 'b']) WITH ORDINALITY AS t(v, i)
        |ORDER BY i""".stripMargin).collect()
    assert(ord.map(r => (r.getString(0), r.getInt(1))).toSeq ==
      Seq(("a", 1), ("b", 2)))
  }

  test("array toolkit: array_agg keeps NULLs, cardinality, " +
      "array_length(empty)=NULL, array_to_string skips NULLs, " +
      "string_to_array regex-quotes its separator") {
    val r = one(
      """--!syntax_pg
        |WITH t AS (SELECT 1 AS v UNION ALL SELECT NULL
        |           UNION ALL SELECT 3)
        |SELECT
        |  (SELECT count(*) FROM (SELECT array_agg(v) AS a FROM t)
        |    WHERE cardinality(a) = 3) AS with_null,
        |  cardinality(ARRAY[1, 2]) AS card,
        |  array_length(ARRAY[1, 2], 1) AS alen,
        |  array_to_string(ARRAY['x', NULL, 'y'], '-') AS joined,
        |  string_to_array('a.b.c', '.') AS split_lit""".stripMargin)
    assert(r.getLong(0) == 1L) // NULL kept → cardinality 3
    assert(r.getInt(1) == 2)
    assert(r.getInt(2) == 2)
    assert(r.getString(3) == "x-y")
    assert(r.getSeq[String](4) == Seq("a", "b", "c"))
  }

  test("quantified comparisons: op ANY/SOME/ALL over arrays with " +
      "PG's three-valued logic; subquery form raises") {
    val r = one(
      """--!syntax_pg
        |SELECT 2 = ANY(ARRAY[1, 2, 3]) AS t1,
        |  5 = ANY(ARRAY[1, NULL]) AS nl,
        |  0 < SOME(ARRAY[-1, 1]) AS t2,
        |  2 <> ALL(ARRAY[1, 3]) AS t3,
        |  2 <> ALL(ARRAY[1, 2]) AS f1,
        |  1 <= ALL(ARRAY[1, NULL]) AS nl2,
        |  1 + 1 = ANY(ARRAY[2]) AS arith""".stripMargin)
    assert(r.getBoolean(0))
    assert(r.isNullAt(1)) // no match + NULL element → NULL, not false
    assert(r.getBoolean(2)); assert(r.getBoolean(3))
    assert(!r.getBoolean(4))
    assert(r.isNullAt(5)) // all non-NULL pass + a NULL → NULL
    assert(r.getBoolean(6))
    val sub = intercept[IllegalArgumentException] {
      PgSql.translate("--!syntax_pg\nSELECT a = ANY(SELECT b FROM t) FROM t")
    }
    assert(sub.getMessage.contains("subquery"), sub.getMessage)
  }

  test("FETCH FIRST n ROWS ONLY + OFFSET n ROWS (standard order); " +
      "WITH TIES raises; FILTER clause ships verbatim") {
    graft.sources.Tables.registerAll(spark, sfDir)
    val rows = PgSql.sql(spark,
      """--!syntax_pg
        |SELECT n_nationkey FROM nation
        |ORDER BY n_nationkey
        |OFFSET 2 ROWS
        |FETCH FIRST 3 ROWS ONLY""".stripMargin).collect()
    assert(rows.map(_.get(0).toString).toSeq == Seq("2", "3", "4"))
    val one1 = PgSql.sql(spark,
      """--!syntax_pg
        |SELECT n_nationkey FROM nation ORDER BY n_nationkey
        |FETCH FIRST ROW ONLY""".stripMargin).collect()
    assert(one1.length == 1)
    val ties = intercept[IllegalArgumentException] {
      PgSql.translate(
        "--!syntax_pg\nSELECT a FROM t ORDER BY a FETCH FIRST 3 ROWS WITH TIES")
    }
    assert(ties.getMessage.contains("TIES"), ties.getMessage)
    // PG's aggregate FILTER clause is native Spark SQL — verbatim
    val f = one(
      """--!syntax_pg
        |WITH t AS (SELECT * FROM unnest(ARRAY[1, 2, 3, 4]) AS u(v))
        |SELECT count(*) FILTER (WHERE v % 2 = 0) AS evens,
        |       sum(v) FILTER (WHERE v > 2) AS big FROM t""".stripMargin)
    assert(f.getLong(0) == 2L)
    assert(f.getLong(1) == 7L)
  }

  test("verbatim PG surface: VALUES in FROM with column aliases, " +
      "TABLE statement head, INTERVAL literal arithmetic") {
    val v = PgSql.sql(spark,
      """--!syntax_pg
        |SELECT x * 2 AS d, y FROM (VALUES (1, 'a'), (2, 'b')) AS t(x, y)
        |ORDER BY x DESC""".stripMargin).collect()
    assert(v.map(r => (r.getInt(0), r.getString(1))).toSeq ==
      Seq((4, "b"), (2, "a")))
    graft.sources.Tables.registerAll(spark, sfDir)
    assert(PgSql.sql(spark, "--!syntax_pg\nTABLE region").count() == 5)
    val iv = one(
      """--!syntax_pg
        |SELECT ('2020-01-01 00:00:00'::timestamp + INTERVAL '1 day'
        |  < '2020-01-03'::timestamp) AS plus_day""".stripMargin)
    assert(iv.getBoolean(0))
  }

  test("extract(epoch from x) maps to fractional seconds; other " +
      "fields pass through to Spark's EXTRACT") {
    val r = one(
      """--!syntax_pg
        |SELECT extract(epoch from '2020-01-01 00:00:01.25'::timestamp) AS ep,
        |  extract(epoch from '1970-01-01'::date) AS zero,
        |  extract(year from '2020-05-17'::date)::int4 AS y""".stripMargin)
    assert(r.getDouble(0) == 1577836801.25)
    assert(r.getDouble(1) == 0.0)
    assert(r.getInt(2) == 2020)
  }

  test("similar_escape emits escaped chars verbatim: \\d is the " +
      "POSIX digit class, \\% a literal percent (round-12 ADVICE)") {
    val r = one(
      """--!syntax_pg
        |SELECT 'ab1cd' SIMILAR TO '%\d%' AS has_digit,
        |  'abdcd' SIMILAR TO '%\d%' AS lit_d_no,
        |  '50%' SIMILAR TO '__\%' AS lit_pct,
        |  'a b' SIMILAR TO 'a\sb' AS ws_class""".stripMargin)
    assert(r.getBoolean(0))
    assert(!r.getBoolean(1)) // 'contains d' would wrongly be true
    assert(r.getBoolean(2))
    assert(r.getBoolean(3))
  }

  test("SIMILAR TO: word-boundary escapes translate outside bracket " +
      "expressions only") {
    val r = one(
      """--!syntax_pg
        |SELECT 'ab cd' SIMILAR TO '%b\y %' AS y_boundary,
        |  'abcd' SIMILAR TO '%b\y%' AS y_mid_word,
        |  'ab cd' SIMILAR TO '%\mcd' AS m_word_start""".stripMargin)
    assert(r.getBoolean(0))
    assert(!r.getBoolean(1))
    assert(r.getBoolean(2))
    // inside a class the escape is no class member: it fails loudly,
    // under the user's own spelling, instead of becoming a backspace
    // class ([\b]) or the class of the lookaround's characters
    val y = intercept[Exception](one(
      """--!syntax_pg
        |SELECT concat('a', chr(8)) SIMILAR TO 'a[\y]' AS b""".stripMargin))
    assert(causeMessages(y).contains("[\\y]"), causeMessages(y))
    val m = intercept[Exception](one(
      """--!syntax_pg
        |SELECT 'a?' SIMILAR TO 'a[\m]' AS q""".stripMargin))
    assert(causeMessages(m).contains("[\\m]"), causeMessages(m))
  }

  test("ORDER BY(expr) gets the PG null-order injection like " +
      "ORDER BY expr (round-12 ADVICE)") {
    // PG: NULLS LAST on ASC — Spark's default would put them first
    val rows = PgSql.sql(spark,
      """--!syntax_pg
        |SELECT v FROM (VALUES (1), (NULL), (2)) AS t(v)
        |ORDER BY(v)""".stripMargin).collect()
    assert(rows.map(r => if (r.isNullAt(0)) null else r.getInt(0)).toSeq
      == Seq(1, 2, null))
  }

  test("array_agg over zero rows is NULL, not an empty array " +
      "(round-12 ADVICE)") {
    val r = one(
      """--!syntax_pg
        |SELECT array_agg(v) AS a, count(*) AS n
        |FROM (VALUES (1), (2)) AS t(v) WHERE v > 99""".stripMargin)
    assert(r.isNullAt(0))
    assert(r.getLong(1) == 0L)
  }

  test("string_to_array('') is the empty array, cardinality 0 " +
      "(round-12 ADVICE)") {
    val r = one(
      """--!syntax_pg
        |SELECT cardinality(string_to_array('', ',')) AS empty_n,
        |  cardinality(string_to_array('a,b', ',')) AS two_n,
        |  string_to_array(NULL, ',') IS NULL AS null_in""".stripMargin)
    assert(r.getInt(0) == 0)
    assert(r.getInt(1) == 2)
    assert(r.getBoolean(2))
  }

  test("IS [NOT] DISTINCT FROM parses natively: boolean, with ::-cast " +
      "and CASE operands") {
    val r = one(
      """--!syntax_pg
        |SELECT 2 IS DISTINCT FROM 2::int8 AS d,
        |  2::int8 IS DISTINCT FROM 3 AS e,
        |  CASE WHEN true THEN 1 END IS DISTINCT FROM 2 AS f""".stripMargin)
    assert(r.schema.fields.forall(_.dataType ==
      org.apache.spark.sql.types.BooleanType), r.schema.simpleString)
    assert(!r.getBoolean(0))
    assert(r.getBoolean(1))
    assert(r.getBoolean(2))
  }

  test("windowed string_agg(...) OVER (ORDER BY ...) is PG's running " +
      "concatenation") {
    val rows = PgSql.sql(spark,
      """--!syntax_pg
        |SELECT string_agg(v, ',') OVER (ORDER BY v) AS s
        |FROM (VALUES ('a'), ('b')) AS t(v)
        |ORDER BY v""".stripMargin).collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("a", "a,b"))
  }

  test("= ANY and BETWEEN SYMMETRIC operands take a ::type suffix, " +
      "incl. (p, s) and two-word type names") {
    val r = one(
      """--!syntax_pg
        |SELECT DISTINCT 2::int8 = ANY(ARRAY[1, 2]) AS a,
        |  5 BETWEEN SYMMETRIC 10 AND 1::int8 AS b,
        |  5::int8 BETWEEN SYMMETRIC 10 AND 1 AS c,
        |  '2.50'::numeric(4,2) = ANY(ARRAY[2.5]) AS d,
        |  '1.5'::double precision = ANY(ARRAY[1.5]) AS e,
        |  5 BETWEEN SYMMETRIC 10 AND '1'::double precision AS f
        |""".stripMargin)
    for (i <- 0 until 6) assert(r.getBoolean(i), s"col $i")
  }

  test("a type name takes the next word only when it continues a " +
      "multi-word PG type name") {
    val r = one(
      """--!syntax_pg
        |SELECT '2020-01-01'::timestamp AS t,
        |  '2020-01-01'::timestamp without time zone BETWEEN SYMMETRIC
        |    '2020-01-02'::timestamp AND '2019-12-31'::timestamp AS g""".stripMargin)
    assert(r.getTimestamp(0).toString == "2020-01-01 00:00:00.0")
    assert(r.getBoolean(1))
  }

  test("CASE ... END is one operand of = ANY and BETWEEN SYMMETRIC") {
    val r = one(
      """--!syntax_pg
        |SELECT CASE WHEN true THEN 2 END = ANY(ARRAY[1, 2]) AS a,
        |  5 BETWEEN SYMMETRIC CASE WHEN true THEN 10 END AND 1 AS b,
        |  CASE WHEN CASE WHEN true THEN 1 END = ANY(ARRAY[1])
        |    THEN 5 BETWEEN SYMMETRIC 1 AND CASE 1 WHEN 1 THEN 10 END
        |  END AS c""".stripMargin)
    for (i <- 0 until 3) assert(r.getBoolean(i), s"col $i")
  }

  test("generate_series returns no rows when the step points away " +
      "from stop, as PG; a zero step raises") {
    def series(args: String): Seq[String] = PgSql.sql(spark,
      s"--!syntax_pg\nSELECT i FROM generate_series($args) AS g(i)")
      .collect().map(_.get(0).toString).toSeq
    assert(series("3, 1") == Seq.empty)
    assert(series("1, 3, -1") == Seq.empty)
    assert(series("3, 1, -1") == Seq("3", "2", "1"))
    assert(series("1, 5, 2") == Seq("1", "3", "5"))
    // the step's sign is read without adding it to a bound
    assert(series("2147483600, 2147483647, 100") == Seq("2147483600"))
    assert(series("-2147483600, -2147483648, -100") == Seq("-2147483600"))
    assert(series("'2020-01-03'::timestamp, '2020-01-01'::timestamp, " +
      "INTERVAL '1 day'") == Seq.empty)
    assert(series("'2020-01-02'::timestamp, '2020-01-01'::timestamp, " +
      "INTERVAL '-1 day'") ==
      Seq("2020-01-02 00:00:00.0", "2020-01-01 00:00:00.0"))
    val zero = intercept[Exception](series("1, 1, 0"))
    assert(causeMessages(zero).contains("step size cannot equal zero"),
      causeMessages(zero))
  }

  test("-- comments are whitespace: no pass reads into them") {
    // PG's NULL ordering is still injected after an ORDER BY that a
    // comment ends
    def order(dir: String): Seq[Any] = PgSql.sql(spark,
      s"""--!syntax_pg
         |SELECT v FROM (VALUES (1), (NULL), (2)) AS t(v)
         |ORDER BY v $dir -- c
         |""".stripMargin).collect().map(_.get(0)).toSeq
    assert(order("") == Seq(1, 2, null))
    assert(order("DESC") == Seq(null, 2, 1))
    val r = one(
      """--!syntax_pg
        |-- don't
        |SELECT 1::int8 AS x -- trailing END x::point
        |""".stripMargin)
    assert(r.get(0) == 1L)
  }

  test("/* */ comments nest and are whitespace") {
    val r = one(
      """--!syntax_pg
        |/* it's /* nested, END x::point */ */ SELECT 1::int8 AS x""".stripMargin)
    assert(r.get(0) == 1L)
    val open = intercept[IllegalArgumentException](
      PgSql.translate("--!syntax_pg\nSELECT 1 /* /* */"))
    assert(open.getMessage.contains("unterminated /* comment"),
      open.getMessage)
  }
}
