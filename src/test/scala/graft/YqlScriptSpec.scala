package graft

import graft.functions.{YqlScript, YqlSql}

/** YQL statement-level string surface: named expressions, lambda
  * bindings, FLATTEN BY, SELECT * WITHOUT, PRAGMA
  * (SQLv1.g.in named_nodes_stmt / lambda / flatten_source /
  * without_column_list; lowering sql/v1/sql_query.cpp, select.cpp). */
class YqlScriptSpec extends SparkSpec {

  import spark.implicits._

  // ——— pure lowering ———

  test("named scalar expressions substitute; pragmas are recorded") {
    val l = YqlScript.lower(
      """PRAGMA yt.Pool = 'research';
        |$min = 10;
        |SELECT a FROM t WHERE a > $min""".stripMargin)
    assert(l.pragmas == Seq("yt.Pool = 'research'"))
    assert(l.selects == Seq("SELECT a FROM t WHERE a > (10)"))
  }

  test("bindings resolve against earlier bindings at definition time") {
    val l = YqlScript.lower(
      """$base = 5;
        |$lim = $base * 2;
        |SELECT a FROM t WHERE a < $lim""".stripMargin)
    assert(l.selects.head == "SELECT a FROM t WHERE a < ((5) * 2)")
  }

  test("a $name inside a string literal never substitutes") {
    val l = YqlScript.lower("$x = 1;\nSELECT '$x literal', $x FROM t")
    assert(l.selects.head == "SELECT '$x literal', (1) FROM t")
  }

  test("lambda call sites inline the body with parenthesized args") {
    val l = YqlScript.lower(
      """$double = ($v) -> ($v * 2);
        |SELECT $double(a + 1) FROM t""".stripMargin)
    assert(l.selects.head == "SELECT ((a + 1) * 2) FROM t")
  }

  test("lambdas can call earlier lambdas and scalars") {
    val l = YqlScript.lower(
      """$k = 3;
        |$mul = ($v) -> ($v * $k);
        |$mul2 = ($v) -> ($mul($v) + 1);
        |SELECT $mul2(a) FROM t""".stripMargin)
    assert(l.selects.head == "SELECT ((((a)) * (3)) + 1) FROM t")
  }

  test("bare lambda refs lower to Spark lambda literals") {
    val l = YqlScript.lower(
      """$inc = ($x) -> ($x + 1);
        |SELECT ListMap(xs, $inc) FROM t""".stripMargin)
    assert(l.selects.head == "SELECT ListMap(xs, __la_x -> ((__la_x) + 1)) FROM t"
      .replace("((__la_x) + 1)", "__la_x + 1"))
  }

  test("statement-body lambdas: local bindings, outer scope, RETURN") {
    val l = YqlScript.lower(
      """$k = 7;
        |$f = ($v) -> {
        |  $sq = $v * $v;
        |  RETURN $sq + $k;
        |};
        |SELECT $f(a) FROM t""".stripMargin)
    assert(l.selects.head == "SELECT (((a) * (a)) + (7)) FROM t")
    intercept[IllegalArgumentException] { // no RETURN
      YqlScript.lower("$f = ($v) -> { $x = 1; };\nSELECT $f(a) FROM t")
    }
    intercept[IllegalArgumentException] { // statements after RETURN
      YqlScript.lower("$f = ($v) -> { RETURN $v; $x = 1; };\nSELECT $f(a) FROM t")
    }
  }

  test("SELECT * WITHOUT lowers to EXCEPT") {
    assert(YqlScript.lowerWithout("SELECT * WITHOUT a, b FROM t") ==
      "SELECT * EXCEPT (a, b) FROM t")
    assert(YqlScript.lowerWithout("SELECT * WITHOUT IF EXISTS a FROM t") ==
      "SELECT * EXCEPT (a) FROM t")
  }

  test("FLATTEN BY lowers to a LATERAL VIEW derived table") {
    val got = YqlScript.lowerFlatten("SELECT doc_id, w FROM docs FLATTEN BY ws AS w")
    assert(got == "SELECT doc_id, w FROM (SELECT * EXCEPT (__fb0), __fb0 AS w FROM docs " +
      "LATERAL VIEW explode(ws) __fbv0 AS __fb0)")
    val noAlias = YqlScript.lowerFlatten("SELECT doc_id, ws FROM docs FLATTEN BY ws")
    assert(noAlias == "SELECT doc_id, ws FROM (SELECT * EXCEPT (ws, __fb0), __fb0 AS ws " +
      "FROM docs LATERAL VIEW explode(ws) __fbv0 AS __fb0)")
  }

  test("unsupported statements and undeclared names are errors") {
    intercept[IllegalArgumentException] {
      YqlScript.lower("PROCESS t USING $f(TableRows());")
    }
    intercept[IllegalArgumentException] {
      YqlScript.lower("SELECT $nope FROM t")
    }
    intercept[IllegalArgumentException] {
      YqlScript.lower("$a, $b = (SELECT 1, 2);")
    }
    intercept[IllegalArgumentException] { // arity mismatch
      YqlScript.lower("$f = ($x) -> ($x);\nSELECT $f(a, b) FROM t")
    }
    intercept[IllegalArgumentException] { // no select at all
      YqlScript.lower("$x = 1;")
    }
  }

  // ——— IMPORT / EXPORT library modules (SQLv1.g.in import_stmt /
  // export_stmt) ———

  test("IMPORT binds a library's exported symbols; private names stay hidden") {
    val lib = Map("m" ->
      """$helper = ($x) -> ($x * 10);
        |$pub = ($x) -> ($helper($x) + 1);
        |$k = 7;
        |EXPORT $pub, $k;""".stripMargin)
    val l = YqlScript.lower(
      "IMPORT m SYMBOLS $pub, $k;\nSELECT $pub(a) AS p, $k AS k FROM t",
      libraries = lib)
    assert(l.selects == Seq("SELECT ((((a)) * 10) + 1) AS p, (7) AS k FROM t"))
    // non-exported symbol is invisible
    val e1 = intercept[IllegalArgumentException] {
      YqlScript.lower("IMPORT m SYMBOLS $helper;\nSELECT 1 AS a",
        libraries = lib)
    }
    assert(e1.getMessage.contains("does not export"))
    // unresolved library / undefined export / main-script EXPORT
    intercept[IllegalArgumentException] {
      YqlScript.lower("IMPORT nope SYMBOLS $x;\nSELECT 1 AS a",
        libraries = lib)
    }
    intercept[IllegalArgumentException] {
      YqlScript.lower("IMPORT m SYMBOLS $x;\nSELECT 1 AS a",
        libraries = Map("m" -> "EXPORT $x;"))
    }
    intercept[IllegalArgumentException] {
      YqlScript.lower("$x = 1;\nEXPORT $x;\nSELECT 1 AS a")
    }
    // a library statement that isn't a binding/DEFINE/EXPORT is an error
    intercept[IllegalArgumentException] {
      YqlScript.lower("IMPORT m SYMBOLS $x;\nSELECT 1 AS a",
        libraries = Map("m" -> "SELECT 1;\nEXPORT $x;"))
    }
  }

  test("PRAGMA library('file.sql') attaches a module IMPORT can resolve") {
    val f = java.io.File.createTempFile("graft_lib", ".sql")
    java.nio.file.Files.writeString(f.toPath,
      "$mul = ($x) -> ($x * 5);\nEXPORT $mul;")
    val libName = f.getName.replaceAll("\\.[^.]*$", "")
    val l = YqlScript.lower(
      s"PRAGMA library('${f.getAbsolutePath}');\n" +
      s"IMPORT $libName SYMBOLS $$mul;\nSELECT $$mul(a) AS m FROM t")
    assert(l.selects == Seq("SELECT ((a) * 5) AS m FROM t"))
    // caller-supplied libraries win on name collision
    val l2 = YqlScript.lower(
      s"PRAGMA library('${f.getAbsolutePath}');\n" +
      s"IMPORT $libName SYMBOLS $$mul;\nSELECT $$mul(a) AS m FROM t",
      libraries = Map(libName -> "$mul = ($x) -> ($x * 9);\nEXPORT $mul;"))
    assert(l2.selects == Seq("SELECT ((a) * 9) AS m FROM t"))
    f.delete()
    intercept[IllegalArgumentException] {
      YqlScript.lower("PRAGMA library('/nonexistent_lib.sql');\nSELECT 1 AS a")
    }
  }

  test("IMPORTed DEFINE SUBQUERY template inlines at the call site") {
    val lib = Map("tpl" ->
      """DEFINE SUBQUERY $top($n) AS
        |  SELECT a FROM src ORDER BY a DESC LIMIT $n;
        |END DEFINE;
        |EXPORT $top;""".stripMargin)
    val l = YqlScript.lower(
      "IMPORT tpl SYMBOLS $top;\nSELECT a FROM $top(3)", libraries = lib)
    assert(l.selects ==
      Seq("SELECT a FROM (SELECT a FROM src ORDER BY a DESC LIMIT (3))"))
  }

  test("library modules may hold comments, from the map or a PRAGMA file") {
    val text =
      """-- header: helpers; don't export $hidden
        |$mul = ($x) -> ($x * 3); /* between ; ' bindings */
        |DEFINE SUBQUERY $top($n) AS -- the template's ; comment
        |  SELECT a FROM src /* it's */ LIMIT $n;
        |END DEFINE;
        |EXPORT $mul, $top; -- trailing ; comment
        |""".stripMargin
    val l = YqlScript.lower(
      "IMPORT m SYMBOLS $mul, $top;\nSELECT $mul(a) AS m FROM $top(2)",
      libraries = Map("m" -> text))
    assert(l.selects ==
      Seq("SELECT ((a) * 3) AS m FROM (SELECT a FROM src   LIMIT (2))"))
    val f = java.io.File.createTempFile("graft_lib", ".sql")
    try {
      java.nio.file.Files.writeString(f.toPath, text)
      val libName = f.getName.replaceAll("\\.[^.]*$", "")
      val l2 = YqlScript.lower(
        s"PRAGMA library('${f.getAbsolutePath}');\n" +
        s"IMPORT $libName SYMBOLS $$mul;\nSELECT $$mul(a) AS m FROM t")
      assert(l2.selects == Seq("SELECT ((a) * 3) AS m FROM t"))
    } finally f.delete()
  }

  // ——— end-to-end through spark.sql ———

  test("script runs end-to-end: bindings + lambda + FLATTEN BY + WITHOUT") {
    Seq((1L, "a b ccc dddd", "en"), (2L, "x yy", "de"))
      .toDF("doc_id", "text", "lang").createOrReplaceTempView("yqls_docs")
    val df = YqlSql.sql(spark,
      """PRAGMA yt.Pool = 'research';
        |$min_id = 0;
        |$words = ($s) -> (String::SplitToList($s, ' '));
        |$n_words = ($s) -> (ListLength($words($s)));
        |$src = (
        |  SELECT doc_id, lang, $words(text) AS ws, $n_words(text) AS n
        |  FROM yqls_docs WHERE doc_id > $min_id
        |);
        |SELECT * WITHOUT lang FROM $src FLATTEN BY ws AS w WHERE length(w) >= 2
        |""".stripMargin)
    val got = df.select("doc_id", "n", "w").as[(Long, Int, String)]
      .collect().toSet
    assert(got == Set((1L, 4, "ccc"), (1L, 4, "dddd"), (2L, 2, "yy")))
    assert(df.columns.toSet == Set("doc_id", "ws", "n", "w"))
  }

  test("FLATTEN OPTIONAL BY drops null rows; bare lambda feeds a HOF") {
    Seq((1L, Some(10L), Seq(1L, 2L)), (2L, None, Seq(3L)))
      .toDF("id", "opt", "xs").createOrReplaceTempView("yqls_opt")
    val df = YqlSql.sql(spark,
      """$inc = ($x) -> ($x + 100);
        |SELECT id, opt, ListMap(xs, $inc) AS bumped
        |FROM yqls_opt FLATTEN OPTIONAL BY opt""".stripMargin)
    val got = df.as[(Long, Long, Seq[Long])].collect().toSeq
    assert(got == Seq((1L, 10L, Seq(101L, 102L))))
  }

  test("FLATTEN DICT BY explodes map entries") {
    Seq((1L, Map("a" -> 1L, "b" -> 2L))).toDF("id", "m")
      .createOrReplaceTempView("yqls_dict")
    val df = YqlSql.sql(spark,
      "SELECT id, m.key AS k, m.value AS v FROM yqls_dict FLATTEN DICT BY m")
    val got = df.as[(Long, String, Long)].collect().toSet
    assert(got == Set((1L, "a", 1L), (1L, "b", 2L)))
  }

  test("FLATTEN BY (a, b) builds the Cartesian product of both lists") {
    Seq((1L, Seq("x", "y"), Seq(10L, 20L))).toDF("id", "ls", "ns")
      .createOrReplaceTempView("yqls_multi")
    val df = YqlSql.sql(spark,
      "SELECT id, l, n FROM yqls_multi FLATTEN BY (ls AS l, ns AS n)")
    val got = df.as[(Long, String, Long)].collect().toSet
    assert(got == Set((1L, "x", 10L), (1L, "x", 20L),
      (1L, "y", 10L), (1L, "y", 20L)))
  }

  test("PROCESS: passthrough, AsStruct lambda projection, WHERE on input") {
    // pure lowering
    val l = YqlScript.lower(
      """$f = ($r) -> (AsStruct($r.id * 2 AS id2, $r.name AS n));
        |PROCESS docs USING $f(TableRows()) WHERE id > 3""".stripMargin)
    assert(l.selects.head == "SELECT id * 2 AS id2, name AS n FROM docs WHERE id > 3")
    assert(YqlScript.lower("PROCESS docs").selects.head == "SELECT * FROM docs")
    // end-to-end
    Seq((1L, "a"), (5L, "b")).toDF("id", "name")
      .createOrReplaceTempView("yqls_proc")
    val df = YqlSql.sql(spark,
      """$f = ($r) -> (AsStruct($r.id * 10 AS id10, upper($r.name) AS nm));
        |PROCESS yqls_proc USING $f(TableRows()) WHERE id > 2""".stripMargin)
    assert(df.as[(Long, String)].collect().toSeq == Seq((50L, "B")))
    // negative cases: whole-row refs, non-AsStruct bodies, REDUCE
    intercept[IllegalArgumentException] {
      YqlScript.lower("$f = ($r) -> (AsStruct($r AS row));\n" +
        "PROCESS t USING $f(TableRows())")
    }
    intercept[IllegalArgumentException] {
      YqlScript.lower("$f = ($r) -> ($r.x + 1);\nPROCESS t USING $f(TableRows())")
    }
    intercept[IllegalArgumentException] { // undeclared reduce lambda
      YqlScript.lower("REDUCE t ON k USING $f(TableRows());\nSELECT 1")
    }
  }

  // ——— REDUCE (SQLv1.g.in reduce_core; yt/docs yql/syntax/reduce.md) ———

  test("REDUCE lowers to a grouped aggregation: key + value-stream refs") {
    val l = YqlScript.lower(
      """$r = ($k, $vs) -> (AsStruct($k AS key, SUM($vs) AS s));
        |REDUCE t ON k USING $r(v)""".stripMargin)
    assert(l.selects.head == "SELECT (k) AS key, SUM((v)) AS s FROM t GROUP BY k")
    // multi-column key = documented Tuple: $k.N access; TableRow()
    // streams whole rows, $vs.col projects
    val l2 = YqlScript.lower(
      """$r = ($k, $rows) -> (AsStruct($k.0 AS a, $k.1 AS b, MAX($rows.x) AS mx));
        |REDUCE t ON a, b USING $r(TableRow()) WHERE x > 0""".stripMargin)
    assert(l2.selects.head ==
      "SELECT (a) AS a, (b) AS b, MAX(x) AS mx FROM t WHERE x > 0 GROUP BY a, b")
  }

  test("REDUCE negative cases: USING ALL, bare refs, arity, multi-input") {
    def bad(s: String) = intercept[IllegalArgumentException](YqlScript.lower(s))
    val lam = "$r = ($k, $vs) -> (AsStruct($k AS key, SUM($vs) AS s));\n"
    bad(lam + "REDUCE t ON k USING ALL $r(v)")
    bad(lam + "REDUCE t, u ON k USING $r(v)")         // multi-input
    bad(lam + "REDUCE t ON k1, k2 USING $r(v)")        // bare $k, 2 keys
    bad("$r = ($k, $vs) -> (AsStruct($vs AS rows));\n" +
      "REDUCE t ON k USING $r(TableRow())")            // bare $vs + TableRow
    bad("$r = ($k, $vs) -> (AsStruct($vs.x AS x));\n" +
      "REDUCE t ON k USING $r(v)")                     // member access, no TableRow
    bad("$r = ($v) -> (AsStruct($v AS v));\nREDUCE t ON k USING $r(v)") // arity
    bad(lam + "REDUCE t ON k USING $r(v) extra")       // trailing text
  }

  test("REDUCE end-to-end: PRESORT orders each group's AGGREGATE_LIST") {
    Seq((1L, 3L, "a"), (1L, 1L, "b"), (1L, 2L, "c"), (2L, 9L, "z"))
      .toDF("k", "ord", "v").createOrReplaceTempView("yqls_red")
    val df = YqlSql.sql(spark,
      """$r = ($key, $vs) -> (AsStruct(
        |  $key AS k,
        |  array_join(AGGREGATE_LIST($vs), ',') AS seq,
        |  CAST(COUNT($vs) AS BIGINT) AS n));
        |REDUCE yqls_red PRESORT ord DESC ON k USING $r(v)""".stripMargin)
    val got = df.as[(Long, String, Long)].collect().toSet
    assert(got == Set((1L, "a,c,b", 3L), (2L, "z", 1L)))
    // ascending presort + HAVING over the stream
    val df2 = YqlSql.sql(spark,
      """$r = ($key, $rows) -> (AsStruct(
        |  $key AS k, array_join(AGGREGATE_LIST($rows.v), ',') AS seq));
        |REDUCE yqls_red PRESORT ord ON k USING $r(TableRow())
        |HAVING COUNT($rows.ord) > 1""".stripMargin)
    assert(df2.as[(Long, String)].collect().toSeq == Seq((1L, "b,c,a")))
  }

  test("REDUCE clause keywords match whole identifiers only") {
    // created_on and on_x hold ON; neither starts the ON clause
    val l = YqlScript.lower(
      """$r = ($k, $vs) -> (AsStruct($k AS key, SUM($vs) AS s));
        |REDUCE t PRESORT created_on ON k USING $r(on_x)""".stripMargin)
    assert(l.selects.head ==
      "SELECT (k) AS key, SUM((on_x)) AS s FROM t GROUP BY k")
  }

  // ——— DECLARE (SQLv1.g.in declare_stmt) ———

  test("DECLARE binds typed parameters from the caller or the default") {
    Seq((1L, "x"), (5L, "y"), (9L, "z")).toDF("id", "s")
      .createOrReplaceTempView("yqls_decl")
    val script =
      """DECLARE $lo AS Int64;
        |DECLARE $tag AS String = 'y';
        |SELECT id, s FROM yqls_decl WHERE id >= $lo AND s != $tag""".stripMargin
    val df = YqlSql.sql(spark, script, Map("lo" -> "2"))
    assert(df.as[(Long, String)].collect().toSeq == Seq((9L, "z")))
    // the declared type CASTs the binding: Int32 parameter is INT
    val typed = YqlScript.lower("DECLARE $n AS Int32 = 7;\nSELECT $n AS n")
    assert(typed.selects.head == "SELECT (CAST((7) AS INT)) AS n")
    // missing binding without a default is an error
    intercept[IllegalArgumentException] {
      YqlScript.lower("DECLARE $missing AS Int64;\nSELECT $missing")
    }
  }

  // ——— DEFINE SUBQUERY (SQLv1.g.in define_action_or_subquery_stmt) ———

  test("DEFINE SUBQUERY templates inline at call sites as derived tables") {
    Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("id", "v")
      .createOrReplaceTempView("yqls_sub")
    val df = YqlSql.sql(spark,
      """DEFINE SUBQUERY $top($src, $lim) AS
        |  $dbl = ($x) -> ($x * 2);
        |  SELECT id, $dbl(v) AS v2 FROM $src WHERE id <= $lim;
        |END DEFINE;
        |SELECT * FROM $top(yqls_sub, 2) ORDER BY id""".stripMargin)
    assert(df.as[(Long, Long)].collect().toSeq == Seq((1L, 20L), (2L, 40L)))
    // local bindings stay local; outer scope visible inside the body
    val df2 = YqlSql.sql(spark,
      """$base = 100;
        |DEFINE SUBQUERY $plus($src) AS
        |  SELECT id, v + $base AS vb FROM $src;
        |END DEFINE;
        |SELECT CAST(COUNT(id) AS BIGINT) AS n, MIN(vb) AS lo
        |FROM $plus(yqls_sub)""".stripMargin)
    assert(df2.as[(Long, Long)].head() == ((3L, 110L)))
    // a SUBQUERY body without a SELECT is rejected
    intercept[IllegalArgumentException] {
      YqlScript.lower("DEFINE SUBQUERY $s() AS $x = 1; END DEFINE;\nSELECT 1")
    }
  }

  test("DISCARD statements type-check but never become the result") {
    Seq(Tuple1(1L)).toDF("x").createOrReplaceTempView("yqls_disc")
    val df = YqlSql.sql(spark,
      "DISCARD SELECT x FROM yqls_disc;\nSELECT 42 AS answer")
    assert(df.columns.toSeq == Seq("answer"))
    assert(df.as[Int].head() == 42)
    // an invalid DISCARD still fails analysis (that is its purpose)
    intercept[Exception] {
      YqlSql.sql(spark, "DISCARD SELECT nope FROM yqls_disc;\nSELECT 1")
    }
  }

  test("a multi-statement script evaluates to its LAST select") {
    val df = YqlSql.sql(spark,
      "SELECT 1 AS a;\nSELECT 2 AS b;")
    assert(df.columns.toSeq == Seq("b"))
    assert(df.as[Int].head() == 2)
  }

  test("comments are whitespace: ';' and quotes inside them split nothing") {
    val df = YqlSql.sql(spark, "SELECT 1 AS a; /* x; */ SELECT 2 AS b;")
    assert(df.columns.toSeq == Seq("b") && df.as[Int].head() == 2)
    val df2 = YqlSql.sql(spark,
      """$x = 1; /* a ; it's /* nested ' */ */
        |-- don't ; split here
        |SELECT /* ; ' */ $x AS a, -- it's ; mid-statement
        |  'it\'s; -- not /* a comment' AS b; /* trailing ; ' */""".stripMargin)
    assert(df2.as[(Int, String)].collect().toSeq ==
      Seq((1, "it's; -- not /* a comment")))
  }

  // ——— USE / COMMIT / INSERT INTO (SQLv1.g.in use_stmt,
  // commit_stmt, into_table_stmt) ———

  test("USE and COMMIT are accepted as no-ops; malformed forms raise") {
    val l = YqlScript.lower("USE hahn;\nSELECT 1 AS x;\nCOMMIT;")
    assert(l.selects == Seq("SELECT 1 AS x"))
    intercept[IllegalArgumentException](YqlScript.lower("USE a b;\nSELECT 1"))
    intercept[IllegalArgumentException](YqlScript.lower("COMMIT x;\nSELECT 1"))
  }

  test("INSERT INTO [WITH TRUNCATE] writes in source order; later SELECTs see it") {
    spark.sql("DROP TABLE IF EXISTS yqls_sink")
    val dir = new java.io.File("/tmp/graft-warehouse/yqls_sink")
    if (dir.exists) { import scala.reflect.io.Directory
      new Directory(dir).deleteRecursively() }
    spark.sql("CREATE TABLE yqls_sink (id BIGINT, v STRING) USING parquet")
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
      .createOrReplaceTempView("yqls_src")
    // append, then a same-script read sees the write
    val df = YqlSql.sql(spark,
      """USE cluster1;
        |$cut = 3;
        |INSERT INTO yqls_sink SELECT id, v FROM yqls_src WHERE id < $cut;
        |COMMIT;
        |SELECT CAST(COUNT(id) AS BIGINT) AS n FROM yqls_sink""".stripMargin)
    assert(df.as[Long].head() == 2L)
    // WITH TRUNCATE overwrites instead of appending
    val df2 = YqlSql.sql(spark,
      """INSERT INTO yqls_sink WITH TRUNCATE
        |SELECT id, v FROM yqls_src WHERE id = 3;
        |SELECT id, v FROM yqls_sink""".stripMargin)
    assert(df2.as[(Long, String)].collect().toSeq == Seq((3L, "c")))
    // an all-INSERT script is legal: the write is the result
    val df3 = YqlSql.sql(spark,
      "INSERT INTO yqls_sink SELECT 9 AS id, 'z' AS v;")
    assert(df3.isEmpty)
    assert(spark.table("yqls_sink").count() == 2)
    // explicit column list reorders the projection onto the schema
    YqlSql.sql(spark, "INSERT INTO yqls_sink (v, id) VALUES ('q', 7);")
    assert(spark.table("yqls_sink").filter("id = 7").select("v")
      .as[String].head() == "q")
    // UPSERT/REPLACE lower to key-merge statements (executed by YqlDml)
    assert(YqlScript.lower("UPSERT INTO t SELECT 1 AS k").stmts ==
      Seq(YqlScript.UpsertStmt("t", Nil, "SELECT 1 AS k", replace = false)))
    assert(YqlScript.lower("REPLACE INTO t (k, v) SELECT 1, 2").stmts ==
      Seq(YqlScript.UpsertStmt("t", Seq("k", "v"), "SELECT 1, 2",
        replace = true)))
    intercept[IllegalArgumentException] { // malformed source
      YqlScript.lower("INSERT INTO t SET x = 1")
    }
    // the glued column-list spelling is standard SQL
    assert(YqlScript.lower("INSERT INTO t(a, b) VALUES (1, 2)").inserts ==
      Seq("INSERT INTO t (a, b) VALUES (1, 2)"))
    spark.sql("DROP TABLE IF EXISTS yqls_sink")
  }

  // ——— DEFINE ACTION / DO / EVALUATE FOR / INTO RESULT
  // (define_action_or_subquery_stmt, do_stmt, evaluate_for_stmt) ———

  test("DEFINE ACTION + DO splice statements at the call site") {
    val l = YqlScript.lower(
      """DEFINE ACTION $mk($n) AS
        |  $v = $n * 10;
        |  SELECT $v AS out;
        |END DEFINE;
        |DO $mk(2);
        |DO $mk(3)""".stripMargin)
    assert(l.selects == Seq("SELECT ((2) * 10) AS out",
      "SELECT ((3) * 10) AS out"))
    // EMPTY_ACTION is the documented no-op; inline BEGIN bodies splice
    val l2 = YqlScript.lower(
      "DO EMPTY_ACTION();\nDO BEGIN $x = 5; SELECT $x AS v; END DO")
    assert(l2.selects == Seq("SELECT (5) AS v"))
    intercept[IllegalArgumentException] { // undeclared action
      YqlScript.lower("DO $nope(1);\nSELECT 1")
    }
    intercept[IllegalArgumentException] { // arity
      YqlScript.lower(
        "DEFINE ACTION $a($x) AS SELECT $x; END DEFINE;\nDO $a(1, 2)")
    }
  }

  test("EVALUATE FOR unrolls literal lists; ELSE covers the empty list") {
    val l = YqlScript.lower(
      """DEFINE ACTION $emit($k) AS
        |  SELECT $k AS tag;
        |END DEFINE;
        |EVALUATE FOR $i IN AsList(7, 8, 9) DO $emit($i)""".stripMargin)
    assert(l.selects == Seq("SELECT ((7)) AS tag", "SELECT ((8)) AS tag",
      "SELECT ((9)) AS tag"))
    // bracket literal + inline body; $binding list through substitution
    val l2 = YqlScript.lower(
      """$xs = [1, 2];
        |EVALUATE FOR $i IN $xs DO BEGIN SELECT $i AS v; END DO""".stripMargin)
    assert(l2.selects == Seq("SELECT (1) AS v", "SELECT (2) AS v"))
    // empty list takes the ELSE branch
    val l3 = YqlScript.lower(
      """DEFINE ACTION $none() AS SELECT 0 AS v; END DEFINE;
        |EVALUATE FOR $i IN AsList() DO BEGIN SELECT $i AS v; END DO
        |ELSE DO $none()""".stripMargin)
    assert(l3.selects == Seq("SELECT 0 AS v"))
    intercept[IllegalArgumentException] { // non-literal list
      YqlScript.lower("EVALUATE FOR $i IN someCol DO BEGIN SELECT 1; END DO")
    }
    intercept[IllegalArgumentException] { // EVALUATE IF needs the hook
      YqlScript.lower("EVALUATE IF 1 > 0 DO BEGIN SELECT 1; END DO")
    }
  }

  test("plain IF/FOR (EVALUATE optional), PARALLEL FOR, top-level VALUES") {
    // if_stmt/for_stmt (SQLv1.g.in:949-950): EVALUATE? IF / EVALUATE?
    // PARALLEL? FOR
    val l = YqlScript.lower(
      "FOR $i IN [4, 5] DO BEGIN SELECT $i AS v; END DO")
    assert(l.selects == Seq("SELECT (4) AS v", "SELECT (5) AS v"))
    val l2 = YqlScript.lower(
      "PARALLEL FOR $i IN AsList(1) DO BEGIN SELECT $i AS v; END DO")
    assert(l2.selects == Seq("SELECT (1) AS v"))
    val df = YqlSql.sql(spark,
      """$n = 7;
        |IF $n > 5 DO BEGIN SELECT 'big' AS verdict; END DO
        |ELSE DO BEGIN SELECT 'small' AS verdict; END DO""".stripMargin)
    assert(df.as[String].head() == "big")
    intercept[IllegalArgumentException] {
      YqlScript.lower("PARALLEL SELECT 1 AS a")
    }
    // values_stmt (SQLv1.g.in:586): a bare VALUES statement is a result
    val v = YqlSql.sql(spark, "VALUES (1, 'a'), (2, 'b');")
    assert(v.count() == 2)
  }

  test("EVALUATE IF folds its condition through Catalyst and picks a branch") {
    val df = YqlSql.sql(spark,
      """$n = 7;
        |EVALUATE IF $n > 5 DO BEGIN SELECT 'big' AS verdict; END DO
        |ELSE DO BEGIN SELECT 'small' AS verdict; END DO""".stripMargin)
    assert(df.as[String].head() == "big")
    val df2 = YqlSql.sql(spark,
      """$n = 3;
        |EVALUATE IF $n > 5 DO BEGIN SELECT 'big' AS verdict; END DO
        |ELSE DO BEGIN SELECT 'small' AS verdict; END DO""".stripMargin)
    assert(df2.as[String].head() == "small")
    // false with no ELSE expands to nothing; a NULL condition is false
    val df3 = YqlSql.sql(spark,
      """EVALUATE IF 1 > 2 DO BEGIN SELECT 'x' AS v; END DO;
        |EVALUATE IF NULL DO BEGIN SELECT 'y' AS v; END DO;
        |SELECT 'fallthrough' AS v""".stripMargin)
    assert(df3.as[String].head() == "fallthrough")
  }

  test("EVALUATE FOR drives INSERT loops end-to-end") {
    spark.sql("DROP TABLE IF EXISTS yqls_loop")
    val dir = new java.io.File("/tmp/graft-warehouse/yqls_loop")
    if (dir.exists) { import scala.reflect.io.Directory
      new Directory(dir).deleteRecursively() }
    spark.sql("CREATE TABLE yqls_loop (k BIGINT) USING parquet")
    val df = YqlSql.sql(spark,
      """DEFINE ACTION $put($k) AS
        |  INSERT INTO yqls_loop SELECT CAST($k AS BIGINT) AS k;
        |END DEFINE;
        |EVALUATE FOR $i IN AsList(10, 20, 30) DO $put($i);
        |SELECT CAST(SUM(k) AS BIGINT) AS total FROM yqls_loop""".stripMargin)
    assert(df.as[Long].head() == 60L)
    spark.sql("DROP TABLE IF EXISTS yqls_loop")
  }

  test("INTO RESULT is validated and dropped; INSERT INTO result is untouched") {
    val l = YqlScript.lower("SELECT 1 AS a INTO RESULT my_result")
    assert(l.selects == Seq("SELECT 1 AS a"))
    assert(YqlScript.lower("INSERT INTO result SELECT 1 AS a")
      .inserts == Seq("INSERT INTO result SELECT 1 AS a"))
    intercept[IllegalArgumentException] {
      YqlScript.lower("SELECT 1 INTO RESULT 'not an ident'")
    }
  }

  // ——— COMPACT / ASSUME hint spellings (SQLv1.g.in:510,1061,100,508) ———

  test("GROUP/PARTITION/IN COMPACT hints validate and drop") {
    assert(YqlScript.lowerHints(
      "SELECT k, rank() OVER (PARTITION COMPACT BY k ORDER BY v) FROM t " +
        "WHERE k IN COMPACT (1, 2) GROUP COMPACT BY k") ==
      "SELECT k, rank() OVER (PARTITION BY k ORDER BY v) FROM t " +
        "WHERE k IN (1, 2) GROUP BY k")
  }

  test("COMPACT and ASSUME inside string literals pass through") {
    val s = "SELECT 'GROUP COMPACT BY x', 'ASSUME ORDER BY y' FROM t"
    assert(YqlScript.lowerHints(s) == s)
  }

  test("ASSUME ORDER BY drops through the end of its sort list") {
    assert(YqlScript.lowerHints(
      "SELECT a, b FROM t ASSUME ORDER BY a DESC, f(b, 1) LIMIT 5") ==
      "SELECT a, b FROM t LIMIT 5")
    // at end of text, and inside a subquery (stops at the closing paren)
    assert(YqlScript.lowerHints("SELECT a FROM t ASSUME ORDER BY a") ==
      "SELECT a FROM t ")
    assert(YqlScript.lowerHints(
      "SELECT * FROM (SELECT a FROM t ASSUME ORDER BY a, b) q") ==
      "SELECT * FROM (SELECT a FROM t ) q")
  }

  // ——— table-ref hints (SQLv1.g.in:956-960) ———

  test("WITH SCHEMA projects to declared columns/types; other hints drop") {
    assert(YqlScript.lowerTableHints(
      "SELECT * FROM t WITH SCHEMA (a Int32, b String) WHERE a > 1") ==
      "SELECT * FROM (SELECT CAST(`a` AS INT) AS `a`, " +
        "CAST(`b` AS STRING) AS `b` FROM t) `t` WHERE a > 1")
    // a spelled alias wins over the synthesized one
    assert(YqlScript.lowerTableHints(
      "SELECT * FROM t WITH SCHEMA (a Int64) AS x") ==
      "SELECT * FROM (SELECT CAST(`a` AS BIGINT) AS `a` FROM t) AS x")
    // hint-list form; non-SCHEMA hints validate and drop
    assert(YqlScript.lowerTableHints(
      "SELECT * FROM t WITH (XLOCK, SCHEMA (a Double))") ==
      "SELECT * FROM (SELECT CAST(`a` AS DOUBLE) AS `a` FROM t) `t`")
    assert(YqlScript.lowerTableHints(
      "SELECT * FROM t WITH INFER_SCHEMA WHERE a = 1") ==
      "SELECT * FROM t WHERE a = 1")
    // string literals pass through
    val s = "SELECT 'FROM t WITH SCHEMA (a Int32)' AS lit FROM u"
    assert(YqlScript.lowerTableHints(s) == s)
  }

  test("WITH SCHEMA keeps column pruning at the parquet scan") {
    val dir = "/root/testdata/sf0.001"
    spark.read.parquet(s"$dir/orders.parquet").createOrReplaceTempView("ths_o")
    // the hint's projection collapses into the scan: ReadSchema
    // carries ONLY the declared columns, not the table's full shape
    val df = YqlSql.sql(spark,
      "SELECT count(*) AS n FROM ths_o WITH SCHEMA (o_orderkey Int64, " +
        "o_orderpriority Utf8) WHERE o_orderpriority = '1-URGENT'")
    // execute first: under AQE the top node is an AdaptiveSparkPlanExec
    // whose inner tree only materializes after the frame runs
    assert(df.head.getLong(0) > 0)
    val scans = PlanTest.finalNodes(df).collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.nonEmpty)
    val read = scans.head.requiredSchema.fieldNames.toSet
    assert(read.subsetOf(Set("o_orderkey", "o_orderpriority")),
      s"scan read $read — the SCHEMA hint must prune the scan")
  }

  test("WITH SCHEMA end-to-end: declared order, casts, extra columns drop") {
    Seq((1L, "x", 2.5, true)).toDF("a", "b", "c", "extra")
      .createOrReplaceTempView("ths")
    val df = YqlSql.sql(spark,
      "SELECT * FROM ths WITH SCHEMA (c Int32, a String)")
    assert(df.columns.toSeq == Seq("c", "a"))
    assert(df.schema("c").dataType ==
      org.apache.spark.sql.types.IntegerType)
    val r = df.head
    assert(r.getInt(0) == 2 && r.getString(1) == "1")
  }

  // ——— sampling clauses (SQLv1.g.in:559,561) ———

  test("SAMPLE and TABLESAMPLE clauses lower to Spark TABLESAMPLE") {
    assert(YqlScript.lowerSample(
      "SELECT * FROM t TABLESAMPLE BERNOULLI(30) REPEATABLE(7)") ==
      "SELECT * FROM t TABLESAMPLE (30 PERCENT) REPEATABLE(7)")
    assert(YqlScript.lowerSample("SELECT * FROM t TABLESAMPLE SYSTEM(1.5)") ==
      "SELECT * FROM t TABLESAMPLE (1.5 PERCENT)")
    assert(YqlScript.lowerSample(
      "SELECT * FROM (SELECT a FROM t) q SAMPLE 0.25") ==
      "SELECT * FROM (SELECT a FROM t) q TABLESAMPLE (25 PERCENT)")
    // substituted named fractions arrive parenthesized
    assert(YqlScript.lowerSample("SELECT * FROM t SAMPLE (0.5)") ==
      "SELECT * FROM t TABLESAMPLE (50 PERCENT)")
    // never consumes an enclosing paren
    assert(YqlScript.lowerSample(
      "SELECT * FROM (SELECT * FROM t SAMPLE 0.3) q") ==
      "SELECT * FROM (SELECT * FROM t TABLESAMPLE (30 PERCENT)) q")
    // string literals pass through
    assert(YqlScript.lowerSample("SELECT 'SAMPLE 0.3' AS s FROM t") ==
      "SELECT 'SAMPLE 0.3' AS s FROM t")
    intercept[IllegalArgumentException] {
      YqlScript.lowerSample("SELECT * FROM t SAMPLE 1.5")
    }
  }

  test("sampling end-to-end: fractions land in range, seeds repeat") {
    spark.range(10000).toDF("id").createOrReplaceTempView("ust")
    val r = YqlSql.sql(spark,
      "SELECT " +
        "(SELECT COUNT(*) FROM ust TABLESAMPLE BERNOULLI(20) REPEATABLE(42)) AS a, " +
        "(SELECT COUNT(*) FROM ust TABLESAMPLE BERNOULLI(20) REPEATABLE(42)) AS a2, " +
        "(SELECT COUNT(*) FROM ust SAMPLE 0.2) AS b").head
    assert(r.getLong(0) > 1200 && r.getLong(0) < 2800)
    assert(r.getLong(0) == r.getLong(1)) // REPEATABLE determinism
    assert(r.getLong(2) > 1200 && r.getLong(2) < 2800)
  }

  // ——— MATCH_RECOGNIZE in SQL strings (SQLv1.g.in:550) ———

  test("MATCH_RECOGNIZE string surface: pattern, PREV, measures, skip") {
    Seq(
      (1L, 1L, "click", 1.0), (1L, 2L, "view", 2.0), (1L, 3L, "view", 3.0),
      (1L, 4L, "view", 1.5), (1L, 5L, "click", 9.0), (1L, 6L, "view", 0.5),
      (2L, 7L, "click", 1.0), (2L, 8L, "view", 4.0))
      .toDF("uid", "eid", "etype", "v").createOrReplaceTempView("mre")
    val df = YqlSql.sql(spark,
      """SELECT uid, s_id, u_end, n_up FROM mre MATCH_RECOGNIZE (
        |  PARTITION BY uid
        |  ORDER BY eid
        |  MEASURES FIRST(S.eid) AS s_id, LAST(U.eid) AS u_end,
        |           COUNT(U.*) AS n_up
        |  AFTER MATCH SKIP TO NEXT ROW
        |  PATTERN (S U+)
        |  DEFINE S AS etype = 'click', U AS v > PREV(v)
        |) AS m""".stripMargin)
    val rows = df.orderBy("s_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // uid 1: click@1 then 2.0,3.0 increasing (1.5 breaks) → run 2..3;
    //        click@5 then 0.5 not increasing → no match
    // uid 2: click@7 then 4.0 > 1.0 → run 8..8
    assert(rows.toSeq == Seq((1L, 1L, 3L, 2L), (2L, 7L, 8L, 1L)))
  }

  test("MATCH_RECOGNIZE alternation and {n} quantifiers; undefined vars match") {
    Seq((1L, 1L, "a"), (1L, 2L, "b"), (1L, 3L, "b"), (1L, 4L, "c"))
      .toDF("uid", "eid", "t").createOrReplaceTempView("mra")
    val df = YqlSql.sql(spark,
      """SELECT uid, f, l FROM mra MATCH_RECOGNIZE (
        |  PARTITION BY uid
        |  ORDER BY eid
        |  MEASURES FIRST(X.eid) AS f, LAST(Y.eid) AS l
        |  PATTERN (X B{2} (Y | Z))
        |  DEFINE X AS t = 'a', B AS t = 'b', Y AS t = 'c', Z AS t = 'z'
        |) AS m""".stripMargin)
    val r = df.head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((1L, 1L, 4L)))
  }

  test("MATCH_RECOGNIZE ALL ROWS PER MATCH emits matched rows + final measures") {
    Seq((1L, 1L, "click", 1.0), (1L, 2L, "view", 2.0), (1L, 3L, "view", 3.0),
      (1L, 4L, "view", 0.5))
      .toDF("uid", "eid", "etype", "v").createOrReplaceTempView("mrar")
    val df = YqlSql.sql(spark,
      """SELECT eid, etype, n_up FROM mrar MATCH_RECOGNIZE (
        |  PARTITION BY uid ORDER BY eid
        |  MEASURES COUNT(U.*) AS n_up
        |  ALL ROWS PER MATCH
        |  PATTERN (S U+)
        |  DEFINE S AS etype = 'click', U AS v > PREV(v)
        |) AS m""".stripMargin)
    // one match: rows 1 (S), 2, 3 (U) — each emitted with the FINAL
    // measure (n_up = 2 on every row); row 4 breaks the run
    val rows = df.orderBy("eid").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(rows == Seq((1L, "click", 2L), (2L, "view", 2L), (3L, "view", 2L)))
    // helper columns never leak into the view
    assert(!df.columns.exists(_.startsWith("__mr_")))
  }

  test("MATCH_RECOGNIZE raises on unsupported forms") {
    Seq((1L, 1L, "a")).toDF("uid", "eid", "t").createOrReplaceTempView("mrx")
    intercept[IllegalArgumentException] {
      YqlSql.sql(spark,
        """SELECT * FROM mrx MATCH_RECOGNIZE (
          |  ORDER BY eid DESC
          |  MEASURES FIRST(A.eid) AS f
          |  PATTERN (A) DEFINE A AS t = 'a') m""".stripMargin)
    }
    intercept[IllegalArgumentException] {
      YqlSql.sql(spark,
        """SELECT * FROM mrx MATCH_RECOGNIZE (
          |  ORDER BY eid
          |  MEASURES FIRST(A.eid) AS f
          |  PATTERN (A) DEFINE A AS t = NEXT(t)) m""".stripMargin)
    }
  }

  test("MATCH_RECOGNIZE inside a script composes with bindings and WHERE") {
    Seq((1L, 1L, "click", 1.0), (1L, 2L, "view", 5.0), (3L, 3L, "click", 1.0),
      (3L, 4L, "view", 0.5))
      .toDF("uid", "eid", "etype", "v").createOrReplaceTempView("mrs")
    val df = YqlSql.sql(spark,
      """$min_uid = 0;
        |SELECT uid, n_up FROM mrs MATCH_RECOGNIZE (
        |  PARTITION BY uid ORDER BY eid
        |  MEASURES COUNT(U.*) AS n_up
        |  PATTERN (S U)
        |  DEFINE S AS etype = 'click', U AS v > PREV(v)
        |) WHERE uid > $min_uid""".stripMargin)
    val rows = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows == Seq((1L, 1L)))
  }

  // ——— UNION [ALL] by-name mode (select.cpp:2846-2852) ———

  private def schemaOf(sql: String) =
    spark.sql(sql).schema.fields.toSeq
      .map(f => f.name -> f.dataType)

  test("UNION ALL merges branches by column name; absent columns fill NULL") {
    Seq((1L, "x")).toDF("a", "b").createOrReplaceTempView("ub1")
    Seq((2L, 9L)).toDF("a", "c").createOrReplaceTempView("ub2")
    val out = YqlScript.lowerUnions(
      "SELECT a, b FROM ub1 UNION ALL SELECT a, c FROM ub2",
      positional = false, schemaOf)
    val df = spark.sql(out)
    // common prefix [a], rest alphabetic [b, c]
    assert(df.columns.toSeq == Seq("a", "b", "c"))
    val rows = df.orderBy("a").collect()
    assert(rows(0).getLong(0) == 1L && rows(0).getString(1) == "x" &&
      rows(0).isNullAt(2))
    assert(rows(1).getLong(0) == 2L && rows(1).isNullAt(1) &&
      rows(1).getLong(2) == 9L)
  }

  test("trailing ORDER BY / LIMIT binds to the whole union") {
    Seq(3L, 1L).toDF("a").createOrReplaceTempView("ub3")
    Seq((2L, "z")).toDF("a", "b").createOrReplaceTempView("ub4")
    val out = YqlScript.lowerUnions(
      "SELECT a FROM ub3 UNION ALL SELECT a, b FROM ub4 ORDER BY a LIMIT 2",
      positional = false, schemaOf)
    val rows = spark.sql(out).collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(rows(1).getString(1) == "z")
  }

  test("identical branch shapes pass through untouched") {
    Seq(1L).toDF("a").createOrReplaceTempView("ub5")
    val s = "SELECT a FROM ub5 UNION ALL SELECT a FROM ub5"
    assert(YqlScript.lowerUnions(s, positional = false, schemaOf) == s)
  }

  test("positional mode is a pass-through") {
    val s = "SELECT a FROM x UNION ALL SELECT b FROM y"
    assert(YqlScript.lowerUnions(s, positional = true,
      sql => fail(s"must not analyze: $sql")) == s)
  }

  test("union chains inside derived tables lower recursively") {
    Seq((1L, "x")).toDF("a", "b").createOrReplaceTempView("ub6")
    Seq((2L, 9L)).toDF("a", "c").createOrReplaceTempView("ub7")
    val out = YqlScript.lowerUnions(
      "SELECT count(*) AS n, count(b) AS nb, count(c) AS nc FROM " +
        "(SELECT a, b FROM ub6 UNION ALL SELECT a, c FROM ub7) q",
      positional = false, schemaOf)
    val r = spark.sql(out).head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((2L, 1L, 1L)))
  }

  test("a leading WITH prefix scopes every branch") {
    Seq((1L, "x")).toDF("a", "b").createOrReplaceTempView("ub8")
    val out = YqlScript.lowerUnions(
      "WITH w AS (SELECT a, b FROM ub8) " +
        "SELECT a, b FROM w UNION ALL SELECT a, upper(b) AS c FROM w",
      positional = false, schemaOf)
    val df = spark.sql(out)
    assert(df.columns.toSeq == Seq("a", "b", "c"))
    assert(df.count() == 2L)
  }

  test("bare UNION dedups over the merged columns") {
    Seq(1L, 1L).toDF("a").createOrReplaceTempView("ub9")
    Seq((1L, "x")).toDF("a", "b").createOrReplaceTempView("ub10")
    val out = YqlScript.lowerUnions(
      "SELECT a FROM ub9 UNION SELECT a, b FROM ub10",
      positional = false, schemaOf)
    // (1, NULL) ×2 collapses to one row; (1, 'x') stays distinct
    assert(spark.sql(out).count() == 2L)
  }

  test("heterogeneous types for one name raise, like the reference") {
    Seq(1L).toDF("a").createOrReplaceTempView("ub11")
    Seq("s").toDF("a").createOrReplaceTempView("ub12")
    intercept[IllegalArgumentException] {
      YqlScript.lowerUnions(
        "SELECT a, 1 AS k FROM ub11 UNION ALL SELECT a, 's' AS k2 FROM ub12",
        positional = false, schemaOf)
    }
  }

  test("UNION inside a string literal never rewrites") {
    val s = "SELECT 'a UNION ALL b' AS t FROM x"
    assert(YqlScript.lowerUnions(s, positional = false,
      sql => fail(s"must not analyze: $sql")) == s)
  }

  test("by-name union end-to-end through YqlSql.sql, and the pragma flips it") {
    Seq((1L, "x")).toDF("a", "b").createOrReplaceTempView("ub13")
    Seq((2L, "y")).toDF("a", "c").createOrReplaceTempView("ub14")
    val byName = YqlSql.sql(spark,
      "SELECT a, b FROM ub13 UNION ALL SELECT a, c FROM ub14 ORDER BY a")
    assert(byName.columns.toSeq == Seq("a", "b", "c"))
    assert(byName.count() == 2L)
    val positional = YqlSql.sql(spark,
      """PRAGMA PositionalUnionAll;
        |SELECT a, b FROM ub13 UNION ALL SELECT a, c FROM ub14
        |ORDER BY a""".stripMargin)
    assert(positional.columns.toSeq == Seq("a", "b"))
    assert(positional.count() == 2L)
  }

  // ——— semantic pragmas raise; operational pragmas stay recorded ———

  test("result-affecting PRAGMAs raise naming the unimplemented mode; " +
      "ANSI-mode pragmas matching the engine's semantics accept") {
    // (DistinctOverWindow is IMPLEMENTED — gated at the lowering, its
    // own test covers both modes)
    for (pr <- Seq("DisableSimpleColumns",
        "DisableAnsiInForEmptyOrNullableItemsCollections",
        "DisableAnsiRankForNullableKeys",
        "CoalesceJoinKeysOnQualifiedAll")) {
      val e = intercept[IllegalArgumentException] {
        YqlScript.lower(s"PRAGMA $pr;\nSELECT 1 AS a")
      }
      assert(e.getMessage.contains(pr) &&
        e.getMessage.contains("not implement"), s"$pr: ${e.getMessage}")
    }
    // case-insensitive raise
    intercept[IllegalArgumentException] {
      YqlScript.lower("PRAGMA disablesimplecolumns;\nSELECT 1 AS a")
    }
    // ANSI-mode pragmas request what this engine always runs (standard
    // IN-with-NULLs, null-peer rank, RANGE implicit frame, preserved
    // column order, SimpleColumns naming) — accepted AND recorded
    val ansi = YqlScript.lower(
      Seq("AnsiInForEmptyOrNullableItemsCollections",
        "AnsiRankForNullableKeys", "AnsiCurrentRow", "OrderedColumns",
        "SimpleColumns").map(p => s"PRAGMA $p;").mkString("\n") +
        "\nSELECT 1 AS a")
    assert(ansi.pragmas.length == 5)
    // operational pragmas keep accept-and-record
    val ok = YqlScript.lower(
      "PRAGMA yt.Pool = 'research';\nPRAGMA warning('disable', '1108');\n" +
        "SELECT 1 AS a")
    assert(ok.pragmas.length == 2)
  }

  // ——— GROUP BY HOP(...) string surface ———

  test("GROUP BY HOP lowers to a sliding window group; HOP_START/HOP_END " +
      "become the window bounds") {
    Seq(("u1", java.sql.Timestamp.valueOf("2024-01-01 01:10:00"), 2.0),
        ("u1", java.sql.Timestamp.valueOf("2024-01-01 02:50:00"), 3.0),
        ("u2", java.sql.Timestamp.valueOf("2024-01-01 07:00:00"), 5.0))
      .toDF("user_id", "ts", "value").createOrReplaceTempView("hop_ev")
    val df = YqlSql.sql(spark,
      """SELECT user_id, HOP_START() AS hs, HOP_END() AS he,
        |  COUNT(*) AS cnt, SUM(value) AS sv
        |FROM hop_ev
        |GROUP BY HOP(ts, 'PT3H', 'PT6H', 'PT1H'), user_id""".stripMargin)
    val rows = df.collect()
    // every event lands in interval/hop = 2 windows
    assert(rows.map(_.getLong(3)).sum == 6L)
    // u1's two events share the 00:00-06:00 window
    val shared = rows.filter(r => r.getString(0) == "u1" &&
      r.getTimestamp(1) == java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))
    assert(shared.length == 1 && shared.head.getLong(3) == 2L &&
      shared.head.getDouble(4) == 5.0)
    // window bounds are hop-aligned and interval long
    rows.foreach { r =>
      assert(r.getTimestamp(2).getTime - r.getTimestamp(1).getTime ==
        6L * 3600 * 1000)
      assert(r.getTimestamp(1).getTime % (3L * 3600 * 1000) == 0)
    }
  }

  test("HOP raises on malformed specs like the reference") {
    def bad(sql: String): String =
      intercept[IllegalArgumentException] { YqlScript.lowerHop(sql) }
        .getMessage
    assert(bad("SELECT 1 FROM t GROUP BY HOP(ts, 'PT1M', 'nonsense', 'PT1M'), k")
      .contains("ISO 8601"))
    assert(bad("SELECT 1 FROM t GROUP BY HOP(ts, 'P1DT', 'PT1M', 'PT1M'), k")
      .contains("designator 'T' shall be absent"))
    assert(bad("SELECT 1 FROM t GROUP BY HOP(ts, 'PT1M', 'PT10M'), k")
      .contains("HOP takes"))
    assert(bad("SELECT HOP(ts, 'PT1M', 'PT10M', 'PT1M') FROM t")
      .contains("only valid"))
    assert(bad("SELECT 1 FROM t GROUP BY HOP(ts, 'PT0S', 'PT10M', 'PT1M'), k")
      .contains("positive"))
    assert(bad("SELECT 1 FROM t GROUP BY HOP(ts, some_col, 'PT10M', 'PT1M'), k")
      .contains("constant interval"))
    assert(bad("SELECT 1 FROM t " +
      "GROUP BY HOP(ts,'PT1M','PT2M','PT1M'), HOP(ts,'PT1M','PT2M','PT1M')")
      .contains("Duplicate hopping window"))
    // a string literal containing HOP( is not a spec
    assert(YqlScript.lowerHop("SELECT 'HOP(' AS s FROM t") ==
      "SELECT 'HOP(' AS s FROM t")
  }

  // ——— Ensure / EnsureType / Random family (builtin.cpp:3005-3007,
  // 3155-3157) ———

  test("Ensure passes values through and fails the query on violation") {
    Seq(1L, 2L, 3L).toDF("v").createOrReplaceTempView("ens_t")
    val ok = YqlSql.sql(spark,
      "SELECT Ensure(v, v > 0, 'must be positive') AS v FROM ens_t")
    assert(ok.as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
    val e = intercept[Exception] {
      YqlSql.sql(spark,
        "SELECT Ensure(v, v > 2, 'too small') AS v FROM ens_t").collect()
    }
    assert(e.getMessage.contains("too small"), e.getMessage)
    // default message
    val e2 = intercept[Exception] {
      YqlSql.sql(spark, "SELECT Ensure(v, v > 2) AS v FROM ens_t").collect()
    }
    assert(e2.getMessage.contains("condition violated"), e2.getMessage)
    // arity raises
    intercept[Exception] {
      YqlSql.sql(spark, "SELECT Ensure(v) AS v FROM ens_t")
    }
  }

  test("EnsureType asserts the exact type at analysis; " +
      "EnsureConvertibleTo the implicit-cast rule") {
    Seq(1L).toDF("v").createOrReplaceTempView("ens_ty")
    assert(YqlSql.sql(spark,
      "SELECT EnsureType(v, 'Int64') AS v FROM ens_ty")
      .as[Long].head() == 1L)
    // composites parse
    assert(YqlSql.sql(spark,
      "SELECT EnsureType(ListFromRange(1, 3), 'List<Int32>') AS l " +
        "FROM ens_ty").count() == 1L)
    val e = intercept[Exception] {
      YqlSql.sql(spark,
        "SELECT EnsureType(v, 'Utf8', 'wrong type') AS v FROM ens_ty")
        .collect()
    }
    assert(e.getMessage.contains("wrong type"), e.getMessage)
    // Int64 converts to Double implicitly; Utf8 does not convert to a
    // list
    assert(YqlSql.sql(spark,
      "SELECT EnsureConvertibleTo(v, 'Double') AS v FROM ens_ty")
      .as[Long].head() == 1L)
    intercept[Exception] {
      YqlSql.sql(spark,
        "SELECT EnsureConvertibleTo('x', 'List<Int64>') AS v FROM ens_ty")
        .collect()
    }
    // unknown type text raises
    intercept[Exception] {
      YqlSql.sql(spark,
        "SELECT EnsureType(v, 'Whatever64') AS v FROM ens_ty").collect()
    }
  }

  test("Random/RandomNumber/RandomUuid: per-row nondeterministic values " +
      "in range; the dependency argument is required") {
    spark.range(200).createOrReplaceTempView("rnd_t")
    val rows = YqlSql.sql(spark,
      """SELECT Random(id) AS r, RandomNumber(id) AS n, RandomUuid(id) AS u
        |FROM rnd_t""".stripMargin).collect()
    assert(rows.length == 200)
    assert(rows.forall(r => r.getDouble(0) >= 0.0 && r.getDouble(0) < 1.0))
    // fresh value per row (collision over 200 draws ~ impossible)
    assert(rows.map(_.getDouble(0)).distinct.length > 190)
    assert(rows.map(_.getLong(1)).distinct.length > 190)
    // RandomNumber spans the full 64-bit range: some draws land
    // negative as raw-bits longs (P(all 200 positive) = 2^-200)
    assert(rows.exists(_.getLong(1) < 0) && rows.exists(_.getLong(1) > 0))
    val uuidRe = "[0-9a-f]{8}-[0-9a-f]{4}-4[0-9a-f]{3}-[0-9a-f]{4}-[0-9a-f]{12}"
    assert(rows.forall(_.getString(2).matches(uuidRe)))
    intercept[Exception] {
      YqlSql.sql(spark, "SELECT Random() AS r FROM rnd_t")
    }
  }

  // ——— DISTINCT window aggregates (PRAGMA DistinctOverWindow) ———

  test("agg(DISTINCT) OVER raises without PRAGMA DistinctOverWindow, " +
      "and lowers onto collect_set with it") {
    Seq((1L, 2L, "a"), (2L, 2L, "a"), (3L, 2L, "b"), (4L, 5L, "b"))
      .toDF("id", "v", "p").createOrReplaceTempView("dw_t")
    val e = intercept[IllegalArgumentException] {
      YqlSql.sql(spark,
        "SELECT COUNT(DISTINCT p) OVER (PARTITION BY id % 2) FROM dw_t")
    }
    assert(e.getMessage.contains("not allowed over window"), e.getMessage)
    val df = YqlSql.sql(spark,
      """PRAGMA DistinctOverWindow;
        |SELECT id,
        |  COUNT(DISTINCT p) OVER w AS cd,
        |  SUM(DISTINCT v) OVER w AS sd,
        |  AVG(DISTINCT v) OVER w AS ad,
        |  MAX(DISTINCT p) OVER w AS xd
        |FROM dw_t WINDOW w AS (PARTITION BY 1)""".stripMargin)
    val r = df.orderBy("id").collect()
    assert(r.map(_.getLong(1)).toSeq == Seq(2L, 2L, 2L, 2L)) // {a,b}
    assert(r.map(_.getLong(2)).toSeq == Seq(7L, 7L, 7L, 7L)) // {2,5}
    assert(r.forall(_.getDouble(3) == 3.5))
    assert(r.forall(_.getString(4) == "b"))
    // ordinary DISTINCT aggregates (no OVER) pass through untouched
    assert(YqlScript.lowerDistinctOverWindow(
      "SELECT COUNT(DISTINCT p) FROM t", enabled = false) ==
      "SELECT COUNT(DISTINCT p) FROM t")
    // string literals never rewrite
    val lit = "SELECT 'count(distinct x) over w' AS s FROM t"
    assert(YqlScript.lowerDistinctOverWindow(lit, enabled = false) == lit)
    // multi-argument DISTINCT raises
    intercept[IllegalArgumentException] {
      YqlScript.lowerDistinctOverWindow(
        "SELECT COUNT(DISTINCT a, b) OVER (PARTITION BY k) FROM t",
        enabled = true)
    }
  }

  // ——— GROUP BY SessionWindow(...) string surface ———

  test("GROUP BY SessionWindow lowers to session_window; the alias and " +
      "SessionStart() read the session key") {
    Seq(("u1", java.sql.Timestamp.valueOf("2024-01-01 01:00:00"), 2.0),
        ("u1", java.sql.Timestamp.valueOf("2024-01-01 02:00:00"), 3.0),
        ("u1", java.sql.Timestamp.valueOf("2024-01-01 12:00:00"), 5.0),
        ("u2", java.sql.Timestamp.valueOf("2024-01-01 04:00:00"), 7.0))
      .toDF("user_id", "ts", "value").createOrReplaceTempView("sw_ev")
    val df = YqlSql.sql(spark,
      """SELECT user_id, s_start, SessionStart() AS ss,
        |  COUNT(*) AS cnt, SUM(value) AS sv
        |FROM sw_ev
        |GROUP BY user_id, SessionWindow(ts, 'PT6H') AS s_start""".stripMargin)
    assert(df.columns.toSeq ==
      Seq("user_id", "s_start", "ss", "cnt", "sv"))
    val rows = df.orderBy("user_id", "s_start").collect()
    assert(rows.length == 3) // u1 splits at the 10h gap; u2 one session
    val first = rows.head
    // the session key is the session's minimum ts, repeated by
    // SessionStart()
    assert(first.getTimestamp(1) ==
      java.sql.Timestamp.valueOf("2024-01-01 01:00:00"))
    assert(first.getTimestamp(2) == first.getTimestamp(1))
    assert(first.getLong(3) == 2L && first.getDouble(4) == 5.0)
  }

  test("SessionWindow inside an inline OVER: sessionized partition key") {
    import spark.implicits._
    Seq(("u1", 1L, "2024-01-01 01:00:00"), ("u1", 2L, "2024-01-01 02:00:00"),
      ("u1", 3L, "2024-01-01 20:00:00"), ("u2", 4L, "2024-01-01 03:00:00"))
      .toDF("user_id", "event_id", "tstr")
      .selectExpr("user_id", "event_id", "CAST(tstr AS TIMESTAMP) AS ts")
      .createOrReplaceTempView("swo_t")
    val rows = graft.functions.YqlSql.sql(spark,
      """SELECT user_id, event_id,
        |  count(*) OVER (PARTITION BY user_id,
        |    SessionWindow(ts, 'PT6H')) AS sess_n,
        |  SessionStart() AS ss
        |FROM swo_t""".stripMargin)
      .orderBy("event_id").collect()
    // u1 splits at the 18h gap: events 1,2 share a session (n=2),
    // event 3 alone, u2 alone; SessionStart = session min ts
    assert(rows.map(_.getLong(2)).toSeq == Seq(2L, 2L, 1L, 1L))
    assert(rows(0).getTimestamp(3) == rows(1).getTimestamp(3))
    assert(rows(2).getTimestamp(3).toString.startsWith("2024-01-01 20:00"))
    // raise paths: no PARTITION BY; combined with GROUP BY
    val e = intercept[IllegalArgumentException] {
      YqlScript.lowerSessionWindowOver(
        "SELECT count(*) OVER (ORDER BY SessionWindow(ts, 'PT1H')) FROM t")
    }
    assert(e.getMessage.contains("PARTITION BY"))
    val e2 = intercept[IllegalArgumentException] {
      YqlScript.lowerSessionWindowOver(
        "SELECT count(*) OVER (PARTITION BY SessionWindow(ts, 'PT1H')) " +
          "FROM t GROUP BY k")
    }
    assert(e2.getMessage.contains("GROUP BY"))
  }

  test("SessionWindow raises on malformed specs") {
    def bad(sql: String): String =
      intercept[IllegalArgumentException] {
        YqlScript.lowerSessionWindow(sql) }.getMessage
    assert(bad("SELECT 1 FROM t GROUP BY SessionWindow(ts, 'oops'), k")
      .contains("ISO 8601"))
    assert(bad("SELECT 1 FROM t GROUP BY SessionWindow(ts), k")
      .contains("SessionWindow takes"))
    // the extended 4-argument form is implemented (SessionLambda owns
    // it later in the pipeline): lowerSessionWindow passes it through
    assert(YqlScript.lowerSessionWindow("SELECT 1 FROM t GROUP BY " +
      "SessionWindow(ts, $i, $u, $c), k").contains("SessionWindow"))
    assert(bad("SELECT 1 FROM t GROUP BY SessionWindow(ts, a, b), k")
      .contains("SessionWindow takes"))
    assert(bad("SELECT SessionWindow(ts, 'PT1H') FROM t")
      .contains("only valid"))
    assert(bad("SELECT 1 FROM t GROUP BY SessionWindow(ts, 'PT0S'), k")
      .contains("positive"))
    // a string literal containing SessionWindow( is untouched
    val lit = "SELECT 'SessionWindow(' AS s FROM t"
    assert(YqlScript.lowerSessionWindow(lit) == lit)
  }

  test("FLATTEN COLUMNS expands struct columns; non-struct columns raise") {
    Seq((1L, 2L)).toDF("x", "y").createOrReplaceTempView("fc_t")
    val df = YqlSql.sql(spark,
      """SELECT ks, v FROM (
        |  SELECT named_struct('ks', x) AS a, named_struct('v', y) AS b
        |  FROM fc_t) FLATTEN COLUMNS""".stripMargin)
    assert(df.columns.toSeq == Seq("ks", "v"))
    assert(df.as[(Long, Long)].head() == ((1L, 2L)))
    // aliased source keeps working
    val df2 = YqlSql.sql(spark,
      """SELECT t.ks FROM (
        |  SELECT named_struct('ks', x) AS a FROM fc_t) AS t
        |FLATTEN COLUMNS""".stripMargin)
    assert(df2.as[Long].head() == 1L)
    val e = intercept[IllegalArgumentException] {
      YqlSql.sql(spark, "SELECT * FROM fc_t FLATTEN COLUMNS")
    }
    assert(e.getMessage.contains("structure"), e.getMessage)
    // inside a string literal: untouched
    val lit = "SELECT 'FLATTEN COLUMNS' AS s FROM fc_t"
    assert(YqlSql.sql(spark, lit).as[String].head() == "FLATTEN COLUMNS")
  }

  test("WITH INLINE hints the table side to broadcast; the join plan shows it") {
    import org.apache.spark.sql.functions._
    spark.range(0, 50000).select(col("id").as("k"),
      (col("id") % 97).as("v")).createOrReplaceTempView("inl_big")
    spark.range(0, 40).select(col("id").as("k"),
      (col("id") * 2).as("w")).createOrReplaceTempView("inl_dim")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = YqlSql.sql(spark,
        """SELECT b.k, d.w FROM inl_big AS b
          |JOIN inl_dim WITH INLINE AS d ON b.k = d.k""".stripMargin)
      df.collect()
      val plan = PlanTest.finalNodes(df).map(_.nodeName).mkString(",")
      assert(plan.contains("BroadcastHashJoin"), plan)
      // without the hint (threshold off) the same join sort-merges
      val df2 = YqlSql.sql(spark,
        """SELECT b.k, d.w FROM inl_big AS b
          |JOIN inl_dim AS d ON b.k = d.k""".stripMargin)
      df2.collect()
      val plan2 = PlanTest.finalNodes(df2).map(_.nodeName).mkString(",")
      assert(!plan2.contains("BroadcastHashJoin"), plan2)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("a Spark /*+ hint */ in YQL text reaches Spark; other comments drop") {
    import org.apache.spark.sql.functions._
    spark.range(0, 50000).select(col("id").as("k"),
      (col("id") % 97).as("v")).createOrReplaceTempView("hint_big")
    spark.range(0, 40).select(col("id").as("k"),
      (col("id") * 2).as("w")).createOrReplaceTempView("hint_dim")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = YqlSql.sql(spark,
        """$lo = 0; -- a comment ; it's
          |SELECT /*+ BROADCAST(d) */ b.k, d.w FROM hint_big AS b
          |JOIN /* not a hint */ hint_dim AS d ON b.k = d.k
          |WHERE b.k >= $lo""".stripMargin)
      assert(df.count() == 40)
      val plan = PlanTest.finalNodes(df).map(_.nodeName).mkString(",")
      assert(plan.contains("BroadcastHashJoin"), plan)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  // ——— @anonymous temporary tables (select.md#temporary-tables) ———

  test("@name anonymous tables: created on first INSERT, append on the " +
      "second, readable across COMMIT, dropped when the script ends") {
    Seq((1L, "a"), (2L, "b"), (3L, "a")).toDF("id", "tag")
      .createOrReplaceTempView("anon_src")
    val df = YqlSql.sql(spark,
      """INSERT INTO @stage
        |SELECT id, tag FROM anon_src WHERE tag = 'a';
        |COMMIT;
        |INSERT INTO @stage
        |SELECT id, tag FROM anon_src WHERE tag = 'b';
        |COMMIT;
        |SELECT tag, COUNT(*) AS n FROM @stage GROUP BY tag""".stripMargin)
    assert(df.orderBy("tag").as[(String, Long)].collect().toSeq ==
      Seq(("a", 2L), ("b", 1L)))
    // the anonymous table is gone after the script
    assert(!spark.catalog.listTables().collect()
      .exists(_.name.startsWith("graft_anon_")))
    // two runs get DIFFERENT physical names: no cross-run collision
    val again = YqlSql.sql(spark,
      """INSERT INTO @stage SELECT 9 AS id, 'z' AS tag;
        |SELECT COUNT(*) AS n FROM @stage""".stripMargin)
    assert(again.as[Long].head() == 1L)
  }

  test("@$name resolves the named string; WITH TRUNCATE overwrites") {
    val df = YqlSql.sql(spark,
      """$t = 'scratch';
        |INSERT INTO @$t SELECT 1 AS v;
        |COMMIT;
        |INSERT INTO @$t WITH TRUNCATE SELECT 7 AS v;
        |COMMIT;
        |SELECT v FROM @$t""".stripMargin)
    assert(df.as[Int].collect().toSeq == Seq(7))
    intercept[IllegalArgumentException] {
      YqlScript.lower("INSERT INTO @$nope SELECT 1 AS v;\nSELECT 1 AS a")
    }
  }

  test("FROM ... SELECT ... inverted form runs (select.md#from-select)") {
    Seq((4L, "x")).toDF("k", "v").createOrReplaceTempView("inv_t")
    assert(YqlSql.sql(spark, "FROM inv_t SELECT k, v")
      .as[(Long, String)].head() == ((4L, "x")))
    assert(YqlSql.sql(spark,
      "FROM inv_t AS a JOIN inv_t AS b USING (k) SELECT a.k, b.v")
      .as[(Long, String)].head() == ((4L, "x")))
  }

  test("BITCAST wraps bits like the reference's doc examples; " +
      "IS DISTINCT FROM is native") {
    // expressions.md#bitcast worked examples
    val r = YqlSql.sql(spark,
      """SELECT BITCAST(100000 AS Uint32) AS a,
        |  BITCAST(100000 AS Int16) AS b,
        |  BITCAST(100000 AS Uint16) AS c,
        |  BITCAST(-1 AS Int16) AS d,
        |  BITCAST(-1 AS Uint16) AS e""".stripMargin).head()
    assert(r.getLong(0) == 100000L)
    assert(r.getShort(1) == -31072)
    assert(r.getInt(2) == 34464)
    assert(r.getShort(3) == -1)
    assert(r.getInt(4) == 65535)
    intercept[IllegalArgumentException] {
      YqlScript.lowerBitcast("SELECT BITCAST(1 AS Double) FROM t")
    }
    val lit = "SELECT 'BITCAST(1 AS Int8)' AS s FROM t"
    assert(YqlScript.lowerBitcast(lit) == lit)
    // IS [NOT] DISTINCT FROM: NULLs compare equal (native Spark)
    val d = YqlSql.sql(spark,
      """SELECT CAST(NULL AS INT) IS NOT DISTINCT FROM CAST(NULL AS INT)
        |  AS nn, 1 IS DISTINCT FROM CAST(NULL AS INT) AS vn""".stripMargin)
      .head()
    assert(d.getBoolean(0) && d.getBoolean(1))
  }

  // ——— Re2:: module (curried factories, udf/list/re2.md) ———

  test("Re2:: curried factories: the doc's worked examples, binding and " +
      "inline forms") {
    val df = YqlSql.sql(spark,
      """$value = 'xaaxaaxaa';
        |$match = Re2::Match('[ax]+\\d');
        |$grep = Re2::Grep('a.*');
        |$capture = Re2::Capture('.*(?P<foo>xa?)(a{2,}).*');
        |$replace = Re2::Replace('x(a+)x');
        |$count = Re2::Count('a');
        |SELECT
        |  $match($value) AS m,
        |  $grep($value) AS g,
        |  $capture($value)._1 AS cap1,
        |  $capture($value).foo AS capfoo,
        |  $replace($value, 'b\\1z') AS r,
        |  CAST($count($value) AS BIGINT) AS c,
        |  Re2::Grep('a.*')('xaaxaaxaa') AS inline_g""".stripMargin)
    val r = df.head()
    assert(!r.getBoolean(0))          // match: false
    assert(r.getBoolean(1))           // grep: true
    assert(r.getString(2) == "aa")    // _1 = unnamed group
    assert(r.getString(3) == "x")     // named group foo
    assert(r.getString(4) == "baazaaxaa")
    assert(r.getLong(5) == 6L)
    assert(r.getBoolean(6))
    // Re2::Options (re2_udf.cpp TOptionsSchema): CaseSensitive/DotNl/
    // Literal transform the pattern at fold time; unsupported automaton
    // fields raise when SET
    val ro = YqlSql.sql(spark,
      """$o = Re2::Options(false AS CaseSensitive);
        |$lit = Re2::Options(true AS Literal);
        |$g = Re2::Grep('A.*B', $o);
        |SELECT
        |  $g('xaazb') AS ci_bound,
        |  Re2::Grep('A.*B', $o)('xaazb') AS ci_inline,
        |  Re2::Grep('A.*B')('xaazb') AS cs_default,
        |  Re2::Grep('a.b', $lit)('xa.bz') AS lit_hit""".stripMargin)
    val rr = ro.head()
    assert(rr.getBoolean(0) && rr.getBoolean(1)) // (?i) via options
    assert(!rr.getBoolean(2))                    // default stays sensitive
    assert(rr.getBoolean(3))                     // Literal: '.' not a wildcard
    assert(!YqlSql.sql(spark,
      "SELECT Re2::Grep('a.b', Re2::Options(true AS Literal))('xaXbz') AS g")
      .head().getBoolean(0)) // literal mode must NOT wildcard-match
    assert(YqlSql.sql(spark,
      """SELECT Re2::Match('a.*', Re2::Options(true AS DotNl))('a
        |b') AS m""".stripMargin).head().getBoolean(0)) // (?s)
    // RE2 case folding is Unicode-wide (Utf8 defaults true) — (?iu),
    // not ASCII-only (?i)
    assert(YqlSql.sql(spark,
      "SELECT Re2::Grep('ПРИВЕТ', Re2::Options(false AS CaseSensitive))" +
        "('да привет да') AS g").head().getBoolean(0))
    // NULL = unset optional keeps the field default (CaseSensitive
    // defaults TRUE, re2_udf.cpp:34) — it does NOT mean false
    assert(!YqlSql.sql(spark,
      "SELECT Re2::Grep('A.B', Re2::Options(NULL AS CaseSensitive))" +
        "('xazbz') AS g").head().getBoolean(0))
    // ignored-by-contract fields accept; automaton fields raise when set
    assert(YqlSql.sql(spark,
      "SELECT Re2::Grep('a', Re2::Options(true AS Utf8))('xa') AS g")
      .head().getBoolean(0))
    val e = intercept[IllegalArgumentException] {
      YqlSql.sql(spark,
        "SELECT Re2::Grep('a', Re2::Options(true AS PosixSyntax))('xa') AS g")
    }
    assert(e.getMessage.contains("PosixSyntax"), e.getMessage)
    // Hyperscan:: and Pcre:: alias the same surface (udf/list/pcre.md)
    assert(YqlSql.sql(spark,
      "SELECT Hyperscan::Grep('aa')('xaax') AS g").head().getBoolean(0))
    assert(YqlSql.sql(spark,
      "SELECT Pcre::Match('x(a)+x')('xaax') AS m").head().getBoolean(0))
  }

  // ——— Yson:: module (udf/list/yson.md) over the canonical-JSON Any ———

  test("Yson:: module: parse/serialize round trip, typed conversions, " +
      "lookups, node-kind tests") {
    Seq(("{a=1;b=[2;3];c=\"x\"}", "[1;2.5;#]"))
      .toDF("y", "l").createOrReplaceTempView("ys_t")
    val df = YqlSql.sql(spark,
      """$a = Yson::Parse(y);
        |$lst = Yson::Parse(l);
        |SELECT
        |  Yson::ConvertToInt64(Yson::Lookup($a, 'a')) AS ai,
        |  Yson::LookupInt64($a, 'a') AS li,
        |  Yson::LookupString($a, 'c') AS lc,
        |  Yson::GetLength($a) AS n,
        |  Yson::GetLength($lst) AS nl,
        |  Yson::IsDict($a) AS isd,
        |  Yson::IsList($lst) AS isl,
        |  Yson::IsInt64(Yson::Lookup($a, 'a')) AS isi,
        |  Yson::IsString(Yson::Lookup($a, 'c')) AS iss,
        |  Yson::IsDouble(Yson::YPath($lst, '/1')) AS isdbl,
        |  Yson::Contains($a, 'b') AS hasb,
        |  Yson::Contains($a, 'z') AS hasz,
        |  Yson::Equals(Yson::Parse('[1;2]'), Yson::Parse('[1; 2]')) AS eq,
        |  Yson::Serialize(Yson::Lookup($a, 'b')) AS ser,
        |  Yson::ConvertToDouble(Yson::YPath($lst, '/1')) AS d1
        |FROM ys_t""".stripMargin)
    val r = df.head()
    assert(r.getLong(0) == 1L && r.getLong(1) == 1L)
    assert(r.getString(2) == "x")
    assert(r.getInt(3) == 3 && r.getInt(4) == 3)
    assert(r.getBoolean(5) && r.getBoolean(6) && r.getBoolean(7) &&
      r.getBoolean(8) && r.getBoolean(9))
    assert(r.getBoolean(10) && !r.getBoolean(11))
    assert(r.getBoolean(12))
    assert(r.getString(13) == "[2;3;]") // YT text format: trailing separators
    assert(r.getDouble(14) == 2.5)
    // strict ConvertTo raises on a non-convertible root
    intercept[Exception] {
      YqlSql.sql(spark,
        "SELECT Yson::ConvertToInt64(Yson::Parse('\"abc\"')) AS v")
        .collect()
    }
  }

  test("Yson::Options: lenient NULLs, AutoConvert coercions, strict " +
      "raise, uint64 wrap (yson2_udf.cpp TOptions + dom/convert.h)") {
    val r = YqlSql.sql(spark,
      """$lax = Yson::Options(false AS Strict);
        |$ac = Yson::Options(true AS AutoConvert);
        |$strict = Yson::Options(false AS AutoConvert, true AS Strict);
        |SELECT
        |  Yson::ConvertToInt64('"7"', $lax) AS l_str,
        |  Yson::ConvertToInt64('true', $lax) AS l_bool,
        |  Yson::ConvertToInt64('"7"', $ac) AS a_str,
        |  Yson::ConvertToUint64('18446744073709551615', $lax) AS u_max,
        |  Yson::ConvertToInt64('18446744073709551615', $ac) AS i_wrap,
        |  Yson::ConvertToDouble('5', $lax) AS d_int,
        |  Yson::ConvertToString('5', $ac) AS s_num,
        |  Yson::ConvertToString('[1]', $ac) AS s_list,
        |  Yson::ConvertToBool('"true"', $lax) AS b_txt,
        |  Yson::ConvertToInt64('5', $strict) AS ok_strict""".stripMargin)
      .head()
    assert(r.isNullAt(0) && r.isNullAt(1))
    assert(r.getLong(2) == 7L)
    assert(r.getLong(3) == -1L) // ui64 max in the signed carrier
    assert(r.getLong(4) == -1L) // AutoConvert wrap-through
    assert(r.getDouble(5) == 5.0)
    assert(r.getString(6) == "5" && r.getString(7) == "")
    assert(r.getBoolean(8))
    assert(r.getLong(9) == 5L)
    // Strict=true still fails the query on a real mismatch
    intercept[Exception] {
      YqlSql.sql(spark,
        """$strict = Yson::Options(true AS Strict);
          |SELECT Yson::ConvertToInt64('"abc"', $strict) AS v""".stripMargin)
        .collect()
    }
    // strict list conversion raises on a NON-LIST input (lenient
    // yields empty — ConvertToListImpl yson2_udf.cpp:244-249)
    intercept[Exception] {
      YqlSql.sql(spark,
        """$strict = Yson::Options(true AS Strict);
          |SELECT Yson::ConvertToInt64List('"x"', $strict) AS v""".stripMargin)
        .collect()
    }
    // strict mode errors on UNPARSEABLE input too (dom/convert.h:
    // "an attempt to parse a string that is not Yson/Json" is an
    // error, not NULL)
    intercept[Exception] {
      YqlSql.sql(spark,
        """$strict = Yson::Options(true AS Strict);
          |SELECT Yson::ConvertToInt64('{not yson', $strict) AS v""".stripMargin)
        .collect()
    }
    intercept[Exception] {
      YqlSql.sql(spark,
        """$strict = Yson::Options(true AS Strict);
          |SELECT Yson::ConvertToInt64List('[1,', $strict) AS v""".stripMargin)
        .collect()
    }
    // ...but lenient still maps unparseable input to NULL
    assert(YqlSql.sql(spark,
      """$lax = Yson::Options(false AS Strict);
        |SELECT Yson::ConvertToInt64('{not yson', $lax) AS v""".stripMargin)
      .head().isNullAt(0))
    // positional spelling: (AutoConvert, Strict)
    val p = YqlSql.sql(spark,
      "SELECT Yson::ConvertToInt64('\"9\"', Yson::Options(true, false)) AS v")
      .head()
    assert(p.getLong(0) == 9L)
    // dict modes: lenient drops failed values, auto coerces them
    val d = YqlSql.sql(spark,
      """$lax = Yson::Options(false AS Strict);
        |$ac = Yson::Options(true AS AutoConvert);
        |SELECT
        |  Yson::ConvertToInt64Dict('{"a":1,"b":"x"}', $lax) AS dl,
        |  Yson::ConvertToInt64Dict('{"a":1,"b":"x"}', $ac) AS da""".stripMargin)
      .head()
    assert(d.getMap[String, Long](0) == Map("a" -> 1L))
    assert(d.getMap[String, Long](1) == Map("a" -> 1L, "b" -> 0L))
  }

  test("module breadth: Math constants/rint/fuzzy, Unicode classify, " +
      "String ascii family") {
    val r = YqlSql.sql(spark,
      """SELECT ROUND(Math::Pi(), 6) AS pi, ROUND(Math::E(), 6) AS e,
        |  Math::Eps() < 1e-10 AS eps_small,
        |  Math::Rint(2.5) AS r25, Math::Rint(3.5) AS r35,
        |  Math::Exp2(10.0) AS e2,
        |  Math::FuzzyEquals(0.1 + 0.2, 0.3) AS fz,
        |  Math::FuzzyEquals(0.1, 0.2) AS fz2,
        |  ROUND(Math::Sin(0.0), 6) AS sn,
        |  ROUND(Math::Atan2(1.0, 1.0) * 4, 6) AS at4,
        |  Math::Mod(-5, 3) AS md, Math::Rem(-5, 3) AS rm,
        |  Unicode::ToTitle('hello world') AS tt,
        |  Unicode::IsAlpha('Ünïcødé') AS ua,
        |  Unicode::IsDigit('१२३') AS ud,
        |  String::IsAsciiAlpha('Ünïcødé') AS sa,
        |  String::IsAsciiHex('DEADbeef') AS sh,
        |  String::HexDecode(String::HexEncode('hi')) AS hd""".stripMargin)
      .head()
    assert(r.getDouble(0) == 3.141593 && r.getDouble(1) == 2.718282)
    assert(r.getBoolean(2))
    assert(r.getDouble(3) == 2.0 && r.getDouble(4) == 4.0) // half-even
    assert(r.getDouble(5) == 1024.0)
    assert(r.getBoolean(6) && !r.getBoolean(7))
    assert(r.getDouble(8) == 0.0)
    assert(math.abs(r.getDouble(9) - java.lang.Math.PI) < 1e-5)
    assert(r.getInt(10) == 1 && r.getInt(11) == -2) // divisor/dividend sign
    assert(r.getString(12) == "Hello World")
    assert(r.getBoolean(13) && r.getBoolean(14))
    assert(!r.getBoolean(15) && r.getBoolean(16))
    assert(r.getString(17) == "hi")
  }

  test("List:: builtin breadth: sum/avg/enumerate/indexof/any/all/" +
      "notnull/flatten/skip/take/zip truncation") {
    val r = YqlSql.sql(spark,
      """SELECT
        |  ListSum(AsList(1, 2, 3)) AS s,
        |  ListSum(ListTake(AsList(1), 0)) AS s_empty,
        |  ListAvg(AsList(1, 2, 3, 4)) AS av,
        |  ListHasItems(AsList(1)) AS hi,
        |  ListEnumerate(AsList('a', 'b'))[1]._1 AS en_i,
        |  ListEnumerate(AsList('a', 'b'))[1]._2 AS en_v,
        |  ListIndexOf(AsList(5, 7, 9), 7) AS idx,
        |  ListIndexOf(AsList(5, 7, 9), 8) AS idx_missing,
        |  ListAny(AsList(false, true)) AS anyb,
        |  ListAll(AsList(false, true)) AS allb,
        |  ListNotNull(AsList(1, NULL, 3)) AS nn,
        |  ListFlatten(AsList(AsList(1, 2), AsList(3))) AS fl,
        |  ListSkip(AsList(1, 2, 3, 4), 2) AS sk,
        |  ListTake(AsList(1, 2, 3, 4), 2) AS tk,
        |  ListSortDesc(AsList(2, 3, 1)) AS sd,
        |  ListZip(AsList(1, 2, 3), AsList('a', 'b')) AS z,
        |  ListZipAll(AsList(1, 2, 3), AsList('a', 'b')) AS za,
        |  ListExtract(AsList(AsStruct2(1, 'x'), AsStruct2(2, 'y')), 'b')
        |    AS ex""".stripMargin
        .replace("AsStruct2(1, 'x')", "named_struct('a', 1, 'b', 'x')")
        .replace("AsStruct2(2, 'y')", "named_struct('a', 2, 'b', 'y')"))
      .head()
    assert(r.getInt(0) == 6)
    assert(r.isNullAt(1)) // empty-list sum = empty Optional
    assert(r.getDouble(2) == 2.5)
    assert(r.getBoolean(3))
    assert(r.getLong(4) == 1L && r.getString(5) == "b")
    assert(r.getLong(6) == 1L && r.isNullAt(7))
    assert(r.getBoolean(8) && !r.getBoolean(9))
    assert(r.getSeq[Int](10) == Seq(1, 3))
    assert(r.getSeq[Int](11) == Seq(1, 2, 3))
    assert(r.getSeq[Int](12) == Seq(3, 4))
    assert(r.getSeq[Int](13) == Seq(1, 2))
    assert(r.getSeq[Int](14) == Seq(3, 2, 1))
    // ListZip truncates to the shortest; ListZipAll pads with NULL
    assert(r.getSeq[org.apache.spark.sql.Row](15).length == 2)
    val za = r.getSeq[org.apache.spark.sql.Row](16)
    assert(za.length == 3 && za(2).isNullAt(1))
    assert(r.getSeq[String](17) == Seq("x", "y"))
  }

  test("DictItems/DictHasItems over map columns") {
    val r = YqlSql.sql(spark,
      """SELECT DictItems(map('a', 1, 'b', 2)) AS it,
        |  DictHasItems(map('a', 1)) AS hi""".stripMargin).head()
    val it = r.getSeq[org.apache.spark.sql.Row](0)
    assert(it.map(t => (t.getString(0), t.getInt(1))).toSet ==
      Set(("a", 1), ("b", 2)))
    assert(r.getBoolean(1))
  }

  test("Set* builtins, ToDict (first key wins) and ToSet") {
    val r = YqlSql.sql(spark,
      """SELECT
        |  SetIntersection(AsList(1, 2, 3), AsList(2, 3, 4)) AS si,
        |  SetUnion(AsList(1, 2), AsList(2, 3)) AS su,
        |  SetDifference(AsList(1, 2, 3), AsList(2)) AS sd,
        |  SetSymmetricDifference(AsList(1, 2), AsList(2, 3)) AS ss,
        |  SetIncludes(AsList(1, 2, 3), AsList(2, 3)) AS inc,
        |  SetIncludes(AsList(1, 2), AsList(3)) AS inc2,
        |  SetIsDisjoint(AsList(1, 2), AsList(3, 4)) AS dj,
        |  element_at(ToDict(AsList(
        |    named_struct('_1', 'a', '_2', 1),
        |    named_struct('_1', 'a', '_2', 9),
        |    named_struct('_1', 'b', '_2', 2))), 'a') AS td,
        |  ToSet(AsList(3, 1, 2, 3, 1)) AS ts""".stripMargin).head()
    assert(r.getSeq[Int](0) == Seq(2, 3))
    assert(r.getSeq[Int](1) == Seq(1, 2, 3))
    assert(r.getSeq[Int](2) == Seq(1, 3))
    assert(r.getSeq[Int](3) == Seq(1, 3))
    assert(r.getBoolean(4) && !r.getBoolean(5) && r.getBoolean(6))
    assert(r.getInt(7) == 1) // FIRST key wins
    assert(r.getSeq[Int](8) == Seq(1, 2, 3))
  }

  test("ListTakeWhile/ListSkipWhile with user lambdas") {
    val r = YqlSql.sql(spark,
      """$small = ($x) -> ($x < 3);
        |SELECT
        |  ListTakeWhile(AsList(1, 2, 5, 1), $small) AS tw,
        |  ListSkipWhile(AsList(1, 2, 5, 1), $small) AS sw,
        |  ListTakeWhile(AsList(1, 2), $small) AS tw_all,
        |  ListSkipWhile(AsList(1, 2), $small) AS sw_all""".stripMargin)
      .head()
    assert(r.getSeq[Int](0) == Seq(1, 2))
    assert(r.getSeq[Int](1) == Seq(5, 1))
    assert(r.getSeq[Int](2) == Seq(1, 2))
    assert(r.getSeq[Int](3) == Seq.empty)
  }
}
