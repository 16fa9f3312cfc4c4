package graft

import org.apache.spark.sql.Row
import graft.ql.SelectRows

/** QL string-query surface: the documented SelectRows examples
  * (dyn-query-language.md) run through the transpiler against literal
  * tables with hand-computed expectations.
  */
class SelectRowsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val mytable = Seq(
    (1L, 1L, 100L, 86300L, 1L, 9.5),
    (1L, 2L, 101L, 86500L, 1L, 7.5),
    (10L, 10L, 102L, 172900L, 0L, 1.0),
    (10L, 11L, 103L, 173000L, 1L, 3.0)
  ).toDF("user_id", "order_id", "item_id", "timestamp", "is_ok", "price")

  private def run(ql: String) =
    SelectRows(spark, ql, Map("//mytable" -> mytable))

  test("implicit SELECT, *, LIMIT (docs: '* FROM [//mytable] LIMIT 10')") {
    assert(run("* FROM [//mytable] LIMIT 10").count() == 4)
  }

  test("GROUP BY constant 1 is one global group (docs: 'SUM(1) FROM [t] GROUP BY 1')") {
    val got = run("SUM(1) AS s FROM [//mytable] GROUP BY 1").collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(4L))
  }

  test("GROUP BY expr AS alias referenced from the projection (docs day/price)") {
    val got = run(
      "day, MIN(price) AS mn, MAX(price) AS mx FROM [//mytable] " +
        "WHERE is_ok = 1 GROUP BY timestamp div 86400 AS day")
      .orderBy("day").collect()
    assert(got.toSeq == Seq(Row(0L, 9.5, 9.5), Row(1L, 7.5, 7.5), Row(2L, 3.0, 3.0)))
  }

  test("tuple IN over the key prefix (docs item_id/user_id/order_id)") {
    val got = run(
      "item_id FROM [//mytable] WHERE (user_id, order_id) IN ((1, 1), (1, 2), (10, 10), (10, 11)) " +
        "ORDER BY item_id LIMIT 10")
      .as[Long].collect()
    assert(got.toSeq == Seq(100L, 101L, 102L, 103L))
  }

  test("uint literal suffix and WHERE (dyn-query-language.md literals)") {
    val got = run("item_id FROM [//mytable] WHERE user_id = 10u ORDER BY item_id LIMIT 5")
      .as[Long].collect()
    assert(got.toSeq == Seq(102L, 103L))
  }

  test("JOIN USING + LEFT JOIN bracket-path resolution") {
    val dim = Seq((1L, "alice"), (10L, "bob")).toDF("user_id", "name")
    val got = SelectRows(spark,
      "name, SUM(price) AS total FROM [//mytable] JOIN [//dim/users] USING user_id GROUP BY name",
      Map("//mytable" -> mytable, "//dim/users" -> dim))
      .orderBy("name").collect()
    assert(got.toSeq == Seq(Row("alice", 17.0), Row("bob", 4.0)))
  }

  test("GROUP BY ... WITH TOTALS adds the null-key totals row") {
    val got = run(
      "user_id, SUM(price) AS total FROM [//mytable] GROUP BY user_id WITH TOTALS")
      .orderBy(org.apache.spark.sql.functions.asc_nulls_first("user_id")).collect()
    assert(got.toSeq == Seq(Row(null, 21.0), Row(1L, 17.0), Row(10L, 4.0)))
  }

  test("OFFSET k LIMIT n reorders to SQL form") {
    val got = run("item_id FROM [//mytable] ORDER BY item_id OFFSET 1 LIMIT 2")
      .as[Long].collect()
    assert(got.toSeq == Seq(101L, 102L))
  }

  test("tuple equality in JOIN ON") {
    val dim = Seq((1L, 1L, "first"), (10L, 11L, "last")).toDF("u", "o", "tag")
    val got = SelectRows(spark,
      "tag, item_id FROM [//mytable] JOIN [//dim] ON (user_id, order_id) = (u, o) ORDER BY item_id LIMIT 5",
      Map("//mytable" -> mytable, "//dim" -> dim)).collect()
    assert(got.toSeq == Seq(Row("first", 100L), Row("last", 103L)))
  }

  test("uint64 literal above Long.MaxValue keeps unsigned compare semantics") {
    // 18446744073709551615u = 2^64-1: every unsigned value is < it
    // except itself; the old transpiler stripped the suffix and
    // overflowed. -1L carries the same bits as 2^64-1.
    val t = Seq(0L, 5L, -1L).toDF("x")
    val got = SelectRows(spark,
      "x FROM [//u] WHERE x < 18446744073709551615u ORDER BY x LIMIT 10",
      Map("//u" -> t)).as[Long].collect()
    assert(got.toSeq == Seq(0L, 5L), got.toSeq)
    // literal-first comparison flips through the same routing
    val ge = SelectRows(spark,
      "x FROM [//u] WHERE 18446744073709551614u < x LIMIT 10",
      Map("//u" -> t)).as[Long].collect()
    assert(ge.toSeq == Seq(-1L), ge.toSeq)
  }

  test("QL builtins resolve through the string surface") {
    val t = Seq((1L, """{"k": 7}""", "click"), (2L, """{"k": 9}""", "view"))
      .toDF("id", "props", "ev")
    val got = SelectRows(spark,
      "try_get_int64(props, '/k') AS k, " +
        "transform(ev, ('click', 'view'), ('c', 'v'), '?') AS e, " +
        "farm_hash(ev) IS NOT NULL AS h " +
        "FROM [//e] WHERE try_get_int64(props, '/k') >= 8u",
      Map("//e" -> t)).collect()
    assert(got.toSeq == Seq(Row(9L, "v", true)), got.toSeq)
  }

  test("u64 aggregates and yson_string_to_any resolve through SQL") {
    val t = Seq((1L, -1L, "{a=7}"), (1L, 5L, "{a=8}")).toDF("g", "u", "y")
    val got = SelectRows(spark,
      "u64_to_string(u64_agg_max(u)) AS mx, u64_to_string(u64_sum(u)) AS sm, " +
        "MAX(try_get_int64(yson_string_to_any(y), '/a')) AS a " +
        "FROM [//t] GROUP BY g",
      Map("//t" -> t)).collect()
    assert(got.toSeq == Seq(Row("18446744073709551615", "4", 8L)), got.toSeq)
  }

  test("registering QL transform keeps Spark's array-lambda transform working") {
    graft.functions.QLFunctions.registerAll(spark)
    val got = spark.sql("SELECT transform(array(1, 2, 3), x -> x * 10) AS a")
      .collect()
    assert(got.head.getSeq[Int](0) == Seq(10, 20, 30))
  }

  test("QL registration never shadows Spark builtins session-wide") {
    val df = Seq((1L, "a")).toDF("k", "s")
    // a SelectRows call registers the QL surface...
    SelectRows(spark, "transform(k, (1), ('one'), 'other') AS t, " +
      "if(null, 1, 2) AS i, cardinality(s) AS c, greatest(k) AS g " +
      "FROM [//tmp/shadow] GROUP BY k, s", Map("//tmp/shadow" -> df))
      .collect()
    // ...after which plain spark.sql still resolves the STOCK builtins:
    // transform = array HOF, if = non-null-propagating, cardinality =
    // array size (not HLL), greatest = requires 2+ args
    val r = spark.sql(
      """SELECT transform(array(1, 2), x -> x + 1) AS hof,
                if(NULL, 1, 2) AS spark_if,
                cardinality(array(1, 2, 3)) AS sz""").collect().head
    assert(r.getSeq[Int](0) == Seq(2, 3))
    assert(r.getInt(1) == 2)       // Spark if: null condition → else
    assert(r.getInt(2) == 3)       // Spark cardinality: array size
    intercept[Exception] {         // Spark greatest: 1 arg rejected
      spark.sql("SELECT greatest(1)").collect()
    }
    // while the QL string surface keeps QL semantics for the same names
    val q = SelectRows(spark,
      "if(null, 1, 2) AS i, greatest(k) AS g FROM [//tmp/shadow] GROUP BY k",
      Map("//tmp/shadow" -> df)).collect().head
    assert(q.isNullAt(0))          // QL if: null condition → null
    assert(q.getLong(1) == 1L)     // QL greatest: 1-arg form allowed
  }

  test("registry completeness: regex_replace_first/escape, yson_length, to_any, get_any, localtime floors") {
    val t = Seq((1L, """{"a":[1,2,3],"b":"x"}""", "a.b c"))
      .toDF("k", "any", "s")
    val got = SelectRows(spark,
      "regex_replace_first('a', s, 'X') AS r1, regex_escape(s) AS esc, " +
        "yson_length(try_get_any(any, '/a')) AS alen, " +
        "to_any(k) AS ka, to_any(s) AS sa, " +
        "get_any(any, '/b') AS b FROM [//tmp/fns]",
      Map("//tmp/fns" -> t)).collect().head
    assert(got.getString(0) == "X.b c")
    assert(got.getString(1) == "a\\.b c")
    assert(got.getInt(2) == 3)
    assert(got.getString(3) == "1")
    assert(got.getString(4) == "\"a.b c\"")
    // get_any returns the RAW Any fragment: string leaves keep their
    // quotes (the carrier form to_any produces), unlike get_string
    assert(got.getString(5) == "\"x\"")

    val ts = Seq(Tuple1(java.sql.Timestamp.valueOf("2024-03-15 13:45:10")))
      .toDF("ts")
    val fl = SelectRows(spark,
      "format_timestamp_localtime(timestamp_floor_day_localtime(ts), 'yyyy-MM-dd HH:mm') AS d FROM [//tmp/ts]",
      Map("//tmp/ts" -> ts)).as[String].collect().head
    assert(fl == "2024-03-15 00:00")
  }

  test("ExplainQuery surface: transpiled SQL + formatted physical plan") {
    val t = Seq((1L, 10L), (2L, 20L)).toDF("a", "b")
    val out = SelectRows.explain(spark,
      "a, sum(b) AS s FROM [//tmp/ex] WHERE a > 0 GROUP BY a",
      Map("//tmp/ex" -> t))
    assert(out.contains("-- transpiled SQL --"))
    assert(out.contains("GROUP BY"))
    assert(out.contains("HashAggregate"), out.linesIterator.take(20).mkString("\n"))
  }

  test("placeholder string values with apostrophes survive the QL lexer") {
    val df = Seq(("it's", 1L), ("plain", 2L)).toDF("name", "v")
    val got = SelectRows(spark, "v FROM [//tmp/ph] WHERE name = {n}",
      Map("//tmp/ph" -> df), Map("n" -> "it's")).as[Long].collect()
    assert(got.toSeq == Seq(1L))
  }

  test("Any routing is per table: a typed join column never routes through any_compare") {
    import graft.ql.QLEmitter.TableCols
    val byTable = Map(
      "ta" -> TableCols(all = Set("id", "x"), any = Set("x")),
      "tb" -> TableCols(all = Set("id", "x", "y"), any = Set.empty[String]))
    val sql = SelectRows.transpile(
      "a.id FROM [//ta] AS a JOIN [//tb] AS b ON (a.id) = (b.id) WHERE b.x < 2 AND a.x < to_any('2')",
      byTable)
    // b.x is typed in tb: plain comparison; a.x is Any in ta: any_compare
    assert(!sql.contains("any_compare(to_any(b.x)"), sql)
    assert(sql.contains("any_compare(a.x"), sql)
  }

  test("unqualified ref resolves against its owning table only") {
    import graft.ql.QLEmitter.TableCols
    val byTable = Map(
      "ta" -> TableCols(all = Set("id", "p"), any = Set("p")),
      "tb" -> TableCols(all = Set("id", "q"), any = Set.empty[String]))
    val sql = SelectRows.transpile(
      "id FROM [//ta] AS a JOIN [//tb] AS b ON (a.id) = (b.id) WHERE q < 2 AND p < to_any('1')",
      byTable)
    assert(!sql.contains("any_compare(to_any(q)"), sql) // q only in tb, typed
    assert(sql.contains("any_compare(p"), sql)           // p only in ta, Any
  }

  // ——— WITH INDEX through the string surface (transform.cpp:137) ———

  private def keyedDf(rows: Seq[(Long, String, Long)]) = {
    import graft.types.YtTypes._
    import scala.jdk.CollectionConverters._
    val schema = YtSchema(Seq(
      YtColumn("id", YtInt64, sortOrder = Some("ascending")),
      YtColumn("tag", YtUtf8), YtColumn("v", YtInt64))).toStructType
    spark.createDataFrame(
      rows.map(r => Row(r._1, r._2, r._3)).asJava, schema)
  }

  test("explain prints the SQL that ran: ORDER BY on the key prefix is elided") {
    val k = keyedDf(Seq((1L, "a", 10L), (2L, "b", 20L)))
    val out = SelectRows.explain(spark,
      "id, v FROM [//tmp/k] ORDER BY id LIMIT 1", Map("//tmp/k" -> k))
    val sql = out.substring(0, out.indexOf("-- physical plan --"))
    assert(sql.contains("LIMIT 1"), sql)
    assert(!sql.toUpperCase.contains("ORDER BY"), sql)
  }

  test("WITH INDEX string: results match the full scan and the plan semi-joins") {
    import graft.plans.SecondaryIndex
    val prim = keyedDf(Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "a", 30L),
      (4L, "c", 40L), (5L, "a", 50L)))
    val idx = SecondaryIndex.build(prim, Seq("tag"), Seq("id"))
    val cat = Map("//p" -> prim, "//p_by_tag" -> idx)
    val got = SelectRows(spark,
      "id, v FROM [//p] WITH INDEX [//p_by_tag] WHERE tag = 'a'", cat)
    assert(got.as[(Long, Long)].collect().toSet ==
      Set((1L, 10L), (3L, 30L), (5L, 50L)))
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"), plan.take(800))
  }

  test("WITH INDEX string: partially-pushable WHERE keeps non-index conjuncts") {
    import graft.plans.SecondaryIndex
    val prim = keyedDf(Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 30L)))
    val idx = SecondaryIndex.build(prim, Seq("tag"), Seq("id"))
    val got = SelectRows(spark,
      "id FROM [//p] WITH INDEX [//p_by_tag] WHERE tag = 'a' AND v > 15",
      Map("//p" -> prim, "//p_by_tag" -> idx))
    assert(got.as[Long].collect().toSeq == Seq(2L))
  }

  test("WITH INDEX string over an unfolded index: list_contains becomes " +
      "the index's scalar equality") {
    import graft.plans.SecondaryIndex
    import graft.types.YtTypes._
    import scala.jdk.CollectionConverters._
    val schema = YtSchema(Seq(
      YtColumn("id", YtInt64, sortOrder = Some("ascending")),
      YtColumn("tags", YtList(YtUtf8)))).toStructType
    val prim = spark.createDataFrame(Seq(
      Row(1L, Seq("x", "y")), Row(2L, Seq("y")), Row(3L, Seq("z", "x"))).asJava,
      schema)
    val idx = SecondaryIndex.buildUnfolded(prim, "tags", Seq("id"))
    val got = SelectRows(spark,
      "id FROM [//p] WITH INDEX [//p_tags] WHERE list_contains(tags, 'x')",
      Map("//p" -> prim, "//p_tags" -> idx))
    assert(got.as[Long].collect().toSet == Set(1L, 3L))
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"), plan.take(800))
  }

  test("WITH INDEX string: index absent from catalog degrades to a full scan") {
    val prim = keyedDf(Seq((1L, "a", 10L), (2L, "b", 20L)))
    val got = SelectRows(spark,
      "id FROM [//p] WITH INDEX [//missing] WHERE tag = 'b'",
      Map("//p" -> prim))
    assert(got.as[Long].collect().toSeq == Seq(2L))
  }

  test("WITH INDEX string: conjunct qualified by the primary's alias pushes " +
      "with the qualifier stripped") {
    import graft.plans.SecondaryIndex
    val prim = keyedDf(Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "a", 30L)))
    val idx = SecondaryIndex.build(prim, Seq("tag"), Seq("id"))
    val got = SelectRows(spark,
      "p.id, p.v FROM [//p] AS p WITH INDEX [//p_by_tag] WHERE p.tag = 'a'",
      Map("//p" -> prim, "//p_by_tag" -> idx))
    assert(got.as[(Long, Long)].collect().toSet == Set((1L, 10L), (3L, 30L)))
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"), plan.take(800))
  }

  test("WITH INDEX string: conjunct qualified by a FOREIGN alias is not " +
      "pushed (only join-safe conjuncts reach the index)") {
    import graft.plans.SecondaryIndex
    val prim = keyedDf(Seq((1L, "a", 10L), (2L, "b", 20L)))
    val other = keyedDf(Seq((1L, "a", 1L), (2L, "z", 2L)))
    val idx = SecondaryIndex.build(prim, Seq("tag"), Seq("id"))
    // j.tag references the JOINED table; pushing it onto the index (which
    // only knows the primary's rows) would be wrong — it must stay out
    val got = SelectRows(spark,
      "p.id FROM [//p] AS p WITH INDEX [//p_by_tag] " +
        "JOIN [//j] AS j ON (p.id) = (j.id) WHERE p.tag = 'a' AND j.v = 1",
      Map("//p" -> prim, "//p_by_tag" -> idx, "//j" -> other))
    assert(got.as[Long].collect().toSeq == Seq(1L))
  }

  test("WITH INDEX string: the view swap does not leak past the query") {
    import graft.plans.SecondaryIndex
    val prim = keyedDf(Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "a", 30L)))
    val idx = SecondaryIndex.build(prim, Seq("tag"), Seq("id"))
    val cat = Map("//p" -> prim, "//p_by_tag" -> idx)
    val indexed = SelectRows(spark,
      "id FROM [//p] WITH INDEX [//p_by_tag] WHERE tag = 'a'", cat)
    assert(indexed.as[Long].collect().toSet == Set(1L, 3L))
    // a plain reader of the view name sees the FULL table, not the
    // semi-join-filtered swap
    assert(spark.sql("SELECT count(*) FROM p").as[Long].head() == 3L)
    // and a subsequent hint-free SelectRows over the same catalog too
    val full = SelectRows(spark, "id FROM [//p]", cat)
    assert(full.as[Long].collect().toSet == Set(1L, 2L, 3L))
  }

  test("SelectRows parses the query string exactly once") {
    import graft.ql.QLParser
    val prim = keyedDf(Seq((1L, "a", 10L), (2L, "b", 20L)))
    val before = QLParser.parseCount.get()
    SelectRows(spark, "id, v FROM [//p] WHERE tag = 'a' GROUP BY id, v",
      Map("//p" -> prim),
      SelectRows.Options(allowFullScan = false, allowJoinWithoutIndex = false))
      .collect()
    assert(QLParser.parseCount.get() - before == 1L)
  }

  test("projected null-smallest comparisons are boolean-total, never SQL NULL") {
    val df = Seq[(java.lang.Long, java.lang.Long)]((1L, null), (null, 1L),
      (null, null), (1L, 2L)).toDF("a", "b")
    val got = SelectRows(spark,
      "a < b AS lt, a <= b AS le, a > b AS gt, a >= b AS ge FROM [//tmp/nullcmp]",
      Map("//tmp/nullcmp" -> df))
      .as[(Boolean, Boolean, Boolean, Boolean)].collect().toSeq
    // null is the smallest value; null == null — no NULL results anywhere
    assert(got == Seq(
      (false, false, true, true),   // (1, null)
      (true, true, false, false),   // (null, 1)
      (false, true, false, true),   // (null, null)
      (true, true, false, false)))  // (1, 2)
  }
}
