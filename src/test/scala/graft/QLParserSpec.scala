package graft

import org.apache.spark.sql.Row
import graft.ql.{QLParser, SelectRows}

/** The real QL grammar (parser.ypp surface): constructs the regex
  * rewriter could not handle — strings containing keywords, nested
  * calls, NOT IN, tuple BETWEEN (lexicographic), multi-range BETWEEN,
  * ARRAY JOIN, CASE, bit operators, item accessors.
  */
class QLParserSpec extends SparkSpec {
  import spark.implicits._

  private lazy val mytable = Seq(
    (1L, 1L, 100L, 86300L, 1L, 9.5),
    (1L, 2L, 101L, 86500L, 1L, 7.5),
    (10L, 10L, 102L, 172900L, 0L, 1.0),
    (10L, 11L, 103L, 173000L, 1L, 3.0)
  ).toDF("user_id", "order_id", "item_id", "timestamp", "is_ok", "price")

  private def run(ql: String) =
    SelectRows(spark, ql, Map("//mytable" -> mytable))

  test("every documented SelectRows example parses without fallback") {
    val docs = Seq(
      "* FROM [//mytable] LIMIT 10",
      "SUM(1) AS s FROM [//mytable] GROUP BY 1",
      "day, MIN(price) AS mn FROM [//mytable] WHERE is_ok = 1 GROUP BY timestamp div 86400 AS day",
      "item_id FROM [//mytable] WHERE (user_id, order_id) IN ((1, 1), (10, 11)) ORDER BY item_id LIMIT 10",
      "item_id FROM [//mytable] WHERE user_id = 10u ORDER BY item_id LIMIT 5",
      "user_id, SUM(price) AS total FROM [//mytable] GROUP BY user_id WITH TOTALS",
      "item_id FROM [//mytable] ORDER BY item_id OFFSET 1 LIMIT 2")
    docs.foreach(q => QLParser.parse(q)) // throws on grammar gaps
  }

  test("parse errors raise QLParseException naming the parser's position") {
    val t = Seq((1L, 2L)).toDF("a", "b")
    Seq(
      "bazzinga mu ha ha ha" -> "trailing input at 12",
      "* from [//t] order by a limit -1" -> "expected integer literal",
      "a from [//t] where (a as x) > 0 and (b as x) > 0" ->
        "alias \"x\" has been already used"
    ).foreach { case (ql, msg) =>
      val e = intercept[Exception](SelectRows(spark, ql, Map("//t" -> t)).collect())
      val parseErr = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .collectFirst { case p: QLParser.QLParseException => p }
      assert(parseErr.exists(_.getMessage.contains(msg)), s"$ql:\n${causeMessages(e)}")
    }
  }

  test("string literals containing keywords and operators stay inert") {
    val got = run(
      "item_id, 'FROM [//x] WHERE , AND' AS tricky FROM [//mytable] " +
        "WHERE 'a=b' != 'c' ORDER BY item_id LIMIT 1").collect()
    assert(got.toSeq == Seq(Row(100L, "FROM [//x] WHERE , AND")))
  }

  test("NOT IN and IS NOT NULL") {
    val got = run(
      "item_id FROM [//mytable] WHERE user_id NOT IN (10, 11) AND price IS NOT NULL " +
        "ORDER BY item_id LIMIT 10").as[Long].collect()
    assert(got.toSeq == Seq(100L, 101L))
  }

  test("tuple BETWEEN expands lexicographically (key prefix range)") {
    val got = run(
      "item_id FROM [//mytable] WHERE (user_id, order_id) BETWEEN (1, 2) AND (10, 10) " +
        "ORDER BY item_id LIMIT 10").as[Long].collect()
    // lexicographic: (1,2), (10,10) included; (1,1) below, (10,11) above
    assert(got.toSeq == Seq(101L, 102L))
  }

  test("multi-range BETWEEN list") {
    val got = run(
      "item_id FROM [//mytable] WHERE order_id BETWEEN (1 AND 1, 10 AND 11) " +
        "ORDER BY item_id LIMIT 10").as[Long].collect()
    assert(got.toSeq == Seq(100L, 102L, 103L))
  }

  test("ARRAY JOIN unnests a list expression") {
    val docs = Seq((1L, Seq("a", "b")), (2L, Seq("c"))).toDF("id", "tags")
    val got = SelectRows(spark,
      "id, tag FROM [//d] ARRAY JOIN tags AS tag ORDER BY id, tag LIMIT 10",
      Map("//d" -> docs)).collect()
    assert(got.toSeq == Seq(Row(1L, "a"), Row(1L, "b"), Row(2L, "c")))
  }

  test("CASE, concat ||, bit operators, item access, nested calls") {
    val got = run(
      "CASE WHEN price > 5 THEN 'hi' ELSE 'lo' END AS bucket, " +
        "'u' || numeric_to_string(user_id) AS tag, " +
        "(user_id & 3) | 4 AS bits, " +
        "make_list(item_id, order_id)[0] AS first_item " +
        "FROM [//mytable] WHERE regex_partial_match('1', numeric_to_string(user_id)) " +
        "ORDER BY first_item LIMIT 2").collect()
    assert(got.toSeq == Seq(
      Row("hi", "u1", 5L, 100L), Row("hi", "u1", 5L, 101L)))
  }

  test("NOT LIKE and ESCAPE") {
    val t = Seq((1L, "a_b"), (2L, "axb")).toDF("id", "s")
    val got = SelectRows(spark,
      "id FROM [//t] WHERE s LIKE 'a!_b' ESCAPE '!' ORDER BY id LIMIT 5",
      Map("//t" -> t)).as[Long].collect()
    assert(got.toSeq == Seq(1L))
    val neg = SelectRows(spark,
      "id FROM [//t] WHERE s NOT LIKE 'a!_b' ESCAPE '!' ORDER BY id LIMIT 5",
      Map("//t" -> t)).as[Long].collect()
    assert(neg.toSeq == Seq(2L))
  }

  test("WITH INDEX and WITH HINT are parsed as hints and dropped") {
    val got = run(
      "item_id FROM [//mytable] WITH INDEX [//mytable_idx] " +
        "WITH HINT {use_lookup=%true; depth={max=3}} " +
        "WHERE user_id = 1 ORDER BY item_id LIMIT 5").as[Long].collect()
    assert(got.toSeq == Seq(100L, 101L))
  }

  test("operator precedence matches the reference chain") {
    // 1 + 2 * 3 < 8 AND NOT FALSE OR FALSE → ((7 < 8) AND true) OR false
    val got = run(
      "SUM(1) AS n FROM [//mytable] WHERE 1 + 2 * 3 < 8 AND NOT FALSE OR FALSE GROUP BY 1")
      .as[Long].collect()
    assert(got.toSeq == Seq(4L))
  }

  test("fuzz: 300 seeded random expressions parse, emit and analyze " +
      "(the ql_fuzz_exprs generator at volume)") {
    import spark.implicits._
    val df = Seq((1L, 2L, Option(3L))).toDF("a", "b", "c")
    // deterministic across runs
    val once = graft.ql.ExprFuzz.exprs(300, seed = 7L).map(_.ql)
    assert(once == graft.ql.ExprFuzz.exprs(300, seed = 7L).map(_.ql))
    once.grouped(50).zipWithIndex.foreach { case (batch, g) =>
      val items = batch.zipWithIndex
        .map { case (ql, i) => s"$ql as x$i" }.mkString(", ")
      val out = graft.ql.SelectRows(spark, s"$items from [//t]",
        Map("//t" -> df),
        graft.ql.SelectRows.Options(useCanonicalNullRelations = true))
      // analysis + one evaluation; values are checked cross-engine by
      // the ql_fuzz_exprs oracle — here the contract is "never throws"
      assert(out.collect().length == 1, s"batch $g")
    }
    // string domain at volume too
    val sdf = Seq(("F", "1-URGENT", Option.empty[String])).toDF("s", "t", "u")
    graft.ql.ExprFuzz.stringExprs(150, seed = 11L).map(_.ql)
      .grouped(50).zipWithIndex.foreach { case (batch, g) =>
        val items = batch.zipWithIndex
          .map { case (ql, i) => s"$ql as x$i" }.mkString(", ")
        val out = graft.ql.SelectRows(spark, s"$items from [//ts]",
          Map("//ts" -> sdf),
          graft.ql.SelectRows.Options(useCanonicalNullRelations = true))
        assert(out.collect().length == 1, s"string batch $g")
      }
  }
}
