package graft

import graft.functions.{SessionLambda, YqlSql}

/** The extended 4-argument `SessionWindow(order, init, update,
  * calculate)` (docs syntax/group_by.md#session-window;
  * sql/v1/sql_group_by.cpp): state-machine sessionization with user
  * lambdas, plus the `.N` tuple access / positional AsTuple fields the
  * doc example leans on. */
class SessionLambdaSpec extends SparkSpec {

  import spark.implicits._

  private def mkEvents(): Unit =
    Seq(
      // user 1: ts gaps 0,10,30(!),35, value-types
      (1L, 0L, 1.0), (1L, 10L, 2.0), (1L, 40L, 3.0), (1L, 45L, 4.0),
      // user 2: a long drift that only a max-length rule splits
      (2L, 0L, 1.0), (2L, 8L, 1.0), (2L, 16L, 1.0), (2L, 24L, 1.0),
      (2L, 32L, 1.0), (2L, 40L, 1.0))
      .toDF("user", "ts", "value").createOrReplaceTempView("ev")

  test("doc example: timeout + max session length via lambdas") {
    mkEvents()
    // the reference's own group_by.md example: sessions split at
    // timeout OR when the session exceeds $max_len from its start
    val r = YqlSql.sql(spark,
      """$max_len = 20;
        |$timeout = 10;
        |$init = ($row) -> (AsTuple($row.ts, $row.ts));
        |$update = ($row, $state) -> {
        |  $is_end = $row.ts - $state.0 > $max_len
        |    OR $row.ts - $state.1 > $timeout;
        |  $new_state = AsTuple(IF($is_end, $row.ts, $state.0), $row.ts);
        |  RETURN AsTuple($is_end, $new_state);
        |};
        |$calculate = ($row, $state) -> ($row.ts);
        |SELECT user, session_start, SessionStart() AS ss,
        |  COUNT(*) AS cnt, SUM(value) AS sv
        |FROM ev
        |GROUP BY user, SessionWindow(ts, $init, $update, $calculate)
        |  AS session_start""".stripMargin)
      .orderBy("user", "session_start")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))
    // user 1: [0,10], [40,45] (timeout splits at 40)
    // user 2: ticks every 8 < timeout 10 — max_len 20 splits from the
    // session START: 0,8,16 then 24,32,40 (24-0=24>20 → new session)
    assert(r.toSeq == Seq(
      (1L, 0L, 0L, 2L, 3.0), (1L, 40L, 40L, 2L, 7.0),
      (2L, 0L, 0L, 3L, 3.0), (2L, 24L, 24L, 3L, 3.0)))
  }

  test("equal session keys never merge (0,1,0,1 = four sessions)") {
    Seq((1L, 0L), (1L, 1L), (1L, 2L), (1L, 3L))
      .toDF("k", "ts").createOrReplaceTempView("ev4")
    // every row starts a new session; calculate alternates 0,1,0,1
    val r = YqlSql.sql(spark,
      """$init = ($row) -> ($row.ts);
        |$update = ($row, $state) -> (AsTuple(true, $row.ts));
        |$calculate = ($row, $state) -> ($row.ts % 2);
        |SELECT COUNT(*) AS c FROM ev4
        |GROUP BY k, SessionWindow(ts, $init, $update, $calculate)""".stripMargin)
      .collect()
    assert(r.length == 4 && r.forall(_.getLong(0) == 1L))
  }

  test("no other group keys -> single partition, whole-input machine") {
    mkEvents()
    val r = YqlSql.sql(spark,
      """$init = ($row) -> ($row.ts);
        |$update = ($row, $state) -> (AsTuple($row.ts - $state > 7, $row.ts));
        |$calculate = ($row, $state) -> ($state);
        |SELECT COUNT(*) AS c FROM ev
        |GROUP BY SessionWindow(ts, $init, $update, $calculate)""".stripMargin)
      .collect()
    // global ts order (ties gap 0, so tie order cannot matter):
    // 0,0,8,10,16,24,32,40,40,45 — breaks at gap>7: [0,0],[8,10,16],
    // [24],[32],[40,40,45] → 5 sessions over all 10 rows
    assert(r.map(_.getLong(0)).sum == 10L)
    assert(r.length == 5)
  }

  test("malformed lambda arity raises") {
    mkEvents()
    def bad(q: String, frag: String): Unit = {
      val e = intercept[Exception](YqlSql.sql(spark, q).collect())
      assert(e.getMessage.contains(frag), e.getMessage)
    }
    bad("""$i = ($a, $b) -> ($a.ts);
          |$u = ($r, $s) -> (AsTuple(false, $s));
          |$c = ($r, $s) -> ($s);
          |SELECT COUNT(*) FROM ev
          |GROUP BY user, SessionWindow(ts, $i, $u, $c)""".stripMargin,
      "init lambda takes exactly 1")
    bad("""$i = ($r) -> ($r.ts);
          |$u = ($r) -> (AsTuple(false, $r.ts));
          |$c = ($r, $s) -> ($s);
          |SELECT COUNT(*) FROM ev
          |GROUP BY user, SessionWindow(ts, $i, $u, $c)""".stripMargin,
      "update lambda takes exactly 2")
    bad("""$i = ($r) -> ($r.ts);
          |$u = ($r, $s) -> (AsTuple(false, $s));
          |$c = ($r) -> ($r.ts);
          |SELECT COUNT(*) FROM ev
          |GROUP BY user, SessionWindow(ts, $i, $u, $c)""".stripMargin,
      "calculate lambda takes exactly 2")
    // update must return Tuple<Bool, State>
    bad("""$i = ($r) -> ($r.ts);
          |$u = ($r, $s) -> ($r.ts);
          |$c = ($r, $s) -> ($s);
          |SELECT COUNT(*) FROM ev
          |GROUP BY user, SessionWindow(ts, $i, $u, $c)""".stripMargin,
      "must return Tuple<Bool, State>")
    // 3 arguments: neither the 2-arg nor the 4-arg form
    bad("""SELECT COUNT(*) FROM ev
          |GROUP BY user, SessionWindow(ts, 1, 2)""".stripMargin,
      "SessionWindow takes (time_expr, timeout)")
  }

  test("AsTuple fields are positional _1.._n; .N access rewrites") {
    val r = YqlSql.sql(spark,
      "SELECT AsTuple(7, 'x').0 AS a, AsTuple(1, AsTuple(2, 3)).1.1 AS b")
      .head()
    assert(r.getInt(0) == 7 && r.getInt(1) == 3)
    // numeric literals survive the rewrite
    val r2 = YqlSql.sql(spark, "SELECT 1.5 AS a, 0.25e2 AS b").head()
    assert(r2.getDecimal(0).doubleValue() == 1.5 &&
      r2.getDouble(1) == 25.0)
  }

  private def runKw(select: String): Seq[(Long, Long)] = {
    Seq((1L, 0L), (1L, 1L), (2L, 5L)).toDF("k", "ts")
      .createOrReplaceTempView("ev_kw")
    YqlSql.sql(spark,
      s"""$$init = ($$row) -> ($$row.ts);
         |$$update = ($$row, $$state) -> (AsTuple(false, $$row.ts));
         |$$calculate = ($$row, $$state) -> ($$state);
         |$select
         |GROUP BY k, SessionWindow(ts, $$init, $$update, $$calculate)""".stripMargin)
      .orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
  }

  test("SELECT carving: a keyword inside an identifier is not a clause") {
    // valid_from holds FROM: it names a column, not the FROM clause
    assert(runKw("SELECT k, COUNT(*) AS valid_from FROM ev_kw") ==
      Seq((1L, 2L), (2L, 1L)))
  }

  test("SELECT carving: a FROM after an escaped quote stays in the literal") {
    assert(runKw("SELECT k, COUNT(*) AS n, 'it\\'s FROM x' AS lit " +
      "FROM ev_kw") == Seq((1L, 2L), (2L, 1L)))
  }
}
