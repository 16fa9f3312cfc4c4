package graft

import graft.functions.{PgSql, YqlDml, YqlSql}
import org.apache.spark.sql.DataFrame

/** Comments are whitespace and an escaped quote stays inside its
  * literal in every text frontend. Each statement runs plain, with a
  * comment holding `'` and `;` at every token boundary (block and line
  * forms), and with an escaped-quote literal in place of a plain one;
  * every variant must return the plain statement's rows. */
class CommentEscapeSpec extends SparkSpec {

  import spark.implicits._

  /** `template` marks the literal's place with `{lit}`; it has no
    * whitespace inside its own quotes, so every whitespace run is a
    * token boundary. A leading `--!` marker line stays as it is. */
  private case class Case(name: String, template: String,
      setup: () => Unit = () => (),
      escaped: String = "'it\\'s; FROM -- /* ON x'",
      run: String => DataFrame = YqlSql.sql(spark, _))

  private lazy val tableDir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft_ce").toFile
    Seq("2024-01-01" -> 1L, "2024-01-02" -> 2L).foreach { case (n, k) =>
      Seq((k, s"d$k")).toDF("k", "v").write.parquet(s"$d/$n")
    }
    d.getAbsolutePath
  }

  private val cases = Seq(
    Case("REDUCE",
      """$r = ($k, $vs) -> (AsStruct($k AS key, SUM($vs) AS s));
        |REDUCE ce_red PRESORT created_on ON k USING $r(v)
        |WHERE {lit} <> ''""".stripMargin,
      () => Seq((1L, 1L, 5L), (1L, 2L, 6L), (2L, 3L, 7L))
        .toDF("k", "created_on", "v").createOrReplaceTempView("ce_red")),
    Case("PROCESS",
      """$f = ($r) -> (AsStruct($r.id * 10 AS id10, upper($r.name) AS nm));
        |PROCESS ce_proc USING $f(TableRows()) WHERE {lit} <> '' AND id > 2""".stripMargin,
      () => Seq((1L, "a"), (5L, "b")).toDF("id", "name")
        .createOrReplaceTempView("ce_proc")),
    Case("MATCH_RECOGNIZE",
      """SELECT uid, s_id, u_end FROM ce_mr MATCH_RECOGNIZE (
        |  PARTITION BY uid
        |  ORDER BY eid
        |  MEASURES FIRST(S.eid) AS s_id, LAST(U.eid) AS u_end
        |  PATTERN (S U+)
        |  DEFINE S AS {lit} <> '' AND etype = 'click', U AS v > PREV(v)
        |) AS m""".stripMargin,
      () => Seq((1L, 1L, "click", 1.0), (1L, 2L, "view", 2.0),
        (1L, 3L, "view", 3.0), (2L, 4L, "click", 1.0), (2L, 5L, "view", 0.5))
        .toDF("uid", "eid", "etype", "v").createOrReplaceTempView("ce_mr")),
    Case("SessionWindow",
      """$init = ($row) -> ($row.ts);
        |$update = ($row, $state) -> (AsTuple($row.ts - $state > 5, $row.ts));
        |$calculate = ($row, $state) -> ($state);
        |SELECT k, COUNT(*) AS valid_from, {lit} <> '' AS ok FROM ce_sess
        |GROUP BY k, SessionWindow(ts, $init, $update, $calculate)""".stripMargin,
      () => Seq((1L, 0L), (1L, 3L), (1L, 20L), (2L, 5L)).toDF("k", "ts")
        .createOrReplaceTempView("ce_sess")),
    Case("table path",
      """SELECT k, {lit} <> '' AS ok
        |FROM RANGE('{dir}', '2024-01-02') ORDER BY k""".stripMargin,
      run = t => YqlSql.sql(spark, t.replace("{dir}", tableDir))),
    Case("DML",
      """CREATE TABLE ce_dml (k Int64, v Utf8, PRIMARY KEY (k));
        |UPSERT INTO ce_dml (k, v) VALUES (1, 'a'), (2, {lit});
        |UPSERT INTO ce_dml (k, v) VALUES (2, 'b');
        |SELECT k, v FROM ce_dml""".stripMargin,
      () => YqlDml.dropTableDeep(spark, "ce_dml")),
    Case("??",
      """SELECT b ?? 0 AS y, ({lit} ?? 'z') <> '' AS ok FROM ce_coal""",
      () => Seq(Some(1L), None).toDF("b").createOrReplaceTempView("ce_coal")),
    Case("PG = ANY / BETWEEN SYMMETRIC",
      """--!syntax_pg
        |SELECT x FROM ce_pg
        |WHERE (x = ANY(ARRAY[1, 2]) OR x BETWEEN SYMMETRIC 9 AND 7)
        |  AND {lit} <> ''""".stripMargin,
      () => Seq(1, 3, 8).toDF("x").createOrReplaceTempView("ce_pg"),
      escaped = "E'it\\'s; FROM -- /* ON x'",
      run = PgSql.sql(spark, _)))

  /** `f` applied to every whitespace run after a `--!` marker line. */
  private def atBoundaries(t: String, f: String => String): String = {
    val (marker, body) =
      if (t.startsWith("--!")) t.splitAt(t.indexOf('\n') + 1) else ("", t)
    marker + "\\s+".r.replaceAllIn(body, m =>
      java.util.regex.Matcher.quoteReplacement(f(m.matched)))
  }

  private def rowsOf(c: Case, text: String): Seq[String] = {
    c.setup()
    c.run(text).collect().map(_.toString).sorted.toSeq
  }

  for (c <- cases) test(s"comments and escaped quotes leave ${c.name} unchanged") {
    def lit(t: String, l: String) = t.replace("{lit}", l)
    val plain = rowsOf(c, lit(c.template, "'plain'"))
    assert(plain.nonEmpty)
    val variants = Seq(
      "block comments" -> lit(atBoundaries(c.template,
        _ => " /* it's; /* nested ; */ */ "), "'plain'"),
      "line comments" -> lit(atBoundaries(c.template,
        ws => if (ws.contains('\n')) " -- it's; \n" else ws), "'plain'"),
      "escaped quote" -> lit(c.template, c.escaped))
    for ((what, text) <- variants)
      assert(rowsOf(c, text) == plain, s"$what:\n$text")
  }
}
