package graft.tools

import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Seed-sweep harness for the differential fuzz domains: renders every
  * fuzz family at MANY fresh seeds (the shipped `ql_fuzz_*` /
  * `yql_fuzz_*` queries pin one seed each), runs the engine side, and
  * dumps the same outdir layout `tools/check.py` consumes — so one
  * DuckDB pass value-compares hundreds of randomized cases. A
  * divergence here is a real lowering/semantics bug caught before it
  * ships. Usage: runMain graft.tools.FuzzSweep SFDIR OUTDIR SEED_LO SEED_HI
  */
object FuzzSweep {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val seedLo = args.lift(2).map(_.toLong).getOrElse(100L)
    val seedHi = args.lift(3).map(_.toLong).getOrElse(110L)
    // the engine's own session, so the sweep checks the shipped rule set
    val spark = graft.GraftSession.get(
      s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")}]")
    graft.GraftSession.quietLogs(spark, "ERROR")
    new java.io.File(outDir).mkdirs()

    val fw = graft.sources.Tables.load(spark, sfDir, "orders").select(
      col("o_orderkey").as("a"),
      (col("o_custkey") % 7).as("k"),
      (col("o_custkey") % 997).as("v"))
    fw.createOrReplaceTempView("fw")
    val fwCte = """WITH fw AS (SELECT o_orderkey AS a, o_custkey % 7 AS k,
      |  o_custkey % 997 AS v FROM orders)""".stripMargin

    val queries = scala.collection.mutable.LinkedHashMap
      .empty[String, (() => org.apache.spark.sql.DataFrame, String)]

    // QL-surface fixtures (same shapes as the shipped ql_fuzz_* queries)
    val orders = graft.sources.Tables.load(spark, sfDir, "orders")
    val nation = graft.sources.Tables.load(spark, sfDir, "nation")
    val numFix = orders.select(
      col("o_orderkey").as("a"), col("o_custkey").as("b"),
      when(col("o_orderkey") % 7 === 0, lit(null).cast("long"))
        .otherwise(col("o_custkey") % 100).as("c"))
    val numCte = """WITH base AS (SELECT o_orderkey AS a, o_custkey AS b,
      |  CASE WHEN o_orderkey % 7 = 0 THEN NULL
      |       ELSE o_custkey % 100 END AS c FROM orders)""".stripMargin
    val strFix = orders.select(
      col("o_orderkey").as("id"), col("o_orderstatus").as("s"),
      col("o_orderpriority").as("t"),
      when(col("o_orderkey") % 5 === 0, lit(null).cast("string"))
        .otherwise(col("o_orderstatus")).as("u"))
    val strCte = """WITH base AS (SELECT o_orderkey AS id, o_orderstatus AS s,
      |  o_orderpriority AS t,
      |  CASE WHEN o_orderkey % 5 = 0 THEN NULL
      |       ELSE o_orderstatus END AS u FROM orders)""".stripMargin
    val tupFix = orders.select(
      col("o_orderkey").as("id"), col("o_orderkey").as("a"),
      (col("o_custkey") % 23).as("b"))
    val tupCte = """WITH base AS (SELECT o_orderkey AS id, o_orderkey AS a,
      |  o_custkey % 23 AS b FROM orders)""".stripMargin
    val jl = orders.select(col("o_orderkey").as("a"),
      (col("o_custkey") % 25).as("k"))
    val jr = nation.select(col("n_nationkey").as("k"),
      col("n_nationkey").as("n"), col("n_regionkey").as("r"))
    val joinCte =
      """WITH jl AS (SELECT o_orderkey AS a, o_custkey % 25 AS k FROM orders),
        |jr AS (SELECT n_nationkey AS k, n_nationkey AS n,
        |  n_regionkey AS r FROM nation)""".stripMargin
    val canon = graft.ql.SelectRows.Options(useCanonicalNullRelations = true)

    def exprDomain(name: String, cte: String, fix: org.apache.spark.sql.DataFrame,
        idItem: (String, String),
        gen: => Seq[graft.ql.ExprFuzz.FExpr]): Unit = {
      val es = gen
      val qlItems = es.zipWithIndex
        .map { case (e, i) => s"${e.ql} as x$i" }.mkString(", ")
      val duckItems = es.zipWithIndex
        .map { case (e, i) => s"${e.duck} AS x$i" }.mkString(", ")
      queries(name) = (() =>
        graft.ql.SelectRows(spark, s"${idItem._1}, $qlItems from [//tmp/fx]",
          Map("//tmp/fx" -> fix), canon),
        s"$cte\nSELECT ${idItem._2}, $duckItems FROM base")
    }

    for (seed <- seedLo to seedHi) {
      import graft.ql.ExprFuzz
      exprDomain(s"fz_expr_$seed", numCte, numFix, ("a as id", "a AS id"),
        ExprFuzz.exprs(25, seed))
      exprDomain(s"fz_str_$seed", strCte, strFix, ("id", "id"),
        ExprFuzz.stringExprs(20, seed))
      exprDomain(s"fz_tup_$seed", tupCte, tupFix, ("id", "id"),
        ExprFuzz.tupleExprs(16, seed))
      // aggregates group by a % 10
      locally {
        val es = ExprFuzz.aggExprs(12, seed)
        val qlItems = es.zipWithIndex
          .map { case (e, i) => s"${e.ql} as x$i" }.mkString(", ")
        val duckItems = es.zipWithIndex
          .map { case (e, i) => s"${e.duck} AS x$i" }.mkString(", ")
        queries(s"fz_agg_$seed") = (() =>
          graft.ql.SelectRows(spark, s"g, $qlItems from [//tmp/fx] group by a % 10 as g",
            Map("//tmp/fx" -> numFix), canon),
          s"$numCte\nSELECT a % 10 AS g, $duckItems FROM base GROUP BY a % 10")
      }
      locally {
        val cases = ExprFuzz.queryCases(8, seed)
        queries(s"fz_q_$seed") = (() =>
          cases.map { case (ql, _) =>
            graft.ql.SelectRows(spark, ql, Map("//tmp/fq" -> numFix), canon) }
            .reduce(_ unionByName _),
          numCte.replace("base AS", "fq AS") + "\n" +
            cases.map(p => s"(${p._2})").mkString("\nUNION ALL\n"))
      }
      locally {
        val cases = ExprFuzz.joinCases(8, seed)
        queries(s"fz_join_$seed") = (() =>
          cases.map { case (ql, _) =>
            graft.ql.SelectRows(spark, ql,
              Map("//tmp/jl" -> jl, "//tmp/jr" -> jr), canon) }
            .reduce(_ unionByName _),
          joinCte + "\n" + cases.map(_._2).mkString("\nUNION ALL\n"))
      }
      queries(s"fz_win_$seed") = (() => {
        val cols = graft.ql.ExprFuzz.windowCases(10, seed)
          .zipWithIndex.map { case (w, i) => s"$w AS w$i" }.mkString(", ")
        spark.sql(s"SELECT a, $cols FROM fw")
      }, {
        val cols = graft.ql.ExprFuzz.windowCases(10, seed)
          .zipWithIndex.map { case (w, i) => s"$w AS w$i" }.mkString(", ")
        s"$fwCte\nSELECT a, $cols FROM fw"
      })
      queries(s"fz_set_$seed") = (() => {
        graft.ql.ExprFuzz.setOpCases(8, seed).map(spark.sql)
          .reduce(_ unionByName _)
      }, fwCte + "\n" +
        graft.ql.ExprFuzz.setOpCases(8, seed).mkString("\nUNION ALL\n"))
      queries(s"fz_script_$seed") = (() => {
        graft.ql.ExprFuzz.scriptCases(8, seed)
          .map { case (sc, _) => graft.functions.YqlSql.sql(spark, sc) }
          .reduce(_ unionByName _)
      }, fwCte + "\n" +
        graft.ql.ExprFuzz.scriptCases(8, seed).map(_._2).mkString("\nUNION ALL\n"))
      queries(s"fz_dml_$seed") = (() => {
        val cases = graft.ql.ExprFuzz.dmlCases(4, seed,
          prefix = s"fz_dml_${seed}_t")
        cases.foreach { case (_, _, tbl) =>
          graft.functions.YqlDml.dropTableDeep(spark, tbl) }
        cases.map { case (sc, _, _) => graft.functions.YqlSql.sql(spark, sc) }
          .reduce(_ unionByName _)
      }, fwCte + "\n" +
        graft.ql.ExprFuzz.dmlCases(4, seed, prefix = s"fz_dml_${seed}_t")
          .map(_._2).mkString("\nUNION ALL\n"))
      queries(s"fz_mr_$seed") = (() => {
        graft.sources.Tables.load(spark, sfDir, "events")
          .createOrReplaceTempView("events")
        graft.ql.ExprFuzz.matchRecognizeCases(4, seed)
          .map { case (sc, _) => graft.functions.YqlSql.sql(spark, sc) }
          .reduce(_ unionByName _)
      }, graft.ql.ExprFuzz.matchRecognizeCases(4, seed)
        .map(p => s"(${p._2})").mkString("\nUNION ALL\n"))
      queries(s"fz_hopsess_$seed") = (() => {
        graft.sources.Tables.load(spark, sfDir, "events")
          .createOrReplaceTempView("events")
        graft.ql.ExprFuzz.hopSessionCases(5, seed)
          .map { case (sc, _) => graft.functions.YqlSql.sql(spark, sc) }
          .reduce(_ unionByName _)
      }, graft.ql.ExprFuzz.hopSessionCases(5, seed)
        .map(p => s"(${p._2})").mkString("\nUNION ALL\n"))
      queries(s"fz_ysonopt_$seed") = (() => {
        orders.createOrReplaceTempView("orders")
        val items = graft.ql.ExprFuzz.ysonOptItems(12, seed)
        val ql = items.zipWithIndex
          .map { case ((y, _), i) => s"$y AS x$i" }.mkString(", ")
        graft.functions.YqlSql.sql(spark,
          s"SELECT o_orderkey AS id, $ql FROM orders WHERE o_orderkey < 3000")
      }, {
        val items = graft.ql.ExprFuzz.ysonOptItems(12, seed)
        val dk = items.zipWithIndex
          .map { case ((_, d), i) => s"$d AS x$i" }.mkString(", ")
        s"SELECT o_orderkey AS id, $dk FROM orders WHERE o_orderkey < 3000"
      })
      queries(s"fz_pg_$seed") = (() => {
        orders.createOrReplaceTempView("orders")
        val (pg, params, _) = graft.ql.PgFuzz.render(24, seed)
        graft.functions.PgSql.sql(spark, pg, params)
      }, graft.ql.PgFuzz.render(24, seed)._3)
      queries(s"fz_pgdon_$seed") = (() => {
        orders.createOrReplaceTempView("orders")
        val (pg, _) = graft.ql.PgFuzz.renderDistinctOn(seed)
        graft.functions.PgSql.sql(spark, pg)
      }, graft.ql.PgFuzz.renderDistinctOn(seed)._2)
      queries(s"fz_dyn_$seed") = (() =>
        graft.ql.DynFuzz.run(spark, orders, seed),
        graft.ql.DynFuzz.oracleSql(seed))
      queries(s"fz_dynidx_$seed") = (() =>
        graft.ql.DynIndexFuzz.run(spark, orders, seed),
        graft.ql.DynIndexFuzz.oracleSql(seed))
      queries(s"fz_dynq_$seed") = (() =>
        graft.ql.DynQueueFuzz.run(spark,
          graft.sources.Tables.load(spark, sfDir, "events"), seed),
        graft.ql.DynQueueFuzz.oracleSql(seed))
      queries(s"fz_paths_$seed") = (() => {
        graft.queries.Yql.tablePathFixture(spark, sfDir)
        val dir = graft.queries.Yql.tablePathDir(sfDir)
        graft.ql.ExprFuzz.tablePathCases(6, seed,
            graft.queries.Yql.tablePathMonths).zipWithIndex
          .map { case ((from, _), i) =>
            graft.functions.YqlSql.sql(spark,
              s"SELECT CAST($i AS BIGINT) AS case_id, " +
                "CAST(COUNT(o_orderkey) AS BIGINT) AS n, " +
                "CAST(SUM(CAST(floor(o_totalprice) AS BIGINT)) AS BIGINT) " +
                s"AS total FROM ${from.replace("$DIR", dir)}")
          }.reduce(_ unionByName _)
      }, graft.ql.ExprFuzz.tablePathCases(6, seed,
          graft.queries.Yql.tablePathMonths).zipWithIndex
        .map { case ((_, where), i) =>
          s"(SELECT CAST($i AS BIGINT) AS case_id, " +
            "CAST(COUNT(o_orderkey) AS BIGINT) AS n, " +
            "CAST(SUM(CAST(floor(o_totalprice) AS BIGINT)) AS BIGINT) " +
            s"AS total FROM orders WHERE $where)"
        }.mkString("\nUNION ALL\n"))
      queries(s"fz_strfmt_$seed") = (() => {
        orders.createOrReplaceTempView("orders")
        val items = graft.ql.ExprFuzz.strFmtItems(12, seed)
        val ql = items.zipWithIndex
          .map { case ((y, _), i) => s"$y AS x$i" }.mkString(", ")
        graft.functions.YqlSql.sql(spark,
          s"SELECT o_orderkey AS id, $ql FROM orders WHERE o_orderkey < 3000")
      }, {
        val items = graft.ql.ExprFuzz.strFmtItems(12, seed)
        val dk = items.zipWithIndex
          .map { case ((_, d), i) => s"$d AS x$i" }.mkString(", ")
        s"SELECT o_orderkey AS id, $dk FROM orders WHERE o_orderkey < 3000"
      })
    }

    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      queries.map { case (k, (_, sql)) => s"${q(k)}: ${q(sql)}" }
        .mkString("{", ",", "}"))
    Files.writeString(Paths.get(s"$outDir/queries.json"),
      queries.keys.map(q).mkString("[", ",", "]"))
    queries.foreach { case (name, (fn, _)) =>
      try fn().coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[fuzzsweep] $name failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
