package graft

import java.nio.file.Files

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, ProjectExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.DynTable
import graft.sources.Tables

/** Request constants do not mint generated classes: DynTable reads and
  * commits that differ only in key or timestamp constants reuse the
  * classes their first call compiled, while the scan's pushed filters
  * and the literals other functions match on stay as they were.
  */
class ParameterizeLiteralsSpec extends SparkSpec {
  import spark.implicits._

  /** A parquet-backed DynTable log, so reads go through a pruned scan. */
  private lazy val logDir: String = {
    val dir = Files.createTempDirectory("graft-param-lit").toString + "/log"
    (1L to 40L).flatMap(k => (1L to 3L).map(v => (k, k * 10 + v, "upsert", k * 1.5 + v, s"s$k")))
      .toDF("k", "ts", "op", "v", "s").repartition(2).write.parquet(dir)
    dir
  }
  private def log: DataFrame = spark.read.parquet(logDir)

  /** The DynTable cases check the distributed plans, where the rule
    * acts: at the default broadcast threshold this small log is held on
    * the driver and its reads plan no scan. */
  private def distributed[T](body: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try body finally spark.conf.set(key, prev)
  }

  /** Generated classes compiled while `body` runs. */
  private def compiles(body: => Any): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  private def lookup(ks: Long*): DataFrame =
    DynTable.lookup(log, Seq("k"), ks.map(Seq(_)))
  private def rangeAsOf(lo: Long, asOf: Long): DataFrame =
    DynTable.readAsOf(log, Seq("k"), lit(asOf)).where(col("k").between(lo, lo + 4))
  private def commit(k: Long, startTs: Long, commitTs: Long): DataFrame = {
    val staged = Seq((k, "upsert", k * 2.0, "c")).toDF("k", "op", "v", "s")
    DynTable.commitTransaction(log, staged, Seq("k"), lit(startTs), lit(commitTs))
      .where(col("ts") === commitTs)
  }

  test("second lookup, versioned range read and commit of a pair compile no class") {
    distributed {
      val pairs: Seq[(String, () => DataFrame, () => DataFrame)] = Seq(
        ("lookup", () => lookup(3L, 17L), () => lookup(8L, 29L)),
        ("readAsOf range", () => rangeAsOf(5L, 200L), () => rangeAsOf(21L, 333L)),
        ("commitTransaction", () => commit(4L, 500L, 501L), () => commit(33L, 600L, 601L)))
      pairs.foreach { case (what, first, second) =>
        val firstRows = first().collect()
        assert(firstRows.nonEmpty, what)
        var rows: Array[Row] = Array.empty
        val n = compiles { rows = second().collect() }
        assert(rows.nonEmpty, what)
        assert(n == 0, s"$what: the second call compiled $n generated classes")
      }
      assert(lookup(8L, 29L).collect().map(_.getLong(0)).toSet == Set(8L, 29L))
      assert(rangeAsOf(21L, 333L).collect().map(_.getLong(0)).toSet == Set(21L, 22L, 23L, 24L, 25L))
      assert(commit(33L, 600L, 601L).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
        Seq((33L, 601L)))
    }
  }

  test("held: second lookup and versioned range read of a pair compile no class") {
    // the same pairs over the log held on the driver: a read probes the
    // key index, and a filter over its local result binds its constants
    val pairs: Seq[(String, () => DataFrame, () => DataFrame)] = Seq(
      ("lookup", () => lookup(3L, 17L), () => lookup(8L, 29L)),
      ("readAsOf range", () => rangeAsOf(5L, 200L), () => rangeAsOf(21L, 333L)))
    pairs.foreach { case (what, first, second) =>
      assert(first().collect().nonEmpty, what)
      var rows: Array[Row] = Array.empty
      val n = compiles { rows = second().collect() }
      assert(rows.nonEmpty, what)
      assert(n == 0, s"$what: the second call compiled $n generated classes")
    }
    assert(lookup(8L, 29L).collect().map(_.getLong(0)).toSet == Set(8L, 29L))
    assert(rangeAsOf(21L, 333L).collect().map(_.getLong(0)).toSet == Set(21L, 22L, 23L, 24L, 25L))
    assert(commit(33L, 600L, 601L).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((33L, 601L)))
  }

  test("held: consecutive commits written to a 15k-version log compile no class " +
      "after the first") {
    // dyn_rw's log and write: the commit's `where(ts === commitTs)` is
    // pushed onto the held rows and the staged rows
    val base = Files.createTempDirectory("graft-param-commit").toString
    (1L to 15000L).map(i => (i % 1500, i, if (i % 17 == 0) "delete" else "upsert", i * 1.5, s"s${i % 3}"))
      .toDF("k", "ts", "op", "v", "s").coalesce(1).write.parquet(Tables.path(base, "log"))
    val perCommit = (1L to 8L).map { i =>
      val commitTs = 15000L + i
      compiles {
        val staged = Seq((i * 7, "upsert", i * 1.0, "c"), (i * 11 + 3000, "delete", 0.0, "d"))
          .toDF("k", "op", "v", "s")
        DynTable.commitTransaction(Tables.load(spark, base, "log"), staged, Seq("k"),
          lit(commitTs - 1), lit(commitTs)).where(col("ts") === commitTs)
          .coalesce(1).write.mode("append").parquet(Tables.path(base, "log"))
      }
    }
    assert(perCommit.tail.forall(_ == 0), s"compiles per commit: $perCommit")
    val written = spark.read.parquet(Tables.path(base, "log")).where(col("ts") > 15000L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(written == (1L to 8L).flatMap(i =>
      Seq((i * 7, 15000L + i, "upsert"), (i * 11 + 3000, 15000L + i, "delete"))).toSet)
  }

  test("the scan's pushed filters keep the key equality and the range bounds") {
    distributed {
      def pushed(df: DataFrame): String = {
        df.collect()
        PlanTest.finalNodes(df).collect { case s: FileSourceScanExec => s.metadata("PushedFilters") }
          .mkString(" ")
      }
      val point = pushed(lookup(8L))
      assert(point.contains("EqualTo(k,8)"), point)
      val range = pushed(rangeAsOf(21L, 333L))
      Seq("LessThanOrEqual(ts,333)", "GreaterThanOrEqual(k,21)", "LessThanOrEqual(k,25)")
        .foreach(f => assert(range.contains(f), range))
    }
  }

  /** Leaf constants of the final plan's filter conditions and projections. */
  private def constants(df: DataFrame): Seq[Expression] =
    PlanTest.finalNodes(df).flatMap {
      case f: FilterExec => Seq(f.condition)
      case p: ProjectExec => p.projectList
      case _ => Nil
    }.flatMap(_.collect { case e: LeafExpression if e.foldable => e })

  test("rewritten constants print exactly as the literals they replace") {
    // a projection above an exchange keeps its constant columns
    val df = log.where(col("ts") <= 250L && col("v") > 3.5 && col("k").isin(2L, 5L, 7L))
      .repartition(3).select(col("k"), lit(42L).as("c"), lit(0.25).as("d"))
    assert(df.collect().map(_.getLong(0)).toSet == Set(2L, 5L, 7L))
    val params = constants(df).filterNot(_.isInstanceOf[Literal])
    assert(params.map(_.eval()).toSet == Set(250L, 3.5, 2L, 5L, 7L, 42L, 0.25))
    params.foreach { p =>
      val l = Literal(p.eval(), p.dataType)
      assert(p.toString == l.toString && p.sql == l.sql && !p.nullable)
    }
  }

  test("rand(seed), round(x, 2), string, decimal and null literals keep their " +
      "literals and rows") {
    val dir = Files.createTempDirectory("graft-param-lit").toString + "/data"
    (1L to 200L).map(k => (k, k * 0.137, s"s${k % 7}", BigDecimal(k) / 8))
      .toDF("k", "x", "s", "d").write.parquet(dir)
    val data = spark.read.parquet(dir)
    // each filter with the literal that must survive the rewrite
    val cases: Seq[(Column, PartialFunction[Literal, Unit])] = Seq(
      (rand(42) < 0.5, { case Literal(42L, LongType) => }),
      (round(col("x"), 2) > 20.0, { case Literal(2, IntegerType) => }),
      (col("s") === "s3", { case Literal(v, StringType) if v.toString == "s3" => }),
      (col("d") > BigDecimal("12.5"), { case Literal(_, _: DecimalType) => }),
      (col("k").isin(Seq(3L, 9L, null): _*), { case Literal(null, LongType) => }))
    def run(f: Column): DataFrame = data.where(f).groupBy("k").agg(first("s").as("s"))
    val aqe = "spark.sql.adaptive.enabled"
    cases.foreach { case (f, kept) =>
      val df = run(f)
      val rows = df.collect().toSet
      assert(constants(df).exists { case l: Literal => kept.isDefinedAt(l); case _ => false },
        s"$f lost its literal: ${constants(df)}")
      // without AQE the rule does not run: the rows must agree
      spark.conf.set(aqe, "false")
      val plain = try run(f).collect().toSet finally spark.conf.set(aqe, "true")
      assert(rows.nonEmpty && rows == plain, s"$f")
    }
  }
}
