package graft

import graft.functions.{YqlSql, YqlTablePaths}

/** Table-path functions in FROM (SQLv1.g.in:952; yql_yt_key.cpp
  * MrTableRange/MrFolder discovery): RANGE/EACH/CONCAT/FOLDER/LIKE/
  * REGEXP over a directory of parquet tables, with STRUCTURAL pruning
  * — out-of-range members never enter the plan. */
class TablePathsSpec extends SparkSpec {

  import spark.implicits._

  private lazy val dir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft_tp").toFile
    Seq("2024-01-01" -> 1, "2024-01-02" -> 2, "2024-01-03" -> 3,
      "2024-02-01" -> 4).foreach { case (name, base) =>
      Seq((base.toLong, s"d$base")).toDF("k", "v")
        .write.mode("overwrite").parquet(s"${d.getAbsolutePath}/$name")
    }
    d.getAbsolutePath
  }

  test("RANGE unions name-bounded members; out-of-range never scanned") {
    val df = YqlSql.sql(spark,
      s"SELECT k, v FROM RANGE('$dir', '2024-01-02', '2024-02-01') ORDER BY k")
    assert(df.as[(Long, String)].collect().toSeq ==
      Seq((2L, "d2"), (3L, "d3"), (4L, "d4")))
    // structural pruning: the 2024-01-01 member is absent from the scan
    val files = df.inputFiles.toSeq
    assert(files.nonEmpty)
    assert(!files.exists(_.contains("2024-01-01")),
      s"out-of-range member scanned: $files")
    // and it is ONE scan (a path glob), not an N-way union
    val scans = df.queryExecution.executedPlan.collectLeaves()
    assert(scans.length == 1, s"expected one scan node, got ${scans.length}")
  }

  test("RANGE with one bound / no bounds; empty range is an empty table") {
    assert(YqlSql.sql(spark, s"SELECT k FROM RANGE('$dir', '2024-02-01')")
      .as[Long].collect().toSeq == Seq(4L))
    assert(YqlSql.sql(spark, s"SELECT k FROM RANGE('$dir')")
      .as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L, 4L))
    val empty = YqlSql.sql(spark, s"SELECT k FROM RANGE('$dir', '2030', '2031')")
    assert(empty.isEmpty)
    assert(empty.columns.toSeq == Seq("k")) // schema survives
  }

  test("CONCAT and EACH union the named tables") {
    val df = YqlSql.sql(spark,
      s"""$$paths = ['$dir/2024-01-01', '$dir/2024-02-01'];
         |SELECT
         |  (SELECT CAST(SUM(k) AS BIGINT) FROM CONCAT('$dir/2024-01-01', '$dir/2024-01-02')) AS a,
         |  (SELECT CAST(SUM(k) AS BIGINT) FROM EACH($$paths)) AS b""".stripMargin)
    assert(df.as[(Long, Long)].head() == ((3L, 5L)))
  }

  test("LIKE and REGEXP filter members by name") {
    assert(YqlSql.sql(spark,
      s"SELECT CAST(SUM(k) AS BIGINT) AS s FROM LIKE('$dir', '2024-01-%')")
      .as[Long].head() == 6L)
    assert(YqlSql.sql(spark,
      s"SELECT CAST(SUM(k) AS BIGINT) AS s FROM REGEXP('$dir', '-0[23]$$')")
      .as[Long].head() == 5L)
  }

  test("FOLDER lists the directory as (Path, Type)") {
    val rows = YqlSql.sql(spark,
      s"SELECT Path, Type FROM FOLDER('$dir') ORDER BY Path")
      .as[(String, String)].collect().toSeq
    assert(rows.map(_._2).forall(_ == "table"))
    assert(rows.map(_._1) == Seq("2024-01-01", "2024-01-02", "2024-01-03",
      "2024-02-01").map(n => s"$dir/$n"))
  }

  test("TablePath()/TableName() carry per-row provenance through RANGE") {
    val rows = YqlSql.sql(spark,
      s"""SELECT TableName() AS t, TablePath() AS p, CAST(SUM(k) AS BIGINT) AS s
         |FROM RANGE('$dir', '2024-01-01', '2024-01-02')
         |GROUP BY TableName(), TablePath() ORDER BY t""".stripMargin)
      .as[(String, String, Long)].collect().toSeq
    assert(rows == Seq(
      ("2024-01-01", s"$dir/2024-01-01", 1L),
      ("2024-01-02", s"$dir/2024-01-02", 2L)))
    // without the pseudo-functions the plan stays ONE glob scan;
    // with them it becomes a per-member union (the provenance price)
    val plain = YqlSql.sql(spark,
      s"SELECT k FROM RANGE('$dir', '2024-01-01', '2024-01-02')")
    assert(plain.queryExecution.executedPlan.collectLeaves().length == 1)
    // TableName() over EACH uses the logical (extension-less) name
    val e = YqlSql.sql(spark,
      s"SELECT TableName() AS t FROM EACH(['$dir/2024-02-01']) GROUP BY 1")
      .as[String].head()
    assert(e == "2024-02-01")
  }

  test("filters push down into the glob scan; TableName() fans out per member") {
    val df = YqlSql.sql(spark,
      s"SELECT k FROM RANGE('$dir', '2024-01-01', '2024-01-03') WHERE k >= 2")
    val scan = df.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("GreaterThanOrEqual"),
      s"filter not pushed to the multi-member scan: $scan")
    // provenance forces one scan per member (the literal-per-scan price)
    val prov = YqlSql.sql(spark,
      s"SELECT TableName() AS t, k FROM RANGE('$dir', '2024-01-01', '2024-01-03')")
    assert(prov.queryExecution.executedPlan.collectLeaves().length == 3)
  }

  test("AS_TABLE turns a literal struct list into a derived table") {
    val df = YqlSql.sql(spark,
      """$rows = AsList(
        |  AsStruct(1 AS id, 'a' AS tag),
        |  AsStruct(2 AS id, 'b' AS tag));
        |SELECT t.id, t.tag FROM AS_TABLE($rows) AS t
        |JOIN AS_TABLE([AsStruct(1 AS id)]) AS f ON t.id = f.id""".stripMargin)
    assert(df.as[(Int, String)].collect().toSeq == Seq((1, "a")))
    intercept[IllegalArgumentException] {
      YqlSql.sql(spark, "SELECT * FROM AS_TABLE(AsList())")
    }
    intercept[IllegalArgumentException] {
      YqlSql.sql(spark, "SELECT * FROM AS_TABLE(AsList(1, 2))")
    }
  }

  test("scalar CONCAT/LIKE spellings are untouched; errors are clear") {
    // string concat in a projection is NOT a table function
    assert(YqlSql.sql(spark, "SELECT CONCAT('a', 'b') AS x")
      .as[String].head() == "ab")
    // LIKE as an operator survives
    assert(YqlSql.sql(spark, "SELECT 'abc' LIKE 'a%' AS x").as[Boolean].head())
    intercept[IllegalArgumentException] {
      YqlTablePaths.rewrite(spark, "SELECT * FROM RANGE('/nonexistent_graft_dir')")
    }
    intercept[IllegalArgumentException] {
      YqlTablePaths.rewrite(spark, s"SELECT * FROM CONCAT('$dir/nope')")
    }
    // non-constant args pass through to Spark (table-valued functions,
    // the builtin range(n)) — no rewrite, no error here
    assert(YqlTablePaths.rewrite(spark, "SELECT * FROM EACH(table_names)") ==
      "SELECT * FROM EACH(table_names)")
    assert(YqlTablePaths.rewrite(spark, "SELECT id FROM range(10)") ==
      "SELECT id FROM range(10)")
    assert(YqlSql.sql(spark, "SELECT CAST(COUNT(id) AS BIGINT) AS n FROM range(10)")
      .as[Long].head() == 10L)
    // quoted text never triggers a rewrite
    assert(YqlTablePaths.rewrite(spark, "SELECT 'FROM RANGE(x)' AS s") ==
      "SELECT 'FROM RANGE(x)' AS s")
  }

  test("relation caches invalidate when a cached path is rewritten") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("tcache").toString

    // Tables.load: the file-stamp check must pick up an overwrite
    spark.range(0, 5).toDF("id").write.mode("overwrite")
      .parquet(s"$dir/orders.parquet")
    assert(graft.sources.Tables.load(spark, dir, "orders").count() == 5)
    Thread.sleep(1100) // distinct mtime second even on coarse filesystems
    spark.range(0, 9).toDF("id").write.mode("overwrite")
      .parquet(s"$dir/orders.parquet")
    assert(graft.sources.Tables.load(spark, dir, "orders").count() == 9,
      "Tables.load served a stale file index after an overwrite")

    // table-path view cache: same contract through the SQL lowering
    val tp = s"$dir/members"
    spark.range(0, 3).toDF("v").write.parquet(s"$tp/a")
    def n(): Long = graft.functions.YqlSql.sql(spark,
      s"SELECT CAST(COUNT(*) AS BIGINT) AS n FROM CONCAT('$tp/a')")
      .head().getLong(0)
    assert(n() == 3)
    Thread.sleep(1100)
    spark.range(0, 7).toDF("v").write.mode("overwrite").parquet(s"$tp/a")
    assert(n() == 7, "table-path view served a stale member scan")
  }

  test("table-path views: a same-mtime rewrite of another length re-resolves; " +
      "superseded views are dropped") {
    import java.nio.file.Files
    val tp = Files.createTempDirectory("tstamp").toString
    // single-file members: the one part file Spark writes for n rows
    def parquetOf(n: Int): Array[Byte] = {
      val d = Files.createTempDirectory("tstamp_src").toFile
      spark.range(0, n).toDF("v").coalesce(1).write.mode("overwrite").parquet(d.toString)
      Files.readAllBytes(d.listFiles().find(f =>
        f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get.toPath)
    }
    val a = new java.io.File(tp, "a.parquet")
    val b = new java.io.File(tp, "b.parquet")
    Files.write(a.toPath, parquetOf(2))
    Files.write(b.toPath, parquetOf(1))
    val mtime = 1700000000000L
    Seq(a, b).foreach(_.setLastModified(mtime))
    def n(): Long = YqlSql.sql(spark,
      s"SELECT CAST(COUNT(*) AS BIGINT) AS n FROM RANGE('$tp')").head().getLong(0)
    def views(): Seq[String] = spark.catalog.listTables().collect().toSeq
      .map(_.name).filter(_.startsWith("__g_tbl_"))
      .filter(v => spark.table(v).inputFiles.exists(_.contains(tp)))
    assert(n() == 3)
    val lengths = scala.collection.mutable.Set(a.length)
    (1 to 5).map(_ * 10000).foreach { rows =>
      // rewritten in place under the same mtime: the directory and the
      // member's mtime stay put, only the length moves. A stale view
      // keeps the old length, and its one split then ends before the
      // grown file's row group.
      Files.write(a.toPath, parquetOf(rows))
      a.setLastModified(mtime)
      lengths += a.length
      assert(a.lastModified == mtime)
      assert(n() == rows + 1, s"stale view after rewriting a.parquet with $rows rows")
    }
    assert(lengths.size == 6, s"member lengths must all differ: $lengths")
    assert(views().size == 1, s"superseded views leak: ${views()}")
  }

  test("Tables.load: an append-only relist reuses the schema with no job; " +
      "a rewrite with another schema re-infers") {
    import java.io.File
    import graft.sources.Tables
    val dir = java.nio.file.Files.createTempDirectory("trelist").toString
    val p = Tables.path(dir, "log")
    spark.range(0, 5).selectExpr("id AS k", "id * 2 AS v", "'a' AS s")
      .coalesce(1).write.parquet(p)
    assert(Tables.load(spark, dir, "log").count() == 5)
    // Spark infers a parquet schema from the first data file by path:
    // the appended file goes in under a name that sorts after it
    Thread.sleep(1100) // distinct directory mtime even on coarse filesystems
    val tmp = s"$dir/append.tmp"
    spark.range(5, 8).selectExpr("id AS k", "id * 2 AS v", "'b' AS s")
      .coalesce(1).write.parquet(tmp)
    val part = new File(tmp).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    assert(part.renameTo(new File(p, "zz-append.parquet")))
    var reloaded: org.apache.spark.sql.DataFrame = null
    val jobs = Jobs.count(spark) { reloaded = Tables.load(spark, dir, "log") }
    assert(jobs == 0, s"the append-only reload ran $jobs jobs")
    assert(reloaded.schema == spark.read.parquet(p).schema)
    assert(reloaded.count() == 8)
    // a rewrite changes the first file: its new schema is inferred
    Thread.sleep(1100)
    spark.range(0, 3).selectExpr("CAST(id AS STRING) AS k", "id AS w", "true AS x")
      .coalesce(1).write.mode("overwrite").parquet(p)
    val rewritten = Tables.load(spark, dir, "log")
    assert(rewritten.schema == spark.read.parquet(p).schema)
    assert(rewritten.columns.toSeq == Seq("k", "w", "x") && rewritten.count() == 3)
  }

  test("table-path views: an append to a RANGE member re-resolves with no job") {
    import java.io.File
    import java.nio.file.Files
    val tp = Files.createTempDirectory("tappend").toString
    Seq("a" -> 0L, "b" -> 10L).foreach { case (m, base) =>
      spark.range(base, base + 4).selectExpr("id AS k", "CAST(id AS STRING) AS v")
        .coalesce(1).write.parquet(s"$tp/$m")
    }
    val sql = s"SELECT * FROM RANGE('$tp')"
    assert(YqlSql.sql(spark, sql).count() == 8)
    // the appended file sorts after the first data file of the scan,
    // the one Spark infers the schema from
    Thread.sleep(1100) // distinct directory mtime even on coarse filesystems
    val tmp = Files.createTempDirectory("tappend_src").toString + "/rows"
    spark.range(20, 23).selectExpr("id AS k", "CAST(id AS STRING) AS v")
      .coalesce(1).write.parquet(tmp)
    val part = new File(tmp).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    assert(part.renameTo(new File(s"$tp/b", "zz-append.parquet")))
    var df: org.apache.spark.sql.DataFrame = null
    val jobs = Jobs.count(spark) { df = YqlSql.sql(spark, sql) }
    assert(jobs == 0, s"re-resolving the appended member ran $jobs jobs")
    val fresh = spark.read.parquet(s"$tp/a", s"$tp/b")
    assert(df.schema == fresh.schema)
    assert(df.count() == fresh.count() && fresh.count() == 11)
  }

  test("table-path fixtures are keyed by their source table, not its directory name") {
    import java.nio.file.Files
    import org.apache.spark.sql.functions._
    import graft.sources.Tables
    // two corpora under the same name whose orders differ
    val corpora = Seq(Seq(1L -> "1996-02-03", 2L -> "1996-03-09"),
        Seq(10L -> "1996-02-11", 11L -> "1996-02-12", 12L -> "1996-03-30"))
      .map { rows =>
        val d = Files.createTempDirectory("tfixture").toString + "/sfT"
        rows.toDF("o_orderkey", "day")
          .select(col("o_orderkey"), (col("o_orderkey") * 100 + 0.5).as("o_totalprice"),
            to_date(col("day")).as("o_orderdate"))
          .write.parquet(Tables.path(d, "orders"))
        d
      }
    try corpora.foreach { d =>
      val got = SparkEntry.queries("yql_table_range")(spark, d)
        .selectExpr("n", "total", "CAST(lo_date AS STRING)", "CAST(hi_date AS STRING)")
        .as[(Long, Long, String, String)].head()
      val own = spark.read.parquet(Tables.path(d, "orders"))
        .agg(count(lit(1)), sum(floor(col("o_totalprice"))).cast("long"),
          min(col("o_orderdate")).cast("string"), max(col("o_orderdate")).cast("string"))
        .as[(Long, Long, String, String)].head()
      assert(got == own, s"yql_table_range over $d read another corpus's months")
    } finally corpora.foreach { d =>
      def rm(f: java.io.File): Unit = { Option(f.listFiles()).foreach(_.foreach(rm)); f.delete() }
      rm(new java.io.File(Tables.derivedDir(spark, Tables.path(d, "orders"), "orders_by_month")))
    }
  }
}
