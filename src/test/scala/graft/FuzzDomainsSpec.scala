package graft

import graft.ql.FuzzDomains
import graft.tools.FuzzSweep

/** The fuzz registry: pinned entries are their domain at one size and
  * seed, FuzzSweep runs the same domains, and both dump through
  * `Verify.dump`. */
class FuzzDomainsSpec extends SparkSpec {

  test("every pinned fuzz entry's oracle is its domain's at the pinned size and seed") {
    import FuzzDomains._
    val expected = Map(
      "ql_fuzz_exprs" -> exprs(40, 42L), "ql_fuzz_strings" -> strings(30, 99L),
      "ql_fuzz_queries" -> queries(12, 33L), "ql_fuzz_joins" -> joins(12, 21L),
      "ql_fuzz_tuples" -> tuples(24, 13L), "ql_fuzz_u64" -> u64(24, 77L),
      "ql_fuzz_aggs" -> aggs(16, 5L), "ql_fuzz_windows" -> windows(14, 31L),
      "ql_fuzz_setops" -> setOps(12, 47L), "yql_fuzz_pg" -> pg(34, 1107L),
      "yql_pg_distinct_on" -> distinctOn(1111L),
      "yql_fuzz_script" -> scripts(12, 61L), "yql_fuzz_ysonopt" -> ysonOpt(16, 71L),
      "yql_fuzz_strfmt" -> strFmt(14, 53L),
      "yql_fuzz_matchrec" -> matchRecognize(6, 59L),
      "yql_fuzz_hopsession" -> hopSession(8, 67L),
      "yql_fuzz_tablepaths" -> tablePaths(10, 83L), "yql_fuzz_dml" -> dml(6, 73L),
      "dyn_fuzz_log" -> dynLog(47L), "dyn_fuzz_index" -> dynIndex(53L),
      "dyn_fuzz_queue" -> dynQueue(59L))
    assert(SparkEntry.queries.keySet.filter(_.contains("_fuzz_")) ==
      expected.keySet - "yql_pg_distinct_on")
    assert(defs.keySet == expected.keySet)
    expected.foreach { case (name, draw) =>
      assert(SparkEntry.oracleSql(name) == draw.oracle, name)
    }
  }

  test("FuzzSweep runs the 20 swept domains at every seed") {
    val domains = Seq("expr", "str", "tup", "agg", "q", "join", "win", "set",
      "script", "dml", "mr", "hopsess", "ysonopt", "pg", "pgdon", "dyn",
      "dynidx", "dynq", "paths", "strfmt")
    assert(FuzzSweep.entries(100L, 101L).map(_._1) ==
      Seq(100, 101).flatMap(seed => domains.map(d => s"fz_${d}_$seed")))
  }

  test("a query that throws leaves no output of an earlier run in a reused outdir") {
    val out = java.nio.file.Files.createTempDirectory("graft-dump").toFile
    try {
      val ok: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame =
        (s, _) => s.range(3).toDF("id")
      Verify.dump(spark, sfDir, out.getPath, Map("q" -> "SELECT 1"), Seq("q" -> ok), "verify")
      assert(new java.io.File(out, "q/_SUCCESS").exists)
      Verify.dump(spark, sfDir, out.getPath, Map("q" -> "SELECT 1"),
        Seq("q" -> ((_, _) => throw new IllegalStateException("analysis failed"))),
        "verify")
      assert(!new java.io.File(out, "q").exists,
        "a crashed query kept the previous run's output")
      assert(new String(java.nio.file.Files.readAllBytes(
        new java.io.File(out, "queries.json").toPath)) == "[\"q\"]")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(out)
  }
}
