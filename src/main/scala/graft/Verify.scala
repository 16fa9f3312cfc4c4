package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query names (local iteration only;
    // the driver always runs the full sweep)
    val only = args.lift(2).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // The gate runs the ENGINE's session posture (AQE, broadcast
    // threshold, compression-aware scan estimates, scale-aware shuffle
    // headroom), not a bare session: correctness must hold under the
    // exact optimizer configuration the engine ships, and the round-10
    // sf100 sweep showed a bare 32-partition session re-opens the
    // spill bend GraftSession already closed (dict_sum 225 s → the
    // aggregate class back to linear under the shipped posture).
    // It is built by the engine's own constructor, so the gate also
    // runs every rewrite and session extension the engine ships with.
    val spark = GraftSession.get(s"local[$cpus]")
    GraftSession.tuneShuffleFor(spark, sfDir)
    new java.io.File(outDir).mkdirs()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // Manifests are written BEFORE the sweep: if the JVM is killed mid-run
    // (driver timeout, OOM), the gate still has the authoritative query list
    // and counts every unwritten query as a failure instead of letting it
    // silently vanish (the round-2→3 13-query drop).
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val selected = SparkEntry.queries.keys.toSeq
      .filter(n => only.forall(_(n))).sorted
    Files.writeString(Paths.get(s"$outDir/queries.json"),
      selected.map(q).mkString("[", ",", "]"))
    val t0 = System.nanoTime()
    // GRAFT_VERIFY_TIMES=1: per-query wall seconds on stderr — the
    // scale-soak decades grep these for the ratio tables in SCALING.md
    val times = sys.env.contains("GRAFT_VERIFY_TIMES")
    // GRAFT_VERIFY_GC=1 (scale soaks only): ContextCleaner frees a
    // query's shuffle files only after its references are GC'd — at
    // sf100 a hundred queries' worth of undeleted spill otherwise
    // accumulates to an ENOSPC (the same posture Bench takes for
    // SPARK_GRAFT_BENCH_RUNS soaks)
    val gcEach = sys.env.contains("GRAFT_VERIFY_GC")
    selected.foreach { name =>
      val fn = SparkEntry.queries(name)
      if (gcEach) System.gc()
      val q0 = System.nanoTime()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        if (times) System.err.println(
          f"[vtime] $name ${(System.nanoTime() - q0) / 1e9}%.3f")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        if (sys.env.contains("GRAFT_VERIFY_STACK")) e.printStackTrace()
      }
    }
    System.err.println(
      f"[verify] sweep of ${selected.size} queries in ${(System.nanoTime()-t0)/1e9}%.1f s")
    spark.stop()
  }
}
