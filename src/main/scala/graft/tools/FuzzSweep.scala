package graft.tools

import graft.ql.FuzzDomains

/** Seed-sweep harness for the differential fuzz domains: runs every
  * swept domain (`FuzzDomains.swept`, the same domains the pinned
  * `ql_fuzz_*` / `yql_fuzz_*` / `dyn_fuzz_*` entries draw from) at each
  * seed of a range and dumps the outdir layout `tools/check.py`
  * consumes, so one DuckDB pass value-compares hundreds of randomized
  * cases. Usage: runMain graft.tools.FuzzSweep SFDIR OUTDIR SEED_LO SEED_HI
  */
object FuzzSweep {
  /** `fz_<domain>_<seed>` for every swept domain at every seed. */
  def entries(seedLo: Long, seedHi: Long): Seq[(String, FuzzDomains.Draw)] =
    for (seed <- seedLo to seedHi; (domain, draw) <- FuzzDomains.swept)
      yield s"fz_${domain}_$seed" -> draw(seed)

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val seedLo = args.lift(2).map(_.toLong).getOrElse(100L)
    val seedHi = args.lift(3).map(_.toLong).getOrElse(110L)
    // the engine's own session, so the sweep checks the shipped rule set
    val spark = graft.GraftSession.get(
      s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")}]")
    graft.GraftSession.quietLogs(spark, "ERROR")
    val es = entries(seedLo, seedHi)
    graft.Verify.dump(spark, sfDir, outDir, es.map { case (n, d) => n -> d.oracle },
      es.map { case (n, d) => n -> d.build }, "fuzzsweep")
    spark.stop()
  }
}
