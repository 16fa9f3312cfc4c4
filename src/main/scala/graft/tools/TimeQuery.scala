package graft.tools

/** Ad-hoc A/B timer for single queries: `runMain graft.tools.TimeQuery
  * <sfDir> <query> [reps] [--bare|--ab]` — `--bare` runs WITHOUT the
  * engine's logical optimizer rules (rule-off baseline for rewrite
  * A/Bs; a `newSession()` keeps the session extensions);
  * `--ab` INTERLEAVES rule-on and rule-off reps in ONE JVM (shared
  * page cache, same session placement — the SCALING.md adjudication
  * method for cross-session noise). Prints per-rep seconds + medians;
  * same session posture as Bench.
  */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val name = args(1)
    val reps = args.lift(2).filterNot(_.startsWith("--")).map(_.toInt)
      .getOrElse(3)
    val bare = args.contains("--bare")
    val ab = args.contains("--ab")
    val spark = graft.GraftSession.get()
    spark.sparkContext.setLogLevel("ERROR")
    val session = if (bare) spark.newSession() else spark
    graft.GraftSession.tuneShuffleFor(session, dir)

    def rep(s: org.apache.spark.sql.SparkSession, tag: String): Double = {
      val t0 = System.nanoTime()
      val n = graft.SparkEntry.queries(name)(s, dir).count()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[time] $name%s$tag rows=$n%d ${sec}%.3f s")
      sec
    }

    if (ab) {
      val off = spark.newSession()
      graft.GraftSession.tuneShuffleFor(off, dir)
      val (ons, offs) = (1 to reps).map { _ =>
        (rep(session, "[on]"), rep(off, "[off]"))
      }.unzip
      def med(xs: Seq[Double]) = xs.sorted.apply(xs.length / 2)
      println(f"[time] $name medians: on=${med(ons)}%.3f s " +
        f"off=${med(offs)}%.3f s (interleaved, same JVM)")
    } else {
      val times = (1 to reps).map(_ => rep(session, ""))
      println(f"[time] $name median=${times.sorted.apply(reps / 2)}%.3f s " +
        s"(bare=$bare)")
    }
    spark.stop()
  }
}
