package graft

/** Plan inspection tool: print the optimized logical plan and the
  * formatted physical plan (and optionally the adaptive final plan
  * after execution) of any SparkEntry query. Usage:
  *
  *   runMain graft.Explain <sfDir> <query>[,<query>...] [--run] [--ab]
  *
  * `--run` executes the query first so AQE's final plan (actual join
  * strategies, coalesced partitions, runtime row counts) is shown
  * instead of the static estimate. `--ab` also prints the same plans
  * from `spark.newSession()`, which keeps the session extensions but
  * not the optimizer rules [[GraftSession.installRules]] adds. Both
  * sessions size their shuffles with [[GraftSession.tuneShuffleFor]],
  * as Bench and Verify do, so exchanges show the partition counts
  * those runs use.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").map(_.trim).filter(_.nonEmpty)
    val run = args.contains("--run")
    val spark = GraftSession.get()
    val sessions = Seq("rules ON" -> spark) ++
      (if (args.contains("--ab")) Seq("rules OFF" -> spark.newSession()) else Nil)
    sessions.foreach { case (_, s) => GraftSession.tuneShuffleFor(s, sfDir) }
    names.foreach { name =>
      sessions.foreach { case (label, s) =>
        val df = SparkEntry.queries(name)(s, sfDir)
        println(s"===== $name [$label] =====")
        if (run) {
          df.queryExecution.toRdd.foreachPartition(it => while (it.hasNext) it.next())
        }
        println(df.queryExecution.optimizedPlan.treeString)
        println(df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      }
    }
    spark.stop()
  }
}
