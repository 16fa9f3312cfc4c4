package graft.tools

/** Print a query's optimized logical + formatted physical plan under
  * the engine posture and (optionally) rule-off: `runMain
  * graft.tools.ExplainQuery <sfDir> <query> [--ab]`. Plan-only — no
  * jobs run. */
object ExplainQuery {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val name = args(1)
    val ab = args.contains("--ab")
    val spark = graft.GraftSession.get()
    spark.sparkContext.setLogLevel("ERROR")
    graft.GraftSession.tuneShuffleFor(spark, dir)
    val df = graft.SparkEntry.queries(name)(spark, dir)
    println(s"=== $name [rules ON] ===")
    println(df.queryExecution.optimizedPlan.treeString)
    println(df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode))
    if (ab) {
      val off = spark.newSession()
      graft.GraftSession.tuneShuffleFor(off, dir)
      val df2 = graft.SparkEntry.queries(name)(off, dir)
      println(s"=== $name [rules OFF] ===")
      println(df2.queryExecution.optimizedPlan.treeString)
      println(df2.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
