package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.{Dyn, Fns, Llm, Ops, QL, Strm, Yql}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` aggregates one entry per implemented operator (SURVEY §2);
  * each SQL-expressible entry has a DuckDB oracle in `oracleSql` with
  * identical output column names.
  */
object SparkEntry {
  private val modules: Seq[(Map[String, (SparkSession, String) => DataFrame],
                            Map[String, String])] =
    Seq((QL.defs, QL.oracles), (Yql.defs, Yql.oracles), (Ops.defs, Ops.oracles),
      (Llm.defs, Llm.oracles), (Fns.defs, Fns.oracles), (Dyn.defs, Dyn.oracles),
      (Strm.defs, Strm.oracles), (graft.ql.FuzzDomains.defs, graft.ql.FuzzDomains.oracles))

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    QL.defs("ql_group_agg")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.iterator.map(_._1).reduce(_ ++ _)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    modules.iterator.map(_._2).reduce(_ ++ _)
}
