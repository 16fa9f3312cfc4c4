package org.apache.spark.sql.graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}

/** The rules a session runs and the rules a set of session extensions
  * injects, by class name (a spec hook: a session's state is private to
  * Spark's sql package). Covered are the kinds an extension can inject
  * as rules: analyzer resolution and post-hoc resolution rules,
  * optimizer rules of every batch (operator, pre-CBO and the
  * experimental extra optimizations), planner strategies, and AQE's
  * query-stage, runtime-optimizer and post-planner rules; and the confs
  * a session builder sets. */
object SessionRules {
  def of(spark: SparkSession): Set[String] = {
    val st = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState
    val aqe = st.adaptiveRulesHolder
    names(st.analyzer.extendedResolutionRules ++ st.analyzer.postHocResolutionRules ++
      st.optimizer.batches.flatMap(_.rules) ++ st.planner.strategies ++
      aqe.queryStagePrepRules ++ aqe.runtimeOptimizerRules ++ aqe.queryStageOptimizerRules ++
      aqe.queryPostPlannerStrategyRules)
  }

  def injectedBy(spark: SparkSession, extensions: SparkSessionExtensions => Unit): Set[String] = {
    val e = new SparkSessionExtensions
    extensions(e)
    names(e.buildResolutionRules(spark) ++ e.buildPostHocResolutionRules(spark) ++
      e.buildOptimizerRules(spark) ++ e.buildPreCBORules(spark) ++ e.buildPlannerStrategies(spark) ++
      e.buildQueryStagePrepRules(spark) ++ e.buildRuntimeOptimizerRules(spark) ++
      e.buildQueryStageOptimizerRules(spark) ++ e.buildQueryPostPlannerStrategyRules(spark))
  }

  /** The confs a session builder sets (its options are protected; the
    * accessor is public in byte code). */
  def confs(builder: SparkSession.Builder): Map[String, String] =
    classOf[org.apache.spark.sql.SparkSessionBuilder].getMethod("options").invoke(builder)
      .asInstanceOf[scala.collection.mutable.HashMap[String, String]].toMap

  private def names(rules: Seq[AnyRef]): Set[String] = rules.map(_.getClass.getName).toSet
}
