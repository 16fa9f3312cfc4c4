package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge between the public Column API and Catalyst Expressions —
  * Spark 4 made the converters `private[sql]`, so this lives in an
  * org.apache.spark.sql subpackage.
  */
object shims {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `AnyDataType` is `protected[sql]` — exposed for custom
    * HigherOrderFunction argumentTypes. */
  val anyDataType: org.apache.spark.sql.types.AbstractDataType =
    org.apache.spark.sql.types.AnyDataType

  /** Eagerly convert a Column's node tree to a Catalyst expression
    * (UnresolvedFunction names resolved via the registry) — what the
    * classic Dataset API does on select; needed when building
    * expressions outside a Dataset, e.g. inside optimizer rules. */
  def convert(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  /** Parse `exprSql`, resolve it against `schema` through the session's
    * analyzer (session-registered functions included), and bind its
    * attribute references to the schema's field ORDINALS, so the result
    * evaluates directly against an InternalRow of that shape. Returns
    * the bound expression and its resolved type. `sessionState` is
    * `private[sql]`, hence this lives in the shim package. */
  def resolveAndBind(spark: org.apache.spark.sql.SparkSession,
      schema: org.apache.spark.sql.types.StructType,
      exprSql: String): (Expression, org.apache.spark.sql.types.DataType) = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, BindReferences}
    import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Project}
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val attrs = org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(schema)
    val parsed = cs.sessionState.sqlParser.parseExpression(exprSql)
    val plan = Project(Seq(Alias(parsed, "__e")()), LocalRelation(attrs))
    val analyzed = cs.sessionState.analyzer.execute(plan)
    cs.sessionState.analyzer.checkAnalysis(analyzed)
    val resolved = analyzed.asInstanceOf[Project].projectList.head
      .asInstanceOf[Alias].child
    (BindReferences.bindReference(resolved, attrs), resolved.dataType)
  }

  /** Per-partition initializer for nondeterministic leaves (rand(),
    * etc.) — required before eval() on executors. */
  def initExpr(e: Expression, partitionIndex: Int): Unit = e.foreach {
    case n: org.apache.spark.sql.catalyst.expressions.Nondeterministic =>
      n.initialize(partitionIndex)
    case _ =>
  }

  /** External (Row-land) value → Catalyst internal value converter. */
  def toCatalystConverter(dt: org.apache.spark.sql.types.DataType)
      : Any => Any =
    org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToCatalystConverter(dt)

  /** Catalyst internal value → external (Row-land) value converter. */
  def toScalaConverter(dt: org.apache.spark.sql.types.DataType)
      : Any => Any =
    org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToScalaConverter(dt)

  /** Deep-copy a Catalyst value out of any reused evaluation buffer. */
  def copyValue(v: Any): Any =
    org.apache.spark.sql.catalyst.InternalRow.copyValue(v)

  /** `s` with every field nullable, as a file source reads it
    * (`asNullable` is `private[spark]`). */
  def asNullable(s: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType =
    s.asNullable

  def sameTypeIgnoreNullability(a: org.apache.spark.sql.types.DataType,
      b: org.apache.spark.sql.types.DataType): Boolean =
    a.asNullable == b.asNullable

  /** DataFrame over a logical plan (`Dataset.ofRows` is `private[sql]`). */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The session's Hadoop configuration with a relation's `options`
    * (`sessionState` is `private[sql]`). */
  def hadoopConf(spark: org.apache.spark.sql.SparkSession,
      options: Map[String, String]): org.apache.hadoop.conf.Configuration =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.newHadoopConfWithOptions(options)

  /** The session's `spark.sql.autoBroadcastJoinThreshold` in bytes. */
  def broadcastThreshold(spark: org.apache.spark.sql.SparkSession): Long =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.conf.autoBroadcastJoinThreshold
}
