package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.graft.shims
import org.apache.spark.sql.types.StructType

/** A job per partition of the child (the reference's job proxy feeding
  * a user job its input split): `job` maps the partition's rows, in the
  * child's layout and possibly one reused buffer, to rows of `output`.
  * The user-job pipes ([[graft.sources.PipeJob]]) and blob codecs are
  * this node. It references every child column, so pruning keeps the
  * child whole, and no filter or limit moves through it. As a scan of an
  * RDD is, it is a multi-instance relation: a self-join renews the
  * second use's output. */
case class PartitionJob(name: String, job: Iterator[InternalRow] => Iterator[InternalRow],
    output: Seq[Attribute], child: LogicalPlan) extends UnaryNode with MultiInstanceRelation {

  override def newInstance(): PartitionJob = copy(output = output.map(_.newInstance()))
  override def references: AttributeSet = child.outputSet
  override def producedAttributes: AttributeSet = outputSet
  override protected def stringArgs: Iterator[Any] = Iterator(name, output)

  override protected def withNewChildInternal(newChild: LogicalPlan): PartitionJob =
    copy(child = newChild)
}

object PartitionJob {
  /** `input` through `job`, as a DataFrame of `schema`. Building it
    * plans nothing and runs nothing: the child is planned with the
    * query that consumes the result. */
  def over(input: Dataset[_], schema: StructType, name: String)(
      job: Iterator[InternalRow] => Iterator[InternalRow]): DataFrame =
    shims.ofRows(input.sparkSession,
      PartitionJob(name, job, DataTypeUtils.toAttributes(schema), input.queryExecution.analyzed))
}

/** Runs a [[PartitionJob]] in each task of the child, counting the rows
  * it reads and writes; output rows are made unsafe, as an RDD scan's. */
case class PartitionJobExec(name: String, job: Iterator[InternalRow] => Iterator[InternalRow],
    output: Seq[Attribute], child: SparkPlan) extends UnaryExecNode {

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numInputRows" -> SQLMetrics.createMetric(sparkContext, "number of input rows"),
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override protected def stringArgs: Iterator[Any] = Iterator(name, output)

  /** EXPLAIN FORMATTED also shows the rows counted so far. */
  override def verboseStringWithOperatorId(): String =
    super.verboseStringWithOperatorId() +
      s"Rows: ${metrics("numInputRows").value} in, ${metrics("numOutputRows").value} out\n"

  override protected def doExecute(): RDD[InternalRow] = {
    val (numIn, numOut) = (longMetric("numInputRows"), longMetric("numOutputRows"))
    val (f, schema) = (job, this.schema)
    child.execute().mapPartitions { rows =>
      val unsafe = UnsafeProjection.create(schema)
      f(rows.map { r => numIn += 1; r }).map { r => numOut += 1; unsafe(r) }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): PartitionJobExec =
    copy(child = newChild)
}

/** The planner strategy for [[PartitionJob]], injected by
  * `GraftSession.extensions`, so batch queries and streaming
  * micro-batches plan it alike. */
object PlanPartitionJobs extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case PartitionJob(name, job, output, child) =>
      PartitionJobExec(name, job, output, planLater(child)) :: Nil
    case _ => Nil
  }
}
