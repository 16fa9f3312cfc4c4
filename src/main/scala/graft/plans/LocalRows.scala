package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Union}

/** Rows already on the driver: a plan that is a `LocalRelation` or a
  * `Union` of them (an optimized plan, where ConvertToLocalRelation has
  * folded projections and filters over local rows). The rows are in the
  * plan's output layout. */
object LocalRows {
  def unapply(plan: LogicalPlan): Option[Seq[InternalRow]] = plan match {
    case l: LocalRelation => Some(l.data)
    case u: Union if u.children.forall(_.isInstanceOf[LocalRelation]) =>
      Some(u.children.flatMap(_.asInstanceOf[LocalRelation].data))
    case _ => None
  }
}
