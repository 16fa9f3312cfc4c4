package graft.plans

import scala.collection.immutable.ArraySeq

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LeafNode, LocalRelation, LogicalPlan, Statistics}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.FILTER
import org.apache.spark.sql.catalyst.util.truncatedString
import org.apache.spark.sql.types.{LongType, StructType}

/** A driver-held log as a logical leaf (`Tables.held`). It plans like a
  * `LocalRelation` of its rows, which [[HeldToLocal]] turns it into
  * before cost-based optimization. Until then no transform walks its
  * rows: Catalyst's expression transforms map every `Iterable` argument
  * of a plan node, so a `LocalRelation` of the log's rows is copied and
  * walked on every pass, and an array is not. `ts` is the range of the
  * rows' non-null `ts` values when `ts` is a long column (a store
  * computes it once per listing of its files), and [[PruneHeldTs]] drops
  * a filter on `ts` that no row can pass without touching one. */
case class HeldRelation(output: Seq[Attribute], rows: Array[InternalRow],
    ts: Option[HeldRelation.TsRange]) extends LeafNode with MultiInstanceRelation {

  override def newInstance(): HeldRelation = copy(output = output.map(_.newInstance()))

  override def maxRows: Option[Long] = Some(rows.length.toLong)

  override def computeStats(): Statistics = Statistics(
    sizeInBytes = EstimationUtils.getSizePerRow(output) * rows.length,
    rowCount = Some(rows.length))

  override def simpleString(maxFields: Int): String = {
    val range = ts.fold("") { r => if (r.isEmpty) ", no ts" else s", ts [${r.lo}, ${r.hi}]" }
    s"$nodeName ${truncatedString(output, "[", ", ", "]", maxFields)}, ${rows.length} held rows$range"
  }
}

object HeldRelation {
  /** The non-null values of column `ordinal` lie in `[lo, hi]`; a column
    * with no non-null value has `lo > hi`. */
  final case class TsRange(ordinal: Int, lo: Long, hi: Long) {
    def isEmpty: Boolean = lo > hi
  }

  /** The range of the non-null `ts` values of `rows` (of `schema`), or
    * None when `schema` has no long `ts` column. */
  def tsRange(schema: StructType, rows: Array[InternalRow]): Option[TsRange] = {
    val tsIdx = schema.fieldNames.indexOf("ts")
    Some(tsIdx).filter(i => i >= 0 && schema(i).dataType == LongType).map { i =>
      var (lo, hi) = (Long.MaxValue, Long.MinValue)
      rows.foreach { r =>
        if (!r.isNullAt(i)) {
          val t = r.getLong(i)
          if (t < lo) lo = t
          if (t > hi) hi = t
        }
      }
      TsRange(i, lo, hi)
    }
  }
}

/** An operator-optimization rule: a filter over a [[HeldRelation]] with
  * a conjunct comparing the leaf's long `ts` with a literal that no held
  * `ts` satisfies (`=`, `<`, `<=`, `>`, `>=`; a null `ts` satisfies
  * none) is an empty relation. PropagateEmptyRelation then drops the
  * branch, so a held commit's `where(ts === commitTs)` leaves only the
  * staged rows. */
object PruneHeldTs extends Rule[LogicalPlan] with PredicateHelper {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUpWithPruning(_.containsPattern(FILTER)) {
      case f @ Filter(cond, HeldRelation(output, _, ts)) if ts.exists { r =>
            splitConjunctivePredicates(cond).exists(refutes(_, output(r.ordinal), r))
          } =>
        LocalRelation(f.output, Nil)
    }

  private def refutes(conjunct: Expression, ts: Attribute, r: HeldRelation.TsRange): Boolean =
    conjunct match {
      case c: BinaryComparison => (c.left, c.right) match {
        case (a, Literal(v: Long, LongType)) if a.semanticEquals(ts) => refuted(c, v, r)
        case (Literal(v: Long, LongType), a) if a.semanticEquals(ts) => refuted(flip(c), v, r)
        case _ => false
      }
      case _ => false
    }

  /** Whether no value in `r` satisfies `ts <op> v`. */
  private def refuted(c: BinaryComparison, v: Long, r: HeldRelation.TsRange): Boolean =
    r.isEmpty || (c match {
      case _: EqualTo => v < r.lo || v > r.hi
      case _: LessThan => r.lo >= v
      case _: LessThanOrEqual => r.lo > v
      case _: GreaterThan => r.hi <= v
      case _: GreaterThanOrEqual => r.hi < v
      case _ => false
    })

  /** `l <op> r` as `r <op'> l`. */
  private def flip(c: BinaryComparison): BinaryComparison = c match {
    case LessThan(l, r) => GreaterThan(r, l)
    case LessThanOrEqual(l, r) => GreaterThanOrEqual(r, l)
    case GreaterThan(l, r) => LessThan(r, l)
    case GreaterThanOrEqual(l, r) => LessThanOrEqual(r, l)
    case other => other
  }
}

/** A pre-CBO rule, injected before [[ParameterizePushedLocalFilters]]:
  * every [[HeldRelation]] the operator optimizations left becomes a
  * `LocalRelation` of its rows, so the filter binding, the `LocalRelation`
  * batch (ConvertToLocalRelation), [[LocalRows]] and the driver-side
  * write see the plans they saw before the leaf, and no leaf reaches
  * the planner. */
object HeldToLocal extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUp { case h: HeldRelation => LocalRelation(h.output, ArraySeq.unsafeWrapArray(h.rows)) }
}
