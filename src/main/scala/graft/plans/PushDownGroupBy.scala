package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.{Inner, LeftOuter}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule

/** Push GROUP BY below JOIN — eager aggregation on the foreign side
  * (reference push_down_group_by.cpp:64, applied into
  * TJoinClause::GroupClause, query.h:360).
  *
  * `Aggregate(G, aggs, Join(L, R, L.k = R.k))` where every aggregate is
  * a non-distinct min/max/sum over R-only columns and G references only
  * L, rewrites to
  * `Aggregate(G, aggs', Join(L, Aggregate(R.k, partials, R)))`:
  * per-key partials on R, then sum-of-sums / min-of-mins after the
  * join. Correct because for each left row the joined contribution
  * collapses to one pre-aggregated row per key — Yan-Larson eager
  * aggregation, restricted to the same decomposable set the reference
  * allows (min/max/sum; count/avg excluded, matching
  * `isAggregateFunctionGood`).
  *
  * At scale this joins L against |distinct keys of R| rows instead of
  * |R| rows — on a large foreign table the join input shrinks by the
  * key fan-in before it ever shuffles.
  */
object PushDownGroupBy extends PredicateHelper {

  def install(spark: SparkSession): Unit = {
    val existing = spark.experimental.extraOptimizations
    val withPush =
      if (!existing.exists(_.isInstanceOf[PushAggThroughJoinRule.type]))
        existing :+ PushAggThroughJoinRule
      else existing
    spark.experimental.extraOptimizations =
      if (!withPush.exists(_.isInstanceOf[EagerAggUniqueJoinRule.type]))
        withPush :+ EagerAggUniqueJoinRule
      else withPush
  }

  /** The (left, right) attribute pairs of an inner or left outer
    * equi-join, or None unless every conjunct of its condition equates
    * a left attribute with a right one. */
  private def equiKeyPairs(join: Join): Option[Seq[(Attribute, Attribute)]] = {
    val Join(left, right, joinType, condOpt, _) = join
    if (joinType != Inner && joinType != LeftOuter) return None
    val cond = condOpt.getOrElse(return None)
    Some(splitConjunctivePredicates(cond).map {
      case EqualTo(a: Attribute, b: Attribute)
          if left.outputSet.contains(a) && right.outputSet.contains(b) =>
        (a, b)
      case EqualTo(b: Attribute, a: Attribute)
          if left.outputSet.contains(a) && right.outputSet.contains(b) =>
        (a, b)
      case _ => return None
    })
  }

  object PushAggThroughJoinRule extends Rule[LogicalPlan] {

    override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
      case agg @ Aggregate(_, _, join: Join, _) =>
        rewrite(agg, join).getOrElse(agg)
      // column pruning typically leaves an attribute-only Project
      // between the aggregate and the join; it would keep projecting
      // right-side columns the partial aggregate no longer produces, so
      // the rewrite drops it (it only pruned, never renamed)
      case agg @ Aggregate(_, _, Project(list, join: Join), _)
          if list.forall(_.isInstanceOf[Attribute]) =>
        rewrite(agg, join).getOrElse(agg)
    }

    private def rewrite(agg: Aggregate, join: Join): Option[LogicalPlan] = {
      val Join(left, right, joinType, condOpt, hint) = join
      val keyPairs = equiKeyPairs(join).getOrElse(return None)
      val rightKeys = keyPairs.map(_._2).distinct

      // idempotence: if the right side is already aggregated by exactly
      // the join keys, a second push gains nothing (and the rule would
      // otherwise re-fire on its own output forever)
      right match {
        case Aggregate(ge, _, _, _)
            if ge.length == rightKeys.length &&
              rightKeys.forall(k => ge.exists(_.semanticEquals(k))) =>
          return None
        case _ =>
      }

      // group keys must not touch the foreign side
      if (agg.groupingExpressions.exists(_.references.exists(right.outputSet.contains)))
        return None

      // collect every aggregate call; all must be pushable min/max/sum
      // over foreign-only arguments
      val aggCalls = agg.aggregateExpressions.flatMap(_.collect {
        case ae: AggregateExpression => ae
      })
      if (aggCalls.isEmpty) return None
      val pushable = aggCalls.forall { ae =>
        def okArg(e: Expression): Boolean =
          e.references.nonEmpty && e.references.subsetOf(right.outputSet)
        val argOk = ae.aggregateFunction match {
          case Sum(e, _) => okArg(e)
          case Min(e) => okArg(e)
          case Max(e) => okArg(e)
          case _ => false
        }
        argOk && !ae.isDistinct && ae.filter.isEmpty
      }
      if (!pushable) return None

      // one partial per distinct aggregate call
      val partials = aggCalls.distinct.map { ae =>
        ae -> Alias(ae, "_pushed")()
      }
      val partialAgg = Aggregate(
        rightKeys,
        (rightKeys: Seq[NamedExpression]) ++ partials.map(_._2),
        right)

      val newJoin = Join(left, partialAgg, joinType, condOpt, hint)

      // re-aggregate the partials: sum-of-sums, min-of-mins, max-of-maxes
      val replaced = agg.aggregateExpressions.map { ne =>
        ne.transformDown {
          case ae: AggregateExpression =>
            val partialAttr =
              partials.find(p => p._1.semanticEquals(ae)).get._2.toAttribute
            val refolded = ae.aggregateFunction match {
              case _: Sum => ae.copy(aggregateFunction = Sum(partialAttr))
              case _: Min => ae.copy(aggregateFunction = Min(partialAttr))
              case _: Max => ae.copy(aggregateFunction = Max(partialAttr))
              case other => throw new IllegalStateException(other.toString)
            }
            // sum can widen (decimal precision) on the second fold —
            // pin the original type
            if (refolded.dataType == ae.dataType) refolded
            else Cast(refolded, ae.dataType)
        }.asInstanceOf[NamedExpression]
      }
      Some(agg.copy(aggregateExpressions = replaced, child = newJoin))
    }
  }

  /** The LEFT-side eager aggregation the reference fires when the
    * RIGHT side of an equi-join is provably unique on its join key
    * (yql_yt_join_impl.cpp:1030-1150: key uniqueness derived from
    * sorted-table schemas drives the rewrite; here the uniqueness
    * rides as `graft.unique` column metadata stamped by
    * `Tables.load`, a schema-level fact of the data model).
    *
    * `Aggregate(G, aggs, Join(L, R, L.k = R.k))` where G ⊆ L contains
    * every left join key, R is unique on R.k, and each aggregate is
    * (a) over L-only columns (incl. count(*)) or (b) a collapse-safe
    * min/max/first/last/any_value over R-only columns, rewrites to
    *
    * `Project(aggs', Join(Aggregate(G, partials, L), R, L.k = R.k))`
    *
    * — the aggregate runs BEFORE the join (map-side partial combine
    * over the raw left table), the join input shrinks from |L| rows
    * to |groups|, and the post-join aggregate disappears entirely:
    * within a group every row shares the join key, the unique right
    * side contributes exactly one row per key, so (b)-aggregates over
    * n identical values ARE the value. At 60M⋈15M scale this replaces
    * shuffle-join-60M-then-aggregate with aggregate-15M-then-join —
    * the exchange the aggregate introduces is on the same key the
    * join needs, so the left side shuffles combined partials once.
    *
    * Correctness at the edges: inner join drops unmatched/NULL-key
    * groups atomically (the whole group shares the key); left outer
    * keeps them with NULL right columns, exactly what each collapse-
    * safe aggregate returns over an absent right row.
    *
    * COST GATE: the rewrite trades the join's probe volume for an
    * extra full aggregation pass over L, and that trade INVERTS when
    * the pre-aggregate needs its own exchange at low key fan-in — an
    * interleaved A/B (SCALING.md) measured yql_agg_some (~4 lineitem
    * rows/order) at sf10 on=11.8 s vs off=14.5 s but at sf100 on=308 s
    * vs off=112 s: past memory scale the extra 600M-row hash pass costs
    * 3× what the 4× probe shrink saves. The reference fires this rewrite from SORTED-table
    * schemas, where the pre-aggregate rides the existing key order
    * for free (yql_yt_join_impl.cpp:1030-1150) — the gate mirrors that
    * exact condition: fire only when the left leaf's bucket layout
    * covers the grouping keys, so the pre-aggregate inherits the
    * scan's hash partitioning and inserts NO exchange; then the
    * rewrite strictly removes work (agg input = scan either way, join
    * probe shrinks |L|→|groups|).
    */
  object EagerAggUniqueJoinRule extends Rule[LogicalPlan] {

    override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
      case agg @ Aggregate(_, _, join: Join, _) =>
        rewrite(agg, join).getOrElse(agg)
      case agg @ Aggregate(_, _, Project(list, join: Join), _)
          if list.forall(_.isInstanceOf[Attribute]) =>
        rewrite(agg, join).getOrElse(agg)
    }

    private def rewrite(agg: Aggregate, join: Join): Option[LogicalPlan] = {
      val Join(left, right, joinType, condOpt, hint) = join
      val keyPairs = equiKeyPairs(join).getOrElse(return None)
      val leftKeys = keyPairs.map(_._1).distinct
      val rightKeys = keyPairs.map(_._2).distinct
      if (!uniqueOn(rightKeys, right)) return None

      // grouping must be left-only ATTRIBUTES covering every left key
      // (so groups align 1:1 with join-key values and the pre-agg
      // output still carries the key to join on)
      val gAttrs = agg.groupingExpressions.map {
        case a: Attribute if left.outputSet.contains(a) => a
        case _ => return None
      }
      if (!leftKeys.forall(k => gAttrs.exists(_.semanticEquals(k))))
        return None

      // cost gate (see object Scaladoc): the pre-aggregate must be
      // exchange-free — the left leaf's bucket layout covers the
      // grouping keys, so the aggregate inherits the scan's hash
      // partitioning and the rewrite strictly removes work
      if (!exchangeFreePreAgg(gAttrs, left)) return None

      val aggCalls = agg.aggregateExpressions.flatMap(_.collect {
        case ae: AggregateExpression => ae
      }).distinct
      if (aggCalls.isEmpty) return None

      // classify: Left(pushed partial) vs Right(collapsed to its arg)
      val classified: Seq[(AggregateExpression, Either[Alias, Expression])] =
        aggCalls.map { ae =>
          if (ae.isDistinct || ae.filter.isDefined) return None
          val refs = ae.references
          if (refs.subsetOf(left.outputSet)) // incl. count(*): no refs
            ae -> scala.util.Left(Alias(ae, "_eager")())
          else if (refs.nonEmpty && refs.subsetOf(right.outputSet)) {
            val collapsed = ae.aggregateFunction match {
              case First(c, _) => c
              case Last(c, _) => c
              case Min(c) => c
              case Max(c) => c
              case AnyValue(c, _) => c
              case _ => return None
            }
            ae -> scala.util.Right(collapsed)
          } else return None
        }

      val partials = classified.collect { case (ae, scala.util.Left(al)) => ae -> al }
      val partialAgg = Aggregate(
        gAttrs, (gAttrs: Seq[NamedExpression]) ++ partials.map(_._2), left)
      val newJoin = Join(partialAgg, right, joinType, condOpt, hint)

      val replaced = agg.aggregateExpressions.map { ne =>
        ne.transformDown {
          case ae: AggregateExpression =>
            classified.find(_._1.semanticEquals(ae)).get._2 match {
              case scala.util.Left(al) => al.toAttribute
              case scala.util.Right(c) => c
            }
        }.asInstanceOf[NamedExpression]
      }
      Some(Project(replaced, newJoin))
    }

    /** Does grouping `plan` by `keys` need NO exchange? True when the
      * walk to the leaf crosses only row-preserving, non-renaming
      * nodes and the leaf is a bucketed relation whose bucket columns
      * are a subset of the grouping keys — the scan then reports
      * HashPartitioning(bucketCols), which satisfies the aggregate's
      * clustering requirement (rows sharing a full grouping tuple
      * share the bucket-column value, hence the bucket). */
    private def exchangeFreePreAgg(keys: Seq[Attribute],
        plan: LogicalPlan): Boolean = plan match {
      case Project(list, child) if list.forall(_.isInstanceOf[Attribute]) =>
        exchangeFreePreAgg(keys, child)
      case Filter(_, child) => exchangeFreePreAgg(keys, child)
      case SubqueryAlias(_, child) => exchangeFreePreAgg(keys, child)
      case s: Sort => exchangeFreePreAgg(keys, s.child)
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.bucketSpec.exists(spec => spec.bucketColumnNames.nonEmpty &&
              spec.bucketColumnNames.forall(bc =>
                keys.exists(_.name.equalsIgnoreCase(bc))))
          case _ => false
        }
      case _ => false
    }

    /** Is `plan` guaranteed to have at most one row per value of
      * `keys`? True when the walk to a leaf crosses only row-
      * multiplicity-preserving nodes and the (single) key attribute
      * carries the base-table uniqueness metadata, or when an
      * intervening Aggregate groups by a subset of the keys. */
    private def uniqueOn(keys: Seq[Attribute],
        plan: LogicalPlan): Boolean = plan match {
      case Aggregate(ge, _, _, _) =>
        ge.nonEmpty && ge.forall {
          case a: Attribute => keys.exists(_.semanticEquals(a))
          case _ => false
        }
      case Distinct(child) => child.outputSet.subsetOf(AttributeSet(keys))
      case Project(_, child) => uniqueOn(keys, child)
      case Filter(_, child) => uniqueOn(keys, child)
      case SubqueryAlias(_, child) => uniqueOn(keys, child)
      case s: Sort => uniqueOn(keys, s.child)
      case _: LeafNode =>
        keys.size == 1 &&
          keys.head.metadata.contains(graft.sources.Tables.UniqueMetaKey) &&
          keys.head.metadata.getBoolean(graft.sources.Tables.UniqueMetaKey)
      case _ => false
    }
  }
}
