package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{FilterExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.types._

/** Keep request constants out of generated source, so one plan shape
  * compiles to one class.
  *
  * Spark writes primitive literals into the Java it generates
  * (`ts <= 1234L`), and the codegen cache is keyed by that source: a
  * DynTable lookup, a versioned read or a commit that differs from the
  * previous one only in its keys or timestamps is a new class, compiled
  * by Janino on the driver and again by the tasks that miss the cache.
  * This physical rule (a query-stage preparation rule, so it runs on
  * every AQE plan and re-plan) swaps two kinds of literal for a
  * [[ParamLiteral]] whose code reads the value from the class's
  * `references` array:
  *   - non-null primitive literals that are direct operands of a
  *     comparison or an `IN` list in a `FilterExec` condition;
  *   - constant `Alias(literal)` columns of a `ProjectExec`.
  *
  * Everything else keeps its literal: the scan's data, partition and
  * pushed filters (parquet pruning sees the same predicates), join
  * keys, aggregate and sort expressions, literals nested under other
  * functions (`rand(seed)` and `round(x, scale)` match `Literal` when
  * they run), and string, decimal, complex or null literals (Spark
  * already passes the non-primitive ones by reference). Plans without
  * AQE, such as streaming micro-batches, are not rewritten.
  *
  * A filter directly over a `LocalRelation` never reaches a physical
  * plan: the optimizer's ConvertToLocalRelation evaluates it through a
  * generated predicate first. Two logical parts swap the same operands
  * there: [[ParameterizeLocalFilters]] when such a filter is resolved,
  * so a caller's filter over a driver-held result compiles one
  * predicate class per shape, and [[ParameterizePushedLocalFilters]]
  * when the optimizer has pushed a filter onto local rows, so a held
  * commit's write filter compiles nothing after the first commit.
  */
object ParameterizeLiterals extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case f: FilterExec =>
      val cond = parameterize(f.condition)
      if (cond fastEquals f.condition) f else f.copy(condition = cond)
    case p: ProjectExec =>
      val list = p.projectList.map {
        case a @ Alias(l: Literal, _) if bindable(l) =>
          a.withNewChildren(Seq(param(l))).asInstanceOf[NamedExpression]
        case e => e
      }
      if (list == p.projectList) p else p.copy(projectList = list)
  }

  /** `cond` with the direct comparison and `IN` operands swapped. */
  private[plans] def parameterize(cond: Expression): Expression = cond.transformUp {
    case c: BinaryComparison => c.withNewChildren(c.children.map(param))
    case in: In => in.withNewChildren(in.children.map(param))
  }

  private def bindable(l: Literal): Boolean = l.value != null && (l.dataType match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType |
         FloatType | DoubleType | DateType | TimestampType | TimestampNTZType => true
    case _ => false
  })

  /** A bindable literal, or (in an analyzed plan, before constant
    * folding) a literal the analyzer widened with an up-cast, as a
    * [[ParamLiteral]] of its value. */
  private def param(e: Expression): Expression = e match {
    case l: Literal if bindable(l) => ParamLiteral(l.value, l.dataType)
    case c @ Cast(l: Literal, to, _, _) if Cast.canUpCast(l.dataType, to) =>
      Literal.create(c.eval(), to) match {
        case folded if bindable(folded) => ParamLiteral(folded.value, to)
        case _ => c
      }
    case other => other
  }
}

/** The analysis-time part of [[ParameterizeLiterals]] (a post-hoc
  * resolution rule): the direct comparison and `IN` operands of a
  * `Filter` directly over a non-streaming `LocalRelation` become
  * [[ParamLiteral]]s, so ConvertToLocalRelation's generated predicate
  * is the same class for every value. If the filter is not folded into
  * the relation, constant folding turns the operands back into
  * literals.
  */
object ParameterizeLocalFilters extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperatorsUp(bind)

  private[plans] val bind: PartialFunction[LogicalPlan, LogicalPlan] = {
    case f @ Filter(cond, l: LocalRelation) if f.resolved && !l.isStreaming =>
      val c = ParameterizeLiterals.parameterize(cond)
      if (c fastEquals cond) f else f.copy(condition = c)
  }
}

/** The optimizer-time part of [[ParameterizeLiterals]] (a pre-CBO rule,
  * which runs once after the operator optimization batch and before the
  * `LocalRelation` batch): binds the operands of a filter that predicate
  * pushdown moved directly over local rows after analysis, as
  * [[ParameterizeLocalFilters]] binds one written there. A filter over a
  * union of local rows, or over a held log ([[HeldRelation]], which
  * [[HeldToLocal]] turns into local rows just before this rule) that its
  * `ts` range does not prune, reaches each branch only after constant
  * folding, so without this part ConvertToLocalRelation compiles one
  * predicate class per branch and per value.
  */
object ParameterizePushedLocalFilters extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp(ParameterizeLocalFilters.bind)
}

/** A non-null primitive constant whose generated code reads it from
  * the class's `references` array (once, into a field, when the class
  * is instantiated) instead of inlining it, so the source, and with it
  * the compiled class, is the same for every value. It prints exactly
  * as the [[Literal]] it replaces in `toString`, `sql` and EXPLAIN.
  */
case class ParamLiteral(value: Any, dataType: DataType) extends LeafExpression {
  override def nullable: Boolean = false
  override def foldable: Boolean = true
  override def eval(input: InternalRow): Any = value

  private def literal = Literal(value, dataType)
  override def toString: String = literal.toString
  override def sql: String = literal.sql

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("param", value, CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(javaType, "param",
      v => s"$v = $ref.${javaType}Value();", forceInline = true)
    ev.copy(code = EmptyBlock, isNull = FalseLiteral,
      value = JavaCode.variable(field, dataType))
  }
}
