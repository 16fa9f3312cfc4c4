package graft.plans

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, OneRowRelation, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.graft.{shims => S}
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** Computed key columns + derived-predicate pruning (SURVEY.md §1.3 /
  * §4.1).
  *
  * The reference lets a key column be a QL expression over other
  * columns (`TColumnSchema::Expression`, schema.h:125), evaluates it on
  * write (TColumnEvaluator::EvaluateKeys, column_evaluator.h:12-32) and
  * — critically — *enumerates* its values during range inference so a
  * predicate on the source column prunes tablets keyed by the computed
  * column (key_trie.cpp:43-73, range_inferrer.cpp,
  * new_range_inferrer.cpp; tests ql_computed_columns_ut.cpp,
  * ql_range_inference_ut.cpp). The Spark analog: the computed column is
  * the partition column of the table; [[DerivedPredicateRule]] conjoins
  * the computed column's value image so Catalyst's ordinary partition
  * pruning eliminates directories — at 100 TB that's the difference
  * between a full scan and touching one partition.
  *
  * Coverage mirrors the reference's inferrer:
  *   - point constraints: `k = v`, `k IN (...)` → image of each value;
  *   - ranges on integral/date sources: `k BETWEEN a AND b`,
  *     `k >= a AND k < b`, ... → the range is enumerated and mapped
  *     through f, capped at [[ComputedColumns.MaxEnumeration]] values
  *     (the reference's modular-enumeration cap, range_inferrer.cpp's
  *     RangeExpansionLimit) — beyond the cap the rule stays silent and
  *     the query falls back to a scan;
  *   - multi-column keys: `c = f(k1, k2, ...)` with each source pinned
  *     by a point or enumerable range; the cross product of candidate
  *     values (cap shared) maps through f — the key-trie cross product.
  *
  * [[Spec]]s are registered per (sources, computed) pair; writes go
  * through [[withComputed]] so the stored value always agrees with the
  * rule's fold (same single-definition guarantee the reference's
  * write-path evaluator provides).
  */
object ComputedColumns {

  /** Reference: range_inferrer.cpp caps range expansion; we stop
    * enumerating past this many candidate tuples. */
  val MaxEnumeration = 1024

  /** `computed := f(sources)`, e.g. `hk := pmod(hash(k1, k2), 64)`.
    * `monotone = true` declares f order-preserving over its single
    * source (division by a positive constant, a linear rescale …): a
    * bounded source range then derives the computed-column INTERVAL
    * [f(lo), f(hi)] with no enumeration cap — the reference's divide
    * inferrer (ql_computed_columns_ut.cpp Divide0-6/Far: `key / 10`
    * prunes wide ranges as ranges, never point sets).
    * `moduloOf = Some(n)` declares `f ≡ source % n`: the image is the
    * finite residue set {-(n-1)..n-1} ∪ {null}, enumerable with NO
    * bound on the source at all — the reference's modulo inferrer
    * (ql_computed_columns_ut.cpp Modulo1/2/4/5: `l % 2` over an
    * unbounded l still prunes to 4 residue ranges incl. the null key).
    */
  final case class Spec(sources: Seq[String], computed: String,
      f: Seq[Column] => Column, monotone: Boolean = false,
      moduloOf: Option[Long] = None)

  object Spec {
    /** Single-source sugar: `computed := f(source)`. */
    def apply(source: String, computed: String, f: Column => Column): Spec =
      Spec(Seq(source), computed, (cs: Seq[Column]) => f(cs.head))
    def apply(source: String, computed: String, f: Column => Column,
        monotone: Boolean): Spec =
      Spec(Seq(source), computed, (cs: Seq[Column]) => f(cs.head), monotone)
    def modulo(source: String, computed: String, f: Column => Column,
        n: Long): Spec =
      Spec(Seq(source), computed, (cs: Seq[Column]) => f(cs.head),
        monotone = false, moduloOf = Some(n))
  }

  private val specs = new ConcurrentHashMap[(Seq[String], String), Spec]()

  def register(spec: Spec): Unit =
    specs.put((spec.sources, spec.computed), spec)

  def clear(): Unit = specs.clear()

  /** Write-path evaluation (column_evaluator.h EvaluateKeys). */
  def withComputed(df: org.apache.spark.sql.DataFrame, spec: Spec): org.apache.spark.sql.DataFrame =
    df.withColumn(spec.computed, spec.f(spec.sources.map(df(_))))

  /** Inference-level diagnostic: the extra predicate the rule would
    * conjoin for `cond` over `df` under `spec`, as Catalyst SQL text —
    * None when no image derives (full scan). The port vehicle for the
    * reference's ql_computed_columns_ut.cpp corpus, whose tests assert
    * inferred key ranges: here the observable is the derived image
    * predicate itself.
    */
  private[graft] def imageFor(df: org.apache.spark.sql.DataFrame, cond: Column,
      spec: Spec): Option[String] = {
    import org.apache.spark.sql.catalyst.plans.logical.Filter
    df.where(cond).queryExecution.optimizedPlan.collectFirst {
      case f: Filter =>
        val out = f.child.outputSet
        val srcAttrs = spec.sources.map(n => out.find(_.name == n))
        val cmpAttr = out.find(_.name == spec.computed)
        (cmpAttr, srcAttrs) match {
          case (Some(cmp), attrs) if attrs.forall(_.isDefined) =>
            DerivedPredicateRule.derivedForTop(f.condition, attrs.flatten, cmp, spec)
          case _ => None
        }
    }.flatten.map(_.sql)
  }

  /** Install the rule on a live session (idempotent). */
  def install(spark: SparkSession): Unit = {
    val existing = spark.experimental.extraOptimizations
    if (!existing.exists(_.isInstanceOf[DerivedPredicateRule.type]))
      spark.experimental.extraOptimizations = existing :+ DerivedPredicateRule
  }

  /** Constant-fold `f(vs)` at planning time. Spark 4's `functions._`
    * build unresolved expressions, so run the analyzer over a
    * OneRowRelation projection first — driver-side only, no job. */
  private def derive(f: Seq[Column] => Column, vs: Seq[Literal],
      target: DataType): Option[Literal] =
    try {
      val raw = S.convert(f(vs.map(v => S.column(Literal(v.value, v.dataType)))))
      val proj = Project(Seq(Alias(raw, "d")()), OneRowRelation())
      val analyzed = SparkSession.active.sessionState.analyzer.execute(proj)
      val e = analyzed.asInstanceOf[Project].projectList.head
        .asInstanceOf[Alias].child
      if (!(e.resolved && e.foldable && e.deterministic)) None
      else {
        val lit = Literal.create(e.eval(null), e.dataType)
        if (lit.dataType == target) Some(lit)
        else {
          // the stored computed column may be narrower (e.g. a parquet
          // partition directory reads back as int) — fold the cast too
          val c = Cast(lit, target)
          if (c.resolved) Some(Literal.create(c.eval(null), target)) else None
        }
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Conjoin `computed IN image(f, candidates)` wherever a filter pins
    * every source column of a spec and the plan also carries the
    * computed column. */
  object DerivedPredicateRule extends Rule[LogicalPlan] with PredicateHelper {
    override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
      case f @ Filter(cond, child) =>
        val out = child.outputSet
        val extras = specs.values().asScala.flatMap { spec =>
          val srcAttrs = spec.sources.map(n => out.find(_.name == n))
          val cmpAttr = out.find(_.name == spec.computed)
          (cmpAttr, srcAttrs) match {
            case (Some(cmp), attrs) if attrs.forall(_.isDefined) =>
              derivedForTop(cond, attrs.flatten, cmp, spec)
            case _ => None
          }
        }.toSeq
        val missing = extras.filterNot(e =>
          splitConjunctivePredicates(cond).exists(_.semanticEquals(e)))
        if (missing.isEmpty) f
        else Filter(missing.foldLeft(cond)(And), child)
    }

    /** Finite candidate values for one source attribute, from the
      * conjuncts that constrain it: a point/IN set, or an enumerated
      * integral/date range when both bounds are pinned and the width
      * fits the cap. */
    private def candidatesFor(conj: Seq[Expression], a: Attribute)
        : (Option[Seq[Literal]], Option[(Literal, Literal)]) = {
      var vals: Option[Seq[Literal]] = None
      var lo: Option[Long] = None
      var hi: Option[Long] = None

      def asLong(l: Literal): Option[Long] = (l.value, l.dataType) match {
        case (null, _) => None
        case (v: Byte, _) => Some(v.toLong)
        case (v: Short, _) => Some(v.toLong)
        case (v: Int, _) => Some(v.toLong)
        case (v: Long, _) => Some(v)
        case _ => None
      }
      def integral: Boolean = a.dataType match {
        case ByteType | ShortType | IntegerType | LongType | DateType => true
        case _ => false
      }
      def tightenLo(v: Long): Unit = lo = Some(lo.fold(v)(math.max(_, v)))
      def tightenHi(v: Long): Unit = hi = Some(hi.fold(v)(math.min(_, v)))
      def keep(vs: Seq[Literal]): Unit =
        vals = Some(vals.fold(vs)(prev => prev.intersect(vs)))

      conj.foreach {
        case EqualTo(x: Attribute, l: Literal) if x.semanticEquals(a) => keep(Seq(l))
        case EqualTo(l: Literal, x: Attribute) if x.semanticEquals(a) => keep(Seq(l))
        // QL's default (non-canonical) equality lowers to <=>, and
        // `l = null` / null-smallest `l <= null` fold to IS NULL —
        // both pin the source (ql_computed_columns_ut.cpp Null:
        // `where l <= null` derives the f(null) point range)
        case EqualNullSafe(x: Attribute, l: Literal) if x.semanticEquals(a) => keep(Seq(l))
        case EqualNullSafe(l: Literal, x: Attribute) if x.semanticEquals(a) => keep(Seq(l))
        case IsNull(x: Attribute) if x.semanticEquals(a) =>
          keep(Seq(Literal.create(null, a.dataType)))
        case In(x: Attribute, vs) if x.semanticEquals(a) &&
            vs.forall(_.isInstanceOf[Literal]) =>
          keep(vs.map(_.asInstanceOf[Literal]))
        case GreaterThan(x: Attribute, l: Literal) if x.semanticEquals(a) =>
          asLong(l).foreach(v => tightenLo(v + 1))
        case GreaterThanOrEqual(x: Attribute, l: Literal) if x.semanticEquals(a) =>
          asLong(l).foreach(tightenLo)
        case LessThan(x: Attribute, l: Literal) if x.semanticEquals(a) =>
          asLong(l).foreach(v => tightenHi(v - 1))
        case LessThanOrEqual(x: Attribute, l: Literal) if x.semanticEquals(a) =>
          asLong(l).foreach(tightenHi)
        // literal-on-the-left comparisons, flipped
        case GreaterThan(l: Literal, x: Attribute) if x.semanticEquals(a) =>
          asLong(l).foreach(v => tightenHi(v - 1))
        case GreaterThanOrEqual(l: Literal, x: Attribute) if x.semanticEquals(a) =>
          asLong(l).foreach(tightenHi)
        case LessThan(l: Literal, x: Attribute) if x.semanticEquals(a) =>
          asLong(l).foreach(v => tightenLo(v + 1))
        case LessThanOrEqual(l: Literal, x: Attribute) if x.semanticEquals(a) =>
          asLong(l).foreach(tightenLo)
        case _ =>
      }

      val mk: Long => Literal = a.dataType match {
        case ByteType => v => Literal(v.toByte)
        case ShortType => v => Literal(v.toShort)
        case IntegerType => v => Literal(v.toInt)
        case DateType => v => Literal(v.toInt, DateType)
        case _ => v => Literal(v)
      }
      val bounds = (lo, hi) match {
        case (Some(l), Some(h)) if integral && h >= l => Some((mk(l), mk(h)))
        case _ => None
      }
      // a contradictory range (lo > hi) is an EMPTY candidate set, not
      // an unknown one — the caller prunes the whole scan
      // (ql_computed_columns_ut.cpp DivideEmptyRange: zero ranges)
      val contradiction = (lo, hi) match {
        case (Some(l), Some(h)) if integral && h < l => true
        case _ => vals.exists(_.isEmpty)
      }
      val points =
        if (contradiction) Some(Seq.empty[Literal])
        else vals match {
          case Some(vs) => Some(vs.distinct)
          case None => (lo, hi) match {
            // width via subtraction can WRAP for far-apart bounds
            // (EstimationOverflow: l between ±2^62) — a wrapped width
            // is negative, so the guard also rejects overflow
            case (Some(l), Some(h)) if integral && h >= l &&
                (h - l) >= 0 && (h - l) < MaxEnumeration =>
              Some((l to h).map(mk))
            case _ => None
          }
        }
      (points, bounds)
    }

    /** Image predicate over possibly-null image values: null images
      * match via IS NULL (an EqualTo against a null literal would
      * drop every row — ql_computed_columns_ut.cpp Null derives the
      * f(null) point range, and Modulo residue sets include the null
      * key). */
    private def imagePredicate(cmp: Attribute, vals: Seq[Literal]): Expression = {
      val (nulls, nonNulls) = vals.distinctBy(_.value).partition(_.value == null)
      val eqPart = nonNulls match {
        case Seq() => None
        case Seq(one) => Some(EqualTo(cmp, one))
        case many => Some(In(cmp, many))
      }
      val nullPart = if (nulls.nonEmpty) Some(IsNull(cmp)) else None
      (eqPart, nullPart) match {
        case (Some(e), Some(n)) => Or(e, n)
        case (Some(e), None) => e
        case (None, Some(n)) => n
        case (None, None) => Literal(false)
      }
    }

    /** Entry point: a top-level DISJUNCTION derives the union of its
      * branches' images (the key-trie OR union — ql_range_inference_ut
      * MultipleDisjuncts, ql_computed_columns_ut Far3's tuple-IN, which
      * QL lowers to OR-of-conjunctions). All branches must derive, else
      * the union is unbounded. */
    private[plans] def derivedForTop(cond: Expression, srcs: Seq[Attribute],
        cmp: Attribute, spec: Spec): Option[Expression] = {
      splitDisjunctivePredicates(cond) match {
        case Seq(single) => derivedFor(single, srcs, cmp, spec)
        case branches =>
          val imgs = branches.map(b => derivedFor(b, srcs, cmp, spec))
          if (imgs.forall(_.isDefined)) Some(imgs.flatten.reduceLeft(Or))
          else None
      }
    }

    private[plans] def derivedFor(cond: Expression, srcs: Seq[Attribute],
        cmp: Attribute, spec: Spec): Option[Expression] = {
      val conj = splitConjunctivePredicates(cond)
      val perSource = srcs.map(a => candidatesFor(conj, a))
      if (perSource.exists(_._1.isEmpty)) {
        // no finite candidate set — a single MONOTONE source with a
        // bounded range still derives the interval image [f(lo), f(hi)]
        if (spec.monotone && srcs.length == 1) {
          return perSource.head._2.flatMap { case (loL, hiL) =>
            for {
              fl <- derive(spec.f, Seq(loL), cmp.dataType)
              fh <- derive(spec.f, Seq(hiL), cmp.dataType)
              ordered <- (fl.value, fh.value) match {
                case (a: Number, b: Number) =>
                  if (a.longValue() <= b.longValue()) Some((fl, fh))
                  else Some((fh, fl))
                case _ => None
              }
            } yield And(GreaterThanOrEqual(cmp, ordered._1),
              LessThanOrEqual(cmp, ordered._2))
          }
        }
        // `src % n`: the residue set is finite with NO source bound at
        // all — enumerate {-(n-1)..n-1} ∪ {null} (the reference's
        // modulo inferrer; negative residues cover int64 sources, the
        // null key covers a null source). Only worth conjoining when
        // the filter constrains SOMETHING else (the reference runs it
        // during range inference of an already-selected range).
        spec.moduloOf match {
          case Some(n) if n > 0 && 2 * n - 1 <= MaxEnumeration =>
            val residues = (-(n - 1) until n).map(v =>
              Literal.create(v, org.apache.spark.sql.types.LongType))
            val casted = residues.map(r =>
              if (cmp.dataType == org.apache.spark.sql.types.LongType) r
              else Literal.create(Cast(r, cmp.dataType).eval(null), cmp.dataType))
            return Some(imagePredicate(cmp,
              casted :+ Literal.create(null, cmp.dataType)))
          case _ => ()
        }
        return None
      }
      val cands = perSource.map(_._1.get)
      val tuples = cands.map(_.size.toLong).product
      // an empty candidate set is a contradictory filter — the image is
      // FALSE and the whole scan prunes away (DivideEmptyRange)
      if (tuples == 0) return Some(Literal(false))
      if (tuples > MaxEnumeration) return None
      // cross product of per-source candidates → the key-trie expansion
      val product = cands.foldLeft(Seq(Seq.empty[Literal])) { (acc, vs) =>
        acc.flatMap(prefix => vs.map(prefix :+ _))
      }
      val images = product.map(vs => derive(spec.f, vs, cmp.dataType))
      if (images.exists(_.isEmpty)) None
      else Some(imagePredicate(cmp, images.flatten))
    }
  }
}
