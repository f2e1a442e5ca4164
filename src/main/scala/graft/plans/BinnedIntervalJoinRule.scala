package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Generate, Join, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Optimizer rule: rewrite point-in-interval theta joins into binned
  * equi-joins automatically.
  *
  * A join whose condition contains `p >= lo AND p <= hi` — `p` from one
  * side, `lo`/`hi` from the other — has no equi component for those
  * predicates, so Spark plans a (Broadcast)NestedLoopJoin: quadratic
  * work, and a driver-sized broadcast when neither side is small. The
  * same libraryscale problem the `graft.operators.RangeJoin` helper
  * solves *explicitly* is solved here *transparently*: the interval
  * side gains `explode(sequence(floor(lo/B), floor(hi/B)))` bins via a
  * `Generate`, the point side contributes `floor(p/B)`, and the pair
  * becomes an equality key the planner turns into a hash join (the
  * original range predicate stays as the residual filter).
  *
  * Correctness: a point `p` satisfies `floor(p/B) ∈ [floor(lo/B),
  * floor(hi/B)]` whenever `lo <= p <= hi`, and each (point, interval)
  * pair matches on exactly one bin value — so the rewrite never changes
  * the join's row multiset (see `BinnedIntervalJoinRuleSpec`, which
  * checks equality against the un-rewritten join).
  *
  * Install via `spark.experimental.extraOptimizations :+= BinnedIntervalJoinRule`
  * or by building the session with [[GraftExtensions]].
  * Inner joins only (outer variants need the helper's explicit form,
  * `RangeJoin.pointInIntervalLeftOuter`). Bin width: 1e6 (gene-scale
  * intervals; SURVEY §4).
  */
object BinnedIntervalJoinRule extends Rule[LogicalPlan] with PredicateHelper {

  val BinSize = 1000000.0
  private val BinCol = "__graft_bin"

  private def refsOnly(e: Expression, side: LogicalPlan): Boolean =
    e.references.nonEmpty && e.references.subsetOf(side.outputSet)

  private def binOf(e: Expression): Expression =
    Floor(Divide(Cast(e, DoubleType), Literal(BinSize)))

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case j @ Join(left, right, Inner, Some(cond), hint)
        if !cond.exists {
          case a: AttributeReference => a.name == BinCol
          case _ => false
        } =>
      val conjuncts = splitConjunctivePredicates(cond)
      // Joins that already carry a cross-side equality conjunct get a
      // hash/sort-merge plan from the planner (and are often already
      // explicitly binned via operators/RangeJoin); re-binning them
      // would duplicate the interval side's Generate for no plan
      // improvement. The rule exists to rescue joins that would
      // otherwise be nested-loop — pure range theta joins.
      val hasEqui = conjuncts.exists {
        case EqualTo(l, r) =>
          (refsOnly(l, left) && refsOnly(r, right)) ||
            (refsOnly(l, right) && refsOnly(r, left))
        case EqualNullSafe(l, r) =>
          (refsOnly(l, left) && refsOnly(r, right)) ||
            (refsOnly(l, right) && refsOnly(r, left))
        case _ => false
      }
      // find p >= lo (point on left, bound on right) and p <= hi pairs
      val lower: Option[(Expression, Expression)] = conjuncts.collectFirst {
        case GreaterThanOrEqual(p, lo) if refsOnly(p, left) && refsOnly(lo, right) => (p, lo)
        case LessThanOrEqual(lo, p) if refsOnly(p, left) && refsOnly(lo, right) => (p, lo)
      }
      val upper: Option[(Expression, Expression)] = conjuncts.collectFirst {
        case LessThanOrEqual(p, hi) if refsOnly(p, left) && refsOnly(hi, right) => (p, hi)
        case GreaterThanOrEqual(hi, p) if refsOnly(p, left) && refsOnly(hi, right) => (p, hi)
      }
      if (hasEqui) j
      else (lower, upper) match {
        case (Some((p1, lo)), Some((p2, hi)))
            if p1.semanticEquals(p2) &&
              p1.dataType == LongType && lo.dataType == LongType && hi.dataType == LongType =>
          // Sequence is TimeZoneAwareExpression: unresolved until a
          // timezone is attached, even for integral sequences
          val generator = Explode(
            Sequence(binOf(lo), binOf(hi), None, Some(conf.sessionLocalTimeZone)))
          val elem = generator.elementSchema.fields.head
          val binAttr = AttributeReference(BinCol, elem.dataType, elem.nullable)()
          val gen = Generate(generator, unrequiredChildIndex = Nil, outer = false,
            qualifier = None, generatorOutput = Seq(binAttr), child = right)
          val newCond = (conjuncts :+ EqualTo(binOf(p1), binAttr)).reduce(And)
          // project the bin column away above the join
          org.apache.spark.sql.catalyst.plans.logical.Project(
            j.output, Join(left, gen, Inner, Some(newCond), hint))
        case _ => j
      }
  }
}

/** `SparkSessionExtensions` installer for the graft optimizer rules and
  * native functions. Every session the library builds (`Verify`,
  * `Bench`, smoke, tests) gets it from `graft.GraftSession.local`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import graft.functions._

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => BinnedIntervalJoinRule)
    Seq(
      native[BitmapIntersectCount]("bitmap_inter_count", 2)(a => BitmapIntersectCount(a(0), a(1))),
      native[ArrayDotProduct]("array_dot", 2)(a => ArrayDotProduct(a(0), a(1))),
      native[ArrayL2Sq]("array_l2sq", 2)(a => ArrayL2Sq(a(0), a(1))),
      native[MinhashSignature]("minhash_sig", 2)(a => MinhashSignature(a(0), a(1))),
      native[SortedIntersectCount]("sorted_inter_count", 2)(a => SortedIntersectCount(a(0), a(1))),
      native[ShingleHashes]("shingle_hashes", 1)(a => ShingleHashes(a(0))),
      native[DictBitmap]("dict_bitmap", 3)(a => DictBitmap(a(0), a(1), a(2)))
    ).foreach(ext.injectFunction)
  }

  /** The (identifier, info, builder) triple `injectFunction` takes for
    * the SQL function `name` of expression class `E`, whose builder
    * checks the argument count. */
  private def native[E <: Expression](name: String, arity: Int)(make: Seq[Expression] => E)(
      implicit tag: scala.reflect.ClassTag[E]): (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier(name), new ExpressionInfo(tag.runtimeClass.getCanonicalName, name),
      (args: Seq[Expression]) => {
        require(args.length == arity,
          s"$name takes $arity argument${if (arity == 1) "" else "s"}, got ${args.length}")
        make(args)
      })
}
