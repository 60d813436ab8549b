package graft.engine

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Count, Max, Min}
import org.apache.spark.sql.catalyst.optimizer.RemoveRedundantAggregates
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types._

/** Two plan-level operator fusions for dbt-style SQL text, run at the end
  * of Catalyst's optimizer. Each turns a reference-faithful idiom that
  * Spark plans as a multi-phase distinct aggregate or a sorted window into
  * one single-pass aggregate, and each fires only on shapes where the
  * rewrite is exact:
  *
  *  - [[CountDistinctOfKey]]: `COUNT(DISTINCT e)` where `e` is a grouping
  *    key `k`, or `CASE WHEN c THEN k END`, is at most 1 per group, so it
  *    becomes `max(CASE WHEN c AND k IS NOT NULL THEN 1 ELSE 0 END)`.
  *  - [[FirstRowToMin]]: `row_number() OVER (PARTITION BY p ORDER BY o) = 1`
  *    whose consumers read only the partition keys and one ascending,
  *    nulls-first order key `o` is the per-key minimum of `o`, taken as the
  *    min of `(o IS NOT NULL, o)` so a NULL still sorts first.
  *
  * Plan-level fusion in the sense of "ML Inference Pipeline Execution
  * Using Pure SQL Based on Operator Fusion" (ICDE 2025): the text keeps
  * the reference's form and the optimizer picks the cheaper plan.
  */
object FusionRules {

  val rules: Seq[Rule[LogicalPlan]] = Seq(CountDistinctOfKey, FirstRowToMin)

  /** Add both rules to the session's optimizer; idempotent. */
  def setup(spark: SparkSession): Unit = synchronized {
    val exp = spark.experimental
    val missing = rules.filterNot(exp.extraOptimizations.contains)
    if (missing.nonEmpty) exp.extraOptimizations = exp.extraOptimizations ++ missing
  }

  object CountDistinctOfKey extends Rule[LogicalPlan] {
    def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
      // A global aggregate has an (empty) group where COUNT is 0 and max
      // is NULL; grouped aggregates only have non-empty groups.
      case a: Aggregate if a.groupingExpressions.nonEmpty =>
        def isKey(e: Expression) = a.groupingExpressions.exists(_.semanticEquals(e))
        def counted(e: Expression): Option[Expression] = e match {
          case k if isKey(k) => Some(IsNotNull(k))
          case CaseWhen(Seq((c, k)), None | Some(Literal(null, _))) if isKey(k) =>
            Some(And(c, IsNotNull(k)))
          case If(c, k, Literal(null, _)) if isKey(k) => Some(And(c, IsNotNull(k)))
          case _ => None
        }
        val aggs = a.aggregateExpressions.map(_.transformDown {
          case ae @ AggregateExpression(Count(Seq(e)), Complete, true, None, _) =>
            counted(e).map(c => Coalesce(Seq(
              Max(If(c, Literal(1L), Literal(0L))).toAggregateExpression(), Literal(0L))))
              .getOrElse(ae)
        }.asInstanceOf[NamedExpression])
        if (aggs == a.aggregateExpressions) a else a.copy(aggregateExpressions = aggs)
    }
  }

  object FirstRowToMin extends Rule[LogicalPlan] with PredicateHelper {
    def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
      case p @ Project(list, Filter(cond, w: Window)) => rewrite(list, cond, w).getOrElse(p)
    }

    private def rewrite(list: Seq[NamedExpression], cond: Expression,
                        w: Window): Option[LogicalPlan] = {
      val child = w.child match {
        case g: WindowGroupLimit if g.partitionSpec == w.partitionSpec &&
          g.orderSpec == w.orderSpec => g.child
        case c => c
      }
      // Window keys are often `_wN` aliases of the columns consumers read
      // (`PARTITION BY d.type` next to `d.type AS type`): compare
      // attributes by what the child's projection defines them as.
      val defs = child match {
        case Project(pl, _) => AttributeMap(pl.collect { case a: Alias => a.toAttribute -> a.child })
        case _ => AttributeMap.empty[Expression]
      }
      def same(a: Attribute, b: Attribute) =
        defs.getOrElse(a, a).semanticEquals(defs.getOrElse(b, b))
      val keys = w.partitionSpec.collect { case a: Attribute => a }
      def keyOf(a: Attribute) = keys.find(same(_, a))
      val rn = w.windowExpressions match {
        case Seq(al @ Alias(WindowExpression(RowNumber(), _), _)) => Some(al.toAttribute)
        case _ => None
      }
      // Order entries on partition keys are constant within a partition.
      val k = w.orderSpec.filterNot(o => o.child match {
        case a: Attribute => keyOf(a).isDefined
        case _ => false
      }) match {
        case Seq(SortOrder(a: Attribute, Ascending, NullsFirst, _))
            if a.dataType != DoubleType && a.dataType != FloatType => Some(a)
        case _ => None
      }
      def isFirst(e: Expression) = rn.exists(r => e match {
        case EqualTo(a: Attribute, Literal(1, _)) => a.semanticEquals(r)
        case EqualTo(Literal(1, _), a: Attribute) => a.semanticEquals(r)
        case _ => false
      })
      def isRnNotNull(e: Expression) = rn.exists(r => e match {
        case IsNotNull(a: Attribute) => a.semanticEquals(r)
        case _ => false
      })
      val conjuncts = splitConjunctivePredicates(cond)
      val onKeys = conjuncts.filterNot(c => isFirst(c) || isRnNotNull(c))
      val read = AttributeSet(list.flatMap(_.references)).toSeq
      val exact = rn.isDefined && k.isDefined && keys.nonEmpty &&
        keys.size == w.partitionSpec.size && conjuncts.exists(isFirst) &&
        onKeys.forall(_.references.forall(keyOf(_).isDefined)) && read.nonEmpty &&
        read.forall(a => keyOf(a).isDefined || same(a, k.get))
      if (!exact) None
      else {
        val key = k.get
        val first: Expression =
          if (!key.nullable) Min(key).toAggregateExpression()
          else GetStructField(Min(CreateNamedStruct(Seq(
            Literal("nn"), IsNotNull(key), Literal("v"), key))).toAggregateExpression(), 1, Some("v"))
        // Each column read keeps its exprId, so the plan above is unchanged.
        val out = read.map { a =>
          keyOf(a) match {
            case Some(p) if p.exprId == a.exprId => a
            case Some(p) => Alias(p, a.name)(exprId = a.exprId, qualifier = a.qualifier)
            case None => Alias(first, a.name)(exprId = a.exprId, qualifier = a.qualifier)
          }
        }
        // A filter on partition keys keeps or drops whole partitions, so
        // it runs before the aggregate. A key it pins to one value, and no
        // consumer reads, need not be grouped on; the other keys are then
        // unique in the output, as in a hand-written per-key aggregate,
        // which the planner's join size estimate relies on.
        def pinned(p: Attribute) = exactEquality(p.dataType) && onKeys.exists {
          case EqualTo(a: Attribute, _: Literal) => same(a, p)
          case EqualTo(_: Literal, a: Attribute) => same(a, p)
          case _ => false
        }
        val grouped = keys.filterNot(p => pinned(p) && !read.exists(keyOf(_).contains(p)))
        val input = onKeys.reduceOption(And).map(Filter(_, child)).getOrElse(child)
        Some(Project(list, RemoveRedundantAggregates(
          Aggregate(if (grouped.nonEmpty) grouped else keys, out, input))))
      }
    }

    /** Types whose `=` holds only between identical values. */
    private def exactEquality(t: DataType): Boolean = t match {
      case s: StringType => s == StringType
      case ByteType | ShortType | IntegerType | LongType | BooleanType | DateType |
           TimestampType | TimestampNTZType => true
      case _ => false
    }
  }
}
