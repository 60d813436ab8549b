package graft.engine

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.optimizer.{PushDownPredicates, RemoveRedundantAggregates}
import org.apache.spark.sql.catalyst.plans.{Inner, LeftAnti, LeftOuter, LeftSemi, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern._
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Five plan-level operator fusions for dbt-style SQL text, run at the
  * end of Catalyst's optimizer. Each turns a reference-faithful idiom into
  * a cheaper plan, and each fires only on shapes where the rewrite is
  * exact:
  *
  *  - [[CountDistinctOfKey]]: `COUNT(DISTINCT e)` where `e` is a grouping
  *    key `k`, or `CASE WHEN c THEN k END`, is at most 1 per group, so it
  *    becomes `max(CASE WHEN c AND k IS NOT NULL THEN 1 ELSE 0 END)`.
  *    Grouped aggregates only: a global one has an empty group.
  *  - [[FirstRowToMin]]: `row_number() OVER (PARTITION BY p ORDER BY o) = 1`
  *    whose consumers read only the partition keys and one ascending,
  *    nulls-first, non-floating order key `o` is the per-key minimum of
  *    `o`, taken as the min of `(o IS NOT NULL, o)` so a NULL still sorts
  *    first.
  *  - [[ExplodeAggregateToArrayFn]]: `explode(arr)`, with filters on the
  *    element, feeding a GROUP BY on the exploding row's own columns
  *    becomes per-row higher-order functions (`array_min(transform(
  *    filter(arr, p), f))`) aggregated across rows; no Generate is left.
  *    Only min, max, integral sum, count, a sorted `collect_list` and
  *    their struct-field reads decompose, over types whose order is exact
  *    (no floating point, no collated string). The rewrite also yields a
  *    group for a key none of whose elements survive, with every output
  *    NULL there, so it fires only where the aggregate's one consumer is a
  *    LEFT JOIN on exactly its grouping keys whose output no key is read
  *    from: there a missing group and an all-NULL group look the same.
  *  - [[MergeSiblingAggregates]]: aggregates over the same input (up to
  *    projections and filters) with the same grouping, each LEFT-joined on
  *    its full key to the same left-side expressions, become one aggregate
  *    and one join. A filter that only one sibling has becomes its
  *    aggregates' `FILTER` clause, and its outputs are NULLed where no row
  *    passes it, as its missing group was. No merged key may be read
  *    above the joins.
  *  - [[InferTruncatedKeyFilter]]: a join conjunct `date_trunc(u, a) = b`
  *    with `u` at most DAY means `CAST(b AS DATE) = CAST(a AS DATE)` on
  *    every matched pair, when the truncation and the cast use the same
  *    time zone. So a constraint of `a`'s side that reads `a` only
  *    through that cast also holds for `b`, and is added as a filter on
  *    `b`'s side wherever the join type lets that side be filtered (both
  *    sides of an inner join, the null-supplying side of an outer join),
  *    then pushed down.
  *
  * Plan-level fusion in the sense of "ML Inference Pipeline Execution
  * Using Pure SQL Based on Operator Fusion" (ICDE 2025): the text keeps
  * the reference's form and the optimizer picks the cheaper plan.
  */
object FusionRules {

  val rules: Seq[Rule[LogicalPlan]] = Seq(CountDistinctOfKey, FirstRowToMin,
    ExplodeAggregateToArrayFn, MergeSiblingAggregates, InferTruncatedKeyFilter)

  /** Add the rules to the session's optimizer; idempotent. */
  def setup(spark: SparkSession): Unit = synchronized {
    val exp = spark.experimental
    val missing = rules.filterNot(exp.extraOptimizations.contains)
    if (missing.nonEmpty) exp.extraOptimizations = exp.extraOptimizations ++ missing
  }

  object CountDistinctOfKey extends Rule[LogicalPlan] {
    def apply(plan: LogicalPlan): LogicalPlan = plan.transformUpWithPruning(
        _.containsPattern(AGGREGATE)) {
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
    def apply(plan: LogicalPlan): LogicalPlan = plan.transformUpWithPruning(
        _.containsAllPatterns(PROJECT, FILTER, WINDOW)) {
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
  }

  object ExplodeAggregateToArrayFn extends Rule[LogicalPlan] {
    def apply(plan: LogicalPlan): LogicalPlan = plan.transformUpWithPruning(
        _.containsAllPatterns(PROJECT, JOIN, AGGREGATE, GENERATE)) {
      case p @ Project(list, j: Join) => (for {
        (agg, _) <- keyJoin(j)
        if !readsKeys(list, agg) && renamesOnly(j.right, agg)
        fused <- fuse(agg)
      } yield fixNullability(p.copy(child = j.copy(right = j.right.transformUp {
        case a if a eq agg => fused
      })))).getOrElse(p)
    }

    private def fuse(agg: Aggregate): Option[Aggregate] = flatten(agg.child) match {
      case (Generate(Explode(arr), _, false, _, Seq(elem), gchild), conds, defs)
          if arr.dataType.isInstanceOf[ArrayType] && arr.deterministic =>
        val keys = agg.groupingExpressions
        val rowKeys = keys.forall {
          case k: Attribute => gchild.outputSet.contains(k) && defs.getOrElse(k, k).semanticEquals(k)
          case _ => false
        }
        val ArrayType(et, containsNull) = arr.dataType: @unchecked
        def fn(body: Expression): LambdaFunction = {
          val x = NamedLambdaVariable("x", et, containsNull)
          LambdaFunction(body.transformUp { case a: Attribute if a.exprId == elem.exprId => x }, Seq(x))
        }
        val sel = conds.reduceOption(And).map(c => ArrayFilter(arr, fn(c))).getOrElse(arr)
        def vals(e: Expression) = ArrayTransform(sel, fn(substitute(e, defs)))
        // A row's surviving values of `e`, NULLs dropped, typed as no NULLs.
        def nonNull(e: Expression) =
          if (!substitute(e, defs).nullable) vals(e)
          else ArrayTransform(ArrayFilter(sel, fn(IsNotNull(substitute(e, defs)))),
            fn(KnownNotNull(substitute(e, defs))))
        // A count and a list are 0 and [] where no element survives.
        var counted = false
        def decompose(ae: AggregateExpression): Option[Expression] = ae match {
          case AggregateExpression(f, Complete, false, None, _) => f match {
            case Min(e) if exactOrder(e.dataType) => Some(Min(ArrayMin(vals(e))).toAggregateExpression())
            case Max(e) if exactOrder(e.dataType) => Some(Max(ArrayMax(vals(e))).toAggregateExpression())
            case s: Sum if integral(s.child.dataType) =>
              val acc = NamedLambdaVariable("acc", LongType, nullable = true)
              val y = NamedLambdaVariable("y", s.child.dataType, nullable = false)
              val z = NamedLambdaVariable("z", LongType, nullable = true)
              val perRow = ArrayAggregate(nonNull(s.child), Literal(null, LongType), LambdaFunction(
                Add(Coalesce(Seq(acc, Literal(0L))), Cast(y, LongType)), Seq(acc, y)),
                LambdaFunction(z, Seq(z)))
              Some(s.copy(child = perRow).toAggregateExpression())
            case Count(Seq(e)) =>
              counted = true
              Some(Sum(Cast(Size(nonNull(e), legacySizeOfNull = false), LongType)).toAggregateExpression())
            case _ => None
          }
          case _ => None
        }
        def sortedList(ae: Expression): Option[Expression] = ae match {
          case AggregateExpression(CollectList(e, _, _), Complete, false, None, _)
              if exactOrder(e.dataType) =>
            counted = true
            Some(Flatten(CollectList(nonNull(e)).toAggregateExpression()))
          case _ => None
        }
        var exact = rowKeys
        def rewrite(e: Expression): Expression = e match {
          case s @ ArraySort(ae, cmp, _) if isAscending(cmp) && sortedList(ae).isDefined =>
            s.copy(argument = sortedList(ae).get)
          case s @ SortArray(ae, Literal(_: Boolean, BooleanType)) if sortedList(ae).isDefined =>
            s.copy(base = sortedList(ae).get)
          case ae: AggregateExpression => decompose(ae).getOrElse { exact = false; ae }
          case other => other.mapChildren(rewrite)
        }
        val survived = Max(GreaterThan(Size(sel, legacySizeOfNull = false), Literal(0)))
          .toAggregateExpression()
        val out = agg.aggregateExpressions.map {
          case k: Attribute if keys.exists(_.semanticEquals(k)) => k
          case al @ Alias(e, name) =>
            counted = false
            val r = rewrite(e)
            if (r.dataType != e.dataType) exact = false
            val v = if (nullOnEmpty(r) && !counted) r else If(survived, r, Literal(null, r.dataType))
            Alias(v, name)(exprId = al.exprId, qualifier = al.qualifier)
          case other => exact = false; other
        }
        if (!exact) None
        else Some(Aggregate(keys, out, dropExplodeFilters(gchild, arr)))
      case _ => None
    }

    /** The filters Spark infers from a non-outer explode (`arr IS NOT NULL`,
      * `size(arr) > 0`) only drop rows with no element; after the rewrite
      * those rows yield all-NULL outputs, so the filters go, and sibling
      * aggregates over the same table keep the same input.
      */
    private def dropExplodeFilters(plan: LogicalPlan, arr: Expression): LogicalPlan = plan match {
      case p @ Project(list, c) =>
        p.copy(child = dropExplodeFilters(c, substitute(arr, aliases(list))))
      case Filter(cond, c) =>
        val kept = conjuncts(cond).filterNot {
          case IsNotNull(x) => x.semanticEquals(arr)
          case GreaterThan(Size(x, _), Literal(0, IntegerType)) => x.semanticEquals(arr)
          case _ => false
        }
        kept.reduceOption(And).map(Filter(_, c)).getOrElse(c)
      case other => other
    }

    /** `array_sort`'s default ascending comparator, as analysis leaves it. */
    private def isAscending(cmp: Expression): Boolean = cmp match {
      case LambdaFunction(f, Seq(l: NamedLambdaVariable, r: NamedLambdaVariable), _) =>
        def is(v: NamedLambdaVariable)(es: Expression*) = es.forall {
          case x: NamedLambdaVariable => x.exprId == v.exprId
          case _ => false
        }
        def lt(e: Expression) = e match {
          case If(LessThan(a, b), Literal(-1, IntegerType),
                  If(GreaterThan(c, d), Literal(1, IntegerType), Literal(0, IntegerType))) =>
            is(l)(a, c) && is(r)(b, d)
          case _ => false
        }
        f match {
          case If(And(IsNull(a), IsNull(b)), Literal(0, IntegerType),
                  If(IsNull(c), Literal(1, IntegerType), If(IsNull(d), Literal(-1, IntegerType), rest))) =>
            is(l)(a, c) && is(r)(b, d) && lt(rest)
          case other => lt(other)
        }
      case _ => false
    }

    private def integral(t: DataType) = t match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
  }

  object MergeSiblingAggregates extends Rule[LogicalPlan] {
    def apply(plan: LogicalPlan): LogicalPlan = plan.transformUpWithPruning(
        _.containsAllPatterns(PROJECT, JOIN, AGGREGATE)) {
      case p @ Project(list, j: Join) => merge(list, j).getOrElse(p)
    }

    /** One aggregate LEFT-joined to the parent, seen through its
      * projections and filters: `base` with `conds` applied, and `defs`
      * mapping the aggregate's input columns to expressions over `base`.
      */
    private case class Sibling(join: Join, agg: Aggregate, parentKeys: Seq[Expression],
                               base: LogicalPlan, conds: Seq[Expression],
                               defs: AttributeMap[Expression])

    /** A sibling's grouping keys, filter conjuncts and aggregate outputs,
      * moved onto another sibling's base.
      */
    private case class Moved(keys: Seq[Expression], conds: Seq[Expression], outs: Seq[Alias])

    private def move(s: Sibling, host: Sibling): Option[Moved] =
      onto(s.base, host.base).flatMap { f =>
        val keys = s.agg.groupingExpressions.map(k => f(substitute(k, s.defs)))
        val conds = s.conds.map(f)
        val outs = s.agg.aggregateExpressions.collect { case al: Alias =>
          f(substitute(al.child, s.defs)).map(e =>
            Alias(e, al.name)(exprId = al.exprId, qualifier = al.qualifier))
        }
        if ((keys ++ conds ++ outs).forall(_.isDefined))
          Some(Moved(keys.flatten, conds.flatten, outs.flatten))
        else None
      }

    /** A sibling every one of `g` moves onto with the same keys, joined on
      * the same parent expressions, and the moved siblings.
      */
    private def fit(g: Vector[Sibling]): Option[(Sibling, Vector[Moved])] =
      g.iterator.flatMap { host =>
        val moved = g.map(move(_, host))
        val hostKeys = host.agg.groupingExpressions.map(substitute(_, host.defs))
        if (moved.forall(_.isDefined) && moved.flatten.forall(_.keys.zip(hostKeys).forall {
              case (a, b) => a.semanticEquals(b) }) &&
            g.forall(_.parentKeys.zip(host.parentKeys).forall {
              case (a, b) => a.semanticEquals(b) }))
          Some(host -> moved.flatten)
        else None
      }.nextOption()

    private def merge(list: Seq[NamedExpression], top: Join): Option[LogicalPlan] = {
      // Walk down the left spine of LEFT JOINs to key-joined aggregates.
      val sibs = scala.collection.mutable.ListBuffer.empty[Sibling]
      var node: LogicalPlan = top
      var walking = true
      while (walking) node match {
        case j: Join => keyJoin(j) match {
          case Some((agg, parentKeys)) if renamesOnly(j.right, agg) && agg.deterministic &&
              agg.aggregateExpressions.forall(_.collectFirst {
                case ae: AggregateExpression if ae.isDistinct => ae }.isEmpty) =>
            val (base, conds, defs) = flatten(agg.child)
            sibs.prepend(Sibling(j, agg, parentKeys, base, conds, defs))
            node = j.left match {
              case Project(pl, c: Join) if pl.forall(_.isInstanceOf[Attribute]) => c
              case l => l
            }
          case _ => walking = false
        }
        case _ => walking = false
      }
      val parent = node
      val groups = sibs.foldLeft(Vector.empty[Vector[Sibling]]) { (gs, s) =>
        gs.indexWhere(g => fit(g :+ s).isDefined) match {
          case -1 => gs :+ Vector(s)
          case i => gs.updated(i, gs(i) :+ s)
        }
      }
      val merged = groups.filter(_.size > 1)
      val ok = merged.nonEmpty &&
        sibs.forall(_.parentKeys.forall(_.references.subsetOf(parent.outputSet))) &&
        !merged.flatten.exists(s => readsKeys(list, s.agg))
      if (!ok) None
      else Some(fixNullability(Project(list, groups.foldLeft(parent) { (acc, g) =>
        if (g.size == 1) g.head.join.copy(left = acc)
        else {
          val (host, moved) = fit(g).get
          val (right, keyOut) = mergeGroup(g, host, moved)
          Join(acc, right, LeftOuter, Some(host.parentKeys.zip(keyOut)
            .map { case (x, k) => EqualTo(x, k): Expression }.reduce(And)), JoinHint.NONE)
        }
      })))
    }

    /** One aggregate for a group of siblings, under a projection that gives
      * every sibling's joined columns their old ids, and its key columns.
      */
    private def mergeGroup(g: Vector[Sibling], host: Sibling,
                           moved: Vector[Moved]): (LogicalPlan, Seq[Attribute]) = {
      val common = moved.head.conds.filter(c => moved.forall(_.conds.exists(_.semanticEquals(c))))
      val keyOut = host.agg.groupingExpressions.map(_.asInstanceOf[Attribute])
      val keyExprs = moved.head.keys.zip(keyOut).map {
        case (e: Attribute, k) if e.exprId == k.exprId => k
        case (e, k) => Alias(e, k.name)(exprId = k.exprId, qualifier = k.qualifier)
      }
      val aggs = moved.flatMap { m =>
        val own = m.conds.filterNot(c => common.exists(_.semanticEquals(c))).reduceOption(And)
        m.outs.map { al =>
          val e = al.child.transformUp {
            case ae: AggregateExpression if own.isDefined =>
              ae.copy(filter = Some(ae.filter.map(And(own.get, _)).getOrElse(own.get)))
          }
          val v = own match {
            case Some(c) if !nullOnEmpty(e) => If(Max(Literal(true)).toAggregateExpression(
              isDistinct = false, filter = Some(c)), e, Literal(null, e.dataType))
            case _ => e
          }
          Alias(v, al.name)(exprId = al.exprId, qualifier = al.qualifier)
        }
      }
      val input = common.reduceOption(And).map(Filter(_, host.base)).getOrElse(host.base)
      val agg = Aggregate(moved.head.keys, keyExprs ++ aggs, input)
      // Each sibling's joined columns: renames of its aggregate's outputs.
      val renames = g.flatMap { s =>
        s.join.right.output.filterNot(a => s.agg.groupingExpressions.exists(_.semanticEquals(a)))
          .map(a => a -> substitute(a, flatten(s.join.right)._3))
      }.collect { case (a, e: Attribute) if e.exprId != a.exprId =>
        Alias(e, a.name)(exprId = a.exprId, qualifier = a.qualifier)
      }
      (if (renames.isEmpty) agg else Project(agg.output ++ renames, agg), keyOut)
    }

    /** Maps expressions over `from`'s output onto `to`'s, where `to` reads
      * the same rows: the same plan, or a scan of the same files whose
      * nested columns `from` pruned to a subset. A pruned column may then
      * only be read through one field extraction, which is re-resolved by
      * name; any other use makes the mapping fail (None).
      */
    private def onto(from: LogicalPlan, to: LogicalPlan): Option[Expression => Option[Expression]] =
      if (from.sameResult(to)) {
        val m = AttributeMap[Expression](from.output.zip(to.output))
        Some(e => Some(substitute(e, m)))
      } else (from, to) match {
        case (a: LogicalRelation, b: LogicalRelation) if sameFiles(a, b) &&
            a.output.map(_.name) == b.output.map(_.name) &&
            a.output.zip(b.output).forall { case (x, y) => prunes(y.dataType, x.dataType) } =>
          val m = AttributeMap[Attribute](a.output.zip(b.output))
          Some(widen(_, m))
        case _ => None
      }

    private def sameFiles(a: LogicalRelation, b: LogicalRelation): Boolean =
      (a.relation, b.relation) match {
        case (x: HadoopFsRelation, y: HadoopFsRelation) =>
          x.location == y.location && x.fileFormat.getClass == y.fileFormat.getClass &&
            x.options == y.options && x.partitionSchema == y.partitionSchema &&
            x.bucketSpec == y.bucketSpec && !a.isStreaming && !b.isStreaming &&
            a.catalogTable.map(_.identifier) == b.catalogTable.map(_.identifier)
        case _ => false
      }

    /** Whether `narrow` is `full` with some nested struct fields left out. */
    private def prunes(full: DataType, narrow: DataType): Boolean = (full, narrow) match {
      case (f: StructType, n: StructType) => n.fields.forall(nf =>
        f.fields.find(_.name == nf.name).exists(ff => ff.nullable == nf.nullable &&
          prunes(ff.dataType, nf.dataType)))
      case (ArrayType(fe, fc), ArrayType(ne, nc)) => fc == nc && prunes(fe, ne)
      case _ => full == narrow
    }

    private def widen(e: Expression, m: AttributeMap[Attribute]): Option[Expression] = {
      var ok = true
      def wide(c: Expression) = c match {
        case a: Attribute => m.get(a).filter(_.dataType != a.dataType)
        case _ => None
      }
      def checked(old: Expression, now: Expression) = {
        if (now.dataType != old.dataType) ok = false
        now
      }
      def rw(x: Expression): Expression = x match {
        case g @ GetStructField(c, ord, name) if wide(c).isDefined =>
          val w = wide(c).get
          val st = w.dataType.asInstanceOf[StructType]
          checked(g, GetStructField(w, st.fieldIndex(c.dataType.asInstanceOf[StructType](ord).name), name))
        case g @ GetArrayStructFields(c, field, _, _, _) if wide(c).isDefined =>
          val w = wide(c).get
          val ArrayType(st: StructType, containsNull) = w.dataType: @unchecked
          val i = st.fieldIndex(field.name)
          checked(g, GetArrayStructFields(w, st(i), i, st.size, containsNull))
        case a: Attribute => m.get(a) match {
          case Some(w) => if (w.dataType != a.dataType) ok = false; w
          case None => a
        }
        case o => o.mapChildren(rw)
      }
      val out = rw(e)
      if (ok) Some(out) else None
    }
  }

  object InferTruncatedKeyFilter extends Rule[LogicalPlan] {
    def apply(plan: LogicalPlan): LogicalPlan = plan.transformUpWithPruning(
        _.containsPattern(JOIN)) {
      case j @ Join(l, r, jt, Some(cond), _) =>
        val pairs = conjuncts(cond).flatMap {
          case EqualTo(t: TruncTimestamp, b) => Some(t -> b)
          case EqualTo(b, t: TruncTimestamp) => Some(t -> b)
          case _ => None
        }.filter { case (t, b) => dayOrFiner(t) && b.dataType == TimestampType }
        def infer(from: LogicalPlan, onto: LogicalPlan): LogicalPlan = {
          val found = pairs.flatMap { case (t, b) =>
            val a = t.timestamp
            if (!a.references.subsetOf(from.outputSet) || !b.references.subsetOf(onto.outputSet)) Nil
            else from.constraints.toSeq.flatMap { c =>
              var through = false
              val moved = c.transformDown {
                case Cast(x, DateType, tz, mode) if x.semanticEquals(a) && tz == t.timeZoneId =>
                  through = true
                  Cast(b, DateType, tz, mode)
              }
              if (through && c.deterministic && moved.references.subsetOf(onto.outputSet)) Some(moved)
              else None
            }
          }
          val fresh = found.filterNot(p => onto.constraints.exists(_.semanticEquals(p)) ||
            onto.exists {
              case Filter(c, _) => conjuncts(c).exists(_.semanticEquals(p))
              case _ => false
            })
          fresh.reduceOption(And).map(c => PushDownPredicates(Filter(c, onto))).getOrElse(onto)
        }
        val (left, right) = jt match {
          case Inner => (infer(r, l), infer(l, r))
          case LeftOuter | LeftSemi | LeftAnti => (l, infer(l, r))
          case RightOuter => (infer(r, l), r)
          case _ => (l, r)
        }
        if ((left eq l) && (right eq r)) j else j.copy(left = left, right = right)
    }

    /** `date_trunc` to DAY or finer keeps the date in its own time zone. */
    private def dayOrFiner(t: TruncTimestamp): Boolean = t.format match {
      case Literal(u: UTF8String, _: StringType) => Set("MICROSECOND", "MILLISECOND", "SECOND",
        "MINUTE", "HOUR", "DAY", "DD").contains(u.toString.toUpperCase(java.util.Locale.ROOT)) &&
        t.timestamp.dataType == TimestampType
      case _ => false
    }
  }

  // ---- shared by the rules above

  /** Types whose `=` holds only between identical values. */
  private def exactEquality(t: DataType): Boolean = t match {
    case s: StringType => s == StringType
    case ByteType | ShortType | IntegerType | LongType | BooleanType | DateType |
         TimestampType | TimestampNTZType => true
    case _ => false
  }

  /** Types whose ordering puts only identical values level, so a min, a
    * max or a sort picks the same value whatever the input order.
    */
  private def exactOrder(t: DataType): Boolean = t match {
    case s: StructType => s.fields.forall(f => exactOrder(f.dataType))
    case a: ArrayType => exactOrder(a.elementType)
    case _: DecimalType | BinaryType => true
    case o => exactEquality(o)
  }

  /** An aggregate output that is NULL when its group has no input rows. */
  private def nullOnEmpty(e: Expression): Boolean = e match {
    case ae: AggregateExpression => ae.aggregateFunction match {
      case _: Min | _: Max | _: Sum | _: Average | _: First | _: Last => true
      case _ => false
    }
    case GetStructField(c, _, _) => nullOnEmpty(c)
    case _ => false
  }

  private def aliases(list: Seq[NamedExpression]): AttributeMap[Expression] =
    AttributeMap(list.collect { case a: Alias => a.toAttribute -> a.child })

  private def substitute(e: Expression, defs: AttributeMap[Expression]): Expression =
    if (defs.isEmpty) e else e.transformUp { case a: Attribute => defs.getOrElse(a, a) }

  /** A chain of deterministic projections and filters, seen from its top:
    * the plan below it, the filter conjuncts and the top's columns, both
    * as expressions over that plan's output.
    */
  private def flatten(p: LogicalPlan): (LogicalPlan, Seq[Expression], AttributeMap[Expression]) =
    p match {
      case Project(list, c) if list.forall(_.deterministic) =>
        val (base, conds, defs) = flatten(c)
        (base, conds, AttributeMap(list.map(ne => ne.toAttribute -> substitute(ne match {
          case a: Alias => a.child
          case o => o
        }, defs))))
      case Filter(cond, c) if cond.deterministic =>
        val (base, conds, defs) = flatten(c)
        (base, conds ++ conjuncts(substitute(cond, defs)), defs)
      case other => (other, Nil, AttributeMap.empty[Expression])
    }

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(a, b) => conjuncts(a) ++ conjuncts(b)
    case o => Seq(o)
  }

  /** `l LEFT JOIN r ON l.x1 = r.k1 AND ...` where `r` is a grouped
    * aggregate, under projections that pass its grouping columns `k`
    * through, joined on exactly those: the aggregate and the left-side
    * expressions in key order.
    */
  private def keyJoin(j: Join): Option[(Aggregate, Seq[Expression])] = j match {
    case Join(l, r, LeftOuter, Some(cond), JoinHint.NONE) => belowProjects(r) match {
      case a: Aggregate if a.groupingExpressions.nonEmpty &&
          a.groupingExpressions.forall(k => k.isInstanceOf[Attribute] && r.outputSet.contains(
            k.asInstanceOf[Attribute])) =>
        val keys = a.groupingExpressions.map(_.asInstanceOf[Attribute])
        def isKey(e: Expression) = e match {
          case k: Attribute => keys.exists(_.exprId == k.exprId)
          case _ => false
        }
        def onLeft(x: Expression) = x.deterministic && x.references.subsetOf(l.outputSet)
        val pairs = conjuncts(cond).map {
          case EqualTo(x, k: Attribute) if isKey(k) && onLeft(x) => Some(k.exprId -> x)
          case EqualTo(k: Attribute, x) if isKey(k) && onLeft(x) => Some(k.exprId -> x)
          case _ => None
        }
        val byKey = pairs.flatten.toMap
        if (pairs.forall(_.isDefined) && pairs.size == keys.size && byKey.size == keys.size)
          Some(a -> keys.map(k => byKey(k.exprId)))
        else None
      case _ => None
    }
    case _ => None
  }

  private def belowProjects(p: LogicalPlan): LogicalPlan = p match {
    case Project(_, c) => belowProjects(c)
    case o => o
  }

  /** Whether the projections between a join's right side and `agg` only
    * pass through or rename columns, which keep a NULL a NULL.
    */
  private def renamesOnly(right: LogicalPlan, agg: Aggregate): Boolean = right match {
    case a if a eq agg => true
    case Project(list, c) => list.forall {
      case _: Attribute => true
      case Alias(_: Attribute, _) => true
      case _ => false
    } && renamesOnly(c, agg)
    case _ => false
  }

  private def readsKeys(list: Seq[NamedExpression], agg: Aggregate): Boolean =
    list.exists(_.references.exists(a => agg.groupingExpressions.exists(_.semanticEquals(a))))

  /** Re-derives each attribute reference's nullability from the plan below
    * it, as analysis does: a rewrite can make a non-NULL column nullable.
    */
  private def fixNullability(plan: LogicalPlan): LogicalPlan = plan.transformUp { case p =>
    val below = AttributeMap(p.children.flatMap(_.output).map(a => a -> a))
    p.transformExpressions {
      case a: AttributeReference if below.get(a).exists(_.nullable != a.nullable) =>
        a.withNullability(below(a).nullable)
    }
  }
}
