package graft.plans

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, GraftSqlBridge, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, DeclarativeAggregate}
import org.apache.spark.sql.catalyst.planning.{ExtractEquiJoinKeys, PhysicalAggregation}
import org.apache.spark.sql.catalyst.plans.{Inner, LeftOuter}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.{LOCAL_RELATION, PLAN_EXPRESSION}

/** Driver-local execution as an optimizer rule: Catalyst's own
  * `ConvertToLocalRelation` folds Project, Filter and Limit over a
  * `LocalRelation`; this rule folds the rest of what a spreadsheet
  * pipeline does to one. It replaces each maximal subtree whose leaves are
  * all `LocalRelation`s, whose nodes are all Project, Filter, global Sort,
  * Expand (what `unpivot` becomes), Union, Limit, Aggregate or an inner or
  * left equi-join, and whose expressions are deterministic, evaluable and
  * subquery-free, by the `LocalRelation` of its result. An Aggregate folds
  * only when its aggregates are non-distinct [[DeclarativeAggregate]]s with
  * no FILTER clause. `LocalTableScanExec` then serves every action on the
  * result without a Spark job.
  *
  * The subtree is evaluated with Spark's interpreted machinery: mutable
  * and unsafe projections, predicates, orderings, and each aggregate's
  * initial, update and evaluate expressions. It matches Spark's results:
  * a global aggregate over no rows returns one row and a grouped one none;
  * float grouping and join keys are normalized as the planner does; a
  * Sort is stable, so only rows tied on the whole key may come out in
  * another order than a distributed sort gives. Rows stream between
  * operators: an Expand feeding an Aggregate never holds its expanded rows.
  *
  * A fold that would hold more than [[RowBudget]] rows, or whose
  * evaluation throws, leaves the subtree lazy, so Spark runs it (and
  * raises any error) at execution time. A plan with no `LocalRelation`
  * leaf is returned at once. Registered by [[GraftExtensions]]. */
object LocalFold extends Rule[LogicalPlan] {

  /** Rows one fold may hold at once: a Sort's rows, an Aggregate's groups,
    * a join's build side and the folded result each count. The
    * reference's largest sheet holds about 10^4 rows; melted over its
    * store columns (a dozen in the allocation layouts) it becomes about
    * 10^5 long rows before the group-sum, so 10^5 folds any real sheet and
    * keeps a fold's driver memory to tens of megabytes. */
  val RowBudget: Int = 100000

  override def apply(plan: LogicalPlan): LogicalPlan = foldTop(plan)

  /** The `LocalRelation` `df`'s optimized plan is, when it is one: this
    * rule (or Catalyst's `ConvertToLocalRelation`) already evaluated the
    * frame on the driver, and these rows are its answer. */
  def folded(df: DataFrame): Option[LocalRelation] = df.queryExecution.optimizedPlan match {
    case r: LocalRelation if !r.isStreaming => Some(r)
    case _ => None
  }

  /** `df.collect()`, read straight from the folded rows when `df` is
    * [[folded]]: the action skips physical planning, the SQL execution,
    * `LocalTableScanExec`'s row copy and the row encoder, since the
    * optimizer already holds the answer. Rows convert with
    * `CatalystTypeConverters` under the calling thread's SQL conf, so dates
    * and timestamps take the classes `collect()` gives. Any other frame
    * goes through `df.collect()`.
    *
    * A folded action posts no SQL execution: `QueryExecutionListener`s,
    * the SQL tab of the UI and SQL listener events do not see it. */
  def collect(df: DataFrame): Array[Row] = folded(df) match {
    case Some(r) =>
      val toRow = CatalystTypeConverters.createToScalaConverter(df.schema)
      r.data.iterator.map(toRow(_).asInstanceOf[Row]).toArray
    case None => df.collect()
  }

  private def foldTop(p: LogicalPlan): LogicalPlan =
    if (p.isInstanceOf[LocalRelation] || !p.containsPattern(LOCAL_RELATION)) p
    else if (foldable(p)) fold(p).getOrElse(p)
    else p.mapChildren(foldTop)

  private def foldable(p: LogicalPlan): Boolean = (p match {
    case r: LocalRelation => !r.isStreaming
    case _: Project | _: Filter | _: Expand | _: Union => true
    case s: Sort => s.global
    case GlobalLimit(IntegerLiteral(_), _) | LocalLimit(IntegerLiteral(_), _) => true
    case a: Aggregate => a.aggregateExpressions.forall(_.collect {
      case ae: AggregateExpression => ae
    }.forall(ae => ae.aggregateFunction.isInstanceOf[DeclarativeAggregate] &&
      !ae.isDistinct && ae.filter.isEmpty))
    case j: Join => (j.joinType == Inner || j.joinType == LeftOuter) &&
      ExtractEquiJoinKeys.unapply(j).isDefined
    case _ => false
  }) && p.expressions.forall(e =>
      e.deterministic && !e.containsPattern(PLAN_EXPRESSION) && evaluable(e)) &&
    p.children.forall(foldable)

  private def evaluable(e: Expression): Boolean = e match {
    case ae: AggregateExpression => ae.aggregateFunction.children.forall(evaluable)
    case s: SortOrder => evaluable(s.child)
    case _: AttributeReference => true
    case _: Unevaluable => false
    case _ => e.children.forall(evaluable)
  }

  private final class OverBudget extends RuntimeException(null, null, false, false)

  private final class Budget {
    private var left = RowBudget
    def take(): Unit = { left -= 1; if (left < 0) throw new OverBudget }
  }

  private def fold(p: LogicalPlan): Option[LocalRelation] =
    try {
      val budget = new Budget
      val data = p match {
        case s: Sort => sorted(s, budget)
        case _ => held(rows(p, budget), budget)
      }
      Some(LocalRelation(p.output, data))
    } catch { case NonFatal(_) => None }

  private def held(in: Iterator[InternalRow], budget: Budget): Vector[InternalRow] = {
    val out = Vector.newBuilder[InternalRow]
    in.foreach { r => budget.take(); out += r.copy() }
    out.result()
  }

  /** A stable sort on keys computed once per row: each row's sort key is
    * projected as it arrives, and the (key, row) pairs are ordered on
    * references to the key's fields, so no comparison re-evaluates a key
    * expression. */
  private def sorted(s: Sort, budget: Budget): Vector[InternalRow] = {
    val key = new InterpretedMutableProjection(s.order.map(_.child), s.child.output)
    val order = new InterpretedOrdering(s.order.zipWithIndex.map { case (o, i) =>
      o.copy(child = BoundReference(i, o.dataType, o.nullable))
    })
    val keyed = Vector.newBuilder[(InternalRow, InternalRow)]
    rows(s.child, budget).foreach { r => budget.take(); keyed += ((key(r).copy(), r.copy())) }
    keyed.result().sortBy(_._1)(order).map(_._2)
  }

  /** The rows of `p`, streamed: a row may be reused by the next `next()`. */
  private def rows(p: LogicalPlan, budget: Budget): Iterator[InternalRow] = p match {
    case r: LocalRelation => r.data.iterator
    case Project(list, child) =>
      val proj = new InterpretedMutableProjection(list, child.output)
      rows(child, budget).map(proj)
    case Filter(cond, child) =>
      val pred = InterpretedPredicate(BindReferences.bindReference(cond, child.output))
      rows(child, budget).filter(pred.eval)
    case s: Sort => sorted(s, budget).iterator
    case Expand(projections, _, child) =>
      val projs = projections.map(new InterpretedMutableProjection(_, child.output))
      rows(child, budget).flatMap(r => projs.iterator.map(_(r)))
    case u: Union => u.children.iterator.flatMap(rows(_, budget))
    case GlobalLimit(IntegerLiteral(n), child) => rows(child, budget).take(n)
    case LocalLimit(IntegerLiteral(n), child) => rows(child, budget).take(n)
    case a: Aggregate => aggregate(a, budget)
    case j: Join => join(j, budget)
  }

  private def keyOf(keys: Seq[Expression], in: Seq[Attribute]): UnsafeProjection =
    InterpretedUnsafeProjection.createProjection(
      BindReferences.bindReferences(keys.map(GraftSqlBridge.normalizeFloats), in))

  /** Hash aggregation in Spark's complete mode: one buffer per group, in
    * first-seen order, updated row by row from the streamed child. */
  private def aggregate(a: Aggregate, budget: Budget): Iterator[InternalRow] = {
    val PhysicalAggregation(groupings, aggs, results, child) = a: @unchecked
    val funcs = aggs.map(_.aggregateFunction.asInstanceOf[DeclarativeAggregate])
    val bufferAttrs = funcs.flatMap(_.aggBufferAttributes)
    val init = new InterpretedMutableProjection(funcs.flatMap(_.initialValues), Nil)
    val update = new InterpretedMutableProjection(
      funcs.flatMap(_.updateExpressions), bufferAttrs ++ child.output)
    val evaluate = new InterpretedMutableProjection(funcs.map(_.evaluateExpression), bufferAttrs)
    val result = new InterpretedMutableProjection(
      results, groupings.map(_.toAttribute) ++ aggs.map(_.resultAttribute))
    val key = keyOf(groupings, child.output)
    val groups = new java.util.LinkedHashMap[UnsafeRow, InternalRow]
    def newBuffer(k: UnsafeRow): InternalRow = {
      budget.take()
      val buf = new SpecificInternalRow(bufferAttrs.map(_.dataType))
      init.target(buf)(InternalRow.empty)
      groups.put(k.copy(), buf)
      buf
    }
    val joined = new JoinedRow
    rows(child, budget).foreach { r =>
      val k = key(r)
      val buf = Option(groups.get(k)).getOrElse(newBuffer(k))
      update.target(buf)(joined(buf, r))
    }
    if (groups.isEmpty && groupings.isEmpty) newBuffer(key(InternalRow.empty))
    groups.entrySet.iterator.asScala.map(e => result(joined(e.getKey, evaluate(e.getValue))))
  }

  /** Inner or left outer hash join: the right side is the build side,
    * left rows stream in order; a key with a null never matches. */
  private def join(j: Join, budget: Budget): Iterator[InternalRow] = {
    val ExtractEquiJoinKeys(joinType, leftKeys, rightKeys, other, _, left, right, _) = j: @unchecked
    val rightKey = keyOf(rightKeys, right.output)
    val build = new java.util.HashMap[UnsafeRow, Vector[InternalRow]]
    rows(right, budget).foreach { r =>
      val k = rightKey(r)
      if (!k.anyNull) {
        budget.take()
        build.merge(k.copy(), Vector(r.copy()), (a, b) => a ++ b)
      }
    }
    val leftKey = keyOf(leftKeys, left.output)
    val cond = other.map(c =>
      InterpretedPredicate(BindReferences.bindReference(c, left.output ++ right.output)))
    val joined = new JoinedRow
    val noMatch = new GenericInternalRow(right.output.size)
    rows(left, budget).flatMap { l =>
      val k = leftKey(l)
      val hits = (if (k.anyNull) Vector.empty else build.getOrDefault(k, Vector.empty))
        .iterator.map(joined(l, _)).filter(r => cond.forall(_.eval(r)))
      if (joinType == LeftOuter && !hits.hasNext) Iterator.single(joined(l, noMatch))
      else hits
    }
  }
}
