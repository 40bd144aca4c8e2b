package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.MaxBy
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.TypeUtils

/** Optimizer rule (SURVEY.md §7 M5): rewrite the latest-wins idiom
  *
  *   Filter(rn = 1, Window(rn := row_number() OVER (PARTITION BY k
  *                         ORDER BY s1 DESC, s2 DESC, …), child))
  *
  * into a hash aggregation
  *
  *   Aggregate(k, max_by(col, struct(s1, s2, …, <all other cols>)) …, child)
  *
  * Why: the window form requires a full shuffle + SORT of every partition
  * to rank rows, then discards all but one row per key. The aggregate form
  * is one hash aggregation with map-side partial max — no sort, and the
  * shuffle carries one row per key per mapper instead of the whole input.
  * At 100 TB with high key cardinality this is the difference between a
  * sort-spill pipeline and a streaming partial aggregate.
  *
  * Applicability guards (conservative):
  *  - exactly one window expression, and it is row_number();
  *  - the filter is `rn = 1` (either literal side);
  *  - every ORDER BY direction is DESC NULLS LAST (the DESC default).
  *    max_by compares null keys as smallest (struct ordering), so for
  *    DESC NULLS FIRST row_number()=1 picks a null-key row while max_by
  *    picks the non-null max — such plans must NOT be rewritten;
  *  - every involved type is orderable (struct comparator requirement).
  *
  * The max_by key is struct(orderCols ++ remaining output) — a total
  * order over rows, so column values are never spliced across tied rows
  * (strictly more deterministic than row_number's arbitrary tie pick).
  *
  * A session opts in by appending it to
  * `spark.experimental.extraOptimizations` (LatestWinsRewriteSpec does).
  */
object LatestWinsRewrite extends Rule[LogicalPlan] {

  private object RnEqualsOne {
    def unapply(e: Expression): Option[Attribute] = e match {
      case EqualTo(a: Attribute, Literal(1, _)) => Some(a)
      case EqualTo(Literal(1, _), a: Attribute) => Some(a)
      case _ => None
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case Filter(RnEqualsOne(rnAttr),
        w @ Window(Seq(alias @ Alias(WindowExpression(_: RowNumber, spec), _)), part, order, child, _))
        if alias.exprId == rnAttr.exprId
          && part.nonEmpty
          && order.nonEmpty
          && order.forall(o => o.direction == Descending && o.nullOrdering == NullsLast)
          && spec.partitionSpec == part
          && child.output.forall(a => TypeUtils.checkForOrderingExpr(a.dataType, "latest-wins").isSuccess) =>
      val partAttrs = AttributeSet(part.flatMap(_.references))
      val orderExprs = order.map(_.child)
      // total order: sort keys first, then every remaining column
      val tieBreakers = child.output.filterNot(a =>
        partAttrs.contains(a) || orderExprs.exists(_.semanticEquals(a)))
      val key = CreateStruct(orderExprs ++ tieBreakers)
      val aggExprs: Seq[NamedExpression] = child.output.map { a =>
        if (partAttrs.contains(a)) a
        else Alias(MaxBy(a, key).toAggregateExpression(), a.name)(exprId = a.exprId)
      } :+ Alias(Literal(1), alias.name)(exprId = alias.exprId)
      Aggregate(part, aggExprs, child)
  }
}
