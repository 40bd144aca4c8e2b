package graft.plans

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, UnaryNode, Window, WindowGroupLimit}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, UnspecifiedDistribution}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

/** Whole-operator custom plan: exact top-k rows per group, executed as a
  * two-phase bounded-heap aggregation instead of the window idiom
  * (`row_number() OVER (PARTITION BY g ORDER BY s) <= k`).
  *
  * Why a custom operator: the window form shuffles EVERY row to its
  * group's partition and then fully sorts each partition, only to discard
  * all but k rows per group. The heap form keeps at most k rows per group
  * per input partition (map-side), shuffles only those survivors — k ×
  * mappers per group instead of the whole table — and repeats the bounded
  * heap on the reduce side. No sort anywhere; memory is O(groups × k) per
  * task. At 100 TB with, say, k=3 and 10⁶ groups, the exchange carries
  * ~k·groups·mappers rows instead of 10¹¹: this is the same
  * partial/final contract HashAggregateExec uses, expressed for an
  * order-statistic the built-in aggregates don't cover.
  *
  * Pieces (the full custom-operator stack):
  *  - [[TopKPerGroup]]      logical UnaryNode (output = child output)
  *  - [[TopKStrategy]]      SparkStrategy planning partial+final execs
  *  - [[TopKPerGroupExec]]  physical node; final phase declares
  *                          ClusteredDistribution(group) so
  *                          EnsureRequirements inserts exactly the one
  *                          needed exchange
  *  - [[TopK.topKPerGroup]] public API (injects the strategy, builds the
  *                          plan via the private[sql] bridge)
  * TopK.topKPerGroup injects TopKStrategy into its session itself;
  * TopKRewrite is opt-in through `spark.experimental.extraOptimizations`.
  *
  * Ties: callers must pass a total order (include a unique tiebreak
  * column, as the window idiom also requires for determinism); the heap
  * keeps the first k rows of that order exactly.
  */
case class TopKPerGroup(
    groupExprs: Seq[Attribute],
    orderExprs: Seq[SortOrder],
    k: Int,
    child: LogicalPlan) extends UnaryNode {
  require(k > 0, s"k must be positive, got $k")
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerGroup =
    copy(child = newChild)
}

object TopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerGroup(g, o, k, child) =>
      val partial = TopKPerGroupExec(g, o, k, partial = true, planLater(child))
      TopKPerGroupExec(g, o, k, partial = false, partial) :: Nil
    case _ => Nil
  }
}

case class TopKPerGroupExec(
    groupExprs: Seq[Attribute],
    orderExprs: Seq[SortOrder],
    k: Int,
    partial: Boolean,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output
  override def outputPartitioning = child.outputPartitioning
  override def nodeName: String =
    if (partial) "TopKPerGroupPartial" else "TopKPerGroupFinal"

  /** The final phase needs all rows of a group colocated; the partial
    * phase runs wherever the data already is. EnsureRequirements turns
    * this declaration into the single hash exchange between the phases. */
  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) UnspecifiedDistribution :: Nil
    else ClusteredDistribution(groupExprs) :: Nil

  protected override def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val g = groupExprs
    val o = orderExprs
    val kk = k
    child.execute().mapPartitions({ iter =>
      // codegen on the executor, once per task — same pattern as SortExec
      val keyProj = UnsafeProjection.create(g, childOutput)
      val ord = RowOrdering.create(o, childOutput)
      // max-heap under the sort order: head = worst row currently kept
      val heaps = mutable.HashMap.empty[UnsafeRow, mutable.PriorityQueue[InternalRow]]
      iter.foreach { row =>
        val key = keyProj(row) // reused buffer; copy only on first sight
        val heap = heaps.get(key) match {
          case Some(h) => h
          case None =>
            val h = mutable.PriorityQueue.empty[InternalRow](ord)
            heaps.put(key.copy(), h)
            h
        }
        if (heap.size < kk) heap.enqueue(row.copy())
        else if (ord.compare(row, heap.head) < 0) {
          heap.dequeue(); heap.enqueue(row.copy())
        }
      }
      heaps.valuesIterator.flatMap(_.iterator)
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerGroupExec =
    copy(child = newChild)
}

/** Optimizer rule: rewrite the declarative top-k idiom
  *
  *   Project(ps,  Filter(rn <= k,  Window(rn := row_number() OVER
  *     (PARTITION BY g ORDER BY s), child)))     -- ps does NOT use rn
  *
  * into `Project(ps, TopKPerGroup(g, s, k, child))`, so a user writing
  * plain DataFrame code gets the heap operator whenever the rank column
  * itself is pruned away. Spark's own InferWindowGroupLimit (3.5+) only
  * pre-filters each partition to k rows — it still sorts and still runs
  * the Window operator; this rewrite eliminates both (and strips the now-
  * redundant WindowGroupLimit if one was already inferred below).
  *
  * row_number over a non-total order resolves ties arbitrarily, so any
  * k-subset of tied rows is a correct answer — the same latitude the
  * window form has; with a total order the result is bit-identical.
  * Guards mirror LatestWinsRewrite: single row_number window expression,
  * matching partition/order specs, attribute-only partition keys. */
object TopKRewrite extends Rule[LogicalPlan] {

  private object RnAtMostK {
    def unapply(e: Expression): Option[(Attribute, Int)] = e match {
      case LessThanOrEqual(a: Attribute, IntegerLiteral(k)) => Some((a, k))
      case GreaterThanOrEqual(IntegerLiteral(k), a: Attribute) => Some((a, k))
      case LessThan(a: Attribute, IntegerLiteral(k)) => Some((a, k - 1))
      case GreaterThan(IntegerLiteral(k), a: Attribute) => Some((a, k - 1))
      case EqualTo(a: Attribute, IntegerLiteral(1)) => Some((a, 1))
      case EqualTo(IntegerLiteral(1), a: Attribute) => Some((a, 1))
      case _ => None
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case Project(ps, Filter(RnAtMostK(rnAttr, k),
        Window(Seq(al @ Alias(WindowExpression(_: RowNumber, spec), _)), part, order, wchild, _)))
        if al.exprId == rnAttr.exprId && k >= 1
          && part.nonEmpty && order.nonEmpty
          && spec.partitionSpec == part && spec.orderSpec == order
          && part.forall(_.isInstanceOf[Attribute])
          && !ps.exists(_.references.contains(rnAttr)) =>
      val child = wchild match {
        // a WindowGroupLimit inferred for this same window is subsumed by
        // the heap operator's partial phase — drop it
        case WindowGroupLimit(p2, o2, _, limit, inner)
            if p2 == part && o2 == order && limit >= k => inner
        case other => other
      }
      Project(ps, TopKPerGroup(part.map(_.asInstanceOf[Attribute]), order, k, child))
  }
}

object TopK {
  /** Exact top-k per group over `df`. `order` is (columnName, descending)
    * pairs and must be a total order for deterministic output. Injects
    * TopKStrategy into the session's experimental strategies if no
    * extension registered it. */
  def topKPerGroup(
      df: DataFrame,
      groupCols: Seq[String],
      order: Seq[(String, Boolean)],
      k: Int): DataFrame = {
    val spark = df.sparkSession
    val exp = spark.experimental
    if (!exp.extraStrategies.contains(TopKStrategy))
      exp.extraStrategies = exp.extraStrategies :+ TopKStrategy
    val plan = df.queryExecution.analyzed
    def attr(n: String): Attribute = plan.output.find(_.name == n).getOrElse(
      throw new IllegalArgumentException(
        s"no column '$n' in ${plan.output.map(_.name).mkString(",")}"))
    val sortOrders = order.map { case (n, desc) =>
      SortOrder(attr(n), if (desc) Descending else Ascending)
    }
    GraftSqlBridge.ofRows(spark, TopKPerGroup(groupCols.map(attr), sortOrders, k, plan))
  }
}
