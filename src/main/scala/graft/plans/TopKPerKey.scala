package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSeq, BindReferences, Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

import scala.collection.mutable

/** Per-key bounded top-k as a WHOLE custom operator — the full extension
  * ladder the built-ins can't reach: a logical node, a planner strategy,
  * and a two-phase physical operator (SURVEY.md §7.3 tier (c)).
  *
  * Semantics: keep, for every distinct value of `keys`, the `k` rows
  * ranking highest by (`order` DESC, `tie` ASC) — exactly
  * `row_number() OVER (PARTITION BY keys ORDER BY order DESC, tie ASC)
  * <= k` with the rank column dropped. `tie` must make the order total
  * within a key or ties are broken arbitrarily; rows whose `order`
  * evaluates to null are dropped (a window ranks them somewhere — make
  * nulls explicit before calling if they matter).
  *
  * Why not the window? `row_number().over(partitionBy(key).orderBy(...))`
  * SORTS every partition in full: at 100 TB that is a full shuffle of
  * the input plus an O(n log n) sort per partition, to then discard all
  * but k rows per key. This operator instead runs a bounded heap
  * (O(n log k), O(keys·k) memory — a hash-aggregate's footprint) over
  * each input partition BEFORE the exchange, so the shuffle moves at
  * most `partitions·keys·k` pre-filtered rows, then reduces the same
  * way after it. Top-k is a mergeable aggregate: topK(A ∪ B) =
  * topK(topK(A) ∪ topK(B)) — the partial/final split is lossless.
  *
  * Whole-stage codegen: DELIBERATELY NOT implemented (r7 verdict ask #8,
  * decision recorded). The operator is *blocking* — it emits nothing
  * until its input partition is exhausted — so joining a produce/consume
  * pipeline would still have to materialize every kept row in the heap
  * buffer; Spark draws the same line for its own bounded-top-k
  * (`TakeOrderedAndProjectExec` is not `CodegenSupport` either). What
  * matters for the hot path is preserved: the operator consumes its
  * CHILD's codegen'd stage through one virtual iterator boundary (the
  * same boundary a codegen'd stage pays at any exchange), the key
  * projection is a generated `UnsafeProjection`, and the per-row cost is
  * heap-bounded at O(log k). MEASURED (r9, SCALE.md's TopKPerKeyExec
  * entry: sf0.1, 600k-row lineitem, 20k keys, k=2, min of 3): scan-only
  * 0.135 s, custom operator 0.497 s, window+filter 0.951 s, custom with
  * the child's whole-stage codegen disabled 0.560 s. Reading: the
  * operator's own cost above the scan (0.36 s) is the absolute ceiling
  * on any operator-codegen win, and most of it is heap maintenance that
  * generated code wouldn't elide (the key projection is already a
  * generated UnsafeProjection); the +13% when the CHILD's codegen is
  * turned off shows the boundary does preserve the child stage's
  * codegen value. Decision: stay interpreted, 1.9× ahead of the window
  * plan it replaces. */
case class TopKPerKeyPlan(keys: Seq[Expression], order: Expression,
    tie: Expression, k: Int, child: LogicalPlan) extends UnaryNode {
  require(k > 0, s"k must be positive, got $k")
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(c: LogicalPlan): TopKPerKeyPlan =
    copy(child = c)
}

/** Planner rule: partial (per input partition) → exchange on `keys`
  * (inserted by EnsureRequirements for the final's required
  * distribution) → final. */
object TopKPerKeyStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case p: TopKPerKeyPlan =>
      TopKPerKeyExec(p.keys, p.order, p.tie, p.k, partial = false,
        TopKPerKeyExec(p.keys, p.order, p.tie, p.k, partial = true,
          planLater(p.child))) :: Nil
    case _ => Nil
  }
}

/** Bounded-heap per-key top-k over each partition. The `partial` phase
  * accepts any input distribution; the final phase requires clustering
  * on `keys`, which EnsureRequirements satisfies with one hash exchange
  * over the partial's (already ≤ keys·k rows per partition) output. */
case class TopKPerKeyExec(keys: Seq[Expression], order: Expression,
    tie: Expression, k: Int, partial: Boolean, child: SparkPlan)
    extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) Seq(UnspecifiedDistribution)
    else Seq(ClusteredDistribution(keys))
  override def nodeName: String =
    if (partial) "GraftTopKPerKeyPartial" else "GraftTopKPerKeyFinal"
  override protected def doExecute(): RDD[InternalRow] = {
    val (ks, o, t, kk, out) = (keys, order, tie, k, child.output)
    child.execute().mapPartitions(
      TopKPerKeyExec.boundedTopK(_, ks, o, t, kk, out),
      preservesPartitioning = true)
  }
  override protected def withNewChildInternal(c: SparkPlan): TopKPerKeyExec =
    copy(child = c)
}

object TopKPerKeyExec {
  private case class Entry(ord: Any, tie: Any, row: InternalRow)

  /** One pass, one bounded heap per key: O(n log k) time,
    * O(distinctKeys · k) rows held — the same memory contract as a hash
    * aggregate over the same keys. */
  def boundedTopK(iter: Iterator[InternalRow], keys: Seq[Expression],
      order: Expression, tie: Expression, k: Int,
      input: Seq[Attribute]): Iterator[InternalRow] = {
    val keyProj = UnsafeProjection.create(keys, input)
    val ordExpr = BindReferences.bindReference(order, AttributeSeq(input))
    val tieExpr = BindReferences.bindReference(tie, AttributeSeq(input))
    val ordOrd = TypeUtils.getInterpretedOrdering(order.dataType)
    val tieOrd = TypeUtils.getInterpretedOrdering(tie.dataType)
    // the priority queue dequeues its MAX: define "greater" = worse kept
    // row (smaller order value; then larger tie value)
    val worstFirst: Ordering[Entry] = (x: Entry, y: Entry) => {
      val c = ordOrd.compare(x.ord, y.ord)
      if (c != 0) -c else tieOrd.compare(x.tie, y.tie)
    }
    val heaps = mutable.LinkedHashMap.empty[UnsafeRow, mutable.PriorityQueue[Entry]]
    iter.foreach { row =>
      val ordV = ordExpr.eval(row)
      if (ordV != null) {
        val e = Entry(ordV, tieExpr.eval(row), row.copy())
        val pq = heaps.getOrElseUpdate(keyProj(row).copy(),
          mutable.PriorityQueue.empty(worstFirst))
        if (pq.size < k) pq.enqueue(e)
        else if (worstFirst.compare(e, pq.head) < 0) { pq.dequeue(); pq.enqueue(e) }
      }
    }
    heaps.valuesIterator.flatMap(_.iterator.map(_.row))
  }
}
