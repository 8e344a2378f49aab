package org.apache.spark.sql.graft

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, UnspecifiedDistribution}
import org.apache.spark.sql.classic.{Dataset, ExpressionUtils}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

/** Whole-operator Catalyst extension: per-key top-k retention as a
  * SORT-FREE heap pass — SURVEY.md §2 item 38b.
  *
  * Honest positioning vs what Spark 4 already does: the declarative
  * route (`row_number() OVER (PARTITION BY key ORDER BY ord) <= k`)
  * is NOT naive anymore — `InferWindowGroupLimit` (Spark 3.5+) plans
  * it with partial/final `WindowGroupLimitExec` stages, so its shuffle
  * is already bounded to survivors, same as here. What the built-in
  * path still pays and this operator does not:
  *
  *  - `WindowGroupLimitExec` declares `requiredChildOrdering`, so BOTH
  *    stages sort every input partition on (keys, order) in full —
  *    O(n log n) per partition, spillable — before the group-limit
  *    walk. The heap pass here is O(n log k) with k-bounded state and
  *    no sort, partial or final.
  *  - The built-in pipeline still runs the Window operator on the
  *    survivors to materialize the rank column the filter consumes,
  *    then filters, then drops it. When the caller wants the ROWS (the
  *    dominant shape: "latest row per user", "k examples per cluster"),
  *    rank materialization is pure overhead; downstream code that does
  *    want ranks re-derives them on the ≤ keys×k survivors for free.
  *
  * It also exists as a first-class API rather than an optimizer
  * inference: the rewrite only fires when the plan happens to match the
  * window+filter idiom, while `TopK.perKey` is the operator stated
  * directly.
  *
  * Plan shape: the same partial/final split as hash aggregation — a
  * partial [[TopKPerKeyExec]] with no distribution requirement bounds
  * every input partition to ≤ k rows per key, a final exec requiring
  * `ClusteredDistribution(keys)` merges survivors, so the exchange
  * carries at most partitions×keys×k rows. Per-partition state is
  * keys-in-partition × k rows; like partial aggregation, that bound is
  * the operator's contract (k is small by definition of the shape).
  * Against pathological key cardinality the partial stage caps its
  * tracked keys at `spark.graft.topk.maxTrackedKeys` (default 10⁶) and
  * passes rows for keys beyond the cap through unpruned — exactness is
  * unaffected (the final stage is authoritative), only the exchange
  * grows for the saturated tail.
  *
  * Result rows are EXACTLY the rows `row_number() ... <= k` keeps when
  * the ordering is total (callers append a unique tie-break column, as
  * they must for a deterministic window too) — TopKPerKeySpec pins the
  * equivalence against the window plan on multi-partition data.
  * NULL-key rows group together (groupBy semantics); null ordering
  * follows each [[SortOrder]]'s null placement.
  */
case class TopKPerKeyPlan(keys: Seq[Expression], order: Seq[SortOrder],
    k: Int, child: LogicalPlan) extends UnaryNode {
  TopK.requireK(k)
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKeyPlan =
    copy(child = newChild)
}

/** Planner strategy: logical [[TopKPerKeyPlan]] → final(partial(child)). */
object TopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKeyPlan(keys, order, k, child) =>
      TopKPerKeyExec(keys, order, k, partial = false,
        TopKPerKeyExec(keys, order, k, partial = true, planLater(child))) :: Nil
    case _ => Nil
  }
}

/** Physical per-key top-k: a bounded selection buffer per key, one pass
  * over the partition. `partial = true` runs before the exchange (pure
  * pruning, any input distribution), `partial = false` after it
  * (authoritative per-key result under clustered distribution). */
case class TopKPerKeyExec(keys: Seq[Expression], order: Seq[SortOrder],
    k: Int, partial: Boolean, child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output

  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) UnspecifiedDistribution :: Nil
    else ClusteredDistribution(keys) :: Nil

  // Pruning preserves whatever partitioning the child has.
  override def outputPartitioning = child.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val keyExprs = keys
    val sortOrder = order
    val kk = k
    // Partial-stage safety valve: the heap map holds keys-in-partition
    // × k rows, which on a pathological key cardinality could exceed
    // task memory (the sort-based WindowGroupLimit plan would spill
    // instead). Once the PARTIAL map reaches this many keys, rows for
    // new keys PASS THROUGH unpruned — partial is pure pruning, so
    // the clustered final stage still produces the exact answer, just
    // with a fatter exchange for the saturated tail. The final stage
    // never caps: its state is proportional to its own output
    // (≤ k rows per owned key), the same bound any hash aggregation
    // carries.
    val maxKeys = if (partial) {
      val key = "spark.graft.topk.maxTrackedKeys"
      val raw = conf.getConfString(key, "1000000")
      val parsed = scala.util.Try(raw.trim.toInt).getOrElse(
        throw new IllegalArgumentException(
          s"$key must be a positive integer, got '$raw'"))
      require(parsed > 0,
        s"$key must be a positive integer, got '$raw' — a non-positive " +
          "cap would disable partial pruning entirely")
      parsed
    } else Int.MaxValue
    // LazilyGeneratedOrdering is serializable and regenerates its code
    // on the executor; UnsafeProjection.create runs inside the task.
    val ordering = new LazilyGeneratedOrdering(sortOrder, childOutput)
    child.execute().mapPartitionsInternal { iter =>
      val keyProj = UnsafeProjection.create(keyExprs, childOutput)
      // Max-heap under the sort order: head = the kept row that sorts
      // LAST, i.e. the first to evict — so the buffer holds the k rows
      // that sort first, exactly row_number()'s survivors.
      val byKey = mutable.HashMap.empty[UnsafeRow, mutable.PriorityQueue[InternalRow]]
      // filter, not flatMap(Option): no per-row wrapper allocation on
      // the hot path — a row survives the filter ONLY when the key map
      // is saturated (emit unpruned, the final stage decides).
      val pruned = iter.filter { row =>
        val key = keyProj(row)
        byKey.get(key) match {
          case Some(heap) =>
            if (heap.size < kk) {
              heap.enqueue(row.copy())
            } else if (ordering.compare(row, heap.head) < 0) {
              heap.dequeue()
              heap.enqueue(row.copy())
            }
            false
          case None if byKey.size < maxKeys =>
            // Copy the (reused) key buffer only on first sight.
            val h = mutable.PriorityQueue.empty[InternalRow](ordering)
            h.enqueue(row.copy())
            byKey.put(key.copy(), h)
            false
          case None => true
        }
      }
      // `++`'s right side is by-name: the heaps drain only after the
      // input (and so the map) is complete.
      pruned ++ byKey.valuesIterator.flatMap(_.iterator)
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyExec =
    copy(child = newChild)
}

object TopK {
  /** The check of `k`, as the plan's topn command states it. */
  def requireK(k: Int): Unit = require(k > 0, s"topn k must be positive, got $k")

  /** Retain per key the k rows that sort first under `orderBy` (append
    * a unique tie-break column for a deterministic result, exactly as a
    * `row_number` window needs). Installs [[TopKStrategy]] into the
    * session's experimental strategies on first use, so no session
    * rebuild or `spark.sql.extensions` config is required. */
  def perKey(df: DataFrame, keyCols: Seq[String], orderBy: Seq[Column], k: Int): DataFrame = {
    val spark = df.sparkSession
    // extraStrategies is a plain var on the session: serialize the
    // check-then-append so two first-callers can't drop each other's
    // (or a third party's) strategy. Sessions built with
    // GraftExtensions already carry the strategy via
    // injectPlannerStrategy and never enter the append.
    TopKStrategy.synchronized {
      if (!spark.experimental.extraStrategies.contains(TopKStrategy)) {
        spark.experimental.extraStrategies =
          spark.experimental.extraStrategies :+ TopKStrategy
      }
    }
    val analyzed = df.queryExecution.analyzed
    val resolver = spark.sessionState.analyzer.resolver
    val keys: Seq[Expression] = keyCols.map { n =>
      analyzed.output.find(a => resolver(a.name, n)).getOrElse(
        throw new IllegalArgumentException(
          s"key column '$n' not in ${analyzed.output.map(_.name).mkString(", ")}"))
    }
    // Columns carry node-based sort orders in Spark 4; convert eagerly
    // to Catalyst expressions (the lazy ColumnNodeExpression wrapper
    // only resolves inside classic Dataset operators, not custom nodes).
    val order = orderBy.map(c =>
      org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node) match {
        case s: SortOrder => s
        case e => SortOrder(e, Ascending)
      })
    Dataset.ofRows(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      TopKPerKeyPlan(keys, order, k, analyzed))
  }
}
