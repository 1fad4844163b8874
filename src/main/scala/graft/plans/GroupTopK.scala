package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

/** Whole-operator Catalyst extension (the (c) extension point of the
  * build plan, completing the menu next to the `DotF32` Expression,
  * the `RangeJoinBinning` optimizer rule, the `GeoMeanE2` UDAF, and
  * the DSv2 connectors): grouped top-k as a first-class PHYSICAL
  * operator.
  *
  * Logical contract: keep the first `k` rows per group under
  * `ordering` (a total order — callers include a tiebreak). The
  * strategy plans it as TWO execs of the same operator — a partial
  * pass running k-heaps per group inside each input partition, then a
  * final pass whose `requiredChildDistribution` clusters on the group
  * columns, so `EnsureRequirements` inserts the hash exchange BETWEEN
  * them and the exchange carries only the partial stage's
  * ≤ partitions·groups·k survivors. This is `topk_grouped_heap`'s
  * typed-Dataset shape promoted to the planner: any caller (or a
  * future rewrite rule matching filter-over-rank patterns) gets the
  * survivors-only exchange without hand-writing the two phases, and
  * the plan SHOWS the shape (`TopKPerGroupExec(partial=…)`) instead of
  * hiding it in opaque lambdas.
  */
case class GroupTopK(groupCols: Seq[Expression], ordering: Seq[SortOrder],
    k: Int, child: LogicalPlan, pruneOnly: Boolean = false) extends UnaryNode {
  require(k > 0, s"k must be positive, got $k")
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): GroupTopK =
    copy(child = newChild)
}

/** Rewrites `Filter(row_number() <= k)` over a grouped window into the
  * [[GroupTopK]] operator, so any rank-filter query (window_rank, the
  * ANN per-query top-k windows, user SQL) gets the survivors-only
  * exchange and heap-based partial pass WITHOUT hand-writing the two
  * phases — the rewrite the [[GroupTopK]] scaladoc anticipated.
  *
  * Shape matched: `Filter(cmp(rn, lit), Window([rn := row_number()
  * over (partition by ps order by os)], child))` with ps and os
  * non-empty and the bound k ∈ [1, MaxK]. Spark's own
  * InferWindowGroupLimit usually fires first and leaves
  * `WindowGroupLimit` under the Window; we REPLACE that node (its
  * partial exec sorts every input partition on os — O(n log n) per
  * task — where the heap is O(n log k) and sortless; both exchange
  * only survivors, so the heap strictly wins the map side).
  *
  * The inserted node is the PRUNE-ONLY form: a map-side superset
  * prune with flush-capped state and NO final phase — the Window
  * above owns the exchange and its spillable sort restores exact
  * ranks over ≤ partitions·groups·k survivors. That keeps the
  * rewrite safe at ANY group cardinality (a per-doc_id rank filter
  * over 10⁹ docs flushes instead of growing an unbounded heap map),
  * matching the memory posture of the WindowGroupLimit path it
  * replaces.
  *
  * Soundness: the pruned stream retains a superset of every group's
  * top-k under (os); the Window above recomputes row_number over it,
  * so ranks 1..k are preserved and the kept Filter re-applies the
  * bound. With ties at the boundary row_number is nondeterministic in
  * which row gets rank k — the rewrite picks the same answer CLASS
  * the unrewritten plan could pick (callers wanting determinism
  * already carry a total-order tiebreak, as every registered query
  * here does). RANK/DENSE_RANK are NOT rewritten: their boundary
  * semantics keep all tied rows, which a k-bounded heap cannot
  * represent. */
object RankFilterToGroupTopK extends org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions._
  import org.apache.spark.sql.catalyst.plans.logical.{Filter, Window, WindowGroupLimit}

  /** Heap state is O(groups·k) per task — the operator's contract.
    * Bounds k so a `rank <= 10^6` filter stays on the sort-based
    * WindowGroupLimit path instead of ballooning task heaps. */
  val MaxK = 1000

  /** Upper bound on `rn` implied by ONE comparison conjunct, if any. */
  private def conjunctBound(cond: Expression, rn: Attribute): Option[Int] = {
    object L { def unapply(e: Expression): Option[Int] = e match {
      case Literal(v: Int, _: org.apache.spark.sql.types.IntegerType) => Some(v)
      case _ => None
    }}
    cond match {
      case LessThanOrEqual(a: Attribute, L(k)) if a.semanticEquals(rn) => Some(k)
      case LessThan(a: Attribute, L(k)) if a.semanticEquals(rn) => Some(k - 1)
      case EqualTo(a: Attribute, L(k)) if a.semanticEquals(rn) => Some(k)
      case EqualTo(L(k), a: Attribute) if a.semanticEquals(rn) => Some(k)
      case GreaterThanOrEqual(L(k), a: Attribute) if a.semanticEquals(rn) => Some(k)
      case GreaterThan(L(k), a: Attribute) if a.semanticEquals(rn) => Some(k - 1)
      case _ => None
    }
  }

  /** Tightest rank bound over the condition's AND-conjuncts. The other
    * conjuncts don't block the rewrite: the kept Filter re-applies
    * them over the window output, and pruning to rank survivors first
    * only ever removes rows the rank conjunct would reject anyway. */
  private def bound(cond: Expression, rn: Attribute): Option[Int] = {
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    conjuncts(cond).flatMap(conjunctBound(_, rn)) match {
      case Seq() => None
      case ks => Some(ks.min)
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond,
        w @ Window(Seq(a @ Alias(WindowExpression(_: RowNumber, spec), _)),
          ps, os, wchild, _))
        if ps.nonEmpty && os.nonEmpty &&
          spec.frameSpecification.isInstanceOf[SpecifiedWindowFrame] &&
          !wchild.isInstanceOf[GroupTopK] =>
      val rn = a.toAttribute
      bound(cond, rn).filter(k => k >= 1 && k <= MaxK).map { k =>
        val inner = wchild match {
          // InferWindowGroupLimit already inserted its sort-based
          // limiter for this same (ps, os, k): take its child — the
          // heap subsumes it (never loosen a tighter existing limit)
          case WindowGroupLimit(_, _, _, limit, gc) if limit >= k => gc
          case _ => wchild
        }
        f.copy(child = w.copy(child =
          GroupTopK(ps, os, k, inner, pruneOnly = true)))
      }.getOrElse(f)
  }
}

/** Plans [[GroupTopK]] as partial → (exchange) → final. Installed per
  * session via [[Plans.install]] or cluster-wide via
  * [[GraftExtensions]]. */
object GroupTopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case GroupTopK(g, o, k, child, pruneOnly) =>
      val partial = TopKPerGroupExec(g, o, k, partial = true, planLater(child))
      // pruneOnly = a pure map-side SUPERSET prune: no final phase, no
      // required distribution, flush-capped state — for callers whose
      // own downstream operator (a window + rank filter) restores
      // exactness. The two-phase form stays the exact-set operator for
      // bounded group domains.
      if (pruneOnly) partial :: Nil
      else TopKPerGroupExec(g, o, k, partial = false, partial) :: Nil
    case _ => Nil
  }
}

/** Bounded-state grouped top-k: one k-heap per group key per
  * partition, O(n log k) work, no sort. The same operator serves both
  * phases; only the required distribution differs.
  *
  * Memory contract: the PARTIAL pass flush-caps its heap map — when a
  * task has seen [[TopKPerGroupExec.FlushGroups]] distinct groups OR
  * retains [[TopKPerGroupExec.FlushRows]] rows it emits every retained
  * row and starts a fresh map, so partial-pass state is
  * O(min(FlushGroups · k, FlushRows)) REGARDLESS of group cardinality
  * AND of k (a
  * group whose rows straddle a flush contributes the union of
  * per-segment top-ks — still a superset of its true top-k, which is
  * all the partial phase promises). The FINAL pass never flushes
  * (exactness) — its memory is the result itself, so the TWO-PHASE
  * form's domain is "groups·k fits a task" (dashboards, per-class
  * leaders); key-cardinality explosions use the pruneOnly form under
  * a window, where the spillable sort above restores exactness.
  * Output order within a group is heap order (unspecified) —
  * [[GroupTopK]]'s contract is the SET of survivors, and callers
  * needing ranks sort the result. */
case class TopKPerGroupExec(groupCols: Seq[Expression],
    ordering: Seq[SortOrder], k: Int, partial: Boolean, child: SparkPlan)
    extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) UnspecifiedDistribution :: Nil
    else ClusteredDistribution(groupCols) :: Nil
  override protected def withNewChildInternal(newChild: SparkPlan): SparkPlan =
    copy(child = newChild)
  override protected def doExecute(): RDD[InternalRow] = {
    val grp = groupCols
    val ord = ordering
    val attrs = child.output
    val kk = k
    val isPartial = partial
    child.execute().mapPartitions({ it =>
      val keyProj = UnsafeProjection.create(grp, attrs)
      // PriorityQueue pops the MAX of this ordering = the LAST row in
      // sort order among the kept = the worst survivor — exactly what
      // a better candidate replaces.
      val rowOrd: Ordering[InternalRow] = RowOrdering.create(ord, attrs)
      val heaps = scala.collection.mutable.HashMap
        .empty[UnsafeRow, scala.collection.mutable.PriorityQueue[InternalRow]]
      // exact count of rows currently held across all heaps — the flush
      // trigger budgets RETAINED ROWS, not groups, so worst-case partial
      // state stays ~constant across k (k=1000 over wide group domains
      // flushes at the same row volume as k=10)
      var retained = 0L
      def insert(row: InternalRow): Unit = {
        // probe with the projection's reused row; copy the key only on
        // first insert — one allocation per GROUP, not per row
        val probe = keyProj(row)
        val h = heaps.get(probe) match {
          case Some(found) => found
          case None =>
            val fresh = scala.collection.mutable.PriorityQueue.empty(rowOrd)
            heaps.put(probe.copy(), fresh)
            fresh
        }
        // copy a row only when it actually joins the survivor set: a
        // full heap rejects anything not strictly better than its
        // worst (head) without allocating
        if (h.size < kk) { h.enqueue(row.copy()); retained += 1 }
        else if (rowOrd.compare(row, h.head) < 0) {
          h.dequeue(); h.enqueue(row.copy())
        }
      }
      def drain(): Iterator[InternalRow] = {
        val rows = heaps.valuesIterator.flatMap(_.iterator).toArray
        heaps.clear()
        retained = 0L
        rows.iterator
      }
      new Iterator[InternalRow] {
        private var pending: Iterator[InternalRow] = Iterator.empty
        private var exhausted = false
        private def refill(): Unit =
          while (!pending.hasNext && !exhausted) {
            if (!it.hasNext) { pending = drain(); exhausted = true }
            else {
              insert(it.next())
              if (isPartial && (heaps.size >= TopKPerGroupExec.FlushGroups ||
                  retained >= TopKPerGroupExec.FlushRows))
                pending = drain()
            }
          }
        override def hasNext: Boolean = { refill(); pending.hasNext }
        override def next(): InternalRow = { refill(); pending.next() }
      }
    }, preservesPartitioning = true)
  }
}

object TopKPerGroupExec {
  /** Distinct-group cap per partial-pass task before a flush — keeps
    * the heap-map's per-group object overhead (hash entries, queue
    * headers) bounded even at k = 1. */
  val FlushGroups = 1 << 16

  /** Retained-ROW cap per partial-pass task before a flush. The group
    * cap alone lets state grow with k (65536 groups · k=1000 ≈ 65M
    * rows in a non-spillable map); this arm keeps worst-case partial
    * state ~4M rows REGARDLESS of k, restoring the memory safety of
    * the spillable WindowGroupLimit path the rewrite replaces. A
    * flush only costs pruning power when one task genuinely retains
    * this many survivors, at which point the prune was already
    * passing near-input volume. */
  val FlushRows = 1L << 22
}
