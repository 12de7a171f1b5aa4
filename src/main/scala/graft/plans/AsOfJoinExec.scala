package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Descending, Expression, GenericInternalRow, JoinedRow, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{BroadcastDistribution, ClusteredDistribution, Distribution, IdentityBroadcastMode, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.SQLMetrics

/** Logical as-of join — the extension ladder's whole-operator tier
  * (custom `LogicalPlan` + `SparkStrategy` + `SparkPlan`, SURVEY §7.3
  * option (c)): each left row is enriched with the single right row
  * sharing its key whose timestamp is nearest — backward (greatest
  * right ts <= left ts) or forward (smallest right ts >= left ts).
  *
  * Why a physical operator when [[graft.operators.AsOf.asOfJoin]]
  * already composes the same semantics from UNION + WINDOW: the compose
  * form materializes the union of BOTH sides through one window sort —
  * every right row is carried through the window frame, the filter that
  * drops the right-side rows runs after the full window pass, and the
  * carried payload must be struct-packed/unpacked. The physical form is
  * the textbook merge: one shuffle per side on the key (exactly what a
  * sort-merge join pays), an in-partition two-pointer scan with ONE
  * buffered right row of state, no union, no window machinery, no
  * post-filter. At 100 TB both sides stream; per-task memory is O(1)
  * beyond the sort.
  *
  * Semantics pinned by AsOfJoinExecSpec and the q_asof_exec oracle
  * (DuckDB `ASOF LEFT JOIN`):
  *  - LEFT OUTER: every left row is emitted exactly once; no match →
  *    carried columns are NULL.
  *  - key equality is GROUPING equality (null keys match null keys) —
  *    identical to the compose form's `Window.partitionBy`.
  *  - `right ts <= left ts` is inclusive in both directions (ties
  *    match), matching DuckDB's `ON l.ts >= r.ts`.
  *  - NULL timestamps never match: a null left ts emits the no-match
  *    row, a null right ts is discarded by the merge.
  *  - among right rows with equal (key, ts) the merge keeps the last in
  *    sort order; callers wanting determinism keep the right side
  *    unique per (key, ts) — same contract as the compose form.
  *
  * @param carried right-side attributes to emit (a subset of
  *                `right.output`; the factory projects the right side to
  *                exactly keys + ts + carried with fresh exprIds, so a
  *                self-join can never alias-collide). Emitted nullable.
  */
case class AsOfJoinPlan(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTs: Expression,
    rightTs: Expression,
    carried: Seq[Attribute],
    forward: Boolean,
    broadcast: Boolean = false,
    tolerance: Option[Long] = None) extends BinaryNode {

  override def output: Seq[Attribute] =
    left.output ++ carried.map(_.withNullability(true))

  // one output row per left row — lets the optimizer keep left-side
  // cardinality reasoning (e.g. LIMIT pushup) intact above this node
  override def maxRows: Option[Long] = left.maxRows

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

/** Planner strategy: [[AsOfJoinPlan]] → [[AsOfJoinExec]]. Registered
  * via [[graft.functions.GraftExtensions]] (`injectPlannerStrategy`)
  * for `spark.sql.extensions` sessions, and installed idempotently into
  * `spark.experimental.extraStrategies` by `GraftExtensions.install`,
  * which the [[graft.operators.AsOf.asOfJoinExec]] factory calls for
  * stock sessions. */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(l, r, lk, rk, lts, rts, carried, fwd, bcast, tol) =>
      val exec: SparkPlan =
        if (bcast) BroadcastAsOfJoinExec(lk, rk, lts, rts, carried, fwd, tol,
          planLater(l), planLater(r))
        else AsOfJoinExec(lk, rk, lts, rts, carried, fwd, tol,
          planLater(l), planLater(r))
      exec :: Nil
    case _ => Nil
  }
}

/** Physical sort-merge as-of join.
  *
  * Scale contract (the part the planner enforces):
  *  - `requiredChildDistribution` = ClusteredDistribution on each
  *    side's keys → EnsureRequirements co-partitions the sides with
  *    ONE hash shuffle each (or zero, when a child is already
  *    hash-partitioned on the keys — spec-pinned), and AQE's generic
  *    skew/coalesce machinery applies to those exchanges as usual.
  *  - `requiredChildOrdering` = (keys ASC, ts ASC) backward /
  *    (keys ASC, ts DESC) forward → the planner inserts the sorts,
  *    which at scale are the same spillable SortExec a sort-merge join
  *    uses.
  *  - `doExecute` zips co-partitioned sorted iterators and runs the
  *    two-pointer merge with one buffered right row + one candidate
  *    row of state — O(|L| + |R|) compares per partition, constant
  *    memory, no whole-group buffering (unlike SMJ's equal-key buffer:
  *    as-of needs only the LAST qualifying right row, never the set).
  *
  * Not whole-stage-codegen'd: the operator is shuffle-bounded on both
  * sides, so codegen would fuse nothing past the exchanges; the merge
  * itself is branch-light and allocation-free per row (two reused
  * UnsafeProjections, row copies only when the buffered right head
  * advances).
  */
case class AsOfJoinExec(
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTs: Expression,
    rightTs: Expression,
    carried: Seq[Attribute],
    forward: Boolean,
    tolerance: Option[Long],
    left: SparkPlan,
    right: SparkPlan) extends SparkPlan with BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ carried.map(_.withNullability(true))

  override lazy val metrics = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "output rows"),
    "numMatched" -> SQLMetrics.createMetric(sparkContext, "matched rows"))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = {
    val tsDir = if (forward) Descending else Ascending
    Seq(leftKeys.map(SortOrder(_, Ascending)) :+ SortOrder(leftTs, tsDir),
      rightKeys.map(SortOrder(_, Ascending)) :+ SortOrder(rightTs, tsDir))
  }

  // left rows pass through in their sorted order, in left partitions
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val numMatched = longMetric("numMatched")
    val fwd = forward
    val keyTypes = leftKeys.map(_.dataType)
    val tsType = leftTs.dataType
    val lOut = left.output
    val rOut = right.output
    val lKeyExprs = leftKeys
    val rKeyExprs = rightKeys
    val lTsExpr = leftTs
    val rTsExpr = rightTs
    val carriedAttrs = carried
    val outAttrs = output
    val tol = tolerance

    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(keyTypes)
      val tsOrd = TypeUtils.getInterpretedOrdering(tsType)
      val lKeyProj = UnsafeProjection.create(lKeyExprs, lOut)
      val rKeyProj = UnsafeProjection.create(rKeyExprs, rOut)
      val lTsProj = UnsafeProjection.create(Seq(lTsExpr), lOut)
      val rTsProj = UnsafeProjection.create(Seq(rTsExpr), rOut)
      val carriedProj = UnsafeProjection.create(carriedAttrs, rOut)
      // bind against nullable inputs: the no-match row carries nulls in
      // the carried slots even when the source attrs were non-nullable
      val resultProj = UnsafeProjection.create(outAttrs,
        lOut ++ carriedAttrs.map(_.withNullability(true)))
      val nullCarried = new GenericInternalRow(carriedAttrs.length)
      val joined = new JoinedRow

      // buffered right head — COPIED: sorter output rows are transient
      // buffers that the next() call may overwrite
      var headKey: UnsafeRow = null
      var headTs: Any = null
      var headCarried: UnsafeRow = null
      var headValid = false
      def advanceHead(): Unit = {
        headValid = false
        while (!headValid && rIter.hasNext) {
          val r = rIter.next()
          val ts = rTsProj(r).get(0, tsType)
          if (ts != null) { // null right ts can never match: drop here
            headKey = rKeyProj(r).copy()
            headCarried = carriedProj(r).copy()
            // copyValue: a buffered UTF8String/Decimal ts would otherwise
            // point into the projection's reused buffer
            headTs = InternalRow.copyValue(ts)
            headValid = true
          }
        }
      }
      advanceHead()

      // best-so-far right row for the key currently being merged; its
      // key is retained so a left row from a LATER key can detect and
      // ignore a stale candidate with one compare
      var candKey: UnsafeRow = null
      var candCarried: UnsafeRow = null
      var candTs: Any = null

      new Iterator[InternalRow] {
        override def hasNext: Boolean = lIter.hasNext
        override def next(): InternalRow = {
          val l = lIter.next()
          val lk = lKeyProj(l)
          val lts = lTsProj(l).get(0, tsType)
          // advance right while its head can still improve this left
          // row's candidate: head key behind (skip group), or same key
          // with head ts still on the qualifying side of left ts
          var continue = headValid
          while (continue) {
            val c = keyOrd.compare(headKey, lk)
            if (c < 0) { advanceHead(); continue = headValid }
            else if (c > 0 || lts == null) continue = false
            else {
              val t = tsOrd.compare(headTs, lts)
              if (if (fwd) t >= 0 else t <= 0) {
                candKey = headKey
                candCarried = headCarried
                candTs = headTs
                advanceHead(); continue = headValid
              } else continue = false
            }
          }
          val matched = lts != null && candKey != null &&
            keyOrd.compare(candKey, lk) == 0 &&
            AsOfMerge.withinTolerance(tol, lts, candTs)
          numOutputRows += 1
          if (matched) {
            numMatched += 1
            resultProj(joined(l, candCarried))
          } else resultProj(joined(l, nullCarried))
        }
      }
    }
  }
}

/** Broadcast as-of join — the 100 TB enrichment shape. When the right
  * side is a small reference table (latest prices, config snapshots,
  * model-version rollouts) and the left is the petabyte event log, the
  * sort-merge form's left-side shuffle IS the job cost: co-partitioning
  * 100 TB to merge against megabytes. This form broadcasts the right
  * side (one [[IdentityBroadcastMode]] exchange, driver-guarded by
  * Spark's own broadcast limits) and enriches the left side MAP-SIDE:
  * no left shuffle, no left sort, left partitioning and ordering pass
  * through untouched — the operator composes with whatever layout the
  * scan already has (partition pruning, bucketing, Z-order).
  *
  * Per task: build a hash index key → ts-sorted arrays from the
  * broadcast rows (cost d·log d, d = right rows — small by the
  * broadcast contract), then probe each left row with one hash lookup +
  * one binary search (O(log d_k)). Same semantics as [[AsOfJoinExec]],
  * pinned by the same parity spec: grouping-null keys, inclusive ties,
  * null ts never matches, left-outer.
  */
case class BroadcastAsOfJoinExec(
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTs: Expression,
    rightTs: Expression,
    carried: Seq[Attribute],
    forward: Boolean,
    tolerance: Option[Long],
    left: SparkPlan,
    right: SparkPlan) extends SparkPlan with BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ carried.map(_.withNullability(true))

  override lazy val metrics = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "output rows"),
    "numMatched" -> SQLMetrics.createMetric(sparkContext, "matched rows"))

  override def requiredChildDistribution: Seq[Distribution] =
    UnspecifiedDistribution :: BroadcastDistribution(IdentityBroadcastMode) :: Nil

  // the left side streams through unchanged — everything it had is kept
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): BroadcastAsOfJoinExec =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val numMatched = longMetric("numMatched")
    val fwd = forward
    val tsType = leftTs.dataType
    val lOut = left.output
    val rOut = right.output
    val lKeyExprs = leftKeys
    val rKeyExprs = rightKeys
    val lTsExpr = leftTs
    val rTsExpr = rightTs
    val carriedAttrs = carried
    val outAttrs = output
    val tol = tolerance
    val bcast = right.executeBroadcast[Array[InternalRow]]()

    left.execute().mapPartitions { lIter =>
      val tsOrd = TypeUtils.getInterpretedOrdering(tsType)
      val lKeyProj = UnsafeProjection.create(lKeyExprs, lOut)
      val rKeyProj = UnsafeProjection.create(rKeyExprs, rOut)
      val lTsProj = UnsafeProjection.create(Seq(lTsExpr), lOut)
      val rTsProj = UnsafeProjection.create(Seq(rTsExpr), rOut)
      val carriedProj = UnsafeProjection.create(carriedAttrs, rOut)
      val resultProj = UnsafeProjection.create(outAttrs,
        lOut ++ carriedAttrs.map(_.withNullability(true)))
      val nullCarried = new GenericInternalRow(carriedAttrs.length)
      val joined = new JoinedRow

      // index: key (UnsafeRow, byte-equality = grouping equality) →
      // (ts values asc, carried rows in the same order). Built ONCE PER
      // EXECUTOR per broadcast via BroadcastAsOfIndexCache — building it
      // per task multiplies the d-row structure by the task-slot count
      // (measured: 32 concurrent tasks x a 2M-row right side OOM'd an
      // 8g heap at the x100 twin — BENCH_sf10_r14.json q_asof_broadcast
      // note; one shared build fits easily). Keyed
      // arrays beat a sorted flat array because left keys hash straight
      // to their group.
      val index = BroadcastAsOfIndexCache.getOrBuild(bcast.value, () => {
        val built = new java.util.HashMap[UnsafeRow, (Array[Any], Array[UnsafeRow])]()
        val tmp = new java.util.HashMap[UnsafeRow,
          (scala.collection.mutable.ArrayBuffer[Any],
            scala.collection.mutable.ArrayBuffer[UnsafeRow])]()
        bcast.value.foreach { r =>
          val ts = rTsProj(r).get(0, tsType)
          if (ts != null) { // null right ts never matches
            val k = rKeyProj(r)
            var slot = tmp.get(k)
            if (slot == null) {
              slot = (new scala.collection.mutable.ArrayBuffer[Any],
                new scala.collection.mutable.ArrayBuffer[UnsafeRow])
              tmp.put(k.copy(), slot)
            }
            slot._1 += InternalRow.copyValue(ts)
            slot._2 += carriedProj(r).copy()
          }
        }
        tmp.forEach { (k, slot) =>
          val order = slot._1.indices.sortBy(slot._1(_))(tsOrd.asInstanceOf[Ordering[Any]])
          built.put(k, (order.map(slot._1(_)).toArray,
            order.map(slot._2(_)).toArray))
        }
        built
      })

      lIter.map { l =>
        val lts = lTsProj(l).get(0, tsType)
        var cand: UnsafeRow = null
        if (lts != null) {
          val slot = index.get(lKeyProj(l))
          if (slot != null) {
            val (tss, rows) = slot
            // binary search: backward = greatest i with ts(i) <= lts;
            // forward = least i with ts(i) >= lts
            var lo = 0
            var hi = tss.length - 1
            var found = -1
            while (lo <= hi) {
              val mid = (lo + hi) >>> 1
              val c = tsOrd.compare(tss(mid), lts)
              if (fwd) {
                if (c >= 0) { found = mid; hi = mid - 1 } else lo = mid + 1
              } else {
                if (c <= 0) { found = mid; lo = mid + 1 } else hi = mid - 1
              }
            }
            // ties: multiple equal ts can't exist under the documented
            // unique-(key, ts) contract; under violation, backward's
            // `found = mid; lo = mid + 1` keeps advancing through equal
            // timestamps, selecting the LAST stored row at that ts
            // (sortBy is stable) — the same last-in-sort-order rule as
            // the sort-merge exec
            if (found >= 0 &&
              AsOfMerge.withinTolerance(tol, lts, tss(found)))
              cand = rows(found)
          }
        }
        numOutputRows += 1
        if (cand != null) { numMatched += 1; resultProj(joined(l, cand)) }
        else resultProj(joined(l, nullCarried))
      }
    }
  }
}

/** Shared merge helpers for the as-of execs. */
private[plans] object AsOfMerge {

  /** Tolerance check on the nearest candidate: the as-of match is
    * rejected (left row emitted with NULL payload) when the candidate's
    * timestamp is further than `tol` from the left timestamp. The
    * nearest-candidate property makes this complete: no farther right
    * row could be closer, so rejecting the candidate rejects the key.
    * Units are the ts type's INTERNAL representation — microseconds for
    * TIMESTAMP/TIMESTAMP_NTZ, days for DATE, the raw value for integral
    * types (factory-validated). */
  def withinTolerance(tol: Option[Long], lts: Any, rts: Any): Boolean =
    tol match {
      case None => true
      case Some(t) =>
        val l = asLong(lts)
        val r = asLong(rts)
        (if (l >= r) l - r else r - l) <= t
    }

  private def asLong(v: Any): Long = v match {
    case l: java.lang.Long => l.longValue()
    case i: java.lang.Integer => i.longValue()
    case s: java.lang.Short => s.longValue()
    case b: java.lang.Byte => b.longValue()
    case other => throw new IllegalStateException(
      s"as-of tolerance requires an integral-backed ts (got ${other.getClass})")
  }
}

/** Executor-local cache of built as-of indexes, one per broadcast —
  * the same role HashedRelation plays for Spark's own broadcast hash
  * join (there the BroadcastMode builds the structure once at the
  * driver; IdentityBroadcastMode ships raw rows, so the build happens
  * executor-side and must be shared across task slots or the structure
  * is duplicated per concurrent task).
  *
  * KEYED BY THE BROADCAST VALUE, not the Broadcast handle: task
  * closures are deserialized per task (even in local mode), so every
  * task holds a DISTINCT Broadcast instance and an identity-keyed map
  * would miss for all of them — measured: 32 redundant builds
  * serialized behind the lock, 0.9 s → 4.4 s at the ×10 twin
  * (committed: BENCH_sf10_r14.json q_asof_broadcast note; PLANS.md
  * round-14 as-of section carries both bug post-mortems). The
  * value array IS identity-stable per executor (BlockManager caches
  * the deserialized block once), and the weak key dies exactly when
  * the block is evicted or the broadcast destroyed. */
private[plans] object BroadcastAsOfIndexCache {
  private val cache = new java.util.WeakHashMap[Array[InternalRow], AnyRef]()

  def getOrBuild(
      rows: Array[InternalRow],
      build: () => java.util.HashMap[UnsafeRow, (Array[Any], Array[UnsafeRow])])
      : java.util.HashMap[UnsafeRow, (Array[Any], Array[UnsafeRow])] =
    cache.synchronized {
      val hit = cache.get(rows)
      if (hit != null) {
        hit.asInstanceOf[java.util.HashMap[UnsafeRow, (Array[Any], Array[UnsafeRow])]]
      } else {
        val built = build()
        cache.put(rows, built)
        built
      }
    }
}
