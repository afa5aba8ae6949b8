package graft.plans

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.GraftSpillMap
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftPlanBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending, Attribute, AttributeReference, AttributeSet, DenseRank, Descending, EqualTo, Expression, GenericInternalRow, JoinedRow, LessThan, LessThanOrEqual, Literal, Rank, RowNumber, SortOrder, UnsafeProjection, UnsafeRow, WindowExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, UnaryNode, Window, WindowGroupLimit}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, ClusteredDistribution, Distribution, UnspecifiedDistribution}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.SQLMetrics
import org.apache.spark.sql.types.IntegerType

/** Per-key top-k as a first-class operator — the extension ladder's
  * rung (c): custom `LogicalPlan` + `SparkStrategy` + `SparkPlan`
  * (+ an opt-in `Rule[LogicalPlan]`). The strategy is injected by
  * [[graft.sources.GraftSparkExtensions]]; the rule is added to
  * `spark.experimental` by [[TopK.register]].
  *
  * Spark executes `row_number() OVER (PARTITION BY k ORDER BY o) <= n`
  * as a full sort of every key group (Exchange → Sort → Window →
  * Filter). This operator keeps a bounded per-key buffer instead:
  *
  *  - a PARTIAL pass on each input partition keeps at most k rows per
  *    (partition-local) key — O(n log k) work, and the shuffle that
  *    follows carries at most `keys × k` rows per input partition
  *    instead of the whole table (the 100 TB win: shuffle volume is
  *    bounded by the answer size, like map-side combine for top-k);
  *  - a FINAL pass after the hash exchange merges the survivors and
  *    emits each key's rows in order with their rank.
  *
  * Memory contract: both passes aggregate through Spark's spillable
  * combine-by-key map ([[org.apache.spark.GraftSpillMap]] over
  * `ExternalAppendOnlyMap`) — size-tracked, task-memory-accounted,
  * spilling sorted runs to disk past the threshold — so high key
  * cardinality per partition degrades to disk instead of OOM, the
  * same contract as Spark's own hash aggregation. Spill count/bytes
  * surface as SQL metrics on the exec node.
  *
  * Rank semantics ([[RankMode]]): `row_number` (ties broken by
  * comparison order — deterministic exactly when the sort order is
  * total), `rank` and `dense_rank` (ties KEPT: every row whose rank
  * is <= k survives, so the result set is deterministic even when
  * the order is not total — the SQL-window contract).
  *
  * Relationship to Spark's own machinery: since 3.5 the optimizer
  * inserts `WindowGroupLimit` for this shape, which bounds how many
  * rows per group REACH the window but still sorts every group
  * (Sort → limit → Exchange → Sort → Window → Filter). The heap
  * operator subsumes it — no Sort appears anywhere in the plan, and
  * per-partition work drops from O(n log n) to O(n log k). The
  * opt-in rewrite unwraps an already-inserted WindowGroupLimit only
  * when it is provably redundant (same rank family, limit >= k).
  */
sealed trait RankMode
object RankMode {
  /** `row_number()`: exactly k rows per key, ties broken by order. */
  case object RowNum extends RankMode
  /** `rank()`: competition rank, rows tied with the k-th kept. */
  case object Rnk extends RankMode
  /** `dense_rank()`: rows within the first k distinct values kept. */
  case object DenseRnk extends RankMode

  def of(e: Expression): Option[RankMode] = e match {
    case _: RowNumber => Some(RowNum)
    case _: Rank => Some(Rnk)
    case _: DenseRank => Some(DenseRnk)
    case _ => None
  }
}

/** Bounded per-key buffer: rows kept sorted ascending by the rank
  * order, trimmed to the top-k cut of the active [[RankMode]]. Rows
  * are copied only when they survive the cut. All operations keep
  * only serializable state (plain `ArrayBuffer[InternalRow]` of
  * UnsafeRows), so buffers spill cleanly through the external map.
  */
private[plans] object TopKBuffer {
  type Ord = java.util.Comparator[InternalRow]
  type Buf = ArrayBuffer[InternalRow]

  /** First index whose row orders strictly after `row` (upper bound:
    * equal rows insert after existing ones — stable).
    */
  private def upperBound(buf: Buf, row: InternalRow, ord: Ord): Int = {
    var lo = 0
    var hi = buf.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (ord.compare(buf(mid), row) <= 0) lo = mid + 1 else hi = mid
    }
    lo
  }

  /** Can `row` still make the cut? (Cheap pre-check so rows that
    * cannot qualify are never copied.)
    */
  private def qualifies(buf: Buf, row: InternalRow, ord: Ord, k: Int,
      mode: RankMode): Boolean =
    buf.length < k || (mode match {
      case RankMode.RowNum => ord.compare(row, buf.last) < 0
      case RankMode.Rnk => ord.compare(row, buf(k - 1)) <= 0
      // <= last kept value always qualifies; a strictly-worse row
      // still qualifies while fewer than k distinct values are held.
      case RankMode.DenseRnk =>
        ord.compare(row, buf.last) <= 0 || {
          var distinct = 1
          var i = 1
          while (i < buf.length && distinct < k) {
            if (ord.compare(buf(i), buf(i - 1)) != 0) distinct += 1
            i += 1
          }
          distinct < k
        }
    })

  private def trim(buf: Buf, ord: Ord, k: Int, mode: RankMode): Unit =
    if (buf.length > k) mode match {
      case RankMode.RowNum => buf.takeInPlace(k)
      case RankMode.Rnk =>
        // Keep the run tied with the k-th row, drop strictly-after.
        val boundary = buf(k - 1)
        var end = k
        while (end < buf.length && ord.compare(buf(end), boundary) == 0) end += 1
        buf.takeInPlace(end)
      case RankMode.DenseRnk =>
        // Keep rows within the first k distinct values.
        var distinct = 1
        var i = 1
        while (i < buf.length) {
          if (ord.compare(buf(i), buf(i - 1)) != 0) {
            distinct += 1
            if (distinct > k) { buf.takeInPlace(i); return }
          }
          i += 1
        }
    }

  /** Insert (copying iff kept) and re-trim. */
  def insert(buf: Buf, row: InternalRow, ord: Ord, k: Int,
      mode: RankMode): Buf = {
    if (qualifies(buf, row, ord, k, mode)) {
      val kept = row.copy()
      buf.insert(upperBound(buf, kept, ord), kept)
      trim(buf, ord, k, mode)
    }
    buf
  }

  /** Merge two sorted buffers (spill-merge path) and re-trim. */
  def merge(a: Buf, b: Buf, ord: Ord, k: Int, mode: RankMode): Buf = {
    val out = new ArrayBuffer[InternalRow](math.min(a.length + b.length, 2 * k))
    var i = 0
    var j = 0
    while (i < a.length && j < b.length) {
      if (ord.compare(a(i), b(j)) <= 0) { out += a(i); i += 1 }
      else { out += b(j); j += 1 }
    }
    while (i < a.length) { out += a(i); i += 1 }
    while (j < b.length) { out += b(j); j += 1 }
    trim(out, ord, k, mode)
    out
  }

  /** Rows with their rank under `mode` (buffer already holds exactly
    * the rows whose rank is <= k).
    */
  def ranked(buf: Buf, ord: Ord, mode: RankMode): Iterator[(InternalRow, Int)] =
    mode match {
      case RankMode.RowNum =>
        buf.iterator.zipWithIndex.map { case (r, i) => (r, i + 1) }
      case RankMode.Rnk =>
        var prevRank = 1
        buf.iterator.zipWithIndex.map { case (r, i) =>
          if (i > 0 && ord.compare(r, buf(i - 1)) != 0) prevRank = i + 1
          (r, prevRank)
        }
      case RankMode.DenseRnk =>
        var rank = 1
        buf.iterator.zipWithIndex.map { case (r, i) =>
          if (i > 0 && ord.compare(r, buf(i - 1)) != 0) rank += 1
          (r, rank)
        }
    }
}

case class TopKPerKeyNode(
    k: Int,
    partitionExprs: Seq[Expression],
    order: Seq[SortOrder],
    rankAttr: Attribute,
    mode: RankMode,
    child: LogicalPlan) extends UnaryNode {
  require(k >= 1, s"top-k needs k >= 1, got $k")
  override def output: Seq[Attribute] = child.output :+ rankAttr
  override def producedAttributes: AttributeSet = AttributeSet(rankAttr)
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKeyNode =
    copy(child = newChild)
}

case class TopKPerKeyExec(
    k: Int,
    partitionExprs: Seq[Expression],
    order: Seq[SortOrder],
    rankAttr: Attribute,
    mode: RankMode,
    partial: Boolean,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] =
    if (partial) child.output else child.output :+ rankAttr

  override def producedAttributes: AttributeSet =
    if (partial) AttributeSet.empty else AttributeSet(rankAttr)

  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) Seq(UnspecifiedDistribution)
    else if (partitionExprs.isEmpty) Seq(AllTuples)
    else Seq(ClusteredDistribution(partitionExprs))

  override def outputPartitioning = child.outputPartitioning

  override lazy val metrics = Map(
    "spilledBytes" -> SQLMetrics.createSizeMetric(sparkContext, "spilled bytes"))

  override protected def doExecute(): RDD[InternalRow] = {
    val spilledBytes = longMetric("spilledBytes")
    child.execute().mapPartitions({ iter =>
      val keyProj = UnsafeProjection.create(partitionExprs, child.output)
      // Store rows as UnsafeRow so spilled buffers round-trip the
      // serializer; copies happen inside the buffer, only on keep.
      val storeProj = UnsafeProjection.create(child.output, child.output)
      val ord: TopKBuffer.Ord = GenerateOrdering.generate(order, child.output)
      val spillMap = new GraftSpillMap[UnsafeRow, InternalRow, TopKBuffer.Buf](
        row => TopKBuffer.insert(new ArrayBuffer[InternalRow](
          math.min(k, 16)), row, ord, k, mode),
        (buf, row) => TopKBuffer.insert(buf, row, ord, k, mode),
        (a, b) => TopKBuffer.merge(a, b, ord, k, mode))
      // The external map owns its keys: copy per row. Values are
      // consumed synchronously by the combiner, so the store
      // projection's reused buffer is safe to pass uncopied.
      spillMap.insertAll(iter.map { row =>
        (keyProj(row).copy(), storeProj(row): InternalRow)
      })
      val entries = spillMap.iterator
      val out: Iterator[InternalRow] =
        if (partial) entries.flatMap(_._2.iterator)
        else {
          val toUnsafe = UnsafeProjection.create(output, output)
          val joined = new JoinedRow
          val rankRow = new GenericInternalRow(1)
          entries.flatMap { case (_, buf) =>
            TopKBuffer.ranked(buf, ord, mode).map { case (row, r) =>
              rankRow.setInt(0, r)
              toUnsafe(joined(row, rankRow))
            }
          }
        }
      // Drain-through wrapper so spill metrics reflect the final map
      // state once the partition completes.
      new Iterator[InternalRow] {
        private var closed = false
        def hasNext: Boolean = {
          val h = out.hasNext
          if (!h && !closed) { closed = true; spilledBytes += spillMap.diskBytesSpilled }
          h
        }
        def next(): InternalRow = out.next()
      }
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyExec =
    copy(child = newChild)
}

/** Plans [[TopKPerKeyNode]] as partial → (exchange via
  * EnsureRequirements) → final.
  */
object TopKPerKeyStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKeyNode(k, part, order, rank, mode, child) =>
      val partial = TopKPerKeyExec(
        k, part, order, rank, mode, partial = true, planLater(child))
      TopKPerKeyExec(k, part, order, rank, mode, partial = false, partial) :: Nil
    case _ => Nil
  }
}

/** Opt-in optimizer rule (`spark.graft.topk.rewrite=true`): rewrites
  * the `Filter(rn <= k)` over a lone rank-like window — the shape
  * every "top-k per group" query takes — into [[TopKPerKeyNode]],
  * preserving the rank attribute's identity so downstream references
  * stay valid. Covers `row_number()`, `rank()` and `dense_rank()`
  * (the latter two with tie-keeping buffers). Conservative by
  * construction: only a single-window-expression rank function with
  * a rank-only predicate matches; everything else is left untouched.
  */
object TopKRewrite extends Rule[LogicalPlan] {
  private def limitOf(cond: Expression, rank: Attribute): Option[Int] = cond match {
    case LessThanOrEqual(a: Attribute, Literal(n: Int, IntegerType)) if a.semanticEquals(rank) => Some(n)
    case LessThan(a: Attribute, Literal(n: Int, IntegerType)) if a.semanticEquals(rank) => Some(n - 1)
    case EqualTo(a: Attribute, Literal(1, IntegerType)) if a.semanticEquals(rank) => Some(1)
    case _ => None
  }

  private object RankWindow {
    def unapply(w: Window): Option[(Attribute, RankMode, Seq[Expression], Seq[SortOrder], LogicalPlan)] =
      w match {
        case Window(Seq(a @ Alias(WindowExpression(fn, _), _)), part, order, child, _) =>
          RankMode.of(fn).map(m => (a.toAttribute, m, part, order, child))
        case _ => None
      }
  }

  /** Spark 3.5+'s InferWindowGroupLimit may already have inserted a
    * (sort-based) WindowGroupLimit below the window. The heap
    * operator subsumes it, so unwrap — but only when provably
    * redundant: same spec, a rank function of the same family, and a
    * limit at least as loose as the filter's k (a tighter or
    * different-function group limit changes the row set and must be
    * kept).
    */
  private def unwrapGroupLimit(child: LogicalPlan, part: Seq[Expression],
      order: Seq[SortOrder], mode: RankMode, k: Int): LogicalPlan =
    child match {
      case WindowGroupLimit(p, o, fn, lim, grandchild)
          if p == part && o == order && RankMode.of(fn).contains(mode) &&
            lim >= k => grandchild
      case other => other
    }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!conf.getConfString("spark.graft.topk.rewrite", "false").toBoolean) plan
    else plan.transformUp {
      case Filter(cond, RankWindow(rank, mode, part, order, child))
          if limitOf(cond, rank).exists(_ >= 1) =>
        val k = limitOf(cond, rank).get
        TopKPerKeyNode(k, part, order, rank, mode,
          unwrapGroupLimit(child, part, order, mode, k))
      case Filter(cond, Project(projList, RankWindow(rank, mode, part, order, child)))
          if limitOf(cond, rank).exists(_ >= 1) &&
            projList.forall(_.isInstanceOf[Attribute]) =>
        val k = limitOf(cond, rank).get
        Project(projList, TopKPerKeyNode(k, part, order, rank, mode,
          unwrapGroupLimit(child, part, order, mode, k)))
    }
}

/** DataFrame-level entry point (the library surface). */
object TopK {
  /** Top-k rows per key with an appended integer rank column.
    * `orderCols` are (name, ascending) pairs; for
    * [[RankMode.RowNum]] they should form a total order for
    * deterministic results (same contract as row_number), while the
    * tie-keeping modes are deterministic regardless.
    */
  def perKey(
      df: DataFrame,
      partCols: Seq[String],
      orderCols: Seq[(String, Boolean)],
      k: Int,
      rankName: String = "rnk",
      mode: RankMode = RankMode.RowNum): DataFrame = {
    val spark = df.sparkSession
    val analyzed = df.queryExecution.analyzed
    def attr(n: String): Attribute = analyzed.output
      .find(a => spark.sessionState.conf.resolver(a.name, n))
      .getOrElse(throw new IllegalArgumentException(
        s"column $n not in ${analyzed.output.map(_.name).mkString(", ")}"))
    val order = orderCols.map { case (n, asc) =>
      SortOrder(attr(n), if (asc) Ascending else Descending)
    }
    val rank = AttributeReference(rankName, IntegerType, nullable = false)()
    GraftPlanBridge.ofRows(spark,
      TopKPerKeyNode(k, partCols.map(attr), order, rank, mode, analyzed))
  }

  /** Idempotently add the opt-in [[TopKRewrite]] rule to a session's
    * `extraOptimizations`. Those run in the optimizer's last batch,
    * after "Infer window group limit", so the rule sees (and unwraps)
    * the `WindowGroupLimit` Spark inferred. The planner strategy comes
    * from [[graft.sources.GraftSparkExtensions]].
    */
  def register(spark: SparkSession): Unit =
    if (!spark.experimental.extraOptimizations.contains(TopKRewrite))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ TopKRewrite
}
