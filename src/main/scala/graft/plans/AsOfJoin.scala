package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.graftbridge.GraftSqlBridge
import org.apache.spark.sql.types.LongType

/** AS-OF JOIN as a first-class operator — the tier-(c) extension path
  * (custom LogicalPlan + SparkStrategy + SparkPlan registered through
  * `SparkSessionExtensions`): for every left row, the LAST right row of
  * the same key with rightTime ≤ leftTime (ties on rightTime broken by
  * the largest rightTie — exactly q_asof's window semantics, so the
  * driver gates this operator under q_asof's own DuckDB oracle).
  *
  * Why a physical operator instead of the union+window formulation
  * (OlapQueries.qAsof): the window form materializes BOTH relations into
  * ONE sorted partition stream and drags every column of both sides
  * through the union schema and the running `last(ignoreNulls)` state.
  * This node instead requires each child hash-clustered on its own key
  * and sorted (key, time) — Spark's EnsureRequirements provides both,
  * and AQE's re-planning re-validates them — then streams a
  * per-partition MERGE: one pass, O(left + right), zero per-row state
  * beyond the single remembered match, no union, no window buffer. The
  * output keeps the left side's partitioning AND ordering, so a
  * downstream per-key aggregate reuses the exchange (the window form
  * destroys both by filtering the union). At 100 TB: two key-clustered
  * shuffles (or zero, if both sides are already bucketed by key) instead
  * of one giant union sort.
  *
  * Contract: key/time/tie columns are non-null BIGINTs (the helper
  * enforces types at construction; as-of semantics over nulls are
  * undefined anyway). The exec is deliberately codegen-free — the merge
  * is pointer-chasing, not expression evaluation; children still arrive
  * through their own WholeStageCodegen pipelines.
  */
case class AsOfJoinNode(left: LogicalPlan, right: LogicalPlan,
                        lKey: Attribute, lTime: Attribute,
                        rKey: Attribute, rTime: Attribute, rTie: Attribute,
                        leftOuter: Boolean = false)
  extends BinaryNode {
  // LEFT OUTER emits null right sides — the right attributes must carry
  // that nullability or downstream null-based optimizations miscompile
  override def output: Seq[Attribute] =
    if (leftOuter) left.output ++ right.output.map(_.withNullability(true))
    else left.output ++ right.output
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinNode =
    copy(left = newLeft, right = newRight)
}

/** Column pruning THROUGH the custom node (injected by GraftExtensions
  * as an optimizer rule): Catalyst's own ColumnPruning stops at logical
  * nodes it doesn't know, so without this a `select(two columns)` over an
  * as-of join would still scan every column of both parquet sides — the
  * exact 100 TB failure mode the mandate calls out ("a scan that reads
  * all columns for a 2-column projection is wrong"). The rule pushes a
  * Project onto each child keeping only the attributes the parent uses
  * plus the join's own key/time/tie columns; it converges because a
  * second pass finds nothing more to drop. */
object AsOfJoinPruning
  extends org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions.{AttributeSet, NamedExpression}
  import org.apache.spark.sql.catalyst.plans.logical.Project

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case p @ Project(projList, j: AsOfJoinNode) =>
      val used = AttributeSet(projList.flatMap(_.references)) ++
        AttributeSet(Seq(j.lKey, j.lTime, j.rKey, j.rTime, j.rTie))
      def prune(child: LogicalPlan): LogicalPlan = {
        val keep: Seq[NamedExpression] = child.output.filter(used.contains)
        if (keep.length == child.output.length) child else Project(keep, child)
      }
      val (nl, nr) = (prune(j.left), prune(j.right))
      if ((nl eq j.left) && (nr eq j.right)) p
      else Project(projList, j.copy(left = nl, right = nr))
  }
}

/** Plans AsOfJoinNode → AsOfJoinExec (injected by GraftExtensions). */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinNode(l, r, lk, lt, rk, rt, rb, lo) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, lt, rk, rt, rb, lo) :: Nil
    case _ => Nil
  }
}

case class AsOfJoinExec(left: SparkPlan, right: SparkPlan,
                        lKey: Attribute, lTime: Attribute,
                        rKey: Attribute, rTime: Attribute, rTie: Attribute,
                        leftOuter: Boolean = false)
  extends BinaryExecNode {

  override def output: Seq[Attribute] =
    if (leftOuter) left.output ++ right.output.map(_.withNullability(true))
    else left.output ++ right.output

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(lKey)) :: ClusteredDistribution(Seq(rKey)) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(SortOrder(lKey, Ascending), SortOrder(lTime, Ascending)) ::
      Seq(SortOrder(rKey, Ascending), SortOrder(rTime, Ascending),
        SortOrder(rTie, Ascending)) :: Nil

  // the merge is left-driven: left rows pass through in order, untouched
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  protected override def doExecute(): RDD[InternalRow] = {
    val lk = left.output.indexWhere(_.exprId == lKey.exprId)
    val lt = left.output.indexWhere(_.exprId == lTime.exprId)
    val rk = right.output.indexWhere(_.exprId == rKey.exprId)
    val rt = right.output.indexWhere(_.exprId == rTime.exprId)
    require(lk >= 0 && lt >= 0 && rk >= 0 && rt >= 0,
      "as-of key/time attributes must come from the join children")
    val schema = output // capture serializable fields, not `this`, in the closure
    val outer = leftOuter
    val rWidth = right.output.size
    val numOutputRows = longMetric("numOutputRows")
    left.execute().zipPartitions(right.execute()) { (li, ri) =>
      val joiner = new JoinedRow
      val resultProj = UnsafeProjection.create(schema.map(_.dataType).toArray)
      val nullRight: InternalRow =
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(rWidth)
      new Iterator[InternalRow] {
        // the best (= latest ≤ current left time) right row seen for curKey;
        // right rows are copied when remembered — the child iterator reuses
        // its UnsafeRow buffer
        private var bestRow: InternalRow = null
        private var bestKey: Long = 0L
        // the next not-yet-consumed right row (safe to hold un-copied: the
        // child's buffer is only overwritten by our own next() call)
        private var pending: InternalRow = if (ri.hasNext) ri.next() else null
        private var out: InternalRow = null

        private def advanceRight(k: Long, t: Long): Unit = {
          while (pending != null && {
            val pk = pending.getLong(rk)
            pk < k || (pk == k && pending.getLong(rt) <= t)
          }) {
            if (pending.getLong(rk) == k) {
              bestRow = pending.copy(); bestKey = k
            }
            pending = if (ri.hasNext) ri.next() else null
          }
        }

        override def hasNext: Boolean = {
          while (out == null && li.hasNext) {
            val l = li.next()
            val k = l.getLong(lk)
            advanceRight(k, l.getLong(lt))
            if (bestRow != null && bestKey == k)
              out = resultProj(joiner(l, bestRow))
            else if (outer)
              out = resultProj(joiner(l, nullRight))
          }
          out != null
        }

        override def next(): InternalRow = {
          if (!hasNext) throw new NoSuchElementException
          numOutputRows += 1
          val r = out; out = null; r
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

object AsOfJoin {
  /** Public API: as-of join `left` to `right` on equal keys, matching the
    * last right row with rightTime ≤ leftTime (rightTime ties → largest
    * rightTie). Inner semantics by default (unmatched left rows drop);
    * `leftOuter = true` emits them with a null right side (the ClickHouse
    * ASOF LEFT JOIN contract) — including left rows whose key/time is
    * NULL: non-joinable, but left-outer retention keeps them null-padded
    * (they are routed around the exec and unioned back). All five
    * columns must be BIGINT; output = left columns ++ right columns
    * (names must not collide). */
  def asof(left: DataFrame, right: DataFrame,
           leftKey: String, leftTime: String,
           rightKey: String, rightTime: String, rightTie: String,
           leftOuter: Boolean = false): DataFrame = {
    // A null key/time would reach InternalRow.getLong as 0 and silently
    // join under key/time 0. ClickHouse rejects Nullable ASOF columns
    // outright; graft narrows instead: rows with a null join column are
    // excluded on BOTH sides before the exec sees them (for inner this
    // is exactly SQL semantics — null never compares equal; for
    // leftOuter they re-enter through the union below).
    import org.apache.spark.sql.functions.col
    val lf = left.filter(col(leftKey).isNotNull && col(leftTime).isNotNull)
    val rf = right.filter(col(rightKey).isNotNull &&
      col(rightTime).isNotNull && col(rightTie).isNotNull)
    val lp = lf.queryExecution.analyzed
    val rp = rf.queryExecution.analyzed
    def attr(p: LogicalPlan, n: String): Attribute =
      p.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(
          s"column $n not found among ${p.output.map(_.name).mkString(", ")}"))
    val attrs = Seq(attr(lp, leftKey), attr(lp, leftTime),
      attr(rp, rightKey), attr(rp, rightTime), attr(rp, rightTie))
    attrs.foreach(a => require(a.dataType == LongType,
      s"as-of column ${a.name} must be BIGINT, got ${a.dataType.sql}"))
    val dup = lp.output.map(_.name).toSet intersect rp.output.map(_.name).toSet
    require(dup.isEmpty, s"output name collision: ${dup.mkString(", ")}")
    val joined = GraftSqlBridge.ofRows(left.sparkSession,
      AsOfJoinNode(lp, rp, attrs(0), attrs(1), attrs(2), attrs(3), attrs(4),
        leftOuter))
    val keyNullable = left.schema(leftKey).nullable ||
      left.schema(leftTime).nullable
    if (!leftOuter || !keyNullable) joined
    else {
      padNullLeft(joined, left, right, leftKey, leftTime)
    }
  }

  /** As-of join with a STALENESS TOLERANCE (kdb `wj`/QuestDB ASOF
    * TOLERANCE semantics; ClickHouse users emulate it with a post-
    * filter): a match older than `tolerance` time units does not count.
    * Composed over the exec — the merge already yields AT MOST ONE
    * match per left row, so tolerance is one codegen'd projection:
    * inner drops stale-match rows, leftOuter null-pads their right
    * side (retention). No change to the join's shuffle/sort shape. */
  def asofTolerance(left: DataFrame, right: DataFrame,
                    leftKey: String, leftTime: String,
                    rightKey: String, rightTime: String, rightTie: String,
                    tolerance: Long, leftOuter: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, when}
    require(tolerance >= 0, s"tolerance must be nonnegative, got $tolerance")
    val joined = asof(left, right, leftKey, leftTime, rightKey, rightTime,
      rightTie, leftOuter)
    val fresh = col(rightTime).isNotNull &&
      col(leftTime) - col(rightTime) <= tolerance
    if (!leftOuter) joined.filter(fresh)
    else joined.select(
      left.columns.toIndexedSeq.map(col) ++
        right.columns.toIndexedSeq.map(c =>
          when(fresh, col(c)).otherwise(lit(null)).as(c)): _*)
  }

  /** Left-outer retention for null-key/null-time left rows: they can
    * never match, so they bypass the exec and union back null-padded. */
  private def padNullLeft(joined: DataFrame, left: DataFrame,
                          right: DataFrame, leftKey: String,
                          leftTime: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val nullLeft = left.filter(col(leftKey).isNull || col(leftTime).isNull)
    val padded = nullLeft.select(
      left.columns.map(col).toIndexedSeq ++
        right.schema.fields.toIndexedSeq.map(f =>
          lit(null).cast(f.dataType).as(f.name)): _*)
    joined.unionByName(padded)
  }
}
