package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, JoinedRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.plans.physical.{BroadcastDistribution, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types.LongType

/** INTERVAL (range) JOIN as a first-class operator — the second tier-(c)
  * whole-operator extension (the mandate's named trio: as-of join ✓,
  * range join, novel sketch ✓): match each point row to EVERY interval
  * row with lo ≤ v < hi (half-open; intervals may overlap arbitrarily).
  *
  * Why a physical operator: Spark plans a non-equi theta join as
  * BroadcastNestedLoopJoin — every point row scans EVERY interval row,
  * O(points × intervals). This exec broadcasts the intervals once and
  * builds a per-executor INTERVAL INDEX: intervals sorted by lo plus a
  * running prefix-max of hi. A probe binary-searches the last lo ≤ v,
  * then walks backward only while the prefix-max-hi still exceeds v —
  * O(log n + matches) per point for non/lightly-overlapping interval
  * sets (degrading gracefully to O(overlap depth)), with NO shuffle of
  * the point side at all: the operator preserves the left child's
  * partitioning and ordering, so a downstream per-band aggregate
  * reuses whatever layout the points already had. At 100 TB: the fact
  * stream passes through map-side untouched; only the (dimension-sized,
  * but possibly 10⁵–10⁷-row) interval table broadcasts — exactly the
  * regime where the nested-loop scan per row is the bottleneck and a
  * shuffle would be waste.
  *
  * Planning: a plain inner join whose condition is the band
  * `v >= lo AND v < hi` plans to this exec ([[AutoIntervalJoinStrategy]])
  * whenever Spark would broadcast the interval side; [[IntervalJoin.join]]
  * is that join with a broadcast hint. Contract: v/lo/hi are BIGINTs;
  * inner semantics (points matching no interval drop).
  */
/** The probe-side index: intervals sorted by (lo, hi) with a prefix-max
  * of hi. The SORT happens ONCE, driver-side, inside the broadcast
  * exchange ([[IntervalIndexMode]] — its payload must stay
  * Array[InternalRow]: BroadcastExchangeExec rejects any other type);
  * the two prefix arrays are an O(n) scan rebuilt at most once per
  * executor through [[IntervalIndexCache]]. Pre-r7 every task re-sorted
  * the raw broadcast array — at 32 partitions × 10⁶ intervals that was
  * 32 redundant O(n log n) sorts per stage, now zero (micro: the sf0.1
  * q_range_phys probe stage drops the per-task sort entirely; only the
  * first task per executor pays the linear prefix scan). */
class IntervalIndex(val rows: Array[InternalRow], val lo: Array[Long],
                    val maxHi: Array[Long]) extends Serializable

object IntervalIndex {
  /** Prefix arrays over rows ALREADY sorted by (lo, hi). */
  def fromSorted(rows: Array[InternalRow], loIdx: Int,
                 hiIdx: Int): IntervalIndex = {
    val n = rows.length
    val lo = new Array[Long](n)
    val maxHi = new Array[Long](n)
    var i = 0
    var run = Long.MinValue
    while (i < n) {
      lo(i) = rows(i).getLong(loIdx)
      run = math.max(run, rows(i).getLong(hiIdx))
      maxHi(i) = run
      i += 1
    }
    new IntervalIndex(rows, lo, maxHi)
  }
}

/** Per-executor memo of the prefix arrays, keyed by broadcast id: tasks
  * after the first reuse the built index; SoftReferences let the JVM
  * reclaim indexes of finished queries under pressure. */
object IntervalIndexCache {
  private val cache = new java.util.concurrent.ConcurrentHashMap[
    (Long, Int, Int), java.lang.ref.SoftReference[IntervalIndex]]()
  def get(bc: org.apache.spark.broadcast.Broadcast[Array[InternalRow]],
          loIdx: Int, hiIdx: Int): IntervalIndex = {
    // purge GC-cleared entries on access: SoftReferences free the index
    // payloads, but without this sweep the (broadcastId, lo, hi) keys and
    // dead references would accumulate for the executor's lifetime
    val it = cache.entrySet().iterator()
    while (it.hasNext) if (it.next().getValue.get() eq null) it.remove()
    val key = (bc.id, loIdx, hiIdx)
    Option(cache.get(key)).flatMap(r => Option(r.get())).getOrElse {
      val built = IntervalIndex.fromSorted(bc.value, loIdx, hiIdx)
      cache.put(key, new java.lang.ref.SoftReference(built))
      built
    }
  }
}

/** BroadcastMode that sorts the collected interval rows by (lo, hi)
  * inside the BroadcastExchange — once, before the broadcast — so
  * executors receive a probe-ready array. */
case class IntervalIndexMode(loIdx: Int, hiIdx: Int)
  extends org.apache.spark.sql.catalyst.plans.physical.BroadcastMode {
  override def transform(rows: Array[InternalRow]): Array[InternalRow] =
    transform(rows.iterator, None)
  override def transform(rows: Iterator[InternalRow],
                         sizeHint: Option[Long]): Array[InternalRow] =
    rows.toArray.sortBy(r => (r.getLong(loIdx), r.getLong(hiIdx)))
  override def canonicalized: org.apache.spark.sql.catalyst.plans.physical.BroadcastMode =
    this
}

case class IntervalJoinExec(left: SparkPlan, right: SparkPlan,
                            pVal: Attribute, iLo: Attribute, iHi: Attribute)
  extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output ++ right.output

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  private def loIdx = right.output.indexWhere(_.exprId == iLo.exprId)
  private def hiIdx = right.output.indexWhere(_.exprId == iHi.exprId)

  override def requiredChildDistribution: Seq[Distribution] =
    UnspecifiedDistribution ::
      BroadcastDistribution(IntervalIndexMode(loIdx, hiIdx)) :: Nil

  // points stream through map-side: both layout properties survive
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[org.apache.spark.sql.catalyst.expressions.SortOrder] =
    left.outputOrdering

  protected override def doExecute(): RDD[InternalRow] = {
    val vIdx = left.output.indexWhere(_.exprId == pVal.exprId)
    val hIdx = hiIdx
    require(vIdx >= 0 && loIdx >= 0 && hIdx >= 0,
      "interval-join attributes must come from the join children")
    val schema = output
    val lIdx = loIdx
    val rel = right.executeBroadcast[Array[InternalRow]]()
    val numOutputRows = longMetric("numOutputRows")
    left.execute().mapPartitions { li =>
      // rows arrive (lo, hi)-sorted from the broadcast exchange; the
      // prefix arrays build at most once per executor via the cache
      val idx = IntervalIndexCache.get(rel, lIdx, hIdx)
      val rows = idx.rows
      val lo = idx.lo
      val maxHi = idx.maxHi
      val n = rows.length
      val hiIdx = hIdx
      val joiner = new JoinedRow
      val proj = UnsafeProjection.create(schema.map(_.dataType).toArray)
      li.flatMap { l =>
        val v = l.getLong(vIdx)
        // last index with lo <= v
        var a = 0; var b = n
        while (a < b) { val m = (a + b) >>> 1; if (lo(m) <= v) a = m + 1 else b = m }
        var j = a - 1
        val out = Iterator.unfold(j) { k =>
          var p = k
          while (p >= 0 && maxHi(p) > v && rows(p).getLong(hiIdx) <= v) p -= 1
          if (p < 0 || maxHi(p) <= v) None
          else {
            numOutputRows += 1
            Some((proj(joiner(l, rows(p))), p - 1))
          }
        }
        out
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): IntervalJoinExec =
    copy(left = newLeft, right = newRight)
}

/** Plans a PLAIN inner join whose whole condition is the band sandwich
  * `v >= lo AND v < hi` (BIGINT attributes, one side the point, the
  * other the interval) to [[IntervalJoinExec]] — the user writes the
  * declarative theta join, the planner picks the indexed operator
  * instead of BroadcastNestedLoopJoin. It fires only on the exact
  * two-conjunct shape, and only when the interval side is broadcastable
  * (a broadcast hint, or a size estimate within
  * `spark.sql.autoBroadcastJoinThreshold`) — exactly when Spark would
  * broadcast that side for the nested-loop join. Anything else falls
  * through to Spark's own planning untouched. Null semantics are
  * preserved by IsNotNull filters on both children (a null in any band
  * column excludes the row in the plain join too). */
object AutoIntervalJoinStrategy extends SparkStrategy
  with org.apache.spark.sql.catalyst.expressions.PredicateHelper
  with org.apache.spark.sql.catalyst.optimizer.JoinSelectionHelper {
  import org.apache.spark.sql.catalyst.expressions.{And => EAnd, Attribute => EAttr, GreaterThan, GreaterThanOrEqual, IsNotNull, LessThan, LessThanOrEqual}
  import org.apache.spark.sql.catalyst.plans.Inner
  import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, JoinHint}

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case Join(l, r, Inner, Some(cond), hint) =>
      val conj = splitConjunctivePredicates(cond)
      if (conj.size != 2) return Nil
      // normalize each conjunct to (v, bound, isLowerBound)
      def norm(e: org.apache.spark.sql.catalyst.expressions.Expression)
          : Option[(EAttr, EAttr, Boolean)] = e match {
        case GreaterThanOrEqual(v: EAttr, lo: EAttr) => Some((v, lo, true))
        case LessThanOrEqual(lo: EAttr, v: EAttr) => Some((v, lo, true))
        case LessThan(v: EAttr, hi: EAttr) => Some((v, hi, false))
        case GreaterThan(hi: EAttr, v: EAttr) => Some((v, hi, false))
        case _ => None
      }
      (norm(conj(0)), norm(conj(1))) match {
        case (Some((v1, lo, true)), Some((v2, hi, false)))
            if v1.exprId == v2.exprId =>
          build(l, r, hint, v1, lo, hi)
        case (Some((v1, hi, false)), Some((v2, lo, true)))
            if v1.exprId == v2.exprId =>
          build(l, r, hint, v2, lo, hi)
        case _ => Nil
      }
    case _ => Nil
  }

  private def build(l: LogicalPlan, r: LogicalPlan, hint: JoinHint,
                    v: EAttr, lo: EAttr, hi: EAttr): Seq[SparkPlan] = {
    val allLong = Seq(v, lo, hi).forall(_.dataType == LongType)
    val fromL = l.outputSet.contains(v) &&
      r.outputSet.contains(lo) && r.outputSet.contains(hi)
    val fromR = r.outputSet.contains(v) &&
      l.outputSet.contains(lo) && l.outputSet.contains(hi)
    if (!allLong || (!fromL && !fromR)) return Nil
    val conf = org.apache.spark.sql.internal.SQLConf.get
    val broadcastable =
      if (fromL) hintToBroadcastRight(hint) || canBroadcastBySize(r, conf)
      else hintToBroadcastLeft(hint) || canBroadcastBySize(l, conf)
    if (!broadcastable) return Nil
    // a child the optimizer already narrowed (its inferred IsNotNull
    // filters make the attributes non-nullable) stays as it is: a Filter
    // added here is not in the logical plan, so AQE could not match the
    // child's query stage when it re-plans the join
    def narrowed(p: LogicalPlan, as: Seq[EAttr]) = {
      val nullable = as.filter(a => p.output.exists(o => o.exprId == a.exprId && o.nullable))
      if (nullable.isEmpty) p
      else Filter(nullable.map(IsNotNull(_): org.apache.spark.sql.catalyst.expressions.Expression)
        .reduce(EAnd(_, _)), p)
    }
    if (fromL)
      IntervalJoinExec(planLater(narrowed(l, Seq(v))),
        planLater(narrowed(r, Seq(lo, hi))), v, lo, hi) :: Nil
    else {
      // v lives on the RIGHT: run the exec points-first, then restore
      // the join's (left ++ right) column order
      val exec = IntervalJoinExec(planLater(narrowed(r, Seq(v))),
        planLater(narrowed(l, Seq(lo, hi))), v, lo, hi)
      org.apache.spark.sql.execution.ProjectExec(
        (l.output ++ r.output).map(a => a), exec) :: Nil
    }
  }
}

object IntervalJoin {
  /** Public API: join `points` to every `intervals` row with
    * lo ≤ v < hi. All three columns BIGINT; output = points columns ++
    * interval columns (names must not collide); inner semantics. The
    * intervals are broadcast, so the join plans to [[IntervalJoinExec]]. */
  def join(points: DataFrame, intervals: DataFrame,
           v: String, lo: String, hi: String): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col}
    val pf = points.filter(col(v).isNotNull)
    val rf = intervals.filter(col(lo).isNotNull && col(hi).isNotNull)
    def field(df: DataFrame, n: String) =
      df.schema.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(
          s"column $n not found among ${df.columns.mkString(", ")}"))
    Seq(field(pf, v), field(rf, lo), field(rf, hi)).foreach(f =>
      require(f.dataType == LongType,
        s"interval-join column ${f.name} must be BIGINT, got ${f.dataType.sql}"))
    val dup = pf.columns.toSet intersect rf.columns.toSet
    require(dup.isEmpty, s"output name collision: ${dup.mkString(", ")}")
    pf.join(broadcast(rf), pf(v) >= rf(lo) && pf(v) < rf(hi))
  }
}
