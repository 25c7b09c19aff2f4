package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.joins.CartesianProductExec

/** Scale-hygiene net over EVERY driver entry: a CartesianProductExec in
  * a plan means Spark found no join keys AND no broadcastable side — at
  * 100 TB that is rows² work appearing silently after an innocuous
  * refactor (a renamed join column, a lost broadcast bound). Building
  * each entry's physical plan at sf0.001 catches that class in CI;
  * execution is NOT required (entries whose CONSTRUCTION runs jobs —
  * trainers, kv scenarios, Pregel loops — run them at sf0.001 cost).
  */
class PlanHygieneSpec extends SparkSpec {

  private def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => p +: flatten(a.executedPlan)
    case q: QueryStageExec => p +: flatten(q.plan)
    case _ => p +: p.children.flatMap(flatten)
  }

  /** Per entry: which of the marks below its executed plan carries, or the
    * failure building it. Built once, shared by both tests. */
  private lazy val marks: Seq[(String, Either[String, Set[String]])] = {
    import org.apache.spark.sql.execution.window.WindowExec
    SparkEntry.queries.toSeq.map { case (name, fn) =>
      name -> (try Right(flatten(fn(spark, SF).queryExecution.executedPlan).collect {
        case _: CartesianProductExec => "cartesian"
        // an EMPTY partitionSpec moves the whole input to one task —
        // Spark logs "No Partition Defined for Window operation!";
        // provably-tiny inputs must say so via partitionBy(lit(0))
        case w: WindowExec if w.partitionSpec.isEmpty => "window"
        case _: graft.plans.IntervalJoinExec => "interval"
      }.toSet)
      catch { case e: Throwable => Left(e.getMessage.take(120)) })
    }
  }

  private def marked(mark: String): Seq[String] =
    marks.collect { case (name, Right(m)) if m(mark) => name }

  test("no driver entry plans a CartesianProductExec or an unpartitioned window") {
    val failures = marks.collect { case (name, Left(msg)) => s"$name: $msg" }
    assert(failures.isEmpty, failures.mkString("; "))
    assert(marked("cartesian").isEmpty,
      s"cartesian product planned in: ${marked("cartesian").mkString(", ")}")
    assert(marked("window").isEmpty,
      s"unpartitioned WindowExec planned in: ${marked("window").mkString(", ")}")
  }

  test("only the interval-join entries plan an IntervalJoinExec") {
    // AutoIntervalJoinStrategy sees every inner join with a condition:
    // no other entry may pick the indexed exec up by accident
    assert(marked("interval").toSet == Set("q_range_phys", "q_range_sql"),
      marked("interval"))
  }
}
