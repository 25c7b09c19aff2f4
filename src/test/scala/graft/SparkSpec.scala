package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession fixture; specs run on sf0.001. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  val SF = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSpec.session

  /** Collect matches from an EXECUTED physical plan, recursing through
    * AQE wrappers and materialized query stages — QueryStageExec is a
    * LEAF of the plan tree (its subtree hangs off `plan`), so a bare
    * `executedPlan.collect` silently misses everything inside a stage
    * (r12 lesson; one walker shared by every plan-shape spec). */
  def collectExec[T](df: org.apache.spark.sql.DataFrame)(
      pf: PartialFunction[org.apache.spark.sql.execution.SparkPlan, T]): Seq[T] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def walk(p: SparkPlan): Seq[T] =
      p.collect {
        case n if pf.isDefinedAt(n) => Seq(pf(n))
        case q: QueryStageExec => walk(q.plan)
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      }.flatten
    walk(df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    })
  }

  /** The Spark jobs `f` starts: the listener bus is drained before and
    * after, so the count belongs to `f` alone. */
  def jobsOf(f: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.graftspec.BusDrain(sc)
    sc.addSparkListener(listener)
    try {
      f
      org.apache.spark.graftspec.BusDrain(sc)
    } finally sc.removeSparkListener(listener)
    jobs.get
  }

  /** `f` over a new temp dir, deleted afterwards. */
  def withTempDir[T](prefix: String)(f: String => T): T = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    try f(d.toString) finally org.apache.commons.io.FileUtils.deleteDirectory(d.toFile)
  }

  private val suiteDirs = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]

  /** A new temp dir deleted when the suite ends: for a fixture the
    * suite's tests share (a lazy val), which [[withTempDir]] cannot scope. */
  def suiteTempDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    suiteDirs.add(d)
    d.toString
  }

  // the session is shared: never stop it per suite
  override def afterAll(): Unit =
    suiteDirs.forEach(d => org.apache.commons.io.FileUtils.deleteDirectory(d.toFile))
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .withExtensions(new graft.GraftExtensions)
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
