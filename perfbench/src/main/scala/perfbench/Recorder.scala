package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Engine counters, as sums since the listener was attached. */
final case class Counters(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
                          taskMs: Long = 0, shuffleBytes: Long = 0,
                          spillBytes: Long = 0, recordsRead: Long = 0,
                          bytesWritten: Long = 0, scanTasks: Long = 0,
                          planMs: Long = 0, gcMs: Long = 0) {
  def -(o: Counters): Counters = Counters(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, taskMs - o.taskMs, shuffleBytes - o.shuffleBytes,
    spillBytes - o.spillBytes, recordsRead - o.recordsRead,
    bytesWritten - o.bytesWritten, scanTasks - o.scanTasks, planMs - o.planMs,
    gcMs - o.gcMs)

  def json: String =
    s""""jobs":$jobs,"stages":$stages,"tasks":$tasks,"task_ms":$taskMs,""" +
      s""""shuffle_bytes":$shuffleBytes,"spill_bytes":$spillBytes,""" +
      s""""records_read":$recordsRead,"bytes_written":$bytesWritten,""" +
      s""""scan_tasks":$scanTasks,"plan_ms":$planMs,"gc_ms":$gcMs"""
}

/** A SparkListener and a QueryExecutionListener in one: sums job, stage
  * and task metrics, and Catalyst planning time. A stage counts as a
  * connector scan stage when its lineage holds a DSv2 `DataSourceRDD`. */
final class EngineListener extends SparkListener with QueryExecutionListener {
  private var c = Counters()
  private val scanStages = mutable.Set.empty[Int]

  def snapshot(): Counters = synchronized(c.copy(gcMs = EngineListener.gcMs()))

  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized { c = c.copy(jobs = c.jobs + 1) }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    c = c.copy(stages = c.stages + 1)
    if (e.stageInfo.rddInfos.exists(_.name == "DataSourceRDD"))
      scanStages += e.stageInfo.stageId
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val scan = if (scanStages.contains(e.stageId)) 1 else 0
    c =
      if (m == null) c.copy(tasks = c.tasks + 1, scanTasks = c.scanTasks + scan)
      else c.copy(tasks = c.tasks + 1, taskMs = c.taskMs + m.executorRunTime,
        shuffleBytes = c.shuffleBytes + m.shuffleWriteMetrics.bytesWritten,
        spillBytes = c.spillBytes + m.diskBytesSpilled,
        recordsRead = c.recordsRead + m.inputMetrics.recordsRead,
        bytesWritten = c.bytesWritten + m.outputMetrics.bytesWritten,
        scanTasks = c.scanTasks + scan)
  }

  private def plan(qe: QueryExecution): Unit = synchronized {
    c = c.copy(planMs = c.planMs + qe.tracker.phases.values.map(_.durationMs).sum)
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    plan(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    plan(qe)
}

object EngineListener {
  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
}

/** What one timed call returned: a row count and an order-independent
  * checksum (see [[Digest]]), plus free-form detail for checks that need
  * more than a digest. */
final case class Result(rows: Long, sum: Long, detail: String = "")

/** Times every call of the workload and keeps every record in memory;
  * [[Main]] writes them out once, at exit. In a traced pass the engine
  * listener is attached and each call becomes a span carrying its own
  * counter deltas: the bus is drained before and after the call, outside
  * the timer. Untraced passes run with no listener attached at all. */
final class Recorder(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
  val records = new mutable.ArrayBuffer[String] {
    // mirrored to the log as they happen, for watching a run
    override def addOne(r: String): this.type = { System.err.println(r); super.addOne(r) }
  }

  private var listener: EngineListener = null
  private var pass = -1

  def traced: Boolean = listener != null

  /** Start pass `p`; with `trace`, attach a fresh listener for it. */
  def beginPass(p: Int, trace: Boolean): Unit = {
    pass = p
    if (trace) {
      listener = new EngineListener
      sc.addSparkListener(listener)
      classic.listenerManager.register(listener)
    }
  }

  /** End the pass: record its wall time and, when traced, detach. */
  def endPass(seconds: Double, warm: Boolean): Unit = {
    records += s"""{"kind":"pass","pass":$pass,"warm":$warm,"traced":$traced,"s":$seconds}"""
    if (listener != null) {
      org.apache.spark.perfbench.BusDrain(sc)
      sc.removeSparkListener(listener)
      classic.listenerManager.unregister(listener)
      listener = null
    }
  }

  /** Time one call. A thrown exception is recorded as that call's
    * failure and does not stop the pass. */
  def op(name: String, i: Int)(body: => Result): Option[Result] = {
    val before =
      if (listener == null) null
      else { org.apache.spark.perfbench.BusDrain(sc); listener.snapshot() }
    val t0 = System.nanoTime()
    val res = try Right(body) catch { case e: Throwable => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    val counters =
      if (listener == null) ""
      else {
        org.apache.spark.perfbench.BusDrain(sc)
        "," + (listener.snapshot() - before).json
      }
    val outcome = res match {
      case Right(r) =>
        s""""rows":${r.rows},"sum":"${r.sum}","detail":${Json.str(r.detail)}"""
      case Left(e) =>
        System.err.println(s"[perfbench] $name#$i in pass $pass failed: $e")
        s""""err":${Json.str(e.toString)}"""
    }
    records += s"""{"kind":"op","pass":$pass,"traced":$traced,"op":"$name","i":$i,""" +
      s""""start_ms":${t0 / 1e6},"ms":$ms,$outcome$counters}"""
    res.toOption
  }

  /** A measurement taken between calls (store size, log depth...). */
  def sample(name: String, i: Int, value: Double): Unit =
    records += s"""{"kind":"sample","pass":$pass,"name":"$name","i":$i,"value":$value}"""

  def raw(json: String): Unit = records += json
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}
