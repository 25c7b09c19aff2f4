package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** One benchmark run: one JVM, one SparkSession, one client making
  * sequential calls. Set-up (session, store build, one warm-up pass) comes
  * first; then whole passes run until `seconds` have gone by, at least one
  * (three when traced) and at most the op stream's `passes` from
  * `meta.txt`, when the generator set one. Every record is written as
  * JSON lines to `out` at exit; `run.py` turns them into metrics.
  *
  * With `--trace 1` every second measured pass is traced (listeners
  * attached, one span per call), the others run untraced, so the run
  * measures its own tracing overhead. */
object Main {
  private val Warmup = 1

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val startMs = a("t0-ms").toDouble
    def since(ms: Double): Double = (System.currentTimeMillis() - ms) / 1e3

    val spark = SparkSession.builder()
      .appName("perfbench")
      .master(a("master"))
      .withExtensions(new graft.GraftExtensions)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", a("shuffle-partitions"))
      .config("spark.sql.adaptive.enabled", a("aqe"))
      .config("spark.local.dir", a("local-dir"))
      .config("spark.hadoop.hadoop.tmp.dir", a("local-dir"))
      .config("spark.sql.warehouse.dir", a("warehouse"))
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val rec = new Recorder(spark)
    try {
      val sessionS = since(startMs)
      val wl = Workload(a("workload"), spark, Paths.get(a("input")), Paths.get(a("store")))
      val b0 = System.nanoTime()
      wl.build(rec)
      val buildS = (System.nanoTime() - b0) / 1e9
      val w0 = System.nanoTime()
      def runPass(p: Int, trace: Boolean, warm: Boolean): Unit = {
        wl.prepare(p)
        System.gc()
        rec.beginPass(p, trace)
        val t = System.nanoTime()
        wl.pass(p, rec)
        rec.endPass((System.nanoTime() - t) / 1e9, warm)
      }
      (0 until Warmup).foreach(p => runPass(p, trace = false, warm = true))
      val warmupS = (System.nanoTime() - w0) / 1e9
      rec.raw(s"""{"kind":"setup","session_s":$sessionS,"build_s":$buildS,""" +
        s""""warmup_s":$warmupS,"warmup":$Warmup,"setup_s":${since(startMs)}}""")

      val trace = a("trace") == "1"
      val deadline = System.nanoTime() + (a("seconds").toDouble * 1e9).toLong
      // a traced run: untraced, traced, untraced
      val minPasses = if (trace) 3 else 1
      val maxPasses = wl.meta.get("passes").fold(Int.MaxValue)(_.toInt)
      var p = Warmup
      while (p < maxPasses && (p - Warmup < minPasses || System.nanoTime() < deadline)) {
        // untraced and traced passes alternate, starting and ending
        // untraced, so a warm-up trend cancels out of the overhead
        runPass(p, trace && (p - Warmup) % 2 == 1, warm = false)
        p += 1
      }
      // what graft and Spark still hold once the measured passes are done:
      // the heap after a full GC, taken once Spark's cleaner has dropped
      // the broadcasts the first GC released (without that second GC the
      // figure swings by tens of MB with the cleaner's timing)
      System.gc()
      org.apache.spark.perfbench.BusDrain(spark.sparkContext)
      Thread.sleep(1000)
      System.gc()
      val liveBytes = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
      wl.finish(rec)
      rec.raw(s"""{"kind":"end","passes":${p - Warmup},"live_heap_bytes":$liveBytes,""" +
        s""""hwm_kb":${hwmKb()}}""")
    } finally {
      Files.write(Paths.get(a("out")),
        rec.records.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
      spark.stop()
    }
  }

  /** Peak resident set size of this process (VmHWM), in KiB. */
  private def hwmKb(): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)
}
