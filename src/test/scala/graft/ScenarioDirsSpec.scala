package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{CyclicBarrier, TimeUnit}

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.apache.spark.sql.DataFrame

/** ScenarioDirs.run: one dir per call, the result detached from it, the
  * dir deleted before the call returns — whether the body returns or
  * throws. */
class ScenarioDirsSpec extends SparkSpec {

  /** A scenario body: writes `n` rows under its dir and reads them back
    * lazily, so the result depends on the dir until it is detached. */
  private def body(n: Long)(dir: Path): DataFrame = {
    spark.range(0, n).write.parquet(s"$dir/t")
    spark.read.parquet(s"$dir/t")
  }

  test("the dir is gone after run returns, and the result still collects") {
    var seen: Path = null
    val df = ScenarioDirs.run("sdspec_ret") { d => seen = d; body(100)(d) }
    assert(seen != null && !Files.exists(seen), s"$seen survived the call")
    assert(df.collect().map(_.getLong(0)).sorted.toSeq == (0L until 100L))
  }

  test("the dir is gone after the body throws, and the body's exception surfaces") {
    var seen: Path = null
    val e = intercept[IllegalStateException] {
      ScenarioDirs.run("sdspec_throw") { d =>
        seen = d
        Files.writeString(d.resolve("f"), "x")
        throw new IllegalStateException("body failed")
      }
    }
    assert(e.getMessage == "body failed")
    assert(seen != null && !Files.exists(seen), s"$seen survived the failed call")
  }

  test("two concurrent runs of one tag both succeed") {
    // both bodies wait for each other, so the two dirs are live at once
    val both = new CyclicBarrier(2)
    def one(n: Long) = Future {
      ScenarioDirs.run("sdspec_conc") { d =>
        both.await(60, TimeUnit.SECONDS)
        body(n)(d)
      }.collect().map(_.getLong(0)).sorted.toSeq
    }
    val (a, b) = (one(10), one(20))
    assert(Await.result(a, 2.minutes) == (0L until 10L))
    assert(Await.result(b, 2.minutes) == (0L until 20L))
  }

  test("a run costs exactly one Spark job more than its body") {
    val bare = withTempDir("sdspec_bare")(d => jobsOf(body(1000)(Paths.get(d))))
    val run = jobsOf(ScenarioDirs.run("sdspec_jobs")(body(1000)))
    // the detach is the one eager checkpoint; any further materialization
    // in run would be paid by every scenario entry
    assert(run == bare + 1, s"run took $run jobs, its body $bare")
  }
}
