package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** ScenarioDirs keeps one live dir per tag: `fresh` sweeps only its own
  * tag's previous dir. Tags carry a per-run suffix so leftovers of other
  * runs cannot leak into the on-disk counts. */
class ScenarioDirsSpec extends AnyFunSuite {

  private val run = System.nanoTime()
  private def tag(name: String) = s"sdspec_${name}_${run}_"

  test("a second fresh(t) deletes the first dir") {
    val t = tag("sweep")
    val first = ScenarioDirs.fresh(t)
    Files.writeString(first.resolve("f"), "x")
    val second = ScenarioDirs.fresh(t)
    assert(second != first && Files.isDirectory(second))
    assert(!Files.exists(first))
  }

  test("fresh(t1) never touches t2's dir") {
    val (t1, t2) = (tag("t1"), tag("t2"))
    val other = ScenarioDirs.fresh(t2)
    Files.writeString(other.resolve("f"), "x")
    ScenarioDirs.fresh(t1)
    ScenarioDirs.fresh(t1)
    assert(Files.readString(other.resolve("f")) == "x")
    assert(ScenarioDirs.current(t2).contains(other))
  }

  test("current(t) is the newest dir") {
    val t = tag("current")
    assert(ScenarioDirs.current(t).isEmpty)
    ScenarioDirs.fresh(t)
    val newest = ScenarioDirs.fresh(t)
    assert(ScenarioDirs.current(t).contains(newest))
  }

  test("the live set holds one dir per tag") {
    val tags = Seq(tag("l1"), tag("l2"))
    for (_ <- 1 to 3; t <- tags) ScenarioDirs.fresh(t)
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    for (t <- tags) {
      val onDisk = Files.list(tmp).iterator().asScala
        .filter(_.getFileName.toString.startsWith(t)).toSeq
      assert(onDisk == ScenarioDirs.current(t).toSeq, s"$t: $onDisk")
    }
  }
}
