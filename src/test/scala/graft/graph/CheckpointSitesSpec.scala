package graft.graph

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every iterative materialization in `graft.graph` goes through the
  * [[Superstep]] driver, which owns each checkpoint's cadence and
  * release. This scans the graph sources for `localCheckpoint` calls and
  * fails on any outside `Pregel.scala` that is not an allowlisted
  * one-shot input, named by (file, enclosing def, trimmed line).
  */
class CheckpointSitesSpec extends AnyFunSuite {

  /** (file, enclosing def, trimmed source line) → why that site may
    * checkpoint by itself. */
  private val allowed: Map[(String, String, String), String] = Map(
    ("GraphQueries.scala", "gSquareNodes", "val wedges = orientedWedges(s, dir).localCheckpoint()") ->
      "the oriented wedge list feeds the diagonal count and the middles join",
    ("GraphQueries.scala", "gSquareNodes", ".localCheckpoint()") ->
      "the diagonal counts feed both the endpoint and the middle attribution",
    ("GraphQueries.scala", "gModularity", """val und = g.undirected.select("src", "dst").localCheckpoint()""") ->
      "eager on measurement: the lazy form was slower (see the comment there)",
    ("GraphQueries.scala", "gJaccard", "val ue = PropertyGraph(s, dir).undirected.localCheckpoint()") ->
      "the symmetrized list feeds the degree agg, the pair set and both wedge legs",
    ("GraphQueries.scala", "gClustCoef", ".localCheckpoint()") ->
      "the oriented edge list appears three times in the triangle join",
    ("GraphQueries.scala", "gAssort", "val und = PropertyGraph(s, dir).undirected.localCheckpoint()") ->
      "the symmetrized list feeds the degree agg and both endpoint joins",
    ("GraphQueries.scala", "gRichClub", "val und = PropertyGraph(s, dir).undirected.localCheckpoint()") ->
      "the symmetrized list feeds the degree agg and both endpoint joins",
    ("GraphQueries.scala", "gAdamic", "val ue = PropertyGraph(s, dir).undirected.localCheckpoint()") ->
      "the symmetrized list feeds the degree term, the pair set and both wedge legs",
    ("GraphQueries.scala", "gReciprocity", ".localCheckpoint()") ->
      "the edge list is read as itself and reversed in one self-join",
    ("GraphAlgs.scala", "triangleCount", ".localCheckpoint()") ->
      "the oriented edge list appears three times in the triangle join",
    ("GraphAlgs.scala", "stressCentrality", ".localCheckpoint()") ->
      "the BFS DAG feeds the forward sigma and the backward T sweep",
    ("GraphAlgs.scala", "stressCentrality", "sig = sig.localCheckpoint()") ->
      "cuts the forward sweep's diameter-deep union chain before the backward one",
    ("KVGraphQueries.scala", "gKvDegreeMv", """e.filter(F.col("elabel") === "peer")).localCheckpoint(true)""") ->
      "the peer cells are appended as a delta batch and folded into the view",
    ("KVGraphQueries.scala", "gKvDegreeMv", "lid >= 1L && lid < VciBase).localCheckpoint(true)") ->
      "a CDC micro-batch is read once by the rollup fold, not once per sink")

  private val member = """^  (?:private(?:\[\w+\])? )?def (\w+)""".r.unanchored

  test("graph code checkpoints only through Superstep or at an allowlisted one-shot input") {
    val root = Paths.get("src/main/scala/graft/graph")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val sites: Seq[(String, String, String, String)] = {
      val files = Files.list(root)
      try files.iterator().asScala.filter(_.toString.endsWith(".scala")).toList.sortBy(_.toString)
      finally files.close()
    }.filterNot(_.getFileName.toString == "Pregel.scala").flatMap { (p: Path) =>
      var enclosing = ""
      Files.readAllLines(p).asScala.zipWithIndex.flatMap { case (line, i) =>
        line match {
          case member(name) => enclosing = name
          case _ =>
        }
        val t = line.trim
        if (t.contains(".localCheckpoint(") && !t.startsWith("//") && !t.startsWith("*"))
          Some((p.getFileName.toString, enclosing, t, s"$p:${i + 1}"))
        else None
      }
    }
    val outside = sites.filterNot { case (f, m, l, _) => allowed.contains((f, m, l)) }
    assert(outside.isEmpty,
      "localCheckpoint outside Superstep (loop.input / initial / fixed / probed):\n" +
        outside.map { case (_, m, l, at) => s"$at ($m): $l" }.mkString("\n"))
    // every allowlisted site still exists, once: a stale entry would
    // silently allow a new site of the same text
    val counts = sites.groupBy { case (f, m, l, _) => (f, m, l) }.view.mapValues(_.size).toMap
    allowed.keys.foreach(k => assert(counts.get(k).contains(1), s"$k: ${counts.get(k)}"))
  }
}
