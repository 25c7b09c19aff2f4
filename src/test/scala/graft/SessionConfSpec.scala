package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Nothing in graft toggles a session conf around a query: a query
  * planned meanwhile on the same session (a `Par.jobs` thread, a library
  * user's concurrent query) would plan under the wrong settings. The
  * settings graft depends on are declared once, in
  * `GraftExtensions.sessionDefaults`. This scans the main sources for
  * session-conf writes and fails on any site outside the allowlist.
  */
class SessionConfSpec extends AnyFunSuite {

  /** (file, trimmed source line) → why that site may write a session conf. */
  private val allowed: Map[(String, String), String] = Map(
    ("GraftExtensions.scala", "if (!conf.contains(k)) session.conf.set(k, v)") ->
      ("applies the session defaults once, when the session's analyzer is " +
        "built, before its first query"),
    ("Tables.scala", """spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")""") ->
      ("Tables.events: a one-way read setting for event files written with " +
        "TIMESTAMP(NANOS); Spark 4.1.2 has no per-read option for it"),
    ("EventStream.scala", """spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")""") ->
      ("EventStream.readEvents: the same one-way read setting for the " +
        "streamed event files"))

  test("no session conf is set or unset outside the allowlist") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val write = """conf\.(set|unset)\(""".r
    val sites: Seq[(String, String, String)] = {
      val files = Files.walk(root)
      try files.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally files.close()
    }.flatMap { (p: Path) =>
      Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if write.findFirstIn(line).isDefined =>
          (p.getFileName.toString, line.trim, s"$p:${i + 1}")
      }
    }
    val outside = sites.filterNot { case (f, l, _) => allowed.contains((f, l)) }
    assert(outside.isEmpty,
      "session conf written outside GraftExtensions.sessionDefaults:\n" +
        outside.map { case (_, l, at) => s"$at: $l" }.mkString("\n"))
    // every allowlisted site still exists, once: a stale entry would
    // silently allow a new site of the same text
    val counts = sites.groupBy { case (f, l, _) => (f, l) }.view.mapValues(_.size).toMap
    allowed.keys.foreach(k => assert(counts.get(k).contains(1), s"$k: ${counts.get(k)}"))
  }
}
