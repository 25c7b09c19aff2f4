package graft

import java.nio.file.{Files, Path}

/** JVM-local snapshot directories for the scenario-driven driver
  * entries (the `*_inc` maintained surfaces and the kv store
  * scenarios): each tag keeps ONE live temp dir between invocations
  * (Bench REPS>1 and Verify re-run entries in the same JVM), sweeping
  * the tag's previous dir when a fresh one is handed out, plus a
  * shutdown hook so the FINAL dir of each tag does not outlive the JVM.
  *
  * Callers hold their entry's own lock across `fresh` and the reads of
  * the dir it returns, so a second call of an entry cannot sweep a dir
  * the first call still reads. Entries that share a tag share that lock
  * too (they live in one object). */
object ScenarioDirs {

  private val live = scala.collection.mutable.Map.empty[String, Path]

  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      live.values.toSeq.foreach(d => try delete(d) catch { case _: Throwable => () })))
  }

  /** Depth-first recursive delete (children before parents). */
  def delete(dir: Path): Unit = {
    val walk = Files.walk(dir)
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala.toSeq.reverse
        .foreach(p => Files.deleteIfExists(p))
    } finally walk.close()
  }

  /** Sweep `tag`'s previous dir (if any) and hand out a fresh one. */
  def fresh(tag: String): Path = synchronized {
    live.remove(tag).foreach(delete)
    val p = Files.createTempDirectory(tag)
    live(tag) = p
    p
  }

  /** `tag`'s live dir: the one the latest `fresh(tag)` handed out. */
  private[graft] def current(tag: String): Option[Path] = synchronized(live.get(tag))
}
