package graft

import java.nio.file.{Files, Path}

import scala.util.control.NonFatal

import org.apache.spark.sql.DataFrame

/** Temp dirs for the store-scenario query entries (the kv store
  * scenarios and the `*_inc` maintained surfaces). One rule: one dir per
  * call, and the result is detached from it before the dir is deleted.
  * No dir is shared between calls, so the entries need no lock and no
  * dir outlives the call that made it. */
object ScenarioDirs {

  private lazy val logger = org.slf4j.LoggerFactory.getLogger(getClass)

  /** `body` over a new temp dir, cut off from that dir by an eager
    * localCheckpoint (the blocks live in the block manager, not under
    * the dir), then the dir is deleted. A failed delete logs a warning
    * and never hides the body's result or exception. */
  def run(tag: String)(body: Path => DataFrame): DataFrame = {
    val dir = Files.createTempDirectory(tag)
    try body(dir).localCheckpoint(true)
    finally
      try delete(dir)
      catch { case NonFatal(e) => logger.warn(s"could not delete scenario dir $dir", e) }
  }

  /** Depth-first recursive delete (children before parents). */
  private def delete(dir: Path): Unit = {
    val walk = Files.walk(dir)
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala.toSeq.reverse
        .foreach(p => Files.deleteIfExists(p))
    } finally walk.close()
  }
}
