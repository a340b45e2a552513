package graft

import java.nio.file.{Files, Path}

import org.apache.hadoop.fs.FileSystem
import org.apache.hadoop.util.ShutdownHookManager

/** Scratch directories that live until the JVM exits. A gate returns a
  * lazy read of the directory it wrote, so the directory cannot go when
  * the gate returns; one process-wide shutdown hook deletes every one
  * instead. The hook runs at [[Priority]], below Spark's own hook
  * (`FileSystem.SHUTDOWN_HOOK_PRIORITY + 30`, where the SparkContext is
  * stopped): Hadoop runs higher priorities first, so no task or
  * streaming query is still using a directory when it is deleted.
  */
object Scratch {

  private val Priority: Int = FileSystem.SHUTDOWN_HOOK_PRIORITY + 20

  /** The directories the hook will delete. */
  private[graft] val dirs = java.util.concurrent.ConcurrentHashMap.newKeySet[Path]()

  private[graft] lazy val hook: Runnable = {
    // one unremovable directory must not keep the rest
    val h: Runnable = () => dirs.forEach(d =>
      try delete(d) catch { case scala.util.control.NonFatal(_) => })
    ShutdownHookManager.get().addShutdownHook(h, Priority)
    h
  }

  /** A fresh directory under the system temp dir, named `prefix` plus a
    * unique suffix, deleted with everything in it when the JVM exits.
    */
  def dir(prefix: String): String = {
    hook
    val d = Files.createTempDirectory(prefix)
    dirs.add(d)
    d.toString
  }

  /** Deletes `d` recursively and forgets it. */
  private[graft] def delete(d: Path): Unit = {
    if (Files.exists(d)) {
      val walk = Files.walk(d)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.deleteIfExists(p))
      finally walk.close()
    }
    dirs.remove(d)
  }
}
