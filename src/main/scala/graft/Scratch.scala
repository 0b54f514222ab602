package graft

import java.nio.file.{Files, Path}

import org.apache.hadoop.fs.FileSystem
import org.apache.hadoop.util.ShutdownHookManager

/** One scratch root per JVM for everything the library writes only to
  * read back in the same process: round-trip sink dirs, JSON page
  * fixtures, the session's warehouse dir, the Derby log.
  *
  * The root is a fresh `java.io.tmpdir/graft-jvm-<random>` directory, so
  * no two JVMs share it even when a pid is recycled, and it is deleted
  * when the JVM exits. The deletion runs through Hadoop's
  * [[ShutdownHookManager]] at [[HookPriority]], below the priority at
  * which Spark runs its own shutdown hooks (the SparkContext stop among
  * them), so the files are removed only after the context has stopped
  * using them.
  */
object Scratch {

  /** Spark registers its hooks at FileSystem's priority + 30; a lower
    * number runs later. Still above FileSystem's own cache close. */
  val HookPriority: Int = FileSystem.SHUTDOWN_HOOK_PRIORITY + 20

  lazy val root: Path = {
    val p = Files.createTempDirectory("graft-jvm-")
    ShutdownHookManager.get().addShutdownHook(deletion(p), HookPriority)
    p
  }

  /** `name` under [[root]] as a path string. */
  def path(name: String): String = root.resolve(name).toString

  /** The exit hook's body: delete `dir` and everything under it. */
  private[graft] def deletion(dir: Path): Runnable = () =>
    if (Files.exists(dir)) {
      val all = Files.walk(dir)
      try all.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
      finally all.close()
    }
}
