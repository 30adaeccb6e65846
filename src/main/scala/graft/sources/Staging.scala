package graft.sources

import java.nio.file.{Files, Path}

/** Temp-tree staging under the gate entries that write (SinkQ) or
  * stream-from-directory (StreamQ). Query modules do not call it
  * directly: a memoized store is [[ArtifactStore.staged]], the one
  * spelling, which takes its directory from [[tempDir]] and deletes it
  * with [[delTree]] when the fill fails. `File.deleteOnExit` is a
  * no-op on non-empty directories, so every staged tree registers a
  * recursive-delete shutdown hook instead — ONE implementation of the
  * lesson, not a copy per module.
  */
object Staging {

  def delTree(p: Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (Files.exists(p)) {
      // close the walk stream (it holds directory handles) and shrug
      // off per-entry failures: a reaper racing a still-flushing
      // writer at JVM exit should delete what it can, not abort the
      // sweep (and leak the handles) on the first busy entry
      val walk = Files.walk(p)
      try walk.iterator().asScala.toSeq.reverseIterator
        .foreach(f => try Files.deleteIfExists(f) catch { case _: Exception => () })
      catch { case _: Exception => () }
      finally walk.close()
    }
  }

  // ONE shutdown hook draining a queue (r17 review): a dedicated hook
  // Thread per staged directory accumulated unboundedly in a battery
  // JVM (StreamQ mints temp dirs in loops — hundreds of hook threads,
  // all spawned concurrently at exit). tempDir just enqueues.
  private val pending = new java.util.concurrent.ConcurrentLinkedQueue[Path]()
  private lazy val reaperInstalled: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      var p = pending.poll()
      while (p != null) { delTree(p); p = pending.poll() }
    }, "graft-staging-reaper"))

  /** A fresh temp directory reaped at JVM exit. */
  def tempDir(prefix: String): Path = {
    reaperInstalled
    val p = Files.createTempDirectory(prefix)
    pending.add(p)
    p
  }
}
