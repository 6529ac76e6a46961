package graft.sources

import java.nio.file.{Files, Path}
import java.util.Comparator

/** Shared scratch-directory allocator for the streaming replay helpers
  * and roundtrip sources (ADVICE r12): `File.deleteOnExit` only removes
  * EMPTY directories, so the old per-site pattern leaked every populated
  * graft_* temp tree (parquet stage dirs, streaming checkpoints) on each
  * bench/spec run. One JVM shutdown hook recursively deletes every dir
  * allocated here instead. Scratch trees are ephemeral per-invocation
  * replay state by contract — nothing reads them across JVMs. */
object Scratch {
  private val dirs = new java.util.concurrent.ConcurrentLinkedQueue[Path]()

  // registered once, lazily, so library users who never touch streaming
  // scratch never pay for (or race on) a shutdown hook
  private lazy val hooked: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => drain(), "graft-scratch-gc"))

  /** Create a temp directory that is recursively deleted at JVM exit. */
  def dir(prefix: String): Path = {
    hooked
    val p = Files.createTempDirectory(prefix)
    dirs.add(p)
    p
  }

  /** Recursively delete `p`, if it exists. Best effort: an entry that
    * cannot be deleted stays, and the rest still goes. */
  def delete(p: Path): Unit =
    try
      Files.walk(p).sorted(Comparator.reverseOrder[Path]())
        .forEach(f => { try Files.deleteIfExists(f) catch { case _: Exception => () }; () })
    catch { case _: Exception => () }

  private def drain(): Unit = {
    var p = dirs.poll()
    while (p != null) { delete(p); p = dirs.poll() }
  }
}
