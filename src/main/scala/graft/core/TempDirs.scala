package graft.core

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

/** Run-scoped temp directories with guaranteed cleanup.
  *
  * Every scratch directory the engine creates (stream checkpoints, queue
  * dirs, derby stores, spec fixtures) goes under ONE per-JVM root that a
  * shutdown hook removes recursively. Before this existed, a full bench +
  * verify sweep left hundreds of `graft_stream_ckpt*` / queue / derby
  * directories in `/tmp` — harmless per run, but the sf1 scaling audit
  * actually ran the disk out of space mid-oracle because of the
  * accumulation. With the shared root, a full `sbt test` + bench leaves
  * O(1) residue (the root itself, deleted at JVM exit).
  *
  * Deletion is best-effort per file: Spark executors may still hold a
  * handle at shutdown, and a leftover file inside the doomed root is
  * strictly better than a hook that dies half way and leaks the rest.
  */
object TempDirs {

  lazy val root: Path = {
    // SPARK_GRAFT_TMPROOT relocates all run-scoped scratch (stream
    // checkpoints/sinks, queue dirs, derby stores) — e.g. onto a
    // RAM-backed fs for I/O-bound sweeps. Default: java.io.tmpdir.
    val r = rootBase(sys.env.get("SPARK_GRAFT_TMPROOT")) match {
      case Some(base) =>
        Files.createTempDirectory(Files.createDirectories(base), "graft_run_")
      case None => Files.createTempDirectory("graft_run_")
    }
    // Liveness marker for the launcher's stale-scratch sweep: a
    // long-lived run (sf10 benches exceed 2h) may never refresh the
    // root's mtime, so mtime alone can't distinguish "stale" from
    // "owned by a still-running JVM". The sweep skips any root whose
    // owner.pid names a live process (tools/graft_java.sh).
    Files.write(r.resolve("owner.pid"),
      ProcessHandle.current().pid().toString.getBytes("UTF-8"))
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteRecursively(r)))
    r
  }

  /** The `SPARK_GRAFT_TMPROOT` setting as an absolute path. A relative
    * setting resolves against the working directory once, here, so the
    * sbt-forked JVM and `tools/graft_java.sh` launches agree on it.
    */
  private[core] def rootBase(setting: Option[String]): Option[Path] =
    setting.map(Paths.get(_).toAbsolutePath.normalize)

  /** A fresh directory `<root>/<prefix>…` — drop-in replacement for
    * `Files.createTempDirectory(prefix)` with end-of-run cleanup.
    */
  def create(prefix: String): Path = Files.createTempDirectory(root, prefix)

  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(Comparator.reverseOrder[Path]()).forEach { f =>
        try Files.deleteIfExists(f)
        catch { case _: Exception => () }
      } finally walk.close()
    }
}
