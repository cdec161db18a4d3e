package graft

import java.nio.file.{Files, Path}

/** Temp-dir factory with JVM-exit cleanup — Bench/Verify create staging
  * dirs (CSV/JSON exports, stream staging, checkpoints) per run; without
  * cleanup repeated runs leak disk until /tmp fills.
  */
object TempDirs {
  private val created = new java.util.concurrent.ConcurrentLinkedQueue[Path]()

  Runtime.getRuntime.addShutdownHook(new Thread(() => {
    created.forEach { p =>
      try deleteRecursively(p.toFile) catch { case _: Throwable => () }
    }
  }))

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(): Unit
  }

  /** Scratch root for all scoped dirs (stream staging, checkpoints,
    * delta logs): `SPARK_GRAFT_TMPDIR` if set, else `/dev/shm` when it
    * exists and is writable, else `java.io.tmpdir`. Every byte here is
    * per-run scratch wiped at JVM exit, never a cached result, so it
    * may as well live in memory. Where it lives is not what made
    * streaming commits slow: a state-store commit cost ~90–100 ms on
    * `/dev/shm` too, because Hadoop's local file system forked `chmod`
    * and `readlink` helpers for each checkpoint file; an installed
    * session ([[graft.Session.install]]) writes every local file and
    * checkpoint without them.
    */
  private lazy val root: Path = {
    val candidate = sys.env.get("SPARK_GRAFT_TMPDIR")
      .orElse {
        val shm = java.nio.file.Paths.get("/dev/shm")
        if (Files.isDirectory(shm) && Files.isWritable(shm)) Some(shm.toString)
        else None
      }
      .getOrElse(System.getProperty("java.io.tmpdir"))
    Files.createDirectories(java.nio.file.Paths.get(candidate, "graft-scratch"))
  }

  /** Create a temp directory removed at JVM exit. */
  def scoped(prefix: String): String = {
    val d = Files.createTempDirectory(root, prefix)
    created.add(d)
    d.toString
  }
}
