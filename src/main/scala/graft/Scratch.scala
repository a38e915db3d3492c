package graft

import java.nio.file.{Files, Paths}

/** Per-process scratch directories. Verify, Bench, and the ScalaTest JVM
  * can run concurrently on one shared host; a fixed path
  * (`$TMPDIR/graft_scratch/...`, `/dev/shm/graft_spark`) lets one process
  * read a directory another is overwriting. Namespacing by PID isolates
  * them; dead processes' leftovers are reaped on first use so shared
  * tmpfs/disk doesn't accumulate abandoned shuffle and roundtrip files.
  */
object Scratch {

  private def deleteRecursively(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) {
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => try Files.delete(f) catch { case _: Exception => () })
    }

  /** Reap `<parent>/<prefix>_<pid>` dirs whose owning process is gone. */
  private def reapDead(parent: String, prefix: String): Unit = {
    val dir = new java.io.File(parent)
    Option(dir.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(f => f.isDirectory && f.getName.startsWith(prefix + "_"))
      .foreach { f =>
        val alive = f.getName.stripPrefix(prefix + "_").toLongOption
          .exists(pid => ProcessHandle.of(pid)
            .map[Boolean](_.isAlive).orElse(false))
        if (!alive) try deleteRecursively(f.toPath) catch { case _: Exception => () }
      }
  }

  /** `<parent>/<prefix>_<ownPid>`, created, with dead siblings reaped. */
  def dir(parent: String, prefix: String): String = {
    try reapDead(parent, prefix) catch { case _: Exception => () }
    val p = s"$parent/${prefix}_${ProcessHandle.current().pid()}"
    Files.createDirectories(Paths.get(p))
    p
  }

  /** [[dir]] under tmpfs (`/dev/shm`) when it is writable, else under
    * `java.io.tmpdir`: shared-host disk stalls on /tmp billed random
    * multi-second spikes to shuffle and store writes.
    */
  def tmpfsDir(prefix: String): String = {
    val shm = new java.io.File("/dev/shm")
    dir(if (shm.isDirectory && shm.canWrite) "/dev/shm"
        else sys.props.getOrElse("java.io.tmpdir", "/tmp"), prefix)
  }
}
