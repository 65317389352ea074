package graft.util

import java.nio.file.{Files, Path, Paths}

/** Scratch-space placement for the engine's ephemeral streaming state
  * (stream checkpoints / state stores, staged micro-batch sources).
  *
  * Default is the JVM temp dir — on this host a DISK-backed path,
  * which makes every stream-stream join and stateful aggregation pay
  * per-micro-batch state-store fsyncs against whatever else the host's
  * disk is doing. Production Spark puts state stores on the fastest
  * local storage available (RocksDB on NVMe/instance SSD); the
  * single-node equivalent is a tmpfs path. Set `graft.scratch` (system
  * property) or `GRAFT_SCRATCH` (env) to relocate — e.g. `/dev/shm/
  * graft_scratch` — without touching any query code. Every consumer
  * creates a fresh unique dir per use and deletes it when done, so the
  * footprint is one query's state, never an accumulation.
  */
object Scratch {

  def root: String = sys.props.get("graft.scratch")
    .orElse(sys.env.get("GRAFT_SCRATCH"))
    .getOrElse(System.getProperty("java.io.tmpdir"))

  /** Point the scratch root at `/dev/shm/graft_scratch` unless a root
    * was set explicitly (explicit settings win). Only adopted when tmpfs
    * has headroom (≥ 4 GiB usable): staged sources + state stores on a
    * nearly-full `/dev/shm` would fail queries outright — disk scratch
    * is slower but never wrong. For the bench mains, so the stream rows
    * measure the engine rather than the host's disk fsync path. */
  def adoptTmpfs(): Unit = {
    val shm = Paths.get("/dev/shm")
    if (!sys.props.contains("graft.scratch") && !sys.env.contains("GRAFT_SCRATCH") &&
        Files.isDirectory(shm) &&
        (try Files.getFileStore(shm).getUsableSpace >= (4L << 30)
         catch { case _: Throwable => false }))
      sys.props("graft.scratch") = "/dev/shm/graft_scratch"
  }

  /** Fresh unique directory under the scratch root. */
  def dir(prefix: String): String = {
    val base = Paths.get(root)
    Files.createDirectories(base)
    Files.createTempDirectory(base, prefix).toString
  }

  /** [[dir]] + registration for recursive deletion at JVM exit — for
    * scratch whose lifetime is "until the consuming stream drains" with
    * no natural owner to delete it sooner (staged micro-batch sources:
    * the returned DataFrame may be re-executed, so the files must
    * outlive any one drain).
    *
    * The registry (and its dirs, if never [[release]]d) lives for the
    * PROCESS lifetime — fine for a one-process-per-session bench/CLI,
    * but a long-lived server embedding the library should pair every
    * `dirAutoClean` with `delete(d); release(d)` once the consumer is
    * done (the streaming layer does this at SparkContext shutdown), or
    * the list and the scratch footprint grow with every staged query. */
  def dirAutoClean(prefix: String): String = {
    val d = dir(prefix)
    autoClean.synchronized { autoClean += d }
    d
  }

  /** Unregister a [[dirAutoClean]] dir that was deleted early — keeps
    * the exit-hook list (and duplicate delete work) from accumulating
    * in a long-lived process. */
  def release(path: String): Unit =
    autoClean.synchronized { autoClean -= path }

  private val autoClean = scala.collection.mutable.ArrayBuffer.empty[String]
  Runtime.getRuntime.addShutdownHook(new Thread(() =>
    autoClean.synchronized { autoClean.foreach(delete) }))

  /** Recursive delete (best-effort — scratch cleanup must never fail
    * the query that used it). */
  def delete(path: String): Unit = {
    def rec(p: Path): Unit = {
      if (Files.isDirectory(p, java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
        val s = Files.list(p)
        try s.forEach(c => rec(c)) finally s.close()
      }
      Files.deleteIfExists(p)
    }
    try rec(Paths.get(path)) catch { case _: Throwable => () }
  }
}
