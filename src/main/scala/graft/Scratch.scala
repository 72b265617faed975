package graft

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

/** Harness-side scratch-space selector (replay checkpoints, staged
  * micro-batch sources, index/sink roundtrips).
  *
  * Local mode puts `java.io.tmpdir` on the root ext4 disk, so every
  * state-store delta, offset/commit-log entry and sink metadata write
  * pays a real fsync. We prefer the RAM-backed `/dev/shm` tmpfs when
  * it is present and writable, falling back to the default tmpdir
  * otherwise. On tmpfs the bytes are cheap; what the bounded replay
  * keys still paid per checkpoint file was Hadoop's local filesystem
  * starting a `chmod`/`readlink` process (about 7 ms per mkdir plus
  * create against 0.04 ms through `java.nio`), which the micro-batch
  * sessions avoid through [[graft.streaming.LocalFs]]. Scratch roots
  * are deleted by a JVM shutdown hook (tmpfs pages are RAM — leaking
  * them across a long bench run would be a memory leak, not a disk
  * leak).
  *
  * @note scale: this is TEST-HARNESS scratch only — the checkpoint
  *   location of a production streaming job must survive the driver
  *   (DFS/object store), and a real deployment sizes state-store I/O
  *   against local SSD + RocksDB. Nothing under `src/main` operator
  *   code depends on scratch placement; routing it through tmpfs
  *   changes where the harness's checkpoint bytes land, not which
  *   code path writes them.
  */
object Scratch {
  private val base: Option[Path] = {
    val shm = Paths.get("/dev/shm")
    if (Files.isDirectory(shm) && Files.isWritable(shm)) Some(shm) else None
  }

  // ONE shutdown hook over a registry of live scratch roots: a full
  // bench/test run creates hundreds of scratch dirs, and a per-dir hook
  // would accumulate a Thread object each for the life of the JVM.
  private val live = new java.util.concurrent.ConcurrentLinkedQueue[Path]()
  sys.addShutdownHook {
    var p = live.poll()
    while (p != null) { deleteTree(p); p = live.poll() }
  }

  private def deleteTree(p: Path): Unit =
    try {
      if (Files.exists(p)) {
        val walk = Files.walk(p)
        try walk.sorted(Comparator.reverseOrder[Path]())
          .forEach(f => Files.deleteIfExists(f))
        finally walk.close()
      }
    } catch { case _: Throwable => () }

  /** Create a fresh scratch directory with best-effort exit cleanup. */
  def dir(prefix: String): Path = {
    val p = base.fold(Files.createTempDirectory(prefix))(b =>
      Files.createTempDirectory(b, prefix))
    live.add(p)
    p
  }

  /** Eagerly delete a scratch dir created by [[dir]] — call ONLY once
    * nothing lazy (a returned DataFrame!) still reads from it. On tmpfs
    * the pages are RAM until the JVM exits, so call sites that fully
    * materialize their result should release early. */
  def release(p: Path): Unit = { live.remove(p); deleteTree(p) }

  /** [[dir]] as a string path (the common call shape in query code). */
  def dirString(prefix: String): String = dir(prefix).toString

  /** Stable scratch root for fixed-path (overwrite-mode) roundtrips. */
  val root: String =
    base.map(_.toString)
      .getOrElse(System.getProperty("java.io.tmpdir", "/tmp"))
}
