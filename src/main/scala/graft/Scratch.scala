package graft

import java.nio.file.{FileAlreadyExistsException, Files, Path, Paths,
  StandardCopyOption}
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
  * create against 0.04 ms through `java.nio`), which every
  * [[graft.GraftSession]] session and every micro-batch session avoid
  * through [[graft.streaming.LocalFs]]. Scratch roots
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
    while (p != null) {
      try deleteTree(p) catch { case _: Throwable => () }
      p = live.poll()
    }
  }

  /** Delete `p` and everything under it, if it exists. A failure
    * propagates: index compaction and side-store truncation must not
    * go on over a half-deleted tree. */
  private[graft] def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(Comparator.reverseOrder[Path]())
        .forEach(f => Files.deleteIfExists(f))
      finally walk.close()
    }

  /** Hard-link `f` as `t` (same-device scratch: metadata-only, no data
    * copied), falling back to a file copy where the filesystem refuses
    * the link. An existing `t` is kept: callers only ever place a
    * byte-identical file there. */
  private[graft] def linkOrCopy(f: Path, t: Path): Unit =
    try Files.createLink(t, f)
    catch {
      case _: FileAlreadyExistsException => ()
      case _: Exception => Files.copy(f, t, StandardCopyOption.REPLACE_EXISTING)
    }

  /** Create a fresh scratch directory with best-effort exit cleanup. */
  def dir(prefix: String): Path = {
    val p = base.fold(Files.createTempDirectory(prefix))(b =>
      Files.createTempDirectory(b, prefix))
    live.add(p)
    p
  }

  /** [[dir]] as a string path (the common call shape in query code). */
  def dirString(prefix: String): String = dir(prefix).toString

  /** Stable scratch root for fixed-path (overwrite-mode) roundtrips. */
  val root: String =
    base.map(_.toString)
      .getOrElse(System.getProperty("java.io.tmpdir", "/tmp"))
}
