package graft.streaming

import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

/** Hadoop's raw local filesystem without its two per-file process
  * starts. Without `libhadoop`, `setPermission` runs `/bin/chmod` on
  * every create and mkdir, and `getFileLinkStatus` (three calls per
  * `FileContext.rename`) runs `readlink`. Both are answered here
  * through `java.nio`; every case the nio call does not cover (sticky
  * bit, a failing chmod, a symlink) goes to `super`, so results and
  * exceptions are Hadoop's. File bytes, `.crc` files and rename
  * atomicity are untouched. */
class NoForkRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else try Files.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermissions.fromString(Seq(permission.getUserAction,
        permission.getGroupAction, permission.getOtherAction)
        .map(_.SYMBOL).mkString))
    catch {
      case _: java.io.IOException | _: UnsupportedOperationException =>
        super.setPermission(p, permission)
    }

  // `super` resolves the link through `readlink` on `new File(f.toString)`
  // and falls through to `getFileStatus` when that is not a symlink;
  // the same path test is made here without the process
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(Paths.get(f.toString))) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** [[NoForkRawLocalFileSystem]] behind the `FileSystem` API
  * (`fs.file.impl`): Hadoop's checksummed `LocalFileSystem`. */
class NoForkLocalFileSystem extends LocalFileSystem(new NoForkRawLocalFileSystem)

/** [[NoForkRawLocalFileSystem]] behind the `FileContext` API
  * (`fs.AbstractFileSystem.file.impl`): `ChecksumFs` over the same
  * delegate Hadoop's `LocalFs`/`RawLocalFs` pair builds. */
class NoForkLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NoForkRawLocalFs(uri, conf))

private class NoForkRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NoForkRawLocalFileSystem, conf,
      "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

object LocalFs {

  private val sessions = new java.util.concurrent.ConcurrentHashMap[
    (SparkContext, Int, String, Boolean), SparkSession]()

  /** The isolated session every bounded micro-batch loop runs in:
    * `shufflePartitions` shuffle/state partitions, the `stateStore`
    * provider (`hdfs`, or `rocksdb` with changelog checkpointing),
    * adaptive execution on or off (`aqe`), only the latest committed
    * batch of checkpoint files retained (no loop restarts from an old
    * batch), and `file:` resolved to the no-fork filesystem for both
    * Hadoop APIs. Sessions from [[graft.GraftSession.local]] already
    * resolve `file:` so, but a caller's session built elsewhere (a
    * benchmark harness, an outside user of `graft.api`) may not. The
    * FileSystem cache is keyed by scheme, authority and user, not by
    * configuration, so it is disabled for `file:` in this session —
    * otherwise whichever `file:` instance the JVM made first would
    * answer. The caller's session is left as it is.
    *
    * Each distinct configuration is built once per SparkContext and
    * shared: every session that runs a stream registers a
    * `StreamingQueryListenerBus` on the context for the life of the
    * JVM, so a session per loop would leave one per run. Callers set
    * no conf on the returned session. */
  def microBatchSession(spark: SparkSession, shufflePartitions: Int,
      stateStore: String, aqe: Boolean): SparkSession = {
    require(stateStore == "hdfs" || stateStore == "rocksdb",
      s"stateStore must be 'hdfs' or 'rocksdb', got '$stateStore'")
    sessions.keySet.removeIf(_._1.isStopped)
    sessions.computeIfAbsent((spark.sparkContext, shufflePartitions, stateStore, aqe), _ => {
      val ss = spark.newSession()
      ss.conf.set("spark.sql.shuffle.partitions", shufflePartitions)
      ss.conf.set("spark.sql.streaming.minBatchesToRetain", 1)
      ss.conf.set("spark.sql.adaptive.enabled", aqe)
      graft.GraftSession.noForkFile.foreach { case (k, v) => ss.conf.set(k, v) }
      ss.conf.set("fs.file.impl.disable.cache", true)
      // state-store provider: the default HDFS-backed map rewrites every
      // partition's FULL state per checkpoint — fine for kilobyte state,
      // quadratic-feeling under the index-building dedup ops whose
      // state grows each batch. RocksDB with changelog checkpointing
      // writes only the batch's changed entries — the production choice
      // for large streaming state. The provider is pinned into each
      // query's checkpoint, like the partition count.
      if (stateStore == "rocksdb") {
        ss.conf.set("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        ss.conf.set(
          "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
          "true")
      }
      ss
    })
  }
}
