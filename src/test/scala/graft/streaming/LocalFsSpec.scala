package graft.streaming

import graft.SparkSpec
import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.Files
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, CreateFlag, FileContext,
  FileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The no-fork local filesystem against Hadoop's stock one: the same
  * modes, link statuses, exceptions, renamed bytes and checksums —
  * only without the `chmod`/`readlink` process per call. */
class LocalFsSpec extends SparkSpec {

  private val fileUri = URI.create("file:///")

  private def raws: Seq[RawLocalFileSystem] =
    Seq(new RawLocalFileSystem, new NoForkRawLocalFileSystem).map { fs =>
      fs.initialize(fileUri, new Configuration()); fs
    }

  private def oct(s: String): Int = Integer.parseInt(s, 8)

  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & oct("7777")

  test("create and mkdirs leave the stock permission bits") {
    val modes = raws.map { fs =>
      val dir = graft.Scratch.dir("localfs-perm")
      Seq("644", "600", "755", "700").flatMap { octal =>
        val perm = new FsPermission(oct(octal).toShort)
        val f = dir.resolve(s"f$octal")
        fs.create(new Path(f.toString), perm, true, 4096, 1.toShort,
          1L << 26, null).close()
        val d = dir.resolve(s"d$octal")
        assert(fs.mkdirs(new Path(d.toString), perm))
        Seq(mode(f), mode(d))
      } ++ {
        // no explicit permission: each API's default under the umask
        val f = dir.resolve("default"); val d = dir.resolve("defaultDir")
        fs.create(new Path(f.toString)).close()
        fs.mkdirs(new Path(d.toString))
        Seq(mode(f), mode(d))
      } ++ {
        // create/mkdirs drop the sticky bit with the umask; a direct
        // setPermission keeps it (and goes to Hadoop's own chmod)
        val d = Files.createDirectory(dir.resolve("sticky"))
        fs.setPermission(new Path(d.toString),
          new FsPermission(oct("1777").toShort))
        Seq(mode(d))
      }
    }
    assert(modes(1) == modes(0))
    assert(modes(0).take(2) == Seq(oct("644"), oct("644")))
    assert(modes(0).takeRight(3) == Seq(oct("644"), oct("755"), oct("1777")))
    // a failing chmod fails the same way
    val missing = new Path(graft.Scratch.dir("localfs-miss")
      .resolve("nope").toString)
    val errs = raws.map(fs => intercept[java.io.IOException](
      fs.setPermission(missing, new FsPermission(oct("644").toShort))))
    assert(errs(1).getClass == errs(0).getClass)
  }

  test("getFileLinkStatus matches stock on a file, a directory, a symlink and a missing path") {
    val dir = graft.Scratch.dir("localfs-link")
    val file = Files.write(dir.resolve("file"), "abc".getBytes("UTF-8"))
    val sub = Files.createDirectory(dir.resolve("sub"))
    val link = Files.createSymbolicLink(dir.resolve("link"), file)
    def statuses(fs: RawLocalFileSystem) =
      Seq(file, sub, link).flatMap(p =>
        Seq(new Path(p.toString), new Path(p.toUri))).map { p =>
        val s = fs.getFileLinkStatus(p)
        (s.getPath, s.isFile, s.isDirectory, s.isSymlink,
          if (s.isSymlink) s.getSymlink else null, s.getLen,
          s.getModificationTime, s.getPermission)
      }
    val Seq(stock, noFork) = raws.map(statuses)
    assert(noFork == stock)
    assert(stock(4)._4 && stock(4)._5 == new Path(file.toUri),
      "the unqualified symlink path resolves as a link to its target")
    val missing = new Path(dir.resolve("missing").toString)
    val Seq(e0, e1) = raws.map(fs => intercept[FileNotFoundException](
      fs.getFileLinkStatus(missing)))
    assert(e1.getMessage == e0.getMessage)
  }

  test("FileContext rename with OVERWRITE leaves the stock files and checksums") {
    val noForkConf = new Configuration()
    graft.GraftSession.noForkFile.foreach { case (k, v) => noForkConf.set(k, v) }
    val results = Seq(new Configuration(), noForkConf).map { conf =>
      val fc = FileContext.getLocalFSFileContext(conf)
      val dir = graft.Scratch.dir("localfs-rename")
      def write(name: String, body: String): Path = {
        val p = new Path(dir.resolve(name).toString)
        val out = fc.create(p,
          java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
        try out.write(body.getBytes("UTF-8")) finally out.close()
        p
      }
      val dst = write("dst", "old")
      fc.rename(write("src", "new bytes"), dst, Options.Rename.OVERWRITE)
      val ls = Files.list(dir)
      try ls.toArray.map(_.asInstanceOf[java.nio.file.Path])
        .map(p => p.getFileName.toString -> Files.readAllBytes(p).toSeq)
        .sortBy(_._1).toSeq
      finally ls.close()
    }
    assert(results(1) == results(0))
    assert(results(0).map(_._1) == Seq(".dst.crc", "dst"))
    assert(new String(results(0)(1)._2.toArray, "UTF-8") == "new bytes")
  }

  test("microBatchSession resolves file: to the no-fork classes for both APIs") {
    def hadoopConf(s: org.apache.spark.sql.SparkSession) =
      s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .sessionState.newHadoopConf()
    val conf = hadoopConf(LocalFs.microBatchSession(spark, 2, "hdfs", aqe = true))
    assert(FileSystem.get(fileUri, conf).isInstanceOf[NoForkLocalFileSystem])
    assert(AbstractFileSystem.get(fileUri, conf).isInstanceOf[NoForkLocalFs])
    // the base session (GraftSession.local) is no-fork from its build on
    val baseConf = hadoopConf(spark)
    assert(FileSystem.get(fileUri, baseConf)
      .isInstanceOf[NoForkLocalFileSystem])
    assert(AbstractFileSystem.get(fileUri, baseConf)
      .isInstanceOf[NoForkLocalFs])
    // the cached file: instance may still be a stock one in a caller's
    // session built elsewhere, so micro-batch sessions bypass the cache
    assert(conf.getBoolean("fs.file.impl.disable.cache", false))
  }

  test("microBatchSession builds each configuration once and reuses it") {
    val a = LocalFs.microBatchSession(spark, 2, "hdfs", aqe = true)
    assert(LocalFs.microBatchSession(spark, 2, "hdfs", aqe = true) eq a)
    val others = Seq(LocalFs.microBatchSession(spark, 8, "hdfs", aqe = true),
      LocalFs.microBatchSession(spark, 2, "rocksdb", aqe = true),
      LocalFs.microBatchSession(spark, 2, "hdfs", aqe = false))
    val all = a +: others
    for (i <- all.indices; j <- all.indices if i < j)
      assert(!(all(i) eq all(j)), "each distinct configuration is its own session")
    assert(others(1).conf.get("spark.sql.streaming.stateStore.providerClass")
      .endsWith("RocksDBStateStoreProvider"))
    assert(others(2).conf.get("spark.sql.adaptive.enabled") == "false")
    assert(a.conf.get("spark.sql.shuffle.partitions") == "2")
  }
}
