package graft

import graft.streaming.{NoForkLocalFileSystem, NoForkLocalFs}
import org.apache.spark.sql.SparkSession

/** The one session builder and key timer behind every entry point:
  * `Bench`, `Verify`, the tools and the test base session. */
object GraftSession {

  /** Hadoop's `file:` implementation for the `FileSystem` and the
    * `FileContext` API: the no-fork local filesystem
    * ([[graft.streaming.LocalFs]]). */
  val noForkFile: Seq[(String, String)] = Seq(
    "fs.file.impl" -> classOf[NoForkLocalFileSystem].getName,
    "fs.AbstractFileSystem.file.impl" -> classOf[NoForkLocalFs].getName)

  /** A `local[cpus]` session with `shufflePartitions` shuffle
    * partitions, the UTC session time zone, the graft SQL extensions
    * and no UI. `file:` resolves to the no-fork filesystem through the
    * context's Hadoop configuration, so the first `file:` instance the
    * JVM caches is already the no-fork one. */
  def local(cpus: Int, shufflePartitions: Int): SparkSession =
    noForkFile.foldLeft(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")) { case (b, (k, v)) =>
      b.config(s"spark.hadoop.$k", v)
    }.getOrCreate()

  /** Host CPU steal so far, in jiffies (field 8 of the `cpu ` line of
    * `/proc/stat`); 0 where it cannot be read. */
  def stealJiffies(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().find(_.startsWith("cpu "))
        .map(_.trim.split("\\s+")(8).toLong).getOrElse(0L)
      finally src.close()
    } catch { case _: Throwable => 0L }

  /** Run two representative keys through the same full-evaluation path
    * (scan → decimal agg → sort), so the first timed key is not charged
    * cold JIT and codegen set-up (measured: ~10x inflation on whichever
    * real key runs first otherwise). */
  def warmUp(spark: SparkSession, sfDir: String): Unit =
    try Seq("agg_pricing_summary", "proj_compute").foreach(k =>
      SparkEntry.queries(k)(spark, sfDir).queryExecution.toRdd.count())
    catch { case _: Throwable => () }

  /** One timed run of a key: wall seconds, result rows and the host
    * steal charged meanwhile. A failed key reads -1 s and -1 rows. */
  final case class KeyTime(seconds: Double, rows: Long, steal: Long) {
    def failed: Boolean = seconds < 0
  }

  /** Times `key` on `sfDir`. The key's OWN plan is executed (`toRdd`):
    * `df.count()` would wrap the plan in a count aggregate and let
    * Catalyst prune the projected columns and eliminate sorts — timing
    * a row-count scan instead of the operator under test. A failure is
    * reported on stderr as `[tag] key failed: message`. */
  def timeKey(spark: SparkSession, sfDir: String, key: String,
      tag: String): KeyTime = {
    val query = SparkEntry.queries(key)
    val s0 = stealJiffies()
    val t0 = System.nanoTime()
    val rows =
      try query(spark, sfDir).queryExecution.toRdd.count()
      catch { case e: Throwable =>
        System.err.println(s"[$tag] $key failed: ${e.getMessage}")
        -1L
      }
    // -1 marks a failed key so a crashing key can never IMPROVE a
    // reported total (it would otherwise count its partial elapsed time)
    val dt = if (rows >= 0) (System.nanoTime() - t0) / 1e9 else -1.0
    KeyTime(dt, rows, stealJiffies() - s0)
  }
}
