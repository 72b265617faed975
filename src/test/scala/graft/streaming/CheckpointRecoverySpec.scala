package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.Files
import java.sql.Timestamp
import scala.jdk.CollectionConverters._

/** SURVEY §2.9 T12: exactly-once across kill-and-resume. A streaming
  * dedup query is stopped after its first input file, then restarted
  * from the same checkpoint with more files (overlapping keys). The
  * recovered state must suppress re-emission — no loss, no duplicates.
  * Runs once per state-store provider, in the isolated micro-batch
  * session the replay loops use, so the restart reads back state that
  * the no-fork local filesystem ([[LocalFs]]) wrote.
  */
class CheckpointRecoverySpec extends SparkSpec {

  test("T12 dedup state survives restart from checkpoint")(restart("hdfs"))

  test("T12 dedup state survives restart from checkpoint (rocksdb)")(
    restart("rocksdb"))

  private def restart(provider: String): Unit = {
    val sp = LocalFs.microBatchSession(spark, 2, provider, aqe = true)
    import sp.implicits._
    val inDir = Files.createTempDirectory("ckpt-in").toString
    val outDir = Files.createTempDirectory("ckpt-out").toString
    val ckpt = Files.createTempDirectory("ckpt-state").toString

    def ev(uid: Long, hhmm: String, v: Double) =
      (uid, Timestamp.valueOf(s"2024-01-01 $hhmm:00"), v)

    // file 1: users 1,2,3
    Seq(ev(1, "10:00", 1.0), ev(2, "10:01", 2.0), ev(3, "10:02", 3.0))
      .toDF("user_id", "ts", "value").coalesce(1)
      .write.mode("append").parquet(inDir)

    def runOnce(): Unit = {
      val src = sp.readStream
        .schema("user_id LONG, ts TIMESTAMP, value DOUBLE")
        .option("maxFilesPerTrigger", "1").parquet(inDir)
      val q = src.dropDuplicates("user_id").writeStream
        .format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt).outputMode("append")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }

    runOnce() // processes file 1, then the query stops (the "kill")

    // file 2: users 2,3 again (must be suppressed by RECOVERED state) + 4
    Seq(ev(2, "11:00", 20.0), ev(4, "11:01", 4.0), ev(3, "11:02", 30.0))
      .toDF("user_id", "ts", "value").coalesce(1)
      .write.mode("append").parquet(inDir)

    runOnce() // resumes from checkpoint

    val out = sp.read.parquet(outDir)
    assert(out.count() == 4, "exactly one row per user — no loss, no dups")
    assert(out.select("user_id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L, 4L))
    // user 2's surviving row is the FIRST one (value 2.0), not the replay
    assert(out.filter($"user_id" === 2).select("value").as[Double].head() == 2.0)
    // the state really went through the chosen provider's files
    val stateFiles = Files.walk(java.nio.file.Paths.get(ckpt, "state"))
    val names = try stateFiles.iterator().asScala.map(_.getFileName.toString)
      .toList finally stateFiles.close()
    val ext = if (provider == "rocksdb") ".changelog" else ".delta"
    assert(names.exists(_.endsWith(ext)), s"no $ext state file under $ckpt")
  }
}
