package graft.streaming

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** The state-store provider is an EXECUTION detail, never a semantics
  * knob: the same replay through the HDFS-backed map store and through
  * Spark's bundled RocksDB provider (changelog checkpointing on — the
  * production choice once keyed state outgrows executor memory) must
  * produce identical rows, including the end-of-replay StateFlush
  * drain read back from a RocksDB checkpoint. Measured at sf0.1
  * (SCALE.md, "Findings of the retired probes"): RocksDB is no slower
  * than the HDFS-backed map at test scale (0.74–1.11×; state fits the
  * page cache either way) — the knob exists for the 100 TB
  * deployment, not the bench.
  */
class StateStoreParitySpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("index-building dedup replay: rocksdb == hdfs row for row") {
    def run(store: String) = {
      val dfStats = graft.operators.DedupOps
        .hashedShingles(Tables.documents(spark, sf))
        .groupBy("h").agg(count(lit(1)).as("gdf"))
      BoundedReplay.replayDocuments(spark, sf, stateStore = store)(docs =>
        StreamOps.jaccardCompleteStream(docs, tNum = 4, tDen = 5,
          tsCol = Some("ts"), ttl = "365 days",
          dfStats = Some(dfStats)).toDF())
        .collect().map(_.toSeq).toSet
    }
    val hdfs = run("hdfs")
    assert(run("rocksdb") == hdfs, "provider changed the emitted pairs")
  }

  test("flush path: StateFlush drains a RocksDB checkpoint identically") {
    def run(store: String) = BoundedReplay.replayEvents(spark, sf,
        stateStore = store)(
        ev => StreamOps.countWindows(ev, n = 10))(
        ckpt => StateFlush.countWindows(
          flushSession(store), ckpt))
      .collect().map(_.toSeq).toSet
    val hdfs = run("hdfs")
    assert(run("rocksdb") == hdfs,
      "provider changed the streamed+flushed union")
  }

  test("unknown provider name fails loudly") {
    intercept[IllegalArgumentException] {
      BoundedReplay.replayEvents(spark, sf, stateStore = "leveldb")(
        ev => StreamOps.countWindows(ev, n = 10))(
        ckpt => StateFlush.countWindows(spark, ckpt))
    }
  }

  /** The state data source instantiates the provider from the READING
    * session's conf, so a RocksDB checkpoint is drained from a session
    * that names the RocksDB provider — the same pairing the writing
    * session used. */
  private def flushSession(store: String) =
    if (store == "rocksdb") {
      val s2 = spark.newSession()
      s2.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      s2
    } else spark
}
