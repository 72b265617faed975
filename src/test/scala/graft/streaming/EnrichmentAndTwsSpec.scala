package graft.streaming

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.Files

/** J5 streaming side: stream-static broadcast enrichment — the Flink
  * broadcast-state pattern as a stream⋈static join (the static side is
  * re-read per micro-batch).
  */
class EnrichmentAndTwsSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def replayToTable(df: DataFrame, mode: String, name: String): DataFrame = {
    val ckpt = Files.createTempDirectory(s"ckpt-$name").toString
    val q = df.writeStream.format("memory").queryName(name).outputMode(mode)
      .option("checkpointLocation", ckpt).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    spark.table(name)
  }

  test("J5-stream: stream-static broadcast enrichment matches the batch join") {
    val dim = Tables.customer(spark, sf)
      .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
    val enriched = StreamOps.source(spark, sf)
      .join(broadcast(dim), Seq("user_id"), "inner")
      .select(col("event_id"), col("user_id"), col("c_mktsegment"))
    val got = replayToTable(enriched, "append", "t_enrich")
    val expected = Tables.events(spark, sf)
      .join(broadcast(dim), Seq("user_id"), "inner")
    assert(got.count() == expected.count())
    assert(got.select("event_id").distinct().count() == got.count(),
      "each event enriched exactly once")
  }
}
