package graft.tools

import graft.{GraftSession, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** sf-scaled stress probe: blow the sf0.1 fixture up `factor`× into a
  * scratch dir, then time the heaviest keys there — the cheapest
  * in-sandbox proxy for the plan cliffs (broadcast-threshold flips,
  * state blowups, quadratic candidate sets) that a real 100× scale-up
  * would expose and local[32]@sf0.1 cannot.
  *
  * Blow-up is deterministic and dup-free by construction:
  *  - `events`: `factor` copies, ids offset by copy·maxId, ts jittered
  *    +copy seconds (density ×factor, same span/keys — the windowed
  *    and stateful keys see factor× state and rows per window);
  *  - `documents`: ids offset, a per-copy suffix token appended so
  *    copies are near-but-not-exact dups (dedup candidate sets grow
  *    superlinearly — the interesting regime — without degenerating
  *    into factor-clique exact duplicates);
  *  - `embeddings`: ids offset, components perturbed +copy·1e-4
  *    (distinct vectors, same geometry);
  *  - star-schema tables copied through unchanged (the heavy tail under
  *    test is events/documents/embeddings-bound).
  *
  * Usage: `runMain graft.tools.Stress <sf0.1-dir> <outDir> [factor] [key...]`
  * Prints one line per key: `[stress] <key>: <t> s (<rows> rows)`.
  */
object Stress {
  private val defaultKeys = Seq(
    "stream_topn_replay", "stream_cumulate_append", "stream_ffill_replay",
    "llm_dedup_simhash_banded", "llm_dedup_embcos_blocked", "scalar_map",
    "sink_zorder_box", "state_forward_fill", "llm_knn_ivfpq", "enrich_async",
    "agg_approx_distinct", "join_skew_salted")

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val out = args(1)
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val keys = if (args.length > 3) args.drop(3).toSeq else defaultKeys
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.local(cpus, cpus)
    spark.sparkContext.setLogLevel("ERROR")

    if (!new java.io.File(s"$out/_BLOWN").exists()) blow(spark, src, out, factor)

    GraftSession.warmUp(spark, out)
    val s0 = GraftSession.stealJiffies()
    keys.foreach { k =>
      val t = GraftSession.timeKey(spark, out, k, "stress")
      if (t.failed) println(s"[stress] $k: FAILED")
      else println(f"[stress] $k: ${t.seconds}%.2f s (${t.rows} rows)")
    }
    println(s"[stress] factor=$factor steal_jiffies=${GraftSession.stealJiffies() - s0}")
    spark.stop()
  }

  private def blow(spark: SparkSession, src: String, out: String,
      factor: Int): Unit = {
    def copies(df: DataFrame): DataFrame =
      df.withColumn("__c", explode(sequence(lit(0), lit(factor - 1))))

    val ev = Tables.events(spark, src)
    val evMax = ev.agg(max("event_id")).head().getLong(0) + 1
    copies(ev)
      .withColumn("event_id", col("event_id") + col("__c") * evMax)
      .withColumn("ts", timestamp_micros(unix_micros(col("ts")) + col("__c") * 1000000L))
      .drop("__c")
      .write.mode("overwrite").parquet(s"$out/events.parquet")

    val docs = Tables.documents(spark, src)
    val docMax = docs.agg(max("doc_id")).head().getLong(0) + 1
    copies(docs)
      .withColumn("doc_id", col("doc_id") + col("__c") * docMax)
      .withColumn("text",
        when(col("__c") === 0, col("text"))
          .otherwise(concat(col("text"), lit(" copyv"), col("__c"))))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .drop("__c")
      .write.mode("overwrite").parquet(s"$out/documents.parquet")

    val emb = Tables.embeddings(spark, src)
    val embMax = emb.agg(max("vec_id")).head().getLong(0) + 1
    copies(emb)
      .withColumn("vec_id", col("vec_id") + col("__c") * embMax)
      .withColumn("embedding",
        transform(col("embedding"), x => x + col("__c").cast("float") * lit(1e-4f)))
      .drop("__c")
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
      .foreach { t =>
        spark.read.parquet(s"$src/$t.parquet")
          .write.mode("overwrite").parquet(s"$out/$t.parquet")
      }
    new java.io.File(s"$out/_BLOWN").createNewFile()
    ()
  }
}
