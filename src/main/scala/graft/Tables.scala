package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Central table readers for the driver-generated star schema + stream/LLM
  * tables (see FIXTURES.md; reference scope per SURVEY.md §1).
  *
  * All access to `events` goes through [[Tables.events]]: the file stores
  * `ts` as parquet `timestamp[ns]`, which Spark 4.x refuses to read from
  * the footer (`PARQUET_TYPE_ILLEGAL`). Reading with an explicit LongType
  * schema skips footer type validation, then we convert ns→µs with
  * INTEGER division (`ts div 1000`) — ns epochs (~1.7e18) exceed double's
  * 2^53 exact range, so a float division would corrupt timestamps by
  * hundreds of ns.
  *
  * @note scale: schema-on-read with explicit schemas avoids the
  *   driver-side footer-sampling pass entirely; on a 100 TB lake with
  *   many thousands of files this removes an O(files) listing+read on
  *   every query compile. Readers return plain scans so Catalyst keeps
  *   pushdown/pruning (verified: `PushedFilters`/`ReadSchema` reach
  *   `FileSourceScanExec`).
  */
object Tables {

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame   = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** Raw long-ns schema for events.parquet (FIXTURES.md "Streaming table"). */
  val eventsRawSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType), // parquet timestamp[ns] read as raw long
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)
  ))

  /** Events with `ts` as TimestampType at µs precision (matching DuckDB
    * `epoch_us`). Session TZ is pinned UTC, so wall-clock functions
    * (`date_trunc` etc.) agree with DuckDB's tz-less timestamps.
    *
    * The fixture's `ts` encoding has varied across driver regenerations:
    * parquet `timestamp[ns]` (which Spark 4.x refuses to infer from the
    * footer — `PARQUET_TYPE_ILLEGAL`) and plain `timestamp[us]`. Probe the
    * footer first: if inference succeeds and `ts` is already a timestamp
    * (TS or NTZ), read natively; only on ns files fall back to the
    * explicit LongType schema + INTEGER `div 1000` (ns epochs ~1.7e18
    * exceed double's 2^53 exact range, so float division would corrupt
    * timestamps by hundreds of ns).
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    val path = s"$sfDir/events.parquet"
    nativeEventsSchema(spark, path) match {
      case Some(schema) =>
        // the probed schema spares the read a second footer inference;
        // session TZ is pinned UTC, so an NTZ -> TS cast is value-identity
        spark.read.schema(schema).parquet(path)
          .withColumn("ts", col("ts").cast(TimestampType))
      case None =>
        spark.read.schema(eventsRawSchema).parquet(path)
          .withColumn("ts", timestamp_micros(expr("ts div 1000")))
    }
  }

  /** Footer-inferred schema when `ts` is already a parquet timestamp
    * (µs/ms, TS or NTZ); None when the footer is ns-encoded (inference
    * throws) or `ts` surfaces as a non-timestamp type. Probed once per
    * call site — an O(1 footer) read, not a directory listing — and the
    * read that follows takes the probed schema instead of inferring it
    * again. */
  private[graft] def nativeEventsSchema(
      spark: SparkSession, path: String): Option[StructType] =
    scala.util.Try(spark.read.parquet(path).schema).toOption.filter { s =>
      s.fieldNames.contains("ts") && (s("ts").dataType match {
        case TimestampType | TimestampNTZType => true
        case _ => false
      })
    }
}
