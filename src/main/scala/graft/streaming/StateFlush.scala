package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** End-of-replay flush for timer-gated operators (SURVEY §2.9 T7/T8
  * family): a BOUNDED replay ends with the watermark at
  * `max(ts) - delay`, so windows whose event-time timers sit beyond it
  * never fire and their one-shot emissions are lost — the documented
  * streaming-vs-batch tail gap. Spark 4's state data source closes it
  * WITHOUT sentinel events: after the query stops, read the stateful
  * operator's surviving state straight from the checkpoint
  * (the `statestore` data source) and run the operator's OWN close
  * step on every key at [[StreamOps.EndOfStream]] — the function its
  * timer path runs at the live watermark, so the two can never drift.
  * Streamed ∪ flush = the batch twin, exactly.
  *
  * This is also the production drain pattern: stop a continuous
  * pipeline at a corpus epoch, flush its open windows from the
  * checkpoint, and hand downstream a COMPLETE result without waiting a
  * watermark-delay past the last real event.
  *
  * @note scale: the state source reads one row per OPEN key from the
  *   last committed snapshot — distributed, no driver materialization;
  *   the close step is one flatMap over that (small) frame.
  */
object StateFlush {

  /** Every surviving `(key, state)` row of the stopped query at
    * `checkpoint`, closed by `close` at watermark `wmUs`. */
  private def drain[K: Encoder, S: Encoder, O: Encoder](spark: SparkSession,
      checkpoint: String, close: StreamOps.Close[K, S, O],
      wmUs: Long = StreamOps.EndOfStream): Dataset[O] =
    spark.read.format("statestore").option("path", checkpoint).load()
      .select(col("key.value").as("_1"), col("value.groupState").as("_2"))
      .as[(K, S)](Encoders.tuple(implicitly[Encoder[K]], implicitly[Encoder[S]]))
      .flatMap { case (k, s) =>
        val out = new StreamOps.Out[O]
        close(k, s, wmUs, out)
        out
      }

  /** Top-k emission for every window still open in a stopped
    * [[StreamOps.windowTopN]] query. */
  def windowTopN(spark: SparkSession, checkpoint: String,
      k: Int = 3): Dataset[WinTopRow] = {
    import spark.implicits._
    drain(spark, checkpoint, StreamOps.windowTopNClose(k, 0L))
  }

  /** Pending-row drain for a stopped [[StreamOps.overRows]] query: the
    * rows above the final watermark are complete in state (the operator
    * never drops un-emitted data), so emitting them in `(ts, event_id)`
    * order, seeded with the key's saved frame context, yields exactly
    * the rows the batch window-function twin produces for the tail. */
  def overRows(spark: SparkSession, checkpoint: String,
      nPrec: Int = 3): Dataset[OverRow] = {
    import spark.implicits._
    drain(spark, checkpoint, StreamOps.overRowsClose(nPrec))
  }

  /** Final resolution for a stopped
    * [[StreamOps.cepGroupRangeReluctantStream]] /
    * [[StreamOps.cepGroupRangeGreedyStream]] query: the stream is
    * over, so every live partial is dead and every anchor's buffered
    * completion set is complete — each anchor resolves to its extremal
    * count exactly as when its last partial dies mid-stream. */
  def groupRangeClosed(spark: SparkSession, checkpoint: String,
      keyCol: String, group: Seq[(String, org.apache.spark.sql.Column)],
      m: Int, post: Seq[(String, org.apache.spark.sql.Column)],
      greedy: Boolean,
      pre: Seq[(String, org.apache.spark.sql.Column)] = Nil): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val rows = drain(spark, checkpoint,
      StreamOps.groupRangeClose(pre.size, group.size, 0L, greedy))
    StreamOps.groupRangeClosedShape(rows.toDF(), keyCol, pre, group, m, post)
  }

  /** Final resolution for a stopped [[StreamOps.cepSkipToNextStream]]
    * query: every unresolved start's candidate set is complete, so each
    * pending A emits its earliest buffered B inside its window; starts
    * with none drop. */
  def cepSkipToNext(spark: SparkSession, checkpoint: String,
      withinUs: Long): Dataset[SkipNextMatch] = {
    import spark.implicits._
    drain(spark, checkpoint, StreamOps.skipToNextClose(withinUs))
  }

  /** Each user's final pending hour bucket for a stopped
    * [[StreamOps.forwardFill]] query — the one row per key a bounded
    * replay omits (a tail bucket flushes only when its successor
    * opens). */
  def forwardFill(spark: SparkSession,
      checkpoint: String): Dataset[FillRow] = {
    import spark.implicits._
    drain(spark, checkpoint, StreamOps.forwardFillClose)
  }

  /** Remaining cumulative sub-window emissions for a stopped
    * [[StreamOps.cumulateAppend]] query: every un-emitted grid end of
    * each open window, with the same exact decimal partial sums. */
  def cumulateAppend(spark: SparkSession, checkpoint: String,
      sizeHours: Int = 4, stepMinutes: Int = 60): Dataset[CumRow] = {
    import spark.implicits._
    drain(spark, checkpoint, StreamOps.cumulateClose(
      sizeHours * 3600L * 1000000L, stepMinutes * 60L * 1000000L))
  }

  /** Partial-tail drain for a stopped [[StreamOps.countWindows]]
    * query: each key's in-progress bucket (cnt > 0) emits with its
    * exact-decimal running sum — streamed full buckets ∪ this tail
    * equals the batch `window_count_based` twin row for row. */
  def countWindows(spark: SparkSession,
      checkpoint: String): Dataset[CountWinRow] = {
    import spark.implicits._
    drain(spark, checkpoint, StreamOps.countWindowsClose)
  }

  /** Grid drain for a stopped [[StreamOps.gapFillHourlyStream]] query:
    * the operator's own cursor sweep with the grid end `hiUs`
    * (exclusive) as the watermark, emitting pending accumulators and
    * explicit zeros — the flush half of streamed ∪ flushed == batch. */
  def gapFill(spark: SparkSession, checkpoint: String,
      hiUs: Long): Dataset[GapRow] = {
    import spark.implicits._
    drain(spark, checkpoint, StreamOps.gapFillClose, hiUs)
  }
}
