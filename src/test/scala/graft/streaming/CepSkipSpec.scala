package graft.streaming

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** After-match skip strategies ([[CepOps.cepSkipToNext]] /
  * [[CepOps.cepSkipPastLast]] / [[StreamOps.cepSkipPastLastStream]]):
  * hand-built automaton edge cases, the subset relation against the
  * NO_SKIP combination set, greedy-disjointness, and batch==stream on
  * the fixture.
  */
class CepSkipSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private val HourUs = 3600L * 1000000L

  /** (id, minutes, type) rows for one user. */
  private def mk(rows: (Long, Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toSeq.toDF("event_id", "mins", "event_type")
      .select(lit(1L).as("user_id"),
        timestamp_micros(col("mins") * 60L * 1000000L).as("ts"),
        col("event_id"), col("event_type"))
  }

  private def greedy(df: DataFrame): Set[(Long, Long)] =
    CepOps.cepSkipPastLast(df, "user_id", "ts", "event_id",
        col("event_type") === "A", col("event_type") === "B",
        withinUs = 2L * HourUs)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet

  private def toNext(df: DataFrame): Set[(Long, Long)] =
    CepOps.cepSkipToNext(df, "user_id", "ts", "event_id",
        col("event_type") === "A", col("event_type") === "B",
        within = "2 hours")
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet

  test("greedy matches earliest open A and discards partials") {
    // A@0 A@1 B@2 → one match (A0,B2); the later A1 partial is discarded
    val df = mk((10L, 0L, "A"), (11L, 1L, "A"), (12L, 2L, "B"))
    assert(greedy(df) == Set((10L, 12L)))
    // skip-to-next keeps both starts
    assert(toNext(df) == Set((10L, 12L), (11L, 12L)))
  }

  test("expired partials do not match; next A re-arms") {
    // A@0, B@150 (>2h later) no match; A@160 B@170 matches
    val df = mk((1L, 0L, "A"), (2L, 150L, "B"), (3L, 160L, "A"), (4L, 170L, "B"))
    assert(greedy(df) == Set((3L, 4L)))
    assert(toNext(df) == Set((3L, 4L)))
  }

  test("consecutive disjoint funnels both match; second B after a match is unmatched") {
    val df = mk((1L, 0L, "A"), (2L, 1L, "B"), (3L, 2L, "B"),
      (4L, 3L, "A"), (5L, 4L, "B"))
    assert(greedy(df) == Set((1L, 2L), (4L, 5L)))
  }

  test("skip strategies are subsets of the NO_SKIP combination set") {
    val ev = Tables.events(spark, sf)
    val all = CepOps.cepPattern(ev, "user_id", "ts", "event_id", Seq(
        PatternStep("a", col("event_type") === "view"),
        PatternStep("b", col("event_type") === "purchase", within = "2 hours")))
      .select(col("user_id"), col("a_id"), col("b_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val nxt = CepOps.cepSkipToNext(ev, "user_id", "ts", "event_id",
        col("event_type") === "view", col("event_type") === "purchase", "2 hours")
      .select("user_id", "a_id", "b_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val grd = CepOps.cepSkipPastLast(ev, "user_id", "ts", "event_id",
        col("event_type") === "view", col("event_type") === "purchase",
        2L * HourUs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(nxt.nonEmpty && grd.nonEmpty)
    assert(nxt.subsetOf(all))
    assert(grd.subsetOf(nxt)) // greedy's (earliest-A, first-B) pairs are to-next pairs
  }

  test("greedy matches are disjoint per key") {
    val ev = Tables.events(spark, sf)
    val m = CepOps.cepSkipPastLast(ev, "user_id", "ts", "event_id",
      col("event_type") === "view", col("event_type") === "purchase", 2L * HourUs)
    val withTs = m
      .join(ev.select(col("event_id").as("a_id"), col("ts").as("a_ts")), "a_id")
      .join(ev.select(col("event_id").as("b_id"), col("ts").as("b_ts")), "b_id")
    val overlaps = withTs.as("x").join(withTs.as("y"),
      col("x.user_id") === col("y.user_id") &&
        col("x.b_id") < col("y.b_id") &&
        col("y.a_ts") < col("x.b_ts")) // next match must start after prior B
    assert(overlaps.count() == 0)
  }

  test("streaming skip-to-next ∪ flush equals the batch argmin") {
    val W = 2L * HourUs
    var ckpt = ""
    val out = BoundedReplay.replayEvents(spark, sf)(ev =>
      StreamOps.cepSkipToNextStream(ev, "user_id", "ts", "event_id",
        col("event_type") === "view", col("event_type") === "purchase",
        withinUs = W).toDF())(
      { c => ckpt = c; StateFlush.cepSkipToNext(spark, c, withinUs = W) })
    val batch = CepOps.cepSkipToNext(Tables.events(spark, sf),
      "user_id", "ts", "event_id",
      col("event_type") === "view", col("event_type") === "purchase", "2 hours")
    def key(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select("user_id", "a_id", "b_id", "gap_us").collect().toSeq
        .map(_.toSeq.mkString("|")).sorted
    assert(key(out) == key(batch) && out.count() > 0)
    // bounded state: no surviving row is idle (no open start, no
    // buffered B), and fewer keys keep a row than have an A or B event
    val rows = spark.read.format("statestore").option("path", ckpt).load()
    assert(rows.filter(size(col("value.groupState.openA")) === 0 &&
      size(col("value.groupState.bufB")) === 0).count() == 0,
      "an idle automaton row survived")
    val keys = Tables.events(spark, sf)
      .filter(col("event_type").isin("view", "purchase"))
      .select("user_id").distinct().count()
    val n = rows.count()
    assert(n < keys, s"$n state rows for $keys keys with a classified event")
  }

  test("streaming automaton equals the batch scan on replayed events") {
    val out = BoundedReplay.replayEvents(spark, sf)(ev =>
      StreamOps.cepSkipPastLastStream(ev, "user_id", "ts", "event_id",
        col("event_type") === "view", col("event_type") === "purchase",
        2L * HourUs).toDF())(
      _ => { import spark.implicits._; spark.emptyDataset[SkipLastMatch] })
    val batch = CepOps.cepSkipPastLast(Tables.events(spark, sf),
      "user_id", "ts", "event_id",
      col("event_type") === "view", col("event_type") === "purchase", 2L * HourUs)
    def key(df: DataFrame): Seq[String] =
      df.select("user_id", "a_id", "b_id").collect().toSeq
        .map(_.toSeq.mkString("|")).sorted
    assert(key(out) == key(batch))
  }
}
