package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Kleene CEP (`A B+ C`, skip past last row): the streaming O(1)-state
  * automaton ([[StreamOps.cepKleeneStream]]) replayed through real
  * micro-batches equals the batch gaps-and-islands form
  * ([[CepOps.cepKleene]]) EXACTLY — including the no-flush-gap
  * property (a run the stream never terminates is unmatched in both
  * forms, so streamed output needs no end-of-replay drain).
  */
class CepKleeneSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def rows(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toSeq.mkString("|")).sorted

  private val withinUs = 360L * 60L * 1000000L

  /** The automaton state a replay leaves in its checkpoint is bounded:
    * no surviving row is the idle start state, and fewer keys keep a
    * row than have a classified event. */
  private def assertStateBounded(ckpt: String, types: String*): Unit = {
    val rows = spark.read.format("statestore").option("path", ckpt).load()
    val idle = !col("value.groupState.runActive") &&
      col("value.groupState.prev") =!= "A"
    assert(rows.filter(idle).count() == 0, "an idle automaton row survived")
    val keys = graft.Tables.events(spark, sf)
      .filter(col("event_type").isin(types: _*))
      .select("user_id").distinct().count()
    val n = rows.count()
    assert(n < keys, s"$n state rows for $keys keys with a classified event")
  }

  private def batchForm: DataFrame =
    CepOps.cepKleene(graft.Tables.events(spark, sf),
      "user_id", "ts", "event_id",
      col("event_type") === "view", col("event_type") === "click",
      col("event_type") === "purchase", within = "360 minutes")

  test("streamed replay equals the batch form with zero flush gap") {
    import spark.implicits._
    var ckpt = ""
    val streamed = BoundedReplay.replayEvents(spark, sf)(ev =>
      StreamOps.cepKleeneStream(ev, "user_id", "ts", "event_id",
        col("event_type") === "view", col("event_type") === "click",
        col("event_type") === "purchase", withinUs = withinUs))(
      { c => ckpt = c; spark.emptyDataset[KleeneMatch] })
    val b = rows(batchForm)
    assert(b.nonEmpty, "fixture must contain at least one A B+ C match")
    assert(rows(streamed) == b)
    assertStateBounded(ckpt, "view", "click", "purchase")
  }

  test("until-form streamed replay equals the batch form (stopper outside the match)") {
    import spark.implicits._
    var ckpt = ""
    val streamed = BoundedReplay.replayEvents(spark, sf)(ev =>
      StreamOps.cepKleeneUntilStream(ev, "user_id", "ts", "event_id",
        col("event_type") === "view", col("event_type") === "click",
        col("event_type") === "error", withinUs = withinUs))(
      { c => ckpt = c; spark.emptyDataset[KleeneUntilMatch] })
    val batch = CepOps.cepKleeneUntil(graft.Tables.events(spark, sf),
      "user_id", "ts", "event_id",
      col("event_type") === "view", col("event_type") === "click",
      col("event_type") === "error", within = "360 minutes")
    val b = rows(batch)
    assert(b.nonEmpty, "fixture must contain at least one A B+ until match")
    assert(rows(streamed.toDF()) == b)
    assertStateBounded(ckpt, "view", "click", "error")
  }

  test("matches are disjoint (skip past last row) and runs maximal") {
    val m = batchForm.collect()
    // no event id appears in two matches (disjoint consumption)
    val ids = m.flatMap(r =>
      Seq(r.getLong(1), r.getLong(3), r.getLong(4), r.getLong(5)).distinct)
    assert(ids.length == ids.distinct.length, "matches must not share events")
    // n_b counts the whole run: first==last iff n_b == 1
    assert(m.forall(r => (r.getLong(2) == 1L) == (r.getLong(3) == r.getLong(4))))
    assert(m.forall(_.getLong(6) <= withinUs), "span bound")
  }

  test("measures streamed replay equals the batch cepKleeneMeasures") {
    import spark.implicits._
    var ckpt = ""
    val streamed = BoundedReplay.replayEvents(spark, sf)(ev =>
      StreamOps.cepKleeneMeasuresStream(ev, "user_id", "ts", "event_id",
        col("event_type") === "view", col("event_type") === "click",
        col("event_type") === "purchase", withinUs = withinUs,
        valueCol = col("value")))(
      { c => ckpt = c; spark.emptyDataset[KleeneMeasuresMatch] })
    val batch = CepOps.cepKleeneMeasures(graft.Tables.events(spark, sf),
        "user_id", "ts", "event_id",
        col("event_type") === "view", col("event_type") === "click",
        col("event_type") === "purchase", within = "360 minutes",
        valueCol = col("value"))
      .select(col("user_id"), col("a_id"), col("c_id"), col("span_us"),
        col("n_b").as("n_clicks"), col("sum_b").as("sum_value"),
        col("avg_b").as("avg_value"), col("first_b_id").as("first_click"),
        col("last_b_id").as("last_click"))
    val b = rows(batch)
    assert(b.nonEmpty)
    assert(rows(streamed.toDF()) == b,
      "streaming decimal-micro accumulator must match the batch decimal sum bit-for-bit")
    assertStateBounded(ckpt, "view", "click", "purchase")
  }
}
