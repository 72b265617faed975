package graft.queries

import graft.{Det, Q, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Batch-equivalent forms of the streaming operators (SURVEY.md §2.9).
  *
  * Each streaming capability is implemented twice: the Structured
  * Streaming form lives in [[graft.streaming.StreamOps]] (the deliverable
  * capability, exercised by the equivalence specs), and the batch form
  * here carries the t2 key — after a complete replay the streaming
  * output equals this batch output, so one DuckDB oracle checks both.
  *
  * Timestamps are emitted as epoch-µs BIGINT (`unix_micros` ↔ DuckDB
  * `epoch_us`) whenever sub-second precision appears: Spark trims
  * trailing fraction zeros in timestamp→string casts, DuckDB always
  * prints 6 digits, so strings only match at whole-second boundaries.
  *
  * @note scale: all six shapes are single-shuffle (one `groupBy` on the
  *   aggregation key or one shuffled join on `user_id`). The forward-fill
  *   scaffold is bounded by users × hours — at 100 TB the per-user
  *   sequence explode stays proportional to the *output*, not the input,
  *   and the per-user window functions shuffle once on `user_id`.
  */
object StreamingQueries {

  // ------------------------------------------------------------ T2 tumbling
  private val tumbling = Q(
    "stream_tumbling_hour",
    s"""SELECT CAST(CAST(date_trunc('hour', ts) AS TIMESTAMP) AS VARCHAR) AS ws,
       |  event_type, count(*) AS n, ${Det.osum("value")} AS sum_value
       |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), Det.dsum(col("value")).as("sum_value"))
      .select(col("w.start").cast("string").as("ws"), col("event_type"),
        col("n"), col("sum_value"))
      .orderBy("ws", "event_type")
  }

  /** Tumbling window with a START OFFSET (Flink `TUMBLE(..., INTERVAL
    * '15' MINUTE)` offset argument / Spark `window(..., startTime)`):
    * hour buckets aligned to :15 — the form used when business windows
    * don't start on the epoch grid (billing hours, market sessions,
    * timezone-shifted days). Window start = `floor((t−off)/size)·size
    * + off`; the oracle restates that grid in exact µs arithmetic. */
  private val tumblingOffset = Q(
    "stream_tumbling_offset",
    s"""SELECT CAST(make_timestamp((epoch_us(ts) - 900000000)
       |    // 3600000000 * 3600000000 + 900000000) AS VARCHAR) AS ws,
       |  event_type, count(*) AS n, ${Det.osum("value")} AS sum_value
       |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .groupBy(window(col("ts"), "1 hour", "1 hour", "15 minutes").as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), Det.dsum(col("value")).as("sum_value"))
      .select(col("w.start").cast("string").as("ws"), col("event_type"),
        col("n"), col("sum_value"))
      .orderBy("ws", "event_type")
  }

  // ------------------------------------------------------------ T3 sliding
  /** 1 h windows sliding by 15 min: every event lands in 4 buckets.
    * Spark aligns window starts to the epoch modulo the slide; the oracle
    * reproduces that grid with a generate_series range-join (DuckDB's
    * generate_series cannot be LATERAL, hence the global series). */
  private val sliding = Q(
    "stream_sliding",
    s"""WITH b AS (SELECT date_trunc('hour', min(CAST(ts AS TIMESTAMP))) - INTERVAL 1 HOUR AS lo,
       |                  max(CAST(ts AS TIMESTAMP)) AS hi FROM events),
       |s AS (SELECT unnest(generate_series(lo, hi, INTERVAL 15 MINUTE)) AS ws FROM b)
       |SELECT CAST(s.ws AS VARCHAR) AS ws, count(*) AS n, ${Det.osum("e.value")} AS sum_value
       |FROM s JOIN events e
       |  ON CAST(e.ts AS TIMESTAMP) >= s.ws AND CAST(e.ts AS TIMESTAMP) < s.ws + INTERVAL 1 HOUR
       |GROUP BY s.ws ORDER BY s.ws""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"))
      .agg(count(lit(1)).as("n"), Det.dsum(col("value")).as("sum_value"))
      .select(col("w.start").cast("string").as("ws"), col("n"), col("sum_value"))
      .orderBy("ws")
  }

  // ------------------------------------------------------------ T4 session
  /** 30-min-gap sessions per user. Spark keeps an event in the session
    * while `ts < prev_ts + gap`, so the oracle breaks at `diff >= gap`
    * (gaps-and-islands: lag + running sum of breaks). */
  private val session = Q(
    "stream_session",
    s"""WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, value FROM events),
       |m AS (SELECT *, CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
       |                          >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk FROM e),
       |s AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |                               ROWS UNBOUNDED PRECEDING) AS sid FROM m)
       |SELECT user_id, epoch_us(min(ts)) AS ss_us, count(*) AS n, ${Det.osum("value")} AS sum_value
       |FROM s GROUP BY user_id, sid ORDER BY user_id, ss_us""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n"), Det.dsum(col("value")).as("sum_value"))
      .select(col("user_id"), unix_micros(col("w.start")).as("ss_us"),
        col("n"), col("sum_value"))
      .orderBy("user_id", "ss_us")
  }

  // ------------------------------------------------------------ T6 dedup-first
  /** First event per user — deterministic keep-first via row_number with
    * (ts, event_id) tiebreak, never bare dropDuplicates (SURVEY §8.3). */
  private val dedupFirst = Q(
    "stream_dedup_first",
    """SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, value
      |FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      |      FROM events) WHERE rn = 1 ORDER BY user_id""".stripMargin) { (s, d) =>
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"), col("value"))
      .orderBy("user_id")
  }

  // ------------------------------------------------------------ T7 forward-fill
  /** The flagship stateful pattern: per-user hourly scaffold carrying the
    * last observed value into empty hours. Hour buckets take the value of
    * the latest event in the bucket (max (ts, event_id) — unique, so
    * max_by and the oracle's row_number DESC pick the same row).
    *
    * @note scale: scaffold size = users × active hours (output-bounded);
    *   one shuffle on user_id serves bounds, hourly agg and the fill
    *   window. The streaming twin keeps O(1) state per key
    *   ([[graft.streaming.StreamOps.forwardFill]]). */
  private val forwardFill = Q(
    "state_forward_fill",
    """WITH eu AS (SELECT user_id, CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS h,
      |                   value, ts, event_id FROM events),
      |hourly AS (SELECT user_id, h, value AS v FROM (
      |  SELECT user_id, h, value,
      |         row_number() OVER (PARTITION BY user_id, h ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM eu) WHERE rn = 1),
      |bounds AS (SELECT user_id, min(h) AS lo, max(h) AS hi FROM eu GROUP BY 1),
      |g AS (SELECT min(lo) AS glo, max(hi) AS ghi FROM bounds),
      |series AS (SELECT unnest(generate_series(glo, ghi, INTERVAL 1 HOUR)) AS h FROM g),
      |scaffold AS (SELECT b.user_id, s.h FROM bounds b JOIN series s ON s.h BETWEEN b.lo AND b.hi)
      |SELECT user_id, epoch_us(h) AS h_us,
      |       last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY h
      |                                        ROWS UNBOUNDED PRECEDING) AS v_fill
      |FROM scaffold LEFT JOIN hourly USING (user_id, h)
      |ORDER BY user_id, h_us""".stripMargin) { (s, d) =>
    val eu = Tables.events(s, d).select(col("user_id"),
      date_trunc("hour", col("ts")).as("h"), col("value"), col("ts"), col("event_id"))
    val hourly = eu.groupBy(col("user_id"), col("h"))
      .agg(max_by(col("value"), struct(col("ts"), col("event_id"))).as("v"))
    val scaffold = eu.groupBy(col("user_id"))
      .agg(min(col("h")).as("lo"), max(col("h")).as("hi"))
      .select(col("user_id"),
        explode(sequence(col("lo"), col("hi"), expr("INTERVAL 1 HOUR"))).as("h"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("h"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    scaffold.join(hourly, Seq("user_id", "h"), "left")
      .select(col("user_id"), unix_micros(col("h")).as("h_us"),
        last(col("v"), ignoreNulls = true).over(w).as("v_fill"))
      .orderBy("user_id", "h_us")
  }

  // ------------------------------------------------------------ T8 CEP-lite
  /** Pattern "error then purchase within 10 min, same user" — all
    * qualifying pairs (the 2-event sequence staple; full CEP out of
    * scope per SURVEY §2.9 T8). Equivalent to an event-time interval
    * join with typed endpoints. */
  private val cepSequence = Q(
    "cep_sequence",
    """SELECT a.user_id, a.event_id AS a_id, b.event_id AS b_id,
      |  epoch_us(CAST(b.ts AS TIMESTAMP)) - epoch_us(CAST(a.ts AS TIMESTAMP)) AS gap_us
      |FROM events a JOIN events b
      |  ON a.user_id = b.user_id AND a.event_type = 'error' AND b.event_type = 'purchase'
      | AND CAST(b.ts AS TIMESTAMP) > CAST(a.ts AS TIMESTAMP)
      | AND CAST(b.ts AS TIMESTAMP) <= CAST(a.ts AS TIMESTAMP) + INTERVAL 10 MINUTE
      |ORDER BY a.user_id, a_id, b_id""".stripMargin) { (s, d) =>
    val e = Tables.events(s, d)
    val a = e.filter(col("event_type") === "error")
      .select(col("user_id"), col("ts").as("a_ts"), col("event_id").as("a_id"))
    val b = e.filter(col("event_type") === "purchase")
      .select(col("user_id").as("b_uid"), col("ts").as("b_ts"), col("event_id").as("b_id"))
    a.join(b, col("user_id") === col("b_uid") && col("b_ts") > col("a_ts") &&
        col("b_ts") <= col("a_ts") + expr("INTERVAL 10 MINUTES"))
      .select(col("user_id"), col("a_id"), col("b_id"),
        (unix_micros(col("b_ts")) - unix_micros(col("a_ts"))).as("gap_us"))
      .orderBy("user_id", "a_id", "b_id")
  }

  /** T8 extended — three-step CEP funnel (click → error → purchase,
    * each step within 6 h of the previous, same user): the multi-stage
    * Flink CEP pattern as two chained interval joins. Streaming form:
    * the same joins with watermarks on all sides (each join's state
    * evicts as event time advances); batch twin carries the oracle.
    * @note scale: each step is one equi-join on user plus a time-bound
    *   residual — state and shuffle bounded per step, so a k-step
    *   funnel costs k-1 joins, never a per-user history scan. */
  private val cepFunnel = Q(
    "cep_funnel3",
    """SELECT a.user_id, a.event_id AS a_id, b.event_id AS b_id, c.event_id AS c_id,
      |  epoch_us(CAST(c.ts AS TIMESTAMP)) - epoch_us(CAST(a.ts AS TIMESTAMP)) AS total_us
      |FROM events a
      |JOIN events b ON a.user_id = b.user_id
      |  AND a.event_type = 'click' AND b.event_type = 'error'
      |  AND CAST(b.ts AS TIMESTAMP) > CAST(a.ts AS TIMESTAMP)
      |  AND CAST(b.ts AS TIMESTAMP) <= CAST(a.ts AS TIMESTAMP) + INTERVAL 360 MINUTE
      |JOIN events c ON c.user_id = a.user_id
      |  AND c.event_type = 'purchase'
      |  AND CAST(c.ts AS TIMESTAMP) > CAST(b.ts AS TIMESTAMP)
      |  AND CAST(c.ts AS TIMESTAMP) <= CAST(b.ts AS TIMESTAMP) + INTERVAL 360 MINUTE
      |ORDER BY a.user_id, a_id, b_id, c_id""".stripMargin) { (s, d) =>
    val e = Tables.events(s, d)
    val a = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("a_ts"), col("event_id").as("a_id"))
    val b = e.filter(col("event_type") === "error")
      .select(col("user_id").as("b_uid"), col("ts").as("b_ts"), col("event_id").as("b_id"))
    val c = e.filter(col("event_type") === "purchase")
      .select(col("user_id").as("c_uid"), col("ts").as("c_ts"), col("event_id").as("c_id"))
    a.join(b, col("user_id") === col("b_uid") && col("b_ts") > col("a_ts") &&
        col("b_ts") <= col("a_ts") + expr("INTERVAL 360 MINUTES"))
      .join(c, col("user_id") === col("c_uid") && col("c_ts") > col("b_ts") &&
        col("c_ts") <= col("b_ts") + expr("INTERVAL 360 MINUTES"))
      .select(col("user_id"), col("a_id"), col("b_id"), col("c_id"),
        (unix_micros(col("c_ts")) - unix_micros(col("a_ts"))).as("total_us"))
      .orderBy("user_id", "a_id", "b_id", "c_id")
  }

  /** T8 generalized — N-step pattern with an OPTIONAL middle step
    * ([[graft.streaming.CepOps.cepPattern]]): click → error? → purchase,
    * each bound 360 min from the last matched step. Emits every
    * combination (Flink `optional()` + NO_SKIP): the 3-step matches AND
    * the 2-step skip matches, null error_id on the skip branch. The
    * oracle restates the two branches as a UNION ALL of the funnel join
    * and the direct click→purchase join. Null ordering pinned NULLS
    * FIRST on both engines (Spark's ASC default; DuckDB needs it
    * spelled). */
  private val cepPattern = Q(
    "cep_pattern",
    """SELECT a.user_id, a.event_id AS click_id, b.event_id AS error_id, c.event_id AS purchase_id,
      |  epoch_us(CAST(c.ts AS TIMESTAMP)) - epoch_us(CAST(a.ts AS TIMESTAMP)) AS total_us
      |FROM events a
      |JOIN events b ON a.user_id = b.user_id
      |  AND a.event_type = 'click' AND b.event_type = 'error'
      |  AND CAST(b.ts AS TIMESTAMP) > CAST(a.ts AS TIMESTAMP)
      |  AND CAST(b.ts AS TIMESTAMP) <= CAST(a.ts AS TIMESTAMP) + INTERVAL 360 MINUTE
      |JOIN events c ON c.user_id = a.user_id
      |  AND c.event_type = 'purchase'
      |  AND CAST(c.ts AS TIMESTAMP) > CAST(b.ts AS TIMESTAMP)
      |  AND CAST(c.ts AS TIMESTAMP) <= CAST(b.ts AS TIMESTAMP) + INTERVAL 360 MINUTE
      |UNION ALL
      |SELECT a.user_id, a.event_id, CAST(NULL AS BIGINT), c.event_id,
      |  epoch_us(CAST(c.ts AS TIMESTAMP)) - epoch_us(CAST(a.ts AS TIMESTAMP))
      |FROM events a
      |JOIN events c ON c.user_id = a.user_id
      |  AND a.event_type = 'click' AND c.event_type = 'purchase'
      |  AND CAST(c.ts AS TIMESTAMP) > CAST(a.ts AS TIMESTAMP)
      |  AND CAST(c.ts AS TIMESTAMP) <= CAST(a.ts AS TIMESTAMP) + INTERVAL 360 MINUTE
      |ORDER BY user_id, click_id, error_id NULLS FIRST, purchase_id""".stripMargin) { (s, d) =>
    graft.streaming.CepOps.cepPattern(Tables.events(s, d),
      "user_id", "ts", "event_id", Seq(
        graft.streaming.PatternStep("click", col("event_type") === "click"),
        graft.streaming.PatternStep("error", col("event_type") === "error",
          within = "360 minutes", optional = true),
        graft.streaming.PatternStep("purchase", col("event_type") === "purchase",
          within = "360 minutes")))
      .orderBy(col("user_id"), col("click_id"),
        col("error_id").asc_nulls_first, col("purchase_id"))
  }

  /** T8 alternation — NAMED group pattern `A (B|C) D`
    * ([[graft.streaming.CepOps.cepAlternation]], via the
    * [[graft.streaming.Pattern]] DSL's `nextAny`): click →
    * (error | view) → purchase, each slot within 360 min of the
    * previous match, branch identity preserved in `mid_branch` — the
    * Flink group-pattern shape a single OR-predicate step loses. The
    * oracle restates the slot as a UNION ALL of the two per-branch
    * funnel legs with literal branch tags. */
  private val cepAlternation = Q(
    "cep_alternation",
    """SELECT a.user_id, a.event_id AS click_id, m.event_id AS mid_id,
      |  'error' AS mid_branch, c.event_id AS purchase_id,
      |  epoch_us(CAST(c.ts AS TIMESTAMP)) - epoch_us(CAST(a.ts AS TIMESTAMP)) AS total_us
      |FROM events a
      |JOIN events m ON a.user_id = m.user_id
      |  AND a.event_type = 'click' AND m.event_type = 'error'
      |  AND CAST(m.ts AS TIMESTAMP) > CAST(a.ts AS TIMESTAMP)
      |  AND CAST(m.ts AS TIMESTAMP) <= CAST(a.ts AS TIMESTAMP) + INTERVAL 360 MINUTE
      |JOIN events c ON c.user_id = a.user_id
      |  AND c.event_type = 'purchase'
      |  AND CAST(c.ts AS TIMESTAMP) > CAST(m.ts AS TIMESTAMP)
      |  AND CAST(c.ts AS TIMESTAMP) <= CAST(m.ts AS TIMESTAMP) + INTERVAL 360 MINUTE
      |UNION ALL
      |SELECT a.user_id, a.event_id, m.event_id, 'view', c.event_id,
      |  epoch_us(CAST(c.ts AS TIMESTAMP)) - epoch_us(CAST(a.ts AS TIMESTAMP))
      |FROM events a
      |JOIN events m ON a.user_id = m.user_id
      |  AND a.event_type = 'click' AND m.event_type = 'view'
      |  AND CAST(m.ts AS TIMESTAMP) > CAST(a.ts AS TIMESTAMP)
      |  AND CAST(m.ts AS TIMESTAMP) <= CAST(a.ts AS TIMESTAMP) + INTERVAL 360 MINUTE
      |JOIN events c ON c.user_id = a.user_id
      |  AND c.event_type = 'purchase'
      |  AND CAST(c.ts AS TIMESTAMP) > CAST(m.ts AS TIMESTAMP)
      |  AND CAST(c.ts AS TIMESTAMP) <= CAST(m.ts AS TIMESTAMP) + INTERVAL 360 MINUTE
      |ORDER BY user_id, click_id, mid_id, mid_branch, purchase_id""".stripMargin) {
    (s, d) =>
      graft.streaming.Pattern
        .begin("click", col("event_type") === "click")
        .nextAny("mid", "360 minutes",
          "error" -> (col("event_type") === "error"),
          "view" -> (col("event_type") === "view"))
        .next("purchase", col("event_type") === "purchase",
          within = "360 minutes")
        .over(Tables.events(s, d), "user_id", "ts", "event_id")
        .orderBy("user_id", "click_id", "mid_id", "mid_branch",
          "purchase_id")
  }

  /** T8 group quantifier, fixed count — `(click view){2}`
    * ([[graft.streaming.CepOps.cepGroupTimes]], via
    * [[graft.streaming.Pattern.group]]`.times(2)`): the Flink
    * group-pattern `times` shape, unrolled to the flat 4-slot chain
    * click→view→click→view with each event within 60 min of the
    * previous match (relaxed contiguity). Every repetition's events
    * are bound as columns. The oracle restates the unrolled chain as a
    * 4-way self-join. */
  private val cepGroupTimes = Q(
    "cep_group_times",
    """SELECT a1.user_id, a1.event_id AS click_1_id, b1.event_id AS view_1_id,
      |  a2.event_id AS click_2_id, b2.event_id AS view_2_id,
      |  epoch_us(CAST(b2.ts AS TIMESTAMP)) - epoch_us(CAST(a1.ts AS TIMESTAMP)) AS total_us
      |FROM events a1
      |JOIN events b1 ON b1.user_id = a1.user_id
      |  AND a1.event_type = 'click' AND b1.event_type = 'view'
      |  AND CAST(b1.ts AS TIMESTAMP) > CAST(a1.ts AS TIMESTAMP)
      |  AND CAST(b1.ts AS TIMESTAMP) <= CAST(a1.ts AS TIMESTAMP) + INTERVAL 360 MINUTE
      |JOIN events a2 ON a2.user_id = a1.user_id AND a2.event_type = 'click'
      |  AND CAST(a2.ts AS TIMESTAMP) > CAST(b1.ts AS TIMESTAMP)
      |  AND CAST(a2.ts AS TIMESTAMP) <= CAST(b1.ts AS TIMESTAMP) + INTERVAL 360 MINUTE
      |JOIN events b2 ON b2.user_id = a1.user_id AND b2.event_type = 'view'
      |  AND CAST(b2.ts AS TIMESTAMP) > CAST(a2.ts AS TIMESTAMP)
      |  AND CAST(b2.ts AS TIMESTAMP) <= CAST(a2.ts AS TIMESTAMP) + INTERVAL 360 MINUTE
      |ORDER BY 1, 2, 3, 4, 5""".stripMargin) {
    (s, d) =>
      graft.streaming.Pattern
        .group("360 minutes",
          "click" -> (col("event_type") === "click"),
          "view" -> (col("event_type") === "view"))
        .times(2)
        .over(Tables.events(s, d), "user_id", "ts", "event_id")
        .orderBy("user_id", "click_1_id", "view_1_id", "click_2_id",
          "view_2_id")
  }

  /** T8 group quantifier, BOUNDED RANGE — `(click view){1,2}`
    * ([[graft.streaming.CepOps.cepGroupRange]], via
    * [[graft.streaming.Pattern.group]]`.times(1, 2)`): Flink's
    * `times(from, to)` on a sequence group — one match per repetition
    * count (a 2-rep run also reports its 1-rep prefix), every
    * repetition's events bound as columns NULL-PADDED to the 2-shape
    * plus a `reps` count. Same relaxed-contiguity 360-min band as
    * [[cepGroupTimes]]. The oracle is the UNION ALL of the two
    * unrolled chains as MATERIALIZED CTEs (forcing the operator's
    * left-deep order — DuckDB's free join reorder is catastrophic on
    * these chains), the short chain's missing repetition columns NULL
    * literals; ordering puts `reps` right after the key so the null
    * columns never have to discriminate. */
  private val cepGroupRange = Q(
    "cep_group_range",
    """WITH ev AS MATERIALIZED (
      |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type
      |  FROM events),
      |r1a AS MATERIALIZED (
      |  SELECT user_id, event_id AS c1, ts AS t0
      |  FROM ev WHERE event_type = 'click'),
      |r1b AS MATERIALIZED (
      |  SELECT x.*, e.event_id AS v1, e.ts AS t1 FROM r1a x JOIN ev e
      |  ON e.user_id = x.user_id AND e.event_type = 'view'
      |  AND e.ts > t0 AND e.ts <= t0 + INTERVAL 360 MINUTE),
      |r2a AS MATERIALIZED (
      |  SELECT x.*, e.event_id AS c2, e.ts AS t2 FROM r1b x JOIN ev e
      |  ON e.user_id = x.user_id AND e.event_type = 'click'
      |  AND e.ts > t1 AND e.ts <= t1 + INTERVAL 360 MINUTE),
      |r2b AS MATERIALIZED (
      |  SELECT x.*, e.event_id AS v2, e.ts AS t3 FROM r2a x JOIN ev e
      |  ON e.user_id = x.user_id AND e.event_type = 'view'
      |  AND e.ts > t2 AND e.ts <= t2 + INTERVAL 360 MINUTE)
      |SELECT user_id, c1 AS click_1_id, v1 AS view_1_id,
      |  CAST(NULL AS BIGINT) AS click_2_id, CAST(NULL AS BIGINT) AS view_2_id,
      |  CAST(1 AS INT) AS reps, epoch_us(t1) - epoch_us(t0) AS total_us
      |FROM r1b
      |UNION ALL
      |SELECT user_id, c1, v1, c2, v2, CAST(2 AS INT),
      |  epoch_us(t3) - epoch_us(t0)
      |FROM r2b
      |ORDER BY 1, 6, 2, 3, 4, 5""".stripMargin) { (s, d) =>
    graft.streaming.Pattern
      .group("360 minutes",
        "click" -> (col("event_type") === "click"),
        "view" -> (col("event_type") === "view"))
      .times(1, 2)
      .over(Tables.events(s, d), "user_id", "ts", "event_id")
      .orderBy("user_id", "reps", "click_1_id", "view_1_id",
        "click_2_id", "view_2_id")
  }

  /** T8 group quantifier, RELUCTANT RANGE — `(click view){1,2}? signup`
    * ([[graft.streaming.CepOps.cepGroupRangeReluctant]], via
    * [[graft.streaming.Pattern.group]]`.times(1, 2).reluctant
    * .followedBy`): SQL MATCH_RECOGNIZE's non-greedy quantifier — per
    * anchor (the group's first bound click), the SHORTEST repetition
    * count whose chain a signup completes wins; the 2-rep rows
    * survive only for anchors with NO 1-rep completion. The oracle
    * extends [[cepGroupRange]]'s MATERIALIZED-CTE chains with the
    * signup leg per count and applies the per-anchor argmin as a
    * QUALIFY window — certifying the tie-break contract (minimal
    * count per anchor, NO_SKIP all-combinations within it) the kernel
    * documents. Ordering keeps `reps` right after the key so the
    * null-padded rep-2 columns never discriminate. */
  private val cepGroupRangeReluctant = Q(
    "cep_group_range_reluctant",
    """WITH ev AS MATERIALIZED (
      |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type
      |  FROM events),
      |r1a AS MATERIALIZED (
      |  SELECT user_id, event_id AS c1, ts AS t0
      |  FROM ev WHERE event_type = 'click'),
      |r1b AS MATERIALIZED (
      |  SELECT x.*, e.event_id AS v1, e.ts AS t1 FROM r1a x JOIN ev e
      |  ON e.user_id = x.user_id AND e.event_type = 'view'
      |  AND e.ts > t0 AND e.ts <= t0 + INTERVAL 360 MINUTE),
      |p1 AS MATERIALIZED (
      |  SELECT x.*, e.event_id AS pid, e.ts AS tp FROM r1b x JOIN ev e
      |  ON e.user_id = x.user_id AND e.event_type = 'signup'
      |  AND e.ts > t1 AND e.ts <= t1 + INTERVAL 360 MINUTE),
      |r2a AS MATERIALIZED (
      |  SELECT x.*, e.event_id AS c2, e.ts AS t2 FROM r1b x JOIN ev e
      |  ON e.user_id = x.user_id AND e.event_type = 'click'
      |  AND e.ts > t1 AND e.ts <= t1 + INTERVAL 360 MINUTE),
      |r2b AS MATERIALIZED (
      |  SELECT x.*, e.event_id AS v2, e.ts AS t3 FROM r2a x JOIN ev e
      |  ON e.user_id = x.user_id AND e.event_type = 'view'
      |  AND e.ts > t2 AND e.ts <= t2 + INTERVAL 360 MINUTE),
      |p2 AS MATERIALIZED (
      |  SELECT x.*, e.event_id AS pid, e.ts AS tp FROM r2b x JOIN ev e
      |  ON e.user_id = x.user_id AND e.event_type = 'signup'
      |  AND e.ts > t3 AND e.ts <= t3 + INTERVAL 360 MINUTE),
      |u AS (
      |  SELECT user_id, c1 AS click_1_id, v1 AS view_1_id,
      |    CAST(NULL AS BIGINT) AS click_2_id, CAST(NULL AS BIGINT) AS view_2_id,
      |    pid AS signup_id, CAST(1 AS INT) AS reps,
      |    epoch_us(tp) - epoch_us(t0) AS total_us
      |  FROM p1
      |  UNION ALL
      |  SELECT user_id, c1, v1, c2, v2, pid, CAST(2 AS INT),
      |    epoch_us(tp) - epoch_us(t0)
      |  FROM p2)
      |SELECT * FROM u
      |QUALIFY reps = min(reps) OVER (PARTITION BY user_id, click_1_id)
      |ORDER BY 1, 7, 2, 3, 4, 5, 6""".stripMargin) { (s, d) =>
    graft.streaming.Pattern
      .group("360 minutes",
        "click" -> (col("event_type") === "click"),
        "view" -> (col("event_type") === "view"))
      .times(1, 2)
      .reluctant
      .followedBy("signup", col("event_type") === "signup")
      .over(Tables.events(s, d), "user_id", "ts", "event_id")
      .orderBy("user_id", "reps", "click_1_id", "view_1_id",
        "click_2_id", "view_2_id", "signup_id")
  }

  /** T8 group quantifier, GREEDY RANGE — `(click view){1,2} signup`
    * ([[graft.streaming.CepOps.cepGroupRangeGreedy]], via
    * [[graft.streaming.Pattern.group]]`.times(1, 2).greedy
    * .followedBy`): SQL MATCH_RECOGNIZE's DEFAULT quantifier / Flink
    * `times(from, to).greedy()` — per anchor, the LONGEST repetition
    * count whose chain a signup completes wins; the 1-rep rows survive
    * only for anchors with NO 2-rep completion. Same CTE chains as
    * [[cepGroupRangeReluctant]] with QUALIFY min flipped to max, at
    * the 1440-min band — the band chosen BY MEASUREMENT so the two
    * extremes GENUINELY differ on the fixture: at sf0.01, 24 anchors
    * complete at both counts, splitting greedy (1:357, 2:71) vs
    * reluctant-on-the-same-band (1:394, 2:35); at the reluctant key's
    * 360-min band no anchor completes at both counts and the extremes
    * coincide — a fixture that cannot certify the pick. */
  private val cepGroupRangeGreedy = Q(
    "cep_group_range_greedy",
    """WITH ev AS MATERIALIZED (
      |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type
      |  FROM events),
      |r1a AS MATERIALIZED (
      |  SELECT user_id, event_id AS c1, ts AS t0
      |  FROM ev WHERE event_type = 'click'),
      |r1b AS MATERIALIZED (
      |  SELECT x.*, e.event_id AS v1, e.ts AS t1 FROM r1a x JOIN ev e
      |  ON e.user_id = x.user_id AND e.event_type = 'view'
      |  AND e.ts > t0 AND e.ts <= t0 + INTERVAL 1440 MINUTE),
      |p1 AS MATERIALIZED (
      |  SELECT x.*, e.event_id AS pid, e.ts AS tp FROM r1b x JOIN ev e
      |  ON e.user_id = x.user_id AND e.event_type = 'signup'
      |  AND e.ts > t1 AND e.ts <= t1 + INTERVAL 1440 MINUTE),
      |r2a AS MATERIALIZED (
      |  SELECT x.*, e.event_id AS c2, e.ts AS t2 FROM r1b x JOIN ev e
      |  ON e.user_id = x.user_id AND e.event_type = 'click'
      |  AND e.ts > t1 AND e.ts <= t1 + INTERVAL 1440 MINUTE),
      |r2b AS MATERIALIZED (
      |  SELECT x.*, e.event_id AS v2, e.ts AS t3 FROM r2a x JOIN ev e
      |  ON e.user_id = x.user_id AND e.event_type = 'view'
      |  AND e.ts > t2 AND e.ts <= t2 + INTERVAL 1440 MINUTE),
      |p2 AS MATERIALIZED (
      |  SELECT x.*, e.event_id AS pid, e.ts AS tp FROM r2b x JOIN ev e
      |  ON e.user_id = x.user_id AND e.event_type = 'signup'
      |  AND e.ts > t3 AND e.ts <= t3 + INTERVAL 1440 MINUTE),
      |u AS (
      |  SELECT user_id, c1 AS click_1_id, v1 AS view_1_id,
      |    CAST(NULL AS BIGINT) AS click_2_id, CAST(NULL AS BIGINT) AS view_2_id,
      |    pid AS signup_id, CAST(1 AS INT) AS reps,
      |    epoch_us(tp) - epoch_us(t0) AS total_us
      |  FROM p1
      |  UNION ALL
      |  SELECT user_id, c1, v1, c2, v2, pid, CAST(2 AS INT),
      |    epoch_us(tp) - epoch_us(t0)
      |  FROM p2)
      |SELECT * FROM u
      |QUALIFY reps = max(reps) OVER (PARTITION BY user_id, click_1_id)
      |ORDER BY 1, 7, 2, 3, 4, 5, 6""".stripMargin) { (s, d) =>
    graft.streaming.Pattern
      .group("1440 minutes",
        "click" -> (col("event_type") === "click"),
        "view" -> (col("event_type") === "view"))
      .times(1, 2)
      .greedy
      .followedBy("signup", col("event_type") === "signup")
      .over(Tables.events(s, d), "user_id", "ts", "event_id")
      .orderBy("user_id", "reps", "click_1_id", "view_1_id",
        "click_2_id", "view_2_id", "signup_id")
  }

  /** T8 group quantifier, RELUCTANT RANGE WITH PRE STEPS —
    * `signup (click view){1,2}? purchase`
    * ([[graft.streaming.CepOps.cepGroupRangeReluctant]] with `pre`,
    * via `.reluctant.precededBy(...).followedBy(...)`): the Flink-SQL
    * shape where the lazy group does NOT lead the pattern. The
    * ANCHOR-IDENTITY CONTRACT under test: the anchor is the MATCH
    * START's bound event — the signup — so one signup choosing among
    * several click entries still selects ONE minimal count across all
    * of them (per-match laziness, not per-group-entry: QUALIFY
    * partitions on `signup_id`, NOT on `click_1_id`). Oracle =
    * [[cepGroupRangeReluctant]]'s CTE chains seeded from the signup
    * leg, argmin per (user_id, signup_id); 1440-min band so the split
    * is non-degenerate at sf0.01 (1:138, 2:8 — eight anchors whose
    * only purchase-completed chain needs two repetitions). */
  private val cepGroupRangeReluctantPre = Q(
    "cep_group_range_reluctant_pre",
    """WITH ev AS MATERIALIZED (
      |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type
      |  FROM events),
      |s0 AS MATERIALIZED (
      |  SELECT user_id, event_id AS sid, ts AS ta
      |  FROM ev WHERE event_type = 'signup'),
      |r1a AS MATERIALIZED (
      |  SELECT x.*, e.event_id AS c1, e.ts AS t0 FROM s0 x JOIN ev e
      |  ON e.user_id = x.user_id AND e.event_type = 'click'
      |  AND e.ts > ta AND e.ts <= ta + INTERVAL 1440 MINUTE),
      |r1b AS MATERIALIZED (
      |  SELECT x.*, e.event_id AS v1, e.ts AS t1 FROM r1a x JOIN ev e
      |  ON e.user_id = x.user_id AND e.event_type = 'view'
      |  AND e.ts > t0 AND e.ts <= t0 + INTERVAL 1440 MINUTE),
      |p1 AS MATERIALIZED (
      |  SELECT x.*, e.event_id AS pid, e.ts AS tp FROM r1b x JOIN ev e
      |  ON e.user_id = x.user_id AND e.event_type = 'purchase'
      |  AND e.ts > t1 AND e.ts <= t1 + INTERVAL 1440 MINUTE),
      |r2a AS MATERIALIZED (
      |  SELECT x.*, e.event_id AS c2, e.ts AS t2 FROM r1b x JOIN ev e
      |  ON e.user_id = x.user_id AND e.event_type = 'click'
      |  AND e.ts > t1 AND e.ts <= t1 + INTERVAL 1440 MINUTE),
      |r2b AS MATERIALIZED (
      |  SELECT x.*, e.event_id AS v2, e.ts AS t3 FROM r2a x JOIN ev e
      |  ON e.user_id = x.user_id AND e.event_type = 'view'
      |  AND e.ts > t2 AND e.ts <= t2 + INTERVAL 1440 MINUTE),
      |p2 AS MATERIALIZED (
      |  SELECT x.*, e.event_id AS pid, e.ts AS tp FROM r2b x JOIN ev e
      |  ON e.user_id = x.user_id AND e.event_type = 'purchase'
      |  AND e.ts > t3 AND e.ts <= t3 + INTERVAL 1440 MINUTE),
      |u AS (
      |  SELECT user_id, sid AS signup_id, c1 AS click_1_id, v1 AS view_1_id,
      |    CAST(NULL AS BIGINT) AS click_2_id, CAST(NULL AS BIGINT) AS view_2_id,
      |    pid AS purchase_id, CAST(1 AS INT) AS reps,
      |    epoch_us(tp) - epoch_us(ta) AS total_us
      |  FROM p1
      |  UNION ALL
      |  SELECT user_id, sid, c1, v1, c2, v2, pid, CAST(2 AS INT),
      |    epoch_us(tp) - epoch_us(ta)
      |  FROM p2)
      |SELECT * FROM u
      |QUALIFY reps = min(reps) OVER (PARTITION BY user_id, signup_id)
      |ORDER BY 1, 8, 2, 3, 4, 5, 6, 7""".stripMargin) { (s, d) =>
    graft.streaming.Pattern
      .group("1440 minutes",
        "click" -> (col("event_type") === "click"),
        "view" -> (col("event_type") === "view"))
      .times(1, 2)
      .reluctant
      .precededBy("signup", col("event_type") === "signup")
      .followedBy("purchase", col("event_type") === "purchase")
      .over(Tables.events(s, d), "user_id", "ts", "event_id")
      .orderBy("user_id", "reps", "signup_id", "click_1_id", "view_1_id",
        "click_2_id", "view_2_id", "purchase_id")
  }

  /** T8 group Kleene — `(click view)+`
    * ([[graft.streaming.CepOps.cepGroupKleene]], via
    * [[graft.streaming.Pattern.group]]`.oneOrMore(3)`): one match per
    * repetition count (Flink's oneOrMore emission), unrolled to
    * maxReps=3 — a HARD bound that fails loudly rather than silently
    * truncating. Output carries FIRST/LAST/COUNT (`first_id`,
    * `last_id`, `reps`). The oracle is the UNION ALL of the three
    * unrolled chains with literal repetition tags. */
  private val cepGroupKleene = Q(
    "cep_group_kleene",
    """WITH c1 AS (
      |  SELECT a1.user_id, a1.event_id AS first_id, b1.event_id AS last_id,
      |    CAST(1 AS INT) AS reps,
      |    epoch_us(CAST(b1.ts AS TIMESTAMP)) - epoch_us(CAST(a1.ts AS TIMESTAMP)) AS total_us
      |  FROM events a1
      |  JOIN events b1 ON b1.user_id = a1.user_id
      |    AND a1.event_type = 'click' AND b1.event_type = 'view'
      |    AND CAST(b1.ts AS TIMESTAMP) > CAST(a1.ts AS TIMESTAMP)
      |    AND CAST(b1.ts AS TIMESTAMP) <= CAST(a1.ts AS TIMESTAMP) + INTERVAL 360 MINUTE),
      |c2 AS (
      |  SELECT a1.user_id, a1.event_id AS first_id, b2.event_id AS last_id,
      |    CAST(2 AS INT) AS reps,
      |    epoch_us(CAST(b2.ts AS TIMESTAMP)) - epoch_us(CAST(a1.ts AS TIMESTAMP)) AS total_us
      |  FROM events a1
      |  JOIN events b1 ON b1.user_id = a1.user_id
      |    AND a1.event_type = 'click' AND b1.event_type = 'view'
      |    AND CAST(b1.ts AS TIMESTAMP) > CAST(a1.ts AS TIMESTAMP)
      |    AND CAST(b1.ts AS TIMESTAMP) <= CAST(a1.ts AS TIMESTAMP) + INTERVAL 360 MINUTE
      |  JOIN events a2 ON a2.user_id = a1.user_id AND a2.event_type = 'click'
      |    AND CAST(a2.ts AS TIMESTAMP) > CAST(b1.ts AS TIMESTAMP)
      |    AND CAST(a2.ts AS TIMESTAMP) <= CAST(b1.ts AS TIMESTAMP) + INTERVAL 360 MINUTE
      |  JOIN events b2 ON b2.user_id = a1.user_id AND b2.event_type = 'view'
      |    AND CAST(b2.ts AS TIMESTAMP) > CAST(a2.ts AS TIMESTAMP)
      |    AND CAST(b2.ts AS TIMESTAMP) <= CAST(a2.ts AS TIMESTAMP) + INTERVAL 360 MINUTE),
      |c3 AS (
      |  SELECT a1.user_id, a1.event_id AS first_id, b3.event_id AS last_id,
      |    CAST(3 AS INT) AS reps,
      |    epoch_us(CAST(b3.ts AS TIMESTAMP)) - epoch_us(CAST(a1.ts AS TIMESTAMP)) AS total_us
      |  FROM events a1
      |  JOIN events b1 ON b1.user_id = a1.user_id
      |    AND a1.event_type = 'click' AND b1.event_type = 'view'
      |    AND CAST(b1.ts AS TIMESTAMP) > CAST(a1.ts AS TIMESTAMP)
      |    AND CAST(b1.ts AS TIMESTAMP) <= CAST(a1.ts AS TIMESTAMP) + INTERVAL 360 MINUTE
      |  JOIN events a2 ON a2.user_id = a1.user_id AND a2.event_type = 'click'
      |    AND CAST(a2.ts AS TIMESTAMP) > CAST(b1.ts AS TIMESTAMP)
      |    AND CAST(a2.ts AS TIMESTAMP) <= CAST(b1.ts AS TIMESTAMP) + INTERVAL 360 MINUTE
      |  JOIN events b2 ON b2.user_id = a1.user_id AND b2.event_type = 'view'
      |    AND CAST(b2.ts AS TIMESTAMP) > CAST(a2.ts AS TIMESTAMP)
      |    AND CAST(b2.ts AS TIMESTAMP) <= CAST(a2.ts AS TIMESTAMP) + INTERVAL 360 MINUTE
      |  JOIN events a3 ON a3.user_id = a1.user_id AND a3.event_type = 'click'
      |    AND CAST(a3.ts AS TIMESTAMP) > CAST(b2.ts AS TIMESTAMP)
      |    AND CAST(a3.ts AS TIMESTAMP) <= CAST(b2.ts AS TIMESTAMP) + INTERVAL 360 MINUTE
      |  JOIN events b3 ON b3.user_id = a1.user_id AND b3.event_type = 'view'
      |    AND CAST(b3.ts AS TIMESTAMP) > CAST(a3.ts AS TIMESTAMP)
      |    AND CAST(b3.ts AS TIMESTAMP) <= CAST(a3.ts AS TIMESTAMP) + INTERVAL 360 MINUTE)
      |SELECT * FROM (SELECT * FROM c1 UNION ALL SELECT * FROM c2 UNION ALL SELECT * FROM c3)
      |ORDER BY user_id, first_id, last_id, reps""".stripMargin) {
    (s, d) =>
      graft.streaming.Pattern
        .group("360 minutes",
          "click" -> (col("event_type") === "click"),
          "view" -> (col("event_type") === "view"))
        .oneOrMore(maxReps = 3)
        .over(Tables.events(s, d), "user_id", "ts", "event_id")
        .orderBy("user_id", "first_id", "last_id", "reps")
  }

  /** T8 MIXED group quantifier — `A (B C){2} D`
    * ([[graft.streaming.CepOps.cepGroupTimesMixed]], via
    * [[graft.streaming.Pattern.group]]`.times(2).precededBy(...).
    * followedBy(...)`): a signup, then TWO repetitions of a
    * high-value→low-value event pair, then a purchase — the group
    * unrolls into the flat 6-slot chain signup→hi→lo→hi→lo→purchase
    * (relaxed contiguity, each event within 24 h of the previous
    * match), closing the "group quantifiers combine with outer
    * variables" gap. The fixture restricts to `user_id < 30` so the
    * DuckDB oracle's 6-way chain stays small; the oracle is the
    * unrolled chain as MATERIALIZED CTEs (one per slot — forcing the
    * same left-deep order the operator plans; DuckDB's join reorder
    * otherwise picks a catastrophically slow shape for this chain). */
  private val cepGroupMixed = Q(
    "cep_group_mixed",
    """WITH ev AS MATERIALIZED (
      |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
      |    value, event_type
      |  FROM events WHERE user_id < 30),
      |c1 AS MATERIALIZED (
      |  SELECT user_id, event_id AS signup_id, ts AS ts0
      |  FROM ev WHERE event_type = 'signup'),
      |c2 AS MATERIALIZED (
      |  SELECT c1.*, e.event_id AS hi_1_id, e.ts AS ts1 FROM c1 JOIN ev e
      |  ON e.user_id = c1.user_id AND e.value >= 50
      |  AND e.ts > ts0 AND e.ts <= ts0 + INTERVAL 1440 MINUTE),
      |c3 AS MATERIALIZED (
      |  SELECT c2.*, e.event_id AS lo_1_id, e.ts AS ts2 FROM c2 JOIN ev e
      |  ON e.user_id = c2.user_id AND e.value < 50
      |  AND e.ts > ts1 AND e.ts <= ts1 + INTERVAL 1440 MINUTE),
      |c4 AS MATERIALIZED (
      |  SELECT c3.*, e.event_id AS hi_2_id, e.ts AS ts3 FROM c3 JOIN ev e
      |  ON e.user_id = c3.user_id AND e.value >= 50
      |  AND e.ts > ts2 AND e.ts <= ts2 + INTERVAL 1440 MINUTE),
      |c5 AS MATERIALIZED (
      |  SELECT c4.*, e.event_id AS lo_2_id, e.ts AS ts4 FROM c4 JOIN ev e
      |  ON e.user_id = c4.user_id AND e.value < 50
      |  AND e.ts > ts3 AND e.ts <= ts3 + INTERVAL 1440 MINUTE),
      |c6 AS MATERIALIZED (
      |  SELECT c5.*, e.event_id AS purchase_id, e.ts AS ts5 FROM c5 JOIN ev e
      |  ON e.user_id = c5.user_id AND e.event_type = 'purchase'
      |  AND e.ts > ts4 AND e.ts <= ts4 + INTERVAL 1440 MINUTE)
      |SELECT user_id, signup_id, hi_1_id, lo_1_id, hi_2_id, lo_2_id,
      |  purchase_id, epoch_us(ts5) - epoch_us(ts0) AS total_us
      |FROM c6
      |ORDER BY 1, 2, 3, 4, 5, 6, 7""".stripMargin) { (s, d) =>
    graft.streaming.Pattern
      .group("1440 minutes",
        "hi" -> (col("value") >= 50),
        "lo" -> (col("value") < 50))
      .times(2)
      .precededBy("signup", col("event_type") === "signup")
      .followedBy("purchase", col("event_type") === "purchase")
      .over(Tables.events(s, d).filter(col("user_id") < 30),
        "user_id", "ts", "event_id")
      .orderBy("user_id", "signup_id", "hi_1_id", "lo_1_id", "hi_2_id",
        "lo_2_id", "purchase_id")
  }

  /** T8 group quantifier with ALTERNATION MEMBERS — `((click|view)
    * purchase){2}` ([[graft.streaming.CepOps.cepGroupAlt]], via
    * [[graft.streaming.Pattern.groupAny]]`.times(2)`): the unrolled
    * 4-slot chain where the first slot of EACH repetition matches
    * either branch and binds which one fired (`m_1_branch`,
    * `m_2_branch` — the per-repetition CLASSIFIER()). Same `user_id <
    * 30` fixture slice and 24 h per-step band as [[cepGroupMixed]];
    * the oracle is the UNION ALL of the four branch-combination legs,
    * each a MATERIALIZED left-deep chain with literal branch tags. */
  private val cepGroupAlt = Q(
    "cep_group_alt", {
      def leg(tag: String, b1: String, b2: String): String =
        s"""${tag}c0 AS MATERIALIZED (
           |  SELECT user_id, event_id AS m1, CAST(ts AS TIMESTAMP) AS t0
           |  FROM ev WHERE event_type = '$b1'),
           |${tag}c1 AS MATERIALIZED (
           |  SELECT x.*, e.event_id AS p1, e.ts AS t1 FROM ${tag}c0 x JOIN ev e
           |  ON e.user_id = x.user_id AND e.event_type = 'purchase'
           |  AND e.ts > t0 AND e.ts <= t0 + INTERVAL 1440 MINUTE),
           |${tag}c2 AS MATERIALIZED (
           |  SELECT x.*, e.event_id AS m2, e.ts AS t2 FROM ${tag}c1 x JOIN ev e
           |  ON e.user_id = x.user_id AND e.event_type = '$b2'
           |  AND e.ts > t1 AND e.ts <= t1 + INTERVAL 1440 MINUTE),
           |${tag}c3 AS MATERIALIZED (
           |  SELECT x.*, e.event_id AS p2, e.ts AS t3 FROM ${tag}c2 x JOIN ev e
           |  ON e.user_id = x.user_id AND e.event_type = 'purchase'
           |  AND e.ts > t2 AND e.ts <= t2 + INTERVAL 1440 MINUTE)""".stripMargin
      def sel(tag: String, b1: String, b2: String): String =
        s"""SELECT user_id, m1 AS m_1_id, '$b1' AS m_1_branch,
           |  p1 AS p_1_id, m2 AS m_2_id, '$b2' AS m_2_branch,
           |  p2 AS p_2_id, epoch_us(t3) - epoch_us(t0) AS total_us
           |FROM ${tag}c3""".stripMargin
      val combos = for (b1 <- Seq("click", "view"); b2 <- Seq("click", "view"))
        yield (s"l${b1.head}${b2.head}_", b1, b2)
      s"""WITH ev AS MATERIALIZED (
         |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type
         |  FROM events WHERE user_id < 30),
         |${combos.map(c => leg(c._1, c._2, c._3)).mkString(",\n")}
         |${combos.map(c => sel(c._1, c._2, c._3)).mkString("\nUNION ALL\n")}
         |ORDER BY 1, 2, 3, 4, 5, 6, 7""".stripMargin
    }) { (s, d) =>
    graft.streaming.Pattern
      .groupAny("1440 minutes",
        "m" -> Seq("click" -> (col("event_type") === "click"),
          "view" -> (col("event_type") === "view")),
        "p" -> Seq("purchase" -> (col("event_type") === "purchase")))
      .times(2)
      .over(Tables.events(s, d).filter(col("user_id") < 30),
        "user_id", "ts", "event_id")
      .orderBy("user_id", "m_1_id", "m_1_branch", "p_1_id", "m_2_id",
        "m_2_branch", "p_2_id")
  }

  /** T8 group quantifier on the REAL streaming runtime — the r15
    * multiplexed automaton
    * ([[graft.streaming.StreamOps.cepGroupTimesStream]]): ONE
    * `flatMapGroupsWithState` state row per key (packed primitive
    * arrays) holding every in-progress path through the unrolled
    * chain, replacing the r14 join-form replay that paid two state
    * stores per unrolled slot per micro-batch and was adjudicated out
    * at 15–56 s per key at sf0.1. This form probes at the
    * replay-harness floor (~1.2-1.3x the kleene-replay reference in
    * the same JVM — SCALE.md, "Findings of the retired probes"). Same
    * oracle as the batch [[cepGroupTimes]] key: replay output must
    * equal the batch unrolled chain exactly (all-paths emission, no
    * flush gap). */
  private val streamGroupTimesReplay = Q(
    "stream_group_times_replay", cepGroupTimes.oracle.get) { (s, d) =>
    val grp = Seq("click" -> (col("event_type") === "click"),
      "view" -> (col("event_type") === "view"))
    val schema = graft.streaming.CepOps.cepGroupTimes(
      Tables.events(s, d), "user_id", "ts", "event_id", grp, n = 2,
      within = "360 minutes").schema
    graft.streaming.BoundedReplay.replayEvents(s, d)(ev =>
        graft.streaming.StreamOps.cepGroupTimesStream(ev, "user_id",
          "ts", "event_id", grp, n = 2,
          withinUs = 360L * 60L * 1000000L))(
        _ => s.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](), schema))
      .orderBy("user_id", "click_1_id", "view_1_id", "click_2_id",
        "view_2_id")
  }

  /** The MIXED group quantifier `signup (hi lo){2} purchase` on the
    * REAL streaming runtime — [[graft.streaming.StreamOps
    * .cepGroupTimesMixedStream]]: the outer steps are just more slots
    * in the multiplexed automaton's flat chain, one packed state row
    * per key. Same `user_id < 30` fixture and MATERIALIZED-CTE oracle
    * as the batch [[cepGroupMixed]] key — replay must equal the batch
    * unrolled 6-slot chain exactly. */
  private val streamGroupMixedReplay = Q(
    "stream_group_mixed_replay", cepGroupMixed.oracle.get) { (s, d) =>
    val pre = Seq("signup" -> (col("event_type") === "signup"))
    val grp = Seq("hi" -> (col("value") >= 50), "lo" -> (col("value") < 50))
    val post = Seq("purchase" -> (col("event_type") === "purchase"))
    val schema = graft.streaming.CepOps.cepGroupTimesMixed(
      Tables.events(s, d).filter(col("user_id") < 30), "user_id", "ts",
      "event_id", pre, grp, n = 2, post, within = "1440 minutes").schema
    graft.streaming.BoundedReplay.replayEvents(s, d)(ev =>
        graft.streaming.StreamOps.cepGroupTimesMixedStream(
          ev.filter(col("user_id") < 30), "user_id", "ts", "event_id",
          pre, grp, n = 2, post, withinUs = 1440L * 60L * 1000000L))(
        _ => s.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](), schema))
      .orderBy("user_id", "signup_id", "hi_1_id", "lo_1_id", "hi_2_id",
        "lo_2_id", "purchase_id")
  }

  /** The group KLEENE `(click view)+` on the REAL streaming runtime —
    * [[graft.streaming.StreamOps.cepGroupKleeneStream]]: the shape the
    * join-form replay could never carry (the batch per-count UNION
    * multiplies live partials by maxReps parallel chains — the r14
    * join form measured ~56 s at sf0.1) runs here as ONE multiplexed
    * automaton per key: slot predicates repeat mod |group|, so a
    * single partial emits at every completed repetition boundary
    * (first/last/count) and keeps running to maxReps — per-boundary
    * emission instead of per-count chains, state stays one row per
    * key. Same fixture and unrolled-three-chain oracle as the batch
    * [[cepGroupKleene]] key — replay must equal the union exactly. */
  private val streamGroupKleeneReplay = Q(
    "stream_group_kleene_replay", cepGroupKleene.oracle.get) { (s, d) =>
    val grp = Seq("click" -> (col("event_type") === "click"),
      "view" -> (col("event_type") === "view"))
    graft.streaming.BoundedReplay.replayEvents(s, d)(ev =>
        graft.streaming.StreamOps.cepGroupKleeneStream(ev, "user_id",
          "ts", "event_id", grp, maxReps = 3,
          withinUs = 360L * 60L * 1000000L))(
        _ => {
          import s.implicits._
          s.emptyDataset[graft.streaming.GKMatch]
        })
      .orderBy("user_id", "first_id", "last_id", "reps")
  }

  /** The group RANGE `(click view){1,2}` on the REAL streaming
    * runtime — [[graft.streaming.StreamOps.cepGroupRangeStream]]: the
    * boundary-emission generalization the Kleene automaton proved out,
    * applied to Flink's `times(from, to)`. The batch form unions
    * m−n+1 per-count chains; here the chain unrolls ONCE to `g·m`
    * slots and a partial EMITS at every completed `g·r` boundary it
    * passes (r ∈ n..m) then keeps running — so the range form costs
    * the same state as the fixed times form (one packed row per key)
    * and the per-count union multiplies output rows, never live
    * partials. Same fixture and MATERIALIZED-CTE oracle as the batch
    * [[cepGroupRange]] key — replay must equal the two-chain union
    * exactly, null-padded m-shape and `reps` included. */
  private val streamGroupRangeReplay = Q(
    "stream_group_range_replay", cepGroupRange.oracle.get) { (s, d) =>
    val grp = Seq("click" -> (col("event_type") === "click"),
      "view" -> (col("event_type") === "view"))
    val schema = graft.streaming.CepOps.cepGroupRange(
      Tables.events(s, d), "user_id", "ts", "event_id", grp, n = 1, m = 2,
      within = "360 minutes").schema
    graft.streaming.BoundedReplay.replayEvents(s, d)(ev =>
        graft.streaming.StreamOps.cepGroupRangeStream(ev, "user_id",
          "ts", "event_id", grp, n = 1, m = 2,
          withinUs = 360L * 60L * 1000000L))(
        _ => s.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](), schema))
      .orderBy("user_id", "reps", "click_1_id", "view_1_id",
        "click_2_id", "view_2_id")
  }

  /** The CLOSED (reluctant) group range `(click view){1,2}? signup` on
    * the REAL streaming runtime —
    * [[graft.streaming.StreamOps.cepGroupRangeReluctantStream]]: the
    * last CEP face that had no real-runtime twin, because the
    * per-anchor argmin needs the anchor's COMPLETE completion set. The
    * automaton forks a post-chain walker at every completed repetition
    * boundary and BUFFERS completions per anchor until the anchor's
    * last live partial dies (event-driven — no global barrier), then
    * emits the minimal count's completions; anchors still open at end
    * of replay resolve from checkpoint state
    * ([[graft.streaming.StateFlush.groupRangeClosed]] — the stream is
    * over, so their completion sets are complete too). Streamed ∪
    * flush must equal the batch argmin kernel under the SAME oracle as
    * [[cepGroupRangeReluctant]]. */
  private val streamGroupRangeReluctantReplay = Q(
    "stream_group_range_reluctant_replay",
    cepGroupRangeReluctant.oracle.get) { (s, d) =>
    val grp = Seq("click" -> (col("event_type") === "click"),
      "view" -> (col("event_type") === "view"))
    val post = Seq("signup" -> (col("event_type") === "signup"))
    graft.streaming.BoundedReplay.replayEvents(s, d)(ev =>
        graft.streaming.StreamOps.cepGroupRangeReluctantStream(ev,
          "user_id", "ts", "event_id", grp, n = 1, m = 2,
          withinUs = 360L * 60L * 1000000L, post = post))(
        ckpt => graft.streaming.StateFlush.groupRangeClosed(s, ckpt,
          "user_id", grp, m = 2, post = post, greedy = false))
      .orderBy("user_id", "reps", "click_1_id", "view_1_id",
        "click_2_id", "view_2_id", "signup_id")
  }

  /** The GREEDY closed group range `(click view){1,2} signup` on the
    * REAL streaming runtime — the argmax mirror on the same
    * buffering/resolution automaton, against the batch greedy key's
    * 1440-min-band oracle (the fixture where the two extremes
    * genuinely differ, so this replay certifies the STREAMING pick is
    * the greedy one — 24 anchors at sf0.01 resolve differently from
    * the reluctant twin above). */
  private val streamGroupRangeGreedyReplay = Q(
    "stream_group_range_greedy_replay",
    cepGroupRangeGreedy.oracle.get) { (s, d) =>
    val grp = Seq("click" -> (col("event_type") === "click"),
      "view" -> (col("event_type") === "view"))
    val post = Seq("signup" -> (col("event_type") === "signup"))
    graft.streaming.BoundedReplay.replayEvents(s, d)(ev =>
        graft.streaming.StreamOps.cepGroupRangeGreedyStream(ev,
          "user_id", "ts", "event_id", grp, n = 1, m = 2,
          withinUs = 1440L * 60L * 1000000L, post = post))(
        ckpt => graft.streaming.StateFlush.groupRangeClosed(s, ckpt,
          "user_id", grp, m = 2, post = post, greedy = true))
      .orderBy("user_id", "reps", "click_1_id", "view_1_id",
        "click_2_id", "view_2_id", "signup_id")
  }

  /** PRE steps on the streaming closed range —
    * `signup (click view){1,2}? purchase` on the real runtime: the
    * flat pre chain is walked before the repeated group slots and the
    * ANCHOR moves to the match start's bound event (the signup —
    * `gids(0)` either way, so the buffering/resolution machinery is
    * unchanged). Same 1440-min fixture and argmin-per-(user, signup)
    * oracle as the batch [[cepGroupRangeReluctantPre]] key. */
  private val streamGroupRangePreReplay = Q(
    "stream_group_range_pre_replay",
    cepGroupRangeReluctantPre.oracle.get) { (s, d) =>
    val grp = Seq("click" -> (col("event_type") === "click"),
      "view" -> (col("event_type") === "view"))
    val pre = Seq("signup" -> (col("event_type") === "signup"))
    val post = Seq("purchase" -> (col("event_type") === "purchase"))
    graft.streaming.BoundedReplay.replayEvents(s, d)(ev =>
        graft.streaming.StreamOps.cepGroupRangeReluctantStream(ev,
          "user_id", "ts", "event_id", grp, n = 1, m = 2,
          withinUs = 1440L * 60L * 1000000L, post = post, pre = pre))(
        ckpt => graft.streaming.StateFlush.groupRangeClosed(s, ckpt,
          "user_id", grp, m = 2, post = post, greedy = false, pre = pre))
      .orderBy("user_id", "reps", "signup_id", "click_1_id", "view_1_id",
        "click_2_id", "view_2_id", "purchase_id")
  }

  /** T8 negated — absence pattern ([[graft.streaming.CepOps.cepAbsence]],
    * Flink `notFollowedBy` + `within`): clicks with NO purchase by the
    * same user in the following 360 minutes. Oracle restates it as NOT
    * EXISTS over the same band. */
  private val cepAbsence = Q(
    "cep_absence",
    """SELECT a.user_id, a.event_id AS a_id,
      |  epoch_us(CAST(a.ts AS TIMESTAMP)) AS a_ts_us
      |FROM events a
      |WHERE a.event_type = 'click' AND NOT EXISTS (
      |  SELECT 1 FROM events b
      |  WHERE b.user_id = a.user_id AND b.event_type = 'purchase'
      |    AND CAST(b.ts AS TIMESTAMP) > CAST(a.ts AS TIMESTAMP)
      |    AND CAST(b.ts AS TIMESTAMP) <= CAST(a.ts AS TIMESTAMP) + INTERVAL 360 MINUTE)
      |ORDER BY user_id, a_id""".stripMargin) { (s, d) =>
    graft.streaming.CepOps.cepAbsence(Tables.events(s, d),
        "user_id", "ts", "event_id",
        first = col("event_type") === "click",
        absent = col("event_type") === "purchase",
        within = "360 minutes")
      .orderBy("user_id", "a_id")
  }

  /** T4 extended — DYNAMIC session gap (Flink
    * `SessionWindowTimeGapExtractor`): each event extends the session
    * by its own gap (purchases hold it open 60 min, everything else
    * 30), sessions merging while windows overlap. The oracle needs the
    * running-max-of-ends formulation — with a per-event gap the lag()
    * trick of the fixed-gap oracle is wrong, because a long-gap event
    * can bridge past its immediate successor. */
  private val sessionDynamic = Q(
    "stream_session_dynamic",
    s"""WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, value,
       |      CASE WHEN event_type = 'purchase' THEN INTERVAL 60 MINUTE
       |           ELSE INTERVAL 30 MINUTE END AS gap FROM events),
       |x AS (SELECT *, max(ts + gap) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end FROM e),
       |s AS (SELECT *, sum(CASE WHEN prev_end IS NULL OR ts >= prev_end THEN 1 ELSE 0 END)
       |        OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid
       |      FROM x)
       |SELECT user_id, epoch_us(min(ts)) AS ss_us, count(*) AS n,
       |  ${Det.osum("value")} AS sum_value
       |FROM s GROUP BY user_id, sid ORDER BY user_id, ss_us""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .groupBy(session_window(col("ts"),
          when(col("event_type") === "purchase", lit("60 minutes"))
            .otherwise(lit("30 minutes"))).as("w"),
        col("user_id"))
      .agg(count(lit(1)).as("n"), Det.dsum(col("value")).as("sum_value"))
      .select(col("user_id"), unix_micros(col("w.start")).as("ss_us"),
        col("n"), col("sum_value"))
      .orderBy("user_id", "ss_us")
  }

  // ------------------------------------------------- T9 stream-stream join
  /** True interval stream-stream join (Flink intervalJoin, beyond the
    * bucket-equality `join_windowed`): each click matched to the same
    * user's views in the preceding 30 minutes. The streaming form
    * ([[graft.streaming.StreamOps.intervalJoin]]) carries watermarks on
    * both sides + the range predicate, which is exactly what lets the
    * join state expire; this batch face carries the oracle.
    *
    * @note scale: shuffles both sides on `user_id` once; per-key state
    *   in streaming is bounded by the 30-minute band + watermark delay.
    *   In batch, Catalyst plans the equi-key part as the join key and
    *   the range as a post-filter — same state bound. */
  private val intervalJoin = Q(
    "stream_interval_join",
    """SELECT c.user_id, c.event_id AS click_id, v.event_id AS view_id
      |FROM (SELECT * FROM events WHERE event_type = 'click') c
      |JOIN (SELECT * FROM events WHERE event_type = 'view') v
      |  ON v.user_id = c.user_id
      | AND epoch_us(v.ts) BETWEEN epoch_us(c.ts) - 1800000000 AND epoch_us(c.ts)
      |ORDER BY c.user_id, click_id, view_id""".stripMargin) { (s, d) =>
    graft.streaming.StreamOps.intervalJoin(Tables.events(s, d))
      .orderBy("user_id", "click_id", "view_id")
  }

  /** J5 streaming side — stream-static broadcast enrichment
    * ([[graft.streaming.StreamOps.enrichStatic]]): events enriched with
    * the customer dimension on user_id and rolled up per market
    * segment. The streaming twin replays identically
    * (`EnrichmentAndTwsSpec` J5-stream); this batch face carries the
    * oracle. */
  private val enrichStatic = Q(
    "stream_enrich_static",
    s"""SELECT c.c_mktsegment, count(*) AS n, ${Det.osum("e.value")} AS sum_value
       |FROM events e JOIN customer c ON e.user_id = c.c_custkey
       |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    val dim = Tables.customer(s, d)
      .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
    graft.streaming.StreamOps
      .enrichStatic(Tables.events(s, d), dim, Seq("user_id"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"), Det.dsum(col("value")).as("sum_value"))
      .orderBy("c_mktsegment")
  }

  /** Windowed hot-key monitor ([[graft.streaming.StreamOps.skewMonitor]]
    * — the streaming face of keySkew): per tumbling hour, users whose
    * event count reaches the threshold. Same code path batch +
    * streaming (watermark no-ops on a batch frame); replay equivalence
    * in `StreamingEquivalenceSpec`. */
  private val skewMonitor = Q(
    "stream_skew_monitor",
    s"""SELECT CAST(CAST(date_trunc('hour', ts) AS TIMESTAMP) AS VARCHAR) AS ws,
       |  user_id, count(*) AS n
       |FROM events GROUP BY 1, 2 HAVING count(*) >= 2
       |ORDER BY 1, 2""".stripMargin) { (s, d) =>
    graft.streaming.StreamOps.skewMonitor(Tables.events(s, d), minCount = 2L)
      .orderBy("ws", "user_id")
  }

  // ------------------------------------------------------- CUMULATE window
  /** Flink CUMULATE windows ([[graft.streaming.StreamOps.cumulate]]):
    * 4 h windows reported cumulatively every hour. The oracle restates
    * the expanding-window assignment with a global step grid (DuckDB's
    * generate_series can't be LATERAL) range-joined on
    * `we ∈ (ts, ws + size]`; all bucket math is integer epoch-µs so
    * the grid is identical in both engines. */
  private val streamCumulate = Q(
    "stream_cumulate",
    s"""WITH e AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, value FROM events),
       |x AS (SELECT ts_us - ts_us % 14400000000 AS ws_us, ts_us, value FROM e),
       |b AS (SELECT min(ws_us) AS lo, max(ws_us) AS mx FROM x),
       |s AS (SELECT unnest(generate_series(lo + 3600000000, mx + 14400000000,
       |                                    3600000000)) AS we_us FROM b)
       |SELECT x.ws_us, s.we_us, count(*) AS n, ${Det.osum("x.value")} AS sum_value
       |FROM x JOIN s ON s.we_us > x.ts_us AND s.we_us <= x.ws_us + 14400000000
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
    graft.streaming.StreamOps.cumulate(Tables.events(s, d))
      .orderBy("ws_us", "we_us")
  }

  // ------------------------------------------------------- temporal join
  /** Temporal table join ([[graft.streaming.StreamOps
    * .temporalJoinStatic]] — Flink `FOR SYSTEM_TIME AS OF` event time):
    * each event joined to the SCD2 state its user held ONE HOUR before
    * the event — a genuine version lookup into the past, not a
    * degenerate always-latest probe. Dim = [[graft.operators.DiffOps
    * .scd2]] over the same events (the cdc_scd2 construction); facts
    * whose lookup time predates the user's first version keep NULL
    * state via the left join. */
  private val streamTemporalJoin = Q(
    "stream_temporal_join",
    """WITH o AS (SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us,
      |    lag(event_type) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev
      |  FROM events),
      |c AS (SELECT user_id, event_type, event_id, ts_us FROM o
      |      WHERE prev IS NULL OR prev <> event_type),
      |v AS (SELECT user_id, event_type AS state_then, ts_us AS valid_from_us,
      |      lead(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS valid_to_us
      |      FROM c)
      |SELECT e.event_id, e.user_id, epoch_us(e.ts) AS ts_us,
      |  v.state_then, v.valid_from_us
      |FROM events e LEFT JOIN v ON v.user_id = e.user_id
      |  AND epoch_us(e.ts) - 3600000000 >= v.valid_from_us
      |  AND (v.valid_to_us IS NULL OR epoch_us(e.ts) - 3600000000 < v.valid_to_us)
      |ORDER BY e.event_id""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d).select(col("user_id"), col("event_type"),
      unix_micros(col("ts")).as("ts_us"), col("event_id"))
    val dim = graft.operators.DiffOps.scd2(ev, keyCols = Seq("user_id"),
        orderCols = Seq("ts_us", "event_id"),
        attrCol = "event_type", tsCol = "ts_us")
      .select(col("user_id").as("d_uid"), col("event_type").as("state_then"),
        col("valid_from").as("valid_from_us"), col("valid_to").as("valid_to_us"))
    val fact = Tables.events(s, d).select(col("event_id"), col("user_id"),
      unix_micros(col("ts")).as("ts_us"))
    graft.streaming.StreamOps.temporalJoinStatic(fact, dim,
        "user_id", "d_uid", col("ts_us") - lit(3600000000L),
        "valid_from_us", "valid_to_us")
      .select(col("event_id"), fact("user_id"), col("ts_us"),
        col("state_then"), col("valid_from_us"))
      .orderBy("event_id")
  }

  // ---------------------------------------------- full-outer interval join
  /** Full-outer stream-stream interval join ([[graft.streaming
    * .StreamOps.intervalJoinFull]]): clicks ⟗ views in the same
    * 30-minute band — the abandonment view from BOTH directions
    * (clicks without a preceding view AND views that led to no click)
    * in one pass. Same code path batch + streaming; the unique
    * (user, click, view) triple makes the sort deterministic. */
  private val intervalJoinFull = Q(
    "stream_interval_join_full",
    """SELECT coalesce(c.user_id, v.user_id) AS user_id,
      |  c.event_id AS click_id, v.event_id AS view_id,
      |  epoch_us(CAST(c.ts AS TIMESTAMP)) AS c_ts_us,
      |  epoch_us(CAST(v.ts AS TIMESTAMP)) AS v_ts_us
      |FROM (SELECT * FROM events WHERE event_type = 'click') c
      |FULL JOIN (SELECT * FROM events WHERE event_type = 'view') v
      |  ON c.user_id = v.user_id
      |  AND CAST(v.ts AS TIMESTAMP) >= CAST(c.ts AS TIMESTAMP) - INTERVAL 30 MINUTE
      |  AND CAST(v.ts AS TIMESTAMP) <= CAST(c.ts AS TIMESTAMP)
      |ORDER BY user_id, click_id NULLS FIRST, view_id NULLS FIRST""".stripMargin) { (s, d) =>
    graft.streaming.StreamOps.intervalJoinFull(Tables.events(s, d))
      .orderBy(col("user_id"), col("click_id").asc_nulls_first,
        col("view_id").asc_nulls_first)
  }

  // ------------------------------------------------------- window top-N
  /** Flink Window Top-N ([[graft.streaming.StreamOps.windowTopN]]):
    * per tumbling hour, the 3 users with the most events. This batch
    * twin is the agg + rank-window form; the streaming face emits each
    * window's top-3 once, on the event-time timer at window close
    * (`WindowTopNSpec` pins the gating and the equality). */
  private val streamWindowTopn = Q(
    "stream_window_topn",
    """WITH h AS (SELECT epoch_us(CAST(ts AS TIMESTAMP))
      |             - epoch_us(CAST(ts AS TIMESTAMP)) % 3600000000 AS ws_us,
      |             user_id, count(*) AS n
      |           FROM events GROUP BY 1, 2),
      |r AS (SELECT ws_us, user_id, n,
      |        CAST(row_number() OVER (PARTITION BY ws_us
      |                                ORDER BY n DESC, user_id) AS INT) AS rnk
      |      FROM h)
      |SELECT ws_us, user_id, n, rnk FROM r WHERE rnk <= 3
      |ORDER BY ws_us, rnk""".stripMargin) { (s, d) =>
    val hourUs = 3600L * 1000000L
    val hourly = Tables.events(s, d)
      .select((unix_micros(col("ts")) - pmod(unix_micros(col("ts")), lit(hourUs)))
        .as("ws_us"), col("user_id"))
      .groupBy("ws_us", "user_id").agg(count(lit(1)).as("n"))
    hourly
      .withColumn("rnk", row_number().over(Window.partitionBy("ws_us")
        .orderBy(col("n").desc, col("user_id"))))
      .filter(col("rnk") <= 3)
      .orderBy("ws_us", "rnk")
  }

  // ------------------------------------------------------- CEP times(n)
  /** Quantified CEP pattern ([[graft.streaming.CepOps.cepTimes]] —
    * Flink `times(3).consecutive()`): three STRICTLY consecutive clicks
    * by one user (no other event of that user in between — enforced by
    * position-ranking the full stream before the filter) within 12
    * hours. The oracle restates the rank-then-lag form. */
  private val cepTimes = Q(
    "cep_times",
    """WITH p AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type,
      |             row_number() OVER (PARTITION BY user_id
      |                                ORDER BY ts, event_id) AS pos
      |           FROM events),
      |m AS (SELECT user_id, ts, event_id, pos FROM p WHERE event_type = 'click'),
      |l AS (SELECT user_id, ts, event_id, pos,
      |        lag(ts, 2) OVER w AS first_ts, lag(event_id, 2) OVER w AS first_id,
      |        lag(pos, 2) OVER w AS first_pos
      |      FROM m WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      |SELECT user_id, first_id, event_id AS last_id,
      |  epoch_us(ts) - epoch_us(first_ts) AS span_us
      |FROM l WHERE first_pos IS NOT NULL AND pos - first_pos = 2
      |  AND ts <= first_ts + INTERVAL 12 HOUR
      |ORDER BY user_id, last_id""".stripMargin) { (s, d) =>
    graft.streaming.CepOps.cepTimes(Tables.events(s, d),
        "user_id", "ts", "event_id",
        col("event_type") === "click", n = 3, within = "12 hours")
      .orderBy("user_id", "last_id")
  }

  /** `A{n,m}` — bounded-range consecutive quantifier
    * ([[graft.streaming.CepOps.cepTimesRange]], Flink
    * `times(from, to).consecutive()`; DSL `.times(2, 3).consecutive()`,
    * MATCH_RECOGNIZE `PATTERN (A{2,3})`): one match per (start,
    * length) window of 2 or 3 adjacent clicks inside 12 h, tagged
    * `reps` — the UNION of the fixed-count forms. Oracle restates
    * both lag-window chains with literal reps tags. */
  private val cepTimesRange = Q(
    "cep_times_range",
    """WITH p AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type,
      |             row_number() OVER (PARTITION BY user_id
      |                                ORDER BY ts, event_id) AS pos
      |           FROM events),
      |m AS (SELECT user_id, ts, event_id, pos FROM p WHERE event_type = 'click'),
      |l2 AS (SELECT user_id, ts, event_id, pos,
      |         lag(ts, 1) OVER w AS first_ts, lag(event_id, 1) OVER w AS first_id,
      |         lag(pos, 1) OVER w AS first_pos
      |       FROM m WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |l3 AS (SELECT user_id, ts, event_id, pos,
      |         lag(ts, 2) OVER w AS first_ts, lag(event_id, 2) OVER w AS first_id,
      |         lag(pos, 2) OVER w AS first_pos
      |       FROM m WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      |SELECT user_id, first_id, event_id AS last_id, CAST(2 AS INT) AS reps,
      |  epoch_us(ts) - epoch_us(first_ts) AS span_us
      |FROM l2 WHERE first_pos IS NOT NULL AND pos - first_pos = 1
      |  AND ts <= first_ts + INTERVAL 12 HOUR
      |UNION ALL
      |SELECT user_id, first_id, event_id, CAST(3 AS INT),
      |  epoch_us(ts) - epoch_us(first_ts)
      |FROM l3 WHERE first_pos IS NOT NULL AND pos - first_pos = 2
      |  AND ts <= first_ts + INTERVAL 12 HOUR
      |ORDER BY user_id, reps, last_id""".stripMargin) { (s, d) =>
    graft.streaming.Pattern
      .begin("click", col("event_type") === "click")
      .times(2, 3).consecutive().within("12 hours")
      .over(Tables.events(s, d), "user_id", "ts", "event_id")
      .orderBy("user_id", "reps", "last_id")
  }

  /** `A{n,m}? B` — RELUCTANT consecutive quantifier
    * ([[graft.streaming.CepOps.cepTimesRangeReluctant]]; DSL
    * `.times(2, 3).consecutive().within(...)
    * .reluctantlyFollowedBy("purchase", …)`, MATCH_RECOGNIZE
    * `PATTERN (A{2,3}? B)`): per run start, the SHORTEST click-run
    * length whose tail a purchase closes within 12 h wins — a 2-run
    * with no closer in ITS band loses to the 3-run extension whose
    * later tail reaches one, which is what the per-anchor argmin
    * decides (and what makes reluctance more than `times(n)`). The
    * oracle restates both lag-window chains, joins the closer leg,
    * and applies the argmin as a QUALIFY window. */
  private val cepTimesRangeReluctant = Q(
    "cep_times_range_reluctant",
    """WITH p AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type,
      |             row_number() OVER (PARTITION BY user_id
      |                                ORDER BY ts, event_id) AS pos
      |           FROM events),
      |m AS (SELECT user_id, ts, event_id, pos FROM p WHERE event_type = 'click'),
      |l2 AS (SELECT user_id, ts, event_id, pos,
      |         lag(ts, 1) OVER w AS first_ts, lag(event_id, 1) OVER w AS first_id,
      |         lag(pos, 1) OVER w AS first_pos
      |       FROM m WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |l3 AS (SELECT user_id, ts, event_id, pos,
      |         lag(ts, 2) OVER w AS first_ts, lag(event_id, 2) OVER w AS first_id,
      |         lag(pos, 2) OVER w AS first_pos
      |       FROM m WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |runs AS (
      |  SELECT user_id, first_id, event_id AS last_id, first_ts, ts AS last_ts,
      |    CAST(2 AS INT) AS reps
      |  FROM l2 WHERE first_pos IS NOT NULL AND pos - first_pos = 1
      |    AND ts <= first_ts + INTERVAL 12 HOUR
      |  UNION ALL
      |  SELECT user_id, first_id, event_id, first_ts, ts, CAST(3 AS INT)
      |  FROM l3 WHERE first_pos IS NOT NULL AND pos - first_pos = 2
      |    AND ts <= first_ts + INTERVAL 12 HOUR),
      |c AS (
      |  SELECT r.user_id, r.first_id, r.last_id, q.event_id AS purchase_id,
      |    r.reps, epoch_us(q.ts) - epoch_us(r.first_ts) AS span_us
      |  FROM runs r JOIN p q ON q.user_id = r.user_id
      |    AND q.event_type = 'purchase'
      |    AND q.ts > r.last_ts AND q.ts <= r.last_ts + INTERVAL 12 HOUR)
      |SELECT user_id, first_id, last_id, purchase_id, reps, span_us
      |FROM c
      |QUALIFY reps = min(reps) OVER (PARTITION BY user_id, first_id)
      |ORDER BY user_id, first_id, last_id, purchase_id""".stripMargin) { (s, d) =>
    graft.streaming.Pattern
      .begin("click", col("event_type") === "click")
      .times(2, 3).consecutive().within("12 hours")
      .reluctantlyFollowedBy("purchase", col("event_type") === "purchase")
      .over(Tables.events(s, d), "user_id", "ts", "event_id")
      .orderBy("user_id", "first_id", "last_id", "purchase_id")
  }

  /** `A{n,m} B` — GREEDY consecutive quantifier
    * ([[graft.streaming.CepOps.cepTimesRangeGreedy]]; DSL
    * `.greedilyFollowedBy`, MATCH_RECOGNIZE `PATTERN (A{2,3} B)` —
    * SQL's DEFAULT quantifier semantics / Flink `.greedy()`): per run
    * start, the LONGEST click-run length whose tail a purchase closes
    * within 12 h wins — the argmax mirror of
    * [[cepTimesRangeReluctant]] over the identical union; same
    * fixture, so the two keys certify both extremes of the same
    * tie-break contract. */
  private val cepTimesRangeGreedy = Q(
    "cep_times_range_greedy",
    """WITH p AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type,
      |             row_number() OVER (PARTITION BY user_id
      |                                ORDER BY ts, event_id) AS pos
      |           FROM events),
      |m AS (SELECT user_id, ts, event_id, pos FROM p WHERE event_type = 'click'),
      |l2 AS (SELECT user_id, ts, event_id, pos,
      |         lag(ts, 1) OVER w AS first_ts, lag(event_id, 1) OVER w AS first_id,
      |         lag(pos, 1) OVER w AS first_pos
      |       FROM m WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |l3 AS (SELECT user_id, ts, event_id, pos,
      |         lag(ts, 2) OVER w AS first_ts, lag(event_id, 2) OVER w AS first_id,
      |         lag(pos, 2) OVER w AS first_pos
      |       FROM m WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |runs AS (
      |  SELECT user_id, first_id, event_id AS last_id, first_ts, ts AS last_ts,
      |    CAST(2 AS INT) AS reps
      |  FROM l2 WHERE first_pos IS NOT NULL AND pos - first_pos = 1
      |    AND ts <= first_ts + INTERVAL 12 HOUR
      |  UNION ALL
      |  SELECT user_id, first_id, event_id, first_ts, ts, CAST(3 AS INT)
      |  FROM l3 WHERE first_pos IS NOT NULL AND pos - first_pos = 2
      |    AND ts <= first_ts + INTERVAL 12 HOUR),
      |c AS (
      |  SELECT r.user_id, r.first_id, r.last_id, q.event_id AS purchase_id,
      |    r.reps, epoch_us(q.ts) - epoch_us(r.first_ts) AS span_us
      |  FROM runs r JOIN p q ON q.user_id = r.user_id
      |    AND q.event_type = 'purchase'
      |    AND q.ts > r.last_ts AND q.ts <= r.last_ts + INTERVAL 12 HOUR)
      |SELECT user_id, first_id, last_id, purchase_id, reps, span_us
      |FROM c
      |QUALIFY reps = max(reps) OVER (PARTITION BY user_id, first_id)
      |ORDER BY user_id, first_id, last_id, purchase_id""".stripMargin) { (s, d) =>
    graft.streaming.Pattern
      .begin("click", col("event_type") === "click")
      .times(2, 3).consecutive().within("12 hours")
      .greedilyFollowedBy("purchase", col("event_type") === "purchase")
      .over(Tables.events(s, d), "user_id", "ts", "event_id")
      .orderBy("user_id", "first_id", "last_id", "purchase_id")
  }

  /** `A{n,m}? B C` — RELUCTANT quantifier with a post CHAIN
    * ([[graft.streaming.CepOps.cepTimesRangeReluctant]]'s chain
    * overload; DSL `.reluctantlyFollowedBy(...).followedBy(...)`,
    * MATCH_RECOGNIZE `PATTERN (A{2,3}? B C)`): a count qualifies only
    * when the WHOLE chain completes — purchase then view, each within
    * 12 h of the previous bound event (relaxed contiguity) — so an
    * anchor whose 2-run reaches a purchase but no view after it falls
    * through to its 3-run completion. This retires the one-closer
    * restriction the r16 face carried (the group kernel always took
    * chains; the single-variable face now shares the generalization).
    * Oracle = [[cepTimesRangeReluctant]]'s run chains + the second
    * post leg joined after the first, argmin per anchor AFTER the full
    * chain. */
  private val cepTimesRangeChain = Q(
    "cep_times_range_chain",
    """WITH p AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type,
      |             row_number() OVER (PARTITION BY user_id
      |                                ORDER BY ts, event_id) AS pos
      |           FROM events),
      |m AS (SELECT user_id, ts, event_id, pos FROM p WHERE event_type = 'click'),
      |l2 AS (SELECT user_id, ts, event_id, pos,
      |         lag(ts, 1) OVER w AS first_ts, lag(event_id, 1) OVER w AS first_id,
      |         lag(pos, 1) OVER w AS first_pos
      |       FROM m WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |l3 AS (SELECT user_id, ts, event_id, pos,
      |         lag(ts, 2) OVER w AS first_ts, lag(event_id, 2) OVER w AS first_id,
      |         lag(pos, 2) OVER w AS first_pos
      |       FROM m WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |runs AS (
      |  SELECT user_id, first_id, event_id AS last_id, first_ts, ts AS last_ts,
      |    CAST(2 AS INT) AS reps
      |  FROM l2 WHERE first_pos IS NOT NULL AND pos - first_pos = 1
      |    AND ts <= first_ts + INTERVAL 12 HOUR
      |  UNION ALL
      |  SELECT user_id, first_id, event_id, first_ts, ts, CAST(3 AS INT)
      |  FROM l3 WHERE first_pos IS NOT NULL AND pos - first_pos = 2
      |    AND ts <= first_ts + INTERVAL 12 HOUR),
      |c1 AS (
      |  SELECT r.user_id, r.first_id, r.last_id, q.event_id AS purchase_id,
      |    q.ts AS p_ts, r.reps, r.first_ts
      |  FROM runs r JOIN p q ON q.user_id = r.user_id
      |    AND q.event_type = 'purchase'
      |    AND q.ts > r.last_ts AND q.ts <= r.last_ts + INTERVAL 12 HOUR),
      |c2 AS (
      |  SELECT c.user_id, c.first_id, c.last_id, c.purchase_id,
      |    q.event_id AS view_id, c.reps,
      |    epoch_us(q.ts) - epoch_us(c.first_ts) AS span_us
      |  FROM c1 c JOIN p q ON q.user_id = c.user_id
      |    AND q.event_type = 'view'
      |    AND q.ts > c.p_ts AND q.ts <= c.p_ts + INTERVAL 12 HOUR)
      |SELECT user_id, first_id, last_id, purchase_id, view_id, reps, span_us
      |FROM c2
      |QUALIFY reps = min(reps) OVER (PARTITION BY user_id, first_id)
      |ORDER BY user_id, first_id, last_id, purchase_id, view_id""".stripMargin) { (s, d) =>
    graft.streaming.Pattern
      .begin("click", col("event_type") === "click")
      .times(2, 3).consecutive().within("12 hours")
      .reluctantlyFollowedBy("purchase", col("event_type") === "purchase")
      .followedBy("view", col("event_type") === "view")
      .over(Tables.events(s, d), "user_id", "ts", "event_id")
      .orderBy("user_id", "first_id", "last_id", "purchase_id", "view_id")
  }

  // ------------------------------------------------------- CEP Kleene B+
  /** Kleene CEP pattern ([[graft.streaming.CepOps.cepKleene]] — Flink
    * `A next B.oneOrMore().consecutive().greedy() next C within Δt`,
    * skip past last row): a view, a maximal contiguous run of clicks,
    * then the purchase that terminates it, all inside 6 h. The oracle
    * restates the gaps-and-islands run grouping; `CepKleeneSpec` pins
    * the streaming automaton replay equal. */
  private val cepKleene = Q(
    "cep_kleene",
    """WITH e AS (SELECT user_id AS k, CAST(ts AS TIMESTAMP) AS ts, event_id AS id,
      |             CASE WHEN event_type = 'view' THEN 'A'
      |                  WHEN event_type = 'click' THEN 'B'
      |                  WHEN event_type = 'purchase' THEN 'C' END AS cls
      |           FROM events WHERE event_type IN ('view', 'click', 'purchase')),
      |r AS (SELECT *, row_number() OVER (PARTITION BY k ORDER BY ts, id) AS pos FROM e),
      |b AS (SELECT k, grp, min(pos) AS bstart, max(pos) AS bend,
      |             count(*) AS n_b, min_by(id, pos) AS first_b_id,
      |             max_by(id, pos) AS last_b_id
      |      FROM (SELECT *, pos - row_number() OVER (PARTITION BY k ORDER BY pos) AS grp
      |            FROM r WHERE cls = 'B')
      |      GROUP BY k, grp)
      |SELECT b.k AS user_id, a.id AS a_id, CAST(n_b AS BIGINT) AS n_b,
      |       first_b_id, last_b_id, c.id AS c_id,
      |       epoch_us(c.ts) - epoch_us(a.ts) AS span_us
      |FROM b JOIN r a ON a.k = b.k AND a.pos = b.bstart - 1 AND a.cls = 'A'
      |       JOIN r c ON c.k = b.k AND c.pos = b.bend + 1 AND c.cls = 'C'
      |WHERE c.ts <= a.ts + INTERVAL 360 MINUTE
      |ORDER BY user_id, a_id""".stripMargin) { (s, d) =>
    graft.streaming.CepOps.cepKleene(Tables.events(s, d),
        "user_id", "ts", "event_id",
        col("event_type") === "view", col("event_type") === "click",
        col("event_type") === "purchase", within = "360 minutes")
      .orderBy("user_id", "a_id")
  }

  /** `MATCH_RECOGNIZE` MEASURES through the SQL face
    * ([[graft.streaming.MatchRecognize]] →
    * [[graft.streaming.CepOps.cepKleeneMeasures]]): view → clicks+ →
    * purchase with per-match COUNT / SUM / AVG over the click run plus
    * FIRST/LAST click ids — the aggregates ride the run-grouping pass.
    * Exact decimal SUM keeps the measures engine-portable. */
  private val cepMeasures = Q(
    "cep_measures",
    """WITH e AS (SELECT user_id AS k, CAST(ts AS TIMESTAMP) AS ts, event_id AS id,
      |             value,
      |             CASE WHEN event_type = 'view' THEN 'A'
      |                  WHEN event_type = 'click' THEN 'B'
      |                  WHEN event_type = 'purchase' THEN 'C' END AS cls
      |           FROM events WHERE event_type IN ('view', 'click', 'purchase')),
      |r AS (SELECT *, row_number() OVER (PARTITION BY k ORDER BY ts, id) AS pos FROM e),
      |b AS (SELECT k, grp, min(pos) AS bstart, max(pos) AS bend,
      |             count(*) AS n_b, min_by(id, pos) AS first_b_id,
      |             max_by(id, pos) AS last_b_id,
      |             sum(CAST(value AS DECIMAL(18,6))) AS sv
      |      FROM (SELECT *, pos - row_number() OVER (PARTITION BY k ORDER BY pos) AS grp
      |            FROM r WHERE cls = 'B')
      |      GROUP BY k, grp)
      |SELECT b.k AS user_id, a.id AS a_id, c.id AS c_id,
      |       epoch_us(c.ts) - epoch_us(a.ts) AS span_us,
      |       CAST(n_b AS BIGINT) AS n_clicks,
      |       CAST(round(sv, 4) AS DOUBLE) AS sum_value,
      |       round(CAST(sv AS DOUBLE) / n_b, 4) AS avg_value,
      |       first_b_id AS first_click, last_b_id AS last_click
      |FROM b JOIN r a ON a.k = b.k AND a.pos = b.bstart - 1 AND a.cls = 'A'
      |       JOIN r c ON c.k = b.k AND c.pos = b.bend + 1 AND c.cls = 'C'
      |WHERE c.ts <= a.ts + INTERVAL 360 MINUTE
      |ORDER BY user_id, a_id""".stripMargin) { (s, d) =>
    graft.streaming.MatchRecognize(Tables.events(s, d),
      "user_id", "ts", "event_id",
      """MEASURES COUNT(B.*) AS n_clicks, SUM(B.value) AS sum_value,
        |         AVG(B.value) AS avg_value, FIRST(B.event_id) AS first_click,
        |         LAST(B.event_id) AS last_click
        |PATTERN (A B+ C)
        |DEFINE A AS event_type = 'view',
        |       B AS event_type = 'click',
        |       C AS event_type = 'purchase'
        |WITHIN INTERVAL '360' MINUTE""".stripMargin)
      .orderBy("user_id", "a_id")
  }

  /** Kleene with a stop condition ([[graft.streaming.CepOps.cepKleeneUntil]]
    * — Flink `oneOrMore().until(U)`): a view, a maximal run of clicks,
    * STOPPED by an error — the error terminates the loop but is not
    * part of the match, and `within` bounds view→last-click. */
  private val cepKleeneUntil = Q(
    "cep_kleene_until",
    """WITH e AS (SELECT user_id AS k, CAST(ts AS TIMESTAMP) AS ts, event_id AS id,
      |             CASE WHEN event_type = 'view' THEN 'A'
      |                  WHEN event_type = 'click' THEN 'B'
      |                  WHEN event_type = 'error' THEN 'C' END AS cls
      |           FROM events WHERE event_type IN ('view', 'click', 'error')),
      |r AS (SELECT *, row_number() OVER (PARTITION BY k ORDER BY ts, id) AS pos FROM e),
      |b AS (SELECT k, grp, min(pos) AS bstart, max(pos) AS bend,
      |             count(*) AS n_b, min_by(id, pos) AS first_b_id,
      |             max_by(id, pos) AS last_b_id, max_by(ts, pos) AS lastb_ts
      |      FROM (SELECT *, pos - row_number() OVER (PARTITION BY k ORDER BY pos) AS grp
      |            FROM r WHERE cls = 'B')
      |      GROUP BY k, grp)
      |SELECT b.k AS user_id, a.id AS a_id, CAST(n_b AS BIGINT) AS n_b,
      |       first_b_id, last_b_id,
      |       epoch_us(lastb_ts) - epoch_us(a.ts) AS span_us
      |FROM b JOIN r a ON a.k = b.k AND a.pos = b.bstart - 1 AND a.cls = 'A'
      |       JOIN r c ON c.k = b.k AND c.pos = b.bend + 1 AND c.cls = 'C'
      |WHERE lastb_ts <= a.ts + INTERVAL 360 MINUTE
      |ORDER BY user_id, a_id""".stripMargin) { (s, d) =>
    graft.streaming.CepOps.cepKleeneUntil(Tables.events(s, d),
        "user_id", "ts", "event_id",
        col("event_type") === "view", col("event_type") === "click",
        col("event_type") === "error", within = "360 minutes")
      .orderBy("user_id", "a_id")
  }

  /** Relaxed-contiguity Kleene ([[graft.streaming.CepOps.cepKleeneRelaxed]]
    * — Flink's DEFAULT `A followedBy B.oneOrMore() followedBy C`): per
    * view anchor, the first-3 click-run prefixes, each closed by the
    * first purchase after its last click, inside 6 h. The oracle
    * derives the prefixes independently: a LATERAL first-C-after probe
    * per click plus a generate_series prefix grid — a different plan
    * shape reaching the same rows. */
  private val cepKleeneRelaxed = Q(
    "cep_kleene_relaxed",
    """WITH e AS (SELECT user_id AS k, CAST(ts AS TIMESTAMP) AS ts, event_id AS id,
      |             CASE WHEN event_type = 'view' THEN 'A'
      |                  WHEN event_type = 'click' THEN 'B'
      |                  WHEN event_type = 'purchase' THEN 'C' END AS cls
      |           FROM events WHERE event_type IN ('view', 'click', 'purchase')),
      |r AS (SELECT *, sum(CASE WHEN cls = 'B' THEN 1 ELSE 0 END)
      |               OVER (PARTITION BY k ORDER BY ts, id
      |                     ROWS UNBOUNDED PRECEDING) AS cumb FROM e),
      |b AS (SELECT k, ts, id, cumb AS bpos FROM r WHERE cls = 'B'),
      |bn AS (SELECT b.k, b.bpos, b.id, c.c_ts, c.c_id
      |       FROM b LEFT JOIN LATERAL (
      |         SELECT cc.ts AS c_ts, cc.id AS c_id FROM r cc
      |         WHERE cc.k = b.k AND cc.cls = 'C'
      |           AND (cc.ts > b.ts OR (cc.ts = b.ts AND cc.id > b.id))
      |         ORDER BY cc.ts, cc.id LIMIT 1) c ON TRUE),
      |a AS (SELECT r.k, r.ts AS a_ts, r.id AS a_id, r.cumb + 1 AS astart, g.l
      |      FROM r CROSS JOIN (SELECT unnest(generate_series(1, 3)) AS l) g
      |      WHERE r.cls = 'A')
      |SELECT a.k AS user_id, a.a_id, CAST(a.l AS BIGINT) AS n_b,
      |       f.id AS first_b_id, bn.id AS last_b_id, bn.c_id,
      |       epoch_us(bn.c_ts) - epoch_us(a.a_ts) AS span_us
      |FROM a JOIN b f ON f.k = a.k AND f.bpos = a.astart
      |       JOIN bn ON bn.k = a.k AND bn.bpos = a.astart + a.l - 1
      |WHERE bn.c_ts IS NOT NULL AND bn.c_ts <= a.a_ts + INTERVAL 360 MINUTE
      |ORDER BY user_id, a_id, n_b""".stripMargin) { (s, d) =>
    graft.streaming.CepOps.cepKleeneRelaxed(Tables.events(s, d),
        "user_id", "ts", "event_id",
        col("event_type") === "view", col("event_type") === "click",
        col("event_type") === "purchase", within = "360 minutes",
        maxPrefix = 3)
      .orderBy("user_id", "a_id", "n_b")
  }

  /** The relaxed shape through the MATCH_RECOGNIZE STRING face — the
    * `A B+? C` marker ([[graft.streaming.MatchRecognize]]) compiling
    * onto [[graft.streaming.CepOps.cepKleeneRelaxed]], under the SAME
    * oracle as [[cepKleeneRelaxed]]: proves the SQL-face compilation
    * of the relaxed-contiguity shape end to end, not only by parity
    * spec. */
  private val cepMrRelaxed = Q(
    "cep_mr_relaxed", cepKleeneRelaxed.oracle.get) { (s, d) =>
    graft.streaming.MatchRecognize(Tables.events(s, d),
      "user_id", "ts", "event_id",
      """PATTERN (A B+? C)
        |DEFINE A AS event_type = 'view',
        |       B AS event_type = 'click',
        |       C AS event_type = 'purchase'
        |WITHIN INTERVAL '360' MINUTE""".stripMargin)
      .orderBy("user_id", "a_id", "n_b")
  }

  /** MEASURES over the relaxed prefixes
    * ([[graft.streaming.CepOps.cepKleeneRelaxedMeasures]]): per emitted
    * prefix, exact decimal SUM/AVG of the click values riding the
    * B-substream's cumulative micro-unit sum (`cum(last) − cum(first) +
    * v(first)` — zero extra shuffles). The oracle carries the same
    * cumulative DECIMAL column through its lateral/grid derivation. */
  private val cepMeasuresRelaxed = Q(
    "cep_measures_relaxed",
    """WITH e AS (SELECT user_id AS k, CAST(ts AS TIMESTAMP) AS ts, event_id AS id,
      |             CAST(value AS DECIMAL(18,6)) AS v,
      |             CASE WHEN event_type = 'view' THEN 'A'
      |                  WHEN event_type = 'click' THEN 'B'
      |                  WHEN event_type = 'purchase' THEN 'C' END AS cls
      |           FROM events WHERE event_type IN ('view', 'click', 'purchase')),
      |r AS (SELECT *,
      |        sum(CASE WHEN cls = 'B' THEN 1 ELSE 0 END)
      |          OVER (PARTITION BY k ORDER BY ts, id
      |                ROWS UNBOUNDED PRECEDING) AS cumb,
      |        sum(CASE WHEN cls = 'B' THEN v ELSE CAST(0 AS DECIMAL(18,6)) END)
      |          OVER (PARTITION BY k ORDER BY ts, id
      |                ROWS UNBOUNDED PRECEDING) AS cumv
      |      FROM e),
      |b AS (SELECT k, ts, id, v, cumv, cumb AS bpos FROM r WHERE cls = 'B'),
      |bn AS (SELECT b.k, b.bpos, b.id, b.cumv, c.c_ts, c.c_id
      |       FROM b LEFT JOIN LATERAL (
      |         SELECT cc.ts AS c_ts, cc.id AS c_id FROM r cc
      |         WHERE cc.k = b.k AND cc.cls = 'C'
      |           AND (cc.ts > b.ts OR (cc.ts = b.ts AND cc.id > b.id))
      |         ORDER BY cc.ts, cc.id LIMIT 1) c ON TRUE),
      |a AS (SELECT r.k, r.ts AS a_ts, r.id AS a_id, r.cumb + 1 AS astart, g.l
      |      FROM r CROSS JOIN (SELECT unnest(generate_series(1, 3)) AS l) g
      |      WHERE r.cls = 'A'),
      |m AS (SELECT a.k, a.a_id, a.l, f.id AS first_b_id, bn.id AS last_b_id,
      |             bn.c_id, bn.c_ts, a.a_ts,
      |             bn.cumv - f.cumv + f.v AS sv
      |      FROM a JOIN b f ON f.k = a.k AND f.bpos = a.astart
      |             JOIN bn ON bn.k = a.k AND bn.bpos = a.astart + a.l - 1
      |      WHERE bn.c_ts IS NOT NULL AND bn.c_ts <= a.a_ts + INTERVAL 360 MINUTE)
      |SELECT k AS user_id, a_id, CAST(l AS BIGINT) AS n_b,
      |       first_b_id, last_b_id, c_id,
      |       CAST(round(sv, 4) AS DOUBLE) AS sum_b,
      |       round(CAST(sv AS DOUBLE) / l, 4) AS avg_b,
      |       epoch_us(c_ts) - epoch_us(a_ts) AS span_us
      |FROM m ORDER BY user_id, a_id, n_b""".stripMargin) { (s, d) =>
    graft.streaming.CepOps.cepKleeneRelaxedMeasures(Tables.events(s, d),
        "user_id", "ts", "event_id",
        col("event_type") === "view", col("event_type") === "click",
        col("event_type") === "purchase", within = "360 minutes",
        maxPrefix = 3, valueCol = col("value"))
      .orderBy("user_id", "a_id", "n_b")
  }

  /** Relaxed MEASURES on the REAL streaming path: the
    * [[graft.streaming.StreamOps.cepKleeneRelaxedMeasuresStream]]
    * automaton (anchors carrying cumulative micro-unit prefix sums)
    * replayed through 5 micro-batches against the SAME oracle as the
    * batch [[cepMeasuresRelaxed]]; no flush needed. */
  private val streamMeasuresRelaxedReplay = Q(
    "stream_measures_relaxed_replay", cepMeasuresRelaxed.oracle.get) { (s, d) =>
    val out = graft.streaming.BoundedReplay.replayEvents(s, d)(ev =>
      graft.streaming.StreamOps.cepKleeneRelaxedMeasuresStream(ev, "user_id",
        "ts", "event_id",
        col("event_type") === "view", col("event_type") === "click",
        col("event_type") === "purchase",
        withinUs = 360L * 60L * 1000000L, maxPrefix = 3,
        valueCol = col("value")).toDF())(
      _ => { val sp = s; import sp.implicits._; sp.emptyDataset[graft.streaming.RelaxedMMatch] })
    out.orderBy("user_id", "a_id", "n_b")
  }

  /** The relaxed-contiguity automaton under the SAME oracle as the
    * batch prefix grid: [[graft.streaming.StreamOps.cepKleeneRelaxedStream]]
    * replayed through 5 event-time-ordered micro-batches — anchor list
    * state, closed-prefix high-water marks, no flush (an unclosed
    * prefix is unmatched in both forms). */
  private val streamKleeneRelaxedReplay = Q(
    "stream_kleene_relaxed_replay", cepKleeneRelaxed.oracle.get) { (s, d) =>
    val out = graft.streaming.BoundedReplay.replayEvents(s, d)(ev =>
      graft.streaming.StreamOps.cepKleeneRelaxedStream(ev, "user_id", "ts",
        "event_id",
        col("event_type") === "view", col("event_type") === "click",
        col("event_type") === "purchase",
        withinUs = 360L * 60L * 1000000L, maxPrefix = 3).toDF())(
      _ => { val sp = s; import sp.implicits._; sp.emptyDataset[graft.streaming.KleeneMatch] })
    out.orderBy("user_id", "a_id", "n_b")
  }

  /** The REAL streaming Kleene automaton under the oracle: cepKleeneStream
    * replayed through 5 event-time-ordered micro-batches must hash-match
    * the SAME DuckDB oracle as the batch gaps-and-islands form — and it
    * needs NO StateFlush drain (a run the stream never terminates is
    * unmatched in both forms). */
  private val streamKleeneReplay = Q(
    "stream_kleene_replay", cepKleene.oracle.get) { (s, d) =>
    val out = graft.streaming.BoundedReplay.replayEvents(s, d)(ev =>
      graft.streaming.StreamOps.cepKleeneStream(ev, "user_id", "ts", "event_id",
        col("event_type") === "view", col("event_type") === "click",
        col("event_type") === "purchase",
        withinUs = 360L * 60L * 1000000L).toDF())(
      _ => { val sp = s; import sp.implicits._; sp.emptyDataset[graft.streaming.KleeneMatch] })
    out.orderBy("user_id", "a_id")
  }

  /** MEASURES on the REAL streaming path: the
    * [[graft.streaming.StreamOps.cepKleeneMeasuresStream]] automaton —
    * O(1) state carrying the run aggregate as exact decimal micro-units
    * — replayed through 5 event-time-ordered micro-batches, against
    * the SAME oracle as the batch [[cepMeasures]]; no flush needed
    * (an unterminated run is unmatched in both forms). */
  private val streamMeasuresReplay = Q(
    "stream_measures_replay", cepMeasures.oracle.get) { (s, d) =>
    val out = graft.streaming.BoundedReplay.replayEvents(s, d)(ev =>
      graft.streaming.StreamOps.cepKleeneMeasuresStream(ev, "user_id", "ts",
        "event_id",
        col("event_type") === "view", col("event_type") === "click",
        col("event_type") === "purchase",
        withinUs = 360L * 60L * 1000000L, valueCol = col("value")).toDF())(
      _ => { val sp = s; import sp.implicits._
        sp.emptyDataset[graft.streaming.KleeneMeasuresMatch] })
    out.orderBy("user_id", "a_id")
  }

  /** Duration-capped sessionization on the REAL streaming path
    * ([[graft.streaming.StreamOps.sessionIdsCappedStream]]): every
    * event's label is prefix-determined, so the automaton emits
    * immediately and a 5-micro-batch replay hash-matches the batch
    * fold's recursive-CTE oracle with zero flush gap. */
  private val streamSessioncapReplay = Q(
    "stream_sessioncap_replay",
    ExtendedQueries.stateSessionCapped.oracle.get) { (s, d) =>
    val out = graft.streaming.BoundedReplay.replayEvents(s, d)(ev =>
      graft.streaming.StreamOps.sessionIdsCappedStream(ev, "user_id", "ts",
        "event_id", gapUs = 1800000000L, capUs = 10800000000L).toDF())(
      _ => { val sp = s; import sp.implicits._
        sp.emptyDataset[graft.streaming.SessCapRow] })
    out.orderBy("user_id", "event_id")
  }

  /** GAP FILLING on the REAL streaming path
    * ([[graft.streaming.StreamOps.gapFillHourlyStream]]): the grid
    * cursor emits zero rows for hours NO event ever touches as the
    * watermark passes them — the op a plain windowed agg cannot
    * express in append mode; replay ∪ [[graft.streaming.StateFlush.gapFill]]
    * drain hash-matches [[graft.queries.ExtendedQueries]]' batch
    * generated-grid oracle (epoch-µs window starts). */
  private val streamGapfillReplay = Q(
    "stream_gapfill_replay",
    s"""WITH b AS (SELECT date_trunc('hour', min(CAST(ts AS TIMESTAMP))) AS lo,
       |                 date_trunc('hour', max(CAST(ts AS TIMESTAMP))) AS hi FROM events),
       |g AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS ws FROM b),
       |t AS (SELECT DISTINCT event_type FROM events),
       |a AS (SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS ws, event_type,
       |        count(*) AS n, ${Det.osum("value")} AS sv
       |      FROM events GROUP BY 1, 2)
       |SELECT epoch_us(g.ws) AS ws_us, t.event_type AS event_type,
       |  COALESCE(a.n, 0) AS n, COALESCE(a.sv, 0.0) AS sum_value
       |FROM g CROSS JOIN t
       |LEFT JOIN a ON a.ws = g.ws AND a.event_type = t.event_type
       |ORDER BY 1, 2""".stripMargin) { (s, d) =>
    val hourUs = 3600L * 1000000L
    val bounds = Tables.events(s, d)
      .agg(min(unix_micros(col("ts"))).as("lo"),
        max(unix_micros(col("ts"))).as("hi")).head()
    val loUs = bounds.getLong(0) / hourUs * hourUs
    val hiUs = bounds.getLong(1) / hourUs * hourUs + hourUs
    graft.streaming.BoundedReplay.replayEvents(s, d)(ev =>
      graft.streaming.StreamOps.gapFillHourlyStream(ev, loUs).toDF())(
      ckpt => graft.streaming.StateFlush.gapFill(s, ckpt, hiUs))
      .orderBy("ws_us", "event_type")
  }

  // ----------------------------------------------- end-to-end replay keys
  /** The REAL streaming code path under the DuckDB oracle (r5): each
    * key runs a genuine Structured Streaming query via
    * [[graft.streaming.BoundedReplay]] — file source replayed in 5
    * event-time-ordered micro-batches (the watermark actually advances
    * between batches), append-mode timer emission, end-of-replay state
    * drain through [[graft.streaming.StateFlush]] — and must
    * hash-match the SAME oracle SQL as its batch twin. Until r5 these
    * paths were pinned only by specs; now the driver's gate sees them. */
  private val streamCumulateAppend = Q(
    "stream_cumulate_append", streamCumulate.oracle.get) { (s, d) =>
    graft.streaming.BoundedReplay.replayEvents(s, d)(
        ev => graft.streaming.StreamOps.cumulateAppend(ev))(
        ckpt => graft.streaming.StateFlush.cumulateAppend(s, ckpt))
      .orderBy("ws_us", "we_us")
  }

  private val streamTopnReplay = Q(
    "stream_topn_replay", streamWindowTopn.oracle.get) { (s, d) =>
    graft.streaming.BoundedReplay.replayEvents(s, d)(
        ev => graft.streaming.StreamOps.windowTopN(ev))(
        ckpt => graft.streaming.StateFlush.windowTopN(s, ckpt))
      .orderBy("ws_us", "rnk")
  }

  private val streamFfillReplay = Q(
    "stream_ffill_replay", forwardFill.oracle.get) { (s, d) =>
    graft.streaming.BoundedReplay.replayEvents(s, d)(
        ev => graft.streaming.StreamOps.forwardFill(ev))(
        ckpt => graft.streaming.StateFlush.forwardFill(s, ckpt))
      .orderBy("user_id", "h_us")
  }

  /** Flink `countWindow(n)` on the REAL streaming path
    * ([[graft.streaming.StreamOps.countWindows]]): per-user blocks of
    * 10 events in (ts, event_id) order, full buckets emitted as they
    * fill across 5 real micro-batches, each key's partial tail drained
    * from the checkpoint ([[graft.streaming.StateFlush.countWindows]])
    * — streamed ∪ flush hash-matches the batch `window_count_based`
    * twin's own oracle (sums ride the exact micro-unit grid, so even
    * the doubles agree bit for bit). */
  private val streamCountwinReplay = Q(
    "stream_countwin_replay",
    s"""SELECT user_id, CAST((rn - 1) // 10 AS INT) AS bucket,
       |  count(*) AS n, ${Det.osum("value")} AS sum_value
       |FROM (SELECT user_id, value,
       |        row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
       |      FROM events)
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
    graft.streaming.BoundedReplay.replayEvents(s, d)(
        ev => graft.streaming.StreamOps.countWindows(ev, n = 10))(
        ckpt => graft.streaming.StateFlush.countWindows(s, ckpt))
      .select(col("user_id"), col("bucket"),
        col("n").cast("long").as("n"), col("sum_value"))
      .orderBy("user_id", "bucket")
  }

  /** AFTER MATCH SKIP TO NEXT ROW ([[graft.streaming.CepOps.cepSkipToNext]]):
    * each view-start matches its earliest purchase within 2 h — at most
    * one match per start, overlaps allowed. Declarative join + argmin,
    * restated 1:1 in the oracle. */
  private val cepSkipToNext = Q(
    "cep_skip_to_next",
    """WITH a AS (SELECT user_id, ts AS a_ts, event_id AS a_id FROM events
      |           WHERE event_type = 'view'),
      |b AS (SELECT user_id AS bk, ts AS b_ts, event_id AS b_id FROM events
      |      WHERE event_type = 'purchase')
      |SELECT user_id, a_id, b_id, gap_us FROM (
      |  SELECT a.user_id, a.a_id, b.b_id,
      |    epoch_us(b.b_ts) - epoch_us(a.a_ts) AS gap_us,
      |    row_number() OVER (PARTITION BY a.user_id, a.a_id
      |                       ORDER BY b.b_ts, b.b_id) AS rn
      |  FROM a JOIN b ON a.user_id = b.bk AND b.b_ts > a.a_ts
      |    AND b.b_ts <= a.a_ts + INTERVAL 2 HOUR)
      |WHERE rn = 1 ORDER BY user_id, a_id""".stripMargin) { (s, d) =>
    graft.streaming.CepOps.cepSkipToNext(Tables.events(s, d),
        "user_id", "ts", "event_id",
        col("event_type") === "view", col("event_type") === "purchase",
        within = "2 hours")
      .orderBy("user_id", "a_id")
  }

  /** AFTER MATCH SKIP PAST LAST EVENT
    * ([[graft.streaming.CepOps.cepSkipPastLast]]) — greedy disjoint
    * view→purchase funnels within 2 h. Greedy matching is sequential,
    * so the oracle is a per-key recursive CTE advancing one completed
    * match per step: the next match's B is the earliest purchase
    * completing ANY open view after the previous match, its A the
    * earliest view pairing with that B. */
  private val cepSkipPastLast = Q(
    "cep_skip_past_last",
    """WITH RECURSIVE
      |a AS (SELECT user_id, event_id AS a_id, ts AS a_ts FROM events
      |      WHERE event_type = 'view'),
      |b AS (SELECT user_id, event_id AS b_id, ts AS b_ts FROM events
      |      WHERE event_type = 'purchase'),
      |m AS (
      |  SELECT DISTINCT user_id, TIMESTAMP '1970-01-01' AS pos,
      |         CAST(NULL AS BIGINT) AS a_id, CAST(NULL AS BIGINT) AS b_id
      |  FROM events
      |  UNION ALL
      |  SELECT user_id, pos2, a_id2, b_id2 FROM (
      |    SELECT s.user_id,
      |      (SELECT min(bb.b_ts) FROM a aa, b bb
      |        WHERE aa.user_id = s.user_id AND bb.user_id = s.user_id
      |          AND aa.a_ts > s.pos AND bb.b_ts > aa.a_ts
      |          AND bb.b_ts <= aa.a_ts + INTERVAL 2 HOUR) AS pos2,
      |      (SELECT min(aa.a_id) FROM a aa
      |        WHERE aa.user_id = s.user_id AND aa.a_ts > s.pos
      |          AND aa.a_ts = (SELECT min(a2.a_ts) FROM a a2, b b2
      |             WHERE a2.user_id = s.user_id AND b2.user_id = s.user_id
      |               AND a2.a_ts > s.pos AND b2.b_ts > a2.a_ts
      |               AND b2.b_ts <= a2.a_ts + INTERVAL 2 HOUR
      |               AND b2.b_ts = (SELECT min(b3.b_ts) FROM a a3, b b3
      |                  WHERE a3.user_id = s.user_id AND b3.user_id = s.user_id
      |                    AND a3.a_ts > s.pos AND b3.b_ts > a3.a_ts
      |                    AND b3.b_ts <= a3.a_ts + INTERVAL 2 HOUR))) AS a_id2,
      |      (SELECT min(bb.b_id) FROM b bb
      |        WHERE bb.user_id = s.user_id
      |          AND bb.b_ts = (SELECT min(b2.b_ts) FROM a a2, b b2
      |             WHERE a2.user_id = s.user_id AND b2.user_id = s.user_id
      |               AND a2.a_ts > s.pos AND b2.b_ts > a2.a_ts
      |               AND b2.b_ts <= a2.a_ts + INTERVAL 2 HOUR)) AS b_id2
      |    FROM m s) WHERE pos2 IS NOT NULL
      |)
      |SELECT user_id, a_id, b_id FROM m WHERE a_id IS NOT NULL
      |ORDER BY user_id, b_id""".stripMargin) { (s, d) =>
    graft.streaming.CepOps.cepSkipPastLast(Tables.events(s, d),
        "user_id", "ts", "event_id",
        col("event_type") === "view", col("event_type") === "purchase",
        withinUs = 2L * 3600L * 1000000L)
      .orderBy("user_id", "b_id")
  }

  /** The greedy skip-past-last automaton on the REAL streaming path:
    * same oracle as the batch form; no flush needed (emission rides the
    * closing B event). */
  private val streamSkiplastReplay = Q(
    "stream_skiplast_replay", cepSkipPastLast.oracle.get) { (s, d) =>
    val out = graft.streaming.BoundedReplay.replayEvents(s, d)(ev =>
      graft.streaming.StreamOps.cepSkipPastLastStream(ev,
        "user_id", "ts", "event_id",
        col("event_type") === "view", col("event_type") === "purchase",
        withinUs = 2L * 3600L * 1000000L).toDF())(
      _ => { val sp = s; import sp.implicits._
        sp.emptyDataset[graft.streaming.SkipLastMatch] })
    out.orderBy("user_id", "b_id")
  }

  /** The skip-to-next automaton on the REAL streaming path: same oracle
    * as the batch argmin form; unresolved tails drain from the
    * checkpoint (their candidate sets are complete in state). */
  private val streamSkipnextReplay = Q(
    "stream_skipnext_replay", cepSkipToNext.oracle.get) { (s, d) =>
    val W = 2L * 3600L * 1000000L
    graft.streaming.BoundedReplay.replayEvents(s, d)(ev =>
      graft.streaming.StreamOps.cepSkipToNextStream(ev,
        "user_id", "ts", "event_id",
        col("event_type") === "view", col("event_type") === "purchase",
        withinUs = W).toDF())(
      ckpt => graft.streaming.StateFlush.cepSkipToNext(s, ckpt, withinUs = W))
      .orderBy("user_id", "a_id")
  }

  /** Flink SQL's streaming OVER window under the oracle: the REAL
    * watermark-gated path — rows buffer per key until the watermark
    * proves their emission slot, emit in (ts, event_id) order across 5
    * genuine micro-batches, and the above-final-watermark tail drains
    * from the checkpoint — must hash-match the plain batch
    * window-function SQL. */
  private val streamOverReplay = Q(
    "stream_over_replay",
    """SELECT user_id, event_id,
      |  CAST(count(*) OVER w AS INT) AS n_frame,
      |  CAST(sum(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE) AS over_sum
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |             ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
      |ORDER BY user_id, event_id""".stripMargin) { (s, d) =>
    graft.streaming.BoundedReplay.replayEvents(s, d)(
        ev => graft.streaming.StreamOps.overRows(ev))(
        ckpt => graft.streaming.StateFlush.overRows(s, ckpt))
      .orderBy("user_id", "event_id")
  }

  /** T1's documented Flink DIVERGENCE under a hash-verified contract —
    * PER-KEY lateness ([[graft.streaming.PerKeyWatermark]]) on the
    * real streaming runtime: Spark's watermark is a per-query global
    * minimum (one slow key drags everyone; a fast key's progress can
    * get a slow key's still-fresh events dropped), Flink judges
    * lateness against the key's own progress. The replay arrives
    * OUT OF ORDER via a deterministic jitter
    * ([[graft.streaming.BoundedReplay.replayEventsJittered]] — the
    * in-order replay can never mark anything late), and an event
    * survives iff it lags ITS KEY's high-water mark by ≤ 2 days,
    * other keys never interfering. The oracle reproduces the chunk
    * assignment arithmetic exactly (pure row function + IEEE-exact
    * double division) and the keep rule as a per-key
    * strictly-earlier-chunk running max — in-chunk disorder can't
    * late an event (the processor sorts each batch by (ts, event_id)),
    * so only the cross-chunk max decides, which is what the window
    * states. */
  private val streamPerkeyWmReplay = Q(
    "stream_perkey_wm_replay",
    """WITH e AS (
      |  SELECT user_id, event_id, value,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
      |    epoch_us(CAST(ts AS TIMESTAMP)) + (event_id % 7) * 86400000000 AS arr
      |  FROM events),
      |b AS (SELECT min(arr) AS lo, max(arr) - min(arr) + 1 AS span FROM e),
      |c AS (SELECT e.*, least(4, CAST(floor((arr - lo) * 5 / span) AS INT)) AS ck
      |      FROM e, b),
      |m AS (SELECT *, max(ts_us) OVER (PARTITION BY user_id ORDER BY ck
      |        RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
      |      FROM c)
      |SELECT user_id, ts_us, event_id, value FROM m
      |WHERE prev_max IS NULL OR ts_us >= prev_max - 172800000000
      |ORDER BY user_id, event_id""".stripMargin) { (s, d) =>
    graft.streaming.BoundedReplay.replayEventsJittered(s, d,
        jitterUs = 86400000000L, stateStore = "rocksdb")(ev =>
        graft.streaming.PerKeyWatermark(ev, delayUs = 172800000000L))(
        _ => { import s.implicits._; s.emptyDataset[graft.streaming.FillEvent] })
      .orderBy("user_id", "event_id")
  }

  val all: Seq[Q] = Seq(tumbling, tumblingOffset, sliding, session, dedupFirst, forwardFill,
    cepSequence, cepFunnel, cepPattern, cepAlternation, cepGroupTimes,
    cepGroupRange, cepGroupRangeReluctant, cepGroupRangeGreedy,
    cepGroupRangeReluctantPre, cepGroupKleene, cepGroupMixed,
    cepGroupAlt, cepTimesRangeReluctant, cepTimesRangeGreedy,
    cepTimesRangeChain,
    streamGroupTimesReplay, streamGroupMixedReplay, streamGroupKleeneReplay,
    streamGroupRangeReplay, streamGroupRangeReluctantReplay,
    streamGroupRangeGreedyReplay, streamGroupRangePreReplay,
    cepAbsence,
    sessionDynamic, intervalJoin,
    enrichStatic, skewMonitor, streamCumulate, streamTemporalJoin, cepTimes,
    cepTimesRange,
    streamWindowTopn, intervalJoinFull,
    streamCumulateAppend, streamTopnReplay, streamFfillReplay,
    streamCountwinReplay, cepKleene,
    cepKleeneUntil, cepKleeneRelaxed, cepMrRelaxed, cepMeasuresRelaxed,
    streamKleeneRelaxedReplay,
    streamMeasuresRelaxedReplay,
    streamKleeneReplay, streamOverReplay, cepMeasures,
    streamMeasuresReplay, streamSessioncapReplay, streamGapfillReplay,
    cepSkipToNext, cepSkipPastLast, streamSkiplastReplay,
    streamSkipnextReplay, streamPerkeyWmReplay)
}
