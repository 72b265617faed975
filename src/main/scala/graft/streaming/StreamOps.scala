package graft.streaming

import graft.{Det, Tables}
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.plans.logical.EventTimeWatermark
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

/** Typed rows for the stateful forward-fill processor. */
case class FillEvent(user_id: Long, ts_us: Long, event_id: Long, value: Double)
case class FillState(curHourUs: Long, curTsUs: Long, curEventId: Long, curValue: Double)
case class FillRow(user_id: Long, h_us: Long, v_fill: Double)
/** [[StreamOps.countWindows]] rows: the running bucket accumulates
  * exact decimal micro-units (the [[graft.Det]] DECIMAL(18,6) grid as
  * a long), so streamed sums equal the batch twin's `Det.dsum` BIT
  * FOR BIT and the replay key sits under its oracle. */
case class CountWinEvent(user_id: Long, ts_us: Long, event_id: Long, v6: Long)
case class CountWinState(bucket: Int, cnt: Int, sum6: Long)
case class CountWinRow(user_id: Long, bucket: Int, n: Int, sum_value: Double)
case class WinTopState(counts: Map[Long, Long])
case class WinTopRow(ws_us: Long, user_id: Long, n: Long, rnk: Int)
case class BucketState(docs: List[(Long, Seq[Long])])
case class CandPair(ai: Long, bi: Long, est_jac: Double, band: Int)
/** [[StreamOps.jaccardCompleteStream]] rows: one posting per
  * (prefix-hash key, document) — the document's canonical-order hash
  * array travels with the posting so in-state verification needs no
  * second lookup. `p` is the document's prefix length (its first `p`
  * ranked hashes are the indexed prefix). */
case class PrefixRow(h: Long, doc_id: Long, ranked: Seq[Long], p: Int,
    tsUs: Long, tsw: java.sql.Timestamp)
case class PrefixPosting(id: Long, tsUs: Long, ranked: Seq[Long], p: Int)
case class PrefixIndexState(docs: List[PrefixPosting])
case class CompletePair(ai: Long, bi: Long, jac: Double)
/** [[StreamOps.containmentCandidatesStream]] rows: one row per
  * (hash, document) — the FULL inverted index entry, flagged when the
  * hash sits inside the document's containment prefix. Postings are
  * id+size only (no arrays — the verify half is downstream). */
case class ContPrefixRow(h: Long, doc_id: Long, m: Int, isPrefix: Boolean,
    tsUs: Long, tsw: java.sql.Timestamp)
case class ContPosting(id: Long, m: Int, tsUs: Long, isPrefix: Boolean)
case class ContIndexState(docs: List[ContPosting])
case class ContCand(ai: Long, bi: Long)
/** Packed flag-emission rows for the candidate streams: ONE row per
  * touched state key per micro-batch carrying the key's flagged pairs
  * as parallel primitive arrays, exploded back to [[ContCand]] rows by
  * a codegen'd projection AFTER the state boundary — candidate mass
  * crosses the object-encoder boundary ~50× fewer times (sf0.1
  * measures 1.27 M pairs over 27 k touched keys). */
case class ContCandPack(as: Array[Long], bs: Array[Long])
/** [[StreamOps.jaccardCappedStream]] rows: one row per (COLD hash,
  * document) — the df-capped inverted index entry. Postings are
  * id-only (the verify half is downstream, like the containment
  * split). */
case class ColdRow(h: Long, doc_id: Long, tsUs: Long,
    tsw: java.sql.Timestamp)
case class ColdPosting(id: Long, tsUs: Long)
case class ColdIndexState(docs: List[ColdPosting])
/** CUMULATE append-mode state: per-step exact partials (value ×10⁶ as
  * long — the [[graft.Det]] DECIMAL(18,6) grid) + high-water mark of
  * already-emitted sub-window ends. */
case class CumState(steps: Map[Long, (Long, Long)], emittedUpTo: Long)
case class CumRow(ws_us: Long, we_us: Long, n: Long, sum_value: Double)
/** Kleene-pattern automaton rows, shared by the three contiguous twins
  * ([[StreamOps.cepKleeneStream]], [[StreamOps.cepKleeneMeasuresStream]],
  * [[StreamOps.cepKleeneUntilStream]]) and the two relaxed ones: `v6` is
  * the event's value as exact decimal(18,6) micro-units (0 where no
  * measure is taken) and `tsw` the raw timestamp (the event-time-timeout
  * checker needs the watermarked column in the fMGWS child). In the
  * state, `prev` is the class of the key's last relevant event;
  * `aId/aTsUs` are valid when prev == "A"; the run fields hold the
  * in-progress anchored B+ run, and `acc` its accumulator (the last B's
  * time, or the measures twin's micro-unit sum). O(1) per key. */
case class KleeneEvent(k: Long, ts_us: Long, event_id: Long, cls: String,
    v6: Long, tsw: java.sql.Timestamp)
case class KleeneState(prev: String, aId: Long, aTsUs: Long,
    runActive: Boolean, runAId: Long, runATsUs: Long,
    firstB: Long, lastB: Long, nB: Long, acc: Long)
case class KleeneMatch(user_id: Long, a_id: Long, n_b: Long,
    first_b_id: Long, last_b_id: Long, c_id: Long, span_us: Long)
case class KleeneMeasuresMatch(user_id: Long, a_id: Long, c_id: Long,
    span_us: Long, n_clicks: Long, sum_value: Double, avg_value: Double,
    first_click: Long, last_click: Long)
/** [[StreamOps.gapFillHourlyStream]] rows: per-key grid cursor
  * (`nextHourUs` — every hour below it is already emitted) plus the
  * open hours' accumulators (`pending`: hour → (n, decimal-micro
  * sum)). State is bounded by the watermark horizon in hours. */
case class GapFillState(nextHourUs: Long, pending: Map[Long, (Long, Long)])
case class GapRow(ws_us: Long, event_type: String, n: Long, sum_value: Double)
/** [[StreamOps.sessionIdsCappedStream]] rows: per-key chain state
  * (current session id, its start, the previous event time) — O(1)
  * per key; every event's label is prefix-determined, so emission is
  * immediate and no flush is needed. */
case class SessCapEvent(k: Long, ts_us: Long, event_id: Long)
case class SessCapState(sid: Int, start: Long, prev: Long)
case class SessCapRow(user_id: Long, event_id: Long, session_id: Int)
/** [[StreamOps.cepKleeneRelaxedStream]] state: the key's active
  * anchors. Each anchor records its first ≤ maxPrefix loop-B ids and
  * how many prefixes have already met their first C (`closedUpTo`) —
  * O(maxPrefix) per anchor, anchors bounded by A-events inside the
  * `within` horizon (an anchor dies the moment any later event sits
  * past its deadline, and — via the event-time timer — when the
  * watermark passes its deadline on a key that has gone quiet, so
  * idle keys hold no state past their last anchor's horizon).
  * `bSum6s` are cumulative micro-unit prefix sums parallel to `bIds`
  * (`bSum6s(L−1)` IS prefix L's exact decimal(18,6) sum ×10⁶; all zero
  * for the twin that takes no measure). */
case class RelaxedAnchor(aId: Long, aTsUs: Long, bIds: Seq[Long],
    bSum6s: Seq[Long], closedUpTo: Int)
case class RelaxedState(anchors: List[RelaxedAnchor])
/** [[StreamOps.cepGroupTimesStream]] rows — the MULTIPLEXED group-
  * quantifier automaton: `mask` carries which group members an event
  * satisfies (bit j = member j's predicate), each [[GTPartial]] is one
  * in-progress path through the unrolled `n·|group|` slot chain (next
  * expected slot = `ids.length`), and ONE state row per key holds all
  * of them — where the join-form replay paid two state stores per
  * unrolled slot per micro-batch, this pays a single keyed store
  * however long the pattern is. A partial is dropped the moment any
  * in-order event (or the watermark, via the event-time timer) passes
  * its `lastTs + within` extension deadline — past it every later
  * event is also past it, so the drop is exact, and an unfinished
  * partial is unmatched in the batch form too (no flush gap). */
case class GTEvent(k: Long, ts_us: Long, event_id: Long, mask: Int,
    tsw: java.sql.Timestamp)
/** Packed state row: the key's live partials as parallel PRIMITIVE
  * arrays (`lens(i)` ids of partial i live at their offset in
  * `idsFlat`) — the [[ContCandPack]] trick applied to STATE: a nested
  * `List[case class(Seq[Long])]` state row pays the object-encoder
  * per touched key per micro-batch; primitive arrays serialize flat
  * (measured 2.5-4x on the sf0.1 replay probe). `phase` is read only
  * by the closed-range automaton ([[GRState]]). */
case class GTState(idsFlat: Array[Long], lens: Array[Int],
    firstTs: Array[Long], lastTs: Array[Long], phase: Array[Int])
case class GTMatch(user_id: Long, ids: Seq[Long], total_us: Long)
/** [[StreamOps.cepGroupKleeneStream]] rows — the group-Kleene boundary
  * emission: FIRST/LAST/COUNT per completed repetition (the MEASURES a
  * variable-length group supports), matching the batch
  * [[CepOps.cepGroupKleene]] column shape. */
case class GKMatch(user_id: Long, first_id: Long, last_id: Long,
    reps: Int, total_us: Long)
/** [[StreamOps.cepGroupRangeReluctantStream]] state — the closed-range
  * automaton's `live` partials PLUS the per-anchor PENDING COMPLETIONS
  * (`done`) the reluctant/greedy pick buffers until the anchor resolves
  * (= its last live partial dies; until then a shorter/longer count
  * could still complete), both packed as [[GTState]]. A live
  * `phase(i)` = −1 while partial i walks the repeated group slots
  * (next slot = len mod g), else `(reps << 8) | postIdx` while it walks
  * the post chain at its forked repetition count. A completion holds
  * its group ids then post ids, its first and last event time, and its
  * repetition count as `phase`. */
case class GRState(live: GTState, done: GTState)
/** One resolved closed-range match: `gids` = the bound group events
  * (length g·reps — the final projection null-pads to the m-shape),
  * `pids` = the post-chain events. */
case class GRMatch(user_id: Long, gids: Seq[Long], pids: Seq[Long],
    reps: Int, total_us: Long)
/** [[StreamOps.cepKleeneRelaxedMeasuresStream]] output. */
case class RelaxedMMatch(user_id: Long, a_id: Long, n_b: Long,
    first_b_id: Long, last_b_id: Long, c_id: Long, sum_b: Double,
    avg_b: Double, span_us: Long)
/** [[StreamOps.cepKleeneUntilStream]] output — no terminator id: the
  * until-event stops the loop but is outside the match. */
case class KleeneUntilMatch(user_id: Long, a_id: Long, n_b: Long,
    first_b_id: Long, last_b_id: Long, span_us: Long)
/** [[StreamOps.cepSkipPastLastStream]] automaton state: `pos` is the
  * last completed match's B time (partials must start strictly after),
  * `open` the (ts_us, id) queue of live A-partials, earliest first,
  * bounded by the Δt horizon. */
case class SkipLastState(pos: Long, open: Seq[(Long, Long)])
case class SkipLastMatch(user_id: Long, a_id: Long, b_id: Long)
/** [[StreamOps.cepSkipToNextStream]] state: unresolved starts and the
  * B buffer above the watermark, both (ts_us, id), earliest first. */
case class SkipNextState(openA: Seq[(Long, Long)], bufB: Seq[(Long, Long)])
case class SkipNextMatch(user_id: Long, a_id: Long, b_id: Long, gap_us: Long)
/** Streaming OVER-aggregation rows ([[StreamOps.overRows]]): a buffered
  * event (`c4` = value on the [[graft.Det]] DECIMAL(18,4) grid, ×10⁴ as
  * long — exact integer arithmetic end to end) and the per-key state:
  * `ctx` is the last ≤ N emitted frame values (oldest first), `pending`
  * the rows still above the watermark, un-emitted. */
case class OverPend(ts_us: Long, event_id: Long, c4: Long)
case class OverState(ctx: Seq[Long], pending: Seq[OverPend])
case class OverRow(user_id: Long, event_id: Long, n_frame: Int, over_sum: Double)

/** Driver-side global top-k state for [[StreamOps.topNContinuous]]:
  * (value DESC, id ASC) ordering, thread-safe (foreachBatch invocations
  * are sequential, reads may be concurrent). */
final class TopNTracker(k: Int) extends Serializable {
  private val acc = new java.util.concurrent.ConcurrentSkipListSet[(Double, Long)](
    java.util.Comparator.comparingDouble[(Double, Long)](_._1.unary_-)
      .thenComparingLong(_._2))

  def offer(rows: Iterable[(Double, Long)]): Unit = {
    rows.foreach(acc.add)
    while (acc.size() > k) acc.remove(acc.last())
  }

  /** Current global top-k, best first. */
  def current: Seq[(Double, Long)] = {
    import scala.jdk.CollectionConverters._
    acc.asScala.toSeq
  }
}

/** Structured Streaming implementations of the reference's streaming
  * patterns (SURVEY.md §2.9 T1-T8). Each op's complete-replay output
  * equals its batch twin in [[graft.queries.StreamingQueries]] — that
  * equality is asserted by `StreamingEquivalenceSpec`, and the batch twin
  * carries the DuckDB-checked t2 key.
  *
  * Every op takes the (possibly streaming) events DataFrame produced by
  * [[source]] — `ts` already TimestampType µs — and stays declarative, so
  * the same code compiles to an `IncrementalExecution` plan with
  * `StateStoreSaveExec`/`SessionWindowStateStoreSaveExec` under
  * streaming and a plain batch plan otherwise.
  *
  * Divergences from Flink, by design (SURVEY §7 "what is hard"):
  *  - watermark is a per-query global min, not per-key;
  *  - late data below watermark is silently dropped (no side outputs) —
  *    capture via foreachBatch if needed;
  *  - [[forwardFill]] emits an hour bucket when the next bucket opens;
  *    a tail bucket with no successor flushes only at event-time timeout,
  *    so a finite replay omits each key's final partial hour (the batch
  *    twin includes it) — [[StateFlush]] drains exactly those pending
  *    buckets from the stopped query's checkpoint, as it does for every
  *    timer-gated operator's open windows (windowTopN, cumulateAppend);
  *  - Flink `DataStream#iterate` (cyclic dataflow) has no Structured
  *    Streaming equivalent — iterative refinement is expressed as a
  *    driver-side loop over batch jobs, or a self-union re-ingest via
  *    an external queue, by design in Spark's acyclic model.
  *
  * @note scale: windowed aggs and dedup keep watermark-bounded state per
  *   key in the state store (RocksDB provider on a real cluster);
  *   forward-fill state is O(1) per user. All ops shuffle once on their
  *   grouping key.
  */
object StreamOps {

  private val HourUs = 3600L * 1000000L

  /** Bounded-replay streaming source over the driver's events.parquet
    * (SURVEY §2.1 S2). Glob-filtered so only the events file is read.
    * The fixture's `ts` encoding varies across driver regenerations
    * (ns vs native µs) — probe the footer via [[Tables.nativeEventsSchema]]
    * and pick the matching read schema, exactly as the batch reader does. */
  def source(spark: SparkSession, sfDir: String, maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val path = s"$sfDir/events.parquet"
    val (schema, fixTs) = Tables.nativeEventsSchema(spark, path) match {
      case Some(nat) =>
        (nat, (df: DataFrame) => df.withColumn("ts", col("ts").cast("timestamp")))
      case None =>
        (Tables.eventsRawSchema,
          (df: DataFrame) => df.withColumn("ts", timestamp_micros(expr("ts div 1000"))))
    }
    val r = spark.readStream.schema(schema).option("pathGlobFilter", "events.parquet")
    val r2 = maxFilesPerTrigger.fold(r)(n => r.option("maxFilesPerTrigger", n))
    fixTs(r2.parquet(sfDir))
  }

  /** Deterministic hash-sample of a stream (same membership function as
    * the batch [[graft.operators.SampleOps.hashSample]]): a pure narrow
    * filter on the row id, so it needs no state store, no watermark, and
    * commutes with replay — sampling then streaming equals streaming
    * then sampling, which is what makes a sampled stream reproducible
    * and joinable with its batch-sampled twin.
    *
    * @param idCol integral id column deciding membership */
  def hashSample(ev: DataFrame, rate: Double,
      idCol: String = "event_id", salt: Long = 0L): DataFrame =
    graft.operators.SampleOps.hashSample(ev, rate, idCol, salt)

  /** J5 streaming side: stream-static broadcast enrichment — the Flink
    * broadcast-state pattern as a stream⋈static inner join on `keys`.
    * Stateless and append-safe (no watermark needed: the static side is
    * re-read/re-broadcast per micro-batch, which is also how dimension
    * updates between batches become visible). The same call works on a
    * batch frame, which is what carries the DuckDB oracle key.
    *
    * @note scale: the dim side must stay broadcast-sized (the hint makes
    *   the planner refuse rather than silently shuffle the stream); for
    *   bigger dims pre-bucket both sides on the key instead. */
  def enrichStatic(ev: DataFrame, dim: DataFrame,
      keys: Seq[String]): DataFrame =
    ev.join(broadcast(dim), keys, "inner")

  /** T2: 1-hour tumbling event-time window per event_type. */
  def tumblingHour(ev: DataFrame): DataFrame =
    ev.withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), Det.dsum(col("value")).as("sum_value"))
      .select(col("w.start").cast("string").as("ws"), col("event_type"),
        col("n"), col("sum_value"))

  /** T3: 1-hour windows sliding every 15 minutes. */
  def slidingQuarter(ev: DataFrame): DataFrame =
    ev.withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"))
      .agg(count(lit(1)).as("n"), Det.dsum(col("value")).as("sum_value"))
      .select(col("w.start").cast("string").as("ws"), col("n"), col("sum_value"))

  /** T4: 30-minute-gap session windows per user. */
  def sessionByUser(ev: DataFrame): DataFrame =
    ev.withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n"), Det.dsum(col("value")).as("sum_value"))
      .select(col("user_id"), unix_micros(col("w.start")).as("ss_us"),
        col("n"), col("sum_value"))

  /** T4 dynamic gap (Flink `SessionWindowTimeGapExtractor`): purchases
    * hold the session open 60 minutes, everything else 30 — the gap is
    * a per-event expression, evaluated inside the same session-window
    * state machinery. */
  def sessionByUserDynamic(ev: DataFrame): DataFrame =
    ev.withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"),
          when(col("event_type") === "purchase", lit("60 minutes"))
            .otherwise(lit("30 minutes"))).as("w"),
        col("user_id"))
      .agg(count(lit(1)).as("n"), Det.dsum(col("value")).as("sum_value"))
      .select(col("user_id"), unix_micros(col("w.start")).as("ss_us"),
        col("n"), col("sum_value"))

  /** T6: streaming dedup — first event per user.
    *
    * `dropDuplicatesWithinWatermark` so per-key state is EVICTED once
    * the watermark passes (bare `dropDuplicates` on a non-time key
    * retains state for every user forever — unbounded on a real
    * stream). Semantics caveat, shared with Flink's streaming dedup:
    * "first" is arrival order within the watermark window, which equals
    * the batch twin's (ts, event_id) order only when the replay feeds
    * event-time order; the batch twin (`stream_dedup_first`) is the
    * deterministic form and carries the oracle. */
  def dedupFirst(ev: DataFrame): DataFrame =
    ev.withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("user_id")
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"), col("value"))

  /** T9: interval stream-stream join (Flink `intervalJoin`): each click
    * paired with the same user's views in the 30 minutes up to the
    * click. Both sides carry watermarks and the join condition bounds
    * `v_ts` relative to `c_ts`, so Spark derives a state eviction
    * horizon for BOTH join buffers — without the band the state would
    * grow forever. Batch twin/oracle: `stream_interval_join`.
    *
    * @note scale: state per user is (events in 30 min + watermark
    *   delay) on each side; the shuffle is on `user_id` only, the time
    *   band is evaluated inside the joined state store. */
  def intervalJoin(ev: DataFrame): DataFrame = {
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("c_ts"),
        col("event_id").as("click_id"))
      .withWatermark("c_ts", "1 hour")
    val v = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("v_uid"), col("ts").as("v_ts"),
        col("event_id").as("view_id"))
      .withWatermark("v_ts", "1 hour")
    c.join(v, col("user_id") === col("v_uid") &&
        col("v_ts") >= col("c_ts") - expr("INTERVAL 30 MINUTES") &&
        col("v_ts") <= col("c_ts"))
      .select(col("user_id"), col("click_id"), col("view_id"))
  }

  /** T9 outer face: LEFT-OUTER interval join — clicks with no view in
    * the band emit a null-extended row once the watermark proves no
    * match can still arrive. The null side is therefore
    * WATERMARK-GATED: rows near the end of a bounded replay never get
    * their nulls (the watermark stops at max event − delay), which is
    * correct streaming semantics, not data loss — the equivalence spec
    * asserts exact agreement with the batch left join below the
    * watermark horizon and match-only agreement above it. */
  def intervalJoinOuter(ev: DataFrame): DataFrame = {
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("c_ts"),
        col("event_id").as("click_id"))
      .withWatermark("c_ts", "1 hour")
    val v = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("v_uid"), col("ts").as("v_ts"),
        col("event_id").as("view_id"))
      .withWatermark("v_ts", "1 hour")
    c.join(v, col("user_id") === col("v_uid") &&
        col("v_ts") >= col("c_ts") - expr("INTERVAL 30 MINUTES") &&
        col("v_ts") <= col("c_ts"),
        "left_outer")
      .select(col("user_id"), col("click_id"), col("view_id"),
        unix_micros(col("c_ts")).as("c_ts_us"))
  }

  /** Streaming MinHash-LSH near-duplicate CANDIDATE detection — the
    * streaming face of [[graft.operators.DedupOps.minhashNearDups]]'s
    * band stage: as documents arrive, each is checked against every
    * prior document sharing any of its 16 LSH band signatures, and a
    * candidate pair (with the signature-estimated Jaccard) is emitted
    * the moment the collision happens. Exact verification stays a
    * downstream batch/foreachBatch step (it needs both full shingle
    * sets) — the production split: the stream flags, the verifier
    * confirms.
    *
    * The whole signature is computed PER ROW (64 permuted mins over the
    * distinct-shingle hash array via higher-order functions — no
    * aggregation), so the only stateful step is the per-bucket
    * membership map: fMGWS keyed by (band, bsig), state = up to
    * `maxBucket` (doc_id, signature) entries. A pair colliding in k
    * bands emits k times (one per bucket, like Flink's per-partition
    * side outputs) — consumers dedup on (ai, bi), which the exact
    * verify does for free.
    *
    * Signature/band construction is bit-identical to the batch
    * operator (same 57-bit poly hash mod M, same (2i+1)x + c_i perms,
    * same 16×4 bands), so after a complete replay the distinct
    * candidate set EQUALS the batch band-join's — `StreamDedupSpec`
    * pins that, plus verified-pair ⊆ candidate coverage.
    *
    * State lifetime: pass `tsCol` (the document's ingest/event time) to
    * bound bucket state — the stream is watermarked on it (`delay` =
    * out-of-order tolerance) and each bucket carries an event-time
    * timer at `ttl` past its latest arrival; when the watermark passes
    * that, the bucket's membership state is EVICTED. A later document
    * hashing into the same bucket starts it fresh, so pairs spanning
    * more than `ttl` of quiet time are not flagged — the corpus-epoch
    * retention a continuous 100 TB ingest needs (state is then bounded
    * by buckets touched per `ttl`, not corpus lifetime). With `tsCol`
    * left None (the batch face, or bounded replays) no watermark is
    * attached and buckets live for the query's lifetime.
    *
    * @note scale: state per bucket is ≤ maxBucket × 64 longs; a hot
    *   bucket (boilerplate band value) saturates at the cap exactly
    *   like the batch hot-shingle df cap — the cap bounds state AND
    *   emission quadratic-ness; shuffle is one exchange on (band,
    *   bsig). Bucket COUNT is unbounded only in the tsCol=None form —
    *   production continuous ingest should always pass tsCol. */
  def nearDupCandidates(docs: DataFrame, n: Int = 3,
      maxBucket: Int = 64, tsCol: Option[String] = None,
      ttl: String = "1 hour", delay: String = "10 minutes"): Dataset[CandPair] = {
    val sp = docs.sparkSession
    import sp.implicits._
    val M = 2147483647L
    val ttlMs = {
      val iv = org.apache.spark.sql.catalyst.util.IntervalUtils.stringToInterval(
        org.apache.spark.unsafe.types.UTF8String.fromString(ttl))
      require(iv.months == 0, s"ttl must be a fixed duration, got '$ttl'")
      iv.days * 86400000L + iv.microseconds / 1000L
    }
    val base = tsCol.fold(docs.withColumn("__ts", lit(null).cast("timestamp")))(
      c => docs.withWatermark(c, delay).withColumn("__ts", col(c)))
    val withSig = base
      .select(col("doc_id"), split(col("text"), " ").as("t"), col("__ts"))
      .filter(size(col("t")) >= n)
      .withColumn("shx", transform(
        array_distinct(expr(
          s"transform(sequence(0, size(t)-$n), i -> concat_ws(' ', slice(t, i+1, $n)))")),
        s => pmod(graft.functions.Hashes.polyHash(s), lit(M))))
      .withColumn("sig", transform(sequence(lit(0), lit(63)), i =>
        array_min(transform(col("shx"),
          x => pmod((lit(2L) * i + lit(1L)) * x + (lit(1000003L) * i + lit(12345L)), lit(M))))))
      .select(col("doc_id"), col("sig"), col("__ts"),
        explode(sequence(lit(0), lit(15))).as("band"))
      .withColumn("bsig", expr(
        "concat_ws(',', transform(slice(sig, band*4 + 1, 4), v -> CAST(v AS STRING)))"))
      // the watermark-tagged column must survive into the fMGWS child
      // for the event-time-timeout checker (same constraint as
      // windowTopN); with tsCol=None it is a null literal
      .select(col("band"), col("bsig"), col("doc_id"), col("sig"), col("__ts"))
      .as[(Int, String, Long, Seq[Long], java.sql.Timestamp)]
    val timeoutConf =
      if (tsCol.isDefined) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout
    withSig
      .groupByKey(r => (r._1, r._2))
      .flatMapGroupsWithState[BucketState, CandPair](
        OutputMode.Append, timeoutConf) { (key, it, state) =>
        if (state.hasTimedOut) {
          // ttl past the bucket's last arrival: evict the membership
          state.remove()
          Iterator.empty
        } else {
          var docs = state.getOption.map(_.docs).getOrElse(Nil)
          val out = scala.collection.mutable.ArrayBuffer.empty[CandPair]
          var maxTsMs = Long.MinValue
          // deterministic intra-batch order: a bucket's arrivals pair in
          // doc_id order regardless of task scheduling
          it.toSeq.sortBy(_._3).foreach { case (band, _, id, sig, ts) =>
            if (ts != null) maxTsMs = math.max(maxTsMs, ts.getTime)
            if (!docs.exists(_._1 == id)) {
              docs.foreach { case (pid, psig) =>
                val eq = psig.iterator.zip(sig.iterator).count { case (a, b) => a == b }
                out += CandPair(math.min(pid, id), math.max(pid, id),
                  eq.toDouble / 64.0, band)
              }
              if (docs.size < maxBucket) docs = (id, sig) :: docs
            }
          }
          state.update(BucketState(docs))
          if (tsCol.isDefined && maxTsMs != Long.MinValue)
            state.setTimeoutTimestamp(math.max(maxTsMs + ttlMs,
              state.getCurrentWatermarkMs() + 1L))
          out.iterator
        }
      }
  }

  /** Streaming COMPLETE Jaccard-threshold dedup — the TTL'd keyed-state
    * twin of [[graft.operators.DedupOps.jaccardPairsComplete]]: as
    * documents arrive, each probes (then joins) a prefix-filtered
    * inverted index held as keyed state, and every pair with
    * `round(jac, 6) ≥ tNum/tDen` whose two documents arrived within
    * `ttl` of each other is emitted EXACTLY ONCE, verified exactly,
    * the moment its second document arrives. No LSH probability — this
    * is the deterministic-completeness contract, incremental.
    *
    * Index shape (AllPairs/PPJoin prefix filtering, both sides on
    * prefixes): order the shingle-hash universe canonically — by
    * `(snapshot df ASC, hash ASC)` when a `dfStats` snapshot is given
    * (the batch form's rarity order: production refreshes it from the
    * doc store each epoch, like [[nearDupVerified]]'s corpus
    * re-resolve), else by hash alone — and give each document of `m`
    * distinct shingles the prefix of its first `m − ⌈t·m⌉ + 2`
    * canonical hashes. `jac ≥ t` (even after `round(·,6)`) forces the
    * intersection `c ≥ ⌈t·m⌉ − 1` ON EACH side's own size (since
    * `jac ≥ t ⟹ min ≥ t·max`), and two documents whose prefixes were
    * disjoint would put every common hash past one side's prefix —
    * at most `⌈t·m⌉ − 2 < c` of them — so qualifying pairs ALWAYS
    * share a prefix hash: state keyed by prefix hashes alone is a
    * complete index (the order only steers candidate mass toward rare
    * shingles; completeness holds for ANY fixed total order, so a
    * stale snapshot can never cost a pair). Each posting carries the
    * document's full canonical hash array, so the exact-Jaccard verify
    * runs in-state with no second join; a pair sharing several prefix
    * hashes is emitted only at the canonically FIRST shared one.
    *
    * State lifetime mirrors [[nearDupCandidates]]: postings older than
    * `ttl` relative to the arriving document are dropped at probe time
    * (deterministic — eviction depends only on the two event times, so
    * a document expires from every key consistently), and an
    * event-time timer `ttl` past a key's latest arrival clears idle
    * keys outright once the watermark passes it. With `tsCol = None`
    * (bounded replays, or the one-shot batch face) no watermark is
    * attached and postings live for the query's lifetime — a complete
    * replay then equals the batch operator exactly, which is what puts
    * this code path under `llm_dedup_ngram_complete`'s independent
    * brute-force oracle as `stream_dedup_complete_replay`.
    *
    * @note scale: state = Σ over in-TTL documents of
    *   `p_i · (m_i + p_i)` longs (each of the `p_i ≈ (1−t)·m_i + 2`
    *   prefix keys holds the `m_i`-long hash array) — the price of
    *   in-state verification; at t = 4/5 that is ~20% of the corpus
    *   shingle mass replicated ~20%·m times per doc, bounded by the
    *   TTL window, NOT corpus lifetime. Shuffle is one exchange on the
    *   prefix hash, Σ p_i·m_i longs per batch. Candidate work per pair
    *   is O(m) — the same verify cost as the batch join — and hot
    *   boilerplate shingles enter the index only for documents whose
    *   prefix reaches them (mostly-boilerplate docs: true-positive
    *   mass), the batch form's own argument. */
  def jaccardCompleteStream(docs: DataFrame, tNum: Int = 4, tDen: Int = 5,
      n: Int = 3, tsCol: Option[String] = None, ttl: String = "1 hour",
      delay: String = "10 minutes", dfStats: Option[DataFrame] = None,
      maxDfSnapshot: Long = 5000000L): Dataset[CompletePair] = {
    require(tNum > 0 && tDen > 0 && tNum <= tDen, "need 0 < t <= 1")
    val sp = docs.sparkSession
    import sp.implicits._
    val ttlUs = {
      val iv = org.apache.spark.sql.catalyst.util.IntervalUtils.stringToInterval(
        org.apache.spark.unsafe.types.UTF8String.fromString(ttl))
      require(iv.months == 0, s"ttl must be a fixed duration, got '$ttl'")
      iv.days * 86400000000L + iv.microseconds
    }
    // canonical order: (df snapshot, hash) — collected ONCE, broadcast;
    // the snapshot is vocabulary metadata (cap it loudly), not corpus data
    val rankOf: Long => (Long, Long) = dfStats match {
      case Some(st) =>
        val cnt = st.count()
        require(cnt <= maxDfSnapshot,
          s"df snapshot has $cnt shingles (> $maxDfSnapshot) — cap it to " +
            "the hot tail (completeness never depends on the order; rare " +
            "shingles default to df=1) or raise maxDfSnapshot deliberately")
        val m = st.select(col("h").cast("long"), col("gdf").cast("long"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
        val bc = sp.sparkContext.broadcast(m)
        h => (bc.value.getOrElse(h, 1L), h)
      case None => h => (1L, h)
    }
    val base = tsCol.fold(docs.withColumn("__ts", lit(null).cast("timestamp")))(
      c => docs.withColumn("__ts", col(c)))
    val exploded = base
      .select(col("doc_id"), split(col("text"), " ").as("t"), col("__ts"))
      .filter(size(col("t")) >= n)
      .withColumn("hs", transform(
        array_distinct(expr(
          s"transform(sequence(0, size(t)-$n), i -> concat_ws(' ', slice(t, i+1, $n)))")),
        s => graft.functions.Hashes.polyHash(s)))
      .select(col("doc_id"), col("hs"), col("__ts"))
      .as[(Long, Seq[Long], java.sql.Timestamp)]
      .flatMap { case (id, hs, ts) =>
        val ranked = hs.sortBy(rankOf)
        val m = ranked.size
        // o = ceil(t·m) − 1 (the −1 absorbs the round(·,6) boundary for
        // any doc under 2M shingles), prefix p = m − o + 1
        val o = (tNum.toLong * m + tDen - 1) / tDen - 1
        val p = math.max(1L, math.min(m.toLong, m - o + 1)).toInt
        val tsUs = if (ts == null) 0L else ts.getTime * 1000L
        ranked.take(p).map(h => PrefixRow(h, id, ranked, p, tsUs, ts))
      }
    // the watermark must tag a column of the fMGWS child — the typed
    // flatMap above rebuilds the row, so attach it to tsw HERE
    val rows = if (tsCol.isDefined) exploded.withWatermark("tsw", delay)
      else exploded
    val timeoutConf =
      if (tsCol.isDefined) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout
    val tMin = tNum.toDouble / tDen
    def r6(x: Double): Double = java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    rows.groupByKey(_.h)
      .flatMapGroupsWithState[PrefixIndexState, CompletePair](
        OutputMode.Append, timeoutConf) { (key, it, state) =>
        if (state.hasTimedOut) {
          // ttl past the key's last arrival: clear the idle postings
          state.remove()
          Iterator.empty
        } else {
          var posts = state.getOption.map(_.docs).getOrElse(Nil)
          val out = scala.collection.mutable.ArrayBuffer.empty[CompletePair]
          var maxTsMs = Long.MinValue
          it.toSeq.sortBy(r => (r.tsUs, r.doc_id)).foreach { r =>
            if (r.tsw != null) maxTsMs = math.max(maxTsMs, r.tsw.getTime)
            // deterministic per-posting expiry: age is a function of
            // the two event times only, so a document leaves EVERY
            // key's postings at the same arrival horizon
            if (tsCol.isDefined) posts = posts.filter(p => r.tsUs - p.tsUs <= ttlUs)
            if (!posts.exists(_.id == r.doc_id)) {
              val dPrefix = r.ranked.take(r.p)
              val dSet = r.ranked.toSet
              posts.foreach { pe =>
                val pPrefSet = pe.ranked.take(pe.p).toSet
                // canonically-first shared prefix hash — the ONE key
                // this pair emits at (both prefixes are canonically
                // sorted, so the first hit while walking the newer
                // doc's prefix is the intersection's minimum)
                val firstShared = dPrefix.find(pPrefSet.contains)
                if (firstShared.contains(key)) {
                  val pSet = pe.ranked.toSet
                  val c = dSet.count(pSet.contains)
                  if (c > 0) {
                    val jac = r6(c.toDouble / (dSet.size + pSet.size - c))
                    if (jac >= tMin)
                      out += CompletePair(math.min(pe.id, r.doc_id),
                        math.max(pe.id, r.doc_id), jac)
                  }
                }
              }
              posts = PrefixPosting(r.doc_id, r.tsUs, r.ranked, r.p) :: posts
            }
          }
          if (posts.isEmpty) state.remove()
          else {
            state.update(PrefixIndexState(posts))
            if (tsCol.isDefined && maxTsMs != Long.MinValue)
              state.setTimeoutTimestamp(math.max(maxTsMs + ttlUs / 1000L,
                state.getCurrentWatermarkMs() + 1L))
          }
          out.iterator
        }
      }
  }

  /** Streaming COMPLETE containment CANDIDATES — the incremental face
    * of [[graft.operators.DedupOps.containmentPairsComplete]], in the
    * flag→confirm split ([[nearDupCandidates]]' documented production
    * pattern: the stream flags, a downstream verify confirms): every
    * pair with `max(cont_a, cont_b) ≥ tNum/tDen` whose documents
    * arrive within `ttl` is flagged at least once; exact directional
    * containment is the verifier's job
    * ([[graft.operators.DedupOps.containmentForHashed]] against the
    * doc store the ingest is appending to anyway).
    *
    * Why candidates-only where [[jaccardCompleteStream]] verifies
    * in-state: containment's prefix bound holds ONLY on the pair's
    * SMALLER side (`c ≥ ⌈t·m_small⌉ − 1`; the larger side's
    * containment can be arbitrarily low), so the complete index is
    * prefix(smaller) ⋈ FULL(larger) — the batch form's own join. The
    * streaming index therefore keeps a full posting per (hash, doc),
    * and carrying every document's hash array on every full posting
    * (the in-state-verify price) would be O(m²) state per doc.
    * Id+size postings keep state at m·16 bytes per doc and push the
    * set intersection to the verify join, which costs ∝ flagged
    * pairs.
    *
    * A qualifying pair is flagged when its LATER document arrives: at
    * any shared hash where the smaller side's posting (or arriving
    * row) is prefix-flagged and its size is ≤ the other's. A pair may
    * flag at several keys — the verifier's `distinct()` absorbs it
    * (exactly [[nearDupCandidates]]' contract). TTL semantics are
    * [[jaccardCompleteStream]]'s: probe-time per-posting expiry
    * (deterministic in the two event times) + an event-time timer for
    * idle keys; `tsCol = None` = no eviction (the replay/batch face,
    * whose flagged ∪ verify equals the batch complete join —
    * `stream_containment_complete_replay`'s oracle gate).
    *
    * @note scale: state is the TTL-window's full inverted index at
    *   16 bytes/posting — Σ m_i over live documents, NOT corpus
    *   lifetime (this is what incremental containment costs; the
    *   batch form re-sorts the epoch instead). Shuffle per batch is
    *   one exchange of Σ m_i id+size rows; candidate mass is the
    *   batch prefix⋈full bound. */
  def containmentCandidatesStream(docs: DataFrame, tNum: Int = 4,
      tDen: Int = 5, n: Int = 3, tsCol: Option[String] = None,
      ttl: String = "1 hour", delay: String = "10 minutes"): Dataset[ContCand] = {
    require(tNum > 0 && tDen > 0 && tNum <= tDen, "need 0 < t <= 1")
    val sp = docs.sparkSession
    import sp.implicits._
    val ttlUs = {
      val iv = org.apache.spark.sql.catalyst.util.IntervalUtils.stringToInterval(
        org.apache.spark.unsafe.types.UTF8String.fromString(ttl))
      require(iv.months == 0, s"ttl must be a fixed duration, got '$ttl'")
      iv.days * 86400000000L + iv.microseconds
    }
    val base = tsCol.fold(docs.withColumn("__ts", lit(null).cast("timestamp")))(
      c => docs.withColumn("__ts", col(c)))
    val exploded = base
      .select(col("doc_id"), split(col("text"), " ").as("t"), col("__ts"))
      .filter(size(col("t")) >= n)
      .withColumn("hs", transform(
        array_distinct(expr(
          s"transform(sequence(0, size(t)-$n), i -> concat_ws(' ', slice(t, i+1, $n)))")),
        s => graft.functions.Hashes.polyHash(s)))
      .select(col("doc_id"), col("hs"), col("__ts"))
      .as[(Long, Seq[Long], java.sql.Timestamp)]
      .flatMap { case (id, hs, ts) =>
        val ranked = hs.sorted // hash order — candidates only, any fixed order
        val m = ranked.size
        val o = (tNum.toLong * m + tDen - 1) / tDen - 1
        val p = math.max(1L, math.min(m.toLong, m - o + 1)).toInt
        val tsUs = if (ts == null) 0L else ts.getTime * 1000L
        ranked.iterator.zipWithIndex.map { case (h, i) =>
          ContPrefixRow(h, id, m, i < p, tsUs, ts)
        }
      }
    val rows = if (tsCol.isDefined) exploded.withWatermark("tsw", delay)
      else exploded
    val timeoutConf =
      if (tsCol.isDefined) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout
    val packed = rows.groupByKey(_.h)
      .flatMapGroupsWithState[ContIndexState, ContCandPack](
        OutputMode.Append, timeoutConf) { (key, it, state) =>
        if (state.hasTimedOut) {
          state.remove()
          Iterator.empty
        } else {
          var posts = state.getOption.map(_.docs).getOrElse(Nil)
          val as = Array.newBuilder[Long]; val bs = Array.newBuilder[Long]
          var nOut = 0
          var maxTsMs = Long.MinValue
          it.toSeq.sortBy(r => (r.tsUs, r.doc_id)).foreach { r =>
            if (r.tsw != null) maxTsMs = math.max(maxTsMs, r.tsw.getTime)
            if (tsCol.isDefined) posts = posts.filter(p => r.tsUs - p.tsUs <= ttlUs)
            if (!posts.exists(_.id == r.doc_id)) {
              posts.foreach { pe =>
                // smaller side's prefix ∩ larger side's full set — the
                // batch complete join's own candidate condition
                if ((r.isPrefix && r.m <= pe.m) || (pe.isPrefix && pe.m <= r.m)) {
                  as += math.min(pe.id, r.doc_id)
                  bs += math.max(pe.id, r.doc_id)
                  nOut += 1
                }
              }
              posts = ContPosting(r.doc_id, r.m, r.tsUs, r.isPrefix) :: posts
            }
          }
          if (posts.isEmpty) state.remove()
          else {
            state.update(ContIndexState(posts))
            if (tsCol.isDefined && maxTsMs != Long.MinValue)
              state.setTimeoutTimestamp(math.max(maxTsMs + ttlUs / 1000L,
                state.getCurrentWatermarkMs() + 1L))
          }
          if (nOut == 0) Iterator.empty
          else Iterator.single(ContCandPack(as.result(), bs.result()))
        }
      }
    unpackCands(packed)
  }

  /** Explode [[ContCandPack]] rows back to per-pair [[ContCand]] rows
    * — a stateless codegen'd projection on the stream, AFTER the
    * object-encoder state boundary. */
  private def unpackCands(packed: Dataset[ContCandPack]): Dataset[ContCand] = {
    val sp = packed.sparkSession
    import sp.implicits._
    packed.toDF()
      .select(explode(arrays_zip(col("as"), col("bs"))).as("p"))
      .select(col("p.as").as("ai"), col("p.bs").as("bi"))
      .as[ContCand]
  }

  /** Streaming CAPPED-candidate Jaccard dedup for PERMISSIVE
    * thresholds — the TTL'd keyed-state twin of
    * [[graft.operators.DedupOps.jaccardPairs]]' df-cap contract, in
    * the flag→confirm split: every pair sharing at least one COLD
    * shingle (snapshot document frequency ≤ `maxShingleDf`) whose two
    * documents arrive within `ttl` of each other is flagged when the
    * later one arrives; exact Jaccard + the threshold are the
    * downstream verifier's job
    * ([[graft.operators.DedupOps.jaccardForHashed]] against the doc
    * store, so reported `jac` is true full-set n-gram Jaccard, hot
    * shingles included — the batch contract restated incrementally).
    *
    * Why this form exists next to [[jaccardCompleteStream]]: the
    * complete index's prefix fraction is `1 − 2t/(1+t)` — 11% of each
    * document's shingles at t = 4/5, but 33% at t = 1/2 and growing
    * toward 100% as t → 0, with candidate mass growing faster (the
    * 10× stress probe measured 29.6 M candidates at t = 1/2 where
    * t = 4/5 stayed output-bounded). The EXPLORATORY regime therefore
    * runs the batch df-cap contract instead: index every shingle
    * that is NOT boilerplate, and accept that a pair sharing only
    * hot shingles is missed (it shares only boilerplate — the
    * documented trade). Only the HOT set is broadcast (the
    * boilerplate tail — vocabulary metadata, orders of magnitude
    * smaller than the vocabulary itself), refreshed per epoch from
    * the doc store like [[jaccardCompleteStream]]'s rarity snapshot;
    * an unseen shingle is cold by default (new = rare).
    *
    * TTL semantics are [[jaccardCompleteStream]]'s: probe-time
    * per-posting expiry deterministic in the two event times + an
    * event-time timer for idle keys; `tsCol = None` = no eviction
    * (the replay/batch face). A complete replay's flagged ∪ verify
    * then equals the batch capped key exactly —
    * `stream_dedup_capped_replay` runs under `llm_dedup_ngram`'s own
    * oracle.
    *
    * @note scale: state is the TTL-window's COLD inverted index at
    *   16 bytes/posting with per-key fan-out bounded by
    *   `maxShingleDf` (the same Σ min(df,cap)² candidate bound as the
    *   batch join, incremental); shuffle per batch is one exchange of
    *   Σ m_i id rows. The hot-set broadcast is |{h : df > cap}|
    *   longs — the skew killer stays out of the index entirely.
    *   Measured at the 10× closed-vocab stress corpus (the regime's
    *   worst case): the full 5-batch replay + verify lands at ~2.5×
    *   the batch join's wall clock for the identical 250k-pair output
    *   — the emission volume IS the batch candidate mass. Flagged
    *   pairs cross the state boundary PACKED ([[ContCandPack]]: one
    *   parallel-array row per touched key per batch, ~50× fewer
    *   object-encoder crossings at sf0.1's 1.27 M-pair epoch mass,
    *   measured ~12% off the whole replay key) and explode back to
    *   rows in codegen'd projection. That epoch-replay cost is the
    *   price of replaying the whole corpus; the production fit is the
    *   incremental regime, where each batch pays only its own
    *   delta × in-TTL-index candidate mass. */
  def jaccardCappedStream(docs: DataFrame, dfStats: DataFrame,
      maxShingleDf: Long = 1000L, n: Int = 3,
      tsCol: Option[String] = None, ttl: String = "1 hour",
      delay: String = "10 minutes",
      maxHotSnapshot: Long = 50000000L): Dataset[ContCand] = {
    require(maxShingleDf > 0, "need maxShingleDf > 0")
    val sp = docs.sparkSession
    import sp.implicits._
    val ttlUs = {
      val iv = org.apache.spark.sql.catalyst.util.IntervalUtils.stringToInterval(
        org.apache.spark.unsafe.types.UTF8String.fromString(ttl))
      require(iv.months == 0, s"ttl must be a fixed duration, got '$ttl'")
      iv.days * 86400000000L + iv.microseconds
    }
    // hot set only: the boilerplate tail is broadcastable metadata at
    // any corpus scale; cap it loudly all the same
    val hotRows = dfStats.filter(col("gdf") > maxShingleDf)
      .select(col("h").cast("long"))
    val hotCnt = hotRows.count()
    require(hotCnt <= maxHotSnapshot,
      s"hot-shingle set has $hotCnt entries (> $maxHotSnapshot) — raise " +
        "maxShingleDf (a cap this low marks signal as boilerplate) or " +
        "raise maxHotSnapshot deliberately")
    val hot = sp.sparkContext.broadcast(
      hotRows.collect().map(_.getLong(0)).toSet)
    val base = tsCol.fold(docs.withColumn("__ts", lit(null).cast("timestamp")))(
      c => docs.withColumn("__ts", col(c)))
    val exploded = base
      .select(col("doc_id"), split(col("text"), " ").as("t"), col("__ts"))
      .filter(size(col("t")) >= n)
      .withColumn("hs", transform(
        array_distinct(expr(
          s"transform(sequence(0, size(t)-$n), i -> concat_ws(' ', slice(t, i+1, $n)))")),
        s => graft.functions.Hashes.polyHash(s)))
      .select(col("doc_id"), col("hs"), col("__ts"))
      .as[(Long, Seq[Long], java.sql.Timestamp)]
      .flatMap { case (id, hs, ts) =>
        val tsUs = if (ts == null) 0L else ts.getTime * 1000L
        hs.iterator.filterNot(hot.value.contains)
          .map(h => ColdRow(h, id, tsUs, ts))
      }
    val rows = if (tsCol.isDefined) exploded.withWatermark("tsw", delay)
      else exploded
    val timeoutConf =
      if (tsCol.isDefined) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout
    val packed = rows.groupByKey(_.h)
      .flatMapGroupsWithState[ColdIndexState, ContCandPack](
        OutputMode.Append, timeoutConf) { (_, it, state) =>
        if (state.hasTimedOut) {
          state.remove()
          Iterator.empty
        } else {
          var posts = state.getOption.map(_.docs).getOrElse(Nil)
          val as = Array.newBuilder[Long]; val bs = Array.newBuilder[Long]
          var nOut = 0
          var maxTsMs = Long.MinValue
          it.toSeq.sortBy(r => (r.tsUs, r.doc_id)).foreach { r =>
            if (r.tsw != null) maxTsMs = math.max(maxTsMs, r.tsw.getTime)
            if (tsCol.isDefined) posts = posts.filter(p => r.tsUs - p.tsUs <= ttlUs)
            if (!posts.exists(_.id == r.doc_id)) {
              posts.foreach { pe =>
                as += math.min(pe.id, r.doc_id)
                bs += math.max(pe.id, r.doc_id)
                nOut += 1
              }
              posts = ColdPosting(r.doc_id, r.tsUs) :: posts
            }
          }
          if (posts.isEmpty) state.remove()
          else {
            state.update(ColdIndexState(posts))
            if (tsCol.isDefined && maxTsMs != Long.MinValue)
              state.setTimeoutTimestamp(math.max(maxTsMs + ttlUs / 1000L,
                state.getCurrentWatermarkMs() + 1L))
          }
          if (nOut == 0) Iterator.empty
          else Iterator.single(ContCandPack(as.result(), bs.result()))
        }
      }
    unpackCands(packed)
  }

  /** Streaming near-dup detection END-TO-END: [[nearDupCandidates]]
    * composed with the exact-Jaccard verify, closing the flag→confirm
    * loop in-stream. Each micro-batch's new candidate pairs are
    * verified by [[graft.operators.DedupOps.jaccardForHashed]] against
    * the corpus-so-far — `corpus` is re-resolved per batch (read the
    * doc-store table the ingest pipeline is appending to anyway: a
    * parquet/Delta path, exactly the [[dynamicRules]] refresh pattern),
    * so the verify always sees every document that could appear in a
    * pair. Confirmed pairs (`ai, bi, jac` ≥ `minJaccard`) go to `sink`.
    *
    * After a complete replay the union of sunk batches equals the batch
    * [[graft.operators.DedupOps.minhashNearDups]] pair set
    * (`StreamDedupVerifySpec`) — same candidates (spec-pinned band
    * equality), same exact-verify function, same threshold. A pair that
    * collides in several bands re-verifies only within one batch (the
    * `distinct`); re-emission across batches can only happen for
    * cap-evicted re-arrivals, and the sink's keyed upsert absorbs it.
    *
    * @note scale: per batch the verify joins |new candidates| pairs
    *   against the corpus shingle table — cost tracks the CANDIDATE
    *   rate, not corpus size (the join prunes to the pair doc_ids);
    *   shuffle on doc_id. The candidate stream itself stays bounded via
    *   `tsCol`/`ttl`. For very high candidate rates, point `corpus` at
    *   a bucketed doc store so the verify join co-locates. */
  def nearDupVerified(docs: DataFrame, corpus: SparkSession => DataFrame,
      minJaccard: Double = 0.8, n: Int = 3, maxBucket: Int = 64,
      tsCol: Option[String] = None, ttl: String = "1 hour",
      delay: String = "10 minutes")(sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[CandPair] =
    nearDupCandidates(docs, n, maxBucket, tsCol, ttl, delay)
      .writeStream.foreachBatch { (batch: Dataset[CandPair], batchId: Long) =>
        val pairs = batch.toDF().select(col("ai"), col("bi")).distinct()
        val verified = graft.operators.DedupOps.jaccardForHashed(pairs,
            graft.operators.DedupOps.hashedShingles(
              corpus(batch.sparkSession), n = n))
          .filter(col("jac") >= minJaccard)
        sink(verified, batchId)
        ()
      }

  /** T9 full-outer stream-stream interval join: clicks ⟗ views within
    * the same 30-minute back-looking band — unmatched rows of BOTH
    * sides null-extend once the watermark proves no partner can still
    * arrive (Spark supports full-outer stream-stream joins given
    * watermarks on both sides + a time-bound condition). Same
    * null-emission horizon reasoning as [[intervalJoinOuter]], applied
    * symmetrically: the global watermark is the min across both sides.
    *
    * @note scale: state per side is band + watermark delay, identical
    *   to the inner form; the outer-ness only changes eviction-time
    *   emission, not state size. */
  def intervalJoinFull(ev: DataFrame): DataFrame = {
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("c_ts"),
        col("event_id").as("click_id"))
      .withWatermark("c_ts", "1 hour")
    val v = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("v_uid"), col("ts").as("v_ts"),
        col("event_id").as("view_id"))
      .withWatermark("v_ts", "1 hour")
    c.join(v, col("user_id") === col("v_uid") &&
        col("v_ts") >= col("c_ts") - expr("INTERVAL 30 MINUTES") &&
        col("v_ts") <= col("c_ts"),
        "full_outer")
      .select(coalesce(col("user_id"), col("v_uid")).as("user_id"),
        col("click_id"), col("view_id"),
        unix_micros(col("c_ts")).as("c_ts_us"),
        unix_micros(col("v_ts")).as("v_ts_us"))
  }

  /** T1 divergence shim, surfaced on the facade as
    * `Graft.streams.perKeyLateness`: Flink-style PER-KEY lateness.
    *
    * WHERE THIS DIVERGES FROM FLINK — read before relying on it:
    * Spark's event-time watermark is per-QUERY (a global min across
    * partitions): one slow key drags the whole query's watermark, and
    * a fast key's progress can get a slow key's fresh events dropped.
    * Flink judges lateness against the key group's own progress. This
    * operator reproduces Flink's per-key judgment as a stateful FILTER
    * (each key keeps its own high-water mark; an event is late iff it
    * lags ITS KEY's max event time by > `delayUs`) — but it does NOT
    * replace the query watermark: downstream windowed aggregations
    * still evict state on Spark's global watermark, so pair this with
    * a `withWatermark` delay ≥ the per-key delay or closed windows can
    * still reject survivors of this filter. Within a micro-batch,
    * arrival order is pinned to (ts, event_id), so in-batch reordering
    * never marks an event late — lateness manifests at batch
    * boundaries, exactly like Spark's own watermark advancement.
    *
    * THE IDLENESS HALF (Flink `withIdleness`): not needed here, by
    * construction. Flink's watermark is the MIN across source
    * partitions, so one quiet partition stalls event time for the
    * whole job unless marked idle; Spark's watermark is
    * max(observed event time) − delay — a MAX — so an idle key or
    * partition can never hold it back, and a quiet key's open windows
    * close off any active key's progress (PerKeyWatermarkSpec pins
    * this). The divergence to engineer around is the OPPOSITE one
    * this operator addresses: the global clock dropping a slow key's
    * fresh events.
    *
    * @note scale: one long of state per key, one shuffle on the key
    *   ([[PerKeyWatermarkProcessor]]; TTL the state if the keyspace
    *   churns). */
  def perKeyLateness(ev: DataFrame,
      delayUs: Long = 10L * 60 * 1000000): Dataset[FillEvent] =
    PerKeyWatermark(ev, delayUs)

  /** What a [[keyedAutomaton]] step or close step emits into. */
  private[streaming] type Out[O] = scala.collection.mutable.ArrayBuffer[O]

  /** An operator's close step: given the watermark `wmUs`, emit what the
    * watermark has proven for key `K` and return the state that stays
    * open. The timer path runs it at the live watermark; the
    * end-of-replay drain ([[StateFlush]]) runs the SAME function at
    * [[EndOfStream]]. */
  private[streaming] type Close[K, S, O] = (K, S, Long, Out[O]) => S

  /** The watermark at which every open window, run and partial match of
    * a stopped stream is closed. */
  private[streaming] val EndOfStream = Long.MaxValue

  private def noClose[K, S, O]: Close[K, S, O] = (_, s, _, _) => s

  /** The one keyed event-time automaton frame behind every per-key
    * operator below — Flink's `KeyedProcessFunction` with keyed state, an
    * event-time timer and idle-state removal — on
    * `flatMapGroupsWithState`: group `events` by `key`, start each key
    * at `init`, drop rows at or below the watermark when `late` names
    * their event time, feed the rest through `step` (in `order`'s
    * `(ts, id)` order when given), then — whenever the input carries a
    * watermark — run `close` at it, on a timer firing exactly as after
    * new data. A state `isIdle` holds for is REMOVED (it must equal
    * `init` in every field a later step reads, so removal is
    * invisible); any other state is kept, and with a `deadline` the
    * event-time timer is armed to fire once the watermark passes the
    * earliest live deadline (µs), clamped above the current watermark
    * as the API requires. */
  private def keyedAutomaton[K: Encoder, E, S: Encoder, O: Encoder](
      events: Dataset[E], key: E => K, init: S,
      order: Option[E => (Long, Long)], late: Option[E => Long],
      isIdle: S => Boolean, deadline: Option[(K, S) => Long])(
      step: (K, S, E, Out[O]) => S, close: Close[K, S, O]): Dataset[O] = {
    val watermarked = events.queryExecution.analyzed.output
      .exists(_.metadata.contains(EventTimeWatermark.delayKey))
    val timeout =
      if (deadline.isDefined) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout
    events.groupByKey(key)
      .flatMapGroupsWithState[S, O](OutputMode.Append, timeout) { (k, it, state) =>
        val wmUs =
          if (watermarked) state.getCurrentWatermarkMs() * 1000L else Long.MinValue
        var st = state.getOption.getOrElse(init)
        val out = new Out[O]
        val fresh = late.fold(it)(ts => it.filter(ts(_) > wmUs))
        order.fold(fresh)(o => fresh.toVector.sortBy(o).iterator)
          .foreach(e => st = step(k, st, e, out))
        if (watermarked) st = close(k, st, wmUs, out)
        if (isIdle(st)) state.remove()
        else {
          state.update(st)
          deadline.foreach(d => state.setTimeoutTimestamp(math.max(
            Math.floorDiv(d(k, st), 1000L), state.getCurrentWatermarkMs() + 1L)))
        }
        out.iterator
      }
  }

  /** The shared decimal rounding of every exact micro-unit sum:
    * decimal(18,6) micro-units → `round(·, 4)` double, exactly Spark's
    * `round(sum(CAST ... DECIMAL(18,6)), 4)` in the batch twins. */
  private def round4(s6: Long): Double =
    BigDecimal(s6, 6).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  private def r4(d: Double): Double =
    java.math.BigDecimal.valueOf(d)
      .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue

  /** T8 Kleene: streaming twin of [[CepOps.cepKleene]] (`A B+ C` with
    * skip-past-last-row) as a per-key O(1)-state automaton
    * (`flatMapGroupsWithState`): track the class of the last relevant
    * event, anchor a B+ run when a B immediately follows an A, extend
    * it on further Bs, and EMIT on the C that terminates it (the C
    * itself proves the run maximal — no watermark wait, no flush gap:
    * a run the stream never terminates is also unmatched in the batch
    * form, so replay output equals the batch twin EXACTLY).
    *
    * Same per-key in-order arrival contract as [[forwardFill]]: events
    * of one key arrive in (ts, event_id) order across micro-batches
    * (the event-time-ordered replay/backfill contract; each batch is
    * sorted here). A production out-of-order deployment would buffer a
    * watermark-delay of events per key first — the automaton itself is
    * unchanged.
    *
    * @note scale: one shuffle on the key; state is ONE fixed-width row
    *   per key regardless of history length (contrast Flink CEP's
    *   NFA partial-match buffers, which grow with the run). */
  def cepKleeneStream(ev: DataFrame, keyCol: String, tsCol: String,
      idCol: String, predA: Column, predB: Column, predC: Column,
      withinUs: Long): Dataset[KleeneMatch] = {
    val sp = ev.sparkSession
    import sp.implicits._
    kleeneContiguous[KleeneMatch](
      kleeneEvents(ev, keyCol, tsCol, idCol, predA, predB, predC, lit(0L)),
      (_, e) => e.ts_us) { (key, st, e) =>
      if (e.ts_us > st.runATsUs + withinUs) None
      else Some(KleeneMatch(key, st.runAId, st.nB, st.firstB, st.lastB,
        e.event_id, e.ts_us - st.runATsUs))
    }
  }

  /** The classified event projection of the five Kleene twins: class
    * A/B/C by the first matching predicate (unclassified rows dropped),
    * `value`'s exact micro-units, and the raw timestamp. */
  private def kleeneEvents(ev: DataFrame, keyCol: String, tsCol: String,
      idCol: String, predA: Column, predB: Column, predC: Column,
      value: Column): Dataset[KleeneEvent] = {
    val sp = ev.sparkSession
    import sp.implicits._
    ev.withColumn("__cls",
        when(predA, lit("A")).when(predB, lit("B")).when(predC, lit("C")))
      .filter(col("__cls").isNotNull)
      .select(col(keyCol).as("k"), unix_micros(col(tsCol)).as("ts_us"),
        col(idCol).as("event_id"), col("__cls").as("cls"),
        (value.cast("decimal(18,6)") * lit(1000000L)).cast("long").as("v6"),
        col(tsCol).as("tsw"))
      .as[KleeneEvent]
  }

  /** The contiguous `A B+ C` automaton of the three Kleene twins: they
    * differ only in the run accumulator (`acc(prev, b)`, seeded with 0
    * on the anchoring B) and in the row `emit` makes when a C ends an
    * active run. Idle — and removed — whenever no run is active and the
    * last relevant event was not an A: every field is then unread, so
    * the row equals the start state. */
  private def kleeneContiguous[O: Encoder](events: Dataset[KleeneEvent],
      acc: (Long, KleeneEvent) => Long)(
      emit: (Long, KleeneState, KleeneEvent) => Option[O]): Dataset[O] = {
    val sp = events.sparkSession
    import sp.implicits._
    val start = KleeneState("", 0L, 0L, runActive = false, 0L, 0L, 0L, 0L, 0L, 0L)
    keyedAutomaton[Long, KleeneEvent, KleeneState, O](events, _.k, start,
      Some(e => (e.ts_us, e.event_id)), None,
      s => !s.runActive && s.prev != "A", None)((key, st, e, out) =>
      e.cls match {
        case "A" => // kills any open run (A is not a valid terminator)
          start.copy(prev = "A", aId = e.event_id, aTsUs = e.ts_us)
        case "B" =>
          if (st.runActive)
            st.copy(prev = "B", lastB = e.event_id, nB = st.nB + 1,
              acc = acc(st.acc, e))
          else if (st.prev == "A") // anchor: B immediately after A
            KleeneState("B", 0L, 0L, runActive = true, st.aId, st.aTsUs,
              e.event_id, e.event_id, 1L, acc(0L, e))
          else st.copy(prev = "B") // unanchored B — transparent run
        case _ => // "C": ends the run, matched or not
          if (st.runActive) out ++= emit(key, st, e)
          start
      }, noClose)
  }

  /** Streaming twin of [[graft.streaming.CepOps.cepKleeneRelaxed]] —
    * Flink's default relaxed-contiguity `A followedBy B+ followedBy C`
    * as a bounded-state automaton: per key a list of active anchors,
    * each holding its first ≤ `maxPrefix` loop-B ids and a
    * closed-prefix high-water mark. A `B` extends every anchor still
    * under its prefix cap; a `C` inside an anchor's `within` horizon
    * closes (emits) every still-open prefix whose last B precedes it —
    * which IS "first C after b_L" under in-order processing — and a C
    * past the horizon kills the anchor outright (its remaining
    * prefixes' first C failed the bound, and every later C is further
    * out). Anchors are never consumed (NO_SKIP). Replay through real
    * micro-batches hash-matches the batch prefix-grid form with no
    * flush gap (an unclosed prefix is unmatched in both forms).
    *
    * @note scale: state per key = anchors inside the within-horizon ×
    *   maxPrefix longs — the same events-in-Δt bound Flink's NFA holds
    *   for this pattern; one shuffle on the key. */
  def cepKleeneRelaxedStream(ev: DataFrame, keyCol: String, tsCol: String,
      idCol: String, predA: Column, predB: Column, predC: Column,
      withinUs: Long, maxPrefix: Int,
      delay: String = "10 minutes"): Dataset[KleeneMatch] = {
    val sp = ev.sparkSession
    import sp.implicits._
    kleeneRelaxed[KleeneMatch](kleeneEvents(ev.withWatermark(tsCol, delay),
        keyCol, tsCol, idCol, predA, predB, predC, lit(0L)),
      withinUs, maxPrefix) { (key, a, l, e) =>
      KleeneMatch(key, a.aId, l, a.bIds.head, a.bIds(l - 1), e.event_id,
        e.ts_us - a.aTsUs)
    }
  }

  /** The relaxed-contiguity anchor automaton of the two relaxed twins:
    * they differ only in the row `emit` makes when a C closes prefix `l`
    * of an anchor. An anchor whose `within` deadline an event (or the
    * watermark) has passed can never close another prefix, so it is
    * dropped; a key with no anchor left is idle. */
  private def kleeneRelaxed[O: Encoder](events: Dataset[KleeneEvent],
      withinUs: Long, maxPrefix: Int)(
      emit: (Long, RelaxedAnchor, Int, KleeneEvent) => O): Dataset[O] = {
    require(maxPrefix >= 1, "maxPrefix must be >= 1")
    val sp = events.sparkSession
    import sp.implicits._
    def live(st: RelaxedState, t: Long) =
      st.anchors.filter(a => t <= a.aTsUs + withinUs)
    keyedAutomaton[Long, KleeneEvent, RelaxedState, O](events, _.k,
      RelaxedState(Nil), Some(e => (e.ts_us, e.event_id)), None,
      _.anchors.isEmpty,
      Some((_, s) => s.anchors.iterator.map(_.aTsUs).min + withinUs))(
      (key, st, e, out) => RelaxedState(e.cls match {
        case "A" =>
          RelaxedAnchor(e.event_id, e.ts_us, Vector.empty, Vector.empty, 0) ::
            live(st, e.ts_us)
        case "B" =>
          live(st, e.ts_us).map { a =>
            if (a.bIds.length < maxPrefix)
              a.copy(bIds = a.bIds :+ e.event_id,
                bSum6s = a.bSum6s :+ (a.bSum6s.lastOption.getOrElse(0L) + e.v6))
            else a
          }
        case _ => // "C" — in-horizon by the filter: close every open prefix
          live(st, e.ts_us).flatMap { a =>
            (a.closedUpTo + 1 to a.bIds.length).foreach(l => out += emit(key, a, l, e))
            // all prefixes closed and no room for more — retire
            if (a.bIds.length >= maxPrefix) None
            else Some(a.copy(closedUpTo = a.bIds.length))
          }
      }),
      (_, st, wmUs, _) => RelaxedState(live(st, wmUs)))
  }

  /** Streaming twin of [[CepOps.cepGroupTimes]] — the group quantifier
    * `(s₁ … s_g){n}` as ONE per-key automaton instead of the unrolled
    * join chain: the r14 join-form replay paid TWO state stores per
    * unrolled slot per micro-batch (measured 15–56 s at sf0.1 and
    * adjudicated out); here the whole pattern is one
    * `flatMapGroupsWithState` over a single multiplexed state row per
    * key holding every in-progress path ([[GTPartial]] — next expected
    * slot is just `ids.length`). All-paths semantics exactly as the
    * batch form: an event extends every live partial whose next slot
    * it satisfies inside `(lastTs, lastTs + within]`, WITHOUT
    * consuming it (a later event may extend the same partial again),
    * and every slot-1 event anchors a fresh partial; completing slot
    * `g·n` emits. Same per-key in-order arrival contract as
    * [[cepKleeneStream]].
    *
    * Output is the batch column shape (`<member>_<rep>_id` per slot +
    * `total_us`), so replay output unions/compares against
    * [[CepOps.cepGroupTimes]] directly.
    *
    * @note scale: one shuffle on the key, ONE state row per key; live
    *   partials are bounded by the per-key event mass inside the
    *   `within` horizon raised to the slot fan-out — the same
    *   partial-match set Flink's NFA buffers for this pattern. A
    *   partial dies the moment any in-order event or the watermark
    *   passes its extension deadline; `maxPartials` fails loudly on
    *   pathological fan-out (tighten `within`, or lower n) instead of
    *   letting state grow silently. */
  def cepGroupTimesStream(ev: DataFrame, keyCol: String, tsCol: String,
      idCol: String, group: Seq[(String, Column)], n: Int,
      withinUs: Long, delay: String = "10 minutes",
      maxPartials: Int = 100000): DataFrame = {
    val g = group.size
    require(g >= 1 && n >= 1 && g * n >= 2,
      "a group pattern needs at least two unrolled slots")
    require(group.map(_._1).distinct.size == g,
      "group step names must be distinct")
    val slotPreds = (1 to n).flatMap(_ => group.map(_._2))
    val outNames = (1 to n).flatMap(r =>
      group.map { case (nm, _) => s"${nm}_${r}_id" })
    cepSlotsStream(ev, keyCol, tsCol, idCol, slotPreds, outNames,
      withinUs, delay, maxPartials)
  }

  /** Streaming twin of [[CepOps.cepGroupTimesMixed]] — the MIXED shape
    * `A (B C){n} D` on the same multiplexed automaton: outer `pre` and
    * `post` steps are just more slots in the flat chain, so one state
    * row per key still holds every in-progress path and the cost model
    * is identical to [[cepGroupTimesStream]]. Output is the batch
    * column shape (`<pre>_id …, <member>_<rep>_id …, <post>_id …,
    * total_us`), so replay output compares against the batch key's
    * oracle directly. */
  def cepGroupTimesMixedStream(ev: DataFrame, keyCol: String,
      tsCol: String, idCol: String, pre: Seq[(String, Column)],
      group: Seq[(String, Column)], n: Int, post: Seq[(String, Column)],
      withinUs: Long, delay: String = "10 minutes",
      maxPartials: Int = 100000): DataFrame = {
    require(group.nonEmpty && n >= 1, "a group needs steps and n >= 1")
    require(pre.nonEmpty || post.nonEmpty,
      "no outer steps — use cepGroupTimesStream for a standalone group")
    val unrolled = (1 to n).flatMap(r =>
      group.map { case (nm, p) => (s"${nm}_$r", p) })
    val all = pre ++ unrolled ++ post
    require(all.map(_._1).distinct.size == all.size,
      s"outer step names must not collide with the unrolled group " +
        s"columns: ${all.map(_._1)}")
    cepSlotsStream(ev, keyCol, tsCol, idCol, all.map(_._2),
      all.map(_._1 + "_id"), withinUs, delay, maxPartials)
  }

  /** Streaming twin of [[CepOps.cepGroupTimes]]' KLEENE sibling
    * ([[CepOps.cepGroupKleene]]) — `(s₁ … s_g)+` on the SAME
    * multiplexed automaton, where the batch form's per-count union
    * was the reason the replay stayed spec-only through r15: unioning
    * `n = 1..maxReps` unrolled chains multiplies the live-partial set
    * by maxReps state chains. Here NO union exists — the slot
    * predicates repeat with period `g`, so a partial's next expected
    * slot is `ids.length mod g`, the mask needs only `g` bits however
    * many repetitions run, and ONE state row per key still holds every
    * in-progress path. A partial EMITS AT EVERY completed `g·r`
    * boundary as it passes it (first/last/count — Flink's oneOrMore
    * per-count emission, the batch column shape) and KEEPS RUNNING
    * until `g·maxReps`, so a 3-rep run reports its 1- and 2-rep
    * prefixes from the same partial instead of from three parallel
    * chains. All-paths semantics exactly as the batch union: events
    * extend without consuming, every slot-1 event anchors.
    *
    * @note scale: one shuffle on the key, ONE state row per key; live
    *   partials bounded by per-key event mass inside the `within`
    *   horizon (same fan-out as the times form — the boundary
    *   emission adds output rows, not state). `maxReps` is the same
    *   hard cap as the batch form; `maxPartials` fails loudly on
    *   pathological fan-out. */
  def cepGroupKleeneStream(ev: DataFrame, keyCol: String, tsCol: String,
      idCol: String, group: Seq[(String, Column)], maxReps: Int,
      withinUs: Long, delay: String = "10 minutes",
      maxPartials: Int = 100000): Dataset[GKMatch] = {
    val g = group.size
    require(g >= 2,
      "a 1-step group Kleene is plain B+ — use cepKleeneStream")
    require(maxReps >= 1 && maxReps <= 8,
      s"oneOrMore over a group is capped at 8 repetitions like the " +
        s"batch form; maxReps=$maxReps is outside 1..8")
    require(group.map(_._1).distinct.size == g,
      "group step names must be distinct")
    val maxLen = g * maxReps
    val sp = ev.sparkSession
    import sp.implicits._
    partialChain[GKMatch](
      maskEvents(ev, keyCol, tsCol, idCol, group.map(_._2), delay),
      withinUs, maxPartials, "cepGroupKleeneStream") { (key, p, e, out) =>
      if (((e.mask >> (p.ids.length % g)) & 1) == 0) None // slots repeat mod g
      else {
        val ext = p.extend(e)
        if (ext.ids.length % g == 0) // a repetition completed
          out += GKMatch(key, ext.ids.head, e.event_id,
            ext.ids.length / g, e.ts_us - ext.firstTs)
        if (ext.ids.length >= maxLen) None else Some(ext)
      }
    }
  }

  /** The bitmask event projection of the group automata (bit j of
    * `mask` = predicate j matches; the bits are disjoint powers, so the
    * sum is a bitwise OR), watermarked on the event time. */
  private def maskEvents(ev: DataFrame, keyCol: String, tsCol: String,
      idCol: String, preds: Seq[Column], delay: String): Dataset[GTEvent] = {
    val sp = ev.sparkSession
    import sp.implicits._
    val mask = preds.zipWithIndex.map { case (p, j) =>
      when(p, lit(1 << j)).otherwise(lit(0)) }.reduce(_ + _)
    ev.withWatermark(tsCol, delay)
      .withColumn("__mask", mask.cast("int"))
      .filter(col("__mask") =!= 0)
      .select(col(keyCol).cast("long").as("k"),
        unix_micros(col(tsCol)).as("ts_us"),
        col(idCol).cast("long").as("event_id"),
        col("__mask").as("mask"), col(tsCol).as("tsw"))
      .as[GTEvent]
  }

  /** One in-progress path of the group automata — the working form of a
    * [[GTState]] entry, never crossing the encoder boundary. */
  private final case class GTPartial(ids: Array[Long], firstTs: Long,
      lastTs: Long, phase: Int = -1) {
    def extend(e: GTEvent, phase: Int = -1): GTPartial =
      GTPartial(ids :+ e.event_id, firstTs, e.ts_us, phase)
  }

  private def unpack(s: GTState): List[GTPartial] = {
    var off = 0
    List.tabulate(s.lens.length) { i =>
      val p = GTPartial(java.util.Arrays.copyOfRange(s.idsFlat, off, off + s.lens(i)),
        s.firstTs(i), s.lastTs(i), s.phase(i))
      off += s.lens(i)
      p
    }
  }

  private def pack(ps: List[GTPartial]): GTState = GTState(
    ps.iterator.flatMap(_.ids).toArray, ps.map(_.ids.length).toArray,
    ps.map(_.firstTs).toArray, ps.map(_.lastTs).toArray,
    ps.map(_.phase).toArray)

  /** The partials an event (or the watermark) at `t` has not out-waited:
    * past `lastTs + within` every later event is also past it, so the
    * drop is exact. */
  private def alive(ps: List[GTPartial], t: Long, withinUs: Long) =
    ps.filter(p => t <= p.lastTs + withinUs)

  private def checkFanOut(op: String, key: Long, n: Int, maxPartials: Int): Unit =
    require(n <= maxPartials,
      s"$op: key $key holds $n live partial matches " +
        s"(> maxPartials=$maxPartials) — the within band times " +
        "per-key event rate exceeds the supported fan-out; " +
        "tighten `within` or reduce the repetition bound")

  /** The live-partial automaton of [[cepSlotsStream]] and
    * [[cepGroupKleeneStream]]: per event, drop the out-waited partials,
    * let `grow` extend every partial the event may follow (emitting as
    * it completes; `None` retires or rejects it) WITHOUT consuming the
    * event, and anchor a fresh partial on a slot-0 event. A key with no
    * live partial is idle. */
  private def partialChain[O: Encoder](events: Dataset[GTEvent],
      withinUs: Long, maxPartials: Int, op: String)(
      grow: (Long, GTPartial, GTEvent, Out[O]) => Option[GTPartial]): Dataset[O] = {
    val sp = events.sparkSession
    import sp.implicits._
    keyedAutomaton[Long, GTEvent, GTState, O](events, _.k, pack(Nil),
      Some(e => (e.ts_us, e.event_id)), None, _.lens.isEmpty,
      Some((_, s) => s.lastTs.min + withinUs))(
      (key, st, e, out) => {
        val live = alive(unpack(st), e.ts_us, withinUs)
        val ps = live.flatMap(p =>
          if (e.ts_us > p.lastTs) grow(key, p, e, out) else None) ::: live
        val seeded =
          if ((e.mask & 1) == 1) GTPartial(Array(e.event_id), e.ts_us, e.ts_us) :: ps
          else ps
        checkFanOut(op, key, seeded.size, maxPartials)
        pack(seeded)
      },
      (_, st, wmUs, _) => pack(alive(unpack(st), wmUs, withinUs)))
  }

  /** Streaming twin of [[CepOps.cepGroupRange]] — `(s₁ … s_g){n,m}` on
    * the multiplexed automaton by BOUNDARY EMISSION, exactly as the
    * Kleene twin ([[cepGroupKleeneStream]]) proved costs no extra
    * state: the batch form's per-count UNION multiplies live partials
    * by m−n+1 parallel chains, while here the slot chain is unrolled
    * ONCE to `g·m` slots and a partial EMITS at every completed `g·r`
    * boundary it passes for `r ∈ n..m`, then keeps running to `g·m` —
    * a 2-rep run reports its 1-rep prefix from the same partial.
    * Output is the batch column shape (`<member>_<rep>_id` null-padded
    * to the m-shape, `reps`, `total_us`), so replay output compares
    * against [[CepOps.cepGroupRange]]'s oracle directly.
    *
    * @note scale: one shuffle on the key, ONE state row per key; live
    *   partials bounded by per-key event mass inside the `within`
    *   horizon (boundary emission adds output rows, not state);
    *   `maxPartials` fails loudly on pathological fan-out. */
  def cepGroupRangeStream(ev: DataFrame, keyCol: String, tsCol: String,
      idCol: String, group: Seq[(String, Column)], n: Int, m: Int,
      withinUs: Long, delay: String = "10 minutes",
      maxPartials: Int = 100000): DataFrame = {
    val g = group.size
    require(g >= 1 && n >= 1 && m > n,
      s"times($n,$m): need 1 <= n < m — times(n) is cepGroupTimesStream")
    require(g * n >= 2, "a group pattern needs at least two unrolled slots")
    require(m <= 8,
      s"times($n,$m) is capped at 8 repetitions like the batch form")
    require(group.map(_._1).distinct.size == g,
      "group step names must be distinct")
    val slotPreds = (1 to m).flatMap(_ => group.map(_._2))
    val outNames = (1 to m).flatMap(r =>
      group.map { case (nm, _) => s"${nm}_${r}_id" })
    cepSlotsStream(ev, keyCol, tsCol, idCol, slotPreds, outNames,
      withinUs, delay, maxPartials, emitEvery = g, emitFromLen = g * n)
  }

  /** Streaming twin of [[CepOps.cepGroupRangeReluctant]] — the CLOSED
    * (post-decided) group range `(s₁ … s_g){n,m}? D…` on the real
    * runtime, the last CEP face that had no real-runtime twin. The
    * batch form is a per-anchor argmin over the per-count union; an
    * automaton cannot know the minimal completing count until no
    * shorter count can still complete, so this one (a) walks ONE
    * multiplexed chain per partial — in-group slots repeat mod g, and
    * every completed `g·r` boundary with `r ∈ n..m` FORKS a post-chain
    * partial at count r while the in-group partial keeps running to
    * `g·m` — and (b) BUFFERS completions per anchor (the group's first
    * bound event) until the anchor RESOLVES: its last live partial
    * dies (out-waited by an in-order event, by the watermark timer, or
    * by end of stream via [[StateFlush.groupRangeClosed]]), at which
    * point the completion set is provably complete and the extremal
    * count's completions all emit (NO_SKIP within it — the batch
    * tie-break contract verbatim). Same in-order arrival contract and
    * packed-primitive state as the whole automaton family.
    *
    * Output carries the batch column shape (`<member>_<rep>_id`
    * null-padded to the m-shape, `<post>_id …`, `reps`, `total_us`),
    * so a replay compares against the batch key's oracle directly.
    *
    * @note scale: one shuffle on the key, ONE state row per key; live
    *   partials bounded by per-key event mass inside the `within`
    *   horizon (the post forks add |post|-bounded walkers per
    *   boundary, not chains), and buffered completions are bounded by
    *   the anchor's within-horizon output mass — both under the loud
    *   `maxPartials` cap. Resolution is event-driven (no global
    *   barrier): an anchor holds state only while its own horizon is
    *   open. */
  def cepGroupRangeReluctantStream(ev: DataFrame, keyCol: String,
      tsCol: String, idCol: String, group: Seq[(String, Column)], n: Int,
      m: Int, withinUs: Long, post: Seq[(String, Column)],
      pre: Seq[(String, Column)] = Nil,
      delay: String = "10 minutes", maxPartials: Int = 100000): DataFrame =
    groupRangeClosedStream(ev, keyCol, tsCol, idCol, pre, group, n, m,
      withinUs, post, greedy = false, delay, maxPartials)

  /** The argmax mirror of [[cepGroupRangeReluctantStream]] — streaming
    * twin of [[CepOps.cepGroupRangeGreedy]]; same buffering/resolution
    * machinery, the resolved anchor keeps its LONGEST completed count. */
  def cepGroupRangeGreedyStream(ev: DataFrame, keyCol: String,
      tsCol: String, idCol: String, group: Seq[(String, Column)], n: Int,
      m: Int, withinUs: Long, post: Seq[(String, Column)],
      pre: Seq[(String, Column)] = Nil,
      delay: String = "10 minutes", maxPartials: Int = 100000): DataFrame =
    groupRangeClosedStream(ev, keyCol, tsCol, idCol, pre, group, n, m,
      withinUs, post, greedy = true, delay, maxPartials)

  private def groupRangeClosedStream(ev: DataFrame, keyCol: String,
      tsCol: String, idCol: String, pre: Seq[(String, Column)],
      group: Seq[(String, Column)], n: Int,
      m: Int, withinUs: Long, post: Seq[(String, Column)],
      greedy: Boolean, delay: String, maxPartials: Int): DataFrame = {
    val g = group.size
    val np = post.size
    val npre = pre.size
    require(post.nonEmpty,
      "the closed-range axis needs at least one post step to decide " +
        "against — the open range is cepGroupRangeStream, the fixed " +
        "count cepGroupTimesStream")
    require(g >= 1 && n >= 1 && m > n,
      s"times($n,$m): need 1 <= n < m")
    require(m <= 8, s"times($n,$m) is capped at 8 like the batch form")
    require(npre + g + np <= 24,
      "pre + group + post slot predicates exceed the mask")
    val names = pre.map(_._1) ++ group.map(_._1) ++ post.map(_._1)
    require(names.distinct.size == names.size,
      "pre/group/post step names must be distinct")
    val sp = ev.sparkSession
    import sp.implicits._
    val op = s"cepGroupRange${if (greedy) "Greedy" else "Reluctant"}Stream"
    // bit j < npre: pre step j; then g group-member bits; then post
    val matches = keyedAutomaton[Long, GTEvent, GRState, GRMatch](
      maskEvents(ev, keyCol, tsCol, idCol,
        (pre ++ group ++ post).map(_._2), delay),
      _.k, GRState(pack(Nil), pack(Nil)), Some(e => (e.ts_us, e.event_id)),
      None, s => s.live.lens.isEmpty && s.done.lens.isEmpty,
      Some((_, s) => s.live.lastTs.min + withinUs))(
      (key, st, e, out) => {
        val live = alive(unpack(st.live), e.ts_us, withinUs)
        var pend = resolveDead(key, live, unpack(st.done), npre, g, greedy, out)
        val adds = scala.collection.mutable.ListBuffer.empty[GTPartial]
        live.foreach { pp =>
          if (e.ts_us > pp.lastTs) {
            if (pp.phase == -1) {
              // walking the flat pre chain then the repeated group
              val len0 = pp.ids.length
              val slot = if (len0 < npre) len0 else npre + (len0 - npre) % g
              if (((e.mask >> slot) & 1) == 1) {
                val len = len0 + 1
                if (len > npre && (len - npre) % g == 0) {
                  val reps = (len - npre) / g
                  if (reps >= n) adds += pp.extend(e, reps << 8)
                  if (reps < m) adds += pp.extend(e)
                } else adds += pp.extend(e)
              }
            } else {
              val reps = pp.phase >> 8
              val pi = pp.phase & 0xff
              if (((e.mask >> (npre + g + pi)) & 1) == 1) {
                if (pi + 1 == np) pend ::= pp.extend(e, reps) // completed
                else adds += pp.extend(e, (reps << 8) | (pi + 1))
              }
            }
          }
        }
        var partials = adds.toList ::: live
        if ((e.mask & 1) == 1) {
          // seed (pre.head when pre steps exist, else group.head);
          // with no pre, a 1-member group completes its first
          // repetition AT the seed, so fork its post walker here
          partials = GTPartial(Array(e.event_id), e.ts_us, e.ts_us) :: partials
          if (npre == 0 && g == 1 && n <= 1)
            partials = GTPartial(Array(e.event_id), e.ts_us, e.ts_us, 1 << 8) :: partials
        }
        checkFanOut(op, key, partials.size + pend.size, maxPartials)
        GRState(pack(partials), pack(pend))
      },
      groupRangeClose(npre, g, withinUs, greedy))
    groupRangeClosedShape(matches.toDF(), keyCol, pre, group, m, post)
  }

  /** Resolve every anchor (a completion's first bound event) that no
    * live partial carries any more: its completion set is complete, so
    * the extremal count's completions all emit (NO_SKIP within it — the
    * batch tie-break contract verbatim). Completions of a still-live
    * anchor stay pending. A completion's `phase` is its count. */
  private def resolveDead(key: Long, live: List[GTPartial],
      pend: List[GTPartial], npre: Int, g: Int, greedy: Boolean,
      out: Out[GRMatch]): List[GTPartial] =
    if (pend.isEmpty) pend
    else {
      val liveAnchors = live.iterator.map(_.ids(0)).toSet
      val (blocked, ready) = pend.partition(c => liveAnchors(c.ids(0)))
      ready.groupBy(_.ids(0)).valuesIterator.foreach { cs =>
        val pick = if (greedy) cs.map(_.phase).max else cs.map(_.phase).min
        cs.filter(_.phase == pick).foreach { c =>
          val cut = npre + g * c.phase
          out += GRMatch(key, c.ids.take(cut).toSeq, c.ids.drop(cut).toSeq,
            c.phase, c.lastTs - c.firstTs)
        }
      }
      blocked
    }

  /** The closed-range close step: partials the watermark has out-waited
    * die, and every anchor left without a live partial resolves. At
    * [[EndOfStream]] every partial is dead, whatever `withinUs`. */
  private[streaming] def groupRangeClose(npre: Int, g: Int, withinUs: Long,
      greedy: Boolean): Close[Long, GRState, GRMatch] = (key, st, wmUs, out) => {
    val live = alive(unpack(st.live), wmUs, withinUs)
    GRState(pack(live),
      pack(resolveDead(key, live, unpack(st.done), npre, g, greedy, out)))
  }

  /** The batch [[CepOps.cepGroupRangeReluctant]] column shape over
    * [[GRMatch]] rows (`gids` = pre ids then the bound group events) —
    * shared by the automaton and its [[StateFlush.groupRangeClosed]]
    * end-of-replay drain. */
  private[streaming] def groupRangeClosedShape(rows: DataFrame,
      keyCol: String, pre: Seq[(String, Column)],
      group: Seq[(String, Column)], m: Int,
      post: Seq[(String, Column)]): DataFrame = {
    val g = group.size
    val npre = pre.size
    val preCols = pre.zipWithIndex.map { case ((nm, _), j) =>
      col("gids").getItem(j).as(s"${nm}_id") } // always bound
    val padCols = (1 to m).flatMap(r => group.zipWithIndex.map {
      case ((nm, _), j) => get(col("gids"), lit(npre + (r - 1) * g + j))
        .as(s"${nm}_${r}_id") })
    val postCols = post.zipWithIndex.map { case ((nm, _), j) =>
      col("pids").getItem(j).as(s"${nm}_id") }
    rows.select(col("user_id").as(keyCol) +: (preCols ++ padCols ++ postCols)
      :+ col("reps") :+ col("total_us"): _*)
  }

  /** The shared slot-chain automaton behind [[cepGroupTimesStream]] /
    * [[cepGroupTimesMixedStream]] / [[cepGroupRangeStream]]: an
    * arbitrary flat slot chain, each event carrying a BITMASK of the
    * slots it satisfies (bit = slot index, so repeated/overlapping
    * slot predicates cost only their re-evaluation in the mask
    * projection). ≤ 31 slots — the unrolled chains the batch forms
    * compile are far shorter (their candidate growth is
    * fan-out^slots; see the loud caps there). With `emitEvery > 0`
    * (the range form) a partial emits at every completed `emitEvery`
    * boundary from `emitFromLen` on and dies at the full chain
    * length; the output then carries a `reps` column
    * (= bound-id count / emitEvery) with the unreached tail columns
    * null — the batch null-padded m-shape. */
  private def cepSlotsStream(ev: DataFrame, keyCol: String, tsCol: String,
      idCol: String, slotPreds: Seq[Column], outNames: Seq[String],
      withinUs: Long, delay: String,
      maxPartials: Int, emitEvery: Int = 0, emitFromLen: Int = 0): DataFrame = {
    val slots = slotPreds.size
    require(slots >= 2 && slots <= 31,
      s"slot chain length $slots outside the supported 2..31")
    val sp = ev.sparkSession
    import sp.implicits._
    val matches = partialChain[GTMatch](
      maskEvents(ev, keyCol, tsCol, idCol, slotPreds, delay), withinUs,
      maxPartials,
      if (emitEvery > 0) "cepGroupRangeStream" else "cepGroupTimesStream") {
      (key, p, e, out) =>
        if (((e.mask >> p.ids.length) & 1) == 0) None // next expected slot
        else {
          val ext = p.extend(e)
          val len = ext.ids.length
          if (if (emitEvery > 0) len >= emitFromLen && len % emitEvery == 0
              else len == slots)
            out += GTMatch(key, ext.ids.toSeq, ext.lastTs - ext.firstTs)
          if (len == slots) None else Some(ext)
        }
    }
    val idCols = outNames.zipWithIndex.map { case (nm, i) =>
      if (emitEvery > 0) get(col("ids"), lit(i)).as(nm) // null past a
      else col("ids").getItem(i).as(nm) // short match's length (ANSI-safe)
    }
    val tailCols =
      if (emitEvery > 0)
        Seq((size(col("ids")) / emitEvery).cast("int").as("reps"),
          col("total_us"))
      else Seq(col("total_us"))
    matches.toDF().select(
      col("user_id").as(keyCol) +: idCols ++: tailCols: _*)
  }

  /** [[cepKleeneRelaxedStream]] carrying MEASURES: each anchor records
    * cumulative micro-unit sums parallel to its loop-B ids, so closing
    * prefix `L` emits its exact decimal SUM/AVG with no extra state
    * passes — the relaxed twin of [[cepKleeneMeasuresStream]]. Replay
    * hash-matches the batch [[CepOps.cepKleeneRelaxedMeasures]] under
    * the same oracle; no flush gap. */
  def cepKleeneRelaxedMeasuresStream(ev: DataFrame, keyCol: String,
      tsCol: String, idCol: String, predA: Column, predB: Column,
      predC: Column, withinUs: Long, maxPrefix: Int,
      valueCol: Column, delay: String = "10 minutes"): Dataset[RelaxedMMatch] = {
    val sp = ev.sparkSession
    import sp.implicits._
    kleeneRelaxed[RelaxedMMatch](kleeneEvents(ev.withWatermark(tsCol, delay),
        keyCol, tsCol, idCol, predA, predB, predC, valueCol),
      withinUs, maxPrefix) { (key, a, l, e) =>
      val s6 = a.bSum6s(l - 1)
      RelaxedMMatch(key, a.aId, l.toLong, a.bIds.head, a.bIds(l - 1),
        e.event_id, round4(s6), r4(BigDecimal(s6, 6).toDouble / l),
        e.ts_us - a.aTsUs)
    }
  }

  /** Streaming twin of [[graft.operators.IntervalOps.gapFillHourly]]:
    * zero-filled hourly aggregates emitted from a stream — the hard
    * part of gap filling under streaming semantics is that EMPTY hours
    * have no rows to trigger anything, so a plain windowed agg can
    * never emit them. Here each group key keeps a GRID CURSOR: when the
    * watermark passes an hour's end the cursor sweeps forward and emits
    * every hour up to it — present hours from their accumulator, absent
    * hours as explicit zeros. Sums accumulate as exact decimal(18,6)
    * micro-units, emission rounds exactly like the batch form, so
    * replay ∪ flush hash-matches the batch oracle.
    *
    * `loUs` anchors the grid origin (production: the pipeline's T0
    * config; the replay key derives it from the corpus min). A key
    * sweeps on its own arrivals — a totally silent key advances only at
    * the end-of-replay flush ([[StateFlush.gapFill]]), which drains the
    * cursor to the grid end.
    *
    * @note scale: state per key = the open hours inside the watermark
    *   horizon (cursor + ≤ horizon/hour accumulator entries); one
    *   shuffle on the group key. This is the timer-per-slot
    *   ProcessFunction Flink users write, with the cursor replacing
    *   per-slot timers. */
  def gapFillHourlyStream(ev: DataFrame, loUs: Long): Dataset[GapRow] = {
    val sp = ev.sparkSession
    import sp.implicits._
    keyedAutomaton[String, (String, Long, Long, java.sql.Timestamp), GapFillState, GapRow](
      ev.withWatermark("ts", "10 minutes")
        .select(col("event_type"),
          (unix_micros(col("ts")) - pmod(unix_micros(col("ts")), lit(HourUs)))
            .as("h_us"),
          (col("value").cast("decimal(18,6)") * lit(1000000L)).cast("long").as("v6"),
          col("ts"))
        .as[(String, Long, Long, java.sql.Timestamp)],
      _._1, GapFillState(loUs, Map.empty), None, None, _ => false, None)(
      { case (_, st, (_, h, v6, _), _) =>
        val (n0, s0) = st.pending.getOrElse(h, (0L, 0L))
        st.copy(pending = st.pending.updated(h, (n0 + 1L, s0 + v6)))
      }, gapFillClose)
  }

  /** [[gapFillHourlyStream]]'s close step: sweep the cursor over every
    * hour the watermark has passed the end of, emitting its accumulator
    * or an explicit zero. The replay drain runs it at the grid end. */
  private[streaming] val gapFillClose: Close[String, GapFillState, GapRow] =
    (key, st, wmUs, out) => {
      var nh = st.nextHourUs
      var pending = st.pending
      while (nh + HourUs <= wmUs) {
        val (n, s6) = pending.getOrElse(nh, (0L, 0L))
        out += GapRow(nh, key, n, round4(s6))
        pending -= nh
        nh += HourUs
      }
      GapFillState(nh, pending)
    }

  /** Streaming twin of
    * [[graft.operators.IntervalOps.sessionIdsCapped]]: gap+duration
    * sessionization as a keyed automaton. The label of every event is a
    * pure function of its key's PREFIX (the chain state is just the
    * open session's id/start and the previous event time), so each
    * arrival emits immediately — no watermark wait, no flush gap — and
    * a bounded replay equals the batch fold exactly. This is the
    * ProcessFunction Flink users write when session windows need a max
    * duration; state is three numbers per key.
    *
    * @note scale: identical shape to [[cepKleeneStream]] — one keyed
    *   state row per key, arrivals sorted per micro-batch. */
  def sessionIdsCappedStream(ev: DataFrame, keyCol: String, tsCol: String,
      idCol: String, gapUs: Long, capUs: Long): Dataset[SessCapRow] = {
    val sp = ev.sparkSession
    import sp.implicits._
    keyedAutomaton[Long, SessCapEvent, SessCapState, SessCapRow](
      ev.select(col(keyCol).as("k"), unix_micros(col(tsCol)).as("ts_us"),
          col(idCol).as("event_id"))
        .as[SessCapEvent],
      _.k, SessCapState(0, 0L, 0L), Some(e => (e.ts_us, e.event_id)), None,
      _ => false, None)((key, st, e, out) => {
      val next =
        if (st.sid == 0 || e.ts_us - st.prev > gapUs ||
            e.ts_us - st.start > capUs)
          SessCapState(st.sid + 1, e.ts_us, e.ts_us)
        else st.copy(prev = e.ts_us)
      out += SessCapRow(key, e.event_id, next.sid)
      next
    }, noClose)
  }

  /** Streaming twin of [[CepOps.cepKleeneMeasures]] — the
    * [[cepKleeneStream]] automaton carrying the MEASURES accumulator:
    * each loop event folds its value into the run state as an exact
    * decimal(18,6) micro-unit long, and emission rounds exactly the way
    * the batch form does (`round(dec, 4)` for the sum; decimal→double
    * cast then `round(double, 4)` for the mean — both via the same
    * `BigDecimal HALF_UP` Spark `round` implements). Still O(1) state
    * per key: the run aggregate is three numbers, not the run's rows.
    *
    * @note scale: identical shape to [[cepKleeneStream]] — one keyed
    *   state row per key; the measures add two longs to it. */
  def cepKleeneMeasuresStream(ev: DataFrame, keyCol: String, tsCol: String,
      idCol: String, predA: Column, predB: Column, predC: Column,
      withinUs: Long, valueCol: Column): Dataset[KleeneMeasuresMatch] = {
    val sp = ev.sparkSession
    import sp.implicits._
    kleeneContiguous[KleeneMeasuresMatch](
      kleeneEvents(ev, keyCol, tsCol, idCol, predA, predB, predC, valueCol),
      (sum6, e) => sum6 + e.v6) { (key, st, e) =>
      if (e.ts_us > st.runATsUs + withinUs) None
      else Some(KleeneMeasuresMatch(key, st.runAId, e.event_id,
        e.ts_us - st.runATsUs, st.nB, round4(st.acc),
        r4(BigDecimal(st.acc, 6).toDouble / st.nB), st.firstB, st.lastB))
    }
  }

  /** Streaming twin of [[CepOps.cepKleeneUntil]]: the SAME automaton as
    * [[cepKleeneStream]] with emission on the until-event instead of a
    * matched terminator — the stopper proves the run maximal and stays
    * outside the match, so the span ends at the last loop event. Zero
    * flush gap for the same reason as the kleene form. */
  def cepKleeneUntilStream(ev: DataFrame, keyCol: String, tsCol: String,
      idCol: String, predA: Column, predB: Column, predU: Column,
      withinUs: Long): Dataset[KleeneUntilMatch] = {
    val sp = ev.sparkSession
    import sp.implicits._
    // the run accumulates its last loop event's time: the span ends there
    kleeneContiguous[KleeneUntilMatch](
      kleeneEvents(ev, keyCol, tsCol, idCol, predA, predB, predU, lit(0L)),
      (_, e) => e.ts_us) { (key, st, _) =>
      if (st.acc > st.runATsUs + withinUs) None
      else Some(KleeneUntilMatch(key, st.runAId, st.nB, st.firstB, st.lastB,
        st.acc - st.runATsUs))
    }
  }

  /** T7: keyed stateful forward-fill (`flatMapGroupsWithState`): per user,
    * emit one row per hour carrying the latest observed value into hours
    * with no events. An hour is emitted when the first event of a later
    * hour arrives for that key; within an hour the (ts, event_id)-latest
    * event wins, mirroring the batch twin's max_by. */
  def forwardFill(ev: DataFrame): Dataset[FillRow] = {
    val sp = ev.sparkSession
    import sp.implicits._
    // a key's first event opens its first hour: the start state is null
    keyedAutomaton[Long, FillEvent, FillState, FillRow](
      ev.select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("event_id"), col("value"))
        .as[FillEvent],
      _.user_id, null, Some(e => (e.ts_us, e.event_id)), None, _ => false,
      None)((uid, st, e, out) => {
      val h = Math.floorDiv(e.ts_us, HourUs) * HourUs
      if (st == null) FillState(h, e.ts_us, e.event_id, e.value)
      else if (h > st.curHourUs) {
        var hh = st.curHourUs
        while (hh < h) { out += FillRow(uid, hh, st.curValue); hh += HourUs }
        FillState(h, e.ts_us, e.event_id, e.value)
      } else if (e.ts_us > st.curTsUs ||
        (e.ts_us == st.curTsUs && e.event_id > st.curEventId))
        FillState(st.curHourUs, e.ts_us, e.event_id, e.value)
      else st
    }, forwardFillClose)
  }

  /** [[forwardFill]]'s close step: the key's current hour emits once the
    * watermark passes its end (the stream itself is unwatermarked, so
    * only the end-of-replay drain runs it). */
  private[streaming] val forwardFillClose: Close[Long, FillState, FillRow] =
    (uid, st, wmUs, out) => {
      if (st.curHourUs + HourUs <= wmUs) out += FillRow(uid, st.curHourUs, st.curValue)
      st
    }

  /** Streaming twin of [[CepOps.cepSkipPastLast]]: the same greedy
    * skip-past-last-event automaton as a keyed fMGWS — a B event closes
    * a match with the earliest still-valid open A and discards all
    * partials; A events join the open queue if they start after the
    * last match. Emission happens ON the closing B, so a bounded replay
    * needs no state drain (an A the stream never matches is unmatched
    * in the batch form too — zero flush gap, like the Kleene automaton).
    *
    * Within-batch order is pinned by the (ts, id) sort; cross-batch
    * order comes from the replay's event-time chunking, the same
    * contract as [[cepKleeneStream]].
    *
    * @note scale: one shuffle on the key; state per key = the open-A
    *   queue, bounded by A-arrivals inside Δt (heads expire on every
    *   B), plus one long. */
  def cepSkipPastLastStream(ev: DataFrame, keyCol: String, tsCol: String,
      idCol: String, predA: Column, predB: Column,
      withinUs: Long): Dataset[SkipLastMatch] = {
    val sp = ev.sparkSession
    import sp.implicits._
    // `pos` outlives every match: a later A at exactly `pos` is read
    // against it, so only the start state itself is idle
    keyedAutomaton[Long, (Long, Long, Long, Boolean), SkipLastState, SkipLastMatch](
      ev.withColumn("__isa", when(predA, lit(true)).when(predB, lit(false)))
        .filter(col("__isa").isNotNull)
        .select(col(keyCol).as("k"), unix_micros(col(tsCol)).as("ts_us"),
          col(idCol).as("id"), col("__isa").as("isA"))
        .as[(Long, Long, Long, Boolean)],
      _._1, SkipLastState(Long.MinValue, Nil), Some(e => (e._2, e._3)), None,
      s => s.pos == Long.MinValue && s.open.isEmpty, None)(
      { case (k, st, (_, tsUs, id, isA), out) =>
        if (isA) {
          if (tsUs > st.pos) st.copy(open = st.open :+ ((tsUs, id))) else st
        } else {
          val open = st.open.dropWhile(_._1 < tsUs - withinUs)
          if (open.nonEmpty && open.head._1 < tsUs) {
            out += SkipLastMatch(k, open.head._2, id)
            SkipLastState(tsUs, Nil)
          } else st.copy(open = open)
        }
      }, noClose)
  }

  /** Streaming twin of [[CepOps.cepSkipToNext]]: each A-start matches
    * its earliest completing B in EVENT time — which under out-of-order
    * arrival is only provable once the watermark passes the candidate B
    * (an earlier-in-event-time B can no longer arrive). Per key the
    * state holds unresolved starts and the B buffer above the
    * watermark; on each invocation (new events, or the event-time
    * timer at the earliest pending deadline) every start whose minimal
    * candidate B has `b_ts ≤ wm` emits, starts with no possible B left
    * (`wm > a_ts + Δt`, none buffered) drop, and B's at or below the
    * watermark evict after the emission pass (a surviving start's
    * candidate is then provably above the watermark, and future starts
    * arrive above it too).
    *
    * @note scale: one shuffle on the key; state per key = starts + B's
    *   inside (watermark delay + Δt) — the inherent bound for
    *   event-time earliest-match semantics; a key with nothing pending
    *   holds no state row. Emission is append-only.
    *   Bounded-replay tail: drain with [[StateFlush.cepSkipToNext]]. */
  def cepSkipToNextStream(ev: DataFrame, keyCol: String, tsCol: String,
      idCol: String, predA: Column, predB: Column, withinUs: Long,
      delay: String = "30 minutes"): Dataset[SkipNextMatch] = {
    val sp = ev.sparkSession
    import sp.implicits._
    keyedAutomaton[Long, (Long, Long, Long, Boolean, java.sql.Timestamp),
        SkipNextState, SkipNextMatch](
      ev.withWatermark(tsCol, delay)
        .withColumn("__isa", when(predA, lit(true)).when(predB, lit(false)))
        .filter(col("__isa").isNotNull)
        .select(col(keyCol).as("k"), unix_micros(col(tsCol)).as("ts_us"),
          col(idCol).as("id"), col("__isa").as("isA"), col(tsCol))
        .as[(Long, Long, Long, Boolean, java.sql.Timestamp)],
      // the timer fires once the watermark reaches the earliest buffered
      // B (it emits or evicts) or passes a start's window (it drops), so
      // a quiet key is closed without waiting for its next event
      _._1, SkipNextState(Nil, Nil), None, Some(_._2),
      s => s.openA.isEmpty && s.bufB.isEmpty,
      Some((_, s) => (s.bufB.iterator.map(_._1 - 1) ++
        s.openA.iterator.map(_._1 + withinUs)).min))(
      { case (_, st, (_, ts, id, isA, _), _) =>
        if (isA) st.copy(openA = st.openA :+ ((ts, id)))
        else st.copy(bufB = st.bufB :+ ((ts, id)))
      }, skipToNextClose(withinUs))
  }

  /** [[cepSkipToNextStream]]'s close step at watermark `wmUs`: every
    * start whose minimal candidate B is at or below it emits, a start
    * with no candidate whose window the watermark has passed drops, and
    * B's at or below it evict. */
  private[streaming] def skipToNextClose(
      withinUs: Long): Close[Long, SkipNextState, SkipNextMatch] =
    (k, st, wmUs, out) => {
      val bufB = st.bufB.sortBy(identity)
      val openA = st.openA.sortBy(identity).filter { case (aTs, aId) =>
        bufB.find { case (bTs, _) =>
          bTs > aTs && bTs <= aTs + withinUs } match { // sorted → first is minimal
          case Some((bTs, bId)) if bTs <= wmUs =>
            out += SkipNextMatch(k, aId, bId, bTs - aTs)
            false
          case Some(_) => true // candidate above the watermark — wait
          case None => wmUs <= aTs + withinUs // a B may still come
        }
      }
      SkipNextState(openA, bufB.filter(_._1 > wmUs))
    }

  /** Event-time OVER aggregation on a stream (Flink SQL
    * `SUM(value) OVER (PARTITION BY key ORDER BY ts ROWS BETWEEN n
    * PRECEDING AND CURRENT ROW)` — the per-row running frame Flink's
    * streaming OVER window computes): one output row per input row
    * carrying the sum over the last `nPrec`+1 rows of that key in
    * event-time order.
    *
    * Event-time OVER is order-sensitive, so rows cannot be emitted on
    * arrival: a row is emittable only once the watermark proves no
    * earlier row can still arrive. Each key buffers rows above the
    * watermark (`pending`), emits the newly-provable prefix in
    * `(ts, event_id)` order on each invocation, and keeps just the last
    * `nPrec` emitted values (`ctx`) as the frame seed for the next
    * emission — exactly Flink's streaming OVER protocol (buffer until
    * watermark, emit in time order, drop late rows).
    *
    * Determinism: emissions depend only on (key, sorted rows), never on
    * micro-batch boundaries; sums are exact integer arithmetic on the
    * DECIMAL(18,4) grid, so streamed ∪ flushed hash-matches the batch
    * window-function twin on any chunking.
    *
    * Bounded-replay tail: rows above the final watermark stay pending —
    * drain them with [[StateFlush.overRows]] (they are complete in
    * state, so streamed ∪ flushed is the full result).
    *
    * @note scale: one shuffle on the key; state per key = the rows
    *   inside the watermark horizon plus `nPrec` longs — the inherent
    *   lower bound for event-time OVER (Flink keeps the same buffer).
    *   Emission is append-only, so any sink works. */
  def overRows(ev: DataFrame, nPrec: Int = 3,
      delay: String = "30 minutes"): Dataset[OverRow] = {
    val sp = ev.sparkSession
    import sp.implicits._
    keyedAutomaton[Long, (Long, Long, Long, Long, java.sql.Timestamp), OverState, OverRow](
      ev.withWatermark("ts", delay)
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("event_id"),
          (col("value").cast(org.apache.spark.sql.types.DecimalType(18, 4)) *
            lit(10000L)).cast("long").as("c4"),
          col("ts")) // the watermark-tagged column must reach the operator
        .as[(Long, Long, Long, Long, java.sql.Timestamp)],
      // rows at or below the current watermark are late (their emission
      // slot has passed) — dropped, Flink's OVER late-row behavior
      _._1, OverState(Nil, Nil), None, Some(_._2), _ => false, None)(
      { case (_, st, (_, tsUs, id, c4, _), _) =>
        st.copy(pending = st.pending :+ OverPend(tsUs, id, c4))
      }, overRowsClose(nPrec))
  }

  /** [[overRows]]'s close step: emit the pending rows at or below the
    * watermark in `(ts, event_id)` order, each framed by the key's last
    * `nPrec` emitted values. */
  private[streaming] def overRowsClose(
      nPrec: Int): Close[Long, OverState, OverRow] = (uid, st, wmUs, out) => {
    val (ready, pend) = st.pending.sortBy(p => (p.ts_us, p.event_id))
      .partition(_.ts_us <= wmUs)
    var ctx = st.ctx
    ready.foreach { p =>
      val frame = ctx :+ p.c4
      ctx = frame.takeRight(nPrec)
      out += OverRow(uid, p.event_id, frame.size, BigDecimal(frame.sum, 4).toDouble)
    }
    OverState(ctx, pend)
  }

  /** O4: continuous global Top-N (Flink's retract-stream Top-N). File
    * sinks are append-only, so the retraction lives in a driver-side
    * tracker updated per micro-batch via foreachBatch: each batch
    * contributes its local top-k (computed distributed), the tracker
    * keeps the global top-k. Returns the tracker and the configured
    * writer — caller starts it and reads `tracker.current` at any time.
    *
    * @note scale: per batch only k rows reach the driver; the heavy
    *   ordering runs as TakeOrderedAndProject on the executors. */
  def topNContinuous(ev: DataFrame, k: Int, valueCol: String, idCol: String)
      : (TopNTracker, org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row]) = {
    val tracker = new TopNTracker(k)
    val writer = ev.select(col(valueCol).as("value"), col(idCol).as("id"))
      .writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
        val localTop = batch.orderBy(col("value").desc, col("id")).limit(k)
          .collect().map(r => (r.getDouble(0), r.getLong(1)))
        tracker.offer(localTop)
        ()
      }
    (tracker, writer)
  }

  /** Count-based tumbling windows (Flink `countWindow(n)`): per key,
    * emit one row per completed block of `n` events in arrival order.
    * State is one (bucket, count, exact-decimal sum) triple per key; a
    * partial final bucket stays in state and
    * [[StateFlush.countWindows]] drains it — streamed ∪ flush equals
    * the batch twin `window_count_based` exactly
    * (`stream_countwin_replay` gates it under the same oracle).
    * Arrival order within a micro-batch is pinned by sorting on
    * (ts, event_id), matching the batch twin's ordering; sums ride the
    * [[graft.Det]] micro-unit grid so they are order-independent and
    * cross-engine exact. */
  def countWindows(ev: DataFrame, n: Int = 10): Dataset[CountWinRow] = {
    val sp = ev.sparkSession
    import sp.implicits._
    keyedAutomaton[Long, CountWinEvent, CountWinState, CountWinRow](
      ev.select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("event_id"),
          (col("value").cast(org.apache.spark.sql.types.DecimalType(18, 6)) *
            lit(1000000L)).cast("long").as("v6"))
        .as[CountWinEvent],
      _.user_id, CountWinState(0, 0, 0L), Some(e => (e.ts_us, e.event_id)),
      None, _ => false, None)((uid, st, e, out) => {
      val next = CountWinState(st.bucket, st.cnt + 1, st.sum6 + e.v6)
      if (next.cnt != n) next
      else {
        out += CountWinRow(uid, next.bucket, next.cnt, round4(next.sum6))
        CountWinState(next.bucket + 1, 0, 0L)
      }
    }, countWindowsClose)
  }

  /** [[countWindows]]' close step: a partial bucket is final only at
    * the end of the stream. */
  private[streaming] val countWindowsClose: Close[Long, CountWinState, CountWinRow] =
    (uid, st, wmUs, out) => {
      if (st.cnt > 0 && wmUs == EndOfStream)
        out += CountWinRow(uid, st.bucket, st.cnt, round4(st.sum6))
      st
    }

  /** T5: late-row side-channel — the Flink `sideOutputLateData` parity
    * operator the divergence note above only documented until now. Spark
    * drops below-watermark rows inside its stateful operators with no
    * side output, so the capture runs as a foreachBatch splitter that
    * tracks the event-time watermark itself using Spark's own update
    * rule: the watermark applied to batch N is max(event time) over
    * batches 0..N-1 minus the delay (before any batch completes nothing
    * is late). Each micro-batch is split on that horizon and BOTH sides
    * are handed to `onBatch(onTime, late, batchId)` — route on-time rows
    * to the main sink/aggregation and late rows to the capture sink.
    * Run it alongside the main windowed query on the same source with
    * the same delay and the two watermarks advance in lockstep, so the
    * captured set is exactly the rows the main query dropped (asserted
    * by `LateDataSpec`).
    *
    * Restart semantics: Spark persists the MAIN query's watermark in
    * its checkpoint, while this shadow watermark lives on the driver —
    * so after a restart with no `persistDir` the shadow resets to -∞
    * and rows the main query still drops are classified on-time until
    * the shadow re-derives (the two horizons re-converge after one
    * batch with data). Pass `persistDir` to close that gap: the shadow
    * horizon is persisted (atomic tmp+rename) after every batch and
    * restored on the next start, mirroring the checkpointed watermark's
    * lifecycle. On batch REPLAY after a crash (same batchId re-run) the
    * persisted horizon is the one from after that batch's first
    * attempt — a ≥ horizon, i.e. the replayed split is never more
    * permissive than the main query's.
    *
    * @note scale: the split is two narrow filters on a persisted
    *   micro-batch plus one max() agg — no extra shuffle, no state
    *   store; the watermark is one long on the driver (plus one tiny
    *   file write per batch when persisted), updated at batch
    *   boundaries exactly like Spark's own `EventTimeWatermarkExec`
    *   stats. */
  def lateCapture(ev: DataFrame, tsCol: String, delay: String,
      persistDir: Option[String] = None)(
      onBatch: (DataFrame, DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val iv = org.apache.spark.sql.catalyst.util.IntervalUtils.stringToInterval(
      org.apache.spark.unsafe.types.UTF8String.fromString(delay))
    require(iv.months == 0, s"late-capture delay must be a fixed duration, got '$delay'")
    val delayUs = iv.days * 86400L * 1000000L + iv.microseconds
    val wmPath = persistDir.map(d => java.nio.file.Paths.get(d, "late-capture-wm"))
    val restored = wmPath.filter(java.nio.file.Files.exists(_))
      .map(p => new String(java.nio.file.Files.readAllBytes(p), "UTF-8").trim.toLong)
    val wm = new java.util.concurrent.atomic.AtomicLong(restored.getOrElse(Long.MinValue))
    ev.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      batch.persist()
      try {
        val horizon = wm.get()
        val tsUs = unix_micros(col(tsCol))
        onBatch(batch.filter(tsUs >= lit(horizon)),
          batch.filter(tsUs < lit(horizon)), batchId)
        val mx = batch.agg(max(unix_micros(col(tsCol)))).collect()(0)
        if (!mx.isNullAt(0)) wm.getAndUpdate { cur =>
          math.max(cur, mx.getLong(0) - delayUs)
        }
        wmPath.foreach { p =>
          java.nio.file.Files.createDirectories(p.getParent)
          val tmp = p.resolveSibling("late-capture-wm.tmp")
          java.nio.file.Files.write(tmp, wm.get().toString.getBytes("UTF-8"))
          java.nio.file.Files.move(tmp, p,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        }
      } finally { batch.unpersist(); () }
      ()
    }
  }

  /** Windowed hot-key monitor — the streaming face of
    * [[graft.operators.ProfileOps.keySkew]]: per tumbling hour, the
    * user_ids whose event count reaches `minCount`. The alert feed a
    * pipeline watches for emerging skew (a key heating up BEFORE it
    * melts a downstream join) or abuse (one principal hammering the
    * system). Identical code runs batch and streaming: on a batch
    * frame the watermark is a no-op and the same plan carries the
    * DuckDB-checked `stream_skew_monitor` key.
    *
    * @note scale: one windowed hash agg keyed by (window, user) —
    *   state bounded by active windows × distinct keys and evicted by
    *   the watermark; the threshold filter is stateless post-agg, so
    *   append mode emits only closed hot windows. */
  def skewMonitor(ev: DataFrame, minCount: Long = 2L): DataFrame =
    ev.withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount)
      .select(col("w.start").cast("string").as("ws"), col("user_id"), col("n"))

  /** In-flight named metrics — Flink counter/metric-group parity.
    * `Dataset.observe` evaluates the aggregate expressions INSIDE the
    * running job via accumulators (no second pass over the data, unlike
    * a separate `.agg()` action): per micro-batch the values arrive in
    * `StreamingQueryProgress.observedMetrics(name)`; in batch jobs a
    * `QueryExecutionListener` reads the same map. This is how a 100 TB
    * pipeline exports rows-processed / bad-row / freshness counters
    * without paying an extra aggregation over the input.
    *
    * @note scale: each metric is one accumulator merged at task
    *   completion — cost is per-TASK, not per-row beyond the expression
    *   eval; keep metric expressions simple aggregates (count/sum/min/
    *   max/avg) so they stay inside codegen. */
  def observed(df: DataFrame, name: String,
      first: org.apache.spark.sql.Column,
      rest: org.apache.spark.sql.Column*): DataFrame =
    df.observe(name, first, rest: _*)

  /** Dynamic rule application — Flink broadcast-state parity
    * (`BroadcastProcessFunction`: a low-throughput rule stream is
    * shipped to every task and the LATEST rules apply to the main
    * stream). Spark's streaming joins only support static or
    * stream-stream sides, so the idiomatic equivalent re-resolves the
    * small rule table at every micro-batch boundary: `loadRules` is
    * invoked once per batch (read a parquet/Delta control table, a
    * JDBC config store, an in-memory registry...), broadcast, and
    * handed to `apply` together with the batch. Rules therefore change
    * BETWEEN batches, never mid-batch — which is also Flink's
    * practical granularity, since its rule broadcasts interleave with
    * data records per-task with no global cut.
    *
    * @note scale: the rule table re-read is once per BATCH, not per
    *   row or per task — a few-hundred-row broadcast every trigger.
    *   The main stream never re-shuffles for the rules (broadcast hash
    *   join); state is zero, so this composes with any downstream
    *   stateful operator inside `apply`. */
  def dynamicRules(ev: DataFrame,
      loadRules: org.apache.spark.sql.SparkSession => DataFrame)(
      apply: (DataFrame, DataFrame) => DataFrame)(
      onBatch: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    ev.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      onBatch(apply(batch, broadcast(loadRules(batch.sparkSession))), batchId)
      ()
    }

  /** Flink "Window Top-N" (SQL `ROW_NUMBER() OVER (PARTITION BY window
    * ...)` ≤ k): per tumbling hour, the k keys with the most events —
    * emitted ONCE when the watermark closes the window, never
    * retracted. Spark's append mode can't rank inside a windowed agg,
    * so the operator is a `flatMapGroupsWithState` keyed by WINDOW
    * START: state accumulates per-key counts (pre-shrunk map-side by
    * the shuffle on ws), an event-time timer at window end + delay
    * fires the one-shot top-k emission and clears the state.
    *
    * The batch twin (agg + rank window, `stream_window_topn`) carries
    * the oracle; `WindowTopNSpec` pins timer-gated emission and final
    * equality.
    *
    * @note scale: state per window is the distinct-key count map of ONE
    *   hour — bounded by active keys/hour, evicted at timeout; shuffle
    *   is one exchange on ws. Ties break (n DESC, key ASC) so emission
    *   is deterministic. */
  def windowTopN(ev: DataFrame, k: Int = 3,
      delayMs: Long = 10 * 60 * 1000L): Dataset[WinTopRow] = {
    val sp = ev.sparkSession
    import sp.implicits._
    // the watermarked ts column must SURVIVE the projection — the
    // event-time-timeout checker requires the tagged attribute in the
    // fMGWS child, even though only ws_us/user_id feed the state
    keyedAutomaton[Long, (Long, Long, java.sql.Timestamp), WinTopState, WinTopRow](
      ev.withWatermark("ts", "10 minutes")
        .select((unix_micros(col("ts")) - pmod(unix_micros(col("ts")), lit(HourUs)))
          .as("ws_us"), col("user_id"), col("ts"))
        .as[(Long, Long, java.sql.Timestamp)],
      _._1, WinTopState(Map.empty), None, None, _.counts.isEmpty,
      Some((ws, _) => ws + HourUs + delayMs * 1000L))(
      { case (_, st, (_, uid, _), _) =>
        WinTopState(st.counts.updated(uid, st.counts.getOrElse(uid, 0L) + 1L))
      }, windowTopNClose(k, delayMs))
  }

  /** [[windowTopN]]'s close step: once the watermark passes the
    * window's end + delay, emit its top k by (n DESC, key ASC) and clear
    * it. */
  private[streaming] def windowTopNClose(k: Int,
      delayMs: Long): Close[Long, WinTopState, WinTopRow] = (ws, st, wmUs, out) =>
    if (wmUs <= ws + HourUs + delayMs * 1000L) st
    else {
      st.counts.toSeq.sortBy { case (uid, n) => (-n, uid) }.take(k).zipWithIndex
        .foreach { case ((uid, n), i) => out += WinTopRow(ws, uid, n, i + 1) }
      WinTopState(Map.empty)
    }

  /** Flink-style CUMULATE windows (`CUMULATE(ts, step, size)`): each
    * event lands in every expanding window `[ws, ws + k·step)` whose end
    * lies in `(ts, ws + size]`, where `ws = floor(ts, size)` — the
    * "running total that resets every `size`" dashboards want without
    * the update-mode churn of a plain running sum.
    *
    * One function serves batch and COMPLETE-mode streaming: the agg
    * groups on the derived, exploded window ends, which carry no
    * event-time tag — so a streamed append-mode use fails analysis
    * loudly ("streaming aggregation without watermark") instead of
    * silently dropping data. (An earlier revision watermarked the
    * exploded end column; since every event emits ends up to its full
    * `ws + size`, one early event advanced the watermark past all
    * earlier cumulative sub-windows and append mode lost every event
    * arriving in a later micro-batch of the same window. Append-mode
    * streaming lives in [[cumulateAppend]], which watermarks the REAL
    * event-time column.)
    *
    * All bucket math is integer epoch-µs (`unix_micros`), never
    * double division — `pmod` keeps the grid exact at any epoch.
    *
    * @note scale: explode fan-out is `size/step` (a small constant, 4
    *   here) and the single shuffle groups on (ws, we) — same cost
    *   shape as Spark's own sliding windows, which materialize the
    *   per-slide copies identically. */
  def cumulate(ev: DataFrame, sizeHours: Int = 4, stepMinutes: Int = 60): DataFrame = {
    val sizeUs = sizeHours * 3600L * 1000000L
    val stepUs = stepMinutes * 60L * 1000000L
    ev.select(unix_micros(col("ts")).as("ts_us"), col("value"))
      .withColumn("ws_us", col("ts_us") - pmod(col("ts_us"), lit(sizeUs)))
      .withColumn("we_us", explode(sequence(
        col("ts_us") - pmod(col("ts_us"), lit(stepUs)) + lit(stepUs),
        col("ws_us") + lit(sizeUs), lit(stepUs))))
      .groupBy(col("ws_us"), col("we_us"))
      .agg(count(lit(1)).as("n"), Det.dsum(col("value")).as("sum_value"))
      .select(col("ws_us"), col("we_us"), col("n"), col("sum_value"))
  }

  /** Append-mode CUMULATE — the streaming face of [[cumulate]] with
    * correct per-event lateness: the watermark rides the REAL event-time
    * column `ts`, so an event is late only when `ts` itself falls behind
    * the watermark, never because an earlier event of the same window
    * pre-announced later window ends.
    *
    * Shape: fMGWS keyed by window start. State holds one exact partial
    * aggregate per `step` bucket (value pre-scaled to ×10⁶ longs, the
    * same DECIMAL(18,6) grid as [[graft.Det.dsum]], so streamed sums are
    * bit-equal to the batch twin under any arrival order). An event-time
    * timer at the earliest un-emitted sub-window end fires the one-shot
    * cumulative emission for every end the watermark has passed; state
    * drops once the last end (`ws + size`) emits.
    *
    * Emission ↔ lateness consistency: an end `we` emits only once the
    * watermark ≥ `we`, and fMGWS filters input rows with `ts` below the
    * watermark — so any event that could still land in a bucket ≤ `we`
    * (its `ts < we`) is provably dropped-as-late before `we` can have
    * emitted without it. Ends whose OWN bucket is empty still emit
    * (cumulative totals repeat), exactly like the batch grid.
    *
    * Bounded-replay tail: ends past the final watermark never fire —
    * flush them with [[graft.streaming.StateFlush]] (statestore reader)
    * or compare up to the final-watermark horizon.
    *
    * @note scale: state per window = ≤ size/step (n, sum) pairs + one
    *   long — O(1); one exchange on ws. Timers fire once per step, not
    *   per event. */
  def cumulateAppend(ev: DataFrame, sizeHours: Int = 4, stepMinutes: Int = 60,
      delay: String = "10 minutes"): Dataset[CumRow] = {
    val sp = ev.sparkSession
    import sp.implicits._
    val sizeUs = sizeHours * 3600L * 1000000L
    val stepUs = stepMinutes * 60L * 1000000L
    keyedAutomaton[Long, (Long, Long, java.sql.Timestamp), CumState, CumRow](
      ev.withWatermark("ts", delay)
        .select(unix_micros(col("ts")).as("ts_us"),
          (col("value").cast(org.apache.spark.sql.types.DecimalType(18, 6)) *
            lit(1000000L)).cast("long").as("v6"), col("ts"))
        .as[(Long, Long, java.sql.Timestamp)],
      t => t._1 - Math.floorMod(t._1, sizeUs), CumState(Map.empty, Long.MinValue),
      None, None, _.steps.isEmpty, Some((_, st) => cumNextEnd(st, stepUs)))(
      // merge each event into its own step bucket
      { case (_, st, (tsUs, v6, _), _) =>
        val we = tsUs - Math.floorMod(tsUs, stepUs) + stepUs
        val (n0, s0) = st.steps.getOrElse(we, (0L, 0L))
        st.copy(steps = st.steps.updated(we, (n0 + 1L, s0 + v6)))
      }, cumulateClose(sizeUs, stepUs))
  }

  /** The earliest sub-window end a [[CumState]] has not emitted. */
  private def cumNextEnd(st: CumState, stepUs: Long): Long =
    math.max(st.steps.keysIterator.min, st.emittedUpTo + stepUs)

  /** [[cumulateAppend]]'s close step: emit every un-emitted sub-window
    * end at or below the watermark with its exact cumulative partials;
    * the window is done (and its state idle) once `ws + size` emits. */
  private[streaming] def cumulateClose(sizeUs: Long,
      stepUs: Long): Close[Long, CumState, CumRow] = (ws, st, wmUs, out) => {
    val weLast = ws + sizeUs
    val due = Iterator.iterate(cumNextEnd(st, stepUs))(_ + stepUs)
      .takeWhile(we => we <= wmUs && we <= weLast).toList
    due.foreach { we =>
      val (n, s6) = st.steps.iterator.filter(_._1 <= we)
        .foldLeft((0L, 0L)) { case ((a, b), (_, (n2, s2))) => (a + n2, b + s2) }
      out += CumRow(ws, we, n, round4(s6))
    }
    val emitted = due.lastOption.getOrElse(st.emittedUpTo)
    if (emitted >= weLast) CumState(Map.empty, Long.MinValue)
    else st.copy(emittedUpTo = emitted)
  }

  /** Flink temporal-TABLE join (`FOR SYSTEM_TIME AS OF` event time)
    * against a versioned dimension: each fact row joins the ONE dim
    * version whose validity interval `[valid_from, valid_to)` contains
    * its lookup time (`valid_to` NULL = current). Left join so facts
    * predating the first version survive with NULL attributes.
    *
    * Stream-static form: the dim is re-read and re-broadcast per
    * micro-batch (dimension updates become visible between batches —
    * Flink's processing-time temporal join refresh semantics), the
    * stream side never shuffles and no state is kept.
    *
    * @note scale: versions tile the timeline disjointly per key, so the
    *   join is 1:≤1 — no fan-out. The dim must stay broadcast-sized
    *   (versions × keys); for dims beyond that, pre-bucket both sides
    *   on the key and use [[graft.plans.AsOfJoin]] instead. */
  def temporalJoinStatic(fact: DataFrame, dim: DataFrame,
      factKey: String, dimKey: String, lookup: Column,
      validFrom: String, validTo: String): DataFrame =
    fact.join(broadcast(dim),
      fact(factKey) === dim(dimKey) && lookup >= dim(validFrom) &&
        (dim(validTo).isNull || lookup < dim(validTo)), "left")

  /** T8: CEP-lite stream-stream self-join — "error then purchase within
    * 10 minutes, same user". Watermarks on both sides + the time-bound
    * condition let the join state be evicted as event time advances. */
  def cepSequence(ev: DataFrame): DataFrame = {
    val a = ev.withWatermark("ts", "10 minutes")
      .filter(col("event_type") === "error")
      .select(col("user_id"), col("ts").as("a_ts"), col("event_id").as("a_id"))
    val b = ev.withWatermark("ts", "10 minutes")
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("b_uid"), col("ts").as("b_ts"), col("event_id").as("b_id"))
    a.join(b, col("user_id") === col("b_uid") && col("b_ts") > col("a_ts") &&
        col("b_ts") <= col("a_ts") + expr("INTERVAL 10 MINUTES"))
      .select(col("user_id"), col("a_id"), col("b_id"),
        (unix_micros(col("b_ts")) - unix_micros(col("a_ts"))).as("gap_us"))
  }
}
