package graft.streaming

import graft.operators.ViewOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructType}
import java.nio.file.{Files, Path}

/** CONTINUOUS materialized-view maintenance on the real streaming
  * runtime — the production shape of [[graft.operators.ViewOps]]: the
  * changelog arrives as a stream of signed-multiplicity rows, and each
  * micro-batch advances durable state in write-ahead-log order,
  *
  *   - the batch's DELTA-LOG SLICE is committed first (the lakehouse
  *     transaction-log shape, keyed by batchId so a replayed batch
  *     overwrites its own slice),
  *   - each base is then COMPACTED in its versioned side store: the
  *     new batchId-keyed snapshot is the previous snapshot with the
  *     slice's signed weights reconciled (only delta-touched payloads
  *     pass through the weighted group-by; everything else is carried
  *     over by an anti-join against the delta-sized touched set),
  *   - the VIEW itself, versioned per batch, advances via the caller's
  *     maintain step (e.g. [[ViewOps.maintainAggView]]: counts/sums
  *     delta-merged, min/max recomputed only for delete-touched groups
  *     against the snapshot PRUNED to those groups),
  *   - and only then are the consumed slice and the superseded
  *     snapshots truncated.
  *
  * Steps that do not depend on each other run AT THE SAME TIME (`both`):
  * in both loops the seeding of the stores and of view version 0 runs
  * alongside the changelog staging, and in the join loop each batch's
  * view step runs alongside the compaction of each side. At micro-batch
  * sizes a loop is driver-bound — each Spark job is tens of
  * milliseconds of scheduling around milliseconds of compute — so
  * overlapping independent jobs, not faster operators, is what shortens
  * it (SCALE.md § "View maintenance"). Overlap is safe because the
  * overlapped steps read only immutable versions and write disjoint
  * directories, truncation waits for all of them, and every worker
  * thread is created by the thread that waits for it: a batch's workers
  * inherit the stream's job group, so a failed or stopped query cancels
  * their jobs, and each sets its own `vm: <phase>` job description.
  *
  * The final view hash-matches the full-recompute oracle on the new
  * snapshot, certifying that a continuously-maintained view never
  * drifts from what a batch rebuild would produce.
  *
  * The changelog is staged and fed by [[BoundedReplay.stage]] and
  * [[BoundedReplay.feed]], the same chunk stager and feeder the
  * bounded replay keys run on: one chunk is one micro-batch. Both
  * loops keep their bases in one [[SideStore]] each (the single-table
  * loop one, the join loop one per input). A loop that returns
  * releases its scratch — every tree but the returned view version,
  * and the changelog stage; a loop that fails keeps its state.
  *
  * @note scale: per micro-batch the work is (a) one delta-sized slice
  *   commit, (b) one base compaction — the base is scanned (twice: the
  *   carry-over anti join and the touched semi join, sharing one
  *   exchange) and rewritten once; the join strategy is LEFT TO AQE,
  *   so a true (small) delta broadcasts for free while a bulk-churn
  *   slice shuffles instead of force-broadcasting itself into a
  *   driver OOM — and (c) a view merge sized by touched groups. Batch
  *   cost is therefore FLAT in batch count (the old design re-read
  *   base + every prior slice per batch, linear in batches). The
  *   compaction trade: each batch pays one O(base) read+write of the
  *   snapshot instead of an O(base + batches·delta) read — honest on
  *   an UNPARTITIONED base too, since nothing relies on partition
  *   elimination; the bucketed store layout rewrites touched buckets
  *   only. foreachBatch retries are idempotent: slice, snapshot and
  *   view version are all keyed by batchId, batch N reads only
  *   snapshot `s<N>` and view `v<N>`, and `s<N>` is truncated only
  *   AFTER all of the batch's outputs commit. So while `s<N>` exists a
  *   replayed batch rewrites the same outputs from the same inputs,
  *   and once it is gone the batch has committed and only finishes its
  *   truncation. Measured
  *   (sf0.1, SCALE.md § "View maintenance"): the three
  *   `stream_*view*_replay` bench keys' changelog is 447 k signed rows
  *   against a 560 k-row base — a deliberate 75%-churn full-taxonomy
  *   fixture — so their bench cost is churn mass, not maintenance
  *   overhead.
  */
object ViewMaintain {

  // shuffle partitions of the maintainers' isolated sessions
  // (compaction group-by, view merges): each micro-batch carries
  // kilobytes to megabytes at the fixture scales; a deployment sizes
  // this to the per-compaction input (delta + touched base mass)
  private val ShufflePartitions = 8

  /** Replay `deltas` (signed rows, [[ViewOps.rowDeltas]] schema) in
    * `chunks` range-ordered micro-batches over `orderCol`, maintaining
    * the view built from `oldBase` by `groupCols`/`sumCols`/
    * `minMaxCols`. Row identity for multiset cancellation is the FULL
    * payload tuple; duplicate payloads are handled exactly (net weight
    * ≥ 1 keeps that many copies, an over-delete fails loudly). Returns
    * the final maintained view. */
  def maintainViewStream(spark: SparkSession, oldBase: DataFrame,
      deltas: DataFrame, orderCol: String, chunks: Int,
      groupCols: Seq[String], sumCols: Seq[String],
      minMaxCols: Seq[String],
      snapshotBuckets: Option[Int] = None): DataFrame = {
    val aggs = Seq(count(lit(1)).as("cnt")) ++
      sumCols.map(c => sum(col(c)).as("sum_" + c)) ++
      minMaxCols.flatMap(c => Seq(min(col(c)).as("min_" + c),
        max(col(c)).as("max_" + c)))
    maintainCustomViewStream(spark, oldBase, deltas, orderCol, chunks,
      groupCols,
      buildView = b => b.groupBy(groupCols.map(col): _*)
        .agg(aggs.head, aggs.tail: _*),
      maintain = (prev, batch, live) =>
        ViewOps.maintainAggView(prev, batch, live,
          groupCols, sumCols, minMaxCols),
      snapshotBuckets = snapshotBuckets)
  }

  /** [[maintainViewStream]] for a per-group TOP-K leaderboard view
    * ([[ViewOps.maintainTopKView]]): same delta-log + versioned-view
    * loop, the per-batch step the k-generalized regime split. */
  def maintainTopKViewStream(spark: SparkSession, oldBase: DataFrame,
      deltas: DataFrame, orderCol: String, chunks: Int,
      groupCols: Seq[String], scoreCol: String, idCol: String,
      k: Int, snapshotBuckets: Option[Int] = None): DataFrame =
    maintainCustomViewStream(spark, oldBase, deltas, orderCol, chunks,
      groupCols,
      buildView = b => ViewOps.topKView(b, groupCols, scoreCol, idCol, k),
      maintain = (prev, batch, live) =>
        ViewOps.maintainTopKView(prev, batch, live,
          groupCols, scoreCol, idCol, k),
      snapshotBuckets = snapshotBuckets)

  /** The generic single-table core: stage the changelog into `chunks`
    * range-ordered micro-batches, and per batch (a) commit the
    * batchId-keyed log slice, (b) compact the base snapshot with
    * exactly that slice, (c) advance the batchId-versioned view with
    * `maintain`, handing it the new base pruned to the delete-touched
    * groups, and then truncate the slice and the superseded snapshot.
    * `buildView` seeds version 0 from the base snapshot. An EMPTY
    * changelog replays no batches (detected for free in the staging
    * bounds pass), so version 0 — `buildView` on the base snapshot —
    * is the result.
    *
    * `snapshotBuckets = Some(n)` switches the base store to
    * hash-bucketed directories keyed on `groupCols` (see
    * [[SideStore]]): compaction reconciles and rewrites only the
    * buckets the slice touches, and the delete-touched-group rescan
    * partition-prunes at the scan. The default None keeps the flat
    * single-directory snapshot (right for the uniform-churn bench
    * fixtures, where every bucket is touched and bucketing would only
    * add write fan-out). Hashes are identical either way —
    * `ViewOpsSpec` pins bucketed == flat. */
  def maintainCustomViewStream(spark: SparkSession, oldBase: DataFrame,
      deltas: DataFrame, orderCol: String, chunks: Int,
      groupCols: Seq[String],
      buildView: DataFrame => DataFrame,
      maintain: (DataFrame, DataFrame, DataFrame) => DataFrame,
      snapshotBuckets: Option[Int] = None): DataFrame = {
    require(deltas.columns.toSet == oldBase.columns.toSet + "w",
      s"delta schema ${deltas.columns.mkString(",")} must be the base " +
        s"schema ${oldBase.columns.mkString(",")} plus 'w' — a base " +
        "column absent from the changelog would read as NULL in the " +
        "delta log and break full-payload multiset cancellation")
    val root = graft.Scratch.dir("graft-view-maintain")
    val viewDir = Files.createDirectories(root.resolve("view"))
    val base = new SideStore(root.resolve("snap"), oldBase.schema,
      groupCols, snapshotBuckets)
    val sliceSchema = widen(deltas.schema)

    // per-batch plans here are micro-batch-sized (KB..tens of MB): AQE
    // re-plans per query stage and submits each stage as its own job,
    // which at this granularity is pure scheduling overhead (measured
    // r16, OPTIMIZATION_r16.md: 12 jobs per view step); static planning
    // with the session's small fixed partition count takes one job per
    // action. A production deployment with unbounded per-batch volume
    // keeps AQE on — this session is sized per micro-batch by contract.
    // (The two-input loop keeps AQE on; see maintainJoinViewStream.)
    val ss = LocalFs.microBatchSession(spark, ShufflePartitions, "hdfs",
      aqe = false)

    // durable state seeds: base snapshot s0 + view version v0
    replay(spark, ss, root, deltas, orderCol, chunks) {
      phase(ss.sparkContext, "seed snapshot") { base.seed(oldBase) }
      phase(ss.sparkContext, "seed view") {
        val v0 = buildView(base.rows(ss, 0))
        v0.write.parquet(viewDir.resolve("v0").toString)
        widen(v0.schema)
      }
    } { (viewSchema, sb, batchId, sliceDir) =>
      // s{batchId} gone: this is a retry of a batch that committed
      if (base.has(batchId)) {
        val slice = sb.read.schema(sliceSchema).parquet(sliceDir.toString)
        // compact: s{batchId+1} = s{batchId} ⊎ this slice
        phase(sb.sparkContext, s"b$batchId compact") {
          base.compact(sb, batchId, slice)
        }
        // advance view v{batchId} -> v{batchId+1}; the maintain step
        // only rescans delete-touched groups, so hand it the new base
        // pruned to those groups
        phase(sb.sparkContext, s"b$batchId view") {
          val negKeys = slice.filter(col("w") < 0)
            .select(groupCols.map(col): _*).distinct()
          val pruned = base.rowsInBucketsOf(sb, batchId + 1, negKeys)
            .join(negKeys, groupCols, "left_semi")
          val prev = sb.read.schema(viewSchema)
            .parquet(viewDir.resolve(s"v$batchId").toString)
          maintain(prev, slice, pruned)
            .write.mode("overwrite")
            .parquet(viewDir.resolve(s"v${batchId + 1}").toString)
        }
      }
      truncate(batchId, sliceDir, base)
    }
  }

  /** One versioned side of the maintained state: snapshot versions
    * `s<N>` under `dir` (the side's rows after batch N−1), each read
    * back with its schema pinned.
    *
    * `buckets = Some(n)` lays each version out hash-bucketed on
    * `bucketCols` (`gb = pmod(hash(bucketCols), n)`, written
    * `partitionBy("gb")`): a slice row can only affect the bucket its
    * own `bucketCols` hash to, so compaction reconciles ONLY the
    * slice-touched buckets and carries the untouched bucket dirs into
    * the new version as hard links — the production-lake shape where
    * the O(base) rewrite becomes O(touched buckets) under skewed churn.
    *
    * EVERY read pins the schema: the bucketed layout needs it for
    * correctness (a bucket whose every row was deleted leaves no
    * schema-bearing part file), and the flat reads need it for SPEED —
    * each schema inference is a footer-reading Spark job, and the loops
    * re-read snapshots every batch (OPTIMIZATION_r16.md). Pinned
    * schemas are nullable-widened: column names/types are what the
    * oracle gate compares; nullability flags never reach the declared
    * result (the final view read stays inference-based). */
  private final class SideStore(dir: Path, schema: StructType,
      bucketCols: Seq[String], buckets: Option[Int]) {
    require(buckets.forall(_ >= 1), "snapshotBuckets must be >= 1")
    private val cols = schema.fieldNames.toSeq
    private val pinned = buckets.fold(widen(schema))(_ =>
      widen(schema).add("gb", IntegerType))
    Files.createDirectories(dir)

    private def path(v: Long): Path = dir.resolve(s"s$v")
    private def bucketOf(d: DataFrame): Column =
      pmod(hash(bucketCols.map(d(_)): _*), lit(buckets.get))
    private def bucketsOf(d: DataFrame): Seq[Int] =
      d.select(bucketOf(d).as("gb")).distinct()
        .collect().map(_.getInt(0)).toSeq // ≤ n values by construction
    private def read(sb: SparkSession, v: Long): DataFrame =
      sb.read.schema(pinned).parquet(path(v).toString)
    private def rowsIn(sb: SparkSession, v: Long, bs: Seq[Int]): DataFrame =
      read(sb, v).filter(col("gb").isin(bs: _*)).select(cols.map(col): _*)

    /** Whether version `v` is present (not yet truncated). */
    def has(v: Long): Boolean = Files.exists(path(v))

    /** The rows of version `v`. */
    def rows(sb: SparkSession, v: Long): DataFrame =
      read(sb, v).select(cols.map(col): _*)

    /** The rows of version `v` in the buckets `keys` (carrying
      * `bucketCols`) hash to — every row under the flat layout. */
    def rowsInBucketsOf(sb: SparkSession, v: Long,
        keys: DataFrame): DataFrame =
      if (buckets.isEmpty) rows(sb, v) else rowsIn(sb, v, bucketsOf(keys))

    /** Write version 0. */
    def seed(d: DataFrame): Unit = write(d, 0)

    /** Write version `v`+1 = version `v` ⊎ `slice` (signed rows
      * carrying this side's columns and `w`), overwriting any version
      * `v`+1 an earlier try left. */
    def compact(sb: SparkSession, v: Long, slice: DataFrame): Unit =
      if (buckets.isEmpty) write(applyDelta(rows(sb, v), slice, cols), v + 1)
      else {
        val touched = bucketsOf(slice)
        write(applyDelta(rowsIn(sb, v, touched), slice, cols), v + 1)
        linkUntouched(v, touched.toSet)
      }

    /** Delete version `v`. */
    def truncate(v: Long): Unit = graft.Scratch.deleteTree(path(v))

    /** Flat: one directory. Bucketed: repartitioned ON the bucket
      * first so each bucket lands as ONE file — without it every input
      * task fans out a file per bucket it sees (task-count ×
      * bucket-count small files), and the listing + open cost of that
      * fan-out was measured to cost more than the pruning saved. */
    private def write(d: DataFrame, v: Long): Unit =
      if (buckets.isEmpty) d.write.mode("overwrite").parquet(path(v).toString)
      else d.withColumn("gb", bucketOf(d)).repartition(col("gb"))
        .write.mode("overwrite").partitionBy("gb").parquet(path(v).toString)

    /** Carry the bucket dirs of version `v` the compaction did NOT
      * touch into version `v`+1 — hard links (same-device scratch:
      * metadata-only, no data copied), falling back to a file copy if
      * the filesystem refuses the link. This is what turns the
      * per-compaction rewrite from O(base) into O(touched). */
    private def linkUntouched(v: Long, touched: Set[Int]): Unit = {
      val ls = Files.list(path(v))
      try ls.iterator().forEachRemaining { bdir =>
        val name = bdir.getFileName.toString
        if (name.startsWith("gb=") &&
            !touched.contains(name.stripPrefix("gb=").toInt)) {
          val dst = Files.createDirectories(path(v + 1).resolve(name))
          val fs = Files.list(bdir)
          try fs.iterator().forEachRemaining { f =>
            graft.Scratch.linkOrCopy(f, dst.resolve(f.getFileName.toString))
          } finally fs.close()
        }
      } finally ls.close()
    }
  }

  /** TWO-INPUT continuous maintenance of an aggregate-over-join view —
    * [[ViewOps.joinViewDeltas]]' three-term product-weight rule on the
    * real runtime. Both changelogs ride ONE stream (each row tagged
    * with its side, the CDC-topic-per-database shape); per micro-batch
    * the loop splits the batch into ΔA/ΔB, derives the join-view delta
    * against the PRE-batch snapshots (`Δ(A⋈B) = ΔA⋈A-side-old's B ∪
    * A_old⋈ΔB ∪ ΔA⋈ΔB`), merges it into the versioned view with
    * [[ViewOps.maintainSumView]], and compacts both side stores
    * (`JoinView.step`). The view never touches either base table —
    * its merge is delta-sized; only the snapshot compaction reads the
    * bases, once each, shuffle-free.
    *
    * `viewGroupCols`/`viewSumCols` must be drawn from
    * `joinKeys ++ aVals ++ bVals` (the join-delta output columns).
    * Returns the final maintained view
    * (`viewGroupCols ++ cnt ++ sum_<c>`).
    *
    * @note scale: the two base-sided delta terms broadcast the delta
    *   side (AQE does this at real delta/base ratios), ΔA⋈ΔB is
    *   delta×delta, and the sum-view merge is touched-group-sized —
    *   the fact⋈dim rollup refreshed continuously at delta cost while
    *   BOTH tables change under it. Per batch, the view step and the
    *   two side compactions run at the same time, on threads the
    *   stream's batch thread creates and joins: all three read only
    *   the pre-batch versions (`s<N>` of both sides, view `v<N>`) and
    *   write disjoint directories (`v<N+1>`, `snapA/s<N+1>`,
    *   `snapB/s<N+1>`); the slice and `s<N>` are truncated only after
    *   all three committed; and the threads inherit the stream's job
    *   group, so a failed or stopped query cancels their jobs. The
    *   seeding of both sides and of `v0` likewise runs alongside the
    *   changelog staging. `snapshotBuckets` buckets BOTH side stores,
    *   each on its side's full payload: compaction reconciles only
    *   slice-touched buckets and hard-links the rest — O(touched)
    *   rewrite per side under skewed churn, same hashes
    *   (`ViewOpsSpec`). */
  def maintainJoinViewStream(spark: SparkSession,
      oldA: DataFrame, deltaA: DataFrame,
      oldB: DataFrame, deltaB: DataFrame,
      orderCol: String, chunks: Int, joinKeys: Seq[String],
      aVals: Seq[String], bVals: Seq[String],
      viewGroupCols: Seq[String], viewSumCols: Seq[String],
      snapshotBuckets: Option[Int] = None): DataFrame = {
    val aCols = oldA.columns.toSeq
    val bCols = oldB.columns.toSeq
    require(deltaA.columns.toSet == aCols.toSet + "w" &&
      deltaB.columns.toSet == bCols.toSet + "w",
      "each delta schema must be its base schema plus 'w'")
    val joinOutCols = (joinKeys ++ aVals ++ bVals).toSet
    require((viewGroupCols ++ viewSumCols).forall(joinOutCols),
      s"view columns must come from the join-delta output $joinOutCols")
    // an empty two-sided changelog replays no batches (detected for
    // free in the staging bounds pass) — version 0 is the result
    require((aCols ++ bCols).contains(orderCol),
      s"orderCol $orderCol must appear in one of the inputs")

    val root = graft.Scratch.dir("graft-join-view-maintain")
    val jv = new JoinView(root, oldA, deltaA, oldB, deltaB, joinKeys,
      aVals, bVals, viewGroupCols, viewSumCols, snapshotBuckets)

    // AQE stays ON in this loop, unlike the single-table one. Measured
    // with it off (replay bench, stream_join_view_replay): Spark jobs
    // per pass fell 75 -> 56, but tasks rose 141 -> 280 (AQE coalesces
    // the compaction shuffles' partitions) and the compact phase rose
    // 1.74 -> 2.58 s; the workload's wall time was not faster over 3
    // before/after pairs.
    val ss = LocalFs.microBatchSession(spark, ShufflePartitions, "hdfs",
      aqe = true)

    replay(spark, ss, root, jv.envelope, orderCol, chunks)(jv.seed(ss)) {
      (_, sb, batchId, sliceDir) => jv.step(sb, batchId, sliceDir)
    }
  }

  /** The join loop's durable state under `root` — one [[SideStore]]
    * per input (`snapA`, `snapB`) and the batchId-versioned view
    * (`view`) — with its seed and its per-batch step. */
  private[streaming] final class JoinView(root: Path,
      oldA: DataFrame, deltaA: DataFrame,
      oldB: DataFrame, deltaB: DataFrame,
      joinKeys: Seq[String], aVals: Seq[String], bVals: Seq[String],
      viewGroupCols: Seq[String], viewSumCols: Seq[String],
      snapshotBuckets: Option[Int]) {
    private val aCols = oldA.columns.toSeq
    private val bCols = oldB.columns.toSeq
    private val viewDir = Files.createDirectories(root.resolve("view"))
    private val storeA = new SideStore(root.resolve("snapA"), oldA.schema,
      aCols, snapshotBuckets)
    private val storeB = new SideStore(root.resolve("snapB"), oldB.schema,
      bCols, snapshotBuckets)

    /** One tagged envelope stream: side + (aCols ∪ bCols, padded with
      * typed nulls) + w — both changelogs arrive in the SAME
      * micro-batch slice, so each batch is a consistent two-table
      * transaction. */
    val envelope: DataFrame = {
      val allCols = (aCols ++ bCols).distinct
      val colType = (oldA.schema ++ oldB.schema)
        .map(f => f.name -> f.dataType).toMap
      def pad(d: DataFrame, side: String, have: Set[String]): DataFrame =
        d.select(lit(side).as("side") +:
          allCols.map(c => if (have(c)) col(c)
            else lit(null).cast(colType(c)).as(c)) :+ col("w"): _*)
      pad(deltaA, "A", aCols.toSet).unionByName(pad(deltaB, "B", bCols.toSet))
    }
    private val envSchema = widen(envelope.schema)

    private def viewOf(a: DataFrame, b: DataFrame): DataFrame =
      a.join(b, joinKeys).groupBy(viewGroupCols.map(col): _*)
        .agg(count(lit(1)).as("cnt"),
          viewSumCols.map(c => sum(col(c)).as("sum_" + c)): _*)
    private val viewSchema = widen(viewOf(oldA, oldB).schema)

    /** Seed `s0` of both sides at the same time, then view `v0`. */
    def seed(ss: SparkSession): Unit = {
      phase(ss.sparkContext, "seed snapshot") {
        both(storeA.seed(oldA), storeB.seed(oldB))
      }
      phase(ss.sparkContext, "seed view") {
        viewOf(storeA.rows(ss, 0), storeB.rows(ss, 0))
          .write.parquet(viewDir.resolve("v0").toString)
      }
    }

    /** ΔA and ΔB of the slice in `sliceDir`. */
    private def sides(sb: SparkSession,
        sliceDir: Path): (DataFrame, DataFrame) = {
      val slice = sb.read.schema(envSchema).parquet(sliceDir.toString)
      def sideOf(side: String, cols: Seq[String]) =
        slice.filter(col("side") === side).select((cols :+ "w").map(col): _*)
      (sideOf("A", aCols), sideOf("B", bCols))
    }

    /** Compact `s<batchId>` ⊎ the slice into `s<batchId+1>` on both
      * sides at the same time. */
    def compact(sb: SparkSession, batchId: Long, sliceDir: Path): Unit =
      phase(sb.sparkContext, s"b$batchId compact") {
        val (dA, dB) = sides(sb, sliceDir)
        both(storeA.compact(sb, batchId, dA), storeB.compact(sb, batchId, dB))
      }

    /** Batch `batchId`: the view step — the join-view delta against the
      * PRE-batch sides `s<batchId>`, merged into `v<batchId>` as
      * `v<batchId+1>` — at the same time as [[compact]]; then, once all
      * three committed, truncate the slice and `s<batchId>` of both
      * sides. `storeA`'s `s<batchId>` is truncated first after the
      * slice, so a retry that finds it gone has committed all three
      * outputs and only finishes the truncation. */
    def step(sb: SparkSession, batchId: Long, sliceDir: Path): Unit = {
      if (storeA.has(batchId)) both(
        phase(sb.sparkContext, s"b$batchId view") {
          val (dA, dB) = sides(sb, sliceDir)
          val dJ = ViewOps.joinViewDeltas(storeA.rows(sb, batchId), dA,
            storeB.rows(sb, batchId), dB, joinKeys, aVals, bVals)
          val prevV = sb.read.schema(viewSchema)
            .parquet(viewDir.resolve(s"v$batchId").toString)
          ViewOps.maintainSumView(prevV, dJ, viewGroupCols, viewSumCols)
            .write.mode("overwrite")
            .parquet(viewDir.resolve(s"v${batchId + 1}").toString)
        },
        compact(sb, batchId, sliceDir))
      truncate(batchId, sliceDir, storeA, storeB)
    }
  }

  /** Reconcile a signed slice into a snapshot — exact multiset
    * semantics on the FULL payload tuple: payloads the slice never
    * touches are carried over by a null-safe anti join against the
    * delta-sized touched set; touched payloads go through the
    * weighted group-by, keep `net` copies when the net weight is
    * positive, vanish at zero, and FAIL LOUDLY on an over-delete
    * (net < 0 means the changelog deleted a row the base never had —
    * silently dropping it would skew every downstream view).
    *
    * The join strategy is deliberately LEFT TO AQE: a true delta is
    * broadcast-sized and plans as BHJ for free, but a bulk-churn
    * changelog (this fixture rewrites 75% of the base) is NOT, and a
    * forced broadcast of an unbounded delta is exactly the
    * driver-OOM-at-scale mistake the rest of this library guards
    * against. The anti and semi legs share the base exchange
    * (ReusedExchange), so the base is still read once per leg and
    * shuffled at most once. */
  private def applyDelta(prevSnap: DataFrame, slice: DataFrame,
      cols: Seq[String]): DataFrame = {
    val touched = slice.select(cols.map(col): _*).distinct()
    def eqCond(l: DataFrame, r: DataFrame): Column =
      cols.map(c => l(c) <=> r(c)).reduce(_ && _)
    val untouched = prevSnap.join(touched,
      eqCond(prevSnap, touched), "left_anti")
    val reconciled = prevSnap
      .join(touched, eqCond(prevSnap, touched), "left_semi")
      .withColumn("w", lit(1))
      .unionByName(slice.select((cols :+ "w").map(col): _*))
      .groupBy(cols.map(col): _*)
      .agg(sum(col("w")).cast("long").as("net"))
      .withColumn("net", when(col("net") < 0,
          raise_error(concat(lit("changelog over-delete: net weight "),
            col("net").cast("string"), lit(" for payload ("),
            concat_ws(",", cols.map(c => col(c).cast("string")): _*),
            lit(")"))).cast("long"))
        .otherwise(col("net")))
      .filter(col("net") > 0)
      .select(cols.map(col) :+
        explode(array_repeat(lit(1), col("net").cast("int"))).as("__m"): _*)
      .drop("__m")
    untouched.select(cols.map(col): _*)
      .unionByName(reconciled)
  }

  /** Truncate what batch `batchId` consumed — its slice, then
    * `s<batchId>` of each store in order — once all of the batch's
    * outputs committed. Idempotent, so a retry finishes it. */
  private def truncate(batchId: Long, sliceDir: Path,
      stores: SideStore*): Unit = {
    graft.Scratch.deleteTree(sliceDir)
    stores.foreach(_.truncate(batchId))
  }

  /** Run a loop under `root`: `seed` its durable state while `deltas`
    * is staged into `chunks` range-ordered micro-batches over
    * `orderCol` ([[BoundedReplay.stage]]), then feed them to a
    * foreachBatch stream ([[BoundedReplay.feed]]) in `ss`. Each batch
    * first commits its batchId-keyed slice to `root/log` — the WAL: a
    * replayed batch overwrites its own slice — then runs `step` on
    * (seed result, batch session, batchId, slice dir). Blocks until
    * every chunk is consumed (an empty changelog stages nothing and
    * runs no batch), releases the loop's scratch and returns the final
    * view version under `root/view`. */
  private def replay[S](spark: SparkSession, ss: SparkSession, root: Path,
      deltas: DataFrame, orderCol: String, chunks: Int)(seed: => S)(
      step: (S, SparkSession, Long, Path) => Unit): DataFrame = {
    val (seeded, staged) = both(seed,
      phase(deltas.sparkSession.sparkContext, "staging") {
        // the changelog (often a full-outer rowDeltas join) is consumed
        // twice — the bounds agg and the staging write — so cache it once
        val d = deltas.persist()
        try BoundedReplay.stage(d, col(orderCol), chunks)
        finally d.unpersist()
      })
    staged.foreach { stage =>
      val src = Files.createDirectories(root.resolve("src"))
      val logDir = root.resolve("log")
      // the slice keeps the micro-batch's source partitioning (the file
      // source already splits a large chunk by maxPartitionBytes, so a
      // big delta batch is not single-writer)
      val onBatch: (DataFrame, Long) => Unit = { (batch, batchId) =>
        val sliceDir = logDir.resolve(s"b$batchId")
        phase(batch.sparkSession.sparkContext, s"b$batchId slice") {
          batch.write.mode("overwrite").parquet(sliceDir.toString)
        }
        step(seeded, batch.sparkSession, batchId, sliceDir)
      }
      BoundedReplay.feed(ss.readStream.schema(deltas.schema)
        .parquet(src.toString).writeStream.foreachBatch(onBatch)
        .option("checkpointLocation", root.resolve("ckpt").toString)
        .start(), stage, chunks, src)
    }
    val viewDir = root.resolve("view")
    val result = viewDir.resolve(s"v${maxVersion(viewDir)}")
    release(root, result, staged)
    spark.read.parquet(result.toString)
  }

  /** Release what a finished loop holds in scratch: every tree under
    * `root` but `keep` (the stream's source, checkpoint and log, the
    * side stores, every other view version), then the changelog
    * `staged` — `<its own scratch root>/chunks`, which no other run
    * reads (it is not in [[BoundedReplay]]'s stage cache). */
  private def release(root: Path, keep: Path, staged: Option[Path]): Unit = {
    def prune(dir: Path): Unit = {
      val ls = Files.list(dir)
      val children = try ls.toArray(n => new Array[Path](n)) finally ls.close()
      children.foreach { c =>
        if (keep.startsWith(c)) { if (c != keep) prune(c) }
        else graft.Scratch.deleteTree(c)
      }
    }
    prune(root)
    staged.foreach { s =>
      graft.Scratch.deleteTree(s)
      Files.deleteIfExists(s.getParent)
    }
  }

  /** Evaluate `a` on this thread while `b` runs on a short-lived daemon
    * thread created here, and return both results once both ended.
    * Created here, the worker inherits a copy of this thread's Spark
    * local properties — inside `foreachBatch`, the stream's job group,
    * so a failed or stopped query cancels the worker's jobs too — and
    * labels its own jobs with [[phase]]. A failure is rethrown (the
    * other one attached as suppressed) only after both ended: no
    * worker outlives the call, and a caller never goes on to truncate
    * past a failed step. */
  private def both[A, B](a: => A, b: => B): (A, B) = {
    def attempt[X](x: => X): Either[Throwable, X] =
      try Right(x) catch { case e: Throwable => Left(e) }
    var rb: Either[Throwable, B] = null
    val worker = new Thread(() => rb = attempt(b),
      s"view-maintain worker of ${Thread.currentThread.getName}")
    worker.setDaemon(true)
    worker.start()
    val ra = attempt(a)
    // a stopped query interrupts this thread; its job group's jobs are
    // cancelled, so the worker ends soon — wait for it all the same
    var interrupted = false
    while (worker.isAlive)
      try worker.join() catch { case _: InterruptedException => interrupted = true }
    if (interrupted) Thread.currentThread.interrupt()
    (ra, rb) match {
      case (Right(x), Right(y)) => (x, y)
      case (Left(e), r) => r.swap.foreach(e.addSuppressed); throw e
      case (_, Left(e)) => throw e
    }
  }

  private def widen(s: StructType): StructType =
    StructType(s.fields.map(_.copy(nullable = true)))

  /** Run `f` with its Spark jobs labelled `vm: <name>` — the phase
    * names the traced benchmark splits the loops' time by. The label
    * is this thread's: overlapped steps each set their own. */
  private def phase[A](sc: org.apache.spark.SparkContext, name: String)(
      f: => A): A = {
    sc.setJobDescription(s"vm: $name")
    try f finally sc.setJobDescription(null)
  }

  /** Highest view version `v<N>` present under `dir`. */
  private def maxVersion(dir: Path): Long = {
    val vs = Files.list(dir)
    try {
      val it = vs.iterator(); var m = 0L
      while (it.hasNext) {
        val n = it.next().getFileName.toString
        if (n.startsWith("v")) m = math.max(m, n.drop(1).toLong)
      }
      m
    } finally vs.close()
  }
}
