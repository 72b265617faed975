package graft.queries

import graft.{Q, Tables}
import graft.operators.ViewOps
import org.apache.spark.sql.functions._

/** Incremental materialized-view maintenance keys
  * ([[graft.operators.ViewOps]]): a grouped sum/count/min/max view
  * kept current under a signed-multiplicity changelog, certified
  * against a FULL RECOMPUTE oracle on the new snapshot — the
  * maintain-vs-recompute equivalence that makes incremental refresh
  * trustworthy at 100 TB.
  */
object ViewQueries {

  /** Old/new lineitem snapshots with deletes (`%5 = 0` keys leave),
    * inserts (`%7 = 0` keys arrive), value updates (`%3 = 0` bumps
    * quantity by one unit) and GROUP-MOVING updates (`%9 = 0` also
    * reassigns the part key) — the full change taxonomy, including the
    * case naive per-group maintenance gets wrong (a row moving between
    * groups must decrement one group and increment another).
    *
    * The synthetic lineitem has DUPLICATE `(l_orderkey, l_linenumber)`
    * pairs (sf0.01: 60 k rows / 45.8 k distinct), so the row key the
    * changelog needs is minted here: `rid` = row_number within the
    * duplicate group ordered by the full payload. Ties are
    * payload-identical rows, so the key→payload multiset is
    * deterministic even though tie order is not — exactly the
    * uniquifier a CDC pipeline mints when the source lacks a primary
    * key. Both snapshots derive `rid` from the same pre-filter scan,
    * so a row keeps its identity across old/new. */
  private def snapshots(s: org.apache.spark.sql.SparkSession, d: String) = {
    import org.apache.spark.sql.expressions.Window
    val li0 = Tables.lineitem(s, d).select(
      col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
      col("l_suppkey"),
      round(col("l_quantity") * 100).cast("long").as("qty_c"),
      round(col("l_extendedprice") * 100).cast("long").as("price_c"))
    val li = li0.withColumn("rid", row_number().over(
      Window.partitionBy("l_orderkey", "l_linenumber")
        .orderBy("price_c", "qty_c", "l_partkey")))
    val oldS = li.filter(col("l_orderkey") % 7 =!= 0)
      .select(col("l_orderkey"), col("l_linenumber"), col("rid"),
        col("l_partkey").as("pk"), col("l_suppkey").as("sk"),
        col("qty_c"), col("price_c"))
    val newS = li.filter(col("l_orderkey") % 5 =!= 0)
      .select(col("l_orderkey"), col("l_linenumber"), col("rid"),
        when(col("l_orderkey") % 9 === 0, col("l_partkey") % 100 + 1)
          .otherwise(col("l_partkey")).as("pk"),
        when(col("l_orderkey") % 4 === 0, col("l_suppkey") % 10 + 1)
          .otherwise(col("l_suppkey")).as("sk"),
        (col("qty_c") + when(col("l_orderkey") % 3 === 0, lit(100L))
          .otherwise(lit(0L))).as("qty_c"),
        col("price_c"))
    (oldS, newS)
  }

  private val oracleRecompute =
    """WITH n AS (
      |  SELECT CASE WHEN l_orderkey % 9 = 0 THEN l_partkey % 100 + 1
      |              ELSE l_partkey END AS pk,
      |    CAST(round(l_quantity * 100) AS BIGINT)
      |      + CASE WHEN l_orderkey % 3 = 0 THEN 100 ELSE 0 END AS qty_c,
      |    CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c
      |  FROM lineitem WHERE l_orderkey % 5 <> 0)
      |SELECT pk AS l_partkey, CAST(count(*) AS BIGINT) AS cnt,
      |  CAST(sum(qty_c) AS BIGINT) AS sum_qty_c,
      |  min(price_c) AS min_price_c, max(price_c) AS max_price_c
      |FROM n GROUP BY 1 ORDER BY 1""".stripMargin

  /** The maintained view vs the recompute oracle: build the view on
    * the OLD snapshot, derive the signed row delta, maintain — counts
    * and sums via delta merge only, min/max via the insert-only /
    * delete-touched regime split with the rescan PRUNED to affected
    * groups. The oracle is the new snapshot's defining aggregate, so
    * the hash check certifies incremental == full recompute across
    * every change class. */
  private val viewMaintain = Q("cdc_view_maintain", oracleRecompute) {
    (s, d) =>
      val (oldS, newS) = snapshots(s, d)
      val view0 = oldS.groupBy("pk")
        .agg(count(lit(1)).as("cnt"), sum(col("qty_c")).as("sum_qty_c"),
          min(col("price_c")).as("min_price_c"),
          max(col("price_c")).as("max_price_c"))
      val deltas = ViewOps.rowDeltas(oldS, newS,
        keyCols = Seq("l_orderkey", "l_linenumber", "rid"),
        valCols = Seq("pk", "qty_c", "price_c"))
      ViewOps.maintainAggView(view0, deltas, newS,
          groupCols = Seq("pk"), sumCols = Seq("qty_c"),
          minMaxCols = Seq("price_c"))
        .select(col("pk").as("l_partkey"), col("cnt"),
          col("sum_qty_c"), col("min_price_c"), col("max_price_c"))
        .orderBy("l_partkey")
  }

  /** The streaming twin ([[graft.streaming.ViewMaintain]]): the same
    * changelog replayed as 3 range-ordered micro-batches on the real
    * runtime, each batch appending to the delta log and advancing the
    * versioned view; the FINAL view is checked against the same
    * full-recompute oracle — continuous maintenance never drifts from
    * a batch rebuild. */
  private val viewMaintainStream = Q(
    "stream_view_maintain_replay", oracleRecompute) { (s, d) =>
      val (oldS, newS) = snapshots(s, d)
      val deltas = ViewOps.rowDeltas(oldS, newS,
        keyCols = Seq("l_orderkey", "l_linenumber", "rid"),
        valCols = Seq("pk", "qty_c", "price_c"))
      graft.streaming.ViewMaintain.maintainViewStream(s, oldS.drop("sk"),
          deltas,
          orderCol = "l_orderkey", chunks = 3,
          groupCols = Seq("pk"), sumCols = Seq("qty_c"),
          minMaxCols = Seq("price_c"))
        .select(col("pk").as("l_partkey"), col("cnt"),
          col("sum_qty_c"), col("min_price_c"), col("max_price_c"))
        .orderBy("l_partkey")
    }

  private val oracleSkewed =
    """WITH li AS (
      |  SELECT l_orderkey, l_partkey,
      |    CAST(round(l_quantity * 100) AS BIGINT) AS qty_c,
      |    CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c
      |  FROM lineitem),
      |n AS (
      |  SELECT l_partkey,
      |    qty_c + CASE WHEN l_partkey % 500 = 0 AND l_orderkey % 2 = 1
      |                 THEN 100 ELSE 0 END AS qty_c,
      |    price_c
      |  FROM li
      |  WHERE NOT (l_partkey % 500 = 0 AND l_orderkey % 2 = 0))
      |SELECT l_partkey, CAST(count(*) AS BIGINT) AS cnt,
      |  CAST(sum(qty_c) AS BIGINT) AS sum_qty_c,
      |  min(price_c) AS min_price_c, max(price_c) AS max_price_c
      |FROM n GROUP BY 1 ORDER BY 1""".stripMargin

  /** SKEWED-CHURN continuous maintenance under the BUCKETED snapshot
    * layout (`snapshotBuckets = Some(32)`): the whole changelog
    * touches only the `l_partkey % 500 = 0` groups (deletes on even
    * orderkeys — forcing the min/max delete-rescan down the
    * partition-pruned path — qty bumps on odd), so each micro-batch's
    * compaction reconciles and rewrites ONLY the few touched bucket
    * directories and hard-links the rest — the production-lake shape
    * the 75%-churn bench fixtures deliberately cannot show (they touch
    * every bucket; see `ViewMaintain`'s scale note and the
    * 8.2 MiB → 0.35 MiB write-mass measurement in SCALE.md § "View
    * maintenance"). Same full-recompute
    * oracle contract as [[viewMaintainStream]], closing the gap where
    * the bucketed path was spec-parity-only: here the END-TO-END
    * result of incremental bucketed maintenance is hash-checked
    * against DuckDB recomputing the new snapshot's aggregate. */
  private val viewSkewedStream = Q(
    "stream_view_skewed_replay", oracleSkewed) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val li0 = Tables.lineitem(s, d).select(
        col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        round(col("l_quantity") * 100).cast("long").as("qty_c"),
        round(col("l_extendedprice") * 100).cast("long").as("price_c"))
      val li = li0.withColumn("rid", row_number().over(
        Window.partitionBy("l_orderkey", "l_linenumber")
          .orderBy("price_c", "qty_c", "l_partkey")))
      val oldS = li.select(col("l_orderkey"), col("l_linenumber"),
        col("rid"), col("l_partkey").as("pk"), col("qty_c"),
        col("price_c"))
      val newS = li
        .filter(!(col("l_partkey") % 500 === 0 && col("l_orderkey") % 2 === 0))
        .select(col("l_orderkey"), col("l_linenumber"), col("rid"),
          col("l_partkey").as("pk"),
          (col("qty_c") + when(
            col("l_partkey") % 500 === 0 && col("l_orderkey") % 2 === 1,
            lit(100L)).otherwise(lit(0L))).as("qty_c"),
          col("price_c"))
      val deltas = ViewOps.rowDeltas(oldS, newS,
        keyCols = Seq("l_orderkey", "l_linenumber", "rid"),
        valCols = Seq("pk", "qty_c", "price_c"))
      graft.streaming.ViewMaintain.maintainViewStream(s, oldS, deltas,
          orderCol = "l_orderkey", chunks = 3,
          groupCols = Seq("pk"), sumCols = Seq("qty_c"),
          minMaxCols = Seq("price_c"),
          snapshotBuckets = Some(32))
        .select(col("pk").as("l_partkey"), col("cnt"),
          col("sum_qty_c"), col("min_price_c"), col("max_price_c"))
        .orderBy("l_partkey")
    }

  /** Order snapshots for the join-view key: deletes (`%11 = 0` leave),
    * inserts (`%13 = 0` arrive), and group reassignments (`%17 = 0`
    * move to `grp + 50`). `o_orderkey` is unique in the fixture. */
  private def orderSnapshots(s: org.apache.spark.sql.SparkSession,
      d: String) = {
    val o = Tables.orders(s, d).select(col("o_orderkey"),
      (col("o_custkey") % 50).as("grp0"))
    val oldA = o.filter(col("o_orderkey") % 11 =!= 0)
      .select(col("o_orderkey"), col("grp0").as("grp"))
    val newA = o.filter(col("o_orderkey") % 13 =!= 0)
      .select(col("o_orderkey"),
        when(col("o_orderkey") % 17 === 0, col("grp0") + 50)
          .otherwise(col("grp0")).as("grp"))
    (oldA, newA)
  }

  private val oracleJoinRecompute =
    """WITH na AS (
      |  SELECT o_orderkey,
      |    CASE WHEN o_orderkey % 17 = 0 THEN o_custkey % 50 + 50
      |         ELSE o_custkey % 50 END AS grp
      |  FROM orders WHERE o_orderkey % 13 <> 0),
      |nb AS (
      |  SELECT l_orderkey AS o_orderkey,
      |    CAST(round(l_quantity * 100) AS BIGINT)
      |      + CASE WHEN l_orderkey % 3 = 0 THEN 100 ELSE 0 END AS qty_c
      |  FROM lineitem WHERE l_orderkey % 5 <> 0)
      |SELECT grp, CAST(count(*) AS BIGINT) AS cnt,
      |  CAST(sum(qty_c) AS BIGINT) AS sum_qty_c
      |FROM na JOIN nb USING (o_orderkey)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Aggregate-over-JOIN view maintained from BOTH sides' changelogs
    * ([[ViewOps.joinViewDeltas]]): `Δ(A⋈B) = ΔA⋈B_old ∪ A_old⋈ΔB ∪
    * ΔA⋈ΔB` with product weights, fed to the same sum/count merge —
    * the fact⋈dim rollup refreshed at delta cost while orders AND
    * lineitems change under it (deletes, inserts, a dim-side group
    * move, a fact-side measure update). Oracle: full recompute of the
    * join aggregate on the two new snapshots. */
  private val joinViewMaintain = Q(
    "cdc_join_view_maintain", oracleJoinRecompute) { (s, d) =>
      val (oldA, newA) = orderSnapshots(s, d)
      val (oldB0, newB0) = snapshots(s, d)
      val oldB = oldB0.withColumnRenamed("l_orderkey", "o_orderkey")
      val newB = newB0.withColumnRenamed("l_orderkey", "o_orderkey")
      val dA = ViewOps.rowDeltas(oldA, newA,
        keyCols = Seq("o_orderkey"), valCols = Seq("grp"))
      val dB = ViewOps.rowDeltas(oldB, newB,
        keyCols = Seq("o_orderkey", "l_linenumber", "rid"),
        valCols = Seq("qty_c"))
      val view0 = oldA.join(oldB, "o_orderkey").groupBy("grp")
        .agg(count(lit(1)).as("cnt"), sum(col("qty_c")).as("sum_qty_c"))
      val dJ = ViewOps.joinViewDeltas(oldA, dA, oldB, dB,
        joinKeys = Seq("o_orderkey"),
        aVals = Seq("grp"), bVals = Seq("qty_c"))
      ViewOps.maintainSumView(view0, dJ, Seq("grp"), Seq("qty_c"))
        .orderBy("grp")
    }

  /** The join view on the CONTINUOUS maintainer
    * ([[graft.streaming.ViewMaintain.maintainJoinViewStream]]): BOTH
    * changelogs ride one side-tagged stream, replayed as 3
    * range-ordered micro-batches; each batch derives the three-term
    * join-view delta against the pre-batch snapshots, merges it into
    * the versioned view, and compacts both snapshots. The final view
    * is checked against the same full-recompute oracle as the batch
    * key — continuous two-table maintenance never drifts from a batch
    * rebuild. */
  private val joinViewStream = Q(
    "stream_join_view_replay", oracleJoinRecompute) { (s, d) =>
      val (oldA, newA) = orderSnapshots(s, d)
      val (oldB0, newB0) = snapshots(s, d)
      val oldB = oldB0.withColumnRenamed("l_orderkey", "o_orderkey")
        .drop("sk", "pk", "price_c")
      val newB = newB0.withColumnRenamed("l_orderkey", "o_orderkey")
        .drop("sk", "pk", "price_c")
      val dA = ViewOps.rowDeltas(oldA, newA,
        keyCols = Seq("o_orderkey"), valCols = Seq("grp"))
      val dB = ViewOps.rowDeltas(oldB, newB,
        keyCols = Seq("o_orderkey", "l_linenumber", "rid"),
        valCols = Seq("qty_c"))
      graft.streaming.ViewMaintain.maintainJoinViewStream(s,
          oldA, dA, oldB, dB,
          orderCol = "o_orderkey", chunks = 3,
          joinKeys = Seq("o_orderkey"),
          aVals = Seq("grp"), bVals = Seq("qty_c"),
          viewGroupCols = Seq("grp"), viewSumCols = Seq("qty_c"))
        .orderBy("grp")
    }

  private val oracleDistinct =
    """WITH n AS (
      |  SELECT CASE WHEN l_orderkey % 9 = 0 THEN l_partkey % 100 + 1
      |              ELSE l_partkey END AS pk,
      |    CASE WHEN l_orderkey % 4 = 0 THEN l_suppkey % 10 + 1
      |         ELSE l_suppkey END AS sk
      |  FROM lineitem WHERE l_orderkey % 5 <> 0)
      |SELECT pk AS l_partkey, CAST(count(DISTINCT sk) AS BIGINT) AS n_distinct
      |FROM n GROUP BY 1 ORDER BY 1""".stripMargin

  /** Exact per-group DISTINCT counts maintained under deletes, value
    * reassignments and group moves via the support table
    * ([[ViewOps.maintainSupport]]) — fully self-maintaining, no base
    * rescan for any change class. Oracle: `count(DISTINCT sk)` on the
    * new snapshot. */
  private val distinctViewMaintain = Q(
    "cdc_distinct_view_maintain", oracleDistinct) { (s, d) =>
      val (oldS, newS) = snapshots(s, d)
      val support0 = oldS.groupBy("pk", "sk")
        .agg(count(lit(1)).as("mult"))
      val deltas = ViewOps.rowDeltas(oldS, newS,
        keyCols = Seq("l_orderkey", "l_linenumber", "rid"),
        valCols = Seq("pk", "sk"))
      val support1 = ViewOps.maintainSupport(support0, deltas,
        groupCols = Seq("pk"), valCol = "sk")
      ViewOps.distinctFromSupport(support1, Seq("pk"))
        .select(col("pk").as("l_partkey"), col("n_distinct"))
        .orderBy("l_partkey")
    }

  private val oracleSumRecompute =
    """WITH n AS (
      |  SELECT CASE WHEN l_orderkey % 9 = 0 THEN l_partkey % 100 + 1
      |              ELSE l_partkey END AS pk,
      |    CAST(round(l_quantity * 100) AS BIGINT)
      |      + CASE WHEN l_orderkey % 3 = 0 THEN 100 ELSE 0 END AS qty_c
      |  FROM lineitem WHERE l_orderkey % 5 <> 0)
      |SELECT pk AS l_partkey, CAST(count(*) AS BIGINT) AS cnt,
      |  CAST(sum(qty_c) AS BIGINT) AS sum_qty_c
      |FROM n GROUP BY 1 ORDER BY 1""".stripMargin

  /** Flink-changelog ingestion ([[ViewOps.rowKindToDeltas]]): the same
    * change set expressed as a `RowKind`-tagged changelog (`+I`
    * insert, `-U`/`+U` update pair, `-D` delete — what Flink's CDC
    * connectors and `toRetractStream` emit), adapted to signed rows
    * and driving the sum/count maintainer; oracle recomputes on the
    * new snapshot. Certifies that a Flink-style changelog source can
    * drive the view maintainers with zero semantic translation loss. */
  private val rowKindApply = Q(
    "cdc_rowkind_apply", oracleSumRecompute) { (s, d) =>
      val (oldS, newS) = snapshots(s, d)
      val deltas = ViewOps.rowDeltas(oldS, newS,
        keyCols = Seq("l_orderkey", "l_linenumber", "rid"),
        valCols = Seq("pk", "qty_c"))
      // synthesize the RowKind changelog: a row key emitting BOTH
      // signs is an update (-U/+U), a lone sign is an insert/delete
      val nk = deltas.groupBy("l_orderkey", "l_linenumber", "rid")
        .agg(count(lit(1)).as("nk"))
      val changelog = deltas
        .join(nk, Seq("l_orderkey", "l_linenumber", "rid"))
        .withColumn("kind",
          when(col("w") === 1,
            when(col("nk") === 2, "+U").otherwise("+I"))
          .otherwise(when(col("nk") === 2, "-U").otherwise("-D")))
        .drop("w", "nk")
      val view0 = oldS.groupBy("pk")
        .agg(count(lit(1)).as("cnt"), sum(col("qty_c")).as("sum_qty_c"))
      ViewOps.maintainSumView(view0,
          ViewOps.rowKindToDeltas(changelog, "kind"),
          groupCols = Seq("pk"), sumCols = Seq("qty_c"))
        .select(col("pk").as("l_partkey"), col("cnt"), col("sum_qty_c"))
        .orderBy("l_partkey")
    }

  private val oracleCascade =
    """WITH n AS (
      |  SELECT CASE WHEN l_orderkey % 9 = 0 THEN l_partkey % 100 + 1
      |              ELSE l_partkey END AS pk,
      |    CAST(round(l_quantity * 100) AS BIGINT)
      |      + CASE WHEN l_orderkey % 3 = 0 THEN 100 ELSE 0 END AS qty_c
      |  FROM lineitem WHERE l_orderkey % 5 <> 0),
      |v1 AS (SELECT pk, count(*) AS cnt, sum(qty_c) AS sum_qty_c
      |       FROM n GROUP BY 1)
      |SELECT pk % 10 AS bucket, CAST(count(*) AS BIGINT) AS cnt,
      |  CAST(sum(cnt) AS BIGINT) AS sum_cnt,
      |  CAST(sum(sum_qty_c) AS BIGINT) AS sum_sum_qty_c
      |FROM v1 GROUP BY 1 ORDER BY 1""".stripMargin

  /** CASCADED view maintenance — views compose because a maintained
    * view can emit its own changelog: level-1 (per-`pk` sum/count) is
    * maintained from the base deltas, its retract stream is derived
    * with the SAME [[ViewOps.rowDeltas]] (view-before vs view-after),
    * and level-2 (per-`pk % 10` rollup, counting level-1 GROUPS and
    * summing their aggregates) is maintained ONLY from that stream —
    * it never sees the base table. The DBSP/differential-dataflow
    * composition property, certified by recomputing level-2 from the
    * new snapshot.
    *
    * @note scale: level-2's delta is sized by TOUCHED level-1 groups —
    *   each stage of a view DAG pays its own delta, which is how a
    *   100 TB rollup tree refreshes in minutes. */
  private val viewCascade = Q(
    "cdc_view_cascade", oracleCascade) { (s, d) =>
      val (oldS, newS) = snapshots(s, d)
      val deltas = ViewOps.rowDeltas(oldS, newS,
        keyCols = Seq("l_orderkey", "l_linenumber", "rid"),
        valCols = Seq("pk", "qty_c"))
      val v1Old = oldS.groupBy("pk")
        .agg(count(lit(1)).as("cnt"), sum(col("qty_c")).as("sum_qty_c"))
      val v1New = ViewOps.maintainSumView(v1Old, deltas,
        groupCols = Seq("pk"), sumCols = Seq("qty_c"))
      // the view's own changelog: its key is the group key
      val v1Delta = ViewOps.rowDeltas(v1Old, v1New,
          keyCols = Seq("pk"), valCols = Seq("cnt", "sum_qty_c"))
        .withColumn("bucket", col("pk") % 10)
      val v2Old = v1Old.withColumn("bucket", col("pk") % 10)
        .groupBy("bucket").agg(count(lit(1)).as("cnt"),
          sum(col("cnt")).as("sum_cnt"),
          sum(col("sum_qty_c")).as("sum_sum_qty_c"))
      ViewOps.maintainSumView(v2Old, v1Delta,
          groupCols = Seq("bucket"), sumCols = Seq("cnt", "sum_qty_c"))
        .orderBy("bucket")
    }

  private val oracleTopK =
    """WITH li AS (
      |  SELECT l_orderkey, l_linenumber, l_partkey,
      |    CAST(round(l_quantity * 100) AS BIGINT) AS qty_c,
      |    CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c
      |  FROM lineitem),
      |r AS (
      |  SELECT *, row_number() OVER (PARTITION BY l_orderkey, l_linenumber
      |    ORDER BY price_c, qty_c, l_partkey) AS rid FROM li),
      |n AS (
      |  SELECT CASE WHEN l_orderkey % 9 = 0 THEN l_partkey % 100 + 1
      |              ELSE l_partkey END AS pk,
      |    l_orderkey * 100000 + l_linenumber * 1000 + rid AS id,
      |    price_c
      |  FROM r WHERE l_orderkey % 5 <> 0),
      |t AS (
      |  SELECT pk, id, price_c, row_number() OVER (PARTITION BY pk
      |    ORDER BY price_c DESC, id) AS rk FROM n)
      |SELECT pk AS l_partkey, CAST(rk AS BIGINT) AS rank, price_c, id
      |FROM t WHERE rk <= 3 ORDER BY 1, 2""".stripMargin

  /** Per-group TOP-K view ([[ViewOps.maintainTopKView]] — the
    * leaderboard refresh shape): top-3 lineitems by price per part,
    * maintained under the full change taxonomy — a deleted stored
    * member forces the PRUNED rescan, inserts merge statelessly,
    * deletes below the stored top-k are provably ignorable, group
    * moves do both. Oracle: windowed top-3 recompute on the new
    * snapshot (ties impossible: `id` is unique). */
  private val topkViewMaintain = Q(
    "cdc_topk_view_maintain", oracleTopK) { (s, d) =>
      val (oldS0, newS0) = snapshots(s, d)
      def withId(df: org.apache.spark.sql.DataFrame) = df.withColumn("id",
        col("l_orderkey") * 100000 + col("l_linenumber") * 1000 + col("rid"))
      val oldS = withId(oldS0); val newS = withId(newS0)
      val view0 = ViewOps.topKView(oldS, Seq("pk"), "price_c", "id", 3)
      val deltas = ViewOps.rowDeltas(oldS, newS,
        keyCols = Seq("l_orderkey", "l_linenumber", "rid"),
        valCols = Seq("pk", "price_c", "id"))
      ViewOps.explodeTopK(
          ViewOps.maintainTopKView(view0, deltas, newS,
            groupCols = Seq("pk"), scoreCol = "price_c", idCol = "id",
            k = 3),
          Seq("pk"))
        .select(col("pk").as("l_partkey"), col("rank"),
          col("score").as("price_c"), col("id"))
        .orderBy("l_partkey", "rank")
    }

  /** The top-k view on the CONTINUOUS maintainer
    * ([[graft.streaming.ViewMaintain.maintainTopKViewStream]]): the
    * same changelog replayed as 3 micro-batches, each advancing the
    * versioned leaderboard via the k-generalized regime split; the
    * final view is checked against the same windowed-recompute
    * oracle — continuous leaderboard maintenance never drifts from a
    * batch rebuild. */
  private val topkViewStream = Q(
    "stream_topk_view_replay", oracleTopK) { (s, d) =>
      val (oldS0, newS0) = snapshots(s, d)
      def withId(df: org.apache.spark.sql.DataFrame) = df.withColumn("id",
        col("l_orderkey") * 100000 + col("l_linenumber") * 1000 + col("rid"))
      val oldS = withId(oldS0).drop("sk", "qty_c")
      val newS = withId(newS0).drop("sk", "qty_c")
      val deltas = ViewOps.rowDeltas(oldS, newS,
        keyCols = Seq("l_orderkey", "l_linenumber", "rid"),
        valCols = Seq("pk", "price_c", "id"))
      ViewOps.explodeTopK(
          graft.streaming.ViewMaintain.maintainTopKViewStream(s, oldS,
            deltas, orderCol = "l_orderkey", chunks = 3,
            groupCols = Seq("pk"), scoreCol = "price_c", idCol = "id",
            k = 3),
          Seq("pk"))
        .select(col("pk").as("l_partkey"), col("rank"),
          col("score").as("price_c"), col("id"))
        .orderBy("l_partkey", "rank")
    }

  val all: Seq[Q] = Seq(viewMaintain, viewMaintainStream, viewSkewedStream,
    joinViewMaintain, joinViewStream, distinctViewMaintain, rowKindApply,
    viewCascade, topkViewMaintain, topkViewStream)
}
