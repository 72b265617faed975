package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pins for incremental materialized-view maintenance: the signed
  * changelog taxonomy, sum/count self-maintenance with group vanish,
  * and the min/max regime split (incremental for insert-only groups,
  * pruned rescan for delete-touched ones) — maintained == recomputed
  * across every change class.
  */
class ViewOpsSpec extends SparkSpec {

  import spark.implicits._

  // (id, grp, x) snapshots exercising the full taxonomy:
  //  id 1 unchanged · id 2 value-update · id 3 delete · id 4 insert
  //  id 5 group-move (g1 -> g2) · id 6 unchanged (keeps g2 alive)
  //  id 7 sole row of g3, deleted -> group vanishes
  private def oldS = Seq(
    (1L, "g1", 10L), (2L, "g1", 20L), (3L, "g1", 30L),
    (5L, "g1", 50L), (6L, "g2", 60L), (7L, "g3", 70L)
  ).toDF("id", "grp", "x")

  private def newS = Seq(
    (1L, "g1", 10L), (2L, "g1", 25L),
    (4L, "g1", 40L), (5L, "g2", 50L), (6L, "g2", 60L)
  ).toDF("id", "grp", "x")

  private def deltas =
    ViewOps.rowDeltas(oldS, newS, Seq("id"), Seq("grp", "x"))

  test("rowDeltas emits the minimal signed changelog per change class") {
    val got = deltas.select("id", "grp", "x", "w")
      .collect().map(r =>
        (r.getLong(0), r.getString(1), r.getLong(2), r.getInt(3))).toSet
    val want = Set(
      (2L, "g1", 20L, -1), (2L, "g1", 25L, 1),   // value update: both
      (3L, "g1", 30L, -1),                       // delete: old, -1
      (4L, "g1", 40L, 1),                        // insert: new, +1
      (5L, "g1", 50L, -1), (5L, "g2", 50L, 1),   // group move: both
      (7L, "g3", 70L, -1))                       // vanish g3
    assert(got == want)                          // ids 1,6 emit nothing
  }

  test("maintainSumView: delta merge equals recompute; zero-count groups vanish") {
    val view0 = oldS.groupBy("grp")
      .agg(count(lit(1)).as("cnt"), sum("x").as("sum_x"))
    val got = ViewOps.maintainSumView(view0, deltas, Seq("grp"), Seq("x"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val want = newS.groupBy("grp")
      .agg(count(lit(1)).as("cnt"), sum("x").as("sum_x"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want && !got.exists(_._1 == "g3"))
  }

  test("maintainAggView: min/max exact through deletes, moves and vanishes") {
    val view0 = oldS.groupBy("grp").agg(count(lit(1)).as("cnt"),
      sum("x").as("sum_x"), min("x").as("min_x"), max("x").as("max_x"))
    val got = ViewOps.maintainAggView(view0, deltas, newS,
        Seq("grp"), Seq("x"), Seq("x"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    val want = newS.groupBy("grp").agg(count(lit(1)).as("cnt"),
      sum("x").as("sum_x"), min("x").as("min_x"), max("x").as("max_x"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(got == want)
  }

  test("maintainAggView insert-only group needs no base access for min/max") {
    // delta touches g2 with inserts only: extremes must come out right
    // even when newBase is REPLACED by an empty pruned scan — proving
    // the insert-only branch never reads the base.
    val view0 = oldS.groupBy("grp").agg(count(lit(1)).as("cnt"),
      sum("x").as("sum_x"), min("x").as("min_x"), max("x").as("max_x"))
    val insertOnly = Seq((8L, "g2", 5L, 1), (9L, "g2", 99L, 1))
      .toDF("id", "grp", "x", "w")
    val emptyBase = newS.filter(lit(false))
    val g2 = ViewOps.maintainAggView(view0, insertOnly, emptyBase,
        Seq("grp"), Seq("x"), Seq("x"))
      .filter($"grp" === "g2")
      .collect().map(r => (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(g2.toSeq == Seq((3L, 164L, 5L, 99L)))
  }

  test("joinViewDeltas: maintained join aggregate equals recompute on both-side churn") {
    // A keyed by k; B keyed by (k, i) with two rows per k1
    val oldA = Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("k", "g")
    val newA = Seq((1L, "x"), (2L, "x"), (4L, "y")).toDF("k", "g")
    val oldB = Seq((1L, 1L, 10L), (1L, 2L, 20L), (2L, 1L, 30L),
      (3L, 1L, 40L)).toDF("k", "i", "v")
    val newB = Seq((1L, 1L, 11L), (2L, 1L, 30L), (2L, 2L, 50L),
      (4L, 1L, 60L)).toDF("k", "i", "v")
    val dA = ViewOps.rowDeltas(oldA, newA, Seq("k"), Seq("g"))
    val dB = ViewOps.rowDeltas(oldB, newB, Seq("k", "i"), Seq("v"))
    val view0 = oldA.join(oldB, "k").groupBy("g")
      .agg(count(lit(1)).as("cnt"), sum("v").as("sum_v"))
    val dJ = ViewOps.joinViewDeltas(oldA, dA, oldB, dB,
      Seq("k"), Seq("g"), Seq("v"))
    val got = ViewOps.maintainSumView(view0, dJ, Seq("g"), Seq("v"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val want = newA.join(newB, "k").groupBy("g")
      .agg(count(lit(1)).as("cnt"), sum("v").as("sum_v"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want && !got.exists(_._1 == "z")) // z's join rows all left
  }

  test("maintainSupport: distinct counts exact under deletes and value moves") {
    val support0 = oldS.groupBy("grp", "x").agg(count(lit(1)).as("mult"))
    // reuse the taxonomy deltas: values move with their rows
    val support1 = ViewOps.maintainSupport(support0, deltas, Seq("grp"), "x")
    val got = ViewOps.distinctFromSupport(support1, Seq("grp"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val want = newS.groupBy("grp").agg(countDistinct("x").as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == want && !got.exists(_._1 == "g3"))
    // multiplicity: two rows sharing (grp, x) must survive one delete
    val s2 = Seq(("gA", 7L, 2L)).toDF("grp", "x", "mult")
    val oneDel = Seq((99L, "gA", 7L, -1)).toDF("id", "grp", "x", "w")
    val after = ViewOps.maintainSupport(s2, oneDel, Seq("grp"), "x")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(after.toSeq == Seq(("gA", 7L, 1L)))
  }

  test("rowKindToDeltas maps Flink's four kinds; unknown kinds fail loudly") {
    val log = Seq(("+I", 1L), ("+U", 2L), ("-U", 3L), ("-D", 4L))
      .toDF("kind", "v")
    val got = ViewOps.rowKindToDeltas(log, "kind")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(got == Set((1L, 1), (2L, 1), (3L, -1), (4L, -1)))
    val bad = Seq(("+X", 9L)).toDF("kind", "v")
    val e = intercept[Exception] {
      ViewOps.rowKindToDeltas(bad, "kind").collect()
    }
    assert(e.getMessage.contains("unknown RowKind") ||
      Option(e.getCause).exists(_.getMessage.contains("unknown RowKind")))
  }

  test("cascaded maintenance: level-2 fed only by level-1's own changelog") {
    val deltasD = deltas
    val v1Old = oldS.groupBy("grp")
      .agg(count(lit(1)).as("cnt"), sum("x").as("sum_x"))
    val v1New = ViewOps.maintainSumView(v1Old, deltasD, Seq("grp"), Seq("x"))
    val v1Delta = ViewOps.rowDeltas(v1Old, v1New,
        Seq("grp"), Seq("cnt", "sum_x"))
      .withColumn("b", substring(col("grp"), 1, 1)) // all "g" — one bucket
    val v2Old = v1Old.withColumn("b", substring(col("grp"), 1, 1))
      .groupBy("b").agg(count(lit(1)).as("cnt"),
        sum("cnt").as("sum_cnt"), sum("sum_x").as("sum_sum_x"))
    val got = ViewOps.maintainSumView(v2Old, v1Delta,
        Seq("b"), Seq("cnt", "sum_x"))
      .collect().map(_.toSeq).toSet
    val want = newS.groupBy("grp")
      .agg(count(lit(1)).as("cnt"), sum("x").as("sum_x"))
      .withColumn("b", substring(col("grp"), 1, 1))
      .groupBy("b").agg(count(lit(1)).as("cnt"),
        sum("cnt").as("sum_cnt"), sum("sum_x").as("sum_sum_x"))
      .collect().map(_.toSeq).toSet
    assert(got == want)
  }

  test("maintainTopKView: regimes — member-delete rescan, ignorable below-k delete, merge without base access") {
    // scores per group g1: ids 1..5 scores 50,40,30,20,10 — top3 = 1,2,3
    val oldB = Seq((1L, "g1", 50L), (2L, "g1", 40L), (3L, "g1", 30L),
      (4L, "g1", 20L), (5L, "g1", 10L),
      (6L, "g2", 60L), (7L, "g3", 70L)).toDF("id", "grp", "x")
    // id2 (stored member) deleted -> rescan must promote id4;
    // id5 (below top-3) deleted in g1 too? keep separate: delete id5 from g2? g2 has one row.
    // g3 vanishes; g4 appears; g2 gets an insert that outranks id6.
    val newB = Seq((1L, "g1", 50L), (3L, "g1", 30L), (4L, "g1", 20L),
      (5L, "g1", 10L),
      (6L, "g2", 60L), (8L, "g2", 90L), (9L, "g4", 5L))
      .toDF("id", "grp", "x")
    val view0 = ViewOps.topKView(oldB, Seq("grp"), "x", "id", 3)
    val d = ViewOps.rowDeltas(oldB, newB, Seq("id"), Seq("grp", "x"))
    val got = ViewOps.explodeTopK(
        ViewOps.maintainTopKView(view0, d, newB, Seq("grp"), "x", "id", 3),
        Seq("grp"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2),
        r.getLong(3))).toSet
    val want = ViewOps.explodeTopK(
        ViewOps.topKView(newB, Seq("grp"), "x", "id", 3), Seq("grp"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(got == want && !got.exists(_._1 == "g3"))
    assert(got.contains(("g1", 3, 20L, 4L)))  // promoted by the rescan
    assert(got.contains(("g2", 1, 90L, 8L)))  // insert outranks stored

    // below-top-k delete + inserts must need NO base access: replace
    // newBase with an empty scan and check the merge branch alone
    val d2 = Seq((5L, "g1", 10L, -1), (10L, "g1", 45L, 1))
      .toDF("id", "grp", "x", "w")
    val got2 = ViewOps.explodeTopK(
        ViewOps.maintainTopKView(view0, d2, newB.filter(lit(false)),
          Seq("grp"), "x", "id", 3), Seq("grp"))
      .filter($"grp" === "g1")
      .collect().map(r => (r.getInt(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got2 == Seq((1, 50L, 1L), (2, 45L, 10L), (3, 40L, 2L)))
  }

  test("maintainJoinViewStream equals the one-shot batch join maintain") {
    val oldA = Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("k", "g")
    val newA = Seq((1L, "x"), (2L, "x"), (4L, "y")).toDF("k", "g")
    val oldB = Seq((1L, 1L, 10L), (1L, 2L, 20L), (2L, 1L, 30L),
      (3L, 1L, 40L)).toDF("k", "i", "v")
    val newB = Seq((1L, 1L, 11L), (2L, 1L, 30L), (2L, 2L, 50L),
      (4L, 1L, 60L)).toDF("k", "i", "v")
    val dA = ViewOps.rowDeltas(oldA, newA, Seq("k"), Seq("g"))
    val dB = ViewOps.rowDeltas(oldB, newB, Seq("k", "i"), Seq("v"))
    def run(chunks: Int) =
      graft.streaming.ViewMaintain.maintainJoinViewStream(
        spark, oldA, dA, oldB, dB, orderCol = "k", chunks = chunks,
        joinKeys = Seq("k"), aVals = Seq("g"), bVals = Seq("v"),
        viewGroupCols = Seq("g"), viewSumCols = Seq("v"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSet
    val want = newA.join(newB, "k").groupBy("g")
      .agg(count(lit(1)).as("cnt"), sum("v").as("sum_v"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSet
    val got = run(3)
    assert(got == want && !got.exists(_._1 == "z"))
    // more chunks than the changelog's 4 distinct keys: the empty
    // ranges stage no chunk dir and the feeder must skip them
    assert(run(9) == want, "join view drifted over absent chunk dirs")
  }

  test("streaming maintainers short-circuit on an EMPTY changelog") {
    val none = deltas.filter(lit(false))
    val got = graft.streaming.ViewMaintain.maintainViewStream(
        spark, oldS, none, orderCol = "id", chunks = 3,
        groupCols = Seq("grp"), sumCols = Seq("x"), minMaxCols = Seq("x"))
      .collect().map(_.toSeq).toSet
    val want = oldS.groupBy("grp").agg(count(lit(1)).as("cnt"),
        sum("x").as("sum_x"), min("x").as("min_x"), max("x").as("max_x"))
      .collect().map(_.toSeq).toSet
    assert(got == want)
    val gotJ = graft.streaming.ViewMaintain.maintainJoinViewStream(
        spark, oldS.select("id", "grp"), none.filter(lit(false))
          .select("id", "grp", "w"),
        oldS.select("id", "x"), none.select("id", "x", "w"),
        orderCol = "id", chunks = 3, joinKeys = Seq("id"),
        aVals = Seq("grp"), bVals = Seq("x"),
        viewGroupCols = Seq("grp"), viewSumCols = Seq("x"))
      .collect().map(_.toSeq).toSet
    val wantJ = oldS.groupBy("grp")
      .agg(count(lit(1)).as("cnt"), sum("x").as("sum_x"))
      .collect().map(_.toSeq).toSet
    assert(gotJ == wantJ)
  }

  test("streaming compaction keeps DUPLICATE-payload base rows exact") {
    // two payload-identical live rows; the changelog deletes ONE copy —
    // multiset semantics must keep the other (the old tw=1 filter
    // silently dropped both)
    val base = Seq(("g1", 10L), ("g1", 10L), ("g1", 30L), ("g2", 5L))
      .toDF("grp", "x")
    val d = Seq(("g1", 10L, -1), ("g1", 99L, 1)).toDF("grp", "x", "w")
    val got = graft.streaming.ViewMaintain.maintainViewStream(
        spark, base, d, orderCol = "x", chunks = 2,
        groupCols = Seq("grp"), sumCols = Seq("x"), minMaxCols = Seq("x"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    // g1 after: {10, 30, 99} — min must still be 10 (one copy survives)
    assert(got == Set(("g1", 3L, 139L, 10L, 99L), ("g2", 1L, 5L, 5L, 5L)))
  }

  test("streaming compaction fails loudly on a changelog over-delete") {
    val base = Seq(("g1", 10L)).toDF("grp", "x")
    val d = Seq(("g1", 77L, -1)).toDF("grp", "x", "w") // never existed
    val e = intercept[Exception] {
      graft.streaming.ViewMaintain.maintainViewStream(
        spark, base, d, orderCol = "x", chunks = 1,
        groupCols = Seq("grp"), sumCols = Seq("x"), minMaxCols = Seq("x"))
        .collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("over-delete")))
  }

  test("streaming maintenance equals the one-shot batch maintain") {
    val batch = ViewOps.maintainAggView(
      oldS.groupBy("grp").agg(count(lit(1)).as("cnt"),
        sum("x").as("sum_x"), min("x").as("min_x"), max("x").as("max_x")),
      deltas, newS, Seq("grp"), Seq("x"), Seq("x"))
      .collect().map(_.toSeq).toSet
    def streamed(chunks: Int) = graft.streaming.ViewMaintain
      .maintainViewStream(spark, oldS, deltas, orderCol = "id",
        chunks = chunks, groupCols = Seq("grp"), sumCols = Seq("x"),
        minMaxCols = Seq("x"))
      .collect().map(_.toSeq).toSet
    assert(streamed(3) == batch)
    // more chunks than the changelog's 5 distinct ids: the empty
    // ranges stage no chunk dir and the feeder must skip them
    assert(streamed(12) == batch, "view drifted over absent chunk dirs")
  }

  test("bucketed snapshot layout (snapshotBuckets) is invisible to the view") {
    def run(buckets: Option[Int]) = graft.streaming.ViewMaintain
      .maintainViewStream(spark, oldS, deltas, orderCol = "id",
        chunks = 3, groupCols = Seq("grp"), sumCols = Seq("x"),
        minMaxCols = Seq("x"), snapshotBuckets = buckets)
      .collect().map(_.toSeq).toSet
    assert(run(Some(4)) == run(None), "bucketed compaction drifted")
  }

  test("join maintainer: bucketed side snapshots are invisible to the view") {
    val oldA = Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("k", "g")
    val newA = Seq((1L, "x"), (2L, "x"), (4L, "y")).toDF("k", "g")
    val oldB = Seq((1L, 1L, 10L), (1L, 2L, 20L), (2L, 1L, 30L),
      (3L, 1L, 40L)).toDF("k", "i", "v")
    val newB = Seq((1L, 1L, 11L), (2L, 1L, 30L), (2L, 2L, 50L),
      (4L, 1L, 60L)).toDF("k", "i", "v")
    val dA = ViewOps.rowDeltas(oldA, newA, Seq("k"), Seq("g"))
    val dB = ViewOps.rowDeltas(oldB, newB, Seq("k", "i"), Seq("v"))
    def run(buckets: Option[Int]) =
      graft.streaming.ViewMaintain.maintainJoinViewStream(
        spark, oldA, dA, oldB, dB, orderCol = "k", chunks = 3,
        joinKeys = Seq("k"), aVals = Seq("g"), bVals = Seq("v"),
        viewGroupCols = Seq("g"), viewSumCols = Seq("v"),
        snapshotBuckets = buckets)
      .collect().map(_.toSeq).toSet
    assert(run(Some(4)) == run(None), "bucketed join-view drifted")
  }

  test("bucketed compaction under skewed churn: untouched buckets carried exactly") {
    // 20 groups, churn confined to ONE — most bucket dirs must be
    // carried across by the hard-link path, and the carried rows must
    // be byte-exact in the final view (delete + insert both land in
    // g7's bucket; every other group's min/max/sum must be untouched)
    val base = (1 to 200).map(i => (s"g${i % 20}", i.toLong))
      .toDF("grp", "x")
    val d = Seq(("g7", 7L, -1), ("g7", 1000L, 1), ("g7", 2000L, 1))
      .toDF("grp", "x", "w")
    def run(buckets: Option[Int]) = graft.streaming.ViewMaintain
      .maintainViewStream(spark, base, d, orderCol = "x", chunks = 2,
        groupCols = Seq("grp"), sumCols = Seq("x"),
        minMaxCols = Seq("x"), snapshotBuckets = buckets)
      .collect().map(_.toSeq).toSet
    assert(run(Some(16)) == run(None), "skewed-churn bucketed view drifted")
  }
}
