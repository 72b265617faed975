package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
import java.nio.file.Files

/** One iteration message: `lbl` proposed to `node` for synchronous
  * round `round`. */
case class LblMsg(node: String, lbl: String, round: Int)
case class LblState(lbl: String)

/** STREAMING CYCLIC ITERATION — the Flink `DataStream#iterate` /
  * `iterateDelta` patterns, previously documented here as an engine
  * ceiling ("Structured Streaming has no iteration edge"). It does
  * not need one: a file-source query whose `foreachBatch` sink writes
  * its own emissions BACK INTO the source directory IS a cyclic
  * dataflow, and the micro-batch boundary is exactly the
  * synchronous-superstep barrier BSP iteration wants — batch k
  * processes precisely the messages batch k−1 emitted, so each
  * micro-batch is one Pregel round. Termination is either bounded
  * rounds (the `iterate` shape — [[labelPropagation]]) or
  * QUIESCENCE: a step that emits only when its state CHANGES is a
  * delta iteration, and the cycle drains itself at the fixpoint (the
  * `iterateDelta` shape — [[connectedComponents]], which therefore
  * computes EXACT components at any graph diameter with no round
  * bound chosen in advance).
  *
  * @note scale: per round the work is one exchange of the live
  *   message volume to the node key — the identical cost shape as a
  *   batch Pregel round's shuffle, paid through the state store; a
  *   delta iteration's volume DECAYS with convergence exactly as in
  *   Flink. The adjacency is broadcast (loud cap): the
  *   streaming-iterate form is for metadata-sized graphs embedded in
  *   pipelines (session graphs, vocabulary graphs, rule dependency
  *   nets); web-scale hyperlink graphs run the batch
  *   [[graft.operators.GraphOps.iterate]] whose adjacency is a
  *   distributed join, not a broadcast. */
object FeedbackIterate {

  /** Shared cyclic core: seed messages → (stateful step per node per
    * round) → emissions fed back as the next round — until the cycle
    * goes quiet (no emissions) or `maxRounds` is hit, whichever
    * first. Returns the final per-node state `(node, lbl)`.
    *
    * `step(node, thisRoundMsgs, prevState)` returns the node's new
    * state plus `(dest, payload)` emissions; the core stamps rounds
    * and enforces the bound. */
  private def runCycle(spark: SparkSession, seed: Seq[LblMsg],
      maxRounds: Int)(
      step: (String, Seq[LblMsg], Option[String]) => (String, Seq[(String, String)]))
      : DataFrame = {
    val root = graft.Scratch.dir("graft-iterate")
    val src = Files.createDirectories(root.resolve("src")).toString
    val ckpt = root.resolve("ckpt").toString
    val ss = LocalFs.microBatchSession(spark, 2, "hdfs", aqe = true)
    import ss.implicits._

    ss.createDataset(seed).toDF("node", "lbl", "round")
      .coalesce(1).write.mode("append").parquet(src)

    val stream = ss.readStream
      .schema("node STRING, lbl STRING, round INT").parquet(src)
      .as[LblMsg]
      .groupByKey(_.node)
      .flatMapGroupsWithState[LblState, LblMsg](
        OutputMode.Append, GroupStateTimeout.NoTimeout) { (node, it, state) =>
        val msgs = it.toSeq
        val round = msgs.head.round // one round per micro-batch
        val (next, out) = step(node, msgs, state.getOption.map(_.lbl))
        state.update(LblState(next))
        if (round < maxRounds)
          out.iterator.map { case (dest, pay) => LblMsg(dest, pay, round + 1) }
        else Iterator.empty
      }

    // the ITERATION EDGE: emissions land back in the source directory
    val q = stream.toDF().writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val next = batch.coalesce(1)
        if (!next.isEmpty) next.write.mode("append").parquet(src)
        ()
      }
      .option("checkpointLocation", ckpt).outputMode("append").start()
    try {
      // drive until quiescence: a round that emits nothing adds no
      // source file, so the file count stabilizes at the fixpoint
      def files(): Long = {
        val s = Files.list(java.nio.file.Paths.get(src))
        try s.filter(p => p.getFileName.toString.endsWith(".parquet")).count()
        finally s.close()
      }
      var prev = -1L
      var cur = files()
      var safety = 0
      while (cur != prev && safety < 100000) {
        q.processAllAvailable()
        prev = cur
        cur = files()
        safety += 1
      }
      q.processAllAvailable()
    } finally q.stop()

    // final per-node state from the stopped query's checkpoint
    spark.read.format("statestore").option("path", ckpt).load()
      .select(col("key.value").as("node"),
        col("value.groupState.lbl").as("lbl"))
  }

  /** Canonical symmetric adjacency of `edges`, broadcast with a loud
    * cap — shared by both graph instances. */
  private def broadcastAdj(spark: SparkSession, edges: DataFrame,
      srcCol: String, dstCol: String,
      maxAdjacencyEdges: Long): Map[String, Array[String]] = {
    val und = edges.filter(col(srcCol) =!= col(dstCol))
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .distinct()
    val sym = und.select(col("a").as("u"), col("b").as("v"))
      .union(und.select(col("b").as("u"), col("a").as("v")))
    // count BEFORE collect: the cap must fail the query while the edge
    // set is still distributed, not after a pathological driver
    // materialization (same order as SimilarityOps.cosineNearDups).
    val n = sym.count()
    require(n <= maxAdjacencyEdges,
      s"adjacency has $n directed edges (> $maxAdjacencyEdges) " +
        "— the feedback-iterate form broadcasts it; run the batch " +
        "GraphOps.labelPropagation (distributed join per round) instead")
    val symRows = sym.collect()
    symRows.map(r => (r.getString(0), r.getString(1)))
      .groupBy(_._1).map { case (u, vs) => u -> vs.map(_._2).sorted }
  }

  /** Bounded-rounds synchronous label propagation — the `iterate`
    * instance: state per node is its current label; round-k messages
    * carry each neighbor's round-(k−1) label; the update is top-1 by
    * `(count DESC, label ASC)` — token for token the batch
    * [[graft.operators.GraphOps.labelPropagation]] update, so a
    * complete run equals the batch operator EXACTLY
    * (`stream_iterate_lpa` under `graph_label_prop`'s own unrolled
    * oracle). */
  def labelPropagation(spark: SparkSession, edges: DataFrame,
      iters: Int = 3, srcCol: String = "src", dstCol: String = "dst",
      maxAdjacencyEdges: Long = 50000000L): DataFrame = {
    require(iters >= 1, "need at least one round")
    val adj = broadcastAdj(spark, edges, srcCol, dstCol, maxAdjacencyEdges)
    val bc = spark.sparkContext.broadcast(adj)
    // seed = round-1 messages: every node's identity label (l0) to
    // each of its neighbors — one file, so batch 0 is round 1 entire
    val seed = adj.toSeq.sortBy(_._1).flatMap { case (v, nbrs) =>
      nbrs.map(u => LblMsg(u, v, 1))
    }
    runCycle(spark, seed, maxRounds = iters) { (node, msgs, _) =>
      // top-1 by (count DESC, label ASC) — the batch update rule
      val top = msgs.groupBy(_.lbl).view.mapValues(_.size).toSeq
        .sortBy { case (l, c) => (-c, l) }.head._1
      (top, bc.value(node).map(nbr => (nbr, top)).toSeq)
    }
  }

  /** DELTA-ITERATION connected components — the `iterateDelta`
    * instance: state per node is its minimum reachable label; a node
    * re-broadcasts ONLY when a message lowers its state, so message
    * volume decays as components settle and the cycle drains itself
    * at the exact fixpoint — no round bound, exact components at any
    * diameter (`stream_iterate_cc` is gated against a full
    * transitive-closure oracle). */
  def connectedComponents(spark: SparkSession, edges: DataFrame,
      srcCol: String = "src", dstCol: String = "dst",
      maxAdjacencyEdges: Long = 50000000L): DataFrame = {
    val adj = broadcastAdj(spark, edges, srcCol, dstCol, maxAdjacencyEdges)
    val bc = spark.sparkContext.broadcast(adj)
    // seed: every node proposes its own id to itself — the delta
    // front starts as "everything changed"
    val seed = adj.keys.toSeq.sorted.map(u => LblMsg(u, u, 1))
    runCycle(spark, seed, maxRounds = Int.MaxValue) { (node, msgs, prev) =>
      val incoming = msgs.iterator.map(_.lbl).min
      val cur = prev.getOrElse(node)
      val next = if (incoming < cur) incoming else cur
      if (prev.isEmpty || next < cur) {
        // changed (or first sight): propagate the new minimum
        (next, bc.value(node).map(nbr => (nbr, next)).toSeq)
      } else (next, Seq.empty)
    }.withColumnRenamed("lbl", "comp")
  }
}
