package graft.streaming

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** End-to-end bounded replay harness: runs a REAL Structured Streaming
  * query (file source → stateful operator → parquet sink) over a
  * fixture table split into ordered micro-batches, then optionally
  * drains the stopped query's surviving state with the operator's
  * [[StateFlush]] emission. Streamed ∪ flushed is a complete result —
  * so the t2 keys built on this harness put the actual streaming code
  * path (watermark advancement across micro-batches, event-time
  * timers, state-store round-trips, end-of-replay drain) under the
  * DuckDB oracle, not only under specs.
  *
  * Chunking: the table is range-split on its order column into
  * `chunks` files written one at a time while the query runs, so each
  * file becomes one micro-batch and the watermark genuinely advances
  * between batches (a single-file replay would process everything at
  * watermark 0 and exercise none of the lateness machinery).
  *
  * @note scale: this is the production backfill pattern — replay a
  *   partitioned corpus epoch through the streaming pipeline in
  *   event-time order, then drain open windows from the checkpoint
  *   instead of waiting a watermark-delay past the last event. The
  *   chunk split is one range-partitioned pass over the input; the
  *   per-batch work is the operator's own (one shuffle on its key);
  *   the flush reads one state row per OPEN window, distributed.
  */
object BoundedReplay {

  // Staged-chunk cache: the range-split fixture staging is a pure
  // function of (table, sfDir, chunks) — every replay key over the
  // same table stages BYTE-IDENTICAL chunk files, and ~20 bench keys
  // re-paid the bounds aggregate + partitioned write (~0.6 s each) for
  // nothing. Stage once per (cacheKey, chunks) per JVM and hard-link
  // the cached files into each query's source dir. Session setup is
  // free (newSession 0.000 s, plan build 0.05 s warm). The
  // per-micro-batch offset/WAL/commit time is mostly filesystem calls,
  // not engine work: Hadoop's local filesystem starts a `chmod` or
  // `readlink` process for every checkpoint file it writes or renames,
  // which is why the stream runs in [[LocalFs.microBatchSession]]
  // (SCALE.md § "Replay floor").
  private val stageCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.nio.file.Path]()

  /** Range-split `base` on `orderCol` into `chunks` partition dirs
    * under a fresh scratch root (one bounds aggregate + one
    * range-partitioned write) and return the staged dir. */
  private def stageOnce(base: DataFrame, orderCol: Column,
      chunks: Int): java.nio.file.Path = {
    val b = base.agg(min(orderCol).as("lo"), max(orderCol).as("hi")).head()
    val (lo, span) =
      (b.getLong(0), math.max(1L, b.getLong(1) - b.getLong(0) + 1L))
    val bucket = least(lit(chunks - 1),
      floor((orderCol - lit(lo)) * lit(chunks.toLong) / lit(span))).cast("int")
    val stage = graft.Scratch.dir("graft-replay-stage").resolve("chunks")
    base.withColumn("ck", bucket).repartition(col("ck"))
      .write.partitionBy("ck").parquet(stage.toString)
    stage
  }

  /** Shared replay core: stage `df` into `chunks` files range-split on
    * `orderCol` (one pass, cached per `cacheKey` across calls in this
    * JVM — the staging depends only on the table), feed them to a
    * file-source streaming query built by `op` one hard-link per
    * trigger, and return streamed output ∪ `flush`(checkpoint).
    *
    * The stream runs in an isolated session with few shuffle/state
    * partitions: each micro-batch carries 1/chunks of the input, so
    * the session-wide partition count (sized for full-table batch
    * queries) would spend the whole batch on per-partition state-store
    * file I/O — 32 partitions × chunks batches of checkpoint deltas
    * for kilobytes of state each. The partition count is baked into
    * the query's checkpoint, so this is decided here (the
    * `shufflePartitions` parameter), never inherited from the
    * caller's session conf. (A real deployment sizes it to peak per-batch
    * volume; 2 keeps multi-partition semantics — partitioned state,
    * cross-partition watermark, partition-independent results — under
    * test at the minimum per-batch store overhead: 8 → 2 measured
    * −20–40% on every replay key, most on the state-heavy dedup
    * index.) */
  private def replayCore(spark: SparkSession, df: SparkSession => DataFrame,
      orderCol: Column, chunks: Int, prefix: String, sinkPartitions: Int,
      shufflePartitions: Int = 2, cacheKey: Option[String] = None,
      stateStore: String = "hdfs")(
      op: DataFrame => Dataset[_])(
      flush: Option[String => Dataset[_]]): DataFrame = {
    val root = graft.Scratch.dir(prefix)
    val src = Files.createDirectories(root.resolve("src")).toString
    val ckpt = root.resolve("ckpt").toString
    val out = root.resolve("out").toString
    val ss = LocalFs.microBatchSession(spark, shufflePartitions)
    // state-store provider: the default HDFS-backed map rewrites every
    // partition's FULL state per checkpoint — fine for kilobyte state,
    // quadratic-feeling under the index-building dedup ops whose state
    // grows each batch. "rocksdb" switches to Spark's bundled RocksDB
    // provider with changelog checkpointing (only the batch's changed
    // entries hit the checkpoint) — the production choice for large
    // streaming state, and the provider is pinned into the checkpoint
    // exactly like the partition count, so it is decided here.
    if (stateStore == "rocksdb") {
      ss.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      ss.conf.set(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "true")
    } else require(stateStore == "hdfs",
      s"stateStore must be 'hdfs' or 'rocksdb', got '$stateStore'")
    val base = df(ss)

    // stage every chunk in ONE range-partitioned pass (per-chunk
    // filter+write jobs would rescan the input `chunks` times) —
    // cached per (cacheKey, chunks) across calls, since the staging is
    // a pure function of the table — then feed the source dir one
    // hard-link per trigger (links leave the cached files in place)
    val stage = cacheKey match {
      case Some(k) => stageCache.computeIfAbsent(s"$k|$chunks",
        _ => stageOnce(base, orderCol, chunks))
      case None => stageOnce(base, orderCol, chunks)
    }

    val streamed = op(ss.readStream.schema(base.schema).parquet(src))
    val sinkSchema = streamed.schema
    // coalesce shrinks only the SINK side (state partitioning is
    // fixed by the shuffle above it) — one output file per batch by
    // default; high-fan-out operators (candidate flagging emits a row
    // per shared shingle) raise sinkPartitions so the parquet encode
    // isn't serialized through one thread
    val q = streamed.coalesce(sinkPartitions).writeStream.format("parquet")
      .option("path", out)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    try {
      (0 until chunks).foreach { i =>
        val dir = stage.resolve(s"ck=$i")
        if (Files.isDirectory(dir)) {
          val listing = Files.list(dir)
          try {
            val files = listing.iterator()
            var j = 0
            while (files.hasNext) {
              val f = files.next()
              if (f.getFileName.toString.endsWith(".parquet")) {
                val t = java.nio.file.Paths.get(src, s"chunk_${i}_$j.parquet")
                // already-fed chunk (retried/partial prior replay) is
                // fine — the staged file is byte-identical, so keep it;
                // the copy fallback likewise replaces rather than throws
                try Files.createLink(t, f)
                catch {
                  case _: java.nio.file.FileAlreadyExistsException => ()
                  case _: Exception => Files.copy(f, t,
                    java.nio.file.StandardCopyOption.REPLACE_EXISTING)
                }
                j += 1
              }
            }
          } finally listing.close()
          // files of one chunk per trigger → one micro-batch, in order
          q.processAllAvailable()
        }
      }
    } finally q.stop()
    val streamedOut = spark.read.schema(sinkSchema).parquet(out)
    flush.fold(streamedOut)(f => streamedOut.unionByName(f(ckpt).toDF()))
  }

  /** Replay `op` over the EVENTS table in `chunks` event-time-ordered
    * micro-batches; return streamed output ∪ `flush`(checkpoint).
    *
    * @param op    builds the streaming query from the (streaming)
    *              events frame — same signature as the batch twin, so
    *              the SAME operator code runs in both modes
    * @param flush drains the stopped query's surviving state from the
    *              checkpoint (a [[StateFlush]] method) */
  def replayEvents(spark: SparkSession, sfDir: String, chunks: Int = 5,
      shufflePartitions: Int = 2, stateStore: String = "hdfs")(
      op: DataFrame => Dataset[_])(flush: String => Dataset[_]): DataFrame =
    replayCore(spark, ss => Tables.events(ss, sfDir),
      unix_micros(col("ts")), chunks, "graft-replay", 1,
      shufflePartitions, cacheKey = Some(s"events|$sfDir"),
      stateStore = stateStore)(op)(Some(flush))

  /** [[replayEvents]] with DETERMINISTIC ARRIVAL JITTER — the
    * out-of-order replay the lateness semantics need: arrival stamp
    * `ts + (event_id mod 7)·jitterUs`, so chunks range-split on
    * ARRIVAL order and a bounded share of events lands whole chunks
    * after their event time (the in-order replay can never mark
    * anything late — state maxima only grow along event time). The
    * jitter is a pure function of the row, so the chunk assignment is
    * exactly reproducible in an oracle:
    * `ck = least(chunks−1, floor((arr − min) · chunks / (max − min + 1)))`
    * — all inputs exact longs ≤ 2⁵³, so the double division rounds
    * identically in any IEEE engine. */
  def replayEventsJittered(spark: SparkSession, sfDir: String,
      jitterUs: Long, chunks: Int = 5, shufflePartitions: Int = 2,
      stateStore: String = "hdfs")(
      op: DataFrame => Dataset[_])(flush: String => Dataset[_]): DataFrame =
    replayCore(spark, ss => Tables.events(ss, sfDir),
      unix_micros(col("ts")) + pmod(col("event_id"), lit(7L)) * lit(jitterUs),
      chunks, "graft-replay-jit", 1,
      shufflePartitions, cacheKey = Some(s"events-jit$jitterUs|$sfDir"),
      stateStore = stateStore)(op)(Some(flush))

  /** [[replayEvents]] for the EMBEDDINGS table — the query-stream
    * replay the serving-shape keys run under (synthetic arrival stamp
    * from vec_id, id-ordered chunks, REAL streaming query, no flush —
    * stateless lookups answer within their own micro-batch). */
  def replayEmbeddings(spark: SparkSession, sfDir: String, chunks: Int = 5,
      shufflePartitions: Int = 2, stateStore: String = "hdfs")(
      op: DataFrame => Dataset[_]): DataFrame =
    replayCore(spark, ss => Tables.embeddings(ss, sfDir).withColumn("ts",
        timestamp_micros(lit(1704067200000000L) + col("vec_id") * lit(1000000L))),
      col("vec_id"), chunks, "graft-replay-emb", 1,
      shufflePartitions, cacheKey = Some(s"embeddings|$sfDir"),
      stateStore = stateStore)(op)(None)

  /** [[replayEvents]] for the DOCUMENTS table — the corpus-ingest
    * replay the streaming dedup family runs under: documents are
    * stamped with a deterministic synthetic ingest time (T0 +
    * doc_id seconds — the fixture has no arrival column; production
    * replays use the store's real ingest stamp), range-split on it
    * into `chunks` id-ordered micro-batches and fed through a REAL
    * Structured Streaming query. No flush face: the dedup operators
    * emit a pair the moment its second document arrives, so a
    * complete replay leaves no closable state behind. */
  def replayDocuments(spark: SparkSession, sfDir: String, chunks: Int = 5,
      sinkPartitions: Int = 1, shufflePartitions: Int = 2,
      stateStore: String = "hdfs")(
      op: DataFrame => Dataset[_]): DataFrame =
    replayCore(spark, ss => Tables.documents(ss, sfDir).withColumn("ts",
        timestamp_micros(lit(1704067200000000L) + col("doc_id") * lit(1000000L))),
      col("doc_id"), chunks, "graft-replay-docs", sinkPartitions,
      shufflePartitions, cacheKey = Some(s"documents|$sfDir"),
      stateStore = stateStore)(op)(None)
}
