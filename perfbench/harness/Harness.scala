package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.json4s.DefaultFormats
import org.json4s.jackson.{JsonMethods, Serialization}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent

/** JVM side of the benchmark: drives `graft.SparkEntry.queries` from
  * outside, one key at a time on one driver thread (a closed loop with
  * one caller), and writes every raw measurement to one JSON file that
  * `run.py` turns into metrics.
  *
  * A run is: `setups` set-ups (SparkContext + the generic warm-up that
  * `graft.Bench` does), one cold pass that writes each key's result as
  * parquet for the oracle check, then warm passes (at least two, more
  * until their time adds up to `seconds`), with a host-speed sample
  * after each pass. Each key is split into build (the `queries(key)`
  * call, which for a replay key runs the whole stream), plan (physical
  * planning of the returned frame) and exec (running it).
  *
  * With `--trace 1` a listener on the shared SparkContext records jobs,
  * stages, task failures and every session's streaming progress (replay
  * queries run in `spark.newSession()`, so a session-level
  * StreamingQueryListener would miss them). `StreamExecution` replaces
  * the caller's job group, so jobs are matched to keys by time, which
  * holds because keys run one at a time. After the traced passes the
  * listener is removed for one untraced pass (tracing overhead), and one
  * more pass runs at `local[1]` (single-thread baseline).
  *
  * Usage: Harness <dataDir> <outDir> <key,key,...> <cores> <seconds>
  *          <trace 0|1> <setups>
  */
object Harness {

  def main(args: Array[String]): Unit = {
    val Array(data, outDir, keyList, coresS, secondsS, traceS, setupsS) = args
    val keys = keyList.split(',').toSeq
    val cores = coresS.toInt
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val setups = setupsS.toInt
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val shm = new ShmSampler
    shm.start()

    // ---- set-up, repeated; the first one also pays JVM start ----
    val setupRows = ArrayBuffer.empty[Map[String, Any]]
    var spark: SparkSession = null
    for (i <- 1 to setups) {
      if (spark != null) stop(spark)
      val t0 = System.nanoTime()
      spark = session(cores)
      val t1 = System.nanoTime()
      warmUp(spark, data)
      val t2 = System.nanoTime()
      val total = if (i == 1) (System.currentTimeMillis() - jvmStartMs) / 1e3
                  else (t2 - t0) / 1e9
      setupRows += Map("session_s" -> (t1 - t0) / 1e9, "warmup_s" -> (t2 - t1) / 1e9,
        "total_s" -> total)
    }

    // host speed, sampled before, between and after the timed passes
    val calib = ArrayBuffer(calibrate(warmUp = true))
    val rec = new Recorder
    if (trace) spark.sparkContext.addSparkListener(rec)

    // ---- cold pass: first run of every key, result kept for the oracle ----
    val census = scala.collection.mutable.Map.empty[String, Map[String, Int]]
    val cold = runPass(spark, data, keys, "cold") { (key, df) =>
      if (trace) census(key) = planCensus(df.queryExecution.executedPlan)
      df.write.mode("overwrite").parquet(s"$outDir/out/$key")
    }
    calib += calibrate(warmUp = false)

    // ---- warm passes: at least two, and more until they add up to
    // `seconds`; each is followed by a calibration sample ----
    val warm = ArrayBuffer.empty[Pass]
    while (warm.size < 2 || warm.map(_.wallS).sum < seconds) {
      warm += runPass(spark, data, keys, s"warm${warm.size + 1}")(count)
      calib += calibrate(warmUp = false)
    }

    // ---- traced runs only: untraced pass, then the local[1] baseline ----
    var extra = Seq.empty[Pass]
    if (trace) {
      spark.sparkContext.removeSparkListener(rec)
      val untraced = runPass(spark, data, keys, "untraced")(count)
      stop(spark)
      spark = session(1)
      warmUp(spark, data)
      extra = Seq(untraced, runPass(spark, data, keys, "one_core")(count))
    }
    stop(spark)
    // SparkContext.stop leaves the replay keys' state stores loaded; close
    // them, so that no RocksDB instance is still open while the JVM exits
    // (one run in about a hundred aborted in native code at exit).
    org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    shm.finish()

    val oracle = graft.SparkEntry.oracleSql
    val raw = Map(
      "cores" -> cores,
      "calib_s" -> calib.toSeq,
      "setups" -> setupRows.toSeq,
      "passes" -> (cold +: warm.toSeq ++: extra).map(_.toJson),
      "oracle" -> keys.map(k => k -> oracle.get(k).orNull).toMap,
      "census" -> census.toMap,
      "vm_hwm_kb" -> vmHwmKb(),
      "shm_peak_bytes" -> shm.peak.get(),
      "jobs" -> rec.jobs.asScala.toSeq,
      "stages" -> rec.stages.asScala.toSeq,
      "task_failures" -> rec.taskFailures.get(),
      "progress" -> rec.progress.asScala.toSeq.map { case (t, json) =>
        Map("t" -> t, "p" -> JsonMethods.parse(json)) })
    Files.writeString(Paths.get(s"$outDir/raw.json"), Serialization.write(raw)(DefaultFormats))
  }

  // ------------------------------------------------------------------

  final case class KeyRun(key: String, startMs: Long, buildS: Double, planS: Double,
      execS: Double, error: String) {
    def toJson: Map[String, Any] = Map("key" -> key, "start_ms" -> startMs,
      "build_s" -> buildS, "plan_s" -> planS, "exec_s" -> execS, "error" -> error)
  }
  final case class Pass(name: String, startMs: Long, wallS: Double, keys: Seq[KeyRun]) {
    def toJson: Map[String, Any] = Map("name" -> name, "start_ms" -> startMs,
      "wall_s" -> wallS, "keys" -> keys.map(_.toJson))
  }

  private def count(key: String, df: DataFrame): Unit = {
    // the query's own plan, as graft.Bench runs it: df.count() would wrap
    // it in an aggregate and let Catalyst prune the work under test
    df.queryExecution.toRdd.count()
    ()
  }

  private def runPass(spark: SparkSession, data: String, keys: Seq[String], name: String)(
      exec: (String, DataFrame) => Unit): Pass = {
    val startMs = System.currentTimeMillis()
    val p0 = System.nanoTime()
    val runs = keys.map { key =>
      val kMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      var t1, t2 = t0
      val err = try {
        val df = graft.SparkEntry.queries(key)(spark, data)
        t1 = System.nanoTime()
        df.queryExecution.executedPlan
        t2 = System.nanoTime()
        exec(key, df)
        null
      } catch { case e: Throwable =>
        System.err.println(s"[perfbench] $name $key failed: $e")
        String.valueOf(e).take(300)
      }
      val t3 = System.nanoTime()
      if (t1 == t0) t1 = t3
      if (t2 == t0) t2 = t3
      KeyRun(key, kMs, (t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9, err)
    }
    Pass(name, startMs, (System.nanoTime() - p0) / 1e9, runs)
  }

  private def session(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** The generic warm-up `graft.Bench` runs before timing. */
  private def warmUp(spark: SparkSession, data: String): Unit =
    Seq("agg_pricing_summary", "proj_compute").foreach { k =>
      graft.SparkEntry.queries(k)(spark, data).queryExecution.toRdd.count()
    }

  /** Operator counts of a physical plan, looking through AQE wrappers. */
  private def planCensus(plan: SparkPlan): Map[String, Int] = {
    val names = ArrayBuffer.empty[String]
    def visit(p: SparkPlan): Unit = {
      p match {
        case a: AdaptiveSparkPlanExec => visit(a.executedPlan)
        case q: QueryStageExec => visit(q.plan)
        case _ =>
          names += p.nodeName
          p.children.foreach(visit)
      }
      p.subqueries.foreach(visit)
    }
    visit(plan)
    def n(pred: String => Boolean) = names.count(pred)
    Map(
      "exchanges" -> n(s => s.contains("Exchange")),
      "sorts" -> n(_ == "Sort"),
      "windows" -> n(s => s.startsWith("Window")),
      "smj" -> n(_ == "SortMergeJoin"),
      "bhj" -> n(_ == "BroadcastHashJoin"),
      "bnlj" -> n(_ == "BroadcastNestedLoopJoin"))
  }

  /** Host-speed calibration, the loop `graft.Bench` records as
    * `calib_sec`: single-thread integer work that depends only on how
    * fast this host runs, never on Spark or the data. */
  private def calibrate(warmUp: Boolean): Double = {
    def pass(): Long = {
      var x = 0x9E3779B97F4A7C15L
      var s = 0L
      var i = 0
      while (i < 200000000) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        s += x
        i += 1
      }
      s
    }
    if (warmUp) pass()
    val t0 = System.nanoTime()
    val sink = pass()
    val dt = (System.nanoTime() - t0) / 1e9
    if (sink == 42L) System.err.println("impossible")
    dt
  }

  private def vmHwmKb(): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)

  /** Peak growth of /dev/shm use: replay scratch lives there
    * (`graft.Scratch`), so its pages are memory the run holds. */
  private final class ShmSampler extends Thread("perfbench-shm") {
    setDaemon(true)
    val peak = new AtomicLong(0L)
    @volatile private var running = true
    private val store =
      try Some(Files.getFileStore(Paths.get("/dev/shm"))) catch { case _: Throwable => None }
    private def used(): Long =
      store.map(s => s.getTotalSpace - s.getUnallocatedSpace).getOrElse(0L)
    private val base = used()
    override def run(): Unit = while (running) {
      peak.accumulateAndGet(used() - base, (a, b) => math.max(a, b))
      Thread.sleep(100)
    }
    def finish(): Unit = { running = false; join() }
  }

  /** Raw event log; every timestamp is epoch milliseconds. */
  private final class Recorder extends SparkListener {
    val jobs = new ConcurrentLinkedQueue[Map[String, Any]]()
    val stages = new ConcurrentLinkedQueue[Map[String, Any]]()
    val progress = new ConcurrentLinkedQueue[(Long, String)]()
    val taskFailures = new AtomicLong(0L)
    private val open = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String, Seq[Int])]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val desc = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.job.description"))).orNull
      open.put(e.jobId, (e.time, desc, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val s = open.remove(e.jobId)
      if (s != null) jobs.add(Map("id" -> e.jobId, "start_ms" -> s._1, "end_ms" -> e.time,
        "desc" -> s._2, "stages" -> s._3, "ok" -> (e.jobResult == JobSucceeded)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      stages.add(Map("id" -> i.stageId, "attempt" -> i.attemptNumber(),
        "start_ms" -> i.submissionTime.getOrElse(0L), "end_ms" -> i.completionTime.getOrElse(0L),
        "tasks" -> i.numTasks, "failed" -> i.failureReason.isDefined,
        "run_ms" -> (if (m == null) 0L else m.executorRunTime),
        "cpu_ns" -> (if (m == null) 0L else m.executorCpuTime),
        "gc_ms" -> (if (m == null) 0L else m.jvmGCTime),
        "shuffle_write_b" -> (if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten),
        "shuffle_read_b" -> (if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead),
        "spill_b" -> (if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled),
        "output_b" -> (if (m == null) 0L else m.outputMetrics.bytesWritten)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.reason != org.apache.spark.Success) taskFailures.incrementAndGet()
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case p: QueryProgressEvent => progress.add((System.currentTimeMillis(), p.progress.json))
      case _ =>
    }
  }
}
