package graft.streaming

import graft.SparkSpec
import graft.operators.ViewOps
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import scala.jdk.CollectionConverters._
import scala.util.Try

/** How the join-view loop retries, fails and uses threads: a batch
  * retried after its compaction committed rewrites the clean run's
  * view; a failure on a worker thread surfaces from the loop with
  * nothing truncated; every worker is joined before the loop returns;
  * and each overlapped step's jobs keep their `vm: <phase>` label and
  * the stream's job group. */
class ViewMaintainSpec extends SparkSpec {

  import spark.implicits._

  private def oldA = Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("k", "g")
  private def newA = Seq((1L, "x"), (2L, "x"), (4L, "y")).toDF("k", "g")
  private def oldB = Seq((1L, 1L, 10L), (1L, 2L, 20L), (2L, 1L, 30L),
    (3L, 1L, 40L)).toDF("k", "i", "v")
  private def newB = Seq((1L, 1L, 11L), (2L, 1L, 30L), (2L, 2L, 50L),
    (4L, 1L, 60L)).toDF("k", "i", "v")
  private def dA = ViewOps.rowDeltas(oldA, newA, Seq("k"), Seq("g"))
  private def dB = ViewOps.rowDeltas(oldB, newB, Seq("k", "i"), Seq("v"))
  private def want = newA.join(newB, "k").groupBy("g")
    .agg(count(lit(1)).as("cnt"), sum("v").as("sum_v"))
    .collect().map(_.toSeq).toSet

  private val TagKey = "graft.spec.viewMaintain"
  private val Worker = "view-maintain worker of "

  private def msgs(t: Throwable): Seq[String] =
    Option(t).toSeq.flatMap(x =>
      Option(x.getMessage).toSeq ++ msgs(x.getCause))

  /** Run `f` with its Spark jobs tagged through an inherited local
    * property; return its outcome and each of its jobs' (description,
    * job group), in start order. */
  private def jobsOf[A](f: => A): (Try[A], Seq[(String, String)]) = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val seen = new ConcurrentLinkedQueue[(String, String)]()
    val done = new CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty(TagKey)).foreach { t =>
          if (t == tag) seen.add((e.properties.getProperty("spark.job.description"),
            e.properties.getProperty("spark.jobGroup.id")))
          else if (t == s"$tag end") done.countDown()
        }
    }
    sc.addSparkListener(l)
    try {
      sc.setLocalProperty(TagKey, tag)
      val r = Try(f)
      // one listener queue delivers in order: once a job started after
      // all of f's is seen, so are they
      sc.setLocalProperty(TagKey, s"$tag end")
      sc.parallelize(Seq(1), 1).count()
      assert(done.await(60, TimeUnit.SECONDS), "listener fell behind")
      (r, seen.asScala.toSeq)
    } finally {
      sc.setLocalProperty(TagKey, null)
      sc.removeSparkListener(l)
    }
  }

  /** Live loop workers started by this thread, or by the streams whose
    * batches ran in `jobs` (a stream's job group is its run id, which
    * the stream thread's name carries). */
  private def leftovers(jobs: Seq[(String, String)]): Set[String] = {
    val me = Thread.currentThread.getName
    val runIds = jobs.flatMap(j => Option(j._2)).toSet
    Thread.getAllStackTraces.keySet.asScala.toSet
      .filter(t => t.isAlive && t.getName.startsWith(Worker) &&
        (t.getName.endsWith(s" of $me") ||
          runIds.exists(id => t.getName.contains(id))))
      .map(_.getName)
  }

  test("a join step retried after its compaction committed rewrites the clean view and truncates") {
    def loop(): (ViewMaintain.JoinView, Path, Path) = {
      val root = graft.Scratch.dir("graft-join-view-retry")
      val jv = new ViewMaintain.JoinView(root, oldA, dA, oldB, dB,
        joinKeys = Seq("k"), aVals = Seq("g"), bVals = Seq("v"),
        viewGroupCols = Seq("g"), viewSumCols = Seq("v"),
        snapshotBuckets = None)
      jv.seed(spark)
      // the whole changelog as batch 0's committed slice
      val slice = root.resolve("log").resolve("b0")
      jv.envelope.write.parquet(slice.toString)
      (jv, root, slice)
    }
    def v1(root: Path) = spark.read.parquet(root.resolve("view/v1").toString)
      .collect().map(_.toSeq).toSet
    val (clean, cleanRoot, cleanSlice) = loop()
    clean.step(spark, 0, cleanSlice)
    val (retried, root, slice) = loop()
    // the first try committed both compactions, then died before its
    // view step; the retry runs the whole step again
    retried.compact(spark, 0, slice)
    assert(Files.exists(root.resolve("snapA/s1")) &&
      Files.exists(root.resolve("snapB/s1")))
    retried.step(spark, 0, slice)
    assert(v1(cleanRoot) == want)
    assert(v1(root) == v1(cleanRoot), "the retry joined against post-batch sides")
    Seq("log/b0", "snapA/s0", "snapB/s0").foreach(p =>
      assert(!Files.exists(root.resolve(p)), s"$p not truncated"))
    // a later retry re-writes the slice, finds s0 gone — committed —
    // and runs no job, only the truncation
    retried.envelope.write.parquet(slice.toString)
    val (again, jobs) = jobsOf(retried.step(spark, 0, slice))
    assert(again.isSuccess && jobs.isEmpty, jobs)
    assert(!Files.exists(slice) && v1(root) == want)
  }

  test("an over-delete on side B surfaces from the join loop, truncates nothing and leaves no worker") {
    def roots(): Set[Path] = {
      val ls = Files.list(Paths.get(graft.Scratch.root))
      try ls.iterator().asScala
        .filter(_.getFileName.toString.startsWith("graft-join-view-maintain"))
        .toSet
      finally ls.close()
    }
    val before = roots()
    val (r, jobs) = jobsOf(ViewMaintain.maintainJoinViewStream(spark,
      Seq((1L, "x"), (2L, "y")).toDF("odk", "odg"),
      Seq((3L, "x", 1)).toDF("odk", "odg", "w"),
      Seq((1L, 10L), (2L, 20L)).toDF("odk", "odv"),
      Seq((2L, 99L, -1)).toDF("odk", "odv", "w"), // never existed
      orderCol = "odk", chunks = 1, joinKeys = Seq("odk"),
      aVals = Seq("odg"), bVals = Seq("odv"),
      viewGroupCols = Seq("odg"), viewSumCols = Seq("odv")))
    assert(r.isFailure, "the over-delete was swallowed")
    assert(msgs(r.failed.get).exists(_.contains("over-delete")))
    // this run's root: the new one whose side B carries this test's
    // columns (other suites' loops may run at the same time)
    val mine = (roots() -- before).filter(d => Try(spark.read
      .parquet(d.resolve("snapB/s0").toString).columns.contains("odv"))
      .getOrElse(false))
    assert(mine.size == 1)
    Seq("log/b0", "snapA/s0", "snapB/s0").foreach(p =>
      assert(Files.exists(mine.head.resolve(p)), s"$p truncated by a failed step"))
    assert(jobs.exists(_._1 == "vm: b0 compact"))
    assert(leftovers(jobs).isEmpty)
  }

  test("the join loop labels every overlapped step's jobs and runs them in the stream's job group") {
    val (r, jobs) = jobsOf(ViewMaintain.maintainJoinViewStream(spark,
      oldA, dA, oldB, dB, orderCol = "k", chunks = 3, joinKeys = Seq("k"),
      aVals = Seq("g"), bVals = Seq("v"),
      viewGroupCols = Seq("g"), viewSumCols = Seq("v"))
      .collect().map(_.toSeq).toSet)
    assert(r.get == want)
    val labels = jobs.map(_._1).toSet
    assert(Set("vm: seed snapshot", "vm: seed view", "vm: staging")
      .subsetOf(labels), labels)
    val Slice = "vm: b(\\d+) slice".r
    val batches = labels.collect { case Slice(b) => b }
    assert(batches.size >= 2, labels)
    batches.foreach { b =>
      val group = jobs.collect { case (d, g) if d == s"vm: b$b slice" => g }.toSet
      assert(group.size == 1 && group.head != null)
      Seq("view", "compact").foreach { ph =>
        val gs = jobs.collect { case (d, g) if d == s"vm: b$b $ph" => g }
        assert(gs.nonEmpty, s"no vm: b$b $ph job")
        assert(gs.forall(_ == group.head), s"vm: b$b $ph ran outside the stream's job group")
      }
    }
    assert(leftovers(jobs).isEmpty)
  }
}
