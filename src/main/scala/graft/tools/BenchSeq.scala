package graft.tools
import graft.GraftSession

/** In-bench-order probe: replay the EXACT key sequence [[graft.Bench]]
  * runs (same warm-up, same `SparkEntry.queries` iteration order, same
  * local[32]/shuffle=32 session) up to a target key, then time the
  * target — isolating interference a key inherits from its in-bench
  * NEIGHBORS (JIT/GC state, shuffle-file accumulation, codegen cache)
  * that `BenchOne`'s clean-JVM timing cannot see.
  *
  * Usage: `BenchSeq <targetKey> <sfDir> [nBefore=10] [reps=3]` — runs
  * the `nBefore` keys that precede the target in bench order (one
  * pass, untimed beyond a per-key line), then the target `reps` times
  * in place.
  */
object BenchSeq {
  def main(args: Array[String]): Unit = {
    val target = args(0); val sfDir = args(1)
    val nBefore = args.lift(2).map(_.toInt).getOrElse(10)
    val reps = args.lift(3).map(_.toInt).getOrElse(3)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.local(cpus, cpus)
    spark.sparkContext.setLogLevel("ERROR")
    GraftSession.warmUp(spark, sfDir)
    val order = graft.SparkEntry.queries.keys.toSeq
    val ti = order.indexOf(target)
    require(ti >= 0, s"unknown key $target")
    val before = order.slice(math.max(0, ti - nBefore), ti)
    println(s"[benchseq] bench-order predecessors: ${before.mkString(", ")}")
    // a failed key prints FAILED and no time (its message goes to stderr)
    def time(k: String): String = {
      val t = GraftSession.timeKey(spark, sfDir, k, "benchseq")
      if (t.failed) "FAILED" else f"${t.seconds}%.2f s"
    }
    before.foreach(k => println(s"[benchseq]   pre $k: ${time(k)}"))
    (1 to reps).foreach(r =>
      println(s"[benchseq] $target rep$r: ${time(target)}"))
    spark.stop()
  }
}
