package graft.tools
import graft.GraftSession
object BenchOne {
  def main(args: Array[String]): Unit = {
    // key accepts a comma-separated list: profile a related set in ONE
    // JVM (shared JIT/codegen/stage-cache warmth, like the real bench)
    val keys = args(0).split(',').map(_.trim).filter(_.nonEmpty)
    val sfDir = args(1); val reps = args.lift(2).map(_.toInt).getOrElse(3)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession.local(cpus, cpus)
    spark.sparkContext.setLogLevel("ERROR")
    GraftSession.warmUp(spark, sfDir)
    keys.foreach { key =>
      (1 to reps).foreach { r =>
        val t = GraftSession.timeKey(spark, sfDir, key, "benchone")
        if (t.failed) println(s"[benchone] $key rep$r: FAILED")
        else println(f"[benchone] $key rep$r: ${t.seconds}%.2f s (${t.rows} rows, steal ${t.steal})")
      }
    }
    spark.stop()
  }
}
