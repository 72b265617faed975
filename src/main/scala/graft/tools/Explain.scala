package graft.tools

import graft.{GraftSession, SparkEntry}

/** Plan auditor: prints `explain("formatted")` for the named keys (or a
  * default plan-critical set) so shuffle/broadcast/pushdown choices can
  * be reviewed against the 100 TB design notes in each operator's
  * scaladoc. Run: `sbt "runMain graft.tools.Explain /root/testdata/sf0.01 [key ...]"`.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val keys = if (args.length > 1) args.drop(1).toSeq else Seq(
      "join_broadcast_dim", "filter_compound", "topk_global",
      "agg_pricing_summary", "llm_dedup_fuzzy", "llm_knn_cosine", "join_asof")
    val spark = GraftSession.local(4, 4)
    spark.sparkContext.setLogLevel("ERROR")
    keys.foreach { k =>
      println(s"\n========== $k ==========")
      SparkEntry.queries(k)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
