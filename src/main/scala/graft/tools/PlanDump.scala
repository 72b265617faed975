package graft.tools

import graft.{GraftSession, SparkEntry}

/** Writes `PLANS.md`: the formatted physical plan of EVERY registered
  * key, so pushdown / broadcast / shuffle / codegen choices are
  * reviewable as a committed artifact instead of ad-hoc [[Explain]]
  * runs. Regenerate after plan-affecting changes:
  * `sbt "runMain graft.tools.PlanDump /root/testdata/sf0.01"`. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val keys = SparkEntry.queries.keys.toSeq.sorted
    val spark = GraftSession.local(4, 4)
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans of the headline keys\n\n")
    sb.append(s"Generated by `graft.tools.PlanDump` over `$sfDir`. Things to\n")
    sb.append("check per plan: `PushedFilters` at the scan, `BroadcastHashJoin`\n")
    sb.append("for pinned dims, two `HashAggregate`s per agg (partial+final),\n")
    sb.append("`TakeOrderedAndProject` for top-k, wide `WholeStageCodegen`\n")
    sb.append("spans, and no `CartesianProduct` anywhere (also gated by\n")
    sb.append("`PlanShapeSpec`).\n")
    keys.foreach { k =>
      sb.append(s"\n## $k\n\n```\n")
      val plan =
        try SparkEntry.queries(k)(spark, sfDir)
          .queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
        catch { case e: Throwable => s"<failed: ${e.getMessage}>" }
      sb.append(plan.trim).append("\n```\n")
    }
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("PLANS.md"), sb.toString)
    println(s"PLANS.md written (${keys.size} keys)")
    spark.stop()
  }
}
