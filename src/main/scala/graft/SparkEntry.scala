package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Entry-point contract — see SURVEY.md §7 + Appendix A.
  * Aggregates every registered capability ([[Q]]) from the query modules;
  * each key has a matching DuckDB oracle unless the op is inherently
  * engine-specific (sketches, stubs), which get the rows-only check.
  */
object SparkEntry {

  private def modules: Seq[Q] =
    _root_.graft.queries.RelationalQueries.all ++
      _root_.graft.queries.ScalarQueries.all ++
      _root_.graft.queries.StreamingQueries.all ++
      _root_.graft.queries.TextQueries.all ++
      _root_.graft.queries.DedupQueries.all ++
      _root_.graft.queries.SimilarityQueries.all ++
      _root_.graft.queries.ScaleQueries.all ++
      _root_.graft.queries.ExtendedQueries.all ++
      _root_.graft.queries.SourceQueries.all ++
      _root_.graft.queries.SampleQueries.all ++
      _root_.graft.queries.ProfileQueries.all ++
      _root_.graft.queries.GraphQueries.all ++
      _root_.graft.queries.PackQueries.all ++
      _root_.graft.queries.ViewQueries.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    modules.find(_.name == "agg_pricing_summary").get
      .run(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.map(q => q.name -> q.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    modules.flatMap(q => q.oracle.map(o => q.name -> o)).toMap
}
