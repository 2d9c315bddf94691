package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.llm.LlmQueries
import graft.ml.MlQueries
import graft.ops.RelationalQueries
import graft.stream.StreamQueries
/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    RelationalQueries.countsByType(spark, "/root/testdata/sf0.001")
  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    RelationalQueries.all ++ graft.ops.StatsQueries.all ++ LlmQueries.all ++
      graft.llm.CorpusQueries.all ++ graft.llm.Curation.all ++
      graft.ops.EventQueries.all ++ MlQueries.all ++ StreamQueries.all
  /** Refuses, naming each, any name that is not a key of [[queries]]: a
    * typo in a dev main's query subset must fail before a session starts,
    * not quietly shrink the run. */
  def requireKnown(names: Iterable[String]): Unit = {
    val known = queries.keySet
    val unknown = names.filterNot(known)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
  }
  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    RelationalQueries.oracle ++ graft.ops.StatsQueries.oracle ++
      LlmQueries.oracle ++ graft.llm.CorpusQueries.oracle ++
      graft.llm.Curation.oracle ++ graft.ops.EventQueries.oracle ++
      MlQueries.oracle ++ StreamQueries.oracle
}
