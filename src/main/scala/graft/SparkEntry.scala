package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.llm.{CorpusQueries, Curation, LlmQueries}
import graft.ml.MlQueries
import graft.ops.{EventQueries, RelationalQueries, StatsQueries}
import graft.stream.StreamQueries

/** One query of the registry: its name, its builder over the tables of a
  * scale-factor directory, the DuckDB SQL that must reproduce its rows
  * (None for the adjudicated queries, which are pinned by digest instead),
  * and whether building it already runs work (model fits, eager writes,
  * streaming runs, driver-side aggregates), so `Dev plan` skips it unless
  * it is named.
  */
final case class QueryDef(name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String] = None, eager: Boolean = false)

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    RelationalQueries.countsByType(spark, "/root/testdata/sf0.001")

  /** Every query, each family's list in turn; each name appears once. */
  val registry: Seq[QueryDef] = registryOf(
    RelationalQueries.queries ++ StatsQueries.queries ++ LlmQueries.queries ++
      CorpusQueries.queries ++ Curation.queries ++ EventQueries.queries ++
      MlQueries.queries ++ StreamQueries.queries)

  /** Refuses, naming each, any name that `defs` carries twice: the maps
    * below would silently keep only the last of them. */
  def registryOf(defs: Seq[QueryDef]): Seq[QueryDef] = {
    val dups = defs.groupBy(_.name).collect { case (n, ds) if ds.size > 1 => n }
    require(dups.isEmpty,
      s"duplicate queries: ${dups.toSeq.sorted.mkString(", ")}")
    defs
  }

  /** Each query's builder, by name. A build runs in a
    * [[Checkpoints.scoped]] block: it frees every checkpoint the returned
    * frame does not read, and hands the rest to the caller. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(d => d.name -> ((spark: SparkSession, sfDir: String) =>
      Checkpoints.scoped(_ => d.build(spark, sfDir)))).toMap

  /** Refuses, naming each, any name that is not a key of [[queries]]: a
    * typo in a dev main's query subset must fail before a session starts,
    * not quietly shrink the run. */
  def requireKnown(names: Iterable[String]): Unit = {
    val known = queries.keySet
    val unknown = names.filterNot(known)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
  }

  /** Builds query `name` over `sfDir` into `sink`, then frees the
    * checkpoints its frame reads, returned or thrown: the build already
    * freed the others, so a main holds no storage for its finished
    * queries. Checkpoints that other threads take meanwhile are theirs. */
  def run[A](spark: SparkSession, name: String, sfDir: String)(sink: DataFrame => A): A = {
    val df = queries(name)(spark, sfDir)
    try sink(df) finally Checkpoints.release(df)
  }

  /** [[run]] into the `noop` sink: every row evaluated, none written. */
  def runToNoop(spark: SparkSession, name: String, sfDir: String): Unit =
    run(spark, name, sfDir)(_.write.format("noop").mode("overwrite").save())

  /** Each query's DuckDB SQL over the same parquet tables; the
    * adjudicated queries have none. */
  val oracleSql: Map[String, String] =
    registry.flatMap(d => d.oracle.map(d.name -> _)).toMap
}
