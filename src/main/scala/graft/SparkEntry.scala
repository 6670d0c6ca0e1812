package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Queries live in [[graft.queries]] packs; this object concatenates them.
  * Every declared query has a matching DuckDB oracle SQL unless its semantics
  * are not SQL-expressible (then the driver records a rows-only check).
  */
object SparkEntry {

  private[graft] val packs: Seq[QueryPack] = Seq(
    PipelineQueries,
    TpchQueries,
    TpchExtraQueries,
    TpchFinalQueries,
    RelationalQueries,
    AnalyticQueries,
    SketchQueries,
    MergeQueries,
    EventQueries,
    TemporalQueries,
    TextQueries,
    PretrainQueries,
    SamplingQueries,
    DedupQueries,
    SimilarityQueries,
    MultimodalQueries)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_agg")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    packs.flatMap(_.queries).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    packs.flatMap(_.oracleSql).toMap

  /** The query filter the Verify and Bench mains share:
    * `SPARK_GRAFT_ONLY=q1,q2` keeps only the named queries, unset keeps
    * every query. A local iteration aid; the full runs leave it unset.
    */
  private[graft] val selected: String => Boolean = {
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    name => only.forall(_.contains(name))
  }
}
