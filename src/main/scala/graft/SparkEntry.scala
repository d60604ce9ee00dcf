package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._
import graft.queries.Oracle.{Fitted, Fixture, Sql}

/** Driver contract — see SURVEY.md §7.
  *
  * Every implemented operator from SURVEY §2 is declared once, as a
  * [[QueryDef]] in its family under `graft.queries`: a Spark DataFrame
  * program over the driver's test tables and exactly one DuckDB oracle
  * over the same tables. The maps the driver reads are views of that one
  * list.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    RelationalQueries.a3PricingSummary(spark, "/root/testdata/sf0.001")

  /** Every declared query; a name declared twice fails here. */
  val defs: List[QueryDef] = QueryDef.registry(
    RelationalQueries.defs ++ SignalQueries.defs ++ StreamQueries.defs ++ StrategyQueries.defs ++
      TextQueries.defs ++ DedupQueries.defs ++ AnnQueries.defs ++ MultimodalQueries.defs)

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    defs.map(d => d.name -> d.program).toMap

  /** The oracles fixed when the registry is built: plain and fixture SQL. */
  def oracleSql: Map[String, String] = defs.collect {
    case QueryDef(name, _, Sql(text)) => name -> text
    case QueryDef(name, _, Fixture(_, text, _)) => name -> text
  }.toMap

  /** The oracles embedding FITTED model state, rendered against the live
    * session and sfDir so the dumped oracle_sql.json carries runnable,
    * fully-pinned SQL. One [[Fits]] holder per call: each model is fitted
    * at most once however many oracles read it.
    */
  def oracleSqlFitted(spark: SparkSession, dir: String): Map[String, String] = {
    val fits = new Fits(spark, dir)
    defs.collect { case QueryDef(name, _, Fitted(render)) => name -> render(fits) }.toMap
  }
}
