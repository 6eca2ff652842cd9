package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One runnable query: `run(spark, sfDir)` builds its result. `oracle` is
  * the DuckDB-equivalent SQL; a row is in the driver's correctness
  * contract exactly when it has one, and bench-only when it is `None`.
  * `curve` puts the row on [[Bench]]'s scale curve. */
final case class Query(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    curve: Boolean = false)

/** Driver contract — see SURVEY.md §7.
  *
  * [[all]] declares every query once, family by family: the relational
  * pass-through surface ([[RelationalQueries]], run through the
  * transform/run_raw_sql templating path), the operator-semantic suite
  * ([[OperatorQueries]]: loadFile/export/append/merge/checks/flatten and
  * friends), the curation pipelines ([[PipelineQueries]]) and their
  * streaming twins ([[StreamingQueries]]). The three maps the driver,
  * [[Verify]] and [[Bench]] read are derived from it.
  */
object SparkEntry {

  val all: Seq[Query] =
    RelationalQueries.all ++ OperatorQueries.all ++ PipelineQueries.all ++
      StreamingQueries.all

  /** The correctness contract: every row with an oracle. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    all.collect { case q if q.oracle.isDefined => q.name -> q.run }.toMap

  /** Rows [[Bench]] times but the driver does not check: each is
    * un-oracle-able in DuckDB and triangulated by a hash-matched sibling
    * in [[queries]] (see [[PipelineQueries.all]]). */
  val benchOnlyQueries: Map[String, (SparkSession, String) => DataFrame] =
    all.collect { case q if q.oracle.isEmpty => q.name -> q.run }.toMap

  val oracleSql: Map[String, String] =
    all.collect { case Query(name, _, Some(sql), _) => name -> sql }.toMap

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    val sfDir = "/root/testdata/sf0.001"
    queries("q3_join_agg")(spark, sfDir)
  }
}
