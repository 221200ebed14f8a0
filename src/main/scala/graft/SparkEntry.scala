package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.registry._

/** Driver contract — see SURVEY.md §7.
  *
  * [[queries]] and [[oracleSql]] are projections of one registry: each
  * family file in `graft.registry` registers a query once, its Spark plan
  * beside its DuckDB oracle, so the two maps cannot drift apart.
  */
object SparkEntry {

  /** Flagship: fuzzy-match perturbed customer names against a prefix tree
    * of all customer names (the reference's end-to-end lifecycle:
    * Create + QueryThorLevenshtein, PrefixTree.ecl:592-660).
    * Driver smoke-checks rows>0 on sf0.001.
    */
  def entry(spark: SparkSession): DataFrame =
    PrefixTreeQueries.ptFuzzyCustomer(spark, "/root/testdata/sf0.001")

  private lazy val registry: Map[String, Entry] = Registry.union(
    PrefixTreeQueries, RelationalQueries, DedupQueries, SimilarityQueries,
    TextQueries, WebQueries, MultimodalQueries, EventQueries)

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (name, e) => name -> e.plan }

  def oracleSql: Map[String, String] =
    registry.map { case (name, e) => name -> e.oracle }
}
