package graft

import graft.queries.{Analytics, Extensions, PipelineQueries}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Entry-point contract — see SURVEY.md §7.
  *
  * `queries` is the operator inventory: reference-parity pipeline semantics
  * (SURVEY §2.1/§2.2) + the extended analytical surface (§2.3) + the
  * large-scale training-data operators (dedup / similarity / text /
  * multimodal). Each SQL-expressible entry has a DuckDB oracle in
  * `oracleSql` with IDENTICAL output column names and deterministic
  * ordering.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Q3-style multi-join + aggregation + deterministic top-10 — broadcast
    * join, shuffle agg, and TakeOrdered in one plan. */
  def entry(spark: SparkSession): DataFrame =
    Analytics.q3ShippingPriority(spark, "/root/testdata/sf0.001")

  // Cross-module uniqueness guard: `mapA ++ mapB` silently overrides on a
  // shared key, so a query/oracle accidentally defined in two modules
  // would swallow one definition — fail fast instead.
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.queries.Entries.toMapUnique("SparkEntry.queries",
      PipelineQueries.queries.toSeq ++ Analytics.queries.toSeq ++ Extensions.queries.toSeq)

  def oracleSql: Map[String, String] =
    graft.queries.Entries.toMapUnique("SparkEntry.oracleSql",
      PipelineQueries.oracles.toSeq ++ Analytics.oracles.toSeq ++ Extensions.oracles.toSeq)
}
