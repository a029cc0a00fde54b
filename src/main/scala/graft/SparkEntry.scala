package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{Dedup, EtlQueries, Maintenance, Models, Multimodal, Pipeline, Relational, Relational2, Similarity, Sketches, Temporal, Text, Typed}
import graft.streaming.Streams

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` maps every implemented operator from SURVEY.md §2 (plus
  * the driver-mandated extension layer) to a DataFrame builder;
  * `oracleSql` carries the DuckDB-equivalent SQL for the correctness
  * gate. Column names are aliased identically on both sides (the
  * driver's compare sorts columns by name before hashing).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q1PricingSummary(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Relational.queries ++ Relational2.queries ++ EtlQueries.queries ++
      Text.queries ++ Dedup.queries ++ Similarity.queries ++
      Temporal.queries ++ Multimodal.queries ++ Streams.queries ++ Typed.queries ++
      Maintenance.queries ++ Pipeline.queries ++ Sketches.queries ++ Models.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    Relational.oracles ++ Relational2.oracles ++ EtlQueries.oracles ++
      Text.oracles ++ Dedup.oracles ++ Similarity.oracles ++
      Temporal.oracles ++ Multimodal.oracles ++ Streams.oracles ++ Typed.oracles ++
      Maintenance.oracles ++ Pipeline.oracles ++ Sketches.oracles ++ Models.oracles
}
