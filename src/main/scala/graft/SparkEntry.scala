package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Aggregates every implemented operator's query from the per-module
  * registries under `graft.queries`. Each entry pairs a Spark program with
  * DuckDB oracle SQL over the same parquet tables (hash-compared by the
  * driver at sf0.01); entries without SQL-expressible semantics register
  * rows-only.
  */
object SparkEntry {
  private def registry: Seq[QueryDef] = _root_.graft.queries.Registry.all

  /** Every query by name with its untimed `setup` — what the harness
    * mains (Bench, Verify, Explain) run.
    */
  private[graft] def defs: Map[String, QueryDef] =
    registry.map(q => q.name -> q).toMap

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    _root_.graft.queries.Relational.bandStats.fn(spark, "/root/testdata/sf0.001")

  /** One per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
