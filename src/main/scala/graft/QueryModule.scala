package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One family of registered operators: its query builders and, per key, the
  * ANSI SQL oracle DuckDB runs on the same parquet tables. A key without an
  * oracle is checked rows-only. A module with model-as-literal oracles
  * ([[OracleContext]]) implements `oracles` as a `def`, so they render when
  * read, after `graft.Verify` has set the context. */
trait QueryModule {
  def queries: Map[String, (SparkSession, String) => DataFrame]
  def oracles: Map[String, String]
}
