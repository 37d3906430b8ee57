package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.Tables
import graft.queries.{Extensions, Inventory}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every key in [[queries]] is an operator from SURVEY.md §2b; the paired
  * [[oracleSql]] entry is the DuckDB-dialect equivalent the driver runs on
  * the same parquet tables. Column names are aliased identically on both
  * sides (the driver's compare sorts columns by name before hashing).
  */
object SparkEntry {

  /** Flagship query (TPC-H Q1 shape) on sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    Tables.register(spark, "/root/testdata/sf0.001")
    spark.sql(Inventory.byId("AGG-TPCH-Q1").sparkSql)
  }

  /** One entry per implemented operator from SURVEY.md §2, plus the
    * LLM-pipeline extensions (graft.queries.Extensions) — the single lookup
    * for the definition a query is served by. An inventory query is served
    * by its `sparkSql` unless graft.dsl.Relational has an entry for it, and
    * such an entry exists only where its optimized plan differs from the
    * SQL's (an engine operator or a hand-shaped plan). DslParitySpec asserts
    * that every DSL entry plans differently from, and hashes equal to, its
    * SQL. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Inventory.all.map { qry =>
      qry.id -> { (spark: SparkSession, dir: String) =>
        Tables.register(spark, dir)
        graft.dsl.Relational.impls.get(qry.id)
          .map(_(spark))
          .getOrElse(spark.sql(qry.sparkSql))
      }
    }.toMap ++ Extensions.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables — full coverage (MinHash/SimHash included via
    * the portable hash family in graft.llm.Dedup). */
  def oracleSql: Map[String, String] =
    Inventory.all.map(q => q.id -> q.duckSql).toMap ++ Extensions.oracleSql
}
