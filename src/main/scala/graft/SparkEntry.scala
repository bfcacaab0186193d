package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.{Composite, EventTime, Extra, Funcs, LlmOps, Relational, Round2, Round3, Round4, Round4b, Round5, Round6, Round6b, Round6c, Round7, Round8, Round9, Round10, Round11, Round11b, Round12, Round13, Round14}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * The full catalog lives in graft.queries.*; each entry pairs a Spark
  * implementation with (when SQL-expressible) a DuckDB oracle twin with
  * identical column names and types (SURVEY.md §2.3 determinism rules).
  */
object SparkEntry {

  private lazy val catalog: Map[String, QueryDef] =
    Relational.defs ++ Funcs.defs ++ EventTime.defs ++ LlmOps.defs ++
      Extra.defs ++ Composite.defs ++ Round2.defs ++ Round3.defs ++
      Round4.defs ++ Round4b.defs ++ Round5.defs ++ Round6.defs ++ Round6b.defs ++
      Round6c.defs ++ Round7.defs ++ Round8.defs ++ Round9.defs ++ Round10.defs ++ Round11.defs ++
      Round11b.defs ++ Round12.defs ++ Round13.defs ++ Round14.defs

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.tpchQ1(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    catalog.map { case (k, d) => k -> d.fn }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    catalog.collect { case (k, QueryDef(_, Some(sql))) => k -> sql }
}
