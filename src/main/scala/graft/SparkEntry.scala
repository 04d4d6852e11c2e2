package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Aggregates every declared query pack into the `queries` / `oracleSql`
  * maps the driver verifies (DuckDB oracle at sf0.01) and benches (sf0.1).
  */
object SparkEntry {

  private val packs: Seq[QueryPack] = Seq(
    Relational,
    Analytics,
    TextOps,
    Dedup,
    Similarity,
    Curate,
    SourceFormats,
    Ingest
  )

  private lazy val all: Map[String, QueryDef] =
    packs.flatMap(_.defs).toMap

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    Persisted.drain()
    all("q1_pricing_summary").build(spark, "/root/testdata/sf0.001")
  }

  /** One entry per implemented operator from SURVEY.md §2. Each build
    * first drains the [[Persisted]] registry, releasing frames cached by
    * the PREVIOUS query — a long-lived session's cache footprint is
    * bounded by one query's working set (library cache-hygiene contract;
    * CacheHygieneSpec).
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map { case (k, v) =>
      k -> ((s: SparkSession, d: String) => { Persisted.drain(); v.build(s, d) })
    }

  /** The stderr line Verify and Bench print for a query that threw. It
    * names the exception class, because a message alone can be `null`
    * (an NPE's is).
    */
  def failureLine(main: String, name: String, e: Throwable): String =
    s"[$main] $name FAILED: ${e.getClass.getName}: ${e.getMessage}"

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    all.collect { case (k, QueryDef(_, Some(sql))) => k -> sql.trim }
}
