package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.{Analytics, CurationQueries, DedupQueries, Profile, SimilarityQueries}
import graft.logs.LogQueries
import graft.functions.TextQueries

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Every registered query module (SURVEY.md §2). */
  private def registry: Seq[Q] =
    Analytics.all ++ LogQueries.all ++ TextQueries.all ++ DedupQueries.all ++
      CurationQueries.all ++ SimilarityQueries.all ++ Profile.all ++
      graft.operators.Graph.all ++ graft.sources.LayoutQueries.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Analytics.q01.fn(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.fn).toMap

  /** The `SPARK_GRAFT_ONLY=q1,q2` subset: `None` when unset, else the
    * asked names (trimmed, blanks and repeats dropped, in asked order)
    * split into `(known, unknown)` against the registry. Verify refuses
    * any unknown name; Bench warns and runs the known ones. */
  def onlyQueries(spec: Option[String]): Option[(Seq[String], Seq[String])] =
    spec.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq.distinct
      .partition(queries.contains))

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(o => q.name -> o.trim)).toMap
}
