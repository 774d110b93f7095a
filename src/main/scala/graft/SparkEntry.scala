package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — the complete operator surface (SURVEY.md §2), one
  * query per operator plus a DuckDB oracle where ANSI SQL can express it.
  * Each query is declared once, beside its oracle, in its family object
  * under `graft.queries`; the maps below are projections of those lists.
  */
object SparkEntry {

  /** Flagship: star-join revenue by region/nation on sf0.001. */
  def entry(spark: SparkSession): DataFrame =
    EtlQueries.starRevenue(spark, "/root/testdata/sf0.001")

  /** Every registered query, family by family. */
  private[graft] def specs: Seq[QuerySpec] =
    Seq(EtlQueries, DedupQueries, AnnQueries, TextQueries, CurationQueries,
      SketchQueries, TemporalQueries, GraphQueries, StreamingQueries,
      RuntimeQueries, AnalyticsQueries).flatMap(_.specs)

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    specs.map(s => s.name -> s.run).toMap

  def oracleSql: Map[String, String] = specs.map(s => s.name -> s.oracle).toMap
}
