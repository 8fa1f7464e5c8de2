package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.entries.{Engine, Fixture, SearchOptions}

/** The registered gate queries and the flagship entry the Smoke/Verify/
  * Bench mains run. Queries are contributed by QueryModules; each carries
  * its DuckDB oracle SQL when SQL-expressible.
  */
object SparkEntry {
  private def modules: Seq[QueryModule] = Seq(
    operators.FtsQueries,
    entries.EntryQueries,
    operators.DedupQueries,
    operators.SimilarityQueries,
    operators.GovernanceQueries,
  )

  lazy val allDefs: Seq[QueryDef] = {
    val defs = modules.flatMap(_.defs)
    val dups = defs.groupBy(_.name).filter(_._2.size > 1).keys
    require(dups.isEmpty, s"duplicate query names: ${dups.mkString(",")}")
    defs
  }

  /** Flagship: the mirror's first list page over the fixture corpus —
    * the shared filter pipeline (corrections overlay) sliced to page 1
    * under the default `newest` sort (reference src/lib/db/entries.ts:87-139). */
  def entry(spark: SparkSession): DataFrame = {
    val opts = SearchOptions(sort = "newest")
    Engine.pageSlice(spark,
      Engine.listEntriesFiltered(spark, Fixture.df(spark), opts), opts, page = 1)
  }

  /** Every registered query by name. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allDefs.map(d => d.name -> d.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops
    * (driver records a weaker rows-only check). */
  def oracleSql: Map[String, String] =
    allDefs.flatMap(d => d.oracle.map(sql => d.name -> sql)).toMap
}
