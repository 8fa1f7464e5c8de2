package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One verifiable operator: a Spark pipeline plus (when SQL-expressible)
  * the equivalent ANSI SQL for the DuckDB oracle. Names follow the
  * operator ids in SURVEY.md §2 so coverage can be checked line by line.
  */
final case class QueryDef(
    name: String,
    oracle: Option[String]
)(val run: (SparkSession, String) => DataFrame)

trait QueryModule {
  def defs: Seq[QueryDef]
}
