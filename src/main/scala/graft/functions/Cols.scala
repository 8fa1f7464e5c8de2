package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The served path's scalar functions as pure Column expressions.
  *
  * Everything here compiles to built-in Catalyst expressions (codegen'd,
  * pushdown-friendly). The string functions whose semantics exceed SQL
  * live in [[Text]] and reach Spark through the agency identity UDFs in
  * `Normalize`. Each builder cites the reference implementation it
  * matches.
  */
object Cols {

  /** F5 resolutionBucketKey — reference src/lib/utils.ts:33-40. */
  def resolutionBucket(c: Column): Column = {
    val v = lower(trim(coalesce(c, lit(""))))
    when(v === "granted", "granted")
      .when(v === "granted in part", "granted_in_part")
      .when(v === "exempted", "exempted")
      .when(v === "rejected", "rejected")
      .otherwise("other")
  }

  /** F6 diffDays — reference src/lib/utils.ts:128-137. -1 when either side
    * is null/unparseable or the completion year is after asOfYear (the
    * reference uses the wall-clock year; we take it as a parameter so
    * results are deterministic). Inputs are ISO date strings. */
  def diffDays(from: Column, to: Column, asOfYear: Int): Column = {
    val f = try_to_date(from)
    val t = try_to_date(to)
    when(from.isNull || to.isNull || f.isNull || t.isNull, lit(-1))
      .when(year(t) > asOfYear, lit(-1))
      .otherwise(datediff(t, f))
  }

  /** SQLite `CAST(fee AS INTEGER)` semantics used by the highest_fee sort
    * (reference src/lib/utils.ts:8): parse the leading integer prefix of
    * arbitrary text, 0 otherwise. */
  def sqliteFeeInt(c: Column): Column =
    coalesce(
      nullif(regexp_extract(trim(c), "^-?[0-9]+", 0), lit("")).try_cast("bigint"),
      lit(0L))

  /** F17 escapeXml — reference src/lib/rss.ts:18-25 (& first, then the
    * other four entities). */
  def escapeXml(c: Column): Column = {
    val amp = regexp_replace(c, "&", "&amp;")
    val lt = regexp_replace(amp, "<", "&lt;")
    val gt = regexp_replace(lt, ">", "&gt;")
    val quot = regexp_replace(gt, "\"", "&quot;")
    regexp_replace(quot, "'", "&apos;")
  }

  /** FTS terms of one text column: diacritic-fold, lowercase, split on
    * non-alphanumerics — the Spark analog of FTS5 `unicode61
    * remove_diacritics 1` (reference migrations/0002_fts.sql:12). The
    * fold is the native codegen expression, not a UDF, so index builds
    * stay in one whole-stage span. */
  def ftsTokens(c: Column): Column =
    filter(split(lower(graft.plans.NativeFunctions.stripDiacritics(coalesce(c, lit("")))),
      "[^a-z0-9]+"), t => t =!= "")
}
