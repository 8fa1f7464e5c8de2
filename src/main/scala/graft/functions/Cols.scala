package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The engine's scalar function library as pure Column expressions.
  *
  * Everything here compiles to built-in Catalyst expressions (codegen'd,
  * pushdown-friendly). The string UDFs whose semantics exceed SQL are
  * the two in [[Udfs]] (titlify, buildPageNumbers) and the agency
  * identity UDFs in `Normalize`/`Corrections`. Each builder cites the
  * reference implementation it matches.
  */
object Cols {

  /** F1 slugify — reference src/lib/utils.ts:42-49. */
  def slugify(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(regexp_replace(lower(c), "[\\s+|/]", "-"), "[^a-z0-9-]", ""),
        "-+", "-"),
      "^-|-$", "")

  /** F4 normalizeToken — reference src/lib/corrections.ts:26-28 (titlify
    * washes out under lowercase; equals stripping non-alnum of lower). */
  def normalizeToken(c: Column): Column =
    regexp_replace(lower(c), "[^a-z0-9]", "")

  /** F5 resolutionBucketKey — reference src/lib/utils.ts:33-40. */
  def resolutionBucket(c: Column): Column = {
    val v = lower(trim(coalesce(c, lit(""))))
    when(v === "granted", "granted")
      .when(v === "granted in part", "granted_in_part")
      .when(v === "exempted", "exempted")
      .when(v === "rejected", "rejected")
      .otherwise("other")
  }

  /** O4 resolutionSortScore — reference src/lib/utils.ts:19-31 (fixed rank
    * list, unknown -> MAX_SAFE_INTEGER i.e. after everything). */
  def resolutionSortScore(c: Column): Column = {
    val v = when(lower(trim(coalesce(c, lit("")))) === "", "other")
      .otherwise(lower(trim(c)))
    when(v === "granted", 0)
      .when(v === "granted in part", 1)
      .when(v === "exempted", 2)
      .when(v === "rejected", 3)
      .when(v === "other", 4)
      .otherwise(lit(9007199254740991L))
  }

  /** S3 normalizeDate — reference src/lib/sync.ts:59-76. Pure string
    * transform: M/D/YYYY -> zero-padded ISO, ISO passes through, anything
    * else null. Deliberately no calendar validation (the reference has
    * none: 13/45/2024 becomes 2024-13-45). */
  def normalizeDate(c: Column): Column = {
    val t = trim(c)
    val mdy = "^(\\d{1,2})/(\\d{1,2})/(\\d{4})$"
    when(c.isNull || t === "", lit(null).cast(StringType))
      .when(t.rlike(mdy),
        concat_ws("-",
          regexp_extract(t, mdy, 3),
          lpad(regexp_extract(t, mdy, 1), 2, "0"),
          lpad(regexp_extract(t, mdy, 2), 2, "0")))
      .when(t.rlike("^\\d{4}-\\d{2}-\\d{2}$"), t)
      .otherwise(lit(null).cast(StringType))
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

  /** F7 diffHuman — reference src/lib/utils.ts:139-154. 365/30/7
    * decomposition of a day count, comma-joined, "same day" for 0,
    * "--" for negatives. */
  def diffHuman(total: Column): Column = {
    val years = floor(total / 365)
    val months = floor((total % 365) / 30)
    val weeks = floor(((total % 365) % 30) / 7)
    val days = ((total % 365) % 30) % 7
    def part(n: Column, unit: String): Column =
      when(n > 0, concat(n.cast(StringType), lit(" " + unit),
        when(n === 1, "").otherwise("s")))
    when(total < 0, "--")
      .when(total === 0, "same day")
      .otherwise(concat_ws(", ",
        part(years, "year"), part(months, "month"),
        part(weeks, "week"), part(days, "day")))
  }

  /** F9 formatCurrency's numeric core — reference src/lib/utils.ts:111-121:
    * strip [^0-9.-], parseFloat; null/0/NaN render as "--". */
  def feeAmount(c: Column): Column =
    nullif(regexp_replace(c, "[^0-9.-]+", ""), lit("")).try_cast("double")

  /** SQLite `CAST(fee AS INTEGER)` semantics used by the highest_fee sort
    * (reference src/lib/utils.ts:8): parse the leading integer prefix of
    * arbitrary text, 0 otherwise. */
  def sqliteFeeInt(c: Column): Column =
    coalesce(
      nullif(regexp_extract(trim(c), "^-?[0-9]+", 0), lit("")).try_cast("bigint"),
      lit(0L))

  /** F10 formatRequestor — reference src/lib/utils.ts:123-126. */
  def formatRequestor(first: Column, middle: Column, last: Column, org: Column): Column =
    coalesce(nullif(concat_ws(" ", first, middle, last), lit("")), org, lit("--"))

  /** F12 normalizeKey (ingest) — reference src/lib/sync.ts:50-57. */
  def normalizeKey(c: Column): Column =
    regexp_replace(
      regexp_replace(lower(trim(regexp_replace(c, ":", ""))), "[^a-z0-9]+", "_"),
      "^_+|_+$", "")

  /** F13 cleanText (ingest) — reference src/lib/sync.ts:78-81: collapse
    * JS whitespace runs to one space, then trim (only ' ' is left). */
  def cleanText(c: Column): Column =
    trim(regexp_replace(coalesce(c, lit("")), Text.JsSpaceRun.pattern, " "))

  /** F14 fmtNumber — reference src/lib/utils.ts:156-158 (round + en-US
    * thousands separators). */
  def fmtNumber(c: Column): Column =
    format_number(round(c, 0).cast(LongType), 0)

  /** F16 parseFeedDate — reference src/lib/rss.ts:32-44: ISO day -> UTC
    * noon; otherwise a plain timestamp parse. */
  def parseFeedDate(c: Column): Column =
    when(c.rlike("^\\d{4}-\\d{2}-\\d{2}$"),
      try_to_timestamp(c).cast(TimestampType) + expr("INTERVAL 12 HOURS"))
      .otherwise(try_to_timestamp(c))

  /** F17 escapeXml — reference src/lib/rss.ts:18-25 (& first, then the
    * other four entities). */
  def escapeXml(c: Column): Column = {
    val amp = regexp_replace(c, "&", "&amp;")
    val lt = regexp_replace(amp, "<", "&lt;")
    val gt = regexp_replace(lt, ">", "&gt;")
    val quot = regexp_replace(gt, "\"", "&quot;")
    regexp_replace(quot, "'", "&apos;")
  }

  /** F15 formatTimeAgo — reference src/lib/utils.ts:174-207, with the
    * reference's hidden `Date.now()` made an explicit `now` column. */
  def formatTimeAgo(ts: Column, now: Column): Column = {
    val deltaMs = (now.cast("double") - ts.cast("double")) * 1000
    def cnt(ms: Long): Column = floor(deltaMs / ms).cast(LongType)
    def render(n: Column, unit: String): Column =
      concat(n.cast(StringType), lit(" " + unit), when(n === 1, "").otherwise("s"), lit(" ago"))
    when(ts.isNull, lit(null).cast(StringType))
      .when(deltaMs < 60000L, "just now")
      .when(deltaMs < 3600000L, render(cnt(60000L), "minute"))
      .when(deltaMs < 86400000L, render(cnt(3600000L), "hour"))
      .when(deltaMs < 2592000000L, render(cnt(86400000L), "day"))
      .when(deltaMs < 31536000000L, render(cnt(2592000000L), "month"))
      .otherwise(render(cnt(31536000000L), "year"))
  }

  /** F11 buildFtsQuery — reference src/lib/db/entries.ts:12-20: lowercase,
    * split on JS whitespace, strip non-alnum per term, `term*` each,
    * AND-join; null when no terms survive. */
  def buildFtsQuery(c: Column): Column = {
    val cleaned = filter(
      transform(split(lower(c), Text.JsSpaceRun.pattern),
        t => regexp_replace(t, "[^a-z0-9]", "")),
      t => t =!= "")
    when(size(cleaned) === 0, lit(null).cast(StringType))
      .otherwise(array_join(transform(cleaned, t => concat(t, lit("*"))), " AND "))
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

/** Two deterministic UDFs whose JS semantics genuinely exceed built-in
  * expressions. Everything else here is Column expressions (see [[Cols]]). */
object Udfs {
  import org.apache.spark.sql.functions.udf

  /** F2 titlify — reference src/lib/utils.ts:51-59. */
  val titlify = udf((s: String, disableCapAcro: Boolean) =>
    if (s == null) null else Text.titlify(s, disableCapAcro))

  /** F18 buildPageNumbers — reference src/lib/utils.ts:160-172. */
  val buildPageNumbers = udf((page: Int, total: Int) =>
    Text.buildPageNumbers(page, total))
}
