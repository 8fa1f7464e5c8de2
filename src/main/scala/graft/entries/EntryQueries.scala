package graft.entries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.{Cols, Text}
import graft.util.SqlLit
import scala.reflect.runtime.universe.TypeTag

/** Reusable entries-domain transforms: the corrections overlay + canonical
  * agency identity every reference row passes through
  * (normalizeEntry/applyCorrections, src/lib/db/shared.ts:21-23 +
  * src/lib/corrections.ts:70-88). */
object Normalize {
  import Fixture._

  /** The two domain UDFs, closed over the fixture alias map. Deterministic
    * string functions -> safe under codegen and retries. */
  val agencyNameUdf = udf((s: String) =>
    if (s == null) null else Text.normalizeAgencyName(s, aliasGroups))
  val agencySlugUdf = udf((s: String) =>
    if (s == null) null else Text.agencyIdentity(s, aliasGroups)._2)
  val agencyTitleUdf = udf((s: String) =>
    if (s == null) null else Text.agencyIdentity(s, aliasGroups)._1)

  /** The fixture's corrections as literal lookup maps, built once:
    * id -> patched request / completion date, organization -> remap. */
  private val reqFixes: Map[Long, String] =
    dateCorrections.collect { case (id, Some(d), _) => id -> d }.toMap
  private val compFixes: Map[Long, String] =
    dateCorrections.collect { case (id, _, Some(d)) => id -> d }.toMap
  private val orgFixes: Map[String, String] = orgCorrections.toMap

  /** `fixes(key)` when the map holds `key`, else the column `c` itself
    * (applyCorrections' `patch ?? value`, corrections.ts:70-88). A
    * map-literal lookup is a plain expression: no side relation, no
    * broadcast, no extra Spark job. An empty map leaves `c` untouched. */
  private def overlay[K: TypeTag](fixes: Map[K, String], key: Column, c: String): Column =
    if (fixes.isEmpty) col(c)
    else coalesce(try_element_at(typedLit(fixes), key), col(c))

  /** P9 — normalizeEntry as one shared view-level transform: the date
    * patches and the organization remap as map-literal lookups, then the
    * apostrophe cleanup and canonicalization (the UDF surface). Applied
    * once in the view, not per query. */
  def normalizeEntries(df: DataFrame): DataFrame = {
    val cleaned = regexp_replace(col("agency"), "'{2,}", "'")
    df
      .withColumn("request_date", overlay(reqFixes, col("id"), "request_date"))
      .withColumn("completion_date", overlay(compFixes, col("id"), "completion_date"))
      .withColumn("organization", overlay(orgFixes, col("organization"), "organization"))
      .withColumn("agency", agencyNameUdf(cleaned))
  }

  /** Corrected-date columns for filter/sort (correctedDateExpr,
    * src/lib/db/shared.ts:55-66): the same map-literal lookups as
    * [[normalizeEntries]]. The single source of the corrected view: the
    * Engine filter pipeline and the partitioned Warehouse both read
    * THIS, so the overlay semantics cannot drift between the two paths. */
  def withCorrectedDates(entries: DataFrame): DataFrame =
    entries
      .withColumn("corrected_request", overlay(reqFixes, col("id"), "request_date"))
      .withColumn("corrected_completion", overlay(compFixes, col("id"), "completion_date"))

  /** Canonical (name, slug) identity columns (agencyIdentity,
    * src/lib/db/shared.ts:14-19), on the apostrophe-cleaned raw agency. */
  def withIdentity(df: DataFrame): DataFrame = {
    val cleaned = regexp_replace(col("agency"), "'{2,}", "'")
    df.withColumn("name", agencyTitleUdf(cleaned))
      .withColumn("slug", agencySlugUdf(cleaned))
  }

  /** Alias-candidate spellings for an agency filter (resolveAgencyAliases
    * seed, src/lib/db/shared.ts:25-49). The DB-confirm step only returns
    * spellings that already case-insensitively match the seed, so for
    * filtering the ci-IN(seed) predicate is complete — no driver
    * round-trip needed. */
  def aliasCandidates(agency: String): Seq[String] =
    (Text.agencyNameCandidates(agency, aliasGroups) :+ agency)
      .map(_.trim).filter(_.nonEmpty).distinct
}

/** Composite entries-domain pipelines registered for the gate. Oracles
  * run on the same VALUES-rendered corpus; canonical identity reaches the
  * oracle through Fixture.identityMap (computed by the same reference-
  * semantics Scala functions the UDFs use, so the oracle checks the
  * Spark pipeline end to end; hand-written ScalaTest goldens pin the
  * functions themselves). */
object EntryQueries extends graft.QueryModule {
  import Fixture._

  // Oracle-side twins of AgencyEngine's Column helpers.
  private val asOfSql = s"DATE '$AsOf'"
  private def winSql(n: Int) = s"request_date >= CAST(($asOfSql - $n) AS VARCHAR)"
  private val validSql =
    "request_date IS NOT NULL AND completion_date IS NOT NULL AND completion_date >= request_date"
  private val ddiffSql =
    "date_diff('day', try_cast(request_date AS DATE), try_cast(completion_date AS DATE))"

  private def bucketSqlOf(res: String): String =
    s"""CASE WHEN lower(trim(coalesce($res, ''))) = 'granted' THEN 'granted'
       |  WHEN lower(trim(coalesce($res, ''))) = 'granted in part' THEN 'granted_in_part'
       |  WHEN lower(trim(coalesce($res, ''))) = 'exempted' THEN 'exempted'
       |  WHEN lower(trim(coalesce($res, ''))) = 'rejected' THEN 'rejected'
       |  ELSE 'other' END""".stripMargin

  /** Oracle twin of AgencyEngine.agencyStats — shared by q_agency_stats
    * and the q_agency_list wrapper. */
  private lazy val agencyStatsSql: String = {
    val b = bucketSqlOf("resolution")
    s"""WITH base AS (
       |  SELECT e.*, ident.name, ident.slug
       |  FROM $entriesSql JOIN $identitySql ON e.agency = ident.raw_agency),
       |metrics AS (
       |  SELECT slug, min(name) AS name, count(*) AS requests,
       |    CAST(SUM(CASE WHEN ${winSql(30)} THEN 1 ELSE 0 END) AS BIGINT) AS requests_30d,
       |    CAST(SUM(CASE WHEN ${winSql(90)} THEN 1 ELSE 0 END) AS BIGINT) AS requests_90d,
       |    CAST(SUM(CASE WHEN ${winSql(365)} THEN 1 ELSE 0 END) AS BIGINT) AS requests_365d,
       |    CAST(SUM(CASE WHEN $validSql THEN 1 ELSE 0 END) AS BIGINT) AS response_count,
       |    CAST(SUM(CASE WHEN $validSql THEN $ddiffSql ELSE 0 END) AS BIGINT) AS response_days_sum,
       |    CAST(SUM(CASE WHEN ${winSql(30)} AND $validSql THEN 1 ELSE 0 END) AS BIGINT) AS response_count_30d,
       |    CAST(SUM(CASE WHEN ${winSql(30)} AND $validSql THEN $ddiffSql ELSE 0 END) AS BIGINT) AS response_days_sum_30d,
       |    CAST(SUM(CASE WHEN ${winSql(90)} AND $validSql THEN 1 ELSE 0 END) AS BIGINT) AS response_count_90d,
       |    CAST(SUM(CASE WHEN ${winSql(90)} AND $validSql THEN $ddiffSql ELSE 0 END) AS BIGINT) AS response_days_sum_90d,
       |    CAST(SUM(CASE WHEN ${winSql(365)} AND $validSql THEN 1 ELSE 0 END) AS BIGINT) AS response_count_365d,
       |    CAST(SUM(CASE WHEN ${winSql(365)} AND $validSql THEN $ddiffSql ELSE 0 END) AS BIGINT) AS response_days_sum_365d
       |  FROM base GROUP BY slug),
       |res AS (
       |  SELECT slug,
       |    CAST(SUM(CASE WHEN $b = 'granted' THEN 1 ELSE 0 END) AS BIGINT) AS granted,
       |    CAST(SUM(CASE WHEN $b = 'granted_in_part' THEN 1 ELSE 0 END) AS BIGINT) AS granted_in_part,
       |    CAST(SUM(CASE WHEN $b = 'exempted' THEN 1 ELSE 0 END) AS BIGINT) AS exempted,
       |    CAST(SUM(CASE WHEN $b = 'rejected' THEN 1 ELSE 0 END) AS BIGINT) AS rejected,
       |    CAST(SUM(CASE WHEN $b = 'other' THEN 1 ELSE 0 END) AS BIGINT) AS other
       |  FROM base WHERE resolution IS NOT NULL AND resolution <> '' GROUP BY slug)
       |SELECT m.slug, m.name, m.requests, m.requests_30d, m.requests_90d, m.requests_365d,
       |  coalesce(CAST(m.response_days_sum AS DOUBLE) / nullif(m.response_count, 0), 0.0) AS avg_response_time,
       |  coalesce(CAST(m.response_days_sum_30d AS DOUBLE) / nullif(m.response_count_30d, 0), 0.0) AS avg_response_time_30d,
       |  coalesce(CAST(m.response_days_sum_90d AS DOUBLE) / nullif(m.response_count_90d, 0), 0.0) AS avg_response_time_90d,
       |  coalesce(CAST(m.response_days_sum_365d AS DOUBLE) / nullif(m.response_count_365d, 0), 0.0) AS avg_response_time_365d,
       |  coalesce(r.granted, 0) AS granted, coalesce(r.granted_in_part, 0) AS granted_in_part,
       |  coalesce(r.exempted, 0) AS exempted, coalesce(r.rejected, 0) AS rejected,
       |  coalesce(r.other, 0) AS other
       |FROM metrics m FULL OUTER JOIN res r ON m.slug = r.slug""".stripMargin
  }

  /** SQLite CAST-prefix fee parse, oracle side (twin of
    * Cols.sqliteFeeInt — same expression f9_fee_parse pins). */
  private val feeIntSql =
    "coalesce(try_cast(nullif(regexp_extract(trim(fee), '^-?[0-9]+', 0), '') AS BIGINT), 0)"

  /** OFFSET formulation of page 2 (rows 6-10) under the given ORDER BY
    * over the corrected view — what the cursor walk must reproduce. */
  private def cursorOracle(orderBy: String): String =
    s"""SELECT id FROM (
       |  SELECT e.id, e.fee,
       |    coalesce(corr.req_fix, e.request_date) AS cr,
       |    coalesce(corr.comp_fix, e.completion_date) AS cc
       |  FROM $entriesSql LEFT JOIN $correctionsSql ON e.id = corr.id)
       |ORDER BY $orderBy LIMIT 5 OFFSET 5""".stripMargin

  /** Page 2 fetched through the keyed-cursor API: run page 1, read the
    * cursor off its tail row (sort-key value + id — the contract of
    * Engine.listEntriesAfter), resume. `key` builds the cursor column
    * from the filtered frame; None for the id-only default order. */
  private def cursorPage2(s: SparkSession, sort: String,
                          key: (String => Column) => Option[Column]): DataFrame = {
    val opts = SearchOptions(sort = sort, pageSize = 5)
    val filtered = Engine.listEntriesFiltered(s, Fixture.df(s), opts)
    val keyCol = key(col).getOrElse(lit(null).cast(StringType))
    val tail = filtered.withColumn("__key", keyCol.cast(StringType))
      .orderBy(Engine.sortKeys(sort): _*).limit(opts.pageSize)
      .select(col("__key"), col("id")).collect().last
    val cursor = Option(tail.getString(0))
    Engine.listEntriesAfter(s, Fixture.df(s), opts, cursor, tail.getLong(1))
      .select("id")
  }

  // ---- scalar-function fixtures --------------------------------------
  // Each is ONE Scala value rendered both into the Spark DataFrame and
  // into the oracle's VALUES clause, so the engines see byte-identical
  // inputs: nulls, junk fees, typo'd names and all.

  private def df1(s: SparkSession, rows: Seq[(Long, Option[String])], col2: String): DataFrame = {
    import s.implicits._
    rows.toDF("id", col2)
  }
  private def sql1(rows: Seq[(Long, Option[String])], col2: String): String =
    SqlLit.values(rows.map(r => Seq[Any](r._1, r._2)), "t", Seq("id", col2))

  /** F3 fixtures: typo-fix paths (Departmint/Tcity), alias-map hits,
    * Mc-names, WV token, whitespace collapse — corrections.ts:44-57. */
  private val agencyVariants: Seq[(Long, Option[String])] = Seq(
    1L -> Some("Departmint of Health"),
    2L -> Some("Tcity of Charleston"),
    3L -> Some("  wv  state   police "),
    4L -> Some("McDowell County Sheriff's Office"),
    5L -> Some("DEPARTMENT OF TRANSPORTATION"),
    6L -> Some("Departmen of Education"),
    7L -> Some(""),
    8L -> None)

  /** F6 fixtures; completions after [[Fixture.AsOfYear]] are "future". */
  private val datePairs: Seq[(Long, Option[String], Option[String])] = Seq(
    (1L, Some("2024-01-01"), Some("2024-01-31")),
    (2L, Some("2024-01-31"), Some("2024-01-01")), // negative diff survives (JS floor)
    (3L, Some("2024-01-01"), Some("2026-01-01")), // future-year -> -1
    (4L, None, Some("2024-01-01")),
    (5L, Some("2024-01-01"), None),
    (6L, Some("garbage"), Some("2024-01-01")),
    (7L, Some("2024-02-28"), Some("2024-03-01")),
    (8L, Some("2020-06-15"), Some("2024-06-14")))

  private val fees: Seq[(Long, Option[String])] = Seq(
    1L -> Some("$1,250.00"),
    2L -> Some("0"),
    3L -> Some(""),
    4L -> Some("25 (waived)"),
    5L -> Some("-$13.50"),
    6L -> None,
    7L -> Some("fee pending"),
    8L -> Some("100.5"))

  private val rawTexts: Seq[(Long, Option[String])] = Seq(
    1L -> Some("  hello   world  "),
    2L -> Some("a\tb\nc"),
    3L -> Some("<a href=\"x\">R&D 'quote'</a>"),
    4L -> Some(""),
    5L -> None)

  private val resolutions: Seq[(Long, Option[String])] = Seq(
    1L -> Some("Granted"),
    2L -> Some(" granted in part "),
    3L -> Some("EXEMPTED"),
    4L -> Some("Rejected"),
    5L -> Some(""),
    6L -> None,
    7L -> Some("No Responsive Documents"))

  def defs: Seq[graft.QueryDef] = Seq(

    // P9 — normalizeEntry over the corpus. The oracle replays the date
    // patches + org remap in SQL and takes canonical agency from the
    // identity map.
    graft.QueryDef("p9_normalize_entry", Some(
      s"""SELECT e.id, ident.name AS agency,
         |  coalesce(oc.org_to, e.organization) AS organization,
         |  coalesce(corr.req_fix, e.request_date) AS request_date,
         |  coalesce(corr.comp_fix, e.completion_date) AS completion_date,
         |  e.resolution
         |FROM $entriesSql
         |LEFT JOIN $correctionsSql ON e.id = corr.id
         |LEFT JOIN ${SqlLit.values(orgCorrections.map(t => Seq[Any](t._1, t._2)), "oc", Seq("org_from", "org_to"))}
         |  ON e.organization = oc.org_from
         |JOIN $identitySql ON e.agency = ident.raw_agency""".stripMargin)) { (s, d) =>
      // The served overlay (normalizeEntries) with the projection
      // reporting identity.name as the canonical agency, so the oracle's
      // VALUES identity map applies; normalizeEntries'
      // normalizeAgencyName output itself is pinned by ScalaTest goldens.
      Normalize.normalizeEntries(Normalize.withIdentity(Fixture.df(s)))
        .select(col("id"), col("name").as("agency"), col("organization"),
          col("request_date"), col("completion_date"), col("resolution"))
    },

    // listEntries — the flagship composite (reference
    // src/lib/db/entries.ts:87-139): alias-candidate ci-filter +
    // resolution IN + corrected-date range + corrected-date sort with a
    // deterministic tiebreak + count/page in ONE windowed pass.
    graft.QueryDef("q_list_entries", Some {
      val cands = Normalize.aliasCandidates("DEP").map(_.toLowerCase)
      val candsSql = cands.map(c => s"'${c.replace("'", "''")}'").mkString(", ")
      s"""WITH base AS (
         |  SELECT e.id, e.agency, coalesce(corr.req_fix, e.request_date) AS corrected_request,
         |    e.resolution
         |  FROM $entriesSql LEFT JOIN $correctionsSql ON e.id = corr.id),
         |f AS (
         |  SELECT * FROM base
         |  WHERE lower(agency) IN ($candsSql)
         |    AND resolution IN ('Granted', 'Granted in part')
         |    AND corrected_request >= '2024-01-01' AND corrected_request <= '2025-05-31'),
         |w AS (SELECT f.*, count(*) OVER () AS total,
         |  row_number() OVER (ORDER BY corrected_request DESC NULLS LAST, id ASC) AS rn FROM f)
         |SELECT id, agency, corrected_request, resolution, total FROM w WHERE rn <= 3""".stripMargin
    }) { (s, d) =>
      val cands = Normalize.aliasCandidates("DEP").map(_.toLowerCase)
      val filtered = Normalize.withCorrectedDates(Fixture.df(s))
        .where(lower(col("agency")).isin(cands: _*) &&
          col("resolution").isin("Granted", "Granted in part") &&
          col("corrected_request") >= "2024-01-01" && col("corrected_request") <= "2025-05-31")
      // Page slice = TakeOrderedAndProject; the total rides in on a 1-row
      // broadcast (the oracle's count() OVER () stated without a window).
      val totalDf = filtered.agg(count(lit(1)).as("total")).withColumn("__k", lit(1))
      filtered
        .orderBy(col("corrected_request").desc_nulls_last, col("id").asc).limit(3)
        .withColumn("__k", lit(1))
        .join(broadcast(totalDf), Seq("__k")).drop("__k")
        .select("id", "agency", "corrected_request", "resolution", "total")
    },

    // agencyStats — A2 metrics + A4 resolution counts, both re-keyed by
    // canonical slug (A3) and full-outer merged (J3), finalized with
    // avg-from-parts (A10): the reference's whole two-phase JS pipeline
    // (src/lib/db/agencies.ts:54-139) as one distributed plan.
    graft.QueryDef("q_agency_stats", Some(agencyStatsSql)) { (s, d) =>
      // Delegates to the parameterized API; min(name) per slug is the
      // deterministic equivalent of the reference's first-encountered
      // identity name (agencies.ts:111, iteration-order dependent).
      AgencyEngine.agencyStats(s, Fixture.df(s), AsOf)
    },

    // agencies listing — the full stats pipeline ordered by the
    // most_requests comparator and paged (agencies.ts:146-179), checked
    // end-to-end against the oracle's windowed formulation.
    graft.QueryDef("q_agency_list", Some(
      s"""SELECT * FROM (
         |  SELECT s.*, row_number() OVER (ORDER BY requests DESC, slug ASC) AS rn
         |  FROM ($agencyStatsSql) s) WHERE rn > 0 AND rn <= 5""".stripMargin)) { (s, d) =>
      AgencyEngine.listAgencies(
        AgencyEngine.agencyStats(s, Fixture.df(s), AsOf),
        search = None, sort = "most_requests", page = 1, pageSize = 5)
        .withColumn("rn", row_number().over(
          Window.orderBy(col("requests").desc, col("slug").asc)))
    },

    // latestEntries — snapshot of the max reported entry_date, id DESC
    // (latestEntriesByLastReportedDate, entries.ts:152-178).
    graft.QueryDef("q_latest_entries", Some(
      s"""SELECT id, agency, entry_date FROM $entriesSql
         |WHERE entry_date = (SELECT max(entry_date) FROM $entriesSql)
         |ORDER BY id DESC""".stripMargin)) { (s, d) =>
      Engine.latestEntries(Fixture.df(s)).select("id", "agency", "entry_date")
    },

    // homeStats — the reference's all-rows-to-JS scan
    // (src/lib/db/entries.ts:206-251) as ONE conditional agg with the
    // diffDays -1/future-year rules inline.
    graft.QueryDef("q_home_stats", Some {
      val dExpr =
        s"""CASE WHEN request_date IS NULL OR completion_date IS NULL THEN -1
           |  WHEN try_cast(request_date AS DATE) IS NULL OR try_cast(completion_date AS DATE) IS NULL THEN -1
           |  WHEN EXTRACT(year FROM try_cast(completion_date AS DATE)) > $AsOfYear THEN -1
           |  ELSE $ddiffSql END""".stripMargin
      def w(n: Int) = winSql(n)
      s"""WITH x AS (SELECT request_date, ($dExpr) AS d FROM $entriesSql)
         |SELECT count(*) AS total_all,
         |  count(CASE WHEN ${w(30)} THEN 1 END) AS total_30d,
         |  count(CASE WHEN ${w(90)} THEN 1 END) AS total_90d,
         |  count(CASE WHEN ${w(365)} THEN 1 END) AS total_365d,
         |  coalesce(CAST(SUM(CASE WHEN d >= 0 THEN d END) AS DOUBLE) / nullif(count(CASE WHEN d >= 0 THEN 1 END), 0), 0.0) AS avg_all,
         |  coalesce(CAST(SUM(CASE WHEN d >= 0 AND ${w(30)} THEN d END) AS DOUBLE) / nullif(count(CASE WHEN d >= 0 AND ${w(30)} THEN 1 END), 0), 0.0) AS avg_30d,
         |  coalesce(CAST(SUM(CASE WHEN d >= 0 AND ${w(90)} THEN d END) AS DOUBLE) / nullif(count(CASE WHEN d >= 0 AND ${w(90)} THEN 1 END), 0), 0.0) AS avg_90d,
         |  coalesce(CAST(SUM(CASE WHEN d >= 0 AND ${w(365)} THEN d END) AS DOUBLE) / nullif(count(CASE WHEN d >= 0 AND ${w(365)} THEN 1 END), 0), 0.0) AS avg_365d
         |FROM x""".stripMargin
    }) { (s, d) =>
      AgencyEngine.homeStats(Fixture.df(s), AsOf, AsOfYear)
    },

    // agencyResolutionTimeline — alias-set scope, min-completion probe
    // (days=null branch), bucket pivot, dense date spine with zero-fill
    // (reference src/lib/db/agencies.ts:211-260 + the JS densification).
    graft.QueryDef("q_timeline", Some {
      val cands = Normalize.aliasCandidates("DEP").map(_.toLowerCase)
      val candsSql = cands.map(c => s"'${c.replace("'", "''")}'").mkString(", ")
      val b = bucketSqlOf("resolution")
      s"""WITH cand AS (
         |  SELECT * FROM $entriesSql WHERE lower(agency) IN ($candsSql)),
         |probe AS (
         |  SELECT min(completion_date) AS start_date FROM cand
         |  WHERE completion_date IS NOT NULL AND completion_date <= '$AsOf'),
         |counts AS (
         |  SELECT completion_date,
         |    CAST(SUM(CASE WHEN $b = 'granted' THEN 1 ELSE 0 END) AS BIGINT) AS granted,
         |    CAST(SUM(CASE WHEN $b = 'granted_in_part' THEN 1 ELSE 0 END) AS BIGINT) AS granted_in_part,
         |    CAST(SUM(CASE WHEN $b = 'exempted' THEN 1 ELSE 0 END) AS BIGINT) AS exempted,
         |    CAST(SUM(CASE WHEN $b = 'rejected' THEN 1 ELSE 0 END) AS BIGINT) AS rejected,
         |    CAST(SUM(CASE WHEN $b = 'other' THEN 1 ELSE 0 END) AS BIGINT) AS other
         |  FROM cand
         |  WHERE completion_date IS NOT NULL AND completion_date <= '$AsOf'
         |    AND completion_date >= (SELECT start_date FROM probe)
         |  GROUP BY completion_date),
         |spine AS (
         |  SELECT CAST(unnest(generate_series(
         |    CAST((SELECT start_date FROM probe) AS DATE), $asOfSql, INTERVAL 1 DAY)) AS DATE) AS day)
         |SELECT CAST(spine.day AS VARCHAR) AS date,
         |  coalesce(c.granted, 0) AS granted, coalesce(c.granted_in_part, 0) AS granted_in_part,
         |  coalesce(c.exempted, 0) AS exempted, coalesce(c.rejected, 0) AS rejected,
         |  coalesce(c.other, 0) AS other
         |FROM spine LEFT JOIN counts c ON CAST(spine.day AS VARCHAR) = c.completion_date""".stripMargin
    }) { (s, d) =>
      AgencyEngine.resolutionTimeline(Fixture.df(s), "DEP", AsOf)
    },

    // P3b — the P3 date range routed through the PARTITIONED store
    // (Warehouse): the corrected view is written partitioned by
    // request_year and the range read prunes to the matching year
    // directories (PartitionFilters — asserted in PlanSpec). The oracle
    // replays the overlay+range over the raw VALUES corpus, proving the
    // write→partition→prune→read composition loses no rows.
    graft.QueryDef("p3b_warehouse_range", Some(
      s"""SELECT e.id, e.agency,
         |  coalesce(corr.req_fix, e.request_date) AS corrected_request,
         |  e.resolution
         |FROM $entriesSql LEFT JOIN $correctionsSql ON e.id = corr.id
         |WHERE coalesce(corr.req_fix, e.request_date) >= '2025-01-01'
         |  AND coalesce(corr.req_fix, e.request_date) <= '2025-03-31'""".stripMargin)) { (s, d) =>
      Warehouse.requestedInRange(s, Warehouse.fixtureStore(s),
          "2025-01-01", "2025-03-31")
        .select("id", "agency", "corrected_request", "resolution")
    },

    // A8b — timeline bucketing over the partitioned store: one year's
    // directory feeds a per-month aggregate (the partition filter cuts
    // the scan BEFORE the shuffle).
    graft.QueryDef("a8b_warehouse_timeline", Some(
      s"""SELECT substring(coalesce(corr.req_fix, e.request_date), 1, 7) AS month,
         |  count(*) AS cnt
         |FROM $entriesSql LEFT JOIN $correctionsSql ON e.id = corr.id
         |WHERE substring(coalesce(corr.req_fix, e.request_date), 1, 4) = '2025'
         |GROUP BY 1""".stripMargin)) { (s, d) =>
      Warehouse.monthlyRequestCounts(s, Warehouse.fixtureStore(s), 2025)
    },

    // O2b-O2f — keyed-cursor pagination, oracle-proven for EVERY sort
    // order: the engine fetches page 2 VIA THE CURSOR (taken from the
    // real page-1 tail, exactly as a next-link consumer would), the
    // oracle states page 2 via OFFSET — so cursor-walk ≡ offset-walk is
    // a rows+schema+hash gate fact per order, not an API promise. The
    // at-scale point: page N via cursor costs one filtered ORDER BY +
    // LIMIT, never an offset scan.
    graft.QueryDef("o2b_cursor_newest", Some(cursorOracle(
      "cr DESC NULLS LAST, id ASC")))((s, d) =>
      cursorPage2(s, "newest", f => Some(f("corrected_request")))),

    graft.QueryDef("o2c_cursor_oldest", Some(cursorOracle(
      "cr ASC NULLS FIRST, id ASC")))((s, d) =>
      cursorPage2(s, "oldest", f => Some(f("corrected_request")))),

    graft.QueryDef("o2d_cursor_completed", Some(cursorOracle(
      "cc DESC NULLS LAST, id ASC")))((s, d) =>
      cursorPage2(s, "recently_completed", f => Some(f("corrected_completion")))),

    graft.QueryDef("o2e_cursor_fee", Some(cursorOracle(
      s"$feeIntSql DESC, id ASC")))((s, d) =>
      cursorPage2(s, "highest_fee",
        f => Some(graft.functions.Cols.sqliteFeeInt(f("fee"))))),

    graft.QueryDef("o2f_cursor_default", Some(cursorOracle(
      "id DESC")))((s, d) =>
      cursorPage2(s, "newest_added", _ => None)),

    // S9 — RSS document sink: top-N slice + 5-entity escape + RFC1123
    // pubDate at UTC noon (reference src/lib/rss.ts:18-66 +
    // feed.xml.ts:11).
    graft.QueryDef("s9_rss_items", Some(
      s"""SELECT id,
         |  concat('<item><title>', xtitle, '</title><link>', link,
         |    '</link><guid isPermaLink="false">', link, '</guid><description>', xdesc,
         |    '</description><pubDate>', pub, '</pubDate></item>') AS item_xml
         |FROM (
         |  SELECT id,
         |    replace(replace(replace(replace(replace(concat('FOIA Request #', CAST(id AS VARCHAR), ': ', coalesce(subject, '')),
         |      '&', '&amp;'), '<', '&lt;'), '>', '&gt;'), '"', '&quot;'), '''', '&apos;') AS xtitle,
         |    concat('https://example.org/entries/', CAST(id AS VARCHAR)) AS link,
         |    replace(replace(replace(replace(replace(coalesce(details, subject, ''),
         |      '&', '&amp;'), '<', '&lt;'), '>', '&gt;'), '"', '&quot;'), '''', '&apos;') AS xdesc,
         |    strftime(CAST(entry_date AS TIMESTAMP) + INTERVAL 12 HOUR, '%a, %d %b %Y %H:%M:%S GMT') AS pub
         |  FROM (SELECT * FROM $entriesSql ORDER BY id DESC LIMIT 3))""".stripMargin)) { (s, d) =>
      val top = Fixture.df(s).orderBy(col("id").desc).limit(3)
      val xtitle = Cols.escapeXml(concat(lit("FOIA Request #"), col("id").cast(StringType),
        lit(": "), coalesce(col("subject"), lit(""))))
      val link = concat(lit("https://example.org/entries/"), col("id").cast(StringType))
      val xdesc = Cols.escapeXml(coalesce(col("details"), col("subject"), lit("")))
      val pub = concat(date_format(
        to_timestamp(col("entry_date")) + expr("INTERVAL 12 HOURS"),
        "EEE, dd MMM yyyy HH:mm:ss"), lit(" GMT"))
      top.select(col("id"), concat(
        lit("<item><title>"), xtitle,
        lit("</title><link>"), link,
        lit("</link><guid isPermaLink=\"false\">"), link,
        lit("</guid><description>"), xdesc,
        lit("</description><pubDate>"), pub,
        lit("</pubDate></item>")).as("item_xml"))
    },

    // S9b — the full RSS DOCUMENT (reference buildRssDocument,
    // src/lib/rss.ts:46-66, fed by the latest-entries feed route
    // src/pages/entries/feed.xml.ts:17-38): items are the
    // latest-entry-date snapshot (id DESC, FEED_LIMIT 200), title
    // "agency | subject (#id)", guid "entry-<id>", description from the
    // short-format dates, pubDate/lastBuildDate at UTC noon RFC1123
    // (parseFeedDate, rss.ts:32-44); channel header + items concatenated
    // into ONE XML string. The ordered concatenation is an aggregation
    // (sorted collect_list), so assembly distributes: per-item XML is
    // map-side, only the bounded top-200 strings reach the final row.
    graft.QueryDef("s9b_rss_document", Some {
      def esc(e: String) =
        s"""replace(replace(replace(replace(replace($e, '&', '&amp;'), '<', '&lt;'), '>', '&gt;'), '"', '&quot;'), '''', '&apos;')"""
      def fd(c: String) =
        s"""CASE WHEN $c IS NULL OR $c = '' THEN '--'
           |  WHEN regexp_matches($c, '^\\d{4}-\\d{2}-\\d{2}$$')
           |  THEN strftime(CAST($c AS DATE), '%b %-d, %Y') ELSE '--' END""".stripMargin
      val title = s"""concat(agency, ' | ', CASE WHEN subject IS NULL OR subject = '' THEN 'No subject' ELSE subject END, ' (#', CAST(id AS VARCHAR), ')')"""
      val desc = s"""concat('Request: ', ${fd("request_date")}, '. Completed: ', ${fd("completion_date")}, '. Resolution: ', CASE WHEN resolution IS NULL OR resolution = '' THEN '--' ELSE resolution END, '.')"""
      val pubsrc = "coalesce(entry_date, completion_date, request_date)"
      s"""WITH snap AS (
         |  SELECT * FROM $entriesSql
         |  WHERE entry_date = (SELECT max(entry_date) FROM $entriesSql)
         |  ORDER BY id DESC LIMIT 200),
         |items AS (
         |  SELECT id, entry_date, concat('<item><title>', ${esc(title)},
         |    '</title><link>https://example.org/entries/', CAST(id AS VARCHAR),
         |    '</link><guid isPermaLink="false">entry-', CAST(id AS VARCHAR),
         |    '</guid><description>', ${esc(desc)}, '</description>',
         |    CASE WHEN $pubsrc IS NOT NULL AND regexp_matches($pubsrc, '^\\d{4}-\\d{2}-\\d{2}$$')
         |      THEN concat('<pubDate>', strftime(CAST($pubsrc AS TIMESTAMP) + INTERVAL 12 HOUR, '%a, %d %b %Y %H:%M:%S GMT'), '</pubDate>')
         |      ELSE '' END,
         |    '</item>') AS item_xml
         |  FROM snap),
         |agg AS (SELECT max(entry_date) AS snap_date,
         |  coalesce(string_agg(item_xml, '' ORDER BY id DESC), '') AS items_xml FROM items)
         |SELECT concat('<?xml version="1.0" encoding="UTF-8"?><rss version="2.0"><channel><title>wvfoia latest entries</title><link>https://example.org/</link><description>',
         |  ${esc("concat('Latest WVFOIA entries from the most recently reported date (', CASE WHEN snap_date IS NULL THEN 'none' WHEN regexp_matches(snap_date, '^\\d{4}-\\d{2}-\\d{2}$') THEN strftime(CAST(snap_date AS DATE), '%B %-d, %Y') ELSE '--' END, ').')")},
         |  '</description><language>en-us</language>',
         |  CASE WHEN snap_date IS NOT NULL
         |    THEN concat('<lastBuildDate>', strftime(CAST(snap_date AS TIMESTAMP) + INTERVAL 12 HOUR, '%a, %d %b %Y %H:%M:%S GMT'), '</lastBuildDate>')
         |    ELSE '' END,
         |  items_xml, '</channel></rss>') AS rss_xml
         |FROM agg""".stripMargin
    }) { (s, d) =>
      val src = Fixture.df(s)
      val maxEnt = src.agg(max(col("entry_date")).as("__max_entry"))
      val snap = src.join(broadcast(maxEnt), col("entry_date") === col("__max_entry"))
        .orderBy(col("id").desc).limit(200)
      val item = Rss.itemXml(
        title = concat(col("agency"), lit(" | "), Rss.subjectOrDefault,
          lit(" (#"), col("id").cast(StringType), lit(")")),
        guid = concat(lit("entry-"), col("id").cast(StringType)))
      val agg = snap.select(col("id"), col("entry_date"), item.as("item_xml"))
        .agg(max(col("entry_date")).as("build_src"), Rss.itemsConcat.as("items_xml"))
      // formatDate semantics for the channel label: null -> 'none'
      // (feed.xml.ts:32), non-ISO -> '--' (formatDate's parse-fail
      // branch); a junk max entry_date must not null-poison the concat.
      val label = when(col("build_src").isNull, "none")
        .when(Rss.isIso(col("build_src")),
          date_format(to_date(col("build_src")), "MMMM d, yyyy"))
        .otherwise("--")
      agg.select(Rss.document(
        channelTitle = lit("wvfoia latest entries"),
        channelLink = "https://example.org/",
        channelDescription = concat(
          lit("Latest WVFOIA entries from the most recently reported date ("),
          label, lit(")."))).as("rss_xml"))
    },

    // S9c — the per-agency feed (reference
    // src/pages/agencies/[slug]/feed.xml.ts): slug-resolved canonical
    // agency, alias-scoped newest-entry slice (FEED_LIMIT 100), title
    // without the agency prefix, slug-qualified guids, lastBuildDate from
    // the slice's FIRST entry (max id, via max_by).
    graft.QueryDef("s9c_agency_feed", Some {
      def esc(e: String) =
        s"""replace(replace(replace(replace(replace($e, '&', '&amp;'), '<', '&lt;'), '>', '&gt;'), '"', '&quot;'), '''', '&apos;')"""
      def fd(c: String) =
        s"""CASE WHEN $c IS NULL OR $c = '' THEN '--'
           |  WHEN regexp_matches($c, '^\\d{4}-\\d{2}-\\d{2}$$')
           |  THEN strftime(CAST($c AS DATE), '%b %-d, %Y') ELSE '--' END""".stripMargin
      val canonical = "Department of Environmental Protection"
      val slug = "department-of-environmental-protection"
      val cands = Normalize.aliasCandidates(canonical).map(_.toLowerCase)
      val candsSql = cands.map(c => s"'${c.replace("'", "''")}'").mkString(", ")
      val title = s"""concat(CASE WHEN subject IS NULL OR subject = '' THEN 'No subject' ELSE subject END, ' (#', CAST(id AS VARCHAR), ')')"""
      val desc = s"""concat('Request: ', ${fd("request_date")}, '. Completed: ', ${fd("completion_date")}, '. Resolution: ', CASE WHEN resolution IS NULL OR resolution = '' THEN '--' ELSE resolution END, '.')"""
      val pubsrc = "coalesce(entry_date, completion_date, request_date)"
      s"""WITH scoped AS (
         |  SELECT * FROM $entriesSql WHERE lower(agency) IN ($candsSql)
         |  ORDER BY id DESC LIMIT 100),
         |items AS (
         |  SELECT id, $pubsrc AS pub_src, concat('<item><title>', ${esc(title)},
         |    '</title><link>https://example.org/entries/', CAST(id AS VARCHAR),
         |    '</link><guid isPermaLink="false">agency-$slug-entry-', CAST(id AS VARCHAR),
         |    '</guid><description>', ${esc(desc)}, '</description>',
         |    CASE WHEN $pubsrc IS NOT NULL AND regexp_matches($pubsrc, '^\\d{4}-\\d{2}-\\d{2}$$')
         |      THEN concat('<pubDate>', strftime(CAST($pubsrc AS TIMESTAMP) + INTERVAL 12 HOUR, '%a, %d %b %Y %H:%M:%S GMT'), '</pubDate>')
         |      ELSE '' END,
         |    '</item>') AS item_xml
         |  FROM scoped),
         |agg AS (SELECT
         |  (SELECT pub_src FROM items ORDER BY id DESC LIMIT 1) AS build_src,
         |  coalesce(string_agg(item_xml, '' ORDER BY id DESC), '') AS items_xml FROM items)
         |SELECT concat('<?xml version="1.0" encoding="UTF-8"?><rss version="2.0"><channel><title>',
         |  ${esc(s"'$canonical - wvfoia entries'")},
         |  '</title><link>https://example.org/agencies/$slug</link><description>',
         |  ${esc(s"'Newest WVFOIA entries for $canonical.'")},
         |  '</description><language>en-us</language>',
         |  CASE WHEN build_src IS NOT NULL AND regexp_matches(build_src, '^\\d{4}-\\d{2}-\\d{2}$$')
         |    THEN concat('<lastBuildDate>', strftime(CAST(build_src AS TIMESTAMP) + INTERVAL 12 HOUR, '%a, %d %b %Y %H:%M:%S GMT'), '</lastBuildDate>')
         |    ELSE '' END,
         |  items_xml, '</channel></rss>') AS rss_xml
         |FROM agg""".stripMargin
    }) { (s, d) =>
      val canonical = "Department of Environmental Protection"
      Rss.agencyFeed(Fixture.df(s), canonical,
        "department-of-environmental-protection",
        Normalize.aliasCandidates(canonical))
    },

    // S7b — SQLite-dump export artifact (reference export job,
    // .github/workflows/export-db-sqlite.yml:93-113: `wrangler d1 export
    // --no-schema` emits INSERT statements that are concatenated after the
    // migrations and fed to sqlite3). One INSERT per entry with SQLite
    // literal quoting ('' doubling, bare NULL, bare integers) — a pure
    // per-row transform, so the dump generation is embarrassingly
    // parallel and any text sink can write the statement column.
    graft.QueryDef("s7b_sqlite_dump", Some {
      def q(c: String) =
        s"""CASE WHEN $c IS NULL THEN 'NULL' ELSE concat('''', replace($c, '''', ''''''), '''') END"""
      val cols = Seq("agency", "organization", "first_name", "middle_name",
        "last_name", "request_date", "completion_date", "entry_date", "fee")
      val tail = Seq("subject", "details", "resolution", "response")
      s"""SELECT id, concat(
         |  'INSERT INTO entries (id, agency, organization, first_name, middle_name, last_name, request_date, completion_date, entry_date, fee, is_amended, subject, details, resolution, response) VALUES (',
         |  CAST(id AS VARCHAR), ', ',
         |  ${cols.map(q).mkString(", ', ', ")}, ', ',
         |  CAST(is_amended AS VARCHAR), ', ',
         |  ${tail.map(q).mkString(", ', ', ")}, ');') AS stmt
         |FROM $entriesSql""".stripMargin
    }) { (s, d) =>
      def q(c: Column) = when(c.isNull, "NULL")
        .otherwise(concat(lit("'"), regexp_replace(c, "'", "''"), lit("'")))
      val cols = Seq("agency", "organization", "first_name", "middle_name",
        "last_name", "request_date", "completion_date", "entry_date", "fee")
        .map(n => q(col(n)))
      val tail = Seq("subject", "details", "resolution", "response").map(n => q(col(n)))
      val sep = lit(", ")
      val pieces: Seq[Column] =
        Seq(lit("INSERT INTO entries (id, agency, organization, first_name, middle_name, last_name, request_date, completion_date, entry_date, fee, is_amended, subject, details, resolution, response) VALUES ("),
          col("id").cast(StringType), sep) ++
        cols.flatMap(c => Seq(c, sep)) ++
        Seq(col("is_amended").cast(StringType), sep) ++
        tail.init.flatMap(c => Seq(c, sep)) ++
        Seq(tail.last, lit(");"))
      Fixture.df(s).select(col("id"), concat(pieces: _*).as("stmt"))
    },

    // S7 — export sink round-trip: write the corpus to parquet AND csv,
    // read both back, emit a manifest (reference export job,
    // export-db-sqlite.yml:93-113). The oracle states the expected
    // manifest from the same corpus.
    graft.QueryDef("s7_export_manifest", Some(
      s"""SELECT 'parquet' AS format, count(*) AS n_rows, max(id) AS latest_id FROM $entriesSql
         |UNION ALL
         |SELECT 'csv' AS format, count(*) AS n_rows, max(id) AS latest_id FROM $entriesSql""".stripMargin)) { (s, d) =>
      val dir = s"${System.getProperty("java.io.tmpdir")}/graft_export"
      val src = Fixture.df(s)
      src.write.mode("overwrite").parquet(s"$dir/parquet")
      src.write.mode("overwrite").option("header", "true").csv(s"$dir/csv")
      val pq = s.read.parquet(s"$dir/parquet")
        .agg(count(lit(1)).as("n_rows"), max(col("id")).as("latest_id"))
        .select(lit("parquet").as("format"), col("n_rows"), col("latest_id"))
      val csv = s.read.option("header", "true").csv(s"$dir/csv")
        .agg(count(lit(1)).as("n_rows"), max(col("id").cast(LongType)).as("latest_id"))
        .select(lit("csv").as("format"), col("n_rows"), col("latest_id"))
      pq.unionByName(csv)
    },

    // S1/§2.9 — the drift-tolerance sync loop over the offline transport;
    // the oracle is the hand-computed stop-condition golden
    // (27 hit, 28 hit, 29 gap absorbed, 30 hit, 31-33 miss -> stop).
    graft.QueryDef("s1_sync_drift", Some(
      """SELECT CAST(3 AS BIGINT) AS added, CAST(7 AS BIGINT) AS checked,
        |  CAST(27 AS BIGINT) AS start_from, CAST(33 AS BIGINT) AS last_checked_id,
        |  CAST(3 AS BIGINT) AS drift_tolerance""".stripMargin)) { (s, d) =>
      import s.implicits._
      val (result, _) = Sync.runSync(Sync.fixtureTransport.get, latestInDb = 26)
      Seq(result).toDF()
        .select(col("added"), col("checked"), col("startFrom").as("start_from"),
          col("lastCheckedId").as("last_checked_id"),
          col("driftTolerance").as("drift_tolerance"))
    },

    // S1b — the distributed batch twin of the drift loop (runSyncBatch):
    // same stop-condition golden as s1_sync_drift, driven with batch=4 so
    // the fixture exercises the cross-batch stop path (round 1 probes
    // 27-30 with the 29 gap absorbed, round 2 probes 31-34 and stops at
    // 33). The fetch+parse fans out via mapPartitions; only the <=batch
    // parsed rows reach the driver.
    graft.QueryDef("s1b_sync_batch", Some(
      """SELECT CAST(3 AS BIGINT) AS added, CAST(7 AS BIGINT) AS checked,
        |  CAST(27 AS BIGINT) AS start_from, CAST(33 AS BIGINT) AS last_checked_id,
        |  CAST(3 AS BIGINT) AS drift_tolerance""".stripMargin)) { (s, d) =>
      import s.implicits._
      val (result, _) = Sync.runSyncBatch(s, Sync.fixtureTransport.get,
        latestInDb = 26, batch = 4)
      Seq(result).toDF()
        .select(col("added"), col("checked"), col("startFrom").as("start_from"),
          col("lastCheckedId").as("last_checked_id"),
          col("driftTolerance").as("drift_tolerance"))
    },

    // S2b — the parse QUARANTINE split: every fetched page classified
    // (parsed vs quarantined + reason) instead of silently dropped — the
    // production ingest needs the reject side-output for alerting and
    // post-fix replay. The oracle is the hand-written classification of
    // the fixture transport: 3 parseable pages, the 404 shape, and a
    // garbage-bytes page.
    graft.QueryDef("s2b_parse_quarantine", Some(
      """SELECT * FROM (VALUES
        |  (CAST(27 AS BIGINT), 'parsed', CAST(NULL AS VARCHAR)),
        |  (CAST(28 AS BIGINT), 'parsed', CAST(NULL AS VARCHAR)),
        |  (CAST(30 AS BIGINT), 'parsed', CAST(NULL AS VARCHAR)),
        |  (CAST(31 AS BIGINT), 'quarantined', 'no_fields'),
        |  (CAST(32 AS BIGINT), 'quarantined', 'no_fields')
        |) AS t(id, status, reason)""".stripMargin)) { (s, d) =>
      import s.implicits._
      val pages = Sync.fixtureTransport.toSeq ++
        Seq((31L, Sync.NotFoundHtml), (32L, "%%% not even html %%%"))
      Sync.classifyPages(s.createDataset(pages)).toDF()
        .select(col("id"), col("status"), col("reason"))
    },

    // S2/S3 — the HTML parser goldens: the oracle is the hand-written
    // expected parse of the three fixture pages (M/D/YYYY normalization,
    // '' -> NULL fields, amended flag, entity decode, 404 page dropped).
    graft.QueryDef("s2_parse_html", Some(
      """SELECT * FROM (VALUES
        |  (CAST(27 AS BIGINT), 'Department of Health', 'Health Watch', CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
        |   '2025-04-02', '2025-04-15', '2025-04-16', '$12.00', 0,
        |   'inspection schedules', 'All Q2 inspections', 'Granted', CAST(NULL AS VARCHAR)),
        |  (CAST(28 AS BIGINT), 'Unknown Agency Llc', CAST(NULL AS VARCHAR), 'Pat', 'Lane',
        |   '2025-13-45', CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), 1,
        |   'odd dates', CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), 'see attached'),
        |  (CAST(30 AS BIGINT), 'City of Morgantown', 'Local News LLC', CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
        |   '2025-05-01', CAST(NULL AS VARCHAR), '2025-05-02', CAST(NULL AS VARCHAR), 0,
        |   'street repaving', 'Cost & schedule', CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR))
        |) AS t(id, agency, organization, first_name, last_name, request_date,
        |       completion_date, entry_date, fee, is_amended, subject, details,
        |       resolution, response)""".stripMargin)) { (s, d) =>
      import s.implicits._
      val parsed = (Sync.fixtureTransport.toSeq.map { case (id, html) => (id, Some(html)) }
        :+ (29L, Option.empty[String]) :+ (31L, Some(Sync.NotFoundHtml)))
        .flatMap { case (id, html) => html.flatMap(Sync.parseEntry(_, id)) }
      s.createDataset(parsed).toDF()
        .select(col("id"), col("agency"), col("organization"), col("first_name"),
          col("last_name"), col("request_date"), col("completion_date"),
          col("entry_date"), col("fee"), col("is_amended"), col("subject"),
          col("details"), col("resolution"), col("response"))
    },

    // F3b — alias canonicalization over the REAL corrections dataset
    // (all 17 production alias groups, reference src/data/corrections.json):
    // raw spellings drawn from the published alias lists, expected
    // canonicals hand-copied from the JSON spec — so the oracle checks the
    // resource parse + UDF end to end, independently of the Scala code.
    graft.QueryDef("f3_real_alias", Some(
      """SELECT * FROM (VALUES
        |  (CAST(1 AS BIGINT), 'WV Secretary of State'),
        |  (CAST(2 AS BIGINT), 'WV Secretary of State'),
        |  (CAST(3 AS BIGINT), 'WV Division of Highways'),
        |  (CAST(4 AS BIGINT), 'WV Board of Medicine'),
        |  (CAST(5 AS BIGINT), 'West Virginia Division of Motor Vehicles'),
        |  (CAST(6 AS BIGINT), 'Kanawha County Circuit Clerk''s Office'),
        |  (CAST(7 AS BIGINT), 'West Virginia University Medical Corporation dba University Health Associates'),
        |  (CAST(8 AS BIGINT), 'Department of Environmental Protection'),
        |  (CAST(9 AS BIGINT), 'City of Charles Town Police Department'),
        |  (CAST(10 AS BIGINT), 'Berkeley County Sheriff''s Office'),
        |  (CAST(11 AS BIGINT), 'WV Department of Revenue'),
        |  (CAST(12 AS BIGINT), 'Morgan County Commission')
        |) AS t(id, canonical)""".stripMargin)) { (s, d) =>
      import s.implicits._
      Seq(
        1L -> "WVSOS",
        2L -> "Secretary of State",
        3L -> "DOH",
        4L -> "Medicine, Board of",
        5L -> "WVDMV",
        6L -> "Kanawhacounty Circuit Clerk's Office",
        7L -> "University Health Associates",
        8L -> "dep",
        9L -> "Charles Town Police Department",
        10L -> "Berkeley County Sheriffs Office",
        11L -> "Departmint of Revenue", // typo fix THEN alias match
        12L -> "Morgan County Commission" // no group: titlify path
      ).toDF("id", "raw")
        .select(col("id"), Corrections.agencyNameUdf(col("raw")).as("canonical"))
    },

    // J5b — the REAL per-id date patches (24 entries) applied through the
    // corrections overlay join. The base frame carries sentinel dates for
    // exactly the patched ids; the oracle VALUES is the expected coalesce
    // result copied from the JSON spec, so a dropped or garbled patch
    // breaks the row hash.
    graft.QueryDef("j5_real_corrections", Some(
      """SELECT * FROM (VALUES
        |  (CAST(52803 AS BIGINT), '1900-01-01', '2025-02-24'),
        |  (CAST(22952 AS BIGINT), '2020-02-27', '1900-01-01'),
        |  (CAST(16715 AS BIGINT), '2018-11-26', '1900-01-01'),
        |  (CAST(26775 AS BIGINT), '1900-01-01', '2021-03-30'),
        |  (CAST(33076 AS BIGINT), '2022-04-19', '1900-01-01'),
        |  (CAST(20741 AS BIGINT), '2019-08-06', '1900-01-01'),
        |  (CAST(579 AS BIGINT), '2016-01-20', '1900-01-01'),
        |  (CAST(752 AS BIGINT), '2016-02-19', '1900-01-01'),
        |  (CAST(14388 AS BIGINT), '2018-06-19', '2018-06-26'),
        |  (CAST(5591 AS BIGINT), '2016-12-01', '1900-01-01'),
        |  (CAST(51804 AS BIGINT), '2024-12-27', '2024-12-31'),
        |  (CAST(9445 AS BIGINT), '2017-08-31', '1900-01-01'),
        |  (CAST(14601 AS BIGINT), '2018-07-17', '1900-01-01'),
        |  (CAST(10501 AS BIGINT), '1900-01-01', '2016-08-14'),
        |  (CAST(6819 AS BIGINT), '1900-01-01', '2017-04-07'),
        |  (CAST(14177 AS BIGINT), '1900-01-01', '2018-06-25'),
        |  (CAST(3099 AS BIGINT), '2015-12-17', '2016-07-28'),
        |  (CAST(43682 AS BIGINT), '1900-01-01', '2023-10-20'),
        |  (CAST(34992 AS BIGINT), '1900-01-01', '2022-09-02'),
        |  (CAST(43317 AS BIGINT), '1900-01-01', '2023-11-29'),
        |  (CAST(43543 AS BIGINT), '1900-01-01', '2023-04-13'),
        |  (CAST(51854 AS BIGINT), '1900-01-01', '2025-01-02'),
        |  (CAST(43226 AS BIGINT), '1900-01-01', '2023-11-30'),
        |  (CAST(20368 AS BIGINT), '1900-01-01', '2020-07-02')
        |) AS t(id, request_date, completion_date)""".stripMargin)) { (s, d) =>
      import s.implicits._
      val base = Corrections.real.dateCorrections.map(_._1).toDF("id")
        .withColumn("request_date", lit("1900-01-01"))
        .withColumn("completion_date", lit("1900-01-01"))
      base.join(broadcast(Corrections.correctionsDf(s)), Seq("id"), "left")
        .select(col("id"),
          coalesce(col("req_fix"), col("request_date")).as("request_date"),
          coalesce(col("comp_fix"), col("completion_date")).as("completion_date"))
    },

    // F3 — normalizeAgencyName (UDF over typo-fix regexes + alias map,
    // reference src/lib/corrections.ts:44-57). Fixed inputs → VALUES
    // golden: typo fixes (Departmint→Department, Tcity→City; 'Departmen'
    // has no trailing t so the regex leaves it), WV token and Mc-name
    // preservation, whitespace collapse, '' and NULL pass-throughs.
    graft.QueryDef("f3_normalize_agency", Some(
      """SELECT * FROM (VALUES
        |  (CAST(1 AS BIGINT), 'Department of Health'),
        |  (CAST(2 AS BIGINT), 'City of Charleston'),
        |  (CAST(3 AS BIGINT), 'WV State Police'),
        |  (CAST(4 AS BIGINT), 'McDowell County Sheriff''s Office'),
        |  (CAST(5 AS BIGINT), 'Department of Transportation'),
        |  (CAST(6 AS BIGINT), 'Departmen of Education'),
        |  (CAST(7 AS BIGINT), ''),
        |  (CAST(8 AS BIGINT), CAST(NULL AS VARCHAR))
        |) AS t(id, canonical)""".stripMargin))((s, d) =>
      df1(s, agencyVariants, "raw").select(col("id"),
        Normalize.agencyNameUdf(col("raw")).as("canonical"))),

    // F5 — resolutionBucketKey 5-way normalization.
    graft.QueryDef("f5_resolution_bucket", Some(
      s"""SELECT id, ${bucketSqlOf("resolution")} AS bucket
         |FROM ${sql1(resolutions, "resolution")}""".stripMargin))((s, d) =>
      df1(s, resolutions, "resolution")
        .select(col("id"), Cols.resolutionBucket(col("resolution")).as("bucket"))),

    // F6 — diffDays with the -1 null/unparseable/future-year rules.
    graft.QueryDef("f6_diffdays", Some(
      s"""SELECT id, CAST(CASE
         |  WHEN f IS NULL OR t IS NULL OR try_cast(f AS DATE) IS NULL OR try_cast(t AS DATE) IS NULL THEN -1
         |  WHEN EXTRACT(year FROM try_cast(t AS DATE)) > $AsOfYear THEN -1
         |  ELSE date_diff('day', try_cast(f AS DATE), try_cast(t AS DATE)) END AS INTEGER) AS days
         |FROM ${SqlLit.values(datePairs.map(p => Seq[Any](p._1, p._2, p._3)), "t", Seq("id", "f", "t"))}""".stripMargin))((s, d) => {
      import s.implicits._
      datePairs.toDF("id", "f", "t")
        .select(col("id"), Cols.diffDays(col("f"), col("t"), AsOfYear).as("days"))
    }),

    // F9 — the SQLite CAST-prefix fee parse behind the highest_fee sort.
    graft.QueryDef("f9_fee_parse", Some(
      s"""SELECT id, $feeIntSql AS fee_int_sqlite
         |FROM ${sql1(fees, "fee")}""".stripMargin))((s, d) =>
      df1(s, fees, "fee").select(col("id"),
        Cols.sqliteFeeInt(col("fee")).as("fee_int_sqlite"))),

    // F17 — escapeXml 5-entity chain (& first).
    graft.QueryDef("f17_escape_xml", Some(
      s"""SELECT id, replace(replace(replace(replace(replace(coalesce(raw_text, ''),
         |  '&', '&amp;'), '<', '&lt;'), '>', '&gt;'), '"', '&quot;'), '''', '&apos;') AS escaped
         |FROM ${sql1(rawTexts, "raw_text")}""".stripMargin))((s, d) =>
      df1(s, rawTexts, "raw_text").select(col("id"),
        Cols.escapeXml(coalesce(col("raw_text"), lit(""))).as("escaped")))
  )
}
