package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{Num, Tables}

/** Aggregations over the star schema — SURVEY.md §2.4 re-expressed as
  * single-pass conditional `agg()` pipelines (partial+final hash agg,
  * no driver-side loops). The request/completion date pair the reference
  * aggregates over (request_date, completion_date) maps to
  * (o_orderdate, l_shipdate) through the orders⨝lineitem join.
  */
object StarAggs extends graft.QueryModule {
  import Star._

  /** orders⨝lineitem with the reference's (request, completion) shape.
    * The join key is l_orderkey = o_orderkey — a plain shuffle hash join
    * whose both sides AQE can re-plan; at warehouse scale these two
    * tables would be co-bucketed on orderkey so the join is shuffle-free.
    */
  private def pairs(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_shipdate").cast(DateType).as("completion_date"))
      .join(Tables.orders(s, d).select(col("o_orderkey"),
        col("o_orderdate").cast(DateType).as("request_date"),
        col("o_orderpriority").as("agency")),
        col("l_orderkey") === col("o_orderkey"))

  private val pairsSql =
    """SELECT l.l_orderkey, l.l_linenumber, CAST(l.l_shipdate AS DATE) AS completion_date,
      |  CAST(o.o_orderdate AS DATE) AS request_date, o.o_orderpriority AS agency
      |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey""".stripMargin

  // Valid response pair — reference src/lib/db/agencies.ts:58:
  // both dates present and completion >= request.
  private def valid: Column =
    col("request_date").isNotNull && col("completion_date").isNotNull &&
      col("completion_date") >= col("request_date")
  private val validSql =
    "request_date IS NOT NULL AND completion_date IS NOT NULL AND completion_date >= request_date"

  private def respDays: Column = datediff(col("completion_date"), col("request_date"))
  private val respDaysSql = "date_diff('day', request_date, completion_date)"

  private def inWindow(days: Int): Column = col("request_date") >= date_sub(asOfCol, days)
  private def inWindowSql(days: Int): String = s"request_date >= ($asOfSql - $days)"

  def defs: Seq[graft.QueryDef] = Seq(

    // A1 — filtered COUNT(*) for pagination totals (reference
    // src/lib/db/entries.ts:102-105).
    graft.QueryDef("a1_filtered_count", Some(
      """SELECT count(*) AS total FROM orders
        |WHERE o_orderstatus = 'O' AND CAST(o_orderdate AS DATE) >= DATE '1997-01-01'
        |  AND CAST(o_orderdate AS DATE) <= DATE '1997-12-31'""".stripMargin))((s, d) => {
      val dt = col("o_orderdate").cast(DateType)
      Tables.orders(s, d)
        .where(col("o_orderstatus") === "O" &&
          dt >= to_date(lit("1997-01-01")) && dt <= to_date(lit("1997-12-31")))
        .agg(count(lit(1)).as("total"))
    }),

    // A2 — the 12 conditional aggregates per agency (reference
    // src/lib/db/agencies.ts:54-89): one GROUP BY, twelve CASE-guarded
    // SUM/COUNTs — a single map-side-combinable hash aggregation. The
    // reference runs this as one SQL pass too; what it does in a second
    // JS phase (slug re-agg) is A3.
    graft.QueryDef("a2_agency_stats", Some {
      def win(n: Int) = inWindowSql(n)
      s"""SELECT agency,
         |  count(*) AS requests,
         |  CAST(SUM(CASE WHEN ${win(30)} THEN 1 ELSE 0 END) AS BIGINT) AS requests_30d,
         |  CAST(SUM(CASE WHEN ${win(90)} THEN 1 ELSE 0 END) AS BIGINT) AS requests_90d,
         |  CAST(SUM(CASE WHEN ${win(365)} THEN 1 ELSE 0 END) AS BIGINT) AS requests_365d,
         |  CAST(SUM(CASE WHEN $validSql THEN 1 ELSE 0 END) AS BIGINT) AS response_count,
         |  CAST(SUM(CASE WHEN $validSql THEN $respDaysSql ELSE 0 END) AS BIGINT) AS response_days_sum,
         |  CAST(SUM(CASE WHEN ${win(30)} AND $validSql THEN 1 ELSE 0 END) AS BIGINT) AS response_count_30d,
         |  CAST(SUM(CASE WHEN ${win(30)} AND $validSql THEN $respDaysSql ELSE 0 END) AS BIGINT) AS response_days_sum_30d,
         |  CAST(SUM(CASE WHEN ${win(90)} AND $validSql THEN 1 ELSE 0 END) AS BIGINT) AS response_count_90d,
         |  CAST(SUM(CASE WHEN ${win(90)} AND $validSql THEN $respDaysSql ELSE 0 END) AS BIGINT) AS response_days_sum_90d,
         |  CAST(SUM(CASE WHEN ${win(365)} AND $validSql THEN 1 ELSE 0 END) AS BIGINT) AS response_count_365d,
         |  CAST(SUM(CASE WHEN ${win(365)} AND $validSql THEN $respDaysSql ELSE 0 END) AS BIGINT) AS response_days_sum_365d
         |FROM ($pairsSql) GROUP BY agency""".stripMargin
    })((s, d) => {
      def cnt(c: Column) = sum(when(c, 1L).otherwise(0L))
      def dsumIf(c: Column) = sum(when(c, respDays.cast(LongType)).otherwise(0L))
      pairs(s, d).groupBy("agency").agg(
        count(lit(1)).as("requests"),
        cnt(inWindow(30)).as("requests_30d"),
        cnt(inWindow(90)).as("requests_90d"),
        cnt(inWindow(365)).as("requests_365d"),
        cnt(valid).as("response_count"),
        dsumIf(valid).as("response_days_sum"),
        cnt(inWindow(30) && valid).as("response_count_30d"),
        dsumIf(inWindow(30) && valid).as("response_days_sum_30d"),
        cnt(inWindow(90) && valid).as("response_count_90d"),
        dsumIf(inWindow(90) && valid).as("response_days_sum_90d"),
        cnt(inWindow(365) && valid).as("response_count_365d"),
        dsumIf(inWindow(365) && valid).as("response_days_sum_365d"))
    }),

    // A3 — second-stage re-aggregation by canonical key (reference
    // accumulateAgencyMetrics re-sums SQL rows per slug in JS,
    // src/lib/db/agencies.ts:108-123). Here both phases are Spark hash
    // aggs; sums ride as DECIMAL between phases so the re-sum is exact
    // and partition-order-independent.
    graft.QueryDef("a3_slug_reagg", Some(
      """WITH raw AS (
        |  SELECT l_returnflag, l_linestatus, count(*) AS cnt,
        |    SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT CASE WHEN l_returnflag IN ('A','R') THEN 'returned' ELSE 'kept' END AS slug,
        |  CAST(SUM(cnt) AS BIGINT) AS cnt, CAST(SUM(qty) AS DOUBLE) AS qty
        |FROM raw GROUP BY 1""".stripMargin))((s, d) => {
      val raw = Tables.lineitem(s, d)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt"),
          sum(col("l_quantity").cast(DecimalType(18, 2))).as("qty"))
      raw.groupBy(when(col("l_returnflag").isin("A", "R"), "returned")
          .otherwise("kept").as("slug"))
        .agg(sum(col("cnt")).as("cnt"), sum(col("qty")).cast(DoubleType).as("qty"))
    }),

    // A4 — grouped counts over two columns + exact decimal sums (the
    // agency×resolution matrix, src/lib/db/agencies.ts:91-106, widened
    // with the TPC-H Q1 measure set).
    graft.QueryDef("a4_groupcounts", Some(
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,4))) AS DOUBLE) AS sum_disc_price
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin))((s, d) =>
      Tables.lineitem(s, d).groupBy("l_returnflag", "l_linestatus").agg(
        count(lit(1)).as("cnt"),
        Num.dsum(col("l_quantity")).as("sum_qty"),
        Num.dsum4(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price"))),

    // A20 — per-group MODE (modal order priority per status): the
    // deterministic argmax over grouped counts — (status, priority)
    // count-agg, then a row_number election over the O(groups) rollup
    // ordered (cnt DESC, priority ASC) so ties break lexicographically
    // on both engines. The election window runs over grouped rows only
    // (never the fact table), and the per-status share is one IEEE
    // division of exact counts.
    graft.QueryDef("a20_group_mode", Some(
      """WITH g AS (
        |  SELECT o_orderstatus, o_orderpriority,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM orders GROUP BY 1, 2),
        |t AS (SELECT o_orderstatus, CAST(SUM(cnt) AS BIGINT) AS total
        |      FROM g GROUP BY 1),
        |rk AS (
        |  SELECT o_orderstatus, o_orderpriority, cnt, row_number() OVER (
        |    PARTITION BY o_orderstatus
        |    ORDER BY cnt DESC, o_orderpriority ASC) AS rn
        |  FROM g)
        |SELECT r.o_orderstatus, r.o_orderpriority AS mode_priority,
        |  r.cnt, CAST(r.cnt AS DOUBLE) / t.total AS share
        |FROM rk r JOIN t ON t.o_orderstatus = r.o_orderstatus
        |WHERE r.rn = 1""".stripMargin))((s, d) => {
      val g = Tables.orders(s, d)
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("cnt"))
      val t = g.groupBy("o_orderstatus").agg(sum(col("cnt")).as("total"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("o_orderstatus")
        .orderBy(col("cnt").desc, col("o_orderpriority").asc)
      g.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
        .join(broadcast(t), Seq("o_orderstatus"))
        .select(col("o_orderstatus"),
          col("o_orderpriority").as("mode_priority"), col("cnt"),
          (col("cnt").cast(DoubleType) / col("total")).as("share"))
    }),

    // A5 — grouped counts over one column (resolution facets,
    // src/lib/db/entries.ts:189-204).
    graft.QueryDef("a5_group_counts", Some(
      "SELECT o_orderstatus, count(*) AS cnt FROM orders GROUP BY o_orderstatus"))((s, d) =>
      Tables.orders(s, d).groupBy("o_orderstatus").agg(count(lit(1)).as("cnt"))),

    // A6 — DISTINCT via GROUP BY (distinctResolutions,
    // src/lib/db/entries.ts:180-187).
    graft.QueryDef("a6_distinct", Some(
      "SELECT DISTINCT c_mktsegment FROM customer WHERE c_mktsegment IS NOT NULL"))((s, d) =>
      Tables.customer(s, d).where(col("c_mktsegment").isNotNull)
        .select("c_mktsegment").distinct()),

    // A7 — MAX / MIN / COALESCE(MAX, 0), including over an empty set
    // (the sync cursor `COALESCE(MAX(id), 0)`,
    // src/lib/db/entries.ts:147-150).
    graft.QueryDef("a7_max_min_coalesce", Some(
      """SELECT coalesce(max(o_orderkey), 0) AS latest_id,
        |  CAST(min(CAST(o_orderdate AS DATE)) AS VARCHAR) AS min_date,
        |  CAST(max(CAST(o_orderdate AS DATE)) AS VARCHAR) AS max_date,
        |  coalesce(max(CASE WHEN o_orderkey < 0 THEN o_orderkey END), 0) AS empty_max
        |FROM orders""".stripMargin))((s, d) =>
      Tables.orders(s, d).agg(
        coalesce(max(col("o_orderkey")), lit(0L)).as("latest_id"),
        min(col("o_orderdate").cast(DateType)).cast(StringType).as("min_date"),
        max(col("o_orderdate").cast(DateType)).cast(StringType).as("max_date"),
        coalesce(max(when(col("o_orderkey") < 0, col("o_orderkey"))), lit(0L)).as("empty_max"))),

    // A8 — timeline aggregate bucketed into 5 named classes per date
    // (reference groups by completion_date×resolution then buckets
    // client-side, src/lib/db/agencies.ts:227-250; here one conditional
    // pivot pass).
    graft.QueryDef("a8_timeline_bucket", Some(
      """SELECT CAST(CAST(l_shipdate AS DATE) AS VARCHAR) AS completion_date,
        |  CAST(SUM(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS granted,
        |  CAST(SUM(CASE WHEN l_returnflag = 'N' AND l_linestatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS granted_in_part,
        |  CAST(SUM(CASE WHEN l_returnflag = 'N' AND l_linestatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS exempted,
        |  CAST(SUM(CASE WHEN l_returnflag = 'R' AND l_quantity < 25 THEN 1 ELSE 0 END) AS BIGINT) AS rejected,
        |  CAST(SUM(CASE WHEN l_returnflag = 'R' AND l_quantity >= 25 THEN 1 ELSE 0 END) AS BIGINT) AS other
        |FROM lineitem
        |WHERE CAST(l_shipdate AS DATE) >= DATE '1998-06-01'
        |  AND CAST(l_shipdate AS DATE) <= DATE '1998-08-31'
        |GROUP BY 1""".stripMargin))((s, d) => {
      val dt = col("l_shipdate").cast(DateType)
      def b(c: Column) = sum(when(c, 1L).otherwise(0L))
      Tables.lineitem(s, d)
        .where(dt >= to_date(lit("1998-06-01")) && dt <= to_date(lit("1998-08-31")))
        .groupBy(dt.cast(StringType).as("completion_date")).agg(
          b(col("l_returnflag") === "A").as("granted"),
          b(col("l_returnflag") === "N" && col("l_linestatus") === "F").as("granted_in_part"),
          b(col("l_returnflag") === "N" && col("l_linestatus") === "O").as("exempted"),
          b(col("l_returnflag") === "R" && col("l_quantity") < 25).as("rejected"),
          b(col("l_returnflag") === "R" && col("l_quantity") >= 25).as("other"))
    }),

    // A9 — homeStats as ONE conditional agg() — the reference scans every
    // row into JS and loops (src/lib/db/entries.ts:206-251); that pattern
    // dies at scale, so the engine folds all 8 measures into a single
    // distributed aggregation with no collect.
    graft.QueryDef("a9_home_stats", Some {
      def w(n: Int) = inWindowSql(n)
      val okDays = s"$validSql AND $respDaysSql >= 0"
      s"""SELECT count(*) AS total_all,
         |  count(CASE WHEN ${w(30)} THEN 1 END) AS total_30d,
         |  count(CASE WHEN ${w(90)} THEN 1 END) AS total_90d,
         |  count(CASE WHEN ${w(365)} THEN 1 END) AS total_365d,
         |  coalesce(CAST(SUM(CASE WHEN $okDays THEN $respDaysSql END) AS DOUBLE)
         |    / nullif(count(CASE WHEN $okDays THEN 1 END), 0), 0.0) AS avg_all,
         |  coalesce(CAST(SUM(CASE WHEN $okDays AND ${w(30)} THEN $respDaysSql END) AS DOUBLE)
         |    / nullif(count(CASE WHEN $okDays AND ${w(30)} THEN 1 END), 0), 0.0) AS avg_30d,
         |  coalesce(CAST(SUM(CASE WHEN $okDays AND ${w(90)} THEN $respDaysSql END) AS DOUBLE)
         |    / nullif(count(CASE WHEN $okDays AND ${w(90)} THEN 1 END), 0), 0.0) AS avg_90d,
         |  coalesce(CAST(SUM(CASE WHEN $okDays AND ${w(365)} THEN $respDaysSql END) AS DOUBLE)
         |    / nullif(count(CASE WHEN $okDays AND ${w(365)} THEN 1 END), 0), 0.0) AS avg_365d
         |FROM ($pairsSql)""".stripMargin
    })((s, d) => {
      val okDays = valid && respDays >= 0
      def avgOf(cond: Column) =
        coalesce(
          sum(when(cond, respDays.cast(LongType))).cast(DoubleType) /
            nullif(count(when(cond, 1)), lit(0L)),
          lit(0.0))
      pairs(s, d).agg(
        count(lit(1)).as("total_all"),
        count(when(inWindow(30), 1)).as("total_30d"),
        count(when(inWindow(90), 1)).as("total_90d"),
        count(when(inWindow(365), 1)).as("total_365d"),
        avgOf(okDays).as("avg_all"),
        avgOf(okDays && inWindow(30)).as("avg_30d"),
        avgOf(okDays && inWindow(90)).as("avg_90d"),
        avgOf(okDays && inWindow(365)).as("avg_365d"))
    }),

    // A10 — avg-from-parts with 0-guard (reference avgFromParts,
    // src/lib/db/shared.ts:10-12): keep (sum, count) through aggregation,
    // divide at the end — exactly Spark's partial-avg shape.
    graft.QueryDef("a10_avg_from_parts", Some(
      s"""SELECT agency,
         |  CAST(SUM(CASE WHEN $validSql THEN $respDaysSql ELSE 0 END) AS BIGINT) AS response_days_sum,
         |  CAST(SUM(CASE WHEN $validSql THEN 1 ELSE 0 END) AS BIGINT) AS response_count,
         |  coalesce(CAST(SUM(CASE WHEN $validSql THEN $respDaysSql ELSE 0 END) AS DOUBLE)
         |    / nullif(SUM(CASE WHEN $validSql THEN 1 ELSE 0 END), 0), 0.0) AS avg_response_time
         |FROM ($pairsSql) GROUP BY agency""".stripMargin))((s, d) =>
      pairs(s, d).groupBy("agency").agg(
        sum(when(valid, respDays.cast(LongType)).otherwise(0L)).as("response_days_sum"),
        sum(when(valid, 1L).otherwise(0L)).as("response_count"))
        .select(col("agency"), col("response_days_sum"), col("response_count"),
          coalesce(col("response_days_sum").cast(DoubleType) /
            nullif(col("response_count"), lit(0L)), lit(0.0)).as("avg_response_time"))),

    // A11 — window-totals reduce + percentage breakdown (reference
    // computes per-window totals and % in the page,
    // src/pages/agencies/[slug].astro:43-84) via an unpartitioned
    // window sum — fine here because the grouped input is tiny; the
    // heavy reduction already happened in the groupBy.
    graft.QueryDef("a11_window_totals", Some(
      """SELECT l_returnflag, cnt, (100.0 * cnt) / total AS pct FROM (
        |  SELECT l_returnflag, count(*) AS cnt, SUM(count(*)) OVER () AS total
        |  FROM lineitem GROUP BY l_returnflag)""".stripMargin))((s, d) => {
      val grouped = Tables.lineitem(s, d).groupBy("l_returnflag")
        .agg(count(lit(1)).as("cnt"))
      grouped
        .withColumn("total", sum(col("cnt")).over(Window.partitionBy()))
        .select(col("l_returnflag"), col("cnt"),
          ((lit(100.0) * col("cnt")) / col("total")).as("pct"))
    }),

    // A12 — response-time percentiles per agency: the robust version of
    // the reference's averages (a mean hides the p99 a FOIA requester
    // actually experiences). Exact interpolated percentiles (Spark
    // `percentile` == DuckDB `quantile_cont`) over integer day counts —
    // deterministic. One hash-agg shuffle keyed by agency; at 100 TB the
    // drop-in is approx_percentile (t-digest, mergeable partials; the
    // a15 contract row) when exact ranks stop being worth a per-group
    // sort. The three quantiles go through ONE array-percentile call —
    // one value buffer and one per-group sort instead of three.
    graft.QueryDef("a12_response_percentiles", Some(
      s"""SELECT agency,
         |  quantile_cont($respDaysSql, 0.5) AS p50,
         |  quantile_cont($respDaysSql, 0.9) AS p90,
         |  quantile_cont($respDaysSql, 0.99) AS p99
         |FROM ($pairsSql)
         |WHERE $validSql
         |GROUP BY agency""".stripMargin))((s, d) =>
      pairs(s, d).where(valid)
        .groupBy("agency").agg(
          percentile(respDays, array(lit(0.5), lit(0.9), lit(0.99))).as("ps"))
        .select(col("agency"), col("ps")(0).as("p50"),
          col("ps")(1).as("p90"), col("ps")(2).as("p99"))),

    // A13 — 7-CALENDAR-day moving average of daily request volume per
    // agency: a RANGE frame over epoch-day numbers, so the window is the
    // trailing week of real time — a ROWS frame over sparse daily rows
    // would silently average the last 7 ACTIVE days, spanning arbitrary
    // calendar gaps. Partitions by agency (parallel across groups) over
    // the PRE-REDUCED daily counts — O(agencies × days) rows, not
    // O(rows); the division is explicit sum/count (active days in the
    // window) so both engines share the exact double shape.
    graft.QueryDef("a13_moving_avg", Some(
      s"""SELECT agency, CAST(request_date AS VARCHAR) AS day, cnt,
         |  CAST(CAST(SUM(cnt) OVER w AS BIGINT) AS DOUBLE) / COUNT(cnt) OVER w AS avg7
         |FROM (
         |  SELECT agency, request_date, date_diff('day', DATE '1970-01-01', request_date) AS day_num,
         |    count(*) AS cnt
         |  FROM ($pairsSql) WHERE request_date IS NOT NULL
         |  GROUP BY agency, request_date, day_num)
         |WINDOW w AS (PARTITION BY agency ORDER BY day_num
         |  RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)""".stripMargin))((s, d) => {
      val daily = pairs(s, d).where(col("request_date").isNotNull)
        .groupBy(col("agency"), col("request_date"),
          datediff(col("request_date"), lit("1970-01-01")).as("day_num"))
        .agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy("agency").orderBy("day_num")
        .rangeBetween(-6, Window.currentRow)
      daily.select(col("agency"),
        col("request_date").cast(StringType).as("day"), col("cnt"),
        (sum(col("cnt")).over(w).cast(DoubleType) /
          count(col("cnt")).over(w)).as("avg7"))
    }),

    // A14 — multi-granularity rollup: (agency, year) counts WITH the
    // per-agency subtotals and the grand total in ONE pass (Catalyst
    // expands the grouping sets into a single shuffle; the reference
    // would need three queries). NULL group markers are made explicit
    // strings so the rollup levels are unambiguous in the output.
    graft.QueryDef("a14_rollup", Some(
      s"""SELECT coalesce(agency, '<all>') AS agency,
         |  coalesce(CAST(yr AS VARCHAR), '<all>') AS yr,
         |  count(*) AS cnt
         |FROM (SELECT agency, EXTRACT(year FROM request_date) AS yr
         |      FROM ($pairsSql) WHERE request_date IS NOT NULL)
         |GROUP BY ROLLUP (agency, yr)""".stripMargin))((s, d) =>
      {
        // SQL form: the DSL rollup's Expand reuses the input attribute
        // ids, so any post-agg reference to the grouping columns trips
        // the ambiguous-self-join check; name resolution through a view
        // binds cleanly to the rollup output. The view name is unique
        // per call and dropped once the plan is resolved — a fixed
        // session-global name would race under concurrent plan builds
        // and leak into the catalog.
        val view = s"a14_base_${java.util.UUID.randomUUID().toString.replace("-", "")}"
        pairs(s, d).where(col("request_date").isNotNull)
          .select(col("agency"), year(col("request_date")).as("yr"))
          .createOrReplaceTempView(view)
        // Analysis inlines the view into the plan eagerly, so the view
        // can be dropped as soon as s.sql returns; the finally keeps a
        // failing analysis from leaking the UUID view into the catalog.
        try s.sql(
          s"""SELECT coalesce(agency, '<all>') AS agency,
             |  coalesce(CAST(yr AS STRING), '<all>') AS yr, count(*) AS cnt
             |FROM $view GROUP BY ROLLUP (agency, yr)""".stripMargin)
        finally { s.catalog.dropTempView(view); () }
      }),

    // A15 — approx-percentile, the 100 TB drop-in for a12: a mergeable
    // quantile sketch (partial+final agg, no per-group sort) replaces
    // exact `percentile` when full-rank materialization stops being worth
    // it. Approximate values can't hash-match an exact oracle, so this
    // gate row pins the sketch's rank-error CONTRACT instead: with
    // accuracy 10000 the returned value's rank is within 1e-4·n of the
    // target, hence it must lie between the exact interpolated quantiles
    // at q∓0.01 (two orders of magnitude of slack). Spark evaluates the
    // bound; the oracle asserts the invariant holds for every group — a
    // sketch drifting out of contract flips a boolean and fails the hash.
    graft.QueryDef("a15_approx_percentiles", Some(
      s"""SELECT agency, TRUE AS p50_ok, TRUE AS p90_ok, TRUE AS p99_ok
         |FROM ($pairsSql) WHERE $validSql GROUP BY agency""".stripMargin))((s, d) =>
      pairs(s, d).where(valid)
        .groupBy("agency").agg(
          percentile_approx(respDays,
            array(lit(0.5), lit(0.9), lit(0.99)), lit(10000)).as("ap"),
          percentile(respDays, array(lit(0.49), lit(0.51), lit(0.89),
            lit(0.91), lit(0.98), lit(1.0))).as("bounds"))
        .select(col("agency"),
          (col("ap")(0) >= col("bounds")(0) && col("ap")(0) <= col("bounds")(1)).as("p50_ok"),
          (col("ap")(1) >= col("bounds")(2) && col("ap")(1) <= col("bounds")(3)).as("p90_ok"),
          (col("ap")(2) >= col("bounds")(4) && col("ap")(2) <= col("bounds")(5)).as("p99_ok"))),

    // A16 — approx-distinct per group, the 100 TB drop-in for a6's exact
    // GROUP BY distinct: HLL++ merges partial sketches map-side in ONE
    // pass where COUNT(DISTINCT) expands then shuffles twice. Same
    // bounded-error gate shape as a15: HLL++ at rsd 0.02 stays within
    // ~3σ = 6% of the exact count with overwhelming probability, and the
    // sketch is deterministic for fixed input, so the bound is a stable
    // gate row, not a flaky statistical test.
    graft.QueryDef("a16_approx_distinct", Some(
      """SELECT o_orderpriority AS agency, TRUE AS distinct_ok
        |FROM orders GROUP BY o_orderpriority""".stripMargin))((s, d) =>
      // Both sides run over the pre-deduplicated (agency, custkey) frame:
      // HLL++ is duplicate-insensitive, so the estimate is identical, and
      // the mixed distinct/non-distinct agg's Expand (which doubles every
      // input row) never materializes — one distinct shuffle + one agg.
      Tables.orders(s, d)
        .select(col("o_orderpriority").as("agency"), col("o_custkey")).distinct()
        .groupBy("agency").agg(
          count(lit(1)).as("exact"),
          approx_count_distinct(col("o_custkey"), rsd = 0.02).as("approx"))
        .select(col("agency"),
          (abs(col("approx") - col("exact")).cast(DoubleType) <=
            col("exact").cast(DoubleType) * 0.06).as("distinct_ok"))),

    // A17 — deterministic mergeable quantile sketch (Munro-Paterson
    // merge-and-prune, functions/QuantileSketch.scala) beside the exact
    // a12 and the probabilistic a15: bounded O(k log(n/k)) state per
    // buffer with a WORST-CASE rank bound that holds for ANY merge order
    // and partitioning — which is exactly what makes the contract row
    // below deterministic. Gate: each returned quantile value (always a
    // real input element) is exact-ranked in a second single-pass agg;
    // the target rank ceil(q*n) must fall inside [lt-bound, le+bound]
    // with the analytic bound the oracle recomputes from n and k alone
    // (integer bit-length arithmetic, no floating log on either side).
    // A18 — EXACT distributed percentiles via the HISTOGRAM method: the
    // third leg of the quantile family (a12/a15 = approx drop-ins,
    // a17 = deterministic sketch bounds, a18 = exact with NO global
    // sort). percentile() over a full column ships every value into one
    // aggregation buffer; here the corpus reduces to a (value, count)
    // histogram in ONE hash agg — the price key is bounded by the VALUE
    // RANGE (integer cents), not the row count, so at 100 TB the
    // histogram stays O(distinct prices) — then a cumulative window
    // over histogram rows only and a 3-row
    // broadcast rank probe pick each percentile as the smallest value
    // whose cumulative count reaches ceil(p·n) (quantile_disc law,
    // ranks in integer space). The oracle derives the same values
    // INDEPENDENTLY by sorting and indexing row_number = rank — the
    // histogram formulation proven against the order-statistics
    // definition.
    graft.QueryDef("a18_exact_percentiles", Some(
      """WITH t AS (
        |  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS c
        |  FROM lineitem),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM t),
        |q AS (SELECT unnest([0.5, 0.9, 0.99]) AS p),
        |ranked AS (SELECT c, row_number() OVER (ORDER BY c) AS rn FROM t)
        |SELECT q.p, CAST(ceil(q.p * nn.n) AS BIGINT) AS rank,
        |  r.c AS value_cents,
        |  CAST(r.c AS DOUBLE) / 100 AS value
        |FROM q, nn
        |JOIN ranked r ON r.rn = CAST(ceil(q.p * nn.n) AS BIGINT)""".stripMargin))(
      (s, d) => {
      val t = Tables.lineitem(s, d)
        .select(round(col("l_extendedprice") * 100).cast(LongType).as("c"))
      val hist = t.groupBy("c").agg(count(lit(1)).as("cnt"))
      val wc = Window.orderBy("c")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = hist.withColumn("cum", sum(col("cnt")).over(wc))
      // The "second corpus scan" here is deliberate: count(*) over a
      // parquet scan is a metadata-cheap column-less pass, and deriving
      // n from the histogram instead (Σcnt ≡ count(*)) measured 1.11×
      // SLOWER (round-20 A/B) — it serializes the rank broadcast behind
      // the expensive hash-agg exchange for no byte saved.
      val n = t.agg(count(lit(1)).as("n"))
      val ranks = s.range(1)
        .select(explode(array(lit(0.5), lit(0.9), lit(0.99))).as("p"))
        .join(broadcast(n))
        .withColumn("rank", ceil(col("p") * col("n")).cast(LongType))
        .select("p", "rank")
      cum.join(broadcast(ranks), col("cum") >= col("rank"))
        .groupBy("p", "rank").agg(min(col("c")).as("value_cents"))
        .select(col("p"), col("rank"), col("value_cents"),
          (col("value_cents").cast(DoubleType) / 100).as("value"))
    }),

    graft.QueryDef("a17_quantile_sketch", Some(
      """WITH c AS (SELECT CAST(count(*) AS BIGINT) AS n FROM lineitem),
        |b AS (SELECT n, CAST(
        |    (greatest(0, length(bin(n // 256)) - 1) * n) // 512
        |    + (2 * n) // 256 + 1 AS BIGINT) AS bound FROM c)
        |SELECT CAST(t.q AS DOUBLE) AS q, b.n, b.bound, TRUE AS within
        |FROM b, (VALUES (0.1), (0.25), (0.5), (0.75), (0.9), (0.99)) t(q)""".stripMargin))((s, d) => {
      import s.implicits._
      import graft.functions.QuantileSketch
      val k = 256
      val qs = Seq(0.1, 0.25, 0.5, 0.75, 0.9, 0.99)
      val vals = Tables.lineitem(s, d)
        .select(col("l_extendedprice").cast(DoubleType).as("v"))
      val sk = vals.as[Double]
        .select(new graft.functions.QuantileSketchAggregator(k).toColumn).head()
      val n = QuantileSketch.mass(sk) // compaction preserves mass exactly
      val bound = QuantileSketch.contractBound(n, k)
      val qv = qs.map(q => (q, QuantileSketch.quantile(sk, q)))
      val rankCols = qv.zipWithIndex.flatMap { case ((_, v), i) =>
        Seq(sum(when(col("v") < v, 1L).otherwise(0L)).as(s"lt$i"),
          sum(when(col("v") <= v, 1L).otherwise(0L)).as(s"le$i"))
      }
      val ranks = vals.agg(rankCols.head, rankCols.tail: _*).head()
      qv.zipWithIndex.map { case ((q, _), i) =>
        val target = math.max(1L, math.ceil(q * n).toLong)
        // interval containment, not rank distance: v is within `bound`
        // of being a correct q-quantile even when a tie block spans the
        // target (where both strict ranks sit far from it)
        val within = ranks.getLong(2 * i) <= target + bound &&
          ranks.getLong(2 * i + 1) >= target - bound
        (q, n, bound, within)
      }.toDF("q", "n", "bound", "within")
    }),

    // U2 — anti-join set difference: customers with no URGENT orders
    // (the reference's only set op is union-dedup; except/anti is the
    // other half). LeftAnti is the shuffle-safe plan — a NOT IN subquery
    // with nullable keys would degenerate to a nested loop.
    graft.QueryDef("u2_anti_except", Some(
      """SELECT c.c_custkey, c.c_name FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')""".stripMargin))((s, d) =>
      Tables.customer(s, d).select(col("c_custkey"), col("c_name"))
        .join(Tables.orders(s, d)
          .where(col("o_orderpriority") === "1-URGENT").select(col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left_anti")),

    // U3 — INTERSECT (distinct) completes the set-op family: customers
    // that are BOTH in the BUILDING segment AND hold urgent orders.
    // Spark plans INTERSECT as a left-semi + aggregate — dedup + shuffle
    // on the key, no row explosion.
    graft.QueryDef("u3_intersect", Some(
      """SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |INTERSECT
        |SELECT o_custkey AS c_custkey FROM orders WHERE o_orderpriority = '1-URGENT'""".stripMargin))((s, d) =>
      Tables.customer(s, d).where(col("c_mktsegment") === "BUILDING")
        .select("c_custkey")
        .intersect(Tables.orders(s, d)
          .where(col("o_orderpriority") === "1-URGENT")
          .select(col("o_custkey").as("c_custkey")))),

    // A22 — GROUPED TREND REGRESSION: per-agency least-squares fit of
    // monthly order volume on a month index — the "is this segment
    // growing or shrinking, and how noisily" primitive. One rollup shuffle to
    // O(agencies × months), then per-group closed-form slope/intercept/
    // r² from EXACT BIGINT moment sums (x is an integer month index,
    // y an integer count — no ln quantization even needed; the e23
    // discipline with all-integer inputs). The group frame is tiny at
    // any scale, so every double is one fixed-shape expression over
    // exact ints — bit-identical across engines and partitionings.
    graft.QueryDef("a22_trend_regression", Some(
      """WITH m AS (
        |  SELECT o_orderpriority AS agency,
        |    CAST((year(CAST(o_orderdate AS DATE)) - 1992) * 12
        |      + month(CAST(o_orderdate AS DATE)) - 1 AS BIGINT) AS x,
        |    CAST(count(*) AS BIGINT) AS y
        |  FROM orders GROUP BY 1, 2),
        |s AS (
        |  SELECT agency, CAST(count(*) AS BIGINT) AS n_months,
        |    SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy,
        |    SUM(x * x) AS sxx, SUM(y * y) AS syy
        |  FROM m GROUP BY 1)
        |SELECT agency, n_months,
        |  round(CAST(n_months * sxy - sx * sy AS DOUBLE)
        |    / CAST(n_months * sxx - sx * sx AS DOUBLE) * 1000000) / 1000000.0 AS slope,
        |  round((CAST(sy AS DOUBLE)
        |    - CAST(n_months * sxy - sx * sy AS DOUBLE)
        |      / CAST(n_months * sxx - sx * sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |    / n_months * 1000000) / 1000000.0 AS intercept,
        |  round(CAST(n_months * sxy - sx * sy AS DOUBLE)
        |    * CAST(n_months * sxy - sx * sy AS DOUBLE)
        |    / (CAST(n_months * sxx - sx * sx AS DOUBLE)
        |       * CAST(n_months * syy - sy * sy AS DOUBLE)) * 1000000) / 1000000.0 AS r2
        |FROM s
        |WHERE n_months >= 2 AND n_months * sxx - sx * sx > 0
        |  AND n_months * syy - sy * sy > 0""".stripMargin))((s, d) => {
      val dt = col("o_orderdate").cast(DateType)
      val monthly = Tables.orders(s, d)
        .groupBy(col("o_orderpriority").as("agency"),
          ((year(dt) - 1992) * 12 + month(dt) - 1).cast(LongType).as("x"))
        .agg(count(lit(1)).as("y"))
      val m = monthly.select(col("agency"), col("x"), col("y"))
      val st = m.groupBy("agency").agg(
        count(lit(1)).as("n_months"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      val dxx = (col("n_months") * col("sxx") - col("sx") * col("sx")).cast(DoubleType)
      val dyy = (col("n_months") * col("syy") - col("sy") * col("sy")).cast(DoubleType)
      val dxy = (col("n_months") * col("sxy") - col("sx") * col("sy")).cast(DoubleType)
      st.where(col("n_months") >= 2 &&
          col("n_months") * col("sxx") - col("sx") * col("sx") > 0 &&
          col("n_months") * col("syy") - col("sy") * col("sy") > 0)
        .select(col("agency"), col("n_months"),
          (round(dxy / dxx * 1000000) / 1000000.0).as("slope"),
          (round((col("sy").cast(DoubleType) - dxy / dxx * col("sx").cast(DoubleType))
            / col("n_months") * 1000000) / 1000000.0).as("intercept"),
          (round(dxy * dxy / (dxx * dyy) * 1000000) / 1000000.0).as("r2"))
    })
  )
}
